"""Topic administration — O9/O10 parity (the reference's AdminClient
usage: topic creation with partition counts in KafkaStreamApp
createTopics, and the delete-everything reset in RemoveAll.removeAll).

:class:`FileTopicAdmin` is the broker-free twin used by the file
topology (`run_file_topology*`). A topic is a directory under the
admin root carrying a ``_topic_meta.json`` manifest (partitions +
config, like Kafka's topic metadata); producers append parquet files;
``delete_all`` resets the whole namespace exactly like the
reference's startup wipe. ``partition_for`` reproduces Kafka's
default partitioner shape (hash(key) % partitions) so a keyed
producer can lay files out per-partition — at 100 TB/day the
partition count is the parallelism dial, same as a real topic.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import zlib

_META = "_topic_meta.json"


class TopicExistsError(RuntimeError):
    pass


class UnknownTopicError(RuntimeError):
    pass


class FileTopicAdmin:
    """Directory-backed topic namespace with Kafka-like admin verbs."""

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, name: str) -> str:
        if not name or "/" in name or name.startswith("_"):
            raise ValueError(f"invalid topic name: {name!r}")
        return os.path.join(self.root, name)

    def create_topic(
        self,
        name: str,
        partitions: int = 1,
        config: dict | None = None,
        exist_ok: bool = False,
    ) -> str:
        """Reference: KafkaStreamApp.createTopics (NewTopic(name,
        partitions, replication)). Replication is meaningless on a
        filesystem; partitions are recorded and honored by
        :meth:`partition_for`."""
        if partitions < 1:
            raise ValueError("partitions must be >= 1")
        d = self._dir(name)
        meta = os.path.join(d, _META)
        if os.path.exists(meta):
            if exist_ok:
                return d
            raise TopicExistsError(name)
        os.makedirs(d, exist_ok=True)
        tmp = meta + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "name": name,
                    "partitions": partitions,
                    "config": config or {},
                    "created_at": time.time(),
                },
                f,
            )
        os.replace(tmp, meta)  # atomic: a topic either exists fully or not
        return d

    def topic_meta(self, name: str) -> dict:
        meta = os.path.join(self._dir(name), _META)
        if not os.path.exists(meta):
            raise UnknownTopicError(name)
        with open(meta) as f:
            return json.load(f)

    def list_topics(self) -> list[str]:
        out = []
        for entry in sorted(os.listdir(self.root)):
            if os.path.exists(os.path.join(self.root, entry, _META)):
                out.append(entry)
        return out

    def delete_topic(self, name: str) -> None:
        d = self._dir(name)
        if not os.path.exists(os.path.join(d, _META)):
            raise UnknownTopicError(name)
        shutil.rmtree(d)

    def delete_all(self) -> int:
        """Reference: RemoveAll.removeAll — wipe every topic so the app
        starts from a clean namespace. Returns the number deleted."""
        n = 0
        for name in self.list_topics():
            self.delete_topic(name)
            n += 1
        return n

    def partition_for(self, name: str, key: str) -> int:
        """Kafka default-partitioner shape: stable key hash modulo the
        topic's partition count (crc32 here — deterministic across
        processes, unlike Python's seeded hash())."""
        parts = self.topic_meta(name)["partitions"]
        return zlib.crc32(key.encode("utf-8")) % parts

    def partition_dir(self, name: str, key: str) -> str:
        """Directory a keyed producer should append to — one
        subdirectory per partition, so downstream readers can scale
        consumption by partition exactly like a consumer group."""
        p = self.partition_for(name, key)
        d = os.path.join(self._dir(name), f"partition={p}")
        os.makedirs(d, exist_ok=True)
        return d
