"""Snapshot-versioned parquet tables: time travel, optimistic commits,
retention — the missing piece of the MERGE/DELETE/OPTIMIZE story.

A plain parquet directory rewritten in place (MERGE, DELETE, compact)
keeps NO history: a bad upsert is unrecoverable and concurrent writers
race on the directory rename. This module is the public
lakehouse-table-format design (Iceberg/Delta-style, re-implemented from
first principles — no external table format ships in this container)
reduced to its load-bearing core:

- **Immutable data files** under ``<table>/data/`` — a commit only ever
  ADDS files; logical deletes/updates drop file REFERENCES, never bytes,
  so every prior version stays readable.
- **A manifest per snapshot** under ``<table>/_manifests/vNNNNNNNN.json``
  — the version IS its file list. Reading version N is
  ``spark.read.parquet(*manifest.files)``: an explicit-file parquet scan,
  so predicate pushdown / column pruning / row-group skipping all still
  apply (asserted in tests).
- **Atomic commit = O_EXCL manifest create.** Two writers committing
  from the same parent both target ``v(N+1).json``; the filesystem
  admits exactly one, the loser gets :class:`ConcurrentWriteError` and
  must re-read and retry (optimistic concurrency, the Iceberg commit
  protocol). Data files land BEFORE the manifest, so a crash mid-commit
  leaves only unreferenced orphans — invisible to readers, reclaimed by
  :func:`vacuum`.
- **Retention**: :func:`vacuum` drops expired manifests and deletes
  data files no retained version references (reference-counted, never
  by age of the file itself — a file written at v1 and still referenced
  at v100 survives).

At 100 TB the manifest would hold per-file column min/max for file
skipping and live on object storage with a conditional-PUT commit; the
protocol here is byte-for-byte the same shape, scoped to what local
parquet can express.

Reference parity note: the reference app has no storage surface at all
(its sink is a Kafka topic, svolga/hw-kafka-streams
KafkaStreamApp.java:169); this is a north-star lakehouse extension.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

_MANIFESTS = "_manifests"
_DATA = "data"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the same version first; re-read the
    table and retry the commit against the new head."""


class NoSuchVersionError(ValueError):
    """The requested version does not exist (never written, or expired
    by :func:`vacuum`)."""


def _manifest_path(table: str, version: int) -> str:
    return os.path.join(table, _MANIFESTS, f"v{version:08d}.json")


def _list_versions(table: str) -> list[int]:
    pat = os.path.join(table, _MANIFESTS, "v*.json")
    return sorted(int(os.path.basename(p)[1:-5]) for p in glob.glob(pat))


def current_version(table: str) -> int:
    """Latest committed version (0 if the table does not exist yet).

    The newest manifest IS the head — there is no mutable pointer file
    to desync: a manifest is only ever created after its data files are
    fully written, so the max manifest number is always a complete,
    readable snapshot even if the committing writer crashed right after
    the O_EXCL create.
    """
    vs = _list_versions(table)
    return vs[-1] if vs else 0


def _read_manifest(table: str, version: int) -> dict:
    path = _manifest_path(table, version)
    if not os.path.exists(path):
        have = _list_versions(table)
        raise NoSuchVersionError(
            f"version {version} not found in {table} (have: {have} — "
            "earlier versions may have been vacuumed)"
        )
    with open(path) as f:
        return json.load(f)


def _write_data_files(
    df: DataFrame, table: str, version: int, target_files: int | None = None
) -> list[str]:
    """Materialize ``df`` as immutable parquet files under data/ and
    return their table-relative paths. Files are written to a staging
    dir then renamed in — named by version + uuid so no two commits can
    collide and no file is ever overwritten. ``target_files`` coalesces
    the write so a commit's file count tracks its DATA size instead of
    the input's partitioning (a 32-partition filter producing 15k rows
    must not mint 32 near-empty files — the small-file problem at its
    source)."""
    if target_files is not None:
        df = df.coalesce(target_files)
    stage = os.path.join(table, _DATA, f"_stage-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(stage)
    rels = []
    for i, part in enumerate(sorted(glob.glob(os.path.join(stage, "part-*")))):
        rel = os.path.join(
            _DATA, f"v{version:08d}-{uuid.uuid4().hex[:8]}-{i:05d}.parquet"
        )
        os.rename(part, os.path.join(table, rel))
        rels.append(rel)
    shutil.rmtree(stage)
    return rels


def _commit(
    table: str,
    parent: int,
    files: list[str],
    operation: str,
    schema: dict | None = None,
) -> int:
    """Atomically publish ``files`` as version ``parent + 1``.

    The O_EXCL create is the whole concurrency story: exactly one
    writer per version number succeeds; everyone else must rebase.
    ``schema`` (StructType jsonValue) is recorded so readers get a
    version-pinned schema with ZERO footer reads at plan time — and so
    appends can EVOLVE the schema (union of parent + increment fields;
    old files null-fill added columns at read).
    """
    version = parent + 1
    os.makedirs(os.path.join(table, _MANIFESTS), exist_ok=True)
    manifest = {
        "version": version,
        "parent": parent,
        "operation": operation,
        "files": files,
        "committed_at": time.time(),
    }
    if schema is not None:
        manifest["schema"] = schema
    path = _manifest_path(table, version)
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError as exc:
        raise ConcurrentWriteError(
            f"version {version} of {table} was committed by another "
            "writer; re-read the table and retry"
        ) from exc
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    return version


def _evolve_schema(parent: dict | None, new: dict) -> dict:
    """Union of parent and increment fields, parent order first. A
    field present in both with a DIFFERENT type is a conflict — raise
    rather than silently coerce (the reader cannot null-fill its way
    out of a type change)."""
    if parent is None:
        return new
    by_name = {f["name"]: f for f in parent["fields"]}
    out = list(parent["fields"])
    for f in new["fields"]:
        old = by_name.get(f["name"])
        if old is None:
            out.append(f)
        elif old["type"] != f["type"]:
            raise ValueError(
                f"schema conflict on column {f['name']!r}: "
                f"{old['type']} vs {f['type']} — evolve by adding "
                "columns, not changing types"
            )
    return {**parent, "fields": out}


def create_table(
    spark: SparkSession, table: str, df: DataFrame,
    target_files: int | None = None,
) -> int:
    """Create a versioned table at ``table`` with ``df`` as version 1."""
    if _list_versions(table):
        raise ValueError(f"table already exists at {table}")
    os.makedirs(os.path.join(table, _DATA), exist_ok=True)
    files = _write_data_files(df, table, 1, target_files)
    return _commit(table, 0, files, "create", df.schema.jsonValue())


def commit_append(
    spark: SparkSession, table: str, df: DataFrame,
    target_files: int | None = None,
) -> int:
    """New version = parent's files + ``df``'s new files (no rewrite —
    the O(increment) ingest path)."""
    parent = current_version(table)
    pm = _read_manifest(table, parent) if parent else {}
    prev = pm.get("files", [])
    files = _write_data_files(df, table, parent + 1, target_files)
    schema = _evolve_schema(pm.get("schema"), df.schema.jsonValue())
    return _commit(table, parent, prev + files, "append", schema)


def commit_overwrite(
    spark: SparkSession, table: str, df: DataFrame,
    target_files: int | None = None,
) -> int:
    """New version referencing only ``df``'s files; prior versions keep
    their own references (time travel intact)."""
    parent = current_version(table)
    files = _write_data_files(df, table, parent + 1, target_files)
    return _commit(table, parent, files, "overwrite", df.schema.jsonValue())


def read_snapshot(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """Read version ``version`` (default: head) as an explicit-file
    parquet scan — pushdown and pruning behave exactly as on a plain
    directory read."""
    if version is None:
        version = current_version(table)
    if version == 0:
        raise NoSuchVersionError(f"table {table} has no committed versions")
    m = _read_manifest(table, version)
    reader = spark.read
    if "schema" in m:
        # version-pinned schema from the manifest: zero footer reads at
        # plan time, and files predating an added column null-fill it
        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(m["schema"]))
    if not m["files"]:
        return reader.parquet(table + "/" + _DATA).limit(0)
    return reader.parquet(*[os.path.join(table, f) for f in m["files"]])


def merge_upsert_snapshot(
    spark: SparkSession, table: str, updates: DataFrame, keys: list[str],
    target_files: int | None = None,
) -> int:
    """Versioned MERGE: rows matching ``updates``' keys are replaced,
    new keys appended (LEFT ANTI ⊎ updates); the result lands as a NEW
    snapshot, so the pre-merge table remains readable at version N−1."""
    base = read_snapshot(spark, table)
    keep = base.join(updates.select(*keys).distinct(), keys, "left_anti")
    parent = current_version(table)
    out = keep.unionByName(updates)
    files = _write_data_files(out, table, parent + 1, target_files)
    return _commit(table, parent, files, "merge_upsert", out.schema.jsonValue())


def delete_rows_snapshot(
    spark: SparkSession, table: str, keys_df: DataFrame, keys: list[str],
    target_files: int | None = None,
) -> int:
    """Versioned DELETE (anti-join rewrite as a new snapshot). The
    deleted rows stay readable at prior versions until :func:`vacuum`
    expires them — which is exactly what a GDPR pipeline must then do:
    ``vacuum(table, keep_last=1)`` after the delete commit."""
    base = read_snapshot(spark, table)
    keep = base.join(keys_df.select(*keys).distinct(), keys, "left_anti")
    parent = current_version(table)
    files = _write_data_files(keep, table, parent + 1, target_files)
    return _commit(table, parent, files, "delete", keep.schema.jsonValue())


def vacuum(table: str, keep_last: int = 2) -> dict:
    """Expire all but the newest ``keep_last`` versions and delete data
    files no retained version references.

    Reference-counted, not age-based: the set of files referenced by
    retained manifests is computed first, and only files OUTSIDE that
    set are unlinked — a file added at v1 and still referenced by the
    head is immune no matter how old. Orphans from crashed commits
    (data written, manifest never created) are also reclaimed here.
    Returns ``{"expired_versions": [...], "deleted_files": n}``.
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = _list_versions(table)
    keep_versions = versions[-keep_last:]
    drop_versions = [v for v in versions if v not in keep_versions]
    referenced: set[str] = set()
    for v in keep_versions:
        referenced.update(_read_manifest(table, v)["files"])
    deleted = 0
    for path in glob.glob(os.path.join(table, _DATA, "*.parquet")):
        rel = os.path.join(_DATA, os.path.basename(path))
        if rel not in referenced:
            os.remove(path)
            deleted += 1
    # stale staging dirs from crashed writers
    for stage in glob.glob(os.path.join(table, _DATA, "_stage-*")):
        shutil.rmtree(stage, ignore_errors=True)
        deleted += 1
    for v in drop_versions:
        os.remove(_manifest_path(table, v))
    return {"expired_versions": drop_versions, "deleted_files": deleted}


def snapshot_diff(
    spark: SparkSession,
    table: str,
    v_from: int,
    v_to: int,
    keys: list[str],
) -> DataFrame:
    """CDC between two versions: per key, ``insert`` (new in v_to),
    ``delete`` (gone from v_from), or ``update`` (non-key columns
    changed) — the incremental-read that lets a downstream consumer
    process ONLY what a commit changed instead of re-reading the table.

    Manifest-powered pruning: files referenced by BOTH versions hold
    bitwise-identical rows, so only the files each side holds
    EXCLUSIVELY are read — diff cost is proportional to the files a
    commit touched, not to table size (the reason append-heavy tables
    diff in O(increment) at 100 TB). Precondition: keys are unique
    within a version (the MERGE/DELETE writers here maintain that).

    The change test hashes the sorted non-key columns (md5 of a JSON
    struct) on each side of a full-outer key join; both hashes come
    from the same engine, so representation quirks cancel.
    """
    ma = set(_read_manifest(table, v_from)["files"])
    mb = set(_read_manifest(table, v_to)["files"])
    only_a = sorted(ma - mb)
    only_b = sorted(mb - ma)
    schema_src = read_snapshot(spark, table, v_to)

    vschema = _read_manifest(table, v_to).get("schema")

    def _side(files: list[str]) -> DataFrame:
        if not files:
            return schema_src.limit(0)
        reader = spark.read
        if vschema is not None:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(vschema))
        return reader.parquet(*[os.path.join(table, f) for f in files])

    a, b = _side(only_a), _side(only_b)
    non_keys = sorted(c for c in schema_src.columns if c not in keys)
    from pyspark.sql import functions as F

    def _hashed(df: DataFrame, out: str) -> DataFrame:
        return df.select(
            *keys,
            F.md5(
                F.to_json(F.struct(*[F.col(c) for c in non_keys]))
            ).alias(out),
        )

    j = _hashed(a, "_ha").join(_hashed(b, "_hb"), keys, "full_outer")
    change = (
        F.when(F.col("_ha").isNull(), "insert")
        .when(F.col("_hb").isNull(), "delete")
        .when(F.col("_ha") != F.col("_hb"), "update")
        .otherwise("unchanged")
    )
    return (
        j.select(*keys, change.alias("change_type"))
        .filter(F.col("change_type") != "unchanged")
    )


# ------------------------------------------------------- file statistics
# Per-file column min/max recorded in the manifest at commit time (read
# straight from the parquet footers pyarrow already wrote). At 100 TB
# the point is PLANNING-time file skipping: a selective read consults
# the manifest and never even opens the footers of files whose range
# can't match — the Iceberg/Delta data-skipping design. Spark still
# applies the real pushed-down filter inside the surviving files, so
# skipping is a pure prune, never a correctness dependency.


def _file_column_stats(path: str) -> dict:
    """{column: [min, max]} over all row groups of one parquet file,
    for primitive orderable types; columns with missing/unusable stats
    are omitted (skipping then simply keeps the file)."""
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(path).metadata
    stats: dict[str, list] = {}
    for rg in range(meta.num_row_groups):
        for ci in range(meta.num_columns):
            col = meta.row_group(rg).column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                continue  # undecoded physical values — skip, stay safe
            if hasattr(mn, "isoformat"):
                mn, mx = mn.isoformat(), mx.isoformat()
            cur = stats.get(name)
            if cur is None:
                stats[name] = [mn, mx]
            else:
                cur[0] = min(cur[0], mn)
                cur[1] = max(cur[1], mx)
    return stats


def attach_file_stats(table: str, version: int | None = None) -> int:
    """Record per-file column min/max into version ``version``'s
    manifest (idempotent; returns the number of files profiled). Call
    after a commit to enable :func:`read_snapshot_pruned` on that
    version; safe to backfill any existing version. Extending a
    manifest with stats never changes its file list, so the atomic
    in-place rewrite cannot affect readers' correctness."""
    if version is None:
        version = current_version(table)
    path = _manifest_path(table, version)
    m = _read_manifest(table, version)
    if "file_stats" in m:
        return len(m["file_stats"])
    m["file_stats"] = {
        f: _file_column_stats(os.path.join(table, f)) for f in m["files"]
    }
    m["file_rows"] = {
        f: _file_row_count(os.path.join(table, f)) for f in m["files"]
    }
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(m, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)  # atomic on POSIX; content-extend only
    return len(m["file_stats"])


def read_snapshot_pruned(
    spark: SparkSession,
    table: str,
    column: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[DataFrame, dict]:
    """Read only the files whose manifest [min, max] for ``column``
    intersects [lo, hi], then apply the real ``lo <= column <= hi``
    filter (pushed down into the surviving scans). Returns
    ``(df, {"files_total": n, "files_read": m})`` so callers — and
    tests — can see the prune. Files without recorded stats for the
    column are conservatively kept.
    """
    from pyspark.sql import functions as F

    if version is None:
        version = current_version(table)
    m = _read_manifest(table, version)
    stats = m.get("file_stats", {})
    keep = []
    for f in m["files"]:
        rng = stats.get(f, {}).get(column)
        if rng is None or not (rng[1] < lo or rng[0] > hi):
            keep.append(f)
    if keep:
        reader = spark.read
        if "schema" in m:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(m["schema"]))
        df = reader.parquet(*[os.path.join(table, f) for f in keep])
    else:
        df = read_snapshot(spark, table, version).limit(0)
    df = df.filter((F.col(column) >= F.lit(lo)) & (F.col(column) <= F.lit(hi)))
    return df, {"files_total": len(m["files"]), "files_read": len(keep)}


def _file_row_count(path: str) -> int:
    """Exact row count from the parquet footer (never reads data pages)."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def snapshot_stats_only(
    table: str, column: str, version: int | None = None
) -> dict:
    """Answer ``count(*) / min(col) / max(col)`` from the MANIFEST
    alone — zero data files opened, zero Spark jobs.

    The Iceberg/Delta "stats-only query" planning shortcut: footer row
    counts are exact, and per-file [min, max] over files covers the
    table, so ``min of mins / max of maxes / sum of counts`` equal the
    full-scan answers whenever every file carries stats for the column
    (parquet min/max are exact for primitive numeric types; a file
    missing stats makes min/max unanswerable and this raises rather
    than silently approximating). At 100 TB this is the difference
    between a metadata lookup and a cluster-wide scan for the
    dashboards that only want the table's row count and value range.

    Returns {"n_rows", "min", "max", "n_files"}.
    """
    if version is None:
        version = current_version(table)
    m = _read_manifest(table, version)
    rows = m.get("file_rows")
    stats = m.get("file_stats")
    if rows is None or stats is None:
        raise ValueError(
            f"version {version} has no file stats: run attach_file_stats"
        )
    missing = [f for f in m["files"] if column not in stats.get(f, {})]
    if missing:
        raise ValueError(
            f"column {column!r} lacks min/max stats in {len(missing)} "
            "file(s); stats-only answer would be wrong"
        )
    mins = [stats[f][column][0] for f in m["files"]]
    maxes = [stats[f][column][1] for f in m["files"]]
    return {
        "n_rows": sum(rows[f] for f in m["files"]),
        "min": min(mins) if mins else None,
        "max": max(maxes) if maxes else None,
        "n_files": len(m["files"]),
    }
