"""censor-drain: a pinned backlog through the reference topology
(closed loop).

The backlog is pre-generated JSON frame files of ``ROWS_PER_FILE``
messages each, released ``FILES_PER_BATCH`` at a time so a batch has a
task per core. Static dims: ``INITIAL_BLOCKED`` blocked pairs and a
``WORDS``-word dictionary. The stream reads ``FILES_PER_BATCH`` files per
trigger and runs ``serde.decode_messages`` -> ``pipeline.filtered_messages`` ->
``serde.encode_messages`` -> parquet sink. The next files are moved into
the input directory when the previous batch's sink write returns, so
each batch starts only after the previous one finished, every batch is
the same size, and the stream is idle when it is stopped.

A batch's latency runs from the previous batch's sink commit (when its
files were released) to its own sink commit. The first ``WARMUP_BATCHES``
are warm-up; batches then run until ``seconds`` have passed.

The traced run also drains one batch of backlog files through each
prefix of the public calls (scan, +decode, +block, +censor, +encode) to
split the per-row time between the layers by difference, and times the
censor prefix with a ``BIG_WORDS``-word dictionary as well.

Why ``WORDS`` is 100: with 200 words a batch took 3.0 to 4.1 s in
different processes of the same seed (quartile spread 0.19 over five
seeds) against 1.4 s and 0.02 with 100 words; the fold of 200 regex
passes falls off a JIT cliff. ``censor.censor_200w_ms`` keeps that cost
in the per-layer numbers.
"""

from __future__ import annotations

import os
import shutil
import threading
from collections import Counter

from perfbench import harness as H
from perfbench import messages as M

ROWS_PER_FILE = 2000
FILES_PER_BATCH = 4
DISTINCT_FILES = 12
WARMUP_BATCHES = 3
#: batches released at most; a run that drains them all stops early
MAX_BATCHES = 60
INITIAL_BLOCKED = 250
WORDS = 100
BIG_WORDS = 200
ABLATION_REPS = 3


def run(spark, seed: int, seconds: int, tracer, work: str, t_process: float) -> dict:
    from hw_kafka_streams_spark.plans.inspect import physical_plan
    from hw_kafka_streams_spark.streaming import pipeline, serde

    dirs = {k: os.path.join(work, k) for k in ("stage", "in", "blocked", "sink", "ckpt")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)

    gen = M.MessageGen(seed)
    payloads = [gen.messages(ROWS_PER_FILE) for _ in range(DISTINCT_FILES)]
    for i, msgs in enumerate(payloads):
        M.write_parquet(M.MessageGen.frames(msgs), os.path.join(dirs["stage"], f"p{i}.parquet"))
    blocked_rows = gen.initial_blocked(INITIAL_BLOCKED, set())
    M.write_parquet(M.control_table(blocked_rows), os.path.join(dirs["blocked"], "b.parquet"))
    big_words = gen.pick_words(BIG_WORDS, set())
    words = big_words[:WORDS]
    blocked = pipeline.read_control_dir(spark, dirs["blocked"])

    def release(n: int) -> None:
        """Move batch ``n``'s files into the stream's input directory."""
        for k in range(FILES_PER_BATCH):
            p = (n * FILES_PER_BATCH + k) % DISTINCT_FILES
            tmp = os.path.join(dirs["stage"], "next.tmp")
            shutil.copyfile(os.path.join(dirs["stage"], f"p{p}.parquet"), tmp)
            os.rename(tmp, os.path.join(dirs["in"], f"f-{n:05d}-{p}.parquet"))

    commits: dict[int, float] = {}
    jobs: dict[int, tuple[int, int, int]] = {}
    released = [0]
    state = {"window_start": None, "done": threading.Event()}

    def _sink(batch_df, batch_id: int) -> None:
        op = f"b{batch_id}"
        tracer.job_group(spark, f"drain-{op}")
        with tracer.span("sink.write", op):
            batch_df.write.parquet(os.path.join(dirs["sink"], f"batch={batch_id}"))
        t = H.now()
        commits[batch_id] = t
        if tracer.enabled:
            with tracer.bookkeeping():
                jobs[batch_id] = tracer.job_counts(spark, f"drain-{op}")
        if len(commits) == WARMUP_BATCHES:
            state["window_start"] = t
        finished = state["window_start"] is not None and t - state["window_start"] >= seconds
        if finished or released[0] >= MAX_BATCHES:
            state["done"].set()
        else:
            release(released[0])
            released[0] += 1

    raw = (
        spark.readStream.schema("key binary, value binary")
        .option("maxFilesPerTrigger", FILES_PER_BATCH)
        .parquet(dirs["in"])
    )
    out = serde.encode_messages(pipeline.filtered_messages(serde.decode_messages(raw), blocked, words))
    writer = out.writeStream.foreachBatch(_sink).option("checkpointLocation", dirs["ckpt"])

    release(0)
    released[0] = 1
    query = writer.start()
    try:
        while not state["done"].wait(0.2):
            if not query.isActive:
                break
    finally:
        query.stop()
    if query.exception() is not None:
        raise RuntimeError(f"streaming query failed: {query.exception()}")
    if state["window_start"] is None:
        raise RuntimeError("drain ended before warm-up finished")
    setup_s = state["window_start"] - t_process
    progress = {p.batchId: p for p in query.recentProgress if p.numInputRows > 0}

    # ---------------------------------------------------------- results
    files = H.source_log(os.path.join(dirs["ckpt"], "sources", "0"))
    order = sorted(commits)
    timed = order[WARMUP_BATCHES:]
    blocked_set = set(M.compact(blocked_rows))
    censor = M.Censor(words)
    expected = {}
    attempted = failed = 0
    for b in timed:
        want = Counter()
        for name in files[b]:
            p = int(name.split("-")[2].split(".")[0])
            if p not in expected:
                expected[p] = M.expected_output(payloads[p], blocked_set, censor)
            want.update(expected[p])
        rows = len(files[b]) * ROWS_PER_FILE
        actual = M.read_sink(os.path.join(dirs["sink"], f"batch={b}"))
        attempted += rows
        failed += min(rows, M.mismatches(want, actual))
    lat = [commits[b] - commits[order[order.index(b) - 1]] for b in timed]
    wall = commits[timed[-1]] - commits[order[WARMUP_BATCHES - 1]]

    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (H.median(lat) * 1e3, "ms"),
        "latency_p99_ms": (H.percentile(lat, 99) * 1e3, "ms"),
        "rows_per_s": (ROWS_PER_FILE * FILES_PER_BATCH / H.median(lat), "rows/s"),
        "keepup_ratio": ((attempted - failed) / attempted, "ratio"),
    }
    layers = {}
    if tracer.enabled:
        layers.update(H.streaming_layers([progress[b] for b in timed if b in progress]))
        layers.update(
            {
                "sink.write_ms": (H.median(tracer.durations("sink.write")[WARMUP_BATCHES:]) * 1e3, "ms"),
                "spark.jobs_per_batch": (H.median([jobs[b][0] for b in timed]), "count"),
                "spark.stages_per_batch": (H.median([jobs[b][1] for b in timed]), "count"),
                "spark.tasks_per_batch": (H.median([jobs[b][2] for b in timed]), "count"),
            }
        )
        layers.update(_ablation(spark, dirs, blocked, big_words, tracer, physical_plan))
    notes = [
        f"censor-drain: {len(timed)} timed batches of {ROWS_PER_FILE * FILES_PER_BATCH} rows after "
        f"{WARMUP_BATCHES} warm-up batches, {WORDS} banned words",
        "  batch ms (warm-up first): "
        + " ".join(f"{1e3 * (commits[b] - commits[a]):.0f}" for a, b in zip(order, order[1:])),
    ]
    return {
        "metrics": metrics,
        "layers": layers,
        "attempted": attempted,
        "failed": failed,
        "valid": True,
        "notes": notes,
        "window_s": wall,
    }


def _ablation(spark, dirs, blocked, big_words, tracer, physical_plan) -> dict:
    """Per-layer self time per 100k rows, by difference between prefixes
    of the public calls over the same backlog file."""
    from hw_kafka_streams_spark.streaming import pipeline, serde

    src = [os.path.join(dirs["stage"], f"p{p}.parquet") for p in range(FILES_PER_BATCH)]

    def prefixes():
        raw = spark.read.parquet(*src)
        dec = serde.decode_messages(raw)
        blk = pipeline.filtered_messages(dec, blocked, [])
        cen = pipeline.filtered_messages(dec, blocked, big_words[:WORDS])
        return {
            "scan": raw,
            "decode": dec,
            "block": blk,
            "censor": cen,
            "encode": serde.encode_messages(cen),
            "censor_big": pipeline.filtered_messages(dec, blocked, big_words),
        }

    # the noop sink runs the whole plan but writes nothing, so prefixes
    # with different output columns differ only by their layer's work
    for _ in range(ABLATION_REPS):
        for name, df in prefixes().items():
            with tracer.span(f"ablation.{name}"):
                df.write.format("noop").mode("overwrite").save()
    med = {k: H.median(tracer.durations(f"ablation.{k}")) for k in prefixes()}
    per_100k = 1e5 / (ROWS_PER_FILE * FILES_PER_BATCH) * 1e3
    passes = physical_plan(prefixes()["encode"]).count("regexp_replace(")
    return {
        "serde.decode_ms": ((med["decode"] - med["scan"]) * per_100k, "ms"),
        "censor.block_ms": ((med["block"] - med["decode"]) * per_100k, "ms"),
        "censor.censor_ms": ((med["censor"] - med["block"]) * per_100k, "ms"),
        "censor.censor_200w_ms": ((med["censor_big"] - med["block"]) * per_100k, "ms"),
        "serde.encode_ms": ((med["encode"] - med["censor"]) * per_100k, "ms"),
        "censor.regex_passes": (passes, "count"),
    }
