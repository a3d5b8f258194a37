"""censor-live: the reference topology fed at a fixed rate (open loop).

A generator thread renames pre-written JSON frame files into the
stream's input directory on a fixed schedule (one file of
``MSGS_PER_TICK`` messages every ``TICK_S``) and appends one blocked
pair and one banned word per second as one-row parquet control files.
Each micro-batch goes through ``pipeline.process_batch_with_refresh``
with providers built on ``pipeline.read_control_dir``, to a parquet
sink with one directory per batch.

The query runs on a ``TRIGGER_S`` processing-time trigger. It starts on
one warm-up file, and the schedule's clock starts when that first
(slowest) batch has committed, at a fixed phase to the trigger grid, so
every batch holds the same number of files. A message's latency runs
from its own due time to the return of the sink write of the batch that
held it; a file holds the messages due in the tick before it drops.
Messages due in the first ``WARMUP_S`` are warm-up; the measured window
is the next ``seconds``.

Why this shape: a file is one task, and with 0.1 s files per-task
overhead made a batch cost ~95 ms per file, so the engine ran at ~95% of
capacity. With an as-soon-as-possible trigger, batch size feeds back
into batch time, and runs settled at different batch sizes (p50 1.9 s
in one run, 2.5 s in the next). A fixed trigger holds batch size
constant, so latency follows per-batch cost one to one. Four files per
trigger make one wave of tasks on four cores, and at this rate a batch
(1.3-2.0 s) fits the interval: at 5000 msgs/s a slow process overran it
and fell back into the feedback (p50 5.3 s against 2.9 s).
"""

from __future__ import annotations

import math
import os
import threading
import time
from collections import Counter

import numpy as np

from perfbench import harness as H
from perfbench import messages as M

RATE = 3200
TICK_S = 0.625
MSGS_PER_TICK = int(RATE * TICK_S)
TRIGGER_S = 2.5
WARMUP_S = 7.5
#: a message not committed this long after its due time counts as lost
LATENCY_LIMIT_S = 10.0
INITIAL_BLOCKED = 250
INITIAL_WORDS = 20
#: a generator later than this measures the generator, not the engine
GEN_LATE_BOUND_MS = 100.0
WARM_FILE = "tick-warm.parquet"


class Dropper(threading.Thread):
    """Single-threaded schedule: at each due time, one atomic rename."""

    def __init__(self, events: list[tuple[float, str, str]], in_dir: str):
        super().__init__(name="perfbench-generator", daemon=True)
        self.events = events
        self.stop_evt = threading.Event()
        self.t0 = 0.0
        self.late_s: list[float] = []
        self.in_dir = in_dir
        #: message files dropped so far
        self.dropped = 0

    def run(self) -> None:
        for due, src, dst in self.events:
            target = self.t0 + due
            while (delay := target - H.now()) > 0:
                if self.stop_evt.wait(min(delay, 0.05)):
                    return
            os.rename(src, dst)
            self.late_s.append(H.now() - target)
            if os.path.dirname(dst) == self.in_dir:
                self.dropped += 1


class BatchRecord:
    """What one micro-batch read and when its sink write returned."""

    def __init__(self, batch_id: int, dropped: int):
        self.batch_id = batch_id
        #: tick files the generator had dropped when the batch started
        self.dropped = dropped
        self.ticks: list[int] = []
        self.blocked_files: list[str] = []
        self.words: list[str] = []
        self.word_files: list[str] = []
        self.commit = math.nan


def _tick_of(name: str) -> int:
    """Schedule index of a message file; -1 for the warm-up file."""
    return -1 if name == WARM_FILE else int(name.split("-")[1].split(".")[0])


def run(spark, seed: int, seconds: int, tracer, work: str, t_process: float) -> dict:
    from pyspark.sql import functions as F

    from hw_kafka_streams_spark.streaming import pipeline, serde

    dirs = {
        k: os.path.join(work, k)
        for k in ("stage", "in", "blocked", "words", "ctl_stage", "sink", "ckpt")
    }
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)

    gen = M.MessageGen(seed)
    n_ticks = math.ceil((WARMUP_S + seconds + LATENCY_LIMIT_S) / TICK_S)
    n_secs = math.ceil(WARMUP_S + seconds + LATENCY_LIMIT_S)
    warm = gen.messages(MSGS_PER_TICK)
    M.write_parquet(M.MessageGen.frames(warm), os.path.join(dirs["in"], WARM_FILE))
    ticks: list[list[tuple[str, str, str]]] = []
    events: list[tuple[float, str, str]] = []
    for i in range(n_ticks):
        msgs = gen.messages(MSGS_PER_TICK)
        ticks.append(msgs)
        name = f"tick-{i:05d}.parquet"
        M.write_parquet(M.MessageGen.frames(msgs), os.path.join(dirs["stage"], name))
        events.append((i * TICK_S, os.path.join(dirs["stage"], name), os.path.join(dirs["in"], name)))

    control_rows: dict[str, list[tuple]] = {}
    pairs: set[str] = set()
    words_taken: set[str] = set()
    for kind, rows in (
        ("blocked", gen.initial_blocked(INITIAL_BLOCKED, pairs)),
        ("words", gen.initial_words(INITIAL_WORDS, words_taken)),
    ):
        name = f"{kind}-0000.parquet"
        M.write_parquet(M.control_table(rows), os.path.join(dirs[kind], name))
        control_rows[name] = rows
    for j in range(1, n_secs + 1):
        for kind, rows in (
            ("blocked", gen.control_rows([(gen.pick_pairs(1, pairs)[0], "blocked")])),
            ("words", gen.control_rows([(gen.pick_words(1, words_taken)[0], "ban")])),
        ):
            name = f"{kind}-{j:04d}.parquet"
            M.write_parquet(M.control_table(rows), os.path.join(dirs["ctl_stage"], name))
            control_rows[name] = rows
            events.append((j - 0.5, os.path.join(dirs["ctl_stage"], name), os.path.join(dirs[kind], name)))
    events.sort()

    dropper = Dropper(events, dirs["in"])
    records: list[BatchRecord] = []
    lock = threading.Lock()
    jobs: dict[int, tuple[int, int, int]] = {}

    def _process(batch_df, batch_id: int) -> None:
        op = f"b{batch_id}"
        tracer.job_group(spark, f"live-{op}")
        with tracer.span("batch", op):
            rec = BatchRecord(batch_id, dropper.dropped)

            def blocked_provider():
                with tracer.span("pipeline.refresh", op):
                    df = pipeline.read_control_dir(spark, dirs["blocked"])
                rec.blocked_files = [os.path.basename(f) for f in df.inputFiles()]
                return df

            def words_provider():
                with tracer.span("pipeline.refresh", op):
                    df = pipeline.read_control_dir(spark, dirs["words"])
                    words = [r.key for r in df.filter(F.col("value") == "ban").collect()]
                rec.word_files = [os.path.basename(f) for f in df.inputFiles()]
                rec.words = words
                return words

            def sink(df) -> None:
                with tracer.span("sink.write", op):
                    serde.encode_messages(df).write.parquet(
                        os.path.join(dirs["sink"], f"batch={batch_id}")
                    )
                rec.commit = H.now()

            with tracer.span("pipeline.process", op):
                pipeline.process_batch_with_refresh(
                    batch_df, blocked_provider, words_provider, sink
                )
        if tracer.enabled:
            with tracer.bookkeeping():
                jobs[batch_id] = tracer.job_counts(spark, f"live-{op}")
        with lock:
            records.append(rec)

    stream = serde.decode_messages(
        spark.readStream.schema("key binary, value binary").parquet(dirs["in"])
    )
    writer = (
        stream.writeStream.foreachBatch(_process)
        .trigger(processingTime=f"{TRIGGER_S} seconds")
        .option("checkpointLocation", dirs["ckpt"])
    )

    window = (WARMUP_S, WARMUP_S + seconds)
    window_ticks = [i for i in range(n_ticks) if window[0] <= i * TICK_S < window[1]]
    query = writer.start()
    try:
        while not records and query.isActive:
            time.sleep(0.05)
        # Spark fires a processing-time trigger at wall-clock multiples of
        # its interval; files fall due half a tick after a trigger, so
        # none lands while a batch lists its input
        wall = time.time()
        start = (math.floor(wall / TRIGGER_S) + 1) * TRIGGER_S + TICK_S / 2
        dropper.t0 = H.now() + (start - wall)
        dropper.start()
        t_window = dropper.t0 + window[0]
        setup_s = t_window - t_process
        deadline = dropper.t0 + window[1] + LATENCY_LIMIT_S
        # stop once every window tick is in a committed batch; the source
        # log names a batch's files before the batch runs
        log = os.path.join(dirs["ckpt"], "sources", "0")
        while H.now() < deadline and query.isActive:
            if H.now() > dropper.t0 + window[1]:
                with lock:
                    committed = {r.batch_id for r in records}
                files = H.source_log(log)
                done = {_tick_of(n) for b in committed for n in files.get(b, ())}
                if done.issuperset(window_ticks):
                    break
            time.sleep(0.1)
        t_end = H.now()
    finally:
        query.stop()
        dropper.stop_evt.set()
        dropper.join()
    if query.exception() is not None:
        raise RuntimeError(f"streaming query failed: {query.exception()}")
    progress = {}
    for p in query.recentProgress:
        if p.numInputRows > 0:
            progress[p.batchId] = p

    # ---------------------------------------------------------- results
    by_batch = {r.batch_id: r for r in records}
    for b, names in H.source_log(log).items():
        if b in by_batch:
            by_batch[b].ticks = sorted(_tick_of(n) for n in names)
    tick_batch: dict[int, BatchRecord] = {}
    correct_batch: dict[int, bool] = {}
    for rec in records:
        for t in rec.ticks:
            tick_batch[t] = rec
        blocked = set(
            M.compact(r for f in rec.blocked_files for r in control_rows[f])
        )
        expected = Counter()
        censor = M.Censor(rec.words)
        for t in rec.ticks:
            expected.update(M.expected_output(ticks[t] if t >= 0 else warm, blocked, censor))
        actual = M.read_sink(os.path.join(dirs["sink"], f"batch={rec.batch_id}"))
        # the provider's words must be the compacted "ban" entries of the
        # files it read, even where no text happened to contain a word
        snapshot = M.compact(r for f in rec.word_files for r in control_rows[f])
        words_ok = sorted(rec.words) == sorted(k for k, v in snapshot.items() if v == "ban")
        correct_batch[rec.batch_id] = words_ok and M.mismatches(expected, actual) == 0

    # a file holds the messages due, evenly spaced, in the tick before it
    # drops, as a producer that batches for a tick sends them; a message
    # never committed counts with the time it had waited when the run ended
    due_offsets = TICK_S * (np.arange(1, MSGS_PER_TICK + 1) / MSGS_PER_TICK - 1)
    lats = []
    delivered = 0
    for t in window_ticks:
        rec = tick_batch.get(t)
        done = t_end if rec is None else rec.commit
        lat = done - (dropper.t0 + t * TICK_S + due_offsets)
        lats.append(lat)
        if rec is not None and correct_batch[rec.batch_id]:
            delivered += int((lat <= LATENCY_LIMIT_S).sum())
    lats = np.concatenate(lats)
    attempted = len(lats)

    timed = sorted({tick_batch[t].batch_id for t in window_ticks if t in tick_batch})
    timed_prog = [progress[b] for b in timed if b in progress]
    late_ms = max(dropper.late_s) * 1e3 if dropper.late_s else 0.0

    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (H.percentile(lats, 50) * 1e3, "ms"),
        "latency_p99_ms": (H.percentile(lats, 99) * 1e3, "ms"),
        "rows_per_s": (
            H.median([1e3 * p.numInputRows / p.durationMs["triggerExecution"] for p in timed_prog]),
            "rows/s",
        ),
        "keepup_ratio": (delivered / attempted, "ratio"),
    }
    layers = {}
    if tracer.enabled:
        done_ticks, backlog = 0, {}
        for r in sorted(records, key=lambda r: r.batch_id):
            backlog[r.batch_id] = (r.dropped - done_ticks) * MSGS_PER_TICK
            done_ticks += sum(1 for t in r.ticks if t >= 0)

        def span_ms(name, batch_id):
            return 1e3 * sum(
                s["end"] - s["start"]
                for s in tracer.spans
                if s["name"] == name and s["op"] == f"b{batch_id}"
            )

        layers.update(H.streaming_layers(timed_prog))
        layers.update(
            {
                "streaming.backlog_rows": (H.median([backlog[b] for b in timed]), "rows"),
                "pipeline.refresh_ms": (H.median([span_ms("pipeline.refresh", b) for b in timed]), "ms"),
                "pipeline.process_ms": (
                    H.median([span_ms("pipeline.process", b) - span_ms("sink.write", b) for b in timed]),
                    "ms",
                ),
                "sink.write_ms": (H.median([span_ms("sink.write", b) for b in timed]), "ms"),
                "spark.jobs_per_batch": (H.median([jobs[b][0] for b in timed]), "count"),
                "spark.stages_per_batch": (H.median([jobs[b][1] for b in timed]), "count"),
                "spark.tasks_per_batch": (H.median([jobs[b][2] for b in timed]), "count"),
            }
        )
    layers["gen.late_ms_max"] = (late_ms, "ms")
    notes = [
        f"censor-live: latency over {attempted} messages in {len(timed)} micro-batches, "
        f"window {seconds} s at {RATE} msgs/s after {WARMUP_S:g} s warm-up; "
        f"generator late by at most {late_ms:.1f} ms (bound {GEN_LATE_BOUND_MS:g} ms)",
        "  batches (id rows ms): "
        + " ".join(
            f"{p.batchId}:{p.numInputRows}:{p.durationMs.get('triggerExecution', 0)}"
            for p in sorted(progress.values(), key=lambda p: p.batchId)
        ),
    ]
    return {
        "metrics": metrics,
        "layers": layers,
        "attempted": attempted,
        "failed": attempted - delivered,
        "valid": late_ms <= GEN_LATE_BOUND_MS and all(correct_batch.values()),
        "notes": notes,
        "window_s": seconds,
    }
