"""End-to-end cross-job incremental dedup: the bloom bitmap, the exact
fingerprint table, and the MinHash-LSH near-dup index composing into
one state directory that each day's increment probes and extends
(operators/incremental.py)."""

from __future__ import annotations

import pytest

import glob
import os


DAY1 = [
    (1, "the quick brown fox jumps over the lazy dog in the morning sun"),
    (2, "completely different content about distributed query engines"),
    (3, "a third document with its own unique words and phrasing here"),
]

DAY2 = [
    # exact copy of day-1 doc 1 (whitespace-normalized match)
    (10, "the quick  brown fox jumps over the lazy dog in the morning sun"),
    # near-dup of day-1 doc 2 (one word changed)
    (11, "completely different content about distributed stream engines"),
    # fresh
    (12, "entirely novel text that matches nothing from the first day"),
    # intra-day exact dup of doc 12
    (13, "entirely novel text that matches nothing from the first day"),
]

DAY3 = [
    # exact copy of a DAY-2 keeper — day-2 state must catch it
    (20, "entirely novel text that matches nothing from the first day"),
    (21, "yet another brand new document arriving on the third day ok"),
]


def _run_day(spark, rows, state, day_id):
    from hw_kafka_streams_spark.operators.incremental import (
        incremental_dedup_step,
    )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = incremental_dedup_step(
        spark, df, state, day_id=day_id, threshold=0.4, compact_every=3
    )
    return {r.doc_id: r for r in out.collect()}


@pytest.mark.slowgate
def test_two_day_incremental_dedup_e2e(spark, tmp_path):
    state = str(tmp_path / "dedup_state")

    d1 = _run_day(spark, DAY1, state, day_id=1)
    assert all(r.is_new for r in d1.values()), "day 1 is all-new"
    assert os.path.exists(os.path.join(state, "bloom.parquet"))
    assert os.path.exists(os.path.join(state, "fingerprints.parquet"))
    assert os.path.isdir(os.path.join(state, "neardup_index"))

    d2 = _run_day(spark, DAY2, state, day_id=2)
    # exact copy of day-1 content: caught by the bloom-pruned exact path
    assert d2[10].exact_dup_of_history and not d2[10].is_new
    # near-dup of day-1 content: caught by the persistent LSH index
    assert d2[11].near_dup and not d2[11].is_new
    assert d2[11].dup_of == 2
    # fresh doc survives; its intra-day copy is deduped against it
    assert d2[12].is_new
    assert d2[13].exact_dup_of_batch and d2[13].dup_of == 12

    # day 3: state now includes day-2 keepers; day_id=3 triggers the
    # compaction pass (compact_every=3) BEFORE day 3's probe ran —
    # i.e. day 3 reads post-compaction day-2 state and must still dedup
    d3 = _run_day(spark, DAY3, state, day_id=3)
    assert d3[20].exact_dup_of_history and not d3[20].is_new
    assert d3[21].is_new

    # compaction left single-digit file counts, not one file per append
    n_fp_files = len(
        glob.glob(os.path.join(state, "fingerprints.parquet", "part-*"))
    )
    assert 1 <= n_fp_files <= 4


@pytest.mark.slowgate
def test_incremental_replay_is_idempotent(spark, tmp_path):
    """Redelivering the same day (same day_id) must not duplicate index
    state or flip labels — the at-least-once compensation story."""
    state = str(tmp_path / "dedup_state")
    _run_day(spark, DAY1, state, day_id=1)
    first = _run_day(spark, DAY2, state, day_id=2)
    replay = _run_day(spark, DAY2, state, day_id=2)
    # same labels on replay: the day-2 docs are in the fingerprint set
    # now, but their own fingerprints/signatures must not make the
    # replayed batch all-dup spuriously via the index (marker guard) —
    # exact-vs-history WILL see them (append already happened), which
    # is the honest at-least-once semantics: replays never re-emit.
    assert not replay[10].is_new and not replay[11].is_new
    assert first[12].is_new  # first delivery emitted it
    index_rows = spark.read.parquet(
        os.path.join(state, "neardup_index")
    ).count()
    # replay appended nothing to the index (batch_id marker)
    _run_day(spark, DAY2, state, day_id=2)
    assert (
        spark.read.parquet(os.path.join(state, "neardup_index")).count()
        == index_rows
    )


@pytest.mark.slowgate
def test_streaming_incremental_dedup_foreachbatch(spark, tmp_path):
    """The incremental pipeline as a StreamingQuery: two micro-batches
    through a file stream; batch-2 exact copies of batch-1 docs dedup
    against the state directory."""
    import json
    import os
    import time

    from hw_kafka_streams_spark.operators.incremental import (
        run_streaming_incremental_dedup,
    )

    src = tmp_path / "in"
    src.mkdir()
    state = str(tmp_path / "state")
    chk = str(tmp_path / "chk")
    labels: dict[int, dict] = {}

    def sink(df, bid):
        labels.setdefault(bid, {}).update(
            {r.doc_id: r for r in df.collect()}
        )

    with open(src / "b1.json", "w") as f:
        for i, t in enumerate(
            ["first streaming document with enough words to signature",
             "second streaming document also has plenty of word content"]
        ):
            f.write(json.dumps({"doc_id": i + 1, "text": t}) + "\n")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = run_streaming_incremental_dedup(
        spark, stream, state, chk, sink, threshold=0.4, compact_every=0
    )
    try:
        # generous deadlines: under a fully loaded 32-core host (whole
        # suite + parallel Spark sessions) a 2-doc micro-batch has been
        # observed to take >60 s to schedule — the tight deadline made
        # this the suite's one flaky test
        deadline = time.time() + 150
        while not labels and time.time() < deadline:
            time.sleep(0.5)
        # drop batch 2 in AFTER batch 1 processed
        with open(src / "b2.json", "w") as f:
            f.write(json.dumps({"doc_id": 10,
                "text": "first streaming document with enough words to signature"}) + "\n")
            f.write(json.dumps({"doc_id": 11,
                "text": "a wholly new third document streaming in fresh today"}) + "\n")
        deadline = time.time() + 210
        while len(labels) < 2 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    assert len(labels) >= 2, f"batches seen: {list(labels)}"
    b2 = labels[max(labels)]
    assert b2[10].exact_dup_of_history and not b2[10].is_new
    assert b2[11].is_new
    assert os.path.exists(os.path.join(state, "bloom.parquet"))


@pytest.mark.slowgate
def test_incremental_null_text_and_id_passthrough(spark, tmp_path):
    """Docs with NULL text (→ NULL fingerprint) or NULL id must be
    labeled is_new and returned — not silently dropped by the
    null-unsafe state joins (round-5 advisor finding); and non-integral
    id columns are rejected up front rather than nulled by cast."""
    import pytest

    from hw_kafka_streams_spark.operators.incremental import (
        incremental_dedup_step,
    )

    state = str(tmp_path / "state")
    rows = [
        (1, "a real document with plenty of content words in it today"),
        (2, None),
        (None, "another real document that has a null id attached to it"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = incremental_dedup_step(spark, df, state, day_id=1)
    got = {r.doc_id: r for r in out.collect()}
    assert len(got) == 3, "every batch doc returned, incl. null text/id"
    assert got[2].is_new and got[2].dup_of is None
    assert got[None].is_new and got[None].dup_of is None
    # the null-fp rows must NOT pollute persisted state
    import os

    fps = spark.read.parquet(os.path.join(state, "fingerprints.parquet"))
    assert fps.filter("fp IS NULL OR id IS NULL").count() == 0
    assert fps.count() == 1

    sdf = spark.createDataFrame([("x1", "text")], "doc_id string, text string")
    with pytest.raises(ValueError, match="integral id column"):
        incremental_dedup_step(spark, sdf, state, day_id=2)


@pytest.mark.slowgate
def test_corpus_build_over_snapshots_e2e(spark, tmp_path):
    """Composed pipeline: incremental (bloom + LSH) dedup -> quality
    filter -> snapshot commit per day, with snapshot_diff auditing each
    commit and replay committing nothing — the restartable multi-day
    corpus build (the md5-twin variant is oracled as
    q_corpus_build_e2e; this covers the xxhash64/LSH production path
    the oracle can't replay)."""
    from pyspark.sql import functions as F

    from hw_kafka_streams_spark.operators.chunking import sequence_pack_stats
    from hw_kafka_streams_spark.operators.incremental import (
        incremental_dedup_step,
    )
    from hw_kafka_streams_spark.sources import snapshots as S

    state = str(tmp_path / "dedup_state")
    curated = str(tmp_path / "curated")

    # doc 4 is low-quality (3 words): dropped by the filter, but its
    # fingerprint still enters dedup state — so day 2's copy (doc 14)
    # is a dup-of-history even though doc 4 never reached the table
    days = [
        DAY1 + [(4, "too short doc")],
        DAY2 + [(14, "too short doc")],
        DAY3,
    ]

    def run_day(rows, day_id):
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        labels = incremental_dedup_step(
            spark, batch, state, day_id=day_id, threshold=0.4
        )
        keep_ids = labels.filter(F.col("is_new")).select("doc_id")
        survivors = (
            batch.join(keep_ids, "doc_id")
            .withColumn(
                "n_tokens", F.size(F.split(F.trim("text"), r"\s+")).cast("long")
            )
            .filter(F.col("n_tokens") >= 5)
        )
        n = survivors.count()
        if n == 0:
            return S.current_version(curated), 0
        if S.current_version(curated) == 0:
            return S.create_table(spark, curated, survivors, target_files=1), n
        return S.commit_append(spark, curated, survivors, target_files=1), n

    v1, n1 = run_day(days[0], day_id=1)
    assert (v1, n1) == (1, 3)  # doc 4 fails quality; 1-3 commit

    v2, n2 = run_day(days[1], day_id=2)
    # day 2: 10 exact-dup, 11 near-dup, 13 intra-dup, 14 dup of the
    # LOW-QUALITY doc 4 (state remembers content the table never held),
    # leaving only 12
    assert (v2, n2) == (2, 1)
    ins = (
        S.snapshot_diff(spark, curated, 1, 2, keys=["doc_id"])
        .filter(F.col("change_type") == "insert")
        .count()
    )
    assert ins == n2  # O(increment) CDC sees exactly the appended rows

    # replay day 2: every doc is now history -> no survivors, NO commit
    rv, rn = run_day(days[1], day_id=2)
    assert (rv, rn) == (2, 0)
    assert S.current_version(curated) == 2

    v3, n3 = run_day(days[2], day_id=3)
    assert (v3, n3) == (3, 1)  # 20 dup-of-history, 21 new

    head = S.read_snapshot(spark, curated)
    assert sorted(r.doc_id for r in head.select("doc_id").collect()) == [
        1, 2, 3, 12, 21,
    ]
    # final stage: pack the curated head; geometry must match the
    # hand-computed token stream (5 docs, 11-12 tokens each, cap 16)
    packed = sequence_pack_stats(head, capacity=16, block=4)
    rows = {r.doc_id: r for r in packed.collect()}
    total = sum(r.n_tokens for r in rows.values())
    assert max(r.last_window for r in rows.values()) == (total - 1) // 16
    # every doc's window span is consistent with a 16-token cut
    for r in rows.values():
        assert r.n_windows == r.last_window - r.first_window + 1
