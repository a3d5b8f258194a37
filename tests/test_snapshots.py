"""Snapshot-versioned table layer (sources/snapshots.py): time travel,
optimistic-commit conflicts, retention vacuum, and scan pushdown on
explicit-file reads."""

from __future__ import annotations

import os

import pytest


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def test_time_travel_across_commit_kinds(spark, tmp_path):
    from hw_kafka_streams_spark.sources import snapshots as S

    t = str(tmp_path / "tbl")
    assert S.create_table(spark, t, _mk(spark, [(1, "a"), (2, "b")])) == 1
    assert S.commit_append(spark, t, _mk(spark, [(3, "c")])) == 2
    assert (
        S.merge_upsert_snapshot(
            spark, t, _mk(spark, [(2, "B2"), (4, "d")]), ["k"]
        )
        == 3
    )
    assert (
        S.delete_rows_snapshot(
            spark, t, spark.createDataFrame([(1,)], "k int"), ["k"]
        )
        == 4
    )

    def snap(v):
        return {
            (r.k, r.v) for r in S.read_snapshot(spark, t, v).collect()
        }

    assert snap(1) == {(1, "a"), (2, "b")}
    assert snap(2) == {(1, "a"), (2, "b"), (3, "c")}
    assert snap(3) == {(1, "a"), (2, "B2"), (3, "c"), (4, "d")}
    assert snap(4) == {(2, "B2"), (3, "c"), (4, "d")}
    assert snap(S.current_version(t)) == snap(4)

    manifests = [S._read_manifest(t, v) for v in range(1, 5)]
    assert [m["operation"] for m in manifests] == ["create", "append", "merge_upsert", "delete"]
    assert [m["parent"] for m in manifests] == [0, 1, 2, 3]


def test_concurrent_writer_conflict(spark, tmp_path):
    """Two writers committing from the same parent: the filesystem's
    O_EXCL admits exactly one v2; the loser gets ConcurrentWriteError
    and succeeds after rebase (retry against the new head)."""
    from hw_kafka_streams_spark.sources import snapshots as S

    t = str(tmp_path / "tbl")
    S.create_table(spark, t, _mk(spark, [(1, "a")]))
    base = S.current_version(t)

    # writer A wins the race to v2
    files_a = S._write_data_files(_mk(spark, [(2, "b")]), t, base + 1)
    files_b = S._write_data_files(_mk(spark, [(3, "c")]), t, base + 1)
    assert S._commit(t, base, files_a, "append") == 2
    with pytest.raises(S.ConcurrentWriteError):
        S._commit(t, base, files_b, "append")
    # loser rebases on the new head and lands as v3
    assert S._commit(t, S.current_version(t), files_b, "append") == 3


def test_vacuum_retention_and_orphans(spark, tmp_path):
    from hw_kafka_streams_spark.sources import snapshots as S

    t = str(tmp_path / "tbl")
    S.create_table(spark, t, _mk(spark, [(1, "a")]))
    S.commit_overwrite(spark, t, _mk(spark, [(2, "b")]))
    S.commit_append(spark, t, _mk(spark, [(3, "c")]))  # v3 refs v2's files
    # orphan from a crashed commit: data written, no manifest
    S._write_data_files(_mk(spark, [(9, "x")]), t, 99)

    res = S.vacuum(t, keep_last=2)
    assert res["expired_versions"] == [1]
    assert res["deleted_files"] >= 1  # v1's file + the orphan

    with pytest.raises(S.NoSuchVersionError):
        S.read_snapshot(spark, t, 1)
    # retained versions fully readable — v2's file survived the vacuum
    # because v3 still references it
    assert {r.k for r in S.read_snapshot(spark, t, 2).collect()} == {2}
    assert {r.k for r in S.read_snapshot(spark, t, 3).collect()} == {2, 3}
    # every remaining data file is referenced
    import glob

    remaining = {
        os.path.join("data", os.path.basename(p))
        for p in glob.glob(os.path.join(t, "data", "*.parquet"))
    }
    referenced = set()
    for v in (2, 3):
        referenced.update(S._read_manifest(t, v)["files"])
    assert remaining == referenced


def test_snapshot_read_keeps_pushdown(spark, tmp_path):
    """The explicit-file scan must keep predicate pushdown + column
    pruning — time travel cannot cost the optimizer anything."""
    from hw_kafka_streams_spark.sources import snapshots as S

    t = str(tmp_path / "tbl")
    S.create_table(
        spark, t, spark.range(1000).selectExpr("id AS k", "id * 2 AS v")
    )
    df = S.read_snapshot(spark, t).filter("k > 900").select("k")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(k), GreaterThan(k,900)]" in plan
    assert "ReadSchema: struct<k:bigint>" in plan
    assert df.count() == 99


def test_snapshot_diff_cdc(spark, tmp_path):
    """Incremental read: append -> pure inserts (and the shared-file
    prune means the v1 side reads zero files); merge -> updates +
    inserts; delete -> deletes."""
    from hw_kafka_streams_spark.sources import snapshots as S

    t = str(tmp_path / "tbl")
    S.create_table(spark, t, _mk(spark, [(1, "a"), (2, "b")]))
    S.commit_append(spark, t, _mk(spark, [(3, "c"), (4, "d")]))
    d12 = {
        (r.k, r.change_type)
        for r in S.snapshot_diff(spark, t, 1, 2, ["k"]).collect()
    }
    assert d12 == {(3, "insert"), (4, "insert")}
    # append: v1's files are all shared with v2 -> the from-side file
    # set is empty after pruning (manifest subset relation)
    ma = set(S._read_manifest(t, 1)["files"])
    mb = set(S._read_manifest(t, 2)["files"])
    assert ma - mb == set() and len(mb - ma) > 0

    S.merge_upsert_snapshot(spark, t, _mk(spark, [(2, "B2"), (9, "z")]), ["k"])
    d23 = {
        (r.k, r.change_type)
        for r in S.snapshot_diff(spark, t, 2, 3, ["k"]).collect()
    }
    assert d23 == {(2, "update"), (9, "insert")}

    S.delete_rows_snapshot(spark, t, spark.createDataFrame([(1,)], "k int"), ["k"])
    d34 = {
        (r.k, r.change_type)
        for r in S.snapshot_diff(spark, t, 3, 4, ["k"]).collect()
    }
    assert d34 == {(1, "delete")}


def test_manifest_file_stats_prune(spark, tmp_path):
    """Manifest min/max skipping: a selective read opens only the
    files whose range intersects the predicate, and still returns
    exactly the filtered rows."""
    from hw_kafka_streams_spark.sources import snapshots as S

    t = str(tmp_path / "tbl")
    # three disjoint ranges as three append commits -> >= 3 files
    S.create_table(
        spark, t, spark.range(0, 100).selectExpr("id AS k", "id*2 AS v").coalesce(1)
    )
    S.commit_append(
        spark, t,
        spark.range(1000, 1100).selectExpr("id AS k", "id*2 AS v").coalesce(1),
    )
    S.commit_append(
        spark, t,
        spark.range(5000, 5100).selectExpr("id AS k", "id*2 AS v").coalesce(1),
    )
    n = S.attach_file_stats(t)
    assert n >= 3
    assert S.attach_file_stats(t) == n  # idempotent

    df, prune = S.read_snapshot_pruned(spark, t, "k", 1010, 1050)
    assert prune["files_total"] >= 3
    assert prune["files_read"] < prune["files_total"]
    assert sorted(r.k for r in df.collect()) == list(range(1010, 1051))

    # out-of-range predicate prunes everything but still answers
    df0, prune0 = S.read_snapshot_pruned(spark, t, "k", 90000, 99000)
    assert prune0["files_read"] == 0 and df0.count() == 0

    # a column without stats is conservatively unpruned
    df2, prune2 = S.read_snapshot_pruned(spark, t, "v", 0, 10)
    assert df2.count() == 6  # v in {0,2,4,6,8,10}


def test_schema_evolution_on_append(spark, tmp_path):
    """Appending a DataFrame with a new column evolves the manifest
    schema (union, parent order first); files written before the
    column existed null-fill it; older versions keep their own pinned
    schema; type changes are refused."""
    from hw_kafka_streams_spark.sources import snapshots as S

    t = str(tmp_path / "tbl")
    S.create_table(spark, t, _mk(spark, [(1, "a")]))
    S.commit_append(
        spark, t,
        spark.createDataFrame([(2, "b", 9.5)], "k int, v string, score double"),
    )
    v2 = S.read_snapshot(spark, t, 2)
    assert v2.columns == ["k", "v", "score"]
    rows = {r.k: r for r in v2.collect()}
    assert rows[1].score is None and rows[2].score == 9.5
    # version 1 still reads with its own (pre-evolution) schema
    assert S.read_snapshot(spark, t, 1).columns == ["k", "v"]

    with pytest.raises(ValueError, match="schema conflict"):
        S.commit_append(
            spark, t, spark.createDataFrame([(3, 7)], "k int, v int")
        )


def test_snapshot_stats_only_answers_and_guards(spark, tmp_path):
    """Manifest-only count/min/max equal the full scan; asking before
    attach_file_stats (or for a stats-less column) raises instead of
    approximating."""
    import pytest
    from pyspark.sql import functions as F

    from hw_kafka_streams_spark.sources import snapshots as S

    tbl = str(tmp_path / "t")
    df1 = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    df2 = spark.range(50, 120).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    S.create_table(spark, tbl, df1, target_files=1)
    S.commit_append(spark, tbl, df2, target_files=1)
    with pytest.raises(ValueError, match="no file stats"):
        S.snapshot_stats_only(tbl, "k")
    S.attach_file_stats(tbl)
    got = S.snapshot_stats_only(tbl, "k")
    assert got == {"n_rows": 120, "min": 0, "max": 119, "n_files": 2}
    v = S.snapshot_stats_only(tbl, "v")
    assert v["min"] == 0.0 and v["max"] == 238.0
    with pytest.raises(ValueError, match="lacks min/max"):
        S.snapshot_stats_only(tbl, "nope")


def test_q_schema_evolution_pinned_versions(spark):
    """The registry query's two versions really carry different
    schemas, and the evolved read null-fills exactly the v1 rows."""
    from hw_kafka_streams_spark.queries import queries

    rows = queries()["q_schema_evolution"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    v1, v2 = rows
    assert (v1.version, v1.n_cols) == (1, 3)
    assert (v2.version, v2.n_cols) == (2, 4)
    assert v1.n_disc_null is None and v1.sum_disc is None
    assert v2.n_disc_null == v1.n_rows  # every v1 row null-fills disc
    assert v2.n_rows > v1.n_rows


def test_q_write_quarantine_reject_dont_poison(spark):
    """Quarantined rows never reach the committed table; counts
    partition the input; the written sum excludes the corrupted
    prices."""
    from hw_kafka_streams_spark.queries import queries

    r = queries()["q_write_quarantine"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert r.n_valid + r.n_quarantined == r.n_input
    assert r.n_quarantined >= max(r.n_bad_price, r.n_bad_status) > 0
    assert r.sum_price_written > 0
