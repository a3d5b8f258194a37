"""Driver-mimic: run every registered query in Spark AND its DuckDB
oracle on the same parquet, compare row-count + schema + sorted values.

Usage: python tools/oracle_check.py [--vanilla] [--lenient]
           [--hashes out.json] [--against old.json] [sf_dir] [query ...]

Replicates the driver's t2 gate locally (order-insensitive,
column-name-sorted compare) so oracle mismatches are caught before a
round ends. Importable from tests.

Round-1 lessons baked in (CORRECTNESS_r01):
- ``--vanilla`` runs on a plain ``SparkSession.builder.getOrCreate()``
  with none of ``session.get_spark()``'s configs — the driver does the
  same, and round 1's 5 hard errors were all configs-only-in-get_spark.
- The default compare is now BIT-EXACT on floats (``repr``, full
  precision) because the driver hashes raw cells; the old 6-dp
  normalization masked a real driver hash-mismatch (q_math_funcs:
  Spark DOUBLE 1.0 vs DuckDB TINYINT 1). ``--lenient`` restores 6-dp.
- List/tuple cells are an ERROR: the driver's pandas canonicalizer
  crashes on them (unhashable type) — queries must emit scalars only.

``--hashes out.json`` writes each query's result hash: the SHA-256 of
its Spark rows as ``_norm_rows`` normalizes and sorts them (null for a
query that errored). ``--against old.json`` compares this run's hashes
with an earlier run's, such as one taken on a parent checkout, lists
every query whose hash differs, and fails if any does. A refactor that
keeps every hash changed no query's output.
"""

from __future__ import annotations

import hashlib
import json
import math
import sys
from pathlib import Path

import duckdb

# the checkout this file belongs to, so a copy checks its own package
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from hw_kafka_streams_spark.cache import release_managed_caches  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


LENIENT = False


class ListCellError(Exception):
    """A result cell is a list/tuple — the driver's canonicalizer crashes."""


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if LENIENT:
            return f"{v:.6f}".rstrip("0").rstrip(".")
        return repr(v)  # full precision: the driver hashes raw cells
    if isinstance(v, (list, tuple)):
        if LENIENT:
            return "[" + ",".join(_norm_cell(x) for x in v) + "]"
        raise ListCellError(
            "list-typed cell would crash the driver canonicalizer; "
            "serialize arrays/maps to strings in the query"
        )
    return str(v)


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    return out


# DuckDB result types that poison the driver's hash compare.
# HUGEINT (the type of sum() over INTEGER/CASE...) reaches pandas as
# float64, so Spark's `1500` hashes against `1500.0` -> mismatch even on a
# correct answer (q_table_diff, CORRECTNESS_r02). Nested types crash the
# driver's pandas canonicalizer outright (unhashable list).
_BAD_TYPE_MARKERS = ("HUGEINT", "[]", "STRUCT", "MAP(", "LIST", "UNION")


def lint_oracle_types(con, oracles: dict[str, str]) -> dict[str, list[str]]:
    """Bind every oracle (lazily — no execution) and flag output columns
    whose DuckDB type the driver harness can't hash faithfully.

    Returns {query_name: ["col: TYPE", ...]} for offenders only. This is
    the permanent kill for the HUGEINT-vs-BIGINT hash-mismatch class:
    every new oracle gets type-checked in CI before the driver ever sees it.
    """
    bad: dict[str, list[str]] = {}
    for name, sql in oracles.items():
        rel = con.sql(sql)  # lazy bind: types come from the plan, not a run
        offenders = [
            f"{c}: {t}"
            for c, t in zip(rel.columns, map(str, rel.types))
            if any(m in str(t).upper() for m in _BAD_TYPE_MARKERS)
        ]
        if offenders:
            bad[name] = offenders
    return bad


def rows_hash(cols, norm_rows) -> str:
    """SHA-256 of the sorted column names and the ``_norm_rows`` output:
    equal for two runs whose results compare equal."""
    blob = json.dumps([sorted(cols), norm_rows], ensure_ascii=False)
    return hashlib.sha256(blob.encode()).hexdigest()


def compare_query(spark, con, fn, oracle: str, sf_dir: str) -> list[str]:
    """Run one query both ways; return a list of mismatch messages."""
    return check_query(spark, con, fn, oracle, sf_dir)[0]


def check_query(spark, con, fn, oracle: str, sf_dir: str) -> tuple[list[str], str | None]:
    """:func:`compare_query`'s messages, plus the Spark result's
    :func:`rows_hash` (None when a cell cannot be normalized)."""
    sdf = fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    drel = con.execute(oracle)
    dcols = [d[0] for d in drel.description]
    drows = drel.fetchall()
    msgs: list[str] = []
    try:
        sn = _norm_rows(scols, srows)
    except ListCellError as exc:
        msgs.append(str(exc))
        return msgs, None
    if sorted(scols) != sorted(dcols):
        msgs.append(f"schema: spark={sorted(scols)} duckdb={sorted(dcols)}")
    if len(srows) != len(drows):
        msgs.append(f"rowcount: spark={len(srows)} duckdb={len(drows)}")
    if not msgs:
        try:
            dn = _norm_rows(dcols, drows)
        except ListCellError as exc:
            msgs.append(str(exc))
        else:
            if sn != dn:
                diff = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
                msgs.append(f"values differ, first diffs: {diff}")
    return msgs, rows_hash(scols, sn)


def diff_hashes(old: dict, new: dict) -> list[str]:
    """The queries whose hash differs between two ``--hashes`` files,
    a query present in only one of them included."""
    return sorted(n for n in old.keys() | new.keys() if old.get(n, "missing") != new.get(n, "missing"))


def vanilla_spark():
    """A driver-like session: NO get_spark() configs beyond local master."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[8]")
        .appName("oracle_check_vanilla")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _take_path(argv: list[str], flag: str) -> str | None:
    """Remove ``flag PATH`` from ``argv`` and return PATH."""
    if flag not in argv:
        return None
    i = argv.index(flag)
    if i + 1 >= len(argv):
        raise SystemExit(f"{flag} needs a path")
    path = argv[i + 1]
    del argv[i : i + 2]
    return path


def main() -> int:
    global LENIENT
    argv = [a for a in sys.argv[1:]]
    vanilla = "--vanilla" in argv
    if vanilla:
        argv.remove("--vanilla")
    if "--lenient" in argv:
        LENIENT = True
        argv.remove("--lenient")
    hashes_out = _take_path(argv, "--hashes")
    against = _take_path(argv, "--against")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import time

    import __spark_entry__ as e

    if vanilla:
        spark = vanilla_spark()
    else:
        from hw_kafka_streams_spark.session import get_spark  # noqa: E402

        spark = get_spark("oracle_check")
    con = duckdb_con(sf_dir)

    qs = e.queries()
    oracles = e.oracle_sql()
    failures = []
    hashes: dict[str, str | None] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            if name not in oracles:
                n = fn(spark, sf_dir).count()
                dt = time.monotonic() - t0
                print(f"  {name:40s} rows-only ({n} rows)  [{dt:5.1f}s]")
                continue
            msgs, hashes[name] = check_query(spark, con, fn, oracles[name], sf_dir)
        except Exception as exc:  # driver records these as err rows
            msgs = [f"ERROR: {type(exc).__name__}: {exc}"]
            hashes[name] = None
        dt = time.monotonic() - t0
        # return per-query persisted intermediates (library operators
        # register them; see hw_kafka_streams_spark/cache.py)
        release_managed_caches()
        print(f"  {name:40s} {'OK' if not msgs else 'MISMATCH'}  [{dt:5.1f}s]")
        for m in msgs:
            print(f"      {str(m)[:500]}")
        if msgs:
            failures.append(name)

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if hashes_out:
        with open(hashes_out, "w") as f:
            json.dump(hashes, f, indent=1, sort_keys=True)
        print(f"{len(hashes)} hashes written to {hashes_out}")
    if against:
        with open(against) as f:
            old = json.load(f)
        if only:
            old = {n: h for n, h in old.items() if n in only}
        changed = diff_hashes(old, hashes)
        for n in changed:
            print(f"  hash differs: {n}  {old.get(n, 'missing')} -> {hashes.get(n, 'missing')}")
        print(f"{len(changed)} of {len(old.keys() | hashes.keys())} hashes differ from {against}")
        failures += changed
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
