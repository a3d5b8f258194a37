"""registry-batch: registry queries run one after another (closed loop,
no streaming).

Seeded tables (perfbench/tables.py) at ``SF`` are written during set-up
and each query's ``oracle_sql()`` is run on them in DuckDB, outside the
timed window. A cold pass over all queries is discarded; passes then
repeat, each in a seeded order, until ``seconds`` have passed (at least
``MIN_PASSES``). Managed caches are released after every run, so each
run starts with none. A query's time is the median of its runs, from
the registry call to the collected result.
"""

from __future__ import annotations

import math
import os
import random

from perfbench import harness as H
from perfbench import tables

#: Scale and query set are sized so two passes fit into one run: at sf0.1,
#: a warm pass over these six plus q5, q7, q_dedup_minhash_lsh,
#: q_bleu_pairs, q_chrf_pairs and q_corpus_build_e2e takes ~40 s on a
#: 4-core host.
SF = 0.01
QUERIES = [
    "q1_pricing_summary",
    "q21_sole_return_supplier",
    "q_semantic_dedup",
    "q_text_quality",
    "q_multimodal_jpeg",
    "q_gorilla_ts_blocks",
]
MIN_PASSES = 2


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return int(v)
    return v


def _sort_key(row):
    return tuple(f"{v:.6g}" if isinstance(v, float) else str(v) for v in row)


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return [cols[i] for i in order], sorted(out, key=_sort_key)


def _same(a, b) -> bool:
    """Equal result sets: same columns, same rows after sorting, floats
    within 1e-9 relative (summation order differs between engines)."""
    (ca, ra), (cb, rb) = a, b
    if ca != cb or len(ra) != len(rb):
        return False
    for x, y in zip(ra, rb):
        for u, v in zip(x, y):
            if isinstance(u, float) or isinstance(v, float):
                if not (isinstance(u, (int, float)) and isinstance(v, (int, float))):
                    return False
                if math.isnan(u) and math.isnan(v):
                    continue
                if not math.isclose(u, v, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif str(u) != str(v):
                return False
    return True


def run(spark, seed: int, seconds: int, tracer, work: str, t_process: float) -> dict:
    import duckdb

    from hw_kafka_streams_spark.cache import release_managed_caches
    from hw_kafka_streams_spark.plans.inspect import exchange_counts
    from hw_kafka_streams_spark.queries import oracle_sql, queries

    data = os.path.join(work, "data")
    rows_by_table = tables.generate(data, SF, seed)
    registry, oracles = queries(), oracle_sql()
    con = duckdb.connect()
    for t in rows_by_table:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    expected = {}
    for name in QUERIES:
        rel = con.execute(oracles[name])
        expected[name] = _canon([d[0] for d in rel.description], rel.fetchall())
    con.close()

    runs: dict[str, list[dict]] = {q: [] for q in QUERIES}
    input_rows: dict[str, int] = {}
    seq = [0]

    def run_once(name: str) -> dict:
        seq[0] += 1
        op = f"{name}#{seq[0]}"
        rec = {"ok": False}
        try:
            with tracer.span("query", op):
                tracer.job_group(spark, f"{op}:build")
                t0 = H.now()
                with tracer.span("queries.build", op):
                    df = registry[name](spark, data)
                t1 = H.now()
                tracer.job_group(spark, f"{op}:exec")
                with tracer.span("spark.exec", op):
                    rows = df.collect()
                t2 = H.now()
            rec.update(build=t1 - t0, exec=t2 - t1, wall=t2 - t0)
            rec["ok"] = _same(_canon(df.columns, [tuple(r) for r in rows]), expected[name])
            if name not in input_rows:
                input_rows[name] = sum(
                    rows_by_table[os.path.basename(f).split(".")[0]]
                    for f in df.inputFiles()
                    if os.path.basename(f).split(".")[0] in rows_by_table
                )
            if tracer.enabled:
                with tracer.bookkeeping():
                    rec["build_jobs"] = tracer.job_counts(spark, f"{op}:build")
                    rec["exec_jobs"] = tracer.job_counts(spark, f"{op}:exec")
                    rec["shuffles"] = exchange_counts(df)[0]
        except Exception as exc:  # a failing query is a failed operation
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        rec["persists"] = release_managed_caches()
        return rec

    for name in QUERIES:
        run_once(name)
    t_window = H.now()
    rng = random.Random(seed)
    passes = 0
    while passes < MIN_PASSES or H.now() - t_window < seconds:
        order = list(QUERIES)
        rng.shuffle(order)
        for name in order:
            runs[name].append(run_once(name))
        passes += 1
    wall_s = H.now() - t_window

    attempted = sum(len(v) for v in runs.values())
    failed = sum(1 for v in runs.values() for r in v if not r["ok"])
    med = {}
    for name, rs in runs.items():
        walls = [r["wall"] for r in rs if "wall" in r]
        med[name] = H.median(walls) if walls else math.inf
    metrics = {
        "setup_s": (t_window - t_process, "s"),
        "latency_p50_ms": (H.median(list(med.values())) * 1e3, "ms"),
        "latency_p99_ms": (H.percentile(list(med.values()), 99) * 1e3, "ms"),
        "rows_per_s": (sum(input_rows.values()) / sum(med.values()), "rows/s"),
        "keepup_ratio": ((attempted - failed) / attempted, "ratio"),
    }
    layers = {}
    if tracer.enabled:
        last = {name: rs[-1] for name, rs in runs.items()}

        def total(key, idx):
            return sum(r[key][idx] for r in last.values() if key in r)

        layers.update(
            {
                "queries.build_s": (
                    sum(H.median([r["build"] for r in rs if "build" in r]) for rs in runs.values()),
                    "s",
                ),
                "queries.eager_jobs": (total("build_jobs", 0), "count"),
                "spark.exec_s": (
                    sum(H.median([r["exec"] for r in rs if "exec" in r]) for rs in runs.values()),
                    "s",
                ),
                "spark.jobs": (total("build_jobs", 0) + total("exec_jobs", 0), "count"),
                "spark.stages": (total("build_jobs", 1) + total("exec_jobs", 1), "count"),
                "spark.tasks": (total("build_jobs", 2) + total("exec_jobs", 2), "count"),
                "plans.shuffles": (sum(r.get("shuffles", 0) for r in last.values()), "count"),
                "cache.managed_persists": (sum(r["persists"] for r in last.values()), "count"),
            }
        )
        for name, r in last.items():
            layers[f"{name}.wall_s"] = (med[name], "s")
            layers[f"{name}.stages"] = (
                r.get("build_jobs", (0, 0))[1] + r.get("exec_jobs", (0, 0))[1],
                "count",
            )
    errors = sorted({r["error"] for rs in runs.values() for r in rs if "error" in r})
    notes = [
        f"registry-batch: {len(QUERIES)} queries at sf{SF:g}, {passes} timed passes "
        f"in {wall_s:.1f} s after one cold pass; {failed} of {attempted} runs failed"
    ] + [f"  error: {e}" for e in errors] + [
        f"  {name}: median {med[name] * 1e3:.0f} ms over {len(runs[name])} runs"
        + ("" if all(r["ok"] for r in runs[name]) else " (MISMATCH)")
        for name in QUERIES
    ]
    return {
        "metrics": metrics,
        "layers": layers,
        "attempted": attempted,
        "failed": failed,
        "valid": True,
        "notes": notes,
        "window_s": wall_s,
    }
