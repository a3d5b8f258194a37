"""Physical-plan introspection helpers.

Correctness on 60k rows says nothing about 100 TB; these helpers make
the scale-critical plan properties inspectable (and assertable in
tests/test_plans.py): did the filter reach the parquet scan, is the
dim join broadcast, how many exchanges (shuffles) does the plan have,
are the hot-path operators inside whole-stage codegen.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Executed physical plan as a string (post-AQE if collected)."""
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    """`explain("formatted")` output, returned instead of printed."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def exchange_counts(df: DataFrame) -> tuple[int, int]:
    """(distinct shuffle exchanges, distinct broadcast exchanges) by
    JVM plan walk with node-id dedup, not by counting ``Exchange`` in
    the plan string, which prints a persisted subtree once per consumer
    and a reused exchange once per reference.

    Descends through AQE wrappers, materialized query stages,
    ReusedExchangeExec (to the original exchange's id), and into each
    InMemoryRelation's cached plan (its shuffles run once, at
    materialization; repeated consumers share node ids so the dedup is
    automatic). Counts ALL shuffle exchanges — hash, range, and
    single-partition — not just hash partitioning.
    """
    return _node_counts(df)[:2]


def _node_counts(df: DataFrame) -> tuple[int, int, int, int]:
    """(shuffles, broadcasts, sort_merge_joins, nested_loop_joins) by
    the node-id-deduped JVM walk — the string-count of a plan with
    persisted subtrees repeats every node once per InMemoryTableScan
    consumer (the r4/r9 inflation class; q_transfer_entropy's plan
    string showed 120 NLJs for what is physically 2 nodes)."""
    root = df._jdf.queryExecution().executedPlan()
    shuffles: set[int] = set()
    broadcasts: set[int] = set()
    smjs: set[int] = set()
    nljs: set[int] = set()
    visited: set[int] = set()
    stack = [root]
    while stack:
        node = stack.pop()
        try:
            nid = node.id()
        except Exception:
            nid = id(node)
        if nid in visited:
            continue
        visited.add(nid)
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if "QueryStageExec" in name:
            try:
                stack.append(node.plan())
                continue
            except Exception:
                pass
        if name == "ReusedExchangeExec":
            # leaf node whose `child` IS the original exchange — chase
            # it so the reuse maps onto the already-counted id
            try:
                stack.append(node.child())
            except Exception:
                pass
            continue
        if name == "InMemoryTableScanExec":
            try:
                stack.append(node.relation().cachedPlan())
            except Exception:
                pass
        if name == "ShuffleExchangeExec":
            shuffles.add(nid)
        elif name == "BroadcastExchangeExec":
            broadcasts.add(nid)
        elif name == "SortMergeJoinExec":
            smjs.add(nid)
        elif "NestedLoop" in name:
            nljs.add(nid)
        ch = node.children()
        for i in range(ch.length()):
            stack.append(ch.apply(i))
    return len(shuffles), len(broadcasts), len(smjs), len(nljs)


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet reader (want: every sargable one)."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        if m.group(1).strip():
            out.extend(s.strip() for s in m.group(1).split(","))
    return out


def read_schema(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (want: exactly the referenced set)."""
    cols: set[str] = set()
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", formatted_plan(df)):
        for field in m.group(1).split(","):
            if ":" in field:
                cols.add(field.split(":")[0].strip())
    return sorted(cols)


def _walk_jvm_plan(node):
    """Depth-first over a JVM SparkPlan, descending into AQE wrappers
    and materialized query stages (py4j objects throughout)."""
    yield node
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _walk_jvm_plan(node.executedPlan())
        return
    if "QueryStageExec" in name:
        try:
            yield from _walk_jvm_plan(node.plan())
            return
        except Exception:
            pass
    ch = node.children()
    for i in range(ch.length()):
        yield from _walk_jvm_plan(ch.apply(i))


def global_window_count(df: DataFrame, execute: bool = True) -> int:
    """Number of WindowExec nodes with an EMPTY partition spec — the
    single-partition scale killer ("WindowExec: No Partition Defined").
    The repo's invariant is 0 in every query: intentionally
    single-partition windows over driver-bounded block tables use
    ``operators.winutil.tiny_table_partition`` so the empty-spec path
    stays a tripwire for accidents.  ``execute=True`` collects first so
    AQE's final plan (the one that actually runs) is inspected.
    """
    if execute:
        df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    n = 0
    for node in _walk_jvm_plan(plan):
        if node.getClass().getSimpleName() in ("WindowExec", "WindowGroupLimitExec"):
            try:
                if node.partitionSpec().isEmpty():
                    n += 1
            except Exception:
                pass
    return n


def window_exec_count(df: DataFrame, execute: bool = True) -> int:
    """Number of WindowExec / WindowGroupLimitExec nodes ANYWHERE in
    the executed plan, descending into AQE wrappers, query stages and
    each InMemoryRelation's cached plan (a window hidden behind a
    ``persist()`` still runs — once, at materialization). Used by plan
    guards that forbid data-keyed windows on Zipfian columns: WindowExec
    gets neither map-side partial aggregation nor AQE skew splitting,
    so a hot key becomes one straggler task at scale (VERDICT r8).
    """
    if execute:
        df.collect()
    root = df._jdf.queryExecution().executedPlan()
    n = 0
    visited: set[int] = set()
    stack = [root]
    while stack:
        node = stack.pop()
        try:
            nid = node.id()
        except Exception:
            nid = id(node)
        if nid in visited:
            continue
        visited.add(nid)
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if "QueryStageExec" in name:
            try:
                stack.append(node.plan())
                continue
            except Exception:
                pass
        if name == "InMemoryTableScanExec":
            try:
                stack.append(node.relation().cachedPlan())
            except Exception:
                pass
        if name in ("WindowExec", "WindowGroupLimitExec"):
            n += 1
        ch = node.children()
        for i in range(ch.length()):
            stack.append(ch.apply(i))
    return n


def _collapse_cached_repeats(plan: str) -> str:
    """Keep only the FIRST InMemoryRelation subtree; drop the repeats.

    `toString` prints the full cached physical plan under EVERY
    InMemoryTableScan consumer, so a persisted subtree with k consumers
    inflates node counts ~k× even though it executes once. Counting on
    the collapsed string reflects the work that actually runs.
    """
    out: list[str] = []
    seen_first = False
    skip_indent: int | None = None
    for line in plan.splitlines():
        # tree depth = length of the drawing prefix (spaces + ':' bars)
        indent = re.match(r"[\s:]*", line).end()
        if skip_indent is not None:
            if indent > skip_indent:
                continue
            skip_indent = None
        if "InMemoryRelation" in line:
            if seen_first:
                skip_indent = indent
                continue
            seen_first = True
        out.append(line)
    return "\n".join(out)


def plan_report(df: DataFrame, execute: bool = False) -> dict:
    """One-look scale review of a plan.

    ``execute=True`` collects first: AQE only materializes the final
    plan (with whole-stage-codegen markers) at execution time.
    Cached-subtree repetitions are collapsed before counting (see
    :func:`_collapse_cached_repeats`); ``cache_reuses`` reports how
    many InMemoryTableScan consumers shared a persisted subtree.

    Metric note (round 10+): ``broadcasts`` counts DEDUPED
    ``BroadcastExchangeExec`` nodes from the JVM plan walk — it
    includes exchanges feeding nested-loop joins and collapses reused
    ones. Rounds <=9 counted ``BroadcastHashJoin`` substring hits in
    the plan string (inflated by cached-subtree repetition); PLANS.md
    numbers are not comparable across that boundary.
    """
    if execute:
        df.collect()
    raw = physical_plan(df)
    plan = _collapse_cached_repeats(raw)
    # broadcasts from the SAME node-id-deduped JVM walk as shuffles —
    # string-counting BroadcastHashJoin repeats a reused/cached subtree
    # once per consumer (the exact inflation _node_counts documents;
    # the r9 PLANS.md showed a nonsense 312 for q_bleu_pairs)
    n_shuffles, n_broadcasts, n_smj, n_nlj = _node_counts(df)
    return {
        "cache_reuses": max(0, raw.count("InMemoryTableScan") - 1),
        "shuffles": n_shuffles,
        "broadcasts": n_broadcasts,
        "sort_merge_joins": n_smj,
        "nested_loop_joins": n_nlj,
        "python_stages": plan.count("EvalPython") + plan.count("MapInPandas"),
        # Arrow-batched pandas UDFs (vectorized, acceptable for numeric
        # kernels) vs row-at-a-time Python UDFs (the true slow path —
        # should stay 0 in every hot plan).
        "arrow_python_stages": plan.count("ArrowEvalPython") + plan.count("MapInPandas"),
        "rowwise_python_stages": plan.count("BatchEvalPython"),
        "wholestage_codegen": bool(re.search(r"\*\(\d+\)", plan)),
        "pushed_filters": pushed_filters(df),
        "read_schema": read_schema(df),
    }
