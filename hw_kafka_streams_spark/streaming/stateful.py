"""Custom stateful streaming operators (applyInPandasWithState).

The reference's only stateful pattern is a replicated KV lookup
(GlobalKTable, covered by broadcast joins in pipeline.py). These
operators cover the *general* per-key mutable state surface the
engine must offer — the Spark analog of a Kafka Streams
``Processor`` with a local ``KeyValueStore``.

Scale notes: state lives in the executor state store partitioned by
the grouping key (one shuffle on key), checkpointed per batch;
timeouts bound state lifetime. Arrow moves batches to Python — the
per-key logic is pandas-vectorized, not per-row.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import StatefulProcessor

RUNNING_COUNT_SCHEMA = "key string, n_total bigint"
RUNNING_COUNT_STATE = "n bigint"


def _running_count_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n = state.get[0] if state.exists else 0
    for pdf in pdfs:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame({"key": [key[0]], "n_total": [n]})


def running_counts(df: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Per-key running event count across microbatches.

    Emits one (key, n_total) row per key per batch, where n_total
    accumulates over the stream's lifetime — state a plain windowed agg
    cannot express (no window bound). Batch DataFrames degrade to a
    plain groupBy count (state is meaningless in one pass).
    """
    if not df.isStreaming:
        import pyspark.sql.functions as F

        return df.groupBy(F.col(key_col).alias("key")).agg(
            F.count(F.lit(1)).alias("n_total")
        )
    return (
        df.groupBy(key_col)
        .applyInPandasWithState(
            _running_count_fn,
            outputStructType=RUNNING_COUNT_SCHEMA,
            stateStructType=RUNNING_COUNT_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


MG_OUTPUT_SCHEMA = "shard int, token string, est_count bigint, shard_rows bigint"
MG_STATE_SCHEMA = "tokens array<string>, counts array<bigint>, n_rows bigint"


def _make_mg_fn(k: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            tokens, counts, n_rows = state.get
            summary = dict(zip(tokens, counts))
        else:
            summary, n_rows = {}, 0
        for pdf in pdfs:
            # batch pre-aggregate (vectorized), then fold into the summary
            for tok, cnt in pdf["token"].value_counts().items():
                n_rows += int(cnt)
                if tok in summary:
                    summary[tok] += int(cnt)
                elif len(summary) < k:
                    summary[tok] = int(cnt)
                else:
                    # Misra-Gries decrement: charge min(cnt, current min)
                    # to every counter; survivors keep the remainder
                    dec = min(int(cnt), min(summary.values()))
                    summary = {
                        t: c - dec for t, c in summary.items() if c - dec > 0
                    }
                    if int(cnt) - dec > 0 and len(summary) < k:
                        summary[tok] = int(cnt) - dec
        state.update((list(summary), [summary[t] for t in summary], n_rows))
        out = pd.DataFrame(
            {
                "shard": key[0],
                "token": list(summary),
                "est_count": [summary[t] for t in summary],
                "shard_rows": n_rows,
            }
        )
        yield out

    return fn


def streaming_heavy_hitters(
    df: DataFrame, token_col: str = "token", k: int = 16, n_shards: int = 8
) -> DataFrame:
    """Streaming heavy hitters via sharded Misra-Gries summaries.

    Tokens hash-route to ``n_shards`` state shards; each shard keeps at
    most ``k`` counters (bounded state REGARDLESS of vocabulary size —
    the property the exact batch aggregation in q_heavy_hitters lacks
    on an unbounded stream). Any token with true shard frequency
    > shard_rows/k is guaranteed present, with
    est_count ∈ [true - shard_rows/k, true]. Because routing is
    hash-deterministic, a token lives in exactly ONE shard, so the
    per-shard guarantee IS the global guarantee with threshold
    shard_rows/k per shard. Each microbatch is pandas-pre-aggregated
    (value_counts) before the O(distinct) summary fold.
    """
    import pyspark.sql.functions as F

    routed = df.select(
        F.pmod(F.xxhash64(F.col(token_col)), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
        F.col(token_col).cast("string").alias("token"),
    )
    return routed.groupBy("shard").applyInPandasWithState(
        _make_mg_fn(k),
        outputStructType=MG_OUTPUT_SCHEMA,
        stateStructType=MG_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class _SessionTimeoutProcessor(StatefulProcessor):
    """transformWithStateInPandas processor: per-key session tracking
    with a processing-time inactivity timer.

    State: one ValueState row (start_ms, last_ms, n_events, total).
    Each input batch merges into it and re-arms a single timer at
    now + gap; when the timer fires with no intervening activity the
    closed session is EMITTED and state cleared — push-based session
    close, which applyInPandasWithState can only approximate by waiting
    for the next batch that happens to touch the key. State is bounded
    at one row + one timer per ACTIVE key, independent of history.
    """

    def __init__(self, gap_ms: int, value_col: str = "value"):
        self.gap_ms = gap_ms
        self.value_col = value_col

    def init(self, handle) -> None:
        self.handle = handle
        self.state = handle.getValueState(
            "session", "start_ms long, last_ms long, n_events long, total double"
        )

    def handleInputRows(self, key, rows, timerValues):
        n = 0
        total = 0.0
        for pdf in rows:
            n += len(pdf)
            total += float(pdf[self.value_col].sum())
        now = timerValues.getCurrentProcessingTimeInMs()
        if self.state.exists():
            start_ms, _, pn, ptotal = self.state.get()
            self.state.update((start_ms, now, pn + n, ptotal + total))
        else:
            self.state.update((now, now, n, total))
        # One live timer per key: re-arm on every batch of activity.
        for t in self.handle.listTimers():
            self.handle.deleteTimer(t)
        self.handle.registerTimer(now + self.gap_ms)
        return iter([])

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        import pandas as pd

        if not self.state.exists():
            return iter([])
        start_ms, last_ms, n_events, total = self.state.get()
        self.state.clear()
        return iter(
            [
                pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "n_events": [n_events],
                        "total": [float(total)],
                        "duration_ms": [last_ms - start_ms],
                    }
                )
            ]
        )

    def close(self) -> None:
        pass


def sessions_with_timeout(
    df: DataFrame,
    gap_ms: int = 2_000,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Timer-closed sessions via ``transformWithStateInPandas`` (the
    Spark 4 arbitrary-state API): a session's summary row is emitted BY
    THE TIMER when the key goes quiet for ``gap_ms`` — no later event
    on that key is needed to flush it.

    Requires the RocksDB state store provider (set in the session conf
    by callers/tests; transformWithState does not run on the default
    HDFS-backed provider) and the ``google.protobuf`` package (the
    Python<->JVM state-server protocol is protobuf-encoded; absent in
    this container, so execution is environment-gated — plan
    construction and schema are tested, the timer semantics test
    auto-skips, honestly labeled). Scale: state is (one row + one
    timer) per active key, partitioned by key hash across executors;
    inactive keys hold no state, so this survives unbounded key churn.
    """
    return df.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=_SessionTimeoutProcessor(gap_ms, value_col),
        outputStructType="user_id long, n_events long, total double, duration_ms long",
        outputMode="append",
        timeMode="processingTime",
    )


RESERVOIR_OUTPUT_SCHEMA = (
    "key string, sample_id bigint, h bigint, n_seen bigint"
)
RESERVOIR_STATE_SCHEMA = "hs array<bigint>, ids array<bigint>, n_seen bigint"


def _make_reservoir_fn(k: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            hs, ids, n_seen = state.get
            pool = list(zip(hs, ids))
        else:
            pool, n_seen = [], 0
        for pdf in pdfs:
            n_seen += len(pdf)
            pool.extend(zip(pdf["h"].astype(int), pdf["id"].astype(int)))
            if len(pool) > k:
                pool = sorted(pool)[:k]
        pool = sorted(pool)[:k]
        state.update(
            ([h for h, _ in pool], [i for _, i in pool], int(n_seen))
        )
        yield pd.DataFrame(
            {
                "key": key[0],
                "sample_id": [i for _, i in pool],
                "h": [h for h, _ in pool],
                "n_seen": int(n_seen),
            }
        )

    return fn


def streaming_reservoir_sample(
    df: DataFrame,
    key_col: str,
    id_col: str,
    k: int = 8,
) -> DataFrame:
    """Per-key uniform k-sample over an UNBOUNDED stream via a bottom-k
    hash sketch in applyInPandasWithState.

    The reservoir is the k items with the smallest stable hash of their
    id — bottom-k by a uniform hash IS a uniform k-subset without
    replacement, and unlike algorithm-R it is (a) mergeable (merge =
    union then re-take bottom-k, so micro-batch order cannot matter),
    (b) content-stable (reruns/replays pick the SAME sample — no
    ``rand()``), and (c) exactly equal to the batch
    ``operators/sampling.reservoir_per_key`` run over everything the
    stream has seen, which makes the streaming operator testable
    against its batch twin. State is bounded at k (hash, id) pairs plus
    one counter per key, independent of stream length.

    Emits each key's current reservoir + items-seen count per batch
    (update mode).
    """
    import pyspark.sql.functions as F

    prepared = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(id_col).cast("long").alias("id"),
        F.xxhash64(F.col(id_col).cast("long")).alias("h"),
    )
    return prepared.groupBy("key").applyInPandasWithState(
        _make_reservoir_fn(k),
        outputStructType=RESERVOIR_OUTPUT_SCHEMA,
        stateStructType=RESERVOIR_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


DECAYED_OUTPUT_SCHEMA = (
    "key string, decayed_score double, n_total bigint, last_ts_us bigint"
)
DECAYED_STATE_SCHEMA = "score double, last_us bigint, n bigint"


def _make_decayed_fn(half_life_us: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        score, last_us, n = state.get if state.exists else (0.0, 0, 0)
        rows = pd.concat(list(pdfs), ignore_index=True)
        # event-time order inside the batch (ties by id) so replays of
        # the same batch contents produce the same state no matter how
        # the source partitioned them
        rows = rows.sort_values(["ts_us", "id"], kind="mergesort")
        for t in rows["ts_us"]:
            t = int(t)
            if n:
                dt = t - last_us
                if dt > 0:
                    score *= 2.0 ** (-dt / half_life_us)
                    last_us = t
                # late/equal arrivals fold in at the current horizon:
                # the score is an at-horizon estimate, not a resort
            else:
                last_us = t
            score += 1.0
            n += 1
        state.update((float(score), int(last_us), int(n)))
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "decayed_score": [float(score)],
                "n_total": [n],
                "last_ts_us": [int(last_us)],
            }
        )

    return fn


def streaming_decayed_counts(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    half_life_hours: float = 168.0,
) -> DataFrame:
    """Per-key EVENT-TIME-decayed activity score over an unbounded
    stream — the streaming twin of q_decayed_heavy_hitters' recency-
    weighted ranking, kept as O(1) state per key instead of a
    re-aggregation: on each arrival the score decays multiplicatively
    ``2^(-Δt/half_life)`` from the key's last event time, then +1.

    State is three scalars per key (score, horizon, count) — bounded
    regardless of stream length; within a batch rows fold in event-time
    order (ties by id) so a replayed batch reproduces the same state
    whatever the source partitioning. The emitted ``decayed_score`` is
    the estimate AT the key's latest event time; ranking keys at a
    common wall-clock horizon just multiplies each by
    ``2^(-(now-last_ts)/half_life)`` — a stateless projection the
    reader applies, so the stored state never needs clock access.
    """
    import pyspark.sql.functions as F

    half_life_us = int(half_life_hours * 3600 * 1_000_000)
    prepared = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.col(id_col).cast("long").alias("id"),
    )
    if not df.isStreaming:
        # batch degrade: the same per-key event-time fold over the
        # whole input as one giant micro-batch (applyInPandas — no
        # cross-batch state to carry)
        def batch_fold(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(["ts_us", "id"], kind="mergesort")
            score, last_us, n = 0.0, 0, 0
            for t in pdf["ts_us"]:
                t = int(t)
                if n:
                    dt = t - last_us
                    if dt > 0:
                        score *= 2.0 ** (-dt / half_life_us)
                        last_us = t
                else:
                    last_us = t
                score += 1.0
                n += 1
            return pd.DataFrame(
                {
                    "key": [pdf["key"].iloc[0]],
                    "decayed_score": [float(score)],
                    "n_total": [n],
                    "last_ts_us": [int(last_us)],
                }
            )

        return prepared.groupBy("key").applyInPandas(
            batch_fold, schema=DECAYED_OUTPUT_SCHEMA
        )
    return prepared.groupBy("key").applyInPandasWithState(
        _make_decayed_fn(half_life_us),
        outputStructType=DECAYED_OUTPUT_SCHEMA,
        stateStructType=DECAYED_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


QUOTA_SCHEMA = "key string, admitted long, throttled long, quota_left long"
QUOTA_STATE = "used long"


def _make_quota_fn(quota: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        used = state.get[0] if state.exists else 0
        arrived = 0
        for pdf in pdfs:
            arrived += len(pdf)
        admit = max(0, min(arrived, quota - used))
        used += admit
        state.update((used,))
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "admitted": [admit],
                "throttled": [arrived - admit],
                "quota_left": [max(0, quota - used)],
            }
        )

    return fn


def keyed_quota(df: DataFrame, quota: int, key_col: str = "user_id") -> DataFrame:
    """Cross-batch per-key admission quota (token-bucket with no
    refill): each key may ADMIT at most ``quota`` rows over the
    stream's lifetime; later arrivals count as throttled. The
    ingestion-control primitive for a shared 100 TB/day intake — a
    per-tenant cap that survives micro-batch boundaries, which no
    windowed aggregate can express (the state has no window bound).
    Emits one (key, admitted, throttled, quota_left) row per key per
    batch; admission is batch-granular here (row-level admission would
    carry row ids through the state function — same shape, more
    columns). Batch DataFrames degrade to a single-pass groupBy with
    the same admit/throttle arithmetic.
    """
    if not df.isStreaming:
        import pyspark.sql.functions as F

        n = F.count(F.lit(1))
        return df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
            F.least(n, F.lit(quota)).alias("admitted"),
            F.greatest(n - quota, F.lit(0)).alias("throttled"),
            F.greatest(F.lit(quota) - n, F.lit(0)).alias("quota_left"),
        )
    import pyspark.sql.functions as F

    keyed = df.withColumn(key_col, F.col(key_col).cast("string"))
    return keyed.groupBy(key_col).applyInPandasWithState(
        _make_quota_fn(quota),
        outputStructType=QUOTA_SCHEMA,
        stateStructType=QUOTA_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EWMA_OUTPUT_SCHEMA = (
    "key string, n_total bigint, ewma double, ewm_std double, "
    "n_alerts bigint, last_alert_value double"
)
EWMA_STATE_SCHEMA = (
    "mean double, var double, n bigint, n_alerts bigint, "
    "last_alert double"
)


def _make_ewma_fn(alpha: float, k_sigma: float, warmup: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # last_alert rides in the state tuple: without it a batch with
        # no NEW alert reported null last_alert_value while the
        # cumulative n_alerts said alerts happened (ADVICE r9)
        mean, var, n, n_alerts, last_alert = (
            state.get if state.exists else (0.0, 0.0, 0, 0, None)
        )
        rows = pd.concat(list(pdfs), ignore_index=True)
        # event-time order (ties by id) — replayed batch contents
        # reproduce the same state whatever the source partitioning
        rows = rows.sort_values(["ts_us", "id"], kind="mergesort")
        for v in rows["v"]:
            v = float(v)
            if n == 0:
                mean, var = v, 0.0
            else:
                diff = v - mean
                # West (1979) exponentially-weighted moments: the
                # deviation is judged against the PRE-update spread,
                # so a spike cannot mask itself
                if n >= warmup and diff * diff > (
                    k_sigma * k_sigma
                ) * max(var, 1e-12):
                    n_alerts += 1
                    last_alert = v
                incr = alpha * diff
                mean = mean + incr
                var = (1.0 - alpha) * (var + diff * incr)
            n += 1
        state.update(
            (
                float(mean),
                float(var),
                int(n),
                int(n_alerts),
                None if last_alert is None else float(last_alert),
            )
        )
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n_total": [n],
                "ewma": [float(mean)],
                "ewm_std": [float(var) ** 0.5],
                "n_alerts": [n_alerts],
                "last_alert_value": [last_alert],
            }
        )

    return fn


def streaming_ewma_anomaly(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    alpha: float = 0.1,
    k_sigma: float = 4.0,
    warmup: int = 8,
) -> DataFrame:
    """Per-key EWMA anomaly monitor over an unbounded stream — the
    telemetry alerting op (latency spikes, metric drift) as O(1) state
    per key: exponentially-weighted mean AND variance (West 1979
    update), alerting when an arrival deviates from the pre-update
    mean by more than ``k_sigma`` pre-update standard deviations after
    a ``warmup`` arrival count (the cold-start guard — the first few
    values define the baseline, they cannot be anomalies against it).

    Why stateful-custom and not a windowed agg: the baseline is
    EXPONENTIAL over the key's whole history (no window bound), and
    the alert decision needs the running moments AT each arrival, not
    a per-window summary. State is four scalars per key — bounded
    regardless of stream length; within a batch rows fold in
    event-time order (ties by id) so replays reproduce the same
    state. Emits one summary row per key per batch (update mode).

    Batch DataFrames degrade to the same fold via ``applyInPandas``
    (one giant micro-batch, no cross-batch state).
    """
    import pyspark.sql.functions as F

    prepared = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.col(id_col).cast("long").alias("id"),
        F.col(value_col).cast("double").alias("v"),
    )
    if not df.isStreaming:
        fn = _make_ewma_fn(alpha, k_sigma, warmup)

        def batch_fold(pdf: pd.DataFrame) -> pd.DataFrame:
            class _FakeState:
                exists = False
                hasTimedOut = False

                def update(self, t):
                    pass

            out = list(fn((pdf["key"].iloc[0],), iter([pdf]), _FakeState()))
            return out[0]

        return prepared.groupBy("key").applyInPandas(
            batch_fold, schema=EWMA_OUTPUT_SCHEMA
        )
    return prepared.groupBy("key").applyInPandasWithState(
        _make_ewma_fn(alpha, k_sigma, warmup),
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SPRT_OUTPUT_SCHEMA = (
    "key string, n_total bigint, n_succ bigint, llr double, "
    "decision string, n_at_decision bigint"
)
SPRT_STATE_SCHEMA = (
    "ns bigint, n bigint, decision string, n_at_decision bigint"
)


def _make_sprt_fn(p0: float, p1: float, alpha: float, beta: float):
    import math

    l1 = math.log(p1 / p0)
    l0 = math.log((1.0 - p1) / (1.0 - p0))
    a_hi = math.log((1.0 - beta) / alpha)
    a_lo = math.log(beta / (1.0 - alpha))

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        ns, n, decision, n_at = (
            state.get if state.exists else (0, 0, "continue", None)
        )
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts_us", "id"], kind="mergesort")
        for s in rows["s"]:
            n += 1
            ns += int(s)
            if decision == "continue":
                # LLR from the INTEGER counts — no running float state,
                # so replays and the batch twin are bit-identical
                llr = ns * l1 + (n - ns) * l0
                if llr >= a_hi:
                    decision, n_at = "H1", n
                elif llr <= a_lo:
                    decision, n_at = "H0", n
        state.update((int(ns), int(n), decision, n_at))
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n_total": [n],
                "n_succ": [ns],
                "llr": [ns * l1 + (n - ns) * l0],
                "decision": [decision],
                "n_at_decision": [n_at],
            }
        )

    return fn


def streaming_sprt_monitor(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    success_col: str,
    p0: float = 0.5,
    p1: float = 0.6,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> DataFrame:
    """Per-key Wald SPRT over an unbounded stream — the ONLINE twin of
    the batch ``q_sprt_audit``: each arrival updates integer
    (successes, total) state, the cumulative log-likelihood ratio is
    recomputed from those counts (never carried as a float), and the
    first boundary crossing LATCHES the decision with its sample
    number — exactly how a sequential experiment monitor stops.

    Why stateful-custom: the decision depends on the key's entire
    arrival history and must latch at the first crossing; a windowed
    aggregate sees neither. State is three scalars + a label per key,
    bounded forever; within a batch rows fold in event-time order
    (ties by id) so replays reproduce the same stopping point. Emits
    one summary row per key per batch (update mode).

    Batch DataFrames degrade to the identical fold via
    ``applyInPandas``, which is how the equality test pins the
    semantics (the q_sprt_audit oracle covers the batch math).
    """
    import pyspark.sql.functions as F

    prepared = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.col(id_col).cast("long").alias("id"),
        F.col(success_col).cast("int").alias("s"),
    )
    fn = _make_sprt_fn(p0, p1, alpha, beta)
    if not df.isStreaming:

        def batch_fold(pdf: pd.DataFrame) -> pd.DataFrame:
            class _FakeState:
                exists = False
                hasTimedOut = False

                def update(self, t):
                    pass

            out = list(fn((pdf["key"].iloc[0],), iter([pdf]), _FakeState()))
            return out[0]

        return prepared.groupBy("key").applyInPandas(
            batch_fold, schema=SPRT_OUTPUT_SCHEMA
        )
    return prepared.groupBy("key").applyInPandasWithState(
        fn,
        outputStructType=SPRT_OUTPUT_SCHEMA,
        stateStructType=SPRT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


PH_OUTPUT_SCHEMA = (
    "key string, n_total bigint, ph double, n_alarm_points bigint, "
    "first_alarm_n bigint"
)
PH_STATE_SCHEMA = (
    "n bigint, cum double, m double, min_m double, n_alarms bigint, "
    "first_alarm_n bigint"
)


def _make_ph_fn(delta: float, lam: float):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, cum, m, min_m, n_alarms, first_alarm = (
            state.get if state.exists else (0, 0.0, 0.0, 0.0, 0, None)
        )
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts_us", "id"], kind="mergesort")
        for v in rows["v"]:
            v = float(v)
            n += 1
            cum += v
            # deviation against the RUNNING mean INCLUDING v — the
            # calibration-free property that distinguishes PH from
            # CUSUM's fixed reference (Page 1954)
            m += v - cum / n - delta
            if m < min_m:
                min_m = m
            if m - min_m > lam:
                n_alarms += 1
                if first_alarm is None:
                    first_alarm = n
        state.update(
            (
                int(n),
                float(cum),
                float(m),
                float(min_m),
                int(n_alarms),
                None if first_alarm is None else int(first_alarm),
            )
        )
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n_total": [n],
                "ph": [float(m - min_m)],
                "n_alarm_points": [n_alarms],
                "first_alarm_n": [first_alarm],
            }
        )

    return fn


def streaming_page_hinkley(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    delta: float = 0.05,
    lam: float = 10.0,
) -> DataFrame:
    """Per-key Page-Hinkley upward mean-shift monitor over an
    unbounded stream — the streaming twin of the batch
    ``q_page_hinkley`` query: m_t = sum(x_s - xbar_s - delta) against
    its running minimum, alarm while m - min(m) > lambda. Unlike
    :func:`streaming_ewma_anomaly` (pointwise spike vs exponential
    baseline) PH accumulates SMALL persistent shifts of the mean —
    the drift detector for data-quality regressions that never spike.

    Why stateful-custom: the running mean is over the key's whole
    history and the minimum is over the whole m trajectory — neither
    is windowable. State is four scalars + two counters per key;
    within a batch rows fold in event-time order (ties by id) so
    replays reproduce the same state. Emits one summary row per key
    per batch (update mode); batch DataFrames degrade to the same
    fold via ``applyInPandas``.
    """
    import pyspark.sql.functions as F

    prepared = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.col(id_col).cast("long").alias("id"),
        F.col(value_col).cast("double").alias("v"),
    )
    fn = _make_ph_fn(delta, lam)
    if not df.isStreaming:

        def batch_fold(pdf: pd.DataFrame) -> pd.DataFrame:
            class _FakeState:
                exists = False
                hasTimedOut = False

                def update(self, t):
                    pass

            out = list(fn((pdf["key"].iloc[0],), iter([pdf]), _FakeState()))
            return out[0]

        return prepared.groupBy("key").applyInPandas(
            batch_fold, schema=PH_OUTPUT_SCHEMA
        )
    return prepared.groupBy("key").applyInPandasWithState(
        fn,
        outputStructType=PH_OUTPUT_SCHEMA,
        stateStructType=PH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
