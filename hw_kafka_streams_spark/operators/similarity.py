"""Similarity search over embedding columns (array<float>).

Baseline: exact brute-force cosine top-k — broadcast the (small) query
set against the corpus, JVM-side dot products, ranked window per query.
Scale path: random-hyperplane LSH — constant-size bit signature per
vector, bucket equi-join prunes the candidate set, exact cosine only on
candidates. Embedding-cosine near-dup reuses the same kernel corpus ×
corpus with a blocking key.

Vector kernels are Arrow-batched pandas UDFs (numpy matmul per batch,
float64 accumulation): Spark's array HigherOrderFunction expressions
(``aggregate``/``zip_with``) are CodegenFallback — interpreted per
element — which made the cosine kernel the hot spot at scale. A numpy
batch kernel does the same math 10-100× faster per Arrow batch. The
expression forms are kept below (``dot``/``l2_norm``/``cosine``) for
plan-literal uses (tiny centroid/plane sets) and tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from hw_kafka_streams_spark.cache import managed_persist


def _stack(s: pd.Series) -> np.ndarray:
    """Arrow list column batch -> (n, dim) float64 matrix."""
    return np.array(s.tolist(), dtype=np.float64)


def cosine_arrow(a: Column, b: Column) -> Column:
    """Batched exact cosine of two array columns (Arrow pandas UDF).

    Built lazily per call: module-level ``@pandas_udf`` breaks
    executor-side module import (round-1 lesson).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(pa: pd.Series, pb: pd.Series) -> pd.Series:
        if len(pa) == 0:
            return pd.Series([], dtype="float64")
        A, B = _stack(pa), _stack(pb)
        num = np.einsum("ij,ij->i", A, B)
        den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(
            np.einsum("ij,ij->i", B, B)
        )
        return pd.Series(num / den)

    return _cos(a, b)


def rhp_signature_arrow(vec: Column, planes: list[list[float]]) -> Column:
    """Batched random-hyperplane signature: one (batch × planes) matmul
    per Arrow batch instead of n_planes interpreted HOF folds per row."""
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64)  # (n_planes, dim)
    weights = (np.int64(1) << np.arange(P.shape[0], dtype=np.int64))

    @pandas_udf("long")
    def _sig(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        bits = (_stack(v) @ P.T) > 0
        return pd.Series(bits.astype(np.int64) @ weights)

    return _sig(vec)


def rhp_band_buckets_arrow(
    vec: Column, planes: list[list[float]], n_bands: int, planes_per_band: int
) -> Column:
    """All banded RHP buckets in ONE (batch × planes) matmul.

    Returns array<long> of length ``n_bands`` — bucket i is the packed
    ``planes_per_band``-bit signature of band i, identical packing to
    :func:`rhp_signature` over ``planes[i*r:(i+1)*r]``. One Arrow UDF
    eval replaces ``n_bands × planes_per_band`` interpreted HOF folds
    per row.
    """
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64)  # (n_bands*r, dim)
    assert P.shape[0] == n_bands * planes_per_band
    weights = 1 << np.arange(planes_per_band, dtype=np.int64)

    @pandas_udf("array<long>")
    def _bands(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        bits = (_stack(v) @ P.T) > 0  # (n, n_bands*r)
        buckets = bits.reshape(len(v), n_bands, planes_per_band).astype(np.int64) @ weights
        return pd.Series(list(buckets))

    return _bands(vec)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns, float64 accumulation."""
    ad = a.cast("array<double>")
    bd = b.cast("array<double>")
    return dot(ad, bd) / (l2_norm(ad) * l2_norm(bd))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Plan shape: broadcast(queries) × corpus → Arrow-batched numpy cosine
    → per-query ranked window. At 100 TB the corpus is
    partition-parallel and the query side stays broadcast; the window's
    partition key is query_id so the top-k shuffle moves only
    (n_queries × k × partitions) rows after AQE's partial top-k.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_arrow(F.col("qvec"), F.col("cvec")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


# Deterministic random hyperplanes (seeded numpy; same planes on every
# executor because they're baked into the plan as literals).
def _hyperplanes(n_planes: int, dim: int, seed: int = 13) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def rhp_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: bit j = sign(<v, r_j>), packed long."""
    vd = vec.cast("array<double>")
    bits = [
        F.when(dot(vd, F.array(*[F.lit(float(x)) for x in plane])) > 0, 1).otherwise(0)
        for plane in planes
    ]
    sig = F.lit(0).cast("long")
    for j, b in enumerate(bits):
        sig = sig.bitwiseOR(F.shiftleft(b.cast("long"), j))
    return sig


def lsh_planes_for(rows: int) -> tuple[int, int]:
    """Auto-scaled LSH geometry: (n_planes, probe_radius) for a corpus
    of ``rows`` vectors.

    ``n_planes = max(6, ceil(log2(rows / 32)))`` keeps expected bucket
    occupancy near 32 as the corpus grows — the prune factor scales
    WITH the data instead of decaying (at 6 fixed planes a 100× corpus
    puts 100× more vectors in every bucket). Extra planes shrink
    per-bucket recall, so past 6 planes the multi-probe radius widens
    to 2 (own bucket + all 1- and 2-bit flips): probe count
    1 + n + n(n-1)/2 stays tiny vs 2^n buckets while restoring the
    hamming-miss tolerance the narrower buckets cost. Capped at 24
    planes (16.7M buckets — beyond that, occupancy targeting is no
    longer the binding constraint). At every driver test SF
    (20/200/2000 rows) the formula lands exactly on the legacy
    (6, radius-1) geometry, so the value-hash oracle is unchanged.
    """
    import math

    n = max(6, math.ceil(math.log2(max(rows, 1) / 32))) if rows > 32 else 6
    n = min(n, 24)
    return n, (1 if n <= 6 else 2)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    dim: int = 64,
    probe_radius: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share the LSH bucket (or differ in
    at most ``probe_radius`` bits — multi-probe), exact cosine only on
    candidates.

    ``n_planes=None`` (default) auto-scales the geometry from the
    corpus row count via :func:`lsh_planes_for` — one metadata-cheap
    count, then planes are plan literals as before. At 6 planes the
    corpus splits into ≤64 buckets and multi-probe(1) probes 7 per
    query (candidates ≈ corpus/64 × 7, ~9× pruned); at 10×-bench scale
    the formula yields 10 planes / radius 2 → 56 of 1024 buckets
    probed, ~5% candidate fraction with recall@10 ≥ 0.9 (SCALING.md
    recall audit).
    """
    if n_planes is None:
        n_planes, auto_radius = lsh_planes_for(corpus.count())
        if probe_radius is None:
            probe_radius = auto_radius
    if probe_radius is None:
        probe_radius = 1 if n_planes <= 6 else 2
    planes = _hyperplanes(n_planes, dim)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        rhp_signature_arrow(F.col(vec_col), planes).alias("qsig"),
    )
    # multi-probe: query probes its own bucket, each 1-bit flip, and
    # (radius 2) each 2-bit flip — flip masks are plan literals
    masks = [1 << j for j in range(n_planes)]
    if probe_radius >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    probes = F.array(
        F.col("qsig"),
        *[F.col("qsig").bitwiseXOR(F.lit(m).cast("long")) for m in masks],
    )
    q_probed = q.select("query_id", "qvec", F.explode(probes).alias("bucket"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        rhp_signature_arrow(F.col(vec_col), planes).alias("bucket"),
    )
    cand = (
        c.join(F.broadcast(q_probed), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_arrow(F.col("qvec"), F.col("cvec")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


def ivf_geometry_for(rows: int) -> tuple[int, int]:
    """Auto-scaled IVF geometry: (n_centroids, n_probe) for a corpus
    of ``rows`` vectors.

    Below 2048 rows the legacy (16 centroids, 4 probes) geometry is
    returned — every driver test SF lands here, so value-hash oracles
    are unchanged. Past that, ``n_centroids = 2^ceil(log2(sqrt(n)))``
    (the nlist ~ sqrt(n) rule from Johnson et al., billion-scale
    similarity search, rounded to a power of two and capped at 4096)
    and ``n_probe = max(4, n_centroids / 16)``, which pins the
    expected corpus-scan fraction at ~6% (<= 10% at any scale) instead
    of the fixed default's 25%: at 100x the data a probe still reads a
    CONSTANT fraction, and the per-list occupancy n/n_centroids grows
    only as sqrt(n).
    """
    import math

    if rows <= 2048:
        return 16, 4
    n_c = min(4096, 2 ** math.ceil(math.log2(math.sqrt(rows))))
    return n_c, max(4, n_c // 16)


def topk_centroids_arrow(
    vec: Column, centroids: list[list[float]], n_probe: int
) -> Column:
    """Top-``n_probe`` centroid ids by cosine, one batched (n × k × d)
    matmul per Arrow batch (ties → smaller cid, stable argsort — the
    same order as the plan-literal ``array_sort`` path). The probe
    kernel for auto-scaled IVF: at 256+ centroids a plan-literal
    scoring expression is tens of thousands of Catalyst nodes, while
    this stays one numpy matmul regardless of k."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)  # (k, dim)
    cn = np.linalg.norm(C, axis=1)
    Cn = C / np.where(cn == 0, 1.0, cn)[:, None]
    take = min(n_probe, len(centroids))

    @pandas_udf("array<int>")
    def _probe(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        A = _stack(v).astype(np.float64)  # (n, dim)
        an = np.linalg.norm(A, axis=1)
        sims = (A / np.where(an == 0, 1.0, an)[:, None]) @ Cn.T  # (n, k)
        order = np.argsort(-sims, axis=1, kind="stable")[:, :take]
        return pd.Series(list(order.astype("int32")))

    return _probe(vec)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    n_probe: int | None = None,
    seed: int = 13,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) partitioning.

    Train: k-means (pyspark.ml, distributed) over the corpus → centroid
    table. Index: assign every corpus vector to its nearest centroid —
    at scale this is the partition/bucket layout you'd persist (cluster
    the parquet by centroid id, so a probe reads only matching files).
    Search: each query scores the (tiny, plan-literal) centroid set,
    keeps the best ``n_probe``, and only scans those inverted lists —
    an equi-join on centroid id, exact cosine re-rank after.

    Corpus scanned fraction ≈ n_probe / n_centroids; recall grows with
    n_probe — the standard IVF trade (Johnson et al., billion-scale
    similarity search). ``n_centroids=None`` (default) auto-scales the
    geometry from the corpus row count via :func:`ivf_geometry_for`
    (legacy 16/4 at every driver SF; ~sqrt(n) lists with a pinned ~6%
    scan fraction beyond) and probes via the Arrow kernel when the
    centroid set is too large for plan-literal scoring.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if n_centroids is None:
        auto_c, auto_p = ivf_geometry_for(corpus.count())
        n_centroids = auto_c
        if n_probe is None:
            n_probe = auto_p
    if n_probe is None:
        n_probe = max(4, n_centroids // 16) if n_centroids > 32 else 4

    feat = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=10).fit(feat)
    indexed = model.transform(feat).select(
        "neighbor_id", "cvec", F.col("prediction").alias("cid")
    )

    centroids = [c.tolist() for c in model.clusterCenters()]

    def _centroid_col(c: list[float]):
        return F.array(*[F.lit(float(x)) for x in c])

    # score all centroids per query, keep the n_probe nearest (by
    # cosine), explode to (query, cid). Small centroid sets score as
    # JVM expressions over plan literals (the legacy, oracle-stable
    # plan); large auto-scaled sets use the Arrow matmul kernel — a
    # 256-centroid literal expression is ~50k Catalyst nodes.
    qbase = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    if n_centroids <= 32:
        qv = F.col("qvec").cast("array<double>")
        scored = F.array(
            *[
                F.struct(
                    (-cosine(qv, _centroid_col(c))).alias("negsim"),
                    F.lit(i).alias("cid"),
                )
                for i, c in enumerate(centroids)
            ]
        )
        probes = F.slice(F.array_sort(scored), 1, n_probe)
        q = qbase.select(
            "query_id", "qvec", F.explode(probes).alias("p")
        ).select("query_id", "qvec", F.col("p.cid").alias("cid"))
    else:
        q = qbase.select(
            "query_id",
            "qvec",
            F.explode(
                topk_centroids_arrow(F.col("qvec"), centroids, n_probe)
            ).alias("cid"),
        )

    cand = (
        indexed.join(F.broadcast(q), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_arrow(F.col("qvec"), F.col("cvec")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


def nearest_centroid_arrow(vec: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid id by squared L2 (ties → smaller cid, numpy
    argmin). One batched (n × k × d) distance computation per Arrow
    batch — the assignment kernel for Lloyd iterations and IVF
    indexing."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)  # (k, dim)

    @pandas_udf("int")
    def _nearest(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        A = _stack(v)  # (n, dim)
        d = ((A[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)  # (n, k)
        return pd.Series(d.argmin(axis=1).astype("int32"))

    return _nearest(vec)


def _lloyd_partial_sums(centroids: list[list[float]]):
    """Per-partition fused Lloyd round kernel for ``mapInPandas``:
    assign each vector to its nearest centroid (squared L2, ties →
    smaller cid — identical to :func:`nearest_centroid_arrow`) and
    emit per-(cid, dim) partial sums + counts. The driver-side
    ``round(Σs/Σn, 6)`` reduction is the same 6-dp mean the DuckDB
    twin computes, so the trainer stays value-hash oracled."""
    C = np.asarray(centroids, dtype=np.float64)

    def _partial(batches):
        k, dim = C.shape
        sums = np.zeros((k, dim), dtype=np.float64)
        counts = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.array(pdf["v"].tolist(), dtype=np.float64)
            d2 = ((A[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            cid = d2.argmin(axis=1)
            for c in np.unique(cid):
                m = cid == c
                sums[c] += A[m].sum(axis=0)
                counts[c] += int(m.sum())
        ks = np.nonzero(counts > 0)[0]
        yield pd.DataFrame(
            {
                "cid": np.repeat(ks, dim).astype("int32"),
                "d": np.tile(np.arange(dim), len(ks)).astype("int32"),
                "s": sums[ks].ravel(),
                "n": np.repeat(counts[ks], dim),
            }
        )

    return _partial


def _lloyd_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    iters: int = 2,
) -> tuple[list[list[float]], DataFrame]:
    """Train deterministic Lloyd centroids; ALSO return the persisted
    ``(id, v)`` projection so callers that immediately assign the same
    corpus (semantic_dedup's idx step) reuse the cached vectors instead
    of re-scanning parquet and persisting a second copy — the double
    cache was the round-9 q_semantic_dedup cost."""
    # persist the projected vectors: the init collect + every Lloyd
    # round re-scans them (iters+1 corpus scans otherwise; cache.py
    # lifecycle — the table is (id, vec) only)
    e = managed_persist(
        corpus.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
    )
    cents = [r.v for r in e.orderBy("id").limit(n_centroids).collect()]
    for _ in range(iters):
        # fused assign + per-partition partial sums: ONE Arrow pass per
        # round (the posexplode form shipped 100k×dim interpreted rows
        # into the agg each round — the round-9 Lloyd hot spot); the
        # shuffle is k×dim×partitions partial rows, map-side-combined
        # exactly like a partial hash agg. round(Σs/Σn, 6) keeps the
        # DuckDB avg twin: 6-dp rounding absorbs float summation order
        # the same way it did for round(avg(val), 6).
        partials = e.mapInPandas(
            _lloyd_partial_sums(cents), "cid int, d int, s double, n long"
        )
        rows = (
            partials.groupBy("cid", "d")
            .agg(F.round(F.sum("s") / F.sum("n"), 6).alias("c"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("d", "c"))).alias("dc"))
            .collect()
        )
        new = {r.cid: [x.c for x in r.dc] for r in rows}
        cents = [new.get(i, cents[i]) for i in range(n_centroids)]
    return cents, e


def lloyd_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    iters: int = 2,
) -> list[list[float]]:
    """Deterministic Lloyd k-means, built to have an exact SQL twin:

    - init: the ``n_centroids`` corpus vectors with the smallest ids
      (no RNG — reproducible by ``ORDER BY id LIMIT k``);
    - ``iters`` unrolled assign→mean rounds; assignment by squared L2
      with ties to the smaller cid; per-dimension means ROUNDED to 6
      decimals so float summation order (Spark partial aggs vs a
      sequential SQL engine) cannot flip a boundary assignment in the
      next round;
    - empty clusters keep their previous centroid.

    Each round is one distributed assignment pass (Arrow argmin
    kernel) + one (cid, dim) mean aggregation; only the k×dim centroid
    table is collected per round (same driver-side-literal pattern as
    the pyspark.ml path). pyspark.ml KMeans (k-means|| init) remains
    the production trainer — this variant exists so the full IVF
    pipeline can be value-hash verified against DuckDB.
    """
    cents, _ = _lloyd_train(corpus, id_col, vec_col, n_centroids, iters)
    return cents


def ivf_topk_det(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    n_probe: int = 2,
    iters: int = 2,
) -> DataFrame:
    """IVF top-k with the deterministic Lloyd trainer — same index/
    probe/re-rank plan as :func:`ivf_topk`, but every stage (training
    included) is reproducible in ANSI SQL, so the whole pipeline is
    value-hash oracle-checkable."""
    cents = lloyd_centroids(corpus, id_col, vec_col, n_centroids, iters)
    indexed = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        nearest_centroid_arrow(F.col(vec_col).cast("array<double>"), cents).alias("cid"),
    )
    qv = F.col("qvec").cast("array<double>")
    scored = F.array(
        *[
            F.struct(
                (-cosine(qv, F.array(*[F.lit(float(x)) for x in c]))).alias("negsim"),
                F.lit(i).alias("cid"),
            )
            for i, c in enumerate(cents)
        ]
    )
    probes = F.slice(F.array_sort(scored), 1, n_probe)
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
        .select("query_id", "qvec", F.explode(probes).alias("p"))
        .select("query_id", "qvec", F.col("p.cid").alias("cid"))
    )
    cand = (
        indexed.join(F.broadcast(q), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_arrow(F.col("qvec"), F.col("cvec")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


def quantize_vec_arrow(vec: Column) -> Column:
    """Per-vector symmetric int8 quantization: struct(ma, q) where
    ``ma`` is the max-abs scale and ``q_i = floor(x_i·127/ma + 0.5)``
    (the same half-up rounding as quantize_stats_arrow, which DuckDB's
    ``round``-free floor form reproduces bit-for-bit). One numpy pass
    per Arrow batch."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<ma: double, q: array<int>>")
    def _q(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame({"ma": [], "q": []})
        A = _stack(v).astype(np.float64)  # float64: DuckDB-twin arithmetic
        ma = np.abs(A).max(axis=1)
        safe = np.where(ma == 0, 1.0, ma)
        Q = np.floor(A * 127.0 / safe[:, None] + 0.5).astype("int32")
        Q[ma == 0] = 0
        return pd.DataFrame({"ma": ma, "q": list(Q)})

    return _q(vec)


def int_dot_arrow(a: Column, b: Column) -> Column:
    """Exact integer dot product of two int arrays (one numpy batch
    matmul-free einsum per Arrow batch); sums of |q|≤127 products stay
    far inside int64."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _d(pa: pd.Series, pb: pd.Series) -> pd.Series:
        if len(pa) == 0:
            return pd.Series([], dtype="int64")
        A = np.vstack(pa.to_numpy()).astype("int64")
        B = np.vstack(pb.to_numpy()).astype("int64")
        return pd.Series(np.einsum("ij,ij->i", A, B))

    return _d(a, b)


def quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval: int8 coarse scoring → fp32 exact re-rank.

    The standard memory-bandwidth play for brute-force search at scale:
    the corpus streams through the coarse stage as int8 (4× smaller
    than fp32, exact integer dot products), a per-query ``shortlist``
    survives, and only the shortlist pays the fp32 cosine. Recall loss
    is bounded by how often the true top-k falls outside the int8
    shortlist (quantization error ≤ 0.5/127 per component).

    Every stage is deterministic — half-up quantization, exact integer
    dots, scale products compared left-associated, id tie-breaks — so
    the whole cascade (shortlist selection included) has an exact
    DuckDB twin. Plan: corpus-parallel coarse scan with broadcast
    queries; both rank windows partition by query_id (WindowGroupLimit
    keeps the shuffles to the per-query survivor sets).
    """
    qq = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        quantize_vec_arrow(F.col(vec_col)).alias("qz"),
    )
    cc = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        quantize_vec_arrow(F.col(vec_col)).alias("cz"),
    )
    # coarse ≈ dot: idot · ma_q · ma_c (the /127² constant can't change
    # the per-query order, so it is dropped); left-associated to match
    # the oracle bit-for-bit
    coarse = (
        cc.crossJoin(F.broadcast(qq))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "qvec",
            "cvec",
            (
                int_dot_arrow(F.col("qz.q"), F.col("cz.q")).cast("double")
                * F.col("qz.ma")
                * F.col("cz.ma")
            ).alias("coarse"),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("coarse"), F.asc("neighbor_id")
    )
    short = coarse.withColumn("crnk", F.row_number().over(w1)).filter(
        F.col("crnk") <= shortlist
    )
    rer = short.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_arrow(F.col("qvec"), F.col("cvec")), 4).alias("cos_sim"),
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        rer.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    iters: int = 2,
    threshold: float = 0.3,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (cluster-then-prune).

    The published recipe (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    k-means the embedding space, then look for near-duplicate pairs
    ONLY within each cluster — the clustering is the blocking step that
    turns an O(n²) all-pairs cosine scan into per-cluster work, the
    same move LSH banding makes for MinHash. Here the trainer is the
    deterministic Lloyd twin (:func:`lloyd_centroids`), so the whole
    pipeline — train → assign → within-cluster pairs → keep-min-id —
    is reproducible in ANSI SQL and value-hash oracle-able.

    A vector is a duplicate iff some same-cluster vector with a
    SMALLER id has cosine ≥ ``threshold`` (4-dp rounded on both
    engines); ``dup_of`` is the smallest such id, giving a
    deterministic keep-one-representative labeling without a
    transitive closure.

    Scale: the pair join is an equi-join on cid — candidate cost is
    sum of squared cluster sizes, bounded by choosing n_centroids ~
    n/expected_cluster_size (SemDeDup runs 50k clusters at 100 TB);
    assignment is one Arrow argmin pass, centroids broadcast as plan
    literals. No global shuffle beyond the cid hash partition.
    """
    cents, e = _lloyd_train(corpus, id_col, vec_col, n_centroids, iters)
    # the assignment reuses the trainer's persisted (id, v) cache — NOT
    # a second persist of (id, v, cid): round 9 cached the vectors
    # twice (lloyd's e + this idx), and the duplicate cache write cost
    # more than the Arrow argmin it saved (the round-9 2.2× regression)
    idx = e.select(
        "id", "v", nearest_centroid_arrow(F.col("v"), cents).alias("cid")
    )
    # per-cluster grouped map emitting LABELS, not pairs: the kernel
    # already sees the whole cluster, so min-smaller-id-neighbor is an
    # in-kernel minimum — emitting (id, is_dup, dup_of) directly
    # removes round 9's pairs→groupBy(b_id)→join-back tail (one agg
    # shuffle + one join + a second argmin pass over the corpus).
    # Candidate pairs still materialize only inside the Python worker.
    # The per-pair cosine keeps the SAME einsum dot/(‖a‖·‖b‖) path as
    # cosine_arrow; the 4-dp compare uses floor(|x|·1e4 + 0.5) —
    # HALF_UP, matching Spark's F.round and DuckDB's round (np.round
    # would be half-to-even) — against the integer threshold so the
    # DuckDB-parity decision is unchanged.
    tau_i = int(round(threshold * 1e4))

    def _cluster_labels(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        n = len(ids)
        cid = pdf["cid"].to_numpy()[order]
        out = pd.DataFrame(
            {
                "id": ids,
                "cid": cid,
                "is_dup": np.zeros(n, dtype=bool),
                "dup_of": pd.array([None] * n, dtype="Int64"),
            }
        )
        if n < 2:
            return out
        A = np.vstack(pdf["v"].to_numpy()).astype(np.float64)[order]
        iu, ju = np.triu_indices(n, k=1)
        X, Y = A[iu], A[ju]
        dots = np.einsum("ij,ij->i", X, Y)
        cos = dots / (
            np.sqrt(np.einsum("ij,ij->i", X, X))
            * np.sqrt(np.einsum("ij,ij->i", Y, Y))
        )
        r_i = (np.floor(np.abs(cos) * 1e4 + 0.5) * np.sign(cos)).astype(
            np.int64
        )
        m = r_i >= tau_i
        big = np.iinfo(np.int64).max
        best = np.full(n, big, dtype=np.int64)
        np.minimum.at(best, ju[m], ids[iu[m]])
        hit = best < big
        out["is_dup"] = hit
        out["dup_of"] = pd.array(
            [int(b) if h else None for b, h in zip(best, hit)], dtype="Int64"
        )
        return out

    return (
        idx.groupBy("cid")
        .applyInPandas(
            _cluster_labels, "id long, cid int, is_dup boolean, dup_of long"
        )
        .select(
            F.col("id").alias(id_col), "cid", "is_dup", "dup_of"
        )
        .orderBy(id_col)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 8,
    planes_per_band: int = 3,
    dim: int = 64,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ threshold).

    exact=True: full pairwise (only for oracle checks / tiny corpora).
    Default: banded RHP-LSH blocking with OR-amplification — a pair is
    a candidate if it agrees on ALL bits of ANY band. Recall for
    similarity s: 1-(1-p^r)^b with p = 1-acos(s)/π, r=planes_per_band,
    b=n_bands (defaults: ≈0.99 at s=0.8, ≈0.85 at s=0.35). Candidates
    get the exact cosine filter, so precision is exact; banding only
    costs recall, tunable via (b, r).
    """
    a = df.select(F.col(id_col).alias("id1"), F.col(vec_col).alias("v1"))
    b = df.select(F.col(id_col).alias("id2"), F.col(vec_col).alias("v2"))
    if exact:
        pairs = a.join(b, F.col("id1") < F.col("id2"))
    else:
        planes = _hyperplanes(n_bands * planes_per_band, dim)

        def banded(side: DataFrame, vcol: str) -> DataFrame:
            # all band buckets from one Arrow matmul, posexplode to rows
            buckets = rhp_band_buckets_arrow(
                F.col(vcol), planes, n_bands, planes_per_band
            )
            return side.select(
                "*", F.posexplode(buckets).alias("band", "bucket")
            )

        pairs = (
            banded(a, "v1")
            .join(
                banded(b, "v2"),
                ["band", "bucket"],
            )
            .filter(F.col("id1") < F.col("id2"))
            .dropDuplicates(["id1", "id2"])
        )
    return (
        pairs.select(
            "id1",
            "id2",
            F.round(cosine_arrow(F.col("v1"), F.col("v2")), 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# ------------------------------------------------------------------ PQ
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search"): split each (L2-normalized) vector into m
# subspaces, vector-quantize each subspace against its own ks-entry
# codebook, and represent the vector by m small codes. At 100 TB this
# is THE memory-bandwidth lever for embedding search: a 64-dim fp32
# vector (256 B) becomes m=8 bytes — 32× less data streamed per scan —
# and the coarse ADC (asymmetric distance computation) pass scores
# codes against the query with a gather + einsum per Arrow batch.
# Recall loss is bounded by re-ranking a shortlist with exact fp32
# cosine, same cascade shape as quantized_topk. Compose with IVF
# (ivf_topk) for the classic IVF-PQ layout: partition-pruned lists,
# PQ-compressed residuals.


def _normalize_rows(A: "np.ndarray") -> "np.ndarray":
    n = np.sqrt((A * A).sum(axis=1, keepdims=True))
    return A / np.where(n == 0, 1.0, n)


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 16,
    iters: int = 3,
    projected: DataFrame | None = None,
) -> list[list[list[float]]]:
    """Train m per-subspace codebooks (each ks × dim/m) with the same
    deterministic-Lloyd recipe as :func:`lloyd_centroids`: init from
    the ks smallest-id vectors, squared-L2 assignment with ties to the
    smaller code, per-dimension means rounded to 6 dp, empty clusters
    keep their centroid. Vectors are L2-normalized first (ADC dot ≈
    cosine downstream).

    All m subspaces train in ONE distributed pass per iteration: a
    mapInPandas kernel emits (sub, code, count, partial-sum) partials
    per Arrow batch — m×ks×(dim/m) numbers per batch regardless of
    row count — and a (sub, code, dim)-keyed aggregation reduces them.
    Only the m×ks×(dim/m) codebook table ever reaches the driver. At
    crawl scale you train on a sampled slice (codebooks need ~100k
    rows, not the corpus) and encode everything.
    """
    # persist: the init collect + every training round re-scan this
    # projection (iters+1 scans otherwise; cache.py lifecycle).
    # ``projected`` lets a caller that already holds the persisted
    # (id, v) table (ivfpq_topk's shared Lloyd/PQ training) pass it in
    # instead of caching the identical projection twice.
    e = projected
    if e is None:
        e = managed_persist(
            corpus.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).cast("array<double>").alias("v"),
            )
        )
    init = [r.v for r in e.orderBy("id").limit(ks).collect()]
    dim = len(init[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sd = dim // m
    A0 = _normalize_rows(np.asarray(init, dtype=np.float64))
    # C[s] : (ks, sd)
    C = [A0[:, s * sd : (s + 1) * sd].copy() for s in range(m)]

    schema = "sub int, code int, cnt long, sums array<double>"
    for _ in range(iters):
        Cnow = [c.copy() for c in C]

        def _partials(it):
            for pdf in it:
                if len(pdf) == 0:
                    continue
                A = _normalize_rows(
                    np.array(pdf["v"].tolist(), dtype=np.float64)
                )
                out = {"sub": [], "code": [], "cnt": [], "sums": []}
                for s in range(m):
                    sub = A[:, s * sd : (s + 1) * sd]
                    d2 = ((sub[:, None, :] - Cnow[s][None, :, :]) ** 2).sum(2)
                    cid = d2.argmin(axis=1)
                    for c in np.unique(cid):
                        sel = sub[cid == c]
                        out["sub"].append(s)
                        out["code"].append(int(c))
                        out["cnt"].append(int(sel.shape[0]))
                        out["sums"].append(sel.sum(axis=0).tolist())
                yield pd.DataFrame(out)

        rows = (
            e.select("v")
            .mapInPandas(_partials, schema)
            .select("sub", "code", "cnt", F.posexplode("sums").alias("d", "x"))
            .groupBy("sub", "code", "d")
            .agg(F.sum("cnt").alias("n"), F.sum("x").alias("sx"))
            .collect()
        )
        agg: dict[tuple[int, int], dict[int, tuple[float, int]]] = {}
        for r in rows:
            agg.setdefault((r["sub"], r["code"]), {})[r["d"]] = (r["sx"], r["n"])
        # posexplode duplicates cnt across dims, so the per-(sub,code,d)
        # re-sum yields the same total count n for every d of a cluster.
        for (s, c), dims in agg.items():
            for d, (sx, n) in dims.items():
                C[s][c, d] = round(sx / n, 6)
    return [c.tolist() for c in C]


def pq_encode_arrow(vec: Column, codebooks: list[list[list[float]]]) -> Column:
    """Encode an (auto-L2-normalized) vector into its m PQ codes —
    one gather-free batched assignment per subspace per Arrow batch."""
    from pyspark.sql.functions import pandas_udf

    C = [np.asarray(c, dtype=np.float64) for c in codebooks]
    m = len(C)
    sd = C[0].shape[1]

    @pandas_udf("array<int>")
    def _enc(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        A = _normalize_rows(np.array(v.tolist(), dtype=np.float64))
        codes = np.empty((A.shape[0], m), dtype="int32")
        for s in range(m):
            sub = A[:, s * sd : (s + 1) * sd]
            d2 = ((sub[:, None, :] - C[s][None, :, :]) ** 2).sum(2)
            codes[:, s] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return _enc(vec)


def pq_adc_score_arrow(
    codes: Column, qvec: Column, codebooks: list[list[list[float]]]
) -> Column:
    """ADC score ≈ cosine(query, vector): gather each row's m centroid
    segments by code and einsum against the (normalized) query — one
    numpy pass per Arrow batch, no per-query distance-table plumbing."""
    from pyspark.sql.functions import pandas_udf

    Call = np.stack([np.asarray(c, dtype=np.float64) for c in codebooks])
    m = Call.shape[0]
    sd = Call.shape[2]

    @pandas_udf("double")
    def _adc(pc: pd.Series, pq: pd.Series) -> pd.Series:
        if len(pc) == 0:
            return pd.Series([], dtype="float64")
        codes_mat = np.vstack(pc.to_numpy()).astype("int64")  # (n, m)
        Q = _normalize_rows(np.array(pq.tolist(), dtype=np.float64))
        Qs = Q.reshape(Q.shape[0], m, sd)  # (n, m, sd)
        G = Call[np.arange(m)[None, :], codes_mat, :]  # (n, m, sd)
        return pd.Series(np.einsum("nmd,nmd->n", Qs, G))

    return _adc(codes, qvec)


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ-ADC coarse scan → exact fp32 cosine re-rank, top-k per query.

    Plan: corpus encodes once (narrow Arrow map — persist the codes
    table in production and this stage disappears from the query
    path); broadcast queries cross the codes with the ADC kernel (the
    scan streams m bytes/vector instead of 4·dim); a per-query window
    keeps ``shortlist`` survivors (WindowGroupLimit pushes the top-k
    into the shuffle); only survivors touch the fp32 vectors again.
    """
    cb = codebooks or pq_codebooks(corpus, id_col, vec_col, m, ks)
    enc = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        pq_encode_arrow(F.col(vec_col), cb).alias("codes"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    coarse = (
        enc.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "qvec",
            "cvec",
            pq_adc_score_arrow(F.col("codes"), F.col("qvec"), cb).alias("adc"),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    short = coarse.withColumn("crnk", F.row_number().over(w1)).filter(
        F.col("crnk") <= shortlist
    )
    rer = short.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_arrow(F.col("qvec"), F.col("cvec")), 4).alias("cos_sim"),
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        rer.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the production ANN layout — a coarse IVF index prunes
    WHICH vectors are scored (queries probe ``n_probe`` of
    ``n_centroids`` inverted lists → ~n_probe/n_centroids of the
    corpus read), and PQ codes shrink WHAT is streamed for each
    candidate (m bytes instead of 4·dim); survivors of the ADC
    shortlist pay exact fp32 cosine. Both trainers are the
    deterministic-Lloyd recipe. This composition is what a 100 TB
    embedding store actually deploys: with the corpus partitioned by
    cid on disk, the probe is partition pruning at the parquet scan
    and the scan itself is 32× lighter.

    This variant quantizes raw (normalized) vectors, not
    list-residuals; residual encoding is the classic refinement
    (Jégou et al. §IV) and drops in by re-centering before
    pq_codebooks/pq_encode_arrow — the plan shape is identical.
    """
    # one shared persisted (id, v) projection feeds BOTH trainers —
    # lloyd + PQ each caching their own identical copy was the same
    # double-cache cost semantic_dedup paid in round 9
    cents, e = _lloyd_train(corpus, id_col, vec_col, n_centroids, iters=2)
    cb = pq_codebooks(corpus, id_col, vec_col, m, ks, projected=e)
    indexed = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        nearest_centroid_arrow(F.col(vec_col).cast("array<double>"), cents).alias(
            "cid"
        ),
        pq_encode_arrow(F.col(vec_col), cb).alias("codes"),
    )
    qv = F.col("qvec").cast("array<double>")
    scored_cents = F.array(
        *[
            F.struct(
                (-cosine(qv, F.array(*[F.lit(float(x)) for x in c]))).alias(
                    "negsim"
                ),
                F.lit(i).alias("cid"),
            )
            for i, c in enumerate(cents)
        ]
    )
    probes = F.slice(F.array_sort(scored_cents), 1, n_probe)
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
        .select("query_id", "qvec", F.explode(probes).alias("p"))
        .select("query_id", "qvec", F.col("p.cid").alias("cid"))
    )
    cand = (
        indexed.join(F.broadcast(q), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "qvec",
            "cvec",
            pq_adc_score_arrow(F.col("codes"), F.col("qvec"), cb).alias("adc"),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    short = cand.withColumn("crnk", F.row_number().over(w1)).filter(
        F.col("crnk") <= shortlist
    )
    rer = short.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_arrow(F.col("qvec"), F.col("cvec")), 4).alias("cos_sim"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        rer.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


def knn_classify(
    unlabeled: DataFrame,
    labeled: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """kNN label prediction for a bounded batch of unlabeled vectors —
    the auto-labeling / curation-classifier pass (label a crawl slice
    by its nearest labeled exemplars instead of training a model).

    Majority vote over the k cosine-nearest labeled vectors; ties break
    by nearest supporting neighbor (min rank), then smallest label —
    integers all the way, so the vote is engine-reproducible.

    If the ``unlabeled`` batch carries ``label_col`` (a held-out eval
    slice), the output adds ``true_label`` / ``correct`` accuracy
    columns; a genuinely unlabeled batch gets predictions only —
    ``(id, pred_label, n_votes)``.

    Plan shape: the scoring reuses :func:`brute_force_topk` (broadcast
    queries × partition-parallel corpus, Arrow cosine kernel); the vote
    is a (query, label) count — at most ``queries × k`` rows — and two
    driver-bounded windows. Corpus size only enters through the scan.
    """
    hits = brute_force_topk(unlabeled, labeled, k=k, id_col=id_col, vec_col=vec_col)
    cand = labeled.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("pred_label")
    )
    votes = (
        hits.join(cand, "neighbor_id")
        .groupBy("query_id", "pred_label")
        .agg(F.count(F.lit(1)).alias("n_votes"), F.min("rnk").alias("_best_rnk"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("_best_rnk"), F.asc("pred_label")
    )
    pred = (
        votes.withColumn("_vr", F.row_number().over(w))
        .filter(F.col("_vr") == 1)
        .select("query_id", "pred_label", "n_votes")
    )
    if label_col not in unlabeled.columns:
        return pred.select(
            F.col("query_id").alias(id_col), "pred_label", "n_votes"
        )
    truth = unlabeled.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("true_label")
    )
    return pred.join(truth, "query_id").select(
        F.col("query_id").alias(id_col),
        "pred_label",
        "n_votes",
        "true_label",
        (F.col("pred_label") == F.col("true_label")).cast("int").alias("correct"),
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    ``k`` cosine-NEAREST corpus vectors with a DIFFERENT label — the
    examples an embedding model most confuses, and the standard way a
    retrieval/embedding training set is upgraded from random negatives
    (which are trivially separable and teach nothing).

    Same plan shape as :func:`brute_force_topk` — broadcast(anchors) ×
    partition-parallel corpus, Arrow cosine kernel, per-anchor ranked
    window — with the different-label restriction applied BEFORE the
    rank so the window ranks only admissible negatives. At index scale
    the coarse scan drops in for the cross join exactly as in
    quantized/IVF retrieval; the filter + window are unchanged.

    Returns ``(anchor_id, anchor_label, negative_id, negative_label,
    cos_sim, rnk)``.
    """
    q = queries.select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("qvec"),
        F.col(label_col).alias("anchor_label"),
    )
    c = corpus.select(
        F.col(id_col).alias("negative_id"),
        F.col(vec_col).alias("cvec"),
        F.col(label_col).alias("negative_label"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("negative_label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "anchor_label",
            "negative_id",
            "negative_label",
            F.round(cosine_arrow(F.col("qvec"), F.col("cvec")), 4).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos_sim"), F.asc("negative_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "anchor_id",
            "anchor_label",
            "negative_id",
            "negative_label",
            "cos_sim",
            "rnk",
        )
    )


def min_sq_dist_arrow(vec: Column, selected: list[list[float]]) -> Column:
    """Min over ``selected`` of the 4-dp-rounded squared L2 distance —
    one (batch x selected x dim) numpy kernel per Arrow batch (the
    nearest_centroid_arrow shape). Per-pair distances round BEFORE the
    min so the result equals least(round(d_0,4), ..., round(d_m,4))
    exactly as the unrolled SQL twins compute it."""
    from pyspark.sql.functions import pandas_udf

    S = np.asarray(selected, dtype=np.float64)  # (m, dim)

    @pandas_udf("double")
    def _mind(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="float64")
        A = _stack(v)
        d = ((A[:, None, :] - S[None, :, :]) ** 2).sum(axis=2)  # (n, m)
        return pd.Series(np.round(d, 4).min(axis=1))

    return _mind(vec)


def kcenter_select(
    emb: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, int, float]]:
    """Greedy k-center / farthest-point sampling — the classic coreset
    selection for training-data subset curation (2-approximation to the
    optimal k-center cover; Gonzalez 1985). Seed = lowest id; each
    round picks the point FARTHEST from the selected set (max over
    candidates of min squared-euclidean distance to any selected
    vector, distances rounded to 4 dp with an id tie-break so the
    selection is engine-reproducible).

    Returns [(order, id, radius)] — ``radius`` is the selected point's
    distance-to-set at pick time, the (non-increasing) coverage-radius
    curve that tells a curator how much diversity each extra exemplar
    buys.

    Scale shape: the selected set is a k-row driver artifact (same
    bounded-epilogue policy as Lloyd centroids / BPE merge picks);
    round i is ONE full scan computing min over the selected set of
    4-dp-rounded squared distances — a single (batch x selected x dim)
    numpy kernel per Arrow batch (the nearest_centroid_arrow shape;
    HOF folds are CodegenFallback, see module docstring) — plus a
    TakeOrdered(1). k scans total, no shuffle beyond the 1-row argmax,
    any corpus size.
    """
    v = F.col(vec_col).cast("array<double>")
    base = emb.select(F.col(id_col).alias("_id"), v.alias("_v"))
    first = base.orderBy("_id").limit(1).collect()[0]
    picked: list[tuple[int, int, float]] = [(0, int(first["_id"]), 0.0)]
    sel_vecs: list[list[float]] = [list(first["_v"])]

    for i in range(1, k):
        row = (
            base.select(
                "_id", "_v", min_sq_dist_arrow(F.col("_v"), sel_vecs).alias("_d")
            )
            .orderBy(F.desc("_d"), F.asc("_id"))
            .limit(1)
            .collect()[0]
        )
        picked.append((i, int(row["_id"]), float(row["_d"])))
        sel_vecs.append(list(row["_v"]))
    return picked


def mmr_select_dist(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 6,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, int, float]]:
    """Maximal Marginal Relevance in distance form (Carbonell &
    Goldstein 1998): iteratively pick argmin of
    ``lam * d(v, query) - (1 - lam) * min_dist_to_selected`` —
    relevance pulls toward the query, the diversity term pushes away
    from what's already picked. Distance form (squared euclid, 4-dp
    rounded, id tie-break) keeps every number on the proven
    cross-engine fold; similarity-form MMR is the same selection with
    signs flipped. Returns [(rank, id, mmr_score)].

    Scale: identical bounded-epilogue shape to :func:`kcenter_select`
    (k scans, selected set broadcast as literals, TakeOrdered(1) per
    round, no shuffle).
    """
    v = F.col(vec_col).cast("array<double>")
    base = emb.select(F.col(id_col).alias("_id"), v.alias("_v"))

    dq = min_sq_dist_arrow(F.col("_v"), [query_vec])
    first = (
        base.select("_id", "_v", F.round(F.lit(lam) * dq, 4).alias("_m"))
        .orderBy(F.asc("_m"), F.asc("_id"))
        .limit(1)
        .collect()[0]
    )
    picked = [(0, int(first["_id"]), float(first["_m"]))]
    sel_vecs = [list(first["_v"])]
    for i in range(1, k):
        dmin = min_sq_dist_arrow(F.col("_v"), sel_vecs)
        score = F.round(F.lit(lam) * dq - F.lit(1.0 - lam) * dmin, 4)
        row = (
            base.filter(~F.col("_id").isin([p[1] for p in picked]))
            .select("_id", "_v", score.alias("_m"))
            .orderBy(F.asc("_m"), F.asc("_id"))
            .limit(1)
            .collect()[0]
        )
        picked.append((i, int(row["_id"]), float(row["_m"])))
        sel_vecs.append(list(row["_v"]))
    return picked
