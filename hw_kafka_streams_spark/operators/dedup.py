"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each):
- Exact: groupBy(fingerprint) keep-min — one shuffle on the hash key.
- N-gram Jaccard: inverted-index join (explode shingles → equi-join on
  shingle → count shared) — NEVER the O(n²) cross join; candidate
  generation cost is bounded by shingle-posting-list sizes.
- MinHash+LSH: constant-size signature per doc (k minima), banded into
  b buckets; candidates = equi-join on (band, band-hash). The standard
  sub-quadratic near-dup pipeline (Broder '97; used by every large
  crawl pipeline).
- SimHash: 64-bit signature; candidates via band equality (pigeonhole:
  hamming ≤ 3 ⇒ some 16-bit quarter matches exactly).

All signature math is JVM-side (xxhash64 + higher-order array
functions) — no Python UDFs, so signatures stream through whole-stage
codegen. Arithmetic stays within ANSI long range (hashes are reduced
mod p < 2^31 before the affine step).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hw_kafka_streams_spark.operators.text import fingerprint, word_tokens
from hw_kafka_streams_spark.cache import managed_persist

# Deterministic MinHash permutation parameters (seeded once; the same
# values on every run/executor so signatures are reproducible).
_MERSENNE_P = (1 << 31) - 1  # 2^31 - 1, prime
_rng = random.Random(7)
MINHASH_K = 64
MINHASH_A = [_rng.randrange(1, _MERSENNE_P) for _ in range(MINHASH_K)]
MINHASH_B = [_rng.randrange(0, _MERSENNE_P) for _ in range(MINHASH_K)]
_MINHASH_A = MINHASH_A  # back-compat aliases
_MINHASH_B = MINHASH_B
MERSENNE_P = _MERSENNE_P


def md5h(col: Column) -> Column:
    """Deterministic 60-bit positive hash with an exact DuckDB twin.

    ``conv(substring(md5(x),1,15),16,10)::long`` here equals
    ``('0x' || substring(md5(x),1,15))::BIGINT`` in DuckDB — verified
    bit-for-bit. Used by the ``hash_mode='md5'`` variants of the
    signature pipelines so their registry queries can be value-hash
    oracled; the scale default stays xxhash64 (native, ~5× faster),
    whose seed/algorithm DuckDB cannot reproduce.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact content dedup on the normalized fingerprint.

    Returns one row per distinct content: the minimum id (deterministic
    representative), the duplicate count. One hash shuffle on a
    16-byte key regardless of document size — the scan dominates.
    """
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def word_shingles(text: Column | str, n: int = 3, distinct: bool = True) -> Column:
    """Word n-gram shingles of a text column (JVM-side); ``distinct``
    gives set semantics (the dedup default), ``False`` keeps the raw
    bag with multiplicity (diversity metrics like distinct-n need it).

    NOTE: higher-order-function expressions are interpreted (no
    codegen), so this per-row array form is for small/medium inputs and
    ad-hoc use. Hot paths (MinHash, Jaccard) use
    :func:`shingle_postings` — exploded + window `lead` — which is
    ~4× faster and shares its shuffle with the downstream agg.
    """
    toks = word_tokens(text)
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    out = F.array_distinct(sh) if distinct else sh
    return F.when(F.size(toks) >= n, out).otherwise(
        F.array().cast("array<string>")
    )


def shingle_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    distinct: bool = False,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(id, shingle) postings via explode + window ``lead`` — the
    scale-path shingle generator.

    Tokenization runs ONCE per document (posexplode), then each
    n-gram is assembled from ``lead`` offsets over (id, pos). One
    shuffle on id, which downstream per-id aggregations (MinHash
    signature, shingle-set size) reuse — Spark sees the partitioning
    is already satisfied and inserts no second exchange.

    ``distinct=True`` gives set semantics (needed for Jaccard);
    MinHash skips it — min() is duplicate-insensitive.

    Shingles are emitted as 64-bit hashes (xxhash64 of the token-hash
    tuple), not strings: tokens are hashed BEFORE the window so the
    per-doc sort/shuffle moves fixed-width longs instead of text
    (measured 2× faster), and every downstream consumer (equality
    joins, distinct, signature minima) only needs equality. Collision
    odds at 64 bits are ~m²/2⁶⁵ — negligible below ~10⁹ distinct
    shingles per comparison domain.

    ``hash_mode='md5'`` keeps the same shape (tokens hashed once with
    :func:`md5h` BEFORE the window, longs through the shuffle) but uses
    the DuckDB-reproducible hash at both levels — shingle hash =
    md5h of the '|'-joined token hashes — so the downstream pipeline
    can be value-hash oracled. xxhash64 remains the 100-TB default.

    Duplicate ``id_col`` values are safe: the window orders by
    (row-uid, pos) and shingles whose ``lead`` offsets cross a row
    boundary are dropped, so n-grams never span two physical rows.
    Per-id semantics under duplicates = union of each row's shingle
    bag (set union with ``distinct=True``). The window partition key
    stays ``id`` alone, so the one id shuffle is still reused by
    downstream per-id aggregations.
    """
    from pyspark.sql import Window

    token_hash = md5h(F.col("tok")) if hash_mode == "md5" else F.xxhash64("tok")
    # rid MUST be projected in its own select BELOW the generator: in
    # the same select as posexplode it would be evaluated once per
    # exploded token row, giving every token its own "row" and filtering
    # every shingle out. Nondeterministic expressions are never
    # project-collapsed across a Generate, so this ordering is stable.
    rows = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("__sp_text"),
        F.monotonically_increasing_id().alias("rid"),
    )
    toks = rows.select(
        "id",
        "rid",
        F.posexplode(word_tokens(F.col("__sp_text"))).alias("pos", "tok"),
    ).select("id", "rid", "pos", token_hash.alias("th"))
    w = Window.partitionBy("id").orderBy("rid", "pos")
    parts = [F.col("th")] + [F.lead("th", i).over(w) for i in range(1, n)]
    hcols = [F.col(f"h{i}") for i in range(n)]
    shingle = (
        md5h(F.concat_ws("|", *hcols)) if hash_mode == "md5" else F.xxhash64(*hcols)
    )
    out = (
        toks.select(
            "id",
            "rid",
            F.lead("rid", n - 1).over(w).alias("rid_end"),
            *[p.alias(f"h{i}") for i, p in enumerate(parts)],
        )
        .filter(
            F.col(f"h{n-1}").isNotNull() & (F.col("rid_end") == F.col("rid"))
        )
        .select("id", shingle.alias("shingle"))
    )
    return out.dropDuplicates(["id", "shingle"]) if distinct else out


def shingle_array(
    text: Column | str,
    n: int = 3,
    distinct: bool = True,
    hash_mode: str = "xxhash64",
) -> Column:
    """Per-document shingle-hash ARRAY, built entirely row-locally —
    zero shuffle, zero window. Hash composition is bit-identical to
    :func:`shingle_postings` (token hash per token, then the n-tuple
    hash over the token hashes, in both ``xxhash64`` and ``md5`` twin
    modes), so the two generators are interchangeable; this one is for
    consumers that want the whole set on the row (prefix filtering,
    per-doc signatures) and saves the explode→window→re-group round
    trip. ``distinct=True`` applies set semantics via ``array_distinct``
    — per-doc, which equals the postings path's (id, shingle) distinct
    whenever ids are unique. Arrays are doc-length-bounded, so row
    width scales with document size, not corpus size.
    """
    col = F.col(text) if isinstance(text, str) else text

    def _th(t: Column) -> Column:
        return md5h(t) if hash_mode == "md5" else F.xxhash64(t)

    def _build(th: Column) -> Column:
        # th is a BOUND lambda variable: the token-hash array evaluates
        # exactly once per row. Referencing the raw transform expression
        # here instead would inline it into every element_at below and
        # re-hash every token once per shingle position (measured 25x
        # slower in md5 mode).
        cnt = F.size(th) - F.lit(n - 1)

        def _sh(i: Column) -> Column:
            parts = [F.element_at(th, i + off) for off in range(n)]
            if hash_mode == "md5":
                return md5h(F.concat_ws("|", *parts))
            return F.xxhash64(*parts)

        # sequence(1, 0) counts DOWN — guard short docs explicitly
        return F.when(
            cnt >= 1, F.transform(F.sequence(F.lit(1), cnt), _sh)
        ).otherwise(F.array().cast("array<long>"))

    shingles = F.element_at(
        F.transform(F.array(F.transform(word_tokens(col), _th)), _build), 1
    )
    return F.array_distinct(shingles) if distinct else shingles


def jaccard_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    Inverted-index plan: explode shingles → self-equi-join on shingle
    (id1 < id2) → count shared shingles per pair → Jaccard from set
    sizes. The only shuffles are on the shingle key and the pair key;
    no cross join anywhere, so it scales with total postings, not n².

    ``max_df`` is the posting-list skew guard for large corpora: a
    shingle occurring in d documents contributes O(d²) join rows, so a
    boilerplate phrase shared by 1M docs is catastrophic. Dropping
    shingles with document frequency > max_df from the JOIN bounds the
    worst list at O(max_df²); ubiquitous shingles carry ~no similarity
    signal anyway (the same move as stop-word removal in tf-idf). Set
    sizes stay the TRUE (uncut) shingle-set sizes, so the reported
    jaccard is a strict LOWER BOUND of the real one for pairs touching
    a cut shingle and exact otherwise — the guard can only DROP pairs,
    never add them. (Computing sizes after the cut instead INFLATES
    jaccard — smaller unions — which at low τ mass-promotes junk pairs:
    measured 275k → 4.76M pairs at a synthetic sf1.) Default None
    preserves exact semantics (and the DuckDB oracle).
    """
    # Round-12 (guide §2.4): shingle SETS are built row-locally with
    # :func:`shingle_array` (bit-identical hashes to the postings
    # window path) instead of explode→window(lead)→dropDuplicates.
    # That replaces the window's shuffle+sort of the exploded token
    # stream with one sort-free keyed exchange of (id, text): shingle
    # hashing runs at full cluster width after the conditional
    # ``spread_small`` floor, the per-id set UNION (duplicate-id rows
    # union their shingle sets, exactly the postings-path semantics)
    # is a flatten+array_distinct fold over the same id partitioning,
    # and set sizes become a row-local ``size(sh)`` instead of a
    # grouped count over postings. One persist of the per-doc arrays
    # feeds sizes and every explode consumer, so tokenize+hash still
    # runs exactly once per corpus scan.
    from hw_kafka_streams_spark.operators.skew import spread_small

    base = spread_small(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")),
        key="id",
    )
    per_row = base.select(
        "id", shingle_array(F.col("__t"), n=n, distinct=True).alias("shr")
    )
    sarr = managed_persist(
        per_row.groupBy("id").agg(
            F.array_distinct(F.flatten(F.collect_list("shr"))).alias("sh")
        )
    )
    # TRUE set sizes, computed before any df cut (see docstring)
    sizes = sarr.select("id", F.size("sh").cast("long").alias("sz"))
    postings = sarr.select("id", F.explode("sh").alias("shingle"))
    if max_df is not None:
        rare = (
            postings.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        postings = postings.join(rare, "shingle")
    p2 = postings.select(F.col("id").alias("id2"), F.col("shingle").alias("shingle2"))
    inter = (
        postings.join(
            p2, (postings.shingle == p2.shingle2) & (postings.id < p2.id2)
        )
        .groupBy(F.col("id").alias("id1"), F.col("id2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    s1 = sizes.select(F.col("id").alias("id1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("id").alias("id2"), F.col("sz").alias("sz2"))
    return (
        inter.join(s1, "id1")
        .join(s2, "id2")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("sz1") + F.col("sz2") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", F.round("jaccard", 4).alias("jaccard"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    hash_mode: str = "xxhash64",
    impl: str | None = None,
) -> DataFrame:
    """Per-document k-minima MinHash signatures: (id, sig: array<long>).

    h_i(s) = (a_i * (xxhash64(s) mod p) + b_i) mod p, signature[i] =
    min over shingles. Computed as explode(shingles) → hash each
    shingle ONCE → groupBy(id) with k narrow `min` aggregates. This
    shape is deliberate for scale: the k mins partial-aggregate
    map-side, so the shuffle carries one k-long row per doc per
    partition, and every expression is simple enough for whole-stage
    codegen. (A k-wide array<->transform expression tree per row
    defeats codegen and re-hashes shingles k times — measured 10×
    slower.) Docs with no shingles (fewer than n words) get no row.
    """
    if hash_mode == "md5" and impl != "jvm":
        # The md5 (DuckDB-twin) hash is ~3x slower than xxhash64 as JVM
        # expressions; the Arrow kernel computes the identical signature
        # per document batch with ZERO shuffles (see below), which at
        # sf0.1 cuts the oracled pipeline roughly in half. impl='jvm'
        # forces the expression shape (parity tests).
        return minhash_signatures_arrow(df, text_col, id_col, n)
    postings = shingle_postings(df, text_col, id_col, n, hash_mode=hash_mode).select(
        "id", F.pmod(F.col("shingle"), F.lit(_MERSENNE_P)).alias("h")
    )
    mins = [
        F.min(F.pmod(_MINHASH_A[i] * F.col("h") + _MINHASH_B[i], F.lit(_MERSENNE_P))).alias(
            f"m{i}"
        )
        for i in range(MINHASH_K)
    ]
    return postings.groupBy("id").agg(*mins).select(
        "id", F.array(*[F.col(f"m{i}") for i in range(MINHASH_K)]).alias("sig")
    )


def minhash_signatures_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """md5-mode MinHash signatures as one Arrow ``mapInPandas`` pass.

    Bit-identical to the JVM ``hash_mode='md5'`` shape (asserted in
    tests): token hash = md5h(token), shingle hash = md5h of the
    '|'-joined decimal token hashes, signature[i] = min((a_i*h+b_i) mod
    p) over shingles — the exact pipeline the DuckDB oracle
    reconstructs.

    Scale rationale: a document's text lives in ONE row, so the
    signature is a per-row computation — the explode+window+groupBy
    shape pays a per-doc sort shuffle plus a 64-min agg shuffle for
    something embarrassingly parallel. This kernel does it shuffle-free:
    tokenize + hash in C-speed Python (md5 via hashlib, per-batch token
    memo), then one numpy (64 x m) broadcast for the affine minima.
    Memory is bounded by the Arrow batch size. Docs with < n tokens (or
    NULL text) emit no row, matching the JVM/oracle semantics.
    xxhash64 mode keeps the JVM expression shape (no Python xxhash here,
    and codegen hashing is already cheap at that strength).
    """
    import hashlib
    import re as _re

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    a_const = np.asarray(MINHASH_A, dtype=np.uint64)[:, None]
    b_const = np.asarray(MINHASH_B, dtype=np.uint64)[:, None]
    p_const = np.uint64(_MERSENNE_P)
    # Java \s is ASCII-only; re.ASCII keeps Python's split identical.
    ws = _re.compile(r"\s+", _re.ASCII)

    out_schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType),
            StructField("sig", ArrayType(LongType())),
        ]
    )

    def _gen(batches):
        md5 = hashlib.md5
        for pdf in batches:
            ids: list = []
            sigs: list = []
            memo: dict[str, str] = {}  # token -> str(md5h) within a batch
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = [t for t in ws.split(text.strip()) if t]
                if len(toks) < n:
                    continue
                ths = []
                for t in toks:
                    s = memo.get(t)
                    if s is None:
                        s = str(int(md5(t.encode()).hexdigest()[:15], 16))
                        memo[t] = s
                    ths.append(s)
                hs = np.fromiter(
                    (
                        int(md5("|".join(ths[i : i + n]).encode()).hexdigest()[:15], 16)
                        for i in range(len(ths) - n + 1)
                    ),
                    dtype=np.uint64,
                )
                v = hs % p_const
                sig = ((a_const * v + b_const) % p_const).min(axis=1)
                ids.append(did)
                sigs.append(sig.astype(np.int64).tolist())
            yield pd.DataFrame({"id": ids, "sig": sigs})

    narrow = df.select(F.col(id_col), F.col(text_col))
    # A small corpus can arrive as a single file split; the kernel is
    # CPU-bound per doc, so spread it across the cluster's cores first.
    # On a real multi-TB input the scan already yields >= core-count
    # splits and this is a no-op (no shuffle inserted).
    ncores = narrow.sparkSession.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < ncores:
        narrow = narrow.repartition(ncores)
    return narrow.mapInPandas(_gen, out_schema)


def minhash_band_buckets(
    sig: DataFrame,
    bands: int = 16,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Band a signature table (id, sig) into LSH buckets: one row per
    (id, band) with the band's bucket hash, signature carried.

    Factored out of :func:`minhash_lsh_pairs` so incremental consumers
    (the streaming near-dup index, cross-corpus joins) can band new
    documents identically to the stored index.
    """
    rows_per_band = MINHASH_K // bands

    def _bucket_hash(b: int) -> Column:
        vals = [F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
        if hash_mode == "md5":
            return md5h(F.concat_ws("|", *vals))
        return F.xxhash64(*vals)

    # One bucket hash per band, banded by array position — an explode to
    # `bands` rows per doc, each (band, bucket-hash) with the sig carried.
    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), _bucket_hash(b).alias("bucket"))
            for b in range(bands)
        ]
    )
    return sig.select("id", "sig", F.explode(band_structs).alias("bb")).select(
        "id", "sig", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def signature_est_jaccard(sig1: Column, sig2: Column) -> Column:
    """Fraction of agreeing minima between two k-length signatures —
    the unbiased MinHash estimate of Jaccard similarity."""
    return F.round(
        F.size(
            F.filter(
                F.zip_with(sig1, sig2, lambda a, b: (a == b).cast("int")),
                lambda x: x == 1,
            )
        )
        / F.lit(float(MINHASH_K)),
        4,
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 16,
    verify_threshold: float | None = 0.2,
    max_bucket: int = 1000,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: signature → bands → bucket group.

    Rows per doc: `bands` (constant). Candidates are pairs agreeing on
    at least one full band (grouped on band index + band hash), then
    optionally verified with the exact signature-estimated Jaccard
    (fraction of agreeing minima). Sub-quadratic end to end; hot
    buckets larger than ``max_bucket`` are dropped (skew guard).

    Shuffle-shape note: signatures are CARRIED through the band
    shuffle (bands × k longs per doc) so the estimate needs no second
    join. The alternative — shuffle (band, bucket, id) only and join
    signatures back onto the deduped pair set — moves ~30× fewer
    bytes per doc but adds two joins; measured at sf0.1 it is ~30%
    slower (1.8 s vs 2.3 s), so carry wins below ~10⁸ docs. At
    crawl scale (10⁹+ docs, where bands×k×8 B/doc of shuffle
    dominates) flip to the join-back shape.
    """
    sig = minhash_signatures(df, text_col, id_col, n, hash_mode=hash_mode)
    banded = minhash_band_buckets(sig, bands=bands, hash_mode=hash_mode)

    # Candidate pairs = all pairs inside one (band, bucket) group.
    # groupBy + in-bucket expansion computes the signature pipeline ONCE
    # (a self-join would evaluate it on both sides). max_bucket caps the
    # quadratic blowup of degenerate hot buckets (boilerplate/empty docs)
    # — the standard skew guard in crawl-scale LSH dedup; capped buckets
    # are dropped, their members still pair via their other bands.
    members_sorted = F.array_sort(F.col("members"))  # struct sorts by id first
    pair_arrays = F.transform(
        members_sorted,
        lambda m, i: F.transform(
            F.slice(members_sorted, i + 2, F.size(members_sorted)),
            lambda m2: F.struct(m.alias("left"), m2.alias("right")),
        ),
    )
    cand = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list(F.struct("id", "sig")).alias("members"))
        .filter((F.size("members") >= 2) & (F.size("members") <= max_bucket))
        .select(F.explode(F.flatten(pair_arrays)).alias("p"))
        .select(
            F.col("p.left.id").alias("id1"),
            F.col("p.right.id").alias("id2"),
            F.col("p.left.sig").alias("sig"),
            F.col("p.right.sig").alias("sig2"),
        )
        .dropDuplicates(["id1", "id2"])
    )
    est = cand.withColumn(
        "est_jaccard", signature_est_jaccard(F.col("sig"), F.col("sig2"))
    ).select("id1", "id2", "est_jaccard")
    if verify_threshold is not None:
        est = est.filter(F.col("est_jaccard") >= verify_threshold)
    return est


def connected_components(
    pairs: DataFrame,
    id1_col: str = "id1",
    id2_col: str = "id2",
    max_iter: int = 20,
) -> DataFrame:
    """Duplicate-cluster labeling: (id, component) with component =
    min id reachable through the pair graph.

    Iterative min-label propagation (the large-graph alternative to
    driver-side union-find): each round every node takes the min label
    in its neighborhood; converges in O(graph diameter) rounds — near-
    dup clusters are short chains, so a handful. Each round is one
    self-join + agg (shuffle on id); early-exits via a cheap changed-
    count action. This is the standard map-reduce CC (Kiveris et al.
    '14 simplification) and completes the dedup pipeline: candidate
    pairs → clusters → keep one representative per cluster.
    """
    edges = (
        pairs.select(F.col(id1_col).alias("src"), F.col(id2_col).alias("dst"))
        .union(pairs.select(F.col(id2_col).alias("src"), F.col(id1_col).alias("dst")))
        .distinct()
        # materialize once: every propagation round joins edges, and
        # without this the whole upstream pair-generation plan (e.g. the
        # Jaccard inverted-index join) re-executes per round — measured
        # 222s -> 8s at sf0.1. At cluster scale: persist or write out.
        .localCheckpoint(eager=True)
    )
    labels = edges.select("src").distinct().select(
        F.col("src").alias("id"), F.col("src").alias("comp")
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("comp").alias("ncomp"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce(F.col("ncomp"), F.col("comp"))).alias(
                    "comp"
                ),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels.localCheckpoint(eager=True)  # truncate lineage per round
        if changed == 0:
            break
    return labels


def keep_cluster_representatives(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Drop all but the min-id member of every duplicate cluster.

    Rows never appearing in a pair survive untouched (left join, null
    component ⇒ own cluster).
    """
    comp = connected_components(pairs)
    return (
        df.join(comp, df[id_col] == comp.id, "left")
        .filter(F.col("comp").isNull() | (F.col(id_col) == F.col("comp")))
        .drop("id", "comp")
    )


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
    impl: str | None = None,
) -> DataFrame:
    """Per-document 64-bit SimHash signatures: (id, sig: long).

    bit i of the signature = sign of Σ_tokens (2·bit_i(hash(tok))−1)
    with unit weights, shaped for scale: explode tokens → hash each
    token ONCE → groupBy(id) with 64 narrow `sum` aggregates (one per
    bit), then assemble the signature from the 64 sums
    post-aggregation. Partial aggregation keeps the shuffle at
    one 64-long row per doc per partition; token-less docs get no row.

    ``hash_mode='md5'`` uses the DuckDB-twin :func:`md5h` token hash
    (60-bit, so bits 60-63 of the signature are then constant-zero —
    harmless: both sides compute the identical signature).
    """
    if hash_mode == "md5" and impl != "jvm":
        # Same reasoning as minhash_signatures_arrow: the signature is a
        # per-row computation and the md5 twin hash is expensive as JVM
        # expressions — one shuffle-free Arrow pass, bit-identical
        # (parity-tested).
        return simhash_signatures_arrow(df, text_col, id_col)
    token_hash = md5h(F.col("t")) if hash_mode == "md5" else F.xxhash64("t")
    postings = (
        df.select(F.col(id_col).alias("id"), F.explode(word_tokens(F.col(text_col))).alias("t"))
        .select("id", token_hash.alias("h"))
    )
    sums = [
        F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{i}")
        for i in range(64)
    ]
    agg = postings.groupBy("id").agg(*sums)
    sig = F.lit(0).cast("long")
    for i in range(64):
        bit_val = (1 << i) if i < 63 else -(1 << 63)
        sig = sig.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, F.lit(bit_val).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return agg.select("id", sig.alias("sig"))


def simhash_signatures_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """md5-mode SimHash signatures as one Arrow ``mapInPandas`` pass —
    bit-identical to the JVM md5 shape (tokens hashed with md5h, 64
    per-bit ±1 sums, bit set iff sum > 0; md5h is 60-bit so bits 60-63
    are constant-zero on both paths). Shuffle-free for the same reason
    as :func:`minhash_signatures_arrow`: the document is one row.
    """
    import hashlib
    import re as _re

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    ws = _re.compile(r"\s+", _re.ASCII)
    shifts = np.arange(64, dtype=np.uint64)

    out_schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType),
            StructField("sig", LongType()),
        ]
    )

    def _gen(batches):
        md5 = hashlib.md5
        for pdf in batches:
            ids: list = []
            sigs: list = []
            memo: dict[str, int] = {}
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = [t for t in ws.split(text.strip()) if t]
                if not toks:
                    continue
                hs = np.empty(len(toks), dtype=np.uint64)
                for j, t in enumerate(toks):
                    v = memo.get(t)
                    if v is None:
                        v = int(md5(t.encode()).hexdigest()[:15], 16)
                        memo[t] = v
                    hs[j] = v
                # (m, 64) bit matrix -> per-bit sum of (2*bit - 1)
                bits = (hs[:, None] >> shifts) & np.uint64(1)
                bitsums = (bits.astype(np.int64) * 2 - 1).sum(axis=0)
                sig = int(
                    np.bitwise_or.reduce(
                        np.where(bitsums > 0, np.uint64(1) << shifts, np.uint64(0))
                    )
                )
                ids.append(did)
                sigs.append(sig)
            yield pd.DataFrame({"id": ids, "sig": sigs})

    narrow = df.select(F.col(id_col), F.col(text_col))
    ncores = narrow.sparkSession.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < ncores:
        narrow = narrow.repartition(ncores)
    return narrow.mapInPandas(_gen, out_schema)


def simhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ max_hamming.

    Pigeonhole banding: split the 64-bit signature into 4 × 16-bit
    quarters; any pair within Hamming ≤ 3 agrees exactly on ≥1 quarter
    → equi-join per quarter, then exact Hamming verify via bit_count.
    """
    sig = simhash_signatures(df, text_col, id_col, hash_mode=hash_mode)
    quarters = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.shiftright(F.col("sig"), q * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("qval"),
                    )
                    for q in range(4)
                ]
            )
        ).alias("qq"),
    ).select("id", "sig", F.col("qq.q").alias("q"), F.col("qq.qval").alias("qval"))
    right = quarters.select(
        F.col("id").alias("id2"), F.col("sig").alias("sig2"),
        F.col("q").alias("q2"), F.col("qval").alias("qval2"),
    )
    return (
        quarters.join(
            right,
            (F.col("q") == F.col("q2"))
            & (F.col("qval") == F.col("qval2"))
            & (F.col("id") < F.col("id2")),
        )
        .select(F.col("id").alias("id1"), "id2", "sig", "sig2")
        .dropDuplicates(["id1", "id2"])
        .withColumn("hamming", F.bit_count(F.col("sig").bitwiseXOR(F.col("sig2"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


def fuzzy_name_pairs(
    df: DataFrame,
    name_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Near-duplicate string pairs by blocked Levenshtein distance.

    Blocking: candidate pairs only form within the same last-word block
    (regexp-extracted), so the self-join is block-local instead of
    all-pairs — the same sub-quadratic shape as the shingle/banding
    dedups above, for short strings where edit distance is the right
    metric (product names, entity labels). Within a block the join is a
    codegen'd JVM ``levenshtein`` — no Python. At 100 TB add a length
    band (``abs(len(a)-len(b)) <= max_dist``) to the join condition —
    included here — and widen blocking keys before block sizes grow
    past ~10^4.

    Returns distinct (name_a, name_b, dist) with name_a < name_b.
    """
    names = (
        df.select(F.col(name_col).alias("name"))
        .distinct()
        .withColumn("_blk", F.regexp_extract("name", r"[^ ]+$", 0))
        .withColumn("_len", F.length("name"))
    )
    a = names.select(
        F.col("name").alias("name_a"),
        F.col("_blk").alias("blk_a"),
        F.col("_len").alias("len_a"),
    )
    b = names.select(
        F.col("name").alias("name_b"),
        F.col("_blk").alias("blk_b"),
        F.col("_len").alias("len_b"),
    )
    return (
        a.join(
            b,
            (F.col("blk_a") == F.col("blk_b"))
            & (F.col("name_a") < F.col("name_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= max_dist),
        )
        .withColumn(
            "dist", F.levenshtein("name_a", "name_b").cast("int")
        )
        .filter(F.col("dist") <= max_dist)
        .select("name_a", "name_b", "dist")
    )


def source_ngram_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    n: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Cross-source n-gram overlap matrix: for every unordered source
    pair, the number of distinct token n-grams they share and the
    set Jaccard — the corpus-provenance audit that surfaces mirrored /
    re-crawled / syndicated content BETWEEN sources before per-doc
    dedup runs (a source pair with high Jaccard is a candidate for
    dropping one side wholesale).

    Plan: per-doc shingles (one window pass, :func:`shingle_postings`)
    → attach the source (id-partitioned join, reuses the window's
    partitioning) → (source, shingle) DISTINCT — the one big shuffle,
    partial-combined — → inverted-index self-join on shingle. A
    shingle appearing in g sources yields ≤ g²/2 pair rows, and g is
    bounded by the source count, so candidate generation can't blow up
    the way an all-pairs doc join would. Source set sizes broadcast.

    Shared-shingle COUNTS are hash-invariant (any injective shingle
    hash gives the same counts), so the DuckDB oracle can rebuild the
    matrix from plain-text n-grams; md5 mode keeps the 60-bit
    collision odds identical to the oracled Jaccard pipeline.
    """
    # Round-12 (guide §2.4): shingles come from the row-local
    # :func:`shingle_array` (bit-identical hashes) with the source kept
    # on the row, so the former window pass (exchange + per-id sort
    # over the exploded token stream) AND the postings⋈source id-join
    # disappear outright — the (source, shingle) DISTINCT below was
    # always the one shuffle this audit fundamentally needs, and now
    # it is the only pre-join shuffle left. ``spread_small`` floors the
    # tokenize/hash stage at cluster width on single-split local scans
    # (no-op at scale); per-row ``array_distinct`` pre-shrinks the
    # explode before the distinct.
    from hw_kafka_streams_spark.operators.skew import spread_small

    base = spread_small(
        df.select(
            F.col(id_col).alias("id"),
            F.col(group_col).alias("grp"),
            F.col(text_col).alias("__t"),
        ),
        key="id",
    )
    # persist: three consumers (sizes + both self-join sides) would
    # otherwise each recompute the whole shingle pipeline — measured 14
    # exchanges with 0 reuse; at crawl scale that is 3 full scans
    gs = managed_persist(
        base.select(
            "grp",
            F.explode(
                shingle_array(F.col("__t"), n=n, distinct=True,
                              hash_mode=hash_mode)
            ).alias("shingle"),
        ).distinct()
    )
    sizes = gs.groupBy("grp").agg(F.count(F.lit(1)).alias("sz"))
    a = gs.select(F.col("grp").alias("s1"), "shingle")
    b = gs.select(F.col("grp").alias("s2"), "shingle")
    inter = (
        # shuffle-hash, not sort-merge: rows per shingle are bounded by
        # the group count, so the per-partition build side stays small
        # at any corpus size and no sort is needed
        a.join(b.hint("shuffle_hash"), "shingle")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    z1 = F.broadcast(sizes.select(F.col("grp").alias("s1"), F.col("sz").alias("sz1")))
    z2 = F.broadcast(sizes.select(F.col("grp").alias("s2"), F.col("sz").alias("sz2")))
    return (
        inter.join(z1, "s1")
        .join(z2, "s2")
        .select(
            "s1",
            "s2",
            "n_shared",
            F.round(
                F.col("n_shared") / (F.col("sz1") + F.col("sz2") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Exact Jaccard-threshold self-join via PREFIX FILTERING (the
    AllPairs/PPJoin family, Bayardo et al. 2007) — the completeness-
    preserving alternative to LSH: if Jaccard(A, B) ≥ τ, the two sets
    must share an element within each one's first
    ``|S| - ceil(τ·|S|) + 1`` elements under ANY global order; ordering
    rarest-first makes those prefix elements the most selective join
    keys. Unlike ``max_df`` trimming (which changes the measured
    Jaccard) or MinHash banding (which loses recall), pruning here is
    LOSSLESS — every qualifying pair survives, which is also why the
    oracle is simply "all pairs with Jaccard ≥ τ".

    Plan: row-local shingle arrays (zero shuffle) → doc-frequency
    partial-agg ``groupBy(shingle)`` + equi-join back → per-doc
    rarest-first prefix [1 id shuffle] → candidate equi-join on prefix
    shingles only → exact verify restricted to candidates. At τ=0.9
    the prefix is ~10% of each set, cutting the inverted-index join's
    candidate volume by ~100× on the frequent shingles that dominate
    it. High τ is the operator's regime; low τ degrades gracefully
    toward the plain inverted index.

    Duplicate ``id_col`` values are safe: the per-doc set is built with
    ``collect_set`` (union-of-shingles semantics per id, same as the
    inverted-index path's ``(id, shingle)`` distinct), and duplicate
    postings only inflate the doc-frequency ORDER — any consistent
    global order preserves the prefix-filter completeness proof.
    """
    # Shingle sets are built ROW-LOCALLY (array expressions over the
    # token array — zero shuffle, including the per-doc distinct via
    # array_distinct), replacing the window-lead + dropDuplicates
    # shingle path that cost two exchanges before the first real one.
    # Doc frequencies attach via partial-agg groupBy(shingle) + an
    # equi-join back — NOT a count window partitioned by shingle: the
    # window forces every posting of a shingle into ONE task with no
    # map-side combine and no AQE skew splitting, so a Zipfian-hot
    # trigram becomes a single multi-GB straggler partition at 100 TB
    # (VERDICT r8 item 1). The groupBy gets map-side partial
    # aggregation (the frequency table is |distinct shingles| rows,
    # not |postings|) and the join back is AQE-skew-splittable; at
    # small SF AQE broadcasts the frequency table outright. Exchange
    # budget asserted in test_prefix_filter_shuffle_budget (<=6, plus
    # zero WindowExec nodes).
    narrow = df.select(F.col(id_col).alias("id"), F.col(text_col))
    # Row-local hashing is CPU-bound and pipelines onto the SCAN's
    # splits — spread a small single-split corpus across cores first
    # (no-op when the scan already yields >= core-count splits).
    ncores = narrow.sparkSession.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < ncores:
        narrow = narrow.repartition(ncores)
    postings = narrow.select(
        "id",
        F.explode(
            shingle_array(F.col(text_col), n, hash_mode=hash_mode)
        ).alias("shingle"),
    )
    freq = postings.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
    postings = postings.join(freq, "shingle")
    # ONE id-keyed shuffle builds both the rarest-first prefix AND the
    # verify-side shingle array: collect (sdf, shingle) structs per doc,
    # sort in-array (sort_array on structs orders by sdf then shingle —
    # the PPJoin global order), slice the prefix. collect_SET, not
    # list: duplicate doc ids would otherwise inflate sz and silently
    # drop qualifying pairs below threshold (ADVICE r8).
    by_doc = (
        postings.groupBy("id")
        .agg(
            F.transform(
                F.sort_array(F.collect_set(F.struct("sdf", "shingle"))),
                lambda s: s["shingle"],
            ).alias("shs")
        )
        .withColumn("sz", F.size("shs"))
        .withColumn(
            "prefix",
            F.slice(
                "shs",
                F.lit(1),
                (
                    F.col("sz")
                    - F.ceil(F.lit(threshold) * F.col("sz"))
                    + 1
                ).cast("int"),
            ),
        )
        .persist()
    )
    pre = by_doc.select("id", F.explode("prefix").alias("shingle"))
    cand = (
        pre.select(F.col("id").alias("id1"), "shingle")
        .join(pre.select(F.col("id").alias("id2"), "shingle"), "shingle")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    # verify via the per-doc shingle ARRAYS, not a postings re-join:
    # joining cand back to postings would expand every pair by
    # |shingles(id1)| rows before the intersect count; one array row
    # per doc keeps the verify at one row per candidate pair — two
    # id-keyed hash joins + a codegen'd array_intersect. Array width is
    # bounded by doc length, so rows stay small at any corpus scale.
    arrays = by_doc.select("id", "shs", "sz")
    a1 = arrays.select(
        F.col("id").alias("id1"), F.col("shs").alias("shs1"), F.col("sz").alias("sz1")
    )
    a2 = arrays.select(
        F.col("id").alias("id2"), F.col("shs").alias("shs2"), F.col("sz").alias("sz2")
    )
    return (
        cand.join(a1, "id1")
        .join(a2, "id2")
        .withColumn("n_common", F.size(F.array_intersect("shs1", "shs2")))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("sz1") + F.col("sz2") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", F.round("jaccard", 4).alias("jaccard"))
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs: c(A→B) = |A∩B| / |A| — how
    much of document A's shingle set lives inside B. Catches the
    excerpt/quote/expanded-rewrite relationships that symmetric Jaccard
    structurally misses: a 50-shingle doc fully contained in a
    5000-shingle doc has J ≈ 0.01 but c = 1.0. This is the signal
    corpus pipelines use to drop pages that are mostly quotes of
    another page.

    Same inverted-index plan as :func:`jaccard_candidate_pairs` (one
    shuffle on shingle, one on the pair key, ``max_df`` skew guard);
    one extra row per direction when both directions qualify
    (``small_id``/``big_id`` = contained/containing).
    """
    return containment_pairs_scored(
        df, text_col, id_col, n, threshold, max_df
    ).select("small_id", "big_id", "containment")


def containment_topk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    k: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Per-anchor bounded containment: the top ``k`` containing
    documents per contained document, ranked by (containment desc,
    n_common desc, big_id asc).

    The OUTPUT-bounded form of :func:`containment_pairs`: on a
    duplicate-heavy corpus the full pair list is output-volume-driven
    (10 near-copies of every doc → ~100× the pairs — the sf1 probe
    measures exactly that blow-up), but a dedup pipeline only needs
    one-or-few containing docs per anchor to decide a drop, so the
    per-anchor top-k is the form that runs at 100 TB: output ≤ k·|docs|
    rows no matter how duplicated the corpus is. The ranking window
    partitions by small_id (never global) and Spark executes the
    rank<=k filter as WindowGroupLimit — a running top-k per key, not
    a full per-key sort."""
    from pyspark.sql import Window

    pairs = containment_pairs_scored(df, text_col, id_col, n, threshold, max_df)
    w = Window.partitionBy("small_id").orderBy(
        F.desc("containment"), F.desc("n_common"), F.asc("big_id")
    )
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("small_id", "big_id", "containment", F.col("rk").cast("int"))
    )


def containment_pairs_scored(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """:func:`containment_pairs` keeping ``n_common`` in the output —
    shared by the top-k variant, which needs it as a deterministic
    tie-break."""
    # Round-12: row-local shingle sets + per-id union fold, exactly the
    # :func:`jaccard_candidate_pairs` shape (see the comment there) —
    # no window pass, one persist feeding sizes and both join sides
    # (this path previously had NO persist, so the whole shingle
    # pipeline re-ran per consumer wherever exchange reuse missed).
    from hw_kafka_streams_spark.operators.skew import spread_small

    base = spread_small(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")),
        key="id",
    )
    per_row = base.select(
        "id", shingle_array(F.col("__t"), n=n, distinct=True).alias("shr")
    )
    sarr = managed_persist(
        per_row.groupBy("id").agg(
            F.array_distinct(F.flatten(F.collect_list("shr"))).alias("sh")
        )
    )
    postings = sarr.select("id", F.explode("sh").alias("shingle"))
    if max_df is not None:
        rare = (
            postings.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        postings = postings.join(rare, "shingle")
        # containment denominators follow the CUT postings (historical
        # contract of this operator — unlike jaccard's true-size rule)
        sizes = postings.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    else:
        sizes = sarr.select("id", F.size("sh").cast("long").alias("sz"))
    p2 = postings.select(F.col("id").alias("idb"), F.col("shingle").alias("shb"))
    inter = (
        postings.join(
            p2, (postings.shingle == p2.shb) & (postings.id != p2.idb)
        )
        .groupBy(F.col("id").alias("small_id"), F.col("idb").alias("big_id"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("small_id"), F.col("sz").alias("sz_small"))
    return (
        inter.join(sa, "small_id")
        .withColumn("containment", F.col("n_common") / F.col("sz_small"))
        .filter(F.col("containment") >= threshold)
        .select(
            "small_id",
            "big_id",
            F.round("containment", 4).alias("containment"),
            "n_common",
        )
    )


def char_span_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 20,
    stride: int = 10,
    max_df: int | None = 50,
    min_shared: int = 2,
) -> DataFrame:
    """Substring-level (exact-span) duplicate pairs — which documents
    share verbatim character ``n``-gram spans, the corpus-internal twin
    of eval decontamination (chunking.char_ngram_contamination) and the
    cheap approximation of suffix-array substring dedup.

    Returns (doc_a, doc_b, n_shared_spans): doc_a < doc_b, counting
    DISTINCT shared grams, pairs with at least ``min_shared``.

    Scale: the pair generator is an inverted-index self-join on the
    gram — never all-pairs — and ``max_df`` drops grams appearing in
    more than that many docs BEFORE the self-join, which is what keeps
    a boilerplate gram (df=10⁶ docs → 10¹² pairs) from detonating the
    shuffle. Unlike the MinHash path this is exact on what it keeps,
    so the df cap is part of the operator's declared contract (and of
    the SQL oracle), not a hidden approximation.
    """
    from hw_kafka_streams_spark.operators.chunking import char_ngrams
    from hw_kafka_streams_spark.operators.skew import spread_small

    # Round-12 (SQL-metrics profile): the strided substr explode ran as
    # ONE 3.6 s task (single scan split) and re-ran for the df-guard
    # consumer (no persist) — spread the (id, text) input to cluster
    # width first (no-op at scale), persist the distinct gram postings
    # once for all three consumers (df guard + both self-join sides).
    src = spread_small(
        df.select(F.col(id_col), F.col(text_col)), key=id_col
    )
    g = managed_persist(
        char_ngrams(src, text_col, id_col, n, stride).distinct()
    )
    if max_df is not None:
        keep = (
            g.groupBy("gram")
            .agg(F.countDistinct(id_col).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("gram")
        )
        g = g.join(keep, "gram")
    a = g.select(F.col(id_col).alias("doc_a"), "gram")
    b = g.select(F.col(id_col).alias("doc_b"), "gram")
    return (
        # shuffle-hash, not sort-merge: rows per gram are bounded by
        # max_df, so the per-partition build side stays small at any
        # corpus size and no sort is needed
        a.join(b.hint("shuffle_hash"), "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_spans"))
        .filter(F.col("n_shared_spans") >= min_shared)
    )


def substring_dedup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 20,
    max_df: int | None = 50,
    min_len: int = 30,
    hash_mode: str = "xxhash64",
    include_self: bool = False,
) -> DataFrame:
    """Variable-length duplicate-substring pairs — the maximal verbatim
    common substrings between document pairs, the distributed stand-in
    for suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": memorization removal
    needs the LONGEST duplicated span, not fixed-length span counts —
    which is exactly what :func:`char_span_pairs` cannot give).

    Returns ``(doc_a, doc_b, start_a, start_b, span_len)`` — doc_a <
    doc_b, 1-based character offsets into the lower-cased text, one row
    per MAXIMAL shared span with ``span_len >= min_len``. Exact for
    spans of length ≥ ``n`` whose every ``n``-window survives the df
    cap: a common substring of length L contributes L−n+1 consecutive
    anchor hits on one alignment diagonal, and the diagonal run-merge
    recovers L exactly.

    ``include_self=True`` additionally emits WITHIN-document repeats
    (``doc_a == doc_b``, ``start_a < start_b``) — the other half of
    Lee et al.'s removal target (boilerplate repeated inside one page);
    the same diagonal machinery applies, restricted to pos_a < pos_b so
    each repeat surfaces once, never the trivial self-diagonal 0.

    Scale shape — suffix arrays don't distribute; this does, in three
    bounded stages:

    1. anchor grams at EVERY offset (stride 1) — one narrow explode,
       rows = corpus chars, hashed to longs before the shuffle;
    2. inverted-index self-join on the gram hash with the ``max_df``
       boilerplate guard (same declared-contract lever as
       char_span_pairs — a df-capped gram list keeps any posting list,
       and therefore the join fan-out, bounded at any corpus size);
    3. run-merge: matches group by (doc_a, doc_b, diagonal = pos_a −
       pos_b); within a diagonal, consecutive positions are islands
       found by the pos − row_number() trick — a window PARTITIONED by
       pair+diagonal (never global), then one agg emits each maximal
       island as (min pos, run length + n − 1).

    ``hash_mode='md5'`` uses the DuckDB-twin :func:`md5h` so the full
    pipeline is value-hash oracle-able; xxhash64 is the scale default.
    """
    from pyspark.sql import Window

    lt = F.lower(F.col(text_col))
    # persist the anchor table: the df-cap branch, the keep join, and
    # BOTH self-join sides re-read it, and each un-persisted branch
    # re-runs the explode + per-position hash over every corpus char
    # (the dominant cost — measured 4 recomputes; cache.py lifecycle)
    grams = managed_persist(
        df.filter(F.length(text_col) >= n).select(
            F.col(id_col).alias("_id"),
            F.explode(F.sequence(F.lit(1), F.length(lt) - n + 1)).alias(
                "_pos"
            ),
            lt.alias("_lt"),
        ).select(
            "_id",
            "_pos",
            (
                md5h(F.substring(F.col("_lt"), F.col("_pos"), n))
                if hash_mode == "md5"
                else F.xxhash64(F.substring(F.col("_lt"), F.col("_pos"), n))
            ).alias("_gh"),
        )
    )
    if max_df is not None:
        keep = (
            grams.groupBy("_gh")
            .agg(F.countDistinct("_id").alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("_gh")
        )
        grams = managed_persist(grams.join(keep, "_gh"))
    a = grams.select(
        F.col("_id").alias("doc_a"), F.col("_pos").alias("_pa"), "_gh"
    )
    b = grams.select(
        F.col("_id").alias("doc_b"), F.col("_pos").alias("_pb"), "_gh"
    )
    pair_cond = (
        (F.col("doc_a") < F.col("doc_b"))
        | (
            (F.col("doc_a") == F.col("doc_b")) & (F.col("_pa") < F.col("_pb"))
        )
        if include_self
        else (F.col("doc_a") < F.col("doc_b"))
    )
    hits = (
        # shuffle-hash: per-gram rows bounded by max_df × positions —
        # no sort needed, build side stays small
        a.join(b.hint("shuffle_hash"), "_gh")
        .filter(pair_cond)
        .select("doc_a", "doc_b", "_pa", "_pb", (F.col("_pa") - F.col("_pb")).alias("_diag"))
        .distinct()  # same gram at the same (pos_a, pos_b) via hash collision
    )
    w = Window.partitionBy("doc_a", "doc_b", "_diag").orderBy("_pa")
    islands = hits.withColumn("_grp", F.col("_pa") - F.row_number().over(w))
    return (
        islands.groupBy("doc_a", "doc_b", "_diag", "_grp")
        .agg(
            F.min("_pa").cast("long").alias("start_a"),
            F.min("_pb").cast("long").alias("start_b"),
            (F.max("_pa") - F.min("_pa") + n).cast("long").alias("span_len"),
        )
        .filter(F.col("span_len") >= min_len)
        .select("doc_a", "doc_b", "start_a", "start_b", "span_len")
    )


def block_dedup_rewrite(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_words: int = 10,
) -> DataFrame:
    """Corpus-level paragraph-dedup REWRITE (the C4/RefinedWeb recipe):
    cut every document into fixed ``block_words``-word blocks, keep only
    the corpus-wide FIRST occurrence of each distinct block (ordered by
    (doc id, block index)), and reassemble what survives — returning the
    cleaned text, not just the duplicate spans (that detection side is
    ``substring_dedup_spans``). Documents whose every block is a repeat
    of earlier text vanish from the output, exactly like C4's
    three-sentence-span rule drops fully-boilerplate pages.

    Scale: one explode multiplies rows by len/B (bounded, map-local),
    the first-occurrence group keys on md5(block) — a fixed-width
    32-char key, never the block text itself — with map-side combined
    min(), and the reassembly shuffle is keyed back on the doc id. No
    pairwise joins anywhere: cost is O(total blocks), the same shape at
    100 TB. Ref: reference has no sub-record dedup; this extends
    its per-record censor/dedup model (KafkaStreamApp.java) to
    corpus-level content hygiene.
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    docs = (
        df.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
        .select(
            F.col(id_col).cast("long").alias("_id"),
            words.alias("_ws"),
        )
        .withColumn(
            "_nb",
            F.ceil(F.size("_ws") / F.lit(block_words)).cast("int"),
        )
    )
    blocks = docs.select(
        "_id",
        "_nb",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("_nb") - 1),
                lambda i: F.array_join(
                    F.slice(F.col("_ws"), i * block_words + 1, block_words),
                    " ",
                ),
            )
        ).alias("_blk", "_btxt"),
    ).withColumn("_bh", F.md5(F.col("_btxt")))
    # corpus-wide first occurrence per block hash: min over the
    # lexicographic (doc, block) struct — still one map-side-combined
    # aggregate, and unlike a packed integer key it stays correct for
    # any block count and for negative/arbitrary doc ids (round-6
    # advisor item: id*1e6+blk interleaves beyond 1M blocks per doc)
    firsts = (
        blocks.select("_bh", F.struct("_id", "_blk").alias("_k"))
        .groupBy("_bh")
        .agg(F.min("_k").alias("_first"))
    )
    kept = blocks.join(firsts, "_bh").filter(
        (F.col("_id") == F.col("_first._id"))
        & (F.col("_blk") == F.col("_first._blk"))
    )
    return (
        kept.groupBy("_id")
        .agg(
            F.max("_nb").cast("long").alias("n_blocks"),
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_blk", "_btxt"))),
                    lambda s: s["_btxt"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(F.col("_id").alias(id_col), "n_blocks", "n_kept", "clean_text")
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm), word-level: hash every k-word shingle,
    slide a w-window over the hash sequence, keep each window's
    MINIMUM. The selection guarantee: any shared run of at least
    ``w + k - 1`` words between two documents is certain to share a
    selected fingerprint — a DETERMINISTIC local-sampling dedup
    primitive (MinHash's guarantee is only probabilistic) at ~1/w the
    posting volume of full shingling.

    Word-level rather than MOSS's character k-grams — the standard
    large-corpus adaptation (char-grams at crawl scale explode the
    posting count ~6×). Only the selected hash VALUES are kept (the
    classic (hash, pos) pairs matter for locating matches, not for
    candidate generation; array_distinct collapses repeated picks).

    Plan shape is the :func:`shingle_postings` scale path, NOT the
    row-local HOF form: an array formulation re-evaluates the whole
    shingle-hash array per window element (interpreted HOFs are not
    CSE'd — the oracle-check wall at sf0.01 measured 48 s for the HOF
    form vs 8 s for this one), so tokens posexplode
    once, shingles assemble from ``lead`` offsets, and the w-window
    minimum is one ``min() over (rowsBetween(0, w-1))`` pass reusing
    the same id-keyed sort. Hashes are the two-level md5 60-bit twin
    (token hash, then shingle = md5h of the '|'-joined token hashes)
    so DuckDB rebuilds identical selections. Docs shorter than
    k + w - 1 words emit nothing (stated contract — too short for the
    guarantee to mean anything).
    """
    from pyspark.sql import Window

    rows = df.select(
        F.col(id_col).alias("id"),
        F.lower(F.col(text_col)).alias("__wn_text"),
        F.monotonically_increasing_id().alias("rid"),
    )
    toks = rows.select(
        "id",
        "rid",
        F.posexplode(word_tokens(F.col("__wn_text"))).alias("pos", "tok"),
    ).select("id", "rid", "pos", md5h(F.col("tok")).alias("th"))
    ww = Window.partitionBy("id").orderBy("rid", "pos")
    parts = [F.col("th")] + [F.lead("th", i).over(ww) for i in range(1, k)]
    sh = (
        toks.select(
            "id",
            "rid",
            "pos",
            F.lead("rid", k - 1).over(ww).alias("rid_end"),
            *[p.alias(f"h{i}") for i, p in enumerate(parts)],
        )
        .filter(
            F.col(f"h{k-1}").isNotNull() & (F.col("rid_end") == F.col("rid"))
        )
        .select(
            "id",
            "rid",
            "pos",
            md5h(
                F.concat_ws("|", *[F.col(f"h{i}") for i in range(k)])
            ).alias("sh"),
        )
    )
    # the same (id)-keyed sort serves the shingle assembly above and
    # the w-window minimum below — one exchange total
    wmin = Window.partitionBy("id").orderBy("rid", "pos").rowsBetween(0, w - 1)
    picks = (
        sh.select(
            "id",
            F.min("sh").over(wmin).alias("fp"),
            F.lead("pos", w - 1)
            .over(Window.partitionBy("id").orderBy("rid", "pos"))
            .alias("pos_end"),
            F.lead("rid", w - 1)
            .over(Window.partitionBy("id").orderBy("rid", "pos"))
            .alias("rid_end"),
            "rid",
        )
        .filter(F.col("pos_end").isNotNull() & (F.col("rid_end") == F.col("rid")))
        .select("id", "fp")
    )
    return picks.dropDuplicates(["id", "fp"])


def winnowing_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    min_shared: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs from winnowed fingerprints: equi-join
    the (id, fingerprint) postings with itself (a < b), keep pairs
    sharing at least ``min_shared`` selections. Posting-list-bounded
    like every candidate generator here — never all-pairs; the
    fingerprint key's fan-out is 1/w of full shingling's.
    """
    fps = winnow_fingerprints(df, text_col, id_col, k, w)
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id"))
        )
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def cdc_chunk_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    window: int = 8,
    mask: int = 64,
) -> DataFrame:
    """Content-defined chunking (CDC) dedup audit per group.

    The storage-dedup primitive (Muthitacharoen et al., LBFS SOSP'01;
    the FastCDC/Gear family refines it): split each document at
    positions where a hash of the trailing ``window`` characters is
    0 mod ``mask`` — boundaries depend on CONTENT, not offsets, so an
    insertion early in a document shifts no boundary after the edit
    horizon and duplicated passages land in identical chunks
    (expected chunk length = ``mask`` chars). Fixed-width blocks lose
    all alignment after one insertion; CDC is why backup/dedup
    systems beat them — and why near-identical crawl snapshots
    dedup at chunk level even when exact-doc dedup misses them.

    This variant uses the WINDOWED-hash boundary (md5h of the trailing
    8-gram) rather than the Gear rolling recursion: semantics and
    shift-resistance are identical, and the boundary predicate is a
    pure per-position expression both engines evaluate exactly
    (a byte-recursive rolling state has no SQL twin). Production CDC
    adds min/max chunk clamps; omitted here, stated contract.

    Returns one row per group: chunk counts, within-group distinct
    chunks, byte totals and the dedup ratio. Plan: positions explode
    -> boundary filter (the only len(text)-sized stage, projected to
    (id, i) immediately), per-doc spans via lag, substr chunk
    extraction against the doc table, fingerprint groupBy — every
    stage partial-agged or keyed on (id)/(fingerprint), no windows
    over unbounded partitions (per-doc spans are doc-length-bounded).
    """
    from pyspark.sql import Window as W

    docs = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("txt"),
        F.col(group_col).alias("grp"),
        F.length(text_col).alias("len"),
    ).filter(F.col("txt").isNotNull() & (F.col("len") > 0))
    # len < window docs produce no positions (F.sequence would COUNT
    # DOWN for len < window — DuckDB's range is empty there); they
    # come back as whole-doc chunks below
    pos = docs.filter(F.col("len") >= window).select(
        "id",
        "len",
        F.explode(F.sequence(F.lit(window), F.col("len"))).alias("i"),
        F.col("txt"),
    )
    from hw_kafka_streams_spark.cache import managed_persist

    # persist: three consumers (spans lag, tail max, whole anti-join)
    # would each replay the len(text)-sized md5 boundary scan
    bnd = managed_persist(
        pos.filter(
            md5h(F.expr(f"substring(txt, i - {window - 1}, {window})"))
            % mask
            == 0
        ).select("id", "i")
    )
    # per-doc spans: lag over the (doc-length-bounded) boundary list,
    # plus the tail span closing at len
    wdoc = W.partitionBy("id").orderBy("i")
    spans = bnd.select(
        "id",
        (F.coalesce(F.lag("i").over(wdoc), F.lit(0)) + 1).alias("start"),
        F.col("i").alias("end"),
    )
    tail = (
        bnd.groupBy("id")
        .agg(F.max("i").alias("last"))
        .join(docs.select("id", "len"), "id")
        .filter(F.col("last") < F.col("len"))
        .select("id", (F.col("last") + 1).alias("start"), F.col("len").alias("end"))
    )
    whole = (
        docs.join(bnd.select("id").distinct(), "id", "left_anti")
        .select("id", F.lit(1).alias("start"), F.col("len").alias("end"))
    )
    allspans = spans.unionByName(tail).unionByName(whole)
    chunks = allspans.join(docs.select("id", "grp", "txt"), "id").select(
        "id",
        "grp",
        (F.col("end") - F.col("start") + 1).alias("nbytes"),
        md5h(
            F.expr("substring(txt, start, end - start + 1)")
        ).alias("fp"),
    )
    per_fp = chunks.groupBy("grp", "fp").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("nbytes").alias("nbytes"),
    )
    return (
        per_fp.groupBy("grp")
        .agg(
            F.sum("n").cast("long").alias("n_chunks"),
            F.count(F.lit(1)).cast("long").alias("n_unique"),
            F.sum(F.col("n") * F.col("nbytes")).cast("long").alias("bytes_total"),
            F.sum("nbytes").cast("long").alias("bytes_unique"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_chunks",
            "n_unique",
            "bytes_total",
            "bytes_unique",
            F.round(
                1.0
                - F.col("bytes_unique").cast("double") / F.col("bytes_total"),
                6,
            ).alias("dedup_ratio"),
        )
        .orderBy(group_col)
    )
