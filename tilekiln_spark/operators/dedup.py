"""Deduplication operators for web-scale training-data pipelines.

Six families, all shuffle-conscious and UDF-free except simhash (one
Arrow-vectorized pandas UDF over pre-hashed token arrays):

- exact_dedup       — hash groupBy; keeps the deterministic min-key doc.
- minhash signatures + LSH banding — shingle -> xxhash64 -> per-permutation
  min, banding -> candidate pairs via band equi-join, exact Jaccard verify.
  Entirely built-in expressions (split/transform/xxhash64/array_min/groupBy),
  so the whole path is JVM-side and scales: the only shuffle is the band join,
  keyed on (band_idx, band_hash) — naturally spread across 2^64 hash space.
- simhash           — 64-bit sign-aggregated token-hash fingerprint + banded
  Hamming candidate pairs.
- ngram_jaccard_pairs — exact pairwise Jaccard on token n-grams within
  LSH-candidate pairs (the verify stage; never all-pairs).
- embedding near-dup — see similarity.py (cosine + random-hyperplane LSH).
- connected_components / dedup_clusters — verified pairs -> duplicate
  clusters via alternating large-star/small-star contraction (O(log^2 n)
  rounds, diameter-independent), then per-doc canonical-survivor labels.

At 10^12 rows: exact dedup is one shuffle on a 16-byte hash; MinHash-LSH is
a map-only signature pass + one shuffle per band (or one shuffle of the
exploded bands, as implemented); candidate verification joins back to text
only for candidate ids (semi-join pruning).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from tilekiln_spark.operators.local_solve import collect_local, local_frame

# Mersenne prime 2^61-1: permutation hash universe (classic MinHash choice)
_P = (1 << 61) - 1


def _tokens(text: Column) -> Column:
    t = F.trim(F.lower(text))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def spread_cpu(df: DataFrame, *key_cols: str) -> DataFrame:
    """Scale-adaptive spread for CPU-bound map kernels (r6, guide §2:
    partitioning derived from the data, not a constant): when the source
    layout offers FEWER partitions than the session has cores — a small
    parquet scans as one task and a tokenize/encode kernel runs serially —
    redistribute across the cores first (hash on ``key_cols`` when given,
    else round-robin).  At corpus scale partitions >= cores already and
    the frame returns unchanged: no exchange on the 100 TB path."""
    if df.isStreaming:  # no .rdd on streaming frames; micro-batches are small
        return df
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n_parts:
        return df
    return df.repartition(n_parts, *key_cols) if key_cols else df.repartition(n_parts)


def shingles(text: Column, k: int = 3, toks: Column | None = None) -> Column:
    """k-token shingles as strings (empty array when fewer than k tokens).

    Built with arrays_zip over k shifted slices instead of per-index
    element_at lambdas: a lambda that re-references the tokens expression
    re-evaluates the full split() per element per reference in interpreted
    HOF mode (measured ~750 tokenizations/row for k=3) — the zip form
    evaluates it k+1 times total.  ``toks``: a pre-projected _tokens(text)
    column to share one tokenization across several consumers (r6;
    doc_quality_flags)."""
    if toks is None:
        toks = _tokens(text)
    n = F.size(toks)
    m = n - (k - 1)  # number of shingles
    shifted = [F.slice(toks, i + 1, m).alias(f"t{i}") for i in range(k)]
    zipped = F.arrays_zip(*shifted)
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.transform(zipped, lambda s: F.concat_ws(" ", *[s[f"t{i}"] for i in range(k)]))
    )


def _perm_coeffs(num_perm: int, seed: int = 42) -> tuple[list[int], list[int]]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _P, num_perm, dtype=np.int64).tolist()
    b = rng.integers(0, _P, num_perm, dtype=np.int64).tolist()
    return a, b


def make_minhash_sig_udf(num_perm: int, seed: int = 42):
    """Vectorized signature kernel: array<long> shingle hashes -> array<long>
    signature, computed as numpy broadcast (S x num_perm multiply-add, min
    over axis 0).  This is the legitimately-hot Arrow-UDF path: the
    expression form (minhash_signature) evaluates num_perm interpreted
    array transforms per row, ~50x slower."""
    from pyspark.sql.types import ArrayType, LongType
    import pandas as pd

    rng = np.random.default_rng(seed)
    a = rng.integers(1, _P, num_perm, dtype=np.uint64)
    b = rng.integers(0, _P, num_perm, dtype=np.uint64)
    sentinel = np.uint64((1 << 63) - 1)
    p = np.uint64(_P)

    @F.pandas_udf(ArrayType(LongType()))
    def sig(hashes: pd.Series) -> pd.Series:
        # whole-batch flatten + min.reduceat (same kernel shape as the
        # SimHash batch path): ONE (total_shingles x num_perm) multiply-add
        # for the whole Arrow batch, no per-row numpy dispatch
        n = len(hashes)
        lens = np.fromiter(
            (0 if hs is None else len(hs) for hs in hashes), dtype=np.int64, count=n
        )
        out_mat = np.full((n, num_perm), sentinel, dtype=np.uint64)
        nz = lens > 0
        if nz.any():
            flat = np.concatenate(
                [np.asarray(hs, dtype=np.int64) for hs in hashes if hs is not None and len(hs)]
            ).view(np.uint64)
            with np.errstate(over="ignore"):
                # wraparound multiply-add then mod p: a deterministic
                # universal-ish hash family (exact mod-p arithmetic not
                # required for LSH)
                m = (flat[:, None] * a[None, :] + b[None, :]) % p
            starts = np.concatenate([[0], np.cumsum(lens[nz])[:-1]])
            out_mat[nz] = np.minimum.reduceat(m, starts, axis=0)
        return pd.Series(list(out_mat.astype(np.int64)))

    return sig


def minhash_signature(text: Column, num_perm: int = 32, k: int = 3, seed: int = 42) -> Column:
    """array<long> MinHash signature.

    Each shingle is hashed once (xxhash64 of the string); the num_perm
    "permutations" re-hash that 8-byte value with a distinct salt
    (xxhash64(salt, h)) — fixed-width rehash, no per-perm string hashing and
    no int64 overflow (the classic a*h+b mod p affine trick overflows under
    ANSI arithmetic).  Empty shingle set -> Long.MaxValue sentinel."""
    sentinel = (1 << 63) - 1
    hashes = F.transform(shingles(text, k), lambda s: F.xxhash64(s))
    return F.array(
        *[
            F.coalesce(
                F.array_min(
                    F.transform(hashes, lambda h: F.xxhash64(F.lit(seed + j), h))
                ),
                F.lit(sentinel),
            )
            for j in range(num_perm)
        ]
    )


def exact_dedup(df: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Exact content dedup: md5 of text, keep the min-key row per hash.

    Deterministic winner (min key) so results are stable under re-partitioning;
    one shuffle on the 128-bit hash."""
    h = F.md5(F.encode(F.col(text_col), "utf-8"))
    w = Window.partitionBy("__h").orderBy(F.col(key_col).asc())
    return (
        df.withColumn("__h", h)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


def _banded_minhash(
    df: DataFrame,
    text_col: str,
    key_col: str,
    num_perm: int,
    bands: int,
    k: int,
    seed: int,
    max_bucket: int | None,
) -> DataFrame:
    """(k, band, bh) band-bucket rows for a corpus — the shared front half of
    minhash_lsh_pairs (self-join) and minhash_pairs_between (index join).

    Stage 1: shingle hashes (one interpreted pass over the text), spread
    across all cores with an explicit-width repartition — AQE would coalesce
    this CPU-bound stage to 1-2 tasks based on its tiny byte size.
    Stage 2: vectorized numpy signature (Arrow batch), then band hashes from
    the materialized signature array (ArrowEvalPython is a collapse barrier).
    Buckets larger than ``max_bucket`` are dropped (see minhash_lsh_pairs)."""
    assert num_perm % bands == 0
    r = num_perm // bands
    spark = df.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    hv = F.transform(shingles(F.col("t"), k), lambda s: F.xxhash64(s))
    hashed = (
        df.select(F.col(key_col).alias("k"), F.col(text_col).alias("t"))
        .repartition(n_parts, "k")  # BEFORE the shingle pass: tokenization runs on all cores
        .select("k", hv.alias("hv"))
    )
    sig_udf = make_minhash_sig_udf(num_perm, seed)
    sigs = hashed.select("k", sig_udf(F.col("hv")).alias("sig"))
    band_structs = [
        F.struct(
            F.lit(bi).alias("band"),
            F.xxhash64(
                F.concat_ws(
                    ",", *[F.element_at(F.col("sig"), bi * r + i + 1).cast("string") for i in range(r)]
                )
            ).alias("bh"),
        )
        for bi in range(bands)
    ]
    banded = sigs.select(
        "k", F.explode(F.array(*band_structs)).alias("b")
    ).select("k", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))
    if max_bucket is not None:
        # r6: only the OVER-cap buckets matter for the drop, and there are
        # at most total_rows/max_bucket of them — small BY CONSTRUCTION
        # (the mvt whale-tile pattern).  An anti-join against that set
        # replaces the full inner join that carried a per-row bucket count:
        # the rollup still partial-aggregates map-side, but the probe is a
        # (usually broadcast, AQE's call) anti join instead of a second
        # full-width shuffle join.  Measured 1.4 -> 0.9 s on the sf0.1
        # banding pass; identical surviving rows.
        big = (
            banded.groupBy("band", "bh")
            .agg(F.count("*").alias("__bn"))
            .filter(F.col("__bn") > F.lit(int(max_bucket)))
            .select("band", "bh")
        )
        banded = banded.join(big, ["band", "bh"], "left_anti")
    return banded


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_perm: int = 32,
    bands: int = 8,
    k: int = 3,
    seed: int = 42,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Candidate near-duplicate pairs (key_a < key_b) via MinHash + LSH banding.

    rows_per_band = num_perm / bands; a pair is a candidate iff it collides in
    >=1 band.  Returns distinct (key_a, key_b).  Scale: signatures are map-only;
    the explode produces `bands` rows/doc keyed by (band, hash-of-row-slice) —
    the join shuffle is uniform unless the corpus is pathologically duplicate-
    heavy.  AQE skew-join splits a hot PARTITION, but it cannot bound the
    OUTPUT: a band bucket of B near-identical docs emits B^2 candidate rows
    (a 10M-page boilerplate bucket = 10^14 pairs — job death at web scale),
    so buckets larger than ``max_bucket`` are dropped from pairing before
    the self-join (the bucket-size rollup shares the self-join's key, so AQE
    reuses the exchange).  Members of an over-cap bucket can still pair via
    their other, more selective bands; byte-identical boilerplate is the
    upstream exact_dedup / paragraph-dedup's job, not LSH's.  Pass
    ``max_bucket=None`` for the uncapped join."""
    banded = _banded_minhash(df, text_col, key_col, num_perm, bands, k, seed, max_bucket)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(right, ["band", "bh"])
        .filter(F.col("l.k") < F.col("r.k"))
        .select(F.col("l.k").alias("key_a"), F.col("r.k").alias("key_b"))
        .distinct()
    )


def ngram_jaccard(text_a: Column, text_b: Column, k: int = 3) -> Column:
    """Exact Jaccard similarity of k-token-shingle sets (verify stage)."""
    sa = F.array_distinct(shingles(text_a, k))
    sb = F.array_distinct(shingles(text_b, k))
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(F.array_union(sa, sb))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    threshold: float = 0.7,
    num_perm: int = 32,
    bands: int = 8,
    k: int = 3,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard >= threshold.

    Verification joins text back by key (semi-join pruning: only candidate
    ids touch the wide text column again)."""
    cands = minhash_lsh_pairs(df, text_col, key_col, num_perm, bands, k)
    texts = df.select(F.col(key_col).alias("k"), F.col(text_col).alias("t"))
    return (
        cands.join(texts.withColumnRenamed("k", "key_a").withColumnRenamed("t", "ta"), "key_a")
        .join(texts.withColumnRenamed("k", "key_b").withColumnRenamed("t", "tb"), "key_b")
        .withColumn("jaccard", ngram_jaccard(F.col("ta"), F.col("tb"), k))
        .filter(F.col("jaccard") >= threshold)
        .select("key_a", "key_b", "jaccard")
    )


def minhash_pairs_between(
    new_docs: DataFrame,
    index_docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    threshold: float = 0.7,
    num_perm: int = 32,
    bands: int = 8,
    k: int = 3,
    seed: int = 42,
    max_bucket: int | None = 100_000,
    index_banded: DataFrame | None = None,
) -> DataFrame:
    """Verified near-dup pairs BETWEEN two corpora: (new_key, index_key,
    jaccard) for every new doc whose exact k-shingle Jaccard against an
    index doc reaches ``threshold``.

    The incremental-ingestion face of MinHash dedup: a crawl increment is
    checked against the already-deduplicated corpus WITHOUT re-pairing the
    corpus against itself (the self-join over N+M docs costs (N+M)^2
    bucket work; this join costs N_bucket x M_bucket only).  Both sides
    band with the SAME seed/permutations, so identical texts collide in
    every band; at production scale the index side's (key, band, bh) table
    is persisted once and re-read per increment — re-banding the corpus
    here stands in for that read.

    Scale: candidates carry keys only (16 bytes/pair) through the distinct;
    text rejoins by key for the exact-Jaccard verify, touching only
    candidate ids.  Over-cap buckets drop per side (same rationale as
    minhash_lsh_pairs; an over-cap INDEX bucket usually means the index
    itself was not deduplicated).

    ``index_banded``: a pre-computed (k, band, bh) frame for the index
    side (from ``_banded_minhash`` with the SAME num_perm/bands/k/seed) —
    pass a persisted one when checking many increments against one index
    so the corpus-sized banding pass runs once, not per increment (the
    streaming face relies on this)."""
    nb = _banded_minhash(
        new_docs, text_col, key_col, num_perm, bands, k, seed, max_bucket
    )
    ib = (
        index_banded
        if index_banded is not None
        else _banded_minhash(
            index_docs, text_col, key_col, num_perm, bands, k, seed, max_bucket
        )
    )
    cands = (
        nb.alias("n")
        .join(ib.alias("i"), ["band", "bh"])
        .select(F.col("n.k").alias("key_new"), F.col("i.k").alias("key_index"))
        .distinct()
    )
    nt = new_docs.select(
        F.col(key_col).alias("key_new"), F.col(text_col).alias("__tn")
    )
    it = index_docs.select(
        F.col(key_col).alias("key_index"), F.col(text_col).alias("__ti")
    )
    return (
        cands.join(nt, "key_new")
        .join(it, "key_index")
        .withColumn("jaccard", ngram_jaccard(F.col("__tn"), F.col("__ti"), k))
        .filter(F.col("jaccard") >= threshold)
        .select("key_new", "key_index", "jaccard")
    )


def dedup_against(
    new_docs: DataFrame,
    index_docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    threshold: float = 0.7,
    num_perm: int = 32,
    bands: int = 8,
    k: int = 3,
    seed: int = 42,
    max_bucket: int | None = 100_000,
    index_banded: DataFrame | None = None,
) -> DataFrame:
    """Keep/drop verdict for every NEW doc against the existing corpus:
    one row per new doc — (key, is_dup, dup_of, n_dups).  ``dup_of`` is
    the MIN matching index key (deterministic), null when clean; filter
    ``is_dup = 0`` to admit the increment.  New-vs-new duplicates are the
    next batch self-dedup's job (dedup_clusters) — this pass answers only
    "is it already in the corpus", so increments stay order-independent."""
    pairs = minhash_pairs_between(
        new_docs, index_docs, text_col, key_col, threshold,
        num_perm, bands, k, seed, max_bucket, index_banded,
    )
    agg = pairs.groupBy("key_new").agg(
        F.min("key_index").alias("dup_of"),
        F.count("*").alias("n_dups"),
    )
    keys = new_docs.select(F.col(key_col).alias("key_new"))
    return keys.join(agg, "key_new", "left").select(
        F.col("key_new").alias(key_col),
        F.col("dup_of").isNotNull().cast("int").alias("is_dup"),
        "dup_of",
        F.coalesce("n_dups", F.lit(0)).cast("long").alias("n_dups"),
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


@F.pandas_udf(LongType())
def _simhash_from_hashes(hashes: pd.Series) -> pd.Series:
    """array<long> token hashes -> 64-bit simhash, whole-batch vectorized:
    the ragged token arrays flatten into one (total_tokens, 64) bit plane,
    per-document bit sums come from np.add.reduceat at the document start
    offsets — no per-row Python loop (each batch is ~4 numpy ops)."""
    n = len(hashes)
    out = np.zeros(n, dtype=np.int64)
    vals = hashes.to_numpy()
    lens = np.fromiter(
        (0 if hs is None else len(hs) for hs in vals), dtype=np.int64, count=n
    )
    nz = lens > 0
    if not nz.any():
        return pd.Series(out)
    flat = np.concatenate([np.asarray(hs, dtype=np.int64) for hs in vals[nz]]).view(np.uint64)
    planes = np.arange(64, dtype=np.uint64)
    bits = ((flat[:, None] >> planes[None, :]) & np.uint64(1)).astype(np.int32)
    starts = np.concatenate([[0], np.cumsum(lens[nz])[:-1]])
    sums = np.add.reduceat(bits, starts, axis=0)  # (docs_nz, 64)
    votes = sums * 2 - lens[nz][:, None]  # (+1/-1 per token per bit)
    simbits = (votes > 0).astype(np.uint64)
    sims = (simbits << planes[None, :]).sum(axis=1, dtype=np.uint64).view(np.int64)
    out[np.where(nz)[0]] = sims
    return pd.Series(out)


def simhash(text: Column) -> Column:
    """64-bit SimHash over whitespace tokens (xxhash64 token hashes)."""
    toks = _tokens(text)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    return _simhash_from_hashes(hashes)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64 bits into `bands` blocks (a pair
    within Hamming distance < bands must collide in >=1 block — pigeonhole),
    then verify exact Hamming distance <= max_hamming.

    Same quadratic-output guard as ``minhash_lsh_pairs``: byte-identical
    boilerplate shares ONE simhash, so it collides in EVERY block — a
    B-doc family emits B^2 rows from the self-join.  Blocks larger than
    ``max_bucket`` are dropped from pairing (their members can still pair
    via other bands when they differ anywhere; identical text is
    ``exact_dedup``'s job).  ``max_bucket=None`` uncaps."""
    sh = df.select(F.col(key_col).alias("k"), simhash(F.col(text_col)).alias("sh"))
    width = 64 // bands
    banded = sh.select(
        "k", "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftrightunsigned(F.col("sh"), bi * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("block"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("b"),
    ).select("k", "sh", F.col("b.band").alias("band"), F.col("b.block").alias("block"))
    if max_bucket is not None:
        sizes = banded.groupBy("band", "block").agg(F.count("*").alias("__bn"))
        banded = (
            banded.join(sizes, ["band", "block"])
            .filter(F.col("__bn") <= F.lit(int(max_bucket)))
            .drop("__bn")
        )
    l, r = banded.alias("l"), banded.alias("r")
    hamming = F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh")))
    return (
        l.join(r, ["band", "block"])
        .filter(F.col("l.k") < F.col("r.k"))
        .select(
            F.col("l.k").alias("key_a"), F.col("r.k").alias("key_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# Duplicate clusters: connected components over verified near-dup pairs
# --------------------------------------------------------------------------


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) + {u}).

    min-over-neighborhood is a whole-partition window aggregate (NO
    groupBy+join: one exchange on src computes the min AND carries the rows
    it annotates), then the emit is a pure projection — ONE shuffle per
    large star.  No dedup here (round 6): duplicate (dst, m) rows do not
    change the following small star's min-over-neighborhood, and the small
    star ends with the round's single distinct — dropping this exchange
    removes one of four shuffles per contraction round at identical
    fixpoints (guide §2.4, remove shuffles outright)."""
    sym = _symmetrize(edges)
    m = F.least(F.min("dst").over(Window.partitionBy("src")), F.col("src"))
    return (
        sym.withColumn("m", m)
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges high->low, connect every low neighbor (and u itself) to
    min(N-(u) + {u}).  Both emitted rows per input row come out of one
    explode so the windowed frame is computed once (same 2-shuffle shape as
    _large_star)."""
    o = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    m = F.least(F.min("dst").over(Window.partitionBy("src")), F.col("src"))
    both = F.array(
        F.struct(F.col("dst").alias("s"), F.col("m").alias("d")),
        F.struct(F.col("src").alias("s"), F.col("m").alias("d")),
    )
    return (
        o.withColumn("m", m)
        .select(F.explode(both).alias("e"))
        .select(F.col("e.s").alias("src"), F.col("e.d").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    key_a: str = "key_a",
    key_b: str = "key_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) labels for the undirected graph given as a pair list;
    component = MIN node id in the component (deterministic canonical label).

    Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): converges in
    O(log^2 n) rounds regardless of component diameter, unlike naive
    min-label propagation whose round count is the graph diameter — the
    scale-safe choice when a duplicate cluster chains (doc A ~ B ~ C ... with
    A !~ C, common for boilerplate families at web scale).  Each round is 4
    node-keyed shuffles over the edge list only (per star: one window-min
    exchange that both computes min-over-neighborhood AND carries the rows
    it annotates — no groupBy+join — plus one dedup exchange; audited in
    PLANS.md); `localCheckpoint` truncates the
    lineage so the plan does not grow with the iteration count (an iterative
    driver loop, but every data operation is distributed — nothing beyond a
    2-value convergence aggregate ever reaches the driver).

    Fixpoint detection: (count, xor of row hashes) fingerprint of the edge
    set — one tiny aggregate per round; `max_iter` bounds the loop against
    the (2^-64-probability) fingerprint-collision false positive.

    Nodes that appear in `pairs` only: singletons never enter the edge list,
    so join the result back to the corpus with a coalesce-to-self (see
    dedup_clusters).

    Size-adaptive execution (round 6): when the DISTINCT edge list is small
    (<= ``local_solve.MAX_LOCAL_ROWS`` rows, 4M — ~64 MB of Arrow longs,
    the same bounded-collect budget class as the broadcast-PIP ring
    closure), the component solve runs as one vectorized numpy min-label /
    pointer-jumping pass on the driver and the labels re-enter the plan as a
    (small) local relation — the contraction loop's ~R rounds x 3 shuffles
    collapse into one collect.  Labels are IDENTICAL (component = min node
    id, a property of the graph, not the algorithm).  Above the threshold
    the proven distributed star contraction runs unchanged — the 100 TB
    path; the threshold mirrors Spark's own broadcast-join size adaption
    (guide §3.1): pick the strategy by the data's actual size, never ship
    an unbounded set to the driver.
    """
    spark = pairs.sparkSession
    edges = pairs.select(
        F.col(key_a).cast("long").alias("src"), F.col(key_b).cast("long").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    # lazy checkpoint: the sizing aggregate in collect_local is the
    # materializing job, so sizing + lineage-cut cost ONE job, not two
    edges = edges.localCheckpoint(eager=False)
    arrays = collect_local("connected_components", edges, ["src", "dst"])
    if arrays is not None:
        return _cc_local(spark, *arrays)

    def _fingerprint(e: DataFrame) -> tuple:
        # fingerprint of the round's canonical (distinct) edge set — no
        # symmetrize needed for fixpoint detection, the star output's
        # orientation is deterministic
        row = (
            e.select(F.count("*").alias("n"),
                     F.bit_xor(F.xxhash64("src", "dst")).alias("h"))
            .collect()[0]
        )
        return (row["n"], row["h"])

    prev = _fingerprint(edges)
    for _ in range(max_iter):
        # lazy checkpoint + the fingerprint agg as its materializing job:
        # one job per round instead of checkpoint-job + fingerprint-job
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        cur = _fingerprint(edges)
        if cur == prev:
            break
        prev = cur

    # Converged: a star forest, every edge points node -> component min.
    members = edges.select(
        F.greatest("src", "dst").alias("node"), F.least("src", "dst").alias("component")
    )
    roots = members.select(F.col("component").alias("node"), "component").distinct()
    return members.union(roots).distinct()


def _cc_local(spark, src, dst) -> DataFrame:
    """Bounded-size component solve: numpy min-label relaxation with
    pointer jumping over the collected edge arrays (O(E log n) vectorized
    work, ~ms at the 10^5-10^6-edge scale this path admits).  Returns the
    same (node, component=min id) frame as the distributed contraction."""
    import numpy as np

    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    si, di = inv[: len(src)], inv[len(src):]
    lab = np.arange(len(nodes), dtype=np.int64)
    # alternate edge relaxation and full pointer jumping; each outer round
    # at least halves the remaining tree heights, so rounds ~ O(log n)
    for _ in range(200):
        m = np.minimum(lab[si], lab[di])
        np.minimum.at(lab, si, m)
        np.minimum.at(lab, di, m)
        while True:
            nl = lab[lab]
            if np.array_equal(nl, lab):
                break
            lab = nl
        if np.array_equal(lab[si], lab[di]):
            break
    else:  # pragma: no cover - 200 rounds covers graphs far past the cap
        raise RuntimeError("connected_components: local solve did not converge")
    comp = nodes[lab]  # nodes is ascending, so min index == min node id
    return local_frame(spark, "node long, component long", nodes, comp)


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    threshold: float = 0.7,
    num_perm: int = 32,
    bands: int = 8,
    k: int = 3,
) -> DataFrame:
    """Full near-dup clustering: LSH candidates -> exact-Jaccard verify ->
    connected components -> one row per corpus doc with its cluster id and
    whether it is the cluster's canonical (min-id) survivor.

    This is the missing last stage of a production dedup pipeline (pairs are
    not actionable; keep/drop decisions are): filter `is_canonical` to
    materialize the deduplicated corpus.  Singleton docs are their own
    canonical cluster.  Scale: components run over the VERIFIED pair list
    (orders of magnitude smaller than the corpus); the final assignment is
    one broadcast-or-shuffle join of that small label table back to corpus
    keys only."""
    pairs = minhash_dedup_pairs(df, text_col, key_col, threshold, num_perm, bands, k)
    labels = connected_components(pairs)
    keys = df.select(F.col(key_col).cast("long").alias("node"))
    out = keys.join(labels, "node", "left").select(
        F.col("node").alias(key_col),
        F.coalesce("component", "node").alias("cluster_id"),
    )
    return out.withColumn(
        "is_canonical", (F.col(key_col) == F.col("cluster_id")).cast("int")
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    window: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-span profile: the distributable form of
    exact substring dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better" — their suffix-array pass is inherently
    single-machine; the shuffle-friendly equivalent hashes every
    ``window``-token sliding window and counts cross-document repeats).

    A window "repeats" when its exact token content occurs in >=
    ``min_docs`` distinct documents.  Returns one row per input document:
    ``(key, n_windows, n_dup_windows, dup_ratio)`` — the standard filter
    signal (drop or trim docs whose dup_ratio exceeds a budget; the
    paragraph-level REMOVAL transform is ``paragraph_dedup``).

    Scale shape (10^12 docs): windows materialize map-side via the same
    shifted-slice zip as ``shingles`` (no per-element re-tokenization) and
    enter the exchange as 32-char md5 hex + key — window TEXT never
    shuffles.  The repeat rollup is a two-phase count_distinct (map-side
    (h, key) combine); the flag join is hash-keyed and AQE-broadcast when
    the duplicated subset is small.  A production variant would swap md5
    for xxhash64 over token ids (half the CPU, same plan); md5 keeps the
    DuckDB oracle twin byte-identical."""
    wins = shingles(F.col(text_col), k=window)
    base = spread_cpu(df, key_col).select(
        F.col(key_col).alias("__key"),
        F.transform(wins, lambda s: F.md5(F.encode(s, "utf-8"))).alias("__ws"),
    )
    rows = base.select("__key", F.explode_outer("__ws").alias("__h"))
    dup = (
        rows.filter(F.col("__h").isNotNull())
        .groupBy("__h")
        .agg(F.count_distinct("__key").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__h", F.lit(1).alias("__dup"))
    )
    counted = (
        rows.join(dup, "__h", "left")
        .groupBy(F.col("__key").alias(key_col))
        .agg(
            F.count("__h").alias("n_windows"),
            F.coalesce(F.sum("__dup"), F.lit(0)).cast("long").alias("n_dup_windows"),
        )
    )
    return counted.withColumn(
        "dup_ratio",
        F.when(
            F.col("n_windows") > 0,
            F.round(F.col("n_dup_windows") / F.col("n_windows"), 6),
        ).otherwise(F.lit(0.0)),
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    min_docs: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """CCNet-style paragraph-level dedup: drop paragraphs that repeat across
    the corpus, keeping each repeated paragraph only in its canonical
    (min-key) document, then reassemble the surviving paragraphs in their
    original order.

    This is the web-text sibling of ``exact_dedup`` (reference scope: the
    tilekiln source rows are whole features; a Common-Crawl corpus needs
    SUB-document dedup because boilerplate — nav bars, cookie banners,
    footers — repeats across most pages of a host).  Rules:

    - a paragraph participates only if it is non-empty after trim;
      whitespace-only separator lines are always kept (formatting survives);
    - a participating paragraph is dropped when its exact content (md5 of
      the utf-8 bytes) appears in >= ``min_docs`` distinct documents and
      this document is not the minimum-key holder;
    - output is ONE row per input document: ``(key, text_clean, n_kept,
      n_dropped)``, text_clean possibly empty.

    Scale shape (10^12 docs): paragraphs explode map-side; the hash stats
    shuffle only (md5, doc_key) pairs — two-phase because count_distinct
    plans as a (h, key) pre-aggregation (map-side combine dedups within a
    partition) followed by the per-h rollup; paragraph TEXT never enters
    either exchange.  Only hashes seen in >= min_docs docs survive into the
    join (the duplicated subset — AQE broadcasts it when small, sort-merge
    otherwise); reassembly is one shuffle keyed on the doc key.  No driver
    materialization anywhere.
    """
    key = F.col(key_col)
    paras = df.select(
        key.alias("__key"),
        F.posexplode(F.split(F.col(text_col), sep, -1)).alias("__pos", "__para"),
    )
    participates = F.length(F.trim(F.col("__para"))) > 0
    hashed = paras.withColumn("__h", F.md5(F.encode(F.col("__para"), "utf-8")))
    stats = (
        hashed.filter(participates)
        .groupBy("__h")
        .agg(
            F.count_distinct("__key").alias("__n_docs"),
            F.min("__key").alias("__canon"),
        )
        .filter(F.col("__n_docs") >= min_docs)
        .select("__h", "__canon")
    )
    keep = (~participates) | F.col("__canon").isNull() | (F.col("__canon") == F.col("__key"))
    return (
        hashed.join(stats, "__h", "left")
        .withColumn("__keep", keep)
        .groupBy(F.col("__key").alias(key_col))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("__keep"), F.struct("__pos", "__para"))
                        )
                    ),
                    lambda s: s["__para"],
                ),
                sep,
            ).alias("text_clean"),
            F.sum(F.col("__keep").cast("int")).alias("n_kept"),
            F.sum((~F.col("__keep")).cast("int")).alias("n_dropped"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    window: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """The REMOVAL transform next to duplicate_spans' signal: rewrite each
    document dropping every token covered by a cross-document duplicated
    ``window``-gram (Lee et al. 2022's exact substring dedup, the
    shuffle-friendly windowed form — their suffix array is single-machine).

    Returns one row per doc: (key, text_clean, n_kept, n_removed) —
    ``text_clean`` is the surviving tokens re-joined with single spaces
    (whitespace is normalized by construction, like paragraph_dedup's
    separator contract).  A doc that is entirely boilerplate rewrites to
    the empty string; docs shorter than ``window`` tokens pass unchanged.

    Scale shape: windows enter the repeat rollup as md5 + key only (the
    duplicate_spans exchange); flagged WINDOW START positions come back as
    one int array per affected doc (bounded by the doc's own window
    count), and the rewrite is a pure array expression — the exists() scan
    over flagged starts runs per token inside codegen, no UDF.  Docs with
    no flagged window skip the rewrite entirely via the left join's null
    arm."""
    toks = _tokens(F.col(text_col))
    wins = shingles(F.col(text_col), k=window)
    # spread: both the window-hash pass and the per-token rewrite lambda
    # below are CPU-bound map kernels over the doc frame
    base = spread_cpu(df, key_col).select(
        F.col(key_col).alias("__key"),
        F.col(text_col).alias("__text"),
        F.transform(wins, lambda s: F.md5(F.encode(s, "utf-8"))).alias("__ws"),
    )
    rows = base.select("__key", F.posexplode_outer("__ws").alias("__pos", "__h"))
    dup = (
        rows.filter(F.col("__h").isNotNull())
        .groupBy("__h")
        .agg(F.count_distinct("__key").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__h")
    )
    flagged = (
        rows.join(dup, "__h", "left_semi")
        .groupBy("__key")
        .agg(F.collect_list("__pos").alias("__ps"))
    )
    w = F.lit(int(window))
    t = _tokens(F.col("__text"))
    ps = F.coalesce(F.col("__ps"), F.array().cast("array<int>"))
    kept = F.filter(
        t,
        lambda _x, j: ~F.exists(ps, lambda p: (p <= j) & (j < p + w)),
    )
    out = base.select("__key", "__text").join(flagged, "__key", "left")
    return out.select(
        F.col("__key").alias(key_col),
        F.concat_ws(" ", kept).alias("text_clean"),
        F.size(kept).cast("long").alias("n_kept"),
        (F.size(t) - F.size(kept)).cast("long").alias("n_removed"),
    )


def ed1_pairs(df: DataFrame, col: str = "s") -> DataFrame:
    """Edit-distance-<=1 string pairs by the SymSpell deletion-
    neighborhood join (Garbe 2012; the delete-only variant of the
    FastSS k-deletion index, Bocek et al. 2007): every distinct string
    emits itself plus its |s| single-character-deletion variants, pairs
    sharing ANY variant become candidates via one equi-join on the
    variant string, and one exact ``levenshtein`` call verifies — a
    substitution pair shares the deletion at the substituted position,
    an insertion/deletion pair shares the shorter string itself, so
    recall is total; transposition-style distance-2 pairs that sneak in
    through a shared variant are killed by the verify.

    This is the fuzzy-matching analogue of the MinHash band join:
    candidates come from an EQUI-join on a derived key (shuffle keyed
    on the variant, never all-pairs N^2 levenshtein), and the exact
    metric runs only on the candidate set.  Variant blowup is |s| + 1
    rows per string — bounded, map-only, codegen (substring concat over
    a posexploded index).  Exact integers; no floats.
    Returns [s1, s2, dist] with s1 < s2 and dist <= 1."""
    base = df.select(F.col(col).alias("s")).where(F.col("s").isNotNull()).distinct()
    var = base.select(
        "s",
        F.explode(F.sequence(F.lit(0), F.length("s"))).alias("i"),
    ).select(
        "s",
        F.when(F.col("i") == 0, F.col("s"))
        .otherwise(
            F.concat(
                F.col("s").substr(F.lit(1), F.col("i") - F.lit(1)),
                F.col("s").substr(
                    F.col("i") + F.lit(1), F.length("s") - F.col("i")
                ),
            )
        )
        .alias("v"),
    ).distinct()
    cand = (
        var.alias("x")
        .join(var.alias("y"), F.col("x.v") == F.col("y.v"))
        .where(F.col("x.s") < F.col("y.s"))
        .select(F.col("x.s").alias("s1"), F.col("y.s").alias("s2"))
        .distinct()
    )
    return cand.select(
        "s1", "s2", F.levenshtein("s1", "s2").alias("dist")
    ).where(F.col("dist") <= 1)


def containment_pairs(
    df: DataFrame,
    k: int = 3,
    min_shared: int = 2,
    max_df: int = 200,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Asymmetric shingle containment (Broder 1997 §2: c(A, B) =
    |S(A) ∩ S(B)| / |S(A)|) — the signal Jaccard dedup misses: a
    snippet quoted inside a longer page scores near-1 containment but
    low Jaccard, so resemblance-only dedup keeps both.

    Candidates come from the INVERTED INDEX, not MinHash: distinct
    k-shingles per doc, shingles with document frequency > ``max_df``
    dropped (boilerplate shingles are the hub keys of this join — the
    standard stopword-shingle cut, and the twin applies the identical
    cut so the shared counts agree exactly), then one self-equi-join on
    the shingle keyed shuffle and a partial-agg pair count.  Pairs with
    shared < ``min_shared`` never materialize past the aggregate.
    Denominators |S(A)| are the UNCUT distinct-shingle sizes, so a
    containment of 1.0 means full inclusion regardless of the df cut.
    Floats are single divisions of exact integers, rounded at 6.

    Returns [key_a, key_b, shared, cont_a, cont_b, jaccard] with
    key_a < key_b; cont_a = shared / |S(A)|."""
    # spread: the shingle explode is the CPU-bound kernel before the
    # shingle-keyed shuffles
    sh = spread_cpu(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(shingles(F.col(text_col), k))).alias("sh"),
    )
    sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
    rare = sh.join(
        sh.groupBy("sh").agg(F.count("*").alias("df_")).where(
            F.col("df_") <= max_df
        ).select("sh"),
        "sh",
    )
    pairs = (
        rare.alias("x")
        .join(rare.alias("y"), "sh")
        .where(F.col("x.doc") < F.col("y.doc"))
        .groupBy(
            F.col("x.doc").alias("key_a"), F.col("y.doc").alias("key_b")
        )
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
    return (
        pairs.join(
            sizes.select(F.col("doc").alias("key_a"), F.col("sz").alias("sza")),
            "key_a",
        )
        .join(
            sizes.select(F.col("doc").alias("key_b"), F.col("sz").alias("szb")),
            "key_b",
        )
        .select(
            "key_a",
            "key_b",
            "shared",
            (
                F.round(
                    F.col("shared").cast("double") / F.col("sza").cast("double"), 6
                )
                + F.lit(0.0)
            ).alias("cont_a"),
            (
                F.round(
                    F.col("shared").cast("double") / F.col("szb").cast("double"), 6
                )
                + F.lit(0.0)
            ).alias("cont_b"),
            (
                F.round(
                    F.col("shared").cast("double")
                    / (F.col("sza") + F.col("szb") - F.col("shared")).cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("jaccard"),
        )
    )
