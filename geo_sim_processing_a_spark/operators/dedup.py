"""Deduplication operators (task brief): exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Shapes chosen for 100 TB scale:
 - exact dedup is one hash-aggregate (partial+final, no UDF);
 - MinHash signatures are computed in ONE Arrow batch kernel per
   partition (vectorized over the doc x permutation matrix), then LSH
   banding turns near-dup search into an equi-join on (band, hash) —
   the classic shuffle-friendly shape (candidates only, verified
   exactly afterwards);
 - SimHash uses 4x16-bit band buckets for Hamming<=3 candidates;
 - embedding near-dup reuses the LSH-bucketed cosine join in
   similarity.py.

Determinism: all hash seeds are fixed constants; permutations come
from splitmix64, not RNG state.
"""

from __future__ import annotations

import re
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MERSENNE = (1 << 61) - 1


# Physical-tuning policy: the only code that reads a size estimate or a
# partition count.  Every decision is taken at plan-build time, free.

_UNKNOWN_BYTES = 1 << 50


def _size_bytes(df: DataFrame) -> int:
    """The optimizer's sizeInBytes estimate (no job; exact for cached
    and checkpointed inputs).  A missing estimate (stats fail, or
    Spark's Long.MaxValue 'unknown') reads as the 1 PB cap: big, all
    kernel waves, no floor."""
    try:
        size = int(str(df._jdf.queryExecution().optimizedPlan()
                       .stats().sizeInBytes()))
    except Exception:  # noqa: BLE001 - stats are best-effort
        return _UNKNOWN_BYTES
    return min(size, _UNKNOWN_BYTES)


def _is_big(df: DataFrame) -> bool:
    """Arbiter for the conditional floors/checkpoints (2 MB)."""
    return _size_bytes(df) >= 2 << 20


def _kernel_buckets(df: DataFrame) -> int:
    """simplify_tiles' bucket count: ~4 MB of geometry per bucket, from
    one wave of shuffle partitions up to 4.  Several waves even out
    heterogeneous per-tile cost (~40% idle core-time at 1 task per
    core, capacity size); small inputs keep one wave (r6: 4 waves cost
    63 CPU-s of per-task overhead vs 23 at one, same 59k rows)."""
    p = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return max(p, min(p * 4, -(-_size_bytes(df) // (4 << 20))))


def _planned_partitions(df: DataFrame) -> int:
    """Partition count ``df`` will run with, without running it (under
    AQE ``rdd.getNumPartitions()`` runs every shuffle stage upstream):
    a plan with no Exchange reads its split count (free); an explicit
    ``repartition(n)`` on top keeps n; any other Exchange gets what AQE
    coalescing would give it, estimated bytes / advisory size."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    top = re.search(r"Exchange .*", plan)
    if top is None:
        return df.rdd.getNumPartitions()
    explicit = re.search(r"(\d+)\), REPARTITION_BY_NUM", top.group(0))
    if explicit:
        return int(explicit.group(1))
    spark = df.sparkSession
    advisory = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils \
        .byteStringAsBytes(spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    return _size_bytes(df) // advisory


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Parallelism floor for Python-kernel stages: a one-split scan or a
    small coalesced shuffle would run the Arrow kernel on a fraction of
    the cores, so repartition to the default parallelism when the
    planned partition count is below it (a no-op at scale)."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if _planned_partitions(df) < p:
        return df.repartition(p)
    return df


def _ensure_parallelism_if_big(df: DataFrame) -> DataFrame:
    """Floor for JVM-scalar chains, big inputs only: for small ones the
    fan-out costs more than the serial scan work it saves (r6 A/B on
    curate_web_corpus: 3.9 s floored vs 2.7 s not at sf0.1, 6-7 s vs
    10 s at sf1.0).  Python-kernel stages floor at any size."""
    return _ensure_parallelism(df) if _is_big(df) else df


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per distinct text: canonical (min) id + dup count.
    NULL texts form their OWN group (md5(NULL) is NULL) — distinct
    from the empty string; near_dup_clusters instead keys NULL as ""
    to match its signature kernel (each choice documented there)."""
    return (docs.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
            .agg(F.min(id_col).alias("canonical_id"),
                 F.count("*").alias("n_dups"))
            .select("text_md5", "canonical_id", "n_dups"))


def _shingle_hashes(text: str, n: int) -> np.ndarray:
    # NOTE round 3: a memoryview-slice / batched-matrix rewrite of this
    # kernel and of sim_udf was measured SLOWER on the real workload
    # (~45-token docs: per-doc ops stay in cache, the flat
    # (260k, n_hashes) uint64 matrix is memory-bound — 0.13s -> 0.76s
    # for the permutation step at sf0.1) and reverted; the actual
    # q_minhash cost is Spark-side parallelism, fixed in
    # _ensure_parallelism.
    toks = text.lower().split()
    if len(toks) < n:
        toks = toks + [""] * (n - len(toks))
    return np.array(sorted({zlib.crc32(" ".join(toks[i:i + n]).encode("utf-8"))
                            for i in range(max(1, len(toks) - n + 1))}),
                    dtype=np.uint64)


def _perm_params(n_hashes: int):
    """Deterministic (a, b) permutation params via splitmix64
    (functions/hashing.py — the single shared definition)."""
    from ..functions.hashing import splitmix64_next_scalar

    a = np.empty(n_hashes, dtype=np.uint64)
    b = np.empty(n_hashes, dtype=np.uint64)
    x = 0x9E3779B97F4A7C15
    for i in range(n_hashes):
        for tgt in (a, b):
            x, z = splitmix64_next_scalar(x)
            tgt[i] = z % MERSENNE
    a[a == 0] = 1
    return a, b


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n_hashes: int = 32,
                       shingle: int = 3, keep_shingles: bool = False) -> DataFrame:
    """(doc_id, sig[, shingles]) — signatures in ONE Arrow kernel,
    vectorized over the shingle × permutation matrix.  With
    ``keep_shingles`` the (distinct, sorted) shingle-hash array is kept
    so the exact-verify stage can run JVM-side on compact int arrays
    instead of re-shipping and re-shingling raw text."""
    a, b = _perm_params(n_hashes)

    @F.pandas_udf(T.StructType([
        T.StructField("sig", T.ArrayType(T.LongType())),
        T.StructField("shingles", T.ArrayType(T.LongType()))]))
    def sig_udf(texts: pd.Series) -> pd.DataFrame:
        sig_out, sh_out = [], []
        with np.errstate(over="ignore"):
            for t in texts:
                sh = _shingle_hashes(t or "", shingle)
                # (n_shingles, n_hashes) permuted values, min over rows
                vals = (sh[:, None] * a[None, :] + b[None, :]) % np.uint64(MERSENNE)
                sig_out.append(vals.min(axis=0).astype(np.int64).tolist())
                sh_out.append(sh.astype(np.int64).tolist())
        return pd.DataFrame({"sig": sig_out, "shingles": sh_out})

    out = docs.select(F.col(id_col).alias("doc_id"),
                      sig_udf(F.col(text_col)).alias("s"))
    cols = ["doc_id", F.col("s.sig").alias("sig")]
    if keep_shingles:
        cols.append(F.col("s.shingles").alias("shingles"))
    return out.select(*cols)


def _band_buckets(sigs: DataFrame, rows_per_band: int,
                  bands: int) -> DataFrame:
    """(doc_id, band, bh) band-bucket rows from a signature frame —
    shared by the self-join (minhash_lsh_pairs) and the cross-corpus
    join (minhash_lsh_join) so the banding scheme exists once."""
    band_cols = [F.struct(F.lit(bi).alias("band"),
                          F.xxhash64(F.concat_ws(
                              ",", *[F.element_at("sig", bi * rows_per_band + r + 1)
                                     for r in range(rows_per_band)])).alias("bh"))
                 for bi in range(bands)]
    return (sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("bb"))
            .select("doc_id", F.col("bb.band").alias("band"),
                    F.col("bb.bh").alias("bh")))


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n_hashes: int = 32,
                      bands: int = 8, shingle: int = 3,
                      threshold: float = 0.7,
                      hot_key_cap: int | None = None) -> DataFrame:
    """Candidate pairs via banding, then EXACT Jaccard verification on
    the shingle-hash sets — returns (id_a, id_b, jaccard) with
    id_a < id_b, jaccard >= threshold.

    Scale shape: the band equi-join exchanges (doc_id, band, bh) only;
    the verify stage joins the compact shingle-hash arrays (already
    computed once per doc by the signature kernel) and computes exact
    Jaccard with JVM-side array_intersect/array_union — raw text is
    never shuffled and nothing is re-shingled per pair.  Capping is
    OPT-IN on this raw pair API (default None — the documented
    "all pairs with jaccard >= threshold" contract holds verbatim):
    with ``hot_key_cap`` set, band buckets holding more docs are
    dropped WITH a report (operators/skew.py — the self-join is
    quadratic per bucket).  NOTE: the cap assumes exact-duplicate mass
    has been collapsed first (a set of >cap byte-identical docs shares
    ALL its band buckets and would lose its own pairs) —
    :func:`near_dup_clusters` does that ordering for you and caps by
    default.
    Signatures are local-checkpointed (computed once, reused by
    banding + both verify sides; blocks are reference-tracked and
    freed with the result — unlike persist(), nothing pins the cache
    manager.  Trade-off, documented: localCheckpoint truncates
    lineage, so on a multi-executor cluster a lost executor fails the
    job instead of recomputing; callers needing fault recovery over
    long jobs should persist+unpersist around the call instead)."""
    from .skew import frequency_cap

    if bands < 1 or n_hashes % bands != 0:
        # bands > n_hashes would make every band hash the constant
        # xxhash64('') — the candidate join silently degenerates to
        # all-pairs; non-divisible values silently ignore hashes and
        # change recall.  Both are caller bugs: fail loudly.
        raise ValueError(
            f"minhash_lsh_pairs: bands={bands} must divide "
            f"n_hashes={n_hashes} with rows_per_band >= 1")
    rows_per_band = n_hashes // bands
    sigs = (minhash_signatures(_ensure_parallelism(docs), id_col, text_col,
                               n_hashes, shingle, keep_shingles=True)
            .localCheckpoint(eager=False))  # materialized by the first
    # consumer (the guard stats agg, or the final action when cap=None)
    # and cached from then on — eager=True would spend a whole extra job

    buckets = _band_buckets(sigs, rows_per_band, bands)
    if hot_key_cap is not None:
        buckets = frequency_cap(buckets, ["band", "bh"], hot_key_cap, "minhash_lsh")
    cand = (buckets.alias("l").join(buckets.alias("r"), ["band", "bh"])
            .where(F.col("l.doc_id") < F.col("r.doc_id"))
            .select(F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b"))
            .distinct())

    sh = sigs.select("doc_id", "shingles")
    pairs = (cand.join(sh.select(F.col("doc_id").alias("id_a"),
                                 F.col("shingles").alias("sh_a")), "id_a")
             .join(sh.select(F.col("doc_id").alias("id_b"),
                             F.col("shingles").alias("sh_b")), "id_b"))

    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1))
    return (pairs.withColumn("jaccard", inter.cast("double") / union)
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", shingle: int = 3,
                        threshold: float = 0.7,
                        hot_key_cap: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard over LSH candidates (alias of the verified
    MinHash path with enough bands to make recall ~1 at the
    threshold)."""
    return minhash_lsh_pairs(docs, id_col, text_col, n_hashes=64, bands=32,
                             shingle=shingle, threshold=threshold,
                             hot_key_cap=hot_key_cap)


def near_dup_clusters(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", threshold: float = 0.7,
                      hot_key_cap: int | None = 1000,
                      **minhash_kwargs) -> DataFrame:
    """Full dedup clustering, in the order a 100 TB pipeline must run:

     1. EXACT dedup first (one hash-agg) — identical texts collapse to
        their min-id representative.  This is load-bearing for the
        hot-key guard: a mega-duplicate set (thousands of byte-equal
        copies) would otherwise blow every band bucket past the cap
        and silently lose ITS OWN pairs; collapsed to one
        representative, it can never trip the guard.
     2. MinHash-LSH near-dup pairs over representatives only.
     3. Connected components over exact-group edges UNION near-dup
        edges; canonical survivor = min id.

    Returns (id_col, cluster_id, is_canonical) for EVERY input doc."""
    from .graph import dedup_clusters

    # NULL text is keyed as "" (the same mapping the signature kernel
    # applies) — a raw md5(NULL) would be NULL and the equi-joins below
    # would silently exclude extraction-failure docs from dedup
    keyed = docs.select(F.col(id_col).alias("id"),
                        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_k"),
                        F.col(text_col).alias("_text"))
    # ONE aggregation yields both the rep id and its text (all texts in
    # a group are identical by construction, so first() is exact) —
    # joining texts back by md5 key would shuffle every doc's raw text
    reps = keyed.groupBy("_k").agg(F.min("id").alias("rep"),
                                   F.first("_text").alias(text_col))
    exact_edges = (keyed.select("id", "_k")
                   .join(reps.select("_k", "rep"), "_k")
                   .where(F.col("id") != F.col("rep"))
                   .select(F.col("id").alias("id_a"), F.col("rep").alias("id_b")))
    rep_docs = reps.select(F.col("rep").alias(id_col), text_col)
    near = minhash_lsh_pairs(rep_docs, id_col, text_col, threshold=threshold,
                             hot_key_cap=hot_key_cap, **minhash_kwargs)
    edges = exact_edges.unionByName(near.select("id_a", "id_b"))
    return dedup_clusters(edges, docs, id_col)


def simhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       keep_cols: tuple = ()) -> DataFrame:
    """64-bit SimHash of token crc32-seeded splitmix hashes.
    ``keep_cols`` are carried through (e.g. shard keys for
    simhash_pairs' sharded mode) so no join-back is needed."""
    @F.pandas_udf("long")
    def sim_udf(texts: pd.Series) -> pd.Series:
        out = np.empty(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            toks = (t or "").lower().split()
            if not toks:
                out[i] = 0
                continue
            hs = np.array([zlib.crc32(w.encode("utf-8")) for w in toks], dtype=np.uint64)
            with np.errstate(over="ignore"):
                z = (hs + np.uint64(0x9E3779B97F4A7C15))
                z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
                z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
                z = z ^ (z >> np.uint64(31))
            bits = ((z[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1))
            votes = (bits.astype(np.int64) * 2 - 1).sum(axis=0)
            sig = np.uint64(0)
            for bpos in np.flatnonzero(votes > 0):
                sig |= np.uint64(1) << np.uint64(bpos)
            out[i] = np.int64(sig)
        return pd.Series(out)

    return docs.select(F.col(id_col).alias("doc_id"),
                       sim_udf(F.col(text_col)).alias("simhash"),
                       *[F.col(c) for c in keep_cols])


def _band_scheme(max_hamming: int,
                 allow_partial_recall: bool = False) -> tuple[int, int]:
    """(n_bands, band_bits) for the pigeonhole recall guarantee — ONE
    derivation shared by the pair join and the volume estimator, so
    the two can never disagree about a configuration's validity."""
    if max_hamming <= 3:
        return 4, 16
    if max_hamming <= 7 or allow_partial_recall:
        return 8, 8
    raise ValueError(
        f"simhash: max_hamming={max_hamming} exceeds the 8-band recall "
        "guarantee (Hamming<=7); pass allow_partial_recall=True to accept "
        "a best-effort candidate set, or use minhash_lsh_pairs")


def _simhash_buckets(docs: DataFrame, id_col: str, text_col: str,
                     n_bands: int, band_bits: int,
                     shard_cols: list) -> DataFrame:
    """(doc_id, simhash, *shard_cols, band, bh): one row per doc per
    band — the exploded LSH bucket assignment both the pair join and
    the analytic volume estimator consume."""
    sigs = (simhash_signatures(_ensure_parallelism(docs), id_col, text_col,
                               keep_cols=tuple(shard_cols))
            .localCheckpoint(eager=False))
    mask = (1 << band_bits) - 1
    band_cols = [F.struct(F.lit(b).alias("band"),
                          F.shiftright("simhash", band_bits * b)
                          .bitwiseAND(F.lit(mask)).alias("bh"))
                 for b in range(n_bands)]
    return (sigs.select("doc_id", "simhash", *shard_cols,
                        F.explode(F.array(*band_cols)).alias("bb"))
            .select("doc_id", "simhash", *shard_cols,
                    F.col("bb.band").alias("band"),
                    F.col("bb.bh").alias("bh")))


def simhash_candidate_volume(docs: DataFrame, id_col: str = "doc_id",
                             text_col: str = "text", max_hamming: int = 7,
                             shard_cols: tuple = ()) -> DataFrame:
    """Analytic candidate volume of the SimHash LSH self-join WITHOUT
    executing it: per band, sum over buckets of c*(c-1)/2 — exactly
    the pair rows the banded equi-join would generate (before Hamming
    verify / dedup).  One aggregation over the bucket assignment, so a
    capacity planner can check the Theta(n^2/2**w) envelope (see
    simhash_pairs' SCALE ENVELOPE note) against the REAL bucket
    occupancy — and quantify what sharding (``shard_cols``) buys —
    before committing a cluster to the join.

    Returns one row per band: (band, n_buckets, max_bucket, candidates).
    Sharded calls measure per-(shard, band) occupancy and roll it up
    to the same per-band totals for direct comparison."""
    n_bands, band_bits = _band_scheme(max_hamming)
    shard_cols = list(shard_cols)
    buckets = _simhash_buckets(docs, id_col, text_col, n_bands, band_bits,
                               shard_cols)
    occ = (buckets.groupBy(*shard_cols, "band", "bh")
           .agg(F.count("*").alias("c")))
    return (occ.groupBy("band")
            .agg(F.count("*").alias("n_buckets"),
                 F.max("c").alias("max_bucket"),
                 # div: exact integer arithmetic all the way up —
                 # '/' is double division and rounds past 2^53, exactly
                 # the web-scale regime this estimator exists to check
                 F.sum(F.expr("(c * (c - 1)) div 2"))
                 .alias("candidates"))
            .orderBy("band"))


def simhash_pairs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  max_hamming: int = 3,
                  hot_key_cap: int | None = None,
                  allow_partial_recall: bool = False,
                  shard_cols: tuple = ()) -> DataFrame:
    """Near-dup pairs by SimHash: banded equi-join + exact Hamming
    verify via bit_count.  The band scheme is picked from
    ``max_hamming`` by pigeonhole (a pair differing in d bits shares at
    least one untouched band iff bands > d):

     - Hamming<=3: 4 bands x 16 bits (tightest buckets, fewest
       candidates — the default),
     - Hamming<=7: 8 bands x 8 bits (wider radius a real pipeline
       often wants; buckets are coarser, so candidate volume rises and
       the hot-key guard matters more).

    SCALE ENVELOPE (read before running radius 7 on a big corpus): a
    w-bit band has only 2**w bucket values, so the per-band self-join
    generates Theta(n^2 / 2**w) candidate rows on hash-uniform data.
    At w=8 that is n^2/256: fine at n=100k (~2e7 rows/band), heavy but
    distributable at n=1M (~2e9), and unrunnable at web scale — this
    is NOT an implementation artifact but the LSH bands/width/radius
    trade-off (guaranteeing radius d needs d+1 bands, so 64-bit
    signatures leave only 64/(d+1) bits of bucket entropy; wider
    signatures would tighten the effective similarity threshold, not
    relax the trade-off).  For corpora beyond ~1M docs either shard
    the input (e.g. per language/domain) before calling, or use
    minhash_lsh_pairs — whose banded-Jaccard shape keeps bucket
    entropy independent of the radius — as the scale path.  Setting
    ``hot_key_cap`` bounds the join but DROPS whole buckets (logged),
    which voids the recall guarantee once average occupancy n/2**w
    exceeds the cap (n > ~256k at w=8, cap=1000).

    ``shard_cols`` is the executable form of the sharding mitigation:
    the shard key(s) — e.g. language or domain — join with the band
    bucket, so candidates are generated only WITHIN a shard and the
    n^2/2**w volume applies per shard, not to the whole corpus.  Pairs
    spanning shards are by definition not returned (a cross-language
    "near-dup" is rarely a dup); recall within each shard keeps the
    full pigeonhole guarantee.

    ``max_hamming`` > 7 RAISES unless ``allow_partial_recall=True``
    (the output would be a silently incomplete pair set).  Capping is
    OPT-IN (default None keeps the complete pair set); with
    ``hot_key_cap`` set, band buckets above it are dropped with a
    report (skew.py)."""
    from .skew import frequency_cap

    n_bands, band_bits = _band_scheme(max_hamming, allow_partial_recall)

    shard_cols = list(shard_cols)
    buckets = _simhash_buckets(docs, id_col, text_col, n_bands, band_bits,
                               shard_cols)
    join_keys = shard_cols + ["band", "bh"]
    if hot_key_cap is not None:
        buckets = frequency_cap(buckets, join_keys, hot_key_cap, "simhash")
    return (buckets.alias("l").join(buckets.alias("r"), join_keys)
            .where(F.col("l.doc_id") < F.col("r.doc_id"))
            .select(F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b"),
                    F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
                    .alias("hamming"))
            .where(F.col("hamming") <= max_hamming)
            .distinct())


def minhash_lsh_join(left: DataFrame, right: DataFrame,
                     id_col: str = "doc_id", text_col: str = "text",
                     n_hashes: int = 32, bands: int = 8, shingle: int = 3,
                     threshold: float = 0.7,
                     hot_key_cap: int | None = None) -> DataFrame:
    """CROSS-corpus fuzzy-dedup join — the 'is this new crawl document
    a near-duplicate of anything in the reference corpus' primitive
    (the fuzzy sibling of bloom.incremental_dedup's exact path):
    returns (left_id, right_id, jaccard) for pairs with exact
    shingle-set Jaccard >= threshold, candidates from the banded
    equi-join of BOTH sides' buckets on (band, bh).

    Unlike the self-join, neither side is assumed broadcastable: the
    band buckets of the two corpora hash-join on a compact
    (band, bh) integer key, so a 10^12-doc reference corpus and a
    daily crawl shuffle only bucket rows — raw text never moves and
    the verify stage joins the per-doc shingle arrays computed once.
    ``hot_key_cap`` caps each side's bucket occupancy independently
    with a dropped-pairs report (operators/skew.py); recall within
    buckets is the standard (1-t^r)^b banding envelope on each side.
    """
    from .skew import frequency_cap

    if bands < 1 or n_hashes % bands != 0:
        raise ValueError(
            f"minhash_lsh_join: bands={bands} must divide "
            f"n_hashes={n_hashes} with rows_per_band >= 1")
    rows_per_band = n_hashes // bands
    ls = (minhash_signatures(_ensure_parallelism(left), id_col, text_col,
                             n_hashes, shingle, keep_shingles=True)
          .localCheckpoint(eager=False))
    rs = (minhash_signatures(_ensure_parallelism(right), id_col, text_col,
                             n_hashes, shingle, keep_shingles=True)
          .localCheckpoint(eager=False))
    lb = _band_buckets(ls, rows_per_band, bands)
    rb = _band_buckets(rs, rows_per_band, bands)
    if hot_key_cap is not None:
        lb = frequency_cap(lb, ["band", "bh"], hot_key_cap,
                           "minhash_lsh_join_left")
        rb = frequency_cap(rb, ["band", "bh"], hot_key_cap,
                           "minhash_lsh_join_right")
    cand = (lb.alias("l").join(rb.alias("r"), ["band", "bh"])
            .select(F.col("l.doc_id").alias("left_id"),
                    F.col("r.doc_id").alias("right_id"))
            .distinct())
    pairs = (cand
             .join(ls.select(F.col("doc_id").alias("left_id"),
                             F.col("shingles").alias("sh_a")), "left_id")
             .join(rs.select(F.col("doc_id").alias("right_id"),
                             F.col("shingles").alias("sh_b")), "right_id"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1))
    return (pairs.withColumn("jaccard", inter.cast("double") / union)
            .where(F.col("jaccard") >= threshold)
            .select("left_id", "right_id",
                    F.round("jaccard", 6).alias("jaccard")))
