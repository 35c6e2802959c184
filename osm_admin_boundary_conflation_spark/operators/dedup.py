"""Near-duplicate detection for training-data pipelines.

- MinHash + LSH banding: shingle → 16 md5-based minhashes → 4 bands of
  4 → band-bucket self-join → exact Jaccard verify. The hash family is
  md5-based (functions/text.py stable_hash64) so the DuckDB oracle can
  recompute signatures bit-for-bit.
- n-gram Jaccard within cheap blocking buckets, with TRIANGLE SALTING
  (prefix_block_pairs) for boilerplate-hot prefixes.
- SimHash (60-bit, token-majority) for hamming-distance dedup.

Scale: band-bucket self-join is the standard LSH shape — the shuffle
key is (band_no, band_signature); hot buckets are spread with the same
triangle salt. Verification only touches candidate pairs, never the
full cross product.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ..functions import text as T
from ..functions.udfs import simhash_udf

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = 4
K_SHINGLE = 5
_M61 = 2305843009213693951  # 2^61 - 1
_GOLD = 0x9E3779B9


def shingle_expr(t):
    """Word-5-shingles as a JVM array expression — identical semantics to
    functions.text.shingles / the DuckDB oracle (string_split_regex on
    trim(lower(t)), whole-join when fewer than k words).

    The regex split is bound to a lambda variable via the
    transform-over-singleton idiom: higher-order-function lambdas are NOT
    common-subexpression-eliminated, so referencing ``split(...)``
    directly inside the per-shingle lambda re-ran the regex once PER
    SHINGLE (~50x per doc — measured 2.9 s of the 3.7 s
    dedup_minhash_lsh wall at sf0.1 before the fix, guide §4.1/§1)."""

    def shingles_of(w):
        n = F.size(w)
        return F.when(
            n < K_SHINGLE, F.array(F.array_join(w, " "))
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), n - K_SHINGLE + 1),
                lambda j: F.array_join(F.slice(w, j, K_SHINGLE), " "),
            )
        )

    words = F.split(F.trim(F.lower(t)), r"\s+")
    return F.get(F.transform(F.array(words), shingles_of), 0)


def _spread(docs: DataFrame, id_col: str) -> DataFrame:
    """Guard against single-split inputs (guide §2.5 'input skew'): a
    corpus read from one unsplittable file would run the whole
    shingle→md5→min pipeline in ONE task (measured 3.6 s of the 3.7 s
    dedup_minhash_lsh wall at sf0.1). Repartition on the doc id — a
    deterministic, well-spread key — only when the scan parallelism is
    below the session's core count; a 100 TB corpus arrives pre-split
    and skips the shuffle entirely."""
    n = docs.sparkSession.sparkContext.defaultParallelism
    try:
        cur = docs.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive (plan not RDD-convertible)
        return docs
    return docs.repartition(n, F.col(id_col)) if cur < n else docs


def minhash_signatures(docs: DataFrame, id_col: str = "id", text_col: str = "t") -> DataFrame:
    """→ (id, m0..m15): the md5-affine minhash family computed ENTIRELY
    JVM-side — explode shingles, hash with md5→conv (the portable
    63-bit family stable_hash64 / the oracle's substr(md5)::BIGINT),
    then one groupBy(id) with 16 min aggregates (map-side combine).
    Round 1 looped shingles×16 hashes in Python inside the Arrow batch —
    per-row Python in the hottest 100 TB path (VERDICT r01 #4).

    Arithmetic note: (h * a + b) % (2^61-1) with h < 2^60 overflows
    signed 64-bit for a up to 31 (Python ran it in arbitrary precision,
    DuckDB in HUGEINT). Spark DECIMAL would be exact but slow, so the
    product is decomposed into pure-long codegen ops using 2^61 ≡ 1
    (mod M): with h = hi·2^32 + lo, h·a ≡ ((hi·a)>>29) +
    ((hi·a & (2^29-1))<<32) + lo·a, every term < 2^62 — bit-exact vs
    the arbitrary-precision formula (see tests)."""
    sh = _spread(docs, id_col).select(id_col, F.explode(shingle_expr(F.col(text_col))).alias("s"))
    h = F.conv(F.substring(F.md5(F.concat(F.lit("0:"), F.col("s"))), 1, 15), 16, 10).cast("long")
    sh = sh.select(id_col, h.alias("h"))
    hi = F.shiftright(F.col("h"), 32)
    lo = F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))
    mask29 = F.lit((1 << 29) - 1)

    def affine_mod(i: int):
        a, b = 2 * i + 1, i * _GOLD
        x = hi * F.lit(a)
        t = F.shiftright(x, 29) + F.shiftleft(x.bitwiseAND(mask29), 32)
        return (t + lo * F.lit(a) + F.lit(b)) % F.lit(_M61)

    aggs = [F.min(affine_mod(i)).alias(f"m{i}") for i in range(N_HASHES)]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_bands(docs: DataFrame, id_col: str = "id", text_col: str = "t") -> DataFrame:
    """→ (id, band_no, band_key)."""
    sig = minhash_signatures(docs, id_col, text_col)
    bands = sig.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_no"),
                    F.concat_ws(",", *[F.col(f"m{b * ROWS_PER_BAND + r}").cast("string") for r in range(ROWS_PER_BAND)]).alias(
                        "band_key"
                    ),
                )
                for b in range(N_BANDS)
            ])
        ).alias("bb"),
    )
    return bands.select(id_col, F.col("bb.band_no").alias("band_no"), F.col("bb.band_key").alias("band_key"))


def lsh_candidate_pairs(docs: DataFrame) -> DataFrame:
    """band-bucket self-join → distinct (ia, ib) with ia < ib.

    The band table is persisted before the self-join: one side becomes a
    BroadcastExchange, so without the persist Catalyst cannot reuse the
    exchange and the whole shingle→md5→minhash subtree executes TWICE
    per action (verified in plans/r08/dedup_minhash_lsh_before.txt,
    operators 8-14 vs 22-28). The persisted table is one skinny row per
    (doc, band) — safe to hold even for very large corpora."""
    b = minhash_bands(docs).persist()
    a, c = b.alias("a"), b.alias("b")
    pairs = (
        a.join(
            c,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("ia"), F.col("b.id").alias("ib"))
        .distinct()
    )
    return pairs


def prefix_block_pairs(
    corpus: DataFrame, prefix_len: int = 5, n_salts: int = 1, skip_words: int = 0
) -> DataFrame:
    """corpus(id, t) → candidate pairs (ia, ta, ib, tb) sharing the same
    ``prefix_len``-token bucket starting after ``skip_words`` tokens
    (skip past padding/prefixes when blocking for containment).

    n_salts > 1 enables TRIANGLE SALTING for boilerplate-heavy corpora
    where one hot prefix would funnel a quadratic block through a single
    reducer: each doc gets a deterministic salt s(id) ∈ [0, n); the a
    side is replicated with every possible partner salt j and the b side
    with every possible owner salt i, so pair (x, y) meets EXACTLY once
    at join key (bucket, s(x), s(y)). The hot bucket's m² pair work
    spreads over n² reducers at the cost of n× row replication — results
    are salt-invariant (pytest-asserted)."""
    w = F.split(F.trim(F.lower(F.col("t"))), r"\s+")
    bucketed = corpus.withColumn(
        "bucket", F.array_join(F.slice(w, skip_words + 1, prefix_len), " ")
    )
    if n_salts <= 1:
        a = bucketed.select(F.col("id").alias("ia"), F.col("t").alias("ta"), "bucket")
        b = bucketed.select(F.col("id").alias("ib"), F.col("t").alias("tb"), "bucket")
        return (
            a.join(b, "bucket").filter(F.col("ia") < F.col("ib")).select("ia", "ta", "ib", "tb")
        )
    salt = F.pmod(F.xxhash64(F.col("id")), F.lit(n_salts)).cast("int")
    allsalts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    sb = bucketed.withColumn("own", salt)
    a = sb.select(
        F.col("id").alias("ia"), F.col("t").alias("ta"), "bucket",
        F.col("own").alias("si"), allsalts.alias("sj"),
    )
    b = sb.select(
        F.col("id").alias("ib"), F.col("t").alias("tb"), "bucket",
        F.col("own").alias("sj"), allsalts.alias("si"),
    )
    return (
        a.join(b, ["bucket", "si", "sj"])
        .filter(F.col("ia") < F.col("ib"))
        .select("ia", "ta", "ib", "tb")
    )


@pandas_udf(DoubleType())
def containment3_udf(ta: pd.Series, tb: pd.Series) -> pd.Series:
    """|shingles(a) ∩ shingles(b)| / |shingles(a)| — directed containment."""

    def one(a, b):
        sa = set(T.shingles(a or "", k=3))
        sb = set(T.shingles(b or "", k=3))
        if not sa:
            return 0.0
        return len(sa & sb) / len(sa)

    return pd.Series([one(a, b) for a, b in zip(ta, tb)])


@pandas_udf(DoubleType())
def jaccard3_udf(ta: pd.Series, tb: pd.Series) -> pd.Series:
    def one(a, b):
        sa, sb = set(T.shingles(a or "", k=3)), set(T.shingles(b or "", k=3))
        if not sa and not sb:
            return 1.0
        u = len(sa | sb)
        return len(sa & sb) / u if u else 0.0

    return pd.Series([one(a, b) for a, b in zip(ta, tb)])


def minhash_dedup_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Full MinHash-LSH dedup: candidates → exact-Jaccard verify.

    The verify runs ENTIRELY JVM-side: distinct shingle arrays +
    array_intersect reproduce set-Jaccard bit-for-bit (|∪| = |A|+|B|−|∩|,
    same IEEE double division). The previous jaccard_udf re-shingled both
    texts in per-row Python AND was evaluated twice — once under the
    pushed-down threshold filter and once in the projection (guide §4.4,
    two ArrowEvalPython nodes in plans/r08/dedup_minhash_lsh_before.txt)."""
    pairs = lsh_candidate_pairs(docs)
    # spread + broadcast direction: the shingle-array side is the HEAVY
    # one (~1.4 KB of distinct shingles per doc), so it must stream
    # while the candidate-pair side broadcasts — LSH banding makes the
    # pair set orders of magnitude smaller than the corpus by design
    # (10.7 k pairs vs 57 k docs at sf1.0; the planner's estimates
    # broadcast-built the 80 MB shingle side twice, ~3.7 s of the 4.3 s
    # query wall there). At a scale where even the pairs outgrow
    # broadcast, swap these hints for a shuffle join on the ids.
    shingled = _spread(docs, "id").select(
        "id", F.array_distinct(shingle_expr(F.coalesce(F.col("t"), F.lit("")))).alias("sh")
    )
    da = shingled.select(F.col("id").alias("ia"), F.col("sh").alias("sa"))
    db = shingled.select(F.col("id").alias("ib"), F.col("sh").alias("sb"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    union = F.size("sa") + F.size("sb") - inter
    half = F.broadcast(pairs).join(da, "ia")
    verified = (
        F.broadcast(half)
        .join(db, "ib")
        .withColumn("jacc", F.round(inter / union, 6))
        .filter(F.col("jacc") >= threshold)
    )
    return verified.select("ia", "ib", "jacc")


def simhash_docs(docs: DataFrame) -> DataFrame:
    return docs.select(F.col("id"), simhash_udf(F.col("t")).alias("simhash"))


SIMHASH_BITS = 60
SIMHASH_BANDS = 4  # 4 bands x 15 bits: hamming<=3 ALWAYS collides in >=1 band


def simhash_signatures(docs: DataFrame, id_col: str = "id", text_col: str = "t") -> DataFrame:
    """→ (id, simhash): the 60-bit token-majority SimHash computed
    ENTIRELY JVM-side — explode tokens, md5→conv hash, 60 bit-majority
    sums in one aggregation, reassemble the fingerprint. Same hash
    family as functions.text.simhash64 (tokenization matches the
    oracle's split-regex: an empty text yields one '' token)."""
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    tok = docs.select(id_col, F.explode(words).alias("tok"))
    h = F.conv(F.substring(F.md5(F.concat(F.lit("0:"), F.col("tok"))), 1, 15), 16, 10).cast("long")
    tok = tok.select(id_col, h.alias("h"))
    accs = [
        F.sum((F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1)).alias(f"a{b}")
        for b in range(SIMHASH_BITS)
    ]
    sums = tok.groupBy(id_col).agg(*accs)
    simhash = sums.select(
        id_col,
        sum(
            [F.when(F.col(f"a{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)) for b in range(SIMHASH_BITS)],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return simhash


def simhash_hamming_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Hamming-ball near-dup pair join: band the fingerprint into
    4 x 15-bit keys (pigeonhole: hamming<=3 shares a band), self-join
    per band, verify exact hamming via bit_count(xor). All JVM.
    → (ia, ib, hamming)."""
    sig = simhash_signatures(docs)
    bands = sig.select(
        F.col("id"),
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("bb"),
                    F.shiftright(F.col("simhash"), 15 * b).bitwiseAND(F.lit(0x7FFF)).alias("bk"),
                )
                for b in range(SIMHASH_BANDS)
            ])
        ).alias("s"),
    ).select("id", "simhash", F.col("s.bb").alias("bb"), F.col("s.bk").alias("bk"))
    a, c = bands.alias("a"), bands.alias("c")
    pairs = (
        a.join(
            c,
            (F.col("a.bb") == F.col("c.bb"))
            & (F.col("a.bk") == F.col("c.bk"))
            & (F.col("a.id") < F.col("c.id")),
        )
        .select(
            F.col("a.id").alias("ia"),
            F.col("c.id").alias("ib"),
            F.col("a.simhash").alias("sa"),
            F.col("c.simhash").alias("sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("ia", "ib", "hamming")
    )
