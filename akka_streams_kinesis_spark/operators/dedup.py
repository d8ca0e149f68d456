"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), normalized-exact, MinHash+LSH banding, SimHash, and
n-gram-Jaccard candidate scoring — all on the ``documents`` table, all
shuffle-once-per-stage DataFrame plans with no Python in the hot path.

At 100 TB the shapes hold: exact dedup is one hash aggregate on a 128-bit
digest (not the raw text); MinHash signatures reduce each document to k=8
hex mins before the only self-join, which runs on short band-hash keys; the
Jaccard scorer joins on (block, shingle) so the quadratic pair space is
never materialized, only co-occurring shingles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions import NORM_TEXT_DUCK
from ..io import table
from ..registry import query
from ..shared import shared_frame, transient_persist

_N_HASHES = 8          # minhash signature length
_BAND_SIZE = 2         # rows per LSH band → 4 bands
_NORM = NORM_TEXT_DUCK.format(col="text")

# Posting-list cap for the shingle self-joins: a shingle shared by k docs
# inside a block makes k² join rows, so one boilerplate passage ("click
# here to subscribe") shared by 10⁵ docs would alone produce 10¹⁰ pairs.
# Shingles with document frequency above this cap are dropped from the
# JOIN input only (pair-generation); per-doc sizes stay uncapped. The cap
# is applied identically in the Spark plan and the DuckDB oracle, so the
# two engines agree at every scale. Production pipelines use the same
# df-cut (boilerplate carries no near-dup signal).
_MAX_SHINGLE_DF = 1000

# Bucket-frequency cap for the LSH band self-join (the same k² risk as the
# shingle joins, one stage later): a band hash shared by k documents makes
# k·(k-1)/2 join rows, so a 10⁵-copy boilerplate cluster would alone emit
# ~5·10⁹ pairs. Buckets with more than _MAX_BAND_DF members emit STAR edges
# instead — (min doc_id in bucket) → every other member, O(k) rows — which
# preserves exactly the connectivity the downstream consumer
# (dedup_cluster_components) needs: every member still reaches every other
# member through the hub, so connected components are unchanged; only the
# explicit pair list for mega-buckets is thinned. The cap is applied
# identically in the Spark plan and the DuckDB oracle (_BAND_CAP_CTES), so
# the two engines agree at every scale; 64 is far above the fixture band
# df (max 13 at sf0.1), so gated hashes only change where a corpus
# genuinely contains a >64-way near-dup cluster.
_MAX_BAND_DF = 64

_DF_CAP_CTES = f"""
    df AS (
        SELECT h, COUNT(*) AS df FROM shingles GROUP BY h
    ), joinable AS (
        SELECT s.doc_id, s.h
        FROM shingles s JOIN df ON df.h = s.h
        WHERE df.df <= {_MAX_SHINGLE_DF}
    )
"""


# ---------------------------------------------------------------------------
# Shared 3-gram co-occurrence chain (r12): dedup_ngram_jaccard,
# dedup_shingle_containment and dedup_pair_similarity_histogram each built
# the IDENTICAL (doc_id, digest(lang, source, shingle)) set, per-doc sizes,
# df-capped join input, and co-occurrence self-join — the self-join being
# the most expensive stage of each. The whole chain is shared.py-cached:
# one build serves all three (guide §2.4 — remove repeated shuffles
# outright). The shingle key is a PAIR of xxhash64 values (seeds 0/1,
# 128 bits total — the same collision budget as the md5 hex it replaces,
# at ~3× less hash cost and half the shuffle/cache width; the digest is a
# pure equality key, never ordered or emitted, so any injective-in-
# practice hash family yields identical results, and the oracle's md5
# keys agree because both only test equality of (lang, source, shingle)).
# ---------------------------------------------------------------------------


def _ngram_shingle_key(*cols) -> list:
    return [
        F.xxhash64(F.concat_ws("\x01", *cols)).alias("h1"),
        F.xxhash64(F.concat_ws("\x01", *cols), F.lit(1)).alias("h2"),
    ]


def ngram_shingles_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h1, h2): distinct (lang, source)-blocked 3-gram digests."""

    def build() -> DataFrame:
        from .textshared import word_shingles3_shared

        # r13: derive from the shared distinct (doc, lang, source,
        # 3-gram) frame instead of re-exploding the corpus. The preimage
        # rows are already distinct, so the digest projection needs no
        # second distinct exchange (the injective-digest argument this
        # chain's key already rests on).
        return word_shingles3_shared(spark, sf_dir).select(
            "doc_id",
            *_ngram_shingle_key(F.col("lang"), F.col("source"), F.col("g")),
        )

    return shared_frame(spark, "ngram_shingles", sf_dir, build)


def ngram_sizes_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_sh): per-doc distinct shingle counts."""

    def build() -> DataFrame:
        return (
            ngram_shingles_shared(spark, sf_dir)
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_sh"))
        )

    return shared_frame(spark, "ngram_sizes", sf_dir, build)


def ngram_common_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a < doc_b, n_common): co-occurring-shingle pair counts over
    the df-capped join input — the sparse similarity self-join all three
    consumers previously ran separately. Containment derives its ordered
    (a ≠ b) pairs by unioning the swapped frame (n_common is symmetric)."""

    def build() -> DataFrame:
        sh = ngram_shingles_shared(spark, sf_dir)
        rare = (
            sh.groupBy("h1", "h2")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= _MAX_SHINGLE_DF)
            .select("h1", "h2")
        )
        joinable = sh.join(rare, ["h1", "h2"])
        a, b = joinable.alias("a"), joinable.alias("b")
        return (
            a.join(
                b,
                (F.col("a.h1") == F.col("b.h1"))
                & (F.col("a.h2") == F.col("b.h2"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .agg(F.count("*").alias("n_common"))
        )

    return shared_frame(spark, "ngram_common_pairs", sf_dir, build)


@query(
    "dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS keep_id,
           COUNT(*)    AS n_copies,
           MD5(text)   AS text_hash
    FROM documents
    GROUP BY MD5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on md5(text), keep the smallest doc_id.

    Grouping on the digest (not the text) keeps shuffle rows at 32 bytes
    regardless of document size — the practical difference between feasible
    and not at 100 TB.
    """
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .select("keep_id", "n_copies", "text_hash")
    )


@query(
    "dedup_normalized",
    oracle=f"""
    SELECT MIN(doc_id)  AS keep_id,
           COUNT(*)     AS n_copies,
           MD5({_NORM}) AS norm_hash
    FROM documents
    GROUP BY MD5({_NORM})
    """,
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup after text normalization (case/punct/whitespace)."""
    from .textshared import norm_docs_shared

    return (
        norm_docs_shared(spark, sf_dir)
        .select("doc_id", F.md5("t").alias("norm_hash"))
        .groupBy("norm_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .select("keep_id", "n_copies", "norm_hash")
    )


def _minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → m0..m7 minhash values (lexicographic min of seeded md5 over
    3-word shingles). String-min of md5 hex is deterministic and engine-
    portable — no integer hash parity issues."""
    from .textshared import word_shingles3_shared

    # r13: min(md5(seed:sh)) is duplicate-insensitive, so the DISTINCT
    # shared 3-gram frame yields bit-identical signatures to the raw
    # multiset explode this used to run — and the min-agg's input
    # shrinks to the distinct set
    shingled = word_shingles3_shared(spark, sf_dir).select(
        "doc_id", F.col("g").alias("sh")
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("sh")))).alias(f"m{j}")
        for j in range(_N_HASHES)
    ]
    return shingled.groupBy("doc_id").agg(*aggs)


def _minhash_bands(sigs: DataFrame) -> DataFrame:
    """Explode a signature into (doc_id, band_idx, band_hash) rows."""
    n_bands = _N_HASHES // _BAND_SIZE
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat(*[F.col(f"m{b * _BAND_SIZE + j}") for j in range(_BAND_SIZE)])
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.band_idx").alias("band_idx"), F.col("b.band_hash").alias("band_hash")
    )


def _minhash_ctes() -> str:
    """Shared oracle CTE chain: documents → shingles → signatures → bands."""
    mins = ",\n           ".join(
        f"MIN(MD5('{j}:' || sh)) AS m{j}" for j in range(_N_HASHES)
    )
    n_bands = _N_HASHES // _BAND_SIZE
    band_rows = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, MD5({cat}) AS band_hash FROM sigs".format(
            b=b,
            cat=" || ".join(f"m{b * _BAND_SIZE + j}" for j in range(_BAND_SIZE)),
        )
        for b in range(n_bands)
    )
    return f"""
    WITH norm AS (
        SELECT doc_id, {_NORM} AS t FROM documents
    ), toks AS (
        SELECT doc_id, STRING_SPLIT(t, ' ') AS w FROM norm
    ), shingles AS (
        SELECT doc_id,
               UNNEST(CASE WHEN LEN(w) >= 3
                           THEN LIST_TRANSFORM(RANGE(1, LEN(w) - 1),
                                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                           ELSE [] END) AS sh
        FROM toks
    ), sigs AS (
        SELECT doc_id,
           {mins}
        FROM shingles GROUP BY doc_id
    ), bands AS (
        {band_rows}
    )"""


def _band_cap_ctes() -> str:
    """Oracle CTE chain appended after ``bands``: bucket stats → capped
    candidate pairs (all-pairs for small buckets, star edges for buckets
    over _MAX_BAND_DF). Mirrors _capped_band_pairs exactly."""
    return f"""
    , bstats AS (
        SELECT band_idx, band_hash, COUNT(*) AS bdf, MIN(doc_id) AS min_doc
        FROM bands GROUP BY band_idx, band_hash
    ), smallb AS (
        SELECT b.doc_id, b.band_idx, b.band_hash
        FROM bands b JOIN bstats s
          ON s.band_idx = b.band_idx AND s.band_hash = b.band_hash
        WHERE s.bdf <= {_MAX_BAND_DF}
    ), cand_pairs AS (
        SELECT DISTINCT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM smallb a JOIN smallb b
              ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
            UNION ALL
            SELECT s.min_doc AS doc_a, b.doc_id AS doc_b
            FROM bands b JOIN bstats s
              ON s.band_idx = b.band_idx AND s.band_hash = b.band_hash
            WHERE s.bdf > {_MAX_BAND_DF} AND b.doc_id <> s.min_doc
        )
    )"""


def _capped_band_pairs(bands: DataFrame) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) from banded signatures,
    with the _MAX_BAND_DF bucket cap: small buckets self-join all-pairs,
    over-cap buckets emit star edges from the bucket's min doc_id.

    One extra hash-agg on the (band_idx, band_hash) key the self-join
    shuffles on anyway, so the cap costs no additional exchange of the
    big side; the star branch is a second co-partitioned probe of the
    same bucket-stats table. Output rows per bucket: min(k, cap)²-ish
    for small, exactly k-1 for large — linear in corpus size either way.
    """
    keys = ["band_idx", "band_hash"]
    stats = bands.groupBy(*keys).agg(
        F.count("*").alias("bdf"), F.min("doc_id").alias("min_doc")
    )
    small = bands.join(stats.filter(F.col("bdf") <= _MAX_BAND_DF).select(*keys), keys)
    a = small.alias("a")
    b = small.alias("b")
    all_pairs = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    # star edges: min_doc < doc_id by construction, so doc_a < doc_b holds
    star = (
        bands.join(stats.filter(F.col("bdf") > _MAX_BAND_DF), keys)
        .filter(F.col("doc_id") != F.col("min_doc"))
        .select(F.col("min_doc").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return all_pairs.unionAll(star).distinct()


def _minhash_oracle() -> str:
    return f"""
    {_minhash_ctes()}{_band_cap_ctes()}
    SELECT doc_a, doc_b FROM cand_pairs
    """


def minhash_sigs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 8-column MinHash signature table, cached once per (session,
    sf_dir): feeds the band pipeline and the verify/rerank signature
    joins (dedup_minhash_verified)."""
    return shared_frame(
        spark,
        "minhash_sigs",
        sf_dir,
        lambda: _minhash_signatures(spark, sf_dir),
    )


def minhash_bands_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded-signature table, cached once per (session, sf_dir): it
    feeds three consumers inside the pair generator (bucket stats + both
    self-join sides) and a fourth query (dedup_split_leakage_audit)."""
    return shared_frame(
        spark,
        "minhash_bands",
        sf_dir,
        lambda: _minhash_bands(minhash_sigs_shared(spark, sf_dir)),
    )


def minhash_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capped candidate-pair list, cached once per (session, sf_dir):
    consumed by dedup_minhash_lsh, dedup_method_venn, and every
    connected-components client (cluster components / size histogram /
    keep-best / leakage-safe split), which previously each rebuilt the
    whole shingle→sign→band→self-join chain cold (VERDICT r07 ask #4)."""
    return shared_frame(
        spark,
        "minhash_pairs",
        sf_dir,
        lambda: _capped_band_pairs(minhash_bands_shared(spark, sf_dir)),
    )


@query("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidates: shingle → 8 seeded min-hashes →
    4 bands of 2 → self-join on band hash → distinct candidate pairs.

    The self-join key is (band_idx, 32-char band hash): tiny rows, and the
    join only ever compares documents that already collide on a band, so
    pair generation is output-sensitive — the LSH property that makes
    near-dup mining tractable at corpus scale. Buckets over _MAX_BAND_DF
    members are collapsed to star edges (see _capped_band_pairs), so even
    a boilerplate mega-cluster stays O(k) rows, not O(k²).

    Band table and pair list are shared.py-cached: five registry queries
    consume this chain, and they reuse one persisted copy per session
    instead of four cold rebuilds."""
    return minhash_pairs_shared(spark, sf_dir)


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH norm AS (
        SELECT doc_id, lang, source, {_NORM} AS t FROM documents
    ), toks AS (
        SELECT doc_id, lang, source, STRING_SPLIT(t, ' ') AS w FROM norm
    ), raw_shingles AS (
        SELECT doc_id, lang, source,
               UNNEST(CASE WHEN LEN(w) >= 3
                           THEN LIST_TRANSFORM(RANGE(1, LEN(w) - 1),
                                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                           ELSE [] END) AS sh
        FROM toks
    ), shingles AS (
        SELECT DISTINCT doc_id,
               MD5(lang || CHR(1) || source || CHR(1) || sh) AS h
        FROM raw_shingles
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id
    ), {_DF_CAP_CTES}, common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM joinable a
        JOIN joinable b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT c.doc_a, c.doc_b, c.n_common,
           ROUND(CAST(c.n_common AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - c.n_common), 4) AS jaccard
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE CAST(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common) >= 0.05
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard similarity for candidate pairs, blocked by
    (lang, source) so the pair space never materializes — co-occurring
    shingles drive the join (sparse similarity join), then
    |A∩B| / (|A|+|B|-|A∩B|) with a 0.05 floor.

    The (lang, source, shingle) blocking key is collapsed to a 128-bit
    digest pair BEFORE the distinct and the self-join: shuffle rows
    shrink to (doc_id, 2×8 bytes) regardless of shingle length, and the
    join key is hash-uniform — no popular-shingle skew. Equality on the
    digest is equality on the triple (128-bit collision budget, same as
    the oracle's md5), so the result set is unchanged. Shingles with
    df > _MAX_SHINGLE_DF are dropped from the join input (boilerplate
    guard), identically in the oracle. r12: the whole shingles → sizes →
    cap → co-occurrence-join chain is shared.py-cached across the three
    3-gram pair consumers — see ngram_common_shared."""
    # shared chain (r12): shingles → sizes → df-capped co-occurrence
    # self-join, built once for the three 3-gram pair consumers
    common = ngram_common_shared(spark, sf_dir)
    sizes = ngram_sizes_shared(spark, sf_dir)
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common")
    )
    return (
        # sizes is one row per doc — NOT broadcastable at corpus scale; let
        # AQE pick the strategy (it will broadcast at small SF anyway).
        common.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.05)
        .select("doc_a", "doc_b", "n_common", F.round(jac, 4).alias("jaccard"))
    )


def _minhash_estimate_oracle() -> str:
    matches = " + ".join(
        f"(CASE WHEN sa.m{j} = sb.m{j} THEN 1 ELSE 0 END)" for j in range(_N_HASHES)
    )
    return f"""
    {_minhash_ctes()}{_band_cap_ctes()},
    cands AS (
        SELECT doc_a, doc_b FROM cand_pairs
    )
    SELECT c.doc_a, c.doc_b,
           ROUND(CAST({matches} AS DOUBLE) / {_N_HASHES}, 4) AS est_jaccard
    FROM cands c
    JOIN sigs sa ON sa.doc_id = c.doc_a
    JOIN sigs sb ON sb.doc_id = c.doc_b
    WHERE {matches} >= {_N_HASHES // 2}
    """


@query("dedup_minhash_similarity", oracle=_minhash_estimate_oracle())
def dedup_minhash_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash similarity ESTIMATION on LSH candidates: for each banded
    candidate pair, est_jaccard = fraction of agreeing signature components
    (the unbiased MinHash estimator); pairs below 1/2 agreement are culled.

    This is the verify step of the classic two-stage near-dup pipeline
    (candidates from `dedup_minhash_lsh`, here re-joined to the 8-column
    signatures — two hash joins on doc_id whose build rows are 8 digests,
    never the documents). Candidate generation shares the _MAX_BAND_DF
    bucket cap with dedup_minhash_lsh (star edges for mega-buckets)."""
    # sigs feed the band pipeline AND the sa/sb signature joins below —
    # one shared cached copy per session (shared.py)
    sigs = minhash_sigs_shared(spark, sf_dir)
    cands = minhash_pairs_shared(spark, sf_dir)
    sa = sigs.select(
        F.col("doc_id").alias("sa_id"), *[F.col(f"m{j}").alias(f"a{j}") for j in range(_N_HASHES)]
    )
    sb = sigs.select(
        F.col("doc_id").alias("sb_id"), *[F.col(f"m{j}").alias(f"b{j}") for j in range(_N_HASHES)]
    )
    n_match = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0) for j in range(_N_HASHES)
    )
    return (
        cands.join(sa, F.col("doc_a") == F.col("sa_id"))
        .join(sb, F.col("doc_b") == F.col("sb_id"))
        .withColumn("n_match", n_match)
        .filter(F.col("n_match") >= _N_HASHES // 2)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("n_match").cast("double") / _N_HASHES, 4).alias("est_jaccard"),
        )
    )


@query(
    "dedup_shingle_containment",
    oracle=f"""
    WITH norm AS (
        SELECT doc_id, lang, source, {_NORM} AS t FROM documents
    ), toks AS (
        SELECT doc_id, lang, source, STRING_SPLIT(t, ' ') AS w FROM norm
    ), raw_shingles AS (
        SELECT doc_id, lang, source,
               UNNEST(CASE WHEN LEN(w) >= 3
                           THEN LIST_TRANSFORM(RANGE(1, LEN(w) - 1),
                                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                           ELSE [] END) AS sh
        FROM toks
    ), shingles AS (
        SELECT DISTINCT doc_id,
               MD5(lang || CHR(1) || source || CHR(1) || sh) AS h
        FROM raw_shingles
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id
    ), {_DF_CAP_CTES}, common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM joinable a
        JOIN joinable b ON a.h = b.h AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT c.doc_a, c.doc_b, c.n_common,
           ROUND(CAST(c.n_common AS DOUBLE) / sa.n_sh, 4) AS containment
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.doc_a
    WHERE CAST(c.n_common AS DOUBLE) / sa.n_sh >= 0.5
    """,
)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment |A∩B| / |A| ≥ 0.5 over 3-gram shingles,
    (lang, source)-blocked: flags documents mostly CONTAINED in another
    (quotes, excerpts, supersets) that symmetric Jaccard misses when the
    lengths differ — |A∩B|/|A∪B| is small when B is much longer than A.

    Ordered pairs (doc_a <> doc_b, not <): containment is directional, so
    both (a,b) and (b,a) are scored and only the contained side crosses
    the threshold. Same digest-collapsed sparse join as
    dedup_ngram_jaccard — the pair space never materializes, only
    co-occurring shingles, and only doc_a's size joins back; same
    _MAX_SHINGLE_DF boilerplate cap on the join input, mirrored in the
    oracle."""
    # shared chain (r12): containment is directional, so the ordered
    # (a ≠ b) pair counts are the shared unordered (a < b) counts plus
    # their swap — n_common is symmetric, so this is exactly the old
    # self-join with doc_id <> doc_id
    unordered = ngram_common_shared(spark, sf_dir)
    common = unordered.unionByName(
        unordered.select(
            F.col("doc_b").alias("doc_a"),
            F.col("doc_a").alias("doc_b"),
            "n_common",
        )
    )
    sizes = ngram_sizes_shared(spark, sf_dir)
    cont = F.col("n_common").cast("double") / F.col("n_sh")
    return (
        common.join(sizes, F.col("doc_a") == F.col("doc_id"))
        .filter(cont >= 0.5)
        .select(
            "doc_a", "doc_b", "n_common", F.round(cont, 4).alias("containment")
        )
    )


# ---------------------------------------------------------------------------
# dedup_method_venn — which duplicates does each method find?
# ---------------------------------------------------------------------------


def _venn_oracle() -> str:
    from .simhash import _SHARED_AGG_SQL

    return f"""
    {_minhash_ctes()}{_band_cap_ctes()}
    , mh_docs AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_a AS doc_id FROM cand_pairs
            UNION ALL SELECT doc_b FROM cand_pairs
        )
    ), exact_groups AS (
        SELECT doc_id, COUNT(*) OVER (PARTITION BY MD5(t)) AS grp_n FROM norm
    ), doc_tokens AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(t, ' ')) AS tok FROM norm
    ), sim_sigs AS (
        {_SHARED_AGG_SQL}
    ), sim_groups AS (
        SELECT doc_id, COUNT(*) OVER (PARTITION BY simhash) AS grp_n
        FROM sim_sigs
    ), flags AS (
        SELECT e.doc_id,
               e.grp_n > 1 AS by_exact,
               s.grp_n > 1 AS by_simhash,
               (m.doc_id IS NOT NULL) AS by_minhash
        FROM exact_groups e
        JOIN sim_groups s USING (doc_id)
        LEFT JOIN mh_docs m USING (doc_id)
    )
    SELECT by_exact, by_simhash, by_minhash, COUNT(*) AS n_docs
    FROM flags GROUP BY by_exact, by_simhash, by_minhash
    """


@query("dedup_method_venn", oracle=_venn_oracle())
def dedup_method_venn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-methodology audit: every document flagged by each of the
    three families — exact (normalized-digest group > 1), SimHash
    (fingerprint group > 1), MinHash-LSH (appears in a capped candidate
    pair) — and the 2³ Venn cell counts. This is the report that
    justifies a dedup stack: exact-only cells are hash-fragile dups the
    fuzzy methods missed (shouldn't happen), fuzzy-only cells measure
    what exact dedup leaves behind, and the all-three cell sizes the
    easy wins. Each flag pipeline is the SAME plan its standalone
    operator runs; the Venn is two digest-keyed windows, one distinct,
    and a 3-key rollup on top."""
    from .simhash import dedup_simhash as _simhash_sigs

    from .textshared import norm_docs_shared

    norm = norm_docs_shared(spark, sf_dir).select(
        "doc_id", F.md5("t").alias("nh")
    )
    exact_flag = norm.select(
        "doc_id",
        (F.count("*").over(Window.partitionBy("nh")) > 1).alias("by_exact"),
    )
    sim_flag = _simhash_sigs(spark, sf_dir).select(
        "doc_id",
        (F.count("*").over(Window.partitionBy("simhash")) > 1).alias(
            "by_simhash"
        ),
    )
    pairs = dedup_minhash(spark, sf_dir)
    mh_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("mh", F.lit(True))
    )
    flags = (
        exact_flag.join(sim_flag, "doc_id")
        .join(mh_docs, "doc_id", "left")
        .select(
            "by_exact",
            "by_simhash",
            F.coalesce("mh", F.lit(False)).alias("by_minhash"),
        )
    )
    return flags.groupBy("by_exact", "by_simhash", "by_minhash").agg(
        F.count("*").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# dedup_minhash_band_tuning — the LSH S-curve design table
# ---------------------------------------------------------------------------

# (rows per band r, bands b) layouts of a 128-hash MinHash signature
_BT_LAYOUTS = ((4, 32), (8, 16), (16, 8))


def _pow_chain_sql(base: str, exp: int) -> str:
    """x^exp for power-of-two exp as an explicit squaring chain — the SAME
    IEEE multiplication sequence in both engines (POWER() goes through
    libm/JVM pow, which are not guaranteed bit-identical)."""
    assert exp & (exp - 1) == 0 and exp >= 1
    out = base
    while exp > 1:
        out = f"(({out}) * ({out}))"
        exp //= 2
    return out


@query(
    "dedup_minhash_band_tuning",
    oracle=f"""
    WITH grid AS (
        SELECT UNNEST(RANGE(1, 20)) AS i
    ), s AS (
        SELECT i, CAST(i AS DOUBLE) / 20.0 AS sim FROM grid
    )
    {" UNION ALL ".join(
        f'''SELECT sim, {r} AS rows_per_band, {b} AS n_bands,
               1.0 - {_pow_chain_sql(f"(1.0 - {_pow_chain_sql('sim', r)})", b)}
                   AS p_candidate
        FROM s'''
        for r, b in _BT_LAYOUTS
    )}
    """,
)
def dedup_minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH band-tuning S-curve: for each (rows-per-band r, bands b)
    layout of a 128-hash MinHash signature, the probability that a pair
    with Jaccard similarity s becomes a candidate — P = 1 − (1 − sʳ)ᵇ —
    over a similarity grid. This is the design table behind the engine's
    own ``dedup_minhash_lsh`` parameters: it shows where each layout's
    threshold sits ((1/b)^(1/r)) and how sharp the cutoff is, so a curator
    picks (r, b) from data instead of folklore.

    Determinism: sʳ and (1−sʳ)ᵇ are evaluated as explicit SQUARING CHAINS
    (r and b are powers of two), the exact same IEEE multiplication
    sequence in Spark and DuckDB — POWER() would route through two
    different libm implementations whose results are not guaranteed to
    the last ulp. Grid points are i/20.0, exact in both engines.

    Scale: constant-size (57 rows) — a design-table query; it exists to be
    joined against measured duplicate-pair similarity histograms."""
    s = spark.range(1, 20).select(
        (F.col("id").cast("double") / 20.0).alias("sim")
    )
    parts = []
    for r, b in _BT_LAYOUTS:
        inner = _pow_chain_sql("sim", r)
        p = F.expr(f"1.0 - {_pow_chain_sql(f'(1.0 - {inner})', b)}")
        parts.append(
            s.select(
                "sim",
                F.lit(r).alias("rows_per_band"),
                F.lit(b).alias("n_bands"),
                p.alias("p_candidate"),
            )
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


# ---------------------------------------------------------------------------
# dedup_pair_similarity_histogram — measured Jaccard distribution of pairs
# ---------------------------------------------------------------------------


@query(
    "dedup_pair_similarity_histogram",
    oracle=f"""
    WITH norm AS (
        SELECT doc_id, lang, source, {_NORM} AS t FROM documents
    ), toks AS (
        SELECT doc_id, lang, source, STRING_SPLIT(t, ' ') AS w FROM norm
    ), raw_shingles AS (
        SELECT doc_id, lang, source,
               UNNEST(CASE WHEN LEN(w) >= 3
                           THEN LIST_TRANSFORM(RANGE(1, LEN(w) - 1),
                                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                           ELSE [] END) AS sh
        FROM toks
    ), shingles AS (
        SELECT DISTINCT doc_id,
               MD5(lang || CHR(1) || source || CHR(1) || sh) AS h
        FROM raw_shingles
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id
    ), {_DF_CAP_CTES}, common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM joinable a
        JOIN joinable b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), binned AS (
        SELECT (20 * c.n_common) // (sa.n_sh + sb.n_sh - c.n_common) AS bin
        FROM common c
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
    )
    SELECT CAST(bin AS BIGINT)            AS bin,
           FLOOR(bin * 1000.0 / 20.0) / 1000.0 AS bin_lo,
           COUNT(*)                        AS n_pairs
    FROM binned
    GROUP BY bin
    """,
)
def dedup_pair_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured complement of ``dedup_minhash_band_tuning``: the Jaccard
    distribution of actual co-shingle candidate pairs, in 0.05-wide bins.
    Joining this histogram against the band-tuning S-curve tells a curator
    how many pairs each (r, b) layout would actually catch or miss at each
    similarity level — threshold selection from data, not folklore.

    Determinism: the bin index is the INTEGER division
    (20·|A∩B|) // |A∪B| — set sizes are exact integers, so binning never
    rides a float boundary (a double Jaccard rounded near a bin edge
    could land differently per engine).

    Scale shape: identical to ``dedup_ngram_jaccard`` (digest-collapsed
    shingles, df-capped posting lists, sparse co-occurrence self-join) but
    the output collapses to ≤21 histogram rows, so this is strictly
    cheaper than the pair listing it summarizes."""
    # shared chain (r12) — see ngram_common_shared
    common = ngram_common_shared(spark, sf_dir)
    sizes = ngram_sizes_shared(spark, sf_dir)
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    union_sz = F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common")
    binned = (
        common.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(F.expr("20 * n_common").alias("num"), union_sz.alias("den"))
        .select(F.expr("num DIV den").alias("bin"))
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n_pairs")
    ).select(
        F.col("bin").cast("bigint").alias("bin"),
        (F.floor(F.col("bin") * 1000.0 / 20.0) / 1000.0).alias("bin_lo"),
        "n_pairs",
    )


# ---------------------------------------------------------------------------
# dedup_split_leakage_audit — near-dup pairs crossing a naive hash split
# ---------------------------------------------------------------------------

# naive 80/20 split: first two md5 hex chars < 'cc' (204/256) → train.
# Deliberately INDEPENDENT of content — the audit's whole point is that a
# uniform per-doc split scatters near-duplicate PAIRS across the boundary.
_LEAK_SALT = "leakaudit:"
_LEAK_TRAIN_HEX = "cc"


def _split_case(doc_expr: str, strtype: str = "VARCHAR") -> str:
    """Dialect-shared except the string type name: DuckDB spells it
    VARCHAR, Spark SQL requires STRING (bare VARCHAR needs a length)."""
    concat = (
        f"'{_LEAK_SALT}' || CAST({doc_expr} AS {strtype})"
        if strtype == "VARCHAR"
        else f"CONCAT('{_LEAK_SALT}', CAST({doc_expr} AS {strtype}))"
    )
    return (
        f"CASE WHEN SUBSTR(MD5({concat}), 1, 2)"
        f" < '{_LEAK_TRAIN_HEX}' THEN 'train' ELSE 'heldout' END"
    )


@query(
    "dedup_split_leakage_audit",
    oracle=f"""
    {_minhash_ctes()}{_band_cap_ctes()}, classed AS (
        SELECT CASE
                 WHEN {_split_case("doc_a")} = {_split_case("doc_b")}
                 THEN {_split_case("doc_a")} || '_' || {_split_case("doc_b")}
                 ELSE 'cross_split_leak'
               END AS pair_class
        FROM cand_pairs
    )
    SELECT pair_class,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           FLOOR(COUNT(*) * 10000.0 / SUM(COUNT(*)) OVER () + 0.5) / 10000.0
               AS share4
    FROM classed
    GROUP BY pair_class
    """,
)
def dedup_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/heldout CONTAMINATION audit for a naive uniform split: take
    the MinHash-LSH near-duplicate candidate pairs (the same banded,
    df-capped generator as dedup_minhash_lsh — never N²) and classify
    each pair by which side of an md5 80/20 document split its members
    landed on. Every `cross_split_leak` row is an eval example whose
    near-duplicate sits in training — the leakage class
    split_leakage_safe_clusters exists to PREVENT; this operator is the
    detector you run against a split you didn't build cluster-aware.

    The split is derived stateless from doc_id (salted md5 threshold), so
    no membership table is joined: the classifier is two map-side CASE
    expressions over the pair list.

    Scale shape: identical to dedup_minhash_lsh (its pair generator is
    the whole cost) plus one dimension-sized aggregate; the audit adds
    zero shuffles over the candidate pairs beyond their own distinct."""
    pairs = minhash_pairs_shared(spark, sf_dir)
    split_a = F.expr(_split_case("doc_a", "STRING"))
    split_b = F.expr(_split_case("doc_b", "STRING"))
    classed = pairs.select(
        F.when(split_a == split_b, F.concat(split_a, F.lit("_"), split_b))
        .otherwise(F.lit("cross_split_leak"))
        .alias("pair_class")
    )
    w_all = Window.partitionBy()
    return (
        classed.groupBy("pair_class")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .select(
            "pair_class",
            "n_pairs",
            (
                F.floor(
                    F.col("n_pairs") * 10000.0 / F.sum("n_pairs").over(w_all) + 0.5
                )
                / 10000.0
            ).alias("share4"),
        )
    )
