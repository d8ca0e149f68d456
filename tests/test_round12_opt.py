"""Focused tests for round-12 optimization restructures.

Each optimization that changed an operator's internals gets a direct
equivalence check against the straightforward reference formulation, so
the oracle gate is not the only thing pinning the rewrite.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from akka_streams_kinesis_spark import registry
from akka_streams_kinesis_spark.io import table

registry.load_all()


def test_weighted_median_bucket_refine_matches_naive_window(spark, sf_dir):
    """The r12 bucket-then-refine weighted median must equal the naive
    single-window formulation (the pre-r12 plan) row for row."""
    li = table(spark, sf_dir, "lineitem")
    byval = li.groupBy(
        "l_returnflag", "l_linestatus", F.col("l_extendedprice").alias("v")
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("w"))
    grp = Window.partitionBy("l_returnflag", "l_linestatus")
    cum = grp.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cw = byval.select(
        "l_returnflag",
        "l_linestatus",
        "v",
        F.sum("w").over(cum).cast("long").alias("cw"),
        F.sum("w").over(grp).cast("long").alias("tw"),
    )
    naive = (
        cw.filter(F.lit(2) * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.min("v").alias("weighted_median"),
            F.min("tw").alias("total_weight"),
        )
    )
    optimized = registry.QUERIES["agg_weighted_median"](spark, sf_dir)
    n = sorted(map(tuple, naive.collect()))
    o = sorted(map(tuple, optimized.collect()))
    assert n == o


def test_ngram_common_pairs_symmetric_and_capped(spark, sf_dir):
    """The shared co-occurrence pair frame is oriented (doc_a < doc_b) and
    its counts are bounded by the smaller doc's shingle count."""
    from akka_streams_kinesis_spark.operators.dedup import (
        ngram_common_shared,
        ngram_sizes_shared,
    )

    common = ngram_common_shared(spark, sf_dir)
    assert common.filter(F.col("doc_a") >= F.col("doc_b")).count() == 0
    sizes = ngram_sizes_shared(spark, sf_dir)
    joined = (
        common.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
        .filter(
            (F.col("n_common") > F.col("na")) | (F.col("n_common") > F.col("nb"))
        )
    )
    assert joined.count() == 0


def test_doc_tokens_shared_matches_inline_pipeline(spark, sf_dir):
    """The shared token frame must be byte-identical to the inline
    normalize→split→explode derivation every consumer previously ran."""
    from akka_streams_kinesis_spark.functions import normalize_text
    from akka_streams_kinesis_spark.operators.textshared import doc_tokens_shared

    d = table(spark, sf_dir, "documents")
    inline = d.select(
        "doc_id",
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("tok"),
    )
    shared = doc_tokens_shared(spark, sf_dir)
    assert inline.exceptAll(shared).count() == 0
    assert shared.exceptAll(inline).count() == 0


def test_norm_docs_shared_matches_inline_derivation(spark, sf_dir):
    """The shared normalized-doc frame (and its lazy w column) must be
    byte-identical to the inline normalize_text/split derivation the
    ~20 consumer queries previously ran; doc_tokens_shared must equal
    the explode of its w column."""
    from akka_streams_kinesis_spark.functions import normalize_text
    from akka_streams_kinesis_spark.operators.textshared import (
        doc_tokens_shared,
        norm_docs_shared,
    )

    d = table(spark, sf_dir, "documents")
    t = normalize_text(F.col("text"))
    inline = d.select(
        "doc_id",
        "source",
        "lang",
        t.alias("t"),
        F.split(t, " ").alias("w"),
    )
    shared = norm_docs_shared(spark, sf_dir)
    assert shared.columns == ["doc_id", "source", "lang", "t", "w"]
    assert inline.exceptAll(shared).count() == 0
    assert shared.exceptAll(inline).count() == 0
    from_w = shared.select("doc_id", F.explode("w").alias("tok"))
    toks = doc_tokens_shared(spark, sf_dir)
    assert from_w.exceptAll(toks).count() == 0
    assert toks.exceptAll(from_w).count() == 0
