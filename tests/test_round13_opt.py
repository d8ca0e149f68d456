"""Focused tests for round-13 optimization restructures.

Each optimization that changed an operator's internals gets a direct
equivalence check against the straightforward reference formulation, so
the oracle gate is not the only thing pinning the rewrite.
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F

from akka_streams_kinesis_spark import registry
from akka_streams_kinesis_spark.functions import explode_ordered_pairs
from akka_streams_kinesis_spark.io import table

registry.load_all()


def test_ordered_pairs_enumerates_self_join_output(spark):
    """ordered_pairs on a sorted duplicate-free array must equal the
    equi-self-join's (a.k = b.k AND a.x < b.x) pair set, basket by
    basket — including the empty and single-element edge cases."""
    rows = [(1, [3, 7, 9]), (2, [5]), (3, []), (4, [1, 2])]
    df = spark.createDataFrame(rows, "k int, items array<int>")
    # the helper drops non-array columns, so pair-tag each basket by a
    # disjoint value range to keep the per-basket grouping observable
    got = sorted(
        map(tuple, explode_ordered_pairs(df, "items").collect())
    )
    flat = df.select("k", F.explode("items").alias("x"))
    a = flat.select(F.col("k").alias("_k"), F.col("x").alias("u"))
    b = flat.select(F.col("k").alias("_k2"), F.col("x").alias("v"))
    want = sorted(
        map(
            tuple,
            a.join(
                b, (F.col("_k") == F.col("_k2")) & (F.col("u") < F.col("v"))
            )
            .select("u", "v")
            .collect(),
        )
    )
    assert got == want
    assert got == [(1, 2), (3, 7), (3, 9), (7, 9)]


def test_jaccard_pair_explode_matches_self_join(spark, sf_dir):
    """The r13 array-explode pair pipeline must reproduce the old
    equi-self-join formulation of the link-prediction candidates row
    for row (pairs AND degree table)."""
    from akka_streams_kinesis_spark.operators.graph import (
        _LP_MAX_BASKET,
        _purchase_edges,
    )

    edges = _purchase_edges(spark, sf_dir)
    sized = (
        edges.groupBy("custkey")
        .agg(F.count("*").alias("basket"))
        .filter(F.col("basket") <= _LP_MAX_BASKET)
        .select("custkey")
    )
    kept = edges.join(sized, "custkey")
    a, b = kept.alias("a"), kept.alias("b")
    want_pairs = sorted(
        map(
            tuple,
            a.join(
                b,
                (F.col("a.custkey") == F.col("b.custkey"))
                & (F.col("a.suppkey") < F.col("b.suppkey")),
            )
            .groupBy(F.col("a.suppkey").alias("u"), F.col("b.suppkey").alias("v"))
            .agg(F.count("*").alias("shared"))
            .collect(),
        )
    )
    baskets = (
        edges.groupBy("custkey")
        .agg(F.sort_array(F.collect_set("suppkey")).alias("supps"))
        .filter(F.size("supps") <= _LP_MAX_BASKET)
    )
    got_pairs = sorted(
        map(
            tuple,
            explode_ordered_pairs(baskets, "supps")
            .groupBy("u", "v")
            .agg(F.count("*").alias("shared"))
            .collect(),
        )
    )
    assert got_pairs == want_pairs
    want_deg = sorted(
        map(
            tuple,
            kept.groupBy("suppkey").agg(F.count("*").alias("d")).collect(),
        )
    )
    got_deg = sorted(
        map(
            tuple,
            baskets.select(F.explode("supps").alias("suppkey"))
            .groupBy("suppkey")
            .agg(F.count("*").alias("d"))
            .collect(),
        )
    )
    assert got_deg == want_deg


def test_itemset_basket_frame_matches_window_formulation(spark, sf_dir):
    """The r13 collect_set basket frame must keep exactly the baskets the
    old distinct + COUNT-window formulation kept, with the same item
    sets."""
    from akka_streams_kinesis_spark.operators.frequency import _FIS_MAX_BASKET
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    old_kept = (
        li.groupBy("l_orderkey", "l_partkey")
        .agg(F.lit(1).alias("_one"))
        .withColumn(
            "bsize", F.count("*").over(Window.partitionBy("l_orderkey"))
        )
        .filter(F.col("bsize") <= _FIS_MAX_BASKET)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("l_partkey")).alias("parts"))
    )
    new_kept = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") <= _FIS_MAX_BASKET)
    )
    old_rows = sorted((r["l_orderkey"], tuple(r["parts"])) for r in old_kept.collect())
    new_rows = sorted((r["l_orderkey"], tuple(r["parts"])) for r in new_kept.collect())
    assert old_rows == new_rows


def test_bench_short_line_fits_tail_budget():
    """The final short stdout line of bench.py must fit the driver's
    2000-byte tail capture whole even with a worst-case-sized queries
    map: simulate 301 queries with long names and 4-digit seconds and
    assert the trim loop converges under SHORT_LINE_BUDGET."""
    import bench

    timings = {
        f"similarity_standing_index_family_member_{i:03d}": 1234.567
        for i in range(301)
    }
    sentinel = {n: 9999.999 for n in bench.DRIFT_SENTINEL}
    full = {
        "metric": "headline_query_total_seconds",
        "value": 99999.999,
        "unit": "sec",
        "queries": timings,
        "errors": {},
        "shared_builds_total": 9999.999,
        "drift_sentinel": {
            "current": {**sentinel, "total": 9999.999},
            "baseline": bench.DRIFT_BASELINE,
            "drift_factor": 99.999,
            "drift_factor_median": 99.999,
            "median_baseline": bench.DRIFT_MEDIAN_BASELINE,
        },
        "stream_ingest_rows_per_sec": 999999.9,
        "sf": 0.1,
    }
    line = bench.short_line(full)
    slowest = json.loads(line)["slowest"]
    assert len(line.encode()) <= bench.SHORT_LINE_BUDGET, len(line.encode())
    # the real families map (34 one-word prefixes at r12) plus 5+ slowest
    # names must survive the trim — the driver needs at least the heavy
    # names visible
    assert len(slowest) >= 5
    assert bench.SHORT_LINE_BUDGET <= 1999  # line + newline inside 2000


def test_peel_rounds_match_two_sided_reference(spark, sf_dir):
    """The r13 single-pass combined-degree peel must reproduce the old
    per-side (cdeg/sdeg + per-side threshold window + localCheckpoint)
    formulation round for round."""
    from pyspark.sql import Window

    from akka_streams_kinesis_spark.operators.graph import (
        _PEEL_PCT_DEN,
        _PEEL_PCT_NUM,
        _PEEL_ROUNDS,
        _purchase_edges,
    )

    def old_threshold(deg):
        dist = deg.groupBy("d").agg(F.count("*").alias("n"))
        wcum = Window.orderBy("d").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        wall = Window.partitionBy()
        return (
            dist.select(
                "d",
                F.sum("n").over(wcum).alias("cum"),
                F.sum("n").over(wall).alias("tot"),
            )
            .filter(
                F.lit(_PEEL_PCT_DEN) * F.col("cum")
                >= F.lit(_PEEL_PCT_NUM) * F.col("tot")
            )
            .agg(F.min("d").alias("k"))
        )

    e = _purchase_edges(spark, sf_dir)
    want = []
    for r in range(1, _PEEL_ROUNDS + 1):
        cdeg = e.groupBy("custkey").agg(F.count("*").alias("d")).persist()
        sdeg = e.groupBy("suppkey").agg(F.count("*").alias("d")).persist()
        kc = int(old_threshold(cdeg).collect()[0]["k"])
        ks = int(old_threshold(sdeg).collect()[0]["k"])
        alive_c = cdeg.filter(F.col("d") >= kc).select("custkey")
        alive_s = sdeg.filter(F.col("d") >= ks).select("suppkey")
        e = (
            e.join(F.broadcast(alive_c), "custkey", "left_semi")
            .join(F.broadcast(alive_s), "suppkey", "left_semi")
            .select("custkey", "suppkey")
            .localCheckpoint()
        )
        want.append(
            (r, kc, ks, alive_c.count(), alive_s.count(), e.count())
        )
        cdeg.unpersist()
        sdeg.unpersist()
    got = [
        tuple(r)
        for r in registry.QUERIES["graph_core_peel_quantile"](
            spark, sf_dir
        ).collect()
    ]
    assert got == want


def test_peel_degenerate_empty_edges_yield_null_thresholds(spark):
    """ADVICE r12: an empty surviving edge set must degrade to the
    oracle's NULL-threshold semantics, not raise — _degree_thresholds
    returns an empty dict there."""
    from akka_streams_kinesis_spark.operators.graph import _degree_thresholds, _peel_degrees

    empty = spark.createDataFrame([], "custkey long, suppkey long")
    assert _degree_thresholds(_peel_degrees(empty)) == {}


def test_word_shingles4_shared_matches_inline_derivations(spark, sf_dir):
    """The shared distinct 4-gram frame must equal each consumer's old
    inline derivation: the full-corpus explode+distinct, the md5-digest
    variant (novelty), and the survivor-filtered subset (prep)."""
    from akka_streams_kinesis_spark.functions import word_shingles
    from akka_streams_kinesis_spark.operators.textshared import (
        norm_docs_shared,
        word_shingles4_shared,
    )

    toks = norm_docs_shared(spark, sf_dir).select("doc_id", "w")
    inline = toks.select(
        "doc_id", F.explode(word_shingles("w", 4)).alias("s")
    ).distinct()
    shared = word_shingles4_shared(spark, sf_dir)
    assert inline.exceptAll(shared).count() == 0
    assert shared.exceptAll(inline).count() == 0
    # novelty's old md5-then-distinct == shared distinct-then-md5
    old_h = (
        toks.select("doc_id", F.explode(word_shingles("w", 4)).alias("g"))
        .select("doc_id", F.md5("g").alias("h"))
        .distinct()
    )
    new_h = shared.select("doc_id", F.md5("s").alias("h"))
    assert old_h.exceptAll(new_h).count() == 0
    assert new_h.exceptAll(old_h).count() == 0
    # prep's survivor filter == re-exploding the survivor texts
    some = toks.filter(F.col("doc_id") % 3 == 0)
    old_sub = some.select(
        "doc_id", F.explode(word_shingles("w", 4)).alias("s")
    ).distinct()
    new_sub = shared.join(
        F.broadcast(some.select("doc_id")), "doc_id", "left_semi"
    )
    assert old_sub.exceptAll(new_sub).count() == 0
    assert new_sub.exceptAll(old_sub).count() == 0


def test_word_shingles3_shared_matches_inline_derivations(spark, sf_dir):
    """The shared distinct 3-gram frame must equal the inline
    derivations it replaced: the boilerplate (doc, source, g) distinct,
    the source-overlap (source, md5) distinct, the minhash signature
    base (min over multiset == min over distinct set), and the corpus-
    refresh per-side digest sets."""
    from akka_streams_kinesis_spark.functions import word_shingles
    from akka_streams_kinesis_spark.operators.textshared import (
        norm_docs_shared,
        word_shingles3_shared,
    )

    nd = norm_docs_shared(spark, sf_dir)
    toks = nd.select("doc_id", "lang", "source", F.col("w").alias("toks"))
    shared = word_shingles3_shared(spark, sf_dir)
    inline = toks.select(
        "doc_id", "lang", "source",
        F.explode(word_shingles("toks", 3)).alias("g"),
    ).distinct()
    assert inline.exceptAll(shared).count() == 0
    assert shared.exceptAll(inline).count() == 0
    # source-overlap grain: md5-then-distinct == distinct-then-md5
    old_som = (
        toks.select("source", F.explode(word_shingles("toks", 3)).alias("g"))
        .select("source", F.md5("g").alias("h"))
        .distinct()
    )
    new_som = shared.select("source", F.md5("g").alias("h")).distinct()
    assert old_som.exceptAll(new_som).count() == 0
    assert new_som.exceptAll(old_som).count() == 0
    # minhash signatures: min(md5(seed:sh)) is duplicate-insensitive
    raw = toks.select("doc_id", F.explode(word_shingles("toks", 3)).alias("sh"))
    old_m = raw.groupBy("doc_id").agg(
        F.min(F.md5(F.concat(F.lit("0:"), F.col("sh")))).alias("m0")
    )
    new_m = shared.groupBy("doc_id").agg(
        F.min(F.md5(F.concat(F.lit("0:"), F.col("g")))).alias("m0")
    )
    assert sorted(map(tuple, old_m.collect())) == sorted(
        map(tuple, new_m.collect())
    )
    # corpus-refresh digests: old explode+digest+distinct per side ==
    # shared-frame projection filtered to the same doc set
    key_old = F.concat_ws("\x01", F.col("lang"), F.col("sh"))
    standing = toks.filter(F.col("doc_id") % 5 != 4)
    old_sh = (
        standing.select(
            "doc_id", "lang", F.explode(word_shingles("toks", 3)).alias("sh")
        )
        .select(
            "doc_id",
            F.xxhash64(key_old).alias("h1"),
            F.xxhash64(key_old, F.lit(1)).alias("h2"),
        )
        .distinct()
    )
    key_new = F.concat_ws("\x01", F.col("lang"), F.col("g"))
    new_sh = shared.filter(F.col("doc_id") % 5 != 4).select(
        "doc_id",
        F.xxhash64(key_new).alias("h1"),
        F.xxhash64(key_new, F.lit(1)).alias("h2"),
    )
    assert old_sh.exceptAll(new_sh).count() == 0
    assert new_sh.exceptAll(old_sh).count() == 0
