"""Physical-plan pinning: the scale properties each operator's docstring
claims must be visible in the executed plan — pushdown, pruning, broadcast
choice, top-k without global sort, no cartesian products anywhere.
"""

from __future__ import annotations

import pytest

from akka_streams_kinesis_spark import registry
from akka_streams_kinesis_spark.plans import (
    has_pushed_filter,
    join_strategies,
    read_schema_columns,
    uses_take_ordered,
)

registry.load_all()

# streaming queries materialize stream dirs; plan checks are batch-only
PLAN_CHECKED = sorted(
    n for n in registry.QUERIES if not n.startswith("stream_")
)


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    df = registry.QUERIES["tpch_q1_pricing_summary"](spark, sf_dir)
    assert has_pushed_filter(df, "l_shipdate")
    cols = read_schema_columns(df)
    # column pruning: the 16-column table is read as only the needed 7
    assert "l_orderkey" not in cols and "l_partkey" not in cols
    assert "l_quantity" in cols and "l_shipdate" in cols


def test_q6_all_predicates_pushed(spark, sf_dir):
    df = registry.QUERIES["tpch_q6_forecast_revenue"](spark, sf_dir)
    for c in ("l_shipdate", "l_discount", "l_quantity"):
        assert has_pushed_filter(df, c), f"predicate on {c} not pushed to scan"


def test_q3_broadcasts_customer_and_takeordered(spark, sf_dir):
    df = registry.QUERIES["tpch_q3_top_orders"](spark, sf_dir)
    st = join_strategies(df)
    assert st["broadcast_hash"] >= 1
    assert st["cartesian"] == 0
    assert uses_take_ordered(df)


def test_q5_star_join_no_cartesian(spark, sf_dir):
    df = registry.QUERIES["tpch_q5_region_revenue"](spark, sf_dir)
    st = join_strategies(df)
    assert st["broadcast_hash"] >= 2  # dims broadcast
    assert st["cartesian"] == 0


def test_sort_limit_avoids_global_sort(spark, sf_dir):
    df = registry.QUERIES["sort_limit_top_orders"](spark, sf_dir)
    assert uses_take_ordered(df)


def test_range_join_has_equi_component(spark, sf_dir):
    # the brand equi-key must carry the join; a pure-theta plan would be
    # BroadcastNestedLoop over the whole table
    df = registry.QUERIES["join_range_price_bands"](spark, sf_dir)
    st = join_strategies(df)
    assert st["broadcast_nested_loop"] == 0 and st["cartesian"] == 0


# Round-9 VERDICT ask #5: registry-wide broadcast-nested-loop pin.
# unbounded_bnlj_builds() already accepts the benign scalar-broadcast BNLJ
# (crossJoin(broadcast(keys=[] aggregate)) — one build row by construction,
# ~40 queries use it for corpus constants); what it flags is a BNLJ whose
# broadcast side could grow with the data — e.g. an equi join that silently
# lost its keys and degraded to a nested loop. Every name below carries a
# build side that IS constant-bounded, just not provably so from the plan:
BNLJ_ALLOWLIST: dict[str, str] = {
    "agg_bitmap_exact_intersection": "broadcasts DISTINCT event_type (domain-bounded dim, 5 values) for the type-pair expansion",
    "embedding_matryoshka_truncation_qa": "broadcasts the constant query set (vec_id < N_QUERIES literal scan filter) against the corpus",
    "events_gap_fill_resample": "broadcasts DISTINCT event_type (domain-bounded dim) to build the per-type time grid",
    "graph_core_peel_quantile": "broadcasts localCheckpointed ONE-ROW quantile-threshold scalars (ExistingRDD hides the agg)",
    "join_band_lookup_nested_loop": "deliberately a nested-loop band lookup against a literal band table (the operator under test)",
    "layout_sorted_write_clustering": "broadcasts per-FILE min/max stats (bounded by file count, a layout-metadata frame)",
    "similarity_ann_ivf_pq": "broadcasts the constant query set (vec_id < N_QUERIES) against the corpus scan",
    "similarity_ann_pq": "broadcasts the constant query set against the corpus scan",
    "similarity_binary_quantization": "broadcasts the constant coded query set for the Hamming scan",
    "similarity_cosine_topk": "broadcasts the constant query set against the corpus scan",
    "similarity_diversified_topk": "broadcasts the constant query set against the corpus scan",
    "similarity_hard_negative_mining": "broadcasts the constant query/positive set against the corpus scan",
    "similarity_mips_norm_augment": "broadcasts the constant query set against the corpus scan",
    "similarity_multiprobe_recall_sweep": "broadcasts the constant query set at each probe width",
    "similarity_standing_index_topk": "r13: the GEMM exact anchor removed the old query-set BNLJ — entry kept only for the benign scalar crossJoins; the ANN path is equi-joined on c8",
    "similarity_standing_index_recall_sweep": "broadcasts the 3-row radii literal (dist <= probe_h band join) against dimension-bounded candidate frames; the anchor BNLJ is gone (r13 GEMM), candidate expansion is equi-joined on c8",
    "retrieval_hybrid_rrf": "dense side broadcasts the constant query set (vec_id < N_QUERIES) against the corpus scan",
    "retrieval_eval_system_comparison": "dense side broadcasts the constant query set against the corpus scan (shared with retrieval_hybrid_rrf)",
}


@pytest.mark.parametrize("name", PLAN_CHECKED)
def test_no_cartesian_and_no_unbounded_bnlj_anywhere(spark, sf_dir, name):
    from akka_streams_kinesis_spark.plans import unbounded_bnlj_builds

    df = registry.QUERIES[name](spark, sf_dir)
    assert join_strategies(df)["cartesian"] == 0, f"{name} plans a cartesian product"
    if name not in BNLJ_ALLOWLIST:
        bad = unbounded_bnlj_builds(df)
        assert not bad, (
            f"{name} plans a BroadcastNestedLoopJoin with a non-constant-"
            f"bounded build side (equi keys lost?):\n{bad[0][:2000]}"
        )


def test_q10_takeordered_and_broadcast_nation(spark, sf_dir):
    df = registry.QUERIES["tpch_q10_returned_items"](spark, sf_dir)
    st = join_strategies(df)
    assert st["broadcast_hash"] >= 1  # nation
    assert uses_take_ordered(df)
    assert has_pushed_filter(df, "l_returnflag")


def test_q4_semi_join_pushes_date_filter(spark, sf_dir):
    df = registry.QUERIES["tpch_q4_order_priority"](spark, sf_dir)
    assert has_pushed_filter(df, "o_orderdate")
    cols = read_schema_columns(df)
    assert "l_quantity" not in cols  # semi join keeps no lineitem payload


def test_q19_derives_single_side_implications(spark, sf_dir):
    # Catalyst must extract brand-IN / quantity-range implications from the
    # OR-of-ANDs and push them below the join
    df = registry.QUERIES["tpch_q19_disjunctive_revenue"](spark, sf_dir)
    assert has_pushed_filter(df, "p_brand")
    assert has_pushed_filter(df, "l_quantity")


def test_near_dup_salted_join_is_hash_not_nested_loop(spark, sf_dir):
    df = registry.QUERIES["embedding_near_dup_pairs"](spark, sf_dir)
    st = join_strategies(df)
    assert st["broadcast_nested_loop"] == 0 and st["cartesian"] == 0


def test_hash_split_is_single_agg_no_join(spark, sf_dir):
    # split/sample are row-local md5 predicates: the plan must be scan →
    # partial agg → one exchange → final agg, with no join anywhere
    from akka_streams_kinesis_spark.plans import num_shuffles, join_strategies

    for name in ("split_train_valid_test", "sample_stratified_by_language"):
        df = registry.QUERIES[name](spark, sf_dir)
        assert sum(join_strategies(df).values()) == 0, f"{name} plans a join"
        assert num_shuffles(df) == 1, f"{name} should shuffle exactly once"


def test_dataset_card_two_level_agg_avoids_expand(spark, sf_dir):
    from akka_streams_kinesis_spark.plans import num_shuffles, physical_plan

    df = registry.QUERIES["curation_dataset_card"](spark, sf_dir)
    assert "Expand" not in physical_plan(df)
    assert num_shuffles(df) <= 2  # pre-group on digest, then roll up


def test_pack_sequences_reuses_window_partitioning(spark, sf_dir):
    # groupBy(lang, bin_id) after a window partitioned by lang must reuse
    # the hash(lang) distribution instead of adding a second exchange
    from akka_streams_kinesis_spark.plans import num_shuffles

    df = registry.QUERIES["pack_sequences_bins"](spark, sf_dir)
    assert num_shuffles(df) == 1


def test_fuzzy_er_broadcasts_catalog_no_nested_loop(spark, sf_dir):
    df = registry.QUERIES["join_fuzzy_entity_resolution"](spark, sf_dir)
    st = join_strategies(df)
    assert st["broadcast_hash"] >= 1  # catalog is the broadcast side
    assert st["cartesian"] == 0
    assert st.get("broadcast_nested_loop", 0) == 0


def test_snapshot_diff_one_exchange_per_side(spark, sf_dir):
    from akka_streams_kinesis_spark.plans import num_shuffles, physical_plan

    df = registry.QUERIES["maintenance_snapshot_diff"](spark, sf_dir)
    # each side: ONE user_id exchange shared by window + full-outer join
    assert num_shuffles(df) == 2, physical_plan(df)


def test_attribution_is_window_only_no_join(spark, sf_dir):
    from akka_streams_kinesis_spark.plans import physical_plan

    df = registry.QUERIES["behavior_attribution_last_touch"](spark, sf_dir)
    plan = physical_plan(df)
    assert "Join" not in plan  # window formulation, not purchases×clicks
    assert "Window" in plan


def test_cms_sketch_is_broadcast_lookup(spark, sf_dir):
    df = registry.QUERIES["agg_count_min_sketch"](spark, sf_dir)
    st = join_strategies(df)
    assert st["broadcast_hash"] >= 1
    assert st["cartesian"] == 0


def test_bloom_prefilter_runs_before_confirm_join(spark, sf_dir):
    from akka_streams_kinesis_spark.plans import physical_plan

    df = registry.QUERIES["curation_decontaminate_bloom"](spark, sf_dir)
    plan = physical_plan(df)
    # Arrow-batched membership test present, and the confirm join is a
    # broadcast hash join (test-shingle set is the small side)
    assert "ArrowEvalPython" in plan
    assert "BroadcastHashJoin" in plan


def _kids(node):
    c = node.children()
    return [c.apply(i) for i in range(c.size())]


def _exchange_above_cache(node, seen=False):
    """For each InMemoryTableScan reached from ``node`` without crossing a
    broadcast, whether a shuffle Exchange lies between the two."""
    name = node.nodeName()
    if name == "InMemoryTableScan":
        yield seen
    elif name != "BroadcastExchange":
        for c in _kids(node):
            yield from _exchange_above_cache(c, seen or name == "Exchange")


def test_pagerank_rounds_aggregate_without_exchange(spark, sf_dir):
    # The shared edge list is repartitioned on dst before it is persisted,
    # and AQE may coalesce that cache but must keep it hash-partitioned: no
    # PageRank round may plan an Exchange between its contribution
    # aggregate and the cached edges (dir_edges joined with out_deg).
    df = registry.QUERIES["graph_pagerank_purchases"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()  # the initial plan, exchanges placed
    todo, rounds = [plan], []
    while todo:
        node = todo.pop()
        todo.extend(_kids(node))
        if node.nodeName() == "HashAggregate" and "sum(c_u" in node.simpleString(500):
            rounds.append(list(_exchange_above_cache(node)))
    assert len(rounds) == 6  # partial + final aggregate of each of 3 rounds
    assert all(r and not any(r) for r in rounds), rounds
