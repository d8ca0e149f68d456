"""Regenerate PLANS.md: formatted physical plans for representative queries,
with the scale property each plan is supposed to exhibit. Run after changing
any of the listed operators: ``python scripts/explain_flagships.py``.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from akka_streams_kinesis_spark import get_session, registry  # noqa: E402

registry.load_all()

# (query, the property a reviewer should verify in the plan)
SHOWCASE = [
    ("tpch_q1_pricing_summary",
     "PushedFilters on l_shipdate; ReadSchema is the 7 needed columns; "
     "partial+final HashAggregate pair around one small Exchange."),
    ("tpch_q3_top_orders",
     "BroadcastHashJoin for the filtered customer dim; the only big Exchange "
     "is orders⋈lineitem on orderkey; TakeOrderedAndProject instead of a "
     "global Sort for the top-10."),
    ("tpch_q2_min_cost_supplier",
     "Part filter broadcast-joined BELOW the supply-cost aggregate (prunes "
     "lineitem before any shuffle); argmin-with-tiebreak is ONE "
     "min(struct(cost,suppkey)) aggregate — no join-back, no second fact "
     "scan; TakeOrderedAndProject for the top-100."),
    ("tpch_q11_important_stock",
     "Scalar-fraction HAVING: the 0.001×SUM threshold is a 1-row "
     "BroadcastNestedLoopJoin build side over the persisted per-part "
     "value aggregate (InMemoryTableScan on both branches)."),
    ("join_band_lookup_nested_loop",
     "BroadcastNestedLoopJoin — correct HERE because the build side is a "
     "5-row banding table and the condition has no equi component."),
    ("asof_join_last_login",
     "No join operator at all: union + single Exchange on user_id + one "
     "running-Window — the linear as-of algorithm (no inequality-join "
     "pair blow-up)."),
    ("dedup_minhash_lsh",
     "Exchange carries (doc_id, 8×32-char digests) partial mins, never "
     "documents; the self-join keys are band hashes (short, uniform)."),
    ("embedding_near_dup_pairs",
     "Salted equi-join on (label, salt): parallelism = cells × 8 instead "
     "of cells; norms are precomputed once before the join."),
    ("text_fingerprint",
     "Round-robin Exchange (fanout) BEFORE the 300× gram explode so the "
     "fan-out parallelizes; the (doc_id, gram) aggregate dedups map-side."),
    ("split_train_valid_test",
     "Stateless md5-threshold split: scan → partial+final HashAggregate "
     "around ONE Exchange; no join, no membership table."),
    ("pack_sequences_bins",
     "groupBy(lang, bin_id) REUSES the window's hash(lang) distribution — "
     "one Exchange total for window + aggregate."),
    ("curation_dataset_card",
     "Two-level aggregate (digest pre-group, then rollup) — no Expand "
     "node, unlike COUNT(DISTINCT) alongside other aggs."),
    ("similarity_hyperplane_lsh",
     "Banded candidate join is a BroadcastHashJoin on (band_idx, code); "
     "the exact cosine rerank only touches candidate pairs."),
    ("text_quality_linear_classifier",
     "Entire hash→weight→mean→sigmoid fold is ONE JVM Project over a "
     "2-column pruned scan (transform/aggregate higher-order functions, "
     "no explode, no Python); the only Exchange is the presentation "
     "orderBy."),
    ("layout_zorder_cluster",
     "Morton interleave is row-local bit math inside the scan Project; "
     "one partial+final HashAggregate pair over 64 coarse buckets."),
    ("dedup_incremental_digest",
     "Both sides collapse to md5 digests BEFORE the anti-join; the "
     "shuffle carries 16-byte digests, never documents."),
    ("curation_domain_mixture_weights",
     "Partial+final agg to |sources| rows, then broadcast 1-row total "
     "joined back — corpus scanned exactly once."),
    ("join_fuzzy_entity_resolution",
     "Canonical catalog is a BroadcastHashJoin build side keyed on the "
     "blocking equality (first char); length band + levenshtein verify "
     "ride the join condition inside codegen — the dirty side never "
     "shuffles."),
    ("curation_importance_weights",
     "ONE persisted bigram explode feeds target counts, source counts, "
     "and scoring; both count tables collapse to ≤4096 buckets and the "
     "scoring model is a BroadcastHashJoin."),
    ("curation_decontaminate_bloom",
     "ArrowEvalPython (the Bloom membership prefilter) sits directly on "
     "the train shingle stream BEFORE any join; the confirm join against "
     "the exact test-shingle set is a BroadcastHashJoin."),
    ("agg_count_min_sketch",
     "Sketch build is partial+final HashAggregate into ≤768 (seed,bucket) "
     "cells; the estimate lookup broadcasts the sketch."),
    ("join_salted_skew_join",
     "Join keys are (partkey, salt) — the hot key's rows spread over 8 "
     "reducers; the replicated dim is still the broadcast/small side."),
    ("maintenance_snapshot_diff",
     "Both snapshot windows and the full-outer join share the user_id "
     "hash partitioning — AQE plans ONE exchange per side, reused by "
     "window and join; the join compares md5 digests, not payloads."),
    ("similarity_knn_graph_blocked",
     "Pairwise stage is an EQUI-join on the label cell (never a corpus "
     "crossJoin); per-source top-k via WindowGroupLimit."),
    ("text_bigram_lm_kneser_ney",
     "ONE persisted bigram explode (InMemoryTableScan) feeds the count "
     "model and the scoring join; the KN model is the BroadcastHashJoin "
     "build side."),
    ("maintenance_table_stats",
     "Each table computes all its column stats in one scan — "
     "partial+final aggregate pairs, no joins, union of single-row "
     "results."),
    ("pipeline_pretraining_prep",
     "Whole prep funnel in one job: row-local quality predicate, digest "
     "window dedup, broadcast test-shingle decontamination join, and a "
     "per-language rollup — the three report joins all share the doc_id "
     "key."),
    ("asof_join_nearest",
     "Bidirectional as-of from ONE Exchange on user_id: two Sort+Window "
     "passes (ascending and descending) over the same shuffle output — "
     "no inequality join, no second exchange."),
    ("events_session_concurrency",
     "Interval occupancy with NO interval self-join: sessionize window, "
     "primitive hour-sequence Generate, then a partial+final count per "
     "hour cell — linear where pairwise overlap is quadratic."),
    ("split_leakage_safe_clusters",
     "Cluster labels (iterative CC over band-capped LSH pairs) join the "
     "doc list once; the split itself is the same stateless md5 CASE, "
     "now keyed on the cluster rep."),
    ("window_cumulative_distinct_users",
     "Running COUNT DISTINCT without distinct state in any window: "
     "first-day hash-agg (map-side dedup), per-day count, then a "
     "cumulative sum over |types|x|days| rows only."),
    ("text_vocab_growth_heaps",
     "Running distinct token types WITHOUT distinct window state: "
     "token-level first-bucket hash-agg, then cumulative sums and the "
     "regr_slope fit over 10 rows only."),
    ("text_ngram_entropy_filter",
     "Entropy from the log identity over per-(doc,bigram) counts: one "
     "map-side-combined hash-agg plus a per-doc rollup — no per-document "
     "probability vector, no UDF."),
    ("events_time_weighted_avg",
     "TWAP: the LEAD window and the final per-user aggregate share ONE "
     "user_id Exchange (one shuffle total); products are exact-int "
     "microseconds x 2dp money inside whole-stage codegen."),
    ("behavior_growth_accounting",
     "All four growth flows from ONE windowed pass: DISTINCT user-weeks, "
     "a single user-partitioned sort feeding LAG and LEAD together, then "
     "two small per-week rollups — no week-vs-week self-join of activity "
     "sets."),
    ("behavior_cohort_ltv_triangle",
     "Cohort join is co-partitioned on o_custkey (AQE-planned); the "
     "cumulative-LTV window runs over |months|^2 triangle cells, never "
     "facts; cohort sizes arrive via BroadcastHashJoin."),
    ("curation_quantile_normalize_scores",
     "Percent-rank needs one source-partitioned sort; the pooled quantile "
     "grid is ONE percentile aggregate collapsed to 101 rows and "
     "broadcast back — the fact table is never re-shuffled for the "
     "calibration join."),
    ("text_boilerplate_by_source",
     "distinct-(doc,source,gram) before any counting: plain hash-aggs "
     "on (source,gram), a broadcast of per-source doc counts, and a "
     "left-semi join against the small boilerplate set — no "
     "count-distinct Expand, no doc-pair joins."),
    ("join_bloom_prefilter_reduction",
     "Runtime-filter join reduction: the fact side carries the Bloom "
     "bit-test (ArrowEvalPython over JVM-computed md5 positions) BELOW "
     "its Exchange, so only surviving candidates shuffle; the exact "
     "join above removes false positives."),
    ("stream_ingest_hourly_rollup",
     "(streaming — see the drain rate in bench.py; plan not dumped here)"),
    ("graph_jaccard_link_prediction",
     "Candidate pairs ONLY via the shared-customer equi self-join (one "
     "Exchange on custkey, basket-capped); degree frames come back as "
     "BroadcastHashJoins; final cut is TakeOrderedAndProject on the "
     "integer score — no supplier×supplier product anywhere."),
    ("maintenance_compaction_planner",
     "ONE Exchange on source feeding a single running-sum Window, then a "
     "partial+final HashAggregate pair — no join; the planner is a pure "
     "window pass over the manifest-sized frame."),
    ("similarity_multiprobe_recall_sweep",
     "ONE broadcast-join sims frame (corpus never shuffles) fanned out by "
     "a 3-row broadcast radii join; both rankings are Windows over "
     "per-(radius,query) groups — no second corpus scan for ground truth."),
    ("text_bpe_train_merges",
     "Pair counting runs over the localCheckpointed VOCABULARY (never the "
     "corpus): InMemoryTableScan/checkpoint scan feeds the explode, the "
     "Exchange carries (pair, partial-count) bounded by the pair "
     "alphabet; each merge is a 1-row TakeOrdered broadcast into a "
     "literal replace."),
    ("events_pattern_match_sequence",
     "ONE Exchange on user_id shared by the sessionize lag window, the "
     "session-id running sum, AND the per-session collect (hash "
     "partitioning on user_id satisfies the (user_id, session_id) "
     "clustering) — the regexp runs JVM-side over the folded string, no "
     "second shuffle."),
    ("graph_core_peel_quantile",
     "Each peel round: two HashAggregate degree counts + two broadcast "
     "threshold joins + two left-semi joins; checkpoint scans between "
     "rounds (no lineage re-derivation); the quantile windows run over "
     "degree-COUNT tables (|distinct degrees| rows), never nodes."),
    ("curation_source_overlap_matrix",
     "The corpus collapses to DISTINCT (source, digest) BEFORE the pair "
     "self-join (partial aggregation absorbs the explode map-side); the "
     "join key is the 16-byte digest; per-source totals come back as "
     "BroadcastHashJoins onto the |sources|²-bounded pair aggregate."),
    ("agg_weighted_median",
     "First HashAggregate collapses the fact table to distinct values "
     "(the Exchange carries values, not rows); one Window sort per group "
     "over the collapsed table; integer boundary filter + tiny final "
     "aggregate — no percentile UDAF, no full-table sort."),
    # round 7
    ("layout_dynamic_partition_pruning",
     "DynamicPruningExpression under the fact scan: the weekend-filtered "
     "calendar dim evaluates first (broadcast reuse) and prunes the "
     "partitioned fact's directory listing AT RUNTIME to ~2/7 of days — "
     "the dim filter is never hand-copied onto the fact."),
    ("maintenance_delete_vectors_mor",
     "Merge-on-read: the delete sidecar applies as a BroadcastHashJoin "
     "LeftAnti under the scan — the base table is never shuffled to "
     "subtract deleted keys; the compacted branch is a plain pruned "
     "scan."),
    ("curation_temperature_sampling",
     "Per-domain keep rates are a dimension-sized aggregate broadcast "
     "back onto the corpus scan; the α-tempered keep predicate is "
     "map-side C-speed md5 — no shuffle touches kept rows."),
    ("graph_label_propagation_communities",
     "Each LPA round: one |E| hash join against the checkpointed label "
     "frame + two hash-aggs (neighbor-label counts, per-node argmax "
     "window partitioned by node); per-round state is |V| rows, lineage "
     "truncated per round."),
    ("agg_frequent_itemset_pairs",
     "Basket dedup, size window, and the within-basket pair self-join "
     "share ONE l_orderkey Exchange; pair counts shuffle output-sized "
     "keys; confidence joins come back as BroadcastHashJoins on the "
     "|parts|-bounded singles frame."),
    ("similarity_knn_label_eval",
     "Label-blind IVF sign-bucket equi-join bounds the pair space "
     "(Σ bucket²); both the top-k cut and the vote argmax are Windows "
     "partitioned by src — WindowGroupLimit keeps them per-bucket; no "
     "all-pairs product anywhere."),
    ("scalar_variant_json_shredding",
     "parse_json + variant_get are row-local projections inside ONE "
     "WholeStageCodegen span over the scan; the rollup is a single "
     "partial+final HashAggregate pair."),
    ("graph_personalized_pagerank",
     "Identical plan to global PageRank (checkpointed edge list, 3 "
     "unrolled |E| hash-join rounds); personalization is a row-local "
     "CASE on the precomputed is_seed flag — no extra shuffle, no "
     "collected seed list."),
    ("similarity_binary_quantization",
     "Corpus coded in ONE WholeStageCodegen projection (64 sign CASEs "
     "fold into two long sums); Hamming is two bit_count(xor) "
     "intrinsics against broadcast queries; shortlist and rerank are "
     "per-query Windows — the corpus never shuffles."),
    ("agg_bitmap_exact_distinct_rollup",
     "Two HashAggregate pairs: ids collapse into fixed-size bucket "
     "bitmaps map-side, the final count is a popcount SUM — shuffle "
     "bytes bounded by buckets x 32 KiB per group, not row count."),
    ("similarity_mips_norm_augment",
     "Max-norm is one scalar aggregate; scoring is the broadcast-"
     "queries x corpus scan; both rank Windows share the same tiny "
     "per-query partitions — augmentation costs zero per-row work."),
    ("text_chunk_dedup_rate",
     "Chunk explode is linear in corpus tokens; digest frequencies and "
     "the mark-join share the dg key (one Exchange reused); the "
     "per-source rollup is dimension-sized."),
    ("retrieval_eval_system_comparison",
     "Both scoring sides arrive via shared_frame (InMemoryTableScan when "
     "a sibling retrieval gate already ran); ranking Windows are "
     "per-query; everything after the @10 cut is a systems x queries x "
     "10-row frame that BROADCASTS into the label-dimension joins."),
    ("join_interval_overlap_surge",
     "Interval-overlap join WITHOUT a nested loop: sessions explode to "
     "<=49 hour buckets (48h cap), surge windows broadcast as an "
     "hour->surge map, and the join is a BroadcastHashJoin on h_idx + "
     "dedup — never an inequality-only theta join."),
    ("events_holt_linear_forecast",
     "One map-side-combinable daily aggregate, then aggregate() folds a "
     "days-bounded array per type INSIDE codegen — no Python boundary, "
     "no per-iteration jobs; collect_list is calendar-bounded."),
    # round 10
    ("curation_soft_dedup_weighting",
     "ONE pass over the text column (normalize+md5 once, not once per "
     "plan arm): a partition-count window over the digest replaces the "
     "groupBy + self-join — one narrow shuffle, no join; 30x exponent "
     "0.93 -> 0.43."),
    ("stream_ann_index_upsert",
     "foreachBatch IVF maintenance (round-12 manifest protocol): per "
     "batch, ONE manifest-pruned idmap read (touched id-buckets, cached "
     "for both consumers), one manifest-pruned store read (touched "
     "coarse cells x buckets), latest-wins merge, versioned "
     "per-partition file writes by a task-side pyarrow.fs writer (no "
     "driver commit loop; a drained partition simply leaves the "
     "manifest), then ONE atomic manifest commit covering all three "
     "tables — readers see pre- or post-batch state, never between; a "
     "subtree-local directory refresh joins per-depth counts back by "
     "broadcast (<= 2^12 rows at any corpus size) — the corpus is "
     "never shuffled; rebuild-equivalence raises on violation."),
    ("similarity_standing_index_topk",
     "search over the standing index: idmap lookup pruned to the query "
     "id-buckets, multi-probe expansion driver-side (bounded strings), "
     "ONE store scan with PartitionFilters: [c8 INSET <probe cells>] "
     "(the ANN path reads <= 37/256 of the corpus), broadcast-only "
     "joins for the query/probe/count frames, per-query windows for "
     "the rerank; the brute-force hit_exact anchor is the eval-time "
     "recall baseline a production serving path would drop."),
    ("similarity_standing_index_recall_sweep",
     "recall-vs-radius over the standing index: ONE manifest-pruned "
     "scan of the radius-2 probe cells feeds all three radii (nested "
     "sets, filtered on the broadcast per-cell Hamming distance); scan "
     "volumes aggregate the metadata-sized directory; rankings are "
     "windows over per-(radius, query) candidate lists; brute-force "
     "anchor is the offline eval ground truth."),
]


def main() -> None:
    spark = get_session("explain")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.01"
    out = [
        "# PLANS — reviewed physical plans (regenerate: `python scripts/explain_flagships.py`)",
        "",
        "Every operator's docstring claims a scale property; this file shows the",
        "actual plan at sf0.01 so the claim can be checked against the physical",
        "operators. `tests/test_plans.py` pins the load-bearing ones in CI.",
        "",
    ]
    for name, prop in SHOWCASE:
        out.append(f"## {name}\n")
        out.append(f"**Property:** {prop}\n")
        if name.startswith("stream_"):
            continue
        df = registry.QUERIES[name](spark, sf)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        out.append("```\n" + plan.strip() + "\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
