"""Lake table-maintenance operators: keyed MERGE/upsert apply and a
declarative data-quality expectations audit.

- ``maintenance_merge_upsert``: the CDC-apply step every keyed lake
  table runs — a snapshot table partitioned by key bucket, an incoming
  change batch, latest-record-wins merge, and a rewrite of ONLY the
  partitions containing changed keys (dynamic partition overwrite).
  This is the parquet-native shape of Delta/Iceberg ``MERGE INTO``:
  without a transaction log the rewrite unit is the partition, so the
  merge cost scales with |touched partitions|, not table size.
- ``quality_expectations_report``: assert-style dataset expectations
  (null rates, value ranges, referential integrity) evaluated in one
  pass per table and emitted as a violations report — the
  Deequ/dbt-tests analog a production pipeline gates publishes on.

Reference parity: none — the reference is a Kinesis connector with no
table storage (SURVEY.md §2.D); driver-mandated north-star extensions.
Both fully DuckDB-oracle-gated; the merge is gated END-TO-END (the
query re-reads the physically merged table, so a broken write breaks
the hash).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..io import derived_dir, table
from ..registry import query
from ..shared import scratch_dir

_N_BUCKETS = 16
# deterministic CDC split: every 5th event is the "incoming change batch"
_CDC_PRED = "event_id % 5 = 4"


def _latest_per_user(df: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
            F.col("event_id").alias("last_event_id"),
            (F.col("user_id") % _N_BUCKETS).alias("bucket"),
        )
    )


def merge_upsert_path(spark: SparkSession, sf_dir: str) -> str:
    """Build the snapshot (non-CDC events → latest per user, partitioned
    by key bucket), then MERGE the CDC batch into it: union changed-key
    state with the snapshot, keep latest per key, and dynamic-partition-
    overwrite ONLY the buckets the CDC batch touches. A ``derived_dir``
    cache; returns the merged table path.

    The scale contract: the merge plan joins the (small) set of touched
    buckets against the snapshot READ, and the write rewrites just those
    partitions — at 100 TB with e.g. 4096 buckets a trickle of changes
    rewrites a handful of partitions, never the table. Untouched buckets
    are bit-identical files the overwrite never lists."""
    return derived_dir(
        spark, sf_dir, "user_state_merged", lambda out: _merge_upsert(spark, sf_dir, out)
    )


def _merge_upsert(spark: SparkSession, sf_dir: str, out: str) -> None:
    e = table(spark, sf_dir, "events")
    snap = _latest_per_user(e.filter(~F.expr(_CDC_PRED)))
    snap.write.mode("overwrite").partitionBy("bucket").parquet(out)

    cdc = e.filter(F.expr(_CDC_PRED))
    touched = (
        cdc.select((F.col("user_id") % _N_BUCKETS).alias("bucket")).distinct()
    )
    # merge = latest-wins over (snapshot rows in touched buckets) ∪ (cdc),
    # rewritten per touched bucket via dynamic partition overwrite
    snap_read = spark.read.option("basePath", out).parquet(out)
    snap_touched = snap_read.join(F.broadcast(touched), "bucket").select(
        "user_id",
        "last_event_type",
        "last_value",
        "last_event_id",
        "bucket",
    )
    cdc_state = _latest_per_user(cdc)
    merged = (
        snap_touched.withColumn("_src", F.lit(0))
        .unionByName(cdc_state.withColumn("_src", F.lit(1)))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("last_event_id").desc()
    )
    upserted = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "last_event_type", "last_value", "last_event_id", "bucket")
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        upserted.write.mode("overwrite").partitionBy("bucket").parquet(out)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


@query(
    "maintenance_merge_upsert",
    oracle=f"""
    WITH ranked AS (
        SELECT user_id, event_type, value, event_id,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    )
    SELECT user_id,
           event_type            AS last_event_type,
           value                 AS last_value,
           event_id              AS last_event_id,
           user_id % {_N_BUCKETS} AS bucket
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
)
def maintenance_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-state-per-key table after a partitioned MERGE apply (see
    merge_upsert_path): the query re-reads the PHYSICALLY merged parquet
    table, so the gate covers the whole write path — snapshot build, CDC
    latest-wins resolution, and the dynamic-partition overwrite. The
    oracle computes the same final state directly from the raw event
    log (latest row per user over ALL events), which the merge must
    reproduce exactly — lost updates, duplicated keys, or a clobbered
    untouched partition all break the hash."""
    path = merge_upsert_path(spark, sf_dir)
    merged = spark.read.option("basePath", path).parquet(path)
    return merged.select(
        "user_id",
        "last_event_type",
        "last_value",
        "last_event_id",
        F.col("bucket").cast("long").alias("bucket"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# quality_expectations_report
# ---------------------------------------------------------------------------

# (table, expectation name, violation predicate SQL — identical text both
# engines; a row violates when the predicate is TRUE)
_EXPECTATIONS = [
    ("orders", "o_totalprice_positive", "o_totalprice <= 0"),
    ("orders", "o_orderdate_not_null", "o_orderdate IS NULL"),
    ("lineitem", "l_quantity_in_1_50", "l_quantity < 1 OR l_quantity > 50"),
    ("lineitem", "l_discount_in_0_1", "l_discount < 0 OR l_discount > 1"),
    ("lineitem", "l_extendedprice_positive", "l_extendedprice <= 0"),
    ("customer", "c_acctbal_above_floor", "c_acctbal < -1000"),
    ("events", "value_non_negative", "value < 0"),
    ("documents", "n_chars_matches_text", "n_chars <> LENGTH(text)"),
]


@query(
    "quality_expectations_report",
    oracle="""
    """
    + "\nUNION ALL\n".join(
        f"""
    SELECT '{tbl}' AS table_name, '{name}' AS expectation,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           ROUND(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
               AS violation_rate,
           (SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) = 0) AS passed
    FROM {tbl}"""
        for tbl, name, pred in _EXPECTATIONS
    )
    + """
    UNION ALL
    SELECT 'orders' AS table_name, 'o_custkey_ref_customer' AS expectation,
           (SELECT COUNT(*) FROM orders) AS n_rows,
           (SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS n_violations,
           ROUND((SELECT COUNT(*) FROM orders o
                   WHERE NOT EXISTS (SELECT 1 FROM customer c
                                     WHERE c.c_custkey = o.o_custkey)) * 1.0
                 / (SELECT COUNT(*) FROM orders), 6) AS violation_rate,
           ((SELECT COUNT(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey)) = 0) AS passed
    ORDER BY table_name, expectation
    """,
)
def quality_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit: each expectation compiles to ONE
    conditional aggregate over its table (violations counted inside the
    same scan that counts rows — per table, all its expectations share
    one pass in a real deployment; here each is its own agg for clarity
    of the report contract), plus a referential-integrity check as a
    digest-light anti-join count. Output is the per-expectation
    violations report a pipeline would gate publishes on. At 100 TB
    every check is an embarrassingly parallel scan-agg; the referential
    check broadcasts the (small) key side or shuffles digests only."""
    parts = []
    for tbl, name, pred in _EXPECTATIONS:
        t = table(spark, sf_dir, tbl)
        viol = F.sum(F.when(F.expr(pred), 1).otherwise(0))
        parts.append(
            t.agg(
                F.count("*").alias("n_rows"),
                viol.cast("long").alias("n_violations"),
                F.round(viol * 1.0 / F.count("*"), 6).alias("violation_rate"),
                (viol == 0).alias("passed"),
            ).select(
                F.lit(tbl).alias("table_name"),
                F.lit(name).alias("expectation"),
                "n_rows",
                "n_violations",
                "violation_rate",
                "passed",
            )
        )
    # referential integrity: orders.o_custkey ⊆ customer.c_custkey
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey")
    n_orders = o.agg(F.count("*").alias("n_rows"))
    n_orphans = (
        o.select(F.col("o_custkey").alias("c_custkey"))
        .join(c, "c_custkey", "left_anti")
        .agg(F.count("*").alias("n_violations"))
    )
    ref = (
        n_orders.crossJoin(n_orphans)
        .select(
            F.lit("orders").alias("table_name"),
            F.lit("o_custkey_ref_customer").alias("expectation"),
            "n_rows",
            F.col("n_violations").cast("long").alias("n_violations"),
            F.round(F.col("n_violations") * 1.0 / F.col("n_rows"), 6).alias(
                "violation_rate"
            ),
            (F.col("n_violations") == 0).alias("passed"),
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.unionByName(ref).orderBy("table_name", "expectation")


# ---------------------------------------------------------------------------
# maintenance_table_stats — ANALYZE-style column statistics in one pass
# ---------------------------------------------------------------------------

# (table, column, kind) — numeric columns get min/max as values; strings
# get lexicographic min/max. ndv is exact here; at 100 TB swap
# count_distinct for approx_count_distinct and the shape is unchanged.
_STATS_COLS = [
    ("orders", "o_totalprice", "numeric"),
    ("orders", "o_orderpriority", "string"),
    ("lineitem", "l_quantity", "numeric"),
    ("lineitem", "l_discount", "numeric"),
    ("customer", "c_acctbal", "numeric"),
    ("customer", "c_mktsegment", "string"),
    ("events", "value", "numeric"),
    ("events", "event_type", "string"),
    ("documents", "n_chars", "numeric"),
    ("documents", "lang", "string"),
]


@query(
    "maintenance_table_stats",
    oracle="""
    """
    + "\nUNION ALL\n".join(
        f"""
    SELECT '{tbl}' AS table_name, '{col}' AS column_name,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT({col}) AS n_nulls,
           COUNT(DISTINCT {col}) AS ndv,
           CAST(MIN({col}) AS VARCHAR) AS min_value,
           CAST(MAX({col}) AS VARCHAR) AS max_value
    FROM {tbl}"""
        for tbl, col, _kind in _STATS_COLS
    ),
)
def maintenance_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE, the operator: per-column row/null/ndv/min/max
    statistics — what a cost-based optimizer (and every data-quality
    dashboard) feeds on. Each table computes ALL its column stats in ONE
    scan (conditional aggregates share the pass); min/max surface as
    strings so one report row type covers numeric and categorical
    columns.

    Scale: pure partial+final aggregates, no joins, no shuffle beyond
    the per-table single-row reduction. Exact ndv here; at 100 TB the
    same plan takes approx_count_distinct (HLL) for the high-cardinality
    columns — a one-function swap."""
    per_table: dict[str, list] = {}
    for tbl, col, _kind in _STATS_COLS:
        per_table.setdefault(tbl, []).append(col)
    parts = []
    for tbl, cols in per_table.items():
        t = table(spark, sf_dir, tbl)
        aggs = []
        for c in cols:
            aggs.extend(
                [
                    F.count("*").alias(f"{c}__n"),
                    (F.count("*") - F.count(c)).alias(f"{c}__nulls"),
                    F.countDistinct(c).alias(f"{c}__ndv"),
                    F.min(c).cast("string").alias(f"{c}__min"),
                    F.max(c).cast("string").alias(f"{c}__max"),
                ]
            )
        one = t.agg(*aggs)
        for c in cols:
            parts.append(
                one.select(
                    F.lit(tbl).alias("table_name"),
                    F.lit(c).alias("column_name"),
                    F.col(f"{c}__n").alias("n_rows"),
                    F.col(f"{c}__nulls").alias("n_nulls"),
                    F.col(f"{c}__ndv").alias("ndv"),
                    F.col(f"{c}__min").alias("min_value"),
                    F.col(f"{c}__max").alias("max_value"),
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# maintenance_table_checksum — order-independent content digests
# ---------------------------------------------------------------------------

_CK_TABLES = ["orders", "lineitem", "customer", "events", "documents"]
_CK_KEYS = {
    "orders": "o_orderkey",
    "lineitem": "l_orderkey * 16 + l_linenumber",
    "customer": "c_custkey",
    "events": "event_id",
    "documents": "doc_id",
}


@query(
    "maintenance_table_checksum",
    oracle="""
    """
    + "\nUNION ALL\n".join(
        f"""
    SELECT '{tbl}' AS table_name,
           COUNT(*) AS n_rows,
           BIT_XOR(CAST(('0x' || SUBSTR(MD5(CAST({key} AS VARCHAR)), 1, 12))
                   AS BIGINT)) AS checksum
    FROM {tbl}"""
        for tbl, key in _CK_KEYS.items()
    ),
)
def maintenance_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table content checksums: per table, the XOR of a
    48-bit md5 digest of each row's primary key — the replication /
    migration verification primitive (two replicas agree iff their
    key sets match, regardless of row order, file layout, or partition
    count, because XOR is commutative and associative). XOR-of-digests
    beats hash-of-sorted-concat at scale: no global sort, plain
    partial+final agg, and incremental (a batch's delta checksum just
    XORs in; a delete XORs back out).

    XOR (unlike the SUM variant this replaced) can never overflow: the
    accumulator stays within the 48-bit digest range at any row count.
    The SUM variant hit int64 ARITHMETIC_OVERFLOW under ANSI mode at
    ~65 K rows/table (2^63 / 2^47 at mean digest value) — lineitem at
    sf0.1 is 600 K rows. Paired with n_rows, XOR still detects any
    single-row difference and all asymmetric set differences."""
    parts = []
    for tbl in _CK_TABLES:
        t = table(spark, sf_dir, tbl)
        key = _CK_KEYS[tbl]
        digest = F.conv(
            F.substring(F.md5(F.expr(key).cast("string")), 1, 12), 16, 10
        ).cast("long")
        parts.append(
            t.agg(
                F.count("*").alias("n_rows"),
                F.bit_xor(digest).alias("checksum"),
            ).select(
                F.lit(tbl).alias("table_name"), "n_rows", "checksum"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# maintenance_partition_skew_report — hot-partition diagnosis
# ---------------------------------------------------------------------------


@query(
    "maintenance_partition_skew_report",
    oracle="""
    WITH per_day AS (
        SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               COUNT(*) AS n_rows
        FROM events GROUP BY 1
    )
    SELECT day, n_rows,
           ROUND(n_rows * 1.0 / SUM(n_rows) OVER (), 4) AS pct_of_total,
           ROUND(n_rows * 1.0 / AVG(n_rows) OVER (), 4) AS skew_vs_mean,
           ROUND(n_rows * 1.0 / AVG(n_rows) OVER (), 4) > 1.5 AS is_hot
    FROM per_day
    """,
)
def maintenance_partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew diagnosis over the events table's natural partition
    key (event day): per-partition row counts, share of total, ratio to
    the mean partition, and a hot flag (>1.5x mean) — the report a data
    platform runs BEFORE choosing salting, AQE skew thresholds, or a
    different partition scheme. Detecting the skew is the prerequisite to
    every mitigation this repo ships (join_salted_skew_join,
    agg_salted_two_phase, AQE skew-join in session.py).

    Scale shape: one partial+final count per day (the same cost as any
    ingest metric), then the totals join back as a broadcast single row —
    the report is metadata-sized no matter how big the table is. The hot
    flag compares the ROUNDED ratio in both engines so the gate has no
    float-boundary ambiguity."""
    e = table(spark, sf_dir, "events")
    per_day = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("n_rows")
    )
    totals = per_day.agg(
        F.sum("n_rows").alias("total"), F.avg("n_rows").alias("mean")
    )
    skew = F.round(F.col("n_rows") / F.col("mean"), 4)
    return per_day.crossJoin(F.broadcast(totals)).select(
        "day",
        "n_rows",
        F.round(F.col("n_rows") / F.col("total"), 4).alias("pct_of_total"),
        skew.alias("skew_vs_mean"),
        (skew > 1.5).alias("is_hot"),
    )


# ---------------------------------------------------------------------------
# quality_psi_drift_report — population-stability-index distribution drift
# ---------------------------------------------------------------------------

# PSI over 10 fixed value bands between the two halves of the window;
# the conventional alert threshold is PSI > 0.1 ("noticeable shift").
# All float math is quantized to integer micro-nats before any
# aggregation (the curation_importance_weights discipline), so the
# cross-engine gate has no summation-order or LN-last-ulp exposure and
# the drift flag is an exact integer compare.
_PSI_SPLIT = "2024-01-16"
_PSI_BANDS = 10
_PSI_FLAG_U = 100_000     # 0.1 in micro-nats


@query(
    "quality_psi_drift_report",
    oracle=f"""
    WITH banded AS (
        SELECT event_type,
               CASE WHEN ts < TIMESTAMP '{_PSI_SPLIT}' THEN 'p1' ELSE 'p2' END AS period,
               LEAST(GREATEST(CAST(FLOOR(value / 10) AS BIGINT), 0), {_PSI_BANDS - 1}) AS band,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2, 3
    ), wide AS (
        SELECT event_type, band,
               SUM(CASE WHEN period = 'p1' THEN n ELSE 0 END) AS n1,
               SUM(CASE WHEN period = 'p2' THEN n ELSE 0 END) AS n2
        FROM banded GROUP BY 1, 2
    ), tot AS (
        SELECT event_type, SUM(n1) AS t1, SUM(n2) AS t2 FROM wide GROUP BY 1
    ), terms AS (
        SELECT w.event_type,
               CAST(FLOOR(
                 (CAST(w.n2 + 1 AS DOUBLE) / (t.t2 + {_PSI_BANDS})
                  - CAST(w.n1 + 1 AS DOUBLE) / (t.t1 + {_PSI_BANDS}))
                 * LN((CAST(w.n2 + 1 AS DOUBLE) / (t.t2 + {_PSI_BANDS}))
                      / (CAST(w.n1 + 1 AS DOUBLE) / (t.t1 + {_PSI_BANDS})))
                 * 1000000 + 0.5) AS BIGINT) AS term_u
        FROM wide w JOIN tot t USING (event_type)
    )
    SELECT event_type,
           FLOOR(CAST(SUM(term_u) AS DOUBLE) / 100.0 + 0.5) / 10000.0 AS psi,
           SUM(term_u) > {_PSI_FLAG_U} AS drifted
    FROM terms GROUP BY event_type
    """,
)
def quality_psi_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type between the two halves
    of the observation window — the standard ML-monitoring drift gauge
    for a feature's distribution (PSI > 0.1 = noticeable shift, > 0.25 =
    act). Computed over 10 fixed value bands with add-one smoothing so
    empty bands stay defined.

    Scale shape: the fact table collapses to |types| × |bands| × 2
    counts in ONE hash-aggregate pass; every later step runs on that
    bounded table. Parity: each PSI term is quantized to integer
    micro-nats BEFORE the per-type sum (exact int64 arithmetic,
    order-independent), and the drift flag compares quantized sums as
    integers — no float boundary can flip the gate."""
    e = table(spark, sf_dir, "events")
    banded = e.groupBy(
        "event_type",
        F.when(F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp"), "p1")
        .otherwise("p2")
        .alias("period"),
        F.least(
            F.greatest(F.floor(F.col("value") / 10).cast("bigint"), F.lit(0)),
            F.lit(_PSI_BANDS - 1),
        ).alias("band"),
    ).agg(F.count("*").alias("n"))
    wide = banded.groupBy("event_type", "band").agg(
        F.sum(F.when(F.col("period") == "p1", F.col("n")).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("period") == "p2", F.col("n")).otherwise(0)).alias("n2"),
    )
    tot = wide.groupBy("event_type").agg(
        F.sum("n1").alias("t1"), F.sum("n2").alias("t2")
    )
    p1 = (F.col("n1") + 1).cast("double") / (F.col("t1") + _PSI_BANDS)
    p2 = (F.col("n2") + 1).cast("double") / (F.col("t2") + _PSI_BANDS)
    terms = wide.join(F.broadcast(tot), "event_type").select(
        "event_type",
        F.floor((p2 - p1) * F.log(p2 / p1) * 1000000 + 0.5)
        .cast("bigint")
        .alias("term_u"),
    )
    return terms.groupBy("event_type").agg(
        (F.floor(F.sum("term_u").cast("double") / 100.0 + 0.5) / 10000.0).alias(
            "psi"
        ),
        (F.sum("term_u") > _PSI_FLAG_U).alias("drifted"),
    )


# ---------------------------------------------------------------------------
# maintenance_manifest_orphans — manifest vs physical-listing reconciliation
# ---------------------------------------------------------------------------


@query(
    "maintenance_manifest_orphans",
    oracle="""
    SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_manifest_files,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) + 2 AS BIGINT) AS n_disk_files,
           CAST(2 AS BIGINT)  AS n_orphans,
           CAST(0 AS BIGINT)  AS n_missing,
           COUNT(*)           AS n_live_rows,
           TRUE               AS manifest_covers_all_live
    FROM events
    """,
)
def maintenance_manifest_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest reconciliation — the audit every manifest-tracked lake runs
    before vacuuming: list the physical files under the table root, diff
    against the manifest, and report orphans (on disk, not in the
    manifest: crashed-writer leftovers, failed-commit temp output) and
    missing files (in the manifest, gone from disk: corruption — must be
    zero before any cleanup is allowed to delete).

    The fixture plants exactly two orphans (a `.tmp` staging file and an
    un-committed parquet) next to a one-file-per-day table whose manifest
    is derived from the physical layout at build time; the oracle pins the
    invariants — |manifest| = |days|, 2 orphans, 0 missing, all live rows
    covered. The diff itself is two LEFT ANTI JOINs over file-name frames
    (O(|files|), dimension-sized — never touches row data), so the same
    plan reconciles a million-file table: the listing comes from the
    filesystem/catalog, the row counts from the manifest, not a scan."""
    orphans = ["part-orphan-000.parquet.tmp", "part-orphan-001.parquet"]

    def build(out: str) -> None:
        (
            table(spark, sf_dir, "events")
            .withColumn("event_date", F.to_date("ts"))
            .repartition("event_date")
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(out)
        )
        orphan_dir = os.path.join(out, "event_date=1999-01-01")
        os.makedirs(orphan_dir)
        for name in orphans:
            with open(os.path.join(orphan_dir, name), "wb") as f:
                f.write(b"not a committed file")

    # DEDICATED table: the fixture plants junk files, so it must never
    # share a directory with tables other queries glob-scan (planting
    # orphans into the shared compacted table broke two layout queries'
    # footer inference — measured in the round-6 full run)
    out = derived_dir(spark, sf_dir, "manifest_audit", build)

    # manifest: the file set of the committed table (derived once from the
    # physical layout via input_file_name — in a real lake this is the
    # manifest the commit protocol wrote; rebuilding it here keeps the
    # fixture self-contained). The committed partitions are enumerated on
    # the driver (catalog-sized listing) so the scan never opens the
    # planted junk files — exactly how a real reader trusts the manifest
    # rather than globbing the table root.
    day_dirs = [
        os.path.join(out, d)
        for d in sorted(os.listdir(out))
        if d.startswith("event_date=") and d != "event_date=1999-01-01"
    ]
    committed = spark.read.option("basePath", out).parquet(*day_dirs)
    manifest = committed.groupBy(F.input_file_name().alias("file")).agg(
        F.count("*").alias("m_rows")
    )
    # physical listing (filesystem walk — catalog-sized, not data-sized)
    disk_files = []
    for root, _dirs, files in os.walk(out):
        for fn in files:
            if fn.startswith(("_", ".")):
                continue
            disk_files.append(("file://" + os.path.join(root, fn),))
    disk = spark.createDataFrame(disk_files, "file string")

    orphans_df = disk.join(manifest.select("file"), "file", "left_anti")
    missing_df = manifest.select("file").join(disk, "file", "left_anti")
    live_rows = manifest.agg(
        F.coalesce(F.sum("m_rows"), F.lit(0)).alias("n_live_rows")
    )
    counts = (
        manifest.agg(F.count("*").alias("n_manifest_files"))
        .crossJoin(F.broadcast(disk.agg(F.count("*").alias("n_disk_files"))))
        .crossJoin(F.broadcast(orphans_df.agg(F.count("*").alias("n_orphans"))))
        .crossJoin(F.broadcast(missing_df.agg(F.count("*").alias("n_missing"))))
        .crossJoin(F.broadcast(live_rows))
    )
    return counts.select(
        "n_manifest_files",
        "n_disk_files",
        "n_orphans",
        "n_missing",
        "n_live_rows",
        (F.col("n_missing") == 0).alias("manifest_covers_all_live"),
    )


# compaction planner: target rewrite-group size in "bytes" (n_chars is the
# byte proxy the documents fixture carries); small at test SF so each
# source yields a handful of groups — at scale this is a per-partition
# catalog computation and the constant is the table's target file size
_COMPACT_TARGET = 2048
_COMPACT_SMALL = 3   # a group with fewer files than this needs no rewrite


@query(
    "maintenance_compaction_planner",
    oracle=f"""
    WITH files AS (
        SELECT source, doc_id, n_chars,
               COALESCE(SUM(n_chars) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS bytes_before
        FROM documents
    ), planned AS (
        SELECT source, CAST(bytes_before // {_COMPACT_TARGET} AS BIGINT) AS group_id,
               doc_id, n_chars
        FROM files
    )
    SELECT source, group_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_chars) AS BIGINT) AS group_bytes,
           CAST(MIN(doc_id) AS BIGINT) AS first_file,
           CAST(MAX(doc_id) AS BIGINT) AS last_file,
           COUNT(*) >= {_COMPACT_SMALL} AS rewrite
    FROM planned
    GROUP BY source, group_id
    ORDER BY source, group_id
    """,
)
def maintenance_compaction_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction PLANNER (the Iceberg ``rewrite_data_files``
    bin-pack step, planning side): within each partition, assign files to
    ≈{_COMPACT_TARGET}-byte rewrite groups by cumulative-quota binning —
    group = ⌊bytes_before_this_file / target⌋ over the files in id order —
    and report per-group file counts, bytes and the rewrite-worthiness
    flag. ``documents`` stands in for the file manifest (doc_id = file id,
    n_chars = file bytes, source = partition), the same catalog-sized
    frame ``maintenance_manifest_orphans`` reconciles.

    Why this binning: first-fit bin packing is inherently sequential, but
    the cumulative-quota form is ONE window pass (prefix sum → integer
    division), deterministic, and within one file of first-fit's group
    boundaries — the standard planner compromise. At 100 TB the input is
    the manifest (files, not data), so the window partitions are
    per-table-partition file lists — thousands of rows, not billions;
    the actual data rewrite this plan drives is the separate execution
    step (layout_compact_small_files).

    Determinism: group boundaries are integer FLOOR divisions of exact
    integer prefix sums — no float anywhere."""
    docs = table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.coalesce(F.sum("n_chars").over(w), F.lit(0)).alias("bytes_before"),
    ).select(
        "source",
        F.expr(f"bytes_before DIV {_COMPACT_TARGET}").alias("group_id"),
        "doc_id",
        "n_chars",
    )
    return (
        planned.groupBy("source", "group_id")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("n_chars").alias("group_bytes"),
            F.min("doc_id").alias("first_file"),
            F.max("doc_id").alias("last_file"),
        )
        .select(
            "source",
            "group_id",
            "n_files",
            "group_bytes",
            "first_file",
            "last_file",
            (F.col("n_files") >= _COMPACT_SMALL).alias("rewrite"),
        )
        .orderBy("source", "group_id")
    )


# ---------------------------------------------------------------------------
# maintenance_schema_evolution_audit — mergeSchema across snapshot versions
# ---------------------------------------------------------------------------

# v1 snapshot = even event_ids written WITHOUT the value column (the
# pre-evolution schema); v2 = odd event_ids with the full schema


@query(
    "maintenance_schema_evolution_audit",
    oracle="""
    WITH evolved AS (
        SELECT event_id, event_type,
               CASE WHEN event_id % 2 = 1 THEN value END AS value
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)                     AS n_rows,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                                                        AS n_legacy_rows,
           CAST(SUM(CASE WHEN value IS NOT NULL
                         THEN CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                         ELSE 0 END) AS BIGINT)         AS evolved_cents
    FROM evolved
    GROUP BY event_type
    """,
)
def maintenance_schema_evolution_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read audit: a table directory holding parquet files
    written under TWO schema versions (v1 lacks the later-added ``value``
    column) is read back with ``mergeSchema`` — Spark's schema-on-read
    union — and the audit reports, per event type, how many rows are
    pre-evolution (NULL-filled for the new column) and the aggregate over
    the rows that do carry it. This is the first operational question
    after any additive column migration on a lake table: how much of the
    table still needs backfill, and is the evolved data flowing.

    Gated END-TO-END: the query physically writes both snapshot versions
    and re-reads the merged directory, so a wrong merge (dropped column,
    misaligned fill) breaks the hash against plain SQL over the source.

    Scale shape: mergeSchema unions footers at planning time (file-count
    work, not data); the audit itself is one conditional hash-agg. Parquet
    column pruning still applies per file — v1 files simply have no pages
    for the new column."""
    e = table(spark, sf_dir, "events")
    base = scratch_dir("schema_evo")
    # v1: the pre-evolution schema (no value column)
    e.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "event_type"
    ).write.mode("overwrite").parquet(os.path.join(base, "v1"))
    # v2: the evolved schema
    e.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "event_type", "value"
    ).write.mode("overwrite").parquet(os.path.join(base, "v2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "v1"), os.path.join(base, "v2")
    )
    return merged.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_legacy_rows"),
        F.sum(
            F.when(
                F.col("value").isNotNull(),
                F.floor(F.col("value") * 100.0 + 0.5).cast("long"),
            ).otherwise(0)
        ).alias("evolved_cents"),
    )


# ---------------------------------------------------------------------------
# maintenance_incremental_view_refresh — materialized-view DELTA maintenance
# ---------------------------------------------------------------------------

# base/delta split: the first ~80% of events (by id hash-free modulo) are
# the standing materialized view's input; the last fifth arrives later as
# the refresh batch
_IVR_BASE_PRED = "event_id % 5 <> 4"
_IVR_DELTA_PRED = "event_id % 5 = 4"


@query(
    "maintenance_incremental_view_refresh",
    oracle="""
    SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
    FROM events
    GROUP BY 1, 2
    """,
)
def maintenance_incremental_view_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance — the lakehouse primitive
    behind every aggregate serving table: a daily per-type rollup is
    physically materialized from the standing corpus (80% of events), a
    later delta batch (the remaining fifth) arrives, and the refresh
    MERGES partial aggregates (additive: counts and integer cents) into
    the snapshot instead of recomputing from the base table. Gated
    END-TO-END against the full recompute over ALL events: the query
    re-reads the physically refreshed view, so a wrong merge (dropped
    group, double count, missed new group) breaks the hash.

    The delta path is a full-outer combine on the view's OWN grain
    (|days|×|types| rows on both sides — metadata-sized), so refresh
    cost scales with the AGGREGATE's cardinality plus the delta scan,
    never with the standing corpus; this is exactly why serving rollups
    stay cheap to keep fresh at 100 TB while full recompute grows with
    history. Additivity is guaranteed by integer measures (exact cents
    via the shared FLOOR idiom) — float partial sums would make the
    merged view diverge from recompute by summation order.

    Both snapshots are written to a fresh ``scratch_dir`` each run —
    rerunnable, no cross-query state."""
    e = table(spark, sf_dir, "events")
    rollup_cols = [
        F.to_date("ts").alias("day"),
        "event_type",
    ]

    def _agg(df: DataFrame) -> DataFrame:
        return df.groupBy(*rollup_cols).agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                F.floor(F.col("value") * 100.0 + 0.5).cast("long")
            ).cast("long").alias("cents"),
        )

    base = scratch_dir("ivr_view")
    path, refreshed_path = os.path.join(base, "view"), os.path.join(base, "refreshed")
    # 1) materialize the standing view from the base corpus
    _agg(e.filter(_IVR_BASE_PRED)).write.mode("overwrite").parquet(path)
    # 2) incremental refresh: aggregate ONLY the delta, merge partials
    snapshot = spark.read.parquet(path)
    delta = _agg(e.filter(_IVR_DELTA_PRED))
    refreshed = (
        snapshot.select("day", "event_type", "n", "cents")
        .unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )
    refreshed.write.mode("overwrite").parquet(refreshed_path)
    # 3) serve from the refreshed physical view
    return spark.read.parquet(refreshed_path).select(
        "day", "event_type", "n", "cents"
    )


# ---------------------------------------------------------------------------
# maintenance_delete_vectors_mor — merge-on-read deletes + compaction parity
# ---------------------------------------------------------------------------


@query(
    "maintenance_delete_vectors_mor",
    oracle="""
    SELECT p.read_path, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events e
    CROSS JOIN (VALUES ('mor'), ('compacted')) AS p(read_path)
    -- IS DISTINCT FROM: the engine's anti-join deletes only rows whose
    -- event_type = 'error'; NULL-typed rows are KEPT on both sides
    -- (a bare <> would silently drop them from the oracle only)
    WHERE e.event_type IS DISTINCT FROM 'error'
    GROUP BY p.read_path, e.event_type
    """,
)
def maintenance_delete_vectors_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETEs via delete vectors + compaction equivalence —
    the Iceberg/Delta deletion-vector lifecycle on plain parquet: a
    delete marks keys in a sidecar file instead of rewriting data files
    (O(deleted keys) write, not O(table)), every read applies the sidecar
    as an anti-join, and a later compaction rewrites the base WITH the
    deletes folded in and drops the sidecar. The gate proves the
    equivalence contract both table formats rest on: MoR read ==
    compacted read == plain SQL with the predicate, per group, exactly.

    Here the 'DELETE' drops all error events; the sidecar holds their
    event_ids. Both read paths are returned side by side, labeled, so a
    divergence (a key missed by the anti-join, a compaction that dropped
    or duplicated a row) breaks the per-path oracle hash.

    Scale shape: the delete sidecar is usually dimension-sized —
    broadcast anti-join on the scan, zero shuffle of the base; when it
    isn't, the anti-join shuffles ONCE on the key, still never rewriting
    the base. Compaction is an embarrassingly parallel partition rewrite
    whose cost is paid once to restore sidecar-free scan speed — the
    standard MoR → CoW trade.

    Reference parity: none (connector has no table maintenance); this is
    the lakehouse-maintenance surface of SURVEY §2.D file sinks."""
    schema = "event_id long, ts timestamp, event_type string, value double"

    def _mor(d: str) -> DataFrame:
        # merge-on-read: base minus sidecar at scan time
        base = spark.read.schema(schema).parquet(os.path.join(d, "base"))
        deletes = spark.read.schema("event_id long").parquet(os.path.join(d, "deletes"))
        return base.join(F.broadcast(deletes), "event_id", "left_anti")

    def build(d: str) -> None:
        table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        ).write.mode("overwrite").parquet(os.path.join(d, "base"))
        spark.read.schema(schema).parquet(os.path.join(d, "base")).filter(
            F.col("event_type") == "error"
        ).select("event_id").write.mode("overwrite").parquet(os.path.join(d, "deletes"))
        # compaction: fold the deletes into a rewritten base, sidecar retired
        _mor(d).write.mode("overwrite").parquet(os.path.join(d, "compacted"))

    d = derived_dir(spark, sf_dir, "delete_vectors", build)
    mor = _mor(d)
    compacted = spark.read.schema(schema).parquet(os.path.join(d, "compacted"))

    def _agg(df: DataFrame, label: str) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")).alias(
                "total_cents"
            ),
        ).select(F.lit(label).alias("read_path"), "*")

    return _agg(mor, "mor").unionByName(_agg(compacted, "compacted"))
