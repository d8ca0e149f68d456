"""Data-layout operators: bucketed co-located joins and partition-pruned
scans — the two storage-side levers that matter most at 100 TB.

- ``layout_bucketed_join``: both join sides written as bucketed tables on
  the join key (same bucket count, one file per bucket, sorted). The join
  then runs WITHOUT either Exchange: at lake scale this converts the
  single most expensive repeated cost of a star-schema workload — the
  fact-table shuffle, re-paid by every query that joins on the same key —
  into a one-time layout cost at ingest. The plan is pinned shuffle-free
  in tests/test_layout.py.
- ``layout_partition_pruning``: the fact table written partitioned by
  day; a date-range query then lists only the matching directories
  (PartitionFilters) and never opens the other files. At 100 TB with
  ~daily partitions this is the difference between scanning everything
  and scanning the queried week.

Reference parity: none — the reference has no file storage at all
(SURVEY.md §2.D: file scans/sinks ABSENT, supplied by Spark built-ins).
Every re-laid-out copy is an ``io.derived_dir`` cache: keyed on the sf
dir's real path and table files plus the package sources, so two scale
factors, two data sets or two trees never share a copy.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions import MONEY_CENTS_DUCK, money_cents
from ..io import derived_dir, derived_key, table
from ..registry import query

_BUCKETS = 16


def _bucketed(spark: SparkSession, sf_dir: str, name: str, key: str) -> DataFrame:
    """Materialize ``name`` as a bucketed+sorted catalog table and return
    it. The files are a ``derived_dir`` cache; the external catalog table
    over them, named from the same key, is re-registered per session.

    ``repartition(_BUCKETS, key)`` uses the same Murmur3 hash as the
    bucket spec, so every write task holds exactly one bucket and emits
    exactly one (sorted) file per bucket — the layout the scan-side
    bucketing optimization requires to drop both the Exchange and the
    Sort under a sort-merge join."""
    layout = f"{name}_by_{key}"
    tbl = f"aks_{derived_key(sf_dir, layout)}"

    def build(path: str) -> None:
        (
            table(spark, sf_dir, name)
            .repartition(_BUCKETS, key)
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(_BUCKETS, key)
            .sortBy(key)
            .option("path", path)
            .saveAsTable(tbl)
        )

    path = derived_dir(spark, sf_dir, layout, build)
    if not spark.catalog.tableExists(tbl):
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in spark.read.parquet(path).schema
        )
        spark.sql(
            f"CREATE TABLE {tbl} ({cols}) USING parquet "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {_BUCKETS} BUCKETS "
            f"LOCATION '{path}'"
        )
    return spark.table(tbl)


def bucketed_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bare bucketed join (pre-aggregation), exposed so tests can pin
    the exchange-free plan of exactly the join stage."""
    orders = _bucketed(spark, sf_dir, "orders", "o_custkey")
    customer = _bucketed(spark, sf_dir, "customer", "c_custkey")
    # "merge" hint: at test SFs customer fits a broadcast, which would
    # mask the layout; at lake scale both sides are too big to broadcast
    # and SMJ-over-buckets is the plan this operator exists to guarantee.
    return orders.hint("merge").join(
        customer, orders["o_custkey"] == customer["c_custkey"]
    )


@query(
    "layout_bucketed_join",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*)                              AS n_orders,
           ROUND(SUM(o.o_totalprice), 2)         AS total_spend
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def layout_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment order totals over a shuffle-free bucketed join:
    both sides pre-hashed into the same 16 buckets on the customer key, so
    the sort-merge join reads co-located sorted buckets directly — zero
    Exchange, zero Sort in the join stage. Only the final (tiny,
    |segments|-key) aggregate shuffles."""
    j = bucketed_join_frame(spark, sf_dir)
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        )
        .orderBy("c_mktsegment")
    )


def partitioned_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Write events partitioned by day (a ``derived_dir`` cache) and
    return the path. Partition values become directory names, so the
    date-range scan below prunes at file-listing time."""

    def build(out: str) -> None:
        (
            table(spark, sf_dir, "events")
            .withColumn("event_date", F.to_date("ts"))
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(out)
        )

    return derived_dir(spark, sf_dir, "events_by_date", build)


def _compacted_events_path(spark: SparkSession, sf_dir: str) -> str:
    """The day-partitioned events rewritten one file per day (a
    ``derived_dir`` cache)."""
    src = partitioned_events_path(spark, sf_dir)

    def build(out: str) -> None:
        (
            spark.read.option("basePath", src).parquet(src)
            .repartition("event_date")
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(out)
        )

    return derived_dir(spark, sf_dir, "events_compacted", build)


@query(
    "layout_partition_pruning",
    oracle="""
    WITH dated AS (
        SELECT CAST(ts AS DATE) AS event_date, event_type, value FROM events
    ), bounds AS (
        SELECT MIN(event_date) AS d0 FROM dated
    )
    SELECT event_date, event_type,
           COUNT(*)               AS n,
           ROUND(SUM(value), 2)   AS total_value
    FROM dated, bounds
    WHERE event_date BETWEEN d0 AND d0 + INTERVAL 6 DAY
    GROUP BY event_date, event_type
    ORDER BY event_date, event_type
    """,
)
def layout_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-week daily activity over a day-partitioned copy of events.
    The date-range predicate is a PartitionFilter: Spark prunes the
    directory listing to the 7 matching ``event_date=...`` partitions and
    never reads the rest — no per-row filtering work, no I/O on excluded
    days. The week's start is resolved from the source table min (a
    scalar), then folded into the partition filter as literals."""
    path = partitioned_events_path(spark, sf_dir)
    d0 = table(spark, sf_dir, "events").agg(F.min(F.to_date("ts"))).first()[0]
    df = spark.read.parquet(path)
    return (
        df.filter(
            (F.col("event_date") >= F.lit(d0))
            & (F.col("event_date") <= F.date_add(F.lit(d0), 6))
        )
        .groupBy("event_date", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .orderBy("event_date", "event_type")
    )


@query(
    "layout_compact_small_files",
    oracle="""
    WITH dated AS (
        SELECT CAST(ts AS DATE) AS event_date FROM events
    )
    SELECT event_date,
           COUNT(*) AS n_rows,
           TRUE     AS compacted_to_one_file
    FROM dated
    GROUP BY event_date
    """,
)
def layout_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the lake-maintenance job every streaming
    ingest needs: each micro-batch appends a file per task per partition,
    and a month of 1-minute triggers turns a day's data into tens of
    thousands of kilobyte files whose open/list overhead dominates scans.
    Compaction rewrites each day partition with one task
    (repartition(partition key) → one file per day here;
    maxRecordsPerFile bounds it at real scale), after which the day scans
    at full sequential throughput.

    Gated end-to-end: the query rewrites the day-partitioned events table
    compacted, re-reads the COMPACTED copy, and emits per-day row counts
    plus a boolean asserting the partition really is one file — row loss,
    duplication, or failed compaction all break the hash against the
    plain events oracle."""
    out = _compacted_events_path(spark, sf_dir)
    compacted = spark.read.option("basePath", out).parquet(out)
    # One-file check runs INSIDE the scan via input_file_name(): works
    # identically on local FS and object stores (no driver-side directory
    # listing), and folds into the same per-day aggregate — one pass, no
    # extra join.
    return (
        # input_file_name() must be projected before the aggregate (Spark
        # bars nondeterministic expressions inside agg functions)
        compacted.select("event_date", F.input_file_name().alias("_file"))
        .groupBy("event_date")
        .agg(
            F.count("*").alias("n_rows"),
            (F.countDistinct("_file") == F.lit(1)).alias("compacted_to_one_file"),
        )
        .select("event_date", "n_rows", "compacted_to_one_file")
    )


# ---------------------------------------------------------------------------
# scan_formats_roundtrip — csv/json/orc sinks+scans, driver-gated
# ---------------------------------------------------------------------------

_RT_FORMATS = ("parquet", "csv", "json", "orc")
_RT_SCHEMA = (
    "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate timestamp"
)


@query(
    "scan_formats_roundtrip",
    oracle=f"""
    SELECT f.fmt,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT o_orderkey) AS n_orders,
           CAST(SUM({MONEY_CENTS_DUCK.format(col="o_totalprice")}) AS DOUBLE)
               / 100.0 AS total_price,
           MAX(o_orderdate) AS max_date
    FROM orders
    CROSS JOIN (VALUES ('parquet'), ('csv'), ('json'), ('orc')) AS f(fmt)
    GROUP BY f.fmt
    """,
)
def scan_formats_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every file sink+scan format the engine ships, gated end-to-end in
    one query: orders is written to csv, json, and orc copies (explicit
    schema on read-back — the production posture; inference is a
    double-scan and a type lottery), each copy is re-read and aggregated,
    and all four formats (parquet = the source itself) must produce the
    IDENTICAL aggregate — a lossy round trip (timestamp truncation, float
    formatting, null mangling) breaks the per-format hash against the
    oracle.

    Scale: each write/read is an embarrassingly parallel format
    transcode; the aggregates are plain partial+final hash-aggs."""
    src = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        # parquet NTZ → LTZ: pure type change under the UTC session tz,
        # and the one timestamp flavor all four formats round-trip
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
    )

    def build(base: str) -> None:
        for fmt in _RT_FORMATS[1:]:
            w = src.write.mode("overwrite").format(fmt)
            if fmt == "csv":
                w = w.option("header", "true")
            w.save(os.path.join(base, fmt))

    base = derived_dir(spark, sf_dir, "orders_roundtrip", build)
    outs = {"parquet": src}
    for fmt in _RT_FORMATS[1:]:
        r = spark.read.format(fmt).schema(_RT_SCHEMA)
        if fmt == "csv":
            r = r.option("header", "true")
        outs[fmt] = r.load(os.path.join(base, fmt))
    parts = []
    for fmt, df in outs.items():
        parts.append(
            df.agg(
                F.count("*").alias("n_rows"),
                F.countDistinct("o_orderkey").alias("n_orders"),
                (
                    F.sum(money_cents(F.col("o_totalprice"))).cast("double")
                    / F.lit(100.0)
                ).alias("total_price"),
                F.max("o_orderdate").alias("max_date"),
            ).select(F.lit(fmt).alias("fmt"), "*")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# maintenance_retention_vacuum — partition-level TTL expiry, gated end-to-end
# ---------------------------------------------------------------------------

_RETENTION_DAYS = 21  # keep the first N days of the event log


@query(
    "maintenance_retention_vacuum",
    oracle=f"""
    WITH dated AS (
        SELECT CAST(ts AS DATE) AS event_date, event_type, value FROM events
    ), bounds AS (
        SELECT MIN(event_date) AS d0 FROM dated
    )
    SELECT event_date, event_type,
           COUNT(*)             AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM dated, bounds
    WHERE event_date < d0 + INTERVAL {_RETENTION_DAYS} DAY
    GROUP BY event_date, event_type
    """,
)
def maintenance_retention_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention/TTL expiry as a PARTITION-level operation: a copy of the
    day-partitioned event log is vacuumed down to its first
    {_RETENTION_DAYS} days by deleting whole expired partitions — never
    rewriting retained data. The expired set is decided from the
    partition COLUMN (a metadata-only listing scan: `.select(partition
    col).distinct()` reads directory names, zero data files), which is
    what makes TTL on a 100 TB log an O(|partitions|) control-plane
    operation instead of an O(data) rewrite; on an object store the
    per-partition delete maps to the same prefix-delete a Hadoop
    FS/catalog DROP PARTITION issues.

    Gated end-to-end: the query re-reads the VACUUMED copy and must match
    the oracle's date-filtered aggregate over raw events — deleting a
    retained partition, keeping an expired one, or touching row data all
    break the hash."""
    import shutil

    src = partitioned_events_path(spark, sf_dir)

    def build(out: str) -> None:
        shutil.copytree(src, out)
        part_df = spark.read.option("basePath", out).parquet(out)
        # metadata-only: distinct partition values come from directory
        # names, no data-file reads
        days = sorted(
            r.event_date
            for r in part_df.select("event_date").distinct().collect()
        )
        cutoff = days[0] + __import__("datetime").timedelta(
            days=_RETENTION_DAYS
        )
        for d in days:
            if d >= cutoff:
                shutil.rmtree(os.path.join(out, f"event_date={d}"))

    out = derived_dir(spark, sf_dir, "events_retained", build)
    retained = spark.read.option("basePath", out).parquet(out)
    return (
        retained.groupBy(
            F.col("event_date"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select("event_date", "event_type", "n", "total_value")
    )


# ---------------------------------------------------------------------------
# layout_manifest_zonemap — manifest + zone-map table over the compacted log
# ---------------------------------------------------------------------------


@query(
    "layout_manifest_zonemap",
    oracle="""
    WITH dated AS (
        SELECT CAST(ts AS DATE) AS event_date, ts, user_id FROM events
    )
    SELECT event_date,
           1 AS n_files,
           COUNT(*) AS n_rows,
           MIN(ts) AS min_ts,
           MAX(ts) AS max_ts,
           MIN(user_id) AS min_user,
           MAX(user_id) AS max_user
    FROM dated GROUP BY event_date
    """,
)
def layout_manifest_zonemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest + zone-map construction — the Iceberg/Delta-manifest-lite
    a parquet lake keeps so planners can skip files without opening them:
    per partition of the COMPACTED event log, the file count and the
    min/max "zones" of the scan-predicate columns (ts, user_id). The
    query builds it from the physical table (``input_file_name()``
    grouping, so multi-file partitions are counted honestly) and the
    oracle derives the same zones from the raw log — a compaction bug,
    row loss, or a zone that doesn't cover its partition all break the
    hash.

    Scale: one pass over the table, partial+final agg keyed by
    (partition, file); the manifest output is O(|files|), the whole
    point — planners read IT, not the data."""
    # the compaction operator's one-file-per-day table
    out = _compacted_events_path(spark, sf_dir)
    compacted = spark.read.option("basePath", out).parquet(out)
    per_file = (
        compacted.select(
            "event_date", F.input_file_name().alias("_file"), "ts", "user_id"
        )
        .groupBy("event_date", "_file")
        .agg(
            F.count("*").alias("f_rows"),
            F.min("ts").alias("f_min_ts"),
            F.max("ts").alias("f_max_ts"),
            F.min("user_id").alias("f_min_user"),
            F.max("user_id").alias("f_max_user"),
        )
    )
    return per_file.groupBy("event_date").agg(
        F.count("*").cast("int").alias("n_files"),
        F.sum("f_rows").alias("n_rows"),
        F.min("f_min_ts").alias("min_ts"),
        F.max("f_max_ts").alias("max_ts"),
        F.min("f_min_user").alias("min_user"),
        F.max("f_max_user").alias("max_user"),
    )


# ---------------------------------------------------------------------------
# layout_sorted_write_clustering — ORDER-BY-on-write + zone disjointness audit
# ---------------------------------------------------------------------------

_SW_FILES = 8


@query(
    "layout_sorted_write_clustering",
    oracle=f"""
    SELECT TRUE            AS files_within_budget,
           COUNT(*)        AS n_rows,
           CAST(0 AS BIGINT) AS n_overlapping_pairs,
           TRUE            AS zones_disjoint,
           TRUE            AS rows_preserved
    FROM events
    """,
)
def layout_sorted_write_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY on write — the single-column clustering everyone ships
    before reaching for Z-order: events range-partitioned and sorted by
    user_id into {_SW_FILES} files, then AUDITED from the physical table:
    per-file user_id zones (min/max from input_file_name() grouping) must
    be pairwise DISJOINT, and no row may be lost. Disjoint zones are what
    make a planner's min/max pruning perfect for user_id predicates —
    each point lookup opens exactly one file.

    The audit booleans are engine-computed from the written parquet (the
    oracle pins the expected invariants — same discipline as the sketch
    tolerance gates): n_overlapping_pairs counts zone-range intersections
    across the |files|² grid (tiny), rows_preserved compares against the
    source count. repartitionByRange samples range boundaries — the
    boundaries themselves are an implementation detail, so the audit pins
    the INVARIANT (disjointness + completeness), not the cut points. The
    file count is likewise gated as a budget boolean (1 ≤ n ≤ {_SW_FILES})
    rather than an exact constant: repartitionByRange writes no file for
    an empty range partition, so low-cardinality inputs (sf0.001 has ~15
    distinct user_ids) or collapsed sampled boundaries can legitimately
    produce fewer than {_SW_FILES} files while every invariant holds.

    Scale: the write is one range exchange + per-partition sort (exactly
    how a nightly re-cluster job lays out a 100 TB table); the audit is
    one pass over the written table collapsing to |files| zone rows."""
    e = table(spark, sf_dir, "events")

    def build(out: str) -> None:
        (
            e.repartitionByRange(_SW_FILES, "user_id")
            .sortWithinPartitions("user_id", "ts", "event_id")
            .write.mode("overwrite")
            .parquet(out)
        )

    out = derived_dir(spark, sf_dir, "events_sorted", build)
    written = spark.read.parquet(out)
    zones = (
        written.select(F.input_file_name().alias("_file"), "user_id")
        .groupBy("_file")
        .agg(
            F.count("*").alias("f_rows"),
            F.min("user_id").alias("lo"),
            F.max("user_id").alias("hi"),
        )
    )
    z = zones.select("_file", "f_rows", "lo", "hi")
    pairs = z.alias("a").join(
        F.broadcast(z.alias("b")),
        (F.col("a._file") < F.col("b._file"))
        & (F.col("a.lo") <= F.col("b.hi"))
        & (F.col("b.lo") <= F.col("a.hi")),
    )
    n_overlap = pairs.agg(
        F.coalesce(F.count("*"), F.lit(0)).cast("bigint").alias("n")
    )
    totals = z.agg(
        F.count("*").cast("int").alias("n_files"),
        F.sum("f_rows").cast("bigint").alias("n_rows"),
    )
    src_count = e.agg(F.count("*").alias("src_rows"))
    return (
        totals.crossJoin(F.broadcast(n_overlap))
        .crossJoin(F.broadcast(src_count))
        .select(
            (
                (F.col("n_files") >= 1) & (F.col("n_files") <= _SW_FILES)
            ).alias("files_within_budget"),
            "n_rows",
            F.col("n").alias("n_overlapping_pairs"),
            (F.col("n") == 0).alias("zones_disjoint"),
            (F.col("n_rows") == F.col("src_rows")).alias("rows_preserved"),
        )
    )


# ---------------------------------------------------------------------------
# layout_partition_spec_evolution — day→hour partition migration, dual-read
# ---------------------------------------------------------------------------

# the spec cutover: event days strictly before this day-of-month stay in
# the v1 (daily) layout; later days are written under the v2 (hourly) spec
_PSE_CUT_DAY = 15


@query(
    "layout_partition_spec_evolution",
    oracle=f"""
    WITH windowed AS (
        SELECT event_type,
               CASE WHEN EXTRACT(DAY FROM ts) < {_PSE_CUT_DAY}
                    THEN 'v1_daily' ELSE 'v2_hourly' END AS spec,
               value
        FROM events
    )
    SELECT spec, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM windowed
    GROUP BY spec, event_type
    """,
)
def layout_partition_spec_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec EVOLUTION without rewriting history: the event log
    starts partitioned by day (v1), the spec changes to (day, hour) (v2)
    for data after a cutover, and reads go through a dual-layout UNION
    that keeps both specs' partition pruning — the Iceberg
    spec-evolution contract reproduced on plain parquet. The alternative
    (rewriting the historical table into the new spec) costs O(history)
    per spec change; the union view costs nothing and old partitions
    still prune on day while new ones prune on (day, hour).

    The gate aggregates BOTH layouts back out of their physical
    directories, labeled by spec, against plain SQL over the source —
    a row lost or duplicated at the cutover boundary (the classic
    off-by-one: `<` vs `<=` on the cut) breaks the per-spec hash.

    Scale shape: both writes are embarrassingly parallel partitioned
    sinks; the union read is two pruned scans with no shuffle until the
    final rollup's map-side partials."""
    e = table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "event_type",
        "value",
        F.to_date("ts").alias("event_date"),
        F.hour("ts").alias("event_hour"),
        F.dayofmonth("ts").alias("_dom"),
    )

    def build(base: str) -> None:
        e.filter(F.col("_dom") < _PSE_CUT_DAY).drop("_dom", "event_hour").write.mode(
            "overwrite"
        ).partitionBy("event_date").parquet(os.path.join(base, "v1"))
        e.filter(F.col("_dom") >= _PSE_CUT_DAY).drop("_dom").write.mode(
            "overwrite"
        ).partitionBy("event_date", "event_hour").parquet(os.path.join(base, "v2"))

    base = derived_dir(spark, sf_dir, "partition_spec_evolution", build)
    v1 = spark.read.parquet(os.path.join(base, "v1")).select(
        F.lit("v1_daily").alias("spec"), "event_type", "value"
    )
    v2 = spark.read.parquet(os.path.join(base, "v2")).select(
        F.lit("v2_hourly").alias("spec"), "event_type", "value"
    )
    return (
        v1.unionByName(v2)
        .groupBy("spec", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")).alias(
                "total_cents"
            ),
        )
    )


# ---------------------------------------------------------------------------
# layout_dynamic_partition_pruning — runtime pruning from a filtered dim
# ---------------------------------------------------------------------------


@query(
    "layout_dynamic_partition_pruning",
    oracle="""
    WITH dated AS (
        SELECT CAST(ts AS DATE) AS event_date, event_type, value FROM events
    ), dim AS (
        SELECT DISTINCT event_date,
               EXTRACT(ISODOW FROM event_date) AS isodow
        FROM dated
    )
    SELECT d.event_date, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(e.value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM dated e JOIN dim d ON d.event_date = e.event_date
    WHERE d.isodow >= 6
    GROUP BY d.event_date, e.event_type
    """,
)
def layout_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend activity via DYNAMIC partition pruning: the fact side is
    the day-partitioned event table, the dim side is a calendar frame
    filtered to weekends — a filter the fact scan cannot see statically
    (it lives on the other join side). Catalyst inserts a
    DynamicPruningExpression: the dim's qualifying dates are evaluated
    first (broadcast reuse) and the fact table's directory listing is
    pruned AT RUNTIME to the ~2/7 matching partitions. This is the star-
    schema scan-reduction that makes 'fact JOIN filtered-dim' queries
    feasible at 100 TB without hand-copying the dim filter onto the fact;
    tests/test_round7_plans.py pins the DynamicPruning subtree in the
    plan.

    ISO day-of-week is derived engine-natively on both sides (DuckDB
    ISODOW; Spark dayofweek remapped), integer compares only."""
    path = partitioned_events_path(spark, sf_dir)
    facts = spark.read.parquet(path)
    # calendar dim: distinct days + ISO dow (Mon=1..Sun=7). Spark's
    # dayofweek is Sun=1..Sat=7; (dow + 5) % 7 + 1 remaps to ISO.
    dim = (
        facts.select("event_date")
        .distinct()
        .select(
            "event_date",
            (((F.dayofweek("event_date") + 5) % 7) + 1).alias("isodow"),
        )
    )
    j = facts.join(dim.filter(F.col("isodow") >= 6), "event_date")
    return j.groupBy("event_date", "event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")).alias(
            "total_cents"
        ),
    )
