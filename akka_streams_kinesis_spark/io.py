"""Table loaders for the driver-generated parquet test data, and the one
owner of directories derived from it.

Scans are plain ``spark.read.parquet`` so Catalyst gets predicate pushdown,
column pruning and (on a real lake) partition pruning for free — the scan
layer the reference lacks entirely (SURVEY.md §2.D: file scans ABSENT in
reference, supplied by Spark built-ins here).

``derived_dir`` caches a directory whose content is a pure function of
``sf_dir`` (a produced stream, a re-laid-out table, a drained index) under
one root in ``tempfile.gettempdir()``, keyed on what produced it: the
name, the sf_dir's real path and table files (name, size, mtime), and the
package's own sources. Directories a query writes on every call belong in
``shared.scratch_dir`` instead.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table from ``sf_dir``.

    ``events.ts`` may arrive as parquet TIMESTAMP(NANOS), which Spark 4
    rejects by default; when it does, we read it as long nanos
    (runtime-settable legacy conf) and truncate to microsecond timestamps
    with integer arithmetic — exactly the ns→µs truncation DuckDB applies,
    so oracle parity holds. When the data is already µs TIMESTAMP we pass
    it through untouched.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # Scope the legacy conf to this read: left enabled session-wide it
        # would silently turn any other TIMESTAMP(NANOS) parquet read in
        # the same session into bigint.
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            df.schema  # force plan/schema resolution while the conf holds
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
        ts_type = dict(df.dtypes).get("ts")
        from pyspark.sql import functions as F

        if ts_type == "bigint":
            df = df.withColumn(
                "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))")
            )
        elif ts_type == "timestamp_ntz":
            # Session tz is UTC (session.py), so this cast is a pure type
            # change — same instant, and unix_micros()/window() accept it.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        elif ts_type != "timestamp":
            # Schema drift in the generated data must fail at load time,
            # not as a confusing unix_micros()/window() error downstream.
            raise TypeError(
                f"events.ts has unexpected dtype {ts_type!r}; expected "
                "bigint (nanos), timestamp_ntz, or timestamp"
            )
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def fanout(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ahead of an explosive operator (explode,
    pairwise join, per-row n-gram generation).

    A small or single-file input arrives as ONE scan split, so everything
    downstream of it — including a 100-1000× row fan-out — runs in a single
    task. The Exchange this inserts costs one pass over the (small, pre-
    explosion) input and buys full-cluster parallelism for the expensive
    stage. Sizing to ``defaultParallelism`` keeps every core busy without
    tiny-task churn.

    At lake scale the scan already has thousands of splits — there the
    repartition would shuffle the whole corpus for nothing, so fanout is a
    NO-OP whenever the input's scan already yields >= the target
    parallelism. That is decided from the ANALYZED plan's file listing
    (``df.inputFiles()`` + size/maxPartitionBytes for local files), not
    from ``df.rdd`` — materializing the RDD would force full physical
    planning on every call (repeated for composed plans) and pin a
    non-AQE plan for the whole downstream query.
    """
    spark = df.sparkSession
    n = partitions or spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        # no file source underneath (in-memory relation): by construction
        # tiny, so spreading it is one cheap exchange
        return df.repartition(n)
    splits = len(files)
    if splits < n:
        # big files split further at scan time; refine the estimate with
        # local file sizes where the path scheme lets us stat cheaply
        local = [f for f in files if f.startswith("file:")]
        if local:
            from urllib.parse import urlparse

            mpb = int(
                spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
            )
            try:
                total = sum(os.path.getsize(urlparse(f).path) for f in local)
                splits = max(splits, -(-total // mpb))
            except OSError:
                pass
    if splits >= n:
        return df
    return df.repartition(n)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for spark.sql-expressed queries)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


DERIVED_ROOT = "aks_derived"


@functools.cache
def _sources_digest() -> str:
    """Digest of the package's ``*.py`` sources, once per process: a
    directory built by one tree is never served to another."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha1()
    for d, subdirs, files in os.walk(pkg):
        subdirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def derived_key(sf_dir: str, name: str) -> str:
    """``name`` plus a digest of what a directory derived from ``sf_dir``
    depends on. Also names catalog tables built from the same inputs."""
    real = os.path.realpath(sf_dir)
    h = hashlib.sha1(f"{real}\0{_sources_digest()}".encode())
    for t in TABLES:
        try:
            st = os.stat(os.path.join(real, f"{t}.parquet"))
        except FileNotFoundError:
            continue
        h.update(f"\0{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return f"{name}_{h.hexdigest()[:16]}"


def derived_dir(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[str], None]
) -> str:
    """Return the cached directory for (``name``, ``sf_dir``), running
    ``build(path)`` on a miss. A sibling ``<path>.complete`` marker,
    written only after ``build`` returns, marks completion; a directory
    without it is partial and is removed before the rebuild. Spark jobs
    the build runs are labelled ``derived <name>``."""
    path = os.path.join(tempfile.gettempdir(), DERIVED_ROOT, derived_key(sf_dir, name))
    marker = path + ".complete"
    if os.path.exists(marker):
        return path
    shutil.rmtree(path, ignore_errors=True)
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"derived {name}")
    try:
        build(path)
    finally:
        sc.setJobDescription(prev)
    os.makedirs(path, exist_ok=True)
    open(marker, "w").close()
    return path
