"""Simulate the driver's verify: vanilla SparkSession (no engine confs),
entry() smoke at sf0.001, then every queries() entry vs its DuckDB oracle
at sf0.01 with order-insensitive value compare. Mirrors CORRECTNESS_r{N}.

``--json PATH`` additionally writes the per-query results in the driver's
CORRECTNESS_r{N}.json schema ({rows_match, schema_match, hash_match,
spark_rows, oracle_rows, err} per query) so a full-registry artifact can
be committed for rounds where the driver gate samples a subset."""

from __future__ import annotations

import atexit
import json
import math
import os
import shutil
import sys
import tempfile
import time

import duckdb
from pyspark.sql import SparkSession

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package too, and they see the
# session's environment, not this sys.path: from any cwd but the checkout
# every Python UDF would fail with ModuleNotFoundError.
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)
import __spark_entry__ as se  # noqa: E402

def _flag_value(flag: str) -> str:
    i = sys.argv.index(flag)
    if i + 1 >= len(sys.argv):
        print(f"usage: driver_sim.py [SF_DIR] [{flag} VALUE]", file=sys.stderr)
        sys.exit(2)
    return sys.argv[i + 1]


args = [a for a in sys.argv[1:] if not a.startswith("--")]
JSON_OUT = None
if "--json" in sys.argv:
    JSON_OUT = _flag_value("--json")
    args = [a for a in args if a != JSON_OUT]
# --names a,b,c: run only the named queries (scale-canary subsets)
ONLY = None
if "--names" in sys.argv:
    raw = _flag_value("--names")
    ONLY = set(raw.split(","))
    args = [a for a in args if a != raw]
# --rows-only a,b: run these names WITHOUT their oracle (rows-only row),
# for queries whose deliberately-naive DuckDB oracle is infeasible at the
# target SF while the engine side still runs (and, for self-check
# queries, raises internally on invariant violation) — the sf1 canary's
# SF1_ORACLE_INFEASIBLE names (scripts/canary_names.py --rows-only)
ROWS_ONLY: set = set()
if "--rows-only" in sys.argv:
    raw_ro = _flag_value("--rows-only")
    ROWS_ONLY = set(raw_ro.split(","))
    args = [a for a in args if a != raw_ro]
SF_DIR = args[0] if args else "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if v is None:
        return "\x00<NULL>"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def main():
    if "--engine-session" in sys.argv:
        # scale-canary mode (sf1): the engine's own session factory —
        # 16g driver, UI off, AQE on. The default 1g vanilla JVM is not
        # a credible stand-in for a cluster when result sets reach
        # ~1M collected rows; the sf0.01 gate below stays vanilla.
        from akka_streams_kinesis_spark import get_session

        spark = get_session("driver-sim-canary")
    else:
        # deliberately vanilla: the driver builds its own session
        spark = SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    edf = se.entry(spark)
    n = len(edf.collect())
    print(f"entry(): {n} rows, schema={edf.schema.simpleString()[:120]} [{time.time()-t0:.1f}s]")
    assert n > 0

    # DuckDB spills to its own temp dir, capped at half the disk that was
    # free at start: an oracle that outgrows it fails alone and by name
    # instead of filling the disk under other gates' state-store commits.
    spill = tempfile.mkdtemp(prefix="driver_sim_duckdb_")
    atexit.register(shutil.rmtree, spill, True)
    cap_mib = shutil.disk_usage(spill).free // 2 // 2**20
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{spill}'")
    con.execute(f"SET max_temp_directory_size = '{cap_mib}MiB'")
    print(f"duckdb spill: {spill}, capped at {cap_mib} MiB")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs, oracles = se.queries(), se.oracle_sql()
    if ONLY is not None:
        missing = ONLY - set(qs)
        assert not missing, f"--names not in queries(): {sorted(missing)}"
        qs = {k: v for k, v in qs.items() if k in ONLY}
    n_pass = n_fail = 0
    report: dict[str, dict] = {}
    for name in sorted(qs):
        t1 = time.time()
        rec = {
            "rows_match": False, "schema_match": False, "hash_match": False,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        report[name] = rec
        try:
            sdf = qs[name](spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            rec["spark_rows"] = len(srows)
            # job-scoped cache lifetime: some pipelines persist shared
            # intermediates (band pipelines, edge lists) that are only
            # meaningful within one query's DAG; left in place they pin
            # the protected storage fraction and starve later queries'
            # execution memory (observed as UNABLE_TO_ACQUIRE_MEMORY in
            # the sf1 canary's 1g vanilla session)
            spark.catalog.clearCache()
        except Exception as e:
            rec["err"] = f"spark error: {str(e)[:200]}"
            print(f"FAIL  {name}: spark error {str(e)[:200]}")
            n_fail += 1
            continue
        if name in ROWS_ONLY:
            rec["err"] = "oracle_infeasible_at_sf: rows-only check"
            rec["rows_match"] = len(srows) >= 0
            print(f"ROWS  {name}: {len(srows)} rows [{time.time()-t1:.1f}s]")
            n_pass += 1
            continue
        if name not in oracles:
            rec["err"] = "no_oracle: rows-only check"
            rec["rows_match"] = len(srows) >= 0
            print(f"ROWS  {name}: {len(srows)} rows [{time.time()-t1:.1f}s]")
            n_pass += 1
            continue
        try:
            dres = con.execute(oracles[name])
            dcols = [d[0] for d in dres.description]
            drows = dres.fetchall()
            rec["oracle_rows"] = len(drows)
        except Exception as e:
            rec["err"] = f"duckdb error: {str(e)[:200]}"
            print(f"FAIL  {name}: duckdb error {str(e)[:200]}")
            n_fail += 1
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        ok_vals = ok_cols and ok_count and multiset(srows, scols) == multiset(drows, dcols)
        rec.update(rows_match=ok_count, schema_match=ok_cols, hash_match=ok_vals)
        if ok_vals:
            print(f"MATCH {name}: {len(srows)} rows [{time.time()-t1:.1f}s]")
            n_pass += 1
        else:
            print(f"FAIL  {name}: cols={ok_cols} count={ok_count} ({len(srows)} vs {len(drows)})")
            if ok_cols and ok_count:
                sm, dm = multiset(srows, scols), multiset(drows, dcols)
                diffs = [(a, b) for a, b in zip(sm, dm) if a != b][:2]
                print(f"      first diffs: {diffs}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, total {time.time()-t0:.1f}s")
    if JSON_OUT:
        # --merge-json: fold this run's rows into an existing artifact
        # (targeted re-verify after a fix, without re-running the rest)
        if "--merge-json" in sys.argv:
            try:
                with open(JSON_OUT) as f:
                    prior = json.load(f)
            except FileNotFoundError:
                prior = {}
            prior.update(report)
            report = dict(sorted(prior.items()))
        with open(JSON_OUT, "w") as f:
            json.dump(report, f, indent=2)
        print(f"wrote {JSON_OUT}")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
