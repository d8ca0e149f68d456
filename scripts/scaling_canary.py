"""Timed scaling-exponent canary: wall time for every SF1_CANARY query at
sf0.1 and sf1 (10× the data), in one engine session per scale factor.

Emits BENCH_SCALING.json: per query {sf01_sec, sf1_sec, ratio, flagged}
plus a summary. A query is FLAGGED when t(sf1)/t(sf0.1) > RATIO_FLAG
(default 15 — linear would be ~10×, so 15 allows constant overheads and
VM noise while catching anything super-linear: accidental O(n log n)
sort amplification, candidate-pair blow-up, spill thrash). Tiny
timings are noise-dominated, so the ratio is computed over
max(t, FLOOR_SEC) — a 0.08 s → 1.6 s "20×" is startup noise, not a
scaling defect.

Exit code 1 iff any query is flagged (each flag must then be explained
or fixed before round end).

Usage: python scripts/scaling_canary.py [--names a,b,c] [--json PATH]
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from akka_streams_kinesis_spark import get_session, registry  # noqa: E402
from bench import time_queries, warm_up  # noqa: E402
from canary_names import SF1_CANARY  # noqa: E402

RATIO_FLAG = 15.0
FLOOR_SEC = 0.5
SF01_DIR = "/root/testdata/sf0.1"
SF1_DIR = os.path.join(ROOT, ".scale", "sf1")
OUT = os.path.join(ROOT, "BENCH_SCALING.json")


def _flag_value(flag: str) -> str:
    i = sys.argv.index(flag)
    if i + 1 >= len(sys.argv):
        print(f"usage: scaling_canary.py [{flag} VALUE]", file=sys.stderr)
        sys.exit(2)
    return sys.argv[i + 1]


def time_all(sf_dir: str, names: list[str]) -> dict[str, float | None]:
    """Wall seconds per name (None on error, shared-frame builds
    included). One fresh engine session per scale factor: cross-scale
    JVM state (codegen caches, shuffle files, GC pressure) must not leak
    from the sf0.1 pass into the sf1 pass. The cache is cleared after
    each query, so that no query reads another's cached frames."""
    spark = get_session(f"scaling-canary-{os.path.basename(sf_dir)}")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)
    print(f"# timing at {sf_dir}", file=sys.stderr)
    out: dict[str, float | None] = {}
    for name in names:
        walls, _, _ = time_queries(spark, registry.QUERIES, sf_dir, [name])
        out[name] = round(walls[name][0], 3) if walls[name] else None
        spark.catalog.clearCache()
    spark.stop()
    return out


def main() -> None:
    names = list(SF1_CANARY)
    if "--names" in sys.argv:
        names = _flag_value("--names").split(",")
        unknown = [n for n in names if n not in registry.QUERIES]
        assert not unknown, f"not in registry: {unknown}"
    out_path = _flag_value("--json") if "--json" in sys.argv else OUT
    # --merge: re-time only the named subset and fold the fresh numbers
    # into the existing artifact (for a targeted fix re-measure without
    # a full 2-scale sweep); the summary is recomputed over the union.
    merge = "--merge" in sys.argv
    t_small = time_all(SF01_DIR, names)
    t_big = time_all(SF1_DIR, names)
    extra_keys: dict = {}
    # ALWAYS preserve side-car sections (e.g. sf3_spot) when the artifact
    # already exists — round-8 lesson: the full sweep ran without --merge
    # and silently dropped the committed sf3_spot data (the exact
    # artifact-lifecycle bug class test_artifact_currency.py exists for;
    # now also pinned by its test_scaling_artifact_has_sf3_spot).
    if os.path.exists(out_path):
        with open(out_path) as f:
            prior_doc = json.load(f)
        extra_keys = {
            k: v
            for k, v in prior_doc.items()
            if k not in (
                "metric", "data_ratio", "ratio_flag_threshold",
                "ratio_floor_sec", "n_queries", "n_flagged", "flagged",
                "total_sf01_sec", "total_sf1_sec", "queries",
            )
        }
        if merge:
            prior = prior_doc["queries"]
            for n, rec in prior.items():
                if n not in names:
                    t_small[n] = rec["sf01_sec"]
                    t_big[n] = rec["sf1_sec"]
            names = sorted(set(names) | set(prior))
    queries: dict[str, dict] = {}
    flagged: list[str] = []
    for name in names:
        a, b = t_small.get(name), t_big.get(name)
        rec: dict = {"sf01_sec": a, "sf1_sec": b, "ratio": None, "flagged": a is None or b is None}
        if a is not None and b is not None:
            rec["ratio"] = round(max(b, FLOOR_SEC) / max(a, FLOOR_SEC), 2)
            rec["flagged"] = rec["ratio"] > RATIO_FLAG
        queries[name] = rec
        if rec["flagged"]:
            flagged.append(name)
    summary = {
        "metric": "sf1_over_sf01_wall_ratio",
        "data_ratio": 10.0,
        "ratio_flag_threshold": RATIO_FLAG,
        "ratio_floor_sec": FLOOR_SEC,
        "n_queries": len(names),
        "n_flagged": len(flagged),
        "flagged": flagged,
        "total_sf01_sec": round(sum(v for v in t_small.values() if v), 3),
        "total_sf1_sec": round(sum(v for v in t_big.values() if v), 3),
        "queries": queries,
        **extra_keys,
    }
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1)
        f.write("\n")
    print(json.dumps({k: summary[k] for k in (
        "metric", "n_queries", "n_flagged", "flagged",
        "total_sf01_sec", "total_sf1_sec",
    )}))
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
