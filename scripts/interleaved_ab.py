"""Time the same query list N rounds in one process against one repo tree,
for A/B comparisons on a noisy host.

One process times TREE's registry: it warms up once, then runs every
named query once per round, so the rounds of all names interleave. To
compare two trees, run the script once per tree and alternate the runs
(A, B, A, B, ...) so that host drift lands on both sides alike; compare
the per-name medians (or minimums) of the JSON lines.

Usage:
  python scripts/interleaved_ab.py TREE q1,q2 [--rounds N] [--sf DIR]

Prints one JSON line: {"tree", "rounds", "times", "median", "min"}, with
per-name wall seconds of every successful run (shared-frame builds
included). ``--rounds 1`` is a one-shot timing of the list. A name
missing from TREE's registry (an older checkout) is reported as null.
The warm-up and the timing loop are bench.py's (``warm_up``,
``time_queries``), from this script's checkout.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

TREE = os.path.abspath(sys.argv[1])
NAMES = sys.argv[2].split(",")
ROUNDS = int(sys.argv[sys.argv.index("--rounds") + 1]) if "--rounds" in sys.argv else 3
SF_DIR = sys.argv[sys.argv.index("--sf") + 1] if "--sf" in sys.argv else "/root/testdata/sf0.1"

# TREE's package first, so that bench (imported from this checkout) and
# its registry resolve to the tree under test
sys.path.insert(0, TREE)
from akka_streams_kinesis_spark import get_session, registry  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench import time_queries, warm_up  # noqa: E402


def main() -> None:
    spark = get_session("ab-interleaved")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, SF_DIR)
    present = [n for n in NAMES if n in registry.QUERIES]
    walls, _, _ = time_queries(spark, registry.QUERIES, SF_DIR, present, ROUNDS)
    per = {n: [round(w, 3) for w in walls[n]] for n in present}

    def stat(fn) -> dict:
        return {
            n: (fn(per[n]) if per[n] else float("nan")) if n in per else None
            for n in NAMES
        }

    print(json.dumps({
        "tree": TREE,
        "rounds": ROUNDS,
        "times": {n: per.get(n) for n in NAMES},
        "median": stat(statistics.median),
        "min": stat(min),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
