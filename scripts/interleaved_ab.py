"""Interleaved A/B timing of the SAME query list against two repo trees,
in alternating rounds within comparable wall-clock windows, so noisy-VM
drift affects both sides equally. One process per (tree, round) would pay
JVM startup each time; instead this runs ONE process per tree but with
rounds interleaved by the caller running both scripts round-robin is not
possible — so the compromise: run N rounds inside one process per tree,
report per-round times; the caller interleaves PROCESSES A,B,A,B via
--round tags and medians are compared across matching rounds.

Simpler practical mode (default): one process, one tree (the current
repo), N rounds of each named query; prints per-round and median times.
Use to compare HEAD vs a worktree by running twice with different
PYTHONPATH trees, alternating: A(3 rounds), B(3 rounds), A(3), B(3).

Usage:
  python scripts/interleaved_ab.py TREE q1,q2 [--rounds N] [--sf DIR]

``--rounds 1`` is a one-shot timing of the list. A name missing from
TREE's registry (an older checkout) is reported as null.
"""

from __future__ import annotations

import json
import os
import sys
import time

TREE = os.path.abspath(sys.argv[1])
NAMES = sys.argv[2].split(",")
ROUNDS = int(sys.argv[sys.argv.index("--rounds") + 1]) if "--rounds" in sys.argv else 3
SF_DIR = sys.argv[sys.argv.index("--sf") + 1] if "--sf" in sys.argv else "/root/testdata/sf0.1"

sys.path.insert(0, TREE)

from akka_streams_kinesis_spark import get_session, registry  # noqa: E402

registry.load_all()


def main() -> None:
    spark = get_session("ab-interleaved")
    spark.sparkContext.setLogLevel("ERROR")
    from akka_streams_kinesis_spark.io import table

    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        table(spark, SF_DIR, t).limit(1).count()
    for warm in ("tpch_q1_pricing_summary", "tpch_q3_top_orders"):
        registry.QUERIES[warm](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()

    present = [n for n in NAMES if n in registry.QUERIES]
    per: dict[str, list[float]] = {n: [] for n in present}
    for r in range(ROUNDS):
        for name in present:
            t0 = time.perf_counter()
            try:
                registry.QUERIES[name](spark, SF_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
                per[name].append(round(time.perf_counter() - t0, 3))
            except Exception as e:
                print(f"# {name}: ERROR {str(e)[:160]}", file=sys.stderr)
                per[name].append(float("nan"))
        print(f"# round {r}: " + " ".join(f"{n}={per[n][-1]}" for n in present), file=sys.stderr)

    def med(xs: list[float]) -> float:
        ys = sorted(x for x in xs if x == x)
        if not ys:
            return float("nan")
        m = len(ys) // 2
        return ys[m] if len(ys) % 2 else (ys[m - 1] + ys[m]) / 2

    def stat(fn) -> dict:
        return {n: fn(per[n]) if n in per else None for n in NAMES}

    print(json.dumps({
        "tree": TREE,
        "rounds": ROUNDS,
        "times": stat(list),
        "median": stat(med),
        "min": stat(lambda v: min((x for x in v if x == x), default=float("nan"))),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
