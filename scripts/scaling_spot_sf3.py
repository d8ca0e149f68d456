"""Second scaling data point (sf3 ≈ 30× sf0.1) for the worst canary ratios.

The 10× canary (scaling_canary.py → BENCH_SCALING.json) showed the text
shingle family at 3.2–4.5× wall growth for 10× data — sub-linear, but a
single data point can't distinguish "fixed overhead amortizing out" from
"a mild super-linear term that explodes later". This spot run times the
top-ratio queries at 30× and records the implied scaling exponent between
the two points: p = log(t30/t10) / log(3). Linear work with fixed overhead
gives p < 1 (the overhead amortizes); p meaningfully above 1 between 10×
and 30× means real super-linear growth and is flagged.

Writes the results into BENCH_SCALING.json under "sf3_spot" (the 10×
sweep's fields are untouched). Exit 1 iff any spot query is flagged.

Usage: python scripts/scaling_spot_sf3.py [--names a,b,c]
(default: the 5 worst 10×-ratios in the existing BENCH_SCALING.json)
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "scripts"))

from akka_streams_kinesis_spark import registry  # noqa: E402
from scaling_canary import FLOOR_SEC, SF1_DIR, time_all  # noqa: E402

SF3_DIR = os.path.join(ROOT, ".scale", "sf3")
OUT = os.path.join(ROOT, "BENCH_SCALING.json")
EXPONENT_FLAG = 1.3   # p in t ∝ n^p between the 10× and 30× points
TOP_N = 5


def main() -> None:
    with open(OUT) as f:
        scaling = json.load(f)
    if "--names" in sys.argv:
        names = sys.argv[sys.argv.index("--names") + 1].split(",")
    else:
        ranked = sorted(
            (
                (n, rec["ratio"])
                for n, rec in scaling["queries"].items()
                if rec.get("ratio") is not None
            ),
            key=lambda kv: -kv[1],
        )
        names = [n for n, _ in ranked[:TOP_N]]
    unknown = [n for n in names if n not in registry.QUERIES]
    assert not unknown, f"not in registry: {unknown}"

    if not os.path.exists(os.path.join(SF3_DIR, "lineitem.parquet")):
        print(f"# generating {SF3_DIR} (30 shifted copies of sf0.1)…", file=sys.stderr)
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "scripts", "gen_sf1.py"),
             "/root/testdata/sf0.1", SF3_DIR, "30"],
            check=True,
        )

    t_sf1 = time_all(SF1_DIR, names)    # fresh 10× numbers, same session shape
    t_sf3 = time_all(SF3_DIR, names)

    spot: dict[str, dict] = {}
    flagged: list[str] = []
    for name in names:
        a, b = t_sf1.get(name), t_sf3.get(name)
        rec: dict = {"sf1_sec": a, "sf3_sec": b, "ratio_30x_over_10x": None,
                     "implied_exponent": None, "flagged": a is None or b is None}
        if a is not None and b is not None:
            r = max(b, FLOOR_SEC) / max(a, FLOOR_SEC)
            rec["ratio_30x_over_10x"] = round(r, 2)
            rec["implied_exponent"] = round(math.log(max(r, 1e-9)) / math.log(3.0), 2)
            rec["flagged"] = rec["implied_exponent"] > EXPONENT_FLAG
        spot[name] = rec
        if rec["flagged"]:
            flagged.append(name)

    # MERGE into any existing spot section (same lifecycle rule as
    # scaling_canary's side-car preservation): a targeted --names re-run
    # must never drop previously-spotted queries
    prior = scaling.get("sf3_spot", {}).get("queries", {})
    prior.update(spot)
    spot = dict(sorted(prior.items()))
    flagged = sorted(n for n, rec in spot.items() if rec.get("flagged"))
    scaling["sf3_spot"] = {
        "metric": "sf3_over_sf1_wall_ratio (data ratio 3.0)",
        "exponent_flag_threshold": EXPONENT_FLAG,
        "n_flagged": len(flagged),
        "flagged": flagged,
        "queries": spot,
    }
    with open(OUT, "w") as f:
        json.dump(scaling, f, indent=1)
        f.write("\n")
    print(json.dumps({"sf3_spot_n": len(names), "n_flagged": len(flagged),
                      "flagged": flagged,
                      "exponents": {n: spot[n]["implied_exponent"] for n in names}}))
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
