"""Generate OPERATORS.md: the full registry index — query name →
family → implementation file:line → one-line description → bench
section → sf1-canary membership. Regenerate after adding operators:

    python scripts/gen_operators_md.py > OPERATORS.md

tests/test_operators_md.py pins that the committed file is current.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "scripts"))

from akka_streams_kinesis_spark import registry  # noqa: E402
from canary_names import SF1_CANARY  # noqa: E402
import bench  # noqa: E402

registry.load_all()

# family = name prefix → human grouping, in SURVEY §2 order-ish
FAMILIES = [
    ("tpch_", "TPC-H-shape relational suite"),
    ("scalar_", "Scalar function families"),
    ("agg_", "Aggregation (exact, sketch, grouping sets)"),
    ("window_", "Window functions (all frame types)"),
    ("join_", "Joins (outer/semi/anti/range/skew/fuzzy/SCD2)"),
    ("subquery_", "Subqueries (scalar, IN, LATERAL)"),
    ("setops_", "Set operations"),
    ("sort_", "Sort / limit / top-k"),
    ("unpivot_", "Pivot / unpivot"),
    ("pivot_", "Pivot / unpivot"),
    ("events_", "Event-stream timeseries analytics"),
    ("behavior_", "Behavioral / product analytics"),
    ("asof_", "As-of joins (backward/forward/tolerance/nearest)"),
    ("dedup_", "Deduplication (exact → MinHash/SimHash/semantic)"),
    ("similarity_", "Similarity search / ANN / retrieval eval"),
    ("embedding_", "Embedding ops (PCA, quantize, QA)"),
    ("text_", "Text analysis / quality / LM scoring"),
    ("curation_", "Corpus curation (mixtures, decontamination, splits)"),
    ("sample_", "Sampling (stratified, reservoir, reproducible)"),
    ("split_", "Dataset splits"),
    ("pack_", "Sequence packing"),
    ("pipeline_", "End-to-end pipelines"),
    ("multimodal_", "Multimodal binary columns"),
    ("quality_", "Data-quality expectations"),
    ("layout_", "Table layout (bucketing, Z-order, compaction)"),
    ("maintenance_", "Table maintenance (stats, vacuum, checksum)"),
    ("scan_", "Scan formats round trip"),
    ("udf_", "Vectorized UDF / UDAF / UDTF"),
    ("udaf_", "Vectorized UDF / UDAF / UDTF"),
    ("udtf_", "Vectorized UDF / UDAF / UDTF"),
    ("source_", "Streaming source (Kinesis-sim, SURVEY §2.A)"),
    ("egress_", "Streaming/batch egress (writer, SURVEY §2.B)"),
    ("stream_", "Structured Streaming queries (SURVEY §2.C/D)"),
]


def family(name: str) -> str:
    for pfx, fam in FAMILIES:
        if name.startswith(pfx):
            return fam
    return "Other"


def render() -> str:
    rows = []
    for name, fn in registry.QUERIES.items():
        mod = sys.modules[fn.__module__]
        path = os.path.relpath(mod.__file__, ROOT)
        line = fn.__code__.co_firstlineno
        doc = (fn.__doc__ or "").strip().split("\n")[0].rstrip()
        sect = "stream (rows/s)" if name in bench.STREAM_SECTION else "headline"
        canary = "yes" if name in SF1_CANARY else ""
        rows.append((family(name), name, f"{path}:{line}", doc, sect, canary))

    out = [
        "# OPERATORS — full registry index",
        "",
        "Generated by `python scripts/gen_operators_md.py > OPERATORS.md` —",
        "do not edit by hand. One row per `queries()` entry; every row is",
        "oracle-backed (DuckDB parity at sf0.01 via `scripts/driver_sim.py`).",
        "Columns: bench section (`bench.py` HEADLINE latency vs stream",
        "throughput) and sf1 scale-canary membership",
        "(`scripts/canary_names.py`).",
        "",
        f"Total queries: {len(rows)}",
        "",
    ]
    cur = None
    for fam, name, loc, doc, sect, canary in sorted(rows):
        if fam != cur:
            out += [f"## {fam}", "", "| query | impl | bench | sf1 | summary |", "|---|---|---|---|---|"]
            cur = fam
        doc = doc.replace("|", "\\|")
        out.append(f"| `{name}` | `{loc}` | {sect} | {canary} | {doc} |")
        if name == sorted(rows)[-1][1]:
            pass
    # blank line between tables
    text = []
    prev_was_row = False
    for ln in out:
        if ln.startswith("## ") and prev_was_row:
            text.append("")
        text.append(ln)
        prev_was_row = ln.startswith("|")
    return "\n".join(text) + "\n"


if __name__ == "__main__":
    sys.stdout.write(render())
