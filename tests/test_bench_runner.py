"""bench.time_queries, the one loop that times a registry query (bench.py,
scripts/interleaved_ab.py and scripts/scaling_canary.py all call it)."""

from __future__ import annotations

from akka_streams_kinesis_spark import registry
from akka_streams_kinesis_spark.shared import release_shared

import bench

_PLAIN = "tpch_q1_pricing_summary"
_SHARED = "text_language_id"  # first consumer of the doc_tokens shared frame


def _boom(spark, sf_dir):
    raise RuntimeError("boom: planted failure")


def test_runner_isolates_errors_and_splits_shared_builds(spark, sf_dir):
    release_shared()  # the shared consumer must build its frame here
    queries = {
        _PLAIN: registry.QUERIES[_PLAIN],
        "boom": _boom,
        _SHARED: registry.QUERIES[_SHARED],
    }
    try:
        walls, builds, errors = bench.time_queries(
            spark, queries, sf_dir, list(queries), rounds=2
        )
    finally:
        release_shared()
    # the raising name is isolated; the names after it still run each round
    assert set(errors) == {"boom"} and "planted failure" in errors["boom"]
    assert walls["boom"] == [] and builds["boom"] == []
    for name in (_PLAIN, _SHARED):
        assert len(walls[name]) == 2 and len(builds[name]) == 2
        # every job of a timed run carries the query's job group
        assert spark.sparkContext.statusTracker().getJobIdsForGroup(name)
    # the first consumer pays the shared build, reported beside its wall;
    # the second round reads the cached frame
    assert 0 < builds[_SHARED][0] <= walls[_SHARED][0]
    assert builds[_SHARED][1] == 0
    assert builds[_PLAIN] == [0, 0]
