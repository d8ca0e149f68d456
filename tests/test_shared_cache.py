"""Lifecycle tests for shared.py — the one documented cache owner.

Pins: (1) shared_frame builds once per (session, name, sf_dir) and
returns the same cached DataFrame to every consumer; (2) different
sf_dir keys build independently; (3) release_shared unpersists and
forgets both tiers, so the next consumer rebuilds; (4) transient
registration survives a release call on an already-stopped frame
without raising.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from akka_streams_kinesis_spark import shared
from akka_streams_kinesis_spark.shared import (
    release_shared,
    shared_frame,
    transient_persist,
)


def test_shared_frame_builds_once_and_reuses(spark):
    release_shared()
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).withColumn("x", F.col("id") * 2)

    a = shared_frame(spark, "t_build_once", "/k1", build)
    b = shared_frame(spark, "t_build_once", "/k1", build)
    assert a is b
    assert calls["n"] == 1
    assert a.storageLevel.useMemory  # persisted
    release_shared()


def test_shared_frame_keys_by_sf_dir(spark):
    release_shared()
    a = shared_frame(spark, "t_keyed", "/k1", lambda: spark.range(5))
    b = shared_frame(spark, "t_keyed", "/k2", lambda: spark.range(5))
    assert a is not b
    release_shared()


def test_release_shared_unpersists_and_forgets(spark):
    release_shared()
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(3)

    a = shared_frame(spark, "t_release", "/k1", build)
    a.count()
    release_shared()
    assert not shared._SHARED and not shared._TRANSIENT
    b = shared_frame(spark, "t_release", "/k1", build)
    assert calls["n"] == 2  # rebuilt after release
    assert b.storageLevel.useMemory
    release_shared()


def test_transient_persist_registers_for_release(spark):
    release_shared()
    df = transient_persist(spark.range(4))
    assert df.storageLevel.useMemory
    assert shared._TRANSIENT
    release_shared()
    assert not shared._TRANSIENT
    assert not df.storageLevel.useMemory  # unpersisted


def test_release_tolerates_double_release(spark):
    release_shared()
    df = transient_persist(spark.range(2))
    df.unpersist()  # consumer released it early
    release_shared()  # must not raise
    release_shared()  # idempotent


def test_concurrent_first_callers_build_once(spark):
    # round-9 ADVICE: two threads racing the same key must not
    # double-build and leak one persisted copy — the lock covers the
    # whole build-and-insert path
    import threading

    release_shared()
    calls = {"n": 0}
    results = []
    barrier = threading.Barrier(4)

    def build():
        calls["n"] += 1
        return spark.range(7)

    def worker():
        barrier.wait()
        results.append(shared_frame(spark, "t_race", "/k1", build))

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert calls["n"] == 1
    assert all(r is results[0] for r in results)
    assert len(shared._SHARED) == 1
    release_shared()


def test_dead_session_entries_are_swept(spark):
    # round-9 ADVICE: entries keyed by a stopped/collected session must
    # not accumulate — swept on the next shared_frame call
    import weakref

    release_shared()
    shared_frame(spark, "t_sweep_live", "/k1", lambda: spark.range(2))
    # forge an entry owned by a "stopped" session: a dead weakref
    class _Gone:  # noqa: N801 — weakref-able stand-in
        pass

    victim = _Gone()
    dead_ref = weakref.ref(victim)
    del victim
    assert dead_ref() is None
    shared._SHARED[(0, "t_sweep_dead", "/k1")] = (dead_ref, spark.range(1))
    shared_frame(spark, "t_sweep_live2", "/k1", lambda: spark.range(2))
    assert (0, "t_sweep_dead", "/k1") not in shared._SHARED
    # the live session's entries survive the sweep
    assert any(k[1] == "t_sweep_live" for k in shared._SHARED)
    release_shared()


def _tiny_shuffled(spark):
    return (
        spark.range(100)
        .repartition(32, "id")
        .groupBy((F.col("id") % 7).alias("k"))
        .count()
    )


def test_shared_frame_cache_is_sized_by_aqe(spark):
    # A few-KB frame must not be stored in spark.sql.shuffle.partitions
    # partitions: every later scan of it would run that many near-empty
    # tasks.
    release_shared()
    df = shared_frame(spark, "t_aqe_sized", "/k1", lambda: _tiny_shuffled(spark))
    assert df.rdd.getNumPartitions() < int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    release_shared()


def test_persist_leaves_session_conf_unchanged(spark):
    release_shared()
    before = spark.conf.get(shared._AQE_CACHED_PLAN)
    shared_frame(spark, "t_conf_restored", "/k1", lambda: _tiny_shuffled(spark))
    transient_persist(_tiny_shuffled(spark)).count()
    assert spark.conf.get(shared._AQE_CACHED_PLAN) == before
    release_shared()
