"""``streaming.drain.drain`` on the error path: a drain whose batch
fails re-raises that error and still leaves no checkpoint, no changed
session conf and no live query behind."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from akka_streams_kinesis_spark import shared
from akka_streams_kinesis_spark.sources.kinesis_sim import SimStream, TrimHorizon
from akka_streams_kinesis_spark.streaming import drain as drain_mod


def _fail(_batch, batch_id: int) -> None:
    raise RuntimeError(f"refused batch {batch_id}")


@pytest.mark.parametrize("sink", [_fail, "memory"], ids=["foreachBatch", "memory"])
def test_failed_drain_cleans_up(spark, tmp_path, monkeypatch, sink):
    stream = SimStream.create(str(tmp_path / "stream"), n_shards=1)
    stream.put_records([("k", b"payload")])
    sdf = stream.read_stream(spark, TrimHorizon())
    if sink == "memory":  # the pinned-partitions path fails inside the plan
        sdf = sdf.select(F.raise_error(F.lit("refused batch 0")))
    made: list[str] = []

    def scratch_dir(name: str) -> str:
        made.append(shared.scratch_dir(name))
        return made[-1]

    monkeypatch.setattr(drain_mod, "scratch_dir", scratch_dir)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(Exception, match="refused batch 0"):
        drain_mod.drain(sdf, sink)
    assert made and not os.path.exists(made[0])
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert spark.streams.active == []


class TestStatePartitionsOverride:
    """SPARK_GRAFT_STATE_PARTITIONS beats the per-drain default (round-9
    ADVICE: the 16-cap silently excluded stateful operators from the
    shuffle-256 canary's 256-partition coverage)."""

    def _resolve(self, monkeypatch, env, default=16):
        from akka_streams_kinesis_spark.streaming.drain import (
            _state_partitions_override,
        )

        if env is None:
            monkeypatch.delenv("SPARK_GRAFT_STATE_PARTITIONS", raising=False)
        else:
            monkeypatch.setenv("SPARK_GRAFT_STATE_PARTITIONS", env)
        return _state_partitions_override(default)

    def test_unset_keeps_caller_default(self, monkeypatch):
        assert self._resolve(monkeypatch, None) == 16
        assert self._resolve(monkeypatch, None, default=None) is None

    def test_integer_forces_count(self, monkeypatch):
        assert self._resolve(monkeypatch, "256") == 256

    def test_session_inherits(self, monkeypatch):
        assert self._resolve(monkeypatch, "session") is None
        assert self._resolve(monkeypatch, "none") is None
        assert self._resolve(monkeypatch, "SESSION") is None

    def test_garbage_raises(self, monkeypatch):
        with pytest.raises(ValueError):
            self._resolve(monkeypatch, "lots")
