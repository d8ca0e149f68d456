"""S17 handleResult error-dispatch tests for the Python DataSource reader.

Mirrors the reference's fake-client test structure
(KinesisSourceTest.scala, KinesisGraphStageTest.scala:27-59): a scripted
fake read client injects each AWS failure mode into the per-shard read
loop and the test asserts the reference's dispatch policy
(KinesisSource.scala:290-302):

  expired cursor       -> reissue from the AFTER_SEQUENCE_NUMBER floor;
                          no loss, no duplicates, new records picked up
  throughput exceeded  -> 800 ms backoff, repoll the same position
  service error (5xx)  -> bounded exponential-backoff retries
  client error (4xx)   -> fail fast, no retries

No SparkSession needed: the DataSource classes are plain Python (that is
the point of the seam), driven directly like the reference drives its
graph stages with a fake AmazonKinesisAsync.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pytest

from akka_streams_kinesis_spark.sources.kinesis_sim import SimStream
from akka_streams_kinesis_spark.sources.pyds import (
    ClientError,
    ExpiredIteratorError,
    KinesisSimBatchReader,
    ServiceError,
    ThroughputExceededError,
    _default_read_file,
    _MAX_SERVICE_RETRIES,
)
from akka_streams_kinesis_spark.streaming.writer import KINESIS_BACKOFF_SECONDS


@pytest.fixture()
def stream(tmp_path):
    s = SimStream.create(str(tmp_path / "stream"), n_shards=2)
    rows = [(str(i), f"payload-{i}".encode()) for i in range(40)]
    for i in range(0, len(rows), 10):
        s.put_records(rows[i : i + 10])
    return s


class ScriptedClient:
    """Raise a scripted exception before the Nth successful file read,
    optionally running a side effect first (e.g. new records landing
    during the outage) — the fake-AmazonKinesisAsync pattern."""

    def __init__(self, faults, side_effects=None):
        self.faults = list(faults)          # (call_index, exception)
        self.side_effects = dict(side_effects or {})
        self.calls = 0

    def __call__(self, path):
        idx = self.calls
        self.calls += 1
        if idx in self.side_effects:
            self.side_effects.pop(idx)()
        for i, (at, exc) in enumerate(self.faults):
            if at == idx:
                self.faults.pop(i)
                raise exc
        return _default_read_file(path)


def _drain(reader) -> list[tuple]:
    rows = []
    for part in reader.partitions():
        batches = list(reader.read(part))
        if batches:
            t = pa.Table.from_batches(batches)
            rows.extend(
                zip(t["shard_id"].to_pylist(), t["sequence_number"].to_pylist(),
                    t["data"].to_pylist())
            )
    return sorted(rows)


def test_clean_read_baseline(stream):
    rows = _drain(KinesisSimBatchReader({"path": stream.path}))
    assert len(rows) == 40
    assert len(set(rows)) == 40


def test_expired_iterator_reissues_without_loss_or_dup(stream):
    client = ScriptedClient([(2, ExpiredIteratorError("cursor expired"))])
    sleeps: list[float] = []
    reader = KinesisSimBatchReader(
        {"path": stream.path}, read_file=client, sleep_fn=sleeps.append
    )
    rows = _drain(reader)
    clean = _drain(KinesisSimBatchReader({"path": stream.path}))
    assert rows == clean            # nothing lost, nothing re-emitted
    assert sleeps == []             # reissue is immediate, no backoff


def test_expired_iterator_keeps_bounded_scan_deterministic(stream):
    # records that arrive DURING the outage must NOT leak into the
    # already-planned bounded scan via the reissue path: a faulting run
    # and a clean run of the same scan must return identical results
    # (the retry re-list is restricted to the planned file set). The
    # outage-window records belong to the NEXT scan, which plans fresh.
    def land_more():
        stream.put_records([(str(i), f"late-{i}".encode()) for i in range(40, 50)])

    # call 3 is the expired shard's last planned file (shard 0 drains first)
    client = ScriptedClient(
        [(3, ExpiredIteratorError("cursor expired"))], side_effects={3: land_more}
    )
    reader = KinesisSimBatchReader({"path": stream.path}, read_file=client,
                                   sleep_fn=lambda s: None)
    rows = _drain(reader)
    assert len(rows) == 40                             # planned snapshot only
    assert not any(r[2].startswith(b"late-") for r in rows)
    fresh = _drain(KinesisSimBatchReader({"path": stream.path}))
    assert len(fresh) == 50                            # next scan sees them all
    assert sorted(set(fresh) - set(rows)) == sorted(
        r for r in fresh if r[2].startswith(b"late-")
    )                                                  # no loss across the two


def test_throughput_exceeded_backs_off_and_repolls(stream):
    # the repoll of throttled call 1 is call 2: throttle both, so the same
    # position is throttled twice before succeeding
    client = ScriptedClient(
        [(1, ThroughputExceededError()), (2, ThroughputExceededError())]
    )
    sleeps: list[float] = []
    reader = KinesisSimBatchReader(
        {"path": stream.path}, read_file=client, sleep_fn=sleeps.append
    )
    rows = _drain(reader)
    assert len(rows) == 40
    assert sleeps.count(KINESIS_BACKOFF_SECONDS) == 2   # 800 ms per throttle


def test_service_error_bounded_retries_then_succeeds(stream):
    # retries of failed call 0 are calls 1 and 2: three consecutive 5xx
    client = ScriptedClient([(0, ServiceError()), (1, ServiceError()), (2, ServiceError())])
    sleeps: list[float] = []
    reader = KinesisSimBatchReader(
        {"path": stream.path}, read_file=client, sleep_fn=sleeps.append
    )
    rows = _drain(reader)
    assert len(rows) == 40
    assert sleeps == [2.0, 4.0, 8.0]   # 2^n backoff


def test_service_error_exhausts_retry_budget(stream):
    always = [(i, ServiceError()) for i in range(_MAX_SERVICE_RETRIES + 1)]
    sleeps: list[float] = []
    reader = KinesisSimBatchReader(
        {"path": stream.path}, read_file=ScriptedClient(always),
        sleep_fn=sleeps.append,
    )
    with pytest.raises(ServiceError):
        _drain(reader)
    assert len(sleeps) == _MAX_SERVICE_RETRIES
    assert sleeps[-1] == 64.0          # capped backoff


def test_client_error_fails_fast(stream):
    client = ScriptedClient([(0, ClientError("bad request"))])
    sleeps: list[float] = []
    reader = KinesisSimBatchReader(
        {"path": stream.path}, read_file=client, sleep_fn=sleeps.append
    )
    with pytest.raises(ClientError):
        _drain(reader)
    assert sleeps == []                # no retry, no backoff
    assert client.calls == 1


class AlwaysRaise:
    """A fault-stuck client: raises the same exception on every call."""

    def __init__(self, exc):
        self.exc = exc
        self.calls = 0

    def __call__(self, path):
        self.calls += 1
        raise self.exc


def test_persistent_throttle_exhausts_budget(stream):
    from akka_streams_kinesis_spark.sources.pyds import _MAX_THROTTLE_RETRIES

    sleeps: list[float] = []
    reader = KinesisSimBatchReader(
        {"path": stream.path},
        read_file=AlwaysRaise(ThroughputExceededError()),
        sleep_fn=sleeps.append,
    )
    with pytest.raises(RuntimeError, match="still throttled"):
        _drain(reader)
    # budget consumed, then loud failure — never an infinite hang
    assert len(sleeps) == _MAX_THROTTLE_RETRIES


def test_persistent_expired_iterator_exhausts_budget(stream):
    from akka_streams_kinesis_spark.sources.pyds import _MAX_REISSUE_RETRIES

    client = AlwaysRaise(ExpiredIteratorError("cursor expired"))
    reader = KinesisSimBatchReader(
        {"path": stream.path}, read_file=client, sleep_fn=lambda s: None
    )
    with pytest.raises(RuntimeError, match="still expired"):
        _drain(reader)
    assert client.calls == _MAX_REISSUE_RETRIES + 1
