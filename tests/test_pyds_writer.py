"""DataSource write path: retry/throttle policy, fail-fast, abort
cleanup, and the per-shard sequence contract. Drives ``_task_put``
directly with fake put clients — the same fake-client pattern as the
reference's writer tests (KinesisGraphStageTest.scala:27-59)."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest

from akka_streams_kinesis_spark.sources import pyds
from akka_streams_kinesis_spark.sources.kinesis_sim import SimStream
from akka_streams_kinesis_spark.streaming.writer import THROUGHPUT_EXCEEDED

from datetime import datetime

_TS = datetime(2024, 6, 1)


def _batch(n: int, prefix: str = "k"):
    return pa.record_batch(
        {
            "partition_key": pa.array([f"{prefix}{i}" for i in range(n)]),
            "data": pa.array([f"payload-{i}".encode() for i in range(n)]),
        }
    )


def _mk_stream(tmp_path, n_shards=2) -> str:
    path = os.path.join(str(tmp_path), "stream")
    SimStream.create(path, n_shards=n_shards)
    return path


def _read_all(path: str):
    import glob

    import pyarrow.parquet as pq

    rows = []
    for f in glob.glob(os.path.join(path, "data", "shard_id=*", "*.parquet")):
        rows.extend(pq.read_table(f).to_pylist())
    return rows


def test_default_put_writes_everything(tmp_path):
    path = _mk_stream(tmp_path)
    msg = pyds._task_put([_batch(700)], path, _TS)
    assert msg.n_rows == 700
    rows = _read_all(path)
    assert len(rows) == 700
    assert {r["partition_key"] for r in rows} == {f"k{i}" for i in range(700)}


def test_throttled_records_requeued_not_lost(tmp_path):
    path = _mk_stream(tmp_path)
    calls = {"n": 0}

    def throttle_then_ok(stream, batch):
        calls["n"] += 1
        if calls["n"] == 1:
            # first call: throttle every other record
            return [
                {
                    "error_code": THROUGHPUT_EXCEEDED if i % 2 == 0 else None,
                    "error_message": None,
                }
                for i in range(len(batch))
            ]
        return [{"error_code": None, "error_message": None} for _ in batch]

    sleeps = []
    msg = pyds._task_put(
        [_batch(100)], path, _TS, put_client=throttle_then_ok,
        sleep_fn=sleeps.append,
    )
    assert msg.n_rows == 100
    assert len(_read_all(path)) == 100  # requeued, exactly once
    assert 0.8 in sleeps  # the reference's throttle backoff


def test_service_errors_retried_with_backoff(tmp_path):
    path = _mk_stream(tmp_path)
    calls = {"n": 0}

    def flaky(stream, batch):
        calls["n"] += 1
        if calls["n"] <= 3:
            raise ConnectionError("503")
        return [{"error_code": None, "error_message": None} for _ in batch]

    sleeps = []
    msg = pyds._task_put(
        [_batch(10)], path, _TS, put_client=flaky, sleep_fn=sleeps.append
    )
    assert msg.n_rows == 10
    assert sleeps[:3] == [2, 4, 8]  # 2^n backoff


def test_persistent_failure_fails_fast(tmp_path):
    path = _mk_stream(tmp_path)

    def bad(stream, batch):
        return [
            {"error_code": "ValidationException", "error_message": "4xx"}
            for _ in batch
        ]

    with pytest.raises(RuntimeError, match="ValidationException"):
        pyds._task_put([_batch(5)], path, _TS, put_client=bad)
    assert _read_all(path) == []  # nothing persisted


def test_abort_cleanup_removes_acked_files(tmp_path):
    path = _mk_stream(tmp_path)
    msg = pyds._task_put([_batch(50)], path, _TS)
    assert len(_read_all(path)) == 50
    pyds._abort_cleanup([msg, None])
    assert _read_all(path) == []


def test_sequence_floor_advances_across_jobs(tmp_path):
    path = _mk_stream(tmp_path)
    m1 = pyds._task_put([_batch(100, "a")], path, _TS)
    SimStream(path).advance_next_seq([m1.max_seqs])
    m2 = pyds._task_put([_batch(100, "b")], path, _TS)
    SimStream(path).advance_next_seq([m2.max_seqs])
    # job 2's sequences all start above job 1's (the reader-resume contract)
    for sid, mx in m1.max_seqs.items():
        with open(os.path.join(path, "shards.json")) as f:
            meta = json.load(f)
        floor2 = {s["shard_id"]: s for s in meta["shards"]}[sid]["next_seq"]
        assert floor2 > mx
    # per-shard uniqueness across both jobs
    import glob

    import pyarrow.parquet as pq

    for d in glob.glob(os.path.join(path, "data", "shard_id=*")):
        ss = []
        for f in glob.glob(os.path.join(d, "*.parquet")):
            ss.extend(pq.read_table(f)["sequence_number"].to_pylist())
        assert len(ss) == len(set(ss)), d


def test_writer_follows_reshard(tmp_path):
    """After a shard split, new puts land in the CHILD shards (placement
    consults open shards only) and sequence floors stay monotone — the
    writer-side counterpart of the reader's reshard-follow (S13)."""
    path = _mk_stream(tmp_path, n_shards=1)
    m1 = pyds._task_put([_batch(50, "a")], path, _TS)
    SimStream(path).advance_next_seq([m1.max_seqs])
    stream = SimStream(path)
    parent = stream.open_shards()[0]["shard_id"]
    stream.split_shard(parent)
    children = {s["shard_id"] for s in stream.open_shards()}
    assert parent not in children and len(children) == 2
    m2 = pyds._task_put([_batch(200, "b")], path, _TS)
    SimStream(path).advance_next_seq([m2.max_seqs])
    assert set(m2.max_seqs) <= children  # nothing written to the closed parent
    # both children received records (hash range split spreads keys)
    assert len(m2.max_seqs) == 2


@pytest.mark.parametrize("path_name", ["put_records", "_task_put"])
def test_failed_put_leaves_no_parquet_file(tmp_path, monkeypatch, path_name):
    # Readers glob *.parquet: a put that dies mid-write must not leave a
    # half-written file under that name (or any temp file) behind.
    import pyarrow.parquet as pq

    def torn_write(table, where, **kw):
        with open(where, "wb") as f:
            f.write(b"PAR1 torn")
        raise OSError("disk full")

    path = _mk_stream(tmp_path)
    monkeypatch.setattr(pq, "write_table", torn_write)
    with pytest.raises(OSError, match="disk full"):
        if path_name == "put_records":
            SimStream(path).put_records([("k1", b"v1")], ts=_TS)
        else:
            pyds._task_put([_batch(3)], path, _TS)
    assert [f for _, _, fs in os.walk(os.path.join(path, "data")) for f in fs] == []
