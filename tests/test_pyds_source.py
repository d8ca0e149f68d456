"""Python DataSource V2 source (`sources/pyds.py`): the reference's source
semantics at the DataSource level — positioned batch reads, planner-side
shard pruning, and streaming offsets = per-shard sequence cursors with
checkpoint resume and reshard follow.

Mirrors the reference's test tiers (SURVEY §5): positioned-read semantics
(KinesisSourceTest.scala:36-60), Latest isolation (:213-231), reshard
follow while reading (:184-195).
"""

from __future__ import annotations

import os
import re
from datetime import datetime, timedelta

import pytest

from akka_streams_kinesis_spark.sources import pyds
from akka_streams_kinesis_spark.sources.kinesis_sim import SimStream, put_files

T0 = datetime(2024, 1, 1, 0, 0, 0)


@pytest.fixture()
def stream(tmp_path):
    s = SimStream.create(str(tmp_path / "stream"), n_shards=2)
    s.put_records([(f"k{i}", f"v{i}".encode()) for i in range(10)], ts=T0)
    s.put_records(
        [(f"k{i}", f"w{i}".encode()) for i in range(10)], ts=T0 + timedelta(hours=1)
    )
    return s


def _batch(spark, path, **opts):
    r = spark.read.format(pyds.FORMAT_NAME).option("path", path)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_trim_horizon_matches_wrapper_source(spark, stream):
    pyds.register(spark)
    got = _batch(spark, stream.path)
    want = stream.read_batch(spark)
    key = lambda r: (r["shard_id"], r["sequence_number"])
    grows = sorted(got.collect(), key=key)
    wrows = sorted(want.select(*got.columns).collect(), key=key)
    assert [tuple(r) for r in grows] == [tuple(r) for r in wrows]
    assert len(grows) == 20


def test_at_timestamp_positions_and_clamps(spark, stream):
    pyds.register(spark)
    # position at 00:30 → only the hour-1 put
    mid = _batch(
        spark,
        stream.path,
        starting_position="at_timestamp:2024-01-01T00:30:00",
        now="2024-01-01T02:00:00",
    )
    assert mid.count() == 10
    # future position is clamped to min(since, now) → everything still reads
    future = _batch(
        spark,
        stream.path,
        starting_position="at_timestamp:2030-01-01T00:00:00",
        now="2024-01-01T00:00:00",
    )
    assert future.count() == 20


def test_latest_reads_nothing_until_new_data(spark, stream):
    pyds.register(spark)
    assert _batch(spark, stream.path, starting_position="latest").count() == 0
    # snapshot semantics: the floor is resolved at planning time, so a NEW
    # read after more puts sees only the delta
    stream.put_records([("k1", b"new1"), ("k2", b"new2")], ts=T0 + timedelta(hours=2))
    assert _batch(spark, stream.path, starting_position="latest").count() == 0
    delta = _batch(spark, stream.path)
    assert delta.count() == 22


def test_shard_filter_prunes_partitions(spark, stream):
    pyds.register(spark)
    df = _batch(spark, stream.path)
    one = df.filter(df.shard_id == "shardId-000000000000")
    rows = one.collect()
    assert rows and all(r["shard_id"] == "shardId-000000000000" for r in rows)
    # the pushed filter must prune at planning: the scan plans one
    # partition (= one shard), not one per shard directory
    reader = pyds.KinesisSimBatchReader({"path": stream.path})
    from pyspark.sql.datasource import EqualTo

    rest = list(reader.pushFilters([EqualTo(("shard_id",), "shardId-000000000000")]))
    assert rest == []  # fully consumed
    parts = reader.partitions()
    assert [p.shard_id for p in parts] == ["shardId-000000000000"]


def test_multiple_shard_filters_intersect_not_overwrite(spark, stream):
    # conjunctive pushdown: shard_id IN (a, b) AND shard_id = a — Catalyst
    # does not always fold these, and CONSUMING a filter promises Spark it
    # was fully applied, so the reader must intersect the sets (keeping
    # only the last filter would silently return rows the query excluded)
    from pyspark.sql.datasource import EqualTo, In

    a, b = "shardId-000000000000", "shardId-000000000001"
    reader = pyds.KinesisSimBatchReader({"path": stream.path})
    rest = list(
        reader.pushFilters([In(("shard_id",), (a, b)), EqualTo(("shard_id",), a)])
    )
    assert rest == []
    assert reader.wanted_shards == {a}
    assert [p.shard_id for p in reader.partitions()] == [a]

    # disjoint predicates intersect to the empty set -> zero partitions
    reader2 = pyds.KinesisSimBatchReader({"path": stream.path})
    list(reader2.pushFilters([EqualTo(("shard_id",), a), EqualTo(("shard_id",), b)]))
    assert reader2.wanted_shards == set()
    assert reader2.partitions() == []


def _drain(spark, sdf, out_dir, ckpt):
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # explicit schema: a zero-row drain leaves no data files to infer from
    return spark.read.schema(pyds.SCHEMA).parquet(out_dir)


def test_stream_drains_and_resumes_from_checkpoint(spark, stream, tmp_path):
    pyds.register(spark)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    sdf = spark.readStream.format(pyds.FORMAT_NAME).option("path", stream.path).load()
    assert _drain(spark, sdf, out, ckpt).count() == 20
    # append → the SAME checkpoint reads only the delta (offset cursor =
    # per-shard next sequence number, resumed from the WAL)
    stream.put_records([("k1", b"late1"), ("k9", b"late2")], ts=T0 + timedelta(hours=2))
    assert _drain(spark, sdf, out, ckpt).count() == 22


def test_stream_follows_reshard(spark, stream, tmp_path):
    pyds.register(spark)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    sdf = spark.readStream.format(pyds.FORMAT_NAME).option("path", stream.path).load()
    assert _drain(spark, sdf, out, ckpt).count() == 20
    # split a shard mid-stream; children are new shard ids with no start
    # offset → they read from 0 (the Latest→TrimHorizon rewrite, S7)
    kid_a, kid_b = stream.split_shard("shardId-000000000000")
    stream.put_records([(f"k{i}", f"x{i}".encode()) for i in range(10)], ts=T0 + timedelta(hours=3))
    got = _drain(spark, sdf, out, ckpt)
    assert got.count() == 30
    new_shards = {r["shard_id"] for r in got.collect()} - {
        "shardId-000000000000",
        "shardId-000000000001",
    }
    assert new_shards  # at least one child shard produced rows


def test_stream_latest_skips_history(spark, stream, tmp_path):
    pyds.register(spark)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    sdf = (
        spark.readStream.format(pyds.FORMAT_NAME)
        .option("path", stream.path)
        .option("starting_position", "latest")
        .load()
    )
    # Latest resolves its floor when the query starts: the first drain must
    # skip all 20 historical records (KinesisSourceTest.scala:213-231 —
    # LATEST isolation), and a later drain from the same checkpoint sees
    # only what was produced after
    assert _drain(spark, sdf, out, ckpt).count() == 0
    stream.put_records([("k1", b"only-this")], ts=T0 + timedelta(hours=2))
    got = _drain(spark, sdf, out, ckpt)
    assert got.count() == 1
    assert bytes(got.collect()[0]["data"]) == b"only-this"


# -- planning from put-file names ------------------------------------------


@pytest.fixture()
def long_stream(tmp_path):
    """Many small puts, so each shard holds many files."""
    s = SimStream.create(str(tmp_path / "long"), n_shards=2)
    for j in range(12):
        s.put_records(
            [(f"k{i}", f"p{j}-{i}".encode()) for i in range(5)],
            ts=T0 + timedelta(minutes=j),
        )
    return s


def _rows(reader, parts):
    return sorted(
        tuple(r.values())
        for p in parts
        for b in reader.read(p)
        for r in b.to_pylist()
    )


def test_pruned_partitions_read_the_same_rows(long_stream):
    import random

    reader = pyds.KinesisSimStreamReader({"path": long_stream.path})
    end = reader.latestOffset()
    dirs = long_stream.shard_dirs()
    rng = random.Random(7)
    for _ in range(20):
        start, stop = {}, {}
        for s, e in end.items():
            lo, hi = sorted(rng.randint(0, e) for _ in range(2))
            start[s], stop[s] = lo, hi
        parts = reader.partitions(start, stop)
        unpruned = [
            pyds.ShardPartition(
                shard_id=s, files=list(put_files(dirs[s])), lo=start[s], hi=stop[s]
            )
            for s in stop
            if stop[s] > start[s]
        ]
        assert _rows(reader, parts) == _rows(reader, unpruned)
        for p in parts:  # exactly the files holding a record of [lo, hi)
            assert p.files == [
                f
                for f in put_files(dirs[p.shard_id])
                if any(p.lo <= q < p.hi for q in _seqs(f))
            ]


def _seqs(path):
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=["sequence_number"])[0].to_pylist()


def test_fresh_reader_plans_the_same_partitions(long_stream):
    a = pyds.KinesisSimStreamReader({"path": long_stream.path})
    end = a.latestOffset()
    start = {s: e // 2 for s, e in end.items()}
    b = pyds.KinesisSimStreamReader({"path": long_stream.path})  # restart
    assert b.partitions(start, end) == a.partitions(start, end)


def test_planning_opens_no_put_file(long_stream, monkeypatch):
    import pyarrow.parquet as pq

    def refuse(*a, **k):
        raise AssertionError(f"planning opened a put file: {a[:1]}")

    for name in ("read_metadata", "read_table", "ParquetFile"):
        monkeypatch.setattr(pq, name, refuse)
    for position in ("trim_horizon", "latest", "at_timestamp:2024-01-01T00:05:00"):
        opts = {"path": long_stream.path, "starting_position": position}
        pyds.KinesisSimStreamReader(opts).initialOffset()
    reader = pyds.KinesisSimStreamReader({"path": long_stream.path})
    start = reader.initialOffset()
    end = reader.latestOffset()
    assert sum(end.values()) == 60
    parts = reader.partitions(start, end)
    assert sum(len(p.files) for p in parts) == 24
    latest = pyds.KinesisSimBatchReader(
        {"path": long_stream.path, "starting_position": "latest"}
    )
    assert latest.partitions() == []  # a latest batch read ships no file


def test_foreign_parquet_in_shard_dir_is_rejected(stream):
    import pyarrow.parquet as pq

    shard = stream.shard_dirs()["shardId-000000000000"]
    foreign = os.path.join(shard, "part-0000.parquet")
    pq.write_table(pq.read_table(list(put_files(shard))[0]), foreign)
    reader = pyds.KinesisSimStreamReader({"path": stream.path})
    with pytest.raises(ValueError, match=re.escape(foreign)):
        reader.latestOffset()
    with pytest.raises(ValueError, match=re.escape(foreign)):
        reader.partitions({}, {"shardId-000000000000": 1})
    with pytest.raises(ValueError, match=re.escape(foreign)):
        pyds.KinesisSimBatchReader({"path": stream.path}).partitions()
    with pytest.raises(ValueError, match=re.escape(foreign)):
        stream.next_sequence_numbers()


def test_batch_read_of_a_stream_without_records_is_empty(spark, tmp_path):
    # no shard dir ⇒ no partition, which Spark runs as one read of None
    pyds.register(spark)
    empty = SimStream.create(str(tmp_path / "empty"), n_shards=2)
    assert _batch(spark, empty.path).count() == 0


@pytest.mark.parametrize("position", ["earliest", "latest:2024-01-01", "at_timestamp"])
def test_unknown_starting_position_is_rejected(stream, position):
    with pytest.raises(ValueError, match="starting_position"):
        pyds.KinesisSimStreamReader({"path": stream.path, "starting_position": position})
