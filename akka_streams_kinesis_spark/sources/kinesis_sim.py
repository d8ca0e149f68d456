"""File-backed simulated sharded stream — the reference's source, Spark-first.

The reference's ``KinesisSource`` (KinesisSource.scala:71-79) is a
backpressured unbounded scan of a sharded stream: shard discovery over a
lineage DAG, per-shard positioned iterators, cursor advance by sequence
number, reshard-following. This module re-expresses each piece on Spark:

================================================================  =========
reference operator (SURVEY §2.A)                                   here
================================================================  =========
S1  KinesisSource.apply                                            SimStream.read_stream / read_batch
S2  IteratorType ADT (AtTimestamp/TrimHorizon/Latest)              IteratorType classes
S3  shardIteratorRequests (+ min(since, now) clamp)                SimStream.start_position: (floors, since)
S4  findOldestPossibleShards (DAG roots)                           no floor ⇒ a shard reads from 0
S5  findNewestPossibleShards (DAG leaves)                          Latest floors = next_sequence_numbers()
S6  findChildShards (ignores adjacent parent)                      each shard, child or not, has its own dir
S7  iteratorForReshard (Latest→TrimHorizon on children)            a child has no Latest floor ⇒ reads from 0
S8  nextIterator (resume AFTER_SEQUENCE_NUMBER)                    after-sequence floors / streaming checkpoint
S9  ShardId/ShardIterator value classes                            shard_id column + floors dict
S11 preStart bootstrap (describe → pick shards)                    shards.json + start_position at read start
S12 one read loop per shard                                        one input partition per shard dir
S13 handleReshard (follow children)                                re-plan: children have no floor ⇒ read from start
S15 emitThenGetRecords (demand-driven emit)                        micro-batch rate cap (maxFilesPerTrigger)
S16 reissueThenGetRecords (expired-cursor recovery)                pyds._read_partition reissue (resume AFTER last seq)
S17 handleResult error dispatch (KinesisSource.scala:290-302)      pyds._read_partition fault policy (typed faults, injectable client)
S18 EagerTerminateOutput (cancel ⇒ stop)                           query.stop()
================================================================  =========

Data layout: ``<path>/shards.json`` is the control plane (the
describe-stream result plus the sequence counters). It holds
``next_shard``, the number the next new shard id takes, and ``shards``,
one entry per shard ever created:

  ``shard_id``                    ``shardId-<n:012d>``
  ``parent_shard_id``             the shard it was split or merged from
  ``adjacent_parent_shard_id``    a merge's second parent (else null)
  ``starting_hash_key``,          the inclusive md5 hash-key range it owns,
  ``ending_hash_key``             as decimal strings
  ``closed``                      true once split or merged away; only open
                                  shards take puts
  ``next_seq``                    the first sequence number the next put
                                  to it may use

``SimStream`` alone reads and writes it (``_meta``/``_write_meta``, by
rename), routes a partition key to its shard (``shard_router``), reserves
sequence numbers, and says where each shard's files are (``shard_dir``,
``shard_dirs``), where each shard ends (``next_sequence_numbers``) and
where a read at a start position begins (``start_position``).

``<path>/data/shard_id=<id>/*.parquet`` holds records
``(sequence_number, partition_key, data, ts)``. Hive partitioning by
shard_id means Spark plans one file-scan partition per shard — the exact
analog of "one poll loop per shard" (KinesisSource.scala:211-223) — and
shard-pruning filters never touch other shards' files. A shard gets its
dir with its first put, so a shard in ``shards.json`` without a dir holds
no record.

Each put file is named ``put-<first:020d>-<last:020d>-<uuid>.parquet``,
where first and last are the smallest and largest ``sequence_number`` it
holds (``write_put_file``). The name is the file's cursor range, as a
Kinesis sequence number addresses a record without reading it: the pyds
reader plans from names alone (``put_files``), and names sort by first
sequence number. Every ``*.parquet`` in a shard dir must carry such a
name; ``put_file_range`` rejects any other.

At real scale this layout IS the standard pattern (a Kafka/Kinesis landing
zone in object storage, partitioned by shard/partition-id); every operator
downstream is ordinary Structured Streaming.
"""

from __future__ import annotations

import glob
import json
import os
import re
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone
from hashlib import md5
from typing import Callable, Iterable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..shared import _persist

MAX_HASH = (1 << 128) - 1

RECORD_SCHEMA = StructType(
    [
        StructField("sequence_number", LongType()),
        StructField("partition_key", StringType()),
        StructField("data", BinaryType()),
        StructField("ts", TimestampType()),
    ]
)


def write_put_file(shard_dir: str, seqs, pks, datas, naive_ts: datetime) -> str:
    """Publish one put file of ``(seqs[i], pks[i], datas[i])`` records
    arrived at ``naive_ts``. It is written under a dot-prefixed temp name,
    which readers skip, and renamed to its put-file name (module doc) once
    whole: a reader never lists a half-written file, and a file it lists
    never changes. A failed write leaves nothing behind. An empty put has
    no sequence range to name, so it is refused."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if len(seqs) == 0:
        raise ValueError(f"empty put to {shard_dir}: a put file holds at least one record")
    tbl = pa.table(
        {
            "sequence_number": pa.array(seqs, pa.int64()),
            "partition_key": pa.array(pks, pa.string()),
            "data": pa.array(datas, pa.binary()),
            "ts": pa.array([naive_ts] * len(seqs), pa.timestamp("us")),
        }
    )
    os.makedirs(shard_dir, exist_ok=True)
    mm = pc.min_max(tbl["sequence_number"]).as_py()
    name = f"put-{mm['min']:020d}-{mm['max']:020d}-{uuid.uuid4().hex}.parquet"
    final, tmp = os.path.join(shard_dir, name), os.path.join(shard_dir, f".{name}.tmp")
    try:
        pq.write_table(tbl, tmp)
        os.replace(tmp, final)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    return final


_PUT_NAME = re.compile(r"put-(\d{20})-(\d{20})-[0-9a-f]{32}\.parquet")


def put_file_range(path: str) -> tuple[int, int]:
    """(first, last) sequence number of one put file, read from its name."""
    m = _PUT_NAME.fullmatch(os.path.basename(path))
    if m is None:
        raise ValueError(
            f"{path} is not a put file: a shard dir holds only "
            "put-<first:020d>-<last:020d>-<uuid>.parquet files"
        )
    return int(m[1]), int(m[2])


def put_files(shard_dir: str) -> dict[str, tuple[int, int]]:
    """Every put file of one shard dir → its (first, last) sequence range,
    in ascending order of first. Lists the dir; opens no file."""
    return {
        f: put_file_range(f)
        for f in sorted(glob.glob(os.path.join(shard_dir, "*.parquet")))
    }


def next_sequence_number(files: dict[str, tuple[int, int]]) -> int:
    """Where one shard ends, from its ``put_files``: one past the largest
    last sequence number, 0 for a shard without files."""
    return max((last for _, last in files.values()), default=-1) + 1


# ---------------------------------------------------------------------------
# Iterator types (S2) — start-position ADT, KinesisSource.scala:29-35
# ---------------------------------------------------------------------------

class IteratorType:
    pass


@dataclass(frozen=True)
class TrimHorizon(IteratorType):
    """Read from the oldest retained record."""


@dataclass(frozen=True)
class Latest(IteratorType):
    """Read only records produced after the query starts."""


@dataclass(frozen=True)
class AtTimestamp(IteratorType):
    """Read from a wall-clock position; clamped to now (S3 clamp)."""

    since: datetime


def _as_utc_naive(ts: datetime) -> datetime:
    """Normalize a datetime to naive-UTC. Naive input is TREATED as UTC —
    calling astimezone() on a naive value would interpret it in the
    machine's local zone and silently shift arrival timestamps, while the
    read side (the pyds options, AtTimestamp) treats naive as UTC."""
    if ts.tzinfo is None:
        return ts
    return ts.astimezone(timezone.utc).replace(tzinfo=None)


def utc_now() -> datetime:
    """The stream's clock: now as naive UTC, the form ``ts`` is stored in."""
    return datetime.now(timezone.utc).replace(tzinfo=None)


def hash_key_for_partition_key(pk: str) -> int:
    """Kinesis-style placement: md5(partition_key) as a 128-bit int mapped
    into a shard's [starting_hash_key, ending_hash_key] range."""
    return int(md5(pk.encode("utf-8")).hexdigest(), 16)


def shard_router(shards: list[dict]) -> Callable[[str], str]:
    """partition key → id of the open shard whose hash range holds its hash
    key. The open shards' ranges are parsed once, here, and the router
    pickles with them to executors. A hash no open shard covers (say, a
    hand-edited ``shards.json``) raises a ``RuntimeError`` naming the key
    and the open ranges."""
    ranges = [
        (s["shard_id"], int(s["starting_hash_key"]), int(s["ending_hash_key"]))
        for s in shards
        if not s["closed"]
    ]

    def route(pk: str) -> str:
        h = hash_key_for_partition_key(pk)
        for sid, lo, hi in ranges:
            if lo <= h <= hi:
                return sid
        raise RuntimeError(
            f"no open shard covers hash key {h} for partition key {pk!r}; "
            f"open ranges: {ranges}"
        )

    return route


# ---------------------------------------------------------------------------
# The simulated stream
# ---------------------------------------------------------------------------

class SimStream:
    """A file-backed sharded stream with Kinesis semantics: shard lineage,
    partition-key hash placement, per-shard monotonic sequence numbers,
    split/merge resharding."""

    def __init__(self, path: str):
        self.path = path
        self.data_dir = os.path.join(path, "data")

    # -- admin (driver-side; the analog of the AWS control-plane calls) ----

    @classmethod
    def create(cls, path: str, n_shards: int = 2) -> "SimStream":
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        width = (MAX_HASH + 1) // n_shards
        shards = []
        for i in range(n_shards):
            lo = i * width
            hi = MAX_HASH if i == n_shards - 1 else (i + 1) * width - 1
            shards.append(
                {
                    "shard_id": f"shardId-{i:012d}",
                    "parent_shard_id": None,
                    "adjacent_parent_shard_id": None,
                    "starting_hash_key": str(lo),
                    "ending_hash_key": str(hi),
                    "closed": False,
                    "next_seq": 0,
                }
            )
        stream = cls(path)
        stream._write_meta({"shards": shards, "next_shard": n_shards})
        return stream

    def _meta(self) -> dict:
        with open(os.path.join(self.path, "shards.json")) as f:
            return json.load(f)

    def _write_meta(self, meta: dict) -> None:
        tmp = os.path.join(self.path, "shards.json.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, os.path.join(self.path, "shards.json"))

    def open_shards(self) -> list[dict]:
        return [s for s in self._meta()["shards"] if not s["closed"]]

    def advance_next_seq(self, max_seqs: Iterable[dict[str, int]]) -> None:
        """Raise each shard's next_seq past the largest sequence number a
        put job wrote to it (``max_seqs``: one shard → max map per task),
        so the next job starts above it. One read and one write of
        ``shards.json``."""
        meta = self._meta()
        by_id = {s["shard_id"]: s for s in meta["shards"]}
        for m in max_seqs:
            for sid, mx in m.items():
                by_id[sid]["next_seq"] = max(int(by_id[sid]["next_seq"]), mx + 1)
        self._write_meta(meta)

    @staticmethod
    def _reserve(meta: dict, counts: dict[str, int]) -> dict[str, int]:
        """Reserve ``counts[shard_id]`` dense sequence numbers on each
        shard of ``meta``: returns each shard's first and moves its next_seq
        past the last. The caller writes ``meta`` back."""
        bases = {}
        for s in meta["shards"]:
            if s["shard_id"] in counts:
                bases[s["shard_id"]] = s["next_seq"]
                s["next_seq"] += counts[s["shard_id"]]
        return bases

    # -- where each shard's records are ------------------------------------

    def shard_dir(self, shard_id: str) -> str:
        return os.path.join(self.data_dir, f"shard_id={shard_id}")

    def shard_dirs(self) -> dict[str, str]:
        """shard_id → its data dir, for every shard that has one, in shard
        id order. One listing of ``data``."""
        return {
            d.rsplit("shard_id=", 1)[1]: d
            for d in sorted(glob.glob(self.shard_dir("*")))
        }

    def next_sequence_numbers(self) -> dict[str, int]:
        """shard_id → the sequence number after its last record, for every
        shard dir (``next_sequence_number``): the stream's end, and the
        checkpointable resume cursor (S8/S9). Read from the put files'
        names; opens no file."""
        return {
            sid: next_sequence_number(put_files(d))
            for sid, d in self.shard_dirs().items()
        }

    def start_position(
        self, iterator: IteratorType, now: datetime | None = None
    ) -> tuple[dict[str, int], datetime | None]:
        """Where a read at ``iterator`` starts, for every reader of the
        stream: ``(floors, since)``. A read keeps a shard's records with
        ``sequence_number >= floors.get(shard_id, 0)`` and, when ``since``
        is set, ``ts >= since``.

        - TrimHorizon: no floor and no ``since``.
        - Latest: each shard's next sequence number now (S8's cursor). A
          shard without a dir now, such as a later reshard's child, has no
          floor and reads from 0: the Latest→TrimHorizon rewrite (S7,
          KinesisSource.scala:160-163), with no walk of the lineage (S4-S6).
        - AtTimestamp: ``since = min(since, now)`` in naive UTC, so a future
          timestamp still reads (the S3 clamp, KinesisSource.scala:100-102).
          ``now`` is injected like the reference's Clock (:77).

        Lists the shard dirs for Latest only; opens no file."""
        if isinstance(iterator, TrimHorizon):
            return {}, None
        if isinstance(iterator, Latest):
            return self.next_sequence_numbers(), None
        if isinstance(iterator, AtTimestamp):
            return {}, min(_as_utc_naive(iterator.since), _as_utc_naive(now or utc_now()))
        raise TypeError(f"unknown iterator type {iterator!r}")

    # -- produce (test harness / FilePut sink target) ----------------------

    def put_records(self, records: list[tuple[str, bytes]], ts: datetime | None = None) -> list[dict]:
        """Append (partition_key, data) records: hash each key into an open
        shard's hash range, assign the shard's next sequence numbers, write
        one parquet file per touched shard. Returns per-record placement
        (shard_id, sequence_number) like PutRecords result entries, in
        input order."""
        meta = self._meta()
        route = shard_router(meta["shards"])
        naive_ts = _as_utc_naive(ts or utc_now())
        placed: dict[str, list[int]] = {}
        for i, (pk, _) in enumerate(records):
            placed.setdefault(route(pk), []).append(i)
        bases = self._reserve(meta, {sid: len(ix) for sid, ix in placed.items()})
        results: list = [None] * len(records)
        for sid, ix in placed.items():
            seqs = range(bases[sid], bases[sid] + len(ix))
            write_put_file(
                self.shard_dir(sid),
                seqs,
                [records[i][0] for i in ix],
                [records[i][1] for i in ix],
                naive_ts,
            )
            for i, seq in zip(ix, seqs):
                results[i] = {"shard_id": sid, "sequence_number": seq}
        self._write_meta(meta)
        return results

    def put_records_distributed(
        self, df: DataFrame, ts: datetime | None = None
    ) -> None:
        """Distributed produce of a ``(partition_key string, data binary)``
        DataFrame — the scale path for backfilling a stream from a table,
        replacing the driver-side collect-and-put loop (which at corpus
        scale makes the harness, not the engine, the bottleneck and a
        driver-memory risk).

        Three phases, honoring the same per-shard monotonic sequence
        contract as put_records:
        1. executors assign each record its shard via the same
           ``shard_router`` (Arrow-batched);
        2. the driver reserves one contiguous sequence range per shard in
           the control-plane metadata (a per-shard count is the only thing
           collected);
        3. executors number records inside their reserved range
           (row_number per shard, deterministic order) and write the shard
           parquet files directly.
        """
        import pandas as pd
        from pyspark.sql import Window
        from typing import Iterator

        meta = self._meta()
        route = shard_router(meta["shards"])
        naive_ts = _as_utc_naive(ts or utc_now())
        shard_dir = self.shard_dir

        def _assign(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
            for b in batches:
                yield pd.DataFrame(
                    {
                        "partition_key": b["partition_key"],
                        "data": b["data"],
                        "shard_id": [route(pk) for pk in b["partition_key"]],
                    }
                )

        assigned = _persist(df.select("partition_key", "data").mapInPandas(
            _assign, "partition_key string, data binary, shard_id string"
        ))
        try:
            counts = {
                r["shard_id"]: r["count"]
                for r in assigned.groupBy("shard_id").count().collect()
            }
            bases = self._reserve(meta, counts)

            w = Window.partitionBy("shard_id").orderBy("partition_key", "data")
            seqd = assigned.withColumn("rn", F.row_number().over(w) - 1)

            def _write(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
                for b in batches:
                    for sid, g in b.groupby("shard_id"):
                        write_put_file(
                            shard_dir(sid),
                            bases[sid] + g["rn"].to_numpy(),
                            g["partition_key"],
                            [bytes(x) for x in g["data"]],
                            naive_ts,
                        )
                        yield pd.DataFrame({"n": [len(g)]})

            written = (
                seqd.repartition("shard_id")
                .mapInPandas(_write, "n long")
                .agg(F.sum("n"))
                .first()[0]
            )
        finally:
            assigned.unpersist()
        total = sum(counts.values())
        if (written or 0) != total:
            raise RuntimeError(
                f"distributed put wrote {written} records, expected {total}"
            )
        self._write_meta(meta)

    # -- reshard (split/merge, KinesaliteTest.scala:70-81 scenarios) -------

    @staticmethod
    def _open_shard(meta: dict, shard_id: str) -> dict:
        s = next((s for s in meta["shards"] if s["shard_id"] == shard_id), None)
        if s is None:
            raise ValueError(f"no shard {shard_id}")
        if s["closed"]:
            raise ValueError(f"shard {shard_id} already closed")
        return s

    def split_shard(self, shard_id: str) -> tuple[str, str]:
        """Split at the midpoint of the hash range: parent closes, two
        children each inherit half (KinesaliteTest.scala:74-78)."""
        meta = self._meta()
        parent = self._open_shard(meta, shard_id)
        lo, hi = int(parent["starting_hash_key"]), int(parent["ending_hash_key"])
        mid = (lo + hi) // 2
        parent["closed"] = True
        kids = []
        for lo_, hi_ in ((lo, mid), (mid + 1, hi)):
            kid_id = f"shardId-{meta['next_shard']:012d}"
            meta["next_shard"] += 1
            kids.append(kid_id)
            meta["shards"].append(
                {
                    "shard_id": kid_id,
                    "parent_shard_id": shard_id,
                    "adjacent_parent_shard_id": None,
                    "starting_hash_key": str(lo_),
                    "ending_hash_key": str(hi_),
                    "closed": False,
                    "next_seq": 0,
                }
            )
        self._write_meta(meta)
        return kids[0], kids[1]

    def merge_shards(self, a: str, b: str) -> str:
        """Merge two open, adjacent shards: both close; the child carries
        parent=a, adjacent_parent=b and the union of their hash ranges
        (KinesisSourceTest.scala:161-172). Like Kinesis's MergeShards, a
        closed shard or a pair whose ranges do not touch is refused: either
        would leave open ranges that overlap."""
        meta = self._meta()
        sa, sb = self._open_shard(meta, a), self._open_shard(meta, b)
        (lo, low_end), (high_start, hi) = sorted(
            (int(s["starting_hash_key"]), int(s["ending_hash_key"])) for s in (sa, sb)
        )
        if low_end + 1 != high_start:
            raise ValueError(f"shards {a} and {b} are not adjacent")
        sa["closed"] = True
        sb["closed"] = True
        kid_id = f"shardId-{meta['next_shard']:012d}"
        meta["next_shard"] += 1
        meta["shards"].append(
            {
                "shard_id": kid_id,
                "parent_shard_id": a,
                "adjacent_parent_shard_id": b,
                "starting_hash_key": str(lo),
                "ending_hash_key": str(hi),
                "closed": False,
                "next_seq": 0,
            }
        )
        self._write_meta(meta)
        return kid_id

    # -- consume (S1): batch + streaming scans -----------------------------

    def _scan(
        self,
        spark: SparkSession,
        iterator: IteratorType | None,
        now: datetime | None,
        streaming: bool,
        max_files: int | None = None,
    ) -> DataFrame:
        """The file-source scan of every shard dir from ``start_position``:
        each shard's floor is one predicate on ``shard_id``, ``since`` one
        on ``ts``. TrimHorizon adds no node to the plan."""
        floors, since = self.start_position(iterator or TrimHorizon(), now)
        # fresh StructType: .add() would mutate the module-level schema
        schema = StructType(list(RECORD_SCHEMA.fields) + [StructField("shard_id", StringType())])
        if streaming:
            reader = spark.readStream.schema(schema)
            if max_files:
                reader = reader.option("maxFilesPerTrigger", max_files)
        else:
            reader = spark.read.schema(schema)
        df = reader.option("basePath", self.data_dir).parquet(self.shard_dir("*"))
        if floors:
            pairs = [c for sid, lo in floors.items() for c in (F.lit(sid), F.lit(lo).cast("long"))]
            floor = F.create_map(*pairs)[F.col("shard_id")]
            df = df.filter(F.col("sequence_number") >= F.coalesce(floor, F.lit(0)))
        if since is not None:
            df = df.filter(F.col("ts") >= F.lit(since))
        return df

    def read_batch(
        self,
        spark: SparkSession,
        iterator: IteratorType | None = None,
        now: datetime | None = None,
    ) -> DataFrame:
        """Bounded scan of the stream at a start position (the batch analog
        of S1's unbounded source)."""
        return self._scan(spark, iterator, now, streaming=False)

    def read_stream(
        self,
        spark: SparkSession,
        iterator: IteratorType | None = None,
        max_files_per_trigger: int | None = None,
        now: datetime | None = None,
    ) -> DataFrame:
        """Unbounded scan (S1): a streaming DataFrame of
        (shard_id, sequence_number, partition_key, data, ts).

        Micro-batch planning discovers new shard directories each batch —
        the reshard-follow path (S13) without bespoke code; the rate cap
        (maxFilesPerTrigger) plays the role of demand-driven backpressure
        (S15). Offsets live in the checkpoint WAL (S8's reissue token)."""
        return self._scan(spark, iterator, now, streaming=True, max_files=max_files_per_trigger)
