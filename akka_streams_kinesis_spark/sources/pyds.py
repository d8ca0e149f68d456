"""Python DataSource V2 (`pyspark.sql.datasource`, Spark 4) for the
file-backed simulated Kinesis stream — the reference's source surface
(`KinesisSource.scala:71-79`) expressed at the DataSource level instead of
as a wrapper over the file source.

Why this exists alongside ``kinesis_sim.SimStream``: the wrapper proves the
semantics on Spark's built-in parquet source; this module proves the same
semantics where a *real* connector would live — a ``DataSource`` with a
batch reader (one InputPartition per shard = "one poll loop per shard",
`KinesisSource.scala:211-223`), planner-side shard pruning via
``pushFilters``, and a ``DataSourceStreamReader`` whose offsets are the
per-shard next-sequence-number cursor (`KinesisSource.scala:55-65` — the
reissue token IS the checkpointed offset, SURVEY §2.A S8/S9). Reads go
through a fault-injectable client with the reference's four-way
handleResult error dispatch (S17, `KinesisSource.scala:290-302`): expired
cursor → reissue from the sequence floor; throughput exceeded → 800 ms
backoff + repoll; service error → bounded retry; client error → fail
fast. See the S17 section below and tests/test_pyds_errors.py. The
control plane — ``shards.json``, key → shard routing, shard dirs and
where each shard ends — is ``SimStream``'s; both readers and both writers
call it.

Usage::

    from akka_streams_kinesis_spark.sources.pyds import register
    register(spark)
    df = (spark.read.format("kinesis_sim_py")
          .option("path", stream_dir)
          .option("starting_position", "at_timestamp:2024-01-01T00:00:00")
          .load())
    sdf = spark.readStream.format("kinesis_sim_py").option(...).load()

Options:
  path               stream directory (shards.json + data/shard_id=*/)
  starting_position  trim_horizon (default) | latest | at_timestamp:<ISO>;
                     at_timestamp keeps the records whose arrival ``ts`` is
                     at or after min(since, now)
  now                <ISO> clock injection for the AtTimestamp clamp
                     min(since, now) (`KinesisSource.scala:100-102`; the
                     reference injects java.time.Clock the same way)

The position means what it means for ``SimStream.read_stream``/
``read_batch``: ``SimStream.start_position`` turns it into per-shard
sequence floors plus an optional ``since`` once, when a reader is made.
The stream reader's first offset is the floors; every partition of both
readers carries ``since``.

Scale notes: a put file's name carries its (first, last) sequence range
(``kinesis_sim`` "Data layout"), so ``latestOffset``, ``partitions()`` and
``latest`` resolution list each shard dir and open no put file; a reader
keeps no per-file state. ``partitions()`` ships only the files whose range
overlaps the batch's ``[lo, hi)``; a batch read's ``hi`` is each shard's
end, from the same listing. A listing still costs O(files in the shard
dir), and a stream trigger lists every shard twice (``latestOffset`` and
``partitions``). All record bytes flow executor-side
as Arrow batches, never through the driver. Put files are published by
rename (``kinesis_sim.write_put_file``), so a listed file is whole and never
changes. The reader and the relay path persist no frame, so the AQE-sized
caches of ``shared._persist`` play no part here.

A stream→stream relay micro-batch makes 6 Python worker calls: the write
planner (Spark 4.1 calls ``streamWriter`` again every batch), the commit
runner, and one read and one put per shard task (2 shards). Each call
starts with pyspark's ``importlib.invalidate_caches()``. On CPython < 3.13
that re-read ``pyspark.zip`` once per zip importer: 80-118 ms of CPU per
call in a process holding 12-13 of them, and 1.38 s of Python worker CPU
per 1 000-record batch on a 4-core host. Every worker that unpickles this
module imports the package, whose ``_zipimport`` re-reads an archive only
when its stat changed: ~0.1 ms per call, 0.26 s of worker CPU per batch.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime
from typing import Iterable, Iterator, List

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
)
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .kinesis_sim import (
    AtTimestamp,
    IteratorType,
    Latest,
    SimStream,
    TrimHorizon,
    _as_utc_naive,
    next_sequence_number,
    put_files,
    shard_router,
    utc_now,
    write_put_file,
)

FORMAT_NAME = "kinesis_sim_py"

SCHEMA = StructType(
    [
        StructField("sequence_number", LongType()),
        StructField("partition_key", StringType()),
        StructField("data", BinaryType()),
        StructField("ts", TimestampType()),
        StructField("shard_id", StringType()),
    ]
)

_COLS = [f.name for f in SCHEMA.fields]


def _parse_iso(s: str) -> datetime:
    return _as_utc_naive(datetime.fromisoformat(s))


def _parse_position(option: str) -> IteratorType:
    """The ``starting_position`` option as the IteratorType ADT (S2)."""
    kind, _, since = option.partition(":")
    kind = kind.lower()
    if kind == "trim_horizon" and not since:
        return TrimHorizon()
    if kind == "latest" and not since:
        return Latest()
    if kind == "at_timestamp" and since:
        return AtTimestamp(_parse_iso(since))
    raise ValueError(
        "starting_position is trim_horizon, latest or at_timestamp:<ISO>; "
        f"got {option!r}"
    )


@dataclass
class ShardPartition(InputPartition):
    """One scan unit per shard — the analog of the reference's per-shard
    poll loop (S12). ``lo``/``hi`` bound sequence numbers [lo, hi);
    ``since`` is the optional arrival-time floor of an at_timestamp read,
    applied executor-side."""

    shard_id: str
    files: List[str] = field(default_factory=list)
    lo: int = 0
    hi: int | None = None
    since: datetime | None = None


# -- S17: handleResult error-dispatch policy (KinesisSource.scala:290-302) --
#
# The reference's read loop dispatches each getRecords failure four ways:
#   ExpiredIteratorException        → reissue the iterator from the stored
#                                     AFTER_SEQUENCE_NUMBER token and repoll
#   ProvisionedThroughputExceeded   → back off 800 ms, repoll same position
#   AmazonServiceException (5xx)    → log, bounded retry with backoff
#   AmazonClientException (4xx)     → fail the stage fast
# The simulated reader exposes the same seam: reads go through an
# injectable ``read_file`` client that may raise the typed faults below,
# and ``_read_partition`` applies the identical policy. Tests drive it
# with fake clients exactly like the reference's fake-AmazonKinesisAsync
# tests (KinesisSourceTest.scala, KinesisGraphStageTest.scala:27-59).


class ExpiredIteratorError(Exception):
    """Cursor outlived its 5-minute validity (KinesisSource.scala:40-42)."""


class ThroughputExceededError(Exception):
    """ProvisionedThroughputExceededException — throttle, then repoll."""


class ServiceError(Exception):
    """Amazon-side 5xx — retryable with backoff, bounded attempts."""


class ClientError(Exception):
    """Caller-side 4xx — not retryable; fail fast."""


_MAX_SERVICE_RETRIES = 7    # reference's withRetries budget (package.scala)
_BACKOFF_CAP_S = 64.0       # 2^n capped at 64 s
# The reference repolls throttle/expired unboundedly (a live service
# eventually recovers); here a buggy or fault-stuck injected client would
# hang the executor task forever, so both paths get a generous consecutive-
# failure budget and then fail loudly. 150 throttle repolls ≈ 2 min of
# continuous ProvisionedThroughputExceeded on one file.
_MAX_THROTTLE_RETRIES = 150
_MAX_REISSUE_RETRIES = 150


def _default_read_file(path: str):
    import pyarrow.parquet as pq

    return pq.read_table(path)


def _read_partition(
    part: ShardPartition,
    read_file=None,
    sleep_fn=None,
) -> Iterator:
    """Executor-side scan of one shard: parquet → Arrow batches with the
    positioned-read bounds applied. Yields Arrow RecordBatches (the fast
    path — record bytes never pass through Python row objects).

    Faults raised by ``read_file`` are dispatched per the reference's
    handleResult policy (S17, see above). Expired-cursor recovery is the
    reissue of S8/S16 translated to file granularity: re-resolve the
    shard's file list (new files may have landed during the outage) and
    continue from the not-yet-drained ones — a file is drained atomically,
    so records are neither lost nor duplicated."""
    import time

    import pyarrow as pa
    import pyarrow.compute as pc

    client = read_file or _default_read_file
    sleep = sleep_fn or time.sleep

    pending = list(part.files)
    drained: set[str] = set()
    service_tries = 0
    throttle_tries = 0
    reissue_tries = 0
    while pending:
        f = pending[0]
        try:
            t = client(f)
            service_tries = throttle_tries = reissue_tries = 0
        except ExpiredIteratorError as e:
            reissue_tries += 1
            if reissue_tries > _MAX_REISSUE_RETRIES:
                raise RuntimeError(
                    f"shard {part.shard_id}: iterator still expired after "
                    f"{_MAX_REISSUE_RETRIES} consecutive reissues on {f}"
                ) from e
            # reissue: re-list the shard dir but restrict to the PLANNED
            # file set — a file written after planning must not leak into a
            # bounded scan's fault-retry path (results would then differ
            # between faulting and non-faulting runs of the same scan)
            planned = set(part.files)
            pending = [
                x
                for x in put_files(os.path.dirname(f))
                if x in planned and x not in drained
            ]
            continue
        except ThroughputExceededError as e:
            throttle_tries += 1
            if throttle_tries > _MAX_THROTTLE_RETRIES:
                raise RuntimeError(
                    f"shard {part.shard_id}: still throttled after "
                    f"{_MAX_THROTTLE_RETRIES} consecutive repolls on {f}"
                ) from e
            from ..streaming.writer import KINESIS_BACKOFF_SECONDS

            sleep(KINESIS_BACKOFF_SECONDS)   # repoll same position
            continue
        except ServiceError:
            service_tries += 1
            if service_tries > _MAX_SERVICE_RETRIES:
                raise
            sleep(min(2.0 ** service_tries, _BACKOFF_CAP_S))
            continue
        # ClientError (and anything unknown) propagates: fail fast.
        pending.pop(0)
        drained.add(f)
        t = t.append_column("shard_id", pa.array([part.shard_id] * len(t)))
        mask = None

        def _and(m, cond):
            return cond if m is None else pc.and_(m, cond)

        if part.lo > 0:
            mask = _and(mask, pc.greater_equal(t["sequence_number"], part.lo))
        if part.hi is not None:
            mask = _and(mask, pc.less(t["sequence_number"], part.hi))
        if part.since is not None:
            mask = _and(mask, pc.greater_equal(t["ts"], part.since))
        if mask is not None:
            t = t.filter(mask)
        t = t.select(_COLS)
        if len(t):
            yield from t.to_batches()


class _SimReader:
    """What the batch and stream readers share: the stream, the start
    position resolved by ``SimStream.start_position`` when the reader is
    made, the ``[start, end)`` range planner, and the S17 fault-injectable
    read client (fake-client tests)."""

    def __init__(self, options: dict, read_file=None, sleep_fn=None):
        self.stream = SimStream(options["path"])
        now = _parse_iso(options["now"]) if "now" in options else None
        self.floors, self.since = self.stream.start_position(
            _parse_position(options.get("starting_position", "trim_horizon")), now
        )
        self.read_file = read_file
        self.sleep_fn = sleep_fn

    def _plan(self, start: dict, end: dict, listing) -> list[ShardPartition]:
        """One partition per shard with records in ``[start, end)``,
        shipping only the files of ``listing(shard_id)`` whose range
        overlaps it. A shard missing from ``start`` reads from 0 (S7)."""
        parts = []
        for shard_id, hi in end.items():
            lo, hi = int(start.get(shard_id, 0)), int(hi)
            if hi > lo:
                files = [
                    f
                    for f, (first, last) in listing(shard_id).items()
                    if last >= lo and first < hi
                ]
                parts.append(
                    ShardPartition(shard_id=shard_id, files=files, lo=lo, hi=hi, since=self.since)
                )
        return parts

    def read(self, partition: ShardPartition | None) -> Iterator:
        # Spark runs a batch that plans no partition as one read of None
        if partition is not None:
            yield from _read_partition(partition, self.read_file, self.sleep_fn)


class KinesisSimBatchReader(_SimReader, DataSourceReader):
    """Bounded positioned scan (the batch analog of S1), with shard pruning
    pushed to partition planning via ``pushFilters`` — the DataSource-level
    equivalent of the wrapper's Hive-partition pruning."""

    wanted_shards: set[str] | None = None

    def pushFilters(self, filters: List[Filter]) -> Iterable[Filter]:
        for f in filters:
            if isinstance(f, (EqualTo, In)) and f.attribute == ("shard_id",):
                # conjunctive semantics: multiple pushed shard_id predicates
                # (e.g. IN ('a','b') AND = 'a', which Catalyst does not
                # always fold) must INTERSECT, not overwrite — consuming a
                # filter promises Spark it has been fully applied
                s = {f.value} if isinstance(f, EqualTo) else set(f.value)
                self.wanted_shards = (
                    s if self.wanted_shards is None else self.wanted_shards & s
                )
            else:
                yield f  # everything else stays in Spark's Filter node

    def partitions(self) -> list[ShardPartition]:
        """From the start floors to each shard's end, listing each shard
        dir once."""
        dirs = self.stream.shard_dirs()
        if self.wanted_shards is not None:
            dirs = {s: d for s, d in dirs.items() if s in self.wanted_shards}
        listed = {s: put_files(d) for s, d in dirs.items()}
        end = {s: next_sequence_number(files) for s, files in listed.items()}
        return self._plan(self.floors, end, listed.__getitem__)


class KinesisSimStreamReader(_SimReader, DataSourceStreamReader):
    """Unbounded scan: offset = {shard_id: next sequence number} — exactly
    the reference's resume-AFTER_SEQUENCE_NUMBER cursor (S8), checkpointed
    by Spark's offset WAL. Shards that appear after the query starts (a
    reshard's children) get floor 0: the Latest→TrimHorizon rewrite (S7)."""

    def initialOffset(self) -> dict:
        return self.floors

    def latestOffset(self) -> dict:
        return self.stream.next_sequence_numbers()

    def partitions(self, start: dict, end: dict) -> list[ShardPartition]:
        dirs = self.stream.shard_dirs()
        return self._plan(
            start,
            {s: hi for s, hi in end.items() if s in dirs},
            lambda s: put_files(dirs[s]),
        )

    def commit(self, end: dict) -> None:
        pass  # progress lives in Spark's checkpoint WAL


class KinesisSimDataSource(DataSource):
    """`spark.read/readStream.format("kinesis_sim_py")` — see module doc."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        return SCHEMA

    def reader(self, schema: StructType) -> KinesisSimBatchReader:
        return KinesisSimBatchReader(self.options)

    def streamReader(self, schema: StructType) -> KinesisSimStreamReader:
        return KinesisSimStreamReader(self.options)

    @staticmethod
    def _check_write(schema: StructType, overwrite: bool) -> None:
        names = {f.name for f in schema.fields}
        if not {"partition_key", "data"} <= names:
            raise ValueError(
                "kinesis_sim_py sink requires (partition_key string, "
                f"data binary) columns; got {sorted(names)}"
            )
        if overwrite:
            raise ValueError(
                "kinesis_sim_py is append-only (PutRecords has no overwrite); "
                "use mode('append')"
            )

    def writer(self, schema: StructType, overwrite: bool):
        self._check_write(schema, overwrite)
        return KinesisSimBatchWriter(self.options)

    def streamWriter(self, schema: StructType, overwrite: bool):
        self._check_write(schema, overwrite)
        return KinesisSimStreamWriter(self.options)


def register(spark) -> None:
    """Idempotently register the format with a SparkSession.

    Sets `spark.sql.python.filterPushdown.enabled` at RUNTIME (it's a
    regular SQL conf): Spark refuses to instantiate a reader that
    implements pushFilters() while the flag is off, and the external
    driver's session is vanilla — session-build confs would not reach it
    (same pattern as the parquet-nanos conf in io.table)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(KinesisSimDataSource)


# ---------------------------------------------------------------------------
# Write path: df.write / writeStream .format("kinesis_sim_py")
# ---------------------------------------------------------------------------
#
# The reference's SINK is a Kinesis PutRecords writer (KinesisGraphStage:
# buffered ≤500-record chunks, withRetries 7×2^n≤64 s, 800 ms throttle
# backoff with per-record requeue — W1-W11). This is that surface at the
# DataSource level: `df.write.format("kinesis_sim_py")` appends records
# to the simulated stream with the SAME chunking/retry/throttle policy
# (reused verbatim from streaming/writer.py), and
# `df.writeStream.format(...)` is the streaming sink (one commit per
# micro-batch).
#
# Sequence contract: tasks snapshot each open shard's next_seq (the
# control plane, ``kinesis_sim`` "Data layout") and number their records
# next_seq + (taskPartitionId << 28) + i; commit() advances next_seq past
# the batch max (``SimStream.advance_next_seq``). Within a job all tasks
# share one snapshot (unique, ordered-within-task), and later jobs/batches
# always start above earlier ones (monotone per shard — what the reader's
# resume cursor requires). Like Kinesis itself, sequence numbers are
# opaque increasing tokens, not dense: unlike ``SimStream.put_records``,
# this at-least-once distributed sink reserves nothing before its tasks
# run.
#
# Delivery semantics: PutRecords is not transactional — the sink is
# at-least-once. abort() best-effort deletes files acked by completed
# tasks, but a task that dies after its put cannot be unwound (exactly
# the reference's failure envelope; dedup belongs downstream, see
# stream_dedup_* / dedup_incremental_digest).

from dataclasses import dataclass as _dataclass

from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

_SEQ_TASK_SHIFT = 28  # per-task capacity 2^28 records per put job


@_dataclass
class SimWriteCommit(WriterCommitMessage):
    files: list        # paths written by this task
    max_seqs: dict     # shard_id -> max sequence number written
    n_rows: int


def _success_put(stream_name: str, batch: list) -> list:
    """Default client: the simulated service accepts every record."""
    return [{"error_code": None, "error_message": None} for _ in batch]


def _task_put(
    arrow_batches,
    path: str,
    arrival_ts: datetime,
    put_client=None,
    sleep_fn=None,
) -> SimWriteCommit:
    """Executor-side put: assign shards by partition-key hash, chunk per
    shard to the AWS 500-record limit, push every chunk through the
    reference retry/throttle policy, then persist acked records as one
    parquet file per shard."""
    import time as _time

    from pyspark import TaskContext

    from ..streaming.writer import (
        AWS_MAX_BUFFER_SIZE,
        KINESIS_BACKOFF_SECONDS,
        _flush_chunk,
    )

    put_fn = put_client or _success_put
    sleep = sleep_fn or _time.sleep

    stream = SimStream(path)
    shards = stream.open_shards()
    route = shard_router(shards)
    next_seq = {s["shard_id"]: int(s["next_seq"]) for s in shards}
    pid = TaskContext.get().partitionId() if TaskContext.get() else 0

    per_shard: dict[str, list[tuple[str, bytes]]] = {}
    for batch in arrow_batches:
        pks = batch.column("partition_key").to_pylist()
        datas = batch.column("data").to_pylist()
        for pk, data in zip(pks, datas):
            per_shard.setdefault(route(pk), []).append((pk, bytes(data)))

    naive_ts = _as_utc_naive(arrival_ts)
    files: list[str] = []
    max_seqs: dict[str, int] = {}
    n_rows = 0
    for sid, records in per_shard.items():
        acked: list[tuple[str, bytes]] = []
        for i in range(0, len(records), AWS_MAX_BUFFER_SIZE):
            chunk = records[i : i + AWS_MAX_BUFFER_SIZE]
            results = _flush_chunk(
                chunk,
                put_fn,
                stream_name=os.path.basename(path.rstrip("/")),
                max_retries=_MAX_SERVICE_RETRIES,
                throttle_sleep=KINESIS_BACKOFF_SECONDS,
                sleep_fn=sleep,
            )
            failed = [r for r in results if r["error_code"] is not None]
            if failed:
                # fail fast: undeliverable after the full retry budget
                raise RuntimeError(
                    f"shard {sid}: {len(failed)} records failed: "
                    f"{failed[0]['error_code']}"
                )
            acked.extend(chunk)
        base = next_seq[sid] + (pid << _SEQ_TASK_SHIFT)
        seqs = [base + i for i in range(len(acked))]
        files.append(
            write_put_file(
                stream.shard_dir(sid),
                seqs,
                [r[0] for r in acked],
                [r[1] for r in acked],
                naive_ts,
            )
        )
        max_seqs[sid] = seqs[-1]
        n_rows += len(acked)
    return SimWriteCommit(files=files, max_seqs=max_seqs, n_rows=n_rows)


def _abort_cleanup(messages) -> None:
    for m in messages:
        if m is None:
            continue
        for f in m.files:
            try:
                os.remove(f)
            except OSError:
                pass


class _SimWriter:
    """What the batch and stream writers share: options, the injectable
    put client, the executor put, and the driver commit and abort (the
    stream writer's also get the ``batchId``)."""

    def __init__(self, options: dict, put_client=None, sleep_fn=None):
        self.path = options["path"]
        self.arrival_ts = (
            _parse_iso(options["arrival_ts"]) if "arrival_ts" in options else utc_now()
        )
        self.put_client = put_client
        self.sleep_fn = sleep_fn

    def write(self, iterator) -> SimWriteCommit:
        return _task_put(
            iterator, self.path, self.arrival_ts, self.put_client, self.sleep_fn
        )

    def commit(self, messages, batchId: int | None = None) -> None:
        """Move each shard's next_seq past everything the job wrote, so
        the next put job (or micro-batch) starts above it."""
        SimStream(self.path).advance_next_seq(
            m.max_seqs for m in messages if m is not None
        )

    def abort(self, messages, batchId: int | None = None) -> None:
        _abort_cleanup(messages)


class KinesisSimBatchWriter(_SimWriter, DataSourceArrowWriter):
    """Bounded put job (`df.write.format("kinesis_sim_py").mode("append")`).
    Arrow batches stream through the executor put loop; the driver commit
    advances the per-shard sequence floor."""


class KinesisSimStreamWriter(_SimWriter, DataSourceStreamArrowWriter):
    """Streaming sink (`df.writeStream.format("kinesis_sim_py")`): each
    micro-batch is one put job over Arrow RecordBatches (the same
    zero-row-object fast path as the batch writer); commit(batchId)
    advances the sequence floor so the NEXT batch's snapshot starts
    above this one (the monotone-per-shard contract the stream reader's
    resume cursor needs). At-least-once, like PutRecords: a batch
    retried after a crash between task success and commit re-puts its
    records."""
