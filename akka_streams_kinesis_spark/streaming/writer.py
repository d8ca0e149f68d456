"""Buffered, batching, retrying stream writer — the reference's sink, Spark-first.

The reference's ``KinesisGraphStage`` (KinesisGraphStage.scala:39-143) is a
pass-through flow: records buffer until a threshold, flush in ≤500-record
puts with bounded retries and throttle-requeue, and every input record comes
out the other side as Either[failure, original]. The Spark rendering keeps
the exact semantics with micro-batch parallelism:

================================================================  =========
reference operator (SURVEY §2.B)                                   here
================================================================  =========
W1  withClient (pass-through Flow[A, Either[...]])                 kinesis_write_flow → DataFrame with error columns
W2  buffered batching stage                                        per-partition chunking inside mapInPandas
W3  streamStateChanged (flush at threshold / upstream end)         chunk loop + final partial flush
W4  pushToKinesis (flush, retry, throttle sleep, partition)        _flush_chunk
W5  single worker thread for blocking I/O                          executor task threads (isolation built in)
W6  buffer accounting (≤ maxBufferSize in flight)                  bounded chunks; micro-batch bounds memory
W7  Either partitioning (throttle→requeue, error→Left, ok→Right)   error_code/error_message columns + requeue list
W9  ToPutRecordsRequest typeclass (encoder)                        encode_records projection
W10 withRetries (7 tries, 2^n s backoff, cap 64 s)                 with_retries
W11 AWS constants (500/250/800 ms)                                 module constants
================================================================  =========

Delivery guarantee: at-least-once, same as the reference — retrying a whole
put can duplicate already-accepted records (KinesisGraphStage.scala:98,
SURVEY §4). Per-shard input order is preserved within a partition.

``put_fn`` is injected exactly like the reference's ``putRecords`` function
(KinesisGraphStage.scala:20) — the seam its fake-client tests exploit
(KinesisGraphStageTest.scala:27-31) and ours do too.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import StringType, StructField, StructType

# AWS constants (KinesisGraphStage.scala:21-26)
AWS_MAX_BUFFER_SIZE = 500          # hard AWS limit per PutRecords call
DEFAULT_SENDING_THRESHOLD = 250    # default flush threshold
KINESIS_BACKOFF_SECONDS = 0.8      # sleep after a throttled put
THROUGHPUT_EXCEEDED = "ProvisionedThroughputExceededException"

# put_fn: (stream_name, [(partition_key, data_bytes)]) -> [result dict]
# each result: {"error_code": str|None, "error_message": str|None}
PutFn = Callable[[str, list[tuple[str, bytes]]], list[dict]]


def with_retries(
    f: Callable[[], "object"],
    tries: int = 7,
    on_error: Callable[[BaseException, int], None] | None = None,
    sleep_fn: Callable[[float], None] = time.sleep,
):
    """Bounded retry with exponential backoff 2^n seconds, capped at 64 s —
    the reference's `withRetries` + `incrementalBackoff`
    (package.scala:6-16, KinesisGraphStage.scala:92-96)."""
    attempt = 0
    while True:
        try:
            return f()
        except Exception as e:  # noqa: BLE001 - deliberate: retry any transport error
            attempt += 1
            if attempt >= tries:
                raise
            if on_error is not None:
                on_error(e, attempt)
            sleep_fn(min(2 ** attempt, 64))


def encode_records(df: DataFrame, partition_key: Column, payload: Column) -> DataFrame:
    """The encoder step (W9): the reference's ToPutRecordsRequest typeclass
    becomes a Catalyst projection producing (partition_key, data) while
    keeping the original columns for pass-through."""
    return df.withColumn("partition_key", partition_key).withColumn("data", payload)


def _flush_chunk(
    chunk: list[tuple[str, bytes]],
    put_fn: PutFn,
    stream_name: str,
    max_retries: int,
    throttle_sleep: float,
    sleep_fn: Callable[[float], None],
) -> list[dict]:
    """Put one ≤500-record chunk with full reference semantics (W4):
    retries around the whole call, throttled entries requeued in-stage with
    a backoff sleep, per-record results in input order."""
    results: list[dict | None] = [None] * len(chunk)
    pending = list(range(len(chunk)))
    while pending:
        batch = [chunk[i] for i in pending]
        out = with_retries(
            lambda: put_fn(stream_name, batch),
            tries=max_retries,
            sleep_fn=sleep_fn,
        )
        if len(out) != len(batch):
            raise ValueError(
                f"put_fn returned {len(out)} results for {len(batch)} records"
            )
        requeue = []
        any_throttled = False
        for idx, res in zip(pending, out):
            code = res.get("error_code")
            if code == THROUGHPUT_EXCEEDED:
                # requeue throttled records only (KinesisGraphStage.scala:114-124)
                any_throttled = True
                requeue.append(idx)
            else:
                results[idx] = {
                    "error_code": code,
                    "error_message": res.get("error_message"),
                }
        if any_throttled:
            # self rate-limit off the hot path (KinesisGraphStage.scala:99-107)
            sleep_fn(throttle_sleep)
        pending = requeue
    return results  # type: ignore[return-value]


def kinesis_write_flow(
    df: DataFrame,
    put_fn: PutFn,
    stream_name: str,
    sending_threshold: int = DEFAULT_SENDING_THRESHOLD,
    max_buffer_size: int = AWS_MAX_BUFFER_SIZE,
    max_retries: int = 7,
    throttle_sleep: float = KINESIS_BACKOFF_SECONDS,
    sleep_fn: Callable[[float], None] = time.sleep,
) -> DataFrame:
    """The pass-through writer flow (W1): consumes rows with
    ``partition_key``/``data`` columns, writes them in ≤``max_buffer_size``
    chunks once ``sending_threshold`` rows have buffered (W3), and returns
    every input row annotated with ``error_code``/``error_message`` —
    NULL error_code = success (the reference's Right), non-NULL = the
    per-record failure (Left).

    Runs inside ``mapInPandas``: each partition buffers Arrow batches and
    flushes like the reference's stage; a final partial flush happens at
    partition end (upstream-finish semantics, KinesisGraphStage.scala:61-67).
    Partitions flush in parallel across executors — the scale-out the
    single-threaded reference could not do.
    """
    in_schema = df.schema
    if "partition_key" not in df.columns or "data" not in df.columns:
        raise ValueError("kinesis_write_flow needs partition_key/data columns; use encode_records")
    out_schema = StructType(
        list(in_schema.fields)
        + [StructField("error_code", StringType()), StructField("error_message", StringType())]
    )
    threshold = min(sending_threshold, max_buffer_size)

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buffer: list[pd.DataFrame] = []
        buffered = 0

        def flush(final: bool) -> Iterator[pd.DataFrame]:
            nonlocal buffer, buffered
            if not buffered:
                return
            pdf = pd.concat(buffer, ignore_index=True) if len(buffer) > 1 else buffer[0]
            buffer, buffered = [], 0
            start = 0
            n = len(pdf)
            while start < n:
                if not final and n - start < threshold:
                    # keep the partial tail buffered until threshold or end
                    tail = pdf.iloc[start:]
                    buffer, buffered = [tail], len(tail)
                    return
                end = min(start + max_buffer_size, n)
                part = pdf.iloc[start:end]
                chunk = [
                    (str(pk), bytes(d)) for pk, d in zip(part["partition_key"], part["data"])
                ]
                results = _flush_chunk(
                    chunk, put_fn, stream_name, max_retries, throttle_sleep, sleep_fn
                )
                out = part.copy()
                out["error_code"] = [r["error_code"] for r in results]
                out["error_message"] = [r["error_message"] for r in results]
                yield out
                start = end

        for pdf in batches:
            buffer.append(pdf)
            buffered += len(pdf)
            if buffered >= threshold:
                yield from flush(final=False)
        yield from flush(final=True)

    return df.mapInPandas(_write, schema=out_schema)
