"""Live AWS Kinesis bindings for the engine's injected-client seams.

The reference's entry points take a live ``AmazonKinesisAsync``
(KinesisSource.scala:71-79, KinesisGraphStage.scala:28-30); the engine's
equivalents take injected callables — ``put_fn: (stream, batch) -> results``
(streaming/writer.py ``kinesis_write_flow``) and the fault-typed read seam of
sources/pyds.py. This module adapts a boto3 ``kinesis`` client to BOTH seams:

- :func:`boto3_put_fn` — wraps ``client.put_records`` into the writer's
  ``PutFn`` contract, mapping each ``PutRecordsResultEntry``'s
  ErrorCode/ErrorMessage per record exactly as the reference consumes them
  (KinesisGraphStage.scala:114-124: throttled entries requeue, other errors
  pass through as Left, successes as Right).
- :class:`Boto3ShardClient` — ListShards / GetShardIterator / GetRecords with
  the reference's fault taxonomy (KinesisSource.scala:255-302): expired
  iterators, throttles, 5xx, and 4xx translate to the SAME typed exceptions
  (`ExpiredIteratorError`, `ThroughputExceededError`, `ServiceError`,
  `ClientError`) the engine's read-retry policy already dispatches on
  (sources/pyds.py ``_read_partition``), so the S16/S17 recovery paths work
  identically against live AWS.
- :func:`poll_shard` — the demand-driven poll loop (S14/S15/S16): iterate
  GetRecords from a start position, reissuing expired iterators from the
  last-seen sequence number (AFTER_SEQUENCE_NUMBER — the reference's
  ``nextIterator`` token, KinesisSource.scala:279-284) and honoring the
  800 ms throttle backoff.

Everything here is duck-typed against the boto3 client surface (botocore
raises carry ``e.response["Error"]["Code"]`` and
``ResponseMetadata.HTTPStatusCode``), so the module imports NOTHING from
boto3 and is fully unit-testable offline with a fake client — mirroring the
reference's fake-AmazonKinesisAsync test tier
(KinesisGraphStageTest.scala:27-59). :func:`connect` is the only place a
real boto3 import happens, and it is guarded: calling it without boto3
installed raises a clear ImportError (this sandbox has no boto3 and no
network; the file-backed simulator remains the gated default).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

from ..streaming.writer import KINESIS_BACKOFF_SECONDS
from .pyds import (
    _MAX_REISSUE_RETRIES,
    _MAX_THROTTLE_RETRIES,
    ClientError,
    ExpiredIteratorError,
    ServiceError,
    ThroughputExceededError,
)
from .kinesis_sim import AtTimestamp, IteratorType, Latest, TrimHorizon

# AWS hard limits (public service quotas)
MAX_RECORDS_PER_PUT = 500          # PutRecords batch ceiling
MAX_RECORDS_PER_GET = 10_000       # GetRecords Limit ceiling


# ---------------------------------------------------------------------------
# Fault translation — botocore error shape → the engine's typed taxonomy
# ---------------------------------------------------------------------------

def translate_fault(exc: BaseException) -> BaseException:
    """Map a botocore-shaped exception to the engine's read-fault taxonomy
    (S17, KinesisSource.scala:290-302). Duck-typed on
    ``exc.response["Error"]["Code"]`` / HTTPStatusCode so fakes work:

    - ``ExpiredIteratorException``                  → ExpiredIteratorError
    - ``ProvisionedThroughputExceededException``    → ThroughputExceededError
    - HTTP 5xx (or Code ``InternalFailure`` /
      ``ServiceUnavailable``)                       → ServiceError (retryable)
    - any other coded error                         → ClientError (fail fast)
    - exceptions without the botocore shape pass through unchanged.
    """
    response = getattr(exc, "response", None)
    if not isinstance(response, dict):
        return exc
    code = (response.get("Error") or {}).get("Code", "")
    status = (response.get("ResponseMetadata") or {}).get("HTTPStatusCode", 0)
    if code == "ExpiredIteratorException":
        return ExpiredIteratorError(str(exc))
    if code == "ProvisionedThroughputExceededException":
        return ThroughputExceededError(str(exc))
    if status >= 500 or code in ("InternalFailure", "ServiceUnavailable"):
        return ServiceError(str(exc))
    return ClientError(str(exc))


# ---------------------------------------------------------------------------
# Write side — PutRecords behind the writer's put_fn seam
# ---------------------------------------------------------------------------

def boto3_put_fn(client, *, max_per_call: int = MAX_RECORDS_PER_PUT):
    """Adapt a boto3 kinesis client to the writer's ``PutFn`` contract:
    ``(stream_name, [(partition_key, data_bytes)]) -> [result dict]`` with
    one ``{"error_code", "error_message"}`` per input record, in order.

    The writer's flush stage (streaming/writer.py ``_flush_chunk``) already
    implements the reference's result dispatch — throttled entries requeue
    with the 800 ms sleep, other codes surface as per-record failures
    (KinesisGraphStage.scala:99-124) — so this adapter is a pure protocol
    mapping: ``PutRecordsRequestEntry`` in, ``PutRecordsResultEntry`` out.
    Chunks above the AWS 500-record ceiling are split defensively (the
    writer already chunks at ≤500, matching ``AWS_MAX_BUFFER_SIZE``)."""

    def put(stream_name: str, records: list[tuple[str, bytes]]) -> list[dict]:
        results: list[dict] = []
        for at in range(0, len(records), max_per_call):
            chunk = records[at : at + max_per_call]
            resp = client.put_records(
                StreamName=stream_name,
                Records=[
                    {"Data": data, "PartitionKey": pk} for pk, data in chunk
                ],
            )
            entries = resp["Records"]
            if len(entries) != len(chunk):
                raise ValueError(
                    f"PutRecords returned {len(entries)} entries for "
                    f"{len(chunk)} records"
                )
            results.extend(
                {
                    "error_code": e.get("ErrorCode"),
                    "error_message": e.get("ErrorMessage"),
                }
                for e in entries
            )
        return results

    return put


# ---------------------------------------------------------------------------
# Read side — ListShards / GetShardIterator / GetRecords
# ---------------------------------------------------------------------------

def _iterator_request_args(iterator: IteratorType) -> dict:
    """IteratorType ADT (S2) → GetShardIterator request fields."""
    if isinstance(iterator, TrimHorizon):
        return {"ShardIteratorType": "TRIM_HORIZON"}
    if isinstance(iterator, Latest):
        return {"ShardIteratorType": "LATEST"}
    if isinstance(iterator, AtTimestamp):
        return {"ShardIteratorType": "AT_TIMESTAMP", "Timestamp": iterator.since}
    raise TypeError(f"unknown iterator type: {iterator!r}")


class Boto3ShardClient:
    """The reference's ``AmazonKinesisAsync`` surface, engine-typed.

    Wraps the three calls the source needs (KinesisSource.scala:255-302) and
    translates every fault through :func:`translate_fault` so the engine's
    existing retry policy (sources/pyds.py S17 dispatch) applies unchanged.
    """

    def __init__(self, client):
        self._client = client

    def list_shards(self, stream_name: str) -> list[dict]:
        """All shards with parent links — the input to the shard-DAG
        planners (S4-S6, kinesis_sim.find_*_possible_shards). Paginates."""
        shards: list[dict] = []
        kwargs: dict = {"StreamName": stream_name}
        while True:
            try:
                resp = self._client.list_shards(**kwargs)
            except Exception as e:  # noqa: BLE001 - translated to typed taxonomy
                raise translate_fault(e) from e
            for s in resp.get("Shards", []):
                shards.append(
                    {
                        "shard_id": s["ShardId"],
                        "parent_shard_id": s.get("ParentShardId"),
                        "adjacent_parent_shard_id": s.get(
                            "AdjacentParentShardId"
                        ),
                    }
                )
            token = resp.get("NextToken")
            if not token:
                return shards
            kwargs = {"NextToken": token}

    def get_shard_iterator(
        self,
        stream_name: str,
        shard_id: str,
        iterator: IteratorType,
    ) -> str:
        try:
            resp = self._client.get_shard_iterator(
                StreamName=stream_name,
                ShardId=shard_id,
                **_iterator_request_args(iterator),
            )
        except Exception as e:  # noqa: BLE001
            raise translate_fault(e) from e
        return resp["ShardIterator"]

    def reissue_iterator(
        self, stream_name: str, shard_id: str, after_sequence_number: str
    ) -> str:
        """The expired-iterator reissue token (S8/S16): resume AFTER the
        last sequence number already emitted — the reference's
        ``nextIterator`` (KinesisSource.scala:279-284)."""
        try:
            resp = self._client.get_shard_iterator(
                StreamName=stream_name,
                ShardId=shard_id,
                ShardIteratorType="AFTER_SEQUENCE_NUMBER",
                StartingSequenceNumber=after_sequence_number,
            )
        except Exception as e:  # noqa: BLE001
            raise translate_fault(e) from e
        return resp["ShardIterator"]

    def get_records(
        self, shard_iterator: str, limit: int = MAX_RECORDS_PER_GET
    ) -> tuple[list[dict], str | None]:
        """One poll: (records, next_iterator). next_iterator None means the
        shard is CLOSED and fully drained — the reference re-plans child
        shards at that point (S13, handleReshard)."""
        try:
            resp = self._client.get_records(
                ShardIterator=shard_iterator, Limit=limit
            )
        except Exception as e:  # noqa: BLE001
            raise translate_fault(e) from e
        records = [
            {
                "sequence_number": r["SequenceNumber"],
                "partition_key": r["PartitionKey"],
                "data": r["Data"],
                "ts": r.get("ApproximateArrivalTimestamp"),
            }
            for r in resp.get("Records", [])
        ]
        return records, resp.get("NextShardIterator")


def poll_shard(
    shard_client: Boto3ShardClient,
    stream_name: str,
    shard_id: str,
    iterator: IteratorType,
    *,
    max_polls: int | None = None,
    limit: int = MAX_RECORDS_PER_GET,
    sleep_fn: Callable[[float], None] = time.sleep,
    stop_when_caught_up: bool = True,
) -> Iterator[dict]:
    """Drain one shard from a start position — the S14/S15/S16 read loop
    against live AWS. Yields record dicts in sequence order.

    Fault policy mirrors ``_read_partition`` (sources/pyds.py), budgets
    included:
    - ExpiredIteratorError → reissue from the last emitted sequence number
      (AFTER_SEQUENCE_NUMBER) and continue — no loss, no duplication.
    - ThroughputExceededError → sleep 800 ms, repoll the same iterator.
    - Either fault more than ``_MAX_REISSUE_RETRIES`` /
      ``_MAX_THROTTLE_RETRIES`` times in a row → ``RuntimeError``; a
      successful poll resets both counts.
    - ServiceError/ClientError propagate to the caller unretried.

    Termination: a closed shard ends when NextShardIterator is None; an
    open shard ends after ``max_polls`` or (default) on the first empty
    poll once caught up — callers that want a hot-tail loop pass
    ``stop_when_caught_up=False`` with a ``max_polls`` budget."""
    it: str | None = shard_client.get_shard_iterator(
        stream_name, shard_id, iterator
    )
    last_seq: str | None = None
    polls = throttle_tries = reissue_tries = 0
    while it is not None:
        if max_polls is not None and polls >= max_polls:
            return
        polls += 1
        try:
            records, it = shard_client.get_records(it, limit=limit)
        except ExpiredIteratorError as e:
            reissue_tries += 1
            if reissue_tries > _MAX_REISSUE_RETRIES:
                raise RuntimeError(
                    f"shard {shard_id}: iterator still expired after "
                    f"{_MAX_REISSUE_RETRIES} consecutive reissues"
                ) from e
            if last_seq is None:
                # nothing emitted yet — restart from the original position
                it = shard_client.get_shard_iterator(
                    stream_name, shard_id, iterator
                )
            else:
                it = shard_client.reissue_iterator(
                    stream_name, shard_id, last_seq
                )
            continue
        except ThroughputExceededError as e:
            throttle_tries += 1
            if throttle_tries > _MAX_THROTTLE_RETRIES:
                raise RuntimeError(
                    f"shard {shard_id}: still throttled after "
                    f"{_MAX_THROTTLE_RETRIES} consecutive repolls"
                ) from e
            sleep_fn(KINESIS_BACKOFF_SECONDS)
            continue
        throttle_tries = reissue_tries = 0
        for r in records:
            last_seq = r["sequence_number"]
            yield r
        if not records and stop_when_caught_up and it is not None:
            return


def connect(region_name: str | None = None, **kwargs):
    """Build a real boto3 kinesis client (the only boto3 touchpoint).
    Import-guarded: raises a clear ImportError when boto3 is absent (as in
    this sandbox) — every other function in this module works with any
    client object exposing the same call surface."""
    try:
        import boto3  # type: ignore[import-not-found]
    except ImportError as e:  # pragma: no cover - no boto3 in sandbox
        raise ImportError(
            "boto3 is not installed; pass a client to boto3_put_fn / "
            "Boto3ShardClient directly, or `pip install boto3` to use "
            "connect()"
        ) from e
    return boto3.client("kinesis", region_name=region_name, **kwargs)
