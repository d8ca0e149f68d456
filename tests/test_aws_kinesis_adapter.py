"""Offline tests for the boto3 Kinesis adapter (sources/aws_kinesis.py).

Mirrors the reference's fake-client test tier: KinesisGraphStageTest.scala
(27-59) injects a fake AmazonKinesisAsync whose putRecords returns scripted
PutRecordsResult objects; here a fake boto3 client scripts
put_records/get_records/get_shard_iterator/list_shards responses and
botocore-shaped faults. No boto3 import anywhere — the adapter is duck-typed
against the client surface by design.
"""

from __future__ import annotations

import pytest

from akka_streams_kinesis_spark.sources.aws_kinesis import (
    Boto3ShardClient,
    boto3_put_fn,
    poll_shard,
    translate_fault,
)
from akka_streams_kinesis_spark.sources.kinesis_sim import (
    AtTimestamp,
    Latest,
    TrimHorizon,
)
from akka_streams_kinesis_spark.sources.pyds import (
    _MAX_REISSUE_RETRIES,
    _MAX_THROTTLE_RETRIES,
    ClientError,
    ExpiredIteratorError,
    ServiceError,
    ThroughputExceededError,
)
from akka_streams_kinesis_spark.streaming.writer import _flush_chunk


class BotoShapedError(Exception):
    """An exception carrying botocore's response shape."""

    def __init__(self, code: str, status: int = 400, msg: str = "boom"):
        super().__init__(msg)
        self.response = {
            "Error": {"Code": code, "Message": msg},
            "ResponseMetadata": {"HTTPStatusCode": status},
        }


# ---------------------------------------------------------------------------
# Fault translation (S17 taxonomy)
# ---------------------------------------------------------------------------


def test_translate_fault_taxonomy():
    assert isinstance(
        translate_fault(BotoShapedError("ExpiredIteratorException")),
        ExpiredIteratorError,
    )
    assert isinstance(
        translate_fault(
            BotoShapedError("ProvisionedThroughputExceededException")
        ),
        ThroughputExceededError,
    )
    assert isinstance(
        translate_fault(BotoShapedError("InternalFailure", status=500)),
        ServiceError,
    )
    assert isinstance(
        translate_fault(BotoShapedError("SomethingElse", status=503)),
        ServiceError,
    )
    assert isinstance(
        translate_fault(BotoShapedError("ValidationException", status=400)),
        ClientError,
    )
    # non-botocore exceptions pass through unchanged
    e = ValueError("plain")
    assert translate_fault(e) is e


# ---------------------------------------------------------------------------
# Write side — PutRecords protocol mapping
# ---------------------------------------------------------------------------


class FakePutClient:
    """Scripts put_records responses per call, recording requests."""

    def __init__(self, scripts):
        self.scripts = list(scripts)
        self.calls = []

    def put_records(self, StreamName, Records):
        self.calls.append((StreamName, Records))
        script = self.scripts.pop(0)
        if isinstance(script, BaseException):
            raise script
        # script: list of (ErrorCode|None, ErrorMessage|None)
        entries = []
        for code, msg in script:
            e = {}
            if code is None:
                e = {"SequenceNumber": "1", "ShardId": "shardId-0"}
            else:
                e = {"ErrorCode": code, "ErrorMessage": msg}
            entries.append(e)
        return {
            "FailedRecordCount": sum(1 for c, _ in script if c),
            "Records": entries,
        }


def test_put_fn_maps_result_entries_in_order():
    client = FakePutClient(
        [[(None, None), ("InternalFailure", "oops"), (None, None)]]
    )
    put = boto3_put_fn(client)
    out = put("s", [("a", b"1"), ("b", b"2"), ("c", b"3")])
    assert out == [
        {"error_code": None, "error_message": None},
        {"error_code": "InternalFailure", "error_message": "oops"},
        {"error_code": None, "error_message": None},
    ]
    stream, records = client.calls[0]
    assert stream == "s"
    assert records == [
        {"Data": b"1", "PartitionKey": "a"},
        {"Data": b"2", "PartitionKey": "b"},
        {"Data": b"3", "PartitionKey": "c"},
    ]


def test_put_fn_splits_above_aws_ceiling():
    n = 1203
    client = FakePutClient(
        [
            [(None, None)] * 500,
            [(None, None)] * 500,
            [(None, None)] * 203,
        ]
    )
    out = boto3_put_fn(client)("s", [(str(i), b"x") for i in range(n)])
    assert len(out) == n
    assert [len(r) for _, r in client.calls] == [500, 500, 203]


def test_put_fn_through_writer_flush_requeues_throttled():
    """End-to-end with the writer's flush stage: a throttled entry requeues
    and succeeds on the second put (KinesisGraphStage.scala:114-124)."""
    client = FakePutClient(
        [
            [(None, None), ("ProvisionedThroughputExceededException", "slow")],
            [(None, None)],
        ]
    )
    sleeps = []
    results = _flush_chunk(
        [("a", b"1"), ("b", b"2")],
        boto3_put_fn(client),
        "s",
        max_retries=7,
        throttle_sleep=0.8,
        sleep_fn=sleeps.append,
    )
    assert results == [
        {"error_code": None, "error_message": None},
        {"error_code": None, "error_message": None},
    ]
    assert sleeps == [0.8]
    # second call carried ONLY the throttled record
    assert [len(r) for _, r in client.calls] == [2, 1]


def test_put_fn_length_mismatch_raises():
    client = FakePutClient([[(None, None)]])
    with pytest.raises(ValueError, match="1 entries for 2"):
        boto3_put_fn(client)("s", [("a", b"1"), ("b", b"2")])


# ---------------------------------------------------------------------------
# Read side — shard client + poll loop
# ---------------------------------------------------------------------------


class FakeReadClient:
    """Scripts get_records responses; supports iterator reissue capture."""

    def __init__(self, pages, shards=None, fail_script=None):
        # pages: dict iterator -> (records, next_iterator) | exception
        self.pages = dict(pages)
        self.shards = shards or []
        self.iterator_requests = []

    def list_shards(self, **kwargs):
        if kwargs.get("NextToken") == "t1":
            return {"Shards": self.shards[1:]}
        if self.shards and len(self.shards) > 1:
            return {"Shards": self.shards[:1], "NextToken": "t1"}
        return {"Shards": self.shards}

    def get_shard_iterator(self, **kwargs):
        self.iterator_requests.append(kwargs)
        t = kwargs["ShardIteratorType"]
        if t == "AFTER_SEQUENCE_NUMBER":
            return {
                "ShardIterator": f"after-{kwargs['StartingSequenceNumber']}"
            }
        return {"ShardIterator": f"it-{t}"}

    def get_records(self, ShardIterator, Limit):
        page = self.pages[ShardIterator]
        if isinstance(page, BaseException):
            # consume the fault so a retry sees the recovery page (if any)
            if hasattr(page, "recovery"):
                self.pages[ShardIterator] = page.recovery
            raise page
        records, nxt = page
        return {
            "Records": [
                {
                    "SequenceNumber": str(seq),
                    "PartitionKey": pk,
                    "Data": data,
                }
                for seq, pk, data in records
            ],
            "NextShardIterator": nxt,
        }


def test_list_shards_paginates_and_maps_parent_links():
    client = FakeReadClient(
        {},
        shards=[
            {"ShardId": "s0"},
            {
                "ShardId": "s1",
                "ParentShardId": "s0",
                "AdjacentParentShardId": "sX",
            },
        ],
    )
    out = Boto3ShardClient(client).list_shards("s")
    assert out == [
        {
            "shard_id": "s0",
            "parent_shard_id": None,
            "adjacent_parent_shard_id": None,
        },
        {
            "shard_id": "s1",
            "parent_shard_id": "s0",
            "adjacent_parent_shard_id": "sX",
        },
    ]


def test_iterator_type_mapping():
    from datetime import datetime

    client = FakeReadClient({})
    sc = Boto3ShardClient(client)
    assert sc.get_shard_iterator("s", "s0", TrimHorizon()) == "it-TRIM_HORIZON"
    assert sc.get_shard_iterator("s", "s0", Latest()) == "it-LATEST"
    since = datetime(2026, 1, 1)
    assert sc.get_shard_iterator("s", "s0", AtTimestamp(since)) == (
        "it-AT_TIMESTAMP"
    )
    at_req = client.iterator_requests[-1]
    assert at_req["Timestamp"] is since


def test_poll_shard_drains_closed_shard():
    client = FakeReadClient(
        {
            "it-TRIM_HORIZON": ([(1, "a", b"1"), (2, "b", b"2")], "p2"),
            "p2": ([(3, "c", b"3")], None),  # closed: NextShardIterator null
        }
    )
    got = list(
        poll_shard(Boto3ShardClient(client), "s", "s0", TrimHorizon())
    )
    assert [r["sequence_number"] for r in got] == ["1", "2", "3"]
    assert got[0]["data"] == b"1"


def test_poll_shard_reissues_expired_iterator_after_last_sequence():
    fault = BotoShapedError("ExpiredIteratorException")
    fault.recovery = ([(3, "c", b"3")], None)
    client = FakeReadClient(
        {
            "it-TRIM_HORIZON": ([(1, "a", b"1"), (2, "b", b"2")], "p2"),
            "p2": fault,
            "after-2": ([(3, "c", b"3")], None),
        }
    )
    got = list(
        poll_shard(Boto3ShardClient(client), "s", "s0", TrimHorizon())
    )
    # no loss, no duplication: resumes AFTER seq 2
    assert [r["sequence_number"] for r in got] == ["1", "2", "3"]
    reissue = [
        r
        for r in client.iterator_requests
        if r["ShardIteratorType"] == "AFTER_SEQUENCE_NUMBER"
    ]
    assert len(reissue) == 1 and reissue[0]["StartingSequenceNumber"] == "2"


def test_poll_shard_throttle_backs_off_800ms_and_repolls():
    fault = BotoShapedError(
        "ProvisionedThroughputExceededException", status=400
    )
    fault.recovery = ([(1, "a", b"1")], None)
    client = FakeReadClient({"it-LATEST": fault})
    sleeps = []
    got = list(
        poll_shard(
            Boto3ShardClient(client),
            "s",
            "s0",
            Latest(),
            sleep_fn=sleeps.append,
        )
    )
    assert [r["sequence_number"] for r in got] == ["1"]
    assert sleeps == [0.8]


class FaultyShardClient:
    """Raises ``fault`` on the first ``n_faults`` polls, then serves one
    record from a closed shard."""

    def __init__(self, fault: type, n_faults: int):
        self.fault, self.n_faults = fault, n_faults

    def get_shard_iterator(self, stream_name, shard_id, iterator):
        return "it"

    def reissue_iterator(self, stream_name, shard_id, last_seq):
        return "it"

    def get_records(self, it, limit):
        if self.n_faults:
            self.n_faults -= 1
            raise self.fault("fault")
        return [{"sequence_number": "1"}], None


@pytest.mark.parametrize(
    "fault,budget",
    [
        (ThroughputExceededError, _MAX_THROTTLE_RETRIES),
        (ExpiredIteratorError, _MAX_REISSUE_RETRIES),
    ],
)
def test_poll_shard_fault_budget_is_bounded(fault, budget):
    """The read loop's throttle and reissue budgets match pyds's: one
    consecutive fault past the budget raises, even though the next poll
    would have succeeded; exactly the budget still drains."""
    with pytest.raises(RuntimeError, match="consecutive"):
        list(
            poll_shard(
                FaultyShardClient(fault, budget + 1), "s", "s0", Latest(),
                sleep_fn=lambda s: None,
            )
        )
    got = list(
        poll_shard(
            FaultyShardClient(fault, budget), "s", "s0", Latest(),
            sleep_fn=lambda s: None,
        )
    )
    assert [r["sequence_number"] for r in got] == ["1"]


def test_poll_shard_client_error_fails_fast():
    client = FakeReadClient(
        {"it-LATEST": BotoShapedError("ValidationException", status=400)}
    )
    with pytest.raises(ClientError):
        list(poll_shard(Boto3ShardClient(client), "s", "s0", Latest()))


def test_poll_shard_stops_when_caught_up_on_open_shard():
    client = FakeReadClient(
        {
            "it-TRIM_HORIZON": ([(1, "a", b"1")], "p2"),
            "p2": ([], "p3"),  # open shard, caught up
        }
    )
    got = list(
        poll_shard(Boto3ShardClient(client), "s", "s0", TrimHorizon())
    )
    assert len(got) == 1


def test_connect_raises_clear_importerror_without_boto3():
    from akka_streams_kinesis_spark.sources.aws_kinesis import connect

    try:
        import boto3  # noqa: F401

        pytest.skip("boto3 unexpectedly present")
    except ImportError:
        pass
    with pytest.raises(ImportError, match="boto3 is not installed"):
        connect()
