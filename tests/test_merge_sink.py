"""Replay-idempotence of the streaming merge sink: draining the SAME
stream a second time (fresh checkpoint → full replay) over the existing
state table must leave it unchanged — the at-least-once redelivery
contract the latest-wins rule guarantees."""

from __future__ import annotations

from akka_streams_kinesis_spark import registry
from akka_streams_kinesis_spark.operators.streaming_queries import (
    _EVENT_SCHEMA,
    _materialize_events_stream,
    decode_json_payload,
)
from akka_streams_kinesis_spark.sources.kinesis_sim import TrimHorizon
from akka_streams_kinesis_spark.streaming.drain import drain
from akka_streams_kinesis_spark.streaming.merge_sink import user_state_merger

registry.load_all()


def _drain(spark, sf_dir, path):
    stream = _materialize_events_stream(spark, sf_dir, copies=1, flavor="once")
    records = stream.read_stream(spark, TrimHorizon(), max_files_per_trigger=64)
    events = decode_json_payload(records, _EVENT_SCHEMA)
    drain(events, user_state_merger(spark, path))


def _snapshot(spark, path):
    return {
        (r["user_id"], r["last_event_type"], r["last_value"], r["last_event_id"])
        for r in spark.read.option("basePath", path).parquet(path).collect()
    }


def test_merge_sink_replay_is_idempotent(spark, sf_dir, tmp_path):
    path = str(tmp_path / "table")
    _drain(spark, sf_dir, path)
    first = _snapshot(spark, path)
    assert first, "empty state table after first drain"
    # fresh checkpoint: full replay over existing
    _drain(spark, sf_dir, path)
    assert _snapshot(spark, path) == first


def test_merge_sink_multi_batch_drain_keeps_all_users(spark, sf_dir, tmp_path):
    """Regression (round-7 sf1 canary catch): with a tiny trigger the
    drain spans MANY micro-batches, and each batch's merge must carry the
    existing table forward. The round-6 code gated the merge branch on a
    root _SUCCESS marker that dynamic partition overwrite never writes,
    so every batch skipped the merge and the final table held only the
    LAST batch's users — invisible at SFs where the whole drain fits one
    batch (sf0.1's 16 stream files < the 64-file trigger)."""
    from akka_streams_kinesis_spark.io import table as load_table

    stream = _materialize_events_stream(spark, sf_dir, copies=1, flavor="once")
    records = stream.read_stream(spark, TrimHorizon(), max_files_per_trigger=2)
    events = decode_json_payload(records, _EVENT_SCHEMA)
    path = str(tmp_path / "table")
    drain(events, user_state_merger(spark, path))
    got = spark.read.option("basePath", path).parquet(path).count()
    want = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert got == want, f"merge sink dropped users across batches: {got} != {want}"
