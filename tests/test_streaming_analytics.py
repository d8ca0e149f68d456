"""Streaming analytics semantics: watermark late-data handling and the
windowing helpers over the simulated stream (SURVEY §2.D streaming rows)."""

from __future__ import annotations

import json
from datetime import datetime, timedelta, timezone

import pyspark.sql.functions as F
import pytest

from akka_streams_kinesis_spark.sources import SimStream, TrimHorizon
from akka_streams_kinesis_spark.streaming.windows import (
    decode_json_payload,
    hourly_rollup,
)

T0 = datetime(2024, 3, 1, 10, 0, 0, tzinfo=timezone.utc)
SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _event(eid, ts, etype="click", value=1.0):
    payload = json.dumps(
        {
            "event_id": eid,
            "ts": ts.strftime("%Y-%m-%dT%H:%M:%S.000Z"),
            "user_id": 1,
            "event_type": etype,
            "value": value,
        }
    ).encode()
    return (f"u{eid % 3}", payload)


def _stamp_new_files(stream, offset, seen, base):
    """Give each put's files a distinct, increasing mtime: the file stream
    source orders batches by modification time, and same-millisecond files
    would make batch order (and thus watermark advancement) ambiguous."""
    import os

    for root, _dirs, files in os.walk(stream.data_dir):
        for f in files:
            p = os.path.join(root, f)
            if p not in seen:
                os.utime(p, (base + offset, base + offset))
                seen.add(p)


def _drain_append(spark, stream, out_dir, ckpt):
    records = stream.read_stream(spark, TrimHorizon(), max_files_per_trigger=1)
    events = decode_json_payload(records, SCHEMA)
    agg = hourly_rollup(events, watermark="1 hour")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed agg with a 1 h watermark: a record arriving
    after the watermark passed its window is dropped — the late-data
    contract the reference has no answer to (it re-reads by timestamp
    instead; SURVEY §2.D watermark row)."""
    stream = SimStream.create(str(tmp_path / "s"), n_shards=1)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    import time

    seen: set = set()
    base = time.time() - 1000
    # drain 1: two events in [10:00, 11:00), then a far-ahead event that
    # advances the watermark past the window end → the window is emitted
    # (n=2) and its state evicted at the end of the drain.
    stream.put_records([_event(1, T0), _event(2, T0 + timedelta(minutes=10))])
    _stamp_new_files(stream, 0, seen, base)
    stream.put_records([_event(3, T0 + timedelta(hours=4))])
    _stamp_new_files(stream, 10, seen, base)
    r1 = _drain_append(spark, stream, out, ckpt)
    win10 = r1.filter(F.col("hour") == T0.replace(tzinfo=None)).collect()
    assert len(win10) == 1 and win10[0]["n"] == 2

    # drain 2 (resumed from checkpoint): a LATE event for the already-
    # finalized window. Its state is evicted and the watermark (13:00) is
    # past the window end, so the row is dropped: the output gains no new
    # or duplicate [10:00] row. (Note the contract: Spark only *guarantees*
    # the drop after eviction — a late row arriving while the window state
    # is still live is merged, which drain 1 relies on for n=2.)
    stream.put_records([_event(4, T0 + timedelta(minutes=20))])
    _stamp_new_files(stream, 20, seen, base)
    r2 = _drain_append(spark, stream, out, ckpt)
    win10_after = r2.filter(F.col("hour") == T0.replace(tzinfo=None)).collect()
    assert len(win10_after) == 1
    assert win10_after[0]["n"] == 2  # late event did NOT change the result


def test_windows_emit_in_order_of_watermark(spark, tmp_path):
    """Each availableNow drain emits exactly the windows finalized by the
    watermark at that point — incremental, no recomputation."""
    stream = SimStream.create(str(tmp_path / "s2"), n_shards=1)
    out, ckpt = str(tmp_path / "o2"), str(tmp_path / "c2")

    stream.put_records([_event(1, T0)])
    stream.put_records([_event(2, T0 + timedelta(hours=3))])
    r1 = _drain_append(spark, stream, out, ckpt)
    n1 = r1.count()
    assert n1 == 1  # only the 10:00 window is final (watermark = 13:00 - 1h)

    stream.put_records([_event(3, T0 + timedelta(hours=6))])
    r2 = _drain_append(spark, stream, out, ckpt)
    assert r2.count() == 2  # the 13:00 window finalized; 16:00 still open


def test_stateful_running_totals_survive_restart(spark, tmp_path):
    """applyInPandasWithState keyed state is checkpointed: a second drain
    resumes from the first drain's state, not from zero."""
    from akka_streams_kinesis_spark.streaming.stateful import running_user_totals

    stream = SimStream.create(str(tmp_path / "s3"), n_shards=1)
    out, ckpt = str(tmp_path / "o3"), str(tmp_path / "c3")

    def drain():
        records = stream.read_stream(spark, TrimHorizon())
        events = decode_json_payload(records, SCHEMA)

        def sink(batch_df, _bid):
            # file sinks don't accept update mode; foreachBatch does
            batch_df.write.mode("append").parquet(out)

        q = (
            running_user_totals(events)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out)

    # all events for user 1 (_event uses user_id=1 in payload)
    stream.put_records([_event(1, T0), _event(2, T0 + timedelta(minutes=1))])
    r1 = drain()
    assert r1.orderBy(F.col("n_events_so_far").desc()).first()["n_events_so_far"] == 2

    stream.put_records([_event(3, T0 + timedelta(minutes=2))])
    r2 = drain()
    # resumed state: 2 (from drain 1) + 1 new = 3, not 1
    assert r2.orderBy(F.col("n_events_so_far").desc()).first()["n_events_so_far"] == 3


def test_stream_stream_join_evicts_state_at_watermark(spark, tmp_path):
    """Interval-join state is bounded by the watermark: a view whose join
    window the watermark has passed is evicted, so a purchase arriving
    after that — even one inside the view's 30-min interval — produces no
    pair. (The registry query uses a replay-wide watermark on purpose; this
    test pins the tight-watermark eviction contract.)"""
    import time as _time

    stream = SimStream.create(str(tmp_path / "s4"), n_shards=1)
    out, ckpt = str(tmp_path / "o4"), str(tmp_path / "c4")
    seen, base = set(), _time.time() - 3600

    def drain():
        records = stream.read_stream(spark, TrimHorizon(), max_files_per_trigger=1)
        events = decode_json_payload(records, SCHEMA)
        views = (
            events.filter(F.col("event_type") == "view")
            .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
            .withWatermark("v_ts", "30 minutes")
        )
        purchases = (
            events.filter(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
            .withWatermark("p_ts", "30 minutes")
        )
        pairs = views.join(
            purchases,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        q = (
            pairs.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out)

    # batch 1: a view and an in-window purchase → one pair emits
    stream.put_records([_event(1, T0, "view")])
    _stamp_new_files(stream, 0, seen, base)
    stream.put_records([_event(2, T0 + timedelta(minutes=10), "purchase")])
    _stamp_new_files(stream, 10, seen, base)
    assert drain().count() == 1

    # batch 2: far-future events on BOTH sides push the global watermark
    # past T0+30min (global watermark = min over inputs); 7h purchase is
    # outside the 6h view's window, so no new pair
    stream.put_records([_event(3, T0 + timedelta(hours=6), "view")])
    _stamp_new_files(stream, 20, seen, base)
    stream.put_records([_event(4, T0 + timedelta(hours=7), "purchase")])
    _stamp_new_files(stream, 30, seen, base)
    assert drain().count() == 1

    # batch 3: a purchase INSIDE the original view's interval, arriving
    # after eviction → dropped, still exactly one pair
    stream.put_records([_event(5, T0 + timedelta(minutes=20), "purchase")])
    _stamp_new_files(stream, 40, seen, base)
    assert drain().count() == 1


def test_rollup_table_incrementally_maintained(spark, tmp_path):
    """The partition-overwrite rollup sink converges to the batch truth
    across drains: updated hours are rewritten, untouched hours keep their
    files, and re-draining is idempotent."""
    from akka_streams_kinesis_spark.streaming import drain as drain_mod
    from akka_streams_kinesis_spark.streaming.rollup_sink import (
        hourly_rollup_updates,
        rollup_writer,
    )

    stream = SimStream.create(str(tmp_path / "s5"), n_shards=1)
    table_path, ckpt = str(tmp_path / "rollup"), str(tmp_path / "c5")

    def drain():
        records = stream.read_stream(spark, TrimHorizon())
        events = decode_json_payload(records, SCHEMA)
        drain_mod.drain(
            hourly_rollup_updates(events),
            rollup_writer(spark, table_path),
            mode="update",
            checkpoint=ckpt,
        )
        return spark.read.parquet(table_path)

    # hour A: two clicks; hour B: one purchase
    stream.put_records([
        _event(1, T0, "click"), _event(2, T0 + timedelta(minutes=5), "click"),
        _event(3, T0 + timedelta(hours=1), "purchase"),
    ])
    t1 = drain()
    got1 = {(r["hour_part"], r["event_type"]): r["n"] for r in t1.collect()}
    assert got1[("2024-03-01-10", "click")] == 2
    assert got1[("2024-03-01-11", "purchase")] == 1

    # more clicks land in hour A (state still live within the watermark);
    # hour B untouched
    stream.put_records([_event(4, T0 + timedelta(minutes=10), "click")])
    t2 = drain()
    got2 = {(r["hour_part"], r["event_type"]): r["n"] for r in t2.collect()}
    assert got2[("2024-03-01-10", "click")] == 3
    assert got2[("2024-03-01-11", "purchase")] == 1
    assert len(got2) == 2  # no duplicate rows: partition was overwritten

    # idempotence: draining with nothing new changes nothing
    t3 = drain()
    got3 = {(r["hour_part"], r["event_type"]): r["n"] for r in t3.collect()}
    assert got3 == got2


def test_dedup_within_watermark_evicts_then_reemits(spark, tmp_path):
    """`dropDuplicatesWithinWatermark` contract, both sides: a duplicate
    arriving while its key's state is live (key ts within the watermark
    delay) is suppressed; a duplicate arriving after the key's state was
    evicted is RE-emitted — the accepted false-negative that buys bounded
    state (dedup state no longer grows with total key cardinality)."""
    import time

    stream = SimStream.create(str(tmp_path / "s"), n_shards=1)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    seen: set = set()
    base = time.time() - 1000

    def drain():
        records = stream.read_stream(spark, TrimHorizon(), max_files_per_trigger=1)
        events = decode_json_payload(records, SCHEMA)
        deduped = events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        return spark.read.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        ).parquet(out)

    # drain 1: key 1 at 10:00, key 2 at 13:00. The 13:00 event pushes the
    # watermark to 12:00 at drain end → key 1's state (expiry 11:00) is
    # evicted, key 2's (expiry 14:00) stays live.
    stream.put_records([_event(1, T0)])
    _stamp_new_files(stream, 0, seen, base)
    stream.put_records([_event(2, T0 + timedelta(hours=3))])
    _stamp_new_files(stream, 10, seen, base)
    assert drain().count() == 2

    # drain 2: re-delivery of key 2 within its live state → suppressed;
    # re-delivery of key 1 (ts 12:30, above the 12:00 watermark, so NOT
    # late) finds no state → re-emitted.
    stream.put_records(
        [_event(2, T0 + timedelta(hours=3, minutes=5)), _event(1, T0 + timedelta(hours=2, minutes=30))]
    )
    _stamp_new_files(stream, 20, seen, base)
    got = drain()
    assert got.count() == 3
    by_key = {r["event_id"]: 0 for r in got.collect()}
    for r in got.collect():
        by_key[r["event_id"]] += 1
    assert by_key == {1: 2, 2: 1}


# -- session-timeout state bound -------------------------------------------

_GAP_US = 1_800_000_000  # the 30-min session gap (house rule)


def _wm_us(progress: dict) -> int | None:
    """Watermark of a StreamingQueryProgress dict in epoch-µs, or None."""
    wm = (progress.get("eventTime") or {}).get("watermark")
    if wm is None:
        return None
    dt = datetime.fromisoformat(wm.replace("Z", "+00:00"))
    return int(dt.timestamp() * 1_000_000)


def _state_rows(progress: dict) -> int | None:
    ops = progress.get("stateOperators") or []
    return ops[0]["numRowsTotal"] if ops else None


class TestSessionTimeoutStateBound:
    """Round-9 VERDICT ask #3: the O(delay × rate) state claim of
    stream_session_timeout_eviction as a TESTED invariant. Two parts:

    1. the EXACT eviction-proof bound on the registry pipeline: at every
       micro-batch, state keys ≤ |users with an event at ts ≥ wm − gap|
       (kept sessions have last ≥ wm − gap; kept arrivals have ts ≥ wm);
    2. a BITING eviction test on a synthetic stream where half the users
       go quiet after 10% of the span — their keys MUST leave the store
       once the watermark passes their last session + gap, pinning that
       state tracks the delay-window-active population, not every key
       ever seen."""

    def test_registry_drain_state_bounded(self, spark, sf_dir):
        import bisect

        import pyspark.sql.functions as F

        from akka_streams_kinesis_spark.io import table
        from akka_streams_kinesis_spark.operators.streaming_queries import (
            _session_timeout_drain,
        )

        q, lo_us, hi_us = _session_timeout_drain(spark, sf_dir)
        drained = spark.table(q.name)
        prog = [json.loads(p.json) for p in q.recentProgress]
        assert drained.count() > 0
        mx = sorted(
            r["mx"]
            for r in table(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(
                F.max(
                    F.unix_micros(F.date_trunc("millisecond", F.col("ts")))
                ).alias("mx")
            )
            .collect()
        )
        checked = 0
        for p in prog:
            rows, wm = _state_rows(p), _wm_us(p)
            if rows is None or wm is None:
                continue
            allowed = len(mx) - bisect.bisect_left(mx, wm - _GAP_US)
            assert rows <= allowed, (
                f"batch {p['batchId']}: {rows} state keys > {allowed} users "
                f"active since wm - gap — eviction bound violated"
            )
            checked += 1
        assert checked >= 3, f"only {checked} batches carried state metrics"

    def test_keys_evict_when_users_go_quiet(self, spark, tmp_path):
        import pandas as pd
        import pyspark.sql.functions as F

        from akka_streams_kinesis_spark.operators.streaming_queries import (
            _EVENT_SCHEMA,
            _encode_events,
        )
        from akka_streams_kinesis_spark.sources.kinesis_sim import (
            SimStream,
            TrimHorizon,
        )
        from akka_streams_kinesis_spark.streaming.drain import drain
        from akka_streams_kinesis_spark.streaming.stateful import (
            sessions_by_timeout,
        )
        from akka_streams_kinesis_spark.streaming.windows import (
            decode_json_payload,
        )

        n_early, n_late, nev = 40, 40, 96
        base_us = 1_704_067_200_000_000  # 2024-01-01 UTC
        span_us = 30 * 24 * 3600 * 1_000_000
        rows = []
        for u in range(n_early + n_late):
            frac = 0.1 if u < n_early else 1.0
            for i in range(nev):
                rows.append(
                    (
                        u * 1000 + i,
                        pd.Timestamp(
                            base_us + int(frac * span_us * i / nev), unit="us"
                        ),
                        u,
                        "view",
                        1.0,
                    )
                )
        events_pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        edf = spark.createDataFrame(events_pdf, schema=_EVENT_SCHEMA)
        stream = SimStream.create(str(tmp_path / "stream"), n_shards=2)
        n_slices = 8
        for s in range(n_slices):
            a = base_us + span_us * s // n_slices
            cond = F.unix_micros("ts") >= F.lit(a)
            if s < n_slices - 1:
                b = base_us + span_us * (s + 1) // n_slices
                cond = cond & (F.unix_micros("ts") < F.lit(b))
            stream.put_records_distributed(_encode_events(edf.filter(cond)))
        records = stream.read_stream(spark, TrimHorizon(), max_files_per_trigger=2)
        decoded = decode_json_payload(records, _EVENT_SCHEMA)
        sessions = sessions_by_timeout(
            decoded, delay=f"{span_us // 8} microseconds"
        )
        q = drain(sessions, "memory")
        prog = [json.loads(p.json) for p in q.recentProgress]
        with_state = [
            (p["batchId"], _state_rows(p), _wm_us(p))
            for p in prog
            if _state_rows(p) is not None and _wm_us(p) is not None
        ]
        assert with_state, "no batches carried state metrics"
        # once the watermark passes the early users' last session + gap,
        # their keys must be GONE — state tracks the delay-window-active
        # population, not every key ever seen
        early_cutoff_us = base_us + span_us // 10 + _GAP_US
        late_batches = [
            rows_total
            for _, rows_total, wm in with_state
            if wm > early_cutoff_us
        ]
        assert late_batches, "watermark never passed the early-user cutoff"
        assert max(late_batches) <= n_late, (
            f"{max(late_batches)} keys in state after the early users' "
            f"sessions were provably closed (expected ≤ {n_late})"
        )
