"""Round-10 additions: drain state-partition env override, drift
sentinel plumbing, shared-build accounting, session-timeout state bound."""

from __future__ import annotations

import datetime
import json

import pytest

_GAP_US = 1_800_000_000  # the 30-min session gap (house rule)


def _wm_us(progress: dict) -> int | None:
    """Watermark of a StreamingQueryProgress dict in epoch-µs, or None."""
    wm = (progress.get("eventTime") or {}).get("watermark")
    if wm is None:
        return None
    dt = datetime.datetime.fromisoformat(wm.replace("Z", "+00:00"))
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


class TestStatePartitionsOverride:
    """SPARK_GRAFT_STATE_PARTITIONS beats the per-drain default (round-9
    ADVICE: the 16-cap silently excluded stateful operators from the
    shuffle-256 canary's 256-partition coverage)."""

    def _resolve(self, monkeypatch, env, default=16):
        from akka_streams_kinesis_spark.streaming.drain import (
            _state_partitions_override,
        )

        if env is None:
            monkeypatch.delenv("SPARK_GRAFT_STATE_PARTITIONS", raising=False)
        else:
            monkeypatch.setenv("SPARK_GRAFT_STATE_PARTITIONS", env)
        return _state_partitions_override(default)

    def test_unset_keeps_caller_default(self, monkeypatch):
        assert self._resolve(monkeypatch, None) == 16
        assert self._resolve(monkeypatch, None, default=None) is None

    def test_integer_forces_count(self, monkeypatch):
        assert self._resolve(monkeypatch, "256") == 256

    def test_session_inherits(self, monkeypatch):
        assert self._resolve(monkeypatch, "session") is None
        assert self._resolve(monkeypatch, "none") is None
        assert self._resolve(monkeypatch, "SESSION") is None

    def test_garbage_raises(self, monkeypatch):
        with pytest.raises(ValueError):
            self._resolve(monkeypatch, "lots")
