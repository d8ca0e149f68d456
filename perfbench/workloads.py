"""The benchmark workloads. Each takes a ``Run`` (session, seed, run
length, scratch directories, tracer) and returns its end-to-end numbers and
the per-layer numbers of the layers it loads (the others read 0). Only
public entry points of the engine are called: ``registry.QUERIES`` and
``ORACLES``, ``SimStream``, the ``kinesis_sim_py`` DataSource and
``shared.release_shared``/``build_times``."""

from __future__ import annotations

import contextlib
import glob
import os
import sys
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import checks
import datagen
from harness import (
    SPARK_KEYS,
    FileOpenWatch,
    ProgressListener,
    StatusStore,
    Tracer,
    add_batch_spans,
    median,
    microbatch_summary,
    pct,
    progress_window,
    tree_cpu_s,
)

from bench import DRIFT_SENTINEL

from akka_streams_kinesis_spark import registry, shared
from akka_streams_kinesis_spark.sources import pyds
from akka_streams_kinesis_spark.sources.kinesis_sim import SimStream


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    tmp: str  # hermetic TMPDIR of this run
    tracer: Tracer
    listener: ProgressListener
    status: StatusStore | None  # only in traced runs
    first_timed: float | None = None  # perf_counter of the first timed operation
    attempted: int = 0
    failed: int = 0
    notes: dict = field(default_factory=dict)

    def start_timing(self) -> None:
        if self.first_timed is None:
            self.first_timed = time.perf_counter()

    def count(self, attempted: int, failed: int = 0) -> None:
        self.attempted += attempted
        self.failed += failed

    def new_query_ids(self, before: set[str]) -> list[str]:
        """Streaming queries started since ``before``, each waited on until
        its termination event (and so all its progress) has arrived."""
        ids = sorted(self.listener.started() - before)
        for q in ids:
            self.listener.wait_terminated(q, 30.0)
        return ids


def _collect_jvm_garbage(spark) -> None:
    """Full GC in the driver JVM before a timed window. Without it, whether a
    concurrent G1 cycle over the set-up's garbage fell inside the window was
    chance: it cost 1.9 of the 17.5 CPU seconds of one relay rung and was
    absent from another of the same batches that took 14.7."""
    spark.sparkContext._jvm.System.gc()


def _files_under(root: str) -> set[str]:
    return set(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))


# ---------------------------------------------------------------------------
# relay_tail
# ---------------------------------------------------------------------------

# Chosen from a rate probe on a 4-core host (figures in CHANGES.md). Each
# micro-batch costs about 1 s whatever its size: from 50 to 1600 records/s
# the batch time and the latency barely moved, so the rate is not what
# loads the relay. The put interval is what does: each put writes one file
# per shard, and the offset reader re-reads every file on each trigger, so
# its cost grows with the puts published. The trigger interval is about
# twice the batch time (0.8-1.5 s at this rate with two task slots), so the
# relay runs below capacity: the clock, not the previous batch, starts each
# batch, the backlog stays flat, and a rung of a given length runs a fixed
# number of batches whatever the host's load. With a 100 ms trigger the
# batches ran back to back, and a slower host ran fewer, larger batches in
# the same time, so the rung's CPU time said little about a batch's cost.
RELAY_RATE = 500  # records/s published during the timed rung
RELAY_PUT_INTERVAL_S = 0.2
RELAY_PUT_RECORDS = round(RELAY_RATE * RELAY_PUT_INTERVAL_S)  # records per put
RELAY_TRIGGER_S = 2.0
CPU_READ_LEAD_S = 0.05  # CPU is read this long before a trigger fires
RELAY_PRIMING_PUTS = 2  # untimed puts that warm the relay before the clock starts
# A put published a whole put interval late overlaps the next one: the
# generator no longer delivers the schedule. Such puts are named on stderr
# and counted in the facts line, but not as failed operations: the engine
# still relays every record, and one run of this benchmark on a 4-core host
# had five puts about a second late while the host stalled every process.
GEN_LAG_BOUND_MS = RELAY_PUT_INTERVAL_S * 1000


@dataclass
class Put:
    due: float  # offset from the rung start, seconds
    files: list  # (staged path, shard id, lo seq, hi seq, n records)
    published: float = 0.0  # epoch seconds


def _stage(root: str, records: list, per_put: int, interval_s: float) -> list[Put]:
    """Produce the rung's put files into a staging stream ahead of time."""
    stage = SimStream.create(root, n_shards=2)
    puts = []
    for i in range(0, len(records), per_put):
        before = _files_under(stage.data_dir)
        placed = stage.put_records(records[i : i + per_put])
        new = {os.path.basename(os.path.dirname(f)).split("=", 1)[1]: f
               for f in _files_under(stage.data_dir) - before}
        by_shard: dict[str, list[int]] = {}
        for p in placed:
            by_shard.setdefault(p["shard_id"], []).append(p["sequence_number"])
        files = [(new[s], s, min(q), max(q), len(q)) for s, q in sorted(by_shard.items())]
        puts.append(Put(due=len(puts) * interval_s, files=files))
    return puts


def _generate(puts: list[Put], stage_data: str, live_data: str, t0: float) -> None:
    """Open-loop publisher: each put's files are renamed into the live
    stream at their due time, whatever the relay is doing."""
    for put in puts:
        delay = t0 + put.due - time.time()
        if delay > 0:
            time.sleep(delay)
        for path, *_ in put.files:
            os.rename(path, os.path.join(live_data, os.path.relpath(path, stage_data)))
        put.published = time.time()


def _start_relay(spark, root: str, watch: FileOpenWatch | None):
    """Fresh 2-shard source, fresh 3-shard destination, fresh checkpoint;
    returns once the query has run its first (empty) trigger."""
    src = SimStream.create(os.path.join(root, "src"), n_shards=2)
    dst = SimStream.create(os.path.join(root, "dst"), n_shards=3)
    for shard in src.open_shards():
        shard_dir = os.path.join(src.data_dir, f"shard_id={shard['shard_id']}")
        os.makedirs(shard_dir, exist_ok=True)
        if watch:
            watch.watch(shard_dir)
    q = (
        spark.readStream.format(pyds.FORMAT_NAME).option("path", src.path).load()
        .select("partition_key", "data")
        .writeStream.format(pyds.FORMAT_NAME)
        .option("path", dst.path)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(processingTime=f"{int(RELAY_TRIGGER_S * 1000)} milliseconds")
        .start()
    )
    deadline = time.monotonic() + 60
    while "Waiting" not in q.status["message"] and time.monotonic() < deadline:
        time.sleep(0.02)
    return src, dst, q


def _committed(puts: list[Put]) -> dict[str, int]:
    """shard → end offset that covers every record of ``puts``."""
    want: dict[str, int] = {}
    for put in puts:
        for _, shard, _, last, _ in put.files:
            want[shard] = max(want.get(shard, 0), last + 1)
    return want


def _relay_rung(run: Run, records: list) -> dict:
    """Stage the records, start a fresh relay, prime it, publish the other
    puts open-loop at ``RELAY_RATE`` and measure until every record is
    committed. In traced runs the source's shard directories are watched
    for file opens and listings."""
    spark, tr = run.spark, run.tracer
    root = os.path.join(run.tmp, "relay_timed")
    t_stage = time.perf_counter()
    staged = _stage(os.path.join(root, "stage"), records, RELAY_PUT_RECORDS, RELAY_PUT_INTERVAL_S)
    primes, puts = staged[:RELAY_PRIMING_PUTS], staged[RELAY_PRIMING_PUTS:]
    stage_s = time.perf_counter() - t_stage
    for put in puts:
        put.due -= puts[0].due
    duration = puts[-1].due + RELAY_PUT_INTERVAL_S
    stage_data = os.path.join(root, "stage", "data")

    def wait_committed(qid: str, want: dict[str, int]) -> None:
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            done = run.listener.progress(qid)
            end = done[-1]["sources"][0]["endOffset"] if done else None
            if end and all(int(end.get(s, 0)) >= n for s, n in want.items()):
                return
            time.sleep(0.02)

    with FileOpenWatch() if run.status else contextlib.nullcontext() as watch:
        src, dst, q = _start_relay(spark, root, watch)
        qid = str(q.id)
        # Untimed puts first, each committed before the next: the session's
        # first kinesis_sim_py query and a fresh query's first data batches
        # pay one-off costs (Python runner start, first parquet read in the
        # offset reader, first put in the writer) that would otherwise land
        # on the first timed records.
        for put in primes:
            _generate([put], stage_data, src.data_dir, time.time())
            wait_committed(qid, _committed([put]))
        prime_end = _committed(primes)
        run.start_timing()
        # Spark fires processing-time triggers at whole multiples of the
        # interval since the epoch. The rung starts half a put interval after
        # one, so no put falls due as a trigger reads the offsets and every
        # run cuts the same puts into the same batches.
        t0 = (time.time() // RELAY_TRIGGER_S + 1) * RELAY_TRIGGER_S + RELAY_PUT_INTERVAL_S / 2
        gen = threading.Thread(
            target=_generate, args=(puts, stage_data, src.data_dir, t0), name="relay-generator"
        )
        gen.start()
        _collect_jvm_garbage(spark)
        time.sleep(max(0.0, t0 - time.time()))
        # CPU is read just before each trigger of the rung, so each interval
        # between two readings holds one batch. The JVM's JIT and GC threads
        # run in bursts that land in one interval or another from run to run;
        # the median over the intervals leaves them out.
        trigger0 = t0 - RELAY_PUT_INTERVAL_S / 2
        n_batches = int((puts[-1].due + RELAY_PUT_INTERVAL_S / 2) // RELAY_TRIGGER_S) + 1
        with tr.span(f"rung {RELAY_RATE}/s", "rung") as sp:
            cpu = [tree_cpu_s()]
            for k in range(1, n_batches + 2):
                time.sleep(max(0.0, trigger0 + k * RELAY_TRIGGER_S - CPU_READ_LEAD_S - time.time()))
                cpu.append(tree_cpu_s())
            gen.join()
            wait_committed(qid, _committed(puts))
            q.stop()
    run.listener.wait_terminated(qid, 30.0)
    batches = [
        p for p in run.listener.progress(qid)
        if any(int(v) > prime_end.get(k, 0) for k, v in p["sources"][0]["endOffset"].items())
    ]
    add_batch_spans(tr, batches, sp)

    # Latency: each file is committed by the batch whose offset range holds
    # its sequence numbers; that batch ends at trigger start + duration.
    windows = []
    for p in batches:
        s = p["sources"][0]
        lo = {k: int(v) for k, v in (s["startOffset"] or {}).items()}
        hi = {k: int(v) for k, v in s["endOffset"].items()}
        windows.append((p, lo, hi, progress_window(p)))
    lat, weights, second_half, lost = [], [], [], 0
    for put in puts:
        for _, shard, first, last, n in put.files:
            hit = next((w for w in windows if w[1].get(shard, 0) <= first and last < w[2].get(shard, 0)), None)
            if hit is None:
                lost += n
                continue
            lat.append((hit[3][1] - (t0 + put.due)) * 1000)
            weights.append(n)
            second_half.append(put.due >= duration / 2)
    lat, weights, second_half = np.array(lat), np.array(weights, dtype=int), np.array(second_half)

    # Output check: the destination holds exactly the published records.
    got = Counter()
    dst_files = _files_under(dst.data_dir)
    for f in dst_files:
        t = pq.read_table(f, columns=["partition_key", "data"])
        got.update(zip(t["partition_key"].to_pylist(), t["data"].to_pylist()))
    sent = Counter(records)
    bad = sum(((sent - got) + (got - sent)).values())
    if bad or lost:
        print(f"[perfbench] relay: {bad} records lost or duplicated, {lost} not in any batch", flush=True)
    lags = [(put.published - (t0 + put.due)) * 1000 for put in puts]
    late = sum(1 for x in lags if x > GEN_LAG_BOUND_MS)
    if late:
        print(f"[perfbench] relay: {late} puts published more than {GEN_LAG_BOUND_MS:.0f} ms "
              "late: the generator did not deliver the schedule", file=sys.stderr, flush=True)
    run.count(len(records) + len(staged), bad + lost)

    # Per batch: the source files holding records of its [lo, hi) range
    # (from the manifest), and the backlog when it started: records due by
    # then and not yet committed. Each is split by the half of the rung the
    # batch started in.
    mid = t0 + duration / 2
    needed, backlog = [0, 0], [[], []]
    done = 0
    for p, lo, hi, (b_start, _) in windows:
        half = int(b_start >= mid)
        needed[half] += sum(1 for put in staged for f in put.files
                            if f[1] in hi and f[3] >= lo.get(f[1], 0) and f[2] < hi[f[1]])
        due_by = sum(f[4] for put in puts if t0 + put.due <= b_start for f in put.files)
        backlog[half].append(max(0, due_by - done))
        done += p["numInputRows"]
    io = [watch.counts(t0, mid), watch.counts(mid)] if watch else [(0, 0), (0, 0)]

    def lat_pct(q: float, mask=None) -> float:
        keep = np.ones(len(lat), bool) if mask is None else mask
        return pct(np.repeat(lat[keep], weights[keep]), q) if keep.any() else float("inf")

    return {
        "records": sum(f[4] for put in puts for f in put.files),
        "batches": batches,
        "lat_p50": lat_pct(50),
        "lat_p99": lat_pct(99),
        "lat_p99_halves": [lat_pct(99, ~second_half), lat_pct(99, second_half)],
        "samples": int(weights.sum()),
        "lost": lost,
        "bad": bad,
        "lags": lags,
        "late_puts": late,
        "span_s": max((w[3][1] for w in windows), default=t0) - t0,
        "file_opens": [o for o, _ in io],
        "files_listed": [n for _, n in io],
        "files_needed": needed,
        "useful_share_halves": [n / o if o else None for n, (o, _) in zip(needed, io)],
        "backlog_halves": [sum(b) / len(b) if b else 0.0 for b in backlog],
        "watch_overflowed": bool(watch and watch.overflowed),
        "dst_files": len(dst_files),
        "stage_s": stage_s,
        "cpu_s": cpu[-1] - cpu[0],
        "batch_cpu_s": np.diff(cpu[1:]).tolist(),
        "staged_files": sum(len(p.files) for p in puts),
    }


def relay_tail(run: Run) -> tuple[dict, dict]:
    """Open-loop consume→produce relay between two simulated streams at a
    fixed publish rate."""
    n = RELAY_PRIMING_PUTS * RELAY_PUT_RECORDS + int(RELAY_RATE * run.seconds)
    pyds.register(run.spark)
    rung = _relay_rung(run, datagen.relay_records(run.seed, n))

    e2e = {"cpu_ms": median(rung["batch_cpu_s"]) * 1000}
    layers = microbatch_summary(rung["batches"])
    rows = sum(p["numInputRows"] for p in rung["batches"])
    opens, listed, needed = sum(rung["file_opens"]), sum(rung["files_listed"]), sum(rung["files_needed"])
    layers.update({
        "produce.s": rung["stage_s"],
        "produce.files": rung["staged_files"],
        "source.input_rows": rows,
        "source.files_listed": listed,
        "source.files_read": opens,
        "source.useful_file_share": needed / opens if opens else 0.0,
        "source.backlog_rows": (rung["backlog_halves"][0] + rung["backlog_halves"][1]) / 2,
        "source.backlog_rows_h1": rung["backlog_halves"][0],
        "source.backlog_rows_h2": rung["backlog_halves"][1],
        "sink.rows": rows,
        "sink.files_written": rung["dst_files"],
        "sink.rows_per_file": rows / rung["dst_files"] if rung["dst_files"] else 0.0,
        "gen.lag_ms_p99": pct(rung["lags"], 99),
        "cpu.timed_s": rung["cpu_s"],
        "latency_ms": rung["lat_p50"],
        "latency_tail_ms": rung["lat_p99"],
        "throughput_per_s": rung["records"] / rung["span_s"],
    })
    run.notes["rung"] = {k: v for k, v in rung.items() if k not in ("batches", "lags")}
    return e2e, layers


# ---------------------------------------------------------------------------
# batch_mix
# ---------------------------------------------------------------------------

INGEST_QUERY = "stream_ingest_hourly_rollup"
BATCH_QUERIES = DRIFT_SENTINEL + [
    "egress_writer_throttle_requeue",  # the sink's retry/throttle path in batch form
    INGEST_QUERY,  # the flagship availableNow drain: file-source scan, JSON decode, state store
]
# Events in the generated ``events`` table: the row count of the engine's
# sf0.01 correctness data, the scale of the other generated tables.
BATCH_EVENTS = 10_000


def _shared_builds(before: dict[str, float]) -> tuple[float, int]:
    """Seconds spent building shared frames since ``before`` (an earlier
    ``shared.build_times()``), and the number of frames built."""
    grown = [t - before.get(k, 0.0) for k, t in shared.build_times().items()]
    return sum(grown), sum(1 for d in grown if d > 0)


def batch_mix(run: Run) -> tuple[dict, dict]:
    """A fixed list of registry queries: one checked warm-up pass, then one
    timed pass into the noop sink after the shared frames are released. The
    flagship ingest drain produces its stream on its first (warm-up) call
    and drains it afresh in the timed pass."""
    spark, tr = run.spark, run.tracer
    sc = spark.sparkContext
    data_dir = os.path.join(run.tmp, "data")
    with tr.span("generate inputs", "produce"):
        datagen.write_tables(data_dir, run.seed, BATCH_EVENTS)
    con = checks.duck(data_dir)

    with tr.span("warm-up pass", "check"):
        for name in BATCH_QUERIES:
            sc.setJobGroup(name, name)
            files_before = _files_under(run.tmp)
            t0 = time.perf_counter()
            try:
                df = registry.QUERIES[name](spark, data_dir)
                rows = df.collect()
                bad = (checks.oracle_mismatch(con, registry.ORACLES[name], rows, df.columns)
                       if name in registry.ORACLES else None)
            except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
                bad = f"raised {type(e).__name__}: {e}"
            if name == INGEST_QUERY:
                warm_ingest_s = time.perf_counter() - t0
                stream_files = _files_under(run.tmp) - files_before
            if bad:
                print(f"[perfbench] {name}: {bad}", flush=True)
            run.count(1, 1 if bad else 0)
    shared.release_shared()

    streams_before = run.listener.started()
    per_query: dict[str, dict] = {}
    with FileOpenWatch() if run.status else contextlib.nullcontext() as watch:
        for d in sorted({os.path.dirname(f) for f in stream_files}) if watch else []:
            watch.watch(d)
        _collect_jvm_garbage(spark)
        run.start_timing()
        cpu0 = tree_cpu_s()
        with tr.span("timed pass", "pass"):
            for name in BATCH_QUERIES:
                group = f"{name}#timed"
                sc.setJobGroup(group, name)
                last_ex = run.status.last_execution_id() if run.status else -1
                shared_before = shared.build_times()
                try:
                    with tr.span(name, "query"):
                        t0 = time.perf_counter()
                        with tr.span("build", "operators.build"):
                            df = registry.QUERIES[name](spark, data_dir)
                        t1 = time.perf_counter()
                        eager = len(sc.statusTracker().getJobIdsForGroup(group))
                        with tr.span("action", "operators.action"):
                            df.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
                    print(f"[perfbench] {name}: raised {type(e).__name__}: {e}", flush=True)
                    run.count(1, 1)
                    continue
                run.count(1)
                shared_s, shared_n = _shared_builds(shared_before)
                per_query[name] = {"total_s": t2 - t0, "build_s": t1 - t0, "action_s": t2 - t1,
                                   "eager_jobs": eager, "shared_build_s": shared_s,
                                   "shared_frames_built": shared_n}
                if run.status:
                    per_query[name].update(run.status.group_stats(group, last_ex))
    pass_s = sum(r["total_s"] for r in per_query.values())
    cpu_s = tree_cpu_s() - cpu0

    # The typical query wall is the geometric mean of the walls (as in
    # TPC-H's power metric): it weighs every query's relative change alike
    # and, unlike the median of 14 clustered walls, does not hop between
    # queries from run to run.
    walls = [r["total_s"] for r in per_query.values()]
    e2e = {"cpu_ms": cpu_s / len(per_query) * 1000}
    drain_s = per_query.get(INGEST_QUERY, {}).get("total_s")
    batches = [p for q in run.new_query_ids(streams_before) for p in run.listener.progress(q)
               if p["numInputRows"] > 0]
    opens, listed = watch.counts() if watch else (0, 0)
    layers = microbatch_summary(batches)

    def total(key: str) -> float:
        return sum(r.get(key, 0.0) for r in per_query.values())

    layers.update({
        "produce.s": max(0.0, warm_ingest_s - drain_s) if drain_s else 0.0,
        "produce.files": len(stream_files),
        "source.input_rows": sum(p["numInputRows"] for p in batches),
        "source.files_read": opens,
        "source.files_listed": listed,
        "ingest.rows_per_s": BATCH_EVENTS / drain_s if drain_s else 0.0,
        "operators.build_s": total("build_s"),
        "operators.eager_jobs": total("eager_jobs"),
        "operators.action_s": total("action_s"),
        "shared.build_s": total("shared_build_s"),
        "shared.frames_built": total("shared_frames_built"),
        "cpu.timed_s": cpu_s,
        "latency_ms": float(np.exp(np.mean(np.log(walls)))) * 1000,
        "latency_tail_ms": pct(walls, 90) * 1000,
        "throughput_per_s": len(per_query) / pass_s,
        "drift.sentinel_s": sum(per_query[n]["total_s"] for n in DRIFT_SENTINEL if n in per_query),
    })
    layers.update({k: total(k) for k in SPARK_KEYS})
    run.notes.update({
        "pass_s": pass_s,
        "query_s": {n: round(r["total_s"], 3) for n, r in per_query.items()},
        "per_query": per_query,
    })
    return e2e, layers


WORKLOADS = {"relay_tail": relay_tail, "batch_mix": batch_mix}
