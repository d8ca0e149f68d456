"""Measurement plumbing shared by the workloads: spans, the streaming
progress listener, the file-open watcher, the RSS sampler, the Spark
status-store reader and the percentile helper. Everything here observes the engine from outside; none of
it changes what the engine does."""

from __future__ import annotations

import ctypes
import json
import os
import re
import select
import struct
import threading
import time
from contextlib import contextmanager
from datetime import datetime, timezone

import numpy as np
from pyspark.sql.streaming import StreamingQueryListener


def pct(values, q: float) -> float:
    """q-th percentile (0-100) with linear interpolation; NaN when empty."""
    return float(np.percentile(values, q)) if len(values) else float("nan")


def median(values) -> float:
    return pct(values, 50)


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, layer, start, end (epoch seconds), parent and
    run id. Disabled tracers record nothing and cost one branch per span."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        idx = self._open(name, layer, time.time())
        try:
            yield idx
        finally:
            self.spans[idx]["end"] = time.time()
            self._stack.pop()

    def _open(self, name: str, layer: str, start: float) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"name": name, "layer": layer, "start": start, "end": None,
             "parent": parent, "run": self.run_id}
        )
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def add(self, name: str, layer: str, start: float, end: float, parent: int | None) -> int | None:
        """Record a finished span, e.g. one rebuilt from a progress event."""
        if not self.enabled:
            return None
        self.spans.append(
            {"name": name, "layer": layer, "start": start, "end": end,
             "parent": parent, "run": self.run_id}
        )
        return len(self.spans) - 1

    def self_time_by_layer(self) -> dict[str, float]:
        """Layer → seconds of span time not covered by the span's children.
        Children are clipped to their parent's interval and merged, so
        overlapping children are not subtracted twice."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(i, [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"] - covered)
        return out


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------


def progress_window(p: dict) -> tuple[float, float]:
    """(start, end) epoch seconds of one micro-batch trigger."""
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start_s = start.replace(tzinfo=timezone.utc).timestamp()
    return start_s, start_s + p["durationMs"].get("triggerExecution", 0) / 1000.0


# Trigger phases in execution order; each becomes a child span of its batch.
PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]


class ProgressListener(StreamingQueryListener):
    """Keeps every progress event of every query (``recentProgress`` keeps
    only the last 100) and the ids of terminated queries."""

    def __init__(self):
        self._lock = threading.Lock()
        self._progress: dict[str, list[dict]] = {}
        self._started: set[str] = set()
        self._terminated: set[str] = set()

    def onQueryStarted(self, event):
        with self._lock:
            self._started.add(str(event.id))

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._lock:
            self._progress.setdefault(p["id"], []).append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self._terminated.add(str(event.id))

    def started(self) -> set[str]:
        with self._lock:
            return set(self._started)

    def progress(self, query_id: str) -> list[dict]:
        with self._lock:
            return sorted(self._progress.get(query_id, []), key=lambda p: p["batchId"])

    def wait_terminated(self, query_id: str, timeout_s: float) -> bool:
        """Events are delivered in order, so once the termination event has
        arrived every progress event of the query has too."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if query_id in self._terminated:
                    return True
            time.sleep(0.02)
        return False


def microbatch_summary(batches: list[dict]) -> dict:
    """Per-layer numbers from progress events: batch count, p50 of each
    trigger phase, state rows and memory after the last batch, and state
    commit time summed over the batches."""
    out = {"microbatch.count": len(batches)}
    keys = [("trigger_ms", "triggerExecution")] + [
        (re.sub(r"(?<!^)([A-Z])", r"_\1", ph).lower() + "_ms", ph) for ph in PHASES
    ]
    for name, key in keys:
        vals = [p["durationMs"].get(key, 0) for p in batches]
        out[f"microbatch.{name}"] = median(vals) if vals else 0.0
    rows = mem = commit = 0
    if batches:
        for op in batches[-1].get("stateOperators", []):
            rows += op.get("numRowsTotal", 0)
            mem += op.get("memoryUsedBytes", 0)
        for p in batches:
            for op in p.get("stateOperators", []):
                commit += op.get("commitTimeMs", 0)
    out.update({"state.rows_total": rows, "state.memory_bytes": mem, "state.commit_ms": commit})
    return out


def add_batch_spans(tracer: Tracer, batches: list[dict], parent: int | None) -> None:
    """Rebuild micro-batch and phase spans from progress events."""
    for p in batches:
        start, end = progress_window(p)
        b = tracer.add(f"batch {p['batchId']}", "microbatch", start, end, parent)
        t = start
        for ph in PHASES:
            d = p["durationMs"].get(ph, 0) / 1000.0
            tracer.add(ph, f"microbatch.{ph}", t, t + d, b)
            t += d


# ---------------------------------------------------------------------------
# File opens (traced runs only)
# ---------------------------------------------------------------------------

_IN_OPEN, _IN_MOVED_FROM, _IN_MOVED_TO = 0x20, 0x40, 0x80
_IN_CREATE, _IN_DELETE, _IN_Q_OVERFLOW, _IN_ISDIR = 0x100, 0x200, 0x4000, 0x40000000
_IN_NONBLOCK, _IN_CLOEXEC = 0o4000, 0o2000000
_EVENT = struct.Struct("iIII")  # wd, mask, cookie, name length
_WATCH_POLL_S = 0.01


class FileOpenWatch:
    """Observes directories through Linux inotify, from outside the processes
    that touch them (the Spark JVM and its Python workers): every open of a
    parquet file, and every listing of a watched directory together with the
    number of parquet files the directory held at that moment (kept from the
    create/rename/delete events, which arrive in order with the opens). Each
    open and listing is stamped with the time it was read off the queue,
    within ``_WATCH_POLL_S`` of when it happened."""

    def __init__(self):
        self.opens: list[float] = []
        self.listings: list[tuple[float, int]] = []  # (time, files present)
        self.overflowed = False
        self._libc = ctypes.CDLL(None, use_errno=True)
        self._fd = self._libc.inotify_init1(_IN_NONBLOCK | _IN_CLOEXEC)
        if self._fd < 0:
            raise OSError(ctypes.get_errno(), "inotify_init1")
        self._entries: dict[int, set[str]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="file-open-watch", daemon=True)

    def watch(self, directory: str) -> None:
        """Start watching ``directory``; call it while nothing writes there."""
        present = {n for n in os.listdir(directory) if n.endswith(".parquet")}
        mask = _IN_OPEN | _IN_CREATE | _IN_DELETE | _IN_MOVED_FROM | _IN_MOVED_TO
        wd = self._libc.inotify_add_watch(self._fd, directory.encode(), mask)
        if wd < 0:
            raise OSError(ctypes.get_errno(), f"inotify_add_watch {directory}")
        self._entries[wd] = present

    def _drain(self) -> None:
        while True:
            try:
                buf = os.read(self._fd, 1 << 16)
            except BlockingIOError:
                return
            now, i = time.time(), 0
            while i < len(buf):
                wd, mask, _, n = _EVENT.unpack_from(buf, i)
                name = buf[i + _EVENT.size : i + _EVENT.size + n].rstrip(b"\0").decode()
                i += _EVENT.size + n
                if mask & _IN_Q_OVERFLOW:
                    self.overflowed = True
                    continue
                entries = self._entries.get(wd)
                if entries is None:
                    continue
                if mask & _IN_OPEN:
                    if not name and mask & _IN_ISDIR:
                        self.listings.append((now, len(entries)))
                    elif name.endswith(".parquet"):
                        self.opens.append(now)
                elif name.endswith(".parquet"):
                    if mask & (_IN_CREATE | _IN_MOVED_TO):
                        entries.add(name)
                    elif mask & (_IN_DELETE | _IN_MOVED_FROM):
                        entries.discard(name)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if select.select([self._fd], [], [], _WATCH_POLL_S)[0]:
                self._drain()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._drain()
        os.close(self._fd)

    def counts(self, start: float = 0.0, end: float = float("inf")) -> tuple[int, int]:
        """(file opens, files enumerated by listings) seen in [start, end)."""
        opens = sum(1 for t in self.opens if start <= t < end)
        listed = sum(n for t, n in self.listings if start <= t < end)
        return opens, listed


# ---------------------------------------------------------------------------
# Memory
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants (the driver JVM and the Python workers), children they have
    reaped included."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total * _TICK_S


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of this process and all its descendants (the
    driver JVM and the Python workers) and keeps the peak. A disabled
    sampler starts no thread and reports 0."""

    def __init__(self, enabled: bool, interval_s: float = 0.2):
        self.enabled = enabled
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_kb(p) for p in [me] + descendants(me))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self):
        if self.enabled:
            self._sample()
            self._thread.start()
        return self

    def __exit__(self, *exc):
        if not self.enabled:
            return
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# Spark status store (traced runs only)
# ---------------------------------------------------------------------------

SPARK_KEYS = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.exchanges",
    "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.gc_ms",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.python_bytes_sent",
]

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_EXCHANGE = re.compile(r"[+:-] (?:Reused|Broadcast)?Exchange\b")


def _exchanges(plan: str) -> int:
    """Exchange nodes in the plan tree; for an adaptive plan only the final
    plan counts (its initial plan repeats the same exchanges)."""
    tree = plan.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return len(_EXCHANGE.findall(tree))


def _seq(s):
    return [s.apply(i) for i in range(s.length())]


def _size_bytes(text: str) -> float:
    """Parse a formatted size metric ('1.2 KiB' or a 'total (min, ...)'
    block whose second line starts with the total)."""
    lines = str(text).splitlines()
    m = re.match(r"\s*([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)", lines[1] if len(lines) > 1 else lines[0])
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


class StatusStore:
    """Reads job, stage and SQL-execution numbers from the Spark driver's status
    store, which Spark keeps with the UI disabled."""

    def __init__(self, spark):
        self.spark = spark
        self._jsc = spark.sparkContext._jsc.sc()

    def _drain_bus(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def last_execution_id(self) -> int:
        self._drain_bus()
        ex = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        n = ex.length()
        return ex.apply(n - 1).executionId() if n else -1

    def group_stats(self, group: str, after_execution: int) -> dict:
        """Spark numbers for the jobs of one job group and the SQL
        executions started after ``after_execution``."""
        self._drain_bus()
        st = self._jsc.statusStore()
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        for job in _seq(st.jobsList(None)):
            g = job.jobGroup()
            if not (g.isDefined() and g.get() == group):
                continue
            out["spark.jobs"] += 1
            for sid in _seq(job.stageIds()):
                try:
                    sd = st.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage pruned from the store
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += sd.numCompleteTasks()
                out["spark.executor_run_ms"] += sd.executorRunTime()
                out["spark.executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["spark.gc_ms"] += sd.jvmGcTime()
                out["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for ex in _seq(sql.executionsList()):
            eid = ex.executionId()
            if eid <= after_execution:
                continue
            out["spark.exchanges"] += _exchanges(str(ex.physicalPlanDescription()))
            sent = set()
            for node in _seq(sql.planGraph(eid).allNodes()):
                for m in _seq(node.metrics()):
                    if m.name() == "data sent to Python workers":
                        sent.add(m.accumulatorId())
            if sent:
                # iterate the Scala map: py4j would box a Python int key as
                # Integer, which never equals the map's Long keys
                for kv in _seq(sql.executionMetrics(eid).toSeq()):
                    if kv._1() in sent:
                        out["spark.python_bytes_sent"] += _size_bytes(kv._2())
        return out
