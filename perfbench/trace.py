"""Measurement helpers: spans, statistics, peak RSS, counting codecs and
executed-plan readers.

Spans are kept in memory (name, start, end, parent id, operation id) and
written out when the benchmark ends. A span's self time is its duration
minus the time its child spans cover; spans nest on one thread, so the
children of a span never overlap.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.accumulators import AccumulatorParam

from arc_maskdata_pipeline_plugin_spark.codecs.hmac_sha512 import HmacSHA512
from arc_maskdata_pipeline_plugin_spark.codecs.pbkdf2 import PBKDF2WithHmacSHA512


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[int, float]:
        """Self time of every span, by span id."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in self.spans}

    def write(self, path: str) -> None:
        """One JSON span per line, with its self time."""
        own = self.self_times()
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self_s": own[s["id"]]}) + "\n")


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float] | None:
    """The highest percentile that still has at least ten samples beyond
    it, as ``(value, percentile)``; ``None`` below eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 11
    return float(sorted(xs)[k]), 100.0 * (k + 1) / n


# --------------------------------------------------------------------------
# Peak RSS of this process's descendants (the driver JVM and its Python
# workers), read from /proc.
# --------------------------------------------------------------------------


def alive(pid: int) -> bool:
    """Whether ``pid`` runs (a zombie that only awaits reaping does not)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rfind(b")") + 2 :].split()[0] != b"Z"


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Samples the summed RSS of every descendant process in a thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in descendants(me)))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# --------------------------------------------------------------------------
# Counting codecs (traced runs only): the engine's codecs plus Spark
# accumulators for PBKDF2 (KDF) and HmacSHA512 calls, key-stretch seconds,
# codec deserializations and the tasks that deserialized one.
# --------------------------------------------------------------------------


class _SetParam(AccumulatorParam):
    def zero(self, value):
        return set()

    def addInPlace(self, a, b):
        a |= b
        return a


class CodecCounters:
    def __init__(self, sc):
        self.kdf_calls = sc.accumulator(0)
        self.hmac_calls = sc.accumulator(0)
        self.stretch_s = sc.accumulator(0.0)
        self.instances = sc.accumulator(0)
        self.tasks = sc.accumulator(set(), _SetParam())

    def snapshot(self) -> dict:
        return {
            "kdf_calls": self.kdf_calls.value,
            "hmac_calls": self.hmac_calls.value,
            "stretch_s": self.stretch_s.value,
            "instances": self.instances.value,
            "tasks": len(self.tasks.value),
        }


def _count_instance(counters: CodecCounters) -> None:
    from pyspark import TaskContext

    counters.instances.add(1)
    tc = TaskContext.get()
    if tc is not None:
        counters.tasks.add({tc.taskAttemptId()})


class CountingHmacSHA512(HmacSHA512):
    def __init__(self, counters: CodecCounters):
        super().__init__()
        self.counters = counters

    def _stretched_key(self, salt: bytes) -> bytes:
        if salt in self._key_cache:
            return self._key_cache[salt]
        t0 = time.perf_counter()
        key = super()._stretched_key(salt)
        self.counters.stretch_s.add(time.perf_counter() - t0)
        return key

    def encrypt(self, value_chars: str, salt: bytes) -> bytes:
        self.counters.hmac_calls.add(1)
        return super().encrypt(value_chars, salt)

    def __setstate__(self, state):
        self.__dict__.update(state)
        _count_instance(self.counters)


class CountingPBKDF2(PBKDF2WithHmacSHA512):
    def __init__(self, counters: CodecCounters, iterations: int):
        super().__init__()
        self.iteration_count = iterations
        self.counters = counters

    def encrypt(self, value_chars: str, salt: bytes) -> bytes:
        self.counters.kdf_calls.add(1)
        return super().encrypt(value_chars, salt)

    def __setstate__(self, state):
        self.__dict__.update(state)
        _count_instance(self.counters)


# --------------------------------------------------------------------------
# Streaming progress, read through a StreamingQueryListener
# --------------------------------------------------------------------------

STREAM_DURATIONS = {
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.latest_offset_ms": "latestOffset",
}


class ProgressLog:
    """Every non-empty micro-batch's ``StreamingQueryProgress``, in arrival
    order: ``{"rows": numInputRows, "durations": durationMs}``."""

    def __init__(self):
        self.batches: list[dict] = []
        self._lock = threading.Lock()
        self.listener = None

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows > 0:
                    with log._lock:
                        log.batches.append(
                            {"rows": p.numInputRows, "durations": dict(p.durationMs)}
                        )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        if self.listener is None:
            self.listener = Listener()
            spark.streams.addListener(self.listener)

    def count(self) -> int:
        with self._lock:
            return len(self.batches)

    def wait_since(self, seen: int, expected: int, timeout_s: float = 30) -> list[dict]:
        """Batches after the first ``seen``, once ``expected`` of them have
        arrived (listener events are delivered asynchronously)."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                new = self.batches[seen:]
            if len(new) >= expected or time.monotonic() > deadline:
                return new
            time.sleep(0.05)


# --------------------------------------------------------------------------
# Executed plans and SQL metrics
# --------------------------------------------------------------------------

_EXCHANGE = re.compile(r"\b(?:Exchange|BroadcastExchange|ReusedExchange)\b")


def exchange_count(df) -> int:
    """Exchange nodes in the executed (final adaptive) plan of ``df``."""
    return len(_EXCHANGE.findall(df._jdf.queryExecution().executedPlan().toString()))


_SIZE = re.compile(r"([\d.,]+) (B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _size_value(text: str) -> float:
    m = _SIZE.search(text.split("\n")[1] if "\n" in text else text)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def _executions_since(spark, after_execution_id: int, timeout_s: float = 10):
    """``(store, execution)`` of the SQL executions after
    ``after_execution_id``, once the status store has seen each of them end
    (its listener runs asynchronously)."""
    store = spark._jsparkSession.sharedState().statusStore()
    deadline = time.monotonic() + timeout_s
    while True:
        execs = store.executionsList()
        since = [
            execs.apply(i)
            for i in range(execs.size())
            if execs.apply(i).executionId() > after_execution_id
        ]
        if all(ex.completionTime().isDefined() for ex in since) or time.monotonic() > deadline:
            return [(store, ex) for ex in since]
        time.sleep(0.05)


def python_bytes_since(spark, after_execution_id: int) -> float:
    """Bytes sent to plus returned from Python workers by the SQL
    executions after ``after_execution_id`` (from the ArrowEvalPython
    ``data sent/returned`` metrics)."""
    total = 0.0
    for store, ex in _executions_since(spark, after_execution_id):
        values = store.executionMetrics(ex.executionId())
        ms = ex.metrics()
        for j in range(ms.size()):
            m = ms.apply(j)
            if m.name() in ("data sent to Python workers", "data returned from Python workers"):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    total += _size_value(v.get())
    return total


def scanned_rows_since(spark, after_execution_id: int) -> int:
    """Rows read by the scan nodes ("number of output rows") of the SQL
    executions after ``after_execution_id``, streaming micro-batches
    included."""
    total = 0
    for store, ex in _executions_since(spark, after_execution_id):
        values = store.executionMetrics(ex.executionId())
        nodes = store.planGraph(ex.executionId()).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if not node.name().startswith("Scan"):
                continue
            ms = node.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                if m.name() == "number of output rows":
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        total += int(v.get().replace(",", ""))
    return total


def last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)
