"""Measurement from outside the program: spans, progress, sink wrappers.

* ``Tracer`` keeps spans (name, start, end, parent, run id) in memory and
  writes them out once, at the end of a traced run; ``self_times``
  subtracts the part of each span its children cover.
* ``ProgressListener`` keeps every streaming progress event whole — the
  ``durationMs`` breakdown and each state operator's ``commitTimeMs``,
  ``memoryUsedBytes`` and ``numRowsTotal``.
* ``SinkProbe`` wraps the public ``ParquetMergeSink`` methods
  (``process_batch``, ``read``/``read_as_of``/``read_time_range``,
  ``compact``) for the duration of a traced phase and restores them.
* ``file_batches`` / ``sink_commit_times`` read the checkpoint file log
  and the sink manifests, which is where freshness comes from.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time

# -- spans -----------------------------------------------------------------


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        # parent for spans opened on threads with no open span of their
        # own (foreachBatch callbacks run on the py4j callback thread)
        self.phase: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self.phase
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "parent": parent, "run": self.run_id,
                 "start": time.perf_counter(), "end": None}
            )
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    @contextlib.contextmanager
    def phase_span(self, name: str):
        with self.span(name) as sid:
            prev, self.phase = self.phase, sid
            try:
                yield sid
            finally:
                self.phase = prev

    def current(self) -> str | None:
        """Name of the innermost span open on this thread."""
        stack = getattr(self._local, "stack", None)
        return self.spans[stack[-1]]["name"] if stack else None

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def durations(self, name: str, phase: str | None = None) -> list[float]:
        """Durations of the named spans, optionally only those opened
        directly under a phase span of the given name."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and (phase is None or (s["parent"] is not None
                                       and self.spans[s["parent"]]["name"] == phase))]

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the union of child intervals
        (clipped to the parent) — a layer's own time."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
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
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_s": self.self_times()}, f)


# -- streaming progress ----------------------------------------------------


def make_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.terminated: set[str] = set()
            self.overhead_s = 0.0  # time spent in this listener's callbacks
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            t0 = time.perf_counter()
            p = json.loads(event.progress.json)
            with self._lock:
                self.progress.append(p)
                self.overhead_s += time.perf_counter() - t0

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            with self._lock:
                self.terminated.add(str(event.id))

        def take(self, query_ids: set[str], timeout_s: float = 10.0) -> list[dict]:
            """Events of the given queries, once all have terminated (the
            listener bus delivers asynchronously)."""
            deadline = time.monotonic() + timeout_s
            while time.monotonic() < deadline and not query_ids <= self.terminated:
                time.sleep(0.05)
            with self._lock:
                mine = [p for p in self.progress if p.get("id") in query_ids]
                self.progress = [p for p in self.progress if p.get("id") not in query_ids]
            return mine

    return ProgressListener()


def _ops(progress: list[dict], op_name: str):
    for p in progress:
        for i, s in enumerate(p.get("stateOperators", [])):
            if s.get("operatorName") == op_name:
                yield p, i, s


def _count(p: dict, op_name: str) -> int:
    return sum(s.get("operatorName") == op_name for s in p.get("stateOperators", []))


def _peak_rows(progress: list[dict], op_name: str) -> int:
    """Peak state rows of each operator instance, summed over instances."""
    peak: dict[tuple, int] = {}
    for p, i, s in _ops(progress, op_name):
        key = (p.get("id"), i)
        peak[key] = max(peak.get(key, 0), s.get("numRowsTotal") or 0)
    return sum(peak.values())


STATEFUL_QUERIES = {
    "features": "applyInPandasWithState",
    "role_runs": "applyInPandasWithState",
    "tool_asof": "applyInPandasWithState",
    "pairs": "symmetricHashJoin",
}


def progress_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-layer numbers from the full progress events of one drain."""
    dur = lambda k: sum(p.get("durationMs", {}).get(k, 0) for p in progress)  # noqa: E731
    triggers = [p.get("durationMs", {}).get("triggerExecution", 0) for p in progress]
    dedup = list(_ops(progress, "dedupeWithinWatermark"))
    windows = list(_ops(progress, "stateStoreSave"))
    m = {
        "sources.latest_offset_ms": dur("latestOffset"),
        "sources.get_batch_ms": dur("getBatch"),
        "engine.planning_ms": dur("queryPlanning"),
        "engine.wal_commit_ms": dur("walCommit"),
        "engine.commit_offsets_ms": dur("commitOffsets"),
        "engine.trigger_p50_ms": statistics.median(triggers) if triggers else 0.0,
        "engine.batches": len(progress),
        "silver.state_commit_ms": sum(s.get("commitTimeMs", 0) for _, _, s in dedup),
        "silver.state_rows": _peak_rows(progress, "dedupeWithinWatermark"),
        # useful / attempted: keys kept over rows offered; a self-join
        # query (pairs) feeds each of its dedup operators half its input
        "silver.rows_out_per_in": (
            sum(s.get("numRowsUpdated", 0) for _, _, s in dedup)
            / max(1, sum(p.get("numInputRows", 0) / _count(p, "dedupeWithinWatermark")
                         for p, _, _ in dedup))
        ),
        "gold_windows.state_commit_ms": sum(s.get("commitTimeMs", 0) for _, _, s in windows),
        "gold_windows.state_memory_bytes": max(
            (s.get("memoryUsedBytes", 0) for _, _, s in windows), default=0
        ),
    }
    for q, op in STATEFUL_QUERIES.items():
        mine = [p for p in progress if p.get("name") == q]
        m[f"stateful.{q}.add_batch_ms"] = sum(
            p.get("durationMs", {}).get("addBatch", 0) for p in mine
        )
        m[f"stateful.{q}.state_rows"] = _peak_rows(mine, op)
        m[f"stateful.{q}.state_commit_ms"] = sum(
            s.get("commitTimeMs", 0) for _, _, s in _ops(mine, op)
        )
    return m


# -- sink wrappers ---------------------------------------------------------


def _dir_files(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class SinkProbe:
    """Installs timing wrappers on ``ParquetMergeSink``'s public methods
    (every sink class inherits them) and restores the originals on exit."""

    READS = ("read", "read_as_of", "read_time_range")

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.calls = 0
        self.replayed = 0
        self.files_written = 0
        self.bytes_written = 0
        self.files_per_read: list[int] = []
        # time the wrappers add around the wrapped calls
        self.overhead_s = 0.0
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def installed(self):
        from crypto_near_real_time_data_ingestion_spark.streaming.sinks import (
            ParquetMergeSink,
        )

        orig = {n: getattr(ParquetMergeSink, n)
                for n in ("process_batch", "compact", *self.READS)}
        probe = self

        def process_batch(sink, df, batch_id):
            with probe.tracer.span("sinks.process_batch"):
                t0 = time.perf_counter()
                replay = sink.is_committed(batch_id)
                t1 = time.perf_counter()
                orig["process_batch"](sink, df, batch_id)
            t2 = time.perf_counter()
            n, size = (0, 0) if replay else _dir_files(
                os.path.join(sink.data_dir, f"batch-{batch_id:08d}")
            )
            with probe._lock:
                probe.overhead_s += (t1 - t0) + (time.perf_counter() - t2)
                probe.calls += 1
                probe.replayed += int(replay)
                probe.files_written += n
                probe.bytes_written += size

        def compact(sink, spark, *a, **kw):
            with probe.tracer.span("sinks.compact"):
                return orig["compact"](sink, spark, *a, **kw)

        def reader(name):
            def read(sink, spark, *a, **kw):
                serving = probe.tracer.current() == "serve.reads"
                with probe.tracer.span("sinks.read"):
                    df = orig[name](sink, spark, *a, **kw)
                if serving:
                    t0 = time.perf_counter()
                    probe.files_per_read.append(len(df.inputFiles()))
                    probe.overhead_s += time.perf_counter() - t0
                return df
            return read

        ParquetMergeSink.process_batch = process_batch
        ParquetMergeSink.compact = compact
        for n in self.READS:
            setattr(ParquetMergeSink, n, reader(n))
        try:
            yield self
        finally:
            for n, f in orig.items():
                setattr(ParquetMergeSink, n, f)


# -- checkpoint file log + sink manifests ----------------------------------


def file_batches(checkpoint: str) -> dict[str, int]:
    """Source file basename -> id of the micro-batch that consumed it.

    The file source's log (``sources/0/<n>`` and its ``.compact``
    roll-ups) numbers its entries by SOURCE offset, which no-data batches
    do not advance; the offset log (``offsets/<batch>``) records each
    batch's end offset, so a file at source offset k belongs to the
    first batch whose end offset reaches k."""
    src = os.path.join(checkpoint, "sources", "0")
    at_offset: dict[str, int] = {}
    for f in os.listdir(src):
        if f.startswith(".") or f.endswith(".tmp"):
            continue
        with open(os.path.join(src, f)) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    at_offset[os.path.basename(e["path"])] = int(e["batchId"])
    ends: list[tuple[int, int]] = []  # (end source offset, batch id)
    off_dir = os.path.join(checkpoint, "offsets")
    for f in os.listdir(off_dir):
        if f.isdigit():
            with open(os.path.join(off_dir, f)) as fh:
                source = json.loads(fh.read().splitlines()[2])
            ends.append((int(source["logOffset"]), int(f)))
    ends.sort(key=lambda t: t[1])
    return {
        name: min(b for end, b in ends if end >= k)
        for name, k in at_offset.items()
    }


def sink_commit_times(table_dir: str) -> dict[int, float]:
    """Batch id -> ``committed_at_unix`` from a sink's batch manifests."""
    d = os.path.join(table_dir, "_manifests")
    out: dict[int, float] = {}
    for f in os.listdir(d):
        if f.startswith("batch-") and f.endswith(".json"):
            with open(os.path.join(d, f)) as fh:
                m = json.load(fh)
            out[int(m["batch_id"])] = float(m["committed_at_unix"])
    return out


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the Spark driver JVM."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")
