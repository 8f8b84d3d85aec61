"""Benchmark of the streaming medallion: seeded workloads, oracle-checked.

Run from the root of a checkout:

    python3 perfbench/run.py --workload medallion --seed 1 \
        --seconds 10 --trace 0

Each run is one fresh Spark JVM (``local[nproc]``) with every work
directory under ``.bench_work/<pid>`` in the checkout, removed at exit.
A run has three phases:

1. drain — the workload's streaming queries start over a backlog of
   part files, fed one file per trigger: the next file lands as soon as
   every query has planned the one before (with one file per trigger,
   the rest land together once the first is planned). The first, small
   file pays for code generation and state store set-up; the rest give
   ``turns_per_s``. Where the workload has paced files, the benchmark
   then lands them, and last the flush file, one every ``PACE_S``
   seconds over ``--seconds``, by atomic rename, whatever the queries
   are doing (an open loop): ``freshness_*`` is each landed file's
   last sink commit minus the time it was due. Without paced files the
   flush file is part of the backlog and freshness is each backlog
   file's last commit after the queries started.
2. serve — one client reads the drained sinks in a closed loop, a fixed
   number of passes over the workload's request mix (``read``,
   ``read_time_range``, ``read_as_of``, ``HistogramSink.percentiles``,
   ``CountMinSink.estimates``); then copies of the workload's main sink
   are compacted and the batch gold DAG runs over silver, a few rounds
   each.
3. check — every sink and gold output is value-hashed against DuckDB
   running the package's oracle templates over the same seeded input.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of ``BENCHMARK.json``
with ``--trace 0``, its per-layer metrics with ``--trace 1``). The line
before it, and ``.bench_results/``, record the run's context: nproc,
Spark cores, seed, turns and files, generator lateness and sample
counts. A traced run makes the same pass with spans, full progress
events and sink wrappers on, and writes its spans and progress events
to ``.bench_results/trace-*.json`` and ``progress-*.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import copy
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

from inputs import SeedInputs, value_hash
from probe import (
    SinkProbe,
    Tracer,
    file_batches,
    jvm_peak_rss_mb,
    make_listener,
    progress_metrics,
    sink_commit_times,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "crypto_near_real_time_data_ingestion_spark"

MEDALLION = ("silver", "heavy_hitters", "countmin", "gold_hour", "gold_hour_rank")
CONV = ("pairs", "latency_hist", "features", "role_runs", "tool_asof")
GOLD_DAG = ("plans.conv_features", "plans.conv_window_stats_trunc", "plans.rank_window_stats")


@dataclass(frozen=True)
class Workload:
    """A named workload: its streaming queries (engine names), the sinks
    checked against the oracle, the sinks read in the serve phase, the
    sizes of its backlog and paced part files and the files a trigger
    may take."""

    queries: tuple[str, ...]
    checks: tuple[str, ...]
    reads: tuple[str, ...]
    # turns per backlog part: the first is in the source directory at
    # start and warms the JVM, the rest are fed one per trigger
    backlog: tuple[int, ...]
    max_files_per_trigger: int
    paced_turns: int = 0  # turns per paced part; 0: freshness from the backlog


WORKLOADS = {
    # the reference DAG: dedup and window state plus sink writes do the
    # work of the backlog's two large triggers. Paced files land several
    # times per trigger (a small trigger takes 2-3 s on 4 cores), so each
    # trigger takes the files that landed while the last one ran and
    # freshness is about one and a half triggers; twenty files a run
    # average over where each lands within a trigger
    "medallion": Workload(
        MEDALLION, ("silver", "gold_hour", "gold_hour_rank"), ("silver", "gold_hour_rank"),
        backlog=(100, 1_500, 1_500), max_files_per_trigger=16, paced_turns=50,
    ),
    # Python stateful kernels and stream-stream join state do the work;
    # a trigger of its four queries outlasts any useful pace on 4 cores,
    # so freshness is each backlog file's commit after the queries start
    "conv_state_backlog": Workload(
        CONV, ("pairs", "latency_hist", "features", "role_runs", "tool_asof"),
        ("pairs", "features", "tool_asof"),
        backlog=(200, 1_000), max_files_per_trigger=1,
    ),
}

PACE_S = 0.5  # seconds between paced files
READ_CYCLES = 3  # passes over a workload's read mix
COMPACT_ROUNDS = 5  # compactions of fresh sink copies; compact_s is their median
DAG_ROUNDS = 3  # gold DAG repetitions; gold_batch_s sums each plan's median


def _pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 1])."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


class Run:
    """One benchmark run: owns the work dir, the session and the tallies."""

    def __init__(self, wl_name: str, seed: int, seconds: float, work: str):
        self.wl = WORKLOADS[wl_name]
        # paced parts, then the flush file, land over --seconds
        self.n_paced = max(1, round(seconds / PACE_S)) - 1 if self.wl.paced_turns else 0
        parts = [*self.wl.backlog, *[self.wl.paced_turns] * self.n_paced]
        self.inputs = SeedInputs(os.path.join(ROOT, ".bench_cache"), wl_name, parts,
                                 seed, [*self.wl.checks, *GOLD_DAG])
        self.seed = seed
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spark = None
        self.phases: dict[str, float] = {}

    @contextlib.contextmanager
    def timed(self, name: str):
        """Wall time of one phase of the run, for the run's context."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    # -- bookkeeping -------------------------------------------------------

    def attempt(self, what: str, fn, *a, **kw):
        """Run one operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception:  # noqa: BLE001 - one failed operation must not end the run
            self.failed += 1
            self.errors.append(f"{what}: {traceback.format_exc(limit=3)}")
            return None

    # -- session -----------------------------------------------------------

    def start_session(self, cores: int) -> float:
        from crypto_near_real_time_data_ingestion_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores,
                               extra_conf=extra)
        return time.perf_counter() - t0

    # -- drain -------------------------------------------------------------

    def drain(self, tracer=None, listener=None) -> dict:
        """Start the queries over the backlog and drain it, then land the
        paced files on schedule and drain those."""
        from crypto_near_real_time_data_ingestion_spark.datagen.flush import (
            build_flushed_source,
        )
        from crypto_near_real_time_data_ingestion_spark.streaming.engine import (
            start_pipeline,
        )

        work = os.path.join(self.work, "drain")
        pipe = os.path.join(work, "pipe")
        src = os.path.join(work, "src")
        staged = build_flushed_source(self.inputs.parts_dir, os.path.join(work, "staged"))
        files = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
        n_back = len(self.wl.backlog)
        backlog, paced = (files[:n_back], files[n_back:]) if self.n_paced else (files, [])
        os.makedirs(src)
        landed: dict[str, float] = {}

        def land(f: str) -> None:
            """Move a staged file into the source directory by atomic
            rename, as a writer that publishes finished files would. The
            file source orders files by mtime (in ms): keep them apart."""
            mtime = max([time.time(), *(t + 0.01 for t in landed.values())])
            os.utime(os.path.join(staged, f), (mtime, mtime))
            os.rename(os.path.join(staged, f), os.path.join(src, f))
            landed[f] = time.time()

        span = tracer.span if tracer else _null_span
        land(backlog[0])
        t_start_unix = time.time()
        t0 = time.perf_counter()
        with span("engine.start_pipeline"):
            h = start_pipeline(self.spark, src, pipe, self.wl.queries,
                               max_files_per_trigger=self.wl.max_files_per_trigger)
        start_s = time.perf_counter() - t0
        queries = list({id(q): q for q in h.queries.values()}.values())

        def drained() -> None:
            for q in queries:
                q.processAllAvailable()

        scheduled: dict[str, float] = {}
        late: list[float] = []
        try:
            with self.timed("backlog"):
                # closed loop: the next backlog file lands as soon as
                # every query has planned the one before, so each
                # trigger takes one file and no query waits for input.
                # With one file per trigger the rest land together once
                # the first is planned: a query that runs ahead of the
                # others then finds its next file instead of idling
                for k, f in enumerate(backlog[1:]):
                    if k == 0 or self.wl.max_files_per_trigger > 1:
                        _wait_planned(pipe, queries, k)
                    land(f)
                drained()
            # open loop: this thread lands each file at its due time,
            # whatever the queries are doing
            t_gen = time.time()
            t_paced = time.perf_counter()
            for i, f in enumerate(paced, start=1):
                scheduled[f] = t_gen + i * PACE_S
                time.sleep(max(0.0, scheduled[f] - time.time()))
                land(f)
                late.append(max(0.0, landed[f] - scheduled[f]))
            drained()
            self.phases["paced"] = time.perf_counter() - t_paced
        finally:
            h.stop_all()
        for q in queries:
            if q.exception() is not None:
                raise RuntimeError(f"query {q.name} failed: {q.exception()}")

        with open(os.path.join(pipe, "_sink_wiring.json")) as f:
            wiring = json.load(f)
        per_query: dict[str, dict[int, float]] = {}
        for sink_name, qname in wiring.items():
            times = sink_commit_times(os.path.join(pipe, "tables", sink_name))
            acc = per_query.setdefault(qname, {})
            for b, t in times.items():
                acc[b] = max(acc.get(b, 0.0), t)
        consumed = {q: file_batches(os.path.join(pipe, "checkpoints", q))
                    for q in per_query}

        def done(f: str) -> float:
            """When the last query committed the batch that consumed f."""
            return max(per_query[q][consumed[q][f]] for q in per_query)

        # the first backlog file pays for code generation and state store
        # set-up; throughput is measured from its commit to the last one
        rows = self.inputs.part_rows
        out = {
            "handles": h,
            "start_s": start_s,
            "turns_per_s": sum(rows[1:n_back])
            / (done(files[n_back - 1]) - done(files[0])),
            "fresh": [done(f) - scheduled[f] for f in paced]
            or [done(f) - t_start_unix for f in backlog],
            "late_ms_max": 1000.0 * max(late, default=0.0),
        }
        if listener is not None:
            progress = listener.take({str(q.id) for q in queries})
            out["progress"] = progress
            out["backlog_files_max"] = _backlog_max(progress, consumed, landed)
        return out

    # -- serve -------------------------------------------------------------

    def read_loop(self, h, tracer=None) -> list[float]:
        """One client reading the sinks in a closed loop, READ_CYCLES
        passes over the request mix after a warm-up pass; returns each
        timed request's latency."""
        import numpy as np

        spark, sinks = self.spark, h.sinks
        span = tracer.span if tracer else _null_span
        rng = np.random.default_rng(self.seed)
        mix = []
        for i, name in enumerate(self.wl.reads):
            sink = sinks[name]
            mix.append((f"read:{name}", lambda s=sink: s.read(spark)))
            if i == 0:
                versions = sink.versions()
                mid = versions[len(versions) // 2]
                mix.append((f"read_as_of:{name}",
                            lambda s=sink, b=mid: s.read_as_of(spark, b)))
        if "gold_hour" in sinks:
            day = int(rng.integers(0, 7))
            lo = np.datetime64("2025-01-01T00:00:00") + np.timedelta64(day * 24 + 6, "h")
            hi = lo + np.timedelta64(6, "h")
            gh = sinks["gold_hour"]
            mix.append(("read_time_range:gold_hour",
                        lambda: gh.read_time_range(spark, str(lo), str(hi))))
        if "countmin" in sinks:
            from crypto_near_real_time_data_ingestion_spark.datagen.transcripts import _VOCAB

            items = spark.createDataFrame([(str(w),) for w in _VOCAB], "token string")
            cms = sinks["countmin"]
            mix.append(("estimates:countmin", lambda: cms.estimates(spark, items, "token")))
        if "latency_hist" in sinks:
            hist = sinks["latency_hist"]
            mix.append(("percentiles:latency_hist",
                        lambda: hist.percentiles(spark, [0.5, 0.9, 0.99])))

        # one untimed pass warms every request's plans; the first
        # estimates or percentiles request runs several times slower
        reads: list[float] = []
        with self.timed("reads"):
            for what, fn in mix:
                self.attempt(what, lambda f=fn: _noop(f()))
            with span("serve.reads"):
                for _ in range(READ_CYCLES):
                    for what, fn in mix:
                        t0 = time.perf_counter()
                        if self.attempt(what, lambda f=fn: _noop(f()) or True):
                            reads.append(time.perf_counter() - t0)
        return reads

    def serve(self, h, oracle: dict[str, dict], tracer=None) -> dict:
        """Sink reads, compaction of sink copies, then the batch gold DAG:
        checked against the oracle first, which also warms its plans."""
        from pyspark.sql import functions as F

        from crypto_near_real_time_data_ingestion_spark.datagen.flush import FLUSH_CONV_ID
        from crypto_near_real_time_data_ingestion_spark.plans import gold_features, gold_windows
        from crypto_near_real_time_data_ingestion_spark.plans.silver import silver_batch
        from crypto_near_real_time_data_ingestion_spark.sources import read_transcripts

        spark, sinks = self.spark, h.sinks
        span = tracer.span if tracer else _null_span
        reads = self.read_loop(h, tracer)
        t_phase = time.perf_counter()
        # each round compacts a fresh copy of the first read sink's
        # delta pile
        name = self.wl.reads[0]
        compacts: list[float] = []
        for r in range(COMPACT_ROUNDS):
            c = copy.copy(sinks[name])
            c.table_dir = os.path.join(self.work, f"compact-{r}", name)
            shutil.copytree(sinks[name].table_dir, c.table_dir)
            c.data_dir = os.path.join(c.table_dir, "data")
            c.commits_dir = os.path.join(c.table_dir, "_commits")
            c.manifests_dir = os.path.join(c.table_dir, "_manifests")
            t0 = time.perf_counter()
            self.attempt(f"compact:{name}", c.compact, spark)
            compacts.append(time.perf_counter() - t0)

        self.phases["compact"] = time.perf_counter() - t_phase
        t_phase = time.perf_counter()
        if "silver" in sinks:
            silver = sinks["silver"].read(spark).filter(F.col("conv_id") != FLUSH_CONV_ID)
        else:
            silver = silver_batch(read_transcripts(spark, self.inputs.bronze))
        week = gold_windows.conv_window_stats_trunc(silver, "week")
        dag = {
            "plans.conv_features": gold_features.conv_features(silver),
            "plans.conv_window_stats_trunc": week,
            "plans.rank_window_stats": gold_windows.rank_window_stats(week),
        }
        with self.timed("check"):
            self.check(dag, oracle)
        t_phase = time.perf_counter()
        plans: dict[str, list[float]] = {name: [] for name in dag}
        for _ in range(DAG_ROUNDS):
            for name, df in dag.items():
                t0 = time.perf_counter()
                with span(name):
                    self.attempt(name, _noop, df)
                plans[name].append(time.perf_counter() - t0)
        self.phases["gold_dag"] = time.perf_counter() - t_phase
        return {"reads": reads, "compacts": compacts, "plans": plans}

    # -- check -------------------------------------------------------------

    def check(self, frames: dict, oracle: dict[str, dict]) -> None:
        """Value-hash each named DataFrame against its oracle hash."""
        for name, df in frames.items():
            got = self.attempt(f"check:{name}", lambda d=df: value_hash(d.toPandas()))
            if got is not None and got != oracle[name]:
                self.failed += 1
                self.errors.append(f"check:{name}: got {got} want {oracle[name]}")

    def sink_frames(self, h) -> dict:
        """The checked sinks' merged views, flush sentinel removed."""
        from pyspark.sql import functions as F

        from crypto_near_real_time_data_ingestion_spark.datagen.flush import FLUSH_CONV_ID

        frames = {}
        for name in self.wl.checks:
            df = h.sinks[name].read(self.spark)
            if "conv_id" in df.columns:
                df = df.filter(F.col("conv_id") != FLUSH_CONV_ID)
            if name == "latency_hist":
                df = df.select(F.col("bin").cast("long"), F.col("count").cast("long"))
            frames[name] = df
        return frames


def _null_span(name):
    return contextlib.nullcontext()


def _wait_planned(pipe: str, queries, k: int) -> None:
    """Wait until every query's file source log holds entry k, which it
    writes when it plans the batch that takes the k-th file; raise if a
    query ends first."""
    logs = [os.path.join(pipe, "checkpoints", q.name, "sources", "0", str(k))
            for q in queries]
    while not all(os.path.exists(p) or os.path.exists(p + ".compact") for p in logs):
        for q in queries:
            if not q.isActive:
                raise RuntimeError(f"query {q.name} ended: {q.exception()}")
        time.sleep(0.01)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _backlog_max(progress, consumed, landed) -> int:
    """Most files landed but not yet consumed when any batch began."""
    from datetime import datetime

    worst = 0
    for p in progress:
        q, b = p.get("name"), p.get("batchId")
        if q not in consumed:
            continue
        began = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        done_before = sum(1 for bb in consumed[q].values() if bb < b)
        arrived = sum(1 for t in landed.values() if t <= began)
        worst = max(worst, arrived - done_before)
    return worst


def _pass(run: Run, oracle, tracer=None, listener=None) -> dict:
    """Drain, check the sinks, then serve over them."""
    phase = tracer.phase_span if tracer else _null_span
    with phase("drain"):
        d = run.attempt("drain", run.drain, tracer, listener)
    if d is None:
        return {}
    with run.timed("check"):
        run.check(run.sink_frames(d["handles"]), oracle)
    with phase("serve"):
        served = run.serve(d["handles"], oracle, tracer)
    return {"drain": d, **served}


def _end_to_end(p: dict, get_spark_s: float) -> dict[str, float]:
    d = p["drain"]
    return {
        "setup_s": get_spark_s + d["start_s"],
        "turns_per_s": d["turns_per_s"],
        "freshness_p50_s": _pct(d["fresh"], 0.5),
        "freshness_p90_s": _pct(d["fresh"], 0.9),
        "read_p50_s": _pct(p["reads"], 0.5),
        "read_p90_s": _pct(p["reads"], 0.9),
        "compact_s": statistics.median(p["compacts"]),
        "gold_batch_s": sum(map(statistics.median, p["plans"].values())),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", str(os.getpid()))
    results_dir = os.path.join(ROOT, ".bench_results")
    for d in (work, os.path.join(work, "tmp"), results_dir):
        os.makedirs(d, exist_ok=True)
    # everything the run and its Spark/Python workers write stays in the
    # checkout; PYTHONPATH lets Python workers import the package
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_DATA_ROOT"] = os.path.join(work, "data")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    try:
        return _run(args, work, results_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, results_dir: str) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    cores = len(os.sched_getaffinity(0))
    cpu0 = _cpu_times()
    run = Run(args.workload, args.seed, args.seconds, work)
    with run.timed("inputs"):
        run.inputs.ensure()
        oracle = run.inputs.oracle(os.path.join(work, "tmp"))

    get_spark_s = run.start_session(cores)
    try:
        metrics, e2e = None, {}
        if args.trace:
            base, metrics = _traced(run, oracle, get_spark_s, results_dir, args)
        else:
            base = _pass(run, oracle)
            if run.failed == 0:
                e2e = _end_to_end(base, get_spark_s)
                e2e["peak_rss_mb"] = jvm_peak_rss_mb(run.spark)
                metrics = e2e
    finally:
        with run.timed("stop"):
            _stop_spark(run.spark)

    d = base.get("drain", {})
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "spark_cores": cores,
        "steal_frac": _steal_frac(cpu0, _cpu_times()),
        "turns": sum(run.inputs.part_rows),
        "backlog_files": len(run.wl.backlog),
        "paced_files": run.n_paced + 1 if run.n_paced else 0,
        "pace_s": PACE_S, "max_files_per_trigger": run.wl.max_files_per_trigger,
        "gen_late_ms_max": d.get("late_ms_max"),
        "freshness_s": d.get("fresh"),
        "reads": len(base.get("reads", [])),
        "compact_s": base.get("compacts"),
        "phases_s": {k: round(v, 2) for k, v in run.phases.items()},
        "e2e": e2e,
        "errors": run.errors,
    }
    ok = run.failed == 0 and metrics is not None
    result = {"correct": ok, "attempted": run.attempted, "failed": run.failed,
              "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in names}
              if ok else {}}
    with open(os.path.join(
        results_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"
    ), "w") as f:
        json.dump({"context": context, "result": result}, f, indent=1)
    for e in run.errors:
        print(e, file=sys.stderr)
    print(json.dumps({"context": {k: v for k, v in context.items() if k != "errors"}}))
    print(json.dumps(result))
    return 0 if ok else 1


def _cpu_times() -> list[int]:
    """The machine's CPU time counters (``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_frac(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    readings: on a shared host every timing of the run moves with it."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(1, sum(d))


def _stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it: the
    JVM exits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _traced(run, oracle, get_spark_s, results_dir, args) -> tuple[dict, dict | None]:
    """The run's pass with spans, full progress and sink wrappers on, in
    the same cold JVM an untraced run measures. Tracing overhead is the
    time the wrappers and the listener spend beside the wrapped work, as
    a share of the pass: a second, untraced pass in the same JVM would
    run warmer, and that difference swamps the tracing cost."""
    tracer = Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}")
    listener = make_listener()
    run.spark.streams.addListener(listener)
    probe = SinkProbe(tracer)
    with probe.installed():
        traced = _pass(run, oracle, tracer, listener)
    run.spark.streams.removeListener(listener)
    if run.failed:
        return traced, None
    pass_s = tracer.total("drain") + tracer.total("serve")
    d = traced["drain"]
    reads = tracer.durations("sinks.read", phase="serve.reads")
    m = {
        "session.get_spark_s": get_spark_s,
        "engine.start_pipeline_s": tracer.total("engine.start_pipeline"),
        **progress_metrics(d["progress"]),
        "engine.backlog_files_max": d["backlog_files_max"],
        "sinks.process_batch_ms": 1000.0 * tracer.total("sinks.process_batch"),
        "sinks.process_batch_calls": probe.calls,
        "sinks.replayed_batches": probe.replayed,
        "sinks.files_written": probe.files_written,
        "sinks.bytes_written": probe.bytes_written,
        "sinks.read_ms": 1000.0 * statistics.mean(reads),
        "sinks.files_read_per_read": statistics.mean(probe.files_per_read),
        "sinks.compact_ms": 1000.0 * tracer.total("sinks.compact") / COMPACT_ROUNDS,
        **{f"{k}_s": statistics.median(tracer.durations(k)) for k in GOLD_DAG},
        "gen.late_ms_max": d["late_ms_max"],
        "trace.overhead_frac": (probe.overhead_s + listener.overhead_s) / pass_s,
    }
    tracer.write(os.path.join(
        results_dir, f"trace-{args.workload}-s{args.seed}.json"
    ))
    with open(os.path.join(
        results_dir, f"progress-{args.workload}-s{args.seed}.json"
    ), "w") as f:
        json.dump(d["progress"], f)
    return traced, m


if __name__ == "__main__":
    sys.exit(main())
