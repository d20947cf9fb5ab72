#!/usr/bin/env python3
"""Closed-loop benchmark of the scache_spark query engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One run, one client, one query at a time
on ``local[<cores>]`` with the engine's own session configuration:

1. Inputs: the workload's tables are generated by ``datagen.py`` (seed
   ``workloads.DATA_SEED``) into ``.perfbench_work/`` and, for a
   replica, staged by ``tools/scale_stress.stage``; both are reused
   when present and are not part of ``setup_s``.  ``--seed`` sets the
   query order of every pass.
2. Set-up, ``SETUP_REPS`` times: start a Spark application through
   ``session.get_session``, run the engine warm-up jobs and stage every
   table and stream source; stop it, except after the last rep.
   ``setup_s`` is the median rep.
3. Warm-up, untimed: a check pass runs every query once, checks its
   result against its DuckDB oracle on the same files (or, with no
   oracle, records it) and keeps its row count.  Then passes repeat
   until pass time stops falling: a pass less than ``WARM_DRIFT``
   faster than the pass before it is steady and becomes the first
   timed pass.  ``WARM_MAX`` warm-up passes end warm-up regardless; the
   run then logs that the cap ended it and reports ``warmup.steady`` 0.
4. Timed: whole passes, each in a seed-shuffled order, until
   ``--seconds`` have elapsed and at least ``MIN_PASSES`` have run.
   Every execution checks its row count against the check pass; an
   exception or a mismatch counts as failed.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` turns on
Spark's event log, alternates instrumented and plain timed passes
(``MIN_PASSES`` of each) and prints the per-layer metrics of the
instrumented passes, the end-to-end metrics of the traced run
(``traced.*``) and the tracing overhead (``overhead.*``: instrumented
passes minus plain passes of the same run; both run with the event log
on, whose cost shows against the untraced runs).  The spans and
per-query layer records go to ``.perfbench_work/trace-<workload>-<seed>.json``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value, unit).  Everything else goes
to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

SETUP_REPS = 3
WARM_DRIFT = 0.05
# Cap on warm-up passes.  On a shared 4-vCPU VM (9-16% CPU steal under
# load) pass time fell by 10-20% a pass for the first two or three
# passes after the check pass and then moved by up to 15% either way,
# so a longer warm-up mostly waits for noise to pass the drift test;
# the run length allows two.
WARM_MAX = 2
MIN_PASSES = 3
# query_tail_s percentile of the pooled timed samples.  A run gives at
# least 18 (interactive_sf001) or 12 (shuffle_x10) samples, so 4 or 3
# of them lie beyond it: ten beyond p75 would take 40, which the run
# length does not allow.
TAIL_Q = 0.75
STREAM_END_WAIT_S = 10.0

# layer counters checked for exact repeats across instrumented passes
COUNTERS = (
    "catalog.load_table_calls",
    "operators.build_jobs",
    "operators.materialize_calls",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.failed_tasks",
    "shuffle.records_written",
    "shuffle.bytes_written",
    "shuffle.bytes_read",
    "scan.input_records",
    "scan.input_bytes",
    "streaming.batches",
    "streaming.state_rows",
)
# per-query layer values summed over a pass
PASS_SUMS = (
    ("catalog.load_table_calls", "count"),
    ("catalog.load_table_s", "s"),
    ("operators.build_s", "s"),
    ("operators.plan_s", "s"),
    ("operators.build_jobs", "count"),
    ("operators.materialize_calls", "count"),
    ("operators.materialize_s", "s"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("exec.action_s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.failed_tasks", "count"),
    ("exec.job_wall_s", "s"),
    ("exec.driver_gap_s", "s"),
    ("exec.executor_run_s", "s"),
    ("exec.executor_cpu_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.deserialize_s", "s"),
    ("exec.spill_bytes", "bytes"),
    ("shuffle.bytes_written", "bytes"),
    ("shuffle.records_written", "count"),
    ("shuffle.bytes_read", "bytes"),
    ("shuffle.fetch_wait_s", "s"),
    ("shuffle.write_time_s", "s"),
    ("scan.input_bytes", "bytes"),
    ("scan.input_records", "count"),
    ("udf.python_s", "s"),
    ("udf.python_init_s", "s"),
    ("streaming.batches", "count"),
    ("streaming.addBatch_ms", "ms"),
    ("streaming.queryPlanning_ms", "ms"),
    ("streaming.walCommit_ms", "ms"),
    ("streaming.commitOffsets_ms", "ms"),
    ("streaming.latestOffset_ms", "ms"),
    ("streaming.state_rows", "count"),
    ("streaming.state_memory_bytes", "bytes"),
)
# end-to-end metrics that come from the timed passes, with their units
PASS_METRICS = (
    ("throughput_qpm", "queries/min"),
    ("query_p50_s", "s"),
    ("query_tail_s", "s"),
    ("batch_p50_ms", "ms"),
    ("stream_rows_per_s", "rows/s"),
)


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def fail(msg: str, code: int = 2) -> None:
    log(msg)
    sys.exit(code)


def _plus_one(x):
    return x + 1


def configure_env() -> int:
    """Environment the engine and its Python workers start under.  It
    must be set before ``scache_spark`` is imported: the session module
    reads ``SPARK_GRAFT_CPUS`` at import.  The workers import
    scache_spark, so the repository root goes on PYTHONPATH whatever
    the working directory."""
    cores = len(os.sched_getaffinity(0))
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    return cores


def spark_conf(event_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def set_up(workload, data_dir: str, conf: dict[str, str]):
    """``SETUP_REPS`` fresh Spark applications; returns the last one
    and the per-rep (total, get_session) seconds."""
    import pandas as pd  # noqa: F401  (pandas_udf needs it loaded)
    from pyspark.sql.functions import pandas_udf

    from scache_spark.catalog import TABLES, load_table
    from scache_spark.session import get_session
    from scache_spark.streaming.windows import _staged_events_dir

    spark, staged, reps = None, [], []
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        for path in staged:
            shutil.rmtree(path, ignore_errors=True)
        t0 = time.time()
        spark = get_session("perfbench", extra_conf=conf)
        t1 = time.time()
        spark.range(1000).count()
        spark.range(10000).selectExpr("id % 7 k", "id v").groupBy("k").count().count()
        spark.range(1000).select(pandas_udf(_plus_one, "long")("id")).count()
        for t in TABLES:
            load_table(spark, data_dir, t)
        if workload.stream:
            staged = [_staged_events_dir(spark, data_dir, copies=1)]
        reps.append((time.time() - t0, t1 - t0))
    return spark, reps


@dataclass
class Pass:
    """One timed pass: its wall time, (name, seconds) of every correct
    execution and the (start, end) of each execution by query id."""

    wall: float
    instrumented: bool
    samples: list[tuple[str, float]] = field(default_factory=list)
    walls: dict[str, tuple[float, float]] = field(default_factory=dict)


class Runner:
    """Executes queries and keeps every sample and failure of the run."""

    def __init__(self, spark, data_dir: str, streams, tracer=None):
        from scache_spark.registry import REGISTRY

        self.spark = spark
        self.data_dir = data_dir
        self.registry = REGISTRY
        self.streams = streams
        self.tracer = tracer
        self.rows: dict[str, int] = {}
        self.attempted = 0
        self.failed = 0

    def execute(self, name: str, qid: str, instrumented: bool):
        """Build and count one query; returns (rows, start, end).  The
        streams it starts are filed under ``qid``; an instrumented
        execution also runs under job group ``qid`` and records its
        build and action spans."""
        sc = self.spark.sparkContext
        self.streams.current = qid
        if instrumented:
            self.tracer.current = qid
            sc.setJobGroup(qid, name)
        try:
            t0 = time.time()
            df = self.registry[name].fn(self.spark, self.data_dir)
            t1 = time.time()
            counted = df.groupBy().count()
            rows = counted.collect()[0][0]
            t2 = time.time()
        finally:
            self.streams.current = None
            if instrumented:
                self.tracer.current = None
                sc.setLocalProperty("spark.jobGroup.id", None)
        if instrumented:
            self.tracer.current = qid
            self.tracer.span("operators.build", t0, t1)
            self.tracer.span("exec.action", t1, t2)
            self.tracer.record_phases(qid, counted)
            self.tracer.current = None
        return rows, t0, t2

    def check_pass(self, names: list[str]) -> None:
        """Untimed: collect each query, compare it with its DuckDB
        oracle on the same files (or, with no oracle, just record it)
        and keep its row count.  The oracles run in a second thread
        while Spark works."""
        from tests.conftest import assert_frames_match

        con = oracle_connection(self.data_dir)
        with ThreadPoolExecutor(1) as pool:
            expected = {
                name: pool.submit(lambda sql: con.execute(sql).df(), spec.oracle)
                for name, spec in ((n, self.registry[n]) for n in names)
                if spec.oracle is not None
            }
            for name in names:
                self.attempted += 1
                try:
                    got = self.registry[name].fn(self.spark, self.data_dir).toPandas()
                    if name in expected:
                        assert_frames_match(got, expected[name].result(), name)
                    self.rows[name] = len(got)
                except Exception:  # noqa: BLE001 - counted and reported
                    self.failed += 1
                    log(f"check failed: {name}\n{traceback.format_exc()}")
        con.close()

    def timed_pass(self, names: list[str], index: int, instrumented: bool) -> Pass:
        p = Pass(wall=0.0, instrumented=instrumented)
        t_pass = time.time()
        for name in names:
            qid = f"{name}#{index}"
            self.attempted += 1
            try:
                rows, t0, t1 = self.execute(name, qid, instrumented)
            except Exception:  # noqa: BLE001 - counted and reported
                self.failed += 1
                log(f"execution failed: {name}\n{traceback.format_exc()}")
                continue
            if rows != self.rows.get(name):
                self.failed += 1
                log(f"row count mismatch: {name} {rows} != {self.rows.get(name)}")
                continue
            p.samples.append((name, t1 - t0))
            p.walls[qid] = (t0, t1)
        p.wall = time.time() - t_pass
        return p


def oracle_connection(data_dir: str):
    import duckdb

    from scache_spark.catalog import TABLES, table_path

    con = duckdb.connect()
    # one thread, so the oracles running beside Spark take little CPU
    con.execute("SET threads = 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(data_dir, t)}')")
    return con


def measure(runner: Runner, names: list[str], rng: random.Random, seconds: float, traced: bool):
    """Warm-up passes, then timed passes (see the module docstring).

    Traced runs alternate plain and instrumented timed passes.
    Returns the warm-up pass walls, whether warm-up reached a steady
    pass, and the timed passes."""
    warm: list[float] = []
    timed: list[Pass] = []
    steady = False
    t_start = None
    index = 0
    while True:
        instrumented = traced and len(timed) % 2 == 1
        p = runner.timed_pass(rng.sample(names, len(names)), index, instrumented)
        index += 1
        if t_start is None:
            steady = bool(warm) and p.wall > (1 - WARM_DRIFT) * warm[-1]
            if not steady and len(warm) < WARM_MAX:
                warm.append(p.wall)
                continue
            t_start = time.time() - p.wall
        timed.append(p)
        if len(timed) >= (2 if traced else 1) * MIN_PASSES and time.time() - t_start >= seconds:
            return warm, steady, timed


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def stream_batches(passes: list[Pass], progress: dict[str, list[dict]]) -> list[dict]:
    """Progress events of every micro-batch the passes' streams ran."""
    return [b for p in passes for qid in p.walls for b in progress.get(qid, [])]


def batch_ms(batches: list[dict]) -> list[float]:
    return [b["duration_ms"].get("triggerExecution", 0) for b in batches]


def pass_metrics(passes: list[Pass], progress: dict[str, list[dict]]) -> dict:
    """The end-to-end metrics the timed passes give: query times pooled
    over every execution, micro-batch times (``triggerExecution``) over
    every batch of the passes' streams."""
    secs = [s for p in passes for _, s in p.samples]
    batches = stream_batches(passes, progress)
    ms = batch_ms(batches)
    rows = sum(b["input_rows"] for b in batches)
    values = {
        "throughput_qpm": len(secs) * 60.0 / sum(p.wall for p in passes),
        "query_p50_s": quantile(secs, 0.50),
        "query_tail_s": quantile(secs, TAIL_Q),
        "batch_p50_ms": quantile(ms, 0.50) if ms else 0.0,
        "stream_rows_per_s": rows * 1000.0 / sum(ms) if ms else 0.0,
    }
    log(f"{len(secs)} query samples, {len(ms)} micro-batches")
    return {k: (values[k], unit) for k, unit in PASS_METRICS}


def end_to_end(setup, passes, progress) -> dict:
    out = {"setup_s": (statistics.median(t for t, _ in setup), "s")}
    out.update(pass_metrics(passes, progress))
    return out


def per_layer(records_by_pass, setup) -> tuple[dict, list[str]]:
    out = {}
    for key, unit in PASS_SUMS:
        totals = [sum(r.get(key, 0.0) for r in recs.values()) for recs in records_by_pass]
        out[key] = (statistics.median(totals), unit)
    shares = [r["unattributed_share"] for p in records_by_pass for r in p.values()]
    # a counter is stable when every query reads the same in every pass
    by_name: dict[str, list[dict]] = {}
    for p in records_by_pass:
        for qid, r in p.items():
            by_name.setdefault(qid.split("#")[0], []).append(r)
    stable = [
        c for c in COUNTERS
        if all(len({r.get(c, 0.0) for r in rs}) == 1 for rs in by_name.values())
    ]
    out["session.start_s"] = (statistics.median(s for _, s in setup), "s")
    out["unattributed_share"] = (statistics.median(shares), "ratio")
    out["unattributed_share_p80"] = (quantile(shares, 0.8), "ratio")
    out["trace.stable_counters"] = (len(stable), "count")
    return out, stable


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cores = configure_env()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.path.insert(0, HERE)
    try:
        from scache_spark.registry import REGISTRY, _ensure_loaded
        from tests.conftest import assert_frames_match  # noqa: F401
    except ImportError as exc:
        fail(f"cannot import the engine from {ROOT}: {exc}")
    import datagen
    from workloads import WORKLOADS

    workload = WORKLOADS.get(args.workload)
    if workload is None:
        fail(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    _ensure_loaded()
    missing = [q for q in workload.queries if q not in REGISTRY]
    if missing:
        fail(f"frozen queries no longer registered: {missing}", 3)

    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    data_dir = workload.stage(WORK)
    sizes = datagen.sizes(data_dir)
    log(
        f"{workload.name}: {len(workload.queries)} queries, 1 closed-loop client, "
        f"local[{cores}], inputs {sum(v['rows'] for v in sizes.values())} rows / "
        f"{sum(v['bytes'] for v in sizes.values())} bytes; ready at {time.time() - T_START:.1f}s"
    )

    event_dir = os.path.join(WORK, f"events-{os.getpid()}") if args.trace else None
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
    rng = random.Random(args.seed)
    names = list(workload.queries)
    spark = None
    runner = None
    try:
        from layers import Streams, Tracer

        spark, setup = set_up(workload, data_dir, spark_conf(event_dir))
        streams = Streams()
        spark.streams.addListener(streams)
        tracer = Tracer(streams) if args.trace else None
        runner = Runner(spark, data_dir, streams, tracer)
        t0 = time.time()
        runner.check_pass(rng.sample(names, len(names)))
        t_check = time.time() - t0
        if tracer is not None:
            tracer.install(spark)
        warm, steady, timed = measure(runner, names, rng, args.seconds, tracer is not None)
        log(
            f"set-up reps {[round(t, 3) for t, _ in setup]}; check pass {t_check:.2f}s; "
            f"warm-up passes {[round(t, 2) for t in warm]}; "
            f"timed passes {[round(p.wall, 2) for p in timed]}"
        )
        per_query: dict[str, list[float]] = {}
        for p in timed:
            for name, secs in p.samples:
                per_query.setdefault(name, []).append(round(secs, 3))
        log(f"timed seconds by query: {per_query}")
        if not steady:
            log(f"warm-up ended by its cap of {WARM_MAX} passes, not by a steady pass")
        if not streams.wait_terminated(STREAM_END_WAIT_S):
            log("some streams did not report their end; their last batches may be missing")
        progress = streams.by_query()
        rss = jvm_peak_rss_mb(spark)
        plain = [p for p in timed if not p.instrumented]
        e2e = end_to_end(setup, plain, progress)
        log("end-to-end " + json.dumps({k: round(v, 4) for k, (v, _) in e2e.items()}))
        log(f"failed_share {runner.failed / runner.attempted:.4f}; JVM peak RSS {rss:.0f} MB")

        if tracer is not None:
            tracer.uninstall()
            app_id = spark.sparkContext.applicationId
            spark.stop()
            spark = None
            from layers import parse_event_log

            events = parse_event_log(os.path.join(event_dir, app_id))
            traced = [p for p in timed if p.instrumented]
            records_by_pass = [tracer.query_records(p.walls, events) for p in traced]
            metrics, stable = per_layer(records_by_pass, setup)
            traced_e2e = end_to_end(setup, traced, progress)
            for k, (v, unit) in traced_e2e.items():
                metrics[f"traced.{k}"] = (v, unit)
            for k, _ in PASS_METRICS:
                metrics[f"overhead.{k}"] = (traced_e2e[k][0] - e2e[k][0], e2e[k][1])
            metrics["failed_share"] = (runner.failed / runner.attempted, "ratio")
            metrics["memory.peak_rss_mb"] = (rss, "MB")
            # the slowest of the few batches a run has: too unsteady
            # across runs to bound, so it is a layer figure
            metrics["streaming.batch_p90_ms"] = (
                quantile(batch_ms(stream_batches(traced, progress)) or [0.0], 0.90),
                "ms",
            )
            metrics["warmup.passes"] = (len(warm), "count")
            metrics["warmup.steady"] = (int(steady), "bool")
            log(f"counters repeating exactly across passes: {stable}")
            tracer.dump(
                os.path.join(WORK, f"trace-{workload.name}-{args.seed}.json"),
                {
                    "workload": workload.name,
                    "seed": args.seed,
                    "cores": cores,
                    "inputs": sizes,
                    "records": records_by_pass,
                    "end_to_end": e2e,
                    "stable_counters": stable,
                },
            )
        else:
            metrics = e2e
    finally:
        if spark is not None:
            spark.stop()
        shutdown_jvm()
        for d in ("spark-local", "tmp", "warehouse"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
        if event_dir:
            shutil.rmtree(event_dir, ignore_errors=True)

    log(f"run wall {time.time() - T_START:.1f}s")
    correct = runner.failed == 0 and len(runner.rows) == len(names)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM it launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    main()
