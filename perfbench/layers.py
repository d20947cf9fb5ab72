"""Per-layer tracing from outside the engine.

A ``Tracer`` records spans at the boundaries the benchmark can see
without touching engine code:

- ``catalog.load_table`` -- every scache_spark module's binding of
  ``load_table`` is swapped for a timing wrapper while tracing is on;
- ``operators.materialize`` -- ``localCheckpoint``, ``checkpoint``,
  ``persist`` and ``cache`` on PySpark's DataFrame class;
- ``operators.build`` and ``exec.action`` -- timed by the caller around
  ``REGISTRY[name].fn`` and the action;
- Catalyst phases -- read from the action's ``QueryExecution`` tracker;
- jobs, stages and tasks -- parsed from Spark's event log, matched to
  the query through its job group (stream queries run their batches
  under the stream's run id, which ``Streams`` maps back);
- micro-batches -- ``Streams``, a ``StreamingQueryListener`` the
  untraced runs use as well, for the end-to-end batch metrics.

Spans live in memory; ``Tracer.dump`` writes them once at the end.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

MATERIALIZE_METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")

# Stage accumulables summed per query: name -> (key in the query's
# layer record, divisor to the record's unit).
STAGE_METRICS = {
    "internal.metrics.executorRunTime": ("exec.executor_run_s", 1e3),
    "internal.metrics.executorCpuTime": ("exec.executor_cpu_s", 1e9),
    "internal.metrics.jvmGCTime": ("exec.gc_s", 1e3),
    "internal.metrics.executorDeserializeTime": ("exec.deserialize_s", 1e3),
    "internal.metrics.memoryBytesSpilled": ("exec.spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("exec.spill_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle.bytes_written", 1),
    "internal.metrics.shuffle.write.recordsWritten": ("shuffle.records_written", 1),
    "internal.metrics.shuffle.write.writeTime": ("shuffle.write_time_s", 1e9),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle.bytes_read", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle.bytes_read", 1),
    "internal.metrics.shuffle.read.fetchWaitTime": ("shuffle.fetch_wait_s", 1e3),
    "internal.metrics.input.bytesRead": ("scan.input_bytes", 1),
    "internal.metrics.input.recordsRead": ("scan.input_records", 1),
    # SQL metrics of the Python evaluation nodes (UDFs, pandas and
    # stateful Python operators), in ms
    "time to run Python workers": ("udf.python_s", 1e3),
    "time to start Python workers": ("udf.python_init_s", 1e3),
    "time to initialize Python workers": ("udf.python_init_s", 1e3),
}

STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


class Streams(StreamingQueryListener):
    """Progress of every micro-batch, keyed back to the query id that
    was current when its stream started.  Spark calls
    ``onQueryStarted`` synchronously from ``start()``; progress events
    arrive later on the listener bus."""

    def __init__(self) -> None:
        self.current: str | None = None  # query id being executed, or None
        self.runs: dict[str, str] = {}  # stream run id -> query id
        self.progress: list[dict] = []
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):
        if self.current is not None:
            self.runs[str(event.runId)] = self.current

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append(
            {
                "run_id": str(p.runId),
                "input_rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_memory_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.add(str(event.runId))

    def wait_terminated(self, timeout: float) -> bool:
        """Wait for the bus to deliver the end of every tracked stream;
        its last progress event comes before it."""
        deadline = time.time() + timeout
        while not self.terminated.issuperset(self.runs):
            if time.time() > deadline:
                return False
            time.sleep(0.05)
        return True

    def by_query(self) -> dict[str, list[dict]]:
        """Progress events grouped by query id."""
        out: dict[str, list[dict]] = defaultdict(list)
        for p in self.progress:
            qid = self.runs.get(p["run_id"])
            if qid is not None:
                out[qid].append(p)
        return out


class Tracer:
    """Spans and counters of one benchmark run, keyed by query id."""

    def __init__(self, streams: Streams) -> None:
        self.current: str | None = None  # query id being traced, or None
        self.streams = streams
        self.spans: list[dict] = []
        self.phases: dict[str, dict[str, float]] = defaultdict(dict)
        self.phase_spans: dict[str, list[tuple[float, float]]] = defaultdict(list)
        self._lock = threading.Lock()
        self._depth = threading.local()
        self._restore: list[tuple[object, str, object]] = []

    # ---- spans -------------------------------------------------------
    def span(self, name: str, t0: float, t1: float) -> None:
        with self._lock:
            self.spans.append({"qid": self.current, "name": name, "t0": t0, "t1": t1})

    def _timed(self, name: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            if tracer.current is None or getattr(tracer._depth, name, 0):
                return fn(*args, **kwargs)
            setattr(tracer._depth, name, 1)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.span(name, t0, time.time())
                setattr(tracer._depth, name, 0)

        wrapper.__wrapped__ = fn
        return wrapper

    # ---- instrumentation --------------------------------------------
    def install(self, spark) -> None:
        """Wrap the layer entry points; ``uninstall`` restores them."""
        from scache_spark import catalog

        original = catalog.load_table
        wrapped = self._timed("catalog.load_table", original)
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith("scache_spark") and getattr(mod, "load_table", None) is original:
                self._restore.append((mod, "load_table", original))
                setattr(mod, "load_table", wrapped)
        df_cls = type(spark.range(1))
        for meth in MATERIALIZE_METHODS:
            fn = df_cls.__dict__.get(meth)
            if fn is None:
                continue
            self._restore.append((df_cls, meth, fn))
            setattr(df_cls, meth, self._timed("operators.materialize", fn))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    def record_phases(self, qid: str, df) -> None:
        """Catalyst phase durations of the QueryExecution ``df`` ran."""
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            summary = kv._2()
            self.phases[qid][kv._1()] = float(summary.durationMs())
            self.phase_spans[qid].append(
                (summary.startTimeMs() / 1e3, summary.endTimeMs() / 1e3)
            )

    # ---- aggregation -------------------------------------------------
    def query_records(self, wall: dict[str, tuple[float, float]], events: dict) -> dict[str, dict]:
        """One layer record per traced query id.

        ``wall`` maps query id to its (start, end) epoch seconds;
        ``events`` is ``parse_event_log``'s output."""
        by_q: dict[str, list[dict]] = defaultdict(list)
        for s in self.spans:
            by_q[s["qid"]].append(s)
        jobs_by_q: dict[str, list[dict]] = defaultdict(list)
        for job in events["jobs"].values():
            qid = job["group"]
            qid = self.streams.runs.get(qid, qid)
            if qid in wall:
                jobs_by_q[qid].append(job)
        prog_by_q = self.streams.by_query()
        records = {}
        for qid, (q0, q1) in wall.items():
            spans = by_q.get(qid, [])
            rec: dict[str, float] = defaultdict(float)
            covered = []
            for s in spans:
                d = s["t1"] - s["t0"]
                if s["name"] == "catalog.load_table":
                    rec["catalog.load_table_calls"] += 1
                    rec["catalog.load_table_s"] += d
                elif s["name"] == "operators.materialize":
                    rec["operators.materialize_calls"] += 1
                    rec["operators.materialize_s"] += d
                elif s["name"] == "operators.build":
                    rec["operators.build_s"] += d
                elif s["name"] == "exec.action":
                    rec["exec.action_s"] += d
                if s["name"] not in ("exec.action",):
                    covered.append((s["t0"], s["t1"]))
            rec["operators.plan_s"] = rec["operators.build_s"] - rec["operators.materialize_s"]
            ph = self.phases.get(qid, {})
            for phase in ("analysis", "optimization", "planning"):
                rec[f"catalyst.{phase}_ms"] = ph.get(phase, 0.0)
            jobs = jobs_by_q.get(qid, [])
            job_spans = [(j["t0"] / 1e3, j["t1"] / 1e3) for j in jobs if j["t1"]]
            build = [s for s in spans if s["name"] == "operators.build"]
            b0, b1 = (build[0]["t0"], build[0]["t1"]) if build else (q0, q0)
            rec["operators.build_jobs"] = sum(1 for j in jobs if b0 <= j["t0"] / 1e3 <= b1)
            rec["exec.jobs"] = len(jobs)
            rec["exec.job_wall_s"] = union_length(job_spans)
            rec["exec.driver_gap_s"] = (q1 - q0) - rec["exec.job_wall_s"]
            for j in jobs:
                for sid in j["stages"]:
                    st = events["stages"].get(sid)
                    if st is None:
                        continue
                    rec["exec.stages"] += 1
                    rec["exec.tasks"] += st["tasks"]
                    rec["exec.failed_tasks"] += st["failed_tasks"]
                    for key, value in st["metrics"].items():
                        rec[key] += value
            batches = prog_by_q.get(qid, [])
            rec["streaming.batches"] = len(batches)
            for p in batches:
                for phase in STREAM_PHASES:
                    rec[f"streaming.{phase}_ms"] += p["duration_ms"].get(phase, 0)
                rec["streaming.state_rows"] = max(rec["streaming.state_rows"], p["state_rows"])
                rec["streaming.state_memory_bytes"] = max(
                    rec["streaming.state_memory_bytes"], p["state_memory_bytes"]
                )
            wall_s = q1 - q0
            inside = [
                (max(lo, q0), min(hi, q1))
                for lo, hi in covered + job_spans + self.phase_spans.get(qid, [])
                if hi > q0 and lo < q1
            ]
            attributed = union_length(inside)
            rec["wall_s"] = wall_s
            rec["unattributed_share"] = max(0.0, wall_s - attributed) / wall_s if wall_s else 0.0
            records[qid] = dict(rec)
        return records

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "phases": self.phases,
                       "stream_runs": self.streams.runs, "progress": self.streams.progress,
                       **extra}, f)


def parse_event_log(path: str) -> dict:
    """Jobs (job group, submit/complete ms, stage ids) and completed
    stages (task counts, summed executor/shuffle/scan metrics) from one
    application's uncompressed JSON event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    task_fail: dict[int, int] = defaultdict(int)
    task_count: dict[int, int] = defaultdict(int)
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "t0": ev["Submission Time"],
                    "t1": None,
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                task_count[sid] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    task_fail[sid] += 1
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                metrics: dict[str, float] = defaultdict(float)
                for acc in si.get("Accumulables", []):
                    name = acc.get("Name") or ""
                    try:
                        value = float(acc.get("Value"))
                    except (TypeError, ValueError):
                        continue
                    if name in STAGE_METRICS:
                        key, div = STAGE_METRICS[name]
                        metrics[key] += value / div
                stages[si["Stage ID"]] = {
                    "tasks": 0,
                    "failed_tasks": 0,
                    "metrics": dict(metrics),
                }
    for sid, st in stages.items():
        st["tasks"] = task_count.get(sid, 0)
        st["failed_tasks"] = task_fail.get(sid, 0)
    return {"jobs": jobs, "stages": stages}
