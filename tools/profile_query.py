"""Stage-level profiler for a registered query (optimization guide §1).

    python tools/profile_query.py QUERY [SF_DIR] [REPS]

Runs the query with the Spark event log enabled, then attributes wall
time to jobs and stages: per-stage duration, task count, shuffle
read/write bytes, input bytes, and the deepest RDD scope name (which
maps back to the physical operator).  The timed action matches
bench.py (``.count()``), and an untimed warm-up run absorbs
first-execution costs exactly as the bench does.

Output: a human-readable table on stdout — this is a diagnostic tool,
not an artifact generator.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scache_spark.registry import REGISTRY, _ensure_loaded
from scache_spark.session import get_session


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    _ensure_loaded()
    log_dir = f"/tmp/spark-events-{os.getpid()}"
    os.makedirs(log_dir, exist_ok=True)
    spark = get_session(
        f"profile-{name}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spec = REGISTRY[name]
    # engine + fixture warm-up (mirrors bench.py)
    spark.range(1000).count()
    from scache_spark.catalog import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).limit(1).count()
    if name.startswith("stream_") or name in ("statestore_dedup_audit",):
        from scache_spark.streaming.windows import (
            _staged_documents_dir,
            _staged_events_dir,
        )

        _staged_events_dir(spark, sf_dir, copies=1)
        _staged_documents_dir(spark, sf_dir)
    # untimed warm-up
    spec.fn(spark, sf_dir).count()
    sc = spark.sparkContext
    marks = []
    for r in range(reps):
        sc.setJobDescription(f"PROFILE:{name}:rep{r}")
        t0 = time.time()
        n = spec.fn(spark, sf_dir).count()
        marks.append(time.time() - t0)
        sc.setJobDescription(None)
    print(f"query={name} rows={n} reps={reps} "
          f"times={[round(t, 3) for t in marks]}")
    spark.stop()
    # ---- parse the event log ----
    logs = sorted(
        (os.path.join(log_dir, f) for f in os.listdir(log_dir)),
        key=os.path.getmtime,
    )
    jobs = {}       # jobId -> {desc, t0, t1, stages: [ids]}
    stages = {}     # stageId -> metrics
    target = logs[-1]
    if os.path.isdir(target):  # Spark 4 rolling event-log dir
        parts = sorted(
            os.path.join(target, f)
            for f in os.listdir(target)
            if f.startswith("events")
        )
    else:
        parts = [target]

    def _lines():
        for p in parts:
            if p.endswith(".zstd"):
                import io

                import zstandard

                with open(p, "rb") as fb:
                    reader = zstandard.ZstdDecompressor().stream_reader(fb)
                    yield from io.TextIOWrapper(reader, encoding="utf-8")
            else:
                with open(p) as f:
                    yield from f

    for line in _lines():
        if True:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get(
                    "spark.job.description", ""
                )
                jobs[ev["Job ID"]] = {
                    "desc": desc,
                    "t0": ev["Submission Time"],
                    "t1": None,
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                acc = {
                    a["Name"]: a.get("Value")
                    for a in si.get("Accumulables", [])
                }

                def num(k):
                    v = acc.get(k)
                    try:
                        return int(v)
                    except (TypeError, ValueError):
                        return 0

                stages[si["Stage ID"]] = {
                    "name": si.get("Stage Name", si.get("Name", "")),
                    "tasks": si.get("Number of Tasks", 0),
                    "ms": (si.get("Completion Time") or 0)
                    - (si.get("Submission Time") or 0),
                    "shuffle_read": num("internal.metrics.shuffle.read.remoteBytesRead")
                    + num("internal.metrics.shuffle.read.localBytesRead"),
                    "shuffle_write": num(
                        "internal.metrics.shuffle.write.bytesWritten"
                    ),
                    "input": num("internal.metrics.input.bytesRead"),
                    "cpu_ms": num("internal.metrics.executorCpuTime") // 1_000_000,
                    "run_ms": num("internal.metrics.executorRunTime"),
                    "deser_ms": num("internal.metrics.executorDeserializeTime"),
                    "gc_ms": num("internal.metrics.jvmGCTime"),
                    "python_ms": num("internal.metrics.PythonUDFExecutionTime")
                    // 1_000_000,
                }
    # attribute to the LAST profiled rep only (steady-state)
    tag = f"PROFILE:{name}:rep{reps - 1}"
    sel = {
        jid: j for jid, j in jobs.items() if j["desc"].startswith(tag)
    }
    print(f"\n--- rep {reps - 1}: {len(sel)} jobs ---")
    total_ms = 0
    for jid in sorted(sel):
        j = sel[jid]
        dur = (j["t1"] or j["t0"]) - j["t0"]
        total_ms += dur
        print(f"job {jid}: {dur} ms")
        for sid in sorted(j["stages"]):
            s = stages.get(sid)
            if not s:
                continue
            print(
                f"   stage {sid:>4} {s['ms']:>6} ms  tasks={s['tasks']:<4}"
                f" cpu={s['cpu_ms']:>6}ms run={s['run_ms']:>6}ms"
                f" deser={s['deser_ms']:>5}ms gc={s['gc_ms']:>4}ms"
                f" py={s['python_ms']:>5}ms"
                f" in={s['input'] // 1024:>8}K"
                f" sr={s['shuffle_read'] // 1024:>7}K"
                f" sw={s['shuffle_write'] // 1024:>7}K"
                f"  {s['name'][:60]}"
            )
    print(f"sum(job wall) = {total_ms} ms  (timed rep: "
          f"{round(marks[-1] * 1000)} ms; gap = driver/planning time)")


if __name__ == "__main__":
    main()
