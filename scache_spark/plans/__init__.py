"""Physical-plan introspection helpers.

The engine's optimization contract (SURVEY.md §4) is that Catalyst does
what the reference hand-built: partition selection ↔ predicate
pushdown, block-size stats ↔ AQE runtime statistics, pre-scheduling ↔
exchange planning.  These helpers make the contract *testable*: pull
the formatted physical plan and assert pushdown / pruning / broadcast /
codegen properties on it.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string, taken from the JVM
    directly (the call DataFrame.explain prints) — never by capturing
    stdout, which is process-global and interleaves concurrent
    explains."""
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section(s) of the scan nodes."""
    return "\n".join(
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "PushedFilters" in line
    )


def read_schema(df: DataFrame) -> str:
    """The ReadSchema section(s) — what actually gets decoded from
    parquet after column pruning."""
    return "\n".join(
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "ReadSchema" in line
    )


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in formatted_plan(df)


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan — the engine's
    'registered shuffles' count (MapOutputTracker.registerShuffles
    analog: every exchange is known before execution).  Broadcast
    exchanges are excluded: they replicate, they don't shuffle."""
    plan = formatted_plan(df)
    # formatted mode describes each node as "(N) Exchange" /
    # "(N) BroadcastExchange"
    return len(re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.MULTILINE))


def scan_counts(df: DataFrame) -> dict[str, int]:
    """How many times each source file is scanned in the plan.

    Catalyst deduplicates *exchanges* (ReusedExchange) but not scan
    subtrees that feed different shuffle keys — a query whose frame
    feeds k plan branches silently reads (and re-derives) the source k
    times.  At 100 TB that is k corpus scans for one answer; the fix is
    a one-time materialization (eager localCheckpoint) of the shared
    subtree.  Returns {file_basename: n_scans} so the linter can flag
    the defect class the exchange-count bar misses."""
    return _scan_counts_from_plan(formatted_plan(df), broad_only=False)


def broad_scan_counts(df: DataFrame) -> dict[str, int]:
    """Like scan_counts but counts only BROAD scans — those without an
    equality/IN filter pushed into the reader.  A scan with a pushed
    point predicate (``vec_id = 42``, a query-vector lookup) reads a
    bounded slice via row-group pruning and is *cheaper* at 100 TB than
    materializing the table to avoid it; it is a different subtree,
    not a redundant recompute, so the redundant-scan lint ignores it."""
    return _scan_counts_from_plan(formatted_plan(df), broad_only=True)


# Not(EqualTo(..)) / Not(In(..)) are broad EXCLUSIONS, not point
# lookups — the lookbehind keeps them counted as broad scans.
_POINT_PUSH = re.compile(r"(?<!Not\()\b(?:EqualTo|In)\(")


def _scan_counts_from_plan(plan: str, broad_only: bool) -> dict[str, int]:
    counts: dict[str, int] = {}
    # formatted mode: each scan node is a "(n) Scan ..." block whose
    # Location/PushedFilters lines follow before the next blank line.
    for block in re.split(r"\n\s*\n", plan):
        if not re.match(r"\(\d+\) Scan ", block.lstrip()):
            continue
        loc = re.search(r"Location: \w+ \[([^\]]*)\]", block)
        if not loc:
            continue
        pushed = re.search(r"PushedFilters: \[([^\]]*)\]", block)
        if broad_only and pushed and _POINT_PUSH.search(pushed.group(1)):
            continue
        for path in loc.group(1).split(","):
            base = path.strip().rstrip("/").rsplit("/", 1)[-1]
            if base:
                counts[base] = counts.get(base, 0) + 1
    return counts


def codegen_stage_count(df: DataFrame) -> int:
    """WholeStageCodegen spans — wider is better (fewer pipeline
    breaks).  Executes the plan (AQE finalizes only at runtime), then
    counts the ``*(n)`` codegen-stage markers in the executed plan."""
    # collect() executes df's own queryExecution (count() would build a
    # separate plan and leave this one unfinalized under AQE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(set(re.findall(r"\*\((\d+)\)", plan)))


# Queries excluded from plan-shape sweeps (baseline ratchet + lint
# callers): stream_* cannot be planned without running, and
# statestore_* queries EXECUTE a finished stream to open its
# checkpoint as a batch source — "explain-only" tools must not pay
# (or side-effect) a stream run.
SHAPE_SKIP_PREFIXES = ("stream_", "statestore_")

def shape_counts(df: DataFrame) -> dict[str, int]:
    """The plan-shape numbers the regression ratchet records and
    re-measures: exchange count and total broad same-file scans.
    Generator (tools/gen_plan_baseline.py) and checker
    (tests/test_plan_baseline.py) both call THIS, so the two can
    never measure differently."""
    r = plan_report(df)
    return {"exchanges": r["exchanges"], "broad_scans": r["broad_scans"]}


def plan_report(df: DataFrame) -> dict:
    """ONE formatted-plan extraction serving every plan consumer (r7:
    the ratchet and the lint each re-explained all ~290 queries —
    ~2 min of CI doing the same Catalyst work twice).  Returns the
    plan text plus the shared shape numbers; scan-count detail comes
    from the same text via _scan_counts_from_plan."""
    plan = formatted_plan(df)
    return {
        "plan": plan,
        "exchanges": len(
            re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.MULTILINE)
        ),
        "broad_scans": sum(
            _scan_counts_from_plan(plan, broad_only=True).values()
        ),
        "broad_scan_detail": _scan_counts_from_plan(plan, broad_only=True),
    }


def sweep_plan_reports(
    spark, sf: str = "/root/testdata/sf0.01", max_workers: int = 8
) -> dict[str, object]:
    """plan_report for every non-streaming registered query — the ONE
    sweep shared by the CI shape ratchet/lint fixture and the baseline
    generator, so both measure identically and both get the threaded
    speedup (~165 s serial -> tens of seconds).

    Builds run concurrently: batch builders bind their input frames
    instead of registering fixed-name temp views and set no session
    conf beyond the values ``get_session`` already pins; a stream
    (``blocktrace_stream_waves``) sets its confs only inside its
    ``start()``, so one build cannot change another's plan shape.  A
    builder that raises is recorded as the exception; consumers decide
    how to report it.
    """
    from concurrent.futures import ThreadPoolExecutor

    from scache_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()

    def one(item):
        name, spec = item
        try:
            return name, plan_report(spec.fn(spark, sf))
        except Exception as exc:
            return name, exc

    todo = [
        (n, s)
        for n, s in REGISTRY.items()
        if not n.startswith(SHAPE_SKIP_PREFIXES)
    ]
    # Explain-only sweep, so eager localCheckpoints are forced LAZY for
    # its duration (r10, pytest-wall item): materializing a local
    # checkpoint runs the builder's whole upstream job, and this sweep
    # explains ~300 queries of which half carry one or more eager
    # checkpoints — the single largest block of CI wall (256 s of the
    # 16 m suite).  The STATIC plan is identical either way (the
    # checkpointed frame is a LogicalRDD scan whether or not its RDD
    # has materialized — verified report-for-report against the
    # committed baseline), and generator and checker share this
    # function, so both keep measuring the same thing.  The patch is
    # scoped and restored even on failure.
    from pyspark.sql import DataFrame as _DF

    _orig_ckpt = _DF.localCheckpoint

    def _lazy_ckpt(self, eager=True, *args, **kwargs):
        return _orig_ckpt(self, False, *args, **kwargs)

    _DF.localCheckpoint = _lazy_ckpt
    try:
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            return dict(pool.map(one, todo))
    finally:
        _DF.localCheckpoint = _orig_ckpt
