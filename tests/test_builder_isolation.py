"""Query builders leave the host session alone: SQL builders bind their
input frames instead of registering fixed-name temp views, stream
builders change SQL confs only inside their query's start() and drop
their sink views, shared source staging is safe to run from two
threads, and the threaded plan sweep leaves temp views and SQL confs
as it found them."""

from __future__ import annotations

import os
import threading

import pytest

from pyspark.sql import functions as F

from scache_spark.catalog import SCHEMAS, _stage_once, load_table
from scache_spark.operators import extra
from scache_spark.registry import REGISTRY, _ensure_loaded
from scache_spark.sources import read_csv
from scache_spark.streaming import windows
from tests.conftest import session_state

_ensure_loaded()

# each SQL builder, with the temp view names it used to register
SQL_BUILDERS = {
    "grouping_sets_mixed": ["gs_lineitem"],
    "sql_passthrough_identical_text": ["orders", "lineitem"],
    "sql_scripting_threshold_report": ["orders"],
    "recursive_cte_reachability": ["events"],
    "sql_pipe_syntax_agg": ["events"],
    "sql_udf_money_tiers": ["orders"],
    "udtf_chunk_spans": ["_udtf_docs"],
}


@pytest.mark.parametrize("name", sorted(SQL_BUILDERS))
def test_sql_builder_keeps_host_temp_views(spark, sf_dir, name):
    hosts = SQL_BUILDERS[name]
    host_rows = spark.createDataFrame([(1,), (2,), (3,)], "host_id int")
    for view in hosts:
        host_rows.createOrReplaceTempView(view)
    try:
        views_before = session_state(spark)[0]
        df = REGISTRY[name].fn(spark, sf_dir)
        assert df.count() > 0
        assert session_state(spark)[0] == views_before
        for view in hosts:
            host = spark.table(view)
            assert host.columns == ["host_id"], (name, view)
            assert sorted(r[0] for r in host.collect()) == [1, 2, 3], (name, view)
    finally:
        for view in hosts:
            spark.catalog.dropTempView(view)


STREAM_BUILDERS = [
    "blocktrace_stream_waves",
    "statestore_dedup_audit",
    "stream_foreachbatch_sink",
    "stream_transform_with_state_mix",
    "stream_tumbling_window",
]


@pytest.mark.parametrize("name", STREAM_BUILDERS)
def test_stream_builder_keeps_session_state(spark, sf_dir, name):
    before = session_state(spark)
    df = REGISTRY[name].fn(spark, sf_dir)
    assert df.count() > 0
    assert session_state(spark) == before


# stager -> (stage, read the staged rows back, source table)
STAGERS = {
    "alt_csv": (
        lambda spark, sf_dir: extra._staged_alt(spark, sf_dir, "csv", "supplier"),
        lambda spark, path: read_csv(spark, path, SCHEMAS["supplier"]),
        "supplier",
    ),
    "events": (
        windows._staged_events_dir,
        lambda spark, path: spark.read.parquet(path).filter(
            F.col("event_id") != windows.FLUSH_EVENT_ID
        ),
        "events",
    ),
    "documents": (
        windows._staged_documents_dir,
        lambda spark, path: spark.read.parquet(path),
        "documents",
    ),
}


@pytest.mark.parametrize("stager", sorted(STAGERS))
def test_staged_alt_concurrent_stagers_share_one_copy(
    spark, sf_dir, tmp_path, monkeypatch, stager
):
    stage_fn, read_back, table = STAGERS[stager]
    monkeypatch.setattr(extra, "_SRC_ROOT", str(tmp_path))
    monkeypatch.setattr(windows, "_STAGE_ROOT", str(tmp_path))
    start = threading.Barrier(2)
    paths: list[str] = []
    errors: list[Exception] = []

    def stage():
        try:
            start.wait(timeout=60)
            paths.append(stage_fn(spark, sf_dir))
        except Exception as exc:  # surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=stage) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(paths) == 2 and paths[0] == paths[1]
    # the losing copy is gone; only the published directory remains
    assert os.listdir(tmp_path) == [os.path.basename(paths[0])]
    assert os.path.exists(os.path.join(paths[0], "_SUCCESS"))
    staged = read_back(spark, paths[0])
    assert staged.count() == load_table(spark, sf_dir, table).count()


def _complete_copy(path: str) -> None:
    os.makedirs(path)
    for name in ("part-0", "part-1", "_SUCCESS"):
        with open(os.path.join(path, name), "w") as f:
            f.write("complete")


def test_stage_once_replaces_directory_without_success_marker(tmp_path):
    # an interrupted in-place write leaves parts but no _SUCCESS
    out = tmp_path / "staged"
    out.mkdir()
    (out / "part-0").write_text("partial")
    assert _stage_once(str(out), _complete_copy) == str(out)
    assert sorted(os.listdir(out)) == ["_SUCCESS", "part-0", "part-1"]
    assert (out / "part-0").read_text() == "complete"
    assert os.listdir(tmp_path) == ["staged"]
    # a published directory is kept as it is
    assert _stage_once(str(out), lambda path: pytest.fail("restaged"))


def test_stage_once_failed_write_leaves_no_copy(tmp_path):
    def write(path: str) -> None:
        os.makedirs(path)
        raise RuntimeError("writer failed")

    with pytest.raises(RuntimeError, match="writer failed"):
        _stage_once(str(tmp_path / "staged"), write)
    assert os.listdir(tmp_path) == []


def test_plan_sweep_leaves_session_unchanged(plan_sweep):
    reports, before, after = plan_sweep
    assert reports
    assert after[0] == before[0], "temp views changed"
    assert after[1] == before[1], "SQL confs changed"
