"""Shared pytest fixtures: one SparkSession per run, a DuckDB oracle
connection with fixture views registered, the order-insensitive
result comparator, and the one run-and-compare loop every tool and
test checks queries with."""

from __future__ import annotations

import math
import os
import time

import duckdb
import numpy as np
import pandas as pd
import pytest

from scache_spark.catalog import TABLES, table_path
from scache_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_session("scache-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def oracle_con(sf_dir: str, tables=TABLES) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table over the parquet
    files in ``sf_dir`` -- where every oracle runs, so the comparison
    stays engine-vs-engine on identical inputs."""
    con = duckdb.connect()
    for name in tables:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    return con


@pytest.fixture(scope="session", name="oracle_con")
def _oracle_con_fixture():
    con = oracle_con(SF_DIR)
    yield con
    con.close()


def _sort_repr(v) -> str:
    """Stable cross-engine representation for row ordering: floats are
    rounded to 6 significant digits so values equal-within-tolerance
    sort identically in both frames."""
    if v is None:
        return "\x00none"
    if isinstance(v, float):
        if math.isnan(v):
            return "\x00nan"
        return f"{v:.6g}"
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(_sort_repr(x) for x in v) + "]"
    try:
        if pd.isna(v):
            return "\x00none"
    except (TypeError, ValueError):
        pass
    return str(v)


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by a stringified key over all
    columns — the driver's order-insensitive canonical form.

    The key is built by zipping COLUMN Series, never by row-wise
    ``df.apply``: apply materializes each row as a single-dtype
    Series, upcasting ints to float when any float column exists, so
    a 7-digit integer key renders at _sort_repr's 6 significant
    digits and COLLIDES with its neighbors — the stable sort then
    keeps engine-specific input order and value-identical frames
    spuriously mismatch (x10-replica finding: sf fixtures never grow
    keys past 6 digits)."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        cols = [df[c].to_numpy() for c in df.columns]
        key = np.array(
            ["|".join(_sort_repr(v) for v in row) for row in zip(*cols)],
            dtype=object,
        )
        df = df.iloc[np.argsort(key, kind="stable")].reset_index(drop=True)
    return df


import datetime


def _is_datelike(v) -> bool:
    return isinstance(v, (datetime.date, datetime.datetime, np.datetime64, pd.Timestamp))


def _cell_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if _is_datelike(a) and _is_datelike(b):
        pa, pb = pd.Timestamp(a), pd.Timestamp(b)
        if pd.isna(pa) and pd.isna(pb):  # NaT == NaT is False otherwise
            return True
        return pa == pb
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    if isinstance(a, (list, np.ndarray)) or isinstance(b, (list, np.ndarray)):
        a, b = list(a), list(b)
        return len(a) == len(b) and all(_cell_equal(x, y) for x, y in zip(a, b))
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str):
    s, o = canonicalize(spark_pdf), canonicalize(oracle_pdf)
    assert list(s.columns) == list(o.columns), (
        f"{name}: column mismatch spark={list(s.columns)} oracle={list(o.columns)}"
    )
    assert len(s) == len(o), f"{name}: row count spark={len(s)} oracle={len(o)}"
    for col in s.columns:
        sv, ov = s[col].to_numpy(), o[col].to_numpy()
        if np.issubdtype(sv.dtype, np.floating) and np.issubdtype(
            ov.dtype, np.floating
        ):
            ok = np.isclose(sv, ov, rtol=1e-6, atol=1e-9, equal_nan=True)
            assert ok.all(), (
                f"{name}.{col}: {np.count_nonzero(~ok)} float mismatches, "
                f"first at row {int(np.argmin(ok))}: "
                f"{sv[np.argmin(ok)]} vs {ov[np.argmin(ok)]}"
            )
        else:
            for i, (a, b) in enumerate(zip(sv, ov)):
                assert _cell_equal(a, b), f"{name}.{col}[{i}]: {a!r} != {b!r}"


def check_queries(spark, sf_dir: str, names, oracles=None, queries=None) -> dict:
    """Run each named query on ``sf_dir`` and compare it with its DuckDB
    oracle over the same files; returns ``{name: {status, sec, rows,
    err}}`` with status MATCH or FAIL (a query without an oracle is a
    FAIL) and prints one line per query.  ``queries`` (name -> builder)
    and ``oracles`` (name -> SQL) default to the registry's."""
    from scache_spark.registry import all_oracles, all_queries

    queries = queries or all_queries()
    oracles = oracles or all_oracles()
    con = oracle_con(sf_dir)
    results: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        try:
            if name not in oracles:
                raise LookupError(f"{name}: no oracle")
            spdf = queries[name](spark, sf_dir).toPandas()
            odf = con.execute(oracles[name]).df()
            assert_frames_match(spdf, odf, name)
            status, err = "MATCH", None
        except Exception as ex:  # noqa: BLE001 - recorded per query
            status, err = "FAIL", str(ex)[:300]
        dt = round(time.time() - t0, 1)
        results[name] = {
            "status": status,
            "sec": dt,
            "rows": None if err else len(spdf),
            "err": err,
        }
        print(f"  {name:32s} {status}  {dt}s  {err or ''}", flush=True)
    con.close()
    return results


def session_state(spark) -> tuple[set[str], dict[str, str]]:
    """What a batch query builder must leave as it found it: the
    session's temp view names and its explicitly set SQL confs."""
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    confs = {r["key"]: r["value"] for r in spark.sql("SET").collect()}
    return views, confs


@pytest.fixture(scope="session")
def plan_sweep(spark):
    """ONE plan sweep shared by the shape ratchet and the lint (r7):
    each batch query's DataFrame is built once and explained once —
    previously both tests independently re-built and re-explained all
    ~290 plans (~2 min of duplicated Catalyst work, plus re-executing
    every eager localCheckpoint builder twice).  Returns the reports
    with the session state recorded just before and just after."""
    from scache_spark.plans import sweep_plan_reports

    before = session_state(spark)
    reports = sweep_plan_reports(spark)
    return reports, before, session_state(spark)


@pytest.fixture(scope="session")
def plan_reports(plan_sweep):
    return plan_sweep[0]

