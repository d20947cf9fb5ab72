"""Seeded synthetic fixture generator for the benchmark.

Writes the ten tables ``scache_spark.catalog`` reads (one parquet file
per table, one row group each) with the shapes of the TPC-H-ish
fixtures the engine is tested on: uniform keys and categories, uniform
prices and dates, a sorted event stream over 30 days, word-salad
documents of 10-99 tokens over a 30-word vocabulary with 5% planted
near-duplicates (another document's text plus `` dup``), and unit-norm
64-dim embeddings.

Row counts follow the scale factor ``sf`` the way the fixtures do:
``lineitem`` has 6M x sf rows, ``orders`` 1.5M x sf, ``events`` 1M x sf,
and so on.  The same ``(seed, sf)`` always yields the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000


def _days(start: str, end: str) -> tuple[int, int]:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return int(lo.astype(np.int64)), int(hi.astype(np.int64))


def _dates(rng: np.random.Generator, n: int, start: str, end: str) -> pa.Array:
    lo, hi = _days(start, end)
    us = rng.integers(lo, hi + 1, n).astype(np.int64) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(10, 100, n)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    # exactly 5% near-duplicates, each of a distinct original, so the
    # dedup work does not swing with the seed
    picked = rng.permutation(n)[: 2 * (n // 20)]
    for dup, orig in zip(picked[::2], picked[1::2]):
        texts[dup] = texts[orig] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every table in memory; one child generator per table so a
    table's content does not depend on the others' row counts."""
    rngs = dict(
        zip(
            ["customer", "supplier", "part", "orders", "lineitem", "events",
             "documents", "embeddings"],
            np.random.default_rng(seed).spawn(8),
        )
    )
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32 = pa.int32()
    tables: dict[str, pa.Table] = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
    }
    r = rngs["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(_money(r, n_cust, -999.99, 9999.99)),
            "c_mktsegment": _pick(r, SEGMENTS, n_cust),
        }
    )
    r = rngs["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(_money(r, n_supp, -999.99, 9999.99)),
        }
    )
    r = rngs["part"]
    keys = np.arange(n_part, dtype=np.int64)
    adj = np.asarray(PART_ADJ, dtype=object)[r.integers(0, 8, n_part)]
    noun = np.asarray(PART_NOUN, dtype=object)[r.integers(0, 8, n_part)]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{k}" for k in r.integers(1, 26, n_part)]),
            "p_type": _pick(r, PART_TYPES, n_part),
            "p_size": pa.array(r.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1)),
        }
    )
    r = rngs["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(r, n_ord, 1000.0, 500000.0)),
            "o_orderdate": _dates(r, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(r, PRIORITIES, n_ord),
        }
    )
    r = rngs["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_line, dtype=np.int64)),
            "l_partkey": pa.array(r.integers(0, n_part, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(r.integers(1, 8, n_line), i32),
            "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(r, n_line, 900.0, 105000.0)),
            "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(r, ["F", "O"], n_line),
            "l_shipdate": _dates(r, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    r = rngs["events"]
    t0 = int(np.datetime64("2024-01-01", "us").astype(np.int64))
    ts = t0 + np.sort(r.integers(1, 30 * _DAY_US, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, n_users, n_ev, dtype=np.int64)),
            "event_type": _pick(r, EVENT_TYPES, n_ev),
            "value": pa.array(np.maximum(np.round(r.exponential(50.0, n_ev), 2), 0.01)),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]),
        }
    )
    tables["documents"] = _documents(rngs["documents"], n_docs)
    r = rngs["embeddings"]
    vecs = r.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, n_emb), i32),
        }
    )
    return tables


def write(out_dir: str, seed: int, sf: float) -> None:
    """Generate into ``out_dir`` unless a complete copy is already there
    (marked by ``_DONE``)."""
    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(seed, sf).items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
            compression="snappy",
        )
    with open(marker, "w") as f:
        f.write(f"{seed} {sf}\n")


def sizes(table_dir: str) -> dict[str, dict[str, int]]:
    """Each table's rows (from its parquet footer) and bytes on disk."""
    out = {}
    for f in sorted(os.listdir(table_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(table_dir, f)
            out[f[: -len(".parquet")]] = {
                "rows": pq.read_metadata(path).num_rows,
                "bytes": os.path.getsize(path),
            }
    return out
