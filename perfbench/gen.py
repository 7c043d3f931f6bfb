"""Seeded input generator for the engine benchmark.

Writes the ten tables the engine's catalog reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the same schemas and value distributions as the
repo's testdata (TESTDATA.md) at a given scale factor:

- ``write_base(out, sf)`` writes one parquet file with one row group per
  table, from a FIXED generator seed. Every workload and every run
  sees the same values; the DuckDB oracle reads these files.
- ``write_ingest_layout(base, out, seed)`` rewrites each base table as
  a directory of part files with the rows permuted by ``seed`` and two
  row groups per file: the same values in the layout a production
  directory scan sees.

Physical types follow the documented testdata schema (FIXTURES.md):
int32 small keys, int64 ids, exact-cent doubles, ``timestamp[ms]``
dates, ``timestamp[ns]`` event times with sub-microsecond digits (the
parquet TIMESTAMP(NANOS) that the catalog's ``nanosAsLong`` path and
the stream source's unit probe normalize), JSON strings in
``events.props`` and 64-dim float32 embeddings.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: generator seed of the base tables (the repo's testdata uses 42 too)
BASE_SEED = 42

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

US_PER_DAY = 86_400 * 1_000_000

#: part files per table in the ingest layout. Each small file is one
#: byte split, so scanwidth.effective_scan_parallelism is 8: at least
#: the core count up to 8 cores, and the scan_spread gate is identity
#: below 32 cores
INGEST_FILES = 8


def _epoch_us(day: str) -> int:
    d = dt.datetime.fromisoformat(day).replace(tzinfo=dt.timezone.utc)
    return int(d.timestamp()) * 1_000_000


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    """Midnight timestamps (millisecond unit) drawn uniformly between two dates."""
    lo_us, hi_us = _epoch_us(lo), _epoch_us(hi)
    d = rng.integers(0, (hi_us - lo_us) // US_PER_DAY + 1, n)
    return pa.array((lo_us + d * US_PER_DAY) // 1_000, pa.timestamp("ms"))


def _cents(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; 5% are copies of an earlier document
    with a trailing ' dup' token (the near-duplicate population the
    curation miners look for)."""
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 100)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def build_tables(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (row counts as the testdata:
    lineitem = 6M x sf; documents/embeddings have floors of 500)."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _cents(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _cents(rng, n_supp, -999.99, 9999.99),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _cents(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _cents(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    gaps_ns = rng.exponential(30 * US_PER_DAY * 1_000 / n_ev, n_ev)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(
                _epoch_us("2024-01-01") * 1_000 + np.cumsum(gaps_ns).astype(np.int64),
                pa.timestamp("ns"),
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _documents(rng, n_docs)
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }
    )
    return t


def _publish(tmp: str, out: str) -> None:
    """Atomically move a finished directory into place."""
    if os.path.exists(out):
        shutil.rmtree(tmp)
        return
    os.makedirs(os.path.dirname(out) or ".", exist_ok=True)
    os.rename(tmp, out)


def write_base(out: str, sf: float) -> None:
    """One single-row-group parquet file per table under ``out``."""
    if os.path.isdir(out):
        return
    tmp = f"{out}.tmp-{os.getpid()}"
    os.makedirs(tmp)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=len(table) or 1)
    _publish(tmp, out)


def write_ingest_layout(base: str, out: str, seed: int) -> None:
    """Each base table as ``<table>.parquet/part-NNNNN.parquet`` part
    files (INGEST_FILES per table, two row groups each) over a
    ``seed``-permuted row order. Values are identical to ``base``."""
    if os.path.isdir(out):
        return
    rng = np.random.default_rng(seed)
    tmp = f"{out}.tmp-{os.getpid()}"
    for name in TABLES:
        table = pq.read_table(os.path.join(base, f"{name}.parquet"))
        table = table.take(rng.permutation(len(table)))
        parts = min(INGEST_FILES, len(table))
        bounds = np.linspace(0, len(table), parts + 1).astype(int)
        tdir = os.path.join(tmp, f"{name}.parquet")
        os.makedirs(tdir)
        for i in range(parts):
            part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
            pq.write_table(
                part,
                os.path.join(tdir, f"part-{i:05d}.parquet"),
                row_group_size=max(1, -(-len(part) // 2)),
            )
    _publish(tmp, out)
