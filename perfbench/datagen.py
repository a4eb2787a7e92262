"""Synthetic input tables for the benchmark.

``write_base`` writes the ten tables the program reads (``catalog.TABLES``)
with the parquet column types, row counts, key ranges and value
distributions of the fixture tables at the same scale factor: a uniform
TPC-H-ish star schema, an ``events`` stream, a 30-word ``documents`` corpus
where one doc in twenty repeats another doc plus a trailing ``dup`` token,
and unit-norm 64-d ``embeddings``. As in the fixture files of every scale
factor, ``events.ts`` is TIMESTAMP(MICROS) and the rows are in time order,
with no out-of-order or late rows; FIXTURES.md describes nanosecond
timestamps and late rows, but the files do not hold them. The self-test
``test_generated_tables_match_the_fixture_files`` checks types, row counts
and time order against the fixture directory in ``$SPARK_GRAFT_SF_DIR``.

The content is a pure function of ``CONTENT_SEED`` and the scale factor, so
every run and every ``--seed`` reads the same rows and the expected
fingerprints can be cached.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_DAY_US = 86_400 * 1_000_000


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> pa.Array:
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    d = rng.integers(lo_d, hi_d + 1, n)
    return pa.array(d * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf``: row counts and key ranges as
    the fixtures of that scale (lineitem = 6,000,000 x sf rows, at least 500
    documents and embeddings)."""
    rng = np.random.default_rng(CONTENT_SEED)

    def rows(n_at_sf1: int) -> int:
        return max(1, round(n_at_sf1 * sf))

    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    n = n_cust = rows(150_000)
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n),
    })
    n = n_supp = rows(10_000)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = n_part = rows(200_000)
    adj = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
    noun = ["anvil", "bolt", "gear", "nut", "plate", "ring", "rod", "widget"]
    names = [f"{a} {b}" for a in adj for b in noun]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": _pick(rng, names, n),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1),
    })
    n = n_ord = rows(1_500_000)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    })
    n = rows(6_000_000)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    })
    n = rows(1_000_000)
    gaps = rng.exponential(1.0, n)
    offs = (np.cumsum(gaps) / gaps.sum() * (30 * _DAY_US - 60_000_000)).astype(np.int64)
    t0 = np.datetime64("2024-01-01T00:00:10", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array(t0 + offs, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, rows(15_000), n), i64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = max(500, rows(50_000))
    lengths = rng.integers(10, 101, n)
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(_WORDS), k)]) for k in lengths]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    langs = ["de", "en", "es", "fr", "zh"]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), i64),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, langs, n, p=[0.15, 0.41, 0.15, 0.14, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], i64),
    })
    n, dim = max(500, rows(20_000)), 64
    vecs = rng.standard_normal((n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), dim).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), i32),
    })
    return t


def write_base(dst: Path, sf: float) -> Path:
    """Write the tables at scale factor ``sf`` as ``<dst>/<table>.parquet``,
    in a side directory renamed into place once complete."""
    if dst.exists():
        return dst
    tmp = dst.with_name(dst.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, tbl in base_tables(sf).items():
        pq.write_table(tbl, tmp / f"{name}.parquet")
    os.replace(tmp, dst)
    return dst
