"""Seeded input generation for the layered benchmark.

Every table the workloads read is drawn from ``numpy.random.default_rng``
streams keyed by ``(seed, stream)``, so one seed always produces
byte-identical parquet files and call parameters, and another seed
produces different ones.

The tables have the shape of the engine's sf0.1 star schema (TPC-H-like
region/nation/customer/supplier/part/orders/lineitem plus the
``events``, ``documents`` and ``embeddings`` side tables) and the value
ranges of that data, so the repo's ``queries()`` entries and their
``oracle_sql()`` twins run on them unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SF01_ROWS = {
    "region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000,
    "part": 20_000, "orders": 150_000, "lineitem": 600_000,
    "events": 100_000, "documents": 5_000, "embeddings": 2_000,
}
TABLES = list(SF01_ROWS)

# the sf0.1 documents' vocabulary; DUP_WORD only ends near-duplicates
WORDS = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DUP_WORD = "dup"
# duplicate rates measured on the sf0.1 documents (5,000 rows): 250
# near-duplicates, each a copy of another document with DUP_WORD
# appended (word 3-shingle Jaccard >= 0.89), and 8 exact duplicates
NEAR_DUP_RATE = 250 / 5000
EXACT_DUP_RATE = 8 / 5000
# curation's share of every sf0.1 table of 1,000 rows or more, set by the
# run budget: one round of the eight entries takes 1-1.5 run_seconds
CURATION_FRACTION = 0.2
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
PART_TYPES = np.array(["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"])
COLORS = "red blue green small large steel brass copper".split()
NOUNS = "widget bolt ring plate gear pipe valve spring".split()

_STREAMS = {name: i for i, name in enumerate(TABLES)}


def rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), *stream])


def _strs(values: np.ndarray, idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(values)
    ).cast(pa.string())


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _days(r: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    span = (np.datetime64(hi, "D") - np.datetime64(lo, "D")).astype(np.int64)
    return _ts(lo, r.integers(0, span, n) * 86_400_000_000)


def _money(r: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(r.uniform(lo, hi, n), 2)


def _texts(r: np.random.Generator, n: int) -> list[str]:
    lens = r.integers(10, 101, n)
    words = np.array(WORDS)[r.integers(0, len(WORDS), int(lens.sum()))]
    ends = np.cumsum(lens)
    return [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]


def make_tables(seed: int, names=TABLES) -> dict[str, pa.Table]:
    """The sf0.1-shaped tables ``names`` for ``seed``."""
    return {name: _BUILDERS[name](rng(seed, _STREAMS[name]), SF01_ROWS) for name in names}


def _region(r, n):
    return pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })


def _nation(r, n):
    return pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })


def _customer(r, n):
    k = n["customer"]
    return pa.table({
        "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(r.integers(0, 25, k).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, k, -999.99, 9999.99)),
        "c_mktsegment": _strs(SEGMENTS, r.integers(0, 5, k)),
    })


def _supplier(r, n):
    k = n["supplier"]
    return pa.table({
        "s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(r.integers(0, 25, k).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, k, -999.99, 9999.99)),
    })


def _retail(k: int) -> np.ndarray:
    return np.round(900.0 + (np.arange(k) % 1000) / 10.0, 2)


def _part(r, n):
    k = n["part"]
    names = np.array([f"{c} {w}" for c in COLORS for w in NOUNS])
    return pa.table({
        "p_partkey": pa.array(np.arange(k, dtype=np.int64)),
        "p_name": _strs(names, r.integers(0, len(names), k)),
        "p_brand": _strs(np.array([f"Brand#{i}" for i in range(1, 26)]), r.integers(0, 25, k)),
        "p_type": _strs(PART_TYPES, r.integers(0, 6, k)),
        "p_size": pa.array(r.integers(1, 51, k).astype(np.int32)),
        "p_retailprice": pa.array(_retail(k)),
    })


def _orders(r, n):
    k = n["orders"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n["customer"], k).astype(np.int64)),
        "o_orderstatus": _strs(np.array(["F", "O", "P"]), r.integers(0, 3, k)),
        "o_totalprice": pa.array(_money(r, k, 1000.0, 500000.0)),
        "o_orderdate": _days(r, k, "1995-01-01", "2001-08-02"),
        "o_orderpriority": _strs(PRIORITIES, r.integers(0, 5, k)),
    })


def _lineitem(r, n):
    k = n["lineitem"]
    partkey = r.integers(0, n["part"], k)
    qty = r.integers(1, 51, k).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], k).astype(np.int64)),
        "l_partkey": pa.array(partkey.astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, k).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * _retail(n["part"])[partkey], 2)),
        "l_discount": pa.array(r.integers(0, 11, k) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, k) / 100.0),
        "l_returnflag": _strs(np.array(["A", "N", "R"]), r.integers(0, 3, k)),
        "l_linestatus": _strs(np.array(["F", "O"]), r.integers(0, 2, k)),
        "l_shipdate": _days(r, k, "1995-01-02", "2001-12-01"),
    })


def _events(r, n):
    k = n["events"]
    gaps = r.exponential(30 * 86_400e6 / k, k)
    return pa.table({
        "event_id": pa.array(np.arange(k, dtype=np.int64)),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": pa.array(r.integers(0, 1500, k).astype(np.int64)),
        "event_type": _strs(EVENT_TYPES, r.integers(0, 5, k)),
        "value": pa.array(_money(r, k, 0.01, 100.0)),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
    })


def _embeddings(r, n):
    k = n["embeddings"]
    vecs = r.normal(0, 0.15, (k, 64)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(k, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(r.integers(0, 10, k).astype(np.int32)),
    })


def _documents(r: np.random.Generator, k: int) -> pa.Table:
    """``k`` documents with the sf0.1 duplicate model: random texts, plus
    near-duplicates (a text with DUP_WORD appended) and exact copies."""
    n_near, n_exact = round(k * NEAR_DUP_RATE), round(k * EXACT_DUP_RATE)
    base = _texts(r, k - n_near - n_exact)
    near = [f"{base[i]} {DUP_WORD}" for i in r.choice(len(base), n_near, replace=False)]
    exact = [base[i] for i in r.choice(len(base), n_exact, replace=False)]
    pool = base + near + exact
    texts = [pool[i] for i in r.permutation(k)]
    return pa.table({
        "doc_id": pa.array(np.arange(k, dtype=np.int64)),
        "text": texts,
        "lang": _strs(LANGS, r.choice(len(LANGS), k, p=LANG_P)),
        "source": _strs(np.array([f"src{i}" for i in range(20)]), r.integers(0, 20, k)),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


_BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events,
    "documents": lambda r, n: _documents(r, n["documents"]),
    "embeddings": _embeddings,
}


def curation_tables(seed: int, base: dict[str, pa.Table],
                    fraction: float = CURATION_FRACTION) -> dict[str, pa.Table]:
    """The curation layout's rows: a seeded ``fraction`` of every table
    of 1,000 rows or more. Documents are drawn anew at that size with
    the sf0.1 duplicate model, so sampling does not split duplicate
    pairs."""
    r = rng(seed, 100)
    out = dict(base)
    for name, t in base.items():
        if name == "documents":
            out[name] = _documents(r, round(t.num_rows * fraction))
        elif t.num_rows >= 1000:
            keep = np.sort(r.choice(t.num_rows, round(t.num_rows * fraction), replace=False))
            out[name] = t.take(pa.array(keep))
    return out


def write_single(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One file per table, one row group per file (the bench layout)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(t.num_rows, 1))


def write_multi(tables: dict[str, pa.Table], out_dir: str, files: int = 4,
                row_groups: int = 4) -> None:
    """Each table as a directory of ``files`` parquet files with
    ``row_groups`` row groups each (small tables stay one file)."""
    for name, t in tables.items():
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        nf = files if t.num_rows >= 1000 else 1
        bounds = np.linspace(0, t.num_rows, nf + 1).astype(int)
        for i in range(nf):
            part = t.slice(bounds[i], bounds[i + 1] - bounds[i])
            pq.write_table(part, os.path.join(d, f"part-{i:05d}.parquet"),
                           row_group_size=max(-(-part.num_rows // row_groups), 1))


def ingest_frame(seed: int, stream: int, rows: int, id_offset: int = 0) -> pd.DataFrame:
    """A mixed-dtype pandas frame with nulls in every nullable column."""
    r = rng(seed, 200, stream)
    nulls = lambda p: r.random(rows) < p  # noqa: E731
    f = r.normal(100.0, 25.0, rows)
    f[nulls(0.05)] = np.nan
    cats = np.array(["alpha", "beta", "gamma", "delta", "epsilon", "zeta"], dtype=object)
    s = cats[r.integers(0, len(cats), rows)]
    s[nulls(0.05)] = None
    ts = np.datetime64("2024-01-01T00:00:00", "us") + r.integers(0, 86_400_000_000 * 90, rows).astype(
        "timedelta64[us]"
    )
    ts = ts.astype("datetime64[ns]")
    ts[nulls(0.03)] = np.datetime64("NaT")
    pdf = pd.DataFrame({
        "k_int": r.integers(-1_000_000, 1_000_000, rows).astype(np.int64),
        "k_small": r.integers(0, 100, rows).astype(np.int32),
        "f_val": f,
        "f_half": r.uniform(0, 1, rows).astype(np.float32),
        "s_cat": s,
        "flag": r.random(rows) < 0.3,
        "ts": ts,
    })
    pdf.index = pd.RangeIndex(id_offset, id_offset + rows, name="row_id")
    return pdf
