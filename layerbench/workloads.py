"""The two workloads: seeded calls into the public ``eland_spark`` API.

Each call is a list of timed phases. A phase runs under its own Spark
job group and names the layer it sits in (``frontend``, ``operators``
or ``etl``) and its role: ``build`` returns a lazy frame, ``action``
runs jobs and returns data. Right after a call (outside the timed
region) the benchmark takes a fingerprint of its output; every
fingerprint is compared with pandas, DuckDB or the call's own input once
the timed region is over.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd

from gen import EVENT_TYPES, WORDS, ingest_frame, rng

CURATION = [
    "near_dup_components", "curation_pipeline", "pagerank", "global_rank_topk",
    "series_rank", "train_classifier", "spearman", "tfidf_topk",
]
# the tables each curation entry scans (for rows_per_s)
CURATION_INPUTS = {
    "near_dup_components": ["documents"], "curation_pipeline": ["documents"],
    "pagerank": ["lineitem"], "global_rank_topk": ["orders"],
    "series_rank": ["orders"], "train_classifier": ["documents"],
    "spearman": ["lineitem"], "tfidf_topk": ["documents"],
}
ROUNDTRIP_ROWS = 20_000   # rows of interactive's ingest/write/export frame


@dataclass
class Call:
    kind: str
    params: dict
    input_rows: int
    run: Callable[[Callable], Any]
    # output -> fingerprint, taken right after the call (untimed)
    fingerprint: Callable[[Any], Any]
    # fingerprint -> None, raises Mismatch on a wrong output
    check: Callable[[Any], None]


class Mismatch(Exception):
    """An output that differs from its reference."""


def expect(ok, msg: str) -> None:
    if not ok:
        raise Mismatch(msg)


# ---------------------------------------------------------------------------
# comparison helpers
# ---------------------------------------------------------------------------

def expect_frames_close(got: pd.DataFrame, exp: pd.DataFrame, what: str) -> None:
    got = got.reset_index(drop=True)
    exp = exp.reset_index(drop=True)
    expect(list(got.columns) == list(exp.columns), (
        f"{what}: columns {list(got.columns)} != {list(exp.columns)}"))
    expect(len(got) == len(exp), f"{what}: {len(got)} rows != {len(exp)}")
    for c in exp.columns:
        a, b = got[c], exp[c]
        na, nb = a.isna().to_numpy(), b.isna().to_numpy()
        expect((na == nb).all(), f"{what}.{c}: null masks differ")
        a, b = a[~na], b[~nb]
        if pd.api.types.is_float_dtype(b) or pd.api.types.is_float_dtype(a):
            ok = np.isclose(a.to_numpy(float), b.to_numpy(float), rtol=1e-9, atol=1e-9)
            expect(ok.all(), f"{what}.{c}: {int((~ok).sum())} values differ")
        elif pd.api.types.is_datetime64_any_dtype(b):
            expect((a.astype("datetime64[ns]").to_numpy() == b.astype("datetime64[ns]").to_numpy()).all(), (
                f"{what}.{c}: timestamps differ"))
        else:
            expect((a.to_numpy() == b.to_numpy()).all(), f"{what}.{c}: values differ")


def _keyed(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reset_index()
    pdf = pdf.drop(columns=[c for c in pdf.columns if c == "index"])
    return pdf.sort_values(list(pdf.columns[:1]), kind="mergesort").reset_index(drop=True)


def roundtrip_hash(pdf: pd.DataFrame) -> str:
    """Order- and width-insensitive fingerprint of an exported frame:
    rows sorted by ``row_id``, ints widened to int64, floats to float64,
    timestamps to ns, nulls of every kind equal."""
    pdf = pdf.sort_values("row_id", kind="mergesort").reset_index(drop=True)
    h = hashlib.md5()
    h.update(repr(list(pdf.columns)).encode())
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            v = s.astype("datetime64[ns]").to_numpy().view(np.int64).copy()
            v[s.isna().to_numpy()] = np.iinfo(np.int64).min
        elif pd.api.types.is_bool_dtype(s):
            v = s.to_numpy(bool)
        elif pd.api.types.is_integer_dtype(s):
            v = s.to_numpy(np.int64)
        elif pd.api.types.is_float_dtype(s):
            v = s.to_numpy(np.float64).copy()
            v[np.isnan(v)] = np.inf
        else:
            v = np.array(["\x00null" if x is None else str(x) for x in s], dtype=object)
            h.update("\x01".join(v).encode())
            continue
        h.update(np.ascontiguousarray(v).tobytes())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# interactive
# ---------------------------------------------------------------------------

class Interactive:
    """Seeded pandas-API calls on the bench layout (one file, one row
    group per table). All results are small, except the seeded pandas
    frame that ``etl_roundtrip`` ingests, writes and exports."""

    name = "interactive"
    KINDS = ["mask_groupby_agg", "sort_head", "value_counts", "nlargest",
             "merge_groupby", "es_query_count", "query_string_count",
             "resample", "describe", "etl_roundtrip"]

    def __init__(self, env):
        self.env = env
        self.rows = env.table_rows
        self._pd: dict[str, pd.DataFrame] = {}

    def table(self, name: str) -> pd.DataFrame:
        """pandas copy of a generated table (loaded only for checks)."""
        if name not in self._pd:
            self._pd[name] = pd.read_parquet(self.env.path(name))
        return self._pd[name]

    def round(self, r: int) -> list[Call]:
        g = rng(self.env.seed, 1000, r)
        kinds = [self.KINDS[i] for i in g.permutation(len(self.KINDS))]
        return [getattr(self, f"_{k}")(g) for k in kinds]

    def _read(self, name):
        return self.env.es.read_parquet(self.env.spark, self.env.path(name))

    def _call(self, kind, params, tables, run, check):
        return Call(kind, params, sum(self.rows[t] for t in tables), run,
                    lambda out: out, check)

    def _mask_groupby_agg(self, g):
        q = int(g.integers(5, 45))
        d = float(g.integers(2, 9)) / 100.0
        by = [["l_returnflag"], ["l_linestatus"], ["l_returnflag", "l_linestatus"]][g.integers(0, 3)]
        spec = {"l_extendedprice": "sum", "l_quantity": "mean", "l_tax": "max"}

        def run(ph):
            with ph("frontend", "build"):
                li = self._read("lineitem")
                grouped = li[(li["l_quantity"] >= q) & (li["l_discount"] <= d)].groupby(by)
            with ph("frontend", "action"):
                return grouped.agg(spec)

        def check(out):
            L = self.table("lineitem")
            exp = L[(L.l_quantity >= q) & (L.l_discount <= d)].groupby(by).agg(spec)
            expect_frames_close(_keyed(out), _keyed(exp), "mask_groupby_agg")

        return self._call("mask_groupby_agg", {"q": q, "d": d, "by": by},
                          ["lineitem"], run, check)

    def _sort_head(self, g):
        col = ["o_totalprice", "o_orderdate"][g.integers(0, 2)]
        asc = bool(g.integers(0, 2))
        n = int(g.integers(5, 50))

        def run(ph):
            with ph("frontend", "build"):
                lazy = self._read("orders").sort_values([col, "o_orderkey"], ascending=asc).head(n)
            with ph("etl", "action", export=True):
                return lazy.to_pandas()

        def check(out):
            exp = self.table("orders").sort_values(
                [col, "o_orderkey"], ascending=asc, kind="mergesort").head(n)
            expect_frames_close(out, exp, "sort_head")

        return self._call("sort_head", {"col": col, "asc": asc, "n": n},
                          ["orders"], run, check)

    def _value_counts(self, g):
        table, num = "orders", "o_totalprice"
        col = ["o_orderpriority", "o_orderstatus"][g.integers(0, 2)]
        thr = round(float(g.uniform(0.1, 0.6)) * 500000.0, 2)

        def run(ph):
            with ph("frontend", "build"):
                f = self._read(table)
                s = f[f[num] >= thr][col]
            with ph("frontend", "action"):
                return s.value_counts()

        def check(out):
            T = self.table(table)
            exp = T[T[num] >= thr][col].value_counts()
            expect(dict(out.items()) == dict(exp.items()), "value_counts differ")

        return self._call("value_counts", {"table": table, "col": col, "thr": thr},
                          [table], run, check)

    def _nlargest(self, g):
        table, col = "orders", "o_totalprice"
        n = int(g.integers(3, 25))

        def run(ph):
            with ph("frontend", "build"):
                lazy = self._read(table).nlargest(n, col)
            with ph("etl", "action", export=True):
                return lazy.to_pandas()

        def check(out):
            exp = self.table(table).nlargest(n, col, keep="all")
            got = np.sort(out[col].to_numpy())[::-1]
            expect(len(out) == n and (got == exp[col].to_numpy()[:n]).all(), "nlargest values differ")
            if len(exp) == n:
                expect_frames_close(out.sort_values(col, ascending=False, kind="mergesort"),
                                    exp, "nlargest")

        return self._call("nlargest", {"table": table, "col": col, "n": n},
                          [table], run, check)

    def _merge_groupby(self, g):
        y0 = int(g.integers(1995, 2000))
        y1 = y0 + int(g.integers(1, 3))
        spec = {"o_totalprice": "sum", "c_acctbal": "mean"}

        def run(ph):
            with ph("frontend", "build"):
                o = self._read("orders")
                o = o[(o["o_orderdate"] >= f"{y0}-01-01") & (o["o_orderdate"] < f"{y1}-01-01")]
                grouped = o.merge(self._read("customer"), left_on="o_custkey",
                                  right_on="c_custkey").groupby("c_mktsegment")
            with ph("frontend", "action"):
                return grouped.agg(spec)

        def check(out):
            O = self.table("orders")
            O = O[(O.o_orderdate >= pd.Timestamp(f"{y0}-01-01")) & (O.o_orderdate < pd.Timestamp(f"{y1}-01-01"))]
            exp = O.merge(self.table("customer"), left_on="o_custkey",
                          right_on="c_custkey").groupby("c_mktsegment").agg(spec)
            expect_frames_close(_keyed(out), _keyed(exp), "merge_groupby")

        return self._call("merge_groupby", {"y0": y0, "y1": y1},
                          ["orders", "customer"], run, check)

    def _es_query_count(self, g):
        t = str(EVENT_TYPES[g.integers(0, len(EVENT_TYPES))])
        a = round(float(g.uniform(0, 60)), 2)
        b = round(a + float(g.uniform(10, 40)), 2)
        q = {"bool": {"filter": [{"term": {"event_type": t}},
                                 {"range": {"value": {"gte": a, "lt": b}}}]}}

        def run(ph):
            with ph("frontend", "build"):
                hits = self._read("events").es_query(q)
            with ph("frontend", "action"):
                return len(hits)

        def check(out):
            E = self.table("events")
            exp = int(((E.event_type == t) & (E.value >= a) & (E.value < b)).sum())
            expect(out == exp, f"es_query count {out} != {exp}")

        return self._call("es_query_count", {"query": q}, ["events"], run, check)

    def _query_string_count(self, g):
        w = [WORDS[i] for i in g.choice(len(WORDS), 3, replace=False)]
        qs = f"{w[0]} AND ({w[1]} OR {w[2]})"
        body = {"query_string": {"query": qs, "default_field": "text"}}

        def run(ph):
            with ph("frontend", "build"):
                hits = self._read("documents").es_query(body)
            with ph("frontend", "action"):
                return len(hits)

        def check(out):
            text = self.table("documents").text.str.lower()
            has = {x: text.str.contains(rf"\b{x}\b", regex=True) for x in w}
            exp = int((has[w[0]] & (has[w[1]] | has[w[2]])).sum())
            expect(out == exp, f"query_string count {out} != {exp}")

        return self._call("query_string_count", {"query": qs}, ["documents"], run, check)

    def _resample(self, g):
        rule = ["6h", "12h", "1D"][g.integers(0, 3)]
        fn = ["sum", "mean", "max"][g.integers(0, 3)]

        def run(ph):
            with ph("frontend", "build"):
                grouped = self._read("events")[["ts", "value"]].resample(rule, on="ts")
            with ph("frontend", "action"):
                return grouped.agg({"value": fn})

        def check(out):
            E = self.table("events")
            res = E.resample(rule, on="ts")["value"]
            exp = res.agg(fn)[res.count() > 0].to_frame()
            expect_frames_close(_keyed(out), _keyed(exp), "resample")

        return self._call("resample", {"rule": rule, "fn": fn}, ["events"], run, check)

    def _describe(self, g):
        pool = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
        cols = sorted(pool[i] for i in g.choice(4, 3, replace=False))

        def run(ph):
            with ph("frontend", "build"):
                sub = self._read("lineitem")[cols]
            with ph("frontend", "action"):
                return sub.describe()

        def check(out):
            exp = self.table("lineitem")[cols].describe()
            expect(list(out.index) == list(exp.index), "describe rows differ")
            expect_frames_close(out, exp, "describe")

        return self._call("describe", {"cols": cols}, ["lineitem"], run, check)


    def _etl_roundtrip(self, g):
        stream = int(g.integers(0, 2**31))
        es, spark = self.env.es, self.env.spark
        base = os.path.join(self.env.run_dir, "roundtrip")
        src, out = os.path.join(base, "ingested"), os.path.join(base, "written")
        n = ROUNDTRIP_ROWS
        pdf = ingest_frame(self.env.seed, stream, n)

        def run(ph):
            with ph("etl", "action", ingest=n):
                frame = es.pandas_to_spark(pdf, spark, src, if_exists="replace")
            with ph("etl", "action", write=n, path=out):
                frame.to_parquet(out)
            with ph("etl", "build"):
                back = es.read_parquet(spark, out, index_col="row_id")
            with ph("etl", "action", export=True):
                return back.to_pandas()

        def check(fp):
            exp = roundtrip_hash(ingest_frame(self.env.seed, stream, n).reset_index())
            expect(fp == exp, "exported rows differ from the ingested frame")

        return Call("etl_roundtrip", {"stream": stream, "rows": n}, n, run,
                    roundtrip_hash, check)


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------

class Curation:
    """The operator library's ``queries()`` entries, in seeded order, on
    a multi-file, multi-row-group layout of seeded tables."""

    name = "curation"

    def __init__(self, env):
        self.env = env
        self.rows = env.table_rows
        self.queries = env.entry.queries()

    def round(self, r: int) -> list[Call]:
        g = rng(self.env.seed, 2000, r)
        return [self._entry(CURATION[i]) for i in g.permutation(len(CURATION))]

    def _entry(self, name):
        env = self.env

        def run(ph):
            # the entry file memoises source frames per session; start
            # every call from a cold frame cache
            getattr(env.entry, "_T_CACHE", {}).clear()
            with ph("operators", "build"):
                df = self.queries[name](env.spark, env.data_dir)
            with ph("operators", "action"):
                return df.toPandas()

        def fingerprint(pdf):
            from driver_gate import driver_value_hash

            return (len(pdf), sorted(pdf.columns), driver_value_hash(pdf))

        def check(fp):
            exp = self.oracle(name)
            expect(fp[0] == exp[0], f"{name}: {fp[0]} rows != oracle {exp[0]}")
            expect(fp[1] == exp[1], f"{name}: columns {fp[1]} != oracle {exp[1]}")
            expect(fp[2] == exp[2], f"{name}: value hash differs from the oracle")

        rows = sum(self.rows[t] for t in CURATION_INPUTS[name])
        return Call(name, {}, rows, run, fingerprint, check)

    def oracle(self, name):
        return tuple(self.env.oracle_fingerprints()[name])


WORKLOADS = {w.name: w for w in (Interactive, Curation)}
