"""Sort-based distributed order statistics vs Spark's hash-map
percentile aggregate — must agree exactly (same linear interpolation)."""

import math

import pytest
from pyspark.sql import functions as F

import eland_spark as es
from eland_spark.operators.percentiles import exact_percentiles

SF = "/root/testdata/sf0.001"


def _cache_manager_empty(spark):
    """The rank pass materialises with localCheckpoint only, so it
    must leave nothing in Spark's CacheManager (a pinned plan would
    serve later identical plans from cache)."""
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_matches_hash_agg_percentile(spark):
    li = es.read_parquet(spark, f"{SF}/lineitem.parquet").to_spark()
    ps = [0.0, 0.25, 0.5, 0.75, 0.9, 1.0]
    mine = exact_percentiles(li, "l_extendedprice", ps, partitions=8)
    ref = li.agg(
        F.percentile("l_extendedprice", F.array(*[F.lit(p) for p in ps]))
    ).collect()[0][0]
    assert all(abs(a - b) < 1e-9 for a, b in zip(mine, ref))


def test_empty_and_single_row(spark):
    li = es.read_parquet(spark, f"{SF}/lineitem.parquet").to_spark()
    empty = li.filter(F.col("l_quantity") > 1e12)
    out = exact_percentiles(empty, "l_quantity", [0.5], partitions=4)
    assert math.isnan(out[0])
    one = li.limit(1)
    v = one.collect()[0]["l_quantity"]
    out = exact_percentiles(one, "l_quantity", [0.0, 0.5, 1.0], partitions=4)
    assert out == [v, v, v]


def test_global_rank_matches_window(spark):
    """with_global_rank == row_number() over a global order, without
    the single-partition window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from eland_spark.operators.ranking import with_global_rank

    spark.catalog.clearCache()
    sdf = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    ranked = with_global_rank(
        sdf, ["o_totalprice", "o_orderkey"], ascending=False, rank_col="rnk",
        partitions=7,
    )
    got = {
        (r["o_orderkey"], r["rnk"])
        for r in ranked.select("o_orderkey", "rnk").collect()
    }
    w = Window.orderBy(F.desc("o_totalprice"), F.desc("o_orderkey"))
    exp = {
        (r["o_orderkey"], r["rnk"])
        for r in sdf.select(
            "o_orderkey", F.row_number().over(w).alias("rnk")
        ).collect()
    }
    assert got == exp
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert _cache_manager_empty(spark)


def test_global_rank_ascending_and_small_partitions(spark):
    from pyspark.sql import functions as F

    from eland_spark.operators.ranking import with_global_rank

    spark.catalog.clearCache()
    sdf = spark.createDataFrame(
        [(i, float(i % 5)) for i in range(100)], "id long, v double"
    )
    ranked = with_global_rank(sdf, ["v", "id"], rank_col="r", partitions=3)
    rows = ranked.select("id", "v", "r").collect()
    ordered = sorted(rows, key=lambda x: (x["v"], x["id"]))
    assert [x["r"] for x in ordered] == list(range(1, 101))
    assert _cache_manager_empty(spark)


def test_exact_percentiles_leaves_no_cache_pin(spark):
    """exact_percentiles through the shared rank pass: same values as
    Spark's hash-map percentile, and nothing left in the CacheManager
    (it used to pin and release its own sorted frame)."""
    spark.catalog.clearCache()
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    ps = [0.0, 0.1, 0.5, 0.99, 1.0]
    mine = exact_percentiles(li, "l_quantity", ps, partitions=5)
    ref = li.agg(
        F.percentile("l_quantity", F.array(*[F.lit(p) for p in ps]))
    ).collect()[0][0]
    assert mine == pytest.approx(ref, abs=1e-9)
    assert _cache_manager_empty(spark)


def test_spearman_rank_pass_leaves_no_cache_pin(spark):
    """spearman_corr ranks through _ranked_bucket_stats (keyed
    midranks): same rho as midrank-then-Pearson in pandas, with heavy
    ties, and an empty CacheManager afterwards."""
    import numpy as np
    import pandas as pd

    from eland_spark.operators.ranking import spearman_corr

    spark.catalog.clearCache()
    rng = np.random.RandomState(5)
    x = rng.randint(0, 30, 400).astype(float)
    y = (x * 3 + rng.normal(0, 9, 400)).round(0)
    pdf = pd.DataFrame({"x": x, "y": y})
    sdf = spark.createDataFrame(pdf, schema="x double, y double")
    row = spearman_corr(sdf, "x", "y", partitions=4).collect()[0]
    want = pdf["x"].rank(method="average").corr(pdf["y"].rank(method="average"))
    assert row["rho"] == pytest.approx(want, abs=1e-9)
    assert row["n"] == 400
    assert _cache_manager_empty(spark)


@pytest.mark.parametrize("ascending", [True, False])
def test_series_rank_matches_pandas_without_cache_pin(spark, ascending):
    """Series.rank for every method on an integer column with ties
    equals its reference, and no method leaves a plan in the
    CacheManager. The reference is pandas, except for descending
    ``first``: the engine breaks ties by the index in the rank
    direction (row_number over value desc, index desc), while pandas
    breaks them by order of appearance."""
    import pandas as pd

    spark.catalog.clearCache()
    orders = es.read_parquet(spark, f"{SF}/orders.parquet", index_col="o_orderkey")
    pdf = pd.read_parquet(f"{SF}/orders.parquet").set_index("o_orderkey")
    for method in ("average", "min", "max", "first", "dense"):
        got = (
            orders["o_custkey"].rank(method=method, ascending=ascending)
            .to_pandas()["rank"].sort_index()
        )
        if method == "first" and not ascending:
            order = pdf.reset_index().sort_values(
                ["o_custkey", "o_orderkey"], ascending=False
            )["o_orderkey"]
            want = pd.Series(range(1, len(order) + 1), index=order, dtype=float)
        else:
            want = pdf["o_custkey"].rank(method=method, ascending=ascending)
        pd.testing.assert_series_equal(
            got, want.sort_index(), check_names=False, check_index_type=False
        )
        assert _cache_manager_empty(spark), method


def test_weighted_quantiles_matches_reference(spark):
    """Lower-value weighted quantile vs a python reference; integer
    weights exact; weight-1 degenerates to the ordinary lower
    quantile; nulls/non-positive weights drop."""
    import random

    import pandas as pd
    import pytest

    from eland_spark.operators.percentiles import weighted_quantiles

    rng = random.Random(3)
    rows = []
    for g in ["a", "b"]:
        for _ in range(200):
            rows.append((g, rng.randint(0, 50), rng.randint(1, 9)))
    rows.append(("a", None, 5))
    rows.append(("b", 10, 0))
    pdf = pd.DataFrame(rows, columns=["g", "v", "w"])
    sdf = spark.createDataFrame(pdf, schema="g string, v long, w long")
    qs = [0.25, 0.5, 0.9, 1.0]
    out = weighted_quantiles(sdf, "v", "w", qs, ["g"]).toPandas()
    got = {(r["g"], r["q"]): r["wq"] for _, r in out.iterrows()}

    def ref(g, q):
        sub = pdf[(pdf.g == g) & pdf.v.notna() & (pdf.w > 0)]
        per = sub.groupby("v")["w"].sum().sort_index()
        tot = per.sum()
        cum = per.cumsum()
        for v, c in cum.items():
            if c >= q * tot:
                return v
        raise AssertionError

    for g in ["a", "b"]:
        for q in qs:
            assert got[(g, q)] == ref(g, q), (g, q)

    # weight 1 == ordinary lower quantile
    one = sdf.withColumn("w", sdf.w * 0 + 1)
    out1 = weighted_quantiles(one, "v", "w", [0.5], ["g"]).toPandas()
    for _, r in out1.iterrows():
        sub = sorted(pdf[(pdf.g == r["g"]) & pdf.v.notna()]["v"])
        import math
        k = math.ceil(0.5 * len(sub))
        assert r["wq"] == sub[k - 1]

    with pytest.raises(ValueError, match="quantile"):
        weighted_quantiles(sdf, "v", "w", [0.0], ["g"])
    with pytest.raises(ValueError, match="non-empty"):
        weighted_quantiles(sdf, "v", "w", [], ["g"])


def test_trimmed_stats_matches_reference(spark):
    """10%-trim count semantics (scipy trim_mean convention) vs a
    python reference; null drop; degenerate small groups."""
    import random
    import statistics

    import pandas as pd
    import pytest

    from eland_spark.operators.scaling import trimmed_stats

    rng = random.Random(8)
    rows = []
    for g, size in [("a", 57), ("b", 9), ("c", 1), ("d", 2)]:
        for _ in range(size):
            rows.append((g, rng.randint(-50, 5000)))
    rows.append(("a", None))
    pdf = pd.DataFrame(rows, columns=["g", "v"])
    sdf = spark.createDataFrame(pdf, schema="g string, v double")
    out = trimmed_stats(sdf, "v", ["g"], trim=0.1).toPandas()
    got = {r["g"]: r for _, r in out.iterrows()}
    for g in ["a", "b", "c", "d"]:
        vals = sorted(v for gg, v in rows if gg == g and v is not None)
        k = int(0.1 * len(vals))
        kept = vals[k:len(vals) - k]
        r = got[g]
        assert r["n"] == len(vals) and r["n_trimmed"] == len(kept)
        assert r["trimmed_mean"] == pytest.approx(
            round(sum(kept) / len(kept), 6), abs=1e-6
        )
        if len(kept) >= 2:
            assert r["trimmed_std"] == pytest.approx(
                round(statistics.stdev(kept), 6), abs=1e-6
            )
        else:
            assert pd.isna(r["trimmed_std"])
    with pytest.raises(ValueError, match="trim"):
        trimmed_stats(sdf, "v", ["g"], trim=0.5)
