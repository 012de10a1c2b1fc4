"""Distributed global ranking.

``row_number() OVER (ORDER BY ...)`` with an empty PARTITION BY pulls
every row through ONE partition — the classic scale cliff. This
operator produces the same 1-based global row numbers the scalable way
(:func:`_range_rank`, the one rank pass every caller shares):

1. range-partition + sort by the order columns (one range shuffle —
   the same shuffle a global sort needs anyway);
2. per-partition counts -> cumulative offsets on the driver (one tiny
   row per partition);
3. ``monotonically_increasing_id`` on the sorted frame encodes
   (partition_id << 33) | row_in_partition — pure bit arithmetic
   recovers the within-partition position, and ``offset[pid] + pos + 1``
   is the global rank. No window, no extra exchange, everything stays
   JVM-side.

The two passes share the sorted frame, materialised once with
``localCheckpoint`` (range boundaries come from sampling, so the id
assignment must be computed once to stay consistent with the counted
layout; checkpoint blocks are cleaned once unreferenced, so no caller
has anything to release).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "with_global_rank",
    "with_global_shift",
    "with_global_cumagg",
    "with_global_cumsum",
    "with_global_expanding",
    "with_global_rolling",
    "with_global_rolling_multi",
    "with_global_rolling_apply",
    "with_global_expanding_multi",
    "with_global_rolling_quantile",
    "spearman_corr",
]

_POS_MASK = (1 << 33) - 1


def _range_rank(
    sdf: DataFrame,
    ordering: list[Column],
    rank_col: str,
    partitions: int | None = None,
    range_ordering: list[Column] | None = None,
    bucket_col: str | None = None,
    agg_cols: list[Column] | None = None,
    extra_keys: list[Column] | None = None,
    pos_windows: dict[str, Column] | None = None,
):
    """The range-rank pass: ``sdf`` range-partitioned on
    ``range_ordering`` (default ``ordering``), sorted within partitions
    on ``ordering`` and materialised; ONE grouped collect keyed by
    partition id (plus ``extra_keys``) returns each group's
    ``__cnt__`` and ``agg_cols``; the driver folds the counts into
    per-partition rank offsets.

    ``range_ordering`` may narrow the range partitioning to a prefix of
    the order columns: rows equal on the prefix are then CO-LOCATED,
    and global order is preserved because equal prefix keys never
    straddle a range boundary. ``pos_windows`` maps output names to
    window aggregates over ``F.col("__pos__")`` (0-based position in
    the partition) partitioned by such a prefix. They are evaluated
    BEFORE materialisation, where the planner still sees the range
    partitioning — so e.g. a tie-resolution window on the value reuses
    the range exchange instead of adding a hash shuffle — and each is
    re-based to a global rank like ``rank_col`` (valid because the
    window's rows share one partition). Trade-off: a single
    massively-duplicated prefix value concentrates in one partition —
    same skew exposure the tie window itself would have.

    Returns ``(ranked, stats, offsets)``: ``ranked`` is ``sdf`` plus
    ``rank_col`` (1-based global rank, long), every ``pos_windows``
    column and, when ``bucket_col`` is given, the partition id under
    that name; it stashes the row count as ``_eland_rank_total`` (see
    :func:`_ranked_total`). ``stats`` is the collected Rows ordered by
    ``__b__`` (partition id); ``offsets`` maps partition id -> its
    exclusive rank offset."""
    spark = sdf.sparkSession
    n_parts = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    src = (
        sdf.repartitionByRange(int(n_parts), *(range_ordering or ordering))
        .sortWithinPartitions(*ordering)
        .withColumn("__mid__", F.monotonically_increasing_id())
    )
    pos = F.col("__mid__").bitwiseAND(F.lit(_POS_MASK))
    if pos_windows:
        src = src.withColumn("__pos__", pos).withColumns(pos_windows).drop("__pos__")
    # materialise once: the counts collect and every consumer must see
    # the same id assignment (range boundaries come from sampling)
    src = src.localCheckpoint(eager=False)
    pid = F.shiftright(F.col("__mid__"), 33)
    stats = (
        src.groupBy(pid.alias("__b__"), *(extra_keys or []))
        .agg(F.count(F.lit(1)).alias("__cnt__"), *(agg_cols or []))
        .orderBy("__b__")
        .collect()
    )
    part_counts: dict[int, int] = {}
    for r in stats:
        part_counts[r["__b__"]] = part_counts.get(r["__b__"], 0) + r["__cnt__"]
    offsets: dict[int, int] = {}
    acc = 0
    for b in sorted(part_counts):
        offsets[b] = acc
        acc += part_counts[b]
    base = (
        F.create_map(*[F.lit(v) for kv in offsets.items() for v in kv])[pid]
        if offsets
        else F.lit(0)  # empty frame: no offsets to look up (no rows)
    )
    new_cols = {bucket_col: pid} if bucket_col else {}
    new_cols[rank_col] = (base + pos + 1).cast("long")
    for name in pos_windows or {}:
        new_cols[name] = base + F.col(name) + 1
    out = src.withColumns(new_cols).drop("__mid__")
    # the offsets fold already summed the exact row count — stash it so
    # internal callers (_global_cumaggs/_bucketed_frame/...) can skip
    # their own count() job wave (private contract; see _ranked_total)
    out._eland_rank_total = acc
    return out, stats, offsets


def with_global_rank(
    sdf: DataFrame,
    order_by: list[str | Column],
    ascending: bool = True,
    rank_col: str = "rank",
    partitions: int | None = None,
) -> DataFrame:
    """Return ``sdf`` with a 1-based global row-number column over the
    total order given by ``order_by`` (add a unique key as the last
    order column for fully deterministic ranks). The result is
    range-partitioned and sorted — downstream ``filter(rank <= k)``
    prunes whole partitions via the offsets already paid for."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    ordering = [c.asc() if ascending else c.desc() for c in cols]
    out, _, _ = _range_rank(sdf, ordering, rank_col, partitions)
    return out


def _ranked_total(ranked: DataFrame) -> int:
    """Row count of a :func:`with_global_rank` result without a job:
    the rank pass already folded per-partition counts on the driver.
    Falls back to ``count()`` for frames that lost the stash (e.g.
    after re-wrapping)."""
    n = getattr(ranked, "_eland_rank_total", None)
    return int(n) if n is not None else ranked.count()


def _ranked_bucket_stats(
    sdf: DataFrame,
    order_by: list[str | Column],
    agg_cols: list[Column],
    partitions: int | None = None,
    extra_keys: list[Column] | None = None,
):
    """Global rank pass AND per-bucket aggregate totals in ONE driver
    collect — the bucket IS the range partition (``__b__`` =
    ``__mid__ >> 33``), which is a contiguous global-rank range, so
    prefix folds over the stats rows in ``__b__`` order mean exactly
    what the rank-derived bucket plan's folds meant, while the
    per-bucket totals no longer cost a second synchronous job wave
    (r8 opt: each totals collect measured ~0.25 s steady-state at
    sf0.1 on top of the rank pass it duplicated).

    Returns ``(ranked, bucket_col, stats, offsets)``: ``ranked``
    carries the input columns plus ``__g__`` (1-based global rank) and
    ``__b__`` (bucket id — callers drop both before returning),
    ``bucket_col`` is ``F.col("__b__")``, ``stats`` is the collected
    list of per-bucket Rows ordered by ``__b__`` with ``__cnt__``
    (bucket row count) plus every aggregate in ``agg_cols``
    (pre-aliased), and ``offsets`` maps bucket id -> its exclusive
    rank offset (interpolate re-bases its per-bucket boundary-struct
    positions with it). ``extra_keys`` sub-keys the stats
    (:func:`keyed_midranks`' per-(bucket, key) totals); rank offsets
    fold over the ``__cnt__`` sums per bucket either way. Bucket
    sizes come from range-partition sampling rather than exact rank
    arithmetic — same balance the rank pass itself runs on. The
    returned frame stashes ``_eland_rank_total``."""
    ordering = [(F.col(c) if isinstance(c, str) else c).asc() for c in order_by]
    out, stats, offsets = _range_rank(
        sdf, ordering, "__g__", partitions,
        bucket_col="__b__", agg_cols=agg_cols, extra_keys=extra_keys,
    )
    return out, F.col("__b__"), stats, offsets


def with_global_shift(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_col: str,
    periods: int = 1,
    out_col: str = "shifted",
    partitions: int | None = None,
    dense_pos: bool = False,
) -> DataFrame:
    """Value of the row ``periods`` positions earlier (later for
    negative) in the GLOBAL order — pandas ``shift`` without the
    empty-PARTITION-BY single-reducer window: global positions come
    from :func:`with_global_rank`, and the shifted value is a
    self-equi-join on ``position - periods`` (one hash shuffle on the
    dense position key — perfectly balanced, no cliff). Rows with no
    source position get null, matching pandas.

    ``dense_pos=True``: the single ``order_by`` column already IS a
    dense 1-based global position (a prior rank pass in the same
    pipeline) — the join keys on it directly, skipping the second rank
    pass (range shuffle + sampling job + count collect) entirely; the
    result is identical because only position arithmetic is used."""
    if dense_pos:
        if len(order_by) != 1 or not isinstance(order_by[0], str):
            raise ValueError(
                "dense_pos requires a single named dense-position column"
            )
        ranked = sdf.withColumn("__g__", F.col(order_by[0]).cast("long"))
    else:
        ranked = with_global_rank(
            sdf, order_by, rank_col="__g__", partitions=partitions
        )
    src = ranked.select(
        (F.col("__g__") + F.lit(periods)).alias("__g__"),
        F.col(value_col).alias(out_col),
    )
    return ranked.join(src, "__g__", "left").drop("__g__")


def _global_cumaggs(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_col: str,
    aggs: list[str],
    partitions: int | None = None,
    center: float = 0.0,
) -> DataFrame:
    """Multi-agg core of the windowless global running aggregation:
    positions from :func:`with_global_rank` bucketed into
    ~``partitions`` fixed-size ranges, ONE balanced hash exchange on
    the bucket id for the within-bucket runs, per-bucket totals
    prefix-combined on the driver and merged back via map literals.
    ``aggs`` may contain sum/max/min/count/prod (count = running
    NON-NULL observation count; prod = true running product —
    F.product within buckets, driver prefix-multiply across them, so
    zeros and signs are exact, no log/exp detour) plus the moment pair
    sumsq/sumsh used by expanding std/var: both are computed on the
    DOUBLE-cast, ``center``-shifted value (``(x - center)`` and its
    square) so integer inputs cannot overflow the square and a
    large-magnitude mean does not cancel catastrophically in the
    ``sumsq - sumsh^2/n`` moment difference (variance is shift
    invariant, so callers pass the column's global mean as ``center``).
    Emits one ``__cum_<agg>__`` column per agg;
    the running value is defined at EVERY row (null rows carry the run
    forward) — callers apply their own null policy."""
    allowed = ("sum", "max", "min", "count", "prod", "sumsq", "sumsh")
    bad = [a for a in aggs if a not in allowed]
    if bad:
        raise ValueError(f"agg must be one of {allowed}; got {bad}")
    fns = {"sum": F.sum, "max": F.max, "min": F.min, "count": F.count,
           "prod": F.product,
           # running second/first moments for expanding std/var; both
           # combine exactly like sums. Inputs are double-cast and
           # mean-shifted (see ``center`` above) — never the raw
           # integer column, whose square can overflow 64-bit.
           "sumsq": lambda c: F.sum(c * c),
           "sumsh": F.sum}
    raw = F.col(value_col)
    shifted = raw.cast("double") - F.lit(float(center))
    ins = {a: (shifted if a in ("sumsq", "sumsh") else raw) for a in aggs}
    ranked, bucket, totals, _boff = _ranked_bucket_stats(
        sdf,
        order_by,
        [fns[a](ins[a]).alias(f"__t_{a}__") for a in aggs],
        partitions,
    )
    w = (
        Window.partitionBy(bucket)
        .orderBy("__g__")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = ranked
    for a in aggs:
        within = fns[a](ins[a]).over(w)
        # exclusive prefix combine of bucket totals on the driver: sum/
        # count have identity 0; max/min have none — buckets without a
        # preceding total are absent from the map (null lookup, skipped
        # by greatest/least)
        offsets: dict[int, object] = {}
        sum_family = ("sum", "count", "sumsq", "sumsh")
        acc: object = (
            0 if a in sum_family else 1.0 if a == "prod" else None
        )
        for r in totals:
            if acc is not None:
                offsets[r["__b__"]] = acc
            t = r[f"__t_{a}__"]
            if t is None:
                continue
            if a in sum_family:
                acc = acc + t
            elif a == "prod":
                acc = acc * t
            elif acc is None:
                acc = t
            else:
                acc = max(acc, t) if a == "max" else min(acc, t)
        if offsets:
            off_map = F.create_map(
                *[F.lit(v) for kv in offsets.items() for v in kv]
            )
            if a in sum_family:
                # within is NULL when the bucket prefix holds no
                # observations — the carry must still flow through
                run = F.coalesce(off_map[bucket], F.lit(0)) + F.coalesce(
                    within, F.lit(0)
                )
            elif a == "prod":
                run = F.coalesce(off_map[bucket], F.lit(1.0)) * F.coalesce(
                    within, F.lit(1.0)
                )
            elif a == "max":
                run = F.greatest(off_map[bucket], within)
            else:
                run = F.least(off_map[bucket], within)
        else:  # empty frame / all-null column / single bucket
            run = within
        out = out.withColumn(f"__cum_{a}__", run)
    return out.drop("__b__")  # __g__ retained — callers drop it


def _combine_moments(na, ma, m2a, m3a, m4a, nb, mb, m2b, m3b, m4b):
    """Exact pairwise central-moment combination (Pébay 2008) — the
    driver-side prefix fold for :func:`_global_cummoments`."""
    n = na + nb
    if n == 0:
        return 0.0, 0.0, 0.0, 0.0, 0.0
    d = mb - ma
    mean = ma + d * nb / n
    m2 = m2a + m2b + d * d * na * nb / n
    m3 = (
        m3a + m3b
        + d ** 3 * na * nb * (na - nb) / (n * n)
        + 3.0 * d * (na * m2b - nb * m2a) / n
    )
    m4 = (
        m4a + m4b
        + d ** 4 * na * nb * (na * na - na * nb + nb * nb) / (n ** 3)
        + 6.0 * d * d * (na * na * m2b + nb * nb * m2a) / (n * n)
        + 4.0 * d * (na * m3b - nb * m3a) / n
    )
    return n, mean, m2, m3, m4


def _global_cummoments(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_col: str,
    partitions: int | None = None,
) -> DataFrame:
    """Per-row RUNNING central moments over the global order —
    ``__cum_n__ / __cum_mean__ / __cum_m2__ / __cum_m3__ / __cum_m4__``
    (expanding skew/kurt's engine). The within-bucket running moments
    come from Spark's numerically stable builtin window aggregates
    (avg/var_pop/skewness/kurtosis, inverted back to raw central
    moments); the cross-bucket carry is the EXACT pairwise
    moment-combination algebra (Pébay 2008, the same math Spark's own
    aggregate merge uses), prefix-folded over per-bucket totals on the
    driver and folded back as map literals. This keeps every prefix as
    accurate as a direct two-pass computation — a single global
    centering (the sumsq/sumsh trick that suffices for variance)
    catastrophically cancels the THIRD moment of heavy-tailed data
    whose prefix mean sits far from the global mean.

    Null values carry the run forward (pandas skipna); ``|x| < 1e-30``
    flushes to 0 so the builtin moment aggs' final division cannot
    throw on subnormal underflow under ANSI (affected prefixes are
    all-equal-after-flush and land in callers' m2<=0 branches)."""
    v0 = F.col(value_col).cast("double")
    v = F.when(F.abs(v0) < 1e-30, F.lit(0.0)).otherwise(v0)
    ranked, bucket, totals, _boff = _ranked_bucket_stats(
        sdf,
        order_by,
        [
            F.count(v).alias("n"),
            F.avg(v).alias("m"),
            F.var_pop(v).alias("vp"),
            F.skewness(v).alias("sk"),
            F.kurtosis(v).alias("kt"),
            F.min(v0).alias("vmin"),
            F.max(v0).alias("vmax"),
        ],
        partitions,
    )
    w = (
        Window.partitionBy(bucket)
        .orderBy("__g__")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    # Expression-size discipline (CLAUDE.md): Column trees EXPAND on
    # every reference, and the Pébay combine below references each
    # within-bucket moment up to 6 times — inlining the window
    # aggregates there produced the widest expression trees in the repo
    # (r5's most expensive headline query). Instead the raw window
    # aggregates land ONCE in a single projection (one Window node;
    # same-spec aggs dedup within it), and every later layer builds
    # small trees over plain attribute references. Adjacent Projects
    # stay separate (CollapseProject keeps multiply-referenced
    # non-trivial aliases) and pipeline inside one codegen stage — no
    # extra exchange, no extra Window.
    win = ranked.select(
        "*",
        F.count(v).over(w).cast("double").alias("__nb__"),
        F.coalesce(F.avg(v).over(w), F.lit(0.0)).alias("__mb__"),
        F.coalesce(F.var_pop(v).over(w), F.lit(0.0)).alias("__vpb__"),
        F.skewness(v).over(w).alias("__skb__"),
        F.kurtosis(v).over(w).alias("__ktb__"),
        F.min(v0).over(w).alias("__vminb__"),
        F.max(v0).over(w).alias("__vmaxb__"),
    )
    offsets: dict[int, tuple] = {}
    minmax: dict[int, tuple] = {}
    acc = (0.0, 0.0, 0.0, 0.0, 0.0)
    accmin = accmax = None
    for r in totals:
        offsets[r["__b__"]] = acc
        minmax[r["__b__"]] = (accmin, accmax)
        bn = float(r["n"] or 0)
        if r["vmin"] is not None:
            accmin = r["vmin"] if accmin is None else min(accmin, r["vmin"])
            accmax = r["vmax"] if accmax is None else max(accmax, r["vmax"])
        if bn == 0:
            continue
        bm = float(r["m"])
        bm2 = float(r["vp"] or 0.0) * bn
        if bm2 > 0 and r["sk"] is not None and not math.isnan(r["sk"]):
            bm3 = r["sk"] * bm2 ** 1.5 / bn ** 0.5
        else:
            bm3 = 0.0
        if bm2 > 0 and r["kt"] is not None and not math.isnan(r["kt"]):
            bm4 = (r["kt"] + 3.0) * bm2 * bm2 / bn
        else:
            bm4 = 0.0
        acc = _combine_moments(*acc, bn, bm, bm2, bm3, bm4)
    # The per-bucket prefix carry folds back as ONE map literal of
    # 7-element arrays (n, mean, m2, m3, m4, min, max) — a single
    # GetMapValue scan per row instead of the seven per-moment map
    # lookups this used to pay (each scans every bucket key per row).
    if offsets:
        entries = []
        for b, vals in offsets.items():
            mm = minmax[b]
            entries.append(F.lit(b))
            entries.append(
                F.array(
                    *[
                        F.lit(None).cast("double")
                        if x is None
                        else F.lit(float(x))
                        for x in (*vals, mm[0], mm[1])
                    ]
                )
            )
        carry = F.create_map(*entries)[bucket]
    else:  # empty frame / all-null column / single bucket
        carry = F.array(
            *([F.lit(0.0)] * 5),
            F.lit(None).cast("double"),
            F.lit(None).cast("double"),
        )
    der = win.select("*", carry.alias("__carry__"))
    # derive the raw within-bucket moments + carry scalars as plain
    # columns; the combine layer then references only attributes
    nb = F.col("__nb__")
    m2b_ = F.col("__vpb__") * nb
    zero = F.lit(0.0)
    der = der.select(
        "*",
        m2b_.alias("__m2b__"),
        F.when(
            m2b_ > 0, F.col("__skb__") * m2b_ * F.sqrt(m2b_) / F.sqrt(nb)
        ).otherwise(zero).alias("__m3b__"),
        F.when(
            m2b_ > 0, (F.col("__ktb__") + 3.0) * m2b_ * m2b_ / nb
        ).otherwise(zero).alias("__m4b__"),
        F.coalesce(F.col("__carry__")[0], zero).alias("__na__"),
        F.coalesce(F.col("__carry__")[1], zero).alias("__ma__"),
        F.coalesce(F.col("__carry__")[2], zero).alias("__m2a__"),
        F.coalesce(F.col("__carry__")[3], zero).alias("__m3a__"),
        F.coalesce(F.col("__carry__")[4], zero).alias("__m4a__"),
        F.col("__carry__")[5].alias("__vmina__"),
        F.col("__carry__")[6].alias("__vmaxa__"),
    ).select(
        "*",
        (F.col("__na__") + F.col("__nb__")).alias("__n__"),
        (F.col("__mb__") - F.col("__ma__")).alias("__d__"),
    )
    # the same pairwise algebra as _combine_moments, as Column exprs
    # over attribute references; na == 0 and nb == 0 reduce to the
    # other side exactly (every cross term carries a vanishing factor)
    n, d = F.col("__n__"), F.col("__d__")
    na, ma = F.col("__na__"), F.col("__ma__")
    m2a, m3a, m4a = F.col("__m2a__"), F.col("__m3a__"), F.col("__m4a__")
    m2b, m3b, m4b = F.col("__m2b__"), F.col("__m3b__"), F.col("__m4b__")
    mean = F.when(n > 0, ma + d * nb / n)
    m2 = F.when(n > 0, m2a + m2b + d * d * na * nb / n)
    m3 = F.when(
        n > 0,
        m3a + m3b
        + d * d * d * na * nb * (na - nb) / (n * n)
        + 3.0 * d * (na * m2b - nb * m2a) / n,
    )
    m4 = F.when(
        n > 0,
        m4a + m4b
        + d * d * d * d * na * nb * (na * na - na * nb + nb * nb)
        / (n * n * n)
        + 6.0 * d * d * (na * na * m2b + nb * nb * m2a) / (n * n)
        + 4.0 * d * (na * m3b - nb * m3a) / n,
    )
    helper = [
        "__nb__", "__mb__", "__vpb__", "__skb__", "__ktb__", "__vminb__",
        "__vmaxb__", "__carry__", "__m2b__", "__m3b__", "__m4b__",
        "__na__", "__ma__", "__m2a__", "__m3a__", "__m4a__",
        "__vmina__", "__vmaxa__", "__n__", "__d__", "__b__",
    ]
    return der.select(
        "*",
        n.alias("__cum_n__"),
        mean.alias("__cum_mean__"),
        m2.alias("__cum_m2__"),
        m3.alias("__cum_m3__"),
        m4.alias("__cum_m4__"),
        F.least(F.col("__vmina__"), F.col("__vminb__")).alias("__cum_vmin__"),
        F.greatest(F.col("__vmaxa__"), F.col("__vmaxb__")).alias(
            "__cum_vmax__"
        ),
    ).drop(*helper)


def with_global_cumagg(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_col: str,
    agg: str = "sum",
    out_col: str = "cumagg",
    partitions: int | None = None,
) -> DataFrame:
    """Running ``sum``/``max``/``min``/``prod`` over the GLOBAL order,
    windowless at scale (see :func:`_global_cumaggs` for the plan).
    Null values stay null and are skipped by the run (pandas
    cumsum/cummax skipna semantics)."""
    if agg not in ("sum", "max", "min", "prod"):
        raise ValueError("agg must be sum/max/min/prod")
    out = _global_cumaggs(sdf, order_by, value_col, [agg], partitions)
    expr = F.when(F.col(value_col).isNotNull(), F.col(f"__cum_{agg}__"))
    return out.withColumn(out_col, expr).drop(f"__cum_{agg}__", "__g__")


def with_global_expanding(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_col: str,
    aggs: list[str],
    min_periods: int = 1,
    partitions: int | None = None,
) -> DataFrame:
    """pandas ``expanding()`` aggregates over the GLOBAL order — the
    cumulative bucket plan of :func:`_global_cumaggs` with expanding
    null semantics: every row (null values included) carries the
    running value, masked null until ``min_periods`` NON-NULL
    observations have been seen. ``aggs`` from
    sum/mean/min/max/count/std/var/skew/kurt; mean = running sum /
    running count; std/var derive from the running (shifted-sum,
    shifted-sum-of-squares, count) moments, where the shift is the
    column's GLOBAL mean (one extra scalar agg, computed only when
    std/var is requested): variance is shift invariant, and centering
    near the mean keeps the ``m2 = sumsq - sumsh^2/n`` difference
    numerically stable for large-magnitude data and overflow-free for
    integer inputs (both moments are double-cast before squaring) —
    sample (n-1) semantics, negative rounding dust
    clamped at zero, null until two observations like pandas. skew/
    kurt extend the same discipline to the centered cube/quartic sums
    (pandas sample G1/G2; <3/<4 observations null, all-equal prefixes
    0.0 / -3.0 — the pandas ROLLING cython path, which expanding()
    shares; NOTE pandas' whole-Series kurt of a constant returns 0.0
    instead — each pandas code path is mirrored where it's used). Adds
    one ``expanding_<agg>`` column per agg."""
    moment_aggs = [a for a in aggs if a in ("skew", "kurt")]
    if moment_aggs:
        if len(moment_aggs) != len(aggs):
            raise ValueError(
                "skew/kurt run on the running-moment plan and cannot "
                "mix with other expanding aggs in one call"
            )
        return _expanding_moments(
            sdf, order_by, value_col, aggs, min_periods, partitions
        )
    base_aggs = {"count"}
    for a in aggs:
        if a not in ("sum", "mean", "min", "max", "count", "std", "var"):
            raise ValueError(f"unsupported expanding agg {a!r}")
        if a == "mean":
            base_aggs.add("sum")
        elif a in ("std", "var"):
            base_aggs.update({"sumsh", "sumsq"})
        elif a != "count":
            base_aggs.add(a)
    center = 0.0
    if "sumsq" in base_aggs:
        mu = sdf.agg(
            F.avg(F.col(value_col).cast("double"))
        ).first()[0]
        center = float(mu) if mu is not None else 0.0
    out = _global_cumaggs(
        sdf, order_by, value_col, sorted(base_aggs), partitions,
        center=center,
    )
    seen = F.col("__cum_count__")
    ok = seen >= F.lit(min_periods)
    # pandas quirk: count's min_periods gates on the number of window
    # ROWS (the global position), not non-null observations
    ok_count = F.col("__g__") >= F.lit(min_periods)
    for a in aggs:
        if a == "count":
            expr = F.when(ok_count, seen.cast("double"))
        elif a == "mean":
            expr = F.when(ok, F.col("__cum_sum__") / seen)
        elif a in ("std", "var"):
            m2 = F.greatest(
                F.col("__cum_sumsq__")
                - F.col("__cum_sumsh__") * F.col("__cum_sumsh__") / seen,
                F.lit(0.0),
            )
            v = m2 / (seen - 1)
            v = F.sqrt(v) if a == "std" else v
            expr = F.when(ok & (seen >= 2), v)
        else:
            expr = F.when(ok, F.col(f"__cum_{a}__"))
        out = out.withColumn(f"expanding_{a}", expr)
    return out.drop(
        "__g__", *[c for c in out.columns if c.startswith("__cum_")]
    )


def _expanding_moments(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_col: str,
    aggs: list[str],
    min_periods: int,
    partitions: int | None,
) -> DataFrame:
    """expanding ``skew``/``kurt`` over :func:`_global_cummoments`'s
    running central moments — pandas sample G1/G2 with the pandas
    ROLLING cython-path edge semantics (expanding() shares it): fewer
    than 3/4 observations -> null regardless of min_periods; an
    all-equal prefix (num_consecutive_same_value in pandas; exact
    running min == max here) -> 0.0 / -3.0; otherwise a population
    variance at or below pandas' absolute 1e-14 guard -> null (the
    moment ratio is rounding noise there, GH 42064)."""
    out = _global_cummoments(sdf, order_by, value_col, partitions)
    n = F.col("__cum_n__")
    m2 = F.col("__cum_m2__")
    const = F.col("__cum_vmin__") == F.col("__cum_vmax__")
    noise = (m2 / n) <= F.lit(1e-14)
    ok = n >= F.lit(min_periods)
    for a in aggs:
        if a == "skew":
            g1 = (
                (n * F.sqrt(n - 1) / (n - 2))
                * F.col("__cum_m3__") / (m2 * F.sqrt(m2))
            )
            expr = F.when(
                ok & (n >= 3),
                F.when(const, F.lit(0.0))
                .when(noise, F.lit(None).cast("double"))
                .otherwise(g1),
            )
        else:
            g2 = n * F.col("__cum_m4__") / (m2 * m2) - 3.0
            big = ((n + 1) * g2 + 6.0) * (n - 1) / ((n - 2) * (n - 3))
            expr = F.when(
                ok & (n >= 4),
                F.when(const, F.lit(-3.0))
                .when(noise, F.lit(None).cast("double"))
                .otherwise(big),
            )
        out = out.withColumn(f"expanding_{a}", expr)
    return out.drop(
        "__g__", *[c for c in out.columns if c.startswith("__cum_")]
    )


def _bucketed_frame(
    sdf: DataFrame,
    order_by: list[str | Column],
    window: int,
    partitions: int | None = None,
    dense_total: int | None = None,
):
    """Shared scaffolding for bounded-lookback global window ops
    (rolling, ewm): global positions from :func:`with_global_rank` are
    bucketed (bucket >= ``window`` so a frame spans at most two
    buckets), the last ``window-1`` rows of each bucket are REPLICATED
    into the next bucket as padding, and ONE balanced hash exchange on
    the bucket id computes the bounded frame locally. Returns the
    padded union (filter ``~__pad__`` and drop ``__b__/__pad__/__g__``
    when done) and the bounded per-bucket window spec.

    ``dense_total``: fast path for callers whose frame ALREADY carries
    a dense 1-based global position as its single ``order_by`` column
    (a prior :func:`with_global_rank` pass in the same pipeline) and
    who know the row count — skips the whole second rank pass (range
    shuffle + sampling job + count collect); the bucketed window is
    identical because it depends only on the position values."""
    spark = sdf.sparkSession
    n_parts = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    if dense_total is not None:
        if len(order_by) != 1 or not isinstance(order_by[0], str):
            raise ValueError(
                "dense_total requires a single named dense-position column"
            )
        ranked = sdf.withColumn("__g__", F.col(order_by[0]).cast("long"))
        n = int(dense_total)
    else:
        ranked = with_global_rank(
            sdf, order_by, rank_col="__g__", partitions=n_parts
        )
        n = _ranked_total(ranked)
    bucket_size = max(window, math.ceil(n / n_parts) or 1)
    g0 = F.col("__g__") - 1
    home = ranked.withColumn(
        "__b__", (g0 / F.lit(bucket_size)).cast("long")
    ).withColumn("__pad__", F.lit(False))
    pad = (
        ranked.filter(
            F.pmod(g0, F.lit(bucket_size)) >= F.lit(bucket_size - (window - 1))
        ).withColumn("__b__", (g0 / F.lit(bucket_size)).cast("long") + 1)
        .withColumn("__pad__", F.lit(True))
        if window > 1
        else None
    )
    un = home.unionByName(pad) if pad is not None else home
    w = (
        Window.partitionBy("__b__")
        .orderBy("__g__")
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    return un, w


def with_global_rolling(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_col: str,
    window: int,
    aggs: list[str],
    min_periods: int | None = None,
    partitions: int | None = None,
    dense_total: int | None = None,
) -> DataFrame:
    """Row-based rolling aggregates over the GLOBAL order (pandas
    ``rolling(window)``), windowless at scale: positions from
    :func:`with_global_rank` are bucketed (bucket size >= ``window`` so
    a frame spans at most two buckets), the last ``window-1`` rows of
    each bucket are REPLICATED into the next bucket as padding, and one
    balanced hash exchange on the bucket id computes the bounded frame
    locally; padding rows are dropped afterwards. min_periods follows
    pandas: the result is null until ``min_periods`` non-null
    observations are inside the frame.

    Returns the frame plus one ``rolling_<agg>`` column per agg in
    ``aggs`` (sum/mean/min/max/count/std/var/skew/kurt — std/var are
    sample (n-1) semantics via Spark's stddev_samp/var_samp, whose
    internal merge is numerically stable; skew/kurt are pandas'
    sample-adjusted G1/G2, converted algebraically from Spark's
    population window moments and mirroring pandas roll_skew/roll_kurt
    edge semantics: fewer than 3 (skew) / 4 (kurt) observations ->
    null regardless of min_periods, an all-equal window -> 0.0 (skew)
    / -3.0 (kurt) — NOTE this differs from pandas' own whole-Series
    kurt, which returns 0.0 for constants; we mirror each pandas code
    path where it's used)."""
    fn_map = {
        "sum": F.sum, "mean": F.avg, "min": F.min, "max": F.max,
        "count": F.count, "std": F.stddev_samp, "var": F.var_samp,
    }
    moments = ("skew", "kurt")
    bad = [a for a in aggs if a not in fn_map and a not in moments]
    if bad:
        raise ValueError(
            f"unsupported rolling aggs {bad}; one of "
            f"{sorted([*fn_map, *moments])}"
        )
    if window < 1:
        raise ValueError("window must be >= 1")
    mp = window if min_periods is None else min_periods
    un, w = _bucketed_frame(sdf, order_by, window, partitions, dense_total)
    cnt = F.count(F.col(value_col)).over(w)
    # all aggs land in ONE projection: same-spec window expressions
    # (cnt, and the const/noise guards shared by skew+kurt) dedup only
    # within a single select — a withColumn per agg would plan one
    # Window (Exchange+Sort) node per layer (CLAUDE.md rule)
    rolled: list[Column] = []
    for a in aggs:
        if a in moments:
            col = F.col(value_col).cast("double")
            # |x| < 1e-30 flushes to 0: under ANSI the builtin moment
            # aggs' final division throws when the central-moment power
            # UNDERFLOWS (subnormal-magnitude data only); affected
            # windows all land in the all-equal branch anyway
            flushed = F.when(F.abs(col) < 1e-30, F.lit(0.0)).otherwise(col)
            n = cnt.cast("double")
            const = F.min(col).over(w) == F.max(col).over(w)
            # pandas roll_skew/roll_kurt order of guards: exact
            # all-equal window -> 0.0 / -3.0; else population variance
            # at or below the absolute 1e-14 guard -> NaN (GH 42064)
            noise = F.var_pop(flushed).over(w) <= F.lit(1e-14)
            null_d = F.lit(None).cast("double")
            if a == "skew":
                conv = (
                    F.sqrt(n * (n - 1)) / (n - 2)
                    * F.skewness(flushed).over(w)
                )
                expr = F.when(
                    cnt >= F.lit(max(mp, 3)),
                    F.when(const, F.lit(0.0))
                    .when(noise, null_d)
                    .otherwise(conv),
                )
            else:
                g2 = F.kurtosis(flushed).over(w)
                conv = (
                    ((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3))
                )
                expr = F.when(
                    cnt >= F.lit(max(mp, 4)),
                    F.when(const, F.lit(-3.0))
                    .when(noise, null_d)
                    .otherwise(conv),
                )
        else:
            expr = F.when(
                cnt >= F.lit(mp), fn_map[a](F.col(value_col)).over(w)
            )
        rolled.append(expr.alias(f"rolling_{a}"))
    out = un.select("*", *rolled)
    return out.filter(~F.col("__pad__")).drop("__b__", "__pad__", "__g__")


def with_global_rolling_binary(
    sdf: DataFrame,
    order_by: list[str | Column],
    x_col: str,
    y_col: str,
    window: int,
    metric: str = "corr",
    min_periods: int | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """pandas ``rolling().corr(other)`` / ``rolling().cov(other)`` over
    the global order — the two-series siblings of
    :func:`with_global_rolling`, on the same bucketed padded plan.
    Spark's windowed ``corr``/``covar_samp`` (numerically stable
    merge) computes over the bounded frame; both use pairwise-complete
    observations (rows where EITHER side is null are excluded), which
    is pandas' semantics, and ``min_periods`` counts complete PAIRS.
    Adds ``rolling_corr``/``rolling_cov`` (sample covariance, n-1)."""
    if metric not in ("corr", "cov"):
        raise ValueError(f"metric must be 'corr' or 'cov', got {metric!r}")
    if window < 1:
        raise ValueError("window must be >= 1")
    mp = window if min_periods is None else min_periods
    un, w = _bucketed_frame(sdf, order_by, window, partitions)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    both = x.isNotNull() & y.isNotNull()
    pairs = F.count(F.when(both, F.lit(1))).over(w)
    # corr assembled from covar_samp and the PAIR-masked variances in
    # the projection, NOT F.corr: the corr aggregate's internal
    # ck/sqrt(xMk*yMk) divides by zero under ANSI whenever a window's
    # variance is 0 (constant values) — the projection-level CASE
    # evaluates lazily, so the degenerate windows yield pandas' NaN
    # instead of an error. pandas computes cov/(std*std) the same way.
    cov = F.covar_samp(F.when(both, x), F.when(both, y)).over(w)
    if metric == "cov":
        val = cov
    else:
        vx = F.var_samp(F.when(both, x)).over(w)
        vy = F.var_samp(F.when(both, y)).over(w)
        val = F.when(
            (vx > 0) & (vy > 0), cov / (F.sqrt(vx) * F.sqrt(vy))
        ).otherwise(F.lit(float("nan")))
    out = un.withColumn(
        f"rolling_{metric}", F.when(pairs >= F.lit(mp), val)
    )
    return out.filter(~F.col("__pad__")).drop("__b__", "__pad__", "__g__")


def with_global_cumsum(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_col: str,
    out_col: str = "cumsum",
    partitions: int | None = None,
) -> DataFrame:
    """Running sum over the global order — see :func:`with_global_cumagg`."""
    return with_global_cumagg(
        sdf, order_by, value_col, "sum", out_col, partitions
    )


def with_global_shift_multi(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_cols: list[str],
    periods: int = 1,
    suffix: str = "__prev__",
    partitions: int | None = None,
) -> DataFrame:
    """Multi-column :func:`with_global_shift`: ONE rank pass and ONE
    position self-join carry every value column (frame-level
    shift/diff/pct_change pay the shuffle once, not per column).
    Shifted twins land in ``<col><suffix>``."""
    ranked = with_global_rank(
        sdf, order_by, rank_col="__g__", partitions=partitions
    )
    src = ranked.select(
        (F.col("__g__") + F.lit(periods)).alias("__g__"),
        *[F.col(c).alias(f"{c}{suffix}") for c in value_cols],
    )
    return ranked.join(src, "__g__", "left").drop("__g__")


def with_global_cumagg_multi(
    sdf: DataFrame,
    order_by: list[str | Column],
    pairs: list[tuple[str, str, str]],
    partitions: int | None = None,
) -> DataFrame:
    """Running sum/max/min/prod over the GLOBAL order for MANY columns at
    once — the bucket plan of :func:`with_global_cumagg` (one balanced
    exchange, driver prefix-combine of per-bucket totals) paid a single
    time; ``pairs`` is ``[(value_col, agg, out_col), ...]``. Null
    values stay null, the run continues (pandas skipna)."""
    fns = {"sum": F.sum, "max": F.max, "min": F.min, "prod": F.product}
    for _, a, _o in pairs:
        if a not in fns:
            raise ValueError("agg must be sum/max/min/prod")
    ranked, bucket, totals, _boff = _ranked_bucket_stats(
        sdf,
        order_by,
        [
            fns[a](F.col(c)).alias(f"__t_{i}__")
            for i, (c, a, _o) in enumerate(pairs)
        ],
        partitions,
    )
    w = (
        Window.partitionBy(bucket)
        .orderBy("__g__")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = ranked
    for i, (c, a, name) in enumerate(pairs):
        within = fns[a](F.col(c)).over(w)
        offsets: dict[int, object] = {}
        acc: object = 0 if a == "sum" else 1.0 if a == "prod" else None
        for r in totals:
            if acc is not None:
                offsets[r["__b__"]] = acc
            t = r[f"__t_{i}__"]
            if t is None:
                continue
            if a == "sum":
                acc = acc + t
            elif a == "prod":
                acc = acc * t
            elif acc is None:
                acc = t
            else:
                acc = max(acc, t) if a == "max" else min(acc, t)
        if offsets:
            off_map = F.create_map(
                *[F.lit(v) for kv in offsets.items() for v in kv]
            )
            if a == "sum":
                run = F.coalesce(off_map[bucket], F.lit(0)) + F.coalesce(
                    within, F.lit(0)
                )
            elif a == "prod":
                run = F.coalesce(off_map[bucket], F.lit(1.0)) * F.coalesce(
                    within, F.lit(1.0)
                )
            elif a == "max":
                run = F.greatest(off_map[bucket], within)
            else:
                run = F.least(off_map[bucket], within)
        else:
            run = within
        out = out.withColumn(name, F.when(F.col(c).isNotNull(), run))
    return out.drop("__g__", "__b__")


def with_global_expanding_multi(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_cols: list[str],
    aggs: list[str],
    min_periods: int = 1,
    partitions: int | None = None,
) -> DataFrame:
    """Frame-level pandas ``expanding()`` for MANY columns through ONE
    bucket plan: every column's running (count + per-agg moments)
    share the single balanced exchange and one driver prefix-combine
    of per-bucket totals — never one plan per column. std/var use the
    double-cast, per-column GLOBAL-MEAN-shifted moments (identical
    numerics to :func:`with_global_expanding`: overflow-free squares,
    no large-mean cancellation; one extra scalar agg computes all the
    centers at once). Expanding null semantics: every row carries the
    running value, masked null until ``min_periods`` non-null
    observations (count's gate is the ROW position, the pandas quirk).
    Adds one ``{col}__expanding_{agg}`` column per (col, agg)."""
    for a in aggs:
        if a not in ("sum", "mean", "min", "max", "count", "std", "var"):
            raise ValueError(f"unsupported expanding agg {a!r}")
    need_m2 = any(a in ("std", "var") for a in aggs)
    centers: dict[str, float] = {}
    if need_m2:
        row = sdf.agg(
            *[F.avg(F.col(c).cast("double")).alias(c) for c in value_cols]
        ).first()
        centers = {c: (float(row[c]) if row[c] is not None else 0.0)
                   for c in value_cols}

    # tasks: (slot, input expr, combine kind); count is always present
    # per column (the min_periods gate)
    tasks: list[tuple[str, Column, str]] = []
    for c in value_cols:
        raw = F.col(c)
        tasks.append((f"{c}__cnt", raw, "count"))
        wanted = set(aggs)
        if "mean" in wanted:
            wanted.add("sum")
        if wanted & {"std", "var"}:
            sh = raw.cast("double") - F.lit(centers.get(c, 0.0))
            tasks.append((f"{c}__sumsh", sh, "sum"))
            tasks.append((f"{c}__sumsq", sh * sh, "sum"))
        for a in ("sum", "min", "max"):
            if a in wanted:
                tasks.append((f"{c}__{a}", raw, a))

    fns = {"sum": F.sum, "min": F.min, "max": F.max, "count": F.count}
    ranked, bucket, totals, _boff = _ranked_bucket_stats(
        sdf,
        order_by,
        [fns[k](e).alias(s) for s, e, k in tasks],
        partitions,
    )
    w = (
        Window.partitionBy(bucket)
        .orderBy("__g__")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = ranked
    runs: dict[str, Column] = {}
    for s, e, kind in tasks:
        within = fns[kind](e).over(w)
        offsets: dict[int, object] = {}
        acc: object = 0 if kind in ("sum", "count") else None
        for r in totals:
            if acc is not None:
                offsets[r["__b__"]] = acc
            t = r[s]
            if t is None:
                continue
            if kind in ("sum", "count"):
                acc = acc + t
            elif acc is None:
                acc = t
            else:
                acc = max(acc, t) if kind == "max" else min(acc, t)
        if offsets:
            off_map = F.create_map(
                *[F.lit(v) for kv in offsets.items() for v in kv]
            )
            if kind in ("sum", "count"):
                run = F.coalesce(off_map[bucket], F.lit(0)) + F.coalesce(
                    within, F.lit(0)
                )
            elif kind == "max":
                run = F.greatest(off_map[bucket], within)
            else:
                run = F.least(off_map[bucket], within)
        else:
            run = within
        runs[s] = run
    ok_count = F.col("__g__") >= F.lit(min_periods)
    for c in value_cols:
        seen = runs[f"{c}__cnt"]
        ok = seen >= F.lit(min_periods)
        for a in aggs:
            if a == "count":
                expr = F.when(ok_count, seen.cast("double"))
            elif a == "mean":
                expr = F.when(ok, runs[f"{c}__sum"] / seen)
            elif a in ("std", "var"):
                m2 = F.greatest(
                    runs[f"{c}__sumsq"]
                    - runs[f"{c}__sumsh"] * runs[f"{c}__sumsh"] / seen,
                    F.lit(0.0),
                )
                v = m2 / (seen - 1)
                v = F.sqrt(v) if a == "std" else v
                expr = F.when(ok & (seen >= 2), v)
            else:
                expr = F.when(ok, runs[f"{c}__{a}"])
            out = out.withColumn(f"{c}__expanding_{a}", expr)
    return out.drop("__g__", "__b__")


def with_global_fill(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_cols: list[str],
    forward: bool = True,
    partitions: int | None = None,
) -> DataFrame:
    """Global-order ffill/bfill without a single-partition window: the
    last (first) non-null is a running semigroup, so the same bucket
    plan applies — within-bucket last(ignorenulls) over the running
    frame, per-bucket last-non-null totals prefix-carried on the
    driver, combined with coalesce. Fills every column in
    ``value_cols`` in ONE exchange; overwrites them in place."""
    # the per-bucket last/first non-null must NOT key on __g__ (the
    # merged collect computes it alongside the ranks): __mid__ order
    # within a bucket IS the rank order, so max_by/min_by on the
    # position bits pick the same row
    pos = F.col("__mid__").bitwiseAND(F.lit(_POS_MASK))
    ranked, bucket, totals, _boff = _ranked_bucket_stats(
        sdf,
        order_by,
        [
            (F.max_by(F.col(c), F.when(F.col(c).isNotNull(), pos))
             if forward
             else F.min_by(F.col(c), F.when(F.col(c).isNotNull(), pos)))
            .alias(f"__t_{i}__")
            for i, c in enumerate(value_cols)
        ],
        partitions,
    )
    if not forward:
        totals = list(reversed(totals))
    order = F.col("__g__").asc() if forward else F.col("__g__").desc()
    w = (
        Window.partitionBy(bucket)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = ranked
    for i, c in enumerate(value_cols):
        within = F.last(F.col(c), ignorenulls=True).over(w)
        carries: dict[int, object] = {}
        acc: object = None
        for r in totals:
            if acc is not None:
                carries[r["__b__"]] = acc
            t = r[f"__t_{i}__"]
            if t is not None:
                acc = t
        if carries:
            carry_map = F.create_map(
                *[F.lit(v) for kv in carries.items() for v in kv]
            )
            run = F.coalesce(within, carry_map[bucket])
        else:
            run = within
        out = out.withColumn(c, run)
    return out.drop("__g__", "__b__")


def with_global_interpolate(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_cols: list[str],
    limit: int | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """pandas ``interpolate(method='linear')`` over the GLOBAL order
    without a single-partition window. Linear on ROW position (pandas
    default index spacing), default ``limit_direction='forward'``
    semantics: interior gaps get the straight line between the
    surrounding valid values, trailing nulls carry the last valid value
    forward, leading nulls stay null; ``limit`` caps how many
    consecutive nulls after a valid value are filled.

    Scale shape — the running "last/first non-null (position, value)"
    is a semigroup, so the :func:`with_global_fill` bucket plan
    applies: ONE balanced hash exchange on the bucket id (the backward
    scan re-sorts the bucket desc and runs the same linear
    unbounded-preceding frame), per-bucket boundary structs
    prefix/suffix-carried on the driver (one tiny row per bucket), and
    the interpolation itself is pure Column arithmetic. All
    ``value_cols`` fill in the same exchange and are overwritten in
    place as doubles."""
    if limit is not None and (not isinstance(limit, int) or limit < 1):
        raise ValueError("limit must be a positive integer")
    # NaN == missing (pandas parity; float NaN survives parquet as NaN,
    # not NULL) — normalize every value column to a null-holed double
    # before anything else looks at it.
    null_d = F.lit(None).cast("double")
    for c in value_cols:
        sdf = sdf.withColumn(c, F.nanvl(F.col(c).cast("double"), null_d))
    # per-bucket boundary structs pack the LOCAL position (__mid__'s
    # low bits — the merged collect runs before ranks exist); the
    # driver adds the bucket's rank offset back when folding the
    # carry maps, so the lerp still sees global positions
    pos = F.col("__mid__").bitwiseAND(F.lit(_POS_MASK))

    def _pack_local(c: str) -> Column:
        return F.when(
            F.col(c).isNotNull(),
            F.struct(pos.alias("p"), F.col(c).cast("double").alias("v")),
        )

    nn_aggs = []
    for i, c in enumerate(value_cols):
        nn = F.when(F.col(c).isNotNull(), pos)
        nn_aggs.append(F.max_by(_pack_local(c), nn).alias(f"__f_{i}__"))
        nn_aggs.append(F.min_by(_pack_local(c), nn).alias(f"__b_{i}__"))
    ranked, bucket, totals, boff = _ranked_bucket_stats(
        sdf, order_by, nn_aggs, partitions
    )
    # the backward scan is a DESC ordering with the same RUNNING
    # (unbounded-preceding -> current) frame, NOT an asc window with an
    # unbounded-FOLLOWING frame: Spark evaluates following-unbounded
    # frames by rescanning the partition remainder per row — O(rows^2)
    # per bucket (measured 25 s vs 1 s at sf0.1). Both windows share
    # the one hash exchange on the bucket id; the desc pass only adds
    # an in-bucket re-sort.
    wf = (
        Window.partitionBy(bucket)
        .orderBy(F.col("__g__").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wb = (
        Window.partitionBy(bucket)
        .orderBy(F.col("__g__").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def _pack(c: str) -> Column:
        return F.when(
            F.col(c).isNotNull(),
            F.struct(
                F.col("__g__").alias("p"), F.col(c).cast("double").alias("v")
            ),
        )

    def _lit_struct(t, b: int) -> Column:
        # global position = bucket rank offset + local position + 1
        return F.struct(
            F.lit(int(boff.get(b, 0)) + int(t["p"]) + 1)
            .cast("long")
            .alias("p"),
            F.lit(float(t["v"])).alias("v"),
        )

    def _carry_map(rows, field: str):
        carries, acc = {}, None
        for r in rows:
            if acc is not None:
                carries[r["__b__"]] = acc
            t = r[field]
            if t is not None:
                acc = _lit_struct(t, r["__b__"])
        if not carries:
            return None
        return F.create_map(
            *[x for b, t in carries.items() for x in (F.lit(b), t)]
        )

    out = ranked
    g = F.col("__g__")
    for i, c in enumerate(value_cols):
        s = _pack(c)
        prev = F.last(s, ignorenulls=True).over(wf)
        nxt = F.last(s, ignorenulls=True).over(wb)
        fmap = _carry_map(totals, f"__f_{i}__")
        bmap = _carry_map(list(reversed(totals)), f"__b_{i}__")
        if fmap is not None:
            prev = F.coalesce(prev, fmap[bucket])
        if bmap is not None:
            nxt = F.coalesce(nxt, bmap[bucket])
        line = F.when(nxt.isNull(), prev["v"]).otherwise(
            prev["v"]
            + (nxt["v"] - prev["v"])
            * (g - prev["p"]).cast("double")
            / (nxt["p"] - prev["p"]).cast("double")
        )
        if limit is not None:
            line = F.when((g - prev["p"]) <= F.lit(limit), line)
        filled = (
            F.when(F.col(c).isNotNull(), F.col(c).cast("double"))
            .when(prev.isNull(), F.lit(None).cast("double"))
            .otherwise(line)
        )
        out = out.withColumn(c, filled)
    return out.drop("__g__", "__b__")


def with_global_rolling_apply(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_col: str,
    window: int,
    fn,
    min_periods: int | None = None,
    raw: bool = False,
    out_col: str = "rolling_apply",
    partitions: int | None = None,
) -> DataFrame:
    """pandas ``rolling(window).apply(fn)`` over the GLOBAL order — the
    arbitrary-Python escape hatch the built-in rolling aggs can't
    express. Same bucketed padded-frame plan as
    :func:`with_global_rolling` (positions, bucket >= window, last
    window-1 rows replicated into the next bucket, ONE balanced hash
    exchange), but the per-bucket computation is one Arrow-batched
    ``applyInPandas`` running pandas' own ``rolling().apply`` locally —
    so semantics (min_periods, ``raw``) are pandas' to the letter, and
    the only Python cost is per-bucket, never per-row. Built-in aggs
    should stay on the JVM path; this is for genuinely custom window
    functions (trimmed means, custom scores).

    ``fn`` must return a float per window; the result column is
    DOUBLE.

    ``value_col`` may be a LIST of columns (frame-level
    ``DataFrame.rolling().apply``): every column rolls through the
    SAME single exchange and Arrow pass, each overwritten in place
    with its DOUBLE result — never one plan per column."""
    import pandas as pd  # noqa: F401 — applyInPandas ships the fn
    from pyspark.sql import types as T

    if window < 1:
        raise ValueError("window must be >= 1")
    mp = window if min_periods is None else min_periods
    multi = not isinstance(value_col, str)
    vcols = list(value_col) if multi else [value_col]
    un, _ = _bucketed_frame(sdf, order_by, window, partitions)
    if multi:
        out_fields = [
            T.StructField(f.name, T.DoubleType() if f.name in vcols
                          else f.dataType)
            for f in un.schema.fields
        ]
        out_schema = T.StructType(out_fields)
    else:
        out_schema = T.StructType(
            list(un.schema.fields) + [T.StructField(out_col, T.DoubleType())]
        )

    def _apply(pdf):
        pdf = pdf.sort_values("__g__")
        roll = pdf[vcols].rolling(int(window), min_periods=int(mp))
        res = roll.apply(fn, raw=raw)
        if multi:
            pdf[vcols] = res
        else:
            pdf[out_col] = res[vcols[0]]
        return pdf

    out = un.groupBy("__b__").applyInPandas(_apply, schema=out_schema)
    return out.filter(~F.col("__pad__")).drop("__b__", "__pad__", "__g__")


def with_global_rolling_multi(
    sdf: DataFrame,
    order_by: "list[str | Column]",
    value_cols: "list[str]",
    window: int,
    aggs: "list[str]",
    min_periods: "int | None" = None,
    partitions: "int | None" = None,
) -> DataFrame:
    """Row-based rolling aggregates over the GLOBAL order for MANY
    columns at once — the bucket-overlap plan of
    :func:`with_global_rolling` (one balanced exchange) paid a single
    time for the whole column set. Adds ``{col}__rolling_{agg}`` per
    (column, agg); min_periods counts each column's OWN non-null
    observations (pandas semantics)."""
    fn_map = {
        "sum": F.sum, "mean": F.avg, "min": F.min, "max": F.max,
        "count": F.count, "std": F.stddev_samp, "var": F.var_samp,
    }
    bad = [a for a in aggs if a not in fn_map]
    if bad:
        raise ValueError(f"unsupported rolling aggs {bad}; one of {sorted(fn_map)}")
    if window < 1:
        raise ValueError("window must be >= 1")
    mp = window if min_periods is None else min_periods
    un, w = _bucketed_frame(sdf, order_by, window, partitions)
    out = un
    for c in value_cols:
        cnt = F.count(F.col(c)).over(w)
        for a in aggs:
            expr = fn_map[a](F.col(c)).over(w)
            out = out.withColumn(
                f"{c}__rolling_{a}", F.when(cnt >= F.lit(mp), expr)
            )
    return out.filter(~F.col("__pad__")).drop("__b__", "__pad__", "__g__")


def keyed_midranks(
    per: DataFrame,
    key_col: str,
    val_col: str,
    weight_col: str,
    out_col: str = "__mid__",
    partitions: "int | None" = None,
) -> DataFrame:
    """Tie-averaged midranks of ``val_col`` WITHIN each ``key_col``
    group, from per-(key, value) ``weight_col`` counts — the shared
    ranked-values stage of the rank statistics (Spearman's two axes,
    and any batch of rank tests run together: each test is one key).

    ONE windowless bucket prefix-sum pass over the (key, value) order
    serves every key: the single per-(bucket, key) totals collect
    yields BOTH the bucket prefix offsets and the per-key starting
    offsets (buckets x keys driver state, folded back as map literals
    — never a per-key shuffle, and no second job wave; a lazy
    broadcast-join formulation was measured 1.6-2.6x SLOWER end-to-end
    because the broadcast side rebuilt the count frame from source
    instead of reading the materialised rank pass). Keys must sort the same
    in Python and Spark, so null keys raise and key values are
    restricted to int/str (checked at runtime, not just documented —
    a Python/Spark ordering divergence would silently corrupt every
    midrank after the divergence point). Returns a pair: the
    ``(key_col, val_col, out_col)`` frame (distinct-(key, value)-sized)
    and the per-key weight-total dict already folded on the driver,
    so callers needing grand/per-key totals (e.g. spearman's
    ``(n+1)/2`` centering) pay no extra aggregate job.
    """
    ranked, bucket, totals, _boff = _ranked_bucket_stats(
        per,
        [key_col, val_col],
        [F.sum(weight_col).alias("__t__")],
        partitions,
        extra_keys=[F.col(key_col)],
    )
    w = (
        Window.partitionBy(bucket)
        .orderBy("__g__")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bucket_tot: dict = {}
    key_tot: dict = {}
    for r in totals:
        t = r["__t__"] or 0
        bucket_tot[r["__b__"]] = bucket_tot.get(r["__b__"], 0) + t
        key_tot[r[key_col]] = key_tot.get(r[key_col], 0) + t
    # the per-key offsets below come from Python sorted(); that is only
    # valid when Python's total order over the keys matches Spark's
    # sort of key_col. Enforce it instead of trusting the docstring.
    if None in key_tot:
        raise ValueError(
            "keyed_midranks: null keys are not supported (Spark sorts "
            "nulls first but Python cannot order None) — filter or fill "
            "the key column first"
        )
    if not all(isinstance(k, (int, str)) for k in key_tot):
        bad = sorted({type(k).__name__ for k in key_tot
                      if not isinstance(k, (int, str))})
        raise TypeError(
            f"keyed_midranks: key dtype(s) {bad} not supported — keys "
            "must be int or str so Python and Spark sort identically"
        )
    if len({isinstance(k, str) for k in key_tot}) > 1:
        raise TypeError(
            "keyed_midranks: mixed int/str keys cannot be ordered "
            "consistently between Python and Spark"
        )
    boff, acc = {}, 0
    for b in sorted(bucket_tot):
        boff[b] = acc
        acc += bucket_tot[b]
    koff, acc = {}, 0
    for k in sorted(key_tot):
        koff[k] = acc
        acc += key_tot[k]

    def _map(d, col):
        if not d:
            return F.lit(0)
        return F.coalesce(
            F.create_map(*[F.lit(v) for kv in d.items() for v in kv])[col],
            F.lit(0),
        )

    run = _map(boff, bucket) + F.coalesce(
        F.sum(F.col(weight_col)).over(w), F.lit(0)
    )
    n = F.col(weight_col)
    mid = (run - _map(koff, F.col(key_col)) - n) + (n + 1) / 2.0
    out = ranked.select(key_col, val_col, mid.alias(out_col))
    return out, key_tot


def spearman_corr(
    sdf: DataFrame,
    x_col: str,
    y_col: str,
    partitions: "int | None" = None,
) -> DataFrame:
    """Exact Spearman rank correlation between two columns as a 1-row
    frame ``(rho, n)`` — Pearson correlation of tie-averaged midranks
    over pairwise-complete observations (rows where either side is
    null OR NaN are dropped, pandas ``Series.corr(method='spearman')``
    semantics). ``rho`` is null when either side is constant.

    Never ranks row data: the pair frame reduces to DISTINCT
    (x, y)-pair counts in one hash aggregation (lazily checkpointed —
    the raw table streams through once), BOTH axes' midranks come from
    ONE shared :func:`keyed_midranks` pass (the axes union into one
    (axis, value) frame, one distinct-value count + one windowless
    bucket prefix-sum serve both — r5 built this scaffolding per axis
    independently), the midranks join back onto the pair-count frame,
    and rho is ONE weighted-moment scalar aggregate. Midranks are
    centered by their exact mean ``(n+1)/2`` (the centered weighted
    sums are exactly zero), so ``rho = sxy / sqrt(sxx * syy)`` with no
    large-magnitude cancellation.
    """
    pairs = sdf.select(
        F.col(x_col).cast("double").alias("__x__"),
        F.col(y_col).cast("double").alias("__y__"),
    ).where(
        F.col("__x__").isNotNull() & ~F.isnan("__x__")
        & F.col("__y__").isNotNull() & ~F.isnan("__y__")
    )
    pc = (
        pairs.groupBy("__x__", "__y__")
        .agg(F.count(F.lit(1)).alias("__w__"))
        .localCheckpoint(eager=False)
    )
    un = pc.select(
        F.lit(0).alias("__ax__"), F.col("__x__").alias("__v__"), F.col("__w__")
    ).unionByName(
        pc.select(
            F.lit(1).alias("__ax__"), F.col("__y__").alias("__v__"),
            F.col("__w__"),
        )
    )
    per = un.groupBy("__ax__", "__v__").agg(F.sum("__w__").alias("__n__"))
    mids, key_totals = keyed_midranks(
        per, "__ax__", "__v__", "__n__", out_col="__mid__",
        partitions=partitions,
    )
    # nt (complete-pair count) was already folded on the driver by the
    # midrank pass — each axis's weights sum to it; using the literal
    # saves the broadcast scalar-agg job the crossJoin(tot) plan paid
    nt = float(key_totals.get(0, 0))
    mids = mids.localCheckpoint(eager=False)  # value-sized; read twice
    rx = mids.filter(F.col("__ax__") == 0).select(
        F.col("__v__").alias("__x__"), F.col("__mid__").alias("__rx__")
    )
    ry = mids.filter(F.col("__ax__") == 1).select(
        F.col("__v__").alias("__y__"), F.col("__mid__").alias("__ry__")
    )
    j = pc.join(rx, "__x__").join(ry, "__y__")
    c = F.lit((nt + 1) / 2.0)
    dx, dy = F.col("__rx__") - c, F.col("__ry__") - c
    w = F.col("__w__").cast("double")
    agg = j.agg(
        F.sum(w * dx * dy).alias("__sxy__"),
        F.sum(w * dx * dx).alias("__sxx__"),
        F.sum(w * dy * dy).alias("__syy__"),
    )
    ok = (F.col("__sxx__") > 0) & (F.col("__syy__") > 0)
    return agg.select(
        F.when(
            ok,
            F.col("__sxy__") / F.sqrt(F.col("__sxx__") * F.col("__syy__")),
        ).alias("rho"),
        F.lit(nt).cast("bigint").alias("n"),
    )


def with_global_rolling_quantile(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_col: str,
    window: int,
    q: float,
    min_periods: "int | None" = None,
    partitions: "int | None" = None,
) -> DataFrame:
    """pandas ``rolling(window).quantile(q, interpolation='linear')``
    over the GLOBAL order — the exact linear-interpolated percentile of
    each bounded trailing frame, on the same windowless bucketed padded
    plan as :func:`with_global_rolling` (positions bucketed, the last
    ``window-1`` rows replicated into the next bucket, ONE balanced
    hash exchange). Spark's exact ``percentile`` aggregate interpolates
    linearly between order statistics, which is pandas' default
    ``interpolation='linear'``; nulls are skipped and ``min_periods``
    gates on non-null observations in the frame. Adds
    ``rolling_quantile``."""
    if not 0.0 <= float(q) <= 1.0:
        raise ValueError("q must be in [0, 1]")
    if window < 1:
        raise ValueError("window must be >= 1")
    mp = window if min_periods is None else min_periods
    un, w = _bucketed_frame(sdf, order_by, window, partitions)
    v = F.col(value_col).cast("double")
    cnt = F.count(v).over(w)
    expr = F.percentile(v, F.lit(float(q))).over(w)
    out = un.withColumn(
        "rolling_quantile", F.when(cnt >= F.lit(mp), expr)
    )
    return out.filter(~F.col("__pad__")).drop("__b__", "__pad__", "__g__")
