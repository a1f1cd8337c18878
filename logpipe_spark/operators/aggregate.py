"""Aggregations (A1–A4) — exact hash aggregates, Spark-first.

The reference streams partial aggregates out of an in-memory Map, flushing
all groups every 30 s or at 1000 groups (``src/transformers/aggregateTransformer.js:92-96``).
That partial→merge dance is exactly what Spark's HashAggregateExec does
internally (partial_* → exchange → final, with real spill); our batch engine
deliberately emits **exact finals** equal to merging all reference partials
(SURVEY.md §2.3). The streaming analog (update-mode partials) lives in
:mod:`logpipe_spark.streaming`.

Reference quirks documented and not replicated (SURVEY.md §7.4): 1-record
groups emitted without ``count``; stats string-concat on the first CSV value;
we always emit exact counts and cast values to double.
"""

from __future__ import annotations

from typing import Callable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from logpipe_spark.session import local_frame


def count_by(df: DataFrame, key: str | Column, alias: str = "turn_count") -> DataFrame:
    """A2 Counter (``aggregateTransformer.js:164-176``): exact count per key."""
    key_col = F.col(key) if isinstance(key, str) else key
    key_name = key if isinstance(key, str) else "group_key"
    return df.groupBy(key_col.alias(key_name) if not isinstance(key, str) else key).agg(
        F.count(F.lit(1)).alias(alias)
    )


def count_by_with_passthrough(
    df: DataFrame, key: str, alias: str = "turn_count"
) -> tuple[DataFrame, DataFrame]:
    """Reference semantic A1: null/undefined keys bypass aggregation and pass
    through unmodified (``aggregateTransformer.js:71-73``). Returns
    (aggregated over non-null keys, passthrough rows)."""
    nulls = df.filter(F.col(key).isNull())
    agg = df.filter(F.col(key).isNotNull()).groupBy(key).agg(F.count(F.lit(1)).alias(alias))
    return agg, nulls


def stats_by(
    df: DataFrame,
    key: str | Sequence[str],
    value: Column | str,
    round_dp: int | None = None,
) -> DataFrame:
    """A3 Stats (``aggregateTransformer.js:185-213``): count/sum/min/max/avg.

    Non-numeric values are skipped via ``try_cast`` → NULL (≙ the isNaN
    guard); Spark aggregate functions ignore NULLs, matching the reference's
    skip-don't-crash semantic. Output columns: count, sum, min, max, avg.
    """
    keys = [key] if isinstance(key, str) else list(key)
    v = (F.col(value) if isinstance(value, str) else value).try_cast("double")
    aggs = [
        F.count(v).alias("count"),
        F.sum(v).alias("sum"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
        F.avg(v).alias("avg"),
    ]
    if round_dp is not None:
        aggs = [a if i == 0 else F.round(a, round_dp).alias(n)
                for i, (a, n) in enumerate(zip(aggs, ["count", "sum", "min", "max", "avg"]))]
    return df.groupBy(*keys).agg(*aggs)


def fold_by(
    df: DataFrame,
    key: str,
    fold: Callable[[pd.DataFrame], dict],
    out_schema: str,
) -> DataFrame:
    """A1 generic fold (``aggregateFn(acc, record)``, aggregateTransformer.js:33-36)
    as a grouped-map pandas aggregate: the user fold sees the whole group as a
    pandas DataFrame (Arrow-batched — vectorized, not per-row) and returns one
    dict of aggregate values. Key column(s) are prepended automatically.

    At scale this shuffles once on ``key`` — same exchange a builtin groupBy
    needs; prefer builtin aggregate expressions whenever they can express the
    fold.
    """

    def apply(pdf: pd.DataFrame) -> pd.DataFrame:
        res = fold(pdf)
        row = {key: pdf[key].iloc[0], **res}
        return pd.DataFrame([row])

    return df.groupBy(key).applyInPandas(apply, schema=out_schema)


def time_rollup(
    df: DataFrame,
    ts: str,
    keys: Sequence[str],
    value: str,
    fine: str = "minute",
    coarse: str = "hour",
    round_dp: int = 2,
) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup (round brief's custom-op
    list; TimescaleDB continuous aggregates are the public semantic spec).

    Aggregates at the ``fine`` grain first (count / sum / min / max are all
    MERGEABLE partials), then re-aggregates those partials up to ``coarse``.
    Semantically equal to aggregating the raw rows at ``coarse`` directly —
    the point at 100 TB is that the fine-grain table is the MATERIALIZED
    rollup you keep (one row per key·minute instead of per event), and every
    coarser grain (hour/day/month) derives from it by re-merging partials
    without touching raw data again. avg is intentionally NOT carried as a
    partial — it does not merge; it is recomputed from sum/count at the
    coarse grain.

    Shuffle shape: the fine groupBy is the only full-data exchange; the
    coarse pass shuffles the (tiny) fine rollup. Both are partial+final
    hash aggregates (map-side combine).
    """
    return rollup_merge(
        rollup_partials(df, ts, keys, value, fine), keys, coarse, round_dp
    )


def rollup_partials(
    df: DataFrame, ts: str, keys: Sequence[str], value: str,
    fine: str = "minute",
) -> DataFrame:
    """The fine-grain MERGEABLE partial table behind :func:`time_rollup` —
    what a hypertable materializes per ingest batch. Partials from disjoint
    batches (days, micro-batches, backfills) that share a fine bucket merge
    by re-aggregation (:func:`rollup_merge`), so the rollup is incremental:
    new data only appends/updates its own fine buckets."""
    keys = list(keys)
    t = F.col(ts).cast("timestamp")
    v = F.col(value).try_cast("double")
    return df.groupBy(F.date_trunc(fine, t).alias("_fine_ts"), *keys).agg(
        F.count(v).alias("n_events"),
        F.sum(v).alias("sum_value"),
        F.min(v).alias("min_value"),
        F.max(v).alias("max_value"),
    )


def rollup_merge(
    fine_df: DataFrame, keys: Sequence[str], coarse: str = "hour",
    round_dp: int = 2,
) -> DataFrame:
    """Merge fine-grain partials (possibly from multiple ingest batches)
    up to ``coarse`` finals. count/sum/min/max re-aggregate losslessly;
    avg is derived after the merge."""
    keys = list(keys)
    return (
        fine_df.groupBy(F.date_trunc(coarse, F.col("_fine_ts")).alias("bucket_ts"), *keys)
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.round(F.sum("sum_value"), round_dp).alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
        .withColumn(
            # RAW double quotient of identical operands (rounded sum, exact
            # count) — bit-identical cross-engine; rounding an identical
            # double is the engine-divergence trap (CLAUDE.md round() note)
            "avg_value",
            F.col("sum_value") / F.col("n_events"),
        )
    )


def percentiles_disc(
    df: DataFrame,
    key: str,
    value: str,
    ps: Sequence[float] = (0.5, 0.9, 0.99),
    tiebreak: str | None = None,
) -> DataFrame:
    """Exact DISCRETE percentiles per group — rank-based, engine-portable.

    ``percentile_disc(p)`` = the smallest group element whose cumulative
    rank reaches ``ceil(p * n)``. Because the result is an ACTUAL element
    (no interpolation arithmetic), the value is bit-identical across
    engines — unlike interpolated ``percentile_cont``/``quantile_cont``
    whose float blends can differ in the last ulp. Ties in ``value`` are
    broken by ``tiebreak`` so ranks are total and deterministic.

    Scale note: ranks need a per-group sort (one shuffle + sort — the same
    cost class as any window over the group). For low-cardinality groups of
    ~10^10 rows each, the production alternative is `approx_percentile`
    (t-digest, map-side mergeable); this operator is the exact oracle-able
    form and the correctness reference for that approximation.
    """
    from pyspark.sql import Window

    # NULL values are not elements of the distribution: Spark's asc sort
    # is NULLS FIRST, so unfiltered NULLs would occupy the lowest ranks,
    # shift every percentile, and let a NULL row BE the selected
    # percentile (percentile_disc/median semantics ignore NULLs)
    df = df.where(F.col(value).isNotNull())
    order = [F.col(value).asc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(key).orderBy(*order)
    wn = Window.partitionBy(key)
    ranked = df.select(
        key,
        F.col(value).alias("_v"),
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(wn).alias("_n"),
    )
    aggs = []
    for p in ps:
        tag = f"p{int(round(p * 100))}"
        target = F.ceil(F.lit(p) * F.col("_n")).cast("bigint")
        aggs.append(
            F.max(F.when(F.col("_rn") == target, F.col("_v"))).alias(tag)
        )
    aggs.append(F.max("_n").cast("bigint").alias("n"))
    return ranked.groupBy(key).agg(*aggs)


def rolling_zscore(
    df: DataFrame,
    ts: str,
    keys: Sequence[str],
    window_seconds: int = 3600,
    fine: str = "minute",
    min_points: int = 10,
) -> DataFrame:
    """Rate-anomaly detection: z-score of each fine-grain event count
    against the TRAILING window's mean/stddev (current bucket excluded).

    Cross-engine-deterministic statistics: counts are integers, the
    trailing mean/variance derive from integer sums (sum, sum of squares),
    and IEEE-754 sqrt is correctly rounded — so the z-score doubles are
    bit-identical in Spark and DuckDB and the anomaly table passes the
    exact value-hash gate (statistical ops usually can't).

    Shape: one fine-grain aggregate (the only full-data shuffle), then a
    RANGE-frame window over the tiny rollup. Flat-rate windows (variance
    0) are excluded — z is undefined there.
    """
    from pyspark.sql import Window

    keys = list(keys)
    fine_counts = df.groupBy(
        F.date_trunc(fine, F.col(ts).cast("timestamp")).alias("bucket_ts"), *keys
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    epoch = F.col("bucket_ts").cast("long")
    w = (
        Window.partitionBy(*keys)
        .orderBy(epoch)
        .rangeBetween(-window_seconds, -1)
    )
    stats = fine_counts.select(
        *keys,
        "bucket_ts",
        "n",
        F.count(F.lit(1)).over(w).alias("_k"),
        F.sum("n").over(w).alias("_s"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("_ss"),
    )
    mean = F.col("_s") / F.col("_k")
    var = (F.col("_ss") - F.col("_s") * F.col("_s") / F.col("_k")) / F.col("_k")
    return (
        stats.where((F.col("_k") >= min_points))
        .withColumn("_var", var)
        .where(F.col("_var") > 0)
        .select(
            *keys,
            "bucket_ts",
            "n",
            (F.col("_k")).cast("bigint").alias("n_window"),
            ((F.col("n") - mean) / F.sqrt(F.col("_var"))).alias("zscore"),
        )
    )


def percentiles_approx(
    df: DataFrame,
    key: str,
    value: str,
    ps: Sequence[float] = (0.5, 0.9, 0.99),
    accuracy: int = 10000,
) -> DataFrame:
    """The 100 TB path for :func:`percentiles_disc`: `percentile_approx`
    (Greenwald-Khanna sketch) is map-side mergeable — no per-group sort, no
    rank shuffle; error bounded by 1/accuracy of the rank. Same output
    column names as the exact form so callers can swap them; the exact
    operator is the correctness reference (tests assert closeness)."""
    cols = [
        F.percentile_approx(value, float(p), accuracy).alias(f"p{int(round(p * 100))}")
        for p in ps
    ]
    return df.groupBy(key).agg(*cols, F.count(value).cast("bigint").alias("n"))


def kmv_distinct(df: DataFrame, group_col: str, key_col: str,
                 k: int = 64) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-count sketch with
    CROSS-ENGINE-DETERMINISTIC estimates.

    Engine-private HLL (`approx_count_distinct`) estimates differ between
    engines by construction (flagship_approx dropped it for the md5-register
    HLL in round 4 for exactly this reason).
    KMV closes that gap too: hash keys with md5 (identical in Spark and
    DuckDB), keep the k smallest distinct hashes per group, and estimate

        n ≈ (k - 1) * M / v_k

    where v_k is the k-th smallest hash prefix as an integer and M = 16^8
    is the prefix space — ALL INTEGER ARITHMETIC, so both engines produce
    the identical estimate and the driver's value-hash check passes on an
    approximate aggregate. Groups with fewer than k distinct keys are
    counted exactly (the sketch is lossless below k).

    Scale shape: one distinct shuffle on (group, hash) then a per-group
    bottom-k window — the same cost class as exact distinct. The win over
    exact is NOT this batch form but its mergeability: bottom-k sets union
    across partitions/days into an O(k) state (the streaming/rollup path),
    and the estimate is reproducible anywhere md5 exists.

    Returns (group, n_hashes, estimate): n_hashes = min(k, true distinct).
    """
    from pyspark.sql import Window

    m = 16 ** 8  # value space of an 8-hex-digit prefix
    d = (
        df.select(F.col(group_col).alias("grp"),
                  F.md5(F.col(key_col).cast("string")).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("grp").orderBy("h")
    ranked = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    kth = (
        ranked.filter(F.col("rn") == k)
        .select("grp", F.conv(F.substring("h", 1, 8), 16, 10)
                .cast("bigint").alias("vk"))
    )
    return (
        ranked.groupBy("grp").agg(F.count(F.lit(1)).alias("n_hashes"))
        .join(kth, "grp", "left")
        .select(
            F.col("grp").alias(group_col),
            F.col("n_hashes").cast("bigint").alias("n_hashes"),
            F.when(F.col("vk").isNull(), F.col("n_hashes"))
            .otherwise(F.expr(
                f"({k} - 1) * cast({m} AS bigint) div greatest(vk, 1)"))
            .cast("bigint").alias("estimate"),
        )
    )


def corr_from_sums(
    df: DataFrame,
    key: str,
    x: Column,
    y: Column,
    min_n: int = 2,
) -> DataFrame:
    """Per-group Pearson correlation with CROSS-ENGINE-EXACT values.

    Built-in ``corr()`` uses a streaming one-pass update whose float
    accumulation order differs per engine (and per partitioning!), so its
    output can never pass an exact value-hash gate. This operator instead
    aggregates the five INTEGER sufficient statistics (n, Σx, Σy, Σxy,
    Σx², Σy² — callers must pass integer-valued columns, e.g. cents) whose
    sums are exact in any order, then forms

        r = (n·Σxy − Σx·Σy) / (sqrt(n·Σx² − Σx²ᵗᵒᵗ) · sqrt(n·Σy² − …))

    from identical operands: IEEE sqrt/mul/div are correctly rounded, so
    the doubles are bit-identical in Spark and DuckDB. Plan: ONE map-side
    combinable hash aggregate — same cost as a count. Groups with zero
    variance in either variable are dropped (r undefined).
    """
    xi = x.cast("bigint")
    yi = y.cast("bigint")
    g = df.groupBy(key).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xi).alias("sx"),
        F.sum(yi).alias("sy"),
        F.sum(xi * yi).alias("sxy"),
        F.sum(xi * xi).alias("sxx"),
        F.sum(yi * yi).alias("syy"),
    )
    # cross products in DOUBLE: n·Σxy etc. overflow int64 long before the
    # sums themselves do (n_group·x·y vs x·y headroom — found by the 10M-row
    # scale harness under ANSI mode). The sums stay exact integers; casting
    # them to double BEFORE the products keeps every downstream operand
    # identical in both engines (same rounding, same bits) with no overflow.
    n, sx, sy = (F.col("n").cast("double"), F.col("sx").cast("double"),
                 F.col("sy").cast("double"))
    cov_n = n * F.col("sxy") - sx * sy
    var_x = n * F.col("sxx") - sx * sx
    var_y = n * F.col("syy") - sy * sy
    return (
        g.where((F.col("n") >= min_n) & (var_x > 0) & (var_y > 0))
        .select(
            key,
            "n",
            (cov_n / (F.sqrt(var_x) * F.sqrt(var_y))).alias("pearson_r"),
        )
    )


def mode_by(df: DataFrame, key: str, value: str) -> DataFrame:
    """Deterministic per-key mode (most frequent value).

    Two hash aggregates, both map-side combinable: count per (key, value),
    then max of the (count, value) struct per key — ties break toward the
    LARGER value string, making the answer total-order deterministic
    (built-in ``mode()`` is explicitly nondeterministic on ties in both
    engines, so it can never be oracled). No window, no sort: the second
    aggregate reduces each key's candidate set in the combiner, so the
    shuffle carries one row per (key, value) pair at most.
    """
    counts = df.groupBy(key, value).agg(F.count(F.lit(1)).alias("_n"))
    best = F.max(F.struct(F.col("_n"), F.col(value))).alias("_b")
    return counts.groupBy(key).agg(best).select(
        key,
        F.col(f"_b.{value}").alias(f"mode_{value}"),
        F.col("_b._n").cast("bigint").alias("mode_n"),
    )


def period_over_period(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    grain: str = "week",
) -> DataFrame:
    """Period-over-period reporting: per-key counts at ``grain`` with the
    previous period's count, absolute delta and relative change.

    Returns (keys..., period, n, prev_n, delta, pct_change). pct_change
    is the RAW double quotient of two integer counts (bit-identical
    cross-engine — see the round() divergence note in CLAUDE.md); NULL
    for each key's first period. Periods with zero rows simply don't
    appear — the lag is over OBSERVED periods (gap-filling is a join
    against a generated calendar if needed, deliberately not implied
    here).

    Plan: one map-side-combinable groupBy(keys, period), then a lag
    window per key over the period-cardinality frame (weeks-per-key
    rows, not input rows). date_trunc weeks start Monday in both Spark
    and DuckDB.
    """
    from pyspark.sql import Window

    keys = list(keys)
    g = df.groupBy(
        *keys, F.date_trunc(grain, F.col(ts_col)).alias("period")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.partitionBy(*keys).orderBy("period")
    prev = F.lag("n").over(w)
    return g.select(
        *keys,
        "period",
        "n",
        prev.alias("prev_n"),
        (F.col("n") - prev).alias("delta"),
        ((F.col("n") - prev) / prev).alias("pct_change"),
    )


def weighted_median(df: DataFrame, key: str, value_col: str,
                    weight_col: str) -> DataFrame:
    """Exact weighted (lower) median per group: the smallest value whose
    inclusive cumulative weight reaches half the group's total weight —
    ``min v  s.t.  2 * cumw(v) >= total_w`` (all-integer compare, so the
    chosen value is bit-identical cross-engine; no interpolation).

    Same shape as ``percentiles_disc``: value and weight must be
    integer-valued. ONE hash exchange on the key carries everything —
    the cumulative sum uses a RANGE frame ordered by value (peers
    included, so duplicate values accumulate deterministically
    regardless of intra-tie order) and the total a whole-partition
    frame on the same exchange; the winner is a min-aggregate over the
    qualifying rows, partial+final combinable.
    """
    from pyspark.sql import Window

    v = F.col(value_col).cast("bigint")
    wgt = F.col(weight_col).cast("bigint")
    # NULL-value rows sort first and would inject their weight into every
    # real row's cumulative frame (and the total), distorting the
    # 2·cumw >= total threshold; NULL-weight rows have no mass — both are
    # non-observations
    df = df.where(v.isNotNull() & wgt.isNotNull())
    w_cum = (Window.partitionBy(key).orderBy(F.col("_v"))
             .rangeBetween(Window.unboundedPreceding, 0))
    w_all = Window.partitionBy(key)
    scored = df.select(
        key, v.alias("_v"), wgt.alias("_w")
    ).select(
        key, "_v",
        F.sum("_w").over(w_cum).alias("_cumw"),
        F.sum("_w").over(w_all).alias("_total"),
    )
    return (
        scored.where(F.lit(2) * F.col("_cumw") >= F.col("_total"))
        .groupBy(key)
        .agg(F.min("_v").alias("median_value"),
             F.max("_total").cast("bigint").alias("total_weight"))
    )


def kmv_set_ops(df: DataFrame, set_col: str, key_col: str,
                k: int = 64, max_sets: int | None = None) -> DataFrame:
    """Set algebra on KMV sketches: for every pair of set labels
    ``(set_a < set_b)``, estimate ``|A ∪ B|``, Jaccard and ``|A ∩ B|``
    from bottom-k signatures alone — the reason mergeable sketches beat
    exact distinct at warehouse scale (Beyer et al., SIGMOD'07: the
    bottom-k of a union is computable from the two bottom-k sets, and
    the fraction of union-sketch hashes present in BOTH sets is an
    unbiased Jaccard estimator).

    The only corpus-sized pass is the per-set sketch build (distinct +
    bottom-k window, same as :func:`kmv_distinct`); every pair
    estimate operates on the O(sets × k) sketch frame — re-scanning
    raw data per pair (the exact-intersect cost) never happens.

    Determinism: md5 hashing + integer arithmetic end-to-end; jaccard_k
    is the RAW double of two integers (shared / union_k), and the
    intersection estimate is integer ``shared * est_union div union_k``
    — all bit-identical cross-engine.

    ``max_sets`` (the many-sources guard): the pair frame is quadratic in
    the number of DISTINCT set labels — the semantic itself — so with
    unbounded labels (e.g. per-user sets) the crossJoin explodes. When
    set, only the ``max_sets`` labels with the LARGEST estimated
    cardinality (their own KMV estimate — already computed, no extra
    scan) enter the pair frame, deterministically tie-broken by label;
    the pair count is then ≤ C(max_sets, 2). Same spill-safe cap
    discipline as ``assoc.cooccurrence_lift(max_items=...)``.

    Returns (set_a, set_b, union_k, shared_k, est_union,
    est_intersection, jaccard_k).
    """
    from pyspark.sql import Window

    m = 16 ** 8
    d = (
        df.select(F.col(set_col).alias("s"),
                  F.md5(F.col(key_col).cast("string")).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("s").orderBy("h")
    sk = (d.withColumn("rn", F.row_number().over(w))
          .filter(F.col("rn") <= k).drop("rn").persist())

    labels = sk.select("s").distinct()
    if max_sets is not None:
        # rank sets by their own KMV distinct estimate (bigger sets make
        # more informative pairs); the per-set frame is O(sets) rows
        per_set = sk.groupBy("s").agg(
            F.count(F.lit(1)).alias("_n"),
            # sk holds each set's bottom-k hashes, so max(h) IS the k-th
            F.conv(F.substring(F.max("h"), 1, 8), 16, 10)
            .cast("bigint").alias("_vk"))
        est = per_set.select(
            "s",
            F.when(F.col("_n") < k, F.col("_n"))
            .otherwise(F.expr(
                f"({k} - 1) * cast({m} AS bigint) div greatest(_vk, 1)"))
            .alias("_est"))
        # orderBy+limit → TakeOrderedAndProject: parallel partial top-N
        # per partition, no single-task global window
        labels = (est.orderBy(F.desc("_est"), F.asc("s"))
                  .limit(int(max_sets)).select("s"))
    pairs = (
        labels.alias("pa")
        .crossJoin(labels.select(F.col("s").alias("s2")).alias("pb"))
        .where(F.col("s") < F.col("s2"))
        .select(F.col("s").alias("set_a"), F.col("s2").alias("set_b"))
    )
    # membership of each sketch hash in each pair's two sides — the pair
    # frame explodes to (pair, side) so the sketch join is a plain
    # broadcast equi-join on the set label
    sides = pairs.select(
        "set_a", "set_b",
        F.explode(F.array(F.col("set_a"), F.col("set_b"))).alias("s"))
    mem = (
        sk.join(F.broadcast(sides), "s")
        .groupBy("set_a", "set_b", "h")
        .agg(
            F.max((F.col("s") == F.col("set_a")).cast("int")).alias("in_a"),
            F.max((F.col("s") == F.col("set_b")).cast("int")).alias("in_b"),
        )
    )
    wu = Window.partitionBy("set_a", "set_b").orderBy("h")
    u = mem.withColumn("rn", F.row_number().over(wu)).filter(F.col("rn") <= k)
    kth = (
        u.filter(F.col("rn") == k)
        .select("set_a", "set_b",
                F.conv(F.substring("h", 1, 8), 16, 10)
                .cast("bigint").alias("vk"))
    )
    agg = u.groupBy("set_a", "set_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("union_k"),
        F.sum((F.col("in_a") * F.col("in_b"))).cast("bigint").alias("shared_k"),
    )
    est_union = (
        F.when(F.col("vk").isNull(), F.col("union_k"))
        .otherwise(F.expr(
            f"({k} - 1) * cast({m} AS bigint) div greatest(vk, 1)"))
        .cast("bigint")
    )
    return (
        agg.join(kth, ["set_a", "set_b"], "left")
        .select("set_a", "set_b", "union_k", "shared_k",
                est_union.alias("est_union"))
        .select(
            "set_a", "set_b", "union_k", "shared_k", "est_union",
            F.expr("shared_k * est_union div union_k")
            .cast("bigint").alias("est_intersection"),
            (F.col("shared_k") / F.col("union_k")).alias("jaccard_k"),
        )
    )


def gini_impurity(df: DataFrame, key: str, cat_col: str) -> DataFrame:
    """Gini impurity / Simpson diversity of a categorical distribution per
    group: ``1 - Σ p_i²`` with ``p_i = n_i / N``, emitted as the RAW
    double ``(N² - Σ n_i²) / N²`` — a single IEEE division of two exact
    integers, so a STATISTICAL index passes the exact cross-engine hash
    gate (the usual entropy form needs log() and never would).

    Two map-side-combinable aggregates, no window: count per (group,
    category), then per group sum the squared counts. Shuffle volume is
    one row per distinct (group, category).

    Returns (key, n, n_cats, gini).
    """
    per_cat = df.groupBy(key, cat_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("_ni"))
    return (
        per_cat.groupBy(key)
        .agg(
            F.sum("_ni").cast("bigint").alias("n"),
            F.count(F.lit(1)).cast("bigint").alias("n_cats"),
            F.sum(F.col("_ni") * F.col("_ni")).cast("bigint").alias("_sq"),
        )
        .select(
            key, "n", "n_cats",
            # n·n in DOUBLE: exact-int n² overflows past ~3e9 rows/group;
            # double-first keeps operands identical cross-engine
            ((F.col("n").cast("double") * F.col("n") - F.col("_sq"))
             / (F.col("n").cast("double") * F.col("n"))).alias("gini"),
        )
    )


def median_mad(df: DataFrame, key: str, value_col: str) -> DataFrame:
    """Robust location/scale per group: discrete lower median and MAD
    (median absolute deviation), both ACTUAL integer elements — no
    interpolation, bit-identical cross-engine.

    median = smallest v with 2·rank(v) >= n (rank inclusive of peers);
    MAD = the same statistic over |v - median|. Two window passes on the
    same group key (the deviation pass needs the median first — MAD is
    inherently two-pass); each is one exchange + sort, the same cost
    class as any per-group rank.
    """
    from pyspark.sql import Window

    v = F.col(value_col).cast("bigint")
    # two-pass by nature (MAD needs the median first): persist the
    # projected base so the deviation pass reuses the scan. NULL values
    # are excluded (median/MAD ignore NULLs; unfiltered they occupy the
    # lowest ranks and shift — or NULL out — both statistics)
    base = df.where(v.isNotNull()).select(key, v.alias("_v")).persist()

    def _lower_median(frame: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy(key).orderBy(F.col(col))
        wn = Window.partitionBy(key)
        ranked = frame.select(
            key, F.col(col),
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1)).over(wn).alias("_n"),
        )
        # row_number ranks duplicates arbitrarily but the SELECTED value
        # at rank ceil(n/2) is order-unique: equal values are
        # interchangeable at every rank
        target = F.ceil(F.col("_n") / 2).cast("bigint")
        return (
            ranked.where(F.col("_rn") == target)
            .groupBy(key)
            .agg(F.max(F.col(col)).alias(out),
                 F.max("_n").cast("bigint").alias(f"_n_{out}"))
        )

    med = _lower_median(base, "_v", "median_value")
    dev = (
        base.join(F.broadcast(med.select(key, "median_value")), key)
        .select(key, F.abs(F.col("_v") - F.col("median_value")).alias("_d"))
    )
    mad = _lower_median(dev, "_d", "mad")
    return (
        med.join(mad.select(key, "mad"), key)
        .select(key, F.col("_n_median_value").alias("n"),
                "median_value", "mad")
    )


def chisq_contingency(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Chi-square contingency table between two categorical columns — the
    feature-association scan a curation pipeline runs to ask "does corpus
    source predict language?" (reference has stats per single field only,
    ``src/transformers/aggregateTransformer.js``; the cross-tab is ours).

    Emits one row per OBSERVED cell: observed count, both marginals, the
    grand total, ``expected = n_row·n_col / N`` and the cell's chi-square
    contribution ``(obs − exp)² / exp``. Every double derives from exact
    integer operands through the same IEEE operation order in Spark and
    DuckDB, so the whole table passes the exact cross-engine hash gate
    (the scalar chi² statistic would need a float SUM whose order differs
    per engine — consumers fold the cells themselves, or rank cells by
    contribution directly, which is the usual diagnostic anyway).

    Scale shape: ONE corpus-sized shuffle (the cell groupBy, map-side
    combinable). Marginals re-aggregate the cell frame (distinct-cells
    rows, metadata-sized) and broadcast back onto it — the raw data is
    never touched again and nothing corpus-sized joins.
    """
    cells = (
        df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(col_a, col_b)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    )
    row_tot = cells.groupBy(col_a).agg(
        F.sum("n_obs").cast("bigint").alias("n_row"))
    col_tot = cells.groupBy(col_b).agg(
        F.sum("n_obs").cast("bigint").alias("n_col"))
    grand = cells.agg(F.sum("n_obs").cast("bigint").alias("n_total"))
    # marginal product in DOUBLE (n_row·n_col overflows int64 at 100 TB
    # marginals); double-first matches the oracle's cast order exactly
    expected = (F.col("n_row").cast("double") * F.col("n_col")) / F.col("n_total")
    diff = F.col("n_obs") - F.col("expected")
    return (
        cells.join(F.broadcast(row_tot), col_a)
        .join(F.broadcast(col_tot), col_b)
        .crossJoin(F.broadcast(grand))
        .select(
            col_a, col_b, "n_obs", "n_row", "n_col", "n_total",
            expected.alias("expected"),
        )
        .withColumn("contrib", diff * diff / F.col("expected"))
    )


def sliding_distinct(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    size: str = "1 hour",
    slide: str = "30 minutes",
) -> DataFrame:
    """Exact distinct keys per OVERLAPPING time window (sliding-window
    cardinality: "distinct active users in every trailing hour, sampled
    each half hour"). Built on Spark's native ``F.window(ts, size, slide)``
    — each event fans out narrowly into the size/slide windows containing
    it (a bounded explode, no join), then ONE shuffle keyed on the window
    computes the exact distinct count (Spark plans count(distinct) as the
    usual two-phase partial-dedup aggregate, map-side combinable).

    At 100 TB the fan-out factor is the knob: size/slide = 2 here doubles
    the shuffle rows — still linear, and strictly cheaper than the
    self-join formulations; for large ratios switch the consumer to the
    rollup_partials + KMV-merge path (`kmv_distinct`) instead.

    Returns (window_start, window_end, n_keys, n_events).
    """
    w = F.window(F.col(ts_col).cast("timestamp"), size, slide)
    return (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(w.alias("_w"))
        .agg(
            F.countDistinct(key_col).cast("bigint").alias("n_keys"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .select(
            F.col("_w.start").alias("window_start"),
            F.col("_w.end").alias("window_end"),
            "n_keys", "n_events",
        )
    )


def ols_trend(
    df: DataFrame,
    key: str,
    x: Column,
    y: Column,
    min_n: int = 2,
) -> DataFrame:
    """Per-group least-squares trend line (slope + intercept) with
    CROSS-ENGINE-EXACT values — the "is this metric drifting?" scan.

    Same design as :func:`corr_from_sums`: aggregate INTEGER sufficient
    statistics (exact in any order), then form

        slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        intercept = (Σy − slope·Σx) / n

    from identical operands — single IEEE mul/sub/div chain, bit-identical
    in Spark and DuckDB. Callers must pass integer-valued columns REBASED
    so ``n·max(x)²`` stays below 2⁶³ (e.g. minutes since the corpus epoch,
    cents for values) — the overflow bound of any exact-sums formulation.
    Plan: ONE map-side-combinable hash aggregate, same cost as a count.
    Groups with zero x-variance are dropped (slope undefined).
    """
    xi = x.cast("bigint")
    yi = y.cast("bigint")
    g = df.groupBy(key).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xi).alias("sx"),
        F.sum(yi).alias("sy"),
        F.sum(xi * yi).alias("sxy"),
        F.sum(xi * xi).alias("sxx"),
    )
    # cross products in DOUBLE — same overflow discipline as
    # corr_from_sums: the exact integer sums cast to double before n·Σxy
    # and Σx·Σy, identical operands both engines, no int64 overflow.
    n, sx, sy = (F.col("n").cast("double"), F.col("sx").cast("double"),
                 F.col("sy").cast("double"))
    cov_n = n * F.col("sxy") - sx * sy
    var_x = n * F.col("sxx") - sx * sx
    slope = cov_n / var_x
    return (
        g.where((F.col("n") >= min_n) & (var_x > 0))
        .select(
            key, "n", slope.alias("slope"),
            ((sy - slope * sx) / n).alias("intercept"),
        )
    )


def ewma_smooth(
    df: DataFrame,
    key: str,
    value: Column,
    order_cols: Sequence[str],
    alpha: float = 0.3,
) -> DataFrame:
    """Exponentially-weighted moving average per key — the smoothing fold
    ``ewma ← (1−α)·ewma + α·x`` over the key's ordered values, seeded
    with the first value (standard init). An ORDERED float fold cannot be
    a window sum (the weights never stop), so it runs as an in-group
    ``aggregate()`` higher-order fold over the sorted value array:
    strictly left-to-right, which DuckDB's ``list_reduce`` replays with
    the identical operand order — the emitted double is bit-identical
    cross-engine (same toolkit as conv_digest's ordered md5 chain).

    BOUNDED-STATE discipline: the per-key array lives in one task —
    fine for conversation/session-sized groups (the conv_digest /
    pack_sequences caveat); for unbounded keys pre-segment as in
    sessionize_segmented, or use :func:`fold_by`'s Arrow path.

    Returns (key, n, last_value, ewma).
    """
    a = float(alpha)
    one_m = 1.0 - a
    grouped = (
        df.where(value.isNotNull())
        .groupBy(key)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(
                    *[F.col(c).alias(f"_o{i}") for i, c in
                      enumerate(order_cols)],
                    value.cast("double").alias("_v"),
                ))
            ).alias("_arr"),
        )
        .select(
            key,
            F.expr("transform(_arr, s -> s._v)").alias("_xs"),
        )
    )
    fold = F.expr(
        f"aggregate(slice(_xs, 2, greatest(size(_xs) - 1, 0)), "
        f"element_at(_xs, 1), "
        f"(acc, x) -> acc * {one_m!r}D + x * {a!r}D)"
    )
    return grouped.select(
        key,
        F.size("_xs").cast("bigint").alias("n"),
        F.element_at("_xs", -1).alias("last_value"),
        fold.alias("ewma"),
    )


def _segment_values(df: DataFrame, key: str, epoch: Column, value: Column,
                    order_cols: Sequence[str]) -> DataFrame:
    """(key, epoch, _xs): per-segment sorted value arrays — the shared
    stage-1 of the segmented fold family. Each array is SEGMENT-sized
    (a day/hour of one key), never key-sized: the bounded-state answer
    to the ordered-fold caveat on :func:`ewma_smooth`."""
    return (
        df.where(value.isNotNull())
        .groupBy(key, epoch.cast("bigint").alias("epoch"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(
                    *[F.col(c).alias(f"_o{i}") for i, c in
                      enumerate(order_cols)],
                    value.cast("double").alias("_v"),
                ))
            ).alias("_arr"),
        )
        .select(key, "epoch", F.expr("transform(_arr, s -> s._v)")
                .alias("_xs"))
    )


def ewma_partials(
    df: DataFrame,
    key: str,
    epoch: Column,
    value: Column,
    order_cols: Sequence[str],
    alpha: float = 0.3,
) -> DataFrame:
    """Per (key, epoch-segment) EWMA MONOID partials — the mergeable form
    of :func:`ewma_smooth` for data arriving in time-contiguous segments
    (date-partitioned parquet, daily batches), mirroring
    ``drift.cusum_partials``. The fold ``e ← (1−α)e + αx`` is AFFINE in
    the accumulator, so a segment's whole effect is two doubles:

        a_pow  = (1−α)^n   (left-to-right product fold — kept as the
                            literal op sequence, not pow(), so the merge
                            oracle can replay it bitwise)
        b_zero = fold over the segment seeded with 0.0

    plus ``b_seed`` (the segment folded with ewma_smooth's own first-value
    seeding — what the MIN-epoch segment contributes) and bookkeeping
    (n, last_v). ``epoch`` must be monotone in event order (e.g.
    floor(ts/86400)); segments must not interleave.

    Returns (key, epoch, n, last_v, a_pow, b_zero, b_seed).
    """
    a = float(alpha)
    m = 1.0 - a
    seg = _segment_values(df, key, epoch, value, order_cols)
    # one struct fold computes (a_pow, b_zero) together; the fields are
    # independent, so per-field op order == two separate scalar folds —
    # which is exactly how the DuckDB oracle replays them
    combo = F.expr(
        f"aggregate(_xs, named_struct('a', 1.0D, 'b', 0.0D), "
        f"(acc, x) -> named_struct("
        f"'a', acc.a * {m!r}D, "
        f"'b', acc.b * {m!r}D + x * {a!r}D))"
    )
    seeded = F.expr(
        f"aggregate(slice(_xs, 2, greatest(size(_xs) - 1, 0)), "
        f"element_at(_xs, 1), "
        f"(acc, x) -> acc * {m!r}D + x * {a!r}D)"
    )
    return seg.select(
        key, "epoch",
        F.size("_xs").cast("bigint").alias("n"),
        F.element_at("_xs", -1).alias("last_v"),
        combo.getField("a").alias("a_pow"),
        combo.getField("b").alias("b_zero"),
        seeded.alias("b_seed"),
    )


def ewma_merge(partials: DataFrame, key: str) -> DataFrame:
    """Fold per-segment EWMA states (from :func:`ewma_partials`) in epoch
    order into the per-key readout — same output contract as
    :func:`ewma_smooth` (key, n, last_value, ewma). The fold is a SCALAR
    accumulator over the key's epoch-count-sized state list (days, not
    rows): ``e ← e·a_pow + b_zero``, seeded with the first segment's
    ``b_seed``.

    Exactness: the two-level computation is replayed operand-for-operand
    by the DuckDB oracle (scalar list_reduce per segment + recursive CTE
    over segments), so the driver gate hash-matches EXACTLY. Versus the
    single-task :func:`ewma_smooth` scan the result is algebraically
    identical but rounds differently (the affine composition reorders
    float ops — unavoidable for any non-integer monoid; CUSUM merged
    exactly only because its state is bigint); tests pin exact equality
    for single-segment keys and dyadic-α small-int folds, and ≤1e-12
    relative drift on random data.
    """
    collected = partials.groupBy(key).agg(
        F.sum("n").cast("bigint").alias("n"),
        F.transform(
            F.sort_array(F.collect_list(F.struct(
                "epoch", "a_pow", "b_zero", "b_seed", "last_v"))),
            lambda s: F.struct(
                s["a_pow"].alias("a_pow"), s["b_zero"].alias("b_zero"),
                s["b_seed"].alias("b_seed"), s["last_v"].alias("last_v")),
        ).alias("_st"),
    )
    st = F.col("_st")
    return collected.select(
        key, "n",
        F.element_at(st, -1).getField("last_v").alias("last_value"),
        F.aggregate(
            F.slice(st, F.lit(2), F.greatest(F.size(st) - 1, F.lit(0))),
            F.element_at(st, 1).getField("b_seed"),
            lambda acc, s: acc * s["a_pow"] + s["b_zero"],
        ).alias("ewma"),
    )


def holt_partials(
    df: DataFrame,
    key: str,
    epoch: Column,
    value: Column,
    order_cols: Sequence[str],
    alpha: float = 0.3,
    beta: float = 0.1,
) -> DataFrame:
    """Per (key, epoch-segment) Holt MONOID partials — the mergeable form
    of :func:`holt_smooth`. The level/trend recurrence is LINEAR in the
    (l, b) state, so a segment's effect is a 2×2 matrix (M^n, computed as
    an iterated column fold — the literal op sequence, replayable) plus
    an offset vector (the zero-seeded fold), and segment composition is
    ``state ← A·state + B``. Also carries the first-value-seeded fold
    (what the min-epoch segment contributes). Same epoch-monotonicity
    contract as :func:`ewma_partials`.

    Returns (key, epoch, n, m11, m21, m12, m22, lb, tb, ls, ts).
    """
    a, b = float(alpha), float(beta)
    ma, mb = 1.0 - a, 1.0 - b
    seg = _segment_values(df, key, epoch, value, order_cols)
    # matrix columns apply the x-free step (x's coefficient zeroed); the
    # new-level subexpression appears twice with the SAME operand tree,
    # exactly as holt_smooth's fold does
    c1l = f"({ma!r}D * (acc.m11 + acc.m21))"
    c2l = f"({ma!r}D * (acc.m12 + acc.m22))"
    bl = f"({a!r}D * x + {ma!r}D * (acc.lb + acc.tb))"
    combo = F.expr(
        f"aggregate(_xs, named_struct("
        f"'m11', 1.0D, 'm21', 0.0D, 'm12', 0.0D, 'm22', 1.0D, "
        f"'lb', 0.0D, 'tb', 0.0D), "
        f"(acc, x) -> named_struct("
        f"'m11', {c1l}, "
        f"'m21', {b!r}D * ({c1l} - acc.m11) + {mb!r}D * acc.m21, "
        f"'m12', {c2l}, "
        f"'m22', {b!r}D * ({c2l} - acc.m12) + {mb!r}D * acc.m22, "
        f"'lb', {bl}, "
        f"'tb', {b!r}D * ({bl} - acc.lb) + {mb!r}D * acc.tb))"
    )
    new_l = f"({a!r}D * x + {ma!r}D * (acc.l + acc.b))"
    seeded = F.expr(
        "aggregate(slice(_xs, 2, greatest(size(_xs) - 1, 0)), "
        "named_struct('l', element_at(_xs, 1), 'b', 0.0D), "
        f"(acc, x) -> named_struct("
        f"'l', {new_l}, "
        f"'b', {b!r}D * ({new_l} - acc.l) + {mb!r}D * acc.b))"
    )
    return seg.select(
        key, "epoch",
        F.size("_xs").cast("bigint").alias("n"),
        combo.getField("m11").alias("m11"),
        combo.getField("m21").alias("m21"),
        combo.getField("m12").alias("m12"),
        combo.getField("m22").alias("m22"),
        combo.getField("lb").alias("lb"),
        combo.getField("tb").alias("tb"),
        seeded.getField("l").alias("ls"),
        seeded.getField("b").alias("ts"),
    )


def holt_merge(partials: DataFrame, key: str) -> DataFrame:
    """Fold per-segment Holt states (from :func:`holt_partials`) in epoch
    order — same output contract as :func:`holt_smooth` (key, n, level,
    trend, forecast). Per-key fold over the epoch-count-sized state
    list: ``(l, tr) ← (m11·l + m12·tr + lb, m21·l + m22·tr + tb)``,
    seeded with the first segment's (ls, ts). Spark's struct-lambda
    fields all read the PRE-step accumulator, and the DuckDB oracle is a
    recursive CTE with qualified r.col references (the list_reduce
    struct-mutation hazard, CLAUDE.md batch 11) — both engines replay
    the identical operand tree. Same exactness contract as
    :func:`ewma_merge`.
    """
    collected = partials.groupBy(key).agg(
        F.sum("n").cast("bigint").alias("n"),
        F.transform(
            F.sort_array(F.collect_list(F.struct(
                "epoch", "m11", "m21", "m12", "m22",
                "lb", "tb", "ls", "ts"))),
            lambda s: F.struct(
                s["m11"].alias("m11"), s["m21"].alias("m21"),
                s["m12"].alias("m12"), s["m22"].alias("m22"),
                s["lb"].alias("lb"), s["tb"].alias("tb"),
                s["ls"].alias("ls"), s["ts"].alias("ts")),
        ).alias("_st"),
    )
    st = F.col("_st")
    merged = collected.select(
        key, "n",
        F.aggregate(
            F.slice(st, F.lit(2), F.greatest(F.size(st) - 1, F.lit(0))),
            F.struct(
                F.element_at(st, 1).getField("ls").alias("l"),
                F.element_at(st, 1).getField("ts").alias("b"),
            ),
            lambda acc, s: F.struct(
                (s["m11"] * acc["l"] + s["m12"] * acc["b"] + s["lb"])
                .alias("l"),
                (s["m21"] * acc["l"] + s["m22"] * acc["b"] + s["tb"])
                .alias("b"),
            ),
        ).alias("_f"),
    )
    return merged.select(
        key, "n",
        F.col("_f.l").alias("level"),
        F.col("_f.b").alias("trend"),
        (F.col("_f.l") + F.col("_f.b")).alias("forecast"),
    )


def winsorize(
    df: DataFrame,
    key: str,
    value: str,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    tiebreak: str | None = None,
) -> DataFrame:
    """Per-group winsorization: clip ``value`` to the group's discrete
    [p_lo, p_hi] percentiles — the standard outlier containment applied
    before corpus statistics trust a long-tailed column. Uses
    :func:`percentiles_disc` (actual elements, no interpolation), so on
    integer inputs every emitted number is integer-exact cross-engine.

    Plan: the percentile pass is the usual one-shuffle rank window; the
    bounds frame is group-cardinality-sized and broadcast back onto the
    corpus — the data itself is never re-shuffled for the clip (a narrow
    projection). Returns the input columns plus ``<value>_w`` (clipped)
    and ``clipped`` (flag).
    """
    lo_tag = f"p{int(round(p_lo * 100))}"
    hi_tag = f"p{int(round(p_hi * 100))}"
    bounds = percentiles_disc(df, key, value, ps=(p_lo, p_hi),
                              tiebreak=tiebreak)
    v = F.col(value)
    lo, hi = F.col(lo_tag), F.col(hi_tag)
    # null-safe LEFT join so the transform is genuinely row-preserving:
    # a plain equi-join would silently DROP every NULL-key row (NULL=NULL
    # never matches) — data loss for a clip/flag operator. Spark's
    # least/greatest skip NULL operands, so a row with no bounds passes
    # through unclipped.
    b = F.broadcast(bounds.select(
        F.col(key).alias("_bk"), lo_tag, hi_tag))
    return (
        df.join(b, F.col(key).eqNullSafe(F.col("_bk")), "left")
        .select(
            *df.columns,
            F.least(F.greatest(v, lo), hi).alias(f"{value}_w"),
            F.coalesce((v < lo) | (v > hi), F.lit(False)).alias("clipped"),
        )
    )


def anova_f(
    df: DataFrame,
    group_col: str,
    value,
    min_groups: int = 2,
) -> DataFrame:
    """One-way ANOVA F statistic across the values of ``group_col`` —
    "does the group explain any of the variance?", the k-sample
    generalization of a t-test (Welch's pairwise form lives in
    operators/drift.py:welch_ttest).

    Pass an INTEGER-valued ``value`` column (cents / rebased units). One
    map-side-combinable aggregate produces per-group (n, Σx, Σx²); the
    decomposition needs Σ_g S_g²/n_g — a sum of NON-integer doubles, so
    its float order matters. The group frame is group-cardinality-sized
    (bounded, e.g. event types), so the terms fold LEFT-TO-RIGHT over
    the group-key sort order via aggregate() — the same ordered-fold
    pattern DuckDB's list_reduce replays exactly (see ewma_smooth) —
    making F bit-identical cross-engine. Do NOT point this at an
    unbounded group column; the fold row is one collected array.

    Returns ONE row: (n, k, ss_between, ss_within, f_stat).
    """
    vi = value.cast("bigint")
    g = df.where(vi.isNotNull()).groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum(vi).cast("bigint").alias("_s"),
        F.sum(vi * vi).cast("bigint").alias("_q"),
    )
    # per-group term S_g²/n_g with the cast-before-product discipline
    terms = g.select(
        F.col(group_col).alias("_g"), "_n", "_s", "_q",
        (F.col("_s").cast("double") * F.col("_s") / F.col("_n")).alias("_t"),
    )
    one = terms.agg(
        F.sum("_n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("_s").cast("bigint").alias("_ss"),
        F.sum("_q").cast("bigint").alias("_sq"),
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_g", "_t"))),
                lambda x: x["_t"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_tsum"),
    )
    nd = F.col("n").cast("double")
    ssb = F.col("_tsum") - F.col("_ss").cast("double") * F.col("_ss") / nd
    ssw = F.col("_sq").cast("double") - F.col("_tsum")
    # ss_within = 0 (every group constant) must be filtered BEFORE the F
    # ratio is formed — ANSI mode throws on the divide-by-zero
    kd = F.col("k").cast("double")
    stats = (
        one.where((F.col("k") >= min_groups) & (F.col("n") > F.col("k")))
        .select("n", "k", ssb.alias("ss_between"), ssw.alias("ss_within"))
        .where(F.col("ss_within") > 0)
    )
    return stats.select(
        "n", "k", "ss_between", "ss_within",
        ((F.col("ss_between") / (kd - 1))
         / (F.col("ss_within") / (F.col("n").cast("double") - kd)))
        .alias("f_stat"),
    )


def gini_gain(df: DataFrame, feature: str, target: str) -> DataFrame:
    """Per feature-value Gini impurity of the ``target`` distribution and
    its gain over the unconditional (parent) impurity — the LOG-FREE
    mutual-information analog ("how much does knowing the feature purify
    the target?"), e.g. does `source` predict `lang`. Entropy-based MI
    needs log() and could never pass the exact hash gate; Gini is
    polynomial in counts, so every emitted double is a ratio of exact
    integers (Σ n_xy² stays bigint; the n² denominators follow the
    cast-before-product discipline, same as gini_impurity).

    Plan: one (feature, target) cell count shuffle — map-side combinable
    — then two metadata-sized reductions; the parent row is a broadcast
    cross join. Returns (feature, n, n_targets, gini, parent_gini, gain)
    with one row per feature value; gain > 0 ⇔ conditioning on that
    value purifies the target mix.
    """
    cells = (
        df.where(F.col(feature).isNotNull() & F.col(target).isNotNull())
        .groupBy(feature, target)
        .agg(F.count(F.lit(1)).cast("bigint").alias("_nxy"))
    )
    per_x = cells.groupBy(feature).agg(
        F.sum("_nxy").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_targets"),
        F.sum(F.col("_nxy") * F.col("_nxy")).cast("bigint").alias("_ssq"),
    )
    per_y = cells.groupBy(target).agg(
        F.sum("_nxy").cast("bigint").alias("_ny"))
    parent = per_y.agg(
        F.sum("_ny").cast("bigint").alias("_nt"),
        F.sum(F.col("_ny") * F.col("_ny")).cast("bigint").alias("_ssqp"),
    ).select(
        ((F.col("_nt").cast("double") * F.col("_nt") - F.col("_ssqp"))
         / (F.col("_nt").cast("double") * F.col("_nt")))
        .alias("parent_gini"))
    nd = F.col("n").cast("double")
    child = (nd * F.col("n") - F.col("_ssq")) / (nd * F.col("n"))
    return (
        per_x.crossJoin(F.broadcast(parent))
        .select(
            feature, "n", "n_targets",
            child.alias("gini"),
            "parent_gini",
            (F.col("parent_gini") - child).alias("gain"),
        )
    )


def holt_smooth(
    df: DataFrame,
    key: str,
    value: Column,
    order_cols: Sequence[str],
    alpha: float = 0.3,
    beta: float = 0.1,
) -> DataFrame:
    """Holt double-exponential smoothing per key — EWMA's trend-aware
    sibling: level ``l ← α·x + (1−α)(l+b)`` and trend ``b ← β(l−l_prev)
    + (1−β)b``, seeded l₁ = x₁, b₁ = 0. The readout is the one-step
    forecast ``l + b`` — "where is this metric heading?", which a plain
    EWMA (no trend state) systematically lags on drifting series.

    The fold carries a STRUCT accumulator (level, trend) — the same
    ordered left-to-right ``aggregate()`` as :func:`ewma_smooth`, BUT
    DuckDB's list_reduce CANNOT replay a struct fold: it evaluates the
    lambda's struct fields sequentially against an accumulator mutated
    in place, so a later field reads an earlier field's NEW value
    (verified; see the oracle NOTE in ``__spark_entry__.py`` and the
    CLAUDE.md batch-11 hazard entry). The oracle is therefore a
    recursive CTE whose qualified ``r.col`` references replay this
    fold's exact operand order — the new-level subexpression appears
    twice inside the step, and both engines duplicate the SAME operand
    tree, so the emitted doubles are still bit-identical.

    BOUNDED-STATE discipline as ewma_smooth: one array per key in one
    task — session-sized keys, or pre-segment first.

    Returns (key, n, level, trend, forecast).
    """
    a, b = float(alpha), float(beta)
    ma, mb = 1.0 - a, 1.0 - b
    grouped = (
        df.where(value.isNotNull())
        .groupBy(key)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(
                    *[F.col(c).alias(f"_o{i}") for i, c in
                      enumerate(order_cols)],
                    value.cast("double").alias("_v"),
                ))
            ).alias("_arr"),
        )
        .select(key, F.expr("transform(_arr, s -> s._v)").alias("_xs"))
    )
    new_l = f"({a!r}D * x + {ma!r}D * (acc.l + acc.b))"
    fold = F.expr(
        "aggregate(slice(_xs, 2, greatest(size(_xs) - 1, 0)), "
        "named_struct('l', element_at(_xs, 1), 'b', 0.0D), "
        f"(acc, x) -> named_struct("
        f"'l', {new_l}, "
        f"'b', {b!r}D * ({new_l} - acc.l) + {mb!r}D * acc.b))"
    )
    return grouped.select(
        key,
        F.size("_xs").cast("bigint").alias("n"),
        fold.alias("_st"),
    ).select(
        key, "n",
        F.col("_st.l").alias("level"),
        F.col("_st.b").alias("trend"),
        (F.col("_st.l") + F.col("_st.b")).alias("forecast"),
    )


def seasonal_anomaly(
    df: DataFrame,
    key: str,
    ts: str = "ts",
    slot_seconds: int = 3600,
    period_seconds: int = 86400,
) -> DataFrame:
    """Seasonal-baseline anomaly detection: score each (key, period,
    slot) count against the key's baseline FOR THAT SLOT-OF-PERIOD
    (hour-of-day by default) — "is this Monday-9am spike abnormal for
    Monday 9am?", the diurnal-profile complement of
    :func:`rolling_zscore`'s trailing-window form (which flags diurnal
    peaks as anomalies every single day).

    Plan: ONE corpus-sized map-side-combinable shuffle — the
    (key, slot, period) counts; the per-(key, slot) baseline
    re-aggregates that metadata-sized frame and joins back by
    (key, slot) (small, AQE-broadcastable). Nothing else touches the
    raw rows.

    Cross-engine exactness: baseline integer sums (d periods, s = Σn,
    ss = Σn²) are cast to double BEFORE any product (the CLAUDE.md
    overflow rule — d·ss and s² overflow int64 long before the sums
    do); population variance = (d·ss − s·s) / (d·d) in doubles, std =
    sqrt (correctly rounded in both engines), z = (n − mean)/std —
    every operand tree mirrored in the oracle, so the scores
    hash-match. Slots seen in only one period or with zero variance
    emit a NULL z (no anomaly call on no evidence).

    Exactness bound: the ONLY integer product is the per-cell n·n, so
    Σn² stays in int64 while n_cell·sqrt(n_periods) ≲ 3e9 (e.g. 1e8
    rows per key-slot-day across a year); past that Spark's ANSI sum
    throws LOUDLY — switch the cell counts to decimal(38) then.

    Returns (key, period, slot, n, n_periods, mean, std, z).
    """
    sec = F.col(ts).cast("timestamp").cast("long")
    base = (
        df.where(F.col(key).isNotNull() & F.col(ts).isNotNull())
        .groupBy(
            key,
            F.floor(sec / F.lit(int(period_seconds)))
            .cast("bigint").alias("period"),
            F.floor(F.pmod(sec, F.lit(int(period_seconds)))
                    / F.lit(int(slot_seconds))).cast("bigint").alias("slot"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # the cell frame feeds both the score join and the baseline; persist
    # it (metadata-sized: keys x slots x periods) so the corpus is
    # scanned ONCE — without this the profile side re-reads the input
    base = base.persist()
    prof = base.groupBy(key, "slot").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_periods"),
        F.sum("n").cast("bigint").alias("_s"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("_ss"),
    )
    d = F.col("n_periods").cast("double")
    s = F.col("_s").cast("double")
    ss = F.col("_ss").cast("double")
    scored = (
        base.join(prof, [key, "slot"])
        .withColumn("mean", s / d)
        .withColumn("_var", (d * ss - s * s) / (d * d))
        .withColumn("std", F.sqrt(F.col("_var")))
        .withColumn(
            "z",
            F.when((F.col("n_periods") > 1) & (F.col("std") > 0),
                   (F.col("n").cast("double") - F.col("mean"))
                   / F.col("std")),
        )
    )
    return scored.select(key, "period", "slot", "n", "n_periods",
                         "mean", "std", "z")


def quantile_sketch(df: DataFrame, key: str, value: str, id_col: str,
                    k: int = 128) -> DataFrame:
    """Fixed-size DETERMINISTIC quantile sketch per group: the ``k``
    rows with the lowest md5(id) form a uniform-without-replacement
    sample (the hash is a fixed random permutation of the id space —
    same trick as ``kmv_distinct``, applied to row SELECTION instead of
    counting). Returns (key, h, v) sample rows.

    Mergeability is the point: bottom-k by hash is a monoid (bottom-k
    of a union = bottom-k of the two bottom-k's — :func:`quantile_sketch_merge`),
    so per-partition/per-day/per-epoch sketches fold into the corpus
    sketch without re-scanning raw data, the property t-digest offers
    but with a bit-reproducible result an external engine can replay
    (``approx_percentile``'s digest is engine-private). State per group
    is k rows regardless of group size. Estimation error is the usual
    sampling error (±O(1/sqrt(k)) quantile deviation w.h.p.).

    NULL values are excluded (not elements of the distribution); NULL
    ids would all hash identically, so they are excluded too —
    contract: ``id_col`` is a unique non-null row id.
    """
    from pyspark.sql import Window

    s = df.where(F.col(value).isNotNull() & F.col(id_col).isNotNull()) \
        .select(F.col(key),
                F.md5(F.col(id_col).cast("string")).alias("h"),
                F.col(value).alias("v"))
    w = Window.partitionBy(key).orderBy("h")
    return (s.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k).drop("_rn"))


def quantile_sketch_merge(sketches: DataFrame, key: str,
                          k: int = 128) -> DataFrame:
    """Fold any union of per-segment sketches back to one bottom-k
    sample per key (associative + commutative + idempotent). The
    distinct() IS the idempotency: ids — and so hashes — are unique
    across segments, but a RE-merged copy of the same sketch would
    otherwise occupy bottom-k slots twice and skew every estimate."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy("h")
    return (sketches.select(key, "h", "v").distinct()
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k).drop("_rn"))


def quantile_sketch_estimate(sketch: DataFrame, key: str,
                             ps=(0.5, 0.9, 0.99)) -> DataFrame:
    """Discrete quantiles OF THE SAMPLE (rank-based — an actual sample
    element, bit-identical cross-engine; same selection rule as
    :func:`percentiles_disc` with the hash as tiebreak)."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.col("v").asc(), F.col("h").asc())
    wn = Window.partitionBy(key)
    ranked = sketch.select(
        key, F.col("v"),
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(wn).alias("_n"))
    aggs = []
    for p in ps:
        tag = f"p{int(round(p * 100))}"
        target = F.ceil(F.lit(p) * F.col("_n")).cast("bigint")
        aggs.append(F.max(F.when(F.col("_rn") == target, F.col("v")))
                    .alias(tag))
    aggs.append(F.max("_n").cast("bigint").alias("n_sample"))
    return ranked.groupBy(key).agg(*aggs)


def slo_burn(df: DataFrame, ts: str, status: str,
             error_budget: float = 0.05,
             fast_s: int = 300, slow_s: int = 3600,
             burn_threshold: float = 2.0) -> DataFrame:
    """Multi-window error-budget burn rate (the SRE alerting rule:
    Beyer et al., "Site Reliability Workbook" ch. 5 — alert only when a
    FAST window confirms the burn a SLOW window reports, so a brief
    spike neither pages nor hides a sustained burn).

    Per minute bucket: trailing error-rate over ``fast_s`` and
    ``slow_s`` RANGE frames (integer epoch-second keyed — integer
    counts, so the in-frame sums are exact cross-engine), burn =
    rate / error_budget as raw doubles of exact integers, and
    ``alert = both burns > burn_threshold``. Input is one row per
    request/turn with an HTTP-ish ``status``; errors are status >= 500.

    Scale: one minute-grain pre-aggregate (map-side combinable) then
    DAY-partitioned windows with a previous-``slow_s`` context replay —
    raw rows are touched once and no global single-task sort exists.
    """
    from pyspark.sql import Window

    if slow_s > 86400 or fast_s > slow_s:
        # the context replay copies the previous day's last slow_s of
        # buckets; a span beyond one day would silently truncate frames
        raise ValueError("slo_burn requires fast_s <= slow_s <= 86400")
    bkt = (F.col(ts).cast("timestamp").cast("long") / 60).cast("long") * 60
    per_min = (
        df.select(bkt.alias("bucket_epoch"),
                  (F.col(status) >= 500).cast("int").alias("_e"))
        .groupBy("bucket_epoch")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_e").alias("err"))
    )
    # Day-partitioned windows with a context replay, NOT one global
    # no-partition window (which funnels every bucket through one task —
    # measured 8 s at 2M buckets, bench/round3_scale.py): the trailing
    # frames look back at most slow_s, so each UTC day can be scored
    # independently once it also sees the previous day's last slow_s of
    # buckets. Those context rows are flagged and dropped after the
    # windows — identical values, parallelism ∝ days.
    day = (F.col("bucket_epoch") / 86400).cast("long")
    own = per_min.select("*", day.alias("_day"), F.lit(0).alias("_ctx"))
    ctx = (per_min
           .where(F.col("bucket_epoch") % 86400 >= 86400 - slow_s)
           .select("*", (day + 1).alias("_day"), F.lit(1).alias("_ctx")))
    out = own.unionByName(ctx)
    for tag, span in (("fast", fast_s), ("slow", slow_s)):
        w = (Window.partitionBy("_day").orderBy("bucket_epoch")
             .rangeBetween(-(span - 60), Window.currentRow))
        out = (out.withColumn(f"err_{tag}", F.sum("err").over(w))
               .withColumn(f"n_{tag}", F.sum("n").over(w)))
    out = out.where(F.col("_ctx") == 0)
    burn_fast = (F.col("err_fast") / F.col("n_fast")) / F.lit(error_budget)
    burn_slow = (F.col("err_slow") / F.col("n_slow")) / F.lit(error_budget)
    return out.select(
        "bucket_epoch",
        F.col("n").cast("bigint").alias("n"),
        F.col("err").cast("bigint").alias("err"),
        F.col("err_fast").cast("bigint").alias("err_fast"),
        F.col("n_fast").cast("bigint").alias("n_fast"),
        F.col("err_slow").cast("bigint").alias("err_slow"),
        F.col("n_slow").cast("bigint").alias("n_slow"),
        burn_fast.alias("burn_fast"),
        burn_slow.alias("burn_slow"),
        ((burn_fast > burn_threshold) & (burn_slow > burn_threshold))
        .cast("int").alias("alert"),
    )


def dispersion_index(df: DataFrame, key: str, ts_col: str,
                     bucket: str = "hour") -> DataFrame:
    """Burstiness per key: the Fano factor (index of dispersion) of
    per-window event counts — variance/mean of counts over
    ``date_trunc(bucket, ts)`` windows. 1 ≈ Poisson arrivals; ≫ 1 means
    bursts (one incident floods a window), ≪ 1 means pacing — the
    statistic SRE capacity models key on (arrival-process dispersion).

    Two hash aggregates (key×window counts, then per-key sufficient
    stats n, Σc, Σc²) — both partial-aggregate map-side, so the second
    shuffle is key-cardinality-sized. Only windows with ≥1 event exist
    (empty windows contribute nothing in either engine, so the measure
    is "dispersion over ACTIVE windows" — documented, deterministic).
    fano = (n·Σc² − (Σc)²) / (n·Σc): the exact integer sums cast to
    double BEFORE the cross products (n·Σc² overflows int64 long before
    the sums do — the round-2 overflow discipline), same order as the
    oracle SQL so the raw doubles are bit-identical.
    """
    per_win = (
        df.groupBy(F.col(key),
                   F.date_trunc(bucket, F.col(ts_col)).alias("_win"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    s = per_win.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("_c").alias("_s1"),
        F.sum(F.col("_c") * F.col("_c")).alias("_s2"),
    )
    n = F.col("n_windows").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    return s.select(
        key, "n_windows",
        F.col("_s1").alias("n_events"),
        ((n * s2 - s1 * s1) / (n * s1)).alias("fano"),
    )


def theil_sen(
    df: DataFrame,
    key: str,
    x: Column,
    y: Column,
    min_n: int = 2,
) -> DataFrame:
    """Per-group Theil–Sen robust trend: the MEDIAN of all pairwise
    slopes (y_j − y_i)/(x_j − x_i), x_i < x_j — the outlier-resistant
    companion to :func:`ols_trend` (one wild day skews least squares;
    the median slope shrugs it off; breakdown point 29%).

    Callers MUST pre-aggregate to one row per (key, x) at a coarse grain
    (e.g. daily sums): the estimator is inherently O(p²) pairs per
    series, so the series length has to be calendar-bounded (31 daily
    points → 465 pairs — trivially; 10^6 raw events → never). The
    equi-join on ``key`` with x_i < x_j builds exactly those pairs —
    shuffled on the key, no cartesian.

    Exactness: x and y are cast to bigint; each slope is ONE double
    division of identical integer operands (bit-identical cross-engine);
    the median is DISCRETE (rank ceil(n/2) over slope with (x_i, x_j)
    tiebreak — an actual element, no interpolated mean, so the value
    hash-matches). Returns (key, n_points, n_pairs, slope).
    """
    from pyspark.sql import Window

    xi = x.cast("bigint")
    yi = y.cast("bigint")
    pts = df.select(F.col(key).alias("_k"), xi.alias("_x"), yi.alias("_y"))
    # one row per (key, x): duplicate x would make a slope undefined
    # (zero dx) — fail loudly rather than silently divide by zero
    a = pts.select(F.col("_k"), F.col("_x").alias("_x1"),
                   F.col("_y").alias("_y1"))
    b = pts.select(F.col("_k").alias("_k2"), F.col("_x").alias("_x2"),
                   F.col("_y").alias("_y2"))
    pairs = a.join(
        b, (F.col("_k").eqNullSafe(F.col("_k2")))
        & (F.col("_x1") < F.col("_x2"))).select(
        "_k", "_x1", "_x2",
        ((F.col("_y2") - F.col("_y1")).cast("double")
         / (F.col("_x2") - F.col("_x1")).cast("double")).alias("_s"),
    )
    w = Window.partitionBy("_k").orderBy("_s", "_x1", "_x2")
    wn = Window.partitionBy("_k")
    ranked = pairs.select(
        "_k", "_s",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(wn).alias("_np"),
    )
    med = ranked.where(
        F.col("_rn") == F.ceil(F.col("_np") / 2).cast("bigint"))
    npts = pts.groupBy("_k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"))
    # NULL-SAFE: a NULL group key is a real series here (the window
    # partitions just ranked it) — plain equi-join would drop it
    npts = npts.select(F.col("_k").alias("_nk"), "n_points")
    return (
        med.join(npts, F.col("_k").eqNullSafe(F.col("_nk")))
        .where(F.col("n_points") >= min_n)
        .select(
            F.col("_k").alias(key),
            "n_points",
            F.col("_np").cast("bigint").alias("n_pairs"),
            F.col("_s").alias("slope"),
        )
    )


def trimmed_stats(
    df: DataFrame,
    key: str,
    value: str,
    tiebreak: str,
    lo_num: int = 1, lo_den: int = 10,
    hi_num: int = 9, hi_den: int = 10,
) -> DataFrame:
    """Per-group TRIMMED mean/min/max: drop each tail by RANK (keep ranks
    in [ceil(lo·n), ceil(hi·n)]) and aggregate the integer-valued middle
    — the robust companion to stats_by when wild tails poison the mean
    (winsorize CLIPS the tails; this drops them, the usual "trimmed
    mean" of robust statistics).

    Rank-based and integer-exact: the cut ranks are integer ceils
    (positive-operand (a·num + den - 1) div den), the kept values sum as
    bigints, and the mean is ONE double division — all bit-identical
    cross-engine. Ties are totally ordered by ``tiebreak``, so the kept
    SET is deterministic even when equal values straddle a cut.

    One shuffle (the per-key rank sort — same cost class as any
    percentile); the aggregate reuses its partitioning.
    """
    from pyspark.sql import Window

    vi = F.col(value).cast("bigint")
    base = df.where(vi.isNotNull()).select(
        F.col(key).alias("_k"), vi.alias("_v"),
        F.col(tiebreak).alias("_tb"))
    w = Window.partitionBy("_k").orderBy("_v", "_tb")
    wn = Window.partitionBy("_k")
    ranked = base.select(
        "_k", "_v",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(wn).alias("_n"),
    )
    lo = F.expr(f"(_n * {lo_num} + {lo_den} - 1) div {lo_den}")
    hi = F.expr(f"(_n * {hi_num} + {hi_den} - 1) div {hi_den}")
    kept = ranked.where((F.col("_rn") >= lo) & (F.col("_rn") <= hi))
    return kept.groupBy("_k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.max("_n").cast("bigint").alias("n_total"),
        F.min("_v").cast("bigint").alias("t_min"),
        F.max("_v").cast("bigint").alias("t_max"),
        (F.sum("_v").cast("double") / F.count(F.lit(1)))
        .alias("trimmed_mean"),
    ).select(F.col("_k").alias(key), "n_kept", "n_total",
             "t_min", "t_max", "trimmed_mean")


def rate_counts(df: DataFrame, ts_col: str = "ts",
                bucket_seconds: int = 60) -> DataFrame:
    """Per-time-bucket arrival counts (m, c): the canonical mergeable
    monoid (SUM of partial counts == count of the union), shared by the
    batch ``autocorr`` query and the streaming epoch-partial twin.

    Bucket id = floor(epoch_seconds / bucket) on the truncated-seconds
    long (TIMESTAMP_NTZ cast first — session tz UTC), matching the
    DuckDB oracle's epoch_us // 1e6 floor on positive epochs.
    """
    es = F.col(ts_col).cast("timestamp").cast("long")
    return (
        df.select(F.floor(es / F.lit(float(bucket_seconds)))
                  .cast("bigint").alias("m"))
        .groupBy("m")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def autocorr_from_counts(counts: DataFrame,
                         lags: Sequence[int] = (1, 2, 3)) -> DataFrame:
    """Sample autocorrelation of a (m, c) bucket-count series at the
    given lags, over PAIRWISE-PRESENT buckets only (absent buckets are
    not zero-filled — a dense spine would be a single-task explode at
    corpus scale). Each lag is a narrow self-join on the shifted bucket
    id; sufficient stats are exact bigints cast to double BEFORE every
    cross product (overflow discipline), so the ratio is bit-identical
    to the oracle's. Zero-variance series yield NULL (ANSI: double
    division by zero THROWS, it does not give inf).
    """
    spark = counts.sparkSession
    lagdf = local_frame(spark, [(int(lg),) for lg in lags], "lag int")
    left = counts.crossJoin(F.broadcast(lagdf))
    right = counts.select(F.col("m").alias("m2"), F.col("c").alias("c2"))
    paired = left.join(right, F.col("m") + F.col("lag") == F.col("m2"))
    s = paired.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("c").cast("bigint").alias("sx"),
        F.sum("c2").cast("bigint").alias("sy"),
        F.sum(F.col("c") * F.col("c2")).cast("bigint").alias("sxy"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sxx"),
        F.sum(F.col("c2") * F.col("c2")).cast("bigint").alias("syy"),
    )
    nd = F.col("n_pairs").cast("double")
    num = nd * F.col("sxy").cast("double") - (
        F.col("sx").cast("double") * F.col("sy").cast("double"))
    dx = nd * F.col("sxx").cast("double") - (
        F.col("sx").cast("double") * F.col("sx").cast("double"))
    dy = nd * F.col("syy").cast("double") - (
        F.col("sy").cast("double") * F.col("sy").cast("double"))
    return s.select(
        "lag", "n_pairs",
        F.when((dx > 0) & (dy > 0), num / F.sqrt(dx * dy))
         .alias("autocorr_r"))


def cohens_kappa(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
) -> DataFrame:
    """Cohen's kappa: chance-corrected agreement between two categorical
    labelings of the same rows — "do the heuristic classifier and the
    upstream label actually AGREE beyond what their marginal mixes would
    produce by luck?" (Cohen 1960). Raw accuracy is misleading when one
    category dominates; kappa subtracts the expected-by-chance agreement
    ``pe = Σ_c p_a(c)·p_b(c)``.

    NULL is a real category on both sides (a rater abstaining IS a
    label): the diagonal and the marginal join use null-safe equality,
    mirroring DuckDB ``IS NOT DISTINCT FROM``. Every emitted double is a
    ratio of exact integers: the agreement count and both marginals are
    bigints, and the cross term Σ_c row_c·col_c accumulates in
    DECIMAL(38,0) with the cast-before-product discipline (marginal
    products overflow int64 long before the counts do — corpus²-scale).

    Plan: ONE map-side-combinable (a, b) cell shuffle; everything after
    runs on the category²-sized cell frame (bounded — do not point this
    at an unbounded label space). Returns ONE row
    ``(n, n_agree, po, pe, kappa)``; kappa NULL when pe = 1 (both
    raters constant — chance explains everything, the statistic
    degenerates).
    """
    cells = (df.groupBy(F.col(rater_a).alias("_a"),
                        F.col(rater_b).alias("_b"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("_n")))
    rows_t = cells.groupBy("_a").agg(
        F.sum("_n").cast("bigint").alias("_ra"))
    cols_t = cells.groupBy("_b").agg(
        F.sum("_n").cast("bigint").alias("_cb"))
    d = "decimal(38,0)"
    cross = (rows_t.join(cols_t, F.col("_a").eqNullSafe(F.col("_b")))
             .agg(F.sum(F.col("_ra").cast(d) * F.col("_cb").cast(d))
                  .cast(d).alias("_x")))
    tot = cells.agg(
        F.sum("_n").cast("bigint").alias("n"),
        F.sum(F.when(F.col("_a").eqNullSafe(F.col("_b")), F.col("_n"))
              .otherwise(F.lit(0))).cast("bigint").alias("n_agree"))
    j = tot.crossJoin(F.broadcast(cross))
    nd = F.col("n").cast("double")
    po = F.col("n_agree").cast("double") / nd
    # no shared category between the raters -> empty join -> NULL sum;
    # chance agreement is genuinely zero then, not unknown
    pe = F.coalesce(F.col("_x").cast("double"), F.lit(0.0)) / (nd * nd)
    staged = j.select("n", "n_agree", po.alias("po"), pe.alias("pe"))
    return staged.select(
        "n", "n_agree", "po", "pe",
        F.when(F.col("pe") < 1.0,
               (F.col("po") - F.col("pe")) / (F.lit(1.0) - F.col("pe")))
        .alias("kappa"))


def rolling_corr(
    daily: DataFrame,
    key: str,
    ord_col: str,
    x: str,
    y: str,
    window: int = 6,
    min_points: int = 3,
) -> DataFrame:
    """Trailing-window Pearson correlation between two INTEGER series
    over a pre-aggregated one-row-per-(key, ord) frame — "are volume
    and spend still moving together this week, per cohort?", the
    windowed companion to the group-level ``corr_stats``.

    ``ord_col`` must be an integer position (epoch days / hours); the
    frame is an inclusive RANGE ``[ord-window, ord]``, so gaps in the
    series shrink ``n`` rather than silently stretching the window —
    rows, not time, never decide the frame. All five sufficient sums
    accumulate inside the PARTITIONED window as exact integers (the
    cross products x·y, x², y² in DECIMAL(38,0) — per-day products of
    corpus-scale daily aggregates overflow int64, the usual
    discipline); r composes in doubles cast from those sums in the
    same order as the DuckDB oracle. Flat windows (either variance 0)
    emit NULL r rather than ±inf — ANSI division guard.

    Returns ``(key, ord_col, n_window, r)`` for frames with at least
    ``min_points`` present rows.
    """
    from pyspark.sql import Window

    d = "decimal(38,0)"
    w = (Window.partitionBy(key).orderBy(F.col(ord_col))
         .rangeBetween(-int(window), 0))
    xs, ys = F.col(x).cast("bigint"), F.col(y).cast("bigint")
    s = daily.select(
        key, ord_col,
        F.count(F.lit(1)).over(w).cast("bigint").alias("_n"),
        F.sum(xs).over(w).cast("bigint").alias("_sx"),
        F.sum(ys).over(w).cast("bigint").alias("_sy"),
        F.sum(xs.cast(d) * xs.cast(d)).over(w).cast(d).alias("_sxx"),
        F.sum(ys.cast(d) * ys.cast(d)).over(w).cast(d).alias("_syy"),
        F.sum(xs.cast(d) * ys.cast(d)).over(w).cast(d).alias("_sxy"))
    nd = F.col("_n").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    varx = nd * sxx - sx * sx
    vary = nd * syy - sy * sy
    return (s.where(F.col("_n") >= min_points)
            .select(key, ord_col,
                    F.col("_n").alias("n_window"),
                    F.when((varx > 0) & (vary > 0),
                           (nd * sxy - sx * sy)
                           / F.sqrt(varx * vary)).alias("r")))


def kaplan_meier(
    counts: DataFrame,
    t_col: str = "day_off",
    events_col: str = "n_events",
    censored_col: str = "n_censored",
) -> DataFrame:
    """Kaplan–Meier survivor function from a per-time counts frame
    ``(t, deaths, censored)`` — the cumulative-product completion of
    the discrete hazard (``q_hazard_curve`` computes h_t = d_t/n_t and
    leaves the product to the consumer; this IS that consumer):

        S(t) = Π_{s ≤ t} (1 − d_s / n_s),   n_s = at-risk before s.

    The input frame is TIME-cardinality (day offsets within the corpus
    horizon — bounded by calendar, not corpus), so it collects into ONE
    sorted array. At-risk counts come from exact integer prefix folds;
    each survivor value is a PREFIX-SLICE fold of the per-t factors
    with a SCALAR double accumulator seeded at 1.0, ascending t —
    exactly DuckDB's ``list_reduce`` over ``list_slice``, sidestepping
    the list_reduce struct-mutation hazard (CLAUDE.md batch 11) that a
    (rem, s) pair accumulator would invite. O(T²) multiplies on a
    calendar-sized T is noise; do NOT point this at an unbounded grid.

    Returns ``(t_col, n_risk, events_col, censored_col, survival)``.
    """
    one = counts.agg(F.sort_array(F.collect_list(F.struct(
        F.col(t_col).cast("bigint").alias("t"),
        F.col(events_col).cast("bigint").alias("d"),
        F.col(censored_col).cast("bigint").alias("c")))).alias("_arr"))
    tot = F.aggregate(
        F.col("_arr"), F.lit(0).cast("bigint"),
        lambda acc, x: acc + x["d"] + x["c"])
    # per-element at-risk: total minus the exclusive integer prefix
    withn = one.select(F.transform(
        F.col("_arr"),
        lambda x, i: F.struct(
            x["t"].alias("t"),
            (tot - F.aggregate(
                F.slice(F.col("_arr"), F.lit(1), i),
                F.lit(0).cast("bigint"),
                lambda acc, y: acc + y["d"] + y["c"])).alias("n"),
            x["d"].alias("d"), x["c"].alias("c"))).alias("_arr2"))
    terms = withn.select(
        F.col("_arr2"),
        F.transform(
            F.col("_arr2"),
            lambda x: F.lit(1.0) - x["d"].cast("double")
            / x["n"].cast("double")).alias("_terms"))
    ex = terms.select(
        "_terms", F.posexplode("_arr2").alias("_i", "_x"))
    surv = F.aggregate(
        F.slice(F.col("_terms"), F.lit(1), F.col("_i") + 1),
        F.lit(1.0), lambda acc, x: acc * x)
    return ex.select(
        F.col("_x")["t"].alias(t_col),
        F.col("_x")["n"].alias("n_risk"),
        F.col("_x")["d"].alias(events_col),
        F.col("_x")["c"].alias(censored_col),
        surv.alias("survival"))


# Poisson(1) CDF breakpoints scaled to the 32-bit hash space:
# P(X <= k) * 2^32 for k = 0..5 (weights beyond 6 are ~1e-7 and capped).
# INTEGER literals so the weight assignment is an integer comparison in
# both engines — no float-literal parsing in the hot path. The oracle
# imports THIS tuple, so the two sides cannot drift.
POISSON1_CDF32 = (1580030168, 3160060337, 3950075421,
                  4213413783, 4279248373, 4292415291)


def bootstrap_ci(
    df: DataFrame,
    key: str,
    value: Column,
    id_col: str,
    n_resamples: int = 40,
    lo_permille: int = 25,
    hi_permille: int = 975,
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the per-group mean —
    THE scalable bootstrap (Chamandy et al., "Estimating Uncertainty
    for Massive Data Streams", Google 2012): instead of resampling n
    rows with replacement (which needs global coordination), every row
    draws an independent Poisson(1) replication weight per resample, a
    pure map-side projection. Deterministic here: the weight comes
    from md5(row id, resample index) against integer-scaled Poisson
    CDF breakpoints (:data:`POISSON1_CDF32`), so both engines draw
    bit-identical resamples — a reproducible bootstrap, which a seeded
    RNG can never give cross-engine.

    Plan: explode ``sequence(1, B)`` (projection-only fan-out in the
    scan task — no extra input I/O), ONE map-side-combinable
    (key, b) shuffle of integer (Σw, Σw·x), then everything runs on
    the B×key-cardinality frame. CI bounds are DISCRETE percentiles of
    the B resample means — rank selection via ceil((p·m)/1000) with
    the positive-operand (a+b−1) div b identity, picking an existing
    double, never interpolating. Pass an INTEGER ``value`` (cents).

    Returns ``(key, n, mean, n_resamples, ci_lo, ci_hi)``.
    """
    vi = value.cast("bigint")
    base = (df.where(vi.isNotNull() & F.col(key).isNotNull())
            .select(F.col(key).alias("_k"),
                    F.col(id_col).cast("string").alias("_id"),
                    vi.alias("_x")))
    rs = base.select(
        "_k", "_id", "_x",
        F.explode(F.sequence(F.lit(1), F.lit(int(n_resamples))))
        .alias("_b"))
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("_id"), F.lit("#"),
                           F.col("_b").cast("string"))), 1, 8),
        16, 10).cast("bigint")
    w: Column = F.lit(6)
    for k_, t in reversed(list(enumerate(POISSON1_CDF32))):
        w = F.when(h < F.lit(t), F.lit(k_)).otherwise(w)
    per = (rs.select("_k", "_b", "_x", w.alias("_w"))
           .groupBy("_k", "_b")
           .agg(F.sum("_w").cast("bigint").alias("_sw"),
                F.sum(F.col("_w") * F.col("_x")).cast("bigint")
                .alias("_swx")))
    means = (per.where(F.col("_sw") > 0)
             .select("_k", (F.col("_swx").cast("double")
                            / F.col("_sw").cast("double")).alias("_mb")))
    ag = means.groupBy("_k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_resamples"),
        F.sort_array(F.collect_list("_mb")).alias("_arr"))
    full = base.groupBy("_k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum("_x").cast("double") / F.count(F.lit(1)).cast("double"))
        .alias("mean"))
    lo_pos = F.expr(f"(({lo_permille} * n_resamples) + 999) div 1000")
    hi_pos = F.expr(f"(({hi_permille} * n_resamples) + 999) div 1000")
    return (full.join(ag, "_k")
            .select(F.col("_k").alias(key), "n", "mean", "n_resamples",
                    F.element_at("_arr", lo_pos.cast("int")).alias("ci_lo"),
                    F.element_at("_arr", hi_pos.cast("int")).alias("ci_hi")))


def holt_winters(
    df: DataFrame,
    key: str,
    value: Column,
    order_cols: Sequence[str],
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    period: int = 7,
) -> DataFrame:
    """Additive Holt–Winters triple-exponential smoothing per key — the
    seasonal completion of the family (:func:`ewma_smooth` level,
    :func:`holt_smooth` level+trend): a ``period``-slot seasonal state
    rides along so the one-step forecast stops lagging weekly cycles.

        l ← α(x − s_prev) + (1−α)(l + b)
        b ← β(l − l_prev) + (1−β)b
        s[slot] ← γ(x − l) + (1−γ)s_prev

    seeded l₁ = x₁, b₁ = 0, s = 0⃗ (the deterministic cold-start
    contract: no first-season averaging pass). The fold carries a
    STRUCT (l, b, s double[period], i) accumulator, strictly
    left-to-right; DuckDB list_reduce cannot replay struct folds (the
    field-mutation hazard, see :func:`holt_smooth`), so the oracle is
    a recursive CTE with qualified ``r.col`` references in which the
    new-level subexpression is textually DUPLICATED into the trend and
    seasonal steps — both engines evaluate the same operand tree, so
    the doubles stay bit-identical. Bounded-state discipline as the
    siblings: one value array per key in one task — session-sized keys
    or pre-segment first.

    Returns ``(key, n, level, trend, forecast)`` where forecast adds
    the NEXT step's seasonal slot: ``l + b + s[(n mod period) + 1]``.
    """
    a, b, g = float(alpha), float(beta), float(gamma)
    ma, mb, mg = 1.0 - a, 1.0 - b, 1.0 - g
    p = int(period)
    grouped = (
        df.where(value.isNotNull())
        .groupBy(key)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(
                    *[F.col(c).alias(f"_o{i}") for i, c in
                      enumerate(order_cols)],
                    value.cast("double").alias("_v"),
                ))
            ).alias("_arr"),
        )
        .select(key, F.expr("transform(_arr, s -> s._v)").alias("_xs"))
    )
    slot = f"CAST(pmod(acc.i, {p}) + 1 AS INT)"
    sprev = f"element_at(acc.s, {slot})"
    new_l = f"({a!r}D * (x - {sprev}) + {ma!r}D * (acc.l + acc.b))"
    fold = F.expr(
        "aggregate(slice(_xs, 2, greatest(size(_xs) - 1, 0)), "
        "named_struct('l', element_at(_xs, 1), 'b', 0.0D, "
        f"'s', array_repeat(0.0D, {p}), 'i', CAST(1 AS BIGINT)), "
        f"(acc, x) -> named_struct("
        f"'l', {new_l}, "
        f"'b', {b!r}D * ({new_l} - acc.l) + {mb!r}D * acc.b, "
        f"'s', transform(sequence(1, {p}), "
        f"j -> IF(j = {slot}, {g!r}D * (x - {new_l}) + {mg!r}D * {sprev}, "
        f"element_at(acc.s, j))), "
        f"'i', acc.i + CAST(1 AS BIGINT)))"
    )
    st = grouped.select(
        key,
        F.size("_xs").cast("bigint").alias("n"),
        fold.alias("_st"),
    )
    nxt = F.expr(f"element_at(_st.s, CAST(pmod(n, {p}) + 1 AS INT))")
    return st.select(
        key, "n",
        F.col("_st.l").alias("level"),
        F.col("_st.b").alias("trend"),
        (F.col("_st.l") + F.col("_st.b") + nxt).alias("forecast"),
    )


def l_moments(df: DataFrame, key: str, value: Column) -> DataFrame:
    """Sample L-moments per key (Hosking 1990): L-location, L-scale,
    the third L-moment, and the ratios L-CV = l2/l1 and
    L-skewness = l3/l2 — the order-statistics alternative to classical
    moments: every L-moment is a LINEAR function of the sorted sample,
    so it exists whenever the mean does and never squares an outlier
    (variance/skewness explode on heavy-tailed latency data; L-scale
    does not).

    Distributed form: rank-weighted sums never sort the corpus — a
    distinct value occupying sorted ranks [a, b] (from one cumulative
    window over the per-(key, distinct value) count frame) contributes
    closed-form rank-polynomial sums:

        sum_{r=a}^{b} (r-1)        = [(b-1)b - (a-2)(a-1)] / 2
        sum_{r=a}^{b} (r-1)(r-2)   = [b(b-1)(b-2) - (a-1)(a-2)(a-3)] / 3

    Doubled/tripled integer numerators accumulate as DECIMAL(38,0)
    (the cliffs_delta overflow discipline — rank products reach n^3);
    the L-moments are then a fixed tree of exact-operand double ops:
    l1 = S/n, l2 = U1x2/(n(n-1)) - l1,
    l3 = 2*U2x3/(n(n-1)(n-2)) - 3*U1x2/(n(n-1)) + l1.

    Returns ``(key, n, l1, l2, l3, l_cv, l_skew)``; l2/l3 need
    n >= 2 / n >= 3, ratios guard their zero denominators (NULL
    otherwise — ANSI doubles THROW on /0, they do not give inf).
    """
    vi = value.cast("bigint")
    pv = (df.where(vi.isNotNull() & F.col(key).isNotNull())
          .groupBy(F.col(key).alias("_k"), vi.alias("_v"))
          .agg(F.count(F.lit(1)).cast("bigint").alias("_c")))
    return l_moments_from_counts(pv, key)


def l_moments_from_counts(pv: DataFrame, key: str) -> DataFrame:
    """:func:`l_moments` from a pre-aggregated ``(_k, _v, _c)`` count
    frame — the support-sized entry point compositions use (e.g.
    :func:`gpd_tail_fit` feeds the SHIFTED exceedance counts here
    without re-touching the corpus)."""
    d = "decimal(38,0)"
    w = (Window.partitionBy("_k").orderBy("_v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = pv.select(
        "_k", "_v", "_c",
        F.sum("_c").over(w).cast("bigint").alias("_b"))
    a = (F.col("_b") - F.col("_c") + 1).cast(d)
    b = F.col("_b").cast(d)
    p1 = ((b - 1) * b - (a - 2) * (a - 1))
    p2 = (b * (b - 1) * (b - 2) - (a - 1) * (a - 2) * (a - 3))
    s = c.groupBy("_k").agg(
        F.sum("_c").cast("bigint").alias("n"),
        F.sum(F.col("_v").cast(d) * F.col("_c").cast(d)).cast(d)
        .alias("_s0"),
        F.sum(F.col("_v").cast(d) * p1).cast(d).alias("_u1x2"),
        F.sum(F.col("_v").cast(d) * p2).cast(d).alias("_u2x3"))
    nd = F.col("n").cast("double")
    lvl1 = s.select(
        F.col("_k").alias(key), "n",
        (F.col("_s0").cast("double") / nd).alias("l1"),
        F.when(F.col("n") >= 2,
               F.col("_u1x2").cast("double") / (nd * (nd - F.lit(1.0))))
        .alias("_b1x2n"),
        F.when(F.col("n") >= 3,
               F.col("_u2x3").cast("double")
               / (nd * (nd - F.lit(1.0)) * (nd - F.lit(2.0))))
        .alias("_b2x3n"))
    lvl2 = lvl1.select(
        key, "n", "l1",
        (F.col("_b1x2n") - F.col("l1")).alias("l2"),
        (F.lit(2.0) * F.col("_b2x3n") - F.lit(3.0) * F.col("_b1x2n")
         + F.col("l1")).alias("l3"))
    return lvl2.select(
        key, "n", "l1", "l2", "l3",
        F.when(F.col("l1") != 0, F.col("l2") / F.col("l1")).alias("l_cv"),
        F.when(F.col("l2") != 0, F.col("l3") / F.col("l2")).alias("l_skew"))


def mean_excess_curve(df: DataFrame, key: str, value: Column,
                      pcts: Sequence[int] = (50, 75, 90, 95)) -> DataFrame:
    """Peaks-over-threshold mean-excess curve per key: at each discrete
    percentile threshold u, the mean exceedance E[X - u | X > u] — the
    extreme-value-theory diagnostic (an ~linear-in-u mean excess is the
    GPD heavy-tail signature; exponential tails go flat) a latency SLO
    review reads before promising a p999.

    Thresholds are the key's own DISCRETE percentiles (min v with
    cum >= ceil(n*pct/100), integer rank arithmetic — Spark div ==
    DuckDB // on the non-negative operands); excess sums are exact
    int64 over the per-(key, distinct value) count frame (support-
    sized, one cumulative window, no corpus re-scan per threshold).

    Returns ``(key, pct, threshold, n_exceed, mean_excess)``;
    mean_excess NULL when nothing exceeds.
    """
    vi = value.cast("bigint")
    pv = (df.where(vi.isNotNull() & F.col(key).isNotNull())
          .groupBy(F.col(key).alias("_k"), vi.alias("_v"))
          .agg(F.count(F.lit(1)).cast("bigint").alias("_c")))
    w = (Window.partitionBy("_k").orderBy("_v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = pv.select("_k", "_v", "_c",
                    F.sum("_c").over(w).cast("bigint").alias("_cum"))
    tot = pv.groupBy("_k").agg(F.sum("_c").cast("bigint").alias("_n"))
    grid = tot.crossJoin(F.broadcast(local_frame(
        cum.sparkSession, [(int(p),) for p in pcts], "pct int")))
    rank = grid.select(
        "_k", "_n", "pct",
        F.expr("(_n * pct + 99) div 100").cast("bigint").alias("_r"))
    thr = (cum.join(rank, "_k")
           .where(F.col("_cum") >= F.col("_r"))
           .groupBy("_k", "pct")
           .agg(F.min("_v").cast("bigint").alias("threshold")))
    ex = (pv.join(thr, "_k")
          .where(F.col("_v") > F.col("threshold"))
          .groupBy("_k", "pct", "threshold")
          .agg(F.sum(F.col("_c")
                     * (F.col("_v") - F.col("threshold")))
               .cast("bigint").alias("_sx"),
               F.sum("_c").cast("bigint").alias("n_exceed")))
    return (thr.join(ex.select("_k", "pct", "_sx", "n_exceed"),
                     ["_k", "pct"], "left")
            .select(F.col("_k").alias(key), "pct", "threshold",
                    F.coalesce("n_exceed", F.lit(0)).cast("bigint")
                    .alias("n_exceed"),
                    (F.col("_sx").cast("double") / F.col("n_exceed"))
                    .alias("mean_excess")))


def gpd_tail_fit(df: DataFrame, key: str, value: Column,
                 pct: int = 90) -> DataFrame:
    """Generalized-Pareto tail fit per key via the L-moment (PWM)
    estimator (Hosking & Wallis 1987): over the exceedances
    y = v - u > 0 above the key's own discrete ``pct``-percentile
    threshold u,

        kappa = l1/l2 - 2,   xi = -kappa = 2 - l1/l2,
        sigma = l1 * (l1/l2 - 1)

    — the EVT capacity answer ("how heavy is this latency tail, and
    what scale does the excess distribution have?") that
    :func:`mean_excess_curve` diagnoses qualitatively. xi > 0 is the
    heavy-tail verdict; xi ~ 0 exponential; xi < 0 bounded.

    Everything after the one count collapse runs on the support frame:
    the threshold is an integer rank lookup, exceedance counts are a
    SHIFT of the support (no corpus re-scan), and the L-moments ride
    :func:`l_moments_from_counts`' closed-form rank sums. xi/sigma are
    fixed trees of exact-operand double ops, guarded on l2 > 0.

    Returns ``(key, threshold, n_exceed, l1, l2, xi, sigma)``.
    """
    vi = value.cast("bigint")
    pv = (df.where(vi.isNotNull() & F.col(key).isNotNull())
          .groupBy(F.col(key).alias("_k"), vi.alias("_v"))
          .agg(F.count(F.lit(1)).cast("bigint").alias("_c")))
    w = (Window.partitionBy("_k").orderBy("_v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = pv.select("_k", "_v", "_c",
                    F.sum("_c").over(w).cast("bigint").alias("_cum"))
    tot = pv.groupBy("_k").agg(F.sum("_c").cast("bigint").alias("_n"))
    rnk = tot.select(
        "_k", F.expr(f"(_n * {int(pct)} + 99) div 100")
        .cast("bigint").alias("_r"))
    thr = (cum.join(rnk, "_k")
           .where(F.col("_cum") >= F.col("_r"))
           .groupBy("_k")
           .agg(F.min("_v").cast("bigint").alias("_u")))
    ex = (pv.join(F.broadcast(thr), "_k")
          .where(F.col("_v") > F.col("_u"))
          .select("_k", (F.col("_v") - F.col("_u")).alias("_v"), "_c"))
    lm = l_moments_from_counts(ex, key)
    out = lm.join(
        thr.select(F.col("_k").alias(key),
                   F.col("_u").alias("threshold")), key)
    ratio = F.col("l1") / F.col("l2")
    return out.select(
        key, "threshold", F.col("n").alias("n_exceed"), "l1", "l2",
        F.when(F.col("l2") > 0, F.lit(2.0) - ratio).alias("xi"),
        F.when(F.col("l2") > 0,
               F.col("l1") * (ratio - F.lit(1.0))).alias("sigma"))


def decompose_series(df: DataFrame, key: str, ts_col: str = "ts",
                     period: int = 7, window: int = 7) -> DataFrame:
    """Classical moving-average decomposition of each key's daily count
    series: x_d = trend + seasonal + remainder — the readout behind
    ``seasonal_strength``'s single number ("WHAT is the weekly shape,
    and what's left after removing it?").

    - trend: centered ``window``-day mean on a RANGE frame over the
      integer day index (calendar-correct under gaps — a ROWS frame
      would silently span holes; the round-2 integer-RANGE trick), only
      where the full window is present (NULL at edges/gaps).
    - seasonal: per (key, day-index mod ``period``) mean of the
      detrended values — slot = d % period, NOT dayofweek() (Spark is
      1-Sunday, DuckDB 0-Sunday; integer mod agrees everywhere). The
      per-slot mean is an ordered fold (series-bounded, the ewma
      discipline) over exact-operand doubles.
    - remainder: x - trend - seasonal, NULL-propagating.

    Series are day-grain per key — bounded state, windows partition by
    key. Returns ``(key, d, x, trend, seasonal, remainder)``.
    """
    half = int(window) // 2
    day = F.expr(
        f"unix_micros({ts_col}) div 86400000000").cast("bigint")
    daily = (df.where(F.col(ts_col).isNotNull()
                      & F.col(key).isNotNull())
             .groupBy(key, day.alias("d"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("x")))
    w = (Window.partitionBy(key).orderBy("d")
         .rangeBetween(-half, half))
    t = daily.select(
        key, "d", "x",
        F.sum("x").over(w).cast("bigint").alias("_s"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("_c"))
    t = t.select(
        key, "d", "x",
        F.when(F.col("_c") == window,
               F.col("_s").cast("double") / F.lit(float(window)))
        .alias("trend"))
    det = t.select(
        key, "d", "x", "trend",
        (F.col("d") % F.lit(int(period))).alias("_slot"),
        (F.col("x").cast("double") - F.col("trend")).alias("_det"))
    slot_mean = (det.where(F.col("_det").isNotNull())
                 .groupBy(key, "_slot")
                 .agg(F.aggregate(
                     F.transform(
                         F.sort_array(F.collect_list(
                             F.struct("d", "_det"))),
                         lambda e: e["_det"]),
                     F.lit(0.0), lambda acc, v: acc + v).alias("_ss"),
                     F.count(F.lit(1)).cast("bigint").alias("_sc")))
    slot_mean = slot_mean.select(
        key, "_slot", (F.col("_ss") / F.col("_sc")).alias("seasonal"))
    out = det.join(slot_mean, [key, "_slot"], "left")
    return out.select(
        key, "d", "x", "trend", "seasonal",
        (F.col("x").cast("double") - F.col("trend")
         - F.col("seasonal")).alias("remainder"))


def cross_corr_from_counts(a: DataFrame, b: DataFrame,
                           lags: Sequence[int] = (-3, -2, -1, 0, 1, 2, 3)
                           ) -> DataFrame:
    """Lagged cross-correlation between two (m, c) bucket-count series:
    Pearson r between a(m) and b(m + lag) per lag — the lead-lag
    discovery scan (does the error rate LEAD the purchase dip, and by
    how many hours?), the two-series sibling of
    :func:`autocorr_from_counts`.

    Same scale discipline: PAIRWISE-PRESENT buckets only (no dense
    spine — zero-filling a sparse corpus timeline is a single-task
    explode at scale); each lag is a narrow equi-join on the shifted
    bucket id after a broadcast lag fan-out, so the whole scan is one
    shuffle of the bucket-cardinality frames; sufficient stats are
    exact bigints cast to double BEFORE every cross product (overflow
    discipline — at corpus bucket counts n·Σxy leaves int64 first).
    Degenerate lags (either margin constant) emit NULL under the ANSI
    guard.

    Returns ``(lag, n_pairs, r)``.
    """
    spark = a.sparkSession
    lagdf = local_frame(spark, [(int(lg),) for lg in lags], "lag int")
    left = a.crossJoin(F.broadcast(lagdf))
    right = b.select(F.col("m").alias("m2"), F.col("c").alias("c2"))
    paired = left.join(right, F.col("m") + F.col("lag") == F.col("m2"))
    s = paired.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("c").cast("bigint").alias("sx"),
        F.sum("c2").cast("bigint").alias("sy"),
        F.sum(F.col("c") * F.col("c2")).cast("bigint").alias("sxy"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sxx"),
        F.sum(F.col("c2") * F.col("c2")).cast("bigint").alias("syy"))
    nd = F.col("n_pairs").cast("double")
    num = nd * F.col("sxy").cast("double") - (
        F.col("sx").cast("double") * F.col("sy").cast("double"))
    dx = nd * F.col("sxx").cast("double") - (
        F.col("sx").cast("double") * F.col("sx").cast("double"))
    dy = nd * F.col("syy").cast("double") - (
        F.col("sy").cast("double") * F.col("sy").cast("double"))
    return s.select(
        "lag", "n_pairs",
        F.when((dx > 0.0) & (dy > 0.0),
               num / F.sqrt(dx * dy)).alias("r")).orderBy("lag")


def fleiss_kappa(items: DataFrame, votes_col: str, raters: int,
                 categories: int = 2) -> DataFrame:
    """Fleiss' kappa for multi-rater agreement (Fleiss, Psych. Bull.
    1971) over a BINARY category, generalizing :func:`cohens_kappa`
    past two raters — the annotation-QA gate a labeling pipeline runs
    before trusting heuristic raters enough to train on their majority
    vote. ``votes_col`` holds each item's count of "positive" votes
    out of ``raters``.

    Everything reduces to three exact int64 sums in ONE
    map-side-combinable aggregate: A = sum_i sum_j n_ij² (with
    n_i,pos = g and n_i,neg = raters - g), the positive-vote total,
    and n. P̄ = (A - n·k)/(n·k·(k-1)) and P_e = (c_pos² + c_neg²)/(nk)²
    are single divisions of those integers (cast to double BEFORE the
    squares — overflow discipline), so kappa = (P̄ - P_e)/(1 - P_e) is
    bit-identical to the oracle. Perfect-chance degeneracy (P_e = 1,
    only possible when every vote lands in one category AND agreement
    is perfect) yields NULL under the ANSI guard.

    ``categories`` documents the binary contract (asserted); the
    multi-category extension needs per-category counts, not one g.

    Returns ONE row: ``(n_items, p_bar, p_e, kappa)``.
    """
    assert categories == 2, "binary-category contract (see docstring)"
    k = raters
    g = F.col(votes_col).cast("bigint")
    s = items.where(g.isNotNull()).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(g * g + (F.lit(k) - g) * (F.lit(k) - g))
        .cast("bigint").alias("a"),
        F.sum(g).cast("bigint").alias("cpos"))
    nd = F.col("n").cast("double")
    nk = nd * F.lit(float(k))
    cpos = F.col("cpos").cast("double")
    cneg = nk - cpos
    p_bar = (F.col("a").cast("double") - nk) / (
        nk * F.lit(float(k - 1)))
    p_e = (cpos * cpos + cneg * cneg) / (nk * nk)
    return s.select(
        F.col("n").alias("n_items"),
        p_bar.alias("p_bar"),
        p_e.alias("p_e"),
        F.when(p_e < 1.0, (p_bar - p_e) / (F.lit(1.0) - p_e))
        .alias("kappa"))


def boxplot_stats(df: DataFrame, key: str, value: str) -> DataFrame:
    """Tukey box-plot profile per group: discrete quartiles, IQR, and
    the counts outside the 1.5·IQR fences (Tukey, EDA 1977) — the
    one-line distribution scorecard a metrics dashboard renders per
    key. Built on :func:`percentiles_disc` (rank-based, so quartile
    VALUES are actual elements and bit-identical cross-engine).

    The fence comparison stays INTEGER: 2·v < 2·p25 - 3·IQR avoids the
    1.5 multiplier entirely (never a float compare). Second pass joins
    the key-cardinality quartile frame back onto the corpus — broadcast
    under AQE — and reduces to the outlier counts.

    Returns ``(key, n, p25, p50, p75, iqr, n_low, n_high)``. NULL
    groups are excluded EXPLICITLY (the downstream equi-joins would
    silently drop them anyway — the round-2 NULL-key defect class;
    filter upfront so the contract is visible).
    """
    df = df.where(F.col(key).isNotNull())
    q = percentiles_disc(df, key, value, ps=(0.25, 0.5, 0.75))
    q = q.select(key, "n", "p25", "p50", "p75",
                 (F.col("p75") - F.col("p25")).alias("iqr"))
    j = df.where(F.col(value).isNotNull()).join(q, key)
    low = 2 * F.col(value) < 2 * F.col("p25") - 3 * F.col("iqr")
    high = 2 * F.col(value) > 2 * F.col("p75") + 3 * F.col("iqr")
    out = j.groupBy(key).agg(
        F.sum(F.when(low, 1).otherwise(0)).cast("bigint").alias("n_low"),
        F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("n_high"))
    return (q.join(out, key)
            .select(key, "n", "p25", "p50", "p75", "iqr",
                    "n_low", "n_high"))


def topk_movers(df: DataFrame, key: str, post, k: int = 20) -> DataFrame:
    """Top-k movers between two periods: per key the pre/post counts
    and the keys with the largest ABSOLUTE change — the "what changed
    since yesterday" triage scan over a high-cardinality dimension.

    One conditional-count shuffle collapses the corpus to key
    cardinality; the global top-k runs through ``orderBy().limit(k)``
    (TakeOrderedAndProject — distributed partial top-k, never a global
    rank window: the top_ngrams lesson) under the total order
    (|change| desc, key asc); the k survivors get their rank from a
    trivially small window.

    Returns ``(key, n_pre, n_post, change, rank)``.
    """
    from pyspark.sql import Window

    c = (df.where(F.col(key).isNotNull())
         .groupBy(key).agg(
             F.sum(F.when(post, 0).otherwise(1)).cast("bigint")
             .alias("n_pre"),
             F.sum(F.when(post, 1).otherwise(0)).cast("bigint")
             .alias("n_post")))
    c = c.select(key, "n_pre", "n_post",
                 (F.col("n_post") - F.col("n_pre")).alias("change"))
    top = c.orderBy(F.abs(F.col("change")).desc(), F.col(key)).limit(k)
    w = Window.orderBy(F.abs(F.col("change")).desc(), F.col(key))
    return top.select(key, "n_pre", "n_post", "change",
                      F.row_number().over(w).cast("int").alias("rank"))


def recency_weighted_counts(
    df: DataFrame,
    key: str,
    ts_col: str = "ts",
    half_life_buckets: int = 1,
    bucket_us: int = 604_800_000_000,
    max_age_buckets: int = 30,
) -> DataFrame:
    """Recency-weighted activity score per ``key`` with an exponential
    half-life decay — the freshness-biased popularity every ranking /
    trending surface uses — made EXACT by keeping the weights DYADIC:
    an event ``a`` buckets old weighs ``2^-(a/half_life)``, so scaling
    by ``2^max_age`` turns every weight into an integer power of two
    and the weighted sum into an exact int64 (a float 0.5^a sum is
    order-dependent; this one cannot be). Events older than
    ``max_age_buckets`` half-lives contribute 0 (they'd be below one
    scaled unit anyway).

    One combinable (key, age) count collapse, a broadcast 1-row
    high-water mark for the age origin, and a key reduction of
    ``count << (max_age - age)`` terms. The emitted ``weighted`` is
    the single division ``scaled / 2^max_age`` of exact integers.
    Exactness bound: scaled sums stay in int64 up to ``2^(63 -
    max_age)`` recent-bucket events per key (~8.6e9 at the default);
    beyond that drop to a smaller ``max_age_buckets`` or DECIMAL.

    Returns ``(key, n_events, n_recent, weighted)``.
    """
    tsu = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = (df.where(F.col(key).isNotNull() & F.col(ts_col).isNotNull())
            .select(F.col(key), tsu.alias("_tsu")))
    hwm = base.agg(F.max("_tsu").cast("bigint").alias("_hwm"))
    aged = (base.crossJoin(F.broadcast(hwm))
            .select(key, F.expr(
                f"((_hwm - _tsu) div {int(bucket_us)}) "
                f"div {int(half_life_buckets)}").cast("bigint")
                .alias("_age")))
    counts = aged.groupBy(key, "_age").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c"))
    scaled = F.when(
        F.col("_age") <= max_age_buckets,
        F.col("_c") * F.expr(
            f"shiftleft(cast(1 AS bigint), "
            f"cast({int(max_age_buckets)} - _age AS int))")
    ).otherwise(0)
    g = counts.groupBy(key).agg(
        F.sum("_c").cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("_age") <= max_age_buckets, F.col("_c"))
              .otherwise(0)).cast("bigint").alias("n_recent"),
        F.sum(scaled).cast("bigint").alias("_scaled"))
    return g.select(
        key, "n_events", "n_recent",
        (F.col("_scaled").cast("double")
         / F.lit(float(2 ** max_age_buckets))).alias("weighted"))


def weighted_kappa(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Cohen's weighted kappa with quadratic weights (Cohen, Psych.
    Bull. 1968) for two ORDINAL raters — disagreeing by one bucket is
    nearly agreement, by four buckets is not, which plain
    :func:`cohens_kappa` cannot express. With weights ``(i-j)²`` the
    whole statistic is an INTEGER identity:
    ``κ_w = 1 − n·Σ(i−j)²·O_ij / Σ(i−j)²·r_i·c_j`` — observed
    disagreement mass over the marginal-product expectation — so both
    engines compute one division of exact integers (marginal products
    accumulate in DECIMAL(38,0) == HUGEINT; the corpus-scale r_i·c_j
    cross is the overflow-discipline case).

    One contingency collapse (combinable shuffle); the cell frame and
    its two marginals are category-cardinality. Degenerate tables
    (all mass in one cell pair ⇒ zero expected disagreement) emit
    NULL under the ANSI guard.

    Returns ONE row: ``(n, obs_disagreement, exp_disagreement,
    kappa_w)`` — the disagreement columns scaled by n for exactness.
    """
    cells = (df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
             .groupBy(F.col(a_col).cast("bigint").alias("_i"),
                      F.col(b_col).cast("bigint").alias("_j"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("_c")))
    w = (F.col("_i") - F.col("_j")) * (F.col("_i") - F.col("_j"))
    obs = cells.agg(
        F.sum("_c").cast("bigint").alias("n"),
        F.sum((w * F.col("_c")).cast("decimal(38,0)"))
        .cast("decimal(38,0)").alias("_a"))
    ra = cells.groupBy("_i").agg(F.sum("_c").cast("bigint").alias("_r"))
    cb = cells.groupBy("_j").agg(F.sum("_c").cast("bigint").alias("_cc"))
    ex = (ra.crossJoin(F.broadcast(cb))
          .agg(F.sum(((F.col("_i") - F.col("_j"))
                      * (F.col("_i") - F.col("_j"))).cast("decimal(38,0)")
                     * F.col("_r") * F.col("_cc"))
               .cast("decimal(38,0)").alias("_b")))
    out = obs.crossJoin(F.broadcast(ex))
    return out.select(
        "n",
        F.col("_a").cast("double").alias("obs_disagreement"),
        F.col("_b").cast("double").alias("exp_disagreement"),
        F.when(F.col("_b").cast("double") > 0.0,
               F.lit(1.0) - F.col("n").cast("double")
               * F.col("_a").cast("double")
               / F.col("_b").cast("double")).alias("kappa_w"))


def mcc_eval(df: DataFrame, pred, actual) -> DataFrame:
    """Matthews correlation coefficient (Matthews 1975) for a binary
    predictor vs a binary outcome — the single-number confusion
    summary that stays honest under class imbalance where accuracy
    and F1 mislead (Chicco & Jurman 2020 make the modern case).

    One conditional-count pass to the four exact int64 confusion
    cells; ``MCC = (TP·TN − FP·FN)/sqrt((TP+FP)(TP+FN)(TN+FP)(TN+FN))``
    is formed with every cell cast to double BEFORE the products
    (margin products are the corpus-squared overflow case) in the
    oracle's order. Any empty margin emits NULL (MCC undefined).

    Returns ONE row: ``(tp, fp, fn, tn, mcc)``.
    """
    s = (df.where(pred.isNotNull() & actual.isNotNull())
         .agg(F.sum(F.when(pred & actual, 1).otherwise(0))
              .cast("bigint").alias("tp"),
              F.sum(F.when(pred & ~actual, 1).otherwise(0))
              .cast("bigint").alias("fp"),
              F.sum(F.when(~pred & actual, 1).otherwise(0))
              .cast("bigint").alias("fn"),
              F.sum(F.when(~pred & ~actual, 1).otherwise(0))
              .cast("bigint").alias("tn")))
    tp = F.col("tp").cast("double")
    fp = F.col("fp").cast("double")
    fn = F.col("fn").cast("double")
    tn = F.col("tn").cast("double")
    den = F.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    return s.select(
        "tp", "fp", "fn", "tn",
        F.when(den > 0.0, (tp * tn - fp * fn) / den).alias("mcc"))


def conformal_interval(
    df: DataFrame,
    key: str,
    y_col: str,
    yhat_col: str,
    alpha_num: int = 1,
    alpha_den: int = 10,
    tiebreak: str | None = None,
) -> DataFrame:
    """Split-conformal prediction radius per key (Vovk et al. 2005;
    Lei et al., JASA 2018): over a calibration set of integer
    (y, yhat) pairs, the radius q = the ceil((n+1)(1−α))-th smallest
    absolute residual gives the DISTRIBUTION-FREE guarantee
    P(|y_new − yhat_new| ≤ q) ≥ 1 − α — the uncertainty band an ML
    gate can attach to any point predictor without a model of the
    errors. α = alpha_num/alpha_den stays rational so the target rank

        r* = ceil((n+1)·(alpha_den − alpha_num) / alpha_den)

    is EXACT integer arithmetic ((a + b − 1) div b on positive
    operands — Spark div == DuckDB //). The radius is an ACTUAL sample
    residual (the percentiles_disc discipline: rank selection, no
    interpolation), so it is bit-identical cross-engine. Keys where
    r* > n (calibration set too small for the coverage level — e.g.
    n < alpha_den/alpha_num − 1) emit a NULL radius: the honest
    "cannot certify this coverage" answer, never an extrapolated one.

    One per-key rank window over integer |residuals| (group-parallel;
    ``tiebreak`` makes the order total when residuals tie). Returns
    ``(key, n_cal, target_rank, radius)``.
    """
    from pyspark.sql import Window

    r = (F.col(y_col).cast("bigint") - F.col(yhat_col).cast("bigint"))
    d = (df.where(F.col(key).isNotNull() & F.col(y_col).isNotNull()
                  & F.col(yhat_col).isNotNull())
         .select(F.col(key), F.abs(r).alias("_r"),
                 *([F.col(tiebreak).alias("_tb")] if tiebreak else [])))
    order = [F.col("_r").asc()]
    if tiebreak:
        order.append(F.col("_tb").asc())
    w = Window.partitionBy(key).orderBy(*order)
    wn = Window.partitionBy(key)
    ranked = d.select(key, "_r",
                      F.row_number().over(w).alias("_rn"),
                      F.count(F.lit(1)).over(wn).alias("_n"))
    num = ((F.col("_n") + 1) * F.lit(int(alpha_den - alpha_num))
           + F.lit(int(alpha_den) - 1))
    ranked = (ranked.withColumn("_num", num.cast("bigint"))
              .withColumn("_tgt",
                          F.expr(f"_num div {int(alpha_den)}")
                          .cast("bigint")))
    return (ranked.groupBy(key)
            .agg(F.max("_n").cast("bigint").alias("n_cal"),
                 F.max("_tgt").cast("bigint").alias("target_rank"),
                 F.max(F.when(F.col("_rn") == F.col("_tgt"),
                              F.col("_r"))).cast("bigint")
                 .alias("radius")))


def conformal_from_counts(
    per_r: DataFrame,
    key: str,
    alpha_num: int = 1,
    alpha_den: int = 10,
    bucket_width: int = 1024,
) -> DataFrame:
    """:func:`conformal_interval` from a pre-aggregated
    ``(key, r, c)`` |residual|-count frame — the MONOID form: counts
    sum across partitions / days / epochs (a lossless sufficient
    statistic for every rank), so the radius of an accumulated stream
    is computable from per-epoch partials without re-reading rows, and
    at corpus scale the per-row rank window disappears entirely: the
    cumulative counts ride the two-level :func:`~logpipe_spark.
    operators.drift.bucketed_cumsum` prefix scan and the radius is

        min{ r : cum_c(r) >= ceil((n+1)(1-alpha)) }

    — the same ACTUAL-residual selection, exact integer arithmetic
    throughout. NULL radius when target > n (cannot certify).

    Returns ``(key, n_cal, target_rank, radius)`` — identical contract
    to the row form (shared oracle = merge==scan proof).
    """
    from logpipe_spark.operators.drift import bucketed_cumsum

    cums = bucketed_cumsum(per_r, key, ["c"], value_col="r",
                           bucket_width=bucket_width)
    totals = per_r.groupBy(key).agg(
        F.sum("c").cast("bigint").alias("_n"))
    num = ((F.col("_n") + 1) * F.lit(int(alpha_den - alpha_num))
           + F.lit(int(alpha_den) - 1))
    totals = (totals.withColumn("_num", num.cast("bigint"))
              .withColumn("_tgt",
                          F.expr(f"_num div {int(alpha_den)}")
                          .cast("bigint")))
    j = cums.join(F.broadcast(totals), key)
    return (j.groupBy(key)
            .agg(F.max("_n").cast("bigint").alias("n_cal"),
                 F.max("_tgt").cast("bigint").alias("target_rank"),
                 F.min(F.when(F.col("cum_c") >= F.col("_tgt"),
                              F.col("r"))).cast("bigint")
                 .alias("radius")))


def jackknife_ratio(
    df: DataFrame,
    key: str,
    group_col: str,
    num_col,
    den_col,
    max_groups: int = 1024,
) -> DataFrame:
    """Delete-one-GROUP jackknife standard error for a ratio of sums
    (Quenouille/Tukey; the delete-a-group variant experimentation
    platforms use for clustered exposure): per key, pseudo-values
    r_g = (ΣN − N_g)/(ΣD − D_g) over the leave-one-out groups, and

        SE² = (G−1)/G · Σ (r_g − r̄)²

    — the variance answer :func:`ratio_metric_ci`'s delta method
    approximates analytically, computed empirically and without any
    independence-across-rows assumption (only across GROUPS, e.g.
    days or shards).

    Group sums are exact int64 (one combinable shuffle; the group
    frame is key × groups). Pseudo-values are doubles, so Σr_g is
    ORDER-DEPENDENT — folded left-to-right over the group order
    (sorted collect_list, == DuckDB ``list_reduce`` with a 0.0 seed),
    which requires BOUNDED groups: ``max_groups`` raises loudly
    (ANSI-style) when exceeded, the EDF-fold guard discipline. Keys
    with a degenerate leave-one-out denominator emit NULL se.

    Returns ``(key, n_groups, ratio, se_jack)``.
    """
    s = (df.where(F.col(key).isNotNull() & F.col(group_col).isNotNull()
                  & F.col(num_col).isNotNull()
                  & F.col(den_col).isNotNull())
         .groupBy(key, F.col(group_col).alias("_g"))
         .agg(F.sum(F.col(num_col).cast("bigint")).cast("bigint")
              .alias("_x"),
              F.sum(F.col(den_col).cast("bigint")).cast("bigint")
              .alias("_y")))
    tot = s.groupBy(key).agg(
        F.sum("_x").cast("bigint").alias("_sx"),
        F.sum("_y").cast("bigint").alias("_sy"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"))
    j = s.join(F.broadcast(tot), key)
    loo_den = F.col("_sy") - F.col("_y")
    r_g = F.when(
        F.col("n_groups") <= F.lit(int(max_groups)),
        F.when(loo_den > 0,
               (F.col("_sx") - F.col("_x")).cast("double")
               / loo_den.cast("double"))
    ).otherwise(F.raise_error(F.concat(
        F.lit("jackknife_ratio: group count ("),
        F.col("n_groups").cast("string"),
        F.lit(f") exceeds max_groups={max_groups}; the pseudo-value "
              "fold requires bounded groups — coarsen group_col"))))
    folded = (j.select(key, "n_groups", "_sx", "_sy",
                       F.col("_g").alias("_go"), r_g.alias("_r"))
              .groupBy(key, "n_groups", "_sx", "_sy")
              .agg(
                  F.sum(F.col("_r").isNull().cast("int")).alias("_bad"),
                  F.aggregate(
                      F.transform(
                          F.sort_array(F.collect_list(
                              F.struct("_go", "_r"))),
                          lambda x: x["_r"]),
                      F.lit(0.0), lambda a, x: a + x).alias("_s1"),
                  F.aggregate(
                      F.transform(
                          F.sort_array(F.collect_list(
                              F.struct("_go", "_r"))),
                          lambda x: x["_r"] * x["_r"]),
                      F.lit(0.0), lambda a, x: a + x).alias("_s2")))
    n = F.col("n_groups").cast("double")
    var = ((n - F.lit(1.0)) / n
           * (F.col("_s2") - F.col("_s1") * F.col("_s1") / n))
    return folded.select(
        key, "n_groups",
        F.when(F.col("_sy") > 0,
               F.col("_sx").cast("double")
               / F.col("_sy").cast("double")).alias("ratio"),
        F.when((F.col("_bad") == 0) & (var > 0.0),
               F.sqrt(var)).alias("se_jack"))


def brier_score(
    df: DataFrame,
    key: str,
    p_pct: Column,
    outcome: Column,
) -> DataFrame:
    """Brier score per key (Brier 1950) over INTEGER-PERCENT forecasts:
    with p in [0, 100] and y in {0, 1},

        BS = sum (p − 100·y)² / (10000·n)

    — the numerator an exact int64 sum (one combinable shuffle), the
    score a single division of exact integers, bit-identical
    cross-engine where a float-probability mean never is. The scalar
    companion to ``calibration_curve`` (which shows WHERE forecasts
    are miscalibrated; Brier says HOW MUCH overall, and its
    sum-of-squares form is mergeable across shards/epochs). Also emits
    the climatology reference BS_base = base·(1−base) from the same
    integer sums (the score of always forecasting the base rate) so
    the skill ratio is readable without a second pass.

    Returns ``(key, n, brier, base_rate, brier_base)``.
    """
    p = p_pct.cast("bigint")
    y = outcome.cast("bigint")
    s = (df.where(F.col(key).isNotNull() & p.isNotNull() & y.isNotNull())
         .select(F.col(key), p.alias("_p"), y.alias("_y"))
         .groupBy(key)
         .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
              F.sum((F.col("_p") - 100 * F.col("_y"))
                    * (F.col("_p") - 100 * F.col("_y")))
              .cast("bigint").alias("_ss"),
              F.sum("_y").cast("bigint").alias("_k")))
    base = F.col("_k").cast("double") / F.col("n").cast("double")
    return s.select(
        key, "n",
        (F.col("_ss").cast("double")
         / (F.lit(10000.0) * F.col("n").cast("double"))).alias("brier"),
        base.alias("base_rate"),
        (base * (F.lit(1.0) - base)).alias("brier_base"))


def expected_calibration_error(
    df: DataFrame,
    key: str,
    p_pct: Column,
    outcome: Column,
    n_bins: int = 10,
) -> DataFrame:
    """Expected calibration error per key (Naeini et al., AAAI 2015)
    over INTEGER-PERCENT forecasts — the scalar that says how far the
    reliability diagram sits from the diagonal:

        ECE = Σ_b (n_b/n)·|acc_b − conf_b| = Σ_b |100·k_b − Σp_b| / (100·n)

    — the right-hand identity keeps EVERYTHING integer until one final
    division (|accuracy−confidence| per bin is |100·successes − sum of
    percents| / (100·n_b); the n_b weights cancel), so the score is
    bit-identical cross-engine where float bin means never are. Also
    emits MCE (the worst bin's gap, a division of the same integers).
    Completes the calibration trio: ``calibration_curve`` shows WHERE,
    ``brier_score`` how much overall loss, ECE/MCE the headline
    miscalibration numbers. One (key, bin) combinable collapse.

    Returns ``(key, n, n_bins_used, ece, mce)``.
    """
    p = p_pct.cast("bigint")
    y = outcome.cast("bigint")
    width = max(100 // int(n_bins), 1)
    b = (df.where(F.col(key).isNotNull() & p.isNotNull() & y.isNotNull())
         .select(F.col(key), p.alias("_p"), y.alias("_y"))
         .select(F.col(key),
                 F.least(F.lit(int(n_bins) - 1).cast("bigint"),
                         F.expr(f"_p div {width}")
                         .cast("bigint")).alias("_b"),
                 "_p", "_y"))
    s = b.groupBy(key, "_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("_nb"),
        F.sum("_y").cast("bigint").alias("_kb"),
        F.sum("_p").cast("bigint").alias("_sp"))
    gap = F.abs(F.lit(100) * F.col("_kb") - F.col("_sp"))
    out = s.groupBy(key).agg(
        F.sum("_nb").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins_used"),
        F.sum(gap).cast("bigint").alias("_num"),
        F.max(gap.cast("double") / (F.lit(100.0)
                                    * F.col("_nb").cast("double")))
        .alias("mce"))
    return out.select(
        key, "n", "n_bins_used",
        (F.col("_num").cast("double")
         / (F.lit(100.0) * F.col("n").cast("double"))).alias("ece"),
        "mce")
