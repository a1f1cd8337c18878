"""Two-sample distribution statistics and sequential change detection.

The drift gates a training-data pipeline runs before trusting a new
batch: "does this week's value distribution still look like last
week's?" (KS, Kuiper, Hellinger, CvM, Wasserstein-1, energy distance —
one shared (key, v, ca, cb) count state serves all six, see
:func:`drift_panel`), "did the level shift mid-stream?" (CUSUM against
a fixed reference; Page–Hinkley against the running mean), rank tests
(Mann–Whitney/AUC, Kruskal–Wallis, Wilcoxon, Friedman, Cochran's Q,
runs, Cliff's delta, Mann–Kendall). ALL log-free: every emitted double
derives from exact integer sufficient statistics through
correctly-rounded IEEE ops, so they pass the exact cross-engine hash
gate (PSI/KL/entropy never could; Hellinger/W1/energy are the log-free
replacements).

No reference counterpart (the reference has no ordered analytics at all —
SURVEY.md §2.4). The naive CDF formulations are cumulative sums over a
global per-key value order — the single-reducer window trap — so the
cumulative counts run through the same two-level bucketed prefix scan as
``operators/sweep.py:interval_concurrency`` / ``spans.py:sequence_gaps``
(factored here as :func:`bucketed_cumsum`):

1. ONE map-side-combinable shuffle collapses the corpus to per
   (key, distinct value) counts for each sample — within-value order
   vanishes before any scan, so the statistic is deterministic by
   construction.
2. In-bucket cumulative sums window on (key, value-bucket); the
   cross-bucket carry is an exclusive prefix over the values/width
   summary frame, broadcast back — no per-key single-task scan.
3. Sample totals are key-cardinality-sized and broadcast; the max-gap
   and its argmin location re-aggregate the distinct-values frame.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from logpipe_spark.session import local_frame

__all__ = [
    "ks_drift",
    "ks_from_counts",
    "bucketed_cumsum",
    "welch_ttest",
    "mann_whitney_u",
    "kruskal_wallis",
    "mann_kendall",
    "cusum_scan",
    "auc_rank",
    "changepoint_binseg",
    "levene_test",
    "pr_auc",
    "wilcoxon_signed",
    "runs_test",
    "cliffs_delta",
    "kuiper_drift",
    "kuiper_from_counts",
    "runs_partials",
    "runs_merge",
    "hellinger_drift",
    "hellinger_from_counts",
    "friedman_test",
    "cochran_q",
    "cvm_drift",
    "cvm_from_counts",
    "page_hinkley",
    "wasserstein_drift",
    "wasserstein_from_counts",
    "energy_drift",
    "energy_from_counts",
    "drift_panel",
    "anderson_darling",
    "shift_function",
]


def bucketed_cumsum(
    per_v: DataFrame,
    key: str,
    cols: Sequence[str],
    value_col: str = "v",
    bucket_width: int = 1024,
) -> DataFrame:
    """Per-key INCLUSIVE cumulative sums of ``cols`` over ascending
    ``value_col``, via the two-level bucketed prefix scan (never a
    per-key single-task window): in-bucket running sums window on
    (key, bucket); the cross-bucket carry is an exclusive prefix over
    the bucket-summary frame (values/width rows per key), joined back.

    Input must already be one row per (key, value) — aggregate first so
    within-value order cannot matter. Returns the input columns plus
    ``cum_<c>`` (bigint) for each ``c`` in ``cols``. ``bucket_width``
    is in VALUE units: summary rows per key ≈ value_range / width.
    """
    b = per_v.withColumn(
        "_bkt", F.floor(F.col(value_col) / F.lit(int(bucket_width))))
    w_in = Window.partitionBy(key, "_bkt").orderBy(value_col)
    for c in cols:
        b = b.withColumn(f"_in_{c}", F.sum(c).over(w_in))
    summary = b.groupBy(key, "_bkt").agg(
        *[F.sum(c).alias(f"_t_{c}") for c in cols])
    w_b = (
        Window.partitionBy(key).orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = summary.select(
        F.col(key).alias("_ok"), F.col("_bkt").alias("_ob"),
        *[F.coalesce(F.sum(f"_t_{c}").over(w_b), F.lit(0)).alias(f"_off_{c}")
          for c in cols],
    )
    # NULL-SAFE on the key: window partitions treat a NULL key as one
    # group, so the carry join must too (a plain equi-join silently
    # drops the NULL-key rows its own windows just scanned)
    out = b.join(
        offsets,
        F.col(key).eqNullSafe(F.col("_ok")) & (F.col("_bkt") == F.col("_ob")),
    ).drop("_ok", "_ob")
    for c in cols:
        out = out.withColumn(
            f"cum_{c}",
            (F.col(f"_in_{c}") + F.col(f"_off_{c}")).cast("bigint"))
    return out.drop("_bkt", *[f"_in_{c}" for c in cols],
                    *[f"_off_{c}" for c in cols])


def _two_sample_counts(df: DataFrame, key: str, value: Column,
                       sample_a: Column) -> DataFrame:
    """Collapse ``df`` to the (key, v, ca, cb) per-value count state every
    two-sample statistic reads: ``v`` is ``value`` cast to bigint, ``ca``
    and ``cb`` count the rows in sample A and sample B.

    Rows whose sample predicate evaluates to NULL belong to NEITHER
    sample — they are dropped rather than letting when().otherwise(0)
    silently misfile them into sample B and skew F_B."""
    vi = value.cast("bigint")
    return (
        df.where(vi.isNotNull() & sample_a.isNotNull()
                 & F.col(key).isNotNull())
        .groupBy(key, vi.alias("v"))
        .agg(
            F.sum(F.when(sample_a, 1).otherwise(0)).cast("bigint").alias("ca"),
            F.sum(F.when(sample_a, 0).otherwise(1)).cast("bigint").alias("cb"),
        )
    )


def ks_drift(
    df: DataFrame,
    key: str,
    value: Column,
    sample_a: Column,
    bucket_width: int = 1024,
    min_n: int = 1,
) -> DataFrame:
    """Per-group two-sample KS statistic between the rows where
    ``sample_a`` is true (sample A) and the rest (sample B), over the
    INTEGER-valued ``value`` column (pass cents / rebased units — the
    usual exact-stats discipline).

    Returns (key, n_a, n_b, ks, ks_at_value): the max
    ``|F_A(v) − F_B(v)|`` over the pooled distinct values, and the
    smallest value attaining it. Groups where either sample is smaller
    than ``min_n`` are dropped (the statistic is meaningless one-sided).

    ``bucket_width`` sets the prefix-scan grain in VALUE units: per-key
    summary rows ≈ value_range / bucket_width.
    """
    per_v = _two_sample_counts(df, key, value, sample_a)
    return ks_from_counts(per_v, key, bucket_width=bucket_width, min_n=min_n)


def ks_from_counts(
    per_v: DataFrame,
    key: str,
    bucket_width: int = 1024,
    min_n: int = 1,
) -> DataFrame:
    """KS statistic from a pre-aggregated count frame (key, v, ca, cb) —
    the mergeable-partial entry point: per-(key, value) counts SUM across
    batches/epochs/shards, so an incremental consumer (e.g. the streaming
    drift monitor) accumulates counts and calls this for the readout.
    Same two-level bucketed prefix scan and exact integer-derived doubles
    as :func:`ks_drift` (which is now a thin wrapper over this)."""
    cums = bucketed_cumsum(
        per_v, key, ["ca", "cb"], bucket_width=bucket_width
    ).select(
        key, "v",
        F.col("cum_ca").alias("cuma"),
        F.col("cum_cb").alias("cumb"),
    )
    totals = per_v.groupBy(key).agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
    )
    gaps = (
        cums.join(F.broadcast(totals), key)
        .where((F.col("n_a") >= min_n) & (F.col("n_b") >= min_n))
        .withColumn(
            "gap",
            F.abs(F.col("cuma") / F.col("n_a") - F.col("cumb") / F.col("n_b")),
        )
    )
    ks = gaps.groupBy(key, "n_a", "n_b").agg(F.max("gap").alias("ks"))
    # smallest value attaining the max gap: float equality is safe here —
    # both engines form gap from identical integer operands, so the max
    # and its attaining rows are bit-identical
    at = (
        gaps.join(F.broadcast(ks.select(key, "ks")), key)
        .where(F.col("gap") == F.col("ks"))
        .groupBy(key)
        .agg(F.min("v").alias("ks_at_value"))
    )
    return ks.join(at, key).select(key, "n_a", "n_b", "ks", "ks_at_value")


def welch_ttest(
    df: DataFrame,
    key: str,
    value: Column,
    sample_a: Column,
    min_n: int = 2,
) -> DataFrame:
    """Per-group Welch two-sample t statistic (unequal variances) between
    the rows where ``sample_a`` is true and the rest — the parametric
    mean-shift companion to :func:`ks_drift`'s shape test.

    Pass an INTEGER-valued ``value`` (cents / rebased units). Everything
    reduces to ONE map-side-combinable aggregate of six integer sums
    (n, Σx, Σx² per sample); t and the Welch–Satterthwaite df are formed
    from identical double operands in both engines (cast-before-product
    overflow discipline, correctly-rounded IEEE sqrt/div), so the output
    passes the exact value-hash gate. Groups where either sample has
    < ``min_n`` rows or both variances are zero are dropped.

    Returns (key, n_a, n_b, mean_a, mean_b, t_stat, df_welch).
    """
    vi = value.cast("bigint")
    # NULL predicate rows belong to NEITHER sample (same policy as
    # ks_drift) — drop, don't misfile into sample B
    base = df.where(vi.isNotNull() & sample_a.isNotNull())
    ia = F.when(sample_a, 1).otherwise(0)
    g = base.groupBy(key).agg(
        F.sum(ia).cast("bigint").alias("n_a"),
        F.sum(1 - ia).cast("bigint").alias("n_b"),
        F.sum(vi * ia).cast("bigint").alias("sa"),
        F.sum(vi * (1 - ia)).cast("bigint").alias("sb"),
        F.sum(vi * vi * ia).cast("bigint").alias("qa"),
        F.sum(vi * vi * (1 - ia)).cast("bigint").alias("qb"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    qa, qb = F.col("qa").cast("double"), F.col("qb").cast("double")
    # sample variance via the sufficient-stat identity; cross products in
    # DOUBLE (n·Σx² overflows int64 long before the sums do). The
    # degenerate both-variances-zero groups are filtered BEFORE any
    # division is formed — ANSI mode throws on divide-by-zero, so the
    # guard must not rely on filter/projection evaluation order.
    m = (
        g.where(
            (F.col("n_a") >= min_n) & (F.col("n_b") >= min_n)
            & ((na * qa - sa * sa) + (nb * qb - sb * sb) > 0)
        )
        .select(
            key, "n_a", "n_b",
            (sa / na).alias("mean_a"),
            (sb / nb).alias("mean_b"),
            ((na * qa - sa * sa) / (na * (na - 1)) / na).alias("_sea"),
            ((nb * qb - sb * sb) / (nb * (nb - 1)) / nb).alias("_seb"),
        )
    )
    sea, seb = F.col("_sea"), F.col("_seb")
    se2 = sea + seb
    nad = F.col("n_a").cast("double")
    nbd = F.col("n_b").cast("double")
    return m.select(
        key, "n_a", "n_b", "mean_a", "mean_b",
        ((F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2)).alias("t_stat"),
        ((se2 * se2)
         / (sea * sea / (nad - 1) + seb * seb / (nbd - 1)))
        .alias("df_welch"),
    )


def mann_whitney_u(
    df: DataFrame,
    key: str,
    value: Column,
    bucket_width: int = 256,
) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) of each ``key`` group's value
    distribution vs the REST of the corpus — the nonparametric companion
    to :func:`welch_ttest` for skewed/heavy-tailed metrics.

    Pass an INTEGER-valued ``value`` (cents / rebased units). NO global
    rank window: tie-averaged ranks are per-DISTINCT-VALUE quantities,
    so the exclusive cumulative count runs on the distinct-value frame
    via :func:`bucketed_cumsum` and the doubled average rank
    ``2*rbar = 2*start + t + 1`` stays an exact integer. Per-group rank
    sums accumulate in DECIMAL(38,0) (exact, order-independent; per-row
    products cast to decimal BEFORE multiplying — the int64 overflow
    discipline). z composes in doubles from the same exact operands in
    the same order as the DuckDB oracle, with the tie-corrected normal
    approximation ``Var(2U) = n1*n2/3 * ((n+1) - T/(n(n-1)))`` where
    ``T = sum(t^3 - t)`` over tie groups.

    Returns ``(key, n1, n2, u2x, z)`` with ``u2x = 2*U1`` (doubled to
    stay integral under tie-averaged ranks) and ``z`` NULL when the
    variance degenerates (all values tied).
    """
    vi = value.cast("bigint")
    base = (df.where(vi.isNotNull() & F.col(key).isNotNull())
            .select(F.col(key).alias("_k"), vi.alias("_v")))
    per_tv = base.groupBy("_k", "_v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt_tv"))
    per_v = per_tv.groupBy("_v").agg(
        F.sum("cnt_tv").cast("bigint").alias("t"))
    starts = bucketed_cumsum(
        per_v.withColumn("_all", F.lit(1)), "_all", ["t"],
        value_col="_v", bucket_width=bucket_width,
    ).select("_v", (2 * (F.col("cum_t") - F.col("t")) + F.col("t") + 1)
             .alias("r2"))
    d = "decimal(38,0)"
    s = (per_tv.join(starts, "_v")
         .groupBy("_k")
         .agg(F.sum("cnt_tv").cast("bigint").alias("n1"),
              F.sum(F.col("cnt_tv").cast(d) * F.col("r2").cast(d))
              .cast(d).alias("_r1x")))
    g = per_v.agg(
        F.sum("t").cast("bigint").alias("_n"),
        F.sum(F.col("t").cast(d) * F.col("t").cast(d) * F.col("t").cast(d)
              - F.col("t").cast(d)).cast(d).alias("_tt"))
    j = s.crossJoin(F.broadcast(g))
    n1d = F.col("n1").cast("double")
    n2d = (F.col("_n") - F.col("n1")).cast("double")
    nd = F.col("_n").cast("double")
    td = F.col("_tt").cast("double")
    u2x = F.col("_r1x").cast("double") - n1d * (n1d + F.lit(1.0))
    var2x = (n1d * n2d / F.lit(3.0)
             * ((nd + F.lit(1.0)) - td / (nd * (nd - F.lit(1.0)))))
    return j.select(
        F.col("_k").alias(key), "n1",
        (F.col("_n") - F.col("n1")).cast("bigint").alias("n2"),
        u2x.alias("u2x"),
        F.when(var2x > 0, (u2x - n1d * n2d) / F.sqrt(var2x)).alias("z"))


def kruskal_wallis(
    df: DataFrame,
    key: str,
    value: Column,
    bucket_width: int = 256,
) -> DataFrame:
    """Kruskal–Wallis H: the k-group generalization of
    :func:`mann_whitney_u` ("does ANY group's value distribution
    differ?"), the rank-based companion to ``aggregate.anova_f`` for
    skewed metrics.

    Pass an INTEGER-valued ``value``. Global tie-averaged ranks come
    from the same distinct-value bucketed prefix scan as
    :func:`mann_whitney_u` (doubled ranks ``r2 = 2*start + t + 1`` stay
    exact integers; per-group rank sums accumulate in DECIMAL(38,0)).
    The cross-group sum Σ_j R_j²/n_j mixes non-integer doubles, so —
    like ``anova_f`` — the group-cardinality-sized terms fold
    LEFT-TO-RIGHT over the group-key sort order via ``aggregate()``,
    the ordered-fold pattern DuckDB's ``list_reduce`` replays exactly.
    Tie-corrected: ``H = H_raw / (1 - T/(n³-n))``, ``T = Σ(t³-t)``.
    Exactness needs the doubled rank sums < 2^53 (n ≲ 6.7e7 rows —
    beyond that the double cast rounds; the stat is still valid, the
    cross-engine hash guarantee is not).

    Returns ONE row ``(n, k, tie_t, h_raw, h)``; empty when every value
    is tied (the correction degenerates) or k < 2.
    """
    vi = value.cast("bigint")
    base = (df.where(vi.isNotNull() & F.col(key).isNotNull())
            .select(F.col(key).alias("_k"), vi.alias("_v")))
    per_tv = base.groupBy("_k", "_v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt_tv"))
    per_v = per_tv.groupBy("_v").agg(
        F.sum("cnt_tv").cast("bigint").alias("t"))
    starts = bucketed_cumsum(
        per_v.withColumn("_all", F.lit(1)), "_all", ["t"],
        value_col="_v", bucket_width=bucket_width,
    ).select("_v", (2 * (F.col("cum_t") - F.col("t")) + F.col("t") + 1)
             .alias("r2"))
    d = "decimal(38,0)"
    s = (per_tv.join(starts, "_v")
         .groupBy("_k")
         .agg(F.sum("cnt_tv").cast("bigint").alias("_nj"),
              F.sum(F.col("cnt_tv").cast(d) * F.col("r2").cast(d))
              .cast(d).alias("_r2x")))
    # per-group term (R2_j)²/(4 n_j) = R_j²/n_j, folded in key order
    terms = s.select(
        "_k", "_nj",
        ((F.col("_r2x").cast("double") * F.col("_r2x").cast("double"))
         / (F.lit(4.0) * F.col("_nj").cast("double"))).alias("_t"))
    fold = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_k", "_t"))),
                lambda x: x["_t"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_tsum"))
    g = per_v.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(F.col("t").cast(d) * F.col("t").cast(d) * F.col("t").cast(d)
              - F.col("t").cast(d)).cast(d).alias("_tt"))
    one = fold.crossJoin(F.broadcast(g)).where(
        (F.col("k") >= 2) & (F.col("n") > F.col("k")))
    nd = F.col("n").cast("double")
    h_raw = (F.lit(12.0) / (nd * (nd + F.lit(1.0))) * F.col("_tsum")
             - F.lit(3.0) * (nd + F.lit(1.0)))
    corr = F.lit(1.0) - F.col("_tt").cast("double") / (nd * nd * nd - nd)
    staged = one.select(
        "n", "k", F.col("_tt").cast("double").alias("tie_t"),
        h_raw.alias("h_raw"), corr.alias("_corr"))
    return (staged.where(F.col("_corr") > 0)
            .select("n", "k", "tie_t", "h_raw",
                    (F.col("h_raw") / F.col("_corr")).alias("h")))


def mann_kendall(
    df: DataFrame,
    key: str,
    value: Column,
    order_col: Column,
) -> DataFrame:
    """Mann–Kendall monotonic-trend test per ``key``: S = Σ_{i<j}
    sign(v_j − v_i) over ``order_col``-ordered pairs — the rank-based
    companion to the OLS ``trend_slope`` (is the series going UP,
    without assuming linearity?). Pass INTEGER-valued ``value`` and a
    duplicate-free ``order_col`` within each key (e.g. a daily rollup).

    Pairs are generated by an equi self-join on the key with an
    ``order`` inequality — intended for per-key series of bounded
    length (days, not raw events; n_days² pairs per key). S and the
    tie term T_v = Σ t(t−1)/2 are exact integers; tau-b is one double
    composition sqrt((n0 − T)·n0) from identical operands both engines.

    Returns ``(key, n_obs, s_stat, tie_t, tau_b)``; tau_b NULL when the
    denominator degenerates (all values tied or n < 2).
    """
    vi = value.cast("bigint")
    base = (df.where(vi.isNotNull() & F.col(key).isNotNull()
                     & order_col.isNotNull())
            .select(F.col(key).alias("_k"), order_col.alias("_o"),
                    vi.alias("_v")))
    a = base.select("_k", F.col("_o").alias("_oa"), F.col("_v").alias("_va"))
    b = base.select(F.col("_k").alias("_kb"), F.col("_o").alias("_ob"),
                    F.col("_v").alias("_vb"))
    pairs = a.join(b, (F.col("_k") == F.col("_kb"))
                   & (F.col("_oa") < F.col("_ob")))
    s = pairs.groupBy("_k").agg(
        F.sum(F.signum(F.col("_vb") - F.col("_va")).cast("bigint"))
        .cast("bigint").alias("s_stat"))
    nobs = base.groupBy("_k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    ties = (base.groupBy("_k", "_v")
            .agg(F.count(F.lit(1)).cast("bigint").alias("_t"))
            .groupBy("_k")
            .agg(F.sum(F.col("_t") * (F.col("_t") - 1))
                 .cast("bigint").alias("_tie2x")))
    j = (nobs.join(s, "_k").join(ties, "_k"))
    n0x2 = (F.col("n_obs") * (F.col("n_obs") - 1)).cast("double")
    denom = F.sqrt((n0x2 - F.col("_tie2x").cast("double")) * n0x2)
    return j.select(
        F.col("_k").alias(key), "n_obs", "s_stat",
        (F.col("_tie2x") / F.lit(2)).cast("bigint").alias("tie_t"),
        F.when(denom > 0,
               F.lit(2.0) * F.col("s_stat").cast("double") / denom)
        .alias("tau_b"))


def cusum_scan(
    df: DataFrame,
    key: str,
    value: Column,
    order_by: Sequence[str],
    target: int,
    threshold: int,
) -> DataFrame:
    """One-sided (high-side) CUSUM change detection per key: the classic
    control chart ``s_t = max(0, s_{t-1} + (x_t − target))``, alerting
    when any ``s_t ≥ threshold`` — "did this user's/metric's level shift
    upward mid-stream?".

    The recurrence looks inherently sequential, but it has a prefix-sum
    closed form: with ``S_t = Σ_{i≤t}(x_i − target)`` and ``S_0 = 0``,

        s_t = S_t − min(0, min_{j≤t} S_j)

    so the whole scan is TWO expanding-frame window expressions (running
    sum, then running min of it) over one per-key sort — O(n), no fold,
    no UDF — and every value is an exact bigint (pass integer cents), so
    the output hash-matches any engine. Keys partition the sort: no
    single-reducer stage; a key's rows must fit a sort spill, which the
    sort-based window guarantees.

    Returns (key, n, final_cusum, max_cusum, alert).
    """
    d = (value.cast("bigint") - F.lit(int(target))).alias("_d")
    base = df.where(value.isNotNull()).select(key, *order_by, d)
    w = (
        Window.partitionBy(key).orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = base.withColumn("_s", F.sum("_d").over(w))
    # running min of the running sum needs a second window pass over the
    # SAME partitioning+order — Catalyst reuses the sort, no new exchange
    c = s.withColumn(
        "_c",
        F.col("_s")
        - F.least(F.lit(0).cast("bigint"), F.min("_s").over(w)),
    )
    return c.groupBy(key).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        # final s_n = S_n − min(0, min_t S_t): both terms are plain
        # aggregates of the windowed columns — no "last row" lookup
        (F.sum("_d") - F.least(F.lit(0).cast("bigint"), F.min("_s")))
        .cast("bigint").alias("final_cusum"),
        F.max("_c").cast("bigint").alias("max_cusum"),
    ).withColumn("alert", F.col("max_cusum") >= F.lit(int(threshold)))


def auc_rank(
    df: DataFrame,
    key: str,
    score: Column,
    label: Column,
    bucket_width: int = 1024,
    min_each: int = 1,
) -> DataFrame:
    """Per-group ROC AUC of ``score`` separating ``label`` true/false —
    the Mann–Whitney U statistic with ties counted half, i.e. the
    probability a random positive outscores a random negative. The
    "does this quality score actually rank good docs above bad ones?"
    gate of a curation pipeline.

    Plan: ONE shuffle to per-(key, distinct score) positive/negative
    counts, then the same two-level :func:`bucketed_cumsum` prefix scan
    as KS — never a per-row rank window. With ``cum_neg_lt(v)`` the
    negatives strictly below v:

        U = Σ_v  n_pos(v)·cum_neg_lt(v) + n_pos(v)·n_neg(v)/2

    summed as doubled-U to stay integral. Products run in DOUBLE
    (cast-before-product discipline); each term is an integer-valued
    double, so the sum is EXACT and order-independent while
    2U < 2^53 — i.e. up to ~10^8 rows per group per side, beyond which
    only the last bits of a statistic in [0,1] wobble. Groups with
    fewer than ``min_each`` rows on either side are dropped.

    Returns (key, n_pos, n_neg, auc).
    """
    vi = score.cast("bigint")
    per_v = (
        df.where(vi.isNotNull() & label.isNotNull())
        .groupBy(key, vi.alias("v"))
        .agg(
            F.sum(F.when(label, 1).otherwise(0)).cast("bigint").alias("np"),
            F.sum(F.when(label, 0).otherwise(1)).cast("bigint").alias("nn"),
        )
    )
    cums = bucketed_cumsum(per_v, key, ["np", "nn"],
                           bucket_width=bucket_width)
    npd = F.col("np").cast("double")
    term = (
        F.lit(2.0) * npd * (F.col("cum_nn") - F.col("nn"))
        + npd * F.col("nn")
    )
    g = cums.groupBy(key).agg(
        F.sum("np").cast("bigint").alias("n_pos"),
        F.sum("nn").cast("bigint").alias("n_neg"),
        F.sum(term).alias("_u2"),
    )
    return (
        g.where((F.col("n_pos") >= min_each) & (F.col("n_neg") >= min_each))
        .select(
            key, "n_pos", "n_neg",
            (F.col("_u2")
             / (F.lit(2.0) * F.col("n_pos").cast("double")
                * F.col("n_neg"))).alias("auc"),
        )
    )


def cusum_partials(
    df: DataFrame,
    key: str,
    epoch: Column,
    value: Column,
    order_by: Sequence[str],
    target: int,
) -> DataFrame:
    """Per (key, epoch-segment) CUSUM MONOID partials — the mergeable
    form of :func:`cusum_scan` for data that arrives in time-contiguous
    segments (date-partitioned parquet, daily batches): each segment is
    scanned independently (no global per-key sort), and
    :func:`cusum_merge` composes the segment states in epoch order.

    The state per segment, over d_t = x_t − target with prefix sums S_t:

        (s = Σd,  m = min_t S_t,  big_m = max_t S_t,
         g = max_t (S_t − min_{j≤t} S_j))

    is associative under segment concatenation (A then B):

        s = sA+sB;  m = min(mA, sA+mB);  big_m = max(MA, sA+MB);
        g = max(gA, gB, sA + MB − mA)

    so day-partitioned scans compose EXACTLY into the full-stream CUSUM
    without re-sorting the corpus — the scan becomes embarrassingly
    parallel across segments. ``epoch`` must be monotone in the event
    order (e.g. floor(epoch_sec/86400)); segments must not interleave.

    Returns (key, epoch, n, s, m, big_m, g) — all exact bigint.
    """
    d = (value.cast("bigint") - F.lit(int(target))).alias("_d")
    base = df.where(value.isNotNull()).select(
        key, epoch.cast("bigint").alias("epoch"), *order_by, d)
    w = (
        Window.partitionBy(key, "epoch").orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = base.withColumn("_s", F.sum("_d").over(w))
    c = s.withColumn("_gap", F.col("_s") - F.min("_s").over(w))
    return c.groupBy(key, "epoch").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_d").cast("bigint").alias("s"),
        F.min("_s").cast("bigint").alias("m"),
        F.max("_s").cast("bigint").alias("big_m"),
        F.max("_gap").cast("bigint").alias("g"),
    )


def cusum_merge(
    partials: DataFrame,
    key: str,
    threshold: int,
) -> DataFrame:
    """Fold per-segment CUSUM monoid states (from :func:`cusum_partials`)
    in epoch order into the exact full-stream readout — identical output
    contract to :func:`cusum_scan` (key, n, final_cusum, max_cusum,
    alert), proving segment-parallel == global scan.

    The fold is per key over its EPOCH-count-sized state list (bounded:
    days, not rows) via a left-to-right aggregate() — first segment as
    the init, so no ±infinity identity element is needed.
    """
    collected = partials.groupBy(key).agg(
        F.sum("n").cast("bigint").alias("n"),
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("epoch", "s", "m", "big_m", "g"))),
            lambda x: F.struct(
                x["s"].alias("s"), x["m"].alias("m"),
                x["big_m"].alias("big_m"), x["g"].alias("g")),
        ).alias("_states"),
    )
    st = F.col("_states")
    merged = collected.select(
        key, "n",
        F.aggregate(
            F.slice(st, F.lit(2), F.greatest(F.size(st) - 1, F.lit(0))),
            F.element_at(st, 1),
            lambda acc, x: F.struct(
                (acc["s"] + x["s"]).alias("s"),
                F.least(acc["m"], acc["s"] + x["m"]).alias("m"),
                F.greatest(acc["big_m"],
                           acc["s"] + x["big_m"]).alias("big_m"),
                F.greatest(acc["g"], x["g"],
                           acc["s"] + x["big_m"] - acc["m"]).alias("g"),
            ),
        ).alias("_st"),
    )
    return merged.select(
        key, "n",
        (F.col("_st.s")
         - F.least(F.lit(0).cast("bigint"), F.col("_st.m")))
        .cast("bigint").alias("final_cusum"),
        F.greatest(F.col("_st.big_m"), F.col("_st.g"))
        .cast("bigint").alias("max_cusum"),
    ).withColumn("alert", F.col("max_cusum") >= F.lit(int(threshold)))


def changepoint_binseg(df: DataFrame, key: str, ts_col: str,
                       value_col: str | None = None,
                       bucket: str = "hour") -> DataFrame:
    """Best single changepoint per key (binary segmentation, depth 1 —
    Scott & Knott 1974's split step): over the per-``bucket`` series of
    counts (or sums of ``value_col``), the split t that maximizes the
    SSE reduction of a two-segment piecewise-constant fit. Via prefix
    sums the gain needs no per-split re-aggregation:

        gain(t) = S_t²/t + (S_n−S_t)²/(n−t) − S_n²/n

    (the between-segment term of the variance decomposition — SSE drop
    without ever computing squares of the values).

    Scale shape: ONE corpus aggregate to per-(key, bucket) integer
    sums (map-side combine), then per-key windows over the
    BUCKET-CARDINALITY series (hours of history — bounded; never the
    corpus). All sufficient stats are exact integers; every double is
    derived from them with a fixed cast/op order, so the argmax agrees
    bit-for-bit with the oracle (ties broken by smaller t). Keys whose
    series has a single bucket have no valid split and are absent.

    Returns (key, n_buckets, split_t, split_ts, gain, mean_left,
    mean_right): split_t = series index of the LAST point of the left
    segment, split_ts its bucket timestamp.
    """
    v = F.count(F.lit(1)).cast("bigint") if value_col is None \
        else F.sum(F.col(value_col).cast("bigint"))
    per = (
        df.groupBy(F.col(key),
                   F.date_trunc(bucket, F.col(ts_col)).alias("_win"))
        .agg(v.alias("_v"))
    )
    w = Window.partitionBy(key).orderBy("_win")
    wall = Window.partitionBy(key)
    s = per.select(
        key, "_win",
        F.row_number().over(w).alias("_t"),
        F.sum("_v").over(w).alias("_s"),          # inclusive prefix sum
        F.count(F.lit(1)).over(wall).alias("_n"),
        F.sum("_v").over(wall).alias("_tot"),
    ).where(F.col("_t") < F.col("_n"))
    st = F.col("_s").cast("double")
    t = F.col("_t").cast("double")
    sn = F.col("_tot").cast("double")
    n = F.col("_n").cast("double")
    g = (st * st / t + (sn - st) * (sn - st) / (n - t)
         - sn * sn / n)
    gained = s.select(
        key, "_win", "_t", "_n", "_s", "_tot", g.alias("gain"))
    ranked = gained.withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy(key)
            .orderBy(F.col("gain").desc(), "_t")))
    return ranked.where(F.col("_rk") == 1).select(
        key,
        F.col("_n").alias("n_buckets"),
        F.col("_t").alias("split_t"),
        F.col("_win").alias("split_ts"),
        "gain",
        (F.col("_s").cast("double") / F.col("_t").cast("double"))
        .alias("mean_left"),
        ((F.col("_tot") - F.col("_s")).cast("double")
         / (F.col("_n") - F.col("_t")).cast("double")).alias("mean_right"),
    )


def levene_test(
    df: DataFrame,
    key: str,
    value: Column,
) -> DataFrame:
    """Brown–Forsythe test of variance homogeneity across ``key`` groups
    — "is the SPREAD (not the mean) of this metric drifting between
    cohorts?", the robust companion to :func:`welch_ttest`/``anova_f``
    which compare locations. Classic Levene centers on the mean; the
    Brown–Forsythe variant centers on the MEDIAN, which keeps every
    intermediate an exact integer and is the recommended form for
    skewed data anyway (Brown & Forsythe 1974).

    Pass an INTEGER-valued ``value`` (cents / rebased units). Per-group
    LOWER medians come from per-key cumulative counts over the distinct
    value frame — the window is PARTITIONED by key (never global), and
    the lower median (element at 1-indexed position ``(n+1) div 2``)
    is a corpus value, so the deviations ``z = |v - med|`` stay exact
    integers. The F statistic on z is then literally
    :func:`~logpipe_spark.operators.aggregate.anova_f` — same
    sufficient-stats decomposition, same ordered k-term fold, same
    cross-engine bit-exactness. ``div`` truncation vs DuckDB ``//``
    floor agree here because both operands are positive.

    Plan: one (key, v) count shuffle → partitioned cumsum on the
    distinct-value frame → broadcast-sized median frame joined back →
    anova_f's single map-side-combinable aggregate. Returns ONE row
    ``(n, k, ss_between, ss_within, f_stat)``; large f ⇒ at least one
    group's dispersion differs.
    """
    from .aggregate import anova_f

    vi = value.cast("bigint")
    base = (df.where(vi.isNotNull() & F.col(key).isNotNull())
            .select(F.col(key).alias("_k"), vi.alias("_v")))
    per_kv = base.groupBy("_k", "_v").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c"))
    w_cum = (Window.partitionBy("_k").orderBy("_v")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.partitionBy("_k")
    cum = per_kv.select(
        "_k", "_v",
        F.sum("_c").over(w_cum).cast("bigint").alias("_cum"),
        F.sum("_c").over(w_all).cast("bigint").alias("_nj"))
    # lower-median 1-indexed position (n+1) div 2: the double quotient
    # is exact below 2^52 and the bigint cast truncates == positive div
    pos = ((F.col("_nj") + F.lit(1)) / F.lit(2)).cast("bigint")
    med = (cum.where(F.col("_cum") >= pos)
           .groupBy("_k").agg(F.min("_v").alias("_med")))
    z = (base.join(F.broadcast(med), "_k")
         .select("_k", F.abs(F.col("_v") - F.col("_med")).alias("_z")))
    return anova_f(z, "_k", F.col("_z"))


def pr_auc(
    df: DataFrame,
    key: str,
    score: Column,
    label: Column,
    score_bucket: int = 64,
    min_pos: int = 1,
) -> DataFrame:
    """Per-group average precision (area under the precision–recall
    curve, step-interpolated like sklearn's ``average_precision``) —
    the imbalanced-data companion to :func:`auc_rank`: ROC AUC stays
    optimistic when positives are rare, PR-AUC does not.

    Thresholds are QUANTIZED to fixed-width score buckets
    (``floor(score / score_bucket)`` via double division, which floors
    identically for negative scores in both engines — integer div/``//``
    would not). That bounds the threshold set by the score RANGE, not
    the corpus, so (a) the per-key cumulative tp/predicted-positive
    scan runs on a bounded partitioned frame and (b) the final sum is a
    k-term ordered fold (descending threshold) exactly replayed by
    DuckDB's ``list_reduce`` — with ``ΔR_t = np_t/Pos``:

        AP = Σ_t np_t · tp_t/(tp_t+fp_t)  / Pos

    Every term mixes the same exact integers into one double in both
    engines; only the sum needs the ordered fold. Groups with fewer
    than ``min_pos`` positives are dropped (AP undefined).

    Returns ``(key, n_pos, n_neg, n_thresholds, ap)``.
    """
    vi = score.cast("bigint")
    b = F.floor(vi / F.lit(float(score_bucket))).cast("bigint")
    per_b = (
        df.where(vi.isNotNull() & label.isNotNull())
        .groupBy(key, b.alias("_b"))
        .agg(
            F.sum(F.when(label, 1).otherwise(0)).cast("bigint").alias("np"),
            F.sum(F.when(label, 0).otherwise(1)).cast("bigint").alias("nn"),
        )
    )
    w = (Window.partitionBy(key).orderBy(F.col("_b").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = per_b.select(
        key, "_b", "np", "nn",
        F.sum("np").over(w).cast("bigint").alias("_tp"),
        F.sum(F.col("np") + F.col("nn")).over(w).cast("bigint").alias("_pp"))
    t = c.select(
        key, "_b", "np", "nn",
        (F.col("np").cast("double") * F.col("_tp") / F.col("_pp"))
        .alias("_term"))
    g = t.groupBy(key).agg(
        F.sum("np").cast("bigint").alias("n_pos"),
        F.sum("nn").cast("bigint").alias("n_neg"),
        F.count(F.lit(1)).cast("bigint").alias("n_thresholds"),
        F.aggregate(
            F.transform(
                F.reverse(F.sort_array(F.collect_list(
                    F.struct("_b", "_term")))),
                lambda x: x["_term"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_s"))
    return (g.where(F.col("n_pos") >= min_pos)
            .select(key, "n_pos", "n_neg", "n_thresholds",
                    (F.col("_s") / F.col("n_pos").cast("double"))
                    .alias("ap")))


def wilcoxon_signed(
    pairs: DataFrame,
    key: str,
    diff: Column,
) -> DataFrame:
    """Wilcoxon signed-rank test per ``key`` group over paired INTEGER
    differences (cents / micros — the caller builds one row per pair).

    The matched-pairs companion to :func:`mann_whitney_u`: "did metric A
    systematically exceed metric B for the same subject?" without a
    normality assumption. Zero differences are dropped (standard
    practice); |d| ranks are tie-averaged and DOUBLED so they stay
    integral (``2*rbar = 2*start + t + 1``), accumulated in
    DECIMAL(38,0) per the int64-overflow discipline. The normal
    approximation composes in doubles from the same exact operands in
    the same order as the DuckDB oracle:

        mu2  = n(n+1)/2                      (E[2W+])
        var2 = n(n+1)(2n+1)/6 - T/12         (Var[2W+], T = sum(t^3 - t))
        z    = (2W+ - mu2) / sqrt(var2)

    The rank scan windows on the per-(key, |d|) DISTINCT-value frame —
    corpus order vanishes in the first map-side-combinable shuffle, and
    the window frame is value-cardinality-sized per group, never a
    single-reducer corpus scan.

    Returns ``(key, n_pairs, w2_plus, z)``; ``z`` is NULL when the
    variance degenerates (fewer than 2 usable pairs).
    """
    d = "decimal(38,0)"
    base = (pairs.where(diff.isNotNull() & (diff != 0)
                        & F.col(key).isNotNull())
            .select(F.col(key).alias("_k"),
                    F.abs(diff).cast("bigint").alias("_a"),
                    (diff > 0).alias("_pos")))
    per_a = base.groupBy("_k", "_a").agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.sum(F.when(F.col("_pos"), 1).otherwise(0))
        .cast("bigint").alias("tp"))
    w = (Window.partitionBy("_k").orderBy("_a")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    r = per_a.select(
        "_k", "t", "tp",
        (2 * (F.sum("t").over(w) - F.col("t")) + F.col("t") + 1)
        .cast("bigint").alias("r2"))
    td = F.col("t").cast(d)
    g = r.groupBy("_k").agg(
        F.sum("t").cast("bigint").alias("n_pairs"),
        F.sum(F.col("tp").cast(d) * F.col("r2").cast(d)).cast(d)
        .alias("_w2p"),
        F.sum(td * td * td - td).cast(d).alias("_tt"))
    nd = F.col("n_pairs").cast("double")
    mu2 = nd * (nd + F.lit(1.0)) / F.lit(2.0)
    var2 = (nd * (nd + F.lit(1.0)) * (F.lit(2.0) * nd + F.lit(1.0))
            / F.lit(6.0) - F.col("_tt").cast("double") / F.lit(12.0))
    w2p = F.col("_w2p").cast("double")
    return g.select(
        F.col("_k").alias(key), "n_pairs",
        w2p.alias("w2_plus"),
        F.when(var2 > 0, (w2p - mu2) / F.sqrt(var2)).alias("z"))


def runs_test(
    df: DataFrame,
    key: str,
    order: Sequence[str],
    value: Column,
) -> DataFrame:
    """Wald–Wolfowitz runs test per ``key`` group: is the sequence of
    above/below-median signs RANDOM in ``order``, or does it cluster
    (regime persistence) / alternate (oscillation)?

    The sign threshold is the group's DISCRETE lower median (smallest
    value whose cumulative count reaches ``(n+1) div 2`` over the
    per-distinct-value frame — integer-exact in both engines, the
    percentiles_disc pattern); rows EQUAL to the median are dropped
    (standard practice). The run count is ``1 + sum(sign != lag sign)``
    via one lag window per group in deterministic ``order`` (callers
    pass a tie-free ordering, e.g. ``(ts, event_id)``). The normal
    approximation composes in doubles from exact integers, identically
    ordered in the DuckDB oracle (``p = 2*n1*n2``):

        mu  = p/n + 1
        var = p*(p - n) / (n^2 * (n-1))
        z   = (R - mu) / sqrt(var)

    Returns ``(key, n_pos, n_neg, n_runs, z)``; ``z`` NULL when the
    variance degenerates (p == n, i.e. a 1x1 split).
    """
    vi = value.cast("bigint")
    base = (df.where(vi.isNotNull() & F.col(key).isNotNull())
            .select(F.col(key).alias("_k"), *order, vi.alias("_v")))
    per_v = base.groupBy("_k", "_v").agg(
        F.count(F.lit(1)).cast("bigint").alias("t"))
    tot = per_v.groupBy("_k").agg(F.sum("t").cast("bigint").alias("_n"))
    wv = (Window.partitionBy("_k").orderBy("_v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = per_v.select("_k", "_v", F.sum("t").over(wv).alias("_cum"))
    med = (cum.join(tot, "_k")
           .groupBy("_k")
           .agg(F.min(F.when(
               F.col("_cum") >= F.expr("(_n + 1) div 2"),
               F.col("_v"))).alias("_med")))
    s = (base.join(med, "_k")
         .where(F.col("_v") != F.col("_med"))
         .select("_k", *order, (F.col("_v") > F.col("_med")).alias("_s")))
    wo = Window.partitionBy("_k").orderBy(*order)
    chg = s.select(
        "_k", "_s",
        F.when(F.lag("_s").over(wo).isNull(), 1)
        .when(F.col("_s") != F.lag("_s").over(wo), 1)
        .otherwise(0).cast("bigint").alias("_chg"))
    g = chg.groupBy("_k").agg(
        F.sum(F.when(F.col("_s"), 1).otherwise(0)).cast("bigint")
        .alias("n_pos"),
        F.sum(F.when(F.col("_s"), 0).otherwise(1)).cast("bigint")
        .alias("n_neg"),
        F.sum("_chg").cast("bigint").alias("n_runs"))
    nd = (F.col("n_pos") + F.col("n_neg")).cast("double")
    p = F.lit(2.0) * F.col("n_pos").cast("double") * F.col("n_neg").cast("double")
    mu = p / nd + F.lit(1.0)
    var = p * (p - nd) / (nd * nd * (nd - F.lit(1.0)))
    return (g.where((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
            .select(F.col("_k").alias(key), "n_pos", "n_neg", "n_runs",
                    F.when(var > 0,
                           (F.col("n_runs").cast("double") - mu)
                           / F.sqrt(var)).alias("z")))


def cliffs_delta(
    df: DataFrame,
    key: str,
    value: Column,
    label: Column,
) -> DataFrame:
    """Cliff's delta effect size per ``key`` group: P(x > y) - P(x < y)
    for positive-label x vs negative-label y — the ORDINAL effect-size
    companion to :func:`auc_rank` (delta = 2*AUC - 1 under no ties, but
    reported on its own [-1, 1] scale with ties counted in neither
    direction, the published definition).

    Same scan shape as auc_rank: per-(key, distinct value) pos/neg
    counts, one cumulative window over the value-cardinality frame,
    then gt/lt pair counts accumulate as DECIMAL(38,0) products (the
    int64-overflow discipline — n1*n2 at corpus scale overflows long
    before either count does). delta is ONE double division of the
    exact pair counts.

    Returns ``(key, n_pos, n_neg, delta)`` for groups with both labels.
    """
    d = "decimal(38,0)"
    vi = value.cast("bigint")
    base = (df.where(vi.isNotNull() & label.isNotNull()
                     & F.col(key).isNotNull())
            .select(F.col(key).alias("_k"), vi.alias("_v"),
                    F.when(label, 1).otherwise(0).alias("_pos")))
    pv = base.groupBy("_k", "_v").agg(
        F.sum("_pos").cast("bigint").alias("np"),
        F.sum(1 - F.col("_pos")).cast("bigint").alias("nn"))
    w = (Window.partitionBy("_k").orderBy("_v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = pv.select(
        "_k", "np", "nn",
        F.sum("nn").over(w).cast("bigint").alias("_cumn"))
    # pairs tied on value sit in NEITHER direction (the published
    # definition), so lt = n1*n2 - gt - ties
    j = c.groupBy("_k").agg(
        F.sum("np").cast("bigint").alias("n_pos"),
        F.sum("nn").cast("bigint").alias("n_neg"),
        F.sum(F.col("np").cast(d)
              * (F.col("_cumn") - F.col("nn")).cast(d)).cast(d)
        .alias("_gt"),
        F.sum(F.col("np").cast(d) * F.col("nn").cast(d)).cast(d)
        .alias("_ties"))
    gtd = F.col("_gt").cast("double")
    ltd = (F.col("n_pos").cast(d) * F.col("n_neg").cast(d)
           - F.col("_gt") - F.col("_ties")).cast("double")
    return (j.where((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
            .select(F.col("_k").alias(key), "n_pos", "n_neg",
                    ((gtd - ltd)
                     / (F.col("n_pos").cast("double")
                        * F.col("n_neg").cast("double"))).alias("delta")))


def kuiper_drift(
    df: DataFrame,
    key: str,
    value: Column,
    sample_a: Column,
    bucket_width: int = 1024,
    min_n: int = 1,
) -> DataFrame:
    """Kuiper two-sample statistic per group: V = D+ + D- where D+ is
    the max SIGNED CDF excess of sample A over B and D- the reverse.

    The cyclic-sensitive sibling of :func:`ks_drift`: KS concentrates
    power at the distribution median and goes blind near the tails,
    Kuiper weighs shifts anywhere equally — the right gate for
    diurnal/phase drift. Same per-(key, distinct value) collapse and
    two-level bucketed prefix scan as KS; D+ and D- are maxima of
    divisions of exact integer cumulatives (both >= 0 because the
    pooled support's last value pins both CDFs to 1), and V is one
    double add of those two maxima — bit-identical cross-engine.

    Returns ``(key, n_a, n_b, d_plus, d_minus, kuiper)``.
    """
    per_v = _two_sample_counts(df, key, value, sample_a)
    return kuiper_from_counts(per_v, key, bucket_width=bucket_width,
                              min_n=min_n)


def kuiper_from_counts(
    per_v: DataFrame,
    key: str,
    bucket_width: int = 1024,
    min_n: int = 1,
) -> DataFrame:
    """Kuiper V from a pre-aggregated (key, v, ca, cb) count frame — the
    mergeable-partial entry point, sharing the exact state shape of
    :func:`ks_from_counts`: the SAME accumulated streaming/sharded
    counts serve both statistics (the streaming drift monitor's
    ``read_kuiper`` readout rides this)."""
    cums = bucketed_cumsum(
        per_v, key, ["ca", "cb"], bucket_width=bucket_width
    ).select(key, "v",
             F.col("cum_ca").alias("cuma"),
             F.col("cum_cb").alias("cumb"))
    totals = per_v.groupBy(key).agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"))
    gaps = (cums.join(F.broadcast(totals), key)
            .where((F.col("n_a") >= min_n) & (F.col("n_b") >= min_n)))
    g = gaps.groupBy(key, "n_a", "n_b").agg(
        F.max(F.col("cuma") / F.col("n_a") - F.col("cumb") / F.col("n_b"))
        .alias("d_plus"),
        F.max(F.col("cumb") / F.col("n_b") - F.col("cuma") / F.col("n_a"))
        .alias("d_minus"))
    return g.select(key, "n_a", "n_b", "d_plus", "d_minus",
                    (F.col("d_plus") + F.col("d_minus")).alias("kuiper"))


def runs_partials(
    df: DataFrame,
    key: str,
    seg: Column,
    order: Sequence[str],
    value: Column,
) -> DataFrame:
    """Segment-parallel partials for :func:`runs_test` — the run count
    is a MONOID over ordered segments: per segment keep
    ``(n_pos, n_neg, n_runs, first_sign, last_sign)``; concatenating
    two segments merges one run exactly when the boundary signs match,
    so

        runs(A ++ B) = runs(A) + runs(B) - [last(A) == first(B)]

    (:func:`runs_merge` applies this along the segment order — the
    cusum_partials/merge discipline: windows bounded by a segment, one
    segment-cardinality merge scan, same answer as the full-stream
    scan, which the shared oracle proves). The sign threshold is the
    key's GLOBAL discrete lower median — computed exactly as
    :func:`runs_test` does, one distinct-value pass.

    ``seg`` must be monotone in ``order`` (e.g. the day of the
    ordering timestamp). Returns one row per (key, seg).
    """
    vi = value.cast("bigint")
    base = (df.where(vi.isNotNull() & F.col(key).isNotNull())
            .select(F.col(key).alias("_k"), seg.alias("_seg"),
                    *order, vi.alias("_v")))
    per_v = base.groupBy("_k", "_v").agg(
        F.count(F.lit(1)).cast("bigint").alias("t"))
    tot = per_v.groupBy("_k").agg(F.sum("t").cast("bigint").alias("_n"))
    wv = (Window.partitionBy("_k").orderBy("_v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = per_v.select("_k", "_v", F.sum("t").over(wv).alias("_cum"))
    med = (cum.join(tot, "_k")
           .groupBy("_k")
           .agg(F.min(F.when(
               F.col("_cum") >= F.expr("(_n + 1) div 2"),
               F.col("_v"))).alias("_med")))
    s = (base.join(med, "_k")
         .where(F.col("_v") != F.col("_med"))
         .select("_k", "_seg", *order, (F.col("_v") > F.col("_med"))
                 .alias("_s")))
    wo = Window.partitionBy("_k", "_seg").orderBy(*order)
    chg = s.select(
        "_k", "_seg", "_s",
        F.struct(*order, F.col("_s").alias("_sv")).alias("_row"),
        F.when(F.lag("_s").over(wo).isNull(), 1)
        .when(F.col("_s") != F.lag("_s").over(wo), 1)
        .otherwise(0).cast("bigint").alias("_chg"))
    return chg.groupBy("_k", "_seg").agg(
        F.sum(F.when(F.col("_s"), 1).otherwise(0)).cast("bigint")
        .alias("n_pos"),
        F.sum(F.when(F.col("_s"), 0).otherwise(1)).cast("bigint")
        .alias("n_neg"),
        F.sum("_chg").cast("bigint").alias("n_runs"),
        F.min("_row")["_sv"].alias("first_sign"),
        F.max("_row")["_sv"].alias("last_sign"))


def runs_merge(partials: DataFrame, key: str = "_k") -> DataFrame:
    """Compose :func:`runs_partials` along the segment order and emit
    the identical (key, n_pos, n_neg, n_runs, z) frame as
    :func:`runs_test` over the full stream — the merge==scan proof is
    the shared oracle. The merge scans the SEGMENT-cardinality frame
    (days, not rows)."""
    wo = Window.partitionBy(key).orderBy("_seg")
    m = partials.select(
        key, "n_pos", "n_neg", "n_runs",
        F.when(F.lag("last_sign").over(wo) == F.col("first_sign"), 1)
        .otherwise(0).cast("bigint").alias("_joined"))
    g = m.groupBy(key).agg(
        F.sum("n_pos").cast("bigint").alias("n_pos"),
        F.sum("n_neg").cast("bigint").alias("n_neg"),
        (F.sum("n_runs") - F.sum("_joined")).cast("bigint")
        .alias("n_runs"))
    nd = (F.col("n_pos") + F.col("n_neg")).cast("double")
    p = (F.lit(2.0) * F.col("n_pos").cast("double")
         * F.col("n_neg").cast("double"))
    mu = p / nd + F.lit(1.0)
    var = p * (p - nd) / (nd * nd * (nd - F.lit(1.0)))
    return (g.where((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
            .select(F.col(key), "n_pos", "n_neg", "n_runs",
                    F.when(var > 0,
                           (F.col("n_runs").cast("double") - mu)
                           / F.sqrt(var)).alias("z")))


def _support_guard(term: Column, max_support: int, op: str) -> Column:
    """Structural bounded-support precondition for the ordered-fold EDF
    statistics: the per-key sum is a ``collect_list`` fold over the
    distinct value support, so an unbucketed caller (raw doubles →
    corpus-sized support) would OOM a task at scale. The guard wraps
    each per-(key, v) term with an ANSI-loud ``raise_error`` that fires
    WHILE SCANNING the count frame — row-wise, before any list
    accumulates — whenever the key's distinct-value count (carried on
    the broadcast totals join as ``_support_n``) exceeds
    ``max_support``. Zero cost on the happy path (one comparison per
    support row); the support count rides the totals aggregation, no
    extra shuffle."""
    return F.when(
        F.col("_support_n") <= F.lit(max_support), term
    ).otherwise(F.raise_error(F.concat(
        F.lit(f"{op}: per-key distinct value support ("),
        F.col("_support_n").cast("string"),
        F.lit(f") exceeds max_support={max_support}; bucket the value "
              "to a bounded support (e.g. floor(x*100 + 0.5)), use "
              "drift_panel(pre_bucket=...), or the order-free "
              "wasserstein/energy statistics"))))


def hellinger_from_counts(
    per_v: DataFrame,
    key: str,
    min_n: int = 1,
    max_support: int = 262_144,
) -> DataFrame:
    """Hellinger distance from a pre-aggregated (key, v, ca, cb) count
    frame — the SAME mergeable state that feeds :func:`ks_from_counts`
    and :func:`kuiper_from_counts`, so one accumulated drift-monitor
    readout serves all three statistics.

    H = sqrt(0.5 * sum_v (sqrt(ca_v/n_a) - sqrt(cb_v/n_b))^2), the
    bounded-[0,1] f-divergence that, unlike PSI/KL/JS, needs NO
    logarithm: every emitted double is divisions of exact int64 counts,
    correctly-rounded IEEE sqrt, subtraction, and multiplication —
    bit-identical cross-engine. The per-key sum is an ordered fold over
    the value support (collect_list sorted by v, replayed by DuckDB
    list_reduce), so callers must bucket the value to a BOUNDED support
    per key (the ks/kuiper bucket discipline); the corpus itself never
    funnels — only the per-(key, distinct v) count frame does.

    Returns ``(key, n_a, n_b, hellinger)``.

    ``max_support`` is a structural guard (see :func:`_support_guard`):
    a key whose distinct-value support exceeds it raises loudly before
    any fold materializes, instead of OOMing a task at scale.
    """
    totals = per_v.groupBy(key).agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
        F.count(F.lit(1)).cast("bigint").alias("_support_n"))
    j = (per_v.join(F.broadcast(totals), key)
         .where((F.col("n_a") >= min_n) & (F.col("n_b") >= min_n)))
    term = (
        F.sqrt(F.col("ca").cast("double") / F.col("n_a"))
        - F.sqrt(F.col("cb").cast("double") / F.col("n_b"))
    )
    folded = (j.select(key, "n_a", "n_b", F.col("v").alias("_v"),
                       _support_guard(term * term, max_support,
                                      "hellinger_from_counts")
                       .alias("_t"))
              .groupBy(key, "n_a", "n_b")
              .agg(F.aggregate(
                  F.transform(
                      F.sort_array(F.collect_list(F.struct("_v", "_t"))),
                      lambda x: x["_t"]),
                  F.lit(0.0), lambda acc, x: acc + x).alias("_s")))
    return folded.select(
        key, "n_a", "n_b",
        F.sqrt(F.col("_s") * F.lit(0.5)).alias("hellinger"))


def hellinger_drift(
    df: DataFrame,
    key: str,
    value: Column,
    sample_a: Column,
    min_n: int = 1,
    max_support: int = 262_144,
) -> DataFrame:
    """Two-sample Hellinger drift per group: collapse the corpus to per
    (key, distinct value) counts for each sample (one map-side-combinable
    shuffle — within-value order vanishes before any float op), then
    :func:`hellinger_from_counts`. ``value`` should already be bucketed
    to a bounded support (e.g. ``floor(x*100 + 0.5)``)."""
    per_v = _two_sample_counts(df, key, value, sample_a)
    return hellinger_from_counts(per_v, key, min_n=min_n,
                                 max_support=max_support)


def friedman_test(
    df: DataFrame,
    block: Column,
    treatment: Column,
) -> DataFrame:
    """Friedman rank test across treatments within blocks, on the
    zero-filled (block x treatment) event-count grid — "does at least
    one event type run consistently hotter across days?" without any
    normality assumption (the k-sample repeated-measures sibling of
    kruskal_wallis).

    The cell metric is the exact int64 count; missing cells genuinely
    mean zero events, so the grid (distinct blocks x distinct
    treatments, a broadcast cross of two metadata-sized frames) is
    complete by construction — the complete-block requirement Friedman
    needs. Tie-averaged within-block ranks stay INTEGER as
    tr2 = 2*rank_min + ties - 1 (the spearman discipline), and the
    tie-corrected statistic

        Q = (k-1) * sum_j d_j^2 / (sum tr2^2 - n*k*(k+1)^2),
        d_j = R2_j - n*(k+1)

    is integer arithmetic end-to-end — the /4 of ranks-halved cancels
    between numerator and denominator — with ONE final double division.
    Exactness bound: d_j^2 <= (2nk)^2 stays in int64 up to n*k ~ 1.5e9
    cells; beyond that swap the bigint sums for DECIMAL(38,0) — ANSI
    mode fails loudly, never silently wraps.

    Returns one row: ``(k, n_blocks, q_stat)``.
    """
    base = (df.where(block.isNotNull() & treatment.isNotNull())
            .select(block.alias("_b"), treatment.alias("_t")))
    cells = base.groupBy("_b", "_t").agg(
        F.count(F.lit(1)).cast("bigint").alias("_m"))
    blocks = cells.select("_b").distinct()
    treats = cells.select("_t").distinct()
    grid = (blocks.crossJoin(F.broadcast(treats))
            .join(cells, ["_b", "_t"], "left")
            .select("_b", "_t",
                    F.coalesce(F.col("_m"), F.lit(0))
                    .cast("bigint").alias("_m")))
    wr = Window.partitionBy("_b").orderBy("_m")
    wt = Window.partitionBy("_b", "_m")
    ranked = grid.select(
        "_b", "_t",
        (F.lit(2) * F.rank().over(wr).cast("bigint")
         + F.count(F.lit(1)).over(wt).cast("bigint") - 1).alias("_tr2"))
    per_t = ranked.groupBy("_t").agg(
        F.sum("_tr2").cast("bigint").alias("_r2"),
        F.sum(F.col("_tr2") * F.col("_tr2")).cast("bigint").alias("_sq"),
        F.count(F.lit(1)).cast("bigint").alias("_n"))
    d = F.col("_r2") - F.col("_n") * (F.col("_k") + F.lit(1))
    s = (per_t.crossJoin(F.broadcast(
            treats.agg(F.count(F.lit(1)).cast("bigint").alias("_k"))))
         .select("_n", "_k",
                 (d * d).alias("_d2"), "_sq")
         .groupBy("_n", "_k")
         .agg(F.sum("_d2").cast("bigint").alias("_num"),
              F.sum("_sq").cast("bigint").alias("_ssq")))
    den = (F.col("_ssq")
           - F.col("_n") * F.col("_k")
           * (F.col("_k") + 1) * (F.col("_k") + 1))
    return s.select(
        F.col("_k").alias("k"),
        F.col("_n").alias("n_blocks"),
        F.when(den > 0,
               (F.col("_k") - 1).cast("double")
               * F.col("_num").cast("double")
               / den.cast("double")).alias("q_stat"))


def cochran_q(
    df: DataFrame,
    block: Column,
    treatment: Column,
    success: Column,
) -> DataFrame:
    """Cochran's Q test on binary outcomes over the zero-filled
    (block x treatment) grid — "do the treatments differ in their
    success RATE when each block sees every treatment?" (the binary
    sibling of :func:`friedman_test`; k=2 degenerates to McNemar).

    x_ij = 1 iff block i had >= 1 qualifying ``success`` row under
    treatment j; a missing cell genuinely means "did not occur", which
    is the measurement, so the grid is complete by construction.

        Q = (k-1) * (k*sum_j C_j^2 - N^2) / (k*N - sum_i R_i^2)

    with C_j column totals, R_i row totals, N total successes — ALL
    exact int64 sufficient statistics (order-free integer sums, no
    folds), one final double division. Exactness bound: C_j^2 <= n^2
    stays in int64 up to n ~ 3e9 blocks; beyond that swap the bigint
    sums for DECIMAL(38,0).

    Returns one row: ``(k, n_blocks, n_success, q_stat)``.
    """
    base = (df.where(block.isNotNull() & treatment.isNotNull())
            .select(block.alias("_b"), treatment.alias("_t"),
                    F.when(success, 1).otherwise(0).alias("_s")))
    cells = base.groupBy("_b", "_t").agg(
        F.max("_s").cast("bigint").alias("_x"))
    blocks = cells.select("_b").distinct()
    treats = cells.select("_t").distinct()
    grid = (blocks.crossJoin(F.broadcast(treats))
            .join(cells, ["_b", "_t"], "left")
            .select("_b", "_t",
                    F.coalesce(F.col("_x"), F.lit(0))
                    .cast("bigint").alias("_x")))
    col_t = grid.groupBy("_t").agg(F.sum("_x").cast("bigint").alias("_c"))
    row_t = grid.groupBy("_b").agg(F.sum("_x").cast("bigint").alias("_r"))
    sc = col_t.agg(
        F.count(F.lit(1)).cast("bigint").alias("_k"),
        F.sum("_c").cast("bigint").alias("_nn"),
        F.sum(F.col("_c") * F.col("_c")).cast("bigint").alias("_csq"))
    sr = row_t.agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum(F.col("_r") * F.col("_r")).cast("bigint").alias("_rsq"))
    j = sc.crossJoin(F.broadcast(sr))
    num = (F.col("_k").cast("double") * F.col("_csq").cast("double")
           - F.col("_nn").cast("double") * F.col("_nn").cast("double"))
    den = (F.col("_k").cast("double") * F.col("_nn").cast("double")
           - F.col("_rsq").cast("double"))
    return j.select(
        F.col("_k").alias("k"),
        F.col("_n").alias("n_blocks"),
        F.col("_nn").alias("n_success"),
        F.when(den > 0,
               (F.col("_k") - 1).cast("double") * num / den)
         .alias("q_stat"))


def cvm_from_counts(
    per_v: DataFrame,
    key: str,
    bucket_width: int = 1024,
    min_n: int = 1,
    max_support: int = 262_144,
) -> DataFrame:
    """Two-sample Cramér–von Mises statistic (Anderson 1962) from the
    shared (key, v, ca, cb) count state:

        T = n_a*n_b / (n_a+n_b)^2 * sum_z (F_a(z) - F_b(z))^2

    summed over the POOLED observations z (with multiplicity — each
    distinct value contributes its pooled count ca+cb times). Where KS
    reads only the single worst CDF gap and Kuiper the two signed
    worst gaps, CvM integrates the squared gap over the whole pooled
    sample — the L2 drift gate, sensitive to many small persistent
    shifts no single-point statistic sees.

    Cumulative counts ride the same two-level bucketed prefix scan as
    :func:`ks_from_counts`; the per-key sum of pooled-count-weighted
    squared gaps is an ordered fold over the value support (replayed by
    DuckDB list_reduce), so the value must be bucketed to a BOUNDED
    support per key — the :func:`hellinger_from_counts` discipline.
    Every emitted double is divisions/products of exact int64 counts.

    Returns ``(key, n_a, n_b, cvm)``.
    """
    cums = bucketed_cumsum(
        per_v, key, ["ca", "cb"], bucket_width=bucket_width)
    totals = per_v.groupBy(key).agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
        F.count(F.lit(1)).cast("bigint").alias("_support_n"))
    j = (cums.join(F.broadcast(totals), key)
         .where((F.col("n_a") >= min_n) & (F.col("n_b") >= min_n)))
    gap = (F.col("cum_ca") / F.col("n_a")
           - F.col("cum_cb") / F.col("n_b"))
    term = (F.col("ca") + F.col("cb")).cast("double") * (gap * gap)
    folded = (j.select(key, "n_a", "n_b", F.col("v").alias("_v"),
                       _support_guard(term, max_support,
                                      "cvm_from_counts").alias("_t"))
              .groupBy(key, "n_a", "n_b")
              .agg(F.aggregate(
                  F.transform(
                      F.sort_array(F.collect_list(F.struct("_v", "_t"))),
                      lambda x: x["_t"]),
                  F.lit(0.0), lambda acc, x: acc + x).alias("_s")))
    nn = (F.col("n_a") + F.col("n_b")).cast("double")
    scale = (F.col("n_a").cast("double") * F.col("n_b").cast("double")
             / (nn * nn))
    return folded.select(
        key, "n_a", "n_b", (scale * F.col("_s")).alias("cvm"))


def cvm_drift(
    df: DataFrame,
    key: str,
    value: Column,
    sample_a: Column,
    bucket_width: int = 1024,
    min_n: int = 1,
    max_support: int = 262_144,
) -> DataFrame:
    """Two-sample CvM drift per group: one map-side-combinable collapse
    to per (key, distinct value) counts, then :func:`cvm_from_counts`.
    ``value`` should be bucketed to a bounded support per key."""
    per_v = _two_sample_counts(df, key, value, sample_a)
    return cvm_from_counts(per_v, key, bucket_width=bucket_width,
                           min_n=min_n, max_support=max_support)


def page_hinkley(
    df: DataFrame,
    key: str,
    value: Column,
    order_cols: Sequence[str],
    delta: float = 0.0,
) -> DataFrame:
    """Page–Hinkley level-shift detector per key: over the ordered
    series x_1..x_n, fold

        s_t = s_{t-1} + x_t,  m_t = m_{t-1} + (x_t - s_t/t - delta),
        PH  = m_n - min_t m_t

    — the sequential CUSUM-against-the-RUNNING-mean (Page 1954; Hinkley
    1971): a sustained upward level shift makes the deviations stay
    positive long after the running mean has been dragged up, so PH
    grows, while white noise keeps m_t hovering near its own minimum.
    Complements :func:`cusum_scan`, which needs a FIXED reference mean.

    The fold carries a STRUCT accumulator (i, s, m, mn) — every field
    computed against the PREVIOUS accumulator with the new-sum
    subexpression duplicated, so DuckDB's recursive-CTE oracle (the
    holt_smooth discipline; list_reduce cannot replay struct folds) has
    the identical operand tree and the doubles match bitwise. Seeds:
    s_1 = x_1 exactly, and m_1 = x_1 - x_1/1 - delta = -delta EXACTLY
    in IEEE, so both engines seed m = mn = -delta literally.

    BOUNDED-SERIES discipline (ewma/holt): one array per key in one
    task — aggregate to a bounded grid (e.g. daily) first.

    Returns ``(key, n, m_final, ph)``; ph >= 0, 0 for n <= 1.
    """
    d = float(delta)
    grouped = (
        df.where(value.isNotNull() & F.col(key).isNotNull())
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
    new_m = (f"(acc.m + (x - (acc.s + x) / cast(acc.i + 1 AS double)"
             f" - {d!r}D))")
    fold = F.expr(
        "aggregate(slice(_xs, 2, greatest(size(_xs) - 1, 0)), "
        f"named_struct('i', 1, 's', element_at(_xs, 1), "
        f"'m', {-d!r}D, 'mn', {-d!r}D), "
        f"(acc, x) -> named_struct("
        f"'i', acc.i + 1, "
        f"'s', acc.s + x, "
        f"'m', {new_m}, "
        f"'mn', least(acc.mn, {new_m})))"
    )
    return grouped.select(
        key,
        F.size("_xs").cast("bigint").alias("n"),
        fold.alias("_st"),
    ).select(
        key, "n",
        F.col("_st.m").alias("m_final"),
        (F.col("_st.m") - F.col("_st.mn")).alias("ph"),
    )


def _pooled_gap_frame(per_v: DataFrame, key: str,
                      bucket_width: int) -> DataFrame:
    """Shared scaffold for the gap-weighted integer EDF statistics
    (:func:`wasserstein_from_counts`, :func:`energy_from_counts`):
    inclusive cumulative counts over the pooled support via the
    two-level bucketed prefix scan, plus the gap to the NEXT distinct
    value. The gap itself is ALSO two-level (a per-key global lead
    window would funnel the whole support into one task — the exact
    trap bucketed_cumsum exists to avoid): lead(v) within each
    (key, value-bucket) partition, and the bucket-boundary gap comes
    from the bucket-summary frame's own lead over bucket order
    (values/width rows per key, the same carry-frame size as the
    prefix scan). The last support point has no gap and contributes
    nothing (both CDFs sit at 1 beyond it)."""
    cums = bucketed_cumsum(
        per_v, key, ["ca", "cb"], bucket_width=bucket_width)
    b = cums.withColumn(
        "_bkt", F.floor(F.col("v") / F.lit(int(bucket_width))))
    w_in = Window.partitionBy(key, "_bkt").orderBy("v")
    b = b.withColumn("_nxt_in", F.lead("v").over(w_in))
    summ = b.groupBy(key, "_bkt").agg(F.min("v").alias("_minv"))
    w_s = Window.partitionBy(key).orderBy("_bkt")
    nxt_b = summ.select(
        key, "_bkt", F.lead("_minv").over(w_s).alias("_nextbv"))
    return (b.join(nxt_b, [key, "_bkt"])
            .withColumn("_gap",
                        F.coalesce(F.col("_nxt_in"), F.col("_nextbv"))
                        - F.col("v"))
            .where(F.col("_gap").isNotNull())
            .drop("_bkt", "_nxt_in", "_nextbv"))


def wasserstein_from_counts(
    per_v: DataFrame,
    key: str,
    bucket_width: int = 1024,
    min_n: int = 1,
) -> DataFrame:
    """1-Wasserstein (earth-mover) distance from the shared
    (key, v, ca, cb) count state:

        W1 = sum_t (v_{t+1} - v_t) * |F_a(v_t) - F_b(v_t)|
           = [ sum_t gap_t * |cuma_t*n_b - cumb_t*n_a| ] / (n_a*n_b)

    — the area between the two CDFs, in VALUE units. Unlike the
    fold-based gates (hellinger/cvm), the numerator is a sum of exact
    int64 products: ORDER-FREE, so it runs as a plain map-side-
    combinable aggregate with NO bounded-support restriction and no
    collect_list — the drift statistic that scales to an unbucketed
    100 TB support. Exactness bound: each term <= gap * n_a * n_b must
    stay in int64 (value_range * n_a * n_b < 9.2e18); beyond that swap
    the bigint sums for DECIMAL(38,0) — ANSI fails loudly.

    Returns ``(key, n_a, n_b, wasserstein)``.
    """
    totals = per_v.groupBy(key).agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"))
    g = (_pooled_gap_frame(per_v, key, bucket_width)
         .join(F.broadcast(totals), key)
         .where((F.col("n_a") >= min_n) & (F.col("n_b") >= min_n)))
    term = F.col("_gap") * F.abs(
        F.col("cum_ca") * F.col("n_b") - F.col("cum_cb") * F.col("n_a"))
    s = g.groupBy(key, "n_a", "n_b").agg(
        F.sum(term).cast("bigint").alias("_num"))
    return s.select(
        key, "n_a", "n_b",
        (F.col("_num").cast("double")
         / (F.col("n_a").cast("double") * F.col("n_b").cast("double")))
        .alias("wasserstein"))


def wasserstein_drift(
    df: DataFrame,
    key: str,
    value: Column,
    sample_a: Column,
    bucket_width: int = 1024,
    min_n: int = 1,
) -> DataFrame:
    """Two-sample W1 drift per group: one map-side-combinable collapse
    to per (key, distinct value) counts, then
    :func:`wasserstein_from_counts`. ``value`` keeps full integer
    resolution — no support bucketing needed (order-free sums)."""
    per_v = _two_sample_counts(df, key, value, sample_a)
    return wasserstein_from_counts(per_v, key, bucket_width=bucket_width,
                                   min_n=min_n)


def energy_from_counts(
    per_v: DataFrame,
    key: str,
    bucket_width: int = 1024,
    min_n: int = 1,
) -> DataFrame:
    """Energy distance (Székely–Rizzo) from the shared count state, via
    the sorted-gap identity for mean absolute pairwise differences:

        sum_{i,j} |x_i - y_j| = sum_t gap_t * (A_t*(n_b - B_t)
                                               + B_t*(n_a - A_t))
        sum_{i<j} |x_i - x_j| = sum_t gap_t * A_t*(n_a - A_t)

    (A_t, B_t = inclusive cumulative counts at pooled support point t),
    so the V-statistic energy distance

        E = 2*Sxy/(n_a*n_b) - 2*Sxx/(n_a^2) - 2*Syy/(n_b^2)  >= 0

    is three ORDER-FREE int64 sums and three exact-operand double
    divisions — zero with equality iff the distributions coincide, in
    VALUE units like W1 but sensitive to all moments. Same no-fold,
    no-bounded-support scale path and int64 bound as
    :func:`wasserstein_from_counts`.

    Returns ``(key, n_a, n_b, energy)``.
    """
    totals = per_v.groupBy(key).agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"))
    g = (_pooled_gap_frame(per_v, key, bucket_width)
         .join(F.broadcast(totals), key)
         .where((F.col("n_a") >= min_n) & (F.col("n_b") >= min_n)))
    sxy = F.col("_gap") * (
        F.col("cum_ca") * (F.col("n_b") - F.col("cum_cb"))
        + F.col("cum_cb") * (F.col("n_a") - F.col("cum_ca")))
    sxx = F.col("_gap") * F.col("cum_ca") * (F.col("n_a") - F.col("cum_ca"))
    syy = F.col("_gap") * F.col("cum_cb") * (F.col("n_b") - F.col("cum_cb"))
    s = g.groupBy(key, "n_a", "n_b").agg(
        F.sum(sxy).cast("bigint").alias("_sxy"),
        F.sum(sxx).cast("bigint").alias("_sxx"),
        F.sum(syy).cast("bigint").alias("_syy"))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    e = (F.lit(2.0) * (F.col("_sxy").cast("double") / (na * nb))
         - F.lit(2.0) * (F.col("_sxx").cast("double") / (na * na))
         - F.lit(2.0) * (F.col("_syy").cast("double") / (nb * nb)))
    return s.select(key, "n_a", "n_b", e.alias("energy"))


def energy_drift(
    df: DataFrame,
    key: str,
    value: Column,
    sample_a: Column,
    bucket_width: int = 1024,
    min_n: int = 1,
) -> DataFrame:
    """Two-sample energy-distance drift per group: count collapse then
    :func:`energy_from_counts`. Full integer value resolution."""
    per_v = _two_sample_counts(df, key, value, sample_a)
    return energy_from_counts(per_v, key, bucket_width=bucket_width,
                              min_n=min_n)


def equi_depth_rebucket(
    per_v: DataFrame,
    key: str,
    n_buckets: int,
    bucket_width: int = 1024,
) -> DataFrame:
    """EXACT equi-depth (pooled-quantile) rebucketing of a per
    (key, v, ca, cb) count frame to at most ``n_buckets`` buckets:
    bucket_id = ((pooled_cum − 1) · B) div n_pool over the ascending
    value order — every row lands in the bucket its pooled CDF position
    dictates, so bucket populations differ by at most one value's
    multiplicity. This is the quantile-bucketing the sketch estimators
    approximate, computed exactly and scalably: the cumulative counts
    ride the same two-level :func:`bucketed_cumsum` prefix scan as the
    KS family (no per-key single-task window, no sampling error), and
    the regroup is one map-side-combinable shuffle of the SUPPORT
    frame, not the corpus. Integer arithmetic throughout — Spark
    ``div`` == DuckDB ``//`` on the non-negative operands here.

    Output support per key is ≤ min(n_buckets, distinct v), so the
    result satisfies any ``max_support`` ≥ ``n_buckets`` fold guard.
    Returns ``(key, v, ca, cb)`` with v = bucket id in [0, B−1].
    """
    cums = bucketed_cumsum(per_v, key, ["ca", "cb"],
                           bucket_width=bucket_width)
    totals = per_v.groupBy(key).agg(
        (F.sum("ca") + F.sum("cb")).cast("bigint").alias("_n_pool"))
    j = (cums.join(F.broadcast(totals), key)
         .withColumn("_num",
                     ((F.col("cum_ca") + F.col("cum_cb")).cast("bigint")
                      - F.lit(1)) * F.lit(int(n_buckets))))
    return (j.withColumn("v", F.expr("_num div _n_pool"))
            .groupBy(key, "v")
            .agg(F.sum("ca").cast("bigint").alias("ca"),
                 F.sum("cb").cast("bigint").alias("cb")))


def drift_panel(
    df: DataFrame,
    key: str,
    value: Column,
    sample_a: Column,
    bucket_width: int = 1024,
    min_n: int = 1,
    pre_bucket: int | None = None,
    fine_cells: int = 1 << 20,
    max_support: int = 262_144,
) -> DataFrame:
    """The full drift scorecard — KS, Kuiper, Hellinger, CvM, W1 and
    energy distance per key — from ONE corpus scan: the six statistics
    are all functions of the same per-(key, distinct value) count
    state, so the expensive collapse shuffle happens once (persisted;
    the support frame is key-cardinality-sized, not corpus-sized) and
    each readout is a cheap re-aggregation. This is the panel a
    training-data gate actually wants: no single statistic dominates
    (KS is median-blind at the tails, W1 is scale-bound, Hellinger
    saturates on disjoint supports) — read them together.

    ``value`` must be bucketed to a bounded support per key for the
    fold-based members (hellinger/cvm) — enforced structurally by
    ``max_support`` (see :func:`_support_guard`) — OR pass
    ``pre_bucket=B`` for a raw (unbucketed) double value: the corpus
    collapses on the raw value, a per-key min/max equi-width fine grid
    (``fine_cells`` integer cells, deterministic IEEE arithmetic) bounds
    the support, and :func:`equi_depth_rebucket` then quantile-buckets
    the grid to B pooled-CDF buckets exactly via the two-level prefix
    scan — no sketch, no sampling error, no collect. With pre-bucketing
    the statistics are those of the bucketed distribution (CDF gaps
    blur by at most one bucket's pooled mass ≈ 1/B; W1/energy gaps are
    in bucket units). Keys with a single support point carry NULL
    wasserstein/energy (no gap; left joins from the KS key set).

    Returns ``(key, n_a, n_b, ks, kuiper, hellinger, cvm,
    wasserstein, energy)``.
    """
    if pre_bucket is None:
        per_v = _two_sample_counts(df, key, value, sample_a).persist()
    else:
        vd = value.cast("double")
        rows = (df.where(vd.isNotNull() & sample_a.isNotNull()
                         & F.col(key).isNotNull())
                .select(F.col(key), vd.alias("_x"),
                        F.when(sample_a, 1).otherwise(0).alias("_ia")))
        # raw-value collapse FIRST (distinct-value frame, one combinable
        # shuffle), then the fine grid on broadcast per-key min/max
        raw_v = (rows.groupBy(key, "_x")
                 .agg(F.sum("_ia").cast("bigint").alias("ca"),
                      F.sum(1 - F.col("_ia")).cast("bigint").alias("cb")))
        mm = raw_v.groupBy(key).agg(F.min("_x").alias("_mn"),
                                    F.max("_x").alias("_mx"))
        cell = F.when(
            F.col("_mx") > F.col("_mn"),
            F.least(F.lit(int(fine_cells) - 1).cast("bigint"),
                    F.floor((F.col("_x") - F.col("_mn"))
                            / (F.col("_mx") - F.col("_mn"))
                            * F.lit(float(fine_cells))).cast("bigint"))
        ).otherwise(F.lit(0).cast("bigint"))
        fine = (raw_v.join(F.broadcast(mm), key)
                .groupBy(key, cell.alias("v"))
                .agg(F.sum("ca").cast("bigint").alias("ca"),
                     F.sum("cb").cast("bigint").alias("cb")))
        per_v = equi_depth_rebucket(fine, key, pre_bucket,
                                    bucket_width=bucket_width).persist()
    ks = ks_from_counts(per_v, key, bucket_width=bucket_width,
                        min_n=min_n).select(key, "n_a", "n_b", "ks")
    ku = kuiper_from_counts(per_v, key, bucket_width=bucket_width,
                            min_n=min_n).select(key, "kuiper")
    he = hellinger_from_counts(per_v, key, min_n=min_n,
                               max_support=max_support).select(
        key, "hellinger")
    cv = cvm_from_counts(per_v, key, bucket_width=bucket_width,
                         min_n=min_n, max_support=max_support).select(
        key, "cvm")
    wa = wasserstein_from_counts(per_v, key, bucket_width=bucket_width,
                                 min_n=min_n).select(key, "wasserstein")
    en = energy_from_counts(per_v, key, bucket_width=bucket_width,
                            min_n=min_n).select(key, "energy")
    return (ks.join(ku, key, "left").join(he, key, "left")
            .join(cv, key, "left").join(wa, key, "left")
            .join(en, key, "left"))


def anderson_darling(
    df: DataFrame,
    key: str,
    value: Column,
    sample_a: Column,
    bucket_width: int = 1024,
    min_n: int = 1,
    max_support: int = 262_144,
) -> DataFrame:
    """Two-sample Anderson–Darling statistic (Scholz–Stephens 1987,
    right-continuous tie form) from the shared count state:

        A2 = sum_{i in {a,b}} (1/n_i) * sum_{j != last} l_j *
             (N*M_ij - n_i*B_j)^2 / (N * B_j * (N - B_j))

    over the distinct pooled values j (l_j pooled count, B_j pooled
    cumulative, M_ij sample-i cumulative) — the variance-weighted EDF
    gap: dividing each squared gap by B(N-B) up-weights the TAILS where
    KS/CvM go numb (the few worst latencies are exactly what an SLO
    cares about). Null expectation ~1 (A2 is centered at k-1 = 1).

    Per-value numerators are exact int64/DECIMAL(38,0) products (the
    N*M - n*B discipline of :func:`wasserstein_from_counts`, but the
    per-term variance division makes the sum a FLOAT fold) — ordered
    fold over the bounded support, the hellinger/cvm discipline. The
    last pooled value has B = N and contributes nothing (excluded —
    its variance weight is 0).

    Returns ``(key, n_a, n_b, a2)``.
    """
    d = "decimal(38,0)"
    per_v = _two_sample_counts(df, key, value, sample_a)
    cums = bucketed_cumsum(
        per_v, key, ["ca", "cb"], bucket_width=bucket_width)
    totals = per_v.groupBy(key).agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
        F.count(F.lit(1)).cast("bigint").alias("_support_n"))
    j = (cums.join(F.broadcast(totals), key)
         .where((F.col("n_a") >= min_n) & (F.col("n_b") >= min_n)))
    nn = (F.col("n_a") + F.col("n_b")).cast(d)
    bj = (F.col("cum_ca") + F.col("cum_cb")).cast(d)
    ga = (nn * F.col("cum_ca").cast(d)
          - F.col("n_a").cast(d) * bj)
    gb = (nn * F.col("cum_cb").cast(d)
          - F.col("n_b").cast(d) * bj)
    lj = (F.col("ca") + F.col("cb")).cast(d)
    den = (nn * bj * (nn - bj)).cast("double")
    term = (
        (lj * ga * ga).cast("double") / F.col("n_a") / den
        + (lj * gb * gb).cast("double") / F.col("n_b") / den)
    folded = (j.where(bj.cast("bigint")
                      < (F.col("n_a") + F.col("n_b")))
              .select(key, "n_a", "n_b", F.col("v").alias("_v"),
                      _support_guard(term, max_support,
                                     "anderson_darling").alias("_t"))
              .groupBy(key, "n_a", "n_b")
              .agg(F.aggregate(
                  F.transform(
                      F.sort_array(F.collect_list(F.struct("_v", "_t"))),
                      lambda x: x["_t"]),
                  F.lit(0.0), lambda acc, x: acc + x).alias("a2")))
    return folded.select(key, "n_a", "n_b", "a2")


def shift_function(
    df: DataFrame,
    key: str,
    value: Column,
    sample_a: Column,
    pcts: Sequence[int] = (10, 20, 30, 40, 50, 60, 70, 80, 90),
    min_n: int = 1,
) -> DataFrame:
    """Doksum shift function per key: at each percentile p, the
    quantile difference Q_a(p) - Q_b(p) — the drift readout that says
    WHERE the distribution moved (a pure location shift is a flat
    line at c; tail inflation shows only in the high deciles), where
    the scalar gates (KS/W1/energy) only say THAT it moved.

    Discrete ceil-rank quantiles (min v with cum >= ceil(p*n/100),
    integer arithmetic — Spark div == DuckDB // on non-negative
    operands) over the shared (key, v, ca, cb) count state: every
    emitted quantile is an ACTUAL sample element, the percentile grid
    broadcasts, and both lookups reuse ONE cumulative frame — no
    corpus re-scan per percentile. Shift is an exact integer
    difference in value units.

    Returns ``(key, pct, q_a, q_b, shift)``.
    """
    per_v = _two_sample_counts(df, key, value, sample_a)
    cum = bucketed_cumsum(per_v, key, ["ca", "cb"]).select(
        key, "v",
        F.col("cum_ca").alias("_cuma"),
        F.col("cum_cb").alias("_cumb"))
    totals = (per_v.groupBy(key)
              .agg(F.sum("ca").cast("bigint").alias("_na"),
                   F.sum("cb").cast("bigint").alias("_nb"))
              .where((F.col("_na") >= min_n) & (F.col("_nb") >= min_n)))
    grid = totals.crossJoin(F.broadcast(local_frame(
        per_v.sparkSession, [(int(p),) for p in pcts], "pct int")))
    rnk = grid.select(
        key, "pct",
        F.expr("(_na * pct + 99) div 100").cast("bigint").alias("_ra"),
        F.expr("(_nb * pct + 99) div 100").cast("bigint").alias("_rb"))
    j = cum.join(rnk, key)
    qa = (j.where(F.col("_cuma") >= F.col("_ra"))
          .groupBy(key, "pct").agg(F.min("v").cast("bigint").alias("q_a")))
    qb = (j.where(F.col("_cumb") >= F.col("_rb"))
          .groupBy(key, "pct").agg(F.min("v").cast("bigint").alias("q_b")))
    return (qa.join(qb, [key, "pct"])
            .select(key, "pct", "q_a", "q_b",
                    (F.col("q_a") - F.col("q_b")).alias("shift")))


def durbin_watson(
    df: DataFrame,
    key: str,
    order_col: str,
    val_col: str,
    min_n: int = 8,
) -> DataFrame:
    """Durbin–Watson serial-correlation statistic per ``key`` series:
    ``DW = sum (x_t - x_{t-1})^2 / sum (x_t - xbar)^2`` — near 2 for an
    uncorrelated series, toward 0 under positive lag-1 autocorrelation,
    toward 4 under negative (Durbin & Watson, Biometrika 1950). The
    classic residual-autocorrelation screen, run here directly on the
    integer series.

    One PARTITIONED lag window (never a global sort) produces the
    successive differences; everything reduces to four exact int64
    sufficient statistics per key, and ``DW = n·sum d^2 / (n·sum x^2 -
    (sum x)^2)`` is formed with every sum cast to double BEFORE the
    cross products (overflow discipline) in the oracle's exact order.
    Zero-variance series emit NULL (ANSI division guard, the
    spearman_corr lesson). Exactness bound: n·sum x^2 stays in the
    double-exact integer range for per-key series far beyond any
    transcript length; the sums themselves are exact int64 up to
    ~3e9 squared-value mass per key.

    Returns ``(key, n, dw)`` for series with at least ``min_n`` points.
    """
    w = Window.partitionBy(key).orderBy(order_col)
    x = F.col(val_col).cast("bigint")
    d = df.where(F.col(key).isNotNull()).select(
        F.col(key), x.alias("_x"),
        (x - F.lag(x).over(w)).alias("_d"))
    s = d.groupBy(key).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_x").cast("bigint").alias("_sx"),
        F.sum(F.col("_x") * F.col("_x")).cast("bigint").alias("_sxx"),
        F.sum(F.coalesce(F.col("_d") * F.col("_d"), F.lit(0)))
        .cast("bigint").alias("_sd2"))
    nd = F.col("n").cast("double")
    den = nd * F.col("_sxx").cast("double") - (
        F.col("_sx").cast("double") * F.col("_sx").cast("double"))
    return (s.where(F.col("n") >= min_n)
            .select(key, "n",
                    F.when(den > 0.0,
                           nd * F.col("_sd2").cast("double") / den)
                    .alias("dw")))


def kendall_tau(
    df: DataFrame,
    key: str,
    x_col: str,
    y_col: str,
    id_col: str,
    max_rows: int | None = None,
) -> DataFrame:
    """Kendall's tau-b rank correlation per ``key`` group, from exact
    concordant/discordant pair counts (Kendall, Biometrika 1938) — the
    tie-corrected companion to the spearman_corr query for monotone
    association that is robust to outliers in either margin.

    Every unordered pair inside a group is generated EXACTLY once via a
    self-join on the group key with ``id < id2`` (the density_outliers
    discipline); pairs classify by sign comparisons only (never a
    difference product, so no overflow at any value scale). Cost is
    O(sum g^2) pairs shuffled on the group key — bounded groups by
    construction here; for unbounded groups pass ``max_rows`` to keep
    the ``max_rows`` lowest-md5 members per group (a uniform, seedless
    subsample — the cooccurrence_lift cap discipline) via a PARTITIONED
    row_number window before the join.

    ``tau_b = (C - D) / sqrt((C + D + Ty) * (C + D + Tx))`` where Tx/Ty
    count pairs tied ONLY in x / only in y; the sqrt runs on a product
    of exact int64 counts cast to double (identical operands → identical
    IEEE result in both engines). Degenerate groups (all ties in a
    margin) emit NULL under the ANSI guard.

    Returns ``(key, n, concordant, discordant, tau_b)``.
    """
    base = df.where(
        F.col(key).isNotNull() & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()).select(
        F.col(key).alias("_k"), F.col(id_col).alias("_id"),
        F.col(x_col).alias("_x"), F.col(y_col).alias("_y"))
    if max_rows is not None:
        # Two-level exact cap (the postings/bucketed-prefix monoid
        # argument: the k md5-smallest of a union are a subset of the
        # union of per-bucket k-smallests): level 1 prunes inside
        # (key, salt) buckets — parallelism keys*salts, spill-safe —
        # so the level-2 per-key window sorts at most salts*max_rows
        # rows instead of the whole group (a 12-group corpus-sized
        # window was the measured bottleneck: bench/stats4_scale.py).
        salts = 64
        h = F.md5(F.col("_id").cast("string"))
        base = base.withColumn("_h", h).withColumn(
            "_salt", F.pmod(F.hash(F.col("_id")), F.lit(salts)))
        w1 = Window.partitionBy("_k", "_salt").orderBy(
            F.col("_h"), F.col("_id"))
        lvl1 = (base.withColumn("_rn", F.row_number().over(w1))
                .where(F.col("_rn") <= max_rows).drop("_rn", "_salt"))
        w2 = Window.partitionBy("_k").orderBy(F.col("_h"), F.col("_id"))
        base = (lvl1.withColumn("_rn", F.row_number().over(w2))
                .where(F.col("_rn") <= max_rows).drop("_rn", "_h"))
    n_per = base.groupBy("_k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    b = base.select(
        F.col("_k"), F.col("_id").alias("_id2"),
        F.col("_x").alias("_x2"), F.col("_y").alias("_y2"))
    pairs = base.join(b, "_k").where(F.col("_id") < F.col("_id2"))
    conc = ((F.col("_x") < F.col("_x2")) & (F.col("_y") < F.col("_y2"))) | (
        (F.col("_x") > F.col("_x2")) & (F.col("_y") > F.col("_y2")))
    disc = ((F.col("_x") < F.col("_x2")) & (F.col("_y") > F.col("_y2"))) | (
        (F.col("_x") > F.col("_x2")) & (F.col("_y") < F.col("_y2")))
    tx_only = (F.col("_x") == F.col("_x2")) & (F.col("_y") != F.col("_y2"))
    ty_only = (F.col("_y") == F.col("_y2")) & (F.col("_x") != F.col("_x2"))
    s = pairs.groupBy("_k").agg(
        F.sum(F.when(conc, 1).otherwise(0)).cast("bigint").alias("concordant"),
        F.sum(F.when(disc, 1).otherwise(0)).cast("bigint").alias("discordant"),
        F.sum(F.when(tx_only, 1).otherwise(0)).cast("bigint").alias("_tx"),
        F.sum(F.when(ty_only, 1).otherwise(0)).cast("bigint").alias("_ty"))
    cd = F.col("concordant") + F.col("discordant")
    den = F.sqrt((cd + F.col("_ty")).cast("double")
                 * (cd + F.col("_tx")).cast("double"))
    return (n_per.join(s, "_k")
            .select(F.col("_k").alias(key), "n", "concordant", "discordant",
                    F.when(den > 0.0,
                           (F.col("concordant") - F.col("discordant"))
                           .cast("double") / den)
                    .alias("tau_b")))


def diff_in_diff(
    df: DataFrame,
    treat: Column,
    post: Column,
    value: Column,
) -> DataFrame:
    """Difference-in-differences effect estimate (Card & Krueger, AER
    1994): ``DiD = (ȳ_treat,post - ȳ_treat,pre) - (ȳ_ctrl,post -
    ȳ_ctrl,pre)`` — the two-period two-group causal workhorse for "did
    the intervention move the metric beyond the secular trend".

    ONE map-side-combinable groupBy collapses the corpus to the four
    (treated, post) cells; the pivot to a single row is a conditional
    re-aggregate of that 4-row frame. ``value`` must be integer-valued
    (cents-style): the four sums stay exact int64, each mean is a
    single division of exact integers, and the DiD combines them in
    the oracle's exact order. Any empty cell yields NULL (the estimate
    is undefined, and ANSI division would throw).

    Returns ONE row: ``(n_tp, n_tr, n_cp, n_cr, m_treat_post,
    m_treat_pre, m_ctrl_post, m_ctrl_pre, did)``.
    """
    return diff_in_diff_by(
        df.withColumn("_all", F.lit(1)), "_all", treat, post, value
    ).drop("_all")


def diff_in_diff_by(
    df: DataFrame,
    key: str,
    treat: Column,
    post: Column,
    value: Column,
) -> DataFrame:
    """Heterogeneous-treatment-effect panel: :func:`diff_in_diff` per
    ``key`` segment — the uplift breakdown that says WHERE the
    intervention moved the metric, not just whether. Same four-cell
    collapse per key (one combinable shuffle to 4x key cardinality),
    same exact-integer means, NULL per segment with any empty cell.
    """
    cells = (df.where(F.col(key).isNotNull() & treat.isNotNull()
                      & post.isNotNull() & value.isNotNull())
             .groupBy(key, treat.alias("_t"), post.alias("_p"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("_n"),
                  F.sum(value).cast("bigint").alias("_s")))

    def cell(t: bool, p: bool, col: str):
        return F.sum(F.when((F.col("_t") == t) & (F.col("_p") == p),
                            F.col(col)))

    one = cells.groupBy(key).agg(
        cell(True, True, "_n").cast("bigint").alias("n_tp"),
        cell(True, False, "_n").cast("bigint").alias("n_tr"),
        cell(False, True, "_n").cast("bigint").alias("n_cp"),
        cell(False, False, "_n").cast("bigint").alias("n_cr"),
        cell(True, True, "_s").cast("bigint").alias("_s_tp"),
        cell(True, False, "_s").cast("bigint").alias("_s_tr"),
        cell(False, True, "_s").cast("bigint").alias("_s_cp"),
        cell(False, False, "_s").cast("bigint").alias("_s_cr"))
    ok = ((F.col("n_tp") > 0) & (F.col("n_tr") > 0)
          & (F.col("n_cp") > 0) & (F.col("n_cr") > 0))

    def mean(s: str, n: str):
        return F.col(s).cast("double") / F.col(n).cast("double")

    m_tp, m_tr = mean("_s_tp", "n_tp"), mean("_s_tr", "n_tr")
    m_cp, m_cr = mean("_s_cp", "n_cp"), mean("_s_cr", "n_cr")
    return one.select(
        key, "n_tp", "n_tr", "n_cp", "n_cr",
        F.when(ok, m_tp).alias("m_treat_post"),
        F.when(ok, m_tr).alias("m_treat_pre"),
        F.when(ok, m_cp).alias("m_ctrl_post"),
        F.when(ok, m_cr).alias("m_ctrl_pre"),
        F.when(ok, (m_tp - m_tr) - (m_cp - m_cr)).alias("did"))


def cuped_adjustment(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """CUPED variance-reduction fit (Deng, Xu, Kohavi & Walker,
    WSDM'13): from per-unit (pre-period covariate X, experiment metric
    Y) pairs, the adjustment coefficient ``theta = cov(X,Y)/var(X)``
    and the variance fraction CUPED removes (``rho²``) — the number
    that says how much smaller the A/B test can be. Completes the
    experimentation suite next to srm_check / experiment_sizing /
    diff_in_diff.

    Both inputs must be integer-valued per unit: everything reduces to
    the six exact int64 sufficient statistics in ONE map-side
    combinable aggregate, and theta / rho are formed with every sum
    cast to double BEFORE the cross products (the spearman_corr
    discipline, including its exactness bound). Zero-variance margins
    emit NULL under the ANSI guard.

    Returns ONE row: ``(n_units, theta, rho, var_reduction)``.
    """
    s = (df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
         .select(F.col(x_col).cast("bigint").alias("_x"),
                 F.col(y_col).cast("bigint").alias("_y"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_units"),
              F.sum("_x").cast("bigint").alias("_sx"),
              F.sum("_y").cast("bigint").alias("_sy"),
              F.sum(F.col("_x") * F.col("_y")).cast("bigint")
              .alias("_sxy"),
              F.sum(F.col("_x") * F.col("_x")).cast("bigint")
              .alias("_sxx"),
              F.sum(F.col("_y") * F.col("_y")).cast("bigint")
              .alias("_syy")))
    nd = F.col("n_units").cast("double")
    num = nd * F.col("_sxy").cast("double") - (
        F.col("_sx").cast("double") * F.col("_sy").cast("double"))
    dx = nd * F.col("_sxx").cast("double") - (
        F.col("_sx").cast("double") * F.col("_sx").cast("double"))
    dy = nd * F.col("_syy").cast("double") - (
        F.col("_sy").cast("double") * F.col("_sy").cast("double"))
    rho = num / F.sqrt(dx * dy)
    return s.select(
        "n_units",
        F.when(dx > 0.0, num / dx).alias("theta"),
        F.when((dx > 0.0) & (dy > 0.0), rho).alias("rho"),
        F.when((dx > 0.0) & (dy > 0.0), rho * rho)
        .alias("var_reduction"))


def permutation_test(
    df: DataFrame,
    unit_col: str,
    group: Column,
    y_col: str,
    n_perms: int = 19,
) -> DataFrame:
    """Permutation test of a two-group mean difference with
    DETERMINISTIC md5 relabelings (Fisher's exact-randomization logic;
    fixed hash assignments replace the RNG so both engines and any two
    runs draw the SAME permutation set — the reproducibility property a
    pipeline gate needs). ``p ≈ (1 + #{|diff_perm| ≥ |diff_obs|}) /
    (n_perms + 1)`` — with 19 permutations the smallest attainable p
    is 0.05.

    One unit-level frame feeds both sides: the observed split and, via
    a broadcast seed fan-out, the per-seed md5-parity relabelings; each
    permutation reduces to conditional exact int64 sums in ONE
    combinable shuffle (seeds × units rows, map-side collapsed to
    n_perms rows). Mean differences are single divisions of exact
    integers; the ≥ comparison runs on bit-identical doubles. Empty
    arms (observed or permuted) yield NULL p under the ANSI guard.

    Returns ONE row: ``(n_a, n_b, diff_obs, n_ge, p_value)``.
    """
    u = (df.where(F.col(unit_col).isNotNull() & group.isNotNull()
                  & F.col(y_col).isNotNull())
         .select(F.col(unit_col).cast("string").alias("_u"),
                 group.alias("_g"),
                 F.col(y_col).cast("bigint").alias("_y")))
    obs = u.agg(
        F.sum(F.when(F.col("_g"), 1).otherwise(0)).cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("_g"), 0).otherwise(1)).cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("_g"), F.col("_y")).otherwise(0))
        .cast("bigint").alias("_sa"),
        F.sum(F.when(F.col("_g"), 0).otherwise(F.col("_y")))
        .cast("bigint").alias("_sb"))
    d_obs = (F.col("_sa").cast("double") / F.col("n_a").cast("double")
             - F.col("_sb").cast("double") / F.col("n_b").cast("double"))
    obs = obs.select(
        "n_a", "n_b",
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), d_obs)
        .alias("diff_obs"))
    spark = df.sparkSession
    seeds = local_frame(spark, [(s,) for s in range(1, n_perms + 1)],
                        "seed int")
    h = F.conv(F.substring(
        F.md5(F.concat_ws(":", F.col("seed").cast("string"),
                          F.col("_u"))), 1, 8), 16, 10).cast("bigint")
    flip = F.pmod(h, F.lit(2)) == 0
    per = (u.crossJoin(F.broadcast(seeds))
           .groupBy("seed")
           .agg(F.sum(F.when(flip, 1).otherwise(0)).cast("bigint")
                .alias("_pa"),
                F.sum(F.when(flip, 0).otherwise(1)).cast("bigint")
                .alias("_pb"),
                F.sum(F.when(flip, F.col("_y")).otherwise(0))
                .cast("bigint").alias("_psa"),
                F.sum(F.when(flip, 0).otherwise(F.col("_y")))
                .cast("bigint").alias("_psb")))
    d_perm = (F.col("_psa").cast("double") / F.col("_pa").cast("double")
              - F.col("_psb").cast("double")
              / F.col("_pb").cast("double"))
    per = per.select(
        "seed",
        F.when((F.col("_pa") > 0) & (F.col("_pb") > 0), d_perm)
        .alias("_d"))
    cnt = per.crossJoin(F.broadcast(obs)).agg(
        F.sum(F.when(F.abs(F.col("_d")) >= F.abs(F.col("diff_obs")),
                     1).otherwise(0)).cast("bigint").alias("n_ge"),
        F.sum(F.when(F.col("_d").isNull(), 1).otherwise(0))
        .cast("bigint").alias("_null_perms"))
    out = obs.crossJoin(F.broadcast(cnt))
    return out.select(
        "n_a", "n_b", "diff_obs", "n_ge",
        F.when(F.col("diff_obs").isNotNull()
               & (F.col("_null_perms") == 0),
               (F.col("n_ge") + 1).cast("double")
               / F.lit(float(n_perms + 1))).alias("p_value"))


def ratio_metric_ci(
    df: DataFrame,
    key: str,
    num_col: str,
    den_col: str,
    z: float = 1.96,
) -> DataFrame:
    """Delta-method confidence interval for a per-unit RATIO metric
    (conversions per session, cents per event) per ``key`` — the
    variance formula every experimentation platform uses because a
    ratio of sums is NOT a mean of ratios (Deng & Knoblich's ratio-
    metric memo; standard delta method):
    ``var(N/D) ≈ (var(n) - 2·r·cov(n,d) + r²·var(d)) / (n·d̄²)``.

    Per-unit numerator/denominator must be integer-valued: one
    combinable shuffle produces the six exact int64 sufficient stats
    per key; the point estimate ``r = ΣN/ΣD`` and the CI half-width
    are formed from them cast to double in the oracle's exact order
    (sqrt is correctly rounded, so the bound is bit-identical).
    Degenerate keys (zero denominator or a single unit) emit NULL
    bounds under the ANSI guard.

    Returns ``(key, n_units, ratio, se, ci_lo, ci_hi)``.
    """
    s = (df.where(F.col(key).isNotNull() & F.col(num_col).isNotNull()
                  & F.col(den_col).isNotNull())
         .select(F.col(key),
                 F.col(num_col).cast("bigint").alias("_n"),
                 F.col(den_col).cast("bigint").alias("_d"))
         .groupBy(key)
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_units"),
              F.sum("_n").cast("bigint").alias("_sn"),
              F.sum("_d").cast("bigint").alias("_sd"),
              F.sum(F.col("_n") * F.col("_n")).cast("bigint")
              .alias("_snn"),
              F.sum(F.col("_d") * F.col("_d")).cast("bigint")
              .alias("_sdd"),
              F.sum(F.col("_n") * F.col("_d")).cast("bigint")
              .alias("_snd")))
    k = F.col("n_units").cast("double")
    sn = F.col("_sn").cast("double")
    sd = F.col("_sd").cast("double")
    r = sn / sd
    # sample (co)variances of the per-unit values, n-1 denominator
    var_n = (k * F.col("_snn").cast("double") - sn * sn) / (
        k * (k - F.lit(1.0)))
    var_d = (k * F.col("_sdd").cast("double") - sd * sd) / (
        k * (k - F.lit(1.0)))
    cov_nd = (k * F.col("_snd").cast("double") - sn * sd) / (
        k * (k - F.lit(1.0)))
    dbar = sd / k
    # var(n - r·d) >= 0 in exact arithmetic; clamp the float residual
    # so sqrt never sees a last-ulp negative (DuckDB sqrt(<0) errors)
    se = F.sqrt(F.greatest(
        (var_n - F.lit(2.0) * r * cov_nd + r * r * var_d)
        / (k * (dbar * dbar)), F.lit(0.0)))
    ok = (F.col("_sd") > 0) & (F.col("n_units") > 1)
    return s.select(
        key, "n_units",
        F.when(F.col("_sd") > 0, r).alias("ratio"),
        F.when(ok, se).alias("se"),
        F.when(ok, r - F.lit(float(z)) * se).alias("ci_lo"),
        F.when(ok, r + F.lit(float(z)) * se).alias("ci_hi"))


def split_half_reliability(
    df: DataFrame,
    key: str,
    half: Column,
    value: Column,
    min_units: int = 3,
) -> DataFrame:
    """Split-half reliability with the Spearman–Brown step-up (Brown
    1910 / Spearman 1910): split each unit's items into two halves,
    correlate the per-unit half-scores, and step up ``r' = 2r/(1+r)``
    — the classic internal-consistency check, here asking whether a
    per-conversation metric is a stable property of the conversation
    or turn-level noise.

    One combinable (key-unit) reduction builds the integer half-sum
    pairs; the Pearson r comes from six exact int64 sufficient stats
    (cast to double BEFORE the cross products, spearman_corr
    discipline); the step-up is guarded at r = -1 and zero-variance
    margins (ANSI). Units missing either half still contribute (their
    absent half sums to 0 — the split covers every item).

    Returns ONE row: ``(n_units, r_half, reliability)``.
    """
    u = (df.where(F.col(key).isNotNull() & half.isNotNull()
                  & value.isNotNull())
         .groupBy(F.col(key).alias("_k"))
         .agg(F.sum(F.when(half, value).otherwise(0)).cast("bigint")
              .alias("_a"),
              F.sum(F.when(half, 0).otherwise(value)).cast("bigint")
              .alias("_b")))
    s = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
        F.sum("_a").cast("bigint").alias("_sa"),
        F.sum("_b").cast("bigint").alias("_sb"),
        F.sum(F.col("_a") * F.col("_b")).cast("bigint").alias("_sab"),
        F.sum(F.col("_a") * F.col("_a")).cast("bigint").alias("_saa"),
        F.sum(F.col("_b") * F.col("_b")).cast("bigint").alias("_sbb"))
    nd = F.col("n_units").cast("double")
    num = nd * F.col("_sab").cast("double") - (
        F.col("_sa").cast("double") * F.col("_sb").cast("double"))
    da = nd * F.col("_saa").cast("double") - (
        F.col("_sa").cast("double") * F.col("_sa").cast("double"))
    db = nd * F.col("_sbb").cast("double") - (
        F.col("_sb").cast("double") * F.col("_sb").cast("double"))
    r = num / F.sqrt(da * db)
    ok = (F.col("n_units") >= min_units) & (da > 0.0) & (db > 0.0)
    return s.select(
        "n_units",
        F.when(ok, r).alias("r_half"),
        F.when(ok & (r > -1.0),
               F.lit(2.0) * r / (F.lit(1.0) + r)).alias("reliability"))


def kendalls_w(
    df: DataFrame,
    id_col: str,
    ranker_cols: Sequence[str],
    bucket_width: int = 1024,
) -> DataFrame:
    """Kendall's coefficient of concordance W with tie correction
    (Kendall & Babington Smith, Ann. Math. Statist. 1939): how much
    ``m`` rankers agree on the ordering of ``n`` items — the ordinal
    companion to :func:`~logpipe_spark.operators.aggregate.fleiss_kappa`
    (categorical votes) for judging heuristic scorers before trusting
    their consensus ranking.

    Ranks are tie-averaged and kept INTEGER as doubled ranks
    ``2·cnt_lt + t + 1`` (the spearman_corr trick), computed per ranker
    from the DISTINCT-VALUE frequency frame via the two-level bucketed
    prefix scan (:func:`bucketed_cumsum` under a constant key — NEVER
    an unpartitioned corpus window, the top_ngrams trap) and joined
    back value→item. With doubled rank sums ``R2_i``:
    ``W = 3·Σ(R2_i − m(n+1))² / (m²(n³−n) − m·ΣT_j)``, tie terms
    ``T_j = Σ(t³−t)``. Squares and cubes accumulate in DECIMAL(38,0)
    == HUGEINT (n³ leaves int64 at ~2M items); the final W is one
    division of those exact integers cast to double. Degenerate inputs
    (every ranker all-tied) emit NULL under the ANSI guard.

    Returns ONE row: ``(n_items, w)``.
    """
    m = len(ranker_cols)
    cond = F.col(id_col).isNotNull()
    for rc in ranker_cols:
        cond = cond & F.col(rc).isNotNull()
    d = df.where(cond).select(
        F.col(id_col).alias("_id"),
        *[F.col(rc).cast("bigint").alias(f"_r{j}")
          for j, rc in enumerate(ranker_cols)])
    nn = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_items"))
    ranked = d.select("_id")
    ties = []
    for j in range(m):
        vals = (d.groupBy(F.col(f"_r{j}").alias("v"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
                .withColumn("_k", F.lit(1)))
        cum = bucketed_cumsum(vals, "_k", ["t"], value_col="v",
                              bucket_width=bucket_width)
        dr = (cum.select(
            "v", (F.lit(2) * F.col("cum_t") - F.col("t") + 1)
            .cast("bigint").alias(f"_dr{j}")))
        ranked = (ranked
                  .join(d.select("_id", f"_r{j}"), "_id")
                  .join(dr, F.col(f"_r{j}") == F.col("v"))
                  .drop("v", f"_r{j}"))
        ties.append(vals.agg(
            F.sum(F.col("t").cast("decimal(38,0)") * F.col("t")
                  * F.col("t") - F.col("t"))
            .cast("decimal(38,0)").alias(f"_tt{j}")))
    rsum = sum(F.col(f"_dr{j}") for j in range(1, m)) + F.col("_dr0")
    r2 = ranked.select(rsum.cast("bigint").alias("_rsum"))
    dev = (r2.crossJoin(F.broadcast(nn))
           .select((F.col("_rsum") - F.lit(m) * (F.col("n_items") + 1))
                   .cast("decimal(19,0)").alias("_d")))
    s2 = dev.agg(F.sum(F.col("_d") * F.col("_d")).cast("decimal(38,0)")
                 .alias("_s2"))
    out = nn.crossJoin(F.broadcast(s2))
    for t in ties:
        out = out.crossJoin(F.broadcast(t))
    nd = F.col("n_items").cast("decimal(38,0)")
    den = (F.lit(m * m) * (nd * nd * nd - nd)
           - F.lit(m) * sum(F.col(f"_tt{j}") for j in range(1, m))
           - F.lit(m) * F.col("_tt0")).cast("decimal(38,0)")
    return out.select(
        "n_items",
        F.when(den.cast("double") > 0.0,
               F.lit(3.0) * F.col("_s2").cast("double")
               / den.cast("double")).alias("w"))


def proportion_diff_ci(
    df: DataFrame,
    key: str,
    group: Column,
    success: Column,
) -> DataFrame:
    """Newcombe hybrid confidence interval for a DIFFERENCE of two
    proportions per ``key`` (Newcombe, Stat. Med. 1998, method 10):
    each arm gets its Wilson score interval and the difference CI
    combines the per-arm distances in quadrature — the recommended
    small-sample interval for "did the error rate move", completing
    the Wilson family next to tool_reliability's single-proportion
    bound.

    One conditional-count shuffle to four exact int64 cells per key;
    every float after that is formed from those integers in the
    oracle's exact operation order (sqrt correctly rounded), the
    tool_reliability discipline with the same 1.96 literal style.
    Empty arms emit NULL bounds (ANSI guard).

    Returns ``(key, n1, k1, n2, k2, p1, p2, diff, ci_lo, ci_hi)``.
    """
    g = (df.where(F.col(key).isNotNull() & group.isNotNull()
                  & success.isNotNull())
         .groupBy(key)
         .agg(F.sum(F.when(group, 0).otherwise(1)).cast("bigint")
              .alias("n1"),
              F.sum(F.when(~group & success, 1).otherwise(0))
              .cast("bigint").alias("k1"),
              F.sum(F.when(group, 1).otherwise(0)).cast("bigint")
              .alias("n2"),
              F.sum(F.when(group & success, 1).otherwise(0))
              .cast("bigint").alias("k2")))

    def wilson(kc: str, nc: str):
        nd = F.col(nc).cast("double")
        p = F.col(kc).cast("double") / nd
        c2n = (F.lit(1.96) * F.lit(1.96)) / (F.lit(2.0) * nd)
        rad = F.lit(1.96) * F.sqrt(
            p * (F.lit(1.0) - p) / nd
            + (F.lit(1.96) * F.lit(1.96)) / (F.lit(4.0) * (nd * nd)))
        den = F.lit(1.0) + (F.lit(1.96) * F.lit(1.96)) / nd
        return p, (p + c2n - rad) / den, (p + c2n + rad) / den

    p1, l1, u1 = wilson("k1", "n1")
    p2, l2, u2 = wilson("k2", "n2")
    d = p2 - p1
    lo = d - F.sqrt((p1 - l1) * (p1 - l1) + (u2 - p2) * (u2 - p2))
    hi = d + F.sqrt((u1 - p1) * (u1 - p1) + (p2 - l2) * (p2 - l2))
    ok = (F.col("n1") > 0) & (F.col("n2") > 0)
    return g.select(
        key, "n1", "k1", "n2", "k2",
        F.when(F.col("n1") > 0, p1).alias("p1"),
        F.when(F.col("n2") > 0, p2).alias("p2"),
        F.when(ok, d).alias("diff"),
        F.when(ok, lo).alias("ci_lo"),
        F.when(ok, hi).alias("ci_hi"))


def mood_median_test(
    df: DataFrame,
    key: str,
    value,
    bucket_width: int = 1024,
) -> DataFrame:
    """Mood's median test (Mood, "Introduction to the Theory of
    Statistics", 1950): do the k groups share a common median? Counts
    above vs at-or-below the GRAND median per group feed the 2×k
    chi-square — the blunt-but-robust complement to kruskal_wallis
    (rank-sum) for heavy-tailed metrics.

    The grand median is the exact DISCRETE median (smallest value
    whose inclusive cumulative count reaches ceil(n/2)) from the
    value-frequency frame via the bucketed prefix scan under a
    constant key (never a global sort), broadcast back as a 1-row
    scalar. All 2k observed cells and margins are exact int64; each
    chi-square term ``(o-e)²/e`` is formed from them cast to double in
    the oracle's order, and the 2k-term sum folds LEFT-TO-RIGHT over
    (group, side) order (== DuckDB list_reduce) — never an unordered
    float sum. Zero-expectation cells contribute 0 (their observed is
    structurally 0 too).

    Returns ONE row: ``(n, k_groups, grand_median, chi2)``.
    """
    base = (df.where(F.col(key).isNotNull() & value.isNotNull())
            .select(F.col(key).alias("_g"),
                    value.cast("bigint").alias("_v")))
    vals = (base.groupBy(F.col("_v").alias("v"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
            .withColumn("_k", F.lit(1)))
    cum = bucketed_cumsum(vals, "_k", ["t"], value_col="v",
                          bucket_width=bucket_width)
    tot = base.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    med = (cum.crossJoin(F.broadcast(tot))
           .agg(F.min(F.when(
               F.col("cum_t") >= F.expr("(n + 1) div 2"),
               F.col("v"))).cast("bigint").alias("grand_median")))
    cells = (base.crossJoin(F.broadcast(med))
             .groupBy("_g")
             .agg(F.sum(F.when(F.col("_v") > F.col("grand_median"), 1)
                        .otherwise(0)).cast("bigint").alias("_gt"),
                  F.sum(F.when(F.col("_v") <= F.col("grand_median"), 1)
                        .otherwise(0)).cast("bigint").alias("_le")))
    marg = cells.agg(
        F.sum("_gt").cast("bigint").alias("_cgt"),
        F.sum("_le").cast("bigint").alias("_cle"),
        F.count(F.lit(1)).cast("bigint").alias("k_groups"))
    j = cells.crossJoin(F.broadcast(marg)).crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    rn = (F.col("_gt") + F.col("_le")).cast("double")

    def term(o: str, ct: str):
        e = rn * F.col(ct).cast("double") / nd
        od = F.col(o).cast("double")
        return F.when(e > 0.0, (od - e) * (od - e) / e).otherwise(0.0)

    t2 = j.select(
        "_g", "k_groups", "n",
        term("_gt", "_cgt").alias("_t1"),
        term("_le", "_cle").alias("_t2"))
    folded = (t2.groupBy("k_groups", "n")
              .agg(F.array_sort(F.collect_list(
                  F.struct("_g", "_t1", "_t2"))).alias("_h"))
              .select("n", "k_groups", F.expr(
                  "aggregate(flatten(transform(_h, s -> array(s._t1, "
                  "s._t2))), cast(0.0 AS double), "
                  "(acc, v) -> acc + v)").alias("chi2")))
    return (folded.crossJoin(F.broadcast(med))
            .select("n", "k_groups", "grand_median", "chi2"))


def sign_test(
    df: DataFrame,
    key: str,
    pre,
    post,
) -> DataFrame:
    """Paired sign test per ``key`` (Arbuthnott 1710 — the oldest
    nonparametric test): of the units whose metric CHANGED, how many
    moved up vs down, with the normal-approximation z
    ``(n_pos - n_neg)/sqrt(n_pos + n_neg)`` — the magnitude-free
    companion to wilcoxon_signed (which ranks |differences|; the sign
    test only needs direction, so it survives arbitrary monotone
    metric transforms).

    One conditional-count shuffle to three exact int64 cells per key;
    z is a single division by a sqrt of an exact integer. Keys with
    no changed pairs emit NULL z (ANSI guard).

    Returns ``(key, n_pos, n_neg, n_tie, z)``.
    """
    g = (df.where(F.col(key).isNotNull() & pre.isNotNull()
                  & post.isNotNull())
         .groupBy(key)
         .agg(F.sum(F.when(post > pre, 1).otherwise(0)).cast("bigint")
              .alias("n_pos"),
              F.sum(F.when(post < pre, 1).otherwise(0)).cast("bigint")
              .alias("n_neg"),
              F.sum(F.when(post == pre, 1).otherwise(0)).cast("bigint")
              .alias("n_tie")))
    nc = (F.col("n_pos") + F.col("n_neg")).cast("double")
    return g.select(
        key, "n_pos", "n_neg", "n_tie",
        F.when(F.col("n_pos") + F.col("n_neg") > 0,
               (F.col("n_pos") - F.col("n_neg")).cast("double")
               / F.sqrt(nc)).alias("z"))


def stump_split(
    df: DataFrame,
    value,
    label,
    bucket_width: int = 1024,
) -> DataFrame:
    """Best decision-stump split: the threshold on an integer feature
    that maximizes Gini-impurity reduction for a binary label (the
    CART split criterion, Breiman et al. 1984) — the one-feature
    usefulness probe a feature pipeline runs before paying for a
    model ("does cents carry ANY signal about errors, and where is
    the cut?").

    Every candidate threshold is a distinct feature value: the
    (count, positives) cumulative frame comes from the bucketed
    prefix scan under a constant key (never a global sort), and each
    candidate's weighted child impurity is formed from exact int64
    prefix counts cast to double in the oracle's order. The argmin is
    ``orderBy(impurity, threshold).limit(1)`` — TakeOrderedAndProject
    under a total order (deterministic at impurity ties), the
    top_ngrams discipline.

    Returns ONE row: ``(threshold, n_left, pos_left, n_right,
    pos_right, parent_gini, split_gini, gain)`` — split is
    ``value <= threshold``.
    """
    base = (df.where(value.isNotNull() & label.isNotNull())
            .select(value.cast("bigint").alias("_v"),
                    F.when(label, 1).otherwise(0).cast("bigint")
                    .alias("_y")))
    vals = (base.groupBy(F.col("_v").alias("v"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("t"),
                 F.sum("_y").cast("bigint").alias("p"))
            .withColumn("_k", F.lit(1)))
    cum = bucketed_cumsum(vals, "_k", ["t", "p"], value_col="v",
                          bucket_width=bucket_width)
    tot = base.agg(F.count(F.lit(1)).cast("bigint").alias("_n"),
                   F.sum("_y").cast("bigint").alias("_p"))
    c = (cum.crossJoin(F.broadcast(tot))
         .where(F.col("cum_t") < F.col("_n")))   # non-empty right side
    nl = F.col("cum_t").cast("double")
    pl = F.col("cum_p").cast("double")
    nr = (F.col("_n") - F.col("cum_t")).cast("double")
    pr = (F.col("_p") - F.col("cum_p")).cast("double")
    nd = F.col("_n").cast("double")
    imp = (F.lit(2.0) * pl * (nl - pl) / nl
           + F.lit(2.0) * pr * (nr - pr) / nr) / nd
    parent = (F.lit(2.0) * F.col("_p").cast("double")
              * (nd - F.col("_p").cast("double")) / (nd * nd))
    cand = c.select(
        F.col("v").alias("threshold"),
        F.col("cum_t").alias("n_left"), F.col("cum_p").alias("pos_left"),
        (F.col("_n") - F.col("cum_t")).cast("bigint").alias("n_right"),
        (F.col("_p") - F.col("cum_p")).cast("bigint").alias("pos_right"),
        parent.alias("parent_gini"), imp.alias("split_gini"),
        (parent - imp).alias("gain"))
    return cand.orderBy(F.col("split_gini").asc(),
                        F.col("threshold").asc()).limit(1)


def cochran_armitage(
    df: DataFrame,
    score,
    success,
) -> DataFrame:
    """Cochran–Armitage trend test (Cochran 1954; Armitage 1955): does
    a binary outcome's rate TREND across ordered integer-scored groups
    — the dose-response test that beats k-group chi-square when the
    alternative is monotone (error rate rising with request size,
    conversion falling with latency bucket).

    One (score) conditional-count collapse; the trend numerator is the
    N-scaled INTEGER ``A = Σ w·(k·N − n·K)`` accumulated in
    DECIMAL(38,0) (k·N is the corpus-squared overflow case), and
    ``z = (A/N) / sqrt(p̄(1−p̄)(S2 − S1²/N))`` is formed from the exact
    integer sums cast to double in the oracle's order. Degenerate
    tables (one group, or an all-success/all-failure outcome) emit
    NULL under the ANSI guard.

    Returns ONE row: ``(n, k_success, n_groups, z)``.
    """
    g = (df.where(score.isNotNull() & success.isNotNull())
         .groupBy(score.cast("bigint").alias("_w"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("_n"),
              F.sum(F.when(success, 1).otherwise(0)).cast("bigint")
              .alias("_s")))
    tot = g.agg(F.sum("_n").cast("bigint").alias("n"),
                F.sum("_s").cast("bigint").alias("k_success"),
                F.count(F.lit(1)).cast("bigint").alias("n_groups"))
    j = g.crossJoin(F.broadcast(tot))
    s = j.agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("k_success").cast("bigint").alias("k_success"),
        F.max("n_groups").cast("bigint").alias("n_groups"),
        F.sum(F.col("_w").cast("decimal(38,0)")
              * (F.col("_s").cast("decimal(19,0)") * F.col("n")
                 - F.col("_n").cast("decimal(19,0)")
                 * F.col("k_success")))
        .cast("decimal(38,0)").alias("_a"),
        F.sum(F.col("_w") * F.col("_n")).cast("bigint").alias("_s1"),
        F.sum(F.col("_w") * F.col("_w") * F.col("_n")).cast("bigint")
        .alias("_s2"))
    nd = F.col("n").cast("double")
    kd = F.col("k_success").cast("double")
    pbar = kd / nd
    var_t = (pbar * (F.lit(1.0) - pbar)
             * (F.col("_s2").cast("double")
                - F.col("_s1").cast("double")
                * F.col("_s1").cast("double") / nd))
    t = F.col("_a").cast("double") / nd
    return s.select(
        "n", "k_success", "n_groups",
        F.when(var_t > 0.0, t / F.sqrt(var_t)).alias("z"))


def permutation_test_by(
    df: DataFrame,
    key: str,
    unit_col: str,
    group: Column,
    y_col: str,
    n_perms: int = 19,
) -> DataFrame:
    """Per-key exact-randomization test of a two-group mean difference —
    the keyed form of :func:`permutation_test` (same deterministic md5
    relabelings; Fisher's logic), producing the PER-HYPOTHESIS exact
    rational p-values ``(n_ge + 1) / (n_perms + 1)`` that a
    multiple-testing gate (:func:`bh_fdr`) consumes.

    Scale shape: the seed fan-out is a broadcast crossJoin (n_perms
    copies of the unit frame, map-side collapsed to key × seed rows in
    ONE combinable shuffle); the observed split is a second combinable
    collapse of the same unit frame; everything downstream is
    key-cardinality-sized. Every mean is a single division of exact
    int64 sums. Keys where any permutation lands an empty arm emit NULL
    p (ANSI guard), matching the unkeyed form.

    Returns ``(key, n_a, n_b, diff_obs, n_ge, p_value)``.
    """
    u = (df.where(F.col(unit_col).isNotNull() & group.isNotNull()
                  & F.col(y_col).isNotNull() & F.col(key).isNotNull())
         .select(F.col(key), F.col(unit_col).cast("string").alias("_u"),
                 group.alias("_g"),
                 F.col(y_col).cast("bigint").alias("_y")))
    obs = u.groupBy(key).agg(
        F.sum(F.when(F.col("_g"), 1).otherwise(0)).cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("_g"), 0).otherwise(1)).cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("_g"), F.col("_y")).otherwise(0))
        .cast("bigint").alias("_sa"),
        F.sum(F.when(F.col("_g"), 0).otherwise(F.col("_y")))
        .cast("bigint").alias("_sb"))
    d_obs = (F.col("_sa").cast("double") / F.col("n_a").cast("double")
             - F.col("_sb").cast("double") / F.col("n_b").cast("double"))
    obs = obs.select(
        key, "n_a", "n_b",
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), d_obs)
        .alias("diff_obs"))
    spark = df.sparkSession
    seeds = local_frame(spark, [(s,) for s in range(1, n_perms + 1)],
                        "seed int")
    h = F.conv(F.substring(
        F.md5(F.concat_ws(":", F.col("seed").cast("string"),
                          F.col("_u"))), 1, 8), 16, 10).cast("bigint")
    flip = F.pmod(h, F.lit(2)) == 0
    per = (u.crossJoin(F.broadcast(seeds))
           .groupBy(key, "seed")
           .agg(F.sum(F.when(flip, 1).otherwise(0)).cast("bigint")
                .alias("_pa"),
                F.sum(F.when(flip, 0).otherwise(1)).cast("bigint")
                .alias("_pb"),
                F.sum(F.when(flip, F.col("_y")).otherwise(0))
                .cast("bigint").alias("_psa"),
                F.sum(F.when(flip, 0).otherwise(F.col("_y")))
                .cast("bigint").alias("_psb")))
    d_perm = (F.col("_psa").cast("double") / F.col("_pa").cast("double")
              - F.col("_psb").cast("double")
              / F.col("_pb").cast("double"))
    per = per.select(
        key, "seed",
        F.when((F.col("_pa") > 0) & (F.col("_pb") > 0), d_perm)
        .alias("_d"))
    cnt = (per.join(obs.select(key, "diff_obs"), key)
           .groupBy(key)
           .agg(F.sum(F.when(F.abs(F.col("_d"))
                             >= F.abs(F.col("diff_obs")), 1)
                      .otherwise(0)).cast("bigint").alias("n_ge"),
                F.sum(F.when(F.col("_d").isNull(), 1).otherwise(0))
                .cast("bigint").alias("_null_perms")))
    out = obs.join(cnt, key, "left")
    return out.select(
        key, "n_a", "n_b", "diff_obs",
        F.coalesce(F.col("n_ge"), F.lit(0)).cast("bigint").alias("n_ge"),
        F.when(F.col("diff_obs").isNotNull()
               & (F.coalesce(F.col("_null_perms"), F.lit(0)) == 0),
               (F.coalesce(F.col("n_ge"), F.lit(0)) + 1).cast("double")
               / F.lit(float(n_perms + 1))).alias("p_value"))


def bh_fdr(
    tests: DataFrame,
    key: str,
    n_ge_col: str = "n_ge",
    n_perms: int = 19,
    alpha_num: int = 1,
    alpha_den: int = 10,
) -> DataFrame:
    """Benjamini–Hochberg step-up FDR control (JRSS-B 1995) over EXACT
    RATIONAL p-values p_i = k_i/K with k_i = n_ge+1, K = n_perms+1
    (:func:`permutation_test_by`'s contract) — the multiple-testing
    gate a drift scorecard needs once it tests hundreds of segments
    ("which of these 500 segment shifts survive a 10% FDR?").

    The step-up rule needs per-hypothesis RANKS, but ranks enter only
    through "the largest i with p_(i) <= i·α/m", and within a tie-group
    the largest rank is the easiest — so the decision collapses onto
    the BOUNDED p support: with cnt_le(k) = #tests with k' <= k,
    reject all tests with k <= k* where

        k* = max{ k : k·m·α_den <= cnt_le(k)·K·α_num }

    ALL INTEGER — no per-key rank, no global window, no float
    comparison. The support frame has at most K+1 rows (broadcast
    everywhere); per-test work is one broadcast scalar join. NULL-p
    tests are excluded from m and never rejected.

    Returns ``(key, p_value, m_tests, k_star, reject)``.
    """
    t = (tests.select(F.col(key),
                      (F.col(n_ge_col) + 1).cast("bigint").alias("_k"),
                      F.col("p_value"))
         .where(F.col("p_value").isNotNull()))
    big_k = n_perms + 1
    sup = t.groupBy("_k").agg(F.count(F.lit(1)).cast("bigint")
                              .alias("_c"))
    a = sup.select(F.col("_k").alias("_ka"))
    # cnt_le over the <=K+1-row support via a broadcast non-equi join;
    # m rides the same pass (sum over the unfiltered side)
    le = (a.join(F.broadcast(sup), F.col("_k") <= F.col("_ka"))
          .groupBy("_ka")
          .agg(F.sum("_c").cast("bigint").alias("_cle")))
    m = sup.agg(F.sum("_c").cast("bigint").alias("_m"))
    good = (le.crossJoin(F.broadcast(m))
            .where(F.col("_ka") * F.col("_m") * F.lit(int(alpha_den))
                   <= F.col("_cle") * F.lit(int(big_k))
                   * F.lit(int(alpha_num))))
    kstar = good.agg(F.max("_ka").alias("_kstar"))
    out = (t.crossJoin(F.broadcast(m)).crossJoin(F.broadcast(kstar)))
    return out.select(
        key, "p_value",
        F.col("_m").alias("m_tests"),
        F.col("_kstar").cast("bigint").alias("k_star"),
        F.coalesce(F.col("_k") <= F.col("_kstar"), F.lit(False))
        .alias("reject"))


def effect_size(
    df: DataFrame,
    key: str,
    value: Column,
    sample_a: Column,
    min_n: int = 2,
) -> DataFrame:
    """Cohen's d / Hedges' g standardized mean difference per key —
    the magnitude companion the rank gates (Mann-Whitney, Cliff's
    delta) and the permutation p-value don't report: HOW BIG is the
    shift in pooled-SD units (Cohen 1988; Hedges' small-sample
    correction g = d·(1 − 3/(4·df − 1)), the standard approximation).

    One combinable shuffle produces the six exact int64 sufficient
    stats per key (n, Σy, Σy² per arm); d is formed from them with
    every sum cast to double BEFORE the cross products (the overflow
    discipline) in the oracle's exact order:

        var_p = ((Sa2 − Sa²/na) + (Sb2 − Sb²/nb)) / df,  df = na+nb−2

    Zero pooled variance or df < 1 emits NULL d/g (ANSI guard).
    Returns ``(key, n_a, n_b, mean_a, mean_b, cohens_d, hedges_g)``
    (explicit names — a bare ``g`` collides with single-letter key
    columns).
    """
    vi = value.cast("bigint")
    s = (df.where(vi.isNotNull() & sample_a.isNotNull()
                  & F.col(key).isNotNull())
         .select(F.col(key), vi.alias("_y"), sample_a.alias("_g"))
         .groupBy(key)
         .agg(F.sum(F.when(F.col("_g"), 1).otherwise(0)).cast("bigint")
              .alias("n_a"),
              F.sum(F.when(F.col("_g"), 0).otherwise(1)).cast("bigint")
              .alias("n_b"),
              F.sum(F.when(F.col("_g"), F.col("_y")).otherwise(0))
              .cast("bigint").alias("_sa"),
              F.sum(F.when(F.col("_g"), 0).otherwise(F.col("_y")))
              .cast("bigint").alias("_sb"),
              F.sum(F.when(F.col("_g"), F.col("_y") * F.col("_y"))
                    .otherwise(0)).cast("bigint").alias("_sa2"),
              F.sum(F.when(F.col("_g"), 0)
                    .otherwise(F.col("_y") * F.col("_y")))
              .cast("bigint").alias("_sb2")))
    s = s.where((F.col("n_a") >= min_n) & (F.col("n_b") >= min_n))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = F.col("_sa").cast("double"), F.col("_sb").cast("double")
    sa2, sb2 = F.col("_sa2").cast("double"), F.col("_sb2").cast("double")
    dfree = na + nb - F.lit(2.0)
    varp = ((sa2 - sa * sa / na) + (sb2 - sb * sb / nb)) / dfree
    d = (sa / na - sb / nb) / F.sqrt(varp)
    g = d * (F.lit(1.0) - F.lit(3.0)
             / (F.lit(4.0) * dfree - F.lit(1.0)))
    return s.select(
        key, "n_a", "n_b",
        (sa / na).alias("mean_a"),
        (sb / nb).alias("mean_b"),
        F.when((dfree > 0) & (varp > 0), d).alias("cohens_d"),
        F.when((dfree > 0) & (varp > 0), g).alias("hedges_g"))


def mcnemar_test(
    df: DataFrame,
    key: str,
    pred_a: Column,
    pred_b: Column,
    actual: Column,
) -> DataFrame:
    """McNemar's paired test per key (Psychometrika 1947; the Dietterich
    1998 recommendation for comparing two classifiers ON THE SAME
    EXAMPLES): only the DISCORDANT pairs carry information — b = #(A
    right, B wrong), c = #(A wrong, B right) — and the continuity-
    corrected statistic

        chi2 = (|b − c| − 1)² / (b + c)

    is a single division of exact integers (both engines form the same
    operands, so the value hash-matches; the marginal-accuracy
    comparison two_proportion_z runs ignores the pairing and loses
    power). One combinable shuffle to the four cells per key; keys with
    no discordant pairs emit NULL chi2 (ANSI guard — the test is
    undefined, not zero).

    Returns ``(key, n_pairs, both_right, both_wrong, a_only, b_only,
    chi2)``.
    """
    ra = (pred_a == actual)
    rb = (pred_b == actual)
    s = (df.where(F.col(key).isNotNull() & pred_a.isNotNull()
                  & pred_b.isNotNull() & actual.isNotNull())
         .groupBy(key)
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
              F.sum(F.when(ra & rb, 1).otherwise(0)).cast("bigint")
              .alias("both_right"),
              F.sum(F.when(~ra & ~rb, 1).otherwise(0)).cast("bigint")
              .alias("both_wrong"),
              F.sum(F.when(ra & ~rb, 1).otherwise(0)).cast("bigint")
              .alias("a_only"),
              F.sum(F.when(~ra & rb, 1).otherwise(0)).cast("bigint")
              .alias("b_only")))
    b, c = F.col("a_only"), F.col("b_only")
    num = (F.abs(b - c) - 1) * (F.abs(b - c) - 1)
    return s.select(
        key, "n_pairs", "both_right", "both_wrong", "a_only", "b_only",
        F.when(b + c > 0,
               num.cast("double") / (b + c).cast("double"))
        .alias("chi2"))
