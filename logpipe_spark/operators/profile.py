"""Dataset profiling: per-column null/distinct statistics in long form.

The data-quality pass a pipeline runs before trusting a new feed — the
reference surfaces per-sink counters and parse-error tallies at the edge
(src/utils/progressTracker.js, src/parsers/ndjsonParser.js warning cap);
this is the batch analog over an already-landed table.

Scale design: ONE aggregate pass over the table computes every column's
count/null-count/approx-or-exact distinct simultaneously (Spark fuses
the 2N aggregate expressions into a single partial+final pair — one scan,
one 1-row exchange), then the 1-row wide frame pivots to long form with
an explode that never touches the data again. The naive per-column loop
runs N scans; profiling 100 TB must not.

count(DISTINCT a), count(DISTINCT b), ... in one agg triggers Spark's
Expand operator (one duplicated stream per distinct aggregate) — an
N-fold input blowup. For wide tables pass exact=False to use HLL
(approx_count_distinct) which keeps the single-pass, no-Expand shape.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dq_table_checks(
    df: DataFrame,
    unique_cols: Sequence[str] = (),
    not_null_cols: Sequence[str] = (),
    range_checks: Sequence[tuple[str, Column]] = (),
    table: str = "table",
) -> DataFrame:
    """Single-scan data-quality checks over one table (Deequ-style).

    Emits (check, violations, passed) rows for:
    - ``unique:<col>``  — duplicate rows beyond the first per key value
      (``count(*) - count(distinct col)``; NULL keys count as duplicates
      of each other only via the not-null check, matching SQL distinct);
    - ``not_null:<col>`` — NULL count;
    - ``range:<name>``   — rows where the given predicate is FALSE or
      NULL (a NULL predicate is a violation: unknown ≠ valid).

    Every metric is an aggregate expression in ONE fused pass — N checks
    never re-scan the table (same single-scan contract as
    :func:`profile_columns`; the exact count-distincts bring the same
    documented Expand trade-off).
    """
    aggs = [F.count(F.lit(1)).cast("bigint").alias("_rows")]
    names: list[str] = []
    for c in unique_cols:
        names.append(f"unique:{c}")
        aggs.append(
            (F.count(c) - F.count_distinct(F.col(c)))
            .cast("bigint")
            .alias(f"_v{len(names)}")
        )
    for c in not_null_cols:
        names.append(f"not_null:{c}")
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"_v{len(names)}")
        )
    for name, pred in range_checks:
        names.append(f"range:{name}")
        aggs.append(
            F.sum(F.when(pred, 0).otherwise(1)).cast("bigint").alias(f"_v{len(names)}")
        )
    wide = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(f"{table}.{n}").alias("check"),
                F.col(f"_v{i + 1}").alias("violations"),
            )
            for i, n in enumerate(names)
        ]
    )
    long = wide.select(F.explode(rows).alias("r")).select("r.check", "r.violations")
    return _with_passed(long)


def dq_fk_check(
    child: DataFrame,
    parent: DataFrame,
    child_col: str,
    parent_col: str,
    table: str = "table",
) -> DataFrame:
    """Referential-integrity check: child rows whose FK has no parent.

    One anti join on the key — broadcastable when the parent is a
    dimension, AQE-planned otherwise; NULL FKs are orphans here (SQL anti
    join keeps them), pair with a ``not_null`` check to tell the cases
    apart. Emits one (check, violations, passed) row.
    """
    orphans = child.join(
        parent.select(F.col(parent_col).alias(child_col)), child_col, "left_anti"
    )
    row = orphans.agg(
        F.count(F.lit(1)).cast("bigint").alias("violations")
    ).select(
        F.lit(f"{table}.fk:{child_col}").alias("check"), F.col("violations")
    )
    return _with_passed(row)


def dq_suite(checks: Sequence[DataFrame]) -> DataFrame:
    """Union per-table check frames into one report. Each input is a
    handful of rows (aggregates), so the union is metadata-sized however
    large the scanned tables were."""
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


def _with_passed(df: DataFrame) -> DataFrame:
    return df.select(
        "check",
        "violations",
        F.when(F.col("violations") == 0, F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("passed"),
    )


def profile_columns(
    df: DataFrame, cols: Sequence[str] | None = None, exact: bool = True
) -> DataFrame:
    """Profile ``cols`` (default: all) → (column_name, n_rows, n_null,
    n_distinct) one row per column. n_distinct excludes NULL (SQL
    count-distinct semantics, identical in DuckDB).
    """
    cols = list(cols) if cols is not None else list(df.columns)
    distinct_fn = F.count_distinct if exact else F.approx_count_distinct
    aggs = [F.count(F.lit(1)).cast("bigint").alias("_rows")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"_null_{c}")
        )
        aggs.append(distinct_fn(F.col(c)).cast("bigint").alias(f"_nd_{c}"))
    wide = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("_rows").alias("n_rows"),
                F.col(f"_null_{c}").alias("n_null"),
                F.col(f"_nd_{c}").alias("n_distinct"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(rows).alias("r")).select(
        "r.column_name", "r.n_rows", "r.n_null", "r.n_distinct"
    )


# log10(1 + 1/d) for d = 1..9 — Benford's law expected first-digit
# frequencies, embedded as literal doubles so neither engine ever calls
# log() (the repr strings below parse to the identical nearest double in
# Spark and DuckDB; logpipe_spark/__spark_entry__ builds the oracle CASE
# from this same table)
BENFORD_EXPECTED = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def benford_digits(df: DataFrame, key: str, value) -> DataFrame:
    """Benford's-law first-digit audit per group — the classic
    fabricated-numbers / broken-instrumentation detector for positive
    value columns (amounts, counts, durations).

    ``value`` must be an integer-valued Column; only strictly positive
    values participate. The first digit comes from the decimal string
    head (``substring(cast(v AS string), 1, 1)``) — identical in both
    engines and free of log10(). Expected frequencies are the literal
    constants above; ``obs_frac`` is the raw integer division and
    ``dev`` its signed gap vs Benford. Plan: ONE map-side-combinable
    shuffle on (key, digit); per-key totals re-aggregate the 9-row-per-
    key digit frame and broadcast back.

    Returns (key, digit, n_obs, n_total, obs_frac, expected, dev).
    """
    v = value.cast("bigint")
    digits = (
        df.where(v.isNotNull() & (v > 0))
        .select(key, F.substring(v.cast("string"), 1, 1)
                .cast("int").alias("digit"))
        .groupBy(key, "digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    )
    totals = digits.groupBy(key).agg(
        F.sum("n_obs").cast("bigint").alias("n_total"))
    expected = F.element_at(
        F.create_map(*[F.lit(x) for kv in BENFORD_EXPECTED.items()
                       for x in kv]),
        F.col("digit"))
    return (
        digits.join(F.broadcast(totals), key)
        .select(
            key, "digit", "n_obs", "n_total",
            (F.col("n_obs") / F.col("n_total")).alias("obs_frac"),
            expected.alias("expected"),
        )
        .withColumn("dev", F.col("obs_frac") - F.col("expected"))
    )


def hist2d(df: DataFrame, x: str, y: str, min_n: int = 1) -> DataFrame:
    """2-D categorical/bucketed histogram with independence lift — the
    activity-heatmap profiler ("which (event_type, hour) cells run hot
    relative to their marginals?"). Pass pre-bucketed columns (ints or
    categories); the operator never buckets for you, so the cell grid is
    whatever grain the caller chose.

    Plan: one (x, y) cell count — map-side combinable — plus two
    metadata-sized marginal reductions broadcast back; the scalar total
    is a broadcast cross join. frac and lift are raw doubles from exact
    integer counts with the cast-before-product overflow discipline
    (n_x·n_y of two corpus-scale marginals overflows int64), so the
    table passes the exact cross-engine hash gate.

    Returns (x, y, n, n_x, n_y, frac, lift); lift > 1 ⇔ the cell is
    overrepresented vs independent marginals.
    """
    base = df.where(F.col(x).isNotNull() & F.col(y).isNotNull())
    cells = base.groupBy(x, y).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    mx = cells.groupBy(x).agg(F.sum("n").cast("bigint").alias("n_x"))
    my = cells.groupBy(y).agg(F.sum("n").cast("bigint").alias("n_y"))
    total = cells.agg(F.sum("n").cast("bigint").alias("n_total"))
    return (
        cells.where(F.col("n") >= min_n)
        .join(F.broadcast(mx), x)
        .join(F.broadcast(my), y)
        .crossJoin(F.broadcast(total))
        .select(
            x, y, "n", "n_x", "n_y",
            (F.col("n") / F.col("n_total")).alias("frac"),
            (F.col("n").cast("double") * F.col("n_total")
             / (F.col("n_x").cast("double") * F.col("n_y"))).alias("lift"),
        )
    )


def freshness_lag(df: DataFrame, key: str, ts_col: str = "ts") -> DataFrame:
    """Per-``key`` data-freshness audit: how far each key's newest row
    lags behind the table's global high-water mark, plus the mean
    arrival gap — the staleness monitor a 100 TB ingest runs per
    source/partition before trusting a downstream window (a silently
    stalled producer shows up as staleness_us >> its own mean gap long
    before volume alarms fire).

    One map-side-combinable per-key (min, max, count) reduction; the
    global maximum is the broadcast of that key-cardinality frame's
    1-row re-aggregate (never a global window). All epoch math is
    exact int64 micros; ``mean_gap_us`` is the single division
    (max-min)/(n-1) of exact integers, NULL for single-row keys
    (ANSI guard).

    Returns ``(key, n, last_us, staleness_us, mean_gap_us)``.
    """
    return freshness_report(freshness_partials(df, key, ts_col), key)


def freshness_partials(df: DataFrame, key: str,
                       ts_col: str = "ts") -> DataFrame:
    """Per-``key`` (n, first_us, last_us) freshness state — every field
    a monoid (SUM / MIN / MAX), so per-segment partials merge to exactly
    the full-corpus state (the health_partials discipline; streaming
    twin: this partial through ``stream_epochs``, then
    ``read_freshness``)."""
    tsu = F.unix_micros(F.col(ts_col).cast("timestamp"))
    return (df.where(F.col(key).isNotNull() & F.col(ts_col).isNotNull())
            .groupBy(key).agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.min(tsu).cast("bigint").alias("first_us"),
                F.max(tsu).cast("bigint").alias("last_us")))


def freshness_report(per: DataFrame, key: str) -> DataFrame:
    """Fold merged freshness partials to the staleness scorecard (see
    :func:`freshness_lag`)."""
    per = per.select(key, "n", F.col("first_us").alias("_first_us"),
                     "last_us")
    glob = per.agg(F.max("last_us").cast("bigint").alias("_hwm"))
    return (per.crossJoin(F.broadcast(glob))
            .select(
                key, "n", "last_us",
                (F.col("_hwm") - F.col("last_us")).cast("bigint")
                .alias("staleness_us"),
                F.when(F.col("n") > 1,
                       (F.col("last_us") - F.col("_first_us"))
                       .cast("double")
                       / (F.col("n") - 1).cast("double"))
                .alias("mean_gap_us")))


def srm_check(df: DataFrame, unit_col: str, key: str,
              arms: int = 2) -> DataFrame:
    """Sample-ratio-mismatch gate per ``key``: the first check every
    experimentation platform runs before reading an A/B result — if the
    deterministic 50/50 hash assignment of units did not land 50/50,
    the logging pipeline is dropping one arm and every downstream
    metric is biased (Fabijan et al., KDD'19 call SRM the most common
    invalidator in practice).

    Assignment is the stable first-8-hex md5 integer mod ``arms``
    (the hash_split discipline — re-runs, appends, and engines agree).
    Units dedupe per (key, unit) in one combinable shuffle, then each
    key reduces to the two arm counts; the chi-square statistic for
    two arms collapses to ``(n0 - n1)² / (n0 + n1)``, one division of
    exact integers (difference cast to double before the square —
    overflow discipline). ``srm_suspect`` flags chi² > 3.84 (the 5%
    critical value, df=1). Two-arm contract asserted.

    Returns ``(key, n_arm0, n_arm1, chi2, srm_suspect)``.
    """
    assert arms == 2, "two-arm contract (chi2 closed form)"
    h = F.conv(F.substring(F.md5(F.col(unit_col).cast("string")), 1, 8),
               16, 10).cast("bigint")
    units = (df.where(F.col(unit_col).isNotNull() & F.col(key).isNotNull())
             .select(key, F.col(unit_col).alias("_u"),
                     (h % arms).alias("_arm"))
             .distinct())
    g = units.groupBy(key).agg(
        F.sum(F.when(F.col("_arm") == 0, 1).otherwise(0)).cast("bigint")
        .alias("n_arm0"),
        F.sum(F.when(F.col("_arm") == 1, 1).otherwise(0)).cast("bigint")
        .alias("n_arm1"))
    d = (F.col("n_arm0") - F.col("n_arm1")).cast("double")
    tot = (F.col("n_arm0") + F.col("n_arm1")).cast("double")
    chi = d * d / tot
    return g.select(key, "n_arm0", "n_arm1", chi.alias("chi2"),
                    (chi > 3.84).alias("srm_suspect"))


def capture_recapture(df: DataFrame, unit_col: str, post) -> DataFrame:
    """Chapman capture-recapture estimate of the distinct-unit
    population from two observation windows (Chapman 1951; the
    mark-recapture estimator ecologists run on two surveys), audited
    against the exact distinct count — the "how many users exist that
    we HAVEN'T seen yet" number a sampling pipeline wants when a full
    distinct is affordable only at audit time.

    ``N̂ = (n1+1)(n2+1)/(m+1) - 1`` with n1/n2 the windows' distinct
    units and m the overlap. One unit-keyed conditional-flag reduction
    (map-side combinable) collapses the corpus; the four counts are
    exact int64 and the estimate is formed from them cast to double in
    the oracle's order (n1·n2 products cast BEFORE multiplying —
    overflow discipline). The estimator's own relative error vs the
    exact count is the oracled output (the ams_f2 discipline).

    Returns ONE row: ``(n_first, n_second, n_both, n_exact, estimate,
    rel_err)``.
    """
    flags = (df.where(F.col(unit_col).isNotNull() & post.isNotNull())
             .groupBy(F.col(unit_col).alias("_u"))
             .agg(F.max(F.when(post, 0).otherwise(1)).alias("_pre"),
                  F.max(F.when(post, 1).otherwise(0)).alias("_post")))
    s = flags.agg(
        F.sum("_pre").cast("bigint").alias("n_first"),
        F.sum("_post").cast("bigint").alias("n_second"),
        F.sum(F.when((F.col("_pre") == 1) & (F.col("_post") == 1), 1)
              .otherwise(0)).cast("bigint").alias("n_both"),
        F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    est = ((F.col("n_first") + 1).cast("double")
           * (F.col("n_second") + 1).cast("double")
           / (F.col("n_both") + 1).cast("double") - F.lit(1.0))
    exd = F.col("n_exact").cast("double")
    return s.select(
        "n_first", "n_second", "n_both", "n_exact",
        est.alias("estimate"),
        F.when(exd > 0.0, F.abs(est - exd) / exd).alias("rel_err"))
