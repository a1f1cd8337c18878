"""Skew handling: heavy-key detection + salted two-phase aggregation.

The reference is single-process and has no notion of skew (SURVEY.md §4.2);
at 10^12 turns a hot conversation (one conv_id holding a large fraction of
rows) turns any ``groupBy("conv_id")`` into a straggler task. Mitigations,
layered:

1. AQE skew-join splitting (enabled in session.py) fixes *join* skew
   automatically at runtime.
2. For *aggregation* skew Spark's partial (map-side) aggregation already
   absorbs most of it — each task pre-aggregates its local rows, so the
   final shuffle carries one partial row per (task, key). Salting matters
   when the per-key *state* is large (collect_list, exact distinct) or when
   a single key's partials still dominate.
3. :func:`salted_agg` implements the classic two-phase salt: phase 1 groups
   by (key, salt) where salt = a deterministic bucket of a within-group
   discriminator column; phase 2 merges the partials by key. Deterministic
   (no rand()) so retries and the DuckDB oracle agree.

Heavy-key detection (:func:`heavy_keys`) is a sampled count — at scale run
it on ``df.sample(0.001)`` and broadcast the result into a selective-salting
plan (only hot keys get salted, cold keys keep single-shuffle aggregation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logpipe_spark.session import local_frame


def heavy_keys(df: DataFrame, key: str, min_fraction: float = 0.01,
               sample_fraction: float | None = None) -> DataFrame:
    """Keys holding ≥ min_fraction of (sampled) rows: (key, n, fraction).

    The total is ONE number, so it is computed as a scalar aggregate and
    broadcast back onto the per-key counts (an unpartitioned window here
    would funnel every per-key count row through a single reducer — a
    straggler at 10^9 distinct keys; the scalar agg's partial+final shape
    shuffles one partial row per task instead).
    """
    s = df.sample(sample_fraction, seed=7) if sample_fraction else df
    counts = s.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("_total"))
    return (
        counts.join(F.broadcast(total))
        .withColumn("fraction", F.col("n") / F.col("_total"))
        .filter(F.col("fraction") >= min_fraction)
        .select(key, "n", "fraction")
    )


def with_salt(df: DataFrame, discriminator: Column, buckets: int = 16,
              salt_col: str = "_salt") -> DataFrame:
    """Deterministic salt: pmod(hash(discriminator), buckets).

    The discriminator must vary *within* a group (e.g. turn_idx inside a
    conversation) so one hot key spreads over `buckets` reducers.
    """
    return df.withColumn(salt_col, F.pmod(F.hash(discriminator), F.lit(buckets)))


def salted_count_by(df: DataFrame, key: str, discriminator: Column,
                    buckets: int = 16, alias: str = "count") -> DataFrame:
    """Two-phase count: groupBy(key, salt) → groupBy(key) sum of partials."""
    salted = with_salt(df, discriminator, buckets)
    partial = salted.groupBy(key, "_salt").agg(F.count(F.lit(1)).alias("_c"))
    return partial.groupBy(key).agg(F.sum("_c").alias(alias))


def salted_stats_by(df: DataFrame, key: str, value: Column | str,
                    discriminator: Column, buckets: int = 16) -> DataFrame:
    """Two-phase count/sum/min/max/avg — partials are mergeable exactly;
    avg is re-derived from merged sum/count (never averaged-of-averages)."""
    v = F.col(value) if isinstance(value, str) else value
    salted = with_salt(df.withColumn("_v", v.try_cast("double")),
                       discriminator, buckets)
    partial = salted.groupBy(key, "_salt").agg(
        F.count("_v").alias("_n"), F.sum("_v").alias("_s"),
        F.min("_v").alias("_mn"), F.max("_v").alias("_mx"))
    return partial.groupBy(key).agg(
        F.sum("_n").alias("count"),
        F.sum("_s").alias("sum"),
        F.min("_mn").alias("min"),
        F.max("_mx").alias("max"),
        (F.sum("_s") / F.sum("_n")).alias("avg"),
    )


def with_selective_salt(df: DataFrame, key: str, discriminator: Column,
                        hot: DataFrame, buckets: int = 16,
                        salt_col: str = "_salt") -> DataFrame:
    """Salt ONLY the hot keys: rows of keys in ``hot`` get
    pmod(hash(discriminator), buckets); cold rows get salt 0, so their
    phase-1 group (key, 0) is just the key — phase 2 merges one partial row
    per cold key. One plan, no union split, no window.

    ``hot`` is the (tiny) output of :func:`heavy_keys` — broadcast joined.
    """
    hot_flag = hot.select(F.col(key).alias(key), F.lit(True).alias("_hot"))
    flagged = df.join(F.broadcast(hot_flag), key, "left")
    salt = (
        F.when(F.col("_hot"),
               F.pmod(F.hash(discriminator), F.lit(buckets)))
        .otherwise(F.lit(0))
    )
    return flagged.withColumn(salt_col, salt).drop("_hot")


def selective_salted_count_by(df: DataFrame, key: str, discriminator: Column,
                              buckets: int = 16, min_fraction: float = 0.01,
                              sample_fraction: float | None = None,
                              hot: DataFrame | None = None,
                              alias: str = "count") -> DataFrame:
    """Two-phase count applied ONLY to hot keys (PERF.md §Deferred, closed).

    Hot-key detection runs on a sample (:func:`heavy_keys`) unless a
    precomputed ``hot`` frame is passed (at scale: detect once per input,
    reuse across every aggregate over it). Cold keys pay one extra no-op
    merge row instead of a second full shuffle — the blanket
    :func:`salted_count_by` doubles the shuffle for EVERY key; this variant
    keeps the cold path single-shuffle-equivalent while hot conversations
    spread over ``buckets`` reducers.
    """
    if hot is None:
        hot = heavy_keys(df, key, min_fraction, sample_fraction).select(key)
    salted = with_selective_salt(df, key, discriminator, hot, buckets)
    partial = salted.groupBy(key, "_salt").agg(F.count(F.lit(1)).alias("_c"))
    return partial.groupBy(key).agg(F.sum("_c").alias(alias))


def salted_conv_spans(df: DataFrame, buckets: int = 16) -> DataFrame:
    """Conversation spans with salting: per-(conv, salt) partial min/max/count,
    then per-conv merge — a hot conversation's rows spread over `buckets`
    reducers in phase 1 instead of one straggler."""
    salted = with_salt(df, F.col("turn_idx"), buckets)
    partial = salted.groupBy("conv_id", "_salt").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min("ts").alias("_first"), F.max("ts").alias("_last"))
    return partial.groupBy("conv_id").agg(
        F.sum("_n").alias("n_turns"),
        F.min("_first").alias("first_ts"),
        F.max("_last").alias("last_ts"),
    )


def _cms_bucket(seed_col: Column, key_str: Column, width: int,
                hash_fn: str = "xxhash64") -> Column:
    """Bucket for "seed:key", mod width.

    hash_fn='xxhash64' (default): one JVM-native hash per counter — the
    100 TB path (~4× cheaper per row than md5, see bench/hashfn_scale.py).
    hash_fn='md5': first 8 md5 hex digits as int — md5 + integer
    arithmetic only, identical in Spark and DuckDB, so estimates are
    CROSS-ENGINE deterministic (same trick as kmv_distinct); pass it when
    an external oracle must replay the sketch bit-for-bit (the driver
    queries do)."""
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(key_str, seed_col.cast("string")),
                      F.lit(width))
    if hash_fn == "md5":
        h = F.md5(F.concat_ws(":", seed_col.cast("string"), key_str))
        return F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"),
                      F.lit(width))
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def cms_sketch(df: DataFrame, key: str, depth: int = 3,
               width: int = 1024, hash_fn: str = "xxhash64") -> DataFrame:
    """Count-min sketch of key frequencies: ``depth × width`` counters.

    The scale path for heavy-key detection: :func:`heavy_keys` shuffles one
    count row per DISTINCT key (10^9 rows at 10^9 conversations); the CMS
    shuffles at most depth×width rows TOTAL, regardless of key cardinality,
    because map-side partial aggregation collapses each task's increments
    into the fixed counter grid. Sketches merge by adding counters —
    per-partition, per-day, per-cluster — so one pass over 100 TB yields a
    few-KB summary whose point queries overestimate by at most
    ~e·N/width with probability 1−e^−depth (Cormode & Muthukrishnan 2005).

    .. note:: the ``hash_fn`` DEFAULT changed in round 3 from ``'md5'``
       to ``'xxhash64'`` (the 100 TB path). A sketch only answers
       queries hashed the same way, so the output carries a ``hash_fn``
       column and :func:`cms_estimate` / ``streaming.read_cms`` RAISE on
       a mismatch instead of returning silently wrong counts — pass
       ``hash_fn='md5'`` explicitly to read sketches persisted before
       the flip (their frames lack the column; the check then skips
       with the mismatch risk documented here).
    """
    rows = df.select(F.col(key).cast("string").alias("_k"))
    e = rows.withColumn(
        "seed", F.explode(F.array(*[F.lit(s) for s in range(depth)]))
    )
    return (
        e.withColumn("bucket",
                     _cms_bucket(F.col("seed"), F.col("_k"), width, hash_fn))
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("hash_fn", F.lit(hash_fn))
    )


def cms_estimate(sketch: DataFrame, keys_df: DataFrame, key: str,
                 depth: int = 3, width: int = 1024,
                 alias: str = "cms_count",
                 hash_fn: str = "xxhash64") -> DataFrame:
    """Point-query the sketch for each key in ``keys_df``: min over the
    depth counters the key hashes into (upper bound on the true count;
    equality when none of its buckets collide).

    Raises ``ValueError`` when the sketch records a different
    ``hash_fn`` than the one passed here — querying counters under the
    wrong hash returns plausible-looking garbage, never an error, so the
    mismatch must fail loudly (the default flipped md5→xxhash64 in
    round 3). Sketches persisted before the column existed skip the
    check."""
    if "hash_fn" in sketch.columns:
        # sketch frames are counter-grid-sized (≤ depth×width rows) by
        # construction — a first() here is a metadata-sized action
        built_with = sketch.select("hash_fn").first()
        if built_with is not None and built_with[0] != hash_fn:
            raise ValueError(
                f"sketch was built with hash_fn={built_with[0]!r} but "
                f"estimate was asked for {hash_fn!r}; counts would be "
                "silently wrong — pass the matching hash_fn")
        sketch = sketch.drop("hash_fn")
    e = keys_df.select(F.col(key)).withColumn(
        "seed", F.explode(F.array(*[F.lit(s) for s in range(depth)]))
    )
    e = e.withColumn(
        "bucket", _cms_bucket(F.col("seed"), F.col(key).cast("string"),
                              width, hash_fn)
    )
    return (
        e.join(sketch, ["seed", "bucket"], "left")
        .groupBy(key)
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).cast("bigint").alias(alias))
    )


def ams_f2(df: DataFrame, key: str, k: int = 9,
           hash_fn: str = "xxhash64") -> DataFrame:
    """AMS second-moment sketch (Alon, Matias & Szegedy, STOC'96):
    estimate ``F2 = sum_v c_v²`` — the SELF-JOIN SIZE of the column —
    from ``k`` ±1-signed sums, alongside the exact F2 for the audit.
    F2 is the number a shuffle planner wants before joining a column on
    itself (skew and output size are both F2 stories); the sketch gets
    it in one pass with k counters where the exact path needs the
    distinct-value frame.

    Each estimator is ``(sum_v s_i(v)·c_v)²`` with ``s_i(v) = ±1`` from
    the seeded hash parity; the estimate is the DISCRETE median of the
    k estimators (k odd — an actual element, rank-based, never an
    interpolated blend). With ``hash_fn='md5'`` the signs replay in the
    oracle (the cms/kmv discipline; xxhash64 is the cheaper 100 TB
    default). Signed sums stay int64 (|s| ≤ N); their squares
    accumulate in DECIMAL(38,0) == HUGEINT, as does exact F2.

    Returns ONE row: ``(n_values, f2_exact, f2_est, rel_err)``.
    """
    assert k % 2 == 1, "odd k keeps the median an actual element"
    spark = df.sparkSession
    c = (df.where(F.col(key).isNotNull())
         .groupBy(F.col(key).cast("string").alias("_v"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("_c")))
    exact = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
        F.sum(F.col("_c").cast("decimal(38,0)") * F.col("_c"))
        .cast("decimal(38,0)").alias("_f2"))
    seeds = local_frame(spark, [(i,) for i in range(k)], "seed int")
    if hash_fn == "md5":
        h = F.conv(F.substring(
            F.md5(F.concat_ws(":", F.col("seed").cast("string"),
                              F.col("_v"))), 1, 8), 16, 10).cast("bigint")
    elif hash_fn == "xxhash64":
        h = F.xxhash64(F.col("_v"), F.col("seed").cast("string"))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    sgn = F.lit(1) - F.lit(2) * F.pmod(h, F.lit(2))
    per_seed = (c.crossJoin(F.broadcast(seeds))
                .groupBy("seed")
                .agg(F.sum(sgn * F.col("_c")).cast("bigint").alias("_s")))
    ests = per_seed.select(
        "seed",
        (F.col("_s").cast("decimal(19,0)") * F.col("_s"))
        .cast("decimal(38,0)").alias("_e"))
    from pyspark.sql import Window

    w = Window.orderBy(F.col("_e").asc(), F.col("seed").asc())
    med = (ests.withColumn("_rn", F.row_number().over(w))
           .where(F.col("_rn") == (k + 1) // 2)
           .select(F.col("_e").alias("_est")))
    out = exact.crossJoin(F.broadcast(med))
    ex_d = F.col("_f2").cast("double")
    est_d = F.col("_est").cast("double")
    return out.select(
        "n_values",
        ex_d.alias("f2_exact"),
        est_d.alias("f2_est"),
        F.when(ex_d > 0.0, F.abs(est_d - ex_d) / ex_d).alias("rel_err"))
