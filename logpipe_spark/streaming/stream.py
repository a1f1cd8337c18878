"""Streaming parse → enrich → route → aggregate.

Design: the batch stage functions (parse_grok, enrich_with_lookup, router
rules) are pure DataFrame → DataFrame transforms, so they compose unchanged
onto a ``readStream`` source — one definition, two execution modes. The
streaming-only concerns live here:

- **watermark + windowed aggregates** (:func:`windowed_turn_counts`) — the
  exact-streaming analog of the reference's periodic partial flush (A1,
  ``aggregateTransformer.js:92-96``): update-mode emits per-trigger partial
  aggregates; the watermark bounds state exactly where the reference's
  ``maxGroups`` cap bounded its Map.
- **stateful sessionization** (:func:`conversation_sessions`) — custom
  per-conversation state via ``applyInPandasWithState`` (Arrow-batched, no
  per-row Python): emits a conversation's span once the EVENT-TIME
  watermark passes its last event + gap. Event-time timeout makes emission
  deterministic in the data (a processing-time idle gap would emit
  nondeterministically under load) — an operator the batch engine cannot
  express incrementally.
- **fan-out sink** (:func:`stream_route_fanout`) — ``foreachBatch`` runs
  the batch pipeline entry on each micro-batch, overwriting its own
  ``base/epoch=<id>/sink=<name>/`` directory; a batch replayed after a
  crash rewrites its epoch instead of adding a second copy, so replay is
  idempotent.
- **epoch partials** (:func:`stream_epochs`) — the one writer behind
  every incremental monitor: each micro-batch's mergeable partial frame
  overwrites ``state_dir/epoch=<id>``. Monitors are pairs of a partial
  function (``health_partials``, ``drift_partials``, ...) and a
  ``read_*`` reader that merges all epochs; the partial is the same
  function a batch run applies to the whole corpus, so the readout
  equals the batch answer.

Scale: state is hash-partitioned by group key across executors; watermark
eviction bounds it; ``spark.sql.shuffle.partitions`` sizes the state-store
count (set it before first start — it is fixed by the checkpoint).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (ArrayType, IntegerType, LongType,
                               StringType, StructField, StructType,
                               TimestampType)

from logpipe_spark.schemas import TRANSCRIPT_SCHEMA

SESSION_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("n_turns", LongType()),
    StructField("first_ts", TimestampType()),
    StructField("last_ts", TimestampType()),
])

_STATE_SCHEMA = StructType([
    StructField("n", LongType()),
    StructField("first_us", LongType()),
    StructField("last_us", LongType()),
])


def stream_transcripts(spark: SparkSession, path: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """Unbounded file source over a transcript parquet directory."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def windowed_turn_counts(stream: DataFrame, window: str = "1 minute",
                         watermark: str = "2 minutes") -> DataFrame:
    """Per-(event-time window, tool) turn counts with late-data handling."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "tool")
        .agg(F.count(F.lit(1)).alias("turn_count"))
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "tool", "turn_count")
    )


def _session_fn_factory(gap_ms: int):
    """Build the per-conv state fold; emits the session when the watermark
    passes last event + gap (event-time timeout)."""

    def _emit(n, first_us, last_us):
        return pd.DataFrame({
            "conv_id": None,  # filled by caller
            "n_turns": [n],
            "first_ts": [pd.Timestamp(first_us, unit="us")],
            "last_ts": [pd.Timestamp(last_us, unit="us")],
        })

    def _session_fn(key: tuple, pdfs: Iterator[pd.DataFrame],
                    state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            n, first_us, last_us = state.get
            state.remove()
            out = _emit(n, first_us, last_us)
            out["conv_id"] = key[0]
            yield out
            return
        n, first_us, last_us = state.get if state.exists else (0, None, None)
        gap_us = gap_ms * 1000
        # IN-BATCH gap splitting: without it, session boundaries depend
        # on micro-batch pacing — a single availableNow drain would fold
        # two gap-separated sessions into one state and emit ONE merged
        # session, while a paced run (watermark crossing the gap between
        # triggers) emits two via the timeout. Walking the sorted batch
        # timestamps and closing the open session whenever the gap is
        # exceeded makes emission a pure function of the DATA. A late row
        # older than the open session's last event folds in without a
        # split (the watermark bounds that disorder; same contract as
        # the timeout path).
        # Accumulate EVERY Arrow chunk's timestamps first, sort ONCE, then
        # walk the gap-split. Sorting per chunk was still order-dependent:
        # a group whose batch spans multiple Arrow batches
        # (>maxRecordsPerBatch rows, or multi-file triggers read out of
        # chronological order) could hand a later chunk containing OLDER
        # timestamps to the walk, folding an old row into the open
        # session or spuriously splitting. Memory bound is unchanged —
        # the per-chunk variant already held the full batch implicitly
        # via the closed-session list; the cusum state fn buffers the
        # same way.
        all_ts: list[int] = []
        for pdf in pdfs:
            ts = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
            all_ts.extend(ts.astype("int64").tolist())
        closed = []
        for t in sorted(all_ts):
            if first_us is None:
                n, first_us, last_us = 1, t, t
            elif t > last_us + gap_us:
                closed.append((n, first_us, last_us))
                n, first_us, last_us = 1, t, t
            else:
                n += 1
                first_us = min(first_us, t)
                last_us = max(last_us, t)
        for cn, cf, cl in closed:
            out = _emit(cn, cf, cl)
            out["conv_id"] = key[0]
            yield out
        state.update((int(n), int(first_us), int(last_us)))
        # event-time timeout: fires when the WATERMARK (not the wall clock)
        # passes last event + gap — deterministic in the data. A late batch
        # arriving after the watermark already passed that point starts a
        # new session; clamp so the timeout is always ahead of the
        # watermark (Spark rejects timestamps at/behind it).
        timeout_ms = int(last_us) // 1000 + gap_ms
        state.setTimeoutTimestamp(
            max(timeout_ms, int(state.getCurrentWatermarkMs()) + 1))
        return
        yield  # pragma: no cover - generator form

    return _session_fn


def conversation_sessions(stream: DataFrame, gap_ms: int = 3_600_000,
                          watermark: str = "10 seconds") -> DataFrame:
    """Custom stateful operator: per-conversation span, emitted once the
    event-time watermark passes the conversation's last event + ``gap_ms``.

    Arrow-batched state updates (applyInPandasWithState). Emission is
    deterministic in EVENT time: two runs over the same data at different
    paces/batch splits emit identical sessions (the previous
    processing-time variant emitted whenever the executor happened to be
    idle 2 s — wall-clock sensitive under load). Rows behind the
    watermark are dropped before the state function sees them (the query
    progress counts them in ``numRowsDroppedByWatermark``), so emission is
    pacing-independent only when ``watermark`` covers the source's
    disorder bound — for a file source, the event-time span of any file
    read after another.
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            _session_fn_factory(gap_ms),
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_route_fanout(spark: SparkSession, stream: DataFrame,
                        base_dir: str, checkpoint_dir: str):
    """foreachBatch fan-out: :func:`run_pipeline_fanout` per micro-batch.

    Each batch overwrites ``{base_dir}/epoch=<id>/sink=<name>/``, so a
    batch the checkpoint replays (crash between the write and the commit)
    rewrites its own epoch: replay is idempotent, and ``base_dir`` read as
    one table (plus its ``epoch`` column) equals one batch run over the
    same input. Returns the (not-yet-started) DataStreamWriter so callers
    pick the trigger.
    """
    from logpipe_spark.plans.pipeline import run_pipeline_fanout

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        run_pipeline_fanout(spark, batch_df, f"{base_dir}/epoch={batch_id}")

    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
    )


def stream_epochs(stream: DataFrame,
                  partials: Callable[[DataFrame], DataFrame],
                  state_dir: str, checkpoint_dir: str):
    """foreachBatch epoch-partials writer: each micro-batch writes
    ``partials(batch)`` to ``{state_dir}/epoch=<id>``; a ``read_*``
    reader merges every epoch with the partial's monoid.

    Exactly-once by construction: the write is ``mode("overwrite")`` into
    the epoch's own directory, so a batch the checkpoint replays (crash
    between the write and the commit) rewrites its partial instead of
    double-counting it. No coalesce: every partial ends in a shuffle
    (groupBy, distinct or a window over its key), so AQE sizes the epoch's
    files from the partial's bytes — one file for a small partial, a
    parallel write for a wide one. Returns the (not-yet-started)
    DataStreamWriter so callers pick the trigger.
    """

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        (partials(batch_df).write.mode("overwrite")
         .parquet(f"{state_dir}/epoch={epoch_id}"))

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )


def run_stream_once(writer, timeout_s: int = 120) -> None:
    """Drain all available input (availableNow) and stop — the test/bench
    entry point; production uses a continuous trigger instead. Raises if
    the drain does not finish within ``timeout_s`` (a silent partial drain
    would hand callers incomplete sink output as success)."""
    q = writer.trigger(availableNow=True).start()
    finished = q.awaitTermination(timeout_s)
    q.stop()
    if not finished:
        raise TimeoutError(
            f"availableNow drain did not finish within {timeout_s}s")


def stream_dedup_exact(stream: DataFrame, watermark: str = "10 minutes",
                       keys: tuple[str, ...] = ("conv_id", "turn_idx")):
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` — duplicate
    keys arriving within the watermark horizon are suppressed AND state for
    keys older than the horizon is actually evicted (plain dropDuplicates
    without the event-time column in the key set keeps state forever).
    The unbounded-input analog of ``trainprep.dedup.exact_dedup_groups``."""
    return (stream.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(list(keys)))


KMV_SCHEMA = StructType([
    StructField("group_key", StringType()),
    StructField("n_hashes", LongType()),
    StructField("estimate", LongType()),
])

_KMV_STATE = StructType([
    StructField("hashes", ArrayType(StringType())),
])


def _kmv_fn_factory(k: int):
    m = 16 ** 8

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        cur = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            cur.update(pdf["h"].dropna().tolist())
        top = sorted(cur)[:k]          # bottom-k union-merge: O(k) state
        state.update((top,))
        n = len(top)
        if n < k:
            est = n                    # lossless below k, same as batch
        else:
            est = (k - 1) * m // max(int(top[-1][:8], 16), 1)
        yield pd.DataFrame({"group_key": [key[0]],
                            "n_hashes": [n], "estimate": [est]})

    return fn


def stream_kmv_distinct(stream: DataFrame, group_col: str, key_col: str,
                        k: int = 64) -> DataFrame:
    """Streaming KMV distinct sketch: the incremental form of
    ``operators.aggregate.kmv_distinct`` and the realization of its
    mergeability claim — per-group state is the bottom-k hash set (O(k),
    bounded forever, no watermark needed because the sketch itself is the
    eviction policy), and the union-merge per trigger is exactly the
    cross-partition/cross-day merge a 100 TB rollup does.

    Update mode: every trigger emits the group's current (n_hashes,
    estimate); estimates are monotonically non-decreasing (v_k only
    shrinks) and the final emission equals the batch kmv_distinct over
    the same data regardless of how the stream was micro-batched
    (asserted in tests at two pacings).
    """
    hashed = stream.select(
        F.col(group_col).alias("group_key"),
        F.md5(F.col(key_col).cast("string")).alias("h"))
    return hashed.groupBy("group_key").applyInPandasWithState(
        _kmv_fn_factory(k),
        outputStructType=KMV_SCHEMA,
        stateStructType=_KMV_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    max_lag: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join bounded by an event-time range — e.g. each
    user turn joined to the assistant/tool turns that answer it within
    ``max_lag`` in the same conversation.

    Both sides carry a watermark and the join condition carries BOTH the
    equality key and the time-range constraint: that pair is what lets the
    state store evict — a row older than (watermark + max_lag) can never
    match a future row, so Spark drops it. Without the range condition the
    join state grows without bound (Spark would have to keep every left row
    forever). Column names must already be disjoint apart from ``on``.

    State is hash-partitioned on ``on`` across executors, so a 10^12-turn
    stream scales the same way the batch router does — per-conversation
    state, watermark-bounded.
    """
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[on] == r[on])
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {max_lag}"))
    )
    return l.join(r, cond, "inner").drop(r[on])


def token_rollup_partials(df: DataFrame, fine: str = "minute") -> DataFrame:
    """FINE-grain mergeable rollup partials (aggregate.rollup_partials) of
    per-turn token counts, one row per (fine bucket, tool); :func:`read_rollup`
    re-merges them to any coarser grain — the hypertable ingest path: raw
    turns are never re-read to serve a coarser rollup."""
    from logpipe_spark.functions.textfn import token_count
    from logpipe_spark.operators.aggregate import rollup_partials

    return rollup_partials(df.withColumn("_v", token_count(F.col("text"))),
                           "ts", ["tool"], "_v", fine)


def read_rollup(spark: SparkSession, state_dir: str,
                coarse: str = "hour") -> DataFrame:
    """Merge all epochs' fine partials up to ``coarse`` finals."""
    from logpipe_spark.operators.aggregate import rollup_merge

    return rollup_merge(spark.read.parquet(state_dir), ["tool"], coarse)


ASOF_ENRICH_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("ts", TimestampType()),
    StructField("ref_turn_idx", IntegerType()),
    StructField("ref_ts", TimestampType()),
])

_ASOF_STATE = StructType([
    StructField("last_us", LongType()),
    StructField("last_idx", LongType()),
])


def _asof_fn(key: tuple, pdfs: Iterator[pd.DataFrame],
             state: GroupState) -> Iterator[pd.DataFrame]:
    """Per-key streaming as-of: enrich side=1 rows with the latest side=0
    row at-or-before them. Vectorized: the batch's within-key as-of is ONE
    pandas merge_asof (no per-row Python); across batches the carried
    state (one right row) is prepended as a synthetic reference."""
    last_us, last_idx = state.get if state.exists else (None, None)
    for pdf in pdfs:
        pdf = pdf.copy()
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pdf = pdf.sort_values(["ts", "side", "turn_idx"], kind="stable")
        rights = pdf.loc[pdf["side"] == 0, ["ts", "turn_idx"]].rename(
            columns={"turn_idx": "ref_turn_idx"})
        rights["ref_ts"] = rights["ts"]
        if last_us is not None:
            carry_ts = pd.Timestamp(last_us, unit="us")
            carry = pd.DataFrame(
                {"ts": [carry_ts], "ref_turn_idx": [last_idx],
                 "ref_ts": [carry_ts]})
            rights = pd.concat([carry, rights], ignore_index=True)
            rights["ts"] = rights["ts"].astype("datetime64[us]")
            rights["ref_ts"] = rights["ref_ts"].astype("datetime64[us]")
            rights = rights.sort_values("ts", kind="stable")
        lefts = pdf.loc[pdf["side"] == 1, ["turn_idx", "ts"]]
        if len(rights):
            tail = rights.iloc[-1]
            last_us = int(tail["ref_ts"].value // 1000)  # ns → us
            last_idx = int(tail["ref_turn_idx"])
        if len(lefts):
            if len(rights):
                m = pd.merge_asof(
                    lefts.sort_values("ts", kind="stable"), rights,
                    on="ts", direction="backward", allow_exact_matches=True)
            else:
                m = lefts.assign(ref_turn_idx=pd.NA, ref_ts=pd.NaT)
            m.insert(0, "conv_id", key[0])
            m["ref_turn_idx"] = m["ref_turn_idx"].astype("Int32")
            yield m[["conv_id", "turn_idx", "ts", "ref_turn_idx", "ref_ts"]]
    if last_us is not None:
        state.update((int(last_us), int(last_idx)))


def stream_asof_enrich(left: DataFrame, right: DataFrame,
                       watermark: str = "10 minutes") -> DataFrame:
    """Streaming as-of enrichment: each left turn carries the latest right
    turn at-or-before it in the same conversation — "enrich clicks with
    the current config" as an unbounded operator, the streaming twin of
    ``operators.asof.asof_join``.

    Both sides union into one keyed stream (side 0 = reference, 1 = to
    enrich); per-conversation state is ONE row (the last reference seen) —
    O(keys) state, no buffering of the enriched side. Within a micro-batch
    rows process in event-time order; ACROSS batches semantics are
    at-arrival (a reference row arriving after later left rows were
    already emitted cannot retro-fill them — the streaming enrich
    contract; the batch operator is the replayable exact form).

    Inputs are transcript-shaped (conv_id, turn_idx, ts); left/right are
    usually role filters of one stream.
    """
    tag = lambda df, side: df.select(  # noqa: E731
        "conv_id", "turn_idx", F.col("ts"), F.lit(side).alias("side"))
    merged = tag(right, 0).unionByName(tag(left, 1))
    return (
        merged.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            _asof_fn,
            outputStructType=ASOF_ENRICH_SCHEMA,
            stateStructType=_ASOF_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def read_cms(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merge all epochs' ``skew.cms_sketch`` grids: sum counters per (seed,
    bucket). CMS counters are linear, so the union of per-batch sketches
    IS the sketch of the union.

    Adding counters is only meaningful when every epoch hashed with the
    SAME function, so the merge asserts the persisted ``hash_fn`` stamps
    agree (execution-time error on a mixed state dir — e.g. epochs
    written before and after a hash_fn change) and carries the stamp
    through for :func:`~logpipe_spark.operators.skew.cms_estimate`'s
    own mismatch check. Pre-stamp state dirs merge as before."""
    df = spark.read.parquet(state_dir)
    if "hash_fn" not in df.columns:
        return df.groupBy("seed", "bucket").agg(F.sum("n").alias("n"))
    return (
        df.groupBy("seed", "bucket")
        .agg(F.sum("n").alias("n"),
             F.collect_set("hash_fn").alias("_fns"))
        .select(
            "seed", "bucket", "n",
            F.when(F.size("_fns") == 1, F.element_at("_fns", 1))
            .otherwise(F.raise_error(F.concat(
                F.lit("read_cms: state dir mixes hash_fns "),
                F.to_json(F.col("_fns")),
                F.lit(" — merged counters would be meaningless"))))
            .alias("hash_fn"))
    )


def drift_partials(df: DataFrame) -> DataFrame:
    """Per-(tool, token-count) COUNTS ``(tool, v, c)`` — the mergeable
    partial every drift readout below scores against a static reference
    (KS via :func:`~logpipe_spark.operators.drift.ks_from_counts`, and
    Kuiper, Hellinger, CvM, W1, energy, L-moments). State is one row per
    (tool, distinct value); the raw stream is never re-read to re-score
    drift as data accumulates."""
    from logpipe_spark.functions.textfn import token_count

    return (
        df.select("tool", token_count(F.col("text")).alias("v"))
        .where(F.col("v").isNotNull())
        .groupBy("tool", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def _merged_drift_counts(spark: SparkSession, state_dir: str,
                         reference: DataFrame) -> DataFrame:
    """Merge the :func:`drift_partials` state dir with a static (tool, v, c)
    reference into the pooled (tool, v, ca, cb) support frame every
    *_from_counts statistic expects: stream = sample A, reference =
    sample B; values only one side saw carry a zero count on the other
    (full outer merge)."""
    stream_counts = (
        spark.read.parquet(state_dir)
        .groupBy("tool", "v")
        .agg(F.sum("c").cast("bigint").alias("ca"))
    )
    ref_counts = reference.select(
        "tool", "v", F.col("c").cast("bigint").alias("cb"))
    return (
        stream_counts.join(ref_counts, ["tool", "v"], "full_outer")
        .select(
            "tool", "v",
            F.coalesce("ca", F.lit(0)).cast("bigint").alias("ca"),
            F.coalesce("cb", F.lit(0)).cast("bigint").alias("cb"),
        )
    )


def read_drift(spark: SparkSession, state_dir: str,
               reference: DataFrame, bucket_width: int = 1024) -> DataFrame:
    """Score the accumulated stream counts against ``reference`` (a
    static (tool, v, c) count frame) with
    :func:`~logpipe_spark.operators.drift.ks_from_counts`.
    Returns (tool, n_a, n_b, ks, ks_at_value)."""
    from logpipe_spark.operators.drift import ks_from_counts

    per_v = _merged_drift_counts(spark, state_dir, reference)
    return ks_from_counts(per_v, "tool", bucket_width=bucket_width)


def read_kuiper(spark: SparkSession, state_dir: str,
                reference: DataFrame, bucket_width: int = 1024) -> DataFrame:
    """Kuiper V readout over the SAME accumulated
    :func:`drift_partials` state — counts are statistic-agnostic
    mergeable partials, so one state dir serves KS, Kuiper, Hellinger
    and CvM with zero extra stream passes. Returns
    (tool, n_a, n_b, d_plus, d_minus, kuiper)."""
    from logpipe_spark.operators.drift import kuiper_from_counts

    per_v = _merged_drift_counts(spark, state_dir, reference)
    return kuiper_from_counts(per_v, "tool", bucket_width=bucket_width)


def read_hellinger(spark: SparkSession, state_dir: str,
                   reference: DataFrame) -> DataFrame:
    """Hellinger-distance readout over the accumulated drift state —
    the bounded-[0,1] L2-on-sqrt-mass gate on the same statistic-
    agnostic count partials. Returns (tool, n_a, n_b, hellinger)."""
    from logpipe_spark.operators.drift import hellinger_from_counts

    per_v = _merged_drift_counts(spark, state_dir, reference)
    return hellinger_from_counts(per_v, "tool")


def read_cvm(spark: SparkSession, state_dir: str,
             reference: DataFrame, bucket_width: int = 1024) -> DataFrame:
    """Cramér–von Mises readout over the accumulated drift state — the
    integrated-squared-gap gate on the same count partials. Returns
    (tool, n_a, n_b, cvm)."""
    from logpipe_spark.operators.drift import cvm_from_counts

    per_v = _merged_drift_counts(spark, state_dir, reference)
    return cvm_from_counts(per_v, "tool", bucket_width=bucket_width)


def read_wasserstein(spark: SparkSession, state_dir: str,
                     reference: DataFrame,
                     bucket_width: int = 1024) -> DataFrame:
    """Wasserstein-1 readout over the accumulated drift state — the
    order-free integer earth-mover gate (value units, no bounded-
    support requirement) on the same count partials. Returns
    (tool, n_a, n_b, wasserstein)."""
    from logpipe_spark.operators.drift import wasserstein_from_counts

    per_v = _merged_drift_counts(spark, state_dir, reference)
    return wasserstein_from_counts(per_v, "tool",
                                   bucket_width=bucket_width)


def read_energy(spark: SparkSession, state_dir: str,
                reference: DataFrame,
                bucket_width: int = 1024) -> DataFrame:
    """Energy-distance readout over the accumulated drift state — the
    all-moments order-free gate on the same count partials. Returns
    (tool, n_a, n_b, energy)."""
    from logpipe_spark.operators.drift import energy_from_counts

    per_v = _merged_drift_counts(spark, state_dir, reference)
    return energy_from_counts(per_v, "tool", bucket_width=bucket_width)


def read_l_moments(spark: SparkSession, state_dir: str) -> DataFrame:
    """Robust distribution summary of the ACCUMULATED stream itself
    (no reference): L-location/L-scale/L-skew per tool from the same
    count partials — the sketchless robust-moments readout (classical
    variance would need no more state, but squares the outliers; the
    L-moments come free from the counts via
    :func:`~logpipe_spark.operators.aggregate.l_moments_from_counts`'s
    closed-form rank sums). Returns the l_moments schema keyed by
    tool."""
    from logpipe_spark.operators.aggregate import l_moments_from_counts

    counts = (
        spark.read.parquet(state_dir)
        .groupBy("tool", "v")
        .agg(F.sum("c").cast("bigint").alias("_c"))
        .select(F.col("tool").alias("_k"), F.col("v").alias("_v"), "_c")
    )
    return l_moments_from_counts(counts, "tool")


CUSUM_SEGMENT_SCHEMA = StructType([
    StructField("tool", StringType()),
    StructField("epoch", LongType()),
    StructField("n", LongType()),
    StructField("s", LongType()),
    StructField("m", LongType()),
    StructField("big_m", LongType()),
    StructField("g", LongType()),
])

_CUSUM_STATE = StructType([
    StructField("us", ArrayType(LongType())),
    StructField("tb", ArrayType(LongType())),
    StructField("d", ArrayType(LongType())),
])


def _cusum_fn_factory(target: int, epoch_seconds: int):
    """Per-(tool, epoch) buffered state; emits the EXACT segment monoid
    state once the event-time watermark passes the epoch's end."""
    import numpy as np

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            us, tb, d = state.get
            state.remove()
            order = np.lexsort((np.asarray(tb, dtype=np.int64),
                                np.asarray(us, dtype=np.int64)))
            dv = np.asarray(d, dtype=np.int64)[order]
            prefix = np.cumsum(dv)
            gap = prefix - np.minimum.accumulate(prefix)
            yield pd.DataFrame({
                "tool": [key[0]], "epoch": [int(key[1])],
                "n": [len(dv)], "s": [int(prefix[-1])],
                "m": [int(prefix.min())], "big_m": [int(prefix.max())],
                "g": [int(gap.max())],
            })
            return
        us, tb, d = state.get if state.exists else ([], [], [])
        us, tb, d = list(us), list(tb), list(d)
        for pdf in pdfs:
            ts = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
            us.extend(ts.astype("int64").tolist())
            tb.extend(pdf["tb"].astype("int64").tolist())
            d.extend((pdf["v"].astype("int64") - target).tolist())
        state.update((us, tb, d))
        # the segment closes when the WATERMARK passes the epoch's end —
        # deterministic in event time (clamped ahead of the watermark)
        epoch_end_ms = (int(key[1]) + 1) * epoch_seconds * 1000
        state.setTimeoutTimestamp(
            max(epoch_end_ms, int(state.getCurrentWatermarkMs()) + 1))
        return
        yield  # pragma: no cover - generator form

    return fn


def stream_cusum_monitor(stream: DataFrame, target: int,
                         epoch_seconds: int = 86400,
                         watermark: str = "10 seconds") -> DataFrame:
    """Streaming changepoint monitor on the CUSUM segment monoid
    (:mod:`logpipe_spark.operators.drift`): each (tool, event-time epoch)
    buffers its token-count deviations until the watermark passes the
    epoch's end, then emits the segment's EXACT monoid state
    (n, s, min-prefix, max-prefix, max-gap) — the same partials
    ``cusum_partials`` computes in batch, so :func:`read_cusum` folds
    them into the full-stream CUSUM without ever re-reading the stream.

    This is the streaming realization of the batch-11 merge==scan proof:
    segments are complete by construction (event-time closed), so the
    epoch-ordered fold is bit-exactly the global scan. State is bounded
    by one epoch of one tool's events (the sessionize bounded-state
    discipline; shrink ``epoch_seconds`` for hotter keys). Rows behind
    the watermark are dropped before the state function sees them, so
    the fold is exact only when ``watermark`` covers the source's
    disorder bound (same contract as :func:`conversation_sessions`).
    """
    from logpipe_spark.functions.textfn import token_count

    base = (
        stream.withWatermark("ts", watermark)
        .where(F.col("tool").isNotNull() & F.col("ts").isNotNull())
        .select(
            "tool", "ts",
            F.col("turn_idx").cast("long").alias("tb"),
            token_count(F.col("text")).cast("long").alias("v"),
            F.floor(F.col("ts").cast("long") / F.lit(int(epoch_seconds)))
            .cast("long").alias("epoch"),
        )
        .where(F.col("v").isNotNull())
    )
    return base.groupBy("tool", "epoch").applyInPandasWithState(
        _cusum_fn_factory(int(target), int(epoch_seconds)),
        outputStructType=CUSUM_SEGMENT_SCHEMA,
        stateStructType=_CUSUM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def read_cusum(segments: DataFrame, threshold: int) -> DataFrame:
    """Fold emitted epoch-segment states into the exact full-stream CUSUM
    readout — identical contract to ``drift.cusum_scan`` (tool, n,
    final_cusum, max_cusum, alert). A thin alias over
    :func:`~logpipe_spark.operators.drift.cusum_merge` so the streaming
    and batch paths share one merge implementation."""
    from logpipe_spark.operators.drift import cusum_merge

    return cusum_merge(segments, "tool", threshold=threshold)


def stream_dedup_incremental(spark: SparkSession, src: str, state_dir: str,
                             checkpoint_dir: str, k: int = 2,
                             n_hashes: int = 12, band_size: int = 3,
                             threshold: float = 0.4, n_buckets: int = 64,
                             max_files_per_trigger: int | None = None):
    """Streaming ingest-time near-dup detection: the foreachBatch twin of
    ``trainprep.dedup.dedup_incremental``. Each micro-batch of NEW
    documents (schema ``doc_id long, text string``) probes the
    accumulated band-signature index for near-dup pairs against
    EVERYTHING ingested so far (plus within-batch pairs), then commits
    its own docs + band rows as epoch-keyed state:

        {state_dir}/pairs/epoch=<id>   near-dup pairs found this epoch
        {state_dir}/bands/epoch=<id>/_bucket=<b>   signature index delta
        {state_dir}/docs/epoch=<id>    raw docs (verify-side point reads)

    Exactly-once by construction (same idempotent-epoch pattern as
    :func:`stream_epochs`): every write is ``overwrite`` into the
    epoch's own directory, and the probe EXCLUDES the current epoch's
    partitions, so a replayed batch reproduces — not duplicates — its
    pairs and index delta. Each unordered pair is emitted exactly once:
    in the epoch that ingests its later member. ``read_dedup_pairs``
    unions the epochs; batch parity (== whole-corpus
    ``minhash_lsh_dedup``) is asserted in tests at two pacings.
    """
    from logpipe_spark.trainprep.dedup import (band_rows, jaccard_on_pairs,
                                               minhash_signatures,
                                               word_shingles)

    stream = (spark.readStream
              .schema("doc_id long, text string")
              .option("maxFilesPerTrigger", max_files_per_trigger or 1000)
              .parquet(src))

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        docs = df.select("doc_id", "text").localCheckpoint(eager=True)
        sh_new = word_shingles(docs, k=k).localCheckpoint(eager=True)
        bands_new = band_rows(
            minhash_signatures(sh_new, n_hashes=n_hashes),
            n_hashes=n_hashes, band_size=band_size).localCheckpoint(eager=True)

        a, b = bands_new.alias("a"), bands_new.alias("b")
        within = (
            a.join(b, ["band_idx", "band_hash"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
        )
        cand = within
        prior_docs = None
        # ONLY the first epoch legitimately lacks state: gate on the
        # directory existing rather than catching exceptions — a broad
        # except here would silently degrade a corrupt-state read into
        # within-batch-only dedup (missing pairs, no error)
        import os as _os
        if _os.path.isdir(f"{state_dir}/bands"):
            # epoch + _bucket are partition dirs → the probe reads only
            # prior epochs' matching buckets, never the whole index
            index = (
                spark.read.parquet(f"{state_dir}/bands")
                .filter(F.col("epoch") != epoch_id)
                .select("doc_id", "band_idx", "band_hash")
            )
            cross = (
                bands_new.alias("n")
                .join(index.alias("o"), ["band_idx", "band_hash"])
                .select(F.least(F.col("n.doc_id"), F.col("o.doc_id"))
                        .alias("doc_a"),
                        F.greatest(F.col("n.doc_id"), F.col("o.doc_id"))
                        .alias("doc_b"))
            )
            cand = cand.unionByName(cross)
            prior_docs = (spark.read.parquet(f"{state_dir}/docs")
                          .filter(F.col("epoch") != epoch_id)
                          .select("doc_id", "text"))
        cand = cand.distinct().localCheckpoint(eager=True)

        sh_all = sh_new
        if prior_docs is not None:
            cand_ids = cand.select(F.col("doc_a").alias("doc_id")) \
                .unionByName(cand.select(F.col("doc_b").alias("doc_id"))) \
                .distinct()
            hit = prior_docs.join(F.broadcast(cand_ids), "doc_id", "semi")
            sh_all = sh_new.unionByName(word_shingles(hit, k=k))
        sh_all = sh_all.localCheckpoint(eager=True)
        pairs = jaccard_on_pairs(cand, sh_all).where(
            F.col("jaccard") >= threshold)

        (pairs.write.mode("overwrite")
         .parquet(f"{state_dir}/pairs/epoch={epoch_id}"))
        (bands_new.withColumn(
            "_bucket", F.pmod(F.hash(F.col("band_hash")), F.lit(n_buckets)))
         .repartition(min(n_buckets, 8), "_bucket")
         .write.partitionBy("_bucket").mode("overwrite")
         .parquet(f"{state_dir}/bands/epoch={epoch_id}"))
        (docs.write.mode("overwrite")
         .parquet(f"{state_dir}/docs/epoch={epoch_id}"))

    return (stream.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir))


def read_dedup_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """Union every epoch's near-dup pairs (each unordered pair appears in
    exactly one epoch — the one that ingested its later member)."""
    return (spark.read.parquet(f"{state_dir}/pairs")
            .select("doc_a", "doc_b", "jaccard"))


def token_quantile_partials(df: DataFrame, key: str = "tool",
                            k: int = 128) -> DataFrame:
    """Bottom-k-by-md5 sample sketch (``aggregate.quantile_sketch``) of
    per-turn token counts, ids ``conv_id:turn_idx``: k rows per group.
    Bottom-k is a monoid — and idempotent, so replayed rows collapse — so
    :func:`read_quantiles` over epochs of it is IDENTICAL to the batch
    sketch of everything ingested."""
    from logpipe_spark.functions.textfn import token_count
    from logpipe_spark.operators.aggregate import quantile_sketch

    v = (df.withColumn("_v", token_count(F.col("text")).cast("double"))
         .withColumn("_id", F.concat_ws(":", "conv_id", "turn_idx")))
    return quantile_sketch(v, key, "_v", "_id", k=k)


def read_quantiles(spark: SparkSession, state_dir: str, key: str = "tool",
                   k: int = 128, ps=(0.5, 0.9, 0.99)) -> DataFrame:
    """Merge every epoch's sketch and estimate quantiles of the sample."""
    from logpipe_spark.operators.aggregate import (quantile_sketch_estimate,
                                                   quantile_sketch_merge)

    merged = quantile_sketch_merge(
        spark.read.parquet(state_dir).select(key, "h", "v"), key, k=k)
    return quantile_sketch_estimate(merged, key, ps=ps)


def slo_partials(df: DataFrame) -> DataFrame:
    """Minute-grain burn-rate partials ``(bucket_epoch, n, err)`` over
    parsed clean rows, errors = status >= 500. Counts are mergeable, so
    :func:`read_slo_burn` re-sums epochs and applies the same RANGE-frame
    burn windows as the batch operator; readout == ``aggregate.slo_burn``
    over everything ingested."""
    from logpipe_spark.operators.parse import parse_grok

    clean = parse_grok(df).where(F.col("error_kind").isNull())
    bkt = (F.col("ts").cast("timestamp").cast("long") / 60) \
        .cast("long") * 60
    return (clean.select(bkt.alias("bucket_epoch"),
                         (F.col("status") >= 500).cast("int").alias("_e"))
            .groupBy("bucket_epoch")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("_e").alias("err")))


def read_slo_burn(spark: SparkSession, state_dir: str,
                  error_budget: float = 0.05, fast_s: int = 300,
                  slow_s: int = 3600,
                  burn_threshold: float = 2.0) -> DataFrame:
    """Merge epoch partials and score: identical output schema and
    values to the batch ``slo_burn`` over the full ingested stream."""
    from pyspark.sql import Window

    if slow_s > 86400 or fast_s > slow_s:
        raise ValueError("read_slo_burn requires fast_s <= slow_s <= 86400")
    pm = (spark.read.parquet(state_dir)
          .groupBy("bucket_epoch")
          .agg(F.sum("n").alias("n"), F.sum("err").alias("err")))
    # same day-partitioned context-replay windows as the batch operator
    day = (F.col("bucket_epoch") / 86400).cast("long")
    own = pm.select("*", day.alias("_day"), F.lit(0).alias("_ctx"))
    ctx = (pm.where(F.col("bucket_epoch") % 86400 >= 86400 - slow_s)
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


# --- streaming context-overflow audit ---------------------------------------

CONTEXT_OVERFLOW_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("n_turns", LongType()),
    StructField("total_tokens", LongType()),
    StructField("overflow_turn", IntegerType()),
    StructField("tokens_at_overflow", LongType()),
])

_CONTEXT_STATE = StructType([
    StructField("t", ArrayType(LongType())),
    StructField("v", ArrayType(LongType())),
])


def _context_fn_factory(budget: int):
    """Per-conversation buffered (turn_idx, tokens) state; emits the
    batch context_growth row once the watermark passes the conv's last
    activity (bounded by one conversation — the sessionize discipline)."""
    import numpy as np

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            t, v = state.get
            state.remove()
            order = np.argsort(np.asarray(t, dtype=np.int64), kind="stable")
            tt = np.asarray(t, dtype=np.int64)[order]
            cum = np.cumsum(np.asarray(v, dtype=np.int64)[order])
            over = np.nonzero(cum > budget)[0]
            yield pd.DataFrame({
                "conv_id": [key[0]],
                "n_turns": [len(tt)],
                "total_tokens": [int(cum[-1]) if len(cum) else 0],
                "overflow_turn": [
                    int(tt[over[0]]) if len(over) else None],
                "tokens_at_overflow": [
                    int(cum[over[0]]) if len(over) else None],
            })
            return
        t, v = state.get if state.exists else ([], [])
        t, v = list(t), list(v)
        for pdf in pdfs:
            t.extend(pdf["turn_idx"].astype("int64").tolist())
            v.extend(pdf["v"].astype("int64").tolist())
        state.update((t, v))
        # close the conversation as soon as the watermark moves past it
        state.setTimeoutTimestamp(int(state.getCurrentWatermarkMs()) + 1)
        return
        yield  # pragma: no cover - generator form

    return fn


def stream_context_overflow(stream: DataFrame, budget: int = 256,
                            watermark: str = "10 seconds") -> DataFrame:
    """Streaming twin of ``operators.spans.context_growth``: per-conv
    running token totals + first turn past ``budget``, emitted when the
    event-time watermark passes the conversation's last activity.

    Exactness contract: identical to the batch op on a drained stream —
    the buffered fold sorts by turn_idx at emit time, so micro-batch
    pacing cannot reorder it (two-pacing parity asserted in
    test_streaming). The filters below never drop watermark-advancing
    flush rows (they carry real conv_ids/text — see the
    filter-pushed-below-EventTimeWatermark gotcha on
    stream_cusum_monitor).
    """
    from logpipe_spark.functions.textfn import token_count

    base = (
        stream.withWatermark("ts", watermark)
        .where(F.col("conv_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "conv_id", "ts",
            F.col("turn_idx").cast("long").alias("turn_idx"),
            token_count(F.col("text"), "[^ ]+").cast("long").alias("v"),
        )
        .where(F.col("v").isNotNull())
    )
    return base.groupBy("conv_id").applyInPandasWithState(
        _context_fn_factory(int(budget)),
        outputStructType=CONTEXT_OVERFLOW_SCHEMA,
        stateStructType=_CONTEXT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# --- streaming incremental postings ------------------------------------------

def postings_partials(df: DataFrame, max_postings: int = 10) -> DataFrame:
    """Ingest-time inverted-index partial over NEW documents (schema
    ``doc_id long, text string``): (word, df, capped ascending post_ids),
    the mergeable state of ``trainprep.index.append_postings_index``.
    :func:`read_stream_postings` folds epochs with the same monoid (df
    adds across disjoint shards; the k smallest of a union live in the
    union of each side's k smallest)."""
    from logpipe_spark.trainprep.index import _postings_partial

    return _postings_partial(df, "text", "doc_id", max_postings)


def read_stream_postings(spark: SparkSession, state_dir: str,
                         max_postings: int = 10) -> DataFrame:
    """Fold all epochs' postings partials into build_postings' output
    contract (word, df, postings) — vocab-sized merge, the corpus text
    is never re-read."""
    parts = spark.read.parquet(state_dir)
    merged = parts.groupBy("word").agg(
        F.sum("df").cast("bigint").alias("df"),
        F.slice(F.array_sort(F.flatten(F.collect_list("post_ids"))),
                1, max_postings).alias("post_ids"),
    )
    return merged.select(
        "word", "df",
        F.array_join(
            F.transform(F.col("post_ids"), lambda x: x.cast("string")),
            ",",
        ).alias("postings"),
    )


def read_rate_autocorr(spark: SparkSession, state_dir: str,
                       lags=(1, 2, 3)) -> DataFrame:
    """Merge every epoch's ``aggregate.rate_counts`` buckets (SUM — the
    monoid op, so the merge == the count of everything ingested) and run
    the lag-correlation readout on the merged series."""
    from logpipe_spark.operators.aggregate import autocorr_from_counts

    merged = (spark.read.parquet(state_dir)
              .groupBy("m").agg(F.sum("c").cast("bigint").alias("c")))
    return autocorr_from_counts(merged, lags=lags)


def health_partials(df: DataFrame) -> DataFrame:
    """Per-(day, conv) health partials — the mergeable grain shared by
    the streaming monitor and the batch report: row/null counts and
    char sums are SUM-monoids; exact distinct conversations need the
    (day, conv) key kept until the readout (the same exact two-phase
    distinct as sliding_distinct). Rows with NULL ts carry no event
    time and are excluded (mirrors the batch partition_health query)."""
    return (
        df.where(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("day"), "conv_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col("tool").isNull(), 1).otherwise(0))
            .cast("bigint").alias("n_null_tool"),
            F.sum(F.when(F.col("text").isNull(), 1).otherwise(0))
            .cast("bigint").alias("n_null_text"),
            F.sum(F.coalesce(F.length("text"), F.lit(0)))
            .cast("bigint").alias("n_chars"),
        )
    )


def health_report(partials: DataFrame) -> DataFrame:
    """Fold (day, conv) partials to the per-day scorecard (the monoid
    merge): counts SUM, conversations exact-distinct on the kept key."""
    return partials.groupBy("day").agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum("n_null_tool").cast("bigint").alias("n_null_tool"),
        F.sum("n_null_text").cast("bigint").alias("n_null_text"),
        F.countDistinct("conv_id").cast("bigint").alias("n_convs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )


def read_partition_health(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merge every epoch's (day, conv) partials (SUM within the key —
    the monoid op) and fold to the per-day scorecard."""
    merged = (spark.read.parquet(state_dir)
              .groupBy("day", "conv_id")
              .agg(F.sum("n_rows").cast("bigint").alias("n_rows"),
                   F.sum("n_null_tool").cast("bigint").alias("n_null_tool"),
                   F.sum("n_null_text").cast("bigint").alias("n_null_text"),
                   F.sum("n_chars").cast("bigint").alias("n_chars")))
    return health_report(merged)


def golden_partials(df: DataFrame) -> DataFrame:
    """Per-(conv, role) survivorship partials — every field a monoid:
    counts SUM, first/last ts MIN/MAX, and the LATEST NON-NULL tool as
    a max-struct over (ts, turn_idx, tool) (argmax is a monoid: max of
    per-segment maxes == global max; NULL-tool rows contribute a NULL
    struct which max skips). Exact distinct roles keep the (conv, role)
    key to the readout, like :func:`health_partials`."""
    latest = F.max(F.when(F.col("tool").isNotNull(),
                          F.struct(F.col("ts"), F.col("turn_idx"),
                                   F.col("tool"))))
    return (
        df.where(F.col("ts").isNotNull())
        .groupBy("conv_id", "role")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_turns"),
             F.min("ts").alias("first_ts"),
             F.max("ts").alias("last_ts"),
             latest.alias("_lt"))
    )


def golden_report(partials: DataFrame) -> DataFrame:
    """Fold (conv, role) partials to the per-conversation golden record
    (the monoid merge)."""
    g = partials.groupBy("conv_id").agg(
        F.sum("n_turns").cast("bigint").alias("n_turns"),
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
        F.countDistinct("role").cast("bigint").alias("n_roles"),
        F.max("_lt").alias("_lt"))
    return g.select(
        "conv_id", "n_turns", "first_ts", "last_ts", "n_roles",
        F.col("_lt.tool").alias("latest_tool"),
        F.col("_lt.ts").alias("latest_tool_ts"))


def read_golden_record(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merge epoch partials within the (conv, role) key (each field's
    monoid op) and fold to the per-conversation record."""
    merged = (spark.read.parquet(state_dir)
              .groupBy("conv_id", "role")
              .agg(F.sum("n_turns").cast("bigint").alias("n_turns"),
                   F.min("first_ts").alias("first_ts"),
                   F.max("last_ts").alias("last_ts"),
                   F.max("_lt").alias("_lt")))
    return golden_report(merged)


# --- streaming Apdex ----------------------------------------------------------

APDEX_PARTIAL_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("tool", StringType()),
    StructField("n_turns", LongType()),
    StructField("n_satisfied", LongType()),
    StructField("n_tolerating", LongType()),
])

_APDEX_STATE = StructType([
    StructField("t", ArrayType(LongType())),
    StructField("us", ArrayType(LongType())),
    StructField("tool", ArrayType(StringType())),
    StructField("sla", ArrayType(LongType())),
])


def _apdex_fn_factory(sla_scale: int = 1):
    """Per-conversation buffered (turn_idx, micros, tool, sla_ms) state;
    emits per-(conv, tool) Apdex judgment counts once the watermark
    passes the conversation's last activity. The latency pairs are the
    batch op's exactly: consecutive turn_idx within the conv, judged by
    the LATER turn's own SLA (sorted at emit time, so micro-batch
    pacing cannot reorder them)."""
    import numpy as np

    from logpipe_spark.transcripts import LOOKUP_ROWS

    sla_map = {(r, t): sla for r, t, _team, _cw, sla in LOOKUP_ROWS}

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            t, us, tool, sla = state.get
            state.remove()
            if len(t) < 2:
                return
            order = np.argsort(np.asarray(t, dtype=np.int64), kind="stable")
            us_s = np.asarray(us, dtype=np.int64)[order]
            tool_s = np.asarray(tool, dtype=object)[order]
            sla_s = np.asarray(sla, dtype=np.int64)[order]
            lat = us_s[1:] - us_s[:-1]
            thr = sla_s[1:] * 1000 * int(sla_scale)
            sat = lat <= thr
            tol = (~sat) & (lat <= 4 * thr)
            pdf = pd.DataFrame({"tool": tool_s[1:],
                                "sat": sat.astype("int64"),
                                "tol": tol.astype("int64")})
            g = pdf.groupby("tool", sort=True).agg(
                n_turns=("sat", "size"), n_satisfied=("sat", "sum"),
                n_tolerating=("tol", "sum")).reset_index()
            g.insert(0, "conv_id", key[0])
            yield g
            return
        t, us, tool, sla = (state.get if state.exists
                            else ([], [], [], []))
        t, us, tool, sla = list(t), list(us), list(tool), list(sla)
        for pdf in pdfs:
            t.extend(pdf["turn_idx"].astype("int64").tolist())
            us.extend(pdf["us"].astype("int64").tolist())
            tool.extend(pdf["tool"].astype(str).tolist())
            sla.extend(int(sla_map[(r, tl)]) for r, tl in
                       zip(pdf["role"].astype(str), pdf["tool"].astype(str)))
        state.update((t, us, tool, sla))
        state.setTimeoutTimestamp(int(state.getCurrentWatermarkMs()) + 1)
        return
        yield  # pragma: no cover - generator form

    return fn


def stream_apdex(stream: DataFrame,
                 watermark: str = "10 seconds",
                 sla_scale: int = 1) -> DataFrame:
    """Streaming twin of ``operators.spans.apdex_by_tool``: per-conv
    buffered turns, judged when the watermark closes the conversation,
    emitted as per-(conv, tool) count partials — every field a SUM
    monoid, so :func:`apdex_report` over the drained output equals the
    batch scorecard (two-pacing parity in tests). SLA lookup happens
    in-state from the same LOOKUP_ROWS dimension the batch join
    broadcasts."""
    base = (
        stream.withWatermark("ts", watermark)
        .where(F.col("conv_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "conv_id", "ts",
            F.col("turn_idx").cast("long").alias("turn_idx"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            "role", "tool",
        )
    )
    return base.groupBy("conv_id").applyInPandasWithState(
        _apdex_fn_factory(sla_scale),
        outputStructType=APDEX_PARTIAL_SCHEMA,
        stateStructType=_APDEX_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def apdex_report(partials: DataFrame) -> DataFrame:
    """Fold (conv, tool) Apdex partials to the per-tool scorecard (the
    monoid merge) — same output contract as ``spans.apdex_by_tool``."""
    g = partials.groupBy("tool").agg(
        F.sum("n_turns").cast("bigint").alias("n_turns"),
        F.sum("n_satisfied").cast("bigint").alias("n_satisfied"),
        F.sum("n_tolerating").cast("bigint").alias("n_tolerating"))
    return g.select(
        "tool", "n_turns", "n_satisfied", "n_tolerating",
        ((2 * F.col("n_satisfied") + F.col("n_tolerating")).cast("double")
         / (2 * F.col("n_turns")).cast("double")).alias("apdex"))


def read_freshness(spark: SparkSession, state_dir: str,
                   key: str = "role") -> DataFrame:
    """Merge every epoch's ``profile.freshness_partials`` (SUM/MIN/MAX — the monoid
    op) and fold to the staleness scorecard == batch freshness_lag."""
    from logpipe_spark.operators.profile import freshness_report

    merged = (spark.read.parquet(state_dir)
              .groupBy(key)
              .agg(F.sum("n").cast("bigint").alias("n"),
                   F.min("first_us").cast("bigint").alias("first_us"),
                   F.max("last_us").cast("bigint").alias("last_us")))
    return freshness_report(merged, key)


def growth_partials(df: DataFrame) -> DataFrame:
    """Distinct (conv_id, week) activity pairs. The pair SET is the
    mergeable state (union-distinct is the monoid, the dedup-pairs
    discipline), so :func:`read_growth_accounting` is IDENTICAL to batch
    ``growth_accounting`` over the whole corpus."""
    return (df.where(F.col("conv_id").isNotNull() & F.col("ts").isNotNull())
            .select("conv_id",
                    F.expr("unix_micros(cast(ts AS timestamp)) "
                           "div 604800000000").cast("bigint").alias("week"))
            .distinct())


def read_growth_accounting(spark: SparkSession, state_dir: str) -> DataFrame:
    """Union-distinct the epochs' activity pairs (the monoid op) and
    fold to the weekly growth panel == batch growth_accounting."""
    from logpipe_spark.operators.segment import growth_accounting

    pairs = spark.read.parquet(state_dir).select("conv_id", "week")
    return growth_accounting(pairs, "conv_id", "week")


def conformal_partials(df: DataFrame) -> DataFrame:
    """Per-(group, |residual|) COUNTS ``(g, r, c)`` over logged
    ``(g string, y long, yh long)`` rows — a lossless sufficient statistic
    for every rank, hence for the split-conformal radius, so
    :func:`read_conformal` reads the coverage band of the ACCUMULATED
    stream without re-scanning rows (the drift-partials pattern applied
    to uncertainty)."""
    return (
        df.where(F.col("g").isNotNull() & F.col("y").isNotNull()
                 & F.col("yh").isNotNull())
        .select("g", F.abs(F.col("y").cast("bigint")
                           - F.col("yh").cast("bigint")).alias("r"))
        .groupBy("g", "r")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def read_conformal(spark: SparkSession, state_dir: str,
                   alpha_num: int = 1, alpha_den: int = 10) -> DataFrame:
    """Fold all epochs' residual counts and select the radius —
    counts are a monoid (plain sums), so the readout equals the batch
    :func:`~logpipe_spark.operators.aggregate.conformal_interval` of
    the whole accumulated stream exactly (asserted at two pacings)."""
    from logpipe_spark.operators.aggregate import conformal_from_counts

    per_r = (spark.read.parquet(state_dir)
             .groupBy("g", "r")
             .agg(F.sum("c").cast("bigint").alias("c")))
    return conformal_from_counts(per_r, "g", alpha_num=alpha_num,
                                 alpha_den=alpha_den)
