"""Structured Streaming tests: windowed counts equal batch equivalents,
stateful sessionization, and foreachBatch fan-out parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logpipe_spark.streaming import (conversation_sessions, run_stream_once,
                                     stream_epochs, stream_route_fanout,
                                     stream_transcripts, windowed_turn_counts)
from logpipe_spark.synth import synth_transcripts


# Watermark for the stateful monitors drained from ``stream_dir``: every
# part file of a conv_id-partitioned corpus spans the corpus's whole event
# time (under an hour), and a row behind the watermark is dropped, so at
# one file per trigger a shorter delay loses the rows of every later file.
SOURCE_WATERMARK = "1 hour"


def _file_stream(spark, schema, src, mft=None):
    """Parquet file source with a non-transcript schema, ``mft`` files per
    trigger (None: everything available in one batch)."""
    reader = spark.readStream.schema(schema)
    if mft:
        reader = reader.option("maxFilesPerTrigger", mft)
    return reader.parquet(src)


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_src"))
    # four part files: every pacing below runs two to four epochs
    synth_transcripts(spark, n_turns=3000, n_convs=60, error_every=25,
                      partitions=4).write.mode("overwrite").parquet(d)
    return d


def test_stream_dir_spans_several_epochs(stream_dir):
    """The pacing tests over ``stream_dir`` drain it at one or two files
    per trigger; they exercise the cross-epoch merge only if the corpus
    is written as several part files (``synth_transcripts`` keeps its
    explicit conv_id partitioning through the write)."""
    import glob

    assert len(glob.glob(f"{stream_dir}/part-*.parquet")) >= 4


@pytest.fixture(scope="module")
def paced_dir(spark, tmp_path_factory):
    """Four-file transcript source: a drain at one file per trigger runs
    four epochs."""
    d = str(tmp_path_factory.mktemp("paced_src"))
    (synth_transcripts(spark, n_turns=2000, n_convs=20, error_every=25)
     .repartition(4).write.mode("overwrite").parquet(d))
    return d


def test_windowed_counts_match_batch(spark, stream_dir, tmp_path):
    stream = stream_transcripts(spark, stream_dir)
    agg = windowed_turn_counts(stream, window="10 minutes",
                               watermark="5 minutes")
    # update mode ≙ the reference's periodic partial flush (A1): every
    # trigger emits the current partial; the final update per key is the
    # exact total, so max() over the flushes reconstructs the batch answer.
    q = (agg.writeStream.format("memory").queryName("win_counts")
         .outputMode("update").option(
             "checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.sql(
        "SELECT window_start, tool, max(turn_count) AS turn_count "
        "FROM win_counts GROUP BY window_start, tool").toPandas()
    batch = spark.read.parquet(stream_dir)
    want = (
        batch.groupBy(F.window("ts", "10 minutes").alias("win"), "tool")
        .agg(F.count(F.lit(1)).alias("turn_count"))
        .select(F.col("win.start").alias("window_start"), "tool", "turn_count")
        .toPandas()
    )
    got_map = {(r.window_start, r.tool): r.turn_count for r in got.itertuples()}
    want_map = {(r.window_start, r.tool): r.turn_count for r in want.itertuples()}
    assert got_map == want_map


def _run_sessions(spark, src, ck, name, mft):
    """Drain `src` with availableNow at `mft` files/trigger; return emitted
    sessions keyed by conv_id, sentinel flush convs excluded."""
    stream = stream_transcripts(spark, src, max_files_per_trigger=mft)
    sessions = conversation_sessions(stream, gap_ms=3_600_000,
                                     watermark=SOURCE_WATERMARK)
    q = (sessions.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180)
    got = spark.sql(
        f"SELECT conv_id, n_turns, first_ts, last_ts FROM {name}").toPandas()
    return {r.conv_id: (r.n_turns, r.first_ts, r.last_ts)
            for r in got.itertuples() if not r.conv_id.startswith("zz-flush")}


def test_conversation_sessions_event_time_deterministic(spark, stream_dir,
                                                        tmp_path):
    """Event-time timeout: sessions are a pure function of the DATA — two
    runs over the same files at different batch pacings (1 vs 2 files per
    trigger) emit identical sessions, and they equal the batch groupBy.
    Sentinel far-future 'flush' rows advance the watermark past every real
    conversation's last_ts + gap (the watermark lags one batch, so two
    ascending flush files are appended)."""
    import shutil
    import time

    src = str(tmp_path / "src")
    shutil.copytree(stream_dir, src)
    flush_rows = [
        ("zz-flush-1", 0, "user", "flush", "none", "2024-06-01 00:00:00"),
        ("zz-flush-2", 0, "user", "flush", "none", "2024-12-01 00:00:00"),
        ("zz-flush-3", 0, "user", "flush", "none", "2025-06-01 00:00:00"),
    ]
    for row in flush_rows:  # one file per flush, strictly later mtimes
        time.sleep(0.05)
        (spark.createDataFrame(
            [row], "conv_id string, turn_idx int, role string, text string, "
                   "tool string, ts string")
         .withColumn("ts", F.col("ts").cast("timestamp"))
         .coalesce(1).write.mode("append").parquet(src))

    run1 = _run_sessions(spark, src, str(tmp_path / "ck_a"), "sess_a", 1)
    run2 = _run_sessions(spark, src, str(tmp_path / "ck_b"), "sess_b", 2)
    assert run1 == run2                      # pacing-independent
    batch = spark.read.parquet(stream_dir)
    want = {r.conv_id: (r.n_turns, r.first_ts, r.last_ts)
            for r in (batch.groupBy("conv_id")
                      .agg(F.count(F.lit(1)).alias("n_turns"),
                           F.min("ts").alias("first_ts"),
                           F.max("ts").alias("last_ts"))
                      .toPandas().itertuples())}
    assert run1 == want


def test_stream_fanout_matches_batch_router(spark, stream_dir, tmp_path):
    stream = stream_transcripts(spark, stream_dir, max_files_per_trigger=2)
    base = str(tmp_path / "sinks")
    writer = stream_route_fanout(spark, stream, base,
                                 str(tmp_path / "ck3"))
    run_stream_once(writer)

    from logpipe_spark.plans.pipeline import run_pipeline_fanout
    batch_dir = str(tmp_path / "batch")
    run_pipeline_fanout(spark, spark.read.parquet(stream_dir), batch_dir)

    def routed(path):
        return sorted(map(tuple, spark.read.parquet(path)
                          .select("sink", "conv_id", "turn_idx").collect()))

    got, want = routed(base), routed(batch_dir)
    assert {s for s, _, _ in want} >= {"tool_bash", "role_user", "error"}
    assert got == want


def test_stream_resume_from_checkpoint_no_duplicates(spark, tmp_path):
    """Kill/restart semantics: a second availableNow run over the SAME
    checkpoint processes only files added since the first run — routed
    output equals one batch pass over everything, no duplicates."""
    src = str(tmp_path / "src")
    base = str(tmp_path / "sinks")
    ck = str(tmp_path / "ck")

    first = synth_transcripts(spark, n_turns=1000, n_convs=20, error_every=25)
    first.write.mode("overwrite").parquet(src)
    writer = stream_route_fanout(spark, stream_transcripts(spark, src),
                                 base, ck)
    run_stream_once(writer)
    n_after_first = spark.read.parquet(base).count()

    # more data arrives; resume from the same checkpoint
    second = synth_transcripts(spark, n_turns=3000, n_convs=20,
                               error_every=25).filter("turn_idx >= 50")
    second.write.mode("append").parquet(src)
    writer2 = stream_route_fanout(spark, stream_transcripts(spark, src),
                                  base, ck)
    run_stream_once(writer2)

    got = spark.read.parquet(base)
    from logpipe_spark.operators.router import route_single_pass, standard_rules
    from logpipe_spark.plans.pipeline import (PipelineConfig, enrich_stage,
                                              parse_stage)
    from logpipe_spark.transcripts import ROLES, TOOLS

    cfg = PipelineConfig()
    want = route_single_pass(
        enrich_stage(spark, parse_stage(spark.read.parquet(src), cfg), cfg),
        standard_rules(list(TOOLS), list(ROLES)))
    assert got.count() == want.count() > n_after_first
    gk = sorted(map(tuple, got.select("sink", "conv_id", "turn_idx").collect()))
    wk = sorted(map(tuple, want.select("sink", "conv_id", "turn_idx").collect()))
    assert gk == wk


def test_stream_fanout_replayed_batch_is_idempotent(spark, tmp_path):
    """Crash after a batch's sink write and before its checkpoint commit:
    the restarted stream replays that batch under the same id, which must
    rewrite its epoch, not add a second copy of its rows."""
    from logpipe_spark.plans.pipeline import run_pipeline_fanout

    src = str(tmp_path / "src")
    base = str(tmp_path / "sinks")
    ck = tmp_path / "ck"
    (synth_transcripts(spark, n_turns=2000, n_convs=20, error_every=25)
     .repartition(4).write.mode("overwrite").parquet(src))

    def drain():
        run_stream_once(stream_route_fanout(
            spark, stream_transcripts(spark, src, max_files_per_trigger=1),
            base, str(ck)))

    drain()
    commits = sorted((p for p in (ck / "commits").iterdir()
                      if p.name.isdigit()), key=lambda p: int(p.name))
    assert len(commits) > 1
    last = commits[-1]
    last.unlink()
    (last.parent / f".{last.name}.crc").unlink(missing_ok=True)
    drain()

    batch_dir = str(tmp_path / "batch")
    run_pipeline_fanout(spark, spark.read.parquet(src), batch_dir)

    def routed(path):
        return sorted(map(tuple, spark.read.parquet(path)
                          .select("sink", "conv_id", "turn_idx").collect()))

    assert routed(base) == routed(batch_dir)
    assert (tmp_path / "sinks" / f"epoch={last.name}").is_dir()


def test_stream_dedup_exact(spark, tmp_path):
    from logpipe_spark.streaming.stream import stream_dedup_exact

    src = str(tmp_path / "dupsrc")
    base = synth_transcripts(spark, n_turns=500, n_convs=10)
    base.write.mode("overwrite").parquet(src)
    base.limit(200).write.mode("append").parquet(src)  # duplicate turns

    deduped = stream_dedup_exact(stream_transcripts(spark, src))
    q = (deduped.writeStream.format("memory").queryName("dedup_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.sql("SELECT conv_id, turn_idx FROM dedup_out")
    assert out.count() == 500
    assert out.distinct().count() == 500


def test_stream_kmv_matches_batch_at_two_pacings(spark, stream_dir, tmp_path):
    """Streaming KMV final estimates must equal the batch sketch over the
    same data regardless of micro-batch split (the mergeability claim)."""
    from logpipe_spark.operators.aggregate import kmv_distinct
    from logpipe_spark.streaming.stream import stream_kmv_distinct

    batch = kmv_distinct(spark.read.parquet(stream_dir), "role", "conv_id",
                         k=32)
    want = {r.role: (r.n_hashes, r.estimate) for r in batch.collect()}

    for i, mft in enumerate((None, 1)):
        stream = stream_transcripts(spark, stream_dir,
                                    max_files_per_trigger=mft)
        q = (stream_kmv_distinct(stream, "role", "conv_id", k=32)
             .writeStream.format("memory").queryName(f"kmv{i}")
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / f"ck{i}"))
             .trigger(availableNow=True).start())
        assert q.awaitTermination(180)
        rows = spark.sql(f"SELECT * FROM kmv{i}").toPandas()
        # update mode emits per trigger; the final state per group is the
        # max n_hashes row, and estimates are monotone so max() is final
        final = (rows.groupby("group_key")
                 .agg({"n_hashes": "max", "estimate": "max"}))
        got = {g: (int(r.n_hashes), int(r.estimate))
               for g, r in final.iterrows()}
        assert got == want, f"mft={mft}: {got} != {want}"


def test_stream_interval_join_matches_batch(spark, stream_dir, tmp_path):
    """Stream-stream time-bounded join (user turn ← responses within 5 min
    in the same conversation) drains to exactly the batch join's rows."""
    from logpipe_spark.streaming import stream_interval_join

    def split(df):
        users = df.filter(F.col("role") == "user").select(
            "conv_id", F.col("turn_idx").alias("u_idx"), F.col("ts").alias("u_ts"))
        resps = df.filter(F.col("role") == "assistant").select(
            "conv_id", F.col("turn_idx").alias("r_idx"), F.col("ts").alias("r_ts"))
        return users, resps

    su, sr = split(stream_transcripts(spark, stream_dir))
    joined = stream_interval_join(su, sr, on="conv_id", left_ts="u_ts",
                                  right_ts="r_ts", max_lag="5 minutes")
    q = (joined.writeStream.format("memory").queryName("ssjoin")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckj"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT conv_id, u_idx, r_idx FROM ssjoin").toPandas()

    bu, br = split(spark.read.parquet(stream_dir))
    want = (
        bu.join(br, "conv_id")
        .where((F.col("r_ts") >= F.col("u_ts")) &
               (F.col("r_ts") <= F.col("u_ts") + F.expr("INTERVAL 5 MINUTES")))
        .select("conv_id", "u_idx", "r_idx")
        .toPandas()
    )
    assert len(got) == len(want) > 0
    key = ["conv_id", "u_idx", "r_idx"]
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    assert g.equals(w)


def test_stream_rollup_incremental_equals_batch(spark, stream_dir, tmp_path):
    """Continuous-aggregate parity: per-micro-batch fine partials, merged
    across all epochs, equal the batch rollup over the same corpus —
    including fine buckets split across micro-batches."""
    from logpipe_spark.functions.textfn import token_count
    from logpipe_spark.operators.aggregate import time_rollup
    from logpipe_spark.streaming import read_rollup, token_rollup_partials

    state = str(tmp_path / "rollup_state")
    writer = stream_epochs(
        stream_transcripts(spark, stream_dir, max_files_per_trigger=1),
        token_rollup_partials, state, str(tmp_path / "ckr"))
    run_stream_once(writer)

    got = read_rollup(spark, state, "hour").drop("epoch").toPandas()
    batch = spark.read.parquet(stream_dir)
    want = time_rollup(
        batch.withColumn("_v", token_count(F.col("text"))),
        "ts", ["tool"], "_v").toPandas()
    key = ["bucket_ts", "tool"]
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    assert len(g) == len(w) > 0
    for c in ["n_events", "min_value", "max_value"]:
        import pandas as pd
        pd.testing.assert_series_equal(g[c], w[c], check_names=False)
    assert (g["sum_value"] - w["sum_value"]).abs().max() <= 0.011


def test_stream_asof_enrich_matches_batch(spark, tmp_path):
    """Streaming as-of enrich == batch as-of join when per-key arrival is
    event-ordered across batches (time-split ingest files): user turns
    carry the latest assistant turn at-or-before them."""
    import time as _time

    from logpipe_spark.operators.asof import asof_join
    from logpipe_spark.streaming import stream_asof_enrich

    t = synth_transcripts(spark, n_turns=3000, n_convs=40)
    mid = t.selectExpr(
        "percentile(cast(cast(ts AS timestamp) AS double), 0.5)").first()[0]
    src = str(tmp_path / "asrc")
    t.filter(F.col("ts").cast("timestamp").cast("double") <= mid) \
        .coalesce(1).write.mode("overwrite").parquet(src)
    _time.sleep(1.2)  # later mtime → file source processes it second
    t.filter(F.col("ts").cast("timestamp").cast("double") > mid) \
        .coalesce(1).write.mode("append").parquet(src)

    stream = stream_transcripts(spark, src, max_files_per_trigger=1)
    enriched = stream_asof_enrich(
        stream.filter(F.col("role") == "user"),
        stream.filter(F.col("role") == "assistant"))
    q = (enriched.writeStream.format("memory").queryName("asof_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "cka"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = (spark.sql("SELECT conv_id, turn_idx, ref_turn_idx, ref_ts "
                     "FROM asof_out").toPandas()
           .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))

    batch = spark.read.parquet(src)
    want = (
        asof_join(
            batch.filter(F.col("role") == "user")
            .select("conv_id", "turn_idx", "ts"),
            batch.filter(F.col("role") == "assistant")
            .select("conv_id", "turn_idx", "ts"),
            on=["conv_id"], ts="ts", right_cols=["turn_idx"],
            prefix="ref_", tiebreak="turn_idx")
        .select("conv_id", "turn_idx", "ref_turn_idx", "ref_ts")
        .toPandas().sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True))
    assert len(got) == len(want) > 0
    import pandas as pd
    pd.testing.assert_series_equal(
        got["ref_turn_idx"].astype("Int64"),
        want["ref_turn_idx"].astype("Int64"), check_names=False)
    pd.testing.assert_series_equal(
        pd.to_datetime(got["ref_ts"]), pd.to_datetime(want["ref_ts"]),
        check_names=False)


def test_stream_cms_equals_batch_sketch(spark, stream_dir, tmp_path):
    """CMS linearity: per-micro-batch sketches summed across epochs equal
    the batch sketch of the whole corpus — so heavy-hitter estimates from
    the streamed sketch match the batch estimates exactly."""
    from logpipe_spark.operators.skew import cms_estimate, cms_sketch
    from logpipe_spark.streaming import read_cms

    state = str(tmp_path / "cms_state")
    writer = stream_epochs(
        stream_transcripts(spark, stream_dir, max_files_per_trigger=1),
        lambda df: cms_sketch(df, "conv_id", width=256), state,
        str(tmp_path / "ckc"))
    run_stream_once(writer)

    merged = read_cms(spark, state).select("seed", "bucket", "n")
    batch = spark.read.parquet(stream_dir)
    want = cms_sketch(batch, "conv_id", depth=3, width=256)
    m = {(r.seed, r.bucket): r.n for r in merged.collect()}
    w = {(r.seed, r.bucket): r.n for r in want.collect()}
    assert m == w

    keys = batch.select("conv_id").distinct()
    est_stream = cms_estimate(merged, keys, "conv_id", depth=3, width=256)
    est_batch = cms_estimate(want, keys, "conv_id", depth=3, width=256)
    es = {r.conv_id: r.cms_count for r in est_stream.collect()}
    eb = {r.conv_id: r.cms_count for r in est_batch.collect()}
    assert es == eb


def test_stream_drift_monitor_merges_and_scores(spark, stream_dir, tmp_path):
    """Drift-monitor parity: (1) the merged epoch count partials equal the
    batch per-(tool, value) counts; (2) scoring the accumulated stream
    against its OWN batch distribution gives ks = 0 for every tool;
    (3) against a shifted reference, ks = 1 (disjoint supports)."""
    from logpipe_spark.functions.textfn import token_count
    from logpipe_spark.streaming import drift_partials, read_drift

    state = str(tmp_path / "drift_state")
    writer = stream_epochs(
        stream_transcripts(spark, stream_dir, max_files_per_trigger=1),
        drift_partials, state, str(tmp_path / "ckd"))
    run_stream_once(writer)

    batch_counts = (
        spark.read.parquet(stream_dir)
        .select("tool", token_count(F.col("text")).alias("v"))
        .where(F.col("v").isNotNull())
        .groupBy("tool", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    merged = (spark.read.parquet(state).groupBy("tool", "v")
              .agg(F.sum("c").cast("bigint").alias("c")))
    a = {(r.tool, r.v): r.c for r in merged.collect()}
    b = {(r.tool, r.v): r.c for r in batch_counts.collect()}
    assert a == b and len(a) > 0

    self_score = read_drift(spark, state, batch_counts).collect()
    assert len(self_score) > 0
    assert all(r.ks == 0.0 and r.n_a == r.n_b for r in self_score)

    shifted = batch_counts.withColumn("v", F.col("v") + F.lit(10_000))
    far = read_drift(spark, state, shifted).collect()
    assert all(r.ks == 1.0 for r in far)

    # the SAME state dir serves the Kuiper readout (statistic-agnostic
    # count partials): self-score V = 0; against the shifted reference
    # the stream CDF leads everywhere -> D+ = 1, D- = 0, V = 1
    from logpipe_spark.streaming import read_kuiper

    self_k = read_kuiper(spark, state, batch_counts).collect()
    assert len(self_k) > 0
    assert all(r.kuiper == 0.0 for r in self_k)
    far_k = read_kuiper(spark, state, shifted).collect()
    assert all(r.d_plus == 1.0 and r.d_minus == 0.0 and r.kuiper == 1.0
               for r in far_k)

    # ... and the Hellinger + CvM readouts: self-score is EXACTLY 0
    # (ca == cb at every value -> every term is 0.0); disjoint supports
    # push Hellinger to its upper bound 1 (sum of both masses = 2, up
    # to float-summation epsilon) and CvM strictly positive
    from logpipe_spark.streaming import read_cvm, read_hellinger

    self_h = read_hellinger(spark, state, batch_counts).collect()
    assert len(self_h) > 0
    assert all(r.hellinger == 0.0 for r in self_h)
    far_h = read_hellinger(spark, state, shifted).collect()
    assert all(abs(r.hellinger - 1.0) < 1e-9 for r in far_h)

    self_c = read_cvm(spark, state, batch_counts).collect()
    assert len(self_c) > 0
    assert all(r.cvm == 0.0 for r in self_c)
    far_c = read_cvm(spark, state, shifted).collect()
    assert all(r.cvm > 0.1 for r in far_c)

    # ... and the order-free pair: W1 against the +10k shifted copy is
    # EXACTLY 10000.0 in value units (shift identity, equal sizes);
    # energy is strictly positive there and exactly 0 on self
    from logpipe_spark.streaming import read_energy, read_wasserstein

    self_w = read_wasserstein(spark, state, batch_counts).collect()
    assert len(self_w) > 0
    assert all(r.wasserstein == 0.0 for r in self_w)
    far_w = read_wasserstein(spark, state, shifted).collect()
    assert all(r.wasserstein == 10_000.0 for r in far_w)

    self_e = read_energy(spark, state, batch_counts).collect()
    assert all(r.energy == 0.0 for r in self_e)
    far_e = read_energy(spark, state, shifted).collect()
    assert all(r.energy > 0.0 for r in far_e)

    # L-moments of the accumulated stream == batch l_moments over the
    # raw values (the counts are a lossless sufficient statistic)
    from logpipe_spark.operators.aggregate import l_moments
    from logpipe_spark.streaming import read_l_moments

    stream_lm = {r.tool: r for r in read_l_moments(spark, state).collect()}
    raw = (spark.read.parquet(stream_dir)
           .select("tool", token_count(F.col("text")).alias("v"))
           .where(F.col("v").isNotNull()))
    for r in l_moments(raw, "tool", F.col("v")).collect():
        s = stream_lm[r.tool]
        assert (s.n, s.l1, s.l2, s.l3) == (r.n, r.l1, r.l2, r.l3)


def _run_cusum(spark, src, ck, name, mft):
    from logpipe_spark.streaming.stream import stream_cusum_monitor

    stream = stream_transcripts(spark, src, max_files_per_trigger=mft)
    segs = stream_cusum_monitor(stream, target=8, epoch_seconds=3600,
                                watermark=SOURCE_WATERMARK)
    q = (segs.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180)
    return spark.sql(
        f"SELECT tool, epoch, n, s, m, big_m, g FROM {name}")


def test_stream_cusum_matches_batch_scan(spark, stream_dir, tmp_path):
    """Streaming CUSUM epoch segments fold (read_cusum) into EXACTLY the
    batch cusum_scan readout, at two micro-batch pacings — the streaming
    realization of the cusum_partials/cusum_merge merge==scan proof.
    Flush sentinels must FLOW THROUGH the watermark node to advance it —
    a null-tool sentinel gets filter-pushed below the EventTimeWatermark
    operator and never advances the clock (measured: the last real epoch
    then never fires). So they carry a real tool; their own far-future
    epoch state simply never times out (never emitted), and the batch
    side excludes them by conv_id."""
    import shutil
    import time

    from logpipe_spark.functions.textfn import token_count
    from logpipe_spark.operators.drift import cusum_scan
    from logpipe_spark.streaming.stream import read_cusum

    src = str(tmp_path / "src")
    shutil.copytree(stream_dir, src)
    for i, ts in enumerate(["2024-06-01 00:00:00", "2024-12-01 00:00:00",
                            "2025-06-01 00:00:00"]):
        time.sleep(0.05)
        (spark.createDataFrame(
            [(f"zz-flush-{i}", 0, "user", "flush", "none", ts)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts string")
         .withColumn("ts", F.col("ts").cast("timestamp"))
         .coalesce(1).write.mode("append").parquet(src))

    batch = spark.read.parquet(src).where(
        ~F.col("conv_id").startswith("zz-flush"))
    want = {r.tool: (r.n, r.final_cusum, r.max_cusum, r.alert)
            for r in cusum_scan(
                batch, "tool", token_count(F.col("text")).cast("long"),
                ["ts", "turn_idx"], target=8, threshold=500).collect()}
    # "close the books through the last real epoch": the flush sentinels'
    # own far-future epochs also emit (each flush closes its predecessor)
    cutoff = batch.agg(
        F.max(F.floor(F.col("ts").cast("long") / 3600))).collect()[0][0]

    for i, mft in enumerate((1, 2)):
        segs = _run_cusum(spark, src, str(tmp_path / f"ck{i}"),
                          f"cusum{i}", mft).where(F.col("epoch") <= cutoff)
        # every real (tool, hour-epoch) emitted exactly once
        n_dupes = (segs.groupBy("tool", "epoch").count()
                   .where(F.col("count") > 1).count())
        assert n_dupes == 0, f"mft={mft}: duplicate epoch states"
        got = {r.tool: (r.n, r.final_cusum, r.max_cusum, r.alert)
               for r in read_cusum(segs, threshold=500).collect()}
        assert got == want, f"mft={mft}"


def test_sessions_split_in_batch_gaps(spark, tmp_path):
    """A single-batch drain must still split gap-separated sessions: the
    fold walks sorted in-batch timestamps and closes the open session
    inline whenever the gap is exceeded (before this, the split only
    happened via the event-time timeout — i.e. only when micro-batch
    PACING let the watermark cross the gap, making output
    pacing-dependent)."""
    src = str(tmp_path / "src")
    rows = [("c1", i, "user", "t", "none", f"2024-01-01 00:0{i}:00")
            for i in range(3)]                       # session A: 3 turns
    rows += [("c1", 10 + i, "user", "t", "none", f"2024-01-01 06:0{i}:00")
             for i in range(2)]                      # session B after 6 h
    (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts string")
     .withColumn("ts", F.col("ts").cast("timestamp"))
     .coalesce(1).write.mode("overwrite").parquet(src))

    stream = stream_transcripts(spark, src)          # ONE batch, no flush
    sessions = conversation_sessions(stream, gap_ms=3_600_000,
                                     watermark="10 seconds")
    q = (sessions.writeStream.format("memory").queryName("split_inline")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = spark.sql("SELECT * FROM split_inline").collect()
    # session A closed INLINE by the in-batch gap; B stays open (no
    # watermark past its end) — exactly one emitted session of 3 turns
    assert len(got) == 1 and got[0].n_turns == 3


def test_sessions_split_across_arrow_chunks():
    """Gap-splitting must be chunk-order independent: a group whose
    micro-batch spans multiple Arrow chunks can receive a LATER chunk
    containing OLDER timestamps (>maxRecordsPerBatch rows, or multi-file
    triggers read out of chronological order). The per-chunk sort walked
    the newer chunk first and silently folded the older session into the
    open one — no split. The state fn now buffers all chunks and sorts
    once (round-2 ADVICE, stream.py:115)."""
    import pandas as pd

    from logpipe_spark.streaming.stream import _session_fn_factory

    class FakeState:
        exists = False
        hasTimedOut = False

        def __init__(self):
            self.updated = None

        @property
        def get(self):
            raise AssertionError("state.get on non-existent state")

        def update(self, v):
            self.updated = v

        def setTimeoutTimestamp(self, ts):
            self.timeout = ts

        def getCurrentWatermarkMs(self):
            return 0

    fn = _session_fn_factory(gap_ms=3_600_000)
    # chunk 1 = session B (hour 6, newest), chunk 2 = session A (hour 0):
    # exactly the adversarial delivery order
    chunk_b = pd.DataFrame({"ts": pd.to_datetime(
        ["2024-01-01 06:00:00", "2024-01-01 06:01:00"])})
    chunk_a = pd.DataFrame({"ts": pd.to_datetime(
        ["2024-01-01 00:00:00", "2024-01-01 00:01:00",
         "2024-01-01 00:02:00"])})
    st = FakeState()
    emitted = list(fn(("c1",), iter([chunk_b, chunk_a]), st))
    # session A (3 turns) closed inline; session B (2 turns) left open in
    # state awaiting the event-time timeout
    assert len(emitted) == 1 and int(emitted[0]["n_turns"].iloc[0]) == 3
    n, first_us, last_us = st.updated
    assert n == 2
    assert pd.Timestamp(first_us, unit="us") == pd.Timestamp(
        "2024-01-01 06:00:00")


def test_stream_dedup_incremental_equals_batch(spark, tmp_path):
    """Ingest-time near-dup detection == whole-corpus batch MinHash dedup,
    at two pacings (1 file/trigger and one-shot drain), and a pair is
    emitted exactly once — in the epoch that ingested its later member."""
    from logpipe_spark.streaming import (read_dedup_pairs,
                                         stream_dedup_incremental)
    from logpipe_spark.trainprep.dedup import minhash_lsh_dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base), (2, base.replace("lazy", "sleepy")),
        (3, "completely different words with no overlap whatsoever here"),
        (4, base.replace("quick", "rapid")),
        (5, "unrelated content that matches nothing else in this corpus"),
        (6, base.replace("quick", "rapid") + " indeed"),
    ]
    src = str(tmp_path / "docs_src")
    for i, row in enumerate(rows):  # one file per doc -> 6 epochs at mft=1
        spark.createDataFrame([row], "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(src)
    full = spark.createDataFrame(rows, "doc_id long, text string")
    want = {(r.doc_a, r.doc_b, round(r.jaccard, 9))
            for r in minhash_lsh_dedup(full).collect()}
    assert want  # the planted corpus has near-dups

    for mft, tag in ((1, "paced"), (None, "oneshot")):
        state = str(tmp_path / f"state_{tag}")
        writer = stream_dedup_incremental(
            spark, src, state, str(tmp_path / f"ck_{tag}"),
            max_files_per_trigger=mft)
        run_stream_once(writer)
        got_rows = read_dedup_pairs(spark, state).collect()
        got = {(r.doc_a, r.doc_b, round(r.jaccard, 9)) for r in got_rows}
        assert got == want, tag
        assert len(got_rows) == len(got), "pair emitted twice"


def test_stream_quantiles_equal_batch_sketch(spark, stream_dir, tmp_path):
    """Bottom-k sample monoid: per-epoch sketches merged across the stream
    == the batch sketch of the whole corpus, so sampled quantiles match
    exactly (same selection hash, same rank rule)."""
    from logpipe_spark.functions.textfn import token_count
    from logpipe_spark.operators.aggregate import (quantile_sketch,
                                                   quantile_sketch_estimate)
    from logpipe_spark.streaming import (read_quantiles,
                                         token_quantile_partials)

    state = str(tmp_path / "q_state")
    writer = stream_epochs(
        stream_transcripts(spark, stream_dir, max_files_per_trigger=1),
        lambda df: token_quantile_partials(df, k=32), state,
        str(tmp_path / "ckq"))
    run_stream_once(writer)

    got = {r.tool: (r.p50, r.p90, r.p99, r.n_sample)
           for r in read_quantiles(spark, state, k=32).collect()}
    batch = (spark.read.parquet(stream_dir)
             .withColumn("_v", token_count(F.col("text")).cast("double"))
             .withColumn("_id", F.concat_ws(":", "conv_id", "turn_idx")))
    want_sk = quantile_sketch(batch, "tool", "_v", "_id", k=32)
    want = {r.tool: (r.p50, r.p90, r.p99, r.n_sample)
            for r in quantile_sketch_estimate(want_sk, "tool").collect()}
    assert got == want and len(got) > 0


def test_stream_slo_burn_equals_batch(spark, stream_dir, tmp_path):
    """Minute-count partials merged across epochs == batch slo_burn over
    the full stream (counts are mergeable; windows applied at read)."""
    from logpipe_spark.operators.aggregate import slo_burn
    from logpipe_spark.operators.parse import parse_grok
    from logpipe_spark.streaming import read_slo_burn, slo_partials

    state = str(tmp_path / "slo_state")
    writer = stream_epochs(
        stream_transcripts(spark, stream_dir, max_files_per_trigger=1),
        slo_partials, state, str(tmp_path / "cks"))
    run_stream_once(writer)

    got = sorted(map(tuple, read_slo_burn(spark, state).collect()))
    batch = parse_grok(spark.read.parquet(stream_dir)) \
        .where(F.col("error_kind").isNull())
    want = sorted(map(tuple, slo_burn(batch, "ts", "status").collect()))
    assert got == want and len(got) > 0


def _run_context(spark, src, ck, name, mft, budget):
    from logpipe_spark.streaming.stream import stream_context_overflow

    stream = stream_transcripts(spark, src, max_files_per_trigger=mft)
    out = stream_context_overflow(stream, budget=budget,
                                  watermark=SOURCE_WATERMARK)
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180)
    return spark.sql(
        f"SELECT conv_id, n_turns, total_tokens, overflow_turn,"
        f" tokens_at_overflow FROM {name}")


def test_stream_context_overflow_matches_batch(spark, stream_dir, tmp_path):
    """Streaming per-conv context audit == batch context_growth on the
    drained stream, at two micro-batch pacings. A far-future flush row
    advances the watermark so every real conversation times out and
    emits (same sentinel discipline as the cusum test)."""
    import shutil
    import time

    from logpipe_spark.functions.textfn import token_count
    from logpipe_spark.operators.spans import context_growth

    src = str(tmp_path / "src")
    shutil.copytree(stream_dir, src)
    time.sleep(0.05)
    (spark.createDataFrame(
        [("zz-flush", 0, "user", "flush", "none", "2025-06-01 00:00:00")],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string")
     .withColumn("ts", F.col("ts").cast("timestamp"))
     .coalesce(1).write.mode("append").parquet(src))

    batch = spark.read.parquet(src).where(F.col("conv_id") != "zz-flush")
    want = {r.conv_id: (r.n_turns, r.total_tokens, r.overflow_turn,
                        r.tokens_at_overflow)
            for r in context_growth(
                batch.withColumn(
                    "n_tokens", token_count(F.col("text"), "[^ ]+")),
                budget=64).collect()}
    assert len(want) > 0
    assert any(v[2] is not None for v in want.values()), \
        "fixture too small: no conversation overflows the budget"

    for i, mft in enumerate((1, 3)):
        got_df = _run_context(spark, src, str(tmp_path / f"cck{i}"),
                              f"ctx{i}", mft, budget=64)
        got = {r.conv_id: (r.n_turns, r.total_tokens, r.overflow_turn,
                           r.tokens_at_overflow)
               for r in got_df.collect() if r.conv_id != "zz-flush"}
        assert got == want, f"mft={mft}"


def test_stream_postings_equals_batch_build(spark, tmp_path):
    """Per-epoch postings partials folded by the capped-list monoid ==
    whole-corpus build_postings, at two pacings; an interleaved-id split
    forces the merged caps to interleave across epochs."""
    from logpipe_spark.streaming import postings_partials, read_stream_postings
    from logpipe_spark.trainprep.index import build_postings

    rows = [(i, "alpha beta w%d" % (i % 3)) for i in range(18)]
    src = str(tmp_path / "docs_src")
    # 3 files with interleaved ids -> the 'alpha' cap must merge-sort
    for lo in range(3):
        spark.createDataFrame(
            [r for r in rows if r[0] % 3 == lo],
            "doc_id long, text string",
        ).coalesce(1).write.mode("append").parquet(src)
    full = spark.createDataFrame(rows, "doc_id long, text string")
    want = {(r.word, r.df, r.postings)
            for r in build_postings(full, max_postings=4).collect()}

    for mft, tag in ((1, "paced"), (None, "oneshot")):
        state = str(tmp_path / f"pstate_{tag}")
        writer = stream_epochs(
            _file_stream(spark, "doc_id long, text string", src, mft),
            lambda df: postings_partials(df, max_postings=4), state,
            str(tmp_path / f"pck_{tag}"))
        run_stream_once(writer)
        got = {(r.word, r.df, r.postings)
               for r in read_stream_postings(spark, state,
                                             max_postings=4).collect()}
        assert got == want, tag


def test_stream_rate_autocorr_equals_batch(spark, stream_dir, tmp_path):
    """Bucket-count monoid: per-epoch minute counts summed across the
    stream == batch rate_counts of the whole corpus, so the lag
    correlation readout matches the batch autocorr EXACTLY (same
    integer sufficient stats) at both pacings."""
    from logpipe_spark.operators.aggregate import (autocorr_from_counts,
                                                   rate_counts)
    from logpipe_spark.streaming import read_rate_autocorr

    batch = spark.read.parquet(stream_dir)
    want = sorted(map(tuple, autocorr_from_counts(
        rate_counts(batch, bucket_seconds=60), lags=(1, 2)).collect()))
    assert len(want) == 2

    for mft, tag in ((1, "paced"), (None, "oneshot")):
        state = str(tmp_path / f"rate_state_{tag}")
        writer = stream_epochs(
            stream_transcripts(spark, stream_dir, max_files_per_trigger=mft),
            lambda df: rate_counts(df, bucket_seconds=60), state,
            str(tmp_path / f"ckr_{tag}"))
        run_stream_once(writer)
        got = sorted(map(tuple, read_rate_autocorr(
            spark, state, lags=(1, 2)).collect()))
        assert got == want, tag


def test_stream_partition_health_equals_batch(spark, stream_dir, tmp_path):
    """Feed-health monoid: per-epoch (day, conv) partials merged across
    the stream == the batch health report over the whole corpus —
    counts are SUM-monoids, distinct conversations stay exact because
    the (day, conv) key survives to the readout. Both pacings."""
    from logpipe_spark.streaming import (health_partials, health_report,
                                         read_partition_health)

    batch = spark.read.parquet(stream_dir)
    want = sorted(map(tuple,
                      health_report(health_partials(batch)).collect()))
    assert len(want) >= 1
    assert all(r[1] > 0 for r in want)  # n_rows

    for mft, tag in ((1, "paced"), (None, "oneshot")):
        state = str(tmp_path / f"health_state_{tag}")
        writer = stream_epochs(
            stream_transcripts(spark, stream_dir, max_files_per_trigger=mft),
            health_partials, state, str(tmp_path / f"ckh_{tag}"))
        run_stream_once(writer)
        got = sorted(map(tuple,
                         read_partition_health(spark, state).collect()))
        assert got == want, tag


def test_stream_epochs_replayed_batch_is_idempotent(spark, paced_dir,
                                                    tmp_path):
    """Crash after an epoch's partial write and before its checkpoint
    commit: the restarted monitor replays that batch under the same id,
    which must rewrite its epoch, not add a second copy of its counts."""
    from logpipe_spark.streaming import (health_partials, health_report,
                                         read_partition_health)

    state = str(tmp_path / "health_state")
    ck = tmp_path / "ck"

    def drain():
        run_stream_once(stream_epochs(
            stream_transcripts(spark, paced_dir, max_files_per_trigger=1),
            health_partials, state, str(ck)))

    drain()
    commits = sorted((p for p in (ck / "commits").iterdir()
                      if p.name.isdigit()), key=lambda p: int(p.name))
    assert len(commits) > 1
    last = commits[-1]
    last.unlink()
    (last.parent / f".{last.name}.crc").unlink(missing_ok=True)
    drain()

    assert (ck / "commits" / last.name).is_file()   # the replay committed
    want = sorted(map(tuple, health_report(
        health_partials(spark.read.parquet(paced_dir))).collect()))
    got = sorted(map(tuple, read_partition_health(spark, state).collect()))
    assert got == want


def test_stream_epochs_small_partial_writes_one_file(spark, paced_dir,
                                                     tmp_path):
    """With AQE on (the session default), a small epoch partial is
    coalesced by bytes into one shuffle partition, so each epoch writes
    exactly one parquet file — the file-count bound stream_epochs relies
    on instead of a fixed coalesce."""
    import glob

    from logpipe_spark.streaming import health_partials

    assert spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.enabled") == "true"
    state = str(tmp_path / "health_state")
    run_stream_once(stream_epochs(
        stream_transcripts(spark, paced_dir, max_files_per_trigger=1),
        health_partials, state, str(tmp_path / "ck")))
    epochs = sorted(glob.glob(f"{state}/epoch=*"))
    assert len(epochs) > 1
    for e in epochs:
        files = glob.glob(f"{e}/part-*.parquet")
        assert len(files) == 1, f"{e} wrote {len(files)} files"


def test_stream_golden_record_equals_batch(spark, stream_dir, tmp_path):
    """Survivorship monoid: every per-conv field (counts, first/last,
    latest-non-null-tool argmax struct, exact distinct roles) merges
    across epochs to exactly the batch golden report. Both pacings."""
    from logpipe_spark.streaming import (golden_partials, golden_report,
                                         read_golden_record)

    batch = spark.read.parquet(stream_dir)
    want = sorted(map(tuple,
                      golden_report(golden_partials(batch)).collect()))
    assert len(want) >= 10
    assert any(r[5] is not None for r in want)  # some latest_tool set

    for mft, tag in ((1, "paced"), (None, "oneshot")):
        state = str(tmp_path / f"gr_state_{tag}")
        writer = stream_epochs(
            stream_transcripts(spark, stream_dir, max_files_per_trigger=mft),
            golden_partials, state, str(tmp_path / f"ckg_{tag}"))
        run_stream_once(writer)
        got = sorted(map(tuple,
                         read_golden_record(spark, state).collect()))
        assert got == want, tag


def _run_apdex(spark, src, ck, name, mft):
    from logpipe_spark.streaming.stream import stream_apdex

    stream = stream_transcripts(spark, src, max_files_per_trigger=mft)
    out = stream_apdex(stream, watermark=SOURCE_WATERMARK, sla_scale=120)
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180)
    return spark.sql(f"SELECT * FROM {name}")


def test_stream_apdex_matches_batch(spark, stream_dir, tmp_path):
    """Streaming per-conv Apdex partials, folded by apdex_report, equal
    the batch apdex_by_tool scorecard on the drained stream at two
    micro-batch pacings (counts are SUM monoids; pairs are sorted at
    emit time so pacing cannot reorder them)."""
    import shutil
    import time

    from logpipe_spark.operators.spans import apdex_by_tool
    from logpipe_spark.streaming.stream import apdex_report

    src = str(tmp_path / "src")
    shutil.copytree(stream_dir, src)
    time.sleep(0.05)
    (spark.createDataFrame(
        [("zz-flush", 0, "user", "flush", "none", "2025-06-01 00:00:00")],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string")
     .withColumn("ts", F.col("ts").cast("timestamp"))
     .coalesce(1).write.mode("append").parquet(src))

    batch = spark.read.parquet(src).where(F.col("conv_id") != "zz-flush")
    # sla_scale=120 rebases the ms-scale SLAs onto the fixture's ~60 s
    # turn gaps so all three judgment bands are populated
    want = {r.tool: (r.n_turns, r.n_satisfied, r.n_tolerating, r.apdex)
            for r in apdex_by_tool(batch, sla_scale=120).collect()}
    assert len(want) > 0
    assert any(v[1] > 0 for v in want.values()), \
        "fixture too small: nothing satisfies any SLA"

    for i, mft in enumerate((1, 3)):
        partials = _run_apdex(spark, src, str(tmp_path / f"apck{i}"),
                              f"apdex{i}", mft).where(
            F.col("conv_id") != "zz-flush")
        got = {r.tool: (r.n_turns, r.n_satisfied, r.n_tolerating, r.apdex)
               for r in apdex_report(partials).collect()}
        assert got == want, f"mft={mft}"


def test_stream_freshness_equals_batch(spark, stream_dir, tmp_path):
    """Freshness monoid: per-epoch (key, n, first_us, last_us) partials
    (SUM/MIN/MAX) merged across the stream == the batch freshness_lag
    scorecard over the whole corpus. Both pacings."""
    from logpipe_spark.operators.profile import (freshness_lag,
                                                 freshness_partials)
    from logpipe_spark.streaming import read_freshness

    batch = spark.read.parquet(stream_dir)
    want = sorted(map(tuple, freshness_lag(batch, "role").collect()))
    assert len(want) >= 2
    assert any(r[3] > 0 for r in want)      # some key is stale vs hwm
    assert all(r[1] is not None for r in want)

    for mft, tag in ((1, "paced"), (None, "oneshot")):
        state = str(tmp_path / f"fresh_state_{tag}")
        writer = stream_epochs(
            stream_transcripts(spark, stream_dir, max_files_per_trigger=mft),
            lambda df: freshness_partials(df, "role"), state,
            str(tmp_path / f"ckf_{tag}"))
        run_stream_once(writer)
        got = sorted(map(tuple, read_freshness(spark, state, "role").collect()))
        assert got == want, tag


def test_stream_growth_accounting_equals_batch(spark, stream_dir, tmp_path):
    """Growth-accounting twin: the distinct (conv, week) pair SET is
    the mergeable state — union-distinct across epochs then the batch
    fold == batch growth_accounting over the whole corpus. Both
    pacings."""
    from logpipe_spark.operators.segment import growth_accounting
    from logpipe_spark.streaming import (growth_partials,
                                         read_growth_accounting)

    batch = (spark.read.parquet(stream_dir)
             .where(F.col("conv_id").isNotNull() & F.col("ts").isNotNull())
             .select("conv_id",
                     F.expr("unix_micros(cast(ts AS timestamp)) "
                            "div 604800000000").cast("bigint")
                     .alias("week")))
    want = sorted(map(tuple,
                      growth_accounting(batch, "conv_id", "week").collect()))
    assert len(want) >= 1
    assert sum(r[1] for r in want) > 0     # some new activity

    for mft, tag in ((1, "paced"), (None, "oneshot")):
        state = str(tmp_path / f"ga_state_{tag}")
        writer = stream_epochs(
            stream_transcripts(spark, stream_dir, max_files_per_trigger=mft),
            growth_partials, state, str(tmp_path / f"ckga_{tag}"))
        run_stream_once(writer)
        got = sorted(map(tuple,
                         read_growth_accounting(spark, state).collect()))
        assert got == want, tag


def test_stream_postings_epoch_writes_in_parallel(spark, tmp_path):
    """A vocab-rich epoch partial must NOT funnel through one write
    task: stream_epochs writes the partial's shuffle partitions as they
    are, so a wide partial lands in multiple parquet files per epoch, and
    the merge-on-read fold still equals the batch build."""
    import glob

    from logpipe_spark.streaming import postings_partials, read_stream_postings
    from logpipe_spark.trainprep.index import build_postings

    # 400 distinct words spread the vocab over the shuffle partitions.
    # At sandbox scale AQE's byte-based coalescing would (correctly)
    # fold the tiny exchange to one partition — disable it here to
    # observe the parallelism a production-sized partial would get.
    rows = [(i, " ".join(f"w{(i * 37 + j) % 400}" for j in range(20)))
            for i in range(60)]
    src = str(tmp_path / "wide_docs")
    spark.createDataFrame(rows, "doc_id long, text string") \
        .coalesce(1).write.parquet(src)
    state = str(tmp_path / "wide_state")
    writer = stream_epochs(
        _file_stream(spark, "doc_id long, text string", src),
        lambda df: postings_partials(df, max_postings=4), state,
        str(tmp_path / "wide_ck"))
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                   "false")
    try:
        run_stream_once(writer)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                       "true")
    epochs = glob.glob(f"{state}/epoch=*")
    assert epochs, "no epoch state written"
    files = glob.glob(f"{epochs[0]}/part-*.parquet")
    assert len(files) >= 2, f"epoch wrote {len(files)} file(s); " \
        "expected a parallel (multi-file) write"
    full = spark.createDataFrame(rows, "doc_id long, text string")
    want = {(r.word, r.df, tuple(r.postings))
            for r in build_postings(full, max_postings=4).collect()}
    got = {(r.word, r.df, tuple(r.postings))
           for r in read_stream_postings(spark, state,
                                         max_postings=4).collect()}
    assert got == want


def test_stream_conformal_equals_batch(spark, tmp_path):
    """Residual counts are a lossless sufficient statistic for every
    rank: the accumulated-stream conformal readout must equal the
    batch conformal_interval of the full corpus, at two pacings."""
    from logpipe_spark.operators.aggregate import conformal_interval
    from logpipe_spark.streaming import conformal_partials, read_conformal

    rows = [("k%d" % (i % 3), 100 + (i * 7) % 50, 100 + (i * 11) % 40)
            for i in range(90)]
    src = str(tmp_path / "conf_src")
    for lo in range(3):   # 3 files -> paced run sees 3 epochs
        spark.createDataFrame(
            [r for j, r in enumerate(rows) if j % 3 == lo],
            "g string, y long, yh long",
        ).coalesce(1).write.mode("append").parquet(src)
    full = spark.createDataFrame(rows, "g string, y long, yh long")
    want = {(r.g, r.n_cal, r.target_rank, r.radius)
            for r in conformal_interval(full, "g", "y", "yh",
                                        tiebreak="y").collect()}

    for mft, tag in ((1, "paced"), (None, "oneshot")):
        state = str(tmp_path / f"cstate_{tag}")
        writer = stream_epochs(
            _file_stream(spark, "g string, y long, yh long", src, mft),
            conformal_partials, state, str(tmp_path / f"cck_{tag}"))
        run_stream_once(writer)
        got = {(r.g, r.n_cal, r.target_rank, r.radius)
               for r in read_conformal(spark, state).collect()}
        assert got == want, tag


def test_conformal_from_counts_equals_rows(spark):
    from logpipe_spark.operators.aggregate import (conformal_from_counts,
                                                   conformal_interval)

    rows = [("k", 100 + i % 17, 100) for i in range(60)]
    df = spark.createDataFrame(rows, "g string, y long, yh long")
    a = conformal_interval(df, "g", "y", "yh", tiebreak="y").collect()[0]
    per_r = (df.selectExpr("g", "abs(y - yh) AS r")
             .groupBy("g", "r").agg(F.count(F.lit(1)).alias("c")))
    b = conformal_from_counts(per_r, "g").collect()[0]
    assert (a.n_cal, a.target_rank, a.radius) == \
        (b.n_cal, b.target_rank, b.radius)
