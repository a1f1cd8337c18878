"""End-to-end pipeline tests (SURVEY.md §5.2 layers 2–5): routed-row
equality against a pandas oracle, error corpus routing, checkpoint/resume,
and skew-salting equivalence."""

from __future__ import annotations

import json
from collections import Counter
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logpipe_spark.operators.router import route_single_pass, standard_rules
from logpipe_spark.operators.skew import (salted_conv_spans,
                                          salted_count_by, salted_stats_by)
from logpipe_spark.plans.checkpoint import Stage, is_committed, read_manifest, run_stages
from logpipe_spark.plans.pipeline import run_pipeline_fanout
from logpipe_spark.synth import synth_transcripts
from logpipe_spark.transcripts import ROLES, TOOLS


@pytest.fixture(scope="module")
def corpus(spark):
    return synth_transcripts(spark, n_turns=4000, n_convs=80,
                             error_every=20, hot_conv_fraction=0.3)


@pytest.fixture(scope="module")
def fanout(spark, corpus, tmp_path_factory):
    """run_pipeline_fanout's outputs plus its sinks read back as one table."""
    base = str(tmp_path_factory.mktemp("fanout"))
    out = run_pipeline_fanout(spark, corpus, base)
    return out, spark.read.parquet(base)


def _keys(df):
    return sorted(zip(df.conv_id, df.turn_idx))


def test_routed_row_equality(spark, corpus, fanout):
    """Every written sink's rows equal the pandas oracle's routed set
    (sorted sets), and so do the agg_per_sink counts."""
    out, written = fanout
    pdf = corpus.toPandas()
    blank = pdf.text.str.strip() == ""
    malformed = ~blank & ~pdf.text.str.contains(" -> ", regex=False)
    clean = pdf[~(blank | malformed)]

    want = {"error": pdf[blank | malformed], "overflow": clean.iloc[:0]}
    want |= {f"tool_{t}": clean[clean.tool == t] for t in TOOLS}
    want |= {f"role_{r}": clean[clean.role == r] for r in ROLES}
    rule_names = {r.name for r in standard_rules(list(TOOLS), list(ROLES))}
    assert set(want) == rule_names | {"error", "overflow"}

    got = written.select("sink", "conv_id", "turn_idx").toPandas()
    assert set(got.sink) <= set(want)
    for name, rows in want.items():
        assert _keys(got[got.sink == name]) == _keys(rows), f"sink {name}"

    counts = {r.sink: r.turn_count for r in out["agg_per_sink"].collect()}
    assert counts == {k: len(v) for k, v in want.items() if len(v)}

    # per-turn text equality under stable (conv_id, turn_idx) ordering
    got_txt = (written.filter(F.col("sink") == "role_user")
               .orderBy("conv_id", "turn_idx")
               .select("text").toPandas().text.tolist())
    want_txt = (clean[clean.role == "user"]
                .sort_values(["conv_id", "turn_idx"]).text.tolist())
    assert got_txt == want_txt

    from logpipe_spark.plans.pipeline import enrich_stage, parse_stage

    enriched = enrich_stage(spark, parse_stage(corpus))
    assert set(written.columns) == set(enriched.columns) | {"sink"}


def test_overflow_sink_empty_when_rules_cover(fanout):
    out, written = fanout
    # tools+roles rules cover every clean row → overflow empty, no directory
    assert "overflow" not in {r.sink for r in out["agg_per_sink"].collect()}
    assert written.filter(F.col("sink") == "overflow").count() == 0
    assert not (Path(out["sink_dir"]) / "sink=overflow").exists()


def test_fanout_empty_input(spark, tmp_path):
    """An empty source writes no sink and returns empty aggregates (the
    sinks are read back with an explicit schema; inferring one from an
    empty directory fails)."""
    from logpipe_spark.schemas import TRANSCRIPT_SCHEMA

    base = tmp_path / "sinks"
    out = run_pipeline_fanout(
        spark, spark.createDataFrame([], TRANSCRIPT_SCHEMA), str(base))
    assert out["agg_per_sink"].collect() == []
    assert out["agg_conv_spans"].collect() == []
    assert not list(base.glob("sink=*"))


def test_ndjson_malformed_line_routes_to_error_as_malformed(spark, tmp_path):
    """A JSON line the reader cannot parse keeps the reader's 'malformed'
    through parse and lands in sink=error (its NULL text must not turn it
    into 'blank')."""
    from logpipe_spark.schemas import TRANSCRIPT_SCHEMA
    from logpipe_spark.sources import read_ndjson

    src = tmp_path / "in.ndjson"
    good = {"conv_id": "c1", "turn_idx": 0, "role": "user",
            "text": "GET /a -> 200: ok", "tool": "none",
            "ts": "2026-01-01T00:00:00Z"}
    broken = json.dumps({**good, "turn_idx": 1})[:-1]   # no closing brace
    src.write_text(json.dumps(good) + "\n" + broken + "\n")
    base = tmp_path / "sinks"
    run_pipeline_fanout(spark, read_ndjson(spark, str(src), TRANSCRIPT_SCHEMA),
                        str(base))
    err = spark.read.parquet(str(base / "sink=error")).collect()
    assert [(r.raw, r.error_kind) for r in err] == [(broken, "malformed")]
    routed = spark.read.parquet(str(base)).filter(F.col("sink") != "error")
    assert {r.turn_idx for r in routed.collect()} == {0}


def test_checkpoint_resume_skips_committed(spark, corpus, tmp_path):
    calls = {"parse": 0, "clean": 0}

    def parse_stage(s, df):
        calls["parse"] += 1
        from logpipe_spark.plans.pipeline import parse_stage as ps
        return ps(df)

    def clean_stage(s, df):
        calls["clean"] += 1
        return df.filter(F.col("error_kind").isNull())

    def agg_stage(s, df):
        return df.groupBy("tool").agg(F.count(F.lit(1)).alias("n"))

    stages = [Stage("parse", parse_stage), Stage("clean", clean_stage),
              Stage("agg", agg_stage)]
    base = str(tmp_path / "ckpt")

    r1 = run_stages(spark, stages, base, source=corpus)
    assert [r.skipped for r in r1] == [False, False, False]
    assert calls == {"parse": 1, "clean": 1}
    m = read_manifest(base, "parse")
    assert m["status"] == "committed" and m["rows"] == 4000
    assert m["partitions"] and all(p["rows"] >= 0 for p in m["partitions"])
    assert sum(p["rows"] for p in m["partitions"]) == m["rows"]

    # resume: everything committed → all skipped, stage fns not re-invoked
    r2 = run_stages(spark, stages, base, source=corpus)
    assert [r.skipped for r in r2] == [True, True, True]
    assert calls == {"parse": 1, "clean": 1}
    a1 = {r.tool: r.n for r in r1[-1].df.collect()}
    a2 = {r.tool: r.n for r in r2[-1].df.collect()}
    assert a1 == a2


def test_checkpoint_kill_midway_reruns_cleanly(spark, corpus, tmp_path):
    base = str(tmp_path / "ckpt2")

    def parse_stage(s, df):
        from logpipe_spark.plans.pipeline import parse_stage as ps
        return ps(df)

    boom = {"on": True}

    def flaky(s, df):
        if boom["on"]:
            raise RuntimeError("simulated executor loss")
        return df.filter(F.col("error_kind").isNull())

    stages = [Stage("parse", parse_stage), Stage("clean", flaky)]
    with pytest.raises(RuntimeError):
        run_stages(spark, stages, base, source=corpus)
    assert is_committed(base, "parse")
    assert not is_committed(base, "clean")

    boom["on"] = False
    r = run_stages(spark, stages, base, source=corpus)
    assert [x.skipped for x in r] == [True, False]
    assert r[-1].rows == r[0].rows - corpus.filter(
        (F.trim("text") == "") | F.col("text").startswith("garbled")).count()


def test_salted_aggregates_match_unsalted(spark, corpus):
    plain = {r.conv_id: r["count"] for r in
             corpus.groupBy("conv_id").agg(
                 F.count(F.lit(1)).alias("count")).collect()}
    salted = {r.conv_id: r["count"] for r in
              salted_count_by(corpus, "conv_id", F.col("turn_idx")).collect()}
    assert plain == salted
    # hot conversation really is hot (30% of rows)
    assert plain["conv-000000"] == 1200

    ps = (corpus.withColumn("_v", F.length("text").cast("double"))
          .groupBy("role").agg(F.count("_v").alias("count"),
                               F.sum("_v").alias("sum"),
                               F.min("_v").alias("min"),
                               F.max("_v").alias("max"),
                               F.avg("_v").alias("avg")))
    ss = salted_stats_by(corpus, "role", F.length("text"), F.col("turn_idx"))
    p = {r.role: (r["count"], r["sum"], r["min"], r["max"]) for r in ps.collect()}
    s = {r.role: (r["count"], r["sum"], r["min"], r["max"]) for r in ss.collect()}
    assert p == s

    spans_p = {r.conv_id: (r.n_turns, r.first_ts, r.last_ts) for r in
               corpus.groupBy("conv_id").agg(
                   F.count(F.lit(1)).alias("n_turns"),
                   F.min("ts").alias("first_ts"),
                   F.max("ts").alias("last_ts")).collect()}
    spans_s = {r.conv_id: (r.n_turns, r.first_ts, r.last_ts) for r in
               salted_conv_spans(corpus).collect()}
    assert spans_p == spans_s


def test_flagship_approx_within_tolerance(spark, corpus):
    """The md5-register HLL estimate stays within rsd of the exact count,
    and its plan drops the per-distinct-key dedup aggregate countDistinct
    needs (the register table caps at 2**p rows per group)."""
    from logpipe_spark.plans.pipeline import flagship_summary

    exact = flagship_summary(spark, corpus).toPandas()
    approx = flagship_summary(spark, corpus, approx_distinct=True).toPandas()
    e = exact.sort_values(["role", "tool"]).reset_index(drop=True)
    a = approx.sort_values(["role", "tool"]).reset_index(drop=True)
    assert (e.turn_count == a.turn_count).all()
    rel = (a.n_convs - e.n_convs).abs() / e.n_convs.clip(lower=1)
    assert (rel <= 0.1).all(), rel.max()

    # exact countDistinct needs extra (group ∪ conv_id)-keyed dedup
    # aggregate levels the HLL register plan does not (its sketch
    # aggregates at (group, reg) granularity — ≤ 2**p rows per group)
    plan_exact = flagship_summary(spark, corpus)._jdf.queryExecution() \
        .executedPlan().toString()
    plan_approx = flagship_summary(spark, corpus, approx_distinct=True) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "count(distinct" in plan_exact
    assert "count(distinct" not in plan_approx
    assert "approx_count_distinct" not in plan_approx  # engine-private HLL++
    assert "md5" in plan_approx  # deterministic register sketch
    # exact mode's dedup aggregate Expands every row per distinct key;
    # the register plan has MORE aggregate nodes (sketch + estimate +
    # stats + join) but each shuffles ≤ 2**p rows per group — the win is
    # shuffle WIDTH, not node count, so assert the Expand is gone
    assert "Expand" not in plan_approx


def test_selective_salting_hot_keys_only(spark, corpus):
    """Selective salting: results equal the plain groupBy; the salted path
    is applied ONLY to detected hot keys (cold keys keep salt 0, i.e. the
    single-shuffle-equivalent plan)."""
    from logpipe_spark.operators.skew import (heavy_keys,
                                              selective_salted_count_by,
                                              with_selective_salt)

    hot = heavy_keys(corpus, "conv_id", min_fraction=0.05)
    hot_ids = {r.conv_id for r in hot.collect()}
    assert hot_ids == {"conv-000000"}          # 30% hot conversation detected

    salted = with_selective_salt(corpus, "conv_id", F.col("turn_idx"),
                                 hot.select("conv_id"), buckets=8)
    per_key = {r.conv_id: r.n_salts for r in
               salted.groupBy("conv_id")
               .agg(F.countDistinct("_salt").alias("n_salts")).collect()}
    assert per_key["conv-000000"] > 1          # hot key spreads over buckets
    assert all(n == 1 for k, n in per_key.items() if k not in hot_ids)

    plain = {r.conv_id: r["count"] for r in
             corpus.groupBy("conv_id").agg(
                 F.count(F.lit(1)).alias("count")).collect()}
    sel = {r.conv_id: r["count"] for r in
           selective_salted_count_by(
               corpus, "conv_id", F.col("turn_idx"),
               min_fraction=0.05).collect()}
    assert plain == sel

    # sampled detection path: deterministic seed, still catches the hot key
    hot_sampled = heavy_keys(corpus, "conv_id", min_fraction=0.05,
                             sample_fraction=0.5)
    assert "conv-000000" in {r.conv_id for r in hot_sampled.collect()}


def test_heavy_key_detection(spark, corpus):
    from logpipe_spark.operators.skew import heavy_keys

    hot = {r.conv_id for r in heavy_keys(corpus, "conv_id", 0.05).collect()}
    assert hot == {"conv-000000"}


def test_null_rule_columns_land_in_overflow(spark):
    """Rows whose rule columns are NULL must not vanish — they belong to
    overflow (three-valued-logic regression test)."""
    df = spark.createDataFrame(
        [("c1", 0, "user", "hi", "bash", None),
         ("c2", 0, None, "yo", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, error_kind string")
    exploded = route_single_pass(df, standard_rules(["bash"], ["user"]))
    # the null-role/null-tool row lands in overflow and nowhere else
    assert Counter(r.sink for r in exploded.collect()) == {
        "overflow": 1, "tool_bash": 1, "role_user": 1}
    sinks = {r.sink for r in exploded.filter("conv_id = 'c2'").collect()}
    assert sinks == {"overflow"}


def test_sink_quota_overflow(spark, corpus):
    """Rows beyond a sink's quota re-route to overflow, deterministically
    (first-N under (conv_id, turn_idx) ordering stay)."""
    from logpipe_spark.operators.router import apply_sink_quotas
    from logpipe_spark.plans.pipeline import (PipelineConfig, enrich_stage,
                                              parse_stage)

    cfg = PipelineConfig()
    enriched = enrich_stage(spark, parse_stage(corpus, cfg), cfg)
    exploded = route_single_pass(enriched, standard_rules(list(TOOLS),
                                                          list(ROLES)))
    before = {r.sink: r.n for r in exploded.groupBy("sink")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    quota = 50
    after_df = apply_sink_quotas(exploded, {"tool_bash": quota})
    after = {r.sink: r.n for r in after_df.groupBy("sink")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert after["tool_bash"] == quota
    assert after.get("overflow", 0) == before["tool_bash"] - quota
    assert after["role_user"] == before["role_user"]  # unlimited untouched
    # deterministic keep-set: first N under (conv_id, turn_idx)
    kept = sorted(map(tuple, after_df.filter("sink = 'tool_bash'")
                      .select("conv_id", "turn_idx").collect()))
    want = sorted(map(tuple, exploded.filter("sink = 'tool_bash'")
                      .select("conv_id", "turn_idx").collect()))[:quota]
    assert kept == want


def test_ann_lsh_and_ivf_recall(spark):
    """Approximate ANN paths: recall@k vs the brute-force baseline stays
    above the expected fan-in/recall tradeoff floor."""
    from logpipe_spark.trainprep.similarity import (ann_bruteforce_topk,
                                                    ann_ivf_topk,
                                                    ann_lsh_topk)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = ann_bruteforce_topk(emb, k=5).toPandas()
    truth = {q: set(g.neighbor_id) for q, g in exact.groupby("query_id")}

    def recall(approx_pdf):
        got = {q: set(g.neighbor_id) for q, g in approx_pdf.groupby("query_id")}
        hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
        return hits / sum(len(v) for v in truth.values())

    for name, approx in [("lsh", ann_lsh_topk(emb, k=5).toPandas()),
                         ("ivf", ann_ivf_topk(emb, k=5).toPandas())]:
        r = recall(approx)
        # sign-bit LSH on 6 dims / probe-1 IVF over random clusters trade
        # most recall for fan-in on THIS unclustered corpus; the test pins
        # the behavior (non-zero, sane) rather than a production SLO
        assert 0.02 <= r <= 1.0, f"{name} recall {r}"

    # multi-probe: recall non-decreasing in probes (candidate supersets),
    # strictly better than probe-1 by the widest setting on both paths
    lsh_r = [recall(ann_lsh_topk(emb, k=5, probes=p).toPandas())
             for p in (1, 3, 5)]
    assert lsh_r == sorted(lsh_r), lsh_r
    assert lsh_r[-1] > lsh_r[0], lsh_r
    ivf_r = [recall(ann_ivf_topk(emb, k=5, probes=p).toPandas())
             for p in (1, 2, 4)]
    assert ivf_r == sorted(ivf_r), ivf_r
    assert ivf_r[-1] > ivf_r[0], ivf_r
