"""Plan-quality gate over EVERY driver query: the physical plan each query
compiles to must satisfy the invariants the 100 TB design depends on —
independent of whether the answer is right (oracle parity checks that).

Invariants:
- no CartesianProduct anywhere (an unkeyed join that survived to the plan);
- no BatchEvalPython (row-at-a-time Python UDF — the input_hint forbids it;
  Arrow-vectorized forms ArrowEvalPython / FlatMapGroupsInPandas /
  MapInPandas are the allowed Python surfaces);
- every parquet scan carries a pruned ReadSchema (the scan node exists —
  i.e. the query didn't collapse to a LocalTableScan of collected rows);
- no RDD scan over a Python RDD in any query: a Python-list
  ``createDataFrame`` (or a failed Arrow conversion falling back to one)
  plans one, and every broadcast of it runs a Python job; outside the
  MATERIALIZED and CHECKPOINTED queries no Scan ExistingRDD at all.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_TINY

QUERIES = entrymod.queries()

FORBIDDEN = [
    "CartesianProduct",
    "BatchEvalPython",   # row-at-a-time Python UDF
]

# Queries that MUST return a localCheckpoint: they build a temp
# side-table (persisted band index / versioned CDC table) inside the
# call and delete it before returning, so the returned frame is an
# ExistingRDD scan by construction. Their REAL (lazy) plans are held to
# the same invariants in test_materialized_queries_lazy_plans below.
MATERIALIZED = {"dedup_incremental", "read_changes", "read_changes_evo",
                "mv_incremental", "ann_index_incr", "ann_rebalanced",
                "postings_incremental", "bradley_terry",
                "post_maintenance"}

# Queries whose plans read a localCheckpoint(eager=True) taken inside the
# call (the connected-components rounds of curate.dup_clusters truncate
# their lineage per round): Scan ExistingRDD over a materialized RDD, not
# a Python one, which python_rdd_scans tells apart.
CHECKPOINTED = {"dup_clusters", "dup_cluster_sizes", "dedup_keep_list",
                "curation_funnel"}


@pytest.mark.parametrize("name", sorted(QUERIES.keys()))
def test_plan_invariants(name, query_builds):
    plan = query_builds.plan(name)
    for bad in FORBIDDEN:
        assert bad not in plan, f"{name}: forbidden operator {bad} in plan"
    assert query_builds.python_rdd_scans(name) == 0, (
        f"{name}: scan over a Python RDD (build driver-side rows with "
        "session.local_frame)")
    if name in MATERIALIZED:
        assert "ExistingRDD" in plan
        return
    if name not in CHECKPOINTED:
        assert "ExistingRDD" not in plan, (
            f"{name}: Scan ExistingRDD in plan (a Python-RDD frame or a "
            "checkpoint on the query path)")
    # every query ultimately reads the driver parquet tables
    assert "Scan parquet" in plan or "FileScan parquet" in plan, (
        f"{name}: no parquet scan in plan (driver-side materialization?)")


def test_pipeline_plans_broadcast_a_local_dimension(spark, tmp_path,
                                                    monkeypatch):
    """Both benchmarked plans (the frame run_pipeline_fanout writes, and
    flagship_summary) broadcast the lookup dimension from a LocalTableScan
    and hold no Python RDD: no Python-worker job runs in either."""
    from pyspark.sql.readwriter import DataFrameWriter

    from logpipe_spark.plans.pipeline import (flagship_summary,
                                              run_pipeline_fanout)
    from logpipe_spark.transcripts import derive_transcripts

    written = []
    parquet = DataFrameWriter.parquet

    def recording_parquet(self, path, *args, **kwargs):
        written.append(
            self._df._jdf.queryExecution().executedPlan().toString())
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording_parquet)
    transcripts = derive_transcripts(spark, SF_TINY)
    out = run_pipeline_fanout(spark, transcripts, str(tmp_path / "sinks"))
    assert len(written) == 1
    plans = {
        "fanout write": written[0],
        "agg_conv_spans": out["agg_conv_spans"]._jdf.queryExecution()
        .executedPlan().toString(),
        "flagship_summary": flagship_summary(spark, transcripts)._jdf
        .queryExecution().executedPlan().toString(),
    }
    for name, plan in plans.items():
        assert "ExistingRDD" not in plan, f"{name}: Python RDD in plan"
        # the broadcast's build side is the LocalTableScan itself
        assert re.search(r"BroadcastExchange .*\n *\+- LocalTableScan",
                         plan), f"{name}: lookup broadcast not a local scan"


@pytest.mark.parametrize("name", ["top_ngrams", "top_paths",
                                  "blame_suppliers", "returned_revenue",
                                  "topn_with_other", "join_fanout_audit",
                                  "common_neighbors", "bpe_pair_counts",
                                  "phrase_search", "conv_similar_pairs"])
def test_global_topk_is_take_ordered(name, query_builds):
    """The corpus-cardinality top-k queries must compile to a distributed
    TakeOrderedAndProject (per-partition partial top-k), NOT an
    unpartitioned rank window over the full count frame: the only Window
    allowed is the k-row ranking ABOVE the TakeOrderedAndProject."""
    plan = query_builds.plan(name)
    assert "TakeOrderedAndProject" in plan, (
        f"{name}: global top-k did not compile to TakeOrderedAndProject")
    take_at = plan.index("TakeOrderedAndProject")
    # plans print top-down: the only UNPARTITIONED Window allowed is the
    # k-row rank ABOVE the take. Below the take, partitioned windows are
    # fine (e.g. derive_transcripts' per-user sequencing) — what must
    # never appear is a global (no-partition) rank over the full count
    # frame, which WindowExec funnels into ONE task. A partitioned
    # Window line prints THREE bracket groups (defs, partition cols,
    # order cols); an unpartitioned one prints two.
    for line in plan[take_at:].splitlines():
        if "Window [" not in line:
            continue
        assert line.count("], [") >= 2, (
            f"{name}: unpartitioned Window below TakeOrderedAndProject "
            f"(global rank over the pre-limit count frame): {line.strip()}")


def test_materialized_queries_lazy_plans(spark, tmp_path):
    """The pre-checkpoint plans of the MATERIALIZED queries, built
    against a live (not-yet-deleted) side table, satisfy the same
    invariants as everything else."""
    from pyspark.sql import functions as F

    from logpipe_spark.plans import cdc
    from logpipe_spark.trainprep import dedup as dd

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    half_a = docs.where(F.col("doc_id") % 2 == 0)
    half_b = docs.where(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "band_index")
    dd.write_band_index(spark, half_a, idx)
    incr = dd.dedup_incremental(spark, half_b, idx, half_a,
                                update_index=False)

    orders = spark.read.parquet(f"{SF_TINY}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderstatus")
    tbl = str(tmp_path / "cdc")
    cdc.write_versioned(spark, orders, tbl, "o_orderkey", n_buckets=4)
    cdc.upsert_versioned(
        spark, tbl,
        orders.limit(5).withColumn("o_totalprice",
                                   F.col("o_totalprice") + 1.0),
        "o_orderkey")
    changes = cdc.read_changes(spark, tbl, 0, 1)

    # the persisted IVF index (ann_index_incr / ann_rebalanced): hold the
    # PRE-checkpoint ann_query_index plan, built against a live index, to
    # the same gate as everything else
    from logpipe_spark.trainprep import similarity as sim

    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    ivf = str(tmp_path / "ivf")
    sim.write_ivf_index(spark, emb.where(F.col("vec_id") % 2 == 0), ivf)
    sim.append_ivf_index(spark, emb.where(F.col("vec_id") % 2 == 1), ivf)
    sim.rebalance_ivf_index(spark, ivf, max_list_size=16)
    ivf_query = sim.ann_query_index(spark, ivf)

    # incremental MV refresh over that same changelog: the lazy refreshed
    # frame (null-safe full-outer delta join) gets the FORBIDDEN gate too
    from logpipe_spark.plans.mv import mv_apply_changes, mv_build

    mv0 = mv_build(cdc.read_snapshot(spark, tbl, 0).drop("_bucket"),
                   ["o_orderstatus"], "o_totalprice")
    mv1 = mv_apply_changes(mv0, changes, ["o_orderstatus"],
                           "o_totalprice")

    # the persisted postings index: hold the PRE-checkpoint read_postings
    # plan, built against a live merged index, to the same gate
    from logpipe_spark.trainprep.index import (
        append_postings_index, read_postings, write_postings_index)

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    pidx = str(tmp_path / "postings")
    write_postings_index(spark, docs.where(F.col("doc_id") % 2 == 0), pidx)
    append_postings_index(spark, docs.where(F.col("doc_id") % 2 == 1), pidx)
    postings_query = read_postings(spark, pidx)

    # bradley_terry's MM rounds localCheckpoint the item frames (plan
    # truncation); the FULL lazy plan (materialize=False) gets the gate
    from logpipe_spark.operators.graph import bradley_terry

    bt_pairs = spark.createDataFrame(
        [("a", "b")] * 2 + [("b", "c")], "winner string, loser string")
    bt_lazy = bradley_terry(bt_pairs, iters=2, materialize=False)

    # post_maintenance's pre-checkpoint aggregate across maintained
    # stores (compact + expire under one manifest entry) gets the gate
    from logpipe_spark.plans.maintain import run_maintenance

    store = str(tmp_path / "store")
    orders.select("o_orderkey", "o_totalprice").repartition(8) \
        .write.parquet(store)
    run_maintenance(spark, compact=[store], expire=[tbl], keep_last=2,
                    log_dir=str(tmp_path))
    snap = cdc.read_snapshot(spark, tbl).drop("_bucket")
    rv = spark.read.parquet(store).select(
        F.col("o_orderkey").alias("k2"),
        F.col("o_totalprice").alias("tp"))
    maint_lazy = (snap.join(rv, snap.o_orderkey == rv.k2, "left")
                  .groupBy("o_orderstatus")
                  .agg(F.count(F.lit(1)).alias("n")))

    for name, df in (("dedup_incremental", incr), ("read_changes", changes),
                     ("mv_incremental", mv1),
                     ("ann_query_index", ivf_query),
                     ("bradley_terry_lazy", bt_lazy),
                     ("post_maintenance_lazy", maint_lazy),
                     ("read_postings", postings_query)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        for bad in FORBIDDEN:
            assert bad not in plan, f"{name}: forbidden {bad}"
    # the IVF query's lazy plan scans the index parquet (lists pruned by
    # the probed-label literal filter)
    ivf_plan = ivf_query._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in ivf_plan or "FileScan parquet" in ivf_plan
    # read_changes' lazy plan scans the versioned parquet directly
    changes_plan = changes._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in changes_plan or "FileScan parquet" in changes_plan
    # dedup_incremental checkpoints its fan-out frames BY DESIGN (plan
    # truncation, see dedup.py lineage discipline) — its verify plan reads
    # those checkpointed intermediates; the parquet-scan evidence for the
    # bucket-pruned index probe is the incremental==batch oracle match.
    incr_plan = incr._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in incr_plan
