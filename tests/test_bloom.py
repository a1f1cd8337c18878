"""Bloom-pruned join (plans/bloom.py): no false negatives, real pruning,
and the plan shape the 100 TB path depends on — the fact side is filtered
by a broadcast 1-row array BEFORE any key shuffle."""

from __future__ import annotations

from pyspark.sql import functions as F

from logpipe_spark.plans.bloom import (
    bloom_as_array,
    bloom_build,
    bloom_prune,
)
from tests.conftest import SF_TINY

M_BITS = 1 << 16


def test_bloom_superset_of_semijoin_and_prunes(spark):
    li = spark.read.parquet(f"{SF_TINY}/lineitem.parquet")
    dim = spark.read.parquet(f"{SF_TINY}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT")

    pruned = set(
        r[0] for r in bloom_prune(li, dim, "l_orderkey", "o_orderkey",
                                  m_bits=M_BITS, k=3)
        .select("l_orderkey").distinct().collect())
    exact = set(
        r[0] for r in li.join(dim, li.l_orderkey == dim.o_orderkey,
                              "left_semi")
        .select("l_orderkey").distinct().collect())
    total = li.select("l_orderkey").distinct().count()

    # no false negatives: every true match survives the filter
    assert exact <= pruned
    # and it genuinely prunes: FP rate at n~dim, m=2^16, k=3 is tiny
    assert len(pruned) < total
    fp = len(pruned - exact)
    assert fp <= max(5, 0.05 * total), f"{fp} false positives of {total}"


def test_bloom_word_table_mergeable(spark):
    """bit_or-merging two half-dim word tables == building over the union
    (the property that lets per-day filters roll up)."""
    dim = spark.read.parquet(f"{SF_TINY}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT")
    a = dim.filter(F.col("o_orderkey") % 2 == 0)
    b = dim.filter(F.col("o_orderkey") % 2 == 1)
    merged = (
        bloom_build(a, "o_orderkey", M_BITS).unionByName(
            bloom_build(b, "o_orderkey", M_BITS))
        # the params stamp survives the roll-up by grouping on it too
        .groupBy("word_idx", "params").agg(F.bit_or("word").alias("word"))
        .select("word_idx", "word", "params")
    )
    whole = bloom_build(dim, "o_orderkey", M_BITS)
    assert (sorted(map(tuple, merged.collect()))
            == sorted(map(tuple, whole.collect())))


def test_bloom_plan_fact_side_never_shuffles(spark):
    """The pruned fact reaches the filter with NO Exchange upstream of the
    scan: broadcast nested-loop on the 1-row array, codegen filter."""
    li = spark.read.parquet(f"{SF_TINY}/lineitem.parquet")
    dim = spark.read.parquet(f"{SF_TINY}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT")
    pruned = bloom_prune(li, dim, "l_orderkey", "o_orderkey",
                         m_bits=M_BITS, k=3)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # the only exchanges allowed are on the dim->filter build side
    # (explode+groupBy) and the broadcast itself; the fact branch is
    # scan -> filter with no hashpartitioning on l_orderkey
    fact_branch = plan.split("BroadcastNestedLoopJoin")[1]
    assert "hashpartitioning(l_orderkey" not in fact_branch
    # the broadcast 1-row array is driver-local: no Python RDD behind it
    assert "ExistingRDD" not in plan


def test_bloom_array_is_single_row(spark):
    dim = spark.read.parquet(f"{SF_TINY}/orders.parquet").limit(100)
    arr = bloom_as_array(bloom_build(dim, "o_orderkey", M_BITS), M_BITS)
    rows = arr.collect()
    assert len(rows) == 1
    assert len(rows[0]["bloom"]) == M_BITS // 32
    # a LocalRelation, as bloom_as_array's docstring says: broadcasting it
    # ships the driver-side rows through no Python worker
    analyzed = arr._jdf.queryExecution().analyzed().toString()
    assert analyzed.startswith("LocalRelation"), analyzed


def test_bloom_prebuilt_params_mismatch_raises(spark):
    """A persisted filter probed under different hash_fn/m/k must FAIL
    LOUDLY: wrong-hash probes return arbitrary keep/drop decisions
    (including false negatives), never an error on their own. Guards the
    round-3 default flip md5 -> xxhash64 for pre-flip artifacts."""
    import pytest

    from logpipe_spark.plans.bloom import bloom_prune

    dim = spark.read.parquet(f"{SF_TINY}/orders.parquet").limit(50)
    fact = spark.read.parquet(f"{SF_TINY}/orders.parquet")
    arr = bloom_as_array(
        bloom_build(dim, "o_orderkey", M_BITS, hash_fn="md5"), M_BITS)
    with pytest.raises(ValueError, match="built with"):
        bloom_prune(fact, None, "o_orderkey", m_bits=M_BITS,
                    hash_fn="xxhash64", prebuilt=arr)
    # matching params accepted; result equals an inline build
    ok = bloom_prune(fact, None, "o_orderkey", m_bits=M_BITS,
                     hash_fn="md5", prebuilt=arr)
    inline = bloom_prune(fact, dim, "o_orderkey", "o_orderkey",
                         m_bits=M_BITS, hash_fn="md5")
    assert ok.count() == inline.count()
    # mixed-stamp word tables refuse to densify
    mixed = bloom_build(dim, "o_orderkey", M_BITS, hash_fn="md5") \
        .unionByName(bloom_build(dim, "o_orderkey", M_BITS,
                                 hash_fn="xxhash64"))
    with pytest.raises(ValueError, match="mixes build params"):
        bloom_as_array(mixed, M_BITS)
