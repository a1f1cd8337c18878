"""Data-layout pruning evidence: clustered writes produce parquet row-group
statistics a reader can skip on; arrival-order writes do not."""

from __future__ import annotations

from pyspark.sql import functions as F

from logpipe_spark.plans.layout import (overlap_fraction, rowgroup_ranges,
                                        write_clustered)
from logpipe_spark.synth import synth_transcripts


def test_clustered_write_has_prunable_rowgroups(spark, tmp_path):
    t = synth_transcripts(spark, n_turns=20000, n_convs=200)

    arrival = str(tmp_path / "arrival")
    # arrival order: round-robin repartition interleaves conv_ids
    t.repartition(8).write.mode("overwrite").parquet(arrival)
    clustered = str(tmp_path / "clustered")
    write_clustered(t, clustered, ["conv_id", "turn_idx"], n_files=8)

    r_arrival = rowgroup_ranges(arrival, "conv_id")
    r_clustered = rowgroup_ranges(clustered, "conv_id")
    assert len(r_clustered) >= 8
    f_arrival = overlap_fraction(r_arrival)
    f_clustered = overlap_fraction(r_clustered)
    # range clustering → pairwise-disjoint file ranges (boundary rows can
    # share a conv_id across adjacent files, so allow a sliver); arrival
    # order interleaves every key into every file → near-total overlap
    assert f_arrival > 0.9
    assert f_clustered < 0.3

    # rows survive the layout intact
    assert spark.read.parquet(clustered).count() == t.count()


def test_clustered_scan_reads_fewer_rows_via_pushdown(spark, tmp_path):
    """End-to-end: a conv_id point query over the clustered table scans
    fewer input rows than over the arrival-order table (row-group skip),
    observed via the scan's numOutputRows after pushdown."""
    t = synth_transcripts(spark, n_turns=20000, n_convs=200)
    arrival = str(tmp_path / "a2")
    t.repartition(8).write.mode("overwrite").parquet(arrival)
    clustered = str(tmp_path / "c2")
    write_clustered(t, clustered, ["conv_id", "turn_idx"], n_files=8)

    key = t.select("conv_id").first()[0]

    def rows_scanned(path):
        df = spark.read.parquet(path).filter(F.col("conv_id") == key)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan()
        # leaf scan metric: number of rows the parquet reader produced
        # AFTER row-group pruning + predicate pushdown
        leaves = plan.collectLeaves()
        m = leaves.apply(0).metrics()
        return m.apply("numOutputRows").value()

    scanned_clustered = rows_scanned(clustered)
    scanned_arrival = rows_scanned(arrival)
    assert scanned_clustered <= scanned_arrival


def _morton(a, b, bits=16):
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_key_matches_reference_interleave(spark):
    from logpipe_spark.plans.layout import zorder_key

    rows = [(1, 0), (0, 1), (3, 5), (255, 255), (12345, 54321)]
    df = spark.createDataFrame(rows, "a int, b int").select(
        "a", "b", zorder_key(F.col("a"), F.col("b")).alias("z"))
    for r in df.collect():
        assert r.z == _morton(r.a, r.b), (r.a, r.b)


def test_zorder_layout_prunes_on_both_columns(spark, tmp_path):
    """Lexicographic (user, day) clustering leaves `day` unprunable;
    Z-order keeps BOTH columns' row-group ranges tight(er)."""
    from logpipe_spark.plans.layout import (overlap_fraction, rowgroup_ranges,
                                            write_clustered, write_zordered)

    ev = (
        spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        .withColumn("day", F.dayofmonth(F.col("ts").cast("timestamp")))
        .select("user_id", "day", "event_id", "value")
    )
    lex = str(tmp_path / "lex")
    write_clustered(ev, lex, ["user_id", "day"], n_files=16)
    zord = str(tmp_path / "zord")
    write_zordered(ev, zord, "user_id", "day", n_files=16)

    lex_day = overlap_fraction(rowgroup_ranges(lex, "day"))
    z_day = overlap_fraction(rowgroup_ranges(zord, "day"))
    z_user = overlap_fraction(rowgroup_ranges(zord, "user_id"))
    # lexicographic: day interleaved everywhere (near-total overlap);
    # z-order: day substantially tighter AND user_id still clustered
    assert lex_day > 0.8
    assert z_day < 0.6          # measured 0.425 (1.0 lexicographic)
    assert z_user < 0.9         # measured 0.6 — both dims stay prunable
    assert spark.read.parquet(zord).count() == ev.count()


def test_compact_small_files(spark, tmp_path):
    """200 tiny files -> a handful; row set identical; clustered variant
    leaves non-overlapping row-group key ranges (skipping preserved)."""
    from logpipe_spark.plans.layout import (
        compact_small_files, rowgroup_ranges, overlap_fraction,
    )

    p = str(tmp_path / "tiny")
    df = spark.range(0, 20_000).withColumn("k", (F.col("id") * 37) % 1000)
    df.repartition(200).write.parquet(p)
    before = spark.read.parquet(p).groupBy().sum("id", "k").collect()[0]

    stats = compact_small_files(spark, p, target_bytes=1 << 20,
                                sort_cols=["k"])
    assert stats["files_before"] == 200
    assert stats["files_after"] < 20
    after_df = spark.read.parquet(p)
    after = after_df.groupBy().sum("id", "k").collect()[0]
    assert before == after and after_df.count() == 20_000

    import pathlib
    ranges = []
    for f in pathlib.Path(p).rglob("*.parquet"):
        ranges.extend(rowgroup_ranges(str(f), "k"))
    assert overlap_fraction(ranges) <= 0.02   # re-clustered on k


def test_compact_recovers_from_mid_swap_crash(spark, tmp_path):
    """A crash between compact's two renames leaves data only in the
    ._compact_old sibling; the next compact call must restore it before
    doing anything (round-2 ADVICE, layout.py:199)."""
    import os

    from logpipe_spark.plans.layout import compact_small_files

    d = str(tmp_path / "ds")
    t = synth_transcripts(spark, n_turns=2000, n_convs=20)
    t.repartition(8).write.mode("overwrite").parquet(d)
    n = spark.read.parquet(d).count()

    # simulate the crash window: live path absent, data in ._compact_old
    os.rename(d, d + "._compact_old")
    stats = compact_small_files(spark, d, target_bytes=1 << 30)
    assert stats["files_after"] >= 1
    assert spark.read.parquet(d).count() == n


def test_compact_recovers_partitioned_leaf(spark, tmp_path):
    """Same crash window inside ONE leaf of a hive layout: the bak dir
    must be restored (not compacted as if it were a leaf) and its rows
    must survive."""
    import os

    from logpipe_spark.plans.layout import compact_small_files

    d = str(tmp_path / "ds")
    t = synth_transcripts(spark, n_turns=2000, n_convs=20)
    (t.withColumn("part", F.pmod(F.hash("conv_id"), F.lit(2)))
     .repartition(4).write.mode("overwrite").partitionBy("part").parquet(d))
    n = spark.read.parquet(d).count()

    leaf = d + "/part=0"
    os.rename(leaf, leaf + "._compact_old")
    stats = compact_small_files(spark, d, target_bytes=1 << 30)
    assert stats.get("partitions_compacted") == 2
    assert spark.read.parquet(d).count() == n


def test_run_maintenance_one_manifest_entry(spark, tmp_path):
    """r04 verdict item 7: compact + expire run under ONE manifest
    entry; the log records both actions and queries answer identically
    across the boundary."""
    from pyspark.sql import functions as F

    from logpipe_spark.plans.cdc import (read_snapshot, upsert_versioned,
                                         write_versioned)
    from logpipe_spark.plans.maintain import (read_maintenance_log,
                                              run_maintenance)

    vdir = str(tmp_path / "vt")
    rdir = str(tmp_path / "store")
    base = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    write_versioned(spark, base.filter(F.col("k") % 2 == 0), vdir, "k",
                    n_buckets=4)
    upsert_versioned(spark, vdir, base.filter(F.col("k") % 2 == 1), "k")
    base.repartition(16).write.parquet(rdir)
    before_rows = sorted((r.k, r.v) for r in
                         spark.read.parquet(rdir).collect())
    snap_before = sorted((r.k, r.v) for r in
                         read_snapshot(spark, vdir).drop("_bucket")
                         .collect())

    rep = run_maintenance(spark, compact=[rdir], expire=[vdir],
                          keep_last=1, log_dir=str(tmp_path))
    ops = [a["op"] for a in rep["actions"]]
    assert ops == ["compact", "expire_snapshots"]
    c = rep["actions"][0]
    assert c["files_after"] < c["files_before"]
    assert rep["actions"][1]["kept_versions"] == [1]
    # one manifest entry on disk, content == returned report
    log = read_maintenance_log(str(tmp_path))
    assert len(log) == 1 and log[0] == rep
    # physical only: both stores answer identically post-maintenance
    assert sorted((r.k, r.v) for r in
                  spark.read.parquet(rdir).collect()) == before_rows
    assert sorted((r.k, r.v) for r in
                  read_snapshot(spark, vdir).drop("_bucket")
                  .collect()) == snap_before
    # a second pass appends entry m-1
    run_maintenance(spark, compact=[rdir], log_dir=str(tmp_path))
    assert len(read_maintenance_log(str(tmp_path))) == 2


def test_maintain_cli_e2e(tmp_path):
    """The module CLI runs a compaction and prints the manifest entry."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    gen = (
        "import sys; sys.path.insert(0, %r); "
        "from logpipe_spark.session import build_session; "
        "from pyspark.sql import functions as F; "
        "s = build_session(app_name='maint_gen', cpus=2); "
        "s.range(500).select(F.col('id').alias('k')).repartition(12)"
        ".write.parquet(%r); s.stop()"
    ) % (str(repo), str(tmp_path / "files"))
    subprocess.run([sys.executable, "-c", gen], check=True,
                   capture_output=True)
    out = subprocess.run(
        [sys.executable, "-m", "logpipe_spark.plans.maintain",
         "--compact", str(tmp_path / "files"),
         "--log-dir", str(tmp_path), "--parallel", "2"],
        capture_output=True, text=True, cwd=str(repo), check=True)
    entry = json.loads(out.stdout.strip().splitlines()[-1])
    assert entry["actions"][0]["op"] == "compact"
    assert entry["actions"][0]["files_after"] < 12
    assert (tmp_path / "_maintenance" / "m-0.json").exists()


def test_run_maintenance_with_ivf_rebalance(spark, tmp_path):
    """The full triple under one manifest entry: compact + expire +
    IVF rebalance; index answers are identical across the boundary."""
    from pyspark.sql import functions as F

    from logpipe_spark.plans.cdc import upsert_versioned, write_versioned
    from logpipe_spark.plans.maintain import run_maintenance
    from logpipe_spark.trainprep.similarity import (ann_query_index,
                                                    write_ivf_index)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ivf = str(tmp_path / "ivf")
    write_ivf_index(spark, emb, ivf)
    before = sorted(map(tuple, ann_query_index(spark, ivf).collect()))

    vdir = str(tmp_path / "vt")
    base = spark.range(50).select(F.col("id").alias("k"),
                                  (F.col("id") * 2).alias("v"))
    write_versioned(spark, base, vdir, "k", n_buckets=4)
    upsert_versioned(spark, vdir,
                     base.withColumn("v", F.col("v") + 1), "k")
    store = str(tmp_path / "files")
    base.repartition(8).write.parquet(store)

    rep = run_maintenance(spark, compact=[store], expire=[vdir],
                          keep_last=1, ivf=ivf, ivf_max_list_size=16,
                          log_dir=str(tmp_path))
    assert [a["op"] for a in rep["actions"]] == \
        ["compact", "expire_snapshots", "rebalance_ivf"]
    riv = rep["actions"][2]
    assert riv["max_list_rows"] <= 16
    after = sorted(map(tuple, ann_query_index(spark, ivf).collect()))
    assert after == before
