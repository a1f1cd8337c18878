"""CLI surface tests (reference option parity, ``bin/logpipe.js:20-52``)."""

from __future__ import annotations

import json
import re
import subprocess
import sys

from logpipe_spark.cli import apply_transforms, build_parser


def _args(argv):
    return build_parser().parse_args(argv)


def test_filter_select_order(spark, tmp_path):
    from logpipe_spark.synth import synth_transcripts

    t = synth_transcripts(spark, n_turns=500, n_convs=20)
    args = _args(["-i", "x", "--filter", "role:user",
                  "--select", "conv_id,role"])
    out = apply_transforms(t, args)
    assert out.columns == ["conv_id", "role"]
    assert out.filter("role != 'user'").count() == 0
    assert out.count() == t.filter("role = 'user'").count()


def test_filter_regex_and_invert(spark):
    from logpipe_spark.synth import synth_transcripts

    t = synth_transcripts(spark, n_turns=500, n_convs=20)
    args = _args(["-i", "x", "--filter", "text:~ -> 2[0-9][0-9]: "])
    kept = apply_transforms(t, args).count()
    args_inv = _args(["-i", "x", "--filter", "text:~ -> 2[0-9][0-9]: ",
                      "--exclude-matches"])
    dropped = apply_transforms(t, args_inv).count()
    assert kept + dropped == 500 and kept > 0 and dropped > 0


def test_count_by_and_stats_chain(spark):
    from logpipe_spark.synth import synth_transcripts

    t = synth_transcripts(spark, n_turns=500, n_convs=20)
    args = _args(["-i", "x", "--count-by", "role"])
    counts = {r.role: r.turn_count for r in apply_transforms(t, args).collect()}
    assert sum(counts.values()) == 500
    args2 = _args(["-i", "x", "--stats", "role:turn_idx"])
    stats = apply_transforms(t, args2)
    assert {"count", "sum", "min", "max", "avg"} <= set(stats.columns)


def test_hash_field_iterated(spark):
    import hashlib

    from logpipe_spark.synth import synth_transcripts

    t = synth_transcripts(spark, n_turns=20, n_convs=4)
    args = _args(["-i", "x", "--hash-field", "role",
                  "--hash-iterations", "3", "--select", "conv_id,role"])
    row = apply_transforms(t, args).limit(1).collect()[0]

    # reference semantics (worker.js:189-199): each round hashes the
    # previous round's hex string, not the raw digest
    h = row.role
    for _ in range(3):
        h = hashlib.sha256(h.encode("utf-8")).hexdigest()
    assert row.roleHash == h


def test_cli_end_to_end_subprocess(tmp_path):
    """Full process: ndjson in → routed sinks out (the spark-submit path)."""
    src = tmp_path / "in.ndjson"
    rows = [
        {"conv_id": "c1", "turn_idx": 0, "role": "user",
         "text": "GET /api/x -> 200: ok", "tool": "none",
         "ts": "2026-01-01T00:00:00Z"},
        {"conv_id": "c1", "turn_idx": 1, "role": "tool",
         "text": "garbled", "tool": "bash",
         "ts": "2026-01-01T00:00:05Z"},
    ]
    broken = json.dumps({**rows[0], "turn_idx": 2})[:-1]  # no closing brace
    src.write_text("\n".join(json.dumps(r) for r in rows)
                   + "\n" + broken + "\n")
    out = tmp_path / "sinks"
    r = subprocess.run(
        [sys.executable, "-m", "logpipe_spark.cli", "-i", str(src),
         "--route-dir", str(out), "--parallel", "2"],
        capture_output=True, text=True, timeout=300, cwd="/root/repo")
    assert r.returncode == 0, r.stderr[-2000:]
    import pyarrow.parquet as pq

    # every printed per-sink count equals the rows read back from its
    # Hive-style sink=<name> directory
    printed = re.findall(r"^sink (\S+): (\S+) \((\d+) rows\)$", r.stdout,
                         re.MULTILINE)
    assert {name for name, _, _ in printed} == {
        "error", "role_user", "tool_none"}
    for name, path, n in printed:
        assert path == f"{out}/sink={name}"
        assert pq.read_table(path).num_rows == int(n), name
    assert not [p.name for p in out.iterdir() if p.name.startswith("sink_")]

    err = pq.read_table(str(out / "sink=error")).to_pandas()
    assert sorted(zip(err.raw, err.error_kind)) == sorted([
        (broken, "malformed"), (json.dumps(rows[1]), "malformed")])
    # the read-side counter sees only the broken JSON line
    assert "1 of 3 input lines malformed" in r.stderr


def test_cli_csv_quote_escape_skip_subprocess(tmp_path):
    """CLI e2e over a quoted/escaped CSV with a preamble: the full
    csv-parser option surface (sep/quote/escape/skip-lines) reaches the
    reader through the CLI (VERDICT round-1 gap #3)."""
    src = tmp_path / "in.csv"
    src.write_text(
        "# preamble to skip\n"
        "conv_id;turn_idx;role;text;tool;ts\n"
        "c1;0;user;'GET /a -> 200: with ; inside';none;2026-01-01T00:00:00\n"
        "c2;1;tool;'it''s quoted';bash;2026-01-01T00:00:05\n")
    out = tmp_path / "out"
    r = subprocess.run(
        [sys.executable, "-m", "logpipe_spark.cli", "-i", str(src),
         "--format", "csv", "--csv-separator", ";", "--csv-quote", "'",
         "--csv-escape", "'", "--csv-skip-lines", "1",
         "--select", "conv_id,text", "-o", str(out), "--parallel", "2"],
        capture_output=True, text=True, timeout=300, cwd="/root/repo")
    assert r.returncode == 0, r.stderr[-2000:]
    import pyarrow.parquet as pq
    got = pq.read_table(str(out)).to_pandas().set_index("conv_id")
    assert got.loc["c1", "text"] == "GET /a -> 200: with ; inside"
    assert got.loc["c2", "text"] == "it's quoted"


def test_make_pyfiles(tmp_path):
    sys.path.insert(0, "/root/repo/scripts")
    import make_pyfiles

    z = make_pyfiles.build(tmp_path / "lp.zip")
    import zipfile
    names = zipfile.ZipFile(z).namelist()
    assert "logpipe_spark/cli.py" in names
    assert "logpipe_spark/plans/pipeline.py" in names


def test_select_duplicate_subpath_dedupes(spark, tmp_path):
    """--select 'props.a,props.a' must not build a struct with duplicate
    field names (the parquet writer rejects those) — duplicates dedupe
    preserving order (round-2 ADVICE, cli.py:110)."""
    from pyspark.sql import functions as F

    df = spark.range(3).select(
        F.col("id"),
        F.struct(F.col("id").alias("a"), (F.col("id") * 2).alias("b"))
        .alias("props"))
    args = _args(["-i", "x", "--select", "props.a,props.a,props.b,id"])
    out = apply_transforms(df, args)
    assert out.schema["props"].dataType.fieldNames() == ["a", "b"]
    out.write.mode("overwrite").parquet(str(tmp_path / "o"))  # must not raise


def test_cli_profile_report(tmp_path):
    """--profile writes a profile_<ts>.json per-stage wall/CPU/RSS report
    (reference -p/--profile-dir surface, bin/logpipe.js:28,31-32 /
    src/utils/profiler.js:194-226): duration + system info + one entry
    per CLI phase, the sink phase carrying the execution."""
    src = tmp_path / "in.ndjson"
    rows = [
        {"conv_id": f"c{i}", "turn_idx": 0, "role": "user",
         "text": "GET /api/x -> 200: ok", "tool": "none",
         "ts": "2026-01-01T00:00:00Z"}
        for i in range(50)
    ]
    src.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    out = tmp_path / "out"
    pdir = tmp_path / "prof"
    r = subprocess.run(
        [sys.executable, "-m", "logpipe_spark.cli", "-i", str(src),
         "--count-by", "role", "-o", str(out), "--parallel", "2",
         "--profile", "--profile-dir", str(pdir),
         "--profile-interval", "0.2"],
        capture_output=True, text=True, timeout=300, cwd="/root/repo")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "profile report:" in r.stderr
    reports = list(pdir.glob("profile_*.json"))
    assert len(reports) == 1
    rep = json.loads(reports[0].read_text())
    assert rep["duration_s"] > 0
    assert rep["system"]["cpus"] >= 1
    assert rep["system"]["parallelism"] == 2
    assert "spark_version" in rep["system"]
    names = [s["name"] for s in rep["stages"]]
    assert names == ["read_plan", "transform_plan", "sink_execute"]
    by_name = {s["name"]: s for s in rep["stages"]}
    sink = by_name["sink_execute"]
    assert sink["wall_s"] >= 0
    # JVM CPU/RSS deltas recorded for the executing phase (local mode
    # launches the JVM via py4j, so the pid is always resolvable here)
    assert "cpu_user_s" in sink and "rss_peak_mb" in sink
