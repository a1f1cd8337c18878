"""One-shot table maintenance: compact + expire + rebalance under one
manifest entry.

The engine accreted maintenance primitives in three modules —
small-file compaction (`plans/layout.py:compact_small_files`, the
Iceberg `rewrite_data_files` analog), snapshot expiry
(`plans/cdc.py:expire_snapshots`, the `expire_snapshots` analog) and
IVF list rebalancing (`trainprep/similarity.py:rebalance_ivf_index`,
the ANN-index form of compaction). A production deployment runs them
as ONE periodic job, not three ad-hoc scripts, and wants a single
auditable record per pass: what ran, on what, what it did, and that
queries are unaffected. :func:`run_maintenance` is that job;
``python -m logpipe_spark.plans.maintain`` is its CLI.

Each pass appends one JSON manifest entry ``m-<seq>.json`` under
``<log_dir>/_maintenance/`` (crash-safe tmp-write + ``os.replace``,
the checkpoint.py discipline). The entry is metadata-sized: per-action
reports (files before/after, versions expired, split rounds) plus
wall-clock — the lineage a scheduler or an auditor reads instead of
Spark logs.

Invariant (driver-proven): maintenance touches PHYSICAL layout only —
every query answers identically before and after a pass. The
``post_maintenance`` driver query runs the same aggregate across a
compaction + expiry boundary against an oracle that never sees the
maintained copies.

Reference seam: the reference (vellascogabriel/logpipe) streams
NDJSON and keeps no persisted tables, so it has no maintenance story
at all; this is table-format lifecycle capability the 100 TB target
requires.
"""

from __future__ import annotations

import json
import os
import time
from typing import Sequence

from pyspark.sql import SparkSession


def _append_manifest(log_dir: str, entry: dict) -> None:
    """Write ``entry`` as the next ``m-<seq>.json``, recording that path
    as ``entry["manifest_path"]`` first so disk and caller agree."""
    mdir = os.path.join(log_dir, "_maintenance")
    os.makedirs(mdir, exist_ok=True)
    seqs = [int(f[2:-5]) for f in os.listdir(mdir)
            if f.startswith("m-") and f.endswith(".json")]
    seq = (max(seqs) + 1) if seqs else 0
    final = os.path.join(mdir, f"m-{seq}.json")
    entry["manifest_path"] = final
    tmp = final + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(entry, fh, indent=1, sort_keys=True)
    os.replace(tmp, final)


def run_maintenance(
    spark: SparkSession,
    *,
    compact: Sequence[str] = (),
    compact_target_bytes: int = 128 * 1024 * 1024,
    expire: Sequence[str] = (),
    keep_last: int = 2,
    ivf: str | None = None,
    ivf_max_list_size: int = 0,
    log_dir: str | None = None,
) -> dict:
    """Run every requested maintenance primitive and record ONE
    manifest entry.

    ``compact``: parquet dirs to rewrite into target-sized files.
    ``expire``: versioned (plans/cdc.py) tables to expire down to
    ``keep_last`` snapshots. ``ivf``: a persisted IVF index whose
    oversized lists are pole-split to ``ivf_max_list_size``.
    ``log_dir`` defaults to the first maintained path.

    Returns the manifest entry dict (also written to
    ``<log_dir>/_maintenance/m-<seq>.json``), with ``manifest_path``
    added when a log dir is available. Actions run in the order
    compact -> expire -> rebalance; a failure propagates after the
    completed actions are logged with ``"failed": <repr>`` so the
    entry never lies about partial work.
    """
    from logpipe_spark.plans.cdc import expire_snapshots
    from logpipe_spark.plans.layout import compact_small_files

    entry: dict = {"started_unix": round(time.time(), 3), "actions": []}
    try:
        for path in compact:
            t0 = time.perf_counter()
            r = compact_small_files(
                spark, path, target_bytes=compact_target_bytes)
            entry["actions"].append(
                {"op": "compact", "path": path,
                 "wall_s": round(time.perf_counter() - t0, 3), **r})
        for path in expire:
            t0 = time.perf_counter()
            r = expire_snapshots(path, keep_last=keep_last)
            entry["actions"].append(
                {"op": "expire_snapshots", "path": path,
                 "wall_s": round(time.perf_counter() - t0, 3), **r})
        if ivf is not None:
            from logpipe_spark.trainprep.similarity import \
                rebalance_ivf_index
            t0 = time.perf_counter()
            r = rebalance_ivf_index(spark, ivf, ivf_max_list_size)
            entry["actions"].append(
                {"op": "rebalance_ivf", "path": ivf,
                 "wall_s": round(time.perf_counter() - t0, 3), **r})
    except Exception as exc:  # log partial work, then propagate
        entry["failed"] = repr(exc)
        raise
    finally:
        entry["finished_unix"] = round(time.time(), 3)
        log = log_dir or next(
            iter([*compact, *expire, *([ivf] if ivf else [])]), None)
        if log is not None:
            _append_manifest(log, entry)
    return entry


def read_maintenance_log(log_dir: str) -> list[dict]:
    """All manifest entries for a maintained location, oldest first."""
    mdir = os.path.join(log_dir, "_maintenance")
    if not os.path.isdir(mdir):
        return []
    out = []
    for f in sorted(os.listdir(mdir),
                    key=lambda s: int(s[2:-5]) if s[2:-5].isdigit() else -1):
        if f.startswith("m-") and f.endswith(".json"):
            with open(os.path.join(mdir, f)) as fh:
                out.append(json.load(fh))
    return out


def main(argv: Sequence[str] | None = None) -> int:
    import argparse

    from logpipe_spark.session import build_session

    ap = argparse.ArgumentParser(
        prog="python -m logpipe_spark.plans.maintain",
        description="Run table maintenance (compact / expire / "
                    "rebalance) under one manifest entry.")
    ap.add_argument("--compact", action="append", default=[],
                    metavar="DIR", help="parquet dir to compact "
                    "(repeatable)")
    ap.add_argument("--target-mb", type=int, default=128,
                    help="compaction target file size (MiB)")
    ap.add_argument("--expire", action="append", default=[],
                    metavar="DIR", help="versioned table to expire "
                    "(repeatable)")
    ap.add_argument("--keep-last", type=int, default=2)
    ap.add_argument("--ivf", default=None, metavar="DIR",
                    help="persisted IVF index to rebalance")
    ap.add_argument("--ivf-max-list", type=int, default=10_000)
    ap.add_argument("--log-dir", default=None)
    ap.add_argument("--parallel", type=int, default=None,
                    help="cores (default: SPARK_GRAFT_CPUS)")
    args = ap.parse_args(argv)
    if not (args.compact or args.expire or args.ivf):
        ap.error("nothing to do: pass --compact/--expire/--ivf")
    spark = build_session(app_name="logpipe_maintain",
                          cpus=args.parallel)
    try:
        entry = run_maintenance(
            spark,
            compact=args.compact,
            compact_target_bytes=args.target_mb * 1024 * 1024,
            expire=args.expire, keep_last=args.keep_last,
            ivf=args.ivf, ivf_max_list_size=args.ivf_max_list,
            log_dir=args.log_dir)
    finally:
        spark.stop()
    print(json.dumps(entry, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
