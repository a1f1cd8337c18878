"""CLI entry point mirroring the reference's option surface
(``bin/logpipe.js:20-52``) on Spark.

    spark-submit --py-files dist/logpipe_spark.zip -m  # or:
    python -m logpipe_spark.cli -i data.ndjson --filter role:user \
        --select conv_id,role,text --count-by role -o out_dir

Transformer order is the reference's fixed order (``bin/logpipe.js:177-274``):
filter → select → hash → enrich → count-by → stats. Each CLI flag maps to a
declarative DataFrame op, so the whole invocation is ONE Catalyst plan —
the transformer array became a logical plan (SURVEY.md §3.1).

Sink dispatch keeps the reference priority (``bin/logpipe.js:82-120``):
``--route-dir`` (fan-out, supersedes single sinks) > ``-o`` file > console.

``--route-dir DIR`` runs ``run_pipeline_fanout``: one ``partitionBy(sink)``
parquet write, so each non-empty sink is a Hive-style ``DIR/sink=<name>/``
directory and ``DIR`` reads back as one table with a ``sink`` column (an
empty sink gets no directory). It prints ``sink <name>: DIR/sink=<name>
(<n> rows)`` per sink.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="logpipe-spark",
        description="PySpark-native log/transcript ETL pipeline")
    p.add_argument("-i", "--input", required=True,
                   help="input path (ndjson/csv/parquet, .gz transparent)")
    p.add_argument("--format", default=None,
                   help="input format override (default: sniff extension)")
    p.add_argument("--filter", action="append", default=[],
                   metavar="FIELD:VALUE",
                   help="equality filter, repeatable (AND-conjunction); "
                        "prefix value with ~ for regex")
    p.add_argument("--exclude-matches", action="store_true",
                   help="invert the filter (includeMatches:false)")
    p.add_argument("--select", default=None,
                   help="comma-separated field list (dot-paths ok)")
    p.add_argument("--hash-field", default=None,
                   help="add <field>Hash = iterated sha256 of the field")
    p.add_argument("--hash-iterations", type=int, default=10_000)
    p.add_argument("--enrich", action="store_true",
                   help="add processing metadata columns")
    p.add_argument("--count-by", default=None, metavar="FIELD")
    p.add_argument("--stats", default=None, metavar="KEY:VALUE",
                   help="per-KEY count/sum/min/max/avg of VALUE")
    p.add_argument("-o", "--output", default=None, help="output directory")
    p.add_argument("--output-format", default="parquet",
                   choices=["parquet", "json", "csv"])
    p.add_argument("--route-dir", default=None,
                   help="run the full parse/enrich/route fan-out into this dir")
    p.add_argument("--http-endpoint", default=None,
                   help="HTTP endpoint URL to send records to")
    p.add_argument("--http-method", default="POST", choices=["POST", "PUT"])
    p.add_argument("--http-batch-size", type=int, default=100)
    p.add_argument("--http-retries", type=int, default=3)
    p.add_argument("--http-max-in-flight", type=int, default=1,
                   help="pipelined batches per partition (1 = serial)")
    p.add_argument("--http-timeout", type=float, default=30.0,
                   help="HTTP timeout in seconds")
    p.add_argument("--http-headers", default=None,
                   help="extra headers as a JSON object")
    p.add_argument("--csv-separator", default=",")
    p.add_argument("--csv-header", default=True, type=lambda v: v != "false")
    p.add_argument("--csv-quote", default='"')
    p.add_argument("--csv-escape", default=None,
                   help="escape character (default: Spark's backslash)")
    p.add_argument("--csv-skip-lines", type=int, default=0,
                   help="skip the first N lines of each input file")
    p.add_argument("--pretty-output", action="store_true",
                   help="indent JSON console output")
    p.add_argument("--checkpoint-dir", default=None,
                   help="stage-checkpoint base dir (resume-capable)")
    p.add_argument("--parallel", type=int, default=None,
                   help="local core count (cluster: use spark-submit conf)")
    p.add_argument("--profile", action="store_true",
                   help="write a per-stage wall/CPU/RSS profiling report "
                        "(reference -p/--profile, bin/logpipe.js:28)")
    p.add_argument("--profile-dir", default="./profiling",
                   help="directory for profile_<ts>.json reports")
    p.add_argument("--profile-interval", type=float, default=5.0,
                   help="seconds between profiling samples")
    p.add_argument("--limit", type=int, default=20,
                   help="console sink row limit")
    return p


def apply_transforms(df: DataFrame, args) -> DataFrame:
    """Fixed reference transformer order: filter → select → hash → enrich →
    count-by → stats."""
    from logpipe_spark.functions.textfn import iterated_sha256
    from logpipe_spark.operators.aggregate import count_by, stats_by
    from logpipe_spark.operators.enrich import add_processing_metadata

    pred = None
    for spec in args.filter:
        field, _, value = spec.partition(":")
        # CLI filter compares the string form (SURVEY.md §2.2 T1)
        c = (F.col(field).cast("string").rlike(value[1:])
             if value.startswith("~")
             else F.col(field).cast("string") == F.lit(value))
        pred = c if pred is None else (pred & c)
    if pred is not None:
        # three-valued logic: a NULL field makes the predicate NULL, and
        # ~NULL is still NULL — filter() would drop NON-matching rows
        # from --exclude-matches. Coalesce to False first (router.py's
        # rule predicates do the same).
        matched = F.coalesce(pred, F.lit(False))
        df = df.filter(~matched if args.exclude_matches else matched)

    if args.select:
        fields = [f.strip() for f in args.select.split(",") if f.strip()]
        # nested dot-path rebuild (mapTransformer.js:88-109): paths that
        # share a top-level field MERGE into one struct — two separate
        # single-field structs would collide on the column name (parquet
        # rejects duplicates). A bare top-level selection of the same
        # field wins over its sub-paths.
        tops: dict[str, list[str] | None] = {}
        for f_ in fields:
            if "." not in f_:
                tops[f_] = None                  # whole column wins
            else:
                top, rest = f_.split(".", 1)
                if tops.get(top, []) is not None:
                    tops.setdefault(top, []).append(rest)
        cols = []
        for top, rests in tops.items():
            if rests is None:
                cols.append(F.col(top))
            else:
                # a repeated sub-path ('props.a,props.a') would build a
                # struct with duplicate field names, which the parquet
                # writer rejects — dedupe preserving first-seen order
                uniq = list(dict.fromkeys(rests))
                cols.append(F.struct(
                    *[F.col(f"{top}.{r}").alias(r) for r in uniq]
                ).alias(top))
        df = df.select(*cols)

    if args.hash_field:
        df = df.withColumn(
            f"{args.hash_field}Hash",
            iterated_sha256(args.hash_iterations)(F.col(args.hash_field)))

    if args.enrich:
        df = add_processing_metadata(df, deterministic=False)

    if args.count_by:
        df = count_by(df, args.count_by)

    if args.stats:
        key, _, value = args.stats.partition(":")
        df = stats_by(df, key, F.col(value).cast("double"))

    return df


def _warn_malformed(obs) -> None:
    """Print the read-side malformed count after the sink action (metrics
    reflect rows the action actually scanned — a console `show(limit)`
    reports the scanned prefix only). Callers pass obs=None for sinks
    that consume the frame via RDD jobs (http foreachPartition, pretty
    toJSON) — those bypass SQLExecution, the backing listener never
    fires, and ``obs.get`` would BLOCK FOREVER."""
    if obs is None:
        return
    m = obs.get
    if m.get("rows_malformed"):
        print(f"warning: {m['rows_malformed']} of {m['rows_read']} input "
              f"lines malformed -> error channel", file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from logpipe_spark.schemas import TRANSCRIPT_SCHEMA
    from logpipe_spark.session import build_session
    from logpipe_spark.sources import read_source

    spark = build_session(app_name="logpipe-cli", cpus=args.parallel)
    from contextlib import nullcontext

    prof = None
    if args.profile:
        from logpipe_spark.plans.progress import ProfileReport
        prof = ProfileReport(spark, args.profile_dir,
                             interval_s=args.profile_interval)

    def pstage(name: str):
        return prof.stage(name) if prof is not None else nullcontext()

    def pwrite() -> None:
        if prof is not None:
            print(f"profile report: {prof.write()}", file=sys.stderr)

    try:
        from logpipe_spark.sources import sniff_format

        fmt = args.format or ("parquet" if args.input.endswith(".parquet")
                              else None)
        csv_opts = {}
        # gate on the SAME dispatch the reader uses (sniff_format peels
        # .gz): an endswith('.csv') check silently dropped every CSV
        # option for data.csv.gz while the reader still parsed it as CSV
        if sniff_format(args.input, args.format) == "csv":
            csv_opts = {"separator": args.csv_separator,
                        "header": args.csv_header,
                        "quote": args.csv_quote,
                        "escape": args.csv_escape,
                        "skip_lines": args.csv_skip_lines}
        with pstage("read_plan"):
            df = read_source(spark, args.input, TRANSCRIPT_SCHEMA, fmt=fmt,
                             **csv_opts)
        # read-side malformed counter (≙ the reference's capped warn log,
        # ndjsonParser.js:24-25): rides the sink action, no extra pass
        obs = None
        if "error_kind" in df.columns:
            from logpipe_spark.sources import observe_malformed
            df, obs = observe_malformed(df)

        if args.route_dir:  # full pipeline fan-out (supersedes single sink)
            from logpipe_spark.plans.pipeline import run_pipeline_fanout
            with pstage("pipeline_fanout"):
                out = run_pipeline_fanout(spark, df, args.route_dir)
                per_sink = out["agg_per_sink"].collect()
            for r in sorted(per_sink, key=lambda r: r.sink):
                print(f"sink {r.sink}: {args.route_dir}/sink={r.sink} "
                      f"({r.turn_count} rows)")
            _warn_malformed(obs)
            pwrite()
            return 0

        with pstage("transform_plan"):
            out = apply_transforms(df, args)
        if args.http_endpoint:  # sink priority http > file > console (K6)
            import json as _json

            from logpipe_spark.operators.http_sender import send_http
            with pstage("sink_execute"):
                stats = send_http(
                    out, args.http_endpoint, method=args.http_method,
                    batch_size=args.http_batch_size,
                    retries=args.http_retries,
                    timeout=args.http_timeout,
                    max_in_flight=args.http_max_in_flight,
                    headers=_json.loads(args.http_headers)
                    if args.http_headers else None)
            print(f"sent {stats['records_sent']} records in "
                  f"{stats['batches_sent']} batches "
                  f"({stats['retries']} retries)")
            obs = None    # RDD sink: Observation never completes (see _warn_malformed)
        elif args.output:
            with pstage("sink_execute"):
                out.write.mode("overwrite").format(args.output_format) \
                   .save(args.output)
            print(f"wrote {args.output}")
        else:  # console sender (senderFactory.js:48-72)
            with pstage("sink_execute"):
                if args.pretty_output:
                    import json as _json
                    for line in out.toJSON().take(args.limit):
                        print(_json.dumps(_json.loads(line), indent=2))
                    obs = None  # RDD sink (toJSON().take): obs.get hangs
                else:
                    out.show(args.limit, truncate=False)
        _warn_malformed(obs)
        pwrite()
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
