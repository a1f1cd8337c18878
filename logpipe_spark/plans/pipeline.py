"""The flagship parse → enrich → route → aggregate pipeline.

This is the Spark re-expression of the reference's transformer-array program
(``bin/logpipe.js:339-359``: [progress, parser, checkpoint, filter, select,
hash, enrich, count, stats, stringifier, sink]) as ONE declarative DataFrame
plan per stage. Catalyst replaces the manual stage ordering (pushdown,
pruning, folding are free — SURVEY.md §4.1); the explicit engineering left to
us is partitioning, broadcast, and skew (SURVEY.md §4.2).

Scale design (100 TB / 10^12 turns):
- input is read with partition-level parallelism and never repartitioned
  up front: parse, enrich and route are narrow, and each conv-level
  aggregate pays its own exchange;
- the lookup join is broadcast (zero shuffle of the fact table), and the
  broadcast dimension is a driver-local relation (``lookup_df`` builds it
  with ``session.local_frame``): its build side is a ``LocalTableScan``,
  so the plan holds no Python RDD and the broadcast runs no Python job;
- the routed fan-out writes every sink in one ``partitionBy(sink)`` job
  and caches nothing;
- per-sink aggregates read the written sinks back (only ``n_tokens`` and
  the partition column) and are map-side-combining hash aggregates on the
  low-card sink key — tiny shuffles;
- AQE coalesces the post-shuffle partitions and handles residual skew.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logpipe_spark.operators.enrich import add_processing_metadata, enrich_with_lookup
from logpipe_spark.operators.parse import TRANSCRIPT_COMPILED, parse_grok
from logpipe_spark.operators.router import route_single_pass, standard_rules
from logpipe_spark.operators.spans import conv_spans
from logpipe_spark.functions.textfn import token_count
from logpipe_spark.transcripts import ROLES, TOOLS, lookup_df


@dataclass
class PipelineConfig:
    tools: list[str] = field(default_factory=lambda: list(TOOLS))
    roles: list[str] = field(default_factory=lambda: list(ROLES))


def parse_stage(df: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Grok-parse ``text``; ``cfg`` is unused, kept for existing callers."""
    return parse_grok(df, "text", TRANSCRIPT_COMPILED)


def enrich_stage(spark: SparkSession, parsed: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Lookup join + metadata + token count; ``cfg`` is unused, kept for
    existing callers."""
    enriched = enrich_with_lookup(parsed, lookup_df(spark))
    enriched = add_processing_metadata(enriched, deterministic=True)
    # "[^ ]+" matches the DuckDB oracle exactly (the WS_TOKEN_RE default
    # also strips tab/newline, which would diverge on such text)
    return enriched.withColumn("n_tokens", token_count(F.col("text"), "[^ ]+"))


def run_pipeline_fanout(
    spark: SparkSession,
    transcripts: DataFrame,
    sink_base_dir: str,
    cfg: PipelineConfig | None = None,
) -> dict[str, DataFrame]:
    """The pipeline entry: single-pass routed write + aggregates.

    One write job regardless of sink count: the routed rows go out in one
    pass, ``partitionBy(sink)``, overwriting ``sink_base_dir``. Nothing is
    cached. ``agg_per_sink`` reads the sinks just written back (per-sink
    counts + token stats, ONE groupBy on the low-cardinality sink key;
    the explicit schema keeps an empty write readable), and
    ``agg_conv_spans`` recomputes the spans from the source over clean
    rows, where Catalyst prunes the grok field extraction. Job count is
    O(1) in the number of sinks and every shuffle is a map-side-combining
    hash aggregate.
    """
    cfg = cfg or PipelineConfig()
    enriched = enrich_stage(spark, parse_stage(transcripts))
    exploded = route_single_pass(enriched, standard_rules(cfg.tools, cfg.roles))
    exploded.write.mode("overwrite").partitionBy("sink").parquet(sink_base_dir)
    sink_aggs = (
        spark.read.schema(exploded.schema).parquet(sink_base_dir)
        .groupBy("sink")
        .agg(
            F.count(F.lit(1)).alias("turn_count"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.avg("n_tokens").alias("avg_tokens"),
        )
    )
    clean = enriched.filter(F.col("error_kind").isNull())
    return {
        "sink_dir": sink_base_dir,
        "agg_per_sink": sink_aggs,
        "agg_conv_spans": conv_spans(clean),
    }


def flagship_summary(spark: SparkSession, transcripts: DataFrame,
                     approx_distinct: bool = False) -> DataFrame:
    """One-frame rollup used by the driver smoke check: per-(role, tool)
    turn counts + token stats over clean rows, ordered deterministically.

    ``approx_distinct=True`` is the 100 TB default. The exact
    ``countDistinct`` is this frame's only distinct aggregate, so it plans
    no Expand: four HashAggregates over two hash exchanges, the first
    keyed on (role, tool, team, conv_id) and so carrying one row per
    distinct conversation per group, then the ``orderBy`` range exchange.
    The md5-register HLL (operators/hll.py) caps the distinct-count shuffle
    at 2**p rows per group regardless of conversation cardinality — and,
    unlike the engine-private ``approx_count_distinct`` HLL++, the estimate
    reproduces bit-for-bit in DuckDB, so the approximate flagship passes
    the EXACT value-hash gate (the estimate's join back onto the stats
    frame is group-cardinality-sized)."""
    parsed = parse_stage(transcripts)
    enriched = enrich_stage(spark, parsed)
    clean = enriched.filter(F.col("error_kind").isNull())
    stats = clean.groupBy("role", "tool", "team").agg(
        F.count(F.lit(1)).alias("turn_count"),
        F.round(F.sum("n_tokens").cast("double"), 2).alias("sum_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
    )
    if approx_distinct:
        from logpipe_spark.operators.hll import hll_distinct
        est = hll_distinct(clean, "conv_id", ["role", "tool", "team"],
                           p=9, alias="n_convs")
        out = stats.join(est, ["role", "tool", "team"], "left").select(
            "role", "tool", "team", "turn_count", "sum_tokens",
            "avg_tokens", F.coalesce("n_convs", F.lit(0)).alias("n_convs"))
    else:
        out = clean.groupBy("role", "tool", "team").agg(
            F.count(F.lit(1)).alias("turn_count"),
            F.round(F.sum("n_tokens").cast("double"), 2).alias("sum_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.countDistinct("conv_id").alias("n_convs"),
        )
    return out.orderBy("role", "tool", "team")
