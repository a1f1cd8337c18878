"""The traced run: one span per layer call, recorded from the benchmark's own
code around the program's public stage functions.

Spark is lazy, so a layer's span is a ``noop`` write of the plan up to that
layer, and the layer's self time is that prefix's wall minus the previous
prefix's. Rows in and out come from ``DataFrame.observe`` on the prefixes.
Each prefix projects only the columns the job it stands for consumes; with
more, column pruning would stop applying and the prefixes would overstate
parse.

Two chains are profiled on every workload, so that every layer is measured
on each: the workload's own chain on its whole corpus, the other chain on the
quarter of it that warm-up jobs read (which keeps a traced run within its
time limit):

- ``fanout``, the steps of ``run_pipeline_fanout``: scan, parse, enrich,
  persist, route, write, then the sink aggregates and conversation spans;
- ``rollup``, the steps of ``flagship_summary`` (exact distinct), pruned to
  the columns it reads: scan, parse, enrich, aggregate.

The workload's own chain gives the sources, parse and enrich figures, and its
whole span (every prefix, the full job and the counters read between them) is
the traced cost that ``trace.overhead_frac`` compares with the untraced job.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from logpipe_spark.operators.router import route_single_pass, standard_rules
from probe import Clock
from logpipe_spark.plans.pipeline import (PipelineConfig, enrich_stage,
                                          flagship_summary, parse_stage,
                                          run_pipeline_fanout)

ROLLUP_IN = ["conv_id", "role", "tool", "text"]
ROLLUP_ENRICHED = ["conv_id", "role", "tool", "team", "n_tokens", "error_kind"]


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float
    net_s: float    # end - start, less hypervisor steal (probe.Clock)


class Tracer:
    """Spans kept in memory; written out by the caller when the run ends.

    ``own`` names the workload's own chain: its prefixes run twice and the
    faster run counts, because the first run of a new plan shape also pays
    for compiling it (0.6-2.3 s more than the second), which made single-run
    self times read negative."""

    def __init__(self, own: str):
        self.own = own
        self.spans: list[Span] = []

    def times(self, chain: str) -> int:
        return 2 if chain == self.own else 1

    def run(self, name: str, parent: str | None, fn, *args):
        start = time.perf_counter()
        with Clock() as clock:
            out = fn(*args)
        self.spans.append(Span(name, parent, start, time.perf_counter(), clock.net_s))
        return out

    def wall(self, name: str) -> float:
        """The fastest span of that name."""
        return min(s.net_s for s in self.spans if s.name == name)


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _count_if(cond, alias: str):
    return F.sum(F.when(cond, 1).otherwise(0)).alias(alias)


def _prefix(tracer: Tracer, name: str, df: DataFrame, *aggs) -> dict:
    """Materialize ``df`` to ``noop`` under a span, twice on the workload's
    own chain; return the observed rows and ``aggs``."""
    parent = name.split("/")[0]
    for _ in range(tracer.times(parent)):
        obs = Observation(name)
        tracer.run(name, parent, _noop,
                   df.observe(obs, F.count(F.lit(1)).alias("rows"), *aggs))
    return obs.get


def fanout_chain(spark, tracer: Tracer, src: DataFrame, sink_dir: Path,
                 rest) -> tuple[dict, dict]:
    """Profile run_pipeline_fanout's steps; return (counts, job outputs)."""
    cfg = PipelineConfig()
    n = {"scan": _prefix(tracer, "fanout/scan", src)}
    parsed = parse_stage(src, cfg)
    n["parse"] = _prefix(tracer, "fanout/parse", parsed,
                         _count_if(F.col("error_kind").isNotNull(), "errors"))
    enriched = enrich_stage(spark, parsed, cfg)
    n["enrich"] = _prefix(tracer, "fanout/enrich", enriched,
                          _count_if(F.col("team").isNull(), "miss"))
    # Filling the cache, measured on its own: run_pipeline_fanout fills it
    # inside its write job, and each call builds a new lookup relation, so
    # its plan cannot reuse a cache filled here.
    for _ in range(tracer.times("fanout")):
        cached = enriched.persist(StorageLevel.MEMORY_AND_DISK)
        tracer.run("fanout/persist", "fanout", _noop, cached)
        cached_mb = rest.cached_mb()
        cached.unpersist(blocking=True)
    n["route"] = _prefix(tracer, "fanout/route",
                         route_single_pass(enriched, standard_rules(cfg.tools, cfg.roles)))
    before = rest.job_ids()
    out = tracer.run("fanout/write", "fanout", run_pipeline_fanout,
                     spark, src, str(sink_dir), cfg)
    write_jobs = len(rest.job_ids() - before)
    result = {
        "per_sink": tracer.run("fanout/sink_agg", "fanout", out["agg_per_sink"].collect),
        "spans": tracer.run("fanout/spans", "fanout", out["agg_conv_spans"].collect),
    }
    spark.catalog.clearCache()
    files = list(sink_dir.rglob("*.parquet"))
    w = tracer.wall
    persist = w("fanout/persist") - w("fanout/enrich")
    self_s = {
        "scan": w("fanout/scan"),
        "parse": w("fanout/parse") - w("fanout/scan"),
        "enrich": w("fanout/enrich") - w("fanout/parse"),
        "persist": persist,
        "route": w("fanout/route") - w("fanout/enrich"),
        # the write job also fills the cache and routes
        "write": w("fanout/write") - w("fanout/route") - persist,
        "sink_agg": w("fanout/sink_agg"),
        "spans": w("fanout/spans"),
    }
    counts = {
        "n": n,
        "self_s": self_s,
        "pipeline.cached_mb": cached_mb,
        "router.rows_out": n["route"]["rows"],
        "router.jobs": write_jobs,
        "router.files": len(files),
        "router.sink_mb": sum(f.stat().st_size for f in files) / 1e6,
        "groups_out": len(result["per_sink"]) + len(result["spans"]),
    }
    return counts, result


def rollup_chain(spark, tracer: Tracer, src: DataFrame) -> tuple[dict, dict]:
    """Profile flagship_summary's steps; return (counts, job outputs)."""
    n = {"scan": _prefix(tracer, "rollup/scan", src.select(*ROLLUP_IN))}
    parsed = parse_stage(src)
    n["parse"] = _prefix(tracer, "rollup/parse",
                         parsed.select(*ROLLUP_IN, "error_kind"),
                         _count_if(F.col("error_kind").isNotNull(), "errors"))
    n["enrich"] = _prefix(tracer, "rollup/enrich",
                          enrich_stage(spark, parsed).select(*ROLLUP_ENRICHED),
                          _count_if(F.col("team").isNull(), "miss"))
    rows = tracer.run("rollup/aggregate", "rollup",
                      flagship_summary(spark, src).collect)
    w = tracer.wall
    self_s = {
        "scan": w("rollup/scan"),
        "parse": w("rollup/parse") - w("rollup/scan"),
        "enrich": w("rollup/enrich") - w("rollup/parse"),
        "rollup": w("rollup/aggregate") - w("rollup/enrich"),
    }
    return {"n": n, "self_s": self_s, "groups_out": len(rows)}, {"rollup": rows}


def layer_metrics(own: str, fan: dict, roll: dict, input_mb: float) -> dict:
    """Per-layer figures of one workload; ``own`` names its chain."""
    mine = fan if own == "fanout" else roll
    n, s = mine["n"], mine["self_s"]
    rows_in = n["parse"]["rows"]
    return {
        "sources.scan_s": s["scan"],
        "sources.rows_out": n["scan"]["rows"],
        "sources.input_mb": input_mb,
        "parse.self_s": s["parse"],
        "parse.rows_in": rows_in,
        "parse.rows_error": n["parse"]["errors"],
        "parse.clean_ratio": 1 - n["parse"]["errors"] / rows_in,
        "enrich.self_s": s["enrich"],
        "enrich.rows_out": n["enrich"]["rows"],
        "enrich.lookup_miss": n["enrich"]["miss"],
        "router.route_s": fan["self_s"]["route"],
        "router.rows_out": fan["router.rows_out"],
        "router.write_s": fan["self_s"]["write"],
        "router.files": fan["router.files"],
        "router.jobs": fan["router.jobs"],
        "router.sink_mb": fan["router.sink_mb"],
        "pipeline.persist_s": fan["self_s"]["persist"],
        "pipeline.cached_mb": fan["pipeline.cached_mb"],
        "aggregate.sink_agg_s": fan["self_s"]["sink_agg"],
        "aggregate.spans_s": fan["self_s"]["spans"],
        "aggregate.rollup_s": roll["self_s"]["rollup"],
        "aggregate.groups_out": mine["groups_out"],
    }

