"""Benchmark of the transcript pipeline (parse -> enrich -> route -> aggregate).

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --smoke          # every workload, 20k turns

Run it from the root of a checkout. It generates its own corpora (seeded,
see corpus.py), drives the pipeline in this process through its public entry
points, checks every job's outputs against an independent DuckDB query over
the same input, and prints one JSON object as the last line of stdout.
Per-job details (wall, steal, CPU, load average) go to stderr. Everything it
writes stays under ``.perfbench/`` in the checkout.

Untraced run (``--trace 0``): a cold set-up on ``local[4]`` (session build
with JVM launch, then WARM_JOBS untimed jobs on a quarter of the corpus), then
``local[4]`` jobs on the whole corpus back to back for ``--seconds``; the
end-to-end metrics are medians over those jobs.
Times are net of hypervisor steal (probe.Clock).

Traced run (``--trace 1``): the same set-up with the UI (and its REST API)
on, one untraced job (it gives the ``spark.*`` counters and the untraced
wall), the layer profile of layers.py, and one job each on ``local[1]`` and
``local[4]``, each in a rebuilt session after one warm-up job, for the
scaling figures.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
sys.path.insert(0, str(ROOT))

from corpus import Corpus, Shape, parquet_counts  # noqa: E402
from probe import Clock, ProcTree, SparkRest, loadavg, stop_spark  # noqa: E402


@dataclasses.dataclass(frozen=True)
class Workload:
    shape: Shape
    job: str    # "fanout" (run_pipeline_fanout) or "rollup" (flagship_summary)


# Sizes are large enough that work growing with the input is about half of a
# job or more (see README.md for the fixed per-job cost), and small enough
# that 48 runs (ten per workload, twice, plus traced runs) fit in under an
# hour on a 4-vCPU host.
WORKLOADS = {
    # The fan-out write and the persist it fills do half the work; parse,
    # enrich, route and the aggregates share the rest.
    "flagship": Workload(Shape(turns=300_000, turns_per_conv=200, error_share=0.02),
                         "fanout"),
    # No sink write, and Catalyst prunes the grok field extraction: enrich
    # (token counting) and the countDistinct(conv_id) aggregate do most of
    # the work. One conversation holds a third of the turns, so a conv_id
    # repartition would straggle.
    "rollup_wide": Workload(Shape(turns=1_000_000, turns_per_conv=4, error_share=0.2,
                                  hot_fraction=1 / 3),
                            "rollup"),
}
SMOKE_TURNS = 20_000
WARM_JOBS = 3
MIN_JOBS = 3
CORES, CORES_1 = 4, 1
DRIVER_MEM = "2g"

END_TO_END_UNITS = {"turns_per_s": "1/s", "job_s": "s", "setup_s": "s", "cpu_s": "s"}


def _unit(name: str) -> str:
    for suffix, unit in (("_per_s_1core", "1/s"), ("_s", "s"), ("_mb", "MB"),
                         ("_frac", "ratio"), ("_ratio", "ratio"), (".eff", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


# --- the program under test ---------------------------------------------


# Keeps the JVMs' temporary files inside the checkout; -XX:-UsePerfData
# stops each JVM writing /tmp/hsperfdata_<user>.
JAVA_OPTS = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"


def build(cores: int, ui: bool = False):
    from logpipe_spark.session import build_session

    conf = {
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": JAVA_OPTS,
    }
    if ui:
        conf["spark.ui.enabled"] = "true"
    return build_session(app_name="perfbench", cpus=cores, extra_conf=conf)


def read(spark, files: list[Path]):
    from logpipe_spark.schemas import TRANSCRIPT_SCHEMA

    return spark.read.schema(TRANSCRIPT_SCHEMA).parquet(*map(str, files))


def fanout_job(spark, files: list[Path], sink_dir: Path) -> dict:
    from logpipe_spark.plans.pipeline import run_pipeline_fanout

    out = run_pipeline_fanout(spark, read(spark, files), str(sink_dir))
    return {"per_sink": out["agg_per_sink"].collect(),
            "spans": out["agg_conv_spans"].collect()}


def rollup_job(spark, files: list[Path], sink_dir: Path) -> dict:
    from logpipe_spark.plans.pipeline import flagship_summary

    return {"rollup": flagship_summary(spark, read(spark, files)).collect()}


JOBS = {"fanout": fanout_job, "rollup": rollup_job}


# --- output check --------------------------------------------------------


def expected(corpus: Corpus) -> dict:
    from logpipe_spark.transcripts import LOOKUP_ROWS

    return {"sinks": corpus.sink_counts(),
            "clean": tuple(corpus.clean_turns_and_convs()),
            "rollup": corpus.rollup(LOOKUP_ROWS)}


def check(result: dict, expect: dict, sink_dir: Path) -> list[str]:
    """Differences between one job's outputs and the oracle's answers."""
    problems = []
    if "per_sink" in result:
        agg = {r["sink"]: r["turn_count"] for r in result["per_sink"]}
        written = parquet_counts(f"{sink_dir}/*/*.parquet")
        if agg != expect["sinks"]:
            problems.append(f"agg_per_sink {agg} != oracle {expect['sinks']}")
        if written != agg:
            problems.append(f"written sinks {written} != agg_per_sink {agg}")
        spans = (sum(r["n_turns"] for r in result["spans"]), len(result["spans"]))
        if spans != expect["clean"]:
            problems.append(f"conv_spans (turns, convs) {spans} != oracle {expect['clean']}")
    if "rollup" in result:
        got = [tuple(r) for r in result["rollup"]]
        bad = [(g, w) for g, w in zip(got, expect["rollup"]) if g != w]
        if len(got) != len(expect["rollup"]) or bad:
            problems.append(f"rollup: {len(got)} rows, oracle {len(expect['rollup'])}; "
                            f"first mismatch {bad[:1]}")
    return problems


class Runner:
    """One workload's jobs in one process; counts attempted and failed jobs."""

    def __init__(self, name: str, corpus: Corpus, run_dir: Path, tree: ProcTree):
        self.name = name
        self.job = JOBS[WORKLOADS[name].job]
        self.corpus = corpus
        self.expect = expected(corpus)
        self.run_dir = run_dir
        self.tree = tree
        self.attempted = self.failed = 0
        self.details: list[dict] = []

    def verify(self, result: dict | None, sink_dir: Path, error: str | None) -> None:
        problems = [error] if error else check(result, self.expect, sink_dir)
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"perfbench: {self.name}: output check failed: {problems}",
                  file=sys.stderr)

    def timed(self, spark, cores: int, warm_up: bool = False) -> dict:
        """One job, timed; its outputs are checked after the clock stops.
        A warm-up job reads the corpus's warm-up slice and is not checked,
        but one that raises stops the run."""
        files = self.corpus.warm_slice if warm_up else self.corpus.files
        sink_dir = self.run_dir / f"sinks-{len(self.details)}"
        load = loadavg()
        cpu0 = self.tree.cpu_s()
        result, error = None, None
        with Clock() as clock:
            try:
                result = self.job(spark, files, sink_dir)
            except Exception as e:  # a failed job is counted, not fatal
                error = f"{type(e).__name__}: {str(e)[:500]}"
        sample = {"cores": cores, "warm_up": warm_up, "job_s": clock.net_s,
                  "wall_s": clock.wall_s, "steal_s": clock.steal_s,
                  "steal_mean_s": clock.steal_mean_s,
                  "cpu_s": self.tree.cpu_s() - cpu0, "load": load}
        spark.catalog.clearCache()
        if warm_up and error:
            raise RuntimeError(f"warm-up job failed: {error}")
        if not warm_up:
            self.verify(result, sink_dir, error)
        shutil.rmtree(sink_dir, ignore_errors=True)
        self.details.append(sample)
        return sample


def setup(runner: Runner, ui: bool = False):
    """Cold set-up: session build on local[4] (JVM launch included) plus
    WARM_JOBS untimed runs of the job on the corpus's warm-up slice. Job
    times keep falling for many jobs after the first (JIT compilation of the
    per-job planning and scheduling code, ~0.5 s less per job whatever the
    input size), and quarter-size jobs get through that slope for less
    time than full ones."""
    with Clock() as clock:
        spark = build(CORES, ui)
    warm_s = sum(runner.timed(spark, CORES, warm_up=True)["job_s"]
                 for _ in range(WARM_JOBS))
    return spark, clock.net_s, warm_s


def measure(runner: Runner, seconds: float) -> dict:
    """local[4] jobs back to back until ``seconds`` have passed, and at
    least MIN_JOBS of them: a varying job count would move the median."""
    spark, start_s, warm_s = setup(runner)
    jobs = []
    t0 = time.perf_counter()
    try:
        while len(jobs) < MIN_JOBS or time.perf_counter() - t0 < seconds:
            jobs.append(runner.timed(spark, CORES))
    finally:
        stop_spark(spark)

    def med(key):
        return statistics.median(j[key] for j in jobs)

    return {
        "turns_per_s": runner.corpus.shape.turns / med("job_s"),
        "job_s": med("job_s"),
        "setup_s": start_s + warm_s,
        "cpu_s": med("cpu_s"),
    }


def trace(runner: Runner) -> dict:
    import layers

    spark, start_s, warm_s = setup(runner, ui=True)
    try:
        rest = SparkRest(spark)
        before = rest.job_ids()
        untraced = runner.timed(spark, CORES)["job_s"]
        counters = rest.summary(before)
        own = WORKLOADS[runner.name].job
        tracer = layers.Tracer(own)
        src = {chain: read(spark, runner.corpus.files if chain == own
                           else runner.corpus.warm_slice)
               for chain in JOBS}
        sink_dir = runner.run_dir / "traced"
        fan, out = tracer.run("fanout", None, layers.fanout_chain,
                              spark, tracer, src["fanout"], sink_dir, rest)
        roll, rolled = tracer.run("rollup", None, layers.rollup_chain,
                                  spark, tracer, src["rollup"])
        # only the own chain read the whole corpus the oracle answers for
        runner.verify(out if own == "fanout" else rolled, sink_dir, None)
        shutil.rmtree(sink_dir, ignore_errors=True)
        # Scaling legs, each in a rebuilt session warmed by one warm-up job:
        # the first job after a rebuild took twice as long as a warm one.
        legs = {}
        for cores in (CORES_1, CORES):
            spark.stop()
            spark = build(cores, ui=True)
            runner.timed(spark, cores, warm_up=True)
            legs[cores] = runner.timed(spark, cores)["job_s"]
    finally:
        stop_spark(spark)
    metrics = {"session.start_s": start_s, "session.warm_s": warm_s}
    metrics.update(layers.layer_metrics(own, fan, roll, runner.corpus.input_mb()))
    metrics.update(counters)
    metrics["trace.overhead_frac"] = tracer.wall(own) / untraced - 1
    metrics["scaling.eff"] = legs[CORES_1] / legs[CORES] / CORES
    metrics["scaling.turns_per_s_1core"] = runner.corpus.shape.turns / legs[CORES_1]
    metrics["process.peak_rss_mb"] = runner.tree.peak_rss_mb()
    spans = [dataclasses.asdict(s) for s in tracer.spans]
    (WORK / f"spans-{runner.name}-s{runner.corpus.seed}.json").write_text(
        json.dumps(spans, indent=1))
    return metrics


def run_workload(name: str, args) -> dict:
    shape = WORKLOADS[name].shape
    if args.smoke:
        shape = dataclasses.replace(shape, turns=SMOKE_TURNS)
    corpora = WORK / "corpora"
    corpus = Corpus(corpora, shape, args.seed)
    run_dir = WORK / f"run-{os.getpid()}"
    run_dir.mkdir(parents=True, exist_ok=True)
    try:
        with ProcTree(interval_s=0.1 if args.trace else None) as tree:
            runner = Runner(name, corpus, run_dir, tree)
            values = trace(runner) if args.trace else measure(runner, args.seconds)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        corpus.close()
    print(json.dumps({"workload": name, "seed": args.seed, "jobs": runner.details}),
          file=sys.stderr)
    units = END_TO_END_UNITS if not args.trace else {k: _unit(k) for k in values}
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=[*WORKLOADS, "all"], default="all")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5.0,
                    help="how long local[4] jobs are measured after set-up")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help=f"{SMOKE_TURNS}-turn corpora, shortest measurement")
    args = ap.parse_args(argv)
    if args.smoke:
        args.seconds = 0
    # Fails here, before any result is printed, outside a checkout of the
    # program.
    import logpipe_spark  # noqa: F401

    # The JVM inherits file descriptor 1; point it at stderr so that only
    # the results below reach stdout.
    results_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    for sub in ("tmp", "spark-local"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = JAVA_OPTS  # spark-submit's helper JVM

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    results = {}
    for name in names:
        results[name] = run_workload(name, args)
        if len(names) > 1:
            print(json.dumps({"workload": name, **results[name]}), file=results_out)
    if len(names) == 1:
        final = results[names[0]]
    else:
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{n}.{k}": v for n, r in results.items()
                        for k, v in r["metrics"].items()},
        }
    print(json.dumps(final), file=results_out, flush=True)
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
