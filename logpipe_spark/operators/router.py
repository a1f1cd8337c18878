"""Rule-driven multi-sink router (generalizes K6 sender dispatch).

The reference picks exactly one sink by priority http > file > console
(``bin/logpipe.js:82-120``, ``src/senders/senderFactory.js:99-122``); the
north_rule upgrades this to declarative fan-out: one upstream DataFrame,
every row tagged with all its sinks in one pass, then one
``partitionBy(sink)`` write — per-tool, per-role, error, and overflow sinks.

Scale notes:
- the fan-out is ONE pass and ONE write job whatever the sink count (a
  filtered write per sink paid a fixed per-job cost per sink and measured
  0.32 scaling efficiency against 0.98 for the single pass);
- every rule predicate is a Catalyst ``Column``, so the tag projection is
  narrow and codegen'd;
- routes are non-exclusive by design (a turn can land in both its tool sink
  and its role sink), matching "overlapping routes behave like a multi-way
  union of filtered views" (SURVEY.md §2.4). ``overflow`` catches rows
  matching no rule, ``error`` catches parse failures first.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class Rule:
    name: str
    predicate: Column  # evaluated against the enriched DataFrame


def standard_rules(tools: list[str], roles: list[str]) -> list[Rule]:
    """Per-tool + per-role sinks (north_rule's rule set)."""
    rules = [Rule(f"tool_{t}", F.col("tool") == F.lit(t)) for t in tools]
    rules += [Rule(f"role_{r}", F.col("role") == F.lit(r)) for r in roles]
    return rules


def route_single_pass(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Single-pass fan-out: tag each row with ALL matching sink names in a
    ``sink`` column and explode.

    The matching-sink array is one narrow projection, so the entire fan-out
    is ONE pass over the data and one ``partitionBy(sink)`` write job
    (``plans.pipeline.run_pipeline_fanout``). Error rows (``error_kind``
    non-null) are excluded from every regular rule and land only in
    ``error`` (≙ NDJSONParser drop semantics, but routed instead of
    dropped); clean rows matching no rule land in ``overflow``. Overlapping
    rules duplicate rows by design (a turn lands in both its tool and its
    role sink).
    """
    is_error = F.col("error_kind").isNotNull()
    # coalesce to false: a NULL rule column (e.g. missing role/tool) must
    # not silently drop the row from every sink - it falls through to
    # overflow instead (three-valued logic would make both the rule tag AND
    # the no-match tag evaluate to NULL → row lost everywhere)
    preds = [F.coalesce(rule.predicate, F.lit(False)) for rule in rules]
    tags = [F.when(~is_error & pred, F.lit(rule.name))
            for rule, pred in zip(rules, preds)]
    none_match = None
    for pred in preds:
        none_match = pred if none_match is None else (none_match | pred)
    tags.append(F.when(is_error, F.lit("error")))
    # rules=[] -> every clean row is overflow (without this the empty sink
    # array + explode would silently DROP all clean rows)
    no_match = (~none_match) if none_match is not None else F.lit(True)
    tags.append(F.when(~is_error & no_match, F.lit("overflow")))
    sinks = F.array_compact(F.array(*tags))
    return df.withColumn("sink", F.explode(sinks))


def apply_sink_quotas(
    exploded: DataFrame,
    quotas: dict[str, int],
    sink_col: str = "sink",
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Per-sink quota enforcement (north_star overflow semantics): rows
    beyond a sink's quota are re-routed to ``overflow``.

    Deterministic: rank within each sink under (conv_id, turn_idx) ordering,
    keep the first `quota` rows, retag the rest. One window over the sink
    key — at scale the quota'd sinks are the small ones (error/debug taps);
    unlimited sinks (absent from `quotas`) skip the window entirely via the
    union split below.

    ``overflow`` is the uncapped catch-all BY CONTRACT: retagged over-quota
    rows land there after the quota window has run, so a quota on it would
    be silently bypassed by the retags — rejected loudly instead.
    """
    from pyspark.sql import Window

    if not quotas:
        return exploded
    if "overflow" in quotas:
        raise ValueError(
            "the 'overflow' sink is the uncapped catch-all (over-quota rows "
            "are retagged into it after the quota window); quota it upstream "
            "by quota'ing the sinks that feed it")
    limited = exploded.where(F.col(sink_col).isin(*quotas.keys()))
    unlimited = exploded.where(~F.col(sink_col).isin(*quotas.keys()))
    w = Window.partitionBy(sink_col).orderBy(*[F.asc(c) for c in order_cols])
    quota_expr = F.coalesce(
        *[F.when(F.col(sink_col) == k, F.lit(v)) for k, v in quotas.items()])
    retagged = (
        limited.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            sink_col,
            F.when(F.col("_rn") <= quota_expr, F.col(sink_col))
            .otherwise(F.lit("overflow")))
        .drop("_rn")
    )
    return unlimited.unionByName(retagged)

