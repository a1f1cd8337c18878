"""Canonical transcript input table + enrichment lookup dimension.

The engine's input (BASELINE.json input_hint) is a table of multi-turn
conversation/agent transcripts:
``(conv_id string, turn_idx int, role string, text string, tool string, ts timestamp)``.

For driver correctness checks we derive that table **deterministically** from
the driver-provided ``events`` parquet with a single ANSI-SQL statement that is
valid verbatim in BOTH Spark SQL and DuckDB (verified: byte-identical output).
One source of truth → the DuckDB oracle and the Spark engine always agree on
the input. Standalone synthetic generation (skew/error corpora for pytest)
lives in :mod:`logpipe_spark.synth`.

A deterministic fraction of turns is deliberately blank (``event_id % 131``)
or malformed (``event_id % 97``) so the error-routing path (reference NDJSON
drop-with-log semantics, ``src/parsers/ndjsonParser.js:50,99-115``) is
exercised and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Valid in Spark SQL AND DuckDB. `{events}` = events table/view name.
#
# `k` extraction: props is rigidly '{"k": N}' (driver-generated; asserted
# by tests/test_sources.py::test_props_rigid_shape over every sf dir, and
# checkable on production inputs via `props_shape_violations` below —
# format drift would make k silently NULL in BOTH engines, which the
# value-hash gate cannot see), so a 1-based substring replaces the
# original regexp_extract.
# Catalyst inlines the single-use `k` alias into EVERY consuming CASE
# (~17 copies in the flagship plan — CollapseProject through collapsed
# CTEs); with a regex each copy cost ~1 us/row, with substring it is
# pointer arithmetic. Identical semantics in DuckDB (same 1-based
# substring), so oracle parity is preserved by construction.
TRANSCRIPTS_SQL = """
WITH ev AS (
  SELECT event_id, ts, user_id, event_type, value,
         cast(substring(props, 7, length(props) - 7) AS int) AS k
  FROM {events}
), ev2 AS (
  SELECT *,
    CASE event_type WHEN 'signup' THEN 'system' WHEN 'error' THEN 'tool'
         WHEN 'purchase' THEN 'assistant' ELSE 'user' END AS role,
    CASE event_type WHEN 'click' THEN 'GET' WHEN 'view' THEN 'GET'
         WHEN 'signup' THEN 'POST' WHEN 'purchase' THEN 'PUT' ELSE 'DELETE' END AS method,
    CASE WHEN event_type = 'error' THEN
           CASE WHEN k % 3 = 0 THEN 400 + (k % 32) ELSE 500 + (k % 12) END
         ELSE 200 + (k % 7) END AS status,
    'value=' || cast(cast(value AS decimal(12,2)) AS string)
      || ' user=' || cast(user_id AS string) AS msg
  FROM ev
)
SELECT
  'conv-' || lpad(cast(user_id AS string), 6, '0') AS conv_id,
  cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS int) AS turn_idx,
  role,
  CASE WHEN event_id % 131 = 0 THEN ''
       WHEN event_id % 97 = 0 THEN 'garbled entry ' || cast(event_id AS string) || ' no delimiter'
       ELSE method || ' /api/' || event_type || '/' || cast(k AS string)
            || ' -> ' || cast(status AS string) || ': ' || msg
  END AS text,
  CASE WHEN event_type = 'error' THEN
         CASE k % 4 WHEN 0 THEN 'search' WHEN 1 THEN 'bash' WHEN 2 THEN 'editor' ELSE 'browser' END
       WHEN event_type = 'purchase' THEN
         CASE k % 5 WHEN 0 THEN 'search' WHEN 1 THEN 'bash' WHEN 2 THEN 'editor'
              WHEN 3 THEN 'browser' ELSE 'none' END
       ELSE 'none' END AS tool,
  ts
FROM ev2
"""

ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["search", "bash", "editor", "browser", "none"]


def _lookup_rows() -> list[tuple[str, str, str, float, int]]:
    """Deterministic (role, tool) → attrs dimension (FIXTURES.md §2).

    Generalizes the reference Enricher's static metadata
    (``bin/logpipe.js:229-254``) into a broadcast-join dimension.
    """
    rows = []
    for role in ROLES:
        for tool in TOOLS:
            h = len(role) * 7 + len(tool) * 13
            team = "team-" + "abcde"[(len(role) + len(tool)) % 5]
            cost_weight = round(0.5 + (h % 26) / 10.0, 1)
            sla_ms = 100 * (1 + (len(role) + len(tool)) % 10)
            rows.append((role, tool, team, cost_weight, sla_ms))
    return rows


LOOKUP_ROWS = _lookup_rows()


def lookup_df(spark: SparkSession) -> DataFrame:
    from logpipe_spark.schemas import LOOKUP_SCHEMA
    from logpipe_spark.session import local_frame

    return local_frame(spark, LOOKUP_ROWS, LOOKUP_SCHEMA)


def lookup_values_sql() -> str:
    """The same dimension as a SQL VALUES relation (for the DuckDB oracle)."""
    vals = ", ".join(
        f"('{r}', '{t}', '{team}', {cw}, {sla})" for r, t, team, cw, sla in LOOKUP_ROWS
    )
    return f"(VALUES {vals}) AS lookup(role, tool, team, cost_weight, sla_ms)"


def derive_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the transcript table from `{sf_dir}/events.parquet`.

    Binds the events scan as a DataFrame parameter (``spark.sql(...,
    events=df)``) — no session-global temp view, so concurrent derivations
    over different sf_dirs cannot clobber each other.
    """
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    # The driver's small-SF events table is ONE parquet file → ONE scan
    # task, so every per-row expression downstream (the k-extract regex,
    # text construction, parse regexes) ran single-core — measured 3.4 s
    # for the sf0.1 flagship with 31 idle threads (round-3 profiling; this
    # was the whole "flagship regression" of the round-2 verdict). Fan a
    # pathologically under-split scan out once, up front; at production
    # scale the input is thousands of files and this never triggers.
    target = spark.sparkContext.defaultParallelism
    if events.rdd.getNumPartitions() < max(2, target // 2):
        events = events.repartition(target)
    return spark.sql(TRANSCRIPTS_SQL, events=events)


def transcripts_cte(events_rel: str) -> str:
    """`transcripts AS (...)` CTE body for composing oracle SQL."""
    return TRANSCRIPTS_SQL.format(events=events_rel)


# The rigid props shape TRANSCRIPTS_SQL's substring k-extract depends on.
# Bracket classes, not backslash escapes: the pattern must survive
# embedding in oracle SQL strings (Spark SQL eats backslashes).
PROPS_SHAPE_PATTERN = '^[{]"k": [0-9]+[}]$'


def props_shape_violations(events: DataFrame) -> DataFrame:
    """DQ check for the substring fast path: rows whose ``props`` does
    NOT match the rigid '{"k": N}' shape TRANSCRIPTS_SQL assumes. Run it
    on any NEW events source before trusting derived transcripts — a
    drifted format (no space, extra keys) makes ``k`` silently
    NULL/garbage in engine AND oracle alike, invisible to the value-hash
    gate. Empty result == safe."""
    from pyspark.sql import functions as F

    return events.filter(
        F.col("props").isNull()
        | ~F.col("props").rlike(PROPS_SHAPE_PATTERN))
