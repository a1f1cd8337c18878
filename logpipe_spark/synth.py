"""Deterministic synthetic transcript generator (no external data, no RNG).

Mirrors the reference's fixture generators (``scripts/generate-ndjson.js``,
``scripts/generate-ndjson-errors.js``) as pure Catalyst expressions over
``spark.range`` — fully parallel, reproducible at any scale, and cheap enough
to generate 10^8 turns/node for benchmarks. Every field is a deterministic
function of the row id (md5-derived mixing), so two runs — or two cluster
sizes — produce byte-identical corpora.

Knobs:
- ``error_every``: every k-th turn is blank / malformed (error-corpus tests,
  ≙ generate-ndjson-errors.js:145-153 five malformed kinds + blanks);
- ``hot_conv_fraction``: fraction of ALL turns assigned to conversation 0
  (skew tests, SURVEY.md §5.2 layer 5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logpipe_spark.transcripts import ROLES, TOOLS


def _mix(col, salt: str):
    """Deterministic 0..2^31 mixer: md5-based, engine-portable."""
    return F.conv(F.substring(F.md5(F.concat(col.cast("string"), F.lit(salt))), 1, 7), 16, 10).cast("long")


def synth_transcripts(
    spark: SparkSession,
    n_turns: int = 10_000,
    n_convs: int = 500,
    error_every: int = 0,
    hot_conv_fraction: float = 0.0,
    partitions: int | None = None,
) -> DataFrame:
    """Generate (conv_id, turn_idx, role, text, tool, ts) deterministically."""
    df = spark.range(0, n_turns, 1, partitions or spark.sparkContext.defaultParallelism)
    rid = F.col("id")
    h = _mix(rid, "conv")
    n_hot = int(n_turns * hot_conv_fraction)
    if n_convs <= 1:
        conv_n = F.lit(0)
    elif n_hot > 0:
        conv_n = (F.when(rid < n_hot, F.lit(0))
                  .otherwise((h % (n_convs - 1)) + 1))
    else:
        conv_n = h % n_convs
    role = F.element_at(F.array(*[F.lit(r) for r in ROLES]),
                        (_mix(rid, "role") % len(ROLES) + 1).cast("int"))
    tool = F.element_at(F.array(*[F.lit(t) for t in TOOLS]),
                        (_mix(rid, "tool") % len(TOOLS) + 1).cast("int"))
    method = F.element_at(F.array(F.lit("GET"), F.lit("POST"), F.lit("PUT"), F.lit("DELETE")),
                          (_mix(rid, "m") % 4 + 1).cast("int"))
    status = (F.lit(200) + (_mix(rid, "s") % 300)).cast("int")
    k = (_mix(rid, "k") % 1000).cast("int")
    msg = F.concat(F.lit("value="), (k * 7 % 997).cast("string"),
                   F.lit(" user="), (h % 1000).cast("string"))
    good_text = F.concat(method, F.lit(" /api/ep/"), k.cast("string"),
                         F.lit(" -> "), status.cast("string"), F.lit(": "), msg)
    text = good_text
    if error_every:
        text = (
            F.when(rid % (2 * error_every) == 0, F.lit(""))  # blank
            .when(rid % error_every == 0,
                  F.concat(F.lit("garbled "), rid.cast("string")))  # malformed
            .otherwise(good_text)
        )
    out = df.select(
        F.concat(F.lit("conv-"), F.lpad(conv_n.cast("string"), 6, "0")).alias("conv_id"),
        rid.alias("_id"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.timestamp_seconds(F.lit(1_700_000_000) + (rid % 86_400)).alias("ts"),
    )
    # Explicit hash(conv_id) partitioning (north_rule) BEFORE the window,
    # which reuses it, so the written corpus exposes `partitions`-way read
    # parallelism. After the window it would repeat the window's own
    # hashpartitioning(conv_id): Spark drops it as redundant and AQE
    # coalesces the window's shuffle, down to one file at test size.
    out = out.repartition(
        partitions or spark.sparkContext.defaultParallelism, "conv_id")
    from pyspark.sql import Window
    w = Window.partitionBy("conv_id").orderBy("_id")
    return out.withColumn(
        "turn_idx", (F.row_number().over(w) - 1).cast("int")
    ).drop("_id").select("conv_id", "turn_idx", "role", "text", "tool", "ts")
