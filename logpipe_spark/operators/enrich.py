"""Enrichment: processing metadata + broadcast-join lookup.

Re-expresses the reference Enricher (T6, ``bin/logpipe.js:229-254``): its
static per-run constants become literal columns (Catalyst constant-folds
them), and — per the north_rule — the general case becomes a **broadcast hash
join** against a small ``(role, tool) → attributes`` dimension: the small side
ships to every executor, so the 100 TB fact side never shuffles for this join.
The dimension is a driver-local relation (``transcripts.lookup_df`` builds it
with ``session.local_frame``), so the broadcast's build side is a
``LocalTableScan`` and no Python-worker job runs behind it.
"""

from __future__ import annotations

import socket

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logpipe_spark import ENGINE_NAME, __version__


def add_processing_metadata(df: DataFrame, deterministic: bool = False) -> DataFrame:
    """≙ --enrich constants (processedAt / processedBy / version / hostname,
    bin/logpipe.js:230-235). ``deterministic=True`` freezes the volatile
    columns for golden tests."""
    processed_at = (
        F.to_timestamp(F.lit("2026-01-01 00:00:00")) if deterministic else F.current_timestamp()
    )
    hostname = "test-host" if deterministic else socket.gethostname()
    return (
        df.withColumn("processedAt", processed_at)
        .withColumn("processedBy", F.lit(ENGINE_NAME))
        .withColumn("version", F.lit(__version__))
        .withColumn("hostname", F.lit(hostname))
    )


def enrich_with_lookup(
    df: DataFrame,
    lookup: DataFrame,
    on: list[str] | None = None,
    how: str = "left",
    use_broadcast: bool = True,
) -> DataFrame:
    """Left-join a small dimension; unmatched keys → nulls (tested).

    ``broadcast()`` is an explicit hint; at 100 TB the fact side must not
    shuffle for a ≤20-row dimension, and we don't rely on the autoBroadcast
    threshold guessing right.
    """
    on = on or ["role", "tool"]
    right = F.broadcast(lookup) if use_broadcast else lookup
    return df.join(right, on=on, how=how)
