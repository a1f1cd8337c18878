"""Structured Streaming surface (SURVEY.md §2.7).

The reference's 'streaming' is Node I/O over a bounded file; its two
genuinely streaming behaviors — periodic partial aggregate flush
(``aggregateTransformer.js:92-96``) and checkpoint/resume — map to
Structured Streaming update-mode aggregation and the streaming checkpoint
location. This package provides the unbounded-input variant of the
parse→enrich→route→aggregate pipeline; incremental monitors are a partial
function plus its ``read_*`` reader, written per micro-batch by
``stream_epochs``.
"""

from logpipe_spark.streaming.stream import (  # noqa: F401
    conversation_sessions,
    stream_dedup_exact,
    stream_interval_join,
    stream_asof_enrich,
    stream_kmv_distinct,
    token_rollup_partials,
    read_rollup,
    drift_partials,
    read_cvm,
    read_drift,
    read_energy,
    read_hellinger,
    read_kuiper,
    read_l_moments,
    read_wasserstein,
    stream_apdex,
    apdex_report,
    read_cms,
    stream_dedup_incremental,
    read_dedup_pairs,
    postings_partials,
    read_stream_postings,
    stream_context_overflow,
    token_quantile_partials,
    read_quantiles,
    read_rate_autocorr,
    health_partials,
    health_report,
    read_partition_health,
    golden_partials,
    golden_report,
    read_golden_record,
    slo_partials,
    read_freshness,
    growth_partials,
    read_growth_accounting,
    conformal_partials,
    read_conformal,
    read_slo_burn,
    run_stream_once,
    stream_epochs,
    stream_route_fanout,
    stream_transcripts,
    windowed_turn_counts,
)
