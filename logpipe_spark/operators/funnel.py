"""Ordered-event analytics: funnel progression and transition matrices.

Classic product/telemetry queries over an event stream — the kind of
reporting a user of the reference pipeline runs downstream of routing
(readme.md:1-40 positions logpipe as the ingest stage for exactly this).
Both operators are single-shuffle designs:

- ``funnel_steps``: one hash shuffle on the user key; each step's
  "earliest qualifying timestamp" is a conditional aggregate, so the
  whole N-step funnel is ONE groupBy over the filtered event set, not N
  self-joins (the naive SQL formulation joins the event table once per
  step — quadratic in steps, N shuffles).
- ``event_transitions``: one shuffle to order each user's history, then
  a map-side-combinable count of (state, next_state) pairs. The window
  frame is per-user (bounded); the count output is |state|^2 rows.

Both scale linearly in events and are AQE-skew-splittable on the user
key (a bot user with 10^8 events lands in one window partition — the
same mitigation as sessionize_segmented applies if that matters).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from logpipe_spark.session import local_frame


def funnel_steps(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Strict-order funnel: a user completes step i+1 only with an event
    of that type STRICTLY AFTER their step-i completion time.

    Returns one row per step: (step_idx, step, n_users), where n_users
    counts users whose earliest qualifying chain reaches that step.
    Greedy earliest-completion is correct here: taking the earliest
    qualifying event at each step maximizes the remaining time window, so
    a user completes the funnel under the greedy chain iff they complete
    it under any chain (exchange argument).

    Plan shape: filter to funnel event types -> ONE groupBy(user)
    collecting the (small) per-user funnel history -> a single
    aggregate() fold scanning it in ts order -> tiny per-step
    conditional-sum. One shuffle total; the unrolled-SQL formulation
    (one join + groupBy per step) is what the DuckDB oracle runs.
    """
    steps = list(steps)
    ev = events.filter(F.col(type_col).isin(steps)).select(
        F.col(user_col).alias("user_id"),
        F.col(type_col).alias("etype"),
        F.col(ts_col).alias("ts"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("ts"), F.col("etype")))
        ).alias("h")
    )
    # Greedy scan over the (small, per-user) sorted history with a single
    # aggregate() fold: state = (next step index, ts of last completion).
    # Bounded per-user state; no repeated self-joins.
    n = len(steps)
    step_arr = F.array(*[F.lit(s) for s in steps])
    fold = F.aggregate(
        "h",
        F.struct(
            F.lit(0).cast("int").alias("i"),
            F.lit(None).cast("timestamp").alias("t"),
        ),
        lambda acc, e: F.when(
            (acc["i"] < F.lit(n))
            & (e["etype"] == F.element_at(step_arr, acc["i"] + 1))
            & (acc["t"].isNull() | (e["ts"] > acc["t"])),
            F.struct((acc["i"] + 1).alias("i"), e["ts"].alias("t")),
        ).otherwise(acc),
    )
    reached = per_user.select(fold["i"].alias("max_step"))
    # n_users for step i = count of users with max_step >= i+1 — a tiny
    # (n_steps x user_count) conditional-sum aggregate, one row out per step.
    aggs = [
        F.sum(F.when(F.col("max_step") >= i + 1, 1).otherwise(0))
        .cast("bigint")
        .alias(f"s{i}")
        for i in range(n)
    ]
    wide = reached.agg(*aggs)
    long = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i + 1).cast("int").alias("step_idx"),
                        F.lit(steps[i]).alias("step"),
                        F.col(f"s{i}").alias("n_users"),
                    )
                    for i in range(n)
                ]
            )
        ).alias("r")
    )
    return long.select("r.step_idx", "r.step", "r.n_users")


def funnel_latency(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-step-pair latency distribution of the strict-order funnel: for
    each adjacent pair (step i -> step i+1), how long users who completed
    both took between the two completions under the same greedy
    earliest-completion chain as :func:`funnel_steps`.

    Latencies are EXACT INTEGER MICROSECONDS (``unix_micros`` diff of the
    completion timestamps) and the percentiles are DISCRETE (rank-based,
    actual elements) — both bit-identical cross-engine, so the whole
    statistics table passes the exact value-hash gate.

    Returns one row per pair: (step_idx = destination step's 1-based
    index, from_step, to_step, n_users, min_us, p50_us, p90_us, max_us).

    Plan shape: the SAME single groupBy(user) + aggregate() fold as
    funnel_steps (the fold additionally carries the per-step completion
    timestamps — bounded state: n_steps entries), then an explode to one
    row per (user, completed pair) — a user-count-sized frame, not an
    event-count-sized one — and a rank window partitioned by step pair
    for the discrete percentiles. One event-scale shuffle total; the
    oracle runs the unrolled one-join-per-step SQL. At 100 TB swap the
    rank window for percentile_approx (see percentiles_approx) — this is
    the exact correctness reference.
    """
    steps = list(steps)
    n = len(steps)
    ev = events.filter(F.col(type_col).isin(steps)).select(
        F.col(user_col).alias("user_id"),
        F.col(type_col).alias("etype"),
        F.col(ts_col).cast("timestamp").alias("ts"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("ts"), F.col("etype")))
        ).alias("h")
    )
    step_arr = F.array(*[F.lit(s) for s in steps])
    # Greedy fold as in funnel_steps, but the accumulator also collects
    # the completion timestamp of each reached step (micros, exact ints).
    fold = F.aggregate(
        "h",
        F.struct(
            F.lit(0).cast("int").alias("i"),
            F.lit(None).cast("timestamp").alias("t"),
            F.array().cast("array<bigint>").alias("ts_us"),
        ),
        lambda acc, e: F.when(
            (acc["i"] < F.lit(n))
            & (e["etype"] == F.element_at(step_arr, acc["i"] + 1))
            & (acc["t"].isNull() | (e["ts"] > acc["t"])),
            F.struct(
                (acc["i"] + 1).alias("i"),
                e["ts"].alias("t"),
                F.array_append(acc["ts_us"], F.unix_micros(e["ts"])).alias(
                    "ts_us"
                ),
            ),
        ).otherwise(acc),
    )
    chains = per_user.select("user_id", fold["ts_us"].alias("ts_us"))
    # One row per completed adjacent pair: lat = t_{j+1} - t_j. The pair
    # array is n_steps-1 entries of bounded compute; explode_outer is not
    # needed (no generator-input filter to get re-inferred — the filter
    # below is on the OUTPUT struct).
    pairs = F.array(
        *[
            F.when(
                F.size("ts_us") >= j + 2,
                F.struct(
                    F.lit(j + 2).cast("int").alias("step_idx"),
                    (
                        F.element_at("ts_us", j + 2)
                        - F.element_at("ts_us", j + 1)
                    ).alias("lat_us"),
                ),
            )
            for j in range(n - 1)
        ]
    )
    lat = (
        chains.select("user_id", F.explode(pairs).alias("p"))
        .filter(F.col("p").isNotNull())
        .select("user_id", "p.step_idx", "p.lat_us")
    )
    w = Window.partitionBy("step_idx").orderBy(
        F.col("lat_us").asc(), F.col("user_id").asc()
    )
    wn = Window.partitionBy("step_idx")
    ranked = lat.select(
        "step_idx",
        "lat_us",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(wn).alias("_n"),
    )
    step_names = F.array(*[F.lit(s) for s in steps])
    out = ranked.groupBy("step_idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.min("lat_us").cast("bigint").alias("min_us"),
        F.max(
            F.when(
                F.col("_rn")
                == F.ceil(F.lit(0.5) * F.col("_n")).cast("bigint"),
                F.col("lat_us"),
            )
        ).alias("p50_us"),
        F.max(
            F.when(
                F.col("_rn")
                == F.ceil(F.lit(0.9) * F.col("_n")).cast("bigint"),
                F.col("lat_us"),
            )
        ).alias("p90_us"),
        F.max("lat_us").cast("bigint").alias("max_us"),
    )
    return out.select(
        "step_idx",
        F.element_at(step_names, F.col("step_idx") - 1).alias("from_step"),
        F.element_at(step_names, F.col("step_idx")).alias("to_step"),
        "n_users",
        "min_us",
        "p50_us",
        "p90_us",
        "max_us",
    )


def top_paths(
    events: DataFrame,
    n_events: int = 5,
    k: int = 20,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    sep: str = ">",
) -> DataFrame:
    """Top-k most common opening event paths (each user's first
    ``n_events`` event types, in time order, joined with ``sep``).

    Plan shape: ONE groupBy(user) collects (ts, tiebreak, type) structs,
    sorts the per-user array and slices the first n — no window pass, so
    there is no full-history ordering shuffle separate from the grouping
    one. The path-frequency count then combines map-side, and the final
    top-k runs as TakeOrderedAndProject (per-partition partial top-k), so
    the distinct-path frame never crosses one global window task. Ties on
    ts are broken by ``tiebreak_col`` so
    every user's path — and the ranking, which ties on path text — is
    deterministic cross-engine.

    A bot user with 10^8 events does collect its full funnel-window
    history before the slice; if that matters, pre-filter with a per-user
    limit (the events feed here is bounded per user by upstream quotas).
    """
    per_user = events.groupBy(F.col(user_col)).agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col(ts_col).alias("ts"),
                                F.col(tiebreak_col).alias("tb"),
                                F.col(type_col).alias("et"),
                            )
                        )
                    ),
                    lambda s: s["et"],
                ),
                1,
                n_events,
            ),
            sep,
        ).alias("path")
    )
    counts = per_user.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    # Distributed top-k: orderBy().limit() compiles to TakeOrderedAndProject
    # (per-partition partial top-k + k-row merge) — the distinct-path count
    # frame (combinatorial in |event types|^n_events) never crosses one
    # global rank window. The window below ranks only the k survivors.
    topk = counts.orderBy(F.col("n_users").desc(), F.col("path")).limit(k)
    # this window sees only the k limit survivors (WindowExec's
    # single-partition warning is a false alarm at k rows; the plan-shape
    # test asserts the window sits ABOVE the TakeOrderedAndProject)
    w = Window.orderBy(F.col("n_users").desc(), F.col("path"))
    return topk.withColumn("rank", F.row_number().over(w).cast("int"))


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """(state -> next state) transition counts per user history ordered by
    timestamp (Markov chain estimation over the event log).

    One shuffle: the lead() window orders each user's events; the
    transition count then combines map-side. Terminal events (no
    successor) are dropped. Ties on ts are broken by ``tiebreak_col`` so
    the chain — and therefore the counts — is deterministic cross-engine.
    """
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(tiebreak_col))
    nxt = F.lead(type_col).over(w)
    return (
        events.select(F.col(type_col).alias("from_type"), nxt.alias("to_type"))
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
    )


def funnel_windowed(
    events: DataFrame,
    steps: Sequence[str],
    window_seconds: int,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Windowed strict-order funnel: step i+1 counts only when it
    occurs STRICTLY AFTER step i's completion AND within
    ``window_seconds`` of it — the GA-style conversion window
    :func:`funnel_steps` (unbounded gaps) cannot express. With a
    timeout, greedy-earliest is NO longer optimal (an early step-0 can
    strand the chain that a later restart would complete), so the fold
    keeps, per step, the MOST RECENT completion time seen so far:
    the maximal predecessor r* both maximizes the window end and
    minimizes t - r*, so reachability under the kept state equals the
    full exists-chain (dominance). Same-timestamp events process
    HIGHER step first (sort key (tsu, n - idx)) so an equal-ts step-0
    overwrite cannot strand a same-instant successor — strictness
    stays exact.

    Plan shape: one groupBy(user) shuffle collecting the (bounded)
    per-user funnel history, one integer-micros struct fold, then a
    tiny histogram x steps reduction. The oracle is the INDEPENDENT
    unrolled EXISTS-join formulation (one semi-join per step), so the
    gate cross-proves the dominance argument.

    Returns one row per step: ``(step_idx, step, n_users)``.
    """
    steps = list(steps)
    n = len(steps)
    w_us = int(window_seconds) * 1_000_000
    idx = F.lit(None).cast("int")
    for i, s in enumerate(reversed(steps)):
        idx = F.when(F.col(type_col) == s,
                     F.lit(n - 1 - i)).otherwise(idx)
    ev = (events.filter(F.col(type_col).isin(steps)
                        & F.col(user_col).isNotNull()
                        & F.col(ts_col).isNotNull())
          .select(F.col(user_col).alias("user_id"),
                  F.unix_micros(F.col(ts_col)).alias("tsu"),
                  idx.alias("idx")))
    per_user = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct(
            F.col("tsu").alias("tsu"),
            (F.lit(n) - F.col("idx")).alias("rev"),
            F.col("idx").alias("idx")))).alias("h"))
    conds = ["e.idx = 0"]
    for j in range(1, n):
        conds.append(
            f"(e.idx = {j} AND acc.t{j - 1} IS NOT NULL"
            f" AND e.tsu > acc.t{j - 1}"
            f" AND e.tsu - acc.t{j - 1} <= {w_us}L)")
    seed = ", ".join(
        [f"'t{j}', CAST(NULL AS BIGINT)" for j in range(n)]
        + ["'m', 0"])
    fields = [f"'t0', CASE WHEN e.idx = 0 THEN e.tsu ELSE acc.t0 END"]
    for j in range(1, n):
        fields.append(
            f"'t{j}', CASE WHEN {conds[j]} THEN e.tsu"
            f" ELSE acc.t{j} END")
    m_case = " ".join(
        f"WHEN {conds[j]} THEN {j + 1}" for j in range(n - 1, -1, -1))
    fields.append(f"'m', greatest(acc.m, CASE {m_case} ELSE 0 END)")
    fold = F.expr(
        f"aggregate(h, named_struct({seed}), "
        f"(acc, e) -> named_struct({', '.join(fields)}))")
    um = per_user.select(fold.alias("_st")).select(
        F.col("_st.m").alias("m"))
    steps_df = local_frame(events.sparkSession, list(enumerate(steps)),
                           "step_idx int, step string")
    counts = (um.crossJoin(F.broadcast(steps_df))
              .where(F.col("m") >= F.col("step_idx") + 1)
              .groupBy("step_idx", "step")
              .agg(F.count(F.lit(1)).cast("bigint").alias("_n")))
    return (steps_df.join(counts, ["step_idx", "step"], "left")
            .select("step_idx", "step",
                    F.coalesce("_n", F.lit(0)).cast("bigint")
                    .alias("n_users")))


def sequence_match(
    turns: DataFrame,
    patterns: Sequence[tuple[str, str]],
    key: str = "conv_id",
    order_col: str = "turn_idx",
    symbol_col: str = "sym",
) -> DataFrame:
    """ClickHouse ``sequenceMatch``-style event-pattern detection: each
    ``key`` group's symbols concatenate in ``order_col`` order into one
    string, and every regex in ``patterns`` (name, pattern) is tested
    against it — "did a user turn eventually lead to a tool call then
    an assistant reply", "did two tool calls ever run back to back".

    Scale shape: ONE groupBy collapses the corpus to key cardinality
    (the conv_digest ordered fold — ``array_sort(collect_list(struct))``
    is deterministic because ``order_col`` is unique per key); all K
    patterns then evaluate in a single pass over that collapsed frame
    and reduce to ONE row, unpivoted to K rows via ``stack`` — no
    per-pattern job, no second shuffle. Patterns must stay in the
    RE2-compatible subset so Spark (java.util.regex) and the DuckDB
    oracle (RE2) agree; both engines' regex search is find-anywhere.

    ``share`` is the RAW double division of two exact int64 counts
    (never rounded — CLAUDE.md round() divergence note).

    Returns one row per pattern: ``(pattern, n_match, n_keys, share)``.
    """
    seq = turns.groupBy(key).agg(
        F.expr(
            f"array_join(transform(array_sort(collect_list("
            f"struct({order_col}, {symbol_col}))), "
            f"s -> s.{symbol_col}), '')").alias("_seq"))
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_keys")]
    for i, (_name, pat) in enumerate(patterns):
        aggs.append(
            F.sum(F.when(F.col("_seq").rlike(pat), 1).otherwise(0))
            .cast("bigint").alias(f"_m{i}"))
    one = seq.agg(*aggs)
    # Escape single quotes: names are interpolated into stack() SQL.
    stack_args = ", ".join(
        "'{}', _m{}".format(name.replace("'", "''"), i)
        for i, (name, _pat) in enumerate(patterns))
    out = one.selectExpr(
        f"stack({len(patterns)}, {stack_args}) AS (pattern, n_match)",
        "n_keys")
    return out.select(
        "pattern", "n_match", "n_keys",
        (F.col("n_match").cast("double") / F.col("n_keys").cast("double"))
        .alias("share"))


def attribution_credits(
    events: DataFrame,
    conversions: DataFrame,
    channel_col: str = "channel",
    user_col: str = "user_id",
    ts_col: str = "tsu",
    id_col: str = "event_id",
    max_touches: int = 9,
) -> DataFrame:
    """Multi-touch conversion attribution — first-touch, last-touch and
    linear credit per channel over each user's last ``max_touches``
    touchpoints before their conversion (the marketing-analytics
    workhorse; Shao & Li, KDD'11 survey the model family).

    ``events`` carries touches (user, channel, integer ts, id);
    ``conversions`` carries one row per converting user with ``conv_tsu``.
    Touches join their user's conversion (user-keyed shuffle), keep
    strictly-before rows, and a PARTITIONED recency window caps each
    user at ``max_touches`` — bounded state per user, the spill-safe
    cap discipline. Linear credit uses the map_eval lcm trick: with at
    most 9 touches, ``2520 / n`` is an EXACT integer per touch
    (2520 = lcm(1..9)), so per-channel credit sums stay int64 and the
    emitted ``linear`` share is one division of exact integers — never
    a float sum of 1/n terms (order-dependent across engines).

    Returns ``(channel, n_first, n_last, linear_scaled, linear)`` —
    ``linear`` in conversions (linear_scaled / 2520).
    """
    assert max_touches <= 9, "2520 = lcm(1..9) exactness bound"
    j = (events.join(conversions, user_col)
         .where(F.col(ts_col) < F.col("conv_tsu")))
    w_recent = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).desc(), F.col(id_col).desc())
    t = (j.withColumn("_rn", F.row_number().over(w_recent))
         .where(F.col("_rn") <= max_touches))
    w_n = Window.partitionBy(user_col)
    w_first = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc())
    t = t.select(
        user_col, channel_col,
        F.count(F.lit(1)).over(w_n).alias("_n"),
        F.row_number().over(w_first).alias("_rf"),
        F.col("_rn").alias("_rl"))
    return (t.groupBy(channel_col).agg(
        F.sum(F.when(F.col("_rf") == 1, 1).otherwise(0)).cast("bigint")
        .alias("n_first"),
        F.sum(F.when(F.col("_rl") == 1, 1).otherwise(0)).cast("bigint")
        .alias("n_last"),
        F.sum(F.expr("2520 div _n")).cast("bigint")
        .alias("linear_scaled"))
        .select(channel_col, "n_first", "n_last", "linear_scaled",
                (F.col("linear_scaled").cast("double") / F.lit(2520.0))
                .alias("linear")))
