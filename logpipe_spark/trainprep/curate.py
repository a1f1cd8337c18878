"""Corpus-curation operators: duplicate-cluster resolution, benchmark
decontamination, stratified sampling, sequence packing, PII scrubbing.

These extend the dedup/quality layer (``trainprep.dedup``, ``textqual``)
with the remaining steps a large-scale training-data pipeline runs between
"near-dup pairs found" and "corpus shipped to the tokenizer":

- pairs -> connected components -> one keeper per duplicate CLUSTER
  (pairwise dedup alone under-deletes: A~B, B~C must collapse to one doc
  even when A~C was never emitted as a pair);
- held-out benchmark decontamination (n-gram overlap against an eval set);
- per-stratum deterministic sampling (md5-ordered, so both engines and
  any two runs agree);
- token-budget sequence packing (contiguous bins per shard);
- regex PII redaction with per-doc redaction counts.

Everything is deterministic and built-in-function-only (no UDFs), so the
DuckDB oracles in ``__spark_entry__.oracle_sql`` reproduce results exactly.
Reference parity: the reference (a log pipeline, SURVEY.md §2) has none of
these; they are round-brief training-data extensions.

Scale notes (100 TB corpus, 1000 executors):
- ``connected_components`` is iterative min-label propagation: one
  shuffle join per round, rounds bounded by component diameter. Near-dup
  graphs are piles of tiny cliques (diameter ≤ 3-4 in practice), so the
  loop converges in a handful of rounds; ``max_iter`` guards the
  pathological chain. Each round ``localCheckpoint``s to truncate lineage
  (an unbounded iterative plan re-executes from the scan).
  :func:`dup_clusters` DEFAULTS to :func:`connected_components_star`
  (alternating large-star / small-star, Kiveris et al., O(log n) rounds
  with the same per-round join shape) because at 100 TB component shape
  is not known in advance and a chain-shaped component makes
  diameter-bounded propagation arbitrarily slow; pass
  ``algorithm='label'`` only when components are known tiny cliques.
- ``decontaminate`` is the same inverted-index shingle join as
  ``dedup.ngram_jaccard_pairs`` — candidates come from an equality join on
  shingle, never a doc×bench cross join; the benchmark side is tiny and
  broadcast. ``max_df`` caps boilerplate shingles (stop-gram posting
  lists) exactly like the dedup path.
- ``stratified_sample`` shuffles once on the stratum key; the per-stratum
  top-n window never materializes more than ``n_per_stratum`` winners per
  task after the rank filter (Spark's WindowExec streams rank pruning).
- ``pack_sequences`` partitions by shard and sorts within: at scale each
  shard is one task's worth of docs (no global sort — a single global
  ORDER BY would funnel the corpus through one reducer, which is exactly
  the shape this avoids).
- ``pii_scrub`` is a pure narrow codegen pass (regexp_replace), zero
  shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Connected components over near-dup pairs
# ---------------------------------------------------------------------------


def connected_components(pairs: DataFrame, id_a: str = "doc_a",
                         id_b: str = "doc_b", max_iter: int = 20) -> DataFrame:
    """Min-label propagation over an undirected edge list.

    Returns (node, component) where ``component`` is the smallest node id
    reachable from ``node``. Only nodes that appear in ``pairs`` are
    returned (singletons are their own component by definition and are
    handled by the caller's left join).

    One shuffle join per round; converges in diameter(G) rounds. Lineage
    is truncated per round with ``localCheckpoint`` so the plan stays flat.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    # edges is joined every round — evaluate it once
    edges = edges.localCheckpoint(eager=True)
    labels = edges.select(F.col("src").alias("node")).distinct() \
        .withColumn("component", F.col("node"))
    for _ in range(max_iter):
        # candidate label for each node = min over its neighbors' labels
        nbr_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src").agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
                (F.col("nbr_component") < F.col("component")).alias("_chg"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("_chg")).limit(1).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    else:
        # silent non-convergence ships WRONG components (a chain longer
        # than max_iter leaves multiple labels inside one true cluster
        # and dup_clusters under-deletes) — fail loud instead
        raise RuntimeError(
            f"connected_components: not converged after {max_iter} "
            "rounds — the graph has a component with diameter > "
            "max_iter; raise max_iter or use algorithm='star' "
            "(O(log n) rounds)")
    return labels


def dup_clusters(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                 id_a: str = "doc_a", id_b: str = "doc_b",
                 algorithm: str = "star") -> DataFrame:
    """Resolve near-dup PAIRS into per-document cluster assignments.

    Returns (doc_id, cluster_id, is_keeper) for every document: docs in no
    pair are their own singleton cluster; within a multi-doc cluster the
    keeper is the smallest doc_id (the deterministic canonical pick).
    ``docs.filter(is_keeper)`` is the deduplicated corpus.

    ``algorithm``: 'star' (default — :func:`connected_components_star`,
    large-star/small-star, O(log n) rounds regardless of component shape;
    the only safe default at 100 TB where a near-dup graph can contain
    chain-shaped components whose diameter exceeds any fixed round budget)
    or 'label' (min-label propagation, rounds = diameter — marginally
    cheaper per round when components are known to be tiny cliques).
    Identical output either way (asserted in tests).
    """
    cc = connected_components if algorithm == "label" \
        else connected_components_star
    comp = cc(pairs, id_a=id_a, id_b=id_b)
    return (
        docs.join(comp, docs[id_col] == comp.node, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
        )
        .withColumn(
            "is_keeper", (F.col(id_col) == F.col("cluster_id"))
        )
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap vs a held-out eval set)
# ---------------------------------------------------------------------------


def word_grams_col(k: int, words_col: str = "w") -> Column:
    """Word k-gram array from an ALREADY-MATERIALIZED words-array column;
    empty when the doc has fewer than k words.

    Two things here are load-bearing:
    - The guard: Spark's ``sequence(a, b)`` DESCENDS when a > b, so an
      unguarded ``sequence(1, size - k + 1)`` on a short doc indexes past
      the array and throws under ANSI mode.
    - Taking a words COLUMN instead of inlining ``split(text)``: the
      words array is referenced ~k+2 times inside this expression, and a
      column reference keeps Catalyst's CollapseProject from inlining the
      split into every use (an alias referenced more than once is not
      collapsed). Inlining re-splits the text per gram element — measured
      25× slower (9.5 s vs 0.37 s) on the sf0.1 corpus.
    """
    parts = ", ".join(f"element_at({words_col}, i + {j})" for j in range(k))
    return F.expr(
        f"CASE WHEN size({words_col}) >= {k} THEN "
        f"transform(sequence(1, size({words_col}) - {k - 1}), "
        f"i -> concat_ws(' ', {parts})) "
        f"ELSE array() END"
    )


def with_word_grams(df: DataFrame, text_col: str, k: int,
                    keep: list[str], out_col: str = "grams") -> DataFrame:
    """Project ``keep`` + a word-k-gram array column (split materialized
    once per row — see :func:`word_grams_col`)."""
    return (
        df.select(*keep, F.split(F.col(text_col), " ").alias("_w"))
        .select(*keep, word_grams_col(k, "_w").alias(out_col))
    )


def _word_shingle_sets(df: DataFrame, text_col: str, id_col: str,
                       k: int) -> DataFrame:
    """Distinct word k-grams per doc: (doc_id, shingle).

    explode_OUTER + isNotNull, not inner explode: the optimizer's
    InferFiltersFromGenerate rule copies an inner explode's whole input
    expression into a pushed-down size()>0 filter, re-evaluating the gram
    transform (split inlined) per row below the projection — measured 12×
    slower (4.1 s vs 0.33 s at sf0.1). grams never contains null elements
    (concat_ws is null-safe), so the post-filter only drops the one null
    row an empty array emits — identical output to inner explode.
    """
    g = with_word_grams(df.withColumnRenamed(id_col, "doc_id"),
                        text_col, k, keep=["doc_id"])
    return g.select(
        "doc_id",
        F.explode_outer(F.array_distinct("grams")).alias("shingle"),
    ).filter(F.col("shingle").isNotNull())


def decontaminate(docs: DataFrame, bench: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 5, min_overlap: int = 1,
                  max_df: int | None = None,
                  shared_id_space: bool = False) -> DataFrame:
    """Flag training docs sharing ≥ ``min_overlap`` distinct word k-grams
    with any benchmark doc (the standard n-gram decontamination test, cf.
    GPT-3 appendix C / most open-data pipelines).

    Returns (doc_id, bench_id, n_overlap) for contaminated (doc, bench)
    pairs. The join is shingle-keyed (inverted index): candidates are
    linear in the number of shared shingles, never |docs|×|bench|. The
    bench side's shingle table is small and broadcast. ``max_df`` drops
    shingles appearing in more than ``max_df`` training docs (boilerplate
    stop-grams) before the join, same lever as the dedup paths.
    """
    doc_sh = _word_shingle_sets(docs, text_col, id_col, k)
    if max_df is not None:
        w = Window.partitionBy("shingle")
        doc_sh = (
            doc_sh.withColumn("_df", F.count(F.lit(1)).over(w))
            .filter(F.col("_df") <= max_df).drop("_df")
        )
    bench_sh = (
        _word_shingle_sets(bench, text_col, id_col, k)
        .withColumnRenamed("doc_id", "bench_id")
    )
    joined = doc_sh.join(F.broadcast(bench_sh), "shingle")
    if shared_id_space:
        # ONLY when bench is carved out of the same corpus (one id
        # space) is doc_id == bench_id a self-pair to drop; with
        # independently-keyed tables that filter would silently delete
        # REAL contamination whenever the two id sequences collide
        joined = joined.filter(F.col("doc_id") != F.col("bench_id"))
    return (
        joined
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------


def stratified_sample(docs: DataFrame, stratum_col: str = "source",
                      n_per_stratum: int = 10,
                      id_col: str = "doc_id") -> DataFrame:
    """Take the ``n_per_stratum`` docs with the smallest md5(id) per
    stratum — a deterministic uniform sample (md5 is a uniform hash of the
    id, and identical in Spark and DuckDB, so both engines and any two
    runs pick the same rows; no RNG, no seed drift across retries).

    One shuffle on the stratum key; the rank filter prunes inside the
    window task so only n winners per stratum survive.
    """
    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col))
    return (
        docs.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n_per_stratum)
        .select(id_col, stratum_col, "sample_rank")
    )


# ---------------------------------------------------------------------------
# Token-budget sequence packing
# ---------------------------------------------------------------------------


def pack_sequences(docs: DataFrame, budget: int, shard_col: str = "source",
                   id_col: str = "doc_id", tokens_col: Column | None = None,
                   text_col: str = "text") -> DataFrame:
    """Assign docs to contiguous token-budget bins per shard (sequence
    packing for LLM pretraining: concatenate docs until ~``budget`` tokens,
    start the next sample).

    Within each shard (ordered by doc id) a doc's bin is
    ``floor(tokens_before_it / budget)`` — contiguous streaming packing
    with bin boundaries at budget multiples. Integer window arithmetic, so
    Spark and DuckDB agree bit-for-bit. Packing is per-shard BY DESIGN: a
    single global ORDER BY would serialize the corpus through one reducer;
    per-shard windows scale with the shard count.

    Returns (doc_id, shard, n_tokens, pack_offset, bin_id).
    """
    toks = tokens_col if tokens_col is not None \
        else F.size(F.split(F.col(text_col), " "))
    w = Window.partitionBy(shard_col).orderBy(id_col) \
        .rowsBetween(Window.unboundedPreceding, -1)
    return (
        docs.withColumn("n_tokens", toks.cast("bigint"))
        .withColumn(
            "pack_offset",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint"))
        .withColumn(
            "bin_id", F.expr(f"pack_offset div {int(budget)}"))
        .select(id_col, F.col(shard_col).alias("shard"), "n_tokens",
                "pack_offset", "bin_id")
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Backslash-free patterns (identical literals survive Spark-SQL and DuckDB
# string parsing; both engines' regex dialects agree on this subset).
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+"
PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_scrub(df: DataFrame, text_col: str = "text",
              out_col: str = "clean_text") -> DataFrame:
    """Redact emails and phone numbers; count redactions per row.

    Pure narrow codegen pass (regexp_replace / regexp_extract_all) — no
    shuffle, no UDF; at 100 TB this pipelines inside the scan stage.
    Adds ``out_col``, ``n_emails``, ``n_phones``.
    """
    c = F.col(text_col)
    return (
        df.withColumn(
            "n_emails",
            F.size(F.expr(f"regexp_extract_all({text_col}, '{EMAIL_RE}', 0)"))
            .cast("bigint"))
        .withColumn(
            "n_phones",
            F.size(F.expr(f"regexp_extract_all({text_col}, '{PHONE_RE}', 0)"))
            .cast("bigint"))
        .withColumn(
            out_col,
            F.regexp_replace(
                F.regexp_replace(c, EMAIL_RE, "<EMAIL>"),
                PHONE_RE, "<PHONE>"))
    )


def k_anonymity(df: DataFrame, quasi_cols: list[str], k: int = 5,
                sensitive_col: str | None = None) -> DataFrame:
    """Re-identification audit (Sweeney, IJUFKS 2002): group rows into
    equivalence classes on the quasi-identifier columns; a class smaller
    than ``k`` means its members are re-identifiable by joining those
    columns against an external dataset. The complement to
    :func:`pii_scrub` — scrubbing removes DIRECT identifiers, this
    measures what the remaining quasi-identifiers still leak before a
    corpus ships.

    Returns (quasi_cols..., class_size, at_risk) — plus
    ``n_sensitive`` = distinct sensitive values per class when
    ``sensitive_col`` is given (distinct-l-diversity: a k-anonymous
    class where everyone shares one sensitive value still discloses it;
    Machanavajjhala et al., TKDD 2007).

    One hash-aggregate shuffle on the quasi key — class counts and the
    distinct-sensitive count both partial-aggregate map-side, so the
    audit is a single pass regardless of corpus size. NULL is a
    quasi-value like any other (groupBy keeps NULL groups).
    """
    aggs = [F.count(F.lit(1)).alias("class_size")]
    if sensitive_col is not None:
        aggs.append(F.countDistinct(sensitive_col).alias("n_sensitive"))
    return (
        df.groupBy(*quasi_cols)
        .agg(*aggs)
        .withColumn("at_risk", F.col("class_size") < k)
    )


# ---------------------------------------------------------------------------
# Data-mixture sampling (token-budget per source)
# ---------------------------------------------------------------------------


def mix_budget_sample(docs: DataFrame, budget_tokens: int,
                      stratum_col: str = "source", id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Sample each stratum down to ~``budget_tokens`` tokens — the data-
    mixing step that rebalances source shares before training (e.g. cap
    every domain at N tokens).

    Docs are taken in md5(id) order (same deterministic coin as
    :func:`stratified_sample`); a doc is kept iff the cumulative token
    count BEFORE it is under the budget, so every stratum contributes
    ≥1 doc and at most one doc of overshoot. Integer window arithmetic —
    bit-identical across engines. One shuffle on the stratum key.

    Returns (doc_id, stratum, n_tokens, cum_before).
    """
    n_tokens = F.size(F.split(F.col(text_col), " ")).cast("bigint")
    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    w = Window.partitionBy(stratum_col).orderBy(*order) \
        .rowsBetween(Window.unboundedPreceding, -1)
    return (
        docs.withColumn("n_tokens", n_tokens)
        .withColumn(
            "cum_before",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint"))
        .filter(F.col("cum_before") < budget_tokens)
        .select(id_col, F.col(stratum_col).alias("stratum"), "n_tokens",
                "cum_before")
    )


def connected_components_star(pairs: DataFrame, id_a: str = "doc_a",
                              id_b: str = "doc_b",
                              max_iter: int = 30,
                              stats: dict | None = None) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the scale path :func:`connected_components`'s docstring
    promises: rounds bounded by O(log n) on ANY graph shape, vs label
    propagation's diameter(G) rounds (a 10^6-hop chain needs 10^6
    propagation rounds but ~20 star rounds).

    Per round each phase is one groupBy(min) + one join keyed on node id —
    the same shuffle shape as a propagation round, so the win is purely in
    round COUNT. Output matches :func:`connected_components`: (node,
    component) with component = min node id of the component (asserted
    equal on random graphs in tests/test_curate.py).

    ``stats``: optional dict; on return ``stats['rounds']`` records how
    many large/small-star rounds ran (scale benches assert the O(log n)
    bound empirically — see bench/dedup_chain_scale.py).
    """
    # symmetric edge list, self-loops dropped
    e = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .union(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = e.select(F.col("u").alias("node")).distinct() \
        .localCheckpoint(eager=True)

    def neighborhood_min(edges: DataFrame) -> DataFrame:
        return edges.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m"))

    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # LARGE-STAR: for every u, link its LARGER neighbors to
        # m = min(N(u) ∪ {u}). Input must be symmetric; output is the new
        # undirected edge set (emitted directed, re-symmetrized below).
        m = neighborhood_min(e)
        large = (
            e.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        sym = large.union(
            large.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        # SMALL-STAR: orient edges toward the smaller endpoint (keep
        # (u, v) with v < u), then link every small neighbor AND u itself
        # to m = min(N_small(u) ∪ {u}) = min(N_small(u)).
        small_in = sym.filter(F.col("v") < F.col("u"))
        m2 = small_in.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            small_in.join(m2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m2.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        new_e = small.union(
            small.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct().localCheckpoint(eager=True)
        # converged when the edge set is a star forest: every remaining
        # edge's larger endpoint has exactly one (minimal) neighbor, i.e.
        # another round would change nothing. Cheap check: the oriented
        # edge set equals its own small-star output <=> new_e == e.
        if new_e.count() == e.count() and \
                new_e.exceptAll(e).limit(1).count() == 0:
            e = new_e
            break
        e = new_e
    if stats is not None:
        stats["rounds"] = rounds
    # star forest -> labels: each non-root points at its component min;
    # roots are the mins themselves (appear only as v / as the min side)
    comp = (
        e.filter(F.col("v") < F.col("u"))
        .groupBy("u").agg(F.min("v").alias("component"))
        .select(F.col("u").alias("node"), "component")
    )
    return (
        nodes.join(comp, "node", "left")
        .select("node",
                F.coalesce(F.col("component"), F.col("node"))
                .alias("component"))
    )


def hash_split(docs: DataFrame, id_col: str = "doc_id",
               val_pct: int = 10) -> DataFrame:
    """Deterministic train/val split: a doc goes to 'val' iff the first 8
    md5 hex digits of its id, as an integer, fall in the lowest
    ``val_pct`` % of the hash space. Hash-based (not random) so the split
    is stable under re-runs, appends, and engine changes — the property
    an eval split MUST have at 100 TB (a random split re-rolls every run).
    """
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
               16, 10).cast("bigint")
    return docs.withColumn(
        "split",
        F.when(h % 100 < val_pct, F.lit("val")).otherwise(F.lit("train")),
    )


def split_leakage(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                  val_pct: int = 10) -> DataFrame:
    """Eval-leakage audit: count near-duplicate pairs that CROSS the
    train/val boundary — each one is a validation doc whose near-copy is
    trained on (the contamination a hash split alone cannot prevent;
    the fix is splitting by dup-CLUSTER, and this query is the detector
    that tells you how much it matters).

    Output: one row per (split_a, split_b) ordered pair class with the
    pair count — 'train'/'val' rows are the leaks.
    """
    s = hash_split(docs, id_col, val_pct).select(
        F.col(id_col), F.col("split"))
    a = s.select(F.col(id_col).alias("doc_a"), F.col("split").alias("split_a"))
    b = s.select(F.col(id_col).alias("doc_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
    id_col: str = "doc_id",
    rank_bucket: int = 4096,
) -> DataFrame:
    """Quantile-normalize ``value_col`` ACROSS groups: replace each row's
    value with the pooled corpus value at the same within-group quantile,
    so every group ends up with the identical (pooled) distribution —
    the standard cross-source calibration before length/quality cuts
    ("src7's scores run hot; compare ranks, not raw values").

    Discrete and integer-exact end to end (no interpolation, so the
    output hash-matches any engine): row's within-group quantile is the
    midrank q = (2·rn − 1)/(2·n_g); its pooled target rank is
    ceil(q·N), computed in INTEGER arithmetic — exact while
    2·rn·N < 2^63 (N ≲ 2e9 at equal group sizes; past that the products
    need decimal(38)).

    Plan, three shuffles, none global and none group-count-bounded:
    1. within-group ranks WITHOUT a per-group sort: a naive
       row_number() over (group) caps parallelism at #groups (12
       sources = 12 tasks no matter the corpus — measured 2.9× wall at
       2× rows). Instead the rank decomposes as
       exclusive-cum-count(values below) + row_number within the
       (group, value) TIE cell: the cum counts run the two-level
       bucketed prefix scan (operators/drift.py:bucketed_cumsum) and
       the tiebreak windows partition on (group, value) — parallelism
       scales with distinct cells, not groups.
    2. pooled rank intervals the same way (no global sort): per
       distinct value counts, bucketed prefix scan, interval
       [cum−cnt+1, cum] per value.
    3. target_rank → pooled value is a bucketed interval join on the
       RANK axis (each rank meets its covering interval in exactly one
       rank-bucket — the rangejoin.py trick), never a BNL join.

    Returns (id, group, value, rank_in_group, n_group, norm_value).
    """
    from pyspark.sql import Window

    from logpipe_spark.operators.drift import bucketed_cumsum

    v = F.col(value_col).cast("bigint")
    base = df.where(v.isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        v.alias("val"),
    )
    per_gv = base.groupBy("grp", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("_cnt"))
    starts = bucketed_cumsum(per_gv, "grp", ["_cnt"],
                             value_col="val").select(
        "grp", "val",
        (F.col("cum__cnt") - F.col("_cnt")).alias("_start"))
    n_groups = per_gv.groupBy("grp").agg(
        F.sum("_cnt").cast("bigint").alias("n_group"))
    w_tie = Window.partitionBy("grp", "val").orderBy("id")
    # NULL-SAFE joins on grp: a NULL group is a real group here (window
    # partitions treat NULL as one key, and the pre-rewrite row_number
    # formulation ranked it) — a plain equi-join would silently DROP
    # null-group rows while they still counted in the pooled total.
    st = starts.select(F.col("grp").alias("_sg"),
                       F.col("val").alias("_sv"), "_start")
    ng = n_groups.select(F.col("grp").alias("_ng"), "n_group")
    ranked = (
        base.join(st, F.col("grp").eqNullSafe(F.col("_sg"))
                  & (F.col("val") == F.col("_sv")))
        .drop("_sg", "_sv")
        .withColumn(
            "rn",
            (F.col("_start") + F.row_number().over(w_tie)).cast("bigint"))
        .join(F.broadcast(ng), F.col("grp").eqNullSafe(F.col("_ng")))
        .drop("_ng", "_start")
    )
    total = base.agg(F.count(F.lit(1)).cast("bigint").alias("_nt"))
    # ceil(((2rn−1)·N) / (2n_g)) in pure INTEGER math: add (den−1), then
    # truncating integer division — Spark's `div`, DuckDB's `//`
    ranked = (
        ranked.crossJoin(F.broadcast(total))
        .withColumn("_num",
                    (F.lit(2) * F.col("rn") - 1) * F.col("_nt")
                    + F.lit(2) * F.col("n_group") - 1)
        .withColumn("_den", F.lit(2) * F.col("n_group"))
        .withColumn("_tr", F.expr("_num div _den").cast("bigint"))
        .drop("_nt", "_num", "_den")
    )

    per_val = base.groupBy("val").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"))
    pooled = bucketed_cumsum(
        per_val.withColumn("_all", F.lit(1)),
        "_all", ["cnt"], value_col="val",
    ).select(
        F.col("val").alias("norm_value"),
        (F.col("cum_cnt") - F.col("cnt") + 1).alias("_lo"),
        F.col("cum_cnt").alias("_hi"),
    )
    wb = F.lit(int(rank_bucket))
    iv = pooled.withColumn(
        "_rbkt",
        F.explode(F.sequence(F.floor(F.col("_lo") / wb),
                             F.floor(F.col("_hi") / wb))))
    pt = ranked.withColumn("_rbkt", F.floor(F.col("_tr") / wb))
    return (
        pt.join(iv, "_rbkt")
        .where((F.col("_tr") >= F.col("_lo")) & (F.col("_tr") <= F.col("_hi")))
        .select(
            F.col("id").alias(id_col),
            F.col("grp").alias(group_col),
            F.col("val").alias(value_col),
            F.col("rn").alias("rank_in_group"),
            "n_group",
            "norm_value",
        )
    )


def vocab_overlap(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    min_shared: int = 1,
) -> DataFrame:
    """Pairwise vocabulary Jaccard between groups (sources): which
    sources are lexical near-copies of each other — the GROUP-level
    redundancy scan that runs before any doc-level dedup ("src3 is a
    mirror of src7; drop one feed, not 10M individual docs").

    Reuses the cooccurrence engine (operators/assoc.py) with the roles
    flipped: baskets = TERMS, items = the sources containing them — so
    n_a is source a's vocabulary size, n_ab the shared vocabulary, and
    the per-basket pair fan-out is bounded by C(#sources, 2) no matter
    how hot the term (a stop word adds one row per source pair, not per
    occurrence). jaccard = n_ab / (n_a + n_b − n_ab), a raw double from
    exact integers.

    Returns (group_a, group_b, vocab_a, vocab_b, shared, jaccard) with
    group_a < group_b.
    """
    from logpipe_spark.operators.assoc import cooccurrence_lift

    terms = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(
            F.array_distinct(F.split(F.col(text_col), " "))).alias("term"),
    ).where(F.col("term") != "")
    pairs = cooccurrence_lift(terms, "term", "grp",
                              min_pair_count=min_shared)
    return pairs.select(
        F.col("item_a").alias("group_a"),
        F.col("item_b").alias("group_b"),
        F.col("n_a").alias("vocab_a"),
        F.col("n_b").alias("vocab_b"),
        F.col("n_ab").alias("shared"),
        (F.col("n_ab")
         / (F.col("n_a") + F.col("n_b") - F.col("n_ab")).cast("double"))
        .alias("jaccard"),
    )


def chunk_documents(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", chunk_words: int = 32,
                    stride: int = 24) -> DataFrame:
    """Split documents into overlapping word-window chunks — the
    RAG/embedding-prep companion to :func:`pack_sequences` (packing
    fills a budget with whole docs; chunking cuts one long doc into
    model-window pieces with ``chunk_words - stride`` words of overlap
    so no boundary context is lost).

    Chunk starts are 1, 1+stride, 1+2·stride … while ≤ n_words; each
    chunk is ``words[start : start+chunk_words-1]`` clamped to the doc
    end (trailing chunks are shorter — deterministic rule, mirrored in
    the oracle). Pure codegen: split once (materialized words column —
    CollapseProject discipline), sequence/transform/slice, one
    posexplode; zero shuffle; chunk_id = (doc_id, chunk_idx) is stable
    so downstream dedup/embedding runs are incremental per shard.

    Returns (doc_id, chunk_idx, chunk_text, n_chunk_words, start_word).
    """
    if stride <= 0 or chunk_words <= 0:
        raise ValueError("chunk_words and stride must be positive")
    w = docs.select(F.col(id_col).alias("doc_id"),
                    F.split(F.col(text_col), " ").alias("_w"))
    chunks = F.expr(
        f"transform(sequence(1, greatest(size(_w), 1), {stride}), "
        f"s -> struct(s AS start_word, "
        f"concat_ws(' ', slice(_w, s, {chunk_words})) AS chunk_text, "
        f"size(slice(_w, s, {chunk_words})) AS n_chunk_words))")
    e = (w.select("doc_id", F.posexplode_outer(chunks)
                  .alias("chunk_idx", "c"))
         .filter(F.col("c").isNotNull()))
    return e.select(
        "doc_id", F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_chunk_words").cast("int").alias("n_chunk_words"),
        F.col("c.start_word").cast("int").alias("start_word"))


def span_corruption_plan(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", span_len: int = 3,
                         start_den: int = 20) -> DataFrame:
    """T5-style span-corruption PLAN (Raffel et al. 2020 §3.1.4): for
    each document, deterministically choose mask spans — position p
    starts a span iff the first 8 md5 hex digits of ``"id:p"`` (as an
    integer) are ≡ 0 mod ``start_den`` (≈ 1/start_den of positions;
    defaults give the classic ~15% noise density at mean span 3) —
    then merge overlapping spans into maximal mask intervals.

    Hash-based, not random, for the same reason as :func:`hash_split`:
    a 100 TB corpus re-masks IDENTICALLY under re-runs, appends, and
    engine changes, so the plan is reproducible and auditable. The
    span merge is the :func:`~logpipe_spark.trainprep.dedup.dup_spans`
    lead-window identity (each start contributes
    ``min(span_len, n - p + 1, next_start - p)`` covered tokens); span
    COUNT is the lag-window dual (a start opens a new interval iff the
    previous start cannot reach it).

    Scale shape: the position explode is a narrow projection filtered
    to ~1/start_den before the only shuffle; windows partition by doc.

    Returns one row per doc: ``(doc_id, n_tokens, n_starts, n_spans,
    masked_tokens, mask_ratio)`` — zero-mask docs included.
    """
    L = int(span_len)
    d = (docs.withColumnRenamed(id_col, "doc_id")
         .where(F.col(text_col).isNotNull()))
    n = d.select("doc_id",
                 F.size(F.split(F.col(text_col), " ")).alias("n_tokens"))
    # explode_outer + isNotNull: InferFiltersFromGenerate would copy the
    # sequence() input into an inferred pushed filter, building every
    # doc's position array twice (CLAUDE.md Catalyst-trap #2)
    pos = (n.select(
        "doc_id", "n_tokens",
        F.explode_outer(F.sequence(F.lit(1), F.col("n_tokens")))
        .alias("p"))
        .where(F.col("p").isNotNull()))
    h = F.conv(
        F.substring(F.md5(F.concat_ws(
            ":", F.col("doc_id").cast("string"),
            F.col("p").cast("string"))), 1, 8),
        16, 10).cast("bigint")
    starts = pos.where(h % F.lit(int(start_den)) == 0)
    w = Window.partitionBy("doc_id").orderBy("p")
    iv = (starts
          .withColumn("_nxt", F.lead("p").over(w))
          .withColumn("_prv", F.lag("p").over(w)))
    per = iv.select(
        "doc_id", "n_tokens",
        F.least(F.lit(L), F.col("n_tokens") - F.col("p") + 1,
                F.coalesce(F.col("_nxt") - F.col("p"), F.lit(L)))
        .alias("_c"),
        F.when(F.col("_prv").isNull()
               | (F.col("p") - F.col("_prv") >= L), 1)
        .otherwise(0).alias("_new"))
    agg = per.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_starts"),
        F.sum("_new").cast("bigint").alias("n_spans"),
        F.sum("_c").cast("bigint").alias("masked_tokens"))
    return (
        n.join(agg, "doc_id", "left")
        .select(
            "doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.coalesce("n_starts", F.lit(0)).cast("bigint")
            .alias("n_starts"),
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("masked_tokens", F.lit(0)).cast("bigint")
            .alias("masked_tokens"),
            (F.coalesce("masked_tokens", F.lit(0)).cast("double")
             / F.col("n_tokens")).alias("mask_ratio"))
    )


def preference_pairs(cands: DataFrame, group_col: str, cand_col: str,
                     score, min_margin: int = 1) -> DataFrame:
    """DPO/RLHF preference-pair mining: per ``group_col`` prompt group,
    the best-scoring candidate becomes ``chosen`` and the worst becomes
    ``rejected``, kept only when the margin clears ``min_margin`` —
    the chosen/rejected extraction every preference-tuning corpus needs
    (Rafailov et al. 2023 take exactly this pair shape as input).

    Two PARTITIONED rank windows under total orders (score desc/asc
    with the candidate id as tiebreak — deterministic under ties, the
    golden_record discipline), joined back on the group. Groups with a
    single candidate or an all-tied score margin < ``min_margin`` drop
    out structurally (chosen == rejected ⇒ margin 0). Margins stay
    exact integers when ``score`` is integer-valued.

    Returns ``(group, chosen_id, chosen_score, rejected_id,
    rejected_score, margin)``.
    """
    s = cands.where(F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("_g"), F.col(cand_col).alias("_id"),
        score.alias("_s"))
    w_hi = Window.partitionBy("_g").orderBy(
        F.col("_s").desc(), F.col("_id").asc())
    w_lo = Window.partitionBy("_g").orderBy(
        F.col("_s").asc(), F.col("_id").asc())
    hi = (s.withColumn("_rn", F.row_number().over(w_hi))
          .where(F.col("_rn") == 1)
          .select(F.col("_g"), F.col("_id").alias("chosen_id"),
                  F.col("_s").alias("chosen_score")))
    lo = (s.withColumn("_rn", F.row_number().over(w_lo))
          .where(F.col("_rn") == 1)
          .select(F.col("_g"), F.col("_id").alias("rejected_id"),
                  F.col("_s").alias("rejected_score")))
    return (hi.join(lo, "_g")
            .where((F.col("chosen_score") - F.col("rejected_score"))
                   >= min_margin)
            .select(F.col("_g").alias(group_col),
                    "chosen_id", "chosen_score",
                    "rejected_id", "rejected_score",
                    (F.col("chosen_score") - F.col("rejected_score"))
                    .alias("margin")))


def kfold_balance(docs: DataFrame, id_col: str = "doc_id",
                  stratum_col: str = "source", k: int = 5) -> DataFrame:
    """Deterministic stratified k-fold audit: assign every doc to a
    fold by the stable first-8-hex md5 integer mod ``k`` (the
    hash_split discipline — the assignment an eval pipeline MUST be
    able to reproduce at 100 TB) and report each (stratum, fold)'s
    size and within-stratum share, the balance evidence a cross-
    validation split needs before anyone trains on it.

    One combinable (stratum, fold) count; the per-stratum total joins
    back from the stratum-cardinality re-aggregate. Shares are single
    divisions of exact integers.

    Returns ``(stratum, fold, n, n_stratum, share)``.
    """
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
               16, 10).cast("bigint")
    per = (docs.where(F.col(id_col).isNotNull()
                      & F.col(stratum_col).isNotNull())
           .select(F.col(stratum_col).alias("stratum"),
                   (h % k).cast("int").alias("fold"))
           .groupBy("stratum", "fold")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    tot = per.groupBy("stratum").agg(
        F.sum("n").cast("bigint").alias("n_stratum"))
    return (per.join(tot, "stratum")
            .select("stratum", "fold", "n", "n_stratum",
                    (F.col("n").cast("double")
                     / F.col("n_stratum").cast("double")).alias("share")))


def class_weights(df: DataFrame, label_col: str) -> DataFrame:
    """Balanced class weights for a label column — sklearn's
    ``class_weight='balanced'`` formula ``n_total / (n_classes · n_c)``
    (King & Zeng 2001 give the statistical grounding), the loss-
    reweighting table an imbalanced fine-tuning run feeds its sampler.

    One combinable label count; totals re-aggregate the class-
    cardinality frame and broadcast back; each weight is a single
    division of exact int64 counts.

    Returns ``(label, n, weight)``.
    """
    labels = (df.where(F.col(label_col).isNotNull())
              .groupBy(F.col(label_col).alias("label"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    tot = labels.agg(F.sum("n").cast("bigint").alias("_tot"),
                     F.count(F.lit(1)).cast("bigint").alias("_k"))
    return (labels.crossJoin(F.broadcast(tot))
            .select("label", "n",
                    (F.col("_tot").cast("double")
                     / (F.col("_k").cast("double")
                        * F.col("n").cast("double"))).alias("weight")))


def t_closeness(df: DataFrame, quasi_cols: list[str], value,
                bucket_width: int = 1024, min_n: int = 1) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007): per
    quasi-identifier equivalence class, the earth-mover distance between
    the class's SENSITIVE-value distribution and the corpus-wide one,
    normalized by the attribute range — the disclosure measure
    k-anonymity and l-diversity miss (a k-anonymous, l-diverse class
    whose salary distribution sits far from the population's still
    leaks). Completes the privacy triple with :func:`k_anonymity`
    (class size + distinct-l via ``sensitive_col``).

    Reuses the drift module's ORDER-FREE W1 integer identity
    (``wasserstein_from_counts``): the class-vs-global count frame is
    the (key, v, ca, cb) state with ca = class counts and cb = GLOBAL
    counts replicated per class, so the numerator is a sum of exact
    int64 products — no fold, no bounded-support fragility — and
    t = W1 / (v_max - v_min) is a division of exact integers.

    Scale note: the dense fan-out is classes x support rows (every
    class must see every global support point — between its own points
    the class CDF is constant but the global CDF is not). Bucket the
    sensitive value (the ks/hellinger discipline) so support is
    bounded; audit cost is then classes x B, not corpus-sized.

    Returns ``(quasi_cols..., class_size, n_total, w1, value_range,
    t)`` — t in [0, 1]. When the global support is a single point,
    ``wasserstein_from_counts`` has no gap to integrate and drops the
    class, so such classes are absent from the output, not NULL.
    """
    from logpipe_spark.operators.drift import wasserstein_from_counts

    vi = value.cast("bigint")
    base = df.where(vi.isNotNull()).select(*quasi_cols, vi.alias("_v"))
    # JSON of the quasi struct: an injective class key (a separator-joined
    # string merges classes whose values contain the separator)
    qkey = F.to_json(F.struct(*quasi_cols))
    rows = base.select(qkey.alias("_q"), *quasi_cols, "_v")
    cls = (rows.groupBy("_q", *quasi_cols, "_v")
           .agg(F.count(F.lit(1)).cast("bigint").alias("_cc")))
    glob = (rows.groupBy("_v")
            .agg(F.count(F.lit(1)).cast("bigint").alias("_cg")))
    classes = cls.select("_q", *quasi_cols).distinct()
    # dense class x support grid, class counts zero-filled
    grid = (classes.crossJoin(F.broadcast(glob.select("_v", "_cg")))
            .join(cls.select("_q", F.col("_v"), "_cc"), ["_q", "_v"],
                  "left")
            .select("_q", *quasi_cols, F.col("_v").alias("v"),
                    F.coalesce(F.col("_cc"), F.lit(0)).cast("bigint")
                    .alias("ca"),
                    F.col("_cg").alias("cb")))
    w1 = wasserstein_from_counts(
        grid.select("_q", "v", "ca", "cb"), "_q",
        bucket_width=bucket_width, min_n=min_n)
    rng = glob.agg((F.max("_v") - F.min("_v")).cast("bigint")
                   .alias("_range"))
    out = w1.join(classes, "_q").crossJoin(F.broadcast(rng))
    return out.select(
        *quasi_cols,
        F.col("n_a").alias("class_size"),
        F.col("n_b").alias("n_total"),
        F.col("wasserstein").alias("w1"),
        F.col("_range").alias("value_range"),
        F.when(F.col("_range") > 0,
               F.col("wasserstein") / F.col("_range").cast("double"))
        .alias("t"))
