"""Text analysis for training-data curation: language-ID (n-gram heuristic),
quality scoring, BPE-ish token counting, document fingerprinting.

All pure JVM expressions (no UDFs): occurrence counting via
``(len(s) - len(replace(s, pat, ''))) / len(pat)`` compiles to codegen'd
string ops; fingerprinting folds ``md5`` over character 8-grams with
``transform`` + ``array_min`` (winnowing-style min-gram fingerprint).
At 100 TB each of these is a narrow map stage — no shuffle at all until the
caller aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language substring profiles for the n-gram heuristic. The
# priority order below (first match wins on ties) is part of the contract.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "ing", " a "],
    "de": ["der", "sch", "ein", "und"],
    "fr": ["les", "ent", "que", "des"],
    "es": ["los", "ado", "ion", "nte"],
    "zh": ["shi", "zho", "ang", "eng"],
}
LANG_ORDER = list(LANG_PROFILES.keys())

STOPWORDS = ["the", "a", "of", "and", "in", "to", "is"]


def _occ_simple(col: Column, pat: str) -> Column:
    # literal replace-based count (no regex) — identical across engines
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(pat), F.lit(""))))
        / F.lit(len(pat))
    ).cast("int")


def _padded_wide(text: Column) -> Column:
    # space-DOUBLED padding: a non-overlapping replace-count of ' w '
    # consumes the shared separator space, so runs of adjacent
    # space-delimited hits ('of of of') undercount; doubling every space
    # first gives each occurrence its own delimiters (substring n-gram
    # patterns without internal spaces are unaffected)
    return F.concat(F.lit(" "),
                    F.replace(text, F.lit(" "), F.lit("  ")),
                    F.lit(" "))


def lang_scores(text: Column) -> dict[str, Column]:
    padded = _padded_wide(text)
    return {
        lang: sum(
            (_occ_simple(padded, p) for p in pats),
            start=F.lit(0),
        ).alias(f"s_{lang}")
        for lang, pats in LANG_PROFILES.items()
    }


def lang_id(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Predict language by profile-substring hit count, priority-ordered argmax.

    Returns (doc_id, pred_lang, lang, is_match) so curation can measure
    agreement with upstream labels.
    """
    scores = lang_scores(F.col(text_col))
    d = docs.select(F.col(id_col).alias("doc_id"), F.col("lang"),
                    *scores.values())
    pred = None
    for lang in reversed(LANG_ORDER):
        cond = None
        for other in LANG_ORDER:
            if other == lang:
                continue
            c = F.col(f"s_{lang}") >= F.col(f"s_{other}")
            cond = c if cond is None else (cond & c)
        pred = (F.when(cond, F.lit(lang)) if pred is None
                else F.when(cond, F.lit(lang)).otherwise(pred))
    # reversed loop means earlier languages in LANG_ORDER take precedence
    return d.select(
        "doc_id",
        pred.alias("pred_lang"),
        "lang",
        (pred == F.col("lang")).alias("is_match"),
    )


def quality_score(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality score from length / stopword ratio / mean token length.

    score = 0.5·min(n_tokens/100, 1) + 0.3·min(5·stop_ratio, 1)
          + 0.2·[3 ≤ mean_token_len ≤ 8]

    computed as a single integer-numerator fraction
    ``num / (200·n_tokens)`` and emitted UNROUNDED: with identical integer
    operands the division yields a bit-identical double in Spark and the
    DuckDB oracle, whereas engine round() implementations disagree on
    shortest-decimal-repr boundaries (Spark BigDecimal.valueOf vs DuckDB
    scale-and-round).
    """
    text = F.col(text_col)
    padded = _padded_wide(text)  # overlap-safe stopword runs (see helper)
    n_chars = F.length(text)
    n_tokens = F.size(F.split(text, " "))
    stop_hits = sum(
        (_occ_simple(padded, f" {w} ") for w in STOPWORDS), start=F.lit(0))
    mean_tok = (n_chars - (n_tokens - 1)) / n_tokens
    num2 = n_chars - n_tokens + 1  # = mean_tok * n_tokens (integer)
    ind = F.when((num2 >= 3 * n_tokens) & (num2 <= 8 * n_tokens),
                 F.lit(1)).otherwise(F.lit(0))
    num = (
        F.least(n_tokens, F.lit(100)) * n_tokens
        + F.lit(60) * F.least(stop_hits * 5, n_tokens)
        + F.lit(40) * n_tokens * ind
    )
    score = num / (n_tokens * 200)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_chars.cast("int").alias("n_chars"),
        n_tokens.cast("int").alias("n_tokens"),
        stop_hits.cast("int").alias("stop_hits"),
        mean_tok.alias("mean_token_len"),
        score.alias("quality"),
    )


def gopher_quality(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   min_words: int = 50, max_words: int = 100_000) -> DataFrame:
    """Gopher/MassiveText-style composite quality gate (Rae et al. 2021,
    public heuristics). Five rules, each an integer comparison so the gate
    and every reported ratio are bit-identical cross-engine:

    - word count in [min_words, max_words]
    - mean word length in [3, 10]   (sum_len ⋚ k·n_words — no division)
    - symbol-to-word ratio ≤ 0.1    (symbols = '#' and '...')
    - ≥ 80% of words contain an alphabetic character
    - ≥ 2 distinct stopwords present

    The corpus is single-line, so the paper's bullet-line / ellipsis-line
    ratios (line-level rules) degenerate to constants and are omitted;
    the ellipsis count is retained inside the symbol ratio. Pure codegen
    (split + filter + literal replace counts) — a narrow map stage, zero
    shuffle. Complements :func:`quality_score` (a scalar score) with the
    pass/fail gate shape an actual curation pipeline filters on, and
    :func:`repetition_score` (the paper's repetition rules).
    """
    text = F.col(text_col)
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    words = F.split(text, " ")
    n_words = F.col("n_words")
    sum_len = F.col("sum_len")
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(words).alias("n_words"),
        # total word chars = chars minus the single separators
        (F.length(text) - (F.size(words) - 1)).alias("sum_len"),
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
        .alias("n_alpha_words"),
        (_occ_simple(text, "#") + _occ_simple(text, "...")).alias("n_symbols"),
        sum((F.when(F.contains(padded, F.lit(f" {w} ")), 1).otherwise(0)
             for w in STOPWORDS), start=F.lit(0)).alias("n_stop_kinds"),
    )
    rules = {
        "r_wordcount": (n_words >= min_words) & (n_words <= max_words),
        "r_meanlen": (sum_len >= 3 * n_words) & (sum_len <= 10 * n_words),
        "r_symbol": 10 * F.col("n_symbols") <= n_words,
        "r_alpha": 10 * F.col("n_alpha_words") >= 8 * n_words,
        "r_stop": F.col("n_stop_kinds") >= 2,
    }
    keep = None
    for c in rules.values():
        keep = c if keep is None else (keep & c)
    return d.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        (sum_len / n_words).alias("mean_word_len"),
        (F.col("n_symbols") / n_words).alias("symbol_ratio"),
        (F.col("n_alpha_words") / n_words).alias("alpha_frac"),
        F.col("n_stop_kinds").cast("int").alias("n_stop_kinds"),
        *[cond.alias(name) for name, cond in rules.items()],
        keep.alias("keep"),
    )


def bpe_ish_token_count(text: Column) -> Column:
    """Token count under a BPE-ish segmentation: letter runs (either case),
    digit runs, single punctuation marks each count as one token."""
    return F.size(F.regexp_extract_all(
        text, F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), 0))


def doc_fingerprint(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", gram: int = 8) -> DataFrame:
    """Winnowing-style fingerprint: min over char-`gram`-grams of md5(gram).

    Texts shorter than `gram` hash whole. Identical (even shifted /
    lightly-edited sharing the minimizing gram) docs collide — groupBy the
    fingerprint for candidate clusters. Pure codegen: sequence → transform
    → array_min, no explode (no row blowup).
    """
    fp = F.expr(
        f"array_min(transform(sequence(1, greatest(length({text_col}) - {gram - 1}, 1)), "
        f"i -> md5(substring({text_col}, i, {gram}))))"
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        fp.alias("fingerprint"),
        bpe_ish_token_count(F.col(text_col)).alias("n_bpe_tokens"),
    )


def repetition_score(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Intra-document repetition: fraction of duplicated word k-grams
    (the Gopher/MassiveText "repetitious document" quality rule — docs
    whose text loops over the same phrases score high and get filtered).

    rep_ratio = (n_grams - n_distinct) / n_grams, emitted as an exact
    integer-operand division (bit-identical in Spark and DuckDB — see
    quality_score's note on why round() is avoided). Pure codegen:
    sequence/transform/array_distinct, no explode, zero shuffle.
    """
    from logpipe_spark.trainprep.curate import with_word_grams
    g = with_word_grams(docs.withColumnRenamed(id_col, "doc_id"),
                        text_col, k, keep=["doc_id"])
    # materialize the counts as columns: referencing the grams expression
    # from multiple output columns would re-evaluate it per reference
    # (CollapseProject inlines single-use aliases only — see word_grams_col)
    counts = g.select(
        "doc_id",
        F.size("grams").alias("n_grams"),
        F.size(F.array_distinct("grams")).alias("n_distinct"),
    )
    n_grams, n_distinct = F.col("n_grams"), F.col("n_distinct")
    ratio = F.when(n_grams > 0, (n_grams - n_distinct) / n_grams) \
        .otherwise(F.lit(0.0))
    return counts.select(
        "doc_id",
        n_grams.cast("int").alias("n_grams"),
        n_distinct.cast("int").alias("n_distinct"),
        ratio.alias("rep_ratio"),
    )


def top_ngrams(docs: DataFrame, text_col: str = "text", k: int = 2,
               top: int = 50) -> DataFrame:
    """Corpus-level most-frequent word k-grams (the counting pass a BPE /
    vocabulary-induction step runs over the corpus).

    Plan: explode grams -> map-side-combining count -> distributed top-k
    (TakeOrderedAndProject) -> rank over the k survivors. At 100 TB the
    explode is the dominant cost but stays narrow; the count shuffles
    n_distinct_grams rows (corpus-vocabulary-sized, not corpus-sized), and
    the top-k never funnels that vocabulary through one task.
    Ties broken lexically so the top-k is deterministic cross-engine.
    """
    from logpipe_spark.trainprep.curate import with_word_grams
    g = with_word_grams(docs, text_col, k, keep=[])
    counts = (
        # explode_outer dodges InferFiltersFromGenerate re-evaluating the
        # gram transform in a pushed filter (12x -- see _word_shingle_sets)
        g.select(F.explode_outer("grams").alias("ngram"))
        .filter(F.col("ngram").isNotNull())
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window
    # Distributed top-k: orderBy().limit() compiles to TakeOrderedAndProject
    # (per-partition partial top-k, then a k-row merge on one task) — the
    # vocabulary-sized count frame never funnels through a global rank
    # window. The rank window below sees only the k survivors.
    topk = counts.orderBy(F.col("n").desc(), F.col("ngram")).limit(top)
    # this window sees only the k limit survivors (WindowExec's
    # single-partition warning is a false alarm at k rows; the plan-shape
    # test asserts the window sits ABOVE the TakeOrderedAndProject)
    w = Window.orderBy(F.col("n").desc(), F.col("ngram"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("ngram", "n", F.col("rank").cast("int").alias("rank"))
    )


def corpus_term_df(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Document frequency per word: (word, df). One distinct + one count —
    the shuffle carries one row per (doc, distinct word), then one per
    vocabulary term. The building block for strip_boilerplate/doc_keywords.
    """
    words = (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.split(F.col(text_col), " ").alias("_w"))
        # explode_outer + isNotNull: dodge InferFiltersFromGenerate
        # re-evaluating the split in a pushed-down filter (see
        # _word_shingle_sets in curate.py — measured 12x)
        .select("doc_id", F.explode_outer("_w").alias("word"))
        .filter(F.col("word").isNotNull())
    )
    return (
        words.distinct()
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )


def strip_boilerplate(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      max_df_num: int = 1, max_df_den: int = 2) -> DataFrame:
    """Boilerplate-term removal (CCNet-style corpus cleaning): delete words
    whose document frequency exceeds ``max_df_num/max_df_den`` of the
    corpus, preserving the order and multiplicity of surviving words.

    The threshold compare is INTEGER (df * den > n_docs * num) so the
    stop-set is bit-identical cross-engine — no fraction doubles.
    Order preservation is why this is ``filter(array, lambda)`` and not
    ``array_except`` (which dedups and cannot express multiplicity).

    Scale: the stop-set is at most vocabulary-sized and in practice tiny
    (only near-ubiquitous terms pass the threshold), so it travels as a
    one-row broadcast; the cleaning pass itself is narrow — no shuffle
    touches the corpus text. Returns (doc_id, clean_text, n_removed).
    """
    df_counts = corpus_term_df(docs, text_col, id_col)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    stops = (
        df_counts.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * max_df_den > F.col("n_docs") * max_df_num)
        .agg(F.sort_array(F.collect_list("word")).alias("stops"))
    )
    base = docs.select(F.col(id_col).alias("doc_id"),
                       F.split(F.col(text_col), " ").alias("_w"))
    kept = base.crossJoin(F.broadcast(stops)).select(
        "doc_id", "_w",
        # materialize the filtered array once: clean_text and n_removed
        # both reference it (CollapseProject would inline a single-use
        # alias, but two uses of an un-materialized expression re-filter)
        F.filter("_w", lambda w: ~F.array_contains(F.col("stops"), w))
        .alias("_kept"),
    )
    return kept.select(
        "doc_id",
        F.array_join("_kept", " ").alias("clean_text"),
        (F.size("_w") - F.size("_kept")).cast("int").alias("n_removed"),
    )


def doc_keywords(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Top-k distinctive terms per document, ranked by (tf desc, df asc,
    word asc) — a log-free tf-idf surrogate whose ordering is pure integer
    comparison, so the extracted keywords are deterministic cross-engine
    (float log() is the one piece of tf-idf that can diverge in the last
    bit between engines; rank order on (tf, -df) preserves the tf-idf
    ordering whenever tf ties break by rarity).

    Plan: one explode -> tf count per (doc, word) -> join vocabulary df on
    the word key -> per-doc row_number window. The df side is
    vocabulary-sized; the join shuffles on word, the window on doc_id —
    both keys are the natural partitioners at 100 TB.
    Returns (doc_id, word, tf, df, rank).
    """
    from pyspark.sql import Window

    words = (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.split(F.col(text_col), " ").alias("_w"))
        .select("doc_id", F.explode_outer("_w").alias("word"))
        .filter(F.col("word").isNotNull())
    )
    tf = words.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dfc = corpus_term_df(docs, text_col, id_col)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("word").asc()
    )
    return (
        tf.join(dfc, "word")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "word", "tf", "df",
                F.col("rank").cast("int").alias("rank"))
    )


def doc_rarity(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Vocabulary-rarity profile per document: how COMMON are this doc's
    distinct terms across the corpus? Low mean document frequency ⇒ rare
    vocabulary (jargon, misspellings, other languages); high ⇒ generic
    boilerplate. The cheap "is this doc lexically unusual?" signal a
    curation pass runs before spending embedding compute.

    Plan: distinct (doc, term) pairs via a NARROW array_distinct on the
    split — no groupBy-dedup shuffle; term document-frequencies are one
    map-side-combinable count (vocabulary-sized result); the join back
    to pairs is a plain equi shuffle join keyed by term, skew-safe under
    AQE (stop-word terms are hot keys, but each carries only its df).
    All outputs are exact integers plus one raw double division
    (sum_df/n_terms), so the table hash-matches cross-engine.

    Returns (doc_id, n_terms, sum_df, mean_df, max_df).
    """
    pairs = (
        docs.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(F.split(F.col(text_col), " "))
            ).alias("term"),
        )
        .where(F.col("term") != "")
    )
    term_df = pairs.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"))
    return (
        pairs.join(term_df, "term")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.sum("df").cast("bigint").alias("sum_df"),
            F.max("df").cast("bigint").alias("max_df"),
        )
        .select(
            id_col, "n_terms", "sum_df",
            (F.col("sum_df") / F.col("n_terms").cast("double"))
            .alias("mean_df"),
            "max_df",
        )
    )


def conv_redundancy(turns: DataFrame, conv_col: str = "conv_id",
                    order_col: str = "turn_idx", text_col: str = "text",
                    k: int = 2) -> DataFrame:
    """Cross-turn redundancy per conversation: the fraction of word
    k-gram INSTANCES whose gram already appeared in an EARLIER turn of
    the same conversation (assistants that repeat themselves, copied
    tool output echoed across turns — the conversation-level analog of
    :func:`repetition_score`, which only sees within one text).

    An instance in turn t is redundant iff min(turn) over the
    conversation's occurrences of that gram is < t — so the first turn
    that introduces a phrase is never penalized, repeats within that
    same first turn aren't either (those are repetition_score's job),
    and every later echo is. One window shuffle on (conv, gram) + one
    groupBy on conv; no self-join.

    redundancy is the RAW double of two exact integer counts
    (bit-identical cross-engine). Returns
    (conv_id, n_grams, n_redundant, redundancy) for conversations with
    ≥1 gram instance.
    """
    from pyspark.sql import Window

    from logpipe_spark.trainprep.curate import with_word_grams

    d = turns.select(F.col(conv_col).alias("conv_id"),
                     F.col(order_col).alias("t"), F.col(text_col))
    g = with_word_grams(d, text_col, k, keep=["conv_id", "t"])
    inst = (
        g.select("conv_id", "t", F.explode_outer("grams").alias("gram"))
        .filter(F.col("gram").isNotNull())
    )
    w = Window.partitionBy("conv_id", "gram")
    flagged = inst.withColumn("first_t", F.min("t").over(w))
    return (
        flagged.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_grams"),
            F.sum((F.col("t") > F.col("first_t")).cast("int"))
            .cast("int").alias("n_redundant"),
        )
        .select(
            "conv_id", "n_grams", "n_redundant",
            (F.col("n_redundant").cast("double") / F.col("n_grams"))
            .alias("redundancy"),
        )
    )


def doc_novelty(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", k: int = 2) -> DataFrame:
    """Corpus-order novelty per document: the fraction of its DISTINCT
    word k-grams that no lower-``doc_id`` document contains — the
    ingest-order novelty signal curation pipelines use to down-rank
    late near-boilerplate arrivals (the corpus-level cousin of
    :func:`conv_redundancy`, which orders by turn within one
    conversation).

    A gram is "introduced" by the smallest doc_id containing it (one
    groupBy on gram — the same first-owner aggregate as min-label
    propagation), so novelty(doc) = |grams first owned by doc| /
    |distinct grams of doc|, a RAW double of two exact integers.
    Returns (doc_id, n_distinct_grams, n_novel, novelty) for docs with
    ≥1 gram.
    """
    from logpipe_spark.trainprep.curate import _word_shingle_sets

    sh = _word_shingle_sets(docs.withColumnRenamed(id_col, "doc_id"),
                            text_col, "doc_id", k)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("_first"))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_distinct_grams"),
             F.sum((F.col("doc_id") == F.col("_first")).cast("int"))
             .cast("int").alias("n_novel"))
        .select("doc_id", "n_distinct_grams", "n_novel",
                (F.col("n_novel").cast("double")
                 / F.col("n_distinct_grams")).alias("novelty"))
    )


def lexical_stats(docs: DataFrame, key: str = "source",
                  text_col: str = "text") -> DataFrame:
    """Per-``key`` lexical richness profile: vocabulary size, token
    count, hapax-legomenon count (tokens seen exactly once), and the
    derived type-token and hapax ratios — the corpus-health companion
    to ``vocab_overlap`` (a synthetic or template-heavy source shows a
    collapsed TTR and a starved hapax tail long before eyeballing
    finds it; Baayen, "Word Frequency Distributions").

    ONE (key, token) count shuffle — map-side combinable — then a
    key-cardinality reduction; both ratios are single divisions of
    exact integers (raw doubles, never rounded). Tokenization is the
    shared whitespace split (`F.split` == DuckDB ``string_split``).

    Returns ``(key, vocab, n_tokens, hapax, ttr, hapax_ratio)``.
    """
    toks = (docs.where(F.col(text_col).isNotNull()
                       & F.col(key).isNotNull())
            .select(key, F.explode(F.split(F.col(text_col), " "))
                    .alias("_tok")))
    per_tok = toks.groupBy(key, "_tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c"))
    g = per_tok.groupBy(key).agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum("_c").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("_c") == 1, 1).otherwise(0)).cast("bigint")
        .alias("hapax"))
    return g.select(
        key, "vocab", "n_tokens", "hapax",
        (F.col("vocab").cast("double") / F.col("n_tokens").cast("double"))
        .alias("ttr"),
        (F.col("hapax").cast("double") / F.col("vocab").cast("double"))
        .alias("hapax_ratio"))


def yules_k(docs: DataFrame, key: str = "source",
            text_col: str = "text") -> DataFrame:
    """Yule's characteristic K per ``key``: the length-invariant
    repetitiveness index ``10^4 * (sum_t c_t^2 - N) / N^2`` over the
    per-token occurrence counts ``c_t`` (Yule, "The Statistical Study
    of Literary Vocabulary", 1944). Unlike TTR (lexical_stats), K does
    not shrink with corpus size, so sources of different volumes are
    directly comparable — a template-heavy synthetic source shows an
    inflated K at any N.

    Same shuffle shape as :func:`lexical_stats`: ONE map-side-combinable
    (key, token) count, then a key-cardinality reduction. ``sum c^2``
    accumulates in DECIMAL(38,0) (the l_moments discipline — a hot
    stopword's count squared leaves int64 long before the corpus is
    large), exact and order-free; the single division of the exact
    integer operands cast to double is bit-identical to the oracle's
    HUGEINT sum (values stay < 2^53 at test scale, so the
    decimal->double conversions agree).

    Returns ``(key, vocab, n_tokens, yules_k)``.
    """
    toks = (docs.where(F.col(text_col).isNotNull()
                       & F.col(key).isNotNull())
            .select(key, F.explode(F.split(F.col(text_col), " "))
                    .alias("_tok")))
    per_tok = toks.groupBy(key, "_tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c"))
    g = per_tok.groupBy(key).agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum("_c").cast("bigint").alias("n_tokens"),
        F.sum(F.col("_c").cast("decimal(38,0)") * F.col("_c"))
        .cast("decimal(38,0)").alias("_s2"))
    n_d = F.col("n_tokens").cast("double")
    return g.select(
        key, "vocab", "n_tokens",
        (F.lit(10000.0)
         * (F.col("_s2") - F.col("n_tokens")).cast("double")
         / (n_d * n_d)).alias("yules_k"))


def quality_prune_curve(docs: DataFrame, text_col: str = "text",
                        buckets: int = 20) -> DataFrame:
    """Quality-threshold pruning curve: for each score threshold on the
    ``quality_score`` grid, how many documents and tokens survive — the
    curve a curation pipeline reads to pick its quality cutoff (keep 80%
    of tokens vs keep only the top decile).

    The score stays the INTEGER fraction ``num / (200·n_tokens)`` from
    :func:`quality_score`, so the bucket is pure integer division
    ``num div (n_tokens·200/buckets)`` (non-negative — Spark's
    truncating ``div`` and DuckDB's flooring ``//`` agree) and never
    touches a float. One map-side-combinable shuffle collapses the
    corpus to ≤ buckets+1 rows; the suffix-cumulative scan and the
    totals broadcast both run on that bounded frame (the single-task
    window is 21 rows, not a corpus scan). Every emitted fraction is
    one double division of exact int64 sums.

    Returns one row per occupied bucket: ``(threshold, docs_kept,
    tokens_kept, doc_frac, token_frac)`` — "keeping docs with quality >=
    threshold retains this many docs/tokens".
    """
    from pyspark.sql import Window

    assert 200 % buckets == 0, "bucket grid must divide the score scale"
    text = F.col(text_col)
    padded = _padded_wide(text)
    n_chars = F.length(text)
    n_tokens = F.size(F.split(text, " "))
    stop_hits = sum(
        (_occ_simple(padded, f" {w} ") for w in STOPWORDS), start=F.lit(0))
    num2 = n_chars - n_tokens + 1
    ind = F.when((num2 >= 3 * n_tokens) & (num2 <= 8 * n_tokens),
                 F.lit(1)).otherwise(F.lit(0))
    num = (
        F.least(n_tokens, F.lit(100)) * n_tokens
        + F.lit(60) * F.least(stop_hits * 5, n_tokens)
        + F.lit(40) * n_tokens * ind
    )
    width = 200 // buckets
    b = (docs.select(num.cast("bigint").alias("_num"),
                     n_tokens.cast("bigint").alias("_nt"))
         .select(F.expr(f"_num div ({width} * _nt)").alias("_b"), "_nt")
         .groupBy("_b")
         .agg(F.count(F.lit(1)).cast("bigint").alias("_docs"),
              F.sum("_nt").cast("bigint").alias("_toks")))
    w = (Window.orderBy(F.col("_b").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = b.select(
        "_b",
        F.sum("_docs").over(w).cast("bigint").alias("docs_kept"),
        F.sum("_toks").over(w).cast("bigint").alias("tokens_kept"))
    tot = b.agg(F.sum("_docs").cast("bigint").alias("_td"),
                F.sum("_toks").cast("bigint").alias("_tt"))
    return c.crossJoin(F.broadcast(tot)).select(
        (F.col("_b").cast("double") / F.lit(float(buckets)))
        .alias("threshold"),
        "docs_kept", "tokens_kept",
        (F.col("docs_kept").cast("double") / F.col("_td").cast("double"))
        .alias("doc_frac"),
        (F.col("tokens_kept").cast("double") / F.col("_tt").cast("double"))
        .alias("token_frac"))


def quality_alpha(docs: DataFrame, text_col: str = "text",
                  key: str = "source") -> DataFrame:
    """Cronbach's alpha of the three quality-rubric components per
    ``key`` group — the internal-consistency audit of the curation
    rubric itself: do the length, stopword and token-shape sub-scores
    co-vary (one "quality" construct) or pull apart (the composite
    score is mixing unrelated signals)?

    Items are the INTEGER components of :func:`quality_score`
    (x1 = min(n_tokens, 100), x2 = min(5·stop_hits, n_tokens),
    x3 = 40·shape_flag). With population variances the n/(n-1) factors
    cancel, so

        alpha = k/(k-1) · (1 - Σ_i (n·Σx_i² - S_i²) / (n·ΣT² - S_T²))

    where every numerator term is an exact DECIMAL(38,0) integer
    (products of corpus-scale sums — the int64 overflow discipline)
    and the ratio is ONE double division of identical operands in both
    engines. One map-side-combinable shuffle to key cardinality.

    Returns ``(key, n_docs, alpha)``; alpha NULL when the total
    variance degenerates.
    """
    d = "decimal(38,0)"
    text = F.col(text_col)
    padded = _padded_wide(text)
    n_chars = F.length(text)
    n_tokens = F.size(F.split(text, " "))
    stop_hits = sum(
        (_occ_simple(padded, f" {w} ") for w in STOPWORDS), start=F.lit(0))
    num2 = n_chars - n_tokens + 1
    ind = F.when((num2 >= 3 * n_tokens) & (num2 <= 8 * n_tokens),
                 F.lit(1)).otherwise(F.lit(0))
    x1 = F.least(n_tokens, F.lit(100)).cast("bigint")
    x2 = F.least(stop_hits * 5, n_tokens).cast("bigint")
    x3 = (F.lit(40) * ind).cast("bigint")
    base = docs.select(F.col(key).alias("_k"), x1.alias("_x1"),
                       x2.alias("_x2"), x3.alias("_x3"),
                       (x1 + x2 + x3).alias("_t"))
    g = base.groupBy("_k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        *[F.sum(c).cast("bigint").alias(f"s{c[1:]}")
          for c in ("_x1", "_x2", "_x3", "_t")],
        *[F.sum(F.col(c).cast(d) * F.col(c).cast(d)).cast(d)
          .alias(f"q{c[1:]}") for c in ("_x1", "_x2", "_x3", "_t")])
    nD = F.col("n_docs").cast(d)
    item_num = sum(
        (nD * F.col(f"qx{i}") - F.col(f"sx{i}").cast(d)
         * F.col(f"sx{i}").cast(d))
        for i in (1, 2, 3))
    tot_num = nD * F.col("qt") - F.col("st").cast(d) * F.col("st").cast(d)
    return g.select(
        F.col("_k").alias(key), "n_docs",
        F.when(tot_num > 0,
               F.lit(1.5) * (F.lit(1.0)
                             - item_num.cast("double")
                             / tot_num.cast("double"))).alias("alpha"))


def readability(docs: DataFrame, key: str = "source",
                text_col: str = "text") -> DataFrame:
    """Per-``key`` readability profile from syllable-proxy counts: the
    FORCAST grade (20 - 15 * monosyllabic-word fraction — the classic
    formula built for non-prose text precisely because it needs NO
    sentence boundaries, which this corpus lacks), syllables per word,
    and mean word length.

    A word's syllable proxy is its count of ``[aeiouy]+`` vowel runs
    (``regexp_count`` == DuckDB ``len(regexp_extract_all(...))`` —
    both count non-overlapping left-to-right matches). One explode +
    ONE map-side-combinable (key) aggregation of exact int64 counts;
    the grade is 20.0 - 15.0 * (mono/words), two correctly-rounded
    IEEE ops on a raw double of exact integers — bit-identical
    cross-engine, never rounded.

    Returns ``(key, n_words, n_mono, forcast_grade, syl_per_word,
    avg_word_len)``.
    """
    # explode_outer + isNotNull: the InferFiltersFromGenerate dodge
    # (a plain explode gets its computed input copied into an inferred
    # pushed-down filter, re-splitting every doc — see CLAUDE.md)
    toks = (docs.where(F.col(text_col).isNotNull()
                       & F.col(key).isNotNull())
            .select(key, F.explode_outer(F.split(F.col(text_col), " "))
                    .alias("_tok"))
            .where(F.col("_tok").isNotNull()))
    syl = F.regexp_count(F.col("_tok"), F.lit("[aeiouy]+"))
    per = toks.select(
        key,
        syl.cast("bigint").alias("_syl"),
        F.length("_tok").cast("bigint").alias("_len"))
    g = per.groupBy(key).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.when(F.col("_syl") == 1, 1).otherwise(0)).cast("bigint")
        .alias("n_mono"),
        F.sum("_syl").cast("bigint").alias("_syls"),
        F.sum("_len").cast("bigint").alias("_lens"))
    mono_frac = F.col("n_mono").cast("double") / F.col("n_words")
    return g.select(
        key, "n_words", "n_mono",
        (F.lit(20.0) - F.lit(15.0) * mono_frac).alias("forcast_grade"),
        (F.col("_syls").cast("double") / F.col("n_words"))
        .alias("syl_per_word"),
        (F.col("_lens").cast("double") / F.col("n_words"))
        .alias("avg_word_len"))


def oov_rate(docs: DataFrame, vocab_size: int = 1000,
             key: str = "source", text_col: str = "text") -> DataFrame:
    """Out-of-vocabulary rate per ``key`` against the corpus' own
    top-``vocab_size`` token vocabulary — the tokenizer-coverage screen
    (a source whose OOV rate spikes against the shared vocabulary will
    fragment into byte-fallback tokens and waste context budget).

    The vocabulary is the top-k of the global token counts via
    ``orderBy().limit(k)`` (TakeOrderedAndProject under the total order
    (count desc, token asc) — deterministic at rank ties, never a
    global rank window) and is broadcast back onto the token stream;
    the OOV flag is a broadcast LEFT join null-check. ``oov`` and the
    rate are exact-integer derived.

    Returns ``(key, n_tokens, n_oov, oov_rate)``.
    """
    toks = (docs.where(F.col(text_col).isNotNull()
                       & F.col(key).isNotNull())
            .select(key, F.explode(F.split(F.col(text_col), " "))
                    .alias("_tok")))
    vocab = (toks.groupBy("_tok")
             .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
             .orderBy(F.col("_c").desc(), F.col("_tok").asc())
             .limit(vocab_size)
             .select(F.col("_tok").alias("_v")))
    j = toks.join(F.broadcast(vocab), toks["_tok"] == vocab["_v"], "left")
    g = j.groupBy(key).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("_v").isNull(), 1).otherwise(0))
        .cast("bigint").alias("n_oov"))
    return g.select(
        key, "n_tokens", "n_oov",
        (F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"))
        .alias("oov_rate"))


def bigram_accuracy(docs: DataFrame, key: str = "source",
                    text_col: str = "text") -> DataFrame:
    """In-sample top-1 accuracy of the corpus' own bigram language
    model per ``key``: fit argmax-next-token over all (w1, w2) bigram
    counts, then score every bigram against the prediction — the
    cheapest "how predictable is this source" probe (a template-heavy
    source scores near 1.0; natural text much lower), log-free where
    perplexity is not.

    Plan: bigrams come from a guarded ``transform(sequence(...))`` over
    the ONCE-materialized split (the CollapseProject 25x lesson + the
    descending-sequence guard from word_grams_col); the model is one
    (w1, w2) count shuffle and a PARTITIONED-by-w1 rank (vocabulary
    cardinality, total order (count desc, w2 asc) — deterministic at
    ties); scoring is a broadcast-sized join back on w1. Accuracy is
    one division of exact int64 counts.

    Returns ``(key, n_bigrams, n_hits, accuracy)``.
    """
    from pyspark.sql import Window

    w = (docs.where(F.col(text_col).isNotNull() & F.col(key).isNotNull())
         .select(key, F.split(F.col(text_col), " ").alias("_w")))
    grams = w.where(F.size("_w") >= 2).select(
        key,
        F.explode(F.expr(
            "transform(sequence(1, size(_w) - 1), "
            "i -> struct(element_at(_w, i) AS w1, "
            "element_at(_w, i + 1) AS w2))")).alias("_g")
    ).select(key, F.col("_g.w1").alias("w1"), F.col("_g.w2").alias("w2"))
    counts = grams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c"))
    wrank = Window.partitionBy("w1").orderBy(
        F.col("_c").desc(), F.col("w2").asc())
    model = (counts.withColumn("_rn", F.row_number().over(wrank))
             .where(F.col("_rn") == 1)
             .select("w1", F.col("w2").alias("_pred")))
    scored = grams.join(model, "w1")
    return (scored.groupBy(key).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum(F.when(F.col("w2") == F.col("_pred"), 1).otherwise(0))
        .cast("bigint").alias("n_hits"))
        .select(key, "n_bigrams", "n_hits",
                (F.col("n_hits").cast("double")
                 / F.col("n_bigrams").cast("double")).alias("accuracy")))


def watermark_score(docs: DataFrame, key: str = "source",
                    text_col: str = "text") -> DataFrame:
    """Green-list watermark detection score per ``key`` (Kirchenbauer
    et al., ICML 2023, public algorithm): with a hash-seeded half-vocab
    "green list" per previous token, watermarked text over-selects
    green tokens; the detector z-score ``(2·greens - n) / sqrt(n)``
    measures how far a source sits from the unwatermarked 50% baseline.
    The synthetic-text screen a pretraining corpus runs to keep
    model-generated (or deliberately watermarked) data out of the mix.

    The green membership of a (prev, token) bigram is the parity of
    the stable first-8-hex md5 integer of ``prev || ':' || token`` —
    the hash_split discipline, identical in the oracle. One guarded
    gram projection + one (key) reduction: greens and n are exact
    int64; the z-score is a single division by a sqrt of an exact
    integer. |z| > ~4 flags a watermarked source.

    Returns ``(key, n_bigrams, greens, green_frac, z)``.
    """
    w = (docs.where(F.col(text_col).isNotNull() & F.col(key).isNotNull())
         .select(key, F.split(F.col(text_col), " ").alias("_w")))
    grams = w.where(F.size("_w") >= 2).select(
        key,
        F.explode(F.expr(
            "transform(sequence(1, size(_w) - 1), "
            "i -> concat(element_at(_w, i), ':', "
            "element_at(_w, i + 1)))")).alias("_bg"))
    h = F.conv(F.substring(F.md5(F.col("_bg")), 1, 8), 16, 10) \
        .cast("bigint")
    g = grams.groupBy(key).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum(F.when(h % 2 == 0, 1).otherwise(0)).cast("bigint")
        .alias("greens"))
    nd = F.col("n_bigrams").cast("double")
    return g.select(
        key, "n_bigrams", "greens",
        (F.col("greens").cast("double") / nd).alias("green_frac"),
        ((F.lit(2) * F.col("greens") - F.col("n_bigrams"))
         .cast("double") / F.sqrt(nd)).alias("z"))


INJECTION_PATTERNS: list[tuple[str, str]] = [
    ("ignore_instructions", "ignore previous instructions"),
    ("disregard_above", "disregard the above"),
    ("role_override", "you are now"),
    ("system_prompt_probe", "system prompt"),
    ("do_anything", "do anything now"),
]


def injection_scan(docs: DataFrame, key: str = "source",
                   text_col: str = "text") -> DataFrame:
    """Prompt-injection lexicon screen per ``key``: how many documents
    contain each known injection phrase and the per-million-token hit
    rate — the training-safety pass a transcript corpus runs before
    fine-tuning (model-written or adversarial turns carrying
    instruction-override phrases poison instruction-following data;
    the public pattern families are catalogued in e.g. Greshake et al.
    2023). Phrases are LITERAL lowercase substrings (contains on
    lower(), identical in both engines — no regex dialect risk), and
    the occurrence count uses the replace-length trick shared with
    quality_score, so every number is an exact integer.

    One narrow projection per doc (the lower() materializes once) and
    one (key, pattern) reduction via a stack unpivot — K patterns
    never rescan the corpus.

    Returns ``(key, pattern, n_docs_hit, n_hits, hits_per_mtok)``.
    """
    low = F.lower(F.col(text_col))
    cols = [F.col(key), F.size(F.split(F.col(text_col), " "))
            .cast("bigint").alias("_ntok"), low.alias("_low")]
    d = (docs.where(F.col(text_col).isNotNull() & F.col(key).isNotNull())
         .select(*cols))
    occs = []
    for i, (_name, pat) in enumerate(INJECTION_PATTERNS):
        occs.append(_occ_simple(F.col("_low"), pat).cast("bigint")
                    .alias(f"_o{i}"))
    d = d.select(key, "_ntok", *occs)
    aggs = [F.sum("_ntok").cast("bigint").alias("_toks")]
    for i, (name, _pat) in enumerate(INJECTION_PATTERNS):
        aggs.append(F.sum(F.when(F.col(f"_o{i}") > 0, 1).otherwise(0))
                    .cast("bigint").alias(f"_d{i}"))
        aggs.append(F.sum(F.col(f"_o{i}")).cast("bigint")
                    .alias(f"_h{i}"))
    g = d.groupBy(key).agg(*aggs)
    # Escape single quotes: names are interpolated into stack() SQL.
    stack_args = ", ".join(
        "'{}', _d{}, _h{}".format(name.replace("'", "''"), i, i)
        for i, (name, _pat) in enumerate(INJECTION_PATTERNS))
    out = g.selectExpr(
        key, "_toks",
        f"stack({len(INJECTION_PATTERNS)}, {stack_args}) "
        "AS (pattern, n_docs_hit, n_hits)")
    return out.select(
        key, "pattern", "n_docs_hit", "n_hits",
        (F.col("n_hits").cast("double") * F.lit(1000000.0)
         / F.col("_toks").cast("double")).alias("hits_per_mtok"))


def prefix_dup_rate(docs: DataFrame, key: str = "source",
                    text_col: str = "text",
                    prefix_chars: int = 64) -> DataFrame:
    """Prefix-duplicate screen per ``key``: the share of documents
    whose first ``prefix_chars`` characters are shared with at least
    one OTHER document anywhere in the corpus — the cheapest
    boilerplate-opening detector (scraped corpora fill with identical
    headers/disclaimers long before full near-dup machinery is worth
    running; dup_spans finds the spans, this one-pass audit decides
    whether to bother).

    One (prefix) count collapse over the corpus — map-side combinable,
    prefix cardinality ≤ corpus — then a prefix-keyed join back and a
    key reduction. All exact integers; the rate is one division.

    Returns ``(key, n_docs, n_prefix_dup, dup_rate)``.
    """
    p = (docs.where(F.col(text_col).isNotNull() & F.col(key).isNotNull())
         .select(F.col(key),
                 F.substring(F.col(text_col), 1, prefix_chars)
                 .alias("_p")))
    c = p.groupBy("_p").agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    j = p.join(c, "_p")
    g = j.groupBy(key).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("_c") > 1, 1).otherwise(0)).cast("bigint")
        .alias("n_prefix_dup"))
    return g.select(
        key, "n_docs", "n_prefix_dup",
        (F.col("n_prefix_dup").cast("double")
         / F.col("n_docs").cast("double")).alias("dup_rate"))


def good_turing(docs: DataFrame, key: str = "source",
                text_col: str = "text", max_r: int = 10) -> DataFrame:
    """Good–Turing frequency-of-frequencies per ``key`` (Good 1953; the
    Gale–Sampson "simple GT" inputs): N_r = number of word TYPES seen
    exactly r times, the adjusted count r* = (r+1)·N_{r+1}/N_r, and the
    unseen-mass estimate P_0 = N_1/N — the vocabulary-coverage readout
    a corpus curator reads before trusting token statistics ("how much
    of this source's distribution have we actually seen?"). Rows are
    emitted for r <= ``max_r`` (the regime where GT smoothing is
    meaningful; beyond it N_r thins to noise).

    Scale shape: ONE combinable (key, word) count collapse (the corpus
    shuffles once), then a (key, r) collapse of the vocab-sized type
    frame — both map-side combinable; the per-key totals broadcast
    back. Every emitted double is one division of exact int64 counts —
    bit-identical cross-engine. N_{r+1} rides a self-join on the
    bounded (key, r) frame, not a window.

    Returns ``(key, r, n_types, total_tokens, r_star, p_mass)`` where
    p_mass = r·N_r/N is the observed probability mass at r and r_star
    is NULL when N_{r+1} = 0 (GT undefined there).
    """
    words = (docs.where(F.col(text_col).isNotNull()
                        & F.col(key).isNotNull())
             .select(key, F.explode(F.split(F.col(text_col), " "))
                     .alias("_w")))
    wc = (words.groupBy(key, "_w")
          .agg(F.count(F.lit(1)).cast("bigint").alias("_r")))
    nr = (wc.groupBy(key, "_r")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_types")))
    tot = (nr.groupBy(key)
           .agg(F.sum(F.col("_r") * F.col("n_types")).cast("bigint")
                .alias("total_tokens")))
    nxt = nr.select(F.col(key).alias("_k2"),
                    (F.col("_r") - 1).alias("_rprev"),
                    F.col("n_types").alias("_n_next"))
    j = (nr.where(F.col("_r") <= F.lit(int(max_r)))
         .join(F.broadcast(tot), key)
         .join(nxt, (F.col(key) == F.col("_k2"))
               & (F.col("_r") == F.col("_rprev")), "left"))
    return j.select(
        key, F.col("_r").alias("r"), "n_types", "total_tokens",
        F.when(F.col("_n_next").isNotNull(),
               (F.col("_r") + 1).cast("double")
               * F.col("_n_next").cast("double")
               / F.col("n_types").cast("double")).alias("r_star"),
        (F.col("_r").cast("double") * F.col("n_types").cast("double")
         / F.col("total_tokens").cast("double")).alias("p_mass"))


def zipf_slope(docs: DataFrame, key: str = "source",
               text_col: str = "text") -> DataFrame:
    """Zipf log-log slope per ``key`` WITHOUT logarithms: OLS of
    floor(log2 rank) against floor(log2 frequency) over the word
    frequency table (Zipf's law predicts slope ≈ −1 on natural text;
    templated/synthetic text flattens toward 0 — a fast generation-
    artifact screen). log2 floors via the exact ``length(bin(x)) − 1``
    integer identity (the len_histogram idiom), so every sufficient
    statistic is an exact int64 sum and the slope is bit-identical
    cross-engine — ln()'s 1-ulp engine divergence never enters.

    The trick is avoiding per-word global ranks: words with the same
    frequency occupy a CONSECUTIVE rank block [R+1, R+n_f] (R = number
    of strictly-more-frequent words = suffix-cumulative of the
    frequency-of-frequencies), so per (key, frequency) group the
    log2-rank histogram is the overlap of that block with the dyadic
    intervals [2^b, 2^{b+1}) — a <=63-element sequence explode on the
    DISTINCT-FREQUENCY frame (key × distinct-freq rows, not vocab
    rows, never the corpus). Within-block rank order never matters:
    every rank in the block shares the group's x = floor(log2 f).

    Returns ``(key, n_types, slope, sxx)`` — slope NULL for a
    degenerate (single log2-frequency) vocabulary; sxx exposes the
    x-variance numerator for that diagnosis.
    """
    words = (docs.where(F.col(text_col).isNotNull()
                        & F.col(key).isNotNull())
             .select(key, F.explode(F.split(F.col(text_col), " "))
                     .alias("_w")))
    wc = (words.groupBy(key, "_w")
          .agg(F.count(F.lit(1)).cast("bigint").alias("_f")))
    nf = (wc.groupBy(key, "_f")
          .agg(F.count(F.lit(1)).cast("bigint").alias("_nf")))
    # R = #words strictly more frequent: non-equi self-join on the
    # bounded distinct-frequency frame (freq support per key is
    # O(sqrt(tokens)) — Heaps-bounded, broadcastable)
    hi = nf.select(F.col(key).alias("_k2"), F.col("_f").alias("_f2"),
                   F.col("_nf").alias("_nf2"))
    r0 = (nf.join(F.broadcast(hi), (F.col(key) == F.col("_k2"))
                  & (F.col("_f2") > F.col("_f")), "left")
          .groupBy(key, "_f", "_nf")
          .agg(F.coalesce(F.sum("_nf2"), F.lit(0)).cast("bigint")
               .alias("_r0")))
    lo_b = F.length(F.bin(F.col("_r0") + 1)) - F.lit(1)
    hi_b = F.length(F.bin(F.col("_r0") + F.col("_nf"))) - F.lit(1)
    ex = r0.select(
        key, "_f", "_nf", "_r0",
        F.explode(F.sequence(lo_b.cast("int"), hi_b.cast("int")))
        .alias("_b"))
    # overlap of rank block [r0+1, r0+nf] with dyadic bucket
    # [2^b, 2^{b+1}-1]: exact integer interval intersection (SQL-expr
    # shiftleft — the Python API's numBits is a literal int only)
    blo = F.expr("shiftleft(cast(1 AS bigint), _b)")
    bhi = F.expr("shiftleft(cast(1 AS bigint), _b + 1)") - 1
    cnt = (F.least(bhi, F.col("_r0") + F.col("_nf"))
           - F.greatest(blo, F.col("_r0") + 1) + 1)
    x = (F.length(F.bin(F.col("_f"))) - 1).cast("bigint")
    pts = ex.select(
        key, x.alias("_x"), F.col("_b").cast("bigint").alias("_y"),
        cnt.cast("bigint").alias("_c")).where(F.col("_c") > 0)
    s = pts.groupBy(key).agg(
        F.sum("_c").cast("bigint").alias("n_types"),
        F.sum(F.col("_c") * F.col("_x")).cast("bigint").alias("_sx"),
        F.sum(F.col("_c") * F.col("_y")).cast("bigint").alias("_sy"),
        F.sum(F.col("_c") * F.col("_x") * F.col("_x")).cast("bigint")
        .alias("_sxx"),
        F.sum(F.col("_c") * F.col("_x") * F.col("_y")).cast("bigint")
        .alias("_sxy"))
    n = F.col("n_types").cast("double")
    num = (n * F.col("_sxy").cast("double")
           - F.col("_sx").cast("double") * F.col("_sy").cast("double"))
    den = (n * F.col("_sxx").cast("double")
           - F.col("_sx").cast("double") * F.col("_sx").cast("double"))
    # regress y = floor(log2 rank) on x = floor(log2 freq): the inverse
    # of the classic log-freq-on-log-rank fit, so a Zipf exponent s
    # reads as slope ~ -1/s
    return s.select(
        key, "n_types",
        F.when(den > 0.0,
               (n * F.col("_sxy").cast("double")
                - F.col("_sy").cast("double")
                * F.col("_sx").cast("double")) / den)
        .alias("slope"),
        den.alias("sxx"))


def heaps_slope(docs: DataFrame, key: str = "source",
                text_col: str = "text", id_col: str = "doc_id",
                grid: int = 10) -> DataFrame:
    """Heaps-law exponent per ``key`` WITHOUT logarithms: V ≈ K·N^β
    (vocabulary size vs tokens processed; Heaps 1978) estimated as the
    OLS slope of floor(log2 V) on floor(log2 N) over a ``grid``-point
    ingest-prefix curve — the scalar that says whether a source's
    vocabulary is still growing (β ≈ 0.5-0.8 for natural text) or
    saturating into template spam (β → 0). The curve itself is
    :func:`vocab_growth`'s (exact-integer prefix vocab via
    first-occurrence ranks); this reduces it to one comparable number
    using the :func:`zipf_slope` discipline (``length(bin(x)) − 1``
    exact log2 floors, integer OLS sufficient stats — ln()'s 1-ulp
    divergence never enters).

    Scale shape: one (key, term) first-occurrence min collapse, one
    per-doc token count, a broadcast ``grid``-row fan-out, then
    key-cardinality OLS. The per-key doc ranking window is
    group-parallel (the vocab_growth shape).

    Returns ``(key, n_points, beta)`` — beta NULL when the log2 token
    prefix is degenerate (all grid points in one dyadic bucket).
    """
    from pyspark.sql import Window

    d = docs.where(F.col(text_col).isNotNull() & F.col(key).isNotNull())
    w = Window.partitionBy(key).orderBy(id_col)
    ranked = d.select(
        key, F.col(text_col).alias("_txt"),
        F.row_number().over(w).cast("bigint").alias("_r"))
    ranked = ranked.select(
        key, "_r",
        F.size(F.split(F.col("_txt"), " ")).cast("bigint").alias("_nt"),
        F.col("_txt"))
    tot = ranked.groupBy(key).agg(F.max("_r").cast("bigint").alias("_n"))
    g = d.sparkSession.range(1, grid + 1).select(
        F.col("id").cast("bigint").alias("_k"))
    # tokens processed after the first ceil(k*n/grid) docs
    toks = (ranked.join(F.broadcast(tot), key)
            .crossJoin(F.broadcast(g))
            .withColumn("_thr", F.expr(f"(_k * _n + {grid - 1}) "
                                       f"div {grid}"))
            .groupBy(key, "_k", "_thr")
            .agg(F.sum(F.when(F.col("_r") <= F.col("_thr"),
                              F.col("_nt")).otherwise(0))
                 .cast("bigint").alias("_N")))
    first = (ranked
             .select(key, "_r",
                     F.explode(F.split(F.col("_txt"), " ")).alias("_t"))
             .groupBy(key, "_t")
             .agg(F.min("_r").cast("bigint").alias("_fr")))
    voc = (first.join(F.broadcast(tot), key)
           .crossJoin(F.broadcast(g))
           .withColumn("_thr", F.expr(f"(_k * _n + {grid - 1}) "
                                      f"div {grid}"))
           .groupBy(key, "_k")
           .agg(F.sum(F.when(F.col("_fr") <= F.col("_thr"), 1)
                      .otherwise(0)).cast("bigint").alias("_V")))
    pts = (toks.join(voc, [key, "_k"])
           .where((F.col("_N") > 0) & (F.col("_V") > 0))
           .select(key,
                   (F.length(F.bin(F.col("_N"))) - 1).cast("bigint")
                   .alias("_x"),
                   (F.length(F.bin(F.col("_V"))) - 1).cast("bigint")
                   .alias("_y")))
    s = pts.groupBy(key).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.sum("_x").cast("bigint").alias("_sx"),
        F.sum("_y").cast("bigint").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).cast("bigint").alias("_sxx"),
        F.sum(F.col("_x") * F.col("_y")).cast("bigint").alias("_sxy"))
    n = F.col("n_points").cast("double")
    den = (n * F.col("_sxx").cast("double")
           - F.col("_sx").cast("double") * F.col("_sx").cast("double"))
    return s.select(
        key, "n_points",
        F.when(den > 0.0,
               (n * F.col("_sxy").cast("double")
                - F.col("_sy").cast("double")
                * F.col("_sx").cast("double")) / den).alias("beta"))
