"""Bloom-filter pruned join: build a tiny deterministic Bloom filter over
the dim side's join keys, broadcast it as ONE row, and prune the fact scan
with a narrow expression BEFORE any shuffle happens.

This is the explicit, persistable form of a runtime join filter (what
Spark's own InjectRuntimeFilter / DPP do opportunistically): at 100 TB the
semi-join `fact ⋉ dim` normally shuffles the fact on the key; with a
Bloom pass the fact scan drops ~all non-matching rows in place (a
whole-stage-codegen filter over a broadcast array), and only the
surviving sliver pays the join/aggregate shuffle. The filter itself is
m/32 bigint words — 8 KiB at m=2^16, 32 MiB at m=2^28 (a 1e9-key dim at
10 bits/key) — well inside broadcast budget, and the word table is
mergeable across dims/days with a plain ``bit_or`` groupBy.

Determinism: the default hash is xxhash64 (JVM-native, ~4× cheaper per
probed fact row — the 100 TB default; Spark-deterministic, so reruns
reproduce the same FP set). Pass hash_fn='md5' when an EXTERNAL engine
must replay the filter bit-for-bit: positions then derive from md5
(identical in every engine), so the pruned result is DuckDB-oracle-able
despite being approximate — the driver queries pin md5 explicitly.

Reference seam: the reference has no runtime filters — its enricher
(src/transformers/enrichTransformer.js) always materializes the full
lookup; this is the scale path Spark enables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logpipe_spark.session import local_frame

# 32-bit words inside bigints: 1 << 31 still fits, no sign games.
_WORD_BITS = 32


def _positions(key: Column, m_bits: int, k: int,
               hash_fn: str = "xxhash64") -> list[Column]:
    """k deterministic bit positions via Kirsch–Mitzenmacher double
    hashing: pos_s = (h1 + s*h2) mod m — ONE hash evaluation per key
    instead of k (the probe runs once per FACT row; at 20M rows the
    per-row hash cost dominated the whole prune, see BENCH.md).

    hash_fn='md5': h1/h2 are the two 8-hex halves of one md5 — identical
    in DuckDB, so the filter (and its false positives) is cross-engine
    reproducible. hash_fn='xxhash64': two JVM xxhash64 seeds — ~4× faster
    probe, Spark-deterministic but engine-private (the 100 TB default).
    Both hashes are pre-reduced mod m before combining so the arithmetic
    stays far from bigint overflow (ANSI mode).
    """
    # normalize to string BEFORE hashing in both branches: xxhash64 is
    # type-sensitive (int 7 and bigint 7 hash differently), so a fact/dim
    # type mismatch would silently produce false NEGATIVES otherwise
    ks = key.cast("string")
    if hash_fn == "md5":
        h = F.md5(ks)
        h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
        h2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint")
    elif hash_fn == "xxhash64":
        h1, h2 = F.xxhash64(ks, F.lit(1)), F.xxhash64(ks, F.lit(2))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    m1, m2 = F.pmod(h1, F.lit(m_bits)), F.pmod(h2, F.lit(m_bits))
    return [F.pmod(m1 + F.lit(s) * m2, F.lit(m_bits)) for s in range(k)]


def bloom_build(df: DataFrame, key_col: str, m_bits: int = 1 << 16,
                k: int = 3, hash_fn: str = "xxhash64") -> DataFrame:
    """Build the filter as a word table (word_idx int, word bigint).

    One explode(k)+groupBy(word_idx): shuffle volume is capped at
    m_bits/32 rows per task by map-side bit_or combine — independent of
    dim cardinality. Word tables from different partitions/days merge
    with the same bit_or (sketch-mergeable, like cms_sketch) — keep the
    ``params`` stamp through the merge (group by it too, or re-add it):
    it records the (hash_fn, m_bits, k) the table was built with, and
    probe time REFUSES a mismatched stamp. The ``hash_fn`` DEFAULT
    changed in round 3 from ``'md5'`` to ``'xxhash64'`` — filters
    persisted before the flip must be probed with ``hash_fn='md5'``
    explicitly (pre-stamp tables skip the check).
    """
    assert m_bits % _WORD_BITS == 0
    key = F.col(key_col)
    pos = F.array(*_positions(key, m_bits, k, hash_fn))
    return (
        df.select(F.explode(pos).alias("pos"))
        .select(
            (F.col("pos") / _WORD_BITS).cast("int").alias("word_idx"),
            # call_function: the shiftleft/shiftright python wrappers only
            # take literal ints for numBits; the SQL functions take columns
            F.call_function(
                "shiftleft", F.lit(1).cast("bigint"),
                (F.col("pos") % _WORD_BITS).cast("int")).alias("m"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("m").alias("word"))
        .withColumn("params", F.lit(_params_stamp(hash_fn, m_bits, k)))
    )


def _params_stamp(hash_fn: str, m_bits: int, k: int) -> str:
    return f"{hash_fn}:m={m_bits}:k={k}"


def bloom_as_array(words: DataFrame, m_bits: int) -> DataFrame:
    """Densify the word table into ONE row holding array<bigint> of
    length m_bits/32 (absent words = 0) — the broadcastable form.

    The fill happens DRIVER-SIDE: the word table is filter-sized
    (m_bits/32 rows — 2k at m=2^16, 8M at the 1e9-key m=2^28, i.e. the
    same bytes the broadcast itself ships), so collecting it is the
    metadata-sized-collect pattern, not a data collect. The previous
    pure-expression fill (`transform(sequence(...), i ->
    element_at(map, i))`) was O(slots × words): Spark maps are
    array-backed, so every element_at is a LINEAR probe, and the
    interpreted lambda ran ~1e9 steps at m=2^20 — measured 60-70 s per
    bloom_prune call, dwarfing the probe it was built for (round-3
    profiling). The transfer goes through the ARROW path (`toPandas` →
    numpy scatter), not `collect()`: at the 1e9-key m=2^28 sizing the
    word table is 8M rows, and 8M PySpark Row objects cost GBs of Python
    object overhead where the Arrow batch + int64 scatter stays within
    ~2×8 bytes/word. The returned frame is a LocalRelation
    (``local_frame`` ships the dense array to the JVM as one Arrow list),
    so downstream broadcasts ship it without re-running anything."""
    n_words = m_bits // _WORD_BITS
    import numpy as np
    from pyspark.sql import types as T

    pdf = words.toPandas()
    stamp = None
    if "params" in pdf.columns and len(pdf):
        stamps = pdf["params"].unique()
        if len(stamps) > 1:
            raise ValueError(
                f"bloom_as_array: word table mixes build params "
                f"{sorted(stamps)} — a bit_or merge across different "
                "hash_fn/m/k is meaningless")
        stamp = stamps[0]
    dense = np.zeros(n_words, dtype=np.int64)
    dense[pdf["word_idx"].to_numpy(dtype=np.int64)] = \
        pdf["word"].to_numpy(dtype=np.int64)
    schema = T.StructType([
        T.StructField("bloom", T.ArrayType(T.LongType())),
        T.StructField("params", T.StringType()),
    ])
    return local_frame(words.sparkSession, [(dense, stamp)], schema)


def bloom_might_contain(key: Column, bloom: Column, m_bits: int,
                        k: int = 3, hash_fn: str = "xxhash64") -> Column:
    """Membership test expression: all k bits set. No false negatives;
    false-positive rate ~ (1 - e^(-k*n/m))^k, deterministic per key."""
    cond = F.lit(True)
    for pos in _positions(key, m_bits, k, hash_fn):
        word = F.element_at(bloom, (pos / _WORD_BITS).cast("int") + 1)
        # call_function: same literal-only numBits limitation as shiftleft
        bit = F.call_function(
            "shiftright", word, (pos % _WORD_BITS).cast("int")) % 2
        cond = cond & (bit == 1)
    return cond


def bloom_prune(fact: DataFrame, dim: DataFrame | None, fact_key: str,
                dim_key: str | None = None, m_bits: int = 1 << 16,
                k: int = 3, hash_fn: str = "xxhash64",
                prebuilt: DataFrame | None = None) -> DataFrame:
    """fact rows whose key might be in dim (superset of the exact
    semi-join by the deterministic FP set).

    Plan: dim → word table → 1-row array (m_bits/32 longs) → broadcast
    cross join → narrow codegen filter on the fact scan. The fact side
    never shuffles; pair with an exact join downstream only on the
    survivors when FPs must be removed.

    ``prebuilt``: a cached/persisted output of :func:`bloom_as_array` —
    at scale the filter is built ONCE per dim (or loaded from a parquet
    of merged daily word tables) and reused across every fact pass;
    rebuilding it per action re-scans the dim. A stamped prebuilt whose
    (hash_fn, m_bits, k) differ from this call's raises ``ValueError``
    — probing under the wrong hash yields arbitrary keep/drop decisions
    (including FALSE NEGATIVES), never an error, so it must fail loudly.
    """
    if prebuilt is None:
        # bloom_as_array is eager (driver-side dense fill, see its
        # docstring) and returns a LocalRelation — the probe's broadcast
        # ships it directly, nothing re-runs per action
        arr = bloom_as_array(
            bloom_build(dim, dim_key, m_bits, k, hash_fn), m_bits)
    else:
        arr = prebuilt
        if "params" in arr.columns:
            # one-row LocalRelation — first() is free
            stamp = arr.select("params").first()[0]
            want = _params_stamp(hash_fn, m_bits, k)
            if stamp is not None and stamp != want:
                raise ValueError(
                    f"prebuilt bloom filter was built with {stamp!r} but "
                    f"the probe asked for {want!r}; membership answers "
                    "would be silently wrong — pass matching parameters")
    return (
        fact.crossJoin(F.broadcast(arr.select("bloom")))
        .filter(bloom_might_contain(F.col(fact_key), F.col("bloom"),
                                    m_bits, k, hash_fn))
        .drop("bloom")
    )
