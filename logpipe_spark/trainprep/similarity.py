"""Similarity search over an embedding column (``array<float>``).

- :func:`ann_bruteforce_topk` — exact cosine top-k: broadcast the (small)
  query set against the corpus, rank with a window. At 100 TB the corpus
  side stays partitioned; only queries are broadcast, so the scan is
  embarrassingly parallel with no corpus shuffle — the window shuffles only
  (n_queries × corpus_partition) candidate rows after a per-partition
  top-k pre-prune would be added (see note in ``ann_topk`` docstring).
- :func:`ann_lsh_topk` — the scale path: sign-bit (hyperplane) LSH bucket
  on the leading dimensions restricts candidates to one bucket (≈ corpus /
  2^bits rows) before ranking.
- :func:`cosine_near_dup_pairs` — embedding near-duplicate detection,
  LSH-bucketed to avoid the all-pairs cross join.

All arithmetic is JVM-side (`zip_with` + `aggregate` folds over doubles,
left-to-right) so results are bit-identical with the DuckDB oracle's
``list_dot_product`` on ``DOUBLE[]``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from logpipe_spark.session import local_frame


def _dvec(col: str) -> Column:
    return F.expr(f"transform({col}, x -> cast(x AS double))")


def with_unit_norm(emb: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """Project to (id, e double[], nrm) — norms computed once, upstream of
    joins. ZERO-NORM vectors are dropped: a zero vector has no direction,
    so every cosine against it is undefined — and under the session's
    default ANSI mode the 0/0 division THROWS rather than yielding NaN
    (one corrupt embedding would kill the whole ANN job). The filter
    fixes every downstream cos division in this module at one point."""
    d = _dvec(vec_col)
    return emb.select(
        F.col(id_col).alias("vec_id"),
        d.alias("e"),
        F.sqrt(F.expr(
            f"aggregate(transform({vec_col}, x -> cast(x AS double)), "
            f"cast(0 AS double), (acc, x) -> acc + x * x)"
        )).alias("nrm"),
    ).where(F.col("nrm") > 0)


def _dot(a: str, b: str) -> Column:
    # left-to-right double fold == DuckDB list_dot_product on DOUBLE[]
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"cast(0 AS double), (acc, x) -> acc + x)"
    )


def _partition_topk(scored: DataFrame, k: int, order_col: str = "cos",
                    ascending: bool = False) -> DataFrame:
    """Per-partition top-k pre-prune ahead of the global ranking window.

    Runs INSIDE the scoring join's output partitions (narrow — no shuffle):
    each partition keeps only its local top-k rows per query under the SAME
    total order the final window uses (``order_col`` then neighbor_id asc),
    so the ranking exchange carries ≤ k × n_partitions rows per query
    instead of the whole scored corpus — the 100 TB bottleneck named in
    PERF.md §Deferred. The global top-k is a subset of the union of
    per-partition top-ks under a total order, so the final output is
    bit-identical (score doubles round-trip exactly through Arrow).

    Memory: the running `best` frame is bounded at k rows per query seen in
    the partition, folded batch-by-batch.
    """

    # Spark orders NaN as the LARGEST double (desc → NaN first, asc →
    # NaN last); pandas puts NaN last by default in BOTH directions —
    # na_position must mirror Spark or a NaN score survives the direct
    # window but gets pruned here, breaking the identical-output contract
    na_pos = "first" if not ascending else "last"

    def prune(it):
        best: pd.DataFrame | None = None
        for pdf in it:
            cur = pdf if best is None else pd.concat((best, pdf))
            cur = cur.sort_values(["query_id", order_col, "neighbor_id"],
                                  ascending=[True, ascending, True],
                                  kind="mergesort", na_position=na_pos)
            best = cur.groupby("query_id", sort=False).head(k)
        if best is not None and len(best):
            yield best

    return scored.mapInPandas(prune, schema=scored.schema)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Deterministic per-query top-k: (cos desc, neighbor_id asc) tiebreak.

    Single definition shared by all ANN variants — the output contract
    (query_id, neighbor_id, rank, cos) is hash-compared against the DuckDB
    oracle, so the tiebreak must never diverge between variants.
    """
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def sign_bucket(vec_col: str, bits: int = 6, offset: int = 0) -> Column:
    """Axis-aligned hyperplane LSH: concat of sign bits of dims
    ``offset+1 .. offset+bits`` (offset>0 yields an independent hash table
    over later dimensions — the multi-band lever)."""
    parts = [
        F.when(F.expr(f"try_element_at({vec_col}, {offset + i + 1})") >= 0,
               F.lit("1"))
        .otherwise(F.lit("0"))
        for i in range(bits)
    ]
    return F.concat(*parts)


def probe_buckets(vec_col: str, bits: int, probes: int) -> Column:
    """Multi-probe LSH bucket array: the vector's own bucket first, then the
    ``probes - 1`` NEAREST neighboring buckets — formed by flipping the sign
    bits whose dimensions lie closest to their hyperplane (smallest |e_i|,
    the least-confident signs), per the multi-probe LSH heuristic (Lv et
    al., VLDB'07 — public). All buckets are distinct, so probing never
    duplicates a candidate; candidate volume is ~probes × corpus / 2^bits.
    """
    if probes < 1:
        raise ValueError(f"probes={probes} must be >= 1")
    if probes == 1:
        return F.array(sign_bucket(vec_col, bits))
    n_flips = min(probes - 1, bits)
    cases = ", ".join(
        f"CASE WHEN try_element_at({vec_col}, {i + 1}) >= 0 "
        f"THEN '1' ELSE '0' END"
        for i in range(bits))
    base = f"concat({cases})"
    # dims ranked by |e_i| ascending; ties break on dim index (struct sort)
    ranked = (
        f"slice(array_sort(transform(sequence(1, {bits}), "
        f"i -> struct(abs(cast(try_element_at({vec_col}, i) AS double)) AS d, "
        f"i AS i))), 1, {n_flips})"
    )
    return F.expr(
        f"concat(array({base}), transform({ranked}, s -> concat("
        f"substring({base}, 1, s.i - 1), "
        f"CASE WHEN substring({base}, s.i, 1) = '1' THEN '0' ELSE '1' END, "
        f"substring({base}, s.i + 1, {bits} - s.i))))"
    )


def ann_bruteforce_topk(emb: DataFrame, k: int = 10,
                        query_mod: int = 25) -> DataFrame:
    """Exact cosine top-k for the query subset (vec_id % query_mod == 0).

    Queries are broadcast (small side); corpus is scanned in place —
    embarrassingly parallel scoring with no corpus shuffle. A per-partition
    top-k pre-prune (:func:`_partition_topk`, narrow) then cuts the ranking
    window's exchange from |corpus| rows per query down to k × n_partitions
    — the plan that survives a 10^9-row corpus. Output is identical to the
    direct window (same total order, superset-of-top-k invariant).
    """
    n = with_unit_norm(emb)
    q = n.where((F.col("vec_id") % query_mod) == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"), F.col("nrm").alias("qn"))
    c = n.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("e").alias("ce"), F.col("nrm").alias("cn"))
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            (_dot("qe", "ce") / (F.col("qn") * F.col("cn"))).alias("cos"),
        )
    )
    return _rank_topk(_partition_topk(scored, k), k)


def ann_lsh_topk(emb: DataFrame, k: int = 5, bits: int = 6,
                 query_mod: int = 25, probes: int = 1) -> DataFrame:
    """LSH-bucketed ANN: candidates restricted to the query's sign bucket(s).

    The join is keyed on the bucket string → hash-partitioned equality join,
    corpus scanned once, ~probes × corpus/2^bits candidates per query.
    ``probes > 1`` unions in the nearest neighboring buckets (least-
    confident sign bits flipped — :func:`probe_buckets`): recall rises
    monotonically with probes at linear candidate cost. probes=1 is the
    oracle-parity default; buckets are distinct so no candidate duplicates.
    """
    n = with_unit_norm(emb).withColumn("bucket", sign_bucket("e", bits))
    q = (
        n.where((F.col("vec_id") % query_mod) == 0)
        .select(F.col("vec_id").alias("query_id"),
                F.col("e").alias("qe"), F.col("nrm").alias("qn"),
                F.explode(probe_buckets("e", bits, probes)).alias("bucket"))
    )
    c = n.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("e").alias("ce"), F.col("nrm").alias("cn"), "bucket")
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                (_dot("qe", "ce") / (F.col("qn") * F.col("cn"))).alias("cos"))
    )
    return _rank_topk(scored, k)


def ann_ivf_topk(emb: DataFrame, k: int = 5, query_mod: int = 25,
                 probes: int = 1) -> DataFrame:
    """IVF-style ANN: inverted lists keyed by the `label` cluster id, a
    deterministic representative vector per list (the min-vec_id member —
    a medoid stand-in that keeps the oracle exact; k-means centroids would
    introduce cross-engine float-sum nondeterminism).

    Plan shape at scale: representatives (n_clusters rows) broadcast both
    ways; the probe assignment is a per-query top-``probes`` over
    n_clusters tiny cosines; the candidate scan touches
    ~probes × corpus/n_clusters rows via the equality join on label — the
    IVF fan-in reduction. Lists are disjoint, so multi-probe never
    duplicates a candidate; probes=1 is the oracle-parity default.
    """
    n = with_unit_norm(emb)
    labeled = n.join(emb.select("vec_id", "label"), "vec_id")
    reps = (
        labeled.groupBy("label").agg(F.min("vec_id").alias("rep_id"))
        .join(n.select(F.col("vec_id").alias("rep_id"),
                       F.col("e").alias("re"), F.col("nrm").alias("rn")),
              "rep_id")
    )
    q = labeled.where((F.col("vec_id") % query_mod) == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"), F.col("nrm").alias("qn"))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("rep_cos"), F.asc("label"))
    probes = (
        q.join(F.broadcast(reps))
        .select("query_id", "qe", "qn", "label",
                (_dot("qe", "re") / (F.col("qn") * F.col("rn")))
                .alias("rep_cos"))
        .withColumn("pr", F.row_number().over(probe_w))
        .where(F.col("pr") <= probes)
        .select("query_id", "qe", "qn", "label")
    )
    cand = labeled.select(F.col("vec_id").alias("neighbor_id"),
                          F.col("e").alias("ce"), F.col("nrm").alias("cn"),
                          "label")
    scored = (
        cand.join(F.broadcast(probes), "label")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                (_dot("qe", "ce") / (F.col("qn") * F.col("cn"))).alias("cos"))
    )
    return _rank_topk(scored, k)


def choose_bits(n_rows: int, target_bucket_rows: int, min_bits: int = 4,
                max_bits: int = 24) -> int:
    """Bucket-count sizing: enough sign bits that the EXPECTED bucket holds
    ~target_bucket_rows vectors, so the per-bucket self-join stays
    O(target²) per bucket as the corpus grows (a fixed bit count is
    quadratic in corpus size at 100×). Clamped to the embedding dimension
    by the caller (sign bits use the leading dims)."""
    import math

    need = math.ceil(math.log2(max(n_rows / max(target_bucket_rows, 1), 1)))
    return max(min_bits, min(need, max_bits))


def cosine_near_dup_pairs(emb: DataFrame, threshold: float = 0.30,
                          bits: int = 4,
                          target_bucket_rows: int | None = None,
                          n_tables: int = 1) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ threshold within an LSH bucket.

    Bucketing turns the O(n²) cross join into per-bucket joins (AQE handles
    bucket skew). Sign-bit LSH guarantees recall only for very high
    thresholds; for the near-dup use case (θ ≥ 0.9 in production; relaxed
    here for the synthetic corpus) bucket-collision probability is
    (1 - θ_angle/π)^bits per plane — multi-probe extends recall.

    ``target_bucket_rows`` is the scale path: the bit count GROWS with the
    corpus (:func:`choose_bits`, one count() at plan time) so per-bucket
    join work stays bounded at ~target² regardless of corpus size — the
    fixed default (bits=4, oracle parity) is 16 buckets and O((n/16)²) at
    100×. More bits trade recall exactly like narrower LSH bands;
    ``n_tables > 1`` buys it back MinHash-band style: each extra table is
    an independent sign hash over the next ``bits`` dimensions, candidates
    are the union over tables (a true pair only needs to agree in ONE
    table), and the exact cosine verify filters the union. Pair output at
    higher bits is a subset of the lower-bit output; adding tables is a
    superset of table 0 alone. Requires embedding dim ≥ bits × n_tables
    (out-of-range dims read as sign '0', silently degrading table
    independence — size n_tables to the vector width).
    """
    if target_bucket_rows is not None:
        dim = emb.select(
            F.size(_dvec("embedding")).alias("d")).first()["d"]
        bits = min(choose_bits(emb.count(), target_bucket_rows, bits), dim)
    n = with_unit_norm(emb)
    if n_tables == 1:
        nb = n.withColumn("bucket", sign_bucket("e", bits))
        a = nb.select(F.col("vec_id").alias("id_a"), F.col("e").alias("ea"),
                      F.col("nrm").alias("na"), "bucket")
        b = nb.select(F.col("vec_id").alias("id_b"), F.col("e").alias("eb"),
                      F.col("nrm").alias("nb"), "bucket")
        return (
            a.join(b, "bucket")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    (_dot("ea", "eb") / (F.col("na") * F.col("nb")))
                    .alias("cos"))
            .where(F.col("cos") >= threshold)
            .select("id_a", "id_b", "cos")
        )
    # multi-band: explode (table_idx, bucket) pairs, candidate join keyed on
    # both, distinct pair set, then ONE exact verify join (cos computed once
    # per pair, not per colliding table)
    bands = F.array(*[
        F.struct(F.lit(t).alias("t"),
                 sign_bucket("e", bits, offset=t * bits).alias("bucket"))
        for t in range(n_tables)
    ])
    banded = n.select("vec_id", F.explode(bands).alias("b")).select(
        "vec_id", F.col("b.t").alias("t"), F.col("b.bucket").alias("bucket"))
    a = banded.select(F.col("vec_id").alias("id_a"), "t", "bucket")
    b = banded.select(F.col("vec_id").alias("id_b"), "t", "bucket")
    cand = (
        a.join(b, ["t", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ea = n.select(F.col("vec_id").alias("id_a"), F.col("e").alias("ea"),
                  F.col("nrm").alias("na"))
    eb = n.select(F.col("vec_id").alias("id_b"), F.col("e").alias("eb"),
                  F.col("nrm").alias("nb"))
    return (
        cand.join(ea, "id_a").join(eb, "id_b")
        .select("id_a", "id_b",
                (_dot("ea", "eb") / (F.col("na") * F.col("nb"))).alias("cos"))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def ann_pq_topk(emb: DataFrame, k: int = 5, m: int = 4, codebook: int = 16,
                query_mod: int = 25, rerank: int | None = None,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation (ADC)
    — the memory-scale path beyond IVF/LSH (Jégou et al., PAMI'11, public):
    each vector compresses to ``m`` sub-space codes (here 4×4 bits ≈ 2
    bytes vs 256 bytes float32), and query-to-vector distance is ``m``
    table lookups instead of a D-dim dot product.

    Determinism/oracle design: codebooks are the sub-vectors of the
    ``codebook`` corpus rows with the smallest md5(vec_id) (the same
    RNG-free sampling as the IVF medoid reps — k-means would introduce
    cross-engine float-sum nondeterminism). Sub-space L2² uses
    ``dot(a,a) + dot(b,b) − 2·dot(a,b)`` with left-to-right folds (==
    DuckDB ``list_dot_product`` bitwise), and the per-(query, centroid)
    lookup entries are floored to INTEGER micros — so the ADC sums are
    order-independent and the whole query passes the exact value-hash
    gate. Encoding ties break toward the smaller centroid index.

    Plan shape at scale: the codebook (m·codebook rows) broadcasts into
    the corpus encode (one narrow pass, n·m·codebook comparisons, no
    shuffle besides the per-vector argmin combine); queries' lookup
    tables broadcast into a corpus scan whose per-row cost is m
    ``element_at`` lookups — the PQ compute win — and only the ranking
    candidates shuffle. Returns (query_id, neighbor_id, rank, adc_micros)
    — or, with ``rerank=R``, the IVFADC-style refine: the ADC top-R
    shortlist is re-scored with EXACT L2² (floored to integer micros, same
    determinism argument) and the final top-k returns (query_id,
    neighbor_id, rank, l2_micros). Measured on the synthetic corpus:
    ADC-only recall@5 is 0.08–0.47 depending on (m, codebook) — random
    high-dim vectors concentrate distances, the PQ worst case — while the
    (m=16, K=64) R=100 shortlist retains 0.99 of the exact top-5, so the
    re-ranked output is near-exact at shortlist cost. Re-rank touches
    R·|queries| rows — candidate-sized, not corpus-sized.
    """
    dim = emb.select(F.size(_dvec(vec_col)).alias("d")).first()["d"]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    w = dim // m

    ev = emb.select(F.col(id_col).alias("vec_id"), _dvec(vec_col).alias("v"))
    cent_ids = (
        ev.select("vec_id",
                  F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id").limit(codebook)
    )
    cidx_w = Window.orderBy("h", "vec_id")  # codebook rows only — tiny
    cents = (
        cent_ids.withColumn("cidx", F.row_number().over(cidx_w))
        .join(ev, "vec_id")
        .select("cidx", F.explode(F.sequence(F.lit(0), F.lit(m - 1)))
                .alias("ms"), "v")
        .select("cidx", "ms",
                F.expr(f"slice(v, ms * {w} + 1, {w})").alias("cs"))
        .withColumn("c_self", _dot("cs", "cs"))
    )

    # Encode: the codebook collapses to a driver-side numpy constant
    # (K·m·w doubles — metadata-sized, same class as the dim probe above)
    # and the per-vector argmin runs as an Arrow-batched mapInPandas.
    # The float64 arithmetic REPLAYS the oracle's evaluation order
    # exactly — every dot is the left-to-right fold ((0 + a1·b1) + a2·b2)
    # + …, dsq is (s_self + c_self) − 2·dot in that literal order, and
    # np.argmin's first-minimum tiebreak equals ORDER BY (dsq, cidx)
    # because centroids are evaluated in cidx order — so codes are
    # bit-identical to the SQL formulation at numpy speed. Two prior
    # formulations both failed at 1M×20: an exploded n·m·K-row
    # join+shuffle+argmin (287 s) and a pure-expression in-projection
    # argmin (higher-order lambdas don't codegen: ~1B interpreted evals
    # with a slice allocation per centroid — slower still).
    book_rows = cents.select("ms", "cidx", "cs").collect()
    # clamp to the centroids that actually exist: a corpus smaller than
    # `codebook` fills fewer cidx slots, and np.empty's uninitialized
    # tail would otherwise win argmins nondeterministically (and emit
    # code indices past the ADC LUT rows — an ANSI element_at crash)
    n_cent = max((r["cidx"] for r in book_rows), default=0)
    if n_cent == 0:
        raise ValueError("ann_pq_topk: corpus has no codebook rows")
    cbook = np.empty((m, n_cent, w), dtype=np.float64)
    for r in book_rows:
        cbook[r["ms"], r["cidx"] - 1, :] = r["cs"]
    cself = np.empty((m, n_cent), dtype=np.float64)
    for msi in range(m):
        for j in range(n_cent):
            acc = np.float64(0.0)
            for i in range(w):
                acc = acc + cbook[msi, j, i] * cbook[msi, j, i]
            cself[msi, j] = acc

    def _fold_dot(A, B):
        # aggregate()/list_dot_product evaluation order, elementwise
        acc = np.float64(0.0) + A[:, 0] * B[..., 0]
        for i in range(1, A.shape[1]):
            acc = acc + A[:, i] * B[..., i]
        return acc

    def _encode(batches):
        for pdf in batches:
            V = np.asarray(pdf["v"].to_list(), dtype=np.float64)
            n = V.shape[0]
            out = np.empty((n, m), dtype=np.int64)
            for msi in range(m):
                S = V[:, msi * w:(msi + 1) * w]
                ss = _fold_dot(S, S)
                D = np.empty((n, n_cent), dtype=np.float64)
                for j in range(n_cent):
                    D[:, j] = (ss + cself[msi, j]) \
                        - 2.0 * _fold_dot(S, cbook[msi, j])
                out[:, msi] = np.argmin(D, axis=1) + 1  # cidx is 1-based
            yield pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy(),
                                "codes": out.tolist()})

    codes = ev.select("vec_id", "v").mapInPandas(
        _encode, schema="vec_id bigint, codes array<int>")

    # per-query ADC lookup tables, floored to integer micros — queries
    # only (tiny), so the explode+join formulation is fine here
    subs = (
        ev.where((F.col("vec_id") % query_mod) == 0)
        .select(F.col("vec_id").alias("query_id"),
                F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("ms"),
                "v")
        .select("query_id", "ms",
                F.expr(f"slice(v, ms * {w} + 1, {w})").alias("sv"))
        .withColumn("s_self", _dot("sv", "sv"))
    )
    dsq = (F.col("s_self") + F.col("c_self")
           - F.lit(2.0) * _dot("sv", "cs"))
    lut = (
        subs.join(F.broadcast(cents), "ms")
        .select("query_id", "ms", "cidx",
                F.floor(dsq * F.lit(1_000_000.0)).cast("bigint").alias("dm"))
        .groupBy("query_id", "ms")
        .agg(F.array_sort(F.collect_list(F.struct("cidx", "dm"))).alias("cd"))
        .select("query_id", "ms",
                F.expr("transform(cd, s -> s.dm)").alias("row"))
        .groupBy("query_id")
        .agg(F.array_sort(F.collect_list(F.struct("ms", "row"))).alias("mr"))
        .select("query_id",
                F.expr("transform(mr, s -> s.row)").alias("lut"))
    )

    scored = (
        codes.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(lut))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.expr(
                "aggregate(zip_with(codes, lut, (c, r) -> element_at(r, c)), "
                "cast(0 AS bigint), (acc, x) -> acc + x)"
            ).alias("adc_micros"),
        )
    )
    # per-partition pre-prune before the global ranking window (same
    # output-identical argument as ann_topk): the exchange carries
    # ≤ prune_k × n_partitions rows per query, not the scored corpus
    prune_k = k if rerank is None else rerank
    scored = _partition_topk(scored, prune_k, order_col="adc_micros",
                             ascending=True)
    rk = Window.partitionBy("query_id").orderBy(
        F.asc("adc_micros"), F.asc("neighbor_id"))
    if rerank is None:
        return (
            scored.withColumn("rank", F.row_number().over(rk))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "adc_micros")
        )
    shortlist = (
        scored.withColumn("rank", F.row_number().over(rk))
        .where(F.col("rank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    # queries and the shortlist are candidate-sized — broadcast BOTH so
    # the refine never shuffles the corpus-sized vector table
    qv = (ev.where((F.col("vec_id") % query_mod) == 0)
          .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv")))
    cv = ev.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("v").alias("cv"))
    exact_d2 = (_dot("qv", "qv") + _dot("cv", "cv")
                - F.lit(2.0) * _dot("qv", "cv"))
    refined = (
        cv.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "neighbor_id",
                F.floor(exact_d2 * F.lit(1_000_000.0)).cast("bigint")
                .alias("l2_micros"))
    )
    rk2 = Window.partitionBy("query_id").orderBy(
        F.asc("l2_micros"), F.asc("neighbor_id"))
    return (
        refined.withColumn("rank", F.row_number().over(rk2))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "l2_micros")
    )


def quantize_int8(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization (the ANN memory-compression
    path: 4x smaller than float32, dot products in integer SIMD).

    scale = 127 / max|x_i|; q_i = floor(x_i * scale + 0.5). floor(x + 0.5)
    is used instead of round() deliberately: both engines floor identically
    on identical doubles, while round() half-up/banker differences are the
    documented cross-engine trap. All arithmetic is on doubles widened from
    the same float32 inputs → bit-identical results in Spark and DuckDB.

    Narrow plan: pure codegen per row, zero shuffle. Output keeps the
    quantized vector implicitly via its checksums (q_sum / q_sq_sum) so the
    driver hash check covers every component without hashing 256-element
    arrays; ANN consumers call this and keep the ``q`` column instead.
    """
    x = F.col(vec_col)
    maxabs = F.array_max(F.transform(x, lambda v: F.abs(v.cast("double"))))
    scale = F.lit(127.0) / F.greatest(maxabs, F.lit(1e-12))
    q = F.transform(x, lambda v: F.floor(v.cast("double") * scale + F.lit(0.5)).cast("int"))
    zero = F.lit(0).cast("bigint")
    return emb.select(
        id_col,
        scale.alias("scale"),
        F.aggregate(q, zero, lambda acc, v: acc + v).alias("q_sum"),
        F.aggregate(q, zero, lambda acc, v: acc + v * v).alias("q_sq_sum"),
        F.size(q).alias("n_dims"),
    )


# ---------------------------------------------------------------------------
# Persisted incremental IVF index (delta append + pruned query)
# ---------------------------------------------------------------------------


def write_ivf_index(spark, emb: DataFrame, path: str) -> None:
    """Initial load of a PERSISTED IVF index: unit-normed assignments
    laid out as ``label=<l>/slot=<s>/`` partition dirs (a probe reads
    ONLY its probed lists — partition pruning, the on-disk form of the
    IVF fan-in; ``slot`` is a PHYSICAL sub-partition within a list that
    :func:`rebalance_ivf_index` keeps size-bounded under skewed appends
    — probe routing never sees it), plus a tiny ``reps/`` sidecar
    (per-list representative = min-vec_id medoid, the same deterministic
    choice as :func:`ann_ivf_topk`; a plain sibling dir, NOT
    underscore-prefixed — Spark hides ``_*`` paths from directory
    listings and warns on every read).

    The min-id medoid makes the index MERGEABLE: min is a monoid, so
    :func:`append_ivf_index` can fold a delta's per-list minima into the
    stored reps and the result is EXACTLY the index a batch rebuild
    would produce — the incremental==batch equality is structural, and
    the driver query's oracle (the batch IVF SQL verbatim) proves it at
    value level.
    """
    n = with_unit_norm(emb)
    labeled = (n.join(emb.select("vec_id", "label"), "vec_id")
               .withColumn("slot", F.lit(0)))
    (labeled.write.partitionBy("label", "slot").mode("overwrite")
     .parquet(f"{path}/lists"))
    # reps/ carries the rep VECTORS (label, rep_id, re, rn): queries
    # broadcast it directly instead of scanning the corpus for rep rows
    (_rep_rows(labeled).coalesce(1).write.mode("overwrite")
     .parquet(f"{path}/reps"))


def _rep_rows(labeled: DataFrame) -> DataFrame:
    """Per-list representative row WITH its vector: the min-vec_id member
    selected via a min-by struct (single groupBy, monoid-mergeable)."""
    picked = labeled.groupBy("label").agg(
        F.min(F.struct("vec_id", "e", "nrm")).alias("m"))
    return picked.select(
        "label", F.col("m.vec_id").alias("rep_id"),
        F.col("m.e").alias("re"), F.col("m.nrm").alias("rn"))


def append_ivf_index(spark, new_emb: DataFrame, path: str) -> None:
    """Append a delta: new assignments land in their label partitions
    (append — delta-sized write), and the rep table refreshes by folding
    the delta's per-list minima into the stored ones (rep-sized, not
    corpus-sized). Vectors keep their own list label (IVF lists are
    fixed between retrains); contract: delta vec_ids are fresh."""
    n = with_unit_norm(new_emb)
    labeled = (n.join(new_emb.select("vec_id", "label"), "vec_id")
               .withColumn("slot", F.lit(0)))
    labeled = labeled.localCheckpoint(eager=True)
    (labeled.write.partitionBy("label", "slot").mode("append")
     .parquet(f"{path}/lists"))
    old = spark.read.parquet(f"{path}/reps")
    merged = (
        old.unionByName(_rep_rows(labeled))
        .groupBy("label")
        .agg(F.min(F.struct("rep_id",
                            F.col("re"), F.col("rn"))).alias("m"))
        .select("label", F.col("m.rep_id").alias("rep_id"),
                F.col("m.re").alias("re"), F.col("m.rn").alias("rn"))
        .localCheckpoint(eager=True)  # materialize before overwriting input
    )
    (merged.coalesce(1).write.mode("overwrite").parquet(f"{path}/reps"))


def rebalance_ivf_index(spark, path: str, max_list_size: int,
                        max_rounds: int = 32) -> dict:
    """Bound the PHYSICAL list partitions of a persisted IVF index:
    every ``(label, slot)`` dir whose row count exceeds
    ``max_list_size`` is split into two slots by the two-pole rule —
    pole A = the list's min-vec_id member (the monoid medoid), pole B =
    the member FARTHEST from A (min cosine, vec_id tie-break); members
    are ordered by relative affinity ``cos_b - cos_a`` (nearest-to-A
    first, vec_id tie-break) and the first half keeps the slot, the
    rest move to a fresh slot. The balanced cut guarantees halving (so
    splitting is O(log n) rounds even for degenerate all-identical
    lists, where a pure nearest-pole assignment would never progress)
    while preserving the poles' geometry: each child is coherent around
    its pole, ready to be PROMOTED to a probe-level list by a future
    retrain.

    Probe routing is untouched — ``reps/`` still carries one parent-level
    rep per label, so query results are IDENTICAL before and after a
    rebalance (the driver query shares ann_ivf_topk's batch oracle
    verbatim across a forced rebalance). What changes is physical:
    appends always land in slot 0, so a hot list would otherwise grow
    one unbounded partition; after rebalance its scan parallelism and
    per-task memory stay bounded by ``max_list_size``. The ANN analog of
    plans/layout.py's compact_small_files, in the splitting direction.

    Only oversized groups are rewritten (dynamic partition overwrite);
    the rewrite frame is localCheckpoint'd first because it reads the
    same files it replaces. Returns ``{"rounds", "splits",
    "max_list_rows"}`` (post-rebalance).
    """
    from functools import reduce
    from operator import or_

    lists_path = f"{path}/lists"
    rounds = 0
    splits = 0
    while True:
        lists = spark.read.parquet(lists_path)
        sizes = {(r["label"], r["slot"]): r["n"]
                 for r in lists.groupBy("label", "slot")
                 .agg(F.count(F.lit(1)).alias("n")).collect()}
        over = sorted((ls for ls, n_ in sizes.items()
                       if n_ > max_list_size))
        if not over or rounds >= max_rounds:
            return {"rounds": rounds, "splits": splits,
                    "max_list_rows": max(sizes.values())}
        # fresh slot ids per label, assigned driver-side (the size map is
        # list-count bounded metadata, same discipline as ann_query_index's
        # probed-label collect)
        next_slot = {lbl: max(s for (l2, s) in sizes if l2 == lbl) + 1
                     for lbl in {l for l, _ in over}}
        plan_rows = []
        for lbl, slot in over:
            plan_rows.append((lbl, slot, sizes[(lbl, slot)],
                              next_slot[lbl]))
            next_slot[lbl] += 1
        split_plan = F.broadcast(local_frame(
            spark, plan_rows, "label int, slot int, n bigint, new_slot int"))
        cond = reduce(or_, ((F.col("label") == l) & (F.col("slot") == s)
                            for l, s in over))
        members = lists.where(cond)  # (label, slot) partition pruning
        a = members.groupBy("label", "slot").agg(
            F.min(F.struct("vec_id", "e", "nrm")).alias("a"))
        m1 = (members.join(a, ["label", "slot"])
              .withColumn("cos_a", _dot("e", "a.e")
                          / (F.col("nrm") * F.col("a.nrm"))))
        b = m1.groupBy("label", "slot").agg(
            F.min(F.struct(F.col("cos_a").alias("c"), "vec_id",
                           "e", "nrm")).alias("b"))
        m2 = (m1.join(b, ["label", "slot"])
              .withColumn("cos_b", _dot("e", "b.e")
                          / (F.col("nrm") * F.col("b.nrm"))))
        w = Window.partitionBy("label", "slot").orderBy(
            (F.col("cos_b") - F.col("cos_a")).asc(), F.col("vec_id"))
        ranked = (m2.withColumn("rn", F.row_number().over(w))
                  .join(split_plan, ["label", "slot"]))
        out_slot = (F.when(F.col("rn") * 2 <= F.col("n") + 1,
                           F.col("slot"))
                    .otherwise(F.col("new_slot")).alias("slot"))
        data_cols = [c for c in lists.columns if c not in ("label", "slot")]
        rewritten = (ranked.select(*data_cols, "label", out_slot)
                     .localCheckpoint(eager=True))
        (rewritten.write.partitionBy("label", "slot").mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .parquet(lists_path))
        rounds += 1
        splits += len(over)


def ann_query_index(spark, path: str, k: int = 5, query_mod: int = 25,
                    probes: int = 1) -> DataFrame:
    """Query the persisted index: assign each query to its top-``probes``
    lists via the (broadcast) rep table, then scan ONLY those lists'
    partition dirs. Queries here are the same deterministic corpus
    subset as :func:`ann_ivf_topk` (vec_id % query_mod == 0) so the
    driver oracle is shared verbatim; production passes its own query
    frame through the identical plan.

    The probed-label set is list-count-bounded (≤ n_clusters) —
    collected driver-side so the lists scan carries a LITERAL partition
    filter (a join would not prune partitions).
    """
    reps = spark.read.parquet(f"{path}/reps")
    lists = spark.read.parquet(f"{path}/lists")
    q = lists.where((F.col("vec_id") % query_mod) == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"), F.col("nrm").alias("qn"))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("rep_cos"), F.asc("label"))
    probed = (
        q.join(F.broadcast(reps))
        .select("query_id", "qe", "qn", "label",
                (_dot("qe", "re") / (F.col("qn") * F.col("rn")))
                .alias("rep_cos"))
        .withColumn("pr", F.row_number().over(probe_w))
        .where(F.col("pr") <= probes)
        .select("query_id", "qe", "qn", "label")
    ).localCheckpoint(eager=True)
    labels = sorted(r["label"] for r in
                    probed.select("label").distinct().collect())
    cand = (lists.filter(F.col("label").isin(labels))
            .select(F.col("vec_id").alias("neighbor_id"),
                    F.col("e").alias("ce"), F.col("nrm").alias("cn"),
                    "label"))
    scored = (
        cand.join(F.broadcast(probed), "label")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                (_dot("qe", "ce") / (F.col("qn") * F.col("cn"))).alias("cos"))
    )
    return _rank_topk(scored, k)


def embed_centroids(emb: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """Per-label elementwise-mean centroid — the k-means M-step / IVF
    retrain building block — with CROSS-ENGINE-EXACT doubles.

    Float addition is not associative, so a plain per-dimension sum
    (shuffle-order-dependent partials) can differ in the last ulp
    between engines or even between runs. Here the sum REPLAYS one
    fixed order on both sides: vectors sort by ``id_col`` and fold
    LEFT-TO-RIGHT starting FROM THE FIRST VECTOR (DuckDB's
    ``list_reduce`` has no init value, so the Spark ``aggregate()``
    seeds with element 1 and folds the tail — same operand sequence,
    bit-identical IEEE results). The mean divides each component by
    the same bigint count once.

    Output is EXPLODED to (label, n, dim, c) scalar rows (1-based dim)
    so downstream exact comparison hashes doubles, not array-to-string
    formatting. Per-label state is the label's vector list — bounded by
    list size like every collect_list fold here; at 10^9-vector labels
    use a two-level segment fold (the ewma_merged pattern) instead.
    """
    cent = _label_centroids(emb, label_col, vec_col, id_col)
    return cent.select(
        "label", "n",
        F.posexplode("c").alias("dim0", "c"),
    ).select(
        "label", "n",
        (F.col("dim0") + 1).cast("int").alias("dim"),
        "c",
    )


def _label_centroids(emb: DataFrame, label_col: str = "label",
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """(label, n, c) per-label mean vectors with the replayed fold order
    (see :func:`embed_centroids` for the determinism contract)."""
    g = emb.groupBy(F.col(label_col).alias("label")).agg(
        F.sort_array(F.collect_list(F.struct(
            F.col(id_col).cast("bigint").alias("i"),
            F.col(vec_col).cast("array<double>").alias("e"),
        ))).alias("h"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    init = F.element_at(F.col("h"), 1)["e"]
    tail = F.expr("slice(h, 2, greatest(size(h) - 1, 0))")
    fold = F.aggregate(
        tail, init,
        lambda acc, s: F.zip_with(acc, s["e"], lambda a, b: a + b))
    return g.select(
        "label", "n",
        F.transform(fold, lambda x: x / F.col("n")).alias("c"))


def centroid_separation(emb: DataFrame, label_col: str = "label",
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Pairwise cosine between label centroids — the class-geometry
    audit behind ANN recall and k-NN label quality: labels whose
    centroids sit near cos=1 are the ones brute-force/IVF confuse.

    Centroids reuse the replayed-fold mean (:func:`embed_centroids`'s
    determinism contract); each pairwise cosine is a LEFT-TO-RIGHT
    ``aggregate()`` dot-product fold over the zipped component products
    == DuckDB ``list_dot_product`` (verified bitwise, the ann oracle
    pattern), and the norms go through IEEE-exact sqrt. k labels → a
    broadcast self-join of k(k-1)/2 pairs; the corpus is touched once.

    Returns ``(label_a, label_b, n_a, n_b, cos)``.
    """
    cent = _label_centroids(emb, label_col, vec_col, id_col)

    def _dotf(x: str, y: str):
        return F.aggregate(
            F.zip_with(F.col(x), F.col(y), lambda a, b: a * b),
            F.lit(0.0), lambda acc, v: acc + v)

    a = cent.select(F.col("label").alias("label_a"),
                    F.col("n").alias("n_a"), F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"),
                    F.col("n").alias("n_b"), F.col("c").alias("cb"))
    pairs = a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
    return pairs.select(
        "label_a", "label_b", "n_a", "n_b",
        (_dotf("ca", "cb")
         / (F.sqrt(_dotf("ca", "ca")) * F.sqrt(_dotf("cb", "cb"))))
        .alias("cos"))


def kmeans_lloyd(emb: DataFrame, k: int = 8, n_iter: int = 2,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """Deterministic Lloyd's k-means, CROSS-ENGINE-EXACT at every step —
    the full iterative-ML loop on the engine (IVF retrain path), not a
    blackbox MLlib call:

    - seeds: the vectors with the k smallest ids (cluster id = seed id);
    - E-step: d² = left-to-right fold over the squared difference list —
      the verified _dot/list_dot_product operand sequence — and the
      argmin is a (d², cluster) min-struct (== ORDER BY d2, cluster
      rank-1), so ties break identically;
    - M-step: per-cluster mean via the replayed sorted fold
      (:func:`embed_centroids`'s discipline: seed with member 1, fold
      the tail in vec_id order — DuckDB list_reduce's exact order).

    Every double on both sides comes from the same IEEE operand
    sequence, so the n_iter-th centroids hash-match the oracle's
    unrolled SQL. Returns (cluster, n, dim, c) exploded scalar rows.

    Scale shape per iteration: one k×n broadcast-join E-step (the
    classic Lloyd cost) + one fold-per-cluster M-step; per-cluster
    state is the member list (two-level segment folds at 10^9-member
    clusters). n_iter is small and fixed — the plan unrolls; insert a
    localCheckpoint between iterations past ~4 rounds (plan growth).
    """
    v = emb.select(
        F.col(id_col).cast("bigint").alias("vec_id"),
        _dvec(vec_col).alias("e"),
    )
    cent = (
        v.where(F.col("vec_id") < k)
        .select(F.col("vec_id").alias("cluster"), F.col("e").alias("c"))
    )
    for _ in range(n_iter):
        j = v.crossJoin(F.broadcast(cent))
        d2 = F.expr(
            "aggregate(zip_with(e, c, (x, y) -> (x - y) * (x - y)), "
            "cast(0 AS double), (acc, x) -> acc + x)")
        assigned = (
            j.select("vec_id", "e",
                     F.struct(d2.alias("d2"),
                              F.col("cluster").alias("cl")).alias("_s"))
            .groupBy("vec_id")
            # every one of the k copies carries the same e — first() is
            # deterministic over identical values
            .agg(F.min("_s").alias("_m"), F.first("e").alias("e"))
            .select("vec_id", "e", F.col("_m.cl").alias("cluster"))
        )
        g = assigned.groupBy("cluster").agg(
            F.sort_array(F.collect_list(F.struct(
                F.col("vec_id").alias("i"), F.col("e").alias("e")
            ))).alias("h"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        init = F.element_at(F.col("h"), 1)["e"]
        tail = F.expr("slice(h, 2, greatest(size(h) - 1, 0))")
        fold = F.aggregate(
            tail, init,
            lambda acc, s: F.zip_with(acc, s["e"], lambda a, b: a + b))
        cent = g.select(
            "cluster", "n",
            F.transform(fold, lambda x: x / F.col("n")).alias("c"))
    return cent.select(
        "cluster", "n",
        F.posexplode("c").alias("dim0", "c"),
    ).select(
        "cluster", "n",
        (F.col("dim0") + 1).cast("int").alias("dim"),
        "c",
    )


def rbo_overlap(truth: DataFrame, found: DataFrame, k: int = 5,
                p: float = 0.9) -> DataFrame:
    """Rank-biased overlap between two top-k rankings per query
    (Webber, Moffat & Zobel, TOIS 2010): the top-weighted agreement
    measure that, unlike recall, rewards putting the SAME items at the
    SAME depths — the rank-aware companion to ann_recall for judging
    an ANN index against brute force. Truncated form:
    ``RBO = (1-p) · sum_{d=1..k} p^(d-1) · |A_d ∩ B_d| / d``.

    Determinism: overlap-at-depth comes from integer ranks (an item in
    both lists contributes to every depth ≥ max of its two ranks, so
    the per-depth counts are one bounded broadcast-depth join — never
    a set computation per depth); the ``p^(d-1)`` weights are Python-
    float literals injected into BOTH engines (the Benford literal
    discipline), and the k-term sum folds LEFT-TO-RIGHT over depth
    order (== DuckDB list_reduce with a 0.0 seed). Queries with zero
    agreement keep a row (grid LEFT joins, the topic_boundaries
    lesson) with rbo = 0.0.

    Inputs carry ``(query_id, neighbor_id, rank)`` with rank 1..k.
    Returns ``(query_id, n_common, rbo)``.
    """
    spark = truth.sparkSession
    t = truth.select("query_id", "neighbor_id",
                     F.col("rank").alias("_rt"))
    f = found.select("query_id", "neighbor_id",
                     F.col("rank").alias("_rf"))
    both = t.join(f, ["query_id", "neighbor_id"]).select(
        "query_id", F.greatest("_rt", "_rf").cast("int").alias("_mr"))
    depths = local_frame(spark, [(d,) for d in range(1, k + 1)], "d int")
    grid = (truth.select("query_id").distinct()
            .crossJoin(F.broadcast(depths)))
    ov = (both.crossJoin(F.broadcast(depths))
          .where(F.col("_mr") <= F.col("d"))
          .groupBy("query_id", "d")
          .agg(F.count(F.lit(1)).cast("bigint").alias("_ov")))
    g = grid.join(ov, ["query_id", "d"], "left").select(
        "query_id", "d",
        F.coalesce("_ov", F.lit(0)).cast("bigint").alias("_ov"))
    wts = F.array(*[F.lit(float(p) ** (d - 1)) for d in range(1, k + 1)])
    term = (F.element_at(wts, F.col("d"))
            * (F.col("_ov").cast("double") / F.col("d").cast("double")))
    folded = (g.select("query_id", "d", term.alias("_t"))
              .groupBy("query_id")
              .agg(F.array_sort(F.collect_list(F.struct("d", "_t")))
                   .alias("_h"))
              .select("query_id", F.expr(
                  "aggregate(transform(_h, s -> s._t), "
                  "cast(0.0 AS double), (acc, v) -> acc + v)")
                  .alias("_s")))
    nc = both.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"))
    return (folded.join(nc, "query_id", "left")
            .select("query_id",
                    F.coalesce("n_common", F.lit(0)).cast("bigint")
                    .alias("n_common"),
                    (F.lit(1.0 - float(p)) * F.col("_s")).alias("rbo")))
