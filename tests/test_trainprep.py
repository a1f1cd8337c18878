"""Unit tests for training-data prep operators (dedup / similarity /
multimodal plumbing) beyond the oracle-parity gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_TINY


def test_decode_stub_raises():
    from logpipe_spark.trainprep.multimodal import decode_image_stub

    with pytest.raises(NotImplementedError):
        decode_image_stub(b"\x00" * 16)


def test_payload_is_binary_and_16_bytes(spark):
    from logpipe_spark.trainprep.multimodal import with_fake_payload

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    p = with_fake_payload(docs)
    assert dict(p.dtypes)["payload"] == "binary"
    lens = p.select(F.length("payload").alias("n")).distinct().collect()
    assert [r.n for r in lens] == [16]


def test_frame_sample_plan(spark):
    from logpipe_spark.trainprep.multimodal import (frame_sample_stub,
                                                    with_fake_payload)

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").limit(5)
    plan = frame_sample_stub(with_fake_payload(docs), every_n=10)
    rows = plan.collect()
    # 16-byte payload → 32 fake frames → indices 0,10,20,30 per doc
    assert sorted({r.frame_idx for r in rows}) == [0, 10, 20, 30]
    assert len(rows) == 5 * 4


def test_simhash_band_reconstruction(spark):
    from logpipe_spark.trainprep.dedup import (simhash_bands,
                                               simhash_signatures)

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").limit(20)
    sigs = simhash_signatures(docs)
    bands = simhash_bands(sigs, n_bands=4)
    # 4 bands per doc; identical docs would share all 4 band keys
    counts = bands.groupBy("doc_id").count().collect()
    assert all(r["count"] == 4 for r in counts)
    # reconstruct low 60 bits from the 4×15-bit band keys (63//4 = 15)
    joined = bands.groupBy("doc_id").agg(
        F.sum(F.expr("band_key * cast(pow(2, band_idx * 15) AS long)"))
        .alias("recon")).join(sigs, "doc_id")
    bad = joined.where(
        F.expr("recon != simhash % cast(pow(2, 60) AS long)")).count()
    assert bad == 0


def test_exact_dedup_finds_planted_duplicate(spark):
    from logpipe_spark.trainprep.dedup import exact_dedup_groups

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], "doc_id long, text string")
    g = {r.text_hash: (r.n_copies, r.keeper_doc_id)
         for r in exact_dedup_groups(docs).collect()}
    assert sorted(g.values()) == [(1, 3), (2, 1)]


def test_minhash_planted_near_dups(spark):
    from logpipe_spark.trainprep.dedup import minhash_lsh_dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base.replace("lazy", "sleepy")
    far = "completely different words with no overlap whatsoever here now"
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string")
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_dedup(docs).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_max_df_drops_boilerplate_hot_bucket(spark):
    """Adversarial boilerplate corpus: every doc shares a license-header
    shingle run. With max_df the hot posting list is dropped from candidate
    generation (candidates shrink from all-pairs to genuine near-dups) and
    the SURVIVORS' Jaccard values are identical to the uncapped path."""
    from logpipe_spark.trainprep.dedup import (cap_shingles,
                                               minhash_lsh_dedup,
                                               ngram_jaccard_pairs,
                                               word_shingles)

    boiler = "licensed under the apache license version two point zero"
    bodies = [
        "alpha beta gamma delta epsilon zeta eta theta",       # 1
        "alpha beta gamma delta epsilon zeta eta iota",        # 2 ~ near-dup of 1
        "one two three four five six seven eight",             # 3
        "red orange yellow green blue indigo violet ultra",    # 4
        "north south east west up down left right",            # 5
    ]
    docs = spark.createDataFrame(
        [(i + 1, f"{boiler} {b}") for i, b in enumerate(bodies)],
        "doc_id long, text string")

    # the boilerplate shingles hit every doc; max_df=3 drops them
    sh = word_shingles(docs, k=3)
    capped = cap_shingles(sh, max_df=3)
    hot_left = capped.groupBy("shingle").count().filter("count > 3").count()
    assert hot_left == 0
    assert capped.count() < sh.count()

    uncapped = {(r.doc_a, r.doc_b): r.jaccard
                for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()}
    capped_pairs = {(r.doc_a, r.doc_b): r.jaccard
                    for r in ngram_jaccard_pairs(
                        docs, threshold=0.0, max_df=3).collect()}
    # hot bucket gone: uncapped connects all 10 pairs via boilerplate,
    # capped keeps only pairs sharing a rare (body) shingle
    assert len(uncapped) == 10
    assert set(capped_pairs) == {(1, 2)}
    # survivors' Jaccard is the FULL-set value, unchanged by the cap
    assert capped_pairs[(1, 2)] == uncapped[(1, 2)]

    # same contract on the MinHash pipeline: the near-dup still surfaces
    # and its verify score matches the uncapped run's
    mh_un = {(r.doc_a, r.doc_b): r.jaccard
             for r in minhash_lsh_dedup(docs, threshold=0.3).collect()}
    mh_cap = {(r.doc_a, r.doc_b): r.jaccard
              for r in minhash_lsh_dedup(docs, threshold=0.3,
                                         max_df=3).collect()}
    assert (1, 2) in mh_cap
    assert mh_cap[(1, 2)] == mh_un[(1, 2)]


def test_cosine_near_dup_bucket_scaling(spark):
    """choose_bits grows the bucket count with the corpus (bounded bucket
    work at scale); higher-bit pair output is a subset of the 4-bit one."""
    from logpipe_spark.trainprep.similarity import (choose_bits,
                                                    cosine_near_dup_pairs)

    assert choose_bits(1_000, 100) == 4            # floor
    assert choose_bits(100_000, 100) == 10
    assert choose_bits(1_000_000_000, 1000) == 20  # grows with corpus
    assert choose_bits(10**12, 1) == 24            # ceiling

    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    base = {(r.id_a, r.id_b) for r in cosine_near_dup_pairs(emb).collect()}
    scaled = {(r.id_a, r.id_b) for r in
              cosine_near_dup_pairs(emb, target_bucket_rows=20).collect()}
    assert scaled <= base and len(scaled) > 0

    # multi-band recall buy-back: extra independent sign tables recover
    # pairs narrow single-table bucketing dropped; table 0 alone is a
    # subset, and every recovered pair still passes the exact verify
    one = {(r.id_a, r.id_b): r.cos for r in
           cosine_near_dup_pairs(emb, bits=8).collect()}
    multi = {(r.id_a, r.id_b): r.cos for r in
             cosine_near_dup_pairs(emb, bits=8, n_tables=3).collect()}
    assert set(one) <= set(multi)
    assert len(multi) > len(one)
    assert all(c >= 0.30 for c in multi.values())
    assert all(multi[p] == one[p] for p in one)     # same exact cosines
    from logpipe_spark.trainprep.similarity import ann_bruteforce_topk

    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    top = ann_bruteforce_topk(emb, k=3).toPandas()
    assert (top.neighbor_id != top.query_id).all()
    per_q = top.groupby("query_id")
    assert (per_q["rank"].max() == 3).all()
    # cosine non-increasing with rank within each query
    for _, g in per_q:
        s = g.sort_values("rank")["cos"].to_numpy()
        assert (s[:-1] >= s[1:] - 1e-12).all()


def test_parse_empty_msg_roundtrip_both_paths(spark):
    """'GET /x -> 200: ' (matched-empty GREEDYDATA msg) is clean, msg=''
    on the builtin parse path (the only one), and round-trips to the
    original text."""
    from logpipe_spark.operators.parse import parse_grok, reassemble_text

    df = spark.createDataFrame(
        [("c1", 0, "GET /x -> 200: "), ("c1", 1, "garbled"),
         ("c1", 2, "GET /y -> 201: ok")],
        "conv_id string, turn_idx int, text string")
    p = parse_grok(df)
    rows = {r.turn_idx: r for r in p.collect()}
    assert rows[0].error_kind is None and rows[0].msg == ""
    assert rows[1].error_kind == "malformed" and rows[1].msg is None
    ok = (p.filter(F.col("error_kind").isNull())
          .select((reassemble_text(p) == F.col("text")).alias("ok"))
          .collect())
    assert ok and all(r.ok for r in ok)


def test_image_meta_tolerates_null_and_short_payloads(spark):
    from logpipe_spark.trainprep.multimodal import (frame_sample_stub,
                                                    image_meta)

    df = spark.createDataFrame(
        [(1, bytes(range(16))), (2, None), (3, b"ab")],
        "doc_id long, payload binary")
    rows = {r.doc_id: r for r in image_meta(df).collect()}
    assert rows[1].width is not None
    assert rows[2].width is None and rows[2].n_bytes is None
    assert rows[3].width is None and rows[3].n_bytes == 2
    plan = frame_sample_stub(df.where("doc_id != 1"), every_n=10)
    assert plan.where("doc_id = 2").count() == 0  # null payload -> no frames


def test_router_empty_rules_overflow(spark):
    from logpipe_spark.operators.router import route_single_pass

    df = spark.createDataFrame(
        [("c1", 0, "user", "x", "bash", None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, error_kind string")
    single = route_single_pass(df, [])
    assert [r.sink for r in single.collect()] == ["overflow"]


def test_synth_single_conv_with_hot_fraction(spark):
    from logpipe_spark.synth import synth_transcripts

    t = synth_transcripts(spark, n_turns=100, n_convs=1,
                          hot_conv_fraction=0.5)
    assert t.select("conv_id").distinct().count() == 1
    assert t.count() == 100


def test_kmv_estimate_accuracy_and_exact_small_groups(spark):
    """KMV: exact below k; within ~3/sqrt(k) relative error above k; and
    deterministic (the cross-engine property the oracle hash relies on)."""
    from pyspark.sql import functions as F

    from logpipe_spark.operators.aggregate import kmv_distinct

    df = spark.range(5000).select(
        F.when(F.col("id") < 4800, "big").otherwise("small").alias("g"),
        F.concat(F.lit("k"), F.col("id")).alias("key"))
    out = {r.g: r for r in kmv_distinct(df, "g", "key", k=64).collect()}
    tiny = spark.range(10).select(F.lit("t").alias("g"),
                                  F.col("id").cast("string").alias("key"))
    t = kmv_distinct(tiny, "g", "key", k=64).collect()[0]
    assert t.n_hashes == 10 and t.estimate == 10  # exact below k
    # big group: 4800 distinct, k=64 -> rel error well under 3/sqrt(64)=0.375
    big = out["big"]
    assert big.n_hashes == 64
    assert abs(big.estimate - 4800) / 4800 < 0.375, big.estimate
    # determinism across runs
    again = {r.g: r.estimate
             for r in kmv_distinct(df, "g", "key", k=64).collect()}
    assert again["big"] == big.estimate


def test_mm_resize_plan_invariants(spark):
    from pyspark.sql import functions as F

    from logpipe_spark.trainprep import multimodal as mm

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = mm.resize_plan(
        mm.image_meta(mm.with_fake_payload(docs)), max_side=256).collect()
    assert len(out) == 500
    for r in out:
        assert max(r.target_w, r.target_h) <= 256
        assert r.target_w >= 1 and r.target_h >= 1
        if max(r.width, r.height) <= 256:   # already inside the box
            assert (r.target_w, r.target_h) == (r.width, r.height)
        else:                               # aspect preserved within floor
            long_side = max(r.width, r.height)
            assert max(r.target_w, r.target_h) == 256
            # floor division: target_short = short * 256 // long
            short, tshort = ((r.height, r.target_h)
                             if r.width >= r.height
                             else (r.width, r.target_w))
            assert tshort == max(short * 256 // long_side, 1)
        assert r.out_bytes == r.target_w * r.target_h * r.channels


def test_ann_tolerates_zero_norm_and_short_vectors(spark):
    """ANSI hardening: a zero-norm embedding must not crash the cosine
    ops (0/0 throws under ANSI) — it is dropped as directionless; and
    LSH bucketing past the vector's last dim reads sign '0' instead of
    throwing INVALID_ARRAY_INDEX."""
    from logpipe_spark.trainprep.similarity import (ann_bruteforce_topk,
                                                    cosine_near_dup_pairs)

    rows = [(0, [1.0, 2.0]), (1, [0.0, 0.0]), (2, [1.0, 1.9]),
            (3, [-1.0, 0.5]), (4, [1.0, 2.1])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = ann_bruteforce_topk(emb, k=3, query_mod=2).collect()
    ids = {r.query_id for r in out} | {r.neighbor_id for r in out}
    assert 1 not in ids                       # zero vector absent
    assert any(r.query_id == 0 for r in out)  # job ran end to end

    # bits=6 > dim=2: out-of-range dims read as sign 0 (documented)
    pairs = cosine_near_dup_pairs(emb, threshold=0.9, bits=6).collect()
    assert all(1 not in (r.id_a, r.id_b) for r in pairs)
    assert any({r.id_a, r.id_b} == {0, 4} for r in pairs)  # near-parallel


def test_ann_pq_small_corpus_clamps_codebook(spark):
    """Corpus smaller than the codebook: centroid slots must clamp to the
    rows that exist (np.empty garbage used to win argmins or crash the
    ADC element_at) — and stay deterministic across runs."""
    from logpipe_spark.trainprep.similarity import ann_pq_topk

    rows = [(i, [float(i), float(i % 3), 1.0, -float(i)])
            for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = sorted(map(tuple, ann_pq_topk(
        emb, k=3, m=2, codebook=16, query_mod=5).collect()))
    b = sorted(map(tuple, ann_pq_topk(
        emb, k=3, m=2, codebook=16, query_mod=5).collect()))
    assert a == b and len(a) > 0


def test_quality_stopword_runs_count_fully(spark):
    """Adjacent stopwords share a separator space: the replace-based
    counter used to consume it and count only ceil(n/2) of a run — the
    doubled-space padding gives each occurrence its own delimiters."""
    from logpipe_spark.trainprep.textqual import quality_score

    df = spark.createDataFrame(
        [(1, "of of of"), (2, "the a of and in")], "doc_id long, text string")
    out = {r.doc_id: r for r in quality_score(df).collect()}
    assert out[1].stop_hits == 3      # was 2
    assert out[2].stop_hits == 5


def test_incremental_dedup_equals_batch(spark, tmp_path):
    """Two-shard incremental run == whole-corpus batch pairs, and the
    index append makes shard 2 see shard 1's docs (dedup.py:
    write_band_index / dedup_incremental)."""
    from logpipe_spark.trainprep.dedup import (dedup_incremental,
                                               minhash_lsh_dedup,
                                               write_band_index)

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (1, base), (2, base.replace("lazy", "sleepy")),
        (3, "completely different words with no overlap whatsoever here"),
        (4, base.replace("quick", "rapid")),      # shard B vs corpus
        (5, "unrelated content that matches nothing else in this corpus"),
        (6, base.replace("quick", "rapid") + " indeed"),  # B-vs-B near-dup
    ]
    full = spark.createDataFrame(docs, "doc_id long, text string")
    shard_a = full.where("doc_id <= 3")
    shard_b1 = full.where("doc_id in (4, 5)")
    shard_b2 = full.where("doc_id = 6")
    idx = str(tmp_path / "band_index")

    write_band_index(spark, shard_a, idx)
    got = {(r.doc_a, r.doc_b)
           for r in minhash_lsh_dedup(shard_a).collect()}
    got |= {(r.doc_a, r.doc_b)
            for r in dedup_incremental(spark, shard_b1, idx, shard_a,
                                       update_index=True).collect()}
    # shard 2 probes an index that now includes shard B1's signatures
    corpus_so_far = shard_a.unionByName(shard_b1)
    got |= {(r.doc_a, r.doc_b)
            for r in dedup_incremental(spark, shard_b2, idx, corpus_so_far,
                                       update_index=True).collect()}

    want = {(r.doc_a, r.doc_b) for r in minhash_lsh_dedup(full).collect()}
    assert got == want
    assert (4, 6) in got  # cross-shard pair seen only via the index append


def test_dup_spans_interval_union(spark):
    """Overlapping hot trigrams must merge as intervals, not add up:
    doc 1 and 2 share a 4-word run = two overlapping trigrams covering
    exactly 4 positions; doc 3 shares nothing."""
    from logpipe_spark.trainprep.dedup import dup_spans

    docs = spark.createDataFrame(
        [(1, "a b c d x y z"), (2, "q a b c d r s"),
         (3, "u v w p m n o")], "doc_id long, text string")
    out = {r.doc_id: r for r in dup_spans(docs, k=3).collect()}
    assert out[1].n_tokens == 7
    # grams 'a b c' and 'b c d' overlap -> 4 covered positions, not 6
    assert out[1].covered_tokens == 4
    assert out[1].dup_span_frac == 4 / 7
    assert out[2].covered_tokens == 4
    assert out[3].covered_tokens == 0 and out[3].dup_span_frac == 0.0


def test_dup_spans_counts_within_doc_repeats(spark):
    """min_count counts INSTANCES corpus-wide, so a doc repeating its own
    phrase is covered even with no other doc involved."""
    from logpipe_spark.trainprep.dedup import dup_spans

    docs = spark.createDataFrame(
        [(1, "x y z q q q x y z"), (2, "totally different words here")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in dup_spans(docs, k=3).collect()}
    # 'x y z' appears twice (pos 1 and 7): covers 1-3 and 7-9
    assert out[1].covered_tokens == 6


def test_conv_redundancy_first_turn_free(spark):
    """First introduction is free (even if repeated within that turn);
    later echoes count."""
    from logpipe_spark.trainprep.textqual import conv_redundancy

    turns = spark.createDataFrame(
        [("c1", 0, "run the tests run the tests"),
         ("c1", 1, "run the tests now"),
         ("c1", 2, "all green"),
         ("c2", 0, "hello world")],
        "conv_id string, turn_idx int, text string")
    out = {r.conv_id: r for r in conv_redundancy(turns).collect()}
    # c1 t0: 5 bigram instances (none redundant: all first seen at t0)
    # c1 t1: 'run the','the tests' redundant; 'tests now' new -> 2 of 3
    # c1 t2: 'all green' new
    r = out["c1"]
    assert r.n_grams == 5 + 3 + 1 and r.n_redundant == 2
    assert r.redundancy == 2 / 9
    assert out["c2"].n_redundant == 0


def test_ivf_index_append_equals_batch(spark, tmp_path):
    """Two-phase load (write + append) of the persisted IVF index returns
    exactly the batch ann_ivf_topk — including when the APPEND carries a
    new per-list min vec_id (the rep-switch case the monoid fold must
    handle)."""
    from logpipe_spark.trainprep.similarity import (ann_ivf_topk,
                                                    ann_query_index,
                                                    append_ivf_index,
                                                    write_ivf_index)

    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(6)],
             i % 3) for i in range(40)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    want = sorted(map(tuple, ann_ivf_topk(emb, k=3, query_mod=5).collect()))

    idx = str(tmp_path / "ivf")
    # initial load EXCLUDES the global min ids (0,1,2) so every list's
    # rep must switch when the delta arrives
    write_ivf_index(spark, emb.where("vec_id >= 6"), idx)
    append_ivf_index(spark, emb.where("vec_id < 6"), idx)
    got = sorted(map(tuple,
                     ann_query_index(spark, idx, k=3, query_mod=5).collect()))
    assert got == want and len(got) > 0


def test_ivf_rebalance_bounds_lists_and_preserves_results(spark, tmp_path):
    """rebalance_ivf_index splits oversized physical list partitions down
    to the size bound (guaranteed progress even on degenerate
    all-identical lists) without changing any query result — probe
    routing stays at the parent-label reps."""
    from logpipe_spark.trainprep.similarity import (ann_ivf_topk,
                                                    ann_query_index,
                                                    append_ivf_index,
                                                    rebalance_ivf_index,
                                                    write_ivf_index)

    # label 0 is HOT (28 of 40 vectors), and 8 of its vectors are
    # identical (the degenerate split case)
    rows = [(i, [float(((i if i < 32 else 0) * 7 + j * 3) % 11 - 5)
                 for j in range(6)],
             0 if (i % 3 == 0 or i >= 20) else i % 3) for i in range(40)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    want = sorted(map(tuple, ann_ivf_topk(emb, k=3, query_mod=5).collect()))

    idx = str(tmp_path / "ivf")
    write_ivf_index(spark, emb.where("vec_id % 2 = 0"), idx)
    append_ivf_index(spark, emb.where("vec_id % 2 = 1"), idx)  # skewed growth
    stats = rebalance_ivf_index(spark, idx, max_list_size=5)
    assert stats["max_list_rows"] <= 5 and stats["splits"] >= 1
    sizes = (spark.read.parquet(f"{idx}/lists")
             .groupBy("label", "slot").count().collect())
    assert max(r["count"] for r in sizes) <= 5
    got = sorted(map(tuple,
                     ann_query_index(spark, idx, k=3, query_mod=5).collect()))
    assert got == want and len(got) > 0
    # a second rebalance is a no-op (idempotent once bounded)
    assert rebalance_ivf_index(spark, idx, max_list_size=5)["rounds"] == 0


def test_band_index_compaction_preserves_results(spark, tmp_path):
    """Per-delta appends fragment the band index (one file per touched
    bucket per delta); compact_small_files must merge them without
    changing any subsequent incremental result."""
    import glob

    from logpipe_spark.plans.layout import compact_small_files
    from logpipe_spark.trainprep.dedup import (dedup_incremental,
                                               write_band_index)

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [(1, base), (2, base.replace("lazy", "sleepy")),
            (3, base.replace("quick", "rapid")),
            (4, "nothing in common with anything else at all here")]
    full = spark.createDataFrame(docs, "doc_id long, text string")
    idx = str(tmp_path / "idx")
    write_band_index(spark, full.where("doc_id = 1"), idx)
    for d in (2, 3):  # two appends -> multiple files per hot bucket
        dedup_incremental(spark, full.where(f"doc_id = {d}"), idx,
                          full.where(f"doc_id < {d}"),
                          update_index=True).collect()

    probe = full.where("doc_id = 4")
    corpus = full.where("doc_id < 4")
    before = sorted(map(tuple, dedup_incremental(
        spark, probe, idx, corpus, update_index=False).collect()))
    n_files_before = len(glob.glob(f"{idx}/_bucket=*/*.parquet"))
    r = compact_small_files(spark, idx)
    n_files_after = len(glob.glob(f"{idx}/_bucket=*/*.parquet"))
    assert n_files_after < n_files_before
    after = sorted(map(tuple, dedup_incremental(
        spark, probe, idx, corpus, update_index=False).collect()))
    assert after == before
    assert r["files_after"] <= r["files_before"]


def test_strip_dup_spans_removes_exact_interval(spark):
    """Spans removed = the interval union dup_spans scores; untouched
    docs come back verbatim; consistency: n_removed == covered_tokens."""
    from logpipe_spark.trainprep.dedup import dup_spans, strip_dup_spans

    docs = spark.createDataFrame(
        [(1, "a b c d x y z"), (2, "q a b c d r s"),
         (3, "u v w p m n o")], "doc_id long, text string")
    out = {r.doc_id: r for r in strip_dup_spans(docs, k=3).collect()}
    # docs 1/2 share 'a b c d' (positions merge as ONE 4-token interval)
    assert out[1].clean_text == "x y z" and out[1].n_removed == 4
    assert out[2].clean_text == "q r s" and out[2].n_removed == 4
    assert out[3].clean_text == "u v w p m n o" and out[3].n_removed == 0
    cov = {r.doc_id: r.covered_tokens
           for r in dup_spans(docs, k=3).collect()}
    assert all(out[i].n_removed == cov[i] for i in cov)


def test_doc_novelty_order_semantics(spark):
    from logpipe_spark.trainprep.textqual import doc_novelty

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b x y"), (3, "a b c d")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in doc_novelty(docs).collect()}
    assert out[1].novelty == 1.0                 # introduces everything
    # doc 2: grams {a b, b x, x y}; 'a b' owned by doc 1 -> 2/3 novel
    assert out[2].n_distinct_grams == 3 and out[2].n_novel == 2
    assert out[3].novelty == 0.0                 # exact late duplicate


def test_lexical_stats_counts(spark):
    from logpipe_spark.trainprep.textqual import lexical_stats

    docs = spark.createDataFrame(
        [("a", "x y x z"), ("a", "x w"), ("b", "q q q"),
         ("b", None), (None, "dropped")],
        "source string, text string")
    out = {r.source: r for r in
           lexical_stats(docs, key="source").collect()}
    assert set(out) == {"a", "b"}
    # a: tokens x,y,x,z,x,w -> vocab {x,y,z,w}, hapax {y,z,w}
    assert (out["a"].vocab, out["a"].n_tokens, out["a"].hapax) == (4, 6, 3)
    assert out["a"].ttr == 4 / 6 and out["a"].hapax_ratio == 3 / 4
    # b: q q q -> vocab 1, no hapax; null text row ignored
    assert (out["b"].vocab, out["b"].n_tokens, out["b"].hapax) == (1, 3, 0)


# ------------------------------------------- incremental postings index

def test_postings_incremental_equals_batch(spark, tmp_path):
    """Merge==rebuild at value level, including the cap monoid: shards
    split so some words' capped lists must interleave across shards."""
    from logpipe_spark.trainprep.index import (
        append_postings_index, build_postings, read_postings,
        write_postings_index)

    rows = [(i, "alpha beta w%d" % (i % 3)) for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    path = str(tmp_path / "pidx")
    # odd/even split: 'alpha' appears in every doc, so each shard's
    # capped list holds its own 4 smallest ids and the merged cap must
    # interleave them (0,1,2,3), not concatenate (0,2,4,6,1,3,5,7)
    write_postings_index(spark, df.where(F.col("doc_id") % 2 == 0),
                         path, max_postings=4)
    append_postings_index(spark, df.where(F.col("doc_id") % 2 == 1),
                          path, max_postings=4)
    got = {r.word: (r.df, r.postings)
           for r in read_postings(spark, path).collect()}
    exp = {r.word: (r.df, r.postings)
           for r in build_postings(df, max_postings=4).collect()}
    assert got == exp
    assert got["alpha"] == (30, "0,1,2,3")


def test_containment_pairs_asymmetric(spark):
    # doc 2 is a strict substring of doc 1: containment(2->1) = 1.0
    # while containment(1->2) < 1 and jaccard would be diluted
    from logpipe_spark.trainprep.dedup import containment_pairs
    long = "a b c d e f g h i j k l"
    short = "c d e f g"
    other = "x y z w q r"
    df = spark.createDataFrame(
        [(1, long), (2, short), (3, other)], "doc_id long, text string")
    out = {(r.doc_a, r.doc_b): r
           for r in containment_pairs(df, k=3, reuse=None).collect()}
    assert out[(2, 1)].containment == 1.0
    assert out[(2, 1)].inter == 3 and out[(2, 1)].size_a == 3
    assert out[(1, 2)].containment == 3.0 / 10.0
    assert (3, 1) not in out and (1, 3) not in out


def test_containment_pairs_topk_total_order(spark):
    from logpipe_spark.trainprep.dedup import containment_pairs
    texts = [(i, "p q r s t u v") for i in range(1, 6)]  # 5 identical docs
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = containment_pairs(df, k=3, top_k=7, reuse=None).collect()
    # 20 ordered pairs all at containment 1.0 -> limit keeps the 7
    # smallest (doc_a, doc_b) under the tie-break
    assert len(got) == 7
    assert [(r.doc_a, r.doc_b) for r in got] == [
        (1, 2), (1, 3), (1, 4), (1, 5), (2, 1), (2, 3), (2, 4)]
