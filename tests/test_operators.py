"""Behavioral tests for the operator families: fuzzy trigram (pg_trgm
parity), dedup families, vector similarity, text analysis, multimodal
plumbing, streaming parity with batch."""

import pytest
from pyspark.sql import Row
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from voter_gateway_spark.operators import dedup_ops, fuzzy, similarity, text
from voter_gateway_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    synthetic_media,
)
from voter_gateway_spark.sources.fixtures import load_events
from voter_gateway_spark.streaming.events import hourly_counts, stream_hourly_counts


# -- fuzzy / trigram -----------------------------------------------------------

def test_trigrams_pg_trgm_semantics(spark):
    df = spark.createDataFrame([("Hello, world",)], ["s"])
    got = set(df.select(fuzzy.trigrams("s").alias("t")).collect()[0].t)
    # pg_trgm: lowercase, alnum words padded '  w ', distinct 3-grams
    assert got == {
        "  h", " he", "hel", "ell", "llo", "lo ",
        "  w", " wo", "wor", "orl", "rld", "ld ",
    }


def test_trigram_similarity_values(spark):
    df = spark.createDataFrame([("ab", "abc"), ("ab", "ab"), ("xy", "qz")], ["a", "b"])
    rows = df.select(fuzzy.trigram_similarity("a", "b").alias("s")).collect()
    assert rows[0].s == pytest.approx(0.4)   # {  a, ab} ∩ over union of 5
    assert rows[1].s == 1.0
    assert rows[2].s == 0.0


def test_top1_fuzzy_match_threshold_and_tiebreak(spark):
    target = spark.createDataFrame(
        [Row(id=1, name="jonathan smith"), Row(id=2, name="jonathan smith"),
         Row(id=3, name="zzz qqq vvv")],
        "id int, name string",
    )
    source = spark.createDataFrame([Row(id=10, name="jonathon smith")], "id int, name string")
    out = fuzzy.top1_fuzzy_match(source, target, "name", "id", "id").collect()
    assert len(out) == 1
    assert out[0].matched_id == 1  # tie between 1/2 → lowest pk
    assert out[0].similarity > 0.5
    # no match above threshold → empty
    far = spark.createDataFrame([Row(id=11, name="totally different")], "id int, name string")
    assert fuzzy.top1_fuzzy_match(far, target.where("id=3"), "name", "id", "id").count() == 0


def test_fuzzy_claiming_at_most_once(spark):
    # two sources close to the same single target: only one may claim it
    pool = spark.createDataFrame([Row(id=1, name="jonathan smith")], "id int, name string")
    srcs = spark.createDataFrame(
        [Row(id=10, name="jonathan smith"), Row(id=11, name="jonathan smyth")],
        "id int, name string",
    )
    out = fuzzy.fuzzy_claiming_rounds(srcs, pool, ["name"], "id", "id").collect()
    assert len(out) == 1
    assert out[0].id == 10  # exact similarity wins the claim


# -- dedup families ------------------------------------------------------------

def test_exact_dedup_keeps_lowest_pk(spark):
    df = spark.createDataFrame(
        [Row(id=3, k="a"), Row(id=1, k="a"), Row(id=2, k="b")], "id int, k string"
    )
    out = {r.id for r in dedup_ops.exact_dedup(df, ["k"], "id").collect()}
    assert out == {1, 2}


def test_word_shingles_and_jaccard(spark):
    df = spark.createDataFrame([("the quick brown fox jumps",)], ["t"])
    sh = df.select(dedup_ops.word_shingles("t", 3).alias("s")).collect()[0].s
    assert sh == ["the quick brown", "quick brown fox", "brown fox jumps"]


def test_word_shingles_short_and_empty_docs_dont_crash(spark):
    """ANSI mode (Spark 4 default) throws on out-of-bounds element_at;
    docs with < k words must yield truncated shingles (NULL slots
    skipped by concat_ws), matching DuckDB's wl[i+j] → NULL."""
    df = spark.createDataFrame(
        [(1, "one two"), (2, "solo"), (3, ""), (4, "   "), (5, None)],
        "id bigint, t string",
    )
    rows = {r.id: r.s for r in df.select("id", dedup_ops.word_shingles("t", 3).alias("s")).collect()}
    assert rows[1] == ["one two"]
    assert rows[2] == ["solo"]
    assert rows[3] == [""]
    assert rows[4] == [""]
    assert rows[5] == [""]  # NULL text degrades to the empty-doc shingle


def test_pair_producers_survive_short_docs(spark):
    """Regression: short/empty docs crashed every pair producer under
    ANSI mode before the try_element_at fix."""
    df = spark.createDataFrame(
        [
            Row(id=1, t="alpha beta gamma delta epsilon zeta"),
            Row(id=2, t="alpha beta gamma delta epsilon eta"),
            Row(id=3, t="x"),
            Row(id=4, t=""),
        ],
        "id bigint, t string",
    )
    j = dedup_ops.ngram_jaccard_pairs(df, "id", "t", k=3, threshold=0.3).collect()
    assert [(p.id_a, p.id_b) for p in j] == [(1, 2)]
    m = dedup_ops.minhash_lsh_pairs(df, "id", "t", k=2, threshold=0.3).collect()
    assert [(p.id_a, p.id_b) for p in m] == [(1, 2)]
    s = dedup_ops.simhash_pairs(df, "id", "t", max_hamming=20, k=2).collect()
    assert (1, 2) in [(p.id_a, p.id_b) for p in s]


def test_shingle_fingerprint_short_docs(spark):
    from voter_gateway_spark.operators import text as text_ops

    df = spark.createDataFrame([(1, "one two"), (2, ""), (3, "a b c d")], "id bigint, t string")
    rows = df.select("id", text_ops.shingle_fingerprint("t", 3).alias("fp")).collect()
    fps = {r.id: r.fp for r in rows}
    assert all(v is not None for v in fps.values())


def test_ngram_jaccard_pairs_finds_near_dups(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, t="alpha beta gamma delta epsilon zeta"),
            Row(id=2, t="alpha beta gamma delta epsilon eta"),
            Row(id=3, t="one two three four five six"),
        ],
        "id bigint, t string",
    )
    pairs = dedup_ops.ngram_jaccard_pairs(df, "id", "t", k=3, threshold=0.3).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].jaccard == pytest.approx(3 / 5)


def test_ngram_pairs_expanded_match_naive_all_pairs(spark):
    """Fixed-input default-tier twin of the slow hypothesis property:
    the expanded emission equals the naive O(n²) all-pairs definition
    on a corpus with injected exact duplicates (the collapse path),
    shared-shingle near-dups, and short docs that shingle whole."""
    fox = "the quick brown fox jumps over the lazy dog"
    lorem = "lorem ipsum dolor sit amet consectetur"
    docs = [
        fox,
        "the quick brown fox jumps over a lazy dog",
        fox,
        "quick brown fox jumps over the lazy cat",
        lorem,
        fox,
        "lorem ipsum dolor sit amet adipiscing",
        "red green",
        "red green",
        lorem,
        "one two three four five",
    ]
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id bigint, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup_ops.ngram_jaccard_pairs(
            df, "doc_id", "text", k=3, threshold=0.3, expand_pairs=True
        ).collect()
    }

    def shingles(d):
        w = d.split()
        if len(w) < 3:
            return {" ".join(w)}
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    exp = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            sa, sb = shingles(docs[a]), shingles(docs[b])
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.3:
                exp[(a, b)] = round(j, 6)
    # not vacuous: 5 exact-duplicate pairs and some partial overlaps
    assert sum(v == 1.0 for v in exp.values()) == 5
    assert any(v < 1.0 for v in exp.values())
    assert got.keys() == exp.keys()
    for k in exp:
        assert got[k] == pytest.approx(exp[k], abs=1e-6), k


def test_minhash_lsh_finds_near_dups(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, t="alpha beta gamma delta epsilon zeta eta theta"),
            Row(id=2, t="alpha beta gamma delta epsilon zeta eta iota"),
            Row(id=3, t="one two three four five six seven eight"),
        ],
        "id bigint, t string",
    )
    pairs = dedup_ops.minhash_lsh_pairs(df, "id", "t", k=2, threshold=0.3).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]


def test_minhash_signature_has_no_null_element(spark):
    """The band-key precondition: NULL, empty and whitespace-only texts
    all shingle to the one '' shingle, so minhash_signature never sees
    an empty hash set and no signature element — hence no packed band
    key — is NULL."""
    df = spark.createDataFrame(
        [Row(id=1, t=None), Row(id=2, t=""), Row(id=3, t="   "), Row(id=4, t="word")],
        "id bigint, t string",
    )
    rows = {r._id: r for r in dedup_ops.minhash_hashed_sigs(df, "id", "t").collect()}
    assert sorted(rows) == [1, 2, 3, 4]
    for r in rows.values():
        assert r._sig is not None and len(r._sig) == 16
        assert None not in r._sig
        assert len(r._hh) == 1
    assert rows[1]._hh == rows[2]._hh == rows[3]._hh != rows[4]._hh


def test_simhash_near_dups(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, t="alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            Row(id=2, t="alpha beta gamma delta epsilon zeta eta theta iota lambda"),
            Row(id=3, t="totally different words everywhere unrelated content here now"),
        ],
        "id bigint, t string",
    )
    pairs = dedup_ops.simhash_pairs(df, "id", "t", max_hamming=20, k=2).collect()
    assert (1, 2) in [(p.id_a, p.id_b) for p in pairs]


# -- similarity ----------------------------------------------------------------

def test_near_dup_blocked_is_verified_subset_of_exact(spark, sf_dir):
    from voter_gateway_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(120)
    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in similarity.near_dup_pairs(emb, threshold=0.3, exact=True).collect()
    }
    blocked = {
        (r.id_a, r.id_b): r.cos_sim
        for r in similarity.near_dup_pairs(emb, threshold=0.3).collect()
    }
    # every blocked pair is a true pair with the exact cosine value
    for pair, sim in blocked.items():
        assert pair in exact
        assert sim == exact[pair]
        assert sim >= 0.3


def test_cosine_and_topk(spark):
    df = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0]),
            Row(vec_id=2, embedding=[0.9, 0.1]),
            Row(vec_id=3, embedding=[0.0, 1.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    out = similarity.brute_force_topk(df.where("vec_id=1"), df, k=2).collect()
    assert [(r.neighbor_id, r.rank) for r in out] == [(2, 1), (3, 2)]
    assert out[0].cos_sim == pytest.approx(0.9 / (0.9**2 + 0.1**2) ** 0.5, abs=1e-6)


def test_lsh_bucket_determinism(spark):
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i % 7), float((i * 3) % 5), 1.0]) for i in range(20)],
        "vec_id bigint, embedding array<double>",
    )
    a = similarity.lsh_bucketed_topk(df, df, k=3, n_planes=4, dim=3).collect()
    b = similarity.lsh_bucketed_topk(df, df, k=3, n_planes=4, dim=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# -- text -----------------------------------------------------------------------

def test_token_and_quality(spark):
    df = spark.createDataFrame([("  the quick   brown fox  ",), ("",)], ["t"])
    rows = df.select(
        text.token_count("t").alias("n"),
        text.bpe_ish_token_count("t").alias("b"),
        text.punct_ratio("t").alias("p"),
    ).collect()
    assert rows[0].n == 4
    assert rows[0].b == 4
    assert rows[0].p == 0.0
    assert rows[1].n == 0


def test_token_set_count_consecutive_duplicates(spark):
    # token counting (not padded-replace): consecutive duplicate marker
    # words each count — ' the the the ' is 3 stopword tokens, where a
    # non-overlapping replace of ' the ' would only find 2
    df = spark.createDataFrame([("the the the",), ("The THE the",), ("",)], ["t"])
    rows = df.select(text.stopword_count("t").alias("n")).collect()
    assert rows[0].n == 3
    assert rows[1].n == 1  # case-sensitive on normalized (unlowered) text
    assert rows[2].n == 0


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [("the cat and the dog is here",), ("el gato y la casa que los perros",),
         ("xyz qqq",)],
        ["t"],
    )
    rows = df.select(text.lang_id("t").alias("lang")).collect()
    assert rows[0].lang == "en"
    assert rows[1].lang == "es"
    assert rows[2].lang == "und"


def test_fingerprints_stable_under_whitespace(spark):
    df = spark.createDataFrame([("a b  c",), ("a   b c ",)], ["t"])
    fps = df.select(text.content_fingerprint("t").alias("f")).collect()
    assert fps[0].f == fps[1].f


# -- multimodal -----------------------------------------------------------------

def test_multimodal_plumbing(spark):
    media = synthetic_media(spark, 12)
    feats = extract_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 12
    assert all(len(r.features) == 8 for r in rows)
    assert all(len(r.sha256) == 64 for r in rows)
    # decode without fake → NotImplementedError (stub is explicit)
    from voter_gateway_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"bytes", fake=False)


def test_frame_sample_plan(spark):
    media = synthetic_media(spark, 9)
    out = frame_sample_plan(media, every_s=1.0)
    rows = out.groupBy("media_id").count().collect()
    assert len(rows) > 0  # only video rows survive


# -- streaming ------------------------------------------------------------------

def test_stream_hourly_matches_batch(spark, sf_dir, tmp_path):
    batch = hourly_counts(load_events(spark, sf_dir))
    # the streaming file source wants a directory of files
    import shutil

    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "part-0.parquet")
    stream = stream_hourly_counts(spark, str(stream_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("t_stream_hourly")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start_us, r.event_type): (r.n_events, r.value_sum)
        for r in spark.table("t_stream_hourly").collect()
    }
    exp = {
        (r.window_start_us, r.event_type): (r.n_events, r.value_sum)
        for r in batch.collect()
    }
    assert got == exp


def test_connected_components_chain_and_islands(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (10, 11)], "id_a bigint, id_b bigint"
    )
    got = {r.id: r.component for r in dedup_ops.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7, 10: 10, 11: 10}


def test_stream_dedup_events_drops_duplicates(spark, sf_dir, tmp_path):
    """Duplicated source files → exactly one output row per event_id,
    across micro-batches (keyed state) and within one batch."""
    import shutil

    from voter_gateway_spark.streaming.events import stream_dedup_events

    stream_dir = tmp_path / "events_dup"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "part-0.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "part-1.parquet")
    q = (
        stream_dedup_events(spark, str(stream_dir))
        .writeStream.format("memory")
        .queryName("t_stream_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.table("t_stream_dedup")
    n_distinct = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id").distinct().count()
    )
    assert got.count() == n_distinct
    assert got.groupBy("event_id").count().where("count > 1").count() == 0


def test_ngram_prefix_filter_is_lossless(spark, sf_dir):
    """AllPairs prefix filtering must not change the result set."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup_ops.ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.6, prefix_filter=False
        ).collect()
    }
    pruned = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup_ops.ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.6, prefix_filter=True
        ).collect()
    }
    assert full == pruned
    assert len(full) > 0


def test_int8_quantize_roundtrip(spark):
    """SQ8 codes stay in [-127,127]; dequantize reconstructs within one
    quantization step (scale); zero vectors round-trip to zero."""
    df = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[0.5, -1.0, 0.25, 0.0]),
            Row(vec_id=2, embedding=[0.0, 0.0, 0.0, 0.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    rows = df.select(
        "vec_id",
        similarity.int8_quantize(F.col("embedding")).alias("q"),
        similarity.int8_dequantize(
            similarity.int8_quantize(F.col("embedding"))
        ).alias("d"),
        "embedding",
    ).collect()
    r1 = next(r for r in rows if r.vec_id == 1)
    assert r1.q.codes == [64, -127, 32, 0]  # round(0.5*127), -127, round(0.25*127)
    assert r1.q.scale == pytest.approx(1.0 / 127.0)
    for orig, deq in zip(r1.embedding, r1.d):
        assert abs(orig - deq) <= r1.q.scale / 2 + 1e-12
    r2 = next(r for r in rows if r.vec_id == 2)
    assert r2.q.codes == [0, 0, 0, 0]
    assert r2.q.scale == 0.0
    assert r2.d == [0.0, 0.0, 0.0, 0.0]


def test_int8_recall_floor(spark, sf_dir):
    """Quantized top-k must recover nearly all of the exact full-precision
    top-5 on the fixture (64-dim SQ8 distortion is small)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") % 10 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(qs, emb, k=5).collect()
    }
    quant = {
        (r.query_id, r.neighbor_id)
        for r in similarity.int8_topk(qs, emb, k=5).collect()
    }
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.8, recall


def test_binary_quantize_packs_sign_bits(spark):
    """binary_quantize packs MSB-first per 64-dim word; hamming_words
    equals the python popcount of the XOR. Covers the multi-word path
    with a 70-dim vector (second word holds 6 shifted bits)."""
    import random

    rng = random.Random(7)
    dim = 70
    va = [rng.uniform(-1, 1) for _ in range(dim)]
    vb = [rng.uniform(-1, 1) for _ in range(dim)]

    def py_pack(v):
        words = []
        for w in range((dim + 63) // 64):
            acc = 0
            for x in v[w * 64 : (w + 1) * 64]:
                acc = (acc << 1) | (1 if x >= 0 else 0)
            # wrap to signed 64-bit like the JVM long
            acc &= (1 << 64) - 1
            words.append(acc - (1 << 64) if acc >= (1 << 63) else acc)
        return words

    df = spark.createDataFrame(
        [Row(a=va, b=vb)], "a array<double>, b array<double>"
    )
    r = df.select(
        similarity.binary_quantize(F.col("a"), dim).alias("wa"),
        similarity.binary_quantize(F.col("b"), dim).alias("wb"),
        similarity.hamming_words(
            similarity.binary_quantize(F.col("a"), dim),
            similarity.binary_quantize(F.col("b"), dim),
        ).alias("h"),
    ).collect()[0]
    assert r.wa == py_pack(va)
    assert r.wb == py_pack(vb)
    expected_h = sum(
        bin((x ^ y) & ((1 << 64) - 1)).count("1") for x, y in zip(r.wa, r.wb)
    )
    assert r.h == expected_h


def test_binary_topk_recall_curve(spark, sf_dir):
    """The candidate pool is the 1-bit rung's recall lever: the coarse
    catalog pool (C=20) must beat a floor, and widening the pool to
    C=100 must recover most of the exact top-5 — pinning that the
    Hamming prefilter orders candidates usefully (measured on the
    fixture: 0.48-0.50 @ C=20, 0.84-0.87 @ C=100)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") % 10 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(qs, emb, k=5).collect()
    }
    narrow = {
        (r.query_id, r.neighbor_id)
        for r in similarity.binary_topk(qs, emb, k=5, candidates=20).collect()
    }
    wide = {
        (r.query_id, r.neighbor_id)
        for r in similarity.binary_topk(qs, emb, k=5, candidates=100).collect()
    }
    r_narrow = len(exact & narrow) / len(exact)
    r_wide = len(exact & wide) / len(exact)
    assert r_narrow >= 0.4, r_narrow
    assert r_wide >= 0.8, r_wide
    assert r_wide > r_narrow


def test_ivf_recall_floor(spark, sf_dir):
    """IVF with 4/16 probes must recover most of the exact top-5 on the
    fixture (deterministic: seeded centroids, fixed rounds)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") % 10 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(qs, emb, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(qs, emb, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_ivf_sampled_training_matches_oracle(spark, sf_dir):
    """train_per_cell Lloyd training must walk the EXACT trajectory the
    DuckDB oracle walks when the hash-threshold sample truly engages.
    The catalog's auto form (train_per_cell=128) only samples above
    ~128·√N rows, so the sf0.01 driver gate runs it at frac=1 — this
    test forces frac<1 (8·16=128 of 500 rows ≈ 0.256 of hash space) so
    the sampled path itself is oracle-pinned, not just the full-corpus
    degenerate case."""
    import duckdb

    from voter_gateway_spark.queries import _ivf_lloyd_sql

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") % 10 == 0)
    got = {
        (r.query_id, r.neighbor_id, r.rank, r.cos_sim)
        for r in similarity.ivf_topk(
            qs, emb, k=5, iters=2, centroid_round=9, train_per_cell=8
        ).collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    exp = {
        (int(q), int(n), int(r), float(c))
        for q, n, r, c in con.sql(_ivf_lloyd_sql(train_per_cell=8)).fetchall()
    }
    con.close()
    assert len(got) > 0 and got == exp


def test_ivf_index_roundtrip_matches_inmemory(spark, sf_dir, tmp_path):
    """Persisted IVF index (partitioned by cell) must return exactly
    what the in-memory ivf_topk computes with the same seeding, and the
    probe scan must prune partitions."""
    import contextlib
    import io

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") % 10 == 0)
    path = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, path)
    got = similarity.query_ivf_index(spark, path, qs, k=5)
    exp = similarity.ivf_topk(qs, emb, k=5)
    g = {(r.query_id, r.neighbor_id, r.rank, r.cos_sim) for r in got.collect()}
    e = {(r.query_id, r.neighbor_id, r.rank, r.cos_sim) for r in exp.collect()}
    assert g == e and len(g) > 0
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    assert "_cell" in buf.getvalue()  # cell filter reaches the scan side


def test_ivf_index_probe_uses_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """The probe joins the (small) probe list against the
    cell-partitioned vectors on `_cell`; Spark's Dynamic Partition
    Pruning must turn that join key into a runtime PartitionFilter on
    the vectors scan — the property that makes a persisted index READ
    n_probe cell directories instead of the whole corpus. Pinned so a
    regression (e.g. a cast on _cell breaking the pruning subquery)
    is caught by shape, not by a slow decade row much later."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") % 10 == 0)
    path = str(tmp_path / "ivf_dpp")
    similarity.build_ivf_index(emb, path)
    out = similarity.query_ivf_index(spark, path, qs, k=3, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan[:2000]


def test_connected_components_raises_on_non_convergence(spark):
    # a 6-node chain has diameter 5; min-label propagation needs ~5
    # rounds, so max_iter=2 must fail loudly, not return wrong labels
    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(1, 6)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        # driver_max_edges=0 forces the distributed path: the size gate
        # would otherwise label this toy graph with driver union-find
        dedup_ops.connected_components(pairs, max_iter=2, driver_max_edges=0)


def test_replicate_join_salt_is_row_stable(spark):
    from voter_gateway_spark.operators.skew import replicate_broadcast_join

    big = spark.createDataFrame(
        [Row(k=1, v=i) for i in range(20)], "k int, v int"
    )
    small = spark.createDataFrame([Row(k=1, name="hot")], "k int, name string")
    out = replicate_broadcast_join(big, small, "k", salt_buckets=4)
    assert out.count() == 20
    assert out.select("v").distinct().count() == 20


def test_multimodal_decoder_registry(spark):
    """The decoder contract: a registered callable flows through the
    Arrow mapInPandas path; unregistered kinds fail with guidance."""
    from voter_gateway_spark.operators import multimodal

    media = synthetic_media(spark, n=6)
    multimodal.register_decoder("len4", lambda b: [float(len(b))] * 4)
    try:
        out = extract_features(media, kind="len4").collect()
        assert all(r.features == [float(r.n_bytes)] * 4 for r in out)
    finally:
        multimodal._DECODERS.pop("len4", None)
    with pytest.raises(NotImplementedError, match="register_decoder"):
        multimodal.get_decoder("image")


def test_stream_enrich_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static broadcast enrichment parity: the same join on the
    batch frame and on a file stream produce identical rows."""
    import shutil

    from voter_gateway_spark.sources.fixtures import events_stream_reader
    from voter_gateway_spark.streaming.events import enrich_events

    dim = spark.createDataFrame(
        [Row(event_type=t, weight=i) for i, t in enumerate(
            ["click", "view", "purchase", "scroll", "share"]
        )],
        "event_type string, weight int",
    )
    batch_events = load_events(spark, sf_dir)
    exp = {
        (r.event_id, r.weight)
        for r in enrich_events(batch_events, dim, "event_type").collect()
    }
    stream_dir = tmp_path / "events_enrich"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "part-0.parquet")
    stream = events_stream_reader(spark, str(stream_dir))
    q = (
        enrich_events(stream, dim, "event_type")
        .writeStream.format("memory")
        .queryName("t_stream_enrich")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.event_id, r.weight) for r in spark.table("t_stream_enrich").collect()
    }
    assert got == exp


def test_chunk_text_overlap_and_short_docs(spark):
    from voter_gateway_spark.operators.text import chunk_text

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=" ".join(f"w{i}" for i in range(10))),
            Row(doc_id=2, text="a b"),
            Row(doc_id=3, text=""),
        ],
        "doc_id bigint, text string",
    )
    out = chunk_text(df, chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk, r.n_chunk_tokens))
    # 10 tokens, step 3 → ceil(9/3)=3 chunks; consecutive chunks share 1 token
    assert [c[1] for c in sorted(by_doc[1])] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9",
    ]
    # every token appears in some chunk (lossless coverage)
    covered = set()
    for _, chunk, _ in by_doc[1]:
        covered.update(chunk.split())
    assert covered == {f"w{i}" for i in range(10)}
    assert by_doc[2] == [(0, "a b", 2)]
    assert by_doc[3] == [(0, "", 0)]  # empty doc keeps one empty chunk

    import pytest as _pytest
    with _pytest.raises(ValueError, match="overlap"):
        chunk_text(df, chunk_tokens=4, overlap=4)


def test_remove_boilerplate(spark):
    from voter_gateway_spark.operators.text import remove_boilerplate

    # "nav home about" is a 3-word segment shared verbatim by docs
    # 1-3 at segment position 0 → boilerplate at min_docs=3; the
    # unique tails survive and reassemble in order
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="nav home about alpha beta gamma"),
            Row(doc_id=2, text="nav home about delta epsilon zeta"),
            Row(doc_id=3, text="nav home about eta theta iota"),
            Row(doc_id=4, text="totally unique words only here now"),
            Row(doc_id=5, text="nav home about"),  # fully boilerplate
            Row(doc_id=6, text=""),  # empty doc: 0 segments
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: (r.clean_text, r.n_segments, r.n_removed)
        for r in remove_boilerplate(df, seg_words=3, min_docs=3).collect()
    }
    assert len(out) == 6  # every input doc present
    assert out[1] == ("alpha beta gamma", 2, 1)
    assert out[2] == ("delta epsilon zeta", 2, 1)
    assert out[3] == ("eta theta iota", 2, 1)
    assert out[4] == ("totally unique words only here now", 2, 0)
    assert out[5] == ("", 1, 1)  # fully-removed doc stays, empty
    assert out[6] == ("", 0, 0)  # empty doc: nothing to remove


def test_remove_boilerplate_preserves_order_across_removed_gaps(spark):
    from voter_gateway_spark.operators.text import remove_boilerplate

    # the shared segment sits in the MIDDLE; survivors on both sides
    # must rejoin in original order
    df = spark.createDataFrame(
        [
            Row(doc_id=i, text=f"unique{i} opening bit spam spam spam final word{i} tail")
            for i in range(1, 4)
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r.clean_text for r in remove_boilerplate(df, seg_words=3, min_docs=3).collect()}
    for i in range(1, 4):
        assert out[i] == f"unique{i} opening bit final word{i} tail"


def test_repetition_stats(spark):
    from voter_gateway_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="spam spam spam spam spam spam"),
            Row(doc_id=2, text="all words here are fully distinct"),
            Row(doc_id=3, text=""),
        ],
        "doc_id bigint, text string",
    )
    stats = repetition_stats("text", k=3)
    rows = {
        r.doc_id: r
        for r in df.select("doc_id", *[v.alias(k) for k, v in stats.items()]).collect()
    }
    # 6 words -> 4 shingles, all "spam spam spam" -> 1 distinct
    assert rows[1].n_shingles == 4 and rows[1].n_distinct == 1
    assert rows[1].repetition == 0.75
    assert rows[2].repetition == 0.0
    # empty doc: one empty shingle, repetition 0 (not a div-by-zero)
    assert rows[3].n_shingles == 1 and rows[3].repetition == 0.0


def test_pii_scrub_counts_and_redaction(spark):
    from voter_gateway_spark.operators.text import pii_counts, pii_scrub

    df = spark.createDataFrame(
        [
            Row(t="mail a.b+c@ex.org and x@y.io, call 555-867-5309, ssn 123-45-6789"),
            Row(t="no pii here 1234"),
        ],
        "t string",
    )
    counts = pii_counts("t")
    out = df.select(
        *[v.alias(k) for k, v in counts.items()], pii_scrub("t").alias("s")
    ).collect()
    assert (out[0].n_email, out[0].n_ssn, out[0].n_phone) == (2, 1, 1)
    assert out[0].s == "mail <EMAIL> and <EMAIL>, call <PHONE>, ssn <SSN>"
    assert (out[1].n_email, out[1].n_ssn, out[1].n_phone) == (0, 0, 0)
    assert out[1].s == "no pii here 1234"


def test_quota_cap_deterministic(spark):
    from voter_gateway_spark.operators.relational import quota_cap

    df = spark.createDataFrame(
        [Row(g="a", i=i) for i in range(10)] + [Row(g="b", i=i) for i in range(2)],
        "g string, i bigint",
    )
    out = quota_cap(df, ["g"], "i", cap=3).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r.g, []).append(r.i)
    assert sorted(by_g["a"]) == [0, 1, 2]  # lowest-i survivors, capped
    assert sorted(by_g["b"]) == [0, 1]  # under-cap group untouched


def test_cross_corpus_overlap(spark):
    df_train = spark.createDataFrame(
        [Row(doc_id=10, text="one two three four five")],
        "doc_id bigint, text string",
    )
    df_eval = spark.createDataFrame(
        [
            Row(doc_id=1, text="one two three four five"),  # fully contained
            Row(doc_id=2, text="one two three nine ten"),   # 1 of 3 shingles shared
            Row(doc_id=3, text="alpha beta gamma delta"),   # disjoint
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup_ops.cross_corpus_overlap(
            df_eval, df_train, "doc_id", "text", k=3
        ).collect()
    }
    assert out[1].contamination == 1.0
    assert out[2].n_shingles == 3 and out[2].n_overlap == 1
    assert out[3].n_overlap == 0 and out[3].contamination == 0.0


def test_ppm_decode_real_roundtrip():
    import numpy as np
    from voter_gateway_spark.operators.multimodal import make_ppm, ppm_decode

    px = np.zeros((4, 6, 3), dtype=np.uint8)
    px[:, :, 0] = 255  # pure red
    f = ppm_decode(make_ppm(6, 4, px))
    assert f[0] == 1.0 and f[1] == 0.0 and f[2] == 0.0
    assert f[3] == pytest.approx(255 / 765)
    # quadrants of a uniform image all equal the global gray mean
    assert f[4] == f[5] == f[6] == f[7] == f[3]

    # header comments and arbitrary whitespace are valid PPM
    with_comment = b"P6 # a comment\n# another\n 6\t4 \n255\n" + px.tobytes()
    assert ppm_decode(with_comment) == f


def test_ppm_decode_rejects_bad_payloads():
    import numpy as np
    from voter_gateway_spark.operators.multimodal import make_ppm, ppm_decode

    px = np.zeros((2, 2, 3), dtype=np.uint8)
    good = make_ppm(2, 2, px)
    with pytest.raises(ValueError, match="P6"):
        ppm_decode(b"P3\n2 2\n255\n" + px.tobytes())
    with pytest.raises(ValueError, match="truncated"):
        ppm_decode(good[:-1])
    with pytest.raises(ValueError, match="maxval"):
        ppm_decode(b"P6\n2 2\n65535\n" + b"\x00" * 24)
    # degenerate dims must raise, not return NaN quadrant features
    with pytest.raises(ValueError, match="too small"):
        ppm_decode(b"P6\n4 1\n255\n" + b"\x00" * 12)
    with pytest.raises(ValueError, match="too small"):
        ppm_decode(b"P6\n0 0\n255\n")


def test_ppm_decode_distributed(spark):
    import numpy as np
    from voter_gateway_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
        make_ppm,
    )

    y, x = np.mgrid[0:4, 0:4]
    rows = []
    for m in range(6):
        px = np.stack([(x + m) % 256, (y + m) % 256, (x * y) % 256], axis=-1)
        rows.append((m, "image", bytearray(make_ppm(4, 4, px)), "image/x-ppm", 4, 4, None))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in extract_features(media, kind="ppm").collect()}
    assert len(out) == 6
    # spot-check against a local decode of the same image
    from voter_gateway_spark.operators.multimodal import ppm_decode
    px0 = np.stack([x % 256, y % 256, (x * y) % 256], axis=-1)
    assert list(out[0].features) == ppm_decode(make_ppm(4, 4, px0))


def test_connected_components_deep_chain_converges_fast(spark):
    # pointer jumping: a 120-link chain (diameter 120) must converge in
    # O(log n) rounds, far under max_iter=12 — plain min-label
    # propagation would need ~120 rounds
    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(120)], "id_a bigint, id_b bigint"
    )
    out = dedup_ops.connected_components(
        pairs, max_iter=12, driver_max_edges=0
    ).collect()
    assert {r.component for r in out} == {0}
    assert len(out) == 121


def test_connected_components_driver_gate_matches_distributed(spark, monkeypatch):
    # the size-gated driver union-find must be bit-identical to the
    # pointer-jumping path: chains, islands, merged triangles, and
    # singleton-free output on a deterministic pseudo-random graph
    import random

    rng = random.Random(14)
    pairs_rows = [Row(id_a=rng.randrange(60), id_b=rng.randrange(60)) for _ in range(90)]
    pairs = spark.createDataFrame(pairs_rows, "id_a bigint, id_b bigint")
    driver_runs = []
    real_driver = dedup_ops._driver_components

    def spy(*a, **kw):
        driver_runs.append(len(a[1]))
        return real_driver(*a, **kw)

    monkeypatch.setattr(dedup_ops, "_driver_components", spy)

    def components(**kw):
        return sorted(map(tuple, dedup_ops.connected_components(pairs, **kw).collect()))

    via_driver = components()
    assert driver_runs == [180]
    via_dist = components(driver_max_edges=0)
    assert driver_runs == [180]
    assert via_driver == via_dist
    # gate threshold boundary: exactly at the limit (90 pairs = 180
    # directed edges) still takes the driver path (<=); one below runs
    # the over-limit probe and then the distributed rounds
    assert components(driver_max_edges=180) == via_dist
    assert driver_runs == [180, 180]
    assert components(driver_max_edges=179) == via_dist
    assert driver_runs == [180, 180]


def test_incremental_minhash_pairs_bipartite_only(spark):
    corpus = spark.createDataFrame(
        [
            Row(id=1, t="alpha beta gamma delta epsilon zeta eta theta"),
            Row(id=2, t="alpha beta gamma delta epsilon zeta eta iota"),  # dup of 1
            Row(id=3, t="one two three four five six seven eight"),
        ],
        "id bigint, t string",
    )
    new = spark.createDataFrame(
        [
            Row(id=10, t="alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1/2
            Row(id=11, t="totally fresh unseen content nothing shared here"),
        ],
        "id bigint, t string",
    )
    out = dedup_ops.incremental_minhash_pairs(
        new, corpus, "id", "t", k=2, threshold=0.3
    ).collect()
    pairs = {(r.new_id, r.corpus_id) for r in out}
    assert (10, 1) in pairs
    # corpus-internal dup (1,2) must NOT be recomputed/reported
    assert all(p[0] == 10 for p in pairs)
    assert not any(p[0] == 11 for p in pairs)


def test_stream_attribution_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join parity: the watermarked two-stream
    view->purchase attribution emits exactly the batch join's pairs."""
    import shutil

    from voter_gateway_spark.streaming.events import (
        attribute_conversions,
        stream_attributed_purchases,
    )

    ev = load_events(spark, sf_dir)
    exp = {
        (r.purchase_id, r.view_id)
        for r in attribute_conversions(
            ev.where(F.col("event_type") == "purchase"),
            ev.where(F.col("event_type") == "view"),
            "1 hour",
        ).collect()
    }
    assert exp  # non-vacuous: the fixture must produce attributed pairs

    stream_dir = tmp_path / "events_attr"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "part-0.parquet")
    q = (
        stream_attributed_purchases(spark, str(stream_dir), "1 hour")
        .writeStream.format("memory")
        .queryName("t_stream_attr")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.purchase_id, r.view_id) for r in spark.table("t_stream_attr").collect()
    }
    assert got == exp


def test_incremental_pairs_equal_full_run_cross_pairs(spark, sf_dir):
    """Band collision is pairwise, so the bipartite incremental probe
    must find exactly the full self-join's cross-split pairs (same k,
    hashes, bands, threshold)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    new = docs.where(F.col("doc_id") % 2 == 1)
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    inc = {
        (r.new_id, r.corpus_id, r.jaccard)
        for r in dedup_ops.incremental_minhash_pairs(
            new, corpus, "doc_id", "text", k=3, threshold=0.1
        ).collect()
    }
    full = dedup_ops.minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, n_hashes=16, bands=4, threshold=0.1,
        expand_pairs=True,  # reconstructing the full pair set is the point
    ).collect()
    cross = {
        (r.id_a, r.id_b, r.jaccard) if r.id_a % 2 == 1 else (r.id_b, r.id_a, r.jaccard)
        for r in full
        if (r.id_a % 2) != (r.id_b % 2)
    }
    assert inc == cross


def test_prefix_sum_matches_global_window(spark):
    from voter_gateway_spark.operators.relational import prefix_sum

    df = spark.createDataFrame(
        [Row(id=i, n=(i * 7) % 13) for i in range(200)], "id bigint, n bigint"
    )
    got = {r.id: r.offset for r in prefix_sum(df, "id", "n", partitions=8).collect()}
    acc, exp = 0, {}
    for i in range(200):
        exp[i] = acc
        acc += (i * 7) % 13
    assert got == exp


def test_prefix_sum_double_values(spark):
    """A fractional value column must produce double offsets, not a
    TypeError from the bigint base schema (and no silent truncation)."""
    from voter_gateway_spark.operators.relational import prefix_sum

    df = spark.createDataFrame(
        [Row(id=i, w=i * 0.5) for i in range(20)], "id bigint, w double"
    )
    got = {r.id: r.offset for r in prefix_sum(df, "id", "w", partitions=4).collect()}
    acc, exp = 0.0, {}
    for i in range(20):
        exp[i] = acc
        acc += i * 0.5
    assert got == pytest.approx(exp)


def test_asof_join_null_payload_column_travels_as_one_row(spark):
    """The matched right row's payload must travel WHOLE: a NULL in
    the most recent right row stays NULL instead of being backfilled
    per-column from an older right row (the franken-row bug)."""
    from voter_gateway_spark.operators.relational import as_of_join

    right = spark.createDataFrame(
        [Row(k=1, rt=1, price=10.0, qty=5), Row(k=1, rt=2, price=None, qty=7)],
        "k int, rt int, price double, qty int",
    )
    left = spark.createDataFrame([Row(k=1, lt=3)], "k int, lt int")
    out = as_of_join(left, right, "k", "lt", "rt").collect()[0]
    assert out.qty == 7 and out.price is None


def test_remove_boilerplate_null_text_keeps_row(spark):
    """NULL-text documents must appear in the output as empty docs,
    not vanish (size(NULL) is NULL and passes neither explode guard)."""
    from voter_gateway_spark.operators.text import remove_boilerplate

    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b c"), Row(doc_id=2, text=None)],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in remove_boilerplate(df, min_docs=99).collect()}
    assert set(rows) == {1, 2}
    assert rows[2].clean_text == "" and rows[2].n_segments == 0


def test_prefix_sum_plan_has_no_global_window(spark):
    from voter_gateway_spark.operators.relational import prefix_sum

    df = spark.createDataFrame(
        [Row(id=i, n=i) for i in range(50)], "id bigint, n bigint"
    )
    plan = prefix_sum(df, "id", "n", partitions=4)._jdf.queryExecution().executedPlan().toString()
    # the window must be partitioned by _pid, never a global
    # (empty-partition-spec) sort over everything
    assert "SinglePartition" not in plan


def test_pack_sequences_boundaries(spark):
    from voter_gateway_spark.operators.relational import pack_sequences

    df = spark.createDataFrame(
        [Row(id=1, n=500), Row(id=2, n=20), Row(id=3, n=0), Row(id=4, n=600)],
        "id bigint, n bigint",
    )
    rows = {r.id: r for r in pack_sequences(df, "id", "n", seq_len=512).collect()}
    assert rows[1].token_offset == 0 and rows[1].seq_start == 0 and rows[1].seq_end == 0
    # doc 2 straddles the 512 boundary: tokens 500..519
    assert rows[2].token_offset == 500
    assert (rows[2].seq_start, rows[2].seq_end) == (0, 1)
    # empty doc occupies no span but keeps a deterministic position
    assert rows[3].token_offset == 520 and rows[3].seq_start == rows[3].seq_end == 1
    assert rows[4].token_offset == 520


def test_char_entropy_signals(spark):
    import math

    from voter_gateway_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="aaaaaaaa"),          # zero entropy
            Row(doc_id=2, text="abababab"),          # exactly 1 bit
            Row(doc_id=3, text="abcd"),              # exactly 2 bits
            Row(doc_id=4, text=""),                  # empty -> 0, kept
        ],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in char_entropy(df).collect()}
    assert rows[1].entropy_bits == 0.0
    assert rows[2].entropy_bits == 1.0
    assert rows[3].entropy_bits == 2.0
    assert rows[4].n_chars_sampled == 0 and rows[4].entropy_bits == 0.0
    # natural-ish text sits between the degenerate extremes
    nat = spark.createDataFrame(
        [Row(doc_id=1, text="the quick brown fox jumps over the lazy dog")],
        "doc_id bigint, text string",
    )
    h = char_entropy(nat).collect()[0].entropy_bits
    assert 3.0 < h < 5.0


def test_mixture_sample_rates_and_nesting(spark):
    from voter_gateway_spark.operators.relational import mixture_sample

    df = spark.createDataFrame(
        [Row(id=i, g="a" if i % 2 == 0 else "b") for i in range(2000)],
        "id bigint, g string",
    )
    full = mixture_sample(df, "id", "g", {"a": 1.0, "b": 0.0})
    got = {r.g for r in full.collect()}
    assert got == {"a"}  # rate 1.0 keeps all, rate 0.0 drops all

    # nesting: a group's 10% carve is a subset of its 30% carve
    s10 = {r.id for r in mixture_sample(df, "id", "g", {"a": 0.1, "b": 0.1}).collect()}
    s30 = {r.id for r in mixture_sample(df, "id", "g", {"a": 0.3, "b": 0.3}).collect()}
    assert s10 <= s30
    # default_rate applies to unlisted groups
    d = mixture_sample(df, "id", "g", {"a": 0.0}, default_rate=1.0)
    assert {r.g for r in d.collect()} == {"b"}


def test_assign_cells_partitions_the_corpus(spark, sf_dir):
    import math

    from voter_gateway_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    asg = similarity.assign_cells(emb).collect()
    # exactly one cell per vector (a partition, not a cover)
    assert len(asg) == n
    assert len({r["vec_id"] for r in asg}) == n
    cells = {r["cell"] for r in asg}
    k = max(16, math.ceil(math.sqrt(n)))
    assert cells <= set(range(1, k + 1))
    # rerun determinism (md5 seeding + rounded-cosine ties)
    again = {(r["vec_id"], r["cell"]) for r in similarity.assign_cells(emb).collect()}
    assert again == {(r["vec_id"], r["cell"]) for r in asg}


def test_cluster_report_invariants(spark, sf_dir):
    # per-cell audit: cells partition the corpus, purity is a valid
    # majority share, majority labels come from the corpus, tightness
    # is a valid cosine, and the report is rerun-deterministic (the
    # integer-mean contract — a float avg of round-6 values flipped
    # on shuffle fetch order at birth)
    from voter_gateway_spark.queries import embed_cluster_report

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    labels = {r["label"] for r in emb.select("label").distinct().collect()}
    rows = embed_cluster_report(spark, sf_dir).collect()
    assert sum(r["n_vecs"] for r in rows) == n
    for r in rows:
        assert r["majority_label"] in labels
        assert 0 < r["purity"] <= 1.0
        # purity can't be below an even split across observed labels
        assert r["purity"] >= 1.0 / max(len(labels), 1) - 1e-9
        assert -1.0 <= r["mean_cos_to_centroid"] <= 1.0
    again = embed_cluster_report(spark, sf_dir).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_cluster_mixture_invariants(spark, sf_dir):
    # embedding-cluster temperature mixture: cell counts partition the
    # corpus, weights normalize, admission never exceeds cell mass,
    # full-rate cells admit everything, sqrt temperature up-weights
    # small cells (rate monotone non-increasing in cell size)
    from voter_gateway_spark.queries import sample_cluster_mixture

    emb_n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    rows = sample_cluster_mixture(spark, sf_dir).collect()
    assert len(rows) > 1
    assert sum(r["n_docs"] for r in rows) == emb_n
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert 0 < r["rate"] <= 1.0
        assert 0 <= r["n_selected"] <= r["n_docs"]
        if r["rate"] == 1.0:
            assert r["n_selected"] == r["n_docs"]
    by_size = sorted(rows, key=lambda r: r["n_docs"])
    rates = [r["rate"] for r in by_size]
    assert all(a >= b - 1e-9 for a, b in zip(rates, rates[1:]))


# -- edit-distance near-dup ----------------------------------------------------

def test_edit_distance_pairs_blocked_verify(spark):
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [
            Row(id=1, s="jonathan smith"),
            Row(id=2, s="jonathon smith"),    # dist 1
            Row(id=3, s="jonathan smyth"),    # dist 1 from 1
            Row(id=4, s="completely other"),  # no shared trigrams w/ 1-3
        ],
        "id int, s string",
    )
    got = {
        (r.id_a, r.id_b): r.edit_distance
        for r in fuzzy.edit_distance_pairs(df, "s", "id", max_dist=3).collect()
    }
    assert got[(1, 2)] == 1 and got[(1, 3)] == 1
    assert (2, 3) in got                    # dist 2, still under max
    assert all(a < b for a, b in got)       # canonical orientation
    assert not any(4 in p for p in got)     # blocked out


def test_edit_distance_respects_max_dist(spark):
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(id=1, s="abcdef ghij"), Row(id=2, s="abcdef zzzz")],
        "id int, s string",
    )
    assert fuzzy.edit_distance_pairs(df, "s", "id", max_dist=2).count() == 0
    assert fuzzy.edit_distance_pairs(df, "s", "id", max_dist=4).count() == 1


def test_band_index_roundtrip_matches_inmemory(spark, sf_dir, tmp_path):
    """Persisted MinHash band index (partitioned by band + key prefix)
    must return exactly what the in-memory bipartite probe computes,
    and both probe scans must be partition-pruned."""
    import contextlib
    import io

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "band_idx")
    dedup_ops.build_band_index(corpus, path, "doc_id", "text", k=3, prefix_len=2)
    got = dedup_ops.probe_band_index(spark, path, batch, "doc_id", "text", threshold=0.3)
    exp = dedup_ops.incremental_minhash_pairs(
        batch, corpus, "doc_id", "text", k=3, threshold=0.3
    )
    g = {(r.new_id, r.corpus_id, r.jaccard) for r in got.collect()}
    e = {(r.new_id, r.corpus_id, r.jaccard) for r in exp.collect()}
    assert g == e and len(g) > 0
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    # the verify scan prunes on _ip (the band scan's (_b, _kp) filter
    # sits above the candidate checkpoint, so assert it on the layout)
    assert "PartitionFilters: [_ip" in plan
    buf2 = io.StringIO()
    with contextlib.redirect_stdout(buf2):
        spark.read.parquet(f"{path}/bands").where(
            (F.col("_b") == 0) & F.col("_kp").isin(["ab", "cd"])
        ).explain("formatted")
    band_plan = buf2.getvalue()
    assert "_kp" in band_plan.split("PartitionFilters")[1].split("]")[0]


def test_band_index_auto_prefix_zero_roundtrip(spark, sf_dir, tmp_path):
    """The auto-sized layout (prefix_len=None) picks prefix_len=0 on a
    small corpus — no _kp/_ip directories at all (the 500k-doc honest
    measurement showed fixed prefix dirs are micro-file overhead below
    ~target_bucket_rows·16 docs). The degenerate layout must still
    return exactly the in-memory bipartite probe's pairs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "band_idx0")
    dedup_ops.build_band_index(corpus, path, "doc_id", "text", k=3)
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    assert meta.prefix_len == 0
    got = dedup_ops.probe_band_index(spark, path, batch, "doc_id", "text", threshold=0.3)
    exp = dedup_ops.incremental_minhash_pairs(
        batch, corpus, "doc_id", "text", k=3, threshold=0.3
    )
    g = {(r.new_id, r.corpus_id, r.jaccard) for r in got.collect()}
    e = {(r.new_id, r.corpus_id, r.jaccard) for r in exp.collect()}
    assert g == e and len(g) > 0


def _band_index_texts():
    """(corpus, admission batch, probe batch) rows for the persisted
    band-index round trip: exact and near duplicates across all three,
    plus NULL, empty and whitespace-only texts."""
    words = "amber basil cedar delta ember fjord grove harbor island jasper kestrel lumen".split()

    def text(seed: int, swap: int | None = None) -> str:
        ws = [f"{w}{seed}" for w in words]
        if swap is not None:
            ws[swap] = f"other{seed}"
        return " ".join(ws)

    corpus = [(i, text(i)) for i in range(1, 9)] + [
        (9, text(1)),  # exact duplicates inside the corpus
        (10, text(2)),
        (11, text(3, swap=11)),  # near duplicates inside the corpus
        (12, text(4, swap=0)),
        (13, None),
        (14, ""),
        (15, "   "),
        (16, "single"),
        (17, text(17)),
        (18, text(18)),
    ]
    admit = [
        (101, text(5)),  # exact duplicate of the corpus: rejected
        (102, text(6, swap=11)),
        (103, text(103)),
        (104, text(104)),
        (105, None),  # degenerate text: an exact duplicate of 13-15
        (106, text(106, swap=5)),
    ]
    probe = [
        (201, text(103, swap=11)),  # near duplicates of admitted docs
        (202, text(104)),  # exact duplicate of an admitted doc
        (203, text(7, swap=0)),
        (204, ""),
        (205, text(205)),
        (206, text(1)),
        (207, "   "),
        (208, text(106)),
    ]
    return corpus, admit, probe


@pytest.mark.parametrize("prefix_len", [1, None])
def test_band_index_packed_layout_roundtrip_with_append(spark, tmp_path, prefix_len):
    """The persisted index stores the packed band rows: a build, one
    plain admit_batch append and a probe of a third batch equal the
    in-memory incremental probe against corpus + admitted docs, on the
    prefixed layout and on the auto (prefix_len=0) one, at threshold
    0.0 (every band collision) and 0.3. An index with the older string
    band key is rejected."""
    from voter_gateway_spark.streaming.index_dedup import admit_batch

    schema = "doc_id bigint, text string"
    corpus_rows, admit_rows, probe_rows = _band_index_texts()
    corpus = spark.createDataFrame(corpus_rows, schema)
    idx, cpath = str(tmp_path / "idx"), str(tmp_path / "corpus")
    corpus.write.parquet(cpath)
    dedup_ops.build_band_index(corpus, idx, "doc_id", "text", prefix_len=prefix_len)
    admitted = admit_batch(
        spark, spark.createDataFrame(admit_rows, schema), idx, cpath,
        "doc_id", "text", intra_batch=False,
    )
    admitted_ids = {r.doc_id for r in admitted.collect()}
    assert 101 not in admitted_ids and {103, 104, 106} <= admitted_ids

    plen = spark.read.parquet(f"{idx}/meta").collect()[0].prefix_len
    assert plen == (prefix_len or 0)
    bands = spark.read.parquet(f"{idx}/bands")
    assert {"corpus_id", "_b", "_k0", "_k1"} <= set(bands.columns)
    assert "_k" not in bands.columns
    if plen:
        kps = {r._kp for r in bands.select("_kp").distinct().collect()}
        assert kps and all(len(kp) == plen and set(kp) <= set("0123456789abcdef") for kp in kps)

    batch = spark.createDataFrame(probe_rows, schema)
    grown = spark.read.parquet(cpath)
    for threshold in (0.0, 0.3):
        got = {
            (r.new_id, r.corpus_id, r.jaccard)
            for r in dedup_ops.probe_band_index(
                spark, idx, batch, "doc_id", "text", threshold=threshold
            ).collect()
        }
        exp = {
            (r.new_id, r.corpus_id, r.jaccard)
            for r in dedup_ops.incremental_minhash_pairs(
                batch, grown, "doc_id", "text", threshold=threshold
            ).collect()
        }
        assert got == exp
        # the appended rows are probed, and degenerate texts pair
        assert any(c in admitted_ids for _, c, _ in got)
        assert (204, 13) in {(n, c) for n, c, _ in got}

    old = tmp_path / "old_idx"
    spark.read.parquet(f"{idx}/meta").write.parquet(str(old / "meta"))
    spark.createDataFrame([(1, 0, "1|2|3|4")], "corpus_id bigint, _b int, _k string").write.partitionBy(
        "_b"
    ).parquet(str(old / "bands"))
    with pytest.raises(ValueError, match="build_band_index"):
        dedup_ops.probe_band_index(spark, str(old), batch, "doc_id", "text")
    with pytest.raises(ValueError, match="bootstrap_index"):
        admit_batch(spark, batch, str(old), cpath, "doc_id", "text", intra_batch=False)


def test_ivf_lloyd_partition_count_invariant(spark, sf_dir):
    """With centroid_round, the Lloyd trajectory must be identical at
    any partition layout: the mean's fold order varies with partitions,
    and the decimal snap (9 places, ~7 orders above accumulated ulp
    error) must absorb it completely."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") % 10 == 0)
    a = similarity.ivf_topk(
        qs.repartition(4), emb.repartition(4), k=5, iters=2, centroid_round=9
    )
    b = similarity.ivf_topk(
        qs.repartition(32), emb.repartition(32), k=5, iters=2, centroid_round=9
    )
    ra = {(r.query_id, r.neighbor_id, r.rank, r.cos_sim) for r in a.collect()}
    rb = {(r.query_id, r.neighbor_id, r.rank, r.cos_sim) for r in b.collect()}
    assert ra == rb and len(ra) > 0


def test_remove_boilerplate_partition_count_invariant(spark, sf_dir):
    from voter_gateway_spark.operators.text import remove_boilerplate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = {
        (r.doc_id, r.clean_text, r.n_segments, r.n_removed)
        for r in remove_boilerplate(docs.repartition(4), min_docs=3).collect()
    }
    b = {
        (r.doc_id, r.clean_text, r.n_segments, r.n_removed)
        for r in remove_boilerplate(docs.repartition(32), min_docs=3).collect()
    }
    assert a == b and len(a) == docs.count()


def test_edit_distance_default_keeps_short_field_true_pairs(spark):
    """'smith' vs 'smyth' is edit distance 1 but trigram similarity
    0.333 — the old fixed 0.4 floor silently dropped it. The default
    q-gram count bound (|inter| >= max(|Ta|,|Tb|) - 3d) is lossless."""
    df = spark.createDataFrame(
        [Row(id=1, s="smith"), Row(id=2, s="smyth"), Row(id=3, s="zzqqz")],
        "id int, s string",
    )
    pairs = {(r.id_a, r.id_b): r.edit_distance
             for r in fuzzy.edit_distance_pairs(df, "s", "id", max_dist=2).collect()}
    assert pairs.get((1, 2)) == 1


def test_trigram_freq_cap_keeps_similarity_exact(spark):
    """max_trigram_freq restricts the candidate POOL only: a pair that
    still collides on an uncapped trigram must report its EXACT full
    similarity, not one computed over the pruned index."""
    rows = [Row(id=i, s=f"main u{i}") for i in range(10)]
    rows += [Row(id=100, s="main ab xy"), Row(id=101, s="main ab xq")]
    df = spark.createDataFrame(rows, "id int, s string")
    capped = fuzzy.candidate_pairs(
        df, df, "s", "s", "id", "id", max_trigram_freq=5
    ).where((F.col("_sid") == 100) & (F.col("_tid") == 101)).collect()
    full = fuzzy.candidate_pairs(df, df, "s", "s", "id", "id").where(
        (F.col("_sid") == 100) & (F.col("_tid") == 101)
    ).collect()
    assert capped and full
    assert capped[0].similarity == pytest.approx(full[0].similarity)


def test_ivf_empty_corpus_with_sampled_training_degrades_gracefully(spark):
    """train_per_cell + iters>0 on an empty corpus must return empty
    results (like the unsampled path), not ZeroDivisionError computing
    the sample fraction."""
    emb = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    out = similarity.ivf_topk(
        emb, emb, k=3, n_centroids=4, iters=2, train_per_cell=8
    )
    assert out.count() == 0


def test_fuzzy_top1_exclude_self_collapses_duplicate_groups(spark):
    """exclude_self with exact-duplicate texts: each member must match
    the LOWEST other id in its duplicate group at similarity 1.0 (the
    collapse path's within-group expansion), and unique texts must
    still find their cross-group best."""
    rows = [
        Row(id=1, txt="alpha bravo charlie"),
        Row(id=2, txt="alpha bravo charlie"),
        Row(id=3, txt="alpha bravo charlie"),
        Row(id=4, txt="alpha bravo charly"),   # near-dup of the group
        Row(id=9, txt="zzz qqq xxx"),          # no match above threshold
    ]
    df = spark.createDataFrame(rows, "id int, txt string")
    out = {
        r.id: (r.matched_id, r.similarity)
        for r in fuzzy.top1_fuzzy_match(
            df, df, "txt", "id", "id", exclude_self=True
        ).collect()
    }
    assert out[1] == (2, 1.0)   # min other member
    assert out[2] == (1, 1.0)
    assert out[3] == (1, 1.0)
    assert out[4][0] in (1, 2, 3) and out[4][0] == 1 and 0.5 < out[4][1] < 1.0
    assert 9 not in out


def test_png_decode_matches_ppm_and_exercises_all_filters():
    """make_png's cycling row filters (None/Sub/Up/Average/Paeth) must
    reconstruct to the same pixels — features identical to a filter-0
    encode AND to the PPM decode of the same array."""
    import numpy as np

    from voter_gateway_spark.operators.multimodal import (
        make_png, make_ppm, png_decode, ppm_decode,
    )

    y, x = np.mgrid[0:12, 0:16]
    px = np.stack([(x + y) % 256, (2 * x + 5) % 256, (y + 11) % 256], axis=-1)
    cycled = png_decode(make_png(16, 12, px))
    plain = png_decode(make_png(16, 12, px, filter_mode="none"))
    ppm = ppm_decode(make_ppm(16, 12, px))
    assert cycled == plain == ppm


def test_png_decode_gray_and_rgba():
    import struct
    import zlib

    import numpy as np

    from voter_gateway_spark.operators.multimodal import png_decode

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    g = np.add.outer(np.arange(4), np.arange(4)).astype(np.uint8)
    raw = b"".join(b"\x00" + g[r].tobytes() for r in range(4))
    png_g = (
        sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    fg = png_decode(png_g)
    assert fg[0] == fg[1] == fg[2] == g.mean() / 255.0

    rgba = np.zeros((4, 4, 4), dtype=np.uint8)
    rgba[:, :, 0] = rgba[:, :, 1] = rgba[:, :, 2] = np.arange(4)[None, :]
    rgba[:, :, 3] = 200  # alpha must be ignored
    raw = b"".join(b"\x00" + rgba[r].tobytes() for r in range(4))
    png_a = (
        sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    assert png_decode(png_a)[0] == 1.5 / 255.0


def test_png_decode_rejects_bad_payloads():
    import numpy as np
    import pytest as _pytest

    from voter_gateway_spark.operators.multimodal import make_png, png_decode

    y, x = np.mgrid[0:4, 0:4]
    png = make_png(4, 4, np.stack([x, y, x], axis=-1) % 256)
    with _pytest.raises(ValueError, match="signature"):
        png_decode(b"not a png")
    with _pytest.raises(ValueError, match="truncated"):
        png_decode(png[:30])
    with _pytest.raises(ValueError, match="CRC"):
        png_decode(png.replace(b"IDAT", b"IDAX", 1))
    with _pytest.raises(ValueError, match="too small"):
        png_decode(make_png(1, 4, (np.zeros((4, 1, 3), dtype=np.uint8))))


def test_png_extract_features_distributed(spark):
    """The png decoder through the registry + mapInPandas path on a
    multi-partition frame: every row decodes, features match the
    driver-side decode."""
    import numpy as np

    from voter_gateway_spark.operators.multimodal import (
        MEDIA_SCHEMA, extract_features, make_png, png_decode,
    )

    y, x = np.mgrid[0:8, 0:10]
    rows, expected = [], {}
    for m in range(12):
        px = np.stack([(x + m) % 256, (y * 2) % 256, (x + y + m) % 256], axis=-1)
        payload = make_png(10, 8, px)
        rows.append((m, "image", bytearray(payload), "image/png", 10, 8, None))
        expected[m] = png_decode(payload)
    media = spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(4)
    got = {
        r.media_id: list(r.features)
        for r in extract_features(media, kind="png").collect()
    }
    assert got == expected


def test_semantic_dedup_collapse_equals_plain_on_dup_heavy(spark, sf_dir):
    """The exact-dup collapse is output-preserving: a d-way replicated
    corpus (the stress shape — same vectors, unique ids) must produce
    bit-identical (dup_id, keep_id, cos_sim) rows through the collapsed
    plan as through the plain within-cell all-pairs plan."""
    from voter_gateway_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(60)
    reps = spark.range(8).select(F.col("id").alias("_r"))
    dup = emb.crossJoin(reps).select(
        (F.col("vec_id") + F.col("_r") * 1000000).alias("vec_id"), "embedding"
    )
    collapsed = sorted(
        tuple(r)
        for r in similarity.semantic_dedup(
            dup, threshold=0.3, iters=0, collapse_exact=True
        ).collect()
    )
    plain = sorted(
        tuple(r)
        for r in similarity.semantic_dedup(
            dup, threshold=0.3, iters=0, collapse_exact=False
        ).collect()
    )
    assert collapsed == plain
    assert len(collapsed) > 0


def test_semantic_dedup_nan_vectors_collapse_matches_plain(spark):
    """Spark's NaN ordering semantics (NaN compares LARGER than any
    number, so a NaN cosine passes `>= threshold`) make NaN vectors
    pair with everything. Whatever those semantics produce, the
    collapsed plan must reproduce the plain plan row-for-row — the
    within-group fallback's self-cosine gate follows the same NaN
    comparison, so identical NaN vectors keep their group rep exactly
    as the plain all-pairs join would. (Zero-NORM vectors instead
    raise DIVIDE_BY_ZERO under ANSI in both plans — the engine's
    garbage-input-raises posture.)"""
    from voter_gateway_spark.operators import similarity

    nan = float("nan")
    df = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[nan, 1.0]),
            Row(vec_id=2, embedding=[nan, 1.0]),
            Row(vec_id=3, embedding=[nan, 1.0]),
            Row(vec_id=4, embedding=[1.0, 0.0]),
            Row(vec_id=5, embedding=[1.0, 0.0]),
            Row(vec_id=6, embedding=[1.0, 0.0]),
        ]
    )

    def canon(collapse):
        return sorted(
            (r.dup_id, r.keep_id, repr(r.cos_sim))
            for r in similarity.semantic_dedup(
                df, threshold=0.9, iters=0, collapse_exact=collapse
            ).collect()
        )

    collapsed, plain = canon(True), canon(False)
    assert collapsed == plain
    # NaN >= threshold is true in Spark, so every vector keeps id 1
    assert collapsed == [
        (2, 1, "nan"),
        (3, 1, "nan"),
        (4, 1, "nan"),
        (5, 1, "nan"),
        (6, 1, "nan"),
    ]


def test_semantic_dedup_null_elements_decline_collapse(spark):
    """ADVICE r6 #1: a null ELEMENT inside a vector breaks SQL array
    equality (never true), so the collapse's member-expansion join and
    Lloyd's collapsed-training re-join would silently drop such rows.
    The fanout probe must therefore decline the collapse — output with
    collapse_exact=True must equal the plain plan even on a dup-heavy
    corpus containing null-element and NULL vectors, including with
    Lloyd refinement engaged (iters>0), where the r6 code diverged."""
    from voter_gateway_spark.operators import similarity

    rows = []
    # 6-way duplicated clean vectors -> fanout > 2 gate would fire
    for g, vec in enumerate([[1.0, 0.0], [0.0, 1.0], [0.6, 0.8]]):
        for r in range(6):
            rows.append(Row(vec_id=g * 100 + r, embedding=vec))
    rows.append(Row(vec_id=900, embedding=[None, 1.0]))
    rows.append(Row(vec_id=901, embedding=[None, 1.0]))
    rows.append(Row(vec_id=902, embedding=None))
    df = spark.createDataFrame(
        rows, "vec_id INT, embedding ARRAY<DOUBLE>"
    )

    def canon(collapse, iters):
        return sorted(
            (r.dup_id, r.keep_id, repr(r.cos_sim))
            for r in similarity.semantic_dedup(
                df, threshold=0.9, iters=iters,
                centroid_round=6, collapse_exact=collapse,
            ).collect()
        )

    for iters in (0, 2):
        collapsed, plain = canon(True, iters), canon(False, iters)
        assert collapsed == plain, f"diverged at iters={iters}"
    # the clean duplicate groups must still all resolve to their min id
    keeps = {d: k for d, k, _ in canon(True, 0)}
    for g in range(3):
        for r in range(1, 6):
            assert keeps.get(g * 100 + r) == g * 100


def test_substring_span_scrub_removes_copied_spans(spark):
    """Spans >= min_run duplicated shingle positions are cut from the
    later doc only; short duplications and unique text survive; empty
    and NULL texts round-trip as empty rows rather than disappearing."""
    from voter_gateway_spark.operators import dedup_ops

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            Row(doc_id=2, text="XX alpha beta gamma delta epsilon zeta eta theta iota kappa YY"),
            Row(doc_id=3, text="totally different words here nothing shared at all okay"),
            Row(doc_id=4, text="alpha beta gamma"),
            Row(doc_id=5, text=""),
            Row(doc_id=6, text=None),
        ]
    )
    out = {
        r.doc_id: (r.clean_text, r.n_tokens_removed, r.n_spans)
        for r in dedup_ops.substring_span_scrub(df, min_run=5).collect()
    }
    assert out[1] == (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa", 0, 0
    )  # first occurrence keeps its text
    assert out[2] == ("xx yy", 10, 1)  # the 10-token copied span is cut
    assert out[3][1:] == (0, 0)
    assert out[4] == ("alpha beta gamma", 0, 0)  # 3-token dup < min_run
    assert out[5] == ("", 0, 0)
    assert out[6] == ("", 0, 0)


def test_ivf_topk_collapse_equals_plain_on_dup_heavy(spark, sf_dir):
    """The IVF exact-dup collapse (reps-only scoring + in-row member
    expansion) must be bit-identical to the plain plan on a replicated
    corpus, including exclude_self (each query drops only itself) and
    the fixed/auto centroid forms."""
    from voter_gateway_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(80)
    reps = spark.range(6).select(F.col("id").alias("_r"))
    dup = emb.crossJoin(reps).select(
        (F.col("vec_id") + F.col("_r") * 1000000).alias("vec_id"), "embedding"
    )
    qs = dup.where(F.col("vec_id") % 10 == 0)

    def canon(collapse, **kw):
        return sorted(
            tuple(r)
            for r in similarity.ivf_topk(
                qs, dup, collapse_exact=collapse, **kw
            ).collect()
        )

    for kw in (
        dict(k=5, n_centroids=16, iters=0),
        dict(k=3, n_centroids=16, iters=0, exclude_self=False),
    ):
        a, b = canon(True, **kw), canon(False, **kw)
        assert a == b, kw
        assert len(a) > 0


def test_ivfpq_topk_collapse_equals_plain_on_dup_heavy(spark, sf_dir):
    """The r15 PQ collapse (reps-only assignment/encode/ADC + in-row
    member expansion with the (adc ASC, id ASC) struct order) must be
    bit-identical to the plain PQ plan on a replicated corpus,
    including exclude_self. The x100 docs capstone is exactly this
    shape: 100-way duplicated hashed embeddings paid 97 s of coarse
    assignment for 5 000 distinct vectors before the collapse."""
    from voter_gateway_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(60)
    reps = spark.range(5).select(F.col("id").alias("_r"))
    dup = emb.crossJoin(reps).select(
        (F.col("vec_id") + F.col("_r") * 1000000).alias("vec_id"), "embedding"
    )
    qs = dup.where(F.col("vec_id") % 10 == 0)

    def canon(collapse, **kw):
        return sorted(
            tuple(r)
            for r in similarity.ivfpq_topk(
                qs, dup, collapse_exact=collapse, **kw
            ).collect()
        )

    for kw in (
        dict(k=5, m=8, ks=16, n_centroids=16, coarse_iters=0),
        dict(k=3, m=8, ks=16, n_centroids=16, coarse_iters=0, exclude_self=False),
    ):
        a, b = canon(True, **kw), canon(False, **kw)
        assert a == b, kw
        assert len(a) > 0


def test_ivf_topk_null_element_vectors_decline_collapse(spark):
    """A null ELEMENT inside a vector makes cos_sim NULL; the plain
    window orders NULLs last but an in-row struct sort would order a
    NULL distance first, so the dup-fanout probe must decline the
    collapse and keep the plain plan — outputs must match exactly."""
    from voter_gateway_spark.operators import similarity

    base = [
        Row(vec_id=i, embedding=[float(i % 3), 1.0, 0.5]) for i in range(1, 13)
    ]
    base.append(Row(vec_id=50, embedding=[1.0, None, 0.5]))
    df = spark.createDataFrame(base)
    qs = df.where(F.col("vec_id").isin(1, 2, 50))

    def canon(collapse):
        return sorted(
            tuple(r)
            for r in similarity.ivf_topk(
                qs, df, k=3, n_centroids=4, iters=0, collapse_exact=collapse
            ).collect()
        )

    assert canon(True) == canon(False)


def _dup_fixture(spark, vecs, copies):
    """Each vector `copies` times, ids g*100 + r (group g, copy r), as a
    LocalRelation so every read skips the Python-worker scan."""
    from pyspark.sql import types as T

    from voter_gateway_spark.session import local_frame

    return local_frame(
        spark,
        [(g * 100 + r, v) for g, v in enumerate(vecs) for r in range(copies)],
        T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]),
    )


def test_collapsed_topk_equals_plain_default_tier(spark, tmp_path):
    """The row-wise member expansion of the exact-dup collapse equals
    the plain plan through ivf_topk, ivfpq_topk and query_pq_index, for
    k=3 with and without exclude_self and for k=1. Eight copies per
    group make the own group fill every list, so a member cut at k
    instead of k+1 under exclude_self loses a neighbour. Rows compare
    by repr so NaN scores would compare equal."""
    vecs = [
        [1.0, 0.2, 0.0, 0.3, 0.5, 0.1, 0.0, 0.4],
        [0.9, 0.3, 0.1, 0.2, 0.4, 0.2, 0.1, 0.5],
        [0.0, 1.0, 0.5, 0.1, 0.0, 0.3, 0.7, 0.2],
        [0.1, 0.8, 0.6, 0.0, 0.2, 0.4, 0.6, 0.1],
        [0.5, 0.5, 0.5, 0.5, 0.1, 0.0, 0.2, 0.9],
        [0.3, 0.0, 0.9, 0.7, 0.6, 0.5, 0.0, 0.2],
    ]
    df = _dup_fixture(spark, vecs, 8)
    qs = df.where(F.col("vec_id") % 3 == 0)
    n_q = qs.count()
    p = str(tmp_path / "pqidx")
    pq = dict(m=4, ks=4, pq_iters=0, n_centroids=2, coarse_iters=0)
    similarity.build_pq_index(df, p, **pq)
    ops = {
        "ivf_topk": lambda collapse, **kw: similarity.ivf_topk(
            qs, df, n_centroids=2, n_probe=2, iters=0,
            collapse_exact=collapse, **kw,
        ),
        "ivfpq_topk": lambda collapse, **kw: similarity.ivfpq_topk(
            qs, df, n_probe=2, collapse_exact=collapse, **pq, **kw
        ),
        "query_pq_index": lambda collapse, **kw: similarity.query_pq_index(
            spark, p, qs, n_probe=2, collapse_exact=collapse, **kw
        ),
    }
    for name, op in ops.items():
        for kw in (dict(k=3), dict(k=3, exclude_self=False), dict(k=1)):
            a, b = (
                sorted(repr(tuple(r)) for r in op(c, **kw).collect())
                for c in (True, False)
            )
            assert a == b, (name, kw)
            assert len(a) == n_q * kw["k"], (name, kw)


def test_zero_norm_vector_raises_on_both_ivf_paths(spark):
    """Nonzero norms are the module's precondition: a duplicated zero
    vector raises DIVIDE_BY_ZERO under ANSI through the collapsed and
    the plain ivf_topk alike, never a silent NaN ranking."""
    df = _dup_fixture(spark, [[0.0, 0.0], [1.0, 0.0], [0.6, 0.8]], 4)
    for collapse in (True, False):
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            similarity.ivf_topk(
                df, df, k=2, n_centroids=2, n_probe=2, iters=0,
                collapse_exact=collapse,
            ).collect()


def test_wav_decode_real_roundtrip():
    """make_wav -> wav_decode round-trips known PCM with integer-exact
    statistics (the third real codec, first audio one)."""
    import numpy as np

    from voter_gateway_spark.operators.multimodal import make_wav, wav_decode

    s = np.array([0, 100, -200, 300, -400, 0, 32767, -32768], dtype=np.int64)
    f = wav_decode(make_wav(8000, s))
    assert f[0] == 8.0  # n_samples
    assert f[1] == 8000.0
    assert f[2] == float(s.sum()) / 8
    assert f[3] == 32767.0 and f[4] == -32768.0
    # strict sign changes: 100/-200, -200/300, 300/-400, 32767/-32768
    # (products through a 0 sample are 0, not negative — no crossing)
    assert f[5] == 4.0
    assert f[6] == float(np.abs(s).sum()) / 8
    assert f[7] == float((s * s).sum()) / 8


def test_wav_decode_rejects_bad_payloads():
    import numpy as np
    import pytest as _pytest

    from voter_gateway_spark.operators.multimodal import make_wav, wav_decode

    good = make_wav(8000, np.arange(16, dtype=np.int64))
    with _pytest.raises(ValueError, match="RIFF/WAVE"):
        wav_decode(b"nope" + good[4:])
    with _pytest.raises(ValueError, match="size mismatch"):
        wav_decode(good[:-2])
    # stereo rejected: patch channels field (offset 22, <H)
    import struct

    stereo = bytearray(good)
    struct.pack_into("<H", stereo, 22, 2)
    with _pytest.raises(ValueError, match="unsupported WAVE shape"):
        wav_decode(bytes(stereo))
    # a second data chunk must raise, not silently win (a malformed
    # file yielding plausible stats from the wrong chunk is the exact
    # junk-features failure the decoder contract forbids)
    extra = np.array([1, -1], dtype=np.int64).astype("<i2").tobytes()
    dup = bytearray(good)
    dup += b"data" + struct.pack("<I", len(extra)) + extra
    struct.pack_into("<I", dup, 4, len(dup) - 8)
    with _pytest.raises(ValueError, match="duplicate data"):
        wav_decode(bytes(dup))
    # trailing sub-chunk garbage inside the declared RIFF size raises
    tail = bytearray(good) + b"xyz"
    struct.pack_into("<I", tail, 4, len(tail) - 8)
    with _pytest.raises(ValueError, match="trailing bytes"):
        wav_decode(bytes(tail))
    # out-of-int16 samples refuse to encode rather than wrapping
    with _pytest.raises(ValueError, match="int16 range"):
        make_wav(8000, np.array([40000, 0], dtype=np.int64))


def test_ppm_pool_grid_matches_numpy_reference():
    import numpy as np
    from voter_gateway_spark.operators.multimodal import make_ppm, ppm_pool_grid

    rng_y, rng_x = np.mgrid[0:32, 0:36]
    px = np.stack(
        [(rng_x * rng_y) % 256, (rng_x * rng_x + rng_y) % 256, (rng_y * rng_y) % 256],
        axis=-1,
    ).astype(np.uint8)
    got = ppm_pool_grid(make_ppm(36, 32, px))
    gray = px.astype(np.int64).sum(axis=2)
    exp = gray.reshape(8, 4, 9, 4).sum(axis=(1, 3)).flatten()
    assert got == [float(v) for v in exp]
    # non-tiling dims must refuse, not silently truncate a block
    with pytest.raises(ValueError, match="tile"):
        ppm_pool_grid(make_ppm(35, 32, px[:, :35]))


def test_hamming_band_pairs_pigeonhole_bound_and_recall(spark):
    from voter_gateway_spark.operators.dedup_ops import hamming_band_pairs

    # distance 3 pair (bits 0, 20, 40 differ -> three distinct bands),
    # distance 4 pair must NOT appear even though it shares a band
    h0 = 0
    h3 = (1 << 0) | (1 << 20) | (1 << 40)
    h4 = (1 << 0) | (1 << 1) | (1 << 2) | (1 << 3)
    base = spark.createDataFrame(
        [(0, h0), (1, h3), (2, h4)], "_id bigint, _h bigint"
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_band_pairs(base, 4, 16, 3).collect()
    }
    assert (0, 1) in got and got[(0, 1)] == 3
    assert (0, 2) not in got  # hamming 4 > max
    # beyond the pigeonhole bound the blocking is lossy -> must raise
    with pytest.raises(ValueError, match="pigeonhole"):
        hamming_band_pairs(base, 4, 16, 4)


def test_phash_neardup_variant_pairs_surface(spark):
    from voter_gateway_spark.queries import QUERIES

    got = {
        (r.id_a, r.id_b): r.hamming
        for r in QUERIES["multimodal_phash_neardup"](spark, "/root/testdata/sf0.001").collect()
    }
    # every (base m, variant 100+m) pair is a near-dup: the bump
    # touches ONE pooled cell, so at most one dHash bit flips
    for m in range(16):
        assert (m, 100 + m) in got, m
        assert got[(m, 100 + m)] <= 1


def _full_map(spark, pairs, all_ids):
    from voter_gateway_spark.operators.dedup_ops import connected_components

    ids = spark.createDataFrame([(i,) for i in all_ids], "id bigint")
    if pairs:
        comp = connected_components(
            spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
        )
        full = ids.join(comp, "id", "left").select(
            "id", F.coalesce("component", F.col("id")).alias("component")
        )
    else:
        full = ids.select("id", F.col("id").alias("component"))
    return {r.id: r.component for r in full.collect()}


def test_incremental_component_assign_bridges_clusters(spark):
    """A batch doc that links TWO settled corpus clusters must merge
    them exactly as a full recompute would — including the case where
    the merged component's min id is the BATCH doc itself."""
    from voter_gateway_spark.operators.dedup_ops import incremental_component_assign

    corpus_pairs = [(10, 11), (20, 21)]
    corpus_ids = [10, 11, 20, 21, 30]
    cmap = spark.createDataFrame(
        [(10, 10), (11, 10), (20, 20), (21, 20), (30, 30)],
        "id bigint, component bigint",
    )
    batch_ids = spark.createDataFrame([(1,), (40,), (41,), (50,)], "id bigint")
    bp = spark.createDataFrame([(1, 11), (1, 21)], "new_id bigint, corpus_id bigint")
    nn = spark.createDataFrame([(40, 41)], "id_a bigint, id_b bigint")
    got = {
        r.id: r.component
        for r in incremental_component_assign(cmap, batch_ids, bp, nn).collect()
    }
    exp = _full_map(
        spark,
        corpus_pairs + [(1, 11), (1, 21), (40, 41)],
        corpus_ids + [1, 40, 41, 50],
    )
    assert got == exp
    # the bridge merged 10's and 20's clusters under the batch id
    assert got[10] == got[21] == got[1] == 1


def test_incremental_component_assign_driver_and_distributed_paths_agree(
    spark, monkeypatch
):
    """Small bridging-batch variant of the slow recompute property: the
    driver relabel (edge list within DRIVER_MAX_EDGES) and the
    distributed components path (edge list over it) both equal the full
    recompute — with a batch doc bridging two corpus clusters under a
    smaller id, a batch-internal chain reaching a corpus cluster, a
    corpus cluster touched without changing label, and a singleton."""
    from voter_gateway_spark.operators.dedup_ops import incremental_component_assign

    corpus_pairs = [(10, 11), (20, 21), (30, 31)]
    corpus_ids = [10, 11, 20, 21, 30, 31, 40]
    cmap = spark.createDataFrame(
        [(10, 10), (11, 10), (20, 20), (21, 20), (30, 30), (31, 30), (40, 40)],
        "id bigint, component bigint",
    )
    batch = [5, 50, 51, 52, 60, 70]
    batch_ids = spark.createDataFrame([(i,) for i in batch + [50]], "id bigint")
    bp_edges = [(5, 11), (5, 21), (52, 31), (60, 40), (60, 40)]
    nn_edges = [(50, 51), (51, 52)]
    bp = spark.createDataFrame(bp_edges, "new_id bigint, corpus_id bigint")
    nn = spark.createDataFrame(nn_edges, "id_a bigint, id_b bigint")
    exp = _full_map(
        spark,
        corpus_pairs + [(c, b) for b, c in bp_edges] + nn_edges,
        corpus_ids + batch,
    )
    calls = []
    real_cc = dedup_ops.connected_components

    def spy(*a, **kw):
        calls.append(kw.get("driver_max_edges"))
        return real_cc(*a, **kw)

    monkeypatch.setattr(dedup_ops, "connected_components", spy)

    def run():
        rows = incremental_component_assign(cmap, batch_ids, bp, nn).collect()
        assert len(rows) == len(exp)  # one row per id
        return {r.id: r.component for r in rows}

    # 7 collected rows = 14 directed edges: exactly at the gate → driver
    monkeypatch.setattr(dedup_ops, "DRIVER_MAX_EDGES", 14)
    assert run() == exp
    assert calls == []
    # one directed edge under it → the distributed components path
    monkeypatch.setattr(dedup_ops, "DRIVER_MAX_EDGES", 13)
    assert run() == exp
    assert calls == [0]
    assert exp[10] == exp[21] == 5 and exp[52] == 30 and exp[60] == 40 and exp[70] == 70


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),
            st.integers(min_value=0, max_value=15),
        ).filter(lambda e: e[0] != e[1]),
        max_size=14,
    )
)
def test_incremental_component_assign_matches_full_recompute(spark_prop, edges):
    """Parity property: split a random pair graph at id 8 into
    corpus/bipartite/batch edges, settle the corpus side, fold the
    batch in incrementally — the result must equal components over the
    whole graph (singletons completed)."""
    from voter_gateway_spark.operators.dedup_ops import incremental_component_assign

    edges = [(min(a, b), max(a, b)) for a, b in edges]
    corpus_ids = list(range(8))
    batch = list(range(8, 16))
    c_edges = [e for e in edges if e[1] < 8]
    bp_edges = [e for e in edges if e[0] < 8 <= e[1]]  # (corpus, batch)
    n_edges = [e for e in edges if e[0] >= 8]
    cmap_d = _full_map(spark_prop, c_edges, corpus_ids)
    cmap = spark_prop.createDataFrame(
        list(cmap_d.items()), "id bigint, component bigint"
    )
    batch_ids = spark_prop.createDataFrame([(i,) for i in batch], "id bigint")
    bp = spark_prop.createDataFrame(
        [(b, c) for c, b in bp_edges] or [(None, None)],
        "new_id bigint, corpus_id bigint",
    ).dropna()
    nn = spark_prop.createDataFrame(
        n_edges or [(None, None)], "id_a bigint, id_b bigint"
    ).dropna()
    got = {
        r.id: r.component
        for r in incremental_component_assign(cmap, batch_ids, bp, nn).collect()
    }
    assert got == _full_map(spark_prop, edges, list(range(16)))


def test_stream_session_paths_matches_batch(spark, sf_dir, tmp_path):
    """Stream-vs-batch session-path parity: session_window gap
    sessionization (streaming, availableNow) finished by the SHARED
    renderer must equal the batch lag/sum form per (path, n_sessions,
    n_events) — the boundary-semantics equivalence the two operators
    claim (gap of exactly 30min starts a new session in both)."""
    import shutil

    from voter_gateway_spark.operators.analytics import (
        render_session_paths,
        session_paths,
    )
    from voter_gateway_spark.streaming.events import stream_session_collect

    batch = session_paths(load_events(spark, sf_dir), gap_seconds=1800, max_len=8)
    stream_dir = tmp_path / "events_stream_sp"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "part-0.parquet")
    q = (
        stream_session_collect(spark, str(stream_dir), gap="30 minutes")
        .writeStream.format("memory")
        .queryName("t_stream_sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.path): (r.n_sessions, r.n_events)
        for r in render_session_paths(
            spark.table("t_stream_sessions"), max_len=8
        ).collect()
    }
    exp = {(r.path): (r.n_sessions, r.n_events) for r in batch.collect()}
    assert got == exp


# -- product quantization (IVF-PQ) -------------------------------------------


def _pq_cluster_fixture(spark):
    """10 well-separated deterministic clusters × 20 points, 64-dim —
    the structured fixture where PQ's coarse-geometry contract is
    testable (uniform-random embeddings are the adversarial case; the
    recall report records that honestly instead)."""
    rows = []
    for c in range(10):
        for p in range(20):
            vec = [
                float(((c * 31 + d * 17) % 13) - 6)
                + (((p * 7 + d) % 5) - 2) * 0.01
                for d in range(64)
            ]
            rows.append((c * 20 + p, vec))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_ivfpq_cluster_recall_floor(spark):
    """On clustered data IVF-PQ must (a) return ONLY same-cluster
    neighbors at k=5 (cluster separation >> quantizer distortion) and
    (b) recover >= 0.4 of the exact top-5 (the fine within-cluster
    ordering is below PQ resolution at ks=16 — coarse geometry is the
    contract, exact rank recovery is not)."""
    df = _pq_cluster_fixture(spark)
    qs = df.where(F.col("vec_id") % 20 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(qs, df, k=5).collect()
    }
    res = similarity.ivfpq_topk(qs, df, k=5).collect()
    assert all(r.neighbor_id // 20 == r.query_id // 20 for r in res)
    got = {(r.query_id, r.neighbor_id) for r in res}
    assert len(exact & got) / len(exact) >= 0.4


def test_ivfpq_empty_cell_lut(spark):
    """Regression: clustered data leaves PQ cells EMPTY after the
    Lloyd round (the codebook shrinks below m*ks rows). The ADC lookup
    table must stay dense-grid-indexed — positional indexing over the
    shrunken codebook array shifted every later entry and threw
    INVALID_ARRAY_INDEX. With the dense LUT each query's top-1
    (exclude_self=False) is ITSELF: self shares its own code cells, so
    no candidate ADC can be smaller, and the query id (p=0 in its
    cluster) wins the equal-codes tie-break. Note self-ADC is the
    query's own quantization distortion, NOT ~0 — seeds drawn from
    ≤16 md5-smallest vectors can leave a cluster's subvectors poorly
    covered, which is correct PQ behavior, not a defect."""
    df = _pq_cluster_fixture(spark)
    c = df.select(
        F.col("vec_id").alias("_cid"),
        similarity.as_double_array("embedding").alias("_cv"),
    )
    cb = similarity.pq_train(c, m=8, ks=16, sub=8, iters=1)
    # the regression trigger: at least one (j, code) cell must be empty
    assert cb.count() < 8 * 16
    qs = df.where(F.col("vec_id") % 20 == 0)
    res = similarity.ivfpq_topk(qs, df, k=1, exclude_self=False).collect()
    assert len(res) == 10
    for r in res:
        assert r.neighbor_id == r.query_id, (r.query_id, r.neighbor_id)


def test_pq_encode_shape(spark, sf_dir):
    """Codes are m-length arrays of 1..ks codeword ids for every
    corpus vector."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c = emb.select(
        F.col("vec_id").alias("_cid"),
        similarity.as_double_array("embedding").alias("_cv"),
    )
    cb = similarity.pq_train(c, m=8, ks=16, sub=8, iters=1)
    codes = similarity.pq_encode(c, cb, m=8, sub=8)
    assert codes.count() == emb.count()
    bad = codes.where(
        (F.size("_codes") != 8)
        | F.exists("_codes", lambda x: (x < 1) | (x > 16))
    )
    assert bad.count() == 0


def test_ivfpq_deterministic_rerun(spark, sf_dir):
    """Two runs produce identical rows (seeded quantizers + snapped
    Lloyd means + rounded distances)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") % 10 == 0)
    a = sorted(map(tuple, similarity.ivfpq_topk(qs, emb, k=5).collect()))
    b = sorted(map(tuple, similarity.ivfpq_topk(qs, emb, k=5).collect()))
    assert a == b


def test_ivfpq_residual_uplift_on_clusters(spark):
    """Residual refinement's contract, both directions: with a
    Lloyd-refined coarse quantizer (coarse_iters=1, centroids = cell
    MEANS) the PQ codewords only have to encode within-cell offsets,
    lifting recall over plain PQ (measured 0.70 vs 0.56 on this
    fixture); with raw seed-vector centroids (coarse_iters=0) the
    residual is a difference of two noise draws — ~2x the variance to
    quantize — and measurably HURTS (0.38), which is why the catalog
    query runs residual at coarse_iters=1 and why residual=True is
    opt-in rather than the default."""
    df = _pq_cluster_fixture(spark)
    qs = df.where(F.col("vec_id") % 20 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(qs, df, k=5).collect()
    }

    def recall(**kw):
        got = {
            (r.query_id, r.neighbor_id)
            for r in similarity.ivfpq_topk(qs, df, k=5, **kw).collect()
        }
        return len(exact & got) / len(exact)

    plain = recall(coarse_iters=1, residual=False)
    res = recall(coarse_iters=1, residual=True)
    res_seed = recall(coarse_iters=0, residual=True)
    assert res >= plain + 0.05, (plain, res)
    assert res >= 0.6, res
    assert res_seed < plain, (res_seed, plain)


def test_ivfpq_residual_deterministic_rerun(spark, sf_dir):
    """Residual mode keeps the rerun-determinism contract (seeded
    quantizers + snapped coarse/PQ Lloyd means + rounded distances)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") % 10 == 0)
    kw = dict(k=5, coarse_iters=1, residual=True)
    a = sorted(map(tuple, similarity.ivfpq_topk(qs, emb, **kw).collect()))
    b = sorted(map(tuple, similarity.ivfpq_topk(qs, emb, **kw).collect()))
    assert a == b and len(a) > 0


def test_ivfpq_oracle_ks_not_equal_centroids(spark, sf_dir):
    """_ivfpq_sql must mirror the Spark trajectory when ks !=
    n_centroids. The original SQL derived the PQ seed codebook (cb0)
    from the coarse `seeds LIMIT n_centroids` CTE, which only
    coincided with similarity._pq_seed_codebook's ks-row seed at the
    16/16 defaults — at ks=8 it silently mirrored an 8-extra-seed
    trajectory. cb0 now has its own `LIMIT ks` seed CTE; pin the
    off-default parameterization cross-engine."""
    import duckdb

    from voter_gateway_spark.queries import _ivfpq_sql

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") % 10 == 0)
    got = {
        (r.query_id, r.neighbor_id, r.rank, r.adc_dist)
        for r in similarity.ivfpq_topk(
            qs, emb, k=5, m=8, ks=8, pq_iters=1,
            n_centroids=16, n_probe=4, coarse_iters=0, centroid_round=9,
        ).collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    exp = {
        (int(q), int(n), int(r), float(d))
        for q, n, r, d in con.sql(
            _ivfpq_sql(k=5, m=8, ks=8, sub=8, n_centroids=16, n_probe=4)
        ).fetchall()
    }
    con.close()
    assert len(got) > 0 and got == exp


def test_lloyd_round_improves_cell_tightness(spark, sf_dir):
    """The r13 cell-family upgrade's justification, measured: one
    snapped Lloyd round must tighten the partition — corpus-wide mean
    cosine of members to their cell centroid strictly higher at
    iters=1 than at iters=0 (seed vectors as centroids). This is the
    evidence the cluster report's "distrust iters=0 cells" caveat
    asked for before sample_cluster_mixture / semantic_dedup block on
    these cells."""
    from voter_gateway_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def mean_tightness(iters):
        asg = similarity.assign_cells(
            emb, keep=("embedding",), iters=iters, centroid_round=9
        )
        cents = similarity.coarse_centroids(
            emb, iters=iters, centroid_round=9
        )
        return (
            asg.join(F.broadcast(cents), "cell")
            .select(
                similarity.cosine(
                    similarity.as_double_array("embedding"),
                    F.col("centroid"),
                ).alias("cs")
            )
            .agg(F.avg("cs"))
            .first()[0]
        )

    t0, t1 = mean_tightness(0), mean_tightness(1)
    assert t1 > t0, (t0, t1)


# -- JPEG codec -----------------------------------------------------------------

def _jpeg_coef_field(m):
    import numpy as np

    coef = np.zeros((2, 2, 8, 8), dtype=np.int64)
    for by in range(2):
        for bx in range(2):
            coef[by][bx][0][0] = 8 * (((m * 5 + bx * 3 + by * 7) % 25) - 12)
            coef[by][bx][0][1] = ((m + 3 * bx + 5 * by) % 13) - 6
    return coef


def test_jpeg_decode_matches_closed_form_field():
    """Every pixel of every oracle fixture must equal the two-term
    IDCT formula the SQL oracle recomputes — Huffman decode, DC
    prediction across 4 blocks, dequant, zigzag, IDCT scaling, level
    shift, and rounding all on the line."""
    import math

    from voter_gateway_spark.operators.multimodal import (
        jpeg_parse, make_jpeg_gray,
    )

    for m in range(64):
        img = jpeg_parse(make_jpeg_gray(16, 16, _jpeg_coef_field(m)))
        for y in range(16):
            for x in range(16):
                bx, by, lx = x // 8, y // 8, x % 8
                dc = ((m * 5 + bx * 3 + by * 7) % 25) - 12
                ac = ((m + 3 * bx + 5 * by) % 13) - 6
                val = 128 + dc + ac * math.cos(
                    (2 * lx + 1) * math.pi / 16
                ) / (4 * math.sqrt(2))
                assert img[y, x, 0] == min(255, max(0, math.floor(val + 0.5)))


def test_jpeg_oracle_margin():
    """The catalog fixture's pre-rounding pixel values must sit far
    from the floor(v+0.5) boundary (>= 1e-3), so a 1-ulp cos()
    difference between numpy and DuckDB can never flip a pixel —
    the condition that makes the closed-form oracle legitimate."""
    import math

    margin = 1.0
    for m in range(64):
        for bx in range(2):
            for by in range(2):
                dc = ((m * 5 + bx * 3 + by * 7) % 25) - 12
                ac = ((m + 3 * bx + 5 * by) % 13) - 6
                for lx in range(8):
                    val = 128 + dc + ac * math.cos(
                        (2 * lx + 1) * math.pi / 16
                    ) / (4 * math.sqrt(2))
                    margin = min(
                        margin, abs((val + 0.5) - round(val + 0.5))
                    )
    assert margin >= 1e-3, margin


def test_jpeg_color_ycbcr_roundtrip():
    """3-component 4:4:4 scans: constant YCbCr blocks decode to the
    exact floor(x+0.5)-rounded RGB of the standard transform,
    including clamping at both ends."""
    import math

    import numpy as np

    from voter_gateway_spark.operators.multimodal import (
        jpeg_parse, make_jpeg_color,
    )

    def cz(dc):
        c = np.zeros((1, 1, 8, 8), dtype=np.int64)
        c[0][0][0][0] = 8 * dc
        return c

    for ydc, cbdc, crdc in [(0, 0, 0), (40, -20, 30), (-60, 50, -50),
                            (120, 120, 120), (-128, -120, -120)]:
        img = jpeg_parse(make_jpeg_color(8, 8, cz(ydc), cz(cbdc), cz(crdc)))
        yv, cb, cr = 128 + ydc, cbdc, crdc
        exp = [
            min(255, max(0, math.floor(yv + 1.402 * cr + 0.5))),
            min(255, max(0, math.floor(
                yv - 0.344136 * cb - 0.714136 * cr + 0.5))),
            min(255, max(0, math.floor(yv + 1.772 * cb + 0.5))),
        ]
        assert [int(v) for v in img[5, 5]] == exp


def test_jpeg_entropy_byte_stuffing_roundtrip():
    """A 0xFF byte inside the entropy-coded stream must be stuffed on
    encode and unstuffed on decode. DC diffs near 2^11-1 put long
    1-runs in the magnitude bits; sweep offsets until payloads
    contain the stuffed pair, then verify the block AFTER the
    stuffed byte still decodes exactly (bit alignment preserved
    through unstuffing)."""
    import numpy as np

    from voter_gateway_spark.operators.multimodal import (
        jpeg_parse, make_jpeg_gray,
    )

    hit = 0
    for dc0 in range(1024, 1200, 7):
        coef = np.zeros((1, 3, 8, 8), dtype=np.int64)
        coef[0][0][0][0] = dc0
        coef[0][1][0][0] = dc0 + 2046
        coef[0][2][0][0] = 0  # after the 1-run: must come back exact
        payload = make_jpeg_gray(24, 8, coef)
        if b"\xff\x00" in payload[2:-2]:
            hit += 1
            img = jpeg_parse(payload)
            assert (img[:, 16:, 0] == 128).all()
            assert (img[:, 8:16, 0] == 255).all()  # clamped high block
    assert hit > 0


def test_jpeg_rejects_unsupported_variants():
    """Progressive scans, subsampled chroma, restart intervals, and
    non-JPEG payloads must raise, never approximate."""
    import numpy as np
    import pytest

    from voter_gateway_spark.operators.multimodal import (
        jpeg_parse, make_jpeg_gray,
    )

    coef = np.zeros((1, 1, 8, 8), dtype=np.int64)
    good = bytearray(make_jpeg_gray(8, 8, coef))
    # SOF0 -> SOF2 (progressive)
    prog = good.replace(b"\xff\xc0", b"\xff\xc2")
    with pytest.raises(ValueError, match="SOF"):
        jpeg_parse(bytes(prog))
    # grayscale sampling 0x11 -> 0x22: not a supported layout (the
    # only subsampled layout implemented is 3-component 4:2:0)
    i = bytes(good).index(b"\xff\xc0")
    sub = bytearray(good)
    sub[i + 2 + 2 + 5 + 1 + 1] = 0x22  # len(2) prec(1) h(2) w(2) nc(1) cid(1)
    with pytest.raises(ValueError, match="sampling"):
        jpeg_parse(bytes(sub))
    with pytest.raises(ValueError, match="SOI"):
        jpeg_parse(b"not a jpeg")


def test_jpeg420_rejects_other_subsampled_layouts():
    """4:2:0 is implemented; every OTHER subsampled layout (4:2:2,
    4:1:1, 2x2 chroma) must still reject loudly, never approximate."""
    import numpy as np
    import pytest

    from voter_gateway_spark.operators.multimodal import (
        jpeg_parse, make_jpeg_color_420,
    )

    y = np.zeros((2, 2, 8, 8), dtype=np.int64)
    c = np.zeros((1, 1, 8, 8), dtype=np.int64)
    good = bytes(make_jpeg_color_420(16, 16, y, c, c))
    i = good.index(b"\xff\xc0")
    base = i + 2 + 2 + 5 + 1  # first comp triplet (cid, samp, qid)
    for bad_y_samp in (0x21, 0x12, 0x41):  # 4:2:2 / 2x4 / 4:1:1 Y factors
        mut = bytearray(good)
        mut[base + 1] = bad_y_samp
        with pytest.raises(ValueError, match="sampling"):
            jpeg_parse(bytes(mut))
    # chroma at 2x2 alongside Y 2x2 is 4:4:4-with-scaled-factors — an
    # UNSUPPORTED combination in this decoder's restricted grammar
    mut = bytearray(good)
    mut[base + 4] = 0x22
    with pytest.raises(ValueError, match="sampling"):
        jpeg_parse(bytes(mut))


def test_jpeg420_constant_chroma_equals_444():
    """With per-MCU-constant chroma, replication upsampling makes the
    4:2:0 decode EQUAL the 4:4:4 decode of the same content — the
    cross-layout consistency anchor (an MCU block-order slip, a
    sampling misparse, or a wrong upsample phase all break it)."""
    import numpy as np

    from voter_gateway_spark.operators.multimodal import (
        jpeg_parse, make_jpeg_color, make_jpeg_color_420,
    )

    y = np.zeros((2, 2, 8, 8), dtype=np.int64)
    for by in range(2):
        for bx in range(2):
            y[by][bx][0][0] = 8 * (10 * by - 4 * bx)
            y[by][bx][0][1] = 2 + by - bx
    cb1 = np.zeros((1, 1, 8, 8), dtype=np.int64); cb1[0][0][0][0] = 8 * 12
    cr1 = np.zeros((1, 1, 8, 8), dtype=np.int64); cr1[0][0][0][0] = -8 * 7
    cb4 = np.zeros((2, 2, 8, 8), dtype=np.int64)
    cr4 = np.zeros((2, 2, 8, 8), dtype=np.int64)
    for by in range(2):
        for bx in range(2):
            cb4[by][bx][0][0] = 8 * 12
            cr4[by][bx][0][0] = -8 * 7
    img420 = jpeg_parse(make_jpeg_color_420(16, 16, y, cb1, cr1))
    img444 = jpeg_parse(make_jpeg_color(16, 16, y, cb4, cr4))
    assert np.array_equal(img420, img444)


def test_jpeg420_oracle_margin():
    """Every pre-rounding R/G/B value of every multimodal_jpeg420
    fixture must sit >= 1e-3 from the floor(v+0.5) boundary — ~9
    orders above cross-engine libm cos drift (abs err <= ~1e-12), so
    the closed-form color oracle can never flip a pixel. The color
    transform mixes three cos terms per channel, so the fixture's
    chroma fields draw from sparse value lattices (see the query) to
    hold this bar."""
    import math

    margin = 1.0
    for m in range(64):
        for x in range(16):
            cosf = math.cos((2 * (x // 2) + 1) * math.pi / 16) / (4 * math.sqrt(2))
            cb = 12 * (((m * 3) % 5) - 2) + 2 * (((m * 7) % 3) - 1) * cosf
            cr = 12 * (((m * 11 + 1) % 5) - 2) + 2 * (((m * 5 + 2) % 3) - 1) * cosf
            for by in range(2):
                for bx in range(2):
                    yv = 128 + (((m * 5 + bx * 3 + by * 7) % 25) - 12) + (
                        ((m + 3 * bx + 5 * by) % 13) - 6
                    ) * math.cos((2 * (x % 8) + 1) * math.pi / 16) / (4 * math.sqrt(2))
                    for v in (
                        yv + 1.402 * cr,
                        yv - 0.344136 * cb - 0.714136 * cr,
                        yv + 1.772 * cb,
                    ):
                        margin = min(margin, abs((v + 0.5) - round(v + 0.5)))
    assert margin >= 1e-3, margin


def test_ngram_graph_counts_equal_expanded_pairs(spark):
    """The count algebra corpus_source_overlap runs on the collapsed
    graph must equal counting the expanded pair listing, on a fixture
    with heavy exact duplication, near-dups, and two 'sources'."""
    rows = []
    texts = [
        "alpha beta gamma delta epsilon zeta",       # near-dups with next
        "alpha beta gamma delta epsilon eta",
        "one two three four five six",
        "seven eight nine ten eleven twelve",
    ]
    i = 0
    for t_i, t in enumerate(texts):
        for d in range(4):  # 4 exact copies each
            rows.append((i, t, f"s{(i + t_i) % 2}"))
            i += 1
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")

    exp_pairs = dedup_ops.ngram_jaccard_pairs(
        df, "doc_id", "text", k=3, threshold=0.3, expand_pairs=True
    )
    src = {r.doc_id: r.source for r in df.select("doc_id", "source").collect()}
    txt = {r.doc_id: r.text for r in df.select("doc_id", "text").collect()}
    from collections import Counter

    want = Counter()
    for r in exp_pairs.collect():
        if txt[r.id_a] != txt[r.id_b]:  # strictly-near (norm fp differs)
            key = tuple(sorted((src[r.id_a], src[r.id_b])))
            want[key] += 1

    rp, mem = dedup_ops.ngram_jaccard_graph(
        df, "doc_id", "text", k=3, threshold=0.3
    )
    meta = df.select(
        F.col("doc_id").alias("id"), "source", F.md5("text").alias("_f")
    )
    cells = (
        mem.join(meta, "id").groupBy("rep", "source", "_f").count()
    ).collect()
    by_rep: dict = {}
    for c in cells:
        by_rep.setdefault(c.rep, []).append((c.source, c._f if hasattr(c, "_f") else c["_f"], c["count"]))
    got = Counter()
    for r in rp.collect():
        for sa, fa, ca in by_rep.get(r.id_a, []):
            for sb, fb, cb in by_rep.get(r.id_b, []):
                if fa != fb:
                    got[tuple(sorted((sa, sb)))] += ca * cb
    for cells_g in by_rep.values():
        for x in range(len(cells_g)):
            for y in range(x + 1, len(cells_g)):
                sa, fa, ca = cells_g[x]
                sb, fb, cb = cells_g[y]
                if fa != fb:
                    got[tuple(sorted((sa, sb)))] += ca * cb
    assert got == want, (got, want)
    # membership covers every doc with shingles, rep = group min
    m = {r.id: r.rep for r in mem.collect()}
    assert len(m) == len(rows)
    assert all(rep <= i for i, rep in m.items())


def test_collapsed_contract_equivalence_minhash_simhash(spark):
    """minhash_lsh_pairs / simhash_pairs collapsed default vs
    expanded opt-in: collapsed is a value-inherited subset with the
    same connected components and the same keep-min-id loser set —
    the same equivalence the ngram property test pins."""
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta iota",
        "one two three four five six seven eight",
    ]
    rows = [(i * 3 + d, t) for i, t in enumerate(texts) for d in range(3)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    for fn, kw in (
        (dedup_ops.minhash_lsh_pairs, dict(k=2, threshold=0.3)),
        (dedup_ops.simhash_pairs, dict(max_hamming=20, k=2)),
    ):
        exp = {
            (r.id_a, r.id_b): r[2]
            for r in fn(df, "doc_id", "text", expand_pairs=True, **kw).collect()
        }
        col = {
            (r.id_a, r.id_b): r[2]
            for r in fn(df, "doc_id", "text", **kw).collect()
        }
        assert set(col) <= set(exp)
        assert all(exp[k] == v for k, v in col.items())
        assert {b for _, b in col} == {b for _, b in exp}  # losers
        cc_col = sorted(map(tuple, dedup_ops.connected_components(
            fn(df, "doc_id", "text", **kw)).collect()))
        cc_exp = sorted(map(tuple, dedup_ops.connected_components(
            fn(df, "doc_id", "text", expand_pairs=True, **kw)).collect()))
        assert cc_col == cc_exp


def test_incremental_probe_corpus_collapsed_mode(spark, sf_dir):
    """expand_corpus=False: (a) the matched NEW-id set is identical to
    the full contract (admission exactness), (b) every corpus_id is a
    corpus exact-dup-group representative whose full-contract row set
    covers the same groups, and (c) incremental_component_assign gives
    the identical final map with either form of bp."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    new = docs.where(F.col("doc_id") % 2 == 1)
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    mh = dict(k=3, threshold=0.1)
    full = dedup_ops.incremental_minhash_pairs(
        new, corpus, "doc_id", "text", **mh
    ).collect()
    coll = dedup_ops.incremental_minhash_pairs(
        new, corpus, "doc_id", "text", expand_corpus=False, **mh
    ).collect()
    assert {r.new_id for r in coll} == {r.new_id for r in full}
    assert {(r.new_id, r.corpus_id, r.jaccard) for r in coll} <= {
        (r.new_id, r.corpus_id, r.jaccard) for r in full
    }

    cpairs = dedup_ops.minhash_lsh_pairs(corpus, "doc_id", "text", **mh)
    cmap = (
        corpus.select("doc_id")
        .join(
            dedup_ops.connected_components(cpairs).withColumnRenamed(
                "id", "doc_id"
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
        )
    )
    nn = dedup_ops.minhash_lsh_pairs(new, "doc_id", "text", **mh).select(
        "id_a", "id_b"
    )

    def assign(bp_rows):
        bp = spark.createDataFrame(
            [(r.new_id, r.corpus_id) for r in bp_rows] or [(None, None)],
            "new_id bigint, corpus_id bigint",
        ).where(F.col("new_id").isNotNull())
        return sorted(
            map(
                tuple,
                dedup_ops.incremental_component_assign(
                    cmap, new.select("doc_id"), bp, nn
                ).collect(),
            )
        )

    assert assign(coll) == assign(full)


def test_knn_graph_recall(spark, sf_dir):
    """NN-descent refinement must be MONOTONE non-decreasing in recall
    vs the exact kNN graph, strictly better than the init after two
    rounds, and above an absolute floor on the fixture (near-uniform
    synthetic vectors — the hardest case for graph methods; clustered
    real embeddings only help)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, emb, k=4).collect()
    }
    recalls = []
    for rounds in (0, 1, 2):
        g = {
            (r.vec_id, r.neighbor_id)
            for r in similarity.knn_graph(emb, k=4, rounds=rounds, iters=0).collect()
        }
        recalls.append(len(exact & g) / len(exact))
    assert recalls[0] <= recalls[1] <= recalls[2], recalls
    assert recalls[2] > recalls[0], recalls
    assert recalls[2] >= 0.4, recalls


def test_knn_graph_degree_and_shape(spark, sf_dir):
    """Every node emits at most k edges with dense ranks 1..deg, no
    self loops, and neighbors are unique per node."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = similarity.knn_graph(emb, k=4, rounds=1, iters=0).collect()
    by_src = {}
    for r in rows:
        assert r.vec_id != r.neighbor_id
        by_src.setdefault(r.vec_id, []).append(r)
    for src, es in by_src.items():
        assert len(es) <= 4
        assert sorted(e.rank for e in es) == list(range(1, len(es) + 1)), src
        assert len({e.neighbor_id for e in es}) == len(es), src
        # within a node, ranks follow (cos desc, id asc)
        es_sorted = sorted(es, key=lambda e: e.rank)
        key = [(-e.cos_sim, e.neighbor_id) for e in es_sorted]
        assert key == sorted(key), src


def test_mutual_knn_clusters_invariants(spark, sf_dir):
    """Every vector labels exactly once; endpoints of every surviving
    mutual edge share a cluster; each cluster's id is its min member;
    nodes without a mutual edge are singletons of themselves."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    t = 0.35
    comp = {
        r.vec_id: r.cluster_id
        for r in similarity.mutual_knn_clusters(
            emb, k=4, rounds=2, min_sim=t, iters=0
        ).collect()
    }
    assert len(comp) == emb.count()
    edges = similarity.knn_graph(emb, k=4, rounds=2, iters=0).collect()
    directed = {(r.vec_id, r.neighbor_id) for r in edges if r.cos_sim >= t}
    mutual = {(a, b) for (a, b) in directed if (b, a) in directed and a < b}
    assert mutual, "threshold leaves no mutual edges — fixture drifted"
    touched = set()
    for a, b in mutual:
        assert comp[a] == comp[b], (a, b)
        touched |= {a, b}
    members = {}
    for vid, cid in comp.items():
        members.setdefault(cid, []).append(vid)
    for cid, vids in members.items():
        assert cid == min(vids), cid
    for vid, cid in comp.items():
        if vid not in touched:
            assert cid == vid or cid in comp, vid
    singles = [v for v in comp if v not in touched]
    assert all(comp[v] == v for v in singles)


def test_knn_graph_increment(spark, sf_dir):
    """Folding the 10% batch into the 90% graph must cover every node,
    give every batch node edges, land near the full rebuild (edge
    overlap floor — a kNN graph admits no exact-parity increment), and
    lose no recall vs the rebuild (the touched-set round is a real
    refinement round: measured 0.511 inc vs 0.492 rebuild at the
    fixture)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") % 10 != 3)
    batch = emb.where(F.col("vec_id") % 10 == 3)
    existing = similarity.knn_graph(corpus, k=4, rounds=2, iters=0)
    inc_rows = similarity.knn_graph_increment(
        corpus, batch, existing, k=4, rounds=1, iters=0
    ).collect()
    inc = {(r.vec_id, r.neighbor_id) for r in inc_rows}
    srcs = {u for (u, _) in inc}
    assert srcs == {r.vec_id for r in emb.select("vec_id").collect()}
    batch_ids = {r.vec_id for r in batch.select("vec_id").collect()}
    assert batch_ids <= srcs
    by_src = {}
    for r in inc_rows:
        by_src.setdefault(r.vec_id, []).append(r)
    for src, es in by_src.items():
        assert sorted(e.rank for e in es) == list(range(1, len(es) + 1)), src
    reb = {
        (r.vec_id, r.neighbor_id)
        for r in similarity.knn_graph(emb, k=4, rounds=2, iters=0).collect()
    }
    overlap = len(inc & reb) / len(reb)
    assert overlap >= 0.6, overlap
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, emb, k=4).collect()
    }
    rec_inc = len(inc & exact) / len(exact)
    rec_reb = len(reb & exact) / len(exact)
    assert rec_inc >= rec_reb - 0.05, (rec_inc, rec_reb)


def test_hashed_embedding_properties(spark):
    """Deterministic featurizer invariants: identical token multisets
    embed identically (order-free), empty text is the zero vector,
    components are exact token-count-bounded integers, dim is
    validated."""
    import pytest as _pytest

    from voter_gateway_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "gamma  beta\talpha"),   # same multiset, messy spacing
            (3, ""),
            (4, "alpha alpha"),
        ],
        "doc_id bigint, text string",
    )
    rows = {
        r.doc_id: r.v
        for r in df.select(
            "doc_id", text_ops.hashed_embedding("text", dim=8).alias("v")
        ).collect()
    }
    assert rows[1] == rows[2]
    assert rows[3] == [0.0] * 8
    assert all(abs(x) <= 3 and x == int(x) for x in rows[1])
    assert all(abs(x) == 2 for x in rows[4])  # two copies of one token
    with _pytest.raises(ValueError):
        text_ops.hashed_embedding("text", dim=33)


def _clustered_embeddings(spark, n=240, n_clusters=8, dim=8):
    """Deterministic tight-cluster fixture shared by the graph-search
    recall tests: orthogonal one-hot cluster axes + small jitter."""
    rows = []
    for i in range(n):
        c = i % n_clusters
        vec = [(((i * 7 + d * 13) % 11) - 5) / 100.0 for d in range(dim)]
        vec[c] += 1.0
        rows.append((i, [float(v) for v in vec]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_graph_search_warns_on_underbuilt_graph(spark):
    """r14 VERDICT ask #6: searching a graph whose build degree is
    below 1.6x the answer k must warn loudly (the measured recall
    cliff); a knn_graph_for_search-sized build must stay silent, and
    check_degree=False must silence the under-built case."""
    import warnings as _warnings

    emb = _clustered_embeddings(spark, n=80)
    qs = emb.where(F.col("vec_id") % 20 == 0)
    g4 = similarity.knn_graph(emb, k=4, rounds=0, iters=0)
    with pytest.warns(UserWarning, match="under-built graph"):
        similarity.knn_graph_search(qs, emb, g4, k=5, beam=8, hops=1).collect()
    # degree metadata survives checkpoint/parquet-free lineage; the
    # sized build (2x answer k = 10 >= 1.6x5) must not warn
    g10 = similarity.knn_graph_for_search(emb, search_k=5, rounds=0, iters=0)
    assert g10.schema["rank"].metadata["knn_graph_k"] == 10
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        similarity.knn_graph_search(qs, emb, g10, k=5, beam=8, hops=1).collect()
        # opting out silences the under-built warning too
        similarity.knn_graph_search(
            qs, emb, g4, k=5, beam=8, hops=1, check_degree=False
        ).collect()


def test_graph_search_sized_build_recall_on_clustered_fixture(spark):
    """The knn_graph_for_search-sized build must clear 0.9 recall@5 on
    the tight-cluster fixture where the k=4 graph measured 0.52 —
    pinning that the auto-sizing actually buys the recall it claims
    (r14 VERDICT ask #6 done-bar)."""
    emb = _clustered_embeddings(spark)
    qs = emb.where(F.col("vec_id") % 10 == 0)
    g = similarity.knn_graph_for_search(emb, search_k=5, rounds=2, iters=0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(qs, emb, k=5).collect()
    }
    got = similarity.knn_graph_search(qs, emb, g, k=5, beam=8, hops=2).collect()
    approx = {(r.query_id, r.neighbor_id) for r in got}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, recall


def test_graph_search_recall_floor_on_clustered_fixture(spark):
    """Beam search over the kNN graph must recover most of the exact
    top-k when the corpus HAS cluster structure (the case the graph
    family exists for — uniform random vectors are its adversarial
    floor, graded separately in embed_recall_report). 240 vectors in 8
    tight deterministic clusters; queries from the corpus."""
    rows = []
    for i in range(240):
        c = i % 8
        # orthogonal one-hot cluster axes + small deterministic jitter:
        # intra-cluster cosine ~1, inter ~0 — unambiguous structure
        vec = [(((i * 7 + d * 13) % 11) - 5) / 100.0 for d in range(8)]
        vec[c] += 1.0
        rows.append((i, [float(v) for v in vec]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    qs = emb.where(F.col("vec_id") % 10 == 0)
    # graph degree is the search's recall lever: a k=4 graph over
    # 30-member near-tie clusters strands the beam in a local region
    # (measured 0.52); degree 8 >= 1.6x the answer k recovers 0.95+
    g = similarity.knn_graph(emb, k=8, rounds=2, iters=0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(qs, emb, k=5).collect()
    }
    got = similarity.knn_graph_search(qs, emb, g, k=5, beam=8, hops=2).collect()
    approx = {(r.query_id, r.neighbor_id) for r in got}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall
    # shape invariants: dense ranks per query following (cos desc, id)
    by_q = {}
    for r in got:
        assert r.query_id != r.neighbor_id
        by_q.setdefault(r.query_id, []).append(r)
    for qid, es in by_q.items():
        assert sorted(e.rank for e in es) == list(range(1, len(es) + 1)), qid
        es_sorted = sorted(es, key=lambda e: e.rank)
        key = [(-e.cos_sim, e.neighbor_id) for e in es_sorted]
        assert key == sorted(key), qid


def test_docs_ann_ivf_recall_floor_vs_brute(spark, sf_dir):
    """The scale-path text→ANN capstone must recover most of its own
    yardstick's exact top-3 (measured 0.85-0.86 on the fixtures —
    hashed doc vectors cluster by template, so 4-probe IVF recall sits
    far above the uniform-embedding adversarial case)."""
    from voter_gateway_spark.queries import QUERIES

    brute = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["docs_ann_topk"](spark, sf_dir).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["docs_ann_ivf_topk"](spark, sf_dir).collect()
    }
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.75, recall
    # the 1-bit rung: templated docs collapse to identical sign
    # patterns (the adversarial case for binary codes), so its floor
    # sits below IVF's — the 96-candidate pool holds 0.74-0.79 on the
    # fixtures, and the pool is the documented lever
    binary = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["docs_ann_binary_topk"](spark, sf_dir).collect()
    }
    b_recall = len(brute & binary) / len(brute)
    assert b_recall >= 0.6, b_recall


def test_pq_index_probe_equals_inquery_and_collapse(spark, sf_dir, tmp_path):
    """The persisted PQ index (build_pq_index/query_pq_index) must be
    bit-identical to the in-query ivfpq_topk on the same geometry —
    the contract that lets docs_ann_pq_index_probe share the in-query
    capstone's oracle — and the probe's query-side collapse must be
    output-preserving on a replicated query set."""
    from voter_gateway_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(60)
    dup = emb.crossJoin(spark.range(5).select(F.col("id").alias("_r"))).select(
        (F.col("vec_id") + F.col("_r") * 1000000).alias("vec_id"), "embedding"
    )
    p = str(tmp_path / "pqidx")
    similarity.build_pq_index(
        dup, p, m=8, ks=16, pq_iters=1, n_centroids=16, coarse_iters=0
    )
    qs = dup.where(F.col("vec_id") % 10 == 0)
    collapsed = sorted(
        tuple(r)
        for r in similarity.query_pq_index(
            spark, p, qs, k=5, collapse_exact=True
        ).collect()
    )
    plain = sorted(
        tuple(r)
        for r in similarity.query_pq_index(
            spark, p, qs, k=5, collapse_exact=False
        ).collect()
    )
    inquery = sorted(
        tuple(r)
        for r in similarity.ivfpq_topk(
            qs, dup, k=5, m=8, ks=16, n_centroids=16, coarse_iters=0
        ).collect()
    )
    assert collapsed == plain == inquery
    assert len(collapsed) > 0


def test_pq_index_append_guards(spark, sf_dir, tmp_path):
    """append_to_pq_index must reject geometry-mismatched batches
    loudly (silent wrong ADC otherwise) and no-op on empty batches;
    appended vectors must be probe-visible."""
    from voter_gateway_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where(F.col("vec_id") % 5 == 0)
    p = str(tmp_path / "pq_incr")
    similarity.build_pq_index(
        base, p, m=8, ks=16, pq_iters=1, n_centroids=16, coarse_iters=0
    )
    # wrong dim rejects
    bad = batch.select(
        "vec_id", F.slice("embedding", 1, 7).alias("embedding")
    )
    with pytest.raises(ValueError, match="geometry"):
        similarity.append_to_pq_index(spark, p, bad)
    # empty batch no-ops
    similarity.append_to_pq_index(spark, p, batch.where(F.lit(False)))
    before = spark.read.parquet(f"{p}/codes").count()
    similarity.append_to_pq_index(spark, p, batch)
    after = spark.read.parquet(f"{p}/codes").count()
    assert after == before + batch.count()
    # appended ids are probe-visible
    qs = batch.limit(8)
    got = similarity.query_pq_index(spark, p, qs, k=5, exclude_self=False)
    ids = {r.neighbor_id for r in got.collect()}
    assert ids & {r.vec_id for r in batch.collect()}


def test_pagerank_matches_integer_reference(spark):
    """similarity.pagerank must equal a pure-python rendering of the
    same integer algorithm exactly (BIGINT units end to end — no
    float enters the iteration), and the hub of a star graph must
    out-rank its leaves."""
    # star: 1..4 -> 0, plus 0 -> 1 (no dangling mass from the hub)
    edge_rows = [(1, 0), (2, 0), (3, 0), (4, 0), (0, 1)]
    edges = spark.createDataFrame(edge_rows, "src bigint, dst bigint")
    nodes = spark.createDataFrame([(i,) for i in range(5)], "node bigint")
    got = {
        r.node: r.rank_units
        for r in similarity.pagerank(edges, nodes, iters=3).collect()
    }

    u, n = 1_000_000_000_000, 5
    outd = {}
    for s, _ in edge_rows:
        outd[s] = outd.get(s, 0) + 1
    r = {v: u // n for v in range(n)}
    tele = (u * 3) // (20 * n)
    for _ in range(3):
        s = {v: 0 for v in range(n)}
        for a, b in edge_rows:
            s[b] += r[a] // outd[a]
        r = {v: tele + (17 * s[v]) // 20 for v in range(n)}
    assert got == r, (got, r)
    assert got[0] > got[1] > got[2] == got[3] == got[4]
    # mass conservation up to floor losses: <= 1 unit per division
    assert abs(sum(got.values()) - u) < (n + len(edge_rows) + 2) * 3


def test_rrf_fusion_hand_arithmetic_and_consensus(spark):
    """RRF on hand-built rankings must equal 1/(60+r) sums computed by
    hand, a consensus candidate (mid-ranked by BOTH methods) must beat
    a single method's favorite, and a method missing a candidate
    contributes exactly zero."""
    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id bigint, neighbor_id bigint, rank int",
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2), (1, 10, 3)],
        "query_id bigint, neighbor_id bigint, rank int",
    )
    got = {
        r.neighbor_id: (r.rank, r.rrf_score)
        for r in similarity.rrf_fusion([("a", a), ("b", b)], k=4).collect()
    }
    exp = {
        10: 1 / 61 + 1 / 63,
        11: 1 / 62 + 1 / 61,
        12: 1 / 63,        # only method a
        13: 1 / 62,        # only method b
    }
    for nid, score in exp.items():
        assert got[nid][1] == round(score, 9), (nid, got[nid], score)
    order = [nid for nid, _ in sorted(got.items(), key=lambda kv: kv[1][0])]
    # consensus: 11 (ranks 2+1) beats 10 (ranks 1+3); singles trail,
    # 13 (rank 2) ahead of 12 (rank 3)
    assert order == [11, 10, 13, 12], order


def test_personalized_pagerank_reference_and_seed_affinity(spark, sf_dir):
    """The seeded form must equal the pure-python integer algorithm on
    a toy graph (teleport only to seeds), and on the fixture the
    label-0 seed set's OWN class must rank higher among non-seeds than
    other labels — the seed-expansion signal the operator exists for."""
    edge_rows = [(1, 0), (2, 0), (3, 0), (4, 0), (0, 1)]
    edges = spark.createDataFrame(edge_rows, "src bigint, dst bigint")
    nodes = spark.createDataFrame([(i,) for i in range(5)], "node bigint")
    seeds = spark.createDataFrame([(1,), (2,)], "node bigint")
    got = {
        r.node: r.rank_units
        for r in similarity.pagerank(edges, nodes, iters=3, seeds=seeds).collect()
    }
    u, n_seeds = 1_000_000_000_000, 2
    outd = {}
    for s, _ in edge_rows:
        outd[s] = outd.get(s, 0) + 1
    seed_set = {1, 2}
    r = {v: (u // n_seeds if v in seed_set else 0) for v in range(5)}
    tele = {v: ((u * 3) // (20 * n_seeds) if v in seed_set else 0) for v in range(5)}
    for _ in range(3):
        s = {v: 0 for v in range(5)}
        for a, b in edge_rows:
            s[b] += r[a] // outd[a]
        r = {v: tele[v] + (17 * s[v]) // 20 for v in range(5)}
    assert got == r, (got, r)
    # mass flows from seeds into the hub, never to unreachable leaves
    assert got[0] > 0 and got[3] == got[4] == 0

    from voter_gateway_spark.queries import QUERIES

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    ppr = {r.vec_id: r.rank_units for r in QUERIES["embed_ppr_seeds"](spark, sf_dir).collect()}
    seed_ids = {v for v, l in labels.items() if l == 0}
    u = 1_000_000_000_000
    # seeds collectively retain MORE than their uniform share (10% of
    # the corpus holds ~29% of the mass on the fixture): proximity to
    # the teleport set is the signal, even as damping pushes most mass
    # one hop out
    assert sum(ppr[v] for v in seed_ids) > (len(seed_ids) * u) // len(ppr)
    other = [ppr[v] for v, l in labels.items() if l != 0]
    # the non-seed distribution must be sharply non-uniform: nodes far
    # from every seed get (near-)zero while seed-adjacent nodes carry
    # real mass — that spread IS the selection signal
    assert min(other) == 0 and max(other) > u // (100 * len(ppr))


def test_docs_ppr_expansion_seed_and_spread_contract(spark, sf_dir):
    """The curation-expansion composite: seeds are exactly the
    non-empty English docs, non-seed mass exists and is sharply
    non-uniform (the selection signal), and every non-zero-vector doc
    appears exactly once."""
    from voter_gateway_spark.queries import QUERIES

    rows = QUERIES["docs_ppr_expansion"](spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    en_nonempty = {
        d.doc_id for d in docs
        if d.lang == "en" and d.text is not None and d.text.split()
    }
    assert {r.doc_id for r in rows if r.is_seed == 1} == en_nonempty
    assert len({r.doc_id for r in rows}) == len(rows)
    non_seed = [r.rank_units for r in rows if r.is_seed == 0]
    assert non_seed and max(non_seed) > 0
    assert min(non_seed) < max(non_seed) // 10


def test_triangle_stats_hand_graph(spark):
    """triangle_stats must count each triangle once, attribute it to
    all three corners, and compute the clustering coefficient from the
    undirected-closure degree — pinned on a hand graph: K3 {0,1,2}
    plus a pendant 2-3, with a duplicate and a reversed edge that the
    canonicalization must collapse."""
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 0), (2, 3), (0, 1)],
        "src bigint, dst bigint",
    )
    got = {r.node: (r.degree, r.triangles, r.clustering)
           for r in similarity.triangle_stats(edges).collect()}
    assert got[0] == (2, 1, 1.0)
    assert got[1] == (2, 1, 1.0)
    # node 2: degree 3 (0,1,3), one triangle -> 2*1/(3*2)
    assert got[2] == (3, 1, round(2 / 6, 6))
    assert got[3] == (1, 0, 0.0)


# The MinHash producers finish inputs under MINHASH_DRIVER_MAX_ROWS on the
# driver, so every parity test above that calls them on a small input
# checks the driver path. These cases rerun those tests, unedited, with
# the gate at 0: the distributed collapse, band join and verification
# keep their real-data checks (incremental vs full run, band index vs
# in-memory probe, collapsed vs expanded contract).
MINHASH_PARITY_TESTS = {
    f.__name__ + (f"[{kw['prefix_len']}]" if kw else ""): (f, kw)
    for f, kw in (
        (test_pair_producers_survive_short_docs, {}),
        (test_minhash_lsh_finds_near_dups, {}),
        (test_incremental_minhash_pairs_bipartite_only, {}),
        (test_incremental_pairs_equal_full_run_cross_pairs, {}),
        (test_band_index_roundtrip_matches_inmemory, {}),
        (test_band_index_auto_prefix_zero_roundtrip, {}),
        (test_band_index_packed_layout_roundtrip_with_append, {"prefix_len": 1}),
        (test_band_index_packed_layout_roundtrip_with_append, {"prefix_len": None}),
        (test_collapsed_contract_equivalence_minhash_simhash, {}),
        (test_incremental_probe_corpus_collapsed_mode, {}),
    )
}


@pytest.mark.parametrize("name", sorted(MINHASH_PARITY_TESTS))
def test_minhash_parity_on_distributed_path(spark, sf_dir, tmp_path, monkeypatch, name):
    import inspect

    test, kw = MINHASH_PARITY_TESTS[name]
    monkeypatch.setattr(dedup_ops, "MINHASH_DRIVER_MAX_ROWS", 0)
    fixtures = {"spark": spark, "sf_dir": sf_dir, "tmp_path": tmp_path}
    params = inspect.signature(test).parameters
    test(**{p: fixtures[p] for p in params if p not in kw}, **kw)
