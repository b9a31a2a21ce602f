"""Round-7 operators: Bloom-prefiltered exact admission, leakage-safe
cluster-atomic splits, JSONL round-trip fidelity, JSON props extraction.
"""

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from voter_gateway_spark.operators import dedup_ops
from voter_gateway_spark.operators.dedup_ops import (
    bloom_admission,
    bloom_maybe_flags,
    build_bloom_words,
)
from voter_gateway_spark.sources.jsonl_source import JSONLSource


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def _admit_expected(corpus, batch):
    return batch.join(corpus.select("text").distinct(), "text", "left_anti")


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


class TestBloomAdmission:
    def test_matches_plain_anti_join(self, spark):
        rows = [(i, f"document body {i % 37}") for i in range(200)]
        corpus = _docs(spark, rows[:120])
        batch = _docs(spark, [(i + 1000, t) for i, t in rows[100:]])
        got = bloom_admission(corpus, batch, "doc_id", "text")
        assert _ids(got) == _ids(_admit_expected(corpus, batch))

    def test_exact_under_saturation(self, spark):
        """An undersized bloom (every bit set) degrades pruning, never
        correctness: no false negatives means every true duplicate is
        still flagged maybe and rejected by the verify join."""
        rows = [(i, f"text {i}") for i in range(300)]
        corpus = _docs(spark, rows[:200])
        batch = _docs(spark, [(i + 5000, t) for i, t in rows[100:]])
        for n_bits, n_hashes in [(1 << 16, 1), (1 << 16, 13)]:
            got = bloom_admission(
                corpus, batch, "doc_id", "text", n_bits=n_bits, n_hashes=n_hashes
            )
            assert _ids(got) == _ids(_admit_expected(corpus, batch))

    def test_dup_heavy_replication(self, spark):
        """Replicated corpora (the collapse-gate stress shape): many
        doc_ids per distinct text on both sides."""
        corpus = _docs(
            spark, [(i, f"dup body {i % 5}") for i in range(100)]
        )
        batch = _docs(
            spark,
            [(i + 900, f"dup body {i % 9}") for i in range(90)],
        )
        got = bloom_admission(corpus, batch, "doc_id", "text")
        assert _ids(got) == _ids(_admit_expected(corpus, batch))

    def test_no_false_negatives_probe_level(self, spark):
        """Probe-level contract behind the exactness proof: every batch
        fingerprint that IS in the corpus must be flagged maybe, at any
        sizing."""
        corpus = _docs(spark, [(i, f"t{i}") for i in range(50)])
        batch = _docs(spark, [(i + 100, f"t{i}") for i in range(50)])
        fp = F.xxhash64(F.col("text"))
        for n_bits in (1 << 16, 1 << 20):
            words = build_bloom_words(
                corpus.select(fp.alias("_fp")), "_fp", n_bits, 7
            )
            flags = bloom_maybe_flags(
                batch.withColumn("_bfp", fp), "_bfp", words, n_bits, 7
            )
            assert flags.where(~F.col("_maybe")).count() == 0

    def test_prunes_definite_new(self, spark):
        """At the default sizing a disjoint batch should be admitted
        almost entirely without reaching the verify join (fpp ~1%)."""
        corpus = _docs(spark, [(i, f"corpus only {i}") for i in range(400)])
        batch = _docs(spark, [(i, f"batch only {i}") for i in range(200)])
        fp = F.xxhash64(F.col("text"))
        n_bits = dedup_ops._next_pow2(int(400 * 9.6))
        words = build_bloom_words(corpus.select(fp.alias("_fp")), "_fp", n_bits, 7)
        flags = bloom_maybe_flags(
            batch.withColumn("_bfp", fp), "_bfp", words, n_bits, 7
        )
        assert flags.where(F.col("_maybe")).count() <= 10  # ~1% fpp of 200

    def test_duplicate_ids_do_not_mix_fingerprints(self, spark):
        """Regression (r7 code review): the probe is keyed on the
        FINGERPRINT, not the row id — a batch carrying two different
        texts under one id must reject exactly the duplicate one, and
        duplicate id+text pairs must all be admitted/rejected
        together."""
        corpus = _docs(spark, [(0, "in corpus")])
        batch = _docs(
            spark,
            [(1, "in corpus"), (1, "brand new"), (2, "brand new")],
        )
        got = sorted(
            (r.doc_id, r.text)
            for r in bloom_admission(corpus, batch, "doc_id", "text").collect()
        )
        assert got == [(1, "brand new"), (2, "brand new")]

    def test_null_ids_are_admitted(self, spark):
        """Regression (r7 code review): NULL row ids must flow through
        admission like any other row — membership is a property of the
        text."""
        corpus = _docs(spark, [(0, "in corpus")])
        batch = _docs(
            spark, [(None, "fresh text"), (None, "in corpus"), (5, "fresh text")]
        )
        rows = bloom_admission(corpus, batch, "doc_id", "text").collect()
        got = sorted(((r.doc_id, r.text) for r in rows), key=str)
        assert got == sorted([(None, "fresh text"), (5, "fresh text")], key=str)

    def test_plan_is_jvm_native(self, spark):
        corpus = _docs(spark, [(i, f"t{i}") for i in range(50)])
        batch = _docs(spark, [(i + 100, f"t{i % 60}") for i in range(50)])
        plan = (
            bloom_admission(corpus, batch, "doc_id", "text", n_bits=1 << 16)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan
        assert "ArrowEval" not in plan
        assert "CartesianProduct" not in plan

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        corpus_texts=st.lists(
            st.text(alphabet="abcdef ", min_size=0, max_size=8),
            min_size=1,
            max_size=30,
        ),
        batch_texts=st.lists(
            st.text(alphabet="abcdef ", min_size=0, max_size=8),
            min_size=1,
            max_size=30,
        ),
        n_bits_log2=st.integers(min_value=16, max_value=18),
        n_hashes=st.integers(min_value=1, max_value=9),
    )
    def test_property_equals_anti_join(
        self, spark_prop, corpus_texts, batch_texts, n_bits_log2, n_hashes
    ):
        corpus = _docs(spark_prop, list(enumerate(corpus_texts)))
        batch = _docs(
            spark_prop, [(i + 10_000, t) for i, t in enumerate(batch_texts)]
        )
        got = bloom_admission(
            corpus, batch, "doc_id", "text",
            n_bits=1 << n_bits_log2, n_hashes=n_hashes,
        )
        assert _ids(got) == _ids(_admit_expected(corpus, batch))


@pytest.fixture
def broadcast_threshold(spark):
    """Setter for spark.sql.autoBroadcastJoinThreshold, restored after
    the test."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    yield lambda v: spark.conf.set(key, str(v))
    spark.conf.set(key, old)


def _parquet_docs(spark, tmp_path, name, rows):
    """Docs read back from parquet: Catalyst then knows their size,
    which frames built from Python rows do not."""
    path = str(tmp_path / name)
    _docs(spark, rows).write.parquet(path)
    return spark.read.parquet(path)


def _rows(df):
    return sorted(((r.doc_id, r.text) for r in df.collect()), key=str)


class TestDirectAdmission:
    """bloom_admission takes one broadcast anti-join while the corpus is
    under the broadcast threshold; both plans must admit the same rows."""

    def _fixture(self, spark, tmp_path):
        corpus = _parquet_docs(
            spark,
            tmp_path,
            "corpus",
            [(i, f"body {i % 23}") for i in range(60)] + [(60, None), (61, "")],
        )
        batch = _parquet_docs(
            spark,
            tmp_path,
            "batch",
            [(100 + i, f"body {i % 31}") for i in range(40)]  # exact dups + new
            + [(200, "fresh"), (201, "fresh"), (202, "body 5")]  # dup batch texts
            + [(203, None), (204, None), (None, "fresh"), (205, "")],
        )
        return corpus, batch

    def test_direct_equals_bloom(self, spark, tmp_path, broadcast_threshold):
        corpus, batch = self._fixture(spark, tmp_path)
        assert dedup_ops.admission_path(corpus, "text") == "direct"
        direct = _rows(bloom_admission(corpus, batch, "doc_id", "text"))
        broadcast_threshold(-1)
        assert dedup_ops.admission_path(corpus, "text") == "bloom"
        bloom = _rows(bloom_admission(corpus, batch, "doc_id", "text"))
        assert direct == bloom
        assert direct == _rows(_admit_expected(corpus, batch))
        # NULL texts are always admitted; so is every copy of a new text
        got = set(direct)
        assert {(203, None), (204, None)} <= got
        assert {(200, "fresh"), (201, "fresh"), (None, "fresh")} <= got
        assert not any(t == "body 5" or t == "" for _, t in got)

    def test_path_follows_threshold(self, spark, tmp_path, broadcast_threshold):
        corpus, batch = self._fixture(spark, tmp_path)
        size = int(
            str(
                corpus.select("text")._jdf.queryExecution()
                .optimizedPlan().stats().sizeInBytes()
            )
        )
        broadcast_threshold(size)
        assert dedup_ops.admission_path(corpus, "text") == "direct"
        direct = _rows(bloom_admission(corpus, batch, "doc_id", "text"))
        broadcast_threshold(size - 1)
        assert dedup_ops.admission_path(corpus, "text") == "bloom"
        assert _rows(bloom_admission(corpus, batch, "doc_id", "text")) == direct
        # a corpus Catalyst cannot size, or a prebuilt word table,
        # always takes the bloom path
        broadcast_threshold(64 << 20)
        assert dedup_ops.admission_path(_docs(spark, [(0, "x")]), "text") == "bloom"
        index = dedup_ops.build_bloom_index(corpus, "text")
        assert dedup_ops.admission_path(corpus, "text", index) == "bloom"
        assert _rows(bloom_admission(corpus, batch, "doc_id", "text", words=index)) == direct

    def test_direct_plan_is_one_broadcast_anti_join(self, spark, tmp_path):
        corpus, batch = self._fixture(spark, tmp_path)
        plan = (
            bloom_admission(corpus, batch, "doc_id", "text")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert "xxhash64" not in plan


class TestLeakageSafeSplit:
    def _clustered_assignment(self, spark, docs):
        """Per-doc split assignment exactly as split_leakage_safe
        computes it (cluster-id hash bucket)."""
        pairs = dedup_ops.ngram_jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.12
        )
        comp = dedup_ops.connected_components(pairs).select(
            F.col("id").alias("doc_id"), "component"
        )
        clustered = docs.join(comp, "doc_id", "left").withColumn(
            "component", F.coalesce("component", F.col("doc_id"))
        )
        bucket = dedup_ops.md5_hash60("component") % 100
        split = (
            F.when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test")
        )
        return clustered.withColumn("split", split)

    def test_clusters_never_straddle_splits(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        assigned = self._clustered_assignment(spark, docs)
        straddlers = (
            assigned.groupBy("component")
            .agg(F.countDistinct("split").alias("n_splits"))
            .where(F.col("n_splits") > 1)
        )
        assert straddlers.count() == 0

    def test_members_follow_representative(self, spark):
        """Synthetic near-dup pair whose raw doc_id hashes land in
        DIFFERENT buckets must still share a split."""
        base = (
            "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon"
        )
        docs = spark.createDataFrame(
            [(1, base, "en"), (2, base + " phi", "en"), (77, "totally unrelated text here", "en")],
            "doc_id BIGINT, text STRING, lang STRING",
        )
        assigned = self._clustered_assignment(spark, docs).collect()
        by_id = {r.doc_id: r for r in assigned}
        assert by_id[1].component == by_id[2].component
        assert by_id[1].split == by_id[2].split

    def test_catalog_counts_consistent(self, spark, sf_dir):
        from voter_gateway_spark.queries import QUERIES

        out = QUERIES["split_leakage_safe"](spark, sf_dir).collect()
        docs_total = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        assert sum(r.n_docs for r in out) == docs_total
        assert all(r.n_clusters <= r.n_docs for r in out)


class TestJSONLRoundTrip:
    NASTY = [
        (1, "plain ascii"),
        (2, 'quotes " and \\ backslash'),
        (3, "embedded\nnewline\tand tab"),
        (4, "unicode: héllo wörld — 中文 🚀"),
        (5, ""),
        (6, None),
        (7, "trailing space "),
    ]

    def test_text_survives_bytes_exact(self, spark, tmp_path):
        df = spark.createDataFrame(self.NASTY, "doc_id BIGINT, text STRING")
        path = str(tmp_path / "jsonl")
        df.write.mode("overwrite").json(path)
        back = JSONLSource(path, schema="doc_id BIGINT, text STRING").read(spark)
        got = {r.doc_id: r.text for r in back.collect()}
        assert got == dict(self.NASTY)

    def test_catalog_query_matches_direct_aggregate(self, spark, sf_dir):
        from voter_gateway_spark.queries import QUERIES

        out = QUERIES["jsonl_roundtrip_documents"](spark, sf_dir)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        checksum = F.conv(
            F.substring(F.md5(F.col("text").cast("binary")), 1, 10), 16, 10
        ).cast("bigint")
        direct = docs.groupBy("lang", "source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum(checksum).cast("bigint").alias("text_checksum"),
        )
        key = lambda r: (r.lang, r.source)  # noqa: E731
        assert sorted(out.collect(), key=key) == sorted(direct.collect(), key=key)


class TestEventsPropsExtract:
    def test_malformed_props_parse_to_null(self, spark):
        ev = spark.createDataFrame(
            [
                (1, "view", '{"k": 10}'),
                (2, "view", "not json at all"),
                (3, "view", '{"k": "str-not-int"}'),
                (4, "buy", None),
                (5, "buy", '{"k": 7}'),
            ],
            "event_id BIGINT, event_type STRING, props STRING",
        )
        k = F.from_json("props", "k INT").getField("k")
        got = {
            r.event_type: (r.n, r.parsed)
            for r in ev.select("event_type", k.alias("_k"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.count("_k").alias("parsed"))
            .collect()
        }
        assert got == {"view": (3, 1), "buy": (2, 1)}

    def test_catalog_query_runs(self, spark, sf_dir):
        from voter_gateway_spark.queries import QUERIES

        rows = QUERIES["events_props_extract"](spark, sf_dir).collect()
        assert rows and all(r.n_parsed == r.n_events for r in rows)
