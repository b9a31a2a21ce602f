"""fuzzy_claiming_rounds: the driver claiming path for a small residual
against the distributed rounds. Both must return identical rows; the
gate picks the driver only when the collected residual is provably
small and well-formed."""

import random

import pytest
from pyspark.sql import Row

from voter_gateway_spark.operators import fuzzy
from voter_gateway_spark.plans import MatchPlan


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _frame(spark, rows, schema):
    """Fixture frames are checkpointed: the driver path's collect reads
    its inputs in one task, which for frames of Python rows means one
    serial Python-worker pass per partition (production inputs are
    parquet or checkpoints)."""
    return spark.createDataFrame(rows, schema).localCheckpoint()


@pytest.fixture
def top1_calls(monkeypatch):
    """Spy on top1_fuzzy_match: the distributed path calls it once per
    round, the driver path never."""
    calls = []
    real = fuzzy.top1_fuzzy_match

    def spy(*a, **kw):
        calls.append(a[2])
        return real(*a, **kw)

    monkeypatch.setattr(fuzzy, "top1_fuzzy_match", spy)
    return calls


def _two_column_fixture(spark):
    """Ties on similarity and ids, NULL and empty text, and a second
    round whose outcome depends on round 1's claims: sid 1 and target
    10 leave after round 1, so round 2 hands target 11 to sid 3 (sid 1
    would have won it on `b`)."""
    src = _frame(
        spark,
        [
            Row(id=1, a="jonathan smith", b="12 oak ave"),
            Row(id=2, a="jonathan smith", b=None),
            Row(id=3, a="", b="12 oak ave"),
            Row(id=4, a=None, b="maple street"),
            Row(id=5, a="maria garcia", b="main st"),
            Row(id=6, a="jonathon smyth", b="12 oak avenue"),
            Row(id=7, a="!!!", b=""),
        ],
        "id int, a string, b string",
    )
    tgt = _frame(
        spark,
        [
            Row(id=10, a="jonathan smith", b="x"),
            Row(id=11, a="jonathan smith", b="12 oak ave"),
            Row(id=12, a="", b="12 oak ave"),
            Row(id=13, a=None, b="maple streets"),
            Row(id=14, a="maria garcia", b="main st"),
            Row(id=15, a="!!!", b=""),
        ],
        "id int, a string, b string",
    )
    return src, tgt


def _random_fixture(spark, seed):
    words = ["main", "st", "street", "apt", "oak", "ave", "12", "1", "smith", "jon"]
    rng = random.Random(seed)

    def text():
        k = rng.random()
        if k < 0.1:
            return None
        if k < 0.15:
            return ""
        return " ".join(rng.choice(words) for _ in range(rng.randint(1, 3)))

    def side(n):
        ids = rng.sample(range(100), n)
        return _frame(
            spark, [(f"k{i:02d}", text(), text()) for i in ids], "id string, a string, b string"
        )

    return side(25), side(35)


class TestDriverClaiming:
    def test_gate_boundary_driver_equals_distributed(self, spark, monkeypatch, top1_calls):
        """At DRIVER_MAX_ROWS = N collected rows the driver claims; at
        N − 1 the distributed rounds run; both give the same rows."""
        src, tgt = _two_column_fixture(spark)
        n = src.count() + tgt.count()
        monkeypatch.setattr(fuzzy, "DRIVER_MAX_ROWS", n)
        driver = _rows(fuzzy.fuzzy_claiming_rounds(src, tgt, ["a", "b"], "id", "id"))
        assert top1_calls == []
        monkeypatch.setattr(fuzzy, "DRIVER_MAX_ROWS", n - 1)
        distributed = _rows(fuzzy.fuzzy_claiming_rounds(src, tgt, ["a", "b"], "id", "id"))
        assert top1_calls == ["a", "b"]
        assert driver == distributed
        # sid 6's top target on `b` is 11 (0.667, tie with 12 → lower
        # tid), which sid 3 claims at 1.0; losing a claim does not fall
        # through to the next-best target within a round
        assert driver == [
            (1, 10, 1.0, "a"), (3, 11, 1.0, "b"), (4, 13, 0.8, "b"), (5, 14, 1.0, "a")
        ]

    def test_random_ties_equal_distributed(self, spark, monkeypatch, top1_calls):
        """Seeded texts over a ten-word vocabulary: heavy similarity
        ties, duplicate texts, NULL and empty values, string ids and a
        non-default threshold."""
        src, tgt = _random_fixture(spark, 3)
        args = (src, tgt, ["a", "b"], "id", "id", 0.7)
        driver = _rows(fuzzy.fuzzy_claiming_rounds(*args))
        assert top1_calls == []
        monkeypatch.setattr(fuzzy, "DRIVER_MAX_ROWS", 0)
        distributed = _rows(fuzzy.fuzzy_claiming_rounds(*args))
        assert top1_calls == ["a", "b"]
        assert driver == distributed and driver

    def test_ineligible_residuals_fall_back(self, spark, monkeypatch):
        src, tgt = _two_column_fixture(spark)
        args = (["a", "b"], "id", "id", 0.5)
        assert fuzzy._driver_claims(src, tgt, *args) is not None
        dup = src.unionByName(src.where("id = 1"))
        assert fuzzy._driver_claims(dup, tgt, *args) is None
        assert fuzzy._driver_claims(src, tgt.unionByName(tgt.where("id = 11")), *args) is None
        null_id = src.unionByName(_frame(spark, [(None, "x", "y")], src.schema))
        assert fuzzy._driver_claims(null_id, tgt, *args) is None
        as_double = src.selectExpr("CAST(id AS DOUBLE) AS id", "a", "b")
        assert fuzzy._driver_claims(as_double, tgt, *args) is None
        monkeypatch.setattr(fuzzy, "DRIVER_MAX_PAIRS", 10)
        assert fuzzy._driver_claims(src, tgt, *args) is None

    def test_large_trigram_set_runs_distributed(self, spark, top1_calls):
        rng = random.Random(5)
        long_text = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(800))
        src = _frame(spark, [(1, long_text), (2, "oak ave")], "id int, a string")
        tgt = _frame(spark, [(7, long_text), (8, "oak ave")], "id int, a string")
        n_sets = src.select(fuzzy.trigrams("a").alias("g")).selectExpr("max(size(g))")
        assert n_sets.first()[0] >= fuzzy.DRIVER_MAX_SET
        assert fuzzy._driver_claims(src, tgt, ["a"], "id", "id", 0.5) is None
        got = _rows(fuzzy.fuzzy_claiming_rounds(src, tgt, ["a"], "id", "id"))
        assert top1_calls == ["a"]
        assert got == [(1, 7, 1.0, "a"), (2, 8, 1.0, "a")]

    def test_above_gate_keeps_probes_and_hazard_guard(self, spark, monkeypatch, top1_calls):
        """Over the gate the distributed rounds still run top1_fuzzy_match
        with its dup-fanout probe, and on a dup-free residual the hazard
        guard's exact fanout estimate still fires once its threshold is
        crossed."""
        src = _frame(
            spark, [(i, f"{i} main street apt {i % 7}") for i in range(1, 13)], "id int, a string"
        )
        tgt = _frame(
            spark, [(i, f"{i} main street apt {i % 5}") for i in range(1, 11)], "id int, a string"
        )
        driver = _rows(fuzzy.fuzzy_claiming_rounds(src, tgt, ["a"], "id", "id"))
        estimates = []
        real = fuzzy._index_fanout_estimate

        def spy(s, t):
            estimates.append(real(s, t))
            return estimates[-1]

        monkeypatch.setattr(fuzzy, "_index_fanout_estimate", spy)
        monkeypatch.setattr(fuzzy, "HAZARD_EST_PAIRS", 0)
        monkeypatch.setattr(fuzzy, "DRIVER_MAX_ROWS", 1)
        guarded = _rows(fuzzy.fuzzy_claiming_rounds(src, tgt, ["a"], "id", "id"))
        assert top1_calls == ["a"]
        assert len(estimates) == 1 and estimates[0] > 0
        assert guarded == driver and driver

    def test_match_plan_paths_agree(self, spark, monkeypatch, top1_calls):
        """MatchPlan's fuzzy splice gives the same match state on both
        paths: exact-claimed targets leave the pool, fuzzy winners fill
        the rest under the rule numbers after the exact rules."""
        src, tgt = _two_column_fixture(spark)
        src = src.withColumn("key", (src.id == 5).cast("int"))
        tgt = tgt.withColumn("key", (tgt.id == 14).cast("int") * 2 - 1)

        def matches():
            mp = MatchPlan(src, tgt, target_pk="id", source_id="id")
            mp.find_exact_matches(["key"])
            mp.fuzzy_match_column("a", "b")
            return _rows(mp.matches().select("id", "_target_id", "_match_rule"))

        driver = matches()
        assert top1_calls == []
        monkeypatch.setattr(fuzzy, "DRIVER_MAX_ROWS", 0)
        assert matches() == driver
        assert top1_calls == ["a", "b"]
        # sid 5 takes target 14 by the exact rule, so nothing claims
        # 14 by fuzzy; the rest is the fuzzy-only outcome above
        assert [r for r in driver if r[1] is not None] == [
            (1, 10, 2), (3, 11, 3), (4, 13, 3), (5, 14, 1)
        ]
