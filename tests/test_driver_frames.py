"""The driver paths' result frames and the id types their gates admit.

- `session.local_frame` equals `createDataFrame(rows, schema)` in rows
  and schema, is a `LocalRelation` whose `collect()` runs no job, and
  needs no Arrow conf;
- every driver path (MinHash counts, components, relabel, fuzzy
  claims) returns a plan with no Python-RDD scan (`LogicalRDD`);
- the MinHash collect hashes each side's texts once;
- ids whose Python order is not Spark's (a `UTF8_LCASE` string) run
  the distributed components rounds, and both components functions
  equal their distributed path on them.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from voter_gateway_spark import session
from voter_gateway_spark.operators import dedup_ops, fuzzy
from voter_gateway_spark.session import local_frame

SCHEMA = T.StructType(
    [
        T.StructField("big", T.LongType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("s", T.StringType()),
        T.StructField("d", T.DoubleType()),
    ]
)
ROWS = [
    (1, 2, "plain", 0.5),
    (-(2**63), 2**31 - 1, "é☃ Zürich 東京", -1e300),
    (2**63 - 1, -(2**31), "", 1 / 3),
    (None, None, None, None),
    (7, None, "x", None),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_frame_equals_create_data_frame(spark, rows):
    got = local_frame(spark, rows, SCHEMA)
    want = spark.createDataFrame(rows, SCHEMA)
    assert got.schema == want.schema == SCHEMA
    assert got.collect() == want.collect()


def test_local_frame_is_a_local_relation_read_without_jobs(spark, count_jobs):
    df = local_frame(spark, ROWS, SCHEMA)
    plan = _plan(df)
    assert plan.startswith("LocalRelation") and "LogicalRDD" not in plan
    with count_jobs() as n:
        rows = df.collect()
    assert len(rows) == len(ROWS) and n[0] == 0
    # the list form is a Python-RDD scan: one job per read
    listed = spark.createDataFrame(ROWS, SCHEMA)
    with count_jobs() as n:
        listed.collect()
    assert n[0] == 1


def test_local_frame_needs_no_arrow_conf(spark):
    other = spark.newSession()
    other.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    df = local_frame(other, ROWS, SCHEMA)
    assert _plan(df).startswith("LocalRelation")
    assert df.collect() == spark.createDataFrame(ROWS, SCHEMA).collect()


WORDS = "amber basil cedar delta ember fjord grove harbor island jasper".split()


def _docs(spark, ids):
    rows = [(i, " ".join(f"{w}{i // 2}" for w in WORDS)) for i in ids]
    return spark.createDataFrame(rows, "doc_id bigint, text string").localCheckpoint()


def test_minhash_driver_paths_return_local_plans_and_hash_once(spark, monkeypatch):
    """Both producers take the driver path and return a frame with no
    Python-RDD scan; the one collect under them holds one md5 pass per
    side (the size gate reads the staged hash set, not a second copy)."""
    collected = []
    real = session.small_rows

    def spy(df, max_rows):
        collected.append(_plan(df))
        return real(df, max_rows)

    monkeypatch.setattr(session, "small_rows", spy)
    corpus, new = _docs(spark, range(8)), _docs(spark, range(6, 12))
    for out in (
        dedup_ops.minhash_lsh_pairs(corpus, "doc_id", "text", threshold=0.3),
        dedup_ops.incremental_minhash_pairs(new, corpus, "doc_id", "text", threshold=0.3),
    ):
        plan = _plan(out)
        assert "LocalRelation" in plan and "LogicalRDD" not in plan
        assert out.count() > 0
    assert [p.count("md5(") for p in collected] == [1, 2]


def test_components_driver_paths_return_local_plans(spark):
    def ids(rows, *names):
        fields = [T.StructField(n, T.LongType()) for n in names]
        return local_frame(spark, rows, T.StructType(fields))

    labels = dedup_ops.connected_components(ids([(3, 4), (4, 5), (9, 8)], "id_a", "id_b"))
    assert "LogicalRDD" not in _plan(labels)
    assert sorted(labels.collect()) == [(3, 3), (4, 3), (5, 3), (8, 8), (9, 8)]

    out = dedup_ops.incremental_component_assign(
        ids([(10, 10), (11, 10), (20, 20)], "id", "component"),
        ids([(5,), (6,)], "id"),
        ids([(5, 11), (5, 20)], "new_id", "corpus_id"),
        ids([(5, 6)], "id_a", "id_b"),
    )
    assert "LogicalRDD" not in _plan(out)
    assert sorted(out.collect()) == [(5, 5), (6, 5), (10, 5), (11, 5), (20, 5)]


def test_fuzzy_driver_claims_return_a_local_plan(spark):
    schema = "id int, a string"
    src = spark.createDataFrame([(1, "12 oak avenue"), (2, "9 elm st")], schema)
    tgt = spark.createDataFrame([(7, "12 oak avenue"), (8, "9 elm street")], schema)
    claims = fuzzy._driver_claims(src, tgt, ["a"], "id", "id", 0.5)
    assert claims is not None and "LogicalRDD" not in _plan(claims)
    assert sorted(map(tuple, claims.collect()))[0] == (1, 7, 1.0, "a")


def _lcase(spark, rows, names):
    """A frame of string columns collated UTF8_LCASE, where 'a' < 'B'
    (Python's `<` puts 'B' first)."""
    df = spark.createDataFrame(rows, ", ".join(f"{n} string" for n in names))
    return df.select(*(F.collate(n, "UTF8_LCASE").alias(n) for n in names))


def test_collated_ids_run_the_distributed_components_rounds(spark, monkeypatch):
    pairs = _lcase(spark, [("B", "c"), ("a", "x"), ("c", "a")], ["id_a", "id_b"])
    assert not session.python_ordered(pairs.schema["id_a"].dataType)
    got = sorted(map(tuple, dedup_ops.connected_components(pairs).collect()))
    want = sorted(map(tuple, dedup_ops.connected_components(pairs, driver_max_edges=0).collect()))
    assert got == want == [("B", "a"), ("a", "a"), ("c", "a"), ("x", "a")]

    def assign():
        out = dedup_ops.incremental_component_assign(
            _lcase(spark, [("a", "a"), ("x", "a")], ["id", "component"]),
            _lcase(spark, [("B",)], ["id"]),
            _lcase(spark, [("B", "x")], ["new_id", "corpus_id"]),
            _lcase(spark, [("B", "B")], ["id_a", "id_b"]),
        )
        return sorted(map(tuple, out.collect()))

    got = assign()
    monkeypatch.setattr(dedup_ops, "DRIVER_MAX_EDGES", 0)
    assert got == assign() == [("B", "a"), ("a", "a"), ("x", "a")]
