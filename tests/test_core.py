"""Core behavioral tests: schema templating, staging, matching, merging,
dedup, audits — real DataFrames, no codegen-text mocking (inverting the
reference's test pyramid per SURVEY §5)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from voter_gateway_spark.audit import (
    column_coverage,
    key_is_unique,
    merge_audit,
    value_distribution,
)
from voter_gateway_spark.functions import (
    election_name,
    is_email_address_valid,
    needs_geocoding,
)
from voter_gateway_spark.plans import (
    DedupPlan,
    MatchPlan,
    MergeInvariantError,
    MergePlan,
    WorkingFrame,
)
from voter_gateway_spark.plans.staging import copy_column
from voter_gateway_spark.schema import render_template


def test_render_template():
    assert render_template("$S::int", source="age") == "`age`::int"
    assert render_template("$T < $S", source="s.id", target="t.id") == "`t`.`id` < `s`.`id`"


def test_working_frame_map_constrain_group(spark):
    src = spark.createDataFrame(
        [("1", "alice", "x"), ("2", "bob", ""), ("2", "bob", "y"), ("3", None, "z")],
        ["id", "name", "tag"],
    )
    wf = (
        WorkingFrame(src)
        .map_column("id", type="INT")
        .map_column("name_up", from_col="name", as_expr="upper($S)")
        .map_literal("state", "CA")
        .add_column("score", "DOUBLE")
        .constrain_column("name", "$S IS NOT NULL")
        .group_records_by("`id`")
    )
    out = wf.build().orderBy("id").collect()
    assert [r.id for r in out] == [1, 2]
    assert out[0].name_up == "ALICE"
    assert out[0].state == "CA"
    assert out[0].score is None
    assert dict(wf.build().dtypes)["id"] == "int"


def test_match_cascade_priority_and_tiebreak(spark):
    source = spark.createDataFrame(
        [Row(sid=1, a="x", b="p"), Row(sid=2, a="y", b="q"), Row(sid=3, a="zz", b="q")],
        schema="sid int, a string, b string",
    )
    target = spark.createDataFrame(
        [Row(id=10, a="x", b="miss"), Row(id=20, a="y", b="q"), Row(id=30, a="nope", b="q"), Row(id=5, a="x", b="other")],
        schema="id int, a string, b string",
    )
    mp = MatchPlan(source, target, target_pk="id", source_id="sid")
    mp.find_exact_matches(["a"])   # rule 1
    mp.find_exact_matches(["b"])   # rule 2
    got = {r.sid: (r._target_id, r._match_rule) for r in mp.matches().collect()}
    # sid=1: rule1 matches ids 10 and 5 -> deterministic min pk 5
    assert got[1] == (5, 1)
    # sid=2: rule1 matches 20 (rule priority beats rule2's 20/30)
    assert got[2] == (20, 1)
    # sid=3: only rule2 matches (b=q -> ids 20,30) -> min 20
    assert got[3] == (20, 2)


def test_merge_update_insert_and_routing(spark):
    target = spark.createDataFrame(
        [Row(id=1, name="old", note="keep", cnt=5)],
        schema="id int, name string, note string, cnt int",
    )
    source = spark.createDataFrame(
        [Row(sid=1, id=1, name="new", note="src-note", cnt=2),
         Row(sid=2, id=99, name="fresh", note="n2", cnt=7)],
        schema="sid int, id int, name string, note string, cnt int",
    )
    mp = MatchPlan(source, target, target_pk="id", source_id="sid")
    mp.find_exact_matches(["id"])
    matches = mp.matches()

    plan = (
        MergePlan(target_pk="id")
        .preserve_column("note")            # not updated, still inserted
        .merge_column_as("cnt", "$T + $S")  # fold counts
    )
    res = plan.execute(matches, target)
    rows = {r.id: r for r in res.target.collect()}
    assert rows[1].name == "new"
    assert rows[1].note == "keep"      # preserved on update
    assert rows[1].cnt == 7            # 5 + 2 merged
    assert rows[99].name == "fresh"
    assert rows[99].note == "n2"       # preserved cols still insert


def test_merge_return_value_to_source(spark):
    target = spark.createDataFrame([Row(id=7, k="a", v="T")], "id int, k string, v string")
    source = spark.createDataFrame([Row(sid=1, k="a", v="S")], "sid int, k string, v string")
    mp = MatchPlan(source, target, target_pk="id", source_id="sid")
    mp.find_exact_matches(["k"])
    plan = MergePlan(target_pk="id").return_value_to_source("matched_id", "$T.id")
    res = plan.execute(mp.matches(), target)
    assert res.source.collect()[0].matched_id == 7


def test_merge_modes(spark):
    target = spark.createDataFrame([Row(id=1, v="old")], "id int, v string")
    source = spark.createDataFrame(
        [Row(sid=1, id=1, v="upd"), Row(sid=2, id=2, v="ins")],
        "sid int, id int, v string",
    )
    mp = MatchPlan(source, target, target_pk="id", source_id="sid")
    mp.find_exact_matches(["id"])
    matches = mp.matches().cache()

    upd = MergePlan(target_pk="id").set_update_only().execute(matches, target)
    assert {r.id: r.v for r in upd.target.collect()} == {1: "upd"}
    ins = MergePlan(target_pk="id").set_insert_only().execute(matches, target)
    assert {r.id: r.v for r in ins.target.collect()} == {1: "old", 2: "ins"}


def test_dedup_survivor_and_invariants(spark):
    df = spark.createDataFrame(
        [Row(id=1, k="a", n=1), Row(id=2, k="a", n=2), Row(id=3, k="a", n=3), Row(id=4, k="b", n=4)],
        "id int, k string, n int",
    )
    plan = DedupPlan(df, pk="id")
    plan.find_duplicates(["k"])
    plan.merge_column_as("n", "$T + $S")
    out = {r.id: r for r in plan.execute().collect()}
    assert set(out) == {1, 4}
    # deterministic fold: lowest-pk duplicate (id=2, n=2) folds into survivor
    assert out[1].n == 3
    assert out[4].n == 4


def test_dedup_symmetric_invariant_raises(spark):
    # orientation that creates a chain: 2->1 and 3->2 (match on adjacent pairs)
    df = spark.createDataFrame(
        [Row(id=1, a="x", b=None), Row(id=2, a="x", b="y"), Row(id=3, a=None, b="y")],
        "id int, a string, b string",
    )
    plan = DedupPlan(df, pk="id")
    plan.find_duplicates(["a"])
    plan.find_duplicates(["b"])
    with pytest.raises(MergeInvariantError):
        plan.execute()


def test_invariant_counts_equal_self_join_counts(spark):
    """invariant_counts' one grouped aggregate equals the two-count form
    (reflexive filter count, symmetric self-join count) with duplicate
    pks: pk 2 appears twice, so each row pointing at 2 pairs with both
    copies; row 5 is reflexive, which also counts once as symmetric;
    NULL targets never count, a NULL pk never matches."""
    matches = spark.createDataFrame(
        [(1, None), (2, 1), (2, 1), (3, 2), (4, 2), (5, 5), (None, 2), (6, None), (7, 9)],
        "id int, _target_id int",
    )
    plan = DedupPlan(matches.select("id"), pk="id")
    reflexive = matches.where(F.col("_target_id") == F.col("id")).count()
    m = matches.where(F.col("_target_id").isNotNull())
    a, b = m.alias("a"), m.alias("b")
    symmetric = (
        a.join(b, F.expr("a._target_id = b.id"))
        .where(F.expr("b._target_id IS NOT NULL"))
        .count()
    )
    assert plan.invariant_counts(matches) == (reflexive, symmetric) == (1, 7)


def test_copy_column(spark):
    t = spark.createDataFrame([Row(k=1, v="t1"), Row(k=2, v="t2")], "k int, v string")
    s = spark.createDataFrame([Row(k=1, v="s1")], "k int, v string")
    out = {r.k: r.v for r in copy_column(t, s, ["k"], "v").collect()}
    assert out == {1: "s1", 2: "t2"}
    out2 = {r.k: r.v for r in copy_column(t, s, ["k"], "v", "$T || '+' || $S").collect()}
    assert out2 == {1: "t1+s1", 2: "t2"}


def test_copy_column_duplicate_source_keys_pick_smallest(spark):
    """Postgres UPDATE..FROM picks an arbitrary row for duplicated
    source keys; this engine pins the SMALLEST source value so the
    result is identical across runs, partitionings, and engines."""
    t = spark.createDataFrame([Row(k=1, v="t1")], "k int, v string")
    s = spark.createDataFrame(
        [Row(k=1, v="zz"), Row(k=1, v="aa"), Row(k=1, v="mm")],
        "k int, v string",
    )
    for reps in (1, 7):
        out = {
            r.k: r.v
            for r in copy_column(t, s.repartition(reps), ["k"], "v").collect()
        }
        assert out == {1: "aa"}


def test_audits(spark):
    df = spark.createDataFrame(
        [Row(a="x", b=""), Row(a="y", b=None), Row(a="x", b="z")],
        "a string, b string",
    )
    cov = {r.column: (r.covered, r.percent) for r in column_coverage(df).collect()}
    assert cov["a"] == (3, 100.0)
    assert cov["b"][0] == 1
    assert not key_is_unique(df, "a")
    assert key_is_unique(df.where("b = 'z'"), "a")
    dist = value_distribution(df, "a").collect()
    assert (dist[0].value, dist[0]["count"]) == ("x", 2)


def test_merge_audit_counts(spark):
    source = spark.createDataFrame([Row(sid=i, k="a" if i < 3 else "zz") for i in range(5)], "sid int, k string")
    target = spark.createDataFrame([Row(id=1, k="a")], "id int, k string")
    mp = MatchPlan(source, target, target_pk="id", source_id="sid")
    mp.find_exact_matches(["k"])
    res = merge_audit(mp.matches())
    assert res.total == 5 and res.matched == 3
    assert res.per_rule == {1: 3}


def test_functions(spark):
    df = spark.createDataFrame(
        [Row(d="2014-11-04", t="ge", email="a@b.co", addr="1 Main st", lat=None)],
        "d string, t string, email string, addr string, lat double",
    )
    row = df.select(
        election_name("d", "t").alias("e"),
        is_email_address_valid("email").alias("ok"),
        needs_geocoding("addr", "lat").alias("ng"),
    ).collect()[0]
    assert row.e == "2014_general"
    assert row.ok is True
    assert row.ng is True


def test_csv_audit_report(spark, tmp_path):
    from voter_gateway_spark.audit import csv_audit
    from voter_gateway_spark.sources import CSVSource

    p = tmp_path / "audit.csv"
    p.write_text(
        "id,name,email\n"
        "1,a,a@x.co\n"
        "2,b,\n"
        "2,c,c@x.co\n"
        "garbage line\n"
    )
    res = csv_audit(CSVSource(str(p), quote='"'), spark, keys=["id", "email"])
    assert res.total_count == 3
    assert res.malformed_count == 1
    assert res.keys == {"id": False, "email": True}
    assert res.coverage["id"] == (3, 1.0)
    assert res.coverage["email"][0] == 2
    text = str(res)
    assert "Valid rows: 3" in text and "[id] DUPLICATES" in text
    assert "UNIQUE KEY" in text and "email:" in text


def test_database_audit_report(spark):
    from voter_gateway_spark.audit import database_audit

    df = spark.createDataFrame(
        [Row(k=1, seg="A"), Row(k=2, seg="A"), Row(k=3, seg=None)],
        "k int, seg string",
    )
    res = database_audit(df, distribution_columns=["seg"], limit=5)
    assert res.total_records == 3
    assert res.coverage["seg"][0] == 2
    assert res.distributions["seg"] == [("A", 2), (None, 1)]
    assert "Total records: 3" in str(res)


def test_dedup_audit_report(spark):
    from voter_gateway_spark.audit import dedup_audit

    df = spark.createDataFrame(
        [Row(id=1, k="a"), Row(id=2, k="a"), Row(id=3, k="b")],
        "id int, k string",
    )
    plan = DedupPlan(df, pk="id")
    plan.find_duplicates(["k"])
    res = dedup_audit(plan)
    # id=2 is flagged as duplicate of id=1 (orientation $T < $S)
    assert res.total == 3 and res.matched == 1
    assert res.reflexive_merges == 0 and res.symmetric_merges == 0
    assert "rule 1: 1" in str(res)
    # break the orientation: every row pairs with every same-k row →
    # the audit REPORTS symmetric violations instead of raising
    bad = DedupPlan(df, pk="id", orientation="$T != $S")
    bad.find_duplicates(["k"])
    res_bad = dedup_audit(bad)
    assert res_bad.symmetric_merges > 0
    assert "SYMMETRIC MERGE ERROR" in str(res_bad)


def test_scd2_merge_versions(spark):
    from voter_gateway_spark.plans.merging import scd2_merge

    target = spark.createDataFrame(
        [
            # closed historical version + open current version for id=1
            Row(id=1, v="old", valid_from="2019-01-01", valid_to="2020-01-01", is_current=False),
            Row(id=1, v="a", valid_from="2020-01-01", valid_to=None, is_current=True),
            Row(id=2, v="b", valid_from="2020-01-01", valid_to=None, is_current=True),
            Row(id=3, v=None, valid_from="2020-01-01", valid_to=None, is_current=True),
        ],
        "id int, v string, valid_from string, valid_to string, is_current boolean",
    ).select("id", "v", F.col("valid_from").cast("date").alias("valid_from"),
             F.col("valid_to").cast("date").alias("valid_to"), "is_current")
    src = spark.createDataFrame(
        [Row(id=1, v="a2"), Row(id=2, v="b"), Row(id=3, v=None), Row(id=9, v="new")],
        "id int, v string",
    )
    out = scd2_merge(target, src, "id", ["v"], "2024-06-01").collect()
    rows = sorted(((r.id, r.v, str(r.valid_from), str(r.valid_to), r.is_current) for r in out))
    assert rows == sorted([
        (1, "old", "2019-01-01", "2020-01-01", False),   # history untouched
        (1, "a", "2020-01-01", "2024-06-01", False),     # changed → closed
        (1, "a2", "2024-06-01", "None", True),           # changed → new version
        (2, "b", "2020-01-01", "None", True),            # unchanged → kept
        (3, None, "2020-01-01", "None", True),           # NULL == NULL (null-safe)
        (9, "new", "2024-06-01", "None", True),          # new key → first version
    ])


def test_scd2_merge_null_current_flag_rows_survive(spark):
    """A NULL is_current (nullable boolean from an earlier load) fails
    both `flag` and `~flag`; those rows must land in history, not
    silently vanish."""
    from voter_gateway_spark.plans.merging import scd2_merge

    target = spark.createDataFrame(
        [
            Row(id=1, v="ghost", valid_from="2019-01-01", valid_to="2020-01-01",
                is_current=None),
            Row(id=1, v="a", valid_from="2020-01-01", valid_to=None, is_current=True),
        ],
        "id int, v string, valid_from string, valid_to string, is_current boolean",
    ).select("id", "v", F.col("valid_from").cast("date").alias("valid_from"),
             F.col("valid_to").cast("date").alias("valid_to"), "is_current")
    src = spark.createDataFrame([Row(id=1, v="a")], "id int, v string")
    out = scd2_merge(target, src, "id", ["v"], "2024-06-01").collect()
    assert sorted(r.v for r in out) == ["a", "ghost"]


def test_join_table_condition_over_source_columns(spark):
    """J4 contract: a join-table theta condition may reference s.* —
    it must be applied after the source join instead of failing
    analysis."""
    from voter_gateway_spark.plans.matching import JoinTable, MatchPlan, MatchRule

    src = spark.createDataFrame(
        [Row(sid=1, k="a", ref=10), Row(sid=2, k="b", ref=99)],
        "sid int, k string, ref int",
    )
    tgt = spark.createDataFrame(
        [Row(id=100, k="a"), Row(id=200, k="b")], "id int, k string"
    )
    lookup = spark.createDataFrame(
        [Row(key=10, ok=1)], "key int, ok int"
    )
    mp = MatchPlan(src, tgt, target_pk="id", source_id="sid")
    mp.rules.append(
        MatchRule(
            column_groups=[["k"]],
            join_tables=[JoinTable(lookup, "x", "x.key = s.ref")],
        )
    )
    got = {(r.sid, r._target_id) for r in mp.matches().collect()}
    # only sid=1 has a lookup row for its ref; sid=2 stays unmatched
    assert got == {(1, 100), (2, None)}


def test_join_table_string_literal_s_dot_not_deferred(spark):
    """A literal "s." inside a string constant in the join-table
    condition must not trigger deferral (deferral is decided by
    analysis, not by grepping the text)."""
    from voter_gateway_spark.plans.matching import JoinTable, MatchPlan, MatchRule

    src = spark.createDataFrame([Row(sid=1, k="a")], "sid int, k string")
    tgt = spark.createDataFrame([Row(id=100, k="a")], "id int, k string")
    lookup = spark.createDataFrame(
        [Row(key="a", tag="s.entry")], "key string, tag string"
    )
    mp = MatchPlan(src, tgt, target_pk="id", source_id="sid")
    mp.rules.append(
        MatchRule(
            column_groups=[["k"]],
            join_tables=[JoinTable(lookup, "x", "x.key = t.k AND x.tag = 's.entry'")],
        )
    )
    got = {(r.sid, r._target_id) for r in mp.matches().collect()}
    assert got == {(1, 100)}


def test_rule_condition_referencing_deferred_alias_raises_clearly(spark):
    """Documented limitation: a rule condition cannot reference a
    join-table alias whose own condition forced deferral (s.*). The
    failure must be a clear AnalysisException, not a bare unresolved
    column error."""
    from pyspark.errors import AnalysisException

    from voter_gateway_spark.plans.matching import JoinTable, MatchPlan, MatchRule

    src = spark.createDataFrame([Row(sid=1, k="a", ref=10)], "sid int, k string, ref int")
    tgt = spark.createDataFrame([Row(id=100, k="a")], "id int, k string")
    lookup = spark.createDataFrame([Row(key=10, ok=1)], "key int, ok int")
    mp = MatchPlan(src, tgt, target_pk="id", source_id="sid")
    mp.rules.append(
        MatchRule(
            column_groups=[["k"]],
            raw_condition="x.ok = 1",  # references the deferred alias
            join_tables=[JoinTable(lookup, "x", "x.key = s.ref")],
        )
    )
    with pytest.raises(AnalysisException, match="deferred"):
        mp.matches().collect()


def test_merge_update_branch_casts_to_target_type(spark):
    """A string-typed staged source must not widen an int target column
    through CASE WHEN coercion (ANSI Spark would instead throw)."""
    tgt = spark.createDataFrame([Row(id=1, age=30)], "id int, age int")
    matches = spark.createDataFrame(
        [Row(_source_id=1, _target_id=1, id="1", age="41")],
        "_source_id int, _target_id int, id string, age string",
    )
    plan = MergePlan(target_pk="id")
    out = plan.execute(matches, tgt).target
    assert dict(out.dtypes)["age"] == "int"
    assert out.collect()[0].age == 41
