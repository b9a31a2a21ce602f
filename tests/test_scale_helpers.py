"""Tests for the scale-posture helpers: sinks, skew handling, and the
Python-closure converter escape hatch."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from voter_gateway_spark.operators.skew import (
    replicate_broadcast_join,
    salted_aggregate,
)
from voter_gateway_spark.plans import WorkingFrame
from voter_gateway_spark.sources.sinks import (
    canon_map_json,
    overwrite_partitions,
    write_table,
)


def test_write_table_partitioned_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(i)) for i in range(20)],
        "id int, grp string, v double",
    )
    path = str(tmp_path / "t1")
    write_table(df, path, partition_by=["grp"], target_rows_per_file=10,
                sort_within_partitions=["id"])
    back = spark.read.parquet(path)
    assert back.count() == 20
    # partition pruning visible in the plan
    plan = back.where("grp = 'a'")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or back.where("grp = 'a'").count() == 10


def test_write_table_skewed_partition_splits_files(spark, tmp_path):
    """A skewed partition value must still honor target_rows_per_file:
    the salted repartition splits the hot dir into multiple files while
    small dirs stay single-file and no rows are lost."""
    import glob

    df = spark.createDataFrame(
        [(i, "hot" if i < 1000 else "cold", float(i)) for i in range(1010)],
        "id int, grp string, v double",
    )
    path = str(tmp_path / "skew")
    write_table(df, path, partition_by=["grp"], target_rows_per_file=100)
    back = spark.read.parquet(path)
    assert back.count() == 1010
    assert {r.grp for r in back.select("grp").distinct().collect()} == {"hot", "cold"}
    hot_files = glob.glob(f"{path}/grp=hot/*.parquet")
    cold_files = glob.glob(f"{path}/grp=cold/*.parquet")
    # 1000 rows / 100 target → ~10 salt groups; at least a real split
    assert len(hot_files) > 1
    assert len(cold_files) == 1


def test_canon_map_json_is_entry_order_invariant(spark):
    """The salt canonicalization itself: two maps with the SAME entries
    built in opposite insertion order must render to one JSON string.
    map_from_arrays preserves construction order in the underlying
    entry array, so without the key-sort these would differ."""
    df = spark.createDataFrame([(1,)], "i int").select(
        canon_map_json(
            F.map_from_arrays(F.array(F.lit("a"), F.lit("b")),
                              F.array(F.lit("1"), F.lit("2")))
        ).alias("fwd"),
        canon_map_json(
            F.map_from_arrays(F.array(F.lit("b"), F.lit("a")),
                              F.array(F.lit("2"), F.lit("1")))
        ).alias("rev"),
    )
    row = df.collect()[0]
    assert row.fwd == row.rev


def test_write_table_all_map_payload_salt_is_deterministic_and_splits(spark, tmp_path):
    """When every non-partition column is a MapType (F.hash would
    raise), the fallback salt must be content-derived — hash of the
    maps' JSON entries — not position-derived: a positional salt
    (monotonically_increasing_id) changes on stage retry and can
    duplicate or lose rows (SPARK-23207 class; ADVICE r6 #2). Checks
    both that the hot partition still splits and that no rows are
    lost, and pins the salt expression itself to be retry-stable by
    evaluating it twice under different input partitioning."""
    import glob

    df = spark.createDataFrame(
        [(("hot" if i < 400 else "cold"), {"k": str(i), "j": str(i * 7)})
         for i in range(410)],
        "grp string, payload map<string,string>",
    )
    path = str(tmp_path / "mapskew")
    write_table(df, path, partition_by=["grp"], target_rows_per_file=100)
    back = spark.read.parquet(path)
    assert back.count() == 410
    assert len(glob.glob(f"{path}/grp=hot/*.parquet")) > 1
    # salt determinism: same row content -> same salt regardless of
    # physical partitioning (the retry-recompute scenario). Uses the
    # SAME canonicalized expression write_table ships (canon_map_json)
    # so a regression of the key-sort canonicalization fails HERE too,
    # not only in production (r8 advice).
    salt = F.hash(canon_map_json(F.col("payload")))
    a = {r.k: r.s for r in df.repartition(2).select(
        F.col("payload")["k"].alias("k"), salt.alias("s")).collect()}
    b = {r.k: r.s for r in df.repartition(7).select(
        F.col("payload")["k"].alias("k"), salt.alias("s")).collect()}
    assert a == b


def test_write_table_null_partition_value_survives_salting(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, None), (2, "d")], "id int, day string"
    )
    path = str(tmp_path / "nullpart")
    write_table(df, path, partition_by=["day"], target_rows_per_file=10)
    back = spark.read.parquet(path)
    assert back.count() == 2
    assert {r.id for r in back.collect()} == {1, 2}


def test_overwrite_partitions_is_surgical(spark, tmp_path):
    path = str(tmp_path / "t2")
    df1 = spark.createDataFrame([(1, "d1"), (2, "d2")], "id int, day string")
    write_table(df1, path, partition_by=["day"])
    # rewrite only d2 with new content
    df2 = spark.createDataFrame([(99, "d2")], "id int, day string")
    overwrite_partitions(df2, path, ["day"])
    back = {tuple(r) for r in spark.read.parquet(path).collect()}
    assert back == {(1, "d1"), (99, "d2")}


def test_salted_aggregate_matches_plain(spark):
    df = spark.createDataFrame(
        [(i % 3, float(i)) for i in range(100)], "k int, v double"
    )
    got = {
        (r.k): (r.total, r.n, r.mx)
        for r in salted_aggregate(
            df, ["k"],
            {"total": (F.sum("v"), "sum"), "n": (F.count(F.lit(1)), "sum"), "mx": (F.max("v"), "max")},
            salt_buckets=4,
        ).collect()
    }
    exp = {
        (r.k): (r.total, r.n, r.mx)
        for r in df.groupBy("k").agg(
            F.sum("v").alias("total"), F.count(F.lit(1)).alias("n"), F.max("v").alias("mx")
        ).collect()
    }
    assert got == exp


def test_replicate_broadcast_join_matches_plain(spark):
    big = spark.createDataFrame([(i % 2, i) for i in range(50)], "k int, x int")
    small = spark.createDataFrame([(0, "zero"), (1, "one")], "k int, label string")
    got = sorted(
        map(tuple, replicate_broadcast_join(big, small, "k").select("k", "x", "label").collect())
    )
    exp = sorted(map(tuple, big.join(small, "k").select("k", "x", "label").collect()))
    assert got == exp


def test_map_column_py_closure(spark):
    src = spark.createDataFrame([Row(raw="3"), Row(raw="4")], "raw string")
    lookup = {"3": "three", "4": "four"}  # a true closure the SQL path can't express
    out = (
        WorkingFrame(src)
        .map_column("n", from_col="raw", type="INT")
        .map_column_py("word", lambda v: lookup.get(v, "?"), from_col="raw")
        .build()
    )
    assert {(r.n, r.word) for r in out.collect()} == {(3, "three"), (4, "four")}


def test_widen_raises_narrow_inputs_only(spark):
    from voter_gateway_spark.operators.skew import widen

    narrow = spark.range(100).coalesce(1)
    assert widen(narrow).rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    wide = spark.range(100).repartition(64)
    # already-wide inputs pass through without a shrink (no-op, no shuffle)
    assert widen(wide) is wide


def test_widen_decides_from_the_plan_without_running_jobs(spark, count_jobs):
    """Reading the width of a post-exchange frame through its RDD runs
    the exchange stages (and the consuming action runs them again);
    widen must decide from the plan and start no job."""
    from voter_gateway_spark.operators.skew import num_partitions, widen

    sc = spark.sparkContext
    agg = spark.range(200).repartition(3).groupBy((F.col("id") % 7).alias("k")).count()
    with count_jobs() as n:
        widened = widen(agg)
        union_width = num_partitions(agg.unionByName(agg))
    assert n[0] == 0
    assert union_width == 2 * num_partitions(agg)
    assert num_partitions(widened) >= sc.defaultParallelism
    assert sorted(widened.collect()) == sorted(agg.collect())


def test_small_rows_is_one_bounded_job(spark, count_jobs):
    """The operators' shared small-input gate: every row at the limit,
    None one row over it, one job either way on a many-partition frame,
    and no job at all for a zero limit."""
    from voter_gateway_spark.session import small_rows

    # the explode hides Range's known row count, from which the
    # optimizer would drop the limit and collect everything in one job
    df = spark.range(0, 100, 1, 8).selectExpr("explode(array(id)) AS id")

    def gated(max_rows):
        with count_jobs() as n:
            rows = small_rows(df, max_rows)
        return rows, n[0]

    rows, jobs = gated(100)
    assert sorted(r.id for r in rows) == list(range(100)) and jobs == 1
    assert gated(99) == (None, 1)
    assert gated(0) == (None, 0)


def test_codegen_cache_holds_a_warm_query_mix(spark):
    """A mix of more than 100 generated classes (Spark's default cache
    size) compiles nothing new when it runs a second time."""
    import functools

    from pyspark.sql import DataFrame

    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def mix():
        parts = [spark.range(3).selectExpr(f"id * {i + 7919} + 13 AS x") for i in range(120)]
        return functools.reduce(DataFrame.unionByName, parts).collect()

    n0 = compiled.getCount()
    first = mix()
    n1 = compiled.getCount()
    second = mix()
    assert n1 - n0 > 100
    assert compiled.getCount() == n1
    assert first == second


def test_lower_merge_routing_matches_functional_plan():
    """The MERGE-sink lowering applies the same column routing as
    MergePlan.execute: excluded/preserved skip the update, moved-to
    columns take the target's own moved-from value, $S/$T templates
    bind to the aliases, preserved columns still insert."""
    from voter_gateway_spark.plans import MergePlan
    from voter_gateway_spark.sources.merge_sink import lower_merge

    plan = (
        MergePlan(target_pk="id")
        .exclude_column("never")
        .preserve_column("keep")
        .move_columns({"old_name": "prev_name"})
        .merge_column_as("bal", "round($T + $S, 2)")
        .insert_column_as("tag", "upper($S)")
    )
    source_cols = ["id", "name", "bal", "keep", "never", "tag", "old_name"]
    target_cols = ["id", "name", "bal", "keep", "never", "tag", "old_name", "prev_name"]
    cond, upd, ins = lower_merge(plan, source_cols, target_cols)
    assert cond == "t.`id` = s.`_target_id`"
    assert upd["name"] == "s.`name`"
    assert upd["bal"] == "round(`t`.`bal` + `s`.`bal`, 2)"
    assert upd["prev_name"] == "t.`old_name`"   # move: target's own value
    assert upd["old_name"] == "s.`old_name`"    # moved-from still updated
    assert "never" not in upd and "keep" not in upd and "id" not in upd
    assert ins["keep"] == "s.`keep`"            # preserved inserts
    assert ins["tag"] == "upper(`s`.`tag`)"
    assert "never" not in ins and "prev_name" not in ins


def test_lower_merge_modes():
    from voter_gateway_spark.plans import MergePlan
    from voter_gateway_spark.sources.merge_sink import lower_merge

    upd_only = MergePlan(target_pk="id").set_update_only()
    _, upd, ins = lower_merge(upd_only, ["id", "x"], ["id", "x"])
    assert upd is not None and ins is None
    ins_only = MergePlan(target_pk="id").set_insert_only()
    _, upd, ins = lower_merge(ins_only, ["id", "x"], ["id", "x"])
    assert upd is None and ins is not None


def test_merge_into_delta_gated(spark):
    import pytest

    from voter_gateway_spark.plans import MergePlan
    from voter_gateway_spark.sources.merge_sink import delta_available, merge_into_delta

    if delta_available():
        pytest.skip("delta installed; gate test is for the missing-package path")
    with pytest.raises(RuntimeError, match="delta-spark is not installed"):
        merge_into_delta(spark, "/tmp/nope", None, MergePlan(target_pk="id"))
