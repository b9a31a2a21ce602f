"""Reliable-checkpoint switch (SCALING.md "known local-vs-cluster deltas").

With SPARK_GRAFT_CHECKPOINT_DIR set, every lineage-truncation site
routes through storage-backed df.checkpoint() instead of
localCheckpoint, so iterative jobs (connected components, fuzzy
claiming, collapse) survive executor loss on a preemptible cluster.
These tests run the two flagship iterative paths under both modes and
assert identical results, plus that the reliable path actually writes
checkpoint data into the configured directory. The job-count tests pin
the checkpoint API's contract on both paths: one job per eager ckpt,
one job per local ckpt_defer/ckpt_parallel batch, and one job per frame
on the reliable path.
"""

from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from voter_gateway_spark.operators import dedup_ops, fuzzy
from voter_gateway_spark.session import (
    ckpt,
    ckpt_defer,
    ckpt_parallel,
    reliable_checkpoint_dir,
)


def _components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a int, id_b int",
    )
    return {
        (r.id, r.component)
        for r in dedup_ops.connected_components(pairs).collect()
    }


def _claims(spark):
    pool = spark.createDataFrame(
        [Row(id=1, name="jonathan smith"), Row(id=2, name="maria garcia")],
        "id int, name string",
    )
    srcs = spark.createDataFrame(
        [
            Row(id=10, name="jonathan smith"),
            Row(id=11, name="jonathan smyth"),
            Row(id=12, name="maria garcia"),
        ],
        "id int, name string",
    )
    return {
        (r.id, r.matched_id)
        for r in fuzzy.fuzzy_claiming_rounds(srcs, pool, ["name"], "id", "id").collect()
    }


def test_flag_off_by_default(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    assert reliable_checkpoint_dir() is None


def _frames(spark, n):
    """n shuffle-free frames: a lazy mark runs no job for them, so every
    counted job is a materialization."""
    return [
        spark.range(0, 10 * (i + 1)).withColumn("x", F.col("id") * (i + 2))
        for i in range(n)
    ]


def _sums(frames):
    return [f.agg(F.sum("x")).collect()[0][0] for f in frames]


def _want(n):
    return [(i + 2) * sum(range(10 * (i + 1))) for i in range(n)]


def test_local_path_job_counts(spark, count_jobs, monkeypatch):
    """One job per eager ckpt, and one job per batch for any N >= 1."""
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    with count_jobs() as n:
        eager = ckpt(_frames(spark, 1)[0])
    assert n[0] == 1

    for size in (1, 3):
        with count_jobs() as n:
            with ckpt_defer():
                out = [ckpt(f) for f in _frames(spark, size)]
        assert n[0] == 1, size
        assert _sums(out) == _want(size)

    with count_jobs() as n:
        out = ckpt_parallel(_frames(spark, 3))
    assert n[0] == 1
    assert _sums(out) == _want(3)

    # inside an open batch ckpt_parallel and a nested ckpt_defer join
    # it: neither runs a job of its own, the outer exit runs one
    first, *rest = _frames(spark, 3)
    with count_jobs() as outer:
        with ckpt_defer():
            a = ckpt(first)
            with count_jobs() as inner:
                b = ckpt_parallel(rest[:1])
                with ckpt_defer():
                    c = ckpt(rest[1])
    assert inner[0] == 0
    assert outer[0] == 1
    assert _sums([a, *b, c]) == _want(3)
    assert _sums([eager]) == _want(1)


def test_reliable_path_job_counts_and_files(spark, count_jobs, tmp_path, monkeypatch):
    """Reliable path: never batched, one compute-and-write job per frame,
    files in the checkpoint directory."""
    sc = spark.sparkContext
    ckpt_dir = tmp_path / "reliable_jobs"
    installed = sc.getCheckpointDir()
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt_dir))

    def rdd_dirs():
        root = sc.getCheckpointDir()
        return set(Path(root.removeprefix("file:")).glob("rdd-*")) if root else set()

    def deferred(frames):
        with ckpt_defer():
            return [ckpt(f) for f in frames]

    for batch in (deferred, ckpt_parallel):
        before = rdd_dirs()
        with count_jobs() as n:
            out = batch(_frames(spark, 3))
        assert n[0] == 3, batch
        new = rdd_dirs() - before
        assert len(new) == 3, batch
        assert all(any(p.glob("part-*")) for p in new), new
        assert _sums(out) == _want(3)

    # ckpt installs the configured directory on first use; an earlier
    # test in this session may already have installed its own
    root = sc.getCheckpointDir()
    assert root == installed or root.removeprefix("file:").startswith(str(ckpt_dir))


def test_failing_batch_runs_one_job_and_closes_the_batch(spark, count_jobs, monkeypatch):
    """A task failure at batch exit surfaces after the one failed job (no
    per-frame re-run), and the batch is closed afterwards. The failure
    is a Java exception PySpark does not convert, so it reaches Python
    as a Py4JJavaError: the case a ``Py4JError`` handler meant for a
    missing JVM would catch."""
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    good_a, good_b = _frames(spark, 2)
    bad = spark.range(0, 20).withColumn(
        "x",
        F.expr(
            "reflect('java.lang.Integer', 'parseInt', "
            "if(id = 7, 'ckpt-boom', cast(id AS string)))"
        ),
    )
    with count_jobs() as n:
        with pytest.raises(Exception, match="ckpt-boom"):
            with ckpt_defer():
                ckpt(good_a)
                ckpt(bad)
                ckpt(good_b)
    assert n[0] == 1

    with count_jobs() as n:
        ckpt(_frames(spark, 1)[0])
    assert n[0] == 1


def test_reliable_checkpoint_identical_results_and_files(spark, tmp_path, monkeypatch):
    local_components = _components(spark)
    local_claims = _claims(spark)

    ckpt_dir = tmp_path / "reliable_ckpt"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt_dir))

    reliable_components = _components(spark)
    reliable_claims = _claims(spark)

    assert reliable_components == local_components
    assert reliable_claims == local_claims
    # sanity: 3 components (min-label); at-most-once claiming means
    # source 11 loses target 1 to source 10, leaving 2 claims
    assert {c for _, c in reliable_components} == {1, 10, 20}
    assert reliable_claims == {(10, 1), (12, 2)}

    # the reliable path must actually have written checkpoint data.
    # ckpt() installs the dir on first use; the shared SparkContext may
    # already point at a dir from an earlier test in this session, so
    # assert against the context's actual target.
    actual = spark.sparkContext.getCheckpointDir()
    assert actual is not None
    files = [p for p in Path(actual.removeprefix("file:")).rglob("*") if p.is_file()]
    assert files, "reliable checkpoint wrote no files"


def test_ckpt_transform_shape_preserved(spark, tmp_path, monkeypatch):
    """df.transform(ckpt) must be schema/row-transparent in both modes."""
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    base = df.transform(ckpt)
    assert base.schema == df.schema and base.count() == 100
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "c2"))
    rel = df.transform(ckpt)
    assert rel.schema == df.schema and rel.count() == 100


def test_ckpt_cut_transparent_and_severed(spark):
    """ckpt_cut must be row/schema-transparent, reusable in joins, and
    actually sever the origin plan (the optimized plan bottoms out in
    an RDD scan leaf, not the original parquet/range lineage)."""
    from voter_gateway_spark.session import ckpt_cut

    df = spark.range(200).withColumn("v", (F.col("id") * 7) % 13)
    cut = ckpt_cut(df)
    assert cut.schema == df.schema
    assert cut.count() == 200
    assert {r.v for r in cut.select("v").distinct().collect()} == set(range(13))
    # joinable both as left and right without surprises
    j = cut.alias("a").join(cut.alias("b"), F.expr("a.id = b.id")).count()
    assert j == 200
    plan = cut._jdf.queryExecution().optimizedPlan().toString()
    assert "Range" not in plan, plan
