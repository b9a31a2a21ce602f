"""Focused tests for the windowed `_collapse_exact` form (r15: one
window pass; r16: ROWS-NOT-ARRAYS — every row carries its group rep
in-row, no collect_list member arrays, expand() by joins) and for
`ckpt_parallel` / `ckpt_defer` (single union materialization job).

These pin the INTERNAL contract the equivalence proofs rely on —
rep = group-min id, membership complete, expand/spanning multisets
equal to the brute-force definition, NULL ids dropped (the r13
groupBy+join-back semantics, r15 ADVICE) — on a fixture with
multi-way duplicate groups, a singleton, and an empty-token row.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import functions as F

from voter_gateway_spark.operators import dedup_ops
from voter_gateway_spark.session import ckpt, ckpt_defer, ckpt_parallel


ROWS = [
    (3, "alpha beta gamma delta"),
    (1, "alpha beta gamma delta"),   # dup group {1, 3, 7} — min id 1
    (7, "alpha beta gamma delta"),
    (2, "epsilon zeta eta theta"),   # dup group {2, 5} — min id 2
    (5, "epsilon zeta eta theta"),
    (4, "iota kappa lambda mu"),     # singleton
    (6, ""),                         # empty token list: never pairs
]


def _full(spark, rows=ROWS):
    return (
        spark.createDataFrame(rows, "doc_id bigint, text string")
        .select(
            F.col("doc_id").alias("_id"),
            dedup_ops.word_shingles("text", 2).alias("_sh"),
        )
        .select(
            "_id",
            F.array_distinct(
                F.transform("_sh", dedup_ops.shingle_hash60)
            ).alias("_hh"),
        )
    )


def _grouped(spark, rows=ROWS):
    return dedup_ops._collapse_exact(_full(spark, rows), True, "jaccard", 1.0)


def test_rep_is_group_min_and_membership_complete(spark):
    members, reps, _, _, grouped = _grouped(spark)
    got = {(r["_id"], r["_rep"]) for r in members.collect()}
    want = {(1, 1), (3, 1), (7, 1), (2, 2), (5, 2), (4, 4), (6, 6)}
    assert got == want
    # reps are exactly the group minima, and carry the hash sets
    rep_rows = {r["_id"]: r["_hh"] for r in reps.collect()}
    assert sorted(rep_rows) == [1, 2, 4, 6]
    assert rep_rows[1] is not None and len(rep_rows[1]) > 0
    # grouped holds only rep rows
    assert sorted(r["_id"] for r in grouped.collect()) == [1, 2, 4, 6]


def test_nonrep_rows_store_no_hash_array(spark):
    # the materialized frame keeps each group's _hh once (on the rep);
    # member rows carry NULL — the rows-not-arrays memory guarantee
    full = _full(spark)
    fp = F.md5(
        F.concat_ws(
            ",",
            F.transform(F.sort_array(F.col("_hh")), lambda h: h.cast("string")),
        ).cast("binary")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("_fp").orderBy("_id")
    rows = (
        full.withColumn("_fp", fp)
        .withColumn("_rep", F.first("_id").over(w))
        .withColumn("_hh", F.when(F.col("_id") == F.col("_rep"), F.col("_hh")))
    )
    got = {r["_id"]: r["_hh"] for r in rows.collect()}
    assert got[3] is None and got[7] is None and got[5] is None
    assert got[1] is not None and got[2] is not None and got[4] is not None


def test_spanning_and_expand_match_bruteforce(spark):
    members, reps, expand, spanning, grouped = _grouped(spark)
    # rep-level pair between the two non-singleton groups' reps
    rep_pairs = spark.createDataFrame(
        [(1, 2, 0.5)], "id_a bigint, id_b bigint, jaccard double"
    )
    got_span = {
        (r.id_a, r.id_b, r.jaccard) for r in spanning(rep_pairs).collect()
    }
    want_span = {(1, 2, 0.5)} | {(1, 3, 1.0), (1, 7, 1.0), (2, 5, 1.0)}
    assert got_span == want_span

    got_exp = sorted(
        (r.id_a, r.id_b, r.jaccard) for r in expand(rep_pairs).collect()
    )
    cross = sorted(
        (min(a, b), max(a, b), 0.5) for a in (1, 3, 7) for b in (2, 5)
    )
    intra = sorted(
        (a, b, 1.0)
        for grp in ([1, 3, 7], [2, 5])
        for a, b in combinations(grp, 2)
    )
    assert got_exp == sorted(cross + intra)


def test_members_enumerate_every_row(spark):
    members, _, _, _, _ = _grouped(spark)
    ids = sorted(r["_id"] for r in members.collect())
    assert ids == [1, 2, 3, 4, 5, 6, 7]


def test_null_ids_dropped(spark):
    """NULL-id contract (r15 ADVICE / VERDICT ask #4): a null-id row is
    dropped at entry — it never becomes a rep (the r15 window form
    elected it: asc-nulls-first), never appears in members/spanning,
    and its group's rep is the min NON-null id, exactly the r13
    groupBy(min)+join-back semantics."""
    rows = [
        (None, "alpha beta gamma delta"),  # null id inside dup group
        (3, "alpha beta gamma delta"),
        (1, "alpha beta gamma delta"),
        (None, "unique null only text"),   # all-null group: vanishes
        (2, "epsilon zeta eta theta"),
    ]
    members, reps, expand, spanning, grouped = _grouped(spark, rows)
    assert sorted(r["_id"] for r in reps.collect()) == [1, 2]
    got = {(r["_id"], r["_rep"]) for r in members.collect()}
    assert got == {(1, 1), (3, 1), (2, 2)}
    span = spanning(
        spark.createDataFrame([], "id_a bigint, id_b bigint, jaccard double")
    ).collect()
    assert {(r.id_a, r.id_b) for r in span} == {(1, 3)}


def test_giant_group_stays_row_bounded(spark):
    """Adversarial skew pin (VERDICT ask #3): a 2000-way duplicate
    group must produce NO group-sized array anywhere in the
    materialized frame (max stored _hh is the group's shingle count,
    not its membership) and spanning must stay linear (one member→rep
    edge per duplicate)."""
    n = 2000
    rows = [(i, "the same boilerplate text every crawler copies") for i in range(1, n + 1)]
    rows.append((n + 1, "a genuinely different document entirely"))
    members, reps, expand, spanning, grouped = _grouped(spark, rows)
    assert sorted(r["_id"] for r in reps.collect()) == [1, n + 1]
    span = spanning(
        spark.createDataFrame([], "id_a bigint, id_b bigint, jaccard double")
    )
    assert span.count() == n - 1  # one edge per non-rep duplicate
    # no column in the materialized frame is group-sized: the widest
    # array is the shingle-hash set of ONE document
    widths = grouped.select(F.max(F.size("_hh")).alias("w")).collect()[0]["w"]
    assert widths < 50


def test_incremental_minhash_null_and_expand_parity(spark, monkeypatch):
    """incremental_minhash_pairs' row form: member expansion by join
    equals the brute-force bipartite listing on a dup-heavy fixture."""
    # the join form is the distributed path's; keep this small input off
    # the driver path
    monkeypatch.setattr(dedup_ops, "MINHASH_DRIVER_MAX_ROWS", 0)
    new_rows = [(10, "alpha beta gamma delta"), (11, "alpha beta gamma delta"),
                (12, "totally new content here")]
    corpus_rows = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
                   (3, "epsilon zeta eta theta")]
    new_df = spark.createDataFrame(new_rows, "doc_id bigint, text string")
    corpus_df = spark.createDataFrame(corpus_rows, "doc_id bigint, text string")
    out = dedup_ops.incremental_minhash_pairs(
        new_df, corpus_df, "doc_id", "text", k=2, threshold=0.5
    )
    got = {(r.new_id, r.corpus_id, r.jaccard) for r in out.collect()}
    want = {(a, b, 1.0) for a in (10, 11) for b in (1, 2)}
    assert got == want
    # expand_corpus=False keeps the corpus at its rep
    out2 = dedup_ops.incremental_minhash_pairs(
        new_df, corpus_df, "doc_id", "text", k=2, threshold=0.5,
        expand_corpus=False,
    )
    got2 = {(r.new_id, r.corpus_id) for r in out2.collect()}
    assert got2 == {(10, 1), (11, 1)}


def test_ckpt_parallel_identity(spark):
    a = spark.range(0, 100).withColumn("x", F.col("id") * 2)
    b = spark.range(0, 50).withColumn("y", F.col("id") + 1)
    ca, cb = ckpt_parallel([a, b])
    assert ca.count() == 100 and cb.count() == 50
    assert [r.x for r in ca.orderBy("id").collect()] == [
        2 * i for i in range(100)
    ]
    assert [r.y for r in cb.orderBy("id").collect()] == [
        i + 1 for i in range(50)
    ]


def test_ckpt_defer_batches_and_preserves_results(spark, count_jobs):
    with count_jobs() as n, ckpt_defer():
        ca = ckpt(spark.range(0, 40).withColumn("x", F.col("id") * 3))
        cb, cc = ckpt_parallel(
            [
                spark.range(0, 30).withColumn("y", F.col("id") + 7),
                spark.range(0, 20).withColumn("z", F.col("id") * F.col("id")),
            ]
        )
    assert n[0] == 1  # ONE union materialization job for all three
    assert ca.agg(F.sum("x")).collect()[0][0] == 3 * sum(range(40))
    assert cb.agg(F.sum("y")).collect()[0][0] == sum(range(30)) + 7 * 30
    assert cc.agg(F.sum("z")).collect()[0][0] == sum(i * i for i in range(20))
    # plans are checkpoint-backed (lineage truncated), same as eager
    assert "LogicalRDD" in ca._jdf.queryExecution().optimizedPlan().toString()
