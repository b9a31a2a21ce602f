"""Vector similarity search over embedding columns (array<float>).

- `cosine` / `dot`: native fold expressions (zip_with + aggregate) —
  JVM-side, no Python.
- `brute_force_topk`: exact baseline — query-set × corpus join (the
  query side is broadcast), window top-k.
- `lsh_bucketed_topk`: deterministic random-hyperplane LSH (signs of
  dot products with md5-derived pseudo-random planes) buckets the
  corpus; candidates come from matching buckets only. Planes are
  derived from md5, so results are reproducible across runs and
  engines.
- `ivf_topk` / `ivfpq_topk` and the persisted IVF and PQ indexes: a
  k-means coarse quantizer in place of the hash planes, the same
  probe-then-score plan shape; `int8_topk` / `binary_topk` score
  quantized codes.

The searchers rank through one window, `_rank_topk`: score first,
then neighbor id ascending (the graph search's beam keeps its own).
The exact-duplicate collapse of the IVF and PQ searchers is
`_collapse_gate` plus `_collapsed_topk`.

Precondition: every vector has a nonzero norm. Cosine divides by the
norms, so with Spark's default ANSI mode a zero vector raises
DIVIDE_BY_ZERO wherever cosine is scored or a cell assigned — the
brute-force, LSH, IVF and IVF-PQ searchers and semantic_dedup among
them. Callers filter zero-norm rows first, as the catalog does. NaN
elements do not raise: their cosine is NaN, which Spark orders above
every number.

At 100 TB the corpus side stays partitioned; only queries broadcast.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from voter_gateway_spark.operators.skew import widen
from voter_gateway_spark.session import ckpt, ckpt_cut, ckpt_lazy


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def as_double_array(col: Column | str) -> Column:
    """Normalize array<float> → array<double> so arithmetic is stable
    and oracle-comparable."""
    return F.transform(_c(col), lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _rank_topk(
    sims: DataFrame,
    score: str,
    k: int,
    ascending: bool = False,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """The one per-query ranking window of the top-k searchers:
    `score` (descending unless `ascending`; Spark orders NaN above
    every number), then neighbor_id ascending, ranks 1..k. Output
    (query_id, neighbor_id, rank, *keep, score)."""
    order = F.col(score).asc() if ascending else F.col(score).desc()
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", *keep, score)
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, rank, cos_sim). Deterministic:
    ordered by rounded similarity desc then neighbor id asc, so engine
    ulp differences can't reorder ranks.
    """
    # norms are staged per ROW (multi-referenced non-cheap alias →
    # CollapseProject keeps it), not recomputed per pair: cosine below
    # is dot/(|q||c|) with the exact same arithmetic, ~3× less work
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("_qv")
    ).select("query_id", "_qv", norm(F.col("_qv")).alias("_qn"))
    c = widen(corpus).select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("_cv")
    ).select("neighbor_id", "_cv", norm(F.col("_cv")).alias("_cn"))
    pairs = F.broadcast(q).crossJoin(c)
    if exclude_self:
        pairs = pairs.where(F.col("query_id") != F.col("neighbor_id"))
    sims = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")), 6
        ).alias("cos_sim"),
    )
    return _rank_topk(sims, "cos_sim", k)


def _plane(seed: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5 — reproducible
    everywhere, no RNG state."""
    out = []
    for i in range(dim):
        h = hashlib.md5(f"plane:{seed}:{i}".encode()).hexdigest()
        # map 8 hex chars to [-1, 1)
        out.append(int(h[:8], 16) / float(2**31) - 1.0)
    return out


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: one sign bit per plane, packed into
    a string bucket key."""
    bits = [
        F.when(dot(vec, F.array(*[F.lit(v) for v in p])) >= 0, "1").otherwise("0")
        for p in planes
    ]
    return F.concat(*bits)


def lsh_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket. ~2^n_planes-fold candidate reduction at scale; recall
    depends on n_planes (8 planes ≈ 256 buckets).
    """
    planes = [_plane(s, dim) for s in range(n_planes)]
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("_qv")
        )
        .withColumn("_bucket", lsh_signature(F.col("_qv"), planes))
        .withColumn("_qn", norm(F.col("_qv")))
    )
    c = (
        widen(corpus).select(
            F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("_cv")
        )
        .withColumn("_bucket", lsh_signature(F.col("_cv"), planes))
        .withColumn("_cn", norm(F.col("_cv")))
    )
    pairs = F.broadcast(q).join(c, "_bucket")
    if exclude_self:
        pairs = pairs.where(F.col("query_id") != F.col("neighbor_id"))
    sims = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")), 6
        ).alias("cos_sim"),
    )
    return _rank_topk(sims, "cos_sim", k)


def l2_normalize(col: Column | str) -> Column:
    """Unit-normalize a vector column (zero vectors stay zero instead
    of dividing by zero — ANSI mode would error, and NULLs poison
    downstream folds)."""
    v = _c(col)
    n = norm(v)
    return F.when(n > 0, F.transform(v, lambda x: x / n)).otherwise(v)


def vector_mean(df: DataFrame, group_col: str, vec_col: str) -> DataFrame:
    """Element-wise mean vector per group (centroid), computed
    distributed: posexplode → (group, pos) partial sums → re-assemble
    the ordered array. No collect, no UDF; the shuffle carries scalars
    only — the group-centroid primitive for pooling / cluster features.

    Returns (group_col, centroid array<double>).
    """
    return (
        df.select(group_col, F.posexplode(vec_col).alias("_pos", "_x"))
        .groupBy(group_col, "_pos")
        .agg(F.avg("_x").alias("_m"))
        .groupBy(group_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_m"))), lambda s: s["_m"]
            ).alias("centroid")
        )
    )


def _nearest_cells(vecs: DataFrame, vcol: str, cents: DataFrame, rank_n: int) -> DataFrame:
    """Attach the `rank_n` nearest centroid cells to each vector row
    (cosine rounded to 6 places; ties broken on ascending cell id).

    The centroid table collapses to ONE broadcast row holding
    array<struct<_cell,_centroid>>; each vector row ranks the cells
    with an in-row array_sort over (1 − sim, cell) — exactly the old
    `sim DESC, cell ASC` window ordering — and explodes the first
    rank_n cells. Versus the previous crossJoin + row_number form this
    emits |vecs| × rank_n rows instead of pushing |vecs| × |cents|
    rows through a window SHUFFLE per pass (at the 100× stress that
    window alone moved ~10⁸ rows per Lloyd round). Rounding before
    ordering keeps the ranking reproducible across engines (fold-order
    ulp differences can't flip a rank), which is what lets the IVF
    variants be oracle-checked."""
    one = cents.agg(
        F.array_sort(
            F.collect_list(
                # centroid norms ride the broadcast struct so each
                # vector×cell comparison is ONE fold (the dot), not
                # three — cosine(a,b) staged as dot/(_vn·_cn), the
                # identical expression tree, so results are bit-equal
                F.struct(
                    "_cell", "_centroid", norm(F.col("_centroid")).alias("_cn")
                )
            )
        ).alias("_cents")
    )
    ranked = F.slice(
        F.array_sort(
            F.transform(
                F.col("_cents"),
                lambda s: F.struct(
                    # 1 − sim is order-isomorphic to sim DESC on the
                    # rounded 1e-6 grid (grid step dwarfs double ulp in
                    # [0,2]) and avoids the −0.0/0.0 ordering ambiguity
                    # a plain negation would introduce
                    (
                        F.lit(1.0)
                        - F.round(
                            dot(F.col(vcol), s["_centroid"])
                            / (F.col("_vn") * s["_cn"]),
                            6,
                        )
                    ).alias("_d"),
                    s["_cell"].alias("_cell"),
                ),
            )
        ),
        1,
        rank_n,
    )
    return (
        vecs.crossJoin(F.broadcast(one))
        .withColumn("_vn", norm(F.col(vcol)))
        .withColumn("_top", ranked)
        .withColumn("_cell", F.explode(F.transform("_top", lambda s: s["_cell"])))
        .drop("_cents", "_top", "_vn")
    )


def _vector_mean(assigned: DataFrame, group_col: str, vec_col: str) -> DataFrame:
    """vector_mean with the IVF-internal `_centroid` alias."""
    return vector_mean(assigned, group_col, vec_col).select(
        group_col, F.col("centroid").alias("_centroid")
    )


def _train_centroids(
    c: DataFrame,
    n_centroids: int | None,
    iters: int,
    centroid_round: int | None = None,
    train_per_cell: int | None = None,
    dup_mult: float | None = None,
    n_rows: int | None = None,
) -> tuple[int, DataFrame]:
    """The ONE deterministic coarse-quantizer trainer shared by
    ivf_topk, build_ivf_index, and semantic_dedup — any determinism
    change here moves every oracle-pinned trajectory together.

    `c` is the canonical (_cid, _cv) frame (checkpointed by the
    caller). Steps, all engine-reproducible: seeds = the n_centroids
    rows with the smallest md5(id) (None auto-scales to
    max(16, ⌈√N⌉)); fixed-count Lloyd rounds, each mean optionally
    snapped to `centroid_round` decimals (the cross-engine/partition
    determinism grid — see ivf_topk); with `train_per_cell`, Lloyd
    assignments read only the rows whose 60-bit md5(id) prefix falls
    under floor(2⁶⁰·min(1, per_cell·cells/N)) — every term exact or
    single-rounded in doubles, so the SQL oracle computes the same
    bigint cut (training set is binomial around per_cell·cells).
    `dup_mult` (the caller's already-probed identical-vector fanout
    multiplier): above the collapse threshold, each Lloyd round
    assigns cells per UNIQUE training vector and joins the assignment
    back to the sample rows for the mean — identical vectors assign
    identically, and the join restores the exact row multiset the
    mean always saw, so every per-(cell,dim) average runs over the
    same values (the mean's fold order shifts with the new
    partitioning, which `centroid_round` snapping absorbs exactly as
    it absorbs partition-count variance; the oracle-pinned Lloyd
    queries all pass centroid_round). On the 100× replica the
    training sample is ~28-way duplicated, so this cuts each
    assignment pass's interpreted per-cell scoring ~28×.

    Returns (resolved n_centroids, (cell, centroid) frame). The
    count action only runs when auto cells or an engaged training
    sample needs N — iters=0 never samples. Callers whose fanout
    probe already summed the corpus row count pass it as `n_rows`
    (exactly c.count() — the probe sums its per-hash group counts),
    skipping the count job entirely (r15 optimization)."""
    need_n = n_centroids is None or (train_per_cell is not None and iters > 0)
    if n_rows is None:
        n_rows = c.count() if need_n else None
    if n_centroids is None:
        n_centroids = max(16, math.ceil(math.sqrt(n_rows)))
    seeds = (
        c.select("_cv", F.md5(F.col("_cid").cast("string").cast("binary")).alias("_h"))
        .orderBy("_h")
        .limit(n_centroids)
    )
    # every round's centroid table checkpoints EAGERLY, including the
    # seeds and intermediate rounds that are read only once. The r15
    # optimization pass TRIED lazy intermediate checkpoints (materialize
    # inside the next round's job, fewer barriers) and same-session A/B
    # showed a consistent ~2x REGRESSION (embed_semantic_dedup 2.8 s ->
    # 7.4 s, embed_ivf_lloyd_topk 3.9 s -> 7.5 s): the next round reads
    # the previous table through a broadcast-exchange subtree, and a
    # lazily-checkpointed plan there re-plans/re-runs the whole
    # upstream chain inside the broadcast build instead of reading the
    # tiny materialized block. Keep eager.
    centroids = seeds.select(
        F.row_number().over(Window.orderBy("_h")).alias("_cell"),
        F.col("_cv").alias("_centroid"),
    ).transform(ckpt)
    tr = c
    # n_rows == 0: an empty corpus yields empty seeds/centroids above;
    # degrade gracefully (as the unsampled path always did) instead of
    # dividing by zero computing the sample fraction
    if train_per_cell is not None and iters > 0 and n_rows:
        frac = min(1.0, train_per_cell * n_centroids / n_rows)
        if frac < 1.0:  # cut = 2^60 admits every row — skip the scan
            cut = math.floor(2.0**60 * frac)
            h60 = F.conv(
                F.substring(
                    F.md5(F.col("_cid").cast("string").cast("binary")), 1, 15
                ),
                16,
                10,
            ).cast("bigint")
            tr = c.where(h60 < F.lit(cut)).transform(ckpt)
    collapse_train = (
        dup_mult is not None and dup_mult > SEMDEDUP_COLLAPSE_FANOUT_THRESHOLD
    )
    uniq = None
    if collapse_train and iters > 0:
        # loop-invariant: the unique-vector set of the fixed training
        # sample — built and materialized once, re-assigned per round
        uniq = tr.select("_cv").distinct().transform(ckpt)
    for _ in range(iters):
        if uniq is not None:
            cells_u = _nearest_cells(uniq, "_cv", centroids, 1).select(
                "_cv", "_cell"
            )
            assigned = tr.join(cells_u, "_cv").select("_cell", "_cv")
        else:
            assigned = _nearest_cells(tr, "_cv", centroids, 1)
        centroids = _vector_mean(assigned, "_cell", "_cv")
        if centroid_round is not None:
            centroids = centroids.select(
                "_cell",
                F.transform(
                    "_centroid", lambda x: F.round(x, centroid_round)
                ).alias("_centroid"),
            )
        centroids = centroids.select("_cell", "_centroid").transform(ckpt)
    return n_centroids, centroids


def assign_cells(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    iters: int = 0,
    centroid_round: int | None = None,
    keep: tuple[str, ...] = (),
    train_per_cell: int | None = None,
) -> DataFrame:
    """(id, cell): every vector's nearest coarse-quantizer cell — the
    cluster-assignment surface of the shared md5-seeded trainer,
    exposed for consumers that want the PARTITION of the embedding
    space rather than neighbors or duplicates (cluster-balanced
    sampling, per-cluster profiling). Same determinism contract as
    ivf_topk/semantic_dedup: md5-smallest seeds, auto
    max(16, ceil(sqrt(N))) cells when n_centroids is None, cosine
    rounded to 6, ties to the ascending cell — so iters=0 is fully
    SQL-expressible and oracle-checkable.

    Scale shape: the centroid table collapses to ONE broadcast row;
    assignment is an in-row rank over that broadcast (no shuffle),
    so the output costs one corpus scan.

    `keep` carries payload columns of `df` (the vector column itself
    is allowed) through the assignment pass, so consumers that need
    (id, cell, payload...) never pay an id-keyed re-join of the
    corpus against its own assignment — at the 100x replica that
    re-join was the only non-broadcast shuffle in the cluster
    report."""
    cols = [
        F.col(id_col).alias("_cid"),
        as_double_array(vec_col).alias("_cv"),
        *(F.col(k) for k in keep),
    ]
    c = widen(df).select(*cols).transform(ckpt)
    _, cents = _train_centroids(
        c, n_centroids, iters, centroid_round, train_per_cell
    )
    return _nearest_cells(c, "_cv", cents, 1).select(
        F.col("_cid").alias(id_col),
        F.col("_cell").alias("cell"),
        *(F.col(k) for k in keep),
    )


def coarse_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    iters: int = 0,
    centroid_round: int | None = None,
    train_per_cell: int | None = None,
) -> DataFrame:
    """(cell, centroid): the coarse quantizer's centroid table itself,
    for consumers that need the cell REPRESENTATIVES alongside (or
    instead of) assignments — per-cell tightness audits, residual
    computation, assignment against pinned centroids. Deterministic
    companion of assign_cells (same trainer, same arguments → the
    identical table, so calling both never drifts); at iters=0 the
    centroids ARE the md5-smallest seed vectors, which is what keeps
    downstream cosine-to-centroid arithmetic SQL-expressible."""
    c = widen(df).select(
        F.col(id_col).alias("_cid"), as_double_array(vec_col).alias("_cv")
    ).transform(ckpt)
    _, cents = _train_centroids(
        c, n_centroids, iters, centroid_round, train_per_cell
    )
    return cents.select(
        F.col("_cell").alias("cell"), F.col("_centroid").alias("centroid")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int | None = 16,
    n_probe: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    centroid_round: int | None = None,
    train_per_cell: int | None = None,
    collapse_exact: bool = True,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a k-means coarse
    quantizer partitions the corpus into cells; each query probes only
    its `n_probe` nearest cells — candidate work drops by
    ~n_probe/n_centroids versus brute force.

    Deterministic end to end: centroids seed from the corpus vectors
    with the smallest md5(id) (a reproducible pseudo-random sample),
    Lloyd rounds are fixed-count, ties break on ascending cell id.
    `iters=0` keeps the seed vectors as fixed centroids — no Lloyd
    rounds, so the whole query is SQL-expressible and oracle-checked
    (queries._ivf_sql); Lloyd (`iters>0`, the production default) is
    iterative, its recall vs brute force pinned by a pytest floor
    (≥0.8 at the defaults — the full recall contract, including when
    to fall back to brute_force_topk, is in SCALING.md §"Recall
    contract"). Scoring is exact cosine on the candidates; cell
    pruning is the only approximation.

    `centroid_round`: round each centroid component to this many
    decimals after every Lloyd mean. The mean's floating-point fold
    order varies by engine and partition layout; snapping components
    to a decimal grid (1e-9 default in the catalog — ~7 orders wider
    than the fold's accumulated ulp error) makes every Lloyd round,
    and therefore every assignment, bit-reproducible across runs,
    partition counts, AND engines — which is what lets the Lloyd path
    be DuckDB-oracle-checked (queries._ivf_lloyd_sql) and not just
    recall-floor-tested. None preserves raw means.

    At scale the cell id is the natural partition key for a persisted
    index table: `corpus.writeTo(...).partitionedBy("_cell")` makes a
    query's probe list prune to n_probe partitions at the scan
    (`AND _cell IN (...)` → partition pruning, no shuffle).

    `n_centroids=None` auto-scales the cell count to
    max(16, ⌈√N⌉): with a FIXED cell count, candidates per query are
    n_probe·N/n_centroids — the whole query set then costs
    O(|Q|·N/16), quadratic when |Q| grows with N (the 100× stress
    measured the fixed-16 Lloyd form at 27 s → 1314 s for 10× data,
    48× — candidate growth, not engine overhead). √N cells keep both
    the per-query candidate set and the per-round assignment pass at
    O(N^1.5) total, the standard IVF balance; at 100 TB nobody should
    run a fixed 16. Recall at fixed n_probe drops as cells shrink —
    raise n_probe together with corpus growth to hold recall (the
    recall/fallback contract is in SCALING.md).

    `train_per_cell`: when set, Lloyd rounds train on a bounded
    DETERMINISTIC subsample of the corpus — the rows whose 60-bit
    md5(id) prefix falls below `min(1, train_per_cell·cells/N)` of the
    hash space — instead of every vector; the final cell assignment
    still scans the full corpus. This is the standard IVF trainer
    economics (FAISS trains its coarse quantizer on O(10²) vectors per
    centroid): with full-corpus training each Lloyd round is an
    O(N·cells·dim) assignment pass — at the 100× replica two of the
    three full-corpus passes — while centroid quality saturates long
    before N training samples. The hash-threshold sample is a
    scan-stage filter (no global sort, no shuffle), and both the
    fraction and the cut are IEEE-reproducible from integers, so the
    DuckDB oracle walks the identical sampled trajectory
    (queries._ivf_lloyd_sql train_per_cell). When the cap covers the
    whole corpus (train_per_cell·cells ≥ N) the threshold admits every
    row — small corpora train exactly as before. None (default) keeps
    unconditional full-corpus training, the oracle-pinned behavior of
    the fixed-cell forms.

    `collapse_exact` (default on): a d-way exact-duplicated corpus
    puts all d copies of a vector into the same cell, so the
    candidate-scoring stage pays q_dups × c_dups; with queries drawn
    from the corpus that is d² (35M scored pairs at the 100× replica).
    When a one-job xxhash64 probe of both sides shows duplication
    pays, the pair stage runs on unique-vector REPRESENTATIVES (each
    group's min id) only, and members come back as rows
    (`_collapsed_topk`): each query rep's top-(k+1) candidate reps
    (top-k without exclude_self) cover the member-level top-k, taking
    each group's k+1 smallest member ids. Centroids still train on the
    FULL corpus — seeds and Lloyd trajectories depend on member ids,
    so training on reps would change the quantizer; assignment,
    probing, scoring, and ranking are bit-identical to the plain plan
    (equality-tested on replicated fixtures). The probe declines the
    collapse when either side contains NULL-content vectors (the
    collapsed training's equality re-join on the vector would drop
    them), so such inputs keep the plain plan."""
    c = widen(corpus).select(
        F.col(id_col).alias("_cid"), as_double_array(vec_col).alias("_cv")
    ).transform(ckpt)
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("_qv")
    )
    do_collapse, c_mult, c_rows = (
        _collapse_gate([(c, "_cv"), (q, "_qv")])
        if collapse_exact
        else (False, None, None)
    )
    n_centroids, centroids = _train_centroids(
        c, n_centroids, iters, centroid_round, train_per_cell, dup_mult=c_mult,
        n_rows=c_rows,
    )
    if do_collapse:
        cgrp = _dup_groups(c, "_cid", "_cv")
        qgrp = _dup_groups(q, "query_id", "_qv")
        creps = cgrp.where(F.col("_r") == 1).select("_cid", "_cv")
        qreps = qgrp.where(F.col("_r") == 1).select("query_id", "_qv")
    else:
        creps, qreps = c, q

    # candidate verification stages norms per side (dot/(qn·cn) — the
    # same expression tree as cosine, so bit-equal) instead of three
    # folds per pair; the pair set is the big term (n_probe·N/cells
    # per query), so this is a ~3× cut on the dominant stage
    cells = (
        _nearest_cells(creps, "_cv", centroids, 1)
        .select("_cid", "_cv", "_cell")
        .withColumn("_cn", norm(F.col("_cv")))
    )
    probes = (
        _nearest_cells(qreps, "_qv", centroids, n_probe)
        .select("query_id", "_qv", "_cell")
        .withColumn("_qn", norm(F.col("_qv")))
    )
    cand = probes.join(cells, "_cell")
    if exclude_self and not do_collapse:
        cand = cand.where(F.col("query_id") != F.col("_cid"))
    sims = cand.select(
        "query_id",
        F.col("_cid").alias("neighbor_id"),
        F.round(
            dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")), 6
        ).alias("cos_sim"),
    )
    if not do_collapse:
        return _rank_topk(sims, "cos_sim", k)
    return _collapsed_topk(sims, "cos_sim", k, exclude_self, qgrp, cgrp)


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int | None = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_round: int | None = None,
    train_per_cell: int | None = None,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Persist an IVF index: the corpus written PARTITIONED BY its
    k-means cell, plus the centroid table alongside. A probe then reads
    only `n_probe` cell directories — partition pruning at the file
    level, the disk analogue of ivf_topk's candidate restriction.

    `n_centroids=None` auto-scales to max(16, ⌈√N⌉) — see ivf_topk;
    for a persisted index this is doubly important because the cell
    count is also the partition-directory count the probe prunes over.
    `centroid_round` / `train_per_cell` expose the shared trainer's
    determinism grid and bounded-sample knobs (see ivf_topk) so a
    persisted index can reproduce any oracle-pinned trajectory.

    `keep` persists payload columns of `corpus` (e.g. a label)
    alongside each vector, so audits over the partition — cluster
    report, cluster-balanced mixtures — read everything they need
    from the index and never re-pay the O(N·cells) assignment pass
    (r13 verdict ask #4: repeated audits probe, not recompute).

    Returns the centroid DataFrame (cell, centroid vector)."""
    c = widen(corpus).select(
        F.col(id_col).alias("_cid"), as_double_array(vec_col).alias("_cv"),
        *(F.col(k) for k in keep),
    ).transform(ckpt)
    n_centroids, centroids = _train_centroids(
        c, n_centroids, iters, centroid_round, train_per_cell
    )
    cells = _nearest_cells(c, "_cv", centroids, 1)
    (
        cells.select(
            F.col("_cid").alias(id_col), F.col("_cv").alias(vec_col),
            *(F.col(k) for k in keep), "_cell",
        )
        .write.mode("overwrite")
        .partitionBy("_cell")
        .parquet(f"{path}/vectors")
    )
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    return centroids


def query_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k against a persisted IVF index. The probe filter is
    `_cell IN (...)` over the partition column, so the parquet scan
    prunes to n_probe directories (check `.explain`: PartitionFilters)."""
    centroids = spark.read.parquet(f"{path}/centroids")
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("_qv")
    )
    probes = _nearest_cells(q, "_qv", centroids, n_probe).withColumn(
        "_qn", norm(F.col("_qv"))
    )
    vectors = spark.read.parquet(f"{path}/vectors")
    cand = probes.join(
        vectors.select(
            F.col(id_col).alias("neighbor_id"),
            as_double_array(vec_col).alias("_cv"),
            "_cell",
        ).withColumn("_cn", norm(F.col("_cv"))),
        "_cell",
    )
    if exclude_self:
        cand = cand.where(F.col("query_id") != F.col("neighbor_id"))
    sims = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")), 6
        ).alias("cos_sim"),
    )
    return _rank_topk(sims, "cos_sim", k)


def build_pq_index(
    corpus: DataFrame,
    path: str,
    m: int = 8,
    ks: int = 16,
    pq_iters: int = 1,
    n_centroids: int | None = None,
    coarse_iters: int = 0,
    centroid_round: int | None = 9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Persist a PQ-coded IVF index: (id, codes) rows written
    PARTITIONED BY coarse cell, with the centroid table and PQ
    codebook alongside — the form a 100 TB embedding store actually
    ships (r14 VERDICT ask #7). The codes file stores m small ints per
    vector instead of dim floats (32× at dim=64/m=8), and a probe
    reads only n_probe cell directories + the broadcast codebook.

    Training (coarse + PQ) follows ivfpq_topk's exact deterministic
    trajectory on the FULL corpus, so query_pq_index over this index
    returns bit-identical rows to the in-query ivfpq_topk — one DuckDB
    oracle covers both. Assignment and encoding collapse to distinct
    vectors when a fanout probe shows duplication pays (codes and
    cells are pure functions of the vector; the per-id expansion is an
    equality join on the vector itself, so no hash-collision exposure),
    declining on NULL-content vectors like every other collapse.

    Returns the centroid DataFrame."""
    c = widen(corpus).select(
        F.col(id_col).alias("_cid"), as_double_array(vec_col).alias("_cv")
    ).transform(ckpt)
    dim_row = c.select(F.size("_cv").alias("_d")).first()
    if dim_row is None:
        raise ValueError("build_pq_index: empty corpus")
    dim = int(dim_row["_d"])
    if dim % m != 0:
        raise ValueError(f"build_pq_index: dim {dim} not divisible by m={m}")
    sub = dim // m
    do_collapse, c_mult, c_rows = _collapse_gate([(c, "_cv")])
    n_centroids, centroids = _train_centroids(
        c, n_centroids, coarse_iters, centroid_round, dup_mult=c_mult,
        n_rows=c_rows,
    )
    cb = pq_train(
        c, m, ks, sub, iters=pq_iters, centroid_round=centroid_round,
        dup_mult=c_mult,
    )
    if do_collapse:
        uniqv = c.select("_cv").distinct().transform(ckpt_lazy)
        cells_u = _nearest_cells(uniqv, "_cv", centroids, 1).select(
            F.col("_cv").alias("_key"), "_cell"
        )
        subs_u = _subvectors(
            uniqv.select(F.col("_cv").alias("_key"), "_cv"), "_cv", m, sub
        )
        codes_u = (
            _nearest_code(subs_u, cb)
            .groupBy("_key")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_j", "_code"))),
                    lambda s: s["_code"],
                ).alias("_codes")
            )
        )
        per_id = (
            c.join(cells_u, c["_cv"] == cells_u["_key"]).drop("_key")
            .join(codes_u, c["_cv"] == codes_u["_key"]).drop("_key")
        )
    else:
        cells = _nearest_cells(c, "_cv", centroids, 1).select("_cid", "_cell")
        per_id = c.join(cells, "_cid").join(pq_encode(c, cb, m, sub), "_cid")
    (
        per_id.select(F.col("_cid").alias(id_col), "_codes", "_cell")
        .write.mode("overwrite")
        .partitionBy("_cell")
        .parquet(f"{path}/codes")
    )
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    cb.write.mode("overwrite").parquet(f"{path}/codebook")
    # persist the geometry so a probe can't be called with mismatched
    # m/ks/sub (silent wrong ADC) — one tiny parquet row
    corpus.sparkSession.createDataFrame(
        [(m, ks, sub)], "m int, ks int, sub int"
    ).write.mode("overwrite").parquet(f"{path}/meta")
    return centroids


def append_to_pq_index(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors to a persisted PQ index WITHOUT retraining —
    the FAISS add-after-train contract, and the missing lifecycle rung
    between build_pq_index and query_pq_index (a 100 TB store trains
    its quantizers once and appends arriving shards forever; a rebuild
    per batch would re-scan the corpus). The batch is assigned against
    the FROZEN centroid table and encoded against the FROZEN codebook,
    then appended to the cell-partitioned codes file — batch-sized
    work, corpus never touched. Drift is the operator's disclosed
    trade: heavy distribution shift degrades cell balance and ADC
    fidelity until a rebuild (embed_recall_report is the audit that
    would show it)."""
    meta = spark.read.parquet(f"{path}/meta").first()
    m, ks, sub = int(meta["m"]), int(meta["ks"]), int(meta["sub"])
    centroids = spark.read.parquet(f"{path}/centroids")
    cb = spark.read.parquet(f"{path}/codebook")
    b = widen(batch).select(
        F.col(id_col).alias("_cid"), as_double_array(vec_col).alias("_cv")
    ).transform(ckpt_lazy)
    dim_row = b.select(F.size("_cv").alias("_d")).first()
    if dim_row is None:
        return  # empty batch: nothing to append
    if int(dim_row["_d"]) != m * sub:
        raise ValueError(
            f"append_to_pq_index: batch dim {int(dim_row['_d'])} != "
            f"index geometry m*sub = {m * sub} (ks={ks})"
        )
    cells = _nearest_cells(b, "_cv", centroids, 1).select("_cid", "_cell")
    codes = pq_encode(b, cb, m, sub)
    (
        cells.join(codes, "_cid")
        .select(F.col("_cid").alias(id_col), "_codes", "_cell")
        .write.mode("append")
        .partitionBy("_cell")
        .parquet(f"{path}/codes")
    )


def query_pq_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    collapse_exact: bool = True,
) -> DataFrame:
    """Top-k against a persisted PQ index by asymmetric distance: the
    query probes n_probe cell directories of the codes file (m ints
    per candidate — the scan is ~dim·8/m× smaller than a raw-vector
    index), builds its dense ADC LUT from the broadcast codebook (the
    ivfpq_topk join form), and ranks sum-of-LUT lookups. Bit-identical
    to ivfpq_topk run in-query with the same geometry.

    Query-side exact-dup collapse (the ivf/ivfpq contract): duplicate
    query vectors share cells, LUT, and every ADC distance, so the
    probe/score stages run on distinct-vector representatives and each
    member takes its top-k from its rep's top-(k+1) candidates (top-k
    without exclude_self; the +1 covers the member's own exclusion).
    The index stores per-id codes, so candidates are already members
    and only the query side expands (`_collapsed_topk`). Declines on
    NULL-content query vectors like every other collapse."""
    meta = spark.read.parquet(f"{path}/meta").first()
    m, ks, sub = int(meta["m"]), int(meta["ks"]), int(meta["sub"])
    centroids = spark.read.parquet(f"{path}/centroids")
    cb = spark.read.parquet(f"{path}/codebook")
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("_qv")
    )
    do_collapse = collapse_exact and _collapse_gate([(q, "_qv")])[0]
    if do_collapse:
        qgrp = _dup_groups(q, "query_id", "_qv")
        qreps = qgrp.where(F.col("_r") == 1).select("query_id", "_qv")
    else:
        qreps = q
    probes = _nearest_cells(qreps, "_qv", centroids, n_probe).select(
        "query_id", "_qv", "_cell"
    )
    qsubs = _subvectors(
        qreps.select("query_id", F.col("_qv").alias("_cv")), "_cv", m, sub
    )
    lut_tbl = (
        qsubs.join(F.broadcast(cb), "_j")
        .select(
            "query_id",
            (F.col("_j") * ks + F.col("_code") - 1).cast("int").alias("_idx"),
            _l2sq(F.col("_sv"), F.col("_cw")).alias("_d"),
        )
        .groupBy("query_id")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("_idx", "_d"))).alias(
                "_lm"
            )
        )
        .select(
            "query_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(m * ks - 1)),
                lambda idx: F.element_at(F.col("_lm"), idx.cast("int")),
            ).alias("_lut"),
        )
    )
    codes = spark.read.parquet(f"{path}/codes")
    cand = (
        probes.drop("_qv")
        .join(lut_tbl, "query_id")
        .join(
            codes.select(
                F.col(id_col).alias("neighbor_id"), "_codes", "_cell"
            ),
            "_cell",
        )
    )
    if exclude_self and not do_collapse:
        cand = cand.where(F.col("query_id") != F.col("neighbor_id"))
    score = F.round(
        F.aggregate(
            F.zip_with(
                F.col("_codes"),
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda code, j: F.element_at(
                    F.col("_lut"), (j * ks + code).cast("int")
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    sims = cand.select("query_id", "neighbor_id", score.alias("adc_dist"))
    if not do_collapse:
        return _rank_topk(sims, "adc_dist", k, ascending=True)
    return _collapsed_topk(
        sims, "adc_dist", k, exclude_self, qgrp, ascending=True
    )


def int8_quantize(vec: Column) -> Column:
    """Per-vector symmetric int8 (SQ8) quantization: scale = max|x|/127,
    codes[i] = round(x[i] * 127 / max|x|) ∈ [-127, 127].

    Returns struct(codes array<int>, scale double). Dequantize with
    `int8_dequantize`; for cosine the scale cancels entirely, so
    similarity runs on the raw codes (see `int8_topk`). A zero vector
    quantizes to all-zero codes with scale 0 (no ANSI divide-by-zero).

    At 100 TB this is the memory lever for ANN: 1-byte codes + one
    double scale vs 4-byte floats ≈ 4× smaller corpus scan/broadcast,
    and the codes column is what a persisted index (build_ivf_index)
    should store. The max-abs fold is bound once as a lambda variable
    (transform over a 1-element array) so it is NOT re-evaluated per
    element — the documented HOF re-evaluation trap.
    """
    m = F.aggregate(vec, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    return F.element_at(
        F.transform(
            F.array(m),
            lambda mm: F.struct(
                F.when(
                    mm > 0,
                    F.transform(vec, lambda x: F.round(x * F.lit(127.0) / mm).cast("int")),
                )
                .otherwise(F.transform(vec, lambda x: F.lit(0)))
                .alias("codes"),
                (mm / F.lit(127.0)).alias("scale"),
            ),
        ),
        1,
    )


def int8_dequantize(quant: Column) -> Column:
    """Reconstruct array<double> from an `int8_quantize` struct:
    codes[i] * scale. The scale is bound as a lambda variable (same
    re-evaluation guard as in int8_quantize)."""
    return F.element_at(
        F.transform(
            F.array(quant["scale"]),
            lambda s: F.transform(quant["codes"], lambda x: x.cast("double") * s),
        ),
        1,
    )


def int8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Symmetric quantized top-k: both sides reduced to int8 codes, then
    exact cosine over the codes. Because cosine is scale-invariant, the
    per-vector scale cancels — the similarity IS the cosine of the
    quantized vectors, no dequantization in the hot loop.

    Numerically this is the friendliest ANN variant to verify: the
    codes are small integers, so dot products and squared norms are
    EXACT in double arithmetic (well under 2^53) — fold order cannot
    produce engine-dependent ulps, and the oracle reproduces the
    numbers bit-for-bit before the final rounded division.

    Output: (query_id, neighbor_id, rank, cos_sim) — same contract as
    brute_force_topk; recall vs the full-precision exact top-k is
    pinned by test_int8_recall_floor (≥0.8 — full contract in
    SCALING.md §"Recall contract"). At scale, compose with LSH/IVF
    blocking for candidate reduction; quantization cuts the bytes per
    candidate, blocking cuts the candidate count — independent levers.
    """
    def _codes(df: DataFrame, out_id: str) -> DataFrame:
        d = df.select(
            F.col(id_col).alias(out_id),
            int8_quantize(as_double_array(vec_col))["codes"].alias("_codes"),
        )
        cv = F.transform(F.col("_codes"), lambda x: x.cast("double"))
        return d.select(out_id, cv.alias("_v")).select(
            out_id, "_v", norm(F.col("_v")).alias("_n")
        )

    q = _codes(queries, "query_id").withColumnRenamed("_v", "_qv").withColumnRenamed("_n", "_qn")
    c = _codes(widen(corpus), "neighbor_id").withColumnRenamed("_v", "_cv").withColumnRenamed("_n", "_cn")
    pairs = F.broadcast(q).crossJoin(c)
    if exclude_self:
        pairs = pairs.where(F.col("query_id") != F.col("neighbor_id"))
    sims = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")), 6
        ).alias("cos_sim"),
    )
    return _rank_topk(sims, "cos_sim", k)


def binary_quantize(vec: Column, dim: int) -> Column:
    """Pack per-dimension sign bits into array<long> words (1 bit per
    dimension, 64 dims per word): bit_i = 1 iff v[i] >= 0.

    Word w covers dims [w*64, (w+1)*64): each word folds its slice
    MSB-first (acc<<1 | bit), so dim order is pinned and a trailing
    partial word simply holds fewer shifted bits. The top bit making
    the long negative is irrelevant — consumers only XOR and popcount.

    This is the 1-bit rung of the quantization ladder (float32 → SQ8 →
    PQ → sign bits): 32× smaller than float, and Hamming distance over
    the packed words is pure JVM integer work (XOR + bit_count inside
    whole-stage codegen) — the cheapest possible first-stage filter
    for a 100 TB vector corpus.
    """
    words = []
    for w in range((dim + 63) // 64):
        lo = w * 64 + 1  # F.slice is 1-based
        n = min(64, dim - w * 64)
        words.append(
            F.aggregate(
                F.slice(vec, lo, n),
                F.lit(0).cast("long"),
                lambda acc, x: F.shiftleft(acc, 1)
                + F.when(x >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
            )
        )
    return F.array(*words)


def hamming_words(a: Column, b: Column) -> Column:
    """Hamming distance between two equal-length packed-word arrays:
    Σ bit_count(a[i] XOR b[i]). Integer-exact, codegen-friendly."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("int")


def binary_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    candidates: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """1-bit quantized top-k: sign-bit Hamming prefilter + exact cosine
    rerank.

    Stage 1 scans only the packed words (dim/64 longs ≈ 32× fewer bytes
    than the float vectors) against the broadcast query signatures and
    keeps the `candidates` smallest-Hamming ids per query (ties broken
    by neighbor_id — deterministic, oracle-reproducible). Stage 2 joins
    ONLY those candidate rows back to the raw vectors and reranks by
    exact cosine. At 100 TB the corpus-wide pass therefore touches 8
    bytes per vector per word, and the float vectors are read for
    C·|queries| rows total — the standard two-stage shape binary
    embeddings (sign of a random-projection or learned embedding) are
    shipped for.

    Sign-bit Hamming approximates angle: P[sign differs on dim i] =
    θ/π for random hyperplanes, so smaller Hamming ⇔ higher cosine in
    expectation; the rerank restores exact ordering within the
    candidate pool. Recall vs brute-force is pinned by test (the
    candidate pool, default 4k, is the recall lever).

    Output: (query_id, neighbor_id, rank, hamming, cos_sim) — the
    brute_force_topk contract plus the stage-1 Hamming distance.
    """
    cand = candidates or 4 * k

    def _packed(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            binary_quantize(as_double_array(vec_col), dim).alias("_w"),
        )

    q = _packed(queries, "query_id").withColumnRenamed("_w", "_qw")
    c = _packed(widen(corpus), "neighbor_id")
    pairs = F.broadcast(q).crossJoin(c)
    if exclude_self:
        pairs = pairs.where(F.col("query_id") != F.col("neighbor_id"))
    ham = pairs.select(
        "query_id", "neighbor_id", hamming_words(F.col("_qw"), F.col("_w")).alias("hamming")
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    pool = ham.withColumn("_cr", F.row_number().over(wc)).where(F.col("_cr") <= cand)

    vecs = corpus.select(
        F.col(id_col).alias("_vid"), as_double_array(vec_col).alias("_v")
    ).select("_vid", "_v", norm(F.col("_v")).alias("_n"))
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("_qv")
    ).select("query_id", "_qv", norm(F.col("_qv")).alias("_qn"))
    scored = (
        pool.join(F.broadcast(qv), "query_id")
        .join(vecs, pool["neighbor_id"] == vecs["_vid"])
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            F.round(
                dot(F.col("_qv"), F.col("_v")) / (F.col("_qn") * F.col("_n")), 6
            ).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, "cos_sim", k, keep=("hamming",))


def near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
    n_planes: int = 16,
    bands: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥ threshold).

    DEFAULT = LSH-band blocking: the random-hyperplane signature
    (n_planes sign bits, md5-derived planes → deterministic across runs
    and engines) is split into `bands` band keys; candidate pairs are
    those colliding in ≥1 band (a bucket EQUI-join — shuffle on compact
    band keys, never a cross join), then the exact cosine is re-verified
    against `threshold`. Candidate work scales with bucket occupancy,
    not n² — this is the plan that survives 100 TB.

    Recall is the LSH trade: a true pair at angle θ collides in a band
    with prob (1-θ/π)^(n_planes/bands); higher thresholds → higher
    recall (e.g. ≥0.95 → ~0.43/band, ~0.89 overall with 16/4). The
    blocking is deterministic, so an oracle that bakes the same plane
    literals reproduces the output exactly.

    `exact=True` opts into the all-pairs O(n²) cross join — correct and
    complete, for modest corpora only (or as a recall yardstick).
    """
    df = widen(df)
    base = df.select(
        F.col(id_col).alias("_id"), as_double_array(vec_col).alias("_v")
    ).select("_id", "_v", norm(F.col("_v")).alias("_n"))
    if exact:
        a = base.select(
            F.col("_id").alias("id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na")
        )
        b = base.select(
            F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb")
        )
        pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
        return (
            pairs.select(
                "id_a",
                "id_b",
                F.round(
                    dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
                ).alias("cos_sim"),
            )
            .where(F.col("cos_sim") >= threshold)
        )
    planes = [_plane(s, dim) for s in range(n_planes)]
    rows_per_band = n_planes // bands
    # signature computed once per row; eager checkpoint because three
    # branches (both band sides + verification) read it
    sigd = base.select(
        "_id", "_v", "_n", lsh_signature(F.col("_v"), planes).alias("_sig")
    ).transform(ckpt)
    banded = sigd.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.substring("_sig", b * rows_per_band + 1, rows_per_band).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_bd"),
    ).select("_id", F.col("_bd.band").alias("_b"), F.col("_bd.key").alias("_k"))
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a._b") == F.col("b._b"))
            & (F.col("a._k") == F.col("b._k"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = sigd.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na"))
    vb = sigd.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


# the vector searchers and semantic_dedup run their exact-duplicate
# collapse only when the probed dup-fanout multiplier (sum(n_g²)/sum(n_g)
# over identical-vector groups) exceeds this — below it, the collapse's
# extra grouping + expansion joins cost more than the pair savings.
SEMDEDUP_COLLAPSE_FANOUT_THRESHOLD = 2.0


def _null_vec_flag(col: str) -> Column:
    """1 when the vector is NULL or contains a null element. Such rows
    decline the exact-dup collapse everywhere it is offered: SQL array
    equality with a null element is never true, so the collapse's
    equality joins (`groupBy(_cv)` expansion, Lloyd's training
    re-join) silently drop those rows and the output/centroids would
    diverge from the plain plan, breaking the bit-identical contract
    (ADVICE r6 #1). The flag rides _collapse_gate's job so the decision
    costs no extra job."""
    return (
        F.col(col).isNull()
        | F.coalesce(F.exists(col, lambda x: x.isNull()), F.lit(False))
    ).cast("int")


def _collapse_gate(
    sides: list[tuple[DataFrame, str]],
) -> tuple[bool, float | None, int | None]:
    """The ONE dup-fanout gate job of the vector collapses. `sides` are
    (frame, vector column) pairs; one aggregate over an xxhash64 and a
    null-content flag per vector yields, per side, the fanout
    multiplier sum(n²)/sum(n), the null count and the row count —
    ~sixty bytes over the wire regardless of corpus size.

    Returns (collapse, training multiplier, first side's row count).
    Collapse when no side has NULL content and the product of the
    sides' multipliers exceeds SEMDEDUP_COLLAPSE_FANOUT_THRESHOLD. The
    training multiplier is the first side's, for the trainers'
    `dup_mult`, and None when any side has NULL content. The row count
    is the sum of the group counts, exactly that side's .count() (None
    for an empty side), so callers that need N — the auto ⌈√N⌉ cell
    count, the train_per_cell sample cut — skip a count job."""
    rows = None
    for i, (df, col) in enumerate(sides):
        part = df.select(
            F.lit(i).alias("_side"),
            F.xxhash64(col).alias("_h"),
            _null_vec_flag(col).alias("_nul"),
        )
        rows = part if rows is None else rows.unionByName(part)
    agg = (
        rows.groupBy("_side", "_h")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("_nul").alias("_nuls"))
        .groupBy("_side")
        .agg(
            (F.sum(F.col("_n") * F.col("_n")) / F.sum("_n")).alias("_mult"),
            F.sum("_nuls").alias("_nulls"),
            F.sum("_n").alias("_rows"),
        )
        .collect()
    )
    stats = {
        r["_side"]: (
            float(r["_mult"] or 1.0), int(r["_nulls"] or 0), int(r["_rows"] or 0)
        )
        for r in agg
    }
    mults, nulls, n_rows = zip(
        *(stats.get(i, (1.0, 0, None)) for i in range(len(sides)))
    )
    clean = sum(nulls) == 0
    return (
        clean and math.prod(mults) > SEMDEDUP_COLLAPSE_FANOUT_THRESHOLD,
        mults[0] if clean else None,
        n_rows[0],
    )


def _dup_groups(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Every row of `df` plus `_rep`, the minimum id of its
    exact-duplicate group, and `_r`, its id rank inside the group: one
    window pass, lazily checkpointed because the representatives
    (`_r == 1`) and the member expansion both read it. Groups are exact
    vector equality; the xxhash64 partition key only lets the sort
    compare arrays on hash ties."""
    w = Window.partitionBy(F.xxhash64(vec_col), vec_col).orderBy(id_col)
    return df.select(
        "*", F.min(id_col).over(w).alias("_rep"), F.row_number().over(w).alias("_r")
    ).transform(ckpt_lazy)


def _collapsed_topk(
    sims: DataFrame,
    score: str,
    k: int,
    exclude_self: bool,
    q_groups: DataFrame,
    c_groups: DataFrame | None = None,
    ascending: bool = False,
) -> DataFrame:
    """Member-level top-k from representative-level scores. `sims` is
    (query_id, neighbor_id, score) for the query reps of `q_groups` (a
    `_dup_groups` frame keyed query_id) against candidate reps of
    `c_groups` (keyed _cid), or against member ids already when
    `c_groups` is None.

    Cover rule: each query rep keeps its top `keep` candidates, keep =
    k+1 under exclude_self and k otherwise; they join to each
    candidate group's `keep` smallest ids and to every member of the
    query's group, self pairs drop, and `_rank_topk` ranks again.
    Exact because members of a group share every score and, on equal
    scores, the group with the smaller rep id comes first: a member
    outside the rep top-`keep`, or outside its group's `keep` smallest
    ids, has `keep` members ahead of it, at most one of them the query
    itself."""
    keep = k + 1 if exclude_self else k
    top = _rank_topk(sims, score, keep, ascending).drop("rank")
    if c_groups is not None:
        top = top.join(
            c_groups.where(F.col("_r") <= keep).select(
                F.col("_rep").alias("neighbor_id"), "_cid"
            ),
            "neighbor_id",
        ).select("query_id", F.col("_cid").alias("neighbor_id"), score)
    pairs = q_groups.select("query_id", "_rep").join(
        top.withColumnRenamed("query_id", "_rep"), "_rep"
    )
    if exclude_self:
        pairs = pairs.where(F.col("query_id") != F.col("neighbor_id"))
    return _rank_topk(pairs, score, k, ascending)


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_centroids: int | None = None,
    iters: int = 0,
    centroid_round: int | None = None,
    collapse_exact: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pruning (Abbas et al.
    2023): cluster the embedding space with the same deterministic
    md5-seeded coarse quantizer as ivf_topk, then mark a vector a
    DUPLICATE when some same-cell vector with a smaller id has cosine
    >= threshold. Output: (dup_id, keep_id, cos_sim), one row per
    duplicate, keep_id = the SMALLEST qualifying same-cell id (ties
    impossible — ids are distinct). Downstream pruning drops every
    dup_id and keeps the rest; chains resolve naturally because a
    keep_id that is itself a duplicate also appears as a dup_id row.

    This completes the dedup family: exact / MinHash-LSH / SimHash /
    n-gram Jaccard catch LEXICAL duplication; LSH-bucketed
    near_dup_pairs catches embedding near-identity by random
    hyperplanes; semantic_dedup is the cluster-blocked form that
    training-data pipelines run over learned embeddings, where cell
    blocking bounds pair work at O(N^2/cells) total — with the
    default auto cells = max(16, ceil(sqrt(N))) that is O(N^1.5),
    the same balance as the IVF scale form, and each cell's pair job
    shuffles only that cell's vectors. Like every approximate family
    here, blocking affects RECALL only (a cross-cell near-duplicate
    is missed, the paper's accepted trade); reported pairs carry
    exact cosine.

    Deterministic end to end (seeding, assignment ties on ascending
    cell, rounded cosine), so the whole operator is SQL-expressible
    and oracle-checked at iters=0 (queries._semantic_dedup_sql).
    iters>0 adds Lloyd refinement with the same determinism contract
    as ivf_topk (pass centroid_round to pin cross-engine).

    `collapse_exact` (default on): on a d-way exact-duplicated corpus
    the within-cell pair stage pays d² (every replica of a vector lands
    in the same cell), measured 108 s at the 100× replica. Because the
    output is keep-ONE-per-duplicate (not all pairs), collapsing each
    identical-vector group to its min-id representative is exactly
    output-preserving: centroids still train on the FULL corpus (so
    cell assignment — and therefore recall — is bit-identical to the
    plain plan), the pair stage runs on representatives only, and
    members expand back by two linear joins. The expansion rule falls
    out of the keep-one window: for the min member of group A the
    answer IS the rep-level row; for every other member m the smallest
    qualifying id is min(rep_A, best cross-group keep of rep_A) — the
    cross-group best already < rep_A by the pair orientation, so
    keep(m) = coalesce(rep-level keep, rep_A) with the group's own
    rounded self-cosine on the rep_A fallback, independent of m. The
    fallback is gated on that self-cosine reaching the threshold, the
    same comparison the plain pair stage makes: a NaN vector's
    self-cosine is NaN, which passes it (Spark orders NaN above every
    number), and a zero-norm vector raises in both plans (module
    precondition). A one-job xxhash64 dup-fanout probe (the fuzzy
    collapse gate pattern) skips all collapse stages on low-dup
    corpora, so they pay one tiny hash-aggregate and nothing else."""
    c = widen(df).select(
        F.col(id_col).alias("_cid"), as_double_array(vec_col).alias("_cv")
    ).transform(ckpt)
    groups: DataFrame | None = None
    collapse, mult, c_rows = (
        _collapse_gate([(c, "_cv")]) if collapse_exact else (False, None, None)
    )
    if collapse:
        # exact grouping on the vector itself (not the hash — a
        # collision must not merge distinct vectors)
        groups = (
            c.groupBy("_cv")
            .agg(F.min("_cid").alias("_rep"))
            .transform(ckpt_lazy)
        )
    pool = (
        groups.select(F.col("_rep").alias("_cid"), "_cv")
        if groups is not None
        else c
    )
    n_centroids, centroids = _train_centroids(
        c, n_centroids, iters, centroid_round, dup_mult=mult, n_rows=c_rows
    )
    cells = (
        _nearest_cells(pool, "_cv", centroids, 1)
        .select("_cid", "_cv", "_cell")
        .withColumn("_n", norm(F.col("_cv")))
    )
    pairs = cells.alias("a").join(
        cells.alias("b"),
        (F.col("a._cell") == F.col("b._cell"))
        & (F.col("a._cid") > F.col("b._cid")),
    )
    sims = pairs.select(
        F.col("a._cid").alias("dup_id"),
        F.col("b._cid").alias("keep_id"),
        F.round(
            dot(F.col("a._cv"), F.col("b._cv")) / (F.col("a._n") * F.col("b._n")),
            6,
        ).alias("cos_sim"),
    ).where(F.col("cos_sim") >= threshold)
    w = Window.partitionBy("dup_id").orderBy(F.col("keep_id").asc())
    out = (
        sims.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    if groups is None:
        return out
    out = out.transform(ckpt_lazy)  # reused: rep rows + expansion join
    selfcos = F.round(
        dot(F.col("_cv"), F.col("_cv"))
        / (norm(F.col("_cv")) * norm(F.col("_cv"))),
        6,
    )
    members = (
        c.join(
            groups.withColumn("_selfcos", selfcos).select(
                "_cv", "_rep", "_selfcos"
            ),
            "_cv",
        )
        .where(F.col("_cid") != F.col("_rep"))
        .select("_cid", "_rep", "_selfcos")
    )
    expanded = (
        members.join(
            out.select(
                F.col("dup_id").alias("_rep2"),
                F.col("keep_id").alias("_bk"),
                F.col("cos_sim").alias("_bc"),
            ),
            F.col("_rep") == F.col("_rep2"),
            "left",
        )
        .where(F.col("_bk").isNotNull() | (F.col("_selfcos") >= threshold))
        .select(
            F.col("_cid").alias("dup_id"),
            F.coalesce("_bk", "_rep").alias("keep_id"),
            F.coalesce("_bc", "_selfcos").alias("cos_sim"),
        )
    )
    return out.unionByName(expanded)


# =============================================================================
# Product quantization (PQ) — the 16-32× compression rung of the ANN
# ladder (brute → LSH → IVF → SQ8 → PQ). Jégou et al. 2011 ("Product
# Quantization for Nearest Neighbor Search", public); FAISS's IVFPQ is
# the reference production shape.
# =============================================================================


def _l2sq(a: Column, b: Column) -> Column:
    """Rounded squared L2 via the dot-product identity
    ||a−b||² = a·a + b·b − 2·a·b — three sequential folds plus exact
    arithmetic, the SAME expression tree the DuckDB oracle computes
    with list_dot_product, so the rounded value is engine-stable
    (the LSH sign-bit oracles already certify the fold parity)."""
    return F.round(dot(a, a) + dot(b, b) - F.lit(2.0) * dot(a, b), 6)


def _subvectors(df: DataFrame, vec_col: str, m: int, sub: int) -> DataFrame:
    """One row per (input row, subspace j): the j-th `sub`-wide slice
    of the vector. j is 0-based; slicing is static (unrolled per j) so
    it stays a scan-stage projection."""
    return df.select(
        "*",
        F.posexplode(
            F.array(
                *[F.slice(F.col(vec_col), j * sub + 1, sub) for j in range(m)]
            )
        ).alias("_j", "_sv"),
    ).drop(vec_col)


def _pq_seed_codebook(c: DataFrame, m: int, ks: int, sub: int) -> DataFrame:
    """Initial codebook: the ks corpus vectors with the smallest
    md5(id) (the repo's deterministic pseudo-random sample — the same
    seed rule as _train_centroids), sub-sliced per subspace. Output
    (_j, _code, _cw), codes 1..ks within every subspace."""
    seeds = (
        c.select(
            "_cv",
            F.md5(F.col("_cid").cast("string").cast("binary")).alias("_h"),
        )
        .orderBy("_h")
        .limit(ks)
    )
    coded = seeds.select(
        F.row_number().over(Window.orderBy("_h")).alias("_code"), "_cv"
    )
    return _subvectors(coded, "_cv", m, sub).select(
        "_j", "_code", F.col("_sv").alias("_cw")
    )


def _nearest_code(subs: DataFrame, codebook: DataFrame) -> DataFrame:
    """Attach the nearest codeword id to every (row, subspace) subrow:
    min by (rounded squared L2 asc, code asc). The whole codebook
    (m·ks rows — 128 structs at the defaults) collapses to ONE
    broadcast row; the argmin is an in-row array_sort over the rows of
    the subrow's own subspace — no shuffle, no window (the
    _nearest_cells pattern applied per subspace)."""
    one = codebook.agg(
        F.array_sort(
            F.collect_list(F.struct("_j", "_code", "_cw"))
        ).alias("_cbs")
    )
    picked = F.element_at(
        F.array_sort(
            F.transform(
                F.filter(F.col("_cbs"), lambda s: s["_j"] == F.col("_j")),
                lambda s: F.struct(
                    _l2sq(F.col("_sv"), s["_cw"]).alias("_d"),
                    s["_code"].alias("_code"),
                ),
            )
        ),
        1,
    )
    return (
        subs.crossJoin(F.broadcast(one))
        .withColumn("_code", picked["_code"])
        .drop("_cbs")
    )


def pq_train(
    c: DataFrame,
    m: int,
    ks: int,
    sub: int,
    iters: int = 1,
    centroid_round: int | None = 9,
    dup_mult: float | None = None,
) -> DataFrame:
    """Train per-subspace PQ codebooks with the repo's deterministic
    k-means recipe: md5-seeded initial codewords, fixed-count Lloyd
    rounds, every mean snapped to `centroid_round` decimals so the
    trajectory is bit-reproducible across runs, partition layouts AND
    engines (the ivf_topk centroid_round contract — what lets the PQ
    path be DuckDB-oracle-checked rather than only recall-floored).

    `c` is the canonical (_cid, _cv) frame. All m subspaces train in
    ONE plan: subrows are keyed (_j, _code), so each Lloyd round is a
    single broadcast-argmin projection plus one (j, code, pos)-keyed
    mean — never a per-subspace job loop. Returns (_j, _code, _cw).

    `dup_mult` (the caller's already-probed identical-vector fanout;
    only pass it for null-free corpora — the _train_centroids
    contract): above the collapse threshold each Lloyd round runs the
    argmin on DISTINCT (subspace, subvector) pairs and joins the codes
    back, so the means stay member-weighted and bit-identical while
    the broadcast-argmin work drops by the duplication factor (the
    x100 docs capstone: 4M subrows → 40k distinct)."""
    subs = _subvectors(c.select("_cid", "_cv"), "_cv", m, sub)
    cb = _pq_seed_codebook(c, m, ks, sub).transform(ckpt)
    collapse_train = (
        dup_mult is not None and dup_mult > SEMDEDUP_COLLAPSE_FANOUT_THRESHOLD
    )
    uniq = None
    if collapse_train and iters > 0:
        uniq = subs.select("_j", "_sv").distinct().transform(ckpt)
    for _ in range(iters):
        if uniq is not None:
            code_u = _nearest_code(uniq, cb).select("_j", "_sv", "_code")
            assigned = subs.join(code_u, ["_j", "_sv"]).select(
                "_j", "_code", "_sv"
            )
        else:
            assigned = _nearest_code(subs, cb)
        means = (
            assigned.select(
                "_j", "_code", F.posexplode("_sv").alias("_pos", "_x")
            )
            .groupBy("_j", "_code", "_pos")
            .agg(F.avg("_x").alias("_m"))
        )
        if centroid_round is not None:
            means = means.withColumn("_m", F.round("_m", centroid_round))
        cb = (
            means.groupBy("_j", "_code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_m"))),
                    lambda s: s["_m"],
                ).alias("_cw")
            )
            .transform(ckpt)
        )
    return cb


def pq_encode(c: DataFrame, codebook: DataFrame, m: int, sub: int) -> DataFrame:
    """Encode every vector as its array of m nearest-codeword ids
    (j-ordered). Output (_cid, _codes array<int>) — at ks ≤ 256 each
    code is one byte of information, so the encoded corpus is ~dim·4/m
    × smaller than float32 (32× at dim=64, m=8 vs 256 B/vector); the
    persisted form of a 100 TB embedding store scans codes + one
    codebook broadcast instead of raw vectors."""
    enc = _nearest_code(_subvectors(c, "_cv", m, sub), codebook)
    return enc.groupBy("_cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_j", "_code"))),
            lambda s: s["_code"],
        ).alias("_codes")
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = 8,
    ks: int = 16,
    pq_iters: int = 1,
    n_centroids: int | None = 16,
    n_probe: int = 4,
    coarse_iters: int = 0,
    centroid_round: int | None = 9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    residual: bool = False,
    collapse_exact: bool = True,
) -> DataFrame:
    """IVF-PQ approximate top-k: the IVF coarse quantizer restricts
    candidates to each query's `n_probe` nearest cells (the existing
    md5-seeded trainer — coarse_iters=0 keeps fixed seed centroids,
    the SQL-expressible form; >0 runs snapped Lloyd rounds), and
    candidate DISTANCES are computed from PQ codes by asymmetric
    distance computation (ADC): per query, a lookup table of the m·ks
    query-subvector↔codeword squared distances is built ONCE as an
    in-row array over the broadcast codebook; each candidate then
    costs m array lookups + adds instead of a dim-wide fold. Output
    (query_id, neighbor_id, rank, adc_dist) ranked by ascending ADC
    (ties on neighbor id) — rank-compatible with the cosine searchers
    when inputs are L2-normalized (cos = 1 − L2²/2 on the unit
    sphere), which is how the recall report grades it.

    Approximations, orthogonal and both recall-only: cell pruning
    (IVF — same trade as ivf_topk) and code quantization (PQ — ADC
    error bounded by per-subspace quantizer distortion). By default
    scoring uses FULL-corpus-trained codebooks; `residual=True`
    switches to FAISS-IVFPQ's standard residual refinement: PQ trains
    on (vector − its coarse centroid), the query LUT is built per
    PROBED CELL from (query − that cell's centroid), and ADC then
    approximates the same ||q − x||² with the coarse displacement
    removed — the quantizer spends its 16 codewords per subspace on
    the within-cell geometry instead of re-encoding cell positions.
    Residuals stay oracle-checkable because the subtraction is exact
    in doubles (centroids are either raw seed vectors at
    coarse_iters=0 or snapped Lloyd means) and the downstream
    trajectory snaps/rounds identically; the plan shape is unchanged
    (one extra broadcast join against the centroid frame on each
    side, and the per-query LUT becomes per-(query, probe) — still
    n_probe·m·ks in-row entries).

    Determinism: seeds, snapped Lloyd means, rounded distances, and
    LUT sums re-rounded to 6 — the full trajectory is reproduced by
    queries._ivfpq_sql, and the DuckDB row is hash-equal. Expects
    non-null fixed-dim vectors (dim divisible by m; validated).

    100 TB shape: codebook + centroids broadcast (m·ks + cells rows);
    the corpus is scanned once for coarse assignment and once for
    encoding (both scan-stage argmin projections — at steady state
    both persist next to the data, partitionedBy(_cell), and queries
    prune to n_probe cell directories exactly like query_ivf_index);
    the candidate stage shuffles only (cell, codes) pairs — m ints
    per row instead of dim floats, the 16-32× byte cut that makes the
    probe stage network-bound math work at 100 TB."""
    c = widen(corpus).select(
        F.col(id_col).alias("_cid"), as_double_array(vec_col).alias("_cv")
    ).transform(ckpt)
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("_qv")
    )
    dim_row = c.select(F.size("_cv").alias("_d")).first()
    if dim_row is None:
        return q.select(
            "query_id",
            F.lit(None).cast("bigint").alias("neighbor_id"),
            F.lit(None).cast("int").alias("rank"),
            F.lit(None).cast("double").alias("adc_dist"),
        ).where(F.lit(False))
    dim = int(dim_row["_d"])
    if dim % m != 0:
        raise ValueError(f"ivfpq_topk: dim {dim} not divisible by m={m}")
    sub = dim // m

    # exact-duplicate collapse (ivf_topk's contract, extended to the
    # PQ path): a d-way duplicated corpus pays d× in every per-vector
    # stage (coarse assignment was 97 s of the capstone's 219 s at the
    # 100× docs replica — 500k × √N-cells cosines for 5 000 distinct
    # vectors) and q_dups × c_dups in the ADC stage. Duplicate vectors
    # get identical cells, codes, and ADC distances, so the pair stage
    # runs on unique-vector representatives and members come back as
    # rows by the keep-(k+1) cover rule of _collapsed_topk (ADC ASC in
    # place of cos DESC) — bit-identical output. Both trainers still
    # see the FULL corpus (seeds depend on member ids). Residual mode
    # keeps the plain plan: its PQ input derives from per-member cell
    # assignment, which the collapse would reshape.
    do_collapse, c_mult, c_rows = (
        _collapse_gate([(c, "_cv"), (q, "_qv")])
        if collapse_exact and not residual
        else (False, None, None)
    )

    # coarse quantizer: cells + probes (the ivf_topk front half)
    n_centroids, centroids = _train_centroids(
        c, n_centroids, coarse_iters, centroid_round, dup_mult=c_mult,
        n_rows=c_rows,
    )
    if do_collapse:
        cgrp = _dup_groups(c, "_cid", "_cv")
        qgrp = _dup_groups(q, "query_id", "_qv")
        creps = cgrp.where(F.col("_r") == 1).select("_cid", "_cv")
        qreps = qgrp.where(F.col("_r") == 1).select("query_id", "_qv")
    else:
        creps, qreps = c, q
    cells = _nearest_cells(creps, "_cv", centroids, 1).select(
        "_cid", "_cv", "_cell"
    )
    probes = _nearest_cells(qreps, "_qv", centroids, n_probe).select(
        "query_id", "_qv", "_cell"
    )

    # PQ codebooks + corpus codes (residual mode: both trained on
    # vector − assigned-cell centroid; probes likewise re-based below)
    cent_b = F.broadcast(centroids)
    if residual:
        pq_input = (
            cells.join(cent_b, "_cell")
            .select(
                "_cid",
                F.zip_with(
                    "_cv", "_centroid", lambda x, y: x - y
                ).alias("_cv"),
            )
            .transform(ckpt)
        )
        probes = probes.join(cent_b, "_cell").select(
            "query_id",
            F.zip_with("_qv", "_centroid", lambda x, y: x - y).alias("_qv"),
            "_cell",
        )
    else:
        pq_input = c
    cb = pq_train(
        pq_input, m, ks, sub, iters=pq_iters, centroid_round=centroid_round,
        dup_mult=c_mult,
    )
    # encode representatives only under the collapse — duplicates get
    # identical codes, and only candidate (rep) codes are consumed
    codes = pq_encode(creps if do_collapse else pq_input, cb, m, sub)

    # per-query ADC lookup table: _lut[j*ks + code] = ||q_j − cw||².
    # Built DENSE over the full (j, code) grid, not positionally over
    # the codebook array: a Lloyd round can empty a cell (no subrow
    # assigned), which drops that (j, code) row from the codebook and
    # would shift every later position. Missing grid entries become
    # NULL — unreachable, because candidates are encoded against the
    # same shrunken codebook and can only carry surviving codes.
    #
    # r15 plan fix: the first cut assembled the array with an in-row
    # filter over the broadcast codebook — (m·ks)² struct-predicate
    # evals per PROBE ROW in interpreted higher-order expressions,
    # measured 219 s vs the IVF capstone's 21 s at the x100 docs
    # replica. This form computes each ||q_j − cw||² exactly once per
    # (query, j, code) via a broadcast join over exploded query
    # subvectors (|Q|·m·ks tiny rows, map-side combine into a ≤m·ks
    # map per query), then assembles the dense array in one pass. The
    # distances use the identical _l2sq expression on the identical
    # slices, so every ADC value — and the oracle hash — is unchanged.
    # Residual mode re-bases _qv per probed cell, so its LUT keys on
    # (query, cell); plain mode shares one LUT across a query's probes.
    lut_keys = ["query_id", "_cell"] if residual else ["query_id"]
    lut_src = probes if residual else q
    qsubs = _subvectors(
        lut_src.select(*lut_keys, F.col("_qv").alias("_cv")), "_cv", m, sub
    )
    lut_tbl = (
        qsubs.join(F.broadcast(cb), "_j")
        .select(
            *lut_keys,
            (F.col("_j") * ks + F.col("_code") - 1).cast("int").alias("_idx"),
            _l2sq(F.col("_sv"), F.col("_cw")).alias("_d"),
        )
        .groupBy(*lut_keys)
        .agg(
            F.map_from_entries(F.collect_list(F.struct("_idx", "_d"))).alias(
                "_lm"
            )
        )
        .select(
            *lut_keys,
            F.transform(
                F.sequence(F.lit(0), F.lit(m * ks - 1)),
                lambda idx: F.element_at(F.col("_lm"), idx.cast("int")),
            ).alias("_lut"),
        )
    )
    probes_lut = probes.join(lut_tbl, lut_keys).drop("_qv")

    # candidates: probed cells carry (id, codes) only — m ints/row
    cand = probes_lut.join(
        cells.select("_cid", "_cell").join(codes, "_cid"), "_cell"
    )
    if exclude_self and not do_collapse:
        cand = cand.where(F.col("query_id") != F.col("_cid"))
    score = F.round(
        F.aggregate(
            F.zip_with(
                F.col("_codes"),
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda code, j: F.element_at(
                    F.col("_lut"), (j * ks + code).cast("int")
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    sims = cand.select(
        "query_id", F.col("_cid").alias("neighbor_id"), score.alias("adc_dist")
    )
    if not do_collapse:
        return _rank_topk(sims, "adc_dist", k, ascending=True)
    return _collapsed_topk(
        sims, "adc_dist", k, exclude_self, qgrp, cgrp, ascending=True
    )


# ---------------------------------------------------------------------------
# kNN-graph construction (NN-descent) — the graph-ANN story
# ---------------------------------------------------------------------------


def _score_pairs(pairs: DataFrame, vecs: DataFrame, k: int) -> DataFrame:
    """Score unordered candidate pairs (_u < _v) with exact cosine and
    keep each node's top-k directed edges.

    `vecs` is (_cid, _cv, _cn) with the norm staged once per row, so
    every pair costs ONE fold (the dot). Pairs score once and expand
    to both directions before the per-node window — half the cosine
    work of scoring directed candidates, and the window's
    (rounded cos DESC, dst ASC) order is engine-reproducible."""
    u_side = vecs.select(
        F.col("_cid").alias("_u"), F.col("_cv").alias("_uv"), F.col("_cn").alias("_un")
    )
    v_side = vecs.select(
        F.col("_cid").alias("_v"), F.col("_cv").alias("_vv"), F.col("_cn").alias("_vn")
    )
    scored = (
        pairs.distinct()
        .join(u_side, "_u")
        .join(v_side, "_v")
        .select(
            "_u",
            "_v",
            F.round(
                dot(F.col("_uv"), F.col("_vv")) / (F.col("_un") * F.col("_vn")), 6
            ).alias("cos_sim"),
        )
    )
    directed = scored.select(
        F.col("_u").alias("src"), F.col("_v").alias("dst"), "cos_sim"
    ).unionByName(
        scored.select(F.col("_v").alias("src"), F.col("_u").alias("dst"), "cos_sim")
    )
    w = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), F.col("dst").asc())
    return (
        directed.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("src", "dst", "rank", "cos_sim")
    )


def knn_graph(
    df: DataFrame,
    k: int = 4,
    n_centroids: int | None = None,
    rounds: int = 2,
    probe_cells: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 0,
    centroid_round: int | None = None,
    train_per_cell: int | None = None,
) -> DataFrame:
    """Distributed kNN-graph construction: cell-blocked initialization
    + NN-descent refinement rounds (Dong, Moses, Li, WWW 2011 — the
    public algorithm behind graph-ANN index builds).

    HNSW-class graph indexes are built by pointer-chasing inserts — a
    sequential loop Spark cannot parallelize. The Spark-native answer
    is the k-nearest-neighbor GRAPH itself, built bottom-up:

      1. INIT — assign every vector to its `probe_cells` nearest
         coarse-quantizer cells (the shared md5-seeded trainer; auto
         max(16, ⌈√N⌉) cells) and take exact top-k over cell-sharing
         pairs: O(probe_cells²·N^1.5) cosines total at √N cells, the
         IVF economics. probe_cells MUST be ≥ 2: single-cell init
         makes every edge intra-cell, so neighbor-of-neighbor
         candidates never leave the cell and refinement is a no-op
         (measured flat at rounds 0/1/2); boundary nodes assigned to
         two cells are the bridges NN-descent climbs across.
      2. REFINE (× `rounds`) — NN-descent: a node's next candidates
         are its neighbors' neighbors. Build the undirected adjacency
         (≤ 2kN rows), self-join on the pivot node (≤ (2k)² candidate
         pairs per pivot — bounded degree, LINEAR in N), union with
         the current edges, rescore, keep each node's top-k.

    Every step is deterministic (md5-smallest seeds, cosine rounded
    to 6, ties → ascending id) and, at iters=0, SQL-expressible — the
    DuckDB oracle (queries._knn_graph_sql) unrolls init + both rounds
    and reproduces every edge bit-for-bit. Refinement recall vs the
    exact graph is pinned monotone by test_knn_graph_recall.

    Scale shape: init is the IVF candidate stage (cell-partitioned,
    prunable); each round shuffles O(k²·N) candidate rows keyed by
    node id and O(kN) vector lookups — no stage is quadratic in N or
    in duplication. Output: (vec_id, neighbor_id, rank, cos_sim), k
    rows per node — the input ANN consumers (semantic dedup, graph
    clustering, diversity sampling) actually need; point lookups stay
    with the IVF/PQ query path.

    Reference parity: beyond-reference extension (the reference has no
    vector surface); companion to ivf_topk/semantic_dedup."""
    c = widen(df).select(
        F.col(id_col).alias("_cid"), as_double_array(vec_col).alias("_cv")
    ).transform(ckpt)
    _, cents = _train_centroids(c, n_centroids, iters, centroid_round, train_per_cell)
    assigned = _nearest_cells(c, "_cv", cents, probe_cells).select(
        "_cid", "_cv", "_cell"
    ).withColumn("_n", norm(F.col("_cv")))
    vecs = c.select("_cid", "_cv", norm(F.col("_cv")).alias("_cn")).transform(ckpt)
    # INIT stays cell-local end to end. Vectors ride THROUGH the cell
    # join (2N rows shuffled once by _cell), so the O(N^1.5) pair set
    # is scored in-partition with no id-keyed re-join of the pairs;
    # directions expand via explode (unary — preserves the _cell
    # partitioning, where a union would destroy it and force the big
    # shuffle back); the per-(cell, src) window then needs only a
    # LOCAL sort (HashPartitioning(_cell) satisfies the clustering)
    # and losslessly prunes to ≤ probe_cells·k rows per node — any
    # global top-k neighbor of u is a per-cell top-k neighbor in u's
    # own cell, with the identical (cos desc, id asc) order — so the
    # only node-keyed shuffle left is O(k·N) rows, not O(N^1.5).
    lft = assigned.select(
        "_cell",
        F.col("_cid").alias("_u"),
        F.col("_cv").alias("_uv"),
        F.col("_n").alias("_un"),
    )
    rgt = assigned.select(
        "_cell",
        F.col("_cid").alias("_v"),
        F.col("_cv").alias("_vv"),
        F.col("_n").alias("_vn"),
    )
    # salt-split the quadratic expansion: hashing only on _cell keeps
    # every cell's occ² pair work in ONE task (a whole-cell unit AQE
    # cannot split — measured as a serial straggler tail at the 10×
    # replica), so the left side salts by hash(_u) and the right side
    # replicates into every salt: each (u < v) pair materializes
    # exactly once, in u's salt bucket, and the expansion spreads
    # cells × salts wide. The replication shuffles salts×2N cheap
    # vector rows — linear, and orders below the pair set it widens.
    n_salts = 8
    lft_s = lft.withColumn("_slt", F.pmod(F.xxhash64("_u"), F.lit(n_salts)))
    rgt_s = rgt.withColumn(
        "_slt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    cellpairs = (
        lft_s.repartition("_cell", "_slt")
        .join(rgt_s.repartition("_cell", "_slt"), ["_cell", "_slt"])
        .where(F.col("_u") < F.col("_v"))
        .select(
            "_cell",
            "_slt",
            "_u",
            "_v",
            F.round(
                dot(F.col("_uv"), F.col("_vv")) / (F.col("_un") * F.col("_vn")), 6
            ).alias("cos_sim"),
        )
    )
    directed0 = cellpairs.select(
        "_cell",
        "_slt",
        F.explode(
            F.array(
                F.struct(F.col("_u").alias("src"), F.col("_v").alias("dst")),
                F.struct(F.col("_v").alias("src"), F.col("_u").alias("dst")),
            )
        ).alias("_e"),
        "cos_sim",
    ).select(
        "_cell", "_slt",
        F.col("_e.src").alias("src"), F.col("_e.dst").alias("dst"), "cos_sim",
    )
    # per-(cell, salt, node) top-k is STILL a lossless prune (top-k of
    # any subset covers that subset's contribution to the global
    # top-k), needs no shuffle (grouping refines the join
    # partitioning), and caps the node-keyed shuffle at
    # salts·probe_cells·k rows per node
    wcell = Window.partitionBy("_cell", "_slt", "src").orderBy(
        F.col("cos_sim").desc(), F.col("dst").asc()
    )
    pruned = (
        directed0.withColumn("_r", F.row_number().over(wcell))
        .where(F.col("_r") <= k)
        .select("src", "dst", "cos_sim")
        .distinct()
    )
    w0 = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), F.col("dst").asc())
    edges = (
        pruned.withColumn("rank", F.row_number().over(w0))
        .where(F.col("rank") <= k)
        .select("src", "dst", "rank", "cos_sim")
    )
    for _ in range(rounds):
        # ckpt_cut, not ckpt: the und⋈und candidate stage makes each
        # round's SIZE ESTIMATE the square of the last round's — the
        # chained origin-stats thunks then hang the driver in BigInteger
        # products the first time a downstream join asks for stats
        # (see session.ckpt_cut)
        edges = ckpt_cut(edges)
        und = edges.select(
            F.col("src").alias("_p"), F.col("dst").alias("_n")
        ).unionByName(
            edges.select(F.col("dst").alias("_p"), F.col("src").alias("_n"))
        ).distinct()
        nbr_u = und.select("_p", F.col("_n").alias("_u"))
        nbr_v = und.select("_p", F.col("_n").alias("_v"))
        cand = (
            nbr_u.join(nbr_v, "_p")
            .where(F.col("_u") < F.col("_v"))
            .select("_u", "_v")
        )
        kept = edges.select(
            F.least("src", "dst").alias("_u"), F.greatest("src", "dst").alias("_v")
        )
        edges = _score_pairs(cand.unionByName(kept), vecs, k)
    return edges.select(
        F.col("src").alias("vec_id"),
        F.col("dst").alias("neighbor_id"),
        # stamp the build degree as column metadata so consumers
        # (knn_graph_search's under-built check) can read it without
        # an action — an eager degree agg here would force a second
        # full graph build per search
        F.col("rank").alias("rank", metadata={"knn_graph_k": k}),
        "cos_sim",
    )


# below this ratio of graph degree to answer k, beam search recall
# collapses on clustered data (0.52 vs 0.95+ measured; r14 notes)
_SEARCH_DEGREE_FACTOR = 1.6


def knn_graph_for_search(
    df: DataFrame,
    search_k: int,
    **kwargs,
) -> DataFrame:
    """Build a kNN graph SIZED FOR SEARCH: degree defaults to 2× the
    largest answer k its searches will serve (r14 VERDICT ask #6 —
    the measured recall cliff sits at ~1.6×; 2× buys margin without
    changing the O(k²·N) refine economics class). Any knn_graph
    keyword passes through; an explicit k= in kwargs wins."""
    kwargs.setdefault("k", max(4, 2 * search_k))
    return knn_graph(df, **kwargs)


def knn_graph_search(
    queries: DataFrame,
    corpus: DataFrame,
    graph: DataFrame,
    k: int = 5,
    beam: int = 8,
    hops: int = 2,
    n_centroids: int | None = None,
    probe_cells: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    check_degree: bool = True,
) -> DataFrame:
    """Point-query search OVER a built kNN graph: greedy beam search
    from quantizer-cell entry points — the lookup half of the
    graph-ANN family (knn_graph builds the index, this probes it; the
    r13 docstring routed point lookups to IVF/PQ, and this closes
    that gap with the graph-native equivalent of HNSW's layer-0
    search, batched Spark-style over the whole query set at once).

    Per query: ENTER at the minimum-id member of each of the query's
    `probe_cells` nearest coarse cells (the same pinned iters=0
    md5-seeded quantizer the graph was initialized from), then `hops`
    rounds of: expand the beam along UNDIRECTED graph edges, score
    exact cosine(query, candidate), keep the top `beam` (cos rounded
    to 6 DESC, id ASC — the family's determinism grid). Output is the
    top-k of the final beam: (query_id, neighbor_id, rank, cos_sim).

    Fully deterministic and SQL-expressible, so the catalog oracle
    (queries._graph_search_sql) unrolls entry + every hop bit-for-bit
    on top of the shared graph CTEs.

    Scale shape: the beam frame is ≤ beam·|Q| rows between hops; each
    hop joins it against the ≤ 2kN-row adjacency (node-keyed) and the
    corpus vector table (id-keyed lookups of ≤ beam·(1+2k)·|Q| rows),
    then prunes with a per-query window — every stage linear in |Q|,
    independent of N beyond the id-keyed lookups. Recall vs brute
    force is graded in embed_recall_report next to ivf/pq/knn.

    Recall lever: the GRAPH DEGREE, more than beam or hops. On tight
    near-tie clusters a k=4 graph strands the beam in a local region
    (measured 0.52 recall@5); building the graph at degree ≥ ~1.6×
    the answer k recovers 0.95+ at the same beam/hops
    (test_graph_search_recall_floor_on_clustered_fixture). Size the
    graph's k to the largest answer k its searches will serve —
    knn_graph_for_search does that sizing (2× the answer k), and this
    function WARNS when handed an under-built graph (degree < 1.6·k;
    r14 VERDICT ask #6) unless check_degree=False."""
    if check_degree:
        # degree comes from the build-k metadata knn_graph stamps on
        # its rank column — zero-cost (no action; an agg here would
        # force a second full graph build). Unstamped graphs (user-
        # assembled edge frames) skip the check.
        try:
            degree = graph.schema["rank"].metadata.get("knn_graph_k")
        except KeyError:
            degree = None
        if degree is not None and degree < _SEARCH_DEGREE_FACTOR * k:
            import warnings

            warnings.warn(
                f"knn_graph_search: graph degree {degree} < "
                f"{_SEARCH_DEGREE_FACTOR}x answer k={k} — beam search "
                f"over an under-built graph strands in local regions "
                f"(measured recall@5 0.52 at degree 4 vs 0.95+ at "
                f"degree >= {_SEARCH_DEGREE_FACTOR}x). Build with "
                f"knn_graph_for_search(corpus, search_k={k}) or pass "
                f"check_degree=False to accept the recall loss.",
                UserWarning,
                stacklevel=2,
            )
    c = widen(corpus).select(
        F.col(id_col).alias("_cid"), as_double_array(vec_col).alias("_cv")
    ).transform(ckpt)
    _, cents = _train_centroids(c, n_centroids, 0)
    entries = (
        _nearest_cells(c, "_cv", cents, 1)
        .groupBy("_cell")
        .agg(F.min("_cid").alias("_eid"))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("_qv")
    ).transform(ckpt)
    probes = _nearest_cells(q, "_qv", cents, probe_cells).select(
        "query_id", "_cell"
    )
    beam_df = (
        probes.join(F.broadcast(entries), "_cell")
        .select("query_id", F.col("_eid").alias("_nid"))
        .distinct()
    )
    und = graph.select(
        F.col(id_col).alias("_nid"), F.col("neighbor_id").alias("_nbr")
    ).unionByName(
        graph.select(
            F.col("neighbor_id").alias("_nid"), F.col(id_col).alias("_nbr")
        )
    ).distinct().transform(ckpt_lazy)
    cvec = c.select(F.col("_cid").alias("_nid"), "_cv")
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("_nid").asc()
    )
    for _ in range(hops):
        cur = beam_df.select("query_id", "_nid")
        expanded = cur.unionByName(
            cur.join(und, "_nid").select(
                "query_id", F.col("_nbr").alias("_nid")
            )
        ).distinct()
        scored = (
            expanded.join(cvec, "_nid")
            .join(q, "query_id")
            .select(
                "query_id", "_nid",
                F.round(cosine(F.col("_qv"), F.col("_cv")), 6).alias("_cos"),
            )
        )
        beam_df = ckpt(
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= beam)
            .select("query_id", "_nid", "_cos")
        )
    out = beam_df
    if exclude_self:
        out = out.where(F.col("query_id") != F.col("_nid"))
    return (
        out.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("_nid").alias("neighbor_id"),
            "rank",
            F.col("_cos").alias("cos_sim"),
        )
    )


def mutual_knn_clusters(
    df: DataFrame,
    k: int = 4,
    rounds: int = 2,
    min_sim: float | None = None,
    n_centroids: int | None = None,
    probe_cells: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 0,
    centroid_round: int | None = None,
) -> DataFrame:
    """Embedding-space graph clustering: connected components over the
    MUTUAL edges of the NN-descent kNN graph (u and v each rank the
    other in their top-k), optionally thresholded at `min_sim`.

    Mutual-kNN is the standard sparsifier that turns a kNN graph into
    clusters: one-directional edges are how a dense hub chains distant
    regions together (at threshold 0 the fixture collapses into one
    476-node component; mutuality + 0.35 yields ~70 tight clusters,
    max size ~13 — measured both scales). Consumers: semantic
    dedup at cluster granularity, diversity sampling, per-cluster
    curation audits — the graph-native alternative to the coarse-cell
    partition of assign_cells, finding VARIABLE-size natural clusters
    instead of ~√N fixed Voronoi cells.

    Every vector appears in the output exactly once; nodes with no
    surviving mutual edge are singleton clusters of themselves.
    cluster_id = min member id (the components contract). Deterministic
    at iters=0 end to end, so the DuckDB oracle (queries.
    _knn_clusters_sql) walks the identical graph and recursive closure.

    Scale shape: knn_graph's bounds (linear rounds, O(N^1.5) init) +
    pointer-jumping components over ≤ kN/2 mutual edges — O(log
    diameter) rounds, and mutual-kNN diameters are small (no stage
    quadratic in N or duplication)."""
    from voter_gateway_spark.operators import dedup_ops

    edges = knn_graph(
        df,
        k=k,
        n_centroids=n_centroids,
        rounds=rounds,
        probe_cells=probe_cells,
        id_col=id_col,
        vec_col=vec_col,
        iters=iters,
        centroid_round=centroid_round,
    )
    un = edges.select(
        F.least("vec_id", "neighbor_id").alias("_a"),
        F.greatest("vec_id", "neighbor_id").alias("_b"),
        "cos_sim",
    )
    if min_sim is not None:
        un = un.where(F.col("cos_sim") >= F.lit(min_sim))
    mutual = ckpt_cut(
        un.groupBy("_a", "_b").count().where(F.col("count") == 2).select("_a", "_b")
    )
    comp = dedup_ops.connected_components(mutual, id_a="_a", id_b="_b").select(
        F.col("id").alias(id_col), F.col("component").alias("cluster_id")
    )
    all_ids = df.select(F.col(id_col))
    singles = all_ids.join(comp.select(id_col), id_col, "left_anti").select(
        F.col(id_col), F.col(id_col).alias("cluster_id")
    )
    return comp.unionByName(singles)


def _merge_rank(
    current: DataFrame, new_pairs: DataFrame, vecs: DataFrame, k: int
) -> DataFrame:
    """Fold newly-scored unordered pairs into a directed kNN graph,
    re-ranking ONLY the touched nodes.

    `current` is (src, dst, rank, cos_sim); `new_pairs` is unordered
    (_u, _v). Nodes with no new candidate pass through unchanged (no
    window, no shuffle of the untouched graph beyond the anti-join);
    touched nodes re-rank their existing edges unioned with the new
    candidates. A new pair that already IS an edge dedups exactly —
    both carry the same rounded cosine — via distinct on
    (src, dst, cos_sim)."""
    u_side = vecs.select(
        F.col("_cid").alias("_u"), F.col("_cv").alias("_uv"), F.col("_cn").alias("_un")
    )
    v_side = vecs.select(
        F.col("_cid").alias("_v"), F.col("_cv").alias("_vv"), F.col("_cn").alias("_vn")
    )
    scored = (
        new_pairs.distinct()
        .join(u_side, "_u")
        .join(v_side, "_v")
        .select(
            "_u",
            "_v",
            F.round(
                dot(F.col("_uv"), F.col("_vv")) / (F.col("_un") * F.col("_vn")), 6
            ).alias("cos_sim"),
        )
    )
    return _merge_scored(current, scored, k)


def _merge_scored(current: DataFrame, scored: DataFrame, k: int) -> DataFrame:
    """_merge_rank's fold stage for pairs that arrive ALREADY scored
    as unordered (_u, _v, cos_sim) rows — the cell-local scoring paths
    (batch × cell-mate candidates) land here without paying two
    id-keyed joins of the pair set against the vector table."""
    directed = scored.select(
        F.col("_u").alias("src"), F.col("_v").alias("dst"), "cos_sim"
    ).unionByName(
        scored.select(F.col("_v").alias("src"), F.col("_u").alias("dst"), "cos_sim")
    )
    touched = directed.select("src").distinct()
    cur_t = current.join(touched, "src").select("src", "dst", "cos_sim")
    cur_rest = current.join(touched, "src", "left_anti")
    w = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), F.col("dst").asc())
    ranked = (
        cur_t.unionByName(directed)
        .distinct()
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("src", "dst", "rank", "cos_sim")
    )
    return ranked.unionByName(cur_rest.select("src", "dst", "rank", "cos_sim"))


def knn_graph_increment(
    corpus: DataFrame,
    batch: DataFrame,
    existing_edges: DataFrame,
    k: int = 4,
    rounds: int = 1,
    n_centroids: int | None = None,
    probe_cells: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 0,
    centroid_round: int | None = None,
    train_per_cell: int | None = None,
) -> DataFrame:
    """Fold an arriving batch of vectors into an EXISTING kNN graph
    without rebuilding it: the incremental form of knn_graph, the
    daily-embedding-ingest operator.

    A kNN graph admits no exact-parity increment — a new vector can
    displace any node's k-th edge and refinement propagates — so the
    contract here is the deterministic incremental trajectory itself
    (hash-pinned by the DuckDB oracle, queries._knn_increment_sql)
    plus a test-pinned edge-overlap floor vs the full rebuild
    (test_knn_graph_increment). Same posture as production graph-index
    maintenance: the coarse quantizer is a PINNED artifact (trained on
    the corpus; batches never retrain it — retraining would move every
    cell boundary and force a full re-init).

    Stages, each touching only batch-sized state:
      1. Assign batch vectors to their `probe_cells` nearest pinned
         cells; candidate pairs = batch × cell-mates (corpus AND
         batch) — ≈ |B|·probe_cells·(2N/cells) pairs, vs the rebuild's
         4·N^1.5.
      2. Merge: re-rank ONLY the touched nodes (batch nodes + their
         candidate partners) against their existing edges; every other
         node's edges pass through without a window.
      3. NN-descent rounds with pivots RESTRICTED to the touched set —
         candidates ≤ |touched|·(2k)², then merge again. The touched
         set advances to the round's candidate endpoints.

    `existing_edges` must be knn_graph output over `corpus` with the
    same (k, n_centroids, probe_cells, iters) — the oracle and the
    overlap floor are stated against that pairing."""
    c = widen(corpus).select(
        F.col(id_col).alias("_cid"), as_double_array(vec_col).alias("_cv")
    ).transform(ckpt)
    b = batch.select(
        F.col(id_col).alias("_cid"), as_double_array(vec_col).alias("_cv")
    )
    _, cents = _train_centroids(c, n_centroids, iters, centroid_round, train_per_cell)
    allv = c.unionByName(b)
    vecs = allv.select("_cid", "_cv", norm(F.col("_cv")).alias("_cn")).transform(ckpt)
    # batch × cell-mate candidates score CELL-LOCALLY, like the init
    # stage: vectors ride through the cell join (batch side salted by
    # node hash, corpus+batch side replicated per salt — each pair
    # scores in one partition, spread cells × salts wide) instead of
    # re-joining the candidate pair set against the vector table by id
    # twice (measured 2.2× the whole-query wall at the 100× replica).
    # The PAIR SET is identical to the plain cell join — cosine is
    # bit-symmetric, so least/greatest + distinct reproduces the same
    # (u, v, cos) rows and the same touched set, leaving the oracle
    # trajectory untouched.
    n_salts = 8
    assigned_all = _nearest_cells(allv, "_cv", cents, probe_cells).select(
        "_cid", "_cv", "_cell"
    ).withColumn("_n", norm(F.col("_cv")))
    assigned_b = _nearest_cells(b, "_cv", cents, probe_cells).select(
        "_cid", "_cv", "_cell"
    ).withColumn("_n", norm(F.col("_cv")))
    bl = assigned_b.select(
        "_cell",
        F.col("_cid").alias("_bid"),
        F.col("_cv").alias("_bv"),
        F.col("_n").alias("_bn"),
    ).withColumn("_slt", F.pmod(F.xxhash64("_bid"), F.lit(n_salts)))
    mr = assigned_all.select(
        "_cell",
        F.col("_cid").alias("_mid"),
        F.col("_cv").alias("_mv"),
        F.col("_n").alias("_mn"),
    ).withColumn("_slt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)])))
    scored_mates = (
        bl.repartition("_cell", "_slt")
        .join(mr.repartition("_cell", "_slt"), ["_cell", "_slt"])
        .where(F.col("_bid") != F.col("_mid"))
        .select(
            F.least("_bid", "_mid").alias("_u"),
            F.greatest("_bid", "_mid").alias("_v"),
            F.round(
                dot(F.col("_bv"), F.col("_mv")) / (F.col("_bn") * F.col("_mn")), 6
            ).alias("cos_sim"),
        )
        .distinct()
    )
    existing = existing_edges.select(
        F.col(id_col).alias("src"),
        F.col("neighbor_id").alias("dst"),
        "rank",
        "cos_sim",
    )
    edges = _merge_scored(existing, scored_mates, k)
    touched = scored_mates.select(F.col("_u").alias("_t")).unionByName(
        scored_mates.select(F.col("_v").alias("_t"))
    ).distinct()
    for _ in range(rounds):
        # ckpt_cut for the same stats-thunk-chaining reason as knn_graph
        edges = ckpt_cut(edges)
        und = edges.select(
            F.col("src").alias("_p"), F.col("dst").alias("_n")
        ).unionByName(
            edges.select(F.col("dst").alias("_p"), F.col("src").alias("_n"))
        ).distinct()
        und_t = und.join(touched, und["_p"] == touched["_t"]).select("_p", "_n")
        cand = (
            und_t.select("_p", F.col("_n").alias("_u"))
            .join(und_t.select("_p", F.col("_n").alias("_v")), "_p")
            .where(F.col("_u") < F.col("_v"))
            .select("_u", "_v")
            .distinct()
        )
        touched = cand.select(F.col("_u").alias("_t")).unionByName(
            cand.select(F.col("_v").alias("_t"))
        ).distinct()
        edges = _merge_rank(edges, cand, vecs, k)
    return edges.select(
        F.col("src").alias(id_col),
        F.col("dst").alias("neighbor_id"),
        # re-stamp the degree metadata (see knn_graph) — the increment
        # preserves the build degree k
        F.col("rank").alias("rank", metadata={"knn_graph_k": k}),
        "cos_sim",
    )


PAGERANK_UNITS = 1_000_000_000_000  # total mass in integer units


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 3,
    damping_num: int = 17,
    damping_den: int = 20,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    seeds: DataFrame | None = None,
) -> DataFrame:
    """PageRank over an explicit edge list, in EXACT integer
    arithmetic — every quantity is a BIGINT count of 10⁻¹² mass units,
    so per-node in-edge sums are fold-order-free and an engine-neutral
    oracle reproduces the ranks bit-for-bit (the round(avg(...))
    fold-order lesson applied to an iterative algorithm: doubles never
    enter the iteration at all).

    r₀(v) = U div N;  contribution c(u) = r(u) div outdeg(u);
    r_{t+1}(v) = (U·(den−num)) div (den·N)  +  (num · Σ_{u→v} c(u)) div den
    with damping = num/den (default 17/20 = 0.85). div is integral
    division on positives; U = 10¹². Floor losses are bounded by one
    unit per division — ~(N + |E|)·10⁻¹² of total mass per iteration,
    irrelevant at rank precision and identical across engines.

    With `seeds` (a frame of node ids), the PERSONALIZED form: the
    teleport mass and initial distribution concentrate on the seed set
    (U div |S| per seed, 0 elsewhere), so ranks measure graph
    proximity to the seeds — the seed-expansion / label-propagation
    selection primitive ("find more documents like these labeled
    ones") rather than global centrality. Identical integer contract.

    Dangling nodes (no out-edges) simply leak their damped mass, as in
    the classic formulation without a dangling patch; a kNN graph has
    none (every node emits k edges). On the data-selection side this
    is centrality-based corpus weighting: a document whose neighbors'
    neighbors keep pointing back at it is a cluster core; tails rank
    near the teleport floor — select-by-rank keeps cores, or inverts
    to oversample the tails for diversity.

    Scale shape: each iteration is one groupBy(dst).sum over the edge
    list (shuffle on dst) plus a broadcast-or-shuffle join of the
    rank frame (N rows, 2 cols) — linear per iteration, the classic
    Pregel/GraphX pattern expressed as DataFrame aggregation. The rank
    frame is checkpointed per iteration to cut the self-referential
    lineage (the r13 stats-explosion lesson).

    Output: (node, rank_units bigint, pagerank double) — pagerank is
    rank_units/10¹², a deterministic function of the integer.
    """
    n_nodes = nodes.count()
    if n_nodes == 0:
        raise ValueError("pagerank needs a non-empty node frame")
    u = PAGERANK_UNITS
    e = edges.select(F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst"))
    outd = e.groupBy("_src").agg(F.count(F.lit(1)).alias("_od"))
    # out-degree is a static property of the graph: stage it on the
    # edge list once, outside the iteration
    eo = ckpt_lazy(e.join(outd, "_src"))
    if seeds is None:
        teleport = (u * (damping_den - damping_num)) // (damping_den * n_nodes)
        ranks = nodes.select(
            F.col(node_col).alias("_node"),
            F.lit(u // n_nodes).cast("long").alias("_r"),
            F.lit(teleport).cast("long").alias("_tele"),
        )
    else:
        # PERSONALIZED form: teleport mass (and the initial
        # distribution) concentrates on the seed set — ranks measure
        # graph proximity to the seeds (seed-expansion / label-prop
        # selection), not global centrality. Same integer units.
        n_seeds = seeds.count()
        if n_seeds == 0:
            raise ValueError("pagerank seeds frame is empty")
        tele_seed = (u * (damping_den - damping_num)) // (damping_den * n_seeds)
        flag = seeds.select(
            F.col(node_col).alias("_node"), F.lit(1).alias("_is_seed")
        ).distinct()
        ranks = (
            nodes.select(F.col(node_col).alias("_node"))
            .join(flag, "_node", "left")
            .select(
                "_node",
                F.when(F.col("_is_seed") == 1, F.lit(u // n_seeds))
                .otherwise(F.lit(0)).cast("long").alias("_r"),
                F.when(F.col("_is_seed") == 1, F.lit(tele_seed))
                .otherwise(F.lit(0)).cast("long").alias("_tele"),
            )
        )
    for _ in range(iters):
        contrib = (
            eo.join(ranks, eo["_src"] == ranks["_node"])
            .select("_dst", F.expr("_r div _od").alias("_c"))
            .groupBy("_dst")
            .agg(F.sum("_c").alias("_s"))
        )
        ranks = ckpt(
            ranks.join(contrib, ranks["_node"] == contrib["_dst"], "left").select(
                "_node",
                (
                    F.col("_tele")
                    + F.expr(
                        f"({damping_num} * coalesce(_s, 0L)) div {damping_den}"
                    )
                ).alias("_r"),
                "_tele",
            )
        )
    return ranks.select(
        F.col("_node").alias("node"),
        F.col("_r").alias("rank_units"),
        F.round(F.col("_r") / F.lit(float(u)), 12).alias("pagerank"),
    )


def rrf_fusion(
    rankings: list[tuple[str, DataFrame]],
    k: int = 5,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009) — the
    standard combiner for hybrid retrieval: each input ranking
    contributes 1/(rrf_k + rank) per (query, candidate), candidates
    are re-ranked by the sum. Rank-based, so incomparable scores
    (cosine vs ADC vs lexical) fuse without calibration, and a
    candidate surfaced by several methods beats one ranked high by a
    single method.

    Determinism contract: the per-method contributions are PIVOTED
    into one column per method (each method emits at most one rank per
    pair, so max() is exact) and summed in the FIXED order of the
    `rankings` list as a single projection expression — never a
    groupBy-sum over the float contributions, whose shuffle fold order
    could differ between engines. 1/(rrf_k+rank) is one IEEE division;
    a fixed-order chain of adds is bit-identical everywhere, so an
    oracle mirrors the fusion exactly.

    Scale shape: inputs are already top-k-sized (|Q|·k rows per
    method), so the union + one shuffled aggregate on (query,
    candidate) is tiny relative to any retrieval stage that produced
    them — fusion is never the bottleneck.

    Input frames carry (query_id, neighbor_id, rank); output:
    (query_id, neighbor_id, rank, rrf_score) with the usual
    deterministic tie-break (score desc, neighbor_id asc).
    """
    if not rankings:
        raise ValueError("rrf_fusion needs at least one ranking")
    tagged = None
    for name, df in rankings:
        part = df.select(
            F.lit(name).alias("_m"), "query_id", "neighbor_id", "rank"
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    methods = [name for name, _ in rankings]
    pivoted = (
        tagged.groupBy("query_id", "neighbor_id")
        .pivot("_m", methods)
        .agg(F.max("rank"))
    )
    score = None
    for name in methods:
        term = F.when(
            F.col(name).isNotNull(),
            F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(name)),
        ).otherwise(F.lit(0.0))
        score = term if score is None else score + term
    return _rank_topk(
        pivoted.withColumn("rrf_score", score), "rrf_score", k
    ).withColumn("rrf_score", F.round("rrf_score", 9))


def triangle_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over
    the UNDIRECTED closure of a directed edge list — the standard
    graph-quality audit for a kNN graph: a high clustering coefficient
    means neighbors-of-neighbors close into triangles, which is
    exactly the property greedy graph search (knn_graph_search)
    exploits; a low-coefficient graph predicts the recall collapse the
    degree warning guards against.

    Shape: canonicalize edges to sorted pairs (x < y, distinct), then
    count each triangle a<b<c ONCE via the two-join chain
    (a,b)⋈(b,c)⋈(a,c) — the classic distributed triangle count. Join
    fan-out is degree-bounded (kNN degree ≈ k + in-degree), so the
    candidate mass is Σ deg² — linear in N for bounded-degree graphs,
    never |E|². Counts are integers and the coefficient divides two
    integers, so the output is engine-exact under round-6.

    Output: (node, degree, triangles, clustering) where clustering =
    2·triangles / (degree·(degree−1)), 0 when degree < 2.
    """
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    und = ckpt_lazy(und)
    e2 = und.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    e3 = und.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tris = (
        und.join(e2, und["b"] == e2["b2"])
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    per_node = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            F.round(
                F.lit(2.0)
                * F.coalesce("triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )
