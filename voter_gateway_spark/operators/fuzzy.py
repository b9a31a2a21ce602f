"""Trigram fuzzy matching (J7–J9) — pg_trgm semantics, Spark-first.

Reference: lib/voter_file/csv_driver/fuzzy_merger.rb — per unmatched
source row, the nearest target by trigram distance (`<->`) under a
0.5 threshold (fuzzy_merger.rb:5), one pass per fuzzy column, with
claimed targets leaving the candidate pool (fuzzy_merger.rb:38-67).

pg_trgm trigram model reproduced exactly: lowercase; split into
alphanumeric words; each word padded with two leading and one trailing
space; all 3-grams of the padded word; de-duplicated set; similarity =
|A ∩ B| / |A ∪ B|; distance = 1 − similarity.

Scale design: the GiST index probe becomes an **inverted-index join**
— explode each side's trigram set, join on the trigram, and compute
exact similarity only on candidate pairs that share ≥1 trigram. Any
pair passing `similarity > threshold` (> 0) necessarily shares a
trigram, so the candidate set is lossless for the reference's 0.5
threshold. A per-trigram frequency cap (stop-trigram pruning) bounds
the worst-case explosion at 100 TB; capped trigrams only shrink the
candidate pool for pathological tokens.

The claiming rounds (`fuzzy_claiming_rounds`) have two paths. A small
residual — at most DRIVER_MAX_ROWS sources and targets together, as
`session.small_sides` (the engine's small-input gate) reports, an
exact candidate fanout of at most DRIVER_MAX_PAIRS, unique non-null
integral or default-collation string ids, trigram sets under 500
elements — is collected once and claimed on the driver with an
in-memory inverted index; anything else runs the distributed rounds
(probes, hazard guard, one checkpoint per round). Both return
identical rows: the sets stay computed by `trigrams()` in Spark, the
driver's similarity is the same IEEE division of the same integers,
and the output is rounded by the same `F.round(…, 6)`. Why the size
rule makes the claim order match is in `_driver_claims`.

All Spark expressions are native Catalyst (no UDFs).
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from voter_gateway_spark.operators.skew import widen
from voter_gateway_spark.session import ckpt, ckpt_lazy, local_frame, small_sides

DEFAULT_THRESHOLD = 0.5  # fuzzy_merger.rb:5


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def trigrams(col: Column | str) -> Column:
    """pg_trgm trigram set of a string (array<string>).

    The padded word is bound as a lambda variable before the per-index
    slice — concatenating it inside the slice lambda would redo the pad
    per trigram, O(len²) per token (same hazard as
    dedup_ops.word_shingles; pathological tokens like URLs make it
    real)."""
    cleaned = F.regexp_replace(F.lower(_c(col)), r"[^a-z0-9]+", " ")
    words = F.filter(F.split(cleaned, " "), lambda w: w != "")

    def word_trigrams(w: Column) -> Column:
        padded = F.array(F.concat(F.lit("  "), w, F.lit(" ")))
        return F.element_at(
            F.transform(
                padded,
                lambda p: F.transform(
                    F.sequence(F.lit(1), F.length(p) - 2),
                    lambda i: F.substring(p, i, 3),
                ),
            ),
            1,
        )

    return F.array_distinct(F.flatten(F.transform(words, word_trigrams)))


def trigram_similarity(a: Column | str, b: Column | str) -> Column:
    """similarity() over two raw strings (builds both trigram sets)."""
    return trigram_set_similarity(trigrams(a), trigrams(b))


def trigram_set_similarity(ta: Column, tb: Column) -> Column:
    inter = F.size(F.array_intersect(ta, tb))
    union = F.size(ta) + F.size(tb) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# Data-proportional stop-trigram default for top1_fuzzy_match: drop
# trigrams present in more than half the target pool (floor 100 so tiny
# pools stay effectively uncapped). A trigram in >50% of rows
# contributes O(n) rows per source to the inverted-index join while
# carrying no selectivity — the classic "the"/" th" stop-term blowup.
# The capped path re-verifies every surviving candidate's similarity
# EXACTLY on the full trigram arrays, so the cap only loses a pair
# whose shared trigrams are ALL above it. The fraction is sized from
# measurement, not intuition: on the synthetic fixtures (tiny
# vocabulary — 224 distinct trigrams at sf0.1, median corpus frequency
# 30%) the rarest shared trigram over all threshold-qualified top-1
# pairs peaks at 31% of the pool, so a 50% cap is lossless with margin
# there while still removing the worst offenders (max observed
# frequency: 92% of docs). Real-text corpora have heavy-tailed trigram
# distributions where a 50% cap only ever removes pure stop-trigrams.
DEFAULT_TRIGRAM_FREQ_FRACTION = 0.5
DEFAULT_TRIGRAM_FREQ_FLOOR = 100

# top1_fuzzy_match runs its exact-dup collapse stages only when the
# probed fanout multiplier product exceeds this — below it, the dup
# groups inflate the inverted-index join by less than the collapse's
# own fixed stage latency is worth.
COLLAPSE_FANOUT_THRESHOLD = 2.0

# Gate-declined hazard guard (ADVICE r6 #4): when the dup-fanout gate
# declines the collapse, the inverted-index join runs uncapped — on a
# heavy-tailed DISTINCT-text corpus (many rows sharing one dominant
# value's trigrams without being duplicates) a hot trigram fans out
# O(rows). Before joining, one small job computes the EXACT candidate
# row count the uncapped join would produce (Σ_tg s_freq·t_freq over
# per-trigram counts); above this many candidate rows the auto
# stop-trigram cap engages (its ~2.5 s of fixed re-verify latency is
# noise against a multi-hundred-million-row join, and its fingerprint
# safety channel preserves sim-1.0 recall). The oracle corpora probe
# ~1-9 M — far below — so driver-checked results are byte-unchanged.
HAZARD_EST_PAIRS = 200_000_000


def _index_fanout_estimate(s: DataFrame, t: DataFrame) -> int:
    """Exact row count of the uncapped inverted-index join: per-side
    per-trigram occurrence counts, joined on trigram, Σ s_n·t_n. One
    job over the (checkpoint-materialized) trigram frames; the
    per-trigram aggregates are map-side-combined, so the shuffle is
    bounded by the distinct-trigram vocabulary, not the corpus."""
    s_cnt = (
        s.select(F.explode("_stg").alias("_tg"))
        .groupBy("_tg").agg(F.count(F.lit(1)).alias("_sn"))
    )
    t_cnt = (
        t.select(F.explode("_ttg").alias("_tg"))
        .groupBy("_tg").agg(F.count(F.lit(1)).alias("_tn"))
    )
    row = s_cnt.join(t_cnt, "_tg").agg(
        F.sum(F.col("_sn") * F.col("_tn")).alias("_est")
    ).collect()[0]
    return int(row["_est"] or 0)


def _fp_expr(col: str) -> Column:
    """Canonical fingerprint of a trigram array: md5 over the SORTED
    concatenated set, so two texts with equal trigram sets fingerprint
    identically even when trigrams() emitted them in different word
    order ('ab ba' vs 'ba ab')."""
    return F.md5(F.concat_ws("\x01", F.array_sort(F.col(col))).cast("binary"))


# the fingerprint of a row with NO trigrams (empty and NULL sets both
# concat to "") — such rows have pg_trgm similarity 0 with everything,
# including each other, and must be excluded from exact-match channels
_EMPTY_FP = hashlib.md5(b"").hexdigest()


def candidate_pairs(
    source: DataFrame,
    target: DataFrame,
    source_col: str,
    target_col: str,
    source_id: str,
    target_id: str,
    max_trigram_freq: int | None = None,
) -> DataFrame:
    """Inverted-index candidate join: pairs sharing ≥1 trigram, with
    exact similarity attached. Output: (source_id, target_id, similarity).

    `max_trigram_freq` drops trigrams occurring in more than N target
    rows (stop-trigram pruning) — at scale this bounds the join fanout
    like pg_trgm's index selectivity does.
    """
    s = widen(source).select(
        F.col(source_id).alias("_sid"), trigrams(source_col).alias("_stg")
    )
    t = widen(target).select(
        F.col(target_id).alias("_tid"), trigrams(target_col).alias("_ttg")
    )
    return _pairs_from_trigram_frames(s, t, max_trigram_freq)


def _pairs_from_trigram_frames(
    s: DataFrame,
    t: DataFrame,
    max_trigram_freq: int | None = None,
    keep_counts: bool = False,
) -> DataFrame:
    """(_sid,_stg) × (_tid,_ttg) → (_sid,_tid,similarity[,counts]).

    Set-similarity join: |A ∩ B| falls out of the inverted-index join
    as a pair count (arrays are distinct per side), so the shuffle
    carries only (sid, tid) tuples — never the trigram arrays.

    With `max_trigram_freq`, capping restricts the CANDIDATE POOL
    only: the pair count over a pruned index UNDERCOUNTS the true
    intersection (capped trigrams still belong to both sets), which
    would understate similarity and silently drop true pairs at the
    caller's threshold — so the capped path re-verifies surviving
    candidates exactly on the full trigram arrays (cost bounded by
    the candidate count the cap just shrank).

    `keep_counts=True` also returns (_inter, _sn, _tn) for callers
    that filter on count bounds (edit_distance_pairs' q-gram rule).

    `max_trigram_freq="auto"` derives the cap IN-PLAN from the t-side
    row count (greatest(floor, ceil(fraction·n)) via a broadcast
    one-row aggregate) — no separate driver-side count() action, so
    auto-capping adds zero extra Spark jobs."""
    if max_trigram_freq:
        s_ex = s.select("_sid", F.explode("_stg").alias("_tg"))
        t_ex = t.select("_tid", F.explode("_ttg").alias("_tg"))
        counts = t_ex.groupBy("_tg").count()
        if max_trigram_freq == "auto":
            n_t = t.agg(F.count(F.lit(1)).alias("_nt"))
            freq = counts.crossJoin(F.broadcast(n_t)).where(
                F.col("count")
                <= F.greatest(
                    F.lit(DEFAULT_TRIGRAM_FREQ_FLOOR),
                    F.ceil(
                        F.lit(DEFAULT_TRIGRAM_FREQ_FRACTION) * F.col("_nt")
                    ),
                )
            )
        else:
            freq = counts.where(F.col("count") <= max_trigram_freq)
        t_ex = t_ex.join(F.broadcast(freq.select("_tg")), "_tg")
        # Exact-match safety channel: on a dominant-value pool (the
        # voter-file shape — one city repeated in most rows) EVERY
        # trigram of the dominant value can exceed the cap, so rows
        # carrying it would get zero candidates and lose even their
        # sim-1.0 exact matches. Union a fingerprint-equality join so
        # identical trigram sets are ALWAYS candidates regardless of the
        # cap (one hash join on md5 keys; empty sets excluded — they
        # share no trigram and must not pair). Near-identical dominant
        # values can still be pruned — that residual recall trade is the
        # cap's documented contract; pass 0 to disable capping.
        fp_cand = (
            s.where(F.size("_stg") > 0).select("_sid", _fp_expr("_stg").alias("_fp"))
            .join(
                t.where(F.size("_ttg") > 0).select("_tid", _fp_expr("_ttg").alias("_fp")),
                "_fp",
            )
            .select("_sid", "_tid")
        )
        counted = (
            s_ex.join(t_ex, "_tg")
            .select("_sid", "_tid")
            .unionByName(fp_cand)
            .dropDuplicates(["_sid", "_tid"])
            .join(s, "_sid")
            .join(t, "_tid")
            .select(
                "_sid",
                "_tid",
                F.size(F.array_intersect("_stg", "_ttg")).alias("_inter"),
                F.size("_stg").alias("_sn"),
                F.size("_ttg").alias("_tn"),
            )
        )
    else:
        s_sizes = s.select("_sid", F.size("_stg").alias("_sn"))
        t_sizes = t.select("_tid", F.size("_ttg").alias("_tn"))
        s_ex = s.select("_sid", F.explode("_stg").alias("_tg"))
        t_ex = t.select("_tid", F.explode("_ttg").alias("_tg"))
        counted = (
            s_ex.join(t_ex, "_tg")
            .groupBy("_sid", "_tid")
            .agg(F.count(F.lit(1)).alias("_inter"))
            .join(s_sizes, "_sid")
            .join(t_sizes, "_tid")
        )
    sim = (
        F.col("_inter") / (F.col("_sn") + F.col("_tn") - F.col("_inter"))
    ).alias("similarity")
    extra = ["_inter", "_sn", "_tn"] if keep_counts else []
    return counted.select("_sid", "_tid", sim, *extra)


def top1_fuzzy_match(
    source: DataFrame,
    target: DataFrame,
    column: str,
    source_id: str,
    target_id: str,
    threshold: float = DEFAULT_THRESHOLD,
    target_column: str | None = None,
    exclude_self: bool = False,
    max_trigram_freq: int | None = None,
    collapse_exact: bool = True,
) -> DataFrame:
    """J8: per-source top-1 nearest target with distance < threshold.

    Returns (source_id, matched_<target_id>, similarity). Deterministic
    tie-break: highest similarity, then lowest target id (the reference
    inherits arbitrary choice from Postgres — SURVEY §4.3.2).

    `collapse_exact` (default on) joins one representative per
    identical trigram SET on each side — voter-file columns repeat
    values thousands of times (same street, same city), and every
    repeat multiplies the inverted-index fanout. All members of a
    source group share the same best target, and the rep-ranked winner
    (sim desc, rep tid asc) IS the globally lowest-tid max-similarity
    target, so results are unchanged (oracle-checked). Under
    `exclude_self` the collapse still applies: same-fingerprint rep
    pairs leave the inverted-index join and are replaced by an exact
    per-member WITHIN-GROUP candidate (similarity 1.0, lowest other
    member id — from each group's two smallest target ids, no pairwise
    expansion), so a d-way duplicated corpus costs O(reps²) candidate
    work instead of O(d²·reps²). A one-job existence probe skips ALL
    collapse stages when no fingerprint group has size > 1, so dup-free
    corpora pay none of the collapse's fixed stage latency.

    `max_trigram_freq=None` (the default) engages the data-proportional
    in-plan stop-trigram cap ("auto" — see _pairs_from_trigram_frames)
    on the `collapse_exact=False` path only, where the caller has
    explicitly chosen raw-row joins. The collapse branch defaults to
    UNCAPPED (its rep pool is distinct texts — duplication-driven
    fanout structurally bounded). The gate-DECLINED branch defaults to
    uncapped too — the cap's exact re-verify join-backs cost a
    measured ~2.5 s of FIXED stage latency per call, the regression
    the r5→r6 rework removed — but is HAZARD-GUARDED (ADVICE r6 #4):
    one small job computes the exact candidate row count the uncapped
    inverted-index join would produce, and above HAZARD_EST_PAIRS the
    auto cap engages anyway, because on a heavy-tailed DISTINCT-text
    corpus a hot trigram fans out O(rows) and the fixed cap cost is
    noise against a multi-hundred-million-row join (the fingerprint
    safety channel preserves sim-1.0 recall under the cap). Pass 0 to
    disable capping everywhere.
    """

    def first(pairs: DataFrame) -> DataFrame:
        w = Window.partitionBy("_sid").orderBy(
            F.col("similarity").desc(), F.col("_tid").asc()
        )
        return (
            pairs.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    def top1(pairs: DataFrame) -> DataFrame:
        # only the literal self pair leaves under exclude_self: a
        # different id with the same text is a legitimate 1.0 match
        if exclude_self:
            pairs = pairs.where(F.col("_sid") != F.col("_tid"))
        return first(pairs.where(F.col("similarity") > F.lit(1.0 - threshold)))

    def named(best: DataFrame) -> DataFrame:
        return best.select(
            F.col("_sid").alias(source_id),
            F.col("_tid").alias(f"matched_{target_id}"),
            F.round("similarity", 6).alias("similarity"),
        )

    if not collapse_exact:
        if max_trigram_freq is None:
            max_trigram_freq = "auto"
        return named(top1(candidate_pairs(
            source, target, column, target_column or column, source_id, target_id,
            max_trigram_freq=max_trigram_freq,
        )))

    s = widen(source).select(
        F.col(source_id).alias("_sid"), trigrams(column).alias("_stg")
    ).transform(ckpt_lazy)
    t = widen(target).select(
        F.col(target_id).alias("_tid"), trigrams(target_column or column).alias("_ttg")
    ).transform(ckpt_lazy)
    s_fp = _fp_expr("_stg")
    t_fp = _fp_expr("_ttg")
    # Dup-fanout probe: the collapse machinery (rep windows, expansion
    # join, within-group channel) costs ~6 extra small-shuffle stages of
    # fixed latency (~2.3s at sf0.1, measured r5) and only pays off when
    # duplication meaningfully multiplies the inverted-index join. The
    # plain plan is CORRECT regardless of duplication (identical trigram
    # sets share all trigrams, so within-group sim-1.0 pairs fall out of
    # the index join naturally); collapse is purely a cost optimization.
    # Estimate each side's duplication-driven fanout multiplier —
    # E[group size] weighted by membership, sum(n_g²)/sum(n_g), the
    # factor by which dup groups inflate join work vs the rep pool — in
    # ONE cheap job over the two checkpointed trigram frames (which the
    # probe also materializes for reuse, so its scan is never wasted),
    # and run the plain plan when the product is small: a dup-free
    # corpus probes 1.0, the 100×-replica stress probes ~100.
    probe = (
        s.select(
            F.lit("s").alias("_side"),
            s_fp.alias("_fp"),
            F.coalesce(F.size("_stg"), F.lit(0)).alias("_sz"),
        )
        .unionByName(
            t.select(
                F.lit("t").alias("_side"),
                t_fp.alias("_fp"),
                F.coalesce(F.size("_ttg"), F.lit(0)).alias("_sz"),
            )
        )
        .groupBy("_side", "_fp")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("_sz").alias("_szs"))
        .groupBy("_side")
        .agg(
            (F.sum(F.col("_n") * F.col("_n")) / F.sum("_n")).alias("_mult"),
            F.sum("_n").alias("_rows"),
            F.sum("_szs").alias("_occ"),
        )
        .collect()
    )
    mult = {r["_side"]: float(r["_mult"]) for r in probe}
    rows = {r["_side"]: int(r["_rows"] or 0) for r in probe}
    occ = {r["_side"]: int(r["_occ"] or 0) for r in probe}
    fanout = mult.get("s", 1.0) * mult.get("t", 1.0)
    if fanout <= COLLAPSE_FANOUT_THRESHOLD:
        cap = 0 if max_trigram_freq is None else max_trigram_freq
        if max_trigram_freq is None:
            # hazard guard: engage the auto cap only when the uncapped
            # join would be explosive (see HAZARD_EST_PAIRS). The exact
            # estimate is itself a Spark job, so it only runs when a
            # PROVABLE upper bound — Σ_tg s_n·t_n ≤ min(s_occ·t_rows,
            # t_occ·s_rows), every factor already aggregated by the
            # fanout probe above for free — says a blowup is even
            # possible; small/normal corpora pay no extra job (r7 code
            # review)
            bound = min(
                occ.get("s", 0) * rows.get("t", 0),
                occ.get("t", 0) * rows.get("s", 0),
            )
            if bound > HAZARD_EST_PAIRS and (
                _index_fanout_estimate(s, t) > HAZARD_EST_PAIRS
            ):
                cap = "auto"
        return named(top1(_pairs_from_trigram_frames(s, t, cap)))
    s_members = s.select("_sid", s_fp.alias("_sfp"))
    # one fingerprint-ranked pass serves BOTH the rep pick (rn==1) and,
    # under exclude_self, the within-group top-2 — materialized so the
    # 500k-row window never runs twice
    t_ranked = t.select("_tid", t_fp.alias("_tfp"), "_ttg").withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("_tfp").orderBy(F.col("_tid").asc())
        ),
    )
    if exclude_self:
        t_ranked = t_ranked.where(F.col("_rn") <= 2).transform(ckpt_lazy)
    t_reps = t_ranked.where(F.col("_rn") == 1).drop("_rn")
    s_reps = (
        s.select("_sid", s_fp.alias("_sfp"), "_stg")
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("_sfp").orderBy(F.col("_sid").asc())
        ))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    if max_trigram_freq is None:
        max_trigram_freq = 0  # uncapped by default on the rep pool (see docstring)
    # a same-fingerprint rep pair with a different id stays a 1.0
    # match; when the within-group branch below also emits it, the
    # final window dedups (identical sim, same tid) — cheaper than
    # attaching fingerprints to every rep pair
    best = top1(_pairs_from_trigram_frames(
        s_reps.select("_sid", "_stg"),
        t_reps.select("_tid", "_ttg"),
        max_trigram_freq,
    )).withColumnRenamed("_sid", "_rsid")
    # expand to every member of the source group (identical trigram
    # sets → identical best target)
    rep_fp = s_reps.select(F.col("_sid").alias("_rsid"), "_sfp")
    cross = (
        best.join(rep_fp, "_rsid")
        .join(s_members, "_sfp")
        .select("_sid", "_tid", "similarity")
    )
    if exclude_self:
        # within-group candidate: for source member s with fingerprint
        # fp, the lowest target id sharing fp other than s itself —
        # similarity exactly 1.0, which beats every cross-fingerprint
        # candidate at this fp (strictly smaller intersection). Each
        # group needs only its two smallest target ids, already ranked
        # in t_ranked: the min when it isn't s, else the second-min.
        t_top2 = (
            t_ranked.select("_tid", "_tfp")
            .groupBy("_tfp")
            .agg(
                F.min("_tid").alias("_t1"),
                F.max("_tid").alias("_t2"),
                F.count(F.lit(1)).alias("_gn"),
            )
        )
        within = (
            # rows with NO trigrams (blank/all-punct text — empty and
            # NULL sets both fingerprint to md5("")) must not pair:
            # pg_trgm defines similarity as 0 when either side has no
            # trigrams, and the plain path emits nothing for them, so
            # a fabricated within-group 1.0 would break the
            # collapse == plain contract
            s_members.where(F.col("_sfp") != F.lit(_EMPTY_FP))
            .join(t_top2, s_members["_sfp"] == t_top2["_tfp"])
            .select(
                "_sid",
                F.when(F.col("_t1") != F.col("_sid"), F.col("_t1"))
                .when(F.col("_gn") >= 2, F.col("_t2"))
                .alias("_tid"),
                F.lit(1.0).alias("similarity"),
            )
            .where(F.col("_tid").isNotNull())
        )
        cross = first(cross.unionByName(within))
    return named(cross)


def edit_distance_pairs(
    df: DataFrame,
    column: str,
    id_col: str,
    max_dist: int = 4,
    sim_floor: float | None = None,
    max_trigram_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs by EDIT DISTANCE with trigram blocking: candidate
    pairs share >= 1 trigram and clear the q-gram count bound; only
    candidates pay the levenshtein verify. Output:
    (id_a, id_b, similarity, edit_distance), id_a < id_b.

    The blocked-verify shape mirrors the dedup families: exact
    verification on candidates only, never all pairs. Spark's
    levenshtein takes a threshold argument — the DP early-exits past
    `max_dist`, so the verify cost is O(len·max_dist) per candidate at
    scale, not O(len²).

    Pre-verify pruning (default, sim_floor=None): the LOSSLESS q-gram
    count rule — one edit destroys at most 3 trigrams, so ED ≤ d
    implies |Ta ∩ Tb| ≥ max(|Ta|,|Tb|) − 3d; candidates below that
    bound cannot pass the verify and are dropped safely. A fixed
    similarity floor is NOT lossless for short fields ('smith' vs
    'smyth' is distance 1 but trigram similarity 0.333 — one edit
    wipes 3 of a 6-trigram word), so `sim_floor` is an opt-in extra
    prune for callers who accept that recall trade (the catalog's
    dedup_edit_distance pins 0.4 to match its oracle)."""
    t = widen(df).select(
        F.col(id_col).alias("_tid"), trigrams(column).alias("_ttg")
    ).transform(ckpt)
    s = t.select(F.col("_tid").alias("_sid"), F.col("_ttg").alias("_stg"))
    pairs = _pairs_from_trigram_frames(
        s, t, max_trigram_freq, keep_counts=True
    ).where(F.col("_sid") < F.col("_tid"))
    if sim_floor is not None:
        pairs = pairs.where(F.col("similarity") >= sim_floor)
    else:
        pairs = pairs.where(
            F.col("_inter") >= F.greatest("_sn", "_tn") - 3 * max_dist
        )
    pairs = pairs.drop("_inter", "_sn", "_tn")
    texts = df.select(F.col(id_col).alias("_xid"), F.col(column).alias("_xtxt"))
    a = texts.select(F.col("_xid").alias("_sid"), F.col("_xtxt").alias("_ta"))
    b = texts.select(F.col("_xid").alias("_tid"), F.col("_xtxt").alias("_tb"))
    # thresholded levenshtein: the DP early-exits past max_dist and
    # returns -1 (O(len·max_dist) per candidate, not O(len²))
    dist = F.levenshtein("_ta", "_tb", threshold=max_dist)
    return (
        pairs.join(a, "_sid")
        .join(b, "_tid")
        .withColumn("edit_distance", dist)
        .where(F.col("edit_distance") >= 0)
        .select(
            F.col("_sid").alias("id_a"),
            F.col("_tid").alias("id_b"),
            F.round("similarity", 6).alias("similarity"),
            "edit_distance",
        )
    )


# -- claiming rounds -------------------------------------------------------------

# Row budget of the driver claiming path, sources and targets together.
# The nightly voter residual is ~1,100 rows; 5,000 rows of 30 trigrams
# each take about 20 MB of driver memory as Python sets.
DRIVER_MAX_ROWS = 5_000
# Candidate-pair budget of the driver path: the exact inverted-index
# fanout Σ_tg s_n·t_n summed over the fuzzy columns, which bounds the
# driver's counting work (0.85 CPU s of Python for one round at the
# cap, 1,000 × 2,000 rows of 20 trigrams, on a 4-core x86 host).
DRIVER_MAX_PAIRS = 2_000_000
# Trigram sets must stay below this size for the driver path (see
# _driver_claims for why).
DRIVER_MAX_SET = 500


def _better(a: tuple, b: tuple | None) -> bool:
    """(similarity, id) a beats b: higher similarity, then lower id."""
    return b is None or a[0] > b[0] or (a[0] == b[0] and a[1] < b[1])


def _driver_claims(
    unmatched: DataFrame,
    pool: DataFrame,
    columns: list[str],
    source_id: str,
    target_id: str,
    threshold: float,
) -> DataFrame | None:
    """fuzzy_claiming_rounds on the driver, or None when the residual
    is not provably small.

    `session.small_sides` collects both sides' ids and trigram sets in
    one bounded job. The driver path runs only when every one of these
    holds; otherwise the caller runs the distributed rounds and the
    bounded collect is the only waste:
    - small_sides' gate: at most DRIVER_MAX_ROWS rows together, integral
      or default-collation string ids, unique per side;
    - no id is NULL (the distributed claim semantics assume it too);
    - every trigram set has fewer than DRIVER_MAX_SET elements;
    - the exact candidate fanout is at most DRIVER_MAX_PAIRS.

    Each round is the distributed round computed with an in-memory
    inverted index: similarity inter/(sn+tn−inter) qualified by
    `> 1 − threshold`; each source takes its top target (similarity
    desc, tid asc); each target goes to its best source (similarity
    desc, sid asc); claimed rows leave both sides. NULL or empty sets
    share no trigram and never pair.

    The distributed path orders its claims by the 6-dp ROUNDED
    similarity; the driver orders by the exact one. They agree: with
    sets under 500 elements every qualifying union is ≤ 997, so two
    distinct ratios differ by ≥ 1/997² > 1e-6 and round apart, while
    equal ratios are equal doubles (IEEE division is correctly
    rounded). The output goes through the same F.round(…, 6).

    The claims come back as one `session.local_frame` (at most
    DRIVER_MAX_ROWS / 2 rows): its exact size estimate lets the
    default broadcast threshold broadcast it into the caller's joins,
    and reading it runs no job."""
    sets = [trigrams(c).alias(f"_g{i}") for i, c in enumerate(columns)]
    sides = small_sides([(unmatched, source_id), (pool, target_id)], sets, DRIVER_MAX_ROWS)
    if sides is None:
        return None
    src: dict = {}
    tgt: dict = {}
    for side, rows in zip((src, tgt), sides):
        for ident, *gs in rows:
            if ident is None:
                return None
            tg = [frozenset(g or ()) for g in gs]
            if any(len(g) >= DRIVER_MAX_SET for g in tg):
                return None
            side[ident] = tg
    fanout = 0
    for i in range(len(columns)):
        t_n = Counter(g for v in tgt.values() for g in v[i])
        fanout += sum(
            n * t_n[g]
            for g, n in Counter(g for v in src.values() for g in v[i]).items()
        )
    if fanout > DRIVER_MAX_PAIRS:
        return None

    floor = 1.0 - threshold
    claims = []
    for i, col in enumerate(columns):
        index = defaultdict(list)
        for tid, v in tgt.items():
            for g in v[i]:
                index[g].append(tid)
        winner: dict = {}  # tid -> (similarity, sid) of its best source
        for sid, v in src.items():
            sg = v[i]
            inter = Counter()
            for g in sg:
                inter.update(index.get(g, ()))
            top = None
            for tid, n in inter.items():
                sim = n / (len(sg) + len(tgt[tid][i]) - n)
                if sim > floor and _better((sim, tid), top):
                    top = (sim, tid)
            if top is not None and _better((top[0], sid), winner.get(top[1])):
                winner[top[1]] = (top[0], sid)
        for tid, (sim, sid) in winner.items():
            claims.append((sid, tid, sim, col))
            del src[sid], tgt[tid]

    schema = T.StructType(
        [
            T.StructField(source_id, unmatched.schema[source_id].dataType),
            T.StructField(f"matched_{target_id}", pool.schema[target_id].dataType),
            T.StructField("similarity", T.DoubleType()),
            T.StructField("_fuzzy_column", T.StringType()),
        ]
    )
    return local_frame(unmatched.sparkSession, claims, schema).withColumn(
        "similarity", F.round("similarity", 6)
    )


def fuzzy_claiming_rounds(
    unmatched: DataFrame,
    pool: DataFrame,
    columns: list[str],
    source_id: str,
    target_id: str,
    threshold: float = DEFAULT_THRESHOLD,
) -> DataFrame:
    """J8+J9: the reference's sequential per-column fuzzy rounds with
    at-most-once target claiming.

    Round per fuzzy column: unmatched sources take their top-1 target;
    when several sources claim one target, the best (similarity, then
    lowest source id) wins — a deterministic version of the reference's
    arbitrary within-round claiming (deviation documented, SURVEY
    §4.3.2). Claimed targets leave the pool; matched sources leave the
    unmatched set (fuzzy_merger.rb:38-67).

    Two paths, identical output. A small residual (the gate in
    `_driver_claims`: at most DRIVER_MAX_ROWS rows by `session.
    small_sides`, DRIVER_MAX_PAIRS candidate pairs, unique non-null
    integral or default-collation string ids, trigram sets under
    DRIVER_MAX_SET) is collected in one job and claimed on the driver;
    its exact-similarity order equals the distributed path's 6-dp
    rounded order because every union is ≤ 997. Otherwise each round
    runs `top1_fuzzy_match` (dup-fanout probe, hazard guard) and a
    per-round checkpoint truncates lineage like the reference's
    temp-table refinement.

    Returns (source_id, matched_<target_id>, similarity, _fuzzy_column).
    """
    if not columns:
        raise ValueError("fuzzy_claiming_rounds needs at least one fuzzy column")
    claims = _driver_claims(unmatched, pool, columns, source_id, target_id, threshold)
    if claims is not None:
        return claims
    results = []
    for col in columns:
        best = top1_fuzzy_match(
            unmatched, pool, col, source_id, target_id, threshold
        )
        # at-most-once claiming: one source per target
        w = Window.partitionBy(f"matched_{target_id}").orderBy(
            F.col("similarity").desc(), F.col(source_id).asc()
        )
        claimed = (
            best.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
            .withColumn("_fuzzy_column", F.lit(col))
            .transform(ckpt)
        )
        results.append(claimed)
        unmatched = unmatched.join(
            claimed.select(F.col(source_id).alias("_m")),
            unmatched[source_id] == F.col("_m"),
            "left_anti",
        )
        pool = pool.join(
            claimed.select(F.col(f"matched_{target_id}").alias("_m")),
            pool[target_id] == F.col("_m"),
            "left_anti",
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out
