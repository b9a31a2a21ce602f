"""Deduplication operator family for training-data pipelines.

- exact_dedup: hash-groupBy keep-one (generalizes the reference's
  dedup_driver lowest-pk-survivor semantics to arbitrary keys).
- ngram_jaccard_pairs: near-dup candidate pairs by word n-gram Jaccard
  via an inverted-index join (shared-shingle blocking) — no cross join.
- minhash_lsh_pairs: MinHash + banded LSH. Hashes are md5-derived →
  deterministic and engine-portable (the DuckDB oracle can reproduce
  signatures bit-for-bit).
- simhash64: 64-bit SimHash over word shingles, plus hamming-distance
  candidate pairing on band keys.

Scale notes: every family avoids the quadratic cross join by blocking
(shared shingle / LSH band / simhash band). Shingle explosion is the
dominant shuffle; band width trades recall for fanout.

Output contract (r13): the pair producers emit COLLAPSED
representatives by default — rep-level pairs plus one member→rep edge
per exact duplicate, linear in corpus size and equivalent for
connected components and keep-min-id pruning (_collapse_exact.spanning
has the proof). The expanded C(d,2)-per-group listing is opt-in
(expand_pairs=True); count-only consumers use ngram_jaccard_graph.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict
from itertools import combinations, product
from typing import NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from voter_gateway_spark.operators.skew import widen
from voter_gateway_spark.session import (
    Py4JError,
    ckpt,
    ckpt_defer,
    ckpt_lazy,
    local_frame,
    python_ordered,
    small_rows,
    small_sides,
)


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def exact_dedup(df: DataFrame, keys: list[str], pk: str) -> DataFrame:
    """Keep the lowest-pk row per key group (deterministic survivor,
    matching DedupPlan's default orientation)."""
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(F.col(pk).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# -- word shingles ------------------------------------------------------------

def word_shingles(col: Column | str, k: int = 3, distinct: bool = True) -> Column:
    """Distinct word k-shingles of normalized lowercase text
    (`distinct=False` keeps multiplicity — repetition analysis needs
    the raw count).

    Splitting on \\s+ directly (instead of regexp_replace-then-split)
    saves a full regex pass over the text; empty fragments from
    leading/trailing whitespace are filtered, so the word list is
    identical to the normalize-first formulation the oracle uses.

    The word list is BOUND as a lambda variable (transform over a
    one-element array) before the shingle loop. Referencing the
    split+filter subtree directly inside the per-shingle lambda
    re-evaluates it per shingle — O(words²) per row, measured 5× slower
    on the documents fixture."""

    def build(words: Column) -> Column:
        n = F.size(words)
        idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
        sh = F.transform(
            idx,
            # try_element_at: docs with < k words index past the
            # array — ANSI mode (Spark 4 default) makes element_at
            # THROW there; try_element_at yields NULL, which
            # concat_ws skips, matching the oracle's out-of-bounds
            # wl[i+j] → NULL behavior in DuckDB bit-for-bit.
            lambda i: F.concat_ws(
                " ", *[F.try_element_at(words, (i + j).cast("int")) for j in range(k)]
            ),
        )
        return F.array_distinct(sh) if distinct else sh

    words = F.filter(F.split(F.lower(_c(col)), r"\s+"), lambda w: w != "")
    return F.element_at(F.transform(F.array(words), build), 1)


def _ratio(inter: Column, union: Column) -> Column:
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    return _ratio(inter, F.size(a) + F.size(b) - inter)


def _verified_pairs(
    cand: DataFrame, a: str, b: str, ha: DataFrame, hb: DataFrame, threshold: float
) -> DataFrame:
    """(a, b, jaccard) for the candidate pairs in `cand` (columns `a`,
    `b`) whose exact Jaccard, rounded to 6 places, is >= threshold —
    the one verification rule of every blocked Jaccard producer, and
    the rule their DuckDB oracles mirror. `ha` / `hb` are the (_id,
    _hh) hash-set frames of the a and b sides; banding and prefix
    filtering only choose candidates, so they affect recall, never
    precision."""
    return (
        cand.join(ha.select(F.col("_id").alias(a), F.col("_hh").alias("_sha")), a)
        .join(hb.select(F.col("_id").alias(b), F.col("_hh").alias("_shb")), b)
        .select(a, b, F.round(jaccard(F.col("_sha"), F.col("_shb")), 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _collapse_exact(
    full: DataFrame,
    materialize: bool,
    value_col: str,
    intra_value,
    stage=None,
):
    """Collapse rows whose `_hh` hash lists are IDENTICAL to one
    representative before a pair-producing join, and return
    (members, reps, expand, spanning, grouped).

    Crawl-style corpora carry d identical copies of a document; every
    blocking scheme (shared shingle, LSH band, simhash band) keys the
    copies into the same buckets, costing d² candidate work per group
    (measured: 10-way duplication turned a 3s join into minutes).
    Joining one representative per fingerprint restores corpus-unique
    cost; `expand` then rebuilds the full pair set losslessly —
    intra-group pairs get `intra_value` (jaccard 1.0 / hamming 0 by
    definition of identical inputs), cross-group member pairs inherit
    their representatives' value (identical inputs ⇒ identical
    similarity). Rows with empty hash lists never pair.

    The group key is the SORTED hash list: every downstream pair
    semantics in the family is order-insensitive (Jaccard and minhash
    signatures read the distinct-hash SET; simhash majority-votes the
    multiset), so same-hashes-different-order rows are legitimately
    one group — and sorting makes the key engine-portable (the DuckDB
    oracle mirrors it as array_to_string(list_sort(hl), ',') without
    depending on either engine's distinct-preserving order).

    Plan shape: ONE window pass (hash-exchange by the fingerprint
    `_fp`) feeds ONE materialization that every branch reads; there is
    no groupBy + join-back.

    No construct is group-sized. The materialized frame holds rows,
    not arrays: every row carries its group representative id (`_rep`
    = running `first(_id)` over the ordered window — a streaming
    frame, so the window buffers nothing). members, spanning and
    membership derive row-per-member, and `expand` rebuilds the pair
    multiset with ordinary joins on `_rep` (distributed; AQE can
    skew-split them). A million-way duplicated document therefore
    costs one row per member — never a 10⁶-element array on one row
    or a d×e single-task explode — so no group-size probe or fallback
    branch is needed.

    Null ids: rows with NULL `_id` are dropped at entry, so a null id
    is never elected representative and never appears in any output.
    Pinned by tests/test_collapse_windowed.py::test_null_ids_dropped.

    Unique-id precondition: non-null `_id` values must be unique. The
    rep filter `_id == _rep` elects every row that bears the group's
    first id, so with duplicate ids a group gets several rep rows, and
    each one multiplies through the band join, verification and
    `expand`. Nothing here checks it: the id column must be a key.

    `stage`: optional callable applied to the full row frame (with
    `_rep` and `_n`) BEFORE materialization, so callers stage derived
    per-rep columns (e.g. the MinHash signature) into the same single
    checkpoint; guard nontrivial staged expressions with `_id == _rep`.
    Only after the stage is `_hh` nulled on non-rep rows (each group's
    hash set is stored once). The order matters for cost: the
    16-permutation signature over the nulled `_hh` runs measurably
    slower (same jobs, one extra projection) than over the window's
    own `_hh`.

    Returns (members, reps, expand, spanning, grouped):
    - members: (_id, _rep, _n) — one row per non-null-id input row;
    - reps: (_id, _hh) — one row per group, _id = group-min id;
    - grouped: rep rows with all staged columns;
    - expand/spanning: pair-emission callables over rep-level pairs.
    """
    fp = F.md5(
        F.concat_ws(
            ",", F.transform(F.sort_array(F.col("_hh")), lambda h: h.cast("string"))
        ).cast("binary")
    )
    w_ord = Window.partitionBy("_fp").orderBy("_id")
    rows = (
        full.where(F.col("_id").isNotNull())
        .withColumn("_fp", fp)
        .withColumn("_rep", F.first("_id").over(w_ord))
        .drop("_fp")
        .withColumn("_n", F.size("_hh"))
    )
    if stage is not None:
        rows = stage(rows)
    rows = rows.withColumn("_hh", F.when(F.col("_id") == F.col("_rep"), F.col("_hh")))
    if materialize:
        rows = rows.transform(ckpt)
    grouped = rows.where(F.col("_id") == F.col("_rep"))
    reps = grouped.select("_id", "_hh")
    members = rows.select("_id", "_rep", "_n")

    def expand(rep_pairs: DataFrame) -> DataFrame:
        # join form (guide §2.5): the d×e cross-member block and the
        # C(d,2) intra listing are produced by joins keyed on the
        # 8-byte rep id, so the work distributes across tasks (and AQE
        # can skew-split it) instead of exploding from one row
        m = rows.select("_id", "_rep")
        cross = (
            rep_pairs.join(
                m.select(F.col("_rep").alias("id_a"), F.col("_id").alias("_ma")),
                "id_a",
            )
            .join(
                m.select(F.col("_rep").alias("id_b"), F.col("_id").alias("_mb")),
                "id_b",
            )
            .select(
                F.least("_ma", "_mb").alias("id_a"),
                F.greatest("_ma", "_mb").alias("id_b"),
                value_col,
            )
        )
        # intra-group pairs: self-join within the group; _id inequality
        # reproduces the old x._id < y._id enumeration exactly
        mi = rows.where(F.col("_n") > 0).select("_id", "_rep")
        intra = (
            mi.alias("a")
            .join(
                mi.alias("b"),
                (F.col("a._rep") == F.col("b._rep"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .select(
                F.col("a._id").alias("id_a"),
                F.col("b._id").alias("id_b"),
                F.lit(intra_value).alias(value_col),
            )
        )
        return cross.unionByName(intra)

    def spanning(rep_pairs: DataFrame) -> DataFrame:
        """Collapsed-representative emission: the rep-level pairs plus
        one member→representative edge per collapsed duplicate (value
        = `intra_value`: identical inputs by construction). Linear in
        corpus size where `expand` is d² in the duplication factor,
        yet equivalent for every decision a dedup pipeline makes:

        - connected components: member→rep edges keep each duplicate
          group connected and reps carry the cross-group pairs, so the
          component map over spanning(P) equals the map over expand(P)
          (same node set, same reachability).
        - keep-min-id pruning ("losers = distinct id_b"): a collapsed
          member always loses to its rep (rep = group min), and a rep
          r loses in expand(P) iff some neighbor a < r exists — a's
          group rep rep' satisfies rep' <= a < r and similarity(r, a)
          = similarity(r, rep'), so the rep pair (rep', r) is present
          and r loses in spanning(P) too. Survivor sets are identical,
          threshold by threshold (values are inherited unchanged).

        What it does NOT preserve is the pair multiset itself — pair
        COUNTS and per-pair listings of intra-group/cross-member pairs
        need `expand` (opt-in via the producers' expand_pairs=True).
        Reps are each group's min id, so id_a < id_b holds."""
        grp = (
            rows.where((F.col("_n") > 0) & (F.col("_id") != F.col("_rep")))
            .select(
                F.col("_rep").alias("id_a"),
                F.col("_id").alias("id_b"),
                F.lit(intra_value).alias(value_col),
            )
        )
        return rep_pairs.select("id_a", "id_b", value_col).unionByName(grp)

    return members, reps, expand, spanning, grouped


def _ngram_graph(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    threshold: float,
    materialize: bool,
    prefix_filter: bool | None,
):
    """Shared core of ngram_jaccard_pairs / ngram_jaccard_graph:
    shingle-hash projection, exact-group collapse, blocked candidate
    generation (`prefix_filter`: the AllPairs/PPJoin prefix principle
    — order tokens by global rarity and index only each set's first
    |s| - ceil(t*|s|) + 1 tokens; any pair with J >= t must collide
    inside those prefixes, so a hot token's join fanout drops from f²
    toward ((1-t)f)²), and exact Jaccard verification on the blocked
    candidates. Shingles ride as 60-bit md5-derived ints
    (shingle_hash60): the exploded inverted-index join shuffles 8-byte
    keys instead of multi-word text, and Jaccard over the distinct
    hash sets equals Jaccard over the shingle sets (the oracle hashes
    the same way, so even a collision — ~n²/2^60 — is mirrored).
    Returns (members, reps, rep_pairs, expand, spanning, grouped)."""
    full = widen(df).select(
        F.col(id_col).alias("_id"), shingle_hash_set(text_col, k).alias("_hh")
    )
    # no checkpoint of `full` here: _collapse_exact is its single
    # consumer and materializes the one rep frame every branch
    # (candidates, verification, spanning/expand) reads — one eager
    # barrier per call
    members, reps, expand, spanning, grouped = _collapse_exact(
        full, materialize, "jaccard", 1.0
    )
    base = reps.select("_id", "_hh")
    sizes = base.select("_id", F.size("_hh").alias("_n"))
    ex = base.select("_id", F.explode("_hh").alias("_s"))
    if prefix_filter is None:
        prefix_filter = threshold >= 0.5
    if prefix_filter:
        freq = ex.groupBy("_s").agg(F.count(F.lit(1)).alias("_f"))
        w = Window.partitionBy("_id").orderBy(F.col("_f").asc(), F.col("_s").asc())
        prefix = (
            ex.join(freq, "_s")
            .withColumn("_rn", F.row_number().over(w))
            .join(sizes, "_id")
            # round before ceil: t·n computed in doubles can land a
            # hair ABOVE an exact integer (0.56·25 = 14.000000000000002
            # → ceil 15), shortening the prefix by one token and
            # breaking the lossless guarantee; snapping to a 1e-6 grid
            # first can only err the other way (a longer prefix —
            # recall-safe, marginally more index rows)
            .where(
                F.col("_rn")
                <= F.col("_n")
                - F.ceil(F.round(F.lit(threshold) * F.col("_n"), 6))
                + 1
            )
            .select("_id", "_s")
        )
        cand = (
            prefix.alias("a")
            .join(prefix.alias("b"), (F.col("a._s") == F.col("b._s")) & (F.col("a._id") < F.col("b._id")))
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        # exact verification on the (small, blocked) candidate set
        rep_pairs = _verified_pairs(cand, "id_a", "id_b", base, base, threshold)
        return members, reps, rep_pairs, expand, spanning, grouped
    # low thresholds: full inverted-index join; intersection size = pair
    # count (arrays are distinct), so only (id, id) tuples shuffle —
    # never the arrays
    inter = (
        ex.alias("a")
        .join(ex.alias("b"), (F.col("a._s") == F.col("b._s")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    rep_pairs = (
        inter.join(sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return members, reps, rep_pairs, expand, spanning, grouped


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    materialize: bool = True,
    prefix_filter: bool | None = None,
    expand_pairs: bool = False,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, jaccard >= threshold) via
    inverted-index blocking on shared shingles (see _ngram_graph for
    the blocking/verification machinery). Lossless for threshold > 0:
    any qualifying pair shares >= 1 shingle.

    DEFAULT OUTPUT IS COLLAPSED: one pair per pair of exact-duplicate
    GROUPS (representatives = group-min ids) plus one member→rep edge
    per collapsed duplicate — linear in corpus size. The expanded
    all-pairs listing re-materializes C(d,2) rows per d-way duplicated
    text (the measured 15×-per-decade scale-killer on crawl-style
    corpora); it is equivalent for components and keep-min-id pruning
    (see _collapse_exact.spanning) and available as expand_pairs=True
    where the pair multiset itself is the semantics (pair counting,
    audit listings). Consumers that only need COUNTS of the expanded
    multiset should use ngram_jaccard_graph and multiply group sizes
    instead (the corpus_source_overlap pattern)."""
    _, _, rep_pairs, expand, spanning, _ = _ngram_graph(
        df, id_col, text_col, k, threshold, materialize, prefix_filter
    )
    return (expand if expand_pairs else spanning)(rep_pairs)


def ngram_jaccard_graph(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    materialize: bool = True,
    prefix_filter: bool | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The collapsed near-dup GRAPH, for consumers that aggregate
    over the expanded pair multiset without materializing it:
    (rep_pairs, membership) where rep_pairs is (id_a, id_b, jaccard)
    between group REPRESENTATIVES only and membership is (id, rep) —
    one row per document with a nonempty shingle set, rep = the
    group-min id (singleton groups map to themselves).

    Expanded-count algebra: every cross-group pair (m in G, n in H)
    has jaccard(rep_G, rep_H), so a per-(G,H) count is a product of
    group-size breakdowns joined through rep_pairs; intra-group pairs
    (jaccard 1.0) are C(|G|,2)-style products within membership. A
    million-row duplicate group costs one membership row per doc and
    ONE rep_pairs row per neighbor group — never C(d,2) pair rows."""
    members, _, rep_pairs, expand, spanning, _ = _ngram_graph(
        df, id_col, text_col, k, threshold, materialize, prefix_filter
    )
    # row-per-member from the one materialized frame: every row carries
    # its group rep in-row (r16 rows-not-arrays form), so membership is
    # a projection — no explode, no per-group array
    membership = members.where(F.col("_n") > 0).select(
        F.col("_id").alias("id"), F.col("_rep").alias("rep")
    )
    return rep_pairs, membership


# -- driver-side gates ---------------------------------------------------------

# Directed-edge budget of the driver union-find gate, shared by
# connected_components and incremental_component_assign.
DRIVER_MAX_EDGES = 100_000
# The MinHash producers' driver path (_driver_minhash_counts) runs when
# its one collect holds at most MINHASH_DRIVER_MAX_ROWS rows, both sides
# together, and every shingle-hash set has at most MINHASH_DRIVER_MAX_SET
# elements (an n-word text has n - 2). Its cost grows with the hashes
# collected, which one task computes. On a 4-core x86 host, local[4],
# medians of 5 warm runs, each result written to the noop sink, CPU of
# the driver JVM, the driver's Python and its Python workers: at both caps (2,000 rows of 100
# hashes) it took 0.43 s wall and 0.76 CPU s against 0.61 s and 1.50
# CPU s distributed, with a 30 MB Python peak; 2,000 rows of 200 hashes
# took 0.95 s against 0.59 s, and 3,000 rows of 54-word documents 0.61 s
# against 0.44 s, so the caps stay where the distributed path takes
# over. A 50-document probe of 550 documents takes 0.14 s and 0.24 CPU s
# against 0.54 s and 0.98 CPU s. Over the row cap the declined collect
# adds ~0.1 s wall and ~0.13 CPU s to the distributed path (5,000
# documents: 0.68 s against 0.58 s). MINHASH_DRIVER_MAX_FANOUT bounds
# the band-bucket fanout, so the driver's verification work and the
# rows it hands back: near the cap (fanout 175,208, 74,065 rows out) the
# driver path took 0.72 s and 1.09 CPU s against 3.20 s and 4.58 CPU s,
# with a 22 MB Python peak.
MINHASH_DRIVER_MAX_ROWS = 2_000
MINHASH_DRIVER_MAX_SET = 100
MINHASH_DRIVER_MAX_FANOUT = 200_000


# -- MinHash + LSH -------------------------------------------------------------

_MINHASH_P = 2147483647  # 2^31 - 1: a*h + b stays under 2^63 in BIGINT


def _affine_consts(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) per permutation, derived from md5 so the
    SQL oracle can bake the identical literals."""
    out = []
    for i in range(n_hashes):
        a = int(hashlib.md5(f"a:{i}".encode()).hexdigest()[:8], 16) % (_MINHASH_P - 1) + 1
        b = int(hashlib.md5(f"b:{i}".encode()).hexdigest()[:8], 16) % _MINHASH_P
        out.append((a, b))
    return out


def _affine(a: int, b: int):
    # closure factory — see the word_hashes docstring for why not a
    # default-arg lambda. Reduce h mod p first so a*(h%p) stays under
    # 2^62 (ANSI mode errors on BIGINT overflow).
    return lambda h: ((h % F.lit(_MINHASH_P)) * F.lit(a) + F.lit(b)) % F.lit(_MINHASH_P)


def md5_hash60(col: Column | str) -> Column:
    """60-bit integer from the first 15 hex chars of md5 of the value
    rendered as a string — THE portable hash primitive shared by every
    deterministic sampler/splitter/shingle index in the engine. DuckDB
    reproduces it as ('0x' || substring(md5(CAST(x AS VARCHAR)),1,15))
    ::BIGINT. 15 hex chars = 60 bits (fits a signed bigint); widening
    to 16 would flip sign bits differently per engine — change it ONLY
    here and in every oracle together."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(
        F.substring(F.md5(c.cast("string").cast("binary")), 1, 15), 16, 10
    ).cast("bigint")


def shingle_hash60(s: Column) -> Column:
    """md5_hash60 over an (already-string) shingle column."""
    return md5_hash60(s)


def shingle_hash_set(col: Column | str, k: int = 3) -> Column:
    """The distinct 60-bit hashes of a text's word k-shingles
    (array<bigint>): the hash SET every Jaccard and MinHash consumer
    reads. Jaccard over these sets equals Jaccard over the shingle
    sets up to 60-bit collisions, which the oracles mirror by hashing
    the same way. NULL, empty and whitespace-only texts all give the
    one-element set of the '' shingle, never an empty set."""
    return F.array_distinct(F.transform(word_shingles(col, k), shingle_hash60))


def minhash_signature(hashes: Column, n_hashes: int = 16) -> Column:
    """n-permutation MinHash over pre-computed shingle hashes: one md5
    per shingle (NOT per seed — 16× cheaper), then n affine permutations
    (a_i*h + b_i) mod 2^31-1, min per permutation.

    `hashes` must be a REFERENCE to a projected column of
    `shingle_hash60` values (array<bigint>), not the hash expression
    inline: CollapseProject keeps a non-cheap multi-referenced alias
    staged, so the md5 pass runs once per row instead of n times."""
    sigs = [
        F.array_min(F.transform(hashes, _affine(a, b)))
        for a, b in _affine_consts(n_hashes)
    ]
    return F.array(*sigs)


def _n_band_keys(rows_per_band: int) -> int:
    return (rows_per_band + 1) // 2


def _minhash_band_rows_packed(
    base: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """(_id, _b, _k0.._k{m-1}) LSH band rows with the band's signature
    slice PACKED into m = ceil(rows_per_band/2) bigints, two values per
    word (signature values are mod 2^31-1, so 31 bits each; lo<<31|hi
    stays under 2^62 — no ANSI overflow). This is the ONE band form:
    in-memory band joins and the persisted band index both key on it,
    and the default 4-row band shuffles 16 bytes of key.

    Invariant: no signature element is NULL, so no packed key is NULL
    and every row takes part in the equi-join. Every text, including
    NULL, empty and whitespace-only ones, shingles to a non-empty hash
    set (see shingle_hash_set), so minhash_signature never sees an
    empty set. Pinned by tests/test_operators.py::
    test_minhash_signature_has_no_null_element."""
    def band_keys(b: int) -> list[Column]:
        ks = []
        for j in range(0, rows_per_band, 2):
            lo = F.element_at("_sig", b * rows_per_band + j + 1)
            if j + 1 < rows_per_band:
                hi = F.element_at("_sig", b * rows_per_band + j + 2)
                ks.append(F.shiftleft(lo, 31).bitwiseOR(hi))
            else:
                ks.append(lo)
        return ks

    nk = _n_band_keys(rows_per_band)
    return base.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        *[
                            k.alias(f"key{i}")
                            for i, k in enumerate(band_keys(b))
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_band"),
    ).select(
        "_id",
        F.col("_band.band").alias("_b"),
        *[F.col(f"_band.key{i}").alias(f"_k{i}") for i in range(nk)],
    )


def _band_join_cond(nk: int) -> Column:
    """Equi-join condition over (_b, _k0.._k{nk-1}) for two aliased
    packed band-row frames `a` and `b`."""
    cond = F.col("a._b") == F.col("b._b")
    for i in range(nk):
        cond = cond & (F.col(f"a._k{i}") == F.col(f"b._k{i}"))
    return cond


def minhash_hashed_sigs(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, n_hashes: int = 16
) -> DataFrame:
    """(_id, _hh, _sig): distinct 60-bit shingle hashes + MinHash
    signature per row — the front half of the persisted band index
    (build, probe and admission). The in-memory producers collapse
    exact duplicates first (_signed_collapse)."""
    return (
        widen(df)
        .select(F.col(id_col).alias("_id"), shingle_hash_set(text_col, k).alias("_hh"))
        .select("_id", "_hh", minhash_signature(F.col("_hh"), n_hashes).alias("_sig"))
        .transform(ckpt)
    )


def _signed_collapse(
    df: DataFrame, id_col: str, text_col: str, k: int, n_hashes: int
):
    """The front half of the in-memory MinHash producers: shingle hash
    sets, exact-duplicate collapse and signatures in ONE eager
    checkpoint. Returns _collapse_exact's (members, reps, expand,
    spanning, grouped), with the MinHash signature `_sig` staged on the
    representative rows of `grouped` (NULL elsewhere, like `_hh`)."""
    full = widen(df).select(
        F.col(id_col).alias("_id"), shingle_hash_set(text_col, k).alias("_hh")
    )
    return _collapse_exact(
        full,
        True,
        "jaccard",
        1.0,
        stage=lambda g: g.withColumn(
            "_sig",
            F.when(
                F.col("_id") == F.col("_rep"),
                minhash_signature(F.col("_hh"), n_hashes),
            ),
        ),
    )


def _driver_signatures(sets: list[frozenset], n_hashes: int) -> list[list[int]]:
    """minhash_signature of each non-empty hash set, with numpy: the
    same affine permutations, min per permutation. Hashes are 60-bit
    non-negative ints, so numpy's floor `%` equals Spark's truncating
    one and every intermediate stays under 2^63."""
    if not sets:
        return []
    flat = np.fromiter((h for s in sets for h in s), np.int64) % _MINHASH_P
    starts = np.cumsum([0] + [len(s) for s in sets[:-1]])
    # one permutation at a time: the temporaries stay one int64 per hash
    mins = [
        np.minimum.reduceat((flat * a + b) % _MINHASH_P, starts)
        for a, b in _affine_consts(n_hashes)
    ]
    return np.stack(mins, axis=1).tolist()


def _minhash_count_rows(
    groups: list[dict], n_hashes: int, bands: int, expand: list[bool]
) -> list[tuple] | None:
    """The driver half of _driver_minhash_counts: from each side's
    {hash set: member ids}, the (a, b, inter, union) rows the
    distributed collapse, band join and verification would pair, or
    None when the band-bucket fanout is over MINHASH_DRIVER_MAX_FANOUT.

    Reps are each group's minimum id; they are signed with numpy
    (_driver_signatures) and bucketed by band slice (equal slices are
    equal packed keys). Each candidate rep pair gets its exact
    intersection and union, copied to every member pair an expanded
    side lists. The self join (one side; pairs a < b) also lists the
    member→rep edges (spanning) or the intra-group pairs (expand) at
    (1, 1)."""
    selfjoin = len(groups) == 1
    # per side: (rep, hash set, member ids), one entry per group
    reps = [[(min(ids), hs, ids) for hs, ids in g.items()] for g in groups]
    sigs = _driver_signatures([hs for side in reps for _, hs, _ in side], n_hashes)
    rpb = n_hashes // bands
    buckets: dict = defaultdict(lambda: [[] for _ in groups])
    signed = ((i, j) for i, side in enumerate(reps) for j in range(len(side)))
    for (i, j), sig in zip(signed, sigs):
        for b in range(bands):
            buckets[(b, *sig[b * rpb : b * rpb + rpb])][i].append(j)

    def width(i: int, bucket: list) -> int:
        # a bucket side's size in the ids the output lists
        return sum(len(reps[i][j][2]) for j in bucket[i]) if expand[i] else len(bucket[i])

    fanout = 0
    for bucket in buckets.values():
        w = width(0, bucket)
        fanout += w * (w - 1) // 2 if selfjoin else w * width(1, bucket)
    if fanout > MINHASH_DRIVER_MAX_FANOUT:
        return None

    cand = set()
    for bucket in buckets.values():
        cand.update(combinations(bucket[0], 2) if selfjoin else product(*bucket))
    out = []
    for ja, jb in cand:
        (ra, ha, ma), (rb, hb, mb) = reps[0][ja], reps[-1][jb]
        inter = len(ha & hb)
        union = len(ha) + len(hb) - inter
        for x, y in product(ma if expand[0] else [ra], mb if expand[-1] else [rb]):
            out.append((min(x, y), max(x, y), inter, union) if selfjoin else (x, y, inter, union))
    if selfjoin:
        for rep, _, ids in reps[0]:
            if expand[0]:
                out += [(x, y, 1, 1) for x, y in combinations(sorted(ids), 2)]
            else:
                out += [(rep, m, 1, 1) for m in ids if m != rep]
    return out


def _driver_minhash_counts(
    sides: list[DataFrame],
    id_col: str,
    text_col: str,
    k: int,
    n_hashes: int,
    bands: int,
    expand: list[bool],
    names: tuple[str, str],
) -> DataFrame | None:
    """The MinHash producers' pairs with their intersection and union
    counts, computed on the driver — or None when the input is not
    provably small. `sides` is [df] for the self join
    (minhash_lsh_pairs) or [new, corpus] for the bipartite probe;
    `expand[i]` says whether side i lists every member of an
    exact-duplicate group or its representative only.

    `session.small_sides` collects (id, shingle_hash_set) of all sides
    in one bounded job. Spark computes the hash sets, so the driver
    re-implements no tokenizing or md5; each side projects its set as
    a column first and the size gate reads that column, so the md5
    pass runs once per row (CollapseProject keeps the multi-referenced
    alias staged, as in minhash_signature). The driver path runs only when
    all of these hold; otherwise the caller runs the distributed plan
    and the collect is the only waste:
    - small_sides' gate: at most MINHASH_DRIVER_MAX_ROWS rows together,
      integral or default-collation string ids, non-null ids unique per
      side (the _collapse_exact precondition the distributed path
      assumes but cannot check);
    - every hash set has at most MINHASH_DRIVER_MAX_SET elements (a
      larger one is collected as NULL) and is non-empty (shingle_hash_set
      never yields an empty set; the distributed path keeps the `_n > 0`
      rule for one);
    - the band-bucket fanout, Σ over buckets of the products of the
      sides' sizes counted in the ids the output lists, is at most
      MINHASH_DRIVER_MAX_FANOUT. It is counted before any pair is
      listed and bounds both the candidates and the rows returned.

    NULL ids are dropped, as _collapse_exact drops them; the pairing
    is _minhash_count_rows. Returns a (names[0], names[1], _inter,
    _union) `session.local_frame`, which the default broadcast
    threshold broadcasts into any join; the caller rounds and
    thresholds it in Spark (_jaccard_from_counts), because Spark's
    double round and Python's differ on half-way cases."""
    staged = [s.select(id_col, shingle_hash_set(text_col, k).alias("_h")) for s in sides]
    collected = small_sides(
        [(s, id_col) for s in staged],
        [F.when(F.size("_h") <= MINHASH_DRIVER_MAX_SET, F.col("_h")).alias("_hh")],
        MINHASH_DRIVER_MAX_ROWS,
    )
    if collected is None:
        return None
    groups: list[dict] = [{} for _ in sides]  # per side: hash set -> ids
    for group, rows in zip(groups, collected):
        for ident, hashes in rows:
            if ident is None:
                continue
            if not hashes:
                return None
            group.setdefault(frozenset(hashes), []).append(ident)
    out = _minhash_count_rows(groups, n_hashes, bands, expand)
    if out is None:
        return None
    schema = T.StructType(
        [
            T.StructField(names[0], sides[0].schema[id_col].dataType),
            T.StructField(names[1], sides[-1].schema[id_col].dataType),
            T.StructField("_inter", T.IntegerType()),
            T.StructField("_union", T.IntegerType()),
        ]
    )
    return local_frame(sides[0].sparkSession, out, schema)


def _jaccard_from_counts(
    counts: DataFrame, a: str, b: str, threshold: float, keep_identical: bool
) -> DataFrame:
    """(a, b, jaccard) of a _driver_minhash_counts frame: the ratio,
    round and threshold of _verified_pairs, in Spark.
    `keep_identical` keeps the self join's (1, 1) member rows at any
    threshold, as spanning/expand add them after the threshold (no rep
    pair of one collapse has equal sets, so nothing else is kept)."""
    jac = F.round(_ratio(F.col("_inter"), F.col("_union")), 6)
    keep = jac >= threshold
    if keep_identical:
        keep = keep | (F.col("_inter") == F.col("_union"))
    return counts.where(keep).select(a, b, jac.alias("jaccard"))


def incremental_minhash_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    expand_corpus: bool = True,
) -> DataFrame:
    """NEW-batch vs existing-corpus near-dup pairs — the incremental
    ingestion shape: a continuously-fed pipeline checks each arriving
    batch against what it already holds WITHOUT recomputing
    corpus-internal pairs (those were settled when the corpus was
    built). Output: (new_id, corpus_id, jaccard ≥ threshold).

    The join is bipartite (new bands × corpus bands on the band key),
    so cost scales with |new| × collision rate, not |corpus|². In
    production the corpus side is a PERSISTED band index: see
    `build_band_index` / `probe_band_index` below, which write the band
    rows partitioned by (band, key-prefix) once so each batch probe
    becomes a partition-pruned scan of matching buckets only (same
    pattern as the persisted IVF index).
    Candidates are verified with exact Jaccard on the hash sets, so
    banding only affects recall, never precision — and the DuckDB
    oracle reproduces the banding bit-for-bit (md5-derived affine
    constants).

    The band join runs on exact-duplicate group representatives of
    BOTH sides (each side through _collapse_exact; signatures depend
    only on the hash set, so a member collides iff its rep does —
    lossless), and the verified rep-level pairs expand back to member
    ids by joins on the rep key after the threshold: a d_b-duplicated
    batch probing a d_c-duplicated corpus pays the join once, not
    d_b·d_c times. `expand_corpus=False` keeps the corpus side at
    representatives — (new_id, corpus_rep, jaccard), one row per new
    doc per matched corpus GROUP: exact for admission (every matching
    new_id appears) and for incremental_component_assign (the rep is
    a corpus id in the cluster map, and collapsed self-join maps put
    every member in its rep's component), while the corpus
    duplication factor drops out of the OUTPUT too.

    Both sides' collapse frames are materialized in ONE job (one
    ckpt_defer batch, which joins the caller's batch when one is
    open). No row carries its duplicate group, so a million-way group
    costs one row per member. The _collapse_exact preconditions hold
    on each side: non-null ids must be unique, and null-id rows are
    dropped at entry.

    Two paths, identical output. A small probe (the gate in
    `_driver_minhash_counts`) is collected in one job and collapsed,
    banded and counted on the driver, so no checkpoint joins the
    caller's ckpt_defer batch; anything else runs the distributed plan
    above, after that one collect job."""
    counts = _driver_minhash_counts(
        [new_df, corpus_df], id_col, text_col, k, n_hashes, bands,
        [True, expand_corpus], ("new_id", "corpus_id"),
    )
    if counts is not None:
        return _jaccard_from_counts(counts, "new_id", "corpus_id", threshold, False)
    rows_per_band = n_hashes // bands
    with ckpt_defer():
        nrows, nreps, _, _, ngrouped = _signed_collapse(
            new_df, id_col, text_col, k, n_hashes
        )
        crows, creps, _, _, cgrouped = _signed_collapse(
            corpus_df, id_col, text_col, k, n_hashes
        )
    cand = (
        _minhash_band_rows_packed(ngrouped, bands, rows_per_band)
        .alias("a")
        .join(
            _minhash_band_rows_packed(cgrouped, bands, rows_per_band).alias("b"),
            _band_join_cond(_n_band_keys(rows_per_band)),
        )
        .select(F.col("a._id").alias("_nr"), F.col("b._id").alias("_cr"))
        .dropDuplicates(["_nr", "_cr"])
    )
    rp = _verified_pairs(cand, "_nr", "_cr", nreps, creps, threshold)
    # new side always expands (admission must see every arriving id) —
    # a join on the rep key against the threshold-filtered pair set
    out = rp.join(
        nrows.select(F.col("_rep").alias("_nr"), F.col("_id").alias("new_id")),
        "_nr",
    )
    if expand_corpus:
        return out.join(
            crows.select(F.col("_rep").alias("_cr"), F.col("_id").alias("corpus_id")),
            "_cr",
        ).select("new_id", "corpus_id", "jaccard")
    return out.select("new_id", F.col("_cr").alias("corpus_id"), "jaccard")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    expand_pairs: bool = False,
) -> DataFrame:
    """Candidate pairs whose signatures collide in ≥1 LSH band, verified
    with exact shingle Jaccard ≥ threshold.

    n_hashes/bands=4 rows per band → collision prob = 1-(1-j^4)^4,
    steep around j≈0.5.

    DEFAULT OUTPUT IS COLLAPSED — rep-level pairs plus one member→rep
    edge per exact duplicate (linear in corpus size; equivalent for
    components and keep-min-id pruning, see _collapse_exact.spanning).
    expand_pairs=True re-materializes the full C(d,2)-per-group
    listing for consumers whose semantics is the pair multiset itself.

    Two paths, identical output. A small input (the gate in
    `_driver_minhash_counts`) is collected in one job and collapsed,
    banded and counted on the driver; anything else runs the
    distributed collapse, band join and verification below, after that
    one collect job.
    """
    counts = _driver_minhash_counts(
        [df], id_col, text_col, k, n_hashes, bands, [expand_pairs], ("id_a", "id_b")
    )
    if counts is not None:
        return _jaccard_from_counts(counts, "id_a", "id_b", threshold, True)
    rows_per_band = n_hashes // bands
    # exact-dup collapse: identical shingle sets share all bands, so d
    # copies would cost d² in the band join — see _collapse_exact
    members, reps, expand, spanning, grouped = _signed_collapse(
        df, id_col, text_col, k, n_hashes
    )
    # band keys shuffle as packed bigints; candidate pairs carry ids
    # only, then the (small, blocked) candidate set joins the hash sets
    # back for exact verification
    banded = _minhash_band_rows_packed(grouped, bands, rows_per_band)
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            _band_join_cond(_n_band_keys(rows_per_band))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    rep_pairs = _verified_pairs(cand, "id_a", "id_b", reps, reps, threshold)
    return (expand if expand_pairs else spanning)(rep_pairs)


# -- connected components ------------------------------------------------------

def _union_find(rows) -> dict:
    """{node: component} over collected (a, b) edge rows, every non-null
    endpoint included. Union-by-min keeps every root the minimum id of
    its merged set, so the final find(x) is exactly "min id reachable
    from x", the distributed contract. A NULL endpoint never links
    anything, mirroring join semantics."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        for x in (a, b):
            if x is not None:
                parent.setdefault(x, x)
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra
    return {x: find(x) for x in parent}


def _edge_id_type(edges: DataFrame, a: str, b: str):
    """The common type of two endpoint columns, as a union of them
    would widen it (analysis only, no job)."""
    return edges.select(F.col(a).alias("_e")).unionByName(
        edges.select(F.col(b).alias("_e"))
    ).schema["_e"].dataType


def _id_frame(spark, rows: list, names: tuple[str, str], id_type) -> DataFrame:
    schema = T.StructType([T.StructField(n, id_type, True) for n in names])
    return local_frame(spark, rows, schema)


def _driver_components(edges: DataFrame, rows: list) -> DataFrame:
    """Driver-side union-find over `rows`, the COLLECTED small edge
    list of `edges` — the size-gated fast path of connected_components
    (see _union_find for the labelling contract). A NULL endpoint
    appears in the output labeled by itself, and its partner keeps its
    own label unless linked elsewhere."""
    pairs = [(r["a"], r["b"]) for r in rows]
    out = list(_union_find(pairs).items())
    if any(a is None or b is None for a, b in pairs):
        out.append((None, None))
    return _id_frame(
        edges.sparkSession, out, ("id", "component"), edges.schema["a"].dataType
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_max_edges: int | None = None,
) -> DataFrame:
    """Cluster near-dup pairs into components: (id, component) where
    component = min id reachable through the pair graph. Pairs alone
    don't dedupe — groups of mutual near-dups must collapse to ONE
    representative; each round is neighbor-min propagation (join +
    min-aggregate) PLUS a pointer-jumping step (label := label of
    label), so label chains halve every round and convergence takes
    O(log diameter) rounds instead of O(diameter) — the same
    round-complexity class as large-star/small-star, with per-round
    checkpoint (local by default; reliable when SPARK_GRAFT_CHECKPOINT_DIR
    is set — see session.ckpt) truncating lineage like the reference's temp
    tables. A 1000-link chain converges in ~11 rounds; near-dup graphs
    (diameter ≪ 10) still converge in 2–3.

    Two paths, identical output. When the ids are `session.
    python_ordered` (integral or default-collation string) and
    `session.small_rows` returns the directed edge list (at most
    `driver_max_edges`, default DRIVER_MAX_EDGES), driver-side
    union-find labels it (union-by-min roots, so find(x) IS the
    component min) and the labels come back as one `session.
    local_frame`; otherwise the pointer-jumping rounds run. Python's
    `<` and `==` on other id types are not Spark's (under UTF8_LCASE,
    'a' < 'B' and 'b' == 'B'), so they never reach the driver. The edges are a lazy checkpoint, so the gate's action
    materializes them for the rounds. Set driver_max_edges=0 to force
    the distributed path.

    Raises RuntimeError if labels are still changing after `max_iter`
    rounds — silently returning non-converged labels would let
    dedup_corpus_pruned keep documents whose cluster already has a
    representative, with no signal anything went wrong.
    """
    if driver_max_edges is None:
        driver_max_edges = DRIVER_MAX_EDGES
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).transform(ckpt_lazy)
    rows = small_rows(edges, driver_max_edges if python_ordered(edges.schema["a"].dataType) else 0)
    if rows is not None:
        return _driver_components(edges, rows)
    labels = (
        edges.select(F.col("a").alias("id")).distinct().withColumn("label", F.col("id"))
    ).transform(ckpt_lazy)
    converged = False
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["b"] == labels["id"])
            .groupBy("a")
            .agg(F.min("label").alias("_nl"))
        )
        stepped = labels.join(neigh, labels["id"] == neigh["a"], "left").select(
            F.col("id"),
            F.least(F.col("label"), F.coalesce(F.col("_nl"), F.col("label"))).alias("label"),
        )
        # pointer jumping: follow label → label(label). Labels always
        # point within the component at a lower-or-equal id, so the
        # jump is safe, and chains halve each round (path halving).
        jump = stepped.select(F.col("id").alias("_jid"), F.col("label").alias("_jl"))
        new_labels = (
            stepped.join(jump, stepped["label"] == jump["_jid"], "left")
            .select(
                F.col("id"),
                F.least(
                    F.col("label"), F.coalesce(F.col("_jl"), F.col("label"))
                ).alias("label"),
            )
            .transform(ckpt)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.expr("n.id = o.id"))
            .where(F.expr("n.label != o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            "(graph diameter exceeds max_iter); raise max_iter or switch to "
            "large-star/small-star for deep graphs"
        )
    return labels.select(F.col("id"), F.col("label").alias("component"))


def incremental_component_assign(
    cluster_map: DataFrame,
    batch_ids: DataFrame,
    bipartite_pairs: DataFrame,
    batch_pairs: DataFrame,
) -> DataFrame:
    """Incremental cluster maintenance: fold an arriving batch into an
    EXISTING cluster map without recomputing corpus-internal pairs —
    the daily-ingest counterpart of connected_components, and what
    keeps the leakage-safe split (split_leakage_safe) maintainable: a
    pipeline that recomputed all-pairs components per batch would pay
    the full corpus join daily.

    Inputs:
      - cluster_map: complete (id, component) for the corpus,
        singletons included (component = own id) — the convention
        split_leakage_safe materializes;
      - batch_ids: (id) of the arriving documents;
      - bipartite_pairs: (new_id, corpus_id) similarity pairs from a
        batch→corpus probe (incremental_minhash_pairs, or the
        persisted band index probe in production);
      - batch_pairs: (id_a, id_b) similarity pairs within the batch.

    Invariant (the parity contract, property-tested): the returned
    full map EQUALS connected_components over the union corpus+batch
    pair graph (completed with singletons), provided corpus-internal
    pairs used the same similarity family/threshold. That holds
    because contracting each corpus cluster to its label node (labels
    are min member ids, so min-label components are unchanged by the
    contraction) preserves both connectivity and minima; a batch that
    bridges TWO existing clusters therefore merges them here exactly
    as a full recompute would.

    Scale: the component graph is batch nodes + TOUCHED cluster labels
    (batch-sized), and the corpus-side update is a single broadcast
    join against the (batch-bounded) relabel table — the corpus is
    never shuffled, which is the entire point.

    DRIVER RELABEL: the day's edges (batch→corpus-label and
    batch-internal, tagged) are collected ONCE by `session.small_rows`
    under connected_components' gate (`session.python_ordered` ids,
    DRIVER_MAX_EDGES directed edges). When the whole list fits,
    union-find on the driver yields the labels, the relabel table
    (touched labels whose component changed) and the batch labels as
    two `session.local_frame`s, and the map is built as cluster_map ⋈
    relabel ∪ batch_ids ⋈ labels — no iterative rounds and no component
    frame to join back, which is most of a small day's jobs. The two
    frames carry exact size estimates, so both joins broadcast them
    under the default threshold. Above the gate the edges go to the
    distributed components path, with no second size probe."""
    bid = batch_ids.select(F.col(batch_ids.columns[0]).alias("id")).distinct()
    cm = cluster_map.select(
        F.col(cluster_map.columns[0]).alias("_cid"),
        F.col(cluster_map.columns[1]).alias("_ccomp"),
    )
    # contract corpus endpoints to their existing cluster labels
    bc = (
        bipartite_pairs.select(
            F.col(bipartite_pairs.columns[0]).alias("id_a"),
            F.col(bipartite_pairs.columns[1]).alias("_cid"),
        )
        .join(cm, "_cid")
        .select("id_a", F.col("_ccomp").alias("id_b"), F.lit(True).alias("_bc"))
    )
    nn = batch_pairs.select(
        F.col(batch_pairs.columns[0]).alias("id_a"),
        F.col(batch_pairs.columns[1]).alias("id_b"),
        F.lit(False).alias("_bc"),
    )
    edges = bc.unionByName(nn)
    id_type = _edge_id_type(edges, "id_a", "id_b")
    # the gate counts directed edges, two per collected row
    rows = small_rows(edges, DRIVER_MAX_EDGES // 2 if python_ordered(id_type) else 0)
    if rows is not None:
        root = _union_find((r["id_a"], r["id_b"]) for r in rows)
        touched = {r["id_b"] for r in rows if r["_bc"] and r["id_b"] is not None}
        spark = edges.sparkSession
        relabel = _id_frame(
            spark, [(t, root[t]) for t in touched if root[t] != t], ("_old", "_new"), id_type
        )
        labels = _id_frame(spark, list(root.items()), ("id", "component"), id_type)
    else:
        # checkpointed for the components rounds and the touched-label
        # scan below; driver_max_edges=0 skips a second size probe
        edges = ckpt_lazy(edges)
        labels = connected_components(edges, driver_max_edges=0)
        # corpus clusters whose label got absorbed into a smaller-id
        # component — batch-bounded by construction
        touched_labels = edges.where("_bc").select(F.col("id_b").alias("id")).distinct()
        relabel = F.broadcast(
            labels.join(touched_labels, "id")
            .where(F.col("id") != F.col("component"))
            .select(F.col("id").alias("_old"), F.col("component").alias("_new"))
        )
    updated_corpus = cm.join(relabel, cm["_ccomp"] == F.col("_old"), "left").select(
        F.col("_cid").alias("id"),
        F.coalesce(F.col("_new"), F.col("_ccomp")).alias("component"),
    )
    # batch docs outside every edge are singletons labelled by themselves
    batch_labelled = bid.join(labels, "id", "left").select(
        "id", F.coalesce(F.col("component"), F.col("id")).alias("component")
    )
    return updated_corpus.unionByName(batch_labelled)


# -- cross-corpus contamination ------------------------------------------------

def cross_corpus_overlap(
    eval_df: DataFrame,
    train_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Train/eval contamination check: for each eval document, how many
    of its distinct word k-shingles appear anywhere in the training
    corpus. Output: (id, n_shingles, n_overlap, contamination) with
    contamination = n_overlap / n_shingles, rounded to 6.

    This is the n-gram-overlap decontamination pass every LLM training
    pipeline runs against its benchmark suites (the GPT-3/PaLM 13-gram
    method is this exact shape with a larger k).

    Plan shape: shingles ride as 60-bit ints (shingle_hash60); the
    train side collapses to a DISTINCT shingle index (one hash per
    unique shingle corpus-wide, so crawl duplication doesn't inflate
    the join); eval shingles left-join that index on the 8-byte key and
    count hits per doc. Both sides shuffle only (id, hash) / (hash)
    tuples — never text. At 100 TB the train index is the big side:
    the equi-join partitions by hash and streams, and a bloom filter
    on the (much smaller) eval shingle set pushed to the train scan
    would prune it further — the DataFrame plan already lets AQE pick
    that up via runtime filters when the eval side is small enough.

    Every eval doc appears in the output: word_shingles emits at least
    one shingle per doc (empty/NULL text degrades to the single ''
    shingle), so no doc drops at the explode. An empty eval doc
    therefore reports n_shingles = 1, and contamination 1.0 exactly
    when the train corpus also contains an empty doc — consistent on
    both engines, since the oracle shingles identically.
    """
    def hashed(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("_id"), shingle_hash_set(text_col, k).alias("_hh")
        )

    ev = hashed(eval_df)
    # distinct shingle index over the training corpus: the explode is
    # the big shuffle; distinct happens map-side-partial then merged
    train_index = (
        hashed(train_df)
        .select(F.explode("_hh").alias("_s"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    ev_sh = ev.select("_id", F.explode("_hh").alias("_s"))
    return (
        ev_sh.join(train_index, "_s", "left")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("bigint").alias("n_overlap"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_shingles",
            "n_overlap",
            F.round(F.col("n_overlap") / F.col("n_shingles"), 6).alias("contamination"),
        )
    )


# -- SimHash -------------------------------------------------------------------

def word_hashes(col: Column | str, k: int = 2) -> Column:
    """Per distinct word-k-shingle: 60-bit integer from the first 15
    hex chars of md5. simhash_pairs explodes this once and aggregates
    the per-bit majority with codegen'd SUMs; never inline it into a
    per-bit expression loop (that re-hashes every shingle 60× per
    row — observed 84s → 3s when staged)."""
    # shingle_hash60 is THE 60-bit hash formula (md5_hash60's docstring:
    # change it only there + oracles together) — reuse, don't restate
    return F.transform(word_shingles(col, k), shingle_hash60)


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    k: int = 2,
    n_bands: int = 4,
    expand_pairs: bool = False,
) -> DataFrame:
    """Near-dup pairs with simhash hamming distance ≤ max_hamming,
    blocked on band equality (pigeonhole: distance ≤ n_bands-1 implies
    ≥1 equal band when bands = max_hamming+1).

    DEFAULT OUTPUT IS COLLAPSED — rep-level pairs plus one member→rep
    edge (hamming 0) per exact duplicate; expand_pairs=True restores
    the full d² listing (see _collapse_exact.spanning).

    The per-bit majority vote runs as explode + 60 codegen'd SUM
    aggregates (one shuffle, keyed by id), not 60 interpreted
    higher-order filter passes per row — ~10× on wide docs. Documents
    with no shingles drop out at the explode (they can't pair anyway).
    """
    band_width = 60 // n_bands
    full = (
        widen(df)
        .select(F.col(id_col).alias("_id"), word_hashes(text_col, k).alias("_hh"))
    )
    # exact-dup collapse: identical hash lists → identical simhash →
    # identical bands, so d copies cost d² in the band join without it.
    # Intra-group hamming is 0 by definition — see _collapse_exact
    # (windowed r15 form: one eager barrier for the whole front half)
    members, reps, expand, spanning, grouped = _collapse_exact(
        full, True, "hamming", 0
    )
    emit = expand if expand_pairs else spanning
    ones = [
        F.sum(F.shiftrightunsigned("_wh", b).bitwiseAND(F.lit(1))).alias(f"_o{b}")
        for b in range(60)
    ]
    votes = (
        reps.select("_id", F.explode("_hh").alias("_wh"))
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("_n"), *ones)
    )
    sim = F.aggregate(
        F.array(*[
            F.when(F.col(f"_o{b}") * 2 >= F.col("_n"), F.lit(1 << b)).otherwise(F.lit(0))
            for b in range(60)
        ]),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    base = votes.select("_id", sim.alias("_h"))
    # strict=False: simhash's public contract has always allowed
    # max_hamming past the pigeonhole bound as an approximate mode
    rep_pairs = hamming_band_pairs(
        base, n_bands, band_width, max_hamming, strict=False
    )
    return emit(rep_pairs)


def hamming_band_pairs(
    base: DataFrame,
    n_bands: int,
    band_width: int,
    max_hamming: int,
    strict: bool = True,
) -> DataFrame:
    """All (id_a, id_b, hamming) pairs with hamming ≤ max_hamming over
    `base` rows of (_id, _h) — _h an up-to-64-bit integer hash —
    WITHOUT all-pairs: explode each hash into n_bands contiguous
    band keys and equi-join on (band, key). Pigeonhole guarantees
    losslessness for max_hamming ≤ n_bands - 1 (≤ n_bands-1 differing
    bits leave at least one band untouched), asserted here because a
    silently lossy blocking is the classic near-dup recall bug.

    Shared by simhash_pairs (60-bit text simhash) and the image
    perceptual-hash near-dup (64-bit dHash) — the banding is hash-
    agnostic. `strict=False` permits max_hamming beyond the bound as a
    deliberately APPROXIMATE mode (simhash's historical contract: the
    band join becomes a recall heuristic, like multi-band LSH) — the
    caller owns the disclosure."""
    if strict and max_hamming > n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole bound "
            f"n_bands-1={n_bands - 1}; banding would silently lose pairs"
        )
    banded = base.select(
        "_id",
        "_h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("_h"), b * band_width)
                        .bitwiseAND(F.lit((1 << band_width) - 1))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("_band"),
    ).select("_id", "_h", F.col("_band.band").alias("_b"), F.col("_band.key").alias("_k"))
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a._b") == F.col("b._b"))
            & (F.col("a._k") == F.col("b._k"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._h").alias("_ha"),
            F.col("b._h").alias("_hb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
    return (
        cand.select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def _key_prefix(nk: int, prefix_len: int) -> Column:
    """`_kp`: the lowercase hex prefix, `prefix_len` chars long, of the
    md5 of a packed band row's keys _k0.._k{nk-1} — the band dataset's
    bucket partition column, on the index and probe sides alike."""
    keys = F.concat_ws("|", *[F.col(f"_k{i}").cast("string") for i in range(nk)])
    return F.substring(F.md5(keys.cast("binary")), 1, prefix_len)


def _id_prefix(col: str, prefix_len: int) -> Column:
    """`_ip`: the md5 hex prefix of an id — the hashes dataset's bucket
    partition column."""
    return F.substring(F.md5(F.col(col).cast("string").cast("binary")), 1, prefix_len)


def write_band_index(
    signed: DataFrame,
    bands_dir: str,
    hashes_dir: str,
    mode: str,
    prefix_len: int,
    n_hashes: int,
    bands: int,
) -> None:
    """Write the `bands` and `hashes` datasets of a persisted band index
    (see build_band_index) for a signed (_id, _hh, _sig) frame, in
    write `mode` ("overwrite" or "append"). The one writer of the
    layout: build_band_index and admission's staged and appending
    writes all go through it.

    With prefix_len=0 there are no _kp/_ip partition directories; an
    append must mirror the layout meta records, because conflicting
    partition columns in one dataset make every later read fail."""
    rows_per_band = n_hashes // bands
    b_out = _minhash_band_rows_packed(signed, bands, rows_per_band).withColumnRenamed(
        "_id", "corpus_id"
    )
    h_out = signed.select(F.col("_id").alias("corpus_id"), F.col("_hh").alias("_shb"))
    b_parts, h_parts = ["_b"], []
    if prefix_len > 0:
        b_out = b_out.withColumn("_kp", _key_prefix(_n_band_keys(rows_per_band), prefix_len))
        h_out = h_out.withColumn("_ip", _id_prefix("corpus_id", prefix_len))
        b_parts.append("_kp")
        h_parts.append("_ip")
    b_out.write.mode(mode).partitionBy(*b_parts).parquet(bands_dir)
    h_out.write.mode(mode).partitionBy(*h_parts).parquet(hashes_dir)


def build_band_index(
    corpus_df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    prefix_len: int | None = None,
    target_bucket_rows: int = 250_000,
) -> None:
    """Persist the corpus side of the incremental MinHash probe — the
    pattern `incremental_minhash_pairs` documents ("in production the
    corpus side is a PERSISTED band index"), realized the same way as
    similarity.build_ivf_index: layout IS the index, and the probe's
    partition filters ARE the candidate restriction.

    Reference shape: fuzzy_merger.rb:21-36 builds a persistent
    candidate pool once and probes it per merge; this generalizes that
    to the LSH band structure.

    Writes three datasets under `path`:

    - `bands`: (corpus_id, _b, _k0.._k{m-1}) — the packed band rows
      the in-memory probes join on (`_minhash_band_rows_packed`) —
      PARTITIONED BY (_b, _kp) where _kp is a `prefix_len`-hex-char
      md5 prefix of the packed keys — 16^prefix_len directories per
      band. A batch probe only touches the (band, prefix) partitions
      its own keys fall in.
    - `hashes`: (corpus_id, _shb) — the distinct 60-bit shingle sets
      for exact Jaccard verification — PARTITIONED BY _ip (md5 prefix
      of the id), so the verify join scans only the candidates'
      id-prefix partitions, never the whole corpus.
    - `meta`: one row of (k, n_hashes, bands, prefix_len); the probe
      reads its parameters from here so signatures always agree with
      the build.

    `write_band_index` writes `bands` and `hashes`; admission appends
    through it too. An index whose `bands` hold the older string key
    `_k` must be rebuilt: the probe rejects it.

    `prefix_len=None` (default) sizes the prefix from the corpus: the
    honest 500k-doc measurement showed a FIXED prefix_len=2 loses to
    full recompute — 4 bands × 256 prefixes + 256 id dirs = 1280
    directories of micro-files for ~0.5 GB of band rows, so listing
    and opening files dominates while re-signing the corpus costs
    ~10 s. The layout only pays when each bucket holds full parquet
    row groups, so auto picks the LARGEST prefix_len (0–3) that keeps
    ≥ `target_bucket_rows` band rows per (band, prefix) bucket —
    prefix_len = ⌊log16(N / target_bucket_rows)⌋. At 500k docs that
    is 0 (no prefix dirs at all: bands partition only by _b, hashes
    are unpartitioned, and the probe skips prefix pruning — the index
    win is then purely "no corpus re-signing"); at 10¹⁰ docs it is 3
    (16k directories, ~2.4M rows each). Explicit prefix_len pins the
    layout for tests or known workloads."""
    if prefix_len is None:
        import math

        n = corpus_df.count()
        prefix_len = min(3, max(0, int(math.log(max(n / target_bucket_rows, 1), 16))))
    write_band_index(
        minhash_hashed_sigs(corpus_df, id_col, text_col, k, n_hashes),
        f"{path}/bands", f"{path}/hashes", "overwrite", prefix_len, n_hashes, bands,
    )
    meta = T.StructType(
        [T.StructField(n, T.IntegerType()) for n in ("k", "n_hashes", "bands", "prefix_len")]
    )
    local_frame(corpus_df.sparkSession, [(k, n_hashes, bands, prefix_len)], meta).write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")


def probe_band_index(
    spark,
    path: str,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against a `build_band_index`
    corpus: same output contract as `incremental_minhash_pairs`
    (new_id, corpus_id, jaccard >= threshold), but the corpus cost is
    partition-pruned file reads instead of a full recompute.

    Probe shape — every corpus-side scan statically pruned:

    1. band the batch (same md5-affine signatures, read from meta);
    2. collect the batch's DISTINCT (band, key-prefix) pairs — bounded
       by bands x 16^prefix_len literals (1024 at the defaults), NOT by
       batch size — and scan `bands` with that as a partition filter;
    3. equi-join on the packed band keys (`_band_join_cond`) plus the
       prefix -> candidate (new_id, corpus_id) pairs;
    4. collect the candidates' distinct id-prefixes (<= 16^prefix_len
       literals) and scan `hashes` pruned the same way for the exact
       Jaccard verification.

    Banding only affects recall, never precision (candidates verify
    exactly), identical to the in-memory probe.

    When the index was built with prefix_len=0 (the auto choice below
    ~`target_bucket_rows`·16 docs), there are no prefix directories:
    the band scan prunes on _b only and the verify join streams the
    whole hashes dataset — the index still avoids re-signing the
    corpus, which is the win that survives at every size.

    An index whose `bands` hold the older string key `_k` raises
    ValueError before any work: the check reads only the schema of the
    `bands` frame the probe opens anyway."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    plen = meta.prefix_len
    rows_per_band = meta.n_hashes // meta.bands
    nk = _n_band_keys(rows_per_band)
    idx = spark.read.parquet(f"{path}/bands")
    if "_k0" not in idx.columns:
        raise ValueError(
            f"band index at {path} holds string band keys (`_k`), a layout "
            "this probe no longer reads; rebuild it with build_band_index "
            "(or bootstrap_index)"
        )
    nb = minhash_hashed_sigs(new_df, id_col, text_col, meta.k, meta.n_hashes)
    nrows = _minhash_band_rows_packed(nb, meta.bands, rows_per_band)
    join_on = _band_join_cond(nk)
    if plen > 0:
        nrows = nrows.withColumn("_kp", _key_prefix(nk, plen))
        join_on = join_on & (F.col("a._kp") == F.col("b._kp"))
    nrows = nrows.transform(ckpt)
    if plen > 0:
        by_band: dict[int, list[str]] = {}
        for r in nrows.select("_b", "_kp").distinct().collect():
            by_band.setdefault(r["_b"], []).append(r["_kp"])
        pred = F.lit(False)
        for b, kps in by_band.items():
            pred = pred | ((F.col("_b") == b) & F.col("_kp").isin(kps))
    else:
        bs = [r["_b"] for r in nrows.select("_b").distinct().collect()]
        pred = F.col("_b").isin(bs) if bs else F.lit(False)
    cand = (
        nrows.alias("a")
        .join(idx.where(pred).alias("b"), join_on)
        .select(F.col("a._id").alias("new_id"), F.col("b.corpus_id").alias("corpus_id"))
        .dropDuplicates(["new_id", "corpus_id"])
        .transform(ckpt)
    )
    hashes = spark.read.parquet(f"{path}/hashes")
    if plen > 0:
        ips = [
            r["_ip"]
            for r in cand.select(_id_prefix("corpus_id", plen).alias("_ip")).distinct().collect()
        ]
        hashes = hashes.where(F.col("_ip").isin(ips) if ips else F.lit(False))
    return _verified_pairs(
        cand,
        "new_id",
        "corpus_id",
        nb,
        hashes.select(F.col("corpus_id").alias("_id"), F.col("_shb").alias("_hh")),
        threshold,
    )


# -- exact substring-span scrub ----------------------------------------------

def substring_span_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_run: int = 5,
) -> DataFrame:
    """Exact substring-span deduplication — the span-level cousin of
    whole-document dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better": duplicated substrings, not
    just duplicated documents, inflate memorization): every maximal
    run of >= `min_run` consecutive k-shingle positions whose
    shingles all already occur in some SMALLER-id document is cut
    from the text; the corpus's first (smallest-id) occurrence of any
    content keeps it. Output: one row per input document —
    (id, clean_text, n_tokens_removed, n_spans), `clean_text`
    whitespace-normalized (token-joined; untouched docs round-trip
    their token stream verbatim).

    Plan shape — deliberately PAIR-FREE, unlike the reference paper's
    suffix array: positional shingle index (posexplode + 60-bit hash),
    one groupBy(hash) -> min(doc) to build the first-occurrence map,
    one join back, a per-doc gaps-and-islands window for runs, and a
    scan-stage token-mask rewrite (two-arg filter lambda over the
    word array). Every stage is linear in corpus size and keyed by
    hash or doc — a d-way-duplicated corpus costs d x the linear
    work with NO quadratic pair stage anywhere, so this family needs
    no collapse gate. Qualifying runs cover tokens
    [start, start + run + k - 2]; overlapping intervals (runs closer
    than k-1 positions) are union-masked, so n_tokens_removed counts
    each dropped token once.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.coalesce(
            F.filter(F.split(F.lower(text_col), r"\s+"), lambda w: w != ""),
            F.array().cast("array<string>"),
        ).alias("_w"),
    )
    sh = base.select(
        "_id",
        F.posexplode(
            F.element_at(
                F.transform(
                    F.array("_w"),
                    lambda words: F.transform(
                        F.sequence(
                            F.lit(1), F.greatest(F.size(words) - (k - 1), F.lit(1))
                        ),
                        lambda i: F.concat_ws(
                            " ",
                            *[
                                F.try_element_at(words, (i + j).cast("int"))
                                for j in range(k)
                            ],
                        ),
                    ),
                ),
                1,
            )
        ).alias("_pos", "_sh"),
    ).select("_id", "_pos", shingle_hash60(F.col("_sh")).alias("_h"))
    first_doc = sh.groupBy("_h").agg(F.min("_id").alias("_mind"))
    dup_pos = (
        sh.join(first_doc, "_h")
        .where(F.col("_mind") < F.col("_id"))
        .select("_id", "_pos")
    )
    w = Window.partitionBy("_id").orderBy("_pos")
    runs = (
        dup_pos.withColumn("_grp", F.col("_pos") - F.row_number().over(w))
        .groupBy("_id", "_grp")
        .agg(F.min("_pos").alias("_s"), F.count(F.lit(1)).alias("_r"))
        .where(F.col("_r") >= min_run)
    )
    intervals = runs.groupBy("_id").agg(
        F.collect_list(
            F.struct(
                F.col("_s").alias("s"),
                (F.col("_s") + F.col("_r") + F.lit(k - 2)).alias("e"),
            )
        ).alias("_ivs"),
        F.count(F.lit(1)).alias("_nspan"),
    )
    joined = base.join(intervals, "_id", "left")
    covered = lambda idx: F.exists(  # noqa: E731
        F.col("_ivs"), lambda iv: (idx >= iv["s"]) & (idx <= iv["e"])
    )
    kept = F.when(
        F.col("_ivs").isNull(), F.col("_w")
    ).otherwise(F.filter(F.col("_w"), lambda x, i: ~covered(i.cast("bigint"))))
    return joined.select(
        F.col("_id").alias(id_col),
        F.concat_ws(" ", kept).alias("clean_text"),
        (F.size("_w") - F.size(kept)).cast("bigint").alias("n_tokens_removed"),
        F.coalesce(F.col("_nspan"), F.lit(0)).cast("bigint").alias("n_spans"),
    )


# -- Bloom-filter admission ----------------------------------------------------

BLOOM_SEED = 0xB100F


def _bloom_positions(fp: Column, n_bits: int, n_hashes: int) -> list[Column]:
    """k Kirsch-Mitzenmacher bit positions for a 64-bit fingerprint:
    pos_i = (h1 + i * h2) mod m, with m a power of two so the mod is a
    bitmask. Both base hashes are masked BEFORE the affine combination
    (ANSI mode throws on BIGINT overflow; masked terms keep every
    intermediate below k * m << 2^63), and h2 is forced odd so the
    stride is a unit mod m and the k positions never collapse onto one
    slot."""
    mask = n_bits - 1
    h1 = F.xxhash64(fp).bitwiseAND(F.lit(mask))
    h2 = (
        F.xxhash64(fp, F.lit(BLOOM_SEED))
        .bitwiseAND(F.lit(mask))
        .bitwiseOR(F.lit(1))
    )
    return [
        (h1 + F.lit(i) * h2).bitwiseAND(F.lit(mask)) for i in range(n_hashes)
    ]


def _next_pow2(n: int) -> int:
    return 1 << max(16, (n - 1).bit_length())


class BloomIndex(NamedTuple):
    """A built Bloom filter with its sizing BOUND to it: probing with a
    different (n_bits, n_hashes) than the build silently yields FALSE
    NEGATIVES (true duplicates admitted), which is the one failure mode
    the filter's exactness contract forbids (r8 advice). Steady-state
    callers persist/cache `words` and pass the whole struct to
    bloom_admission so the pairing can't drift."""

    words: DataFrame
    n_bits: int
    n_hashes: int


def build_bloom_index(
    corpus: DataFrame,
    text_col: str,
    n_hashes: int = 7,
    bits_per_key: float = 9.6,
    n_bits: int | None = None,
) -> BloomIndex:
    """One-stop steady-state build: fingerprint `text_col`, size the
    filter (next pow2 of n_keys*bits_per_key unless `n_bits` given),
    and return the word table WITH its sizing as a BloomIndex."""
    fp = F.xxhash64(F.col(text_col))
    if n_bits is None:
        n_keys = corpus.count() or 1
        n_bits = _next_pow2(int(n_keys * bits_per_key))
    words = build_bloom_words(
        corpus.select(fp.alias("_fp")), "_fp", n_bits, n_hashes
    )
    return BloomIndex(words, n_bits, n_hashes)


def build_bloom_words(
    corpus_fp: DataFrame, fp_col: str, n_bits: int, n_hashes: int
) -> DataFrame:
    """Corpus fingerprints -> the Bloom filter's NONEMPTY 64-bit words
    as a (word index, word) DataFrame: explode each fingerprint's k bit
    positions, then one bit_or aggregation per word. The build is one
    linear corpus scan plus an n_keys*k-row shuffle that map-side
    combines; the result is at most n_bits/64 rows (~1.5 MB per million
    keys at the default sizing) — small enough to BROADCAST to probes,
    which is the whole point: steady-state admission never reshuffles
    the corpus."""
    pos = F.explode(
        F.array(*_bloom_positions(F.col(fp_col), n_bits, n_hashes))
    ).alias("_pos")
    return (
        corpus_fp.select(pos)
        .select(
            F.shiftrightunsigned("_pos", 6).alias("_w"),
            F.expr("shiftleft(1L, int(_pos & 63))").alias("_b"),
        )
        .groupBy("_w")
        .agg(F.bit_or("_b").alias("_word"))
    )


def bloom_maybe_flags(
    batch: DataFrame,
    fp_col: str,
    words: DataFrame,
    n_bits: int,
    n_hashes: int,
) -> DataFrame:
    """(_fp, _maybe) per DISTINCT batch fingerprint: _maybe is true iff
    ALL k Bloom bits are set — i.e. the fingerprint is possibly in the
    corpus. Keyed on the fingerprint, NOT a row id: membership is a
    property of the content, so duplicate or NULL row ids cannot mix
    the bit positions of different texts (a batch with two texts under
    one id must still reject exactly the duplicate one). The probe
    explodes the k positions of the distinct-fp PROJECTION (never the
    full row — text would be duplicated k times), broadcast-joins the
    word table, and folds back with a map-side-combining min. A missing
    word row means those 64 bits are all zero, hence definitely-new."""
    fps = batch.select(F.col(fp_col).alias("_fp")).distinct()
    poss = _bloom_positions(F.col("_fp"), n_bits, n_hashes)
    return (
        fps.select("_fp", F.explode(F.array(*poss)).alias("_pos"))
        .select(
            "_fp",
            F.shiftrightunsigned("_pos", 6).alias("_w"),
            F.expr("shiftleft(1L, int(_pos & 63))").alias("_b"),
        )
        .join(F.broadcast(words), "_w", "left")
        .select(
            "_fp",
            (
                F.col("_word").isNotNull()
                & (F.col("_word").bitwiseAND(F.col("_b")) == F.col("_b"))
            ).cast("int").alias("_hit"),
        )
        .groupBy("_fp")
        .agg((F.min("_hit") == 1).alias("_maybe"))
    )


def admission_path(
    corpus: DataFrame, text_col: str, words: DataFrame | BloomIndex | None = None
) -> str:
    """Which plan bloom_admission runs for this corpus: "direct" (one
    broadcast left-anti join on text) when no prebuilt `words` table is
    given and Catalyst's optimized-plan size estimate of the corpus
    text column is at or under spark.sql.autoBroadcastJoinThreshold —
    the test Spark's own planner applies before broadcasting a join
    side — and "bloom" otherwise: over the threshold, an unknown
    estimate (Spark defaults it to Long.MaxValue, e.g. for frames built
    from Python rows), broadcast disabled (-1), or a prebuilt table.
    Reads plan statistics only; runs no Spark job."""
    if words is not None:
        return "bloom"
    try:
        conf = corpus.sparkSession._jsparkSession.sessionState().conf()
        threshold = conf.autoBroadcastJoinThreshold()
        plan = corpus.select(text_col)._jdf.queryExecution().optimizedPlan()
        size = int(str(plan.stats().sizeInBytes()))
    except (AttributeError, Py4JError):  # pragma: no cover - Connect only
        return "bloom"
    return "direct" if 0 <= size <= threshold else "bloom"


def bloom_admission(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int | None = None,
    bits_per_key: float = 9.6,
    n_bits: int | None = None,
    words: DataFrame | BloomIndex | None = None,
) -> DataFrame:
    """Exact-dedup admission: admit every batch row whose text does not
    appear in the corpus (NULL texts are always admitted). Two plans
    give the identical output; admission_path picks one per call:

    - DIRECT, while the corpus text column is at or under Spark's
      broadcast threshold (and no prebuilt `words` is passed): one
      broadcast left-anti join of the batch against the corpus texts.
      At that size the corpus key set broadcasts, and the plain
      anti-join is the cheaper plan (measured crossover in SCALING.md),
      without the bloom's build and probe jobs.
    - BLOOM, above the threshold, when the size is unknown, when
      broadcast is disabled, or whenever a prebuilt `words` table is
      passed. The Bloom filter has NO false negatives, so rows it
      clears ("definitely new") are admitted without ever touching the
      corpus; only the ~fpp fraction it flags "maybe" (true duplicates
      plus false positives) reaches the exact text-equality verify
      join. Output is therefore EXACT for any filter sizing — an
      undersized, saturated bloom only degrades the pruning rate, never
      correctness (property-tested at m=2^16 forced saturation).

    Bloom scale envelope: at the default 9.6 bits/key + k=7 (~1% fpp),
    a 10^9-key corpus is a ~1.2 GB word table — the practical broadcast
    ceiling. Beyond that, the partition-pruned band index
    (build_band_index/probe_band_index) is the admission path; the two
    compose (bloom in front of the index probe) since the bloom is
    conservative. Steady state pays: one broadcast probe of the batch,
    one column-pruned corpus scan semi-filtered by the maybes' tiny
    candidate-fp set (partition-pruned further on an fp-bucketed
    persisted corpus), and broadcast-only verify joins — the corpus is
    NEVER shuffled or broadcast per batch, which is what the plain
    anti-join cannot avoid once the corpus key set outgrows the
    broadcast threshold.

    Steady-state callers of the bloom path build the word table ONCE
    (build_bloom_words, optionally persisted/cached) and pass it via
    `words` (+ its `n_bits`) so successive batches pay only the probe;
    omitting it rebuilds the filter from `corpus` per call.

    Reference shape: fuzzy_merger.rb:21-36's persistent candidate pool;
    the bloom is the admission-time analogue of its indexed pool."""
    fp = F.xxhash64(F.col(text_col))
    if isinstance(words, BloomIndex):
        # sizing comes FROM the build — a probe with different
        # (n_bits, n_hashes) than the build has false negatives, so
        # explicit conflicting values are an error, not a preference
        if n_bits is not None and n_bits != words.n_bits:
            raise ValueError(
                f"n_bits={n_bits} conflicts with the BloomIndex build "
                f"(n_bits={words.n_bits}); drop the explicit value"
            )
        # None default (not 7) so an EXPLICIT n_hashes=7 against an
        # index built with a different value is still caught — with a
        # value sentinel the conflict check couldn't tell "omitted"
        # from "asked for 7"
        if n_hashes is not None and n_hashes != words.n_hashes:
            raise ValueError(
                f"n_hashes={n_hashes} conflicts with the BloomIndex "
                f"build (n_hashes={words.n_hashes}); drop the explicit value"
            )
        n_bits, n_hashes = words.n_bits, words.n_hashes
        words = words.words
    elif words is not None and n_bits is None:
        raise ValueError("n_bits is required when passing a prebuilt words table")
    elif admission_path(corpus, text_col, words) == "direct":
        texts = corpus.select(F.col(text_col).alias("_ctext"))
        return batch.join(
            F.broadcast(texts), F.col(text_col) == F.col("_ctext"), "left_anti"
        )
    # raw-DataFrame words path: n_hashes MUST equal the build's value —
    # a mismatch probes the wrong bit positions and admits true
    # duplicates. Prefer build_bloom_index/BloomIndex, which binds both.
    if n_hashes is None:
        n_hashes = 7
    if words is None:
        if n_bits is None:
            n_keys = corpus.count() or 1
            n_bits = _next_pow2(int(n_keys * bits_per_key))
        words = build_bloom_words(
            corpus.select(fp.alias("_fp")), "_fp", n_bits, n_hashes
        )
    fp_batch = batch.withColumn("_bfp", fp)
    flags = bloom_maybe_flags(fp_batch, "_bfp", words, n_bits, n_hashes)
    # fp is a pure function of the text, so flags join back by
    # FINGERPRINT equality — row ids may be duplicated or NULL without
    # affecting admission (membership is a property of the content).
    definite_new = fp_batch.join(
        flags.where(~F.col("_maybe")).select("_fp"),
        F.col("_bfp") == F.col("_fp"),
        "left_semi",
    )
    maybes = fp_batch.join(
        flags.where(F.col("_maybe")).select("_fp"),
        F.col("_bfp") == F.col("_fp"),
        "left_semi",
    )
    # Verify WITHOUT ever shuffling or broadcasting the corpus: pull
    # only the corpus rows whose fingerprint is among the maybes'
    # candidate set (batch-bounded, 8 bytes per key — broadcastable
    # even for dup-heavy batches; on a fp-bucketed persisted corpus
    # this scan partition-prunes too), then compare TEXT on that hit
    # set so a fingerprint collision can never reject a genuinely new
    # document. The hit set carries text payloads and is sized by the
    # batch's distinct duplicate texts, so it is NOT broadcast-hinted:
    # AQE broadcasts it when small, and a pathological all-dup batch
    # degrades to a BATCH-sized shuffle — never a corpus-sized one.
    cand_fps = maybes.select(F.col("_bfp").alias("_cfp")).distinct()
    corpus_hits = corpus.select(
        fp.alias("_cfp"), F.col(text_col).alias("_ctext")
    ).join(F.broadcast(cand_fps), "_cfp", "left_semi").distinct()
    verified_new = maybes.join(
        corpus_hits,
        F.col(text_col) == F.col("_ctext"),
        "left_anti",
    )
    return definite_new.unionByName(verified_new).drop("_bfp")
