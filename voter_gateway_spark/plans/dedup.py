"""DedupPlan — self-merge deduplication with invariants (M9–M12).

Reference semantics (lib/voter_file/dedup_driver.rb): source == target;
the match cascade finds duplicate pairs; a merge-orientation constraint
picks the survivor (default `$T < $S` on the pk — lowest pk survives,
dedup_driver.rb:53-63); invariant gates abort before any destructive
write (dedup_driver.rb:23-28 → merge_audit_sql.rb:21-36):
  M11 reflexive: no row is its own duplicate;
  M12 symmetric: no row is both a duplicate and a merge target.
Then duplicates are deleted and their values folded into survivors
(merge_duplicates_sql, dedup_driver.rb:65-82).

Spark-first design: matching reuses MatchPlan's single-plan cascade
with the orientation constraint folded into every rule; the
delete+fold is recomputed functionally:
  survivors   = rows that are someone's _target_id → updated via merge exprs
  duplicates  = rows with _target_id set → dropped
  untouched   = everything else
result = untouched ∪ updated-survivors, one declarative plan.

Deviation (documented): with several duplicates folding into one
survivor the reference's single UPDATE picks an arbitrary dup row; we
deterministically fold the duplicate with the lowest pk (SURVEY §7
hard-part 4).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from voter_gateway_spark.plans.matching import (
    MATCH_RULE,
    MatchPlan,
    MatchRule,
    SOURCE_ID,
    TARGET_ID,
)
from voter_gateway_spark.schema import render_expr


class MergeInvariantError(RuntimeError):
    pass


class DedupPlan:
    def __init__(self, table: DataFrame, pk: str, orientation: str = "$T < $S"):
        """`orientation` is a $S/$T template on the pk column choosing
        the survivor; the default keeps the lowest pk
        (dedup_driver.rb:57-63)."""
        self.table = table
        self.pk = pk
        self.orientation = orientation
        self.match = MatchPlan(source=table, target=table, target_pk=pk, source_id=pk)
        self.merge_exprs: dict[str, str] = {}  # col -> $T/$S fold template

    def find_duplicates(self, *column_groups: list[str], **kw) -> MatchRule:
        rule = self.match.find_exact_matches(*column_groups, **kw)
        # orientation constraint ANDed into every rule (apply_merge_orientation)
        rule.constraints.append((self.pk, self.orientation))
        return rule

    def merge_column_as(self, col: str, template: str) -> "DedupPlan":
        self.merge_exprs[col] = template
        return self

    # -- invariants (M11/M12) --------------------------------------------------

    def invariant_counts(self, matches: DataFrame) -> tuple[int, int]:
        """(reflexive, symmetric) violation counts — the audit form of
        the invariants (merge_audit_sql.rb:21-36 counts, no abort).

        One grouped aggregate over the matched rows: each row refers
        to the key `_target_id` and is a duplicate under its own pk.
        Symmetric violations are the pairs of matched rows a, b with
        a._target_id = b.pk, i.e. Σ_k refs_k·dups_k — the self-join's
        count, duplicate pks included. Reflexive violations are the
        rows whose `_target_id` is their own pk."""
        pk = F.col(f"`{self.pk}`")
        m = matches.where(F.col(TARGET_ID).isNotNull())
        refs = m.select(
            F.col(TARGET_ID).alias("_k"),
            F.lit(1).alias("_r"),
            F.lit(0).alias("_d"),
            (F.col(TARGET_ID) == pk).cast("int").alias("_x"),
        )
        dups = m.select(
            pk.alias("_k"), F.lit(0).alias("_r"), F.lit(1).alias("_d"), F.lit(0).alias("_x")
        )
        row = (
            refs.unionByName(dups)
            .groupBy("_k")
            .agg(F.sum("_r").alias("_r"), F.sum("_d").alias("_d"), F.sum("_x").alias("_x"))
            .agg(F.sum("_x").alias("_x"), F.sum(F.col("_r") * F.col("_d")).alias("_s"))
            .collect()[0]
        )
        return int(row["_x"] or 0), int(row["_s"] or 0)

    def check_invariants(self, matches: DataFrame) -> None:
        reflexive, symmetric = self.invariant_counts(matches)
        if reflexive:
            raise MergeInvariantError(f"{reflexive} reflexive merge(s): row would merge into itself")
        if symmetric:
            raise MergeInvariantError(f"{symmetric} symmetric merge(s): row is both duplicate and survivor")

    # -- match lowering --------------------------------------------------------

    def _window_lowerable(self) -> bool:
        """True when every rule is a pure exact-column group whose only
        constraint is the default `$T < $S` orientation — the common
        dedup shape, where the self-join cascade is replaceable by
        per-rule window minima (see _window_matches)."""
        if self.match.fuzzy_columns or not self.match.rules:
            return False
        if self.orientation.replace(" ", "") != "$T<$S":
            return False
        for r in self.match.rules:
            if r.fk_pairs or r.join_tables or r.raw_condition:
                return False
            if not r.column_groups:
                return False
            # the EXACT one-constraint form is required: an empty
            # constraints list (a rule added behind find_duplicates'
            # back) would vacuously pass an any()-check and be lowered
            # to min-pk window semantics it never declared, silently
            # skipping the invariant gate
            if r.constraints != [(self.pk, self.orientation)]:
                return False
        return True

    def _window_matches(self) -> DataFrame:
        """Join-free cascade for the exact-group `$T < $S` shape.

        The self-join form produces n² pairs PER GROUP before its
        keep-one window — and dedup group sizes grow linearly with
        corpus size while group count stays flat, so a 100× corpus
        costs 10,000× pair work (measured: the ×100 decade stress hung
        here). But under `$T < $S` the cascade's winner is fully
        determined without pairs: for each rule, a source's best target
        is its group's MIN pk (when the source isn't the min itself —
        any other member has a larger pk), and the first rule with a
        candidate wins. That is one window per rule — one keyed shuffle
        each, zero joins, linear in the data at any duplication factor.
        NULL parity with the join form: rows with NULL in any rule
        column neither match nor are matched under SQL `=`, so they are
        gated out of both the min aggregate and the candidacy."""
        ws = self.match.working_source()
        pk = F.col(f"`{self.pk}`")
        cands = []
        for rule in self.match.rules:
            cols = [c for g in rule.column_groups for c in g]
            no_null = reduce(
                Column.__and__, [F.col(f"`{c}`").isNotNull() for c in cols]
            )
            w = Window.partitionBy(*[F.col(f"`{c}`") for c in cols])
            gm = F.min(F.when(no_null, pk)).over(w)
            cands.append(F.when(no_null & (gm < pk), gm))
        expr_t = F.lit(None).cast(dict(self.table.dtypes)[self.pk])
        expr_r = F.lit(None).cast("int")
        for idx in range(len(cands) - 1, -1, -1):
            expr_t = F.when(cands[idx].isNotNull(), cands[idx]).otherwise(expr_t)
            expr_r = (
                F.when(cands[idx].isNotNull(), F.lit(idx + 1)).otherwise(expr_r)
            )
        return ws.withColumn(TARGET_ID, expr_t).withColumn(MATCH_RULE, expr_r)

    def matches(self) -> DataFrame:
        """The plan's match lowering, which execute() and dedup_audit
        share: the linear window form when the rules allow it, else the
        self-join cascade, lazy and never reused through a Job's memo
        (execute() caches it for the invariant check and the fold)."""
        if self._window_lowerable():
            return self._window_matches()
        return self.match.cascade()

    # -- execution -------------------------------------------------------------

    def execute(self, check: bool = True) -> DataFrame:
        """Run the dedup; returns the post-merge table state."""
        matches = self.matches()
        if check:
            # invariants run before the destructive fold (fail-fast gate);
            # cache: the invariant query and the fold both read the match state
            matches = matches.cache()
            self.check_invariants(matches)

        dup = matches.where(F.col(TARGET_ID).isNotNull())
        tgt_cols = self.table.columns

        if self.merge_exprs:
            # deterministic fold: lowest-pk duplicate per survivor
            w = Window.partitionBy(TARGET_ID).orderBy(F.col(f"`{self.pk}`").asc())
            best_dup = (
                dup.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .select(
                    F.col(TARGET_ID).alias("_dup_of"),
                    *[F.col(f"`{c}`").alias(f"_s_{c}") for c in tgt_cols],
                )
            )
        else:
            best_dup = dup.select(F.col(TARGET_ID).alias("_dup_of")).dropDuplicates(["_dup_of"])

        dup_ids = dup.select(F.col(f"`{self.pk}`").alias("_dup_pk")).dropDuplicates(["_dup_pk"])

        # drop duplicate rows (anti join), then fold values into survivors
        kept = self.table.join(
            dup_ids, F.col(f"`{self.pk}`") == F.col("_dup_pk"), "left_anti"
        )
        folded = kept.join(
            best_dup, F.col(f"`{self.pk}`") == F.col("_dup_of"), "left"
        )
        out_exprs = []
        for c in tgt_cols:
            if c in self.merge_exprs:
                new_val = render_expr(self.merge_exprs[c], source=f"_s_{c}", target=c)
                out_exprs.append(
                    F.when(F.col("_dup_of").isNotNull(), new_val)
                    .otherwise(F.col(f"`{c}`"))
                    .alias(c)
                )
            else:
                out_exprs.append(F.col(f"`{c}`").alias(c))
        return folded.select(*out_exprs)
