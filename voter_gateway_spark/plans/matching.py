"""MatchPlan — ordered-rule record matching (J1–J6, J10–J11, A6).

Reference semantics (lib/voter_file/csv_driver/record_matcher.rb):
an ordered cascade of exact-match rules; each rule's UPDATE only touches
rows still unmatched (`WHERE working_target_id IS NULL`,
record_matcher.rb:68), giving rule-priority first-match-wins semantics.
A rule is one or more column groups (multi-column equality), optional
foreign-key renames, optional extra theta-joined tables, and optional
$S/$T constraint templates.

Spark-first design: because exact rules never consume targets, the
sequential cascade is equivalent to a SINGLE declarative plan — compute
all (source, target, rule_idx) match pairs per rule, union them, and
pick per source the minimum (rule_idx, target_pk). One job, no
per-round materialization, no lineage growth; Catalyst broadcast/AQE
applies per rule-join. (SURVEY §4.3.1 notes the union+row_number form;
it is the primary implementation here, not just an optimization.)

Deviation (documented): when several targets match one source under the
same rule, the reference inherits Postgres' arbitrary pick
(SURVEY §2.3); we tie-break deterministically by ascending target pk.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from voter_gateway_spark.schema import render_expr, spark_type
from voter_gateway_spark.session import ckpt, ckpt_lazy, reuse

SOURCE_ID = "_source_id"
TARGET_ID = "_target_id"
MATCH_RULE = "_match_rule"


@dataclass
class JoinTable:
    """J4: extra table theta-joined into a rule's match condition
    (record_matcher.rb:28-30, :88-90). `condition` is a SQL expr over
    alias-qualified columns: source `s.*`, target `t.*`, this table
    `{alias}.*`."""

    df: DataFrame
    alias: str
    condition: str


@dataclass
class MatchRule:
    """One rule of the cascade.

    - column_groups: list of lists of join columns. Each inner list is a
      conjunctive multi-column equality group; several groups in one
      rule are individually ANDed into the same rule like the reference
      (record_matcher.rb:16-18 collects groups per-rule; each group is
      ANDed into the rule's WHERE at :71-81).
    - fk_pairs: J3 renamed-key equalities [(source_key, target_key)].
    - constraints: J6 per-rule templates [(column, template)] where the
      template mixes $S/$T refs to that column.
    - raw_condition: optional extra SQL over s./t. qualified refs.
    - join_tables: J4 extras.
    """

    column_groups: list[list[str]] = field(default_factory=list)
    fk_pairs: list[tuple[str, str]] = field(default_factory=list)
    constraints: list[tuple[str, str]] = field(default_factory=list)
    raw_condition: str | None = None
    join_tables: list[JoinTable] = field(default_factory=list)

    def condition(self) -> Column:
        parts: list[Column] = []
        for group in self.column_groups:
            for c in group:
                parts.append(F.expr(f"s.`{c}` = t.`{c}`"))
        for sk, tk in self.fk_pairs:
            parts.append(F.expr(f"s.`{sk}` = t.`{tk}`"))
        for col, template in self.constraints:
            parts.append(render_expr(template, source=f"s.{col}", target=f"t.{col}"))
        if self.raw_condition:
            parts.append(F.expr(self.raw_condition))
        if not parts:
            raise ValueError("match rule with no condition")
        return reduce(Column.__and__, parts)


class MatchPlan:
    """Build and run a match cascade: source rows → at most one target pk.

    J5 nested matchers flatten into the ordered `rules` list (rule order
    IS the cascade priority)."""

    def __init__(
        self,
        source: DataFrame,
        target: DataFrame,
        target_pk: str,
        target_pk_type: str | None = None,
        source_id: str | None = None,
    ):
        self.source = source
        self.target = target
        self.target_pk = target_pk
        self.target_pk_type = target_pk_type
        self.source_id = source_id  # existing unique source column, else synthesized
        self.rules: list[MatchRule] = []
        self.fuzzy_columns: list[str] = []
        self.fuzzy_threshold: float | None = None

    # -- DSL -----------------------------------------------------------------

    def find_exact_matches(self, *column_groups: list[str], **kw) -> MatchRule:
        rule = MatchRule(column_groups=list(column_groups), **kw)
        self.rules.append(rule)
        return rule

    def foreign_key_match(self, pairs: list[tuple[str, str]], **kw) -> MatchRule:
        rule = MatchRule(fk_pairs=pairs, **kw)
        self.rules.append(rule)
        return rule

    def fuzzy_match_column(self, *cols: str, threshold: float | None = None) -> "MatchPlan":
        """J7–J9 wired into the cascade (FuzzyMerger contract,
        fuzzy_merger.rb:13-15 splicing into match_commands at :17-19):
        after the exact rules, one fuzzy round per column runs over the
        RESIDUAL target pool — exact-matched targets leave the pool
        (the reference's working-target DELETE, fuzzy_merger.rb:38-45,
        62-67) and each remaining target is claimed at most once.
        Fuzzy matches land in the same `matches()` output (TARGET_ID +
        MATCH_RULE numbered after the exact rules), so
        `MergePlan.execute` consumes exact+fuzzy state unchanged."""
        self.fuzzy_columns.extend(cols)
        if threshold is not None:
            self.fuzzy_threshold = threshold
        return self

    # -- lowering ------------------------------------------------------------

    def working_source(self) -> DataFrame:
        """J1: source + `_source_id` row identity. Uses a declared unique
        column when given (deterministic, oracle-friendly); else
        `monotonically_increasing_id` (unique, not dense — SURVEY §1.4)."""
        df = self.source
        if self.source_id:
            df = df.withColumn(SOURCE_ID, F.col(self.source_id))
        else:
            df = df.withColumn(SOURCE_ID, F.monotonically_increasing_id())
        return df

    def matches(self, tag_rules: bool = True) -> DataFrame:
        """The single-plan cascade: per-source best (rule_idx, target_pk).

        Returns working source + TARGET_ID (+ MATCH_RULE 1-based rule
        index, NULL when unmatched — A6 audit column,
        merge_audit_sql.rb:38-51).

        Inside a Job's open memo (`session.reuse`) this is one eagerly
        checkpointed frame, handed back to a later call while source
        and target are unchanged and the key below, everything else the
        output depends on, is equal. Without an open memo, or with a
        rule that has join tables, this is the lazy `cascade()`.
        """
        if any(rule.join_tables for rule in self.rules):
            return self.cascade()
        key = (
            "MatchPlan.matches",
            # dataclass repr: without join tables every field is a str,
            # a list or tuple of them, or None, so equal reprs are equal rules
            repr(self.rules),
            tuple(self.fuzzy_columns),
            self.fuzzy_threshold,
            self.target_pk,
            self.target_pk_type,
            self.source_id,
            tag_rules,
        )
        return reuse([self.source, self.target], key, self.cascade, keep=ckpt)

    def cascade(self) -> DataFrame:
        """`matches()` as one lazy plan, never reused: the exact cascade
        plus the fuzzy rounds."""
        ws = self.working_source()
        pk_t = spark_type(self.target_pk_type) if self.target_pk_type else None

        pair_frames: list[DataFrame] = []
        for idx, rule in enumerate(self.rules):
            from pyspark.errors import AnalysisException

            t = self.target.alias("t")
            # a join-table condition that references source columns
            # (`s.*`) cannot be applied while only t and the extra
            # table are in scope — defer those joins until after the
            # source join so the documented J4 contract (conditions
            # over s.*, t.*, and the alias) actually resolves.
            # Deferral is decided by ATTEMPTING the eager join (classic
            # DataFrames analyze eagerly, so an out-of-scope reference
            # raises here), not by grepping the condition text — a
            # literal "s." inside a string constant must not change
            # join placement, and a genuinely bad column name still
            # surfaces as an AnalysisException from the deferred join.
            post = []
            for jt in rule.join_tables:
                try:
                    t = t.join(jt.df.alias(jt.alias), F.expr(jt.condition))
                except AnalysisException:
                    post.append(jt)
            try:
                joined = ws.alias("s").join(t, rule.condition())
            except AnalysisException as e:
                if post:
                    raise AnalysisException(
                        "match-rule condition failed to analyze while "
                        f"join table(s) {[jt.alias for jt in post]} were "
                        "deferred (their conditions reference s.*). A "
                        "rule condition cannot reference a deferred "
                        "join-table alias — move the s.* predicate out "
                        "of the join table or reference the alias only "
                        "from join-table conditions. Original error: "
                        f"{e}"
                    ) from e
                raise
            for jt in post:
                joined = joined.join(jt.df.alias(jt.alias), F.expr(jt.condition))
            pairs = joined.select(
                F.col(f"s.{SOURCE_ID}").alias(SOURCE_ID),
                F.col(f"t.`{self.target_pk}`").alias("_cand_pk"),
                F.lit(idx + 1).alias(MATCH_RULE),
            )
            pair_frames.append(pairs)

        if not pair_frames:
            # spark_type() returns the DDL STRING for lit().cast()
            pk_dtype = pk_t if pk_t else dict(self.target.dtypes)[self.target_pk]
            out = (
                ws.withColumn(TARGET_ID, F.lit(None).cast(pk_dtype))
                .withColumn(MATCH_RULE, F.lit(None).cast("int"))
            )
        else:
            all_pairs = reduce(DataFrame.unionByName, pair_frames)
            w = Window.partitionBy(SOURCE_ID).orderBy(
                F.col(MATCH_RULE).asc(), F.col("_cand_pk").asc()
            )
            best = (
                all_pairs.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .select(SOURCE_ID, F.col("_cand_pk"), MATCH_RULE)
            )
            cand = F.col("_cand_pk")
            if pk_t:
                cand = cand.cast(pk_t)
            out = (
                ws.join(best, SOURCE_ID, "left")
                .withColumn(TARGET_ID, cand)
                .drop("_cand_pk")
            )
        if self.fuzzy_columns:
            out = self._with_fuzzy_rounds(out)
        return out

    def _with_fuzzy_rounds(self, out: DataFrame) -> DataFrame:
        """Splice fuzzy claiming rounds after the exact cascade: the
        residual pool = target minus exact-matched pks; fuzzy winners
        fill TARGET_ID/MATCH_RULE on the still-unmatched sources."""
        from voter_gateway_spark.operators.fuzzy import (
            DEFAULT_THRESHOLD,
            fuzzy_claiming_rounds,
        )

        # the claiming rounds read this frame several times; checkpoint
        # so the cascade computes once, inside the first job that reads it
        out = out.transform(ckpt_lazy)
        unmatched = out.where(F.col(TARGET_ID).isNull())
        # duplicates are harmless: a left-anti join ignores them on its right
        claimed_pks = out.where(F.col(TARGET_ID).isNotNull()).select(
            F.col(TARGET_ID).alias("_claimed")
        )
        pool = self.target.join(
            claimed_pks,
            self.target[self.target_pk] == F.col("_claimed"),
            "left_anti",
        )
        fz = fuzzy_claiming_rounds(
            unmatched,
            pool,
            self.fuzzy_columns,
            source_id=SOURCE_ID,
            target_id=self.target_pk,
            threshold=self.fuzzy_threshold or DEFAULT_THRESHOLD,
        )
        n_exact = len(self.rules)
        rule_idx = F.lit(None).cast("int")
        for i, c in enumerate(self.fuzzy_columns):
            rule_idx = F.when(
                F.col("_fuzzy_column") == c, F.lit(n_exact + i + 1)
            ).otherwise(rule_idx)
        fz = fz.select(
            F.col(SOURCE_ID).alias("_fsid"),
            F.col(f"matched_{self.target_pk}").alias("_ftid"),
            rule_idx.alias("_frule"),
        )
        cand = F.coalesce(F.col(TARGET_ID), F.col("_ftid"))
        if self.target_pk_type:
            cand = cand.cast(spark_type(self.target_pk_type))
        return (
            out.join(fz, out[SOURCE_ID] == F.col("_fsid"), "left")
            .withColumn(TARGET_ID, cand)
            .withColumn(MATCH_RULE, F.coalesce(F.col(MATCH_RULE), F.col("_frule")))
            .drop("_fsid", "_ftid", "_frule")
        )

    # -- J10/J11 convenience views --------------------------------------------

    @staticmethod
    def unmatched(matches: DataFrame) -> DataFrame:
        return matches.where(F.col(TARGET_ID).isNull())

    @staticmethod
    def matched(matches: DataFrame) -> DataFrame:
        return matches.where(F.col(TARGET_ID).isNotNull())
