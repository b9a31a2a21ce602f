"""MergePlan — matched-update / unmatched-insert upsert (M1–M8).

Reference semantics (lib/voter_file/csv_driver/record_merger.rb):
after matching fills `working_target_id`, merge =
  UPDATE target SET (cols) = (vals) FROM matched source rows   (M1)
  INSERT INTO target (cols) SELECT vals FROM unmatched rows    (M2)
with column routing (M3: exclude / preserve / move), column-level
merge expressions over $T/$S (M4), insert-only expressions (M5),
returning values to the source (M6), and update_only/insert_only
modes (M7). merge_commands pins the order (M8).

Spark-first design: the target is immutable, so "UPDATE + INSERT" is
recomputed functionally as ONE plan:
  merged = (target LEFT JOIN best-matched-source ON pk)
             .select(per-column WHEN(matched, new).OTHERWISE(old))
           UNION ALL
           unmatched-source.select(insert exprs)
No MERGE sink required (Delta MERGE is an optional fast path at the
storage layer); the plan shape is exactly what Delta generates anyway.

Deviation (documented): if several source rows match one target, the
reference lets Postgres pick one arbitrarily; we deterministically take
the lowest `_source_id` (SURVEY §2.3 intro).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from voter_gateway_spark.plans.matching import MATCH_RULE, SOURCE_ID, TARGET_ID
from voter_gateway_spark.schema import lower_source_row_template, render_expr


@dataclass
class MergeResult:
    target: DataFrame          # post-merge target table state
    source: DataFrame          # post-merge source (enriched when return_value_to_source)
    matched: DataFrame         # matched working-source rows used for the update
    unmatched: DataFrame       # unmatched working-source rows used for the insert


class MergePlan:
    def __init__(self, target_pk: str):
        self.target_pk = target_pk
        self.excluded: set[str] = set()
        self.preserved: set[str] = set()
        self.moved: dict[str, str] = {}          # old_target_col -> new_target_col
        self.merge_exprs: dict[str, str] = {}    # col -> template over $T/$S (M4)
        self.insert_exprs: dict[str, str] = {}   # col -> template over $S (M5)
        self.returned: dict[str, str] = {}       # source_col -> template over $T (M6)
        self.update_only = False
        self.insert_only = False
        self.insert_constraints: list[str] = []  # $S-only templates kept for insert

    # -- DSL (M3–M7) ----------------------------------------------------------

    def exclude_column(self, *cols: str) -> "MergePlan":
        self.excluded.update(cols)
        return self

    def preserve_column(self, *cols: str) -> "MergePlan":
        """Excluded from UPDATE, still written on INSERT
        (record_merger.rb:16-32)."""
        self.preserved.update(cols)
        return self

    def move_columns(self, mapping: dict[str, str]) -> "MergePlan":
        """On UPDATE, target col `new` receives the target's own current
        `old` value (record_merger.rb:118-124 move semantics)."""
        self.moved.update(mapping)
        return self

    def merge_column_as(self, col: str, template: str) -> "MergePlan":
        self.merge_exprs[col] = template
        return self

    def insert_column_as(self, col: str, template: str) -> "MergePlan":
        self.insert_exprs[col] = template
        return self

    def return_value_to_source(self, source_col: str, template: str = "$T") -> "MergePlan":
        self.returned[source_col] = template
        return self

    def set_update_only(self) -> "MergePlan":
        self.update_only = True
        return self

    def set_insert_only(self) -> "MergePlan":
        self.insert_only = True
        return self

    def constrain_insert(self, template_sql: str) -> "MergePlan":
        """$S-only constraint applied to the insert branch
        (record_merger.rb:111-116 keeps source-only constraints)."""
        self.insert_constraints.append(template_sql)
        return self

    # -- column routing (M3) ---------------------------------------------------

    def update_columns(self, source_cols: list[str], target_cols: list[str]) -> list[str]:
        """Columns the UPDATE branch writes from the source row."""
        shared = [c for c in source_cols if c in set(target_cols)]
        out = [
            c
            for c in shared
            if c not in self.excluded
            and c not in self.preserved
            and c != self.target_pk
        ]
        return out

    def insert_columns(self, source_cols: list[str], target_cols: list[str]) -> list[str]:
        shared = [c for c in source_cols if c in set(target_cols)]
        return [c for c in shared if c not in self.excluded]

    # -- lowering -------------------------------------------------------------

    def returning(self, matches: DataFrame, table: DataFrame, join_key: Column) -> DataFrame:
        """M6: `matches` with each `return_value_to_source` column set
        from the `table` row whose pk equals `join_key`, NULL where none
        does. No RETURNING in Spark: the values are joined back (SURVEY
        §2.4 M6). The template is SQL over the table row: "$T.col" →
        col; bare "$T" → the pk."""
        if not self.returned:
            return matches
        pk = self.target_pk
        ret = table.select(
            F.col(f"`{pk}`").alias("_ret_pk"),
            *[
                F.expr(t.replace("$T.", "").replace("$T", f"`{pk}`")).alias(f"_ret_{c}")
                for c, t in self.returned.items()
            ],
        )
        out = matches.join(ret, join_key == ret["_ret_pk"], "left")
        for c in self.returned:
            out = out.withColumn(c, F.col(f"_ret_{c}"))
        return out.drop("_ret_pk", *[f"_ret_{c}" for c in self.returned])

    def execute(self, matches: DataFrame, target: DataFrame) -> MergeResult:
        """`matches` = MatchPlan.matches() output: source cols +
        _source_id/_target_id/_match_rule."""
        pk = self.target_pk
        meta = [SOURCE_ID, TARGET_ID] + ([MATCH_RULE] if MATCH_RULE in matches.columns else [])
        source_cols = [c for c in matches.columns if c not in meta]
        target_cols = target.columns

        matched = matches.where(F.col(TARGET_ID).isNotNull())
        unmatched = matches.where(F.col(TARGET_ID).isNull())

        # --- UPDATE branch (M1) ---
        new_target = target
        if not self.insert_only:
            # deterministic: one source row per target (lowest _source_id)
            w = Window.partitionBy(TARGET_ID).orderBy(F.col(SOURCE_ID).asc())
            best = (
                matched.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn")
            )
            s = best.select(
                F.col(TARGET_ID).alias("_join_pk"),
                *[F.col(f"`{c}`").alias(f"_s_{c}") for c in source_cols],
                F.lit(True).alias("_matched"),
            )
            joined = target.join(s, F.col(f"`{pk}`") == F.col("_join_pk"), "left")

            upd_cols = set(self.update_columns(source_cols, target_cols))
            joined_dtypes = dict(joined.dtypes)
            out_exprs: list[Column] = []
            for c in target_cols:
                old = F.col(f"`{c}`")
                if c in self.moved.values():
                    # find the old col moved into c
                    src_of_move = [o for o, n in self.moved.items() if n == c][0]
                    new_val = F.col(f"`{src_of_move}`")  # target's own current value
                elif c in self.merge_exprs:
                    # cast to the TARGET column's type, exactly like the
                    # insert branch: without it the CASE WHEN coerces the
                    # whole column to the common type (a string-typed
                    # CSV-staged source silently widens an int target)
                    new_val = render_expr(
                        self.merge_exprs[c], source=f"_s_{c}", target=c
                    ).cast(joined_dtypes[c])
                elif c in upd_cols:
                    # moved-FROM columns still receive the source value:
                    # the reference's correlated_update_columns subtracts
                    # only column_map.VALUES (the destinations), not the
                    # keys (record_merger.rb:134-136) — the old target
                    # value is preserved in the destination, then the
                    # source overwrites the origin
                    new_val = F.col(f"_s_{c}").cast(joined_dtypes[c])
                else:
                    new_val = None
                if new_val is None:
                    out_exprs.append(old.alias(c))
                else:
                    out_exprs.append(
                        F.when(F.col("_matched").isNotNull(), new_val)
                        .otherwise(old)
                        .alias(c)
                    )
            new_target = joined.select(*out_exprs)

        # --- INSERT branch (M2) ---
        if not self.update_only:
            ins = unmatched
            for template in self.insert_constraints:
                # $S.col → quoted source column ref on the unmatched frame
                ins = ins.where(F.expr(lower_source_row_template(template)))
            ins_cols = self.insert_columns(source_cols, target_cols)
            exprs = []
            for c in target_cols:
                if c in self.insert_exprs:
                    exprs.append(render_expr(self.insert_exprs[c], source=c).alias(c))
                elif c in ins_cols:
                    exprs.append(F.col(f"`{c}`").cast(dict(new_target.dtypes)[c]).alias(c))
                else:
                    exprs.append(F.lit(None).cast(dict(new_target.dtypes)[c]).alias(c))
            insert_rows = ins.select(*exprs)
            new_target = new_target.unionByName(insert_rows)

        # --- RETURNING to source (M6) ---
        # matched rows join on _target_id; inserted rows carry the
        # source's own pk value when the source provides it
        # (record_merger.rb:97-107 joins RETURNING rows by pk).
        join_key = F.col(TARGET_ID)
        if pk in source_cols:
            join_key = F.coalesce(join_key, matches[pk])
        new_source = self.returning(matches, new_target, join_key)

        return MergeResult(
            target=new_target, source=new_source, matched=matched, unmatched=unmatched
        )


def scd2_merge(
    target: DataFrame,
    source: DataFrame,
    pk: str,
    change_cols: list[str],
    load_date: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    current_flag: str = "is_current",
) -> DataFrame:
    """Type-2 slowly-changing upsert: instead of overwriting matched
    rows (the reference's M1 UPDATE), history is preserved — the
    current version of a changed key is CLOSED (`valid_to` = load_date,
    flag off) and a new open version is inserted; unchanged keys are
    untouched; new keys open their first version. The comparison is
    null-safe (`<=>`) per change column.

    `source` must be unique per pk (pre-aggregate otherwise). One plan:
    history rows pass through untouched; the current slice joins the
    source once (full outer on the pk); every branch (close / keep /
    open) is a projection of that single join — no per-branch rescans
    of the target.
    """
    # null-safe split: a NULL current_flag (nullable boolean from an
    # earlier load) fails BOTH `flag` and `~flag` predicates and the
    # row would silently vanish from the output — treat NULL as
    # not-current history
    is_cur = F.coalesce(F.col(current_flag), F.lit(False))
    cur = target.where(is_cur)
    hist = target.where(~is_cur)
    biz_cols = [c for c in target.columns if c not in (valid_from, valid_to, current_flag)]

    s = source.select(
        F.col(pk).alias("_s_pk"),
        *[F.col(c).alias(f"_s_{c}") for c in biz_cols if c != pk],
    )
    j = cur.join(s, F.col(f"`{pk}`") == F.col("_s_pk"), "full_outer")
    changed = reduce(
        Column.__or__,
        [~F.col(f"`{c}`").eqNullSafe(F.col(f"_s_{c}")) for c in change_cols],
    )
    in_target = F.col(f"`{pk}`").isNotNull()
    in_source = F.col("_s_pk").isNotNull()

    closed = j.where(in_target & in_source & changed).select(
        *[F.col(f"`{c}`").alias(c) for c in biz_cols],
        F.col(valid_from).alias(valid_from),
        F.lit(load_date).cast("date").alias(valid_to),
        F.lit(False).alias(current_flag),
    )
    kept = j.where(in_target & (~in_source | ~changed)).select(
        *[F.col(f"`{c}`").alias(c) for c in biz_cols],
        F.col(valid_from).alias(valid_from),
        F.col(valid_to).alias(valid_to),
        F.col(current_flag).alias(current_flag),
    )
    opened = j.where(in_source & (~in_target | changed)).select(
        F.coalesce(F.col("_s_pk"), F.col(f"`{pk}`")).alias(pk),
        *[F.col(f"_s_{c}").alias(c) for c in biz_cols if c != pk],
        F.lit(load_date).cast("date").alias(valid_from),
        F.lit(None).cast("date").alias(valid_to),
        F.lit(True).alias(current_flag),
    )
    return hist.unionByName(closed).unionByName(kept).unionByName(opened)


def apply_changes(
    target: DataFrame,
    changes: DataFrame,
    pk: str,
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """CDC changelog apply (Delta-style APPLY CHANGES INTO, the
    lakehouse generalization of the reference's M1/M2 upsert): fold a
    stream of keyed (op, seq) change rows into the target — the LATEST
    change per key wins (highest seq; ties break op descending, then
    every payload column descending as text, so even two change rows
    with identical (seq, op) but different payloads fold the same way
    on every run and engine — (pk, seq) uniqueness is therefore NOT a
    precondition, just the normal shape), upserts (any op != delete_op)
    replace or insert the row, deletes drop it.

    One plan: per-key latest change via WindowGroupLimit (partial
    top-1 before the shuffle), then a single full-outer join against
    the target — never one pass per operation type. The join shuffles
    on the pk both sides; at 100 TB a bucketed/Delta target turns this
    into the storage-layer MERGE (sources/merge_sink.py records that
    decision)."""
    data_cols = [c for c in target.columns]
    payload_tiebreak = [
        F.col(c).cast("string").desc_nulls_last()
        for c in changes.columns
        if c not in (pk, seq_col, op_col)
    ]
    w = Window.partitionBy(pk).orderBy(
        F.col(seq_col).desc(), F.col(op_col).desc(), *payload_tiebreak
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            F.col(pk).alias("_c_pk"),
            F.col(op_col).alias("_c_op"),
            *[F.col(c).alias(f"_c_{c}") for c in data_cols if c != pk],
        )
    )
    j = target.join(latest, F.col(f"`{pk}`") == F.col("_c_pk"), "full_outer")
    has_change = F.col("_c_pk").isNotNull()
    deleted = has_change & (F.col("_c_op") == delete_op)
    out_cols = [
        F.coalesce(F.col("_c_pk"), F.col(f"`{pk}`")).alias(pk)
    ] + [
        F.when(has_change, F.col(f"_c_{c}")).otherwise(F.col(f"`{c}`")).alias(c)
        for c in data_cols
        if c != pk
    ]
    return j.where(~deleted).select(*out_cols)
