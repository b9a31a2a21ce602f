"""Profiling / audit aggregations (A1–A8).

Reference: csv_audit.rb, database_audit.rb, merge_audit.rb,
dedup_audit.rb — row counts, per-column coverage %, key uniqueness,
top-k value distributions, per-rule match counts, formatted reports.

Spark-first: coverage for ALL columns is computed in ONE aggregation
pass (the reference issues one query per column,
database_audit.rb:19-26 — at 100 TB that is N full scans vs our 1).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def row_count(df: DataFrame) -> int:
    """A1."""
    return df.count()


def coverage_exprs(cols: list[str]) -> list:
    """A2 nonblank predicate per column: NOT NULL AND trim(cast) <> ''
    (csv_audit.rb:113-117)."""
    return [
        F.count(
            F.when(
                F.col(f"`{c}`").isNotNull()
                & (F.trim(F.col(f"`{c}`").cast("string")) != ""),
                1,
            )
        ).alias(c)
        for c in cols
    ]


def column_coverage(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """A2: one row per column: covered count + percent. Single scan."""
    cols = cols or df.columns
    agg = df.agg(F.count(F.lit(1)).alias("_total"), *coverage_exprs(cols))
    # unpivot to (column, covered, total, percent)
    stack_expr = ", ".join(f"'{c}', `{c}`" for c in cols)
    return (
        agg.selectExpr("_total", f"stack({len(cols)}, {stack_expr}) as (column, covered)")
        .select(
            "column",
            "covered",
            F.col("_total").alias("total"),
            F.round(F.col("covered") * 100.0 / F.col("_total"), 2).alias("percent"),
        )
    )


def key_is_unique(df: DataFrame, key: str | list[str]) -> bool:
    """A3: SELECT key, COUNT(*) GROUP BY key HAVING COUNT(*)>1 LIMIT 1."""
    keys = [key] if isinstance(key, str) else key
    dupes = df.groupBy(*keys).count().where(F.col("count") > 1).limit(1)
    return len(dupes.take(1)) == 0


def value_distribution(df: DataFrame, column: str, limit: int | None = None) -> DataFrame:
    """A4: value → count, descending (top-k when limited,
    database_audit.rb:85-96)."""
    out = (
        df.groupBy(F.col(f"`{column}`").alias("value"))
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc_nulls_last("value"))
    )
    return out.limit(limit) if limit else out


def grouped_flag_distribution(df: DataFrame, expr, alias: str = "flag") -> DataFrame:
    """A5: GROUP BY a computed boolean (database_audit.rb:75-83)."""
    return df.groupBy(expr.alias(alias)).agg(F.count(F.lit(1)).alias("count"))


def approx_distinct_by(
    df: DataFrame, group_cols: list[str], col: str, rsd: float = 0.05
) -> DataFrame:
    """A3/A4's 100 TB form: per-group cardinality via HyperLogLog++
    (approx_count_distinct). The exact two-phase distinct shuffles
    every distinct (group, value) pair; the sketch shuffles ONE fixed-
    size HLL register block per (partition, group) — at a billion
    distinct users that is the difference between a key-sized shuffle
    and a few KB per group. `rsd` is the sketch's target relative
    standard deviation (Spark sizes the registers from it); the error
    envelope is property-tested against the exact count (tests/
    test_jobs_audit.py) rather than oracle-hashed — approximate values
    are implementation-defined, their BOUND is the contract."""
    return df.groupBy(*group_cols).agg(
        F.approx_count_distinct(col, rsd=rsd).alias(f"approx_n_{col}"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def approx_quantiles_by(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    probabilities: list[float],
    accuracy: int = 10_000,
) -> DataFrame:
    """A4's quantile form at scale: per-group percentile_approx
    (Greenwald-Khanna style sketch, mergeable, fixed memory per
    group). Guarantee: each returned value's RANK is within
    n/accuracy of the target rank, so it lies between the exact
    quantiles at p ± 1/accuracy — the property the tests pin. Exact
    F.percentile needs the full sorted value multiset per group;
    the sketch keeps O(accuracy) entries regardless of n."""
    return df.groupBy(*group_cols).agg(
        F.percentile_approx(
            col, F.lit(probabilities), F.lit(accuracy)
        ).alias(f"approx_q_{col}"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def heavy_hitters(df: DataFrame, col: str, support: float = 0.01) -> list:
    """A4's top-k at scale without a full groupBy: single-pass
    frequent-items sketch (Karp/Misra-Gries family via
    df.stat.freqItems). Contract: every value with frequency ≥
    `support` fraction of rows IS in the result (no false negatives);
    false positives are possible and callers filter with an exact
    count over the returned (small) candidate list if needed."""
    row = df.stat.freqItems([col], support).collect()[0]
    return list(row[f"{col}_freqItems"])


def match_rule_counts(matches: DataFrame) -> DataFrame:
    """A6: per-rule match counts from the tagged cascade output."""
    return (
        matches.groupBy("_match_rule")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.asc_nulls_last("_match_rule"))
    )


@dataclass
class MergeAuditResult:
    """A8 (merge_audit.rb:36-49): totals + per-rule counts and rates."""

    total: int
    matched: int
    per_rule: dict[int, int] = field(default_factory=dict)

    @property
    def match_rate(self) -> float:
        return (self.matched / self.total * 100.0) if self.total else 0.0

    def __str__(self) -> str:
        lines = [
            f"total records: {self.total}",
            f"matched:       {self.matched} ({self.match_rate:.2f}%)",
        ]
        for rule, n in sorted(self.per_rule.items()):
            rate = n / self.total * 100.0 if self.total else 0.0
            lines.append(f"  rule {rule}: {n} ({rate:.2f}%)")
        return "\n".join(lines)


@dataclass
class CSVAuditResult:
    """A8 file-profile report (csv_audit.rb:69-100 AuditResult): valid
    and malformed row counts, key-uniqueness verdicts, per-column
    coverage. `coverage` maps column -> (covered_count, fraction)."""

    total_count: int
    malformed_count: int
    keys: dict[str, bool] = field(default_factory=dict)
    coverage: dict[str, tuple[int, float]] = field(default_factory=dict)

    def __str__(self) -> str:
        report = "CSV Audit Report"
        report += f"\n\nValid rows: {self.total_count}"
        report += f"\nInvalid rows: {self.malformed_count}"
        report += "\n\nKeys:"
        for key, unique in self.keys.items():
            verdict = "UNIQUE KEY" if unique else "DUPLICATES (NOT UNIQUE)"
            report += f"\n\t[{key}] {verdict}"
        report += "\n\nCoverage:"
        for col, (covered, frac) in self.coverage.items():
            report += "\n\t" + f"{col}:".ljust(30) + f" {round(frac * 100, 2)}% ({covered})"
        return report


@dataclass
class DatabaseAuditResult:
    """A8 table-profile report (database_audit.rb:99-114 AuditResult):
    row count, per-column coverage, top-k value distributions."""

    total_records: int
    coverage: dict[str, tuple[int, float]] = field(default_factory=dict)
    distributions: dict[str, list[tuple[object, int]]] = field(default_factory=dict)

    def __str__(self) -> str:
        report = "Database Audit Report"
        report += f"\n\nTotal records: {self.total_records}"
        report += "\n\nCoverage:"
        for col, (covered, frac) in self.coverage.items():
            report += "\n\t" + f"{col}:".ljust(30) + f" {round(frac * 100, 2)}% ({covered})"
        for col, dist in self.distributions.items():
            report += f"\n\n{col} distribution:"
            for value, n in dist:
                report += f"\n\t{value}: {n}"
        return report


def _profile(df: DataFrame, cols: list[str], *extra) -> tuple:
    """One aggregation pass for total + all-column coverage + `extra`
    aggregates (the reference scans once per column — N scans vs our
    1). Returns the aggregate row and column -> (covered, fraction)."""
    row = df.agg(F.count(F.lit(1)).alias("_total"), *coverage_exprs(cols), *extra).collect()[0]
    total = row["_total"]
    return row, {c: (row[c], (row[c] / total) if total else 0.0) for c in cols}


def csv_audit(
    source,
    spark,
    keys: list[str] | None = None,
    columns: list[str] | None = None,
) -> CSVAuditResult:
    """Profile a CSV file (csv_audit.rb:30-58 perform_audit). `source`
    is a CSVSource; a copy with remove_malformed=True is read, so the
    invalid-row count is real and both queries below read one
    checkpointed parse. Inside a Job that already read the unchanged
    file with the same options, the read is handed that Job's header
    sniff and parse (`session.reuse`); otherwise it sniffs the header
    first. Then two queries:
    - one aggregate over the valid rows: total, coverage (A2) and per
      key (A3) `countDistinct(key)` plus one group if any key is NULL,
      which equals the total exactly when `key_is_unique` holds (its
      GROUP BY puts all NULL keys in one group);
    - `malformed_count()`'s union query (A7): blank lines are not in
      the parse."""
    from dataclasses import replace

    src = replace(source, remove_malformed=True)
    df = src.read(spark)
    keys = keys or []
    groups = [
        (
            F.countDistinct(F.col(f"`{k}`"))
            + (F.count_if(F.col(f"`{k}`").isNull()) > 0).cast("int")
        ).alias(f"_groups{i}")
        for i, k in enumerate(keys)
    ]
    row, coverage = _profile(df, columns or df.columns, *groups)
    return CSVAuditResult(
        total_count=row["_total"],
        malformed_count=src.malformed_count(),
        keys={k: row[f"_groups{i}"] == row["_total"] for i, k in enumerate(keys)},
        coverage=coverage,
    )


def database_audit(
    df: DataFrame,
    columns: list[str] | None = None,
    distribution_columns: list[str] | None = None,
    limit: int | None = 10,
) -> DatabaseAuditResult:
    """Profile a table: count + coverage in one pass, then a top-k
    distribution per requested column (database_audit.rb:10-48)."""
    row, coverage = _profile(df, columns or df.columns)
    result = DatabaseAuditResult(total_records=row["_total"], coverage=coverage)
    for col in distribution_columns or []:
        rows = value_distribution(df, col, limit=limit).collect()
        result.distributions[col] = [(r["value"], r["count"]) for r in rows]
    return result


def merge_audit(matches: DataFrame) -> MergeAuditResult:
    """Dry-run match audit: run the cascade, count, write nothing
    (merge_audit.rb:13-34)."""
    rows = (
        matches.groupBy("_match_rule").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    total = sum(r["n"] for r in rows)
    per_rule = {r["_match_rule"]: r["n"] for r in rows if r["_match_rule"] is not None}
    return MergeAuditResult(total=total, matched=sum(per_rule.values()), per_rule=per_rule)


@dataclass
class DedupAuditResult(MergeAuditResult):
    """A8 dedup-audit report (dedup_audit.rb:19-55): the merge audit
    plus reflexive/symmetric violation counts, flagged loudly in the
    report instead of aborting (the audit is the dry run; execute()
    still hard-fails)."""

    reflexive_merges: int = 0
    symmetric_merges: int = 0

    def __str__(self) -> str:
        report = super().__str__()
        if self.reflexive_merges:
            report += (
                f"\nREFLEXIVE MERGE ERROR: {self.reflexive_merges} records "
                "are flagged as their own duplicate."
            )
        if self.symmetric_merges:
            report += (
                f"\nSYMMETRIC MERGE ERROR: {self.symmetric_merges} records "
                "are flagged as both a duplicate and original."
            )
        return report


def dedup_audit(plan) -> DedupAuditResult:
    """Dry-run a DedupPlan: per-rule duplicate counts + invariant
    violation counts, writing nothing (dedup_audit.rb:12-38).

    Uses the plan's OWN match lowering (`matches()`), not the raw
    self-join cascade: for window-lowerable plans the raw form builds
    n² pairs per duplicate group — the exact hang the ×100 stress
    measured — while execute() runs the linear window form; the audit
    must cost what the execution costs."""
    matches = plan.matches().cache()
    base = merge_audit(matches)
    reflexive, symmetric = plan.invariant_counts(matches)
    return DedupAuditResult(
        total=base.total,
        matched=base.matched,
        per_rule=base.per_rule,
        reflexive_merges=reflexive,
        symmetric_merges=symmetric,
    )
