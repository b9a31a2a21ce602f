"""Job lifecycle templates (reference import_job.rb / dedup_job.rb).

Template method: subclass, override `job(gateway)`; cleanup is
guaranteed (import_job.rb:16-23, dedup_job.rb:13-20). `perform_audit`
re-runs the SAME job body against an audit-mode gateway that dry-runs
every merge/dedup — matching only, writing nothing — and returns the
accumulated audit results (import_job.rb:25-34 swaps CSVDriver for
MergeAudit; dedup_job.rb:22-31 swaps DedupDriver for DedupAudit; call
order — job, read audit_results, clean_up, return — pinned by
spec/import_job_base_spec.rb:23-45).

The gateway exposes `merge(plan, matches, target)` and
`dedup(plan)` so one job body runs unchanged under both drivers —
the Spark translation of the reference routing everything through the
driver object.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from voter_gateway_spark.audit import (
    DedupAuditResult,
    MergeAuditResult,
    dedup_audit,
    merge_audit,
)
from voter_gateway_spark.plans.matching import TARGET_ID
from voter_gateway_spark.plans.merging import MergePlan, MergeResult
from voter_gateway_spark.session import GatewaySession


class AuditGateway(GatewaySession):
    """GatewaySession in dry-run mode: merges and dedups audit instead
    of executing; results accumulate in `audit_results` (reference
    MergeAudit#audit_merge appends AuditResult per merge_records)."""

    def __init__(self, spark: SparkSession):
        super().__init__(spark)
        self.audit_results: list[MergeAuditResult] = []

    def merge(self, plan: MergePlan, matches: DataFrame, target: DataFrame) -> MergeResult:
        """Match-only: count per-rule matches, write nothing; the
        'result' returns the target unchanged so downstream job code
        keeps working — including return_value_to_source columns,
        which a dry-run computes from the CURRENT (unmerged) target so
        a job body that reads result.source['col'] resolves under both
        gateways (values reflect pre-merge target state; unmatched
        rows carry NULL, as they would pre-insert)."""
        self.audit_results.append(merge_audit(matches))
        return MergeResult(
            target=target,
            source=plan.returning(matches, target, F.col(TARGET_ID)),
            matched=matches.where(F.col(TARGET_ID).isNotNull()),
            unmatched=matches.where(F.col(TARGET_ID).isNull()),
        )

    def dedup(self, plan, check: bool = True) -> DataFrame:
        """Dry-run the dedup: per-rule duplicate counts + invariant
        violation counts; the table is returned unchanged."""
        self.audit_results.append(dedup_audit(plan))
        return plan.table


class ExecuteGateway(GatewaySession):
    """The normal (committing) gateway: merges and dedups execute."""

    def merge(self, plan: MergePlan, matches: DataFrame, target: DataFrame) -> MergeResult:
        return plan.execute(matches, target)

    def dedup(self, plan, check: bool = True) -> DataFrame:
        return plan.execute(check=check)


class Job:
    """Template method base. Subclasses override `job(gateway)`; the
    same body runs committing under `perform()` and dry-run under
    `perform_audit()`."""

    gateway_class: type[GatewaySession] = ExecuteGateway
    audit_gateway_class: type[AuditGateway] = AuditGateway

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def job(self, gateway: GatewaySession):
        raise NotImplementedError

    def perform(self):
        gateway = self.gateway_class(self.spark)
        try:
            return self.job(gateway)
        finally:
            gateway.clean_up()

    def perform_audit(self) -> list[MergeAuditResult]:
        """Dry-run the job: same body, audit driver, nothing written.
        Returns the audit results collected across every merge/dedup
        the job performed (read before clean_up, per the reference
        spec's pinned order)."""
        gateway = self.audit_gateway_class(self.spark)
        try:
            self.job(gateway)
        finally:
            results = gateway.audit_results
            gateway.clean_up()
        return results


class ImportJob(Job):
    """CSV → stage → match → upsert (import_job.rb). perform_audit
    yields one MergeAuditResult per merge the job runs."""


class DedupJob(Job):
    """Self-dedup with invariant gate (dedup_job.rb). perform_audit
    yields DedupAuditResult (per-rule counts + reflexive/symmetric
    violation counts) per dedup the job runs."""

    audit_gateway_class = AuditGateway

    def perform_audit(self) -> list[DedupAuditResult]:  # narrowed type
        return super().perform_audit()
