"""Job-level audit templates (VERDICT r2 item 4).

The reference pairs every job with a dry-run: `perform` runs the job
against the committing driver, `perform_audit` runs the SAME job body
against an audit driver that matches-only and accumulates results
(import_job.rb:25-34, dedup_job.rb:22-31; call order pinned by
spec/import_job_base_spec.rb:23-45). These tests exercise both
templates end-to-end on fixture-shaped frames.
"""

import os
from collections import Counter

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from voter_gateway_spark.audit import DedupAuditResult, MergeAuditResult, csv_audit
from voter_gateway_spark.jobs import AuditGateway, DedupJob, ImportJob
from voter_gateway_spark.plans import DedupPlan, MatchPlan, MergePlan, WorkingFrame
from voter_gateway_spark.sources import CSVSource


def _target(spark):
    return spark.createDataFrame(
        [
            Row(id=1, key="K1", name="ALPHA", bal=10),
            Row(id=2, key="K2", name="BETA", bal=20),
        ],
        "id int, key string, name string, bal int",
    )


def _source(spark):
    return spark.createDataFrame(
        [
            Row(sid=1, key="K1", name="alpha2", bal=100),   # rule 1 (key)
            Row(sid=2, key=None, name="BETA", bal=200),     # rule 2 (name)
            Row(sid=3, key="KX", name="NEW", bal=300),      # no match
        ],
        "sid int, key string, name string, bal int",
    )


class UpsertJob(ImportJob):
    def __init__(self, spark, source, target):
        super().__init__(spark)
        self.source = source
        self.target = target

    def job(self, gw):
        mp = MatchPlan(self.source, self.target, target_pk="id", source_id="sid")
        mp.find_exact_matches(["key"])
        mp.find_exact_matches(["name"])
        matches = mp.matches()
        plan = MergePlan(target_pk="id").merge_column_as("bal", "$T + $S")
        return gw.merge(plan, matches, self.target)


def test_import_job_perform_commits(spark):
    res = UpsertJob(spark, _source(spark), _target(spark)).perform()
    rows = {r.id: r for r in res.target.where("id IS NOT NULL").collect()}
    assert rows[1].bal == 110 and rows[2].bal == 220
    assert res.target.where("id IS NULL").count() == 1  # insert branch ran


def test_import_job_perform_audit_dry_runs(spark):
    target = _target(spark)
    job = UpsertJob(spark, _source(spark), target)
    results = job.perform_audit()
    assert len(results) == 1
    audit = results[0]
    assert isinstance(audit, MergeAuditResult)
    assert audit.total == 3 and audit.matched == 2
    assert audit.per_rule == {1: 1, 2: 1}
    assert audit.match_rate == 2 / 3 * 100.0
    # dry run: the target table was NOT modified
    assert {r.bal for r in target.collect()} == {10, 20}


def test_same_job_body_runs_under_both_gateways(spark):
    """The template's whole point: one job body, two drivers."""
    job = UpsertJob(spark, _source(spark), _target(spark))
    audit = job.perform_audit()[0]
    res = job.perform()
    committed = {
        r.id for r in res.matched.select("_target_id").collect()
        for r in [Row(id=r["_target_id"])]
    }
    assert audit.matched == len(committed) == 2


class DocDedupJob(DedupJob):
    def __init__(self, spark, table):
        super().__init__(spark)
        self.table_df = table

    def job(self, gw):
        plan = DedupPlan(self.table_df, pk="id")
        plan.find_duplicates(["fp"])
        plan.merge_column_as("n", "$T + $S")
        return gw.dedup(plan)


def _dup_table(spark):
    return spark.createDataFrame(
        [
            Row(id=1, fp="A", n=1),
            Row(id=2, fp="A", n=2),   # dup of 1
            Row(id=3, fp="B", n=3),
            Row(id=4, fp="B", n=4),   # dup of 3
            Row(id=5, fp="C", n=5),
        ],
        "id int, fp string, n int",
    )


def test_dedup_job_perform_commits(spark):
    out = DocDedupJob(spark, _dup_table(spark)).perform()
    rows = {r.id: r.n for r in out.collect()}
    assert set(rows) == {1, 3, 5}          # survivors (lowest pk)
    assert rows[1] == 3 and rows[3] == 7   # fold template applied


def test_dedup_job_perform_audit_dry_runs(spark):
    table = _dup_table(spark)
    results = DocDedupJob(spark, table).perform_audit()
    assert len(results) == 1
    audit = results[0]
    assert isinstance(audit, DedupAuditResult)
    assert audit.matched == 2              # two duplicate pairs
    assert audit.reflexive_merges == 0 and audit.symmetric_merges == 0
    assert table.count() == 5              # nothing deleted


def test_audit_gateway_accumulates_per_merge(spark):
    """A job with two merges yields two audit results, in order."""

    class TwoMergeJob(ImportJob):
        def __init__(self, spark, source, target):
            super().__init__(spark)
            self.source, self.target = source, target

        def job(self, gw):
            for cols in (["key"], ["name"]):
                mp = MatchPlan(self.source, self.target, target_pk="id", source_id="sid")
                mp.find_exact_matches(cols)
                gw.merge(MergePlan(target_pk="id"), mp.matches(), self.target)

    results = TwoMergeJob(spark, _source(spark), _target(spark)).perform_audit()
    assert len(results) == 2
    assert results[0].per_rule == {1: 1}   # key-only match
    assert results[1].per_rule == {1: 1}   # name-only match


def test_audit_results_survive_cleanup(spark):
    """Pinned order: audit_results are read before clean_up (the spec's
    ensure block) — a gateway whose registry is cleared must still
    return results."""
    gw_holder = {}

    class Probe(AuditGateway):
        def __init__(self, spark):
            super().__init__(spark)
            gw_holder["gw"] = self

    class ProbeJob(ImportJob):
        audit_gateway_class = Probe

        def __init__(self, spark, source, target):
            super().__init__(spark)
            self.source, self.target = source, target

        def job(self, gw):
            gw.register(self.source, "probe_src")
            mp = MatchPlan(self.source, self.target, target_pk="id", source_id="sid")
            mp.find_exact_matches(["key"])
            gw.merge(MergePlan(target_pk="id"), mp.matches(), self.target)

    results = ProbeJob(spark, _source(spark), _target(spark)).perform_audit()
    assert len(results) == 1
    assert gw_holder["gw"]._working == {}  # clean_up ran


# -- prepare once: the audit pass reuses the import pass's frames ------------

CSV_BODY = (
    "sid|key|name\n"
    "1|K1|ALPHA SMITH\n"    # exact rule 1 (key)
    "2||BETA JONEZ\n"       # fuzzy on name
    "3|KX|ZETA\n"           # no match
    "4|K4\n"                # malformed: missing field
)


def _file_inputs(spark, tmp_path):
    csv = tmp_path / "import.csv"
    csv.write_text(CSV_BODY)
    target = str(tmp_path / "target")
    _write_target(spark, target, [(1, "K1", "ALPHA SMITH"), (2, "K2", "BETA JONES")])
    return str(csv), target


def _write_target(spark, path, rows):
    spark.createDataFrame(rows, "id bigint, key string, name string").write.mode(
        "overwrite"
    ).parquet(path)


class CsvImportJob(ImportJob):
    """The benchmark cycle in small: a messy CSV matched exactly and
    fuzzily against a parquet target; the audit pass also profiles the
    file."""

    def __init__(self, spark, csv_path, target_path):
        super().__init__(spark)
        self.csv_path, self.target_path = csv_path, target_path
        self.csv_report = self.matches = None

    def job(self, gw):
        src = CSVSource(self.csv_path, delimiter="|", remove_malformed=True)
        if isinstance(gw, AuditGateway):
            self.csv_report = csv_audit(src, gw.spark, keys=["sid"])
        target = gw.spark.read.parquet(self.target_path)
        mp = MatchPlan(src.read(gw.spark), target, target_pk="id", source_id="sid")
        mp.find_exact_matches(["key"])
        mp.fuzzy_match_column("name")
        self.matches = mp.matches()
        return gw.merge(MergePlan(target_pk="id"), self.matches, target)


def _audit(job):
    return job.perform_audit(), job.csv_report, sorted(map(tuple, job.matches.collect()))


def test_audit_after_perform_equals_standalone_audit(spark, tmp_path):
    csv, target = _file_inputs(spark, tmp_path)
    job = CsvImportJob(spark, csv, target)
    job.perform()
    after = _audit(job)
    alone = _audit(CsvImportJob(spark, csv, target))
    assert after == alone
    results, report, _ = after
    assert results[0].per_rule == {1: 1, 2: 1} and results[0].total == 3
    assert (report.total_count, report.malformed_count) == (3, 1)


@pytest.mark.parametrize("rewrite", ["csv", "target"])
def test_audit_after_perform_sees_rewritten_inputs(spark, tmp_path, rewrite):
    """Rewriting the CSV in place (same path, new length and mtime) or
    the target parquet (new part files) between the two passes makes
    the audit read the new contents."""
    csv, target = _file_inputs(spark, tmp_path)
    job = CsvImportJob(spark, csv, target)
    job.perform()
    before = _audit(CsvImportJob(spark, csv, target))
    if rewrite == "csv":
        with open(csv, "a") as fh:
            fh.write("5|K2|BETA\n6|K1\n")
        os.utime(csv, (1, 1))
    else:
        _write_target(
            spark, target, [(1, "K1", "ALPHA SMITH"), (2, "K2", "BETA JONES"), (3, "KX", "Z")]
        )
    after = _audit(job)
    assert after == _audit(CsvImportJob(spark, csv, target))
    assert after != before
    assert after[0][0].per_rule[1] == 2



def test_memo_keeps_only_the_latest_run(spark, tmp_path):
    """A Job run again on other files holds that run's frames only."""
    csv, target = _file_inputs(spark, tmp_path)
    other = tmp_path / "other.csv"
    other.write_text(CSV_BODY)
    job = CsvImportJob(spark, csv, target)
    job.perform()
    held = sum(map(len, job._prepared.values()))
    job.csv_path = str(other)
    job.perform()
    assert sum(map(len, job._prepared.values())) == held == 3  # sniff, parse, matches

def test_matches_never_served_across_fuzzy_configurations(spark, tmp_path):
    """Inside one Job, matches() with and without the fuzzy round, or
    at another threshold, are different frames; the same configuration
    is handed the same frame."""
    csv, target = _file_inputs(spark, tmp_path)
    seen = {}

    class Probe(ImportJob):
        def job(self, gw):
            mp = MatchPlan(
                CSVSource(csv, delimiter="|", remove_malformed=True).read(gw.spark),
                gw.spark.read.parquet(target),
                target_pk="id",
                source_id="sid",
            )
            mp.find_exact_matches(["key"])
            mp.fuzzy_match_column("name")
            seen["fuzzy"] = mp.matches()
            fuzzy_columns, mp.fuzzy_columns = mp.fuzzy_columns, []
            seen["exact"] = mp.matches()
            mp.fuzzy_columns = fuzzy_columns
            seen["again"] = mp.matches()
            mp.fuzzy_threshold = 0.01  # a distance: nothing this close
            seen["strict"] = mp.matches()

    Probe(spark).perform()
    got = {k: {r.sid: r._target_id for r in df.collect()} for k, df in seen.items()}
    assert seen["again"] is seen["fuzzy"]
    assert got["fuzzy"] == {"1": 1, "2": 2, "3": None}
    assert got["exact"] == got["strict"] == {"1": 1, "2": None, "3": None}


class VoterFileJob(ImportJob):
    """The benchmark cycle's import job, staged and matched as there,
    on its generated inputs: 300 rows and 30 malformed lines of Latin-1
    CSV against 1,200 voters."""

    def __init__(self, spark, inputs):
        super().__init__(spark)
        self.inputs = inputs

    def job(self, gw):
        src = CSVSource(
            str(self.inputs / "import.csv"),
            delimiter="|",
            encoding="ISO-8859-1",
            remove_malformed=True,
        )
        if isinstance(gw, AuditGateway):
            csv_audit(src, gw.spark, keys=["voterid"])
        staged = (
            WorkingFrame(src.read(gw.spark))
            .map_column("state_file_id", from_col="state_voter_id")
            .map_column("county_file_id", from_col="voterid")
            .map_column("last_name", as_expr="upper($S)")
            .map_column("residential_address2", from_col="addr2", as_expr="upper($S)")
        ).build()
        target = gw.spark.read.parquet(str(self.inputs / "voters"))
        mp = MatchPlan(staged, target, target_pk="nbec_guid")
        mp.find_exact_matches(["state_file_id"])
        mp.find_exact_matches(["county_file_id", "last_name"])
        mp.fuzzy_match_column("residential_address2")
        return gw.merge(MergePlan(target_pk="nbec_guid"), mp.matches(), target)


def test_audit_after_perform_skips_sniff_and_cascade(spark, tmp_path, count_jobs, monkeypatch):
    """After perform, the audit pass runs no header sniff and builds no
    match cascade, and starts fewer than half the jobs of a standalone
    perform_audit, on the benchmark's voter_import inputs."""
    from perfbench.gen import gen_voter_import

    gen_voter_import(7, tmp_path)
    calls = Counter()
    for cls, name in ((CSVSource, "_parse_first"), (MatchPlan, "cascade")):
        def spy(self, *a, _orig=getattr(cls, name), _name=name):
            calls[_name] += 1
            return _orig(self, *a)

        monkeypatch.setattr(cls, name, spy)
    with count_jobs() as alone:
        alone_results = VoterFileJob(spark, tmp_path).perform_audit()
    job = VoterFileJob(spark, tmp_path)
    job.perform()
    assert calls == {"_parse_first": 2, "cascade": 2}  # one each per pass
    with count_jobs() as after:
        after_results = job.perform_audit()
    assert calls == {"_parse_first": 2, "cascade": 2}
    assert after_results == alone_results
    assert after[0] < alone[0] / 2, (after[0], alone[0])


# -- sketch audit variants (100 TB audit path) ---------------------------------


def test_approx_distinct_by_within_error_bound(spark):
    """HLL++ estimate per group within 3x the configured rsd of the
    exact count on the events fixture. Deterministic: HLL is
    hash-based with order-insensitive register merges, so this is a
    regression test, not a flaky tolerance."""
    from voter_gateway_spark.audit import approx_distinct_by

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    rsd = 0.05
    approx = {
        r.event_type: r.approx_n_user_id
        for r in approx_distinct_by(ev, ["event_type"], "user_id", rsd=rsd).collect()
    }
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for t, n in exact.items():
        assert abs(approx[t] - n) <= 3 * rsd * n, (t, approx[t], n)


def test_approx_quantiles_by_rank_guarantee(spark):
    """Every percentile_approx value satisfies the Greenwald-Khanna
    RANK contract: the returned element's rank interval is within
    eps*n (+1 element of discreteness slack) of the target rank.
    Verified in rank space against the fully sorted per-group values —
    the exact property the audit_sketch_profile envelope boolean
    certifies in value space."""
    import bisect

    from voter_gateway_spark.audit import approx_quantiles_by

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    probs, acc = [0.25, 0.5, 0.9], 1000
    eps = 1.0 / acc
    approx = {
        r.event_type: r.approx_q_value
        for r in approx_quantiles_by(ev, ["event_type"], "value", probs, acc).collect()
    }
    vals = ev.select("event_type", "value").toPandas()
    for t, qs in approx.items():
        v = sorted(vals[vals.event_type == t].value)
        n = len(v)
        for p, q in zip(probs, qs):
            lo = bisect.bisect_left(v, q)   # ranks below q
            hi = bisect.bisect_right(v, q)  # ranks at-or-below q
            target = p * n
            slack = eps * n + 1.0
            assert lo - slack <= target <= hi + slack, (t, p, q, lo, hi, n)


def test_heavy_hitters_no_false_negatives(spark):
    """Every value at >= support frequency must surface (false
    positives allowed, false negatives not — the freq-items sketch
    contract)."""
    from voter_gateway_spark.audit import heavy_hitters

    rows = [("hot",)] * 400 + [("warm",)] * 250 + [(f"cold{i}",) for i in range(350)]
    df = spark.createDataFrame(rows, "v string").repartition(8)
    got = set(heavy_hitters(df, "v", support=0.2))
    assert {"hot", "warm"} <= got


def test_audit_merge_returns_current_target_values(spark):
    """A dry-run merge fills `return_value_to_source` columns from the
    CURRENT target: matched rows get their target row's values (10 and
    20, not the merged 110 and 220), unmatched rows get NULL."""
    target = _target(spark)
    mp = MatchPlan(_source(spark), target, target_pk="id", source_id="sid")
    mp.find_exact_matches(["key"])
    mp.find_exact_matches(["name"])
    matches = mp.matches()
    plan = (
        MergePlan(target_pk="id")
        .merge_column_as("bal", "$T + $S")
        .return_value_to_source("target_bal", "$T.bal")
        .return_value_to_source("matched_id")
    )
    gw = AuditGateway(spark)
    try:
        res = gw.merge(plan, matches, target)
        assert res.target is target
        assert res.source.columns == matches.columns + ["target_bal", "matched_id"]
        got = {r.sid: (r.matched_id, r.target_bal) for r in res.source.collect()}
    finally:
        gw.clean_up()
    assert got == {1: (1, 10), 2: (2, 20), 3: (None, None)}
