"""The three benchmark workloads.

Each workload drives the program only through its public API, from the
generated inputs, and exposes:

- ``op()``: one operation, returning its wall time (a nightly import
  cycle, one stream batch, one ingest day);
- ``check_op()`` / ``check_end()``: output checks, run outside the
  timed section, returning the number of operations that failed them;
- ``per_op``: the per-layer counts and ratios of each traced operation;
- ``end_to_end(times)``: the workload's wall-time metrics under their
  own names, from the untraced operation times.

With the tracer active, every call into a layer runs inside a span and
is materialized at the layer boundary (Spark is lazy), so a span holds
that layer's own work.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from voter_gateway_spark.audit import csv_audit, dedup_audit
from voter_gateway_spark.jobs import AuditGateway, DedupJob, ExecuteGateway, ImportJob
from voter_gateway_spark.operators import dedup_ops
from voter_gateway_spark.plans import MatchPlan, MergePlan, WorkingFrame
from voter_gateway_spark.plans.dedup import DedupPlan
from voter_gateway_spark.plans.matching import TARGET_ID
from voter_gateway_spark.session import ckpt, ckpt_defer, ckpt_lazy, ckpt_parallel
from voter_gateway_spark.sources import CSVSource
from voter_gateway_spark.streaming.upsert_sink import bootstrap_target, stream_upsert_parquet

import stats
from spans import Tracer

PK = "nbec_guid"
EXACT_RULES = [["state_file_id"], ["county_file_id", "last_name"]]


def materialize(df: DataFrame) -> DataFrame:
    """Compute a frame once at a layer boundary; later layers reuse it."""
    df = df.cache()
    df.count()
    return df


def voter_merge_plan(cls=MergePlan) -> MergePlan:
    """The FIXTURES section 6 routing: identity columns are never
    rewritten by an import, only filled on insert."""
    return (
        cls(target_pk=PK)
        .exclude_column("residential_zip4")
        .preserve_column("county_file_id", "first_name", "last_name", "born_at")
        .merge_column_as("residential_zip5", "coalesce($S, $T)")
        .insert_column_as("middle_name", "coalesce($S, 'UNKNOWN')")
    )


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class Workload:
    # untimed operations before the timed loop
    warmup_ops = 0
    # whether the first timed operation still pays one-off JIT and code
    # generation costs (a traced run then discards one more)
    cold_first_op = False

    def __init__(self, spark, inputs: Path, work: Path, truth: dict, tracer: Tracer):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.truth = truth
        self.tracer = tracer
        self.count = 0
        self.rows = 0
        self.extra: dict[str, list[float]] = {}
        self.per_op: list[dict[str, float]] = []

    def note(self, **values: float) -> None:
        """Record a per-layer count of the current traced operation."""
        if self.tracer.active:
            self.per_op[-1].update(values)

    def begin_op(self) -> None:
        if self.tracer.active:
            self.per_op.append({})

    def release(self) -> None:
        """Between operations, outside the timed section: drop cached
        frames and let the JVM reclaim checkpoint blocks, so every
        operation starts from the same memory state."""
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()

    def close(self) -> None:
        pass


# -- voter_import -------------------------------------------------------------


class _TracedExecute(ExecuteGateway):
    tracer: Tracer

    def merge(self, plan, matches, target):
        with self.tracer.span("plans.merging.execute"):
            res = super().merge(plan, matches, target)
            if self.tracer.active:
                res.target = materialize(res.target)
        return res

    def dedup(self, plan, check: bool = True):
        with self.tracer.span("plans.dedup.execute"):
            out = super().dedup(plan, check)
            if self.tracer.active:
                out = materialize(out)
        return out


class _TracedAudit(AuditGateway):
    tracer: Tracer

    def merge(self, plan, matches, target):
        with self.tracer.span("audit.merge_audit"):
            return super().merge(plan, matches, target)


class VoterImportJob(ImportJob):
    """The README quickstart on the FIXTURES section 6 scenario: messy
    CSV, staging, exact cascade + fuzzy round, upsert, target write. In
    audit mode it also profiles the file."""

    def __init__(self, spark, wl: "VoterImport", out: Path):
        super().__init__(spark)
        self.wl = wl
        self.out = out
        self.csv_report = None
        self.matches = None
        tr = wl.tracer
        self.gateway_class = type("Gw", (_TracedExecute,), {"tracer": tr})
        self.audit_gateway_class = type("AuditGw", (_TracedAudit,), {"tracer": tr})

    def job(self, gw):
        tr, wl = self.wl.tracer, self.wl
        src = CSVSource(
            str(wl.inputs / "import.csv"),
            delimiter="|",
            quote="^",
            encoding="ISO-8859-1",
            remove_malformed=True,
        )
        if isinstance(gw, AuditGateway):
            with tr.span("audit.csv_audit"):
                self.csv_report = csv_audit(src, gw.spark, keys=["voterid"])
        with tr.span("sources.read"):
            raw = src.read(gw.spark)
            if tr.active:
                wl.note(**{"sources.rows": raw.count(), "sources.malformed_rows": src.malformed_count()})
        with tr.span("plans.staging.build"):
            staged = (
                WorkingFrame(raw)
                .map_column("state_file_id", from_col="state_voter_id")
                .map_column("county_file_id", from_col="voterid")
                .map_column(PK, from_col="voterid", as_expr="concat('N-', $S)")
                .map_column("first_name", as_expr="upper($S)")
                .map_column("middle_name", as_expr="upper($S)")
                .map_column("last_name", as_expr="upper($S)")
                .map_column("phone")
                .map_column("email", as_expr="lower($S)")
                .map_column("born_at", from_col="dob", type="DATE", safe=True)
                .map_column("gender")
                .map_column("party")
                .map_column("registered_at", from_col="reg_date", type="DATE", safe=True)
                .map_column("residential_address1", from_col="addr1")
                .map_column("residential_address2", from_col="addr2", as_expr="upper($S)")
                .map_column("residential_zip5", from_col="zip5")
                .map_column("residential_zip4", from_col="zip4")
                .constrain_column("last_name", "$S IS NOT NULL")
            ).build()
            if tr.active:
                staged = materialize(staged)
        target = gw.spark.read.parquet(str(wl.inputs / "voters"))
        mp = MatchPlan(staged, target, target_pk=PK)
        for cols in EXACT_RULES:
            mp.find_exact_matches(cols)
        mp.fuzzy_match_column("residential_address2")
        if tr.active:
            matches = self._traced_matches(mp, staged.count())
        else:
            matches = mp.matches()
        self.matches = matches
        result = gw.merge(voter_merge_plan(), matches, target)
        if not isinstance(gw, AuditGateway):
            with tr.span("sinks.write"):
                result.target.write.mode("overwrite").parquet(str(self.out))
            csv_bytes = (wl.inputs / "import.csv").stat().st_size
            wl.note(**{"sinks.bytes_written_per_input_byte": _dir_bytes(self.out) / csv_bytes})
        return result

    def _traced_matches(self, mp: MatchPlan, n_source: int) -> DataFrame:
        """The exact cascade and the fuzzy round as separate spans:
        MatchPlan.matches() is the exact cascade followed by
        _with_fuzzy_rounds, so run them one at a time."""
        tr, wl = self.wl.tracer, self.wl
        fuzzy_columns, mp.fuzzy_columns = mp.fuzzy_columns, []
        with tr.span("plans.matching.exact"):
            exact = materialize(mp.matches())
        mp.fuzzy_columns = fuzzy_columns
        with tr.span("operators.fuzzy.rounds"):
            matches = materialize(mp._with_fuzzy_rounds(exact))
        ws = mp.working_source().alias("s")
        pairs = sum(
            ws.join(mp.target.alias("t"), rule.condition()).count() for rule in mp.rules
        )
        n_exact = exact.where(F.col(TARGET_ID).isNotNull()).count()
        n_all = matches.where(F.col(TARGET_ID).isNotNull()).count()
        residual = n_source - n_exact
        wl.note(
            **{
                "plans.matching.candidate_pairs": pairs,
                "plans.matching.match_ratio": n_all / n_source,
                "operators.fuzzy.useful_ratio": (n_all - n_exact) / residual if residual else 0.0,
                "plans.merging.updated": n_all,
                "plans.merging.inserted": n_source - n_all,
            }
        )
        return matches


class VoterDedupJob(DedupJob):
    def __init__(self, spark, wl: "VoterImport", table: Path, out: Path):
        super().__init__(spark)
        self.wl = wl
        self.table = table
        self.out = out
        self.gateway_class = type("Gw", (_TracedExecute,), {"tracer": wl.tracer})

    def job(self, gw):
        plan = DedupPlan(gw.spark.read.parquet(str(self.table)), pk=PK)
        plan.find_duplicates(["first_name", "last_name", "born_at"])
        plan.merge_column_as("phone", "coalesce($T, $S)")
        plan.merge_column_as("email", "coalesce($T, $S)")
        deduped = gw.dedup(plan)
        with self.wl.tracer.span("sinks.write"):
            deduped.write.mode("overwrite").parquet(str(self.out))
        if self.wl.tracer.active:
            audit = dedup_audit(plan)
            self.wl.note(
                **{
                    "plans.dedup.dup_pairs": audit.matched,
                    "plans.dedup.invariant_violations": audit.reflexive_merges + audit.symmetric_merges,
                }
            )


class VoterImport(Workload):
    """One operation is the nightly cycle: ImportJob.perform (with the
    target write), perform_audit on the same file, and a DedupJob over
    the merged table."""

    ops_per_cycle = 3
    # a nightly import runs once in a fresh session: its first cycle is
    # the one users wait for, so none is discarded
    warmup_ops = 0
    cold_first_op = True

    def op(self) -> float:
        self.begin_op()
        tr = self.tracer
        out = self.work / f"cycle-{self.count}"
        self.count += 1
        job = VoterImportJob(self.spark, self, out / "merged")
        t0 = time.perf_counter()
        with tr.span("jobs.import"):
            job.perform()
        t1 = time.perf_counter()
        with tr.span("jobs.audit"):
            audits = job.perform_audit()
        t2 = time.perf_counter()
        dedup = VoterDedupJob(self.spark, self, out / "merged", out / "deduped")
        with tr.span("jobs.dedup"):
            dedup.perform()
        t3 = time.perf_counter()
        if not tr.active:
            self.rows += self.truth["csv_rows"]
            self.extra.setdefault("import_s", []).append(t1 - t0)
            self.extra.setdefault("audit_s", []).append(t2 - t1)
        self._last = (job, audits, out, None if tr.active else t3 - t2)
        return t3 - t0

    def check_op(self) -> int:
        """Failed operations of the last cycle (import, audit, dedup)."""
        job, audits, out, dedup_s = self._last
        t = self.truth
        audit = audits[0]
        report = job.csv_report
        audit_ok = (
            audit.total == t["csv_rows"]
            and audit.per_rule.get(1) == t["exact_rule1"]
            and audit.per_rule.get(2) == t["exact_rule2"]
            and report.malformed_count == t["malformed_rows"]
            and report.total_count == t["csv_rows"]
        )
        matches = job.matches
        claimed_twice = (
            matches.where(F.col(TARGET_ID).isNotNull())
            .groupBy(TARGET_ID)
            .count()
            .where("count > 1")
            .count()
        )
        merged = self.spark.read.parquet(str(out / "merged")).count()
        inserts = audit.total - audit.matched
        import_ok = claimed_twice == 0 and merged == t["target_rows"] + inserts
        deduped = self.spark.read.parquet(str(out / "deduped")).count()
        dedup_ok = deduped == merged - t["cluster_dup_rows"]
        if dedup_s is not None:
            self.extra.setdefault("dedup_rows_per_s", []).append(merged / dedup_s)
        shutil.rmtree(out, ignore_errors=True)
        if not (import_ok and audit_ok and dedup_ok):
            print(
                f"perfbench: check failed: audit total={audit.total} per_rule={audit.per_rule} "
                f"malformed={report.malformed_count} valid={report.total_count} "
                f"claimed_twice={claimed_twice} merged={merged} deduped={deduped} truth={t}",
                file=sys.stderr,
            )
        return (not import_ok) + (not audit_ok) + (not dedup_ok)

    def rows_per_s(self) -> float:
        return self.rows / sum(self.extra["import_s"])

    def end_to_end(self, times: list[float]) -> dict:
        return {
            "import_rows_per_s": {"value": self.rows_per_s(), "unit": "rows/s"},
            "audit_s": {"value": stats.median(self.extra["audit_s"]), "unit": "s"},
            "dedup_rows_per_s": {"value": stats.median(self.extra["dedup_rows_per_s"]), "unit": "rows/s"},
        }


# -- voter_stream -------------------------------------------------------------


class VoterStream(Workload):
    """One closed-loop client, one query: drop a batch file into the
    stream's input directory, wait in processAllAvailable, repeat."""

    ops_per_cycle = 1
    # a long-running query: the steady state is what matters
    warmup_ops = 1

    def __init__(self, *a):
        super().__init__(*a)
        self.target_dir = self.work / "target"
        self.input_dir = self.work / "arrivals"
        self.input_dir.mkdir(parents=True)
        bootstrap_target(
            self.spark, str(self.target_dir), self.spark.read.parquet(str(self.inputs / "voters"))
        )
        schema = self.spark.read.parquet(str(self.inputs / "voters")).schema
        stream = self.spark.readStream.schema(schema).parquet(str(self.input_dir))
        if self.tracer.counters is not None:  # a traced run: hooks around the sink's layers
            kwargs = {"matcher": self._matcher, "merge_plan": voter_merge_plan(self._traced_plan())}
            self._patch_writer()
        else:
            kwargs = {"merge_plan": voter_merge_plan()}
        self.query = stream_upsert_parquet(
            stream,
            str(self.target_dir),
            pk=PK,
            match_columns=EXACT_RULES,
            checkpoint_dir=str(self.work / "checkpoint"),
            **kwargs,
        ).start()
        self.dropped: list[Path] = []

    _unpatch = None

    def _matcher(self, batch: DataFrame, target: DataFrame) -> DataFrame:
        """The sink's built-in matching step, inside a span."""
        tr = self.tracer
        with tr.span("plans.matching.exact"):
            mp = MatchPlan(batch, target, target_pk=PK)
            for cols in EXACT_RULES:
                mp.find_exact_matches(cols)
            matches = mp.matches()
            if tr.active:
                matches = materialize(matches)
        if tr.active:
            n = batch.count()
            matched = matches.where(F.col(TARGET_ID).isNotNull()).count()
            self.note(
                **{
                    "plans.matching.match_ratio": matched / n,
                    "plans.merging.updated": matched,
                    "plans.merging.inserted": n - matched,
                }
            )
        return matches

    def _traced_plan(self):
        tracer = self.tracer

        class TracedMergePlan(MergePlan):
            def execute(self, matches, target):
                with tracer.span("plans.merging.execute"):
                    res = super().execute(matches, target)
                    if tracer.active:
                        res.target = materialize(res.target)
                return res

        return TracedMergePlan

    def _patch_writer(self) -> None:
        """Span every parquet write: the swap sink's version write."""
        tracer = self.tracer
        original = DataFrameWriter.parquet

        def parquet(writer, path, *a, **kw):
            with tracer.span("sinks.write"):
                return original(writer, path, *a, **kw)

        DataFrameWriter.parquet = parquet
        self._unpatch = lambda: setattr(DataFrameWriter, "parquet", original)

    def op(self) -> float:
        k = self.count
        src = self.inputs / "batches" / f"batch-{k:04d}.parquet"
        if not src.exists():
            raise RuntimeError(f"stream inputs exhausted after {k} batches")
        self.begin_op()
        self.count += 1
        dst = self.input_dir / src.name
        in_bytes = src.stat().st_size
        with self.tracer.span("streaming.upsert_sink.batch"):
            t0 = time.perf_counter()
            os.rename(src, dst)
            os.utime(dst)
            self.query.processAllAvailable()
            dt = time.perf_counter() - t0
        self.dropped.append(dst)
        if not self.tracer.active:
            self.rows += self.truth["batch_rows"]
        self.note(**{"sinks.bytes_written_per_input_byte": _dir_bytes(self.target_dir) / in_bytes})
        return dt

    def check_op(self) -> int:
        return 0 if self.query.exception() is None else 1

    def check_end(self) -> int:
        """The streamed target must equal one bulk MergePlan of every
        dropped batch against the initial target (no target is updated
        twice and inserts carry fresh keys, so order cannot matter)."""
        self.query.stop()
        initial = self.spark.read.parquet(str(self.inputs / "voters"))
        arrived = self.spark.read.parquet(*[str(p) for p in self.dropped])
        mp = MatchPlan(arrived, initial, target_pk=PK)
        for cols in EXACT_RULES:
            mp.find_exact_matches(cols)
        bulk = voter_merge_plan().execute(mp.matches(), initial).target
        streamed = self.spark.read.parquet(str(self.target_dir))
        same = (
            streamed.count() == bulk.count()
            and streamed.exceptAll(bulk).limit(1).count() == 0
            and bulk.exceptAll(streamed).limit(1).count() == 0
        )
        return 0 if same else len(self.dropped)

    def rows_per_s(self) -> float:
        return self.rows / self.busy_s

    def end_to_end(self, times: list[float]) -> dict:
        tail = stats.tail(times)
        return {
            "stream_batch_p50_s": {"value": stats.median(times), "unit": "s"},
            # null below 11 batches: no percentile has 10 samples beyond it
            "stream_batch_tail_s": {
                "value": tail and tail[1],
                "unit": "s",
                "percentile": tail and tail[0],
                "samples": len(times),
            },
            "stream_rows_per_s": {"value": self.rows_per_s(), "unit": "rows/s"},
        }

    def close(self) -> None:
        if self.query.isActive:
            self.query.stop()
        if self._unpatch:
            self._unpatch()


# -- corpus_daily -------------------------------------------------------------

MINHASH = dict(k=3, n_hashes=16, bands=4, threshold=0.1)
DOC_COLS = ["doc_id", "text", "lang"]


class CorpusDaily(Workload):
    """The daily near-dup ingest of queries.pipeline_daily_ingest with a
    fixed batch size: bloom admission, batch-vs-corpus band probe,
    batch-internal pairs, incremental component assignment and the
    checkpointed state handoff to the next day."""

    ops_per_cycle = 1
    # building the genesis state runs the same operators cold, so the
    # first day already reads like the steady state
    warmup_ops = 0

    def __init__(self, *a):
        super().__init__(*a)
        t = self.truth
        total = t["genesis_docs"] + t["days"] * t["day_docs"]
        self.bloom_bits = dedup_ops._next_pow2(int(total * 9.6))
        docs = self.spark.read.parquet(str(self.inputs / "genesis.parquet")).select(*DOC_COLS)
        state_docs = ckpt_lazy(docs)
        pairs = dedup_ops.minhash_lsh_pairs(state_docs, "doc_id", "text", **MINHASH)
        self.state_map, self.state_docs = ckpt_parallel(
            [self._labelled(state_docs, pairs), state_docs]
        )
        self.admitted_counts: list[tuple[int, int]] = []

    @staticmethod
    def _labelled(docs: DataFrame, pairs: DataFrame) -> DataFrame:
        """(id, component) for every doc, singletons labelled by themselves."""
        comp = dedup_ops.connected_components(pairs).withColumnRenamed("id", "doc_id")
        return (
            docs.select("doc_id")
            .join(comp, "doc_id", "left")
            .select(
                F.col("doc_id").alias("id"),
                F.coalesce("component", F.col("doc_id")).alias("component"),
            )
        )

    def op(self) -> float:
        k = self.count
        path = self.inputs / "days" / f"day-{k:04d}.parquet"
        if not path.exists():
            raise RuntimeError(f"corpus days exhausted after {k} days")
        self.begin_op()
        self.count += 1
        batch = self.spark.read.parquet(str(path)).select(*DOC_COLS)
        t0 = time.perf_counter()
        if self.tracer.active:
            admitted = self._traced_day(batch)
        else:
            admitted = self._day(batch)
        dt = time.perf_counter() - t0
        if not self.tracer.active:
            self.rows += self.truth["day_docs"]
        self.admitted_counts.append((k, admitted.count()))
        self.note(**{"dedup_ops.admitted_ratio": self.admitted_counts[-1][1] / self.truth["day_docs"]})
        return dt

    def _day(self, batch: DataFrame) -> DataFrame:
        state_docs, state_map = self.state_docs, self.state_map
        with ckpt_defer():
            admitted = ckpt_lazy(
                dedup_ops.bloom_admission(
                    state_docs, batch, "doc_id", "text", n_bits=self.bloom_bits
                )
            )
            bp = dedup_ops.incremental_minhash_pairs(
                admitted, state_docs, "doc_id", "text", expand_corpus=False, **MINHASH
            ).select("new_id", "corpus_id")
            nn = dedup_ops.minhash_lsh_pairs(admitted, "doc_id", "text", **MINHASH).select(
                "id_a", "id_b"
            )
        self.state_map, self.state_docs = ckpt_parallel(
            [
                dedup_ops.incremental_component_assign(
                    state_map.select("id", "component"), admitted.select("doc_id"), bp, nn
                ),
                state_docs.unionByName(admitted.select(*DOC_COLS)),
            ]
        )
        return admitted

    def _traced_day(self, batch: DataFrame) -> DataFrame:
        tr = self.tracer
        state_docs, state_map = self.state_docs, self.state_map
        with tr.span("corpus.day"):
            with tr.span("dedup_ops.bloom_admission"):
                admitted = ckpt(
                    dedup_ops.bloom_admission(
                        state_docs, batch, "doc_id", "text", n_bits=self.bloom_bits
                    )
                )
            with tr.span("dedup_ops.band_probe"):
                bp = ckpt(
                    dedup_ops.incremental_minhash_pairs(
                        admitted, state_docs, "doc_id", "text", expand_corpus=False, **MINHASH
                    ).select("new_id", "corpus_id")
                )
            with tr.span("dedup_ops.batch_pairs"):
                nn = ckpt(
                    dedup_ops.minhash_lsh_pairs(admitted, "doc_id", "text", **MINHASH).select(
                        "id_a", "id_b"
                    )
                )
            with tr.span("dedup_ops.component_assign"):
                new_map = ckpt(
                    dedup_ops.incremental_component_assign(
                        state_map.select("id", "component"), admitted.select("doc_id"), bp, nn
                    )
                )
            with tr.span("session.handoff"):
                self.state_map, self.state_docs = ckpt_parallel(
                    [new_map, state_docs.unionByName(admitted.select(*DOC_COLS))]
                )
        return admitted

    def check_op(self) -> int:
        k, admitted = self.admitted_counts[-1]
        expected = self.truth["day_docs"] - self.truth["exact_dup_docs"][k]
        return 0 if admitted == expected else 1

    def check_end(self) -> int:
        """The incrementally kept cluster map must equal a from-scratch
        minhash_lsh_pairs + connected_components pass over the final
        corpus."""
        docs = self.state_docs
        pairs = dedup_ops.minhash_lsh_pairs(docs, "doc_id", "text", **MINHASH)
        scratch = self._labelled(docs, pairs)
        kept = self.state_map.select("id", "component")
        same = (
            kept.count() == scratch.count()
            and kept.exceptAll(scratch).limit(1).count() == 0
            and scratch.exceptAll(kept).limit(1).count() == 0
        )
        return 0 if same else self.count

    def rows_per_s(self) -> float:
        return self.rows / self.busy_s

    def end_to_end(self, times: list[float]) -> dict:
        return {
            "day_p50_s": {"value": stats.median(times), "unit": "s"},
            "corpus_docs_per_s": {"value": self.rows_per_s(), "unit": "docs/s"},
        }


WORKLOADS = {
    "voter_import": VoterImport,
    "voter_stream": VoterStream,
    "corpus_daily": CorpusDaily,
}
