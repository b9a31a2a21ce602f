"""Benchmark harness: runs the headline query set at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from perfbench.spans import SparkCounters  # noqa: E402
from voter_gateway_spark.queries import QUERIES  # noqa: E402
from voter_gateway_spark.session import build_spark  # noqa: E402

# The r1 driver baseline: the 16 queries bench.py measured in round 1
# and their recorded total (BENCH_r01.json, sf0.1). The operative
# perf bar is 2.0x of this total; r10->r11 showed the single-trial
# wall drifting 1.47x -> 1.81x on byte-identical plans (shared-box
# noise), so the ratio is computed and published IN the artifact from
# best-of-N trials rather than eyeballed across rounds.
R1_BASELINE_TOTAL = 11.223
R1_BASELINE_QUERIES = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "audit_coverage_customer",
    "match_cascade_orders_customers",
    "merge_upsert_customers",
    "dedup_documents_lang_source",
    "fuzzy_top1_documents",
    "text_token_stats",
    "text_langid",
    "text_fingerprint",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "embed_topk_cosine",
    "events_hourly",
    "events_sessionized",
]

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "audit_coverage_customer",
    "match_cascade_orders_customers",
    "merge_upsert_customers",
    "dedup_documents_lang_source",
    "fuzzy_top1_documents",
    "text_token_stats",
    "text_langid",
    "text_fingerprint",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "embed_topk_cosine",
    "events_hourly",
    "events_sessionized",
    # r2 operator families (VERDICT r2 item 5: regressions in new code
    # must show up in wall-clock, not just plan-shape tests)
    "scd2_customers",
    "asof_order_revenue_events",
    "interval_join_events_windows",
    "dedup_incremental_batch",
    "pack_sequences_documents",
    # r3 families: CDC fold, tf-idf, funnel, span contamination,
    # quota admission
    "cdc_apply_orders",
    "text_tfidf_top_terms",
    "events_funnel",
    "contamination_span_pairs",
    "events_value_cap",
    # r4 families: oracle-checked Lloyd IVF, two-phase training shuffle
    "embed_ivf_lloyd_topk",
    # auto-√N cell count — the scale form; the fixed-16 Lloyd above is
    # the oracle-pinned correctness form and goes quadratic by design
    # when |Q| grows with N (skip it at big replicas via
    # SPARK_GRAFT_BENCH_SKIP)
    "embed_ivf_auto_topk",
    "docs_training_shuffle",
    # corpus-frequency boilerplate removal (segment dedup + reassembly)
    "text_boilerplate_scrub",
    # SemDeDup cluster-blocked semantic dedup over embeddings
    "embed_semantic_dedup",
    # r6: substring-span scrub — the pair-free span-level dedup; its
    # whole point is the flat decade curve (3.5/3.7/12.6 s at
    # sf0.1/10x/100x measured at introduction), so it stays in the
    # bench to keep that shape pinned
    "dedup_substring_scrub",
    # r7: bloom-prefiltered exact admission — steady-state dedup
    # ingestion; tracked so the probe/verify split stays cheap
    "dedup_bloom_admission",
    # r9: trigram Stupid-Backoff LM scoring (the CCNet-ladder rung —
    # three count joins over one shared scan) and the two-batch
    # daily-ingest composite (bloom admission → band probe →
    # incremental components → split refresh; the steady-state path
    # whose batch-sized-shuffle claim the decade runs check)
    "text_trigram_logprob",
    "pipeline_daily_ingest",
    # r10: paragraph-granularity exact dedup (the Dolma middle
    # granularity between whole-doc dedup and substring scrub) and
    # the perplexity-gated curation composite (gopher -> trigram-LM
    # floor -> encoding -> exact+near dedup, per-source attrition)
    "dedup_paragraph_scrub",
    "pipeline_quality_gate",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # retain enough job and stage history that per-query deltas never
    # lose one to eviction mid-snapshot (both default to 1000; the
    # counters read jobs by id, then each job's stages)
    spark = build_spark(
        app_name="vgs-bench",
        extra_conf={
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # JVM + codegen warmup so per-query numbers measure the plan, not
    # first-job class loading
    QUERIES["q1_pricing_summary"](spark, sf_dir).count()

    # best-of-N per query: this box shows multi-second scheduler noise
    # spikes; the min is the reproducible engine cost. Default 3 (r11
    # verdict ask #5: best-of-2 left a 15% wall swing on byte-identical
    # plans — one extra trial costs ~1 min at sf0.1 and tightens the
    # gate the 2.0x bar is judged on).
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # SPARK_GRAFT_BENCH_SKIP: comma-separated queries to exclude — used
    # by the 100x decade run to drop the brute-force cosine baseline,
    # whose O(queries x corpus) contract is quadratic BY DESIGN (25B
    # pairs at 100x; the scale paths are the IVF/LSH/int8 variants)
    skip = set(
        s for s in os.environ.get("SPARK_GRAFT_BENCH_SKIP", "").split(",") if s
    )
    timings: dict[str, float] = {}
    trial_sec: dict[str, list[float]] = {}
    shuffle_bytes: dict[str, int] = {}
    spill_bytes: dict[str, int] = {}
    # per-query shuffle and spill byte deltas: the 100 TB story is
    # shuffle-volume-shaped, and a byte delta makes a quadratic visible
    # even when wall-clock noise hides it
    counters = SparkCounters(spark)
    for name in BENCH_QUERIES:
        if name in skip:
            continue
        best = float("inf")
        trials: list[float] = []
        for _ in range(runs):
            before = counters.snapshot()
            t0 = time.time()
            # the noop v2 sink forces FULL evaluation of every column.
            # count() (used through r3) lets Catalyst eliminate any
            # operator that can't change row multiplicity — final
            # windows (asof, pack_sequences, funnel, training_shuffle)
            # and unique-key joins dropped out of those timings, so
            # r4+ numbers are honest but slightly higher than r1-r3's
            # on the same plans
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            elapsed = time.time() - t0
            after = counters.snapshot()
            trials.append(round(elapsed, 3))
            if elapsed < best:
                best = elapsed
                # shuffle volume = bytes WRITTEN to shuffle (each byte
                # counted once); spill = bytes that actually hit disk
                shuffle_bytes[name] = (
                    after["shuffle_write_bytes"] - before["shuffle_write_bytes"]
                )
                spill_bytes[name] = after["spill_bytes"] - before["spill_bytes"]
        timings[name] = round(best, 3)
        trial_sec[name] = trials
        # eager localCheckpoints pin block-manager memory until the
        # async ContextCleaner reclaims them; across a 28-query session
        # that backlog inflates later queries' GC time, so nudge the
        # cleaner between queries to keep per-query numbers independent
        spark.sparkContext._jvm.System.gc()

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "runs_per_query": runs,
    }
    # publish the perf-bar ratio in the artifact itself: best-of-N
    # total over the r1-comparable 16-query subset / the r1 baseline.
    # Only meaningful at the baseline's scale factor and with the full
    # subset measured (decade runs skip queries).
    if out["sf"] == 0.1 and all(q in timings for q in R1_BASELINE_QUERIES):
        r1_sub = round(sum(timings[q] for q in R1_BASELINE_QUERIES), 3)
        out["r1_comparable_sec"] = r1_sub
        out["r1_ratio"] = round(r1_sub / R1_BASELINE_TOTAL, 3)
    if shuffle_bytes:
        # totals stay in the summary line (2 short ints); the per-query
        # byte maps go to a side file — the driver captures only the
        # LAST 2000 chars of stdout and parses the final line, and the
        # full byte maps pushed the wall-clock numbers out of that
        # window in r6/r7 (BENCH_r0{6,7}.json "parsed": null).
        # SCALING.md's decade tables read the maps from the detail file.
        out["shuffle_bytes_total"] = sum(shuffle_bytes.values())
        out["spill_bytes_total"] = sum(spill_bytes.values())
        detail = {
            "sf": out["sf"],
            "shuffle_bytes": shuffle_bytes,
            "spill_bytes": spill_bytes,
            # every trial's wall time, so a noisy round is diagnosable
            # from the artifact (which trial spiked) instead of only
            # from a rerun
            "trial_sec": trial_sec,
        }
        detail_path = os.environ.get(
            "SPARK_GRAFT_BENCH_DETAIL",
            str(Path(__file__).resolve().parent / "BENCH_detail.json"),
        )
        try:
            with open(detail_path, "w") as fh:
                json.dump(detail, fh)
        except OSError:
            pass  # detail is best-effort; the summary line must print
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
