"""Swap-sink vs MERGE-sink cost decomposition (r15 VERDICT ask #9).

`stream_upsert_delta` (MERGE INTO with txnAppId/txnVersion idempotence)
is the documented scale path for the streaming upsert family, but
delta-spark cannot EXECUTE in this sandbox (no package, no kernel jar,
no network — SCALING.md "Sinks"), so its throughput cannot be measured
directly. What CAN be measured, apples-to-apples, is the per-batch
cost decomposition both sinks share and the term that separates them:

  batch cost(swap)  = t_match_merge + t_write(FULL registry)  [O(N)]
  batch cost(MERGE) = t_match_merge + t_write(touched rows)   [O(batch)]

This tool replays the streaming FS-admission batch fold (a registry
bootstrapped from the customer table, perturbed arrival batches,
`linkage.fs_matches` + MergePlan per batch: the body that
streaming/linkage_admission.stream_fs_admission runs) as a plain loop
and times, per batch:

  - t_mm:      the match+merge compute alone (noop sink);
  - t_full:    parquet write of the FULL merged registry (swap bound);
  - t_touched: parquet write of only the rows the batch touched
               (inserted + updated — exactly the rows a storage-layer
               MERGE rewrites, modulo file-granularity write
               amplification, which favors neither side here).

Reported per registry size: rows/s under each model. Run at two
registry scales to show the O(N) term growing while the MERGE-modeled
term stays batch-bounded.

Usage: python tools/upsert_merge_decomposition.py [sf_dir] [n_batches] [batch_rows] [registry_mult]
Prints one JSON line.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from voter_gateway_spark.plans.linkage import FieldWeights, fs_matches  # noqa: E402
from voter_gateway_spark.plans.merging import MergePlan  # noqa: E402
from voter_gateway_spark.session import build_spark, ckpt  # noqa: E402
from voter_gateway_spark.sources.fixtures import load_table  # noqa: E402

WORK = Path("/tmp/upsert_merge_decomp")

RULES = [
    [("s_name", "t_name"), ("s_nation", "t_nation")],
    [("s_nation", "t_nation"), ("s_seg", "t_seg"), ("s_bucket", "t_bucket")],
]
GAMMAS = {
    "g_name": ("s_name", "t_name"),
    "g_seg": ("s_seg", "t_seg"),
    "g_bucket": ("s_bucket", "t_bucket"),
}
WEIGHTS = {
    "g_name": FieldWeights(m=0.95, u=0.001),
    "g_seg": FieldWeights(m=0.85, u=0.2),
    "g_bucket": FieldWeights(m=0.8, u=0.09),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    batch_rows = int(sys.argv[3]) if len(sys.argv) > 3 else 500
    mult = int(sys.argv[4]) if len(sys.argv) > 4 else 1
    spark = build_spark(app_name="vgs-merge-decomp")
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(WORK, ignore_errors=True)
    WORK.mkdir(parents=True)

    cust = load_table(spark, sf_dir, "customer")
    if mult > 1:
        # replicate the registry with disjoint key stripes (data-derived
        # offset per the r14 ADVICE fixture rule)
        off = cust.agg(F.max("c_custkey")).collect()[0][0] + 1
        reps = [
            cust.withColumn("c_custkey", F.col("c_custkey") + F.lit(i * off))
            for i in range(mult)
        ]
        base = reps[0]
        for r in reps[1:]:
            base = base.unionByName(r)
        cust = base
    registry = cust.select(
        "c_custkey",
        F.col("c_name").alias("t_name"),
        F.col("c_nationkey").alias("t_nation"),
        F.col("c_mktsegment").alias("t_seg"),
        F.floor(F.col("c_acctbal") / 1000).alias("t_bucket"),
    ).transform(ckpt)
    reg_n = registry.count()
    spark.sparkContext.setJobDescription("merge-decomp: registry bootstrap")

    def matcher(batch, target):
        return fs_matches(
            batch, target, RULES, GAMMAS, WEIGHTS,
            threshold=2.0, source_id="_fs_src_id", target_pk="c_custkey",
        )

    plan = MergePlan(target_pk="c_custkey")
    keys = [r["c_custkey"] for r in registry.select("c_custkey").limit(
        n_batches * batch_rows).collect()]
    out = {"sf_dir": sf_dir, "registry_rows": reg_n, "mult": mult,
           "n_batches": n_batches, "batch_rows": batch_rows, "batches": []}
    t_mm_tot = t_full_tot = t_touch_tot = 0.0
    for b in range(n_batches):
        stripe = keys[b * batch_rows:(b + 1) * batch_rows]
        # perturbed arrivals: ~60% match (same name/nation), rest insert
        batch = (
            registry.where(F.col("c_custkey").isin(stripe))
            .select(
                F.col("c_custkey").alias("_fs_src_id"),
                F.col("t_name").alias("s_name"),
                F.col("t_nation").alias("s_nation"),
                F.when(F.col("c_custkey") % 5 < 3, F.col("t_seg"))
                .otherwise(F.lit("PERTURBED")).alias("s_seg"),
                F.col("t_bucket").alias("s_bucket"),
            )
            .transform(ckpt)
        )
        spark.sparkContext.setJobDescription(f"merge-decomp: batch {b} match+merge")
        t0 = time.time()
        matches = matcher(batch, registry)
        merged = plan.execute(matches, registry).target.transform(ckpt)
        t_mm = time.time() - t0
        # swap-sink bound: rewrite the FULL registry
        spark.sparkContext.setJobDescription(f"merge-decomp: batch {b} full rewrite")
        t0 = time.time()
        merged.write.mode("overwrite").parquet(str(WORK / f"full_{b}"))
        t_full = time.time() - t0
        # MERGE-body bound: write only the touched rows (updated+inserted)
        spark.sparkContext.setJobDescription(f"merge-decomp: batch {b} touched write")
        touched_keys = matches.select(
            F.col("_target_id").alias("c_custkey")).where(
            F.col("c_custkey").isNotNull()).distinct()
        touched = merged.join(touched_keys, "c_custkey", "left_semi").unionByName(
            merged.join(registry.select("c_custkey"), "c_custkey", "left_anti")
        )
        t0 = time.time()
        touched.write.mode("overwrite").parquet(str(WORK / f"touched_{b}"))
        t_touch = time.time() - t0
        registry = merged
        t_mm_tot += t_mm
        t_full_tot += t_full
        t_touch_tot += t_touch
        out["batches"].append(
            {"b": b, "t_match_merge": round(t_mm, 3),
             "t_full_write": round(t_full, 3),
             "t_touched_write": round(t_touch, 3)}
        )
    rows = n_batches * batch_rows
    out["rows_total"] = rows
    out["swap_model_rows_per_s"] = round(rows / (t_mm_tot + t_full_tot), 1)
    out["merge_model_rows_per_s"] = round(rows / (t_mm_tot + t_touch_tot), 1)
    out["full_write_share"] = round(t_full_tot / (t_mm_tot + t_full_tot), 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
