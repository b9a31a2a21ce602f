"""Per-stage decade measurement of the daily-ingest runbook
(SCALING.md "Daily-ingest runbook"; composite: queries.pipeline_daily_ingest).

The runbook's core claim is that the steady-state DAILY cost is
O(|batch|), not O(|corpus|): once the one-time state exists (bloom
word table when the corpus is over the broadcast threshold, persisted
band index, settled cluster map), each arriving day pays only an exact
admission (a broadcast anti-join while the corpus texts fit Spark's
broadcast threshold, else a broadcast bloom probe — the
`admission_path` field says which ran), a partition-pruned band-index
probe, batch-internal pairs, a batch-sized component fold, and one
corpus-linear split refresh. `pipeline_daily_ingest` itself cannot
measure that claim at replicas — its fixture batch boundaries (doc_id
300/400) are corpus-relative, so a 100x replica turns "day 2" into
99% of the corpus. This tool rebuilds the steady-state SHAPE instead:

- corpus = all documents except a FIXED-SIZE arriving batch
  (~`batch_rows` rows selected by a deterministic md5 bucket of
  doc_id, so the same tool at x10 and x100 probes 10x/100x corpora
  with the SAME batch size);
- one-time stages (bloom build on the bloom path, band-index
  build+persist, genesis clustering) timed and reported separately — they amortize over the
  corpus lifetime;
- per-day stages timed individually with shuffle-byte deltas. The
  claim passes if the per-day totals stay ~flat from x10 to x100
  while the corpus grows 10x (the split refresh is corpus-LINEAR by
  contract — one scan + one keyed relabel join — and is reported on
  its own line so the batch-shaped stages' flatness is visible).

Usage:
    python tools/daily_ingest_stages.py [replica_dir] [batch_rows]

Prints one JSON line. MinHash parameters mirror the composite
(k=3, n_hashes=16, bands=4, threshold=0.1).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from perfbench.spans import SparkCounters  # noqa: E402
from voter_gateway_spark.operators import dedup_ops  # noqa: E402
from voter_gateway_spark.session import build_spark, ckpt  # noqa: E402

MH = dict(k=3, n_hashes=16, bands=4)
THRESHOLD = 0.1


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/tmp/stress_x10"
    batch_rows = int(args[1]) if len(args) > 1 else 2000
    idx_path = "/tmp/daily_ingest_band_index"
    spark = build_spark(app_name="vgs-daily-stages")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    # salt: stress replicas duplicate TEXTS n-ways, so an unsalted
    # batch is 100% exact-duplicate and the bloom admits 0 rows —
    # every downstream per-day stage would then run on an empty set
    # and measure nothing. Salting (text || ' #' || doc_id) restores
    # the realistic web-corpus shape: all content distinct, near-dup
    # structure (shared shingles across replicas) preserved.
    if "--no-salt" not in sys.argv:
        docs = docs.withColumn(
            "text", F.concat(F.col("text"), F.lit(" #"), F.col("doc_id"))
        )
    total = docs.count()
    # deterministic fixed-size batch: md5 bucket of the doc id — the
    # SAME absolute batch size at every replica scale
    cut = max(1, round(batch_rows / total * 10000))
    bucket = dedup_ops.md5_hash60(F.col("doc_id").cast("string")) % 10000
    batch = docs.where(bucket < cut)
    corpus = docs.where(bucket >= cut)
    n_batch, n_corpus = batch.count(), corpus.count()

    stages_once: dict[str, dict] = {}
    stages_day: dict[str, dict] = {}
    state = {}

    counters = SparkCounters(spark)

    def timed(book, name, fn):
        before = counters.snapshot()["shuffle_write_bytes"]
        t0 = time.time()
        out = fn()
        dt = time.time() - t0
        mb = round((counters.snapshot()["shuffle_write_bytes"] - before) / 1e6, 3)
        book[name] = {"s": round(dt, 3), "shuffle_mb": mb}
        print(f"{name}: {dt:.2f}s shuffle={mb}MB", flush=True)
        spark.sparkContext._jvm.System.gc()
        return out

    corpus.count()  # warmup: file listing + codegen

    # ---- one-time state (amortized over the corpus lifetime) ----
    def build_bloom():
        idx = dedup_ops.build_bloom_index(corpus, "text")
        words = ckpt(idx.words)
        return dedup_ops.BloomIndex(words, idx.n_bits, idx.n_hashes)

    # the plan bloom_admission picks for this corpus; only the bloom
    # path has a one-time word table to build
    admission_path = dedup_ops.admission_path(corpus, "text")
    if admission_path == "bloom":
        state["bloom"] = timed(stages_once, "bloom_build", build_bloom)
    timed(
        stages_once,
        "band_index_build",
        lambda: dedup_ops.build_band_index(
            corpus, idx_path, "doc_id", "text", **MH
        ),
    )

    def genesis():
        cpairs = dedup_ops.minhash_lsh_pairs(
            corpus, "doc_id", "text", threshold=THRESHOLD, **MH
        )
        return ckpt(
            corpus.select("doc_id")
            .join(
                dedup_ops.connected_components(cpairs).withColumnRenamed(
                    "id", "doc_id"
                ),
                "doc_id",
                "left",
            )
            .select(
                F.col("doc_id").alias("id"),
                F.coalesce("component", F.col("doc_id")).alias("component"),
            )
        )

    state["map"] = timed(stages_once, "genesis_components", genesis)

    # ---- per-day stages (the O(|batch|) claim) ----
    admitted = timed(
        stages_day,
        "admission",
        lambda: ckpt(
            dedup_ops.bloom_admission(
                corpus, batch, "doc_id", "text", words=state.get("bloom")
            )
        ),
    )
    bp = timed(
        stages_day,
        "band_index_probe",
        lambda: ckpt(
            dedup_ops.probe_band_index(
                spark, idx_path, admitted, "doc_id", "text", threshold=THRESHOLD
            ).select("new_id", "corpus_id")
        ),
    )
    nn = timed(
        stages_day,
        "batch_internal_pairs",
        lambda: ckpt(
            dedup_ops.minhash_lsh_pairs(
                admitted, "doc_id", "text", threshold=THRESHOLD, **MH
            ).select("id_a", "id_b")
        ),
    )
    new_map = timed(
        stages_day,
        "incremental_component_assign",
        lambda: ckpt(
            dedup_ops.incremental_component_assign(
                state["map"].select("id", "component"),
                admitted.select("doc_id"),
                bp,
                nn,
            )
        ),
    )

    def split_refresh():
        all_docs = corpus.select("doc_id", "lang").unionByName(
            admitted.select("doc_id", "lang")
        )
        clustered = all_docs.join(
            new_map.select(F.col("id").alias("doc_id"), "component"), "doc_id"
        )
        b = dedup_ops.md5_hash60("component") % 100
        split = (
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
        )
        clustered.select("lang", "component", split.alias("split")).groupBy(
            "split", "lang"
        ).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("component").alias("n_clusters"),
        ).write.format("noop").mode("overwrite").save()

    timed(stages_day, "split_refresh_corpus_linear", split_refresh)

    batch_shaped = [
        "admission",
        "band_index_probe",
        "batch_internal_pairs",
        "incremental_component_assign",
    ]
    out = {
        "metric": "daily_ingest_stage_breakdown",
        "sf_dir": sf_dir,
        "n_corpus": n_corpus,
        "n_batch": n_batch,
        "n_admitted": admitted.count(),
        "admission_path": admission_path,
        "one_time": stages_once,
        "per_day": stages_day,
        "per_day_batch_shaped_s": round(
            sum(stages_day[s]["s"] for s in batch_shaped), 3
        ),
        "per_day_total_s": round(sum(v["s"] for v in stages_day.values()), 3),
    }
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
