"""Voter-gateway benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload voter_import --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The inputs are generated from the seed
(perfbench/gen.py) under ``.perfbench_work/`` in the checkout, which is
also where Spark keeps its scratch files; they are removed on exit. The
program runs on ``local[n]`` with n the usable cores (at most 4).

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` alternates warm untraced and traced operations (discarding
a cold first operation): traced ones record a span around every layer
call (materialized at the boundary), the per-layer metrics are medians
over the traced operations, and ``trace.overhead_s`` is the traced minus
the untraced median operation time. The spans are written, as JSON
lines, to
``.perfbench_work/spans-<workload>-<seed>.jsonl``.

Progress and a human-readable report go to stderr and to stdout lines
before the last; the last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import gen
import stats
from spans import SparkCounters, Tracer, self_time_by_layer

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent

# Spark session count per run for setup_s; the reported value is the median.
SETUPS = 3
MAX_CORES = 4


def _log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - T_START:7.2f} s: {msg}", file=sys.stderr, flush=True)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def _peak_rss_mb(spark) -> float:
    """Peak resident memory so far of the driver JVM plus this process."""
    return _vm_hwm_mb(_jvm_pid(spark)) + _vm_hwm_mb(os.getpid())


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_s(jvm_pid: int | None) -> float:
    """CPU seconds (user + system) used so far by this process plus the
    driver JVM, if one runs: in local mode it runs every Spark task."""
    me = os.times()
    if jvm_pid is None:
        return me.user + me.system
    with open(f"/proc/{jvm_pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK + me.user + me.system


def _setup(cores: int, work: Path, warm_input: Path):
    """Build the session and run a warm-up job; returns (spark, seconds)."""
    from voter_gateway_spark.session import build_spark

    t0 = time.perf_counter()
    spark = build_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            # C1-only JIT and a serial collector: no background C2
            # compilation or parallel GC threads competing with the
            # measured work for the cores, which on a shared host makes
            # CPU time and memory repeat from run to run
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
                " -XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
            ),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(str(warm_input)).count()
    return spark, time.perf_counter() - t0


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM
    to exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "voter_gateway_spark" / "__init__.py").is_file():
        _log(f"the program (voter_gateway_spark/) is missing under {ROOT}; nothing to measure")
        return 2
    sys.path.insert(0, str(ROOT))
    if args.workload not in gen.GENERATORS:
        _log(f"unknown workload {args.workload!r}; choose from {sorted(gen.GENERATORS)}")
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "TMPDIR": str(work / "tmp"),
        }
    )
    try:
        return _run(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = work.parent
        if parent.is_dir() and not any(parent.iterdir()):
            parent.rmdir()


def _run(args, work: Path, cores: int) -> int:
    from workloads import WORKLOADS  # imports the program

    inputs = work / "inputs"
    truth = gen.generate(args.workload, args.seed, inputs)
    warm_input = inputs / ("genesis.parquet" if args.workload == "corpus_daily" else "voters")

    setups: list[float] = []
    setup_cpus: list[float] = []
    spark = jvm_pid = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        cpu0 = _cpu_s(jvm_pid)  # the first set-up also starts the JVM
        spark, dt = _setup(cores, work, warm_input)
        jvm_pid = _jvm_pid(spark)
        setup_cpus.append(_cpu_s(jvm_pid) - cpu0)
        setups.append(dt)
    _log(f"setup {['%.2f' % s for s in setups]} s, {['%.2f' % s for s in setup_cpus]} CPU s on local[{cores}]")

    tracer = Tracer(SparkCounters(spark) if args.trace else None)
    wl = WORKLOADS[args.workload](spark, inputs, work / "run", truth, tracer)
    _log("workload ready")
    attempted = failed = 0
    peak_rss = None
    times: list[float] = []
    cpu_times: list[float] = []
    traced_times: list[float] = []
    # a traced run compares warm traced operations with warm untraced ones
    warmup_ops = wl.warmup_ops + (args.trace if wl.cold_first_op else 0)
    try:
        for _ in range(warmup_ops):  # checked and counted, not timed
            wl.op()
            attempted += wl.ops_per_cycle
            failed += wl.check_op()
            wl.release()
        _log(f"{warmup_ops} warm-up operation(s) done")
        wl.rows = 0
        wl.extra.clear()
        start = time.perf_counter()
        i = 0
        while time.perf_counter() - start < args.seconds or not times or (args.trace and not traced_times):
            traced = bool(args.trace) and i % 2 == 1
            tracer.active = traced
            tracer.op = i
            cpu0 = _cpu_s(jvm_pid)
            try:
                dt = wl.op()
            except Exception as exc:  # counted as failed; ends the timed loop
                _log(f"operation {i} raised: {exc!r}")
                attempted += wl.ops_per_cycle
                failed += wl.ops_per_cycle
                tracer.active = False
                break
            tracer.active = False
            (traced_times if traced else times).append(dt)
            if not traced:
                cpu_times.append(_cpu_s(jvm_pid) - cpu0)
            if peak_rss is None:
                # through set-up, warm-up and one timed operation: the
                # same work on every run, however many operations follow
                peak_rss = _peak_rss_mb(spark)
            attempted += wl.ops_per_cycle
            failed += wl.check_op()
            wl.release()
            i += 1
        wl.busy_s = sum(times)
        _log(f"{len(times)} + {len(traced_times)} traced operation(s) timed")
        failed += getattr(wl, "check_end", lambda: 0)()
        _log("final checks done")
    finally:
        wl.close()

    _stop(spark)
    correct = failed == 0 and bool(times)
    failed = min(failed, attempted)

    # every end-to-end metric of the workload, by name
    named = {
        "setup_s": {"value": stats.median(setup_cpus), "unit": "s"},
        "setup_wall_s": {"value": stats.median(setups), "unit": "s"},
        **wl.end_to_end(times),
        "op_cpu_s": {"value": stats.median(cpu_times), "unit": "s"},
        "failed_ops_ratio": {"value": failed / attempted, "unit": "ratio"},
        "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
    }
    for name, m in named.items():
        print(f"{args.workload} {name} = {m['value']} {m['unit']}")
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "inputs": {k: v for k, v in truth.items() if k not in ("workload", "seed", "exact_dup_docs")},
        "op_s": times,
        "op_cpu_s": cpu_times,
        "end_to_end": named,
        "setup_s_each": setups,
        "setup_cpu_s_each": setup_cpus,
        "run_wall_s": time.perf_counter() - T_START,
    }

    if args.trace:
        metrics = _layer_metrics(wl, tracer, times, traced_times)
        spans_file = work.parent / f"spans-{args.workload}-{args.seed}.jsonl"
        tracer.write(spans_file)
        _log(f"spans written to {spans_file}")
    else:
        # wall times follow the host's CPU steal, so the gated metrics are
        # CPU times and memory (README.md)
        metrics = {k: named[k] for k in ("setup_s", "op_cpu_s", "peak_rss_mb")}
    print("report " + json.dumps(report, sort_keys=True))
    print(
        json.dumps(
            {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


# Per-layer metric names: span names (self time, in s) and counts.
LAYER_SPANS = [
    "sources.read",
    "plans.staging.build",
    "plans.matching.exact",
    "operators.fuzzy.rounds",
    "plans.merging.execute",
    "sinks.write",
    "plans.dedup.execute",
    "audit.merge_audit",
    "audit.csv_audit",
    "dedup_ops.bloom_admission",
    "dedup_ops.band_probe",
    "dedup_ops.batch_pairs",
    "dedup_ops.component_assign",
    "session.handoff",
]
LAYER_COUNTS = [
    ("sources.rows", "rows"),
    ("sources.malformed_rows", "rows"),
    ("plans.matching.candidate_pairs", "pairs"),
    ("plans.matching.match_ratio", "ratio"),
    ("operators.fuzzy.useful_ratio", "ratio"),
    ("plans.merging.updated", "rows"),
    ("plans.merging.inserted", "rows"),
    ("sinks.bytes_written_per_input_byte", "ratio"),
    ("plans.dedup.dup_pairs", "pairs"),
    ("plans.dedup.invariant_violations", "count"),
    ("dedup_ops.admitted_ratio", "ratio"),
]
SPARK_COUNTERS = [
    ("spark.jobs", "jobs"),
    ("spark.stages", "stages"),
    ("spark.tasks", "tasks"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
]


def _layer_metrics(wl, tracer, times, traced_times) -> dict:
    """Medians over the traced operations; a layer the workload never
    calls reads 0."""
    spans = tracer.finish()
    by_op = self_time_by_layer(spans)
    ops = sorted(by_op)
    out = {}
    for name in LAYER_SPANS:
        vals = [by_op[o].get(name, 0.0) for o in ops]
        out[name + "_s"] = {"value": stats.median(vals) if vals else 0.0, "unit": "s"}
    for name, unit in LAYER_COUNTS:
        vals = [p[name] for p in wl.per_op if name in p]
        out[name] = {"value": stats.median(vals) if vals else 0.0, "unit": unit}
    roots = [s for s in spans if s.parent is None]
    for name, unit in SPARK_COUNTERS:
        per = {}
        for s in roots:
            per[s.op] = per.get(s.op, 0) + s.counters.get(name.split(".", 1)[1], 0)
        out[name] = {"value": stats.median(list(per.values())) if per else 0.0, "unit": unit}
    out["trace.overhead_s"] = {
        "value": stats.median(traced_times) - stats.median(times),
        "unit": "s",
    }
    return out


if __name__ == "__main__":
    sys.exit(main())
