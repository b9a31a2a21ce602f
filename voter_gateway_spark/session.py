"""GatewaySession — SparkSession wrapper with a working-view registry.

Reference parity: ``CSVDriver`` owns a connection, a working-table
registry with randomized names for concurrent isolation, and cleanup
(reference: lib/voter_file/csv_driver.rb:52-94). Here working tables
are named temp views over (optionally cached) DataFrames; cleanup
drops the views and unpersists.
"""

from __future__ import annotations

import os
import threading
import uuid
import warnings
from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

try:  # py4j ships with pyspark; guard anyway for Connect-only installs
    from py4j.protocol import Py4JError
except ImportError:  # pragma: no cover
    class Py4JError(Exception):
        pass

_CKPT_CUT_WARNED = False

# thread-local deferred-materialization state for ckpt_defer(): while a
# batch is open on this thread, eager ckpt()/ckpt_parallel() calls
# enqueue lazily-checkpointed frames here instead of each paying its
# own materialization job; the batch exit materializes every enqueued
# frame in ONE union job (guide §2.6 — overlap independent jobs).
_DEFER = threading.local()


def reliable_checkpoint_dir() -> str | None:
    """Reliable-checkpoint switch (SCALING.md "local-vs-cluster deltas").

    When ``SPARK_GRAFT_CHECKPOINT_DIR`` is set (e.g. an HDFS/S3 path on a
    real cluster), every lineage-truncation site in the engine routes
    through storage-backed ``df.checkpoint()`` instead of
    ``localCheckpoint`` — on preemptible executors a lost localCheckpoint
    block fails the iterative jobs (connected components, claiming,
    collapse); a reliable checkpoint recomputes from storage instead.
    Unset (the default, and always in local mode) keeps the fast
    block-manager localCheckpoint path.
    """
    return os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR") or None


def ckpt(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate lineage on an intermediate that is reused or iterated on.

    Use as ``df.transform(ckpt)`` (eager) / ``df.transform(ckpt_lazy)``.
    Honors :func:`reliable_checkpoint_dir`; the checkpoint directory is
    installed on first use so plain ``SparkSession.builder`` sessions
    (not just :func:`build_spark`) get the reliable path too. Such
    sessions should also set
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (a
    session-construction-time conf :func:`build_spark` sets for them)
    or per-round checkpoint files accumulate for the life of the job.

    Inside an open :func:`ckpt_defer` batch on this thread, an EAGER
    request is enqueued instead: the returned frame is the identical
    checkpoint-backed DataFrame (same plan truncation, same downstream
    plan shapes), but its materialization job runs at batch exit,
    united with the other enqueued frames into one job. Lazy requests
    never enqueue — their contract is already "materialize inside the
    first consuming job".
    """
    pending = getattr(_DEFER, "pending", None)
    out = _ckpt_raw(df, eager=False if (eager and pending is not None) else eager)
    if eager and pending is not None:
        pending.append(out)
    return out


def _ckpt_raw(df: DataFrame, eager: bool) -> DataFrame:
    d = reliable_checkpoint_dir()
    if not d:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(d)
    return df.checkpoint(eager=eager)


def _materialize_union(outs: list[DataFrame]) -> None:
    """Materialize several lazily-checkpointed frames with ONE Spark
    job: union their internal RDDs JVM-side and count. The union job's
    stage graph contains every frame's stages, so the scheduler packs
    them together (one frame's straggler tail back-fills with another
    frame's tasks — guide §2.6) and the per-job scheduling overhead is
    paid once instead of once per frame. ``SparkContext.runJob`` calls
    ``rdd.doCheckpoint()`` on completion, which finds every partition
    already cached by the job (localCheckpoint persists at mark time),
    so no second job runs. Falls back to concurrent per-frame jobs on
    a thread pool (``pyspark.InheritableThread`` — plain threads don't
    inherit JVM-local job groups under pinned-thread mode) when the
    JVM hooks are unavailable (Spark Connect)."""
    if not outs:
        return
    if len(outs) == 1:
        outs[0].count()
        return
    try:
        jrdds = [o._jdf.queryExecution().toRdd() for o in outs]
        u = jrdds[0]
        for r in jrdds[1:]:
            u = u.union(r)
        u.count()
    except (AttributeError, Py4JError):  # pragma: no cover - Connect only
        from concurrent.futures import ThreadPoolExecutor

        try:
            from pyspark import inheritable_thread_target

            def trigger(o: DataFrame) -> None:
                inheritable_thread_target(lambda: o.count())()
        except ImportError:
            def trigger(o: DataFrame) -> None:
                o.count()

        with ThreadPoolExecutor(max_workers=len(outs)) as pool:
            list(pool.map(trigger, outs))


@contextmanager
def ckpt_defer():
    """Defer every eager ckpt() issued on this thread inside the block
    and materialize them ALL in one union job at block exit (guide
    §2.6). Use around a group of operator calls whose internal eager
    checkpoints are mutually independent — e.g. pipeline_daily_ingest's
    per-day trio (two incremental rep frames + the batch-internal
    collapse frame): the barriers overlap instead of running serially,
    and N materialization jobs become one.

    Frames MAY depend on each other or on shared lazy checkpoints —
    materialization is pure, and shared upstream partitions are
    persist-marked so concurrent stages reuse (or at worst briefly
    duplicate) them — but dependent frames forfeit part of the overlap.
    Do NOT run actions on the deferred frames inside the block: that
    simply materializes them early (correct, serial)."""
    prev = getattr(_DEFER, "pending", None)
    _DEFER.pending = []
    try:
        yield
        pending = _DEFER.pending
        _DEFER.pending = prev
        _materialize_union(pending)
    finally:
        if getattr(_DEFER, "pending", None) is not prev:
            _DEFER.pending = prev


def ckpt_lazy(df: DataFrame) -> DataFrame:
    """Lazy variant of :func:`ckpt` for ``.transform`` chaining."""
    return ckpt(df, eager=False)


def ckpt_parallel(dfs: list[DataFrame]) -> list[DataFrame]:
    """Eagerly checkpoint several INDEPENDENT DataFrames with ONE
    materialization job instead of one barrier each (optimization
    guide §2.6: sequential eager checkpoints leave the cluster idle
    through each barrier's tail). Results are identical to calling
    :func:`ckpt` in a loop — materialization is pure — but the frames'
    stages run inside a single union job (see
    :func:`_materialize_union`), so wall time is the packed max() of
    the frames rather than their sum AND the per-job scheduler
    round-trips collapse to one. Use ONLY for frames with no
    dependency on each other (a dependent frame would simply
    recompute its input rather than corrupt anything, wasting the
    win).

    Inside an open :func:`ckpt_defer` batch the frames are enqueued
    onto the batch instead (materialized at batch exit with everything
    else)."""
    if len(dfs) == 1:
        return [ckpt(dfs[0])]
    pending = getattr(_DEFER, "pending", None)
    outs = _lazy_ckpt_concurrent(dfs)
    if pending is not None:
        pending.extend(outs)
    else:
        _materialize_union(outs)
    return outs


def _lazy_ckpt_concurrent(dfs: list[DataFrame]) -> list[DataFrame]:
    """Issue ``localCheckpoint(eager=False)`` for several frames from a
    thread pool. The lazy-checkpoint CALL is not free: under AQE it
    materializes the frame's exchange stages (measured: a heavy
    groupBy's whole map stage runs inside the call), so issuing the
    calls sequentially would serialize exactly the work ckpt_parallel
    exists to overlap. Threads are wrapped with
    ``pyspark.inheritable_thread_target`` so JVM thread-local
    properties (job group/description) propagate and pinned-thread-mode
    JVM threads are cleaned up (r15 ADVICE); the checkpoint dir is
    pre-resolved on the calling thread so worker threads never race the
    first ``setCheckpointDir``."""
    d = reliable_checkpoint_dir()
    if d:
        sc = dfs[0].sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(d)
    from concurrent.futures import ThreadPoolExecutor

    try:
        from pyspark import inheritable_thread_target

        try:
            # Spark 4 form: passing the session also propagates job tags
            fn = inheritable_thread_target(dfs[0].sparkSession)(
                lambda df: _ckpt_raw(df, eager=False)
            )
        except Exception:  # pragma: no cover - pre-3.5 signature
            fn = inheritable_thread_target(lambda df: _ckpt_raw(df, eager=False))
    except ImportError:  # pragma: no cover - very old pyspark
        fn = lambda df: _ckpt_raw(df, eager=False)  # noqa: E731
    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        return list(pool.map(fn, dfs))


def ckpt_cut(df: DataFrame) -> DataFrame:
    """:func:`ckpt`, but ALSO severs the optimizer-statistics chain.

    Spark's checkpoint keeps a LAZY reference to the origin plan's
    statistics: the LogicalRDD's size estimate is a thunk over the
    pre-checkpoint tree. For self-referencing iterative plans (the
    NN-descent und⋈und candidate stage, where each round's size
    estimate is the SQUARE of the previous round's) the chained
    thunks make a later consumer's size estimate a product of
    astronomically large BigIntegers — measured as a multi-minute
    driver-side hang inside SizeInBytesOnlyStatsPlanVisitor (100%
    CPU in BigInteger.multiplyToomCook3) the first time a downstream
    join asks for stats, while the same data through a parquet
    round-trip plans in milliseconds. Rebuilding the DataFrame from
    the materialized internal-row RDD drops the origin reference, so
    the leaf reports plain default stats and planning stays O(plan).

    Trade-off: the cut leaf loses its size estimate (defaults to
    spark.sql.defaultSizeInBytes), so it is never auto-broadcast —
    use only on iterative intermediates whose joins should shuffle
    anyway; keep plain :func:`ckpt` where downstream broadcast
    decisions matter. Falls back to :func:`ckpt` (with a one-time
    warning — r13 ADVICE: a silent fallback reintroduces the stats
    hang with no signal) when the private JVM hooks are unavailable,
    e.g. under Spark Connect."""
    materialized = ckpt(df)
    try:
        jdf = materialized._jdf
        jspark = df.sparkSession._jsparkSession
        jnew = jspark.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(jnew, df.sparkSession)
    except (AttributeError, Py4JError) as exc:
        # _jdf/_jsparkSession absent (Spark Connect) — the cut cannot
        # be applied; warn once so a reappearing stats-thunk hang on
        # iterative plans is diagnosable instead of mysterious.
        global _CKPT_CUT_WARNED
        if not _CKPT_CUT_WARNED:
            _CKPT_CUT_WARNED = True
            warnings.warn(
                "ckpt_cut: JVM rebuild hooks unavailable "
                f"({exc!r}); falling back to plain checkpoint. "
                "Iterative self-join plans may hit the driver-side "
                "statistics-thunk hang documented in ckpt_cut's "
                "docstring.",
                RuntimeWarning,
                stacklevel=2,
            )
        return materialized


def build_spark(
    app_name: str = "voter_gateway_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for this engine.

    Scale posture: AQE on (runtime coalesce + skew-join handling),
    explicit shuffle-partition sizing, Arrow enabled for the few
    pandas-UDF paths. On a real cluster, master/shuffle partitions
    come from spark-submit; this helper is for local runs and tests.

    The code-generation cache holds 1000 compiled classes instead of
    Spark's 100: one voter import cycle generates ~270 classes, so at
    100 entries every warm cycle recompiled ~265 of them; at 1000 it
    compiles 0–4. The setting is a static conf that binds when the
    first session of a JVM first generates code; a later session in
    the same JVM keeps the cache size the first one set.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the events fixture stores TIMESTAMP(NANOS) which Spark's reader
        # rejects; read as bigint nanos and convert explicitly (exact
        # integer µs arithmetic — see queries._events)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if reliable_checkpoint_dir():
        # without this, df.checkpoint() data is never deleted when the
        # DataFrame is GC'd, so the iterative jobs (connected
        # components, claiming, collapse — one ckpt per round)
        # accumulate unbounded files in SPARK_GRAFT_CHECKPOINT_DIR on
        # long cluster runs. Plain SparkSession.builder sessions using
        # the reliable path should set the same flag (see ckpt()).
        b = b.config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ckpt_dir = reliable_checkpoint_dir()
    if ckpt_dir and spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(ckpt_dir)
    return spark


class GatewaySession:
    """Owns a SparkSession, a registry of named working DataFrames, and
    cleanup. The random infix isolates concurrent sessions sharing one
    Spark catalog (reference: csv_driver.rb:5,59-60,76-82).
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._infix = uuid.uuid4().hex[:8]
        self._counter = 0
        self._working: dict[str, DataFrame] = {}

    # -- working table registry (S8, S10, S11) --------------------------------

    def working_name(self, base: str = "working") -> str:
        self._counter += 1
        return f"tmp_{base}_{self._infix}_{self._counter}"

    def register(self, df: DataFrame, name: str | None = None, cache: bool = False) -> str:
        """Register a DataFrame as a named working view (≈ CREATE TEMPORARY TABLE)."""
        name = name or self.working_name()
        if cache:
            df = df.cache()
        df.createOrReplaceTempView(name)
        self._working[name] = df
        return name

    def working(self, name: str) -> DataFrame:
        return self._working[name]

    def table(self, name: str) -> DataFrame:
        """Bind an existing table/view by name; raises if missing
        (reference: csv_driver.rb:132-145 raises for unknown tables)."""
        if name in self._working:
            return self._working[name]
        if not self.spark.catalog.tableExists(name):
            raise NameError(f"table does not exist: {name}")
        return self.spark.table(name)

    def sql(self, query: str) -> DataFrame:
        """Raw SQL escape hatch (reference S13: csv_driver.rb:177-179)."""
        return self.spark.sql(query)

    def clean_up(self) -> None:
        """Drop all working views and unpersist (reference: csv_driver.rb:84-94)."""
        for name, df in self._working.items():
            try:
                self.spark.catalog.dropTempView(name)
            except Exception:
                pass
            try:
                df.unpersist()
            except Exception:
                pass
        self._working.clear()

    # -- context manager -----------------------------------------------------

    def __enter__(self) -> "GatewaySession":
        return self

    def __exit__(self, *exc) -> None:
        self.clean_up()


def load_tables(spark: SparkSession, sf_dir: str, names: Iterator[str] | None = None) -> dict[str, DataFrame]:
    """Load the driver's parquet fixture tables from an sf directory,
    normalized to their declared schemas (sources/fixtures)."""
    from voter_gateway_spark.sources.fixtures import TABLES, load_table

    # `is not None`: an explicitly-empty names list means "load none",
    # not "load everything" (a falsy check inverts the caller's intent)
    names = list(names) if names is not None else list(TABLES)
    return {n: load_table(spark, sf_dir, n) for n in names}
