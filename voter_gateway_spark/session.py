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
from contextlib import contextmanager
from contextvars import ContextVar
from functools import reduce
from typing import Callable, Hashable, Iterator, TypeVar

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # re-exported for the operators' Connect fallbacks (dedup_ops, skew)
    from py4j.protocol import Py4JError
except ImportError:  # pragma: no cover
    class Py4JError(Exception):
        pass

# thread-local ckpt_defer() state: while a batch is open on this thread,
# ``pending`` collects the lazily-marked frames of its eager ckpt()
# calls; the batch exit materializes them all in one job.
_DEFER = threading.local()

# the prepared-frame memo open in this context (see prepared / reuse),
# and the ids of the entries its current run built or was handed
_MEMO: ContextVar[tuple[dict, set[int]] | None] = ContextVar("prepared_frames", default=None)

_V = TypeVar("_V")


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
    Returns Spark's own ``df.localCheckpoint(eager)``, with one
    exception: inside an open :func:`ckpt_defer` batch on this thread
    an EAGER call marks the frame lazily and appends it to the batch.
    The returned frame is the same checkpoint-backed DataFrame (same
    plan truncation, same downstream plan shapes); its materialization
    runs at batch exit. Lazy calls never join a batch — their contract
    is already "materialize inside the first consuming job".

    Reliable path (:func:`reliable_checkpoint_dir` set): always Spark's
    ``df.checkpoint(eager)``, never batched — one compute-and-write job
    per eager frame. The checkpoint directory is installed on first
    use, so plain ``SparkSession.builder`` sessions (not just
    :func:`build_spark`) get the reliable path too. Such sessions
    should also set ``spark.cleaner.referenceTracking.cleanCheckpoints
    =true`` (a session-construction-time conf :func:`build_spark` sets
    for them) or per-round checkpoint files accumulate for the life of
    the job.
    """
    d = reliable_checkpoint_dir()
    if d:
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(d)
        return df.checkpoint(eager)
    pending = getattr(_DEFER, "pending", None)
    if eager and pending is not None:
        out = df.localCheckpoint(eager=False)
        pending.append(out)
        return out
    return df.localCheckpoint(eager)


def _materialize(frames: list[DataFrame]) -> None:
    """Materialize lazily checkpointed frames in ONE job: a ``noop``
    write over the union of a constant projection of each frame. The
    job computes (and so caches) every partition of every frame, and
    the checkpoint completes when the job ends, so no second job runs."""
    if frames:
        marks = [f.select(F.lit(1).alias("_m")) for f in frames]
        reduce(DataFrame.union, marks).write.format("noop").mode("overwrite").save()


@contextmanager
def ckpt_defer():
    """Defer every eager :func:`ckpt` issued on this thread inside the
    block and materialize them ALL in one job at block exit. Use around
    a group of operator calls whose internal eager checkpoints are
    mutually independent — e.g. pipeline_daily_ingest's per-day trio
    (two incremental rep frames + the batch-internal collapse frame).
    The frames' stages run inside a single job, so the per-job
    scheduling round-trip is paid once instead of once per frame, and
    one frame's straggler tail back-fills with another frame's tasks
    instead of leaving cores idle through each barrier. Under AQE a
    lazy mark still runs the frame's shuffle-map stages at call time;
    the batch defers each frame's final stage.

    A nested ``ckpt_defer`` joins the batch that is already open. On the
    reliable path nothing is batched (see :func:`ckpt`): each eager
    call runs its own compute-and-write job and the exit runs none.

    Frames MAY depend on each other or on shared lazy checkpoints —
    materialization is pure — but dependent frames forfeit part of the
    overlap. Do NOT run actions on the deferred frames inside the block:
    that simply materializes them early (correct, serial). Do NOT
    overwrite a source that a deferred frame reads (the read → merge →
    overwrite swaps of ``streaming/upsert_sink.py`` and
    ``streaming/index_dedup.py`` must stay outside any batch): the
    frame is computed at block exit and would read the new contents.
    If the block raises, nothing is materialized; if materialization
    fails, the error surfaces at block exit. Either way the batch is
    closed, so later eager calls are eager again."""
    if getattr(_DEFER, "pending", None) is not None:
        yield
        return
    _DEFER.pending = frames = []
    try:
        yield
    finally:
        _DEFER.pending = None
    _materialize(frames)


def ckpt_lazy(df: DataFrame) -> DataFrame:
    """Lazy variant of :func:`ckpt` for ``.transform`` chaining."""
    return ckpt(df, eager=False)


def ckpt_parallel(dfs: list[DataFrame]) -> list[DataFrame]:
    """Eagerly checkpoint several DataFrames with ONE materialization
    job instead of one barrier each: :func:`ckpt` of every frame inside
    one :func:`ckpt_defer` batch (joining the caller's batch if one is
    open). Results are identical to calling :func:`ckpt` in a loop;
    frames that depend on each other forfeit part of the overlap. On
    the reliable path this is exactly that loop: one job per frame."""
    with ckpt_defer():
        return [ckpt(d) for d in dfs]


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
    Spark has no public equivalent, so this goes through the JVM
    session (classic Spark only).

    Trade-off: the cut leaf loses its size estimate (defaults to
    spark.sql.defaultSizeInBytes), so it is never auto-broadcast —
    use only on iterative intermediates whose joins should shuffle
    anyway; keep plain :func:`ckpt` where downstream broadcast
    decisions matter."""
    jdf = ckpt(df)._jdf
    jnew = df.sparkSession._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    return DataFrame(jnew, df.sparkSession)


def small_rows(df: DataFrame, max_rows: int) -> list[Row] | None:
    """Every row of ``df`` when it has at most ``max_rows``, else None:
    the one "small enough to finish on the driver?" gate the operators
    share. One bounded job: on one partition the limit is a single take
    that stops reading after ``max_rows + 1`` rows (the price is that
    the frame's last narrow stage runs in that one task). ``max_rows <=
    0`` returns None and runs no job."""
    if max_rows <= 0:
        return None
    rows = df.coalesce(1).limit(max_rows + 1).collect()
    return rows if len(rows) <= max_rows else None


def python_ordered(t: T.DataType) -> bool:
    """Whether Python's order and equality on the collected values of
    type ``t`` are Spark's: integral types and default-collation
    strings (code point order is UTF-8 byte order). Every driver path
    that compares ids in Python (union-find, dedup by id, min id) runs
    only on these; a collated string (``UTF8_LCASE``) or a double id
    (NaN, -0.0) takes the distributed plan."""
    return isinstance(t, T.IntegralType) or t == T.StringType()


def small_sides(
    sides: list[tuple[DataFrame, str]], columns: list[Column], max_rows: int
) -> list[list[tuple]] | None:
    """Each side's ``(id, *columns)`` rows, for the driver paths that
    pair two frames (or one with itself), or None when the input is not
    theirs to finish. ``sides`` holds ``(frame, id column)``; every
    aliased Column in ``columns`` is projected on every side. None
    unless all of these hold:
    - each id column's type is :func:`python_ordered` (checked before
      any job);
    - all sides together have at most ``max_rows`` rows (one
      ``small_rows`` job over a side-tagged union; the ids sit in
      per-side columns, so each side keeps its id type);
    - the non-null ids are unique per side.
    NULL-id rows are returned: whether they are dropped or decline the
    driver path is the caller's rule."""
    if not all(python_ordered(df.schema[id_col].dataType) for df, id_col in sides):
        return None
    tagged = [
        df.select(F.lit(i).alias("_side"), F.col(id_col).alias(f"_id{i}"), *columns)
        for i, (df, id_col) in enumerate(sides)
    ]
    names = tagged[0].columns[2:]
    rows = small_rows(
        reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), tagged), max_rows
    )
    if rows is None:
        return None
    out: list[list[tuple]] = [[] for _ in sides]
    seen: list[set] = [set() for _ in sides]
    for r in rows:
        i = r["_side"]
        ident = r[f"_id{i}"]
        if ident is not None:
            if ident in seen[i]:
                return None
            seen[i].add(ident)
        out[i].append((ident, *(r[n] for n in names)))
    return out


def local_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """``rows`` (tuples in ``schema``'s column order) as a frame the
    plan holds itself: one ``pyarrow.Table`` typed by ``schema``, which
    ``createDataFrame`` turns into a ``LocalRelation``. Such a frame
    has an exact size estimate, so the broadcast threshold applies to
    it without a hint; reading it runs no job and starts no Python
    worker. ``createDataFrame(list)`` instead builds a Python RDD: a
    ``Long.MaxValue`` size estimate, and every read runs a scan job
    through ``pyspark.daemon``. Meant for the driver paths' results,
    which are far under ``spark.sql.execution.arrow.localRelationThreshold``.
    Does not need ``spark.sql.execution.arrow.pyspark.enabled``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), schema)


@contextmanager
def prepared(memo: dict):
    """Open ``memo`` for every :func:`reuse` call in this context until
    the block exits. A Job keeps one memo per instance and opens it
    around each run of its body (``jobs.Job``), so a later run is handed
    what an earlier one built from unchanged inputs. At exit the memo
    keeps only the entries this run built or was handed: a Job whose
    inputs change from run to run holds one run's frames, not all."""
    used: set[int] = set()
    token = _MEMO.set((memo, used))
    try:
        yield
    finally:
        _MEMO.reset(token)
        for key, entries in list(memo.items()):
            memo[key] = [e for e in entries if id(e) in used]


def reuse(
    frames: list[DataFrame],
    key: Hashable,
    build: Callable[[], _V],
    keep: Callable[[_V], _V] | None = None,
) -> _V:
    """``build()``, or the value an earlier call in the open memo built
    from the same inputs.

    With no memo open (:func:`prepared`), or when a frame reads
    something :func:`_file_stamps` cannot stamp, this is ``build()``.
    Otherwise the entry under ``key`` whose frames are pairwise
    ``sameSemantics`` with ``frames`` is handed back if every file they
    scan still has the path, length and modification time it had when
    the entry was built; if not, or if there is no such entry,
    ``keep(build())`` is stored and returned. ``key`` names the call
    site and whatever the value depends on besides the frames' plans.
    ``keep`` materializes a frame once (e.g. :func:`ckpt`): a lazy
    frame handed back would be recomputed by every reader."""
    opened = _MEMO.get()
    stamps = None if opened is None else _file_stamps(frames)
    if stamps is None:
        return build()
    memo, used = opened
    entries = memo.setdefault(key, [])
    for i, entry in enumerate(entries):
        old, old_stamps, value = entry
        if all(a.sameSemantics(b) for a, b in zip(old, frames, strict=True)):
            if old_stamps == stamps:
                used.add(id(entry))
                return value
            del entries[i]  # the same plan over rewritten files
            break
    entry = (frames, stamps, build() if keep is None else keep(build()))
    entries.append(entry)
    used.add(id(entry))
    return entry[2]


def _file_stamps(frames: list[DataFrame]) -> frozenset | None:
    """``(path, length, modification time)`` of every file ``frames``
    scan, read now through Hadoop's ``FileSystem.getFileStatus``; None
    when a frame has a leaf whose contents could change without a
    stamp showing it, i.e. anything but a file scan, a
    ``LocalRelation`` or a checkpoint's ``LogicalRDD``."""
    stamps = set()
    for df in frames:
        jvm = df.sparkSession._jvm
        conf = df.sparkSession.sparkContext._jsc.hadoopConfiguration()
        leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
        while leaves.hasNext():
            leaf = leaves.next()
            kind = leaf.getClass().getSimpleName()
            if kind == "LocalRelation":
                continue
            if kind == "LogicalRDD" and leaf.rdd().checkpointData().isDefined():
                continue
            if kind != "LogicalRelation":
                return None
            relation = leaf.relation()
            if relation.getClass().getSimpleName() != "HadoopFsRelation":
                return None
            for name in relation.location().inputFiles():
                path = jvm.org.apache.hadoop.fs.Path(name)
                try:
                    status = path.getFileSystem(conf).getFileStatus(path)
                except Py4JError:  # gone since the frame listed it
                    return None
                stamps.add((name, status.getLen(), status.getModificationTime()))
    return frozenset(stamps)


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
    return b.getOrCreate()


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
