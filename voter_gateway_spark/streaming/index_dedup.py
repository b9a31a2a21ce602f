"""Streaming near-dup admission against a persisted MinHash band index
— the production shape of continuous corpus ingestion: documents
arrive as a stream, each micro-batch probes the PERSISTED corpus index
(partition-pruned scans, cost ∝ batch), near-dups of the existing
corpus are rejected, novel documents are admitted to the corpus
directory AND appended to the index so later batches dedup against
them too.

Composes three existing pieces (no new dedup math):

- `dedup_ops.probe_band_index` — batch-vs-corpus candidate pairs with
  exact Jaccard verification (recall governed by the banding, precision
  exact);
- `dedup_ops.minhash_hashed_sigs` / `write_band_index` — the index's
  own signature pipeline and writer add admitted docs' packed band
  rows and hash sets to the index (the same (band, key-prefix)
  partition layout, so the next probe prunes over old + new alike);
- foreachBatch — the Structured Streaming idiom for sinks with
  read-your-own-writes semantics (the built-in sinks can't express
  "filter against what I've already written").

Intra-batch duplicates: the probe only checks batch-vs-corpus, so two
near-identical docs arriving in the SAME micro-batch would both pass.
The batch-internal pass collapses exact duplicates (min-id wins) and,
with `intra_batch=True` (default), runs the in-memory LSH pair search
within the batch and keeps the min-id representative of each pair.

Crash/replay guarantees (batch_id-tagged admission, the streaming
path's default): each micro-batch's appends are staged to
lineage+batch-scoped directories, then MOVED into the live
corpus/index dirs under deterministic `vgsb<lineage>-<batch_id>-`
file names, and a PER-LINEAGE admission marker (batch_id + query
lineage id) commits the batch. Before the first rename, the complete
list of planned destinations is durably written to a per-lineage MOVE
MANIFEST — a replay after a crash at ANY point deletes exactly the
manifest's paths (undoing partial moves in O(this batch's files),
never a scan of the live dirs, whose file count grows with stream
lifetime — ADVICE r6 #5), re-runs the probe against the
now-consistent index, and re-commits — so a batch lands exactly once:
no duplicate corpus rows, no lost admissions, and no index entry
without its corpus row surviving recovery. A manifest recording an
OLDER batch is never acted on (that batch committed — its marker
write preceded the checkpoint commit that advanced the stream); a
torn manifest write is safe because it proves no rename happened. The
one recursive tagged scan that remains runs at most once per lineage:
no manifest + no lineage marker means a brand-new lineage or one
upgraded mid-crash from the pre-manifest (r6) protocol, and the scan
recovers exactly that migration window. A replay of a FULLY committed
batch (crash between marker write and checkpoint commit) is skipped
by the lineage's own marker — markers are per-lineage files, so
interleaved pipelines on one corpus never clobber each other's skip
state. The skip requires a real `query_id` (None identifies no
lineage, so None-vs-None never suppresses a batch — direct callers
replaying the same work re-land idempotently under the shared "adhoc"
lineage tag, and two INDEPENDENT adhoc runs reusing a batch_id
replace each other's files; pass a stable query_id to namespace
independent pipelines). Direct `admit_batch(...)` calls without a
`batch_id` keep the plain append-only behavior (no staging, no
idempotence) for ad-hoc batch use.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from voter_gateway_spark.operators.dedup_ops import (
    build_band_index,
    minhash_hashed_sigs,
    minhash_lsh_pairs,
    probe_band_index,
    write_band_index,
)
from voter_gateway_spark.session import ckpt
from voter_gateway_spark.streaming.upsert_sink import (
    _current_query_id,
    _fs,
    _must,
    _read_marker,
    _write_marker,
)

_ADMIT_MARKER = "_vgs_admit_marker"
_MANIFEST = "_vgs_admit_manifest"


def _lineage_slug(query_id: str | None) -> str:
    return (
        hashlib.md5(query_id.encode()).hexdigest()[:12] if query_id else "adhoc"
    )


def _marker_name(query_id: str | None) -> str:
    """Per-LINEAGE marker file (ADVICE r6 #5): interleaved pipelines on
    one corpus each keep their own committed-batch watermark, so one
    lineage's marker can never clobber another's skip state (the r6
    single shared marker degraded a committed replay's skip into
    delete-and-redo whenever another lineage had written since)."""
    return f"{_ADMIT_MARKER}-{_lineage_slug(query_id)}"


def _manifest_path(jvm, corpus_path: str, slug: str):
    return jvm.org.apache.hadoop.fs.Path(f"{corpus_path}/{_MANIFEST}-{slug}")


def _read_manifest(
    spark: SparkSession, corpus_path: str, slug: str
) -> dict | None:
    """The lineage's move manifest: {'batch_id': N, 'dests': [...]} —
    the complete list of live-file destinations the last attempt
    PLANNED before its first rename. None when absent; a torn write
    (crash mid-create) reads as {'batch_id': -1, 'dests': []}, which
    is safe: the manifest is written before any rename, so a torn
    manifest proves no rename of the current attempt happened."""
    fs, _, jvm = _fs(spark, corpus_path)
    mpath = _manifest_path(jvm, corpus_path, slug)
    if not fs.exists(mpath):
        return None
    # refuse rather than guess on an absurd manifest: truncating a
    # VALID oversized manifest and misreading it as a torn write would
    # skip the undo of an attempt whose renames DID happen (r7 code
    # review); 64 MB ≈ 400k dest paths, far beyond any real batch
    size = fs.getFileStatus(mpath).getLen()
    if size > 64_000_000:
        raise RuntimeError(
            f"admission manifest implausibly large ({size} bytes) at "
            f"{mpath} — refusing to classify; inspect/remove it manually"
        )
    stream = fs.open(mpath)
    try:
        try:
            # one py4j call for the whole file (a per-byte stream.read()
            # loop is ~100-500us per ROUND TRIP — r7 code review)
            data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        except (ValueError, KeyError):
            raise
        except Exception:
            # commons-io absent from the classpath: fall back to the
            # byte loop, full-length (the size guard above bounds it).
            # REOPEN first — toByteArray may have failed mid-read
            # (transient IO error, not class absence); resuming the
            # partially-consumed stream would read only the tail, fail
            # json.loads, and misclassify a valid manifest as a torn
            # write, silently skipping the undo of an attempt whose
            # renames DID happen (r8 advice)
            stream.close()
            stream = fs.open(mpath)
            buf = bytearray()
            b = stream.read()
            while b != -1:
                buf.append(b)
                b = stream.read()
            data = bytes(buf)
        # the read is complete (never truncated), so a parse failure
        # really does mean a torn write — safe to classify: the
        # manifest is created before any rename
        return json.loads(data)
    except (ValueError, KeyError):
        return {"batch_id": -1, "dests": []}
    finally:
        stream.close()


def _write_manifest(
    spark: SparkSession,
    corpus_path: str,
    slug: str,
    batch_id: int,
    dests: list[str],
) -> None:
    fs, _, jvm = _fs(spark, corpus_path)
    out = fs.create(_manifest_path(jvm, corpus_path, slug), True)
    out.write(bytearray(json.dumps({"batch_id": batch_id, "dests": dests}).encode()))
    out.close()


def _list_staged(spark: SparkSession, staged_dir: str) -> list[tuple]:
    """Sorted (src Path, rel-subdir) listing of a staging dir. SORTED
    by qualified source path so the seq→dest-name assignment is
    identical across the manifest-planning pass and the commit pass
    (and across replay attempts over the same staged content)."""
    fs, sroot, jvm = _fs(spark, staged_dir)
    if not fs.exists(sroot):
        return []
    sroot_q = str(fs.makeQualified(sroot))
    it = fs.listFiles(sroot, True)
    moves = []
    while it.hasNext():
        fpath = it.next().getPath()
        if not fpath.getName().endswith(".parquet"):
            continue  # _SUCCESS and friends
        rel = str(fs.makeQualified(fpath.getParent()))[len(sroot_q):].lstrip("/")
        moves.append((str(fs.makeQualified(fpath)), fpath, rel))
    moves.sort(key=lambda m: m[0])
    return [(fpath, rel) for _, fpath, rel in moves]


def _plan_dests(live_dir: str, tag: str, listing: list[tuple]) -> list[str]:
    return [
        f"{live_dir}/{rel}/{tag}{seq}.parquet" if rel
        else f"{live_dir}/{tag}{seq}.parquet"
        for seq, (_, rel) in enumerate(listing)
    ]


def _batch_tag(batch_id: int, query_id: str | None) -> str:
    # lineage-scoped so one query's replay undo can never delete a
    # DIFFERENT lineage's committed files (a new query restarts batch
    # ids at 0 over the same live dirs); trailing '-' so ...-1- never
    # prefix-matches ...-10-'s files
    return f"vgsb{_lineage_slug(query_id)}-{batch_id}-"


def _delete_tagged(spark: SparkSession, root_dir: str, tag: str) -> None:
    """Migration-window undo: remove live files left by a crashed
    attempt under the pre-manifest (r6) protocol. Recursive listing
    cost ∝ files under the root; since the manifest protocol this runs
    at most ONCE per lineage (first batch with no lineage marker), not
    per batch."""
    fs, root, jvm = _fs(spark, root_dir)
    if not fs.exists(root):
        return
    it = fs.listFiles(root, True)
    doomed = []
    while it.hasNext():
        fpath = it.next().getPath()
        if fpath.getName().startswith(tag):
            doomed.append(fpath)
    for fpath in doomed:
        _must(fs.delete(fpath, False), f"partial-commit delete {fpath}")


def _commit_staged(
    spark: SparkSession,
    staged_dir: str,
    live_dir: str,
    tag: str,
    moves: list[tuple] | None = None,
) -> None:
    """Move every staged parquet file into the live dir, preserving
    partition subdirectories, under deterministic `<tag><seq>.parquet`
    names — deterministic so a replay can find and undo a partial
    move. Renames are per-file (atomic on HDFS; copies on object
    stores, where a real table format should replace this protocol,
    as with upsert_sink).

    Pass the `_list_staged` result as `moves` when the caller already
    listed the stage for manifest planning: the commit MUST see the
    identical ordering for the seq→dest mapping to match the manifest,
    and reusing it halves the recursive listings per commit (each one
    is a paged remote call on object stores; r7 code review)."""
    fs, sroot, jvm = _fs(spark, staged_dir)
    Path = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(sroot):
        return
    if moves is None:
        moves = _list_staged(spark, staged_dir)
    for seq, (fpath, rel) in enumerate(moves):
        dest_dir = f"{live_dir}/{rel}" if rel else live_dir
        fs.mkdirs(Path(dest_dir))
        dest = Path(f"{dest_dir}/{tag}{seq}.parquet")
        if fs.exists(dest):  # replay leftovers are deleted up front; be safe
            _must(fs.delete(dest, False), f"stale dest delete {dest}")
        _must(fs.rename(fpath, dest), f"commit rename {fpath} -> {dest}")
    _must(fs.delete(sroot, True), f"staging cleanup {sroot}")


def admit_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_path: str,
    corpus_path: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    intra_batch: bool = True,
    batch_id: int | None = None,
    query_id: str | None = None,
) -> DataFrame | None:
    """One admission round (the foreachBatch body, callable in batch
    tests directly): probe the persisted index, reject near-dups of the
    corpus, optionally dedup within the batch, append survivors to the
    corpus and their band rows + hash sets to the index. Returns the
    ADMITTED frame (materialized before the writes).

    With `batch_id` (the streaming path always passes it), admission is
    exactly-once under crash/replay — staged writes, deterministic
    tagged file names, partial-commit undo, and an admission marker
    scoped to `query_id`'s lineage (see module docstring). Returns
    None when the marker proves this batch already fully committed.

    An index whose `bands` hold the older string band key raises the
    probe's ValueError before anything is written: rebuild it with
    `bootstrap_index`."""
    exactly_once = batch_id is not None
    if exactly_once:
        slug = _lineage_slug(query_id)
        m_batch, m_qid = _read_marker(
            spark, corpus_path, name=_marker_name(query_id)
        )
        # the skip needs a REAL lineage id: None == None must not
        # suppress batches of an unrelated later run whose batch ids
        # restart (the upsert_sink hazard) — None-qid replays instead
        # re-land idempotently via the manifest undo below
        if query_id is not None and m_qid == query_id and m_batch >= batch_id:
            return None  # fully committed replay — skip
        tag = _batch_tag(batch_id, query_id)
        # Partial-commit undo, O(this batch's files) not O(corpus):
        # the manifest (written BEFORE the first rename) lists every
        # destination the crashed attempt could have created — delete
        # exactly those. A manifest for an OLDER batch records a
        # COMMITTED batch's files (its marker write preceded the
        # checkpoint commit that advanced us here) — never deleted. No
        # manifest + no lineage marker = either a brand-new lineage or
        # a lineage upgraded from the pre-manifest protocol mid-crash:
        # one recursive tagged scan covers both (it runs at most once
        # per lineage — every committed batch leaves a marker).
        man = _read_manifest(spark, corpus_path, slug)
        if man is not None and man.get("batch_id") == batch_id:
            fs, _, jvm = _fs(spark, corpus_path)
            for dest in man.get("dests", []):
                dpath = jvm.org.apache.hadoop.fs.Path(dest)
                if fs.exists(dpath):
                    _must(fs.delete(dpath, False), f"manifest undo {dest}")
        elif man is None and m_batch == -1:
            for root in (
                corpus_path, f"{index_path}/bands", f"{index_path}/hashes"
            ):
                _delete_tagged(spark, root, tag)
    meta = spark.read.parquet(f"{index_path}/meta").collect()[0]
    dup_ids = (
        probe_band_index(
            spark, index_path, batch, id_col, text_col, threshold=threshold
        )
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    admitted = batch.join(dup_ids, id_col, "left_anti")
    if intra_batch:
        pairs = minhash_lsh_pairs(
            admitted, id_col, text_col,
            k=meta.k, n_hashes=meta.n_hashes, bands=meta.bands,
            threshold=threshold,
        )
        # keep the min-id side of every near-dup pair (id_a < id_b by
        # construction), drop the other
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
        admitted = admitted.join(losers, id_col, "left_anti")
    admitted = admitted.transform(ckpt)
    if not admitted.take(1):
        if exactly_once:
            _write_marker(
                spark, corpus_path, batch_id, query_id,
                name=_marker_name(query_id),
            )
        return admitted
    slug = _lineage_slug(query_id)
    c_stage = f"{corpus_path}__stage_{slug}_b{batch_id}"
    if exactly_once:
        admitted.write.mode("overwrite").parquet(c_stage)
    else:
        admitted.write.mode("append").parquet(corpus_path)
    b_stage = f"{index_path}/bands__stage_{slug}_b{batch_id}"
    h_stage = f"{index_path}/hashes__stage_{slug}_b{batch_id}"
    write_band_index(
        minhash_hashed_sigs(admitted, id_col, text_col, meta.k, meta.n_hashes),
        b_stage if exactly_once else f"{index_path}/bands",
        h_stage if exactly_once else f"{index_path}/hashes",
        "overwrite" if exactly_once else "append",
        meta.prefix_len,
        meta.n_hashes,
        meta.bands,
    )
    if exactly_once:
        # manifest BEFORE the first rename: every destination any
        # rename could create is durably listed, so a crash at any
        # later point is undone on replay by deleting exactly these
        # paths — no directory scans. Commit order corpus -> bands ->
        # hashes; only the marker (last) makes the batch skippable.
        dests: list[str] = []
        listings: list[tuple[str, str, list[tuple]]] = []
        for stage, live in (
            (c_stage, corpus_path),
            (b_stage, f"{index_path}/bands"),
            (h_stage, f"{index_path}/hashes"),
        ):
            listing = _list_staged(spark, stage)
            listings.append((stage, live, listing))
            dests.extend(_plan_dests(live, tag, listing))
        _write_manifest(spark, corpus_path, slug, batch_id, dests)
        for stage, live, listing in listings:
            # the SAME listing the manifest was planned from, so the
            # seq→dest mapping is identical by construction
            _commit_staged(spark, stage, live, tag, moves=listing)
        _write_marker(
            spark, corpus_path, batch_id, query_id, name=_marker_name(query_id)
        )
    return admitted


def stream_dedup_against_index(
    stream: DataFrame,
    index_path: str,
    corpus_path: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    intra_batch: bool = True,
    checkpoint_dir: str | None = None,
    query_name: str = "vgs_index_dedup",
):
    """Attach the index-probing admission sink to a document stream.
    Bootstrap the index once with `bootstrap_index`; then every
    micro-batch admits only documents that are near-dups of neither
    the corpus nor (with intra_batch) each other. Returns the writer;
    call .start()."""

    # resolve the query lineage id from the session that OWNS the query:
    # foreachBatch's cloned session lists no active queries (see
    # upsert_sink.stream_upsert_parquet)
    owner_spark = stream.sparkSession

    def _body(batch: DataFrame, batch_id: int) -> None:
        admit_batch(
            batch.sparkSession, batch, index_path, corpus_path,
            id_col, text_col, threshold=threshold, intra_batch=intra_batch,
            batch_id=batch_id,
            query_id=_current_query_id(owner_spark, query_name),
        )

    writer = (
        stream.writeStream.foreachBatch(_body)
        .queryName(query_name)
        .outputMode("update")
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer


def bootstrap_index(
    corpus: DataFrame,
    index_path: str,
    corpus_path: str,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
) -> None:
    """Materialize the initial corpus + its band index (build once;
    admission rounds append)."""
    corpus.write.mode("overwrite").parquet(corpus_path)
    build_band_index(
        corpus, index_path, id_col, text_col,
        k=k, n_hashes=n_hashes, bands=bands,
    )
