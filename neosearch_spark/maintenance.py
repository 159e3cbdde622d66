"""Index maintenance: row-level document writes (delete, upsert,
merge) and crash-safe multi-table swaps.

The reference has one write primitive, a store-level key write or
removal (``lib/neosearch/store/goleveldb/writer.go:54-65``), and
re-``Add`` writes on top of it
(``lib/neosearch/index/index.go:123-160``).  This module has one
document write too, ``_write_docs_locked``: remove a set of doc_ids,
add a batch of docs.  ``upsert_docs`` removes the batch's own ids and
adds the batch; ``delete_docs`` is an upsert with an empty batch
(Lucene's ``updateDocument`` is likewise delete + add);
``merge_indexes`` upserts another index's doc store.  Every write
folds pending committed stream deltas first (``compact_deltas`` stays
separate: it merges additively and has no doc-store rows).

Scale design — BOTH compute and I/O are O(touched), never O(corpus):
- The affected (field, term, span) posting groups are derived from
  the REMOVED DOCS' OLD CONTENT ∪ the BATCH'S NEW CONTENT (one
  occurrence-stream pass over those rows — the same analyzer the
  build ran), so only groups that can actually change are rebuilt;
  every other block carries over untouched.  Streamed docs (postings
  but no doc-store row) fall back to their whole spans.
- The index's bucketed block layout (build.py: term-range ``bucket=``
  directories) turns that into partition-scoped WRITES: only the
  bucket directories containing affected terms are rewritten
  (carried-blocks-in-bucket ∪ rebuilt), and untouched bucket
  directories are never read or written — their files stay
  byte-identical (asserted in tests).  Same for the doc store's
  ``doc_part=`` doc-range directories.  This is the parquet stand-in
  for an Iceberg dynamic partition overwrite; the reference's delete
  is O(1) per key (``store/goleveldb/writer.go:54-65``), ours is
  O(touched partitions) per batch.
- Corpus stats update INCREMENTALLY (``stage_stats``: old totals
  minus the removed docs' count/token-sum plus the batch's — exact
  integer arithmetic, no corpus scan); ``max_dl`` is max(old, batch),
  so a delete keeps the old value (still a valid upper bound, which
  is all its consumers need).
- Removed ids apply as an anti-join against the decoded tf stream —
  never a driver-side list.
- All rewritten directories materialize to tmp first, then swap
  under a manifest tombstone: the manifest marks ``swap_in_progress``
  before the first rename and clears it after the last, so a crash
  mid-swap leaves an index that REFUSES to open instead of serving a
  torn view.  (At Iceberg scale the whole swap is one snapshot
  commit; the tombstone is the sandbox-parquet stand-in.)
- Stale block-max bounds stay provably conservative: per-posting
  scores are recomputed from tf/dl at query time, and untouched
  blocks keep their ``enc_avgdl`` so the query-side inflation
  ``max(1, avgdl_now/enc_avgdl)`` keeps every pruning bound an upper
  bound after avgdl shifts (see build.py).
- The build-lineage ``counters`` table is BUILD-TIME provenance (per
  original build partition) and is not rewritten by maintenance; the
  manifest records each maintenance op's own counters instead.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _load_manifest(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "manifest.json")) as f:
        return json.load(f)


def _save_manifest(index_dir: str, m: dict) -> None:
    p = os.path.join(index_dir, "manifest.json")
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(m, f, indent=2, default=str)
    os.replace(tmp, p)


def check_not_torn(manifest: dict, index_dir: str) -> None:
    """Refuse to use an index whose last multi-table swap did not
    complete (crash between directory renames)."""
    if manifest.get("swap_in_progress"):
        raise RuntimeError(
            f"index at {index_dir} has a torn table swap "
            f"({manifest['swap_in_progress']}); restore from the "
            "previous snapshot or rebuild"
        )


class writer_lock:
    """Single-writer mutual exclusion for maintenance ops — the
    distributed-filesystem analog of the reference's singleton writer
    + mutex (``store/goleveldb/store.go:160-165``): concurrent
    delete/compact against one index directory would interleave their
    tmp writes and manifest updates.

    O_EXCL lock file carrying (pid, timestamp); a lock whose owning
    pid is dead is stale (crashed writer) and is stolen.  (At Iceberg
    scale this job is done by optimistic snapshot commits + retries;
    the lock is the parquet-directory stand-in.)"""

    def __init__(self, index_dir: str):
        self.path = os.path.join(index_dir, "write.lock")

    def __enter__(self):
        import time

        while True:
            # write the holder JSON to a private file FIRST, then
            # publish it with an atomic hard link: a lock file is
            # never observable empty (a create-then-write would let a
            # concurrent acquirer read the empty window, classify the
            # live lock as unreadable→stale, and steal it)
            tmp = f"{self.path}.{os.getpid()}.tmp"
            with open(tmp, "w") as f:
                json.dump({"pid": os.getpid(), "ts": time.time()}, f)
            try:
                os.link(tmp, self.path)
                os.remove(tmp)
                return self
            except FileExistsError:
                os.remove(tmp)
                holder_alive = False
                try:
                    with open(self.path) as f:
                        holder = json.load(f)
                    try:
                        os.kill(int(holder["pid"]), 0)
                        holder_alive = True
                    except ProcessLookupError:
                        holder_alive = False
                    except PermissionError:
                        # EPERM proves the pid EXISTS (another user's
                        # process) — that is a live holder, not a
                        # stale lock
                        holder_alive = True
                except (OSError, ValueError, KeyError, json.JSONDecodeError):
                    holder_alive = False  # unreadable/corrupt → stale
                if not holder_alive:
                    # dead or unreadable holder → stale lock.  Steal via
                    # rename-to-unique (atomic: exactly ONE of N
                    # concurrent stealers succeeds; the rest see
                    # FileNotFoundError and loop back to the atomic
                    # link, where they find the winner's fresh lock) —
                    # a bare os.remove would let a second stealer delete
                    # the winner's just-created lock and double-acquire.
                    #
                    # Winning the rename is NOT yet proof we renamed
                    # the stale lock we OBSERVED: between our read and
                    # our rename, a concurrent stealer may have taken
                    # the stale lock AND published its own fresh LIVE
                    # lock at self.path — unconditionally removing the
                    # renamed file would steal that live winner's lock
                    # and let two writers proceed (check-then-rename
                    # TOCTOU).  So re-verify AFTER the rename: only a
                    # still-dead/unreadable holder is discarded; a
                    # live one is restored with an atomic link.
                    stale = f"{self.path}.stale.{os.getpid()}"
                    try:
                        os.rename(self.path, stale)
                    except FileNotFoundError:
                        continue  # another stealer won; loop to link
                    renamed_pid = None
                    renamed_alive = False
                    try:
                        with open(stale) as f:
                            renamed_pid = int(json.load(f)["pid"])
                        os.kill(renamed_pid, 0)
                        renamed_alive = True
                    except PermissionError:
                        renamed_alive = True  # EPERM: pid exists
                    except (OSError, ValueError, KeyError, json.JSONDecodeError):
                        renamed_alive = False
                    if not renamed_alive:
                        os.remove(stale)
                        continue
                    # we displaced a LIVE lock (a concurrent stealer's
                    # fresh acquisition) — restore it atomically and
                    # retry, which re-raises via the live-holder path
                    try:
                        os.link(stale, self.path)
                        os.remove(stale)
                    except FileExistsError:
                        # third acquirer published while the live lock
                        # was displaced: the displaced holder and the
                        # new one may BOTH be active — unrecoverable
                        # from here, surface loudly instead of
                        # silently joining as a third writer
                        os.remove(stale)
                        raise RuntimeError(
                            f"writer-lock contention at {self.path}: "
                            f"a live lock (pid {renamed_pid}) was "
                            "displaced and a new lock appeared before "
                            "it could be restored; verify the index "
                            "and retry"
                        )
                    continue
                raise RuntimeError(
                    f"index is locked by a live writer (pid "
                    f"{holder['pid']}); concurrent maintenance on one "
                    "index is not supported — retry after it finishes"
                )

    def __exit__(self, *exc):
        try:
            os.remove(self.path)
        except FileNotFoundError:
            pass


def swap_tables(index_dir: str, pairs: list[tuple[str, str]], op: str,
                crash_after: int | None = None, **manifest_extra) -> None:
    """Atomically-ish replace index tables OR single partition
    directories (``name`` may be e.g. ``blocks/bucket=3``): tombstone
    the manifest, rename every (tmp_dir → final) pair, clear the
    tombstone.  A missing tmp dir means "this partition became empty"
    — the final directory is removed.  A missing final dir (brand-new
    partition) is simply created by the rename.

    ``crash_after`` is a test hook: raise after that many renames to
    simulate a crash mid-swap."""
    m = _load_manifest(index_dir)
    check_not_torn(m, index_dir)
    m["swap_in_progress"] = {"op": op, "tables": [name for name, _ in pairs]}
    _save_manifest(index_dir, m)
    for i, (name, tmp) in enumerate(pairs):
        if crash_after is not None and i >= crash_after:
            raise RuntimeError(f"injected crash after {i} swaps")
        final = os.path.join(index_dir, name)
        if os.path.exists(final):
            shutil.rmtree(final)
        if os.path.exists(tmp):
            os.makedirs(os.path.dirname(final), exist_ok=True)
            os.replace(tmp, final)
    del m["swap_in_progress"]
    for k, v in manifest_extra.items():
        m.setdefault("maintenance", []).append({k: v})
    _save_manifest(index_dir, m)


def partition_swap_pairs(
    index_dir: str, table: str, tmp_root: str, part_col: str, part_vals
) -> list[tuple[str, str]]:
    """(name, tmp) swap pairs for the given partition values of a
    partitioned table — only these directories are replaced; every
    other partition directory of the table is never touched."""
    return [
        (f"{table}/{part_col}={v}", os.path.join(tmp_root, f"{part_col}={v}"))
        for v in part_vals
    ]


def touched_blocks(
    spark: SparkSession, index_dir: str, affected: DataFrame
) -> tuple[list[int], DataFrame]:
    """(touched bucket list, current blocks of the ``affected``
    (field, term, span_id, bucket) groups).  The scan is
    bucket-pruned: untouched bucket directories are never read."""
    buckets = sorted(
        r["bucket"] for r in affected.select("bucket").distinct().collect()
    )
    blocks = read_blocks(spark, index_dir)
    scan = (
        blocks.where(F.col("bucket").isin(buckets))
        if buckets
        else blocks.where(F.lit(False))
    )
    keys = ["field", "term", "span_id"]
    return buckets, scan.join(affected.select(*keys), keys)


def rebuild_touched_buckets(
    spark: SparkSession,
    index_dir: str,
    affected: DataFrame,
    surviving_tf: DataFrame,
    avgdl: float,
    span: int,
    boundaries: list[str],
    bucket_list: list[int],
) -> list[tuple[str, str]]:
    """Shared partition-scoped block/terms rewrite for the document
    write and compaction.

    ``affected`` = the (field, term, span_id) posting groups whose
    content changes, in the buckets ``bucket_list`` (see
    ``touched_blocks``); ``surviving_tf`` = the new (field, term,
    doc_id, tf, dl, span_id) stream for exactly those groups.  Only
    the touched bucket directories are rewritten
    (carried-blocks-in-bucket ∪ re-encoded groups); every other
    bucket directory of blocks/ and terms/ is never read or written.
    Returns the swap pairs."""
    from .build import (
        BLOCK_SCHEMA,
        arrow_carry_encoder,
        field_code_col,
        index_fields,
        term_bucket_expr,
    )

    if not bucket_list:
        return []

    blocks = read_blocks(spark, index_dir)
    bl_t = blocks.where(F.col("bucket").isin(bucket_list))
    keys = affected.select("field", "term", "span_id")
    carried = bl_t.join(keys, ["field", "term", "span_id"], "left_anti")

    # same arrangement and encoder as the build's blocks stage, over
    # pre-aggregated (tf-carrying) unpacked rows
    fields = index_fields(_load_manifest(index_dir)["params"])
    nparts = max(4, spark.sparkContext.defaultParallelism)
    arranged = (
        surviving_tf.select(
            field_code_col(F.col("field"), fields),
            "term", "doc_id", "dl", "tf", "span_id",
        )
        .repartition(nparts, "fid", "term", "span_id")
        .sortWithinPartitions("fid", "term", "doc_id")
        .drop("span_id")
    )
    rebuilt = arranged.mapInArrow(
        arrow_carry_encoder(avgdl=avgdl, span=span, fields=fields, dl_bits=None),
        schema=BLOCK_SCHEMA,
    ).withColumn("bucket", term_bucket_expr(F.col("term"), boundaries))

    blocks_tmp = os.path.join(index_dir, "blocks") + "_tmp"
    (
        carried.unionByName(rebuilt)
        .repartition(len(bucket_list), "bucket")
        .sortWithinPartitions("field", "term", "span_id")
        .write.mode("overwrite")
        .option("parquet.block.size", 8 * 1024 * 1024)
        .partitionBy("bucket")
        .parquet(blocks_tmp)
    )

    terms_tmp = os.path.join(index_dir, "terms") + "_tmp"
    # explicit schema: a delete that empties EVERY touched group
    # writes blocks_tmp with no parquet files, and a schema-less read
    # of it would fail instead of yielding the empty terms table
    (
        spark.read.schema(BLOCK_SCHEMA + ", bucket int").parquet(blocks_tmp)
        .groupBy("bucket", "field", "term")
        .agg(
            F.sum("n_docs").cast("long").alias("df"),
            F.max("max_tf_norm").alias("max_tf_norm"),
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
        )
        .sortWithinPartitions("field", "term")
        .write.mode("overwrite")
        .option("parquet.block.size", 1024 * 1024)
        .partitionBy("bucket")
        .parquet(terms_tmp)
    )
    return partition_swap_pairs(
        index_dir, "blocks", blocks_tmp, "bucket", bucket_list
    ) + partition_swap_pairs(
        index_dir, "terms", terms_tmp, "bucket", bucket_list
    )


def stage_stats(
    spark: SparkSession, index_dir: str, d_docs: int, d_tokens: int, max_dl: int
) -> tuple[int, float]:
    """Write the corpus-stats row for the old totals plus (``d_docs``,
    ``d_tokens``) — exact integer arithmetic, no corpus scan — to
    ``stats_tmp`` for the caller's swap.  ``max_dl`` keeps the larger
    of the old value and the given one: after a removal the old value
    is still a valid upper bound, which is all its consumers need.
    Returns the new (n_docs, avgdl)."""
    old = spark.read.parquet(os.path.join(index_dir, "stats")).collect()[0]
    n = int(old["n_docs"]) + d_docs
    t = int(old["total_tokens"]) + d_tokens
    avgdl = (t / n) if n else 0.0
    spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(n, avgdl, t, max(int(old["max_dl"]), max_dl))], 1
        ),
        "n_docs long, avgdl double, total_tokens long, max_dl long",
    ).write.mode("overwrite").parquet(os.path.join(index_dir, "stats_tmp"))
    return n, avgdl


def read_blocks(spark: SparkSession, index_dir: str) -> DataFrame:
    """Blocks table with its explicit schema — valid even when a
    delete emptied every bucket directory (inference would fail)."""
    from .build import BLOCK_SCHEMA

    return spark.read.schema(BLOCK_SCHEMA + ", bucket int").parquet(
        os.path.join(index_dir, "blocks")
    )


EXTRA_SCHEMA = "doc_id long, dl long, doc_part int"


def read_extra(spark: SparkSession, index_dir: str) -> DataFrame:
    """doc_len_extra table (streamed docs' lengths) with its fixed
    schema — valid even when every doc_part directory was emptied."""
    return spark.read.schema(EXTRA_SCHEMA).parquet(
        os.path.join(index_dir, "doc_len_extra")
    )


def read_docs(
    spark: SparkSession, index_dir: str, manifest: dict | None = None
) -> DataFrame:
    """Doc-store table, using the build-recorded schema when present
    (valid even when every doc_part directory was deleted); indexes
    built before the schema was recorded fall back to inference.
    Pass an already-loaded ``manifest`` to skip the disk read (e.g.
    SparkIndex's open-time snapshot)."""
    if manifest is None:
        manifest = _load_manifest(index_dir)
    schema_json = manifest.get("params", {}).get("docs_schema")
    reader = spark.read
    if schema_json:
        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
    return reader.parquet(os.path.join(index_dir, "docs"))


def _check_tag(tag: str) -> None:
    if not tag or "/" in tag or tag in (".", ".."):
        raise ValueError(f"invalid snapshot tag {tag!r}")


def _cleanup_tmp_roots(index_dir: str) -> None:
    for t in ("blocks_tmp", "terms_tmp", "docs_tmp", "doc_len_extra_tmp"):
        shutil.rmtree(os.path.join(index_dir, t), ignore_errors=True)
    for t in _SNAPSHOT_TABLES:
        shutil.rmtree(
            os.path.join(index_dir, t + "_restore_tmp"), ignore_errors=True
        )


def delete_docs(
    spark: SparkSession,
    index_dir: str,
    ids: DataFrame,
    crash_after: int | None = None,
) -> dict:
    """Remove the given doc_ids (DataFrame with a ``doc_id`` column)
    from a built index: doc store, stats, touched blocks, terms.
    Returns counters {n_deleted, touched_spans, n_blocks_touched,
    touched_buckets, touched_doc_parts}.

    A delete is an upsert with an empty batch: the same write
    (``_write_docs_locked``) removes the ids and adds nothing, so it
    folds pending committed stream deltas first like ``upsert_docs``
    (a streamed, not yet compacted doc is deleted, not resurrected by
    the next compaction) and is O(touched) end to end (see module
    docstring).  ``n_deleted`` counts rows actually removed (absent
    ids don't count).  Idempotent: a delete of only absent ids
    returns zero counters before any write.  Single-writer:
    concurrent maintenance on one index is excluded by
    ``writer_lock`` (reference singleton-writer semantics)."""
    no_docs = read_docs(spark, index_dir).drop("dl", "doc_part").where(F.lit(False))
    with writer_lock(index_dir):
        return _write_docs_locked(
            spark, index_dir, ids, no_docs, "delete_docs", crash_after
        )


def upsert_docs(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    crash_after: int | None = None,
) -> dict:
    """Replace-or-insert documents into a built index in one
    partition-scoped pass: ids already present are replaced (their
    OLD postings removed, new ones added), unseen ids are inserted.

    The reference's ``Index.Add`` on an existing id
    (``lib/neosearch/index/index.go:123-160``) overwrites the doc
    store but blindly MergeSet-appends to the posting lists, leaving
    the old content's terms pointing at the doc — stale postings.
    This is the corrected distributed successor: it removes the
    batch's ids and adds the batch in one write
    (``_write_docs_locked``, shared with ``delete_docs``), so replaced
    postings are dropped exactly and only touched ``bucket=`` /
    ``doc_part=`` directories are rewritten (O(touched) compute and
    I/O, see module docstring).

    ``new_docs`` must carry ``doc_id`` plus the same field columns
    the index was built from.  Pending COMMITTED streaming deltas are
    folded in first (a replaced id hiding in ``tf_delta`` would
    otherwise resurrect at the next compaction).  That guarantee
    covers what is durable on disk; an epoch still unacknowledged in
    a LIVE stream's checkpoint can replay after this upsert and
    re-apply its old content — run maintenance with the stream
    drained (single-writer contract, see ``streaming.delta_sink``).
    Returns counters {n_upserted, n_replaced, touched_spans,
    n_blocks_touched, touched_buckets, touched_doc_parts}."""
    with writer_lock(index_dir):
        return _write_docs_locked(
            spark, index_dir, None, new_docs, "upsert_docs", crash_after
        )

_SNAPSHOT_TABLES = (
    "docs", "doc_len_extra", "blocks", "terms", "stats", "counters",
    "tf_delta", "doc_len_delta",
)


def _link_tree(src: str, dst: str) -> int:
    """Hard-link every file under src into the same relative layout
    under dst; returns the file count."""
    n = 0
    for base, _, files in os.walk(src):
        rel = os.path.relpath(base, src)
        tgt = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(tgt, exist_ok=True)
        for f in files:
            os.link(os.path.join(base, f), os.path.join(tgt, f))
            n += 1
    return n


def snapshot(index_dir: str, tag: str) -> dict:
    """Zero-copy point-in-time snapshot: hard-link every table file
    into ``snapshots/<tag>/`` plus the manifest.  Parquet files are
    immutable here — every maintenance op REPLACES files via
    directory swaps, never modifies one in place (streaming only adds
    new delta files) — so a hard-linked tree is a durable consistent
    view at O(#files) metadata cost, no data copied.  This is the
    parquet stand-in for an Iceberg snapshot; the reference's analog
    is dump/restore (``docs/dump-restore.md``), which copies bytes.

    Taken under the writer lock so no swap is mid-flight."""
    _check_tag(tag)
    with writer_lock(index_dir):
        m = _load_manifest(index_dir)
        check_not_torn(m, index_dir)
        snap = os.path.join(index_dir, "snapshots", tag)
        if os.path.exists(snap):
            raise RuntimeError(f"snapshot {tag!r} already exists")
        os.makedirs(snap)
        n_files = 0
        for t in _SNAPSHOT_TABLES:
            src = os.path.join(index_dir, t)
            if os.path.exists(src):
                n_files += _link_tree(src, os.path.join(snap, t))
        shutil.copy2(
            os.path.join(index_dir, "manifest.json"),
            os.path.join(snap, "manifest.json"),
        )
        return {"tag": tag, "n_files": n_files}


def list_snapshots(index_dir: str) -> list[str]:
    root = os.path.join(index_dir, "snapshots")
    if not os.path.exists(root):
        return []
    return sorted(os.listdir(root))


def restore_snapshot(index_dir: str, tag: str) -> dict:
    """Roll the index back to a snapshot — including from a TORN
    state (the documented recovery for a crash mid-swap, which is why
    this does not call ``check_not_torn`` on the current manifest).

    Crash-safe by the same tombstone discipline as ``swap_tables``:
    the current manifest is tombstoned first, tables are replaced by
    fresh hard links from the snapshot, and the snapshot's own
    (tombstone-free) manifest lands last via atomic rename — a crash
    anywhere in between leaves an index that refuses to open and a
    restore that can simply be re-run."""
    _check_tag(tag)
    snap = os.path.join(index_dir, "snapshots", tag)
    if not os.path.exists(os.path.join(snap, "manifest.json")):
        raise RuntimeError(f"no snapshot {tag!r} at {snap}")
    with writer_lock(index_dir):
        try:
            m = _load_manifest(index_dir)
        except (OSError, json.JSONDecodeError):
            m = {}
        m["swap_in_progress"] = {"op": "restore_snapshot", "tag": tag}
        _save_manifest(index_dir, m)
        n_files = 0
        for t in _SNAPSHOT_TABLES:
            cur = os.path.join(index_dir, t)
            src = os.path.join(snap, t)
            tmp = cur + "_restore_tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            if os.path.exists(src):
                n_files += _link_tree(src, tmp)
                if os.path.exists(cur):
                    shutil.rmtree(cur)
                os.replace(tmp, cur)
            elif os.path.exists(cur):
                shutil.rmtree(cur)
        snap_manifest = os.path.join(index_dir, "manifest.json.restore_tmp")
        shutil.copy2(os.path.join(snap, "manifest.json"), snap_manifest)
        os.replace(snap_manifest, os.path.join(index_dir, "manifest.json"))
        _cleanup_tmp_roots(index_dir)
        return {"tag": tag, "n_files": n_files}


def merge_indexes(spark: SparkSession, dst_dir: str, src_dir: str) -> dict:
    """Fold index ``src`` into index ``dst`` — the distributed analog
    of an LSM segment merge (the reference's store compacts segments
    continuously; two independently-built indexes are two segments).

    src's documents are replayed through the partition-scoped upsert
    path, so ids present in both take src's content (newest-segment-
    wins, LSM semantics) and only touched directories of dst are
    rewritten.  src must be fully materialized: an index with
    streamed-only docs (``doc_len_extra`` rows, content not in the
    doc store) can't be merged — compact and rebuild it first."""
    src_m = _load_manifest(src_dir)
    check_not_torn(src_m, src_dir)
    # pending uncompacted deltas would be silently dropped (their
    # postings live outside the doc store) — fold them first
    if os.path.exists(os.path.join(src_dir, "tf_delta")):
        from .streaming import compact_deltas

        compact_deltas(spark, src_dir)
    extra = os.path.join(src_dir, "doc_len_extra")
    if os.path.exists(extra) and len(read_extra(spark, src_dir).take(1)) > 0:
        raise RuntimeError(
            f"source index {src_dir} has streamed-only docs "
            "(doc_len_extra) whose content is not in its doc store; "
            "merge needs full documents — rebuild the source from its "
            "corpus first"
        )
    src_docs = read_docs(spark, src_dir).drop(
        "dl", "doc_part"
    )
    return upsert_docs(spark, dst_dir, src_docs)


def _write_docs_locked(
    spark: SparkSession,
    index_dir: str,
    ids: DataFrame | None,
    batch: DataFrame,
    op: str,
    crash_after: int | None = None,
) -> dict:
    """The one document write (caller holds the writer lock): remove
    ``ids`` (None: the batch's own ids), add ``batch`` (doc-store rows
    without ``dl``/``doc_part``; empty for a delete), in one
    tombstoned partition-scoped swap.  ``op`` ("delete_docs" /
    "upsert_docs") names the manifest entry and the counter keys."""
    from .build import (
        _occurrence_stream,
        _tf_stream,
        apply_date_fields,
        apply_typed_fields,
        check_doc_id_bounds,
        index_fields,
        primary_dl_col,
        term_bucket_expr,
    )
    from .query import decode_blocks

    m = _load_manifest(index_dir)
    check_not_torn(m, index_dir)
    p = m["params"]
    span = int(p["span"])
    boundaries = p.get("bucket_boundaries", [])
    if "docs_span" not in p:
        raise RuntimeError(
            "index predates the partitioned doc-store layout "
            "(format v9, docs_span param) — rebuild it before using "
            f"partition-scoped {op}"
        )
    docs_span = int(p["docs_span"])
    analyzed_fields = list(p["analyzed_fields"])
    date_fields = p.get("date_fields") or {}
    typed_fields = p.get("typed_fields") or {}
    exact_all = index_fields(p)[len(analyzed_fields):]

    # pending COMMITTED stream deltas fold first: a removed id hiding
    # in tf_delta would otherwise resurrect at the next compaction
    if os.path.exists(os.path.join(index_dir, "tf_delta")):
        from .streaming import _compact_deltas_locked

        _compact_deltas_locked(spark, index_dir, None)

    batch = batch.withColumn("doc_id", F.col("doc_id").cast("long"))
    batch = batch.withColumn(
        "dl", primary_dl_col(batch, analyzed_fields[0])
    ).persist()
    # an upsert's ids come from the persisted batch, not its source
    # plan: the many joins on ids then never re-evaluate the source
    # (that cost ~1 s per 100-doc upsert on a 4-vCPU host)
    ids = (
        batch.select("doc_id")
        if ids is None
        else ids.select(F.col("doc_id").cast("long"))
    ).distinct()
    # same bounds guards as IndexBuilder.build (ADVICE r3): an upsert
    # batch must fail as loudly as a build would
    check_doc_id_bounds(batch, docs_span)

    docs = read_docs(spark, index_dir)
    removed_docs = docs.join(ids, "doc_id", "semi").persist()

    # streamed docs (postings but no doc-store row): content unknown,
    # so removing one falls back to span-granular group rebuild
    extra_path = os.path.join(index_dir, "doc_len_extra")
    extra_removed = None
    if os.path.exists(extra_path):
        extra_removed = (
            read_extra(spark, index_dir).join(ids, "doc_id", "semi").persist()
        )

    def release() -> None:
        for df in (batch, removed_docs, extra_removed):
            if df is not None:
                df.unpersist()

    # --- affected groups: OLD content of removed docs ∪ NEW batch
    # content (both through the build's own analyzer, so terms match
    # the persisted postings exactly) — O(touched), no index probe
    old_occ = _occurrence_stream(
        apply_typed_fields(apply_date_fields(removed_docs, date_fields), typed_fields),
        analyzed_fields,
        exact_all,
        include_whole=True,
    )
    new_tf = _tf_stream(
        apply_typed_fields(apply_date_fields(batch, date_fields), typed_fields),
        analyzed_fields,
        exact_all,
    ).withColumn("span_id", F.expr(f"doc_id div {span}"))
    affected = (
        old_occ.select(
            "field", "term", F.expr(f"doc_id div {span}").alias("span_id")
        )
        .unionByName(new_tf.select("field", "term", "span_id"))
        .distinct()
    )
    if extra_removed is not None:
        extra_spans = [
            r["s"]
            for r in extra_removed.select(
                F.expr(f"doc_id div {span}").alias("s")
            ).distinct().collect()
        ]
        if extra_spans:
            affected = affected.unionByName(
                read_blocks(spark, index_dir)
                .where(F.col("span_id").isin(extra_spans))
                .select("field", "term", "span_id")
                .distinct()
            ).distinct()

    # --- incremental stats: old totals − removed + batch
    rstat = removed_docs.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t")
    ).collect()[0]
    n_rem, t_rem = int(rstat["n"]), int(rstat["t"] or 0)
    if extra_removed is not None:
        estat = extra_removed.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t")
        ).collect()[0]
        n_rem += int(estat["n"])
        t_rem += int(estat["t"] or 0)
    bstat = batch.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("t"),
        F.max("dl").alias("m"),
        F.countDistinct("doc_id").alias("nd"),
    ).collect()[0]
    n_batch, t_batch = int(bstat["n"]), int(bstat["t"] or 0)
    if n_batch != int(bstat["nd"]):
        release()
        raise ValueError(
            f"upsert batch has duplicate doc_ids ({n_batch} rows, "
            f"{int(bstat['nd'])} distinct) — a distributed batch has no "
            "row order, so last-write-wins is undefined; dedupe the "
            "batch first"
        )
    if n_batch == 0 and n_rem == 0:
        # nothing to remove or add (a delete of absent ids): return
        # before any write — no directory, stats or manifest changes
        release()
        return _write_counters(op, 0, 0, 0, 0, 0, 0)
    _, avgdl = stage_stats(
        spark, index_dir, n_batch - n_rem, t_batch - t_rem, int(bstat["m"] or 0)
    )

    # --- blocks/terms: drop removed postings from touched groups, add
    # the batch's postings, rewrite touched buckets only
    affected = affected.withColumn(
        "bucket", term_bucket_expr(F.col("term"), boundaries)
    ).persist()
    touched_buckets, old_blocks = touched_blocks(spark, index_dir, affected)
    n_touched_blocks = old_blocks.count()
    n_touched_spans = int(affected.select("span_id").distinct().count())
    surviving_tf = (
        decode_blocks(old_blocks, with_payload=True)
        .join(ids, "doc_id", "left_anti")
        .withColumn("span_id", F.expr(f"doc_id div {span}"))
        .unionByName(new_tf.select("field", "term", "doc_id", "tf", "dl", "span_id"))
    )
    pairs = rebuild_touched_buckets(
        spark, index_dir, affected, surviving_tf, avgdl, span, boundaries,
        touched_buckets,
    )
    affected.unpersist()

    # --- doc store: rewrite only the doc_part dirs containing the ids
    # — surviving old rows in those dirs ∪ the batch's new rows
    touched_parts = sorted(
        r["p"]
        for r in ids.select(
            F.expr(f"doc_id div {docs_span}").alias("p")
        ).distinct().collect()
    )
    batch_rows = batch.withColumn(
        "doc_part", F.expr(f"doc_id div {docs_span}").cast("int")
    ).select(*docs.columns)
    docs_tmp = os.path.join(index_dir, "docs") + "_tmp"
    (
        docs.where(F.col("doc_part").isin(touched_parts))
        .join(ids, "doc_id", "left_anti")
        .unionByName(batch_rows)
        .sortWithinPartitions("doc_part", "doc_id")
        .write.mode("overwrite")
        .partitionBy("doc_part")
        .parquet(docs_tmp)
    )
    pairs += partition_swap_pairs(
        index_dir, "docs", docs_tmp, "doc_part", touched_parts
    )
    # removed streamed docs leave doc_len_extra's touched dirs (a
    # replaced one now has a doc-store row)
    if extra_removed is not None:
        extra_tmp = extra_path + "_tmp"
        (
            read_extra(spark, index_dir)
            .where(F.col("doc_part").isin(touched_parts))
            .join(ids, "doc_id", "left_anti")
            .write.mode("overwrite")
            .partitionBy("doc_part")
            .parquet(extra_tmp)
        )
        pairs += partition_swap_pairs(
            index_dir, "doc_len_extra", extra_tmp, "doc_part", touched_parts
        )
    pairs.append(("stats", os.path.join(index_dir, "stats_tmp")))

    counters = _write_counters(
        op, n_batch, n_rem, n_touched_spans, int(n_touched_blocks),
        len(touched_buckets), len(touched_parts),
    )
    release()
    swap_tables(
        index_dir, pairs, op=op, crash_after=crash_after, **{op: counters}
    )
    _cleanup_tmp_roots(index_dir)
    return counters


def _write_counters(
    op: str, n_batch: int, n_rem: int, spans: int, blocks: int,
    buckets: int, parts: int,
) -> dict:
    """The document write's counters, keyed for ``op``."""
    counters = (
        {"n_deleted": n_rem}
        if op == "delete_docs"
        else {"n_upserted": n_batch, "n_replaced": n_rem}
    )
    counters.update(
        touched_spans=spans,
        n_blocks_touched=blocks,
        touched_buckets=buckets,
        touched_doc_parts=parts,
    )
    return counters
