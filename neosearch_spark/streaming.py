"""Structured-Streaming surfaces.

The reference has NO stream processing (SURVEY §2.9) — its closest
analog is incremental single-document ``Index.Add``
(``/root/reference/lib/neosearch/index/index.go:124-144``).  The
Spark-native successor of that write path is micro-batch ingest:

- ``stream_ingest``: readStream over a growing transcript directory →
  ``foreachBatch`` appends tf/doc_len DELTA tables next to the base
  index (cheap, no block rewrite per batch — LSM-style);
- ``compact_deltas``: folds accumulated deltas into the block index
  by rebuilding ONLY the (term, span) groups the deltas touch —
  the distributed analog of an LSM compaction;
- ``query-side merge`` is not needed after compaction (the index is
  again a single consistent block table).

Plus a standard watermarked windowed aggregation over the events
stream (``windowed_event_counts``) to cover the streaming-agg
surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .analyzer import doc_len_col  # noqa: F401 — re-exported for tests
from .build import primary_dl_col as _primary_dl
from .build import IndexBuilder, _tf_stream


def transcript_schema() -> str:
    return (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, doc_id long"
    )


def stream_ingest(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    analyzed_fields: list[str] | None = None,
):
    """Start a streaming query appending tf/doc_len deltas for new
    transcript files.  Caller stops the query; ``compact_deltas``
    folds deltas into blocks.  Input rows must carry pre-assigned
    doc_ids (streaming docID assignment = monotonic per source
    partition; the batch path's dense assignment doesn't apply to
    unbounded input)."""
    analyzed_fields = analyzed_fields or ["text"]
    src = (
        spark.readStream.schema(transcript_schema())
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def sink(batch: DataFrame, epoch_id: int) -> None:
        # docs_span is re-read from the manifest every micro-batch
        # (a tiny json read) — caching it across batches would let a
        # mid-stream rebuild with a different span disarm the bounds
        # guard below
        delta_sink(batch, epoch_id, index_dir, analyzed_fields)

    return (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _manifest_docs_span(index_dir: str) -> int | None:
    from .maintenance import _load_manifest

    try:
        v = _load_manifest(index_dir).get("params", {}).get("docs_span")
    except FileNotFoundError:
        return None
    return int(v) if v else None


def delta_sink(
    batch: DataFrame,
    epoch_id: int,
    index_dir: str,
    analyzed_fields: list[str],
    docs_span: int | None = None,
) -> None:
    """One micro-batch's delta writes, IDEMPOTENT under foreachBatch's
    at-least-once replay: each epoch overwrites its OWN ``epoch=N``
    partition directory (an append would double every replayed
    posting's tf at the next compaction), and a crash between the two
    writes heals on replay because both directories are rewritten
    whole — and until that replay happens, ``compact_deltas`` folds
    only epochs whose tf side committed (doc_len first, tf last), so
    the incomplete half can never be double-counted; its janitor then
    clears the leftover (the replay rewrites it whole anyway).

    Ordering hazard (reference single-writer semantics): run
    maintenance (upsert/delete/merge) only with the stream DRAINED —
    an epoch replayed after a maintenance op re-applies its batch's
    old content on top of the maintained index.

    ``docs_span``: pass the manifest's value to skip the per-batch
    manifest read when the caller already holds a FRESH manifest."""
    from pyspark.sql import Observation

    from .build import validate_doc_id_bounds

    if docs_span is None:
        docs_span = _manifest_docs_span(index_dir)

    # same doc_id bounds guards as IndexBuilder.build (ADVICE r3): a
    # negative or sparse-hash id must fail loudly HERE, not overflow
    # span/doc_part keys silently at compaction.  Without a manifest
    # (delta dir created before any build) only negativity is
    # checkable — the huge pseudo-span disarms the partition-key test.
    # The min/max ride the doc_len write as an Observation (no extra
    # per-batch Spark job).  The write lands in a dot-prefixed tmp
    # dir (invisible to Spark's file listing) and publishes by rename
    # only AFTER the bounds pass — a failing batch leaves nothing a
    # later compaction could read, same as the old pre-write check.
    import shutil

    obs = Observation()
    dld = os.path.join(index_dir, "doc_len_delta")
    tmp = os.path.join(dld, f".tmp_epoch_{int(epoch_id)}")
    final = os.path.join(dld, f"epoch={int(epoch_id)}")
    (
        batch.select(
            "doc_id", _primary_dl(batch, analyzed_fields[0]).alias("dl")
        )
        .observe(
            obs,
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
            F.count(F.lit(1)).alias("n"),
            F.count("doc_id").alias("n_id"),
        )
        .write.mode("overwrite")
        .parquet(tmp)
    )
    try:
        got = obs.get
        # min/max skip NULLs, so a batch of all-null ids would pass
        # the bounds check and write null doc_ids into the delta —
        # count both ways and fail the batch loudly instead
        if got.get("n", 0) != got.get("n_id", 0):
            raise ValueError(
                f"{got['n'] - got['n_id']} of {got['n']} rows in the "
                "stream batch have NULL doc_id (non-numeric ids cast "
                "to NULL silently) — every streamed document needs an "
                "int64 doc_id"
            )
        validate_doc_id_bounds(
            got.get("lo"), got.get("hi"), docs_span if docs_span else 1 << 32
        )
    except Exception:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)

    tf = _tf_stream(batch, analyzed_fields, [])
    tf.write.mode("overwrite").parquet(
        os.path.join(index_dir, "tf_delta", f"epoch={int(epoch_id)}")
    )


def compact_deltas(spark: SparkSession, index_dir: str, span: int | None = None) -> int:
    """Fold delta tables into the block index — partition-scoped in
    both compute and I/O.

    Only the (field, term, span) groups present in the delta are
    rebuilt (base blocks for those groups decoded, merged with delta
    postings, re-encoded), and only the bucket DIRECTORIES containing
    delta terms are rewritten; untouched bucket directories are never
    read or written (file-level identity — the parquet stand-in for
    an Iceberg partition overwrite of touched term-buckets).  The
    streamed docs' lengths land in the ``doc_len_extra`` table
    (partitioned by doc_part like the doc store — streamed docs have
    postings + lengths but no doc-store row), and corpus stats update
    incrementally from the delta alone.  Returns #touched groups.
    Single-writer: excluded against concurrent maintenance by
    ``writer_lock`` (reference singleton-writer semantics)."""
    from .maintenance import writer_lock

    with writer_lock(index_dir):
        return _compact_deltas_locked(spark, index_dir, span)


def _compact_deltas_locked(spark: SparkSession, index_dir: str, span: int | None) -> int:
    import shutil

    from .build import doc_part_span
    from .maintenance import (
        _cleanup_tmp_roots,
        _load_manifest,
        partition_swap_pairs,
        read_extra,
        rebuild_touched_buckets,
        stage_stats,
        swap_tables,
        touched_blocks,
    )
    from .query import decode_blocks

    p = _load_manifest(index_dir)["params"]
    if span is not None and int(span) != int(p["span"]):
        raise ValueError(
            f"span override {span} != index build span {p['span']}: "
            "blocks keyed on a different span would be invisible to "
            "the query side's span-aligned pruning and accumulators"
        )
    span = int(p["span"])
    boundaries = p.get("bucket_boundaries", [])

    tf_dir = os.path.join(index_dir, "tf_delta")
    dl_dir = os.path.join(index_dir, "doc_len_delta")

    # fold only epochs COMPLETE in both tables.  delta_sink writes
    # doc_len (rename-published, whole when present) then tf
    # (_SUCCESS-marked), so a crash between the two leaves a doc_len
    # epoch with no committed tf twin — folding that half would
    # double-count stats when the stream later replays the epoch.
    # Incomplete leftovers are cleared by the janitor after the swap
    # (their batch never committed to the stream checkpoint, so a
    # restarted stream replays and rewrites them whole).
    def _committed(p: str) -> bool:
        # job-commit evidence: the _SUCCESS marker, or (for configs
        # that disable markers) data files with the _temporary
        # staging dir gone — a crashed job leaves _temporary behind
        if os.path.exists(os.path.join(p, "_SUCCESS")):
            return True
        if os.path.exists(os.path.join(p, "_temporary")):
            return False
        return any(f.endswith(".parquet") for f in os.listdir(p))

    def _epochs(d: str, need_commit: bool) -> set[str]:
        if not os.path.isdir(d):
            return set()
        return {
            e
            for e in os.listdir(d)
            if e.startswith("epoch=")
            and (not need_commit or _committed(os.path.join(d, e)))
        }

    def _janitor() -> None:
        # anything in the delta dirs that is NOT a complete epoch pair
        # is an uncommitted leftover — a crashed sink's .tmp_epoch_*
        # staging dir, a half-written pair, a markers-off file-less
        # dir.  Its batch never committed to the stream checkpoint
        # (delta_sink raises/crashes before returning), so a restarted
        # stream REPLAYS and rewrites it whole; left behind it would
        # wedge dump_ns ("pending deltas") forever when no replay ever
        # comes.  (Same contract as always: no live sink while
        # maintenance holds the writer lock.)
        fresh = _epochs(tf_dir, True) & _epochs(dl_dir, False)
        for root in (tf_dir, dl_dir):
            if not os.path.isdir(root):
                continue
            for e in os.listdir(root):
                if e not in fresh:
                    shutil.rmtree(os.path.join(root, e), ignore_errors=True)
            try:
                os.rmdir(root)
            except OSError:
                pass

    complete = sorted(_epochs(tf_dir, True) & _epochs(dl_dir, False))
    if not complete:
        _janitor()
        return 0
    # explicit schemas (delta_sink's exact output types): a committed
    # epoch may be FILE-LESS (empty micro-batch, or all-empty texts on
    # the tf side) and schema inference dies on file-less dirs
    tf_delta = (
        spark.read.schema("field string, term string, doc_id long, dl int, tf long")
        .option("basePath", tf_dir)
        .parquet(*[os.path.join(tf_dir, e) for e in complete])
        .drop("epoch")
    )
    dl_delta = (
        spark.read.schema("doc_id long, dl int")
        .option("basePath", dl_dir)
        .parquet(*[os.path.join(dl_dir, e) for e in complete])
        .drop("epoch")
        .dropDuplicates(["doc_id"])
        .persist()
    )

    # --- incremental stats: old totals + the delta's count/sum —
    # append-only ingest (delta doc ids are new), no corpus scan
    d = dl_delta.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("t"),
        F.max("dl").alias("m"),
    ).collect()[0]
    n_new, avgdl = stage_stats(
        spark, index_dir, int(d["n"]), int(d["t"] or 0), int(d["m"] or 0)
    )

    # --- doc_len_extra: only the doc_part dirs the delta lands in
    docs_span = int(p.get("docs_span") or doc_part_span(n_new, span))
    extra_path = os.path.join(index_dir, "doc_len_extra")
    delta_parted = dl_delta.withColumn(
        "doc_part", F.expr(f"doc_id div {docs_span}").cast("int")
    )
    touched_parts = sorted(
        r["doc_part"]
        for r in delta_parted.select("doc_part").distinct().collect()
    )
    extra_new = delta_parted
    if os.path.exists(extra_path):
        extra_new = (
            read_extra(spark, index_dir)
            .where(F.col("doc_part").isin(touched_parts))
            .unionByName(delta_parted)
            .dropDuplicates(["doc_id"])
        )
    extra_tmp = extra_path + "_tmp"
    extra_new.write.mode("overwrite").partitionBy("doc_part").parquet(extra_tmp)

    # --- blocks/terms: decode touched base groups, merge with delta,
    # re-encode; rewrite touched bucket dirs only
    from .build import term_bucket_expr

    delta_k = tf_delta.withColumn("span_id", F.expr(f"doc_id div {span}"))
    affected = (
        delta_k.select("field", "term", "span_id")
        .distinct()
        .withColumn("bucket", term_bucket_expr(F.col("term"), boundaries))
        .persist()
    )
    n_touched = affected.count()
    touched_buckets, base = touched_blocks(spark, index_dir, affected)
    merged_tf = (
        decode_blocks(base, with_payload=True)
        .unionByName(delta_k.select("field", "term", "doc_id", "tf", "dl"))
        .groupBy("field", "term", "doc_id", "dl")
        .agg(F.sum("tf").alias("tf"))
        .withColumn("span_id", F.expr(f"doc_id div {span}"))
    )
    pairs = rebuild_touched_buckets(
        spark, index_dir, affected, merged_tf, avgdl, span, boundaries,
        touched_buckets,
    )
    affected.unpersist()
    dl_delta.unpersist()

    pairs += partition_swap_pairs(
        index_dir, "doc_len_extra", extra_tmp, "doc_part", touched_parts
    )
    pairs.append(("stats", os.path.join(index_dir, "stats_tmp")))
    # delta removal rides INSIDE the tombstoned swap (a missing tmp
    # means "remove the final dir"): a crash after folding but before
    # removal would otherwise leave a clean-looking index whose next
    # compaction re-applies the same deltas (doubled tf, double-
    # counted stats); inside the swap, that crash leaves a torn index
    # that refuses to open until restored.  Only the epochs THIS
    # compaction folded ride the swap; leftovers are the post-swap
    # janitor's job (below).
    no_tmp = os.path.join(index_dir, "_no_such_tmp")
    for e in complete:
        pairs.append((f"tf_delta/{e}", no_tmp))
        pairs.append((f"doc_len_delta/{e}", no_tmp))

    # all outputs materialized — swap under a manifest tombstone so a
    # crash mid-swap leaves an index that refuses to open rather than
    # serving a torn view (the Iceberg-scale equivalent is a single
    # snapshot commit)
    swap_tables(
        index_dir,
        pairs,
        op="compact_deltas",
        compact_deltas={"touched_groups": int(n_touched)},
    )
    _cleanup_tmp_roots(index_dir)
    # a pair completed since the fold snapshot survives the janitor
    # for the next compaction; everything else uncommitted is cleared
    _janitor()
    return n_touched


def windowed_event_counts(
    events: DataFrame, window: str = "5 minutes", slide: str | None = None, watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation (streaming or
    batch DataFrame — same expression)."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total_value"),
        )
    )


def sessionize_stream(events: DataFrame, gap_sec: int = 1800) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState):
    per-user sessionization with event-time gap closure — the
    conversation-assembly shape a transcript pipeline runs on a turn
    stream (the reference has no streaming at all, SURVEY §2.9).

    State per user = the open session (start, end, n_events) as epoch
    seconds; each micro-batch's events either extend it or close it
    (gap > gap_sec) and open a new one.  CLOSED sessions emit
    (append semantics); the open tail stays in state across
    micro-batches.  Equivalence contract (tested): for in-order
    batches the emitted sessions are exactly batch lag-gap
    sessionization's sessions minus each user's final (still-open)
    one.

    Out-of-order input (ADVICE r3): a LATE event still inside the
    open session's reach (ts ≥ open_start − gap) merges into it and
    can extend session_start DOWNWARD (min-tracked); events older
    than that reach would belong to sessions possibly already
    emitted — append mode cannot retract, so they are DROPPED (the
    streaming analog of a watermark; pair the source with a real
    watermark to bound how late data can arrive).

    Per batch+user the event vector is split vectorized (diff +
    nonzero, and the open-session joinable prefix by one vectorized
    running-gap scan); only the per-SESSION emit loop is Python —
    bounded by the number of closed sessions in the batch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        (user_id,) = key
        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        rows = pd.concat(parts, ignore_index=True).sort_values("ts")
        t = rows["ts"].astype("int64").to_numpy() // 1_000_000_000
        merged = None
        if state.exists:
            ps, pe, pn = (int(x) for x in state.get)
            # older than the open session's reach → possibly before
            # already-emitted sessions → drop (no retraction in
            # append mode)
            t = t[t >= ps - gap_sec]
            if len(t) == 0:
                return
            # joinable prefix: event j joins when its gap to the
            # session end SO FAR (which grows with each joined event)
            # is ≤ gap_sec.  t is sorted, so end-so-far before event
            # j is max(pe, t[j-1]) — vectorizable; and once one event
            # fails to join, no later (larger) one can.
            prev_end = np.maximum(pe, np.concatenate(([pe], t[:-1])))
            nojoin = (t - prev_end) > gap_sec
            j = int(np.argmax(nojoin)) if nojoin.any() else len(t)
            if j > 0:
                # late events may precede the stored start: min-track
                merged = (min(ps, int(t[0])), max(pe, int(t[j - 1])), pn + j)
            else:
                merged = (ps, pe, pn)
            t = t[j:]
        segs = []
        if len(t):
            new = np.ones(len(t), dtype=bool)
            new[1:] = (t[1:] - t[:-1]) > gap_sec
            starts = np.nonzero(new)[0]
            ends = np.append(starts[1:], len(t))
            segs = [
                (int(t[s]), int(t[e - 1]), int(e - s)) for s, e in zip(starts, ends)
            ]
        if merged is not None:
            segs.insert(0, merged)
        *closed, open_tail = segs
        state.update(open_tail)
        if closed:
            yield pd.DataFrame(
                [(user_id, a, b, n) for a, b, n in closed],
                columns=["user_id", "session_start", "session_end", "n_events"],
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, session_start long, session_end long, n_events long",
        stateStructType="s long, e long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
