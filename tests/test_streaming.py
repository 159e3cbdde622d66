"""Streaming ingest + compaction: base index + streamed delta +
compact == full batch rebuild (posting identity, BM25 rank
identity, WAND still lossless with mixed-era blocks)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from neosearch_spark import fts
from neosearch_spark.build import IndexBuilder
from neosearch_spark.docids import assign_doc_ids
from neosearch_spark.query import SparkIndex
from neosearch_spark.streaming import compact_deltas, stream_ingest, windowed_event_counts
from neosearch_spark.synth import synth_transcripts

N = 400
SPLIT = 300


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    docs = assign_doc_ids(synth_transcripts(spark, N, seed=31)).cache()

    full_dir = str(root / "full_idx")
    IndexBuilder(full_dir, span=64).build(docs)

    base_dir = str(root / "base_idx")
    IndexBuilder(base_dir, span=64).build(docs.where(F.col("doc_id") < SPLIT))

    # stream the remaining turns in as new files
    delta_src = str(root / "delta_src")
    docs.where(F.col("doc_id") >= SPLIT).coalesce(2).write.mode("overwrite").parquet(delta_src)
    q = stream_ingest(spark, delta_src, base_dir, str(root / "ckpt"))
    q.awaitTermination(120)
    n_touched = compact_deltas(spark, base_dir)
    assert n_touched > 0
    return SparkIndex(spark, full_dir), SparkIndex(spark, base_dir), docs


def test_posting_identity_after_compaction(setup):
    full, merged, _ = setup
    for term in ["tok1", "tok2", "neoway", "tok17"]:
        a = [r["doc_id"] for r in full.term_docs(term).collect()]
        b = [r["doc_id"] for r in merged.term_docs(term).collect()]
        assert a == b, term


def test_stats_updated(setup):
    full, merged, _ = setup
    assert merged.n_docs == full.n_docs == N
    assert abs(merged.avgdl - full.avgdl) < 1e-9


def _rows(idx, q):
    return [(r["doc_id"], round(r["score"], 9)) for r in idx.bm25_topk(q, 10).collect()]


def test_bm25_identity_after_compaction(setup):
    full, merged, _ = setup
    for q in ["tok1 tok3 tok17", "tok2 tok5"]:
        assert _rows(full, q) == _rows(merged, q), q


def test_wand_lossless_with_mixed_era_blocks(setup, monkeypatch):
    """avgdl changed between the base build and compaction, so the
    compacted index mixes blocks encoded under different avgdls:
    their stale enc_avgdl bounds must still prune losslessly.  The
    queries are forced hot (this corpus is far under the local
    posting cap) and the pruned path must have read mixed-era
    bounds."""
    _, merged, _ = setup
    local = {q: _rows(merged, q) for q in ["tok1 tok3 tok17", "tok1"]}

    bounds: list[dict] = []
    orig = SparkIndex._span_meta

    def spy(self, uniq, field):
        out = orig(self, uniq, field)
        bounds.append(out)
        return out

    monkeypatch.setattr(SparkIndex, "_span_meta", spy)
    monkeypatch.setattr(SparkIndex, "LOCAL_SCORE_MAX_POSTINGS", 0)
    for q, want in local.items():
        bounds.clear()
        pr = _rows(merged, q)
        assert len(bounds) == 1, "the pruned (WAND) path must run"
        eras = {a for spans in bounds[0].values() for _, _, a in spans}
        assert len(eras) > 1 and any(a != merged.avgdl for a in eras), (q, eras)
        with monkeypatch.context() as mp:
            mp.setattr(SparkIndex, "META_COLLECT_CAP", 0)
            ex = _rows(merged, q)
        assert pr == ex == want, q


def test_one_token_phrase_confirms_against_doc_store(setup):
    """A streamed-then-compacted doc has postings but no doc-store
    row; every phrase, one token or many, answers from the doc store
    like the direct scan over it."""
    _, merged, docs = setup
    w = "tok1"
    streamed = {
        r["doc_id"]
        for r in docs.where(F.col("doc_id") >= SPLIT).select("doc_id", "text").collect()
        if w in r["text"].strip(" ").lower().split(" ")
    }
    # premise: the token is in streamed docs' postings
    assert streamed & {r["doc_id"] for r in merged.term_docs(w).collect()}
    got = [r["doc_id"] for r in merged.phrase_docs(w).collect()]
    want = [r["doc_id"] for r in fts.phrase_docs(merged.docs, w).collect()]
    assert got == want and got


def test_windowed_event_counts_streaming(spark, tmp_path):
    src = str(tmp_path / "ev")
    spark.createDataFrame(
        [(i, f"2024-01-01 00:{i % 30:02d}:00", i % 3, f"type{i % 2}", float(i)) for i in range(200)],
        "event_id long, ts_s string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s").write.parquet(src)

    stream = (
        spark.readStream.schema("event_id long, user_id long, event_type string, value double, ts timestamp")
        .parquet(src)
    )
    q = (
        windowed_event_counts(stream, "5 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("winout")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batch = windowed_event_counts(spark.read.parquet(src), "5 minutes").collect()
    # append-mode emits only watermark-closed windows; batch mode has all.
    # verify streaming produced a subset with matching values
    got = {(str(r["window"]), r["event_type"]): (r["n"], r["total_value"])
           for r in spark.sql("select * from winout").collect()}
    want = {(str(r["window"]), r["event_type"]): (r["n"], r["total_value"]) for r in batch}
    assert set(got) <= set(want)
    for k, v in got.items():
        assert want[k] == v


def test_delete_after_compaction(spark, tmp_path):
    """Maintenance-path interplay: stream deltas in, compact, then
    row-level delete docs from BOTH eras (base-built and streamed).
    Queries and stats must match an oracle built on the surviving
    corpus — exercises doc_len_extra bookkeeping and the span-level
    fallback for streamed docs with no doc-store row."""
    from neosearch_spark.maintenance import delete_docs
    from neosearch_spark.oracle import OracleIndex

    docs = assign_doc_ids(synth_transcripts(spark, 260, seed=41)).cache()
    base_dir = str(tmp_path / "era_idx")
    IndexBuilder(base_dir, span=32).build(docs.where(F.col("doc_id") < 200))

    delta_src = str(tmp_path / "era_delta")
    docs.where(F.col("doc_id") >= 200).coalesce(1).write.mode("overwrite").parquet(delta_src)
    q = stream_ingest(spark, delta_src, base_dir, str(tmp_path / "era_ckpt"))
    q.awaitTermination(120)
    assert compact_deltas(spark, base_dir) > 0

    # delete a mix: base-era docs (in the doc store) + streamed-era
    # docs (doc_len_extra only)
    deleted = {5, 50, 51, 205, 240}
    counters = delete_docs(
        spark, base_dir,
        spark.createDataFrame([(i,) for i in deleted], "doc_id long"),
    )
    assert counters["n_deleted"] == len(deleted)

    si = SparkIndex(spark, base_dir)
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    oi = OracleIndex({k: v for k, v in texts.items() if k not in deleted})
    assert si.n_docs == oi.n_docs
    assert abs(si.avgdl - oi.avgdl) < 1e-9
    for t in ["tok1", "tok2", "tok17"]:
        got = [r["doc_id"] for r in si.term_docs(t).collect()]
        assert got == oi.term(t), t
    want = oi.bm25_topk("tok1 tok3", 10)
    got = [(r["doc_id"], r["score"]) for r in si.bm25_topk("tok1 tok3", 10).collect()]
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert abs(g[1] - w[1]) < 1e-9


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionization: state must carry open
    sessions ACROSS micro-batches (maxFilesPerTrigger=1, session
    spanning two files) and the emitted (closed) sessions must equal
    batch lag-gap sessionization minus each user's final session."""
    import time as _time

    from neosearch_spark.streaming import sessionize_stream

    def ts(minute):
        return f"2024-01-01 {minute // 60:02d}:{minute % 60:02d}:00"

    # user 1: one session split across the two files (gap 5 min <
    # 30 min), then a far-later session; user 2: two distinct sessions
    f1 = [(1, 1, ts(0)), (2, 1, ts(5)), (10, 2, ts(0))]
    f2 = [(3, 1, ts(10)), (4, 1, ts(300)), (11, 2, ts(100)), (12, 2, ts(105))]
    src = str(tmp_path / "sess_src")
    schema = "event_id long, user_id long, ts_s string"
    spark.createDataFrame(f1, schema).withColumn(
        "ts", F.to_timestamp("ts_s")
    ).drop("ts_s").coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)  # distinct mtimes -> deterministic batch order
    spark.createDataFrame(f2, schema).withColumn(
        "ts", F.to_timestamp("ts_s")
    ).drop("ts_s").coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        sessionize_stream(stream, gap_sec=1800)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessout")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("select * from sessout").collect()
    }

    # expectation: per user, all sessions but the last (still open).
    # user 1 sessions: [0,5,10] (4 events? events at minutes 0,5,10 ->
    # one session of 3 events) then [300] open -> closed = (0..10, 3)
    # user 2 sessions: [0] then [100,105] open -> closed = (0, 0, 1)
    def epoch(minute):
        import datetime

        return int(
            datetime.datetime(
                2024, 1, 1, minute // 60, minute % 60, tzinfo=datetime.timezone.utc
            ).timestamp()
        )

    want = {
        (1, epoch(0), epoch(10), 3),
        (2, epoch(0), epoch(0), 1),
    }
    assert got == want


def test_stateful_sessionize_out_of_order(spark, tmp_path):
    """Out-of-order micro-batches (ADVICE r3): a late event inside
    the open session's reach merges AND extends session_start
    downward (min-tracked); an event older than the reach is dropped
    (append mode cannot retract already-emitted sessions)."""
    import time as _time

    from neosearch_spark.streaming import sessionize_stream

    def ts(minute):
        return f"2024-01-01 {minute // 60:02d}:{minute % 60:02d}:00"

    # batch 1 opens session [60, 65]; batch 2 arrives out of order:
    # minute 40 is late but within reach (60 - 30 = 30) → merges and
    # pulls the start down to 40; minute 0 is beyond the reach →
    # dropped; minute 300 closes the merged session and stays open
    f1 = [(1, 1, ts(60)), (2, 1, ts(65))]
    f2 = [(3, 1, ts(40)), (4, 1, ts(0)), (5, 1, ts(300))]
    src = str(tmp_path / "sess_ooo_src")
    schema = "event_id long, user_id long, ts_s string"
    spark.createDataFrame(f1, schema).withColumn(
        "ts", F.to_timestamp("ts_s")
    ).drop("ts_s").coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)
    spark.createDataFrame(f2, schema).withColumn(
        "ts", F.to_timestamp("ts_s")
    ).drop("ts_s").coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        sessionize_stream(stream, gap_sec=1800)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessooo")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("select * from sessooo").collect()
    }

    def epoch(minute):
        import datetime

        return int(
            datetime.datetime(
                2024, 1, 1, minute // 60, minute % 60, tzinfo=datetime.timezone.utc
            ).timestamp()
        )

    # merged session [40, 65] with 3 events (late 40 joined; ancient
    # 0 dropped); [300] stays open and unemitted
    assert got == {(1, epoch(40), epoch(65), 3)}


def test_delta_sink_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying an epoch must not
    double postings (each epoch overwrites its own epoch= directory),
    and the compacted result equals a fresh build over the union."""
    from neosearch_spark.streaming import compact_deltas, delta_sink

    base = assign_doc_ids(synth_transcripts(spark, 150, seed=61)).cache()
    d = str(tmp_path / "replay_idx")
    IndexBuilder(d, span=64).build(base)

    n = base.count()
    newdocs = (
        base.where(F.col("doc_id") < 4)
        .withColumn("doc_id", F.col("doc_id") + F.lit(n).cast("long"))
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "doc_id")
    )
    delta_sink(newdocs, 0, d, ["text"])
    delta_sink(newdocs, 0, d, ["text"])  # replayed epoch — overwrite
    compact_deltas(spark, d)

    si = SparkIndex(spark, d)
    assert si.n_docs == n + 4

    d_fresh = str(tmp_path / "replay_fresh")
    IndexBuilder(d_fresh, span=64).build(base.unionByName(newdocs.select(*base.columns)))
    from test_upsert import _logical

    assert _logical(spark, d) == _logical(spark, d_fresh)


def test_compact_crash_cannot_reapply_deltas(spark, tmp_path):
    """Delta removal rides inside the tombstoned swap: after a
    successful compaction the delta dirs are gone atomically with the
    fold, so a re-run is a no-op (returns 0 touched groups) and never
    re-applies the same postings."""
    import os

    from neosearch_spark.streaming import compact_deltas, delta_sink

    base = assign_doc_ids(synth_transcripts(spark, 100, seed=62))
    d = str(tmp_path / "noreapply_idx")
    IndexBuilder(d, span=64).build(base)
    newdocs = (
        base.where(F.col("doc_id") < 2)
        .withColumn("doc_id", F.col("doc_id") + F.lit(100).cast("long"))
    )
    delta_sink(newdocs, 0, d, ["text"])
    assert compact_deltas(spark, d) > 0
    assert not os.path.exists(os.path.join(d, "tf_delta"))
    assert compact_deltas(spark, d) == 0  # idempotent re-run
    assert SparkIndex(spark, d).n_docs == 102

    # span override that disagrees with the build span is refused
    delta_sink(newdocs.withColumn("doc_id", F.col("doc_id") + 10), 1, d, ["text"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="span override"):
        compact_deltas(spark, d, span=32)


def test_compact_skips_incomplete_epoch_pair(spark, tmp_path):
    # delta_sink order is doc_len (rename-published) then tf
    # (job-committed): a crash between them leaves a doc_len epoch
    # with no tf twin.  Compaction must fold only COMPLETE pairs —
    # counting stats from those alone — and its janitor clears the
    # orphan (its batch never committed to the stream checkpoint, so
    # a replay rewrites it whole; left behind it would wedge dump_ns
    # on "pending deltas" forever).
    import json as _json

    from neosearch_spark.streaming import compact_deltas, delta_sink

    d = str(tmp_path / "inc_idx")
    docs = assign_doc_ids(synth_transcripts(spark, 60, seed=5))
    IndexBuilder(d, span=64).build(docs.where(F.col("doc_id") < 40))

    new0 = docs.where((F.col("doc_id") >= 40) & (F.col("doc_id") < 50))
    delta_sink(new0, 0, d, ["text"])
    # simulate the crash: epoch 1 publishes doc_len but never writes tf
    orphan = docs.where(F.col("doc_id") >= 50)
    from neosearch_spark.streaming import doc_len_col

    orphan.select(
        "doc_id", doc_len_col(F.col("text")).alias("dl")
    ).write.mode("overwrite").parquet(
        os.path.join(d, "doc_len_delta", "epoch=1")
    )

    assert compact_deltas(spark, d) > 0
    # the orphan half never reached stats, and the janitor cleared it
    # along with the folded pair — dump_ns is not wedged
    assert not os.path.exists(os.path.join(d, "doc_len_delta"))
    assert not os.path.exists(os.path.join(d, "tf_delta"))
    stats = spark.read.parquet(os.path.join(d, "stats")).collect()[0]
    assert stats["n_docs"] == 50

    # the stream's replay rewrites the epoch whole; the next
    # compaction folds it exactly once
    delta_sink(orphan, 1, d, ["text"])
    assert compact_deltas(spark, d) > 0
    stats = spark.read.parquet(os.path.join(d, "stats")).collect()[0]
    assert stats["n_docs"] == 60


def test_compact_handles_empty_epoch(spark, tmp_path):
    # an empty micro-batch commits file-less epoch dirs; compaction
    # must fold (nothing) and clean them rather than dying on
    # schema inference over a file-less directory
    from neosearch_spark.streaming import compact_deltas, delta_sink

    d = str(tmp_path / "empty_idx")
    docs = assign_doc_ids(synth_transcripts(spark, 30, seed=8))
    IndexBuilder(d, span=64).build(docs.where(F.col("doc_id") < 20))
    delta_sink(docs.where(F.col("doc_id") < 0), 0, d, ["text"])   # empty
    delta_sink(docs.where(F.col("doc_id") >= 20), 1, d, ["text"])  # 10 docs
    compact_deltas(spark, d)
    assert SparkIndex(spark, d).n_docs == 30
    assert not os.path.exists(os.path.join(d, "tf_delta"))


def test_compact_clears_stale_tmp_and_dump_unwedges(spark, tmp_path):
    # a sink killed mid doc_len staging leaves .tmp_epoch_* with
    # parquet inside (and maybe a half-written pair); the janitor
    # must clear them — even when there is NOTHING to fold — so
    # dump_ns stops refusing with "pending deltas"
    from neosearch_spark.analyzer import doc_len_col
    from neosearch_spark.nscript import dump_ns
    from neosearch_spark.streaming import compact_deltas

    d = str(tmp_path / "tmp_idx")
    docs = assign_doc_ids(synth_transcripts(spark, 20, seed=4))
    IndexBuilder(d, span=64).build(docs)
    stale = os.path.join(d, "doc_len_delta", ".tmp_epoch_9")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-0.parquet"), "wb") as f:
        f.write(b"PAR1")
    # plus an orphan half pair (doc_len published, tf never written)
    docs.limit(3).select(
        "doc_id", doc_len_col(F.col("text")).alias("dl")
    ).write.parquet(os.path.join(d, "doc_len_delta", "epoch=0"))

    assert compact_deltas(spark, d) == 0  # nothing foldable
    assert not os.path.exists(os.path.join(d, "doc_len_delta"))
    n = dump_ns(spark, d, str(tmp_path / "ok.ns"))
    assert n == 20
