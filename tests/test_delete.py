"""Row-level document deletion (the reference's Writer.Delete /
engine delete analog, ``store/goleveldb/writer.go:54-65``,
``engine/engine.go:148-150``) + crash-safe table swaps."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neosearch_spark.build import IndexBuilder
from neosearch_spark.docids import assign_doc_ids
from neosearch_spark.maintenance import delete_docs
from neosearch_spark.oracle import OracleIndex
from neosearch_spark.query import SparkIndex, decode_blocks
from neosearch_spark.synth import synth_transcripts

from test_index_golden import assert_block_invariants

N_TURNS = 500


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    docs = assign_doc_ids(synth_transcripts(spark, N_TURNS, seed=21))
    d = str(tmp_path_factory.mktemp("del_idx"))
    IndexBuilder(d, span=64).build(docs)
    rows = docs.select("doc_id", "text").collect()
    texts = {r["doc_id"]: r["text"] for r in rows}
    return d, texts


def _sig(spark, d):
    return (
        spark.read.parquet(d + "/blocks")
        .select(
            F.md5(
                F.concat_ws(
                    "|", "field", "term", "span_id",
                    F.base64("docs_enc"), F.base64("tfs_enc"),
                    F.base64("dls_enc"),
                )
            ).alias("h")
        )
        .agg(
            F.sum(F.conv(F.substring("h", 1, 15), 16, 10).cast("decimal(38,0)")).alias("s")
        )
        .collect()[0]["s"]
    )


def test_delete_matches_filtered_oracle(spark, built):
    d, texts = built
    deleted = {3, 7, 11, 120, 121, 122, 300}
    counters = delete_docs(
        spark, d, spark.createDataFrame([(i,) for i in deleted], "doc_id long")
    )
    assert counters["n_deleted"] == len(deleted)
    assert counters["touched_spans"] <= len(deleted)
    si = SparkIndex(spark, d)
    oi = OracleIndex({k: v for k, v in texts.items() if k not in deleted})

    # stats reflect the filtered corpus
    assert si.n_docs == oi.n_docs
    assert abs(si.avgdl - oi.avgdl) < 1e-9

    # every query path agrees with an oracle built on the filtered
    # corpus, and never returns a deleted doc
    for t in ["tok1", "tok2", "tok17"]:
        got = [r["doc_id"] for r in si.term_docs(t).collect()]
        assert got == oi.term(t), t
        assert not (set(got) & deleted)
    got_p = [r["doc_id"] for r in si.prefix_docs("tok1").collect()]
    assert got_p == oi.prefix("tok1")
    want = oi.bm25_topk("tok1 tok3", 10)
    got = [
        (r["doc_id"], r["score"])
        for r in si.bm25_topk("tok1 tok3", 10).collect()
    ]
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert abs(g[1] - w[1]) < 1e-9
    assert not ({g[0] for g in got} & deleted)


def test_delete_only_touches_deleted_spans(spark, built):
    d, _ = built
    # spans 64-wide; doc 3,7,11 -> span 0; 120-122 -> span 1; 300 -> span 4
    blocks = spark.read.parquet(d + "/blocks")
    touched_spans = {0, 1, 4}
    # untouched spans must still contain postings (carried by identity)
    remaining = {
        r["span_id"]
        for r in blocks.select("span_id").distinct().collect()
    }
    assert remaining - touched_spans, "untouched spans must survive"


def test_delete_idempotent(spark, built):
    d, _ = built
    before = _sig(spark, d)
    delete_docs(
        spark, d, spark.createDataFrame([(3,), (300,)], "doc_id long")
    )
    assert _sig(spark, d) == before


def _dir_file_hashes(root):
    """{relpath: md5} over every file under root."""
    import hashlib
    import os

    out = {}
    for base, _, files in os.walk(root):
        for f in files:
            p = os.path.join(base, f)
            out[os.path.relpath(p, root)] = hashlib.md5(
                open(p, "rb").read()
            ).hexdigest()
    return out


def test_delete_is_partition_scoped(spark, tmp_path):
    """The O(touched)-I/O contract: deleting a doc whose vocabulary
    lives in a few term buckets (and one doc_part) leaves every OTHER
    bucket directory and doc_part directory byte-identical — those
    files are carried by identity, never rewritten (the parquet
    stand-in for an Iceberg partition overwrite)."""
    import os

    # vocabulary split: 160 'alpha*' docs (buckets low in term order)
    # + 8 'zz*' docs (last buckets); deleting a zz doc must not touch
    # any alpha-only bucket
    rows = [
        (i, f"alpha{i % 37} alpha{(i * 7) % 37} alpha{(i * 11) % 37}")
        for i in range(160)
    ] + [(160 + j, f"zz{j} zz{(j + 1) % 8} zz{(j + 2) % 8}") for j in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "scoped_idx")
    IndexBuilder(d, span=32, n_buckets=8).build(docs)

    before_blocks = _dir_file_hashes(os.path.join(d, "blocks"))
    before_docs = _dir_file_hashes(os.path.join(d, "docs"))
    before_terms = _dir_file_hashes(os.path.join(d, "terms"))

    si = SparkIndex(spark, d)
    z_terms = [r["term"] for r in si.terms.where(F.col("term").startswith("zz")).select("term").collect()]
    z_buckets = {si._bucket_of(t) for t in z_terms}
    counters = delete_docs(
        spark, d, spark.createDataFrame([(163,)], "doc_id long")
    )
    assert counters["n_deleted"] == 1
    assert counters["touched_buckets"] <= len(z_buckets)

    after_blocks = _dir_file_hashes(os.path.join(d, "blocks"))
    after_docs = _dir_file_hashes(os.path.join(d, "docs"))
    after_terms = _dir_file_hashes(os.path.join(d, "terms"))

    def changed_parts(before, after, prefix):
        keys = set(before) | set(after)
        return {
            k.split(os.sep)[0]
            for k in keys
            if k.startswith(prefix) and before.get(k) != after.get(k)
        }

    # only z-term buckets were rewritten; alpha buckets byte-identical
    assert changed_parts(before_blocks, after_blocks, "bucket=") <= {
        f"bucket={b}" for b in z_buckets
    }
    assert changed_parts(before_terms, after_terms, "bucket=") <= {
        f"bucket={b}" for b in z_buckets
    }
    # some bucket must be carried by identity (not a full rewrite)
    untouched = {
        k for k in before_blocks
        if k.startswith("bucket=") and after_blocks.get(k) == before_blocks[k]
    }
    assert untouched, "at least one bucket dir must be carried by identity"

    # doc store: only doc_part=5 (docs 160-191 at docs_span=32) changed
    assert changed_parts(before_docs, after_docs, "doc_part=") == {"doc_part=5"}

    # correctness after the scoped rewrite
    assert [r["doc_id"] for r in si.term_docs("zz3").collect()] == [
        r["doc_id"]
        for r in spark.createDataFrame(
            [(i,) for i, t in rows if "zz3" in t.split() and i != 163],
            "doc_id long",
        ).orderBy("doc_id").collect()
    ]
    si2 = SparkIndex(spark, d)
    assert si2.n_docs == 167


def test_crash_mid_swap_refuses_to_open(spark, tmp_path):
    docs = assign_doc_ids(synth_transcripts(spark, 120, seed=5))
    d = str(tmp_path / "crash_idx")
    IndexBuilder(d, span=32).build(docs)
    with pytest.raises(RuntimeError, match="injected crash"):
        delete_docs(
            spark, d,
            spark.createDataFrame([(1,), (2,)], "doc_id long"),
            crash_after=1,
        )
    with pytest.raises(RuntimeError, match="torn table swap"):
        SparkIndex(spark, d)
    with pytest.raises(RuntimeError, match="torn table swap"):
        delete_docs(spark, d, spark.createDataFrame([(3,)], "doc_id long"))


def test_delete_equals_fresh_rebuild_logically(spark, tmp_path):
    """Strongest delete correctness statement: after deleting D from
    an index over C, the decoded posting stream (field, term, doc_id,
    tf, dl) equals that of an index built directly on C \\ D.
    (Physical block shapes may differ — the delete path merges former
    singleton whole-string blocks — but every reader is additive over
    blocks, so logical equality is the invariant that matters.)"""
    docs = assign_doc_ids(synth_transcripts(spark, 300, seed=77)).cache()
    deleted = {2, 9, 57, 130, 131, 250}

    d_del = str(tmp_path / "del_way")
    IndexBuilder(d_del, span=64).build(docs)
    delete_docs(
        spark, d_del,
        spark.createDataFrame([(i,) for i in deleted], "doc_id long"),
    )

    d_fresh = str(tmp_path / "fresh_way")
    IndexBuilder(d_fresh, span=64).build(
        docs.where(~F.col("doc_id").isin(list(deleted)))
    )

    def logical(d):
        rows = decode_blocks(
            spark.read.parquet(d + "/blocks"), with_payload=True
        ).collect()
        return sorted(
            (r["field"], r["term"], r["doc_id"], r["tf"], r["dl"]) for r in rows
        )

    assert logical(d_del) == logical(d_fresh)

    # stats agree too (incremental vs recomputed)
    a = SparkIndex(spark, d_del)
    b = SparkIndex(spark, d_fresh)
    assert a.n_docs == b.n_docs
    assert abs(a.avgdl - b.avgdl) < 1e-12
    # blocks rewritten by maintenance carry valid block-max metadata
    assert_block_invariants(a.blocks.collect(), a.span)


def test_writer_lock_excludes_concurrent_and_steals_stale(spark, tmp_path):
    """Single-writer semantics (reference singleton writer + mutex,
    goleveldb/store.go:160-165): a live holder blocks a second
    writer; a dead holder's lock is stale and stolen."""
    import json as _json
    import os

    from neosearch_spark.maintenance import writer_lock

    docs = assign_doc_ids(synth_transcripts(spark, 80, seed=6))
    d = str(tmp_path / "lock_idx")
    IndexBuilder(d, span=32).build(docs)

    # live holder (this process) blocks delete
    with writer_lock(d):
        with pytest.raises(RuntimeError, match="locked by a live writer"):
            delete_docs(spark, d, spark.createDataFrame([(1,)], "doc_id long"))
    # stale lock from a dead pid is stolen and the delete proceeds
    with open(os.path.join(d, "write.lock"), "w") as f:
        _json.dump({"pid": 2_000_000_000, "ts": 0}, f)
    counters = delete_docs(spark, d, spark.createDataFrame([(1,)], "doc_id long"))
    assert counters["n_deleted"] == 1
    assert not os.path.exists(os.path.join(d, "write.lock"))


def test_writer_lock_steal_restores_concurrently_published_live_lock(
    tmp_path, monkeypatch
):
    """Check-then-rename TOCTOU (ADVICE r3): after we observe a dead
    holder but BEFORE our steal-rename runs, a concurrent stealer
    takes the stale lock and publishes its own fresh LIVE lock.  The
    rename then displaces the live winner — the post-rename
    verification must detect the live pid, restore the lock
    atomically, and fail our acquisition instead of double-acquiring."""
    import json as _json
    import os

    import neosearch_spark.maintenance as mt

    d = str(tmp_path)
    lock = os.path.join(d, "write.lock")
    with open(lock, "w") as f:
        _json.dump({"pid": 2_000_000_000, "ts": 0}, f)  # dead holder

    real_rename = os.rename
    state = {"raced": False}

    def racy_rename(src, dst, **kw):
        if src == lock and not state["raced"]:
            state["raced"] = True
            # concurrent stealer: takes the stale lock and publishes
            # a live one (pid 1 is always alive) in the window
            # between our dead-holder read and our rename
            os.remove(lock)
            with open(lock, "w") as f:
                _json.dump({"pid": 1, "ts": 0}, f)
        return real_rename(src, dst, **kw)

    monkeypatch.setattr("os.rename", racy_rename)
    with pytest.raises(RuntimeError, match="live writer \\(pid 1\\)"):
        mt.writer_lock(d).__enter__()
    # the live winner's lock survived our attempted steal, verbatim
    with open(lock) as f:
        assert _json.load(f)["pid"] == 1
    assert not any(p.startswith("write.lock.") for p in os.listdir(d))
