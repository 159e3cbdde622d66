"""Row-level upsert (replace-or-insert).

The reference's ``Index.Add`` on an existing id
(``lib/neosearch/index/index.go:123-160``) overwrites the doc store
but blindly MergeSet-appends postings, leaving the old content's
terms pointing at the doc.  ``upsert_docs`` is the corrected
distributed successor: old postings of replaced ids are dropped
exactly, new content is indexed, and only touched ``bucket=`` /
``doc_part=`` directories are rewritten."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from neosearch_spark.build import IndexBuilder
from neosearch_spark.docids import assign_doc_ids
from neosearch_spark.maintenance import upsert_docs
from neosearch_spark.oracle import OracleIndex
from neosearch_spark.query import SparkIndex, decode_blocks
from neosearch_spark.synth import synth_transcripts

from test_delete import _dir_file_hashes
from test_index_golden import assert_block_invariants


def _logical(spark, d):
    rows = decode_blocks(
        spark.read.parquet(d + "/blocks"), with_payload=True
    ).collect()
    return sorted(
        (r["field"], r["term"], r["doc_id"], r["tf"], r["dl"]) for r in rows
    )


def test_upsert_equals_fresh_rebuild_logically(spark, tmp_path):
    """After upserting batch B into an index over C, the decoded
    posting stream equals a fresh build over (C minus B's ids) ∪ B —
    replaced ids carry ONLY their new content, inserted ids appear,
    untouched docs are unchanged."""
    docs = assign_doc_ids(synth_transcripts(spark, 300, seed=31)).cache()

    # batch: 4 replacements (new text) + 3 brand-new ids past the end
    n = docs.count()
    repl = (
        docs.where(F.col("doc_id").isin([2, 9, 57, 130]))
        .withColumn("text", F.concat(F.lit("replacedtok fresh "), F.col("text")))
    )
    new_rows = (
        docs.where(F.col("doc_id").isin([0, 1, 3]))
        .withColumn("doc_id", F.col("doc_id") + F.lit(n).cast("long"))
        .withColumn(
            "text", F.concat(F.lit("brandnew"), F.col("doc_id"), F.lit(" replacedtok tail"))
        )
    )
    batch = repl.unionByName(new_rows)

    d_up = str(tmp_path / "up_way")
    IndexBuilder(d_up, span=64).build(docs)
    counters = upsert_docs(spark, d_up, batch)
    assert counters["n_upserted"] == 7
    assert counters["n_replaced"] == 4

    d_fresh = str(tmp_path / "fresh_way")
    IndexBuilder(d_fresh, span=64).build(
        docs.where(~F.col("doc_id").isin([2, 9, 57, 130])).unionByName(batch)
    )

    assert _logical(spark, d_up) == _logical(spark, d_fresh)
    a, b = SparkIndex(spark, d_up), SparkIndex(spark, d_fresh)
    assert a.n_docs == b.n_docs == n + 3
    assert abs(a.avgdl - b.avgdl) < 1e-12
    # blocks rewritten by maintenance carry valid block-max metadata
    assert_block_invariants(a.blocks.collect(), a.span)


def test_upsert_matches_oracle_queries(spark, tmp_path):
    """Query-level check: replaced docs are findable by their NEW
    terms only; every boolean/BM25 path agrees with an in-memory
    oracle over the upserted corpus."""
    docs = assign_doc_ids(synth_transcripts(spark, 400, seed=33))
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    d = str(tmp_path / "up_oracle")
    IndexBuilder(d, span=64).build(docs)

    replaced = {5, 6, 77, 210}
    batch = docs.where(F.col("doc_id").isin(list(replaced))).withColumn(
        "text", F.lit("uniquemarker tok1 tok1")
    )
    upsert_docs(spark, d, batch)

    new_texts = dict(texts)
    for i in replaced:
        new_texts[i] = "uniquemarker tok1 tok1"
    oi = OracleIndex(new_texts)
    si = SparkIndex(spark, d)

    assert si.n_docs == oi.n_docs
    assert abs(si.avgdl - oi.avgdl) < 1e-9
    assert [r["doc_id"] for r in si.term_docs("uniquemarker").collect()] == sorted(
        replaced
    )
    for t in ["tok1", "tok2", "tok17"]:
        assert [r["doc_id"] for r in si.term_docs(t).collect()] == oi.term(t), t
    want = oi.bm25_topk("tok1 tok3", 10)
    got = [
        (r["doc_id"], r["score"]) for r in si.bm25_topk("tok1 tok3", 10).collect()
    ]
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert abs(g[1] - w[1]) < 1e-9


def test_upsert_is_partition_scoped(spark, tmp_path):
    """O(touched)-I/O contract: replacing one zz-vocabulary doc with
    other zz-vocabulary content leaves every alpha-only bucket dir
    and every other doc_part dir byte-identical."""
    import os

    rows = [
        (i, f"alpha{i % 37} alpha{(i * 7) % 37} alpha{(i * 11) % 37}")
        for i in range(160)
    ] + [(160 + j, f"zz{j} zz{(j + 1) % 8} zz{(j + 2) % 8}") for j in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "up_scoped")
    IndexBuilder(d, span=32, n_buckets=8).build(docs)

    before_blocks = _dir_file_hashes(os.path.join(d, "blocks"))
    before_docs = _dir_file_hashes(os.path.join(d, "docs"))

    si = SparkIndex(spark, d)
    z_terms = [
        r["term"]
        for r in si.terms.where(F.col("term").startswith("zz")).select("term").collect()
    ]
    z_buckets = {si._bucket_of(t) for t in z_terms}
    counters = upsert_docs(
        spark, d, spark.createDataFrame([(163, "zz0 zz5 zz5")], "doc_id long, text string")
    )
    assert counters["n_upserted"] == 1
    assert counters["n_replaced"] == 1
    assert counters["touched_buckets"] <= len(z_buckets)

    after_blocks = _dir_file_hashes(os.path.join(d, "blocks"))
    after_docs = _dir_file_hashes(os.path.join(d, "docs"))

    def changed_parts(before, after, prefix):
        keys = set(before) | set(after)
        return {
            k.split(os.sep)[0]
            for k in keys
            if k.startswith(prefix) and before.get(k) != after.get(k)
        }

    assert changed_parts(before_blocks, after_blocks, "bucket=") <= {
        f"bucket={b}" for b in z_buckets
    }
    untouched = {
        k
        for k in before_blocks
        if k.startswith("bucket=") and after_blocks.get(k) == before_blocks[k]
    }
    assert untouched, "at least one bucket dir must be carried by identity"
    assert changed_parts(before_docs, after_docs, "doc_part=") == {"doc_part=5"}

    # old content gone, new content present, n_docs unchanged
    si2 = SparkIndex(spark, d)
    assert 163 not in {r["doc_id"] for r in si2.term_docs("zz3").collect()}
    assert 163 in {r["doc_id"] for r in si2.term_docs("zz5").collect()}
    assert si2.n_docs == 168


def test_upsert_crash_mid_swap_refuses_to_open(spark, tmp_path):
    docs = assign_doc_ids(synth_transcripts(spark, 120, seed=5))
    d = str(tmp_path / "up_crash")
    IndexBuilder(d, span=32).build(docs)
    batch = docs.where(F.col("doc_id") == 1).withColumn("text", F.lit("crashed tok"))
    with pytest.raises(RuntimeError, match="injected crash"):
        upsert_docs(spark, d, batch, crash_after=1)
    with pytest.raises(RuntimeError, match="torn table swap"):
        SparkIndex(spark, d)


@pytest.mark.parametrize("write", ["upsert", "delete"])
def test_upsert_folds_pending_deltas_first(spark, tmp_path, write):
    """A written id hiding in an uncompacted streaming delta must not
    resurrect at the next compaction: both writes (delete is an
    upsert with an empty batch) compact pending deltas first."""
    import os

    from neosearch_spark.maintenance import delete_docs
    from neosearch_spark.streaming import compact_deltas, delta_sink

    docs = assign_doc_ids(synth_transcripts(spark, 200, seed=8)).cache()
    n = docs.count()
    d = str(tmp_path / f"{write}_delta")
    IndexBuilder(d, span=64).build(docs)

    # a delta batch for two new streamed docs through the REAL sink
    # (epoch=N dirs; compaction folds only complete epoch pairs)
    delta = spark.createDataFrame(
        [(n, "streamed stale tok1"), (n + 1, "streamed keepme tok2")],
        "doc_id long, text string",
    )
    delta_sink(delta, 0, d, ["text"])

    # write the first streamed doc before any explicit compaction
    if write == "upsert":
        batch = (
            docs.where(F.col("doc_id") == 0)
            .withColumn("doc_id", F.lit(n).cast("long"))
            .withColumn("text", F.lit("overwritten tok3"))
        )
        counters = upsert_docs(spark, d, batch)
        assert counters["n_replaced"] == 1
        want_docs = n + 2
    else:
        counters = delete_docs(
            spark, d, spark.createDataFrame([(n,)], "doc_id long")
        )
        assert counters["n_deleted"] == 1
        want_docs = n + 1

    si = SparkIndex(spark, d)
    assert not os.path.exists(os.path.join(d, "tf_delta"))
    # old streamed content gone, replacement + surviving delta present
    assert {r["doc_id"] for r in si.term_docs("stale").collect()} == set()
    want_overwritten = {n} if write == "upsert" else set()
    assert {
        r["doc_id"] for r in si.term_docs("overwritten").collect()
    } == want_overwritten
    assert {r["doc_id"] for r in si.term_docs("keepme").collect()} == {n + 1}
    assert si.n_docs == want_docs

    # nothing is left for a later compaction to resurrect
    compact_deltas(spark, d)
    si = SparkIndex(spark, d)
    assert {r["doc_id"] for r in si.term_docs("stale").collect()} == set()
    assert si.n_docs == want_docs


def test_merge_indexes_equals_union_rebuild(spark, tmp_path):
    """LSM segment-merge analog: merging index B into index A yields
    the same logical index as a fresh build over A's ∪ B's corpora,
    with overlapping ids taking B's (newest segment's) content."""
    from neosearch_spark.maintenance import merge_indexes

    docs = assign_doc_ids(synth_transcripts(spark, 240, seed=41)).cache()
    a_docs = docs.where(F.col("doc_id") < 140)
    # B overlaps A on ids 120-139 (B's content differs) + adds 140-239
    b_docs = docs.where(F.col("doc_id") >= 120).withColumn(
        "text",
        F.when(
            F.col("doc_id") < 140, F.concat(F.lit("bwins "), F.col("text"))
        ).otherwise(F.col("text")),
    )
    d_a = str(tmp_path / "seg_a")
    d_b = str(tmp_path / "seg_b")
    IndexBuilder(d_a, span=64).build(a_docs)
    IndexBuilder(d_b, span=64).build(b_docs)
    counters = merge_indexes(spark, d_a, d_b)
    assert counters["n_upserted"] == 120
    assert counters["n_replaced"] == 20

    d_fresh = str(tmp_path / "seg_fresh")
    IndexBuilder(d_fresh, span=64).build(
        docs.where(F.col("doc_id") < 120).unionByName(b_docs)
    )
    assert _logical(spark, d_a) == _logical(spark, d_fresh)
    a, b = SparkIndex(spark, d_a), SparkIndex(spark, d_fresh)
    assert a.n_docs == b.n_docs == 240
    assert abs(a.avgdl - b.avgdl) < 1e-12
    assert {r["doc_id"] for r in a.term_docs("bwins").collect()} == set(
        range(120, 140)
    )


def test_snapshot_restore_roundtrip_and_torn_recovery(spark, tmp_path):
    """Zero-copy snapshots: hard-linked point-in-time views survive
    subsequent maintenance (file replacement, not mutation), restore
    rolls back exactly, and restore is the documented recovery path
    from a crash mid-swap (torn index)."""
    import os

    from neosearch_spark.maintenance import (
        list_snapshots,
        restore_snapshot,
        snapshot,
    )

    docs = assign_doc_ids(synth_transcripts(spark, 150, seed=51))
    d = str(tmp_path / "snap_idx")
    IndexBuilder(d, span=32).build(docs)
    before_logical = _logical(spark, d)
    si = SparkIndex(spark, d)
    before_stats = (si.n_docs, si.avgdl)
    info = snapshot(d, "v1")
    assert info["n_files"] > 0
    assert list_snapshots(d) == ["v1"]

    # mutate: delete + upsert, index diverges from the snapshot
    from neosearch_spark.maintenance import delete_docs

    delete_docs(spark, d, spark.createDataFrame([(3,), (7,)], "doc_id long"))
    upsert_docs(
        spark,
        d,
        docs.where(F.col("doc_id") == 1).withColumn("text", F.lit("mutated tok")),
    )
    assert _logical(spark, d) != before_logical

    # restore → exact rollback (logical content AND stats)
    restore_snapshot(d, "v1")
    assert _logical(spark, d) == before_logical
    si2 = SparkIndex(spark, d)
    assert (si2.n_docs, si2.avgdl) == before_stats

    # torn-state recovery: crash mid-swap, index refuses to open,
    # restore brings it back
    batch = docs.where(F.col("doc_id") == 2).withColumn("text", F.lit("crash tok"))
    with pytest.raises(RuntimeError, match="injected crash"):
        upsert_docs(spark, d, batch, crash_after=0)
    with pytest.raises(RuntimeError, match="torn table swap"):
        SparkIndex(spark, d)
    restore_snapshot(d, "v1")
    assert _logical(spark, d) == before_logical
    assert SparkIndex(spark, d).n_docs == before_stats[0]

    # snapshot files are hard links, not copies (same inode)
    some = None
    for base, _, files in os.walk(os.path.join(d, "snapshots", "v1", "blocks")):
        for f in files:
            if f.endswith(".parquet"):
                some = os.path.join(base, f)
                break
        if some:
            break
    assert some is not None
    live = os.path.join(d, "blocks", os.path.relpath(some, os.path.join(d, "snapshots", "v1", "blocks")))
    assert os.stat(some).st_ino == os.stat(live).st_ino


def test_maintenance_edge_cases(spark, tmp_path):
    """Empty batches, absent ids, delete-everything, and querying the
    emptied index all behave (no crashes, exact counters)."""
    from neosearch_spark.maintenance import delete_docs

    docs = assign_doc_ids(synth_transcripts(spark, 80, seed=6)).cache()
    d = str(tmp_path / "edge_idx")
    IndexBuilder(d, span=32).build(docs)

    # upsert of ids that don't exist = pure insert
    ins = docs.where(F.col("doc_id") < 2).withColumn(
        "doc_id", F.col("doc_id") + 1000
    )
    c = upsert_docs(spark, d, ins)
    assert c["n_upserted"] == 2 and c["n_replaced"] == 0
    assert SparkIndex(spark, d).n_docs == 82

    # delete of absent ids touches nothing: no file is rewritten and
    # the manifest records no write
    def inodes():
        return {
            os.path.relpath(os.path.join(base, f), d): os.stat(
                os.path.join(base, f)
            ).st_ino
            for base, _, files in os.walk(d)
            for f in files
        }

    def manifest():
        with open(os.path.join(d, "manifest.json")) as f:
            return f.read()

    files_before, manifest_before = inodes(), manifest()
    c = delete_docs(
        spark, d, spark.createDataFrame([(5555,)], "doc_id long")
    )
    assert c["n_deleted"] == 0 and c["n_blocks_touched"] == 0
    assert c["touched_spans"] == 0
    assert inodes() == files_before
    assert manifest() == manifest_before

    # delete EVERYTHING → empty but openable index; queries return 0
    all_ids = docs.select("doc_id").unionByName(ins.select("doc_id"))
    c = delete_docs(spark, d, all_ids)
    assert c["n_deleted"] == 82
    si = SparkIndex(spark, d)
    assert si.n_docs == 0
    assert si.term_docs("tok1").count() == 0
    assert si.bm25_topk("tok1 tok2", 5).count() == 0

    # and the empty index accepts new docs again
    c = upsert_docs(spark, d, docs.where(F.col("doc_id") < 3))
    assert c["n_upserted"] == 3 and c["n_replaced"] == 0
    assert SparkIndex(spark, d).n_docs == 3
    assert si.n_docs == 0  # old handle's stats were read at open


def test_upsert_array_whole_string_dedupe(spark, tmp_path):
    """An upserted doc with duplicate-normalized array elements must
    produce the same postings as a fresh rebuild: the build's
    singleton side path per-row-dedupes whole-string terms (tf=1),
    and _tf_stream must mirror that, not count occurrences."""
    rows = [
        (0, "alpha beta", ["New York", "boston common"]),
        (1, "gamma delta", ["x y", "p q"]),
        (2, "epsilon zeta", ["a b"]),
    ]
    schema = "doc_id long, text string, tags array<string>"
    docs = spark.createDataFrame(rows, schema)
    batch = spark.createDataFrame(
        [(1, "gamma delta", ["New York", "new york", "NEW  york"])], schema
    )

    d_up = str(tmp_path / "arr_up")
    IndexBuilder(d_up, span=32, analyzed_fields=["text", "tags"]).build(docs)
    upsert_docs(spark, d_up, batch)

    d_fresh = str(tmp_path / "arr_fresh")
    IndexBuilder(d_fresh, span=32, analyzed_fields=["text", "tags"]).build(
        docs.where(F.col("doc_id") != 1).unionByName(batch)
    )
    assert _logical(spark, d_up) == _logical(spark, d_fresh)

    # the whole-string term appears once (tf=1) for the upserted doc
    si = SparkIndex(spark, d_up)
    got = [
        (r["field"], r["term"], r["doc_id"], r["tf"])
        for r in decode_blocks(
            si.blocks.where(F.col("term") == "new york"), with_payload=True
        ).collect()
    ]
    assert sorted(got) == [
        ("tags", "new york", 0, 1),
        ("tags", "new york", 1, 1),
    ]


def test_upsert_rejects_duplicate_batch_ids(spark, tmp_path):
    docs = assign_doc_ids(synth_transcripts(spark, 60, seed=4))
    d = str(tmp_path / "dup_batch")
    IndexBuilder(d, span=32).build(docs)
    dup = spark.createDataFrame(
        [(1, "one"), (1, "two")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="duplicate doc_ids"):
        upsert_docs(spark, d, dup)
    # index unchanged and still consistent
    assert SparkIndex(spark, d).n_docs == 60


def test_empty_corpus_build_and_misc_guards(spark, tmp_path):
    """An empty input yields a valid empty index (not a TypeError);
    date_docs surfaces parse failures; top_terms keeps multi-word
    exact-field values while excluding analyzed whole-strings."""
    d = str(tmp_path / "empty_idx")
    empty = spark.createDataFrame([], "doc_id long, text string")
    IndexBuilder(d, span=32).build(empty)
    si = SparkIndex(spark, d)
    assert si.n_docs == 0
    assert si.term_docs("anything").count() == 0

    d2 = str(tmp_path / "tt_idx")
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma", "new york"), (1, "alpha beta", "new york"),
         (2, "alpha", "boston")],
        "doc_id long, text string, city string",
    )
    IndexBuilder(d2, span=32, exact_fields=["city"]).build(docs)
    si2 = SparkIndex(spark, d2)
    # exact field: multi-word values are real terms, kept
    top_city = [(r["term"], r["df"]) for r in si2.top_terms(5, field="city").collect()]
    assert top_city == [("new york", 2), ("boston", 1)]
    # analyzed field: whole-string extras excluded
    top_text = [r["term"] for r in si2.top_terms(5, field="text").collect()]
    assert "alpha beta gamma" not in top_text and "alpha" in top_text

    import pytest as _pytest

    # ANSI mode raises CAST_INVALID_INPUT at parse time; the
    # explicit does-not-parse guard covers non-ANSI configs
    with _pytest.raises(Exception, match="does not parse|CAST_INVALID_INPUT"):
        si2.date_docs("city", "not-a-date")


def test_build_rejects_pathological_doc_ids(spark, tmp_path):
    """Negative doc_ids fail LOUD at build; SPARSE caller-supplied
    ids (the reference's uint64 key model) are now SUPPORTED — the
    r5 fix sizes doc_part from the id RANGE, so huge sparse ids
    build into a bounded directory count (unpacked posting columns
    past 2^43) instead of overflowing the partition key or writing
    one directory per doc."""
    d = str(tmp_path / "bad_ids")
    neg = spark.createDataFrame([(-1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="negative doc_id"):
        IndexBuilder(d, span=32).build(neg)

    import os as _os
    import shutil as _shutil

    _shutil.rmtree(d, ignore_errors=True)
    sparse = spark.createDataFrame(
        [(0, "a b"), ((1 << 62), "c d"), ((1 << 61), "a d")],
        "doc_id long, text string",
    )
    IndexBuilder(d, span=32).build(sparse)
    si = SparkIndex(spark, d)
    assert [r["doc_id"] for r in si.term_docs("a").collect()] == [0, 1 << 61]
    assert [r["doc_id"] for r in si.term_docs("d").collect()] == [
        1 << 61, 1 << 62
    ]
    top = si.bm25_topk("c d", 10).collect()
    assert top[0]["doc_id"] == 1 << 62
    # directory count bounded despite the 2^62 id range
    parts = [
        p for p in _os.listdir(_os.path.join(d, "docs"))
        if p.startswith("doc_part=")
    ]
    assert 0 < len(parts) <= 256


def test_upsert_and_delta_reject_pathological_doc_ids(spark, tmp_path):
    """The maintenance entry points enforce the SAME doc_id bounds as
    the build (ADVICE r3): a negative or sparse-hash id in an upsert
    batch or a streamed delta fails loudly instead of deriving
    negative/overflowing span and doc_part partition keys."""
    from neosearch_spark.maintenance import upsert_docs
    from neosearch_spark.streaming import delta_sink

    docs = assign_doc_ids(synth_transcripts(spark, 60, seed=9))
    d = str(tmp_path / "bounds_idx")
    IndexBuilder(d, span=32).build(docs)

    neg = spark.createDataFrame([(-5, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="negative doc_id"):
        upsert_docs(spark, d, neg)
    with pytest.raises(ValueError, match="negative doc_id"):
        delta_sink(neg, 0, d, ["text"])

    sparse = spark.createDataFrame(
        [((1 << 62), "c d")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="overflows the int doc_part"):
        upsert_docs(spark, d, sparse)
    with pytest.raises(ValueError, match="overflows the int doc_part"):
        delta_sink(sparse, 0, d, ["text"])

    # NULL ids slip past min/max bounds (aggregates skip nulls): the
    # delta sink must count-check and fail the batch loudly instead of
    # writing null doc_ids into the delta
    nullid = spark.createDataFrame(
        [(None, "e f"), (7, "g h")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="NULL doc_id"):
        delta_sink(nullid, 0, d, ["text"])


def test_rebuild_rejects_field_outside_manifest(spark, tmp_path):
    """The maintenance rewrite codes each posting's field by its
    position in the manifest's field list; a field missing from that
    list must fail the rewrite, never be filed under another field."""
    import json

    from neosearch_spark.maintenance import rebuild_touched_buckets

    docs = assign_doc_ids(synth_transcripts(spark, 40, seed=3))
    d = str(tmp_path / "idx")
    IndexBuilder(d, span=32).build(docs)
    with open(d + "/manifest.json") as f:
        boundaries = json.load(f)["params"]["bucket_boundaries"]
    stream = spark.createDataFrame(
        [("nosuchfield", "tok1", 1, 1, 5, 0)],
        "field string, term string, doc_id long, tf long, dl long, span_id long",
    )
    affected = stream.select("field", "term", "span_id").withColumn(
        "bucket", F.lit(0)
    )
    with pytest.raises(Exception, match="nosuchfield"):
        rebuild_touched_buckets(
            spark, d, affected, stream, 5.0, 32, boundaries, bucket_list=[0]
        )
