"""Golden index-build tests over the F2 fixture (mirrors the
reference's ``neosearch_test.go:168-270`` expectations and the
MergeSet ordering golden ``store/test/store.go:255-301``)."""

from __future__ import annotations

import numpy as np
import pytest

from neosearch_spark.build import B, K1, IndexBuilder, logical_postings
from neosearch_spark.codec import decode_postings, decode_tfs
from neosearch_spark.query import SparkIndex


@pytest.fixture(scope="module")
def built(spark, tiny_docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("golden_idx"))
    IndexBuilder(d, span=4).build(tiny_docs)
    return SparkIndex(spark, d)


def test_reference_golden_lookups(built):
    # neosearch_test.go:252-265
    assert [r["doc_id"] for r in built.term_docs("neoway").collect()] == [1, 4]
    # whole-string term — neosearch_test.go:239-250
    assert [r["doc_id"] for r in built.term_docs("neoway business solution").collect()] == [1]
    # prefix — neosearch_test.go:709-721
    assert [r["doc_id"] for r in built.prefix_docs("neoway").collect()] == [1, 4]
    # unicode term kept verbatim — index_object_test.go:74-79
    assert [r["doc_id"] for r in built.term_docs("florianópolis").collect()] == [8]
    # punctuation token — index_test.go:197-204
    assert [r["doc_id"] for r in built.term_docs("-").collect()] == [5]


def test_or_union_semantics(built):
    # documented OR (PROPOSAL.md:230-235); reference $or is broken
    # (search.go:60-68 drops later clauses) — divergence SURVEY 2.11.1
    assert [r["doc_id"] for r in built.or_docs(["neoway", "google"]).collect()] == [1, 2, 4]


def assert_block_invariants(rows, span: int) -> None:
    """Per-block invariants of every encoder output: postings sorted
    unique, block metadata (n_docs, first_doc, span_id) matching the
    postings, and the block-max bounds (max_tf, max_tf_norm) equal to
    the maxima recomputed from the decoded tfs and dls."""
    for row in rows:
        ids = decode_postings(row["docs_enc"])
        assert np.all(np.diff(ids) > 0), row["term"]  # strictly ascending = sorted unique
        assert len(ids) == row["n_docs"]
        assert ids[0] == row["first_doc"]
        assert (ids // span == row["span_id"]).all()
        tfs = decode_tfs(row["tfs_enc"]).astype(np.float64)
        dls = decode_tfs(row["dls_enc"]).astype(np.float64)  # same varint format
        assert row["max_tf"] == tfs.max()
        norm = tfs * (K1 + 1.0) / (
            tfs + K1 * (1.0 - B + B * dls / row["enc_avgdl"])
        )
        assert row["max_tf_norm"] == pytest.approx(norm.max(), rel=1e-12), row["term"]


def test_postings_sorted_unique_invariant(built):
    # MergeSet invariant: store/utils.go:39-93; ordering golden
    # store/test/store.go:255-301 (insert 0,2,1 -> read 0,1,2)
    assert_block_invariants(built.blocks.collect(), built.span)


def test_block_payload_tf(built, tiny_oracle):
    # doc 8: "Florianópolis is florianópolis" -> tf(florianópolis)=2
    from pyspark.sql import functions as F

    blocks = built.blocks.where(F.col("term") == "florianópolis").collect()
    assert len(blocks) == 1
    ids = decode_postings(blocks[0]["docs_enc"])
    tfs = decode_tfs(blocks[0]["tfs_enc"])
    assert list(ids) == [8] and list(tfs) == [2]


def test_logical_postings_match_blocks(spark, tiny_docs, built, tiny_oracle):
    lp = {r["term"]: list(r["doc_ids"]) for r in logical_postings(tiny_docs).collect()}
    for term, ids in tiny_oracle.postings.items():
        assert lp[term] == ids, term


def test_stats(built, tiny_oracle):
    assert built.n_docs == tiny_oracle.n_docs
    assert abs(built.avgdl - tiny_oracle.avgdl) < 1e-12
