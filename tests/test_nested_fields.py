"""Nested struct-path + array-element field indexing, mirroring the
reference's object/array goldens (``index_object_test.go:12-154``,
array path ``index.go:483-508``, dotted paths ``index.go:455-468``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neosearch_spark.build import IndexBuilder
from neosearch_spark.codec import decode_postings, decode_tfs
from neosearch_spark.query import SparkIndex, decode_blocks


@pytest.fixture(scope="module")
def nested_idx(spark, tmp_path_factory):
    # analog of the reference's nested-doc golden: a company with a
    # nested address and an array of string tags
    rows = [
        (1, "neoway business solution", ("São Paulo",), ["tech", "data"]),
        (2, "google inc", ("Mountain View",), ["tech", "Search Engine"]),
        (3, "facebook company", ("Menlo Park",), ["social", "tech", "TECH"]),
        (4, "nubank", ("São Paulo",), []),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, address struct<city:string>, tags array<string>",
    )
    d = str(tmp_path_factory.mktemp("nested") / "idx")
    IndexBuilder(
        d,
        analyzed_fields=["text", "address.city"],
        exact_fields=["tags"],
        span=64,
    ).build(docs)
    return SparkIndex(spark, d)


def test_struct_path_tokens(nested_idx):
    # city tokens land in the dotted-path field database
    got = [r["doc_id"] for r in nested_idx.term_docs("são", field="address.city").collect()]
    assert got == [1, 4]
    got = [r["doc_id"] for r in nested_idx.term_docs("view", field="address.city").collect()]
    assert got == [2]


def test_struct_path_whole_string_term(nested_idx):
    # multi-token nested value gets the whole-string extra term
    # (index.go:546-553 applied down the struct path)
    got = [
        r["doc_id"]
        for r in nested_idx.term_docs("são paulo", field="address.city").collect()
    ]
    assert got == [1, 4]


def test_array_elements_indexed(nested_idx):
    # each element indexed into the same field database
    # (index.go:483-508); values normalized by the analyzer
    got = [r["doc_id"] for r in nested_idx.term_docs("tech", field="tags").collect()]
    assert got == [1, 2, 3]
    got = [r["doc_id"] for r in nested_idx.term_docs("social", field="tags").collect()]
    assert got == [3]


def test_array_duplicate_elements_single_posting(nested_idx):
    # doc 3 has "tech" and "TECH": exact-field array elements are
    # raw values, so they are DISTINCT terms ("tech" vs "TECH") — but
    # the analyzed-field invariant (sorted unique postings) must hold
    # per term regardless
    blocks = nested_idx.blocks.where(F.col("field") == "tags").collect()
    import numpy as np

    for row in blocks:
        ids = decode_postings(row["docs_enc"])
        assert np.all(np.diff(ids) > 0), row["term"]


def test_empty_array_no_rows(nested_idx):
    # doc 4's empty tags array contributes nothing
    all_tag_docs = {
        r["doc_id"]
        for r in decode_blocks(
            nested_idx.blocks.where(F.col("field") == "tags")
        ).collect()
    }
    assert 4 not in all_tag_docs


def test_analyzed_array_field(spark, tmp_path):
    # analyzed array-of-string: every element tokenized + whole-string
    # extra term per multi-token element, duplicates collapse to one
    # singleton whole-string block per doc
    rows = [
        (1, "base", ["Alpha Beta", "alpha beta", "gamma"]),
        (2, "base", ["delta"]),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, notes array<string>"
    )
    d = str(tmp_path / "arr_idx")
    IndexBuilder(d, analyzed_fields=["text", "notes"], span=64).build(docs)
    si = SparkIndex(spark, d)
    assert [r["doc_id"] for r in si.term_docs("alpha", field="notes").collect()] == [1]
    assert [r["doc_id"] for r in si.term_docs("gamma", field="notes").collect()] == [1]
    assert [r["doc_id"] for r in si.term_docs("delta", field="notes").collect()] == [2]
    # whole-string term, deduped across case-variant elements
    ws = si.blocks.where(
        (F.col("field") == "notes") & (F.col("term") == "alpha beta")
    ).collect()
    ids = [int(i) for b in ws for i in decode_postings(b["docs_enc"])]
    assert ids == [1]
    # tokens from the duplicate elements accumulate tf
    tf_blocks = si.blocks.where(
        (F.col("field") == "notes") & (F.col("term") == "alpha")
    ).collect()
    tfs = [int(t) for b in tf_blocks for t in decode_tfs(b["tfs_enc"])]
    assert tfs == [2]


def test_date_format_metadata_golden(spark, tmp_path):
    """Mirror of the reference's date-metadata golden
    (``index_metadata_test.go:56-75`` + ``index.go:556-574``): a
    string date field with a format entry indexes its PARSED epoch —
    not the raw string — while the doc store keeps the raw value."""
    rows = [
        (0, "neoway business solution", "2015-01-10"),
        (1, "google inc", "2016-03-04"),
        (2, "facebook company", "2015-01-10"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, created string")
    d = str(tmp_path / "date_idx")
    IndexBuilder(d, span=32, date_fields={"created": "yyyy-MM-dd"}).build(docs)
    si = SparkIndex(spark, d)

    micros_2015 = 1420848000000000  # 2015-01-10T00:00:00Z in micros
    created_terms = {
        r["term"]
        for r in si.terms.where(F.col("field") == "created").select("term").collect()
    }
    assert str(micros_2015) in created_terms
    assert "2015-01-10" not in created_terms

    assert [
        r["doc_id"]
        for r in si.date_docs("created", "2015-01-10", "yyyy-MM-dd").collect()
    ] == [0, 2]
    assert [
        r["doc_id"]
        for r in si.date_docs("created", "2016-03-04", "yyyy-MM-dd").collect()
    ] == [1]

    # document.db parity: the stored doc keeps the raw string
    assert (
        si.docs.where(F.col("doc_id") == 0).collect()[0]["created"] == "2015-01-10"
    )
