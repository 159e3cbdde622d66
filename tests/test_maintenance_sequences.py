"""Randomized maintenance-sequence equivalence.

The strongest maintenance correctness statement, extended from single
ops to arbitrary interleavings: after ANY sequence of delete / upsert
/ streamed-delta + compact steps, the index's decoded posting stream
and stats equal those of a fresh build over the expected corpus.
Sequences are deterministic pseudo-random (seeded) — reproducible,
no flaky shrinking — and each step also re-checks a BM25 query
against the pure-Python oracle, so query-path agreement is asserted
mid-sequence, not just at the end."""

from __future__ import annotations

import os
import random

from pyspark.sql import functions as F

from neosearch_spark.analyzer import doc_len_col
from neosearch_spark.build import IndexBuilder, _tf_stream
from neosearch_spark.maintenance import delete_docs, upsert_docs
from neosearch_spark.oracle import OracleIndex
from neosearch_spark.query import SparkIndex, decode_blocks
from neosearch_spark.streaming import compact_deltas


def _logical(spark, d):
    rows = decode_blocks(
        spark.read.parquet(d + "/blocks"), with_payload=True
    ).collect()
    return sorted(
        (r["field"], r["term"], r["doc_id"], r["tf"], r["dl"]) for r in rows
    )


def _append_delta(spark, d, rows):
    """One stream_ingest micro-batch through the REAL sink (epoch=N
    partition dirs; compaction folds only complete epoch pairs, so a
    hand-rolled layout would silently diverge from production)."""
    from neosearch_spark.streaming import delta_sink

    batch = spark.createDataFrame(rows, "doc_id long, text string")
    delta_sink(batch, 0, d, ["text"])


def _run_sequence(spark, tmp_path, seq_seed: int, n_steps: int):
    rng = random.Random(seq_seed)
    vocab = [f"tok{i}" for i in range(30)]

    def text(doc_id, gen):
        r = random.Random(doc_id * 1_000_003 + gen * 1009 + seq_seed)
        return " ".join(r.choice(vocab) for _ in range(r.randint(3, 9)))

    # expected corpus state, mirrored in plain Python
    corpus = {i: text(i, 0) for i in range(120)}
    next_id = 120

    d = str(tmp_path / f"seq_{seq_seed}")
    docs = spark.createDataFrame(
        sorted(corpus.items()), "doc_id long, text string"
    )
    IndexBuilder(d, span=32, n_buckets=4).build(docs)

    for step in range(n_steps):
        op = rng.choice(["delete", "upsert", "stream"])
        if op == "delete" and corpus:
            ids = rng.sample(sorted(corpus), k=min(len(corpus), rng.randint(1, 8)))
            delete_docs(
                spark, d, spark.createDataFrame([(i,) for i in ids], "doc_id long")
            )
            for i in ids:
                del corpus[i]
        elif op == "upsert":
            # mix of replacements and brand-new ids
            repl = (
                rng.sample(sorted(corpus), k=min(len(corpus), rng.randint(0, 4)))
                if corpus
                else []
            )
            fresh = [next_id + j for j in range(rng.randint(0, 3))]
            next_id += len(fresh)
            rows = [(i, text(i, step + 1)) for i in repl + fresh]
            if not rows:
                continue
            upsert_docs(
                spark, d, spark.createDataFrame(rows, "doc_id long, text string")
            )
            corpus.update(dict(rows))
        else:  # streamed delta + compaction (append-only new ids)
            rows = [(next_id + j, text(next_id + j, step + 1)) for j in range(2)]
            next_id += 2
            _append_delta(spark, d, rows)
            compact_deltas(spark, d)
            corpus.update(dict(rows))

        # mid-sequence query agreement vs the pure-Python oracle
        oi = OracleIndex(dict(corpus))
        si = SparkIndex(spark, d)
        assert si.n_docs == oi.n_docs, (seq_seed, step, op)
        assert abs(si.avgdl - oi.avgdl) < 1e-9, (seq_seed, step, op)
        q = f"{vocab[step % len(vocab)]} {vocab[(step * 7 + 3) % len(vocab)]}"
        want = oi.bm25_topk(q, 5)
        got = [
            (r["doc_id"], r["score"]) for r in si.bm25_topk(q, 5).collect()
        ]
        assert [g[0] for g in got] == [w[0] for w in want], (seq_seed, step, op, q)
        for g, w in zip(got, want):
            assert abs(g[1] - w[1]) < 1e-9, (seq_seed, step, op, q)

    # end state ≡ fresh rebuild over the expected corpus
    d_fresh = str(tmp_path / f"seq_{seq_seed}_fresh")
    IndexBuilder(d_fresh, span=32, n_buckets=4).build(
        spark.createDataFrame(sorted(corpus.items()), "doc_id long, text string")
    )
    assert _logical(spark, d) == _logical(spark, d_fresh), seq_seed


def test_maintenance_sequence_a(spark, tmp_path):
    _run_sequence(spark, tmp_path, seq_seed=101, n_steps=6)


def test_maintenance_sequence_b(spark, tmp_path):
    _run_sequence(spark, tmp_path, seq_seed=202, n_steps=6)
