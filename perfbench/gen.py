"""Seeded inputs: search request streams and write batches.

Terms are drawn like ``neosearch_spark.synth`` draws them (rank
log-uniform over the 50k vocabulary, so P(rank) ∝ 1/rank): hot terms
repeat across requests, which is what lets the serving handle's
memos share work, while the long tail keeps most multi-term queries
distinct.  Only the generated inputs reach the engine; the seed never
does.
"""

from __future__ import annotations

import datetime
import itertools
import math
import random

from neosearch_spark.synth import VOCAB

LN_VOCAB = math.log(VOCAB)
K = 10
BATCH_SIZE = 8
# serve mix, cycled by every client: 70% single-query BM25 bodies,
# 15% 8-query batch bodies, 15% boolean DSL bodies.  A fixed cycle
# keeps the mix of a short window the same for every seed (the seed
# picks the terms); DSL bodies sit at least four apart, so clients
# started on consecutive positions never send them in lockstep.
KIND_CYCLE = ["single", "batch", "single", "dsl", "single", "single", "batch",
              "single", "single", "dsl", "single", "single", "single", "batch",
              "single", "single", "dsl", "single", "single", "single"]
# write batches (docs per op)
UPSERT_REPLACED = 50
UPSERT_INSERTED = 50
INGESTED = 100
FRESH_QUERIES = 5


def term(rng: random.Random) -> str:
    return f"tok{int(math.exp(rng.random() * LN_VOCAB))}"


def query(rng: random.Random) -> str:
    return " ".join(term(rng) for _ in range(rng.randint(1, 4)))


def doc_text(rng: random.Random) -> str:
    return " ".join(term(rng) for _ in range(rng.randint(5, 15)))


def dsl_body(rng: random.Random) -> dict:
    op = "$and" if rng.random() < 0.5 else "$or"
    return {"query": {op: [{"text": term(rng)}, {"text": term(rng)}]}, "limit": K}


def body(kind: str, rng: random.Random) -> dict:
    if kind == "single":
        return {"queries": [query(rng)], "k": K}
    if kind == "batch":
        return {"queries": [query(rng) for _ in range(BATCH_SIZE)], "k": K}
    return dsl_body(rng)


def client_stream(seed, client: int):
    """Endless (kind, HTTP body) stream of one closed-loop client;
    clients start at consecutive points of the kind cycle."""
    rng = random.Random(f"serve/{seed}/{client}")
    for i in itertools.count(client):
        kind = KIND_CYCLE[i % len(KIND_CYCLE)]
        yield kind, body(kind, rng)


def first_requests(seed: int) -> list[tuple[str, dict]]:
    """One request of each kind, sent before the warm-up traffic."""
    rng = random.Random(f"first/{seed}")
    return [(k, body(k, rng)) for k in ("single", "batch", "dsl")]


def doc_row(doc_id: int, text: str) -> tuple:
    """A row with every column the transcript index is built from."""
    ts = datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=doc_id)
    return (doc_id, f"conv-w{doc_id:08d}", 0, "user", text, "", ts)


DOC_SCHEMA = (
    "doc_id long, conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def write_plan(seed: int, cycle: int, n_docs: int) -> dict:
    """Seeded inputs for one write cycle over a fresh index of
    ``n_docs`` docs (ids 0..n_docs-1).

    upsert: replace existing ids and insert new ids; ingest: new ids
    streamed as one delta epoch; reads: single BM25 queries and one
    batch body, sent after the writes."""
    rng = random.Random(f"write/{seed}/{cycle}")
    replaced = rng.sample(range(n_docs), UPSERT_REPLACED)
    inserted = range(n_docs, n_docs + UPSERT_INSERTED)
    streamed = range(n_docs + UPSERT_INSERTED, n_docs + UPSERT_INSERTED + INGESTED)
    reads = [("single", body("single", rng)) for _ in range(FRESH_QUERIES)]
    return {
        "upsert": [(i, doc_text(rng)) for i in [*replaced, *inserted]],
        "ingest": [(i, doc_text(rng)) for i in streamed],
        "reads": reads,
    }
