"""End-to-end rank-identity vs the pure-Python oracle over a
synthetic corpus (SURVEY §5c, FIXTURES F5), incl. WAND-pruning
losslessness and the per-turn text-equality invariant."""

from __future__ import annotations

import warnings

import pytest

from neosearch_spark import fts
from neosearch_spark.build import IndexBuilder
from neosearch_spark.docids import assign_doc_ids
from neosearch_spark.oracle import OracleIndex
from neosearch_spark.query import SparkIndex
from neosearch_spark.synth import synth_transcripts

N_TURNS = 600

QUERIES = [
    "tok1 tok3 tok17",
    "neoway business solution",
    "tok2 tok2 tok5",  # adjacent duplicate query term
    "tok2 tok5 tok9 tok2",  # NON-adjacent duplicate: accumulation
    # order must still be per-occurrence in query order on every path
    "tok1",
    "missingterm tok4",
    "MiXeD case tok9",
]


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    docs = assign_doc_ids(synth_transcripts(spark, N_TURNS, seed=11))
    d = str(tmp_path_factory.mktemp("oracle_idx"))
    IndexBuilder(d, span=128).build(docs)
    rows = docs.select("doc_id", "text").collect()
    oi = OracleIndex({r["doc_id"]: r["text"] for r in rows})
    return SparkIndex(spark, d), oi, docs


def test_boolean_vs_oracle(corpus):
    si, oi, _ = corpus
    assert [r["doc_id"] for r in si.term_docs("tok1").collect()] == oi.term("tok1")
    assert [r["doc_id"] for r in si.and_docs(["tok1", "tok2"]).collect()] == oi.and_(["tok1", "tok2"])
    assert [r["doc_id"] for r in si.or_docs(["neoway", "google"]).collect()] == oi.or_(["neoway", "google"])
    assert [r["doc_id"] for r in si.prefix_docs("tok10").collect()] == oi.prefix("tok10")
    assert [r["doc_id"] for r in si.not_docs(["tok1"], ["tok2"]).collect()] == oi.not_(["tok1"], ["tok2"])


def test_fuzzy_docs_index_equals_direct_and_bounds(corpus):
    """Index-path fuzzy match (vocabulary expansion + posting union)
    ≡ the direct row-local scan on the same corpus; empty expansion
    returns an empty frame with the doc_id schema; the max_terms cap
    errors loudly instead of collecting an unbounded expansion."""
    si, _, docs = corpus
    for term, dist in [("tok1", 1), ("tok42", 1), ("neoway", 2)]:
        got_idx = [r["doc_id"]
                   for r in si.fuzzy_docs(term, max_dist=dist).collect()]
        got_direct = [r["doc_id"]
                      for r in fts.fuzzy_docs(docs, term, max_dist=dist).collect()]
        assert got_idx == got_direct, (term, dist)
        # fuzzy must be a superset of exact
        exact = {r["doc_id"] for r in si.term_docs(term).collect()}
        assert exact <= set(got_idx), (term, dist)
    assert si.fuzzy_docs("zzqqxx", max_dist=1).count() == 0
    with pytest.raises(RuntimeError, match="fuzzy expansion"):
        si.fuzzy_docs("tok1", max_dist=2, max_terms=1)


def test_phrase_docs_index_equals_direct(corpus):
    """Index-path phrase match (AND pre-filter + stored-text
    adjacency confirm) ≡ the direct normalized-substring scan, on
    phrases covering: whole-value, inside-value, wrong-order (AND
    hits, phrase must not), mixed case, multi-space runs (adjacency
    includes empty tokens), punctuation tokens, and single-token."""
    si, _, docs = corpus
    phrases = [
        "neoway business solution",  # whole value (edge text)
        "business solution",         # inside a longer value
        "solution business",         # AND matches, adjacency must not
        "Neoway BUSINESS",           # query-side normalization
        "spaced   out",              # multi-space run must align
        "spaced out",                # single space ≠ the 3-space run
        "- token",                   # punctuation-only token
        "tok1 tok2",                 # random pair on the zipf tail
        "singletoken",               # single-token fast path
    ]
    for ph in phrases:
        got_idx = [r["doc_id"] for r in si.phrase_docs(ph).collect()]
        got_dir = [r["doc_id"] for r in fts.phrase_docs(docs, ph).collect()]
        assert got_idx == got_dir, ph
        # phrase ⊆ AND of its non-empty tokens
        toks = [t for t in ph.strip(" ").lower().split(" ") if t]
        and_ids = {r["doc_id"] for r in si.and_docs(toks).collect()}
        assert set(got_idx) <= and_ids, ph
    # the fixture guarantees real hits for the core cases
    assert si.phrase_docs("business solution").count() > 0
    assert si.phrase_docs("spaced   out").count() > 0
    # wrong order: strictly fewer than the AND candidate set
    assert si.phrase_docs("solution business").count() == 0
    with pytest.raises(ValueError, match="non-empty"):
        si.phrase_docs("   ")
    with pytest.raises(ValueError, match="non-empty"):
        fts.phrase_docs(docs, " ")
    # adjacency confirm uses ANALYZED normalization — meaningless on
    # a non-analyzed field, so the index path refuses loudly
    with pytest.raises(ValueError, match="analyzed"):
        si.phrase_docs("a b", field="role")
    with pytest.raises(ValueError, match="analyzed"):
        si.near_docs("a", "b", field="role")


def test_wildcard_docs_index_equals_direct_and_bounds(corpus):
    """Index-path wildcard match (LIKE vocabulary expansion +
    posting union) ≡ the direct row-local scan; empty expansion is
    empty with the doc_id schema; the cap errors loudly."""
    si, _, docs = corpus
    for pat in ["tok1?", "neo*", "*tion", "to*7", "?", "zzqq*"]:
        got_idx = [r["doc_id"] for r in si.wildcard_docs(pat).collect()]
        got_dir = [r["doc_id"] for r in fts.wildcard_docs(docs, pat).collect()]
        assert got_idx == got_dir, pat
    # prefix wildcard ≡ prefix_docs (same semantics, two paths)
    assert [r["doc_id"] for r in si.wildcard_docs("tok10*").collect()] == [
        r["doc_id"] for r in si.prefix_docs("tok10").collect()
    ]
    assert si.wildcard_docs("zzqq*").count() == 0
    with pytest.raises(RuntimeError, match="wildcard expansion"):
        si.wildcard_docs("tok*", max_terms=1)


def test_near_docs_index_equals_direct(corpus):
    """Index-path proximity (AND pre-filter + position confirm) ≡
    the direct row-local scan; result ⊆ AND of the two terms; the
    equal-terms case needs two distinct occurrences."""
    si, _, docs = corpus
    for a, b, d in [("tok1", "tok2", 2), ("tok1", "tok2", 8),
                    ("neoway", "solution", 2), ("tok1", "tok1", 3),
                    ("tok1", "missingterm", 5)]:
        got_idx = [r["doc_id"]
                   for r in si.near_docs(a, b, max_dist=d).collect()]
        got_dir = [r["doc_id"]
                   for r in fts.near_docs(docs, a, b, max_dist=d).collect()]
        assert got_idx == got_dir, (a, b, d)
        and_ids = {r["doc_id"]
                   for r in si.and_docs(list({a, b})).collect()}
        assert set(got_idx) <= and_ids, (a, b, d)
    # adjacency: "neoway business" is adjacent in the edge text
    assert si.near_docs("neoway", "business", max_dist=1).count() > 0
    # query-side normalization (as in phrase_docs): mixed-case terms
    # match the lowercase analyzed tokens on both paths
    lower = [r["doc_id"] for r in si.near_docs("tok1", "tok2", max_dist=8).collect()]
    assert lower
    for a, b in [("TOK1", "Tok2"), ("tok1", "TOK2")]:
        assert [r["doc_id"]
                for r in si.near_docs(a, b, max_dist=8).collect()] == lower, (a, b)
        assert [r["doc_id"]
                for r in fts.near_docs(docs, a, b, max_dist=8).collect()] == lower, (a, b)
    with pytest.raises(ValueError, match="max_dist"):
        si.near_docs("tok1", "tok2", max_dist=0)


def test_more_like_this_matches_python_model(corpus):
    """more_like_this ≡ an independent pure-Python model over the
    OracleIndex: tf·idf term selection (score desc, term asc) from
    the source doc's non-empty tokens, then the oracle's own BM25
    top-k with the source dropped.  Also: unknown doc_id raises,
    exclude_self=False keeps the source (a doc is most like
    itself)."""
    import math

    si, oi, _ = corpus

    def model(doc_id, n_terms, k, min_df=2):
        toks = [t for t in oi.docs[doc_id].strip(" ").lower().split(" ")
                if t != ""]
        tf = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        idf = {
            t: math.log(1.0 + (oi.n_docs - len(oi.postings.get(t, [])) + 0.5)
                        / (len(oi.postings.get(t, [])) + 0.5))
            for t in tf
        }
        cand = [t for t in tf if len(oi.postings.get(t, [])) >= min_df]
        ranked = sorted(cand, key=lambda t: (-(tf[t] * idf[t]), t))[:n_terms]
        hits = oi.bm25_topk(" ".join(ranked), k + 1)
        return [(d, s) for d, s in hits if d != doc_id][:k]

    for src in [0, 23, 117, 300]:
        got = [(r["doc_id"], r["score"])
               for r in si.more_like_this(src, n_terms=5, k=8).collect()]
        want = model(src, 5, 8)
        assert [g[0] for g in got] == [w[0] for w in want], src
        for g, w in zip(got, want):
            assert abs(g[1] - w[1]) < 1e-9, (src, g, w)

    # exclude_self=False ≡ the model without the source filter
    def model_keep(doc_id, n_terms, k, min_df=2):
        toks = [t for t in oi.docs[doc_id].strip(" ").lower().split(" ")
                if t != ""]
        tf = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        idf = {
            t: math.log(1.0 + (oi.n_docs - len(oi.postings.get(t, [])) + 0.5)
                        / (len(oi.postings.get(t, [])) + 0.5))
            for t in tf
        }
        cand = [t for t in tf if len(oi.postings.get(t, [])) >= min_df]
        ranked = sorted(cand, key=lambda t: (-(tf[t] * idf[t]), t))[:n_terms]
        return oi.bm25_topk(" ".join(ranked), k)

    kept = [(r["doc_id"], r["score"])
            for r in si.more_like_this(23, k=5, exclude_self=False).collect()]
    assert [g[0] for g in kept] == [w[0] for w in model_keep(23, 5, 5)]
    with pytest.raises(KeyError, match="doc store"):
        si.more_like_this(10**9)


def test_facet_counts_index_equals_direct(corpus):
    """Index-path facet counts (posting OR + doc-store join + facet
    groupBy) ≡ the direct scan, and totals ≡ the matched-doc count."""
    si, _, docs = corpus
    for terms in [["tok1", "tok2"], ["neoway"], ["missingterm"]]:
        got_idx = [(r["facet"], r["n_docs"])
                   for r in si.facet_counts(terms, "role").collect()]
        got_dir = [(r["facet"], r["n_docs"])
                   for r in fts.facet_counts(docs, terms, "role").collect()]
        assert got_idx == got_dir, terms
        total = sum(n for _, n in got_idx)
        assert total == si.or_docs(terms).count(), terms


def _topk(si, q, k=10, path="local"):
    """bm25_topk rows with the scoring path forced through the class
    constants.  "local" is the default for every fixture query (all
    are far under the posting cap); "pruned" forces the query hot
    (distributed block-max WAND); "exhaustive" forces it hot with the
    block-metadata cap exceeded (every span scored, merged
    distributed)."""
    with pytest.MonkeyPatch.context() as mp:
        if path != "local":
            mp.setattr(type(si), "LOCAL_SCORE_MAX_POSTINGS", 0)
        if path == "exhaustive":
            mp.setattr(type(si), "META_COLLECT_CAP", 0)
        return [(r["doc_id"], r["score"]) for r in si.bm25_topk(q, k).collect()]


def _spy_candidate_collects(monkeypatch):
    """Record every candidate collect of the span scorer as (merge,
    per-query row counts) — the rows the driver actually receives
    from distributed scoring."""
    from collections import Counter

    seen: list[tuple[bool, dict[int, int]]] = []
    orig = SparkIndex._score_spans_batch

    def spy(self, blocks, queries_map, idf_map, k, allowed, merge=False):
        rows = orig(self, blocks, queries_map, idf_map, k, allowed, merge)
        seen.append((merge, dict(Counter(int(r["query_id"]) for r in rows))))
        return rows

    monkeypatch.setattr(SparkIndex, "_score_spans_batch", spy)
    return seen


@pytest.mark.parametrize("mode", ["local", "distributed"])
@pytest.mark.parametrize("q", QUERIES)
def test_bm25_rank_identity(corpus, q, mode):
    si, oi, _ = corpus
    want = oi.bm25_topk(q, 10)
    got = _topk(si, q, 10, path="local" if mode == "local" else "exhaustive")
    assert [g[0] for g in got] == [w[0] for w in want], (q, mode)
    for g, w in zip(got, want):
        assert abs(g[1] - w[1]) < 1e-9, (q, mode, g, w)


@pytest.mark.parametrize("q", QUERIES)
def test_wand_pruning_lossless(corpus, q):
    si, _, _ = corpus
    exhaustive = _topk(si, q, 10, path="exhaustive")
    pruned = _topk(si, q, 10, path="pruned")
    assert pruned == exhaustive, q


@pytest.mark.parametrize("q", QUERIES)
def test_local_path_identical_to_distributed(corpus, q):
    """The driver-local path must be bit-identical to the
    distributed per-span path (same float64 op order by design)."""
    si, _, _ = corpus
    assert _topk(si, q, 10, path="local") == _topk(si, q, 10, path="pruned"), q


def test_exhaustive_merge_distributed_and_bounded(corpus, monkeypatch):
    """When the block metadata overflows META_COLLECT_CAP every span
    is scored, and the span count is unknown driver-side (76 M rows
    of ≤k-per-span candidates at 10^12 docs): the candidates must be
    cut to k per query distributed, so the driver's one candidate
    collect holds ≤k rows per query — for one query and for a batch
    — and the rows stay identical to local scoring and the oracle."""
    si, oi, _ = corpus
    q, k = "tok1 tok3", 10
    local = _topk(si, q, k)
    local2 = _topk(si, "tok2 tok5", k)
    want = oi.bm25_topk(q, k)
    assert [g[0] for g in local] == [w[0] for w in want]
    for g, w in zip(local, want):
        assert abs(g[1] - w[1]) < 1e-9

    # premise: unmerged, the candidates exceed k (several spans hit)
    blocks = si.blocks.where(
        (si.blocks["field"] == "text") & si.blocks["term"].isin(["tok1", "tok3"])
    )
    idf = si._idf({t: m[0] for t, m in si._term_meta(["tok1", "tok3"]).items()},
                  ["tok1", "tok3"])
    unmerged = si._score_spans_batch(blocks, {0: ["tok1", "tok3"]}, {0: idf}, k, None)
    assert len(unmerged) > k

    seen = _spy_candidate_collects(monkeypatch)
    monkeypatch.setattr(type(si), "LOCAL_SCORE_MAX_POSTINGS", 0)
    monkeypatch.setattr(type(si), "META_COLLECT_CAP", 0)
    got = [(r["doc_id"], r["score"]) for r in si.bm25_topk(q, k).collect()]
    assert got == local
    assert seen == [(True, {0: k})], seen

    queries = [q, "tok2 tok5"]
    seen.clear()
    got_batch = [
        (r["query_id"], r["doc_id"], r["score"])
        for r in si.bm25_topk_batch(queries, k).collect()
    ]
    assert [(d, s) for qi, d, s in got_batch if qi == 0] == local
    assert [(d, s) for qi, d, s in got_batch if qi == 1] == local2
    assert seen == [(True, {0: k, 1: k})], seen


def test_meta_cap_fallback_identical(corpus, monkeypatch):
    """Astronomically-hot queries exceed META_COLLECT_CAP and score
    every span instead of collecting WAND bounds — results must be
    identical."""
    si, oi, _ = corpus
    normal = [
        (r["doc_id"], r["score"]) for r in si.bm25_topk("tok1 tok3", 10).collect()
    ]
    monkeypatch.setattr(type(si), "LOCAL_SCORE_MAX_POSTINGS", 0)
    monkeypatch.setattr(type(si), "META_COLLECT_CAP", 1)
    fallback = [
        (r["doc_id"], r["score"]) for r in si.bm25_topk("tok1 tok3", 10).collect()
    ]
    assert fallback == normal


@pytest.mark.parametrize("q", ["tok1 tok3 tok17", "tok1", "tok2 tok2 tok5"])
def test_distributed_bounds_prune_identical(corpus, monkeypatch, q):
    """META_COLLECT_CAP is compared with the query's memoized block
    count: at the count the WAND bounds are collected (pruned path),
    one below it every span is scored (exhaustive path) — both equal
    the driver-local rows."""
    si, _, _ = corpus
    local = _topk(si, q, 10)
    uniq = list(dict.fromkeys(q.split()))
    n_blocks = sum(m[1] for m in si._term_meta(uniq).values())
    assert n_blocks > 1

    meta_calls: list[list[str]] = []
    orig = type(si)._span_meta

    def spy(self, terms, field):
        meta_calls.append(terms)
        return orig(self, terms, field)

    monkeypatch.setattr(type(si), "_span_meta", spy)
    monkeypatch.setattr(type(si), "LOCAL_SCORE_MAX_POSTINGS", 0)
    monkeypatch.setattr(type(si), "META_COLLECT_CAP", n_blocks)
    pruned = [(r["doc_id"], r["score"]) for r in si.bm25_topk(q, 10).collect()]
    assert meta_calls == [uniq]
    monkeypatch.setattr(type(si), "META_COLLECT_CAP", n_blocks - 1)
    exhaustive = [(r["doc_id"], r["score"]) for r in si.bm25_topk(q, 10).collect()]
    assert meta_calls == [uniq], "the over-cap path must not collect bounds"
    assert pruned == exhaustive == local, q


def test_many_span_survivors_broadcast_join(corpus, monkeypatch):
    """Past ISIN_MAX_SPANS the span filter must switch to a broadcast
    join (no 10^5-literal In expression in the plan) and stay
    result-identical."""
    si, _, _ = corpus
    q = "tok1 tok3 tok17"
    baseline = _topk(si, q, 10, path="pruned")
    monkeypatch.setattr(type(si), "ISIN_MAX_SPANS", 0)
    joined = _topk(si, q, 10, path="pruned")
    assert joined == baseline

    # plan-level: the join form contains a broadcast join on span_id
    # and no literal IN-list over span_id
    plan = si._span_filter(si.blocks, range(50))._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "span_id IN" not in plan.replace("#", " ")


def test_survivor_merge_distributed_and_bounded(spark, tmp_path, monkeypatch):
    """A low-θ query can leave nearly every span a WAND survivor
    (all-stopword query over 10^12 docs ≈ 7.6 M spans, ×k candidate
    rows each).  The driver's candidate collects, per regime:

    1. default caps: boot (≤ n_boot·k rows) + survivors, both
       collected unmerged;
    2. SURVIVOR_COLLECT_MAX_SPANS = 0: the survivors' candidates are
       cut to k distributed before the collect;
    3. META_COLLECT_CAP exceeded: ONE exhaustive collect, always
       merged (≤ k rows).

    Every regime returns the exhaustive (and driver-local) rows."""
    docs = assign_doc_ids(synth_transcripts(spark, N_TURNS, seed=11))
    d = str(tmp_path / "surv_idx")
    IndexBuilder(d, span=8).build(docs)  # 600 docs / span 8 → ~75 spans
    si = SparkIndex(spark, d)
    q, k = "tok1 tok2", 10
    n_boot = max(1, (k * 2 + si.span - 1) // si.span, 4)

    exhaustive = _topk(si, q, k, path="exhaustive")
    assert _topk(si, q, k) == exhaustive

    seen = _spy_candidate_collects(monkeypatch)
    monkeypatch.setattr(type(si), "LOCAL_SCORE_MAX_POSTINGS", 0)

    # phase 1 — default cap: boot + survivors, both unmerged; the
    # survivors' candidates exceed k, so phase 2's cut is real
    assert _topk(si, q, k, path="pruned") == exhaustive
    assert [m for m, _ in seen] == [False, False], seen
    assert seen[0][1][0] <= n_boot * k
    assert seen[1][1].get(0, 0) > k, f"test premise: many survivor candidates: {seen}"

    # phase 2 — survivor cap 0: the rest merge goes distributed
    monkeypatch.setattr(type(si), "SURVIVOR_COLLECT_MAX_SPANS", 0)
    seen.clear()
    assert _topk(si, q, k, path="pruned") == exhaustive
    assert [m for m, _ in seen] == [False, True], seen
    assert seen[0][1][0] <= n_boot * k
    assert seen[1][1][0] <= k

    # phase 3 — META_COLLECT_CAP exceeded: one exhaustive collect,
    # always merged, whatever the survivor cap
    monkeypatch.setattr(type(si), "SURVIVOR_COLLECT_MAX_SPANS", 4096)
    seen.clear()
    assert _topk(si, q, k, path="exhaustive") == exhaustive
    assert seen == [(True, {0: k})], seen


def test_batch_identical_to_per_query(corpus):
    """bm25_topk_batch must return row-for-row what the per-query
    path returns (same floats, same tie-breaks), including queries
    with duplicate and missing terms."""
    si, _, _ = corpus
    queries = ["tok1 tok3 tok17", "tok1", "tok2 tok2 tok5", "missingterm tok4"]
    per = []
    for qi, q in enumerate(queries):
        for r in si.bm25_topk(q, 10).collect():
            per.append((qi, r["doc_id"], r["score"]))
    got = [
        (r["query_id"], r["doc_id"], r["score"])
        for r in si.bm25_topk_batch(queries, 10).collect()
    ]
    assert got == per


def test_batch_fallback_identical(corpus, monkeypatch):
    """Past the local-posting cap every query of the batch goes
    through the distributed batched WAND — results must not change."""
    si, _, _ = corpus
    queries = ["tok1 tok3", "tok17"]
    baseline = [
        (r["query_id"], r["doc_id"], r["score"])
        for r in si.bm25_topk_batch(queries, 10).collect()
    ]
    monkeypatch.setattr(type(si), "LOCAL_SCORE_MAX_POSTINGS", 0)
    fallback = [
        (r["query_id"], r["doc_id"], r["score"])
        for r in si.bm25_topk_batch(queries, 10).collect()
    ]
    assert fallback == baseline


def _jobs_in_group(sc, group, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group."""
    sc.setJobGroup(group, f"{group} job count")
    try:
        out = fn()
    finally:
        sc.setJobGroup(f"after_{group}", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_cold_batch_runs_no_spark_job(corpus):
    """With warmed term metadata, scoring a batch of cold queries
    (posting volume under the local cap) runs NO Spark job: the
    union-of-terms payload is one Arrow read on the driver."""
    si, _, _ = corpus
    queries = ["tok1 tok3", "tok17 tok2", "tok5 tok9"]
    si.bm25_topk_batch(queries, 10)  # warm: memoizes term metadata
    _, jobs = _jobs_in_group(
        si.spark.sparkContext, "batch_probe",
        lambda: si.bm25_topk_batch(queries, 10),
    )
    assert jobs == 0, f"expected no Spark job for the cold batch, got {jobs}"


def test_cold_single_request_runs_no_spark_job(corpus, monkeypatch):
    """A cold single BM25 request on a freshly opened handle — open,
    terms probe, payload read and scoring — runs NO Spark job through
    the serving core.  Forced onto the distributed path, the same
    request runs Spark jobs and answers identical rows."""
    from neosearch_spark.cli import handle_search_request

    si, _, _ = corpus
    sc = si.spark.sparkContext
    req = {"queries": ["tok1 tok3 tok17"], "k": 10}

    def fresh_request():
        idx = SparkIndex(si.spark, si.index_dir, result_cache=16)
        return handle_search_request(idx, req)

    local, jobs = _jobs_in_group(sc, "cold_single", fresh_request)
    assert jobs == 0, f"expected no Spark job for a cold request, got {jobs}"
    assert local["batch"][0]["results"]
    monkeypatch.setattr(SparkIndex, "LOCAL_SCORE_MAX_POSTINGS", 0)
    hot, hot_jobs = _jobs_in_group(sc, "cold_single_hot", fresh_request)
    assert hot_jobs > 0
    assert hot == local


def _dsl_reply(rows) -> str:
    """The HTTP reply body's results, as bytes would leave the server."""
    import json

    from neosearch_spark.httpserve import _public_doc

    return json.dumps([_public_doc(r) for r in rows], default=str)


@pytest.mark.parametrize("op", ["$and", "$or"])
def test_plain_term_dsl_runs_no_spark_job(corpus, monkeypatch, op):
    """A plain-term $and/$or DSL request on a freshly opened handle —
    open, terms probe, posting read, set algebra and the reply page —
    runs NO Spark job.  Forced onto the DataFrame evaluator, the same
    request runs Spark jobs and answers the identical (total, rows)."""
    from neosearch_spark.cli import run_dsl_query

    si, oi, _ = corpus
    sc = si.spark.sparkContext
    dsl = {op: [{"text": "tok1"}, {"text": "tok3"}]}

    def fresh_request():
        return run_dsl_query(SparkIndex(si.spark, si.index_dir), dsl, limit=7)

    (total, rows), jobs = _jobs_in_group(sc, f"dsl_{op}", fresh_request)
    assert jobs == 0, f"expected no Spark job for a small DSL request, got {jobs}"
    want = (oi.and_ if op == "$and" else oi.or_)(["tok1", "tok3"])
    assert total == len(want) and [r["doc_id"] for r in rows] == want[:7]
    monkeypatch.setattr(SparkIndex, "LOCAL_SCORE_MAX_POSTINGS", 0)
    (df_total, df_rows), df_jobs = _jobs_in_group(
        sc, f"dsl_{op}_df", fresh_request
    )
    assert df_jobs > 0
    assert (df_total, df_rows) == (total, rows)
    assert _dsl_reply(df_rows) == _dsl_reply(rows)


def test_dsl_phrase_tree_takes_dataframe_path(corpus, monkeypatch, capsys):
    """A tree with a $phrase leaf stays on the DataFrame evaluator,
    and ``query --dry-run`` names the evaluator the rule picks."""
    import json

    from neosearch_spark import cli

    si, _, _ = corpus
    dsl = {"$and": [{"text": "tok1"}, {"text": {"$phrase": "neoway business"}}]}

    def evaluator(d):
        cli.main(["query", "--index", si.index_dir, "--dsl", json.dumps(d),
                  "--dry-run"])
        return json.loads(capsys.readouterr().out)["evaluator"]

    assert evaluator(dsl) == "dataframe"
    assert evaluator({"$or": [{"text": "tok1"}, {"text": "tok2"}]}) == "arrays"
    calls = []
    real = cli._eval_dsl
    monkeypatch.setattr(
        cli, "_eval_dsl", lambda idx, d: calls.append(d) or real(idx, d)
    )
    total, rows = cli.run_dsl_query(si, dsl, limit=5)
    assert calls == [dsl]
    want = [r["doc_id"] for r in real(si, dsl).collect()]
    assert total == len(want) and [r["doc_id"] for r in rows] == want[:5]


# plain terms of the fixture corpus: hot tokens, rarer tokens, a
# whole-string extra term, case variants that are absent (terms are
# matched as stored, unanalyzed) and terms that never occur
_DSL_TERMS = [
    "tok1", "tok2", "tok3", "tok5", "tok9", "tok17", "tok40", "neoway",
    "google", "neoway teste", "Neoway", "missingterm", "zzabsent",
]


def _dsl_trees():
    from hypothesis import strategies as st

    leaf = st.sampled_from(_DSL_TERMS).map(lambda t: {"text": t})

    def extend(child):
        return st.one_of(
            st.lists(child, min_size=1, max_size=3).map(lambda cs: {"$and": cs}),
            st.lists(child, min_size=1, max_size=3).map(lambda cs: {"$or": cs}),
            st.tuples(child, child).map(lambda ab: {"$not": list(ab)}),
            st.tuples(child, child).map(lambda ab: {"$xor": list(ab)}),
        )

    return st.recursive(leaf, extend, max_leaves=6)


def _oracle_dsl(oi, dsl) -> set:
    """Set-algebra model of a plain-term DSL tree over the oracle's
    postings."""
    if "$and" in dsl:
        return set.intersection(*(_oracle_dsl(oi, c) for c in dsl["$and"]))
    if "$or" in dsl:
        return set.union(*(_oracle_dsl(oi, c) for c in dsl["$or"]))
    if "$not" in dsl:
        a, b = (_oracle_dsl(oi, c) for c in dsl["$not"])
        return a - b
    if "$xor" in dsl:
        a, b = (_oracle_dsl(oi, c) for c in dsl["$xor"])
        return a ^ b
    return set(oi.term(dsl["text"]))


def test_random_dsl_trees_arrays_equal_dataframe_and_oracle(corpus):
    """Random $and/$or/$not/$xor nesting over fixture terms (absent
    ones included): the array evaluator ≡ the DataFrame evaluator ≡
    the OracleIndex set model, on total, page ids and the reply JSON."""
    from hypothesis import HealthCheck, given, settings

    from neosearch_spark import cli

    si, oi, _ = corpus
    limit = 5

    @given(dsl=_dsl_trees())
    @settings(
        max_examples=40,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(dsl):
        assert cli._array_terms(si, cli.validate_dsl(dsl)) is not None
        total, rows = cli.run_dsl_query(si, dsl, limit)
        want = sorted(_oracle_dsl(oi, dsl))
        assert total == len(want), dsl
        assert [r["doc_id"] for r in rows] == want[:limit], dsl
        with pytest.MonkeyPatch.context() as mp:
            # -1, not 0: a tree whose terms are all absent sums to df 0
            mp.setattr(SparkIndex, "LOCAL_SCORE_MAX_POSTINGS", -1)
            assert cli._array_terms(si, cli.validate_dsl(dsl)) is None
            df_total, df_rows = cli.run_dsl_query(si, dsl, limit)
        assert df_total == total, dsl
        assert _dsl_reply(df_rows) == _dsl_reply(rows), dsl

    check()


def test_batch_distributed_identical_and_bounded_jobs(corpus, monkeypatch):
    """Forcing every query hot routes the batch through the
    distributed batched-WAND path: results stay bit-identical to the
    unforced batch, and the WHOLE hot set costs O(1) scoring jobs
    (≤4: metadata probe + capped meta collect + boot + survivors) —
    never a per-query job loop."""
    si, _, _ = corpus
    queries = ["tok1 tok3 tok17", "tok2 tok2 tok5", "tok1", "missingterm tok4"]
    baseline = [
        (r["query_id"], r["doc_id"], r["score"])
        for r in si.bm25_topk_batch(queries, 10).collect()
    ]
    monkeypatch.setattr(type(si), "LOCAL_SCORE_MAX_POSTINGS", 0)
    sc = si.spark.sparkContext

    def count_jobs(group, qs):
        sc.setJobGroup(group, "distributed batch job count")
        rows = [
            (r["query_id"], r["doc_id"], r["score"])
            for r in si.bm25_topk_batch(qs, 10).collect()
        ]
        sc.setJobGroup(f"after_{group}", "")
        return rows, len(sc.statusTracker().getJobIdsForGroup(group))

    # the hot path's applyInPandas must pick the grouped-map eval type
    # without warning that it cannot infer it from type hints
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got, jobs4 = count_jobs("hot_batch_4", queries)
    assert not [
        w for w in caught if "Cannot infer the eval type" in str(w.message)
    ]
    assert got == baseline
    # the fixed ladder (meta collect + boot + survivors + result) is
    # independent of the number of hot queries: 2-query and 4-query
    # batches run the SAME number of jobs (a per-query loop would
    # scale linearly)
    _, jobs2 = count_jobs("hot_batch_2", queries[:2])
    assert jobs4 <= jobs2 + 1, f"jobs grew with batch size: {jobs2} -> {jobs4}"


def test_batch_distributed_meta_overflow_exhaustive(corpus, monkeypatch):
    """When the metadata collect overflows its cap, the hot batch
    falls back to ONE exhaustive batch-scoring job — identical rows."""
    si, _, _ = corpus
    queries = ["tok1 tok3", "tok2 tok5"]
    baseline = [
        (r["query_id"], r["doc_id"], r["score"])
        for r in si.bm25_topk_batch(queries, 10).collect()
    ]
    monkeypatch.setattr(type(si), "LOCAL_SCORE_MAX_POSTINGS", 0)
    monkeypatch.setattr(type(si), "META_COLLECT_CAP", 0)
    got = [
        (r["query_id"], r["doc_id"], r["score"])
        for r in si.bm25_topk_batch(queries, 10).collect()
    ]
    assert got == baseline


def test_get_docs_materialization(corpus):
    si, oi, _ = corpus
    top = si.bm25_topk("tok1 tok3", 5)
    docs = si.get_docs(top.select("doc_id")).collect()
    assert len(docs) == 5
    assert {r["doc_id"] for r in docs} == {d for d, _ in oi.bm25_topk("tok1 tok3", 5)}


def test_per_turn_text_equality_invariant(corpus):
    """input_hint invariant: per-turn text survives the pipeline
    byte-identically under stable (conv_id, turn_idx) ordering."""
    si, _, docs = corpus
    src = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in docs.select("conv_id", "turn_idx", "text").collect()
    }
    stored = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in si.docs.select("conv_id", "turn_idx", "text").collect()
    }
    assert src == stored


def test_span_meta_memo_warm_repeat(spark, tmp_path, monkeypatch):
    """The WAND-bounds span metadata is memoized per (field, term):
    a warm repeat of a pruned distributed query must run NO metadata
    scan (straight to the boot job), with results identical to the
    cold run and to the exhaustive path.  The memo's row budget is
    respected: past it, terms are fetched per-query uncached."""
    docs = assign_doc_ids(synth_transcripts(spark, N_TURNS, seed=13))
    d = str(tmp_path / "memo_idx")
    IndexBuilder(d, span=8).build(docs)  # small span → many spans
    si = SparkIndex(spark, d)
    q, k = "tok1 tok2 tok9", 10

    missing_per_call: list[list[str]] = []
    orig = type(si)._span_meta

    def spy(self, uniq, field):
        missing_per_call.append(
            [t for t in uniq if (field, t) not in self._span_meta_cache]
        )
        return orig(self, uniq, field)

    monkeypatch.setattr(type(si), "_span_meta", spy)

    exhaustive = _topk(si, q, k, path="exhaustive")
    cold = _topk(si, q, k, path="pruned")
    warm = _topk(si, q, k, path="pruned")
    assert cold == warm == exhaustive
    assert missing_per_call[0] == ["tok1", "tok2", "tok9"]  # cold: fetch all
    assert missing_per_call[1] == []                        # warm: memo only

    # batch path shares the memo: a hot batch repeating one term + one new
    monkeypatch.setattr(type(si), "LOCAL_SCORE_MAX_POSTINGS", 0)
    batch = si.bm25_topk_batch([q, "tok1 tok17"], k=k)
    got = [
        (r["doc_id"], r["score"])
        for r in batch.where("query_id = 0").select("doc_id", "score").collect()
    ]
    assert got == exhaustive
    assert len(missing_per_call) == 3
    assert "tok1" not in missing_per_call[2]

    # budget exhausted → correct but uncached
    monkeypatch.setattr(type(si), "SPAN_META_MEMO_MAX_ROWS", 0)
    si2 = SparkIndex(spark, d)
    monkeypatch.setattr(type(si2), "_span_meta", spy)
    a = _topk(si2, q, k, path="pruned")
    b = _topk(si2, q, k, path="pruned")
    assert a == b == exhaustive
    assert missing_per_call[-1] == ["tok1", "tok2", "tok9"]  # nothing cached


def test_result_cache_zero_jobs_on_repeat(spark, tmp_path, monkeypatch):
    """result_cache=N: an exact repeat query returns the memoized
    rows without re-entering the scoring engine (zero Spark scoring
    jobs), identical to the uncached result; the LRU evicts at
    capacity; default (0) stays uncached."""
    docs = assign_doc_ids(synth_transcripts(spark, 200, seed=5))
    d = str(tmp_path / "rc_idx")
    IndexBuilder(d, span=32).build(docs)

    calls: list[tuple] = []
    core = SparkIndex._topk_rows

    def spy(self, qterms_list, k, field):
        calls.append((qterms_list, k))
        return core(self, qterms_list, k, field)

    monkeypatch.setattr(SparkIndex, "_topk_rows", spy)

    plain = SparkIndex(spark, d)
    want = [(r["doc_id"], r["score"]) for r in plain.bm25_topk("tok1 tok2", 5).collect()]
    assert len(calls) == 1  # uncached: every call hits the scorer
    n0 = len(calls)
    plain.bm25_topk("tok1 tok2", 5).collect()
    assert len(calls) == n0 + 1  # still uncached by default

    si = SparkIndex(spark, d, result_cache=2)
    calls.clear()
    a = [(r["doc_id"], r["score"]) for r in si.bm25_topk("tok1 tok2", 5).collect()]
    b = [(r["doc_id"], r["score"]) for r in si.bm25_topk("tok1 tok2", 5).collect()]
    assert a == b == want
    assert len(calls) == 1, f"repeat must not re-enter the engine: {calls}"
    # distinct k / query are distinct entries
    si.bm25_topk("tok1 tok2", 3).collect()
    si.bm25_topk("tok3", 5).collect()
    assert len(calls) == 3
    # capacity 2: the oldest entry was evicted and recomputes
    si.bm25_topk("tok1 tok2", 5).collect()
    assert len(calls) == 4


def test_memo_caches_are_thread_safe(spark, tmp_path, monkeypatch):
    """One SparkIndex handle is shared across ThreadingHTTPServer
    handler threads: hammer the result-cache LRU (get/move_to_end vs
    insert/evict) and the term-meta memo (incl. its overflow clear)
    from many threads.  Pre-fix this raced into KeyError (evict
    between a hit's get and its move_to_end; clear between insert and
    read-back) and 400'd valid queries."""
    import threading

    d = str(tmp_path / "mt_idx")
    docs = assign_doc_ids(synth_transcripts(spark, 120, seed=11))
    IndexBuilder(d, span=64).build(docs)
    idx = SparkIndex(spark, d, result_cache=2)  # tiny: constant eviction

    # driver-side stand-ins: no Spark work, so threads interleave at
    # dict-operation granularity and the race window is actually hit
    monkeypatch.setattr(idx, "_topk_rows", lambda qterms_list, k, field: [])
    monkeypatch.setattr(idx, "_topk_df", lambda rows: rows)

    errors: list[BaseException] = []

    def hammer(seed: int) -> None:
        try:
            for i in range(3000):
                idx.bm25_topk(f"q{(seed + i) % 3}", 10)  # 3 keys, cache of 2
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=hammer, args=(s,)) for s in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert not errors, errors
    assert len(idx._result_cache) <= 2

    # term-meta memo: force the overflow clear to race the read-back
    idx._meta_cache.clear()
    real_terms = idx._term_meta(["tok1", "tok2", "tok3"])  # real fetch once
    errors2: list[BaseException] = []

    def meta_hammer(seed: int) -> None:
        try:
            for i in range(2000):
                if i % 50 == seed % 50:
                    # simulate the soft-cap clear another thread triggers
                    with idx._memo_lock:
                        idx._meta_cache.clear()
                        idx._meta_cache.update(
                            {("text", t): v for t, v in real_terms.items()}
                        )
                got = idx._term_meta([f"tok{1 + (seed + i) % 3}"])
                assert list(got.values())[0][0] >= 0
        except BaseException as e:  # noqa: BLE001
            errors2.append(e)

    # make misses cheap/driver-side: every term is already cached via
    # real_terms re-seeding, so _term_meta never reaches Spark here
    threads = [threading.Thread(target=meta_hammer, args=(s,)) for s in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert not errors2, errors2


def test_suggest_terms_index_equals_direct(corpus):
    """Index-path spelling suggestions (terms-table vocabulary, no
    corpus scan) ≡ the direct token-df aggregation, including the
    (dist asc, df desc, term asc) ranking; max_dist validated."""
    si, _, docs = corpus
    # short terms (len <= max_dist) reach the empty token that the
    # corpus's multi-space runs index; it is never a suggestion
    for term, d, n in [("tok", 2, 5), ("neoway", 2, 5), ("tok10", 1, 8),
                       ("zzqqxx", 2, 5), ("a", 1, 5), ("zq", 2, 5)]:
        got_idx = [(r["term"], r["dist"], r["df"])
                   for r in si.suggest_terms(term, max_dist=d, n=n).collect()]
        got_dir = [(r["term"], r["dist"], r["df"])
                   for r in fts.suggest_terms(docs, term, max_dist=d, n=n).collect()]
        assert got_idx == got_dir, (term, d)
        assert "" not in [t for t, _, _ in got_idx], (term, d)
        # ranking invariant: dist non-decreasing; within a dist, df
        # non-increasing
        for a, b in zip(got_idx, got_idx[1:]):
            assert a[1] <= b[1]
            if a[1] == b[1]:
                assert a[2] >= b[2]
    # an exact vocabulary hit ranks itself first at dist 0
    first = si.suggest_terms("tok1", max_dist=1, n=3).collect()[0]
    assert (first["term"], first["dist"]) == ("tok1", 0)
    with pytest.raises(ValueError, match="max_dist"):
        si.suggest_terms("tok1", max_dist=0)
    with pytest.raises(ValueError, match="max_dist"):
        fts.suggest_terms(docs, "tok1", max_dist=0)
