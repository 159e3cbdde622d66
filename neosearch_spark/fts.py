"""Direct (non-persisted) full-text operators over any DataFrame
with (doc_id: long, <text field>: string).

These are the same logical operators as the persisted-index path
(build.py/query.py) expressed as single Catalyst plans — used by the
driver's DuckDB-oracle correctness gate and anywhere an ad-hoc query
doesn't warrant a persisted index.  Reference semantics per SURVEY
§2.2/§2.7 (FilterTermID ``index/filter.go:10-42``, AND
``search/search.go:75-106``, documented OR ``PROPOSAL.md:230-235``,
MatchPrefix ``filter.go:67-118``).

Everything is built-in ``pyspark.sql.functions`` — whole-stage
codegen, no Python.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .analyzer import doc_len_col, norm_col, tokens_col

K1 = 1.2
B = 0.75


def token_stream(docs: DataFrame, field: str = "text") -> DataFrame:
    """(doc_id, token) — one row per token occurrence (duplicates
    kept; tf = count).  Split tokens only — the whole-string term is
    a lookup extra, not part of the scoring stream."""
    return docs.select("doc_id", F.explode(tokens_col(F.col(field))).alias("token"))


def term_frequencies(docs: DataFrame, field: str = "text") -> DataFrame:
    """(doc_id, token, tf)"""
    return (
        token_stream(docs, field)
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def doc_lengths(docs: DataFrame, field: str = "text") -> DataFrame:
    """(doc_id, dl)"""
    return docs.select("doc_id", doc_len_col(F.col(field)).cast("long").alias("dl"))


# ---------------------------------------------------------------------------
# Boolean term matching.
#
# r5: every boolean operator below is a ROW-LOCAL predicate over the
# token array (array_contains / arrays_overlap / exists) — a pure
# filter scan with zero exchanges except the final doc_id sort.  The
# previous shapes cost an explode + distinct (or groupBy / anti-join)
# shuffle each; at 100 TB the filter form is strictly better (filter +
# project survive whole-stage codegen, nothing is re-partitioned, and
# AND/NOT/XOR compose in the SAME single scan instead of joining two
# scans).  Semantics are identical under the module contract that
# ``doc_id`` is unique per row — the old explode+distinct would
# additionally merge tokens across duplicate doc_id rows, which is
# malformed input here.
# ---------------------------------------------------------------------------


def _match_any(toks, terms: list[str]):
    """ANY-of-terms predicate (documented-union OR)."""
    if not terms:
        return F.lit(False)
    return F.arrays_overlap(toks, F.array(*[F.lit(t) for t in terms]))


def _match_all(toks, terms: list[str]):
    """ALL-of-terms predicate (sorted-intersection AND)."""
    if not terms:
        return F.lit(False)  # parity: the old isin([]) shape matched nothing
    # dict.fromkeys: dedupe with deterministic order (stable plan strings)
    return reduce(
        operator.and_, [F.array_contains(toks, t) for t in dict.fromkeys(terms)]
    )


def _ids_where(docs: DataFrame, pred, field: str) -> DataFrame:
    toks = tokens_col(F.col(field))
    return docs.where(pred(toks)).select("doc_id").orderBy("doc_id")


def matching_docs(docs: DataFrame, term: str, field: str = "text") -> DataFrame:
    """FilterTermID analog: doc_ids containing term, ascending."""
    return _ids_where(docs, lambda toks: F.array_contains(toks, term), field)


def and_docs(docs: DataFrame, terms: list[str], field: str = "text") -> DataFrame:
    """Docs containing ALL terms (sorted-intersection semantics)."""
    return _ids_where(docs, lambda toks: _match_all(toks, terms), field)


def or_docs(docs: DataFrame, terms: list[str], field: str = "text") -> DataFrame:
    """Docs containing ANY term (documented-union OR)."""
    return _ids_where(docs, lambda toks: _match_any(toks, terms), field)


def not_docs(
    docs: DataFrame, include: list[str], exclude: list[str], field: str = "text"
) -> DataFrame:
    """AND(include) minus OR(exclude) — one scan, no anti-join."""
    return _ids_where(
        docs,
        lambda toks: _match_all(toks, include)
        & ~F.coalesce(_match_any(toks, exclude), F.lit(False)),
        field,
    )


def xor_docs(
    docs: DataFrame, a_terms: list[str], b_terms: list[str], field: str = "text"
) -> DataFrame:
    """Docs matching OR(a_terms) or OR(b_terms) but not both — the
    symmetric difference the reference planned but never shipped
    (``PROPOSAL.md:223-224``).  One scan, no joins: both sides are
    row-local predicates XORed per doc."""
    return _ids_where(
        docs,
        lambda toks: F.coalesce(_match_any(toks, a_terms), F.lit(False))
        != F.coalesce(_match_any(toks, b_terms), F.lit(False)),
        field,
    )


def prefix_docs(docs: DataFrame, prefix: str, field: str = "text") -> DataFrame:
    return _ids_where(
        docs, lambda toks: F.exists(toks, lambda t: t.startswith(prefix)), field
    )


def snippets(
    docs: DataFrame,
    query_terms: list[str],
    field: str = "text",
    width: int = 8,
) -> DataFrame:
    """Search-result snippets (the Lucene highlighter analog; engine
    extension — the reference returns whole documents only): for
    each doc, a ``width``-token window starting just before the
    FIRST occurrence of any query term in the non-empty token
    stream.  Output: ``doc_id``, ``hit_pos`` (1-based token position
    of the first hit, null when no term occurs), ``snippet`` (null
    when no hit — presentation layers fall back to a document
    prefix if they want one).

    Row-local: per-term ``array_position`` + null-skipping
    ``least`` + one ``slice`` — a zero-shuffle projection that
    composes with any result set (serving layers join it onto the
    top-k ids).  Both Spark and DuckDB give 1-based positions with
    0-if-absent and null-skipping ``least``, so the gate compares
    values exactly."""
    if not query_terms:
        raise ValueError("snippets needs at least one query term")
    toks = F.filter(tokens_col(F.col(field)), lambda t: t != "")
    base = docs.select("doc_id", toks.alias("_toks"))
    positions = [
        F.nullif(F.array_position(F.col("_toks"), t), F.lit(0))
        for t in query_terms
    ]
    first = positions[0] if len(positions) == 1 else F.least(*positions)
    start = F.greatest(first - F.lit(width // 2), F.lit(1))
    snip = F.when(
        first.isNotNull(),
        F.concat_ws(" ", F.slice(F.col("_toks"), start, width)),
    )
    return base.select(
        "doc_id",
        first.cast("long").alias("hit_pos"),
        snip.alias("snippet"),
    )


def fuzzy_docs(
    docs: DataFrame, term: str, max_dist: int = 1, field: str = "text"
) -> DataFrame:
    """Fuzzy term match (the Lucene FuzzyQuery analog — an engine
    extension beyond the reference, which has exact/prefix only):
    docs whose token array holds ANY token within Levenshtein
    distance ``max_dist`` of ``term``.  Same row-local single-scan
    shape as the other boolean ops (one ``exists`` predicate, no
    exchange but the doc_id sort).

    Oracle caveat: Spark's ``levenshtein`` counts UTF-16 characters
    while DuckDB's counts BYTES — identical on ASCII tokens (the
    gate fixture), divergent on multibyte text; the index path
    (`SparkIndex.fuzzy_docs`) has no such caveat since both engines
    never compare distances there."""
    return _ids_where(
        docs,
        lambda toks: F.exists(
            toks, lambda t: F.levenshtein(t, F.lit(term)) <= max_dist
        ),
        field,
    )


def phrase_docs(docs: DataFrame, phrase: str, field: str = "text") -> DataFrame:
    """Exact-phrase match (engine extension — the reference indexes a
    whole-value extra term, ``index.go:546-553``, but cannot match a
    phrase INSIDE a longer value): docs whose analyzed token stream
    contains the phrase's tokens consecutively.

    Positions-free by construction: the analyzer splits the
    normalized string on single spaces keeping empties
    (``analyzer.py``), so token-level adjacency — INCLUDING empty
    tokens from multi-space runs — is exactly a space-bounded
    substring test on the normalized text.  One codegen'd predicate
    (``contains`` over ``' '+lower(trim(text))+' '``), no token
    array, no explode, no Python: the cheapest possible phrase scan,
    and the same expression DuckDB evaluates for the oracle gate.

    A phrase with internal double spaces therefore matches only docs
    with the same empty-token run — reference-analyzer parity, not a
    normalization bug."""
    norm = phrase.strip(" ").lower()
    if norm == "":
        raise ValueError("phrase_docs needs a non-empty phrase")
    padded = F.concat(F.lit(" "), norm_col(F.col(field)), F.lit(" "))
    return (
        docs.where(padded.contains(" " + norm + " "))
        .select("doc_id")
        .orderBy("doc_id")
    )


def wildcard_to_like(pattern: str) -> str:
    """Glob wildcard → SQL LIKE pattern: ``*`` → ``%``, ``?`` → ``_``,
    with LIKE metacharacters (``%``, ``_``, ``\\``) in the input
    escaped by backslash — Spark SQL's default LIKE escape.  DuckDB
    has NO default LIKE escape: an escaped pattern evaluated there
    needs an explicit ``ESCAPE '\\'`` clause, or ``\\_`` matches
    nothing."""
    out = []
    for ch in pattern:
        if ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        elif ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        else:
            out.append(ch)
    return "".join(out)


def wildcard_match(token: str, pattern: str) -> bool:
    """Pure-Python twin of the wildcard semantics (``*`` = any run,
    ``?`` = exactly one char, everything else literal — no char
    classes, unlike fnmatch) used by the property tests."""
    import re

    rx = "".join(
        ".*" if c == "*" else "." if c == "?" else re.escape(c) for c in pattern
    )
    return re.fullmatch(rx, token) is not None


def wildcard_docs(
    docs: DataFrame, pattern: str, field: str = "text"
) -> DataFrame:
    """Wildcard term match (the Lucene WildcardQuery analog; engine
    extension): docs whose token array holds ANY token matching the
    glob ``pattern`` (``*`` = any run, ``?`` = one char).  Same
    row-local single-scan shape as the other boolean ops.  The
    pattern is matched against ANALYZED tokens, so it should be
    lowercase."""
    like = wildcard_to_like(pattern)
    return _ids_where(
        docs, lambda toks: F.exists(toks, lambda t: t.like(like)), field
    )


def _near_pred(text_col, term_a: str, term_b: str, max_dist: int):
    """Row-local proximity predicate over a raw text column: some
    occurrence of ``term_a`` lies within ``max_dist`` positions of
    some occurrence of ``term_b`` in the NON-EMPTY token stream
    (1-based positions, the same stream ``snippets`` reports
    ``hit_pos`` in).  When the terms are equal, two DISTINCT
    occurrences are required.  Pure codegen: indexed ``transform``
    to position lists + nested ``exists`` — no explode, no join, no
    Python."""
    toks = F.filter(F.split(F.lower(F.trim(text_col)), " ", -1), lambda t: t != "")

    def positions(term):
        return F.filter(
            F.transform(
                toks,
                lambda t, i: F.when(t == F.lit(term), i + 1).otherwise(F.lit(-1)),
            ),
            lambda p: p > 0,
        )

    pa, pb = positions(term_a), positions(term_b)
    if term_a == term_b:
        return F.exists(
            pa,
            lambda x: F.exists(
                pb, lambda y: (x != y) & (F.abs(x - y) <= max_dist)
            ),
        )
    return F.exists(
        pa, lambda x: F.exists(pb, lambda y: F.abs(x - y) <= max_dist)
    )


def near_docs(
    docs: DataFrame,
    term_a: str,
    term_b: str,
    max_dist: int = 3,
    field: str = "text",
) -> DataFrame:
    """Proximity match (the Lucene SpanNearQuery analog, unordered;
    engine extension): docs where ``term_a`` occurs within
    ``max_dist`` tokens of ``term_b``, positions counted in the
    non-empty token stream.  ``max_dist=1`` means adjacent (either
    order); equal terms need two distinct occurrences.  Terms are
    lowercased like the analyzed tokens they match.  Same row-local
    single-scan shape as the other boolean ops."""
    if max_dist < 1:
        raise ValueError("near_docs needs max_dist >= 1")
    pred = _near_pred(F.col(field), term_a.lower(), term_b.lower(), max_dist)
    return (
        docs.where(pred)
        .select("doc_id")
        .orderBy("doc_id")
    )


def facet_counts(
    docs: DataFrame,
    query_terms: list[str],
    facet_field: str,
    field: str = "text",
) -> DataFrame:
    """Facet counts (search-engine term aggregation; engine
    extension): among docs matching ANY query term (the documented-
    union OR), the number of docs per distinct value of
    ``facet_field``.  Output ``(facet, n_docs)``, count desc then
    facet asc; a null facet value is its own group (both engines
    keep null groups).

    One scan + one partial-aggregated groupBy on the (low-
    cardinality) facet value — the shuffle moves #distinct-facets
    rows per partition, not matched docs."""
    toks = tokens_col(F.col(field))
    return (
        docs.where(_match_any(toks, query_terms))
        .groupBy(F.col(facet_field).cast("string").alias("facet"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("facet"))
    )


def suggest_terms(
    docs: DataFrame,
    term: str,
    max_dist: int = 2,
    n: int = 5,
    field: str = "text",
) -> DataFrame:
    """Spelling suggestions ("did you mean"; the Lucene
    DirectSpellChecker analog — engine extension): the ``n``
    vocabulary tokens closest to ``term`` by Levenshtein distance,
    ranked (dist asc, df desc, term asc) — a closer term always
    beats a more frequent one, Lucene's default comparator.  Output
    ``(term, dist, df)``.

    One token-df aggregation (partial-agg groupBy on the token —
    vocabulary-sized shuffle, not corpus-sized) + a length-pruned
    Levenshtein ranking.  The persisted-index twin
    (`SparkIndex.suggest_terms`) reads df straight from the tiny
    terms table and runs no corpus scan at all.  Same ASCII oracle
    caveat as ``fuzzy_docs``."""
    if max_dist < 1:
        raise ValueError("suggest_terms needs max_dist >= 1")
    toks = token_stream(docs, field).where(F.col("token") != "")
    dfs = toks.groupBy("token").agg(
        F.count_distinct("doc_id").cast("long").alias("df")
    )
    dist = F.levenshtein(F.col("token"), F.lit(term))
    return (
        dfs.where(F.abs(F.length("token") - F.lit(len(term))) <= max_dist)
        .where(dist <= max_dist)
        .select(
            F.col("token").alias("term"),
            dist.cast("long").alias("dist"),
            "df",
        )
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(n)
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    field: str = "text",
    round_to: int | None = 6,
) -> DataFrame:
    """(doc_id, score) for every doc matching ≥1 query term.

    ZERO-shuffle plan (r5): per-term tf is a row-local expression —
    ``size(filter(tokens, t == term))`` — so (dl, tf_0..tf_q) project
    straight off each doc row with no explode and no groupBy.  Corpus
    stats (n_docs, avgdl, df per term) are ONE 1-row aggregate over
    that projection, broadcast back; the score is a fixed-order
    expression sum over the query terms.  The previous shape cost
    two groupBy exchanges plus a tf⋈dl shuffle join; this one scans
    the docs twice (stats leg + scoring leg, same projected subplan)
    and exchanges nothing but the 1-row stats — the plan you want at
    100 TB.  A/B at sf0.1 local[32] (min of 2): 1.042 → 0.976 s —
    modest locally where the parquet scan + tokenize dominates, but
    the exchanges it removes are the part that grows super-linearly
    with corpus size.  Lucene-style idf; k1=1.2, b=0.75 — identical
    constants in oracle.py and the SQL oracles.

    tf=0 terms contribute an exact 0.0 (zero numerator, positive
    denominator), so no per-term match guard is needed; float
    addition order is fixed by the term list, and the oracle gate
    compares at round_to=6 exactly as it did for the groupBy-sum
    shape's nondeterministic order.
    """
    uniq = list(dict.fromkeys(query_terms))
    if not uniq:
        # "every doc matching ≥1 query term" of zero terms is empty —
        # parity with the pre-r5 groupBy shape (and analyze_query('')
        # legitimately produces []), not a plan-build TypeError
        return docs.select(
            F.col("doc_id"), F.lit(0.0).alias("score")
        ).where(F.lit(False))
    # occurrence multiplicity: duplicate query terms contribute once
    # per occurrence (oracle semantics)
    mult = {u: float(query_terms.count(u)) for u in uniq}
    # two-stage projection: materialize the token array once as a
    # column — lambda-bearing expressions (the per-term filters) are
    # exempt from Spark's subexpression elimination, so a single
    # select would re-split the text per term (see the measured
    # textstats A/B, ops/textstats.py).
    per_doc = docs.select(
        "doc_id", tokens_col(F.col(field)).alias("_toks")
    ).select(
        "doc_id",
        F.size(F.col("_toks")).cast("long").alias("dl"),
        *[
            F.size(
                # closure factory, not a default arg: F.filter treats a
                # 2-param lambda as (element, index)
                F.filter(F.col("_toks"), (lambda term: lambda t: t == F.lit(term))(u))
            ).cast("long").alias(f"tf_{i}")
            for i, u in enumerate(uniq)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("double")).alias(f"df_{i}")
            for i in range(len(uniq))
        ],
    )
    matched = per_doc.where(
        reduce(operator.or_, [F.col(f"tf_{i}") > 0 for i in range(len(uniq))])
    ).crossJoin(F.broadcast(stats))
    contribs = []
    for i, u in enumerate(uniq):
        idf = F.log(
            1.0
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        tfc = F.col(f"tf_{i}")
        contribs.append(
            F.lit(mult[u])
            * idf
            * (tfc * (K1 + 1.0))
            / (tfc + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl")))
        )
    score = reduce(operator.add, contribs)
    if round_to is not None:
        score = F.round(score, round_to)
    return matched.select("doc_id", score.alias("score"))


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    field: str = "text",
    round_to: int | None = 6,
) -> DataFrame:
    return (
        bm25_scores(docs, query_terms, field, round_to)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
