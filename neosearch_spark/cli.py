"""Job-spec CLI — the Spark-native replacement for the reference's
REST service (``/root/reference/service/neosearch``) and command
REPL (``cmd/cli``): a thin ``spark-submit --py-files`` entry point
reading a JSON job spec, per SURVEY §3.3.

Usage:
  spark-submit --py-files neosearch_spark.zip -m neosearch_spark.cli build \
      --input /path/transcripts_parquet --index /path/index
  python -m neosearch_spark.cli query --index /path/index \
      --dsl '{"$and": [{"text": "tok1"}, {"text": "tok2"}]}'
  python -m neosearch_spark.cli search --index /path/index \
      --query "distributed search index" -k 10
  python -m neosearch_spark.cli synth --out /path --turns 100000

The query DSL mirrors the reference's search JSON
(``service/neosearch/index/search.go:58-92``): ``{"$and": [...]}`` /
``{"$or": [...]}`` / bare ``{field: term}`` — with OR implementing
the documented union semantics (divergence SURVEY §2.11.1) — plus
the engine extensions ``{field: {"$prefix": ...}}``, ``$not``,
``$xor``, ``{field: {"$fuzzy": term, "max_dist": N}}``
(Levenshtein expansion over the vocabulary table),
``{field: {"$wildcard": "pat*ern"}}`` (glob expansion over the
vocabulary table), ``{field: {"$phrase": "two words"}}``
(posting-intersection pre-filter + positions-free adjacency
confirm on the stored text), and ``{field: {"$near": ["a", "b"],
"max_dist": 3}}`` (unordered proximity: posting-intersection
pre-filter + position confirm).
"""

from __future__ import annotations

import argparse
import json
import sys
from functools import reduce

import numpy as np
from pyspark.sql import functions as F


def _spark(args):
    from .session import get_spark

    return get_spark("neosearch_cli", cores=args.cores)


def cmd_build(args) -> int:
    from .build import IndexBuilder
    from .docids import assign_doc_ids

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    if "doc_id" not in docs.columns:
        docs = assign_doc_ids(docs)
    kwargs = {}
    if args.span is not None:
        kwargs["span"] = args.span
    IndexBuilder(
        args.index,
        analyzed_fields=args.fields.split(","),
        exact_fields=args.exact_fields.split(",") if args.exact_fields else [],
        **kwargs,
    ).build(docs, resume=args.resume)
    print(json.dumps({"status": "ok", "index": args.index}))
    return 0


def validate_dsl(dsl: dict) -> tuple:
    """Shape-check a boolean-DSL dict WITHOUT an index → its parsed
    tree.  The one DSL parser: both evaluators (``_eval_dsl``'s
    DataFrames, ``run_dsl_query``'s arrays) walk this tree, so every
    malformed-shape error fires identically for an index in ANY state
    (the HTTP pending-index path — a request must validate the same
    way whether or not the first document has arrived).

    Nodes are ``(op, [children])`` for ``$and``/``$or``/``$not``
    ([include, exclude]) and ``$xor`` ([a, b]); leaves are ``(method,
    field, kwargs)``, naming the ``SparkIndex`` method that evaluates
    them (``term_docs`` for a plain term)."""
    if "$and" in dsl:
        if not dsl["$and"]:
            raise ValueError("empty $and clause list")
        return ("$and", [validate_dsl(c) for c in dsl["$and"]])
    if "$or" in dsl:
        if not dsl["$or"]:
            raise ValueError("empty $or clause list")
        return ("$or", [validate_dsl(c) for c in dsl["$or"]])
    if "$not" in dsl:
        # planned-but-unshipped reference operator (PROPOSAL.md:
        # 223-224): [include, exclude] → include minus exclude;
        # clauses compose recursively ($and/$or/$prefix inside)
        inc, exc = dsl["$not"]
        return ("$not", [validate_dsl(inc), validate_dsl(exc)])
    if "$xor" in dsl:
        # symmetric difference of two recursively-parsed clauses
        a, b = (validate_dsl(c) for c in dsl["$xor"])
        return ("$xor", [a, b])
    (field, term), = dsl.items()
    if isinstance(term, dict) and "$prefix" in term:
        prefix = term["$prefix"]
        if not isinstance(prefix, str):
            # checked HERE, not downstream in prefix_docs, so a
            # pending index 400s the same way a live one does (live
            # would TypeError inside _bucket_prefix)
            raise ValueError(
                f"$prefix value must be a string, got {type(prefix).__name__}"
            )
        return ("prefix_docs", field, {"prefix": prefix})
    if isinstance(term, dict) and "$fuzzy" in term:
        # engine extension (no reference analog): Lucene-FuzzyQuery-
        # style match — {"field": {"$fuzzy": "term", "max_dist": 1}}
        fz = term["$fuzzy"]
        if not isinstance(fz, str):
            raise ValueError(
                f"$fuzzy value must be a string, got {type(fz).__name__}"
            )
        md = term.get("max_dist", 1)
        if isinstance(md, bool) or not isinstance(md, int) or md < 0:
            raise ValueError(
                f"$fuzzy max_dist must be a non-negative integer, got {md!r}"
            )
        return ("fuzzy_docs", field, {"term": fz, "max_dist": md})
    if isinstance(term, dict) and "$wildcard" in term:
        # engine extension: Lucene-WildcardQuery-style match —
        # {"field": {"$wildcard": "pat*ern"}} (* = any run, ? = one char)
        wc = term["$wildcard"]
        if not isinstance(wc, str):
            raise ValueError(
                f"$wildcard value must be a string, got {type(wc).__name__}"
            )
        return ("wildcard_docs", field, {"pattern": wc})
    if isinstance(term, dict) and "$near" in term:
        # engine extension: Lucene-SpanNearQuery-style proximity —
        # {"field": {"$near": ["a", "b"], "max_dist": 3}}
        pair = term["$near"]
        if (
            not isinstance(pair, list)
            or len(pair) != 2
            or not all(isinstance(t, str) and t for t in pair)
        ):
            raise ValueError(
                "$near value must be a list of exactly two non-empty "
                f"term strings, got {pair!r}"
            )
        md = term.get("max_dist", 3)
        if isinstance(md, bool) or not isinstance(md, int) or md < 1:
            raise ValueError(
                f"$near max_dist must be a positive integer, got {md!r}"
            )
        return ("near_docs", field, {"term_a": pair[0], "term_b": pair[1], "max_dist": md})
    if isinstance(term, dict) and "$phrase" in term:
        # engine extension: exact-phrase match inside a value —
        # {"field": {"$phrase": "two words"}}; the reference's
        # whole-value extra term only matches the ENTIRE value
        ph = term["$phrase"]
        if not isinstance(ph, str) or ph.strip(" ") == "":
            raise ValueError(
                '$phrase value must be a non-empty string, got '
                f"{ph if isinstance(ph, str) else type(ph).__name__!r}"
            )
        return ("phrase_docs", field, {"phrase": ph})
    if isinstance(term, (list, dict)):
        # a typo'd operator ({"and": [...]} for {"$and": [...]})
        # lands here as field="and", term=<list> — stringifying it
        # would silently return 0 rows; fail loudly instead
        raise ValueError(
            f"field {field!r} has a non-scalar term {term!r} — operator "
            "keys are $and/$or/$not/$xor, prefix is {'$prefix': ...}, "
            "fuzzy is {'$fuzzy': ..., 'max_dist': N}, wildcard is "
            "{'$wildcard': ...}, phrase is {'$phrase': ...}, proximity "
            "is {'$near': [a, b], 'max_dist': N}"
        )
    return ("term_docs", field, {"term": str(term)})


# the array evaluator's operators over sorted unique doc_id arrays
# (every leaf and every result is one)
_SET_OPS = {
    "$and": lambda a, b: np.intersect1d(a, b, assume_unique=True),
    "$or": np.union1d,
    "$not": lambda a, b: np.setdiff1d(a, b, assume_unique=True),
    "$xor": lambda a, b: np.setxor1d(a, b, assume_unique=True),
}


def _eval_dsl(idx, dsl: dict):
    """The DataFrame evaluator: a reference-DSL query dict → doc_id
    DataFrame (joins, unions and anti-joins over the leaves' posting
    DataFrames).  It takes every tree, at any size — the scale path
    of ``run_dsl_query`` and the plan ``query --dry-run`` prints."""

    def ev(node):
        op, *rest = node
        if op in _SET_OPS:
            a, *others = (ev(c) for c in rest[0])
            if op == "$and":
                for d in others:
                    a = a.join(d, "doc_id", "inner")
            elif op == "$or":
                for d in others:
                    a = a.unionByName(d)
                a = a.distinct()
            elif op == "$not":
                a = a.join(others[0], "doc_id", "left_anti")
            else:  # $xor
                (b,) = others
                a = a.join(b, "doc_id", "left_anti").unionByName(
                    b.join(a, "doc_id", "left_anti")
                )
            return a.orderBy("doc_id")
        field, kwargs = rest
        return getattr(idx, op)(field=field, **kwargs)

    return ev(validate_dsl(dsl))


def _array_terms(idx, tree) -> dict[str, list[str]] | None:
    """The evaluator rule: ``{field: [terms]}`` of the tree's leaves
    when ``run_dsl_query`` evaluates it as sorted doc-id arrays, else
    None (the DataFrame evaluator).  Arrays when both hold:

    - every node is ``$and``/``$or``/``$not``/``$xor`` or a plain
      term leaf (``$prefix``/``$fuzzy``/``$wildcard``/``$phrase``/
      ``$near`` anywhere → DataFrames);
    - the distinct leaves' summed df (memoized terms-table metadata)
      is ≤ ``SparkIndex.LOCAL_SCORE_MAX_POSTINGS`` — the BM25 local
      path's cap."""
    terms: dict[str, list[str]] = {}

    def walk(node) -> bool:
        op, *rest = node
        if op in _SET_OPS:
            return all(walk(c) for c in rest[0])
        if op != "term_docs":
            return False
        field, kwargs = rest
        ts = terms.setdefault(field, [])
        if kwargs["term"] not in ts:
            ts.append(kwargs["term"])
        return True

    if not walk(tree):
        return None
    vol = sum(
        df
        for field, ts in terms.items()
        for df, _ in idx._term_meta(ts, field).values()
    )
    return terms if vol <= idx.LOCAL_SCORE_MAX_POSTINGS else None


def run_dsl_query(idx, dsl: dict, limit: int) -> tuple[int, list]:
    """Evaluate a boolean-DSL dict → (total, the first ``limit``
    stored doc Rows in doc_id order).  The ONE query-DSL execution
    sequence — shared by ``cmd_query`` and the HTTP search route so
    the transports cannot drift.

    A small plain-term tree (the rule: ``_array_terms``) runs no
    Spark job: its leaves are read per field with one Arrow read and
    decoded to sorted doc_id arrays, the operators are numpy set
    operations, ``total`` is the result's length, and the page is an
    Arrow read of the first ids' ``doc_part=`` directories
    (``SparkIndex.doc_rows``).  Every other tree goes through
    ``_eval_dsl``; its id set persists for the request, since the doc
    materialization and the total would otherwise each re-run the
    full boolean plan."""
    tree = validate_dsl(dsl)
    terms = _array_terms(idx, tree)
    if terms is None:
        ids = _eval_dsl(idx, dsl).persist()
        try:
            rows = idx.get_docs(ids, limit=limit).collect()
            total = ids.count()
        finally:
            ids.unpersist()
        return total, rows
    arrays = {f: idx.term_doc_arrays(ts, f) for f, ts in terms.items()}

    def ev(node):
        op, *rest = node
        if op in _SET_OPS:
            return reduce(_SET_OPS[op], (ev(c) for c in rest[0]))
        field, kwargs = rest
        return arrays[field][kwargs["term"]]

    ids = ev(tree)
    return int(ids.size), idx.doc_rows(ids, limit=limit)


def cmd_query(args) -> int:
    from .query import SparkIndex

    spark = _spark(args)
    idx = SparkIndex(spark, args.index)
    dsl = json.loads(args.dsl)
    if args.dry_run:
        # the _analyze analog (get_analyze.go:27-76): print the
        # physical plan — pushed filters visible — without executing
        ids = _eval_dsl(idx, dsl)
        plan = ids._jdf.queryExecution().executedPlan().toString()
        arrays = _array_terms(idx, validate_dsl(dsl)) is not None
        print(json.dumps({
            "dry_run": True,
            "dsl": dsl,
            "evaluator": "arrays" if arrays else "dataframe",
            "plan": plan,
        }))
        return 0
    total, rows = run_dsl_query(idx, dsl, limit=args.limit)
    results = [r.asDict() for r in rows]
    for r in results:
        r.pop("ts", None)  # not JSON-serializable without formatting
    print(json.dumps({"total": total, "results": results}, default=str))
    return 0


def cmd_search(args) -> int:
    from .query import SparkIndex

    spark = _spark(args)
    idx = SparkIndex(spark, args.index)
    if args.field is None:
        # default to the index's primary analyzed field, like the
        # stdin and HTTP transports — a hardcoded "text" silently
        # returns empty results on an index built with custom fields
        args.field = getattr(idx, "primary_field", "text")
    if args.dry_run:
        print(json.dumps({"dry_run": True, **idx.explain_query(
            args.query[0], field=args.field, k=args.k)}))
        return 0
    results = bm25_results(idx, args.query, args.k, args.field)
    if len(args.query) > 1:
        out = [{"query": q, "results": r} for q, r in zip(args.query, results)]
        print(json.dumps({"batch": out}))
        return 0
    print(json.dumps({"total": len(results[0]), "results": results[0]}))
    return 0


def cmd_delete(args) -> int:
    """Row-level delete (reference ``store/goleveldb/writer.go:54-65``
    / engine delete command) — partition-scoped rewrite of touched
    bucket/doc_part directories only."""
    from .maintenance import delete_docs

    spark = _spark(args)
    ids = spark.createDataFrame(
        [(int(i),) for i in args.ids.split(",")], "doc_id long"
    )
    counters = delete_docs(spark, args.index, ids)
    print(json.dumps({"status": "ok", **counters}))
    return 0


def cmd_upsert(args) -> int:
    """Replace-or-insert documents from a parquet batch (must carry
    doc_id + the indexed field columns) — the corrected successor of
    the reference's re-``Add`` on an existing id
    (``lib/neosearch/index/index.go:123-160``), partition-scoped."""
    from .maintenance import upsert_docs

    spark = _spark(args)
    counters = upsert_docs(spark, args.index, spark.read.parquet(args.input))
    print(json.dumps({"status": "ok", **counters}))
    return 0


def cmd_snapshot(args) -> int:
    """Zero-copy point-in-time snapshot / rollback (the reference's
    dump-restore workflow, ``docs/dump-restore.md``, without copying
    bytes — hard links over immutable parquet)."""
    from .maintenance import list_snapshots, restore_snapshot, snapshot

    if args.list:
        print(json.dumps({"snapshots": list_snapshots(args.index)}))
        return 0
    if not args.tag:
        print(json.dumps({"error": "--tag is required unless --list"}))
        return 2
    if args.restore:
        print(json.dumps({"status": "ok", **restore_snapshot(args.index, args.tag)}))
    else:
        print(json.dumps({"status": "ok", **snapshot(args.index, args.tag)}))
    return 0


def cmd_compact(args) -> int:
    """Fold streamed tf/doc_len deltas into the block index
    (LSM-compaction analog; partition-scoped)."""
    from .streaming import compact_deltas

    spark = _spark(args)
    n = compact_deltas(spark, args.index)
    print(json.dumps({"status": "ok", "touched_groups": n}))
    return 0


def validate_search_request(
    req: dict, default_k: int = 10
) -> tuple[list, int, str | None]:
    """Shared request validation for every serving transport (stdin
    loop, HTTP live path, HTTP pending-index fast path) — one
    definition so a request can't validate differently depending on
    index state.  Raises on malformed requests.  Returns (queries,
    k, field) — ``field`` is None when the request doesn't name one
    (the caller substitutes the index's primary analyzed field)."""
    queries = req["queries"]
    # a bare string would iterate per CHARACTER downstream and
    # "succeed" with one garbage result set per letter
    if not isinstance(queries, list) or not queries or not all(
        isinstance(q, str) for q in queries
    ):
        raise ValueError('"queries" must be a non-empty list of strings')
    field = req.get("field")
    if field is not None and (not isinstance(field, str) or not field):
        raise ValueError('"field" must be a non-empty string')
    if not isinstance(req.get("snippets", False), bool):
        # validated HERE (not in handle_search_request) so the HTTP
        # pending-index fast path 400s the same way a live index does
        raise ValueError('"snippets" must be a boolean')
    return queries, int(req.get("k", default_k)), field


def bm25_results(idx, queries: list[str], k: int, field: str) -> list[list[dict]]:
    """Per query, its BM25 top-k as ``{"doc_id", "score"}`` dicts —
    the scorer's driver rows, never a DataFrame to collect again.  A
    single query goes through the handle's result memo; a stream is
    scored as one batch (``SparkIndex._topk_rows``)."""
    from .analyzer import analyze_query

    if len(queries) == 1:
        rows = [(0, d, s) for d, s in idx._cached_topk(queries[0], k, field)]
    else:
        rows = idx._topk_rows([analyze_query(q) for q in queries], k, field)
    results: list[list[dict]] = [[] for _ in queries]
    for qi, d, s in rows:
        results[qi].append({"doc_id": d, "score": s})
    return results


def handle_search_request(idx, req: dict, default_k: int = 10) -> dict:
    """One serving request against a warm ``SparkIndex`` → response
    dict — the transport-independent core shared by the stdin loop
    (``serve_loop``) and the HTTP service (``httpserve``).  Request:
    ``{"queries": [...], "k": N, "field": "..."}``; response:
    ``{"batch": [...]}``.  When the request doesn't name a field,
    scoring targets the INDEX's primary analyzed field (an index
    built on custom fields would otherwise silently score "text" and
    return empty results for every query).  Raises on malformed
    requests — the caller owns the error frame."""
    queries, k, field = validate_search_request(req, default_k)
    want_snippets = req.get("snippets", False)
    if field is None:
        field = getattr(idx, "primary_field", "text")
    batch = [
        {"query": q, "results": r}
        for q, r in zip(queries, bm25_results(idx, queries, k, field))
    ]
    if want_snippets:
        _attach_snippets(idx, batch, field)
    return {"batch": batch}


def _attach_snippets(idx, batch: list, field: str) -> None:
    """Opt-in result highlighting (``"snippets": true`` in the search
    request): per query, one tiny extra job over the ≤k result docs —
    ``get_docs`` broadcast-materializes them and ``fts.snippets``
    windows the first query-term hit.  O(k) rows per query; the
    scoring path and the memoized result rows are untouched, so the
    flag composes with the result cache."""
    from pyspark.sql import functions as F

    from . import fts
    from .analyzer import analyze_query

    for entry in batch:
        ids = [r["doc_id"] for r in entry["results"]]
        terms = analyze_query(entry["query"])
        if not ids or not terms:
            for r in entry["results"]:
                r["hit_pos"] = None
                r["snippet"] = None
            continue
        ids_df = idx.spark.createDataFrame([(i,) for i in ids], "doc_id long")
        srows = {
            r["doc_id"]: r
            for r in fts.snippets(
                idx.get_docs(ids_df).select("doc_id", F.col(field).cast("string")),
                terms,
                field=field,
            ).collect()
        }
        for r in entry["results"]:
            sr = srows.get(r["doc_id"])
            r["hit_pos"] = sr["hit_pos"] if sr else None
            r["snippet"] = sr["snippet"] if sr else None


def serve_loop(idx, lines, out, default_k: int = 10) -> int:
    """Long-lived serving loop against ONE warm ``SparkIndex`` — the
    executable twin of the reference's HTTP search service
    (``service/neosearch/server/server.go:54``,
    ``service/neosearch/index/search.go:26-134``), minus the HTTP
    framing: requests arrive one per line on ``lines`` (a JSON object
    ``{"queries": [...], "k": N}`` or bare query text), one JSON
    response line per request goes to ``out``.

    Warm-process economics: the index handle's per-term metadata memo
    (``SparkIndex._term_meta``) means repeat terms skip the
    terms-table probe, and multi-query requests batch through one
    scorer call (``bm25_results``); a request under the local posting
    cap runs no Spark job.  Returns the number of requests served."""
    served = 0
    for line in lines:
        line = line.strip()
        if not line:
            continue
        try:
            req = json.loads(line) if line.startswith("{") else {"queries": [line]}
            resp = handle_search_request(idx, req, default_k=default_k)
        except Exception as e:  # noqa: BLE001 — a bad request must
            # not kill the serving process
            resp = {"error": str(e)}
        print(json.dumps(resp), file=out, flush=True)
        served += 1
    return served


def cmd_serve(args) -> int:
    from .query import SparkIndex

    spark = _spark(args)
    idx = SparkIndex(spark, args.index, result_cache=args.result_cache)
    served = serve_loop(idx, sys.stdin, sys.stdout, default_k=args.k)
    print(json.dumps({"status": "served", "requests": served}), file=sys.stderr)
    return 0


def repl_loop(ex, lines, out, prompt: bool = False) -> int:
    """Interactive ``.ns`` REPL — the reference CLI's line loop
    (``cmd/cli/cli.go:24-112``): each input line parses through the
    ``.ns`` grammar and executes through the shared ``NsExecutor``
    verbs, printing the reference's result format:

        <verb>: Success
        Result[idx]: [1, 2, 3]        (postings get)
        Result: {"doc_id": 1, ...}    (doc-store get)
        ERROR: <message>              (failed statement)

    ``quit`` / ``quit;`` exits (cli.go:70-73); parse errors print and
    the loop continues; pending writes flush on exit so a session's
    tail batch is never lost.  Returns statements executed."""
    executed = 0
    it = iter(lines)
    while True:
        if prompt:
            print("neosearch>", end="", file=out, flush=True)
        try:
            line = next(it)
        except StopIteration:
            break
        line = line.strip()
        if not line:
            continue
        if line.lower() in ("quit", "quit;"):
            break
        try:
            from .nscript import parse_ns

            cmds = parse_ns(line)
        except ValueError as e:
            print(e, file=out)
            continue
        for cmd in cmds:
            try:
                res = ex.execute(cmd)
            except Exception as e:  # noqa: BLE001 — a failed
                # statement must not kill the session (cli.go:81-83)
                print(f"ERROR: {e}", file=out)
                continue
            executed += 1
            print(f"{cmd.verb}: Success", file=out)
            if res is not None:
                if "doc_ids" in res:
                    print(f"Result[idx]: {res['doc_ids']}", file=out)
                else:
                    print(f"Result: {json.dumps(res['doc'], default=str)}", file=out)
    try:
        ex.flush()
    except Exception as e:  # noqa: BLE001 — the tail-batch flush is a
        # statement too: report it, don't traceback out of the session
        print(f"ERROR: {e}", file=out)
    print("Exiting...", file=out)
    return executed


def cmd_repl(args) -> int:
    from .nscript import NsExecutor

    spark = _spark(args)
    build_kwargs = {}
    if args.fields:
        build_kwargs["analyzed_fields"] = args.fields.split(",")
    if args.exact_fields:
        build_kwargs["exact_fields"] = args.exact_fields.split(",")
    if not build_kwargs:
        build_kwargs["infer"] = True
    ex = NsExecutor(spark, args.index, build_kwargs=build_kwargs,
                    chunk=args.chunk, eager_validate=True)
    repl_loop(ex, sys.stdin, sys.stdout, prompt=sys.stdin.isatty())
    return 0


def cmd_serve_http(args) -> int:
    """HTTP serving (the reference's REST service,
    ``service/neosearch/server/server.go``): indices are
    subdirectories of ``--root``; routes in ``httpserve``."""
    from .httpserve import serve_http

    spark = _spark(args)
    srv = serve_http(
        spark, args.root, host=args.host, port=args.port, default_k=args.k
    )
    # bound address on stdout so clients of an ephemeral --port 0 can
    # discover it (tests, launcher scripts)
    print(
        json.dumps(
            {"status": "serving", "host": srv.server_address[0],
             "port": srv.server_address[1], "root": args.root}
        ),
        flush=True,
    )
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        srv.server_close()
    return 0


def cmd_dump(args) -> int:
    """Write the index's replayable ``.ns`` command file (the
    reference dump workflow, ``docs/dump-restore.md:5-17``) —
    document stream in the reference's own statement syntax."""
    from .nscript import dump_ns

    spark = _spark(args)
    n = dump_ns(spark, args.index, args.out, name=args.name, raw=args.raw)
    print(json.dumps({"status": "ok", "docs": n, "out": args.out}))
    return 0


def cmd_replay(args) -> int:
    """Process a ``.ns`` command file (the reference restore /
    neosearch-cli workflow, ``cmd/cli/parser/parser.go:158-456``)
    against an index — creating it on the first document batch when
    absent."""
    from .nscript import replay_ns

    spark = _spark(args)
    build_kwargs = {}
    if args.fields:
        build_kwargs["analyzed_fields"] = args.fields.split(",")
    if args.exact_fields:
        build_kwargs["exact_fields"] = args.exact_fields.split(",")
    if not build_kwargs:
        # no field lists → schema-inferred dispatch (the reference's
        # reflection behavior, index.go:355-480) instead of baked-in
        # column names the replayed docs may not have
        build_kwargs["infer"] = True
    # the file object streams line-by-line through the incremental
    # parser — neither the dump text nor the command list is ever
    # fully driver-resident
    with open(args.input) as f:
        res = replay_ns(
            spark, args.index, f, build_kwargs=build_kwargs, chunk=args.chunk
        )
    print(json.dumps({"status": "ok", **res}, default=str))
    return 0


def cmd_import(args) -> int:
    """Import a JSON document file into an index — the reference's
    ``neosearch-import`` tool (``cmd/import/main.go``: a JSON ARRAY
    of documents keyed by ``id``, batch-added).  Parsing is
    distributed (``spark.read.json``): NDJSON splits across tasks
    (the scale path); the reference's array-of-objects format is
    auto-detected ('[' sniff) and read multiLine (one task per file,
    parity path).  Creates the index when ``--create`` (fields from
    ``--fields`` or schema inference, the reference's reflection
    dispatch); otherwise replace-or-inserts through the
    partition-scoped upsert.  Sparse uint64 ids are kept as supplied
    (doc_part sizes from the id range)."""
    from pyspark.sql import functions as F

    spark = _spark(args)
    with open(args.file, "rb") as f:
        head = f.read(512).lstrip()
    reader = spark.read
    if head.startswith(b"["):
        reader = reader.option("multiLine", "true")
    docs = reader.json(args.file)
    if "doc_id" not in docs.columns:
        if "id" not in docs.columns:
            print(json.dumps({"error": "documents need an 'id' (or doc_id) key"}))
            return 2
        docs = docs.withColumnRenamed("id", "doc_id")
    # try_cast, not cast: under Spark 4 ANSI mode a malformed id
    # (e.g. "doc-7") makes plain cast THROW mid-job with a raw
    # Py4J traceback; try_cast yields NULL so the structured error
    # below fires instead
    docs = docs.withColumn("doc_id", F.col("doc_id").try_cast("long"))
    # one agg covers the row count AND the id sanity check: a
    # non-numeric id try_casts to NULL silently, and min/max-based
    # bounds guards ignore nulls — without this check the import
    # would report ok while building an unusable index
    row = docs.agg(
        F.count(F.lit(1)).alias("n"), F.count("doc_id").alias("n_id")
    ).collect()[0]
    n = int(row["n"])
    if int(row["n_id"]) != n:
        print(
            json.dumps(
                {
                    "error": f"{n - int(row['n_id'])} of {n} documents have "
                    "a missing or non-numeric id (ids must cast to int64, "
                    "the reference's uint64 key model)"
                }
            )
        )
        return 2
    if args.create:
        from .build import IndexBuilder

        # same flag semantics as the replay/repl subcommands: the two
        # field lists apply independently; schema inference only when
        # NEITHER is given (infer=True resolves ALL field lists, so
        # it must not clobber an explicit --exact-fields)
        kwargs = {}
        if args.fields:
            kwargs["analyzed_fields"] = args.fields.split(",")
        if args.exact_fields:
            kwargs["exact_fields"] = args.exact_fields.split(",")
        if not kwargs:
            kwargs["infer"] = True
        IndexBuilder(args.index, **kwargs).build(docs)
        print(json.dumps({"status": "ok", "created": True, "docs": n}))
    else:
        from .maintenance import upsert_docs

        counters = upsert_docs(spark, args.index, docs)
        print(json.dumps({"status": "ok", "created": False, "docs": n, **counters}))
    return 0


def cmd_synth(args) -> int:
    from .docids import assign_doc_ids
    from .synth import synth_transcripts

    spark = _spark(args)
    df = assign_doc_ids(synth_transcripts(spark, args.turns, seed=args.seed))
    df.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"status": "ok", "rows": args.turns, "out": args.out}))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="neosearch_spark")
    p.add_argument("--cores", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build index from parquet transcripts")
    b.add_argument("--input", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--fields", default="text")
    b.add_argument("--exact-fields", default="role,tool")
    b.add_argument("--span", type=int, default=None,
                   help="postings per block group (default: build.DEFAULT_SPAN)")
    b.add_argument("--resume", action="store_true")
    b.set_defaults(fn=cmd_build)

    q = sub.add_parser("query", help="boolean DSL query (reference search JSON)")
    q.add_argument("--index", required=True)
    q.add_argument("--dsl", required=True)
    q.add_argument("--limit", type=int, default=10)
    q.add_argument("--dry-run", action="store_true",
                   help="print the physical plan (pushed filters) without executing")
    q.set_defaults(fn=cmd_query)

    s = sub.add_parser("search", help="BM25 top-k (repeat --query for a batch)")
    s.add_argument("--index", required=True)
    s.add_argument("--query", required=True, action="append",
                   help="query text; pass multiple times to score the stream as one batch")
    s.add_argument("-k", type=int, default=10)
    s.add_argument("--field", default=None,
                   help="analyzed field to score; defaults to the "
                        "index's primary analyzed field (BM25 doc "
                        "length still comes from the primary field)")
    s.add_argument("--dry-run", action="store_true",
                   help="print planned stages + block-scan plan without executing")
    s.set_defaults(fn=cmd_search)

    d = sub.add_parser("delete", help="row-level delete of doc_ids (partition-scoped)")
    d.add_argument("--index", required=True)
    d.add_argument("--ids", required=True, help="comma-separated doc_ids")
    d.set_defaults(fn=cmd_delete)

    u = sub.add_parser("upsert", help="replace-or-insert docs from a parquet batch (partition-scoped)")
    u.add_argument("--index", required=True)
    u.add_argument("--input", required=True, help="parquet dir with doc_id + indexed field columns")
    u.set_defaults(fn=cmd_upsert)

    sn = sub.add_parser("snapshot", help="zero-copy snapshot / restore / list")
    sn.add_argument("--index", required=True)
    sn.add_argument("--tag", default=None)
    sn.add_argument("--restore", action="store_true")
    sn.add_argument("--list", action="store_true")
    sn.set_defaults(fn=cmd_snapshot)

    c = sub.add_parser("compact", help="fold streamed deltas into the block index")
    c.add_argument("--index", required=True)
    c.set_defaults(fn=cmd_compact)

    sv = sub.add_parser(
        "serve",
        help="long-lived serving loop: JSON requests on stdin, one "
        "warm index, one JSON response line per request",
    )
    sv.add_argument("--index", required=True)
    sv.add_argument("-k", type=int, default=10)
    sv.add_argument("--result-cache", type=int, default=4096,
                    help="memoize up to N BM25 results (LRU): exact "
                         "repeats cost zero Spark jobs; 0 disables")
    sv.set_defaults(fn=cmd_serve)

    rl = sub.add_parser(
        "repl",
        help="interactive .ns session: reference CLI line loop "
        "(set/get/mergeset/delete/batch/flushbatch)",
    )
    rl.add_argument("--index", required=True)
    rl.add_argument("--fields", default=None,
                    help="analyzed fields when the session must CREATE "
                         "the index (default: infer from the doc schema)")
    rl.add_argument("--exact-fields", default=None)
    rl.add_argument("--chunk", type=int, default=100_000)
    rl.set_defaults(fn=cmd_repl)

    sh = sub.add_parser(
        "serve-http",
        help="HTTP serving: reference REST routes (create/add/search/"
        "get/delete) over indices under --root",
    )
    sh.add_argument("--root", required=True,
                    help="data dir; index name = subdirectory")
    sh.add_argument("--host", default="127.0.0.1")
    sh.add_argument("--port", type=int, default=9090,
                    help="0 binds an ephemeral port (printed on stdout)")
    sh.add_argument("-k", type=int, default=10)
    sh.set_defaults(fn=cmd_serve_http)

    dp = sub.add_parser("dump", help="write the replayable .ns command file")
    dp.add_argument("--index", required=True)
    dp.add_argument("--out", required=True)
    dp.add_argument("--name", default="index",
                    help="index name used in the 'using <name>....' targets")
    dp.add_argument("--raw", action="store_true",
                    help="append the .idx posting stream as mergeset "
                         "statements (the reference's complete KV dump "
                         "form); our replay skips them as derived data")
    dp.set_defaults(fn=cmd_dump)

    rp = sub.add_parser("replay", help="process a .ns command file")
    rp.add_argument("--input", required=True)
    rp.add_argument("--index", required=True)
    rp.add_argument("--fields", default=None,
                    help="analyzed fields when the replay must CREATE the "
                         "index (default: infer from the document schema)")
    rp.add_argument("--exact-fields", default=None)
    rp.add_argument("--chunk", type=int, default=100_000,
                    help="auto-flush pending document ops at this many rows")
    rp.set_defaults(fn=cmd_replay)

    im = sub.add_parser(
        "import",
        help="import a JSON document file (NDJSON or the reference's "
        "JSON-array format) — neosearch-import analog",
    )
    im.add_argument("--file", required=True)
    im.add_argument("--index", required=True)
    im.add_argument("--create", action="store_true",
                    help="create the index (else upsert into an existing one)")
    im.add_argument("--fields", default=None,
                    help="analyzed fields for --create (default: infer)")
    im.add_argument("--exact-fields", default=None)
    im.set_defaults(fn=cmd_import)

    y = sub.add_parser("synth", help="generate deterministic transcripts")
    y.add_argument("--out", required=True)
    y.add_argument("--turns", type=int, required=True)
    y.add_argument("--seed", type=int, default=42)
    y.set_defaults(fn=cmd_synth)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
