"""HTTP transport for the serving loop — the framing the reference
exposes over ``httprouter`` (``service/neosearch/server/server.go:
39-57``), stdlib-only (``http.server``), wrapping the same warm-index
request core the stdin loop uses (``cli.handle_search_request``).

Routes (reference parity; response bodies mirror the reference
handlers' JSON):

    GET    /                   → {"status": "alive", "version": ...}
                                 (home/home.go:24-30)
    GET    /{index}            → index info (index/index.go)
    PUT    /{index}            → create (index/create.go; body may
                                 carry {"fields": [...],
                                 "exact_fields": [...]})
    DELETE /{index}            → delete index (index/delete.go)
    POST   /{index}            → search (index/search.go):
                                 {"query": {DSL}} → boolean-DSL doc
                                 results {"total", "results"}, or the
                                 stdin-loop body {"queries": [...],
                                 "k": N, "field": "..."} → BM25
                                 {"batch": [...]} (field defaults to
                                 the index's primary analyzed field)
    GET    /{index}/{id}       → fetch one document (index/get.go)
    GET    /{index}/{id}/_analyze → the command a Get would run — the
                                 .ns statement text, as the reference
                                 answers (cmd.Reverse(),
                                 index/get_analyze.go:27-76) — plus
                                 the physical plan of the doc lookup,
                                 nothing executed
    POST   /{index}/{id}       → add/replace a document
                                 (index/add.go; body = the doc JSON)
    GET    /{index}/{id}/_mlt  → more-like-this (engine extension,
                                 the Elasticsearch-style endpoint):
                                 tf·idf term selection from the
                                 stored doc → BM25 top-k, source
                                 excluded; ?k=N&n_terms=M optional

Index names are subdirectories of the server's data root (the
reference's ``DataDir``); names are validated with the reference's
rule (``lib/neosearch/index/index.go:40-51``).  Open ``SparkIndex``
handles are cached per index and invalidated on every mutation (add /
delete), mirroring the open-handle caching at ``neosearch.go:
170-206``.

Like the reference, document creation is two-phase: ``PUT`` records
the index (fields config), the first ``POST /{index}/{id}`` builds
the physical index from the pending doc batch via the same
``nscript._apply_sets`` path the ``.ns`` replay uses — one shared
create/upsert implementation for all three ingestion surfaces (build
CLI, replay, HTTP).

Scale note: one HTTP process fronts ONE SparkSession; Spark schedules
concurrent client requests as concurrent jobs (FIFO by default), and
the per-term metadata memo in ``SparkIndex`` is shared across
requests, so repeat terms cost a dict hit regardless of which client
sent them.  A production deployment puts N of these behind a load
balancer, each with its own session — the index itself is immutable
parquet, shared storage-side.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

# the reference's index-name rule (index.go:40-51): ≥3 chars, leading
# letters, then letters/digits/_/-.  Enforced on every route so a
# path can never escape the data root.
_NAME_RE = re.compile(r"^[a-zA-Z]+[a-zA-Z0-9_-]+$")


def validate_index_name(name: str) -> bool:
    return len(name) >= 3 and bool(_NAME_RE.match(name))


class NeoSearchHTTPServer(ThreadingHTTPServer):
    """Threaded HTTP server holding the shared serving state: the
    SparkSession, the data root, cached ``SparkIndex`` handles, and
    the per-index pending create configs."""

    daemon_threads = True

    def __init__(self, spark, root: str, host: str = "127.0.0.1",
                 port: int = 0, default_k: int = 10,
                 max_indices_open: int = 50):
        from collections import OrderedDict

        self.spark = spark
        self.root = root
        self.default_k = default_k
        # LRU of open index handles, capped like the reference's
        # MaxIndicesOpen (config.go:22-24 default 50, cache/lru.go):
        # each handle carries its term/span/result memos, so an
        # unbounded map would grow driver memory with the index count
        self.max_indices_open = int(max_indices_open)
        self.handles: "OrderedDict[str, object]" = OrderedDict()
        # the handle LRU is touched from every concurrent handler
        # thread (get/insert/move_to_end/evict) — its own lock keeps
        # a move_to_end from racing a concurrent invalidate/evict pop
        # (KeyError on a valid request otherwise).  SparkIndex opens
        # run outside it (see open()).
        self.handles_lock = threading.Lock()
        # per-name invalidation generation (guarded by handles_lock):
        # open() constructs outside the lock, so it must detect an
        # invalidate that landed mid-construction and skip caching
        self.handle_gen: dict = {}
        # mutations (create/add/delete) serialize behind one lock —
        # searches stay concurrent; the maintenance layer's writer
        # lock already guards cross-PROCESS writers, this guards
        # cross-THREAD handle invalidation in this process
        self.write_lock = threading.Lock()
        os.makedirs(root, exist_ok=True)
        super().__init__((host, port), _Handler)

    # -- index registry ------------------------------------------------
    def index_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        d = self.index_dir(name)
        return os.path.exists(os.path.join(d, "manifest.json")) or os.path.exists(
            os.path.join(d, "create.json")
        )

    def is_pending(self, name: str) -> bool:
        """True for a two-phase-created index whose first document
        batch hasn't arrived yet (create.json, no manifest): routes
        answer it with empty-index semantics instead of letting
        SparkIndex's manifest open leak a FileNotFoundError body.
        Requires create.json to be PRESENT — an index deleted by a
        concurrent DELETE (both files gone) must fall through to the
        open() error path, not silently answer as empty."""
        d = self.index_dir(name)
        return os.path.exists(
            os.path.join(d, "create.json")
        ) and not os.path.exists(os.path.join(d, "manifest.json"))

    def open(self, name: str):
        """Cached SparkIndex handle (reopened after any mutation).
        The handle memoizes BM25 results (LRU, 4096 entries) — an
        exact repeat request costs zero Spark jobs; mutation routes
        invalidate the whole handle, memos included."""
        from .query import SparkIndex

        # construction happens OUTSIDE the lock: a cold open reads the
        # manifest and the stats row and lists the blocks and terms
        # files (no Spark job), and holding the global lock across it
        # would stall cache hits for every OTHER index behind one slow
        # open.  Two threads cold-opening the SAME index may construct
        # twice; the second insert defers to the first (duplicate
        # work, never duplicate cached handles).
        with self.handles_lock:
            h = self.handles.get(name)
            if h is not None:
                self.handles.move_to_end(name)
                return h
            gen = self.handle_gen.get(name, 0)
        h = SparkIndex(self.spark, self.index_dir(name), result_cache=4096)
        with self.handles_lock:
            cur = self.handles.get(name)
            if cur is not None:
                self.handles.move_to_end(name)
                return cur
            if self.handle_gen.get(name, 0) != gen:
                # a mutation invalidated this name while we were
                # constructing: the handle may predate the mutation.
                # It is still linearizable for THIS request (the read
                # overlapped the write) — serve it, but never cache it
                return h
            self.handles[name] = h
            if len(self.handles) > self.max_indices_open:
                self.handles.popitem(last=False)  # reference LRU evict
            return h

    def invalidate(self, name: str) -> None:
        with self.handles_lock:
            self.handle_gen[name] = self.handle_gen.get(name, 0) + 1
            self.handles.pop(name, None)

    def build_kwargs(self, name: str) -> dict:
        cfg_path = os.path.join(self.index_dir(name), "create.json")
        if os.path.exists(cfg_path):
            with open(cfg_path) as f:
                cfg = json.load(f)
            kw = {}
            if cfg.get("fields"):
                kw["analyzed_fields"] = cfg["fields"]
            if cfg.get("exact_fields"):
                kw["exact_fields"] = cfg["exact_fields"]
            if not kw:
                kw["infer"] = True
            return kw
        return {"infer": True}


def _public_doc(row) -> dict:
    """Stored doc row → response document: the build's derived
    columns (doc length ``dl``, partition key ``doc_part``) are
    engine internals the reference's get/search bodies don't carry."""
    d = row.asDict(recursive=True)
    d.pop("dl", None)
    d.pop("doc_part", None)
    return d


class _Handler(BaseHTTPRequestHandler):
    # quiet by default: BaseHTTPRequestHandler logs every request to
    # stderr, which garbles the JSON status stream the CLI prints
    def log_message(self, fmt, *args):  # noqa: D102
        pass

    server: NeoSearchHTTPServer

    # -- framing helpers -------------------------------------------------
    def _send(self, obj: dict, status: int = 200) -> None:
        body = json.dumps(obj, default=str).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self) -> dict:
        n = int(self.headers.get("Content-Length") or 0)
        raw = self.rfile.read(n) if n else b""
        if not raw:
            return {}
        obj = json.loads(raw)
        if not isinstance(obj, dict):
            raise ValueError("request body must be a JSON object")
        return obj

    def _route(self) -> tuple[str, str | None, str | None]:
        parts = [p for p in self.path.split("?", 1)[0].split("/") if p]
        sub = parts[2] if len(parts) == 3 and parts[2] in ("_analyze", "_mlt") else None
        if len(parts) > 2 and sub is None:
            raise ValueError(f"no such route: {self.path}")
        name = parts[0] if parts else ""
        doc_id = parts[1] if len(parts) >= 2 else None
        if name and not validate_index_name(name):
            raise ValueError(f"Invalid index name: {name}")
        return name, doc_id, sub

    def _missing(self, name: str) -> None:
        # exact reference error body (search.go:38-44 et al.)
        self._send({"error": f"Index '{name}' doesn't exists."})

    # -- verbs -------------------------------------------------------------
    def do_GET(self) -> None:  # noqa: N802
        try:
            name, doc_id, sub = self._route()
            analyze = sub == "_analyze"
        except ValueError as e:
            self._send({"error": str(e)}, 400)
            return
        srv = self.server
        if not name:
            self._send({"status": "alive", "version": "neosearch_spark"})
            return
        if not srv.exists(name):
            self._missing(name)
            return
        try:
            if doc_id is not None:
                # validate the id ONCE for both the doc-get and the
                # _analyze route, before any index-state branch — the
                # error contract must not depend on pending state,
                # and the raw path segment is never echoed back
                try:
                    int_id = int(doc_id)
                except ValueError:
                    self._send({"error": "Invalid document id"}, 400)
                    return
            if analyze:
                # GET /{index}/{id}/_analyze (get_analyze.go:27-76):
                # the reference answers with the command a Get WOULD
                # run (cmd.Reverse() — the .ns statement text), never
                # executing it.  Same statement text here, plus our
                # engine's dry-run surface: the physical plan of the
                # doc-store point lookup (pushed doc_id filter), no
                # job run.
                command = f"using {name}.document.db get {int_id}"
                if srv.is_pending(name):
                    # nothing indexed yet: _analyze never executes, so
                    # the statement text is still the full answer —
                    # there is just no physical plan to show
                    self._send({"command": command, "plan": None})
                    return
                idx = srv.open(name)
                ids = srv.spark.createDataFrame([(int_id,)], "doc_id long")
                plan = (
                    idx.get_docs(ids)
                    ._jdf.queryExecution()
                    .executedPlan()
                    .toString()
                )
                self._send({"command": command, "plan": plan})
                return
            if sub == "_mlt":
                # GET /{index}/{id}/_mlt[?k=N&n_terms=M] — more-like-
                # this over the stored doc (engine extension; the
                # Elasticsearch-style _mlt endpoint): tf·idf term
                # selection then standard BM25, source excluded
                from urllib.parse import parse_qs, urlsplit

                qs = parse_qs(urlsplit(self.path).query)

                def _opt(key: str, default: int, cap: int) -> int:
                    raw = qs.get(key, [str(default)])[-1]
                    try:
                        v = int(raw)
                    except ValueError:
                        raise ValueError(
                            f"{key} must be a positive integer"
                        ) from None
                    if not 1 <= v <= cap:
                        raise ValueError(f"{key} must be in 1..{cap}")
                    return v

                k = _opt("k", 10, 1000)
                n_terms = _opt("n_terms", 5, 64)
                if srv.is_pending(name):
                    self._send({"error": f"document {int_id} not found"}, 400)
                    return
                idx = srv.open(name)
                try:
                    rows = idx._mlt_rows(int_id, k=k, n_terms=n_terms)
                except KeyError:
                    self._send({"error": f"document {int_id} not found"}, 400)
                    return
                self._send({
                    "doc_id": int_id,
                    "results": [{"doc_id": d, "score": s} for d, s in rows],
                })
                return
            if doc_id is None:
                if srv.is_pending(name):
                    self._send({"name": name, "status": "created", "n_docs": 0})
                    return
                idx = srv.open(name)
                self._send(
                    {
                        "name": name,
                        "n_docs": idx.n_docs,
                        "avgdl": idx.avgdl,
                        "fields": idx.manifest["params"].get("analyzed_fields"),
                    }
                )
                return
            if srv.is_pending(name):
                # created, nothing indexed yet: the document cannot
                # exist — same error as a live index's miss, never a
                # leaked manifest-open traceback
                self._send({"error": f"document {int_id} not found"}, 400)
                return
            idx = srv.open(name)
            rows = idx.doc_rows([int_id])
            if not rows:
                self._send({"error": f"document {int_id} not found"}, 400)
                return
            self._send(_public_doc(rows[0]))
        except Exception as e:  # noqa: BLE001 — a bad request must
            # not kill the serving process (same contract as serve_loop)
            self._send({"error": str(e)}, 400)

    def do_PUT(self) -> None:  # noqa: N802
        try:
            name, doc_id, _analyze = self._route()
            if not name or doc_id is not None:
                raise ValueError("create expects PUT /{index}")
        except ValueError as e:
            self._send({"error": str(e)}, 400)
            return
        srv = self.server
        # read + parse the body BEFORE taking the write lock: rfile
        # reads block on the client's pace, and one slow PUT holding
        # the lock would stall every mutation on the server.  A parse
        # failure is HELD, not sent, until after the exists check —
        # the reference reports already-exists regardless of the body
        # (create.go:28-33), so that error must win.
        cfg, body_err = None, None
        try:
            cfg = self._body()
        except ValueError as e:
            body_err = e
        try:
            self._do_create(srv, name, cfg, body_err)
        except Exception as e:  # noqa: BLE001
            # answer JSON on filesystem failure like every other
            # route; os.replace below guarantees a died write leaves
            # no create.json, so the name is not poisoned — clean up
            # the .tmp remnant best-effort and let the client retry
            import contextlib

            with contextlib.suppress(OSError):
                os.remove(
                    os.path.join(srv.index_dir(name), "create.json.tmp")
                )
            self._send({"error": str(e)}, 400)

    def _do_create(self, srv, name: str, cfg, body_err) -> None:
        with srv.write_lock:
            if srv.exists(name):
                # exact reference error body (create.go:28-33)
                self._send({"error": f"Index '{name}' already exists."})
                return
            if body_err is not None:
                self._send({"error": str(body_err)}, 400)
                return
            # shape-check the field lists BEFORE persisting them: a
            # string where a list belongs (``{"fields": "title"}``)
            # would otherwise write a poisoned create.json that 400s
            # every future add while exists() blocks a corrective PUT
            for cfg_key in ("fields", "exact_fields"):
                v = cfg.get(cfg_key)
                if v is not None and (
                    not isinstance(v, list)
                    or not v
                    or not all(isinstance(x, str) and x for x in v)
                ):
                    self._send(
                        {
                            "error": f'"{cfg_key}" must be a non-empty '
                            "list of non-empty strings"
                        },
                        400,
                    )
                    return
            os.makedirs(srv.index_dir(name), exist_ok=True)
            # tmp + rename: a crash mid-write must not leave a
            # truncated create.json — exists() would then block a
            # corrective PUT while every add 400s on json.load,
            # poisoning the name until someone hand-deletes the file
            # (dump_ns writes through os.replace for the same reason)
            cfg_path = os.path.join(srv.index_dir(name), "create.json")
            tmp_path = cfg_path + ".tmp"
            with open(tmp_path, "w") as f:
                json.dump(
                    {
                        "fields": cfg.get("fields"),
                        "exact_fields": cfg.get("exact_fields"),
                    },
                    f,
                )
            os.replace(tmp_path, cfg_path)
        # exact reference success body (create.go:57)
        self._send({"status": f"Index '{name}' created."})

    def do_DELETE(self) -> None:  # noqa: N802
        try:
            name, doc_id, _analyze = self._route()
            if not name or doc_id is not None:
                raise ValueError("delete expects DELETE /{index}")
        except ValueError as e:
            self._send({"error": str(e)}, 400)
            return
        srv = self.server
        try:
            with srv.write_lock:
                if not srv.exists(name):
                    self._missing(name)
                    return
                srv.invalidate(name)
                shutil.rmtree(srv.index_dir(name))
        except Exception as e:  # noqa: BLE001
            # every route answers JSON even on filesystem failure —
            # an escaping OSError would drop the connection and print
            # a traceback onto the JSON status stream instead
            self._send({"error": str(e)}, 400)
            return
        self._send({"status": f"Index '{name}' deleted."})

    def do_POST(self) -> None:  # noqa: N802
        try:
            name, doc_id, sub = self._route()
            if not name:
                raise ValueError("search expects POST /{index}")
            if sub:
                raise ValueError(f"{sub} is a GET route")
            body = self._body()
        except ValueError as e:
            self._send({"error": str(e)}, 400)
            return
        srv = self.server
        if not srv.exists(name):
            self._missing(name)
            return
        try:
            if doc_id is not None:
                self._add_document(name, doc_id, body)
                return
            if "queries" in body:
                # the stdin serving loop's body → BM25 batch response
                from .cli import handle_search_request, validate_search_request

                if srv.is_pending(name):
                    # full request validation FIRST (shared with the
                    # live path) — a malformed body must 400 the same
                    # way regardless of index state
                    qs, _k, _field = validate_search_request(
                        body, default_k=srv.default_k
                    )
                    self._send(
                        {"batch": [{"query": q, "results": []} for q in qs]}
                    )
                    return
                self._send(
                    handle_search_request(
                        srv.open(name), body, default_k=srv.default_k
                    )
                )
                return
            if "query" not in body:
                # exact reference error body (search.go:76-79)
                self._send({"error": "No query field specified"}, 400)
                return
            if not isinstance(body["query"], dict):
                self._send(
                    {"error": "Search 'query' field is not a JSON object"}, 400
                )
                return
            # the server's -k default governs BOTH search bodies —
            # the BM25 route already honors it via default_k
            limit = int(body.get("limit", srv.default_k))
            if srv.is_pending(name):
                # full DSL-shape validation FIRST (the real evaluator
                # over stubs) — a malformed body must 400 identically
                # whether or not the first document has arrived
                from .cli import validate_dsl

                validate_dsl(body["query"])
                self._send({"total": 0, "results": []})
                return
            from .cli import run_dsl_query

            total, rows = run_dsl_query(
                srv.open(name), body["query"], limit=limit
            )
            self._send(
                {"total": total, "results": [_public_doc(r) for r in rows]}
            )
        except Exception as e:  # noqa: BLE001
            self._send({"error": str(e)}, 400)

    def _add_document(self, name: str, doc_id: str, body: dict) -> None:
        try:
            int_id = int(doc_id)
        except ValueError:
            self._send({"error": "Invalid document id"}, 400)
            return
        from .nscript import _apply_sets

        srv = self.server
        doc = dict(body)
        doc["doc_id"] = int_id
        with srv.write_lock:
            # re-check under the lock: the route-level exists() ran
            # unlocked, so an add racing a DELETE could otherwise
            # recreate the just-deleted index (with inferred fields,
            # its create.json being gone) and silently undo the
            # acknowledged delete — PUT and DELETE both re-check
            # their state inside write_lock for the same reason
            if not srv.exists(name):
                self._missing(name)
                return
            _apply_sets(
                srv.spark,
                srv.index_dir(name),
                [(int_id, json.dumps(doc))],
                srv.build_kwargs(name),
            )
            srv.invalidate(name)
        # exact reference success body (add.go:77)
        self._send({"status": f"Document {int_id} indexed."})


def serve_http(spark, root: str, host: str = "127.0.0.1", port: int = 0,
               default_k: int = 10,
               max_indices_open: int = 50) -> NeoSearchHTTPServer:
    """Build (but don't run) the HTTP server — callers own the loop:
    ``srv.serve_forever()`` blocking, or a daemon thread in tests.
    ``port=0`` binds an ephemeral port (``srv.server_address[1]``)."""
    return NeoSearchHTTPServer(spark, root, host=host, port=port,
                               default_k=default_k,
                               max_indices_open=max_indices_open)
