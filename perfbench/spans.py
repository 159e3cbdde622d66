"""Spans recorded from outside the engine, around the public calls
into each layer.

A span records its name, start, end, parent span and request id;
spans stay in memory and are dumped as JSON lines when the run ends.
The HTTP client sends its span id as the request id header, so the
server-side spans of a request join the client's span across
threads.  Codec decode calls are too many for one span each: their
time accumulates on the innermost open span instead.

Spark evaluates lazily: a span covers the Python call, and the Spark
jobs a lazy DataFrame triggers later are charged to whichever span
collects it (for DSL bodies, ``cli.run_dsl_query``).
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time

REQUEST_HEADER = "X-Bench-Request"


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._installed: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, rid=None, parent=None) -> dict:
        st = self._stack()
        top = st[-1] if st else None
        span = {
            "id": next(self._ids),
            "name": name,
            "parent": parent if parent is not None else (top["id"] if top else None),
            "rid": rid if rid is not None else (top["rid"] if top else None),
            "start": time.perf_counter(),
            "end": None,
            "codec_s": 0.0,
        }
        st.append(span)
        return span

    def end(self, span: dict, at: float | None = None, **extra) -> None:
        span["end"] = time.perf_counter() if at is None else at
        span.update(extra)
        st = self._stack()
        if st and st[-1] is span:
            st.pop()
        self.spans.append(span)

    def current(self) -> dict | None:
        st = self._stack()
        return st[-1] if st else None

    # -- wrappers ----------------------------------------------------
    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            span = self.begin(name)
            try:
                return fn(*a, **kw)
            finally:
                self.end(span)

        self._install(owner, attr, fn, traced)

    def wrap_leaf(self, owner, attr: str) -> None:
        """Time a hot leaf call onto the innermost open span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                top = self.current()
                if top is not None:
                    top["codec_s"] += time.perf_counter() - t0

        self._install(owner, attr, fn, timed)

    def wrap_http_handler(self, handler_cls, spark) -> None:
        """Server side of a request: join the client's span, and count
        the Spark jobs and tasks the request ran (one job group per
        request; handler threads are per request)."""
        fn = handler_cls.do_POST
        tracker = spark.sparkContext.statusTracker()

        @functools.wraps(fn)
        def traced(handler):
            rid = handler.headers.get(REQUEST_HEADER)
            group = f"perfbench-{rid}"
            spark.sparkContext.setJobGroup(group, group)
            span = self.begin("httpserve.do_POST", rid=rid, parent=int(rid) if rid else None)
            try:
                return fn(handler)
            finally:
                # the reply is out: counting jobs is not the request's time
                at = time.perf_counter()
                jobs = tracker.getJobIdsForGroup(group)
                tasks = 0
                for j in jobs:
                    info = tracker.getJobInfo(j)
                    for s in info.stageIds if info else []:
                        st = tracker.getStageInfo(s)
                        tasks += st.numTasks if st else 0
                self.end(span, at, jobs=len(jobs), tasks=tasks)

        self._install(handler_cls, "do_POST", fn, traced)

    def _install(self, owner, attr, orig, new) -> None:
        setattr(owner, attr, new)
        self._installed.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._installed):
            setattr(owner, attr, orig)
        self._installed.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def install_engine_spans(tracer: Tracer, spark) -> None:
    """Spans around each layer's public entry points."""
    from neosearch_spark import cli, docids, httpserve, maintenance, query, streaming
    from neosearch_spark.build import IndexBuilder

    tracer.wrap(docids, "assign_doc_ids", "docids.assign_doc_ids")
    tracer.wrap(IndexBuilder, "build", "build.IndexBuilder.build")
    tracer.wrap(query.SparkIndex, "__init__", "query.open")
    tracer.wrap(query.SparkIndex, "bm25_topk", "query.bm25_topk")
    tracer.wrap(query.SparkIndex, "bm25_topk_batch", "query.bm25_topk_batch")
    tracer.wrap(query.SparkIndex, "term_docs", "query.boolean")
    tracer.wrap(query.SparkIndex, "get_docs", "query.get_docs")
    # query.py binds the codec's public decoders at import
    tracer.wrap_leaf(query, "decode_postings")
    tracer.wrap_leaf(query, "decode_tfs")
    # httpserve imports these from cli at call time
    tracer.wrap(cli, "handle_search_request", "cli.handle_search_request")
    tracer.wrap(cli, "run_dsl_query", "cli.run_dsl_query")
    tracer.wrap_http_handler(httpserve._Handler, spark)
    tracer.wrap(maintenance, "upsert_docs", "maintenance.upsert_docs")
    tracer.wrap(streaming, "delta_sink", "streaming.delta_sink")


def dur(span: dict) -> float:
    return span["end"] - span["start"]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its children and its codec calls
    cover.  A client span's child is the server span of the same
    request, so the client's self time is the transport outside the
    handler."""
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + dur(s)
    return {s["id"]: dur(s) - child_s.get(s["id"], 0.0) - s["codec_s"] for s in spans}


def layer_self_seconds(spans: list[dict]) -> dict[str, float]:
    """Total self time per layer (the name's first component); codec
    time is its own layer."""
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + selfs[s["id"]]
        if s["codec_s"]:
            out["codec"] = out.get("codec", 0.0) + s["codec_s"]
    return out


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def layer_metrics(spans: list[dict]) -> dict[str, float]:
    """Per-layer metrics from one run's spans.  A layer the workload
    never called reads 0."""
    by_name: dict[str, list[dict]] = {}
    by_rid: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
        if s["rid"] is not None:
            by_rid.setdefault(s["rid"], []).append(s)
    selfs = self_times(spans)

    def durs(name: str, scale: float) -> list[float]:
        return [dur(s) * scale for s in by_name.get(name, [])]

    def self_ms(name: str) -> list[float]:
        return [selfs[s["id"]] * 1e3 for s in by_name.get(name, [])]

    # requests sent before the measured window carry no request id
    server = [s for s in by_name.get("httpserve.do_POST", []) if s["rid"] is not None]
    transport_ms, boolean_ms, decode_ms = [], [], []
    for group in by_rid.values():
        names = [s["name"] for s in group]
        client = [s for s in group if s["name"] == "client.request"]
        core = [s for s in group if s["name"] in ("cli.handle_search_request", "cli.run_dsl_query")]
        if client and core:
            transport_ms.append((dur(client[0]) - dur(core[0])) * 1e3)
        if "cli.run_dsl_query" in names:
            boolean_ms.append(sum(dur(s) for s in group if s["name"] == "query.boolean") * 1e3)
        if client:
            decode_ms.append(sum(s["codec_s"] for s in group) * 1e3)
    n_req = len(server)
    return {
        "docids.assign_s": _median(durs("docids.assign_doc_ids", 1.0)),
        "codec.decode_ms_per_request": sum(decode_ms) / len(decode_ms) if decode_ms else 0.0,
        "query.open_s": _median(durs("query.open", 1.0)),
        "query.bm25_topk_ms": _median(durs("query.bm25_topk", 1e3)),
        "query.bm25_topk_batch_ms": _median(durs("query.bm25_topk_batch", 1e3)),
        "query.boolean_ms": _median(boolean_ms),
        "query.get_docs_ms": _median(durs("query.get_docs", 1e3)),
        "query.spark_jobs_per_request": sum(s["jobs"] for s in server) / n_req if n_req else 0.0,
        "query.spark_tasks_per_request": sum(s["tasks"] for s in server) / n_req if n_req else 0.0,
        "cli.handle_search_request_self_ms": _median(self_ms("cli.handle_search_request")),
        "cli.run_dsl_query_self_ms": _median(self_ms("cli.run_dsl_query")),
        "httpserve.self_ms": _median(transport_ms),
        "maintenance.upsert_docs_s": _median(durs("maintenance.upsert_docs", 1.0)),
        "streaming.delta_sink_s": _median(durs("streaming.delta_sink", 1.0)),
    }
