"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Builds nothing ahead: the engine is
imported from the checkout, the serve index is built on first use and
cached under ``perfbench/.cache``.  Scratch goes to ``perfbench/.work``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` installs spans around
each layer's public calls and reports the per-layer metrics instead
(the traced end-to-end figures go to stderr, next to the untraced
ones of another run they give the tracing overhead).  Human-readable
detail — sample counts, per-kind latencies, self time per layer — goes
to stderr.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# run as a script, this directory would shadow top-level modules
sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]
sys.path.insert(0, ROOT)

WORKLOADS = ("serve", "write")

# The same four end-to-end metrics on both workloads.  An "op" is one
# HTTP request on serve (any kind) and one write on write (build,
# upsert or stream ingest: the median op is the upsert, the build is
# the largest share of the cycle); a "query" is a single-query BM25
# request (serve: warm handle; write: right after a reopen, memos
# empty).  Each run yields tens of requests or a handful of writes, so
# no percentile above the median has ten samples beyond it.
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "query_p50_ms": "ms",
    "ops_per_s": "1/s",
}

# Per-layer metrics of the traced run, each with the end-to-end metric
# it should move.  A layer a workload never calls reads 0 there.
PER_LAYER = {
    # write: ops_per_s (build share); nothing on serve
    "docids.assign_s": "s",
    "build.docs_s": "s",
    "build.stats_s": "s",
    "build.blocks_s": "s",
    "build.terms_s": "s",
    "build.counters_s": "s",
    # index size per turn (counters table + file sizes): build time on
    # write, decode work on both
    "build.postings": "count",
    "build.blocks": "count",
    "codec.block_bytes_per_posting": "B",
    # query_p50_ms, op_p50_ms on both
    "codec.decode_ms_per_request": "ms",
    # write: query_p50_ms (the first read after a reopen opens the
    # index); serve: setup_s
    "query.open_s": "s",
    # query_p50_ms, op_p50_ms, ops_per_s on both
    "query.bm25_topk_ms": "ms",
    "query.bm25_topk_batch_ms": "ms",
    "query.boolean_ms": "ms",
    "query.get_docs_ms": "ms",
    "query.spark_jobs_per_request": "count",
    "query.spark_tasks_per_request": "count",
    # serve: op_p50_ms, ops_per_s
    "cli.handle_search_request_self_ms": "ms",
    "cli.run_dsl_query_self_ms": "ms",
    "httpserve.self_ms": "ms",
    # write: op_p50_ms, ops_per_s; nothing on serve
    "maintenance.upsert_docs_s": "s",
    "maintenance.buckets_touched_per_write": "count",
    "maintenance.blocks_touched_per_write": "count",
    "maintenance.bytes_rewritten_per_doc": "B",
    # write: ops_per_s
    "streaming.delta_sink_s": "s",
    # driver JVM + Python workers: setup_s and everything under load
    "process.peak_rss_mb": "MB",
    # CPU seconds of the whole process tree in the measured window per
    # op: the cost behind op_p50_ms and ops_per_s, without the time the
    # host steals from the VM
    "process.cpu_ms_per_op": "ms",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    # the engine comes from the checkout; without it this raises and
    # the run exits non-zero before printing any result
    import neosearch_spark  # noqa: F401

    from perfbench import launch, spans, workloads

    launch.clean_stale(os.path.join(HERE, ".work"))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    launch.prepare_env(ROOT, work)
    tracer = spans.Tracer() if args.trace else None
    rss = launch.RssSampler() if args.trace else contextlib.nullcontext()
    fn = getattr(workloads, f"run_{args.workload}")
    with rss:
        spark = launch.start_spark(work)
        log(f"session ready at {time.perf_counter() - T_START:.3f} s")
        try:
            if tracer is not None:
                spans.install_engine_spans(tracer, spark)
            run = workloads.Run(spark, ROOT, work, args.seed, args.seconds, tracer)
            result = fn(run, T_START)
        finally:
            if tracer is not None:
                tracer.uninstall()
            launch.stop_spark(spark)
            launch.clean(work)

    for note in run.notes:
        log(f"note: {note}")
    label = "traced " if tracer is not None else ""
    for name, unit in END_TO_END.items():
        log(f"{label}{name} = {result['metrics'][name]:.6g} {unit}")
    for name, value in result["detail"].items():
        log(f"  {name} = {value if not isinstance(value, float) else f'{value:.6g}'}")
    log(f"  error_rate = {result['failed'] / max(1, result['attempted']):.6g} "
        f"({result['failed']} of {result['attempted']})")

    if tracer is not None:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(spans.layer_metrics(tracer.spans))
        layers.update(run.layer)
        layers["process.peak_rss_mb"] = rss.peak_kb / 1024
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}
        log("self time per layer (s):")
        for layer, s in sorted(spans.layer_self_seconds(tracer.spans).items(), key=lambda kv: -kv[1]):
            log(f"  {layer:12s} {s:10.4f}")
        dump = os.path.join(HERE, ".work", f"spans-{args.workload}-seed{args.seed}.jsonl")
        tracer.dump(dump)
        log(f"spans: {len(tracer.spans)} → {os.path.relpath(dump, ROOT)}")
    else:
        metrics = {k: {"value": float(result["metrics"][k]), "unit": u} for k, u in END_TO_END.items()}

    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
