"""Like-for-like corpus benchmark: the reference repo's own 10k-doc
sample (``/root/reference/cmd/cli/data.json`` — company records with
caller-supplied uint64 ids, the corpus its CLI/import docs index) run
through THIS engine, so anyone with the reference built can compare
build+query wall-times on identical input.

The reference engine is Go (no toolchain in this sandbox), so only
our side is measured here; the reproduce command for the reference
side is its own import tool (``cmd/import``) over the same file.

Doc ids are kept AS THE REFERENCE SUPPLIES THEM (sparse 14-digit
uint64s — the bounds guard admits them at the default span), so
``get``-by-id parity holds; both string fields are analyzed.

Usage: python3 tools/refcorpus_bench.py [--cores N] [--out json]
Prints one JSON line with build/query timings (min-of-``--runs``
wall times, default 2).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DATA = "/root/reference/cmd/cli/data.json"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    from neosearch_spark.build import IndexBuilder
    from neosearch_spark.query import SparkIndex
    from neosearch_spark.session import get_spark

    spark = get_spark(
        "refcorpus", cores=args.cores, shuffle_partitions=args.cores,
        extra_conf={"spark.local.dir": "/dev/shm/spark-local"},
    )

    with open(DATA) as f:
        records = json.load(f)
    rows = [(int(r["id"]), r["company_name"], r["address"]) for r in records]
    src = "/dev/shm/refcorpus_src"
    shutil.rmtree(src, ignore_errors=True)
    spark.createDataFrame(
        rows, "doc_id long, company_name string, address string"
    ).repartition(args.cores).write.parquet(src)

    fields = ["company_name", "address"]
    idx_dir = "/dev/shm/refcorpus_idx"
    build_best = None
    for _ in range(args.runs):
        shutil.rmtree(idx_dir, ignore_errors=True)
        docs = spark.read.parquet(src)
        t0 = time.time()
        IndexBuilder(idx_dir, analyzed_fields=fields).build(docs)
        dt = time.time() - t0
        build_best = dt if build_best is None else min(build_best, dt)

    si = SparkIndex(spark, idx_dir)
    # term frequencies in the corpus are data-dependent; pick real
    # tokens deterministically: the most common + a mid-df token of
    # each field (mirrors the reference CLI's term-get workflow)
    picks: dict[str, tuple[str, str]] = {}
    for f in fields:
        # skip the empty term: multi-space runs index "" (reference
        # parity with Go strings.Split), and it matches ~every doc —
        # not a representative query
        top = [r for r in si.top_terms(n=200, field=f).collect() if r["term"]]
        picks[f] = (top[0]["term"], top[len(top) // 2]["term"])

    def t_best(fn) -> float:
        best = None
        for _ in range(args.runs):
            t0 = time.time()
            fn()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    q: dict[str, float] = {}
    hot, mid = picks["company_name"]
    # warm the handle/memo once (serving model: queries hit a warm handle)
    si.term_docs(hot, field="company_name").collect()
    q["term_get_hot"] = t_best(
        lambda: si.term_docs(hot, field="company_name").collect()
    )
    q["term_get_mid"] = t_best(
        lambda: si.term_docs(mid, field="company_name").collect()
    )
    q["and_2terms"] = t_best(
        lambda: si.and_docs([hot, mid], field="company_name").collect()
    )
    q["prefix"] = t_best(
        lambda: si.prefix_docs(hot[:3], field="company_name").collect()
    )
    q["bm25_top10"] = t_best(
        lambda: si.bm25_topk(f"{hot} {mid}", 10, field="company_name").collect()
    )
    addr_hot, addr_mid = picks["address"]
    q["bm25_top10_address"] = t_best(
        lambda: si.bm25_topk(f"{addr_hot} {addr_mid}", 10, field="address").collect()
    )
    n_docs = si.n_docs

    print(json.dumps({
        "corpus": DATA,
        "n_docs": n_docs,
        "fields": fields,
        "build_sec": round(build_best, 3),
        "docs_per_sec": round(n_docs / build_best, 1),
        "queries_sec": q,
        "query_terms": {"company_name": picks["company_name"],
                        "address": picks["address"]},
        "cores": args.cores,
        "protocol": f"min-of-{args.runs}, warm index handle",
    }))
    spark.stop()


if __name__ == "__main__":
    main()
