"""Tests for the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import json
import os

from perfbench import check, gen, run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TEXTS = {
    0: "tok1 tok2 tok3",
    1: "tok1 tok1 tok4",
    2: "tok2 tok5",
    3: "tok3 tok1 tok9 tok2",
    4: "Neoway Business Solution",
}


def _record(kind: str, body: dict, reply: dict, status: int = 200) -> dict:
    return {"kind": kind, "body": body, "status": status, "reply": reply}


def _bm25_reply(exp: check.Expected, queries: list[str]) -> dict:
    return {
        "batch": [
            {"query": q, "results": [{"doc_id": d, "score": s} for d, s in exp.oracle.bm25_topk(q, 10)]}
            for q in queries
        ]
    }


def test_oracle_replies_pass():
    exp = check.Expected(TEXTS)
    single = {"queries": ["tok1 tok2"], "k": 10}
    batch = {"queries": ["tok1", "tok5 tok3", "absent"], "k": 10}
    dsl = {"query": {"$and": [{"text": "tok1"}, {"text": "tok2"}]}, "limit": 10}
    records = [
        _record("single", single, _bm25_reply(exp, single["queries"])),
        _record("batch", batch, _bm25_reply(exp, batch["queries"])),
        _record("dsl", dsl, {"total": 2, "results": [{"doc_id": 0}, {"doc_id": 3}]}),
    ]
    assert check.count_failed(exp, records) == 0


def test_wrong_replies_are_counted_as_failed():
    exp = check.Expected(TEXTS)
    body = {"queries": ["tok1 tok2"], "k": 10}
    good = _bm25_reply(exp, body["queries"])
    results = good["batch"][0]["results"]
    assert len(results) >= 2

    swapped = json.loads(json.dumps(good))
    r = swapped["batch"][0]["results"]
    r[0], r[1] = r[1], r[0]
    off_score = json.loads(json.dumps(good))
    off_score["batch"][0]["results"][0]["score"] += 1e-6
    dropped = json.loads(json.dumps(good))
    dropped["batch"][0]["results"].pop()
    dsl = {"query": {"$or": [{"text": "tok4"}, {"text": "tok5"}]}, "limit": 10}

    records = [
        _record("single", body, good),
        _record("single", body, swapped),
        _record("single", body, off_score),
        _record("single", body, dropped),
        _record("single", body, {"error": "boom"}, status=400),
        _record("single", body, {"error": "ConnectionRefusedError()"}, status=0),
        _record("single", body, {"batch": [{"query": "tok1 tok2", "results": [{"id": 0}]}]}),
        _record("single", body, {"batch": "oops"}),
        _record("dsl", dsl, {"total": 3, "results": [{"doc_id": 1}, {"doc_id": 2}]}),
        _record("dsl", dsl, {"total": 2, "results": [{"doc_id": 2}, {"doc_id": 1}]}),
        _record("dsl", dsl, {"total": 2, "results": [{"doc_id": 1}, {"doc_id": 2}]}),
    ]
    # everything but the first and the last reply is wrong
    assert check.count_failed(exp, records) == len(records) - 2


def test_scores_compare_to_nine_decimals():
    exp = check.Expected(TEXTS)
    body = {"queries": ["tok1"], "k": 10}
    reply = _bm25_reply(exp, body["queries"])
    for r in reply["batch"][0]["results"]:
        r["score"] += 1e-12
    assert check.count_failed(exp, [_record("single", body, reply)]) == 0


def _first(stream, n: int) -> list:
    return list(itertools.islice(stream, n))


def test_seed_decides_the_requests():
    assert _first(gen.client_stream(1, 0), 40) == _first(gen.client_stream(1, 0), 40)
    assert _first(gen.client_stream(1, 0), 40) != _first(gen.client_stream(2, 0), 40)
    assert _first(gen.client_stream(1, 0), 40) != _first(gen.client_stream(1, 1), 40)
    assert gen.first_requests(1) != gen.first_requests(2)
    assert gen.write_plan(1, 0, 1000) == gen.write_plan(1, 0, 1000)
    assert gen.write_plan(1, 0, 1000) != gen.write_plan(2, 0, 1000)


def test_request_mix():
    kinds = [k for k, _ in _first(gen.client_stream(3, 2), 200)]
    assert kinds.count("single") == 140
    assert kinds.count("batch") == kinds.count("dsl") == 30


def test_write_plan_ids():
    plan = gen.write_plan(5, 0, 1000)
    up = [i for i, _ in plan["upsert"]]
    streamed = [i for i, _ in plan["ingest"]]
    assert len(set(up)) == len(up) == gen.UPSERT_REPLACED + gen.UPSERT_INSERTED
    assert sum(i < 1000 for i in up) == gen.UPSERT_REPLACED
    assert min(streamed) >= 1000 and not set(streamed) & set(up)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
