"""Expected replies from ``neosearch_spark.oracle.OracleIndex``.

BM25 replies (single and batch) must match the oracle on rank and on
score rounded to 9 decimals — the repo's own gate.  DSL replies must
match on total and on the ids of the returned documents.
"""

from __future__ import annotations

from neosearch_spark.oracle import OracleIndex

SCORE_DP = 9


class Expected:
    """The oracle for one index state: {doc_id: text} of every
    visible document."""

    def __init__(self, texts: dict[int, str]):
        self.oracle = OracleIndex(texts)
        self._topk: dict[str, list] = {}

    def topk(self, q: str) -> list[tuple[int, float]]:
        got = self._topk.get(q)
        if got is None:
            got = [(d, round(s, SCORE_DP)) for d, s in self.oracle.bm25_topk(q, 10)]
            self._topk[q] = got
        return got

    def dsl(self, dsl: dict, limit: int) -> tuple[int, list[int]]:
        ids = self._eval(dsl)
        return len(ids), ids[:limit]

    def _eval(self, dsl: dict) -> list[int]:
        if "$and" in dsl:
            return self.oracle.and_([self._term(c) for c in dsl["$and"]])
        if "$or" in dsl:
            return self.oracle.or_([self._term(c) for c in dsl["$or"]])
        return self.oracle.term(self._term(dsl))

    @staticmethod
    def _term(clause: dict) -> str:
        ((field, value),) = clause.items()
        if field != "text" or not isinstance(value, str):
            raise ValueError(f"unsupported DSL clause {clause!r}")
        return value


def bm25_ok(results: list, want: list[tuple[int, float]]) -> bool:
    got = [(int(r["doc_id"]), round(float(r["score"]), SCORE_DP)) for r in results]
    return got == want


def reply_ok(exp: Expected, kind: str, body: dict, status: int, reply: dict) -> bool:
    """True when an HTTP reply is the oracle's answer to ``body``; a
    malformed reply is a wrong one."""
    try:
        return _matches(exp, kind, body, status, reply)
    except (KeyError, TypeError, ValueError, AttributeError):
        return False


def _matches(exp: Expected, kind: str, body: dict, status: int, reply: dict) -> bool:
    if status != 200 or "error" in reply:
        return False
    if kind in ("single", "batch"):
        batch = reply.get("batch")
        if not isinstance(batch, list) or len(batch) != len(body["queries"]):
            return False
        return all(
            entry.get("query") == q and bm25_ok(entry.get("results", []), exp.topk(q))
            for entry, q in zip(batch, body["queries"])
        )
    total, first = exp.dsl(body["query"], body["limit"])
    results = reply.get("results", [])
    return reply.get("total") == total and [int(r["doc_id"]) for r in results] == first


def count_failed(exp: Expected, records: list[dict]) -> int:
    """Requests whose reply is not the oracle's answer (HTTP errors
    and transport failures included)."""
    return sum(not reply_ok(exp, r["kind"], r["body"], r["status"], r["reply"]) for r in records)
