"""The oracle gate: every answer the benchmark receives is compared with
``wiser_spark.oracle.OracleEngine`` at the reference BM25 pair.

An answer passes when it lists the same doc ids in the same order as
the oracle and every score is within ``REL_TOL`` of the oracle's score
(relative).  ``Tally`` counts attempted and failed operations; a
failed request, a non-200 reply and an oracle mismatch all count as
failed, and a failed request counts as exceeding every latency.
"""

from __future__ import annotations

from wiser_spark.config import BM25_REFERENCE

PARAMS = BM25_REFERENCE
REL_TOL = 1e-9
K = 10


def same_answer(got: list[tuple[int, float]],
                want: list[tuple[int, float]]) -> bool:
    if [int(d) for d, _ in got] != [int(d) for d, _ in want]:
        return False
    return all(
        abs(float(g) - float(w)) <= REL_TOL * abs(float(w))
        for (_, g), (_, w) in zip(got, want)
    )


class Tally:
    """Attempted and failed operations, with the first few mismatches
    kept for the report."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.examples: list[dict] = []

    def record(self, op: str, ok: bool, detail=None) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.examples) < 5:
                self.examples.append({"op": op, "detail": detail})
        return ok

    def check(self, op: str, got, want, query=None) -> bool:
        ok = got is not None and same_answer(got, want)
        return self.record(op, ok, None if ok else {
            "query": query, "got": got, "want": want,
        })


def oracle_answer(oracle, q: dict) -> list[tuple[int, float]]:
    return oracle.search(list(q["terms"]), k=K, is_phrase=q["is_phrase"])
