#!/usr/bin/env python3
"""Self-test of the benchmark's own machinery (no Spark needed).

    python3 perfbench/selftest.py

Checks that the generator is a pure function of its seed, that the
oracle gate passes a faithful reply and counts a corrupted or refused
one through the real HTTP client, and that the event-log fold
attributes jobs to the right span.  Exits non-zero on the first
failure.
"""

from __future__ import annotations

import json
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from check import PARAMS, Tally, oracle_answer  # noqa: E402
from gen import CorpusSpec, digest, make_docs, make_log  # noqa: E402
from run import Client  # noqa: E402
from layers import fold  # noqa: E402

from wiser_spark.oracle import OracleEngine  # noqa: E402


def expect(cond: bool, what) -> None:
    if not cond:
        raise AssertionError(what)


def determinism() -> None:
    spec = CorpusSpec(60, id_hex=4)

    def inputs(seed):
        docs = make_docs(spec, seed)
        return digest({"docs": docs, "log": make_log(docs, 30, seed)})

    expect(inputs(7) == inputs(7), "same seed, different inputs")
    expect(inputs(7) != inputs(8), "different seeds, same inputs")


def corrupted_replies_are_counted() -> None:
    docs = make_docs(CorpusSpec(80, id_hex=3), 3)
    oracle = OracleEngine(PARAMS)
    for d in docs:
        oracle.add_document(d["content"])
    q = next(q for q in make_log(docs, 50, 3)
             if len(oracle_answer(oracle, q)) >= 2)
    want = oracle_answer(oracle, q)
    faithful = [{"doc_id": d, "doc_score": s, "snippet": ""} for d, s in want]
    swapped = [faithful[1], faithful[0]] + faithful[2:]
    nudged = [dict(faithful[0], doc_score=want[0][1] * (1 + 1e-6))] + \
        faithful[1:]
    replies = [(200, faithful), (200, swapped), (200, nudged),
               (200, faithful[1:]), (500, None)]

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):
            self.rfile.read(int(self.headers["Content-Length"]))
            code, entries = replies.pop(0)
            body = json.dumps({"entries": entries}).encode()
            self.send_response(code)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        client = Client(*httpd.server_address[:2])
        tally = Tally()
        for _ in range(5):
            try:
                got = client.search(dict(q, return_snippets=False))
            except OSError:  # urllib's HTTPError for the 500
                got = None
            tally.check("search", got, want, q)
    finally:
        httpd.shutdown()
        httpd.server_close()
        t.join(timeout=10)
    expect((tally.attempted, tally.failed) == (5, 4),
           (tally.attempted, tally.failed))


def fold_attributes_by_group_and_window() -> None:
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Number of Tasks": 4}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 500,
                          "Executor CPU Time": 2e8}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 1500},
        # no group: falls in span b's window
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 3000, "Stage IDs": [1], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": 3200},
    ]
    spans = [("a", 0.9, 2.0), ("b", 2.9, 3.5)]
    out = fold(events, spans, ["a", "b"])
    expect(out["a.jobs"] == 1 and out["a.tasks"] == 4, out)
    expect(abs(out["a.task_run_s"] - 0.5) < 1e-9, out)
    expect(abs(out["a.task_cpu_s"] - 0.2) < 1e-9, out)
    expect(abs(out["a.driver_s"] - 0.6) < 1e-9, out)
    expect(out["b.jobs"] == 1 and out["b.stages"] == 0, out)


def main() -> int:
    for test in (determinism, corrupted_replies_are_counted,
                 fold_attributes_by_group_and_window):
        test()
        print(f"ok {test.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
