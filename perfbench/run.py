#!/usr/bin/env python3
"""The wiser-spark benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run generates its corpus and
query log from the seed, sets up a local Spark session, the index and
the HTTP server, then measures a closed loop of requests for
``--seconds``.  Every answer is checked against the pure-Python oracle
(``wiser_spark.oracle.OracleEngine``) at the reference BM25 pair
(k1=1.2, b=0.75).  The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics when ``--trace 0`` and the per-layer metrics when ``--trace 1``.
A run record (inputs profile, sample counts, every metric) is written
under ``.perfbench_out/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

# outside a checkout this import fails, before any result is printed
import numpy as np  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
import pyarrow.dataset as ds  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from check import K, PARAMS, Tally, oracle_answer, same_answer  # noqa: E402
from gen import CorpusSpec, make_docs, make_log, profile, tokens  # noqa: E402
from layers import STATS, Spans, fold, read_event_log  # noqa: E402
from pyspark import SparkContext  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from wiser_spark.config import IndexConfig  # noqa: E402
from wiser_spark.operators.docstats import (  # noqa: E402
    build_docstats,
    corpus_stats,
)
from wiser_spark.operators.docstore import (  # noqa: E402
    fetch_docs,
    write_doc_store,
)
from wiser_spark.operators.mapside import write_index_mapside  # noqa: E402
from wiser_spark.operators.postings import (  # noqa: E402
    build_dictionary,
    build_postings_arrow,
)
from wiser_spark.operators.segments import (  # noqa: E402
    BLOOM_PREFIXES,
    DOCLEN_TERM,
    SegmentIndex,
    decode_segment_row,
)
from wiser_spark.operators.topk import bm25_topk, bm25_topk_batch  # noqa: E402
from wiser_spark.oracle import OracleEngine  # noqa: E402
from wiser_spark.serving import SearchServer  # noqa: E402
from wiser_spark.streaming.incremental import (  # noqa: E402
    MERGED_GEN_BASE,
    IncrementalIndexer,
)


LOG_LEN = 100      # query-log length; the loop cycles it
BATCH = 30         # queries per /stream_search and per relational batch
STREAMS = 3        # /stream_search calls per batch leg (one is ~1 s, noisy)
# Spark task slots: half the host's 4 cores, so the JVM's compiler and
# collector threads, the Python workers and the client do not queue
# behind the tasks
CORES = 2


@dataclass(frozen=True)
class Workload:
    corpus: CorpusSpec
    pairs_per_round: int       # unary (HTTP + relational) pairs per round
    batches_every_round: bool  # else the batch leg runs in round 0 only
    base: int = 0              # ingest: docs in the base generation
    flush_docs: int = 0        # ingest: docs added per /flush


WORKLOADS = {
    # unary requests on ~219k terms, above the 200k driver dictionary
    # cache cap: fixed per-query cost dominates.  A corpus of the
    # fixture's shape (one shared space of 262k identifiers) needs
    # ~10k docs to pass the cap, and a run of it does not fit the time
    # budget (perfbench/README.md)
    "interactive": Workload(
        corpus=CorpusSpec(4000, keyword_share=0.45, tail=0.9, id_hex=6),
        pairs_per_round=10, batches_every_round=True,
    ),
    # adds and flushes beside searches, on a base under the cap: commit,
    # compaction and engine reload dominate
    "ingest": Workload(
        corpus=CorpusSpec(2000, id_hex=3, tail=0.3),
        pairs_per_round=5, batches_every_round=False,
        base=400, flush_docs=40,
    ),
}

# per-layer operations with the full stat family (layers.STATS)
LAYER_OPS = [
    "segments.search_hit", "segments.search_empty", "segments.search_batch",
    "segments.load", "mapside.build", "postings.build", "topk.single_hit",
    "topk.single_empty", "topk.batch", "incremental.commit",
    "incremental.compact",
]
LAYER_EXTRAS = [
    "segments.dict.first_touch_s", "segments.dict.first_touch_jobs",
    "segments.dict.repeat_jobs", "segments.dict.driver_cached",
    "segments.codec.postings_per_s", "segments.codec.bytes_per_posting",
    "segments.format.bytes_segments", "segments.format.bytes_dictionary",
    "segments.format.bytes_docids", "segments.format.bytes_tfs",
    "segments.format.bytes_pos", "segments.format.bytes_off",
    "segments.format.bytes_bloom", "segments.format.bytes_skip",
    "segments.format.query_bytes_p50",
    "incremental.compactions", "incremental.bytes_rewritten",
    "incremental.write_amp", "incremental.generations_max",
    "serving.search.overhead_s", "serving.flush.overhead_s",
    "docstore.write_s", "docstore.fetch_s", "highlight.snippet_extra_s",
    "spark.session_start_s",
]
END_TO_END = {
    "setup_s": "s",
    "search_p50_s": "s", "search_p90_s": "s",
    "rel_search_p50_s": "s", "rel_search_p90_s": "s",
    "batch_qps": "1/s", "batch_qps_relational": "1/s",
    "write_docs_per_s": "docs/s", "write_to_search_p50_s": "s",
    "index_bytes_per_content_byte": "ratio",
    "peak_rss_mb": "MB",
}
# a failed or refused request counts as exceeding every latency
FAILED_LATENCY = 1e6
QUANTILE_GRID = 100_000  # grid cells for the Harrell-Davis weights
DRIVER_MEMORY = "2g"
# with compact_every=1 every flush is a compaction cycle, and every
# flush does the same work
COMPACT_EVERY = 1
MIN_FLUSHES = 2


def quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: the mean of all
    order statistics weighted by the Beta(p(n+1), (1-p)(n+1)) mass of
    each one's share of [0, 1].  At the 10-20 samples a run holds it
    moves less from run to run than the one or two order statistics a
    plain median or percentile rests on.  Weights come from the Beta
    density on a fine midpoint grid (no singularity for p50, nor for
    p90 with n >= 9)."""
    x = sorted(values)
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = (np.arange(QUANTILE_GRID) + 0.5) / QUANTILE_GRID
    cdf = np.concatenate(
        [[0.0], np.cumsum(grid ** (a - 1) * (1 - grid) ** (b - 1))])
    edges = cdf[np.arange(n + 1) * QUANTILE_GRID // n] / cdf[-1]
    return float(np.dot(np.diff(edges), x))


def dir_bytes(path) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ------------------------------------------------------------ processes
def _hwm_kb(pid: int) -> int:
    """The process's peak resident set (VmHWM), kept by the kernel."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _comm(pid: int) -> str:
    with open(f"/proc/{pid}/comm") as f:
        return f.read().strip()


def _children(pid: int) -> list[int]:
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        with open(f"/proc/{pid}/task/{tid}/children") as f:
            out.extend(int(c) for c in f.read().split())
    return out


class PeakMemory:
    """Peak over time of the summed resident-set peaks (kernel-kept
    VmHWM) of the JVM and the Python workers alive at that moment, read
    every 0.2 s.  A worker counts while it lives, so worker churn does
    not add up.  Other descendants (helpers the JVM spawns, which for an
    instant after the fork show the JVM's whole resident set) are not
    counted."""

    def __init__(self, pid: int):
        self.pid = pid
        self.peak_kb = self.jvm_kb = self.max_procs = 0
        self.uncounted: set[str] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        total, procs, stack = 0, 0, [self.pid]
        while stack:
            p = stack.pop()
            try:
                comm = _comm(p)
                counted = p == self.pid or comm.startswith("python")
                kb = _hwm_kb(p) if counted else 0
                if not counted:
                    self.uncounted.add(comm)
                stack.extend(_children(p))
            except (FileNotFoundError, ProcessLookupError):
                continue  # exited between listing and reading
            total += kb
            procs += 1
            if p == self.pid:
                self.jvm_kb = kb
        self.peak_kb = max(self.peak_kb, total)
        self.max_procs = max(self.max_procs, procs)

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(0.2)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


def start_spark(work: Path, trace: bool):
    cores = min(CORES, os.cpu_count() or 1)
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # Python workers inherit the environment: keep their temp files in
    # the checkout too
    os.environ["TMPDIR"] = str(tmp)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.local.dir", str(work / "local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}")
    )
    if trace:
        events = work / "events"
        events.mkdir(exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{events}")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the session started, and wait."""
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------- client
class Client:
    """A single closed-loop HTTP client of ``SearchServer``."""

    def __init__(self, host: str, port: int):
        self.base = f"http://{host}:{port}"

    def post(self, path: str, body: bytes) -> bytes:
        req = urllib.request.Request(self.base + path, data=body,
                                     method="POST")
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.read()

    def search(self, q: dict):
        body = json.dumps({
            "terms": q["terms"], "is_phrase": q["is_phrase"],
            "return_snippets": q["return_snippets"], "n_results": K,
        }).encode()
        reply = json.loads(self.post("/search", body))
        return [(e["doc_id"], e["doc_score"]) for e in reply["entries"]]

    def stream(self, qs: list[dict]):
        body = "\n".join(json.dumps({
            "terms": q["terms"], "is_phrase": q["is_phrase"],
            "n_results": K,
        }) for q in qs).encode()
        lines = self.post("/stream_search", body).decode().splitlines()
        return [
            [(e["doc_id"], e["doc_score"]) for e in json.loads(ln)["entries"]]
            for ln in lines
        ]


def _rows(df_rows):
    """(doc_id, score) pairs of engine rows, in rank order."""
    return [(int(r["doc_id"]), float(r["score"]))
            for r in sorted(df_rows, key=lambda r: r["rank"])]


@dataclass
class Run:
    """State and samples of one benchmark run."""

    name: str
    w: Workload
    seed: int
    seconds: float
    trace: bool
    work: Path
    lat: dict = field(default_factory=lambda: {"search": [], "rel": []})
    qps: dict = field(default_factory=lambda: {"stream": [], "rel": []})
    writes: list = field(default_factory=list)   # (docs, wall_s)
    to_search: list = field(default_factory=list)


# ------------------------------------------------------------ workloads
def run_workload(r: Run) -> tuple[dict, dict, dict]:
    w = r.w
    ingest = w.flush_docs > 0
    # ---- inputs (not timed): corpus, query log, oracle answers
    docs = make_docs(w.corpus, r.seed)
    base_docs = docs[: w.base] if ingest else docs
    log = make_log(base_docs, LOG_LEN, r.seed)
    prof = profile(docs, log, SegmentIndex.DICT_DRIVER_CACHE_MAX)
    if ingest:
        prof["base_vocabulary"] = len(
            {t for d in base_docs for t in tokens(d["content"])}
        )
    oracle = OracleEngine(PARAMS)            # the live corpus
    for d in base_docs:
        oracle.add_document(d["content"])
    # the relational leg always answers over the base: taken before
    # any flush adds to the oracle
    answers = [oracle_answer(oracle, q) for q in log]
    tally = Tally()

    # ---- set-up (timed): session, input load, build, load, server
    spans = Spans()
    t_setup = time.perf_counter()
    with spans.span("spark"):
        spark, cores = start_spark(r.work, r.trace)
    if r.trace:
        spans.sc = spark.sparkContext
    mem = PeakMemory(SparkContext._gateway.proc.pid)
    cfg = IndexConfig(bm25=PARAMS, n_shards=cores)
    idx_dir, store_dir = str(r.work / "index"), str(r.work / "store")
    docs_df = spark.createDataFrame(
        [(d["doc_id"], d["content"]) for d in base_docs],
        "doc_id long, content string",
    )
    indexer = None
    if ingest:
        indexer = BenchIndexer(
            spans, idx_dir, cfg, order_cols=("url", "title"), fmt="v2",
            compact_every=COMPACT_EVERY,
        )
        indexer.process_batch(spark.createDataFrame(
            [_ingest_row(d) for d in base_docs],
            "url string, title string, content string",
        ), 0)
    else:
        t0 = time.perf_counter()
        with spans.span("mapside.build"):
            write_index_mapside(docs_df, idx_dir, cfg)
        r.writes.append((len(docs), time.perf_counter() - t0))
    with spans.span("segments.load"):
        idx = load_index(spark, idx_dir)
    if not ingest:
        r.to_search.append(time.perf_counter() - t0)
    with spans.span("docstore.write"):
        write_doc_store(docs_df, store_dir)
    with spans.span("postings.build"):
        postings = build_postings_arrow(docs_df).cache()
        docstats = build_docstats(docs_df).cache()
        dictionary = build_dictionary(postings).cache()
        postings.count()
        dictionary.count()
        stats = corpus_stats(docstats)
    server = SearchServer(idx, doc_store_dir=store_dir, indexer=indexer)
    server.start()
    client = Client(server.host, server.port)

    def unary(q: dict, want, op: str = "search", must_hold=None):
        """One HTTP /search, checked; ``must_hold``: a doc id the reply
        has to contain (the freshness probe)."""
        t0 = time.time()
        try:
            got = client.search(q)
        except (urllib.error.URLError, OSError, ValueError, KeyError):
            got = None
        t1 = time.time()
        ok = tally.record(op, got is not None and same_answer(got, want)
                          and (must_hold is None
                               or must_hold in [d for d, _ in got]),
                          {"query": q, "got": got, "want": want})
        r.lat["search"].append(t1 - t0 if ok else FAILED_LATENCY)
        spans.items.append(
            ("segments.search_hit" if want else "segments.search_empty",
             t0, t1))

    def rel(q: dict, want):
        t0 = time.time()
        try:
            got = _rows(bm25_topk(
                postings, docstats, dictionary, stats, list(q["terms"]),
                k=K, params=PARAMS, is_phrase=q["is_phrase"],
            ).collect())
        except Exception as e:  # counted, reported, never filtered
            got = None
            print(f"relational query failed: {e!r}", file=sys.stderr)
        t1 = time.time()
        ok = tally.check("rel_search", got, want, q)
        r.lat["rel"].append(t1 - t0 if ok else FAILED_LATENCY)
        spans.items.append(
            ("topk.single_hit" if want else "topk.single_empty", t0, t1))

    def pair(j: int):
        q = log[j % len(log)]
        unary(q, oracle_answer(oracle, q) if ingest else answers[j % len(log)])
        rel(q, answers[j % len(log)])

    def window(b: int) -> tuple[list[int], list[dict]]:
        lo = (b * BATCH) % len(log)
        ids = [(lo + j) % len(log) for j in range(BATCH)]
        return ids, [log[i] for i in ids]

    def stream(qs: list[dict], want: list):
        t0 = time.perf_counter()
        with spans.span("segments.search_batch"):
            try:
                got = client.stream(qs)
            except (urllib.error.URLError, OSError, ValueError, KeyError):
                got = None
        dt = time.perf_counter() - t0
        for j, q in enumerate(qs):
            tally.check("stream_search",
                        got[j] if got and len(got) == len(qs) else None,
                        want[j], q)
        r.qps["stream"].append((len(qs) if got else 0, dt))

    def rel_batch(qs: list[dict], want: list):
        t0 = time.perf_counter()
        with spans.span("topk.batch"):
            try:
                rows = bm25_topk_batch(
                    postings, docstats, dictionary, stats,
                    [(j, list(q["terms"]), q["is_phrase"])
                     for j, q in enumerate(qs)],
                    k=K, params=PARAMS,
                ).collect()
            except Exception as e:
                rows = None
                print(f"relational batch failed: {e!r}", file=sys.stderr)
        dt = time.perf_counter() - t0
        by_q: dict[int, list] = {j: [] for j in range(len(qs))}
        for row in rows or []:
            by_q[int(row["query_id"])].append(row)
        for j, q in enumerate(qs):
            tally.check("rel_batch",
                        _rows(by_q[j]) if rows is not None else None,
                        want[j], q)
        r.qps["rel"].append((len(qs) if rows is not None else 0, dt))

    def stream_at(b: int):
        ids, qs = window(b)
        stream(qs, [oracle_answer(oracle, q) if ingest else answers[i]
                    for q, i in zip(qs, ids)])

    def rel_batch_at(b: int):
        ids, qs = window(b)
        rel_batch(qs, [answers[i] for i in ids])

    # warm-up (part of set-up): an AND query with snippets over HTTP,
    # and it, a phrase and an absent-term query as one stream batch and
    # one relational batch, all from a separate log, so first-use costs
    # (Python worker imports, JIT compilation, the doc-store and
    # highlight path) stay out of the measured figures.  Its spans are
    # dropped and its jobs carry no group, so it counts in no layer
    warm = [q for q in make_log(base_docs, 5, f"{r.seed}:warm-up")
            if q["cls"] != "single"]
    warm_want = [oracle_answer(oracle, q) for q in warm]
    n_spans, sc, spans.sc = len(spans.items), spans.sc, None
    t_warm = time.perf_counter()
    unary(warm[0], warm_want[0])
    stream(warm, warm_want)
    rel_batch(warm, warm_want)
    warm_up_s = time.perf_counter() - t_warm
    del spans.items[n_spans:]
    spans.sc = sc
    for samples in (*r.lat.values(), *r.qps.values()):
        samples.clear()
    setup_s = time.perf_counter() - t_setup

    # ---- the measured window
    def flush(add: list[dict]):
        t0 = time.perf_counter()
        ok = True
        for d in add:
            body = json.dumps({"document": {
                "url": _ingest_row(d)[0], "title": d["path"],
                "body": d["content"],
            }}).encode()
            try:
                ok &= json.loads(
                    client.post("/add_document", body))["ok"] is True
            except (urllib.error.URLError, OSError, ValueError):
                ok = False
        t1 = time.perf_counter()
        with spans.span("serving.flush"):
            try:
                msg = json.loads(client.post("/flush", b"{}"))
                ok &= msg["message"] == f"{len(add)} docs committed"
            except (urllib.error.URLError, OSError, ValueError):
                ok = False
        t2 = time.perf_counter()
        tally.record("flush", ok, None if ok else "add/flush failed")
        for d in add:
            oracle.add_document(d["content"])
        r.writes.append((len(add), t2 - t0))
        r.to_search.append(t2 - t1)
        # freshness probe: a rarest term of the last doc added must
        # find that doc
        last = add[-1]
        term = min(set(tokens(last["content"])),
                   key=lambda t: (oracle.df(t), t))
        probe = {"terms": [term], "is_phrase": False,
                 "return_snippets": False, "cls": "single"}
        unary(probe, oracle_answer(oracle, probe), "fresh", last["doc_id"])

    # whole rounds of [add+flush] and unary pairs, with the batch leg
    # (STREAMS stream batches, one relational batch) spread between the
    # pairs, so that every metric samples the whole round of a host
    # whose speed drifts; the first round always runs, so every metric
    # has a sample, and an ingest run holds at least MIN_FLUSHES
    # flushes (compaction cycles)
    n = w.pairs_per_round
    stream_after = {(k + 1) * n // STREAMS - 1 for k in range(STREAMS)}
    rel_batch_after = n // 2 - 1
    deadline = time.perf_counter() + r.seconds
    i = b = rnd = 0
    pending = docs[w.base:] if ingest else []

    def over() -> bool:
        enough = rnd > 0 and (not ingest or len(r.to_search) >= MIN_FLUSHES)
        return enough and time.perf_counter() >= deadline

    while not over() and (pending or not ingest):
        if ingest:
            flush(pending[: w.flush_docs])
            pending = pending[w.flush_docs:]
        legs = rnd == 0 or w.batches_every_round
        for j in range(n):
            pair(i)
            i += 1
            if legs and j in stream_after:
                stream_at(b)
                b += 1
            if legs and j == rel_batch_after:
                rel_batch_at(b - 1)  # the last stream batch's queries
        rnd += 1
    idx = server.index  # the ingest server reloads on every flush

    # ---- end-to-end metrics
    def qps(pairs):
        return sum(n for n, _ in pairs) / sum(t for _, t in pairs)

    indexed = docs[: len(docs) - len(pending)]
    content_bytes = sum(len(d["content"].encode()) for d in indexed)
    index_bytes = dir_bytes(idx_dir)
    e2e = {
        "setup_s": setup_s,
        "search_p50_s": quantile(r.lat["search"], 0.5),
        "search_p90_s": quantile(r.lat["search"], 0.9),
        "rel_search_p50_s": quantile(r.lat["rel"], 0.5),
        "rel_search_p90_s": quantile(r.lat["rel"], 0.9),
        "batch_qps": qps(r.qps["stream"]),
        "batch_qps_relational": qps(r.qps["rel"]),
        "write_docs_per_s": sum(n for n, _ in r.writes)
        / sum(t for _, t in r.writes),
        "write_to_search_p50_s": statistics.median(r.to_search),
        "index_bytes_per_content_byte": index_bytes / content_bytes,
    }

    # ---- traced runs: the layer probes (after the window, so they do
    # not disturb the end-to-end figures of the same run)
    layer = {}
    if r.trace:
        # every layer op at least once: an absent-term query on both paths
        absent = {"terms": [log[0]["terms"][0], "zzneverseen"],
                  "is_phrase": False, "return_snippets": False,
                  "cls": "absent"}
        unary(absent, [])
        rel(absent, [])
        layer = layer_probes(
            r, spark, spans, idx, idx_dir, store_dir, docs_df, base_docs,
            log, oracle, client, cfg, indexer,
        )
    server.stop()
    e2e["peak_rss_mb"] = mem.stop()
    for df in (postings, docstats, dictionary):
        df.unpersist()
    stop_spark(spark)
    if r.trace:
        events = read_event_log(str(r.work / "events"))
        folded = fold(events, spans.items, LAYER_OPS + [
            "segments.dict.first", "segments.dict.repeat"])
        layer["segments.dict.first_touch_jobs"] = folded.pop(
            "segments.dict.first.jobs")
        layer["segments.dict.repeat_jobs"] = folded.pop(
            "segments.dict.repeat.jobs")
        for op in ("segments.dict.first", "segments.dict.repeat"):
            for k in [k for k in folded if k.startswith(op + ".")]:
                folded.pop(k)
        layer.update(folded)
        layer["spark.session_start_s"] = spans.walls("spark")[0]
        layer["docstore.write_s"] = spans.walls("docstore.write")[0]
    record = {
        "workload": r.name, "seed": r.seed, "seconds": r.seconds,
        "trace": int(r.trace), "warm_up_s": warm_up_s,
        "bm25": {"k1": PARAMS.k1, "b": PARAMS.b}, "inputs": prof,
        "samples": {
            "search": len(r.lat["search"]), "rel_search": len(r.lat["rel"]),
            "stream_batches": len(r.qps["stream"]),
            "rel_batches": len(r.qps["rel"]), "writes": len(r.writes),
        },
        "memory": {"jvm_peak_mb": mem.jvm_kb / 1024.0,
                   "max_processes": mem.max_procs,
                   "uncounted": sorted(mem.uncounted)},
        "raw": {"latency_s": r.lat, "batch_queries_wall_s": r.qps,
                "writes_docs_wall_s": r.writes,
                "write_to_search_s": r.to_search},
        "failures": tally.examples,
        "span_walls": {
            op: [len(spans.walls(op)), sum(spans.walls(op))]
            for op in sorted({o for o, _, _ in spans.items})
        },
    }
    return e2e, layer, {"tally": tally, "record": record}


def _ingest_row(d: dict) -> tuple[str, str, str]:
    # the indexer orders a batch by (url, title): a zero-padded row
    # number in the url keeps that order equal to the generation order,
    # which is the oracle's insertion order
    return (f"doc{d['doc_id']:09d}", d["path"], d["content"])


def load_index(spark, index_dir: str):
    idx = SegmentIndex(spark, index_dir)
    idx.segments = idx.segments.cache()
    idx.segments.count()
    return idx.warmup()


def unload_index(idx) -> None:
    idx.segments.unpersist()
    idx.dictionary.unpersist()


class BenchIndexer(IncrementalIndexer):
    """The streaming indexer with spans around its commit and
    compaction, and byte counters for write amplification."""

    def __init__(self, spans, *a, **kw):
        super().__init__(*a, **kw)
        self.spans = spans
        self.committed_bytes = 0
        self.compaction_out_bytes = 0
        self.rewritten_bytes = 0
        self.compactions = 0
        self.generations_max = 0

    def process_batch(self, batch, batch_id, refresh_meta=True):
        with self.spans.span("incremental.commit"):
            super().process_batch(batch, batch_id, refresh_meta)

    def _maybe_compact(self, spark):
        gens = self._generations()
        self.generations_max = max(self.generations_max, len(gens))
        fresh = [g for g in gens if g < MERGED_GEN_BASE]
        if fresh:
            self.committed_bytes += self._gen_bytes("segments", max(fresh))
        super()._maybe_compact(spark)

    def compact_generations(self, spark, gens):
        self.rewritten_bytes += sum(
            self._gen_bytes("segments", g) for g in gens)
        with self.spans.span("incremental.compact"):
            super().compact_generations(spark, gens)
        self.compactions += 1
        self.compaction_out_bytes += self._gen_bytes(
            "segments", max(self._generations()))


# --------------------------------------------------------- layer probes
def layer_probes(r, spark, spans, idx, idx_dir, store_dir, docs_df,
                 base_docs, log, oracle, client, cfg, indexer) -> dict:
    """The per-layer extras, and one small call of every operation the
    workload's own loop does not make, so every layer reports."""
    out: dict = {}
    # dictionary: terms this process never looked up, then again
    asked = {t for q in log for t in q["terms"]}
    fresh_terms = sorted(
        {t for d in base_docs[-50:] for t in tokens(d["content"])} - asked
    )[:8] + ["zzneverseen"]
    t0 = time.perf_counter()
    with spans.span("segments.dict.first"):
        idx.doc_freqs(fresh_terms)
    out["segments.dict.first_touch_s"] = time.perf_counter() - t0
    with spans.span("segments.dict.repeat"):
        idx.doc_freqs(fresh_terms)
    out["segments.dict.driver_cached"] = float(idx._dict_mem is not None)

    out.update(codec_and_format(idx_dir, log))

    # serving overhead: HTTP minus a direct call of the same query;
    # snippet cost: the same direct call with and without snippets
    hits = [q for q in log if oracle_answer(oracle, q)][:3]
    over, extra, fetch = [], [], []
    for q in hits:
        t0 = time.perf_counter()
        client.search(dict(q, return_snippets=False))
        t1 = time.perf_counter()
        rows = idx.search(list(q["terms"]), k=K,
                          is_phrase=q["is_phrase"]).collect()
        t2 = time.perf_counter()
        idx.search(list(q["terms"]), k=K, is_phrase=q["is_phrase"],
                   return_snippets=True, doc_store_dir=store_dir).collect()
        t3 = time.perf_counter()
        over.append((t1 - t0) - (t2 - t1))
        extra.append((t3 - t2) - (t2 - t1))
        ids = [int(x["doc_id"]) for x in rows]
        t0 = time.perf_counter()
        fetch_docs(spark, store_dir, ids).collect()
        fetch.append(time.perf_counter() - t0)
    out["serving.search.overhead_s"] = statistics.median(over)
    out["highlight.snippet_extra_s"] = statistics.median(extra)
    out["docstore.fetch_s"] = statistics.median(fetch)

    if indexer is None:
        # interactive writes no generations: a small side index of two
        # commits (the second compacts), the second through /flush,
        # exercises the incremental and flush layers
        side = str(r.work / "side_index")
        indexer = BenchIndexer(spans, side, cfg, order_cols=("url", "title"),
                               fmt="v2", compact_every=COMPACT_EVERY)
        indexer.process_batch(spark.createDataFrame(
            [_ingest_row(d) for d in base_docs[:60]],
            "url string, title string, content string"), 0)
        srv = SearchServer(load_index(spark, side),
                           indexer=indexer).start()
        side_client = Client(srv.host, srv.port)
        for d in base_docs[60:90]:
            side_client.post("/add_document", json.dumps({"document": {
                "url": _ingest_row(d)[0], "title": d["path"],
                "body": d["content"]}}).encode())
        with spans.span("serving.flush"):
            side_client.post("/flush", b"{}")
        srv.stop()
        unload_index(srv.index)
        flush_dir = side
    else:
        # the ingest workload builds no map-side index: one small build
        d = str(r.work / "side_build")
        with spans.span("mapside.build"):
            write_index_mapside(docs_df, d, cfg)
        flush_dir = idx_dir
    # flush overhead: flush minus its commit minus a reload of the index
    flushes = spans.walls("serving.flush")
    commits = spans.walls("incremental.commit")[-len(flushes):]
    t0 = time.perf_counter()
    unload_index(load_index(spark, flush_dir))
    reload_s = time.perf_counter() - t0
    out["serving.flush.overhead_s"] = statistics.median(
        f - c - reload_s for f, c in zip(flushes, commits))
    out["incremental.compactions"] = float(indexer.compactions)
    out["incremental.bytes_rewritten"] = float(indexer.rewritten_bytes)
    out["incremental.write_amp"] = (
        (indexer.committed_bytes + indexer.compaction_out_bytes)
        / max(indexer.committed_bytes, 1))
    out["incremental.generations_max"] = float(indexer.generations_max)
    return out


def codec_and_format(idx_dir: str, log: list[dict]) -> dict:
    """Index file sizes by part, the blob bytes a query's terms touch,
    and driver-side decode speed of the hottest segment rows."""
    seg = ds.dataset(f"{idx_dir}/segments", format="parquet",
                     partitioning="hive").to_table()
    terms = seg.column("term").to_pylist()
    kind = ["doclen" if t == DOCLEN_TERM else
            "bloom" if t[:1] in BLOOM_PREFIXES else "term" for t in terms]
    mask_term = [k == "term" for k in kind]
    mask_bloom = [k == "bloom" for k in kind]

    def blob_bytes(col, mask) -> float:
        lens = pc.binary_length(seg.column(col)).to_pylist()
        return float(sum(n for n, m in zip(lens, mask) if m and n))

    skip = 0  # on-disk (compressed) bytes of the skip-list columns
    for frag in ds.dataset(f"{idx_dir}/segments", format="parquet").files:
        meta = pq.ParquetFile(frag).metadata
        for g in range(meta.num_row_groups):
            for c in range(meta.num_columns):
                col = meta.row_group(g).column(c)
                if col.path_in_schema.startswith("skip_"):
                    skip += col.total_compressed_size
    out = {
        "segments.format.bytes_segments": float(
            dir_bytes(f"{idx_dir}/segments")),
        "segments.format.bytes_dictionary": float(
            dir_bytes(f"{idx_dir}/dictionary")),
        "segments.format.bytes_docids": blob_bytes("docids_blob", mask_term),
        "segments.format.bytes_tfs": blob_bytes("tfs_blob", mask_term),
        "segments.format.bytes_pos": blob_bytes("pos_blob", mask_term),
        "segments.format.bytes_off": blob_bytes("off_blob", mask_term),
        "segments.format.bytes_bloom": blob_bytes("tfs_blob", mask_bloom)
        + blob_bytes("docids_blob", mask_bloom),
        "segments.format.bytes_skip": float(skip),
    }
    dic = ds.dataset(f"{idx_dir}/dictionary", format="parquet").to_table(
        columns=["term", "df", "bytes_docid_tf"]).to_pylist()
    by_term = {d["term"]: d["bytes_docid_tf"] or 0 for d in dic}
    out["segments.format.query_bytes_p50"] = float(statistics.median(
        sum(by_term.get(t, 0) for t in q["terms"]) for q in log))
    # codec: decode the three highest-df terms' rows, repeated until
    # at least 0.2 s has been measured
    hot = {d["term"] for d in sorted(dic, key=lambda d: -d["df"])[:3]}
    rows = [
        {c: seg.column(c)[j].as_py() for c in
         ("df_shard", "docids_blob", "tfs_blob")}
        for j, t in enumerate(terms) if t in hot
    ]
    postings = sum(x["df_shard"] for x in rows)
    nbytes = sum(len(x["docids_blob"]) + len(x["tfs_blob"]) for x in rows)
    reps, t0 = 0, time.perf_counter()
    while True:
        for x in rows:
            decode_segment_row(x)
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= 0.2:
            break
    out["segments.codec.postings_per_s"] = postings * reps / dt
    out["segments.codec.bytes_per_posting"] = nbytes / max(postings, 1)
    return out


# ------------------------------------------------------------------ main
def per_layer_names() -> list[str]:
    return [f"{op}.{s}" for op in LAYER_OPS for s in STATS] + LAYER_EXTRAS


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    work = ROOT / ".perfbench_work" / f"{a.workload}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out_dir.mkdir(exist_ok=True)
    r = Run(a.workload, WORKLOADS[a.workload], a.seed, a.seconds,
            bool(a.trace), work)
    try:
        e2e, layer, info = run_workload(r)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    tally, record = info["tally"], info["record"]
    record["end_to_end"] = e2e
    if a.trace:
        record["per_layer"] = layer
        record["tracing_overhead"] = tracing_overhead(out_dir, a, e2e)
        print("tracing overhead vs the last untraced run: "
              + json.dumps(record["tracing_overhead"]))
    with open(out_dir / f"{a.workload}-seed{a.seed}-trace{a.trace}.json",
              "w") as f:
        json.dump(record, f, indent=1)
    if a.trace:
        names = per_layer_names()
        metrics = {n: {"value": float(layer[n]), "unit": _layer_unit(n)}
                   for n in names}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u}
                   for n, u in END_TO_END.items()}
    print(json.dumps({
        "correct": tally.failed == 0, "attempted": tally.attempted,
        "failed": tally.failed, "metrics": metrics,
    }))
    return 0


def tracing_overhead(out_dir: Path, a, traced: dict) -> dict:
    """Relative difference of each end-to-end metric of this traced run
    against the untraced run of the same workload and seed, else the
    latest untraced run of the workload."""
    same = out_dir / f"{a.workload}-seed{a.seed}-trace0.json"
    paths = [same] if same.exists() else sorted(
        out_dir.glob(f"{a.workload}-seed*-trace0.json"), key=os.path.getmtime)
    if not paths:
        return {}
    with open(paths[-1]) as f:
        base = json.load(f)["end_to_end"]
    return {k: (traced[k] - base[k]) / base[k]
            for k in traced if k in base and base[k]}


def _layer_unit(name: str) -> str:
    stat = name.rsplit(".", 1)[1]
    if stat == "postings_per_s":
        return "1/s"
    if stat.startswith("bytes") or stat == "query_bytes_p50":
        return "bytes"
    if stat in ("write_amp", "driver_cached"):
        return "ratio"
    if stat.endswith("_s"):
        return "s"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
