"""Incremental (streaming) index == batch index on the same ingested
prefix; generations merge transparently at query time."""

import os

import pytest

from wiser_spark.config import BM25Params, IndexConfig
from wiser_spark.functions.tokenize import doclen_text
from wiser_spark.operators.segments import SegmentIndex
from wiser_spark.oracle import OracleEngine
from wiser_spark.sources.corpus import make_corpus
from wiser_spark.streaming.incremental import start_incremental_index

PARAMS = BM25Params(1.2, 0.75)
SCHEMA = "repo string, path string, commit string, lang string, content string"


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    input_dir, index_dir, ckpt = (
        str(base / "in"), str(base / "idx"), str(base / "ckpt")
    )
    rows = make_corpus(90)  # already sorted by (repo, path, commit)
    cfg = IndexConfig(bm25=PARAMS, n_shards=3)

    def ingest(batch_rows):
        df = spark.createDataFrame(batch_rows, SCHEMA)
        df.coalesce(1).write.mode("append").parquet(input_dir)
        q = start_incremental_index(
            spark, input_dir, index_dir, ckpt, SCHEMA, cfg
        )
        q.awaitTermination()

    ingest(rows[:40])   # generation 0
    ingest(rows[40:])   # generation 1 (only new files processed)
    return index_dir, rows


def _sentinel_doc_ids(spark, index_dir):
    """Every doc id the index's sentinel rows record, across all
    generations (each doc sits in exactly one sentinel row)."""
    from wiser_spark.operators.segments import (
        DOCLEN_TERM,
        decode_doclen_sentinel,
    )

    rows = spark.read.parquet(f"{index_dir}/segments").filter(
        f"term = '{DOCLEN_TERM}'"
    ).collect()
    return sorted(
        int(d) for r in rows for d in decode_doclen_sentinel(r.asDict())[0]
    )


@pytest.fixture(scope="module")
def oracle():
    eng = OracleEngine(PARAMS)
    for row in make_corpus(90):
        eng.add_document(row["content"])
    return eng


def test_stream_stats_match_batch(spark, streamed, oracle):
    idx = SegmentIndex(spark, streamed[0])
    assert idx.stats.n_docs == 90
    assert idx.stats.avgdl == pytest.approx(oracle.avgdl, rel=1e-12)
    # two generations actually present (exactly-once, no reprocessing)
    gens = {
        r["generation"]
        for r in idx.segments.select("generation").distinct().collect()
    }
    assert len(gens) == 2


def test_compaction_preserves_results(spark, streamed, oracle, tmp_path):
    """Compacting the multi-generation streaming index into one row per
    (shard, term) must leave every query identical and actually merge
    the generations (the reference's qq->vacuum conversion, B18)."""
    from wiser_spark.operators.segments import compact_index

    src, _ = streamed
    out = str(tmp_path / "compacted")
    compact_index(spark, src, out)
    segs = spark.read.parquet(f"{out}/segments")
    per_key = (
        segs.groupBy("shard_id", "term").count()
        .agg({"count": "max"}).collect()[0][0]
    )
    assert per_key == 1  # one generation after the merge
    idx_old = SegmentIndex(spark, src)
    idx_new = SegmentIndex(spark, out)
    for terms, is_phrase in [(["return"], False), (["return", "import"], True)]:
        a = [tuple(r) for r in idx_old.search(terms, 10, is_phrase).collect()]
        b = [tuple(r) for r in idx_new.search(terms, 10, is_phrase).collect()]
        assert a == b and a
        want = oracle.search(terms, k=10, is_phrase=is_phrase)
        assert [r[1] for r in b] == [d for d, _ in want]


def test_replayed_batch_is_noop(spark, tmp_path):
    """At-least-once replay of a committed batch must not duplicate rows
    or shift docIDs (the commit log makes the sink idempotent)."""
    from wiser_spark.streaming.incremental import IncrementalIndexer

    rows = make_corpus(30)
    df = spark.createDataFrame(rows, SCHEMA)
    d = str(tmp_path / "idx")
    ix = IncrementalIndexer(d, IndexConfig(bm25=PARAMS, n_shards=2))
    ix.process_batch(df, 0)
    ids1 = _sentinel_doc_ids(spark, d)
    ix.process_batch(df, 0)  # replay
    assert _sentinel_doc_ids(spark, d) == ids1
    ix.process_batch(spark.createDataFrame(make_corpus(40)[30:], SCHEMA), 1)
    ids2 = _sentinel_doc_ids(spark, d)
    # dense continuation: batch 1 starts exactly where batch 0 ended
    assert ids2 == list(range(40)) and ids1 == list(range(30))
    idx = SegmentIndex(spark, d)
    assert idx.stats.n_docs == 40
    assert idx.search(["return"], k=5).count() > 0


def test_staging_leftover_replaced_on_retry(spark, tmp_path):
    """A crash between publish and commit leaves a half-moved generation;
    the retry (same batch_id, same docID offset from the commit log)
    replaces it with identical data."""
    import json
    import os

    from wiser_spark.streaming.incremental import IncrementalIndexer

    rows = make_corpus(20)
    df = spark.createDataFrame(rows, SCHEMA)
    d = str(tmp_path / "idx")
    ix = IncrementalIndexer(d, IndexConfig(bm25=PARAMS, n_shards=2))
    ix.process_batch(df, 0)
    # simulate the crash: generation published but commit record lost
    os.remove(f"{d}/commits.json")
    ix.process_batch(df, 0)  # retry
    lensum = sum(doclen_text(r["content"]) for r in rows)
    with open(f"{d}/commits.json") as f:
        assert json.load(f) == {"0": [0, 20, lensum]}
    assert _sentinel_doc_ids(spark, d) == list(range(20))


def test_stream_v2_multigeneration_queries(spark, streamed, oracle):
    """Streaming generations (sentinels + blooms in the segment table,
    no docstats dir) answer rank-identically before compaction."""
    assert not os.path.exists(f"{streamed[0]}/docstats")
    idx = SegmentIndex(spark, streamed[0])
    assert idx.stats.n_docs == 90
    assert idx.stats.avgdl == pytest.approx(oracle.avgdl, rel=1e-12)
    assert idx.bloom_cfg is not None
    for terms, ph in [(["return"], False), (["return", "import"], False),
                      (["if", "else"], True)]:
        got = idx.search(terms, k=10, is_phrase=ph).collect()
        want = oracle.search(terms, k=10, is_phrase=ph)
        assert [r["doc_id"] for r in got] == [d for d, _ in want]
        for r, (_, s) in zip(got, want):
            assert r["score"] == pytest.approx(s, rel=1e-12)


def test_stream_v2_compaction_merges_sentinels_and_blooms(
    spark, streamed, oracle, tmp_path
):
    """compact_index on a streaming index merges plain rows AND the
    sentinel doc-length rows AND both bloom sides into one row per
    (shard, term); the compacted index answers the full suite
    rank-identically, with bloom pruning active again."""
    from wiser_spark.operators.segments import (
        BLOOM_BEGIN_PREFIX,
        BLOOM_PREFIX,
        DOCLEN_TERM,
        compact_index,
    )

    out = str(tmp_path / "compacted_stream")
    compact_index(spark, streamed[0], out)
    segs = spark.read.parquet(f"{out}/segments")
    per_key = (
        segs.groupBy("shard_id", "term").count()
        .agg({"count": "max"}).collect()[0][0]
    )
    assert per_key == 1  # sentinels, blooms, and terms all merged
    rows = segs.select("term").collect()
    terms = [r["term"] for r in rows]
    assert DOCLEN_TERM in terms
    n_end = sum(t.startswith(BLOOM_PREFIX) for t in terms)
    n_begin = sum(t.startswith(BLOOM_BEGIN_PREFIX) for t in terms)
    n_plain = sum(
        not t.startswith((BLOOM_PREFIX, BLOOM_BEGIN_PREFIX)) and t != DOCLEN_TERM
        for t in terms
    )
    assert n_end == n_begin == n_plain > 0  # both sides survived the merge
    idx = SegmentIndex(spark, out)
    assert idx.stats.n_docs == 90
    for terms_q, ph in [(["return"], False), (["return", "import"], False),
                        (["return", "import"], True), (["if", "else"], True),
                        (["def", "self", "return"], False)]:
        got = idx.search(terms_q, k=10, is_phrase=ph).collect()
        want = oracle.search(terms_q, k=10, is_phrase=ph)
        assert [r["doc_id"] for r in got] == [d for d, _ in want]
        for r, (_, s) in zip(got, want):
            assert r["score"] == pytest.approx(s, rel=1e-12)


@pytest.mark.parametrize(
    "terms,is_phrase",
    [(["return"], False), (["return", "import"], False), (["if", "else"], True)],
)
def test_stream_query_rank_identical(spark, streamed, oracle, terms, is_phrase):
    idx = SegmentIndex(spark, streamed[0])
    got = idx.search(terms, k=10, is_phrase=is_phrase).collect()
    want = oracle.search(terms, k=10, is_phrase=is_phrase)
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert r["score"] == pytest.approx(s, rel=1e-12)


def test_resume_with_other_format_refuses(spark, tmp_path):
    """Indexes and journals of removed layouts are refused loudly,
    naming the index, instead of failing inside a worker or silently
    losing documents: an index whose stats.json lacks doclen_sentinel
    (doc lengths in a separate docstats table) is refused by
    SegmentIndex, IncrementalIndexer and compact_index; the indexer
    takes no format but fmt="v2"; a compaction journal whose target is
    one of the generations it removes is refused with nothing touched;
    and a journal with no generations manifest beside it fails the read
    and is refused by recovery, with nothing touched."""
    import json

    import wiser_spark.streaming.incremental as incmod
    from wiser_spark.operators.segments import compact_index, read_segments
    from wiser_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path / "idx")
    os.makedirs(d)
    with open(f"{d}/stats.json", "w") as f:
        json.dump({"format": "wiser-spark-segment-v1", "n_docs": 1,
                   "avgdl": 1.0, "k1": 1.2, "b": 0.75}, f)
    for open_index in (
        lambda: SegmentIndex(spark, d),
        lambda: IncrementalIndexer(d),
        lambda: compact_index(spark, d, str(tmp_path / "out")),
    ):
        with pytest.raises(ValueError, match="doclen_sentinel") as e:
            open_index()
        assert d in str(e.value)
    IncrementalIndexer(str(tmp_path / "fresh"), fmt="v2")
    with pytest.raises(ValueError, match="unknown streaming index format"):
        IncrementalIndexer(str(tmp_path / "fresh"), fmt="v1")

    # a journal reusing a live generation id as its target
    j = str(tmp_path / "journal")
    for g in (0, 1):
        os.makedirs(f"{j}/segments/generation={g}")
    os.makedirs(f"{j}/_staging/compact/segments")
    incmod._write_generations(j, [0, 1])
    with open(f"{j}/compaction.json", "w") as f:
        json.dump({"remove": [0, 1], "target": 1,
                   "staging": "_staging/compact", "tables": ["segments"]}, f)
    with pytest.raises(ValueError, match="also removes"):
        incmod.recover_compaction(j, sweep=True)
    assert sorted(os.listdir(f"{j}/segments")) == [
        "generation=0", "generation=1"
    ]
    assert os.path.isdir(f"{j}/_staging/compact/segments")
    assert os.path.exists(f"{j}/compaction.json")
    assert incmod.read_generations(j) == [0, 1]
    assert not os.path.exists(f"{j}/compaction.lock")  # released
    # a journal with no manifest: nothing consistent to read, and
    # recovery refuses it untouched
    os.remove(f"{j}/generations.json")
    with pytest.raises(ValueError, match="no generations manifest"):
        read_segments(spark, j)
    with open(f"{j}/compaction.json", "w") as f:
        json.dump({"remove": [0], "target": 2,
                   "staging": "_staging/compact", "tables": ["segments"]}, f)
    with pytest.raises(ValueError, match="no generations manifest"):
        incmod.recover_compaction(j, sweep=True)
    assert sorted(os.listdir(f"{j}/segments")) == [
        "generation=0", "generation=1"
    ]
    assert os.path.isdir(f"{j}/_staging/compact/segments")
    assert os.path.exists(f"{j}/compaction.json")
    assert not os.path.exists(f"{j}/compaction.lock")


def test_auto_compaction_tiered_trigger(spark, tmp_path, oracle,
                                        monkeypatch):
    """A 20-generation stream with compact_every=6 compacts
    automatically (generation count never exceeds the tier after a
    commit; merges are SIZE-TIERED — smallest generations first),
    answers the BM25 suite rank-identically to an UNCOMPACTED twin fed
    the same batches, and a torn mid-swap state (journal written,
    swap not applied) self-heals from the READ path."""
    from wiser_spark.streaming.incremental import IncrementalIndexer

    rows = make_corpus(200)
    cfg = IndexConfig(bm25=PARAMS, n_shards=3)
    d_auto = str(tmp_path / "auto")
    d_plain = str(tmp_path / "plain")
    ix_auto = IncrementalIndexer(d_auto, cfg, compact_every=6)
    ix_plain = IncrementalIndexer(d_plain, cfg)
    for b in range(20):
        batch = spark.createDataFrame(rows[b * 10 : (b + 1) * 10], SCHEMA)
        ix_auto.process_batch(batch, b)
        ix_plain.process_batch(batch, b)
        assert len(ix_auto._generations()) <= 6
    assert len(ix_plain._generations()) == 20
    idx_a = SegmentIndex(spark, d_auto)
    idx_p = SegmentIndex(spark, d_plain)
    assert idx_a.stats.n_docs == idx_p.stats.n_docs == 200
    assert idx_a.stats.avgdl == pytest.approx(idx_p.stats.avgdl, rel=1e-12)
    suite = [
        (["return"], False), (["return", "import"], False),
        (["def", "self", "return"], False), (["return", "import"], True),
        (["import", "return", "def"], True), (["zz_absent"], False),
    ]
    for terms, ph in suite:
        got_a = [tuple(r) for r in
                 idx_a.search(terms, k=10, is_phrase=ph).collect()]
        got_p = [tuple(r) for r in
                 idx_p.search(terms, k=10, is_phrase=ph).collect()]
        assert got_a == got_p, (terms, ph)
    # torn swap: stage + journal a merge of the two oldest remaining
    # generations, but "crash" before the swap applies (journal on
    # disk, manifest unflipped). READERS need no recovery: the
    # generations manifest still names the consistent pre-flip set, so
    # a plain SegmentIndex load answers identically WITHOUT touching
    # the journal (journal application is writer-only — the r04
    # high-severity reader/writer race is structurally closed). The
    # WRITER's next operation rolls the journal forward.
    import wiser_spark.streaming.incremental as incmod

    gens_before = ix_auto._generations()
    monkeypatch.setattr(incmod, "_apply_compaction_journal",
                        lambda *_: None)
    ix_auto.compact_generations(spark, gens_before[:2])
    monkeypatch.undo()
    assert os.path.exists(f"{d_auto}/compaction.json")  # torn state
    assert ix_auto._generations() == gens_before        # swap not applied
    idx_torn = SegmentIndex(spark, d_auto)  # reader: consistent, no heal
    assert os.path.exists(f"{d_auto}/compaction.json")  # untouched
    got = [tuple(r) for r in
           idx_torn.search(["return", "import"], k=10).collect()]
    want = [tuple(r) for r in
            idx_p.search(["return", "import"], k=10).collect()]
    assert got == want
    # writer-side recovery rolls the swap forward; the merged
    # generation installs under a FRESH id (MERGED_GEN_BASE namespace)
    # and the two merged-away generations leave the manifest
    incmod.recover_compaction(d_auto, sweep=True)
    assert not os.path.exists(f"{d_auto}/compaction.json")
    gens_after = ix_auto._generations()
    assert len(gens_after) == len(gens_before) - 1
    assert max(gens_after) >= incmod.MERGED_GEN_BASE
    idx_healed = SegmentIndex(spark, d_auto)
    got = [tuple(r) for r in
           idx_healed.search(["return", "import"], k=10).collect()]
    assert got == want


def test_stale_lock_stolen_by_rename(spark, tmp_path, monkeypatch):
    """A compaction.lock older than LOCK_STALE_S belongs to a dead
    process: recovery steals it (by rename — two stealers cannot both
    acquire) and applies the journal."""
    import time

    import wiser_spark.streaming.incremental as incmod
    from wiser_spark.streaming.incremental import IncrementalIndexer

    # torn compaction: the merge of generations [0, 1] staged and
    # journalled, the swap never applied
    rows = make_corpus(40)
    d = str(tmp_path / "idx")
    ix = IncrementalIndexer(d, IndexConfig(bm25=PARAMS, n_shards=3))
    for b in range(2):
        ix.process_batch(
            spark.createDataFrame(rows[b * 20 : (b + 1) * 20], SCHEMA), b
        )
    monkeypatch.setattr(incmod, "recover_compaction", lambda *a, **k: None)
    ix.compact_generations(spark, [0, 1])
    monkeypatch.undo()
    assert os.path.exists(f"{d}/compaction.json")
    lock = f"{d}/compaction.lock"
    with open(lock, "w"):
        pass
    old = time.time() - incmod.LOCK_STALE_S - 60
    os.utime(lock, (old, old))
    incmod.recover_compaction(d)
    assert not os.path.exists(f"{d}/compaction.json")  # applied
    assert not os.path.exists(lock)                    # released
    assert len(ix._generations()) == 1


def test_empty_microbatch_fast_path(spark, tmp_path):
    """Empty micro-batches (routine on a long-running stream) commit
    with ONE cheap probe: no range-sort, no persist, no stats job —
    and dense docIDs continue unbroken through them."""
    import json

    from wiser_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path / "idx")
    ix = IncrementalIndexer(d, IndexConfig(bm25=PARAMS, n_shards=2))
    empty = spark.createDataFrame([], SCHEMA)
    prep = ix.prepare_batch(empty)
    assert prep["n_docs"] == 0 and prep["pinned"] is None
    assert prep["docs0"] is None  # nothing staged, nothing pinned
    ix.process_batch(empty, 0)
    with open(f"{d}/commits.json") as f:
        assert json.load(f)["0"][:2] == [0, 0]
    rows = make_corpus(20)
    ix.process_batch(spark.createDataFrame(rows, SCHEMA), 1)
    idx = SegmentIndex(spark, d)
    assert idx.stats.n_docs == 20
    assert idx.search(["return"], k=5).count() > 0


def test_commit_failure_releases_pinned_layout(spark, tmp_path,
                                               monkeypatch):
    """A failed encode must unpersist the prepared slice's pinned
    shuffle layout (a retrying long-lived session would otherwise
    accumulate one pinned intermediate per failure)."""
    import wiser_spark.streaming.incremental as incmod
    from wiser_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path / "idx")
    ix = IncrementalIndexer(d, IndexConfig(bm25=PARAMS, n_shards=2))
    df = spark.createDataFrame(make_corpus(15), SCHEMA)
    prep = ix.prepare_batch(df)
    pinned = prep["pinned"]
    assert pinned.is_cached

    def boom(*a, **k):
        raise RuntimeError("simulated encode failure")

    monkeypatch.setattr(incmod.IncrementalIndexer, "_encode_and_publish",
                        boom)
    with pytest.raises(RuntimeError, match="simulated"):
        ix.commit_prepared(spark, 0, prep)
    assert not pinned.is_cached
