"""Map-side (zero-shuffle) index build == oracle, and its encoder ==
the per-term reference encode of the shuffle-based path. This is the
scale-path differential gate."""

import json

import pytest

from wiser_spark.config import BM25Params, IndexConfig
from wiser_spark.operators.mapside import write_index_mapside
from wiser_spark.operators.docstats import build_docstats, corpus_stats
from wiser_spark.operators.postings import (
    assign_doc_ids,
    build_dictionary,
    build_postings,
)
from wiser_spark.operators.segments import SegmentIndex, write_index
from wiser_spark.oracle import OracleEngine
from wiser_spark.sources.corpus import corpus_df, make_corpus

N = 130
PARAMS = BM25Params(1.2, 0.75)


@pytest.fixture(scope="module")
def mapside_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mapside_idx"))
    docs = assign_doc_ids(corpus_df(spark, N), n_partitions=4)
    write_index_mapside(docs, d, IndexConfig(bm25=PARAMS, n_shards=5))
    return d


@pytest.fixture(scope="module")
def oracle():
    eng = OracleEngine(PARAMS)
    for row in make_corpus(N):
        eng.add_document(row["content"])
    return eng


def test_meta_and_dictionary(spark, mapside_dir, oracle):
    meta = json.load(open(f"{mapside_dir}/stats.json"))
    assert meta["n_docs"] == N
    assert meta["avgdl"] == pytest.approx(oracle.avgdl, rel=1e-12)
    assert meta["doclen_sentinel"] is True
    d = {
        r["term"]: r["df"]
        for r in spark.read.parquet(f"{mapside_dir}/dictionary").collect()
    }
    assert d["return"] == oracle.df("return")
    assert "" not in d  # sentinel rows excluded from the dictionary


def _write_shuffled(docs, d, cfg):
    """The shuffle-built writer (write_index) over the same docs."""
    postings = build_postings(docs)
    docstats = build_docstats(docs)
    write_index(postings, docstats, build_dictionary(postings),
                corpus_stats(docstats), d, cfg)


def test_degenerate_corpora(spark, tmp_path):
    """Empty corpus, single doc, and a doc that tokenizes to nothing all
    build readable, correctly-answering indexes — through BOTH writers
    (the last case leaves a shard with a sentinel and no term rows)."""
    schema = "doc_id long, content string"
    for name, write in (("mapside", write_index_mapside),
                        ("shuffled", _write_shuffled)):
        cfg = IndexConfig(bm25=PARAMS, n_shards=2)
        d = str(tmp_path / name / "empty")
        write(spark.createDataFrame([], schema), d, cfg)
        i1 = SegmentIndex(spark, d)
        assert i1.stats.n_docs == 0
        assert i1.search(["anything"], k=5).count() == 0
        assert i1.search_batch([(0, ["x"], False)], k=5).count() == 0

        d2 = str(tmp_path / name / "single")
        write(spark.createDataFrame([(0, "lone doc words")], schema), d2, cfg)
        i2 = SegmentIndex(spark, d2)
        got = i2.search(["lone"], k=5).collect()
        assert [r["doc_id"] for r in got] == [0], name
        assert i2.search(["lone", "doc"], k=5, is_phrase=True).count() == 1

        d3 = str(tmp_path / name / "notoken")
        write(
            spark.createDataFrame([(0, "!!! ??? ...")], schema), d3,
            IndexConfig(bm25=PARAMS, n_shards=1),
        )
        i3 = SegmentIndex(spark, d3)
        assert i3.stats.n_docs == 1 and i3.search(["x"], k=5).count() == 0
        sent = spark.read.parquet(f"{d3}/segments").collect()
        assert [r["term"] for r in sent] == [""], name


def test_batched_encode_byte_identical_to_reference():
    """The vocabulary-batched encoder must produce rows BYTE-IDENTICAL
    to the per-term reference encode (_encode_term_flat / bloom_row) —
    including df >= PACK_SIZE terms (framed path), df < PACK_SIZE
    terms (batched tail path), and both bloom sides."""
    import random

    import numpy as np
    import pyarrow as pa

    from wiser_spark.functions.bloom import bloom_params, vocab_bloom_matrix
    from wiser_spark.operators.mapside import encode_doc_batches
    from wiser_spark.operators.segments import (
        BLOOM_BEGIN_PREFIX,
        BLOOM_PREFIX,
        DOCLEN_TERM,
        _encode_term_flat,
        bloom_row,
    )

    rnd = random.Random(3)
    rare = [f"v{i:04d}" for i in range(400)]
    docs = [
        " ".join(
            "hot" if rnd.random() < 0.5 else rare[rnd.randrange(400)]
            for _ in range(12)
        )
        for _ in range(300)  # 'hot' df ~300 >= 128; rare terms df ~5
    ]
    rb = pa.record_batch(
        {"doc_id": pa.array(range(300), type=pa.int64()),
         "content": pa.array(docs)}
    )
    out = list(encode_doc_batches([rb], 7, "content", True))
    got = {}
    for pdf in out:
        for _, r in pdf.iterrows():
            got[r["term"]] = r

    # rebuild expected rows from first principles with the reference
    # per-term encoder
    import re

    per_term: dict[str, dict[int, list[tuple[int, int, int]]]] = {}
    for did, text in enumerate(docs):
        for pos, m in enumerate(re.finditer(r"[a-z0-9_]+", text.lower())):
            per_term.setdefault(m.group(), {}).setdefault(did, []).append(
                (pos, m.start(), m.end())
            )
    vocab = sorted(per_term)
    bp = bloom_params()
    masks = vocab_bloom_matrix(np.asarray(vocab, dtype=object), bp)
    code = {t: i for i, t in enumerate(vocab)}
    tok_stream = [
        [m.group() for m in re.finditer(r"[a-z0-9_]+", t.lower())]
        for t in docs
    ]
    n_checked = 0
    for t in vocab:
        doc_ids = np.array(sorted(per_term[t]), dtype=np.int64)
        tfs = np.array([len(per_term[t][d]) for d in doc_ids], dtype=np.int64)
        flat_pos = np.array(
            [p for d in doc_ids for (p, _, _) in per_term[t][d]], dtype=np.int64
        )
        flat_off = np.array(
            [v for d in doc_ids for (_, s, e) in per_term[t][d] for v in (s, e)],
            dtype=np.int64,
        )
        want = _encode_term_flat(7, t, doc_ids, tfs, flat_pos, flat_off)
        have = got[t]
        for k, v in want.items():
            hv = have[k]
            assert (list(hv) if isinstance(v, list) else hv) == v, (t, k)
        # blooms: end = next-token masks, begin = previous-token masks
        # (sized filters: reference libbloom defaults, box layout)
        for pref, delta in ((BLOOM_PREFIX, 1), (BLOOM_BEGIN_PREFIX, -1)):
            blooms = []
            for d in doc_ids:
                acc = np.zeros(bp.nbytes, dtype=np.uint8)
                toks = tok_stream[d]
                for (p, _, _) in per_term[t][d]:
                    q = p + delta
                    if 0 <= q < len(toks):
                        acc |= masks[code[toks[q]]]
                blooms.append(acc)
            wantb = bloom_row(7, t, np.stack(blooms), prefix=pref)
            haveb = got[pref + t]
            for k, v in wantb.items():
                hv = haveb[k]
                assert (list(hv) if isinstance(v, list) else hv) == v, (t, pref, k)
        n_checked += 1
    assert n_checked == len(vocab) and DOCLEN_TERM in got
    assert max(len(per_term["hot"]), 0) >= 128  # framed path exercised


QUERIES = [
    (["return"], False),
    (["return", "import"], False),
    (["def", "self", "return"], False),
    (["return", "zz_absent_zz"], False),
    (["return", "import"], True),
    (["import", "return", "def"], True),
]


@pytest.mark.parametrize("terms,is_phrase", QUERIES)
def test_mapside_search_rank_identical(spark, mapside_dir, oracle, terms, is_phrase):
    idx = SegmentIndex(spark, mapside_dir)
    got = idx.search(terms, k=10, is_phrase=is_phrase).collect()
    want = oracle.search(terms, k=10, is_phrase=is_phrase)
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert r["score"] == pytest.approx(s, rel=1e-12)
