from wiser_spark.operators.highlight import highlight, highlight_doc


def test_passage_scoring_prefers_denser_passage():
    """Reference scoring shape: same tf, earlier/denser passage wins via
    passage_norm; two hits beat one."""
    content = "alpha beta gamma. alpha alpha delta. nothing here."
    offs = [[0, 5, 18, 23, 24, 29]]  # 'alpha' x3
    out = highlight_doc(content, offs, n_passages=1)
    assert out == "<b>alpha</b> <b>alpha</b> delta."


def test_index_snippets_phrase_filters_offsets(spark, tmp_path):
    """Snippets from the SEGMENT INDEX: phrase mode bolds ONLY the
    occurrences at matched phrase positions (query_processing.h:446-492),
    not every occurrence of each term."""
    from wiser_spark.config import BM25Params, IndexConfig
    from wiser_spark.operators.mapside import write_index_mapside
    from wiser_spark.operators.segments import SegmentIndex

    rows = [
        (0, "stray table here. the table part works. part alone ends."),
        (1, "no relevant words at all in this one document."),
        (2, "table part table part. unrelated tail part table."),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    d = str(tmp_path / "idx")
    write_index_mapside(docs, d, IndexConfig(bm25=BM25Params(1.2, 0.75), n_shards=2))
    idx = SegmentIndex(spark, d)
    got = {
        r["doc_id"]: r["snippet"]
        for r in idx.search(
            ["table", "part"], k=10, is_phrase=True,
            return_snippets=True, docs=docs, n_passages=1,
        ).collect()
    }
    assert set(got) == {0, 2}
    # doc 0: only the phrase passage chosen; 'stray table' and trailing
    # 'part alone' are NOT bolded (offset filtering, not term matching)
    assert got[0] == "the <b>table</b> <b>part</b> works."
    # doc 2: two phrase matches in the first sentence; the reversed
    # 'part table' in the tail must NOT produce bolds
    assert got[2] == "<b>table</b> <b>part</b> <b>table</b> <b>part</b>."
    # doc_freqs contract: df per term, 0 for absent
    assert idx.doc_freqs(["table", "part", "zz"]) == [2, 2, 0]


def test_snippets_fallback_without_offsets_column(spark, tmp_path):
    """An index without offsets (written from positions-only postings,
    empty off_blob) must still serve snippets — via re-tokenization
    fallback, not a decoder crash."""
    from wiser_spark.config import BM25Params, IndexConfig
    from wiser_spark.operators.docstats import build_docstats, corpus_stats
    from wiser_spark.operators.postings import build_dictionary, build_postings
    from wiser_spark.operators.segments import SegmentIndex, write_index

    docs = spark.createDataFrame(
        [(0, "alpha beta. the alpha sentence wins here."),
         (1, "beta alone in this one. nothing else."),
         (2, "alpha beta alpha beta repeated pair text.")],
        "doc_id long, content string",
    )
    d = str(tmp_path / "nooffidx")
    postings = build_postings(docs)  # positions only, NO offsets
    docstats = build_docstats(docs)
    write_index(postings, docstats, build_dictionary(postings),
                corpus_stats(docstats), d,
                IndexConfig(bm25=BM25Params(1.2, 0.75), n_shards=2))
    idx = SegmentIndex(spark, d)
    got = idx.search(["alpha"], k=3, return_snippets=True, docs=docs).collect()
    assert got and all("<b>alpha</b>" in r["snippet"] for r in got)
    # PHRASE query on the offset-less index: the offs-extraction loop
    # must degrade to the re-tokenization fallback, not IndexError on
    # the empty span arrays (phrase mode then bolds all occurrences)
    ph = idx.search(["alpha", "beta"], k=3, is_phrase=True,
                    return_snippets=True, docs=docs).collect()
    assert ph and all(
        "<b>alpha</b>" in r["snippet"] and "<b>beta</b>" in r["snippet"]
        for r in ph
    )


def test_snippets_divergent_case_mapping_falls_back():
    """U+0130 'İ': Arrow's simple lowercase (1 byte 'i') diverges from
    Python's full mapping ('i̇', 3 bytes) — stored byte offsets after the
    divergence shift. The span validation must catch the mismatch and
    fall back to re-tokenization instead of mis-bolding."""
    from wiser_spark.operators.highlight import snippet_from_stored_offsets

    content = "İstanbul wiser match here."
    # offsets as INDEX TIME computed them: arrow-lowered text is
    # "istanbul wiser match here." -> 'wiser' at bytes [9, 14)
    out = snippet_from_stored_offsets(content, [[9, 14]], ["wiser"], 1)
    assert "<b>wiser</b>" in out
    assert "<b>r wise" not in out and "<b>̇" not in out


def test_snippets_non_ascii_content(spark, tmp_path):
    """Stored offsets are BYTE offsets into the lowered UTF-8; non-ASCII
    content must still bold the right tokens (lowered display), never
    mis-slice."""
    from wiser_spark.config import BM25Params, IndexConfig
    from wiser_spark.operators.mapside import write_index_mapside
    from wiser_spark.operators.segments import SegmentIndex

    docs = spark.createDataFrame(
        [(0, "Café über wiser test — wiser again. no match tail."),
         (1, "plain ascii wiser row here.")],
        "doc_id long, content string",
    )
    d = str(tmp_path / "uidx")
    write_index_mapside(docs, d, IndexConfig(bm25=BM25Params(1.2, 0.75), n_shards=1))
    idx = SegmentIndex(spark, d)
    got = {r["doc_id"]: r["snippet"] for r in
           idx.search(["wiser"], k=5, return_snippets=True, docs=docs).collect()}
    assert "<b>wiser</b> test" in got[0] and "<b>wiser</b> again" in got[0]
    assert "<b>wiser</b> row" in got[1]  # ASCII path keeps original text


def test_highlight_topk(spark):
    docs = spark.createDataFrame(
        [
            (0, "import os\nreturn the value. nothing here.\nimport sys again"),
            (1, "no match at all in this doc"),
            (2, "return return return"),
        ],
        "doc_id long, content string",
    )
    topk = spark.createDataFrame([(0,), (2,)], "doc_id long")
    got = {r["doc_id"]: r["snippet"] for r in
           highlight(docs, topk, ["return", "import"], n_passages=2).collect()}
    assert set(got) == {0, 2}  # only result docs get snippets
    assert "<b>import</b> os" in got[0]
    assert "…" in got[0]  # two passages joined
    assert got[2] == "<b>return</b> <b>return</b> <b>return</b>"
    # no partial-word bolding
    assert "<b>returnx" not in got[0]
