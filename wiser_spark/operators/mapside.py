"""Map-side (zero-shuffle) index build — the scale path.

The groupBy-based build (segments.build_segments) shuffles every posting
row to its (shard) reducer: ~10^9 rows per TB. But a document's postings
are a pure function of the document, and intersection only needs all
terms of a doc to land in the SAME shard — so let the shard BE the input
partition: each task tokenizes its documents, groups postings per term
locally, and emits fully-encoded segment rows. NO posting ever crosses
the wire (the Lucene/Elasticsearch document-partitioned segment model).

Doc lengths ride along as one SENTINEL row per shard (term = "" — the
tokenizer can never emit an empty term): docIDs in docids_blob, lossy
Char4 bytes in tfs_blob, true lengths varint'd in pos_blob (for global
avgdl). Queries then need ONLY the segment table; global df comes from
summing df_shard per term (a vocabulary-sized aggregate, the one tiny
shuffle of the whole build).

Equivalent to the reference's AddDocument loop (qq_mem_engine.h:298-305)
run per-partition instead of per-process; differential tests pin the
results to the shuffle-based path and the oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wiser_spark.config import PACK_SIZE, IndexConfig
from wiser_spark.operators.segments import (
    BLOOM_BEGIN_PREFIX,
    BLOOM_PREFIX,
    DOCLEN_TERM,
    SEGMENT_SCHEMA,
    _encode_term_flat,
    bloom_row,
    decode_doclen_sentinel,
    doclen_sentinel_row,
    write_meta,
)


def build_segments_mapside(
    docs: DataFrame,
    n_shards: int | None = None,
    content_col: str = "content",
    reuse_partitions: bool = False,
    with_blooms: bool = True,
    bloom_cfg=None,
) -> DataFrame:
    """docs (doc_id, content) -> segment rows + one sentinel per shard.

    ``bloom_cfg`` (a BloomParams) pins the bloom sizing — a sink appending generations to an EXISTING index must
    pass the index's recorded params or the new generations' masks
    would not match the probe side (None = current defaults, right for
    fresh builds).

    With ``reuse_partitions=True`` the INPUT partitioning is the
    sharding (shard correctness only needs each doc's postings in one
    shard — any doc-disjoint partitioning qualifies; contiguous ranges
    are not required), so the whole build has ZERO shuffles: parquet
    splits -> tokenize+encode -> write. Otherwise an explicit
    repartitionByRange(n_shards) pays one shuffle for contiguous ranges.
    """
    sel = docs.select("doc_id", content_col)
    if reuse_partitions:
        parted = sel
    else:
        if not n_shards:
            raise ValueError("n_shards required when not reusing partitions")
        parted = sel.repartitionByRange(n_shards, "doc_id")
    # JVM in-partition sort (no shuffle): the token stream then arrives
    # doc-ascending, so the encoder needs ONE stable key sort (term code)
    # instead of a 3-key lexsort — fewer memory passes per partition
    parted = parted.sortWithinPartitions("doc_id")

    def encode_partition(arrow_batches) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        yield from encode_doc_batches(
            arrow_batches, TaskContext.get().partitionId(),
            content_col, with_blooms, bloom_cfg,
        )

    return parted.mapInArrow(
        lambda batches: _as_arrow(encode_partition(batches)), SEGMENT_SCHEMA
    )


def encode_doc_batches(
    arrow_batches, shard_id: int, content_col: str, with_blooms: bool,
    bloom_cfg=None,
) -> Iterator[pd.DataFrame]:
    """One shard's Arrow batches -> segment-row DataFrames. Module-level
    (not a closure) so it can be profiled/driven without a Spark task."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from wiser_spark.config import TOKEN_SPLIT_REGEX

    # the ENTIRE tokenize+flatten+dictionary-encode pipeline runs in
    # Arrow C++ — no Python string objects exist in the hot path
    # (the earlier pandas/.findall variant was memory-bandwidth
    # bound on PyObject churn and capped multi-core scaling)
    from wiser_spark.functions.tokenize import token_spans_batch

    code_chunks, doc_chunks, pos_chunks = [], [], []
    start_chunks, end_chunks = [], []
    id_chunks, len_chunks = [], []
    vocab_chunks = []
    for rb in arrow_batches:
        ids_arr = rb.column(rb.schema.get_field_index("doc_id"))
        content = rb.column(rb.schema.get_field_index(content_col))
        ids = ids_arr.to_numpy(zero_copy_only=False).astype(np.int64)
        low = pc.utf8_lower(content)
        toks = pc.split_pattern_regex(low, pattern=TOKEN_SPLIT_REGEX)
        counts_raw = pc.list_value_length(toks).to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        flat = pc.list_flatten(toks)
        keep = pc.not_equal(flat, "")
        keep_np = keep.to_numpy(zero_copy_only=False)
        flat_kept = pc.filter(flat, keep)
        # per-doc token counts after dropping the empty split chunks
        ends_raw = np.cumsum(counts_raw)
        kept_cum = np.concatenate(([0], np.cumsum(keep_np)))
        counts = kept_cum[ends_raw] - kept_cum[ends_raw - counts_raw]
        total = int(counts.sum())
        # dictionary-encode kept tokens (C++ hash); codes local to batch
        denc = pc.dictionary_encode(flat_kept)
        if isinstance(denc, pa.ChunkedArray):
            denc = denc.combine_chunks()
        codes_local = denc.indices.to_numpy(zero_copy_only=False).astype(
            np.int64
        )
        vocab_chunks.append(denc.dictionary)
        code_chunks.append(codes_local)
        doc_chunks.append(np.repeat(ids, counts))
        ends = np.cumsum(counts)
        pos_chunks.append(
            np.arange(total, dtype=np.int64) - np.repeat(ends - counts, counts)
        )
        # byte spans of the SAME token stream (offsets column):
        # maximal [a-z0-9_] runs == non-empty split pieces, asserted
        sp_counts, sp_starts, sp_ends = token_spans_batch(low)
        assert sp_starts.size == total and np.array_equal(
            sp_counts, counts
        ), "token spans misaligned with split tokens"
        start_chunks.append(sp_starts)
        end_chunks.append(sp_ends)
        id_chunks.append(ids)
        # reference BodyLength(): non-empty ' '-split chunks (B3)
        len_chunks.append(
            pc.count_substring_regex(content, "[^ ]+")
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
    if not id_chunks or sum(len(c) for c in id_chunks) == 0:
        yield pd.DataFrame(
            columns=[f.split()[0] for f in SEGMENT_SCHEMA.split(", ")]
        )
        return
    # unify per-batch dictionaries into one partition vocabulary
    offsets = np.zeros(len(vocab_chunks), dtype=np.int64)
    sizes = np.array([len(v) for v in vocab_chunks], dtype=np.int64)
    offsets[1:] = np.cumsum(sizes)[:-1]
    all_vocab = pa.concat_arrays(
        [v.cast(pa.string()) for v in vocab_chunks]
    )
    # global codes: re-encode the concatenated vocab, map local->global
    genc = pc.dictionary_encode(all_vocab)
    if isinstance(genc, pa.ChunkedArray):
        genc = genc.combine_chunks()
    local_to_global = genc.indices.to_numpy(zero_copy_only=False).astype(
        np.int64
    )
    global_vocab = genc.dictionary
    # sort the vocabulary so segment rows come out in term order —
    # in Arrow C++ (UTF-8 byte order == code-point order, identical
    # to a Python-string sort); the ONE Python-string materialization
    # left is `uniques` itself, which every segment row's term field
    # and the per-unique-term md5 bloom table need anyway
    sort_perm = (
        pc.sort_indices(global_vocab)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    rank_of = np.empty(len(sort_perm), dtype=np.int64)
    rank_of[sort_perm] = np.arange(len(sort_perm))
    uniques = np.asarray(
        global_vocab.take(pa.array(sort_perm)).to_pylist(), dtype=object
    )
    codes = np.concatenate(
        [
            rank_of[local_to_global[offsets[i] + code_chunks[i]]]
            for i in range(len(code_chunks))
        ]
    )
    docs_rep = np.concatenate(doc_chunks)
    pos_all = np.concatenate(pos_chunks)
    starts_all = np.concatenate(start_chunks)
    ends_all = np.concatenate(end_chunks)
    if codes.size == 0:  # docs exist but none tokenized to anything
        yield pd.DataFrame(
            [doclen_sentinel_row(shard_id, np.concatenate(id_chunks),
                                 np.concatenate(len_chunks))]
        )
        return
    # input stream is doc-ascending with in-doc position order, so a
    # single STABLE sort on the term code yields (term, doc, pos)
    # next-token code per occurrence (stream is doc-contiguous):
    # feeds the per-posting end blooms (phrase pruning, ref B15/Q8)
    nxt = np.full(codes.size, -1, dtype=np.int64)
    prv = np.full(codes.size, -1, dtype=np.int64)
    same_doc = docs_rep[1:] == docs_rep[:-1]
    nxt[:-1][same_doc] = codes[1:][same_doc]
    prv[1:][same_doc] = codes[:-1][same_doc]
    # input stream is doc-ascending with in-doc position order, so a
    # single STABLE sort on the term code yields (term, doc, pos)
    order = np.argsort(codes, kind="stable")
    c, d, p = codes[order], docs_rep[order], pos_all[order]
    st, en = starts_all[order], ends_all[order]
    # posting boundaries: change of (term, doc)
    new_posting = np.empty(len(c), dtype=bool)
    new_posting[0] = True
    np.logical_or(np.diff(c) != 0, np.diff(d) != 0, out=new_posting[1:])
    posting_of = np.cumsum(new_posting) - 1
    tfs_all = np.bincount(posting_of).astype(np.int64)
    posting_doc = d[new_posting]
    posting_code = c[new_posting]
    # term boundaries over postings
    term_breaks = np.flatnonzero(
        np.diff(posting_code, prepend=posting_code[0] - 1) != 0
    )
    term_bounds = np.append(term_breaks, len(posting_code))
    pos_starts = np.cumsum(tfs_all) - tfs_all
    # per-posting end blooms: OR the next-token masks per posting.
    # SIZED filters (reference libbloom defaults entries=5 ratio=0.001
    # -> 71 bits / 9 bytes / k=10 per posting): one md5 per UNIQUE term
    # builds the (V, nbytes) mask table; per-occurrence rows are then a
    # fancy-index + one reduceat — no per-occurrence hashing
    if with_blooms:
        from wiser_spark.functions.bloom import (
            bloom_params,
            fold_occurrence_bloom_rows,
            vocab_bloom_matrix,
        )

        bp = bloom_cfg or bloom_params()
        vocab_masks = vocab_bloom_matrix(uniques, bp)
        # row V is an all-zero mask: occurrences with no neighbor
        # (nxt/prv == -1) gather it — one fancy index, no multiply pass
        vm_ext = np.vstack(
            [vocab_masks, np.zeros((1, bp.nbytes), dtype=np.uint8)]
        )
        zero_row = len(uniques)
        p_starts_idx = np.flatnonzero(new_posting)
        nxt_sorted = nxt[order]
        posting_blooms = fold_occurrence_bloom_rows(
            vm_ext[np.where(nxt_sorted >= 0, nxt_sorted, zero_row)],
            p_starts_idx,
        )
        # begin blooms: same fold over the PRECEDING-token masks
        # (reference builds both sides, bloom_filter.h:595-646)
        prv_sorted = prv[order]
        posting_blooms_begin = fold_occurrence_bloom_rows(
            vm_ext[np.where(prv_sorted >= 0, prv_sorted, zero_row)],
            p_starts_idx,
        )
    # ---- term encode, VOCABULARY-BATCHED. A real code corpus has
    # millions of distinct terms per shard and almost all of them have
    # df < PACK_SIZE (pure varint-tail columns, no frames). Encoding
    # those one Python call at a time was ~200 us/term — the dominant
    # cost at realistic vocabularies — so every tail column is encoded
    # in ONE flat varint pass over all terms (delta resets at run
    # starts) and sliced per term by byte offsets; bloom boxes likewise
    # come pre-serialized from ONE batch pass (bloom_boxes_encode_batch).
    # Only the few df >= PACK_SIZE terms (stopword-like) take the
    # framed/multi-box per-term path. Output rows are BYTE-IDENTICAL to
    # _encode_term_flat /
    # bloom_row and keep the same in-shard order (term, end-bloom,
    # begin-bloom ascending by term; sentinel last) — pinned by
    # test_mapside byte-identity.
    from wiser_spark.functions.packing import varint_tail_box
    from wiser_spark.functions.varint import varint_encode_with_lengths
    from wiser_spark.operators.segments import _delta_varint_stream

    term_lo, term_hi = term_bounds[:-1], term_bounds[1:]
    n_terms = len(term_lo)
    occ_cum = np.concatenate(([0], np.cumsum(tfs_all)))
    occ_lo, occ_hi = occ_cum[term_lo], occ_cum[term_hi]

    def _flat_stream(vals, run_starts):
        # same encode _encode_term_flat uses (single source of truth for
        # the byte-identity guarantee); bounds gain the final end offset
        blob, val_offs = _delta_varint_stream(vals, run_starts)
        return blob, np.concatenate((val_offs, [len(blob)]))

    docid_blob_all, docid_b = _flat_stream(posting_doc, term_lo)
    tf_blob_all, tf_lens = varint_encode_with_lengths(tfs_all)
    tf_b = np.concatenate(([0], np.cumsum(tf_lens)))
    pos_blob_all, pos_b = _flat_stream(p, pos_starts)
    off_flat = np.empty(2 * p.size, dtype=np.int64)
    off_flat[0::2] = st
    off_flat[1::2] = en
    off_blob_all, off_b = _flat_stream(off_flat, 2 * pos_starts)
    if with_blooms:
        # bloom boxes, vocabulary-batched: every df<=128 term's box is a
        # slice of ONE flat buffer (single packbits / single payload
        # scatter across the whole shard); multi-box terms take the
        # per-term path below
        from wiser_spark.functions.bloom import bloom_boxes_encode_batch

        one_box = np.minimum(term_hi, term_lo + PACK_SIZE)
        be_boxes = bloom_boxes_encode_batch(posting_blooms, term_lo, one_box)
        bb_boxes = bloom_boxes_encode_batch(
            posting_blooms_begin, term_lo, one_box
        )

    R = 3 if with_blooms else 1
    n_rows = n_terms * R
    obj_cols = (
        "term", "docids_blob", "tfs_blob", "pos_blob", "off_blob",
        "skip_predocs", "skip_docid_offs", "skip_tf_offs",
        "skip_pos_offs", "skip_off_offs", "skip_max_tfs",
    )
    # per-term max tf in ONE pass (block-max bound source; single-bag
    # terms need just the term-wide max, framed terms re-derive per bag)
    term_max_tf = (
        np.maximum.reduceat(tfs_all, term_lo).tolist() if n_terms else []
    )
    col = {k: np.empty(n_rows, dtype=object) for k in obj_cols}
    df_col = np.empty(n_rows, dtype=np.int64)
    # plain-python views: scalar indexing of numpy arrays is ~10x slower
    tl, th = term_lo.tolist(), term_hi.tolist()
    ol, oh = occ_lo.tolist(), occ_hi.tolist()
    db, tb, pb, ob = docid_b.tolist(), tf_b.tolist(), pos_b.tolist(), off_b.tolist()
    code_l = posting_code[term_lo].tolist()
    names = [uniques[c] for c in code_l]
    ZERO, EMPTY = [0], []
    if with_blooms:
        # bloom rows assembled WHOLESALE: all their columns except the
        # box blob (a flat-buffer slice per term) are constants, so the
        # per-term loop below touches only the base row — keeping the
        # loop's work equal to the no-bloom build
        for j, (pref, boxes) in enumerate(
            ((BLOOM_PREFIX, be_boxes), (BLOOM_BEGIN_PREFIX, bb_boxes)),
            start=1,
        ):
            rows = slice(j, n_rows, R)
            col["term"][rows] = [pref + t for t in names]
            df_col[rows] = term_hi - term_lo
            col["tfs_blob"][rows] = boxes
            col["skip_tf_offs"][rows].fill(ZERO)
            for k in ("docids_blob", "pos_blob", "off_blob"):
                col[k][rows].fill(b"")
            for k in ("skip_predocs", "skip_docid_offs",
                      "skip_pos_offs", "skip_off_offs", "skip_max_tfs"):
                col[k][rows].fill(EMPTY)
    for t in range(n_terms):
        lo, hi = tl[t], th[t]
        term = names[t]
        base = t * R
        df = hi - lo
        df_col[base] = df
        col["term"][base] = term
        if df < PACK_SIZE:  # pure-tail fast path
            col["docids_blob"][base] = varint_tail_box(
                docid_blob_all[db[lo]:db[hi]]
            )
            col["tfs_blob"][base] = varint_tail_box(tf_blob_all[tb[lo]:tb[hi]])
            col["pos_blob"][base] = pos_blob_all[pb[ol[t]]:pb[oh[t]]]
            col["off_blob"][base] = off_blob_all[ob[2 * ol[t]]:ob[2 * oh[t]]]
            for k in ("skip_predocs", "skip_docid_offs", "skip_tf_offs",
                      "skip_pos_offs", "skip_off_offs"):
                col[k][base] = ZERO
            col["skip_max_tfs"][base] = [term_max_tf[t]]
        else:  # framed path (few stopword-scale terms)
            sl = slice(ol[t], oh[t])
            flat = p[sl]
            flat_off = off_flat[2 * ol[t]:2 * oh[t]]
            r = _encode_term_flat(
                shard_id, term, posting_doc[lo:hi], tfs_all[lo:hi], flat,
                flat_off,
            )
            for k in ("docids_blob", "tfs_blob", "pos_blob", "off_blob",
                      "skip_predocs", "skip_docid_offs", "skip_tf_offs",
                      "skip_pos_offs", "skip_off_offs", "skip_max_tfs"):
                col[k][base] = r[k]
            if with_blooms and df > PACK_SIZE:
                # multi-box term: overwrite the wholesale single-box row
                for j, blooms in ((1, posting_blooms),
                                  (2, posting_blooms_begin)):
                    pref = BLOOM_PREFIX if j == 1 else BLOOM_BEGIN_PREFIX
                    br = bloom_row(shard_id, term, blooms[lo:hi], prefix=pref)
                    col["tfs_blob"][base + j] = br["tfs_blob"]
                    col["skip_tf_offs"][base + j] = br["skip_tf_offs"]
    main = pd.DataFrame(
        {"shard_id": np.full(n_rows, shard_id, dtype=np.int64),
         "df_shard": df_col, **col}
    )
    sentinel = pd.DataFrame(
        [doclen_sentinel_row(
            shard_id, np.concatenate(id_chunks), np.concatenate(len_chunks)
        )]
    )
    yield pd.concat([main, sentinel], ignore_index=True)


def _arrow_segment_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("shard_id", pa.int32()),
            ("term", pa.string()),
            ("df_shard", pa.int32()),
            ("docids_blob", pa.binary()),
            ("tfs_blob", pa.binary()),
            ("pos_blob", pa.binary()),
            ("off_blob", pa.binary()),
            ("skip_predocs", pa.list_(pa.int64())),
            ("skip_docid_offs", pa.list_(pa.int64())),
            ("skip_tf_offs", pa.list_(pa.int64())),
            ("skip_pos_offs", pa.list_(pa.int64())),
            ("skip_off_offs", pa.list_(pa.int64())),
            ("skip_max_tfs", pa.list_(pa.int64())),
        ]
    )


def _as_arrow(pdf_iter):
    import pyarrow as pa

    schema = _arrow_segment_schema()  # built worker-side, no session needed
    for pdf in pdf_iter:
        yield pa.RecordBatch.from_pandas(pdf, schema=schema, preserve_index=False)


def write_index_mapside(
    docs: DataFrame,
    index_dir: str,
    config: IndexConfig | None = None,
    content_col: str = "content",
    reuse_partitions: bool = False,
    with_blooms: bool = True,
) -> None:
    """Full index build with ONE pass over the documents:
    segments (map-side) -> dictionary (vocab-sized agg over segment
    rows) -> global stats (decoded from the sentinel rows)."""
    config = config or IndexConfig()
    spark = docs.sparkSession
    segs = build_segments_mapside(
        docs, config.n_shards, content_col,
        reuse_partitions=reuse_partitions, with_blooms=with_blooms,
    )
    segs.write.mode("overwrite").partitionBy("shard_id").parquet(
        f"{index_dir}/segments"
    )
    # explicit schema: a DEGENERATE (empty) corpus writes no part files,
    # which would fail schema inference — the index stays readable
    written = spark.read.schema(SEGMENT_SCHEMA).parquet(f"{index_dir}/segments")
    # dictionary = (term, df, bytes_docid_tf, prefetch_pages): the
    # bytes/pages pair is the reference's .tip prefetch-zone field
    # (flash_engine_dumper.h:44-49) — queries pick full vs skip-based
    # partial decode with it (segments.partial_decode_terms)
    from wiser_spark.operators.segments import dictionary_from_segments

    # r06: the post-write bookkeeping jobs (dictionary agg+write,
    # sentinel stats scan, max-shard probe) are independent scans of
    # the just-written parquet — submit them from driver threads so
    # they overlap (guide §2.6), and fold the vocabulary count into
    # the dictionary write via an Observation instead of a follow-up
    # count() job.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation

    obs = Observation()
    dict_df = dictionary_from_segments(written).observe(
        obs, F.count(F.lit(1)).alias("n_terms")
    )
    # global N and avgdl from the sentinels (no second scan of the docs)
    sent = written.filter(F.col("term") == DOCLEN_TERM)

    def stats_of(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ns, sums = [], []
            for _, row in pdf.iterrows():
                _, _, lens = decode_doclen_sentinel(row)
                ns.append(len(lens))
                sums.append(int(lens.sum()))
            yield pd.DataFrame({"n": ns, "s": sums})

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_dict = pool.submit(
            lambda: dict_df.write.mode("overwrite").parquet(
                f"{index_dir}/dictionary"
            )
        )
        f_sent = pool.submit(
            lambda: sent.mapInPandas(stats_of, "n long, s long")
            .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
            .collect()[0]
        )
        f_shards = (
            pool.submit(
                lambda: int(
                    written.agg(F.max("shard_id")).collect()[0][0] or 0
                )
                + 1
            )
            if reuse_partitions
            else None
        )
        f_dict.result()
        agg = f_sent.result()
        n_shards_actual = (
            f_shards.result() if f_shards is not None else config.n_shards
        )
    n_docs = int(agg["n"] or 0)
    avgdl = float(agg["s"]) / n_docs if n_docs else 1.0
    meta = {
        "n_docs": n_docs, "avgdl": avgdl,
        # vocabulary size in the metadata lets readers size the driver
        # dictionary cache with zero Spark jobs
        "n_terms": int(obs.get["n_terms"]),
        "n_shards": n_shards_actual,
        "k1": config.bm25.k1, "b": config.bm25.b,
        "format": "wiser-spark-segment-v2-mapside",
    }
    if with_blooms:
        from wiser_spark.functions.bloom import bloom_params

        meta["bloom"] = bloom_params()._asdict()
    write_meta(index_dir, meta)
