"""Query processors: single-term / conjunctive / phrase BM25 top-k.

The relational formulation of the reference's read path
(``query_processing.h:956-979`` dispatch; zig-zag intersection
``:742-763, 810-852``; phrase adjusted-position intersect ``:170-382``;
BM25 + strict-`>` heap ``scoring.h`` / ``:588-603``):

* term lookup      -> ONE ``term IN (...)`` scan of the postings
                      (predicate pushed to the scan; with term-bucketed
                      segments this prunes files), broadcast-joined to
                      the query vocabulary's dictionary slice for df
* k-way conjunction-> groupBy(doc_id) with per-term ``max(when)`` pivot
                      columns — a codegen HashAggregate over slim rows
                      (map-side partials), every pivot column non-null
                      iff every term matched; an absent term has no
                      postings rows, so its column is null everywhere
                      and the filter annihilates the query (AND
                      semantics, reference ``qq_mem_engine.h:345-347``).
                      Single-term queries skip the aggregate outright
                      ((term, doc) is unique)
* phrase predicate -> chained array_intersect of (positions_i - i),
                      match iff non-empty (score stays plain BM25 — a
                      phrase match only gates inclusion,
                      ``query_processing.h:886-895``); positions ride
                      the pivot only for phrase queries
* BM25             -> pure JVM column math on the LOSSY decoded length
* top-k            -> orderBy(score desc, doc_id asc).limit(k), compiled
                      to TakeOrderedAndProject (per-partition heaps + a
                      k-row merge — no global sort), with the same tie
                      bias as the reference heap (earliest docIDs kept)

History: r05 used an N-way per-term broadcast-join chain here; r06 first
measured an aggregation rewrite SLOWER (a collect_list shuffle plus a
dictionary-lookup job per query) and kept the chain, then replaced the
multi-term chain with this pivot shape — one scan, a native codegen
HashAggregate instead of collect_list. A driver-side dictionary probe
variant (df as plan literals) was also measured and REJECTED: the extra
sequential collect job costs more than the pipelined tiny broadcast
(single-term 0.42 -> 0.71 s, absent first-run 0.5 -> 1.4 s). Measured
warm at 50k docs/32 cores for the adopted shape: and2 1.02 -> 0.71,
and3 1.35 -> 0.77, phrase3 1.38 -> 0.91 s; single-term keeps the r05
slice+broadcast plan. Results bit-identical (same contribution
association ((c0+c1)+c2) over the same values).

``bm25_topk_batch`` (the QPS path) answers a WHOLE log in one plan: ONE
``term IN (...)`` scan feeds ONE (query_id, doc_id) aggregation (guide
§2.3 "aggregate before you shuffle" — the r05 per-shape join chains
carried 103 Exchange nodes, this shape has 14), and duplicate query
shapes in the log are computed ONCE and fanned back out to their
query_ids by a broadcast join (real logs repeat hot queries; the bench
log is 7 shapes x 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wiser_spark.config import BM25Params
from wiser_spark.operators.docstats import CorpusStats


def _idf_col(n_docs: int, df_col):
    return F.log(1.0 + (F.lit(float(n_docs)) - df_col + 0.5) / (df_col + 0.5))


def _tfnorm_col(tf_col, lossy_len_col, avgdl: float, p: BM25Params):
    denom_tail = p.k1 * (1.0 - p.b + (p.b * lossy_len_col.cast("double")) / avgdl)
    return (tf_col.cast("double") * (p.k1 + 1.0)) / (tf_col.cast("double") + denom_tail)


def bm25_topk(
    postings: DataFrame,
    docstats: DataFrame,
    dictionary: DataFrame,
    stats: CorpusStats,
    terms: list[str],
    k: int = 10,
    params: BM25Params | None = None,
    is_phrase: bool = False,
) -> DataFrame:
    """Top-k BM25 answer -> DataFrame (rank, doc_id, score).

    ``postings`` needs (term, doc_id, tf[, positions]); ``docstats`` needs
    (doc_id, doclen_lossy); ``dictionary`` needs (term, df).
    """
    params = params or BM25Params()
    spark = postings.sparkSession
    out_schema = "rank int, doc_id long, score double"
    if not terms:
        return spark.createDataFrame([], out_schema)
    n = len(terms)
    uniq = sorted(set(terms))

    if n == 1:
        # single term: (term, doc) is unique, so the filtered slice IS
        # the per-doc table — no aggregate; df rides the 1-row
        # dictionary broadcast (measured faster than a driver probe
        # job: the broadcast pipelines with the scan)
        joined = (
            postings.filter(F.col("term") == terms[0])
            .join(F.broadcast(dictionary.filter(F.col("term") == terms[0])), "term")
            .select("doc_id", F.col("tf").alias("tf_0"), F.col("df").alias("df_0"))
        )
    else:
        # one term IN (...) scan + a codegen max(when) pivot aggregate:
        # every per-term column non-null iff every term matched the doc
        # (absent terms have no postings rows, so their column stays
        # null everywhere and the filter annihilates the query)
        dict_slice = dictionary.filter(F.col("term").isin(uniq)).select(
            "term", "df"
        )
        matched = postings.filter(F.col("term").isin(uniq)).join(
            F.broadcast(dict_slice), "term"
        )
        aggs = []
        for i, term in enumerate(terms):
            aggs.append(
                F.max(F.when(F.col("term") == term, F.col("tf"))).alias(f"tf_{i}")
            )
            aggs.append(
                F.max(F.when(F.col("term") == term, F.col("df"))).alias(f"df_{i}")
            )
            if is_phrase:
                aggs.append(
                    F.max(
                        F.when(F.col("term") == term, F.col("positions"))
                    ).alias(f"pos_{i}")
                )
        joined = matched.groupBy("doc_id").agg(*aggs)
        present = F.col("tf_0").isNotNull()
        for i in range(1, n):
            present = present & F.col(f"tf_{i}").isNotNull()
        joined = joined.filter(present)

        if is_phrase:
            def _shift_by(col_name: str, amount: int):
                # NB: F.transform treats a 2-arg lambda as (element,
                # index) — capture `amount` in a closure, keep it unary.
                return F.transform(F.col(col_name), lambda x: x - F.lit(amount))

            inter = F.col("pos_0")
            for i in range(1, n):
                inter = F.array_intersect(inter, _shift_by(f"pos_{i}", i))
            joined = joined.filter(F.size(inter) > 0)

    scored = joined.join(docstats.select("doc_id", "doclen_lossy"), "doc_id")
    score = None
    for i in range(n):
        contrib = _idf_col(stats.n_docs, F.col(f"df_{i}")) * _tfnorm_col(
            F.col(f"tf_{i}"), F.col("doclen_lossy"), stats.avgdl, params
        )
        score = contrib if score is None else score + contrib

    top = (
        scored.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
    # rank over <= k rows — the single-partition window is k-row tiny
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "score"
    )


def _score_fold(stats: CorpusStats, params: BM25Params):
    """score = fold over the idx-sorted per-doc slices: acc + idf*tfnorm.

    The fold starts at literal 0.0 and adds contributions in ascending
    term index — exactly the (...((c0+c1)+c2)...) association of the
    per-term join columns in ``bm25_topk``, so scores are bit-identical
    (0.0+c0 == c0 exactly; contributions are strictly positive)."""
    return F.aggregate(
        F.col("parts"),
        F.lit(0.0),
        lambda acc, x: acc
        + _idf_col(stats.n_docs, x["df"])
        * _tfnorm_col(x["tf"], F.col("doclen_lossy"), stats.avgdl, params),
    )


def _phrase_gate():
    """size(pos_0 ∩ (pos_1 - 1) ∩ ... ∩ (pos_{n-1} - (n-1))) > 0 over the
    idx-sorted slices — the same left-fold intersect chain ``bm25_topk``
    builds column-by-column (reference ``query_processing.h:170-382``)."""
    shifted = F.transform(
        F.col("parts"), lambda x: F.transform(x["positions"], lambda v: v - x["idx"])
    )
    inter = F.aggregate(
        F.slice(shifted, F.lit(2), F.size(shifted) - 1),
        F.element_at(shifted, 1),
        lambda acc, a: F.array_intersect(acc, a),
    )
    return F.size(inter) > 0


def check_unique_query_ids(queries) -> None:
    """A query log names each query once. A repeated query_id is
    malformed input: its rows would be indistinguishable in the
    (query_id, rank) output, so refuse it instead of answering twice."""
    seen: set[int] = set()
    for qid, _, _ in queries:
        if int(qid) in seen:
            raise ValueError(f"query log repeats query_id {int(qid)}")
        seen.add(int(qid))


def bm25_topk_batch(
    postings: DataFrame,
    docstats: DataFrame,
    dictionary: DataFrame,
    stats: CorpusStats,
    queries: list[tuple[int, list[str], bool]],
    k: int = 10,
    params: BM25Params | None = None,
) -> DataFrame:
    """Answer a WHOLE query log in one job -> (query_id, rank, doc_id,
    score). This is where QPS comes from: per-query Spark jobs pay fixed
    scheduling latency; batching amortizes it into ONE plan for the
    ENTIRE log regardless of query shapes — one ``term IN (...)`` scan
    of the postings, broadcast-joined to the (query_id, idx, term) log
    and the dictionary slice, feeds one (query_id, doc_id) aggregation
    whose matched-term count implements the k-way conjunction (the
    former per-shape N-way self-join chains and their union are gone:
    guide §2.3/§2.4). The per-query top-k is a two-phase salted window
    (skew-safe). Scores fold in term order — bit-identical to
    ``bm25_topk``. Raises ValueError on a log that repeats a
    query_id."""
    check_unique_query_ids(queries)
    params = params or BM25Params()
    spark = postings.sparkSession
    from pyspark.sql import Window

    out_schema = "query_id int, rank int, doc_id long, score double"
    live = [
        (int(qid), [str(t) for t in terms], bool(ph) and len(terms) > 1)
        for qid, terms, ph in queries
        if terms
    ]
    if not live:
        return spark.createDataFrame([], out_schema)

    # Duplicate SHAPES in the log ((terms, is_phrase) equal) are pure
    # repeats of the same deterministic computation: answer each shape
    # once under its first query_id and fan the <= k result rows back
    # out to the other ids with a broadcast of the (query_id, rep_id)
    # map. Real logs repeat hot queries; matched-row volume, the
    # aggregation and both top-k windows all shrink by the repeat
    # factor. No-op (and zero extra plan nodes) when all shapes are
    # distinct.
    rep_of_shape: dict[tuple, int] = {}
    mapping: list[tuple[int, int]] = []
    for qid, terms, ph in live:
        shape = (tuple(terms), ph)
        rep_of_shape.setdefault(shape, qid)
        mapping.append((qid, rep_of_shape[shape]))
    if len(rep_of_shape) < len(live):
        reps = {rid for _, rid in mapping}
        base = bm25_topk_batch(
            postings, docstats, dictionary, stats,
            [q for q in live if q[0] in reps], k=k, params=params,
        ).withColumnRenamed("query_id", "rep_id")
        mdf = spark.createDataFrame(mapping, "query_id int, rep_id int")
        return base.join(F.broadcast(mdf), "rep_id").select(
            "query_id", "rank", "doc_id", "score"
        )

    all_terms = sorted({t for _, terms, _ in live for t in terms})
    any_phrase = any(ph for _, _, ph in live)
    qrows = [
        (qid, i, t, len(terms), ph)
        for qid, terms, ph in live
        for i, t in enumerate(terms)
    ]
    qdf = spark.createDataFrame(
        qrows, "query_id int, idx int, term string, n_terms int, is_phrase boolean"
    )
    # (term, df) for the query vocabulary — the filter pushes below
    # build_dictionary's groupBy; absent terms simply have no row, so
    # their queries' matched-term count can never reach n_terms
    dict_slice = dictionary.filter(F.col("term").isin(all_terms)).select(
        "term", "df"
    )
    part_fields = [F.col("idx"), F.col("df"), F.col("tf")]
    if any_phrase:
        # positions ride the aggregation ONLY for phrase queries' rows —
        # a long phrase in a big log must not make every hot term's
        # positional arrays shuffle
        part_fields.append(
            F.when(F.col("is_phrase"), F.col("positions")).alias("positions")
        )
    matched = (
        postings.filter(F.col("term").isin(all_terms))
        .join(F.broadcast(qdf), "term")
        .join(F.broadcast(dict_slice), "term")
        .select(
            "query_id",
            "doc_id",
            "n_terms",
            "is_phrase",
            F.struct(*part_fields).alias("part"),
        )
    )
    agg = (
        matched.groupBy("query_id", "doc_id")
        .agg(
            F.count("*").alias("nt"),
            F.max("n_terms").alias("n_terms"),
            F.max("is_phrase").alias("is_phrase"),
            F.sort_array(F.collect_list("part")).alias("parts"),
        )
        .filter(F.col("nt") == F.col("n_terms"))
    )
    if any_phrase:
        agg = agg.filter(
            F.when(F.col("is_phrase"), _phrase_gate()).otherwise(F.lit(True))
        )
    scored = agg.join(docstats.select("doc_id", "doclen_lossy"), "doc_id")
    pre_rows = scored.select(
        "query_id", "doc_id", _score_fold(stats, params).alias("score")
    )
    # TWO-PHASE top-k (the skew fix): a window partitioned on query_id
    # alone funnels every match of a high-df query through ONE
    # partition's sort. Phase 1 ranks within (query_id, salt) — a hot
    # query spreads over n_salts partitions, each emitting at most k
    # rows — so the phase-2 query_id window sorts <= k*n_salts rows per
    # query instead of the full match set. Same result: the global
    # top-k is contained in the union of per-salt top-k, and both
    # phases share the (score desc, doc_id asc) tie order.
    n_salts = 16
    w_local = Window.partitionBy("query_id", "salt").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    pre = (
        pre_rows.withColumn(
            "salt", F.pmod(F.col("doc_id"), F.lit(n_salts)).cast("int")
        )
        .withColumn("lrank", F.row_number().over(w_local))
        .filter(F.col("lrank") <= k)
    )
    return (
        pre.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
