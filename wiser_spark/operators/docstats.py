"""Per-document statistics: doc length, lossy Char4 byte, sha256, avgdl.

Everything is a JVM Catalyst expression — including the Char4 encode and
decode (integer math via exact power-of-two division in doubles), so the
score-visible lossy path (reference ``utils.h:301-329``,
``doc_length_store.h:102-212``) runs inside whole-stage codegen with no
Python in the loop.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wiser_spark.functions.tokenize import doclen_col


def char4_encode_col(length: Column) -> Column:
    """Lossy 1-byte encode, as a Catalyst expression (values < 2^31)."""
    bl = (F.floor(F.log2(length)) + 1).cast("long")  # bit_length for length >= 8
    shift = bl - 4
    # length >> shift, exact: doubles divide powers of two exactly
    top = F.floor(length / F.pow(F.lit(2.0), shift.cast("double"))).cast("long")
    encoded = top.bitwiseAND(F.lit(7)).bitwiseOR((shift + 1) * 8)
    return F.when(length < 8, length.cast("long")).otherwise(encoded).cast("int")


def char4_decode_col(code: Column) -> Column:
    """Decode the lossy byte back to its representative length (JVM)."""
    c = code.cast("long")
    bits = c.bitwiseAND(F.lit(7))
    shift = F.floor(c / 8).cast("long") - 1
    normal = (bits.bitwiseOR(F.lit(8)) * F.pow(F.lit(2.0), shift.cast("double"))).cast(
        "long"
    )
    return F.when(shift < 0, bits).otherwise(normal)


def build_docstats(docs: DataFrame, content_col: str = "content") -> DataFrame:
    """(doc_id, doclen, doclen_char, doclen_lossy, sha256).

    ``sha256`` is the per-row content invariant demanded by the input
    hint: every stage that carries content must preserve it.

    r06: when the source has fewer partitions than the session's cores
    the docs are repartitioned up to defaultParallelism first — the
    sha256+tokenize pass is CPU-bound and a 2-file corpus otherwise
    runs it on 2 cores of 32 (guide §2.5). No-op at real scale.
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    length = doclen_col(F.col(content_col))
    out = docs.select(
        "doc_id",
        length.alias("doclen"),
        char4_encode_col(length).alias("doclen_char"),
        F.sha2(F.col(content_col), 256).alias("sha256"),
    )
    return out.withColumn("doclen_lossy", char4_decode_col(F.col("doclen_char")))


@dataclass(frozen=True)
class CorpusStats:
    n_docs: int
    avgdl: float


def corpus_stats(docstats: DataFrame) -> CorpusStats:
    """Global N and avgdl (mean of TRUE lengths, double — the reference
    keeps a running mean of true lengths, ``doc_length_store.h:104-112``;
    sum/n is its distributed equivalent). An empty corpus gets avgdl
    1.0, as the map-side writer and the oracle give it."""
    row = docstats.agg(
        F.count("*").alias("n"), F.avg(F.col("doclen").cast("double")).alias("avgdl")
    ).collect()[0]
    n = int(row["n"])
    return CorpusStats(n_docs=n, avgdl=float(row["avgdl"]) if n else 1.0)
