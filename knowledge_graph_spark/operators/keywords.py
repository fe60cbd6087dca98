"""Per-document salient-term extraction (BM25-weighted top-k).

The reference has no keyword/term-weighting stage; this completes the
training-data-curation side of the engine (document tagging, index-time
keyword selection, quality-filter features) the way the QC operators in
``corpus.py`` do.  Okapi BM25 (Robertson & Walker 1994) with the
integer-exact IDF convention of ``corpus.familiarity_profile``:
idf_bits = floor(log2(n_docs // df)) computed as ``length(bin(x)) - 1``
— pure integer bit-length, no libm, so the DuckDB oracle matches
bit-for-bit.  The saturation factor is a single chain of IEEE double ops
on exact int64 inputs, written with identical parenthesization on both
engines, then micro-floored.

Scale shape: tf is reduced on (doc_id, term) FIRST — the shuffle key
includes doc_id, so the stop-word head never concentrates on one task —
then document frequency is one more groupBy on the already-reduced
(doc, term) table (|vocab|-bounded output).  The two scalar corpus
aggregates (n_docs, total_len) ride a broadcast 1-row frame.  Terms
appearing in more than half the corpus get idf_bits = 0 and are dropped
before the per-document top-k window (partitioned by doc_id — parallel).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textqc import normalized_text, ws_tokens_col
from ..partitioning import widen

BM25_K1 = 1.2
BM25_B = 0.75
SCORE_SCALE = 10**6


def doc_term_freq(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, term, tf) over normalized whitespace tokens — the same
    tokenization as corpus.unigram_counts, reduced per document."""
    return (
        widen(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(ws_tokens_col(normalized_text(F.col(text_col)))).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )


def _idf_bits_col() -> F.Column:
    """floor(log2(n_docs // df)) as pure integer bit-length."""
    return (F.length(F.bin(F.expr("n_docs DIV df"))) - 1).cast("bigint")


def _satur_col() -> F.Column:
    """The BM25 saturation chain — identical op order on the SQL side."""
    return (F.col("tf").cast("double") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(BM25_K1)
        * (
            F.lit(1.0 - BM25_B)
            + F.lit(BM25_B)
            * (F.col("dl") * F.col("n_docs")).cast("double")
            / F.col("total_len").cast("double")
        )
    )


def bm25_top_terms(
    docs: DataFrame,
    k_top: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k_top`` BM25 terms per document →
    (doc_id, term, tf, df, idf_bits, score_micro, rk).

    score_micro = floor(1e6 · idf_bits · tf·(k1+1) /
                        (tf + k1·(1−b + b·dl·n_docs/total_len)))
    with idf_bits = floor(log2(n_docs // df)); ties rank by term asc.
    """
    tf = doc_term_freq(docs, id_col, text_col).persist()
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    g = dl.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_len"),
    )
    idf_bits = _idf_bits_col()
    satur = _satur_col()
    scored = (
        tf.join(dl, "doc_id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(g))
        .withColumn("idf_bits", idf_bits)
        .filter(F.col("idf_bits") > 0)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            "idf_bits",
            F.floor(F.lit(float(SCORE_SCALE)) * F.col("idf_bits").cast("double") * satur)
            .cast("bigint")
            .alias("score_micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("term")
    )
    out = (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k_top)
    )
    return out
