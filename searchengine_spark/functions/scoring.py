"""Scoring expressions — the exact reference formulas, encoded ONCE as
Column expressions and reused by both the index build (per-term / per-block
maxima) and the query engines, so parity can't drift.

Reference formulas (query/scores/Score.java):

  TFIDF  = (1 + log10(tf)) * idf                        (Score.java:19-22)
  BM25   = tf / (k1*((1-b) + b*doclen/avgdl) + tf) * idf (Score.java:24-29)
           k1 = 1.2, b = 0.75                            (Score.java:12-13)
  idf    = log10(nDocs / df)                             (DictionaryElem.java:247)

Replicated quirks (rank-identity requires them):

  Q-1  nDocs is stored as true_doc_count + 1: the reference's docCounter
       starts at 1 and is post-incremented per document
       (PartialIndexBuilder.java:31, 83, 103-105). avgdl = totDocLen/nDocs
       uses the same inflated nDocs (CollectionStatistics + Score.java:13).
  Q-4  BM25 lacks the textbook (k1+1) numerator factor — per-term monotone
       in tf, but changes multi-term score sums, so it must be replicated
       verbatim.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def stored_n_docs(true_count: int) -> int:
    """Q-1: the persisted collection size is true count + 1."""
    return true_count + 1


def idf_expr(n_docs: int, df: Column) -> Column:
    """idf = log10(nDocs / df) with the Q-1 inflated nDocs."""
    return F.log10(F.lit(float(n_docs)) / df.cast("double"))


def bm25_partial_expr(
    tf: Column, doc_len: Column, avgdl: float, k1: float = 1.2, b: float = 0.75
) -> Column:
    """The idf-free BM25 factor: tf / (k1*((1-b) + b*dl/avgdl) + tf).

    Multiplied by idf at score time; kept separate so per-block maxima can
    be computed at build before idf is known (and so TFIDF/BM25 share the
    idf join).
    """
    tf_d = tf.cast("double")
    denom = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * doc_len.cast("double") / F.lit(float(avgdl))
    ) + tf_d
    return tf_d / denom


def tfidf_partial_expr(tf: Column) -> Column:
    """The idf-free TFIDF factor: 1 + log10(tf)."""
    return F.lit(1.0) + F.log10(tf.cast("double"))


def score_expr(
    scorer: str,
    tf: Column,
    doc_len: Column,
    idf: Column,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
) -> Column:
    """Full per-posting score for ``scorer`` in {'bm25', 'tfidf'}."""
    if scorer == "bm25":
        return bm25_partial_expr(tf, doc_len, avgdl, k1, b) * idf
    if scorer == "tfidf":
        return tfidf_partial_expr(tf) * idf
    raise ValueError(f"unknown scorer {scorer!r} (expected 'bm25' or 'tfidf')")


def bm25_partial_py(tf, doc_len, avgdl: float, k1: float = 1.2, b: float = 0.75):
    """numpy/pandas mirror of :func:`bm25_partial_expr` for the vectorized
    MaxScore kernel and the pytest brute-force oracle. Double precision,
    same operation order as the Column expression."""
    return tf / (k1 * ((1.0 - b) + b * doc_len / avgdl) + tf)


def tfidf_partial_py(tf, log10):
    """numpy mirror of :func:`tfidf_partial_expr`: 1 + log10(tf).

    ``log10`` maps one float to its log10 with the bits Spark's
    ``F.log10`` gives (``java.lang.StrictMath.log10``); numpy's log10
    differs from it in the last bit for some tf (11, 24, 39, ...). It is
    called once per distinct tf, so a memoized JVM call stays cheap."""
    import numpy as np

    distinct, inverse = np.unique(tf, return_inverse=True)
    logs = np.array([log10(x) for x in distinct.tolist()], dtype=np.float64)
    return 1.0 + logs[inverse]
