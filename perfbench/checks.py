"""Output checks, the percentile rule and the benchmark's self-checks."""

from __future__ import annotations

import hashlib
import io
import statistics

import numpy as np

# Tails the benchmark may report, highest first. A tail is reported only
# when at least MIN_BEYOND samples lie above it.
TAILS = (99, 95, 90)
MIN_BEYOND = 10


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: int) -> float:
    """The q-th percentile, by linear interpolation between ranks."""
    return float(np.percentile(np.asarray(xs, dtype=np.float64), q))


def tail(xs) -> tuple[int, float] | None:
    """(q, value) of the highest q in TAILS with at least MIN_BEYOND
    samples above the value, or None when no tail is that well backed."""
    arr = np.asarray(xs, dtype=np.float64)
    for q in TAILS:
        v = percentile(arr, q)
        if int((arr > v).sum()) >= MIN_BEYOND:
            return q, v
    return None


def score_bits(rows) -> list[tuple[int, int, str]]:
    """(rank, doc_id, exact score) triples; float.hex keeps every bit."""
    return [(int(r), int(d), float(s).hex()) for r, d, s in rows]


def topk_ok(rows, k: int, matches: np.ndarray) -> bool:
    """A top-k result is well formed: min(k, matches) rows, ranks 1..n,
    ordered by score descending then doc_id ascending, every doc a real
    match of the query."""
    n = min(k, int(matches.size))
    if len(rows) != n:
        return False
    ranks = [int(r[0]) for r in rows]
    docs = np.array([int(r[1]) for r in rows], dtype=np.int64)
    if ranks != list(range(1, n + 1)) or np.unique(docs).size != n:
        return False
    if not np.isin(docs, matches).all():
        return False
    for (_, d0, s0), (_, d1, s1) in zip(rows, rows[1:]):
        if s0 < s1 or (s0 == s1 and d0 >= d1):
            return False
    return True


def doctable_ok(doctable, corpus, lens) -> bool:
    """The build's doctable rows equal the corpus rows: dense doc_ids in
    path order, the natural key and commit carried over, doc_len equal
    to the generated token count, sha256 of the content."""
    t = doctable.sort_by("doc_id")
    n = corpus.num_rows
    if t.num_rows != n:
        return False
    if t["doc_id"].to_pylist() != list(range(1, n + 1)):
        return False
    for col in ("repo", "path", "commit", "lang"):
        if t[col].to_pylist() != corpus[col].to_pylist():
            return False
    docno = [f"{r}/{p}" for r, p in zip(corpus["repo"].to_pylist(), corpus["path"].to_pylist())]
    if t["docno"].to_pylist() != docno:
        return False
    if t["doc_len"].to_pylist() != [int(x) for x in lens]:
        return False
    sha = [hashlib.sha256(c.encode()).hexdigest() for c in corpus["content"].to_pylist()]
    return t["sha256"].to_pylist() == sha


def selftest() -> list[str]:
    """Problems found in the benchmark's own machinery (empty when none)."""
    import pyarrow.parquet as pq

    from . import gen

    problems = []

    def parquet_bytes(seed):
        buf = io.BytesIO()
        pq.write_table(gen.corpus_table(seed, 50), buf, compression="snappy")
        return buf.getvalue()

    if parquet_bytes(3) != parquet_bytes(3):
        problems.append("the same seed gave different corpus bytes")
    if parquet_bytes(3) == parquet_bytes(4):
        problems.append("different seeds gave the same corpus bytes")
    if gen.interactive_stream(3, 50, 200) != gen.interactive_stream(3, 50, 200):
        problems.append("the same seed gave a different query stream")
    if len(set(gen.distinct_queries(3, 300))) != 300:
        problems.append("the distinct query set repeats a query")

    if tail(range(50)) is not None:
        problems.append("a tail was reported with fewer than 10 samples beyond it")
    if tail(range(200)) != (95, percentile(range(200), 95)):
        problems.append("200 samples should back p95 but not p99")
    q = tail(range(1000))
    if q is None or q[0] != 99:
        problems.append("1000 samples should back p99")
    return problems
