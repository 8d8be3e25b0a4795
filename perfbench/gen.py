"""Seeded inputs for the benchmark: a Zipf corpus and query streams.

Everything here is numpy (plus pyarrow to write parquet) and owned by
the benchmark, so the workloads stay fixed while the engine changes.
Terms are ``t<rank>``: lowercase alphanumeric, no stopword, unchanged by
the engine's Porter stemmer, so a query term's Zipf rank is known
without reading the index.

Bump GEN_VERSION whenever a change here alters any generated byte:
cached inputs are keyed by it.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np

GEN_VERSION = 1
VOCAB = 50_000
ZIPF_S = 1.07
AVG_TOKENS = 120
N_FILES = 4

# Zipf-rank ranges a mixed-selectivity query draws from: two common
# terms, one mid-frequency and one rare term (the TREC shape).
COMMON = (1, 100)
MID = (500, 5_000)
RARE = (5_000, VOCAB)

# Stream ids keep the corpus and each query stream on independent
# random sequences of the same seed.
_CORPUS, _INTERACTIVE, _BATCH, _SAMPLE, _WARMUP = range(5)


def _rng(seed: int, stream: int, *extra: int) -> np.random.Generator:
    return np.random.default_rng(
        np.random.SeedSequence([GEN_VERSION, stream, seed, *extra])
    )


def term(rank: int) -> str:
    return f"t{rank}"


def _draw(seed: int, n_docs: int) -> tuple[np.ndarray, np.ndarray]:
    """(doc lengths, token ranks): lengths uniform in [AVG/2, 3*AVG/2),
    ranks drawn from Zipf(ZIPF_S) over VOCAB by inverse CDF."""
    rng = _rng(seed, _CORPUS, n_docs)
    lens = rng.integers(AVG_TOKENS // 2, 3 * AVG_TOKENS // 2, size=n_docs)
    w = 1.0 / np.power(np.arange(1, VOCAB + 1, dtype=np.float64), ZIPF_S)
    cdf = np.cumsum(w) / w.sum()
    u = rng.random(int(lens.sum()))
    ranks = np.minimum(np.searchsorted(cdf, u, side="right"), VOCAB - 1) + 1
    return lens, ranks


def doc_lengths(seed: int, n_docs: int) -> np.ndarray:
    """Token count of each generated doc; every token survives the
    engine's tokenizer, so this is the doctable's doc_len."""
    return _draw(seed, n_docs)[0]


def corpus_table(seed: int, n_docs: int):
    """The canonical (repo, path, commit, lang, content) table. Path
    order is doc order, so the engine's doc_id of row i is i + 1."""
    import pyarrow as pa

    lens, ranks = _draw(seed, n_docs)
    words = np.array([term(r) for r in range(VOCAB + 1)], dtype=object)
    toks = words[ranks]
    ends = np.cumsum(lens)
    content = [" ".join(toks[e - n : e]) for n, e in zip(lens, ends)]
    return pa.table(
        {
            "repo": ["perfbench"] * n_docs,
            "path": [f"doc/{i:08d}" for i in range(n_docs)],
            "commit": [hashlib.sha1(c.encode()).hexdigest() for c in content],
            "lang": ["txt"] * n_docs,
            "content": content,
        }
    )


class TermDocs:
    """Which docs contain each term, straight from the generator: the
    oracle for a query's match count, independent of the engine."""

    def __init__(self, seed: int, n_docs: int):
        lens, ranks = _draw(seed, n_docs)
        doc_ids = np.repeat(np.arange(1, n_docs + 1, dtype=np.int64), lens)
        pairs = np.unique(ranks.astype(np.int64) * (n_docs + 1) + doc_ids)
        self._ranks = pairs // (n_docs + 1)
        self._docs = pairs % (n_docs + 1)
        self._start = np.searchsorted(self._ranks, np.arange(VOCAB + 2))

    def docs(self, rank: int) -> np.ndarray:
        return self._docs[self._start[rank] : self._start[rank + 1]]

    def matches(self, query: str) -> np.ndarray:
        """Sorted doc_ids containing at least one of the query's terms."""
        parts = [self.docs(int(t[1:])) for t in query.split()]
        return np.unique(np.concatenate(parts))


def write_corpus(table, out_dir: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    per = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(
            table.slice(i * per, per),
            os.path.join(out_dir, f"part-{i:05d}.parquet"),
            compression="snappy",
        )


def corpus_path(cache_root: str, seed: int, n_docs: int) -> str:
    """Where the corpus for (GEN_VERSION, seed, n_docs) is cached."""
    return os.path.join(cache_root, f"corpus-g{GEN_VERSION}-s{seed}-n{n_docs}")


def corpus_dir(cache_root: str, seed: int, n_docs: int) -> str:
    """Path of the cached corpus, generating it first if absent. Written
    to a temporary sibling and renamed, so an interrupted run never
    leaves a partial input."""
    final = corpus_path(cache_root, seed, n_docs)
    if not os.path.isdir(final):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_corpus(corpus_table(seed, n_docs), tmp)
        os.replace(tmp, final)
    return final


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def mixed_queries(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct queries of one rare, one mid and two common terms.
    Rare terms are drawn without replacement, so no two queries match."""
    rare = rng.choice(np.arange(*RARE), size=n, replace=False)
    mid = rng.integers(*MID, size=n)
    common = rng.integers(*COMMON, size=(n, 2))
    return [
        " ".join(term(int(r)) for r in (rare[i], mid[i], *common[i]))
        for i in range(n)
    ]


def interactive_stream(seed: int, pool: int, length: int) -> list[str]:
    """A closed-loop query log: ``length`` draws from a pool of ``pool``
    distinct queries with Zipf(1) popularity, so popular queries repeat
    as they do in real logs."""
    rng = _rng(seed, _INTERACTIVE, pool, length)
    queries = mixed_queries(rng, pool)
    p = 1.0 / np.arange(1, pool + 1, dtype=np.float64)
    picks = rng.choice(pool, size=length, p=p / p.sum())
    return [queries[i] for i in picks]


def repeated_share(stream: list[str]) -> float:
    """Share of a stream's queries that already appeared earlier in it."""
    return 1.0 - len(set(stream)) / len(stream) if stream else 0.0


def distinct_queries(seed: int, n: int, stream: int = _BATCH) -> list[str]:
    """``n`` queries, none repeated (the batch and sharded streams)."""
    return mixed_queries(_rng(seed, stream, n), n)


def check_sample(seed: int, n: int) -> list[str]:
    """The fixed sample whose results every route must agree on."""
    return distinct_queries(seed, n, _SAMPLE)


def warmup_queries(seed: int, n: int) -> list[str]:
    """Queries that warm the JVM and engine before a window; disjoint
    streams keep them from pre-filling caches for the measured ones."""
    return distinct_queries(seed, n, _WARMUP)
