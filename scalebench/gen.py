"""Seeded input generators and exact NumPy ground truth.

Everything here is a pure function of its seed: the same seed gives
byte-identical inputs. The engine under test only ever sees what these
functions return.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np


# ---------------------------------------------------------------------------
# vectors
# ---------------------------------------------------------------------------

def clustered_low_rank(rng: np.random.Generator, n: int, dim: int, *,
                       latent: int, centers: np.ndarray,
                       proj: np.ndarray) -> np.ndarray:
    """``n`` vectors of low intrinsic dimension: a latent point near one of
    ``centers`` (``latent`` dims), lifted by the fixed random projection
    ``proj`` and perturbed by small isotropic noise. Isotropic Gaussian
    blobs are avoided on purpose: product quantisation has no structure
    to exploit on them and its recall collapses."""
    lab = rng.integers(0, len(centers), n)
    z = centers[lab] + 0.6 * rng.standard_normal((n, latent))
    x = z @ proj + 0.05 * rng.standard_normal((n, dim))
    return x.astype(np.float32)


@dataclass
class VectorSet:
    base: np.ndarray        # (n, dim) float32, ids 0..n-1
    queries: np.ndarray     # (n_queries, dim) float32, held out of base
    inserts: np.ndarray     # (n_inserts, dim) float32, ids n..n+n_inserts-1


def vector_set(seed: int, n: int, n_queries: int, n_inserts: int = 0, *,
               dim: int = 64, latent: int = 8,
               n_centers: int = 48) -> VectorSet:
    """Base rows, held-out queries and rows to insert later, all drawn
    from one distribution; queries are never members of the base.

    The distribution (latent centers and projection) is fixed; the seed
    draws the points. Balanced k-means runs a data-dependent number of
    rebalance passes, so a per-seed geometry would make build time vary
    with the seed rather than with the code."""
    world = np.random.default_rng([dim, latent, n_centers])
    centers = 2.0 * world.standard_normal((n_centers, latent))
    proj = world.standard_normal((latent, dim)) / np.sqrt(latent)
    rng = np.random.default_rng([seed, 1])
    draw = clustered_low_rank(rng, n + n_queries + n_inserts, dim,
                              latent=latent, centers=centers, proj=proj)
    return VectorSet(base=draw[:n], queries=draw[n:n + n_queries],
                     inserts=draw[n + n_queries:])


def exact_topk(base: np.ndarray, queries: np.ndarray, k: int, *,
               self_rows: np.ndarray | None = None,
               chunk: int = 256) -> np.ndarray:
    """Exact squared-L2 top-``k`` row indices of ``base`` per query,
    nearest first (ties by lower index), ``chunk`` queries at a time so
    the distance block stays small (a full 1k x 200k block is 1.6 GB).
    ``self_rows[i]``, when given, is a base row excluded from query i's
    answer (the query's own row in a kNN graph)."""
    B = base.astype(np.float64)
    bn = (B * B).sum(1)
    out = np.empty((len(queries), k), dtype=np.int64)
    for s in range(0, len(queries), chunk):
        Q = queries[s:s + chunk].astype(np.float64)
        D = bn[None, :] - 2.0 * (Q @ B.T)
        if self_rows is not None:
            D[np.arange(len(Q)), self_rows[s:s + chunk]] = np.inf
        part = np.argpartition(D, k - 1, axis=1)[:, :k]
        order = np.lexsort((part, np.take_along_axis(D, part, axis=1)),
                           axis=1)
        out[s:s + chunk] = np.take_along_axis(part, order, axis=1)
    return out


def recall(found: dict, truth, qids) -> float:
    """Mean share of each query's exact answer ids present in ``found``
    (qid -> iterable of ids). ``truth[i]`` holds the exact ids of query
    ``qids[i]``; queries with an empty exact answer are skipped."""
    hits = [len(set(found.get(int(q), ())) & set(map(int, t))) / len(t)
            for q, t in zip(qids, truth) if len(t)]
    return float(np.mean(hits)) if hits else 1.0


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------

_SYL = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "da", "pe", "zu",
        "ri", "an", "el", "om", "ul", "is", "ba", "co", "fe"]


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(2, 4))
        words.add("".join(rng.choice(_SYL, n)))
    return sorted(words)


@dataclass
class Corpus:
    doc_id: np.ndarray          # int64
    source: list[str]
    text: list[str]
    n_exact_dups: int           # verbatim copies of clean docs
    n_near_dups: int            # clean docs with 1-2 tokens replaced
    n_low_quality: int          # too short or punctuation-heavy
    n_repetitive: int           # one line repeated many times
    queries: list[str]          # bm25 query strings


def corpus(seed: int, n_docs: int, n_queries: int, *,
           vocab_size: int = 3000, n_sources: int = 4) -> Corpus:
    """A multi-source corpus with planted defects.

    Clean docs are lines of Zipf-distributed tokens from one shared
    vocabulary, each source ranking the words in its own order, with a
    source-specific boilerplate footer on a third of them. Planted on top, in fixed shares: verbatim copies
    of clean docs (exact dups), clean docs with one or two tokens
    replaced (near dups), docs too short or punctuation-heavy for the
    quality stage, and docs that repeat one line (the repetition
    stage)."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, vocab_size)
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    zipf = 1.0 / ranks ** 1.05
    zipf /= zipf.sum()
    sources = [f"src{i}" for i in range(n_sources)]
    perms = [rng.permutation(vocab_size) for _ in sources]
    footers = [" ".join(rng.choice(vocab, 8)) for _ in sources]

    def clean(si: int) -> str:
        n_tok = int(rng.integers(40, 110))
        toks = [vocab[perms[si][j]]
                for j in rng.choice(vocab_size, n_tok, p=zipf)]
        lines, i = [], 0
        while i < len(toks):
            w = int(rng.integers(8, 16))
            lines.append(" ".join(toks[i:i + w]) + ".")
            i += w
        if rng.random() < 1 / 3:
            lines.append(footers[si] + ".")
        return "\n".join(lines)

    n_exact = n_docs // 20
    n_near = n_docs // 20
    n_lowq = n_docs // 25
    n_rep = n_docs // 25
    n_clean = n_docs - n_exact - n_near - n_lowq - n_rep
    src_of = rng.integers(0, n_sources, n_docs)
    texts = [clean(int(src_of[i])) for i in range(n_clean)]
    # exact dups: verbatim copies of distinct clean docs
    for j in rng.choice(n_clean, n_exact, replace=False):
        texts.append(texts[j])
        src_of[len(texts) - 1] = src_of[j]
    # near dups: one or two tokens replaced in distinct clean docs
    for j in rng.choice(n_clean, n_near, replace=False):
        toks = texts[j].split(" ")
        for _ in range(int(rng.integers(1, 3))):
            pos = int(rng.integers(1, len(toks) - 1))
            toks[pos] = "x" + vocab[int(rng.integers(0, vocab_size))]
        texts.append(" ".join(toks))
        src_of[len(texts) - 1] = src_of[j]
    for i in range(n_lowq):
        if i % 2:
            texts.append(" ".join(rng.choice(vocab, 5)) + ".")
        else:
            texts.append(" ".join(w + "!!" for w in rng.choice(vocab, 30)))
    for _ in range(n_rep):
        line = " ".join(rng.choice(vocab, 10)) + "."
        texts.append("\n".join([line] * int(rng.integers(6, 10))))
    order = rng.permutation(len(texts))
    # three mid-frequency terms of one source per query (Zipf ranks
    # 100-600), so every seed's queries touch posting lists of like size
    queries = []
    for _ in range(n_queries):
        si = int(rng.integers(0, n_sources))
        ranks_q = rng.choice(np.arange(100, 600), 3, replace=False)
        queries.append(" ".join(vocab[perms[si][r]] for r in ranks_q))
    return Corpus(doc_id=np.arange(len(texts), dtype=np.int64),
                  source=[sources[int(src_of[i])] for i in order],
                  text=[texts[i] for i in order],
                  n_exact_dups=n_exact, n_near_dups=n_near,
                  n_low_quality=n_lowq, n_repetitive=n_rep,
                  queries=queries)


_WS = re.compile(r"\s+")


def _tokens(text: str) -> list[str]:
    return [t for t in _WS.split(text.lower()) if t]


def bm25_topk(docs: dict, queries: list[str], k: int = 10, *,
              k1: float = 1.2, b: float = 0.75) -> list[list[int]]:
    """Exact BM25 top-``k`` doc ids per query over ``docs`` (doc_id ->
    text) with the rational IDF ``(N - df + 0.5) / (df + 0.5)``,
    whitespace tokens of the lower-cased text, distinct query terms;
    best first, ties by lower doc id."""
    tf: dict[int, dict[str, int]] = {}
    dfreq: dict[str, int] = {}
    for d, text in docs.items():
        counts: dict[str, int] = {}
        for t in _tokens(text):
            counts[t] = counts.get(t, 0) + 1
        tf[d] = counts
        for t in counts:
            dfreq[t] = dfreq.get(t, 0) + 1
    n = len(docs)
    dl = {d: sum(c.values()) for d, c in tf.items()}
    avgdl = sum(dl.values()) / n
    postings: dict[str, list[int]] = {}
    for d, counts in tf.items():
        for t in counts:
            postings.setdefault(t, []).append(d)
    out = []
    for q in queries:
        scores: dict[int, float] = {}
        for t in sorted(set(_tokens(q))):
            ratio = (n - dfreq.get(t, 0) + 0.5) / (dfreq.get(t, 0) + 0.5)
            for d in postings.get(t, ()):
                f = tf[d][t]
                scores[d] = scores.get(d, 0.0) + ratio * (
                    f * (k1 + 1.0) / (f + k1 * (1.0 - b + b * dl[d] / avgdl)))
        out.append(sorted(scores, key=lambda d: (-scores[d], d))[:k])
    return out
