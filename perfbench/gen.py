"""Seeded input generators for the benchmark workloads, with their
expected answers: ``CosineIndex`` is the numpy ground truth for vector
queries, and ``documents`` returns the survivors a correct curation pass
keeps. A run checks its outputs without asking the library for ground
truth. The same seed always gives the same bytes (``content_hash``).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np


def content_hash(*parts) -> str:
    """sha256 over arrays (dtype, shape and bytes) and strings."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, str):
            h.update(p.encode())
        elif isinstance(p, (list, tuple)):
            h.update(content_hash(*p).encode())
        else:
            a = np.ascontiguousarray(p)
            h.update(str((a.dtype.str, a.shape)).encode())
            h.update(a.tobytes())
    return h.hexdigest()


# ---- Gaussian mixtures -------------------------------------------------


@dataclass
class Mixture:
    """Component centres and spread of a Gaussian mixture in ``dim`` dims."""

    centres: np.ndarray
    spread: float

    @classmethod
    def make(cls, rng: np.random.Generator, components: int, dim: int, spread: float):
        return cls(rng.standard_normal((components, dim)), spread)

    def sample(self, rng: np.random.Generator, n: int) -> np.ndarray:
        lab = rng.integers(0, len(self.centres), n)
        noise = rng.standard_normal((n, self.centres.shape[1]))
        return (self.centres[lab] + self.spread * noise).astype(np.float32)


def with_near_duplicates(
    rng: np.random.Generator, X: np.ndarray, frac: float, noise: float
) -> np.ndarray:
    """Overwrite a random ``frac`` of rows with copies of other rows plus
    ``noise``-scaled jitter: planted near-duplicates, the near-ties an
    exact top-k has to order consistently."""
    n = len(X)
    n_dup = int(n * frac)
    if n_dup == 0:
        return X
    perm = rng.permutation(n)
    dst, src = perm[:n_dup], perm[n_dup : 2 * n_dup]
    X = X.copy()
    X[dst] = X[src] + noise * rng.standard_normal((n_dup, X.shape[1])).astype(np.float32)
    return X


def _unit(X: np.ndarray) -> np.ndarray:
    X = np.asarray(X, dtype=np.float64)
    n = np.linalg.norm(X, axis=1, keepdims=True)
    return np.divide(X, n, out=np.zeros_like(X), where=n != 0)


class CosineIndex:
    """Numpy brute-force cosine search: the ground truth for exact and
    approximate queries. Distances are computed in float64 from the
    float32 inputs, as the library's kernels do."""

    def __init__(self, ids: np.ndarray, X: np.ndarray):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.U = _unit(X)
        self._pos = {int(i): p for p, i in enumerate(self.ids)}

    def distances(self, Q: np.ndarray) -> np.ndarray:
        return 1.0 - _unit(Q) @ self.U.T

    def distance_of(self, q: np.ndarray, ids) -> np.ndarray:
        """Distances from one query to the given ids (KeyError if absent)."""
        rows = self.U[[self._pos[int(i)] for i in ids]]
        return 1.0 - rows @ _unit(q[None, :])[0]

    def kth(self, Q: np.ndarray, k: int) -> np.ndarray:
        """Each query's exact k-th smallest distance."""
        D = self.distances(Q)
        kk = min(k, D.shape[1])
        return np.partition(D, kk - 1, axis=1)[:, kk - 1]


def vector_corpus(seed: int, n: int, dim: int, components: int, spread: float,
                  dup_frac: float, dup_noise: float):
    """(mixture, ids, X): a seeded mixture corpus with planted near-duplicates."""
    rng = np.random.default_rng(seed)
    mix = Mixture.make(rng, components, dim, spread)
    X = with_near_duplicates(rng, mix.sample(rng, n), dup_frac, dup_noise)
    return mix, np.arange(n, dtype=np.int64), X


# ---- documents --------------------------------------------------------


@dataclass
class Documents:
    doc_id: np.ndarray  # int64
    text: list
    embedding: np.ndarray  # float32, n × dim
    survivors: np.ndarray  # sorted doc ids a correct curation pass keeps
    after_neardup: int  # rows a correct neardup_dedup keeps

    def content_hash(self) -> str:
        return content_hash(self.doc_id, self.text, self.embedding)


def documents(
    rng: np.random.Generator,
    n_base: int,
    n_exact: int,
    n_near_text: int,
    n_near_vec: int,
    *,
    tokens: int = 40,
    vocab: int = 20_000,
    dim: int = 64,
    components: int = 16,
    spread: float = 0.5,
    vec_noise: float = 1e-4,
    max_distance: float = 0.02,
) -> Documents:
    """Documents with text and an embedding, and three kinds of planted
    duplicate of a random base document:

    - exact copies: same text, same embedding;
    - near text copies: one token replaced (3-shingle Jaccard ≈ 0.88),
      embedding jittered by ``vec_noise``;
    - near vectors: unrelated text, embedding jittered by ``vec_noise``
      (only the semantic pass can catch these).

    A correct curation pass keeps the smallest doc id of each group.
    Doc ids are a random permutation, so survivors are not simply the
    base rows. Raises if the draw puts two unrelated embeddings within
    ``3 × max_distance`` (cosine) of each other, so the planted answer
    is the only right one."""
    mix = Mixture.make(rng, components, dim, spread)
    base_emb = mix.sample(rng, n_base).astype(np.float64)
    words = np.array([f"w{i}" for i in range(vocab)])
    base_tok = rng.integers(0, vocab, (n_base, tokens))

    group = list(range(n_base))
    tok_rows = [base_tok[i] for i in range(n_base)]
    emb_rows = [base_emb[i] for i in range(n_base)]

    def jitter(v):
        return v + vec_noise * np.linalg.norm(v) / np.sqrt(dim) * rng.standard_normal(dim)

    for src in rng.integers(0, n_base, n_exact):
        group.append(int(src))
        tok_rows.append(base_tok[src])
        emb_rows.append(base_emb[src])
    for src in rng.integers(0, n_base, n_near_text):
        t = base_tok[src].copy()
        pos = rng.integers(0, tokens)
        t[pos] = (t[pos] + 1 + rng.integers(0, vocab - 1)) % vocab
        group.append(int(src))
        tok_rows.append(t)
        emb_rows.append(jitter(base_emb[src]))
    for src in rng.integers(0, n_base, n_near_vec):
        group.append(int(src))
        tok_rows.append(rng.integers(0, vocab, tokens))
        emb_rows.append(jitter(base_emb[src]))

    n = len(group)
    group = np.asarray(group)
    emb = np.vstack(emb_rows).astype(np.float32)
    doc_id = rng.permutation(n).astype(np.int64)
    text = [" ".join(words[t]) for t in tok_rows]

    U = _unit(emb)
    D = 1.0 - U @ U.T
    unrelated = group[:, None] != group[None, :]
    if D[unrelated].min() <= 3 * max_distance:
        raise ValueError("unrelated embeddings drawn too close; change the mixture")
    if D[~unrelated].max() >= max_distance / 3:
        raise ValueError("planted near vectors too far apart; lower vec_noise")

    survivors = np.sort(
        [doc_id[group == g].min() for g in range(n_base)]
    ).astype(np.int64)
    return Documents(
        doc_id=doc_id,
        text=text,
        embedding=emb,
        survivors=survivors,
        after_neardup=n_base + n_near_vec,
    )
