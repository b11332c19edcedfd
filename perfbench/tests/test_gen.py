"""Seeded generators: one seed gives one content hash, another seed a
different one, and the planted answers are the ones the checks expect."""

import numpy as np

import gen
import workloads


def _corpus_hash(seed):
    _, ids, X = gen.vector_corpus(seed, 500, 16, 8, 0.5, 0.02, 1e-3)
    return gen.content_hash(ids, X)


def _docs(seed):
    return gen.documents(np.random.default_rng(seed), 60, 5, 5, 5)


def test_vector_corpus_hash_is_a_function_of_the_seed():
    assert _corpus_hash(7) == _corpus_hash(7)
    assert _corpus_hash(7) != _corpus_hash(8)


def test_documents_hash_is_a_function_of_the_seed():
    assert _docs(7).content_hash() == _docs(7).content_hash()
    assert _docs(7).content_hash() != _docs(8).content_hash()


def test_documents_plant_one_survivor_per_group():
    d = _docs(3)
    assert len(d.doc_id) == 75 and len(set(d.doc_id.tolist())) == 75
    assert len(d.survivors) == 60 and d.after_neardup == 65
    assert set(d.survivors.tolist()) <= set(d.doc_id.tolist())


def test_planted_near_duplicates_are_near():
    rng = np.random.default_rng(0)
    X = rng.standard_normal((100, 8)).astype(np.float32)
    Y = gen.with_near_duplicates(rng, X, 0.1, 1e-3)
    changed = np.flatnonzero((Y != X).any(axis=1))
    assert len(changed) == 10
    idx = gen.CosineIndex(np.arange(100), Y)
    near = np.sort(idx.distances(Y[changed]), axis=1)[:, 1]
    assert near.max() < 1e-4


def test_check_topk_accepts_ties_and_rejects_wrong_ids():
    X = np.array([[1, 0], [1, 0], [0, 1], [-1, 0]], dtype=np.float32)
    idx = gen.CosineIndex(np.arange(4), X)
    Q = np.array([[1, 0.1]], dtype=np.float32)
    d = idx.distances(Q)[0]
    # ids 0 and 1 tie; either order, either one at the cut, is exact
    assert workloads.check_topk(idx, Q, [(0, 1, d[1])], k=1) is None
    assert workloads.check_topk(idx, Q, [(0, 0, d[0])], k=1) is None
    assert workloads.check_topk(idx, Q, [(0, 2, d[2])], k=1) is not None
    assert workloads.check_topk(idx, Q, [(0, 0, d[0] + 1e-3)], k=1) is not None
    assert workloads.check_topk(idx, Q, [(0, 0, d[0]), (0, 0, d[0])], k=2) is not None
    assert workloads.recall(idx, Q, [(0, 2, d[2])], k=1) == 0.0
