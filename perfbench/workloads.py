"""The benchmark's three workloads, driven through the library's public
surface by one closed-loop client (each request is sent only after the
previous one returned).

A workload runs ``SETUP_REPS`` set-ups (generate inputs, load them into
Spark, build the index), one untimed warm-up op of each kind in
``warmup``, then repeats its fixed cycle of ops. Every op's output is
checked after the op is timed; a mismatch is recorded on the op and
counted as a failure, never raised. Why each workload exists and how it
was sized: NOTES.md.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F
from vicinity_spark.operators import cluster, dedup
from vicinity_spark.store import VectorStore

import gen

SETUP_REPS = 3
K = 10
EPS = 1e-3  # the reference evaluate() recall rule: distance <= exact k-th + EPS
TIE = 1e-6  # exact-search ties: distances this close may come back in either order
REQUEST_QUERIES = 100
# one past knn.AUTO_GRID_QUERY_ROWS (8192), so `auto` routes bulk requests to grid
BULK_QUERIES = 8_200
BULK_SAMPLE = 64

_QSCHEMA = "query_id long, qvec array<float>"
_CORPUS_SCHEMA = "id long, vector array<float>, tag string"


def _queries_df(spark, Q: np.ndarray):
    pdf = pd.DataFrame({"query_id": np.arange(len(Q), dtype=np.int64), "qvec": list(Q)})
    return spark.createDataFrame(pdf, _QSCHEMA)


def check_topk(index: gen.CosineIndex, Q: np.ndarray, rows, k: int = K) -> "str | None":
    """None when ``rows`` (query_id, id, distance) are an exact top-k of
    every query, with ties within TIE accepted in any order; else why not."""
    by_q: "dict[int, list]" = {}
    for q, i, d in rows:
        by_q.setdefault(int(q), []).append((int(i), float(d)))
    kth = index.kth(Q, k)
    want = min(k, len(index.ids))
    for q in range(len(Q)):
        got = by_q.get(q, [])
        ids = [i for i, _ in got]
        if len(ids) != want or len(set(ids)) != want:
            return f"query {q}: {len(ids)} rows ({len(set(ids))} distinct), want {want}"
        try:
            true = np.maximum(index.distance_of(Q[q], ids), 0.0)
        except KeyError as e:
            return f"query {q}: id {e} not in the corpus"
        if np.abs(true - np.array([d for _, d in got])).max() > TIE:
            return f"query {q}: returned distances differ from numpy"
        if true.max() > kth[q] + TIE:
            return f"query {q}: id outside the exact top-{k}"
    return None


def recall(index: gen.CosineIndex, Q: np.ndarray, rows, k: int = K) -> float:
    """Mean over queries of (returned distances <= exact k-th + EPS) / k."""
    kth = index.kth(Q, k)
    hits = np.zeros(len(Q))
    for q, _, d in rows:
        hits[int(q)] += float(d) <= kth[int(q)] + EPS
    return float(np.mean(hits / k))


class Workload:
    name = ""
    cycle: "tuple[str, ...]" = ()  # the fixed op order of one cycle
    warmup: "tuple[str, ...]" = ()  # ops run once, untimed, before the cycles
    primary = ""  # the op kind whose latency is request_p50_s

    def __init__(self, spark, run, seed: int, workdir: str):
        self.spark = spark
        self.run = run
        self.seed = seed
        self.workdir = workdir
        self.rng = np.random.default_rng([seed, 1])  # request contents
        self.recalls: "list[float]" = []
        self.content_hash: "str | None" = None

    def keep(self, values: list, value) -> None:
        """Append a per-op statistic, ignoring warm-up ops."""
        if self.run.cycle is not None and self.run.cycle >= 0:
            values.append(value)

    def answer_recall(self) -> "float | None":
        return float(np.mean(self.recalls)) if self.recalls else None

    def op(self, kind: str) -> None:
        getattr(self, f"op_{kind}")()

    def finish(self) -> None:
        """Untimed end-of-run checks."""

    def details(self) -> dict:
        return {}

    def layer_counts(self, rows: "list[dict]") -> dict:
        """Per-layer counts of this workload, from the traced run's
        reports of the timed ops (``eventlog.op_report``)."""
        return {}


class KnnExact(Workload):
    """Exact store built with ``from_dataframe``. Each cycle sends four
    100-query requests (``auto`` → partial) and one bulk request past
    the grid threshold (``auto`` → grid)."""

    name = "knn_exact"
    cycle = ("query",) * 4 + ("bulk",)
    warmup = ("query", "query", "bulk")
    primary = "query"
    N, DIM, COMPONENTS, SPREAD = 5_000, 64, 64, 0.5

    def setup(self, rep: int) -> None:
        with self.run.span("bench.generate"):
            self.mix, ids, X = gen.vector_corpus(
                self.seed, self.N, self.DIM, self.COMPONENTS, self.SPREAD, 0.02, 1e-3
            )
        with self.run.span("bench.load"):
            pdf = pd.DataFrame({"id": ids, "vector": list(X), "tag": [f"v{i}" for i in ids]})
            old = getattr(self, "corpus", None)
            self.corpus = self.spark.createDataFrame(pdf, _CORPUS_SCHEMA).cache()
            self.corpus.count()
            if old is not None:
                old.unpersist()
        self.store = VectorStore.from_dataframe(self.corpus)
        self.content_hash = gen.content_hash(X)
        self.index = gen.CosineIndex(ids, X)

    def op_query(self) -> None:
        Q = self.mix.sample(self.rng, REQUEST_QUERIES)

        def go():
            with self.run.span("bench.input"):
                qdf = _queries_df(self.spark, Q)
            res = self.store.query_df(qdf, k=K)
            with self.run.span("store.result"):
                return [(r["query_id"], r["id"], r["distance"]) for r in res.collect()]

        def check(rows):
            self.keep(self.recalls, recall(self.index, Q, rows))
            return check_topk(self.index, Q, rows)

        self.run.timed("query", go, check)

    def op_bulk(self) -> None:
        Q = self.mix.sample(self.rng, BULK_QUERIES)
        sample = np.sort(self.rng.choice(BULK_QUERIES, BULK_SAMPLE, replace=False))
        obs = Observation()

        def go():
            with self.run.span("bench.input"):
                qdf = _queries_df(self.spark, Q)
            res = self.store.query_df(qdf, k=K).observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.collect_list(
                    F.when(
                        F.col("query_id").isin([int(s) for s in sample]),
                        F.struct("query_id", "id", "distance"),
                    )
                ).alias("rows"),
            )
            with self.run.span("store.result"):
                res.write.format("noop").mode("overwrite").save()
            return obs.get

        def check(got):
            if got["n"] != BULK_QUERIES * K:
                return f"bulk: {got['n']} rows, want {BULK_QUERIES * K}"
            pos = {int(q): j for j, q in enumerate(sample)}
            rows = [(pos[r["query_id"]], r["id"], r["distance"]) for r in got["rows"]]
            return check_topk(self.index, Q[sample], rows)

        self.run.timed("bulk", go, check)

    def details(self) -> dict:
        bulk = self.run.latencies("bulk")
        return {
            "content_hash": self.content_hash,
            "query_p50_s": self.run.p50("query"),
            "query_tail": self.run.tail("query"),
            "bulk_queries_per_s": BULK_QUERIES / float(np.median(bulk)) if bulk else None,
            "recall_at_10": self.answer_recall(),
        }


def _item_key(item) -> str:
    """The store's canonical item text (its ``item_json`` column)."""
    return json.dumps(item, sort_keys=True)


class IvfMutate(Workload):
    """IVF store built, saved and reloaded, then a fixed sequence of
    reads and writes on it. The benchmark keeps its own copy of the live
    set. Built with ``from_vectors_and_items`` so that every row carries
    the item that ``delete`` matches on (NOTES.md, defect 2)."""

    name = "ivf_mutate"
    cycle = ("insert", "query", "delete", "query", "save_load")
    warmup = ("query",)
    primary = "query"
    N, DIM, COMPONENTS, SPREAD = 2_000, 32, 64, 0.4
    NLIST, NPROBE = 16, 4
    INSERT, DELETE = 1_000, 100

    def setup(self, rep: int) -> None:
        with self.run.span("bench.generate"):
            self.mix, _, X = gen.vector_corpus(
                self.seed + 1_000_003, self.N, self.DIM, self.COMPONENTS, self.SPREAD, 0.02, 1e-3
            )
            items = [{"n": i} for i in range(self.N)]
        t0 = time.perf_counter()
        built = VectorStore.from_vectors_and_items(
            self.spark, X, items, backend_type="ivf", nlist=self.NLIST, nprobe=self.NPROBE
        )
        folder = os.path.join(self.workdir, f"setup{rep}")
        built.save(folder)
        self.run.record("index_build", time.perf_counter() - t0)
        self.store = VectorStore.load(folder, self.spark)
        self.content_hash = gen.content_hash(X)
        self.live = {_item_key(it): v for it, v in zip(items, X)}
        self.n_items = self.N
        self.saves = 0
        self._index = None

    def index(self) -> gen.CosineIndex:
        """Ground truth over the live set (rebuilt after each write)."""
        if self._index is None:
            self._keys = list(self.live)
            self._index = gen.CosineIndex(
                np.arange(len(self._keys)), np.vstack([self.live[k] for k in self._keys])
            )
        return self._index

    def op_query(self) -> None:
        Q = self.mix.sample(self.rng, REQUEST_QUERIES)

        def go():
            with self.run.span("bench.input"):
                qdf = _queries_df(self.spark, Q)
            res = self.store.query_df(qdf, k=K)
            with self.run.span("store.result"):
                return [(r["query_id"], r["item_json"], r["distance"]) for r in res.collect()]

        def check(rows):
            dead = [item for _, item, _ in rows if item not in self.live]
            if dead:
                return f"{len(dead)} returned rows are not live, e.g. {dead[0]}"
            if np.bincount([int(q) for q, _, _ in rows], minlength=len(Q)).max() > K:
                return "more than k rows for a query"
            self.keep(self.recalls, recall(self.index(), Q, rows))
            return None

        self.run.timed("query", go, check)

    def op_insert(self) -> None:
        V = self.mix.sample(self.rng, self.INSERT)
        items = [{"n": self.n_items + j} for j in range(self.INSERT)]
        self.n_items += self.INSERT

        def check(_):
            for it, v in zip(items, V):
                self.live[_item_key(it)] = v
            self._index = None
            return self._count_check()

        self.run.timed("insert", lambda: self.store.insert(items, V), check)

    def op_delete(self) -> None:
        live = sorted(self.live)
        keys = [live[p] for p in np.sort(self.rng.choice(len(live), self.DELETE, replace=False))]

        def check(_):
            for k in keys:
                del self.live[k]
            self._index = None
            return self._count_check()

        self.run.timed("delete", lambda: self.store.delete([json.loads(k) for k in keys]), check)

    def op_save_load(self) -> None:
        self.saves += 1
        folder = os.path.join(self.workdir, f"save{self.saves}")

        def go():
            self.store.save(folder)
            self.store = VectorStore.load(folder, self.spark)

        self.run.timed("save_load", go, lambda _: self._count_check())

    def _count_check(self) -> "str | None":
        if len(self.store) != len(self.live):
            return f"store reports {len(self.store)} live rows, want {len(self.live)}"
        return None

    def finish(self) -> None:
        n = self.store.df.count()
        if n != len(self.live):
            self.run.fail_check("live_count", f"store holds {n} rows, want {len(self.live)}")

    def layer_counts(self, rows: "list[dict]") -> dict:
        queries = [r for r in rows if r["kind"] == "query"]
        if not queries:
            return {}
        rows_scored = sum(r.get("python.map_in_pandas_rows", 0.0) for r in queries)
        cand = rows_scored / (len(queries) * REQUEST_QUERIES)
        return {
            "backends.ivf.candidates_per_query": cand,
            "backends.ivf.useful_ratio": K / cand if cand else 0.0,
        }

    def details(self) -> dict:
        return {
            "content_hash": self.content_hash,
            "index_build_s": self.run.median_record("index_build"),
            "query_p50_s": self.run.p50("query"),
            "query_tail": self.run.tail("query"),
            "recall_at_10": self.answer_recall(),
            "insert_p50_s": self.run.p50("insert"),
            "delete_p50_s": self.run.p50("delete"),
            "save_load_p50_s": self.run.p50("save_load"),
        }


class Curate(Workload):
    """One curation pass per op over fresh seeded documents:
    neardup_dedup → kmeans_centroids on the survivors → semdedup → keep
    is_canonical, consumed with a noop write over every column. A batch
    pipeline pays its first-pass costs on every job, so there is no
    warm-up: the first pass is timed."""

    name = "curate"
    cycle = ("pass",)
    primary = "pass"
    SIZES = dict(n_base=1_200, n_exact=100, n_near_text=100, n_near_vec=100)
    CLUSTERS, MAX_DISTANCE = 16, 0.02

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.passes = 0
        self.consumed = True
        self.canonical: "list[int]" = []
        self.after_neardup: "list[int]" = []

    def _docs(self, salt: int) -> gen.Documents:
        rng = np.random.default_rng([self.seed, 2, salt])
        return gen.documents(rng, **self.SIZES, max_distance=self.MAX_DISTANCE)

    def _load_docs(self, docs: gen.Documents):
        with self.run.span("bench.load"):
            pdf = pd.DataFrame(
                {"doc_id": docs.doc_id, "text": docs.text, "embedding": list(docs.embedding)}
            )
            df = self.spark.createDataFrame(pdf, "doc_id long, text string, embedding array<float>")
            df = df.cache()
            df.count()
            old = getattr(self, "docs_df", None)
            self.docs, self.docs_df = docs, df
            if old is not None:
                old.unpersist()

    def setup(self, rep: int) -> None:
        with self.run.span("bench.generate"):
            docs = self._docs(self.passes)
        self.content_hash = docs.content_hash()
        self._load_docs(docs)
        self.consumed = False

    def _pass(self, docs_df):
        sd_obs, out_obs = Observation(), Observation()
        surv = dedup.neardup_dedup(docs_df)
        cents = cluster.kmeans_centroids(surv, self.CLUSTERS, vector_col="embedding")
        sd = cluster.semdedup(
            surv, cents, self.MAX_DISTANCE, vector_col="embedding", id_col="doc_id"
        ).observe(
            sd_obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("is_canonical").cast("long")).alias("canonical"),
        )
        keep = sd.where("is_canonical").select(F.col("id").alias("doc_id"))
        out = surv.join(keep, "doc_id", "left_semi").observe(
            out_obs, F.collect_list("doc_id").alias("ids")
        )
        with self.run.span("cluster.semdedup.result"):
            out.write.format("noop").mode("overwrite").save()
        return sd_obs.get, out_obs.get

    def op_pass(self) -> None:
        if self.consumed:  # fresh documents, loaded outside the timed op
            self._load_docs(self._docs(self.passes))
        docs = self.docs
        self.passes += 1
        self.consumed = True

        def check(stats):
            sd_stats, out_stats = stats
            self.keep(self.after_neardup, int(sd_stats["rows"]))
            self.keep(self.canonical, int(sd_stats["canonical"] or 0))
            got = np.sort(np.asarray(out_stats["ids"], dtype=np.int64))
            self.keep(self.recalls, len(np.intersect1d(got, docs.survivors)) / len(docs.survivors))
            if sd_stats["rows"] != docs.after_neardup:
                return f"neardup_dedup kept {sd_stats['rows']} rows, want {docs.after_neardup}"
            if not np.array_equal(got, docs.survivors):
                return f"{len(got)} survivors, want {len(docs.survivors)} (sets differ)"
            return None

        self.run.timed("pass", lambda: self._pass(self.docs_df), check)

    def layer_counts(self, rows: "list[dict]") -> dict:
        return {
            "dedup.rows_in": sum(self.SIZES.values()),
            "dedup.rows_out": float(np.mean(self.after_neardup)) if self.after_neardup else 0.0,
            "cluster.canonical_rows": float(np.mean(self.canonical)) if self.canonical else 0.0,
        }

    def details(self) -> dict:
        passes = self.run.latencies("pass")
        n = sum(self.SIZES.values())
        return {
            "content_hash": self.content_hash,
            "docs_per_s": n / float(np.median(passes)) if passes else None,
            "after_neardup": self.after_neardup,
            "canonical": self.canonical,
        }


WORKLOADS = {w.name: w for w in (KnnExact, IvfMutate, Curate)}
