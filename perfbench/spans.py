"""Spans around calls into the library, for the traced run.

A span has a name, start, end, parent and op id; spans stay in memory
and are written out when the run ends. Each op (a root span) sets the
Spark job group to its op id, and every span sets the job description
to its own span id, so the event log attributes each job, and through
it each stage and task, to the innermost call that started it.

The library is not changed: ``wrap_library`` replaces its public
functions with timing wrappers, in every ``vicinity_spark`` module that
imported them by name.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Optional

# (module, attribute, span name): the public entry point of each layer
# the benchmark reaches. A span's layer is its name up to the last dot.
LAYER_CALLS = [
    ("vicinity_spark.store", "VectorStore.from_dataframe", "store.from_dataframe"),
    ("vicinity_spark.store", "VectorStore.from_vectors_and_items", "store.from_vectors_and_items"),
    ("vicinity_spark.store", "VectorStore.load", "store.load"),
    ("vicinity_spark.store", "VectorStore.query_df", "store.query_df"),
    ("vicinity_spark.store", "VectorStore.insert", "store.insert"),
    ("vicinity_spark.store", "VectorStore.delete", "store.delete"),
    ("vicinity_spark.store", "VectorStore.save", "store.save"),
    ("vicinity_spark.operators.knn", "knn_join", "knn.knn_join"),
    ("vicinity_spark.operators.knn", "collect_query_matrix", "knn.collect_query_matrix"),
    ("vicinity_spark.operators.knn", "score_joined", "knn.score_joined"),
    ("vicinity_spark.operators.grid", "query_blocks", "grid.query_blocks"),
    ("vicinity_spark.operators.grid", "corpus_blocks", "grid.corpus_blocks"),
    ("vicinity_spark.backends.ivf", "IVFStrategy.build", "backends.ivf.build"),
    ("vicinity_spark.backends.ivf", "IVFStrategy.on_insert", "backends.ivf.on_insert"),
    ("vicinity_spark.backends.ivf", "IVFStrategy.knn", "backends.ivf.knn"),
    ("vicinity_spark.operators.dedup", "neardup_dedup", "dedup.neardup_dedup"),
    ("vicinity_spark.operators.dedup", "exact_dedup", "dedup.exact_dedup"),
    ("vicinity_spark.operators.dedup", "minhash_lsh_pairs_rowwise", "dedup.minhash_lsh_pairs_rowwise"),
    ("vicinity_spark.operators.dedup", "connected_components", "dedup.connected_components"),
    ("vicinity_spark.operators.cluster", "kmeans_centroids", "cluster.kmeans_centroids"),
    ("vicinity_spark.operators.cluster", "semdedup", "cluster.semdedup"),
]


@dataclass
class Span:
    id: int
    name: str
    parent: Optional[int]
    op: int
    start: float
    end: float = 0.0


class NullTracer:
    """The untraced run: spans cost nothing and record nothing."""

    enabled = False
    spans: "tuple[Span, ...]" = ()

    @contextmanager
    def span(self, name: str):
        yield None


class Tracer:
    enabled = True

    def __init__(self, sc):
        self._sc = sc
        self.spans: "list[Span]" = []
        self._stack: "list[Span]" = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(sid, name, parent.id if parent else None, parent.op if parent else sid, time.time())
        self.spans.append(s)
        self._stack.append(s)
        if parent is None:
            self._sc.setJobGroup(f"op{sid}", str(sid), interruptOnCancel=False)
        else:
            self._sc.setLocalProperty("spark.job.description", str(sid))
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            else:
                self._sc.setLocalProperty("spark.job.description", str(parent.id))

    def dump(self) -> "list[dict]":
        return [asdict(s) for s in self.spans]

    def wrap_library(self) -> None:
        for module, attr, name in LAYER_CALLS:
            mod = importlib.import_module(module)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                raw = cls.__dict__[meth]
                if isinstance(raw, classmethod):
                    setattr(cls, meth, classmethod(self._timed(raw.__func__, name)))
                else:
                    setattr(cls, meth, self._timed(raw, name))
                continue
            orig = getattr(mod, attr)
            timed = self._timed(orig, name)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("vicinity_spark"):
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            setattr(m, k, timed)

    def _timed(self, fn, name: str):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return timed
