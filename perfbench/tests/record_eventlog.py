"""Re-record ``data/eventlog.jsonl`` and ``data/spans.json``, the small
traced session the event-log parser tests read. Run from the repository
root: ``python3 perfbench/tests/record_eventlog.py``.

Two ops under spans: a 20-query exact k-NN request (a mapInPandas
kernel, collected) and a plain count. Only the events and fields the
parser reads are kept, which also drops host names and paths.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def main() -> None:
    sys.path[:0] = [os.path.dirname(HERE), ROOT]
    tmp = tempfile.mkdtemp(dir=os.path.join(os.path.dirname(HERE), "out"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false --conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{tmp} --conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false pyspark-shell"
    )
    import numpy as np
    import pandas as pd

    from spans import Tracer
    from vicinity_spark.session import get_spark
    from vicinity_spark.store import VectorStore

    spark = get_spark("perfbench-fixture", cpus=2)
    tracer = Tracer(spark.sparkContext)
    tracer.wrap_library()
    rng = np.random.default_rng(0)
    X = rng.standard_normal((200, 8)).astype(np.float32)
    corpus = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(200), "vector": list(X)}), "id long, vector array<float>"
    ).cache()
    corpus.count()
    store = VectorStore.from_dataframe(corpus)
    Q = rng.standard_normal((20, 8)).astype(np.float32)
    qdf = spark.createDataFrame(
        pd.DataFrame({"query_id": np.arange(20), "qvec": list(Q)}), "query_id long, qvec array<float>"
    )
    with tracer.span("op.query"):
        res = store.query_df(qdf, k=3)
        with tracer.span("store.result"):
            res.collect()
    with tracer.span("op.count"):
        corpus.count()
    spark.stop()
    (log,) = glob.glob(os.path.join(tmp, "*"))
    with open(log) as f:
        kept = [t for t in map(_trim, map(json.loads, f)) if t]
    with open(os.path.join(HERE, "data", "eventlog.jsonl"), "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in kept)
    with open(os.path.join(HERE, "data", "spans.json"), "w") as f:
        json.dump(tracer.dump(), f, indent=1)
    shutil.rmtree(tmp, ignore_errors=True)


_PROPS = ("spark.jobGroup.id", "spark.job.description")


def _plan(node):
    return {
        "nodeName": node["nodeName"],
        "metrics": [{k: m[k] for k in ("name", "accumulatorId")} for m in node.get("metrics", [])],
        "children": [_plan(c) for c in node.get("children", [])],
    }


def _trim(e):
    kind = e["Event"]
    props = {k: v for k, v in (e.get("Properties") or {}).items() if k in _PROPS}
    if kind == "SparkListenerJobStart":
        return {"Event": kind, "Job ID": e["Job ID"], "Submission Time": e["Submission Time"],
                "Stage IDs": e["Stage IDs"], "Properties": props}
    if kind == "SparkListenerJobEnd":
        return {"Event": kind, "Job ID": e["Job ID"], "Completion Time": e["Completion Time"]}
    if kind == "SparkListenerStageSubmitted":
        return {"Event": kind, "Stage Info": {"Stage ID": e["Stage Info"]["Stage ID"]}, "Properties": props}
    if kind == "SparkListenerTaskEnd":
        info = e["Task Info"]
        return {"Event": kind, "Stage ID": e["Stage ID"], "Task Metrics": e["Task Metrics"],
                "Task Info": {"Launch Time": info["Launch Time"], "Finish Time": info["Finish Time"],
                              "Accumulables": [{k: a[k] for k in ("ID", "Name", "Update")}
                                               for a in info.get("Accumulables", [])]}}
    if "sparkPlanInfo" in e:
        return {"Event": kind, "executionId": e["executionId"], "sparkPlanInfo": _plan(e["sparkPlanInfo"])}
    return None


if __name__ == "__main__":
    main()
