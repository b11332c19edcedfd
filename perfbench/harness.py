"""Runs one workload end to end: Spark session, set-ups, the timed
closed loop, output checks, metrics, and the result line.

The result is printed however the run ends. A SIGTERM, or the run's own
hard limit (SIGALRM), stops the run where it is; the ops that failed or
never ran are named in the detail line and the artifact, and the last
line still carries ``correct``, ``attempted``, ``failed`` and whatever
metrics could be computed.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import signal
import statistics
import time
import traceback
from collections import defaultdict
from dataclasses import asdict, dataclass, field
from typing import Optional

import numpy as np

import eventlog
import procs
from spans import NullTracer, Tracer
from workloads import SETUP_REPS, WORKLOADS

HARD_LIMIT_S = 165  # the run must end within 180 s; leave room for cleanup
TAIL_PCTS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

END_TO_END = {
    "setup_s": "s",
    "request_p50_s": "s",
    "cycle_s": "s",
    "answer_recall": "ratio",
    "python_rss_mb": "MB",
}
PER_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_outside_jobs_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.parallelism": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.bucket_coverage": "ratio",
    "python.run_s": "s",
    "python.init_s": "s",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "python.rows_received": "count",
    "knn.route.partial": "count",
    "knn.route.grid": "count",
    "grid.query_blocks.calls": "count",
    "backends.ivf.candidates_per_query": "count",
    "backends.ivf.useful_ratio": "ratio",
    "dedup.rows_in": "count",
    "dedup.rows_out": "count",
    "cluster.canonical_rows": "count",
}


class Abort(BaseException):
    """Raised from a signal handler; a BaseException so that library code
    catching ``Exception`` cannot swallow it."""


@dataclass
class Op:
    kind: str
    cycle: Optional[int]
    latency: float = math.inf
    error: Optional[str] = None
    span: Optional[int] = None


@dataclass
class Run:
    """What one run has measured so far; the workloads report into it."""

    tracer: object
    cycle: Optional[int] = None
    ops: "list[Op]" = field(default_factory=list)
    records: "dict[str, list]" = field(default_factory=lambda: defaultdict(list))
    check_failures: "list[tuple[str, str]]" = field(default_factory=list)

    def span(self, name: str):
        return self.tracer.span(name)

    def timed(self, kind: str, go, check) -> None:
        """Run ``go`` as one op, timed; then ``check(result)``, untimed,
        which returns None or why the output is wrong."""
        op = Op(kind, self.cycle)
        self.ops.append(op)
        with self.tracer.span(f"op.{kind}") as s:
            op.span = s.id if s is not None else None
            t0 = time.perf_counter()
            try:
                result = go()
            except Abort as e:
                op.error = f"aborted by {e}"
                raise
            except Exception as e:  # an op failure is a measurement, not a crash
                op.error = f"{type(e).__name__}: {e}"[:500]
            t1 = time.perf_counter()
        if op.error is None:
            op.latency = t1 - t0
            try:
                why = check(result)
            except Exception as e:
                why = f"check raised {type(e).__name__}: {e}"
            if why:
                op.error = f"mismatch: {why}"[:500]

    def record(self, name: str, value: float) -> None:
        self.records[name].append(value)

    def median_record(self, name: str) -> Optional[float]:
        vals = self.records.get(name)
        return float(statistics.median(vals)) if vals else None

    def fail_check(self, name: str, why: str) -> None:
        self.check_failures.append((name, why))

    def timed_ops(self, kind: Optional[str] = None) -> "list[Op]":
        return [o for o in self.ops if o.cycle is not None and o.cycle >= 0 and kind in (None, o.kind)]

    def latencies(self, kind: str) -> "list[float]":
        """Latencies of the timed ops of ``kind``; a failed op counts as
        infinitely slow, so it misses every latency limit."""
        return [o.latency if o.error is None else math.inf for o in self.timed_ops(kind)]

    def p50(self, kind: str) -> Optional[float]:
        lat = self.latencies(kind)
        return _finite(float(np.median(lat))) if lat else None

    def tail(self, kind: str) -> dict:
        """The highest percentile with at least ten samples beyond it."""
        lat = self.latencies(kind)
        n = len(lat)
        for p in TAIL_PCTS:
            if n * (1 - p / 100) >= 10:
                return {"pct": p, "value": _finite(float(np.percentile(lat, p))), "n": n}
        return {"pct": None, "value": None, "n": n}


def _finite(x):
    return x if x is not None and math.isfinite(x) else None


# ---- metrics ----------------------------------------------------------


def end_to_end(run: Run, wl, session_s, setup_times, warmup_s, rss_mb) -> dict:
    """``setup_s`` is the session start, plus the median of the repeated
    set-ups, plus the warm-up ops: the time to reach steady state.
    ``python_rss_mb`` is the peak RSS of the driver and the Python
    workers during the timed phase; the JVM's peak, which follows its
    garbage collector's heap sizing more than the workload, is in the
    artifact only."""
    cycle = None
    parts = [run.p50(kind) for kind in wl.cycle]
    if all(p is not None for p in parts):
        cycle = sum(parts)
    return {
        "setup_s": session_s + float(statistics.median(setup_times)) + warmup_s
        if setup_times and session_s is not None and warmup_s is not None
        else None,
        "request_p50_s": run.p50(wl.primary),
        "cycle_s": cycle,
        "answer_recall": wl.answer_recall() if wl.recalls else None,
        "python_rss_mb": rss_mb["python"] if rss_mb else None,
    }


def per_layer(run: Run, wl, report: dict, cycles: int) -> dict:
    """Per-cycle means of the layer report over the timed ops."""
    timed = {o.span: o for o in run.timed_ops() if o.cycle < cycles}
    rows = [r for op_id, r in report.items() if op_id in timed]
    per_cycle = defaultdict(float)
    for r in rows:
        for k, v in r.items():
            if isinstance(v, (int, float)) and k in PER_LAYER:
                per_cycle[k] += v / cycles
        per_cycle["grid.query_blocks.calls"] += r["calls"].get("grid.query_blocks", 0) / cycles
    wall = sum(r["wall_s"] for r in rows)
    per_cycle["spark.parallelism"] = (
        sum(r["spark.parallelism"] * r["wall_s"] for r in rows) / wall if wall else 0.0
    )
    coverage = {}
    for kind in set(wl.cycle):
        mine = [r for r in rows if r["kind"] == kind]
        w = sum(r["wall_s"] for r in mine)
        coverage[kind] = sum(r["buckets"]["coverage"] * r["wall_s"] for r in mine) / w if w else 0.0
    per_cycle["spark.bucket_coverage"] = min(coverage.values()) if coverage else 0.0
    per_cycle.update(wl.layer_counts(rows))
    return {k: per_cycle.get(k, 0.0) for k in PER_LAYER}


def kind_summary(report: dict, spans: "list[dict]") -> dict:
    """Per op kind: medians of wall time, buckets, each span name's
    inclusive and self seconds, and each layer's self seconds."""
    by_kind = defaultdict(list)
    for op_id, r in report.items():
        by_kind[r["kind"]].append((op_id, r))
    incl = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s["id"] != s["op"]:
            incl[s["op"]][s["name"]] += s["end"] - s["start"]
    med = lambda xs: float(statistics.median(xs)) if xs else 0.0  # noqa: E731
    out = {}
    for kind, items in by_kind.items():
        names = sorted({n for _, r in items for n in [*r["self_s"], *r["jobs_by_span"]]})
        layers = sorted({eventlog.layer_of(n) for _, r in items for n in r["self_s"]})
        out[kind] = {
            "n": len(items),
            "wall_s": med([r["wall_s"] for _, r in items]),
            "buckets": {b: med([r["buckets"][b] for _, r in items]) for b in items[0][1]["buckets"]},
            "coverage_min": min(r["buckets"]["coverage"] for _, r in items),
            "spans": {
                n: {
                    "s": med([incl[i][n] for i, _ in items]),
                    "self_s": med([r["self_s"].get(n, 0.0) for _, r in items]),
                    "calls": med([r["calls"].get(n, 0) for _, r in items]),
                    "jobs": med([r["jobs_by_span"].get(n, 0) for _, r in items]),
                }
                for n in names
            },
            "layer_self_s": {
                layer: med([
                    sum(v for n, v in r["self_s"].items() if eventlog.layer_of(n) == layer)
                    for _, r in items
                ])
                for layer in layers
            },
            "spark": {
                k: med([r.get(k, 0.0) for _, r in items])
                for k in sorted({k for _, r in items for k in r})
                if k.startswith(("spark.", "python.", "knn.route"))
            },
        }
    return out


# ---- the run ----------------------------------------------------------


def execute(args, out_dir: str, workdir: str, eventlog_dir: "str | None") -> int:
    status = "starting"
    run: "Run | None" = None
    wl = None
    spark = jvm = None
    setup_times: "list[float]" = []
    cycles = 0
    session_s = warmup_s = None
    steal0 = procs.steal_seconds()
    rss_mb = None
    pending: "list[str]" = []  # ops of the current phase not yet done
    later: "list[str]" = []  # phases not yet started

    def on_signal(signum, _frame):
        raise Abort(signal.Signals(signum).name)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGALRM, on_signal)
    signal.alarm(HARD_LIMIT_S)
    try:
        from vicinity_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
        if args.trace:
            tracer.wrap_library()
        run = Run(tracer)
        wl = WORKLOADS[args.workload](spark, run, args.seed, workdir)
        status = "setup"
        pending = [f"setup{r}" for r in range(SETUP_REPS)]
        later = [f"warmup.{k}" for k in wl.warmup] + ["timed cycles"]
        for rep in range(SETUP_REPS):
            with run.span("op.setup"):
                t = time.perf_counter()
                wl.setup(rep)
                setup_times.append(time.perf_counter() - t)
            pending.pop(0)
        status = "warm-up"
        run.cycle = -1
        pending, later = [f"warmup.{k}" for k in wl.warmup], ["timed cycles"]
        t = time.perf_counter()
        for kind in wl.warmup:
            wl.op(kind)
            pending.pop(0)
        warmup_s = time.perf_counter() - t
        status = "timed"
        with procs.RssSampler(jvm.pid if jvm else None) as rss:
            deadline = time.perf_counter() + args.seconds
            while True:
                run.cycle = cycles
                pending, later = list(wl.cycle), []
                for kind in wl.cycle:
                    wl.op(kind)
                    pending.pop(0)
                cycles += 1
                if time.perf_counter() >= deadline:
                    break
        rss_mb = {k: v / 2**20 for k, v in rss.peaks.items()}
        run.cycle = None
        status = "checks"
        wl.finish()
        status = "complete"
    except Abort as e:
        status = f"aborted by {e} during {status}"
    except Exception:
        status = f"error during {status}: {traceback.format_exc(limit=4)[-1500:]}"

    complete = status == "complete"
    result = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    detail = {"workload": args.workload, "seed": args.seed, "trace": int(args.trace), "status": status}
    try:
        attempted = (len(run.ops) if run else 0) + len(setup_times)
        failed_ops = [o for o in (run.ops if run else []) if o.error]
        failed = len(failed_ops) + (len(run.check_failures) if run else 0)
        if not complete and not any(o.error and o.error.startswith("aborted") for o in failed_ops):
            attempted, failed = attempted + 1, failed + 1  # the set-up or check the run died in
        detail["failed_ops"] = [
            {"kind": o.kind, "cycle": o.cycle, "error": o.error} for o in failed_ops
        ] + [{"kind": n, "error": w} for n, w in (run.check_failures if run else [])]
        detail["skipped"] = pending + later if not complete else []
        detail["cycles"] = cycles
        detail["session_start_s"] = session_s
        detail["setup_reps_s"] = setup_times
        e2e = end_to_end(run, wl, session_s, setup_times, warmup_s, rss_mb) if run and wl else {}
        detail["warmup_s"] = warmup_s
        detail["host_steal_s"] = procs.steal_seconds() - steal0
        detail["peak_rss_mb"] = rss_mb
        detail["end_to_end"] = e2e
        detail["error_rate"] = failed / attempted if attempted else 1.0
        if wl is not None:
            detail["details"] = wl.details()
        metrics = {}
        if args.trace and complete:
            spark.stop()
            metrics, layers = _traced(run, wl, cycles, eventlog_dir)
            detail["layers"] = layers
            detail["tracing_overhead"] = _overhead(out_dir, args, e2e)
        elif not args.trace:
            metrics = {k: v for k, v in e2e.items() if v is not None}
        units = PER_LAYER if args.trace else END_TO_END
        result = {
            "correct": complete and failed == 0,
            "attempted": max(1, attempted),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        detail["ops"] = [asdict(o) for o in run.ops] if run else []
        artifact = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{int(args.trace)}.json")
        with open(artifact, "w") as f:
            json.dump(detail, f, indent=1, default=_json_default)
        summary = {
            k: detail[k]
            for k in ("workload", "seed", "trace", "status", "cycles", "error_rate", "host_steal_s")
        }
        summary["failed_ops"] = detail["failed_ops"][:3]
        summary["skipped"] = detail["skipped"]
        summary["details"] = detail.get("details")
        summary["artifact"] = os.path.relpath(artifact)
        print("perfbench " + json.dumps(summary, default=_json_default), flush=True)
    except Abort:
        result["correct"] = False
    except Exception:
        traceback.print_exc()
        result["correct"] = False
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        print(json.dumps(result, default=_json_default), flush=True)
        signal.alarm(0)
        graceful = (lambda: spark.stop()) if spark is not None else None
        procs.stop_tree(jvm, graceful)
        shutil.rmtree(workdir, ignore_errors=True)
    return 0 if complete else 1


def _traced(run: Run, wl, cycles: int, eventlog_dir: str):
    spans = run.tracer.dump()
    log = eventlog.EventLog(eventlog.read_events(_single(eventlog_dir)))
    kinds = {
        o.span: o.kind if o.cycle >= 0 else f"warmup.{o.kind}" for o in run.ops if o.span is not None
    }
    for s in spans:
        if s["parent"] is None and s["name"] == "op.setup":
            kinds[s["id"]] = "setup"
    report = eventlog.layer_report(spans, log, kinds)
    metrics = per_layer(run, wl, report, cycles)
    return metrics, kind_summary(report, spans)


def _single(eventlog_dir: str) -> str:
    entries = [os.path.join(eventlog_dir, e) for e in os.listdir(eventlog_dir)]
    if len(entries) != 1:
        raise RuntimeError(f"expected one event log in {eventlog_dir}, found {len(entries)}")
    return entries[0]


def _overhead(out_dir: str, args, traced: dict) -> dict:
    """Traced end-to-end numbers over the untraced run's, minus one, when
    an untraced run of the same workload and seed left its artifact."""
    path = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t0.json")
    try:
        with open(path) as f:
            untraced = json.load(f)["end_to_end"]
    except (OSError, KeyError, ValueError):
        return {"untraced_artifact": None, "traced": traced}
    return {
        "untraced_artifact": os.path.relpath(path),
        "traced": traced,
        "untraced": untraced,
        "ratio_minus_1": {
            k: traced[k] / untraced[k] - 1
            for k in traced
            if traced.get(k) and untraced.get(k)
        },
    }


def _json_default(o):
    if isinstance(o, (np.integer,)):
        return int(o)
    if isinstance(o, (np.floating,)):
        return float(o)
    if isinstance(o, np.ndarray):
        return o.tolist()
    return str(o)
