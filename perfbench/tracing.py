"""Per-layer tracing, measured from outside the package.

Spans nest as workload -> pass -> query -> build / action. During a
traced pass the public functions in `WRAPPED` are replaced, in every
package module that binds them, by wrappers that record a child span.
After the run, Spark jobs and stages from the application status store,
Python-node metrics from the SQL status store and streaming progress
from a `StreamingQueryListener` become spans and counters placed by
their own timestamps.

A layer's self time is the part of a pass during which its span is the
innermost one open; the self times of all layers therefore sum to the
pass wall.
"""

from __future__ import annotations

import contextlib
import datetime
import functools
import importlib
import re
import sys
import threading
import time
from dataclasses import dataclass

PKG = "mapreduce_distributed_systems_spark"

# public function -> (layer, kind); kind groups spans into metrics
WRAPPED = {
    ("sources.tables", "load_table"): ("sources", "load"),
    ("storage.lexical_index", "build_and_commit_bm25"): ("storage", "write"),
    ("storage.lexical_index", "write_bm25_index"): ("storage", "write"),
    ("storage.vector_index", "build_and_commit_ivf"): ("storage", "write"),
    ("storage.vector_index", "write_ivf_index"): ("storage", "write"),
    ("storage.snapshots", "write_snapshot"): ("storage", "write"),
    ("storage.snapshots", "compact_snapshot"): ("storage", "write"),
    ("storage.lexical_index", "read_bm25_index"): ("storage", "read"),
    ("storage.lexical_index", "bm25_topk_from_index"): ("storage", "read"),
    ("storage.vector_index", "read_ivf_index"): ("storage", "read"),
    ("storage.snapshots", "read_snapshot"): ("storage", "read"),
    ("operators.kmeans", "kmeans_fit_int8"): ("operators", "kmeans"),
}

# layers that own self time, in report order
LAYERS = ("harness", "plans", "operators", "sources", "storage", "streaming", "spark")

# Spark-side spans are always inside the Python call that caused them
_DEPTH_BATCH, _DEPTH_JOB, _DEPTH_STAGE = 50, 60, 70
# calls made on helper threads nest under build / action
_THREAD_BASE_DEPTH = 3


@dataclass
class Span:
    name: str
    layer: str
    kind: str
    t0: float
    t1: float
    depth: int


class Tracer:
    """Records spans while enabled; a disabled tracer costs one attribute
    read per span."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def _open(self, name: str, layer: str, kind: str):
        depth = getattr(self._local, "depth", _THREAD_BASE_DEPTH)
        self._local.depth = depth + 1
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, layer, kind, t0, time.time(), depth))
            self._local.depth = depth

    def span(self, name: str, layer: str, kind: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._open(name, layer, kind)

    def root(self):
        """Mark the calling thread as the one that opens pass spans."""
        self._local.depth = 0

    def install(self) -> None:
        """Wrap every WRAPPED function in each package module binding it."""
        for (mod_name, fn_name), (layer, kind) in WRAPPED.items():
            orig = getattr(importlib.import_module(f"{PKG}.{mod_name}"), fn_name)
            wrapper = self._wrap(orig, fn_name, layer, kind)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith(PKG) and (
                    vars(mod).get(fn_name) is orig
                ):
                    setattr(mod, fn_name, wrapper)
                    self._patches.append((mod, fn_name, orig))
        self.enabled = True

    def uninstall(self) -> None:
        for mod, fn_name, orig in self._patches:
            setattr(mod, fn_name, orig)
        self._patches.clear()
        self.enabled = False

    def _wrap(self, orig, fn_name: str, layer: str, kind: str):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(fn_name, layer, kind):
                return orig(*args, **kwargs)

        return wrapper


def make_progress_listener(sink: list):
    """A StreamingQueryListener appending (start, batch, durationMs) per
    progress event to `sink`."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            start = datetime.datetime.fromisoformat(p.timestamp).timestamp()
            sink.append((start, p.batchId, dict(p.durationMs)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


# -- status-store reads (after the timed window) ----------------------


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_status_store(spark) -> dict:
    """Jobs, stage attempts and Python-node SQL metrics of the app."""
    jvm = spark._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsc.sc().statusStore()
    jobs = []
    for j in conv.asJava(store.jobsList(None)):
        jobs.append(
            {
                "id": j.jobId(),
                "t0": _ms(j.submissionTime()),
                "t1": _ms(j.completionTime()),
                "stages": list(conv.asJava(j.stageIds())),
            }
        )
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stages = []
    for s in conv.asJava(
        store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())
    ):
        t0 = _ms(s.submissionTime())
        if t0 is None:  # skipped: its output was reused
            continue
        stages.append(
            {
                "id": s.stageId(),
                "t0": t0,
                "t1": _ms(s.completionTime()),
                "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "input_bytes": s.inputBytes(),
                "output_bytes": s.outputBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
        )
    sql = spark._jsparkSession.sharedState().statusStore()
    python_nodes = []
    for e in conv.asJava(sql.executionsList()):
        eid = e.executionId()
        values = None
        for node in conv.asJava(sql.planGraph(eid).allNodes()):
            if not re.search(r"Python|Pandas|Arrow", node.name()):
                continue
            if values is None:
                values = conv.asJava(sql.executionMetrics(eid))
            m = {x.name(): values.get(x.accumulatorId()) for x in conv.asJava(node.metrics())}
            python_nodes.append(
                {
                    "t0": e.submissionTime() / 1000.0,
                    "rows": _metric_total(m.get("number of output rows")),
                    "run_s": _metric_total(m.get("time to run Python workers")),
                }
            )
    return {"jobs": jobs, "stages": stages, "python_nodes": python_nodes}


_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _metric_total(text: str | None) -> float:
    """Total of an SQLMetric display string: '33,635', '866 ms', or
    'total (min, med, max ...)\\n1.7 s (...)'."""
    if not text:
        return 0.0
    first = text.split("\n")[-1].split(" (")[0].strip()
    m = re.fullmatch(r"([\d,.]+)\s*(ms|s|m|h)?", first)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNIT_S[m.group(2)] if m.group(2) else value


# -- per-pass ledger --------------------------------------------------


def _union(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _self_times(intervals, t0: float, t1: float) -> dict[str, float]:
    """Attribute each instant of [t0, t1] to the deepest open interval
    (start, end, depth, layer); returns seconds per layer."""
    events = []
    for a, b, depth, layer in intervals:
        a, b = max(a, t0), min(b, t1)
        if b > a:
            events.append((a, 1, depth, layer))
            events.append((b, -1, depth, layer))
    events.sort(key=lambda e: (e[0], e[1]))
    out = dict.fromkeys(LAYERS, 0.0)
    open_: dict[tuple[int, str], int] = {}
    prev = t0
    for t, delta, depth, layer in events:
        if open_ and t > prev:
            out[max(open_)[1]] += t - prev
        prev = t
        key = (depth, layer)
        open_[key] = open_.get(key, 0) + delta
        if not open_[key]:
            del open_[key]
    return out


def pass_ledger(pass_span: Span, spans, store, progress, cores: int) -> dict:
    """Per-layer metrics of one traced pass."""
    t0, t1 = pass_span.t0, pass_span.t1
    inside = [s for s in spans if t0 <= s.t0 <= t1]
    jobs = [j for j in store["jobs"] if j["t0"] is not None and t0 <= j["t0"] <= t1]
    stage_ids = {sid for j in jobs for sid in j["stages"]}
    stages = [s for s in store["stages"] if s["id"] in stage_ids]
    batches = [b for b in progress if t0 <= b[0] <= t1]
    py_nodes = [p for p in store["python_nodes"] if t0 <= p["t0"] <= t1]

    def count(kind):
        return sum(1 for s in inside if s.kind == kind)

    def total(kind):
        return sum(s.t1 - s.t0 for s in inside if s.kind == kind)

    def outermost(kind):
        # a call nested in another call of the same layer is not counted twice
        spans_k = [s for s in inside if s.kind == kind]
        return _union((s.t0, s.t1) for s in spans_k)

    builds = [s for s in inside if s.kind == "build"]
    queries = [s for s in inside if s.kind == "query"]
    job_iv = [(j["t0"], j["t1"] or t1) for j in jobs]
    job_gap = 0.0
    for q in queries:
        clipped = [(max(a, q.t0), min(b, q.t1)) for a, b in job_iv if b > q.t0 and a < q.t1]
        job_gap += (q.t1 - q.t0) - _union(clipped)

    intervals = [(s.t0, s.t1, s.depth, s.layer) for s in inside]
    intervals += [(b[0], b[0] + b[2].get("triggerExecution", 0) / 1e3, _DEPTH_BATCH, "streaming")
                  for b in batches]
    intervals += [(a, b, _DEPTH_JOB, "spark") for a, b in job_iv]
    intervals += [(s["t0"], s["t1"] or t1, _DEPTH_STAGE, "spark") for s in stages]
    self_s = _self_times(intervals + [(t0, t1, -1, "harness")], t0, t1)

    def stage_sum(key):
        return sum(s[key] for s in stages)

    action_s = total("action")
    query_s = total("query")
    input_bytes = stage_sum("input_bytes")
    written = stage_sum("output_bytes")
    task_run_s = stage_sum("run_s")
    out = {
        "sources.load_calls": count("load"),
        "sources.input_bytes": input_bytes,
        "plans.build_s": total("build"),
        "plans.build_jobs": sum(
            1 for j in jobs if any(b.t0 <= j["t0"] <= b.t1 for b in builds)
        ),
        "operators.action_s": action_s,
        "operators.kmeans.fits": count("kmeans"),
        "operators.kmeans.fit_s": outermost("kmeans"),
        "storage.write_calls": count("write"),
        "storage.read_calls": count("read"),
        "storage.write_s": outermost("write"),
        "storage.read_s": outermost("read"),
        "storage.bytes_written": written,
        "storage.write_amp": written / input_bytes if input_bytes else 0.0,
        "streaming.batches": len(batches),
        "streaming.add_batch_ms": sum(b[2].get("addBatch", 0) for b in batches),
        "streaming.query_planning_ms": sum(b[2].get("queryPlanning", 0) for b in batches),
        "streaming.wal_commit_ms": sum(b[2].get("walCommit", 0) for b in batches),
        "functions.python_rows": sum(p["rows"] for p in py_nodes),
        "functions.python_s": sum(p["run_s"] for p in py_nodes),
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": stage_sum("tasks"),
        "spark.job_gap_s": job_gap,
        "spark.task_run_s": task_run_s,
        "spark.task_cpu_s": stage_sum("cpu_s"),
        "spark.gc_s": stage_sum("gc_s"),
        "spark.shuffle_write_bytes": stage_sum("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": stage_sum("shuffle_read_bytes"),
        "spark.spill_bytes": stage_sum("spill_bytes"),
        # tasks run during build too (fn() may launch jobs), so the
        # busy fraction is over the whole query wall
        "spark.busy_frac": task_run_s / (query_s * cores) if query_s else 0.0,
    }
    for layer, secs in self_s.items():
        out[f"{layer}.self_s"] = secs
    out["trace.pass_s"] = t1 - t0
    return out


def median_ledger(ledgers: list[dict]) -> dict:
    """The ledger of the pass with the median wall, so that its self
    times still sum to its own wall."""
    ordered = sorted(ledgers, key=lambda lg: lg["trace.pass_s"])
    return ordered[(len(ordered) - 1) // 2]
