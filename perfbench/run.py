"""Seeded benchmark of the query engine.

    python3 perfbench/run.py --workload mr_floor --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One run:

1. generates the workload's inputs from --seed (perfbench/gen.py);
2. starts a SparkSession through `session.get_spark` on local[nproc]
   with a fixed driver heap below physical memory, and runs
   `WARMUP_PASSES` untimed warm-up passes, the first of which collects
   every query's rows;
3. starts timed passes until --seconds have gone by; each pass starts
   after a Python and JVM garbage collection and runs every query
   through the registry's `spec.fn(spark, dir)` and a `noop` sink, the
   way bench.py runs it;
4. stops Spark and checks the collected rows against each query's
   DuckDB oracle (tests/duck_oracle.py rules), caching oracle results
   per (inputs, query, oracle text).

With --trace 0 it reports the end-to-end metrics; with --trace 1 it
runs one more warm-up pass, alternates untraced and traced passes in
the window (at least `TRACE_MIN_PASSES` of them) and reports the
per-layer metrics of perfbench/tracing.py. Every file it writes stays under
.perfbench/ in the checkout. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}; the line before it
carries run details (load, pass walls, drift, oracle verdicts).
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PKG = "mapreduce_distributed_systems_spark"

FLOOR_PROBES = 5
# untimed passes before the window. The JIT keeps compiling for many
# passes, so passes keep getting faster; a second warm-up pass did not
# flatten the window and cost a share of the run budget that the window
# uses better (perfbench/README.md, "Steadiness").
WARMUP_PASSES = 1
# with --trace, the window runs at least U T T U
TRACE_MIN_PASSES = 4
DRIVER_MEM_MB = 4096

sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracing  # noqa: E402


@dataclass(frozen=True)
class Workload:
    profile: str  # a gen.PROFILES key
    queries: tuple[str, ...]


# Why each workload exists is in BENCHMARK.json. Every run pays for a JVM
# start, a cold warm-up pass and the oracle check, so the workloads are
# few and their query lists short: the 48 runs of a comparison must fit in
# under an hour even when a shared machine runs 30 % slower.
WORKLOADS = {
    "mr_floor": Workload(
        "small",
        (
            "wc",
            "inverted_index",
            # a join and hash aggregate with integer results: TPC-H Q1,
            # Q3 and Q5 round sums of price * (1 - discount) to cents,
            # and on some seeds the exact sum is a half-cent tie that the
            # engine and the oracle round apart
            "q12_ship_priority",
            "window_running_total",
            "events_tumbling_streaming_append",
            # an IVF index build, commit, read and append: storage writes
            # and reads, the k-means fit and the Python/Arrow kernel
            "ann_ivf_index_append",
        ),
    ),
    # quality gate, exact dedup and MinHash-LSH near-dup removal in one plan
    "curate_x10": Workload("corpus", ("pipeline_clean_corpus",)),
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_environment(run_dir: str) -> dict:
    """Session settings for this box; every scratch path inside run_dir."""
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    mem_mb = min(DRIVER_MEM_MB, phys_mb // 3)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_mb}m",
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        # Python workers import the package from the checkout
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "cpus": cpus,
        "driver_mem_mb": mem_mb,
        "conf": {
            "spark.local.dir": os.path.join(run_dir, "spark_local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # a fixed heap: a growable one shrinks at each pass's full GC
            # and regrows during the pass, and the passes then keep
            # speeding up for the whole window
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem_mb}m",
            "spark.ui.showConsoleProgress": "false",
            # keep every job, stage and SQL execution of the run for the trace
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    }


class Runner:
    """Runs passes over a workload's queries and counts executions."""

    def __init__(self, spark, sf_dir, specs, tracer):
        self.spark, self.sf_dir, self.specs, self.tracer = spark, sf_dir, specs, tracer
        self.attempted = dict.fromkeys(specs, 0)
        self.raised = dict.fromkeys(specs, 0)
        self.rows: dict[str, tuple[list, list]] = {}
        self.pass_spans: list[tracing.Span] = []

    def one_pass(self, collect: bool = False) -> dict[str, float]:
        """Run every query once; returns each query's build + action wall."""
        tr = self.tracer
        tr.root()
        walls = {}
        with tr.span("pass", "harness", "pass"):
            for name, spec in self.specs.items():
                self.attempted[name] += 1
                t0 = time.perf_counter()
                try:
                    with tr.span(name, "harness", "query"):
                        with tr.span("build", "plans", "build"):
                            df = spec.fn(self.spark, self.sf_dir)
                        with tr.span("action", "operators", "action"):
                            if collect:
                                self.rows[name] = (df.columns, [tuple(r) for r in df.collect()])
                            else:
                                df.write.format("noop").mode("overwrite").save()
                except Exception:  # a failing query is counted; the run goes on
                    self.raised[name] += 1
                    log(f"{name} raised:\n{traceback.format_exc()}")
                walls[name] = time.perf_counter() - t0
                self.spark.catalog.clearCache()
        if tr.enabled:
            self.pass_spans.append(tr.spans[-1])
        return walls


def cpu_ticks() -> list[int]:
    """The machine-wide `cpu` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def load_duck_oracle():
    path = os.path.join(ROOT, "tests", "duck_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_duck_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(columns, rows, normalize) -> dict:
    norm = normalize(list(columns), rows)
    return {
        "columns": sorted(columns),
        "rows": len(norm),
        "sha256": hashlib.sha256(repr(norm).encode()).hexdigest(),
    }


def check_oracles(runner: Runner, sf_dir: str, inputs_key: str, cpus: int) -> dict[str, str]:
    """Verdict per query: match, mismatch, or no-rows (the query raised)."""
    duck = load_duck_oracle()
    cache_dir = os.path.join(WORK, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    verdicts, con = {}, None
    try:
        for name, spec in runner.specs.items():
            if name not in runner.rows:
                verdicts[name] = "no-rows"
                continue
            key = hashlib.sha256(f"{inputs_key}|{name}|{spec.oracle}".encode()).hexdigest()
            path = os.path.join(cache_dir, f"{key}.json")
            if os.path.exists(path):
                with open(path) as f:
                    expected = json.load(f)
            else:
                if con is None:
                    con = duck.duck_connect(sf_dir)
                    con.execute(f"SET threads = {cpus}")
                cur = con.execute(spec.oracle)
                expected = digest([c[0] for c in cur.description], cur.fetchall(), duck.normalize)
                with open(path + ".tmp", "w") as f:
                    json.dump(expected, f)
                os.replace(path + ".tmp", path)
            got = digest(*runner.rows[name], duck.normalize)
            verdicts[name] = "match" if got == expected else "mismatch"
    finally:
        if con is not None:
            con.close()
    return verdicts


def run(args, wl, run_dir: str, load_1m: float) -> int:
    env = pin_environment(run_dir)
    sys.path.insert(0, ROOT)

    sf_dir = os.path.join(run_dir, "inputs")
    t = time.perf_counter()
    table_rows = gen.generate(sf_dir, wl.profile, args.seed)
    gen_s = time.perf_counter() - t
    with open(gen.__file__, "rb") as f:
        inputs_key = f"{wl.profile}|{args.seed}|{hashlib.sha256(f.read()).hexdigest()}"

    from mapreduce_distributed_systems_spark.plans.registry import get_spec
    from mapreduce_distributed_systems_spark.session import get_spark

    specs = {q: get_spec(q) for q in wl.queries}
    tracer = tracing.Tracer()

    # -- set-up: session start through the end of the warm-up ---------
    t_setup = time.perf_counter()
    spark = get_spark(f"perfbench_{args.workload}", extra_conf=env["conf"])
    session_s = time.perf_counter() - t_setup
    try:
        runner = Runner(spark, sf_dir, specs, tracer)
        # the cold pass collects the rows for the oracle check
        warmup = [runner.one_pass(collect=True)]
        # with --trace one more: the traced and untraced passes compared
        # for the overhead should both start past the steep first speed-up
        warmup += [runner.one_pass() for _ in range(WARMUP_PASSES - 1 + args.trace)]
        setup_s = time.perf_counter() - t_setup

        progress: list = []
        floor_s = None
        if args.trace:
            spark.streams.addListener(tracing.make_progress_listener(progress))
            probes = []
            for _ in range(FLOOR_PROBES):
                t = time.perf_counter()
                spark.range(1).write.format("noop").mode("overwrite").save()
                probes.append(time.perf_counter() - t)
            floor_s = statistics.median(probes)

        # -- timed window: passes start until --seconds have gone by.
        # With --trace, untraced and traced passes alternate as
        # U T T U U T ..., so that drift over the window cancels out of
        # the tracing overhead
        passes, traced_passes = [], []
        ticks0 = cpu_ticks()
        t_window = time.perf_counter()
        while (time.perf_counter() - t_window < args.seconds
               or (args.trace and len(passes) + len(traced_passes) < TRACE_MIN_PASSES)):
            # every timed pass starts from collected Python and JVM heaps
            gc.collect()
            spark._jvm.System.gc()
            if args.trace and (len(passes) + len(traced_passes)) % 4 in (1, 2):
                tracer.install()
                try:
                    traced_passes.append(runner.one_pass())
                finally:
                    tracer.uninstall()
            else:
                passes.append(runner.one_pass())
        window_s = time.perf_counter() - t_window
        ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]

        ledger = None
        if args.trace:
            time.sleep(0.5)  # let the status store and listener drain
            store = tracing.read_status_store(spark)
            ledger = tracing.median_ledger([
                tracing.pass_ledger(p, tracer.spans, store, progress, env["cpus"])
                for p in runner.pass_spans
            ])
    finally:
        stop_spark(spark)

    verdicts = check_oracles(runner, sf_dir, inputs_key, env["cpus"])
    # a query whose output mismatches fails on every execution of the run
    failed = sum(
        runner.attempted[q] if verdicts[q] == "mismatch" else runner.raised[q]
        for q in specs
    )
    attempted = sum(runner.attempted.values())
    walls = [sum(p.values()) for p in passes]
    traced_walls = [sum(p.values()) for p in traced_passes]
    wall_s = statistics.median(walls)
    half = len(walls) // 2
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "cpus": env["cpus"],
        "driver_mem_mb": env["driver_mem_mb"],
        "loadavg_1m": load_1m,
        "inputs": table_rows,
        "gen_s": round(gen_s, 3),
        "session_s": round(session_s, 3),
        "warmup_walls": [round(sum(p.values()), 3) for p in warmup],
        "query_walls": {q: [round(p[q], 3) for p in passes] for q in specs},
        "pass_walls": [round(w, 3) for w in walls],
        "traced_walls": [round(w, 3) for w in traced_walls],
        "window_s": round(window_s, 3),
        # CPU time the hypervisor gave to other guests during the window
        "steal_frac": round(ticks[7] / sum(ticks), 4),
        "idle_frac": round((ticks[3] + ticks[4]) / sum(ticks), 4),
        # median of the later half of the passes over the earlier half:
        # above 1 means the session slowed down during the window
        "drift": round(statistics.median(walls[half:]) / statistics.median(walls[:half]), 3)
        if half else None,
        "fail_frac": failed / attempted,
        "oracle": verdicts,
    }
    if args.trace:
        traced_wall = statistics.median(traced_walls)
        values = {"session.start_s": session_s, "spark.floor_s": floor_s, **ledger}
        values["trace.wall_s"] = traced_wall
        values["trace.untraced_wall_s"] = wall_s
        values["trace.overhead_s"] = traced_wall - wall_s
        values["trace.self_cover"] = (
            sum(ledger[f"{layer}.self_s"] for layer in tracing.LAYERS) / ledger["trace.pass_s"]
        )
        details["ledger"] = values
    else:
        values = {"wall_s": wall_s, "setup_s": setup_s}
    print(json.dumps(details), flush=True)

    # the metric names and units are those BENCHMARK.json declares
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared},
    }), flush=True)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        log(f"package {PKG!r} not found under {ROOT}; run from a checkout")
        return 2

    load_1m = os.getloadavg()[0]
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    try:
        return run(args, WORKLOADS[args.workload], run_dir, load_1m)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
