#!/usr/bin/env python3
"""Repository benchmark: one closed-loop client against one Spark session.

Usage (from the repository root)::

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (``BENCHMARK.json`` says why each exists):

- ``refine_interactive``: one ``Engine`` serves seeded drill-down chains
  of small CP queries; caches are never cleared.
- ``operator_mix``: non-CP registry workloads, one cold pass in a fixed
  order.

Each run generates its inputs from ``--seed`` (the dataset itself is
fixed, see ``dataset.py``), sets up the session several times and keeps
the last one, runs the workload's warm-up operations, then a fixed
number of operations sized so that they take about ``--seconds`` at the
time the benchmark was defined, and checks every result against its
oracle (outside the timed spans). The gated metrics are set-up time and
what each operation costs: CPU seconds of the whole process tree, Spark
jobs, and the heap left held. Client wall-clock latency is reported
with the per-layer metrics. The last stdout line is the result JSON;
progress goes to stderr.

``--trace 1`` runs every operation twice back to back, untraced and
with spans and per-job-group Spark counters, prints the per-layer
metrics, writes the spans to ``perfbench/.work/trace/`` and reports the
mean latency difference as the tracing overhead.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

SETUP_REPEATS = 3
# client.latency_tail_s is the highest percentile with this many samples beyond
# it (the third-slowest operation): p88 of 18 refine_interactive queries,
# p80 of 11 operator_mix operations. Ten beyond would need ~100
# operations per run, which the run budget cannot hold.
TAIL_BEYOND = 2
ACTIONS = ("all", "limit", "exact", "tighten", "relax")
STRATEGIES = ("window", "sparse", "pandas")

# operator_mix: registry workloads in this fixed order, each mapped to
# the module that does its work: at least one per module the mix covers,
# taken from bench.py's frozen set and the graph operators, so that one
# cold pass takes ~20 s on 4 cores. The full 20-name set (~68 s cold,
# plus the IVF-PQ layout build for pipe_ann_ivfpq_serve) does not fit
# the run budget.
MIX_MODULES = {
    "sql_q3_topk_join": "sql",
    "sql_events_rollup": "sql",
    "pipe_dedup_minhash_lsh": "dedup",
    "pipe_dsir_importance": "sampling",
    "pipe_ann_cosine_topk": "simsearch",
    "pipe_search_tfidf": "search",
    "stream_windowed_rollup": "streaming.windows",
    "ops_sessionize": "sessions",
    "ts_anomaly_mad": "timeseries",
    "pipe_unigram_segment": "textops",
    "graph_clustering_coeff": "graph",
}
MIX_LAYERS = (
    "graph", "dedup", "simsearch", "search", "textops", "timeseries",
    "sessions", "sampling", "streaming.windows",
)


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def _isolate_scratch() -> None:
    """Keep the files Spark, the JVM and Python write inside the checkout."""
    import tempfile

    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData: each JVM (the launcher's too) would otherwise
    # write /tmp/hsperfdata_*. -XX:-UseDynamicNumberOfCompilerThreads
    # keeps the JIT compiler threads alive, so their CPU stays apart from
    # the rest in /proc (see _tree_cpu_s)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{jvm_opts}" pyspark-shell'



_T0 = time.time()


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# operations
# ---------------------------------------------------------------------------


@dataclass
class OpResult:
    idx: int
    kind: str  # CP: expected action; mix: registry name
    start: float
    latency: float
    rows: list | None = None
    error: str | None = None
    action: str | None = None  # ExecutionInfo.action
    strategy: str | None = None
    udf_size: int = 0
    n_rows: int = 0
    phases: dict = field(default_factory=dict)  # job group -> PhaseStats
    ok: bool = False


class CPWorkload:
    """A seeded stream of CP queries served by one long-lived Engine."""

    name = "refine_interactive"

    def __init__(self, seconds: int, seed: int):
        self.seconds = seconds
        self.seed = seed

    def prepare(self, sf_dir: str) -> None:
        from perfbench import cpgen, dataset

        series = cpgen.Series(dataset.events_cents(sf_dir))
        # operation counts are fixed per --seconds (one pass over the
        # chain schedule per 20 s; a query takes about a second on 4
        # cores), so same-seed runs do identical work and repeat every count
        n_chains = len(cpgen.CHAIN_SCHEDULE) * max(1, round(self.seconds / 20.0))
        self.queries = cpgen.interactive_stream(series, self.seed, n_chains)
        self.warm = cpgen.warm_stream(series, self.seed)
        self.profile = cpgen.stream_profile(self.queries)

    def setup(self, spark, sf_dir: str, tracer) -> dict:
        from query_refinement_dsit_databases_2021_spark import workloads as wl
        from query_refinement_dsit_databases_2021_spark.plans.executor import Engine

        wl.register_views(spark, sf_dir)
        engine = Engine(spark)
        engine.register_series("events_series", spark.sql(wl.SERIES_SQL))
        with tracer.span("setup.warmup"):
            # one refined window query compiles the most common path and
            # the refinement; the first pandas and sparse queries of the
            # stream pay their own compilation (warming them too would
            # add ~10 s to every run, over its three set-ups)
            engine.execute(
                "SELECT time_id, offset IN_DOMAIN [101, 160], [5, 12]\n"
                "FROM events_series.y\nWHERE avg_amp() in [40.5, 60.5] MAX\n"
                "LIMIT REFINED 10"
            ).collect()
        return {"engine": engine}

    def ops(self):
        return [(q.action, q) for q in self.queries]

    def warm_ops(self):
        return [(q.action, q) for q in self.warm]

    def run_op(self, state, q, res: OpResult, tracer, counters) -> None:
        engine = state["engine"]
        if counters is not None:
            counters.set_group(f"{res.idx}:execute")
        df = engine.execute(q.text)
        if counters is not None:
            counters.set_group(f"{res.idx}:consume")
        with tracer.span("plans.executor.consume"):
            res.rows = df.collect()
        info = engine.last_info
        res.action, res.strategy, res.udf_size = info.action, info.strategy, info.udf_size

    def check(self, q, res: OpResult) -> bool:
        return q.check(res.rows)


class MixWorkload:
    """The non-CP registry workloads, run in a fixed order."""

    name = "operator_mix"

    def __init__(self, seconds: int):
        self.seconds = seconds

    def prepare(self, sf_dir: str) -> None:
        from perfbench import registry_oracle
        from query_refinement_dsit_databases_2021_spark.workloads import workloads

        self.registry = workloads()
        names = list(MIX_MODULES)
        # the inputs are the fixed dataset and order, so the seed changes
        # nothing here; one pass per ~20 s of --seconds
        passes = max(1, round(self.seconds / 20.0))
        self.names = names * passes
        self.expected = registry_oracle.oracle_rows(
            os.path.join(WORK, "oracle"), sf_dir, names, self.registry
        )
        self.profile = {"queries": len(self.names), "passes": passes, "order": names}

    def setup(self, spark, sf_dir: str, tracer) -> dict:
        from query_refinement_dsit_databases_2021_spark import workloads as wl

        wl.register_views(spark, sf_dir)
        with tracer.span("setup.warmup"):
            spark.range(1_000_000).selectExpr("sum(id)").collect()
        return {"sf_dir": sf_dir}

    def ops(self):
        return [(n, n) for n in self.names]

    def warm_ops(self):
        return []

    def run_op(self, state, name, res: OpResult, tracer, counters) -> None:
        if counters is not None:
            counters.set_group(f"{res.idx}:fn")
        with tracer.span("workloads.fn"):
            df = self.registry[name].fn(state["spark"], state["sf_dir"])
        if counters is not None:
            counters.set_group(f"{res.idx}:collect")
        with tracer.span("result.collect"):
            res.rows = df.collect()

    def check(self, name, res: OpResult) -> bool:
        from perfbench.registry_oracle import normalise

        return normalise(res.rows) == self.expected[name]


# ---------------------------------------------------------------------------
# session lifecycle
# ---------------------------------------------------------------------------


def _start(workload, sf_dir, tracer, cpus):
    from query_refinement_dsit_databases_2021_spark import session

    with tracer.span("setup"):
        spark = session.get_spark(
            app_name=f"perfbench:{workload.name}",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
        )
        state = workload.setup(spark, sf_dir, tracer)
    state["spark"] = spark
    return state


def _stop_jvm() -> None:
    """Stop the active session, then the JVM, and wait for it to exit."""
    import subprocess

    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _tree_cpu_s() -> tuple[float, float]:
    """(all, JIT) CPU seconds used so far by this process and its
    descendants (the JVM, the Python workers): live processes' own time
    plus the time of the children they have reaped; JIT is the JVM's
    compiler threads."""
    tick = os.sysconf("SC_CLK_TCK")

    def stat(path):
        with open(path) as fh:
            return fh.read().rsplit(")", 1)[1].split()

    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                f = stat(f"/proc/{pid}/stat")
            except OSError:
                continue
            procs[int(pid)] = (int(f[1]), sum(int(v) for v in f[11:15]))
    mine, todo = set(), [os.getpid()]
    while todo:
        pid = todo.pop()
        mine.add(pid)
        todo.extend(p for p, (ppid, _) in procs.items() if ppid == pid)
    jit = 0
    for pid in mine:
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if "CompilerThre" in fh.read():
                        jit += sum(int(v) for v in stat(f"/proc/{pid}/task/{tid}/stat")[11:13])
        except OSError:
            continue
    return sum(procs[p][1] for p in mine if p in procs) / tick, jit / tick


def _held_memory(spark, counters) -> tuple[int, int, int]:
    """(persisted RDDs, bytes they hold, JVM heap bytes in use) after
    forced Python and JVM GC. Reads until two successive readings
    agree (the storage exactly, the heap within 0.5%): the heap keeps
    shrinking for a few collections while Spark's cleaner releases
    broadcasts and shuffle state asynchronously."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    last = None
    for _ in range(20):
        gc.collect()
        jvm.System.gc()
        time.sleep(0.5)
        cur = (
            spark.sparkContext._jsc.sc().getPersistentRDDs().size(),
            counters.storage_bytes(),
            rt.totalMemory() - rt.freeMemory(),
        )
        if last is not None and cur[:2] == last[:2] and abs(cur[2] - last[2]) <= 0.005 * last[2]:
            break
        last = cur
    return cur


# ---------------------------------------------------------------------------
# the timed loop
# ---------------------------------------------------------------------------


def _run_one(workload, state, kind, op, idx, tracer, counters) -> OpResult:
    """One operation, timed from issue until its rows are on the driver.
    With ``counters`` it runs traced: under a root span and one Spark job
    group per phase, read after the timed span closes."""
    res = OpResult(idx, kind, time.time(), 0.0)
    t0 = time.perf_counter()
    try:
        if counters is None:
            workload.run_op(state, op, res, _NULL_TRACER, None)
        else:
            tracer.op = idx
            with tracer.span("op"):
                workload.run_op(state, op, res, tracer, counters)
    except Exception as e:  # noqa: BLE001 - a failed operation is a result
        res.error = f"{type(e).__name__}: {e}"
    res.latency = time.perf_counter() - t0
    if counters is not None:
        tracer.op = None
        counters.set_group(None)
        for phase in ("execute", "consume", "fn", "collect"):
            st = counters.read(f"{idx}:{phase}")
            if st.jobs:
                res.phases[phase] = st
    res.ok = res.error is None and workload.check(op, res)
    res.n_rows = len(res.rows or ())
    res.rows = None
    log(
        f"op {idx:3d} {kind:24s} {res.strategy or '':7s} {res.latency:8.3f}s "
        f"rows={res.n_rows} {'traced ' if counters else ''}"
        f"{'ok' if res.ok else 'FAILED ' + (res.error or 'wrong rows')}"
    )
    return res


def run_ops(workload, state, tracer, counters, trace: bool):
    """The closed loop. Untraced: every operation once. Traced: every
    operation twice back to back, once untraced and once traced, so the
    tracing overhead is a paired difference. The second execution of a
    query is faster (Spark reuses its generated code), so the order
    alternates between pairs. Checks run after the timed span of each
    operation, outside it."""
    untraced, traced = [], []
    for i, (kind, op) in enumerate(workload.ops()):
        order = (False, True) if i % 2 == 0 else (True, False)
        for run_traced in order if trace else (False,):
            if run_traced:
                tracer.install()
                traced.append(_run_one(workload, state, kind, op, 2 * i + 1, tracer, counters))
                tracer.remove()
            else:
                untraced.append(_run_one(workload, state, kind, op, 2 * i, tracer, None))
    return untraced, traced


class _NullTracer:
    def span(self, name):
        return contextlib.nullcontext()


_NULL_TRACER = _NullTracer()


def _tail(values: list[float]) -> float:
    s = sorted(values)
    return s[max(0, len(s) - 1 - TAIL_BEYOND)]


def end_to_end(results: list[OpResult], setup_times: list[float], heap_bytes: int,
               cpu_s: float, n_jobs: int) -> dict:
    n = len(results)
    return {
        "setup_s": (statistics.median(setup_times), "s"),
        "cpu_s_per_op": (cpu_s / n, "s"),
        "jobs_per_op": (n_jobs / n, "jobs"),
        "heap_after_gc_mb": (heap_bytes / 1e6, "MB"),
    }


def client_latency(results: list[OpResult]) -> dict:
    """What the client waits for, per operation (wall clock)."""
    lat = [r.latency for r in results]
    return {
        "client.latency_p50_s": (statistics.median(lat), "s"),
        "client.latency_geomean_s": (statistics.geometric_mean(lat), "s"),
        "client.latency_tail_s": (_tail(lat), "s"),
        "client.ops_per_s": (len(lat) / sum(lat), "ops/s"),
    }


def per_layer(untraced, traced, tracer, setup_spans, persisted, held_bytes, jit_cpu_s) -> dict:
    from perfbench.tracing import PhaseStats

    n = len(traced)
    tot = PhaseStats()
    gap = 0.0
    for r in traced:
        op = PhaseStats()
        for st in r.phases.values():
            op.add(st)
        tot.add(op)
        gap += r.latency - op.busy_s(r.start, r.start + r.latency)
    ids = {r.idx for r in traced}
    self_t = tracer.self_times(ids)
    calls = tracer.counts(ids)
    m: dict[str, tuple[float, str]] = {
        **client_latency(untraced),
        "jvm.jit_cpu_s_per_op": (jit_cpu_s / (len(untraced) + n), "s"),
        "spark.jobs_per_op": (tot.jobs / n, "jobs"),
        "spark.stages_per_op": (tot.stages / n, "stages"),
        "spark.tasks_per_op": (tot.tasks / n, "tasks"),
        "spark.driver_gap_s_per_op": (gap / n, "s"),
        "spark.executor_run_s_per_op": (tot.executor_run_s / n, "s"),
        "spark.executor_cpu_s_per_op": (tot.executor_cpu_s / n, "s"),
        "spark.jvm_gc_s": (tot.jvm_gc_s, "s"),
        "spark.shuffle_write_bytes_per_op": (tot.shuffle_write_bytes / n, "bytes"),
        "spark.shuffle_read_bytes_per_op": (tot.shuffle_read_bytes / n, "bytes"),
        "spark.spill_bytes": (tot.spill_bytes, "bytes"),
        "spark.input_bytes_per_op": (tot.input_bytes / n, "bytes"),
        "spark.persisted_rdds_end": (persisted, "count"),
        "spark.held_storage_mb": (held_bytes / 1e6, "MB"),
    }
    cp = [r for r in traced if r.action is not None]
    ncp = max(1, len(cp))
    for name, span in (
        ("plans.parser.parse_s", "plans.parser.parse"),
        ("plans.domains.resolve_s", "plans.domains.resolve"),
        ("plans.executor.execute_s", "plans.executor.execute"),
        ("plans.executor.consume_s", "plans.executor.consume"),
        ("operators.candidates.build_s_per_op", "operators.candidates.build"),
    ):
        m[name] = (self_t.get(span, 0.0) / ncp, "s")
    for a in ACTIONS:
        rs = [r for r in cp if r.action == a]
        jobs = sum(st.jobs for r in rs for st in r.phases.values())
        m[f"plans.executor.jobs.{a}"] = (jobs / len(rs) if rs else 0.0, "jobs")
        m[f"plans.executor.action_share.{a}"] = (len(rs) / ncp, "fraction")
    for s in STRATEGIES:
        m[f"operators.candidates.share.{s}"] = (
            sum(1 for r in cp if r.strategy == s) / ncp, "fraction"
        )
    returned = sum(r.n_rows for r in cp)
    m["operators.candidates.candidates_per_result"] = (
        sum(r.udf_size for r in cp) / returned if returned else 0.0, "ratio"
    )
    m["operators.candidates.candidates_per_s"] = (
        sum(r.udf_size for r in untraced) / sum(r.latency for r in untraced),
        "candidates/s",
    )
    for layer in MIX_LAYERS + ("sql",):
        rs = [r for r in traced if MIX_MODULES.get(r.kind) == layer]
        key = "sql" if layer == "sql" else f"operators.{layer}"
        m[f"{key}.op_s"] = (statistics.fmean(r.latency for r in rs) if rs else 0.0, "s")
        if layer == "sql":
            continue
        jobs = sum(st.jobs for r in rs for st in r.phases.values())
        shuffle = sum(
            st.shuffle_read_bytes + st.shuffle_write_bytes
            for r in rs for st in r.phases.values()
        )
        m[f"{key}.jobs"] = (jobs / len(rs) if rs else 0.0, "jobs")
        m[f"{key}.shuffle_bytes"] = (shuffle / len(rs) if rs else 0.0, "bytes")
    m["operators.materialize.calls"] = (calls.get("operators.materialize", 0), "count")
    m["operators.materialize.s"] = (self_t.get("operators.materialize", 0.0), "s")
    m["setup.cold_s"] = (setup_spans[0].get("setup", 0.0), "s")
    for name, span in (
        ("session.get_spark_s", "session.get_spark"),
        ("workloads.register_views_s", "workloads.register_views"),
        ("setup.warmup_s", "setup.warmup"),
    ):
        m[name] = (statistics.median(s.get(span, 0.0) for s in setup_spans), "s")
    m["trace.overhead_s_per_op"] = (
        statistics.fmean(r.latency for r in traced)
        - statistics.fmean(r.latency for r in untraced),
        "s",
    )
    m["check.failed_frac"] = (
        sum(1 for r in traced + untraced if not r.ok) / (len(traced) + len(untraced)),
        "fraction",
    )
    return m


WORKLOADS = ("refine_interactive", "operator_mix")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import query_refinement_dsit_databases_2021_spark  # noqa: F401
    except ImportError as e:
        log(f"the package is not importable from {ROOT}: {e}")
        return 2
    _isolate_scratch()
    from perfbench import dataset
    from perfbench.tracing import SparkCounters, Tracer

    cpus = _cpus()
    sf_dir = dataset.ensure_dataset(os.path.join(WORK, "data"))
    if args.workload == "operator_mix":
        workload = MixWorkload(args.seconds)
    else:
        workload = CPWorkload(args.seconds, args.seed)
    log("dataset ready")
    workload.prepare(sf_dir)
    log(f"{args.workload} seed={args.seed}: {json.dumps(workload.profile)}")

    tracer = Tracer()
    if args.trace:
        tracer.install()
    setup_times, setup_spans, state = [], [], None
    try:
        for _ in range(SETUP_REPEATS):
            if state is not None:
                state["spark"].stop()
            n0 = len(tracer.spans)
            t0 = time.perf_counter()
            state = _start(workload, sf_dir, tracer, cpus)
            setup_times.append(time.perf_counter() - t0)
            spans = {}
            for s in tracer.spans[n0:]:
                spans[s.name] = spans.get(s.name, 0.0) + (s.end - s.start)
            setup_spans.append(spans)
        log("setup done; setup_s: " + ", ".join(f"{t:.3f}" for t in setup_times))
        tracer.remove()
        warm = [
            _run_one(workload, state, kind, op, -1 - i, tracer, None)
            for i, (kind, op) in enumerate(workload.warm_ops())
        ]
        counters = SparkCounters(state["spark"])
        cpu0, jobs0 = _tree_cpu_s(), counters.ungrouped_jobs()
        untraced, traced = run_ops(workload, state, tracer, counters, bool(args.trace))
        cpu1, jobs1 = _tree_cpu_s(), counters.ungrouped_jobs()
        cpu_s = (cpu1[0] - cpu0[0], cpu1[1] - cpu0[1])
        n_jobs = len(jobs1 - jobs0)
        log(f"ops done; {cpu_s[0]:.1f} s CPU ({cpu_s[1]:.1f} s JIT), {n_jobs} jobs outside job groups")
        persisted, held, heap = _held_memory(state["spark"], counters)
    finally:
        _stop_jvm()
    log("jvm stopped")
    results = warm + untraced + traced
    failed = sum(1 for r in results if not r.ok)
    if args.trace:
        metrics = per_layer(untraced, traced, tracer, setup_spans, persisted, held, cpu_s[1])
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        stem = os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}")
        tracer.write(stem + ".spans.jsonl")
        with open(stem + ".layers.json", "w") as fh:
            json.dump({"profile": workload.profile, "metrics": metrics}, fh, indent=1)
        for name, (v, unit) in metrics.items():
            log(f"  {name:48s} {v:14.6g} {unit}")
    else:
        metrics = end_to_end(untraced, setup_times, heap, cpu_s[0], n_jobs)
        for name, (v, unit) in metrics.items():
            log(f"  {name:20s} {v:12.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(results),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
