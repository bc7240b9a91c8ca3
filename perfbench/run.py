"""The engine's benchmark: one named workload of registered queries.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  Closed loop, one client: a single
process drives ``local[<nproc>]`` and runs one query at a time (call
the registered ``(spark, sf_dir)`` function, then ``write.format("noop")``);
the next starts only after the previous one returns.  ``--seed``
permutes the query order of every pass; the input tables are generated
once per checkout (``datagen.py``) and do not depend on it.

A run sets up once, from process start: imports, ``get_spark`` (which
launches the JVM) and the flagship warm-up query.  Then one cold pass,
whose results are fingerprinted and checked outside the timed region,
and ``--seconds / PASS_S`` warm passes (a fixed count, so every run
warms up alike).  Every execution is timed in wall-clock and in CPU
seconds; the gated warm metrics are CPU time, which a busy host moves
less (``cpu_seconds``).  With ``--trace 1`` as many traced passes follow, in
a fresh session with the event log on, and the run reports the
per-layer metrics and the tracing slowdown (traced over untraced warm
pass) instead of the end-to-end metrics.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
The full self-describing record (configuration, every query's times,
failures) and, when traced, the spans go to ``.bench_build/perfbench/out``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import spans  # noqa: E402
from fingerprint import fingerprint, load_expected, matches  # noqa: E402

SF = 0.01
# nominal wall time of one warm pass of either workload at ``local[4]``;
# it turns ``--seconds`` into a fixed pass count
PASS_S = 3.0
WARMUP_QUERY = "flagship_revenue_by_nation"
WORK_DIR = os.path.join(".bench_build", "perfbench")

WORKLOADS = {
    "batch": [
        # relational: many small table reads, one schema job each
        "flagship_revenue_by_nation",
        "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier_volume",
        # rank tests: eager size probes while the DataFrame is built
        "kruskal_wallis_events",
        "jonckheere_orders_priority",
    ],
    "streaming": [
        "stream_docs_pipeline",
        "stream_seasonal_gate",
        "stream_ewma",
    ],
}

END_TO_END = {"setup_s": "s", "warm_pass_cpu_s": "s", "query_p50_cpu_s": "s"}
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "io.load_calls": "count", "io.load_s": "s", "io.load_jobs": "count",
    "io.jobs_per_load": "ratio",
    "build.s": "s", "build.jobs": "count", "build.tasks": "count",
    **{f"ops.{m}.{k}": u for m in (*spans.OPS_MODULES, "other")
       for k, u in (("self_s", "s"), ("calls", "count"), ("jobs", "count"))},
    "streaming.drain_s": "s", "streaming.drains": "count",
    "streaming.batches": "count", "streaming.input_rows": "count",
    "plan.s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_s": "s", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "pins.held_rdds": "count", "pins.held_mb": "MB", "pins.end_mb": "MB",
    "jvm.gc_s": "s",
    "trace.warm_pass_s": "s", "trace.slowdown": "ratio",
    "wall.warm_pass_s": "s", "wall.query_p50_s": "s",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    out = [pid]
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids = f.read().split()
        except OSError:
            continue
        for kid in kids:
            out += _proc_tree(int(kid))
    return out


def _ticks(stat_path: str, fields: slice) -> int:
    """Sum of the given clock-tick fields of a ``/proc/.../stat`` file
    (counted after the command name); 0 if the task has exited."""
    try:
        with open(stat_path) as f:
            stat = f.read()
    except OSError:
        return 0
    return sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[fields])


# JVM threads that compile and sweep JIT code: warm-up work that lands
# in whichever query happens to be running, so it is left out
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def jit_thread_stats(pid: int) -> list[str]:
    """The ``stat`` files of the JIT threads of JVM ``pid``."""
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if comm.startswith(JIT_THREADS):
            out.append(f"/proc/{pid}/task/{tid}/stat")
    return out


def cpu_seconds(jit_stats: list[str]) -> float:
    """User + system CPU seconds used so far by this process and its
    descendants (the JVM and any Python workers, reaped children
    included), less those of the JIT threads ``jit_stats``.  The kernel
    does not count time the hypervisor stole from a virtual CPU as the
    process's, so this moves less with a busy host than wall time does."""
    total = sum(_ticks(f"/proc/{pid}/stat", slice(11, 15)) for pid in _proc_tree(os.getpid()))
    total -= sum(_ticks(path, slice(11, 13)) for path in jit_stats)
    return total / CLK_TCK


def steal_seconds() -> float:
    """CPU seconds the hypervisor has taken from this machine, summed
    over its CPUs (``/proc/stat``); recorded next to each run."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def git_commit() -> str | None:
    if not os.path.isdir(".git"):
        return None  # a plain source checkout carries no commit id
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() or None


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Bench:
    """One benchmark process: the Spark session, the query registry
    and everything measured so far."""

    def __init__(self, sf_dir: str, work: str, seed: int):
        self.sf_dir = sf_dir
        self.work = os.path.abspath(work)
        self.rng = random.Random(seed)
        self.spark = None
        self.queries = None
        self.tracer: spans.Tracer | None = None
        self.session_info: dict = {}
        self.setup_s = 0.0
        self.get_spark_s = 0.0
        self.attempted = 0
        self.failures: list[dict] = []
        self.verdicts: dict[str, str] = {}
        for sub in ("tmp", "spark-local", "warehouse", "eventlog", "out"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        self.event_dir = None
        self.jit_stats: list[str] = []

    # -- session -------------------------------------------------------
    def conf(self, traced: bool) -> dict[str, str]:
        w = self.work
        java_opts = (
            f"-Djava.io.tmpdir={w}/tmp -Dderby.system.home={w} "
            f"-Dlog4j2.configurationFile=file:{HERE}/log4j2.properties "
            # a fixed set of JIT threads that never exit, so their CPU
            # time can be read and left out of each query's
            "-XX:-UseDynamicNumberOfCompilerThreads"
        )
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": f"{w}/warehouse",
            "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
        }
        if traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file:{self.event_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def start_session(self, traced: bool = False) -> float:
        """Start the session; returns the seconds ``get_spark`` took."""
        from bubbles_spark.session import get_spark
        from pyspark import SparkContext

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{nproc()}]", extra_conf=self.conf(traced))
        elapsed = time.perf_counter() - t0
        self.jit_stats = jit_thread_stats(SparkContext._gateway.proc.pid)
        return elapsed

    def setup(self, t_start: float = T_START) -> None:
        """Set up once, timed from ``t_start`` (process start): imports,
        ``get_spark`` with its JVM launch, and the warm-up query."""
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.get_spark_s = self.start_session()
        self.run_query(WARMUP_QUERY, "setup")
        self.setup_s = time.perf_counter() - t_start
        sc = self.spark.sparkContext
        self.session_info = {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            "nproc": nproc(),
        }
        log(f"setup_s {self.setup_s:.3f} (get_spark {self.get_spark_s:.3f})")

    def resolve(self, names: list[str]) -> None:
        missing = [n for n in names if n not in self.queries]
        if missing:
            raise SystemExit(f"workload names not registered in __spark_entry__.queries(): {missing}")

    def shutdown(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- queries -------------------------------------------------------
    def run_query(self, name: str, qexec: str, traced: bool = False):
        """(``{"wall", "cpu"}`` seconds from calling the query function
        to the noop sink returning, the DataFrame); ``(None, None)`` when
        it raised, which counts as a failure."""
        self.attempted += 1
        tr = self.tracer
        c0 = cpu_seconds(self.jit_stats)
        t0 = time.perf_counter()
        try:
            if not traced:
                df = self.queries[name](self.spark, self.sf_dir)
                df.write.format("noop").mode("overwrite").save()
            else:
                with tr.span("query", name, qexec):
                    with tr.span("build", name):
                        df = self.queries[name](self.spark, self.sf_dir)
                    with tr.span("plan", name):
                        df._jdf.queryExecution().executedPlan()
                    with tr.span("exec", name):
                        df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - one failing query must not void the run
            self.fail(name, qexec, f"{type(exc).__name__}: {exc}"[:300])
            return None, None
        wall = time.perf_counter() - t0
        return {"wall": wall, "cpu": cpu_seconds(self.jit_stats) - c0}, df

    def fail(self, name: str, qexec: str, reason: str) -> None:
        self.failures.append({"query": name, "exec": qexec, "reason": reason})
        log(f"FAILED {name} ({qexec}): {reason}")

    def run_pass(self, names: list[str], label: str,
                 expected: dict | None = None) -> dict[str, dict | None]:
        """One pass over ``names`` in seeded random order; returns each
        query's wall and CPU seconds.  With ``expected``, each result is
        also fingerprinted after its timed execution and checked."""
        times: dict[str, dict | None] = {}
        for name in self.rng.sample(names, len(names)):
            times[name], df = self.run_query(name, f"{label}:{name}")
            if expected is not None and df is not None:
                self.check(name, df, expected.get(name))
        log(f"{label}: wall {pass_total(times, 'wall'):.3f}s cpu {pass_total(times, 'cpu'):.3f}s")
        return times

    def check(self, name: str, df, want: dict | None) -> None:
        try:
            ok, why = matches(fingerprint(df), want)
        except Exception as exc:  # noqa: BLE001
            ok, why = False, f"{type(exc).__name__}: {exc}"[:300]
        self.verdicts[name] = "ok" if ok else why
        if not ok:
            self.fail(name, "check", f"fingerprint: {why}")

    def held_storage(self) -> tuple[int, float]:
        """Cached RDD storage still held after Python and JVM GC."""
        gc.collect()
        self.spark._jvm.System.gc()
        time.sleep(1.0)  # the ContextCleaner unpersists asynchronously
        return spans.storage(self.spark)

    # -- traced window ---------------------------------------------------
    def traced_passes(self, names: list[str], count: int,
                      untraced_pass_s: float) -> tuple[dict, list]:
        """``count`` traced passes in a fresh session with the event log
        on.  Returns the per-pass layer metrics, with the slowdown over
        ``untraced_pass_s``, and the traced passes' times."""
        self.spark.stop()
        self.event_dir = tempfile.mkdtemp(dir=os.path.join(self.work, "eventlog"))
        self.start_session(traced=True)
        self.tracer = spans.Tracer()
        counter = spans.StreamCounter()
        self.spark.streams.addListener(counter.listener)
        self.tracer.install()
        peak = [0, 0.0]
        traced: list[dict] = []
        gc0 = spans.gc_seconds(self.spark)
        try:
            for i in range(count):
                traced.append({})
                for name in self.rng.sample(names, len(names)):
                    traced[i][name], _ = self.run_query(name, f"pass{i}:{name}", traced=True)
                    rdds, mb = spans.storage(self.spark)
                    peak[0], peak[1] = max(peak[0], rdds), max(peak[1], mb)
                log(f"traced{i}: wall {pass_total(traced[i], 'wall'):.3f}s")
        finally:
            self.tracer.uninstall()
        gc_s = spans.gc_seconds(self.spark) - gc0
        counter.settle()
        self.spark.streams.removeListener(counter.listener)
        _, end_mb = self.held_storage()
        self.spark.stop()  # closes the event log
        self.spark = None
        groups = spans.read_event_log(self.event_dir)
        shutil.rmtree(self.event_dir)
        m = spans.layer_metrics(self.tracer.spans, groups, count)
        m.update({
            "streaming.batches": counter.batches / count,
            "streaming.input_rows": counter.rows / count,
            "pins.held_rdds": peak[0],
            "pins.held_mb": peak[1],
            "pins.end_mb": end_mb,
            "jvm.gc_s": gc_s / count,
            "trace.warm_pass_s": pass_seconds(traced),
            "trace.slowdown": pass_seconds(traced) / untraced_pass_s,
        })
        return m, traced


def best_times(passes: list[dict[str, dict | None]], key: str) -> dict[str, float]:
    """Each query's best ``key`` (``wall`` or ``cpu``) seconds over
    ``passes``.  Interference (GC pauses, JIT warm-up still going on,
    other processes) only ever adds time, so the best of a few
    repetitions is the steadiest estimate."""
    best: dict[str, float] = {}
    for times in passes:
        for name, t in times.items():
            if t is not None:
                best[name] = min(t[key], best.get(name, t[key]))
    return best


def pass_total(times: dict[str, dict | None], key: str) -> float:
    return sum(t[key] for t in times.values() if t is not None)


def pass_seconds(passes: list[dict[str, dict | None]], key: str = "wall") -> float:
    """A steady pass: the sum over queries of each query's best time."""
    return sum(best_times(passes, key).values())


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the median when there are too few samples."""
    xs = sorted(values)
    if len(xs) < 21:
        return statistics.median(xs), 0.5
    return xs[len(xs) - 11], (len(xs) - 10) / len(xs)


def end_to_end(bench: Bench, cold: dict, warm: list[dict]) -> dict[str, float]:
    """The end-to-end figures of one run (``END_TO_END`` and the
    extras the record keeps)."""
    lat = [t["wall"] for times in warm for t in times.values() if t is not None]
    tail_s, tail_p = tail(lat) if lat else (0.0, 0.0)
    cpu, wall = best_times(warm, "cpu"), best_times(warm, "wall")
    return {
        "setup_s": bench.setup_s,
        "warm_pass_cpu_s": sum(cpu.values()),
        "query_p50_cpu_s": statistics.median(cpu.values()) if cpu else 0.0,
        "cold_pass_s": pass_total(cold, "wall"),
        "warm_pass_s": sum(wall.values()),
        "query_p50_s": statistics.median(wall.values()) if wall else 0.0,
        "query_tail_s": tail_s,
        "query_tail_percentile": tail_p,
        "warm_samples": len(lat),
    }


def per_layer(bench: Bench, layers: dict[str, float]) -> dict[str, dict]:
    """The ``--trace 1`` metrics; a layer the workload never entered reads 0."""
    layers = {**layers, "session.get_spark_s": bench.get_spark_s}
    return {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER_UNITS.items()}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help=f"measuring budget; warm passes = seconds / {PASS_S:g}")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark and its Python workers write inside the
    checkout, and let the workers import the engine."""
    root = os.getcwd()
    tmp = os.path.abspath(os.path.join(work, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.abspath(os.path.join(work, "spark-local"))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # a pandas deprecation notice that every Arrow-backed Python worker repeats
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning:pyspark.sql.pandas.serializers"
    if root not in sys.path:
        sys.path.insert(0, root)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (os.path.isfile("__spark_entry__.py") and os.path.isdir("bubbles_spark")):
        print("run from the root of a checkout of the engine "
              "(no __spark_entry__.py / bubbles_spark here)", file=sys.stderr)
        return 2
    names = WORKLOADS[args.workload]
    count = max(1, round(args.seconds / PASS_S))
    prepare_env(WORK_DIR)
    t_data = time.perf_counter()
    sf_dir = os.path.abspath(datagen.ensure(os.path.join(WORK_DIR, "data"), SF))
    t_start = T_START + time.perf_counter() - t_data  # the one-time data build is not set-up
    expected = load_expected(SF)

    bench = Bench(sf_dir, WORK_DIR, args.seed)
    steal0 = steal_seconds()
    try:
        bench.setup(t_start)
        bench.resolve(names)
        cold = bench.run_pass(names, "cold", expected=expected)
        warm = [bench.run_pass(names, f"warm{i}") for i in range(count)]
        if args.trace:
            layers, traced = bench.traced_passes(names, count, pass_seconds(warm))
    finally:
        bench.shutdown()

    e2e = end_to_end(bench, cold, warm)
    import pyspark

    record = {
        "workload": args.workload,
        "queries": names,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": SF,
        **bench.session_info,
        "pyspark": pyspark.__version__,
        "git_commit": git_commit(),
        "setup_s": bench.setup_s,
        "get_spark_s": bench.get_spark_s,
        "end_to_end": e2e,
        "warm_passes": len(warm),
        "per_query_s": {n: {"cold": cold.get(n), "warm": [ts.get(n) for ts in warm]} for n in names},
        "steal_s": steal_seconds() - steal0,
        "fingerprints": bench.verdicts,
        "failures": bench.failures,
        "attempted": bench.attempted,
    }
    out_dir = os.path.join(WORK_DIR, "out")
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if args.trace:
        layers.update({"wall.warm_pass_s": e2e["warm_pass_s"], "wall.query_p50_s": e2e["query_p50_s"]})
        metrics = per_layer(bench, layers)
        record["per_layer"] = {k: v["value"] for k, v in metrics.items()}
        record["traced_per_query_s"] = {n: [ts.get(n) for ts in traced] for n in names}
        bench.tracer.dump(stem + "-spans.jsonl")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    log(f"record: {stem}.json")
    failed = len(bench.failures)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
