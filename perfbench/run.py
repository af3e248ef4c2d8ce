"""roarspark benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The program is imported from the
checkout's ``mysteryann_spark`` package and runs on ``local[<cpus>]`` from
this one driver process. Inputs are generated from the seed under
``.perfbench_run/`` in the checkout, which the run clears at start and at
exit; all scratch (Spark local dirs, staged artifacts, temp files) lives
there too.

``--trace 0`` starts the session, prepares the inputs several times
(reporting the median), runs warm-up passes, then repeats the workload
body for ``--seconds`` (at least three times) and reports medians of the
end-to-end metrics. ``--trace 1`` prepares the inputs once with Spark's
event log on, runs the warm-up passes, then the body once untraced and
once with spans around the program's public functions, and reports the
per-layer metrics plus the tracing overhead. Every output is checked on
every pass; the last stdout line is the JSON result.

Times are CPU seconds of the whole process tree: this driver, the JVM
and the Python workers, read from ``/proc``. On a shared host a run's
wall time moves with its neighbours' load (measured on 4 cores, with four
CPU-bound processes beside half the passes: wall time 2x, CPU seconds
+5%); time the hypervisor steals from a virtual CPU is charged to no
process, so CPU seconds follow the program's own work. A pass's CPU
leaves out the JVM's JIT compiler threads (see PASS_CPU); set-up counts
them. Wall times are in the per-layer table of the traced run.

End-to-end metrics, per workload:

  setup_s      CPU seconds of set-up: session start, plus the median of
               several rounds of input generation + ground truth +
               worker-pool warm-up, plus the warm-up passes of the body
  cpu_s        one pass of the workload body: a build stage (graph:
               build_roargraph; dedup: minhash_lsh_pairs + collect) and
               a query stage (graph: stage_graph_index + search_graph +
               collect; dedup: connected_components + collect); the
               traced run splits it by stage and by process
  recall       graph: recall@10 against exact ground truth;
               dedup: recall of the planted near-duplicate pairs
  peak_rss_mb  peak resident memory of the process tree during a pass
               (this driver, the JVM and the Python workers)
  ok_ops_frac  operations with a correct output over operations attempted
  output_rows  graph: search result rows; dedup: returned pairs
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

# one BLAS thread in this driver, as the session gives each worker; it
# must be set before NumPy loads, and idle BLAS threads spin on CPU
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

from workloads import WORKLOADS  # noqa: E402

SPLITS = {k: v for w in WORKLOADS.values() for k, v in w.split_by_parent.items()}

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
DRIVER_MEM = "2g"
SETUP_ROUNDS = 3
MIN_PASSES = 3
CLK_TCK = os.sysconf("SC_CLK_TCK")

E2E_UNITS = {
    "setup_s": "s",
    "cpu_s": "s",
    "recall": "ratio",
    "peak_rss_mb": "MB",
    "ok_ops_frac": "ratio",
    "output_rows": "count",
}


# --------------------------------------------------------------------------
# environment and processes


def pin_environment() -> dict:
    """Fix everything the program reads from the environment, and keep
    all scratch inside the run directory."""
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_") or k in ("SPARK_MASTER", "PYSPARK_SUBMIT_ARGS"):
            del os.environ[k]
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(RUN_DIR, "tmp")
    local = os.path.join(RUN_DIR, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    prev = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "PYTHONPATH": ROOT + (os.pathsep + prev if prev else ""),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
        }
    )
    return {
        "cpus": cpus,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.environ["PYTHONPATH"],
    }


def spark_conf(trace: bool) -> dict:
    tmp = os.path.join(RUN_DIR, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
        # a heap fixed at its maximum keeps the JVM's resident size from
        # drifting with heap resizing, which peak_rss_mb would report
        "spark.driver.extraJavaOptions": (
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if trace:
        events = os.path.join(RUN_DIR, "events")
        workers = os.path.join(RUN_DIR, "worker-trace")
        os.makedirs(events, exist_ok=True)
        os.makedirs(workers, exist_ok=True)
        os.environ["PERFBENCH_WORKER_TRACE_DIR"] = workers
        os.environ["PYTHONPATH"] = HERE + os.pathsep + os.environ["PYTHONPATH"]
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.python.daemon.module": "worker_daemon",
            }
        )
    return conf


def descendants() -> dict[int, str]:
    """pid -> kernel start time of every live descendant of this process."""
    procs: dict[int, tuple[int, str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if rest[0] != "Z":
            procs[int(name)] = (int(rest[1]), rest[19])
    out, frontier = {}, {os.getpid()}
    while frontier:
        frontier = {p for p, (pp, _) in procs.items() if pp in frontier and p not in out}
        out.update({p: procs[p][1] for p in frontier})
    return out


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a /proc stat file."""
    try:
        with open(path) as f:
            head, rest = f.read().rsplit(")", 1)
    except (OSError, ValueError):
        return None
    return head.partition("(")[2], rest.split()


def _jit_cpu(pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads (kept alive for the
    whole run by -XX:-UseDynamicNumberOfCompilerThreads)."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        st = _stat(f"/proc/{pid}/task/{tid}/stat")
        if st and st[0].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            total += int(st[1][11]) + int(st[1][12])
    return total / CLK_TCK


def tree_cpu() -> dict[str, float]:
    """CPU seconds (user + system, own and reaped children) of this
    process and every descendant, zombies included, by group: this
    driver, the JVM's JIT compiler threads, the rest of the JVM, and the
    Python workers."""
    procs: dict[int, tuple[int, str, float]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(f"/proc/{name}/stat")):
            comm, rest = st
            cpu = sum(int(x) for x in rest[11:15]) / CLK_TCK
            procs[int(name)] = (int(rest[1]), comm, cpu)
    me = os.getpid()
    out = {"driver": procs[me][2], "jvm": 0.0, "jit": 0.0, "python_workers": 0.0}
    seen, frontier = {me}, {me}
    while frontier:
        frontier = {p for p, (pp, _, _) in procs.items() if pp in frontier and p not in seen}
        seen |= frontier
        for p in frontier:
            if procs[p][1] == "java":
                jit = _jit_cpu(p)
                out["jit"] += jit
                out["jvm"] += procs[p][2] - jit
            else:
                out["python_workers"] += procs[p][2]
    return out


# A pass's CPU leaves out JIT compilation: it is warm-up work that a
# long-running job stops paying, and in a run of minutes it goes on in
# bursts whose size varies from run to run (measured on 4 cores: 1.3 to
# 2.8 CPU-s of C2 compilation in each 10 CPU-s dedup pass, after nine
# passes). It is part of setup_s and of the traced run's cpu.jit_s.
PASS_CPU = ("driver", "jvm", "python_workers")


def clock() -> tuple[float, float]:
    """(wall seconds, CPU seconds of a pass's process-tree groups)."""
    g = tree_cpu()
    return time.perf_counter(), sum(g[k] for k in PASS_CPU)


def total_cpu() -> float:
    """CPU seconds of the whole process tree, JIT compilation included."""
    return sum(tree_cpu().values())


class PeakRss:
    """Peak resident memory of the process tree over a block: every
    process's kernel high-water mark (VmHWM) is reset on entry and summed
    on exit. Processes that exit inside the block are not counted."""

    def __enter__(self):
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass
        return self

    def __exit__(self, *exc):
        kb = 0
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/status") as f:
                    kb += next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
            except (OSError, StopIteration):
                pass
        self.mb = kb / 1024


def _alive(pid: int, start: str) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return rest[0] != "Z" and rest[19] == start


def stop_everything(spark) -> None:
    """Stop Spark and the JVM it runs in, then wait until every process
    this run started has ended (the JVM's children re-parent when it
    exits, so they are recorded first)."""
    started = descendants()
    if spark is not None:
        spark.stop()
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception as e:  # the JVM may already be gone
            print(f"gateway shutdown: {e!r}", file=sys.stderr)
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 60
    while True:
        left = {p: s for p, s in started.items() if _alive(p, s)}
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.1)


def start_session(trace: bool):
    from mysteryann_spark import session

    spark = session.get_spark(app_name="perfbench", extra_conf=spark_conf(trace))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# modules the workload kernels import on the workers
WORKER_IMPORTS = (
    "pyarrow.parquet",
    "mysteryann_spark.sources.staging",
    "mysteryann_spark.operators.knn_approx",
    "mysteryann_spark.operators.prune",
    "mysteryann_spark.operators.search",
    "mysteryann_spark.operators.dedup",
)


def warm_workers(spark, cpus: int) -> None:
    """Fork the whole Python worker pool and initialise BLAS and pyarrow
    in every worker before anything is timed."""

    def warm(batches):
        import importlib

        import numpy as np

        for mod in WORKER_IMPORTS:
            importlib.import_module(mod)
        np.matmul(np.ones((2000, 64)), np.ones((64, 2000)))
        yield from batches

    df = spark.range(cpus * 64).repartition(cpus)
    df.mapInPandas(warm, df.schema).count()


def prepare_inputs(wl, spark, seed: int, cpus: int) -> float:
    """One set-up round after the session exists: generate the inputs and
    their ground truth, load them, and warm the worker pool. Returns its
    CPU seconds."""
    data = os.path.join(RUN_DIR, "data")
    os.makedirs(data, exist_ok=True)
    c0 = total_cpu()
    wl.generate(seed, data)
    wl.load(spark)
    warm_workers(spark, cpus)
    return total_cpu() - c0


# --------------------------------------------------------------------------
# runs


class Checker:
    """Counts operations and failures across passes."""

    def __init__(self, wl) -> None:
        self.wl = wl
        self.first: dict | None = None
        self.attempted = 0
        self.failed = 0
        self.recalls: list[float] = []
        self.problems: list[str] = []

    def add(self, out, pass_no: int) -> None:
        res = self.wl.check(out, self.first)
        if self.first is None:
            self.first = res
        for op, ok in res["ops"].items():
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.problems.append(f"pass {pass_no}: {op} output check failed")
        self.recalls.append(res["recall"])

    def raised(self, err: Exception, pass_no: int) -> None:
        """A pass that raised fails every operation it attempted."""
        self.attempted += len(self.wl.OPS)
        self.failed += len(self.wl.OPS)
        self.problems.append(f"pass {pass_no}: raised {err!r}")


def timed_pass(wl, span, checker: Checker, pass_no: int) -> dict | None:
    """One body pass with its CPU and wall times and its peak RSS, checked
    outside the measured region; None if the program raised."""
    g0 = tree_cpu()
    try:
        with PeakRss() as rss:
            r = wl.body(span, clock)
    except Exception as e:
        traceback.print_exc()
        checker.raised(e, pass_no)
        return None
    (w0, c0), (w1, c1), (w2, c2) = r["marks"]
    g1 = tree_cpu()
    checker.add(r["out"], pass_no)
    return {
        **{f"{g}_cpu_s": g1[g] - g0[g] for g in g1},
        "cpu_s": c2 - c0,
        "build_cpu_s": c1 - c0,
        "query_cpu_s": c2 - c1,
        "peak_rss_mb": rss.mb,
        "wall_s": w2 - w0,
        "build_wall_s": w1 - w0,
        "query_wall_s": w2 - w1,
    }


def no_span(name):
    return nullcontext()


def warm_up(wl, checker: Checker) -> float:
    """Full passes of the body before any is measured; returns their CPU
    seconds, which are part of set-up. A tiny warm-up build leaves the
    first full pass cold (JIT, code generation, worker imports), and the
    JVM's CPU per pass keeps falling for several passes (see each
    workload's WARMUP_PASSES)."""
    c0 = total_cpu()
    for i in range(wl.WARMUP_PASSES):
        if timed_pass(wl, no_span, checker, i - wl.WARMUP_PASSES) is None:
            raise RuntimeError("a warm-up pass of the workload raised")
    return total_cpu() - c0


def run_measured(wl, seed: int, seconds: float, cpus: int) -> tuple[dict, Checker]:
    spark = None
    setups = []
    checker = Checker(wl)
    passes: list[dict] = []
    try:
        c0 = total_cpu()
        walls = [time.perf_counter()]
        spark = start_session(False)
        session_s = total_cpu() - c0
        walls.append(time.perf_counter())
        for _ in range(SETUP_ROUNDS):
            setups.append(prepare_inputs(wl, spark, seed, cpus))
        walls.append(time.perf_counter())
        print(f"# env default_parallelism={spark.sparkContext.defaultParallelism}", flush=True)
        warm = warm_up(wl, checker)
        walls.append(time.perf_counter())
        spent = 0.0
        while spent < seconds or len(passes) < MIN_PASSES:
            r = timed_pass(wl, no_span, checker, len(passes))
            if r is None:
                break
            passes.append(r)
            spent += r["wall_s"]  # measured for --seconds of wall time
        walls.append(time.perf_counter())
    finally:
        stop_everything(spark)
    if not passes:
        raise RuntimeError("no pass of the workload completed")
    walls.append(time.perf_counter())
    med = {k: statistics.median(p[k] for p in passes) for k in passes[0]}
    metrics = {
        "setup_s": session_s + statistics.median(setups) + warm,
        **med,
        "recall": statistics.median(checker.recalls),
        "ok_ops_frac": 1.0 - checker.failed / checker.attempted,
        "output_rows": checker.first["rows"],
    }
    print(
        f"# {wl.name}: {len(passes)} passes, cpu_s "
        + " ".join(f"{p['cpu_s']:.2f}" for p in passes)
        + " (jvm " + " ".join(f"{p['jvm_cpu_s']:.2f}" for p in passes)
        + "; jit " + " ".join(f"{p['jit_cpu_s']:.2f}" for p in passes)
        + "; python workers " + " ".join(f"{p['python_workers_cpu_s']:.2f}" for p in passes)
        + "), wall_s " + " ".join(f"{p['wall_s']:.2f}" for p in passes)
        + f"; set-up CPU s: session {session_s:.2f}, input rounds " + " ".join(f"{s:.2f}" for s in setups)
        + f", warm-up passes {warm:.2f}; wall s: session, input rounds, warm-up, measured, stop "
        + " ".join(f"{b - a:.1f}" for a, b in zip(walls, walls[1:]))
        + (f", output sha256 {checker.first['digest']}" if "digest" in checker.first else ""),
        flush=True,
    )
    return {k: {"value": metrics[k], "unit": u} for k, u in E2E_UNITS.items()}, checker


def run_traced(wl, seed: int, cpus: int) -> tuple[dict, Checker]:
    import eventlog
    from tracing import Tracer, self_times

    tracer = Tracer()
    tracer.install([("mysteryann_spark.session", "get_spark", "session.get_spark")])
    spark = None
    checker = Checker(wl)
    try:
        spark = start_session(True)
        prepare_inputs(wl, spark, seed, cpus)
        print(f"# env default_parallelism={spark.sparkContext.defaultParallelism}", flush=True)
        warm_up(wl, checker)
        plain = timed_pass(wl, no_span, checker, 0)
        tracer.install(sorted({t for w in WORKLOADS.values() for t in w.spans}))
        lo = time.time()
        traced = timed_pass(wl, tracer.span, checker, 1)
        hi = time.time()
    finally:
        stop_everything(spark)
    if plain is None or traced is None:
        raise RuntimeError("a pass of the traced run did not complete")
    events = eventlog.read_events(eventlog.find_log(os.path.join(RUN_DIR, "events")))
    m: dict[str, tuple[float, str]] = {}
    eng = eventlog.engine_metrics(events, lo * 1e3, hi * 1e3, cpus)
    for name, unit in eventlog.ENGINE_METRICS:
        m[name] = (eng[name], unit)

    spans = tracer.spans
    selfs = self_times(spans)
    jobs = eventlog.jobs_by_tag(events, lo * 1e3, hi * 1e3)
    by_label: dict[str, list[float]] = {label: [0, 0.0, 0.0] for label in span_labels()}
    for s in spans:
        label = report_label(s)
        acc = by_label.setdefault(label, [0, 0.0, 0.0])
        acc[0] += 1
        acc[1] += selfs[s["id"]]
        acc[2] += jobs.get(s["id"], 0.0)
    for label, (calls, self_s, job_s) in by_label.items():
        m[f"span.{label}.calls"] = (calls, "count")
        m[f"span.{label}.self_s"] = (self_s, "s")
        m[f"span.{label}.job_s"] = (job_s, "s")
    m["span.untagged.job_s"] = (jobs.get(None, 0.0), "s")
    ls = worker_load_staged(lo, hi)
    m["span.sources.staging.load_staged.calls"] = (ls[0], "count")
    m["span.sources.staging.load_staged.builds"] = (ls[1], "count")
    m["span.sources.staging.load_staged.self_s"] = (ls[2], "s")
    for group in ("driver", "jvm", "jit", "python_workers"):
        m[f"cpu.{group}_s"] = (plain[f"{group}_cpu_s"], "s")
    m["cpu.build_s"] = (plain["build_cpu_s"], "s")
    m["cpu.query_s"] = (plain["query_cpu_s"], "s")
    m["wall.build_s"] = (plain["build_wall_s"], "s")
    m["wall.query_s"] = (plain["query_wall_s"], "s")
    m["trace.wall_s"] = (traced["wall_s"], "s")
    m["trace.untraced_wall_s"] = (plain["wall_s"], "s")
    m["trace.overhead_s"] = (traced["wall_s"] - plain["wall_s"], "s")

    # self-test: every span this workload declares fired in its traced run
    fired = {report_label(s) for s in spans}
    for label in declared_labels(wl) + ["session.get_spark"]:
        if label not in fired:
            checker.failed += 1
            checker.attempted += 1
            checker.problems.append(f"declared span {label} never fired")
    if ls[0] == 0:
        checker.failed += 1
        checker.attempted += 1
        checker.problems.append("worker span sources.staging.load_staged never fired")
    print_layer_table(m)
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, checker


def report_label(span: dict) -> str:
    for name, (parent, inside, outside) in SPLITS.items():
        if span["name"] == name:
            return f"{name}.{inside if span['parent_name'] == parent else outside}"
    return span["name"]


def declared_labels(wl) -> list[str]:
    out = []
    for _, _, label in wl.spans:
        if label in wl.split_by_parent:
            _, inside, outside = wl.split_by_parent[label]
            out += [f"{label}.{inside}", f"{label}.{outside}"]
        else:
            out.append(label)
    return out + ["bench.build", "bench.query"]


def span_labels() -> list[str]:
    labels = ["session.get_spark"]
    for wl in WORKLOADS.values():
        labels += [x for x in declared_labels(wl) if x not in labels]
    return labels


def worker_load_staged(lo: float, hi: float) -> tuple[int, int, float]:
    calls = builds = 0
    busy = 0.0
    d = os.environ["PERFBENCH_WORKER_TRACE_DIR"]
    for name in os.listdir(d):
        with open(os.path.join(d, name)) as f:
            for line in f:
                r = json.loads(line)
                if lo <= r["t0"] <= hi:
                    calls += 1
                    builds += int(r["built"])
                    busy += r["t1"] - r["t0"]
    return calls, builds, busy


def print_layer_table(m: dict) -> None:
    print("# per-layer metrics of the traced pass", flush=True)
    for name, (v, unit) in m.items():
        print(f"#   {name:<58} {v:>16.6g} {unit}", flush=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mysteryann_spark", "__init__.py")):
        print(f"no program source at {ROOT}/mysteryann_spark", file=sys.stderr)
        return 2
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    try:
        env = pin_environment()
        print("# env " + json.dumps(env), flush=True)
        sys.path.insert(0, ROOT)
        wl = WORKLOADS[args.workload]()
        if args.trace:
            metrics, checker = run_traced(wl, args.seed, env["cpus"])
        else:
            metrics, checker = run_measured(wl, args.seed, args.seconds, env["cpus"])
    finally:
        shutil.rmtree(RUN_DIR, ignore_errors=True)
    for p in checker.problems:
        print(f"# FAILED {p}", flush=True)
    print(
        json.dumps(
            {
                "correct": checker.failed == 0,
                "attempted": checker.attempted,
                "failed": checker.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
