#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's registered queries.

One client runs a workload's queries one after another (no concurrency)
on ``local[N]``, N = min(4, usable cores). Each query call is timed from
outside in three phases: the builder call (client-side DataFrame build,
including any eager jobs the builder runs), ``executedPlan()`` (Catalyst
planning) and a ``noop`` write (execution).

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload relational_scan_shuffle \
        --seed 1 --seconds 12 --trace 0

A run: import the engine; write the input tables (the committed sf0.01
fixtures, row order from ``--seed``) and compute their DuckDB oracle
answers; start a fresh JVM session (C1 JIT only, ``JIT_OPTS``)
``SETUPS`` times (all but the last are stopped again); one cold pass
that collects every output and checks it against the oracle;
``WARMUP_PASSES`` untimed passes; timed passes until ``--seconds`` have
passed and at least ``MIN_TIMED_PASSES`` ran. The query order of every
pass is drawn from ``--seed``. The end-to-end metrics are the set-up
time and the CPU seconds (benchmark process, JVM and Python workers) of
the cold pass and of a timed pass (the mean over the timed passes).

``--trace 1`` sets up once instead of ``SETUPS`` times, then restarts the
session with the event log on, repeats the cold, warm-up and timed passes
with one job group per query phase, and reports the per-layer split
(with the untraced session's pass wall times) instead of the end-to-end
metrics.

Stdout: one ``name value unit`` line per metric, host-noise diagnostics,
then a one-line JSON result as the last line. See README.md.
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import random
import shutil
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "tda596_lab02mapreduce_spark"

SETUPS = 2
# C1 only: see README.md, "JIT". Options exported by the caller come
# after it, so an explicit -XX:TieredStopAtLevel there wins.
JIT_OPTS = "-XX:TieredStopAtLevel=1"
# Untimed passes after the cold one. The relational queries plan and
# generate code for many more operators than the loops, so their pass
# CPU keeps falling for longer (README.md, "Warm-up").
WARMUP_PASSES = {"relational_scan_shuffle": 3, "loops_udf_writes": 1}
MIN_TIMED_PASSES = 3

# The layer each query is charged to in the per-layer split.
RELATIONAL, OPERATORS, PYTHON, SINK, STREAM = "relational", "operators", "python", "sink", "stream"
WORKLOADS: dict[str, dict[str, str]] = {
    # JVM-codegen scan / shuffle / aggregate reads, plus one query of each
    # other layer so that every per-layer metric is measured here too.
    "relational_scan_shuffle": {
        "wordcount": RELATIONAL,
        "pricing_summary": RELATIONAL,
        "tpch_q18_large_volume_customers": RELATIONAL,
        "join_asof_purchase_click": OPERATORS,
        "udf_pandas_scalar": PYTHON,
        "sink_text_kv_roundtrip": SINK,
        "stream_tumbling_hourly": STREAM,
    },
    # An iterative operator loop with eager jobs inside its builder, the
    # Python/Arrow worker path and the write side (text sink, streaming
    # window function).
    "loops_udf_writes": {
        "kcore_peel_bipartite": OPERATORS,
        "mapreduce_wordcount": PYTHON,
        "sink_text_kv_roundtrip": SINK,
        "stream_tumbling_hourly": STREAM,
    },
}


# ---------------------------------------------------------------- /proc


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()  # fields from "state" on


def start_ticks(pid: int) -> int | None:
    """Start time of ``pid`` (field 22 of its stat), which tells a process
    apart from a later one that reuses its PID."""
    st = _stat(pid)
    return None if st is None else int(st[19])


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User+sys CPU of this process and of ``pids`` (the JVM and its Python
    workers); reaped children count through cutime/cstime."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    own = os.times()
    return total / tick + own.user + own.system


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


# --------------------------------------------------------------- session


class Session:
    """One engine SparkSession in its own JVM, started through the
    engine's ``get_spark`` with benchmark-only additions: no console
    progress bar, scratch dirs inside the run's work dir and, when
    ``event_log`` is set, an uncompressed single-file event log."""

    def __init__(self, get_spark, work: str, event_log: str | None = None):
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        if event_log is not None:
            os.makedirs(event_log, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": event_log,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        self.sc = self.spark.sparkContext
        # First job: a JVM-only RDD count that brings up the scheduler and
        # every executor thread. SQL codegen and Python worker start-up are
        # left to the cold pass, where cold_wall_s sees them.
        parallelism = self.sc.defaultParallelism
        items = self.sc._jvm.java.util.ArrayList()
        for i in range(parallelism):
            items.add(i)
        self.sc._jsc.parallelize(items, parallelism).count()
        t2 = time.perf_counter()
        self.jvm_start_s, self.first_job_s = t1 - t0, t2 - t1
        self.jvm_pid = self.sc._gateway.proc.pid
        self.seen: dict[int, int] = {}  # pid -> start time

    def track(self) -> list[int]:
        """The JVM and its live descendants, remembered for ``stop``."""
        pids = descendants(self.jvm_pid)
        for pid in pids:
            if pid not in self.seen and (start := start_ticks(pid)) is not None:
                self.seen[pid] = start
        return pids

    def cpu_s(self) -> float:
        return tree_cpu_s(self.track())

    def gc_s(self) -> float:
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000

    def stop(self) -> None:
        """Stop Spark, end the JVM and wait until every process it
        started (Python workers included) has exited."""
        from pyspark import SparkContext

        self.track()
        gateway = SparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

        def alive(pids):
            return [p for p in pids if start_ticks(p) == self.seen[p]]

        deadline = time.monotonic() + 30
        left = alive(self.seen)
        while left and time.monotonic() < deadline:
            time.sleep(0.1)
            left = alive(left)
        for pid in left:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


# ---------------------------------------------------------------- passes


class Runner:
    def __init__(self, workload: str, seed: int, data_dir: str, expected: dict):
        from tda596_lab02mapreduce_spark import registry

        self.layer = WORKLOADS[workload]
        self.fns = {q: registry.get(q).spark_fn for q in self.layer}
        self.rng = random.Random(seed)
        self.data_dir = data_dir
        self.expected = expected
        self.attempted = 0
        self.failures: list[str] = []

    def run_pass(self, sess: Session, tag: str, check: bool = False, traced: bool = False) -> dict:
        """Run every query once in a seeded order. Returns the pass's
        per-query (build, plan, exec) seconds, the CPU seconds of the
        whole pass and, when ``traced``, per-query CPU seconds and GC
        time. With ``check``, each query's output is collected instead
        of written to ``noop`` and compared with the oracle after the
        pass, outside its CPU time."""
        order = sorted(self.layer)
        self.rng.shuffle(order)
        phases: dict[str, tuple[float, float, float]] = {}
        cpu: dict[str, float] = {}
        outputs: dict[str, tuple[list, list]] = {}
        gc0 = sess.gc_s() if traced else 0.0
        pass_cpu0 = sess.cpu_s()
        for q in order:
            self.attempted += 1
            cpu0 = sess.cpu_s() if traced else 0.0
            try:
                phases[q], outputs[q] = self._run_query(sess, tag, q, check, traced)
            except Exception as exc:  # a failing query must not end the run
                self._fail(tag, q, exc)
                continue
            if traced:
                cpu[q] = sess.cpu_s() - cpu0
        pass_cpu = sess.cpu_s() - pass_cpu0
        if traced:
            sess.sc.setLocalProperty("spark.jobGroup.id", None)
        if check:
            for q, (cols, rows) in outputs.items():
                try:
                    self._check(q, cols, rows)
                except Exception as exc:
                    self._fail(tag, q, exc)
        return {
            "wall": sum(sum(ph) for ph in phases.values()),
            "cpu_s": pass_cpu,
            "phases": phases,
            "cpu": cpu,
            "gc": sess.gc_s() - gc0 if traced else 0.0,
        }

    def _fail(self, tag, q, exc):
        self.failures.append(f"{tag} {q}: {type(exc).__name__}: {exc}"[:500])

    def _run_query(self, sess, tag, q, check, traced):
        if traced:
            sess.sc.setJobGroup(f"{tag}|{q}|build", q)
        t0 = time.perf_counter()
        df = self.fns[q](sess.spark, self.data_dir)
        t1 = time.perf_counter()
        if traced:
            sess.sc.setJobGroup(f"{tag}|{q}|exec", q)
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        output = None
        if check:
            output = (list(df.columns), [tuple(r) for r in df.collect()])
        else:
            df.write.mode("overwrite").format("noop").save()
        t3 = time.perf_counter()
        return (t1 - t0, t2 - t1, t3 - t2), output

    def _check(self, q, cols, rows):
        import oracle

        if not rows:
            raise AssertionError("empty result: the oracle comparison is vacuous")
        d_cols, d_rows = self.expected[q]
        why = oracle.verdict(cols, rows, d_cols, d_rows)
        if why is not None:
            raise AssertionError(why)

    def timed_passes(self, sess, seconds, traced=False):
        passes, t0 = [], time.perf_counter()
        while len(passes) < MIN_TIMED_PASSES or time.perf_counter() - t0 < seconds:
            passes.append(self.run_pass(sess, f"t{len(passes)}", traced=traced))
        return passes


# --------------------------------------------------------------- metrics


def per_query_median(passes: list[dict], key) -> dict[str, float]:
    """Median over passes of ``key(pass, query)``, for every query that
    succeeded in at least one pass."""
    queries = {q for p in passes for q in p["phases"]}
    return {q: median([key(p, q) for p in passes if q in p["phases"]]) for q in sorted(queries)}


def layer_metrics(runner: Runner, passes: list[dict], log_dir: str) -> dict[str, tuple[float, str]]:
    """Per-pass means of the traced timed passes, split by layer."""
    import eventlog

    n = len(passes)
    tags = {f"t{i}" for i in range(n)}
    groups = {g: v for g, v in eventlog.read(log_dir).items() if g.split("|")[0] in tags}

    def phase_sum(idx, layers=None):
        return sum(
            ph[idx] if idx is not None else sum(ph)
            for p in passes
            for q, ph in p["phases"].items()
            if layers is None or runner.layer[q] in layers
        ) / n

    def ev(field, phase=None, layers=None, agg=sum):
        vals = [
            v[field]
            for g, v in groups.items()
            if (phase is None or g.endswith("|" + phase))
            and (layers is None or runner.layer[g.split("|")[1]] in layers)
        ]
        return agg(vals) if vals else 0

    mb = 1024 * 1024
    return {
        "queries.build_s": (phase_sum(0), "s"),
        "operators.build_s": (phase_sum(0, {OPERATORS}), "s"),
        "operators.jobs": (ev("jobs", "build", {OPERATORS}) / n, "count"),
        "operators.stages": (ev("stages", "build", {OPERATORS}) / n, "count"),
        "catalyst.plan_s": (phase_sum(1), "s"),
        "exec.noop_s": (phase_sum(2), "s"),
        "spark.jobs": (ev("jobs") / n, "count"),
        "spark.tasks": (ev("tasks") / n, "count"),
        "spark.executor_run_s": (ev("run_ms") / 1e3 / n, "s"),
        "spark.executor_cpu_s": (ev("cpu_ns") / 1e9 / n, "s"),
        "shuffle.write_mb": (ev("shuffle_write_b") / mb / n, "MB"),
        "shuffle.read_mb": (ev("shuffle_read_b") / mb / n, "MB"),
        "spill.mb": (ev("spill_b") / mb / n, "MB"),
        "jvm.gc_s": (sum(p["gc"] for p in passes) / n, "s"),
        "spark.peak_exec_mem_mb": (ev("peak_mem_b", agg=max) / mb, "MB"),
        "io.input_mb": (ev("input_b") / mb / n, "MB"),
        "io.input_records": (ev("input_records") / n, "count"),
        "python.bytes_sent_mb": (ev("py_sent_b") / mb / n, "MB"),
        "python.bytes_received_mb": (ev("py_received_b") / mb / n, "MB"),
        "python.worker_run_s": (ev("py_run_ms") / 1e3 / n, "s"),
        "python.worker_start_s": (ev("py_start_ms") / 1e3 / n, "s"),
        "python.build_exec_s": (phase_sum(None, {PYTHON}), "s"),
        "sink.build_s": (phase_sum(0, {SINK}), "s"),
        "stream.query_s": (phase_sum(None, {STREAM}), "s"),
        "process.cpu_s": (sum(per_query_median(passes, lambda p, q: p["cpu"][q]).values()), "s"),
        "trace.wall_s": (sum(per_query_median(passes, lambda p, q: sum(p["phases"][q])).values()), "s"),
    }


# ------------------------------------------------------------------ main


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def prepare_env(work: str, cores: int) -> None:
    """Point every scratch location at the work dir and let Python
    workers import the engine from this checkout."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    opts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "")
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = " ".join(filter(None, [JIT_OPTS, opts, f"-Djava.io.tmpdir={tmp}"]))
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]


def rmdir_if_empty(path: str) -> None:
    """Remove ``path`` unless it is missing or another run still uses it."""
    try:
        os.rmdir(path)
    except OSError:
        pass


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle.py")
    ):
        print(f"perfbench: no {PACKAGE} package or tests/oracle.py under {ROOT}", file=sys.stderr)
        return 2
    cores = min(4, len(os.sched_getaffinity(0)))
    load1 = os.getloadavg()[0]
    steal0, total0 = host_cpu_ticks()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    tmp_root = os.path.join(ROOT, ".tmp")
    if not os.path.isdir(tmp_root):
        # Registered before the engine's sinks register the removal of
        # their own .tmp/pid-<pid>, so it runs after that removal.
        atexit.register(rmdir_if_empty, tmp_root)
    os.makedirs(work)
    sess = None
    try:
        prepare_env(work, cores)
        import fixtures
        import oracle

        t0 = time.perf_counter()
        from tda596_lab02mapreduce_spark import registry
        from tda596_lab02mapreduce_spark.session import get_spark

        registry.all_queries()
        import_s = time.perf_counter() - t0

        data_dir = os.path.join(work, "data")
        os.environ["SPARK_GRAFT_SF_DIR"] = data_dir
        fixtures.write_fixtures(data_dir, args.seed)
        queries = WORKLOADS[args.workload]
        expected = {q: oracle.run_oracle(data_dir, registry.get(q).oracle_text()) for q in queries}
        inputs_s = time.perf_counter() - t0 - import_s

        runner = Runner(args.workload, args.seed, data_dir, expected)
        # A traced run reports no setup_s; its second session adds a sample.
        setups = 1 if args.trace else SETUPS
        boots = []
        for i in range(setups):
            sess = Session(get_spark, work)
            boots.append((sess.jvm_start_s, sess.first_job_s))
            if i < setups - 1:
                sess.stop()
                sess = None
        cold = runner.run_pass(sess, "cold", check=True)
        warm = [runner.run_pass(sess, f"w{i}") for i in range(WARMUP_PASSES[args.workload])]
        timed = runner.timed_passes(sess, args.seconds)
        sess.stop()
        sess = None

        wall_q = per_query_median(timed, lambda p, q: sum(p["phases"][q]))
        wall_s = sum(wall_q.values())
        metrics: dict[str, tuple[float, str]]
        if args.trace:
            log_dir = os.path.join(work, "eventlog")
            sess = Session(get_spark, work, event_log=log_dir)
            boots.append((sess.jvm_start_s, sess.first_job_s))
            for i in range(1 + WARMUP_PASSES[args.workload]):
                runner.run_pass(sess, f"w{i}", traced=True)
            traced = runner.timed_passes(sess, args.seconds, traced=True)
            rss = peak_rss_mb(sess.jvm_pid)
            sess.stop()
            sess = None
            metrics = {
                "wall_s": (wall_s, "s"),
                "cold_wall_s": (cold["wall"], "s"),
                "session.import_s": (import_s, "s"),
                "session.jvm_start_s": (median([b[0] for b in boots]), "s"),
                "session.first_job_s": (median([b[1] for b in boots]), "s"),
            }
            metrics.update(layer_metrics(runner, traced, log_dir))
            metrics["jvm.peak_rss_mb"] = (rss, "MB")
            metrics["trace.overhead_pct"] = (100 * (metrics["trace.wall_s"][0] / wall_s - 1), "%")
        else:
            metrics = {
                "setup_s": (import_s + median([j + f for j, f in boots]), "s"),
                "cold_cpu_s": (cold["cpu_s"], "s"),
                "cpu_s": (sum(p["cpu_s"] for p in timed) / len(timed), "s"),
            }
    finally:
        if sess is not None:
            sess.stop()
        shutil.rmtree(work, ignore_errors=True)
        rmdir_if_empty(os.path.dirname(work))

    steal1, total1 = host_cpu_ticks()
    failed = len(runner.failures)
    for line in runner.failures:
        print(f"FAILED {line}")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(f"# workload {args.workload} seed {args.seed} cores {cores} timed_passes {len(timed)}")
    print(f"# wall_s {wall_s:.6g} s (sum of per-query medians over the timed passes); cold_wall_s {cold['wall']:.6g} s")
    print("# pass walls (cold, warm-up, timed):", " ".join(f"{p['wall']:.3f}" for p in [cold, *warm, *timed]))
    print("# pass cpu_s (cold, warm-up, timed):", " ".join(f"{p['cpu_s']:.3f}" for p in [cold, *warm, *timed]))
    print("# per-query median s:", " ".join(f"{q}={v:.3f}" for q, v in wall_q.items()))
    print(f"# setup samples (jvm_start_s, first_job_s): {[(round(j, 3), round(f, 3)) for j, f in boots]}")
    print(f"# inputs_s {inputs_s:.3f} (tables + oracle answers, outside setup_s)")
    print(f"# failed_frac {failed / runner.attempted:.6g} ({failed} of {runner.attempted} query runs)")
    print(f"# host load1_at_start {load1:.2f} steal_share {(steal1 - steal0) / max(1, total1 - total0):.4f}")
    result = {
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
