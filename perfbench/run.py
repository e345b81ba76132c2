"""Benchmark of thoth_spark's user flows and ANN serve.

Run from the repository root:

    python3 perfbench/run.py --workload daily_monitor --seed 1 --seconds 20 --trace 0

One Python process drives ``local[N]`` (N = ``SPARK_GRAFT_CPUS`` or the
CPUs this process may use) as a single closed-loop client: the next op is
sent only after the previous one returned. Each workload's set-up (session
start, input generation, warm-up ops, pre-onboarding or index build)
counts toward ``setup_s``; ops then run until ``--seconds`` have passed,
each on fresh inputs and each checked for correctness.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` spends half
the time on untraced ops and half on traced ops, and reports the
per-layer metrics (see ``tracing.py``) plus ``trace.overhead_s``, the
traced minus the untraced median op time.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; lines before it
give the environment and a readable summary. Everything the run writes
stays under ``.bench_work/`` in the working directory, including the
full result and, for traced runs, the spans.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
RESULTS = os.path.join(ROOT, ".bench_work", "results")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: per-layer metrics every layer reports
LAYER_METRICS = {
    "self_s": "s",
    "stages": "count",
    "executor_cpu_s": "s",
    "shuffle_write_mb": "MB",
    "driver_s": "s",
}
#: layer → extra metrics it reports
LAYER_EXTRA = {
    "repository.add_profiling": {"bytes_written_mb": "MB"},
    "repository.add_scoring": {"bytes_written_mb": "MB"},
    "similarity.ivf_query_index_join": {"python_worker_cpu_s": "s"},
}
OP_COUNTERS = {
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "jvm.gc_s": "s",
    "python_workers.cpu_s": "s",
}


def _fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _code_sha1() -> str:
    """Content hash of the program's sources: the checkout the benchmark
    runs in is not always a git repository."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "thoth_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest order statistic with at least
    ten samples above it. Runs with fewer than 21 ops settle for
    ``(n - 1) // 2`` samples above it, which is the (upper) median."""
    xs = sorted(values)
    n = len(xs)
    beyond = min(10, (n - 1) // 2)
    idx = n - 1 - beyond
    return xs[idx], 100.0 * (idx + 1) / n, n


class Runner:
    """One run: the session, the op loop and the report."""

    def __init__(self, args, sizes: dict):
        self.args = args
        self.sizes = sizes
        self.aborted = False
        self.spark = None
        self.cpus = 0
        self.workdir = os.path.join(
            ROOT, ".bench_work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        )
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.env: dict = {}
        self.setup_s = None
        self.layer_rows: list[dict] = []
        self.extra: dict = {}

    # -- session -------------------------------------------------------------

    def start_session(self):
        from thoth_spark.session import get_spark

        tmp = os.path.join(self.workdir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # the JVM and the Python workers inherit these; SPARK_LOCAL_DIRS
        # would override spark.local.dir, so it is set instead
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.workdir, "spark-local")
        # the launcher JVM that spark-submit starts first: no /tmp perf data
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or _nproc())
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{cpus}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
                # Not the program's JVM settings (the full tiered JIT and an
                # 8g heap): C1 only and a 2g heap. A run lives about a
                # minute, and under C2 the op CPU kept falling for the
                # first nine ops while compilation went on, and peak RSS
                # followed how far G1 chose to grow the 8g heap; both
                # spread past the metrics' bounds between seeds. No perf
                # data file: it would go to /tmp whatever java.io.tmpdir is
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 -XX:-UsePerfData"
                ),
                "spark.driver.memory": "2g",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.cpus = cpus

    def stop_session(self) -> None:
        """Stop Spark, then the JVM, then wait for every process the run
        started (the PySpark daemon and workers) to end, wherever the
        JVM's exit reparented them."""
        from accounting import read_stat, tree_stats

        if self.spark is None:
            return
        me = os.getpid()
        started = {key for key in tree_stats(me) if key[0] != me}
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

        def alive(pid: int, start: int) -> bool:
            st = read_stat(pid)  # a reused pid has another start time
            return st is not None and st[3] == start

        deadline = time.time() + 30
        while left := [pid for pid, start in started if alive(pid, start)]:
            if time.time() > deadline:
                for pid in left:
                    with contextlib.suppress(OSError):
                        os.kill(pid, signal.SIGKILL)
                deadline = time.time() + 30
            time.sleep(0.1)

    def record_env(self, when: str) -> None:
        self.env[f"loadavg_{when}"] = list(os.getloadavg())
        if when == "start":
            self.env.update(
                nproc=_nproc(),
                SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS"),
                seed=self.args.seed,
                workload=self.args.workload,
                trace=self.args.trace,
                seconds=self.args.seconds,
                git_commit=_git_commit(),
                code_sha1=_code_sha1(),
            )

    # -- ops -------------------------------------------------------------------

    def run_ops(self, workload, seconds: float, first_op: int, tracer=None) -> None:
        from accounting import jvm_gc_seconds

        sc = self.spark.sparkContext
        deadline = time.perf_counter() + seconds
        op = first_op
        while op == first_op or time.perf_counter() < deadline:
            rec = {"op": op, "traced": tracer is not None, "ok": False}
            inputs = None
            try:
                inputs = workload.prepare(op)
                if tracer is not None:
                    group = f"perfbench-op-{op}"
                    sc.setJobGroup(group, group)
                    gc0 = jvm_gc_seconds(self.spark)
                cpu0, w0 = self.sampler.totals()
                t0 = time.perf_counter()
                with tracer.traced(op) if tracer else contextlib.nullcontext():
                    out = workload.run(inputs)
                rec["wall_s"] = time.perf_counter() - t0
                cpu1, w1 = self.sampler.totals()
                rec["cpu_s"], rec["worker_cpu_s"] = cpu1 - cpu0, w1 - w0
                if tracer is not None:
                    tracer.collect(op)
                    rec["gc_s"] = jvm_gc_seconds(self.spark) - gc0
                    rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
                workload.check(inputs, out)
                rec["ok"] = True
            except Exception as e:  # an op failing must not stop the run
                rec["error"] = f"{type(e).__name__}: {e}"
                self.failures.append(f"op {op}: {rec['error']}")
                traceback.print_exc(file=sys.stderr)
            finally:
                if inputs is not None:
                    try:
                        workload.release(inputs)
                    except Exception:
                        traceback.print_exc(file=sys.stderr)
            self.ops.append(rec)
            op += 1

    # -- results ---------------------------------------------------------------

    def end_to_end(self) -> dict:
        ok = [o for o in self.ops if o["ok"] and not o["traced"]]
        m = {"setup_s": (self.setup_s, "s")}
        if ok:
            walls = [o["wall_s"] for o in ok]
            t, pct, n = tail(walls)
            self.extra["op_tail"] = {"percentile": pct, "samples": n}
            m["op_p50_s"] = (statistics.median(walls), "s")
            m["op_tail_s"] = (t, "s")
            m["op_cpu_s"] = (statistics.median(o["cpu_s"] for o in ok), "s")
        m["peak_rss_mb"] = (self.sampler.peak_rss_mb, "MB")
        return m

    def per_layer(self, tracer, workload) -> dict:
        """Per-layer medians over the traced ops. A layer only the set-up
        calls (the onboarding before ``daily_monitor``) is reported from
        the traced set-up."""
        from tracing import LAYERS

        traced = [o for o in self.ops if o["traced"] and o["ok"]]
        untraced = [o["wall_s"] for o in self.ops if not o["traced"] and o["ok"]]
        per_op = []
        for o in traced:
            layer = tracer.layer_sums(o["op"])
            stages = tracer.op_stages(o["op"])
            per_op.append(
                {
                    "layer": layer,
                    "spark.jobs_per_op": float(o["jobs"]),
                    "spark.stages_per_op": float(len(stages)),
                    "spark.tasks_per_op": float(sum(st.num_tasks for st in stages)),
                    "jvm.gc_s": o["gc_s"],
                    "python_workers.cpu_s": o["worker_cpu_s"],
                    "trace.span_coverage": sum(v["self_s"] for v in layer.values())
                    / o["wall_s"],
                }
            )
        self.layer_rows = per_op
        setup = tracer.layer_sums("setup") if tracer.root_of("setup") is not None else {}
        self.extra["setup_layers"] = setup

        def med(values):
            return statistics.median(values) if values else 0.0

        m = {}
        for name in LAYERS:
            units = {**LAYER_METRICS, **LAYER_EXTRA.get(name, {})}
            ops = [p["layer"][name] for p in per_op if name in p["layer"]]
            if not ops and name in setup:
                ops = [setup[name]]
            for metric, unit in units.items():
                m[f"{name}.{metric}"] = (med([v[metric] for v in ops]), unit)
        for metric, unit in OP_COUNTERS.items():
            m[metric] = (med([p[metric] for p in per_op]), unit)
        m["trace.span_coverage"] = (med([p["trace.span_coverage"] for p in per_op]), "ratio")
        m["similarity.ivf_recall_at_k"] = (
            workload.stats().get("similarity.ivf_recall_at_k", 0.0),
            "ratio",
        )
        m["trace.overhead_s"] = (
            med([o["wall_s"] for o in traced]) - med(untraced) if traced and untraced else 0.0,
            "s",
        )
        return m

    def report(self, metrics: dict) -> None:
        attempted = len(self.ops)
        failed = sum(1 for o in self.ops if not o["ok"])
        result = {
            "correct": failed == 0 and attempted > 0 and not self.aborted,
            "attempted": max(attempted, 1),
            "failed": failed if attempted else 1,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items() if v is not None},
        }
        full = {
            "env": self.env,
            "result": result,
            "failed_ops_ratio": result["failed"] / result["attempted"],
            "sizes": self.sizes,
            "ops": self.ops,
            "layers_per_op": self.layer_rows,
            "failures": self.failures,
            **self.extra,
        }
        os.makedirs(RESULTS, exist_ok=True)
        name = f"{self.args.workload}-s{self.args.seed}-t{self.args.trace}-{int(time.time())}.json"
        with open(os.path.join(RESULTS, name), "w") as f:
            json.dump(full, f, indent=1, default=str)
        print("env " + json.dumps(self.env, default=str))
        for k, (v, u) in metrics.items():
            if v is not None:
                print(f"{k:45s} {v:14.6f} {u}")
        if "op_tail" in self.extra:
            t = self.extra["op_tail"]
            print(f"op_tail_s is p{t['percentile']:.1f} of {t['samples']} ops")
        print(f"failed_ops_ratio {result['failed']}/{result['attempted']} = {full['failed_ops_ratio']:.3f}")
        for f in self.failures:
            print(f"failure: {f}")
        print(json.dumps(result), flush=True)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "thoth_spark")):
        _fail("no thoth_spark package in the working directory; run from the repository root")
    try:
        import accounting
        from workloads import WORKLOADS
    except ImportError as e:
        _fail(f"cannot import the program: {e}")
    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    t_start = time.perf_counter()
    runner = Runner(args, WORKLOADS[args.workload].sizes)
    shutil.rmtree(runner.workdir, ignore_errors=True)
    os.makedirs(runner.workdir)
    runner.record_env("start")
    workload = tracer = None
    metrics: dict = {}
    with accounting.TreeSampler() as sampler:
        runner.sampler = sampler
        try:
            runner.start_session()
            runner.env["session_s"] = time.perf_counter() - t_start
            runner.env["spark_version"] = runner.spark.version
            runner.env["java_version"] = runner.spark.sparkContext._jvm.java.lang.System.getProperty(
                "java.version"
            )
            runner.env["master"] = f"local[{runner.cpus}]"
            workload = WORKLOADS[args.workload](runner.spark, runner.workdir, args.seed)
            if args.trace:
                from tracing import Tracer

                tracer = Tracer(runner.spark, sampler)
            workload.setup(tracer)
            runner.setup_s = time.perf_counter() - t_start
            runner.env["setup_phases"] = workload.phases
            sampler.reset_peak_rss()
            if args.trace:
                runner.run_ops(workload, args.seconds / 2, 0)
                runner.run_ops(workload, args.seconds / 2, len(runner.ops), tracer)
                metrics = runner.per_layer(tracer, workload)
            else:
                runner.run_ops(workload, args.seconds, 0)
                metrics = runner.end_to_end()
        except Exception as e:  # the workload aborted: report what was measured
            runner.aborted = True
            runner.failures.append(f"aborted: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            if not metrics:
                metrics = runner.end_to_end() if not args.trace else {}
        finally:
            runner.record_env("end")
            if tracer is not None:
                os.makedirs(RESULTS, exist_ok=True)
                tracer.dump(
                    os.path.join(RESULTS, f"spans-{args.workload}-s{args.seed}-{os.getpid()}.jsonl")
                )
            runner.stop_session()
    shutil.rmtree(runner.workdir, ignore_errors=True)
    runner.report(metrics)
    return 1 if runner.aborted else 0


if __name__ == "__main__":
    sys.exit(main())
