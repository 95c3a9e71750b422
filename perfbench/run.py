#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tpcds_micro --seed 1 --seconds 5 --trace 0

Steps: pin the host posture, make the inputs (untimed), set up the
workload several times, then run timed passes over the workload's fixed
operation set until ``--seconds`` have passed (and ``MIN_PASSES``),
then check every output against its oracle. The last line of standard
output is one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. A traced run alternates traced
and untraced passes and reports the difference as
``trace.overhead_ratio``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def pin_posture() -> dict:
    """Run the program with its own defaults on every core of this host.

    Only what the repository's tier-1 test command sets is set here, plus
    PYTHONPATH so Spark's Python workers can import the package. Inherited
    ``SPARK_GRAFT_*`` tuning knobs are removed so a change to a default
    shows in the numbers.
    """
    removed = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    for k in removed:
        del os.environ[k]
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    return {
        "nproc": cpus,
        "loadavg": list(os.getloadavg()),
        "spark_graft_env": {
            k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")
        },
        "spark_graft_env_removed": removed,
    }


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class ExecTotals:
    """Executor work of the stages that ran between ``start`` and ``stop``,
    read from Spark's status store once its listener bus has drained."""

    KEYS = ("jobs", "tasks", "failed_tasks", "task_s", "cpu_s", "gc_s",
            "input_mb", "shuffle_read_mb", "shuffle_write_mb")

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext._jsc.sc()
        self.total = dict.fromkeys(self.KEYS, 0.0)

    def _stages(self):
        store = self.sc.statusStore()
        defaults = [getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
        return store.stageList(None, *defaults)

    def _ids(self) -> tuple[int, int]:
        self.sc.listenerBus().waitUntilEmpty()
        jobs, stages = self.sc.statusStore().jobsList(None), self._stages()
        return (
            max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1),
            max((stages.apply(i).stageId() for i in range(stages.size())), default=-1),
        )

    def start(self) -> None:
        self._job0, self._stage0 = self._ids()

    def stop(self) -> None:
        job1, _ = self._ids()
        t = self.total
        t["jobs"] += job1 - self._job0
        stages = self._stages()
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.stageId() <= self._stage0:
                continue
            t["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            t["failed_tasks"] += st.numFailedTasks()
            t["task_s"] += st.executorRunTime() / 1e3
            t["cpu_s"] += st.executorCpuTime() / 1e9
            t["gc_s"] += st.jvmGcTime() / 1e3
            t["input_mb"] += st.inputBytes() / 1e6
            t["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            t["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _failure(e: Exception) -> str:
    traceback.print_exc(file=sys.stderr)
    return f"{type(e).__name__}: {e}"


class Bench:
    """Runs operations one at a time and keeps each output for checking."""

    def __init__(self, wl, tracer) -> None:
        self.wl = wl
        self.tracer = tracer
        self.results: list[dict] = []

    def run_pass(self, spark, ops: list, timed: bool) -> float:
        t_pass = time.perf_counter()
        for op in ops:
            t0 = time.perf_counter()
            out = err = None
            try:
                with self.tracer.span("bench.op"):
                    out = self.wl.run_op(spark, op, self.tracer)
            except Exception as e:  # every failure is counted and printed
                err = _failure(e)
            self.results.append({"op": op, "out": out, "err": err, "timed": timed,
                                 "latency": time.perf_counter() - t0})
        return time.perf_counter() - t_pass

    def check(self) -> None:
        for r in self.results:
            if r["err"] is None:
                try:
                    r["err"] = self.wl.check(r["op"], r["out"])
                except Exception as e:  # a check that cannot run is a failure
                    r["err"] = _failure(e)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    posture = pin_posture()
    try:
        import duckdb
        import pyspark

        from flink_tpcds_spark.session import get_spark
        from spans import Tracer
        from workloads import MIN_PASSES, N_SETUPS, WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)

    wl = WORKLOADS[args.workload](WORK, args.seed, traced=bool(args.trace))
    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0

    tracer = Tracer()
    bench = Bench(wl, tracer)
    rng = random.Random(args.seed)
    setups: list[dict[str, float]] = []
    spark = None
    try:
        # Set-up, several times: a session start, then the workload's own
        # set-up. Only the first session start launches the JVM.
        for i in range(N_SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            t1 = time.perf_counter()
            steps = wl.setup(spark, i)
            setups.append({"session": t1 - t0, "workload": time.perf_counter() - t1,
                           **steps})
        posture.update(
            workload=args.workload, seed=args.seed, git_sha=git_sha(),
            spark=pyspark.__version__, duckdb=duckdb.__version__,
            java=spark._jvm.java.lang.System.getProperty("java.version"),
            python=sys.version.split()[0],
        )
        print("posture " + json.dumps(posture, sort_keys=True), flush=True)

        # Plain runs time from the first operation after set-up: the JVM is
        # fresh, as in a batch job, and warming it to a steady state takes
        # longer than a run can. A traced run first warms up for one
        # untimed pass, then orders its passes untraced, traced, traced,
        # untraced (repeated) so that a drift in speed over the run cancels
        # out of trace.overhead_ratio.
        if args.trace:
            wl.install_tracing(tracer)
            bench.run_pass(spark, wl.pass_ops(rng), timed=False)
        walls, traced_walls, untraced_walls = [], [], []
        exec_totals = ExecTotals(spark)
        t_start = time.perf_counter()
        k = 0
        while True:
            traced = bool(args.trace) and k % 4 in (1, 2)
            if traced:
                exec_totals.start()
                tracer.enabled = True
            wall = bench.run_pass(spark, wl.pass_ops(rng), timed=True)
            tracer.enabled = False
            walls.append(wall)
            if traced:
                exec_totals.stop()
                traced_walls.append(wall)
            elif args.trace:
                untraced_walls.append(wall)
            k += 1
            if time.perf_counter() - t_start >= args.seconds and (
                k % 4 == 0 if args.trace else k >= MIN_PASSES
            ):
                break

        # Output checks, outside every timing.
        t0 = time.perf_counter()
        bench.check()
        try:
            final_errors = wl.final_check(spark)
        except Exception as e:  # a check that cannot run is a failure
            final_errors = [_failure(e)]
        check_s = time.perf_counter() - t0
        peak_rss = vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
        peak_rss += vm_hwm_mb("self")
    finally:
        tracer.unwrap_all()
        t0 = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        stop_s = time.perf_counter() - t0

    failed = [r for r in bench.results if r["err"] is not None]
    for r in failed:
        print(f"FAILED {args.workload} {r['op']}: {r['err']}", file=sys.stderr)
    for e in final_errors:
        print(f"FAILED {args.workload} final check: {e}", file=sys.stderr)
    attempted = len(bench.results) + wl.final_checks
    n_failed = len(failed) + len(final_errors)
    timed = [r["latency"] for r in bench.results if r["timed"]]

    if args.trace:
        metrics = layer_metrics(
            wl, tracer, setups, exec_totals.total, traced_walls, untraced_walls,
            check_s,
        )
        metrics["peak_rss_mb"] = (peak_rss, "MB")
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.write(
            os.path.join(WORK, "traces", f"{args.workload}-{args.seed}-{tracer.run_id}.json"),
            {"workload": args.workload, "seed": args.seed, "posture": posture},
        )
    else:
        metrics = {
            # What a user pays before the first operation: the session start
            # that launches the JVM, which a process can make only once,
            # plus the median of the workload's repeated set-ups.
            "setup_s": (setups[0]["session"]
                        + statistics.median(s["workload"] for s in setups), "s"),
            "wall_s": (statistics.mean(walls), "s"),
            "latency_p50_s": (statistics.median(timed), "s"),
        }
    print(f"{args.workload}: {len(walls)} timed passes, {len(timed)} timed ops, "
          f"{len(bench.results) - len(timed)} untimed ops; seconds spent: "
          f"prepare {prepare_s:.1f}, "
          f"set-up {sum(s['session'] + s['workload'] for s in setups):.1f}, "
          f"timed {sum(walls):.1f}, check {check_s:.1f}, "
          f"stop {stop_s:.1f}; fail_ratio {n_failed}/{attempted}, "
          f"outputs {'correct' if not n_failed else 'INCORRECT'}")
    print("  op latencies (s): " + " ".join(
        f"{r['op']}{'' if r['timed'] else '(untimed)'}={r['latency']:.3f}"
        for r in bench.results))
    if not args.trace:
        print("  set-ups (s): " + ", ".join(
            f"session {s['session']:.3f} + workload {s['workload']:.3f}" for s in setups))
        # A percentile is reported only with ten samples beyond it.
        p90 = (f"{statistics.quantiles(timed, n=10)[-1]:.4f} s" if len(timed) >= 100
               else "not reported, fewer than 100 ops")
        print(f"  latency_p50_s over {len(timed)} timed ops; p90 {p90}")
    for name, (value, unit) in metrics.items():
        print(f"  {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": n_failed == 0,
        "attempted": attempted,
        "failed": n_failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }), flush=True)
    return 0


def layer_metrics(wl, tracer, setups, exec_delta, traced_walls, untraced_walls,
                  check_s) -> dict[str, tuple[float, str]]:
    """Per-layer numbers, per traced pass unless named otherwise."""
    from workloads import DATAPIPE_OPS

    n = len(traced_walls)
    self_t = tracer.self_times()
    c = tracer.counts

    def per_pass(v: float) -> float:
        return v / n

    def med_setup(key: str) -> float:
        """Median over the set-ups that made this step (0 if none did)."""
        return statistics.median([s[key] for s in setups if key in s] or [0.0])

    top = sum(s["end"] - s["start"] for s in tracer.spans if s["parent"] is None)
    wall_traced = statistics.median(traced_walls)
    m: dict[str, tuple[float, str]] = {
        "session.jvm_start_s": (setups[0]["session"], "s"),
        "session.start_s": (statistics.median(s["session"] for s in setups[1:]), "s"),
        "runner.register_s": (med_setup("runner.register_s"), "s"),
        "runner.analyze_s": (med_setup("runner.analyze_s"), "s"),
        "merge.convert_s": (med_setup("merge.convert_s"), "s"),
        "tpcds.datagen_s": (wl.datagen_s, "s"),
        "catalyst.analysis_s": (per_pass(c["catalyst.analysis_s"]), "s"),
        "catalyst.optimization_s": (per_pass(c["catalyst.optimization_s"]), "s"),
        "catalyst.planning_s": (per_pass(c["catalyst.planning_s"]), "s"),
        "runner.run_spark_s": (per_pass(self_t.get("runner.run_spark", 0.0)), "s"),
        "cte.prepare_s": (per_pass(self_t.get("cte.prepare", 0.0)), "s"),
        "cte.cleanup_s": (per_pass(self_t.get("cte.cleanup", 0.0)), "s"),
        "cte.bodies_cached": (per_pass(c["cte.bodies_cached"]), "count"),
        "exec.jobs": (per_pass(exec_delta["jobs"]), "count"),
        "exec.tasks": (per_pass(exec_delta["tasks"]), "count"),
        "exec.failed_tasks": (per_pass(exec_delta["failed_tasks"]), "count"),
        "exec.task_s": (per_pass(exec_delta["task_s"]), "s"),
        "exec.cpu_s": (per_pass(exec_delta["cpu_s"]), "s"),
        "exec.gc_s": (per_pass(exec_delta["gc_s"]), "s"),
        "exec.input_mb": (per_pass(exec_delta["input_mb"]), "MB"),
        "exec.shuffle_read_mb": (per_pass(exec_delta["shuffle_read_mb"]), "MB"),
        "exec.shuffle_write_mb": (per_pass(exec_delta["shuffle_write_mb"]), "MB"),
        "exec.core_util": (
            exec_delta["task_s"] / (sum(traced_walls) * int(os.environ["SPARK_GRAFT_CPUS"])),
            "ratio",
        ),
    }
    for op in DATAPIPE_OPS:
        m[f"datapipe.{op}_s"] = (per_pass(self_t.get(f"datapipe.{op}", 0.0)), "s")
    m["datapipe.rows_out"] = (per_pass(c["datapipe.rows_out"]), "count")
    cs_rows = c["merge.changeset_rows"]
    m.update({
        "merge.apply_s": (per_pass(self_t.get("merge.apply_changeset", 0.0)), "s"),
        "merge.read_s": (per_pass(self_t.get("merge.read_merge_table", 0.0)), "s"),
        "merge.rows_written": (per_pass(c["merge.rows_written"]), "count"),
        "merge.buckets_touched": (per_pass(c["merge.buckets_touched"]), "count"),
        "merge.write_amp": (c["merge.rows_written"] / cs_rows if cs_rows else 0.0, "ratio"),
        "merge.table_mb": (wl.table_mb(), "MB"),
        "bench.op_self_s": (per_pass(self_t.get("bench.op", 0.0)), "s"),
        "oracle.check_s": (check_s, "s"),
        "trace.wall_s": (wall_traced, "s"),
        "trace.overhead_ratio": (
            statistics.mean(traced_walls) / statistics.mean(untraced_walls) - 1,
            "ratio",
        ),
        "trace.top_coverage": (top / sum(traced_walls), "ratio"),
    })
    return m


if __name__ == "__main__":
    sys.exit(main())
