"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the seeded inputs for one
workload, starts Spark at local[N] (N = min(4, cores)), checks every
operation's output once (the cold pass), then times passes for
``--seconds``.
The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
annotates the run (seed, cores, every pass, failed_frac, host noise).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes (spans around layer calls, one Spark job
group per span, Spark's event log attached) for twice ``--seconds``,
and reports the per-layer metrics. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = min(4, os.cpu_count() or 1)


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _session(get_spark, work: str):
    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.driver.memory": "2g",
            # keep every scratch file inside the checkout; -Xss16m as get_spark sets it
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xss16m",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Window:
    """Timed passes: a new pass starts while less than ``seconds`` have passed."""

    def __init__(self):
        self.passes: list[int] = []  # the tracer's pass index of each pass
        self.pass_s: list[float] = []
        self.op_s: dict[str, list[float]] = {}
        self.cpu_s: list[float] = []
        self.attempted = 0
        self.problems: list[str] = []

    def run(self, wl, spark, tracer, seconds: float, procstat) -> None:
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            self.one_pass(wl, spark, tracer, procstat)

    def one_pass(self, wl, spark, tracer, procstat) -> None:
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        c0, t0 = procstat.cpu_seconds(os.getpid()), time.perf_counter()
        with tracer.span("pass"):
            out, op_s = wl.run_pass()
        t1, c1 = time.perf_counter(), procstat.cpu_seconds(os.getpid())
        self.passes.append(tracer.pass_idx)
        self.pass_s.append(t1 - t0)
        self.cpu_s.append(c1 - c0)
        for op, s in op_s.items():
            self.op_s.setdefault(op, []).append(s)
        n, problems = wl.verify(out)
        self.attempted += n
        self.problems += problems
        tracer.pass_idx += 1

    def median_pass_s(self) -> float:
        """One pass's wall time as the sum of each operation's median over
        the passes; from three passes on, a burst of host load that slows
        one operation in one pass moves no median."""
        return sum(statistics.median(s) for s in self.op_s.values())


def _noise(stat0, stat1, spins) -> dict:
    steal = None
    if stat0 and stat1 and stat1[0] > stat0[0]:
        steal = 100.0 * (stat1[1] - stat0[1]) / (stat1[0] - stat0[0])
    return {"cpu_steal_pct": steal, "spin_noise_ratio": statistics.median(spins) / min(spins)}


def main() -> int:
    args = _args()
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:
        import bench
        from spark_cassandra_collabfiltering_spark.session import get_spark

        from perfbench import eventlog, procstat, spans
        from perfbench.workloads import PER_LAYER_UNITS, WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # no hsperfdata files in /tmp, launcher JVM included
    spark = None
    try:
        spark = _session(get_spark, work)
        t_session = time.perf_counter()
        tracer = spans.Tracer(spark.sparkContext)
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
        wl.prepare()
        t_inputs = time.perf_counter()
        attempted, problems = wl.check()
        t_ready = time.perf_counter()

        spin_iters = bench._calibrate_spin()
        spins = [bench._spin_once(spin_iters)]
        stat0 = bench._proc_stat()
        plain, traced = Window(), Window()
        if args.trace:
            # untraced and traced passes alternate in the order u t t u u t ...,
            # so both see the same warm-up and host load; tracing_overhead_s
            # compares them
            log = spans.EventLog(spark.sparkContext, os.path.join(work, "eventlog"))
            wl.trace()
            log.start()
            deadline = time.perf_counter() + 2 * args.seconds
            order = [(plain, False), (traced, True)]
            while time.perf_counter() < deadline:
                for w, on in order:
                    tracer.enabled = on
                    w.one_pass(wl, spark, tracer, procstat)
                order.reverse()
            tracer.enabled = False
            groups = eventlog.read_file(log.stop())
        else:
            plain.run(wl, spark, tracer, args.seconds, procstat)
        spins.append(bench._spin_once(spin_iters))
        windows = [plain, traced]
        stat1 = bench._proc_stat()

        for w in windows:
            attempted, problems = attempted + w.attempted, problems + w.problems
        pass_s = plain.median_pass_s()
        if args.trace:
            traced_s = traced.median_pass_s()
            values = dict.fromkeys(PER_LAYER_UNITS, 0.0)
            values.update(wl.layers(tracer.spans, groups, traced.passes, traced_s, CORES))
            values.update({
                "setup.session_s": t_session - t_start,
                "setup.inputs_s": t_inputs - t_session,
                "setup.check_s": t_ready - t_inputs,
                "tracing_overhead_s": traced_s - pass_s,
                "peak_rss_mb": procstat.peak_rss_mb(os.getpid()),
            })
            metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in values.items()}
        else:
            metrics = {
                "pass_s": {"value": pass_s, "unit": "s"},
                "cpu_s": {"value": statistics.median(plain.cpu_s), "unit": "s"},
                "setup_s": {"value": t_ready - t_start, "unit": "s"},
            }
        failed = len(problems)
        for p in problems[:20]:
            print(f"perfbench: FAILED {p}", file=sys.stderr)
        print(json.dumps({
            "workload": args.workload,
            "seed": args.seed,
            "cores": CORES,
            "trace": args.trace,
            "passes_s": [w.pass_s for w in windows if w.pass_s],
            "failed_frac": {"value": failed / attempted, "unit": "ratio"},
            "host_noise": _noise(stat0, stat1, spins),
        }))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        _shutdown(spark, procstat)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass


def _shutdown(spark, procstat) -> None:
    """Stop Spark, end the JVM and wait until every child process is gone."""
    if spark is None:
        return
    from pyspark import SparkContext

    pids = set(procstat.tree(os.getpid())) - {str(os.getpid())}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on EOF
        gateway.proc.wait(timeout=60)
    deadline = time.time() + 60
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())
