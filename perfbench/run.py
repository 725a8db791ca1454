"""Lifecycle benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload dashboard_reads --seed 1 --seconds 12 --trace 0

Run from the repository root. A run stages its seeded inputs under
``.perfbench_work/``, starts one ``local[nproc]`` session through the
engine's ``session.get_spark``, sets up and warms up (timed as
``setup_s``), then runs ops back to back for ``--seconds``, in whole
rounds of the workload's query mix. Every op's output is checked outside
the timed interval; a wrong or failed op counts in ``failed``.

``--trace 0`` prints the end-to-end metrics (op CPU, set-up CPU, peak
RSS); every op's wall time is in the run record. ``--trace 1`` alternates
traced and untraced rounds of the query mix and prints the per-layer
metrics from the traced ones (see layers.py), including the
traced-minus-untraced op median as ``trace.overhead_ms``.

The last stdout line is the result JSON; the line before it is the
run-environment record (also written, with every op and span, to
``.perfbench_out/``). Exit code 2 means the engine could not be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench import probe  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# A fixed heap: the engine's default (16g) exceeds what a shared 15 GB
# host can give, which left heap growth and RSS unbounded.
DRIVER_MEMORY = "1g"


def _configure_env(work: str) -> None:
    """Pin the known noise sources and keep every by-product in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the engine's default is 32 task threads whatever the host has
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # A fixed set of JIT compiler threads: op_cpu_s leaves their CPU out,
    # which needs them to live as long as the JVM.
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
        # traced runs read every job and stage back from the UI store
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit (it exits when
    its stdin, held by this process, closes)."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


class Run:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.ops: list[dict] = []
        self.setup_ops: list[dict] = []
        self.setup_problems: list[str] = []

    def start(self) -> None:
        from bbt_etl_dw_spark.session import get_spark

        from perfbench.trace import Tracer

        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_start_s = time.perf_counter() - T_START
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())
        self.tracer = Tracer(self.spark, self.args.workload)
        self.wl = WORKLOADS[self.args.workload](self.spark, self.tracer, self.args.seed,
                                                bool(self.args.trace))

    def cpu(self) -> float:
        """CPU seconds of the driver JVM, without its JIT compiler threads,
        plus this Python process."""
        jvm = probe.cpu_seconds(self.jvm_pid) - probe.jit_cpu_seconds(self.jvm_pid)
        return jvm + probe.cpu_seconds(os.getpid())

    def _checked(self, check) -> list[str]:
        """Run an untimed output check; its CPU is kept out of set-up CPU."""
        c0 = self.cpu()
        problems = check()
        self.check_cpu_s += self.cpu() - c0
        return problems

    def setup(self, excluded_cpu_s: float) -> None:
        """Stage the seeded inputs, run the workload's set-up engine work
        (traced in a traced run) and the warm-up ops. All of it counts in
        ``setup_s``; output checks and ``excluded_cpu_s`` (the host probe)
        do not."""
        self.check_cpu_s = excluded_cpu_s
        t0 = time.perf_counter()
        self.wl.stage(os.path.join(self.work, "inputs"))
        t1 = time.perf_counter()
        self.tracer.enabled = bool(self.args.trace)
        self.tracer.set_op(-1)
        rec = self.wl.prepare()
        self.tracer.enabled = False
        t2 = time.perf_counter()
        if rec is not None:
            rec.update({"i": -1, "traced": bool(self.args.trace), "ms": (t2 - t1) * 1000.0})
            self.setup_ops.append(rec)
            self.setup_problems += self._checked(self.wl.check_prepared)
        self.stage_s, self.prepare_s, self.warmup_s = t1 - t0, t2 - t1, 0.0
        # warm-up ops are whole rounds, so the timed ops start a round
        for i in range(self.wl.warmup_ops):
            t = time.perf_counter()
            out = self.wl.op(i)
            self.wl.after(out)
            self.warmup_s += time.perf_counter() - t
            self.setup_problems += self._checked(lambda: self.wl.check(out))
        self.first_op = self.wl.warmup_ops
        self.setup_cpu_s = self.cpu() - self.check_cpu_s

    def loop(self) -> None:
        tracer, trace = self.tracer, bool(self.args.trace)
        deadline = time.perf_counter() + self.args.seconds
        i, round_len = self.first_op, self.wl.round_len
        # Whole rounds of the query mix only, so every run averages over the
        # same mix. A traced run alternates traced and untraced rounds, so
        # both halves hold every kind; it needs one round of each.
        min_ops = 2 * round_len if trace else 1
        while (time.perf_counter() < deadline or len(self.ops) < min_ops
               or len(self.ops) % round_len):
            traced = trace and ((i - self.first_op) // round_len) % 2 == 0
            tracer.enabled = traced
            tracer.set_op(i)
            rec = {"i": i, "traced": traced, "kind": self.wl.kind(i)}
            gc0 = tracer.gc_ms() if traced else 0.0
            cpu0 = self.cpu()
            t0 = time.perf_counter()
            try:
                out, err = self.wl.op(i), None
            except Exception:  # a failed op is counted, the run goes on
                out, err = None, traceback.format_exc(limit=3)
            t1 = time.perf_counter()
            rec["cpu_s"] = self.cpu() - cpu0
            rec["ms"] = (t1 - t0) * 1000.0
            if traced:
                rec["gc_ms"] = tracer.gc_ms() - gc0
            tracer.enabled = False
            if err is None:
                rec.update(self.wl.after(out))
                rec["problems"] = self.wl.check(out)
            else:
                rec["problems"] = [err]
            self.ops.append(rec)
            i += 1

    def env_record(self, probes: list[float], steal_s: float) -> dict:
        sc = self.spark.sparkContext
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "samples": len(self.ops),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "SPARK_DRIVER_MEMORY": os.environ["SPARK_DRIVER_MEMORY"],
            "defaultParallelism": sc.defaultParallelism,
            "heap_max_mb": self.spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
            "steal_s": steal_s,
            "host_probe_ms": probes,
            "loadavg": os.getloadavg(),
            "spark": self.spark.version,
            "jvm_start_s": self.jvm_start_s,
            "stage_s": self.stage_s,
            "prepare_s": self.prepare_s,
            "warmup_s": self.warmup_s,
            "setup_wall_s": self.jvm_start_s + self.stage_s + self.prepare_s + self.warmup_s,
            "setup_cpu_s": self.setup_cpu_s,
            "check_cpu_s": self.check_cpu_s,
            "inputs": self.wl.describe(),
        }

    def end_to_end(self) -> dict:
        """The gated metrics. ``op_cpu_s`` is the mean over whole rounds, so
        every query kind counts and the mix is the same in every run.
        ``setup_s`` is the CPU the set-up costs. Wall times are not gated:
        they move with host CPU steal far beyond any bound (README.md,
        Noise); the run record keeps the set-up wall, and traced runs report
        op wall as ``op_p50_ms``/``op_p90_ms``."""
        return {
            "op_cpu_s": {"value": sum(o["cpu_s"] for o in self.ops) / len(self.ops),
                         "unit": "s"},
            "setup_s": {"value": self.setup_cpu_s, "unit": "s"},
            "peak_rss_mb": {"value": probe.peak_rss_mb(self.jvm_pid)
                            + probe.peak_rss_mb(os.getpid()), "unit": "MB"},
        }

    def per_layer(self, steal_s: float, probes: list[float]) -> dict:
        from perfbench.layers import per_layer_metrics

        exec_stats = self.tracer.resolve()
        return per_layer_metrics(self.wl.kinds, self.setup_ops, self.ops,
                                 self.tracer.spans, exec_stats, steal_s, probes)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _configure_env(work)
    try:
        import bbt_etl_dw_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    run = Run(args, work)
    spark_started = False
    try:
        cpu0 = probe.cpu_seconds(os.getpid())
        probe0, steal0 = probe.host_speed_ms(), probe.steal_seconds()
        probe_cpu_s = probe.cpu_seconds(os.getpid()) - cpu0
        run.start()
        spark_started = True
        run.setup(probe_cpu_s)
        run.loop()
        probes = [probe0, probe.host_speed_ms()]
        steal_s = probe.steal_seconds() - steal0
        env = run.env_record(probes, steal_s)
        if args.trace:
            metrics = run.per_layer(steal_s, probes)
        else:
            metrics = run.end_to_end()
        problems = run.setup_problems + [p for o in run.ops for p in o["problems"]]
        env["problems"] = problems[:20]
        result = {
            "correct": not problems,
            "attempted": len(run.ops),
            "failed": sum(1 for o in run.ops if o["problems"]),
            "metrics": metrics,
        }
        out_dir = os.path.join(os.getcwd(), ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        record = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(record, "w") as f:
            json.dump({"env": env, "result": result, "setup_ops": run.setup_ops,
                       "ops": run.ops, "spans": [vars(s) for s in run.tracer.spans]},
                      f, indent=1, default=str)
    finally:
        if spark_started:
            run.wl.close()
            _stop(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"env": env}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
