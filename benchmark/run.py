#!/usr/bin/env python3
"""Repository benchmark: one closed-loop client, one process per run.

Usage (from the repository root):

    python3 benchmark/run.py --workload crawl_sink --seed 1 --seconds 10 --trace 0
    python3 benchmark/run.py --workload report_menu --seed 1 --smoke

Workloads (see ``workloads.py``): ``crawl_sink`` (crawl a generated tree
into the Parquet lake), ``llm_ops_sf01`` (the headline registry queries
plus the pandas-UDF dedup/text operators over generated tables) and
``report_menu`` (the report actions over a generated lake tag; not in
``BENCHMARK.json``, see ``LAYERS.md``).

A run generates its inputs from ``--seed`` into a private directory under
the checkout (removed at exit), starts the Spark session on
``local[<cores>]``, makes its warm-up passes, then repeats whole passes until
``--seconds`` have elapsed.  Every operation's output is checked.  The last
line of standard output is one JSON object: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a traced
run (job group per layer call, status REST API counters, spans written to
``.bench_out/``).  Exit status: 0 when every output was right, 1 when any
was wrong, 2 when the program or a fixture is missing.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("crawl_sink", "report_menu", "llm_ops_sf01")


def _process_start() -> float:
    """Epoch seconds at which this process started (``/proc`` clock ticks
    since boot plus the boot time)."""
    with open("/proc/self/stat", "rb") as fh:
        raw = fh.read()
    ticks = int(raw[raw.rindex(b")") + 2:].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _missing_fixture() -> str | None:
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        return f"BENCHMARK.json (metric names and units) not found in {ROOT}"
    if not os.path.isdir(os.path.join(ROOT, "storage_crawler_spark")):
        return f"program package storage_crawler_spark/ not found under {ROOT}"
    # find_spec, not import: DuckDB must stay out of the measured process
    for dep in ("duckdb", "pyarrow", "pyspark"):
        if importlib.util.find_spec(dep) is None:
            return f"python dependency missing: {dep}"
    if not (os.environ.get("JAVA_HOME") or shutil.which("java")):
        return "no Java runtime (JAVA_HOME unset and no java on PATH)"
    return None


def _configure_env(work: str) -> None:
    """Make the run independent of cwd and of machine defaults."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # Spark's Python workers import the program from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the JVMs would otherwise keep their perf-counter file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p)
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({"spark.ui.port": "0", "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000",
                     "spark.sql.ui.retainedExecutions": "100000"})
    return conf


def _generate(workload: str, inputs: str, seed: int, smoke: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "gen.py"), workload, inputs, str(seed)]
    if smoke:
        cmd.append("--smoke")
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, timeout=120).stdout
    return json.loads(out)


class Runner:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.check_s = 0.0
        self.op_id = 0

    # -- session ------------------------------------------------------------
    def start_session(self) -> float:
        from storage_crawler_spark.session import build_session

        t0 = time.time()
        self.spark = build_session(app_name=f"bench-{self.args.workload}",
                                   extra_conf=_spark_conf(self.work, bool(self.args.trace)))
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        return time.time() - t0

    def stop_session(self) -> None:
        """Stop Spark, then the driver JVM and its children, and wait for them."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        from procstat import descendants

        gw = SparkContext._gateway
        jvm = getattr(gw, "proc", None)
        kids = descendants(jvm.pid) if jvm else []
        self.spark.stop()
        self.spark = None
        if jvm is not None:
            gw.shutdown()
            jvm.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        deadline = time.time() + 30
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)

    # -- passes -------------------------------------------------------------
    def run_pass(self, ops, tracer, tree) -> dict:
        """Run every op once; returns wall, CPU and per-op walls, all
        excluding the output checks."""
        walls, cpu = [], None
        for op in ops:
            op.before()
            self.op_id += 1
            c0, t0 = tree.cpu(), time.time()
            result, error = None, None
            try:
                with tracer.span(f"op.{op.label}", self.op_id):
                    result = op.run(tracer, self.op_id)
            except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                error = traceback.format_exc()
            t1 = time.time()
            d = tree.cpu() - c0
            cpu = d if cpu is None else cpu + d
            walls.append(t1 - t0)
            tree.sample_rss()
            self.attempted += 1
            if error is None:
                try:
                    error = op.check(result)
                except Exception:  # noqa: BLE001
                    error = traceback.format_exc()
            self.check_s += time.time() - t1
            if error is not None:
                self.failed += 1
                print(f"# FAILED {op.label}: {error}", file=sys.stderr)
        return {"wall": sum(walls), "cpu": cpu, "op_walls": walls,
                "labels": [op.label for op in ops]}


def main(argv=None) -> int:
    started = _process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and a single measured pass")
    args = ap.parse_args(argv)

    missing = _missing_fixture()
    if missing:
        print(f"benchmark: cannot run: {missing}", file=sys.stderr)
        return 2

    # Keep the JSON the last line of stdout: everything else (Spark, the
    # JVM, Python workers) writes to stderr through fd 1.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    os.makedirs(os.path.join(ROOT, ".bench_tmp"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".bench_tmp"))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    runner = Runner(args, work)
    try:
        _configure_env(work)
        report = _run(args, runner, work, started)
    finally:
        runner.stop_session()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    summary, result = report
    print(summary, file=result_out)
    print(json.dumps(result), file=result_out)
    result_out.flush()
    return 0 if result["correct"] else 1


def _run(args, runner: Runner, work: str, started: float):
    from procstat import ProcTree
    from sizes import WARMUP_PASSES
    from spans import Tracer
    from workloads import WORKLOADS

    t0 = time.time()
    inputs = _generate(args.workload, os.path.join(work, "inputs"), args.seed, args.smoke)
    gen_s = time.time() - t0

    build_s = runner.start_session()
    spark = runner.spark
    tree = ProcTree(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    tracer = Tracer(spark, enabled=False)
    ops = WORKLOADS[args.workload](spark, inputs, work)

    # warm-up: JIT, Python workers, codegen
    for _ in range(1 if args.smoke else WARMUP_PASSES[args.workload]):
        runner.run_pass(ops, tracer, tree)
    setup_s = time.time() - started - gen_s - runner.check_s

    traced, plain = [], []
    t_measure = time.time()
    while True:
        if args.trace:
            tracer.enabled = True
            s0 = len(tracer.spans)
            p = runner.run_pass(ops, tracer, tree)
            traced.append((tracer.spans[s0:], p))
            tracer.enabled = False
        plain.append(runner.run_pass(ops, tracer, tree))
        if args.smoke or time.time() - t_measure >= args.seconds:
            break
    if args.trace and args.workload == "crawl_sink":
        # the functions UDFs over the written paths, as a layer of their own
        from workloads import enrich

        tracer.enabled = True
        runner.op_id += 1
        enrich(spark, inputs, work, tracer, runner.op_id)
        tracer.enabled = False

    from metrics import end_to_end, per_layer, summary_line

    correct = runner.failed == 0
    if args.trace:
        metrics, layers = per_layer(spark, tracer, traced, plain, build_s)
        for name, row in layers.items():
            print(f"# layer {name}: " + " ".join(f"{k}={v:.6g}" for k, v in row.items()),
                  file=sys.stderr)
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
                    {"workload": args.workload, "seed": args.seed, "layers": layers,
                     "metrics": metrics})
    else:
        metrics = end_to_end(setup_s, plain, tree)
    summary = summary_line(args.workload, inputs, plain, setup_s, gen_s, build_s,
                           runner.attempted, runner.failed, tree)
    return summary, {"correct": correct, "attempted": runner.attempted,
                     "failed": runner.failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
