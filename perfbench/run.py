"""Benchmark of the export engine and the near-dup operator.

Run from the repository root:

    python3 perfbench/run.py --heap 3g --workload export --seed 1 --seconds 15 --trace 0

One process, one Spark session on local[nproc], one operation at a time
(a closed loop with a single client).  The run

  1. generates the seeded inputs (reported as ``gen_s``, outside
     ``setup_s``), then sets up: ``plans.session.default_session``
     (which starts the JVM and attaches the package zip) and WARMUPS
     untimed operations.  ``setup_s`` is that set-up's wall time.  It is
     measured once per run: a session stopped and rebuilt in the same
     process keeps module-level pandas UDFs bound to the stopped
     context, so a rebuilt session is not a fair repeat;
  2. with ``--trace 0`` runs timed operations until ``--seconds`` have
     passed (at least MIN_OPS of them) and reports the end-to-end
     metrics;
  3. with ``--trace 1`` runs untraced operations, whose Spark
     stage metrics give the ``op.*`` figures, with traced ones, whose
     spans give the per-layer figures, and reports those.

Every operation's output is checked against the first warm-up's
(see workloads.py; ``python3 perfbench/selftest.py`` runs the whole
benchmark once at a small size), and the check's rules that DuckDB can state are
checked with DuckDB.  The last line of standard output is the result
object; the lines before it repeat each metric with its unit and carry
the run's diagnostics.  Spans and diagnostics are also written to
``.perfbench_work/trace-<workload>-<seed>.json``.

Metric names and units come from BENCHMARK.json at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WARMUPS = 1
MIN_OPS = 3
MAX_OPS = 12
# --trace 1: untraced, traced, traced, untraced (ABBA)
TRACE_ORDER = (False, True, True, False)
# span fields summed into <layer>.<field>, and those a layer reports as is
SUMMED = ("wall_s", "self_s", "cpu_s", "wait_s", "shuffle_mb", "rows_out",
          "py_nodes", "jobs", "bytes_out", "mb")
RATIOS = ("kept_ratio", "useful_ratio", "store")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--heap", default="3g",
                   help="JVM heap of the local Spark process (SPARK_OSM_DRIVER_MEM)")
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the self-test uses a small one)")
    return p.parse_args(argv)


def confine_to_work_dir(heap):
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    for d in ("tmp", "local", "ckpt"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_OSM_CKPT_DIR"] = os.path.join(WORK, "ckpt")
    os.environ["SPARK_OSM_DRIVER_MEM"] = heap
    os.environ["JAVA_TOOL_OPTIONS"] = "-Djava.io.tmpdir=%s -XX:-UsePerfData" % tmp
    import tempfile

    tempfile.tempdir = tmp


def nproc():
    return len(os.sched_getaffinity(0))


def new_session(cores):
    from osm_export_tool_python_spark.plans.session import default_session

    spark = default_session(
        master="local[%d]" % cores, app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark):
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def rss_mb(pid):
    with open("/proc/%d/status" % pid) as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class RssSampler:
    """Peak RSS of one process, sampled every 50 ms while running."""

    def __init__(self, pid):
        self.pid, self.peak = pid, 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_mb(self.pid))
            self._stop.wait(0.05)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()


def git_commit():
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
        return out.stdout.strip() or None
    except Exception:
        return None


def vm_probe(cores):
    """bench.vm_probe, with its scratch-disk probe file kept in the
    work directory instead of /tmp."""
    import tempfile

    import bench

    real = tempfile.NamedTemporaryFile

    def in_work_dir(*a, **k):
        k["dir"] = tempfile.gettempdir()
        return real(*a, **k)

    tempfile.NamedTemporaryFile = in_work_dir
    try:
        return bench.vm_probe(cores)
    finally:
        tempfile.NamedTemporaryFile = real


def stop_spark(spark):
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    def __init__(self, args, wl, spec):
        self.args, self.wl, self.spec = args, wl, spec
        self.cores = nproc()
        self.problems = []
        self.n_out = 0

    def out_dir(self):
        self.n_out += 1
        path = os.path.join(WORK, "out", str(self.n_out))
        shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
        return path

    def checked(self, result, out, label):
        got = self.wl.summary(result, out)
        bad = self.wl.check(got, self.expected)
        for b in bad:
            self.problems.append("%s: %s" % (label, b))
        return got, not bad

    def setup(self):
        """Stage the inputs, start the session, run the warm-ups; the
        first warm-up's output is the reference every later one is
        checked against."""
        t = time.perf_counter()
        self.wl.stage(self.cores)
        self.gen_s = time.perf_counter() - t
        spark = new_session(self.cores)
        self.session_s = time.perf_counter() - T_START - self.gen_s
        self.warm_s = []
        for i in range(WARMUPS):
            out = self.out_dir()
            t = time.perf_counter()
            res = self.wl.op(spark, out)
            self.warm_s.append(time.perf_counter() - t)
            if i == 0:
                ref = self.wl.summary(res, out)
                self.expected = self.wl.expected(ref)
                for b in self.wl.check(ref, self.expected):
                    self.problems.append("reference: %s" % b)
            else:
                self.checked(res, out, "warm-up %d" % i)
        self.setup_s = self.session_s + sum(self.warm_s)
        return spark

    def timed(self, spark):
        ops, rows, nbytes, failed = [], [], [], 0
        with RssSampler(jvm_pid(spark)) as rss:
            t_begin = time.perf_counter()
            while len(ops) < MAX_OPS and (
                len(ops) < MIN_OPS or time.perf_counter() - t_begin < self.args.seconds
            ):
                out = self.out_dir()
                t = time.perf_counter()
                try:
                    res = self.wl.op(spark, out)
                    dt = time.perf_counter() - t
                    got, ok = self.checked(res, out, "op %d" % len(ops))
                    rows.append(got["rows_out"])
                    nbytes.append(got["bytes_out"])
                except Exception:  # a raising op counts as failed
                    dt = time.perf_counter() - t
                    self.problems.append("op %d raised: %s" % (
                        len(ops), traceback.format_exc(limit=3)))
                    ok = False
                ops.append(dt)
                failed += not ok
        op_s = statistics.median(ops)
        row = statistics.median(rows) if rows else 0
        self.attempted, self.failed = len(ops), failed
        self.op_times = ops
        return {
            "op_s": op_s,
            "rows_per_s": row / op_s,
            "setup_s": self.setup_s,
            "peak_rss_mb": rss.peak,
            "out_bytes_per_row": (statistics.median(nbytes) / row) if row else 0.0,
        }

    def traced(self, spark):
        from perfbench.tracing import Tracer

        tracer = Tracer()
        untraced, traced, op_level, layer_runs = [], [], [], []
        failed = 0
        # ABBA order, so the operations' downward drift after warm-up
        # does not bias the traced-minus-untraced overhead
        for op_id, is_traced in enumerate(TRACE_ORDER, 1):
            out = self.out_dir()
            with tracer.operation(spark, op_id):
                t = time.perf_counter()
                if is_traced:   # one span per layer call
                    res = self.wl.traced_op(spark, out, tracer)
                else:           # all jobs in the root span: op.* figures
                    res = self.wl.op(spark, out)
                (traced if is_traced else untraced).append(time.perf_counter() - t)
            spans = tracer.attach_stage_metrics(spark, op_id, self.cores)
            if is_traced:
                layer_runs.append(spans)
            else:
                op_level.append(spans[0])
            label = "%s op %d" % ("traced" if is_traced else "untraced", op_id)
            failed += not self.checked(res, out, label)[1]
        self.attempted, self.failed = len(TRACE_ORDER), failed
        self.tracer = tracer
        return self.layer_metrics(untraced, traced, op_level, layer_runs)

    def layer_metrics(self, untraced, traced, op_level, layer_runs):
        """Per-layer figures: each layer's spans summed per traced
        operation, then the median over the traced operations; ``op.*``
        figures are medians over the untraced ones."""
        names = [m["name"] for m in self.spec["per_layer"]]
        per_run = []
        for spans in layer_runs:
            vals = dict.fromkeys(names, 0.0)
            root = next(s for s in spans if s["parent"] is None)
            kids = [s for s in spans if s["parent"] == root["id"]]
            for s in kids:
                for key in SUMMED:
                    name = "%s.%s" % (s["name"], key)
                    if name in vals and key in s:
                        vals[name] += s[key]
                for key in RATIOS:
                    name = "%s.%s" % (s["name"], key)
                    if name in vals and key in s:
                        vals[name] = s[key]
            vals["op.layer_cover"] = sum(s["wall_s"] for s in kids) / root["wall_s"]
            per_run.append(vals)
        out = {n: statistics.median(r[n] for r in per_run) for n in names}
        for key in ("jobs", "tasks", "gc_s", "spill_mb", "py_nodes", "idle_core_s"):
            out["op." + key] = statistics.median(r[key] for r in op_level)
        for name, key in self.wl.untraced_counts.items():
            out[name] = statistics.median(r[key] for r in op_level)
        out["op.trace_overhead_s"] = statistics.median(traced) - statistics.median(untraced)
        out["session.wall_s"] = out["session.self_s"] = self.session_s
        return {n: out[n] for n in names}


def main(argv=None):
    args = parse_args(sys.argv[1:] if argv is None else argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print("unknown workload %r" % args.workload, file=sys.stderr)
        return 2
    confine_to_work_dir(args.heap)
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401  (diagnostics come from the frozen bench.py)
        import osm_export_tool_python_spark  # noqa: F401
    except ImportError as e:
        print("the engine package is not importable here: %s" % e, file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](WORK, args.seed, args.scale)
    run = Run(args, wl, spec)
    spark = run.setup()
    try:
        if args.trace:
            metrics = run.traced(spark)
            declared = spec["per_layer"]
        else:
            metrics = run.timed(spark)
            declared = spec["end_to_end"]
        diag = dict(
            workload=args.workload, seed=args.seed, nproc=run.cores,
            master="local[%d]" % run.cores, heap=args.heap, git_commit=git_commit(),
            scale=args.scale, gen_s=run.gen_s, session_s=run.session_s,
            warmup_s=run.warm_s, op_times_s=getattr(run, "op_times", None),
            fail_ratio=run.failed / run.attempted, problems=run.problems,
            vm_probe=vm_probe(run.cores),
        )
        trace_path = os.path.join(WORK, "trace-%s-%d.json" % (args.workload, args.seed))
        if args.trace:
            run.tracer.dump(trace_path, dict(diagnostics=diag, metrics=metrics))
        else:
            with open(trace_path.replace("trace-", "run-"), "w") as f:
                json.dump(dict(diagnostics=diag, metrics=metrics), f, indent=1)
    finally:
        stop_spark(spark)
    correct = not run.problems
    for m in declared:
        print("%-40s %14.6g %s" % (m["name"], metrics[m["name"]], m["unit"]))
    print("%-40s %14.6g %s" % ("fail_ratio", diag["fail_ratio"], "1"))
    for p in run.problems:
        print("check failed: %s" % p)
    print("correct: %s" % correct)
    print("diagnostics " + json.dumps(diag))
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
