"""Benchmark entry point for the spark-message-filter engine.

Usage (from the repository root)::

    python3 perfbench/run.py --parallelism 4 --workload verdict_drain --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --parallelism 4 --workload all --seed 1 --seconds 5 --trace 1

``--workload all`` runs every workload, each in a fresh process.  One
workload runs in this process: it sets up ``setup_reps`` times (session
start + seeded inputs + staging; the median is ``setup_s``), warms up
untimed, runs operations for ``--seconds``, checks every output against
DuckDB, and prints its metrics.  The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``)
named in ``BENCHMARK.json``.  A failed check or a drifting count makes the
exit code 1.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("verdict_drain", "subscription_fanout", "analytics_mix")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def _catalogue() -> tuple[dict, dict]:
    """Metric name -> unit, for the end-to-end and per-layer lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


class Context:
    """What a workload needs from the run: the session, its directories,
    the seed and the tracer."""

    def __init__(self, args, work_dir: str):
        from tracing import Tracer

        self.args = args
        self.seed = args.seed
        self.work_dir = work_dir
        self.run_dir = os.path.join(work_dir, "run")
        self.log_dir = os.path.join(work_dir, "eventlog")
        self.tracer = Tracer(bool(args.trace))
        self.spark = None

    def start_session(self) -> None:
        from pulsar_message_filter_spark.session import get_spark

        par = self.args.parallelism
        confs = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work_dir, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work_dir}/tmp",
        }
        if self.tracer.enabled:
            confs.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.dir": f"file://{self.log_dir}",
                }
            )
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                f"perfbench-{self.args.workload}",
                master=f"local[{par}]",
                shuffle_partitions=par,
                extra_confs=confs,
            )
        self.tracer.spark = self.spark

    def stop(self) -> None:
        """Stop the session and the JVM behind it, and wait for the JVM."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def _prepare_environment(work_dir: str) -> None:
    """Keep every file the run writes inside ``work_dir`` and let the
    engine's Python workers import the package from the checkout."""
    for sub in ("tmp", "local", "warehouse", "run", "eventlog"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    tmp = os.path.join(work_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work_dir, "warehouse")
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [ROOT, HERE]


def _count_drift(counts: dict) -> tuple[dict, list[str]]:
    """Collapse ``name[op]`` counts to one value per name; any name whose
    value differs between ops of this run is a drift."""
    per_name: dict[str, dict] = defaultdict(dict)
    for key, value in counts.items():
        name, _, op = key.partition("[")
        per_name[name][op.rstrip("]")] = value
    problems = [
        f"count drift within run: {name} {ops}"
        for name, ops in per_name.items()
        if len(set(ops.values())) > 1
    ]
    return {name: next(iter(ops.values())) for name, ops in per_name.items()}, problems


def run_workload(args) -> int:
    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _prepare_environment(work_dir)
    ctx = None
    try:
        import pulsar_message_filter_spark  # noqa: F401 - fail before any output if absent

        from tracing import check_counts, parse_event_log
        from workloads import WORKLOADS

        e2e_units, layer_units = _catalogue()
        ctx = Context(args, work_dir)
        wl = WORKLOADS[args.workload](ctx)
        t_start = time.perf_counter()
        setup_s = []
        for rep in range(wl.setup_reps):
            if ctx.spark is not None:
                ctx.spark.stop()
            stage = os.path.join(work_dir, f"stage{rep}")
            t0 = time.perf_counter()
            ctx.start_session()
            wl.setup(stage)
            setup_s.append(time.perf_counter() - t0)
        t_warm = time.perf_counter()
        wl.warm_up()
        deadline = time.perf_counter() + args.seconds
        wl.measure(deadline)
        t_check = time.perf_counter()
        wl.check()
        phases = {"setup": t_warm - t_start, "warm-up": deadline - args.seconds - t_warm,
                  "measure": t_check - deadline + args.seconds,
                  "check": time.perf_counter() - t_check}
        e2e, lines = wl.end_to_end()
        e2e["setup_s"] = (statistics.median(setup_s), "s")
        print(f"[{wl.name}] seed={args.seed} parallelism={args.parallelism} "
              f"{wl.attempted} ops, {wl.failed} failed; phase seconds: "
              + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()))
        print(f"[{wl.name}] setup_s = {e2e['setup_s'][0]:.3f} s (median of {wl.setup_reps}: "
              + ", ".join(f"{s:.3f}" for s in setup_s) + ")")
        for line in lines:
            print(f"[{wl.name}] {line}")
        print(f"[{wl.name}] failed_share = {wl.failed / max(wl.attempted, 1):.4f} "
              f"({wl.failed} of {wl.attempted} ops)")

        problems = list(wl.problems)
        os.makedirs(OUT_DIR, exist_ok=True)
        e2e_values = {k: v for k, (v, _unit) in e2e.items()}
        if ctx.tracer.enabled:
            ctx.stop()
            jobs = parse_event_log(ctx.log_dir)
            layer, counts = wl.per_layer(jobs)
            tr = ctx.tracer
            layer["session.start_s"] = tr.ms("session.get_spark")[0] / 1000.0
            layer["io.load_first_ms"] = tr.p50_ms("io.load_first")
            layer.setdefault("io.load_hit_ms", tr.p50_ms("io.load_hit"))
            unknown = set(layer) - set(layer_units)
            if unknown:
                raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
            counts, drift = _count_drift(counts)
            drift += check_counts(wl.name, args.seed, counts, OUT_DIR)
            for message in drift:
                print(f"[{wl.name}] COUNT DRIFT: {message}", file=sys.stderr)
            problems += drift
            overhead = None
            untraced_path = os.path.join(OUT_DIR, f"{wl.name}-seed{args.seed}-e2e.json")
            if os.path.exists(untraced_path):
                with open(untraced_path) as fh:
                    untraced = json.load(fh)
                overhead = {k: e2e_values[k] - untraced[k] for k in e2e_values if k in untraced}
                print(f"[{wl.name}] tracing overhead (traced - untraced, same seed): "
                      + ", ".join(f"{k} {v:+.4f} {e2e_units[k]}" for k, v in overhead.items()))
            else:
                print(f"[{wl.name}] tracing overhead: no untraced run with seed {args.seed} "
                      "recorded yet; run --trace 0 first")
            with open(os.path.join(OUT_DIR, f"{wl.name}-seed{args.seed}-trace.json"), "w") as fh:
                json.dump(
                    {"end_to_end": e2e_values, "per_layer": layer, "counts": counts,
                     "tracing_overhead": overhead, "spans": tr.spans,
                     "records": wl.trace_record()},
                    fh, indent=1, sort_keys=True,
                )
            metrics = {name: {"value": float(layer.get(name, 0.0)), "unit": unit}
                       for name, unit in layer_units.items()}
        else:
            with open(os.path.join(OUT_DIR, f"{wl.name}-seed{args.seed}-e2e.json"), "w") as fh:
                json.dump(e2e_values, fh, indent=1, sort_keys=True)
            metrics = {name: {"value": float(e2e_values[name]), "unit": unit}
                       for name, unit in e2e_units.items()}
        for message in problems:
            print(f"[{wl.name}] FAILED: {message}", file=sys.stderr)
        correct = not problems
        print(json.dumps({"correct": correct, "attempted": wl.attempted,
                          "failed": wl.failed, "metrics": metrics}))
        return 0 if correct else 1
    finally:
        if ctx is not None:
            ctx.stop()
        shutil.rmtree(work_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still be using it
            os.rmdir(os.path.dirname(work_dir))


def run_all(args) -> int:
    """Each workload in a fresh process, one after the other."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--parallelism", str(args.parallelism)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        code = code or proc.returncode
        try:
            result = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            print(f"[{name}] produced no result (exit {proc.returncode})", file=sys.stderr)
            combined["correct"] = False
            continue
        combined["correct"] &= result["correct"]
        combined["attempted"] += result["attempted"]
        combined["failed"] += result["failed"]
        for metric, value in result["metrics"].items():
            combined["metrics"][f"{name}.{metric}"] = value
    print(json.dumps(combined))
    return code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--parallelism", type=int, required=True,
                    help="Spark local parallelism; capped at the core count")
    args = ap.parse_args()
    args.parallelism = max(1, min(args.parallelism, os.cpu_count() or 1))
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
