"""Tracing for the ``--trace 1`` run: spans around layer calls, Spark job
tagging, and the event-log parser that turns jobs into per-layer counts.

Spans are recorded by the benchmark around its calls into the engine's
public functions (never inside the package) and kept in memory until the
run ends.  Every Spark job launched inside a span that names a job group is
tagged with ``setJobGroup("<workload>/<op>/<phase>")``; streaming jobs keep
the group Structured Streaming gives them and are matched by their
``sql.streaming.queryId`` / ``streaming.sql.batchId`` properties instead.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Span recorder; every method is a no-op when tracing is off, so the
    untraced run executes exactly the calls it times."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.spark = None

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext if group else None
        if group:
            sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(
                {"name": name, "t0": t0, "t1": time.perf_counter(), "group": group}
            )
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def ms(self, name: str) -> list[float]:
        """Durations (ms) of every span called ``name``, in order."""
        return [1000.0 * (s["t1"] - s["t0"]) for s in self.spans if s["name"] == name]

    def p50_ms(self, name: str) -> float:
        values = self.ms(name)
        return statistics.median(values) if values else 0.0


def parse_event_log(log_dir: str) -> list[dict]:
    """One record per Spark job in every event log under ``log_dir``: its
    local properties, and task count, GC time and shuffle bytes written over
    its stages (skipped stages run no tasks and add nothing)."""
    jobs: list[dict] = []
    stage_tasks: dict[tuple[str, int], dict] = defaultdict(
        lambda: {"tasks": 0, "gc_ms": 0, "shuffle_write_bytes": 0}
    )
    for app in sorted(os.listdir(log_dir)):  # one uncompressed file per application
        with open(os.path.join(log_dir, app)) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a truncated last line of an in-progress log
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(
                        {
                            "app": app,
                            "job": ev["Job ID"],
                            "props": ev.get("Properties", {}),
                            "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                        }
                    )
                elif kind == "SparkListenerTaskEnd":
                    metrics = ev.get("Task Metrics") or {}
                    agg = stage_tasks[(app, ev["Stage ID"])]
                    agg["tasks"] += 1
                    agg["gc_ms"] += metrics.get("JVM GC Time", 0)
                    agg["shuffle_write_bytes"] += (
                        metrics.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
    for job in jobs:
        ran = [stage_tasks[(job["app"], s)] for s in job["stages"] if (job["app"], s) in stage_tasks]
        job["n_stages"] = len(ran)
        for key in ("tasks", "gc_ms", "shuffle_write_bytes"):
            job[key] = sum(s[key] for s in ran)
    return jobs


def jobs_by_group(jobs: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = defaultdict(list)
    for job in jobs:
        group = job["props"].get("spark.jobGroup.id")
        if group:
            out[group].append(job)
    return out


def check_counts(workload: str, seed: int, counts: dict, out_dir: str) -> list[str]:
    """Compare this run's count metrics with the last traced run of the same
    workload and seed (if one left its file in ``out_dir``).  Counts are
    deterministic functions of the inputs, so any difference is a drift."""
    path = os.path.join(out_dir, f"{workload}-seed{seed}-counts.json")
    problems = []
    if os.path.exists(path):
        with open(path) as fh:
            before = json.load(fh)
        for key, value in counts.items():
            if key in before and before[key] != value:
                problems.append(
                    f"count drift across runs: {key} was {before[key]}, now {value}"
                )
    with open(path, "w") as fh:
        json.dump(counts, fh, indent=1, sort_keys=True)
    return problems
