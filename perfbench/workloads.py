"""The benchmark workloads.

``BENCHMARK.json`` lists ``verdict_drain`` and ``analytics_mix``;
``subscription_fanout`` runs on request (``--workload subscription_fanout``
or ``all``), see ``README.md`` for why.

Each is a closed loop with one client: the next operation starts when the
previous one has returned.  A workload stages its seeded inputs
(``setup``), runs an untimed in-process warm-up, runs operations until the
deadline (``measure``), and checks every output it produced against DuckDB
(``check``) outside the timed region.

| workload            | op          | layers loaded                              |
|---------------------|-------------|--------------------------------------------|
| verdict_drain       | micro-batch | sources.streams, streaming.pipeline, sink  |
| subscription_fanout | round       | io, selector, filtering                    |
| analytics_mix       | query       | io, operators/* via registry               |
"""

from __future__ import annotations

import datetime as _dt
import importlib.util
import json
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pyarrow.parquet as pq

import inputs


def _tail_note(n: int, q: float) -> str:
    beyond = int(n * (1 - q))
    return f"n={n}, {beyond} beyond" + ("" if beyond >= 10 else ", fewer than 10: indicative only")


class Workload:
    name = ""
    #: Set-ups per run; ``setup_s`` is their median.  The first one also
    #: launches the JVM, so it is the slowest, and the median is a warm set-up.
    setup_reps = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def fail(self, n_ops: int, message: str) -> None:
        self.failed += n_ops
        self.problems.append(message)

    def trace_record(self) -> dict:
        """Raw records the traced run keeps beside its per-layer metrics."""
        return {}


# ---------------------------------------------------------------------------
# verdict_drain
# ---------------------------------------------------------------------------

#: Two subscriptions over the ``props`` JSON, the shape of a broker filter's
#: ACCEPT / RESCHEDULE pair; everything else is REJECTed.
DRAIN_ACCEPT = "props.k > 60 AND event_type IN ('purchase', 'error', 'signup')"
DRAIN_RESCHEDULE = "props.k BETWEEN 30 AND 60 OR (tier = 'gold' AND value > 80)"
DRAIN_FILES = 12
DRAIN_ROWS_PER_FILE = 8_000
# A fresh JVM needs about 20 micro-batches before batch times level off
# (988 ms for the first, about 500 ms from the 20th on); small files warm
# the per-batch machinery at a fraction of the cost.
DRAIN_WARM_FILES = 16
DRAIN_WARM_ROWS_PER_FILE = 1_000
# A run measures at least this many drains, whatever ``--seconds`` says, so
# every run takes its samples from the same stretch of the JVM's warm-up.
DRAIN_MIN_DRAINS = 2
#: ``filtering.fan_out`` over the backlog, timed in the traced run only.
DRAIN_FAN_OUT_ROUNDS = 3


def _progress_end(p) -> float:
    start = _dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() + p["batchDuration"] / 1000.0


class VerdictDrain(Workload):
    """Drain a seeded backlog with ``trigger(availableNow=True)`` through
    ``filtered_sink_pipeline``: one file per micro-batch (the source's
    ``maxFilesPerTrigger``), a parquet sink partitioned by epoch and
    verdict, and an exactly-once checkpoint.  Each drain starts a fresh
    query over the same backlog; its first micro-batch carries the query's
    start-up and is left out of the steady-state figures."""

    name = "verdict_drain"
    # a set-up takes about 0.4 s, so a burst of host load moves a median of
    # three; seven cost about 2 s more and hold still
    setup_reps = 7

    def setup(self, stage_dir: str) -> None:
        self.backlog = os.path.join(stage_dir, "backlog")
        self.paths = inputs.write_backlog(
            self.ctx.seed, self.backlog, DRAIN_FILES, DRAIN_ROWS_PER_FILE
        )
        self.warm = os.path.join(stage_dir, "warm")
        inputs.write_backlog(self.ctx.seed, self.warm, DRAIN_WARM_FILES, DRAIN_WARM_ROWS_PER_FILE)
        self.drains: list[dict] = []

    def _drain(self, src: str, tag: str) -> dict:
        from pulsar_message_filter_spark.sources.streams import file_message_stream
        from pulsar_message_filter_spark.streaming.pipeline import filtered_sink_pipeline

        ctx = self.ctx
        out = os.path.join(ctx.run_dir, f"{tag}-sink")
        ck = os.path.join(ctx.run_dir, f"{tag}-checkpoint")
        with ctx.tracer.span("streams.file_message_stream"):
            stream = file_message_stream(ctx.spark, src)
        with ctx.tracer.span("pipeline.filtered_sink_pipeline"):
            writer = filtered_sink_pipeline(
                stream, DRAIN_ACCEPT, out, ck, reschedule=DRAIN_RESCHEDULE
            )
        query = writer.trigger(availableNow=True).start()
        drain = {"tag": tag, "id": query.id, "out": out, "ck": ck, "error": None}
        try:
            query.awaitTermination()
        except Exception as exc:  # a failed drain is a failed op, reported below
            drain["error"] = repr(exc)
        drain["progress"] = [p for p in query.recentProgress if p["numInputRows"] > 0]
        return drain

    def warm_up(self) -> None:
        self.warm_drain = self._drain(self.warm, "warm")

    def measure(self, deadline: float) -> None:
        while len(self.drains) < DRAIN_MIN_DRAINS or time.perf_counter() < deadline:
            drain = self._drain(self.backlog, f"drain{len(self.drains)}")
            self.drains.append(drain)
            self.attempted += max(len(drain["progress"]) - 1, 1)
        if self.ctx.tracer.enabled:
            self._trace_layers()

    def _trace_layers(self) -> None:
        """The layers under ``route_batch``, timed on the backlog read as a
        static batch: ``get_json_object`` calls in the plan ``route_batch``
        gives it, ``Selector()`` and ``Selector.column()`` for the two
        selectors, and ``filtering.fan_out`` over both, reduced to
        per-subscription counts (checked against DuckDB by ``check``)."""
        from pyspark.sql import functions as F

        from pulsar_message_filter_spark.filtering import fan_out
        from pulsar_message_filter_spark.selector import Selector
        from pulsar_message_filter_spark.sources.streams import EVENT_STREAM_SCHEMA
        from pulsar_message_filter_spark.streaming.pipeline import route_batch

        tr = self.ctx.tracer
        static = self.ctx.spark.read.schema(EVENT_STREAM_SCHEMA).parquet(self.backlog)
        plan = route_batch(static, DRAIN_ACCEPT, DRAIN_RESCHEDULE)._jdf.queryExecution()
        self.json_extract_calls = str(plan.executedPlan()).count("get_json_object(")
        self.fan_out_counts = []
        for i in range(DRAIN_FAN_OUT_ROUNDS):
            with tr.span("selector.compile"):
                sels = {"accept": Selector(DRAIN_ACCEPT), "reschedule": Selector(DRAIN_RESCHEDULE)}
            with tr.span("selector.column"):
                for sel in sels.values():
                    sel.column = (lambda col: lambda: col)(sel.column())
            with tr.span("filtering.fan_out_build"):
                counts = fan_out(static, sels).agg(
                    *[F.sum(F.col(f"sub_{name}").cast("long")).alias(name) for name in sels]
                )
            with tr.span("filtering.plan", f"{self.name}/fan_out{i}/plan"):
                counts._jdf.queryExecution().executedPlan()
            with tr.span("filtering.exec", f"{self.name}/fan_out{i}/exec"):
                self.fan_out_counts.append(counts.collect()[0].asDict())

    def check(self) -> None:
        from pulsar_message_filter_spark.selector import Selector

        con = duckdb.connect()
        case = (
            f"CASE WHEN {Selector(DRAIN_ACCEPT).duckdb_sql()} THEN 'ACCEPT' "
            f"WHEN {Selector(DRAIN_RESCHEDULE).duckdb_sql()} THEN 'RESCHEDULE' "
            "ELSE 'REJECT' END"
        )
        expected = dict(
            con.execute(
                f"SELECT {case} AS verdict, count(*) FROM read_parquet({self.paths!r}) GROUP BY 1"
            ).fetchall()
        )
        rows_in = DRAIN_FILES * DRAIN_ROWS_PER_FILE
        if self.ctx.tracer.enabled:
            res = con.execute(
                "SELECT "
                + ", ".join(
                    f"CAST(sum(CASE WHEN {Selector(text).duckdb_sql()} THEN 1 ELSE 0 END) AS BIGINT) AS {name}"
                    for name, text in (("accept", DRAIN_ACCEPT), ("reschedule", DRAIN_RESCHEDULE))
                )
                + f" FROM read_parquet({self.paths!r})"
            )
            want_fan_out = dict(zip([d[0] for d in res.description], res.fetchone()))
            for got in self.fan_out_counts:
                if got != want_fan_out:
                    self.fail(0, f"fan_out counts {got} != DuckDB {want_fan_out}")
        for drain in [self.warm_drain] + self.drains:
            n_ops = max(len(drain["progress"]) - 1, 1)
            if drain["error"]:
                self.fail(n_ops, f"{drain['tag']}: query failed: {drain['error']}")
                continue
            want = expected if drain["tag"] != "warm" else None
            got = dict(
                con.execute(
                    "SELECT verdict, count(*) FROM read_parquet("
                    f"'{drain['out']}/*/*/*.parquet', hive_partitioning = true) GROUP BY 1"
                ).fetchall()
            )
            total, distinct = con.execute(
                "SELECT count(*), count(DISTINCT event_id) FROM read_parquet("
                f"'{drain['out']}/*/*/*.parquet', hive_partitioning = true)"
            ).fetchone()
            staged = sum(p["numInputRows"] for p in drain["progress"])
            if total != staged or distinct != staged:
                self.fail(n_ops, f"{drain['tag']}: {staged} rows in, {total} out, {distinct} distinct")
            elif want is not None and (got != want or staged != rows_in):
                self.fail(n_ops, f"{drain['tag']}: verdict counts {got} != DuckDB {want}")

    def trace_record(self) -> dict:
        """Every drain's streaming progress events, as Spark reported them."""
        return {
            d["tag"]: [json.loads(p.json) for p in d["progress"]]
            for d in [self.warm_drain] + self.drains
        }

    def _steady(self):
        batch_ms, rows, seconds = [], 0, 0.0
        for drain in self.drains:
            steady = drain["progress"][1:]
            if not steady:
                continue
            batch_ms += [float(p["batchDuration"]) for p in steady]
            rows += sum(p["numInputRows"] for p in steady)
            seconds += _progress_end(steady[-1]) - _progress_end(drain["progress"][0])
        return batch_ms, rows, seconds

    def end_to_end(self) -> tuple[dict, list[str]]:
        batch_ms, rows, seconds = self._steady()
        p50 = statistics.median(batch_ms)
        rate = rows / seconds
        lines = [
            f"msgs_per_s = {rate:.1f} msg/s (steady state: {rows} msgs in {len(batch_ms)} "
            f"micro-batches of {len(self.drains)} drains, first batch of each excluded)",
            f"batch_ms_p50 = {p50:.1f} ms (n={len(batch_ms)}: " + ", ".join(f"{v:.0f}" for v in batch_ms) + ")",
            f"batch_ms_p90 = {np.percentile(batch_ms, 90):.1f} ms ({_tail_note(len(batch_ms), 0.9)})",
        ]
        return {"latency_ms_p50": (p50, "ms"), "throughput_per_s": (rate, "1/s")}, lines

    # -- traced run ---------------------------------------------------------

    def trace_counts(self, jobs: list[dict]) -> dict:
        """Per-drain median tasks per micro-batch, from the event log."""
        per_drain = {}
        for drain in [self.warm_drain] + self.drains:
            tasks: dict[str, int] = {}
            for job in jobs:
                if job["props"].get("sql.streaming.queryId") == drain["id"]:
                    batch = job["props"].get("streaming.sql.batchId")
                    tasks[batch] = tasks.get(batch, 0) + job["tasks"]
            per_drain[drain["tag"]] = statistics.median(tasks.values()) if tasks else 0
        return per_drain

    def per_layer(self, jobs: list[dict]) -> tuple[dict, dict]:
        tr = self.ctx.tracer
        steady = [p for d in self.drains for p in d["progress"][1:]]

        def p50(key: str) -> float:
            return statistics.median(float(p["durationMs"].get(key, 0)) for p in steady)

        sink_files, sink_bytes, ck_bytes = [], 0, []
        for drain in self.drains:
            files = [
                os.path.join(root, f)
                for root, _dirs, names in os.walk(drain["out"])
                for f in names
                if f.endswith(".parquet")
            ]
            sink_files.append(len(files) / len(drain["progress"]))
            sink_bytes += sum(os.path.getsize(f) for f in files)
            ck_bytes.append(
                sum(
                    os.path.getsize(os.path.join(root, f))
                    for root, _dirs, names in os.walk(drain["ck"])
                    for f in names
                )
            )
        tasks = self.trace_counts(jobs)
        metrics = {
            "streams.latest_offset_ms_p50": p50("latestOffset"),
            "streams.get_batch_ms_p50": p50("getBatch"),
            "pipeline.add_batch_ms_p50": p50("addBatch"),
            "pipeline.wal_commit_ms_p50": p50("walCommit"),
            "pipeline.commit_offsets_ms_p50": p50("commitOffsets"),
            "pipeline.query_planning_ms_p50": p50("queryPlanning"),
            "pipeline.tasks_per_batch": statistics.median(tasks.values()),
            "pipeline.sink_files_per_batch": statistics.median(sink_files),
            "pipeline.sink_bytes_per_msg": sink_bytes / (len(self.drains) * DRAIN_FILES * DRAIN_ROWS_PER_FILE),
            "pipeline.checkpoint_bytes": statistics.median(ck_bytes),
            "filtering.json_extract_calls": self.json_extract_calls,
            "filtering.fan_out_build_ms": tr.p50_ms("filtering.fan_out_build"),
            "filtering.plan_ms": tr.p50_ms("filtering.plan"),
            "filtering.exec_ms": tr.p50_ms("filtering.exec"),
            "selector.compile_ms": tr.p50_ms("selector.compile"),
            "selector.column_ms": tr.p50_ms("selector.column"),
        }
        counts = {f"pipeline.tasks_per_batch[{tag}]": n for tag, n in tasks.items()}
        counts["filtering.json_extract_calls[route_batch]"] = self.json_extract_calls
        return metrics, counts


# ---------------------------------------------------------------------------
# subscription_fanout
# ---------------------------------------------------------------------------

FANOUT_ROWS = 40_000
# Round times keep falling over the first 4-5 rounds of a fresh JVM.
FANOUT_WARM_ROUNDS = 4
FANOUT_MIN_ROUNDS = 4


class SubscriptionFanout(Workload):
    """32 seeded subscriptions evaluated in one pass with
    ``filtering.fan_out`` over a static staged batch, reduced to
    per-subscription counts.  Every round rebuilds the selectors from their
    text, as ``route_batch`` does per micro-batch."""

    name = "subscription_fanout"

    def setup(self, stage_dir: str) -> None:
        from pulsar_message_filter_spark.io import load

        rng = np.random.default_rng([self.ctx.seed, 4])
        self.dir = stage_dir
        os.makedirs(stage_dir)
        self.path = os.path.join(stage_dir, "events.parquet")
        pq.write_table(inputs.messages(rng, FANOUT_ROWS), self.path)
        self.subs = inputs.subscriptions(self.ctx.seed)
        with self.ctx.tracer.span("io.load_first"):
            load(self.ctx.spark, "events", self.dir)
        self.rounds: list[dict] = []
        self.warm_rounds: list[dict] = []

    def _round(self, tag: str) -> dict:
        from pyspark.sql import functions as F

        from pulsar_message_filter_spark.filtering import fan_out
        from pulsar_message_filter_spark.io import load
        from pulsar_message_filter_spark.selector import Selector

        ctx, tr = self.ctx, self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("io.load_hit"):
            df = load(ctx.spark, "events", self.dir)
        with tr.span("selector.compile"):
            sels = {name: Selector(text, params=params) for name, (text, params) in self.subs.items()}
        if tr.enabled:
            # build each Column once here, and let fan_out reuse it, so the
            # traced round does the same work as the untraced one
            with tr.span("selector.column"):
                for sel in sels.values():
                    sel.column = (lambda col: lambda: col)(sel.column())
        with tr.span("filtering.fan_out_build"):
            counts = fan_out(df, sels).agg(
                *[F.sum(F.col(f"sub_{name}").cast("long")).alias(name) for name in sels]
            )
        if tr.enabled:
            with tr.span("filtering.plan", f"{self.name}/{tag}/plan"):
                counts._jdf.queryExecution().executedPlan()
        with tr.span("filtering.exec", f"{self.name}/{tag}/exec"):
            row = counts.collect()[0]
        result = {"seconds": time.perf_counter() - t0, "counts": row.asDict()}
        if tr.enabled:
            plan = str(counts._jdf.queryExecution().executedPlan())
            result["json_extract_calls"] = plan.count("get_json_object(")
        return result

    def warm_up(self) -> None:
        for i in range(FANOUT_WARM_ROUNDS):
            self.warm_rounds.append(self._round(f"warm{i}"))

    def measure(self, deadline: float) -> None:
        while len(self.rounds) < FANOUT_MIN_ROUNDS or time.perf_counter() < deadline:
            self.rounds.append(self._round(f"round{len(self.rounds)}"))
            self.attempted += 1

    def check(self) -> None:
        from pulsar_message_filter_spark.selector import Selector

        cols = ", ".join(
            f"CAST(coalesce(sum(CASE WHEN {Selector(text, params=params).duckdb_sql()} "
            f"THEN 1 ELSE 0 END), 0) AS BIGINT) AS {name}"
            for name, (text, params) in self.subs.items()
        )
        con = duckdb.connect()
        res = con.execute(f"SELECT {cols} FROM read_parquet('{self.path}')")
        expected = dict(zip([d[0] for d in res.description], res.fetchone()))
        for i, r in enumerate(self.warm_rounds + self.rounds):
            if r["counts"] != expected:
                diff = {k: (v, expected[k]) for k, v in r["counts"].items() if v != expected.get(k)}
                self.fail(1 if i >= len(self.warm_rounds) else 0, f"round {i}: counts differ (spark, duckdb): {diff}")

    def end_to_end(self) -> tuple[dict, list[str]]:
        ms = [1000.0 * r["seconds"] for r in self.rounds]
        p50 = statistics.median(ms)
        rate = FANOUT_ROWS * len(ms) / (sum(ms) / 1000.0)
        lines = [
            f"msgs_per_s = {rate:.1f} msg/s ({FANOUT_ROWS} msgs x {len(self.subs)} "
            f"subscriptions per round, {len(ms)} rounds)",
            f"round_ms_p50 = {p50:.1f} ms (n={len(ms)}: " + ", ".join(f"{v:.0f}" for v in ms) + ")",
            f"round_ms_p75 = {np.percentile(ms, 75):.1f} ms ({_tail_note(len(ms), 0.75)})",
        ]
        return {"latency_ms_p50": (p50, "ms"), "throughput_per_s": (rate, "1/s")}, lines

    def per_layer(self, jobs: list[dict]) -> tuple[dict, dict]:
        tr = self.ctx.tracer
        n_timed = len(self.rounds)
        timed = lambda name: tr.ms(name)[-n_timed:]  # noqa: E731 - warm-up rounds first
        metrics = {
            "selector.compile_ms": statistics.median(timed("selector.compile")),
            "selector.column_ms": statistics.median(timed("selector.column")),
            "filtering.fan_out_build_ms": statistics.median(timed("filtering.fan_out_build")),
            "filtering.plan_ms": statistics.median(timed("filtering.plan")),
            "filtering.exec_ms": statistics.median(timed("filtering.exec")),
            "filtering.json_extract_calls": self.rounds[-1]["json_extract_calls"],
            "io.load_hit_ms": statistics.median(timed("io.load_hit")),
        }
        counts = {
            f"filtering.json_extract_calls[round{i}]": r["json_extract_calls"]
            for i, r in enumerate(self.warm_rounds + self.rounds)
        }
        return metrics, counts


# ---------------------------------------------------------------------------
# analytics_mix
# ---------------------------------------------------------------------------

#: The first four launch Spark jobs while their DataFrame is built; the last
#: three launch none, so a build-side change moves only the first four.
ANALYTICS_QUERIES = (
    "linkage_entity_clusters",
    "bpe_merge_rounds",
    "calib_isotonic_binned",
    "eval_auc_rank",
    "q3_top_revenue",
    "behavior_session_pmi",
    "f2_minhash_lsh",
)
ANALYTICS_TABLES = ("customer", "orders", "lineitem", "events", "documents")


def _load_check_parity():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "check_parity.py")
    spec = importlib.util.spec_from_file_location("check_parity", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class AnalyticsMix(Workload):
    """A fixed pass over seven registry headliners at sf0.1 through the
    noop sink, warm.  The warm-up pass collects every result, and those
    results are the ones checked against the DuckDB oracle."""

    name = "analytics_mix"

    def setup(self, stage_dir: str) -> None:
        from pulsar_message_filter_spark.io import load

        self.dir = stage_dir
        inputs.write_tables(self.ctx.seed, stage_dir)
        for table in ANALYTICS_TABLES:
            with self.ctx.tracer.span("io.load_first"):
                load(self.ctx.spark, table, stage_dir)
        if self.ctx.tracer.enabled:
            for table in ANALYTICS_TABLES:
                with self.ctx.tracer.span("io.load_hit"):
                    load(self.ctx.spark, table, stage_dir)
        self.passes: list[dict] = []

    def _graded(self):
        from pulsar_message_filter_spark import registry

        graded = registry.all_graded()
        return {q: graded[q] for q in ANALYTICS_QUERIES}

    def _oracle_results(self) -> dict:
        """Every oracle's (columns, rows) from DuckDB over the staged tables."""
        con = duckdb.connect(config={"threads": 1})
        for table in ANALYTICS_TABLES:
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{self.dir}/{table}.parquet')"
            )
        out = {}
        for name, g in self._graded().items():
            if g.oracle is not None:
                res = con.execute(g.oracle)
                out[name] = ([d[0] for d in res.description], res.fetchall())
        return out

    def warm_up(self) -> None:
        # The oracles run in DuckDB while Spark warms up: both are untimed,
        # and the run is shorter than running them one after the other.  The
        # warm-up waits for DuckDB, so the timed pass never runs beside it.
        tr = self.ctx.tracer
        self.results = {}
        with ThreadPoolExecutor(max_workers=1) as pool:
            oracle = pool.submit(self._oracle_results)
            for name, g in self._graded().items():
                try:
                    with tr.span(f"{name}.build", f"{self.name}/{name}.warm/build"):
                        df = g.fn(self.ctx.spark, self.dir)
                    with tr.span(f"{name}.exec", f"{self.name}/{name}.warm/exec"):
                        self.results[name] = (df.columns, [tuple(r) for r in df.collect()])
                except Exception as exc:  # reported by check()
                    self.results[name] = exc
            self.oracle = oracle.result()

    def measure(self, deadline: float) -> None:
        tr = self.ctx.tracer
        graded = self._graded()
        while not self.passes or time.perf_counter() < deadline:
            op = f"p{len(self.passes)}"
            seconds = {}
            for name, g in graded.items():
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    with tr.span(f"{name}.build", f"{self.name}/{name}.{op}/build"):
                        df = g.fn(self.ctx.spark, self.dir)
                    if tr.enabled:
                        with tr.span(f"{name}.plan", f"{self.name}/{name}.{op}/plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span(f"{name}.exec", f"{self.name}/{name}.{op}/exec"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # a failed query is a failed op
                    self.fail(1, f"{op} {name}: {exc!r}")
                seconds[name] = time.perf_counter() - t0
            self.passes.append(seconds)

    def check(self) -> None:
        parity = _load_check_parity()
        n_runs = len(self.passes)
        for name, g in self._graded().items():
            result = self.results[name]
            if isinstance(result, Exception):
                self.fail(n_runs, f"{name}: warm-up failed: {result!r}")
                continue
            cols, rows = result
            if g.oracle is None:
                if not rows:
                    self.fail(n_runs, f"{name}: rows-only query returned 0 rows")
                continue
            duck_cols, duck_rows = self.oracle[name]
            if sorted(cols) != sorted(duck_cols) or parity.rows_to_canon(
                cols, rows
            ) != parity.rows_to_canon(duck_cols, duck_rows):
                self.fail(n_runs, f"{name}: result does not hash-match its DuckDB oracle")

    def end_to_end(self) -> tuple[dict, list[str]]:
        pass_s = [sum(p.values()) for p in self.passes]
        total = sum(pass_s)
        n_queries = sum(len(p) for p in self.passes)
        qps = n_queries / total
        p50 = statistics.median(pass_s)
        lines = [
            f"queries_per_s = {qps:.4f} 1/s ({n_queries} queries in {total:.2f} s)",
            f"pass_s_p50 = {p50:.3f} s (n={len(pass_s)} passes of {len(ANALYTICS_QUERIES)} queries)",
        ]
        lines += [
            f"  {name}: " + ", ".join(f"{p[name]:.3f}" for p in self.passes) + " s"
            for name in ANALYTICS_QUERIES
        ]
        return {"latency_ms_p50": (1000.0 * p50, "ms"), "throughput_per_s": (qps, "1/s")}, lines

    def per_layer(self, jobs: list[dict]) -> tuple[dict, dict]:
        from tracing import jobs_by_group

        tr = self.ctx.tracer
        groups = jobs_by_group(jobs)
        n = len(self.passes)
        metrics, counts = {}, {}
        build_total = pass_total = 0.0
        build_jobs_total = 0
        for name in ANALYTICS_QUERIES:
            build_s = [v / 1000.0 for v in tr.ms(f"{name}.build")[-n:]]
            plan_s = [v / 1000.0 for v in tr.ms(f"{name}.plan")[-n:]]
            exec_s = [v / 1000.0 for v in tr.ms(f"{name}.exec")[-n:]]
            build_total += sum(build_s)
            pass_total += sum(build_s) + sum(plan_s) + sum(exec_s)
            last = f"{name}.p{n - 1}"
            build_jobs = groups.get(f"{self.name}/{last}/build", [])
            exec_jobs = groups.get(f"{self.name}/{last}/plan", []) + groups.get(
                f"{self.name}/{last}/exec", []
            )
            all_jobs = build_jobs + exec_jobs
            build_jobs_total += len(build_jobs)
            metrics.update(
                {
                    f"{name}.build_s": statistics.median(build_s),
                    f"{name}.build_jobs": len(build_jobs),
                    f"{name}.plan_s": statistics.median(plan_s),
                    f"{name}.exec_s": statistics.median(exec_s),
                    f"{name}.exec_jobs": len(exec_jobs),
                    f"{name}.stages": sum(j["n_stages"] for j in all_jobs),
                    f"{name}.tasks": sum(j["tasks"] for j in all_jobs),
                    f"{name}.shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in all_jobs),
                    f"{name}.gc_ms": sum(j["gc_ms"] for j in all_jobs),
                }
            )
            for op in ["warm"] + [f"p{i}" for i in range(n)]:
                counts[f"{name}.build_jobs[{op}]"] = len(groups.get(f"{self.name}/{name}.{op}/build", []))
        metrics["operators.build_share"] = build_total / pass_total
        metrics["operators.build_jobs_total"] = build_jobs_total
        return metrics, counts


WORKLOADS = {w.name: w for w in (VerdictDrain, SubscriptionFanout, AnalyticsMix)}
