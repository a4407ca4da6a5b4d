"""The workloads: set-up, warm-up, timed phase and output check.

Load shape: one process, one closed-loop client. Ops run serially, each
starting after the previous one completed. The timed phase runs whole
passes (a pass is the workload's op list once, or for the stream one
block of staged files) while the next one is expected to end within
``seconds``, so every run measures the same op mix.

In a traced run the timed phase alternates untraced and traced passes;
the layer numbers come from the traced passes only and the latency gap
between the two kinds is reported as ``trace.overhead_frac``.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from probes import STAGE_FIELDS, SparkProbe, cpu_marker_mc_s, cpu_times, tree_peak_rss_mb

# One-shot SQL patterns of the bootcamp: scan, shuffle, sort and window
# work per query, and no iterative loop of Spark jobs. Eight with a large executor
# share, so that two passes fit a run. Left out: patterns whose answer is
# a ROUND()ed sum of doubles (for example pricing_summary), because the
# seed-chosen row order moves the sum's last bits and so, on some seeds,
# the rounded digit the check compares.
ANALYTIC_OPS = (
    "customer_order_spine",
    "funnel_conversion",
    "scd_streaks",
    "sessionization",
    "order_history",
    "host_activity_reduced",
    "exact_percentiles",
    "asof_latest_order",
)

LEVEL_TOL = 0.10  # the last two warm-up passes within 10% count as level
MAX_TIMED_PASSES = 15
STREAM_FILE_ROWS = 2_500
STREAM_PASS_FILES = 4


@dataclass
class Config:
    """One workload's shape: its scale, how many passes warm it up and
    how many CPUs it leaves without a Spark core."""

    sf: float
    # A fixed amount of warm-up work, so every run (and every commit) times
    # the same stretch of the JIT's curve: the analytic ops are level after
    # a cold and two warm passes (after one, timed passes still fell and ten
    # seeds spread 14-18%), the stream's triggers after about 24 of them.
    warmup_passes: int
    ops: tuple[str, ...] = ()
    # CPUs given no Spark core, left to what every op also needs: the JIT
    # compiler (still busy after warm-up), GC, the driver threads and the
    # Python client. With a core per CPU of a 4-vCPU shared host, those
    # competed with the tasks: stream trigger times spread up to 26% over
    # ten seeds, and 6-9% with two CPUs spare.
    spare_cpus: int = 0


WORKLOADS = {
    "analytic_queries": Config(sf=0.03, warmup_passes=3, ops=ANALYTIC_OPS, spare_cpus=1),
    # a trigger's tasks hold 2.5k rows, so two cores run them as fast as
    # four, and the stream thread and the Python sink keep a third busy
    "stream_ingest": Config(sf=0.1, warmup_passes=6, spare_cpus=2),
}
# enough staged files for the warm-up and the longest timed phase
STREAM_FILES = STREAM_PASS_FILES * (WORKLOADS["stream_ingest"].warmup_passes + 2 * MAX_TIMED_PASSES)


@dataclass
class OpRecord:
    name: str
    traced: bool
    latency_s: float
    build_s: float = 0.0
    run_s: float = 0.0
    ok: bool = True
    layers: dict[str, float] = field(default_factory=dict)


def _warn(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def tail_percentile(values: list[float]) -> tuple[float, int]:
    """(nearest-rank p90, sample count). A run yields 4 to ~30 latency
    samples, too few for a percentile with ten samples beyond it above the
    median, so the tail is a fixed p90 whose rank does not jump with the
    sample count."""
    srt = sorted(values)
    return srt[max(1, int(np.ceil(0.9 * len(srt) - 1e-9))) - 1], len(srt)


class Host:
    """Host context sampled around the timed phase."""

    def __init__(self, cpus: int) -> None:
        self.cpus = cpus
        self.steal0, self.total0 = cpu_times()
        self.marker = cpu_marker_mc_s(cpus)

    def layers(self) -> dict[str, float]:
        steal, total = cpu_times()
        dt = total - self.total0
        return {
            "host.cpu_marker_mc_s": (self.marker + cpu_marker_mc_s(self.cpus)) / 2,
            "host.steal_frac": (steal - self.steal0) / dt if dt > 0 else 0.0,
            "host.loadavg": os.getloadavg()[0],
        }


class Bench:
    """One run: a live session, its inputs and the records it collects."""

    def __init__(self, spark, name: str, cfg: Config, work_dir: str, seed: int,
                 seconds: int, trace: bool, cpus: int) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.name = name
        self.cfg = cfg
        self.work_dir = work_dir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = cpus
        self.probe = SparkProbe(spark) if trace else None
        self.records: list[OpRecord] = []
        self.pass_s: dict[bool, list[float]] = {False: [], True: []}
        self.rows_per_pass = 0
        self.setup = {"datagen_s": 0.0, "warmup_s": 0.0}
        self.failed_checks: set[str] = set()
        self.sizes: dict[str, int] = {}

    # ---------------------------------------------------------- helpers

    def timed_passes(self, run_pass: Callable[[bool], float]) -> None:
        """Run whole passes while the next one is expected to end within
        ``seconds`` (at least one). A traced run alternates untraced and
        traced passes and gets that budget, and at least one pass, for
        each kind."""
        t0 = time.perf_counter()
        kinds = (False, True) if self.trace else (False,)
        budget = self.seconds * len(kinds)
        for n in range(1, MAX_TIMED_PASSES + 1):
            for traced in kinds:
                self.pass_s[traced].append(run_pass(traced))
            spent = time.perf_counter() - t0
            if spent + spent / n > budget:
                return

    def warm_up(self, run_pass: Callable[[bool], float]) -> None:
        """The workload's warm-up passes, untraced; records whether the
        last two agreed within LEVEL_TOL."""
        times = [run_pass(False) for _ in range(self.cfg.warmup_passes)]
        self.setup["leveled"] = len(times) >= 2 and abs(times[-1] - times[-2]) <= LEVEL_TOL * times[-2]
        self.setup["warmup_pass_s"] = [round(t, 3) for t in times]

    def hygiene(self) -> None:
        """Between ops, outside the op's latency: drop the dedup
        operators' caches and collect garbage in both runtimes."""
        from data_engineering_bootcamp_spark.operators.dedup import release_caches

        t = time.perf_counter()
        release_caches()
        gc.collect()
        self.sc._jvm.System.gc()
        self.setup["hygiene_s"] = self.setup.get("hygiene_s", 0.0) + time.perf_counter() - t

    def group(self, gid: str) -> None:
        self.sc.setJobGroup(gid, f"perfbench {self.name}")

    # -------------------------------------------------------- batch ops

    def run_op(self, name: str, fn: Callable, sf_dir: str, traced: bool, idx: int,
               timed: bool) -> None:
        """One op: build the plan, then collect the result, which is the
        forcing action. The first timed result of each op is checked
        against its oracle's answer, outside the op's latency."""
        import expected

        rec = OpRecord(name, traced, 0.0)
        gid = f"pb:{idx}:{name}"
        self.group(gid + ":build")
        df = pdf = None
        t0 = time.perf_counter()
        try:
            df = fn(self.spark, sf_dir)
            t1 = time.perf_counter()
            self.group(gid + ":exec")
            pdf = df.toPandas()
            t2 = time.perf_counter()
            rec.build_s, rec.run_s, rec.latency_s = t1 - t0, t2 - t1, t2 - t0
        except Exception:  # noqa: BLE001 — counted, never fatal
            rec.ok = False
            rec.latency_s = time.perf_counter() - t0
            _warn(f"{name} failed:\n{traceback.format_exc(limit=3)}")
        t_check = time.perf_counter()
        if timed and pdf is not None and name not in self.rows_out:
            self.rows_out[name] = len(pdf)
            want = self.expected.get(name)
            got = expected.answer_key(pdf)
            if got != want:
                self.failed_checks.add(name)
                _warn(f"{name}: output check failed: got {got}, expected {want}")
        rec.ok = rec.ok and name not in self.failed_checks
        leftover = self.sc._jsc.getPersistentRDDs().size()
        if traced:
            rec.layers = self.op_layers(self.probe, gid, df, leftover)
            rec.layers["sources.rows_out"] = len(pdf) if pdf is not None else 0
        del df, pdf
        self.harness_s += time.perf_counter() - t_check
        self.hygiene()
        if timed:
            self.records.append(rec)

    def op_layers(self, probe: SparkProbe, gid: str, df, leftover: int) -> dict[str, float]:
        probe.drain()
        build_jobs = probe.group_jobs(gid + ":build")
        exec_jobs = probe.group_jobs(gid + ":exec")
        out = probe.listener.take()
        if df is not None:  # the result's own analysis ran inside the build
            summary = df._jdf.queryExecution().tracker().phases().get("analysis")
            if summary.isDefined():
                out["catalyst.analysis_ms"] += summary.get().durationMs()
        ex = probe.stage_totals(exec_jobs)
        both = probe.stage_totals(build_jobs + exec_jobs)
        out.update({k: v for k, v in ex.items() if k.startswith("exec.")})
        out["sources.input_records"] = both["sources.input_records"]
        out["sources.input_bytes"] = both["sources.input_bytes"]
        out["plans.build_jobs"] = len(build_jobs)
        out["exec.jobs"] = len(exec_jobs)
        out["operators.leftover_rdds"] = leftover
        return out

    def run(self) -> None:
        if self.name == "stream_ingest":
            self.run_stream()
        else:
            from data_engineering_bootcamp_spark.plans.catalog import QUERIES

            self.run_batch({name: QUERIES[name] for name in self.cfg.ops})

    def run_batch(self, queries: dict[str, Callable]) -> None:
        import expected

        self.expected = expected.load().get(expected.sf_key(self.cfg.sf), {})
        self.rows_out: dict[str, int] = {}
        sf_dir = os.path.join(self.work_dir, "data")
        tables = self.generate(sf_dir)
        self.sizes = {k: v.num_rows for k, v in tables.items()}
        self.rows_per_pass = sum(self.sizes.values())
        counter = iter(range(10**9))

        def run_pass(traced: bool, timed: bool) -> float:
            """Pass wall time, less the harness's own checks and probes."""
            if self.probe is not None:
                self.probe.listen(traced)
            self.harness_s = 0.0
            t0 = time.perf_counter()
            for name, fn in queries.items():
                self.run_op(name, fn, sf_dir, traced, next(counter), timed)
            return time.perf_counter() - t0 - self.harness_s

        t = time.perf_counter()
        self.warm_up(lambda traced: run_pass(traced, False))
        self.setup["warmup_s"] = time.perf_counter() - t
        self.host = Host(self.cpus)
        self.timed_passes(lambda traced: run_pass(traced, True))

    def generate(self, out_dir: str) -> dict[str, pa.Table]:
        """Generate the inputs three times and keep the median time, so
        set-up time is not one sample of disk and allocator noise."""
        times = []
        for _ in range(3):
            t = time.perf_counter()
            tables = datagen.make_tables(self.seed, self.cfg.sf)
            datagen.write_tables(tables, out_dir)
            times.append(time.perf_counter() - t)
        self.setup["datagen_s"] = statistics.median(times)
        return tables

    # ----------------------------------------------------------- stream

    def run_stream(self) -> None:
        """Drain a pre-staged, event-time-ordered backlog through
        ``dedup_stream`` into the upsert sink, one file per trigger."""
        from data_engineering_bootcamp_spark.streaming.pipelines import dedup_stream
        from data_engineering_bootcamp_spark.streaming.sinks import upsert_batch_writer

        t = time.perf_counter()
        staging = os.path.join(self.work_dir, "staging")
        self.stage_files(staging)
        self.setup["datagen_s"] = time.perf_counter() - t
        t = time.perf_counter()
        src, store, ckpt = (os.path.join(self.work_dir, d) for d in ("src", "store", "ckpt"))
        os.makedirs(src)
        os.makedirs(store)
        files = sorted(os.listdir(staging))
        schema = self.spark.read.parquet(os.path.join(staging, files[0])).schema

        writer = upsert_batch_writer(store, ["user_id"], ["ts", "event_id"])
        self.sink_ms: dict[int, float] = {}

        def sink(batch_df, batch_id: int) -> None:
            self.group(f"pb:b{batch_id}")
            t0 = time.perf_counter()
            writer(batch_df, batch_id)
            self.sink_ms[batch_id] = (time.perf_counter() - t0) * 1e3

        if self.probe is not None:
            # the query runs on a clone of the session, which copies the
            # listeners registered at start; later passes toggle `active`
            self.probe.listen(True)
        stream = (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        query = (
            dedup_stream(stream, ["event_id"])
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        self.query = query
        fed = iter(files)
        self.trigger_pass: dict[int, bool] = {}

        def one_pass(traced: bool) -> float:
            if self.probe is not None:
                self.probe.listener.active = traced
            block = [next(fed) for _ in range(STREAM_PASS_FILES)]
            first = self.last_batch_id() + 1
            target = self.files_committed() + len(block)
            t0 = time.perf_counter()
            now = time.time()
            for i, f in enumerate(block):
                dst = os.path.join(src, f)
                os.rename(os.path.join(staging, f), dst)
                os.utime(dst, (now + i * 1e-3, now + i * 1e-3))
            # processAllAvailable can return early if the stream's poll
            # raced the rename; wait until every staged file is committed
            while self.files_committed() < target:
                query.processAllAvailable()
            dt = time.perf_counter() - t0
            for bid in range(first, self.last_batch_id() + 1):
                self.trigger_pass[bid] = traced
            return dt

        try:
            self.setup["query_start_s"] = time.perf_counter() - t
            t = time.perf_counter()
            self.warm_up(one_pass)
            self.setup["warmup_s"] = time.perf_counter() - t
            self.first_timed = self.last_batch_id() + 1
            self.host = Host(self.cpus)
            self.timed_passes(one_pass)
            if self.probe is not None:
                self.probe.listener.active = False
            self.progress = [_plain(p) for p in query.recentProgress]
        except Exception:  # noqa: BLE001 — counted, never fatal
            _warn(f"stream failed:\n{traceback.format_exc(limit=4)}")
            self.stream_error = True
        finally:
            query.stop()
        self.check_store(staging, src, store)

    def last_batch_id(self) -> int:
        p = _plain(self.query.lastProgress)
        return -1 if p is None else int(p["batchId"])

    def files_committed(self) -> int:
        p = _plain(self.query.lastProgress)
        if p is None or not p["sources"] or p["sources"][0]["endOffset"] is None:
            return 0
        return int(p["sources"][0]["endOffset"]["logOffset"]) + 1

    def stage_files(self, staging: str) -> None:
        """Cut seeded events, in event-time order, into STREAM_FILES
        files; the seed also shuffles rows within each file, so no event
        is later than the 1-hour dedup watermark allows."""
        n = STREAM_FILE_ROWS * STREAM_FILES
        users = datagen.table_rows(self.cfg.sf)["customer"] // 10
        events = datagen.events_table(np.random.default_rng(datagen.BASE_SEED), n, users)
        rng = np.random.default_rng(self.seed)
        events = events.set_column(
            1, "ts", events.column("ts").cast(pa.timestamp("us", tz="UTC"))
        )
        os.makedirs(staging)
        for i in range(STREAM_FILES):
            chunk = events.slice(i * STREAM_FILE_ROWS, STREAM_FILE_ROWS)
            chunk = chunk.take(rng.permutation(chunk.num_rows))
            pq.write_table(chunk, os.path.join(staging, f"part-{i:05d}.parquet"))
        self.sizes = {"events": n, "files": STREAM_FILES, "file_rows": STREAM_FILE_ROWS}
        self.rows_per_pass = STREAM_PASS_FILES * STREAM_FILE_ROWS

    def check_store(self, staging: str, src: str, store: str) -> None:
        """The final store must equal the batch argmax over every event
        the stream consumed (independent of how input was split), and no
        row may have been dropped as late."""
        import expected

        problems = []
        try:
            got = (
                self.spark.read.parquet(os.path.join(store, "live"))
                .selectExpr("user_id", "event_id", "unix_micros(ts) AS ts_us", "event_type", "value", "props")
                .toPandas()
            )
            want = duckdb.sql(
                f"""SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value, props
                FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rn
                      FROM read_parquet('{src}/*.parquet')) WHERE rn = 1"""
            ).df()
            got_key, want_key = expected.answer_key(got), expected.answer_key(want)
            if got_key != want_key:
                problems = [f"got {got_key}, expected {want_key}"]
        except Exception:  # noqa: BLE001
            problems = [traceback.format_exc(limit=3)]
        progress = getattr(self, "progress", [])
        late = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in progress for op in p.get("stateOperators", [])
        )
        self.late_rows = late
        if late:
            problems.append(f"{late} rows dropped as late")
        if getattr(self, "stream_error", False):
            problems.append("stream query failed")
        if problems:
            self.failed_checks.add("store")
            _warn(f"stream output check failed: {problems[0][:400]}")
        self.store_versions_left = sum(1 for d in os.listdir(store) if d.startswith("v_"))

    # ----------------------------------------------------------- result

    def stream_triggers(self, traced: bool) -> list[dict]:
        return [
            p for p in getattr(self, "progress", [])
            if p["batchId"] >= getattr(self, "first_timed", 0)
            and p.get("numInputRows", 0) > 0
            and self.trigger_pass.get(p["batchId"]) == traced
        ]

    def result(self, start_s: float) -> tuple[dict, dict]:
        """(metrics, details) for the JSON line."""
        stream = self.name == "stream_ingest"
        if stream:
            trig = self.stream_triggers(False)
            lat = [p["durationMs"]["triggerExecution"] / 1e3 for p in trig]
            attempted = len(trig)
            failed = attempted if self.failed_checks else 0
        else:
            untimed = [r for r in self.records if not r.traced]
            lat = [r.latency_s for r in untimed]
            attempted = len(untimed)
            failed = sum(not r.ok for r in untimed)
        attempted = max(attempted, 1)
        lat = lat or [0.0]
        tail, n = tail_percentile(lat)
        passes = self.pass_s[False] or [0.0]
        setup_s = (
            start_s
            + self.setup["datagen_s"]
            + self.setup.get("query_start_s", 0.0)
            + self.setup["warmup_s"]
        )
        e2e = {
            "setup_s": setup_s,
            "wall_s": statistics.median(passes),
            "latency_ms": statistics.median(lat) * 1e3,
            "peak_rss_mb": tree_peak_rss_mb(),
            # input rows per second: for a batch workload all its tables
            # once per pass, for the stream the rows of a pass's files
            "throughput_rows_s": self.rows_per_pass * len(passes) / (sum(passes) or 1.0),
        }
        details = {
            "workload": self.name,
            "seed": self.seed,
            "input_rows": self.sizes,
            "attempted": attempted,
            "failed": failed,
            "latency_samples": n,
            "passes": [round(p, 3) for p in passes],
            "op_latency_s": self.op_latencies(lat if stream else None),
            "host": self.host.layers() if hasattr(self, "host") else {},
            "setup": {k: (round(v, 3) if isinstance(v, float) else v) for k, v in self.setup.items()},
            "session_start_s": round(start_s, 3),
            "failed_checks": sorted(self.failed_checks),
        }
        layers = self.layers(start_s, attempted, failed) if self.trace else {}
        # reported per layer, not gated: p90 of 8-30 samples spread up to
        # 23% between runs on a shared host, too close to any usable bound
        layers["latency_tail_ms"] = tail * 1e3
        return {"e2e": e2e, "layers": layers, "attempted": attempted, "failed": failed}, details

    def op_latencies(self, triggers: list[float] | None) -> dict[str, list[float]]:
        if triggers is not None:
            return {"trigger": [round(t, 3) for t in triggers]}
        out: dict[str, list[float]] = {}
        for r in self.records:
            if not r.traced:
                out.setdefault(r.name, []).append(round(r.latency_s, 3))
        return out

    def layers(self, start_s: float, attempted: int, failed: int) -> dict[str, float]:
        out = dict.fromkeys(LAYER_METRICS, 0.0)
        out.update(self.host.layers())
        out["session.start_s"] = start_s
        out["session.warmup_s"] = self.setup["warmup_s"]
        out["failed_ops_frac"] = failed / attempted
        if self.name == "stream_ingest":
            self.stream_layers(out)
        else:
            self.batch_layers(out)
        return out

    def batch_layers(self, out: dict[str, float]) -> None:
        traced = [r for r in self.records if r.traced and r.ok]
        plain = [r for r in self.records if not r.traced and r.ok]
        if not traced:
            return
        n = len(traced)
        for key in {k for r in traced for k in r.layers}:
            out[key] = sum(r.layers.get(key, 0.0) for r in traced) / n
        build = sum(r.build_s for r in traced)
        run = sum(r.run_s for r in traced)
        lat = sum(r.latency_s for r in traced)
        out["plans.build_s"] = build / n
        out["plans.build_share"] = build / lat if lat else 0.0
        out["exec.run_s"] = run / n
        out["exec.core_util"] = out["exec.task_s"] * n / (run * self.cpus) if run else 0.0
        rows = out["sources.rows_out"]
        out["sources.records_per_row_out"] = out["sources.input_records"] / rows if rows else 0.0
        out["trace.accounted_frac"] = (build + run) / lat if lat else 0.0
        if plain:
            out["trace.overhead_frac"] = (
                statistics.mean(r.latency_s for r in traced)
                / statistics.mean(r.latency_s for r in plain) - 1.0
            )

    def stream_layers(self, out: dict[str, float]) -> None:
        trig = self.stream_triggers(True)
        plain = self.stream_triggers(False)
        if not trig:
            return
        n = len(trig)

        def mean_ms(*keys: str) -> float:
            return sum(sum(p["durationMs"].get(k, 0) for k in keys) for p in trig) / n

        out["streaming.trigger_ms"] = mean_ms("triggerExecution")
        out["streaming.plan_ms"] = mean_ms("queryPlanning")
        out["streaming.offset_ms"] = mean_ms("latestOffset", "getBatch")
        out["streaming.wal_ms"] = mean_ms("walCommit", "commitOffsets")
        out["streaming.add_batch_ms"] = mean_ms("addBatch")
        out["streaming.sink_write_ms"] = sum(self.sink_ms.get(p["batchId"], 0.0) for p in trig) / n
        out["streaming.rows_per_trigger"] = sum(p["numInputRows"] for p in trig) / n
        ops = [p["stateOperators"][0] for p in trig if p.get("stateOperators")]
        if ops:
            out["streaming.state_rows"] = statistics.mean(o["numRowsTotal"] for o in ops)
            out["streaming.state_bytes"] = statistics.mean(o["memoryUsedBytes"] for o in ops)
            out["streaming.state_commit_ms"] = statistics.mean(o["commitTimeMs"] for o in ops)
        out["streaming.late_rows_dropped"] = self.late_rows
        out["streaming.store_versions_left"] = self.store_versions_left
        parts = ("queryPlanning", "latestOffset", "getBatch", "walCommit", "commitOffsets", "addBatch")
        out["trace.accounted_frac"] = mean_ms(*parts) / out["streaming.trigger_ms"]
        probe = self.probe
        probe.drain()
        for key, v in probe.listener.take().items():
            out[key] = v / n
        jobs = [j for p in trig for j in probe.group_jobs(f"pb:b{p['batchId']}")]
        totals = probe.stage_totals(jobs)
        for key in STAGE_FIELDS:
            out[key] = totals[key] / n
        out["exec.jobs"] = len(jobs) / n
        out["exec.run_s"] = out["streaming.add_batch_ms"] / 1e3
        add_s = out["exec.run_s"] * n
        out["exec.core_util"] = totals["exec.task_s"] / (add_s * self.cpus) if add_s else 0.0
        out["sources.rows_out"] = out["streaming.rows_per_trigger"]
        out["sources.records_per_row_out"] = (
            out["sources.input_records"] / out["sources.rows_out"] if out["sources.rows_out"] else 0.0
        )
        if plain:
            out["trace.overhead_frac"] = (
                statistics.mean(p["durationMs"]["triggerExecution"] for p in trig)
                / statistics.mean(p["durationMs"]["triggerExecution"] for p in plain) - 1.0
            )


def _plain(progress) -> dict | None:
    """A StreamingQueryProgress as plain nested dicts."""
    return None if progress is None else json.loads(progress.json)


# every per-layer metric a traced run reports, with its unit
LAYER_UNITS = {
    "latency_tail_ms": "ms",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_share": "ratio",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_util": "ratio",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "sources.input_records": "count",
    "sources.input_bytes": "bytes",
    "sources.rows_out": "count",
    "sources.records_per_row_out": "ratio",
    "operators.leftover_rdds": "count",
    "streaming.trigger_ms": "ms",
    "streaming.plan_ms": "ms",
    "streaming.offset_ms": "ms",
    "streaming.wal_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.sink_write_ms": "ms",
    "streaming.rows_per_trigger": "count",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_commit_ms": "ms",
    "streaming.late_rows_dropped": "count",
    "streaming.store_versions_left": "count",
    "host.cpu_marker_mc_s": "s",
    "host.steal_frac": "ratio",
    "host.loadavg": "count",
    "failed_ops_frac": "ratio",
    "trace.overhead_frac": "ratio",
    "trace.accounted_frac": "ratio",
}
LAYER_METRICS = tuple(LAYER_UNITS)
