"""The workloads. Each generates its inputs from the seed
before any clock starts, times its set-up and its closed-loop ops
(one client: the next op starts when the previous one has
committed), checks the program's outputs outside the timed section,
and returns a :class:`Result`."""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import threading
import time
from dataclasses import dataclass
from statistics import median

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import checks
import gen
from harness import (
    SparkCounters,
    Spans,
    descendants,
    dir_usage,
    host_cpu,
    host_noise,
    jvm_peak_rss_mb,
    tree_cpu_s,
    uncovered_s,
)
from metrics import QUERIES

# e2_stream: warehouse depth and feed width
E2_SYMBOLS = 200
E2_DEPTH = 1000  # snapshots per symbol in the seeded warehouse
# the first batches run slower while the JVM compiles the hot paths
# (with three warm-up batches, batch times still fell ~20% over the
# next six); warm-up counts in setup_s
E2_WARMUP = 5
# batch_queries: the repo's seed-42 sf0.01 fixture (a copy kept with
# the benchmark, so a run reads nothing outside its checkout); the
# dashboard reads a warehouse as deep as e2_stream's
BQ_FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture", "sf0.01")
BQ_CORR = 4

# a run measures whole ops until its seconds are spent and at least
# MIN_OPS ops are done, so its median always has a middle
MIN_OPS = 3
# inputs are staged for at most this many ops per second of run
# (ops shorter than 0.25 s would exhaust the backlog and end the run)
OPS_PER_S = 4
STREAM_TIMEOUT_S = 150


@dataclass
class Result:
    attempted: int
    failed: int
    errors: list[str]
    metrics: dict[str, float]
    host: dict
    ops: list[float]


class Ctx:
    """Per-run state: seed, clock budget, the run's directory, the
    Spark session once started, accumulated set-up time and the
    metrics gathered so far."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.spans = Spans()
        self.metrics: dict[str, float] = {}
        self.setup_s = 0.0
        self.spark = None
        self.counters: SparkCounters | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @contextlib.contextmanager
    def setup(self):
        """Time a block of set-up work (input generation excluded)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup_s += time.perf_counter() - t0

    def session(self):
        from b3_analytics_engine_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench",
            extra_conf={
                # the 1,000-stage default would evict stages of a
                # long run before the timed section is read
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.warehouse.dir": self.path("spark-warehouse"),
                # keep the JVM's temp files, Derby home and perf data
                # (/tmp/hsperfdata_*) out of the shared /tmp
                "spark.driver.extraJavaOptions": (
                    f"-Dderby.system.home={self.path('derby')} "
                    f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
                ),
            },
        )
        spark.range(1).count()
        self.metrics["session.start_s"] = time.perf_counter() - t0
        self.spark = spark
        self.counters = SparkCounters(spark)
        return spark

    def stop(self) -> None:
        """Stop Spark and wait until the driver JVM and the Python
        workers under it have exited."""
        self.spans.restore()
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.metrics["jvm.peak_rss_mb"] = jvm_peak_rss_mb()
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        SparkContext._gateway = SparkContext._jvm = None
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while len(descendants()) > 1 and time.monotonic() < deadline:
            time.sleep(0.1)


class Section:
    """The timed section of a run: wall clock, process-tree CPU, host
    noise and the Spark id range it covers."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.mark = ctx.counters.mark()
        self.cpu0 = tree_cpu_s()
        self.host0 = host_cpu()
        self.t0 = time.perf_counter()

    def close(self) -> None:
        self.wall = time.perf_counter() - self.t0
        self.cpu = tree_cpu_s() - self.cpu0
        self.host = host_noise(self.host0, host_cpu(), self.wall)
        fields = None if self.ctx.trace else ("output_bytes", "shuffle_write_bytes", "input_records")
        self.spark = self.ctx.counters.collect(self.mark, fields)

    def metrics(self, op_s: list[float], rows: float, windows_ms) -> dict:
        """End-to-end metrics of the section, plus the Spark and host
        layer metrics in traced runs."""
        n = len(op_s)
        c = self.spark
        m = {
            "setup_s": self.ctx.setup_s,
            "op_s_p50": median(op_s),
            "rows_per_s": rows / self.wall,
            "cpu_s_per_op": self.cpu / n,
            "bytes_written_per_op": (c["output_bytes"] + c["shuffle_write_bytes"]) / n,
            "host.steal_s": self.host["steal_s"],
        }
        if self.ctx.trace:
            m.update({
                "spark.exec_cpu_s_per_op": c["exec_cpu_s"] / n,
                "spark.gc_s_per_op": c["gc_s"] / n,
                "spark.exec_run_s_per_op": c["exec_run_s"] / n,
                "spark.input_bytes_per_op": c["input_bytes"] / n,
                "spark.shuffle_write_bytes_per_op": c["shuffle_write_bytes"] / n,
                "spark.shuffle_read_bytes_per_op": c["shuffle_read_bytes"] / n,
                "spark.spill_bytes_per_op": (c["memory_spill_bytes"] + c["disk_spill_bytes"]) / n,
                "spark.jobs_per_op": c["jobs"] / n,
                "spark.stages_per_op": c["stages"] / n,
                "spark.tasks_per_op": c["tasks"] / n,
                "spark.driver_s_per_op": uncovered_s(windows_ms, c["job_spans_ms"]) / n,
            })
        return m


def _max_ops(ctx: Ctx) -> int:
    return max(int(OPS_PER_S * ctx.seconds), MIN_OPS)


# ------------------------------------------------------ streaming client


class ClosedLoopStream:
    """Feeds a running file-source stream one staged file per
    micro-batch: a file is renamed into the watched directory, and
    the next only after the batch that read it has committed (its
    progress event arrived through a ``StreamingQueryListener``)."""

    def __init__(self, spark, backlog: list[str], watched: str):
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.backlog = backlog
        self.watched = watched
        self.next = 0
        self.progress: dict[int, object] = {}
        self.cv = threading.Condition()
        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with outer.cv:
                    outer.progress[event.progress.batchId] = event.progress
                    outer.cv.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer.cv:
                    outer.cv.notify_all()

        self.listener = _Listener()
        spark.streams.addListener(self.listener)
        self.query = None

    def step(self):
        """Drop the next staged file and wait for its batch; returns
        the batch's StreamingQueryProgress."""
        k = self.next
        src = self.backlog[k]
        os.rename(src, os.path.join(self.watched, os.path.basename(src)))
        self.next += 1
        deadline = time.monotonic() + STREAM_TIMEOUT_S
        with self.cv:
            while k not in self.progress:
                if not self.query.isActive:
                    raise RuntimeError(f"stream stopped: {self.query.exception()}")
                if time.monotonic() > deadline:
                    raise TimeoutError(f"batch {k} did not commit in {STREAM_TIMEOUT_S} s")
                self.cv.wait(0.5)
            return self.progress[k]

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
        self.spark.streams.removeListener(self.listener)


def _stream_layers(progress: list, n: int) -> dict:
    def mean_ms(key: str) -> float:
        return sum(p.durationMs.get(key, 0) for p in progress) / 1000.0 / n

    return {
        "sources.latest_offset_s": mean_ms("latestOffset"),
        "sources.input_rows_per_op": sum(p.numInputRows for p in progress) / n,
        "streaming.add_batch_s": mean_ms("addBatch"),
        "streaming.query_planning_s": mean_ms("queryPlanning"),
        "streaming.wal_commit_s": mean_ms("walCommit"),
    }


def _progress_window_ms(p) -> tuple[float, float]:
    start = pd.Timestamp(p.timestamp).timestamp() * 1000.0
    return start, start + p.durationMs["triggerExecution"]


def _listing(path: str) -> set[tuple[str, int, int]]:
    """(name, size, mtime) of every data file under ``path``."""
    out = set()
    for dp, _, fns in os.walk(path):
        for fn in fns:
            if fn.endswith(".parquet"):
                st = os.stat(os.path.join(dp, fn))
                out.add((os.path.relpath(os.path.join(dp, fn), path), st.st_size, st.st_mtime_ns))
    return out


def _drive(ctx: Ctx, feed: ClosedLoopStream, warmup: int, observe=None) -> tuple[Section, list]:
    """Warm-up batches (set-up time), then whole batches until the
    run's seconds are spent or the backlog is exhausted. ``observe``
    runs after the warm-up and after each measured batch has
    committed, outside every op time."""
    with ctx.setup():
        for _ in range(warmup):
            feed.step()
    if observe is not None:
        observe()
    sec = Section(ctx)
    deadline = sec.t0 + ctx.seconds
    measured = []
    while feed.next < len(feed.backlog):
        measured.append(feed.step())
        if observe is not None:
            observe()
        if time.perf_counter() >= deadline and len(measured) >= MIN_OPS:
            break
    sec.close()
    return sec, measured


# ------------------------------------------------------------ e2_stream


def e2_stream(ctx: Ctx) -> Result:
    """The paper's E2 pipeline: tagged two-feed micro-batches merged
    into a ~39-day warehouse by ``start_incremental``."""
    now = dt.datetime.now(dt.timezone.utc)
    wh = ctx.path("warehouse")
    gen.seed_warehouse(wh, ctx.rng, E2_SYMBOLS, E2_DEPTH, now)
    seed = pq.read_table(wh).to_pandas()
    backlog_dir, watched = ctx.path("backlog"), ctx.path("feeds")
    os.makedirs(backlog_dir)
    os.makedirs(watched)
    backlog, rows = [], []
    mtime0 = time.time() - 3600
    for k in range(E2_WARMUP + _max_ops(ctx)):
        p = os.path.join(backlog_dir, f"feed-{k:05d}.parquet")
        rows.append(gen.feed_file(p, ctx.rng, E2_SYMBOLS, k, mtime=mtime0 + k))
        backlog.append(p)

    from b3_analytics_engine_spark.sinks import files as sink_files
    from b3_analytics_engine_spark.sources.files import stream_parquet_dir
    from b3_analytics_engine_spark.streaming.pipeline import start_incremental

    with ctx.setup():
        spark = ctx.session()
        if ctx.trace:
            ctx.spans.wrap(sink_files, "replace_directory", "sinks.replace_directory")
        schema = spark.read.parquet(backlog[0]).schema
        feed = ClosedLoopStream(spark, backlog, watched)
        feed.query = start_incremental(
            spark,
            stream_parquet_dir(spark, watched, schema, max_files_per_trigger=1),
            warehouse_path=wh,
            checkpoint=ctx.path("ckpt"),
            trigger={"processingTime": "0 seconds"},
        )
    # traced runs count the data files each measured batch leaves in
    # the warehouse that were not there before it
    listing, written = [], []

    def observe():
        now_files = _listing(wh)
        if listing:
            written.append(len(now_files - listing[-1]))
        listing[:] = [now_files]

    try:
        sec, measured = _drive(ctx, feed, E2_WARMUP, observe if ctx.trace else None)
    finally:
        feed.close()
    n = len(measured)
    op_s = [p.durationMs["triggerExecution"] / 1000.0 for p in measured]
    windows = [_progress_window_ms(p) for p in measured]
    m = sec.metrics(op_s, sum(rows[E2_WARMUP:E2_WARMUP + n]), windows)
    if ctx.trace:
        m.update(_stream_layers(measured, n))
        m["sinks.replace_directory_s"] = ctx.spans.total("sinks.replace_directory", sec.t0) / n
        m["sinks.files_written_per_op"] = sum(written) / n
        m["sinks.warehouse_bytes"] = dir_usage(wh, ".parquet")[1]
    ctx.stop()

    got = pq.read_table(wh).to_pandas()
    feeds = [
        pq.read_table(os.path.join(watched, os.path.basename(p))).to_pandas()
        for p in backlog[: E2_WARMUP + n]
    ]
    errors = checks.check_e2(seed, feeds, got)
    return Result(n, 0, errors, {**ctx.metrics, **m}, sec.host, op_s)


# -------------------------------------------------------- batch_queries


def batch_queries(ctx: Ctx) -> Result:
    """Read-only passes: the dashboard refresh (``dashboard_frames``
    plus ``returns_correlation``) over a warehouse the program's own
    ``start_incremental`` wrote during set-up, then the fixed query
    subset over the sf0.01 fixture."""
    import duckdb

    sf_dir = BQ_FIXTURE
    wh = ctx.path("warehouse")
    gen.seed_warehouse(wh, ctx.rng, E2_SYMBOLS, E2_DEPTH, dt.datetime.now(dt.timezone.utc))
    feeds = ctx.path("feeds")
    os.makedirs(feeds)
    feed0 = os.path.join(feeds, "feed-0.parquet")
    gen.feed_file(feed0, ctx.rng, E2_SYMBOLS, 0)
    corr_syms = gen.symbols(BQ_CORR)

    from b3_analytics_engine_spark import pipelines as P
    from b3_analytics_engine_spark.queries import registry
    from b3_analytics_engine_spark.schemas import FIXTURE_TABLES
    from b3_analytics_engine_spark.sources.files import stream_parquet_dir
    from b3_analytics_engine_spark.streaming.pipeline import start_incremental

    specs = {name: registry()[name] for name in QUERIES}

    def one_pass() -> dict:
        w0 = time.time() * 1000.0
        t0 = time.perf_counter()
        wdf = spark.read.parquet(wh)
        frames = {k: v.toPandas() for k, v in P.dashboard_frames(wdf).items()}
        frames["corr"] = P.returns_correlation(wdf, corr_syms).toPandas()
        dash_s = time.perf_counter() - t0
        query_s, results = {}, {}
        for name, spec in specs.items():
            t = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            results[name] = (df.columns, [tuple(r) for r in df.collect()])
            query_s[name] = time.perf_counter() - t
            spark.catalog.clearCache()
        return {"s": time.perf_counter() - t0, "dash_s": dash_s, "query_s": query_s,
                "frames": frames, "results": results, "window": (w0, time.time() * 1000.0)}

    with ctx.setup():
        spark = ctx.session()
        start_incremental(
            spark, stream_parquet_dir(spark, feeds, spark.read.parquet(feed0).schema),
            warehouse_path=wh, checkpoint=ctx.path("ckpt"),
        ).awaitTermination(STREAM_TIMEOUT_S)
        cold = one_pass()["query_s"]

    sec = Section(ctx)
    deadline = sec.t0 + ctx.seconds
    passes = []
    while True:
        passes.append(one_pass())
        if time.perf_counter() >= deadline and len(passes) >= MIN_OPS:
            break
    sec.close()
    op_s = [p["s"] for p in passes]
    m = sec.metrics(op_s, sec.spark["input_records"], [p["window"] for p in passes])
    if ctx.trace:
        m["pipelines.dashboard_frames_s"] = median([p["dash_s"] for p in passes])
        for name in QUERIES:
            m[f"queries.{name}.s"] = median([p["query_s"][name] for p in passes])
            m[f"queries.{name}.cold_s"] = cold[name]
        m["sinks.warehouse_bytes"] = dir_usage(wh, ".parquet")[1]
    ctx.stop()

    errors = []
    con = duckdb.connect()
    try:
        for t in FIXTURE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for name, spec in specs.items():
            res = con.sql(spec.oracle)
            cols, rows = passes[-1]["results"][name]
            errors += checks.check_query(name, cols, rows, res.columns, res.fetchall())
        want = checks.dashboard_oracle(con, f"{wh}/*.parquet", corr_syms)
    finally:
        con.close()
    errors += checks.check_dashboard(passes[-1]["frames"], want)
    return Result(len(passes), 0, errors, {**ctx.metrics, **m}, sec.host, op_s)


def run_workload(name: str, ctx: Ctx) -> Result:
    fn = {"e2_stream": e2_stream, "batch_queries": batch_queries}[name]
    try:
        return fn(ctx)
    finally:
        ctx.stop()
