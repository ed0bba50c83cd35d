"""The workloads: set-up, the timed closed loop, result checks,
and the traced run's layer probes.

A run of any workload goes:

1. generate (or load from cache) the seeded Arrow table;
2. build the inputs the workload reads (not part of ``setup_s``);
3. set up ``SETUPS`` times: a SparkSession (the first launches the
   JVM, the later ones restart the SparkContext in it), ``register(spark)``
   and the first scan through the source the timed jobs read
   (``setup_s`` is the median);
4. run jobs in a closed loop, one client, for ``--seconds``, each job's
   result checked against DuckDB;
5. with ``--trace 1``: the same loop runs with a Spark event log and
   plan timing, then the layer probes call the package's layers
   in-process under span wrappers.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import pyarrow as pa

from . import data
from .spark_env import WorkerRSS, drift_record, local_cores, start_session
from .trace import Tracer, install, parse_event_log

SETUPS = 3
LOOP_PROPERTY = "perfbench.loop"  # marks the timed jobs in the event log
REFERENCE_ROWS_PER_S = 10.5e6  # the reference's cold count(*): 1M rows in 0.095 s


def _log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _tuples(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=repr)


def dir_bytes(path: str) -> tuple[int, int, int]:
    """(data bytes, sidecar bytes, data files) under ``path``; sidecars
    and markers are the files whose names start with ``_``."""
    data_b = side_b = files = 0
    for d, _dirs, names in os.walk(path):
        for n in names:
            size = os.path.getsize(os.path.join(d, n))
            if n.startswith(("_", ".")):
                side_b += size
            else:
                data_b += size
                files += 1
    return data_b, side_b, files


class Job:
    """One timed job: ``build`` makes the DataFrame and ``act`` runs it
    and returns result rows; without an ``act`` the job collects the
    DataFrame ``build`` made, and only such jobs have their plan timed
    (an action on another DataFrame plans again). ``after`` is untimed
    bookkeeping once the job is done. ``rows`` is what the source hands
    to Spark (0 for jobs that ``rows_per_s`` does not count)."""

    def __init__(self, kind, build, want, rows, act=None, after=None):
        self.kind, self.build, self.want, self.rows = kind, build, want, rows
        self.act = act or (lambda df: _tuples(df.collect()))
        self.collects = act is None
        self.after = after


# ---------------------------------------------------------------------------
# workload definitions
# ---------------------------------------------------------------------------


class Workload:
    name = ""

    def __init__(self, root: str, work: str, seed: int):
        self.root, self.work, self.seed = root, work, seed
        self.cache = os.path.join(os.path.dirname(work), "cache")
        self.table = data.cached_table(self.cache, self.name, seed)
        self.write_s = 0.0
        self.written_rows = 0
        self.stored_bytes = 0

    def prepare(self) -> None:
        """Inputs built before the JVM starts (not set-up time)."""

    def warm(self, spark) -> None:
        """The first scan through the source the timed jobs read (set-up time)."""

    def ready(self, spark) -> None:
        """Untimed work in the last session before the timed loop."""

    def close(self) -> None:
        """Stop anything ``prepare`` started."""

    def round(self, spark, i: int) -> list[Job]:
        raise NotImplementedError

    def probe(self, tracer: Tracer) -> None:
        raise NotImplementedError


class BulkScan(Workload):
    """Plain Native parts, no sidecars: decode and the Arrow hand-off."""

    name = "bulk_scan"

    def prepare(self) -> None:
        from duckdb_extension_clickhouse_native_spark.native.types import parse_type
        from duckdb_extension_clickhouse_native_spark.native.writer import write_native_file

        self.dir = os.path.join(self.work, "bulk")
        os.makedirs(self.dir)
        types = [parse_type(t) for t in data.BULK_CH_TYPES]
        step = -(-self.table.num_rows // data.BULK_PARTS)
        times = []
        for _ in range(7):  # the write is short: report the median of seven
            t0 = time.perf_counter()
            for i in range(data.BULK_PARTS):
                write_native_file(
                    os.path.join(self.dir, f"part-{i:02d}.clickhouse"),
                    self.table.slice(i * step, step),
                    ch_types=types, block_rows=data.BLOCK_ROWS, stats=False,
                )
            times.append(time.perf_counter() - t0)
        self.write_s = statistics.median(times)
        self.written_rows = self.table.num_rows
        self.stored_bytes = sum(dir_bytes(self.dir)[:2])
        self.answers = data.bulk_answers(self.table)

    def load(self, spark):
        return spark.read.format("clickhouse_native").load(self.dir)

    def warm(self, spark) -> None:
        self.load(spark).count()

    def round(self, spark, i: int) -> list[Job]:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        n = self.table.num_rows
        a = self.answers
        obs = Observation("rows")

        def noop(df):
            df.write.format("noop").mode("overwrite").save()
            return [(obs.get["n"],)]

        def agg(spark):
            return self.load(spark).groupBy("lc").agg(
                F.count(F.lit(1)), F.sum("id"), F.sum("u"), F.sum("f"), F.min("ts"),
                F.max("ts"), F.sum(F.length("s")), F.count("n"), F.sum("n"),
            )

        def filt(spark):
            return self.load(spark).filter(F.col("f") > data.BULK_FILTER_F).select("id", "s")

        return [
            Job("count", lambda spark: self.load(spark).groupBy().count(), a["count"], n),
            Job("noop", lambda spark: self.load(spark).observe(obs, F.count(F.lit(1)).alias("n")),
                a["noop"], n, act=noop),
            Job("agg", agg, a["agg"], n),
            Job("filter", filt, a["filter"], len(a["filter"])),
        ]

    def probe(self, tracer: Tracer) -> None:
        from pyspark.sql.datasource import GreaterThan

        native_probe(tracer, self.dir, [[], [GreaterThan(("f",), data.BULK_FILTER_F)]])


class Ingest(Workload):
    """A table served over native TCP with compression, fetched by
    clickhouse_scan, then written back as lz4 Native parts."""

    name = "ingest"

    def prepare(self) -> None:
        self.answer = data.ingest_answer(self.table)
        self.out = os.path.join(self.work, "ingest")
        os.makedirs(self.out)
        self.n_writes = 0
        path = data.cache_path(self.cache, self.name, self.seed)
        self.server = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "replay_server.py"), self.root, path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.server.stdout.readline().split()
        if len(line) != 2 or line[0] != "port":
            raise RuntimeError("replay server did not start")
        self.url = f"tcp://127.0.0.1:{line[1]}"

    def control(self, cmd: str) -> str:
        self.server.stdin.write(cmd + "\n")
        self.server.stdin.flush()
        return self.server.stdout.readline().strip()

    def close(self) -> None:
        if self.server.poll() is None:
            try:
                self.control("quit")
            except (BrokenPipeError, OSError):
                pass
            try:
                self.server.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.server.kill()
                self.server.wait()

    def scan_options(self) -> dict:
        return {
            "url": self.url,
            "compression": "true",  # LZ4, the clickhouse-rs default
            "query": "SELECT * FROM t",
            "partition_column": "k",
            "num_partitions": str(local_cores()),
            "lower_bound": "0",
            "upper_bound": str(self.table.num_rows),
        }

    def fetch(self, spark):
        return spark.read.format("clickhouse_scan").options(**self.scan_options()).load()

    @staticmethod
    def _check_cols():
        from pyspark.sql import functions as F

        return [F.count(F.lit(1)), F.sum("k"), F.sum("g"), F.sum("x"), F.sum(F.length("s"))]

    def fetch_job(self) -> Job:
        from pyspark.sql import Observation

        def act(df):
            obs = Observation("fetch")
            df.observe(obs, *[c.alias(f"c{i}") for i, c in enumerate(self._check_cols())]) \
                .write.format("noop").mode("overwrite").save()
            got = obs.get
            return [tuple(got[f"c{i}"] for i in range(5))]

        return Job("fetch", self.fetch, self.answer, self.table.num_rows, act=act)

    def write_jobs(self) -> list[Job]:
        """Write the cached copy as lz4 Native parts, then read them back.
        The read-back job's check is the write's check."""
        self.n_writes += 1
        dest = os.path.join(self.out, f"w{self.n_writes}")
        prev = os.path.join(self.out, f"w{self.n_writes - 1}")

        def write(df):
            df.write.format("clickhouse_native").option("compression", "lz4").mode("append").save(dest)
            return []

        def after():
            self.stored_bytes = sum(dir_bytes(dest)[:2])
            shutil.rmtree(prev, ignore_errors=True)

        def read(spark):
            return spark.read.format("clickhouse_native").load(dest).agg(*self._check_cols())

        return [
            Job("write", lambda _s: self.cached, [], 0, act=write, after=after),
            Job("read", read, self.answer, 0),
        ]

    def warm(self, spark) -> None:
        # the first scan through clickhouse_scan fills the cached copy
        self.cached = self.fetch(spark).cache()
        self.cached.count()

    def ready(self, spark) -> None:
        # from here on, a query the proxy has not recorded is a miss
        self.control("replay")

    def round(self, spark, i: int) -> list[Job]:
        return [self.fetch_job(), *self.write_jobs()]

    def stats(self) -> dict:
        return json.loads(self.control("stats"))

    def probe(self, tracer: Tracer) -> None:
        from duckdb_extension_clickhouse_native_spark.native.writer import write_native_file
        from duckdb_extension_clickhouse_native_spark.sources.scan_datasource import (
            ClickHouseScanDataSource,
        )

        before = self.stats()
        opts = self.scan_options()
        with tracer.span("scan_datasource.probe"):
            schema = ClickHouseScanDataSource(dict(opts)).schema()
        reader = ClickHouseScanDataSource(dict(opts)).reader(schema)
        parts = reader.partitions()
        tracer.count("scan_datasource.partitions", len(parts))
        fetched = []
        for p in parts:
            with tracer.span("scan_datasource.read"):
                fetched.append(pa.Table.from_batches(list(reader.read(p))))
            tracer.count("handoff.arrow_bytes", fetched[-1].nbytes)
        after = self.stats()
        tracer.count("tcp_client.wire_bytes", after["bytes_out"] - before["bytes_out"])
        tracer.count("replay.misses", after["misses"] - before["misses"])
        dest = os.path.join(self.work, "probe-write")
        os.makedirs(dest)
        for i, t in enumerate(fetched):
            with tracer.span("writer.write"):
                write_native_file(os.path.join(dest, f"part-{i}.clickhouse"), t, compression="lz4")
        data_b, side_b, files = dir_bytes(dest)
        tracer.count("writer.files", files)
        tracer.count("writer.data_bytes", data_b)
        tracer.count("writer.sidecar_bytes", side_b)
        native_probe(tracer, dest, [[]])


WORKLOADS = {w.name: w for w in (BulkScan, Ingest)}


# ---------------------------------------------------------------------------
# the native_datasource probe shared by the workloads
# ---------------------------------------------------------------------------


def native_probe(tracer: Tracer, path: str, filter_sets: list[list]) -> None:
    """Schema, then for each filter set: plan (pushFilters + partitions)
    and drain ``read`` file by file, as Spark's plan worker and tasks
    would, but in this process and under spans."""
    from duckdb_extension_clickhouse_native_spark.sources.native_datasource import (
        ClickHouseNativeDataSource,
        infer_native_schema,
    )

    opts = {"path": path}
    listed = dir_bytes(path)[2]
    for filters in filter_sets:
        with tracer.span("native_datasource.schema"):
            schema = infer_native_schema(dict(opts))
        with tracer.span("native_datasource.plan"):
            reader = ClickHouseNativeDataSource(dict(opts)).reader(schema)
            list(reader.pushFilters(list(filters)))
            parts = reader.partitions()
        tracer.count("native_datasource.files_listed", listed)
        tracer.count("native_datasource.partitions", len(parts))
        for part in parts:
            for sub in getattr(part, "parts", (part,)):
                tracer.count("native_datasource.files_planned")
                tracer.count("native_datasource.bytes_read", os.path.getsize(sub.path))
                with tracer.span("native_datasource.read"):
                    rows = 0
                    for b in reader.read(sub):
                        rows += b.num_rows
                        tracer.count("native_datasource.batches")
                        tracer.count("handoff.arrow_bytes", b.nbytes)
                tracer.count("native_datasource.result_rows", rows)
                tracer.count("native_datasource.useful_files", rows > 0)


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


def tail(lat: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it once a run has 20 jobs or more (below that, such a
    percentile would sit under the median), else the slowest job."""
    xs = sorted(lat)
    if len(xs) < 20:
        return xs[-1], 100.0
    k = len(xs) - 11
    return xs[k], 100.0 * (k + 1) / len(xs)


def timed_loop(wl: Workload, spark, seconds: float, *, first_round: int = 0,
               plan_times: list | None = None) -> dict:
    """Closed loop, one client: each job starts when the previous one's
    check is done. Whole rounds only, so every run has the same job mix;
    a round starts only if it should end within ``seconds`` (the first
    always runs). Per job kind: latencies and rows handed to Spark."""
    lat: dict[str, list[float]] = {}
    rows: dict[str, list[int]] = {}
    attempted = failed = 0
    t_start = time.perf_counter()
    done = 0
    while done == 0 or (time.perf_counter() - t_start) * (done + 1) / done <= seconds:
        for job in wl.round(spark, first_round + done):
            attempted += 1
            try:
                t0 = time.perf_counter()
                df = job.build(spark)
                if plan_times is not None and job.collects:
                    df._jdf.queryExecution().executedPlan()
                    plan_times.append(time.perf_counter() - t0)
                got = job.act(df)
                dt = time.perf_counter() - t0
                ok = data.same_rows(got, job.want)
                if job.after:
                    job.after()
            except Exception:  # a failed job counts, the loop goes on
                traceback.print_exc()
                ok, dt = False, None
            if not ok:
                failed += 1
                _log(f"job {job.kind} #{attempted} failed or returned a wrong result")
                continue
            lat.setdefault(job.kind, []).append(dt)
            rows.setdefault(job.kind, []).append(job.rows)
        done += 1
    return {"lat": lat, "rows": rows, "attempted": attempted, "failed": failed}


def loop_metrics(wl: Workload, loop: dict) -> dict:
    """Medians per job kind, so a slow job or the number of rounds that
    fit moves the figures as little as possible:

    - ``query_p50_s``: the median over kinds of each kind's median
      latency (every kind weighs the same);
    - ``rows_per_s``: rows one job of each kind hands to Spark, summed,
      over the kinds' median latencies, summed (the kinds that read);
    - ``write_rows_per_s``: table rows over the median ``write`` latency,
      or the workload's set-up write when the loop does not write."""
    if not loop["lat"]:
        raise RuntimeError("no timed job completed")
    med = {k: statistics.median(v) for k, v in loop["lat"].items()}
    reads = [k for k, r in loop["rows"].items() if statistics.mean(r) > 0]
    rows_per_round = sum(statistics.mean(loop["rows"][k]) for k in reads)
    if "write" in med:
        write_rate = wl.table.num_rows / med["write"]
    else:
        write_rate = wl.written_rows / wl.write_s
    return {
        "rows_per_s": rows_per_round / sum(med[k] for k in reads),
        "query_p50_s": statistics.median(med.values()),
        "write_rows_per_s": write_rate,
        "stored_bytes_per_input_byte": wl.stored_bytes / wl.table.nbytes,
    }


UNITS = {
    "setup_s": "s", "rows_per_s": "rows/s", "query_p50_s": "s",
    "write_rows_per_s": "rows/s", "stored_bytes_per_input_byte": "ratio",
    "worker_peak_rss_mb": "MB",
}


def run(name: str, seed: int, seconds: float, traced: bool, root: str, work: str) -> dict:
    from duckdb_extension_clickhouse_native_spark import register

    cores = local_cores()
    wl = WORKLOADS[name](root, work, seed)
    tracer = Tracer() if traced else None
    t_run = time.perf_counter()
    try:
        wl.prepare()
        _log(f"prepared in {time.perf_counter() - t_run:.1f} s")
        sessions, warms = [], []
        for k in range(SETUPS):
            # sample 0 launches the JVM; later ones restart the SparkContext in it
            last = k == SETUPS - 1
            log_dir = os.path.join(work, "eventlog") if traced and last else None
            spark, session_s = start_session(work, cores, event_log=log_dir)
            t0 = time.perf_counter()
            register(spark)
            wl.warm(spark)
            sessions.append(session_s)
            warms.append(time.perf_counter() - t0)
            if k == 0:
                drift = drift_record(spark)
            _log(f"set-up sample {k}: {sessions[-1] + warms[-1]:.2f} s (at {time.perf_counter() - t_run:.1f} s)")
            if not last:
                spark.stop()
        setups = [s + w for s, w in zip(sessions, warms)]
        wl.ready(spark)
        # one untimed round first: JIT compilation and first-use costs
        # otherwise land in the first timed jobs (measured: 1.5-2.5x)
        warmup = timed_loop(wl, spark, 0)
        plan_times: list | None = [] if traced else None
        spark.sparkContext.setLocalProperty(LOOP_PROPERTY, "1")
        with WorkerRSS() as rss:
            loop = timed_loop(wl, spark, seconds, first_round=1, plan_times=plan_times)
        m = loop_metrics(wl, loop)
        lat = [x for v in loop["lat"].values() for x in v]
        tail_s, tail_pct = tail(lat)
        _log(f"timed loop done at {time.perf_counter() - t_run:.1f} s")
        record = {
            "workload": name, "seed": seed, "nproc": os.cpu_count(), "local": f"local[{cores}]",
            "setup_samples_s": setups, "jobs": len(lat),
            "query_tail_s": tail_s, "tail_percentile": tail_pct,
            "job_p50_s": {k: statistics.median(v) for k, v in loop["lat"].items()},
        }
        if "count" in loop["lat"]:
            record["count_rows_per_s"] = wl.table.num_rows / record["job_p50_s"]["count"]
        if name == "ingest":
            record["replay"] = wl.stats()
            if record["replay"]["misses"]:
                loop["failed"] += 1
                _log(f"replay proxy missed {record['replay']['misses']} queries in the timed loop")
        record["drift"] = drift
        spark.stop()
        metrics = {
            "setup_s": statistics.median(setups),
            **m,
            "worker_peak_rss_mb": rss.peak_mb,
        }
        attempted = warmup["attempted"] + loop["attempted"]
        failed = warmup["failed"] + loop["failed"]
        out = {"record": record, "attempted": attempted, "failed": failed,
               "ops_failed_ratio": failed / max(1, attempted)}
        if not traced:
            out["metrics"] = {k: (v, UNITS[k]) for k, v in metrics.items()}
            return out
        # traced run: Spark task/SQL metrics, then in-process layer probes
        logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        ev = parse_event_log(logs[0], LOOP_PROPERTY)
        restore = install(tracer)
        try:
            wl.probe(tracer)
        finally:
            restore()
        spans = os.path.join(os.path.dirname(work), "spans")
        os.makedirs(spans, exist_ok=True)
        tracer.write(os.path.join(spans, f"{name}-s{seed}-{tracer.run_id}.jsonl"))
        out["metrics"] = layer_metrics(tracer, ev, loop, plan_times, sessions, warms, metrics)
        return out
    finally:
        wl.close()


def layer_metrics(tracer: Tracer, ev: dict, loop: dict, plan_times: list, sessions: list,
                  warms: list, e2e: dict) -> dict:
    t = tracer.times()
    c = tracer.counts
    jobs = max(1, sum(len(v) for v in loop["lat"].values()))

    def tot(name):
        return t.get(name, {}).get("total", 0.0)

    def slf(name):
        return t.get(name, {}).get("self", 0.0)

    decode_s = slf("codec.decode")
    comp, raw = c["compress.comp_bytes"], c["compress.raw_bytes"]
    result_rows = c["native_datasource.result_rows"]
    planned = c["native_datasource.files_planned"]
    layers = tracer.layer_self()
    m = {
        "setup.session_s": (statistics.median(sessions), "s"),
        "setup.worker_warm_s": (statistics.median(warms), "s"),
        "spark.plan_s": (statistics.median(plan_times), "s"),
        "spark.tasks": (ev["tasks"] / jobs, "count"),
        "spark.scheduler_delay_s": (ev["sched_ms"] / 1e3 / jobs, "s"),
        "spark.task_deserialize_s": (ev["deser_ms"] / 1e3 / jobs, "s"),
        "spark.task_run_s": (ev["run_ms"] / 1e3 / jobs, "s"),
        "spark.gc_s": (ev["gc_ms"] / 1e3 / jobs, "s"),
        "spark.python_bytes_received": (c["handoff.arrow_bytes"], "bytes"),
        "spark.scan_output_rows": (ev.get("scan_output_rows", 0.0) / jobs, "rows"),
        "spark.shuffle_bytes_written": (ev["shuffle_bytes"] / jobs, "bytes"),
        "spark.fetch_wait_s": (ev["fetch_wait_ms"] / 1e3 / jobs, "s"),
        "native_datasource.schema_s": (tot("native_datasource.schema"), "s"),
        "native_datasource.plan_s": (tot("native_datasource.plan"), "s"),
        "native_datasource.files_listed": (c["native_datasource.files_listed"], "count"),
        "native_datasource.files_planned": (planned, "count"),
        "native_datasource.partitions": (c["native_datasource.partitions"], "count"),
        "native_datasource.useful_file_ratio": (c["native_datasource.useful_files"] / planned if planned else 0.0, "ratio"),
        "native_datasource.rows_read_per_result_row": (c["native_datasource.rows_read"] / result_rows if result_rows else 0.0, "ratio"),
        "native_datasource.read_s": (tot("native_datasource.read"), "s"),
        "native_datasource.rows_read": (c["native_datasource.rows_read"], "rows"),
        "native_datasource.bytes_read": (c["native_datasource.bytes_read"], "bytes"),
        "native_datasource.batches": (c["native_datasource.batches"], "count"),
        "codec.decode_s": (decode_s, "s"),
        "codec.decode_mb_per_s": (c["codec.bytes"] / 1e6 / decode_s if decode_s else 0.0, "MB/s"),
        "codec.blocks": (c["codec.blocks"], "count"),
        "codec.encode_s": (slf("codec.encode"), "s"),
        "compress.decompress_s": (slf("compress.decompress"), "s"),
        "compress.checksum_s": (tot("compress.checksum"), "s"),
        "compress.compress_s": (slf("compress.compress"), "s"),
        "compress.frames": (c["compress.frames"], "count"),
        "compress.ratio": (raw / comp if comp else 0.0, "ratio"),
        "tcp_client.connect_s": (tot("tcp_client.connect"), "s"),
        "tcp_client.fetch_s": (tot("tcp_client.fetch"), "s"),
        "tcp_client.wire_bytes": (c["tcp_client.wire_bytes"], "bytes"),
        "tcp_client.blocks": (c["tcp_client.blocks"], "count"),
        "scan_datasource.probe_s": (tot("scan_datasource.probe"), "s"),
        "scan_datasource.read_s": (tot("scan_datasource.read"), "s"),
        "scan_datasource.partitions": (c["scan_datasource.partitions"], "count"),
        "writer.write_s": (tot("writer.write"), "s"),
        "writer.files": (c["writer.files"], "count"),
        "writer.data_bytes": (c["writer.data_bytes"], "bytes"),
        "writer.sidecar_bytes": (c["writer.sidecar_bytes"], "bytes"),
        "replay.misses": (c["replay.misses"], "count"),
        # the traced run's own end-to-end figures: the tracing overhead is
        # their difference from the untraced run's on the same seed
        "trace.query_p50_s": (e2e["query_p50_s"], "s"),
        "trace.rows_per_s": (e2e["rows_per_s"], "rows/s"),
        "trace.spans": (len(tracer.spans), "count"),
    }
    for layer in ("native_datasource", "scan_datasource", "tcp_client", "codec", "compress", "writer"):
        m[f"self.{layer}_s"] = (layers.get(layer, 0.0), "s")
    return m
