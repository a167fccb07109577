"""Layered benchmark of the engine, one workload per run.

    python3 perfbench/run.py --workload lob_oi --seed 1 --seconds 16 --trace 0
    python3 perfbench/smoke.py      # every workload once, at sf0.001

Run from the repository root. One run:

1. writes the workload's tables once under ``.perfbench_work/data``
   (``datagen``; a fixed function of the scale factor and of the
   generator's source) and cuts the
   event stream into micro-batch files at seed-drawn points;
2. starts a session on ``local[N]`` with N = min(4, nproc), imports the
   query registry and runs one warm pass that collects every result;
   ``setup_s`` is these three together;
3. gates the collected results, each query against its DuckDB oracle
   with ``tools/parity.compare_frames``;
4. runs the workload's untimed warm-up passes, then whole passes in
   seed-drawn orders, as many as fill ``--seconds`` at the workload's
   reference pass time, back to back;
5. prints a detail line (host verdict, pinned environment, gate
   messages, per-query medians), then the result line:
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on
Spark's event log (a startup conf passed from here), alternates traced
and plain passes, records spans around every call into the library,
runs the layer probes (table loader, pin, one streaming OI query gated
against its batch twin) and reports the per-layer metrics plus the
tracing overhead.

Every time reported (``setup_s``, passes, query latencies) is the wall
time scaled by the share of CPU time the hypervisor did not steal
while it ran, read from /proc/stat (``host.unstolen``): on a shared
host the steal moves from run to run and would otherwise set the
spread. The raw walls and the steal % are in the detail line.

Every file a run writes lands under
``.perfbench_work/`` at the root; ``baseline.json`` holds the reference
host's numbers.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
REQUIRED = (
    os.path.join(ROOT, "dissertation_iceberg_spark", "queries", "registry.py"),
    os.path.join(ROOT, "tools", "parity.py"),
)
STREAM_FILES = 3  # micro-batch files the seed cuts the event stream into
STREAM_BIN_S = 3600
STREAM_STEP = "streaming_oi"
SHUFFLE_PER_CPU = 2
DRIVER_MEM = "1g"
YOUNG_GEN = "256m"  # fixed young generation: peak RSS stops following GC timing


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta-weighted
    average of all order statistics. With the few dozen samples a run
    yields it moves far less from run to run than the single order
    statistic a plain percentile picks."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    # regularised incomplete beta on a fine grid, by the trapezoid rule
    t = np.linspace(0.0, 1.0, 20_001)[1:-1]
    logpdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    pdf = np.exp(logpdf - logpdf.max())
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf = np.concatenate([[0.0], cdf / cdf[-1], [1.0]])
    grid = np.concatenate([[0.0], t, [1.0]])
    w = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf))
    return float(w @ x)


def _count_exchanges(plan: str) -> int:
    return len(re.findall(r"\b(?:Exchange|BroadcastExchange|ReusedExchange)\b", plan))


def pin_environment(run_dir: str, cpus: int, trace: bool) -> dict:
    """Set, before the JVM starts, every knob the library reads from
    the environment, and keep Spark's scratch files in ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(SHUFFLE_PER_CPU * cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_PIN": "local",
        "SPARK_GRAFT_CHECKPOINT_DIR": os.path.join(run_dir, "checkpoints"),
        "TMPDIR": tmp,
        # the JVM spark-submit runs to build the driver's command line
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update(env)
    conf = {
        "spark.local.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        evdir = os.path.join(run_dir, "eventlog")
        os.makedirs(evdir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + evdir,
                "spark.eventLog.compress": "false",
            }
        )
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn{YOUNG_GEN}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return {**env, "startup_conf": conf}


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload, data_dir: str, run_dir: str, seed: int,
                 seconds: float, trace: bool) -> None:
        from perfbench.trace import Tracer

        self.wl = workload
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.seconds = seconds
        self.trace = trace
        self.rng = random.Random(seed)
        self.tracer = Tracer(trace)
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {q: [] for q in workload.queries}
        self.raw_samples: dict[str, list[float]] = {q: [] for q in workload.queries}
        self.layers: list[dict[str, float]] = []  # per traced pass
        self.gate: dict[str, str] = {}
        self.stream_layer: dict[str, float] = defaultdict(float)

    # -- calls into the library ------------------------------------------

    def start(self) -> dict[str, float]:
        t0 = time.perf_counter()
        with self.tracer.span("session.start", self.wl.name):
            from dissertation_iceberg_spark import session

            self.spark = session.get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        with self.tracer.span("registry.import", self.wl.name):
            from dissertation_iceberg_spark.queries import registry

            registry._ensure_loaded()
        t2 = time.perf_counter()
        self.session, self.registry = session, registry
        return {"session.start_s": t1 - t0, "registry.import_s": t2 - t1}

    def _group(self, tid: str, kind: str) -> str:
        gid = f"pb|{tid}|{kind}"
        self.spark.sparkContext.setJobGroup(gid, kind)
        return gid

    def _jobs(self, gid: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(gid))

    def run_query(self, name: str, tid: str, traced: bool, layer: dict, collect: bool = False):
        """One query of a pass; returns the collected result when
        ``collect``. Traced calls split build, plan and exec into spans
        and job groups."""
        fn = self.registry.REGISTRY[name].fn
        if not traced:
            df = fn(self.spark, self.data_dir)
            if collect:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
            return None
        with self.tracer.span("queries.build", tid) as sp:
            gid = self._group(tid, "build")
            df = fn(self.spark, self.data_dir)
        layer["queries.build_s"] += sp["end"] - sp["start"]
        layer["queries.build_jobs"] += self._jobs(gid)
        with self.tracer.span("queries.plan", tid) as sp:
            plan = df._jdf.queryExecution().executedPlan().toString()
        layer["queries.plan_s"] += sp["end"] - sp["start"]
        layer["queries.plan_exchanges"] += _count_exchanges(plan)
        with self.tracer.span("exec", tid) as sp:
            gid = self._group(tid, "exec")
            df.write.format("noop").mode("overwrite").save()
        layer["exec.s"] += sp["end"] - sp["start"]
        layer["exec.jobs"] += self._jobs(gid)
        layer.setdefault("_exec_groups", []).append(gid)
        return None

    def prepare_stream_source(self) -> None:
        """Cut the LOB-shaped event stream (``io.lob_events``: ts,
        direction = +1 for even event ids else -1, size = value) into
        STREAM_FILES parquet files at seed-chosen rows, oldest first,
        with increasing mtimes so the file source reads them in
        event-time order and no event arrives late. ``ts`` is written
        in microseconds: the raw file source does not convert, and
        would read nanoseconds as a bigint."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        ev = pq.read_table(os.path.join(self.data_dir, "events.parquet")).sort_by("ts")
        even = pc.equal(pc.bit_wise_and(ev["event_id"], 1), 0)
        lob = pa.table(
            {
                "ts": ev["ts"].cast(pa.timestamp("us")),
                "direction": pc.if_else(even, 1, -1).cast(pa.int32()),
                "size": ev["value"],
            }
        )
        n = lob.num_rows
        cuts = sorted(self.rng.sample(range(1, n), STREAM_FILES - 1))
        self.stream_src = os.path.join(self.run_dir, "stream_src")
        os.makedirs(self.stream_src)
        base = time.time() - 3600
        for i, (lo, hi) in enumerate(zip([0, *cuts], [*cuts, n])):
            path = os.path.join(self.stream_src, f"part-{i:03d}.parquet")
            pq.write_table(lob.slice(lo, hi - lo), path)
            os.utime(path, (base + i, base + i))
        self.stream_cuts = cuts

    def run_stream(self, tid: str, layer: dict) -> str:
        """``streaming_oi`` under a watermark, availableNow trigger, one
        file per micro-batch, into a parquet sink; returns the sink."""
        from dissertation_iceberg_spark.streaming.oi_stream import streaming_oi

        out = os.path.join(self.run_dir, "stream_out", tid.replace("/", "_"))
        shutil.rmtree(out, ignore_errors=True)
        with self.tracer.span("streaming.query", tid):
            src = (
                self.spark.readStream.schema(self.spark.read.parquet(self.stream_src).schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(self.stream_src)
            )
            q = (
                streaming_oi(src, STREAM_BIN_S)
                .writeStream.format("parquet")
                .option("path", os.path.join(out, "sink"))
                .option("checkpointLocation", os.path.join(out, "checkpoint"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(150):
                q.stop()
                raise TimeoutError("streaming_oi did not finish in 150 s")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        progress = [json.loads(p.json) for p in q.recentProgress]
        self.last_watermark = progress[-1].get("eventTime", {}).get("watermark")
        self._fold_stream(progress, os.path.join(out, "sink"), layer)
        return os.path.join(out, "sink")

    @staticmethod
    def _fold_stream(progress: list[dict], sink: str, layer: dict) -> None:
        for p in progress:
            d = p.get("durationMs", {})
            layer["streaming.batch_s"] += d.get("triggerExecution", 0) / 1e3
            layer["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
            layer["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
            layer["streaming.wal_commit_s"] += (
                d.get("walCommit", 0) + d.get("commitOffsets", 0)
            ) / 1e3
            layer["streaming.batches"] += 1
        ops = progress[-1].get("stateOperators", [])
        layer["streaming.state_rows"] += sum(o.get("numRowsTotal", 0) for o in ops)
        layer["streaming.state_mem_bytes"] += sum(o.get("memoryUsedBytes", 0) for o in ops)
        layer["streaming.sink_bytes"] += sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(sink)
            for f in files
            if f.endswith(".parquet")
        )

    def probe_layers(self, tid: str, layer: dict) -> None:
        """Traced passes only: time the table loader over all ten
        tables and ``session.pin`` on a fixed frame; in the first traced
        pass also run and gate the streaming OI query once."""
        from pyspark.sql import functions as F

        from dissertation_iceberg_spark import io
        from perfbench.datagen import TABLES

        with self.tracer.span("io.load_table", tid) as sp:
            gid = self._group(tid, "load")
            for t in TABLES:
                io.load_table(self.spark, self.data_dir, t)
        layer["io.load_table_s"] += sp["end"] - sp["start"]
        layer["io.load_table_jobs"] += self._jobs(gid)
        frame = (
            io.lob_events(self.spark, self.data_dir)
            .groupBy("user_id")
            .agg(F.sum("size").alias("size"), F.count(F.lit(1)).alias("n"))
        )
        with self.tracer.span("session.pin", tid) as sp:
            gid = self._group(tid, "pin")
            self.session.pin(frame)
        layer["session.pin_s"] += sp["end"] - sp["start"]
        layer["session.pin_jobs"] += self._jobs(gid)
        if STREAM_STEP not in self.gate:  # one streaming run per traced run
            ok, sink = self._attempt(STREAM_STEP, lambda: self.run_stream(tid, self.stream_layer))
            if ok:
                self._gate_one(STREAM_STEP, lambda: self._check_stream(sink))
            else:
                self.gate[STREAM_STEP] = "raised"

    # -- phases -------------------------------------------------------------

    def _attempt(self, name: str, fn):
        self.attempted += 1
        try:
            return True, fn()
        except Exception:  # one failing query must not end the run
            traceback.print_exc(file=sys.stderr)
            self.failures.append(name)
            return False, None

    def warm_pass(self) -> dict:
        """The setup pass: every query once, in the workload's own order
        (the first query pays the JIT warm-up, so a seed-drawn order
        would move ``setup_s``), results collected."""
        results = {}
        for name in self.wl.queries:
            ok, res = self._attempt(
                name, lambda n=name: self.run_query(n, f"{self.wl.name}/warm/{n}", False, {}, collect=True)
            )
            if ok:
                results[name] = res
        return results

    def check(self, results: dict) -> None:
        """The result gate: every warm-pass result against its DuckDB
        oracle. A mismatch counts as a failure."""
        from tools.parity import compare_frames, duck_connection

        con = duck_connection(self.data_dir)
        cache = os.path.join(self.data_dir, "_oracle")
        os.makedirs(cache, exist_ok=True)
        for name, got in results.items():
            self._gate_one(name, lambda: compare_frames(got, self._oracle(con, cache, name)))
        con.close()

    def _gate_one(self, name: str, check) -> None:
        try:
            ok, msg = check()
        except Exception as e:  # a broken oracle is a failed check
            ok, msg = False, f"{type(e).__name__}: {e}"
        self.gate[name] = msg
        if not ok:
            print(f"perfbench: gate mismatch on {name}: {msg}", file=sys.stderr)
            self.failures.append(name)

    def _oracle(self, con, cache: str, name: str):
        """DuckDB oracle result, kept per (tables, SQL text) because
        the tables are fixed once written."""
        import hashlib

        import pandas as pd

        sql = self.registry.REGISTRY[name].oracle
        if sql is None:
            raise ValueError(f"{name} has no oracle")
        path = os.path.join(cache, hashlib.sha1(sql.encode()).hexdigest() + ".pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        df = con.execute(sql).fetchdf()
        df.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return df

    def _check_stream(self, sink: str) -> tuple[bool, str]:
        """Sink rows == batch ``streaming_oi`` over the same files,
        restricted to the bins the final watermark has closed."""
        import pandas as pd
        from pyspark.sql import functions as F

        from dissertation_iceberg_spark.streaming.oi_stream import streaming_oi
        from tools.parity import compare_frames

        def rounded(df):
            return df.select("bin", F.round("order_imbalance", 6).alias("oi"), "n_events").toPandas()

        got = rounded(self.spark.read.parquet(sink))
        want = rounded(streaming_oi(self.spark.read.parquet(self.stream_src), STREAM_BIN_S))
        wm = pd.Timestamp(self.last_watermark).tz_convert(None)
        want = want[want["bin"] <= wm].reset_index(drop=True)
        return compare_frames(got, want)

    def n_passes(self) -> int:
        """Whole passes to measure: as many as fill ``seconds`` at the
        workload's reference pass time, at least two. A count fixed by
        the arguments, not by the clock, keeps every run's sample mix
        the same, so percentiles do not jump with a pass more or less."""
        return max(2, round(self.seconds / self.wl.pass_s_ref))

    def warm_up(self) -> None:
        """Untimed passes in seed-drawn orders after the gate: the JIT
        is still compiling the workload's hot code for several passes
        after the first, and timing that tail measures when the
        compiler threads got the cores."""
        for i in range(self.wl.warmup_passes):
            for name in self.rng.sample(self.wl.queries, len(self.wl.queries)):
                tid = f"{self.wl.name}/warmup{i}/{name}"
                self._attempt(name, lambda: self.run_query(name, tid, False, {}))

    def measure(self) -> tuple[list[float], list[float]]:
        """Whole passes; a traced run alternates traced and plain
        passes, starting traced. Every query's wall is scaled by the
        share of CPU time the hypervisor did not steal while it ran
        (``host.unstolen``), the raw wall kept beside it. Returns the
        scaled pass walls, traced and plain."""
        from perfbench import host

        traced_walls: list[float] = []
        plain_walls: list[float] = []
        for i in range(self.n_passes()):
            traced = self.trace and i % 2 == 0
            self.tracer.enabled = traced
            layer: dict = defaultdict(float)
            wall = 0.0
            for name in self.rng.sample(self.wl.queries, len(self.wl.queries)):
                tid = f"{self.wl.name}/{i}/{name}"
                gc0 = self._gc_ms() if traced else 0
                j0 = host.cpu_jiffies()
                t0 = time.perf_counter()
                with self.tracer.span("query", tid):
                    ok, _ = self._attempt(name, lambda: self.run_query(name, tid, traced, layer))
                raw = time.perf_counter() - t0
                dt = raw * host.unstolen(j0, host.cpu_jiffies())
                if traced:
                    layer["jvm.gc_s"] += (self._gc_ms() - gc0) / 1e3
                wall += dt
                if ok and not traced:
                    self.samples[name].append(dt)
                    self.raw_samples[name].append(raw)
            if traced:
                self.spark.sparkContext.setJobGroup("pb|idle", "idle")
                self.probe_layers(f"{self.wl.name}/{i}", layer)
                self.layers.append(layer)
                traced_walls.append(wall)
            else:
                plain_walls.append(wall)
        return traced_walls, plain_walls

    def _collect_garbage(self) -> None:
        """Full JVM collection, once before the measured passes, so
        their peak RSS does not carry the set-up pass's garbage."""
        self.spark.sparkContext._jvm.java.lang.System.gc()

    def _gc_ms(self) -> int:
        """Collection time of the JVM's garbage collectors so far; in
        local mode driver and executors share this one JVM, so this
        counts driver-side collections that task metrics miss."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())

    def reset_peak_rss(self) -> None:
        from pyspark import SparkContext

        from perfbench.host import reset_hwm

        reset_hwm("self")
        reset_hwm(SparkContext._gateway.proc.pid)

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        from perfbench.host import vm_hwm_mb

        self.rss_parts = {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(SparkContext._gateway.proc.pid)}
        return sum(self.rss_parts.values())

    def versions(self) -> dict:
        import duckdb
        import pyspark

        jvm = self.spark.sparkContext._jvm
        return {
            "java": jvm.java.lang.System.getProperty("java.version"),
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "python": sys.version.split()[0],
        }

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def fold_exec(layers: list[dict], run_dir: str, cpus: int) -> None:
    """Add the event log's task metrics to each traced pass's layer."""
    from perfbench.trace import fold_event_log

    # event log v2 is a directory of event files per application
    logs = [
        os.path.join(d, f)
        for d, _, files in os.walk(os.path.join(run_dir, "eventlog"))
        for f in files
        if f.startswith(("events_", "local-"))
    ]
    groups: dict = {}
    for path in logs:
        groups.update(fold_event_log(path))
    for layer in layers:
        skews = []
        for gid in layer.pop("_exec_groups", []):
            g = groups.get(gid, {})
            for k in ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                      "scan_bytes", "scan_records", "shuffle_write_bytes",
                      "shuffle_read_bytes", "shuffle_fetch_wait_s", "spill_bytes"):
                layer[f"exec.{k}"] += g.get(k, 0.0)
            if "task_skew" in g:
                skews.append(g["task_skew"])
        layer["exec.task_skew"] = max(skews, default=1.0)
        layer["exec.idle_s"] = layer["exec.s"] * cpus - layer["exec.task_run_s"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the workload's scale factor")
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.isfile(p)]
    if missing:
        print(f"perfbench: library not found next to the benchmark: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import datagen, host
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    sf = args.sf or wl.sf
    trace = bool(args.trace)
    cpus = min(4, host.nproc())
    run_dir = os.path.join(WORK, "runs", f"{wl.name}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = pin_environment(run_dir, cpus, trace)
    data_dir = datagen.ensure_tables(os.path.join(WORK, "data"), sf)
    os.chdir(run_dir)  # spark-warehouse/ and any relative output stay here

    load_start = host.loadavg()
    run = Run(wl, data_dir, run_dir, args.seed, args.seconds, trace)
    run.prepare_stream_source()
    j0, t0 = host.cpu_jiffies(), time.perf_counter()
    layer0 = run.start()
    run.tracer.enabled = False  # the warm pass is set-up, not a traced pass
    results = run.warm_pass()
    setup_raw_s = time.perf_counter() - t0
    setup_s = setup_raw_s * host.unstolen(j0, host.cpu_jiffies())
    run.check(results)
    del results
    run.warm_up()
    run._collect_garbage()
    run.reset_peak_rss()  # peak RSS of the measured passes, not of set-up
    jiff0 = host.cpu_jiffies()
    traced_walls, plain_walls = run.measure()
    jiff1 = host.cpu_jiffies()
    peak_rss = run.peak_rss_mb()
    versions = run.versions()
    run.stop()
    verdict = host.verdict(load_start, host.steal_pct(jiff0, jiff1), run.raw_samples)

    latencies = [x for v in run.samples.values() for x in v]
    if trace:
        fold_exec(run.layers, run_dir, cpus)
        names = sorted({k for layer in run.layers for k in layer if not k.startswith("_")})
        metrics = {k: statistics.median(layer[k] for layer in run.layers) for k in names}
        metrics.update(layer0)
        metrics.update(run.stream_layer)
        metrics["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(plain_walls)
        run.tracer.write(os.path.join(run_dir, "trace.json"))
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(plain_walls),
            "latency_p50_s": hd_quantile(latencies, 0.5),
            "latency_p90_s": hd_quantile(latencies, 0.9),
            "peak_rss_mb": peak_rss,
        }
    failed = len(run.failures)
    detail = {
        "workload": wl.name,
        "why": wl.why,
        "seed": args.seed,
        "trace": args.trace,
        "sf": sf,
        "data_dir": os.path.relpath(data_dir, ROOT),
        "queries": list(wl.queries),
        "stream_cuts": run.stream_cuts,
        "passes": {"traced": len(traced_walls), "plain": len(plain_walls)},
        "latency_samples": len(latencies),
        "failed_frac": failed / run.attempted,
        "failures": run.failures,
        "gate": run.gate,
        "query_median_s": {q: statistics.median(v) for q, v in run.samples.items() if v},
        "setup_raw_s": setup_raw_s,
        "query_raw_median_s": {q: statistics.median(v) for q, v in run.raw_samples.items() if v},
        "pass_walls_s": {"traced": traced_walls, "plain": plain_walls},
        "layer_moves": wl.moves,
        "self_s_per_traced_pass": {
            k: v / max(1, len(run.layers)) for k, v in run.tracer.self_times().items()
        },
        "host": verdict,
        "env": {**env, "cpus": cpus, "nproc": host.nproc(), **versions, "peak_rss_parts_mb": run.rss_parts},
    }
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump({**detail, "metrics": metrics}, f, indent=1, default=str)
    print(json.dumps(detail, default=str))
    units = _units()
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": run.attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": units.get(k, "count")}
                    for k, v in metrics.items()
                    if k in units
                },
            }
        )
    )
    return 0


def _units() -> dict[str, str]:
    """Unit of every metric BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
