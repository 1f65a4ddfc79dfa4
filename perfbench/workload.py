"""One workload run in a fresh process (started by ``run.py``).

Measures with tracing off unless ``--trace 1``; writes ``result.json`` in
``--root``. The working directory is ``--root``, so Spark's warehouse,
checkpoints, sink outputs and event logs all stay under it.

Run (from run.py): python3 workload.py --workload tem_stream --seed 1
    --seconds 10 --root DIR --trace 0 --cpus 4 --t-spawn EPOCH
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import stats  # noqa: E402
from spans import Tracer, parse_event_log, progress_listener  # noqa: E402

QUERY_MIX = [
    "tem_hourly_avg", "envelope_roundtrip", "q1_pricing_summary", "revenue_by_segment",
    "nation_revenue", "nation_market_share", "running_total_per_customer",
    "sessionize_events", "asof_latest_order", "range_join_order_events",
    "json_props_extract", "event_value_ohlc", "doc_bm25_search", "hybrid_rrf_search",
    "ivf_topk", "embedding_knn_join", "dedup_clusters",
]
#: Registry queries each layer owns, for the per-layer exec sums.
LAYER_QUERIES = {
    "joins": ["asof_latest_order", "range_join_order_events"],
    "similarity": ["ivf_topk", "embedding_knn_join", "hybrid_rrf_search"],
    "text": ["doc_bm25_search"],
    "dedup": ["dedup_clusters"],
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
COMMIT_TIMEOUT_S = 90.0


class Run:
    """State of one workload run: arguments, the tracer, the session,
    counts of operations attempted and failed, and the outputs."""

    def __init__(self, a):
        self.a = a
        self.root = a.root
        self.tracer = Tracer(f"{a.workload}-{a.seed}", enabled=bool(a.trace))
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.e2e: dict = {}
        self.layer: dict = {}
        self.info: dict = {}
        self.progress: list = []

    # -- session ----------------------------------------------------------

    def conf(self, event_log: bool) -> dict:
        c = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.root}/tmp"}
        if event_log:
            os.makedirs(os.path.join(self.root, "eventlog"), exist_ok=True)
            # Only job starts (job group -> stages) and task ends (metrics)
            # are read; leaving out the plan-bearing SQL events and
            # per-task accumulators keeps the log's cost down.
            ui = "org.apache.spark.sql.execution.ui."
            skip = [ui + e for e in ("SparkListenerSQLExecutionStart",
                                     "SparkListenerSQLExecutionEnd",
                                     "SparkListenerSQLAdaptiveExecutionUpdate",
                                     "SparkListenerSQLAdaptiveSQLMetricUpdates",
                                     "SparkListenerDriverAccumUpdates")]
            skip += ["SparkListenerStageSubmitted", "SparkListenerStageCompleted",
                     "SparkListenerTaskStart"]
            c.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": f"file://{self.root}/eventlog",
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.includeTaskMetricsAccumulators": "false",
                      "spark.eventLog.excludedPatterns": ",".join(skip)})
        return c

    def setup(self, warmup) -> None:
        """get_spark, then the workload's warm-up. setup_s counts from
        process spawn (interpreter, imports, JVM launch) until the warm-up
        returns.

        Traced, three more cycles follow, each stopping the session and
        building it again: traced, untraced, traced (the last session is
        the one measured). They do the same work, the traced ones with the
        event log and spans, and their mean position is the untraced
        one's, so a warm-up trend cancels: ``trace.overhead_ratio`` is
        their mean warm-up over the untraced one, minus one."""
        from amazonmsk_emr_tem_data_spark.session import get_spark

        warm = []
        for k in range(4 if self.a.trace else 1):
            traced = bool(self.a.trace) and k % 2 == 1
            self.tracer.enabled = traced
            if self.spark is not None:
                self.spark.stop()
            with self.tracer.span("session.get_spark"):
                self.spark = get_spark("perfbench", cpus=self.a.cpus,
                                       extra_conf=self.conf(traced))
            t1 = time.time()
            with self.tracer.span("session.warmup"):
                warmup(self.spark, k)
            warm.append(time.time() - t1)
            if k == 0:
                self.e2e["setup_s"] = time.time() - self.a.t_spawn
                self.layer["session.get_spark_s"] = t1 - self.a.t_spawn
                self.layer["session.warmup_s"] = warm[0]
        if self.a.trace:
            self.layer["trace.overhead_ratio"] = (warm[1] + warm[3]) / 2 / warm[2] - 1.0
        self.info["t_setup_done"] = time.time()
        jvm = self.spark.sparkContext._jvm.java.lang.System
        self.info["java_version"] = jvm.getProperty("java.version")
        self.info["spark_version"] = self.spark.version

    def peak_rss(self) -> None:
        """VmHWM of this (driver) process plus its JVM child, in MB. The
        Python workers the JVM forks are not counted."""
        def status(pid):
            with open(f"/proc/{pid}/status") as f:
                return dict(line.split(":", 1) for line in f if ":" in line)

        me = os.getpid()
        kids = []
        for task in glob.glob(f"/proc/{me}/task/*/children"):
            with open(task) as f:
                kids += [int(c) for c in f.read().split()]
        jvm = [k for k in kids if status(k)["Name"].strip() == "java"]
        if len(jvm) != 1:
            raise RuntimeError(f"expected one JVM child, found {jvm}")
        self.layer["session.peak_rss_mb"] = sum(
            int(status(p)["VmHWM"].split()[0]) / 1024.0 for p in [me] + jvm)

    def fail(self, msg: str) -> None:
        self.failures.append(msg)

    # -- streams ----------------------------------------------------------

    def stream(self, query, plan: dict, ckpt: str, handled: list) -> dict:
        """Drive one stream: wait for its first batch (the pre-placed
        files), give the generator its go time, wait until every landed
        file is committed, stop. Returns the generator's landing report."""
        wait_for(query, lambda: handled, 120, "in its first batch")
        go = time.time() + 0.05
        with open(os.path.join(self.root, "go"), "w") as f:
            f.write(repr(go))
        self.info["go"] = go
        last_due = go + max(f["due"] for f in plan["files"] if f["due"] is not None)
        landed_path = os.path.join(self.root, "landed.json")
        wait_for(query, lambda: os.path.exists(landed_path), last_due - time.time() + 30,
                 "waiting for the generator")
        n_files = sum(1 for f in plan["files"] if f["phase"] != "setup")

        def all_committed():
            fb = source_batches(ckpt)
            done = {b for b, *_ in handled}
            return len(fb) == n_files and set(fb.values()) <= done

        self.info["t_landed"] = time.time()
        wait_for(query, all_committed, COMMIT_TIMEOUT_S, "draining the landed files")
        self.info["t_drained"] = time.time()
        self.peak_rss()
        query.stop()
        with open(landed_path) as f:
            return json.load(f)

    def stream_metrics(self, plan: dict, report: dict, ckpt: str, handled: list,
                       p: dict) -> None:
        go = self.info["go"]
        rows = {f["name"]: f["rows"] for f in plan["files"]}
        phase = {f["name"]: f["phase"] for f in plan["files"]}
        due = {f["name"]: go + f["due"] for f in plan["files"] if f["due"] is not None}
        fb = source_batches(ckpt)
        ends = {b: e for b, _, e in handled}
        self.info["batches"] = [(b, round((s - go) * 1000), round((e - s) * 1000)) for b, s, e in handled]
        ids = [b for b, *_ in handled]
        if len(ids) != len(set(ids)):
            self.fail(f"{len(ids) - len(set(ids))} micro-batches retried")
        self.attempted += len(set(ids))
        # One sample per landed file: its rows arrive together and are
        # written by the same batch, so they are one arrival, not many.
        lat = [(ends[fb[n]] - due[n]) * 1000.0 for n in due if phase[n] == "nominal"]
        self.e2e["latency_p50_ms"] = stats.percentile(lat, 50)
        q, v, n = stats.tail(lat)
        self.e2e["latency_tail_ms"] = v
        self.info["latency_tail"] = {"percentile": q, "samples": n}
        cap = p["max_files_per_trigger"]
        batch_rows: dict[int, int] = {}
        batch_files: dict[int, int] = {}
        batch_phases: dict[int, set] = {}
        for name, b in fb.items():
            batch_rows[b] = batch_rows.get(b, 0) + rows[name]
            batch_files[b] = batch_files.get(b, 0) + 1
            batch_phases.setdefault(b, set()).add(phase[name])
        landed = [(t, rows[n]) for n, _, t in report["landed"]]
        committed = [(ends[b], r) for b, r in batch_rows.items()]
        series = stats.backlog_series(landed, committed)
        rungs = []
        for ph, rate_key in (("nominal", "nominal_rows_per_s"), ("overload", "overload_rows_per_s")):
            ds = [due[n] for n in due if phase[n] == ph]
            grows, sl = stats.backlog_grows(series, min(ds), max(ds), p[rate_key])
            drain = None
            if ph == "overload":
                # Burst batches at the file cap: each started on a backlog
                # as soon as the batch before it ended.
                order = sorted(ends, key=ends.get)
                capped = [(ends[prev], ends[b], batch_rows[b]) for prev, b in zip(order, order[1:])
                          if "overload" in batch_phases[b] and batch_files[b] == cap]
                drain = stats.drain_rate(capped)
                self.info["capped_batches"] = len(capped)
            rungs.append({"phase": ph, "offered": p[rate_key], "grows": grows,
                          "slope": sl, "drain": drain})
            self.layer[f"sources.backlog_slope_per_s.{ph}"] = sl
        self.info["rungs"] = rungs
        self.e2e["throughput_per_s"] = stats.sustained_rate(rungs)
        if not rungs[-1]["grows"]:
            self.info["warning"] = "the overload rung did not saturate the pipeline"
        self.layer["sources.backlog_rows_max"] = max(y for _, y in series)
        self.layer["gen.late_ms_max"] = report["late_ms_max"]
        self.layer["gen.rows_offered"] = report["rows_offered"]
        self.layer["gen.files_landed"] = report["files_landed"]
        self.streaming_layers(handled)

    def streaming_layers(self, handled: list) -> None:
        prog = [p for p in self.progress if p.get("numInputRows", 0) > 0]
        if not self.a.trace or not prog:
            return  # run.py counts the metrics left unmeasured as failures
        dur = lambda k: [p["durationMs"].get(k, 0) for p in prog]  # noqa: E731
        trig = dur("triggerExecution")
        q, v, _ = stats.tail(trig)
        span = max(e for _, _, e in handled) - min(s for _, s, _ in handled)
        self.layer.update({
            "streaming.batches": len(prog),
            "streaming.rows_per_batch_p50": stats.percentile([p["numInputRows"] for p in prog], 50),
            "streaming.trigger_ms_p50": stats.percentile(trig, 50),
            "streaming.trigger_ms_tail": v,
            "streaming.query_planning_ms_p50": stats.percentile(dur("queryPlanning"), 50),
            "streaming.wal_commit_ms_p50": stats.percentile(dur("walCommit"), 50),
            "streaming.commit_offsets_ms_p50": stats.percentile(dur("commitOffsets"), 50),
            "streaming.add_batch_ms_p50": stats.percentile(dur("addBatch"), 50),
            "streaming.idle_share": max(0.0, 1.0 - sum(trig) / 1000.0 / span) if span > 0 else 0.0,
            "sources.latest_offset_ms_p50": stats.percentile(dur("latestOffset"), 50),
            "sources.get_batch_ms_p50": stats.percentile(dur("getBatch"), 50),
        })
        self.info["streaming_trigger_tail_percentile"] = q

    def start_listener(self) -> None:
        if self.a.trace:
            self.spark.streams.addListener(progress_listener(self.progress))

    # -- workloads --------------------------------------------------------

    def tem_stream(self) -> None:
        from amazonmsk_emr_tem_data_spark.streaming.tem_stream import decode_tem_stream

        p = inputs.traffic()["tem_stream"]
        plan = load_json(self.root, "plan.json")
        landing = inputs.landing_dir(self.root)
        out_pq, out_csv = (os.path.join(self.root, "out", d) for d in ("parquet", "csv"))
        ckpt = os.path.join(self.root, "ckpt")
        t = self.tracer

        def warmup(spark, k):
            env = spark.read.parquet(os.path.join(self.root, "staging", "setup.parquet"))
            w = os.path.join(self.root, "warm", str(k))
            write_both(t, decode_tem_stream(env), f"{w}/parquet", f"{w}/csv")

        self.setup(warmup)
        self.start_listener()
        handled: list = []

        def handler(batch_df, batch_id):
            t0 = time.time()
            with t.span("streaming.foreachBatch", batch=batch_id):
                write_both(t, batch_df, out_pq, out_csv)
            handled.append((batch_id, t0, time.time()))

        env = (self.spark.readStream.schema("key STRING, value STRING")
               .option("maxFilesPerTrigger", p["max_files_per_trigger"]).parquet(landing))
        query = (decode_tem_stream(env).writeStream.foreachBatch(handler)
                 .option("checkpointLocation", ckpt).queryName("tem_stream").start())
        report = self.stream(query, plan, ckpt, handled)
        self.stream_metrics(plan, report, ckpt, handled, p)
        if self.a.trace:
            self.codec_rate(landing, plan)
            after = self.info["t_setup_done"]
            self.layer["sinks.parquet_write_ms_p50"] = span_p50_ms(t, "sinks.parquet_sink", after)
            self.layer["sinks.csv_write_ms_p50"] = span_p50_ms(t, "sinks.csv_sink", after)
            files = [f for d in (out_pq, out_csv) for f in glob.glob(f"{d}/part-*")]
            self.layer["sinks.files_written"] = len(files)
            self.layer["sinks.bytes_written"] = sum(os.path.getsize(f) for f in files)
        self.stop_spark()
        self.info["t_spark_stopped"] = time.time()
        expected = os.path.join(self.root, "expected.parquet")
        for fmt, d in (("parquet", out_pq), ("csv", out_csv)):
            self.attempted += 1
            fails, malformed = checks.tem_sink_check(expected, d, fmt, plan["malformed"])
            for msg in fails:
                self.fail(msg)
            if self.a.trace and fmt == "parquet":
                self.layer["codec.malformed_rows"] = malformed

    def codec_rate(self, landing: str, plan: dict) -> None:
        """Decode + Tem(Avg) of the persisted burst envelopes, materialised
        alone (noop sink)."""
        from amazonmsk_emr_tem_data_spark.streaming.tem_stream import decode_tem_stream

        names = [f["name"] for f in plan["files"] if f["phase"] == "overload"]
        env = self.spark.read.parquet(*[os.path.join(landing, n) for n in names]).persist()
        n = env.count()
        with self.tracer.span("codec.decode") as sp:
            decode_tem_stream(env).write.format("noop").mode("overwrite").save()
        env.unpersist()
        self.layer["codec.decode_rows_per_s"] = n / (sp["end"] - sp["start"])

    def query_mix(self) -> None:
        from amazonmsk_emr_tem_data_spark.queries import REGISTRY
        from amazonmsk_emr_tem_data_spark.sources.files import load_table

        verify = checks.load_verify()
        sf = os.path.join(self.root, "sf")
        passes = inputs.traffic()["query_mix"]["passes"]
        t = self.tracer

        rng = random.Random(self.a.seed)
        got = {}

        def warmup(spark, k):
            """Load the tables, then one pass over the mix. The first
            cycle's pass collects and normalises the results the oracle
            check reads. The traced runs' later cycles, which only time
            the tracing overhead, run every other query of the mix to the
            noop sink, as the timed passes do, so a traced run stays well
            inside its deadline."""
            sc = spark.sparkContext
            sc.setJobGroup("warmup", "warmup")
            t0 = time.time()
            for name in TABLES:
                with t.span("sources.load_table", table=name):
                    load_table(spark, sf, name)
            self.layer["sources.load_table_ms"] = (time.time() - t0) * 1000.0
            mix = QUERY_MIX if k == 0 else QUERY_MIX[::2]
            for name in rng.sample(mix, len(mix)):
                try:
                    df = REGISTRY[name][0](spark, sf)
                    if k == 0:
                        got[name] = verify.spark_counter(df)
                    else:
                        df.write.format("noop").mode("overwrite").save()
                except Exception:  # noqa: BLE001 - a query that raises is a failed operation
                    self.fail(f"{name}: raised in the warm-up pass\n"
                              f"{traceback.format_exc(limit=3)}")

        self.setup(warmup)
        sc = self.spark.sparkContext
        self.info["t_check_pass_done"] = time.time()
        samples, pass_s = [], []
        build: dict[str, list] = {n: [] for n in QUERY_MIX}
        execs: dict[str, list] = {n: [] for n in QUERY_MIX}
        for k in range(passes):
            p0 = time.time()
            for name in rng.sample(QUERY_MIX, len(QUERY_MIX)):
                sc.setJobGroup(name, name)
                self.attempted += 1
                q0 = time.time()
                try:
                    with t.span("queries.build", query=name):
                        df = REGISTRY[name][0](self.spark, sf)
                    q1 = time.time()
                    with t.span("queries.exec", query=name):
                        df.write.format("noop").mode("overwrite").save()
                except Exception:  # noqa: BLE001 - a query that raises is a failed operation
                    self.fail(f"{name}: raised\n{traceback.format_exc(limit=3)}")
                    continue
                q2 = time.time()
                samples.append((q2 - q0) * 1000.0)
                build[name].append((q1 - q0) * 1000.0)
                execs[name].append(q2 - q1)
            pass_s.append(time.time() - p0)
        self.info["t_timed_done"] = time.time()
        self.peak_rss()
        self.stop_spark()
        self.info["t_spark_stopped"] = time.time()
        self.e2e["latency_p50_ms"] = stats.percentile(samples, 50)
        q, v, n = stats.tail(samples)
        self.e2e["latency_tail_ms"] = v
        self.info["latency_tail"] = {"percentile": q, "samples": n}
        self.e2e["throughput_per_s"] = len(samples) / sum(pass_s)
        self.info["query_mix_pass_s"] = stats.median(pass_s)
        self.info["passes"] = passes
        if self.a.trace:
            for name in QUERY_MIX:
                if execs[name]:
                    self.layer[f"queries.{name}.build_ms"] = stats.median(build[name])
                    self.layer[f"queries.{name}.exec_s"] = stats.median(execs[name])
            # A layer's time is its queries' build and exec spans: some
            # operators (dedup) materialise checkpoints while building.
            for layer, names in LAYER_QUERIES.items():
                if all(execs[n] for n in names):
                    self.layer[f"{layer}.exec_s"] = sum(
                        self.layer[f"queries.{n}.exec_s"]
                        + self.layer[f"queries.{n}.build_ms"] / 1000.0 for n in names)
        import duckdb

        con = duckdb.connect()
        try:
            for tb in TABLES:
                con.execute(f"CREATE VIEW {tb} AS SELECT * FROM read_parquet('{sf}/{tb}.parquet')")
            for name in QUERY_MIX:
                self.attempted += 1
                if name not in got:
                    continue
                want = verify.duck_counter(con, REGISTRY[name][1])
                for msg in checks.query_check(name, got[name], want):
                    self.fail(msg)
        finally:
            con.close()

    def single_core(self) -> None:
        """Drain every landed tem file with get_spark(cpus=1) through the
        same decode + both sinks; rows per second over the batches after
        the first."""
        from amazonmsk_emr_tem_data_spark.session import get_spark
        from amazonmsk_emr_tem_data_spark.streaming.tem_stream import decode_tem_stream

        cap = inputs.traffic()["tem_stream"]["max_files_per_trigger"]
        landing = inputs.landing_dir(self.a.single_core)
        out = os.path.join(self.root, "single_core")
        self.spark = get_spark("perfbench-1core", cpus=1, extra_conf=self.conf(False))
        handled: list = []

        def handler(batch_df, batch_id):
            t0 = time.time()
            write_both(self.tracer, batch_df, f"{out}/parquet", f"{out}/csv")
            handled.append((batch_id, t0, time.time()))

        env = (self.spark.readStream.schema("key STRING, value STRING")
               .option("maxFilesPerTrigger", cap).parquet(landing))
        q = (decode_tem_stream(env).writeStream.foreachBatch(handler)
             .option("checkpointLocation", f"{out}/ckpt").trigger(availableNow=True).start())
        q.awaitTermination(150)
        self.attempted += 1
        if q.isActive:
            q.stop()
            self.fail("single-core drain did not finish")
        rows = {f["name"]: f["rows"] for f in load_json(self.a.single_core, "plan.json")["files"]}
        files: dict[int, list] = {}
        for name, b in source_batches(f"{out}/ckpt").items():
            files.setdefault(b, []).append(name)
        ends = sorted((e, b) for b, _, e in handled)
        # Every batch at the cap after the first starts on the backlog.
        self.layer["streaming.single_core_rows_per_s"] = stats.drain_rate(
            [(prev, end, sum(rows[n] for n in files[b]))
             for (prev, _), (end, b) in zip(ends, ends[1:]) if len(files[b]) == cap])
        self.stop_spark()

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self.a.trace:
            self.spark_layers()

    def spark_layers(self) -> None:
        ev = parse_event_log(os.path.join(self.root, "eventlog"))
        tot = ev["total"]
        if not tot.get("tasks"):
            self.fail("the event log holds no finished task")
            return
        self.layer.update({
            "spark.task_run_s": tot.get("run_ms", 0) / 1000.0,
            "spark.task_count": tot.get("tasks", 0),
            "spark.gc_s": tot.get("gc_ms", 0) / 1000.0,
            "spark.shuffle_write_bytes": tot.get("shuffle_write", 0),
            "spark.shuffle_read_bytes": tot.get("shuffle_read", 0),
            "spark.spill_bytes": tot.get("spill", 0),
            "spark.stage_skew_max": tot["stage_skew_max"],
        })
        timed = [g for name, g in ev["groups"].items() if name in QUERY_MIX]
        passes = self.info.get("passes", 1)
        self.layer["sources.scan_rows"] = sum(g.get("in_rows", 0) for g in timed) / passes
        self.layer["sources.scan_bytes"] = sum(g.get("in_bytes", 0) for g in timed) / passes
        self.info["spark_by_group"] = {
            k: {m: g.get(m, 0) for m in ("tasks", "run_ms", "gc_ms", "shuffle_read",
                                         "shuffle_write", "spill")}
            for k, g in ev["groups"].items()}


def write_both(tracer: Tracer, df, pq_dir: str, csv_dir: str) -> None:
    """Persist ``df`` once and write it to the parquet and the CSV sink."""
    from amazonmsk_emr_tem_data_spark import sinks

    df = df.persist()
    with tracer.span("sinks.parquet_sink"):
        sinks.parquet_sink(df, pq_dir, mode="append")
    with tracer.span("sinks.csv_sink"):
        sinks.csv_sink(df, csv_dir, mode="append")
    df.unpersist()


def wait_for(query, cond, timeout: float, what: str) -> None:
    """Poll ``cond`` until true; raise if the stream dies or time runs out."""
    end = time.time() + timeout
    while not cond():
        if query.exception() is not None or not query.isActive:
            raise RuntimeError(f"stream died {what}: {query.exception()}")
        if time.time() > end:
            raise TimeoutError(f"timed out {what}")
        time.sleep(0.02)


def source_batches(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log
    in the checkpoint (``sources/0/<batch>[.compact]``)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        base = os.path.basename(path)
        if base.startswith(".") or base.endswith(".tmp"):
            continue
        try:
            with open(path) as f:
                lines = f.read().splitlines()[1:]
        except FileNotFoundError:
            continue  # compacted away between the listing and the read
        for line in lines:
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(e["path"])] = e["batchId"]
    return out


def span_p50_ms(tracer: Tracer, name: str, after: float) -> float:
    """Median duration of the ``name`` spans that started after ``after``."""
    return stats.percentile([(s["end"] - s["start"]) * 1000.0 for s in tracer.named(name)
                             if s["start"] >= after], 50)


def load_json(root: str, name: str):
    with open(os.path.join(root, name)) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--t-spawn", type=float, required=True)
    ap.add_argument("--single-core", metavar="TRACED_ROOT",
                    help="drain the files a traced tem_stream run landed, on one core")
    a = ap.parse_args()
    sys.path.insert(0, REPO)
    run = Run(a)
    try:
        if a.single_core:
            run.single_core()
        else:
            getattr(run, a.workload)()
    except Exception:  # noqa: BLE001 - the run's boundary: report, then exit non-zero
        run.fail(f"run aborted\n{traceback.format_exc()}")
        run.attempted += 1
        status = 1
    else:
        status = 0
    finally:
        if run.spark is not None:
            run.spark.stop()
    if a.trace:
        run.info["self_time_s"] = run.tracer.self_times()
    run.info["t_exit"] = time.time()
    run.info["t_spawn"] = a.t_spawn
    with open(os.path.join(a.root, "result.json"), "w") as f:
        json.dump({"e2e": run.e2e, "layer": run.layer, "info": run.info,
                   "attempted": run.attempted, "failures": run.failures}, f)
    return status


if __name__ == "__main__":
    sys.exit(main())
