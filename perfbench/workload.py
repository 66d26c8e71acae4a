"""One benchmark run, in a fresh process: set up, measure, check.

Started by ``perfbench/run.py`` with the checkout root on
``PYTHONPATH``; writes its result as JSON to ``--out``. Workloads:

* ``batch`` — relational registry entries and one entry per operator
  layer, each built and executed once, its output collected to the
  driver, in a seed-shuffled order over seeded tables at sf0.01. Then,
  untimed, every entry's output is compared with its DuckDB oracle.
* ``ingest`` — open-loop E5 corpus ingest (continuous trigger): a
  generator process lands small files on a fixed schedule, then a
  backlog landed as one file is drained. Then, untimed, the ingest invariants are
  checked on the corpus and audit tables.

``--trace 1`` records spans and counts at the layer boundaries and
reports per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import datetime as dt
import importlib.util
import json
import os
import random
import subprocess
import sys
import time
import urllib.request
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import stats  # noqa: E402
from spans import Tracer, count_py4j_calls, trace_module  # noqa: E402

SF = 0.01
#: The batch workload's registry entries: relational ones (per-stage
#: overhead, build-time collects) ...
RELATIONAL = [
    "flagship_expand_events", "q1_pricing_summary", "q3_q5_join_battery",
    "q4_q21_exists_battery", "q6_q12_q17_q18_battery",
    "window_functions_battery", "t_session_window", "j1_dim_join_agg",
    "a2_group_checksum", "o1_topk_orders",
]
#: ... and one per operator layer the ingest workload does not reach:
#: similarity; graph with dedup; retrieval with functions.text;
#: multimodal with the Python workers
OPERATORS = [
    "sim_ann_battery", "graph_cc_pagerank", "tokens_retrieval_battery",
    "multimodal_decode",
]
WARM_TABLES = {
    "batch": ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"),
    "ingest": ("documents",),
}
#: ingest schedule: LANDINGS landings of DOCS_PER_LANDING docs, evenly
#: spaced over the run's --seconds, then a backlog of BACKLOG_DOCS docs
#: landed as one file.
LANDINGS = 100
DOCS_PER_LANDING = 2
BACKLOG_DOCS = 800
BOOTSTRAP_DOCS = 50
#: a landing later than this after it was due counts as failed: four
#: micro-batches of the slowest seen on 4 shared cores (about 15 s),
#: where a stream that keeps up commits a landing within two
LATENCY_LIMIT_S = 60.0
#: the run fails when the generator starts a landing this late
GENERATOR_LAG_LIMIT_S = 0.5
OPERATOR_LAYERS = ("similarity", "dedup", "graph", "retrieval", "multimodal")
#: SQL metrics of the Python-worker plan nodes (REST /sql)
WORKER_METRICS = {
    "time to run Python workers": "functions.python_worker_s",
    "time to start Python workers": "functions.python_worker_start_s",
}
#: per-layer metrics of a phase only the batch workload (registry
#: calls) or only the ingest workload (stream, landings, sinks) has;
#: the other workload reports them as 0
BATCH_ONLY = ("queries.build_s", "queries.build_jobs",
              "queries.build_driver_cpu_s", "queries.entry_p50_s",
              "queries.relational_s", "queries.operators_s", "spark.exec_s")
INGEST_ONLY = (
    "streaming.bootstrap_s", "streaming.batches", "streaming.trigger_s",
    "streaming.ingest_batch_s", "streaming.overhead_s",
    "streaming.rows_per_batch", "streaming.backlog_files_max",
    "sinks.bytes_written", "storage_bytes_per_input_byte",
    "ingest.docs_per_s", "load.generator_lag_s", "load.landings",
    "load.latency_p50_s", "load.latency_p90_s", "load.wait_p50_s",
)


def rest_base(spark) -> str:
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    return f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"


def rest(base: str, path: str):
    with urllib.request.urlopen(f"{base}/{path}", timeout=30) as r:
        return json.load(r)


def epoch(ts: str) -> float:
    """REST/progress timestamp ('...T04:30:01.123GMT' or '...Z')."""
    ts = ts.replace("GMT", "+00:00").replace("Z", "+00:00")
    return dt.datetime.fromisoformat(ts).timestamp()


def settled_jobs(base: str) -> list[dict]:
    """All jobs, once the status store has caught up with the
    scheduler (no job running, two equal reads in a row)."""
    prev = None
    for _ in range(100):
        jobs = rest(base, "jobs")
        key = [(j["jobId"], j["status"]) for j in jobs]
        if key == prev and all(j["status"] != "RUNNING" for j in jobs):
            return jobs
        prev = key
        time.sleep(0.1)
    return jobs


def rss_mb() -> tuple[float, float]:
    """Peak RSS (VmHWM) of this driver process and of the Spark JVM."""
    def hwm(pid) -> int:
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        except OSError:
            pass
        return 0

    me, jvm = os.getpid(), 0
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            stat = (p / "stat").read_text()
            comm = (p / "comm").read_text().strip()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        if comm == "java" and ppid == me:
            jvm += hwm(p.name)
    return hwm("self") / 1024.0, jvm / 1024.0


class Run:
    def __init__(self, args):
        self.args = args
        self.work = Path(args.work)
        self.sf_dir = str(self.work / "sf")
        self.tracer = Tracer(f"{args.workload}-{args.seed}") if args.trace else None
        self.metrics: dict[str, tuple[float, str]] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spark = None
        self.root = None  # span of the measured phase, when tracing

    # ------------------------------------------------------------ layers
    def span(self, layer: str, name: str = ""):
        return nullcontext() if self.tracer is None else self.tracer.span(layer, name)

    def install_tracing(self) -> None:
        import vbb_data_pipeline_spark.operators as ops
        from vbb_data_pipeline_spark import functions
        from vbb_data_pipeline_spark.queries import all_queries
        from vbb_data_pipeline_spark.streaming import ingest

        all_queries()  # import every importer before rebinding
        for layer in OPERATOR_LAYERS:
            mod = importlib.import_module(f"{ops.__name__}.{layer}")
            trace_module(self.tracer, mod, f"operators.{layer}")
        for name in ("text", "hashing", "udfs"):
            mod = importlib.import_module(f"{functions.__name__}.{name}")
            trace_module(self.tracer, mod, "functions")
        trace_module(self.tracer, ingest, "streaming")
        count_py4j_calls(self.tracer)

    # ------------------------------------------------------------- setup
    def setup(self) -> None:
        """What an invocation pays before its first query: the session
        factory in this fresh process (JVM launch included), then every
        input table of the workload scanned once through load_table."""
        from vbb_data_pipeline_spark.queries import load_table
        from vbb_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        with self.span("session", "get_spark"):
            self.spark = get_spark("perfbench", extra_conf={
                # UI on for the REST API, as bench.py does
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "20000",
                "spark.ui.retainedStages": "20000",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            })
        t1 = time.perf_counter()
        with self.span("sources", "warm"):
            for t in WARM_TABLES[self.args.workload]:
                load_table(self.spark, self.sf_dir, t).count()
        t2 = time.perf_counter()
        self.put("setup_s", t2 - t0, "s")
        self.put("session.start_s", t1 - t0, "s")
        self.put("sources.warm_s", t2 - t1, "s")
        self.base = rest_base(self.spark)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    # ------------------------------------------------- spark accounting
    def stages(self, jobs: list[dict]) -> list[dict]:
        """The completed stages of ``jobs`` (REST ``/stages``)."""
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        return [s for s in rest(self.base, "stages?status=COMPLETE")
                if s["stageId"] in stage_ids]

    def executor_cpu(self, jobs: list[dict]) -> float:
        return sum(s["executorCpuTime"] for s in self.stages(jobs)) / 1e9

    def spark_metrics(self, jobs: list[dict], wall: float) -> float:
        """Job/stage/task counts and executor metrics of ``jobs``;
        returns executor CPU seconds."""
        stages = self.stages(jobs)
        cores = self.spark.sparkContext.defaultParallelism
        run_s = sum(s["executorRunTime"] for s in stages) / 1e3
        cpu_s = sum(s["executorCpuTime"] for s in stages) / 1e9
        mb = 1 << 20
        self.put("spark.jobs", len(jobs), "count")
        self.put("spark.stages", len(stages), "count")
        self.put("spark.tasks", sum(s["numCompleteTasks"] for s in stages), "count")
        self.put("spark.executor_run_s", run_s, "s")
        self.put("spark.executor_cpu_s", cpu_s, "s")
        self.put("spark.gc_s", sum(s["jvmGcTime"] for s in stages) / 1e3, "s")
        self.put("spark.shuffle_write_mb",
                 sum(s["shuffleWriteBytes"] for s in stages) / mb, "MB")
        self.put("spark.shuffle_read_mb",
                 sum(s["shuffleReadBytes"] for s in stages) / mb, "MB")
        self.put("spark.spill_mb", sum(
            s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
        ) / mb, "MB")
        self.put("spark.idle_core_frac", max(0.0, 1.0 - run_s / (wall * cores)), "ratio")
        self.put("sources.scan_mb", sum(s["inputBytes"] for s in stages) / mb, "MB")
        self.put("sources.scan_rows", sum(s["inputRecords"] for s in stages), "count")
        skew = 1.0
        if stages:
            heavy = max(stages, key=lambda s: s["executorRunTime"])
            q = rest(self.base, f"stages/{heavy['stageId']}/{heavy['attemptId']}"
                                "/taskSummary?quantiles=0.5,1.0")
            med, mx = q["executorRunTime"]
            skew = mx / max(med, 1.0)
        self.put("spark.heavy_task_skew", skew, "ratio")
        self.worker_metrics(jobs)
        if self.tracer is not None:
            self.job_spans(jobs, {s["stageId"]: s for s in stages})
        return cpu_s

    def worker_metrics(self, jobs: list[dict]) -> None:
        """Python-worker start and run time, summed over the plan nodes
        of the SQL executions that ran ``jobs`` (REST /sql)."""
        ids = {j["jobId"] for j in jobs}
        totals = dict.fromkeys(WORKER_METRICS.values(), 0.0)
        for e in rest(self.base, "sql?details=true&planDescription=false&length=1000000"):
            if not ids & {*e.get("successJobIds", []), *e.get("failedJobIds", [])}:
                continue
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] in WORKER_METRICS:
                        totals[WORKER_METRICS[m["name"]]] += stats.duration_s(m["value"])
        for name, value in totals.items():
            self.put(name, value, "s")

    def memory(self) -> None:
        """Peak RSS of the driver Python process and of the JVM, and the
        JVM's peak used heap as its executor metrics sampled it."""
        py_mb, jvm_mb = rss_mb()
        self.put("memory.python_rss_mb", py_mb, "MB")
        self.put("memory.jvm_rss_mb", jvm_mb, "MB")
        self.put("memory.peak_rss_mb", py_mb + jvm_mb, "MB")
        (driver,) = [e for e in rest(self.base, "executors") if e["id"] == "driver"]
        heap = driver.get("peakMemoryMetrics", {}).get("JVMHeapMemory")
        if heap is None:
            raise RuntimeError("no JVM heap sample in the executor metrics")
        self.put("memory.jvm_heap_peak_mb", heap / (1 << 20), "MB")

    def job_spans(self, jobs: list[dict], stages: dict[int, dict]) -> None:
        """Spark jobs and their stages as spans, each job under the
        deepest traced span that was open when it was submitted."""
        spans = [s for s in self.tracer.spans if s["layer"] != "spark.stage"]
        parent_of = {s["id"]: s["parent"] for s in spans}

        def depth(i: int) -> int:
            d = 0
            while parent_of.get(i) is not None:
                i, d = parent_of[i], d + 1
            return d

        for j in jobs:
            if "submissionTime" not in j or "completionTime" not in j:
                continue
            start, end = epoch(j["submissionTime"]), epoch(j["completionTime"])
            holders = [s for s in spans if s["start"] <= start < s["end"]]
            parent = max(holders, key=lambda s: depth(s["id"]))["id"] if holders else None
            js = self.tracer.add("spark.job", f"job {j['jobId']}", start, end, parent)
            for sid in j["stageIds"]:
                st = stages.get(sid)
                if st and "submissionTime" in st and "completionTime" in st:
                    self.tracer.add("spark.stage", f"stage {sid}",
                                    epoch(st["submissionTime"]),
                                    epoch(st["completionTime"]), js["id"])

    # ------------------------------------------------------------- batch
    def batch(self) -> None:
        """One cold pass in the fresh JVM: every entry built by its
        registry call (counting the jobs the build starts) and its
        first execution collected to the driver, in a seed-shuffled
        order. Then, untimed, the collected outputs are checked."""
        from vbb_data_pipeline_spark.queries import all_queries

        registry = all_queries()
        order = RELATIONAL + OPERATORS
        random.Random(self.args.seed).shuffle(order)
        sc = self.spark.sparkContext
        results, latencies = {}, {}
        build_s = build_cpu_s = exec_s = 0.0
        t_pass = time.perf_counter()
        with self.span("run", "pass") as self.root:
            for name in order:
                sc.setJobGroup(f"build:{name}", name)
                t0, c0 = time.perf_counter(), time.process_time()
                with self.span("queries", name):
                    df = registry[name].fn(self.spark, self.sf_dir)
                t1, c1 = time.perf_counter(), time.process_time()
                sc.setJobGroup(f"exec:{name}", name)
                with self.span("spark.exec", name):
                    try:
                        results[name] = df.toPandas()
                    except Exception as e:  # a failed entry, counted by the check
                        results[name] = e
                t2 = time.perf_counter()
                log(f"{name}: build {t1 - t0:.2f}s, first execution {t2 - t1:.2f}s")
                latencies[name] = t2 - t0
                build_s += t1 - t0
                build_cpu_s += c1 - c0
                exec_s += t2 - t1
        wall = time.perf_counter() - t_pass
        log("timed pass done")
        sc.setJobGroup("perfbench", "checks")
        jobs = [j for j in settled_jobs(self.base)
                if j.get("jobGroup", "").startswith(("build:", "exec:"))]
        self.put("cold_total_s", wall, "s")
        self.put("queries.entry_p50_s", stats.median(latencies.values()), "s")
        self.put("queries.relational_s", sum(latencies[n] for n in RELATIONAL), "s")
        self.put("queries.operators_s", sum(latencies[n] for n in OPERATORS), "s")
        self.put("queries.build_s", build_s, "s")
        self.put("queries.build_driver_cpu_s", build_cpu_s, "s")
        self.put("queries.build_jobs",
                 sum(j["jobGroup"].startswith("build:") for j in jobs), "count")
        self.put("spark.exec_s", exec_s, "s")
        self.put("executor_cpu_s", self.spark_metrics(jobs, wall), "s")
        self.memory()
        self.check_batch(registry, results)
        log("oracle check done")

    def check_batch(self, registry, results) -> None:
        """Compare every entry's output with its DuckDB oracle, the way
        tools/check_correctness.py does (its canon/normalize_dtype)."""
        import duckdb

        spec = importlib.util.spec_from_file_location(
            "check_correctness", ROOT / "tools" / "check_correctness.py")
        cc = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(cc)
        con = duckdb.connect()
        for t in cc.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{t}.parquet')")
        for name, got in results.items():
            self.attempted += 1
            oracle = registry[name].oracle
            if isinstance(got, Exception):
                problem = f"{type(got).__name__}: {got}"[:300]
            elif oracle is None:
                problem = "no oracle"
            else:
                problem = compare(cc, got, con.sql(oracle).df())
            if problem:
                self.failed += 1
                self.problems.append(f"{name}: {problem}")

    # ------------------------------------------------------------ ingest
    def ingest(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        from vbb_data_pipeline_spark.streaming import ingest as ingest_mod

        import numpy as np
        import pyarrow.parquet as pq

        seconds = self.args.seconds
        land = self.work / "landing"
        land.mkdir()
        paths = {k: str(self.work / k) for k in ("corpus", "index", "audit", "ckpt")}
        progress: dict[int, dict] = {}

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                if p.get("numInputRows", 0) > 0:
                    progress[p["batchId"]] = p

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        listener = Progress()
        self.spark.streams.addListener(listener)

        rng = np.random.default_rng(self.args.seed)
        boot = datagen.documents(rng, BOOTSTRAP_DOCS).select(["doc_id", "text"])
        pq.write_table(boot, land / "bootstrap.parquet")
        landed_docs = BOOTSTRAP_DOCS

        def committed_rows() -> int:
            return sum(p["numInputRows"] for p in list(progress.values()))

        def wait_rows(n: int, limit: float) -> None:
            deadline = time.time() + limit
            while committed_rows() < n:
                if time.time() > deadline or not query.isActive:
                    raise RuntimeError(f"stream stalled at {committed_rows()}/{n} rows")
                time.sleep(0.02)

        source = self.spark.readStream.schema("doc_id long, text string").parquet(str(land))
        t_boot = time.time()
        query = ingest_mod.write_stream_corpus_ingest(
            source, corpus_path=paths["corpus"], index_path=paths["index"],
            audit_path=paths["audit"], checkpoint=paths["ckpt"],
            trigger_available_now=False,
        )
        wait_rows(landed_docs, 120)
        self.put("streaming.bootstrap_s", time.time() - t_boot, "s")
        log("bootstrap batch committed")

        cfg = {
            "seed": self.args.seed, "landing": str(land),
            "manifest": str(self.work / "manifest.jsonl"),
            "first_id": BOOTSTRAP_DOCS, "history": boot.column("text").to_pylist(),
            "interval": seconds / LANDINGS, "n_landings": LANDINGS,
            "docs_per_landing": DOCS_PER_LANDING,
            "go_backlog": str(self.work / "go_backlog"), "backlog_docs": BACKLOG_DOCS,
        }
        (self.work / "landing.json").write_text(json.dumps(cfg))
        gen = subprocess.Popen([sys.executable, str(HERE / "landing.py"),
                                str(self.work / "landing.json")])
        try:
            landed_docs += LANDINGS * DOCS_PER_LANDING
            self.wait_manifest(LANDINGS, gen, limit=seconds + 60)
            wait_rows(landed_docs, 120)
            log("open loop committed")
            (self.work / "go_backlog").touch()
            if gen.wait(timeout=120) != 0:
                raise RuntimeError(f"landing generator exited {gen.returncode}")
            landed_docs += BACKLOG_DOCS
            wait_rows(landed_docs, 120)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        t_end = time.time()
        log("backlog drained")
        query.stop()
        self.spark.streams.removeListener(listener)

        manifest = [json.loads(x) for x in
                    (self.work / "manifest.jsonl").read_text().splitlines()]
        # how late the generator ran: when it started landing a file
        # that was due
        lag = max(m["started"] - m["due"] for m in manifest if m["phase"] == "open")
        self.put("load.generator_lag_s", lag, "s")
        if lag > GENERATOR_LAG_LIMIT_S:
            raise RuntimeError(f"generator fell {lag:.3f}s behind its schedule")

        audit = self.spark.read.parquet(paths["audit"]).select("doc_id", "status", "batch_id")
        audit_rows = [(r[0], r[1], r[2]) for r in audit.collect()]
        corpus_ids = [r[0] for r in self.spark.read.parquet(paths["corpus"])
                      .select("doc_id").collect()]
        commit = {b: epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
                  for b, p in progress.items()}
        audit_batch = {d: b for d, _, b in audit_rows}

        open_l = [m for m in manifest if m["phase"] == "open"]
        (backlog,) = [m for m in manifest if m["phase"] == "backlog"]
        t_open = open_l[0]["due"]
        landed = {}
        for f in land.glob("*.parquet"):
            t = pq.read_table(f)
            landed.update(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
        violations = stats.ingest_violations(
            landed, [(d, s) for d, s, _ in audit_rows], corpus_ids)
        self.attempted += len(open_l) + 1
        self.problems.extend(violations)
        # a landing with a doc that was never audited or committed has
        # no latency: it counts as failed (and as a violation above)
        open_ok = [m for m in open_l
                   if all(audit_batch.get(i) in commit for i in m["ids"])]
        if not open_ok or not all(audit_batch.get(i) in commit for i in backlog["ids"]):
            raise RuntimeError("landings not committed: " + "; ".join(violations))
        if len({audit_batch[i] for i in backlog["ids"]}) != 1:
            raise RuntimeError("the backlog file was split across micro-batches")
        if not stats.eligible(len(open_ok), 90):
            raise RuntimeError(f"{len(open_ok)} landings are too few for a p90")
        lat = stats.landing_latencies(open_ok, audit_batch, commit)
        (drain,) = stats.landing_latencies([backlog], audit_batch, commit)
        late = sum(x > LATENCY_LIMIT_S for x in lat)
        if late:
            self.problems.append(f"{late} landings committed over {LATENCY_LIMIT_S}s after due")
        self.failed += len(violations) + len(open_l) - len(open_ok) + late
        # latency attribution: queued until the micro-batch that
        # committed the landing started, then that batch's own time
        self.put("load.wait_p50_s", stats.median([
            epoch(progress[max(audit_batch[i] for i in m["ids"])]["timestamp"])
            - m["due"] for m in open_ok]), "s")

        self.put("cold_total_s", drain, "s")
        self.put("load.latency_p50_s", stats.median(lat), "s")
        self.put("load.latency_p90_s", stats.percentile(lat, 90), "s")
        self.put("load.landings", len(lat), "count")
        self.put("ingest.docs_per_s", BACKLOG_DOCS / drain, "1/s")
        in_bytes = sum(p.stat().st_size for p in land.glob("*.parquet"))
        out_bytes = sum(
            f.stat().st_size for k in ("corpus", "index", "audit")
            for f in Path(paths[k]).rglob("*") if f.is_file()
        )
        self.put("sinks.bytes_written", out_bytes, "B")
        self.put("storage_bytes_per_input_byte", out_bytes / in_bytes, "ratio")

        batches = [progress[b] for b in sorted(progress)]
        for p in batches:
            log(f"micro-batch {p['batchId']}: {p['numInputRows']} rows, "
                f"trigger {p['durationMs']['triggerExecution'] / 1e3:.2f}s")
        trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in batches]
        add = [p["durationMs"].get("addBatch", 0) / 1e3 for p in batches]
        self.put("streaming.batches", len(batches), "count")
        self.put("streaming.trigger_s", stats.median(trig), "s")
        self.put("streaming.overhead_s", stats.median(
            [t - a for t, a in zip(trig, add)]), "s")
        self.put("streaming.rows_per_batch",
                 stats.median([p["numInputRows"] for p in batches]), "count")
        # landings waiting when each micro-batch started: landed by
        # then, minus those an earlier micro-batch already took
        taken = {m["i"]: min(audit_batch.get(i, 1 << 62) for i in m["ids"])
                 for m in manifest}
        self.put("streaming.backlog_files_max", max(
            sum(1 for m in manifest if m["written"] <= epoch(p["timestamp"])
                and taken[m["i"]] >= p["batchId"])
            for p in batches), "count")

        log("ingest checks done")
        if self.tracer is not None:
            self.ingest_spans(t_open, t_end, batches, manifest, audit_batch, commit)
        jobs = [j for j in settled_jobs(self.base) if "submissionTime" in j
                and t_open <= epoch(j["submissionTime"]) <= t_end]
        self.spark_metrics(jobs, t_end - t_open)
        # the end-to-end figure is the backlog drain's, like cold_total_s:
        # the open loop's micro-batch count varies from run to run
        self.put("executor_cpu_s", self.executor_cpu(
            [j for j in jobs if epoch(j["submissionTime"]) >= backlog["due"]]), "s")
        self.memory()

    def wait_manifest(self, n: int, gen, limit: float) -> None:
        path = self.work / "manifest.jsonl"
        deadline = time.time() + limit
        while True:
            if path.exists() and len(path.read_text().splitlines()) >= n:
                return
            if gen.poll() is not None or time.time() > deadline:
                raise RuntimeError("landing generator stopped early")
            time.sleep(0.05)

    def ingest_spans(self, t_open, t_end, batches, manifest, audit_batch,
                     commit) -> None:
        """A ``run`` span covers the open loop and the backlog; the
        micro-batch trigger spans (from the progress events) under it
        become the parents of the corpus_ingest_batch spans they
        contain. Each landing span lists the micro-batches that
        committed it."""
        tr = self.tracer
        self.root = tr.add("run", "ingest", t_open, t_end, None)
        trig = {}
        for p in batches:
            start = epoch(p["timestamp"])
            if start < t_open:
                continue  # the bootstrap batch
            trig[p["batchId"]] = tr.add(
                "streaming.trigger", f"batch {p['batchId']}", start,
                start + p["durationMs"]["triggerExecution"] / 1e3, self.root["id"])
        for s in tr.spans:
            if s["layer"] == "streaming" and s["parent"] is None:
                holders = [t for t in trig.values() if t["start"] <= s["start"] < t["end"]]
                if holders:
                    s["parent"] = holders[0]["id"]
        for m in manifest:
            ids = sorted({audit_batch[i] for i in m["ids"] if i in audit_batch})
            span = tr.add("load", f"landing {m['i']}", m["due"],
                          max((commit[b] for b in ids if b in commit), default=m["due"]),
                          None)
            span["batches"] = ids

    # ------------------------------------------------------------ report
    def layer_metrics(self) -> None:
        """Per-layer self time over the measured phase (the cold pass, or
        the ingest open loop and backlog): the layers' self times add
        up to its wall time; call counts; the traced run's own
        cold_total_s (its gap to an untraced run is the tracing
        overhead); and 0 for the metrics of the phase this workload
        does not have (BATCH_ONLY or INGEST_ONLY). Writes the spans."""
        tr = self.tracer
        by_layer = stats.layer_self_times(stats.subtree(tr.spans, self.root["id"]))
        for layer in ("run", "queries", "functions", "streaming",
                      "streaming.trigger", "spark.job", "spark.stage"):
            self.put(f"{layer}.self_s", by_layer.get(layer, 0.0), "s")
        # exec time no Spark job covers: analysis, optimization,
        # planning and codegen of the plans queries built
        self.put("spark.plan_s", by_layer.get("spark.exec", 0.0), "s")
        for layer in OPERATOR_LAYERS:
            key = f"operators.{layer}"
            self.put(f"{key}.self_s", by_layer.get(key, 0.0), "s")
            self.put(f"{key}.calls", tr.counts.get(f"{key}.calls", 0), "count")
        self.put("functions.calls", tr.counts.get("functions.calls", 0), "count")
        self.put("queries.py4j_calls", tr.counts.get("queries.py4j_calls", 0), "count")
        batch_spans = [s["end"] - s["start"] for s in tr.spans
                       if s["layer"] == "streaming" and s["name"] == "corpus_ingest_batch"]
        if batch_spans:
            self.put("streaming.ingest_batch_s", stats.median(batch_spans), "s")
        self.put("trace.cold_total_s", self.metrics["cold_total_s"][0], "s")
        self.put("trace.spans", len(tr.spans), "count")
        units = {m["name"]: m["unit"] for m in
                 json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]}
        for name in INGEST_ONLY if self.args.workload == "batch" else BATCH_ONLY:
            assert name not in self.metrics, name
            self.put(name, 0.0, units[name])
        tr.write(self.work.parent / f"spans-{tr.run_id}.jsonl")


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - T0:7.2f}s {msg}", file=sys.stderr)


def compare(cc, got, want) -> str | None:
    """tools/check_correctness.py's comparison: row count, columns,
    normalized dtypes and exact values, order-insensitive."""
    if len(got) != len(want):
        return f"rowcount {len(got)} vs {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    a, b = cc.canon(got), cc.canon(want)
    sa = {c: cc.normalize_dtype(a[c].dtype) for c in a.columns}
    sb = {c: cc.normalize_dtype(b[c].dtype) for c in b.columns}
    if sa != sb:
        return f"dtypes {sa} vs {sb}"
    if not a.equals(b):
        return "values differ"
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WARM_TABLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    run = Run(args)
    (run.work / "tmp").mkdir(parents=True, exist_ok=True)
    datagen.write(run.sf_dir, SF, args.seed)
    if run.tracer is not None:
        run.install_tracing()
    log("inputs ready")
    run.setup()
    log("setup done")
    try:
        run.batch() if args.workload == "batch" else run.ingest()
        if run.tracer is not None:
            run.layer_metrics()
    finally:
        run.spark.stop()
    for p in run.problems:
        print(f"perfbench: {p}", file=sys.stderr)
    Path(args.out).write_text(json.dumps({
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in run.metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
