"""Streaming-first benchmark of the engine.

Usage, from the repository root::

    python3 perfbench/run.py --workload telematics-stream --seed 1 \\
        --seconds 10 --trace 0

A seeded generator (``perfbench/gen.py``) runs as a separate process and
publishes input files into a watched directory on a fixed wall-clock
schedule.  This process drives the engine through its public functions,
checks the outputs against batch references outside the timed region, and
prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  The line
before it holds the details: tail percentile and sample counts, versions,
the bases of the ratios and, in a traced run, self times per span name and
the tracing overhead.  See ``perfbench/README.md``.

Everything a run writes lives under the current directory: its inputs,
outputs and checkpoints in ``.perfbench_tmp/`` (removed at exit), the
spans and the untraced end-to-end results in ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_IMPORT = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "cloudcomputing_flink_application_spark"

sys.path.insert(0, HERE)

import measure  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TELEMATICS_QUERIES = ("speedfines", "avgspeedfines", "accidents")
STATEFUL_QUERIES = ("avgspeedfines", "accidents")
CORPUS_STAGES = (
    "sources.scan_s",
    "pipeline.clean_corpus_s",
    "dedup.minhash_purge_dedup_s",
    "pipeline.packed_training_rows_s",
    "sinks.write_training_shards_s",
)

#: end-to-end metric -> unit
E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "throughput_per_s": "1/s",
    "recall_at_k": "ratio",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric -> unit, in report order."""
    out: dict[str, str] = {}
    for q in TELEMATICS_QUERIES:
        for m in ("add_batch_ms", "trigger_ms", "planning_ms", "commit_ms"):
            out[f"streaming.{m}.{q}"] = "ms"
        out[f"streaming.rows_per_batch.{q}"] = "rows"
        out[f"streaming.batches.{q}"] = "count"
        out[f"streaming.busy_frac.{q}"] = "ratio"
    out["sources.latest_offset_ms"] = "ms"
    out["sources.lag_files"] = "files"
    for q in STATEFUL_QUERIES:
        out[f"state.rows_total.{q}"] = "rows"
        out[f"state.memory_bytes.{q}"] = "bytes"
        out[f"state.commit_ms.{q}"] = "ms"
    out["session.tasks_per_batch"] = "count"
    out["session.failed_tasks"] = "count"
    out["session.jobs"] = "count"
    out["session.tasks"] = "count"
    for s in CORPUS_STAGES:
        out[s] = "s"
    out["pipeline.kept_frac"] = "ratio"
    out["dedup.survivor_frac"] = "ratio"
    out["similarity.build_ivf_index_s"] = "s"
    out["similarity.build_pq_index_s"] = "s"
    out["similarity.ivfpq_topk_from_index_ms"] = "ms"
    out["similarity.shortlist"] = "rows"
    return out


#: per-layer metric name prefix -> the end-to-end metric it should move
MOVES = (
    ("streaming.rows_per_batch", "throughput_per_s"),
    ("streaming.batches", "throughput_per_s"),
    ("streaming.busy_frac", "throughput_per_s"),
    ("streaming.", "latency_p50_ms"),
    ("sources.latest_offset_ms", "latency_tail_ms"),
    ("sources.lag_files", "latency_tail_ms"),
    ("state.commit_ms", "latency_p50_ms"),
    ("state.", "peak_rss_mb"),
    ("session.tasks_per_batch", "latency_p50_ms"),
    ("session.failed_tasks", "error_rate"),
    ("session.", "throughput_per_s"),
    ("similarity.shortlist", "recall_at_k"),
    ("", "throughput_per_s"),  # corpus-prep stages and their useful-work ratios
)


def moves(metric: str) -> str:
    """The end-to-end metric that ``metric`` should move (on the workload
    of the run that measured it)."""
    return next(e2e for prefix, e2e in MOVES if metric.startswith(prefix))


def process_start_s() -> float:
    """Epoch second at which this process started (``/proc/self/stat``
    field 22, in clock ticks after boot), so set-up time includes the
    interpreter's own start."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as fh:
            btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError, StopIteration):
        return T_IMPORT


# --- environment ----------------------------------------------------------------

DRIVER_HEAP = "2g"


def pin_env(run_dir: str, cores: int) -> None:
    """Pin what the engine reads from the environment before it is
    imported: the core count (else ``session.DEFAULT_CPUS`` falls back to
    32), the driver heap, the Python of the workers, and every scratch
    location, inside the run directory."""
    local = os.path.join(run_dir, "local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local


def start_spark(run_dir: str):
    from cloudcomputing_flink_application_spark.session import get_spark

    local = os.path.join(run_dir, "local")
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def versions(spark, cores: int) -> dict:
    jvm = spark.sparkContext._jvm.System
    return {
        "cpus": cores,
        "spark": spark.version,
        "java": f"{jvm.getProperty('java.vm.name')} {jvm.getProperty('java.version')}",
        "python": platform.python_version(),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }


def stop_engine(keep: set[int]) -> None:
    """Stop the Spark session and its JVM, then wait until every process
    this one started (except ``keep``) has ended: the JVM and the Python
    workers it forked."""
    from pyspark import SparkContext

    procs = [p for p in measure.tree_pids(os.getpid(), keep) if p != os.getpid()]
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in procs):
        time.sleep(0.05)


# --- generator process -----------------------------------------------------------


class Generator:
    """The seeded load generator, a child process driven over stdin/stdout."""

    def __init__(self, workload: str, seed: int, root: str, seconds: int):
        self.root = root
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
             "--seed", str(seed), "--root", root, "--seconds", str(seconds)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )

    def ask(self, cmd: str | None, reply: str) -> None:
        """Send ``cmd`` (if any) and wait for ``reply``."""
        if cmd is not None:
            self.proc.stdin.write(cmd + "\n")
            self.proc.stdin.flush()
        line = self.proc.stdout.readline().strip()
        if line != reply:
            raise RuntimeError(f"generator said {line!r}, expected {reply!r}")

    def log(self, phase: str) -> list[dict]:
        """The publish records of one phase."""
        with open(os.path.join(self.root, "publish.jsonl")) as fh:
            recs = [json.loads(line) for line in fh if line.strip()]
        return [r for r in recs if r["phase"] == phase]

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
        self.proc.wait(timeout=30)


# --- stream plumbing ----------------------------------------------------------------


class StreamJob:
    """One job's streaming queries plus their checkpoints, so that which
    batch read each file, and when that batch ran, can be read back."""

    def __init__(self, names, queries, checkpoints):
        self.names = list(names)
        self.queries = list(queries)
        self.checkpoints = list(checkpoints)

    def file_batches(self) -> list[dict[str, int]]:
        return [measure.source_log_batches(os.path.join(c, "sources", "0")) for c in self.checkpoints]

    def committed(self, files: list[str]) -> bool:
        """Whether every file's batch has committed in every query (read
        from the checkpoints' source and commit logs)."""
        for c, fb in zip(self.checkpoints, self.file_batches()):
            batches = {fb.get(f) for f in files}
            if None in batches:
                return False
            if not all(os.path.exists(os.path.join(c, "commits", str(b))) for b in batches):
                return False
        return True

    def wait(self, files: list[str], timeout_s: float) -> None:
        deadline = time.time() + timeout_s
        while not self.committed(files):
            for n, q in zip(self.names, self.queries):
                if not q.isActive:
                    raise RuntimeError(f"query {n} terminated: {q.exception()}")
            if time.time() > deadline:
                raise TimeoutError(f"files not committed within {timeout_s} s")
            time.sleep(0.05)

    def progress(self) -> list[list[dict]]:
        """Each query's progress records of batches that read data."""
        return [
            [p for p in (json.loads(x.json) for x in q.recentProgress) if "addBatch" in p["durationMs"]]
            for q in self.queries
        ]

    def timeline(self, files: list[str]) -> tuple[list[list[dict]], dict[str, float], dict[str, float]]:
        """(progress records, file -> when it had been read in every query,
        file -> when its results had committed in every query).  A batch's
        progress record is posted just after its commit, so this waits
        until the records of every batch that read ``files`` are in."""
        deadline = time.time() + 30
        while True:
            progress = self.progress()
            spans = [{p["batchId"]: measure.progress_span_s(p) for p in prog} for prog in progress]
            fb = self.file_batches()
            starts = measure.file_times(fb, [{b: s for b, (s, _) in sp.items()} for sp in spans])
            ends = measure.file_times(fb, [{b: e for b, (_, e) in sp.items()} for sp in spans])
            if all(f in ends for f in files) or time.time() > deadline:
                return progress, starts, ends
            time.sleep(0.05)

    def stop(self) -> None:
        for q in self.queries:
            if q.isActive:
                q.stop()


def start_telematics(spark, root: str, tracer) -> StreamJob:
    from cloudcomputing_flink_application_spark.streaming import jobs

    out = os.path.join(root, "out")
    with tracer.span("streaming.jobs.run_telematics_job"):
        qs = jobs.run_telematics_job(spark, os.path.join(root, "in"), out)
    return StreamJob(TELEMATICS_QUERIES, qs, [os.path.join(out, "_chk", n) for n in TELEMATICS_QUERIES])


# --- correctness gates (outside the timed region) ------------------------------------


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def _recall(got: Counter, ref: Counter) -> tuple[int, int]:
    """(reference rows present in the output, reference rows)."""
    return sum((got & ref).values()), sum(ref.values())


def check_telematics(spark, root: str) -> tuple[dict, tuple[int, int]]:
    """Each sink equals its batch operator on the same published input."""
    from cloudcomputing_flink_application_spark import schemas
    from cloudcomputing_flink_application_spark.operators import telematics as T

    cars = spark.read.schema(schemas.CAR_REPORTS).csv(os.path.join(root, "in"))
    checks, hit, total = {}, 0, 0
    for name, ref in (
        ("speedfines", T.speed_radar(cars)),
        ("avgspeedfines", T.average_speed_fines(cars)),
        ("accidents", T.accident_reports(cars)),
    ):
        got = _rows(spark.read.schema(ref.schema).csv(os.path.join(root, "out", name)))
        want = _rows(ref)
        checks[name] = got == want and len(want) > 0
        h, t = _recall(got, want)
        hit, total = hit + h, total + t
    return checks, (hit, total)


# --- per-layer metrics of a stream run ---------------------------------------------------


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def progress_layer(job: StreamJob, progress, phase: tuple[float, float], tracer) -> dict:
    """Per-query streaming and state metrics of the live phase from
    ``StreamingQueryProgress``.  Each progress record also becomes a child
    span of its query, with its phases as children of the batch."""
    out: dict[str, float] = {}
    t0, t1 = phase
    for name, prog in zip(job.names, progress):
        live = [p for p in prog if measure.progress_span_s(p)[0] >= t0]
        qspan = tracer.add(f"streaming.query.{name}", t0, t1, None)
        for p in live:
            s, e = measure.progress_span_s(p)
            bspan = tracer.add(f"streaming.batch.{name}", s, e, qspan)
            for ph, ps, pe in measure.batch_phase_spans(p):
                tracer.add(f"streaming.{ph}.{name}", ps, pe, bspan)
        d = [p["durationMs"] for p in live]
        out[f"streaming.add_batch_ms.{name}"] = _med(x["addBatch"] for x in d)
        out[f"streaming.trigger_ms.{name}"] = _med(x["triggerExecution"] for x in d)
        out[f"streaming.planning_ms.{name}"] = _med(x.get("queryPlanning", 0) for x in d)
        out[f"streaming.commit_ms.{name}"] = _med(x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d)
        out[f"streaming.rows_per_batch.{name}"] = _med(p["numInputRows"] for p in live)
        out[f"streaming.batches.{name}"] = float(len(live))
        out[f"streaming.busy_frac.{name}"] = sum(x["triggerExecution"] for x in d) / 1000.0 / (t1 - t0)
        if name in STATEFUL_QUERIES and live:
            ops = [p["stateOperators"] for p in live]
            out[f"state.rows_total.{name}"] = float(sum(s["numRowsTotal"] for s in ops[-1]))
            out[f"state.memory_bytes.{name}"] = float(sum(s["memoryUsedBytes"] for s in ops[-1]))
            out[f"state.commit_ms.{name}"] = _med(sum(s["commitTimeMs"] for s in o) for o in ops)
    out["sources.latest_offset_ms"] = _med(
        p["durationMs"].get("latestOffset", 0) for prog in progress for p in prog
        if measure.progress_span_s(p)[0] >= t0
    )
    return out


def scheduler_layer(spark, groups) -> dict:
    """Jobs, tasks and failed tasks from the status tracker, over the job
    groups given (a streaming query runs its jobs under its run id)."""
    st = spark.sparkContext.statusTracker()
    jobs = tasks = failed = 0
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is not None:
                    tasks += s.numTasks
                    failed += s.numFailedTasks
    return {"session.jobs": float(jobs), "session.tasks": float(tasks), "session.failed_tasks": float(failed)}


# --- workloads -------------------------------------------------------------------------


class Run:
    """State of one benchmark run: its directories, tracer, generator and
    the metrics gathered so far."""

    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.p = WORKLOADS[args.workload]
        self.tracer = measure.Tracer(enabled=bool(args.trace))
        self.layer: dict[str, float] = {}
        self.details: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
        self.gen: Generator | None = None
        self.spark = None
        self.job: StreamJob | None = None
        self.sampler: measure.MemorySampler | None = None

    def start_session(self) -> None:
        self.gen = Generator(self.args.workload, self.args.seed, self.root, self.args.seconds)
        with self.tracer.span("session.get_spark"):
            t = time.time()
            self.spark = start_spark(self.root)
            self.details["session_s"] = time.time() - t
        # sampling starts once the session is up: before that the tree
        # briefly holds spark-submit's own launcher JVM, which some samples
        # catch and others miss
        self.sampler = measure.MemorySampler(exclude={self.gen.proc.pid}).start()
        self.gen.ask(None, "ready")

    def stream(self) -> tuple[dict, int, int]:
        """Set-up, steady phase, burst, then the correctness gates.
        Returns (end-to-end metrics, attempted, failed)."""
        self.start_session()
        self.job = start_telematics(self.spark, self.root, self.tracer)
        self.gen.ask("warmup", "ok")
        self.job.wait([x["file"] for x in self.gen.log("warmup")], 150)
        setup_s = time.time() - PROCESS_START

        t_live = time.time()
        self.gen.ask("steady", "steady-done")
        steady = self.gen.log("steady")
        self.job.wait([x["file"] for x in steady], 120)
        self.gen.ask("burst", "burst-done")
        burst = self.gen.log("burst")
        self.job.wait([x["file"] for x in burst], 120)
        t_end = time.time()
        peak_mb = self.sampler.stop()

        progress, consumed, done = self.job.timeline([x["file"] for x in steady + burst])
        lat = [(done[x["file"]] - x["published"]) * 1000.0 for x in steady]
        tail, pct, n = measure.tail_percentile(lat)
        units = self.p["burst_files"] * self.p["vehicles"] // self.p["files_per_tick"]
        burst_s = max(done[x["file"]] for x in burst) - min(x["published"] for x in burst)
        e2e = {
            "setup_s": setup_s,
            "latency_p50_ms": statistics.median(lat),
            "latency_tail_ms": tail,
            "throughput_per_s": units / burst_s,
            "peak_rss_mb": peak_mb,
        }
        batches = sum(len(p) for p in progress)
        self.details.update(
            latency_tail_percentile=pct,
            latency_samples=n,
            throughput_units=f"{units} {self.p['unit']} in {burst_s:.3f} s",
            generator_lag_ms=max((x["published"] - x["due"]) * 1000.0 for x in steady),
            offered_rate_files_per_s=self.p["rate_files_per_s"],
            batches=batches,
        )
        if self.tracer.enabled:
            self.layer.update(progress_layer(self.job, progress, (t_live, t_end), self.tracer))
            pub = {x["file"]: x["published"] for x in steady}
            self.layer["sources.lag_files"] = float(measure.max_lag(pub, consumed))
            sched = scheduler_layer(self.spark, [str(q.runId) for q in self.job.queries])
            self.layer.update(sched)
            self.layer["session.tasks_per_batch"] = sched["session.tasks"] / max(batches, 1)
        self.job.stop()
        with self.tracer.span("correctness"):
            t = time.time()
            checks, (hit, total) = check_telematics(self.spark, self.root)
            self.details["check_s"] = time.time() - t
        e2e["recall_at_k"] = hit / total
        self.details["checks"] = checks
        self.details["recall_base"] = f"{hit}/{total}"
        return e2e, batches + len(checks), sum(not v for v in checks.values())

    def corpus(self) -> tuple[dict, int, int]:
        """corpus-prep as one timed job: ``training_prep`` then
        ``write_training_shards`` on the generated corpus, then the IVF and
        PQ builds over the generated embeddings and one batch search."""
        from cloudcomputing_flink_application_spark.operators import similarity

        self.start_session()
        self.gen.close()
        with self.tracer.span("sources.read"):
            docs = self.spark.read.parquet(self.path("documents.parquet"))
            n_docs = docs.count()
        setup_s = time.time() - PROCESS_START

        self.spark.sparkContext.setJobGroup("corpus-prep", "corpus-prep job")
        t = time.time()
        hits = self.corpus_job(docs, n_docs)
        wall = time.time() - t
        peak_mb = self.sampler.stop()
        if self.tracer.enabled:
            self.layer.update(scheduler_layer(self.spark, ["corpus-prep"]))
            self.layer["session.tasks_per_batch"] = self.layer["session.tasks"]
            self.layer["similarity.shortlist"] = float(
                similarity.shortlist_report(self.spark, self.path("pq")).first()["shortlist"]
            )
        self.spark.sparkContext.setJobGroup("checks", "correctness")
        with self.tracer.span("correctness"):
            t = time.time()
            checks, (hit, total) = check_corpus(self.path("documents.parquet"), self.path("shards"), self.p["n_shards"])
            ann_checks, (ann_hit, ann_total) = check_search(self.root, hits, self.p["k"])
            checks.update(ann_checks)
            self.details["check_s"] = time.time() - t
        e2e = {
            "setup_s": setup_s,
            "latency_p50_ms": wall * 1000.0,
            "latency_tail_ms": wall * 1000.0,
            "throughput_per_s": n_docs / wall,
            "peak_rss_mb": peak_mb,
            "recall_at_k": ann_hit / ann_total,
        }
        self.details.update(
            latency_tail_percentile=100.0,
            latency_samples=1,
            throughput_units=f"{n_docs} {self.p['unit']} in {wall:.3f} s",
            checks=checks,
            training_rows_base=f"{hit}/{total}",
            recall_base=f"{ann_hit}/{ann_total}",
        )
        return e2e, 1 + len(checks), sum(not v for v in checks.values())

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def corpus_job(self, docs, n_docs: int) -> list[tuple]:
        """The corpus-prep job; returns the search's (query_id, neighbor_id,
        rank) rows.  In a traced run each stage's input is cached and
        counted first, so each span is that stage's own time."""
        from pyspark.sql import functions as F

        from cloudcomputing_flink_application_spark import schemas
        from cloudcomputing_flink_application_spark.operators import dedup, pipeline, similarity
        from cloudcomputing_flink_application_spark.sources import sinks

        layer, tracer, p = self.layer, self.tracer, self.p

        def stage(name, run):
            with tracer.span(name):
                t = time.time()
                out = run()
                layer[f"{name}_s"] = time.time() - t
            return out

        def materialized(df):
            df = df.cache()
            return df, df.count()

        if tracer.enabled:
            with tracer.span("corpus-prep"):
                docs, _ = stage("sources.scan", lambda: materialized(docs))
                flags, _ = stage("pipeline.clean_corpus", lambda: materialized(pipeline.clean_corpus(docs)))
                kept, n_kept = materialized(
                    docs.join(flags.filter(F.col("kept")).select("doc_id", "split"), "doc_id")
                )
                surv, n_surv = stage(
                    "dedup.minhash_purge_dedup", lambda: materialized(dedup.minhash_purge_dedup(kept).select("doc_id"))
                )
                rows, _ = stage(
                    "pipeline.packed_training_rows",
                    lambda: materialized(pipeline.packed_training_rows(kept.join(surv, "doc_id"))),
                )
            layer["pipeline.kept_frac"] = n_kept / n_docs
            layer["dedup.survivor_frac"] = n_surv / max(n_kept, 1)
            self.details["kept_base"] = f"{n_kept}/{n_docs} docs"
            self.details["survivor_base"] = f"{n_surv}/{n_kept} docs"
        else:
            rows = pipeline.training_prep(docs)
        stage("sinks.write_training_shards",
              lambda: sinks.write_training_shards(rows, self.path("shards"), p["n_shards"], key="pack_id"))
        dedup.release_cached()
        self.spark.catalog.clearCache()

        emb = self.spark.read.schema(schemas.EMBEDDINGS).parquet(self.path("embeddings.parquet"))
        queries = self.spark.read.schema(schemas.EMBEDDINGS).parquet(self.path("queries.parquet"))
        stage("similarity.build_ivf_index", lambda: similarity.build_ivf_index(emb, self.path("ivf")))
        stage("similarity.build_pq_index", lambda: similarity.build_pq_index(emb, self.path("pq")))
        with tracer.span("similarity.ivfpq_topk_from_index"):
            t = time.time()
            found = similarity.ivfpq_topk_from_index(
                self.spark, self.path("ivf"), self.path("pq"), emb, k=p["k"], queries=queries
            ).select("query_id", "neighbor_id", "rank").collect()
            layer["similarity.ivfpq_topk_from_index_ms"] = (time.time() - t) * 1000.0
        similarity.release_cached()
        return [tuple(r) for r in found]

    def close(self) -> None:
        if self.job is not None:
            try:
                self.job.stop()
            except Exception:  # noqa: BLE001 - best effort on the way out
                traceback.print_exc()
        if self.sampler is not None:
            self.sampler.stop()
        keep = set()
        if self.gen is not None:
            self.gen.close()
            keep.add(self.gen.proc.pid)
        if self.spark is not None:
            self.details["env"] = versions(self.spark, int(os.environ["SPARK_GRAFT_CPUS"]))
        stop_engine(keep)


def training_prep_reference(path: str) -> list[tuple]:
    """``pipeline.TRAINING_PREP_SQL`` under DuckDB on the same corpus.  Its
    top-level CTEs are marked ``AS MATERIALIZED``: the SQL is unchanged, but
    without the hint DuckDB inlines the clean subtree at every reference
    and the composed query takes minutes even on a few hundred docs."""
    import duckdb

    from cloudcomputing_flink_application_spark.operators import pipeline

    sql = pipeline.TRAINING_PREP_SQL
    for name in ("clean", "kept_docs", "surv", "surv_docs"):
        sql, n = re.subn(rf"(^|WITH |,\n){name} AS \(", rf"\g<1>{name} AS MATERIALIZED (", sql, count=1, flags=re.M)
        if n != 1:
            raise RuntimeError(f"TRAINING_PREP_SQL has no top-level CTE {name!r}")
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        return [tuple(r) for r in con.execute(sql).fetchall()]
    finally:
        con.close()


def check_corpus(path: str, shards: str, n_shards: int) -> tuple[dict, tuple[int, int]]:
    """The shard sink holds exactly the DuckDB reference rows, and each row
    sits in shard ``h56(pack_id) % n_shards`` (first 14 hex digits of the
    md5), recomputed here without the engine."""
    import pyarrow.dataset as ds

    ref = training_prep_reference(path)
    cols = ["doc_id", "piece", "source", "pack_key", "chunk_id", "n_tok", "begin_tok", "split", "pack_id", "text"]
    table = ds.dataset(shards, format="parquet", partitioning="hive").to_table()
    data = table.select(cols).to_pylist()
    got = Counter(tuple(r[c] for c in cols) for r in data)
    want = Counter(ref)
    shard_ok = all(
        int(hashlib.md5(p.encode()).hexdigest()[:14], 16) % n_shards == s
        for p, s in zip(table.column("pack_id").to_pylist(), table.column("shard").to_pylist())
    )
    return {"rows": got == want and len(want) > 0, "shards": shard_ok}, _recall(got, want)


def check_search(root: str, found: list[tuple], k: int) -> tuple[dict, tuple[int, int]]:
    """Every query got ``k`` distinct corpus neighbours ranked 1..k, and
    recall@k of those against an exact brute-force top-k computed here
    with NumPy from the generated vectors."""
    import numpy as np
    import pyarrow.parquet as pq

    def unit_rows(table):
        v = np.asarray(table.column("embedding").combine_chunks().flatten(), dtype=np.float64)
        v = v.reshape(table.num_rows, -1)
        return table.column("vec_id").to_numpy(), v / np.linalg.norm(v, axis=1, keepdims=True)

    ids, base = unit_rows(pq.read_table(os.path.join(root, "embeddings.parquet")))
    qids, qv = unit_rows(pq.read_table(os.path.join(root, "queries.parquet")))
    exact_idx = np.argsort(-(qv @ base.T), axis=1, kind="stable")[:, :k]
    exact = {int(q): set(ids[row].tolist()) for q, row in zip(qids, exact_idx)}
    served: dict[int, list] = {}
    for q, n, r in found:
        served.setdefault(int(q), []).append((int(r), int(n)))
    corpus = set(ids.tolist())
    well_formed = set(served) == set(exact) and all(
        sorted(r for r, _ in rows) == list(range(1, k + 1))
        and len({n for _, n in rows}) == k
        and {n for _, n in rows} <= corpus
        for rows in served.values()
    )
    hits = sum(len({n for _, n in served.get(q, [])} & nb) for q, nb in exact.items())
    return {"search": well_formed}, (hits, k * len(exact))


# --- main ---------------------------------------------------------------------------------

PROCESS_START = process_start_s()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="perfbench: streaming-first engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="local[N] cores (default: all usable; 1 for the single-core baseline)")
    args = ap.parse_args(argv)
    cwd = os.getcwd()
    if not os.path.isdir(os.path.join(cwd, PACKAGE)):
        print(f"no {PACKAGE}/ package in {cwd}: run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, cwd)

    tag = f"{args.workload}-{args.seed}"
    root = os.path.join(cwd, ".perfbench_tmp", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(cwd, ".perfbench_out")
    os.makedirs(root)
    os.makedirs(out_dir, exist_ok=True)
    pin_env(root, args.cores)
    run = Run(args, root)
    try:
        if run.p["kind"] == "stream":
            e2e, attempted, failed = run.stream()
        else:
            e2e, attempted, failed = run.corpus()
    except Exception:  # noqa: BLE001 - report any failure as a failed run
        traceback.print_exc()
        return 1
    finally:
        try:
            run.close()
        finally:
            shutil.rmtree(root, ignore_errors=True)

    details = run.details
    details["error_rate"] = failed / attempted
    details["wall_s"] = time.time() - PROCESS_START
    details["throughput_unit"] = f"{run.p['unit']}/s"
    if run.tracer.enabled:
        run.tracer.dump(os.path.join(out_dir, f"trace-{tag}.json"))
        details["self_time_s"] = measure.self_time_by_name(run.tracer.spans)
        details["traced_e2e"] = e2e
        details["tracing_overhead"] = tracing_overhead(out_dir, args.workload, tag, e2e)
        units = per_layer_units()
        metrics = {k: {"value": float(run.layer.get(k, 0.0)), "unit": u} for k, u in units.items()}
        details["per_layer_moves"] = {k: moves(k) for k in units if k in run.layer}
    else:
        with open(os.path.join(out_dir, f"e2e-{tag}.json"), "w") as fh:
            json.dump(e2e, fh)
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps(details))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def tracing_overhead(out_dir: str, workload: str, tag: str, traced: dict) -> dict:
    """Traced end-to-end numbers minus the untraced ones of the same seed
    (or, failing that, the newest untraced run of the workload)."""
    same = os.path.join(out_dir, f"e2e-{tag}.json")
    pool = [same] if os.path.exists(same) else sorted(
        (os.path.join(out_dir, f) for f in os.listdir(out_dir)
         if f.startswith(f"e2e-{workload}-")),
        key=os.path.getmtime,
    )[-1:]
    if not pool:
        return {"base": None}
    with open(pool[0]) as fh:
        base = json.load(fh)
    out = {k: traced[k] - base[k] for k in traced if k in base}
    out["base"] = os.path.basename(pool[0])
    return out


if __name__ == "__main__":
    sys.exit(main())
