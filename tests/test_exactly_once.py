"""Exactly-once harness for every ``foreachBatch`` job of the package.

Every such job runs on one driver (``streaming.jobs._run_incremental``),
so one stream sequence checks them all.  Per job, over two input files:

1. run the job, one batch per file, and stop it after batch 1;
2. delete the last commit (``commits/1`` and its ``.crc``) and restart on
   the same checkpoint: batch 1 replays on the state batch 0 left;
3. compare the sinks and stores, as whole-row multisets, with the job's
   batch operator over both files;
4. delete the checkpoint and rerun from scratch over the dirty sinks, with
   both files in batch 0, and compare again: batch 0 must prune the
   partition batch 1 wrote.

A write that appended instead of replacing its batch's partition
duplicates rows at step 3; a missing batch-0 prune leaves batch 1's
partition behind at step 4.
"""

from __future__ import annotations

import ast
import os
import shutil
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import functions as F

from cloudcomputing_flink_application_spark import schemas
from cloudcomputing_flink_application_spark.streaming import jobs
from tests.conftest import TESTDATA, rows_bag

BASE_MTIME = 1_700_000_000


@dataclass
class Job:
    """``inputs(spark)`` gives the two input files' frames; ``start(spark,
    source, root, chk)`` starts the job with its sinks under ``root``;
    ``expect(spark, root, inputs)`` gives ``{name: (got, want)}`` frame
    pairs, ``got`` read from the sinks and ``want`` from the batch
    operator over all inputs."""

    kind: str  # "docs", "cars", "trips" or "embs"
    start: Callable
    expect: Callable


# --- inputs -------------------------------------------------------------------


def doc_inputs(spark):
    """90 documents plus exact copies of the first 15 under fresh ids, cut
    into two doc_id-ordered files (the copies arrive last)."""
    raw = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet").filter("doc_id < 90")
    docs = raw.unionByName(raw.filter("doc_id < 15").withColumn("doc_id", F.col("doc_id") + 100_000))
    return [docs.filter("doc_id < 45"), docs.filter("doc_id >= 45")]


def car_inputs(spark):
    """The first 800 sf0.001 car reports in (time, vid) order, as CSV
    lines; the cut at 350 leaves one of the two average-speed fines in
    each file."""
    from tests.test_streaming import sf0001_car_rows

    lines = [",".join(map(str, r)) for r in sf0001_car_rows(spark)[:800]]
    return [lines[:350], lines[350:]]


def trip_inputs(spark):
    """Seven taxi trips; vendor 5's 10:00 and 10:15 trips, the one pair
    that fires, fall in different files."""
    from tests.test_streaming import TAXI_CSV_1, TAXI_CSV_2

    lines = (TAXI_CSV_1 + TAXI_CSV_2).splitlines()
    return [lines[:3], lines[3:]]


def emb_inputs(spark):
    """The 200 embeddings the built index does not cover, in 2 files."""
    emb = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    return [emb.filter("vec_id >= 300 AND vec_id < 400"), emb.filter("vec_id >= 400")]


INPUTS = {"docs": doc_inputs, "cars": car_inputs, "trips": trip_inputs, "embs": emb_inputs}
CSV_SCHEMAS = {"cars": schemas.CAR_REPORTS, "trips": schemas.TAXI_TRIPS}


def stage(spark, kind, parts, staged: str) -> None:
    """Write input file ``i`` under ``staged/f<i>``, mtime-ordered so
    one-file triggers read them in order."""
    for i, part in enumerate(parts):
        p = f"{staged}/f{i}"
        if kind in CSV_SCHEMAS:  # CSV lines
            os.makedirs(p)
            with open(f"{p}/part-0.csv", "w") as fh:
                fh.write("\n".join(part) + "\n")
        else:
            part.coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(f"{root}/{f}", (BASE_MTIME + i, BASE_MTIME + i))


def source(spark, kind, d_in: str, per_file: bool):
    reader = spark.readStream
    if per_file:
        reader = reader.option("maxFilesPerTrigger", 1)
    if kind in CSV_SCHEMAS:
        return reader.schema(CSV_SCHEMAS[kind]).csv(f"{d_in}/*")
    return reader.schema(schemas.EMBEDDINGS if kind == "embs" else schemas.DOCUMENTS).parquet(f"{d_in}/*")


def read_all(spark, kind, d_in: str):
    if kind in CSV_SCHEMAS:
        return spark.read.schema(CSV_SCHEMAS[kind]).csv(f"{d_in}/*")
    return spark.read.parquet(f"{d_in}/*")


# --- jobs ---------------------------------------------------------------------


def store(spark, path, *cols):
    df = spark.read.parquet(path)
    return df.select(*cols) if cols else df.drop("batch_id")


def minhash_expect(spark, root, docs):
    from cloudcomputing_flink_application_spark.operators.dedup import band_rows, minhash_band_flags

    return {
        "flags": (store(spark, f"{root}/out"), minhash_band_flags(docs)),
        "bands": (store(spark, f"{root}/bands"), band_rows(docs).select("doc_id", "band", "key")),
    }


def span_expect(spark, root, docs):
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        DUP_SPAN_W,
        _dup_span_starts,
        _span_window_rows,
    )

    firsts = (
        _span_window_rows(docs, DUP_SPAN_W)
        .groupBy("h")
        .agg(F.min(F.struct("doc_id", "p")).alias("_m"))
        .select("h", "_m.doc_id", "_m.p")
    )
    return {
        # positions repeat across batches by design (a stored first
        # occurrence re-emits when its hash recurs): the output is a set
        "spans": (store(spark, f"{root}/out", "doc_id", "p").distinct(), _dup_span_starts(docs, DUP_SPAN_W)),
        "firsts": (store(spark, f"{root}/firsts", "h", "doc_id", "p"), firsts),
    }


def decontam_expect(spark, root, docs):
    from cloudcomputing_flink_application_spark.operators.pipeline import decontaminate

    want = decontaminate(docs)
    return {"decontam": (store(spark, f"{root}/out", *want.columns), want)}


def purge_expect(spark, root, docs):
    from cloudcomputing_flink_application_spark.operators.dedup import (
        _token_sets,
        band_rows_from_toksets,
        minhash_purge_dedup,
    )

    out = spark.read.parquet(f"{root}/out")
    last = out.agg(F.max("batch_id")).first()[0]
    toks = _token_sets(docs)
    tokset_cols = ("doc_id", "nset", F.col("tokset").cast("string"))
    return {
        # each partition is the whole table over its prefix
        "purge": (out.filter(F.col("batch_id") == last).drop("batch_id"), minhash_purge_dedup(docs)),
        "bands": (store(spark, f"{root}/state/bands"), band_rows_from_toksets(toks).select("doc_id", "band", "key")),
        "toksets": (store(spark, f"{root}/state/toksets", *tokset_cols), toks.select(*tokset_cols)),
        "docstats": (store(spark, f"{root}/state/docstats"), docs.select("doc_id", "n_chars")),
    }


def profile_expect(spark, root, docs):
    from cloudcomputing_flink_application_spark.operators import textstats as T

    out = spark.read.parquet(f"{root}/out")
    last = out.agg(F.max("batch_id")).first()[0]
    sk, ex = T.corpus_profile(docs), T.corpus_profile_exact(docs)
    want = sk.select("source", "n_docs", "total_tokens", "distinct_texts_est", "distinct_tokens_est").join(
        ex.select("source", "len_p50", "len_p90", "len_p99"), "source"
    )
    per_doc = T._profile_per_doc(docs)
    return {
        "profile": (out.filter(F.col("batch_id") == last).select(*want.columns), want),
        # the stores hold aggregates: their sums must count each doc once
        "lenhist": (
            store(spark, f"{root}/state/lenhist").groupBy("source", "len").agg(F.sum("cnt").alias("cnt")),
            per_doc.groupBy("source", "len").agg(F.count("*").alias("cnt")),
        ),
        "sketches": (
            store(spark, f"{root}/state/sketches").groupBy("source").agg(F.sum("n_docs").alias("n")),
            per_doc.groupBy("source").agg(F.count("*").alias("n")),
        ),
    }


def clean_expect(spark, root, docs):
    from cloudcomputing_flink_application_spark.operators.pipeline import clean_corpus

    want = clean_corpus(docs)
    canon = (
        want.filter("q_ok AND rep_ok AND con_ok AND uniq")
        .join(docs, "doc_id")
        .select(F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("h"), "doc_id")
    )
    return {
        "clean": (store(spark, f"{root}/out", *want.columns), want),
        "hashes": (store(spark, f"{root}/hashes", "h", "doc_id"), canon),
    }


def corpus(spark):
    """The 300 embeddings the IVF and PQ artifacts are built over."""
    return spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet").filter("vec_id < 300")


SEARCH = {"k": 3, "nprobe": 2, "shortlist": 8}


def ivf_expect(spark, root, embs):
    from cloudcomputing_flink_application_spark.operators import similarity as S

    cb = S.read_codebook(spark, f"{root}/ivf")
    build = corpus(spark)
    cols = ("vec_id", "cluster", "ccos_q")
    drift = S.assignment_stats(S.assignment_rows(embs, cb))
    return {
        "assignments": (store(spark, f"{root}/ivf/assignments", *cols), S.assignment_rows(build.unionByName(embs), cb).select(*cols)),
        # drift rows are per-batch aggregates: their sums cover each vector once
        "drift": (store(spark, f"{root}/ivf/drift").agg(*(F.sum(c).alias(c) for c in drift.columns)), drift),
    }


def pq_expect(spark, root, embs):
    from cloudcomputing_flink_application_spark.operators import similarity as S

    params = S.pq_build_params(spark, f"{root}/pq")
    build = corpus(spark)
    want = S.pq_encode(
        build.unionByName(embs), m=params["m"], ksub=params["ksub"], codebook=S.read_pq_codebook(spark, f"{root}/pq")
    )
    return {"codes": (store(spark, f"{root}/pq/codes", *want.columns), want)}


def search_expect(spark, root, queries):
    from cloudcomputing_flink_application_spark.operators import similarity as S

    want = S.ivfpq_topk_from_index(spark, f"{root}/ivf", f"{root}/pq", corpus(spark), queries=queries, **SEARCH)
    return {"topk": (store(spark, f"{root}/out", *want.columns), want)}


def tail_job(kind, stream_fn, op):
    """A carried-tail query: its CSV sink read with the batch operator's schema."""

    def expect(spark, root, rows):
        want = op(rows)
        return {"sink": (spark.read.schema(want.schema).csv(f"{root}/out"), want)}

    return Job(kind, lambda spark, src, root, chk: stream_fn(src, f"{root}/out", chk), expect)


def _tail_jobs():
    from cloudcomputing_flink_application_spark.operators.taxi import saturated_vendors
    from cloudcomputing_flink_application_spark.operators.telematics import accident_reports, average_speed_fines

    return {
        "accidents": tail_job("cars", jobs.accident_reports_stream, accident_reports),
        "avgspeedfines": tail_job("cars", jobs.average_speed_fines_stream, average_speed_fines),
        "saturated_vendors": tail_job("trips", jobs.saturated_vendors_stream, saturated_vendors),
    }


def bench(spark):
    """The static benchmark slice of the input documents."""
    from cloudcomputing_flink_application_spark.operators.pipeline import BENCH_MOD

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet").filter("doc_id < 90")
    return docs.filter(F.col("doc_id") % BENCH_MOD == 0)


JOBS = {
    "minhash": Job(
        "docs",
        lambda spark, src, root, chk: jobs.run_minhash_dedup_stream(spark, src, f"{root}/out", chk, f"{root}/bands"),
        minhash_expect,
    ),
    "span_flags": Job(
        "docs",
        lambda spark, src, root, chk: jobs.run_span_flags_stream(spark, src, f"{root}/out", chk, f"{root}/firsts"),
        span_expect,
    ),
    "decontam": Job(
        "docs",
        lambda spark, src, root, chk: jobs.run_decontam_stream(spark, src, bench(spark), f"{root}/out", chk),
        decontam_expect,
    ),
    "purge": Job(
        "docs",
        lambda spark, src, root, chk: jobs.run_purge_dedup_stream(spark, src, f"{root}/out", chk, f"{root}/state"),
        purge_expect,
    ),
    "corpus_profile": Job(
        "docs",
        lambda spark, src, root, chk: jobs.run_corpus_profile_stream(spark, src, f"{root}/out", chk, f"{root}/state"),
        profile_expect,
    ),
    "clean_corpus": Job(
        "docs",
        lambda spark, src, root, chk: jobs.run_clean_corpus_stream(
            spark, src, bench(spark), f"{root}/out", chk, f"{root}/hashes"
        ),
        clean_expect,
    ),
    "ivf_assign": Job(
        "embs",
        lambda spark, src, root, chk: jobs.run_ivf_assign_stream(spark, src, chk, f"{root}/ivf"),
        ivf_expect,
    ),
    "pq_encode": Job(
        "embs",
        lambda spark, src, root, chk: jobs.run_pq_encode_stream(spark, src, chk, f"{root}/pq"),
        pq_expect,
    ),
    "ivfpq_search": Job(
        "embs",
        lambda spark, src, root, chk: jobs.run_ivfpq_search_stream(
            spark, src, chk, f"{root}/out", f"{root}/ivf", f"{root}/pq", corpus(spark), **SEARCH
        ),
        search_expect,
    ),
    **_tail_jobs(),
}


@pytest.fixture(scope="module")
def staged_inputs(spark, tmp_path_factory):
    """``kind -> dir`` of the two staged input files, written once per
    kind and copied for each run (mtimes kept)."""
    dirs = {}

    def get(kind: str) -> str:
        if kind not in dirs:
            dirs[kind] = str(tmp_path_factory.mktemp(f"staged_{kind}"))
            stage(spark, kind, INPUTS[kind](spark), dirs[kind])
        return dirs[kind]

    return get


@pytest.fixture(scope="module")
def built_index(spark, tmp_path_factory):
    """IVF and PQ artifacts built once over vec_id < 300; each job copies them."""
    from cloudcomputing_flink_application_spark.operators import similarity as S

    root = tmp_path_factory.mktemp("index")
    S.build_ivf_index(corpus(spark), str(root / "ivf"), iters=0)
    S.build_pq_index(corpus(spark), str(root / "pq"))
    return root


def run_all(queries) -> None:
    """Drain the started queries, which run concurrently, then stop them."""
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()


def commits(chk: str) -> list[str]:
    return sorted((f for f in os.listdir(f"{chk}/commits") if not f.startswith(".")), key=int)


@pytest.mark.parametrize("kind", sorted(INPUTS))
def test_jobs_exactly_once_across_restart_replay_and_rerun(spark, tmp_path, request, staged_inputs, kind):
    """Every job reading ``kind`` input, each its own query on its own
    checkpoint; the jobs of one kind run side by side to share the wait."""
    names = sorted(n for n, job in JOBS.items() if job.kind == kind)
    d_in = str(tmp_path / "in")
    shutil.copytree(staged_inputs(kind), d_in)
    root = {n: str(tmp_path / n / "sinks") for n in names}
    chk = {n: str(tmp_path / n / "chk") for n in names}
    if kind == "embs":
        for n in names:
            for artifact in ("ivf", "pq"):
                shutil.copytree(request.getfixturevalue("built_index") / artifact, f"{root[n]}/{artifact}")

    def start_all(per_file: bool) -> list:
        return [JOBS[n].start(spark, source(spark, kind, d_in, per_file), root[n], chk[n]) for n in names]

    run_all(start_all(True))
    for n in names:
        assert commits(chk[n]) == ["0", "1"], n
        for f in ("1", ".1.crc"):
            os.remove(f"{chk[n]}/commits/{f}")
    restarted = start_all(True)
    run_all(restarted)
    for n, q in zip(names, restarted):
        assert commits(chk[n]) == ["0", "1"], n
        assert q.lastProgress["batchId"] == 1, n  # the restart replayed batch 1

    inputs = read_all(spark, kind, d_in)
    want = {}
    for n in names:
        pairs = JOBS[n].expect(spark, root[n], inputs)
        want[n] = {k: rows_bag(w) for k, (_, w) in pairs.items()}
        assert all(sum(w.values()) > 0 for w in want[n].values()), f"{n}: degenerate"
        for k, (got, _) in pairs.items():
            assert rows_bag(got) == want[n][k], f"{n}/{k} after restart + replay"

    for n in names:
        shutil.rmtree(chk[n])  # a fresh checkpoint over the dirty sinks
    run_all(start_all(False))
    for n in names:
        assert commits(chk[n]) == ["0"], n
        for k, (got, _) in JOBS[n].expect(spark, root[n], inputs).items():
            assert rows_bag(got) == want[n][k], f"{n}/{k} after a fresh-checkpoint rerun"


def test_only_the_driver_calls_foreach_batch():
    """The exactly-once contract lives in one place: no module but
    ``streaming/jobs.py`` calls ``.foreachBatch(``, and there only
    ``_run_incremental`` does."""
    import cloudcomputing_flink_application_spark as pkg_mod

    pkg = os.path.dirname(pkg_mod.__file__)
    callers = []
    for root, _, files in os.walk(pkg):
        for f in (f for f in files if f.endswith(".py")):
            path = os.path.join(root, f)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if isinstance(node, ast.Attribute) and node.attr == "foreachBatch":
                    owner = next(
                        (
                            fn.name
                            for fn in tree.body
                            if isinstance(fn, ast.FunctionDef) and fn.lineno <= node.lineno <= fn.end_lineno
                        ),
                        None,
                    )
                    callers.append((os.path.relpath(path, pkg), owner))
    assert callers == [(os.path.join("streaming", "jobs.py"), "_run_incremental")], callers
