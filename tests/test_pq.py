"""Product-quantization (r9) behavior pins.

Oracle parity (rows+schema+values, both SFs) for all four PQ operators
lives in tests/test_offregistry_parity.py; these tests pin the properties
the parity gate cannot express:

- the code space is DENSE 0..C-1 per subspace (what makes positional
  array indexing in the packed encode/LUT paths safe),
- encode is layout-independent and deterministic,
- the ADC score is EXACTLY sum_m dot(q_m, centroid[code_m]) — verified
  against an independent pure-Python recomputation from the collected
  codebook and codes,
- on CLUSTERED embeddings (the regime PQ exists for) recall stays high
  while storage drops 32x,
- the scan-fused encode claim: with an explicit codebook the corpus side
  never shuffles (no SMJ/shuffled-hash join, one corpus scan, exchanges
  confined to the m*ksub-row codebook packing),
- a non-divisible embedding dim fails loudly (raise_error, not silent
  truncation).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cloudcomputing_flink_application_spark import fixtures
from cloudcomputing_flink_application_spark.operators import similarity as S
from cloudcomputing_flink_application_spark.plans.inspect import physical_plan
from tests.conftest import TESTDATA

SF_DIR = f"{TESTDATA}/sf0.001"


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_codebook_dense_codes_per_sub(embs):
    cb = S.pq_codebook(embs).collect()
    by_sub: dict[int, list[int]] = {}
    for r in cb:
        by_sub.setdefault(r.sub, []).append(r.code)
    assert sorted(by_sub) == list(range(S.PQ_M))
    for sub, codes in by_sub.items():
        # dense 0..C-1: seeds assign codes rk-1 contiguously and
        # carry-forward preserves the set — positional indexing in
        # _pq_packed relies on exactly this
        assert sorted(codes) == list(range(len(codes))), (sub, sorted(codes))
        assert len(codes) <= S.PQ_KSUB
    # every centroid slice has the subvector width
    dim = len(cb[0].cemb) * S.PQ_M
    assert all(len(r.cemb) == dim // S.PQ_M for r in cb)


def test_encode_deterministic_and_layout_independent(embs):
    a = {(r.vec_id, r.code_csv) for r in S.pq_encode(embs).collect()}
    b = {
        (r.vec_id, r.code_csv)
        for r in S.pq_encode(embs.repartition(7)).collect()
    }
    assert a == b
    assert len(a) == embs.count()
    # codes in range
    for _, csv in a:
        codes = [int(c) for c in csv.split(",")]
        assert len(codes) == S.PQ_M
        assert all(0 <= c < S.PQ_KSUB for c in codes)


def test_adc_score_matches_python_recomputation(embs):
    """pq_topk's adc must equal sum_m dot(q_m, centroid[code_m]) computed
    independently from the collected codebook + codes — the ADC contract,
    not just cross-engine agreement on one formula."""
    cb = S.pq_codebook(embs)
    cb.persist()
    try:
        cent = {(r.sub, r.code): r.cemb for r in cb.collect()}
        codes = {
            r.vec_id: [int(c) for c in r.code_csv.split(",")]
            for r in S.pq_encode(embs, codebook=cb).collect()
        }
        qvecs = {
            r.vec_id: [float(x) for x in r.embedding]
            for r in embs.filter(
                F.col("vec_id") % S.QUERY_STRIDE == 0
            ).collect()
        }
        dsub = len(next(iter(qvecs.values()))) // S.PQ_M
        rows = S.pq_topk(embs, codebook=cb).collect()
        assert rows
        for r in rows:
            q = qvecs[r.query_id]
            expect = 0.0
            for m in range(S.PQ_M):
                qm = q[m * dsub : (m + 1) * dsub]
                cm = cent[(m, codes[r.neighbor_id][m])]
                expect += sum(x * y for x, y in zip(qm, cm))
            assert r.adc == pytest.approx(expect, rel=1e-9), (
                r.query_id,
                r.neighbor_id,
            )
    finally:
        cb.unpersist()


def test_pq_recall_on_clustered_embeddings(spark, tmp_path):
    """Both sides of the PQ accuracy story, on the clustered fixture:

    - RAW ADC recall@5 is MODERATE (~0.33 measured): 8-byte code
      reproductions cannot separate near-identical within-cluster
      neighbors — the textbook PQ limitation the recall report exists to
      surface.  Pinned as a band: well above random (5/800 ~ 0.006), well
      below the rerank path.
    - shortlist-50 + exact rerank restores recall ~1.0 touching only 50
      raw vectors per query — the production composition
      (``pq_topk_rerank``)."""
    p = str(tmp_path / "clustered.parquet")
    fixtures.write_clustered_embeddings(p, n=800)
    embs = spark.read.parquet(p)
    raw = S.pq_recall_report(embs).agg(
        (F.sum("n_hits") / F.sum("n_exact")).alias("recall")
    ).first()["recall"]
    assert 0.1 <= raw <= 0.7, raw
    exact = S.cosine_topk(embs).select("query_id", "neighbor_id")
    rer = S.pq_topk_rerank(embs).select("query_id", "neighbor_id")
    hits = exact.join(rer, ["query_id", "neighbor_id"]).count()
    assert hits / exact.count() >= 0.95, hits / exact.count()


def test_pq_rerank_rejects_k_above_shortlist(embs):
    with pytest.raises(ValueError, match="shortlist"):
        S.pq_topk_rerank(embs, k=10, shortlist=5)


def test_encode_explicit_codebook_is_scan_fused(spark, embs):
    """The 100 TB encode-pass claim: with an explicit codebook the corpus
    side is a pure map job — one embeddings scan, no sort-merge or
    shuffled-hash join anywhere, and the only exchanges belong to the
    m*ksub-row codebook packing (never the corpus)."""
    cb = spark.createDataFrame(
        [
            (sub, code, [float(sub + code + p) for p in range(8)])
            for sub in range(S.PQ_M)
            for code in range(4)
        ],
        "sub INT, code INT, cemb ARRAY<DOUBLE>",
    )
    plan = physical_plan(S.pq_encode(embs, codebook=cb))
    assert plan.count("embeddings.parquet") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    # codebook packing = two tiny aggregations; nothing else may shuffle
    # (BroadcastExchange is the broadcast itself, not a shuffle)
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles <= 2, plan
    # and the corpus branch feeds the broadcast join STRAIGHT from the
    # scan: the join's streaming side is the projected file scan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_gappy_explicit_codebook_fails_loudly(spark, embs):
    """The packed positional-indexing contract is VALIDATED on the public
    explicit-codebook path: a stored artifact with a code gap (or
    non-contiguous subs) must raise, not silently encode array positions
    as codes (r9 review)."""
    gappy = spark.createDataFrame(
        [
            (sub, code, [float(sub + code + p) for p in range(8)])
            for sub in range(S.PQ_M)
            for code in (0, 2, 3)  # code 1 missing
        ],
        "sub INT, code INT, cemb ARRAY<DOUBLE>",
    )
    with pytest.raises(Exception, match="dense"):
        S.pq_encode(embs, codebook=gappy).collect()
    bad_subs = spark.createDataFrame(
        [
            (sub, code, [float(sub + code + p) for p in range(8)])
            for sub in (0, 2, 3, 4, 5, 6, 7, 8)  # sub 1 missing
            for code in range(4)
        ],
        "sub INT, code INT, cemb ARRAY<DOUBLE>",
    )
    with pytest.raises(Exception, match="contiguous"):
        S.pq_encode(embs, codebook=bad_subs).collect()


def test_non_divisible_dim_fails_loudly(spark):
    bad = spark.createDataFrame(
        [(1, [1.0] * 63, 0), (2, [2.0] * 63, 1)],
        "vec_id LONG, embedding ARRAY<FLOAT>, label INT",
    )
    with pytest.raises(Exception, match="multiple of m"):
        S.pq_encode(bad).collect()


def test_pq_empty_input(embs):
    empty = embs.limit(0)
    assert S.pq_train_stats(empty).count() == 0
    assert S.pq_encode(empty).count() == 0
    assert S.pq_topk(empty).count() == 0
    assert S.pq_recall_report(empty).count() == 0


def test_ivfpq_index_layout_independent_and_typed(embs):
    a = {
        (r.vec_id, r.cluster, r.code_csv)
        for r in S.ivfpq_index(embs).collect()
    }
    b = {
        (r.vec_id, r.cluster, r.code_csv)
        for r in S.ivfpq_index(embs.repartition(7)).collect()
    }
    assert a == b
    assert len(a) == embs.count()
    for _, cluster, csv in a:
        # narrow IVF encoding at tested SFs + dense PQ codes
        assert 0 <= cluster < 10**15
        codes = [int(c) for c in csv.split(",")]
        assert len(codes) == S.PQ_M
        assert all(0 <= c < S.PQ_KSUB for c in codes)


def test_ivfpq_search_plan_has_no_corpus_shuffle_join(spark, embs):
    """The IVFADC search claim: the index side is only ever touched via
    broadcast equi-joins (probes on cluster, shortlist on vec_id) — no
    sort-merge or shuffled-hash join anywhere in the composed plan; the
    corpus-sized exchanges are the per-query ranking windows alone."""
    plan = physical_plan(S.ivfpq_topk(embs))
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ivfpq_recall_on_clustered_embeddings(spark, tmp_path):
    """Composed recall: cell pruning (nprobe=40 of K=50) stacked on the
    ADC shortlist still recovers the exact top-k on clustered data at
    low blob density — the full-architecture operating point."""
    p = str(tmp_path / "clustered_ivfpq.parquet")
    fixtures.write_clustered_embeddings(p, n=800)
    embs = spark.read.parquet(p)
    exact = S.cosine_topk(embs).select("query_id", "neighbor_id")
    got = S.ivfpq_topk(embs).select("query_id", "neighbor_id")
    hits = exact.join(got, ["query_id", "neighbor_id"]).count()
    assert hits / exact.count() >= 0.9, hits / exact.count()


def test_ivfpq_rejects_k_above_shortlist(embs):
    with pytest.raises(ValueError, match="shortlist"):
        S.ivfpq_topk(embs, k=10, shortlist=5)


def test_ann_topk_union_has_three_methods(embs):
    methods = {
        r.method
        for r in S.topk_methods(embs).select("method").distinct().collect()
    }
    assert methods == {"brute", "ivf", "pq"}


def test_pq_lifecycle_lock_fencing_and_rebuild(spark, tmp_path, embs):
    """The rebuild/stream contract on the PQ store: a forget lock fences
    the encode stream (its next batch fails loudly instead of appending
    old-codebook codes), and a REBUILD statically drops the previous
    stream's partitions — stale codes from the old codebook never
    survive under the new one."""
    import os

    from pyspark.sql import functions as F

    from cloudcomputing_flink_application_spark import schemas
    from cloudcomputing_flink_application_spark.streaming import jobs

    root = str(tmp_path / "root")
    d_in = str(tmp_path / "in")
    chk = str(tmp_path / "chk")
    a = embs.filter(F.col("vec_id") < 250)
    b = embs.filter(F.col("vec_id") >= 250)
    S.build_pq_index(a, root)
    b.write.parquet(f"{d_in}/b0.parquet")
    q = jobs.run_pq_encode_stream(
        spark,
        spark.readStream.schema(schemas.EMBEDDINGS).parquet(f"{d_in}/*"),
        chk,
        root,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_all = spark.read.parquet(f"{root}/codes").count()
    assert n_all == embs.count()
    # lock fences the stream
    with open(f"{root}/codes.forget_lock", "w"):
        pass
    embs.limit(5).write.parquet(f"{d_in}/b1.parquet")
    q = jobs.run_pq_encode_stream(
        spark,
        spark.readStream.schema(schemas.EMBEDDINGS).parquet(f"{d_in}/*"),
        chk,
        root,
    )
    with pytest.raises(Exception, match="forget-lock"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    os.remove(f"{root}/codes.forget_lock")
    # the refused batch left the checkpoint uncommitted — a rebuild now
    # must REFUSE (its overwrite + the replay would race); the documented
    # recovery is to resume the stream so the in-flight batch commits
    with pytest.raises(RuntimeError, match="uncommitted"):
        S.build_pq_index(b, root, checkpoint_dir=chk)
    q = jobs.run_pq_encode_stream(
        spark,
        spark.readStream.schema(schemas.EMBEDDINGS).parquet(f"{d_in}/*"),
        chk,
        root,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # now the rebuild proceeds and statically drops the stream partitions
    S.build_pq_index(b, root, checkpoint_dir=chk)
    codes = spark.read.parquet(f"{root}/codes")
    assert codes.count() == b.count()
    batches = {int(r.batch_id) for r in
               codes.select("batch_id").distinct().collect()}
    assert batches == {0}
    assert not os.path.exists(f"{root}/codes.forget_lock")


def test_pq_encode_stream_requires_built_root(spark, tmp_path, embs):
    from cloudcomputing_flink_application_spark import schemas
    from cloudcomputing_flink_application_spark.streaming import jobs

    d_in = str(tmp_path / "in")
    embs.limit(5).write.parquet(f"{d_in}/b0.parquet")
    with pytest.raises(ValueError, match="no pq_meta"):
        jobs.run_pq_encode_stream(
            spark,
            spark.readStream.schema(schemas.EMBEDDINGS).parquet(f"{d_in}/*"),
            str(tmp_path / "chk"),
            str(tmp_path / "nowhere"),
        )


def test_pq_legacy_unpartitioned_store_refused(spark, tmp_path, embs):
    """A pre-r9 codes store (data files at the dir root, no batch_id
    partitions) must REFUSE the stream and the forget instead of mixing
    layouts / silently no-opping a compliance deletion (r9 review)."""
    from cloudcomputing_flink_application_spark import schemas
    from cloudcomputing_flink_application_spark.streaming import jobs

    root = str(tmp_path / "root")
    a = embs.filter(F.col("vec_id") < 100)
    S.build_pq_index(a, root)
    # rewrite the codes store in the legacy unpartitioned layout
    legacy = S.pq_encode(
        a, codebook=S.read_pq_codebook(spark, root)
    ).collect()
    import shutil

    shutil.rmtree(f"{root}/codes")
    spark.createDataFrame(legacy).write.parquet(f"{root}/codes")
    d_in = str(tmp_path / "in")
    embs.limit(5).write.parquet(f"{d_in}/b0.parquet")
    with pytest.raises(RuntimeError, match="unpartitioned"):
        jobs.run_pq_encode_stream(
            spark,
            spark.readStream.schema(schemas.EMBEDDINGS).parquet(f"{d_in}/*"),
            str(tmp_path / "chk"),
            root,
        )
    with pytest.raises(RuntimeError, match="unpartitioned"):
        jobs.forget_pq_vecs(spark, root, [1, 2], None)
    # the refusal released the lock it created, and the store is intact
    import os

    assert not os.path.exists(f"{root}/codes.forget_lock")
    assert spark.read.parquet(f"{root}/codes").count() == len(legacy)
    # the documented migration: --encode-only rewrites it partitioned,
    # after which both operations proceed
    S.replace_pq_codes(a, root)
    jobs.forget_pq_vecs(spark, root, [int(legacy[0].vec_id)], None)
    after = spark.read.parquet(f"{root}/codes")
    assert after.count() == len(legacy) - 1
    assert {int(r.batch_id) for r in after.select("batch_id").distinct().collect()} == {0}


def test_build_pq_index_releases_lock_on_plan_failure(spark, tmp_path):
    """An analysis-time failure (bad input schema) happens before any
    artifact write, so the lock releases — the stream may keep running
    against the old artifact (build_ivf_index convention)."""
    import os

    root = str(tmp_path / "root")
    bad = spark.createDataFrame([(1, "x")], "vec_id LONG, not_emb STRING")
    with pytest.raises(Exception):
        S.build_pq_index(bad, root)
    assert not os.path.exists(f"{root}/codes.forget_lock")
    assert not os.path.exists(f"{root}/pq_codebook")


def test_pq_compact_batch_store(spark, tmp_path, embs):
    """compact_batch_store folds the codes store's stream partitions into
    one: rows identical, build batch 0 untouched, a resumed stream
    appends at a strictly higher partition, and a forget after the
    compaction is still exact."""
    import os

    from cloudcomputing_flink_application_spark import schemas
    from cloudcomputing_flink_application_spark.streaming import jobs

    root = str(tmp_path / "root")
    d_in = str(tmp_path / "in")
    chk = str(tmp_path / "chk")
    S.build_pq_index(embs.filter(F.col("vec_id") < 200), root)

    def stream_in(df, name):
        df.write.parquet(f"{d_in}/{name}")
        q = jobs.run_pq_encode_stream(
            spark,
            spark.readStream.schema(schemas.EMBEDDINGS).parquet(f"{d_in}/*"),
            chk,
            root,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    stream_in(embs.filter("vec_id >= 200 and vec_id < 350"), "b0.parquet")
    stream_in(embs.filter("vec_id >= 350 and vec_id < 480"), "b1.parquet")
    before = {
        (r.vec_id, r.code_csv)
        for r in spark.read.parquet(f"{root}/codes").collect()
    }
    jobs.compact_batch_store(spark, f"{root}/codes", chk)
    codes = spark.read.parquet(f"{root}/codes")
    assert {
        (r.vec_id, r.code_csv) for r in codes.collect()
    } == before  # rows untouched
    parts = {int(r.batch_id) for r in codes.select("batch_id").distinct().collect()}
    assert parts == {0, 2}  # stream partitions folded, foundation kept
    assert not os.path.exists(f"{root}/codes.forget_lock")
    # a second compaction is a no-op (snap == only stream partition)
    jobs.compact_batch_store(spark, f"{root}/codes", chk)
    assert {
        (r.vec_id, r.code_csv)
        for r in spark.read.parquet(f"{root}/codes").collect()
    } == before
    # the resumed stream appends strictly above the snapshot partition
    stream_in(embs.filter("vec_id >= 480 and vec_id < 500"), "b2.parquet")
    after = spark.read.parquet(f"{root}/codes")
    parts = {int(r.batch_id) for r in after.select("batch_id").distinct().collect()}
    assert parts == {0, 2, 3}
    assert after.count() == len(before) + 20
    # forget over the compacted store is still exact
    jobs.forget_pq_vecs(spark, root, [0, 210, 490], None)
    got = spark.read.parquet(f"{root}/codes")
    assert got.count() == len(before) + 20 - 3
    assert got.filter("vec_id in (0, 210, 490)").count() == 0
    # a pre-existing maintenance lock refuses the compaction (a crashed
    # forget's pending deletion must not be silently dropped)
    with open(f"{root}/codes.forget_lock", "w"):
        pass
    with pytest.raises(RuntimeError, match="crashed"):
        jobs.compact_batch_store(spark, f"{root}/codes", chk)
    assert os.path.exists(f"{root}/codes.forget_lock")  # lock stays
    os.remove(f"{root}/codes.forget_lock")


def test_ivfpq_topk_from_index_matches_inmemory(spark, tmp_path, embs):
    """The stored-artifact search path == the in-memory composition when
    both roots are built from the same corpus at the default geometry
    (same seeds, same codes, literally shared search stages), and the
    lifecycle composes: a forgotten vector drops out of the results
    without a rebuild."""
    from cloudcomputing_flink_application_spark.streaming import jobs

    ivf_root = str(tmp_path / "ivf")
    pq_root = str(tmp_path / "pq")
    S.build_ivf_index(embs, ivf_root, iters=0)
    S.build_pq_index(embs, pq_root)  # iters=1, ivfpq_topk's default
    got = {
        tuple(r)
        for r in S.ivfpq_topk_from_index(
            spark, ivf_root, pq_root, embs
        ).collect()
    }
    want = {tuple(r) for r in S.ivfpq_topk(embs).collect()}
    assert got == want
    # compliance deletion composes with search: forget a neighbor from
    # BOTH stores and it disappears from the results, no rebuild
    victim = next(iter(got))[1]
    jobs.forget_vecs(spark, ivf_root, [victim], None)
    jobs.forget_pq_vecs(spark, pq_root, [victim], None)
    after = S.ivfpq_topk_from_index(spark, ivf_root, pq_root, embs)
    assert after.filter(F.col("neighbor_id") == victim).count() == 0
    # an unbuilt PQ root refuses with the lifecycle's error
    with pytest.raises(ValueError, match="no pq_meta"):
        S.ivfpq_topk_from_index(
            spark, ivf_root, str(tmp_path / "void"), embs
        )


def test_compact_crash_recovery_and_lock_owners(spark, tmp_path, embs, monkeypatch):
    """The compaction crash protocol: a crash at the commit point leaves
    the marker + staged snapshot and the owner-tagged lock; the RE-RUN
    resumes under its own lock and rolls forward to the identical store.
    A staging dir WITHOUT the marker rolls back.  Lock ownership: a
    forget's lock refuses compaction (by name), while a crashed
    compaction's lock does not block a forget (it heals first)."""
    import os

    from cloudcomputing_flink_application_spark import schemas
    from cloudcomputing_flink_application_spark.streaming import jobs

    root = str(tmp_path / "root")
    d_in = str(tmp_path / "in")
    chk = str(tmp_path / "chk")
    S.build_pq_index(embs.filter(F.col("vec_id") < 200), root)
    for lo, hi, name in ((200, 350, "b0"), (350, 500, "b1")):
        embs.filter(f"vec_id >= {lo} and vec_id < {hi}").write.parquet(
            f"{d_in}/{name}.parquet"
        )
        q = jobs.run_pq_encode_stream(
            spark,
            spark.readStream.schema(schemas.EMBEDDINGS).parquet(f"{d_in}/*"),
            chk,
            root,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    codes = f"{root}/codes"
    before = {
        (r.vec_id, r.code_csv) for r in spark.read.parquet(codes).collect()
    }
    # crash AT the commit point: marker + staged snapshot exist, store
    # untouched, lock held by 'compact'
    def boom(*a, **kw):
        raise RuntimeError("injected crash after commit marker")

    monkeypatch.setattr(jobs, "_finish_compact", boom)
    with pytest.raises(RuntimeError, match="injected"):
        jobs.compact_batch_store(spark, codes, chk)
    monkeypatch.undo()
    assert os.path.exists(f"{codes}.forget_lock")
    assert os.path.exists(f"{codes}.compact_tmp")
    assert any(
        e.startswith("codes.compact_commit.") for e in os.listdir(root)
    )
    assert {
        (r.vec_id, r.code_csv) for r in spark.read.parquet(codes).collect()
    } == before  # store untouched pre-mutation
    # the stream refuses under the crashed compaction's lock
    embs.limit(3).write.parquet(f"{d_in}/b2.parquet")
    q = jobs.run_pq_encode_stream(
        spark,
        spark.readStream.schema(schemas.EMBEDDINGS).parquet(f"{d_in}/*"),
        chk,
        root,
    )
    with pytest.raises(Exception, match="forget-lock"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    # the RE-RUN resumes under its own lock and rolls forward
    jobs.compact_batch_store(spark, codes, chk)
    after = spark.read.parquet(codes)
    assert {(r.vec_id, r.code_csv) for r in after.collect()} == before
    assert {
        int(r.batch_id) for r in after.select("batch_id").distinct().collect()
    } == {0, 2}
    assert not os.path.exists(f"{codes}.forget_lock")
    assert not os.path.exists(f"{codes}.compact_tmp")
    assert not any(
        e.startswith("codes.compact_commit.") for e in os.listdir(root)
    )
    # a stale staging dir with NO marker rolls back (and compaction with
    # fewer than two stream partitions is a true no-op)
    os.makedirs(f"{codes}.compact_tmp/batch_id=9")
    with open(f"{codes}.forget_lock", "w") as fh:
        fh.write("compact")
    jobs.compact_batch_store(spark, codes, chk)
    assert not os.path.exists(f"{codes}.compact_tmp")
    assert not os.path.exists(f"{codes}.forget_lock")
    assert {
        (r.vec_id, r.code_csv) for r in spark.read.parquet(codes).collect()
    } == before
    # a FORGET's crashed lock refuses compaction by name...
    with open(f"{codes}.forget_lock", "w") as fh:
        fh.write("forget/build")
    with pytest.raises(RuntimeError, match="owned by 'forget/build'"):
        jobs.compact_batch_store(spark, codes, chk)
    assert os.path.exists(f"{codes}.forget_lock")
    os.remove(f"{codes}.forget_lock")
    # ...but a crashed compaction's lock does NOT block a forget: it
    # heals (rolls forward) and proceeds.  Fabricate the commit-point
    # state again, then forget under it.
    monkeypatch.setattr(jobs, "_finish_compact", boom)
    # un-compact first so there is something to fold: stream one more file
    q = jobs.run_pq_encode_stream(
        spark,
        spark.readStream.schema(schemas.EMBEDDINGS).parquet(f"{d_in}/*"),
        chk,
        root,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    with pytest.raises(RuntimeError, match="injected"):
        jobs.compact_batch_store(spark, codes, chk)
    monkeypatch.undo()
    pre = spark.read.parquet(codes)
    n_before_forget = pre.count()
    # the replayed b2 file re-sent vec_ids 0..2, so those ids hold TWO
    # rows each (union-of-arrivals contract); the forget removes all
    n_victim_rows = pre.filter("vec_id in (0, 1)").count()
    jobs.forget_pq_vecs(spark, root, [0, 1], None)
    got = spark.read.parquet(codes)
    assert got.count() == n_before_forget - n_victim_rows
    assert got.filter("vec_id in (0, 1)").count() == 0
    assert not os.path.exists(f"{codes}.forget_lock")
    assert not os.path.exists(f"{codes}.compact_tmp")


def test_ivfpq_from_index_dedups_rearrived_vectors(spark, tmp_path, embs):
    """A vector re-sent in a later micro-batch holds rows in two store
    partitions (the union-of-arrivals contract); the from-index search
    must not let the copies occupy two ranks (r9 review catch): every
    (query_id, neighbor_id) appears once and ranks stay 1..k."""
    from cloudcomputing_flink_application_spark import schemas
    from cloudcomputing_flink_application_spark.streaming import jobs

    ivf_root = str(tmp_path / "ivf")
    pq_root = str(tmp_path / "pq")
    d_in = str(tmp_path / "in")
    S.build_ivf_index(embs, ivf_root, iters=0)
    S.build_pq_index(embs, pq_root)
    # re-send 50 vectors through BOTH stores' streams
    dup = embs.filter("vec_id < 50")
    dup.write.parquet(f"{d_in}/again.parquet")
    for chk, start, root in (
        (str(tmp_path / "chk_ivf"), jobs.run_ivf_assign_stream, ivf_root),
        (str(tmp_path / "chk_pq"), jobs.run_pq_encode_stream, pq_root),
    ):
        q = start(
            spark,
            spark.readStream.schema(schemas.EMBEDDINGS).parquet(f"{d_in}/*"),
            chk,
            root,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    # both stores now hold duplicate rows for the re-sent ids
    asg = spark.read.parquet(f"{ivf_root}/assignments")
    assert asg.filter("vec_id < 50").count() == 100
    out = S.ivfpq_topk_from_index(spark, ivf_root, pq_root, embs)
    pairs = out.groupBy("query_id", "neighbor_id").count()
    assert pairs.filter("count > 1").count() == 0
    ranks = {
        (r.query_id, r.rank) for r in out.select("query_id", "rank").collect()
    }
    n_queries = out.select("query_id").distinct().count()
    assert len(ranks) == n_queries * 5  # ranks 1..k, no duplicates
    # and the result equals the duplicate-free search exactly
    clean = {
        tuple(r)
        for r in S.ivfpq_topk(embs).collect()
    }
    assert {tuple(r) for r in out.collect()} == clean


def test_ivfpq_search_stream_serves_from_live_artifacts(spark, tmp_path, embs):
    """The online search half: query vectors stream in, every micro-batch
    is served from the stored artifacts AS THEY STAND — batch N's rows
    equal the batch operator over that query frame, an explicit external
    query set (ids not in the corpus) works, and a forget between
    batches reaches the serving path (the forgotten vector stops being
    returned, no rebuild)."""
    from cloudcomputing_flink_application_spark import schemas
    from cloudcomputing_flink_application_spark.streaming import jobs

    ivf_root = str(tmp_path / "ivf")
    pq_root = str(tmp_path / "pq")
    d_in = str(tmp_path / "queries")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    S.build_ivf_index(embs, ivf_root, iters=0)
    S.build_pq_index(embs, pq_root)

    # external query ids (shifted out of the corpus id space)
    q1 = embs.filter("vec_id < 20").select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    q1.write.parquet(f"{d_in}/q1.parquet")

    def run():
        q = jobs.run_ivfpq_search_stream(
            spark,
            spark.readStream.schema(schemas.EMBEDDINGS).parquet(f"{d_in}/*"),
            chk,
            out,
            ivf_root,
            pq_root,
            embs,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run()
    got1 = {
        tuple(r)
        for r in spark.read.parquet(out)
        .filter("batch_id = 0")
        .drop("batch_id")
        .collect()
    }
    want1 = {
        tuple(r)
        for r in S.ivfpq_topk_from_index(
            spark, ivf_root, pq_root, embs, queries=spark.read.parquet(f"{d_in}/q1.parquet")
        ).collect()
    }
    assert got1 == want1 and len(got1) == 20 * 5  # every row queries
    # forget a returned neighbor from both stores, then serve batch 2:
    # the compliance deletion reaches the serving path immediately
    victim = next(iter(got1))[1]
    jobs.forget_vecs(spark, ivf_root, [victim], None)
    jobs.forget_pq_vecs(spark, pq_root, [victim], None)
    q1.write.parquet(f"{d_in}/q2.parquet")  # same queries, new batch
    run()
    served = spark.read.parquet(out).filter("batch_id = 1")
    assert served.count() == 20 * 5
    assert served.filter(F.col("neighbor_id") == victim).count() == 0


def test_recover_compact_every_crash_window(spark, tmp_path, embs):
    """_recover_compact is exercised at every distinct crash window of
    the stage-mark-finish protocol, with states fabricated directly on
    disk: (W1) staged + marker, store untouched; (W2) stream dirs
    deleted, snapshot not yet moved; (W3) snapshot moved, cleanup
    pending.  Each recovery must land on the identical folded store."""
    import glob as globmod
    import os
    import shutil

    from cloudcomputing_flink_application_spark.streaming import jobs

    base_root = str(tmp_path / "base")
    S.build_pq_index(embs.filter(F.col("vec_id") < 150), base_root)
    # fabricate two stream partitions by copying batch 0's files under
    # new partition ids with distinct vec_id ranges
    enc = S.pq_encode(
        embs.filter("vec_id >= 150 and vec_id < 300"),
        codebook=S.read_pq_codebook(spark, base_root),
    )
    enc.filter("vec_id < 220").withColumn("batch_id", F.lit(1)).write.mode(
        "append"
    ).partitionBy("batch_id").parquet(f"{base_root}/codes")
    enc.filter("vec_id >= 220").withColumn("batch_id", F.lit(2)).write.mode(
        "append"
    ).partitionBy("batch_id").parquet(f"{base_root}/codes")
    want = {
        (r.vec_id, r.code_csv)
        for r in spark.read.parquet(f"{base_root}/codes").collect()
    }

    def fabricate(window: str) -> str:
        root = str(tmp_path / window)
        shutil.copytree(base_root, root)
        codes = f"{root}/codes"
        tmp = f"{codes}.compact_tmp"
        # a complete staged snapshot = both stream partitions' files
        # under one batch_id=2 dir (parquet dirs union their files)
        os.makedirs(f"{tmp}/batch_id=2")
        i = 0
        for src_dir in (f"{codes}/batch_id=1", f"{codes}/batch_id=2"):
            for f in globmod.glob(f"{src_dir}/part-*"):
                shutil.copy(f, f"{tmp}/batch_id=2/part-{i:05d}-copy.parquet")
                i += 1
        with open(f"{codes}.compact_commit.2", "w"):
            pass
        if window in ("w2", "w3"):
            shutil.rmtree(f"{codes}/batch_id=1")
            shutil.rmtree(f"{codes}/batch_id=2")
        if window == "w3":
            os.rename(f"{tmp}/batch_id=2", f"{codes}/batch_id=2")
        return root

    for window in ("w1", "w2", "w3"):
        root = fabricate(window)
        codes = f"{root}/codes"
        jobs._recover_compact(spark, codes)
        got = {
            (r.vec_id, r.code_csv) for r in spark.read.parquet(codes).collect()
        }
        assert got == want, window
        parts = {
            int(r.batch_id)
            for r in spark.read.parquet(codes)
            .select("batch_id").distinct().collect()
        }
        assert parts == {0, 2}, window
        assert not os.path.exists(f"{codes}.compact_tmp"), window
        assert not os.path.exists(f"{codes}.compact_commit.2"), window


def test_latest_per_vec_update_semantics(spark):
    """The latest-batch-wins store read: a re-sent vector's NEWEST row is
    served deterministically (the update path), replay copies of one
    batch collapse, and untouched vectors pass through."""
    rows = spark.createDataFrame(
        [
            (1, "old", 1),
            (1, "new", 3),   # vec 1 updated in a later batch
            (2, "only", 1),
            (3, "dup", 2),
            (3, "dup", 2),   # same-batch replay copy
        ],
        "vec_id LONG, code_csv STRING, batch_id INT",
    )
    got = {
        (r.vec_id, r.code_csv)
        for r in S._latest_per_vec(rows, "code_csv").collect()
    }
    assert got == {(1, "new"), (2, "only"), (3, "dup")}


def test_ivfpq_from_index_dedups_corpus_side(spark, tmp_path, embs):
    """The rerank/query corpus can be the accumulated arrivals store
    (duplicate vec_ids): the from-index search output must equal the
    duplicate-free run — the rerank join must not emit a pair at two
    ranks (r9 review catch on the first dedup fix)."""
    ivf_root = str(tmp_path / "ivf")
    pq_root = str(tmp_path / "pq")
    S.build_ivf_index(embs, ivf_root, iters=0)
    S.build_pq_index(embs, pq_root)
    want = {
        tuple(r)
        for r in S.ivfpq_topk_from_index(
            spark, ivf_root, pq_root, embs
        ).collect()
    }
    dup_corpus = embs.unionByName(embs.filter("vec_id < 100"))
    got = {
        tuple(r)
        for r in S.ivfpq_topk_from_index(
            spark, ivf_root, pq_root, dup_corpus
        ).collect()
    }
    assert got == want


def test_compact_after_checkpoint_reset_folds_everything(spark, tmp_path, embs):
    """A deleted checkpoint (the fresh-checkpoint restart flow) means
    nothing is in flight: compaction folds every stream partition
    instead of silently no-opping on a commit bound of 0 (r9 review
    catch on the committed-bounded fold)."""
    import shutil

    from cloudcomputing_flink_application_spark import schemas
    from cloudcomputing_flink_application_spark.streaming import jobs

    root = str(tmp_path / "root")
    d_in = str(tmp_path / "in")
    chk = str(tmp_path / "chk")
    S.build_pq_index(embs.filter(F.col("vec_id") < 200), root)
    for k, (lo, hi) in enumerate(((200, 350), (350, 500))):
        embs.filter(f"vec_id >= {lo} and vec_id < {hi}").write.parquet(
            f"{d_in}/b{k}.parquet"
        )
        q = jobs.run_pq_encode_stream(
            spark,
            spark.readStream.schema(schemas.EMBEDDINGS).parquet(f"{d_in}/*"),
            chk,
            root,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    before = {
        (r.vec_id, r.code_csv)
        for r in spark.read.parquet(f"{root}/codes").collect()
    }
    shutil.rmtree(chk)  # the fresh-checkpoint restart flow
    jobs.compact_batch_store(spark, f"{root}/codes", chk)
    codes = spark.read.parquet(f"{root}/codes")
    assert {(r.vec_id, r.code_csv) for r in codes.collect()} == before
    assert {
        int(r.batch_id) for r in codes.select("batch_id").distinct().collect()
    } == {0, 2}


def test_from_index_respread_pins_explode_parallelism(spark, tmp_path, embs):
    """The explicit-N respread before the ADC explode must survive in
    the physical plan (REPARTITION_BY_NUM — the one exchange AQE cannot
    coalesce): without it AQE sizes the explode stage from the tiny
    post-aggregation shuffle and strangles its parallelism (measured
    42 s vs 9.9 s at 80k — SCALING.md pq-serve)."""
    ivf_root = str(tmp_path / "ivf")
    pq_root = str(tmp_path / "pq")
    S.build_ivf_index(embs, ivf_root, iters=0)
    S.build_pq_index(embs, pq_root)
    df = S.ivfpq_topk_from_index(spark, ivf_root, pq_root, embs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan, plan
    # the r10 salted spread key: (cluster, vec_id % salt) — cluster-only
    # makes a corpus-scale blob's cell one straggler task, vec_id-only
    # destroys per-task cell locality (both measured worse, SCALING.md
    # pq-skew)
    assert "hashpartitioning(cluster" in plan, plan
    assert "pmod(vec_id" in plan, plan


def test_ivfpq_geometry_validation_and_legacy_read(spark, tmp_path, embs):
    """nprobe < 1 is a usage error on both IVFADC entry points (it would
    silently filter every probe), and _latest_per_vec degrades to a
    plain per-id dedup on a store without batch_id (the legacy layout)
    instead of an unresolved-column error."""
    ivf_root = str(tmp_path / "ivf")
    pq_root = str(tmp_path / "pq")
    S.build_ivf_index(embs.limit(100), ivf_root, iters=0)
    S.build_pq_index(embs.limit(100), pq_root)
    with pytest.raises(ValueError, match="nprobe"):
        S.ivfpq_topk(embs, nprobe=0)
    with pytest.raises(ValueError, match="nprobe"):
        S.ivfpq_topk_from_index(spark, ivf_root, pq_root, embs, nprobe=0)
    legacy = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], "vec_id LONG, code_csv STRING"
    )
    got = {
        (r.vec_id, r.code_csv)
        for r in S._latest_per_vec(legacy, "code_csv").collect()
    }
    assert got == {(1, "a"), (2, "b")}


# --- auto-shortlist (r10): density-derived rerank breadth ------------------


def test_auto_shortlist_rule():
    """Floor, monotonicity and cap of the r10 rule that removed the
    fixed-shortlist knob (the auto_band_width / auto_subk pattern) — one
    rule at every corpus size."""
    # the empty corpus gets the floor; any code word adds its blob
    assert S.auto_shortlist(0) == S.PQ_SHORTLIST
    assert S.auto_shortlist(1) == 1 + S.PQ_SHORTLIST
    assert S.auto_shortlist(1600) == 1600 + S.PQ_SHORTLIST
    # monotone in the blob estimate
    vals = [S.auto_shortlist(b) for b in (0, 10, 100, 1000, 10**7)]
    assert vals == sorted(vals)
    # capped: the shortlist frame must stay broadcast-sized
    assert S.auto_shortlist(10**9) == S.PQ_SHORTLIST_CAP
    assert S.PQ_SHORTLIST <= S.PQ_SHORTLIST_CAP


def test_auto_shortlist_estimator_counts_code_multiplicity(spark):
    """_blob_stats reads (corpus size, top code multiplicity, 0 cells
    without a cluster column) from one aggregate over the code rows, and
    auto_shortlist sizes from that multiplicity at any corpus size.
    Two-subspace codes (m < 4) allow no slack: identical words only."""
    rows = (
        [([1, 2], )] * 7 + [([3, 4], )] * 2 + [([5, 6], )]
    )
    coded = spark.createDataFrame(rows, "codes ARRAY<INT>")
    assert S._blob_stats(coded) == (10, 7, 0)
    assert S.auto_shortlist(S._blob_stats(coded)[1]) == 7 + S.PQ_SHORTLIST
    # 600 copies of one code word in a 4600-row frame -> blob=600
    big = (
        [([1, 2], )] * 600
        + [([i, i + 1], ) for i in range(10, 4010)]
    )
    coded_big = spark.createDataFrame(big, "codes ARRAY<INT>")
    assert S._blob_stats(coded_big) == (4600, 600, 0)
    # empty frame: the floor, not a crash
    empty = spark.createDataFrame([], "codes ARRAY<INT>")
    assert S._blob_stats(empty) == (0, 0, 0)
    assert S.auto_shortlist(S._blob_stats(empty)[1]) == S.PQ_SHORTLIST


def test_blob_stats_counts_near_identical_code_words(spark):
    """At m = 8 a code word counts toward every blob it matches in all
    but two subspaces, so a blob whose members split over sub-centroids
    is read whole (the Gaussian-blob case the identical-word count
    under-read); shorter codes count identical words only."""
    base = [1, 2, 3, 4, 5, 6, 7, 8]

    def moved(*subs):
        return [c + 20 if s in subs else c for s, c in enumerate(base)]

    rows = (
        [(base,)] * 5 + [(moved(0),)] * 3 + [(moved(6, 7),)] * 2
        + [(moved(0, 1, 2),)] * 4 + [([9] * 8,)]
    )
    coded = spark.createDataFrame(rows, "codes ARRAY<INT>")
    # base joins moved(0) (masking {0, x}: 8) or moved(6, 7) (masking
    # {6, 7}: 7); moved(0) and moved(6, 7) differ in three subspaces, and
    # so does moved(0, 1, 2) from base (it joins moved(0) alone: 7)
    assert S._blob_stats(coded) == (15, 8, 0)
    m4 = [([1, 2, 3, 4],)] * 3 + [([9, 2, 3, 4],)] * 2 + [([9, 9, 3, 4],)]
    coded4 = spark.createDataFrame(m4, "codes ARRAY<INT>")
    assert S._blob_stats(coded4) == (6, 3, 0)


def test_default_sizing_beats_fixed_on_gaussian_blobs(spark, tmp_path):
    """One sizing rule at every corpus size: on a small corpus (2000
    vectors, 10 Gaussian blobs of 200 in 32 dims, noise 0.35 — the
    benchmark's ANN shape) the default-sized stored-index search reaches
    a strictly higher recall@5 against NumPy brute force than the old
    fixed (shortlist=PQ_SHORTLIST, nprobe=NPROBE) parameters, because
    the blobs' members share code words that ADC cannot rank apart."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(11)
    dim, k = 32, 5
    centers = rng.normal(size=(10, dim))
    labels = np.repeat(np.arange(10), 200)
    corpus = centers[labels] + 0.35 * rng.normal(size=(2000, dim))
    q_labels = rng.integers(0, 10, 32)
    qvecs = centers[q_labels] + 0.35 * rng.normal(size=(32, dim))

    def write(path, ids, vecs, labs):
        pq.write_table(
            pa.table({
                "vec_id": pa.array(ids, pa.int64()),
                "label": pa.array(labs, pa.int64()),
                "embedding": pa.array(
                    vecs.astype(np.float32).tolist(), pa.list_(pa.float32())
                ),
            }),
            path,
        )

    qids = np.arange(32) + 10_000_000
    write(str(tmp_path / "corpus.parquet"), np.arange(2000), corpus, labels)
    write(str(tmp_path / "queries.parquet"), qids, qvecs, q_labels)
    emb = spark.read.parquet(str(tmp_path / "corpus.parquet"))
    queries = spark.read.parquet(str(tmp_path / "queries.parquet"))
    ivf_root, pq_root = str(tmp_path / "ivf"), str(tmp_path / "pq")
    S.build_ivf_index(emb, ivf_root)
    S.build_pq_index(emb, pq_root)

    unit = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qunit = qvecs / np.linalg.norm(qvecs, axis=1, keepdims=True)
    exact_idx = np.argsort(-(qunit @ unit.T), axis=1, kind="stable")[:, :k]
    exact = {int(q): set(row.tolist()) for q, row in zip(qids, exact_idx)}

    def recall(**sizing):
        got: dict[int, set] = {}
        for r in S.ivfpq_topk_from_index(
            spark, ivf_root, pq_root, emb, k=k, queries=queries, **sizing
        ).collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        S.release_cached()
        return sum(len(got.get(q, set()) & nb) for q, nb in exact.items()) / (
            k * len(exact)
        )

    fixed = recall(shortlist=S.PQ_SHORTLIST, nprobe=S.NPROBE)
    default = recall()
    assert default > fixed, (default, fixed)


def test_auto_shortlist_restores_dense_blob_recall(spark, tmp_path):
    """The r9 recall law, closed without a hand knob: on a contended
    corpus (clusters >= ksub, so cluster members share code words — the
    regime of the measured 0.44 -> 0.066 collapse) whose blobs outgrow
    the fixed shortlist-50, auto-sizing from the measured code
    multiplicity restores rerank recall.

    Measured at this scale (n=6000, 50 clusters x ~120
    members): top multiplicity 134 ~ blob size, auto shortlist 184,
    recall 0.553 (fixed-50) -> 1.0 (auto).  Asserted as bands.

    The documented boundary (SCALING.md pq-auto): a corpus with FEWER
    distinct regions than ksub per subspace leaves the trained
    sub-quantizer spare centroids that subdivide even tight blobs, so
    the multiplicity under-reads there — that degenerate shape (a
    handful of giant near-dup blobs = the whole corpus is a few
    documents) is dedup-before-index territory, and pq_recall_report
    remains the instrument that says so."""
    p = str(tmp_path / "dense.parquet")
    fixtures.write_clustered_embeddings(p, n=6000)  # 50 clusters default
    e = spark.read.parquet(p)
    cb = S.pq_codebook(e)
    cb.persist().count()
    try:
        exact = S.cosine_topk(e).select("query_id", "neighbor_id")
        exact.persist()
        total = exact.count()

        def recall(shortlist):
            rer = S.pq_topk_rerank(e, shortlist=shortlist, codebook=cb).select(
                "query_id", "neighbor_id"
            )
            return exact.join(rer, ["query_id", "neighbor_id"]).count() / total

        fixed = recall(S.PQ_SHORTLIST)
        auto = recall(None)
        # the collapse the law describes (blob ~2.4x the fixed shortlist)
        assert fixed <= 0.8, fixed
        # auto restores it: strictly better AND high in absolute terms
        assert auto >= 0.95, (fixed, auto)
        assert auto - fixed >= 0.15, (fixed, auto)
        exact.unpersist()
    finally:
        cb.unpersist()
        S.release_cached()


def test_ivfpq_adc_stage_merges_duplicate_candidates(spark, embs):
    """ADVICE r9: duplicate code rows (a duplicate-id corpus reaching the
    in-memory path) must not occupy multiple ADC shortlist slots — the
    pre-shortlist merge keeps max(adc) per (query, neighbor), so the
    search over a duplicated index equals the duplicate-free run even
    when the shortlist is tight enough that flooded slots would change
    the rerank pool."""
    base = S._normed(embs)
    cents = S._twolevel_seeds(base, S.SUBK)
    cents.persist().count()
    pq_cb = S.pq_codebook(embs)
    pq_cb.persist().count()
    try:
        packed = S._persist(S._pq_packed(pq_cb))
        coded = S.ivfpq_index(embs, codebook=cents, pq_cb=pq_cb).select(
            "vec_id",
            "cluster",
            F.transform(
                F.split("code_csv", ","), lambda s: s.cast("int")
            ).alias("codes"),
        )
        coded.persist().count()
        queries = base.filter(F.col("vec_id") % S.QUERY_STRIDE == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qemb"),
            F.col("nrm").alias("qnrm"),
        )
        dup_coded = coded.unionByName(coded.filter("vec_id < 250"))
        want = {
            tuple(r)
            for r in S._ivfpq_search(
                cents, packed, coded, queries, base, 5, S.NPROBE, 8, S.PQ_M
            ).collect()
        }
        got = {
            tuple(r)
            for r in S._ivfpq_search(
                cents, packed, dup_coded, queries, base, 5, S.NPROBE, 8, S.PQ_M
            ).collect()
        }
        assert got == want
        coded.unpersist()
    finally:
        cents.unpersist()
        pq_cb.unpersist()
        S.release_cached()


def test_auto_shortlist_reads_exact_dup_blobs_at_any_geometry(spark, tmp_path):
    """The boundary's precise scope (SCALING.md pq-auto): EXACT-duplicate
    blobs produce identical codes no matter how many spare centroids the
    sub-quantizer has, so the estimator reads them right even in the
    degenerate few-blob geometry where NOISY blobs under-read (the
    noise-0.05 counterpart is documented, not pinned — it is the
    dedup-before-index regime).  Measured: noise-0 4-blob corpus, top
    multiplicity 1520 on ~1500-member blobs -> auto 1570."""
    p = str(tmp_path / "exact4.parquet")
    fixtures.write_clustered_embeddings(p, n=6000, clusters=4, noise=0.0)
    e = spark.read.parquet(p)
    cb = S.pq_codebook(e)
    cb.persist().count()
    try:
        enc = S._pq_encoded(
            S._normed(e), S._persist(S._pq_packed(cb)), S.PQ_M
        )
        auto = S.auto_shortlist(S._blob_stats(enc.select("codes"))[1])
        # blob size ~6000/4 (hash-assigned components are near-even);
        # the estimate must read the blob, not the floor
        assert auto >= 1000, auto
        assert auto <= 2000 + S.PQ_SHORTLIST, auto
    finally:
        cb.unpersist()
        S.release_cached()


def test_shortlist_report_reads_the_stored_codes(spark, tmp_path, embs):
    """The observability half of auto_shortlist (r10): one row over the
    pq root's latest-wins codes store — the blob estimate visible, the
    shortlist it sizes, and the cap clamp SIGNALED (the one lossy
    edge: a blob past PQ_SHORTLIST_CAP serves with a shortlist it has
    outgrown, and only this report says so)."""
    pq_root = str(tmp_path / "pq")
    S.build_pq_index(embs, pq_root)
    row = S.shortlist_report(spark, pq_root).first()
    assert row.n_vectors == embs.count()
    assert row.top_blob >= 1 and not row.clamped
    assert row.shortlist == row.top_blob + S.PQ_SHORTLIST
    # fabricate stores (the report reads only codes + pq_meta, both
    # plain parquet): a 600-blob among uniques...
    blob_root = str(tmp_path / "blob")
    spark.read.parquet(f"{pq_root}/pq_meta").write.parquet(
        f"{blob_root}/pq_meta"
    )
    spark.range(5000).selectExpr(
        "id AS vec_id",
        "CASE WHEN id < 600 THEN 'b' ELSE CAST(id AS STRING) END "
        "AS code_csv",
        "CAST(0 AS LONG) AS batch_id",
    ).write.partitionBy("batch_id").parquet(f"{blob_root}/codes")
    row = S.shortlist_report(spark, blob_root).first()
    assert (row.n_vectors, row.top_blob) == (5000, 600)
    assert row.shortlist == 600 + S.PQ_SHORTLIST
    assert not row.clamped
    # ...and a blob past the cap: clamped=true is the dedup-before-index
    # signal
    cap_root = str(tmp_path / "cap")
    spark.read.parquet(f"{pq_root}/pq_meta").write.parquet(
        f"{cap_root}/pq_meta"
    )
    spark.range(9000).selectExpr(
        "id AS vec_id",
        "CASE WHEN id < 8500 THEN 'b' ELSE CAST(id AS STRING) END "
        "AS code_csv",
        "CAST(0 AS LONG) AS batch_id",
    ).write.partitionBy("batch_id").parquet(f"{cap_root}/codes")
    row = S.shortlist_report(spark, cap_root).first()
    assert row.top_blob == 8500
    assert row.shortlist == S.PQ_SHORTLIST_CAP
    assert row.clamped
    # an unbuilt root is a usage error, like every other artifact reader
    with pytest.raises(ValueError, match="pq_meta"):
        S.shortlist_report(spark, str(tmp_path / "nowhere"))


def test_dedup_first_unclamps_and_restores_recall(spark, tmp_path, monkeypatch):
    """VERDICT r10 #2 — the composed remedy both lossy PQ edges name,
    as ONE command: a corpus whose near-dup blob outgrows
    PQ_SHORTLIST_CAP builds clamped (``--shortlist-report`` says so and
    blob-local rerank recall degrades blob-share-style), and the same
    build with ``--dedup-first`` collapses the blob to its min-id
    survivor, reads clamped=false, and recall over the survivor corpus
    returns to the unclamped regime.

    Scaled down via the rule's own cap (250 — the rule is pure
    arithmetic over top_blob, so a small cap exercises the identical code path the 8192 cap does; the
    real-scale measurement is SCALING.md pq-dedup; the cap sits above
    the deduped background's own reading, 154 near-identical code words
    + 50): 6000 background
    vectors (50 clusters, the standard mixture) + an 800-member
    noise-0.05 blob at ~12% mass share — low enough that the trained
    sub-quantizers stay on the background and the blob shares one code
    word (measured top multiplicity 733; at >50% share the k-means
    mass pulls sub-centroids INTO the noise ball and the estimate
    under-reads — the documented degenerate geometry).  ADC ties the
    whole blob, the clamped shortlist keeps the 250 lowest ids, and a
    blob query's true top-5 (noise-ranked, uniform over members)
    survives with p ~ 1/3 — so the degradation is asserted on the BLOB
    queries, where it lives."""
    from cloudcomputing_flink_application_spark import cli
    from cloudcomputing_flink_application_spark.operators import dedup

    monkeypatch.setattr(S, "PQ_SHORTLIST_CAP", 250)
    corpus_dir = tmp_path / "corpus"
    corpus_dir.mkdir()
    fixtures.write_clustered_embeddings(str(corpus_dir / "bg.parquet"), n=6000)
    fixtures.write_clustered_embeddings(
        str(corpus_dir / "blob.parquet"),
        n=800,
        clusters=1,
        noise=0.05,
        id_offset=6000,
        cent_seed="blobcent",  # own centroid — not ON background cluster 0
    )
    e = spark.read.parquet(str(corpus_dir))

    def recall(corpus, root, min_query=0):
        cb = S.read_pq_codebook(spark, root)
        cb.persist().count()
        try:
            exact = S.cosine_topk(corpus).select("query_id", "neighbor_id")
            exact = exact.filter(F.col("query_id") >= min_query)
            exact.persist()
            total = exact.count()
            rer = S.pq_topk_rerank(corpus, shortlist=None, codebook=cb).select(
                "query_id", "neighbor_id"
            )
            hits = exact.join(rer, ["query_id", "neighbor_id"]).count()
            exact.unpersist()
            return hits / total
        finally:
            cb.unpersist()
            S.release_cached()

    # clamped build: the report signals, blob-local recall degrades
    root = str(tmp_path / "pq")
    cli.main(["pq-index", "--input", str(corpus_dir), "--output", root])
    row = S.shortlist_report(spark, root).first()
    assert row.clamped and row.top_blob >= 600, row
    assert row.shortlist == 250
    before_blob = recall(e, root, min_query=6000)
    assert before_blob <= 0.6, before_blob

    # the one-command remedy
    root2 = str(tmp_path / "pq_dedup")
    cli.main(
        ["pq-index", "--input", str(corpus_dir), "--output", root2,
         "--dedup-first"]
    )
    row2 = S.shortlist_report(spark, root2).first()
    assert not row2.clamped, row2
    survivors = dedup.embedding_purge_dedup(e)
    n_surv = survivors.count()
    # the blob collapsed to its min-id survivor (plus at most a few
    # LSH-fragmented stragglers); the background survives modulo the
    # handful of its own chance >0.95 pairs (legitimate near-dups by
    # the bar — measured 5 of 6000 on this seed)
    blob_surv = survivors.filter("vec_id >= 6000").count()
    assert 1 <= blob_surv <= 5, blob_surv
    assert 5950 <= n_surv <= 6050, n_surv
    assert row2.n_vectors == n_surv
    assert survivors.filter("vec_id == 6000").count() == 1
    after = recall(survivors, root2)
    assert after >= 0.9 and after > before_blob, (before_blob, after)

    # --dedup-first composes with the build only; --dedup-cos needs it
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="build mode only"):
        cli.main(["pq-index", "--input", str(corpus_dir), "--output", root,
                  "--dedup-first", "--encode-only"])
    with _pytest.raises(SystemExit, match="requires --dedup-first"):
        cli.main(["pq-index", "--input", str(corpus_dir), "--output", root,
                  "--dedup-cos", "0.9"])


def test_auto_nprobe_rule():
    """auto_nprobe (r11, VERDICT r10 #4) — the serving twin of
    auto_shortlist: the measured-NPROBE floor at every corpus size,
    monotone in the blob's cell spread."""
    # NPROBE stays the floor — a spread the floor covers changes nothing
    # (recall >= current at the current scan fraction)
    assert S.auto_nprobe(0) == S.NPROBE
    assert S.auto_nprobe(S.NPROBE - 1) == S.NPROBE
    # a blob spanning more cells than the floor raises the probe count
    # past its spread (+ the margin)
    assert S.auto_nprobe(S.NPROBE) == S.NPROBE + 1
    assert S.auto_nprobe(100) == 100 + S.NPROBE_BLOB_MARGIN
    # monotone
    spreads = [0, 10, 40, 41, 100, 10**4]
    probes = [S.auto_nprobe(c) for c in spreads]
    assert probes == sorted(probes)


def test_blob_stats_fused_aggregate(spark):
    """_blob_stats: one pass -> (n, top multiplicity, the top code's
    DISTINCT cell spread); multiplicity ties resolve to the larger
    spread (the conservative probe)."""
    rows = (
        # blob code 'b': 4 rows across 3 cells
        [(i, 10 + (i % 3), ["b"]) for i in range(4)]
        # code 'c': 4 rows in 1 cell (ties blob 'b' on multiplicity)
        + [(100 + i, 50, ["c"]) for i in range(4)]
        # singleton
        + [(200, 60, ["z"])]
    )
    coded = spark.createDataFrame(
        rows, "vec_id LONG, cluster LONG, codes ARRAY<STRING>"
    )
    assert S._blob_stats(coded) == (9, 4, 3)
    assert S._blob_stats(coded.limit(0)) == (0, 0, 0)


def test_auto_nprobe_restores_fragmented_blob_recall(spark, tmp_path):
    """The failure auto_nprobe exists for, demonstrated end to end: with
    K ~ sqrt(n) each label owns ~sqrt(n)/|labels| sub-centroids, and a
    near-dup blob's members SPREAD across its label's cells (the
    sub-quantizer subdivides the noise ball) — so past
    n ~ (NPROBE * |labels|)^2 a blob-member query's true top-k spans
    more cells than the fixed 40 probes reach, the exact cell-pruning
    twin of the r9 shortlist collapse.  Geometry scaled down via an
    explicit subk=400 codebook (the rule is arithmetic over the measured
    spread; real-constant onset needs n > 4M at 50 labels): 12000
    background vectors (50 clusters) + a 1500-member noise-.05 blob
    under ONE label -> the blob spreads over ~342 of its label's cells,
    sharing one PQ code word (11% mass share — the estimate-true
    regime; at 23% the trained sub-quantizer already subdivides the
    noise ball and the estimate under-reads, the documented boundary),
    so _blob_stats reads the spread and auto_nprobe probes past it."""
    corpus_dir = tmp_path / "corpus"
    corpus_dir.mkdir()
    fixtures.write_clustered_embeddings(str(corpus_dir / "bg.parquet"), n=12000)
    fixtures.write_clustered_embeddings(
        str(corpus_dir / "blob.parquet"),
        n=1500,
        clusters=1,
        noise=0.05,
        id_offset=12000,
        cent_seed="blobcent",
    )
    e = spark.read.parquet(str(corpus_dir))
    base = S._normed(e)
    cents = S._persist(S._twolevel_seeds(base, 400))
    pq_cb = S._persist(S._pq_train(e, S.PQ_M, S.PQ_KSUB, 1)[0])
    try:
        packed = S._persist(S._pq_packed(pq_cb))
        coded = S._persist(
            S.ivfpq_index(e, codebook=cents, pq_cb=pq_cb).select(
                "vec_id",
                "cluster",
                F.transform(
                    F.split("code_csv", ","), lambda s: s.cast("int")
                ).alias("codes"),
            )
        )
        n_corpus, top_blob, blob_cells = S._blob_stats(coded)
        assert n_corpus == 13500
        # the blob shares one code word (estimate-true regime) and
        # spreads over most of its label's 60 cells
        assert top_blob >= 1200, top_blob
        assert 250 <= blob_cells <= 400, blob_cells
        auto = S.auto_nprobe(blob_cells)
        assert auto == blob_cells + S.NPROBE_BLOB_MARGIN

        queries = base.filter(
            (F.col("vec_id") % S.QUERY_STRIDE == 0) & (F.col("vec_id") >= 12000)
        ).select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qemb"),
            F.col("nrm").alias("qnrm"),
        )
        exact = S.cosine_topk(e).select("query_id", "neighbor_id").filter(
            F.col("query_id") >= 12000
        )
        exact.persist()
        total = exact.count()
        shortlist = S.auto_shortlist(top_blob)

        def recall(nprobe):
            got = S._ivfpq_search(
                cents, packed, coded, queries, base, S.TOPK, nprobe,
                shortlist, S.PQ_M,
            ).select("query_id", "neighbor_id")
            return exact.join(got, ["query_id", "neighbor_id"]).count() / total

        fixed = recall(S.NPROBE)
        restored = recall(auto)
        # 40 probes reach a 342-cell blob only through the probe-rank/
        # neighbor-rank correlation (both follow noise alignment), which
        # decays with spread: measured 0.987 at 51 cells, 0.707 at 342 —
        # the collapse onset; auto covers the measured spread
        assert fixed <= 0.85, fixed
        assert restored >= 0.95, (fixed, restored)
        assert restored - fixed >= 0.1, (fixed, restored)
        exact.unpersist()
    finally:
        S.release_cached()
        spark.catalog.clearCache()


def test_rerank_broadcast_gate(spark, tmp_path, embs, monkeypatch):
    """The rerank broadcast gate (r11): the candidate frame is
    |queries| x shortlist rows and lives on the driver + every executor
    as a hash relation — measured, 810 queries at the 8192 cap blew an
    8g driver.  On the AUTO paths the gate trades the forced broadcast
    for the planner's shuffled join past RERANK_BROADCAST_MAX_ROWS;
    results are identical either way, and explicit-knob calls never
    evaluate it (vintage/oracle paths unchanged)."""
    ivf_root = str(tmp_path / "ivf")
    pq_root = str(tmp_path / "pq")
    S.build_ivf_index(embs, ivf_root, iters=0)
    S.build_pq_index(embs, pq_root)
    # the auto path under the default ceiling (the hinted broadcast)
    want = {tuple(r) for r in S.ivfpq_topk_from_index(spark, ivf_root, pq_root, embs).collect()}
    S.release_cached()
    # The gate removes the broadcast HINT; at real scale the planner's
    # own threshold then refuses an over-sized relation.  To observe the
    # hint's absence at test scale (where the planner would happily
    # broadcast 300 rows on its own), disable the planner's choice —
    # only a hinted broadcast survives autoBroadcastJoinThreshold=-1.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # force the fallback: the auto path's exact stride count over
        # the stored rows (5 queries x a shortlist of at least 50 = 250+
        # candidate rows) exceeds a 100-row ceiling
        monkeypatch.setattr(S, "RERANK_BROADCAST_MAX_ROWS", 100)
        gated = S.ivfpq_topk_from_index(spark, ivf_root, pq_root, embs)
        plan = physical_plan(gated)
        # the RERANK join (neighbor_id = vec_id) specifically went
        # shuffled (other unhinted joins — the store vec_id join — go
        # SMJ under threshold=-1 in BOTH plans, so key on the join)
        def rerank_join(p, kind):
            import re as _re

            return bool(_re.search(kind + r" \[neighbor_id", p))

        assert rerank_join(plan, "SortMergeJoin") or rerank_join(
            plan, "ShuffledHashJoin"
        ), plan
        assert not rerank_join(plan, "BroadcastHashJoin"), plan
        assert {tuple(r) for r in gated.collect()} == want
        S.release_cached()
        spark.catalog.clearCache()
        # below the ceiling the hint stays (the historical plan): the
        # rerank join is a hinted broadcast even with the planner's own
        # choice disabled
        monkeypatch.setattr(S, "RERANK_BROADCAST_MAX_ROWS", 4_000_000)
        kept = S.ivfpq_topk_from_index(spark, ivf_root, pq_root, embs)
        plan2 = physical_plan(kept)
        assert rerank_join(plan2, "BroadcastHashJoin"), plan2
        assert not rerank_join(plan2, "SortMergeJoin"), plan2
        assert {tuple(r) for r in kept.collect()} == want
        S.release_cached()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
