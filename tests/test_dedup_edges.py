"""Edge-case contracts from the round-1 advice: NULL text, zero-norm
vectors, the exact-baseline row guard, and the ngram broadcast/shuffle join
paths.  Engine parity is checked against inline DuckDB views so the cases
exist even though the driver testdata never produces them."""

from __future__ import annotations

import duckdb
import pytest

from cloudcomputing_flink_application_spark.operators import dedup, similarity
from tests.conftest import rows_set
from tests.oracle_harness import canon_frame

DOC_COLS = ["doc_id", "text"]
EMB_COLS = ["vec_id", "label", "embedding"]


def test_exact_dedup_null_text_groups_with_empty(spark):
    # NULL text must behave exactly like '' on BOTH engines: Spark's window
    # would group NULL md5 keys while the oracle's equi-join would drop them
    # — the coalesce pins one convention everywhere.
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "x"), (4, None)], DOC_COLS
    )
    out = rows_set(dedup.exact_dedup(docs))
    assert out == {
        (1, 1, False),
        (2, 1, True),   # '' and NULL share the canonical id
        (4, 1, True),
        (3, 3, False),
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, CAST(NULL AS VARCHAR)), (2, ''), (3, 'x'), (4, CAST(NULL AS VARCHAR))"
        ") t(doc_id, text)"
    )
    oracle = con.execute(dedup.EXACT_DEDUP_SQL).df()
    spark_pdf = dedup.exact_dedup(docs).toPandas()
    assert canon_frame(spark_pdf) == canon_frame(oracle)


def test_zero_norm_vectors_excluded_identically(spark):
    # An all-zero embedding divides by zero: Spark (non-ANSI) yields NULL,
    # DuckDB yields NaN/inf — both paths now filter nrm > 0 instead.
    embs = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0]),
            (2, 0, [0.0, 0.0]),  # zero vector: excluded, never NULL-dropped
            (3, 0, [1.0, 0.0]),
        ],
        EMB_COLS,
    )
    pairs = rows_set(dedup.embedding_cosine_dedup(embs))
    assert pairs == {(1, 3, 1.0)}

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM (VALUES "
        "(1, 0, [1.0, 0.0]), (2, 0, [0.0, 0.0]), (3, 0, [1.0, 0.0])"
        ") t(vec_id, label, embedding)"
    )
    oracle = con.execute(dedup.EMBEDDING_COSINE_SQL).df()
    spark_pdf = dedup.embedding_cosine_dedup(embs).toPandas()
    assert canon_frame(spark_pdf) == canon_frame(oracle)


def test_quantize_zero_scale_excluded_identically(spark):
    embs = spark.createDataFrame(
        [(1, 0, [0.5, -1.0]), (2, 0, [0.0, 0.0])], EMB_COLS
    )
    out = similarity.quantize_embeddings(embs)
    assert [r.vec_id for r in out.collect()] == [1]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM (VALUES "
        "(1, 0, [0.5, -1.0]), (2, 0, [0.0, 0.0])) t(vec_id, label, embedding)"
    )
    oracle = con.execute(similarity.QUANTIZE_SQL).df()
    assert canon_frame(out.toPandas()) == canon_frame(oracle)


def test_exact_cosine_row_guard_trips(spark):
    embs = spark.createDataFrame(
        [(i, 0, [1.0, float(i)]) for i in range(5)], EMB_COLS
    )
    with pytest.raises(ValueError, match="O\\(n²\\) exact baseline"):
        dedup.embedding_cosine_dedup(embs, max_rows=4)
    # explicit opt-out still runs
    assert dedup.embedding_cosine_dedup(embs, max_rows=None).count() >= 0


def test_ngram_shuffle_path_matches_broadcast(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    via_broadcast = rows_set(dedup.ngram_jaccard_dedup(docs))
    via_shuffle = rows_set(dedup.ngram_jaccard_dedup(docs, broadcast_max_bytes=0))
    assert via_broadcast == via_shuffle and len(via_broadcast) > 0


def test_ngram_salted_shuffle_path_matches(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = rows_set(dedup.ngram_jaccard_dedup(docs))
    salted = rows_set(
        dedup.ngram_jaccard_dedup(docs, salt=4, broadcast_max_bytes=0)
    )
    assert base == salted


def test_embedding_lsh_is_subset_of_exact_with_identical_cosines(spark, sf_dir):
    # The LSH path may miss pairs (probabilistic recall) but must never
    # invent one: every emitted (pair, cos) appears verbatim in the exact
    # baseline's output, and identical vectors (cos == 1) always collide on
    # every band, so true duplicates are never missed.
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = rows_set(dedup.embedding_cosine_dedup(embs))
    lsh = rows_set(dedup.embedding_lsh_dedup(embs))
    assert len(lsh) > 0 and lsh <= exact
    dup_pairs = {(a, b) for a, b, c in exact if c >= 0.999999}
    found = {(a, b) for a, b, _ in lsh}
    assert dup_pairs <= found


def test_embedding_lsh_wide_bands_keep_the_contract(spark, sf_dir):
    # The scale configuration (16-bit bands: planes=64, bands=4 — the knob
    # SCALING.md's spot-bench showed restores ~linear growth at 10x) must
    # keep both contract halves: emitted (pair, cos) rows are verbatim
    # exact-baseline rows, and cos == 1 duplicates still collide on every
    # band regardless of width.
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = rows_set(dedup.embedding_cosine_dedup(embs))
    wide = rows_set(dedup.embedding_lsh_dedup(embs, planes=64, bands=4))
    assert wide <= exact
    dup_pairs = {(a, b) for a, b, c in exact if c >= 0.999999}
    assert dup_pairs <= {(a, b) for a, b, _ in wide}


def test_embedding_lsh_auto_band_width_rule():
    # Compat zone: every tested SF (n <= 2000) keeps the 4-bit layout, so
    # the driver oracle is bit-unchanged under the auto default.
    for n in (1, 500, 2000, dedup.HP_AUTO_COMPAT_N):
        assert dedup.auto_band_width(n) == 4
    # Adaptive zone: b = ceil(log2(n / target_bucket)), clamped.
    assert dedup.auto_band_width(8_000) == 13  # 4x sf0.1 replica corpus
    assert dedup.auto_band_width(20_000) == 15  # 10x
    assert dedup.auto_band_width(1_000_000) == 20
    assert dedup.auto_band_width(10**12) == dedup.HP_MAX_WIDTH  # clamp
    # Monotone: more data never narrows the bands.
    widths = [dedup.auto_band_width(n) for n in range(1, 100_000, 997)]
    assert widths == sorted(widths)


def test_embedding_lsh_auto_matches_fixed_at_tested_sf(spark, sf_dir):
    # At the tested SFs the auto default must produce the EXACT result of
    # the fixed 4-bit layout (the oracle-hash-unchanged contract).
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    auto = rows_set(dedup.embedding_lsh_dedup(embs))
    fixed = rows_set(dedup.embedding_lsh_dedup(embs, planes=16, bands=4))
    assert auto == fixed and len(auto) > 0


def test_embedding_lsh_rejects_bad_band_config(spark, sf_dir):
    # bands must divide planes (the message states the relation the right
    # way around), and 64-bit bands are rejected up front: the band key is
    # a signed long, so 1 << 63 would overflow at plan time with a
    # confusing Spark error instead of this one.
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match=r"bands \(3\) must divide planes \(64\)"):
        dedup.embedding_lsh_dedup(embs, planes=64, bands=3)
    with pytest.raises(ValueError, match="signed longs"):
        dedup.embedding_lsh_dedup(embs, planes=64, bands=1)


def test_embedding_lsh_low_dim_parity(spark):
    # dim != 64 must slice the hyperplanes consistently on the Spark side
    # (the SQL oracle is fixed to the driver table's 64-dim layout).
    embs = spark.createDataFrame(
        [(1, 0, [1.0, 0.5]), (2, 0, [1.0, 0.5]), (3, 0, [-1.0, 2.0])],
        EMB_COLS,
    )
    out = rows_set(dedup.embedding_lsh_dedup(embs, dim=2))
    assert {(a, b) for a, b, _ in out} == {(1, 2)}
    assert all(c == pytest.approx(1.0) for _, _, c in out)


def test_connected_components_closes_chains(spark):
    # A chain 1-2-3-4 must collapse to root 1 even though 1 and 4 share no
    # edge — the semantic gap between one-round star assignment and full
    # closure.  Island 10-11 stays its own component.
    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (4, 3), (11, 10)], "u: long, v: long"
    )
    out = rows_set(dedup.connected_components(edges))
    assert out == {(2, 1), (3, 1), (4, 1), (11, 10)}


def test_connected_components_long_chain_converges(spark):
    # A 40-node chain needs ~log2(40) large/small-star rounds — well inside
    # the default budget; naive diameter-bound propagation would need 40.
    edges = spark.createDataFrame(
        [(i + 1, i) for i in range(1, 40)], "u: long, v: long"
    )
    out = rows_set(dedup.connected_components(edges))
    assert out == {(i, 1) for i in range(2, 41)}


def test_connected_components_empty_edges(spark):
    edges = spark.createDataFrame([], "u: long, v: long")
    assert dedup.connected_components(edges).count() == 0


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    # With a checkpoint dir configured (cluster FS in production), rounds
    # must use RELIABLE checkpoint() — snapshot files land in the dir and
    # the result is unchanged.  Without one, localCheckpoint is the
    # (executor-local) fallback.
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    ckpt = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        edges = spark.createDataFrame(
            [(2, 1), (3, 2), (4, 3), (11, 10)], "u: long, v: long"
        )
        res = dedup.connected_components(edges)
        out = rows_set(res)
        assert out == {(2, 1), (3, 1), (4, 1), (11, 10)}
        ckpt_files = [
            p for p in (tmp_path / "ckpt").rglob("*") if p.is_file()
        ]
        assert ckpt_files, "reliable checkpoint wrote no snapshot files"
        # Hygiene: dead rounds' snapshots are deleted eagerly — only the
        # RETURNED frame's snapshot may remain (one rdd-N dir), and the
        # frame must still be consumable after the cleanup.
        snap_dirs = [
            p for p in (tmp_path / "ckpt").rglob("rdd-*") if p.is_dir()
        ]
        assert len(snap_dirs) == 1, f"leaked snapshots: {snap_dirs}"
        assert rows_set(res) == out
    finally:
        # reset for other tests ($-mangled Scala setter needs getattr)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )



def test_truncate_lineage_reliable_snapshot_released(spark, tmp_path):
    # With a checkpoint dir set, truncate_lineage writes a reliable FS
    # snapshot; release_cached() must delete it, as it frees the local
    # path's blocks, instead of leaking one snapshot per call.
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        mark = dedup.cached_mark()
        df = spark.createDataFrame([(i, i % 3) for i in range(20)], "a: long, b: long")
        out = dedup.truncate_lineage(df.groupBy("b").count())
        assert rows_set(out) == {(0, 7), (1, 7), (2, 6)}
        snaps = [p for p in (tmp_path / "ckpt").rglob("rdd-*") if p.is_dir()]
        assert len(snaps) == 1, snaps
        dedup.release_cached(since=mark)
        left = [p for p in (tmp_path / "ckpt").rglob("rdd-*") if p.is_dir()]
        assert left == [], f"leaked snapshots: {left}"
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )

def test_connected_components_local_path_releases_dead_snapshots(spark):
    # r13 (VERDICT r12 #1 hygiene): the localCheckpoint fallback now gets
    # the reliable path's eager dead-snapshot release — via the
    # persistent-RDD ledger instead of FS listings.  Only the RETURNED
    # frame's snapshot blocks may outlive the call, and the frame stays
    # consumable afterwards.
    assert spark.sparkContext.getCheckpointDir() is None
    pre = dedup._local_ckpt_rdd_ids(spark)
    # a chain forces multiple rounds, so dead per-round snapshots exist
    edges = spark.createDataFrame(
        [(i + 1, i) for i in range(1, 20)], "u: long, v: long"
    )
    res = dedup.connected_components(edges)
    out = rows_set(res)
    assert out == {(i, 1) for i in range(2, 21)}
    live = dedup._local_ckpt_rdd_ids(spark) - pre
    assert len(live) <= 1, f"leaked localCheckpoint snapshots: {live}"
    assert rows_set(res) == out  # still replayable from its snapshot
    # the ledger release is the unpersist twin of _delete_ckpt_entries
    dedup._unpersist_local_ckpts(spark, live)
    assert not (dedup._local_ckpt_rdd_ids(spark) - pre)


def test_cc_dedup_refines_one_round_assignment(spark, sf_dir):
    # Full closure can only merge clusters, never split them: the CC
    # cluster_id is <= the one-round assignment's for every document, and
    # every one-round dup stays a dup.
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cc = dedup.minhash_cc_dedup(docs).alias("cc")
    one = dedup.minhash_cluster_dedup(docs).alias("one")
    j = cc.join(one, "doc_id")
    assert j.filter(F.col("cc.cluster_id") > F.col("one.cluster_id")).count() == 0
    assert j.filter(F.col("one.is_dup") & ~F.col("cc.is_dup")).count() == 0


def test_release_cached_unpersists_registry(spark):
    # The operators persist prep frames and return lazy results, so release
    # is the caller's job: release_cached() must drop every registered
    # frame's storage without touching unrelated cache entries.
    dedup.release_cached()  # start clean
    other = spark.createDataFrame([(1,)], "x: long").persist()
    other.count()
    docs = spark.createDataFrame(
        [(i, f"some text body number {i % 3}") for i in range(20)], DOC_COLS
    )
    dedup.minhash_lsh_dedup(docs).count()
    dedup.simhash_dedup(docs).count()
    # the registry is per-thread (r9): this thread ran the operators, so
    # this thread's list holds their frames
    assert dedup._frames(), "operators registered no persisted frames"
    assert any(f.storageLevel.useMemory for f in dedup._frames())
    cached = list(dedup._frames())
    dedup.release_cached()
    assert not dedup._frames()
    assert all(not f.storageLevel.useMemory for f in cached)
    # targeted release: the unrelated frame is still cached
    assert other.storageLevel.useMemory
    other.unpersist()


def test_exact_groups_collapse_identical_mass(spark):
    # 1000 identical docs must band as ONE row per band: the candidate
    # self-join input is O(unique texts), never O(k) per bucket.
    from cloudcomputing_flink_application_spark.functions import text as X

    docs = spark.createDataFrame(
        [(i, "same boilerplate text everywhere") for i in range(1000)],
        DOC_COLS,
    )
    reps, members = dedup._exact_groups(docs)
    assert reps.count() == 1
    assert members.count() == 1000
    # the exact band pipeline the operator runs over reps
    assert dedup.band_rows(reps).count() == X.LSH_BANDS  # one row per band


def test_minhash_lsh_degenerate_corpus_emits_all_pairs(spark):
    # End-to-end on the degenerate corpus: every pair, jaccard exactly 1.0,
    # via expansion — not via a quadratic band bucket.
    k = 1000
    docs = spark.createDataFrame(
        [(i, "same boilerplate text everywhere") for i in range(k)], DOC_COLS
    )
    out = dedup.minhash_lsh_dedup(docs)
    from pyspark.sql import functions as F

    agg = out.agg(
        F.count("*").alias("n"),
        F.min("jaccard").alias("lo"),
        F.max("jaccard").alias("hi"),
        F.sum(F.when(F.col("doc_a") < F.col("doc_b"), 0).otherwise(1)).alias(
            "bad_order"
        ),
    ).first()
    assert agg.n == k * (k - 1) // 2
    assert agg.lo == 1.0 and agg.hi == 1.0
    assert agg.bad_order == 0
    dedup.release_cached()


def test_simhash_null_vs_empty_text_parity(spark):
    # NULL text never pairs (NULL signature never equi-joins); '' pairs with
    # '' at hamming 0.  The exact-group collapse must keep NULL and ''
    # in SEPARATE groups or it would invent NULL-'' pairs.
    docs = spark.createDataFrame(
        [
            (1, None),
            (2, None),
            (3, ""),
            (4, ""),
            (5, "completely different text body"),
        ],
        DOC_COLS,
    )
    out = rows_set(dedup.simhash_dedup(docs))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, CAST(NULL AS VARCHAR)), (2, CAST(NULL AS VARCHAR)), "
        "(3, ''), (4, ''), (5, 'completely different text body')"
        ") t(doc_id, text)"
    )
    oracle = {tuple(r) for r in con.execute(dedup.SIMHASH_SQL).fetchall()}
    assert out == oracle, f"spark={out} oracle={oracle}"
    dedup.release_cached()


def test_minhash_lsh_whitespace_only_group_emits_nothing(spark):
    # Identical whitespace-only texts form an exact group but have empty
    # token sets — the uncollapsed pipeline never bands them, so the
    # expansion must not invent jaccard-1.0 pairs for them.
    docs = spark.createDataFrame(
        [(1, "   "), (2, "   "), (3, "real text here")], DOC_COLS
    )
    assert rows_set(dedup.minhash_lsh_dedup(docs)) == set()
    dedup.release_cached()


def test_plan_size_bytes_survives_broken_private_api(spark):
    # _jdf is not public surface (absent under Spark Connect): any failure
    # must read as "no statistics", never crash the operator.
    class Boom:
        @property
        def _jdf(self):
            raise RuntimeError("no py4j bridge in this deployment")

    assert dedup._plan_size_bytes(Boom()) is None
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert dedup._plan_size_bytes(docs) > 0


def test_ngram_falls_back_to_shuffle_without_stats(spark, monkeypatch):
    # Stats unreachable -> the gate must pick the shuffle equi-join and
    # still produce the exact same pairs as the broadcast path.
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want = rows_set(dedup.ngram_jaccard_dedup(docs))
    monkeypatch.setattr(dedup, "_plan_size_bytes", lambda df: None)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = dedup.ngram_jaccard_dedup(docs)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert rows_set(df) == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ngram_broadcast_budget_scales_with_salt(spark):
    # The build side is replicated salt x by the explode: a corpus whose
    # raw estimate fits the budget must still take the shuffle path when
    # budget // salt no longer covers it.
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    est = dedup._plan_size_bytes(docs)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # budget covers the raw estimate, salt=1 -> broadcast
        df1 = dedup.ngram_jaccard_dedup(docs, broadcast_max_bytes=est + 1)
        assert "BroadcastExchange" in df1._jdf.queryExecution().executedPlan().toString()
        # same budget, salt=4 -> replicated build no longer fits -> shuffle
        df4 = dedup.ngram_jaccard_dedup(docs, salt=4, broadcast_max_bytes=est + 1)
        assert "SortMergeJoin" in df4._jdf.queryExecution().executedPlan().toString()
        assert rows_set(df1) == rows_set(df4)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_purge_conserves_corpus(spark, sf_dir):
    # Every doc lands in exactly one cluster, so the purged corpus must
    # account for the whole input: sum of cluster sizes == corpus rows,
    # keepers are exactly the cc roots, and chars_saved sums to the chars
    # of everything purged.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    purged = dedup.minhash_purge_dedup(docs).collect()
    clusters = {
        r.doc_id: r.cluster_id for r in dedup.minhash_cc_dedup(docs).collect()
    }
    chars = {r.doc_id: r.n_chars for r in docs.select("doc_id", "n_chars").collect()}
    assert sum(r.n_members for r in purged) == docs.count()
    assert {r.doc_id for r in purged} == set(clusters.values())
    purged_chars = sum(chars[d] for d, c in clusters.items() if d != c)
    assert sum(r.chars_saved for r in purged) == purged_chars
    # real dedup happened on this corpus
    assert any(r.n_members > 1 for r in purged)


def test_ivf_explicit_codebook_plumbing(spark, sf_dir):
    # An externally-supplied codebook (here the k-means artifact) slots
    # into the same search plan: the report stays deterministic across
    # runs, covers the same query set as the seed path, and reproduces the
    # measured mean recall exactly (two-level K=50 codebook, nprobe=40:
    # seed 0.92 at sf0.001, refined 1.00 — monotone-positive at every SF
    # per the refined_codebook docstring).
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    try:
        seed = rows_set(similarity.ivf_recall_report(emb))
        cb = similarity.refined_codebook(emb, 1)
        r1 = rows_set(similarity.ivf_recall_report(emb, codebook=cb))
        r2 = rows_set(similarity.ivf_recall_report(emb, codebook=cb))
        assert r1 == r2
        assert {r[0] for r in r1} == {r[0] for r in seed}
        mean = lambda rows: sum(r[3] for r in rows) / len(rows)
        assert abs(mean(seed) - 0.92) < 1e-9
        assert abs(mean(r1) - 1.00) < 1e-9
    finally:
        similarity.release_cached()


def test_ivf_supplied_codebook_not_persisted(spark, sf_dir):
    # A caller-supplied codebook stays the caller's to persist: the search
    # must not register it into _CACHED (library callers that never invoke
    # release_cached() would otherwise accumulate persisted frames).
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    try:
        cb = similarity.refined_codebook(emb, 1)
        before = len(similarity._frames())
        similarity.cosine_topk_ivf(emb, codebook=cb).collect()
        assert len(similarity._frames()) == before
        assert cb.storageLevel.useMemory is False
    finally:
        similarity.release_cached()


def test_ivf_zero_cell_label_not_dropped(spark, sf_dir):
    # A label with ZERO codebook entries (possible when a refined
    # codebook's cnrm>0 filter kills every centroid of a label) must not
    # silently vanish from the IVF index: its vectors degrade to the flat
    # compare-against-all-centroids path.  Build that case by stripping
    # one label out of the seed codebook.
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    try:
        from pyspark.sql import functions as F

        full_cb = similarity.ivf_codebook(emb)
        gap_label = full_cb.select(F.min("label")).first()[0]
        gap_cb = full_cb.filter(F.col("label") != gap_label)
        base = similarity._normed(emb)
        asg = similarity._assign_to_centroids(base, gap_cb)
        # every vector of the corpus is assigned — none dropped
        assert asg.count() == base.count()
        # the gap label's vectors landed in OTHER labels' clusters
        orphan_clusters = (
            asg.join(base.select("vec_id", "label"), "vec_id")
            .filter(F.col("label") == gap_label)
            .select((F.floor(F.col("cluster") / 1000)).alias("cb_label"))
            .distinct()
            .collect()
        )
        assert orphan_clusters and all(r[0] != gap_label for r in orphan_clusters)
        # full-coverage codebook: guard path is inert (same assignment as
        # the index the registry query builds)
        assert (
            similarity._assign_to_centroids(base, full_cb).count() == base.count()
        )
    finally:
        similarity.release_cached()


def test_ivf_kmeans_rejects_zero_iters(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="iters >= 1"):
        similarity.ivf_kmeans_codebook(emb, iters=0)


def test_plan_size_probe_sql_matches_jdf(spark, sf_dir):
    # The EXPLAIN COST fallback (public SQL surface, Connect-safe) must
    # read the same optimizer statistics as the _jdf route — display
    # rounding (one decimal in the printed unit) is the only allowed
    # difference.  Both are metadata reads; neither may run a scan job.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    direct = int(
        docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    via_sql = dedup._plan_size_bytes_sql(docs)
    assert via_sql is not None and via_sql > 0
    # one-decimal display rounding is worst (~5%) when the printed
    # mantissa lands near 1.0 (e.g. 1.04 MiB prints as "1.0 MiB")
    assert abs(via_sql - direct) <= max(0.05 * direct, 64)
    # the combined probe prefers the direct route but never returns None
    # while either works
    assert dedup._plan_size_bytes(docs) == direct
    # no leftover temp view
    assert not [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("_plan_size_probe_")
    ]


def test_ivf_auto_subk_rule():
    # One rule at every size: K = n_labels * subk tracks ceil(sqrt(n)),
    # floored at SUBK.  Every tested SF (n <= 2000 over 10 labels) sits
    # on the floor; the same small corpora with fewer labels do not.
    for n in (1, 500, 2000):
        assert similarity.auto_subk(n, 10) == similarity.SUBK
        assert similarity.auto_subk(n, 50) == similarity.SUBK
    assert similarity.auto_subk(2000, 1) == 45  # K = 45 = ceil(sqrt(2000))
    assert similarity.auto_subk(500, 2) == 12  # ceil(23 / 2)
    assert similarity.auto_subk(4096, 10) == 7  # ceil(64 / 10)
    assert similarity.auto_subk(10_000, 10) == 10  # K = 100 = sqrt(10^4)
    assert similarity.auto_subk(1_000_000, 10) == 100  # K = 1000
    assert similarity.auto_subk(1_000_000, 50) == 20  # K = 1000
    # Floor: a huge label count never shrinks subk below the tested SUBK.
    assert similarity.auto_subk(10_000, 1000) == similarity.SUBK
    # r9: K keeps tracking sqrt(n) PAST the old narrow-encoding clamp
    # (subk=999 at n~10^8/10 labels) — the encoding widens instead.
    assert similarity.auto_subk(10**8, 10) == 1000  # K = 10^4 = sqrt(10^8)
    assert similarity.auto_subk(10**12, 10) == 100_000  # K = 10^6
    # The wide encoding's own bound is the new (far) clamp.
    assert (
        similarity.auto_subk(10**18, 1) == similarity.IVF_WIDE_RANK_BASE - 1
    )
    # Monotone: more data never shrinks the codebook — including across
    # the narrow->wide encoding boundary.
    ks = [similarity.auto_subk(n, 10) for n in range(1, 10**6, 9973)]
    assert ks == sorted(ks)
    ks_boundary = [
        similarity.auto_subk(n, 10)
        for n in range(9 * 10**7, 11 * 10**7, 10**6)
    ]
    assert ks_boundary == sorted(ks_boundary)
    assert min(ks_boundary) < 1000 < max(ks_boundary)


def test_ivf_subk_out_of_range_raises(spark, sf_dir):
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="subk"):
        similarity.ivf_codebook(embs, subk=0).count()
    with pytest.raises(ValueError, match="subk"):
        similarity.ivf_codebook(
            embs, subk=similarity.IVF_WIDE_RANK_BASE
        ).count()


def test_ivf_wide_cluster_encoding_roundtrip(spark, sf_dir):
    # r9 (r8 VERDICT #5): past subk=999 the cluster ids switch to the
    # marked wide encoding — self-describing, non-aliasing, decodable,
    # and narrow ids (every persisted index) stay bit-identical.
    from pyspark.sql import functions as F

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = similarity._normed(embs)
    wide = similarity._twolevel_seeds(base, 1200).select(
        "label",
        "cluster",
        similarity._decode_label(F.col("cluster")).alias("lab2"),
    )
    rows = wide.collect()
    assert rows
    assert all(r.cluster >= similarity.IVF_WIDE_MARK for r in rows)
    assert len({r.cluster for r in rows}) == len(rows)  # no aliasing
    assert all(r.label == r.lab2 for r in rows)  # decode recovers labels
    narrow = similarity._twolevel_seeds(base, similarity.SUBK).select(
        "label",
        "cluster",
        similarity._decode_label(F.col("cluster")).alias("lab2"),
    )
    nrows = narrow.collect()
    assert all(
        r.cluster < similarity.IVF_WIDE_MARK and r.label == r.lab2
        for r in nrows
    )
    # the one downstream decoder (dequantize_codebook's label recovery)
    # reads a wide id correctly, so k-means refinement keeps the cheap
    # label-equi assignment path above the clamp
    wid = (
        similarity.IVF_WIDE_MARK
        + 7 * similarity.IVF_WIDE_RANK_BASE
        + 1234
    )
    sums = spark.createDataFrame(
        [(wid, 0, 2, 2 * similarity.KMEANS_SCALE), (wid, 1, 2, 0)],
        "cluster LONG, pos INT, n_members LONG, sum_q LONG",
    )
    cb = similarity.dequantize_codebook(sums).collect()
    assert len(cb) == 1 and cb[0].label == 7 and cb[0].cemb == [1.0, 0.0]
    # and a wide codebook drives the full IVF search end-to-end
    wide_cb = similarity._twolevel_seeds(base, 1200).persist()
    try:
        out = similarity.cosine_topk_ivf(embs, codebook=wide_cb)
        assert out.count() > 0
    finally:
        wide_cb.unpersist()


def test_ivf_decode_exact_at_rank_boundaries(spark):
    # The r9 review's empirical catch: decimal(38,0)/int resolves to
    # decimal(38,6), which rounds HALF_UP at six places BEFORE the floor,
    # so ranks >= 9,999,995 of base 10^7 decoded to label+1.  The decoder
    # now subtracts the remainder before dividing (exact in doubles at
    # these magnitudes) — pin the boundary ranks on both encodings.
    from pyspark.sql import functions as F

    B, M = similarity.IVF_WIDE_RANK_BASE, similarity.IVF_WIDE_MARK
    cases = [
        (M + 7 * B + 1, 7),
        (M + 7 * B + (B - 5), 7),      # the rank that used to misdecode
        (M + 7 * B + (B - 1), 7),      # max encodable rank
        (M + 99_999_999 * B + (B - 1), 99_999_999),  # max wide label
        (7 * 1000 + 999, 7),           # narrow boundary rank
        (10**11 * 1000 - 1, 10**11 - 1),  # max narrow id, still < mark
    ]
    df = spark.createDataFrame([(c,) for c, _ in cases], "cluster LONG")
    got = df.select(
        "cluster", similarity._decode_label(F.col("cluster")).alias("lab")
    ).collect()
    expect = dict(cases)
    assert all(r.lab == expect[r.cluster] for r in got), got


def test_ivf_encode_rejects_out_of_range_labels(spark):
    # The encoding's label bounds are enforced per row (a labeler change
    # emitting huge labels must fail loudly, not misdecode): narrow ids
    # must stay under the wide mark, wide labels under 10^8.
    import pytest
    from pyspark.sql import functions as F

    def seeds_for(label, subk):
        base = spark.createDataFrame(
            [(1, label, [1.0, 0.0]), (2, label, [0.0, 1.0])],
            "vec_id LONG, label LONG, emb ARRAY<DOUBLE>",
        ).withColumn("nrm", F.lit(1.0))
        return similarity._twolevel_seeds(base, subk)

    # materialize the cluster column itself — a bare count() lets
    # Catalyst prune the raising projection away
    def clusters(df):
        return [r.cluster for r in df.select("cluster").collect()]

    assert clusters(seeds_for(10**11 - 1, similarity.SUBK))
    with pytest.raises(Exception, match="label out of range"):
        clusters(seeds_for(10**11, similarity.SUBK))
    assert clusters(seeds_for(10**8 - 1, 1200))
    with pytest.raises(Exception, match="label out of range"):
        clusters(seeds_for(10**8, 1200))


def test_ivf_auto_matches_fixed_at_tested_sf(spark, sf_dir):
    # At the tested SFs the auto default must produce the EXACT codebook
    # of the fixed SUBK layout (the oracle-hash-unchanged contract).
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    auto = rows_set(similarity.ivf_codebook(embs).select("cluster", "label"))
    fixed = rows_set(
        similarity.ivf_codebook(embs, subk=similarity.SUBK).select(
            "cluster", "label"
        )
    )
    assert auto == fixed and len(auto) > 0


def test_embedding_purge_dedup_semantics(spark):
    """embedding_purge_dedup (r11, dedup-before-index): one survivor —
    the min vec_id — per near-dup component, singletons untouched,
    schema unchanged, and the cos bar is the caller's (the default
    EMB_NEARDUP_COS, a REAL near-dup bar, not the analysis-scale
    COSINE_DUP)."""
    from pyspark.sql import functions as F

    # two exact-dup blobs ({1,2,3} on x, {10,11} on y), two singletons;
    # exact dups collide in every LSH band at any width, so recall here
    # is deterministic, not probabilistic
    rows = (
        [(i, 0, [1.0, 0.0, 0.0, 0.0]) for i in (1, 2, 3)]
        + [(i, 1, [0.0, 1.0, 0.0, 0.0]) for i in (10, 11)]
        + [(20, 2, [0.0, 0.0, 1.0, 0.0]), (21, 3, [0.0, 0.0, 0.0, 1.0])]
    )
    embs = spark.createDataFrame(
        rows, "vec_id LONG, label LONG, embedding ARRAY<FLOAT>"
    )
    got = dedup.embedding_purge_dedup(embs, dim=4)
    assert got.schema == embs.schema
    assert {r.vec_id for r in got.collect()} == {1, 10, 20, 21}
    # a sub-bar pair survives intact: orthogonal-ish vectors share no
    # component at 0.95 even when banding collides them
    mixed = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0, 0.0, 0.0]),
            (2, 0, [0.9, 0.4358898943540674, 0.0, 0.0]),  # cos = .9 < .95
        ],
        "vec_id LONG, label LONG, embedding ARRAY<FLOAT>",
    )
    kept = dedup.embedding_purge_dedup(mixed, dim=4)
    assert kept.count() == 2
    # ...and the same pair purges under a lower bar
    low = dedup.embedding_purge_dedup(mixed, cos_dup=0.8, dim=4)
    assert [r.vec_id for r in low.collect()] == [1]
    # empty input short-circuits
    assert dedup.embedding_purge_dedup(embs.limit(0), dim=4).count() == 0


# --- r11 SemDeDup (cluster-then-prune semantic dedup) ------------------------


def test_semantic_dedup_prunes_identical_blob_keeps_min_id(spark):
    # Three identical vectors share one cluster (identical assignment
    # cosine, min-cluster tiebreak), form one tau-component, and the keep
    # rule ties on ccos_q -> min vec_id survives; the orthogonal vector is
    # a singleton; the zero vector is excluded from the verdict but
    # SURVIVES the purge (never pruned).
    embs = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0]),
            (2, 0, [1.0, 0.0]),
            (3, 0, [1.0, 0.0]),
            (4, 0, [0.0, 1.0]),
            (5, 0, [0.0, 0.0]),  # zero norm: no verdict row, survives purge
        ],
        EMB_COLS,
    )
    verdict = dedup.semantic_dedup(embs)
    rows = {r["vec_id"]: r for r in verdict.collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert [rows[v]["is_pruned"] for v in (1, 2, 3, 4)] == [
        False,
        True,
        True,
        False,
    ]
    assert rows[2]["kept_id"] == 1 and rows[3]["kept_id"] == 1
    assert rows[1]["component"] == rows[2]["component"] == rows[3]["component"] == 1
    assert rows[4]["component"] == 4 and rows[4]["kept_id"] == 4
    survivors = rows_set(dedup.semantic_purge_dedup(embs).select("vec_id"))
    assert survivors == {(1,), (4,), (5,)}


def test_semantic_dedup_blocks_across_labels(spark):
    # The within-cluster contract: near-identical vectors under DIFFERENT
    # labels never share a cluster (assignment equi-joins on label), so
    # SemDeDup keeps both — semantic pruning is cluster-local by design
    # (the paper's k-means blocking), unlike embedding_cosine_dedup which
    # pairs them regardless.
    embs = spark.createDataFrame(
        [(10, 0, [1.0, 0.0]), (11, 1, [1.0, 0.0001])],
        EMB_COLS,
    )
    verdict = dedup.semantic_dedup(embs)
    assert {tuple(r) for r in verdict.select("vec_id", "is_pruned").collect()} == {
        (10, False),
        (11, False),
    }
    exact = dedup.embedding_cosine_dedup(embs)
    assert exact.count() == 1  # the same pair IS a cosine dup


def test_semantic_dedup_high_tau_all_singletons(spark, sf_dir):
    # tau above the corpus max cosine: zero edges (exercises the empty
    # connected_components path), every vector its own component and
    # keeper.
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    verdict = dedup.semantic_dedup(embs, tau=0.999)
    assert verdict.filter("is_pruned").count() == 0
    assert verdict.filter("component <> vec_id OR kept_id <> vec_id").count() == 0
    assert verdict.count() == embs.count()  # no zero-norm vectors in testdata


def test_semantic_dedup_components_are_cluster_local(spark, sf_dir):
    # Edges exist only within a cluster, so every multi-member component
    # must sit inside exactly one cluster — the invariant that makes the
    # O(n^2 / K) scale envelope real.
    from pyspark.sql import functions as F

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    verdict = dedup.semantic_dedup(embs)
    assert verdict.filter("is_pruned").count() > 0  # non-degenerate default
    spread = (
        verdict.groupBy("component")
        .agg(
            F.countDistinct("cluster").alias("nclusters"),
            F.count("*").alias("members"),
        )
        .filter("members > 1 AND nclusters > 1")
    )
    assert spread.count() == 0


def test_semantic_dedup_empty_input(spark):
    embs = spark.createDataFrame([], "vec_id: long, label: long, embedding: array<double>")
    verdict = dedup.semantic_dedup(embs)
    assert verdict.columns == ["vec_id", "cluster", "component", "kept_id", "is_pruned"]
    assert verdict.count() == 0
    assert dedup.semantic_purge_dedup(embs).count() == 0


def test_semantic_dedup_rejects_tau_out_of_range(spark, sf_dir):
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for bad in (1.0, 1.5, -1.0001):
        with pytest.raises(ValueError):
            dedup.semantic_dedup(embs, tau=bad)


def test_semantic_dedup_copy_cohort_matches_full_graph_oracle(spark):
    # The exact-duplicate pre-collapse must be INVISIBLE in the verdict:
    # the oracle pairs every copy literally (no collapse), so hash
    # parity on a copy-heavy fixture proves the rep-only pairing +
    # identity edges reproduce full-graph components, keepers, and
    # prune flags exactly.
    from tests.oracle_harness import canon_frame

    vals = [
        (1, 0, [1.0, 0.0]),
        (2, 0, [1.0, 0.0]),
        (3, 0, [1.0, 0.0]),
        (4, 0, [1.0, 0.0]),
        (5, 0, [1.0, 0.01]),
        (6, 0, [0.0, 1.0]),
        (7, 1, [1.0, 0.0]),  # cross-label copy: blocked from label 0
    ]
    embs = spark.createDataFrame(vals, EMB_COLS)
    verdict = dedup.semantic_dedup(embs)
    rows = {r["vec_id"]: r for r in verdict.collect()}
    # the copy cohort always collapses to one survivor
    assert sum(not rows[v]["is_pruned"] for v in (1, 2, 3, 4)) == 1
    assert len({rows[v]["component"] for v in (1, 2, 3, 4)}) == 1
    # cross-label copy is never linked (identity edges respect nothing —
    # but components are still cluster-local, and clusters are per-label)
    assert rows[7]["component"] != rows[1]["component"]

    con = duckdb.connect()
    rows_sql = ", ".join(
        f"({v}, {l}, [{e[0]}, {e[1]}])" for v, l, e in vals
    )
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM (VALUES {rows_sql}) "
        "t(vec_id, label, embedding)"
    )
    oracle = con.execute(dedup.SEMANTIC_DEDUP_SQL).df()
    assert canon_frame(verdict.toPandas()) == canon_frame(oracle)


def test_dedup_method_report_hand_fixture(spark):
    """r12: the per-method report on a corpus where every count is hand
    computable — docs 1,2 byte-identical, docs 3,4 unrelated: each
    family flags exactly doc 2 (the min-id-keeps convention), so all
    three rows read (4, 1, 2500)."""
    from cloudcomputing_flink_application_spark.operators.dedup import (
        dedup_method_report,
    )
    from tests.conftest import rows_set

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "en", "s0", 44),
            (2, "the quick brown fox jumps over the lazy dog", "en", "s0", 44),
            (3, "entirely different words about maritime navigation law", "en", "s0", 55),
            (4, "unrelated text concerning volcanic geology strata rocks", "en", "s0", 56),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    assert rows_set(dedup_method_report(docs)) == {
        ("exact", 4, 1, 2500),
        ("minhash_cc", 4, 1, 2500),
        ("simhash", 4, 1, 2500),
    }


def test_tokset_collapse_pairs_identical_to_oracle(spark):
    # r15: minhash_lsh_dedup collapses by TOKEN SET above the text-level
    # collapse.  Distinct texts with equal toksets ("a b" / "b  a" /
    # "A b": order, whitespace, casing) must emit exactly the pairs the
    # uncollapsed DuckDB oracle computes — intra-tokset pairs at exactly
    # 1.0, cross pairs at the rep score — and whitespace-only duplicate
    # texts must emit nothing (empty tokset never bands; its 0/0 jaccard
    # is a NULL the oracle drops).
    rows = [
        (1, "a b"),
        (2, "b  a"),          # same tokset as 1, different text
        (3, "A b"),           # same tokset after lower()
        (4, "a b"),           # exact dup of 1
        (5, " "),             # whitespace-only
        (6, "  "),            # whitespace-only, different text
        (7, None),            # NULL text
        (8, "q w e r t y u i"),   # unrelated
        (9, "q w e r t y u x"),   # high-but-below-threshold neighbor of 8
    ]
    docs = spark.createDataFrame(rows, DOC_COLS)
    got = {
        (a, b, round(j, 9))
        for a, b, j in dedup.minhash_lsh_dedup(docs).collect()
    }
    con = duckdb.connect()
    vals = ", ".join(
        f"({i}, {'CAST(NULL AS VARCHAR)' if t is None else repr(t)})"
        for i, t in rows
    )
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM (VALUES {vals}) t(doc_id, text)"
    )
    want = {
        (a, b, round(j, 9))
        for a, b, j in con.execute(dedup.MINHASH_LSH_SQL).fetchall()
    }
    assert got == want
    # the tokset group {1,2,3,4} pairs completely at exactly 1.0
    assert {(a, b) for a, b, _ in got} >= {
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)
    }
    assert all(j == 1.0 for a, b, j in got if b <= 4)
    # whitespace-only/NULL texts never pair
    assert all(a not in (5, 6, 7) and b not in (5, 6, 7) for a, b, _ in got)
