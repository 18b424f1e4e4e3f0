"""Hand-computed fixtures for the training-data pipeline operators."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from cloudcomputing_flink_application_spark.operators.pipeline import (
    PACK_BUDGET,
    SAMPLE_BP,
    SAMPLE_DEFAULT_BP,
    SAMPLE_SALT,
    decontaminate,
    pack_chunks,
    repetition_stats,
    sample_stratified,
)
from tests.conftest import rows_set


def _doc(doc_id, text, lang="en", source="s0"):
    return (doc_id, text, lang, source, len(text))


DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def test_decontaminate_overlap_and_short_docs(spark):
    docs = spark.createDataFrame(
        [
            _doc(0, "a b c d e f"),      # benchmark (0 % 29 == 0)
            _doc(1, "a b c d e f"),      # full overlap -> contaminated
            _doc(2, "u v w x y z"),      # no overlap
            _doc(3, "hi"),               # < w tokens: 0 shingles, kept, clean
            _doc(4, "a b c d e q r s t u v"),  # 1 of 7 shingles -> below 1/2
        ],
        DOC_COLS,
    )
    out = decontaminate(docs)
    assert rows_set(out) == {
        (1, 2, 2, True),
        (2, 2, 0, False),
        (3, 0, 0, False),
        (4, 7, 1, False),
    }


def test_repetition_stats_exact_fractions(spark):
    docs = spark.createDataFrame(
        [_doc(1, "a a a a"), _doc(2, "hi")], DOC_COLS
    )
    out = repetition_stats(docs)
    # doc 1: 2-grams 'a a' x3 (top2=3/3), 3-grams 'a a a' x2 (dup3=2/2)
    # doc 2: one token -> no grams, zero fractions, unflagged
    assert rows_set(out) == {
        (1, 4, 1.0, 1.0, True),
        (2, 1, 0.0, 0.0, False),
    }


def test_pack_chunks_running_offsets(spark):
    texts = [("w " * n).strip() for n in (30, 40, 30, 10)]
    docs = spark.createDataFrame(
        [_doc(i, t) for i, t in enumerate(texts)], DOC_COLS
    )
    out = pack_chunks(docs)
    got = {
        (r.doc_id, r.n_tok, r.begin_tok, r.chunk_id) for r in out.collect()
    }
    assert PACK_BUDGET == 64
    assert got == {
        (0, 30, 0, 0),
        (1, 40, 30, 0),
        (2, 30, 70, 1),
        (3, 10, 100, 1),
    }


def _expected_u(doc_id: int) -> int:
    h = hashlib.md5(f"{SAMPLE_SALT}{doc_id}".encode()).hexdigest()[:14]
    return int(h, 16) % 10_000


def test_sample_stratified_matches_reference_hash(spark):
    docs = spark.createDataFrame(
        [_doc(i, "t", lang=l) for i, l in enumerate(["en", "de", "xx"] * 40)],
        DOC_COLS,
    )
    out = {(r.doc_id, r.lang, r.u) for r in sample_stratified(docs).collect()}
    expected = set()
    for i, l in enumerate(["en", "de", "xx"] * 40):
        u = _expected_u(i)
        if u < SAMPLE_BP.get(l, SAMPLE_DEFAULT_BP):
            expected.add((i, l, u))
    assert out == expected
    assert expected  # the fixture must actually keep something


def test_sample_stratified_stable_under_repartition(spark):
    docs = spark.createDataFrame(
        [_doc(i, "t") for i in range(100)], DOC_COLS
    )
    a = {r.doc_id for r in sample_stratified(docs).collect()}
    b = {r.doc_id for r in sample_stratified(docs.repartition(7)).collect()}
    assert a == b


def test_clean_corpus_stage_invariants(spark, sf_dir):
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        BENCH_MOD,
        clean_corpus,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = clean_corpus(docs).collect()
    # one row per non-benchmark doc
    assert len(out) == docs.filter(F.col("doc_id") % BENCH_MOD != 0).count()
    for r in out:
        # kept == conjunction of all stage gates
        assert r.kept == (r.q_ok and r.rep_ok and r.con_ok and r.uniq)
        # split assigned iff kept
        assert (r.split != "") == r.kept
        # uniq never true for docs dedup didn't see
        if not (r.q_ok and r.rep_ok and r.con_ok):
            assert not r.uniq
    # the pipeline actually filters something and keeps something
    kept = [r for r in out if r.kept]
    assert 0 < len(kept) < len(out)


def test_contamination_report_attribution(spark):
    # Three bench docs (ids 0, 29, 58 under BENCH_MOD=29): one fully copied
    # into a corpus doc, one partially shared, one untouched.  The report
    # must attribute per bench doc, counting corpus docs and shared
    # distinct shingles exactly.
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        contamination_report,
    )

    leak = "alpha beta gamma delta epsilon zeta"  # 6 tokens -> 2 5-gram shingles
    part = "one two three four five six seven"    # 7 tokens -> 3 shingles
    docs = spark.createDataFrame(
        [
            _doc(0, leak),                       # bench: fully leaked
            _doc(29, part),                      # bench: partially leaked
            _doc(58, "quiet words never copied anywhere else"),  # bench: clean
            _doc(1, leak),                       # corpus copy of bench 0
            _doc(2, leak + " extra"),            # corpus superset of bench 0
            _doc(3, "one two three four five intruder"),  # shares 1 shingle w/ 29
            _doc(4, "unrelated corpus text entirely"),
        ],
        DOC_COLS,
    )
    got = {r.bench_id: (r.n_shingles, r.n_hit_docs, r.n_shared_shingles)
           for r in contamination_report(docs).collect()}
    assert got == {
        0: (2, 2, 2),   # both shingles found, in corpus docs 1 and 2
        29: (3, 1, 1),  # only 'one two three four five' leaked, via doc 3
        58: (2, 0, 0),  # untouched
    }


def test_kmeans_codebook_iterations_deterministic(spark, sf_dir):
    # iters=2 chains the update through quantized means: the plan must
    # stay deterministic (two executions, identical rows) and differ from
    # the iters=1 statistics (the refinement moved at least one centroid).
    from cloudcomputing_flink_application_spark.operators.similarity import (
        ivf_kmeans_codebook,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    one = rows_set(ivf_kmeans_codebook(emb, iters=1))
    two_a = rows_set(ivf_kmeans_codebook(emb, iters=2))
    two_b = rows_set(ivf_kmeans_codebook(emb, iters=2))
    assert two_a == two_b
    assert two_a != one
    # every (cluster, pos) keeps a full member accounting
    n_vecs = emb.count()
    dim = len(emb.select("embedding").first()[0])
    by_pos = {}
    for cluster, pos, n, _ in two_a:
        by_pos.setdefault(pos, 0)
        by_pos[pos] += n
    assert all(v == n_vecs for v in by_pos.values()) and len(by_pos) == dim


def test_hourly_anomalies_integer_flag_fixture(spark, tmp_path):
    # Hand-built telemetry: type 'a' has nine 1-event hours and one 30-event
    # spike hour (z^2 = 261^2/75690 ~ 9 > 4 -> flagged); type 'b' is flat
    # (never flagged).  Verifies the cross-multiplied integer predicate and
    # the exact mean/std derivation.
    import math
    import os

    import pandas as pd

    from cloudcomputing_flink_application_spark.operators.timeseries import (
        hourly_anomalies,
    )

    rows, eid = [], 0
    for h in range(10):
        n = 30 if h == 9 else 1
        for _ in range(n):
            rows.append((eid, pd.Timestamp(2024, 1, 1, h, 30), 1, "a", 0.0, "{}"))
            eid += 1
        for _ in range(2):
            rows.append((eid, pd.Timestamp(2024, 1, 1, h, 15), 2, "b", 0.0, "{}"))
            eid += 1
    d = str(tmp_path / "ev")
    os.makedirs(d)
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(f"{d}/events.parquet")
    got = hourly_anomalies(spark, d).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.event_type, r.hour_s, r.n) == ("a", "2024-01-01 09:00", 30)
    assert r.mean == 39 / 10
    assert r.std == math.sqrt(10 * 909 - 39 * 39) / 10


def test_chunk_docs_boundaries_and_coverage(spark):
    # Hand-checked chunking arithmetic at n=4, overlap=2 (stride 2):
    # every token covered >= once, no chunk fully contained in its
    # predecessor, trailing partial chunks kept, short/NULL docs drop out.
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        chunk_docs,
    )
    from tests.conftest import rows_set

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),   # 7 toks: starts 1,3,5 -> last covers 5..7
            (2, "a b c d"),         # exactly n: one chunk only
            (3, "a b"),             # shorter than n: one partial chunk
            (4, None),              # no tokens: no rows
            (5, "a b c d e"),       # 5 toks: starts 1,3 (5..8 window kept? s=5: 5-2+3=6 >= 5 -> dropped)
        ],
        ["doc_id", "text"],
    )
    got = rows_set(chunk_docs(docs, n=4, overlap=2))
    assert got == {
        (1, 0, "a b c d", 4),
        (1, 1, "c d e f", 4),
        (1, 2, "e f g", 3),
        (2, 0, "a b c d", 4),
        (3, 0, "a b", 2),
        (5, 0, "a b c d", 4),
        (5, 1, "c d e", 3),
    }

    import pytest

    with pytest.raises(ValueError):
        chunk_docs(docs, n=0)
    with pytest.raises(ValueError):
        chunk_docs(docs, n=4, overlap=4)


def test_mixture_sample_rebalances_toward_uniform(spark):
    # sqrt-temperature mixing: the smallest source is kept whole
    # (rate 1.0 keeps every row: u < basis always), larger sources are
    # downsampled near sqrt(min/count), and the decision is stable under
    # repartitioning.
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        mixture_sample,
    )

    # 25 NULL-source docs form the SMALLEST group: they must be counted,
    # rated 1.0, and kept — not silently dropped through a NULL equi-join
    # while still dragging the global min down (review catch).
    rows = [(i, f"t {i}", "en", "small" if i < 50 else "big", 3)
            for i in range(450)]
    rows += [(1000 + i, f"n {i}", "en", None, 3) for i in range(25)]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = mixture_sample(docs)
    assert out.filter("source IS NULL").count() == 25  # rate 1.0: all kept
    by_src = {r["source"]: r for r in
              out.groupBy("source").count().collect()}
    rates = {r["source"]: r["keep_rate"]
             for r in out.select("source", "keep_rate").distinct().collect()}
    assert rates[None] == 1.0                      # smallest group kept whole
    assert abs(rates["small"] - (25 / 50) ** 0.5) < 1e-12
    expected_big = (25 / 400) ** 0.5               # = 0.25
    assert abs(rates["big"] - expected_big) < 1e-12
    frac_big = by_src["big"]["count"] / 400
    assert abs(frac_big - expected_big) < 0.1      # hash-uniformity slack
    # layout-independence: same kept set after a repartition
    assert set(r.doc_id for r in out.collect()) == set(
        r.doc_id for r in mixture_sample(docs.repartition(7)).collect()
    )


def test_mixture_sample_null_source_is_not_a_sentinel_string(spark):
    # ADVICE r6: the NULL-source group must never merge with a source whose
    # literal value happens to be a reserved sentinel string.  The join is
    # null-safe equality now, so a corpus containing the old sentinel
    # '<null-source>' as a REAL source keeps two distinct groups with two
    # distinct counts/rates.
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        mixture_sample,
    )

    rows = [(i, f"t {i}", "en", "<null-source>", 3) for i in range(2)]
    rows += [(100 + i, f"n {i}", "en", None, 3) for i in range(8)]
    rows += [(200 + i, f"a {i}", "en", "a", 3) for i in range(32)]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    rates = {r["source"]: r["keep_rate"]
             for r in mixture_sample(docs).select("source", "keep_rate")
             .distinct().collect()}
    # smallest group is the literal-string one (2 docs) -> rate 1.0;
    # the NULL group (8 docs) is rated sqrt(2/8), NOT merged into it
    assert rates["<null-source>"] == 1.0
    assert abs(rates[None] - (2 / 8) ** 0.5) < 1e-12
    assert abs(rates["a"] - (2 / 32) ** 0.5) < 1e-12
    # every literal-sentinel and NULL row is preserved through the
    # null-safe join (rate-1.0 group kept whole; NULL group rated, kept
    # by hash)
    out = mixture_sample(docs)
    assert out.filter("source = '<null-source>'").count() == 2
    assert out.filter("source IS NULL").count() > 0


def test_spread_gate_scan_shaped_only(spark):
    # The _spread gate must (a) be a metadata read on scan-shaped inputs,
    # (b) NEVER eagerly execute shuffle stages for join/aggregate/dedup
    # inputs, and (c) not be fooled by keyword-looking literals in the
    # plan string (second r7 review catch: substring matching the rendered
    # plan false-positived on filter literals and missed Deduplicate).
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        _scan_shaped,
    )
    from tests.conftest import TESTDATA

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    assert _scan_shaped(docs)
    assert _scan_shaped(docs.select("doc_id", "text").filter("doc_id > 3"))
    # a literal containing 'Join' must not flip the decision
    assert _scan_shaped(docs.filter(docs.source == "Joint-corpus"))
    # shuffle-bearing shapes — including ones outside any keyword list
    assert not _scan_shaped(docs.dropDuplicates(["text"]))
    assert not _scan_shaped(docs.join(docs.select("doc_id"), "doc_id"))
    assert not _scan_shaped(docs.groupBy("lang").count())

    # (b): constructing chunk_docs over a join-shaped input runs ZERO jobs
    from cloudcomputing_flink_application_spark.operators.pipeline import chunk_docs

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or []) | set(
        tracker.getActiveJobsIds() or []
    )
    sc.setJobGroup("spread-gate-probe", "plan-construction only")
    try:
        chunk_docs(docs.join(docs.select("doc_id"), "doc_id"))
        probe_jobs = tracker.getJobIdsForGroup("spread-gate-probe") or []
        assert len(probe_jobs) == 0, f"eager jobs at construction: {probe_jobs}"
    finally:
        sc.setJobGroup(None, None)


# --- r11 whole-document bin packing ------------------------------------------


def test_pack_bins_ffd_hand_fixture(spark):
    """budget=8, sizes 5,4,3,3,1 -> FFD: [5,3] and [4,3,1]."""
    from cloudcomputing_flink_application_spark.operators.pipeline import pack_bins

    docs = spark.createDataFrame(
        [
            _doc(1, "t t t t t"),
            _doc(2, "t t t t"),
            _doc(3, "t t t"),
            _doc(4, "t t t"),
            _doc(5, "t"),
        ],
        DOC_COLS,
    )
    out = {r["doc_id"]: r for r in pack_bins(docs, budget=8).collect()}
    assert out[1]["bin_seq"] == out[3]["bin_seq"]
    assert out[2]["bin_seq"] == out[4]["bin_seq"] == out[5]["bin_seq"]
    assert out[1]["bin_seq"] != out[2]["bin_seq"]
    assert not any(r["oversize"] for r in out.values())


def test_pack_bins_oversize_singleton(spark):
    from cloudcomputing_flink_application_spark.operators.pipeline import pack_bins

    docs = spark.createDataFrame(
        [_doc(1, "t " * 10), _doc(2, "t t"), _doc(3, "t t")],
        DOC_COLS,
    )
    out = {r["doc_id"]: r for r in pack_bins(docs, budget=8).collect()}
    assert out[1]["oversize"] and out[1]["n_tok"] == 10
    # the oversize bin never receives another doc
    assert out[2]["bin_seq"] == out[3]["bin_seq"] != out[1]["bin_seq"]
    assert not out[2]["oversize"] and not out[3]["oversize"]


def test_pack_bins_capacity_conservation_determinism(spark, sf_dir):
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        pack_bins,
        pack_bin_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bins = pack_bins(docs)
    # conservation: every doc exactly once
    assert bins.count() == docs.count()
    assert bins.select("doc_id").distinct().count() == docs.count()
    # capacity: every non-oversize bin fits the budget; oversize bins are
    # singletons holding exactly one over-budget doc
    per_bin = bins.groupBy("source", "pack_key", "bin_seq").agg(
        F.sum("n_tok").alias("load"),
        F.count("*").alias("docs"),
        F.max(F.col("oversize").cast("int")).alias("over"),
    )
    assert per_bin.filter(f"over = 0 AND load > {PACK_BUDGET}").count() == 0
    assert per_bin.filter("over = 1 AND docs > 1").count() == 0
    assert (
        bins.filter(f"oversize <> (n_tok > {PACK_BUDGET})").count() == 0
    )
    # per-group lower bound over REGULAR bins (an oversize singleton
    # carries more than a budget of tokens, so it is excluded from both
    # sides): n_regular_bins >= ceil(regular tokens / budget)
    per_group = (
        per_bin.filter("over = 0")
        .groupBy("source", "pack_key")
        .agg(F.count("*").alias("n_bins"), F.sum("load").alias("toks"))
    )
    assert (
        per_group.filter(
            f"n_bins < cast(ceil(toks / cast({PACK_BUDGET} as double)) as long)"
        ).count()
        == 0
    )
    # determinism: physical layout must not change the packing
    again = pack_bins(docs.repartition(7))
    assert rows_set(bins) == rows_set(again)
    # stats frame consistency
    stats = {r["source"]: r for r in pack_bin_stats(bins).collect()}
    glob = per_bin.groupBy().agg(F.count("*").alias("b"), F.sum("load").alias("t")).first()
    assert sum(r["n_bins"] for r in stats.values()) == glob["b"]
    assert sum(r["total_tokens"] for r in stats.values()) == glob["t"]
    for r in stats.values():
        assert 0.0 < r["fill_pct"] <= 1.0
        if r["oversize_bins"] == 0:
            assert (
                r["n_bins"] * PACK_BUDGET - r["total_tokens"] == r["padded_tokens"]
            )


def test_pack_report_vs_bins_tradeoff(spark, sf_dir):
    """The two packing regimes' measured trade on the real corpus: the
    concat packer straddles documents (cross-contamination > 0) and pads
    nothing; FFD bins straddle nothing and pay padding."""
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        pack_bins,
        pack_bin_stats,
        pack_report,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rep = {r["source"]: r for r in pack_report(docs).collect()}
    stats = {r["source"]: r for r in pack_bin_stats(pack_bins(docs)).collect()}
    assert set(rep) == set(stats)
    total_straddles = sum(r["straddle_docs"] for r in rep.values())
    assert total_straddles > 0  # budget 64 vs ~50-token docs: straddling is real
    for s in rep:
        assert rep[s]["n_docs"] == stats[s]["n_docs"]
        assert rep[s]["total_tokens"] == stats[s]["total_tokens"]
        assert stats[s]["padded_tokens"] >= 0


def test_pack_bins_rejects_bad_budget(spark, sf_dir):
    import pytest as _pytest

    from cloudcomputing_flink_application_spark.operators.pipeline import pack_bins

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with _pytest.raises(ValueError):
        pack_bins(docs, budget=0)


def test_pack_ops_null_text_counts_zero_tokens(spark):
    """NULL text packs as 0 tokens on both packers (r11 review: Spark's
    non-ANSI size(NULL) = -1 would shrink FFD bin loads below their real
    total, voiding the capacity invariant, and diverge from DuckDB's
    NULL in the chunk packer's running sums)."""
    import duckdb

    from cloudcomputing_flink_application_spark.operators.pipeline import (
        PACK_CHUNKS_SQL,
        pack_bins,
        pack_chunks,
    )
    from tests.oracle_harness import canon_frame

    docs = spark.createDataFrame(
        [
            (1, None, "en", "s0", 0),
            _doc(2, "t t t t t t t"),
            _doc(3, "t t t t"),
        ],
        DOC_COLS,
    )
    bins = {r["doc_id"]: r for r in pack_bins(docs, budget=8).collect()}
    assert bins[1]["n_tok"] == 0 and not bins[1]["oversize"]
    # the NULL doc costs nothing: all three fit one 8-token bin (7+4 > 8
    # would split without it; 7, 4 -> two bins; 0 joins the first opened)
    loads = {}
    for r in bins.values():
        loads[r["bin_seq"]] = loads.get(r["bin_seq"], 0) + r["n_tok"]
    assert all(v <= 8 for v in loads.values())
    assert bins[1]["begin_tok"] + bins[1]["n_tok"] <= 8

    chunks = pack_chunks(docs)
    assert {r["doc_id"]: r["n_tok"] for r in chunks.collect()}[1] == 0
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, NULL, 'en', 's0', 0), "
        "(2, 't t t t t t t', 'en', 's0', 13), "
        "(3, 't t t t', 'en', 's0', 7)"
        ") t(doc_id, text, lang, source, n_chars)"
    )
    oracle = con.execute(PACK_CHUNKS_SQL).df()
    assert canon_frame(chunks.toPandas()) == canon_frame(oracle)


def test_pack_bins_begin_tok_is_placement_offset(spark):
    """begin_tok comes from the FFD loop's bin load at placement time:
    budget=8, sizes 5,4,3,3,1 -> bin0 [5@0, 3@5], bin1 [4@0, 3@4, 1@7]."""
    from cloudcomputing_flink_application_spark.operators.pipeline import pack_bins

    docs = spark.createDataFrame(
        [
            _doc(1, "t t t t t"),
            _doc(2, "t t t t"),
            _doc(3, "t t t"),
            _doc(4, "t t t"),
            _doc(5, "t"),
        ],
        DOC_COLS,
    )
    out = {r["doc_id"]: r for r in pack_bins(docs, budget=8).collect()}
    assert out[1]["begin_tok"] == 0 and out[3]["begin_tok"] == 5
    assert out[2]["begin_tok"] == 0 and out[4]["begin_tok"] == 4
    assert out[5]["begin_tok"] == 7


def test_pack_ops_empty_input(spark, sf_dir):
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        pack_bin_stats,
        pack_bins,
        pack_report,
    )

    empty = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(0)
    bins = pack_bins(empty)
    assert bins.count() == 0
    assert bins.columns == [
        "doc_id", "source", "pack_key", "n_tok", "bin_seq", "begin_tok",
        "oversize",
    ]
    assert pack_bin_stats(bins).count() == 0
    assert pack_report(empty).count() == 0


def test_pack_report_counts_spanning_chunks(spark):
    """ADVICE r11: ``n_chunks`` is the real sequence count
    ceil(sum(n_tok) / PACK_BUDGET), not the count of budget blocks
    containing a doc START — one 200-token doc at budget 64 trains 4
    sequences (the old max(chunk_id)+1 said 1).  DuckDB agrees, and a
    zero-token group trains zero sequences on both engines."""
    import duckdb

    from cloudcomputing_flink_application_spark.operators.pipeline import (
        PACK_REPORT_SQL,
        pack_report,
    )
    from tests.oracle_harness import canon_frame

    giant = ("t " * 200).strip()  # 200 tokens, budget 64 -> ceil = 4
    docs = spark.createDataFrame(
        [_doc(1, giant), (2, None, "en", "s1", 0)], DOC_COLS
    )
    rows = {r["source"]: r for r in pack_report(docs).collect()}
    assert rows["s0"]["n_chunks"] == 4
    assert rows["s0"]["total_tokens"] == 200
    assert rows["s1"]["n_chunks"] == 0  # NULL text = 0 tokens = 0 sequences
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        f"(1, '{giant}', 'en', 's0', {len(giant)}), "
        "(2, NULL, 'en', 's1', 0)"
        ") t(doc_id, text, lang, source, n_chars)"
    )
    assert canon_frame(pack_report(docs).toPandas()) == canon_frame(
        con.execute(PACK_REPORT_SQL).df()
    )


def test_training_prep_semantic_conservation_and_custom_tau_oracle(spark):
    """The r12 semantic stage holds the composition's conservation
    contract — every surviving doc's full token count appears exactly
    once, survivors are purge-survivors minus exactly the SemDeDup-pruned
    ids — and the composed oracle builder agrees with the operator at a
    NON-default tau (the constant gate covers the default)."""
    import duckdb

    from cloudcomputing_flink_application_spark.functions import text as X
    from cloudcomputing_flink_application_spark.operators.dedup import (
        semantic_dedup,
    )
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        training_prep,
        training_prep_semantic_sql,
    )
    from tests.conftest import TESTDATA
    from tests.oracle_harness import canon_frame, materialize_ctes

    sf = f"{TESTDATA}/sf0.001"
    tau = 0.2
    # oracle first (DuckDB reads the parquet directly)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf}/{t}.parquet')"
        )
    oracle = con.execute(materialize_ctes(training_prep_semantic_sql(tau))).df()
    con.close()

    from cloudcomputing_flink_application_spark.operators import dedup

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    embs = spark.read.parquet(f"{sf}/embeddings.parquet")
    # scoped release (r13): this test materializes the composed semantic
    # job several times; its _persist frames must not outlive the test
    mark = dedup.cached_mark()
    sem = training_prep(docs, embeddings=embs, semantic_tau=tau)
    assert canon_frame(sem.toPandas()) == canon_frame(oracle)

    # survivors = plain survivors minus exactly the pruned ids of the
    # semantic pass OVER THOSE survivors' embeddings
    plain_ids = {
        r.doc_id for r in training_prep(docs).select("doc_id").collect()
    }
    emb_surv = embs.filter(F.col("vec_id").isin(list(plain_ids)))
    pruned = {
        r.vec_id
        for r in semantic_dedup(emb_surv, tau)
        .filter("is_pruned")
        .collect()
    }
    assert pruned  # non-degenerate at this tau
    sem_ids = {r.doc_id for r in sem.select("doc_id").collect()}
    assert sem_ids == plain_ids - pruned

    # token conservation: each survivor appears once with its real count
    rows = {r.doc_id: r for r in sem.collect()}
    assert len(rows) == sem.count()
    counts = {
        r.doc_id: r.c
        for r in docs.filter(F.col("doc_id").isin(list(sem_ids)))
        .select("doc_id", F.size(X.tokens("text")).alias("c"))
        .collect()
    }
    assert {d: rows[d].n_tok for d in rows} == counts
    # all consumers done (an assert failure is caught by the conftest
    # module-teardown net instead)
    dedup.release_cached(since=mark)


def test_pack_bins_chunked_planted_giants(spark):
    """Chunk-then-bin (r12): planted over-budget docs split into
    budget-sized pieces, EVERY bin respects capacity (no oversize escape
    hatch), tokens conserve across the chunk boundary, piece text
    reconstructs the doc, and the output is deterministic under
    repartition."""
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        chunk_oversize_docs,
        pack_bins_chunked,
    )
    from tests.conftest import rows_set

    giant = " ".join(f"t{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            _doc(1, giant),                 # 20 tokens -> pieces 8,8,4
            _doc(2, "a b c d e f g"),       # 7 tokens, whole
            (3, None, "en", "s0", 0),       # NULL -> 0 tokens, piece 0
            _doc(4, "x " * 9),              # 9 tokens -> pieces 8,1
        ],
        DOC_COLS,
    )
    pieces = {(r.doc_id, r.piece): r for r in chunk_oversize_docs(docs, 8).collect()}
    assert [pieces[(1, p)].n_tok for p in range(3)] == [8, 8, 4]
    assert " ".join(pieces[(1, p)].text for p in range(3)) == giant
    # piece text preserves ORIGINAL case (r12 review: the canonical
    # tokenizer lowercases; piece slicing must not)
    cased = {
        (r.doc_id, r.piece): r
        for r in chunk_oversize_docs(
            spark.createDataFrame(
                [_doc(9, "NASA Report Alpha BETA gamma DELTA one TWO three FOUR")],
                DOC_COLS,
            ),
            8,
        ).collect()
    }
    assert cased[(9, 0)].text == "NASA Report Alpha BETA gamma DELTA one TWO"
    assert cased[(9, 1)].text == "three FOUR"
    assert pieces[(2, 0)].text == "a b c d e f g"  # whole docs byte-identical
    assert pieces[(3, 0)].n_tok == 0
    assert [pieces[(4, p)].n_tok for p in range(2)] == [8, 1]
    assert len(pieces) == 7

    bins = pack_bins_chunked(docs, budget=8)
    rows = bins.collect()
    assert all(not r.oversize for r in rows)
    assert all(r.begin_tok + r.n_tok <= 8 for r in rows)
    loads = {}
    for r in rows:
        k = (r.source, r.pack_key, r.bin_seq)
        loads[k] = loads.get(k, 0) + r.n_tok
    assert all(v <= 8 for v in loads.values())
    assert sum(r.n_tok for r in rows) == 20 + 7 + 0 + 9
    # determinism under physical layout
    assert rows_set(bins) == rows_set(pack_bins_chunked(docs.repartition(5), budget=8))


def test_pack_token_col_exact_budgeting(spark):
    """r14 (VERDICT r13 #5): tokenizer-faithful packing — a precomputed
    exact-count column drives chunk/bins/report budgets, with per-row
    regex fallback on NULL cells, conservation and capacity EXACT in
    tokenizer units, and the default-path oracle constants unchanged."""
    import duckdb

    from cloudcomputing_flink_application_spark.operators import (
        pipeline as P,
    )

    rows = []
    for i in range(60):
        nwords = (i * 7) % 23
        text = " ".join(f"w{j}" for j in range(nwords)) or None
        # exact counts diverge from the whitespace count (BPE-ish 1.4x);
        # every 5th row NULL and every 7th a -1 "untokenized" sentinel —
        # both must fall back to the regex counter (r14 review: a
        # negative count would drive begin_tok backwards)
        if i % 5 == 0:
            n_exact = None
        elif i % 7 == 0:
            n_exact = -1
        else:
            n_exact = int(nwords * 1.4) + (i % 3)
        rows.append((i, f"src{i % 2}", text, n_exact))
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string, n_exact long"
    )
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    try:
        for tc in (None, "n_exact"):
            sp = P.pack_chunks(df, tc).orderBy("doc_id").toPandas()
            du = con.execute(
                P.pack_chunks_sql(tc) + " ORDER BY doc_id"
            ).fetchdf()
            assert sp.equals(du[sp.columns]), tc
            sp = (
                P.chunk_oversize_docs(df, 9, tc)
                .orderBy("doc_id", "piece")
                .toPandas()
                .reset_index(drop=True)
            )
            du = (
                con.execute(P.chunk_oversize_sql(9, tc) + " ORDER BY doc_id, piece")
                .fetchdf()
                .reset_index(drop=True)
            )
            assert sp.equals(du[sp.columns]), tc
            assert (sp.n_tok <= 9).all(), tc  # capacity, both counters
            sp = P.pack_report(df, tc).orderBy("source").toPandas()
            du = con.execute(
                P.pack_report_sql(tc) + " ORDER BY source"
            ).fetchdf()
            assert sp.equals(du[sp.columns]), tc
    finally:
        con.close()
    # conservation in EXACT units: piece n_tok sums to the doc's exact
    # count (fallback rows: to the regex count) — token_col flows
    # through the split without loss
    want = df.select(
        F.sum(P._n_tok_col("n_exact")).alias("t")
    ).first()["t"]
    got = (
        P.chunk_oversize_docs(df, 9, "n_exact")
        .agg(F.sum("n_tok"))
        .first()[0]
    )
    assert got == want
    # the ceil(n/budget) piece layout: budget-sized pieces + remainder
    giant = (
        P.chunk_oversize_docs(df, 9, "n_exact")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("k"),
            F.sum("n_tok").alias("tot"),
            F.max("n_tok").alias("mx"),
        )
        .join(df.select("doc_id", P._n_tok_col("n_exact").alias("n")), "doc_id")
        .filter(F.col("n") > 9)
        .collect()
    )
    assert giant, "fixture must include over-budget docs"
    for r in giant:
        assert r.k == -(-r.n // 9) and r.tot == r.n and r.mx <= 9, r
    # unchanged composed oracle when the column is absent (VERDICT's
    # literal done-criterion)
    assert P.pack_chunks_sql() == P.PACK_CHUNKS_SQL
    assert P.pack_report_sql() == P.PACK_REPORT_SQL
    assert P.chunk_oversize_sql() == P.CHUNK_OVERSIZE_SQL


def test_packed_training_rows_scrub_pii(spark):
    """r14 (VERDICT r13 #4): scrub_pii=True rewrites exactly the PII in
    the packed text — same rows, same packing geometry (whitespace arity
    is preserved by the placeholders' single-token shape here), scrubbed
    bytes in the shard column."""
    from cloudcomputing_flink_application_spark.operators import (
        dedup,
        pipeline as P,
    )

    docs = spark.createDataFrame(
        [
            (1, "email me@example.com now", "en", "s0", 24),
            (2, "server 10.0.0.1 port 8080", "en", "s0", 25),
            (3, "plain words only here", "en", "s0", 21),
        ],
        DOC_COLS[:2] + ["lang", "source", "n_chars"],
    ).withColumn("split", F.lit("train"))
    mark = dedup.cached_mark()
    try:
        plain = {
            r.doc_id: r.text
            for r in P.packed_training_rows(docs).collect()
        }
        scrubbed = {
            r.doc_id: r.text
            for r in P.packed_training_rows(docs, scrub_pii=True).collect()
        }
    finally:
        dedup.release_cached(since=mark)
    assert set(plain) == set(scrubbed) == {1, 2, 3}
    assert scrubbed[1] == "email <email> now"
    assert scrubbed[2] == "server <ip> port <num>"
    assert scrubbed[3] == plain[3]  # non-PII text byte-identical


def test_spread_gate_skips_shuffle_on_parallel_scans(spark):
    # r14 optimization round: the ungated repartition(defaultParallelism)
    # prep pattern (dedup token sets, text exploders, decontaminate sides,
    # the multimodal payload pass) moved to the gated _spread.  On an
    # already-parallel scan-shaped input the converted operators must plan
    # NO round-robin exchange (at scale that exchange is a full shuffle of
    # the text column for nothing); on the local single-partition parquet
    # scan the spread must still fan out — local plans unchanged.
    from cloudcomputing_flink_application_spark.operators.dedup import (
        _token_sets,
    )
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        decontaminate,
    )
    from cloudcomputing_flink_application_spark.operators.textstats import (
        token_freq,
    )
    from tests.conftest import TESTDATA

    nparts = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 64, 1, nparts).selectExpr(
        "id AS doc_id",
        "concat('tok', CAST(id % 7 AS STRING), ' alpha beta') AS text",
        "'en' AS lang",
        "CAST(id % 3 AS STRING) AS source",
        "CAST(length('tok alpha beta') AS LONG) AS n_chars",
    )
    assert wide.rdd.getNumPartitions() >= nparts
    for frame in (token_freq(wide), _token_sets(wide), decontaminate(wide)):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" not in plan
    narrow = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    plan = token_freq(narrow)._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan


def test_semantic_restriction_truncates_lineage_and_releases(spark, sf_dir):
    # r15: semantic_pruned_ids cuts the composed clean+purge lineage at
    # the embedding restriction (guide §3.3 — Catalyst re-analyzed the
    # nested persisted tree at every downstream toRdd; ~22 s of pure
    # planning per composed job).  Pin the mechanism: the restricted
    # corpus plans as an RDD scan, and release_cached frees the snapshot
    # blocks it registered.
    from cloudcomputing_flink_application_spark.operators import dedup
    from cloudcomputing_flink_application_spark.operators import (
        pipeline as pipeline,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dedup.release_cached()

    def _local_ckpt_count():
        return len(dedup._local_ckpt_rdd_ids(spark))

    base_ckpts = _local_ckpt_count()
    mark = dedup.cached_mark()
    out = pipeline.semantic_prune_docs(docs, embs)
    # the truncation registered exactly one release entry beyond the
    # stage's own persists, and the plan it feeds contains an RDD scan
    # (LogicalRDD) instead of the nested join tree
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan, plan[:2000]
    out.count()  # materialize: snapshot blocks fill
    after_run = _local_ckpt_count()
    assert after_run > base_ckpts
    dedup.release_cached(since=mark)
    # the truncation's snapshot is freed; the one allowed survivor is
    # connected_components' RETURNED frame snapshot (documented: callers
    # may still replay from it, freed by GC/session teardown)
    assert _local_ckpt_count() < after_run
    assert _local_ckpt_count() <= base_ckpts + 1
