"""End-to-end CLI tests: the reference user's journey (CSV in, CSV out)."""

from __future__ import annotations

import os

import pytest

from cloudcomputing_flink_application_spark import cli

REF_VT = "/root/reference/VehicleTelematics/input/data_small.csv"
REF_TAXI = "/root/reference/YellowTaxi/input/q2testData.csv"

# FIXTURES.md §2 example row, cut around the columns no query reads:
# passenger_count .. improvement_surcharge (3-15) and airport_fee (18).
_TAXI_UNREAD_3_15 = "1.0,0.69,1.0,N,162,100,1,5.0,0.5,0.5,1.76,0.0,0.3"
_TAXI_UNREAD_18 = "0.0"


def write_trips_csv(path) -> str:
    """Write tests/test_taxi.py's ``TRIPS`` as a headerless 19-column
    yellow-taxi CSV (FIXTURES.md §2) and return its path."""
    from tests.test_taxi import TRIPS

    fmt = "%Y-%m-%d %H:%M:%S"
    with open(path, "w") as f:
        for vendor, pickup, dropoff, total, surcharge in TRIPS:
            f.write(
                f"{vendor},{pickup.strftime(fmt)},{dropoff.strftime(fmt)},"
                f"{_TAXI_UNREAD_3_15},{total},{surcharge},{_TAXI_UNREAD_18}\n"
            )
    return str(path)


@pytest.fixture
def vt_csv(tmp_path):
    """The reference's data_small.csv where it is checked out, else the
    equivalent in-repo rows (tests/test_telematics.py ``DATA_SMALL``) as a
    headerless 8-column CSV; the data_small goldens hold for both
    (FIXTURES.md §4)."""
    if os.path.exists(REF_VT):
        return REF_VT
    from tests.test_telematics import DATA_SMALL

    path = tmp_path / "data_small.csv"
    path.write_text("".join(",".join(map(str, r)) + "\n" for r in DATA_SMALL))
    return str(path)


_needs_ref_taxi = pytest.mark.skipif(
    not os.path.exists(REF_TAXI),
    reason=f"{REF_TAXI} is absent; its goldens are facts about that file's rows",
)


def test_vehicle_telematics_cli(spark, tmp_path, vt_csv):
    out = str(tmp_path / "vt")
    cli.main(["vehicle-telematics", "--input", vt_csv, "--output", out])
    assert sorted(os.listdir(out)) == [
        "accidents.csv",
        "avgspeedfines.csv",
        "speedfines.csv",
    ]
    with open(f"{out}/avgspeedfines.csv") as f:
        assert f.read().strip() == "32,36,72,0,0,225"
    with open(f"{out}/speedfines.csv") as f:
        assert f.read().strip() == ""  # no speeders in data_small


@_needs_ref_taxi
def test_congestion_area_cli(spark, tmp_path):
    out = str(tmp_path / "cong.csv")
    cli.main(["congestion-area", "--input", REF_TAXI, "--output", out])
    with open(out) as f:
        assert f.read().strip() == "2022/03/01,8,20.06"


@_needs_ref_taxi
def test_saturated_vendor_cli(spark, tmp_path):
    out = str(tmp_path / "sat.csv")
    cli.main(["saturated-vendor", "--input", REF_TAXI, "--output", out])
    lines = open(out).read().strip().split("\n")
    assert len(lines) == 10  # 10 back-to-back pairs in q2testData
    assert all(line.endswith(",2") for line in lines)


def test_vehicle_telematics_cli_streaming(spark, tmp_path, vt_csv):
    out = str(tmp_path / "vts")
    cli.main(["vehicle-telematics", "--input", vt_csv, "--output", out, "--streaming"])
    avg = spark.read.schema(
        "time1 INT, time2 INT, vid INT, xway INT, dir INT, avgspd INT"
    ).csv(f"{out}/avgspeedfines")
    assert [tuple(r) for r in avg.collect()] == [(32, 36, 72, 0, 0, 225)]


def test_congestion_area_cli_show(tmp_path, capfd):
    # where q2testData.csv is absent, the in-repo TRIPS rows: their
    # Q-CONG day 1 is 2022/03/01 as well
    taxi = (
        REF_TAXI
        if os.path.exists(REF_TAXI)
        else write_trips_csv(tmp_path / "trips.csv")
    )
    out = str(tmp_path / "cong_show.csv")
    cli.main(["congestion-area", "--input", taxi, "--output", out, "--show"])
    captured = capfd.readouterr()
    assert "2022/03/01" in captured.out  # O2 print sink


def test_taxi_cli_in_repo_rows(spark, tmp_path):
    # Both taxi subcommands on the in-repo TRIPS rows, whose goldens are
    # hand-derived in tests/test_taxi.py: 60.57/3 = 20.19; 10.005 rounds
    # HALF_UP to 10.01; gaps of 5m and 9m59s fire, exactly 10m does not.
    taxi = write_trips_csv(tmp_path / "trips.csv")
    cong, sat = str(tmp_path / "cong.csv"), str(tmp_path / "sat.csv")
    cli.main(["congestion-area", "--input", taxi, "--output", cong])
    cli.main(["saturated-vendor", "--input", taxi, "--output", sat])
    with open(cong) as f:
        assert set(f.read().strip().split("\n")) == {
            "2022/03/01,3,20.19",
            "2022/03/02,2,10.01",
        }
    with open(sat) as f:
        assert set(f.read().strip().split("\n")) == {
            "5,2022-03-03 10:00:00,2022-03-03 10:30:00,2",
            "6,2022-03-03 10:05:00,2022-03-03 10:45:00,2",
        }


def test_write_parquet_partitioned(spark, tmp_path):
    from cloudcomputing_flink_application_spark.sources import sinks

    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], ["id", "part"])
    out = str(tmp_path / "pq")
    sinks.write_parquet(df, out, partition_by=["part"])
    back = spark.read.parquet(out)
    assert back.count() == 3
    assert {r.part for r in back.select("part").distinct().collect()} == {"a", "b"}


def test_jsonl_round_trip_documents(spark, tmp_path):
    from cloudcomputing_flink_application_spark import schemas
    from cloudcomputing_flink_application_spark.sources import sinks
    from cloudcomputing_flink_application_spark.sources.readers import (
        read_documents_jsonl,
    )

    docs = spark.createDataFrame(
        [(1, "hello world", "en", "s0", 11), (2, "bonjour", "fr", "s1", 7)],
        schema=schemas.DOCUMENTS,
    )
    out = str(tmp_path / "docs_jsonl")
    sinks.write_jsonl(docs, out, partition_by=["source"])
    back = read_documents_jsonl(spark, out)
    # partition column round-trips via the directory layout; schema enforced,
    # so column order and types match DOCUMENTS without inference
    assert set(back.columns) == set(docs.columns)
    got = {
        (r.doc_id, r.text, r.lang, r.source, r.n_chars)
        for r in back.select(*docs.columns).collect()
    }
    assert got == {(1, "hello world", "en", "s0", 11), (2, "bonjour", "fr", "s1", 7)}


def test_jsonl_missing_fields_null(spark, tmp_path):
    from cloudcomputing_flink_application_spark.sources.readers import (
        read_documents_jsonl,
    )

    p = tmp_path / "partial.jsonl"
    p.write_text('{"doc_id": 5, "text": "only two fields"}\n')
    back = read_documents_jsonl(spark, str(p))
    [r] = back.collect()
    assert (r.doc_id, r.text, r.lang, r.source, r.n_chars) == (
        5, "only two fields", None, None, None,
    )


def test_corpus_clean_cli_batch_and_streaming(spark, tmp_path):
    # The LLM-pipeline job surface: batch output must equal a direct
    # clean_corpus() run; the --streaming variant over the same input must
    # produce the same flag rows (single micro-batch here; the multi-batch
    # contract is pinned in tests/test_streaming.py).
    from cloudcomputing_flink_application_spark.operators.pipeline import clean_corpus
    from tests.conftest import TESTDATA, rows_set

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet").limit(200)
    d_in = str(tmp_path / "docs_in")
    docs.write.parquet(d_in)

    out_b = str(tmp_path / "out_batch")
    cli.main(["corpus-clean", "--input", d_in, "--output", out_b])
    expected = rows_set(clean_corpus(spark.read.parquet(d_in)))
    got = rows_set(spark.read.parquet(out_b).select(
        "doc_id", "q_ok", "rep_ok", "con_ok", "uniq", "kept", "split"))
    assert got == expected

    out_s = str(tmp_path / "out_stream")
    cli.main(["corpus-clean", "--input", d_in, "--output", out_s, "--streaming"])
    streamed = rows_set(spark.read.parquet(f"{out_s}/flags").select(
        "doc_id", "q_ok", "rep_ok", "con_ok", "uniq", "kept", "split"))
    assert streamed == expected


def test_dedup_purge_cli_batch_and_streaming(spark, tmp_path):
    # The dedup job surface: batch output must equal a direct
    # minhash_purge_dedup() run; --streaming over the same input must
    # produce the same purge table (single micro-batch here; the
    # multi-batch contract is pinned in tests/test_streaming.py).
    from cloudcomputing_flink_application_spark.operators.dedup import (
        minhash_purge_dedup,
    )
    from tests.conftest import TESTDATA, rows_set

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet").limit(200)
    d_in = str(tmp_path / "docs_in")
    docs.write.parquet(d_in)
    cols = ["doc_id", "n_members", "chars_saved"]

    out_b = str(tmp_path / "out_batch")
    cli.main(["dedup-purge", "--input", d_in, "--output", out_b])
    expected = rows_set(minhash_purge_dedup(spark.read.parquet(d_in)))
    assert rows_set(spark.read.parquet(out_b).select(*cols)) == expected

    out_s = str(tmp_path / "out_stream")
    cli.main(["dedup-purge", "--input", d_in, "--output", out_s, "--streaming"])
    streamed = rows_set(spark.read.parquet(f"{out_s}/purge").select(*cols))
    assert streamed == expected


def test_span_scrub_cli(spark, tmp_path):
    # The exact-substring job surface: output must equal a direct
    # scrub_dup_spans() run; --stats writes the stats table; --width
    # threads through; width < 1 is rejected.
    import pytest

    from cloudcomputing_flink_application_spark.operators.pipeline import (
        dup_span_stats,
        scrub_dup_spans,
    )
    from tests.conftest import TESTDATA, rows_set

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet").limit(200)
    d_in = str(tmp_path / "docs_in")
    docs.write.parquet(d_in)

    out = str(tmp_path / "out_scrub")
    cli.main(["span-scrub", "--input", d_in, "--output", out])
    expected = rows_set(scrub_dup_spans(spark.read.parquet(d_in)))
    assert rows_set(spark.read.parquet(out).select(
        "doc_id", "clean_text", "kept_tokens", "removed_tokens")) == expected

    out_s = str(tmp_path / "out_stats")
    cli.main(["span-scrub", "--input", d_in, "--output", out_s,
              "--stats", "--width", "4"])
    expected_s = rows_set(dup_span_stats(spark.read.parquet(d_in), w=4))
    assert rows_set(spark.read.parquet(out_s).select(
        "doc_id", "n_tokens", "n_windows", "dup_windows", "dup_tokens"
    )) == expected_s

    with pytest.raises(SystemExit):
        cli.main(["span-scrub", "--input", d_in,
                  "--output", str(tmp_path / "bad"), "--width", "0"])

    # --streaming: single micro-batch here; the cumulative positions set
    # must equal the batch duplicated-start set (the multi-batch contract
    # is pinned in tests/test_streaming.py)
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        _dup_span_starts,
    )

    out_st = str(tmp_path / "out_stream")
    cli.main(["span-scrub", "--input", d_in, "--output", out_st, "--streaming"])
    streamed = rows_set(
        spark.read.parquet(f"{out_st}/positions").select("doc_id", "p")
    )
    assert streamed == rows_set(
        _dup_span_starts(spark.read.parquet(d_in), 8).select("doc_id", "p")
    )


def test_dedup_purge_cli_forget(spark, tmp_path):
    # --forget runs compliance deletion against the streaming state: after
    # the streaming job, forgetting a doc removes it from every store and
    # the re-derived edges never reference it.
    from tests.conftest import TESTDATA

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet").limit(100)
    d_in = str(tmp_path / "docs_in")
    docs.write.parquet(d_in)
    out = str(tmp_path / "out")
    cli.main(["dedup-purge", "--input", d_in, "--output", out, "--streaming"])
    some_doc = spark.read.parquet(f"{out}/_state/toksets").select(
        "doc_id"
    ).first()[0]
    cli.main(["dedup-purge", "--input", d_in, "--output", out,
              "--forget", str(some_doc)])
    for store in ("bands", "toksets", "docstats"):
        assert (
            spark.read.parquet(f"{out}/_state/{store}")
            .filter(f"doc_id = {some_doc}").count() == 0
        ), store

    # --forget against a BATCH output root (no streaming state) must fail
    # loudly, not silently no-op
    import pytest

    out_b = str(tmp_path / "out_batch")
    cli.main(["dedup-purge", "--input", d_in, "--output", out_b])
    with pytest.raises(SystemExit, match="no streaming state"):
        cli.main(["dedup-purge", "--input", d_in, "--output", out_b,
                  "--forget", "1"])


def test_ivf_index_cli_lifecycle(spark, tmp_path):
    # Full lifecycle through the CLI: build -> streaming assign -> drift
    # report present -> forget -> span-forget-style failure modes.
    import pytest

    from tests.conftest import TESTDATA

    emb = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    build_in = str(tmp_path / "build_in")
    emb.filter("vec_id <= 300").write.parquet(build_in)
    arrive_in = str(tmp_path / "arrive_in")
    emb.filter("vec_id > 300").write.parquet(arrive_in)
    root = str(tmp_path / "index")

    cli.main(["ivf-index", "--input", build_in, "--output", root])
    assert os.path.isdir(f"{root}/codebook") and os.path.isdir(f"{root}/ref_stats")

    cli.main(["ivf-index", "--input", arrive_in, "--output", root, "--streaming"])
    asg = spark.read.parquet(f"{root}/assignments")
    assert asg.filter("vec_id > 300").count() > 0
    assert spark.read.parquet(f"{root}/drift").count() >= 1

    victim = asg.select("vec_id").first()[0]
    cli.main(["ivf-index", "--input", arrive_in, "--output", root,
              "--forget", str(victim)])
    assert (
        spark.read.parquet(f"{root}/assignments")
        .filter(f"vec_id = {victim}").count() == 0
    )

    # --streaming against an unbuilt root fails loudly
    with pytest.raises(SystemExit, match="no codebook"):
        cli.main(["ivf-index", "--input", arrive_in,
                  "--output", str(tmp_path / "nope"), "--streaming"])
    # --forget against an unbuilt root fails loudly
    with pytest.raises(SystemExit, match="no index"):
        cli.main(["ivf-index", "--input", arrive_in,
                  "--output", str(tmp_path / "nope2"), "--forget", "1"])


def test_span_scrub_cli_forget(spark, tmp_path):
    # --forget on a span-scrub streaming root removes the doc's
    # content-derived rows from the first-occurrence store.
    import pytest

    from tests.conftest import TESTDATA

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet").limit(50)
    d_in = str(tmp_path / "docs_in")
    docs.write.parquet(d_in)
    out = str(tmp_path / "out")
    cli.main(["span-scrub", "--input", d_in, "--output", out, "--streaming"])
    victim = spark.read.parquet(f"{out}/_state/firsts").select("doc_id").first()[0]
    cli.main(["span-scrub", "--input", d_in, "--output", out,
              "--forget", str(victim)])
    assert (
        spark.read.parquet(f"{out}/_state/firsts")
        .filter(f"doc_id = {victim}").count() == 0
    )
    # batch root (no streaming state) fails loudly
    out_b = str(tmp_path / "out_b")
    cli.main(["span-scrub", "--input", d_in, "--output", out_b])
    with pytest.raises(SystemExit, match="no streaming state"):
        cli.main(["span-scrub", "--input", d_in, "--output", out_b,
                  "--forget", "1"])


def test_corpus_clean_cli_shards(spark, tmp_path):
    # --shards writes the kept docs as deterministic training shards: one
    # row per kept doc, shard membership stable, text joined back intact.
    from tests.conftest import TESTDATA

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    d_in = str(tmp_path / "docs_in")
    docs.write.parquet(d_in)
    out = str(tmp_path / "out")
    cli.main(["corpus-clean", "--input", d_in, "--output", out,
              "--shards", "4"])
    flags = spark.read.parquet(out)
    shards = spark.read.parquet(f"{out}_shards")
    assert shards.count() == flags.filter("kept").count()
    assert {r.shard for r in shards.select("shard").distinct().collect()} <= set(range(4))
    # text travelled intact and split survived the join
    assert shards.filter("text IS NULL").count() == 0
    assert shards.filter("split = ''").count() == 0


def test_corpus_clean_cli_shards_edge_flags(spark, tmp_path, capsys):
    # --shards 0 must fail loudly through the sink guard (not silently
    # no-op), --streaming --shards warns, and a trailing-slash output
    # still writes shards as a SIBLING (never nested inside the flags dir
    # where the next overwrite would delete them).
    import pytest

    from tests.conftest import TESTDATA

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet").limit(60)
    d_in = str(tmp_path / "docs_in")
    docs.write.parquet(d_in)
    out = str(tmp_path / "out") + "/"           # trailing slash
    with pytest.raises(ValueError, match="n_shards"):
        cli.main(["corpus-clean", "--input", d_in, "--output", out,
                  "--shards", "0"])
    cli.main(["corpus-clean", "--input", d_in, "--output", out,
              "--shards", "2"])
    assert os.path.isdir(str(tmp_path / "out_shards"))
    assert not os.path.isdir(str(tmp_path / "out" / "_shards"))


def test_corpus_clean_cli_forget(spark, tmp_path):
    import pytest

    from tests.conftest import TESTDATA

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet").limit(80)
    d_in = str(tmp_path / "docs_in")
    docs.write.parquet(d_in)
    out = str(tmp_path / "out")
    cli.main(["corpus-clean", "--input", d_in, "--output", out, "--streaming"])
    victim = spark.read.parquet(f"{out}/_state/hashes").select("doc_id").first()[0]
    cli.main(["corpus-clean", "--input", d_in, "--output", out,
              "--forget", str(victim)])
    assert (
        spark.read.parquet(f"{out}/_state/hashes")
        .filter(f"doc_id = {victim}").count() == 0
    )
    out_b = str(tmp_path / "out_b")
    cli.main(["corpus-clean", "--input", d_in, "--output", out_b])
    with pytest.raises(SystemExit, match="no streaming state"):
        cli.main(["corpus-clean", "--input", d_in, "--output", out_b,
                  "--forget", "1"])


def test_dedup_flags_cli_batch_streaming_and_forget(spark, tmp_path):
    # The band-flags job surface (r8 — the one forget path that had no
    # shell surface): batch output equals a direct minhash_band_flags()
    # run; --streaming matches on a single micro-batch; --forget removes
    # a doc's band rows from the bucket store.
    import pytest

    from cloudcomputing_flink_application_spark.operators.dedup import (
        minhash_band_flags,
    )
    from tests.conftest import TESTDATA, rows_set

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet").limit(100)
    d_in = str(tmp_path / "docs_in")
    docs.write.parquet(d_in)

    out_b = str(tmp_path / "out_batch")
    cli.main(["dedup-flags", "--input", d_in, "--output", out_b])
    expected = rows_set(minhash_band_flags(spark.read.parquet(d_in)))
    assert rows_set(
        spark.read.parquet(out_b).select("doc_id", "is_dup")
    ) == expected

    out_s = str(tmp_path / "out_stream")
    cli.main(["dedup-flags", "--input", d_in, "--output", out_s, "--streaming"])
    streamed = rows_set(
        spark.read.parquet(f"{out_s}/flags").select("doc_id", "is_dup")
    )
    assert streamed == expected

    victim = spark.read.parquet(f"{out_s}/_state/bands").select(
        "doc_id"
    ).first()[0]
    cli.main(["dedup-flags", "--input", d_in, "--output", out_s,
              "--forget", str(victim)])
    store = spark.read.parquet(f"{out_s}/_state/bands")
    assert store.filter(f"doc_id = {victim}").count() == 0
    assert store.count() > 0  # survivors' rows intact

    # batch root (no streaming state) fails loudly
    with pytest.raises(SystemExit, match="no streaming state"):
        cli.main(["dedup-flags", "--input", d_in, "--output", out_b,
                  "--forget", "1"])


def test_ivf_index_cli_rebuild_if_drift(spark, tmp_path, capsys):
    # The drift-triggered maintenance loop (r8): fresh index (no drift
    # rows) is a no-op; an in-distribution reading is a no-op; a reading
    # under the threshold rebuilds from --input.
    import pytest

    from tests.conftest import TESTDATA

    emb = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    build_in = str(tmp_path / "build_in")
    emb.filter("vec_id <= 300").write.parquet(build_in)
    arrive_in = str(tmp_path / "arrive_in")
    emb.filter("vec_id > 300").write.parquet(arrive_in)
    root = str(tmp_path / "index")

    # unbuilt root fails loudly
    with pytest.raises(SystemExit, match="no codebook"):
        cli.main(["ivf-index", "--input", build_in, "--output", root,
                  "--rebuild-if-drift", "0.9"])

    cli.main(["ivf-index", "--input", build_in, "--output", root])
    def cb_set(path):
        return {(r.cluster, r.label, tuple(r.cemb))
                for r in spark.read.parquet(path).collect()}

    cb0 = cb_set(f"{root}/codebook")

    # fresh: no stream batch has run -> no drift evidence -> no-op
    cli.main(["ivf-index", "--input", arrive_in, "--output", root,
              "--rebuild-if-drift", "0.9"])
    assert "no drift readings" in capsys.readouterr().out
    assert cb_set(f"{root}/codebook") == cb0

    # stream a batch: the deterministic drift reading on this corpus
    # is ~0.47 (near-uniform random vectors, tiny build set: arrivals
    # genuinely fit an overfitted seed codebook worse than the build
    # slice did — the clustered fixture is where drift ~ 1.0 lives,
    # pinned in test_drift_reads_one_for_in_distribution_batches)
    cli.main(["ivf-index", "--input", arrive_in, "--output", root,
              "--streaming"])
    assert spark.read.parquet(f"{root}/drift").count() >= 1

    # healthy-enough: drift >= 0.3 -> no rebuild, codebook unchanged
    cli.main(["ivf-index", "--input", arrive_in, "--output", root,
              "--rebuild-if-drift", "0.3"])
    assert "no rebuild" in capsys.readouterr().out
    assert cb_set(f"{root}/codebook") == cb0

    # with only ONE reading the default K=3 refuses (not enough
    # evidence of a sustained drop — the post-rebuild churn guard)
    cli.main(["ivf-index", "--input", arrive_in, "--output", root,
              "--rebuild-if-drift", "0.9"])
    assert "not enough evidence" in capsys.readouterr().out
    assert cb_set(f"{root}/codebook") == cb0
    # stale-triggers: a threshold above the reading forces the rebuild
    # path deterministically (drift ~ 0.47 < 0.9; K=1 = the
    # latest-reading rule)
    cli.main(["ivf-index", "--input", arrive_in, "--output", root,
              "--rebuild-if-drift", "0.9", "--drift-consecutive", "1"])
    assert "rebuilding" in capsys.readouterr().out
    # rebuilt FROM --input: batch-0 assignments are the arrive set only,
    # stale stream partitions dropped, drift store cleared
    asg = spark.read.parquet(f"{root}/assignments")
    assert asg.filter("vec_id <= 300").count() == 0
    assert asg.filter("vec_id > 300").count() > 0
    from cloudcomputing_flink_application_spark.streaming.jobs import (
        _committed_batch_data_exists,
    )

    assert not _committed_batch_data_exists(spark, f"{root}/drift")
    assert not os.path.exists(f"{root}/assignments.forget_lock")


def test_rebuild_if_drift_preserves_refinement_depth(spark, tmp_path, capsys):
    # A maintenance run that omits --iters must reuse the ORIGINAL
    # build's k-means depth (r8 review catch: iters defaulting to 0
    # silently downgraded a refined codebook to the seed on rebuild).
    from cloudcomputing_flink_application_spark.operators import similarity
    from tests.conftest import TESTDATA

    emb = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    build_in = str(tmp_path / "build_in")
    emb.filter("vec_id <= 300").write.parquet(build_in)
    arrive_in = str(tmp_path / "arrive_in")
    emb.filter("vec_id > 300").write.parquet(arrive_in)
    root = str(tmp_path / "index")

    cli.main(["ivf-index", "--input", build_in, "--output", root,
              "--iters", "1"])
    assert similarity.build_iters(spark, root) == 1

    cli.main(["ivf-index", "--input", arrive_in, "--output", root,
              "--streaming"])
    # force the rebuild path; --iters omitted -> stored depth reused
    cli.main(["ivf-index", "--input", arrive_in, "--output", root,
              "--rebuild-if-drift", "0.99", "--drift-consecutive", "1"])
    out = capsys.readouterr().out
    assert "rebuilding" in out and "iters=1" in out
    assert similarity.build_iters(spark, root) == 1
    # explicit --iters still overrides.  The rebuild cleared the drift
    # store and the checkpoint already consumed arrive_in's files, so
    # append fresh files to trigger a new drift-producing batch first.
    emb.filter("vec_id > 300 AND vec_id % 7 = 0").write.mode(
        "append"
    ).parquet(arrive_in)
    cli.main(["ivf-index", "--input", arrive_in, "--output", root,
              "--streaming"])
    cli.main(["ivf-index", "--input", arrive_in, "--output", root,
              "--rebuild-if-drift", "0.99", "--iters", "0",
              "--drift-consecutive", "1"])
    assert "iters=0" in capsys.readouterr().out
    assert similarity.build_iters(spark, root) == 0


def test_rebuild_if_drift_requires_sustained_drop(spark, tmp_path, capsys):
    # ADVICE r9: one noisy micro-batch dipping below the threshold must
    # NOT trigger a rebuild (which would also wipe the drift history) —
    # the newest --drift-consecutive readings must ALL be below.
    from tests.conftest import TESTDATA

    emb = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    build_in = str(tmp_path / "build_in")
    emb.filter("vec_id <= 300").write.parquet(build_in)
    root = str(tmp_path / "index")
    cli.main(["ivf-index", "--input", build_in, "--output", root])

    def cb_set(path):
        return {(r.cluster, r.label, tuple(r.cemb))
                for r in spark.read.parquet(path).collect()}

    cb0 = cb_set(f"{root}/codebook")
    # fabricate drift history in the stream's own store layout: two
    # HEALTHY readings (exactly the build reference -> drift = 1.0),
    # then one NOISY dip (a tenth of the reference sum -> drift ~ 0.1)
    # as the LATEST reading
    ref = spark.read.parquet(f"{root}/ref_stats").first()
    n, s = int(ref["n_vecs"]), int(ref["sum_ccos_q"])
    for batch_id, sum_q in ((1, s), (2, s), (3, s // 10)):
        spark.createDataFrame(
            [(n, sum_q)], "n_vecs LONG, sum_ccos_q LONG"
        ).write.parquet(f"{root}/drift/batch_id={batch_id}")

    # default K=3: latest readings are (0.1, 1.0, 1.0) -> not sustained
    cli.main(["ivf-index", "--input", build_in, "--output", root,
              "--rebuild-if-drift", "0.9"])
    assert "no rebuild" in capsys.readouterr().out
    assert cb_set(f"{root}/codebook") == cb0
    assert spark.read.parquet(f"{root}/drift").count() == 3  # history kept

    # K=1 reproduces the latest-row rule: the dip alone triggers
    cli.main(["ivf-index", "--input", build_in, "--output", root,
              "--rebuild-if-drift", "0.9", "--drift-consecutive", "1"])
    assert "rebuilding" in capsys.readouterr().out


def test_dedup_purge_cli_emit_deltas(spark, tmp_path):
    # --emit-deltas: the fold of the streamed deltas equals the batch
    # operator; batch mode refuses the flag loudly.
    import pytest

    from cloudcomputing_flink_application_spark.operators.dedup import (
        minhash_purge_dedup,
    )
    from cloudcomputing_flink_application_spark.streaming.jobs import (
        purge_table_from_deltas,
    )
    from tests.conftest import TESTDATA, rows_set

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet").limit(120)
    d_in = str(tmp_path / "docs_in")
    docs.write.parquet(d_in)
    out = str(tmp_path / "out")
    cli.main(["dedup-purge", "--input", d_in, "--output", out,
              "--streaming", "--emit-deltas"])
    folded = rows_set(purge_table_from_deltas(spark, f"{out}/purge"))
    assert folded == rows_set(minhash_purge_dedup(spark.read.parquet(d_in)))

    with pytest.raises(SystemExit, match="streaming-only"):
        cli.main(["dedup-purge", "--input", d_in,
                  "--output", str(tmp_path / "b"), "--emit-deltas"])
    # --compact flag conflicts are clean pre-Spark SystemExits too
    with pytest.raises(SystemExit, match="streaming-only"):
        cli.main(["dedup-purge", "--input", d_in,
                  "--output", str(tmp_path / "b2"), "--compact-every", "2"])
    with pytest.raises(SystemExit, match="requires --emit-deltas"):
        cli.main(["dedup-purge", "--input", d_in,
                  "--output", str(tmp_path / "b3"), "--streaming",
                  "--compact-every", "2"])
    # --compact is standalone: combined with another mode it would
    # silently swallow that mode (compact-and-exit)
    with pytest.raises(SystemExit, match="standalone"):
        cli.main(["dedup-purge", "--input", d_in,
                  "--output", str(tmp_path / "b4"), "--streaming",
                  "--emit-deltas", "--compact"])
    with pytest.raises(SystemExit, match="standalone"):
        cli.main(["dedup-purge", "--input", d_in,
                  "--output", str(tmp_path / "b5"), "--forget", "1",
                  "--compact"])


def test_dedup_purge_cli_compact_and_horizon_delta(spark, tmp_path):
    # The composed shell surface (r9): horizon + deltas + in-stream
    # compaction in one run, then offline --compact squeezes the history
    # to one snapshot whose fold is the last window's table.
    from cloudcomputing_flink_application_spark.operators.dedup import (
        minhash_purge_dedup,
    )
    from cloudcomputing_flink_application_spark.streaming.jobs import (
        purge_table_from_deltas,
    )
    from tests.conftest import TESTDATA, rows_set

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet").limit(80)
    d_in = str(tmp_path / "docs_in")
    docs.write.parquet(d_in)
    out = str(tmp_path / "out")
    cli.main(["dedup-purge", "--input", d_in, "--output", out,
              "--streaming", "--emit-deltas", "--horizon-batches", "2",
              "--compact-every", "2"])
    expected = rows_set(minhash_purge_dedup(spark.read.parquet(d_in)))
    assert rows_set(purge_table_from_deltas(spark, f"{out}/purge")) == expected
    cli.main(["dedup-purge", "--input", d_in, "--output", out, "--compact"])
    parts = {
        int(r.batch_id)
        for r in spark.read.parquet(f"{out}/purge")
        .select("batch_id").distinct().collect()
    }
    assert len(parts) == 1
    assert rows_set(purge_table_from_deltas(spark, f"{out}/purge")) == expected
    # --compact on a root that never streamed fails loudly
    import pytest

    with pytest.raises(SystemExit, match="no emitted output"):
        cli.main(["dedup-purge", "--input", d_in,
                  "--output", str(tmp_path / "never"), "--compact"])


def test_pq_index_cli_build_encode_report(spark, tmp_path, capfd):
    from cloudcomputing_flink_application_spark.operators import similarity
    from tests.conftest import TESTDATA

    emb_in = f"{TESTDATA}/sf0.001/embeddings.parquet"
    root = str(tmp_path / "pqroot")
    cli.main(["pq-index", "--input", emb_in, "--output", root])
    import os

    assert sorted(os.listdir(root)) == ["codes", "pq_codebook", "pq_meta"]
    # codes match the library operator given the STORED codebook
    stored = similarity.read_pq_codebook(spark, root)
    expected = {
        (r.vec_id, r.code_csv)
        for r in similarity.pq_encode(
            spark.read.parquet(emb_in), codebook=stored
        ).collect()
    }
    got = {
        (r.vec_id, r.code_csv)
        for r in spark.read.parquet(f"{root}/codes").collect()
    }
    assert got == expected and len(got) == 500
    # geometry recorded
    assert similarity.pq_build_params(spark, root) == {
        "m": 8, "ksub": 16, "iters": 1
    }
    # --encode-only re-encodes against the stored codebook (idempotent
    # on the same input)
    cli.main(["pq-index", "--input", emb_in, "--output", root,
              "--encode-only"])
    again = {
        (r.vec_id, r.code_csv)
        for r in spark.read.parquet(f"{root}/codes").collect()
    }
    assert again == expected
    # --report prints the recall table
    cli.main(["pq-index", "--input", emb_in, "--output", root, "--report"])
    assert "recall" in capfd.readouterr().out
    import pytest

    # --shortlist-report is read-only standalone: combined with an
    # ACTION flag it is dispatched first and would silently swallow the
    # action — including a --forget compliance deletion (r10 review);
    # the conflict is a clean pre-Spark SystemExit
    with pytest.raises(SystemExit, match="standalone"):
        cli.main(["pq-index", "--input", emb_in, "--output", root,
                  "--forget", "1", "--shortlist-report"])
    # --shortlist-report prints the auto-shortlist decision over the
    # stored codes (r10): the top blob + PQ_SHORTLIST, not clamped
    cli.main(["pq-index", "--input", emb_in, "--output", root,
              "--shortlist-report"])
    out = capfd.readouterr().out
    assert "top_blob" in out and "clamped" in out
    assert "compat_pinned" not in out
    assert "false" in out  # clamped=false rendered
    row = similarity.shortlist_report(spark, root).first()
    assert row.shortlist == row.top_blob + similarity.PQ_SHORTLIST
    assert f"|{row.shortlist}" in out.replace(" ", "")
    # all maintenance modes refuse an unbuilt root
    import pytest

    for flag in ("--encode-only", "--report", "--shortlist-report"):
        with pytest.raises(SystemExit, match="no pq_meta"):
            cli.main(["pq-index", "--input", emb_in,
                      "--output", str(tmp_path / "nothing"), flag])


def test_pq_index_cli_streaming_and_forget(spark, tmp_path):
    """The PQ lifecycle end to end through the CLI: build from batch A,
    stream batch B in (codes accumulate in one batch_id-partitioned
    store), accumulated store == the batch operator over A ∪ B, then
    --forget removes exactly the named vectors' code rows."""
    from pyspark.sql import functions as F

    from cloudcomputing_flink_application_spark.operators import similarity
    from tests.conftest import TESTDATA

    emb = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    a_in = str(tmp_path / "a_in")
    b_in = str(tmp_path / "b_in")
    emb.filter(F.col("vec_id") < 250).write.parquet(a_in)
    emb.filter(F.col("vec_id") >= 250).write.parquet(b_in)
    root = str(tmp_path / "pqroot")
    cli.main(["pq-index", "--input", a_in, "--output", root])
    cli.main(["pq-index", "--input", b_in, "--output", root, "--streaming"])
    stored = similarity.read_pq_codebook(spark, root)
    expected = {
        (r.vec_id, r.code_csv)
        for r in similarity.pq_encode(emb, codebook=stored).collect()
    }
    got = {
        (r.vec_id, r.code_csv)
        for r in spark.read.parquet(f"{root}/codes").collect()
    }
    assert got == expected  # stream == batch under one codebook
    batches = {
        int(r.batch_id)
        for r in spark.read.parquet(f"{root}/codes")
        .select("batch_id").distinct().collect()
    }
    assert 0 in batches and len(batches) >= 2  # build + stream partitions
    # compliance deletion: exactly the named rows vanish
    victims = sorted({v for v, _ in got})[:3]
    cli.main(["pq-index", "--input", a_in, "--output", root,
              "--forget", ",".join(str(v) for v in victims)])
    after = {
        (r.vec_id, r.code_csv)
        for r in spark.read.parquet(f"{root}/codes").collect()
    }
    assert after == {(v, c) for v, c in got if v not in victims}
    # --forget refuses an unbuilt root
    import pytest

    with pytest.raises(SystemExit, match="no codes store"):
        cli.main(["pq-index", "--input", a_in,
                  "--output", str(tmp_path / "void"), "--forget", "1"])


def test_pq_index_cli_streaming_requires_built_root(spark, tmp_path):
    """--streaming on a never-built root exits with the CLI's clean
    usage error, like every sibling branch (r9 review)."""
    import pytest
    from pyspark.sql import functions as F

    from tests.conftest import TESTDATA

    emb_in = str(tmp_path / "in")
    (
        spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
        .limit(5)
        .write.parquet(emb_in)
    )
    with pytest.raises(SystemExit, match="no pq_meta"):
        cli.main(["pq-index", "--input", emb_in,
                  "--output", str(tmp_path / "fresh"), "--streaming"])


def test_pq_index_cli_forget_heals_mid_swap_crash(spark, tmp_path):
    """The documented recovery for a forget killed between the two swap
    renames (codes -> .forget_bak done, tmp -> codes not) is to re-run
    the same forget; the CLI precheck must accept that state instead of
    refusing 'no codes store' (r9 review)."""
    import os

    from tests.conftest import TESTDATA

    emb_in = str(tmp_path / "in")
    spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet").filter(
        "vec_id < 100"
    ).write.parquet(emb_in)
    root = str(tmp_path / "pqroot")
    cli.main(["pq-index", "--input", emb_in, "--output", root])
    before = spark.read.parquet(f"{root}/codes").count()
    # simulate the crash state: store renamed to backup, lock left behind
    os.rename(f"{root}/codes", f"{root}/codes.forget_bak")
    with open(f"{root}/codes.forget_lock", "w"):
        pass
    cli.main(["pq-index", "--input", emb_in, "--output", root,
              "--forget", "3"])
    after = spark.read.parquet(f"{root}/codes")
    assert after.count() == before - 1
    assert after.filter("vec_id = 3").count() == 0
    assert not os.path.exists(f"{root}/codes.forget_lock")
    assert not os.path.exists(f"{root}/codes.forget_bak")


def test_ivf_index_cli_compact(spark, tmp_path):
    """ivf-index --compact folds the assignment store's stream
    partitions into one: rows identical, drift history untouched, the
    conflict/unbuilt-root guards fire, and a crashed forget's lock
    refuses the compaction."""
    import pytest

    from tests.conftest import TESTDATA

    emb = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    build_in = str(tmp_path / "build_in")
    emb.filter("vec_id < 200").write.parquet(build_in)
    root = str(tmp_path / "index")
    cli.main(["ivf-index", "--input", build_in, "--output", root])
    # two stream batches -> assignment partitions {0, 1, 2}
    arrive = str(tmp_path / "arrive")
    for lo, hi, name in ((200, 350, "a"), (350, 500, "b")):
        emb.filter(f"vec_id >= {lo} and vec_id < {hi}").write.parquet(
            f"{arrive}/{name}.parquet"
        )
        cli.main(["ivf-index", "--input", f"{arrive}/*", "--output", root,
                  "--streaming"])
    asg_dir = f"{root}/assignments"
    before = {
        (r.vec_id, r.cluster)
        for r in spark.read.parquet(asg_dir).select("vec_id", "cluster").collect()
    }
    drift_parts = sorted(
        int(r.batch_id)
        for r in spark.read.parquet(f"{root}/drift")
        .select("batch_id").distinct().collect()
    )
    cli.main(["ivf-index", "--input", build_in, "--output", root, "--compact"])
    asg = spark.read.parquet(asg_dir)
    assert {
        (r.vec_id, r.cluster) for r in asg.select("vec_id", "cluster").collect()
    } == before
    assert {
        int(r.batch_id) for r in asg.select("batch_id").distinct().collect()
    } == {0, 2}
    # the drift history (the staleness evidence) is untouched
    assert sorted(
        int(r.batch_id)
        for r in spark.read.parquet(f"{root}/drift")
        .select("batch_id").distinct().collect()
    ) == drift_parts
    # conflicts exit before Spark startup; unbuilt roots fail loudly
    with pytest.raises(SystemExit, match="standalone"):
        cli.main(["ivf-index", "--input", build_in, "--output", root,
                  "--compact", "--streaming"])
    with pytest.raises(SystemExit, match="no index"):
        cli.main(["ivf-index", "--input", build_in,
                  "--output", str(tmp_path / "void"), "--compact"])
    # a crashed maintenance op's lock refuses the compaction
    with open(f"{asg_dir}.forget_lock", "w"):
        pass
    with pytest.raises(RuntimeError, match="crashed"):
        cli.main(["ivf-index", "--input", build_in, "--output", root,
                  "--compact"])
    os.remove(f"{asg_dir}.forget_lock")


def test_pq_index_cli_compact_conflicts(tmp_path):
    """pq-index --compact rejects combination with the other modes
    before Spark startup."""
    import pytest

    for other in ("--streaming", "--encode-only", "--report"):
        with pytest.raises(SystemExit, match="standalone"):
            cli.main(["pq-index", "--input", str(tmp_path),
                      "--output", str(tmp_path / "o"), "--compact", other])
    with pytest.raises(SystemExit, match="standalone"):
        cli.main(["pq-index", "--input", str(tmp_path),
                  "--output", str(tmp_path / "o"), "--compact",
                  "--forget", "1"])


def test_pq_index_input_is_per_mode(tmp_path, capfd):
    """--input is validated per mode (ADVICE r10): the modes that read
    vectors refuse a missing --input with a pre-Spark SystemExit; the
    artifact-only modes (--shortlist-report here) run without one — no
    more dummy path on report-only invocations."""
    import pytest

    out = str(tmp_path / "o")
    # reads-vectors modes refuse cleanly (build, then each flag mode)
    with pytest.raises(SystemExit, match="--input is required"):
        cli.main(["pq-index", "--output", out])
    for flag in ("--streaming", "--encode-only", "--report"):
        with pytest.raises(SystemExit, match="--input is required"):
            cli.main(["pq-index", "--output", out, flag])
    # artifact-only mode proceeds past argparse AND the per-mode check
    # without --input (fails later only because the root is unbuilt)
    with pytest.raises(SystemExit, match="no stored codes|no pq_meta|codes"):
        cli.main(["pq-index", "--output", out, "--shortlist-report"])


def test_ivfpq_search_cli(spark, tmp_path):
    """The production query job end to end: build both index roots, run
    ivfpq-search, output equals the operator's rows; unbuilt roots fail
    with the clean usage errors."""
    import pytest

    from cloudcomputing_flink_application_spark.operators import similarity
    from tests.conftest import TESTDATA

    emb_in = str(tmp_path / "in")
    spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet").write.parquet(
        emb_in
    )
    ivf_root = str(tmp_path / "ivf")
    pq_root = str(tmp_path / "pq")
    out = str(tmp_path / "out")
    cli.main(["ivf-index", "--input", emb_in, "--output", ivf_root])
    cli.main(["pq-index", "--input", emb_in, "--output", pq_root])
    cli.main(["ivfpq-search", "--input", emb_in, "--output", out,
              "--ivf-root", ivf_root, "--pq-root", pq_root])
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {
        tuple(r)
        for r in similarity.ivfpq_topk_from_index(
            spark, ivf_root, pq_root, spark.read.parquet(emb_in)
        ).collect()
    }
    assert got == want and len(got) > 0
    with pytest.raises(SystemExit, match="no codebook"):
        cli.main(["ivfpq-search", "--input", emb_in, "--output", out,
                  "--ivf-root", str(tmp_path / "v1"), "--pq-root", pq_root])
    with pytest.raises(SystemExit, match="no pq_meta"):
        cli.main(["ivfpq-search", "--input", emb_in, "--output", out,
                  "--ivf-root", ivf_root, "--pq-root", str(tmp_path / "v2")])


def test_ivfpq_search_cli_streaming(spark, tmp_path):
    """ivfpq-search --streaming: arriving query vectors are served from
    the stored artifacts per micro-batch; --corpus is required."""
    import pytest

    from cloudcomputing_flink_application_spark.operators import similarity
    from tests.conftest import TESTDATA

    emb = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    corpus_in = str(tmp_path / "corpus")
    emb.write.parquet(corpus_in)
    ivf_root = str(tmp_path / "ivf")
    pq_root = str(tmp_path / "pq")
    q_in = str(tmp_path / "queries")
    out = str(tmp_path / "out")
    cli.main(["ivf-index", "--input", corpus_in, "--output", ivf_root])
    cli.main(["pq-index", "--input", corpus_in, "--output", pq_root])
    emb.limit(10).write.parquet(f"{q_in}/q0.parquet")
    cli.main(["ivfpq-search", "--input", f"{q_in}/*", "--output", out,
              "--ivf-root", ivf_root, "--pq-root", pq_root,
              "--corpus", corpus_in, "--streaming"])
    got = {
        tuple(r)
        for r in spark.read.parquet(out).drop("batch_id").collect()
    }
    want = {
        tuple(r)
        for r in similarity.ivfpq_topk_from_index(
            spark, ivf_root, pq_root, emb,
            queries=spark.read.parquet(f"{q_in}/q0.parquet"),
        ).collect()
    }
    assert got == want and len(got) > 0
    with pytest.raises(SystemExit, match="requires --corpus"):
        cli.main(["ivfpq-search", "--input", f"{q_in}/*", "--output", out,
                  "--ivf-root", ivf_root, "--pq-root", pq_root,
                  "--streaming"])


def test_ivf_index_cli_drift_horizon(spark, tmp_path):
    """--drift-horizon through the CLI bounds the drift store; without
    --streaming it exits before Spark startup."""
    import pytest

    from tests.conftest import TESTDATA

    emb = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    build_in = str(tmp_path / "build_in")
    emb.filter("vec_id < 200").write.parquet(build_in)
    root = str(tmp_path / "index")
    cli.main(["ivf-index", "--input", build_in, "--output", root])
    arrive = str(tmp_path / "arrive")
    for k, (lo, hi) in enumerate(((200, 300), (300, 400), (400, 500))):
        emb.filter(f"vec_id >= {lo} and vec_id < {hi}").write.parquet(
            f"{arrive}/b{k}.parquet"
        )
        cli.main(["ivf-index", "--input", f"{arrive}/*", "--output", root,
                  "--streaming", "--drift-horizon", "2"])
    assert sorted(
        int(r.batch_id)
        for r in spark.read.parquet(f"{root}/drift")
        .select("batch_id").distinct().collect()
    ) == [2, 3]
    with pytest.raises(SystemExit, match="streaming-only"):
        cli.main(["ivf-index", "--input", build_in, "--output", root,
                  "--drift-horizon", "2"])


def test_train_data_cli_batch_conservation(spark, tmp_path):
    """The end-to-end training-data job (r11): prep rows equal the
    composed operator, and the shard store satisfies CONSERVATION —
    every surviving doc (and so every surviving token) lands in exactly
    one shard, n_tok is the doc's real token count, and a packed
    sequence never splits across shards."""
    from pyspark.sql import functions as F

    from cloudcomputing_flink_application_spark.functions import text as X
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        training_prep,
    )
    from tests.conftest import TESTDATA, rows_set

    d_in = f"{TESTDATA}/sf0.01/documents.parquet"
    root = str(tmp_path / "td")
    cli.main(["train-data", "--input", d_in, "--output", root,
              "--shards", "4"])
    docs = spark.read.parquet(d_in)
    prep = spark.read.parquet(f"{root}/prep")
    assert rows_set(prep) == rows_set(training_prep(docs))

    shards = spark.read.parquet(f"{root}/shards")
    # every prep row in exactly one shard, nothing else
    assert rows_set(shards.drop("shard")) == rows_set(prep)
    assert shards.count() == shards.select("doc_id").distinct().count()
    # token conservation: the shard store's n_tok sum equals the real
    # token count of exactly the surviving docs, computed independently
    surv_tokens = (
        docs.join(shards.select("doc_id"), "doc_id")
        .agg(F.sum(F.size(X.tokens("text"))).alias("t"))
        .first()["t"]
    )
    assert shards.agg(F.sum("n_tok")).first()[0] == surv_tokens
    # per-row integrity: n_tok is its own text's token count
    bad = shards.filter(
        F.col("n_tok") != F.size(X.tokens("text"))
    ).count()
    assert bad == 0
    # pack atomicity: one pack chunk -> one shard
    split_packs = (
        shards.groupBy("pack_id")
        .agg(F.countDistinct("shard").alias("ns"))
        .filter("ns > 1")
        .count()
    )
    assert split_packs == 0
    # shard layout: one file per shard partition (the sink's contract)
    import os

    part_dirs = [d for d in os.listdir(f"{root}/shards") if d.startswith("shard=")]
    assert 1 <= len(part_dirs) <= 4
    for d in part_dirs:
        files = [
            f for f in os.listdir(f"{root}/shards/{d}") if f.endswith(".parquet")
        ]
        assert len(files) == 1, (d, files)


def test_train_data_cli_streaming_matches_batch(spark, tmp_path):
    """--streaming maintains the clean + purge stores incrementally
    across invocations (two arrival batches here) and --materialize
    composes them into the SAME prep/shard output the batch job writes
    — the accumulated==batch contract for the whole composition."""
    from tests.conftest import TESTDATA, rows_set

    from cloudcomputing_flink_application_spark.operators.pipeline import (
        BENCH_MOD,
    )

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet").filter(
        "doc_id < 300"
    )
    d_in = str(tmp_path / "docs_in")
    # the benchmark slice is STATIC by the decontamination contract
    # (run_clean_corpus_stream docstring) — all of it must be on disk
    # before the first invocation, or early batches are cleared against
    # a partial benchmark no later invocation re-checks
    docs.filter(f"doc_id % {BENCH_MOD} == 0").write.parquet(
        f"{d_in}/bench.parquet"
    )
    # non-benchmark corpus arrives in doc_id order, the assumption every
    # incremental dedup stream here documents
    docs.filter(f"doc_id % {BENCH_MOD} != 0 AND doc_id < 150").write.parquet(
        f"{d_in}/a.parquet"
    )
    root = str(tmp_path / "stream")
    # per-arrival-dir inputs need the glob, as with every file-source
    # stream here (the source does not recurse into subdirectories)
    src_glob = f"{d_in}/*"
    cli.main(["train-data", "--input", src_glob, "--output", root, "--streaming"])
    docs.filter(f"doc_id % {BENCH_MOD} != 0 AND doc_id >= 150").write.parquet(
        f"{d_in}/b.parquet"
    )
    cli.main(["train-data", "--input", src_glob, "--output", root, "--streaming"])
    cli.main(["train-data", "--input", src_glob, "--output", root,
              "--materialize", "--shards", "3"])

    batch_root = str(tmp_path / "batch")
    cli.main(["train-data", "--input", src_glob, "--output", batch_root,
              "--shards", "3"])
    assert rows_set(spark.read.parquet(f"{root}/prep")) == rows_set(
        spark.read.parquet(f"{batch_root}/prep")
    )
    assert rows_set(spark.read.parquet(f"{root}/shards")) == rows_set(
        spark.read.parquet(f"{batch_root}/shards")
    )
    # compliance deletion through the composed state (r11): forget a doc
    # that made it into the shards, re-materialize, and it is gone from
    # prep AND shards while everything else is untouched
    shard_ids = {
        r.doc_id for r in spark.read.parquet(f"{root}/shards").collect()
    }
    victim = sorted(shard_ids)[5]
    cli.main(["train-data", "--input", src_glob, "--output", root,
              "--forget", str(victim)])
    cli.main(["train-data", "--input", src_glob, "--output", root,
              "--materialize", "--shards", "3"])
    after_ids = {
        r.doc_id for r in spark.read.parquet(f"{root}/shards").collect()
    }
    assert victim not in after_ids
    # the only permissible id-set changes: the victim leaves, and a
    # near-dup the victim was canonically absorbing may re-surface
    assert shard_ids - after_ids == {victim}
    assert spark.read.parquet(f"{root}/prep").filter(
        f"doc_id = {victim}"
    ).count() == 0

    # conflict + missing-store guards
    import pytest

    with pytest.raises(SystemExit, match="separate invocations"):
        cli.main(["train-data", "--input", src_glob, "--output", root,
                  "--streaming", "--materialize"])
    with pytest.raises(SystemExit, match="standalone stream-stopped"):
        cli.main(["train-data", "--input", src_glob, "--output", root,
                  "--forget", "1", "--materialize"])
    with pytest.raises(SystemExit, match="--materialize composes"):
        cli.main(["train-data", "--input", src_glob,
                  "--output", str(tmp_path / "empty"), "--materialize"])
    with pytest.raises(SystemExit, match="train-data --streaming output root"):
        cli.main(["train-data", "--input", src_glob,
                  "--output", str(tmp_path / "empty2"), "--forget", "1"])


def test_ivf_index_dedup_first(spark, tmp_path):
    """ivf-index --dedup-first (r11): the pq twin — an IVFADC deployment
    deduping before index should build BOTH roots over the same survivor
    corpus (the from-index search inner-joins the stores), so the flag
    exists symmetrically.  The built assignment store holds exactly the
    purge survivors; guards mirror pq-index."""
    import pytest

    from cloudcomputing_flink_application_spark.operators.dedup import (
        embedding_purge_dedup,
    )
    from tests.conftest import TESTDATA

    from pyspark.sql import functions as F

    # a small corpus with SCATTERED duplicates so the purge bites the
    # hard way: 40 exact copies AND 40 noisy copies (one element nudged
    # by 1e-4 — cos ~ 1 > the bar, NOT byte-identical) at +1000/+2000 id
    # offsets.  Exact copies pin the O(n) hash edges at any id layout;
    # noisy copies pin the sig-salted chains (an id-salted chain
    # scattered a sig's copies across salt groups and connected ~none —
    # r11 review)
    base = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    dup = base.filter("vec_id < 40").selectExpr(
        "vec_id + 1000 AS vec_id", "label", "embedding"
    )
    noisy = base.filter("vec_id < 40").select(
        (F.col("vec_id") + 2000).alias("vec_id"),
        "label",
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(1e-4)),
            F.slice("embedding", 2, 63),
        ).alias("embedding"),
    )
    corpus = base.unionByName(dup).unionByName(noisy)
    d_in = str(tmp_path / "embs_in")
    corpus.write.parquet(d_in)
    root = str(tmp_path / "ivf")
    cli.main(["ivf-index", "--input", d_in, "--output", root,
              "--dedup-first"])
    built_ids = {
        r.vec_id
        for r in spark.read.parquet(f"{root}/assignments").collect()
    }
    surv_ids = {
        r.vec_id
        for r in embedding_purge_dedup(spark.read.parquet(d_in)).collect()
    }
    assert built_ids == surv_ids
    # every scattered copy — exact AND noisy — collapsed to its min-id
    # original; no +1000/+2000 id survives
    assert len(built_ids) == corpus.count() - 80
    assert not (built_ids & set(range(1000, 1040)))
    assert not (built_ids & set(range(2000, 2040)))
    assert set(range(40)) <= built_ids
    # guards mirror pq-index
    with pytest.raises(SystemExit, match="build mode only"):
        cli.main(["ivf-index", "--input", d_in, "--output", root,
                  "--dedup-first", "--report"])
    with pytest.raises(SystemExit, match="requires --dedup-first"):
        cli.main(["ivf-index", "--input", d_in, "--output", root,
                  "--dedup-cos", "0.9"])
    with pytest.raises(SystemExit, match="strictly inside"):
        cli.main(["ivf-index", "--input", d_in, "--output", root,
                  "--dedup-first", "--dedup-cos", "1.5"])


def test_corpus_profile_cli_batch_exact_pack_and_streaming(spark, tmp_path):
    # The profiling job surface: default output equals corpus_profile,
    # --exact equals corpus_profile_exact, --pack joins the packing-trade
    # columns, and --streaming's last cumulative partition equals the
    # batch operators (single arrival here; the multi-batch contract is
    # pinned in tests/test_streaming.py).
    import pytest as _pytest

    from cloudcomputing_flink_application_spark.operators import textstats as T
    from tests.conftest import TESTDATA, rows_set

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet").limit(200)
    d_in = str(tmp_path / "docs_in")
    docs.write.parquet(d_in)

    out_sk = str(tmp_path / "out_sketch")
    cli.main(["corpus-profile", "--input", d_in, "--output", out_sk])
    assert rows_set(spark.read.parquet(out_sk)) == rows_set(
        T.corpus_profile(spark.read.parquet(d_in))
    )

    out_ex = str(tmp_path / "out_exact")
    cli.main(["corpus-profile", "--input", d_in, "--output", out_ex, "--exact"])
    assert rows_set(spark.read.parquet(out_ex)) == rows_set(
        T.corpus_profile_exact(spark.read.parquet(d_in))
    )

    out_pk = str(tmp_path / "out_pack")
    cli.main(["corpus-profile", "--input", d_in, "--output", out_pk, "--pack"])
    got = spark.read.parquet(out_pk)
    assert {
        "straddle_docs",
        "n_bins",
        "oversize_bins",
        "padded_tokens",
        "fill_pct",
    } <= set(got.columns)
    assert got.count() == T.corpus_profile(docs).count()

    out_st = str(tmp_path / "out_stream")
    cli.main(["corpus-profile", "--input", d_in, "--output", out_st, "--streaming"])
    prof = spark.read.parquet(f"{out_st}/profile")
    last = prof.filter("batch_id = 0")
    sk = {r["source"]: r.asDict() for r in T.corpus_profile(docs).collect()}
    ex = {r["source"]: r.asDict() for r in T.corpus_profile_exact(docs).collect()}
    got_s = {
        r["source"]: (
            r["n_docs"],
            r["distinct_texts_est"],
            r["distinct_tokens_est"],
            r["len_p50"],
            r["len_p99"],
        )
        for r in last.collect()
    }
    assert got_s == {
        s: (
            sk[s]["n_docs"],
            sk[s]["distinct_texts_est"],
            sk[s]["distinct_tokens_est"],
            ex[s]["len_p50"],
            ex[s]["len_p99"],
        )
        for s in sk
    }

    with _pytest.raises(SystemExit):
        cli.main(
            ["corpus-profile", "--input", d_in, "--output", out_st,
             "--streaming", "--exact"]
        )


def test_train_data_cli_pack_mode_bins(spark, tmp_path):
    """--pack-mode bins: same survivors and conservation as chunks mode,
    plus the r12 chunk-then-bin guarantees — the capacity invariant holds
    UNCONDITIONALLY (no sequence exceeds the budget; over-budget docs
    arrive as budget-sized pieces carrying piece ordinals, conservation
    held across the chunk boundary) and a bin's rows share one pack_id /
    one shard."""
    from pyspark.sql import functions as F

    from cloudcomputing_flink_application_spark.functions import text as X
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        PACK_BUDGET,
        training_prep,
    )
    from tests.conftest import TESTDATA, rows_set

    d_in = f"{TESTDATA}/sf0.01/documents.parquet"
    root = str(tmp_path / "td")
    cli.main(["train-data", "--input", d_in, "--output", root,
              "--pack-mode", "bins", "--shards", "4"])
    docs = spark.read.parquet(d_in)
    prep = spark.read.parquet(f"{root}/prep")
    assert rows_set(prep) == rows_set(training_prep(docs, "bins"))
    # same survivor set as the oracle'd chunks mode — the packing regime
    # must not change WHICH docs survive
    chunks_prep = training_prep(docs)
    assert rows_set(prep.select("doc_id").distinct()) == rows_set(
        chunks_prep.select("doc_id")
    )
    # capacity invariant, unconditional (VERDICT r11 #5): zero rows over
    # budget, zero bins over budget — the corpus HAS over-budget docs
    # (they arrive chunked), so this is a real exercise, not a vacuous
    # pass
    giants = prep.groupBy("doc_id").count().filter("count > 1")
    assert giants.count() > 0
    assert prep.filter(f"n_tok > {PACK_BUDGET}").count() == 0
    assert prep.filter(f"begin_tok + n_tok > {PACK_BUDGET}").count() == 0
    per_pack = prep.groupBy("pack_id").agg(
        F.count("*").alias("docs"), F.sum("n_tok").alias("load")
    )
    assert per_pack.filter(f"load > {PACK_BUDGET}").count() == 0
    # conservation across the chunk boundary: each doc's pieces sum to
    # its real token count, and piece ordinals are dense from 0
    got_tok = {
        r.doc_id: r.t
        for r in prep.groupBy("doc_id")
        .agg(F.sum("n_tok").alias("t"), F.count("*").alias("np"),
             F.min("piece").alias("p0"), F.max("piece").alias("p1"))
        .filter("p0 != 0 OR p1 != np - 1")
        .collect()
    }
    assert got_tok == {}  # dense pieces
    surv_tok = {
        r.doc_id: r.t
        for r in docs.join(prep.select("doc_id").distinct(), "doc_id")
        .select("doc_id", F.size(X.tokens("text")).alias("t"))
        .collect()
    }
    prep_tok = {
        r.doc_id: r.t
        for r in prep.groupBy("doc_id").agg(F.sum("n_tok").alias("t")).collect()
    }
    assert prep_tok == surv_tok
    # shard atomicity carries over: one pack (bin) -> one shard
    shards = spark.read.parquet(f"{root}/shards")
    assert rows_set(shards.drop("shard")) == rows_set(prep)
    assert (
        shards.groupBy("pack_id")
        .agg(F.countDistinct("shard").alias("ns"))
        .filter("ns > 1")
        .count()
        == 0
    )
    # token conservation across modes: identical total
    assert (
        prep.agg(F.sum("n_tok")).first()[0]
        == chunks_prep.agg(F.sum("n_tok")).first()[0]
    )


def test_packed_training_rows_rejects_bad_mode(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from cloudcomputing_flink_application_spark.operators.pipeline import (
        packed_training_rows,
    )
    from tests.conftest import TESTDATA

    docs = (
        spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
        .limit(5)
        .withColumn("split", F.lit("train"))
    )
    with _pytest.raises(ValueError):
        packed_training_rows(docs, "zigzag")


def test_corpus_profile_cli_pack_keeps_null_source_group(spark, tmp_path):
    # ADVICE r11: --pack used inner joins on source, so a NULL-source
    # group survived the profile aggregations but was silently dropped
    # from the --pack output (equi-join keys drop NULLs).  The null-safe
    # joins keep the row AND attach its own pack columns.
    from cloudcomputing_flink_application_spark.operators import textstats as T
    from tests.conftest import TESTDATA

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet").limit(50)
    from pyspark.sql import functions as F

    docs = docs.withColumn(
        "source", F.when(F.col("doc_id") % 5 == 0, None).otherwise(F.col("source"))
    )
    d_in = str(tmp_path / "docs_in")
    docs.write.parquet(d_in)
    out_pk = str(tmp_path / "out_pack")
    cli.main(["corpus-profile", "--input", d_in, "--output", out_pk, "--pack"])
    got = spark.read.parquet(out_pk)
    profile_rows = T.corpus_profile(spark.read.parquet(d_in)).count()
    assert got.count() == profile_rows
    null_row = got.filter(F.col("source").isNull()).collect()
    assert len(null_row) == 1
    # the NULL group's pack columns are ITS OWN stats, not NULL backfill
    assert null_row[0]["n_bins"] is not None
    assert null_row[0]["straddle_docs"] is not None


def test_train_data_cli_semantic_dedup(spark, tmp_path):
    """--semantic-dedup (r12): the SemDeDup stage between purge and pack.
    Batch equals the composed operator, the stage actually prunes,
    --tau tunes it, the survivors are a SUBSET of the plain job's
    (purge-first: semantic only ever removes), --materialize applies the
    same stage, and --tau without --semantic-dedup is a usage error."""
    import pytest as _pytest

    from cloudcomputing_flink_application_spark.operators.pipeline import (
        BENCH_MOD,
        training_prep,
    )
    from tests.conftest import TESTDATA, rows_set

    from cloudcomputing_flink_application_spark.operators import dedup

    d_in = f"{TESTDATA}/sf0.001/documents.parquet"
    e_in = f"{TESTDATA}/sf0.001/embeddings.parquet"
    docs = spark.read.parquet(d_in)
    embs = spark.read.parquet(e_in)

    def released(df):
        # scoped release (r13, VERDICT r12 #1): each direct operator
        # materialization must drop its _persist frames, or this test's
        # ~6 composed jobs accumulate them in the shared session
        mark = dedup.cached_mark()
        try:
            return rows_set(df)
        finally:
            dedup.release_cached(since=mark)

    root = str(tmp_path / "sem")
    cli.main(["train-data", "--input", d_in, "--output", root,
              "--semantic-dedup", e_in])
    prep = spark.read.parquet(f"{root}/prep")
    assert rows_set(prep) == released(training_prep(docs, embeddings=embs))
    plain_ids = {
        r[0] for r in released(training_prep(docs).select("doc_id"))
    }
    sem_ids = {r.doc_id for r in prep.select("doc_id").collect()}
    assert sem_ids < plain_ids  # pruned something, removed-only

    # --tau: a looser bar prunes at least as much, and matches the
    # operator at the same tau
    root2 = str(tmp_path / "sem_tau")
    cli.main(["train-data", "--input", d_in, "--output", root2,
              "--semantic-dedup", e_in, "--tau", "0.2"])
    prep2 = spark.read.parquet(f"{root2}/prep")
    assert rows_set(prep2) == released(
        training_prep(docs, embeddings=embs, semantic_tau=0.2)
    )
    ids2 = {r.doc_id for r in prep2.select("doc_id").collect()}
    assert ids2 <= sem_ids

    with _pytest.raises(SystemExit, match="--tau tunes --semantic-dedup"):
        cli.main(["train-data", "--input", d_in,
                  "--output", str(tmp_path / "x"), "--tau", "0.2"])

    # --materialize path: stores maintained by --streaming, semantic
    # stage applied at materialization — equals the batch output
    sub = docs.filter("doc_id < 200")
    s_in = str(tmp_path / "stream_in")
    sub.filter(f"doc_id % {BENCH_MOD} == 0").write.parquet(
        f"{s_in}/bench.parquet"
    )
    sub.filter(f"doc_id % {BENCH_MOD} != 0").write.parquet(f"{s_in}/a.parquet")
    src_glob = f"{s_in}/*"
    s_root = str(tmp_path / "stream_root")
    cli.main(["train-data", "--input", src_glob, "--output", s_root,
              "--streaming"])
    cli.main(["train-data", "--input", src_glob, "--output", s_root,
              "--materialize", "--semantic-dedup", e_in])
    b_root = str(tmp_path / "batch_root")
    cli.main(["train-data", "--input", src_glob, "--output", b_root,
              "--semantic-dedup", e_in])
    assert rows_set(spark.read.parquet(f"{s_root}/prep")) == rows_set(
        spark.read.parquet(f"{b_root}/prep")
    )


def test_train_data_cli_streaming_semantic_matches_batch(spark, tmp_path, capsys):
    """r13 (VERDICT r12 #6): --streaming --semantic-dedup maintains the
    pruned-id store over the accumulated purge survivors across TWO
    arrival batches; a plain --materialize (flag NOT re-passed) applies
    the store and equals the batch semantic job.  --forget invalidates
    the store and refuses the combined flag.

    r14 (VERDICT r13 #6) maintenance-envelope pin: unlike the purge
    delta / pq / ivf stores (append + --compact), semantic/pruned is
    REWRITTEN whole per invocation (mode=overwrite), so its file count
    is bounded by one write's partition count and cannot grow with
    stream age — asserted below by full-generation replacement after
    the refresh run.  No --compact path is therefore needed (COVERAGE.md
    note).  r14 (ADVICE r13): a flag-less --streaming run that advances
    the survivors past the store's watermark says so at THAT run."""
    import os

    import pytest as _pytest

    from cloudcomputing_flink_application_spark.operators.pipeline import (
        BENCH_MOD,
    )
    from tests.conftest import TESTDATA, rows_set

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet").filter(
        "doc_id < 300"
    )
    e_in = f"{TESTDATA}/sf0.001/embeddings.parquet"
    d_in = str(tmp_path / "docs_in")
    docs.filter(f"doc_id % {BENCH_MOD} == 0").write.parquet(
        f"{d_in}/bench.parquet"
    )
    docs.filter(f"doc_id % {BENCH_MOD} != 0 AND doc_id < 150").write.parquet(
        f"{d_in}/a.parquet"
    )
    src_glob = f"{d_in}/*"
    root = str(tmp_path / "stream")
    cli.main(["train-data", "--input", src_glob, "--output", root,
              "--streaming", "--semantic-dedup", e_in])
    store = f"{root}/semantic/pruned"
    assert os.path.isdir(store)
    first_pruned = {r.doc_id for r in spark.read.parquet(store).collect()}

    def _store_files():
        out = []
        for base, _, files in os.walk(store):
            out += [
                os.path.join(base, f)
                for f in files
                if not f.startswith(".") and f != "_SUCCESS"
            ]
        return out

    n_files_first = len(_store_files())
    assert n_files_first >= 1
    docs.filter(f"doc_id % {BENCH_MOD} != 0 AND doc_id >= 150").write.parquet(
        f"{d_in}/b.parquet"
    )
    cli.main(["train-data", "--input", src_glob, "--output", root,
              "--streaming", "--semantic-dedup", e_in])
    # the store is RECOMPUTED over the grown survivor set per invocation
    # (overwrite, not append) — its exact content is pinned against the
    # batch job by the prep parity below; set-monotonicity is NOT a
    # contract (k-means centroids move as the corpus grows, so the
    # farthest-from-centroid keep choice can legitimately flip)
    second_pruned = {r.doc_id for r in spark.read.parquet(store).collect()}
    assert first_pruned and second_pruned

    # plain materialize (no flag) applies the maintained store
    cli.main(["train-data", "--input", src_glob, "--output", root,
              "--materialize"])
    batch_root = str(tmp_path / "batch")
    cli.main(["train-data", "--input", src_glob, "--output", batch_root,
              "--semantic-dedup", e_in])
    assert rows_set(spark.read.parquet(f"{root}/prep")) == rows_set(
        spark.read.parquet(f"{batch_root}/prep")
    )
    # the stage actually pruned (non-degenerate store)
    assert second_pruned
    prep_ids = {
        r.doc_id for r in spark.read.parquet(f"{root}/prep").collect()
    }
    assert prep_ids.isdisjoint(second_pruned)

    # staleness guard (r13 review): a third arrival streamed WITHOUT the
    # flag advances the survivor set past the store's watermark — a
    # plain materialize must refuse the stale store, and a refresh run
    # (flag re-passed, no new files needed) restores the parity
    all_docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    all_docs.filter(
        f"doc_id >= 300 AND doc_id < 400 AND doc_id % {BENCH_MOD} != 0"
    ).write.parquet(f"{d_in}/c.parquet")
    capsys.readouterr()  # drain; isolate the staleness-note assertion
    cli.main(["train-data", "--input", src_glob, "--output", root,
              "--streaming"])
    # r14 (ADVICE r13): the run that CAUSED the staleness says so
    assert "now stale" in capsys.readouterr().out
    with _pytest.raises(SystemExit, match="semantic store is stale"):
        cli.main(["train-data", "--input", src_glob, "--output", root,
                  "--materialize"])
    import time as _time

    t_refresh = _time.time()
    cli.main(["train-data", "--input", src_glob, "--output", root,
              "--streaming", "--semantic-dedup", e_in])
    # r14 (VERDICT r13 #6): full-generation replacement — every data
    # file in the store postdates this (4th) invocation, and the count
    # stays one write's worth; nothing accumulates with stream age.
    files = _store_files()
    assert files and all(os.path.getmtime(f) >= t_refresh - 1 for f in files)
    assert len(files) <= max(2 * n_files_first, 8), (
        len(files), n_files_first,
    )
    cli.main(["train-data", "--input", src_glob, "--output", root,
              "--materialize"])
    batch3 = str(tmp_path / "batch3")
    cli.main(["train-data", "--input", src_glob, "--output", batch3,
              "--semantic-dedup", e_in])
    assert rows_set(spark.read.parquet(f"{root}/prep")) == rows_set(
        spark.read.parquet(f"{batch3}/prep")
    )
    prep_ids = {
        r.doc_id for r in spark.read.parquet(f"{root}/prep").collect()
    }

    # --forget: refuses the combined flag, and alone invalidates the
    # (pre-forget-derived) semantic store
    with _pytest.raises(SystemExit, match="standalone stream-stopped"):
        cli.main(["train-data", "--input", src_glob, "--output", root,
                  "--forget", "1", "--semantic-dedup", e_in])
    victim = sorted(prep_ids)[0]
    cli.main(["train-data", "--input", src_glob, "--output", root,
              "--forget", str(victim)])
    assert not os.path.isdir(store)
    # materialize after forget: semantic stage gone WITH its store (the
    # honest state — stale pruned ids must not shape the output)
    cli.main(["train-data", "--input", src_glob, "--output", root,
              "--materialize"])
    after_ids = {
        r.doc_id for r in spark.read.parquet(f"{root}/prep").collect()
    }
    assert victim not in after_ids


def test_dedup_report_cli(spark, tmp_path):
    """r12: dedup-report writes the per-method duplicate-rate report and
    equals the operator."""
    from cloudcomputing_flink_application_spark.operators.dedup import (
        dedup_method_report,
    )
    from tests.conftest import TESTDATA, rows_set

    d_in = f"{TESTDATA}/sf0.001/documents.parquet"
    out = str(tmp_path / "report")
    cli.main(["dedup-report", "--input", d_in, "--output", out])
    got = spark.read.parquet(out)
    assert rows_set(got) == rows_set(
        dedup_method_report(spark.read.parquet(d_in))
    )
    assert {r["method"] for r in got.collect()} == {
        "exact", "minhash_cc", "simhash",
    }


def test_train_data_cli_scrub_pii_and_token_col(spark, tmp_path):
    """r14 (VERDICT r13 #4/#5): the governance scrub and the exact-count
    budget flow through the CLI batch path, and the forget refusal
    covers the new (and previously silently-ignored) flags."""
    from pyspark.sql import functions as F

    from cloudcomputing_flink_application_spark.functions import text as X
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        training_prep,
    )
    from tests.conftest import TESTDATA, rows_set

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    # derive an exact-count column that diverges from the regex counter
    # (BPE-ish 1.5x, every 4th row NULL for the per-row fallback)
    d_in = str(tmp_path / "docs_tok")
    docs.withColumn(
        "n_exact",
        F.when(
            F.col("doc_id") % 4 != 0,
            (F.size(X.tokens("text")) * 3) / 2,
        ).cast("long"),
    ).write.parquet(d_in)
    root = str(tmp_path / "td")
    cli.main([
        "train-data", "--input", d_in, "--output", root,
        "--scrub-pii", "--token-col", "n_exact",
    ])
    prep = spark.read.parquet(f"{root}/prep")
    want = training_prep(
        spark.read.parquet(d_in),
        scrub_pii=True,
        token_col="n_exact",
    )
    assert rows_set(prep) == rows_set(want)
    assert prep.count() > 0
    # budgets came from the exact column: n_tok equals it on non-NULL
    # rows (chunks mode passes docs through whole)
    joined = prep.join(
        spark.read.parquet(d_in).select("doc_id", "n_exact"), "doc_id"
    )
    assert joined.filter(
        F.col("n_exact").isNotNull() & (F.col("n_tok") != F.col("n_exact"))
    ).count() == 0
    # scrub applied: no digit runs survive outside placeholders
    leaky = prep.filter(
        F.regexp_count(
            F.regexp_replace(
                F.col("text"), "<(num|ip|phone|email)>", ""
            ),
            F.lit("[0-9]"),
        )
        > 0
    ).count()
    assert leaky == 0
    # the forget refusal now covers the packing/governance knobs AND the
    # previously silently-dead --shards/--show (ADVICE r13)
    import pytest

    for extra in (
        ["--scrub-pii"],
        ["--token-col", "n_exact"],
        ["--shards", "2"],
        ["--show"],
    ):
        with pytest.raises(SystemExit, match="standalone"):
            cli.main([
                "train-data", "--input", d_in, "--output", root,
                "--forget", "1",
            ] + extra)
