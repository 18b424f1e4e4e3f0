"""Streaming-parity tests: each streaming query must equal its batch
counterpart on the same data, with state carried across micro-batches
(maxFilesPerTrigger=1 forces one batch per input file)."""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pytest

from cloudcomputing_flink_application_spark import schemas
from cloudcomputing_flink_application_spark.operators.taxi import (
    congestion_daily,
    saturated_vendors,
)
from cloudcomputing_flink_application_spark.operators.telematics import (
    accident_reports,
    average_speed_fines,
    speed_radar,
)
from cloudcomputing_flink_application_spark.streaming import jobs
from tests.conftest import TESTDATA, rows_bag, rows_set
from tests.test_telematics import ACCIDENT_8, DATA_SMALL

TAXI_CSV_1 = """1,2022-03-01 00:00:03,2022-03-01 00:09:02,1.0,1.0,1.0,N,1,1,1,5.0,0.5,0.5,0.0,0.0,0.3,10.56,2.5,0.0
2,2022-03-01 08:00:00,2022-03-01 08:20:00,1.0,1.0,1.0,N,1,1,1,5.0,0.5,0.5,0.0,0.0,0.3,20.01,2.5,0.0
5,2022-03-01 10:00:00,2022-03-01 10:10:00,1.0,1.0,1.0,N,1,1,1,5.0,0.5,0.5,0.0,0.0,0.3,5.0,0.0,0.0
"""
TAXI_CSV_2 = """5,2022-03-01 10:15:00,2022-03-01 10:30:00,1.0,1.0,1.0,N,1,1,1,5.0,0.5,0.5,0.0,0.0,0.3,5.0,0.0,0.0
5,2022-03-01 10:42:00,2022-03-01 10:50:00,1.0,1.0,1.0,N,1,1,1,5.0,0.5,0.5,0.0,0.0,0.3,5.0,0.0,0.0
1,2022-03-02 01:00:00,2022-03-02 01:10:00,1.0,1.0,1.0,N,1,1,1,5.0,0.5,0.5,0.0,0.0,0.3,30.0,2.5,0.0
3,2022-03-04 09:00:00,2022-03-04 09:10:00,1.0,1.0,1.0,N,1,1,1,5.0,0.5,0.5,0.0,0.0,0.3,9.99,2.5,0.0
"""


def write_files(dirpath: str, contents: list[str]) -> None:
    os.makedirs(dirpath, exist_ok=True)
    base = 1_700_000_000
    for i, c in enumerate(contents):
        p = os.path.join(dirpath, f"part-{i:03d}.csv")
        with open(p, "w") as f:
            f.write(c)
        # FileStreamSource orders batches by modification time; make the
        # intended arrival order explicit.
        os.utime(p, (base + i, base + i))


def run_stream(spark, df, name: str):
    q = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def run_tail_stream(spark, stream_fn, source, schema, tmp_path, name: str):
    """Run the carried-tail query ``stream_fn(source, path, checkpoint_dir)``
    over everything available and read back its CSV sink."""
    path = str(tmp_path / name)
    q = stream_fn(source, path, str(tmp_path / f"{name}_chk"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.schema(schema).csv(path)


def csv_lines(rows) -> list[str]:
    return ["\n".join(",".join(str(v) for v in r) for r in rows) + "\n"]


@pytest.fixture()
def car_stream(spark, tmp_path):
    def make(rows_per_file: list[list[tuple]]):
        d = str(tmp_path / "cars")
        write_files(d, ["".join(",".join(map(str, r)) + "\n" for r in rs) for rs in rows_per_file])
        return (
            spark.readStream.schema(schemas.CAR_REPORTS)
            .option("maxFilesPerTrigger", 1)
            .csv(d)
        )

    return make


def test_speed_radar_stream(spark, car_stream):
    rows = [(10, 1, 95, 0, 0, 0, 5, 100), (20, 2, 80, 0, 0, 0, 5, 200)]
    out = run_stream(spark, jobs.speed_radar_stream(car_stream([rows])), "speed_s")
    assert rows_set(out) == {(10, 1, 0, 5, 0, 95)}


def test_accidents_stream_matches_batch(spark, car_stream, tmp_path):
    # split the 8-report stopped car across two files -> state crosses batches
    stream = car_stream([ACCIDENT_8[:3], ACCIDENT_8[3:]])
    batch = accident_reports(
        spark.createDataFrame(ACCIDENT_8, schema=schemas.CAR_REPORTS)
    )
    out = run_tail_stream(spark, jobs.accident_reports_stream, stream, batch.schema, tmp_path, "acc_s")
    assert rows_bag(out) == rows_bag(batch)
    assert out.count() == 5


def test_avgspd_stream_matches_batch(spark, car_stream, tmp_path):
    stream = car_stream([DATA_SMALL[:10], DATA_SMALL[10:]])
    batch = average_speed_fines(
        spark.createDataFrame(DATA_SMALL, schema=schemas.CAR_REPORTS)
    )
    out = run_tail_stream(spark, jobs.average_speed_fines_stream, stream, batch.schema, tmp_path, "avg_s")
    assert rows_bag(out) == rows_bag(batch)
    assert rows_set(out) == {(32, 36, 72, 0, 0, 225)}


@pytest.fixture()
def taxi_stream(spark, tmp_path):
    d = str(tmp_path / "taxi")
    write_files(d, [TAXI_CSV_1, TAXI_CSV_2])

    return (
        spark.readStream.schema(schemas.TAXI_TRIPS)
        .option("maxFilesPerTrigger", 1)
        .csv(d)
    )


def test_saturated_vendors_stream_matches_batch(spark, taxi_stream, tmp_path):
    batch_df = spark.read.schema(schemas.TAXI_TRIPS).csv(str(tmp_path / "taxi"))
    batch = saturated_vendors(batch_df)
    out = run_tail_stream(spark, jobs.saturated_vendors_stream, taxi_stream, batch.schema, tmp_path, "sat_s")
    # vendor 5: 10:00->10:30 pair fires (5m gap); 10:42 pickup vs 10:30 dropoff
    # = 12m gap, no fire
    assert rows_bag(out) == rows_bag(batch)
    assert out.count() == 1


def test_congestion_stream_closed_windows_match_batch(spark, taxi_stream, tmp_path):
    # NOTE: Catalyst pushes the surcharge filter below the watermark node, so
    # only surcharged trips advance the watermark — faithful to the
    # reference, which also filters before assigning timestamps
    # (CongestionArea.java:43-59).  The 03-04 sentinel is surcharged so it
    # closes the 03-01 and 03-02 windows; its own window stays open (no
    # later watermark) and must NOT appear in streaming output.
    out = run_stream(spark, jobs.congestion_daily_stream(taxi_stream), "cong_s")
    batch_df = spark.read.schema(schemas.TAXI_TRIPS).csv(str(tmp_path / "taxi"))
    batch = congestion_daily(batch_df)
    open_day = "2022/03/04"
    closed_batch = {r for r in rows_set(batch) if r[0] != open_day}
    assert rows_set(out) == closed_batch
    assert out.count() == 2  # 03-01 (2 trips) and 03-02 (1 trip)


def test_run_telematics_job_three_sinks(spark, tmp_path):
    # O3: one input, three CSV sinks (VehicleTelematics.java:179-189)
    rows = DATA_SMALL + ACCIDENT_8
    ind = str(tmp_path / "in")
    write_files(ind, ["".join(",".join(map(str, r)) + "\n" for r in rows)])
    outd = str(tmp_path / "out")
    queries = jobs.run_telematics_job(spark, ind, outd)
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    speed, avg, acc = read_telematics_sinks(spark, outd)
    assert speed.count() == 0  # all speeds < 90 in this fixture
    cars = spark.createDataFrame(rows, schema=schemas.CAR_REPORTS)
    assert rows_bag(avg) == rows_bag(average_speed_fines(cars))
    assert rows_set(avg) == {(32, 36, 72, 0, 0, 225)}
    assert rows_bag(acc) == rows_bag(accident_reports(cars))
    assert acc.count() == 5


def read_telematics_sinks(spark, outd: str):
    """The three CSV sinks of ``run_telematics_job``, read as the batch
    operators' schemas."""
    return (
        spark.read.schema("time INT, vid INT, xway INT, seg INT, dir INT, spd INT").csv(f"{outd}/speedfines"),
        spark.read.schema("time1 INT, time2 INT, vid INT, xway INT, dir INT, avgspd INT").csv(f"{outd}/avgspeedfines"),
        spark.read.schema("time1 INT, time2 INT, vid INT, xway INT, seg INT, dir INT, pos INT").csv(f"{outd}/accidents"),
    )


def sf0001_car_rows(spark) -> list[tuple]:
    """The sf0.001 event corpus as car reports, in (time, vid) order."""
    from cloudcomputing_flink_application_spark.sources.derived import car_reports_from_events
    from cloudcomputing_flink_application_spark.sources.readers import read_events

    cars = car_reports_from_events(read_events(spark, f"{TESTDATA}/sf0.001")).orderBy("time", "vid")
    return [tuple(r) for r in cars.collect()]


@pytest.mark.slow
@pytest.mark.parametrize("replay", [False, True], ids=["restart", "replay"])
def test_run_telematics_job_exactly_once_across_restart(spark, tmp_path, replay):
    # Structured Streaming's exactly-once claim on our own job: stop it after
    # batch 1, then restart it on the same checkpoints.  With ``replay`` the
    # last batch's commit is deleted first, so the restart re-runs batch 1
    # and its sink writes must replace, not duplicate, what it wrote before.
    rows = sf0001_car_rows(spark)
    chunks = [rows[j * 200:(j + 1) * 200] for j in range(5)]
    staged, ind, outd = str(tmp_path / "staged"), str(tmp_path / "in"), str(tmp_path / "out")
    write_files(staged, ["".join(",".join(map(str, r)) + "\n" for r in c) for c in chunks])
    os.makedirs(ind)

    def publish(i: int) -> None:
        name = f"part-{i:03d}.csv"
        shutil.copy2(os.path.join(staged, name), os.path.join(ind, name))

    queries = jobs.run_telematics_job(spark, ind, outd)
    try:
        for i in range(2):  # one batch per published file
            publish(i)
            for q in queries:
                q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    names = ("speedfines", "avgspeedfines", "accidents")

    def commits(n: str) -> list[str]:
        return sorted(f for f in os.listdir(f"{outd}/_chk/{n}/commits") if not f.startswith("."))

    for n in names:
        assert commits(n) == ["0", "1"], n
        if replay:
            for f in ("1", ".1.crc"):
                os.remove(f"{outd}/_chk/{n}/commits/{f}")
    for i in range(2, 5):
        publish(i)
    queries = jobs.run_telematics_job(spark, ind, outd)
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    for n in names:  # the restart reads the three new files as batch 2
        assert commits(n) == ["0", "1", "2"], n
    cars = spark.createDataFrame(rows, schema=schemas.CAR_REPORTS)
    for n, got, op in zip(
        names, read_telematics_sinks(spark, outd), (speed_radar, average_speed_fines, accident_reports)
    ):
        want = rows_bag(op(cars))
        assert rows_bag(got) == want, n
        assert sum(want.values()) > 0, f"{n}: degenerate"


def test_exact_dedup_stream(spark, tmp_path):
    # same text arriving in a later micro-batch is suppressed
    d = str(tmp_path / "docs")
    os.makedirs(d)
    import pandas as pd
    f1 = pd.DataFrame({"doc_id": [1, 2], "text": ["alpha beta", "gamma"]})
    f2 = pd.DataFrame({"doc_id": [3, 4], "text": ["alpha beta", "delta"]})
    f1.to_parquet(f"{d}/f1.parquet")
    f2.to_parquet(f"{d}/f2.parquet")
    os.utime(f"{d}/f1.parquet", (1_700_000_000, 1_700_000_000))
    os.utime(f"{d}/f2.parquet", (1_700_000_001, 1_700_000_001))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = run_stream(spark, jobs.exact_dedup_stream(stream), "dedup_s")
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert ids == {1, 2, 4}  # doc 3 is a dup of doc 1's text


@pytest.mark.slow
def test_streaming_matches_batch_at_sf0001(spark, tmp_path):
    # all three telematics queries, 1000-row derived corpus, 5 micro-batches
    rows = sf0001_car_rows(spark)
    chunks = [rows[j * 200:(j + 1) * 200] for j in range(5)]
    d = str(tmp_path / "cars_sf")
    write_files(d, ["".join(",".join(map(str, r)) + "\n" for r in c) for c in chunks])
    stream = (
        spark.readStream.schema(schemas.CAR_REPORTS)
        .option("maxFilesPerTrigger", 1)
        .csv(d)
    )
    batch_df = spark.createDataFrame(rows, schema=schemas.CAR_REPORTS)
    for sname, sfn, bfn in (
        ("speed_sf", None, speed_radar),
        ("acc_sf", jobs.accident_reports_stream, accident_reports),
        ("avg_sf", jobs.average_speed_fines_stream, average_speed_fines),
    ):
        want = bfn(batch_df)
        if sfn is None:  # Q-SPEED is a plain streaming frame
            out = run_stream(spark, jobs.speed_radar_stream(stream), sname)
        else:
            out = run_tail_stream(spark, sfn, stream, want.schema, tmp_path, sname)
        assert rows_bag(out) == rows_bag(want), sname
        assert out.count() > 0, f"{sname}: degenerate"


MULTI_TRAVERSAL = [
    # (time, vid, spd, xway, lane, dir, seg, pos) — car 11 crosses 52->56
    # twice; fires must match the batch per-transition contract exactly,
    # with state split across micro-batches mid-traversal.
    (0, 11, 90, 0, 0, 0, 52, 1000),
    (10, 11, 90, 0, 0, 0, 52, 5000),
    (20, 11, 90, 0, 0, 0, 56, 9000),
    (30, 11, 90, 0, 0, 0, 52, 6000),
    (40, 11, 90, 0, 0, 0, 56, 8000),
]

# Car 12: the first batch ends on a seg-52 row (t20, pos 4000) that is not
# the max-pos 52 row (t0, older than the min-pos 56 row t10), so only the
# tail's last-row member carries the 52 -> 56 transition into the next
# batch.  The t30 report does not lower the seg-56 minimum, so its fire
# repeats the t10 fire row for row: the batch operator emits it twice, and
# the stream must subtract the t10 fire (which the tail rows alone
# reproduce) once, as a multiset, not drop both.
MULTI_TRAVERSAL_LAST_52 = [
    (0, 12, 90, 0, 0, 0, 52, 5000),
    (10, 12, 90, 0, 0, 0, 56, 9000),
    (20, 12, 90, 0, 0, 0, 52, 4000),
    (30, 12, 90, 0, 0, 0, 56, 9500),
]


def avgspd_stream_and_batch(spark, car_stream, tmp_path, rows, cut: int):
    """Q-AVGSPD on ``rows`` as a stream split at ``cut`` and as a batch."""
    stream = car_stream([rows[:cut], rows[cut:]])
    batch = average_speed_fines(spark.createDataFrame(rows, schema=schemas.CAR_REPORTS))
    out = run_tail_stream(spark, jobs.average_speed_fines_stream, stream, batch.schema, tmp_path, "avg_mt")
    return rows_bag(out), rows_bag(batch)


def test_avgspd_stream_matches_batch_multi_traversal(spark, car_stream, tmp_path):
    # Split mid-second-traversal: the running reduce state (max-pos 52 /
    # min-pos 56 / last seg) must survive the batch boundary.
    out, batch = avgspd_stream_and_batch(spark, car_stream, tmp_path, MULTI_TRAVERSAL, 4)
    assert out == batch == Counter([(10, 20, 11, 0, 0, 894), (30, 40, 11, 0, 0, 447)])


def test_avgspd_stream_last_row_carries_transition(spark, car_stream, tmp_path):
    out, batch = avgspd_stream_and_batch(spark, car_stream, tmp_path, MULTI_TRAVERSAL_LAST_52, 3)
    assert out == batch == Counter([(0, 10, 12, 0, 0, 894)] * 2)


def test_avgspd_stream_empty_tail_is_not_lost(spark, car_stream, tmp_path):
    # A first batch with no measured (dir=0, seg 52/56) row carries an
    # EMPTY tail; the next batch must read it as empty, not as lost.
    unmeasured = [(0, 900, 10, 0, 0, 0, 10, 5000), (1, 900, 10, 0, 0, 0, 11, 5100)]
    stream = car_stream([unmeasured, DATA_SMALL[:10], DATA_SMALL[10:]])
    rows = unmeasured + DATA_SMALL
    batch = average_speed_fines(spark.createDataFrame(rows, schema=schemas.CAR_REPORTS))
    out = run_tail_stream(spark, jobs.average_speed_fines_stream, stream, batch.schema, tmp_path, "avg_empty")
    assert rows_bag(out) == rows_bag(batch)
    assert rows_set(out) == {(32, 36, 72, 0, 0, 225)}


def test_tail_stream_refuses_a_lost_tail(spark, car_stream, tmp_path):
    # Batch b needs the tail batch b-1 carried out; with that snapshot gone
    # the batch cannot be computed exactly, so the query fails instead of
    # starting over from an empty tail.
    stream = car_stream([ACCIDENT_8[:3], ACCIDENT_8[3:5]])
    chk = str(tmp_path / "acc_lost_chk")
    q = jobs.accident_reports_stream(stream, str(tmp_path / "acc_lost"), chk)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    shutil.rmtree(f"{chk}/tail/batch_id=1")
    write_files(str(tmp_path / "late"), csv_lines(ACCIDENT_8[5:]))
    os.replace(str(tmp_path / "late" / "part-000.csv"), str(tmp_path / "cars" / "part-002.csv"))
    os.utime(str(tmp_path / "cars" / "part-002.csv"), (1_700_000_002, 1_700_000_002))
    q = jobs.accident_reports_stream(stream, str(tmp_path / "acc_lost"), chk)
    with pytest.raises(Exception, match="is missing"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()


TAXI_CSV_TIE = """7,2022-03-05 10:00:00,2022-03-05 10:20:00,1.0,1.0,1.0,N,1,1,1,5.0,0.5,0.5,0.0,0.0,0.3,5.0,0.0,0.0
7,2022-03-05 10:00:00,2022-03-05 10:05:00,1.0,1.0,1.0,N,1,1,1,5.0,0.5,0.5,0.0,0.0,0.3,5.0,0.0,0.0
7,2022-03-05 10:12:00,2022-03-05 10:25:00,1.0,1.0,1.0,N,1,1,1,5.0,0.5,0.5,0.0,0.0,0.3,5.0,0.0,0.0
"""


def test_saturated_stream_tiebreak_matches_batch(spark, tmp_path):
    # ADVICE r1: two trips with IDENTICAL pickups arrive in reverse dropoff
    # order inside one micro-batch; the stream must sort by (pickup, dropoff)
    # like the batch window, or the pairs (and their emitted dropoffs) differ.
    d = str(tmp_path / "taxi_tie")
    write_files(d, [TAXI_CSV_TIE])
    stream = (
        spark.readStream.schema(schemas.TAXI_TRIPS)
        .option("maxFilesPerTrigger", 1)
        .csv(d)
    )
    batch = saturated_vendors(spark.read.schema(schemas.TAXI_TRIPS).csv(d))
    out = run_tail_stream(spark, jobs.saturated_vendors_stream, stream, batch.schema, tmp_path, "sat_tie")
    expected = {
        (7, "2022-03-05 10:00:00", "2022-03-05 10:20:00", 2),
        (7, "2022-03-05 10:00:00", "2022-03-05 10:25:00", 2),
    }
    assert rows_bag(out) == rows_bag(batch)
    assert rows_set(out) == expected and out.count() == 2


def test_minhash_dedup_stream_matches_batch(spark, tmp_path):
    # Incremental LSH banding: stream sf0.001 documents in two doc_id-ordered
    # micro-batches; flags must equal the batch candidate-level operator,
    # with the bucket store carrying state across batches.
    from cloudcomputing_flink_application_spark.operators.dedup import (
        minhash_band_flags,
    )

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    cut = 250
    d_in = str(tmp_path / "docs_in")
    base = 1_700_000_000
    for i, pred in enumerate([docs.doc_id < cut, docs.doc_id >= cut]):
        p = f"{d_in}/f{i}"
        docs.filter(pred).coalesce(1).write.parquet(p)
        for root, _, files in __import__("os").walk(p):
            for f in files:
                __import__("os").utime(f"{root}/{f}", (base + i, base + i))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d_in}/*")
    )
    out_dir = str(tmp_path / "flags_out")
    q = jobs.run_minhash_dedup_stream(
        spark, stream, out_dir,
        str(tmp_path / "chk"), str(tmp_path / "bands"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = rows_set(spark.read.parquet(out_dir).select("doc_id", "is_dup"))
    batch = rows_set(minhash_band_flags(docs))
    assert streamed == batch
    assert len(streamed) == docs.count()
    assert any(d for _, d in streamed)  # corpus has real near-dups

    # At-least-once replay idempotence: wipe the CHECKPOINT (not the sinks)
    # and re-run the whole stream — every batch replays against the
    # populated stores.  batch_id-scoped dynamic overwrite + the
    # batch_id < current bucket-store probe must leave the output
    # bit-identical, not doubled / poisoned by the first run's buckets.
    import shutil

    shutil.rmtree(str(tmp_path / "chk"))
    q2 = jobs.run_minhash_dedup_stream(
        spark, stream, out_dir,
        str(tmp_path / "chk"), str(tmp_path / "bands"),
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    replayed = rows_set(spark.read.parquet(out_dir).select("doc_id", "is_dup"))
    assert replayed == batch
    assert spark.read.parquet(out_dir).count() == docs.count()


def test_sessionize_stream_matches_batch(spark, tmp_path):
    # Three micro-batches; exercises BOTH alignment facts: a gap of exactly
    # 30 min MERGES on both surfaces (session_window is boundary-inclusive,
    # matching batch's strict-> rule), and a 1800.05s raw / 1800s truncated
    # gap MERGES on both because the stream truncates to seconds first.
    from cloudcomputing_flink_application_spark.operators.timeseries import (
        sessionize_frame,
    )

    files = [
        # user 1 session A; user 2 first event carries .900 fraction
        "1,2024-01-01 10:00:00.000,101\n"
        "1,2024-01-01 10:10:00.000,102\n"
        "2,2024-01-01 10:00:00.900,201\n",
        # u1: 10:40 is exactly 1800s after 10:10 -> merges; 11:15 is 2100s
        # after 10:40 -> new session.
        # u2: raw gap 1800.05s (would split), truncated gap 1800s -> merges
        "1,2024-01-01 10:40:00.000,103\n"
        "1,2024-01-01 11:15:00.000,104\n"
        "2,2024-01-01 10:30:00.950,202\n",
        # sentinel advances the watermark far enough to close everything
        # above; its own session stays open and must not be emitted
        "3,2024-01-01 20:00:00.000,301\n",
    ]
    d = str(tmp_path / "sess_events")
    write_files(d, files)
    opts = {"timestampFormat": "yyyy-MM-dd HH:mm:ss.SSS"}
    schema = "user_id long, ts timestamp, event_id long"
    stream = (
        spark.readStream.schema(schema)
        .options(**opts)
        .option("maxFilesPerTrigger", 1)
        .csv(d)
    )
    out = run_stream(spark, jobs.sessionize_stream(stream), "sess_s")
    batch = sessionize_frame(spark.read.schema(schema).options(**opts).csv(d))
    # streaming emitted exactly the closed sessions
    assert rows_set(out) == {
        (1, 3, "2024-01-01 10:00:00", "2024-01-01 10:40:00"),
        (1, 1, "2024-01-01 11:15:00", "2024-01-01 11:15:00"),
        (2, 2, "2024-01-01 10:00:00", "2024-01-01 10:30:00"),
    }
    # and they equal the batch operator's sessions minus the open sentinel
    batch_closed = {
        (r.user_id, r.n_events, r.start_s, r.end_s)
        for r in batch.collect()
        if r.user_id != 3
    }
    assert rows_set(out) == batch_closed


def test_decontam_stream_matches_batch(spark, tmp_path):
    # Stateless streaming twin: corpus docs stream in two micro-batches
    # against the STATIC benchmark slice; accumulated output must equal one
    # batch decontaminate() over all documents (per-doc decisions depend
    # only on the broadcast bench set, so micro-batching is exact).
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        BENCH_MOD,
        decontaminate,
    )

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    bench = docs.filter(docs.doc_id % BENCH_MOD == 0)
    cut = 250
    d_in = str(tmp_path / "docs_in")
    base = 1_700_000_000
    for i, pred in enumerate([docs.doc_id < cut, docs.doc_id >= cut]):
        p = f"{d_in}/f{i}"
        docs.filter(pred).coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(f"{root}/{f}", (base + i, base + i))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d_in}/*")
    )
    out_dir = str(tmp_path / "decontam_out")
    q = jobs.run_decontam_stream(
        spark, stream, bench, out_dir, str(tmp_path / "chk")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    batch_df = decontaminate(docs)
    streamed = rows_set(spark.read.parquet(out_dir).select(*batch_df.columns))
    batch = rows_set(batch_df)
    assert streamed == batch
    assert any(r[-1] for r in streamed)  # corpus has real contamination


def test_clean_corpus_stream_matches_batch(spark, tmp_path):
    # The COMPOSED cleaning pipeline runs incrementally: quality ->
    # repetition -> decontam -> survivor dedup -> split over three
    # doc_id-ordered micro-batches, with the survivor-hash store carrying
    # dedup state across batches.  Accumulated output must equal one batch
    # clean_corpus() over the full corpus — including `uniq` (cross-batch
    # canonical) and `split` (only kept docs get one).
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        BENCH_MOD,
        clean_corpus,
    )

    from pyspark.sql import functions as F

    raw = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    # Synthetic exact duplicates of early docs, arriving in the LAST
    # micro-batch under fresh non-benchmark ids — the corpus itself has no
    # duplicate texts, so without these the cross-batch dedup state would
    # never be exercised.
    dups = (
        raw.filter(raw.doc_id < 60)
        .withColumn("doc_id", raw.doc_id + 100_000)
        .filter(F.col("doc_id") % BENCH_MOD != 0)
    )
    docs = raw.unionByName(dups)
    bench = docs.filter(docs.doc_id % BENCH_MOD == 0)
    d_in = str(tmp_path / "docs_in")
    base = 1_700_000_000
    cuts = [docs.doc_id < 150, (docs.doc_id >= 150) & (docs.doc_id < 400), docs.doc_id >= 400]
    for i, pred in enumerate(cuts):
        p = f"{d_in}/f{i}"
        docs.filter(pred).coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(f"{root}/{f}", (base + i, base + i))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d_in}/*")
    )
    out_dir = str(tmp_path / "clean_out")
    q = jobs.run_clean_corpus_stream(
        spark, stream, bench, out_dir,
        str(tmp_path / "chk"), str(tmp_path / "hashes"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    batch_df = clean_corpus(docs)
    streamed = rows_set(spark.read.parquet(out_dir).select(*batch_df.columns))
    batch = rows_set(batch_df)
    assert streamed == batch
    # the corpus must actually exercise the cross-batch dedup path:
    # at least one non-uniq survivor, at least one kept doc per split
    assert any(r[1] and r[2] and r[3] and not r[4] for r in streamed)
    assert {r[-1] for r in streamed} >= {"train", "valid", "test", ""}
    # State-store footprint (PLANS.md): the hash store holds one 32-hex row
    # per distinct SURVIVOR text per batch — its distinct-hash count must
    # equal the batch plan's distinct survivor texts, and total rows are
    # bounded by passing docs (never corpus rows, never output rows).
    store = spark.read.parquet(str(tmp_path / "hashes"))
    passing = batch_df.filter("q_ok AND rep_ok AND con_ok")
    distinct_surv = (
        docs.join(batch_df.filter("q_ok AND rep_ok AND con_ok"), "doc_id")
        .select(F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("h"))
        .distinct()
        .count()
    )
    assert store.select("h").distinct().count() == distinct_surv
    assert store.count() <= passing.count()


def test_purge_dedup_stream_matches_batch(spark, tmp_path):
    # The incremental PURGE: signatures computed once per doc, star edges
    # accumulated per batch against the band/token-set stores, closure
    # rebuilt from the sparse edge store, purge table emitted complete per
    # batch.  The LAST batch's partition must equal the batch operator over
    # the whole corpus (cross-batch duplicate clusters included), and each
    # intermediate partition equals the batch operator over its prefix.
    from cloudcomputing_flink_application_spark.operators.dedup import (
        minhash_purge_dedup,
    )

    from pyspark.sql import functions as F

    raw = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    # duplicates of early docs arriving in the LAST batch under fresh ids —
    # exercises the cross-batch edge path (old doc gains new members)
    dups = raw.filter(raw.doc_id < 60).withColumn(
        "doc_id", raw.doc_id + 100_000
    )
    docs = raw.unionByName(dups)
    d_in = str(tmp_path / "docs_in")
    base = 1_700_000_000
    cuts = [
        docs.doc_id < 150,
        (docs.doc_id >= 150) & (docs.doc_id < 400),
        docs.doc_id >= 400,
    ]
    for i, pred in enumerate(cuts):
        p = f"{d_in}/f{i}"
        docs.filter(pred).coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(f"{root}/{f}", (base + i, base + i))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d_in}/*")
    )
    out_dir = str(tmp_path / "purge_out")
    q = jobs.run_purge_dedup_stream(
        spark, stream, out_dir, str(tmp_path / "chk"), str(tmp_path / "state")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.parquet(out_dir)
    cols = ["doc_id", "n_members", "chars_saved"]
    last = out.agg(F.max("batch_id")).first()[0]
    assert last == 2  # three staged micro-batches
    final = rows_set(out.filter(F.col("batch_id") == last).select(*cols))
    assert final == rows_set(minhash_purge_dedup(docs))
    # intermediate snapshot = batch operator over the prefix
    first = rows_set(out.filter(F.col("batch_id") == 0).select(*cols))
    assert first == rows_set(minhash_purge_dedup(docs.filter(cuts[0])))
    # the cross-batch path was really exercised: an early keeper's cluster
    # grew when its last-batch duplicate arrived
    grown = {r[0] for r in final if r[1] > 1 and r[0] < 60}
    assert grown


def test_purge_stream_recovers_from_dirty_state(spark, tmp_path):
    # Same fault contract as the other incremental jobs, exercised on the
    # purge twin: a crashed first write leaves only _temporary content in a
    # state store (must read as "first batch"), and stale batch partitions
    # from a prior run under a different checkpoint must be pruned on
    # batch 0 — the final purge still equals the batch operator.
    from cloudcomputing_flink_application_spark.operators.dedup import (
        minhash_purge_dedup,
    )

    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    state = tmp_path / "state"
    (state / "bands" / "_temporary" / "0").mkdir(parents=True)
    (state / "bands" / "_temporary" / "0" / "task_000").write_text("junk")
    out_dir = tmp_path / "purge_out"
    stale = docs.limit(3).select("doc_id").withColumn(
        "n_members", F.lit(9)
    ).withColumn("chars_saved", F.lit(9))
    stale.write.parquet(str(out_dir / "batch_id=99"))
    stale.limit(1).select("doc_id").write.parquet(
        str(state / "edges" / "batch_id=99")
    )

    d_in = str(tmp_path / "docs_in")
    docs.coalesce(1).write.parquet(d_in)
    stream = spark.readStream.schema(docs.schema).parquet(d_in)
    q = jobs.run_purge_dedup_stream(
        spark, stream, str(out_dir), str(tmp_path / "chk"), str(state)
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert not os.path.exists(out_dir / "batch_id=99")
    assert not os.path.exists(state / "edges" / "batch_id=99")
    out = spark.read.parquet(str(out_dir)).select(
        "doc_id", "n_members", "chars_saved"
    )
    assert rows_set(out) == rows_set(minhash_purge_dedup(docs))


def test_minhash_stream_recovers_from_crashed_first_write(spark, tmp_path):
    # A crash during the first batch's bands write can leave bands_dir
    # holding only uncommitted _temporary content.  The committed-data glob
    # must read that as "first batch" (a bare dir-exists probe would try
    # schema inference over zero files and wedge every replay), and stale
    # batch partitions from a prior run must be pruned on batch 0.
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    bands_dir = tmp_path / "bands"
    (bands_dir / "_temporary" / "0").mkdir(parents=True)
    (bands_dir / "_temporary" / "0" / "task_000").write_text("junk")
    assert jobs._hadoop_path_exists(spark, str(bands_dir))
    assert not jobs._committed_batch_data_exists(spark, str(bands_dir))

    out_dir = tmp_path / "flags_out"
    # stale partition from a hypothetical earlier run under another
    # checkpoint: must be gone after the fresh run's batch 0
    stale = docs.limit(3).select("doc_id").withColumn(
        "is_dup", F.lit(True)
    )
    stale.write.parquet(str(out_dir / "batch_id=99"))

    d_in = str(tmp_path / "docs_in")
    docs.coalesce(1).write.parquet(d_in)
    stream = spark.readStream.schema(docs.schema).parquet(d_in)
    q = jobs.run_minhash_dedup_stream(
        spark, stream, str(out_dir), str(tmp_path / "chk"), str(bands_dir)
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert not os.path.exists(out_dir / "batch_id=99")
    assert jobs._committed_batch_data_exists(spark, str(bands_dir))
    out = spark.read.parquet(str(out_dir))
    assert out.count() == docs.count()  # stale rows pruned, not unioned


def test_length_histogram_stream_matches_batch(spark, tmp_path):
    # Complete-mode streaming aggregation: after both micro-batches the
    # emitted histogram must equal the batch operator over all documents.
    from cloudcomputing_flink_application_spark.operators.textstats import (
        length_histogram,
    )

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    d_in = str(tmp_path / "docs_in")
    base = 1_700_000_000
    for i, pred in enumerate([docs.doc_id < 250, docs.doc_id >= 250]):
        p = f"{d_in}/f{i}"
        docs.filter(pred).coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(f"{root}/{f}", (base + i, base + i))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d_in}/*")
    )
    q = (
        jobs.length_histogram_stream(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("len_hist_s")
        .start()
    )
    try:
        q.processAllAvailable()
        prog = q.lastProgress
    finally:
        q.stop()
    streamed = rows_set(spark.sql("SELECT * FROM len_hist_s"))
    batch_hist = rows_set(length_histogram(docs))
    assert streamed == batch_hist
    # State-store footprint (PLANS.md): complete-mode aggregation state is
    # exactly the (lang, bucket) key space — one state row per emitted
    # histogram row, regardless of corpus size.
    state = prog["stateOperators"][0]
    assert state["numRowsTotal"] == len(batch_hist)


def test_minhash_stream_horizon_bounds_dedup_window(spark, tmp_path):
    # horizon_batches=1: a bucket-mate TWO batches back no longer flags a
    # doc (its band partitions aged out), an adjacent-batch mate still
    # does, and within-batch dedup is untouched.  The oracle is the batch
    # operator applied per batch over the horizon WINDOW's union,
    # restricted to that batch's docs — dedup-within-horizon exactly.
    from cloudcomputing_flink_application_spark.operators.dedup import (
        minhash_band_flags,
    )

    TA = "the quick brown fox jumps over the lazy dog near the river bank today"
    TB = "many people enjoy reading long books about science and history in the evening"
    TC = "fresh vegetables from the garden make every meal taste better than before"
    batches = [
        [(1, TA), (2, TB)],
        [(3, TB)],
        [(4, TA), (5, TC), (6, TC)],
    ]
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    d_in = str(tmp_path / "docs_in")
    base = 1_700_000_000
    frames = []
    for i, rows in enumerate(batches):
        p = f"{d_in}/f{i}"
        df = spark.createDataFrame(rows, schema)
        frames.append(df)
        df.coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(f"{root}/{f}", (base + i, base + i))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d_in}/*")
    )
    out_dir = str(tmp_path / "flags_out")
    HORIZON = 1
    q = jobs.run_minhash_dedup_stream(
        spark, stream, out_dir,
        str(tmp_path / "chk"), str(tmp_path / "bands"),
        horizon_batches=HORIZON,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = rows_set(spark.read.parquet(out_dir).select("doc_id", "is_dup"))
    # dedup-within-horizon oracle: batch op over each batch's window union
    expected = set()
    for b, df in enumerate(frames):
        window = frames[max(0, b - HORIZON) : b + 1]
        union = window[0]
        for w in window[1:]:
            union = union.unionByName(w)
        ids = {r[0] for r in df.collect()}
        expected |= {
            r for r in rows_set(minhash_band_flags(union)) if r[0] in ids
        }
    assert streamed == expected
    flags = dict(streamed)
    assert flags[3] is True  # adjacent-batch duplicate still caught
    assert flags[4] is False  # 2-batches-old duplicate aged out
    assert flags[6] is True  # within-batch dedup untouched
    # without a horizon the same corpus flags doc 4 (sanity: the horizon
    # is what changed the answer, not the data)
    all_docs = frames[0].unionByName(frames[1]).unionByName(frames[2])
    assert dict(rows_set(minhash_band_flags(all_docs)))[4] is True
    # the band store itself is bounded: only the trailing horizon+current
    # partitions survive the final batch's aging
    kept_parts = sorted(
        int(p.split("=")[1])
        for p in os.listdir(str(tmp_path / "bands"))
        if p.startswith("batch_id=")
    )
    assert kept_parts == [1, 2]


def test_clean_corpus_stream_horizon_bounds_hash_store(spark, tmp_path):
    # Same horizon semantics on the composed cleaner: a text whose only
    # earlier copy aged out of the hash store becomes uniq (and kept)
    # again; the oracle is batch clean_corpus over each horizon window.
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        clean_corpus,
    )

    T1 = ("we walked along the shore before sunrise and watched the small "
          "boats drift slowly while the light changed over the water")
    T2 = ("she keeps a worn notebook where every idea from the long train "
          "rides is written down with care and patience")
    T3 = ("the old market opens early and the sellers arrange their fruit "
          "in bright rows while neighbors stop to talk about the week")
    batches = [
        [(11, T1), (12, T2)],
        [(13, T3)],
        [(14, T1)],
    ]
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    bench = spark.createDataFrame(
        [(29, "benchmark questions about arithmetic and geometry go here")],
        schema,
    )
    d_in = str(tmp_path / "docs_in")
    base = 1_700_000_000
    frames = []
    for i, rows in enumerate(batches):
        p = f"{d_in}/f{i}"
        df = spark.createDataFrame(rows, schema)
        frames.append(df)
        df.coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(f"{root}/{f}", (base + i, base + i))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d_in}/*")
    )
    out_dir = str(tmp_path / "clean_out")
    HORIZON = 1
    q = jobs.run_clean_corpus_stream(
        spark, stream, bench, out_dir,
        str(tmp_path / "chk"), str(tmp_path / "hashes"),
        horizon_batches=HORIZON,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    cols = ["doc_id", "q_ok", "rep_ok", "con_ok", "uniq", "kept", "split"]
    streamed = rows_set(spark.read.parquet(out_dir).select(*cols))
    expected = set()
    for b, df in enumerate(frames):
        window = frames[max(0, b - HORIZON) : b + 1]
        union = window[0]
        for w in window[1:]:
            union = union.unionByName(w)
        ids = {r[0] for r in df.collect()}
        expected |= {
            r
            for r in rows_set(clean_corpus(bench.unionByName(union)).select(*cols))
            if r[0] in ids
        }
    assert streamed == expected
    by_id = {r[0]: r for r in streamed}
    assert by_id[11][4] is True  # first copy uniq and kept
    assert by_id[11][5] is True
    assert by_id[14][4] is True  # duplicate aged out of the store: uniq again
    assert by_id[14][5] is True
    # without a horizon the batch pipeline would have deduped doc 14
    all_docs = bench.unionByName(frames[0]).unionByName(frames[1]).unionByName(frames[2])
    full = {r[0]: r for r in rows_set(clean_corpus(all_docs).select(*cols))}
    assert full[14][4] is False


def test_purge_stream_horizon_window_recompute(spark, tmp_path):
    # Horizon mode on the purge twin is a bounded WINDOW RECOMPUTE (edge
    # maintenance under aging is non-monotone — a bucket min aging out
    # RETRACTS stored star edges), so each batch's partition must equal
    # the batch operator over the trailing window's union — including the
    # chain below, whose canonical doc ages out so cluster leadership
    # passes to a younger survivor.
    from cloudcomputing_flink_application_spark.operators.dedup import (
        minhash_purge_dedup,
    )

    from pyspark.sql import functions as F

    BASE = (
        "the river cuts through the old valley where tall pines lean over "
        "granite ledges and cold water folds around mossy stones while "
        "swallows trace wide arcs under a pale morning sky before rain"
    )
    batches = [
        [(1, BASE), (2, "a short unrelated note about city schedules and maps")],
        [(3, BASE + " alpha")],
        [(4, BASE + " beta")],
    ]
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    d_in = str(tmp_path / "docs_in")
    base_ts = 1_700_000_000
    frames = []
    for i, rows in enumerate(batches):
        p = f"{d_in}/f{i}"
        df = spark.createDataFrame(
            [(i_, t, len(t)) for i_, t in rows], schema
        )
        frames.append(df)
        df.coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(f"{root}/{f}", (base_ts + i, base_ts + i))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d_in}/*")
    )
    out_dir = str(tmp_path / "purge_out")
    state = tmp_path / "state"
    HORIZON = 1
    q = jobs.run_purge_dedup_stream(
        spark, stream, out_dir,
        str(tmp_path / "chk"), str(state),
        horizon_batches=HORIZON,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.parquet(out_dir)
    cols = ["doc_id", "n_members", "chars_saved"]
    # purge-within-horizon oracle: every batch partition == batch operator
    # over that batch's window union
    for b, df in enumerate(frames):
        window = frames[max(0, b - HORIZON) : b + 1]
        union = window[0]
        for w in window[1:]:
            union = union.unionByName(w)
        got = rows_set(out.filter(F.col("batch_id") == b).select(*cols))
        assert got == rows_set(minhash_purge_dedup(union)), f"batch {b}"
    # the narrative assertions: batch 1's window keeps canonical doc 1
    # with doc 3 purged into it; batch 2's window no longer contains doc 1,
    # so doc 3 INHERITS leadership and doc 4 purges into it
    got1 = {r[0]: r for r in rows_set(out.filter("batch_id = 1").select(*cols))}
    assert got1[1][1] == 2 and 3 not in got1
    got2 = {r[0]: r for r in rows_set(out.filter("batch_id = 2").select(*cols))}
    assert got2[3][1] == 2 and 4 not in got2 and 1 not in got2
    # without a horizon doc 3 and 4 would both purge into doc 1 (sanity:
    # the horizon changed the answer, not the data)
    all_docs = frames[0].unionByName(frames[1]).unionByName(frames[2])
    full = {r[0]: r for r in rows_set(minhash_purge_dedup(all_docs))}
    assert full[1][1] == 3 and 3 not in full and 4 not in full
    # state stores are bounded: only trailing horizon+current partitions
    # survive the final batch's aging, for every horizoned store
    for store in ("bands", "toksets", "docstats"):
        kept = sorted(
            int(p.split("=")[1])
            for p in os.listdir(str(state / store))
            if p.startswith("batch_id=")
        )
        assert kept == [1, 2], store


@pytest.mark.parametrize("compact_every", [None, 2])
def test_purge_stream_horizon_delta_composition(spark, tmp_path, compact_every):
    # r9 (r8 VERDICT #3): horizon x delta — bounded STATE and bounded
    # WRITES together.  The old refusal claimed append-only deltas cannot
    # express the window recompute's retractions; tombstones are exactly
    # that retraction.  Same aging-chain fixture as the window-recompute
    # test: after every batch, the FOLD of the deltas must equal the
    # batch operator over that batch's window union — including batch 2,
    # where canonical doc 1 ages out (tombstone) and leadership passes to
    # doc 3.  compact_every=2 composes in the same run (the fully
    # bounded mode); prefix folds BELOW the snapshot id are intentionally
    # coarsened away by compaction, so that variant asserts from the
    # snapshot up.
    from pyspark.sql import functions as F

    from cloudcomputing_flink_application_spark.operators.dedup import (
        minhash_purge_dedup,
    )

    import pyspark.sql.types as T

    BASE = (
        "the river cuts through the old valley where tall pines lean over "
        "granite ledges and cold water folds around mossy stones while "
        "swallows trace wide arcs under a pale morning sky before rain"
    )
    batches = [
        [(1, BASE), (2, "a short unrelated note about city schedules and maps")],
        [(3, BASE + " alpha")],
        [(4, BASE + " beta")],
    ]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    d_in = str(tmp_path / "docs_in")
    frames = []
    for i, rows in enumerate(batches):
        df = spark.createDataFrame([(i_, t, len(t)) for i_, t in rows], schema)
        frames.append(df)
        df.coalesce(1).write.parquet(f"{d_in}/f{i}")
        for root, _, files in os.walk(f"{d_in}/f{i}"):
            for f in files:
                os.utime(f"{root}/{f}", (1_700_000_000 + i,) * 2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d_in}/*")
    )
    out = str(tmp_path / "purge_out")
    HORIZON = 1
    q = jobs.run_purge_dedup_stream(
        spark, stream, out, str(tmp_path / "chk"), str(tmp_path / "state"),
        horizon_batches=HORIZON, emit="delta", compact_every=compact_every,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # fold at every (surviving) prefix == purge-within-horizon at that
    # batch; with compaction the snapshot (at batch 1) replaces prefixes
    # below it, so assertions start there
    first_checkable = 0 if compact_every is None else 1
    for b, _ in enumerate(frames):
        if b < first_checkable:
            continue
        window = frames[max(0, b - HORIZON) : b + 1]
        union = window[0]
        for w in window[1:]:
            union = union.unionByName(w)
        folded = rows_set(jobs.purge_table_from_deltas(spark, out, below=b + 1))
        assert folded == rows_set(minhash_purge_dedup(union)), f"batch {b}"
    raw = spark.read.parquet(out)
    parts = {int(r.batch_id) for r in raw.select("batch_id").distinct().collect()}
    if compact_every is not None:
        # compaction at batch 2 folded partitions {0,1} into snapshot@1:
        # the history stays bounded and partition 2 is the delta against
        # that snapshot
        assert parts == {1, 2}
    else:
        assert parts == {0, 1, 2}
    # the narrative: batch 2's delta tombstones the aged-out docs 1 and 2
    # and hands leadership to doc 3
    d2 = {
        (r.doc_id, r.n_members, r.chars_saved)
        for r in raw.filter(F.col("batch_id") == 2).collect()
    }
    assert (1, 0, 0) in d2 and (2, 0, 0) in d2  # aged-out retractions
    assert any(d == 3 and m == 2 for d, m, _ in d2)  # the new leader
    # final fold: only the last window's table survives
    final = rows_set(jobs.purge_table_from_deltas(spark, out))
    assert {r[0] for r in final} == {3}


def test_horizon_batches_validated_on_all_jobs(spark, tmp_path):
    # horizon_batches=0 (or negative) would silently disable every
    # cross-batch probe while pruning state at/ahead of the current
    # batch; all three horizoned jobs must reject it at job start,
    # before any stream is wired.
    import pyspark.sql.types as T

    schema = T.StructType([T.StructField("doc_id", T.LongType())])
    (tmp_path / "in").mkdir()
    stream = spark.readStream.schema(schema).parquet(str(tmp_path / "in"))
    bench = spark.createDataFrame([], schema)
    for bad in (0, -3):
        with pytest.raises(ValueError, match="horizon_batches"):
            jobs.run_minhash_dedup_stream(
                spark, stream, "o", "c", "b", horizon_batches=bad
            )
        with pytest.raises(ValueError, match="horizon_batches"):
            jobs.run_clean_corpus_stream(
                spark, stream, bench, "o", "c", "h", horizon_batches=bad
            )
        with pytest.raises(ValueError, match="horizon_batches"):
            jobs.run_purge_dedup_stream(
                spark, stream, "o", "c", "s", horizon_batches=bad
            )


def _feed_doc_batches(spark, tmp_path, preds):
    """Write sf0.001 documents as one parquet file per predicate, mtime-ordered
    so maxFilesPerTrigger=1 replays them as ordered micro-batches."""
    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    d_in = str(tmp_path / "docs_in")
    base = 1_700_000_000
    for i, pred in enumerate(preds):
        p = f"{d_in}/f{i}"
        docs.filter(pred).coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(f"{root}/{f}", (base + i, base + i))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d_in}/*")
    )
    return docs, stream


def _doc_batch_preds():
    from pyspark.sql import functions as F

    return [
        F.col("doc_id") < 170,
        (F.col("doc_id") >= 170) & (F.col("doc_id") < 340),
        F.col("doc_id") >= 340,
    ]


def test_span_flags_stream_matches_batch(spark, tmp_path):
    # Incremental exact-substring flags: stream in three doc_id-ordered
    # micro-batches; the DISTINCT union of emitted positions must equal the
    # batch duplicated-start set over the whole corpus — including the
    # retroactive case (a batch-0 doc's position flagged only when its twin
    # arrives later; the corpus's exact dups span the doc_id cuts).
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        _dup_span_starts,
    )

    docs, stream = _feed_doc_batches(spark, tmp_path, _doc_batch_preds())
    out_dir = str(tmp_path / "spans_out")
    q = jobs.run_span_flags_stream(
        spark, stream, out_dir, str(tmp_path / "chk"), str(tmp_path / "store")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = rows_set(spark.read.parquet(out_dir).select("doc_id", "p"))
    batch = rows_set(_dup_span_starts(docs, 8).select("doc_id", "p"))
    assert streamed == batch
    assert len(streamed) > 0  # the corpus has real duplicated spans
    # retro coverage: some batch-0 doc position was flagged only AFTER its
    # hash twin arrived in a later batch — the first partition alone must
    # not already hold every flagged batch-0 position
    first_part = rows_set(
        spark.read.parquet(out_dir)
        .filter("batch_id = 0")
        .select("doc_id", "p")
    )
    batch0_positions = {(d, p) for d, p in batch if d < 170}
    assert first_part < batch0_positions

    # At-least-once replay: wipe the checkpoint (not the sinks), re-run —
    # dynamic overwrite + batch_id < current probes keep the set identical.
    import shutil

    shutil.rmtree(str(tmp_path / "chk"))
    _, stream2 = _feed_doc_batches(spark, tmp_path / "replay", _doc_batch_preds())
    q = jobs.run_span_flags_stream(
        spark, stream2, out_dir, str(tmp_path / "chk"), str(tmp_path / "store")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert rows_set(spark.read.parquet(out_dir).select("doc_id", "p")) == batch


def test_span_flags_stream_horizon(spark, tmp_path):
    # horizon_batches=1: the store probe covers only the previous batch, so
    # the cumulative distinct set equals the union of the batch operator
    # over each consecutive-pair window (duplication-within-horizon).
    from pyspark.sql import functions as F

    from cloudcomputing_flink_application_spark.operators.pipeline import (
        _dup_span_starts,
    )

    docs, stream = _feed_doc_batches(spark, tmp_path, _doc_batch_preds())
    out_dir = str(tmp_path / "spans_out")
    q = jobs.run_span_flags_stream(
        spark, stream, out_dir, str(tmp_path / "chk"), str(tmp_path / "store"),
        horizon_batches=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = rows_set(spark.read.parquet(out_dir).select("doc_id", "p"))
    b0 = docs.filter(F.col("doc_id") < 170)
    b1 = docs.filter((F.col("doc_id") >= 170) & (F.col("doc_id") < 340))
    b2 = docs.filter(F.col("doc_id") >= 340)
    expected = rows_set(
        _dup_span_starts(b0.union(b1), 8).select("doc_id", "p")
    ) | rows_set(_dup_span_starts(b1.union(b2), 8).select("doc_id", "p"))
    assert streamed == expected
    # the horizon drops at least one cross-window duplication vs unbounded
    unbounded = rows_set(_dup_span_starts(docs, 8).select("doc_id", "p"))
    assert streamed < unbounded

    with pytest.raises(ValueError):
        jobs.run_span_flags_stream(
            spark, stream, out_dir, str(tmp_path / "chk2"),
            str(tmp_path / "store2"), horizon_batches=0,
        )
    with pytest.raises(ValueError):
        jobs.run_span_flags_stream(
            spark, stream, out_dir, str(tmp_path / "chk3"),
            str(tmp_path / "store3"), w=0,
        )


def test_span_flags_stream_horizon_bridge(spark, tmp_path):
    # The liveness-refresh contract (review catch): the same span arriving
    # once per batch for three batches with horizon=1 must flag ALL three
    # positions — batch 1 must re-store the hash so batch 2's probe (which
    # no longer covers partition 0) still finds a twin.  Before the fix,
    # already-seen hashes were anti-joined out of the store write, so the
    # hash aged out with partition 0 and (3, 1) was silently unflagged.
    import os as _os

    d_in = str(tmp_path / "docs_in")
    base = 1_700_000_000
    for i, doc_id in enumerate([1, 2, 3]):
        p = f"{d_in}/f{i}"
        spark.createDataFrame(
            [(doc_id, "a b c")], ["doc_id", "text"]
        ).coalesce(1).write.parquet(p)
        for root, _, files in _os.walk(p):
            for f in files:
                _os.utime(f"{root}/{f}", (base + i, base + i))
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d_in}/*")
    )
    out_dir = str(tmp_path / "out")
    q = jobs.run_span_flags_stream(
        spark, stream, out_dir, str(tmp_path / "chk"), str(tmp_path / "store"),
        w=3, horizon_batches=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert rows_set(spark.read.parquet(out_dir).select("doc_id", "p")) == {
        (1, 1), (2, 1), (3, 1),
    }


def test_forget_docs_rederives_survivor_edges(spark, tmp_path):
    # Compliance deletion from the purge stream's state: doc 1 is the hub
    # (bucket min) through which survivors 10 and 11 are linked.  After
    # forget_docs([1]) the stores must hold no trace of doc 1, the edge
    # store must be re-derived so 10-11 stay linked DIRECTLY, and the
    # stream must resume on its checkpoint with a third batch whose final
    # purge partition equals the batch operator over the surviving docs.
    from cloudcomputing_flink_application_spark.operators.dedup import (
        minhash_purge_dedup,
    )

    dup_text = "alpha beta gamma delta epsilon zeta eta theta"
    other = "one two three four five six seven eight nine"
    third = "red green blue cyan magenta yellow black white"

    def mk(rows):
        return [(i, t, "en", "s0", len(t)) for i, t in rows]

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    b0 = mk([(1, dup_text), (2, other)])
    b1 = mk([(10, dup_text), (11, dup_text), (12, other)])
    b2 = mk([(20, third), (21, third)])

    d_in = str(tmp_path / "in")
    base = 1_700_000_000
    for i, rows in enumerate([b0, b1]):
        p = f"{d_in}/f{i}"
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(f"{root}/{f}", (base + i, base + i))

    def start():
        stream = (
            spark.readStream.schema(schemas.DOCUMENTS)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d_in}/*")
        )
        return jobs.run_purge_dedup_stream(
            spark, stream, str(tmp_path / "out"), str(tmp_path / "chk"),
            str(tmp_path / "state"),
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    jobs.forget_docs(spark, str(tmp_path / "state"), [1], str(tmp_path / "chk"))
    # no trace of doc 1 in any store; survivors 10-11 linked directly
    for store in ("bands", "toksets", "docstats", "edges"):
        df = spark.read.parquet(str(tmp_path / "state" / store))
        assert df.filter("doc_id = 1").count() == 0, store
    edges = rows_set(
        spark.read.parquet(str(tmp_path / "state" / "edges"))
        .select("doc_id", "rep")
    )
    assert (11, 10) in edges
    assert all(r != 1 for _, r in edges)

    # resume on the same checkpoint with a third batch
    p = f"{d_in}/f2"
    spark.createDataFrame(b2, cols).coalesce(1).write.parquet(p)
    for root, _, files in os.walk(p):
        for f in files:
            os.utime(f"{root}/{f}", (base + 2, base + 2))
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    from pyspark.sql import functions as F

    out = spark.read.parquet(str(tmp_path / "out"))
    last = out.agg({"batch_id": "max"}).collect()[0][0]
    got = rows_set(
        out.filter(F.col("batch_id") == last).select(
            "doc_id", "n_members", "chars_saved"
        )
    )
    survivors = spark.createDataFrame(
        [r for r in b0 + b1 + b2 if r[0] != 1], cols
    )
    expected = rows_set(
        minhash_purge_dedup(survivors).select(
            "doc_id", "n_members", "chars_saved"
        )
    )
    assert got == expected


def test_forget_docs_noop_and_forget_all(spark, tmp_path):
    # Empty id list is a no-op; forgetting every doc empties the edge
    # store instead of leaving stale pairs behind.
    import shutil as _sh

    from cloudcomputing_flink_application_spark.operators.dedup import (
        minhash_purge_dedup,  # noqa: F401  (import parity with the main test)
    )

    dup_text = "alpha beta gamma delta epsilon zeta eta theta"
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    rows = [(1, dup_text, "en", "s0", len(dup_text)),
            (2, dup_text, "en", "s0", len(dup_text))]
    d_in = str(tmp_path / "in")
    p = f"{d_in}/f0"
    spark.createDataFrame(rows, cols).coalesce(1).write.parquet(p)
    for root, _, files in os.walk(p):
        for f in files:
            os.utime(f"{root}/{f}", (1_700_000_000, 1_700_000_000))
    stream = (
        spark.readStream.schema(schemas.DOCUMENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d_in}/*")
    )
    q = jobs.run_purge_dedup_stream(
        spark, stream, str(tmp_path / "out"), str(tmp_path / "chk"),
        str(tmp_path / "state"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = str(tmp_path / "state")
    before = rows_set(spark.read.parquet(f"{state}/edges").select("doc_id", "rep"))
    jobs.forget_docs(spark, state, [], str(tmp_path / "chk"))
    assert rows_set(
        spark.read.parquet(f"{state}/edges").select("doc_id", "rep")
    ) == before
    jobs.forget_docs(spark, state, [1, 2], str(tmp_path / "chk"))
    import glob as _glob

    assert not _glob.glob(f"{state}/edges/batch_id=*/part-*")
    _sh.rmtree(str(tmp_path / "out"), ignore_errors=True)


def test_forget_docs_refuses_pending_replay_and_heals_crashed_swap(spark, tmp_path):
    # (1) An uncommitted micro-batch (offsets ahead of commits) must make
    # forget_docs refuse: its replay would rewrite state from source data
    # that still contains the forgotten docs, silently undoing the
    # deletion.  (2) A crash between _replace_dir's two renames (store
    # moved to backup, staging not yet promoted) must be healed by the
    # next forget_docs call, not treated as an empty store.
    import shutil as _sh

    dup_text = "alpha beta gamma delta epsilon zeta eta theta"
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    rows = [(1, dup_text, "en", "s0", len(dup_text)),
            (2, dup_text, "en", "s0", len(dup_text)),
            (3, dup_text, "en", "s0", len(dup_text))]
    d_in = str(tmp_path / "in")
    p = f"{d_in}/f0"
    spark.createDataFrame(rows, cols).coalesce(1).write.parquet(p)
    for root, _, files in os.walk(p):
        for f in files:
            os.utime(f"{root}/{f}", (1_700_000_000, 1_700_000_000))
    stream = (
        spark.readStream.schema(schemas.DOCUMENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d_in}/*")
    )
    chk = str(tmp_path / "chk")
    state = str(tmp_path / "state")
    q = jobs.run_purge_dedup_stream(
        spark, stream, str(tmp_path / "out"), chk, state
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # (1) simulate the crash-before-commit window: offsets/0 exists,
    # commits/0 removed
    os.rename(f"{chk}/commits/0", str(tmp_path / "commit0.bak"))
    with pytest.raises(RuntimeError, match="uncommitted micro-batch"):
        jobs.forget_docs(spark, state, [1], chk)
    os.rename(str(tmp_path / "commit0.bak"), f"{chk}/commits/0")

    # (2) simulate a crash between the two renames: bands moved to backup,
    # staging dir left behind with garbage
    os.rename(f"{state}/bands", f"{state}/bands.forget_bak")
    os.makedirs(f"{state}/bands.forget_tmp")
    with open(f"{state}/bands.forget_tmp/garbage", "w") as f:
        f.write("stale")
    jobs.forget_docs(spark, state, [1], chk)
    assert os.path.isdir(f"{state}/bands")
    assert not os.path.exists(f"{state}/bands.forget_bak")
    assert not os.path.exists(f"{state}/bands.forget_tmp")
    # the healed store then served the deletion: doc 1 gone, 2-3 relinked
    bands = spark.read.parquet(f"{state}/bands")
    assert bands.filter("doc_id = 1").count() == 0
    assert bands.filter("doc_id = 2").count() > 0
    edges = rows_set(
        spark.read.parquet(f"{state}/edges").select("doc_id", "rep")
    )
    assert edges == {(3, 2)}
    _sh.rmtree(str(tmp_path / "out"), ignore_errors=True)


def _write_doc_batch(spark, d_in, idx, rows, cols, base=1_700_000_000):
    p = f"{d_in}/f{idx}"
    spark.createDataFrame(rows, cols).coalesce(1).write.parquet(p)
    for root, _, files in os.walk(p):
        for f in files:
            os.utime(f"{root}/{f}", (base + idx, base + idx))


def test_stream_refuses_under_forget_lock_and_heals_crashed_swap(spark, tmp_path):
    # ADVICE r6 (medium): a resumed store-backed stream must NEVER mistake
    # a half-done forget swap for an empty first-batch store.  Two arms:
    # (1) a present .forget_lock makes the next micro-batch raise instead
    # of reading half-forgotten state; (2) absent the lock, a stray
    # bak-with-missing-dir (pre-lock crash debris) is healed by restore at
    # batch start, so the accumulated state survives.
    dup_text = "alpha beta gamma delta epsilon zeta eta theta"
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    d_in = str(tmp_path / "in")
    _write_doc_batch(spark, d_in, 0,
                     [(1, dup_text, "en", "s0", len(dup_text))], cols)

    chk = str(tmp_path / "chk")
    state = str(tmp_path / "state")

    def start():
        stream = (
            spark.readStream.schema(schemas.DOCUMENTS)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d_in}/*")
        )
        return jobs.run_purge_dedup_stream(
            spark, stream, str(tmp_path / "out"), chk, state
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # (1) lock present -> next batch refuses loudly
    with open(f"{state}/bands.forget_lock", "w"):
        pass
    _write_doc_batch(spark, d_in, 1,
                     [(2, dup_text, "en", "s0", len(dup_text))], cols)
    q = start()
    with pytest.raises(Exception, match="forget-lock"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    os.remove(f"{state}/bands.forget_lock")

    # (2) no lock, but a crash between _replace_dir's renames left the
    # band store as the backup: the stream must RESTORE it, then process
    # batch 1 against the full prior state (doc 2 links to doc 1).
    os.rename(f"{state}/bands", f"{state}/bands.forget_bak")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert os.path.isdir(f"{state}/bands")
    assert not os.path.exists(f"{state}/bands.forget_bak")
    edges = rows_set(
        spark.read.parquet(f"{state}/edges").select("doc_id", "rep")
    )
    assert (2, 1) in edges  # prior state was not rebuilt from empty


def test_forget_locks_survive_refusal_only_when_preexisting(spark, tmp_path):
    # Lock lifecycle: a refusal (uncommitted checkpoint) releases the locks
    # THIS call created, but keeps a lock a crashed prior forget left —
    # its stores may be half-rewritten and must stay fenced.
    dup_text = "alpha beta gamma delta epsilon zeta eta theta"
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    d_in = str(tmp_path / "in")
    _write_doc_batch(spark, d_in, 0,
                     [(1, dup_text, "en", "s0", len(dup_text)),
                      (2, dup_text, "en", "s0", len(dup_text))], cols)
    chk = str(tmp_path / "chk")
    state = str(tmp_path / "state")
    stream = (
        spark.readStream.schema(schemas.DOCUMENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d_in}/*")
    )
    q = jobs.run_purge_dedup_stream(
        spark, stream, str(tmp_path / "out"), chk, state
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # pre-existing lock from a "crashed" forget + an uncommitted batch
    with open(f"{state}/toksets.forget_lock", "w"):
        pass
    os.rename(f"{chk}/commits/0", str(tmp_path / "commit0.bak"))
    with pytest.raises(RuntimeError, match="uncommitted micro-batch"):
        jobs.forget_docs(spark, state, [1], chk)
    # the pre-existing lock stays; the ones the refused call created are gone
    assert os.path.exists(f"{state}/toksets.forget_lock")
    for s in ("bands", "edges", "docstats"):
        assert not os.path.exists(f"{state}/{s}.forget_lock"), s
    os.rename(str(tmp_path / "commit0.bak"), f"{chk}/commits/0")

    # re-running the forget completes and releases EVERY lock
    jobs.forget_docs(spark, state, [1], chk)
    for s in ("bands", "toksets", "edges", "docstats"):
        assert not os.path.exists(f"{state}/{s}.forget_lock"), s
    assert spark.read.parquet(f"{state}/bands").filter("doc_id = 1").count() == 0


def test_forget_docs_span_removes_store_rows_and_reseeds(spark, tmp_path):
    # ADVICE r6: compliance deletion must extend to the span stream's
    # first-occurrence store — rows (h, doc_id, p) are content-derived
    # window hashes and positions of the forgotten doc.  After the forget:
    # no store row references the doc; a LATER twin of a dropped hash
    # re-seeds as a fresh first occurrence (pre-deletion history is gone,
    # the documented conservative semantics); the stream resumes cleanly
    # on its checkpoint.
    cols = ["doc_id", "text"]
    d_in = str(tmp_path / "in")
    _write_doc_batch(spark, d_in, 0, [(1, "a b c"), (2, "x y z")], cols)

    chk = str(tmp_path / "chk")
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")

    def start():
        stream = (
            spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d_in}/*")
        )
        return jobs.run_span_flags_stream(
            spark, stream, out, chk, f"{state}/firsts", w=3
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    store = spark.read.parquet(f"{state}/firsts")
    assert store.filter("doc_id = 1").count() == 1  # 'a b c' window stored

    jobs.forget_docs_span(spark, state, [1], chk)
    store = spark.read.parquet(f"{state}/firsts")
    assert store.filter("doc_id = 1").count() == 0
    assert store.filter("doc_id = 2").count() == 1  # survivor row intact
    assert not os.path.exists(f"{state}/firsts.forget_lock")

    # a later twin of the forgotten hash re-seeds (fresh first occurrence,
    # flagged only against itself -> no flags), and a twin of the SURVIVING
    # hash still flags both sides
    _write_doc_batch(spark, d_in, 1, [(3, "a b c"), (4, "x y z")], cols)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    flagged = rows_set(spark.read.parquet(out).select("doc_id", "p"))
    assert (4, 1) in flagged and (2, 1) in flagged  # surviving twin pair
    assert (3, 1) not in flagged                    # re-seeded, history gone
    store = spark.read.parquet(f"{state}/firsts")
    assert store.filter("doc_id = 3").count() == 1  # hash re-seeded by doc 3


def test_span_stream_guard_refuses_under_lock(spark, tmp_path):
    # The span stream carries the same batch-start guard as the purge
    # stream: a forget-lock on its store makes the next batch raise.
    cols = ["doc_id", "text"]
    d_in = str(tmp_path / "in")
    _write_doc_batch(spark, d_in, 0, [(1, "a b c")], cols)
    state = str(tmp_path / "state")

    def start():
        stream = (
            spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d_in}/*")
        )
        return jobs.run_span_flags_stream(
            spark, stream, str(tmp_path / "out"), str(tmp_path / "chk"),
            f"{state}/firsts", w=3,
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    os.makedirs(state, exist_ok=True)
    with open(f"{state}/firsts.forget_lock", "w"):
        pass
    _write_doc_batch(spark, d_in, 1, [(2, "a b c")], cols)
    q = start()
    with pytest.raises(Exception, match="forget-lock"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def test_forget_docs_idempotent_under_rerun(spark, tmp_path):
    # The recovery contract tells the operator to RE-RUN a crashed forget
    # with the same ids; that is only safe if forget is idempotent — the
    # second run must leave every store and the re-derived edges
    # bit-identical to the first.
    dup_text = "alpha beta gamma delta epsilon zeta eta theta"
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    rows = [(i, dup_text, "en", "s0", len(dup_text)) for i in (1, 2, 3, 10)]
    d_in = str(tmp_path / "in")
    _write_doc_batch(spark, d_in, 0, rows, cols)
    chk = str(tmp_path / "chk")
    state = str(tmp_path / "state")
    stream = (
        spark.readStream.schema(schemas.DOCUMENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d_in}/*")
    )
    q = jobs.run_purge_dedup_stream(
        spark, stream, str(tmp_path / "out"), chk, state
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def snapshot():
        def canon(v):
            return tuple(sorted(v)) if isinstance(v, list) else v

        snap = {}
        for store in ("bands", "toksets", "docstats", "edges"):
            df = spark.read.parquet(f"{state}/{store}")
            snap[store] = {
                tuple(canon(v) for v in r)
                for r in df.select(*sorted(df.columns)).collect()
            }
        return snap

    jobs.forget_docs(spark, state, [1], chk)
    first = snapshot()
    jobs.forget_docs(spark, state, [1], chk)  # the crash-recovery rerun
    assert snapshot() == first
    for store in ("bands", "toksets", "docstats", "edges"):
        df = spark.read.parquet(f"{state}/{store}")
        assert df.filter("doc_id = 1").count() == 0, store
    assert first["edges"], "survivors must stay linked after the forget"


def test_forget_docs_minhash_exact_survivor_semantics(spark, tmp_path):
    # The r7 per-doc band store makes flag-stream deletion exact: after
    # forgetting doc 1, (a) no store row references it, (b) a future twin
    # of a bucket ONLY doc 1 occupied re-seeds unflagged, while (c) a twin
    # of a bucket a SURVIVOR shares still flags — dedup-against-survivors.
    t_shared = "alpha beta gamma delta epsilon zeta eta theta"
    t_only1 = "red green blue cyan magenta yellow black white"
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    d_in = str(tmp_path / "in")
    _write_doc_batch(spark, d_in, 0,
                     [(1, t_only1, "en", "s0", len(t_only1)),
                      (2, t_shared, "en", "s0", len(t_shared))], cols)
    chk = str(tmp_path / "chk")
    bands = str(tmp_path / "bands")
    out = str(tmp_path / "out")

    def start():
        stream = (
            spark.readStream.schema(schemas.DOCUMENTS)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d_in}/*")
        )
        return jobs.run_minhash_dedup_stream(spark, stream, out, chk, bands)

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.read.parquet(bands).filter("doc_id = 1").count() > 0

    jobs.forget_docs_minhash(spark, bands, [1], chk)
    store = spark.read.parquet(bands)
    assert store.filter("doc_id = 1").count() == 0
    assert store.filter("doc_id = 2").count() > 0  # survivor rows intact
    assert not os.path.exists(f"{bands}.forget_lock")

    _write_doc_batch(spark, d_in, 1,
                     [(10, t_only1, "en", "s0", len(t_only1)),   # twin of forgotten
                      (11, t_shared, "en", "s0", len(t_shared))], cols)  # twin of survivor
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    flags = {r.doc_id: r.is_dup for r in spark.read.parquet(out).collect()}
    assert flags[10] is False   # history of the forgotten doc is gone
    assert flags[11] is True    # survivor's buckets still live

    # the guard fences this stream too
    with open(f"{bands}.forget_lock", "w"):
        pass
    _write_doc_batch(spark, d_in, 2, [(20, t_shared, "en", "s0", 1)], cols)
    q = start()
    with pytest.raises(Exception, match="forget-lock"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def test_forget_docs_clean_reseeds_text(spark, tmp_path):
    # Clean-stream hash-store deletion: the forgotten canonical doc's
    # (h, doc_id) row goes; a future identical survivor becomes uniq and
    # KEPT again — correct post-deletion semantics.
    from pyspark.sql import functions as F

    from cloudcomputing_flink_application_spark.operators.pipeline import BENCH_MOD

    text = ("quality words flow nicely through this sentence and keep "
            "ratios inside every gate without repeats at all")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    d_in = str(tmp_path / "in")
    _write_doc_batch(spark, d_in, 0, [(1, text, "en", "s0", len(text))], cols)
    chk = str(tmp_path / "chk")
    hashes = str(tmp_path / "hashes")
    out = str(tmp_path / "out")
    bench = spark.createDataFrame([], schemas.DOCUMENTS).filter(
        F.col("doc_id") % BENCH_MOD == 0
    )

    def start():
        stream = (
            spark.readStream.schema(schemas.DOCUMENTS)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d_in}/*")
        )
        return jobs.run_clean_corpus_stream(spark, stream, bench, out, chk, hashes)

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    batch0 = {r.doc_id: r.kept for r in spark.read.parquet(out).collect()}
    assert batch0[1] is True  # the doc passes the gates and is uniq

    jobs.forget_docs_clean(spark, hashes, [1], chk)
    # doc 1 was the store's ONLY row: the rewrite leaves no committed data
    assert not jobs._committed_batch_data_exists(spark, hashes)
    assert not os.path.exists(f"{hashes}.forget_lock")

    _write_doc_batch(spark, d_in, 1, [(5, text, "en", "s0", len(text))], cols)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    flags = {r.doc_id: (r.uniq, r.kept)
             for r in spark.read.parquet(out).collect()}
    assert flags[5] == (True, True)  # re-seeded: identical text kept again


def test_forget_docs_clean_reseeds_recurring_hash(spark, tmp_path):
    # ADVICE r7 medium: a hash that RECURS across batches must still
    # re-seed after its canonical doc is forgotten.  The r7 store wrote
    # batch-local canon rows every batch, leaving (h, dup_doc_id) rows
    # that kept flagging identical future text as dup forever; the store
    # now keeps first occurrences only, all keyed to the true canonical.
    from pyspark.sql import functions as F

    from cloudcomputing_flink_application_spark.operators.pipeline import BENCH_MOD

    text = ("quality words flow nicely through this sentence and keep "
            "ratios inside every gate without repeats at all")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    d_in = str(tmp_path / "in")
    _write_doc_batch(spark, d_in, 0, [(1, text, "en", "s0", len(text))], cols)
    _write_doc_batch(spark, d_in, 1, [(5, text, "en", "s0", len(text))], cols)
    chk = str(tmp_path / "chk")
    hashes = str(tmp_path / "hashes")
    out = str(tmp_path / "out")
    bench = spark.createDataFrame([], schemas.DOCUMENTS).filter(
        F.col("doc_id") % BENCH_MOD == 0
    )

    def start():
        stream = (
            spark.readStream.schema(schemas.DOCUMENTS)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d_in}/*")
        )
        return jobs.run_clean_corpus_stream(spark, stream, bench, out, chk, hashes)

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    flags = {r.doc_id: (r.uniq, r.kept)
             for r in spark.read.parquet(out).collect()}
    assert flags[1] == (True, True)
    assert flags[5] == (False, False)  # cross-batch dup of doc 1
    # the store holds FIRST occurrences only, every row keyed to doc 1
    store = spark.read.parquet(hashes)
    assert {r.doc_id for r in store.collect()} == {1}

    jobs.forget_docs_clean(spark, hashes, [1], chk)
    # every trace of the recurring hash left with its canonical
    assert not jobs._committed_batch_data_exists(spark, hashes)

    _write_doc_batch(spark, d_in, 2, [(9, text, "en", "s0", len(text))], cols)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    flags = {r.doc_id: (r.uniq, r.kept)
             for r in spark.read.parquet(out).collect()}
    assert flags[9] == (True, True)  # re-seeded despite the recurrence


def test_clean_stream_horizon_refresh_carries_canonical(spark, tmp_path):
    # Horizon mode must REFRESH a recurring hash's liveness (the r6
    # span-store lesson: an unrefreshed hash ages out mid-recurrence and
    # a later in-horizon twin under-flags) — and the refresh row must
    # carry the ORIGINAL canonical doc_id, keeping the store forgettable.
    from pyspark.sql import functions as F

    from cloudcomputing_flink_application_spark.operators.pipeline import BENCH_MOD

    text = ("quality words flow nicely through this sentence and keep "
            "ratios inside every gate without repeats at all")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    d_in = str(tmp_path / "in")
    for idx, did in ((0, 1), (1, 5), (2, 9)):
        _write_doc_batch(spark, d_in, idx,
                         [(did, text, "en", "s0", len(text))], cols)
    chk = str(tmp_path / "chk")
    hashes = str(tmp_path / "hashes")
    out = str(tmp_path / "out")
    bench = spark.createDataFrame([], schemas.DOCUMENTS).filter(
        F.col("doc_id") % BENCH_MOD == 0
    )

    def start():
        stream = (
            spark.readStream.schema(schemas.DOCUMENTS)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d_in}/*")
        )
        return jobs.run_clean_corpus_stream(
            spark, stream, bench, out, chk, hashes, horizon_batches=1
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    flags = {r.doc_id: r.uniq for r in spark.read.parquet(out).collect()}
    # horizon=1: batch 2's probe reads ONLY batch 1's partition — doc 9
    # is still flagged dup because batch 1 refreshed the hash's liveness
    assert flags == {1: True, 5: False, 9: False}
    # every store row (first occurrence AND refreshes) carries doc 1
    assert {r.doc_id for r in spark.read.parquet(hashes).collect()} == {1}

    jobs.forget_docs_clean(spark, hashes, [1], chk)
    assert not jobs._committed_batch_data_exists(spark, hashes)

    _write_doc_batch(spark, d_in, 3, [(13, text, "en", "s0", len(text))], cols)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    flags = {r.doc_id: (r.uniq, r.kept)
             for r in spark.read.parquet(out).collect()}
    assert flags[13] == (True, True)  # re-seeded within the horizon too


def test_purge_delta_from_edges_unit_semantics(spark):
    # Direct semantics of the delta emitter (r8): a new doc bridging two
    # existing singleton clusters emits ONE updated rep row, a tombstone
    # for every non-rep member of the merged cluster (including the
    # displaced former rep), and nothing for untouched clusters.
    from pyspark.sql import functions as F

    from cloudcomputing_flink_application_spark.operators.dedup import (
        purge_delta_from_edges,
    )

    edges = spark.createDataFrame([(1, 3), (2, 3)], "u LONG, v LONG")
    stats = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (9, 90)], "doc_id LONG, n_chars LONG"
    )
    new = spark.createDataFrame([(3,)], "doc_id LONG")
    rows = {
        (r.doc_id, r.n_members, r.chars_saved)
        for r in purge_delta_from_edges(edges, stats, new).collect()
    }
    # rep 1 re-emits with the merged stats; 2 (displaced rep) and 3 (new
    # member) get tombstones; untouched singleton 9 emits NOTHING
    assert rows == {(1, 3, 50), (2, 0, 0), (3, 0, 0)}

    # no arrivals -> no emission at all (the O(changed) invariant)
    none = spark.createDataFrame([], "doc_id LONG")
    assert purge_delta_from_edges(edges, stats, none).count() == 0

    # a new SINGLETON emits its one-time row and touches nothing else
    new9 = spark.createDataFrame([(9,)], "doc_id LONG")
    rows9 = {
        (r.doc_id, r.n_members, r.chars_saved)
        for r in purge_delta_from_edges(edges, stats, new9).collect()
    }
    assert rows9 == {(9, 1, 0)}


def test_purge_stream_delta_emission_folds_to_batch(spark, tmp_path):
    # emit="delta" stream over the staged corpus (exact duplicates of
    # early docs arriving in the last batch): the FOLD of the deltas
    # equals the batch operator over the union, later partitions are
    # O(changed) rather than O(corpus), and tombstones appear.
    from pyspark.sql import functions as F

    from cloudcomputing_flink_application_spark.operators.dedup import (
        minhash_purge_dedup,
    )

    raw = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    dups = raw.filter(raw.doc_id < 60).withColumn(
        "doc_id", raw.doc_id + 100_000
    )
    docs = raw.unionByName(dups)
    d_in = str(tmp_path / "docs_in")
    base = 1_700_000_000
    cuts = [
        docs.doc_id < 150,
        (docs.doc_id >= 150) & (docs.doc_id < 400),
        docs.doc_id >= 400,
    ]
    for i, pred in enumerate(cuts):
        p = f"{d_in}/f{i}"
        docs.filter(pred).coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(f"{root}/{f}", (base + i, base + i))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d_in}/*")
    )
    out_dir = str(tmp_path / "purge_out")
    q = jobs.run_purge_dedup_stream(
        spark, stream, out_dir, str(tmp_path / "chk"), str(tmp_path / "state"),
        emit="delta",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    folded = rows_set(jobs.purge_table_from_deltas(spark, out_dir))
    assert folded == rows_set(minhash_purge_dedup(docs))
    out = spark.read.parquet(out_dir)
    # the last batch's delta is a fraction of the table, not the table
    last = out.agg(F.max("batch_id")).first()[0]
    assert last == 2
    assert out.filter(F.col("batch_id") == last).count() < len(folded)
    # tombstones were really emitted (the duplicate members are non-rep
    # members of touched clusters)
    assert out.filter(F.col("n_members") == 0).count() > 0


def test_purge_stream_refuses_bad_emit(spark, tmp_path):
    import pytest

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    d_in = str(tmp_path / "in")
    docs.limit(10).write.parquet(d_in)
    stream = spark.readStream.schema(docs.schema).parquet(d_in)
    with pytest.raises(ValueError, match="emit"):
        jobs.run_purge_dedup_stream(
            spark, stream, str(tmp_path / "o"), str(tmp_path / "c"),
            str(tmp_path / "s"), emit="bogus",
        )


def test_forget_docs_heals_delta_output(spark, tmp_path):
    # Compliance deletion against a DELTA-mode purge output (r8 review
    # catch): without the heal, the fold resurrects the forgotten
    # canonical's old positive row and keeps survivors' stale stats.
    # forget_docs(purge_dir=...) replaces the emitted partitions with a
    # post-forget snapshot; the fold then equals the batch operator over
    # the survivors, and a RESUMED delta stream keeps the contract.
    from pyspark.sql import functions as F

    from cloudcomputing_flink_application_spark.operators.dedup import (
        minhash_purge_dedup,
    )

    raw = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet").filter(
        "doc_id < 100"
    )
    dups = raw.filter(raw.doc_id < 20).withColumn("doc_id", raw.doc_id + 100_000)
    d_in = str(tmp_path / "in")
    _write = lambda i, df: (  # noqa: E731
        df.coalesce(1).write.parquet(f"{d_in}/f{i}"),
        [os.utime(f"{r}/{f}", (1_700_000_000 + i,) * 2)
         for r, _, fs in os.walk(f"{d_in}/f{i}") for f in fs],
    )
    _write(0, raw)
    _write(1, dups)
    out = str(tmp_path / "purge_out")
    chk = str(tmp_path / "chk")
    state = str(tmp_path / "state")

    def start():
        stream = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d_in}/*")
        )
        return jobs.run_purge_dedup_stream(
            spark, stream, out, chk, state, emit="delta"
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    docs = raw.unionByName(dups)
    fold0 = rows_set(jobs.purge_table_from_deltas(spark, out))
    assert fold0 == rows_set(minhash_purge_dedup(docs))
    # a canonical whose cluster has members (its +100000 duplicate)
    victim = next(r[0] for r in sorted(fold0) if r[1] > 1)

    jobs.forget_docs(spark, state, [victim], chk, purge_dir=out)
    survivors = docs.filter(docs.doc_id != victim)
    healed = rows_set(jobs.purge_table_from_deltas(spark, out))
    assert healed == rows_set(minhash_purge_dedup(survivors))
    # the forgotten doc left the table; its surviving duplicate re-seeds
    assert victim not in {r[0] for r in healed}
    assert not os.path.exists(f"{state}/bands.forget_lock")

    # resumed delta stream over fresh arrivals keeps fold == batch
    fresh = raw.filter(raw.doc_id < 10).withColumn(
        "doc_id", raw.doc_id + 200_000
    )
    _write(2, fresh)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    fold2 = rows_set(jobs.purge_table_from_deltas(spark, out))
    assert fold2 == rows_set(minhash_purge_dedup(survivors.unionByName(fresh)))


def test_purge_delta_compaction_bounds_history(spark, tmp_path):
    # r9 (r8 VERDICT #1): the delta fold's input was the only term still
    # growing with stream AGE.  compact_every folds the committed history
    # into a snapshot partition in-stream; compact_purge_deltas does it
    # offline.  fold == batch must hold through in-stream compaction,
    # offline compaction, a forget (heal), and a resumed stream.
    from pyspark.sql import functions as F

    from cloudcomputing_flink_application_spark.operators.dedup import (
        minhash_purge_dedup,
    )

    raw = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet").filter(
        "doc_id < 200"
    )
    dups = raw.filter(raw.doc_id < 40).withColumn("doc_id", raw.doc_id + 100_000)
    d_in = str(tmp_path / "in")
    _write = lambda i, df: (  # noqa: E731
        df.coalesce(1).write.parquet(f"{d_in}/f{i}"),
        [os.utime(f"{r}/{f}", (1_700_000_000 + i,) * 2)
         for r, _, fs in os.walk(f"{d_in}/f{i}") for f in fs],
    )
    # four batches: base corpus split in three, duplicates last (so the
    # final batch emits tombstones across clusters the snapshot holds)
    _write(0, raw.filter("doc_id < 70"))
    _write(1, raw.filter("doc_id >= 70 AND doc_id < 140"))
    _write(2, raw.filter("doc_id >= 140"))
    _write(3, dups)
    out = str(tmp_path / "purge_out")
    chk = str(tmp_path / "chk")
    state = str(tmp_path / "state")

    def start():
        stream = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d_in}/*")
        )
        return jobs.run_purge_dedup_stream(
            spark, stream, out, chk, state, emit="delta", compact_every=2
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    docs = raw.unionByName(dups)
    assert rows_set(jobs.purge_table_from_deltas(spark, out)) == rows_set(
        minhash_purge_dedup(docs)
    )
    # compaction at batch 2 folded partitions {0,1} into a snapshot at 1:
    # the dir holds at most compact_every+1 partitions, not one per batch
    parts = {
        int(r.batch_id)
        for r in spark.read.parquet(out).select("batch_id").distinct().collect()
    }
    assert parts == {1, 2, 3}

    # offline compaction squeezes the history to ONE snapshot partition
    jobs.compact_purge_deltas(spark, out, chk)
    assert not os.path.exists(f"{out}.forget_lock")
    compacted = spark.read.parquet(out)
    assert {
        int(r.batch_id)
        for r in compacted.select("batch_id").distinct().collect()
    } == {3}
    assert compacted.filter(F.col("n_members") == 0).count() == 0  # live only
    assert rows_set(jobs.purge_table_from_deltas(spark, out)) == rows_set(
        minhash_purge_dedup(docs)
    )

    # forget -> heal -> compact stays a fixed point of the fold
    fold_now = rows_set(jobs.purge_table_from_deltas(spark, out))
    victim = next(r[0] for r in sorted(fold_now) if r[1] > 1)
    jobs.forget_docs(spark, state, [victim], chk, purge_dir=out)
    survivors = docs.filter(docs.doc_id != victim)
    jobs.compact_purge_deltas(spark, out, chk)
    assert rows_set(jobs.purge_table_from_deltas(spark, out)) == rows_set(
        minhash_purge_dedup(survivors)
    )

    # resumed stream appends ABOVE the snapshot; the fold keeps working
    fresh = raw.filter(raw.doc_id < 15).withColumn(
        "doc_id", raw.doc_id + 200_000
    )
    _write(4, fresh)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert rows_set(jobs.purge_table_from_deltas(spark, out)) == rows_set(
        minhash_purge_dedup(survivors.unionByName(fresh))
    )


def test_compact_purge_deltas_refusals(spark, tmp_path):
    # The compactor shares the forget contract: an uncommitted micro-batch
    # in the checkpoint refuses (and releases the locks IT created); a
    # compact lock on the output wedges the stream loudly.
    import pytest

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet").limit(40)
    d_in = str(tmp_path / "in")
    docs.write.parquet(d_in)
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    stream = spark.readStream.schema(docs.schema).parquet(d_in)
    q = jobs.run_purge_dedup_stream(
        spark, stream, out, chk, str(tmp_path / "state"), emit="delta"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # the delta stream recorded its emission mode next to the output
    assert os.path.exists(f"{out}.emit_delta")
    # fabricate an uncommitted batch: offsets ahead of commits
    offsets = sorted(os.listdir(f"{chk}/offsets"))
    latest = max(int(x) for x in offsets if x.isdigit())
    with open(f"{chk}/offsets/{latest + 1}", "w") as fh:
        fh.write("{}")
    with pytest.raises(RuntimeError, match="uncommitted"):
        jobs.compact_purge_deltas(spark, out, chk)
    assert not os.path.exists(f"{out}.forget_lock")  # released on refusal
    os.remove(f"{chk}/offsets/{latest + 1}")

    # a FULL-mode output refuses compaction: its partitions never
    # tombstone displaced reps, so a latest-row fold would resurrect
    # them — the .emit_delta marker is the gate (r9 review catch)
    out_f = str(tmp_path / "out_full")
    chk_f = str(tmp_path / "chk_full")
    stream_f = spark.readStream.schema(docs.schema).parquet(d_in)
    q = jobs.run_purge_dedup_stream(
        spark, stream_f, out_f, chk_f, str(tmp_path / "state_full")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert not os.path.exists(f"{out_f}.emit_delta")
    with pytest.raises(RuntimeError, match="delta-mode"):
        jobs.compact_purge_deltas(spark, out_f, chk_f)
    assert not os.path.exists(f"{out_f}.forget_lock")  # released on refusal

    # a held lock makes the stream refuse at batch start
    open(f"{out}.forget_lock", "w").close()
    stream2 = spark.readStream.schema(docs.schema).parquet(d_in)
    q = jobs.run_purge_dedup_stream(
        spark, stream2, out, str(tmp_path / "chk2"), str(tmp_path / "state2"),
        emit="delta",
    )
    with pytest.raises(Exception, match="forget-lock present"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    os.remove(f"{out}.forget_lock")

    # parameter validation: compact_every needs delta mode and >= 1
    stream3 = spark.readStream.schema(docs.schema).parquet(d_in)
    with pytest.raises(ValueError, match="delta"):
        jobs.run_purge_dedup_stream(
            spark, stream3, str(tmp_path / "o3"), str(tmp_path / "c3"),
            str(tmp_path / "s3"), compact_every=2,
        )
    with pytest.raises(ValueError, match="compact_every"):
        jobs.run_purge_dedup_stream(
            spark, stream3, str(tmp_path / "o4"), str(tmp_path / "c4"),
            str(tmp_path / "s4"), emit="delta", compact_every=0,
        )


def test_forget_docs_heals_horizon_output_via_rederived_edges(spark, tmp_path):
    # A horizon-mode purge root has NO edge store (edges recompute per
    # batch) — the heal must re-derive survivor edges from the retained
    # bands/token-set stores, not assume empty edges (which would stomp
    # the output with an all-singletons table — r8 review follow-up).
    from cloudcomputing_flink_application_spark.operators.dedup import (
        minhash_purge_dedup,
    )

    raw = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet").filter(
        "doc_id <= 30"
    )
    b0 = raw
    b1 = raw.filter("doc_id <= 20").withColumn("doc_id", raw.doc_id + 200)
    b2 = raw.filter("doc_id <= 10").withColumn("doc_id", raw.doc_id + 400)
    d_in = str(tmp_path / "in")
    for i, df in enumerate((b0, b1, b2)):
        p = f"{d_in}/f{i}"
        df.coalesce(1).write.parquet(p)
        for r, _, fs in os.walk(p):
            for f in fs:
                os.utime(f"{r}/{f}", (1_700_000_000 + i,) * 2)
    out = str(tmp_path / "purge_out")
    chk = str(tmp_path / "chk")
    state = str(tmp_path / "state")
    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d_in}/*")
    )
    q = jobs.run_purge_dedup_stream(
        spark, stream, out, chk, state, horizon_batches=1
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # retained window at the end = batches 1 and 2
    window_docs = b1.unionByName(b2)
    victim = 201  # canonical of the {201, 401} duplicate pair in-window
    jobs.forget_docs(spark, state, [victim], chk, purge_dir=out)
    healed = rows_set(
        spark.read.parquet(out).select("doc_id", "n_members", "chars_saved")
    )
    expected = rows_set(
        minhash_purge_dedup(window_docs.filter(f"doc_id != {victim}"))
    )
    assert healed == expected
    # the forgotten canonical is gone and its duplicate re-seeds as uniq
    assert 201 not in {r[0] for r in healed}
    assert (401, 1, 0) in healed


def test_corpus_profile_stream_matches_batch(spark, tmp_path):
    # Cumulative sketch profiling: two doc_id-ordered arrivals; every
    # emitted partition must equal the BATCH operators over everything
    # arrived so far — bit-exact: HLL union-of-parts == single-pass
    # (DataSketches register max), histogram rank == the exact twin's
    # integer rank rule.
    import os

    from cloudcomputing_flink_application_spark.operators import textstats as T

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    cut = 250
    d_in = str(tmp_path / "docs_in")
    base = 1_700_000_000
    for i, pred in enumerate([docs.doc_id < cut, docs.doc_id >= cut]):
        p = f"{d_in}/f{i}"
        docs.filter(pred).coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(f"{root}/{f}", (base + i, base + i))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d_in}/*")
    )
    out_dir = str(tmp_path / "profile_out")
    q = jobs.run_corpus_profile_stream(
        spark, stream, out_dir, str(tmp_path / "chk"), str(tmp_path / "state")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def expected(d):
        sk = {r["source"]: r.asDict() for r in T.corpus_profile(d).collect()}
        ex = {r["source"]: r.asDict() for r in T.corpus_profile_exact(d).collect()}
        return {
            s: (
                sk[s]["n_docs"],
                sk[s]["total_tokens"],
                sk[s]["distinct_texts_est"],
                sk[s]["distinct_tokens_est"],
                ex[s]["len_p50"],
                ex[s]["len_p90"],
                ex[s]["len_p99"],
            )
            for s in sk
        }

    out = spark.read.parquet(out_dir)
    for bid, d in [(0, docs.filter(docs.doc_id < cut)), (1, docs)]:
        got = {
            r["source"]: (
                r["n_docs"],
                r["total_tokens"],
                r["distinct_texts_est"],
                r["distinct_tokens_est"],
                r["len_p50"],
                r["len_p90"],
                r["len_p99"],
            )
            for r in out.filter(f"batch_id = {bid}").collect()
        }
        assert got == expected(d), f"batch {bid}"

    # replay idempotence: wipe the checkpoint, rerun against populated
    # stores — dynamic overwrite + the <= current probe must reproduce
    # identical profiles, not double-counted sketches/histograms
    import shutil

    shutil.rmtree(str(tmp_path / "chk"))
    q2 = jobs.run_corpus_profile_stream(
        spark, stream, out_dir, str(tmp_path / "chk"), str(tmp_path / "state")
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    out2 = spark.read.parquet(out_dir)
    got2 = {
        r["source"]: (r["n_docs"], r["total_tokens"], r["len_p50"])
        for r in out2.filter("batch_id = 1").collect()
    }
    want = expected(docs)
    assert got2 == {s: (v[0], v[1], v[4]) for s, v in want.items()}


def test_corpus_profile_stream_horizon_window(spark, tmp_path):
    # horizon_batches=1: the profile covers only the CURRENT micro-batch
    # (rolling-window report), and older store partitions are pruned.
    import os

    from cloudcomputing_flink_application_spark.operators import textstats as T

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    cut = 250
    d_in = str(tmp_path / "docs_in")
    base = 1_700_000_000
    for i, pred in enumerate([docs.doc_id < cut, docs.doc_id >= cut]):
        p = f"{d_in}/f{i}"
        docs.filter(pred).coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(f"{root}/{f}", (base + i, base + i))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d_in}/*")
    )
    out_dir = str(tmp_path / "profile_out")
    q = jobs.run_corpus_profile_stream(
        spark,
        stream,
        out_dir,
        str(tmp_path / "chk"),
        str(tmp_path / "state"),
        horizon_batches=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    tail_docs = docs.filter(docs.doc_id >= cut)
    ex = {r["source"]: r.asDict() for r in T.corpus_profile_exact(tail_docs).collect()}
    got = {
        r["source"]: (r["n_docs"], r["total_tokens"], r["len_p50"], r["len_p99"])
        for r in spark.read.parquet(out_dir).filter("batch_id = 1").collect()
    }
    assert got == {
        s: (v["n_docs"], v["total_tokens"], v["len_p50"], v["len_p99"])
        for s, v in ex.items()
    }
    # old sketch partitions pruned: only batch 1 remains in the stores
    import glob

    parts = glob.glob(str(tmp_path / "state" / "sketches" / "batch_id=*"))
    assert [p.split("=")[-1] for p in parts] == ["1"]


def test_corpus_profile_stream_survives_empty_first_batch(spark, tmp_path):
    # ADVICE r11: a zero-row FIRST micro-batch writes no store partition,
    # so the unconditional cumulative read used to die on parquet schema
    # inference and kill the stream.  Now: batch 0 emits nothing (nothing
    # has arrived), and batch 1's cumulative profile equals the batch
    # operators over the docs that did arrive.
    import os

    from cloudcomputing_flink_application_spark.operators import textstats as T

    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet").limit(200)
    d_in = str(tmp_path / "docs_in")
    base = 1_700_000_000
    for i, part in enumerate([docs.limit(0), docs]):
        p = f"{d_in}/f{i}"
        part.coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(f"{root}/{f}", (base + i, base + i))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d_in}/*")
    )
    out_dir = str(tmp_path / "profile_out")
    q = jobs.run_corpus_profile_stream(
        spark, stream, out_dir, str(tmp_path / "chk"), str(tmp_path / "state")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.parquet(out_dir)
    assert out.filter("batch_id = 0").count() == 0
    got = {
        r["source"]: (r["n_docs"], r["total_tokens"], r["len_p50"])
        for r in out.filter("batch_id = 1").collect()
    }
    sk = {r["source"]: r.asDict() for r in T.corpus_profile(docs).collect()}
    ex = {r["source"]: r.asDict() for r in T.corpus_profile_exact(docs).collect()}
    assert got == {
        s: (sk[s]["n_docs"], sk[s]["total_tokens"], ex[s]["len_p50"]) for s in sk
    }
