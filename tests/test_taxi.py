"""Tests for Q-CONG / Q-SAT (CongestionArea.java / SaturatedVendor.java
semantics, SURVEY.md §2.11)."""

from __future__ import annotations

from datetime import datetime

import pytest

from cloudcomputing_flink_application_spark.operators.taxi import (
    congestion_daily,
    saturated_vendors,
)
from tests.conftest import rows_set


def ts(s: str) -> datetime:
    return datetime.strptime(s, "%Y-%m-%d %H:%M:%S")


TRIP_COLS = [
    "vendor_id",
    "tpep_pickup_datetime",
    "tpep_dropoff_datetime",
    "total_amount",
    "congestion_surcharge",
]


# Hand-derived Q-CONG / Q-SAT rows; tests/test_cli.py writes the same rows
# as a 19-column CSV for the taxi subcommands.
TRIPS = [
    # day 1: three surcharged trips, avg hits a HALF_UP boundary:
    # (10.565+20.00+30.00)/3 = 20.188333 -> 20.19? No: use exact cents.
    # totals 10.56 + 20.01 + 30.00 = 60.57 / 3 = 20.19 exact.
    (1, ts("2022-03-01 00:00:03"), ts("2022-03-01 00:09:02"), 10.56, 2.5),
    (2, ts("2022-03-01 08:00:00"), ts("2022-03-01 08:20:00"), 20.01, 2.5),
    (1, ts("2022-03-01 23:59:59"), ts("2022-03-02 00:10:00"), 30.00, 2.5),
    # day 1: non-surcharged trip excluded from Q-CONG
    (1, ts("2022-03-01 12:00:00"), ts("2022-03-01 12:30:00"), 99.99, 0.0),
    # day 2: two surcharged trips; avg = (10.00+10.01)/2 = 10.005 -> 10.01
    # (HALF_UP on the exact half-cent boundary)
    (3, ts("2022-03-02 01:00:00"), ts("2022-03-02 01:10:00"), 10.00, 2.5),
    (3, ts("2022-03-02 02:00:00"), ts("2022-03-02 02:10:00"), 10.01, 2.5),
    # vendor 5: back-to-back pairs around the 10-minute boundary
    (5, ts("2022-03-03 10:00:00"), ts("2022-03-03 10:10:00"), 5.0, 0.0),
    (5, ts("2022-03-03 10:15:00"), ts("2022-03-03 10:30:00"), 5.0, 0.0),  # gap 5m < 10 -> fires
    (5, ts("2022-03-03 10:40:00"), ts("2022-03-03 10:50:00"), 5.0, 0.0),  # gap exactly 10m -> NOT fired (strict <)
    (5, ts("2022-03-03 11:30:00"), ts("2022-03-03 11:40:00"), 5.0, 0.0),  # gap 40m -> no
    # vendor 6 interleaved in file order with vendor 5 (per-vendor ordering
    # must not depend on input order)
    (6, ts("2022-03-03 10:05:00"), ts("2022-03-03 10:20:00"), 5.0, 0.0),
    (6, ts("2022-03-03 10:29:59"), ts("2022-03-03 10:45:00"), 5.0, 0.0),  # gap 9m59s -> fires
]


@pytest.fixture(scope="module")
def trips(spark):
    return spark.createDataFrame(TRIPS, schema=TRIP_COLS)


def test_congestion_daily(trips):
    out = congestion_daily(trips)
    assert out.columns == ["day", "trips", "avg_total"]
    assert rows_set(out) == {
        ("2022/03/01", 3, 20.19),
        ("2022/03/02", 2, 10.01),  # HALF_UP at the exact .005 boundary
    }


def test_saturated_vendors(trips):
    out = saturated_vendors(trips)
    assert out.columns == ["vendor_id", "first_pickup", "last_dropoff", "trips"]
    assert rows_set(out) == {
        (5, "2022-03-03 10:00:00", "2022-03-03 10:30:00", 2),
        (6, "2022-03-03 10:05:00", "2022-03-03 10:45:00", 2),
    }


def test_saturated_vendors_empty_single_trip(spark):
    rows = [(9, ts("2022-03-01 00:00:00"), ts("2022-03-01 00:10:00"), 1.0, 0.0)]
    df = spark.createDataFrame(rows, schema=TRIP_COLS)
    assert saturated_vendors(df).count() == 0


def test_congestion_negative_avg_rounds_away_from_zero(spark):
    # ADVICE r1: refund-heavy windows can sum negative; HALF_UP must round
    # half AWAY FROM ZERO (Java BigDecimal), not toward +inf.
    # Day total: -10.01 + 0.00 = -10.01 over 2 trips -> avg -5.005 -> -5.01.
    rows = [
        (1, ts("2022-04-01 10:00:00"), ts("2022-04-01 10:10:00"), -10.01, 2.5),
        (1, ts("2022-04-01 11:00:00"), ts("2022-04-01 11:10:00"), 0.00, 2.5),
    ]
    df = spark.createDataFrame(rows, schema=TRIP_COLS)
    assert rows_set(congestion_daily(df)) == {("2022/04/01", 2, -5.01)}


def test_saturated_bucket_boundary_pairs_exchange(spark):
    # Pairs that straddle a bucket boundary must still fire: the previous
    # bucket's last row travels as the phantom predecessor — including
    # across EMPTY buckets.
    rows = [
        (8, ts("2022-05-01 10:00:00"), ts("2022-05-01 10:25:00"), 5.0, 0.0),
        # next bucket (30-min buckets): gap 6 min -> fires via the phantom
        (8, ts("2022-05-01 10:31:00"), ts("2022-05-01 10:40:00"), 5.0, 0.0),
        # two buckets later (11:30 bucket; 11:00 bucket empty): gap 65m -> no
        (8, ts("2022-05-01 11:45:00"), ts("2022-05-01 11:50:00"), 5.0, 0.0),
    ]
    df = spark.createDataFrame(rows, schema=TRIP_COLS)
    out = saturated_vendors(df, bucket_minutes=30)
    assert rows_set(out) == {
        (8, "2022-05-01 10:00:00", "2022-05-01 10:40:00", 2),
    }


def test_saturated_hot_vendor_spreads_over_buckets(spark):
    # One hot vendor, many buckets: the window shuffle must key on
    # (vendor, bucket), not vendor alone — that is the whole skew story.
    from pyspark.sql import functions as F

    rows = [
        (9, ts(f"2022-05-{d:02d} 10:00:00"), ts(f"2022-05-{d:02d} 10:05:00"), 5.0, 0.0)
        for d in range(1, 9)
    ]
    df = spark.createDataFrame(rows, schema=TRIP_COLS)
    plan = saturated_vendors(df)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(vendor_id" in plan and "_b" in plan.split(
        "hashpartitioning(vendor_id", 1
    )[1].split(")")[0], plan
    # and the semantics are unchanged: no pairs (gaps are a day)
    assert saturated_vendors(df).count() == 0


def test_saturated_vendors_twelve_hour_bit_parity(spark):
    # twelve_hour=True reproduces SaturatedVendor.java:82's "yyyy-MM-dd
    # hh:mm:ss" byte-for-byte: hour 00 renders 12, hour 13 renders 01, and
    # 12:xx stays 12 — the reference's round-trip-breaking quirk (X6).
    rows = [
        (7, ts("2022-03-04 00:01:00"), ts("2022-03-04 00:05:00"), 5.0, 0.0),
        (7, ts("2022-03-04 00:09:00"), ts("2022-03-04 13:30:00"), 5.0, 0.0),
        (8, ts("2022-03-04 12:00:00"), ts("2022-03-04 12:05:00"), 5.0, 0.0),
        (8, ts("2022-03-04 12:10:00"), ts("2022-03-04 23:40:00"), 5.0, 0.0),
    ]
    df = spark.createDataFrame(rows, schema=TRIP_COLS)
    assert rows_set(saturated_vendors(df, twelve_hour=True)) == {
        (7, "2022-03-04 12:01:00", "2022-03-04 01:30:00", 2),
        (8, "2022-03-04 12:00:00", "2022-03-04 11:40:00", 2),
    }
    # default stays the documented 24-hour normalization
    assert rows_set(saturated_vendors(df)) == {
        (7, "2022-03-04 00:01:00", "2022-03-04 13:30:00", 2),
        (8, "2022-03-04 12:00:00", "2022-03-04 23:40:00", 2),
    }


def test_trips_goldens_hold_in_duckdb():
    """Independent cross-check of the hand-derived TRIPS goldens: the
    bodies of the registry's Q-CONG / Q-SAT oracle SQL, run in DuckDB
    over TRIPS loaded as ``taxi_trips`` (the derived-view CTE that maps
    ``events`` onto ``taxi_trips`` is stripped), give the same rows as
    the Spark operators above."""
    import duckdb

    from cloudcomputing_flink_application_spark.registry import Q_CONG_SQL, Q_SAT_SQL
    from cloudcomputing_flink_application_spark.sources.derived import TAXI_TRIPS_CTE

    view = f"WITH {TAXI_TRIPS_CTE.strip()}"
    assert view in Q_CONG_SQL and f"{view}," in Q_SAT_SQL
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE taxi_trips (vendor_id INT, tpep_pickup_datetime "
        "TIMESTAMP, tpep_dropoff_datetime TIMESTAMP, total_amount DOUBLE, "
        "congestion_surcharge DOUBLE)"
    )
    con.executemany("INSERT INTO taxi_trips VALUES (?, ?, ?, ?, ?)", TRIPS)
    cong = con.execute(Q_CONG_SQL.replace(view, "")).fetchall()
    assert {(d, n, round(float(a), 2)) for d, n, a in cong} == {
        ("2022/03/01", 3, 20.19),
        ("2022/03/02", 2, 10.01),
    }
    sat = con.execute(Q_SAT_SQL.replace(f"{view},", "WITH")).fetchall()
    assert set(sat) == {
        (5, "2022-03-03 10:00:00", "2022-03-03 10:30:00", 2),
        (6, "2022-03-03 10:05:00", "2022-03-03 10:45:00", 2),
    }
    con.close()
