"""Highway-telematics queries: Q-SPEED, Q-AVGSPD, Q-ACC.

Capability reference: VehicleTelematics.java (semantics pinned in SURVEY.md
§2.11).  Each operator takes a ``car_reports`` DataFrame (schema
``schemas.CAR_REPORTS``) and returns the query's output DataFrame.  All three
are single-pass, shuffle-minimal batch plans; streaming variants live in
``streaming.jobs``.

Scale notes (100 TB stance):
- Q-SPEED is a pure scan-side filter+project — Catalyst pushes both into the
  parquet scan, zero shuffle.
- Q-AVGSPD is one hash aggregation keyed by (vid, xway): a single shuffle
  with map-side partial aggregation.  Key cardinality = number of vehicles,
  so state is O(cars), never O(reports).
- Q-ACC is one window shuffle keyed by vid with a bounded 4-row frame —
  state per key is constant; skewed vids cannot blow memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cloudcomputing_flink_application_spark.functions.scalar import mph_from_speed_mps

#: Speeding threshold, mph — SPEED_LIMIT (VehicleTelematics.java:35).
SPEED_LIMIT = 90
#: Average-speed measurement segments — VehicleTelematics.java:93-94.
SEG_START, SEG_END = 52, 56
#: Average-speed fine threshold, mph — VehicleTelematics.java:284.
AVG_SPEED_LIMIT = 60
#: Consecutive equal-position reports that constitute an accident —
#: window size of countWindow(4,1) (VehicleTelematics.java:171).
ACCIDENT_RUN = 4


def speed_radar(car_reports: DataFrame, speed_limit: int = SPEED_LIMIT) -> DataFrame:
    """Q-SPEED: every report at or above the speed limit.

    Reference: filter ``spd >= 90`` + projection to
    ``(time, vid, xway, seg, dir, spd)`` — VehicleTelematics.java:59-83
    (SpeedRadarData, :205-213).  Stateless; filter and column pruning reach
    the scan (verified in tests/test_plans.py).
    """
    return car_reports.filter(F.col("spd") >= speed_limit).select(
        "time", "vid", "xway", "seg", "dir", "spd"
    )


def average_speed_fines(
    car_reports: DataFrame,
    seg_start: int = SEG_START,
    seg_end: int = SEG_END,
    limit_mph: int = AVG_SPEED_LIMIT,
) -> DataFrame:
    """Q-AVGSPD: average-speed fines over the seg 52→56 measured stretch.

    Reference dataflow (VehicleTelematics.java:93-152,255-288): keep reports
    with ``seg ∈ {52,56}``; per (vid,dir,seg) a running reduce keeps max-pos
    (dir=0) / min-pos (dir=1); consecutive reduce updates per (vid,dir) are
    paired (countWindow(2,1)) and FIRE when the update sequence transitions
    ``seg 52 -> seg 56``.  That is a per-TRANSITION contract: a vehicle whose
    reports interleave 52/56 (or re-enter 52 after 56) fires once per
    transition, each fire reading the RUNNING reduce state at that point —
    not once per (vid, xway).  The streaming variant
    (``streaming.jobs.average_speed_fines_stream``) runs this operator over
    each vid's carried reduce rows plus each micro-batch; batch ==
    streaming is pinned by tests/test_streaming.py including
    multi-traversal corpora.

    Pinned reference behaviors (SURVEY.md §2.11):
    - only dir=0 can emit (a dir=1 traversal meets seg 56 first — pinned,
      not "fixed");
    - the running reduce keeps the max-pos seg-52 report and min-pos seg-56
      report seen so far, FIRST occurrence winning pos ties (the reference
      reduce replaces only on strict inequality);
    - fire requires ``dt > 0`` and Java int division at each step
      (VehicleTelematics.java:283), emitted iff ``avgspd > 60``.

    Spark-first plan: one window shuffle keyed by vid.  The running reduces
    are unbounded-preceding window aggregates (``max_by``/``min_by`` with an
    integer ordering key ``pos * 2^31 ∓ time`` — max pos then earliest time,
    min pos then earliest time); the transition test is a ``lag(seg)``.
    Running frames evaluate in O(rows) per partition; state per vid is O(1).
    """
    measured = car_reports.filter(
        (F.col("dir") == 0) & F.col("seg").isin(seg_start, seg_end)
    )
    wt = Window.partitionBy("vid").orderBy("time")
    run = wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    is52 = F.col("seg") == seg_start
    is56 = F.col("seg") == seg_end
    # Integer arg-ordering keys: pos dominates (pos <= 2^31, time < 2^31, so
    # pos * 2^31 +/- time never collides across distinct pos and stays under
    # 2^63).  -time / +time break pos ties toward the EARLIEST report,
    # matching the reference reduce's strict-inequality replacement.
    big = F.lit(2147483648)
    key52 = F.when(is52, F.col("pos").cast("long") * big - F.col("time"))
    key56 = F.when(is56, F.col("pos").cast("long") * big + F.col("time"))
    staged = measured.select(
        "time",
        "vid",
        "xway",
        "seg",
        F.max(F.when(is52, F.col("pos"))).over(run).alias("_p1"),
        F.max_by(F.when(is52, F.col("time")), key52).over(run).alias("_t1"),
        F.min(F.when(is56, F.col("pos"))).over(run).alias("_p2"),
        F.min_by(F.when(is56, F.col("time")), key56).over(run).alias("_t2"),
        F.lag("seg").over(wt).alias("_prev_seg"),
    )
    fines = (
        staged.filter(
            (F.col("_prev_seg") == seg_start)
            & is56
            & F.col("_t1").isNotNull()
            & (F.col("_t2") > F.col("_t1"))
        )
        .select(
            F.col("_t1").alias("time1"),
            F.col("_t2").alias("time2"),
            "vid",
            "xway",
            F.lit(0).alias("dir"),
            mph_from_speed_mps(
                F.col("_p2") - F.col("_p1"),
                F.col("_t2") - F.col("_t1"),
            ).alias("avgspd"),
        )
        .filter(F.col("avgspd") > limit_mph)
    )
    return fines


def accident_reports(car_reports: DataFrame, run: int = ACCIDENT_RUN) -> DataFrame:
    """Q-ACC: vehicles stopped for >= 4 consecutive reports at the same pos.

    Reference: per vid, sliding count window of 4 (countWindow(4,1),
    VehicleTelematics.java:171); emit when all 4 share ``pos``
    (only pos is compared — :315); output ``(time1 = first report of the run
    in-window, time2 = current, vid, xway, seg, dir, pos)``; a car stopped
    N>=4 reports yields N-3 rows (SURVEY.md §2.11).

    Spark-first plan: bounded window frame ``rowsBetween(-3, 0)`` partitioned
    by vid ordered by time — fires where the 4-row frame is full and
    min(pos)==max(pos) over it.  xway/seg/dir are taken from the run's first
    record (lag 3), matching the reference's copy-from-first behavior.
    """
    w = Window.partitionBy("vid").orderBy("time")
    frame = w.rowsBetween(-(run - 1), 0)
    return (
        car_reports.select(
            "time",
            "vid",
            "xway",
            "seg",
            "dir",
            "pos",
            F.count("*").over(frame).alias("_n"),
            F.min("pos").over(frame).alias("_minpos"),
            F.max("pos").over(frame).alias("_maxpos"),
            F.lag("time", run - 1).over(w).alias("_t1"),
            F.lag("xway", run - 1).over(w).alias("_xway1"),
            F.lag("seg", run - 1).over(w).alias("_seg1"),
            F.lag("dir", run - 1).over(w).alias("_dir1"),
        )
        .filter((F.col("_n") == run) & (F.col("_minpos") == F.col("_maxpos")))
        .select(
            F.col("_t1").alias("time1"),
            F.col("time").alias("time2"),
            "vid",
            F.col("_xway1").alias("xway"),
            F.col("_seg1").alias("seg"),
            F.col("_dir1").alias("dir"),
            "pos",
        )
    )
