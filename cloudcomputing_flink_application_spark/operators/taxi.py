"""NYC yellow-taxi queries: Q-CONG and Q-SAT.

Capability reference: CongestionArea.java / SaturatedVendor.java (semantics
pinned in SURVEY.md §2.11).  Operators take a ``taxi_trips``-shaped DataFrame
(``schemas.TAXI_TRIPS``, or any frame with the starred columns) and return
the query output.

Scale notes (100 TB stance):
- Q-CONG in the reference is a non-keyed ``windowAll`` — parallelism 1 by
  construction (CongestionArea.java:60).  Here it is an ordinary hash
  aggregate keyed by the day window: partial aggregation map-side, then a
  shuffle whose cardinality is the number of days — fully parallel, no
  single-subtask bottleneck to carry to a cluster.
- Q-SAT's key (vendor_id) is inherently low-cardinality (real TLC data has
  ~2 vendors), so a plain vendor-keyed window would sort each vendor's FULL
  history inside one task.  The default plan therefore windows over
  (vendor, pickup-time bucket) and exchanges exactly one boundary row per
  bucket (the previous non-empty bucket's last trip, injected as a phantom
  predecessor): identical lag-1 semantics, task size bounded by the bucket,
  hot vendors spread across as many tasks as they have buckets.  The
  streaming variant (streaming.jobs.saturated_vendors_stream) runs this
  operator over each vendor's last trip plus each micro-batch (O(1)
  carried rows per key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cloudcomputing_flink_application_spark.functions.scalar import (
    avg_half_up_cents,
    ts_fmt,
)

#: Back-to-back gap threshold, ms — SaturatedVendor.java:85-86 (strictly <).
SATURATION_GAP_MIN = 10

#: Q-SAT skew-bounding bucket width.  Each (vendor, bucket) sorts in its own
#: task; one boundary row is exchanged per bucket.  A day keeps local-test
#: bucket counts sane; at 100 TB pick hours so tasks stay executor-sized.
SATURATION_BUCKET_MINUTES = 1440


def congestion_daily(trips: DataFrame) -> DataFrame:
    """Q-CONG: daily trip count + HALF_UP-rounded average total for
    congestion-surcharged trips.

    Reference: filter ``congestion_surcharge > 0``; 1-day tumbling event-time
    window on pickup (UTC); emit ``(day 'yyyy/MM/dd', trips,
    round(avg(total_amount), 2) HALF_UP)`` — CongestionArea.java:43-61,92-117.

    Implementation detail that matters at scale: the average is computed on
    exact integer cents (sum + count, then integer HALF_UP division) instead
    of ``avg(double)`` — double summation is order-dependent under partial
    aggregation, and this engine must produce identical bytes at any
    parallelism.  ``round(x*100)`` per row is exact for 2-decimal inputs.
    """
    surcharged = trips.filter(F.col("congestion_surcharge") > 0.0)
    daily = (
        surcharged.groupBy(
            F.window("tpep_pickup_datetime", "1 day").alias("win")
        )
        .agg(
            F.count("*").alias("trips"),
            F.sum(F.round(F.col("total_amount") * 100).cast("long")).alias("_cents"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy/MM/dd").alias("day"),
            F.col("trips").cast("int").alias("trips"),
            avg_half_up_cents(F.col("_cents"), F.col("trips")).alias("avg_total"),
        )
    )
    return daily


def saturated_vendors(
    trips: DataFrame,
    gap_minutes: int = SATURATION_GAP_MIN,
    bucket_minutes: int = SATURATION_BUCKET_MINUTES,
    twelve_hour: bool = False,
) -> DataFrame:
    """Q-SAT: per-vendor back-to-back trip pairs.

    Reference: per vendor, order trips by pickup; for each consecutive pair
    with ``next.pickup - prev.dropoff < 10 min`` emit ``(vendor_id,
    prev.pickup, next.dropoff, 2)`` — SaturatedVendor.java:40-91 (the
    GlobalWindows+trigger+evictor at :56-71 is exactly a sliding count window
    (2,1), SURVEY.md §2.6 N4).  Timestamps are formatted 24-hour
    ``yyyy-MM-dd HH:mm:ss`` — deliberate normalization of the reference's
    12-hour ``hh`` bug (SaturatedVendor.java:82, SURVEY.md §2.9 X6);
    ``twelve_hour=True`` reproduces the reference's output byte-for-byte.

    Spark-first plan, skew-bounded: vendor_id alone is a handful of keys, so
    a vendor-keyed window would sort each vendor's full history in ONE task.
    Instead the window runs per (vendor, pickup-time bucket) with exactly one
    boundary row exchanged per bucket:

    1. per (vendor, bucket), find the last trip by (pickup, dropoff) —
       map-side partial agg, tiny result;
    2. lag that last trip forward one non-empty bucket (a window over the
       per-bucket aggregates, O(buckets) rows) and inject it into the next
       bucket as a phantom predecessor — it sorts strictly first there, its
       pickup belonging to an earlier bucket;
    3. lag-1 inside each (vendor, bucket); phantom rows feed the lag and are
       then dropped, so the first real row of every bucket sees exactly the
       row a global per-vendor window would have given it.

    The pair semantics are bit-identical to the global window (the oracle
    Q_SAT_SQL still uses the global form; hash parity is the proof); the
    order key includes dropoff as a tiebreak so simultaneous pickups pair
    deterministically on every surface.
    """
    bucket_ms = bucket_minutes * 60 * 1000
    base = trips.select(
        "vendor_id", "tpep_pickup_datetime", "tpep_dropoff_datetime"
    ).withColumn(
        "_b",
        F.floor(
            F.unix_millis(F.col("tpep_pickup_datetime")) / F.lit(bucket_ms)
        ).cast("long"),
    )
    okey = F.struct(
        F.col("tpep_pickup_datetime").alias("p"),
        F.col("tpep_dropoff_datetime").alias("d"),
    )
    lasts = base.groupBy("vendor_id", "_b").agg(F.max(okey).alias("_last"))
    wv = Window.partitionBy("vendor_id").orderBy("_b")
    phantoms = (
        lasts.select("vendor_id", "_b", F.lag("_last").over(wv).alias("_prev"))
        .filter(F.col("_prev").isNotNull())
        .select(
            "vendor_id",
            "_b",
            F.col("_prev.p").alias("tpep_pickup_datetime"),
            F.col("_prev.d").alias("tpep_dropoff_datetime"),
            F.lit(True).alias("_phantom"),
        )
    )
    unioned = base.withColumn("_phantom", F.lit(False)).unionByName(phantoms)
    w = Window.partitionBy("vendor_id", "_b").orderBy(
        "tpep_pickup_datetime", "tpep_dropoff_datetime"
    )
    paired = unioned.select(
        "vendor_id",
        "tpep_pickup_datetime",
        "tpep_dropoff_datetime",
        "_phantom",
        F.lag("tpep_pickup_datetime").over(w).alias("_prev_pickup"),
        F.lag("tpep_dropoff_datetime").over(w).alias("_prev_dropoff"),
    ).filter(~F.col("_phantom"))
    gap_ok = (
        F.unix_millis(F.col("tpep_pickup_datetime"))
        - F.unix_millis(F.col("_prev_dropoff"))
    ) < (gap_minutes * 60 * 1000)
    return paired.filter(F.col("_prev_dropoff").isNotNull() & gap_ok).select(
        "vendor_id",
        ts_fmt(F.col("_prev_pickup"), twelve_hour).alias("first_pickup"),
        ts_fmt(F.col("tpep_dropoff_datetime"), twelve_hour).alias("last_dropoff"),
        F.lit(2).alias("trips"),
    )
