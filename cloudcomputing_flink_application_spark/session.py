"""SparkSession factory with pinned semantics.

Pins the semantics the reference relies on implicitly:

- UTC session timezone: the reference parses/format timestamps with
  ``SimpleDateFormat`` forced to UTC (CongestionArea.java:78-82,
  SaturatedVendor.java:109-113).  All event-time windowing below assumes it.
- AQE on: runtime partition coalescing + skew-join handling replace the
  hand-tuned parallelism the reference hard-codes (``setParallelism(1)``).
- Arrow on: every Pandas-UDF operator (multimodal decode) rides the
  vectorized Arrow path.

Scale note: ``shuffle_partitions`` defaults to the usable core count; on
a real cluster this is overridden (AQE coalesces down from a deliberately
high initial number, so the same code runs unchanged at 100 TB).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``local[N]`` width and shuffle partitions: ``SPARK_GRAFT_CPUS``, else the
#: cores this process may run on (a stateful stream freezes its partition
#: count into its checkpoint, so an oversized default sticks).
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "cloudcomputing_flink_application_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Every knob here is a scale decision, not a convenience:
    partial aggregation, whole-stage codegen, and broadcast joins are all
    Catalyst defaults we rely on; AQE re-plans shuffles at runtime so the
    same logical plans hold from sf0.001 up to cluster scale.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing target (r14 optimization round, guide §2.2/§9):
        # parameterized, DEFAULT UNCHANGED (Spark's 64m) — an interleaved
        # 64m/256m/16m A/B at sf0.1 showed no signal (the local datasets
        # coalesce to a handful of partitions under any target), so a
        # different local default would be an untestable claim.  At
        # cluster scale set 256m via the env: post-shuffle partitions in
        # the 100 MB-1 GB band cut the quadratic shuffle-block growth
        # (guide §2.2) and the per-task scheduling floor.
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "64m"),
        )
        # Prefer shuffled-hash over sort-merge when the planner's size
        # conditions hold (r14 optimization round, guide §3.1/§9): both
        # sides of the CC loop's exceptAll and several equi-joins were
        # paying per-partition sorts a hash build avoids — measured
        # −8..18% on the CC/purge family at sf0.1.  Scale stance: the
        # planner only picks SHJ when one side's ESTIMATE fits a
        # per-partition hash map (< autoBroadcastJoinThreshold x shuffle
        # partitions) and is 3x smaller than the other; AQE skew-join
        # stays on for the residual risk, and SPARK_GRAFT_PREFER_SMJ=true
        # restores the sort-merge default for cluster profiles where
        # estimates are untrustworthy.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # Driver testdata stores TIMESTAMP(NANOS) parquet, which Spark's
        # vectorized reader rejects; read as epoch-nanos longs and convert
        # with exact integer division (sources.readers.read_events).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        # Plan STRINGS are diagnostics, not semantics — bound them (r13,
        # the r12 semantic-family OOM's true mechanism): a composed
        # pipeline's plan is a DAG whose shared subtrees re-render at
        # every reference when Spark tree-prints it for the execution
        # listener, so a deep composition (clean -> purge -> semantic
        # restriction -> banding -> CC) can OOM the driver generating a
        # multi-GB string at the default ~2 GiB limit before a single
        # task runs.  1 MB keeps every explain/pin readable and makes
        # plan rendering O(bounded) at any composition depth — a driver
        # that survives 100 TB plans must not die on their description.
        .config("spark.sql.maxPlanStringLength", "1m")
        # ... and the status store must not RETAIN a thousand of them:
        # every action is an execution, an iterative operator (CC) runs
        # dozens per job, and each retained record carries its plan
        # description — 1000 x ~MB descriptions is a driver-heap leak
        # measured at ~300 MB per composed job (r13).  50 is plenty for
        # any debugging session.
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
