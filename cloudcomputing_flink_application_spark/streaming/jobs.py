"""Structured Streaming variants of the five reference queries, and the
incremental (``foreachBatch``) jobs of the LLM-data operators.

The reference runs these as always-on Flink DataStream jobs; here the same
logical plans run incrementally:

- Q-SPEED: stateless filter/project — identical operator, streaming input.
- Q-CONG: watermarked 1-day tumbling window aggregation (append mode) —
  Spark's partial-agg + state store replaces the reference's parallelism-1
  ``windowAll`` (CongestionArea.java:60) with a fully parallel plan.
- Q-ACC / Q-AVGSPD / Q-SAT: the oracle-pinned batch operators
  (``operators.telematics``, ``operators.taxi``) over each key's carried
  tail plus the new rows.

Every ``foreachBatch`` job — the three tail queries and the dedup, span,
decontamination, cleaning, profiling and ANN-index jobs — is a step
function run by one driver, :func:`_run_incremental`, which owns the
exactly-once contract and states it.  A job declares its sinks and state
stores (:class:`_Store`); its step reads and writes them only through the
batch handle the driver passes it.

Watermark policy: ``0 seconds`` everywhere — the reference's
AscendingTimestampExtractor admits zero lateness (SURVEY.md §2.3); late rows
drop, matching Flink's behavior on the course data.  The tail queries assume
the same: each key's rows arrive in ascending event time.

O3 (one job, three sinks — VehicleTelematics.java:179-181):
``run_telematics_job`` starts the three telematics queries against one input
directory and returns their handles; each keeps its own checkpoint.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cloudcomputing_flink_application_spark.operators.taxi import saturated_vendors
from cloudcomputing_flink_application_spark.operators.telematics import (
    ACCIDENT_RUN,
    SEG_END,
    SEG_START,
    SPEED_LIMIT,
    accident_reports,
    average_speed_fines,
    speed_radar,
)

# --- Q-SPEED -----------------------------------------------------------------


def speed_radar_stream(cars: DataFrame, speed_limit: int = SPEED_LIMIT) -> DataFrame:
    """Stateless: the batch operator works unchanged on a streaming frame."""
    return speed_radar(cars, speed_limit)


# --- Q-CONG ------------------------------------------------------------------


def congestion_daily_stream(trips: DataFrame) -> DataFrame:
    """Watermarked 1-day tumbling aggregation (append mode).

    Exact integer-cents average as in the batch operator; windows emit when
    the watermark passes day end (zero lateness, per the reference).
    """
    from cloudcomputing_flink_application_spark.functions.scalar import avg_half_up_cents

    surcharged = (
        trips.withWatermark("tpep_pickup_datetime", "0 seconds")
        .filter(F.col("congestion_surcharge") > 0.0)
    )
    return (
        surcharged.groupBy(F.window("tpep_pickup_datetime", "1 day").alias("win"))
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


# --- the incremental driver ---------------------------------------------------


@dataclass(frozen=True)
class _Store:
    """A sink or state store of an incremental job, as the driver sees it.

    - ``path``: the store root.
    - ``first``: the stream's first partition; batch ``b`` writes partition
      ``b + first``.  It is 1 for the index stores whose ``batch_id=0`` is
      the batch build pass's foundation, which the stream never touches.
    - ``horizon``: how many partitions before the current one a batch reads
      and keeps (``current``: counting the current one); older stream
      partitions are pruned.  ``None`` keeps every partition.
    - ``locked``: a forget, build or compaction lock on the store fences
      the job (:func:`_forget_guard`).
    - ``layout``: ``"parquet"`` — ``batch_id=K`` partitions written with
      dynamic partition overwrite; ``"snapshot"`` — ``batch_id=K`` dirs each
      written whole (an empty one included), and a batch requires the
      previous one; ``"csv"`` — flat headerless ``part-K`` files, so a plain
      ``spark.read.csv(path)`` sees every batch's rows with the query's own
      columns.
    """

    path: str
    first: int = 0
    horizon: int | None = None
    current: bool = False
    locked: bool = False
    layout: str = "parquet"


class _Batch:
    """One micro-batch's handle on its job's stores."""

    def __init__(self, spark, batch_id: int, checkpoint_dir: str):
        self.spark, self.id, self._checkpoint_dir = spark, batch_id, checkpoint_dir

    def read(self, store: _Store, schema=None) -> DataFrame | None:
        """The store's committed partitions before this batch's, within its
        horizon (``None`` when the store has no committed data).

        A snapshot store yields the previous batch's partition (``None`` at
        batch 0), read with ``schema`` when given, and raises when it is
        missing: the state it carried is lost."""
        p = self.id + store.first
        if store.layout == "snapshot":
            if self.id == 0:
                return None
            prev = f"{store.path}/batch_id={p - 1}"
            if not _hadoop_path_exists(self.spark, prev):
                raise RuntimeError(
                    f"{prev} is missing: the state carried out of batch "
                    f"{self.id - 1} is lost, so batch {self.id} cannot be "
                    "computed exactly"
                )
            reader = self.spark.read if schema is None else self.spark.read.schema(schema)
            return reader.parquet(prev)
        if not _committed_batch_data_exists(self.spark, store.path):
            return None
        rows = self.spark.read.parquet(store.path).filter(F.col("batch_id") < p)
        if store.horizon is not None:
            rows = rows.filter(F.col("batch_id") >= p + store.current - store.horizon)
        return rows

    def with_prior(self, store: _Store, part: DataFrame) -> DataFrame:
        """``part`` plus the store's :meth:`read` rows, in ``part``'s columns."""
        prior = self.read(store)
        return part if prior is None else part.unionByName(prior.select(*part.columns))

    def write(self, store: _Store, df: DataFrame) -> None:
        """Write ``df`` as this batch's partition of ``store``, replacing
        whatever an earlier attempt of the batch wrote there."""
        p = self.id + store.first
        if store.layout == "csv":
            _write_csv_part(df, store.path, p, f"{self._checkpoint_dir}/staging")
        elif store.layout == "snapshot":
            df.write.mode("overwrite").parquet(f"{store.path}/batch_id={p}")
        else:
            _write_batch_partition(df, p, store.path)


def _run_incremental(source: DataFrame, checkpoint_dir: str, stores, step):
    """Start ``source`` as a ``foreachBatch`` query that runs
    ``step(batch, handle)`` on every micro-batch, with exactly-once sinks.

    The contract is Structured Streaming's (SIGMOD 2018): the offset log in
    ``checkpoint_dir`` fixes each batch's input, so a batch that fails or
    is cut before its commit re-runs on the same rows under the same
    ``batch_id``.  Exactly-once output then needs every write to be
    idempotent per ``batch_id`` and every read to see only what earlier
    batches committed.  The driver provides both, for every store in
    ``stores``, before and around ``step``:

    - **Forget lock.** A lock marker on a ``locked`` store (a compliance
      deletion, index rebuild or compaction in progress or crashed) stops
      the query; absent one, a half-done store swap is healed first, so
      crash debris never reads as an empty store (:func:`_forget_guard`).
    - **Batch-0 prune.** Batch 0 deletes every stream partition (``>=
      first``): a run under another checkpoint renumbers from 0, and its
      higher partitions would otherwise linger as stale rows.  On a replay
      of batch 0 no later partition exists yet.
    - **Horizon prune.** At batch start, stream partitions older than the
      store's horizon are deleted.  The read below never reaches under
      that cutoff, so a replayed batch still sees all it read the first
      time.
    - **Read.** ``handle.read(store)`` returns only partitions below the
      current one, within the horizon, and ``None`` when the store holds
      no committed data file.  So a replay never sees its own half-written
      partition, and a first batch that crashed mid-write (leaving only
      ``_temporary`` content) reads as a first batch instead of wedging
      every retry.  Any other read failure propagates.
    - **Write.** ``handle.write(store, df)`` replaces the batch's own
      partition (dynamic partition overwrite, a whole-dir overwrite, or a
      staged rename for a CSV part), so a replay never duplicates rows.

    Each store's horizon is validated here, when the job is wired, not in
    the first micro-batch.  The step holds the job's own logic only.
    """
    for store in stores:
        _check_horizon(store.horizon)
    locked = [s.path for s in stores if s.locked]

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        _forget_guard(spark, locked)
        for s in stores:
            if batch_id == 0:
                _drop_stale(spark, s)
            if s.horizon is not None:
                cutoff = batch_id + s.first + s.current - s.horizon
                _drop_partitions(spark, s.path, lo=s.first, below=cutoff)
        step(batch, _Batch(spark, batch_id, checkpoint_dir))

    return (
        source.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def _drop_stale(spark, store: _Store) -> None:
    """Delete every stream partition of ``store``; a CSV sink also loses a
    file-sink log (``_spark_metadata``) an earlier sink may have left,
    which would hide every part file not listed in it."""
    if store.layout != "csv":
        _drop_partitions(spark, store.path, lo=store.first)
        return
    for stale in (f"{store.path}/part-*", f"{store.path}/_spark_metadata"):
        fs, pattern = _fs_path(spark, stale)
        for st in fs.globStatus(pattern) or []:
            fs.delete(st.getPath(), True)


def _check_horizon(horizon_batches: int | None) -> None:
    """Fail fast on a meaningless horizon: 0 or negative would silently
    disable every cross-batch probe while pruning state at or ahead of the
    current batch — a job that 'succeeds' with globally undeduped output."""
    if horizon_batches is not None and horizon_batches < 1:
        raise ValueError(
            f"horizon_batches must be >= 1 (got {horizon_batches}); "
            "omit it for unbounded state"
        )


def _fs_path(spark, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _hadoop_path_exists(spark, path: str) -> bool:
    """Explicit FS existence probe (works for local paths and cluster FS)."""
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p))


def _batch_partitions(spark, path: str) -> list:
    """``(K, Path)`` for every ``batch_id=K`` partition dir under ``path``."""
    fs, pattern = _fs_path(spark, path.rstrip("/") + "/batch_id=*")
    return [
        (int(st.getPath().getName().split("=", 1)[1]), st.getPath())
        for st in fs.globStatus(pattern) or []
    ]


def _drop_partitions(spark, path: str, lo: int = 0, below: int | None = None) -> None:
    """Delete the ``batch_id=K`` partitions under ``path`` with
    ``lo <= K < below`` (every one from ``lo`` up when ``below`` is None)."""
    fs, _ = _fs_path(spark, path)
    for k, p in _batch_partitions(spark, path):
        if k >= lo and (below is None or k < below):
            fs.delete(p, True)


def _committed_batch_data_exists(spark, path: str) -> bool:
    """True iff ``path`` holds at least one COMMITTED batch-partition data
    file (``batch_id=*/part-*``): a dir holding only a crashed write's
    ``_temporary`` content reads as empty (see :func:`_run_incremental`)."""
    fs, pattern = _fs_path(spark, path.rstrip("/") + "/batch_id=*/part-*")
    matches = fs.globStatus(pattern)
    return matches is not None and len(matches) > 0


def _write_batch_partition(df: DataFrame, batch_id: int, path: str) -> None:
    """Rows land under ``batch_id=<N>/``; a rewrite of the same batch
    OVERWRITES only that partition (dynamic partition overwrite)."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def _write_csv_part(df: DataFrame, path: str, batch_id: int, staging: str) -> None:
    """Write ``df`` as one headerless CSV file ``<path>/part-<batch_id>``,
    staged under ``staging`` and renamed into place over any earlier one."""
    spark = df.sparkSession
    df.coalesce(1).write.mode("overwrite").csv(staging)
    fs, dst = _fs_path(spark, f"{path}/part-{batch_id}")
    _, written = _fs_path(spark, f"{staging}/part-*")
    fs.mkdirs(dst.getParent())
    fs.delete(dst, False)
    for st in fs.globStatus(written) or []:
        if not fs.rename(st.getPath(), dst):
            raise IOError(f"rename {st.getPath()} -> {dst} failed")
    fs.delete(written.getParent(), True)


# --- Q-ACC / Q-AVGSPD / Q-SAT: batch operators over a carried tail --------------
#
# Each of these queries is causal per key: an output row depends only on rows
# at or before the row that fires it, and only on a bounded set of them (the
# query's TAIL).  So a micro-batch can run the oracle-pinned batch operator
# over the previous batch's tail plus its own rows; outputs fired at tail rows
# are exactly ``op(tail)``, which the batch subtracts as a multiset.


def _last_rows(df: DataFrame, key: str, order: list[str], n: int) -> DataFrame:
    """The last ``n`` rows per ``key``, ordered by ``order`` ascending."""
    w = Window.partitionBy(key).orderBy(*(F.col(c).desc() for c in order))
    return df.withColumn("_r", F.row_number().over(w)).filter(F.col("_r") <= n).drop("_r")


def _accidents_tail(cars: DataFrame) -> DataFrame:
    """Q-ACC reads at most ``ACCIDENT_RUN - 1`` earlier rows per vid."""
    return _last_rows(cars, "vid", ["time"], ACCIDENT_RUN - 1)


def _avgspd_tail(cars: DataFrame) -> DataFrame:
    """Q-AVGSPD's running reduce and transition test read, per vid, three
    measured rows: the max-pos seg-52 row and the min-pos seg-56 row (each
    earliest on pos ties, as the reduce keeps them) and the last row (its
    seg is the next row's ``lag``)."""
    measured = cars.filter((F.col("dir") == 0) & F.col("seg").isin(SEG_START, SEG_END))
    pos = F.col("pos")
    best = Window.partitionBy("vid", "seg").orderBy(
        F.when(F.col("seg") == SEG_START, -pos).otherwise(pos), "time"
    )
    last = Window.partitionBy("vid").orderBy(F.col("time").desc())
    return (
        measured.withColumn("_b", F.row_number().over(best))
        .withColumn("_l", F.row_number().over(last))
        .filter((F.col("_b") == 1) | (F.col("_l") == 1))
        .drop("_b", "_l")
    )


def _saturated_tail(trips: DataFrame) -> DataFrame:
    """Q-SAT pairs each trip with the previous one of its vendor."""
    return _last_rows(trips, "vendor_id", ["tpep_pickup_datetime", "tpep_dropoff_datetime"], 1)


def _run_tail_stream(source: DataFrame, op, tail_of, path: str, checkpoint_dir: str):
    """Start a query that runs the batch operator ``op`` incrementally over
    ``source``.

    Batch ``b`` emits ``op(tail ∪ batch).exceptAll(op(tail))`` as CSV part
    ``<path>/part-<b>``, where the tail is ``tail_of`` applied to the
    previous batch's ``tail ∪ batch``.  The tail is a snapshot store with
    horizon 1 under ``<checkpoint_dir>/tail``: a replay of ``b`` reads
    snapshot ``b - 1``, and a lost one raises.
    """
    sink = _Store(path, layout="csv")
    tails = _Store(f"{checkpoint_dir}/tail", horizon=1, layout="snapshot")

    def step(batch: DataFrame, ctx: _Batch) -> None:
        tail = ctx.read(tails, schema=batch.schema)
        if tail is None:
            tail = ctx.spark.createDataFrame([], batch.schema)
        cur = tail.unionByName(batch).persist()
        try:
            ctx.write(sink, op(cur).exceptAll(op(tail)))
            ctx.write(tails, tail_of(cur))
        finally:
            cur.unpersist()

    return _run_incremental(source, checkpoint_dir, [sink, tails], step)


def accident_reports_stream(cars: DataFrame, path: str, checkpoint_dir: str):
    """Q-ACC as a started query writing CSV parts under ``path``: the batch
    ``accident_reports`` over the last 3 rows per vid plus each batch."""
    return _run_tail_stream(cars, accident_reports, _accidents_tail, path, checkpoint_dir)


def average_speed_fines_stream(cars: DataFrame, path: str, checkpoint_dir: str):
    """Q-AVGSPD as a started query writing CSV parts under ``path``: the
    batch ``average_speed_fines`` over each vid's reduce rows plus each
    batch.  Fires the tail rows alone produce were emitted before and are
    subtracted."""
    return _run_tail_stream(cars, average_speed_fines, _avgspd_tail, path, checkpoint_dir)


def saturated_vendors_stream(trips: DataFrame, path: str, checkpoint_dir: str):
    """Q-SAT as a started query writing CSV parts under ``path``: the batch
    ``saturated_vendors`` over each vendor's last trip plus each batch, so
    trips pair in (pickup, dropoff) order across batches exactly as in the
    batch window (SaturatedVendor.java:56-91 == countWindow(2,1))."""
    return _run_tail_stream(trips, saturated_vendors, _saturated_tail, path, checkpoint_dir)


# --- streaming dedup ---------------------------------------------------------


def exact_dedup_stream(documents: DataFrame) -> DataFrame:
    """Streaming exact dedup: emit only the first occurrence of each text.

    Built on Structured Streaming's stateful ``dropDuplicates`` keyed by the
    text's md5 — the streaming counterpart of ``operators.dedup.exact_dedup``.
    State is one 128-bit key per distinct document, kept forever (global
    dedup).  At production scale, bound state with
    ``dropDuplicatesWithinWatermark`` when an event-time column exists and
    the dedup horizon is finite.
    """
    return documents.select(
        "doc_id", F.md5(F.col("text")).alias("text_md5")
    ).dropDuplicates(["text_md5"])


def _refuse_unpartitioned_store(spark, path: str) -> None:
    """Refuse to operate on a store whose data files sit at the directory
    ROOT — the pre-r9 PQ codes layout (written unpartitioned before the
    store grew its streaming half).  Appending ``batch_id=N`` partitions
    into such a dir produces a mixed layout Spark's partition discovery
    rejects ("Conflicting directory structures"), and the anti-join
    rewrite would silently NO-OP (its committed-data glob matches only
    ``batch_id=*/part-*``) — a compliance deletion that "succeeds" while
    every row remains (r9 review catch).  Migration is the store's own
    encode pass: ``pq-index --encode-only`` over the FULL corpus
    statically rewrites it batch_id-partitioned."""
    fs, pattern = _fs_path(spark, path.rstrip("/") + "/part-*")
    if fs.globStatus(pattern):
        raise RuntimeError(
            f"{path} holds data files at the directory root (the "
            "unpartitioned pre-batch_id layout): mixing layouts would "
            "wedge the store and an id rewrite would silently no-op.  "
            "Re-encode the full corpus (pq-index --encode-only) to "
            "rewrite the store batch_id-partitioned, then re-run."
        )


def run_minhash_dedup_stream(
    spark,
    documents: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    bands_dir: str,
    horizon_batches: int | None = None,
):
    """Incremental MinHash-band near-dup detection over a document stream.

    ``foreachBatch`` pattern: per micro-batch, compute each doc's LSH band
    buckets (operators.dedup.band_rows — the same 16-perm/4-band pipeline as
    the batch family), flag docs whose buckets were already seen (in a prior
    batch, or by a smaller doc_id within this batch), then append this
    batch's buckets to the accumulated bucket store.  Emits
    (doc_id, is_dup) parquet to ``output_dir``.

    Contract: on doc_id-ordered arrival this equals the batch
    ``minhash_band_flags`` exactly (tests/test_streaming.py).  Scale: state
    is the bucket store — O(docs x bands) small rows, partitioned parquet;
    the per-batch probe is a leftsemi equi-join on (band, key), the same
    shape a cluster-size run keeps; candidate flags are high-recall by
    construction, with jaccard verification deferred to a batch pass
    (minhash_lsh_dedup / minhash_cluster_dedup) exactly as a production
    ingest dedup splits the work.

    ``horizon_batches`` bounds the state by TIME: the bucket-store probe
    reads only the trailing ``horizon_batches`` micro-batches, and older
    partitions are pruned — state becomes O(docs-in-horizon x bands)
    instead of O(all docs ever).  A micro-batch
    is the stream's time quantum (with a processing-time trigger the
    horizon IS a wall-clock window; this is the partitioned-parquet
    analogue of ``dropDuplicatesWithinWatermark`` aging its hash state
    past the event-time watermark).  Semantics become
    dedup-WITHIN-horizon: a doc is flagged iff a bucket-mate exists in
    the horizon window — the contract production ingest dedup actually
    wants once the corpus outlives executor state (streaming == batch-
    over-the-window pinned in tests/test_streaming.py).
    """
    from cloudcomputing_flink_application_spark.operators.dedup import band_rows

    out = _Store(output_dir)
    bands = _Store(bands_dir, horizon=horizon_batches, locked=True)

    def step(batch_df: DataFrame, ctx: _Batch) -> None:
        b = band_rows(batch_df).persist()
        try:
            # bucket-min via groupBy + join back (partial agg on a possibly
            # hot bucket; a min-over-window would concentrate it on one task)
            mins = b.groupBy("band", "key").agg(F.min("doc_id").alias("_m"))
            within = (
                b.join(mins, ["band", "key"])
                .filter(F.col("doc_id") > F.col("_m"))
                .select("doc_id")
            )
            seen = ctx.read(bands)
            if seen is not None:
                prior = b.join(
                    seen.select("band", "key"), ["band", "key"], "leftsemi"
                ).select("doc_id")
                dup_ids = within.union(prior)
            else:  # first batch: no bucket store yet
                dup_ids = within
            flags = (
                batch_df.select("doc_id")
                .join(
                    dup_ids.distinct().withColumn("_d", F.lit(True)),
                    "doc_id",
                    "left",
                )
                .select(
                    "doc_id", F.coalesce(F.col("_d"), F.lit(False)).alias("is_dup")
                )
            )
            ctx.write(out, flags)
            # Store PER-DOC band rows (r7: was distinct (band, key)): the
            # probe still reads only (band, key), but keeping doc_id makes
            # the store FORGETTABLE — forget_docs_minhash drops a doc's
            # rows while every other doc's rows keep their buckets live
            # (the distinct form shared liveness across docs, so deletion
            # was impossible without re-deriving from text).  State grows
            # from O(distinct buckets) to O(docs x bands) — the same bound
            # the purge stream's band store already carries.
            ctx.write(bands, b.select("doc_id", "band", "key"))
        finally:
            b.unpersist()

    return _run_incremental(documents, checkpoint_dir, [out, bands], step)


def run_span_flags_stream(
    spark,
    documents: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    w: int | None = None,
    horizon_batches: int | None = None,
):
    """Incremental exact-substring (duplicated-span) detection over a
    document stream — the streaming twin of the batch span family
    (``pipeline.dup_span_stats``'s duplicated-start set).

    Per micro-batch: compute each doc's token-window rows (the shared
    ``pipeline._span_window_rows`` — same tokenizer, same md5 window key
    as batch), then emit every window POSITION ``(doc_id, p)`` that is
    duplicated: seen within this batch (>= 2 occurrences), seen in the
    accumulated first-occurrence store, or — the retroactive case — a
    STORED first occurrence whose hash just got its second copy (span
    duplication is symmetric: when the twin arrives, the original's
    position becomes duplicated too, and is emitted in THIS batch's
    partition).  Unbounded mode keeps one store row per distinct window
    hash (its first stream position) — the minimal exact state; nothing
    retracts, counts only grow, so no corpus text is ever stored.
    Horizon mode instead stores each batch's first position of every
    hash it contains (already-seen hashes included): a hash's liveness
    must refresh while it keeps arriving, or its only store row would
    age out with the old partition and later in-horizon twins would go
    unflagged.

    Output contract (pinned in tests/test_streaming.py): the DISTINCT
    union of emitted positions after batch N equals the batch operator's
    duplicated-start set over the first N batches' documents.  Because a
    hash's stored first position is re-emitted whenever the hash recurs,
    positions may repeat ACROSS partitions — each partition is
    internally distinct, and the cumulative result is a set union (the
    idempotent form; per-doc stats are an aggregation of this set, as in
    the batch operator).

    ``horizon_batches`` bounds the store to the trailing N
    micro-batches (duplication-WITHIN-horizon: a position is flagged iff
    a hash twin exists inside the window; state becomes one row per
    (batch in horizon, distinct hash in that batch) — O(window hashes)).
    """
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        DUP_SPAN_W,
        _span_window_rows,
    )

    width = DUP_SPAN_W if w is None else w
    if width < 1:
        raise ValueError(f"w must be >= 1 (got {width})")
    out = _Store(output_dir)
    firsts_store = _Store(store_dir, horizon=horizon_batches, locked=True)

    def step(batch_df: DataFrame, ctx: _Batch) -> None:
        rows = _span_window_rows(batch_df, width).persist()
        try:
            # groupBy + semi-join, not count-over-window: partial agg
            # collapses a boilerplate hot hash map-side and AQE can split
            # the skewed probe partition (same r6-VERDICT fix as the batch
            # _dup_span_starts).
            dup_h = (
                rows.groupBy("h")
                .agg(F.count("*").alias("_c"))
                .filter(F.col("_c") >= 2)
                .select("h")
            )
            within = rows.join(dup_h, "h", "leftsemi").select("doc_id", "p")
            seen_h = None
            stored = ctx.read(firsts_store)
            if stored is not None:
                store = stored.select(
                    "h",
                    F.col("doc_id").alias("_sd"),
                    F.col("p").alias("_sp"),
                )
                matched = rows.join(store, "h")
                dup = within.unionByName(
                    matched.select("doc_id", "p")
                ).unionByName(
                    matched.select(
                        F.col("_sd").alias("doc_id"), F.col("_sp").alias("p")
                    )
                )
                seen_h = store.select("h")
            else:  # first batch: no store yet
                dup = within
            ctx.write(out, dup.distinct())
            # Store the first position (min (doc_id, p) within the batch)
            # of every hash this batch contains.  Unbounded mode anti-joins
            # out hashes already stored (one row per distinct hash ever —
            # minimal state); horizon mode must NOT: an already-seen hash
            # needs a fresh row in the current partition, or its liveness
            # ages out with the old partition and a later in-horizon twin
            # finds nothing to match (duplication-within-horizon would
            # silently under-flag).
            firsts = rows
            if seen_h is not None and horizon_batches is None:
                firsts = rows.join(seen_h, "h", "left_anti")
            # min-struct aggregate == row_number()==1 over (doc_id, p),
            # with map-side partial agg on a possibly-hot hash.
            first_rows = (
                firsts.groupBy("h")
                .agg(F.min(F.struct("doc_id", "p")).alias("_m"))
                .select("h", F.col("_m.doc_id").alias("doc_id"), F.col("_m.p").alias("p"))
            )
            ctx.write(firsts_store, first_rows)
        finally:
            rows.unpersist()

    return _run_incremental(documents, checkpoint_dir, [out, firsts_store], step)


def run_decontam_stream(
    spark,
    documents: DataFrame,
    bench_docs: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
):
    """Streaming benchmark decontamination: corpus docs stream in, the
    benchmark set is static.

    ``foreachBatch`` applies the exact batch operator
    (operators.pipeline.decontaminate) to ``static bench ∪ micro-batch``:
    each document's (n_shingles, n_overlap, contaminated) row depends only
    on itself and the broadcast benchmark shingle set, so the accumulated
    streaming output equals one batch run over the union of all batches —
    no cross-batch state at all.  ``bench_docs`` must be the benchmark
    slice (``doc_id % BENCH_MOD == 0``); benchmark docs arriving on the
    stream are ignored by the operator's own corpus filter, exactly as in
    batch.

    Scale: the per-batch plan is the batch plan — the bench side stays
    KB..MB broadcast at any corpus size; the stream side shuffles only the
    micro-batch.  Emits parquet rows to ``output_dir``, batch_id-partitioned.
    """
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        decontaminate,
    )

    out = _Store(output_dir)

    def step(batch_df: DataFrame, ctx: _Batch) -> None:
        ctx.write(out, decontaminate(bench_docs.unionByName(batch_df)))

    return _run_incremental(documents, checkpoint_dir, [out], step)


def run_purge_dedup_stream(
    spark,
    documents: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    horizon_batches: int | None = None,
    emit: str = "full",
    compact_every: int | None = None,
):
    """Incremental MinHash-LSH PURGE over a document stream — the streaming
    twin of ``operators.dedup.minhash_purge_dedup``, completing the
    incremental dedup story (band flags -> exact dedup -> full-closure
    purge).

    Per micro-batch: signatures/band rows/token sets are computed for the
    NEW docs only (never recomputed for old ones); star edges link each new
    doc to the min doc_id of every band bucket it lands in, where the
    bucket min comes from the accumulated band store restricted to the
    touched buckets; edges are jaccard-verified against the token-set
    store and appended; the purge table is then rebuilt from the
    ACCUMULATED (sparse) edge store with the exact batch closure
    (``purge_from_edges`` — large-star/small-star) and emitted complete
    per batch, so the LAST batch's partition IS the batch operator's
    output over the whole corpus.

    Contract: on doc_id-ordered arrival a band bucket's min is fixed by
    its FIRST member, so the accumulated edge set equals
    ``_verified_star_edges`` over the union of all batches exactly —
    accumulated == batch pinned in tests/test_streaming.py, including
    cross-batch duplicate chains.

    State & scale (PLANS.md): band store O(docs x bands) narrow rows,
    token-set store one hash-array row per doc (the verify input — what
    exactness costs; a time-horizoned deploy truncates both by age), edge
    store one row per verified near-dup pair (sparse).  The per-batch
    closure runs over the EDGE store only — near-dup pairs, not the
    corpus — which is why rebuild-per-batch stays cheap at any corpus
    size (measured sub-linear in SCALING.md for the batch closure).

    ``horizon_batches`` bounds the state by TIME, like the other two
    horizoned jobs — but purge under aging is NOT incrementally
    maintainable: a band bucket's min doc can age out while later bucket
    members survive, which RETRACTS stored star edges and creates new
    ones between survivors (edge maintenance under deletion is
    non-monotone).  So horizon mode switches the edge pass to a bounded
    WINDOW RECOMPUTE: tokenize and band-compute stay incremental (once
    per doc, at arrival — the expensive per-doc work), while star edges,
    jaccard verify, closure, and accounting rerun each batch over the
    trailing ``horizon_batches``+current window read from the
    band/token-set/stats stores, whose older partitions age out at batch
    start.  Per-batch cost is O(window), which is exactly what a horizon
    promises to bound; the edge store is not written or read in this
    mode (switching ``horizon_batches`` on an existing checkpoint is not
    supported).  Semantics become purge-WITHIN-horizon: each batch's
    partition equals ``minhash_purge_dedup`` over the window's union —
    pinned in tests/test_streaming.py, including a chain whose canonical
    doc ages out so cluster leadership passes to a younger survivor.

    ``emit="delta"`` (r8) switches the OUTPUT from the complete purge
    table per batch to changed rows only.  In unbounded mode the delta
    comes straight from the edge closure (``purge_delta_from_edges``:
    updated rep rows for TOUCHED clusters, one-time singleton rows,
    tombstones for absorbed former reps) — the emission shape the r8
    purge-batch decomposition motivated (SCALING.md): the full form's
    per-batch O(corpus) terms are exactly the re-emission of unchanged
    clusters.  In HORIZON mode (composable since r9 — r8 VERDICT #3:
    the old refusal claimed append-only deltas cannot express the window
    recompute's retractions, but a tombstone IS a retraction) the delta
    is the plain table diff (``_table_delta``): the current window's
    purge table vs the fold of the committed deltas — aged-out docs and
    displaced reps get tombstones, everything else emits only on change.
    Either way the current table is the fold of the deltas
    (:func:`purge_table_from_deltas`; fold == batch operator pinned in
    tests/test_streaming.py for both modes, including a cross-batch
    cluster merge whose displaced rep gets a tombstone and a horizon
    chain whose aged-out canonical gets one).  Switching ``emit`` on an
    existing checkpoint is not supported (like switching
    ``horizon_batches``): a full-mode prefix never tombstoned its
    displaced reps, so a delta fold over the mixed output would
    resurrect their stale rows — start delta mode with a fresh
    checkpoint and output dir.  Compliance deletion against a delta
    output MUST pass ``purge_dir`` to :func:`forget_docs` (the fold
    keeps forgotten rows alive otherwise; the CLI does this).

    ``compact_every=N`` (r9, delta mode only) bounds the last unbounded
    term delta mode left (r8 VERDICT #1): without it the read-time fold
    replays every delta partition since stream start.  Every N batches,
    at batch start, the committed delta history folds into ONE snapshot
    partition at its own max batch_id (``_compact_delta_partitions`` —
    the same fold-compatible shape ``_heal_purge_output`` writes), so
    the fold's input is at most N+1 partitions at any stream age.
    fold == batch across compactions is property-pinned at every prefix
    (tests/test_properties.py) and end-to-end with forget interleaved
    (tests/test_streaming.py); :func:`compact_purge_deltas` is the
    offline, stream-stopped equivalent.
    """
    from cloudcomputing_flink_application_spark.operators.dedup import (
        _token_sets,
        band_rows_from_toksets,
        cached_mark as dedup_cached_mark,
        jaccard_verified_edges,
        purge_delta_from_edges,
        purge_from_edges,
        release_cached as dedup_release_cached,
        star_edges_from_bands,
    )

    if emit not in ("full", "delta"):
        raise ValueError(f"emit must be 'full' or 'delta', got {emit!r}")
    if compact_every is not None:
        if emit != "delta":
            raise ValueError(
                "compact_every applies to emit='delta' only (a full-mode "
                "partition is already the complete table; consumers read "
                "the last one)"
            )
        if compact_every < 1:
            raise ValueError(
                f"compact_every must be >= 1 (got {compact_every}); "
                "omit it to keep the full delta history"
            )
    # the output is forget-locked too (r9): compaction swaps it through
    # the staging/backup dance, so batch start must heal a half-done swap
    # — and an offline compact_purge_deltas locks it, which the guard
    # turns into a loud stream refusal instead of interleaved writes.
    out = _Store(output_dir, locked=True)
    bands = _Store(f"{state_dir}/bands", horizon=horizon_batches, locked=True)
    toksets = _Store(f"{state_dir}/toksets", horizon=horizon_batches, locked=True)
    edges = _Store(f"{state_dir}/edges", locked=True)
    stats = _Store(f"{state_dir}/docstats", horizon=horizon_batches, locked=True)

    def step(batch_df: DataFrame, ctx: _Batch) -> None:
        spark = ctx.spark
        if ctx.id == 0:
            # Record the emission mode next to the output (sibling marker,
            # like the locks — survives swaps): offline compaction folds
            # latest-row-per-doc, which is WRONG over full-mode partitions
            # (they never tombstone displaced reps — the fold would
            # resurrect their stale rows and the swap would destroy the
            # valid per-batch tables), so compact_purge_deltas refuses
            # without this marker (r9 review catch).  A fresh-checkpoint
            # full-mode rerun over an old delta root clears it.
            _set_delta_marker(spark, output_dir, emit == "delta")
        elif compact_every is not None and ctx.id % compact_every == 0:
            # In-stream compaction, at batch START so only COMMITTED
            # partitions (< batch_id) fold — a crashed prior attempt of
            # THIS batch may have left its own partition, which the
            # below= cutoff excludes (it is rewritten later this call).
            # Idempotent under replay: folding a snapshot yields the
            # snapshot.
            _compact_delta_partitions(spark, output_dir, below=ctx.id)

        # tokenize ONCE per micro-batch: the persisted token sets feed both
        # the band pipeline and the jaccard verify (mirrors the batch
        # twin's shared-tokset plan)
        toks = _token_sets(batch_df).persist()
        b = band_rows_from_toksets(toks).persist()
        edges_new = None
        cache_mark = None
        try:
            batch_stats = batch_df.select("doc_id", "n_chars")
            if horizon_batches is not None:
                # Bounded WINDOW RECOMPUTE (see docstring): per-doc prep is
                # read back from the stores; star + verify + closure rerun
                # over the trailing window, so aged-out bucket mins and
                # retracted edges can never leave stale state behind.
                wb = ctx.with_prior(bands, b.select("doc_id", "band", "key"))
                wtoks = ctx.with_prior(toksets, toks)
                all_stats = ctx.with_prior(stats, batch_stats)
                window_edges = jaccard_verified_edges(
                    star_edges_from_bands(wb), wtoks
                ).select("doc_id", "rep")
                purge = purge_from_edges(window_edges, all_stats)
                locals_cached = []
                try:
                    if emit == "delta":
                        # horizon x delta (r9, r8 VERDICT #3): the window
                        # recompute RETRACTS rows on aging — and a
                        # tombstone IS a retraction, so the delta is the
                        # plain table diff: current window table vs the
                        # fold of the committed deltas.  Both sides are
                        # O(window) (the horizon's bound), read/written
                        # once -> persisted for the diff's two branches.
                        # With compact_every the fold input is bounded
                        # too — the fully bounded mode: O(window) state,
                        # O(changed) writes, O(compact_every) fold.
                        purge = purge.persist()
                        emitted = ctx.read(out)
                        prev = (
                            _fold_deltas(emitted)
                            if emitted is not None
                            else spark.createDataFrame(
                                [],
                                "doc_id LONG, n_members LONG, "
                                "chars_saved LONG",
                            )
                        ).persist()
                        locals_cached = [purge, prev]
                        out_rows = _table_delta(purge, prev)
                    else:
                        out_rows = purge
                    ctx.write(out, out_rows)
                    ctx.write(bands, b.select("doc_id", "band", "key"))
                    ctx.write(toksets, toks)
                    ctx.write(stats, batch_stats)
                finally:
                    for df in locals_cached:
                        df.unpersist()
                return
            prior_bands = ctx.read(bands)
            if prior_bands is not None:
                touched = b.select("band", "key").distinct()
                allb = b.select("doc_id", "band", "key").unionByName(
                    prior_bands.select("doc_id", "band", "key").join(
                        touched, ["band", "key"], "leftsemi"
                    )
                )
            else:
                allb = b.select("doc_id", "band", "key")
            star = star_edges_from_bands(allb).join(
                # only NEW docs gain edges this batch: old docs' reps are
                # fixed under ordered arrival and already stored
                b.select("doc_id").distinct(),
                "doc_id",
                "leftsemi",
            )
            all_toks = ctx.with_prior(toksets, toks)
            edges_new = (
                jaccard_verified_edges(star, toks, all_toks)
                .select("doc_id", "rep")
                .persist()
            )
            all_edges = ctx.with_prior(edges, edges_new)
            all_stats = ctx.with_prior(stats, batch_stats)
            if emit == "delta":
                # the emitter _persist()s its members/touched frames
                # (multi-branch reuse); the finally below releases them
                # SCOPED to this mark, so per-batch cache entries never
                # accumulate across the stream's lifetime and caches
                # another operator/stream in the session persisted are
                # never clobbered (r8 review catch)
                cache_mark = dedup_cached_mark()
                purge = purge_delta_from_edges(
                    all_edges, all_stats, batch_df.select("doc_id")
                )
            else:
                purge = purge_from_edges(all_edges, all_stats)
            ctx.write(out, purge)
            ctx.write(bands, b.select("doc_id", "band", "key"))
            ctx.write(toksets, toks)
            ctx.write(edges, edges_new)
            ctx.write(stats, batch_stats)
        finally:
            b.unpersist()
            toks.unpersist()
            if edges_new is not None:
                edges_new.unpersist()
            if cache_mark is not None:
                dedup_release_cached(since=cache_mark)

    return _run_incremental(
        documents, checkpoint_dir, [bands, toksets, edges, stats, out], step
    )


def _replace_dir(spark, src: str, dst: str) -> None:
    """Swap ``src`` into ``dst`` via rename-to-backup (never
    delete-then-rename: a crash between those two would lose the store
    with the survivors stranded in the staging dir, and a rerun would
    silently treat the missing store as empty).  Every intermediate crash
    state is recoverable by :func:`_recover_swap`."""
    fs, p_dst = _fs_path(spark, dst)
    _, p_src = _fs_path(spark, src)
    _, p_bak = _fs_path(spark, dst.rstrip("/") + ".forget_bak")
    if fs.exists(p_dst) and not fs.rename(p_dst, p_bak):
        raise IOError(f"rename {dst} -> backup failed")
    if not fs.rename(p_src, p_dst):
        raise IOError(f"rename {src} -> {dst} failed")
    if fs.exists(p_bak):
        fs.delete(p_bak, True)
    # Invalidate any CACHED reader of the swapped store: a session that
    # persisted a frame over this path (the from-index search persists
    # its joined index rows for the auto-sizing stats pass) would
    # otherwise keep serving the pre-swap rows — a forgotten vector
    # reappearing in search results is a compliance bug, not just
    # staleness (r11: surfaced the day BOTH store reads landed in one
    # persisted frame; before that the fresh half of the inner join
    # masked the cached half).
    spark.catalog.refreshByPath(dst)


def _recover_swap(spark, dst: str) -> None:
    """Roll back a swap a previous ``forget_docs`` crash left half-done:
    restore the backup when the destination is missing (crash between the
    two renames), drop a stale backup otherwise (crash before the final
    cleanup), and always discard a leftover staging dir — its contents
    were computed for a possibly different id set."""
    fs, p_dst = _fs_path(spark, dst)
    _, p_bak = _fs_path(spark, dst.rstrip("/") + ".forget_bak")
    _, p_tmp = _fs_path(spark, dst.rstrip("/") + ".forget_tmp")
    if fs.exists(p_bak):
        if not fs.exists(p_dst):
            if not fs.rename(p_bak, p_dst):
                raise IOError(f"backup restore of {dst} failed")
        else:
            fs.delete(p_bak, True)
    if fs.exists(p_tmp):
        fs.delete(p_tmp, True)


def _lock_of(store_dir: str) -> str:
    """The forget-lock marker is a SIBLING of the store dir (like
    ``.forget_bak``/``.forget_tmp``) — it must survive the dir swap."""
    return store_dir.rstrip("/") + ".forget_lock"


def _acquire_forget_locks(spark, dirs, owner: str = "forget/build") -> list[str]:
    """Create each store's lock marker; returns the locks THIS call created
    (an already-present lock means a prior forget crashed mid-rewrite —
    the re-run resumes under it and must not release it on early refusal).

    ``owner`` is written into the marker (best-effort, after the atomic
    claim) so a later maintenance op can tell WHOSE crashed lock it is
    looking at — compaction resumes under its own but must refuse a
    forget's (r9 review: releasing a crashed forget's lock on completion
    would drop the pending deletion silently)."""
    created = []
    for d in dirs:
        fs, p = _fs_path(spark, _lock_of(d))
        if fs.createNewFile(p):
            out = fs.create(p, True)
            try:
                out.write(bytearray(owner.encode("utf-8")))
            finally:
                out.close()
            created.append(d)
    return created


def _lock_owner(spark, store_dir: str) -> str:
    """The owner tag a lock marker records ('' when absent or written by
    a pre-r9 build, whose markers are empty).

    An empty tag is re-read a few times with a short wait (ADVICE r9):
    ``_acquire_forget_locks`` claims with an atomic ``createNewFile`` and
    writes the owner AFTER — portably unavoidable (an HDFS rename cannot
    overwrite the claim; a local rename-as-claim silently overwrites and
    breaks mutual exclusion), so a reader racing a LIVE claimer can catch
    the milliseconds between claim and tag.  The retry outlasts that gap;
    a marker still empty after it really is pre-r9 or a claimer that died
    before tagging, which is what callers' error messages describe."""
    fs, p = _fs_path(spark, _lock_of(store_dir))

    def read_once() -> str | None:
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            data = []
            b = stream.read()
            while b != -1 and len(data) < 64:
                data.append(b)
                b = stream.read()
        finally:
            stream.close()
        return bytes(data).decode("utf-8", errors="replace")

    owner = read_once()
    for _ in range(3):
        if owner is None or owner:
            # absent (released mid-race — report lock-free immediately,
            # a tag can never appear on a missing file; r10 review) or
            # already tagged: no wait either way
            break
        time.sleep(0.2)
        owner = read_once()
    return owner or ""


def _release_forget_locks(spark, dirs) -> None:
    for d in dirs:
        fs, p = _fs_path(spark, _lock_of(d))
        if fs.exists(p):
            fs.delete(p, False)


def _forget_guard(spark, dirs) -> None:
    """Batch-start guard for streams whose state a ``forget_docs``-style
    rewrite can touch (ADVICE r6, medium + low):

    - A present lock marker means a forget is IN PROGRESS or crashed
      mid-rewrite (the stores may be mutually inconsistent — e.g. bands
      rewritten, token sets not).  Refuse loudly: without this, a resumed
      stream would read a half-forgotten store — or, after a crash
      between ``_replace_dir``'s two renames, mistake the missing dir for
      an empty first-batch store and silently rebuild all accumulated
      dedup state from nothing.  Re-running the same forget heals and
      completes the rewrite, then releases the lock.
    - Absent the lock, heal any stray half-done swap (``.forget_bak``
      with the real dir missing) via :func:`_recover_swap`, so pre-lock
      crash debris can never read as "no state".

    The lock also closes the run-race: ``forget_docs`` creates the locks
    BEFORE its uncommitted-batch check, and a micro-batch writes its
    offset before ``process`` runs — so either the batch's offset lands
    first (the forget refuses) or the batch sees the lock here (the
    stream stops) — a mid-stream forget can never interleave with a
    batch's store reads/writes.
    """
    for d in dirs:
        fs, p = _fs_path(spark, _lock_of(d))
        if fs.exists(p):
            raise RuntimeError(
                f"forget-lock present at {_lock_of(d)}: a compliance "
                "deletion or index rebuild is in progress or crashed "
                "mid-rewrite.  Finish it before resuming the stream — "
                "re-run the same forget (idempotent, heals partial "
                "state); if this lock was left by a crashed index build, "
                "re-run the build (it overwrites the half-written "
                "artifact and releases the lock); if by a crashed "
                "store compaction (the marker records its owner), "
                "re-run the compaction (it rolls itself forward or "
                "back and releases the lock)."
            )
    for d in dirs:
        _recover_swap(spark, d)


def _refuse_uncommitted(spark, checkpoint_dir: str | None) -> None:
    """Refuse a state rewrite while the stream's checkpoint shows an
    uncommitted micro-batch: its at-least-once replay would rewrite store
    partitions from source data that still contains the forgotten docs."""
    if checkpoint_dir is None:
        return
    latest_offset = _latest_numbered(spark, f"{checkpoint_dir}/offsets")
    latest_commit = _latest_numbered(spark, f"{checkpoint_dir}/commits")
    if latest_offset > latest_commit:
        raise RuntimeError(
            f"checkpoint {checkpoint_dir} has an uncommitted micro-batch "
            f"(offsets at {latest_offset}, commits at {latest_commit}): "
            "its replay would rewrite state from source data that still "
            "contains the forgotten docs.  Resume the stream to commit "
            "the in-flight batch, stop it, then forget."
        )


def _rewrite_minus(spark, path: str, ids_df, key: str = "doc_id") -> None:
    """Rewrite a batch_id-partitioned store minus the given ``key`` ids:
    static overwrite of a STAGING dir (never the dir being read) then
    swap, so partitions emptied by the deletion disappear (dynamic
    overwrite of the original would leave them)."""
    if not _committed_batch_data_exists(spark, path):
        return
    df = spark.read.parquet(path)
    kept = df.join(ids_df, key, "left_anti")
    tmp = path.rstrip("/") + ".forget_tmp"
    kept.write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
    _replace_dir(spark, tmp, path)


def _latest_numbered(spark, path: str) -> int:
    """Highest integer-named entry under ``path`` (-1 when none) — the
    layout of a Structured Streaming checkpoint's offsets/ and commits/."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return -1
    best = -1
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.isdigit():
            best = max(best, int(name))
    return best


def purge_table_from_deltas(
    spark, output_dir: str, below: int | None = None
) -> DataFrame:
    """The current purge table from a ``run_purge_dedup_stream(...,
    emit="delta")`` output: latest row per doc_id across the batch
    partitions, tombstones (``n_members = 0``) dropped.  ``below``
    restricts the fold to partitions with ``batch_id < below`` (the
    in-stream compactor's committed-only window; consumers omit it).

    Equals :func:`operators.dedup.purge_from_edges` over the same
    accumulated edges/stats — i.e. the full-emission stream's last
    partition — pinned in tests/test_streaming.py.

    Scale: ``max_by`` under a groupBy is a map-side partial aggregate
    keyed by doc_id (no window, no whole-store sort); the fold is what a
    consumer runs ONCE at read time, against per-batch emissions that
    stopped costing O(corpus) each.  The fold's INPUT is every delta
    partition since stream start — unbounded in stream age (the r8 open
    end) — unless the history is compacted: a snapshot partition is
    fold-compatible (latest-row rule: future deltas override it, never
    the reverse), so :func:`compact_purge_deltas` (or the stream's
    ``compact_every``) keeps the replay bounded without changing this
    function."""
    rows = spark.read.parquet(output_dir)
    if below is not None:
        rows = rows.filter(F.col("batch_id") < F.lit(below))
    return _fold_deltas(rows)


def _fold_deltas(rows: DataFrame) -> DataFrame:
    """Latest row per doc_id across delta partitions, tombstones dropped."""
    latest = rows.groupBy("doc_id").agg(
        F.max_by(F.struct("n_members", "chars_saved"), "batch_id").alias("_m")
    )
    return latest.filter(F.col("_m.n_members") > 0).select(
        "doc_id",
        F.col("_m.n_members").alias("n_members"),
        F.col("_m.chars_saved").alias("chars_saved"),
    )


def _delta_marker_path(output_dir: str) -> str:
    """Sibling marker recording that ``output_dir`` holds DELTA emissions
    (written by the stream's batch 0) — what offline compaction checks
    before folding, since a fold over full-mode partitions is wrong."""
    return output_dir.rstrip("/") + ".emit_delta"


def _set_delta_marker(spark, output_dir: str, is_delta: bool) -> None:
    fs, p = _fs_path(spark, _delta_marker_path(output_dir))
    if is_delta:
        fs.createNewFile(p)  # idempotent: false return when present is fine
    elif fs.exists(p):
        fs.delete(p, False)


def _table_delta(cur: DataFrame, prev: DataFrame) -> DataFrame:
    """The delta rows that turn the folded ``prev`` purge table into
    ``cur``: cur's new/changed rows (full-row anti-join) plus a
    ``(doc_id, 0, 0)`` tombstone for every doc present in prev but absent
    from cur — the retraction shape horizon aging needs (a doc whose
    window expired, or a rep displaced by the recompute).  Feeding the
    fold with these reproduces cur exactly: unchanged docs keep their
    prev row (== cur row), changed docs get a higher-batch override,
    absent docs fold to their tombstone.  Both inputs are purge tables
    over a horizon window — O(window) rows — so the two anti-joins are
    bounded by exactly what the horizon promises to bound."""
    changed = cur.join(
        prev, ["doc_id", "n_members", "chars_saved"], "left_anti"
    )
    gone = prev.join(cur.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id",
        F.lit(0).cast("long").alias("n_members"),
        F.lit(0).cast("long").alias("chars_saved"),
    )
    return changed.unionByName(gone)


def _compact_delta_partitions(
    spark, output_dir: str, below: int | None = None
) -> None:
    """Fold the delta partitions (all of them, or those with
    ``batch_id < below``) into ONE snapshot partition at the highest
    folded batch_id, dropping the older partitions.

    Correctness rests on the fold's latest-row-per-doc rule: the snapshot
    holds exactly the live rows the folded history resolves to, docs whose
    latest folded row was a tombstone have NO snapshot row (same as
    "dropped by the fold"), and every future delta lands at a strictly
    higher batch_id, so fold(snapshot ∪ later deltas) == fold(full
    history) — pinned across a compaction in tests/test_properties.py and
    end-to-end in tests/test_streaming.py.  Crash-safe via the same
    staging-dir + rename-to-backup swap as the forget rewrites
    (:func:`_replace_dir`); a half-done swap heals at the next
    :func:`_recover_swap` (batch start or re-run)."""
    snap_id = max(
        (
            k
            for k, _ in _batch_partitions(spark, output_dir)
            if below is None or k < below
        ),
        default=-1,
    )
    if snap_id < 0:
        return
    table = purge_table_from_deltas(spark, output_dir, below=below).withColumn(
        "batch_id", F.lit(snap_id)
    )
    tmp = output_dir.rstrip("/") + ".forget_tmp"
    table.write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
    _replace_dir(spark, tmp, output_dir)


def compact_purge_deltas(spark, output_dir: str, checkpoint_dir: str | None) -> None:
    """Offline compaction of a delta-mode purge output (run while the
    stream is STOPPED): replaces the whole delta history with one
    fold-equivalent snapshot partition at the current max batch_id, so
    the read-time fold's input stops growing with stream age — the delta
    mode's last unbounded term (r8 VERDICT #1).  The resumed stream
    appends at strictly higher batch_ids, so the fold contract is
    untouched; ``forget_docs(purge_dir=...)``'s heal writes the same
    snapshot shape, and compacting after a heal is a no-op fold of one
    partition.  The stream-owned alternative is
    ``run_purge_dedup_stream(..., compact_every=N)``.

    Same safety contract as the forget rewrites: a sibling lock on the
    output dir (the stream's per-batch guard refuses while it exists, so
    a concurrently resumed stream can never interleave), refusal while
    the checkpoint shows an uncommitted micro-batch (its replay would
    dynamic-overwrite the snapshot partition from pre-compaction rows),
    refusal unless the output carries the ``.emit_delta`` mode marker
    (folding FULL-mode partitions would resurrect displaced reps — r9
    review catch), and the rename-to-backup swap for crash recovery."""
    created = _acquire_forget_locks(spark, [output_dir])
    try:
        _refuse_uncommitted(spark, checkpoint_dir)
        if not _hadoop_path_exists(spark, _delta_marker_path(output_dir)):
            raise RuntimeError(
                f"{output_dir} is not marked as a delta-mode output "
                "(no .emit_delta sibling): a latest-row fold over "
                "FULL-mode partitions would resurrect displaced reps' "
                "stale rows and destroy the valid per-batch tables.  "
                "Compaction applies to emit='delta' streams only (the "
                "marker is written by the stream's batch 0; a pre-r9 "
                "delta root can be marked by touching the file after "
                "verifying its mode)."
            )
    except Exception:
        # refusal before any rewrite: release only the locks THIS call
        # created (a crashed prior compaction's lock must stay)
        _release_forget_locks(spark, created)
        raise
    _recover_swap(spark, output_dir)
    if _committed_batch_data_exists(spark, output_dir):
        _compact_delta_partitions(spark, output_dir)
    _release_forget_locks(spark, [output_dir])


def _compact_tmp_of(store_dir: str) -> str:
    return store_dir.rstrip("/") + ".compact_tmp"


def _compact_marker_glob(store_dir: str) -> str:
    return store_dir.rstrip("/") + ".compact_commit.*"


def _finish_compact(spark, store_dir: str, snap: int) -> None:
    """Complete a committed compaction (the marker exists, so the folded
    snapshot in ``.compact_tmp`` is complete): delete the store's stream
    partition dirs, move the snapshot in, drop marker + staging.  Every
    step is idempotent, so a crash anywhere re-runs to the same end
    state — the snapshot dir is skipped by the delete loop exactly when
    it has already been moved (the staging copy is gone)."""
    fs, p_tmp_snap = _fs_path(spark, f"{_compact_tmp_of(store_dir)}/batch_id={snap}")
    tmp_snap_exists = fs.exists(p_tmp_snap)
    for k, p in _batch_partitions(spark, store_dir):
        if k < 1 or k > snap:
            continue  # the build's foundation, or an uncommitted batch's
            # partition: not folded, left for its replay's overwrite
        if not tmp_snap_exists and k == snap:
            continue  # already the moved-in snapshot
        # a false return is a FAILED delete (same Hadoop boolean
        # convention as the rename below): proceeding would leave the
        # partition's rows duplicated in both the original dir and the
        # snapshot — raise with marker + staging intact (r9 review)
        if not fs.delete(p, True):
            raise IOError(
                f"delete of stream partition {p} failed during "
                "compaction roll-forward; marker and staging left in "
                "place — re-run the compaction"
            )
    if tmp_snap_exists:
        # a false return is a FAILED rename (the Hadoop API's error
        # signal): the staging snapshot is the only copy of the folded
        # rows now that the stream dirs are gone — raise with marker +
        # staging intact (the recoverable W2 state) instead of falling
        # through to the cleanup that would delete them (r9 review)
        _, p_snap = _fs_path(spark, f"{store_dir.rstrip('/')}/batch_id={snap}")
        if not fs.rename(p_tmp_snap, p_snap):
            raise IOError(
                f"rename of the compaction snapshot into {store_dir} "
                "failed; marker and staging left in place — re-run the "
                "compaction to roll forward"
            )
    _, p_markers = _fs_path(spark, _compact_marker_glob(store_dir))
    for st in fs.globStatus(p_markers) or []:
        fs.delete(st.getPath(), False)
    _, p_tmp = _fs_path(spark, _compact_tmp_of(store_dir))
    if fs.exists(p_tmp):
        fs.delete(p_tmp, True)
    # same cached-reader invalidation as _replace_dir: the fold replaced
    # the stream partitions' files, so a frame persisted over this path
    # must not keep serving (or recompute from) the deleted ones
    spark.catalog.refreshByPath(store_dir)


def _recover_compact(spark, store_dir: str) -> None:
    """Heal a crashed :func:`compact_batch_store`: with the commit marker
    present the staged snapshot is complete — roll FORWARD (finish the
    compaction); without it the staging dir (if any) is an incomplete
    write — roll BACK (drop it; the store was never touched, since store
    mutation starts only after the marker).  Called by compaction itself
    and by every other maintenance op on these stores before it reads
    them, so a half-compacted store is whole again before any rewrite."""
    fs, p_markers = _fs_path(spark, _compact_marker_glob(store_dir))
    markers = fs.globStatus(p_markers) or []
    if markers:
        snap = int(markers[0].getPath().getName().rsplit(".", 1)[1])
        _finish_compact(spark, store_dir, snap)
        return
    _, p_tmp = _fs_path(spark, _compact_tmp_of(store_dir))
    if fs.exists(p_tmp):
        fs.delete(p_tmp, True)


def compact_batch_store(spark, store_dir: str, checkpoint_dir: str | None) -> None:
    """Offline compaction of a batch_id-partitioned APPEND store (the
    IVF ``assignments`` / PQ ``codes`` layout), run while the encode /
    assign stream is STOPPED: fold all STREAM partitions
    (``batch_id >= 1``) into ONE partition at the current max batch_id.
    The build pass's ``batch_id=0`` foundation is never read or
    rewritten — the scan is partition-pruned to the stream dirs, so a
    run costs O(stream tail), not O(store) (r9 review catch; on a 100 TB
    store the foundation is the bulk of the data).

    Rows are untouched — these stores append disjoint per-vector rows,
    so compaction is pure layout.  What it bounds is the O(stream-age)
    directory/file count: after 10^4 micro-batches a reader lists 10^4
    partition dirs of small files — the file-count analogue of the
    purge delta history :func:`compact_purge_deltas` folds.  Output
    files are coalesced to one per ``maxPartitionBytes`` of STREAM data
    (narrow dependency — no shuffle).  Fewer than two stream partitions
    is a true no-op (nothing to fold; in particular the state right
    after a compaction, so a scheduled re-run costs a listing, not a
    rewrite).

    Invariants preserved:

    - a RESUMED stream (same checkpoint) appends at strictly higher
      batch_ids, so later appends never collide with the snapshot
      partition;
    - the fold is COMMITTED-BOUNDED: with ``checkpoint_dir`` given,
      only partitions of committed epochs (batch_id <= latest commit
      + 1) fold — an uncommitted in-flight batch's partition is left
      in place for its at-least-once replay to dynamic-overwrite, so
      compaction never needs to refuse that state (the refusal would
      be un-followable after a crashed compaction: the stream cannot
      commit the batch while the compaction's own lock fences it).
      ``checkpoint_dir=None`` folds everything — the caller asserts no
      uncommitted batch exists;
    - a FRESH-checkpoint stream's batch-0 prune drops the compacted
      partition exactly as it would have dropped the originals (stream
      rows re-append from the re-read input — the pre-compaction
      recovery semantics, unchanged);
    - forget rewrites (anti-join over the whole store) and every reader
      see identical rows before and after.

    Crash safety is a stage-mark-finish protocol rather than the forget
    rewrites' whole-dir swap (which would re-rewrite the foundation):
    the folded snapshot is STAGED outside the store, a commit marker
    (carrying the snapshot id in its name) is created atomically only
    after the staging write completes, and only then does store
    mutation begin.  :func:`_recover_compact` rolls an interrupted run
    back (no marker: drop staging, store untouched) or forward (marker:
    every stream row is in the staging snapshot — finish the delete/
    move).  The lock marker is owner-tagged: compaction RESUMES under
    its own crashed lock (heal + redo is the recovery, like the
    forgets), but REFUSES another op's — completing under a crashed
    forget's lock would release it with the pending deletion silently
    dropped."""
    created = _acquire_forget_locks(spark, [store_dir], owner="compact")
    try:
        if not created:
            owner = _lock_owner(spark, store_dir)
            if owner != "compact":
                raise RuntimeError(
                    f"{store_dir} carries a maintenance lock owned by "
                    f"'{owner or 'unknown'}' — if a forget/build/encode "
                    "crashed here, re-run it (its completion releases "
                    "the lock), then compact.  An empty/unknown owner "
                    "means a pre-r9 marker OR an op that died before "
                    "tagging its lock: verify no maintenance op is "
                    "running, then delete the lock file "
                    f"({_lock_of(store_dir)}) and re-run."
                )
        _refuse_unpartitioned_store(spark, store_dir)
    except Exception:
        _release_forget_locks(spark, created)
        raise
    _recover_swap(spark, store_dir)
    _recover_compact(spark, store_dir)
    # the STREAM partitions (batch_id >= 1); the build's foundation is
    # never folded
    stream_dirs = [(k, p) for k, p in _batch_partitions(spark, store_dir) if k >= 1]
    if checkpoint_dir is not None:
        # committed-bounded fold: epoch N writes partition N+1, so
        # partitions above latest_commit+1 belong to an uncommitted
        # batch — leave them for the replay's dynamic overwrite.  An
        # ABSENT checkpoint (never streamed, or deleted for a
        # fresh-checkpoint restart) has nothing in flight: fold
        # everything, like checkpoint_dir=None — without this check a
        # deleted checkpoint read as "commit bound 0" and the
        # compaction silently no-opped forever (r9 review catch).
        latest_offset = _latest_numbered(spark, f"{checkpoint_dir}/offsets")
        if latest_offset >= 0:
            commit_bound = (
                _latest_numbered(spark, f"{checkpoint_dir}/commits") + 1
            )
            stream_dirs = [(k, p) for k, p in stream_dirs if k <= commit_bound]
    if len(stream_dirs) < 2:
        # nothing to fold (fresh store, or already compacted): a true
        # no-op — release our lock; a resumed crashed run that healed
        # down to this state is complete
        _release_forget_locks(spark, [store_dir])
        return
    snap = max(k for k, _ in stream_dirs)
    fs, _ = _fs_path(spark, store_dir)
    # partition-pruned: only the foldable stream dirs are scanned (the
    # upper bound excludes an uncommitted batch's partition)
    folded = spark.read.parquet(store_dir).filter(
        (F.col("batch_id") >= 1) & (F.col("batch_id") <= snap)
    )
    # one output file per maxPartitionBytes of STREAM data via coalesce
    # (narrow dependency: compaction stays shuffle-free)
    stream_bytes = sum(
        fs.getContentSummary(p).getLength() for _, p in stream_dirs
    )
    max_pb = spark._jvm.org.apache.spark.util.Utils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
    )
    n_out = max(1, int(stream_bytes // max(1, max_pb)) + 1)
    tmp = _compact_tmp_of(store_dir)
    (
        folded.coalesce(n_out)
        .withColumn("batch_id", F.lit(snap))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .parquet(tmp)
    )
    # COMMIT POINT: marker created atomically only after the staging
    # write returned — from here recovery rolls forward
    fs_m, p_marker = _fs_path(
        spark, store_dir.rstrip("/") + f".compact_commit.{snap}"
    )
    fs_m.createNewFile(p_marker)
    _finish_compact(spark, store_dir, snap)
    _release_forget_locks(spark, [store_dir])


def _heal_purge_output(
    spark,
    purge_dir: str,
    edges_dir: str | None,
    stats_dir: str,
    edges_frame: DataFrame | None = None,
) -> None:
    """Replace a purge stream's emitted output with one post-forget
    snapshot partition (see :func:`forget_docs`'s ``purge_dir``).  The
    snapshot lands at the CURRENT max batch_id: the resumed stream's next
    batch ids are strictly higher, so a delta fold's latest-row-per-doc
    rule keeps working — future deltas override the snapshot, never the
    reverse.  Runs under the caller's locks; crash-safe via the same
    rename-to-backup swap as the stores."""
    from cloudcomputing_flink_application_spark.operators.dedup import (
        purge_from_edges,
    )

    _recover_swap(spark, purge_dir)
    if not _committed_batch_data_exists(spark, purge_dir):
        return  # nothing ever emitted: nothing to heal
    snap_id = max(k for k, _ in _batch_partitions(spark, purge_dir))
    if edges_frame is not None:
        edges = edges_frame
    elif edges_dir is not None and _committed_batch_data_exists(spark, edges_dir):
        edges = spark.read.parquet(edges_dir).select("doc_id", "rep")
    else:
        edges = spark.createDataFrame([], "doc_id LONG, rep LONG")
    if _committed_batch_data_exists(spark, stats_dir):
        stats = spark.read.parquet(stats_dir).select("doc_id", "n_chars")
    else:  # every doc forgotten: the healed output is empty
        stats = spark.createDataFrame([], "doc_id LONG, n_chars LONG")
    table = purge_from_edges(edges, stats).withColumn(
        "batch_id", F.lit(snap_id)
    )
    tmp = purge_dir.rstrip("/") + ".forget_tmp"
    table.write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
    _replace_dir(spark, tmp, purge_dir)


def forget_docs(
    spark,
    state_dir: str,
    doc_ids,
    checkpoint_dir: str | None,
    purge_dir: str | None = None,
) -> None:
    """Compliance deletion ("right to be forgotten") from a
    ``run_purge_dedup_stream`` state root: remove every trace of the given
    doc_ids from the band / token-set / doc-stats stores, and RE-DERIVE
    the edge store among the survivors.

    ``purge_dir`` (r8): when given, the stream's EMITTED purge output is
    also healed — all existing partitions are replaced by one post-forget
    snapshot (``purge_from_edges`` over the rewritten stores) at the
    current max batch_id, under the same locks.  This is REQUIRED for an
    ``emit="delta"`` stream: its fold takes the latest row per doc, so
    without the heal a forgotten canonical is resurrected by its old
    positive row and surviving clusters keep pre-deletion stats forever
    (nothing re-emits an untouched cluster — r8 review catch).  For a
    full-emission stream the heal replaces the equally-stale last table,
    upgrading the old "emitted partitions are the caller's to redact"
    contract into an actual rewrite; omitting ``purge_dir`` keeps that
    old caller-redacts contract (never omit it for a delta stream).

    ``checkpoint_dir`` is the stream's checkpoint: the deletion REFUSES to
    run while an uncommitted micro-batch is pending there (offsets ahead
    of commits), because the stream's at-least-once replay would
    dynamic-overwrite that batch's store partitions from source data that
    still contains the forgotten docs — silently undoing the deletion.
    Resume the stream so the in-flight batch commits, stop it cleanly,
    then forget.  Pass ``None`` only when the caller can assert no stream
    has ever run or the checkpoint is gone with its sinks.

    Row deletion alone is wrong for edges: a forgotten doc may have been a
    band bucket's MIN, the hub through which two surviving near-dups were
    linked — dropping its edge rows would silently unlink survivors that
    still share the bucket.  Because the stores retain every doc's band
    rows and token sets, the exact survivor edge set is recomputable
    WITHOUT touching any document text: the batch star + jaccard-verify
    pass over the remaining stores (the same shared definitions the
    stream and the batch operator use), re-partitioned by each doc's
    arrival batch (read from the token-set store) so the stream's
    ``batch_id < current`` probe contract is preserved.  The stream can
    then resume on its checkpoint and its next emitted purge table —
    complete-mode over the accumulated state — reflects the deletion;
    previously EMITTED output partitions are the caller's to redact.

    Cost: one read+rewrite of each store and one edge pass over the
    remaining bands — a maintenance operation, run while the stream is
    stopped.  Without ``purge_dir``, horizon-mode streams need only the
    store rewrite (their edge pass is recomputed per batch anyway) and
    the edge-store rebuild is skipped when no edge store exists; WITH
    ``purge_dir``, a no-edge-store root still runs one star+verify pass
    over the retained bands/token-sets to heal the output exactly (r8 —
    the O(window) price of an exact post-forget snapshot).

    Locking (ADVICE r6): each store gets a sibling ``.forget_lock``
    marker BEFORE the checkpoint check; the stream's per-batch
    ``_forget_guard`` refuses to run while a lock is present, so a
    resumed stream can never read half-forgotten state, and the
    lock-then-check ordering closes the between-batches race (either the
    next batch's offset lands first and this refuses, or the batch sees
    the lock and stops).  Locks release on success; a crash mid-rewrite
    leaves them, wedging the stream LOUDLY until the same forget is
    re-run (idempotent — the anti-join and edge re-derivation converge
    on any partial state).
    """
    from cloudcomputing_flink_application_spark.operators.dedup import (
        jaccard_verified_edges,
        star_edges_from_bands,
    )

    ids = [int(i) for i in doc_ids]
    if not ids:
        return
    bands_dir = f"{state_dir}/bands"
    toksets_dir = f"{state_dir}/toksets"
    edges_dir = f"{state_dir}/edges"
    stats_dir = f"{state_dir}/docstats"
    stores = (bands_dir, toksets_dir, edges_dir, stats_dir)
    created = _acquire_forget_locks(spark, stores)
    try:
        _refuse_uncommitted(spark, checkpoint_dir)
    except Exception:
        # refusal before any rewrite: release only the locks THIS call
        # created (a crashed prior forget's locks must stay — its stores
        # may already be half-rewritten)
        _release_forget_locks(spark, created)
        raise
    ids_df = spark.createDataFrame([(i,) for i in ids], "doc_id LONG")
    for d in stores:
        _recover_swap(spark, d)  # heal any half-done swap a crash left
    _rewrite_minus(spark, bands_dir, ids_df)
    _rewrite_minus(spark, toksets_dir, ids_df)
    _rewrite_minus(spark, stats_dir, ids_df)
    if not _committed_batch_data_exists(spark, edges_dir):
        if purge_dir is not None:
            # No edge store — a HORIZON-mode root (edges recomputed per
            # batch, never stored) or an unbounded root that never saw a
            # near-dup.  Assuming empty edges here would heal a horizon
            # output to all-singletons (r8 review follow-up); instead
            # RE-DERIVE survivor edges from the rewritten bands/token-set
            # stores — the same shared pass — which is exact in both
            # cases (for horizon mode, over the retained window union).
            if _committed_batch_data_exists(spark, bands_dir):
                if not _committed_batch_data_exists(spark, toksets_dir):
                    # bands without token sets = a crash between the two
                    # sequential store writes (guarded toksets read — an
                    # AnalysisException here would wedge the locks with
                    # no explanation; r8 review catch).  The state is
                    # mid-batch-inconsistent: resume the stream so the
                    # in-flight batch commits, then re-run this forget.
                    # Release the locks THIS call created first (ADVICE
                    # r8 medium): no further rewrite happens in this
                    # call, and the advised recovery — resume the stream
                    # so the in-flight batch commits — is impossible
                    # while _forget_guard sees our locks.  The rewrites
                    # above were per-store consistent anti-joins and the
                    # re-run repeats them idempotently (and removes the
                    # replayed batch's re-written forgotten rows).  A
                    # crashed PRIOR forget's locks (not in ``created``)
                    # stay: its stores may be half-rewritten.
                    _release_forget_locks(spark, created)
                    raise RuntimeError(
                        f"store inconsistency: {bands_dir} has committed "
                        f"data but {toksets_dir} does not — a stream "
                        "batch crashed between its store writes.  Resume "
                        "the stream so the in-flight batch commits, stop "
                        "it, then re-run this forget.  (Passing the real "
                        "checkpoint_dir instead of None would have "
                        "caught this as an uncommitted-batch refusal "
                        "before any rewrite.)"
                    )
                survivor_edges = (
                    jaccard_verified_edges(
                        star_edges_from_bands(
                            spark.read.parquet(bands_dir).select(
                                "doc_id", "band", "key"
                            )
                        ),
                        spark.read.parquet(toksets_dir).select(
                            "doc_id", "tokset", "nset"
                        ),
                    ).select("doc_id", "rep")
                )
            else:
                survivor_edges = None
            _heal_purge_output(
                spark, purge_dir, None, stats_dir, edges_frame=survivor_edges
            )
        _release_forget_locks(spark, stores)
        return
    if not _committed_batch_data_exists(spark, bands_dir):
        # every doc forgotten: the edge store must empty too
        _drop_partitions(spark, edges_dir)
        if purge_dir is not None:
            _heal_purge_output(spark, purge_dir, None, stats_dir)
        _release_forget_locks(spark, stores)
        return
    bands = spark.read.parquet(bands_dir).select("doc_id", "band", "key")
    toks = spark.read.parquet(toksets_dir)
    arrival = toks.select("doc_id", "batch_id")
    edges = (
        jaccard_verified_edges(
            star_edges_from_bands(bands), toks.select("doc_id", "tokset", "nset")
        )
        .select("doc_id", "rep")
        .join(arrival, "doc_id")
    )
    tmp = edges_dir.rstrip("/") + ".forget_tmp"
    edges.write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
    _replace_dir(spark, tmp, edges_dir)
    if purge_dir is not None:
        _heal_purge_output(spark, purge_dir, edges_dir, stats_dir)
    _release_forget_locks(spark, stores)


def forget_docs_span(spark, state_dir: str, doc_ids, checkpoint_dir: str | None) -> None:
    """Compliance deletion from a ``run_span_flags_stream`` state root:
    remove every trace of the given doc_ids from the first-occurrence
    store at ``{state_dir}/firsts`` — rows ``(h, doc_id, p)`` are
    content-derived (md5 window hashes AND positions of the forgotten
    document), so "remove every trace" must cover them (ADVICE r6).

    Semantics after deletion (documented limitation, inherent to minimal
    state): the store keeps only each hash's FIRST occurrence, so a
    forgotten doc's row cannot be re-pointed to the next-smallest
    SURVIVING occurrence — surviving occurrences of the same hash exist
    only in already-emitted output partitions (which carry no hash
    column).  The row is therefore DROPPED: a later twin of that hash
    re-seeds the store as a fresh first occurrence and is not flagged
    against pre-deletion history.  That is the conservative direction
    for compliance (nothing derived from the forgotten doc survives);
    callers needing exact post-deletion flags re-run the batch span pass
    over the surviving corpus.  Emitted ``(doc_id, p)`` output
    partitions are the caller's to redact, as with ``forget_docs``.

    Same locking / uncommitted-checkpoint / crash-recovery contract as
    :func:`forget_docs`; ``run_span_flags_stream`` refuses to start a
    batch while the lock is present.
    """
    _forget_single_store(spark, f"{state_dir}/firsts", doc_ids, checkpoint_dir)


def run_ivf_assign_stream(
    spark,
    embeddings: DataFrame,
    checkpoint_dir: str,
    index_root: str,
    drift_horizon: int | None = None,
):
    """Incremental IVF index maintenance — the streaming half of the ANN
    lifecycle (``similarity.build_ivf_index`` is the batch half): a 100 TB
    similarity deployment appends vectors continuously, and rebuilding the
    codebook per arrival is absurd; this assigns arriving embeddings to
    the PERSISTED codebook and appends their index rows, keeping the
    inverted lists complete between rebuilds.

    Per micro-batch:

    - assign each arriving vector to its nearest codebook centroid (the
      shared ``_assign_to_centroids`` plan — broadcast codebook, no
      shuffle of the vectors beyond the scan) and append
      ``(vec_id, cluster, ccos_q)`` rows under
      ``{index_root}/assignments/batch_id=N`` — the SAME layout the
      build pass wrote batch 0 in, so batch + stream rows form one
      store;
    - append one drift row ``(n_vecs, sum_ccos_q)`` under
      ``{index_root}/drift/batch_id=N`` — the exact-integer per-batch
      assignment statistics ``similarity.drift_report`` divides against
      the build reference.  Monotone state, nothing retracts: the same
      store discipline as the span-flag first-occurrence store.

    Contract (tests/test_ann_lifecycle.py): the accumulated assignment
    store equals ``similarity.assignment_rows`` over the union of all
    batches under the same codebook — assignment is per-row against a
    static artifact, so micro-batching is trivially exact; drift over
    batches drawn from the build corpus reads exactly 1.0.

    ``drift_horizon`` bounds the drift store to the trailing N readings
    — otherwise it grows one partition per micro-batch forever, the
    same O(stream-age) term the assignment/codes stores shed via
    compaction.  Safe because the drift rows' only consumers read the
    NEWEST readings (``--rebuild-if-drift`` requires the newest
    ``--drift-consecutive``; the report is a staleness instrument, not
    an audit log), and aged-out rows are k-anonymous per-batch
    aggregates with no compliance obligation.  Size it >= the ``--drift-consecutive`` your maintenance runs use: a
    shorter horizon leaves fewer readings than the rebuild rule needs
    and it (correctly, conservatively) never fires — the CLI help
    documents the coupling (the two flags live on different
    invocations, so it cannot be refused mechanically)."""
    cb = spark.read.parquet(f"{index_root}/codebook")
    # stream batches land at batch_id + 1: partition 0 is the build pass's
    asg = _Store(f"{index_root}/assignments", first=1, locked=True)
    # the drift horizon counts the current reading
    drift = _Store(
        f"{index_root}/drift", first=1, horizon=drift_horizon, current=True
    )

    def step(batch_df: DataFrame, ctx: _Batch) -> None:
        from cloudcomputing_flink_application_spark.operators.similarity import (
            assignment_rows,
            assignment_stats,
        )

        rows = assignment_rows(batch_df, F.broadcast(cb)).persist()
        try:
            ctx.write(asg, rows)
            ctx.write(drift, assignment_stats(rows))
        finally:
            rows.unpersist()

    return _run_incremental(embeddings, checkpoint_dir, [asg, drift], step)


def run_pq_encode_stream(
    spark,
    embeddings: DataFrame,
    checkpoint_dir: str,
    index_root: str,
):
    """Incremental PQ encoding — the streaming half of the compressed-
    embedding lifecycle (``similarity.build_pq_index`` is the batch
    half): vectors keep arriving, the codebook is a static artifact
    between rebuilds, and encoding is a per-row map — so each micro-
    batch encodes against the PERSISTED codebook and appends its codes
    under ``{index_root}/codes/batch_id=N+1``, the same layout the build
    pass wrote batch 0 in (one store).

    Geometry (m, ksub) comes from ``pq_meta`` — a stream can never
    encode with a different slicing than the artifact was built with.
    Contract (tests/test_pq.py): the accumulated codes store equals
    ``pq_encode`` over the union of all batches under the same codebook
    — encoding is per-row against a static artifact, so micro-batching
    is trivially exact.  ``similarity.build_pq_index`` fences
    this stream with the shared ``.forget_lock`` marker during rebuilds;
    ``forget_pq_vecs`` deletes rows under the same contract.
    """
    from cloudcomputing_flink_application_spark.operators.similarity import (
        pq_build_params,
        pq_encode,
        read_pq_codebook,
    )

    params = pq_build_params(spark, index_root)
    if params is None:
        raise ValueError(
            f"no pq_meta under {index_root} — build the PQ artifact first "
            "(similarity.build_pq_index / the pq-index CLI)"
        )
    cb = read_pq_codebook(spark, index_root)
    codes_dir = f"{index_root}/codes"
    _refuse_unpartitioned_store(spark, codes_dir)
    codes = _Store(codes_dir, first=1, locked=True)

    def step(batch_df: DataFrame, ctx: _Batch) -> None:
        ctx.write(
            codes,
            pq_encode(batch_df, m=params["m"], ksub=params["ksub"], codebook=cb),
        )

    return _run_incremental(embeddings, checkpoint_dir, [codes], step)


def run_ivfpq_search_stream(
    spark,
    queries: DataFrame,
    checkpoint_dir: str,
    output_dir: str,
    ivf_root: str,
    pq_root: str,
    corpus: DataFrame,
    k: int | None = None,
    nprobe: int | None = None,
    shortlist: int | None = None,
):
    """Serve IVFADC queries as they ARRIVE — the online half of the
    search story (``ivfpq_topk_from_index`` is the batch half): query
    vectors stream in, each micro-batch searches the STORED artifacts
    (zero training, the same shared ``_ivfpq_search`` stages) and
    appends its results under ``{output_dir}/batch_id=N``.

    The artifacts are read PER BATCH, not captured once at stream
    start: the index maintenance loop (encode/assign streams, drift
    rebuilds, forgets, compactions) keeps mutating the roots, and a
    long-lived serving stream must see those mutations — a forgotten
    vector stops being returned from the next micro-batch on
    (compliance deletion reaches the serving path, pinned in tests).
    ``corpus`` supplies the rerank shortlist's raw vectors, the only
    raw reads.

    Contract (tests/test_pq.py): each batch's rows == the batch
    operator with ``queries=`` that batch's frame — search is per-query
    against shared artifacts, so micro-batching is trivially exact.
    The stream takes no locks (it is a reader): a concurrent forget's
    store swap can fail an in-flight batch with a transient read error,
    and the restarted stream replays it idempotently against the
    post-forget store."""
    from cloudcomputing_flink_application_spark.operators.similarity import (
        TOPK,
        cached_mark,
        ivfpq_topk_from_index,
        pq_build_params,
        release_cached,
    )

    if pq_build_params(spark, pq_root) is None:
        raise ValueError(
            f"no pq_meta under {pq_root} — build the PQ artifact first "
            "(similarity.build_pq_index / the pq-index CLI)"
        )
    # validate the search geometry HERE, not in the first micro-batch:
    # a bad k/shortlist is a usage error and must surface as one, not
    # as a StreamingQueryException mid-stream (r9 review catch).
    # shortlist=None and nprobe=None stay None: each micro-batch
    # auto-sizes from the stores AS THEY STAND (auto_shortlist /
    # auto_nprobe over the one fused stats pass — the estimates track
    # appends/forgets between batches, like every other search stage;
    # r11 review: coercing nprobe to the fixed NPROBE here kept the
    # auto rule away from the one long-lived surface it was built for).
    # The auto values are max(top blob + PQ_SHORTLIST, k) and
    # max(blob cells + 1, NPROBE) at every store size, so only explicit
    # values can conflict with k or fall below 1
    k_eff = k if k is not None else TOPK
    if k_eff < 1 or (shortlist is not None and k_eff > shortlist):
        raise ValueError(
            f"need 1 <= k <= shortlist, got k={k_eff} shortlist={shortlist}"
        )
    if nprobe is not None and nprobe < 1:
        # nprobe <= 0 keeps zero probes: every batch would "succeed"
        # with an empty result forever (r9 review)
        raise ValueError(f"need nprobe >= 1, got {nprobe}")

    out = _Store(output_dir)

    def step(batch_df: DataFrame, ctx: _Batch) -> None:
        # scoped cache release: each batch's from-index call persists a
        # fresh packed-codebook frame (reference-unequal per read);
        # without the mark a long-lived serving stream accumulates one
        # cached frame per micro-batch forever (the purge stream's
        # r8 lesson, r9 review catch)
        mark = cached_mark()
        try:
            ctx.write(
                out,
                ivfpq_topk_from_index(
                    spark,
                    ivf_root,
                    pq_root,
                    corpus,
                    k=k_eff,
                    nprobe=nprobe,
                    shortlist=shortlist,
                    queries=batch_df,
                ),
            )
        finally:
            release_cached(since=mark)

    return _run_incremental(queries, checkpoint_dir, [out], step)


def forget_pq_vecs(
    spark, index_root: str, vec_ids, checkpoint_dir: str | None
) -> None:
    """Compliance deletion from the PQ codes store: remove the given
    vec_ids' rows — each row is the vector's content-derived code word,
    per-vector data.  Same locking / uncommitted-checkpoint /
    crash-recovery contract as ``forget_vecs``; ``run_pq_encode_stream``
    refuses to start a batch under the lock.  The CODEBOOK stays: its
    centroids are means over many vectors (k-anonymous aggregates, no
    per-vector trace); full statistical erasure = rebuild
    (``build_pq_index`` on the surviving corpus)."""
    _forget_single_store(spark, f"{index_root}/codes", vec_ids, checkpoint_dir, key="vec_id")


def forget_vecs(spark, index_root: str, vec_ids, checkpoint_dir: str | None) -> None:
    """Compliance deletion from the IVF index: remove the given vec_ids'
    rows from the assignment store — each row carries the vector's
    cluster membership and assignment cosine, per-vector derived data.

    Same locking / uncommitted-checkpoint / crash-recovery contract as
    ``forget_docs``; ``run_ivf_assign_stream`` refuses to start a batch
    under the lock.  The DRIFT store is untouched: its rows are
    per-batch integer AGGREGATES over many vectors (like the codebook's
    centroids — k-anonymous sums, no per-vector trace), and rewriting
    them would silently re-baseline the staleness instrument.  Full
    erasure of a vector's statistical contribution = rebuild the index
    (``build_ivf_index`` on the surviving corpus), which the drift
    metric prices; the vector store itself is the caller's corpus.
    """
    _forget_single_store(
        spark, f"{index_root}/assignments", vec_ids, checkpoint_dir, key="vec_id"
    )


def _forget_single_store(
    spark, store_dir: str, ids, checkpoint_dir, key: str = "doc_id"
) -> None:
    """The shared single-store deletion (the forget_docs contract without
    the edge re-derivation): lock -> refuse (an uncommitted micro-batch,
    or data files at the store root) -> heal (a half-done swap; a crashed
    compaction rolls forward) -> rewrite minus the ``key`` ids -> unlock."""
    ids = [int(i) for i in ids]
    if not ids:
        return
    created = _acquire_forget_locks(spark, [store_dir])
    try:
        _refuse_uncommitted(spark, checkpoint_dir)
        _refuse_unpartitioned_store(spark, store_dir)
    except Exception:
        _release_forget_locks(spark, created)
        raise
    _recover_swap(spark, store_dir)
    _recover_compact(spark, store_dir)
    ids_df = spark.createDataFrame([(i,) for i in ids], f"{key} LONG")
    _rewrite_minus(spark, store_dir, ids_df, key=key)
    _release_forget_locks(spark, [store_dir])


def forget_docs_minhash(spark, bands_dir: str, doc_ids, checkpoint_dir: str | None) -> None:
    """Compliance deletion from a ``run_minhash_dedup_stream`` band store:
    drop the doc_ids' (doc_id, band, key) rows — content-derived MinHash
    band keys of the forgotten documents.

    Because the store keeps PER-DOC rows (r7), deletion is exact and
    non-destructive to survivors: every other document's rows keep their
    buckets live, so post-forget semantics are dedup-against-survivors —
    a future twin of a bucket only the forgotten doc occupied re-seeds
    as fresh (nothing derived from the forgotten doc remains), while
    twins of shared buckets still flag.  Emitted (doc_id, is_dup) output
    partitions are the caller's to redact, as with ``forget_docs``.
    Same lock / uncommitted-checkpoint / crash-recovery contract; the
    stream refuses to run a batch under the lock.
    """
    _forget_single_store(spark, bands_dir, doc_ids, checkpoint_dir)


def forget_docs_clean(spark, hashes_dir: str, doc_ids, checkpoint_dir: str | None) -> None:
    """Compliance deletion from a ``run_clean_corpus_stream`` hash store:
    drop the doc_ids' (h, doc_id) rows — the md5 of a forgotten doc's
    text is content-derived and must go.

    Dropping a forgotten CANONICAL doc's rows re-seeds its text: a future
    identical survivor becomes uniq (and kept) again — the correct
    post-deletion reading, since the content left the kept corpus with
    its document.  This holds even when the hash RECURRED across batches
    (ADVICE r7 medium): the stream stores only first-occurrence rows —
    and, in horizon mode, liveness refreshes carrying that same
    canonical doc_id — so every row of a forgotten canonical's hash is
    keyed to it and goes with it.  Forgetting a non-canonical duplicate
    is a store no-op (it owns no rows), which is equally correct: the
    content is still kept via its canonical.  Same lock / checkpoint /
    recovery contract as the other forgets; the stream refuses to run a
    batch under the lock.
    """
    _forget_single_store(spark, hashes_dir, doc_ids, checkpoint_dir)


def length_histogram_stream(documents: DataFrame) -> DataFrame:
    """Streaming corpus-shape report: the batch ``length_histogram``
    operator runs unchanged on a document stream — a pure streaming
    aggregation whose state is the tiny (lang, bucket) key space, emitted
    in COMPLETE mode (the consumer reads the whole current histogram each
    trigger; there is no watermark because the report has no event time).
    Streaming == batch pinned in tests/test_streaming.py."""
    from cloudcomputing_flink_application_spark.operators.textstats import (
        length_histogram,
    )

    return length_histogram(documents)


def run_corpus_profile_stream(
    spark,
    documents: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    horizon_batches: int | None = None,
):
    """Incremental corpus profiling over a document stream — the streaming
    twin of ``textstats.corpus_profile`` (distinct cardinalities) and
    ``textstats.corpus_profile_exact`` (volumes + rank-exact quantiles).

    ``foreachBatch`` pattern with two AGGREGATE stores under ``state_dir``:

    - ``sketches``: per batch, per source — (n_docs, total_tokens,
      text_sk, tok_sk) where the ``*_sk`` columns are DataSketches HLL
      binaries (``hll_sketch_agg``).  This is why the batch operator uses
      DataSketches rather than HLL++: the sketch STATE is a column, so
      cross-batch merge is ``hll_union_agg`` and union-of-parts equals the
      single-pass estimate EXACTLY (register max; pinned in
      tests/test_textstats_ops.py) — the cumulative emission is
      bit-identical to running the batch operator over everything that
      arrived, not approximately equal.
    - ``lenhist``: per batch, per source — (len, cnt) counts.  Cumulative
      quantiles come from the merged histogram by the SAME integer rank
      rule the exact batch operator uses (value at rank ceil(p*n/100) =
      smallest len whose cumulative count reaches the rank), so ``len_pXX``
      equals ``corpus_profile_exact`` exactly, with state O(|sources| x
      distinct lengths) instead of a sort over every doc.

    Each batch appends its partials and emits the CUMULATIVE profile under
    ``output_dir/batch_id=N``: (source, n_docs, total_tokens,
    distinct_texts_est, distinct_tokens_est, len_p50, len_p90, len_p99) —
    the last partition always equals the batch operators over all arrived
    docs (pinned in tests/test_streaming.py).

    State/size bound: both stores hold AGGREGATES, never per-doc rows —
    O(batches x |sources|) sketch rows (a few KB each) + the histogram key
    space.  That is also the honest compliance note: there is nothing
    per-document to forget here (an HLL cannot subtract), so deletion =
    re-profiling the corrected corpus — one cheap pass, unlike the
    per-doc stores (clean/purge/spans) whose forget paths edit state.

    ``horizon_batches`` bounds the profile to the trailing N micro-batches
    INCLUDING the current one (profile-over-horizon: the rolling-window
    report production monitoring wants); older partitions are pruned.
    """
    from pyspark.sql import Window

    from cloudcomputing_flink_application_spark.operators.textstats import (
        PROFILE_PCTS,
        _profile_per_doc,
        _profile_tokens,
    )

    out = _Store(output_dir)
    sketches = _Store(f"{state_dir}/sketches", horizon=horizon_batches, current=True)
    lenhist = _Store(f"{state_dir}/lenhist", horizon=horizon_batches, current=True)

    def step(batch_df: DataFrame, ctx: _Batch) -> None:
        per_doc = _profile_per_doc(batch_df).persist()
        cached = [per_doc]
        try:
            doc_sk = per_doc.groupBy("source").agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("ntok").cast("long").alias("total_tokens"),
                F.hll_sketch_agg("th").alias("text_sk"),
            )
            tok_sk = (
                _profile_tokens(batch_df)
                .groupBy("source")
                .agg(F.hll_sketch_agg("tok").alias("tok_sk"))
            )
            tk = tok_sk.select(F.col("source").alias("_ts"), "tok_sk")
            sk = doc_sk.join(
                tk, F.col("source").eqNullSafe(F.col("_ts")), "left"
            ).drop("_ts").persist()
            lens = per_doc.groupBy("source", "len").agg(
                F.count("*").cast("long").alias("cnt")
            ).persist()
            cached += [sk, lens]
            ctx.write(sketches, sk)
            ctx.write(lenhist, lens)
            # cumulative emission: this batch's partials plus the stored
            # ones in the horizon.  Nothing arrived yet (an empty first
            # batch, ADVICE r11) emits nothing; a LATER empty batch
            # re-emits the cumulative profile, keeping the
            # last-partition-equals-batch invariant.
            sks = ctx.with_prior(sketches, sk)
            hist = (
                ctx.with_prior(lenhist, lens)
                .groupBy("source", "len")
                .agg(F.sum("cnt").alias("cnt"))
            )
            prof = sks.groupBy("source").agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("total_tokens").cast("long").alias("total_tokens"),
                F.hll_sketch_estimate(F.hll_union_agg("text_sk")).alias(
                    "distinct_texts_est"
                ),
                # a source whose every doc tokenizes empty has NULL tok_sk
                # rows only: union-agg skips nulls and yields NULL -> 0
                F.coalesce(
                    F.hll_sketch_estimate(F.hll_union_agg("tok_sk")), F.lit(0)
                ).alias("distinct_tokens_est"),
            )
            wcum = (
                Window.partitionBy("source")
                .orderBy("len")
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            hc = hist.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
                "n", F.sum("cnt").over(Window.partitionBy("source"))
            )
            quants = hc.groupBy("source").agg(
                *[
                    F.min(
                        F.when(
                            F.col("cum") >= F.expr(f"(n * {p} + 99) div 100"),
                            F.col("len"),
                        )
                    ).alias(f"len_p{p}")
                    for p in PROFILE_PCTS
                ]
            )
            # null-safe stitch (r12, with the batch twins): a NULL source is
            # a real group and an equi-join would drop its profile row
            qr = quants.select(
                F.col("source").alias("_sq"),
                *[f"len_p{p}" for p in PROFILE_PCTS],
            )
            ctx.write(
                out,
                prof.join(qr, F.col("source").eqNullSafe(F.col("_sq"))).drop("_sq"),
            )
        finally:
            for df in cached:
                df.unpersist()

    return _run_incremental(documents, checkpoint_dir, [out, sketches, lenhist], step)


def run_clean_corpus_stream(
    spark,
    documents: DataFrame,
    bench_docs: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    hashes_dir: str,
    horizon_batches: int | None = None,
):
    """The COMPOSED corpus-cleaning pipeline (operators.pipeline.clean_corpus)
    as one incremental ``foreachBatch`` job: quality filter -> repetition
    filter -> benchmark decontamination -> survivor exact-dedup -> split.

    Per micro-batch the three per-doc stages are the exact batch operators
    (their decisions depend only on the row itself plus the STATIC benchmark
    set, so micro-batching them is trivially exact).  The one cross-batch
    stage is survivor dedup: a text hash is ``uniq`` iff no PRIOR batch's
    survivor produced it (the accumulated hash store) and no smaller doc_id
    within this batch does (a min-over-hash window).  On doc_id-ordered
    arrival that reproduces the batch operator's min-doc_id-canonical rule
    exactly, so accumulated streaming output == one batch ``clean_corpus``
    over the union of all batches (tests/test_streaming.py).

    State & scale: the hash store is one 32-hex row per DISTINCT kept text —
    the smallest state that makes global dedup possible at all — stored as
    batch_id-partitioned parquet; the per-batch probe is a left-anti
    equi-join on the hash, the same shape at any corpus size.  Per-batch
    plans are the batch plans: broadcast bench set, per-doc partial-agg
    shuffles, one window shuffle over the batch's survivors.

    ``bench_docs`` must be the static benchmark slice
    (``doc_id % BENCH_MOD == 0``); benchmark rows arriving on the stream are
    dropped by the corpus filter, exactly as in batch.

    ``horizon_batches`` bounds the hash store by time exactly as in
    ``run_minhash_dedup_stream``: the uniq probe reads only the trailing
    ``horizon_batches`` batches and older partitions are pruned, so state is O(distinct kept texts in the horizon).  Semantics
    become dedup-within-horizon: a survivor is uniq iff no horizon-window
    survivor (or smaller same-batch doc_id) shares its text hash
    (streaming == batch-over-the-window pinned in tests).
    """
    from cloudcomputing_flink_application_spark.functions import text as X
    from cloudcomputing_flink_application_spark.operators import textstats
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        BENCH_MOD,
        CLEAN_QUALITY_MIN,
        decontaminate,
        repetition_stats,
    )

    out = _Store(output_dir)
    hashes = _Store(hashes_dir, horizon=horizon_batches, locked=True)

    def step(batch_df: DataFrame, ctx: _Batch) -> None:
        corpus = batch_df.filter(F.col("doc_id") % BENCH_MOD != 0).persist()
        flags = None
        try:
            q = textstats.quality_score(corpus).select("doc_id", "quality")
            rep = repetition_stats(corpus).select("doc_id", "flagged")
            con = decontaminate(bench_docs.unionByName(corpus)).select(
                "doc_id", "contaminated"
            )
            flags = (
                corpus.select("doc_id", "text")
                .join(q, "doc_id")
                .join(rep, "doc_id")
                .join(con, "doc_id")
                .select(
                    "doc_id",
                    "text",
                    F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("h"),
                    (F.col("quality") >= CLEAN_QUALITY_MIN).alias("q_ok"),
                    (~F.col("flagged")).alias("rep_ok"),
                    (~F.col("contaminated")).alias("con_ok"),
                )
                .persist()
            )
            surv = flags.filter(
                F.col("q_ok") & F.col("rep_ok") & F.col("con_ok")
            ).select("doc_id", "h")
            # one row per hash = min doc_id, as a partial-agg groupBy (a
            # min-over-window would pull a viral duplicated text's whole
            # hash partition onto one task)
            local_canon = surv.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
            store_rows = local_canon
            probe = ctx.read(hashes)
            if probe is not None:
                # anti-join against the PLAIN probe (duplicate-insensitive)
                # — aggregating first would add a full store exchange to
                # every unbounded batch for nothing (r8 review catch); the
                # aggregated form is built only where the refresh rows
                # need it, in the horizon branch below.
                canon = local_canon.join(probe.select("h"), "h", "left_anti")
                # Store only FIRST occurrences (ADVICE r7 medium): writing
                # local_canon unconditionally left (h, batch-local dup
                # doc_id) rows for already-seen hashes, so forgetting the
                # CANONICAL doc didn't re-seed its text — the leftover dup
                # rows kept flagging identical future text forever.
                # Unbounded mode stores one row per distinct hash ever,
                # keyed to the true canonical (the span store's rule);
                # horizon mode must also REFRESH a recurring hash's
                # liveness (or it ages out mid-recurrence and under-dedups
                # — the r6 span-store lesson), but the refresh row carries
                # the ORIGINAL canonical doc_id from the store, not the
                # batch-local duplicate's, so forgetting the canonical
                # still drops every row of its hash.
                if horizon_batches is None:
                    store_rows = canon
                else:
                    seen = probe.groupBy("h").agg(
                        F.min("doc_id").alias("doc_id")
                    )
                    refreshed = seen.join(
                        local_canon.select("h"), "h", "leftsemi"
                    )
                    store_rows = canon.unionByName(refreshed)
            else:  # first batch: no hash store yet
                canon = local_canon
            uniq_ids = canon.select("doc_id").withColumn("_u", F.lit(True))
            bucket = (X.h56(F.col("text")) % 100).cast("int")
            uniq = F.coalesce(F.col("_u"), F.lit(False))
            kept = F.col("q_ok") & F.col("rep_ok") & F.col("con_ok") & uniq
            rows = flags.join(uniq_ids, "doc_id", "left").select(
                "doc_id",
                "q_ok",
                "rep_ok",
                "con_ok",
                uniq.alias("uniq"),
                kept.alias("kept"),
                F.when(
                    kept,
                    F.when(bucket < 90, "train")
                    .when(bucket < 95, "valid")
                    .otherwise("test"),
                )
                .otherwise("")
                .alias("split"),
            )
            ctx.write(out, rows)
            # Store (h, canonical doc_id) rows — first occurrences only
            # (r8; see the store_rows construction above).  The doc_id
            # makes the store FORGETTABLE (forget_docs_clean): dropping a
            # forgotten canonical doc's rows re-seeds its text — a future
            # identical survivor becomes uniq again, which is CORRECT
            # post-deletion semantics (the content left the kept corpus
            # with its doc).
            ctx.write(hashes, store_rows.select("h", "doc_id"))
        finally:
            corpus.unpersist()
            if flags is not None:
                flags.unpersist()

    return _run_incremental(documents, checkpoint_dir, [out, hashes], step)


# --- O3: one input, three sinks ---------------------------------------------


def run_telematics_job(spark, input_dir: str, output_dir: str, schema=None):
    """Start the three telematics streaming queries over one CSV input dir,
    writing three CSV sinks (speedfines/, avgspeedfines/, accidents/) —
    the streaming counterpart of the reference's three-sink single job
    (VehicleTelematics.java:179-189).  Each query checkpoints under
    ``_chk/<sink>``.  Returns the query handles.
    """
    from cloudcomputing_flink_application_spark import schemas as SCH

    cars = (
        spark.readStream.schema(schema or SCH.CAR_REPORTS)
        .csv(input_dir)
    )
    chk = f"{output_dir}/_chk"
    return [
        speed_radar_stream(cars)
        .writeStream.outputMode("append")
        .format("csv")
        .option("path", f"{output_dir}/speedfines")
        .option("checkpointLocation", f"{chk}/speedfines")
        .start(),
        average_speed_fines_stream(cars, f"{output_dir}/avgspeedfines", f"{chk}/avgspeedfines"),
        accident_reports_stream(cars, f"{output_dir}/accidents", f"{chk}/accidents"),
    ]


def sessionize_stream(
    events: DataFrame, gap_min: int | None = None, watermark: str = "0 seconds"
) -> DataFrame:
    """Streaming gap-based sessionization via ``session_window``.

    The built-in session window is exactly the streaming form of
    ``operators.timeseries.sessionize_frame``: per user, windows grow while
    events arrive closer than the gap and close (emit, clear state) once the
    watermark passes window end — state per key is O(open sessions), the
    shape that holds at any stream size.  Two alignment choices make
    streaming == batch bit-exact (tests/test_streaming.py):

    - timestamps truncate to whole seconds first, because the batch operator
      compares ``cast(ts as long)`` second gaps while session_window uses
      raw event time — a 1800.05 s microsecond gap would otherwise split
      here and merge in batch;
    - session_window's merge is boundary-INCLUSIVE (verified by test:
      sessions exactly ``gap_min`` apart merge), i.e. the same strict-``>``
      new-session rule the batch operator uses.

    Output: (user_id, n_events, start_s, end_s) per CLOSED session —
    ``session_seq`` is the one batch column with no incremental counterpart
    (it would require total per-user history order at emit time).
    """
    from cloudcomputing_flink_application_spark.operators.timeseries import (
        SESSION_GAP_MIN,
    )

    gap = SESSION_GAP_MIN if gap_min is None else gap_min
    ev = events.select(
        "user_id", F.date_trunc("second", F.col("ts")).alias("ts")
    ).withWatermark("ts", watermark)
    return (
        ev.groupBy("user_id", F.session_window("ts", f"{gap} minutes"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("start_s"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("end_s"),
        )
        .select("user_id", "n_events", "start_s", "end_s")
    )
