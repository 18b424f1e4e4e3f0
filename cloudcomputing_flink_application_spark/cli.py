"""Command-line entry points mirroring the reference's three jobs.

A user of the reference runs::

    flink run -c master.VehicleTelematics  app.jar --input cars.csv --output outdir
    flink run -c ...CongestionArea         app.jar --input taxi.csv --output out.csv
    flink run -c ...SaturatedVendor        app.jar --input taxi.csv --output out.csv

The equivalents here::

    python -m cloudcomputing_flink_application_spark.cli vehicle-telematics --input cars.csv --output outdir
    python -m cloudcomputing_flink_application_spark.cli congestion-area    --input taxi.csv --output out.csv
    python -m cloudcomputing_flink_application_spark.cli saturated-vendor   --input taxi.csv --output out.csv

Batch mode (default) computes exact results; ``--streaming`` runs the
Structured Streaming variants over the input directory (file-arrival
micro-batches).  ``--show`` adds the reference's stdout print sink.
"""

from __future__ import annotations

import argparse

from cloudcomputing_flink_application_spark.operators.dedup import EMB_NEARDUP_COS
from cloudcomputing_flink_application_spark.operators.taxi import (
    congestion_daily,
    saturated_vendors,
)
from cloudcomputing_flink_application_spark.operators.telematics import (
    accident_reports,
    average_speed_fines,
    speed_radar,
)
from cloudcomputing_flink_application_spark.session import get_spark
from cloudcomputing_flink_application_spark.sources import sinks
from cloudcomputing_flink_application_spark.sources.readers import (
    read_car_reports,
    read_taxi_trips,
)


def _vehicle_telematics(args: argparse.Namespace) -> None:
    spark = get_spark(app_name="vehicle-telematics")
    if args.streaming:
        if args.show:
            print("warning: --show is batch-only; streaming mode writes sinks only")
        import os
        import shutil
        import tempfile

        from cloudcomputing_flink_application_spark.streaming.jobs import run_telematics_job

        input_path = args.input
        if os.path.isfile(input_path):
            # Structured Streaming's file source watches a DIRECTORY; stage a
            # single-file input so the reference's file-path contract works.
            staged = tempfile.mkdtemp(prefix="spark_graft_stream_in_")
            shutil.copy(input_path, staged)
            input_path = staged
        queries = run_telematics_job(spark, input_path, args.output)
        try:
            for q in queries:
                q.processAllAvailable()
        finally:
            for q in queries:
                q.stop()
            if input_path != args.input:
                shutil.rmtree(input_path, ignore_errors=True)
        return
    cars = read_car_reports(spark, args.input)
    # one pass over the input feeding three sinks (reference O3,
    # VehicleTelematics.java:179-189): persist the parsed frame so the three
    # actions share the scan instead of re-reading
    cars.persist()
    try:
        for name, out in (
            ("speedfines.csv", speed_radar(cars)),
            ("avgspeedfines.csv", average_speed_fines(cars)),
            ("accidents.csv", accident_reports(cars)),
        ):
            sinks.write_single_csv(out, f"{args.output}/{name}")
            if args.show:
                sinks.show(out)
    finally:
        cars.unpersist()


def _congestion_area(args: argparse.Namespace) -> None:
    spark = get_spark(app_name="congestion-area")
    out = congestion_daily(read_taxi_trips(spark, args.input))
    sinks.write_single_csv(out, args.output)
    if args.show:
        sinks.show(out)


def _saturated_vendor(args: argparse.Namespace) -> None:
    spark = get_spark(app_name="saturated-vendor")
    out = saturated_vendors(read_taxi_trips(spark, args.input))
    sinks.write_single_csv(out, args.output)
    if args.show:
        sinks.show(out)


def _launch_clean_stream(
    spark,
    input_path: str,
    flags_dir: str,
    chk_dir: str,
    hashes_dir: str,
    horizon_batches: int | None = None,
) -> None:
    """ONE definition of the incremental clean launch (corpus-clean
    --streaming and train-data --streaming; r11 review — two verbatim
    copies of the benchmark-slice read + stream wiring could drift, and
    the decontamination contract lives exactly here): the STATIC
    benchmark slice comes from the same input directory, and the stream
    runs to exhaustion of the currently-available files."""
    from pyspark.sql import functions as F

    from cloudcomputing_flink_application_spark import schemas
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        BENCH_MOD,
    )
    from cloudcomputing_flink_application_spark.streaming.jobs import (
        run_clean_corpus_stream,
    )

    bench = (
        spark.read.schema(schemas.DOCUMENTS)
        .parquet(input_path)
        .filter(F.col("doc_id") % BENCH_MOD == 0)
    )
    q = run_clean_corpus_stream(
        spark,
        spark.readStream.schema(schemas.DOCUMENTS).parquet(input_path),
        bench,
        flags_dir,
        chk_dir,
        hashes_dir,
        horizon_batches=horizon_batches,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _corpus_clean(args: argparse.Namespace) -> None:
    """The LLM-data-pipeline job surface: run the composed cleaning pipeline
    (quality -> repetition -> decontam -> survivor dedup -> split) over a
    ``documents``-shaped parquet input, batch or incremental.

    Batch writes the per-doc flag frame as (distributed) parquet.
    ``--shards N`` additionally writes the KEPT documents (text joined
    back from the input) as N deterministic content-addressed training
    shards under ``<output>_shards`` — the end of the prep pipeline a
    trainer actually reads (``sinks.write_training_shards``; shard
    membership is a pure function of doc_id, stable across rewrites).
    ``--streaming`` runs ``run_clean_corpus_stream`` over the input
    directory: file-arrival micro-batches, survivor-hash dedup state under
    ``<output>/_state``, checkpoints under ``<output>/_chk`` — rerunnable
    and idempotent per that job's fault contract.  ``--horizon-batches N``
    bounds that state to the trailing N batches (dedup-within-horizon).
    """
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        clean_corpus,
    )

    spark = get_spark(app_name="corpus-clean")
    if getattr(args, "forget", None):
        import os

        from cloudcomputing_flink_application_spark.streaming.jobs import (
            forget_docs_clean,
        )

        if not os.path.isdir(f"{args.output}/_state"):
            raise SystemExit(
                f"no streaming state under {args.output}/_state — --forget "
                "operates on a corpus-clean --streaming output root"
            )
        ids = [int(x) for x in args.forget.split(",") if x.strip()]
        forget_docs_clean(
            spark, f"{args.output}/_state/hashes", ids, f"{args.output}/_chk"
        )
        return
    if args.streaming:
        if args.show:
            print("warning: --show is batch-only; streaming mode writes sinks only")
        if getattr(args, "shards", None) is not None:
            print("warning: --shards is batch-only; streaming mode writes flags only")
        _launch_clean_stream(
            spark,
            args.input,
            f"{args.output}/flags",
            f"{args.output}/_chk",
            f"{args.output}/_state/hashes",
            horizon_batches=args.horizon_batches,
        )
        return
    docs = spark.read.parquet(args.input)
    out = clean_corpus(docs)
    out.write.mode("overwrite").parquet(args.output)
    # `is not None`, not truthiness: --shards 0 must reach the sink's
    # loud n_shards guard instead of silently no-opping.  The shard root
    # is a SIBLING of the normalized output ('out/' would otherwise nest
    # them INSIDE the flags dir, where the next flags overwrite deletes
    # the shards a dataloader checkpoint references).
    if getattr(args, "shards", None) is not None:
        kept = (
            spark.read.parquet(args.output)
            .filter("kept")
            .select("doc_id", "split")
            .join(docs, "doc_id")
        )
        sinks.write_training_shards(
            kept, args.output.rstrip("/") + "_shards", args.shards
        )
    if args.show:
        sinks.show(out)


def _train_data(args: argparse.Namespace) -> None:
    """The end-to-end training-data job (``pipeline.training_prep``):
    clean -> near-dup purge -> sequence packing -> content-addressed
    shards, over a ``documents``-shaped parquet input.

    Batch (default): one composed plan writes the prep rows to
    ``<output>/prep`` and, with ``--shards N``, the shard store to
    ``<output>/shards`` (``write_training_shards`` keyed by ``pack_id``,
    so a packed sequence always lands whole in one shard).
    ``--semantic-dedup EMB_PARQUET [--tau X]`` (r12) inserts SemDeDup
    pruning between the near-dup purge and packing — purge-first by
    construction (``pipeline.semantic_prune_docs``); works in batch and
    ``--materialize``, and the composed dataflow stays fully oracle'd
    (``TRAINING_PREP_SEMANTIC_SQL``).  Under ``--streaming`` (r13) the
    flag maintains ``<output>/semantic/pruned`` — the pruned-id store
    recomputed over the ACCUMULATED purge survivors at the end of each
    invocation (purge-first holds because the store derives from the
    purge table) — and a later ``--materialize`` applies it without
    re-passing the flag; an explicit ``--semantic-dedup`` at materialize
    recomputes and wins (different-tau materializations stay possible).
    ``--forget`` invalidates the store (derived from pre-forget
    survivors) and says so.

    ``--streaming``: incremental state maintenance — the clean stream
    (flags + survivor-hash state under ``<output>/clean``) runs over the
    input directory to exhaustion, then the purge stream (band/tokset/
    edge stores under ``<output>/purge``) consumes the SAME directory
    semi-joined against the accumulated kept flags, so the purge sees
    exactly the kept docs (the batch composition's order).  Both are
    checkpointed; re-invocations resume.  Files arriving WHILE an
    invocation runs are picked up by the next invocation (run at
    ingestion pauses — the same cadence every store-maintaining job
    here documents).  The BENCHMARK slice (doc_id % BENCH_MOD == 0)
    must be fully on disk before the first invocation — decontamination
    clears docs against the benchmark set visible at their batch, and
    no later invocation re-checks them (the static-benchmark contract
    of run_clean_corpus_stream, pinned in tests/test_cli.py).

    ``--materialize`` (streams stopped): compose the two stores into the
    SAME prep/shard output the batch job writes — pinned equal in
    tests/test_cli.py.

    ``--forget ID[,ID...]`` (streams stopped): compliance deletion
    through the COMPOSED state — the clean survivor-hash rows
    (``forget_docs_clean``: the content-derived trace; the text
    re-seeds as uniq if it ever returns) and the purge stores + emitted
    table (``forget_docs``: signatures removed, survivor edges
    re-derived, so a forgotten cluster REP hands the cluster to the
    next survivor).  The prep/shard output still holds the old rows —
    re-run ``--materialize`` to rewrite it without them (printed as a
    reminder)."""
    from cloudcomputing_flink_application_spark.operators import pipeline

    if args.streaming and args.materialize:
        raise SystemExit(
            "--materialize reads the stores a stopped --streaming run "
            "maintains; run them as separate invocations"
        )
    if getattr(args, "tau", None) is not None and not getattr(
        args, "semantic_dedup", None
    ):
        raise SystemExit(
            "--tau tunes --semantic-dedup; pass the embeddings parquet "
            "path with --semantic-dedup as well"
        )
    if getattr(args, "forget", None) and (
        args.streaming
        or args.materialize
        or getattr(args, "semantic_dedup", None)
        or getattr(args, "tau", None) is not None
        or getattr(args, "pack_mode", "chunks") != "chunks"
        or getattr(args, "shards", None) is not None
        or args.show
        or getattr(args, "scrub_pii", False)
        or getattr(args, "token_col", None) is not None
    ):
        # dispatched first below, so a combined flag would silently skip
        # the other action (the pq-index --shortlist-report lesson);
        # r13 (ADVICE r12): the semantic/packing knobs are equally dead
        # on the forget path — refuse rather than silently ignore them;
        # r14 (ADVICE r13): --shards/--show complete the same class
        raise SystemExit(
            "--forget is a standalone stream-stopped action; run "
            "--materialize (or --streaming / --semantic-dedup / "
            "--pack-mode / --shards / --show) as a separate invocation"
        )
    spark = get_spark(app_name="train-data")
    if getattr(args, "forget", None):
        import os

        from cloudcomputing_flink_application_spark.streaming.jobs import (
            _refuse_uncommitted,
            forget_docs,
            forget_docs_clean,
        )

        for sub in ("clean/_state/hashes", "purge/_state"):
            if not os.path.isdir(f"{args.output}/{sub}"):
                raise SystemExit(
                    f"no {sub} store under {args.output} — --forget "
                    "operates on a train-data --streaming output root"
                )
        # validate BOTH stream checkpoints before mutating EITHER store
        # (r11 review): forget_docs_clean runs first, so a purge-side
        # refusal (uncommitted micro-batch) would otherwise abort the
        # command with the composed state half-forgotten
        for chk in (f"{args.output}/clean/_chk", f"{args.output}/purge/_chk"):
            _refuse_uncommitted(spark, chk)
        ids = [int(x) for x in args.forget.split(",") if x.strip()]
        forget_docs_clean(
            spark,
            f"{args.output}/clean/_state/hashes",
            ids,
            f"{args.output}/clean/_chk",
        )
        forget_docs(
            spark,
            f"{args.output}/purge/_state",
            ids,
            f"{args.output}/purge/_chk",
            purge_dir=f"{args.output}/purge/table",
        )
        if os.path.isdir(f"{args.output}/semantic/pruned"):
            # r13: the pruned-id store was derived from the PRE-forget
            # survivor set — a forgotten doc may have been the kept
            # exemplar whose group members are stored as pruned.  Stale
            # state must not silently shape a later materialize; delete
            # it (store + batch watermark) and say so (the embeddings
            # path is not recorded, so it cannot be rebuilt here).
            import shutil

            shutil.rmtree(f"{args.output}/semantic")
            print(
                "semantic store invalidated (derived from the pre-forget "
                "survivors); re-run --streaming --semantic-dedup to rebuild"
            )
        print(
            f"forgot {len(ids)} doc(s) from the clean + purge stores; "
            "re-run --materialize to rewrite prep/shards without them"
        )
        return
    prep_dir = f"{args.output}/prep"

    def write_outputs(rows) -> None:
        rows.write.mode("overwrite").parquet(prep_dir)
        if getattr(args, "shards", None) is not None:
            sinks.write_training_shards(
                spark.read.parquet(prep_dir),
                f"{args.output}/shards",
                args.shards,
                key="pack_id",
            )
        if args.show:
            sinks.show(spark.read.parquet(prep_dir))

    if args.streaming:
        import os

        from cloudcomputing_flink_application_spark import schemas
        from cloudcomputing_flink_application_spark.streaming.jobs import (
            run_purge_dedup_stream,
        )

        if args.show:
            print("warning: --show is batch-only; streaming mode writes sinks only")
        if getattr(args, "shards", None) is not None:
            print(
                "warning: --shards is batch/--materialize-only; streaming "
                "maintains the stores"
            )
        if getattr(args, "pack_mode", "chunks") != "chunks":
            print(
                "warning: --pack-mode is batch/--materialize-only; "
                "streaming maintains the stores (pass it to the "
                "--materialize invocation that packs)"
            )
        if getattr(args, "scrub_pii", False) or getattr(
            args, "token_col", None
        ):
            print(
                "warning: --scrub-pii/--token-col are batch/"
                "--materialize-only; streaming maintains the stores "
                "(pass them to the --materialize invocation that packs)"
            )
        _launch_clean_stream(
            spark,
            args.input,
            f"{args.output}/clean/flags",
            f"{args.output}/clean/_chk",
            f"{args.output}/clean/_state/hashes",
        )
        if not os.path.isdir(f"{args.output}/clean/flags"):
            print("no documents arrived; purge stage has nothing to do")
            return
        # stream-static semi-join: the purge stage sees exactly the docs
        # the clean state marked kept (re-read per micro-batch, so a
        # multi-batch invocation's later batches observe earlier flags)
        kept = (
            spark.read.parquet(f"{args.output}/clean/flags")
            .filter("kept")
            .select("doc_id")
        )
        q2 = run_purge_dedup_stream(
            spark,
            spark.readStream.schema(schemas.DOCUMENTS)
            .parquet(args.input)
            .join(kept, "doc_id", "left_semi"),
            f"{args.output}/purge/table",
            f"{args.output}/purge/_chk",
            f"{args.output}/purge/_state",
        )
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        if getattr(args, "semantic_dedup", None):
            # streaming semantic stage (r13, VERDICT r12 #6): maintain
            # {output}/semantic/pruned — the SemDeDup-pruned doc ids over
            # the CURRENT accumulated purge survivors, recomputed per
            # invocation (the purge stream's own bounded-recompute
            # pattern: a global pass over maintained state, idempotent
            # under replay, accumulated == batch by construction since
            # the survivor set it reads is pinned accumulated == batch).
            # --materialize applies the store automatically; purge-first
            # order holds because the store is derived FROM the purge
            # survivors.
            if not os.path.isdir(f"{args.output}/purge/table"):
                print("no kept documents; semantic stage has nothing to do")
                return
            from pyspark.sql import functions as F

            from cloudcomputing_flink_application_spark.operators import (
                dedup,
            )

            purge = spark.read.parquet(f"{args.output}/purge/table")
            last = purge.agg(F.max("batch_id")).first()[0]
            # survivors are kept by construction (the purge stream's
            # input was kept-filtered); the semantic core only reads
            # doc_id, so the id frame IS the docs argument
            surv = purge.filter(F.col("batch_id") == last).select("doc_id")
            mark = dedup.cached_mark()
            try:
                pipeline.semantic_pruned_ids(
                    surv,
                    spark.read.parquet(args.semantic_dedup),
                    args.tau,
                ).write.mode("overwrite").parquet(
                    f"{args.output}/semantic/pruned"
                )
            finally:
                dedup.release_cached(since=mark)
            # watermark the store with the purge batch it derives from
            # (r13 review): a later --streaming run WITHOUT the flag
            # advances the survivor set and the store must not silently
            # shape that materialization — a separate one-row _meta dir,
            # because an empty pruned set carries no rows to hold it
            spark.createDataFrame(
                [(int(last),)], "derived_batch_id long"
            ).write.mode("overwrite").parquet(
                f"{args.output}/semantic/_meta"
            )
        elif os.path.isdir(f"{args.output}/semantic/pruned"):
            # r14 (ADVICE r13): a flag-less --streaming run that advanced
            # the purge survivor set PAST the batch the semantic store
            # derives from means the next plain --materialize will refuse
            # via the watermark guard.  Say so now, at the run that
            # caused it — but only when the watermark ACTUALLY trails
            # (r14 review: a no-new-files re-run leaves the store valid
            # and must not cry stale).
            from pyspark.sql import functions as F

            meta_dir = f"{args.output}/semantic/_meta"
            derived = (
                spark.read.parquet(meta_dir).first()[0]
                if os.path.isdir(meta_dir)
                else None
            )
            last = (
                spark.read.parquet(f"{args.output}/purge/table")
                .agg(F.max("batch_id"))
                .first()[0]
                if os.path.isdir(f"{args.output}/purge/table")
                else None
            )
            if derived is None or derived != last:
                print(
                    "note: semantic/pruned store is now stale (survivors "
                    "advanced without --semantic-dedup); re-run "
                    "--streaming --semantic-dedup before a flag-less "
                    "--materialize"
                )
        return
    if args.materialize:
        import os

        from pyspark.sql import functions as F

        for sub in ("clean/flags", "purge/table"):
            if not os.path.isdir(f"{args.output}/{sub}"):
                raise SystemExit(
                    f"no {sub} store under {args.output} — --materialize "
                    "composes the stores a --streaming run maintains"
                )
        from cloudcomputing_flink_application_spark.operators import dedup

        flags = spark.read.parquet(f"{args.output}/clean/flags")
        purge = spark.read.parquet(f"{args.output}/purge/table")
        # full-emission purge stream: the LAST partition is the whole
        # current table (the accumulated==batch contract)
        last = purge.agg(F.max("batch_id")).first()[0]
        surv = purge.filter(F.col("batch_id") == last).select("doc_id")
        surv_docs = (
            spark.read.parquet(args.input)
            .join(flags.filter("kept").select("doc_id", "split"), "doc_id")
            .join(surv, "doc_id")
        )
        # scoped release (r13, VERDICT r12 #1): the operators _persist
        # shared frames under a caller-releases contract, and the prep
        # write is the consuming materialization — release right after
        # it so a long-lived session never accumulates composed-lineage
        # caches across invocations.
        mark = dedup.cached_mark()
        try:
            if getattr(args, "semantic_dedup", None):
                # same stage position as the batch composition: over the
                # purge survivors, before packing.  Persisted (ADVICE
                # r12): three consumers read it — the embedding
                # restriction semi-join, the prune anti-join, and the
                # packing tail — mirroring training_prep's batch path.
                # An explicit flag RECOMPUTES (and wins over any store):
                # the user may be materializing at a different tau.
                surv_docs = dedup._persist(surv_docs)
                surv_docs = pipeline.semantic_prune_docs(
                    surv_docs,
                    spark.read.parquet(args.semantic_dedup),
                    args.tau,
                )
            elif os.path.isdir(f"{args.output}/semantic/pruned"):
                # r13 (VERDICT r12 #6): a --streaming --semantic-dedup
                # run maintains the pruned-id store over the accumulated
                # purge survivors; materialize composes ALL the stores
                # the streaming run maintains, so the semantic stage
                # applies without re-passing the flag — anti-join, the
                # operator's own null-safe shape.  Staleness guard (r13
                # review): the store records the purge batch it derives
                # from; a flag-less --streaming run that advanced the
                # survivor set since would make the stored keep choices
                # invalid (k-means centroids move) and leave new
                # survivors unpruned — refuse instead of silently
                # composing stale state.
                meta_dir = f"{args.output}/semantic/_meta"
                derived = (
                    spark.read.parquet(meta_dir).first()[0]
                    if os.path.isdir(meta_dir)
                    else None
                )
                if derived is None or derived != last:
                    raise SystemExit(
                        "semantic store is stale: derived from purge "
                        f"batch {derived}, but the purge table is at "
                        f"batch {last} — re-run --streaming "
                        "--semantic-dedup to refresh it, or pass "
                        "--semantic-dedup here to recompute"
                    )
                surv_docs = surv_docs.join(
                    spark.read.parquet(
                        f"{args.output}/semantic/pruned"
                    ).select("doc_id"),
                    "doc_id",
                    "left_anti",
                )
            write_outputs(
                pipeline.packed_training_rows(
                    surv_docs,
                    args.pack_mode,
                    scrub_pii=getattr(args, "scrub_pii", False),
                    token_col=getattr(args, "token_col", None),
                )
            )
        finally:
            dedup.release_cached(since=mark)
        return
    from cloudcomputing_flink_application_spark.operators import dedup

    mark = dedup.cached_mark()
    try:
        write_outputs(
            pipeline.training_prep(
                spark.read.parquet(args.input),
                args.pack_mode,
                embeddings=(
                    spark.read.parquet(args.semantic_dedup)
                    if getattr(args, "semantic_dedup", None)
                    else None
                ),
                semantic_tau=args.tau,
                scrub_pii=getattr(args, "scrub_pii", False),
                token_col=getattr(args, "token_col", None),
            )
        )
    finally:
        dedup.release_cached(since=mark)


def _dedup_purge(args: argparse.Namespace) -> None:
    """The dedup job surface: full-closure MinHash purge over a
    ``documents``-shaped parquet input, batch or incremental.

    Batch writes the purge table (doc_id, n_members, chars_saved) as
    parquet.  ``--streaming`` runs ``run_purge_dedup_stream`` over the
    input directory: per-batch incremental banding/verification with the
    accumulated stores under ``<output>/_state``, checkpoints under
    ``<output>/_chk``; the LAST batch partition of ``<output>/purge`` is
    the full-corpus purge table (idempotent under replay).
    ``--horizon-batches N`` bounds the stores to the trailing N batches
    (purge-within-horizon: each batch partition covers its window's
    union, via the bounded window recompute — see streaming/jobs.py).
    ``--forget ID[,ID...]`` runs compliance deletion against the
    streaming state under ``<output>/_state`` instead of the job
    (``jobs.forget_docs`` — survivor edges re-derived; refuses while the
    checkpoint holds an uncommitted batch).  ``--emit-deltas`` switches
    the streamed output to touched-cluster deltas; ``--compact`` /
    ``--compact-every N`` bound that output's read-time fold by folding
    the delta history into a snapshot partition (offline / in-stream).
    """
    from cloudcomputing_flink_application_spark.operators.dedup import (
        minhash_purge_dedup,
    )

    # flag-conflict checks BEFORE Spark startup: a clean SystemExit, not
    # a post-session traceback — and no full session start paid just to
    # exit with a usage error (r8 review catch; ADVICE r8 low)
    if args.emit_deltas and not args.streaming and not args.forget:
        raise SystemExit(
            "--emit-deltas is streaming-only (a batch run emits the full "
            "purge table once; there is nothing to delta against)"
        )
    if args.compact_every is not None and not args.streaming:
        raise SystemExit(
            "--compact-every is streaming-only (the in-stream compactor; "
            "use --compact for a stopped stream's output)"
        )
    if args.compact_every is not None and not args.emit_deltas:
        raise SystemExit(
            "--compact-every requires --emit-deltas (a full-mode "
            "partition is already the complete table)"
        )
    if args.compact and (
        args.streaming
        or args.forget
        or args.emit_deltas
        or args.compact_every is not None
    ):
        # --compact would otherwise swallow the other mode silently
        # (compact-and-exit, stream/forget never run — r9 review catch)
        raise SystemExit(
            "--compact is a standalone maintenance action on a stopped "
            "stream's output root; run it with no other mode flags"
        )
    spark = get_spark(app_name="dedup-purge")
    if args.compact:
        import os

        from cloudcomputing_flink_application_spark.streaming.jobs import (
            compact_purge_deltas,
        )

        if not os.path.isdir(f"{args.output}/purge"):
            raise SystemExit(
                f"no emitted output under {args.output}/purge — --compact "
                "operates on a dedup-purge --streaming --emit-deltas "
                "output root"
            )
        compact_purge_deltas(
            spark, f"{args.output}/purge", f"{args.output}/_chk"
        )
        return
    if args.forget:
        from cloudcomputing_flink_application_spark.streaming.jobs import (
            forget_docs,
        )

        import os

        if not os.path.isdir(f"{args.output}/_state"):
            raise SystemExit(
                f"no streaming state under {args.output}/_state — --forget "
                "operates on a dedup-purge --streaming output root"
            )
        ids = [int(x) for x in args.forget.split(",") if x.strip()]
        # purge_dir heals the emitted output to the post-forget table —
        # REQUIRED for a delta-mode output (the fold would resurrect the
        # forgotten rows), and an upgrade for full mode (the stale last
        # table is rewritten instead of left to the caller to redact)
        forget_docs(
            spark, f"{args.output}/_state", ids, f"{args.output}/_chk",
            purge_dir=f"{args.output}/purge",
        )
        return
    if args.streaming:
        if args.show:
            print("warning: --show is batch-only; streaming mode writes sinks only")
        from cloudcomputing_flink_application_spark import schemas
        from cloudcomputing_flink_application_spark.streaming.jobs import (
            run_purge_dedup_stream,
        )

        q = run_purge_dedup_stream(
            spark,
            spark.readStream.schema(schemas.DOCUMENTS).parquet(args.input),
            f"{args.output}/purge",
            f"{args.output}/_chk",
            f"{args.output}/_state",
            horizon_batches=args.horizon_batches,
            emit="delta" if args.emit_deltas else "full",
            compact_every=args.compact_every,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return
    out = minhash_purge_dedup(spark.read.parquet(args.input))
    out.write.mode("overwrite").parquet(args.output)
    if args.show:
        sinks.show(out)


def _dedup_report(args: argparse.Namespace) -> None:
    """Method-keyed duplicate-rate report over a ``documents``-shaped
    parquet input (``dedup.dedup_method_report``, r12): one row per text
    dedup family — exact / minhash_cc (full closure) / simhash — with
    ``(n_docs, n_dup, dup_per_10k)`` under the shared min-id-keeps flag
    convention, so a pipeline owner reads ONE frame to pick a method for
    a corpus.  The embedding-side members (hyperplane LSH, SemDeDup)
    report on the embeddings table via their own operators."""
    from cloudcomputing_flink_application_spark.operators.dedup import (
        dedup_method_report,
    )

    spark = get_spark(app_name="dedup-report")
    out = dedup_method_report(spark.read.parquet(args.input))
    out.write.mode("overwrite").parquet(args.output)
    if args.show:
        sinks.show(spark.read.parquet(args.output))


def _dedup_flags(args: argparse.Namespace) -> None:
    """Candidate-level MinHash band-flag job over a ``documents``-shaped
    parquet input — the high-recall ingest-time first pass of the dedup
    family (``minhash_band_flags``: is_dup iff the doc shares an LSH band
    bucket with a smaller doc_id; jaccard verification stays a later
    batch pass).

    Batch writes the (doc_id, is_dup) flag frame as parquet.
    ``--streaming`` runs ``run_minhash_dedup_stream`` over the input
    directory: per-batch banding with the accumulated bucket store under
    ``<output>/_state/bands``, checkpoints under ``<output>/_chk``,
    flags under ``<output>/flags``.  ``--horizon-batches N`` bounds the
    store to the trailing N batches.  ``--forget ID[,ID...]`` runs
    ``forget_docs_minhash`` against that store (per-doc band rows:
    deletion is exact and survivor buckets stay live) — the one forget
    path that had no shell surface until r8 (VERDICT r7 missing #3).
    """
    from cloudcomputing_flink_application_spark.operators.dedup import (
        minhash_band_flags,
    )

    spark = get_spark(app_name="dedup-flags")
    if args.forget:
        import os

        from cloudcomputing_flink_application_spark.streaming.jobs import (
            forget_docs_minhash,
        )

        if not os.path.isdir(f"{args.output}/_state/bands"):
            raise SystemExit(
                f"no streaming state under {args.output}/_state/bands — "
                "--forget operates on a dedup-flags --streaming output root"
            )
        ids = [int(x) for x in args.forget.split(",") if x.strip()]
        forget_docs_minhash(
            spark, f"{args.output}/_state/bands", ids, f"{args.output}/_chk"
        )
        return
    if args.streaming:
        if args.show:
            print("warning: --show is batch-only; streaming mode writes sinks only")
        from cloudcomputing_flink_application_spark import schemas
        from cloudcomputing_flink_application_spark.streaming.jobs import (
            run_minhash_dedup_stream,
        )

        q = run_minhash_dedup_stream(
            spark,
            spark.readStream.schema(schemas.DOCUMENTS).parquet(args.input),
            f"{args.output}/flags",
            f"{args.output}/_chk",
            f"{args.output}/_state/bands",
            horizon_batches=args.horizon_batches,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return
    out = minhash_band_flags(spark.read.parquet(args.input))
    out.write.mode("overwrite").parquet(args.output)
    if args.show:
        sinks.show(out)


def _span_scrub(args: argparse.Namespace) -> None:
    """Exact-substring dedup job over a ``documents``-shaped parquet input.

    Batch writes the scrubbed frame (doc_id, clean_text, kept_tokens,
    removed_tokens) as parquet; ``--stats`` writes the per-doc duplication
    stats table instead of scrubbing.  ``--width N`` sets the token-window
    width (default ``pipeline.DUP_SPAN_W``).

    ``--streaming`` runs ``run_span_flags_stream`` over the input
    directory: incremental duplicated-POSITION detection (file-arrival
    micro-batches, first-occurrence store under ``<output>/_state``,
    checkpoints under ``<output>/_chk``); the cumulative distinct
    (doc_id, p) set under ``<output>/positions`` equals the batch
    duplicated-start set.  Scrubbing itself stays batch (it rewrites
    whole documents, which retroactive flags would invalidate);
    ``--horizon-batches N`` bounds the store as in the other streams.
    """
    from cloudcomputing_flink_application_spark.operators.pipeline import (
        DUP_SPAN_W,
        dup_span_stats,
        scrub_dup_spans,
    )

    spark = get_spark(app_name="span-scrub")
    if args.forget:
        import os

        from cloudcomputing_flink_application_spark.streaming.jobs import (
            forget_docs_span,
        )

        if not os.path.isdir(f"{args.output}/_state"):
            raise SystemExit(
                f"no streaming state under {args.output}/_state — --forget "
                "operates on a span-scrub --streaming output root"
            )
        ids = [int(x) for x in args.forget.split(",") if x.strip()]
        forget_docs_span(
            spark, f"{args.output}/_state", ids, f"{args.output}/_chk"
        )
        return
    w = args.width if args.width is not None else DUP_SPAN_W
    if w < 1:
        raise SystemExit(f"--width must be >= 1, got {w}")
    if args.streaming:
        if args.show:
            print("warning: --show is batch-only; streaming mode writes sinks only")
        from cloudcomputing_flink_application_spark import schemas
        from cloudcomputing_flink_application_spark.streaming.jobs import (
            run_span_flags_stream,
        )

        q = run_span_flags_stream(
            spark,
            spark.readStream.schema(schemas.DOCUMENTS).parquet(args.input),
            f"{args.output}/positions",
            f"{args.output}/_chk",
            f"{args.output}/_state/firsts",
            w=w,
            horizon_batches=args.horizon_batches,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return
    docs = spark.read.parquet(args.input)
    out = dup_span_stats(docs, w=w) if args.stats else scrub_dup_spans(docs, w=w)
    out.write.mode("overwrite").parquet(args.output)
    if args.show:
        sinks.show(out)


def _corpus_profile(args: argparse.Namespace) -> None:
    """Per-source corpus profile over a ``documents``-shaped parquet input.

    Batch (default) writes the SKETCHED profile
    (``textstats.corpus_profile`` — DataSketches HLL distinct counts +
    GK length quantiles; the one-pass instrument whose aggregation state
    is fixed-size mergeable sketches).  ``--exact`` writes
    ``corpus_profile_exact`` instead: the fully-oracle'd baseline that
    pays the token-stream distinct shuffle and the per-source length
    sort — run it on a sample to calibrate the sketches per corpus.
    ``--pack`` joins the packing-trade columns onto either profile:
    ``straddle_docs`` (concat packer cross-contamination, pack_report)
    and ``n_bins`` / ``oversize_bins`` / ``padded_tokens`` / ``fill_pct``
    (FFD whole-doc packing, pack_bin_stats over pack_bins).

    ``--streaming`` runs ``run_corpus_profile_stream`` over the input
    directory: per-arrival CUMULATIVE profiles under ``<output>/profile``
    (the last batch partition equals the batch operators over everything
    arrived — bit-exact, see the stream's docstring), sketch + histogram
    stores under ``<output>/_state``, checkpoints under ``<output>/_chk``;
    ``--horizon-batches`` turns it into a rolling-window report.  No
    ``--forget`` here by design: the stores are aggregate-only (no
    per-doc rows; an HLL cannot subtract) — compliance deletion is a
    re-profile of the corrected corpus, one cheap pass.
    """
    from cloudcomputing_flink_application_spark.operators.textstats import (
        corpus_profile,
        corpus_profile_exact,
    )

    spark = get_spark(app_name="corpus-profile")
    if args.streaming:
        if args.exact or args.pack:
            raise SystemExit(
                "--exact / --pack are batch-only (the stream's profile "
                "columns are fixed by its store schema)"
            )
        if args.show:
            print("warning: --show is batch-only; streaming mode writes sinks only")
        from cloudcomputing_flink_application_spark import schemas
        from cloudcomputing_flink_application_spark.streaming.jobs import (
            run_corpus_profile_stream,
        )

        q = run_corpus_profile_stream(
            spark,
            spark.readStream.schema(schemas.DOCUMENTS).parquet(args.input),
            f"{args.output}/profile",
            f"{args.output}/_chk",
            f"{args.output}/_state",
            horizon_batches=args.horizon_batches,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return
    docs = spark.read.parquet(args.input)
    out = corpus_profile_exact(docs) if args.exact else corpus_profile(docs)
    if args.pack:
        from pyspark.sql import functions as F

        from cloudcomputing_flink_application_spark.operators.pipeline import (
            pack_bin_stats,
            pack_bins,
            pack_report,
        )

        # ADVICE r11: null-safe joins — a NULL-source group survives the
        # profile aggregations (groupBy keeps the NULL group) but an
        # equi-join on source would silently drop it, so adding --pack
        # changed the profile's row count.  Both pack frames group the
        # same docs by the same key, so eqNullSafe matches the NULL group
        # to its own pack columns instead of losing the row.
        rep = pack_report(docs).select(
            F.col("source").alias("_rs"), "straddle_docs"
        )
        bins = pack_bin_stats(pack_bins(docs)).select(
            F.col("source").alias("_bs"),
            "n_bins",
            "oversize_bins",
            "padded_tokens",
            "fill_pct",
        )
        out = (
            out.join(rep, out["source"].eqNullSafe(rep["_rs"]), "left")
            .drop("_rs")
            .join(bins, F.col("source").eqNullSafe(bins["_bs"]), "left")
            .drop("_bs")
        )
    out.write.mode("overwrite").parquet(args.output)
    if args.show:
        sinks.show(spark.read.parquet(args.output))


def _compact_store_cli(spark, output: str, subdir: str, what: str) -> None:
    """The shared --compact handler for the two index-store commands:
    refuse an unbuilt root, then fold the store's stream partitions
    (``compact_batch_store``) against the stream's own checkpoint."""
    import os

    from cloudcomputing_flink_application_spark.streaming.jobs import (
        compact_batch_store,
    )

    if not os.path.isdir(f"{output}/{subdir}"):
        raise SystemExit(
            f"no {what} under {output} — --compact operates on a built "
            "output root"
        )
    compact_batch_store(spark, f"{output}/{subdir}", f"{output}/_chk")


def _ivf_index(args: argparse.Namespace) -> None:
    """The ANN index lifecycle surface over an ``embeddings``-shaped
    parquet input.

    Batch (default) BUILDS the versioned index artifact under
    ``<output>`` (codebook / ref_stats / assignments —
    ``similarity.build_ivf_index``; ``--iters N`` adds k-means
    refinement).  ``--streaming`` runs ``run_ivf_assign_stream`` over the
    input directory against the already-built artifact: arriving vectors
    append assignment rows and per-batch drift readings.  ``--report``
    prints the drift report (mean assignment cosine vs the build
    reference — the rebuild-staleness instrument).  ``--rebuild-if-drift
    X`` closes that loop (r8): it rebuilds the index from ``--input``
    only when the newest ``--drift-consecutive`` readings ALL sit below
    X (r9, ADVICE: a sustained drop, so one noisy micro-batch cannot
    trigger a rebuild that also wipes the drift history) — the
    conditional maintenance step a scheduled job runs, under the same
    lock/refusal contract as an unconditional build.  ``--forget ID[,ID...]`` removes
    the vec_ids' index rows (same stream-stopped lock contract as the
    dedup stores).  ``--compact`` folds the assignment store's stream
    partitions into one (``compact_batch_store`` — bounds the
    O(stream-age) file count; rows untouched).
    """
    from pyspark.sql import functions as F

    from cloudcomputing_flink_application_spark.operators import similarity

    # flag conflicts exit before Spark startup (the hoisting convention)
    if args.compact and (
        args.streaming
        or args.forget
        or args.report
        or args.rebuild_if_drift is not None
    ):
        raise SystemExit(
            "--compact is a standalone maintenance action on a stopped "
            "stream's index root; run it alone"
        )
    if args.drift_horizon is not None and not args.streaming:
        raise SystemExit(
            "--drift-horizon is streaming-only (it ages the drift store "
            "as batches land)"
        )
    if (args.dedup_first or args.dedup_cos is not None) and (
        args.streaming or args.forget or args.report or args.compact
        or args.rebuild_if_drift is not None
    ):
        # same contract as pq-index: the purge changes WHICH vectors
        # exist, so it composes only with training a fresh artifact
        # (a drift rebuild re-reads --input under the ORIGINAL corpus
        # contract — dedup there would silently shrink the store)
        raise SystemExit(
            "--dedup-first (and --dedup-cos) apply to the build mode "
            "only — dedup the corpus, then build from survivors"
        )
    if args.dedup_cos is not None and not args.dedup_first:
        raise SystemExit("--dedup-cos requires --dedup-first")
    if args.dedup_cos is not None and not 0.0 < args.dedup_cos < 1.0:
        raise SystemExit(
            f"--dedup-cos must be a cosine strictly inside (0, 1), "
            f"got {args.dedup_cos}"
        )
    spark = get_spark(app_name="ivf-index")
    if args.compact:
        _compact_store_cli(spark, args.output, "assignments", "index")
        return
    if args.forget:
        from cloudcomputing_flink_application_spark.streaming.jobs import forget_vecs

        import os

        if not os.path.isdir(f"{args.output}/assignments"):
            raise SystemExit(
                f"no index under {args.output} — --forget operates on a "
                "built ivf-index output root"
            )
        ids = [int(x) for x in args.forget.split(",") if x.strip()]
        forget_vecs(spark, args.output, ids, f"{args.output}/_chk")
        return
    if args.report:
        sinks.show(similarity.drift_report(spark, args.output))
        return
    if args.rebuild_if_drift is not None:
        import os

        if not os.path.isdir(f"{args.output}/codebook"):
            raise SystemExit(
                f"no codebook under {args.output} — --rebuild-if-drift "
                "operates on a built ivf-index output root (build first)"
            )
        # A SUSTAINED drop is what the metric means (drift_report's
        # docstring), so one noisy micro-batch dipping below the
        # threshold must not trigger a full rebuild and (via the
        # batch-0 reset) wipe the drift history (ADVICE r8 low): the
        # newest --drift-consecutive readings must ALL sit below the
        # threshold, and FEWER than that many readings is not enough
        # evidence — no rebuild.  The strict count matters most right
        # AFTER a rebuild (r9 review catch): the rebuild wipes the
        # drift history, so a decide-on-available rule would let the
        # next single noisy batch trigger another rebuild — a churn
        # loop on noisy data, exactly what the flag exists to prevent.
        k = max(1, args.drift_consecutive)
        last = (
            similarity.drift_report(spark, args.output)
            .orderBy(F.desc("batch_id"))
            .limit(k)
            .collect()
        )
        if not last:
            # Fresh or just-rebuilt index: no stream batch has produced a
            # drift row yet, so there is no staleness evidence — no-op,
            # NOT a rebuild (rebuilding here would churn the artifact on
            # every scheduled run before any data arrives).
            print(
                "no drift readings yet (no stream batch since the last "
                "build); nothing to rebuild"
            )
            return
        if len(last) < k:
            # The retained count IS the whole store here (limit(k) came
            # back short), so a drift store pinned below k by the encode
            # stream's --drift-horizon is visible from this output alone:
            # the count repeating at the same value < k across scheduled
            # runs means the horizon is starving the rule (ADVICE r9 —
            # the two flags live on different invocations, so the
            # coupling must surface at decision time, not in help text).
            print(
                f"only {len(last)} drift reading(s) retained since the "
                f"last build (need {k} consecutive below "
                f"{args.rebuild_if_drift}): not enough evidence of a "
                "sustained drop — no rebuild.  If this count stays at "
                f"{len(last)} across runs, the encode stream's "
                f"--drift-horizon is below {k} and this rule can never "
                f"fire — size the horizon >= {k}"
            )
            return
        drifts = [float(r["drift"]) for r in last]
        healthy = [d for d in drifts if d >= args.rebuild_if_drift]
        if healthy:
            print(
                f"drift {drifts[0]:.4f} (latest of {len(drifts)} checked): "
                f"not {len(drifts)} consecutive readings below threshold "
                f"{args.rebuild_if_drift} — no rebuild"
            )
            return
        # Reuse the ORIGINAL build's refinement depth unless --iters is
        # explicitly given (r8 review catch: a scheduled maintenance run
        # that omitted --iters would otherwise silently downgrade a
        # refined codebook to the seed and re-baseline drift against the
        # degraded artifact).  A pre-build_meta index has UNKNOWN depth
        # (ADVICE r8 low: it may have been refined) — refuse rather than
        # guess.
        iters = (
            args.iters
            if args.iters is not None
            else similarity.build_iters(spark, args.output)
        )
        if iters is None:
            raise SystemExit(
                f"{args.output} predates the build_meta record, so its "
                "original k-means depth is unknown — pass --iters "
                "explicitly to rebuild (omitting it could silently "
                "downgrade a refined codebook to the seed)"
            )
        print(
            f"drift {drifts[0]:.4f} < threshold {args.rebuild_if_drift} "
            f"for the latest {len(drifts)} reading(s): rebuilding the "
            f"index (stale codebook; iters={iters})"
        )
        similarity.build_ivf_index(
            spark.read.parquet(args.input), args.output, iters=iters,
            checkpoint_dir=f"{args.output}/_chk",
        )
        return
    if args.streaming:
        import os

        from cloudcomputing_flink_application_spark.streaming.jobs import (
            run_ivf_assign_stream,
        )

        if not os.path.isdir(f"{args.output}/codebook"):
            raise SystemExit(
                f"no codebook under {args.output} — build the index first "
                "(ivf-index without --streaming)"
            )
        from cloudcomputing_flink_application_spark import schemas

        stream = spark.readStream.schema(schemas.EMBEDDINGS).parquet(args.input)
        q = run_ivf_assign_stream(
            spark,
            stream,
            f"{args.output}/_chk",
            args.output,
            drift_horizon=args.drift_horizon,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return
    corpus = spark.read.parquet(args.input)
    if args.dedup_first:
        from cloudcomputing_flink_application_spark.operators import dedup

        corpus = dedup.embedding_purge_dedup(
            corpus,
            cos_dup=(
                args.dedup_cos if args.dedup_cos is not None else EMB_NEARDUP_COS
            ),
        )
    # Pass the stream checkpoint the --streaming path uses: a rebuild while
    # that checkpoint holds an uncommitted batch would let the replay append
    # vectors the new batch 0 already contains (duplicate index rows).
    # _latest_numbered reads a missing checkpoint as -1, so a never-streamed
    # root builds without friction.
    similarity.build_ivf_index(
        corpus, args.output,
        iters=args.iters if args.iters is not None else 0,
        checkpoint_dir=f"{args.output}/_chk",
    )
    if args.show:
        sinks.show(spark.read.parquet(f"{args.output}/ref_stats"))


def _pq_index(args: argparse.Namespace) -> None:
    """The product-quantization artifact surface over an
    ``embeddings``-shaped parquet input.

    Batch (default) BUILDS the PQ artifact under ``<output>``
    (pq_codebook / codes/batch_id=0 / pq_meta —
    ``similarity.build_pq_index``); the codebook is THE versioned
    artifact, the codes are the 32x-compressed corpus.  ``--streaming``
    runs ``run_pq_encode_stream`` over the input directory: arriving
    vectors encode against the stored codebook and append code rows
    (batch + stream rows form one store; a rebuild fences the stream
    with the shared lock marker).  ``--encode-only`` REPLACES the codes
    store with ``--input`` (the FULL corpus, not just arrivals — those
    are ``--streaming``'s job) encoded against the STORED codebook,
    skipping training; geometry comes from pq_meta so a mismatched
    m/ksub cannot slip in.  ``--report``
    prints the raw-ADC recall report of ``--input`` against the stored
    codebook — the instrument that says whether this corpus's near-dup
    blob density needs a bigger rerank shortlist or dedup-before-index
    (SCALING.md pq).  ``--forget ID[,ID...]`` removes the vec_ids' code
    rows under the stream-stopped lock contract.  ``--compact`` folds
    the codes store's stream partitions into one (``compact_batch_store``
    — bounds the O(stream-age) file count; rows untouched)."""
    from cloudcomputing_flink_application_spark.operators import similarity

    # flag conflicts exit before Spark startup (the hoisting convention)
    if args.compact and (
        args.streaming or args.forget or args.report or args.encode_only
        or args.shortlist_report
    ):
        raise SystemExit(
            "--compact is a standalone maintenance action on a stopped "
            "stream's pq-index root; run it alone"
        )
    if args.shortlist_report and (
        args.streaming or args.forget or args.report or args.encode_only
    ):
        # dispatched first below, so combined flags would silently skip
        # the other action — including a --forget compliance deletion
        # (r10 review); refuse instead
        raise SystemExit(
            "--shortlist-report is a read-only standalone report; "
            "run it alone"
        )
    if (args.dedup_first or args.dedup_cos is not None) and (
        args.streaming or args.forget or args.report or args.encode_only
        or args.compact or args.shortlist_report
    ):
        # the purge changes WHICH vectors exist, so it only composes
        # with training a fresh artifact: encoding/streaming against a
        # stored codebook must see the same corpus the store accumulates
        raise SystemExit(
            "--dedup-first (and --dedup-cos) apply to the build mode "
            "only — dedup the corpus, then train/encode from survivors"
        )
    if args.dedup_cos is not None and not args.dedup_first:
        raise SystemExit("--dedup-cos requires --dedup-first")
    if args.dedup_cos is not None and not 0.0 < args.dedup_cos < 1.0:
        # a typo'd bar (-0.9, 0.09, 9.5) silently over- or under-purges
        # the corpus the index then trains on — destructive, so loud,
        # like every other pre-Spark guard here (r11 review)
        raise SystemExit(
            f"--dedup-cos must be a cosine strictly inside (0, 1), "
            f"got {args.dedup_cos}"
        )
    # --input is per-mode for this job (ADVICE r10): the build,
    # --streaming, --encode-only, and --report paths read it; the
    # maintenance/report modes (--compact, --shortlist-report, --forget)
    # operate on the stored artifact alone.  Validated here, before
    # Spark startup, like the flag conflicts above.
    if args.input is None and not (
        args.compact or args.shortlist_report or args.forget
    ):
        raise SystemExit(
            "--input is required for this mode (it supplies the vectors "
            "to train/encode/report on); only --shortlist-report, "
            "--compact and --forget run without it"
        )
    spark = get_spark(app_name="pq-index")
    if args.compact:
        _compact_store_cli(spark, args.output, "codes", "codes store")
        return
    if args.shortlist_report:
        # read-only instrument over the stored codes — no --input needed
        try:
            sinks.show(similarity.shortlist_report(spark, args.output))
        except ValueError as e:
            raise SystemExit(str(e))
        return
    if args.forget:
        import os

        from cloudcomputing_flink_application_spark.streaming.jobs import (
            forget_pq_vecs,
        )

        # accept the mid-swap crash state too (codes renamed to
        # .forget_bak, re-run is the documented recovery —
        # forget_pq_vecs's _recover_swap restores it; r9 review catch)
        codes = f"{args.output}/codes"
        if not (os.path.isdir(codes) or os.path.isdir(codes + ".forget_bak")):
            raise SystemExit(
                f"no codes store under {args.output} — --forget operates "
                "on a built pq-index output root"
            )
        ids = [int(x) for x in args.forget.split(",") if x.strip()]
        forget_pq_vecs(spark, args.output, ids, f"{args.output}/_chk")
        return
    if args.streaming:
        from cloudcomputing_flink_application_spark import schemas
        from cloudcomputing_flink_application_spark.streaming.jobs import (
            run_pq_encode_stream,
        )

        if similarity.pq_build_params(spark, args.output) is None:
            raise SystemExit(
                f"no pq_meta under {args.output} — --streaming encodes "
                "against a built pq-index output root (build first)"
            )
        stream = spark.readStream.schema(schemas.EMBEDDINGS).parquet(args.input)
        q = run_pq_encode_stream(
            spark, stream, f"{args.output}/_chk", args.output
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return
    if args.encode_only or args.report:
        params = similarity.pq_build_params(spark, args.output)
        if params is None:
            raise SystemExit(
                f"no pq_meta under {args.output} — --encode-only/--report "
                "operate on a built pq-index output root (build first)"
            )
        embs = spark.read.parquet(args.input)
        if args.report:
            sinks.show(
                similarity.pq_recall_report(
                    embs,
                    m=params["m"],
                    ksub=params["ksub"],
                    codebook=similarity.read_pq_codebook(spark, args.output),
                )
            )
            return
        similarity.replace_pq_codes(
            embs, args.output, checkpoint_dir=f"{args.output}/_chk"
        )
        if args.show:
            sinks.show(spark.read.parquet(f"{args.output}/codes"))
        return
    corpus = spark.read.parquet(args.input)
    if args.dedup_first:
        from cloudcomputing_flink_application_spark.operators import dedup

        corpus = dedup.embedding_purge_dedup(
            corpus,
            cos_dup=(
                args.dedup_cos if args.dedup_cos is not None else EMB_NEARDUP_COS
            ),
        )
    # Pass the stream checkpoint the --streaming path uses: a rebuild
    # while it holds an uncommitted batch would let the replay append
    # old-codebook codes under the new codebook.
    similarity.build_pq_index(
        corpus,
        args.output,
        m=args.m,
        ksub=args.ksub,
        iters=args.iters if args.iters is not None else 1,
        checkpoint_dir=f"{args.output}/_chk",
    )
    if args.show:
        sinks.show(spark.read.parquet(f"{args.output}/codes"))


def _ivfpq_search_job(args: argparse.Namespace) -> None:
    """IVFADC search from the STORED artifacts — the production query
    job: zero training at query time.  ``--ivf-root`` names a built
    ``ivf-index`` output, ``--pq-root`` a built ``pq-index`` output
    (both over the same corpus, kept live by their streams / forgets /
    compactions).  Batch (default): ``--input`` supplies the query
    vectors (vec_id % 100 == 0, the module's query stride) and the
    rerank shortlist's raw reads; writes (query_id, neighbor_id, rank,
    cos) parquet to ``--output``.  ``--streaming``: ``--input`` is the
    query STREAM directory (every arriving vector queries), ``--corpus``
    the rerank raw vectors; each micro-batch is served from the
    artifacts as they stand (``run_ivfpq_search_stream``) and appends
    results under ``<output>/batch_id=N``."""
    import os

    from cloudcomputing_flink_application_spark.operators import similarity

    spark = get_spark(app_name="ivfpq-search")
    if not os.path.isdir(f"{args.ivf_root}/codebook"):
        raise SystemExit(
            f"no codebook under {args.ivf_root} — --ivf-root must name a "
            "built ivf-index output root"
        )
    if args.streaming:
        from cloudcomputing_flink_application_spark import schemas
        from cloudcomputing_flink_application_spark.streaming.jobs import (
            run_ivfpq_search_stream,
        )

        if not args.corpus:
            raise SystemExit(
                "--streaming requires --corpus (the rerank stage's raw "
                "vectors; --input becomes the query stream directory)"
            )
        stream = spark.readStream.schema(schemas.EMBEDDINGS).parquet(args.input)
        try:
            q = run_ivfpq_search_stream(
                spark,
                stream,
                f"{args.output}/_chk",
                args.output,
                args.ivf_root,
                args.pq_root,
                spark.read.parquet(args.corpus),
                k=args.k,
                nprobe=args.nprobe,
                shortlist=args.shortlist,
            )
        except ValueError as e:
            raise SystemExit(str(e))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        if args.show:
            sinks.show(spark.read.parquet(args.output))
        return
    try:
        result = similarity.ivfpq_topk_from_index(
            spark,
            args.ivf_root,
            args.pq_root,
            spark.read.parquet(args.input),
            k=args.k if args.k is not None else similarity.TOPK,
            # None -> auto for both decisions (auto_shortlist r10,
            # auto_nprobe r11 — one fused stats pass over the stored
            # index rows); explicit flags pin them
            nprobe=args.nprobe,
            shortlist=args.shortlist,
        )
    except ValueError as e:
        # the operator's own precondition errors (unbuilt pq root, bad
        # k/shortlist) ARE the usage errors — no duplicate pq_meta probe
        raise SystemExit(str(e))
    result.write.mode("overwrite").parquet(args.output)
    if args.show:
        sinks.show(spark.read.parquet(args.output))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="cloudcomputing_flink_application_spark")
    sub = p.add_subparsers(dest="job", required=True)
    for name, fn, in_help, out_help in (
        ("vehicle-telematics", _vehicle_telematics,
         "car-report CSV file/dir", "output folder (3 CSVs)"),
        ("congestion-area", _congestion_area,
         "taxi-trip CSV file/dir", "output CSV file"),
        ("saturated-vendor", _saturated_vendor,
         "taxi-trip CSV file/dir", "output CSV file"),
        ("corpus-clean", _corpus_clean,
         "documents-shaped parquet file/dir", "output folder (parquet flags)"),
        ("train-data", _train_data,
         "documents-shaped parquet file/dir",
         "job root (prep rows / shards; clean + purge stores with "
         "--streaming)"),
        ("dedup-purge", _dedup_purge,
         "documents-shaped parquet file/dir", "output folder (parquet purge table)"),
        ("dedup-flags", _dedup_flags,
         "documents-shaped parquet file/dir",
         "output folder (parquet (doc_id, is_dup) flags)"),
        ("dedup-report", _dedup_report,
         "documents-shaped parquet file/dir",
         "output folder (parquet per-method duplicate-rate report)"),
        ("span-scrub", _span_scrub,
         "documents-shaped parquet file/dir",
         "output folder (parquet scrubbed docs, or stats with --stats)"),
        ("corpus-profile", _corpus_profile,
         "documents-shaped parquet file/dir",
         "output folder (per-source profile parquet; profile/stores/"
         "checkpoints under it with --streaming)"),
        ("ivf-index", _ivf_index,
         "embeddings-shaped parquet file/dir",
         "index root (codebook / ref_stats / assignments / drift)"),
        ("pq-index", _pq_index,
         "embeddings-shaped parquet file/dir",
         "artifact root (pq_codebook / codes / pq_meta)"),
        ("ivfpq-search", _ivfpq_search_job,
         "embeddings-shaped parquet file/dir (queries + rerank vectors)",
         "output folder (parquet (query_id, neighbor_id, rank, cos))"),
    ):
        sp = sub.add_parser(name)
        # pq-index has standalone maintenance/report modes that never
        # read --input (--shortlist-report, --compact, --forget), so it
        # validates presence per-mode in _pq_index instead of forcing a
        # dummy path on report-only invocations (ADVICE r10).
        sp.add_argument(
            "--input", required=(name != "pq-index"), help=in_help
        )
        sp.add_argument("--output", required=True, help=out_help)
        sp.add_argument("--show", action="store_true", help="also print to stdout")
        sp.add_argument(
            "--streaming", action="store_true",
            help="run the Structured Streaming variant "
            "(vehicle-telematics / corpus-clean)",
        )
        if name == "dedup-purge":
            sp.add_argument(
                "--forget", default=None, metavar="ID[,ID...]",
                help="compliance deletion instead of running the job: "
                "remove the doc_ids from the streaming state under "
                "<output>/_state and re-derive survivor edges (the stream "
                "must be stopped; refuses while its checkpoint holds an "
                "uncommitted batch, and leaves a lock the stream refuses "
                "to run under until the forget completes)",
            )
        if name == "span-scrub":
            sp.add_argument(
                "--forget", default=None, metavar="ID[,ID...]",
                help="compliance deletion instead of running the job: "
                "remove the doc_ids' rows (content-derived window hashes "
                "and positions) from the first-occurrence store under "
                "<output>/_state/firsts.  A dropped hash re-seeds on its "
                "next occurrence (pre-deletion history is gone — the "
                "conservative compliance direction); emitted output "
                "partitions are yours to redact.  Same stream-stopped "
                "lock contract as dedup-purge --forget.",
            )
        if name == "train-data":
            sp.add_argument(
                "--shards", type=int, default=None, metavar="N",
                help="batch / --materialize: also write the packed rows "
                "as N deterministic content-addressed training shards "
                "under <output>/shards (shard = stable hash of pack_id, "
                "so a packed sequence lands whole in one shard)",
            )
            sp.add_argument(
                "--pack-mode", choices=("chunks", "bins"), default="chunks",
                dest="pack_mode",
                help="batch / --materialize: packing regime — 'chunks' "
                "(concat-and-chunk, the oracle'd default; documents may "
                "straddle sequence boundaries) or 'bins' (chunk-then-bin "
                "FFD: over-budget docs pre-split into budget-sized "
                "pieces, then whole-piece packing — no straddling, "
                "explicit padding, no sequence ever over budget; pack_id "
                "becomes the bin identity)",
            )
            sp.add_argument(
                "--scrub-pii", action="store_true", dest="scrub_pii",
                help="batch / --materialize: apply the multi-class PII "
                "scrub (emails, IPv4s, phone-shaped runs, residual digit "
                "runs — priority-ordered placeholders) to the surviving "
                "docs' text before packing, so shards carry scrubbed "
                "bytes; scrubbing sits after dedup/purge so docs "
                "differing only in PII are not merged",
            )
            sp.add_argument(
                "--token-col", default=None, metavar="COL",
                dest="token_col",
                help="batch / --materialize: budget packing by this "
                "precomputed exact tokenizer-count column of the input "
                "parquet instead of the whitespace counter (rows where "
                "the column is NULL fall back to the counter); "
                "conservation and the <=budget capacity invariant hold "
                "in exact-token units",
            )
            sp.add_argument(
                "--semantic-dedup", default=None, metavar="EMB_PARQUET",
                dest="semantic_dedup",
                help="also SemDeDup-prune the near-dup purge survivors "
                "before packing, reading their embeddings (vec_id == "
                "doc_id) from this parquet — purge-first by construction "
                "(the semantic pass sees only purge survivors); docs "
                "without an embedding row pass through.  Under "
                "--streaming: maintain <output>/semantic/pruned over the "
                "accumulated survivors per invocation; --materialize "
                "applies the store without re-passing the flag",
            )
            sp.add_argument(
                "--tau", type=float, default=None, metavar="COS",
                help="semantic duplicate threshold for --semantic-dedup "
                "(cosine; default dedup.SEMANTIC_COS)",
            )
            sp.add_argument(
                "--materialize", action="store_true",
                help="streams stopped: compose the clean + purge stores "
                "a --streaming run maintains into the same <output>/prep "
                "(+ --shards) the batch job writes",
            )
            sp.add_argument(
                "--forget", default=None, metavar="ID[,ID...]",
                help="compliance deletion through the composed state "
                "(streams stopped): remove the doc_ids from the clean "
                "survivor-hash store AND the purge stores/table; re-run "
                "--materialize afterwards to rewrite prep/shards "
                "without them",
            )
        if name == "corpus-clean":
            sp.add_argument(
                "--forget", default=None, metavar="ID[,ID...]",
                help="compliance deletion instead of running the job: "
                "remove the doc_ids' (text-hash, doc_id) rows from the "
                "survivor-hash store under <output>/_state/hashes (a "
                "forgotten canonical doc's text re-seeds as uniq on its "
                "next identical survivor — the content left the kept "
                "corpus with its doc).  Same stream-stopped lock contract "
                "as dedup-purge --forget.",
            )
            sp.add_argument(
                "--shards", type=int, default=None, metavar="N",
                help="batch only: also write the kept documents as N "
                "deterministic content-addressed training shards under "
                "<output>_shards (shard = stable hash of doc_id — "
                "repeatable across rewrites and layouts)",
            )
        if name == "dedup-purge":
            sp.add_argument(
                "--compact", action="store_true",
                help="offline delta-history compaction instead of running "
                "the job: fold every delta partition under <output>/purge "
                "into one snapshot partition at the current max batch_id "
                "and drop the older ones — bounds the read-time fold for "
                "a long-lived --emit-deltas stream.  Stream must be "
                "stopped (same lock/uncommitted-checkpoint contract as "
                "--forget); the resumed stream appends above the "
                "snapshot.  In-stream alternative: --compact-every.",
            )
            sp.add_argument(
                "--compact-every", type=int, default=None, metavar="N",
                help="streaming + --emit-deltas only: fold the committed "
                "delta history into a snapshot partition every N batches, "
                "keeping the fold's input at most N+1 partitions at any "
                "stream age",
            )
            sp.add_argument(
                "--emit-deltas", action="store_true",
                help="streaming only: emit changed rows per batch "
                "(updated reps, one-time singletons, tombstones for "
                "absorbed or aged-out former reps) instead of the "
                "complete purge table — the O(changed) emission shape "
                "for large corpora; the current table is the fold of "
                "the deltas (latest row per doc, n_members > 0).  "
                "Composes with --horizon-batches (tombstones express "
                "the window's retractions) and --compact-every — "
                "together the fully bounded mode: O(window) state, "
                "O(changed) writes, O(N) fold.",
            )
        if name == "dedup-flags":
            sp.add_argument(
                "--forget", default=None, metavar="ID[,ID...]",
                help="compliance deletion instead of running the job: "
                "remove the doc_ids' (doc_id, band, key) rows — their "
                "content-derived MinHash band keys — from the bucket "
                "store under <output>/_state/bands.  Per-doc rows make "
                "deletion exact: survivors' buckets stay live, a future "
                "twin of a bucket only the forgotten doc occupied "
                "re-seeds as fresh.  Same stream-stopped lock contract "
                "as dedup-purge --forget.",
            )
        if name in ("corpus-clean", "dedup-purge", "dedup-flags", "span-scrub",
                    "corpus-profile"):
            sp.add_argument(
                "--horizon-batches", type=int, default=None,
                help="streaming only: bound the dedup state stores to the "
                "trailing N micro-batches (dedup-within-horizon; for "
                "corpus-profile: a rolling-window profile over the "
                "trailing N batches INCLUDING the current one)",
            )
        if name == "corpus-profile":
            sp.add_argument(
                "--exact", action="store_true",
                help="batch only: write corpus_profile_exact (the "
                "oracle'd baseline — exact distincts and rank quantiles; "
                "pays the token-stream shuffle) instead of the sketched "
                "profile",
            )
            sp.add_argument(
                "--pack", action="store_true",
                help="batch only: join the packing-trade columns "
                "(straddle_docs from the concat packer; n_bins/"
                "oversize_bins/padded_tokens/fill_pct from FFD pack_bins)",
            )
        if name == "ivf-index":
            sp.add_argument(
                "--dedup-first", action="store_true",
                help="purge near-duplicate vectors before the build "
                "(embedding_purge_dedup — the pq-index twin, r11): both "
                "roots of an IVFADC deployment should be built over the "
                "SAME survivor corpus (the from-index search inner-joins "
                "the stores, so a vector present in only one drops from "
                "candidates; deduping both keeps stores, ref_stats and "
                "drift aligned with what is served); build mode only",
            )
            sp.add_argument(
                "--dedup-cos", type=float, default=None, metavar="C",
                help="near-dup cosine bar for --dedup-first "
                "(default %.2f)" % EMB_NEARDUP_COS,
            )
            sp.add_argument(
                "--iters", type=int, default=None,
                help="k-means refinement iterations for the build "
                "(default 0: the deterministic two-level seed codebook).  "
                "With --rebuild-if-drift, omitting --iters reuses the "
                "depth the index was ORIGINALLY built with (stored in "
                "the artifact), so a maintenance run never downgrades a "
                "refined codebook by accident.",
            )
            sp.add_argument(
                "--report", action="store_true",
                help="print the drift report for an existing index root "
                "instead of building/assigning",
            )
            sp.add_argument(
                "--rebuild-if-drift", type=float, default=None, metavar="X",
                help="conditional rebuild: rebuild the index from --input "
                "only when the newest --drift-consecutive readings are "
                "ALL below X — a sustained drop, not one noisy batch "
                "(no drift rows yet = nothing stale = no-op; same lock/"
                "refusal contract as an unconditional build).  The "
                "maintenance step that closes the drift-report loop.",
            )
            sp.add_argument(
                "--drift-consecutive", type=int, default=3, metavar="K",
                help="how many consecutive below-threshold drift readings "
                "--rebuild-if-drift requires (default 3).  Fewer "
                "readings than K = not enough evidence, no rebuild — "
                "in particular right after a rebuild (which resets the "
                "drift history), so a single noisy batch can never "
                "start a rebuild-churn loop.  K=1 restores the "
                "latest-reading rule.",
            )
            sp.add_argument(
                "--forget", default=None, metavar="ID[,ID...]",
                help="compliance deletion: remove the vec_ids' assignment "
                "rows from the index (stream must be stopped; same lock "
                "contract as dedup-purge --forget; drift rows are "
                "k-anonymous aggregates and stay — full statistical "
                "erasure = rebuild)",
            )
            sp.add_argument(
                "--compact", action="store_true",
                help="offline store compaction (stream stopped): fold the "
                "assignment store's stream partitions (batch_id >= 1) "
                "into one partition, bounding the O(stream-age) "
                "directory/file count; rows are untouched, the build's "
                "batch 0 stays, a resumed stream appends above",
            )
            sp.add_argument(
                "--drift-horizon", type=int, default=None, metavar="N",
                help="with --streaming: bound the drift store to the "
                "trailing N readings (it otherwise grows one partition "
                "per micro-batch forever).  Size N >= the "
                "--drift-consecutive your --rebuild-if-drift runs use, "
                "or the rule never has enough readings to fire.",
            )
        if name == "pq-index":
            sp.add_argument(
                "--m", type=int, default=8,
                help="subspaces (embedding dim must divide evenly; "
                "default 8 — codes are m small ints per vector)",
            )
            sp.add_argument(
                "--ksub", type=int, default=16,
                help="centroids per subspace (default 16 = 4-bit codes; "
                "256 = byte codes at production scale)",
            )
            sp.add_argument(
                "--iters", type=int, default=None,
                help="Lloyd refinement iterations for the codebook "
                "(default 1)",
            )
            sp.add_argument(
                "--dedup-first", action="store_true",
                help="purge near-duplicate vectors before training/"
                "encoding (embedding_purge_dedup: LSH star edges -> "
                "cosine verify -> connected components, one survivor "
                "per blob) — the composed remedy for a clamped "
                "shortlist (--shortlist-report clamped=true) and the "
                "degenerate sub-ksub geometry; build mode only",
            )
            sp.add_argument(
                "--dedup-cos", type=float, default=None, metavar="C",
                help="near-dup cosine bar for --dedup-first "
                "(default %.2f)" % EMB_NEARDUP_COS,
            )
            sp.add_argument(
                "--encode-only", action="store_true",
                help="skip training: REPLACE <output>/codes with --input "
                "(the full corpus, not just arrivals) encoded against "
                "the STORED codebook (geometry from pq_meta)",
            )
            sp.add_argument(
                "--shortlist-report", action="store_true",
                help="print the auto-shortlist decision over the STORED "
                "codes (n_vectors, top_blob, shortlist, clamped) — "
                "clamped=true means the largest near-dup blob "
                "outgrew PQ_SHORTLIST_CAP and the corpus needs "
                "dedup-before-index; --input is ignored",
            )
            sp.add_argument(
                "--report", action="store_true",
                help="print the raw-ADC recall report of --input against "
                "the stored codebook instead of building/encoding",
            )
            sp.add_argument(
                "--forget", default=None, metavar="ID[,ID...]",
                help="compliance deletion: remove the vec_ids' code rows "
                "from <output>/codes (stream must be stopped; same lock "
                "contract as ivf-index --forget; the codebook's centroids "
                "are k-anonymous aggregates and stay — full statistical "
                "erasure = rebuild)",
            )
            sp.add_argument(
                "--compact", action="store_true",
                help="offline store compaction (stream stopped): fold the "
                "codes store's stream partitions (batch_id >= 1) into "
                "one partition, bounding the O(stream-age) directory/"
                "file count; rows are untouched, the build's batch 0 "
                "stays, a resumed stream appends above",
            )
        if name == "ivfpq-search":
            sp.add_argument(
                "--ivf-root", required=True,
                help="a built ivf-index output root (coarse codebook + "
                "assignment store)",
            )
            sp.add_argument(
                "--pq-root", required=True,
                help="a built pq-index output root (code codebook + codes "
                "store; geometry from its pq_meta)",
            )
            sp.add_argument(
                "--k", type=int, default=None,
                help="neighbors per query (default: the operator's TOPK)",
            )
            sp.add_argument(
                "--nprobe", type=int, default=None,
                help="IVF cells probed per query (default: the top "
                "near-dup blob's measured cell spread over the stored "
                "index rows + 1, floored at the operator's NPROBE)",
            )
            sp.add_argument(
                "--shortlist", type=int, default=None,
                help="ADC shortlist size for the exact rerank (default: "
                "the stored codes' largest near-identical code group + "
                "the operator's PQ_SHORTLIST, capped at PQ_SHORTLIST_CAP)",
            )
            sp.add_argument(
                "--corpus", default=None,
                help="with --streaming: the rerank stage's raw vectors "
                "(embeddings-shaped parquet; --input becomes the query "
                "STREAM directory — arriving query vectors are served "
                "per micro-batch from the stored artifacts, results "
                "append under <output>/batch_id=N)",
            )
        if name == "span-scrub":
            sp.add_argument(
                "--width", type=int, default=None,
                help="token-window width for span duplication "
                "(default: pipeline.DUP_SPAN_W)",
            )
            sp.add_argument(
                "--stats", action="store_true",
                help="write the per-doc duplication stats table instead of "
                "the scrubbed corpus",
            )
        sp.set_defaults(fn=fn)
    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
