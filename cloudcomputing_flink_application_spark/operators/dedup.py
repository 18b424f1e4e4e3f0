"""Deduplication operators over the ``documents`` / ``embeddings`` tables.

Capability extension beyond the reference (BASELINE.json ``north_star``):
the dedup family a large-scale training-data pipeline needs, each designed
around a *blocking* strategy so no stage is O(n²) on the full corpus:

- exact:           hash-groupBy on md5(text)                — shuffle by hash
- minhash_lsh:     minhash sig -> band buckets -> verify    — shuffle by band key
- simhash:         simhash -> 8-bit band buckets -> verify  — shuffle by band value
- ngram_jaccard:   char-trigram jaccard within source block — shuffle by source
- embedding_cosine: exact cosine pairs (baseline; the ANN path for scale
  lives in operators.similarity)

All arithmetic is engine-parity-safe (see functions.text): md5-derived
integer hashes, integer band keys, and jaccard/cosine as exact ratios of
per-row sequential folds — every operator here has a full DuckDB oracle.
"""

from __future__ import annotations

import math
import threading

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cloudcomputing_flink_application_spark.functions import text as X
from cloudcomputing_flink_application_spark.plans.barrier import filter_after_barrier
from cloudcomputing_flink_application_spark.plans.spread import _spread

# thresholds (shared by Spark impls and SQL oracles)
MINHASH_JACCARD = 0.9
SIMHASH_MAX_HAMMING = 1
TRIGRAM_JACCARD = 0.5
COSINE_DUP = 0.4


# --- persisted-frame registry ------------------------------------------------

#: Frames persisted by the operators below.  The operators return LAZY
#: DataFrames, so they cannot unpersist after "the" action themselves — the
#: action happens after they return, and the CacheManager dedups repeated
#: plans.  Long-lived sessions processing many DIFFERENT corpora should call
#: :func:`release_cached` so executor storage does not grow without bound.
#: ``spark.catalog.clearCache()`` is NOT equivalent: it drops the persisted
#: frames' cache entries but leaves this registry, and it frees no
#: :func:`truncate_lineage` snapshot (local checkpoint blocks are RDD-level
#: persists, reliable ones are files) — those go with ``release_cached()``
#: or, for local blocks, JVM GC.
#:
#: The registry is PER-THREAD (ADVICE r8 low): every mark/release pair in
#: the repo runs on the thread that persisted (a stream's per-batch release
#: lives inside the same ``foreachBatch`` call; tests and bench release on
#: the operator's own thread), and Structured Streaming gives each query
#: its own execution thread — so with concurrent streams in one session a
#: scoped release can only ever drop frames ITS OWN stream persisted,
#: never interleave with another's.  The one contract this imposes:
#: release on the thread that ran the operator (true at every call site;
#: a thread that exits without releasing leaks its persisted frames until
#: clearCache, and its truncate_lineage snapshots until GC or session end).
_TLS = threading.local()


def _frames() -> list[DataFrame]:
    frames = getattr(_TLS, "frames", None)
    if frames is None:
        frames = _TLS.frames = []
    return frames


def _persist(df: DataFrame) -> DataFrame:
    df.persist()
    _frames().append(df)
    return df


def release_cached(since: int = 0) -> None:
    """Unpersist every frame the dedup operators have cached ON THIS
    THREAD (see the ``_TLS`` note: the registry is per-thread, so
    concurrent streams cannot clobber each other's caches).

    The explicit release handle for long-lived sessions: calling this after
    consuming an operator's output frees executor storage without nuking
    unrelated cache entries the way ``spark.catalog.clearCache()`` does.
    Unpersisting a frame that clearCache already dropped is a no-op.

    ``since`` scopes the release to frames persisted AFTER a
    :func:`cached_mark` snapshot — what a long-running stream uses to
    drop its own batch's frames without releasing the ones a caller on
    the same thread is still using (r8 review catch).
    """
    frames = _frames()
    while len(frames) > since:
        frames.pop().unpersist()


def cached_mark() -> int:
    """Current length of this thread's operator cache registry; pass to
    ``release_cached(since=mark)`` for a scoped release."""
    return len(_frames())


# --- exact -------------------------------------------------------------------


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup: assign every doc the min doc_id of its text-hash group.

    Output: (doc_id, canonical_id, is_dup).  Scale: one shuffle keyed by
    md5(text) — uniform 128-bit keys, no skew beyond true duplicate mass.
    NULL text hashes as the empty string on both engines (md5(NULL) is NULL,
    and a NULL key would group here but never equi-join in the oracle).
    """
    # Single shuffle: min-per-group via a window on the hash key (an
    # aggregate + self-join would shuffle twice for the same answer).
    w = Window.partitionBy(F.md5(F.coalesce(F.col("text"), F.lit(""))))
    return documents.select(
        "doc_id",
        F.min("doc_id").over(w).alias("canonical_id"),
    ).select(
        "doc_id",
        "canonical_id",
        (F.col("doc_id") != F.col("canonical_id")).alias("is_dup"),
    )


EXACT_DEDUP_SQL = """
WITH by_hash AS (
  SELECT doc_id, md5(coalesce(text, '')) AS h FROM documents
),
canon AS (
  SELECT h, min(doc_id) AS canonical_id FROM by_hash GROUP BY h
)
SELECT b.doc_id, c.canonical_id, b.doc_id <> c.canonical_id AS is_dup
FROM by_hash b JOIN canon c USING (h)
"""


# --- MinHash + LSH -----------------------------------------------------------


def _exact_groups(
    documents: DataFrame, null_distinct: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Collapse exact-duplicate texts before LSH banding.

    Returns ``(reps, members)``: ``reps`` keeps ONE row per distinct text
    (the min doc_id of its md5 group) and ``members`` maps every doc_id to
    its group's canonical id.  Banding then sees each text once, so the
    degenerate corpus — the same boilerplate text x 100k copies, common in
    real crawls — contributes a single row per band bucket instead of
    turning the bucket self-join into O(k²) candidate pairs inside one
    task.  Duplicate mass re-enters only as the final pair expansion,
    which is plain join fan-out with no per-pair verify cost.

    ``null_distinct=True`` keeps NULL text in its own group instead of
    folding it into ``''``: simhash distinguishes them (NULL text yields a
    NULL signature that never equi-joins; ``''`` yields a defined
    signature that does), while the minhash path drops both before
    banding, so there the fold is harmless.

    One shuffle: hash-repartition by the group key, then the window's
    partitioning requirement is already satisfied (same canonical
    expression), so min-per-group adds no second exchange.  The md5 key is
    non-nullable by construction, keeping inferred isnotnull constraints
    foldable (the InferFiltersFromConstraints pathology — see
    _token_sets).
    """
    if null_distinct:
        key = F.coalesce(F.md5(F.col("text")), F.lit("<null-text>"))
    else:
        key = F.md5(F.coalesce(F.col("text"), F.lit("")))
    nparts = documents.sparkSession.sparkContext.defaultParallelism
    # ONE persisted frame feeds both branches: members (expansion joins,
    # read 2-3x) and reps (the banding pipeline) — without it the
    # repartition+window recomputes per consumer.  gsize rides the same
    # window partition for free and lets the expansion touch ONLY
    # multi-member groups (singletons expand to themselves).
    w = Window.partitionBy(key)
    tagged = _persist(
        documents.repartition(nparts, key).select(
            "doc_id",
            "text",
            F.min("doc_id").over(w).alias("canon"),
            F.count(F.lit(1)).over(w).alias("gsize"),
        )
    )
    members = tagged.select("doc_id", "canon", "gsize")
    reps = tagged.filter(F.col("doc_id") == F.col("canon")).select(
        "doc_id", "text"
    )
    return reps, members


def _expand_pairs(
    rep_pairs: DataFrame, members: DataFrame, score_col: str
) -> DataFrame:
    """Expand canonical-rep pairs back to all member pairs.

    Every member of group A pairs with every member of group B at the
    reps' score (identical texts have identical signatures and token
    sets, so the score is exactly the one the uncollapsed pipeline would
    compute).  Only multi-member groups join (a singleton's sole member IS
    its rep — coalesce keeps the rep id), so the join's build side is the
    duplicate mass only, not one row per document: small enough for a
    runtime broadcast on realistic corpora, and the big pair frame is
    never shuffled just to map singletons to themselves.  Output keeps
    doc_a < doc_b; cross-group pairs can order either way once expanded,
    hence least/greatest.
    """
    dup = members.filter(F.col("gsize") > 1)
    ma = dup.select(F.col("canon").alias("doc_a"), F.col("doc_id").alias("_ia"))
    mb = dup.select(F.col("canon").alias("doc_b"), F.col("doc_id").alias("_ib"))
    a = F.coalesce("_ia", F.col("doc_a"))
    b = F.coalesce("_ib", F.col("doc_b"))
    return (
        rep_pairs.join(ma, "doc_a", "left")
        .join(mb, "doc_b", "left")
        .select(
            F.least(a, b).alias("doc_a"),
            F.greatest(a, b).alias("doc_b"),
            score_col,
        )
    )


def _intra_group_pairs(members: DataFrame, live_canon: DataFrame) -> DataFrame:
    """All within-group pairs ``(doc_a, doc_b)`` for groups whose canonical
    rep appears in ``live_canon`` (a one-column ``canon`` frame naming the
    groups that would actually emit pairs — nonempty token sets for
    minhash, non-NULL signatures for simhash).  Singleton groups have no
    within-group pairs, so only the duplicate mass enters the self-join."""
    ne = members.filter(F.col("gsize") > 1).join(
        live_canon, "canon", "left_semi"
    )
    return (
        ne.alias("x")
        .join(ne.alias("y"), "canon")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
    )


def _tokset_groups(toks: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The PAIRS pipeline's duplicate collapse, keyed on the TOKEN SET
    (r15 optimization round, guide §1.2 "the distributed algorithm" /
    §2.5 skew).

    ``_exact_groups`` collapsed identical texts, but banding, the size
    prune, and the jaccard verify are all functions of the token SET
    alone — distinct texts with equal toksets ("a b" vs "b  a" vs
    "A b", or template docs differing only in token order/casing/
    whitespace) carry identical signatures, land in identical buckets,
    and score exactly 1.0 against each other (|I|/(2n-n) with na = nb =
    |I|) and identically against everything else.  Identical texts have
    identical toksets, so a tokset-keyed collapse strictly subsumes the
    text-keyed one at the same plan shape: one group window, one
    expansion join, one intra self-join.  Measured at sf0.1: 4,992
    unique texts hold only 3,935 distinct toksets with one 248-member
    group, and collapsing them cuts the band self-join's enumerated
    pairs 10.77M -> 4.15M (the all-pairs cost inside a bucket is
    quadratic in the duplicated mass, exactly the degenerate-corpus
    argument ``_exact_groups`` records for identical texts — a template
    corpus re-orders and re-cases, and only this key catches it).

    Two rejected shapes, both measured this round: a SECOND collapse
    level over the text-reps added ~23 stages (extra window + either a
    composed-map join the planner would not broadcast — 2 shuffles of
    the ~1M-row expanded pair frame, +1,087 tasks — or a second
    expansion level whose broadcast builds serialized on the critical
    path); collapsing documents twice pays twice for what one
    tokset-keyed window buys outright.

    ``toks``: a ``_token_sets`` frame (normally over the raw documents).
    Returns ``(rep_toks, members)`` — one ``(doc_id, tokset, nset)`` row
    per distinct tokset (min doc_id of the group) and the member map
    ``(doc_id, canon, gsize)`` in the exact shape ``_exact_groups``
    returns, so the expansion machinery applies unchanged.  Documents
    whose text never tokenizes (whitespace-only/NULL — the rlike filter
    in ``_token_sets``) appear in NEITHER frame and can emit no pair,
    matching the uncollapsed pipeline's NULL-band/NULL-jaccard drops.
    The group key is md5 of the sorted tokens joined by a space: tokens
    are split on whitespace, so the join is injective.
    """
    key = F.md5(F.array_join(F.array_sort("tokset"), " "))
    nparts = toks.sparkSession.sparkContext.defaultParallelism
    w = Window.partitionBy(key)
    tagged = _persist(
        toks.repartition(nparts, key).select(
            "doc_id",
            "tokset",
            "nset",
            F.min("doc_id").over(w).alias("canon"),
            F.count(F.lit(1)).over(w).alias("gsize"),
        )
    )
    rep_toks = tagged.filter(F.col("doc_id") == F.col("canon")).select(
        "doc_id", "tokset", "nset"
    )
    members2 = tagged.select("doc_id", "canon", "gsize")
    return rep_toks, members2


def _token_sets(documents: DataFrame) -> DataFrame:
    # Spread BEFORE the tokenize/hash projection: a single-file parquet
    # scan is one partition, and computing per-doc arrays there would
    # serialize the whole corpus prep.  GATED via _spread (r14
    # optimization round, guide §2.4): a many-split corpus scan at scale
    # already carries full parallelism and skips what would be a full
    # shuffle of the text column.  The non-empty check is the CHEAP
    # equivalent predicate (text has a non-whitespace char), applied before
    # the projection so pushdown can't re-inline the tokenize pipeline.
    # coalesce(text,'') makes every derived expression non-nullable, so the
    # isnotnull constraints the downstream joins infer fold to true instead
    # of dragging the whole tokenize+md5 pipeline into a pre-repartition
    # scan filter (observed: 10x slowdown from exactly that).
    return (
        _spread(documents.filter(F.col("text").rlike(r"\S")))
        .select(
            "doc_id",
            F.array_distinct(
                X.tokens_of("coalesce(text, '')")
            ).alias("tokset"),
        )
        .withColumn("nset", F.size("tokset"))
    )


def band_rows(documents: DataFrame) -> DataFrame:
    """LSH band bucket rows (doc_id, band, key) for a document frame.

    Shared by the candidate-level flag operator below and the streaming
    incremental banding (streaming.jobs.run_minhash_dedup_stream), which
    calls it per micro-batch and joins against the accumulated bucket set.
    """
    return band_rows_from_toksets(_token_sets(documents))


#: Raw 56-bit per-token hashes of a ``tokset`` column.  The VERIFY joins
#: intersect these longs instead of the token strings (r14 optimization
#: round 2nd session, guide §2.3 "shuffle keys and metadata instead of
#: payloads" / §1.2 per-task work): set ops over fixed-width longs beat
#: string hashing+equality per pair, and the cached prep frame shrinks
#: ~4x.  |intersect| is unchanged unless two distinct tokens of one pair
#: collide in 56 bits (P ~ n_tok^2/2^57 per pair — the same accepted
#: envelope as the trigram arm's ``g3`` hashes, where both engines hash;
#: here the DuckDB oracle KEEPS the string form, so parity additionally
#: re-proves the no-collision fact on every run).  NOTE: the full-width
#: hash is NOT the signatures' ``% MINHASH_PRIME`` value — that modulus
#: is ~2^32, and at millions of verify pairs a 32-bit space would
#: actually collide; the permutation inputs are derived from these longs
#: elementwise instead (``_mh_sigs`` second projection).
_TH_SX = f"transform(tokset, s -> {X.h56_sx('s')})"


def _hashed_token_sets(toks: DataFrame) -> DataFrame:
    """(doc_id, th, nset) from a ``_token_sets`` frame: the one md5 pass
    both the MinHash signatures and the jaccard verify share."""
    return toks.select("doc_id", X.xp(_TH_SX).alias("th"), "nset")


def _mh_sigs(toks: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, mh0..mh15) signatures with the token-hash array
    MATERIALIZED ONCE between two projections (r14 optimization round,
    guide §1.2 per-task work).  The previous single-projection form
    inlined ``transform(tokset, md5-hash)`` into each of the NUM_PERM
    permutation expressions, and higher-order functions are interpreted
    (no cross-expression CSE), so md5 ran NUM_PERM times per token.  The
    two-step projection hashes each token once; CollapseProject leaves it
    alone because the producer expression is non-cheap and consumed
    NUM_PERM times.  Same arithmetic, bit-identical signatures.

    Accepts either a ``_token_sets`` frame (tokset strings — hashed
    here) or a ``_hashed_token_sets`` frame (th longs — the shared-md5
    fast path; ``h56(s) % P`` == ``th % P`` elementwise, so the
    permutation inputs and hence the signatures are bit-identical).

    ``extra``: additional input columns to carry through (e.g. nset
    for the band join's size prune)."""
    if "th" in toks.columns:
        hashed = toks.select(
            "doc_id",
            *extra,
            X.xp(f"transform(th, h -> h % {X.MINHASH_PRIME})").alias("_hs"),
        )
    else:
        hashed = toks.select(
            "doc_id",
            *extra,
            X.xp(
                f"transform(tokset, s -> ({X.h56_sx('s')}) % {X.MINHASH_PRIME})"
            ).alias("_hs"),
        )
    return hashed.select(
        "doc_id",
        *extra,
        *[
            X.xp(
                f"array_min(transform(_hs, h -> ({a} * h + {b}) % "
                f"{X.MINHASH_PRIME}))"
            ).alias(f"mh{j}")
            for j, (a, b) in enumerate(zip(X.MINHASH_A, X.MINHASH_B))
        ],
    )


def band_rows_from_toksets(toks: DataFrame) -> DataFrame:
    """``band_rows`` over an already-tokenized frame (``_token_sets``
    output).  Callers that need BOTH the token sets and the band rows of
    the same frame (the purge stream: token sets feed the jaccard verify,
    band rows feed the buckets) thread one persisted token-set frame
    through both, tokenizing each document exactly once per micro-batch —
    the batch twin (``_verified_star_edges``) shares its token sets the
    same way."""
    sigs = _mh_sigs(toks)
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("band"), X.band_key(j).alias("key"))
                    for j in range(X.LSH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")


def minhash_band_flags(documents: DataFrame) -> DataFrame:
    """Candidate-level MinHash dedup flags: ``is_dup`` iff the doc shares
    any LSH band bucket with a smaller doc_id.

    This is ``minhash_cluster_dedup`` WITHOUT the jaccard verify — the
    high-recall first-pass filter a streaming deduper applies at ingest
    (verification of the flagged survivors runs as a later batch pass).
    It is the exact batch contract of the incremental streaming variant:
    tests/test_streaming.py pins streaming == batch on doc_id-ordered
    arrival.  Output: (doc_id, is_dup).
    """
    bands = band_rows(documents)
    w = Window.partitionBy("band", "key")
    dup_ids = (
        bands.withColumn("rep", F.min("doc_id").over(w))
        .filter(F.col("rep") < F.col("doc_id"))
        .select("doc_id")
        .distinct()
        .withColumn("_d", F.lit(True))
    )
    return (
        documents.select("doc_id")
        .join(dup_ids, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("_d"), F.lit(False)).alias("is_dup"))
    )


def _minhash_band_flags_sql() -> str:
    mh_exprs = ",\n         ".join(X.minhash_sig_sql("tokset"))
    band_rows_sql = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {j} AS band, {X.band_key_sql(j)} AS key FROM sigs"
        for j in range(X.LSH_BANDS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, list_distinct({X.tokens_sql('text')}) AS tokset
  FROM documents
),
nonempty AS (SELECT * FROM toks WHERE len(tokset) > 0),
sigs AS (
  SELECT doc_id,
         {mh_exprs}
  FROM nonempty
),
bands AS (
{band_rows_sql}
),
dup_ids AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY band, key) AS rep
    FROM bands
  ) WHERE rep < doc_id
)
SELECT d.doc_id, dup_ids.doc_id IS NOT NULL AS is_dup
FROM (SELECT doc_id FROM documents) d
LEFT JOIN dup_ids USING (doc_id)
"""


MINHASH_BAND_FLAGS_SQL = _minhash_band_flags_sql()


def minhash_lsh_dedup(documents: DataFrame) -> DataFrame:
    """Near-dup pairs via MinHash banding, verified with exact jaccard.

    Pipeline: token sets -> duplicate collapse keyed on the TOKEN SET
    (one rep per distinct tokset — r15, subsumes the old exact-text
    collapse; see _tokset_groups) -> 16-perm MinHash signature (per-row
    array math, fuses into the scan) -> 4 bands of 4 -> self-join per
    band bucket -> exact jaccard >= 0.9 on the candidate set -> expand
    rep pairs back to all member pairs.  Scale: the only joins are
    equi-joins on band keys over UNIQUE TOKSETS, so bucket width is
    bounded by genuinely-distinct near-dup content — identical-text AND
    reordered/recased-template mass (the degenerate crawl corpus) never
    enters a bucket and re-appears only as join fan-out in the final
    expansion.  The verify join touches rep candidates only.

    Output: (doc_a, doc_b, jaccard), doc_a < doc_b, de-duplicated across
    bands.  Equal-tokset pairs carry jaccard 1.0 — exactly what the
    uncollapsed pipeline computes for them (|I|/(na+nb-|I|) with
    na = nb = |I|).

    Caching contract: the token-set and band frames are ``persist()``-ed
    (see below) and deliberately NOT unpersisted here — the operator
    returns a lazy DataFrame, so the consuming action happens after this
    function exits, and the CacheManager dedups repeat calls on the same
    input by canonical plan.  Long-lived sessions running many DIFFERENT
    corpora should release entries between corpora with
    :func:`release_cached` (see the registry note on ``clearCache()``).
    """
    # Materialize the expensive prep ONCE: tokset feeds the band self-join
    # (twice) and the ta/tb verify sides (twice more) — without persist the
    # tokenize->md5->MinHash pipeline recomputes ~4x (measured: 30% of the
    # whole bench).  Cached frames are tiny relative to the corpus (arrays of
    # 56-bit longs / 3-int band rows); MEMORY_AND_DISK spills under pressure,
    # and the CacheManager dedups by canonical plan so repeated calls share
    # entries instead of stacking copies (the cluster variants persist a
    # different plan — see _verified_star_edges).
    # Collapse by TOKEN SET instead of by exact text (r15 — see
    # _tokset_groups): banding, the size prune, and the jaccard verify
    # are all functions of the tokset alone, so the pipeline sees one
    # row per DISTINCT TOKSET and every pair expands back through the
    # tokset-group member map.  Identical texts have identical toksets,
    # so this STRICTLY SUBSUMES the old `_exact_groups` text collapse at
    # the same stage count — one group window, one expansion join, one
    # intra self-join — while the group key costs tokenize+sort+md5 per
    # document instead of md5(text) (same order, in-scan, parallel) and
    # the group shuffle carries the deduplicated token array instead of
    # the raw text.  Emitted pairs are unchanged: equal-tokset pairs
    # score exactly 1.0 (the intra expansion below) and everything else
    # scores identically through the group rep (the unchanged DuckDB
    # oracle re-proves this on every parity run).
    rep_toks, members = _tokset_groups(_token_sets(documents))
    # The persisted prep carries HASHED token sets (th, 56-bit longs —
    # see _TH_SX): one md5 pass feeds both the signature pipeline and
    # the verify intersect, the cache entry shrinks ~4x vs token
    # strings, and the per-pair verify compares longs instead of
    # strings.  |intersect| (and hence every emitted jaccard) is
    # unchanged absent 56-bit collisions inside one pair — the
    # unchanged string-form DuckDB oracle re-proves that on every
    # parity run.
    toks = _persist(_hashed_token_sets(rep_toks))
    sigs = _mh_sigs(toks, extra=("nset",))
    bands = sigs.select(
        "doc_id",
        "nset",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("band"), X.band_key(j).alias("key"))
                    for j in range(X.LSH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "nset", "bk.band", "bk.key")
    bands = _persist(bands)
    # Size-ratio prune in the band join (r14 optimization round, guide
    # §2.3/§1.2): |I| <= min(|A|,|B|), so jaccard >= t is impossible
    # unless (t_den+t_num)*min >= t_num*(|A|+|B|) — the same lossless
    # integer prune the trigram arm has carried since its review, now on
    # the band self-join too.  It runs BEFORE the distinct and the
    # per-pair intersect, so provably-failing pairs never shuffle or
    # verify.  Measured at sf0.1: 6.07M candidate pairs -> 2.89M (the
    # remaining floor is the bucket fan-out the equi-join must enumerate
    # before any residual predicate can run).  Emitted pairs unchanged:
    # every dropped pair has jaccard < t by the bound above
    # (boundary-exact in integers, >= kept).
    t_num, t_den = int(MINHASH_JACCARD * 10), 10
    size_prune = (t_den + t_num) * F.least(
        F.col("a.nset"), F.col("b.nset")
    ) >= t_num * (F.col("a.nset") + F.col("b.nset"))
    cands = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & size_prune,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # |union| = |A| + |B| - |I|, so one array_intersect per pair is the whole
    # verify cost — array_union would double it for no information.
    ta = toks.select(
        F.col("doc_id").alias("doc_a"), F.col("th").alias("_ta"),
        F.col("nset").alias("_na"),
    )
    tb = toks.select(
        F.col("doc_id").alias("doc_b"), F.col("th").alias("_tb"),
        F.col("nset").alias("_nb"),
    )
    # Project the INTEGER intersect, filter on the cross-multiplied
    # integer bound, and derive jaccard from the projected column
    # afterwards (r14 optimization round 2nd session, guide §1.2).
    # Interleaved A/B at sf0.1: 4.8 s -> 3.0 s for the pairs phase vs
    # filtering on the projected double — the double form made the
    # whole surviving projection (division included) part of the
    # filter's input row, and the integer predicate additionally skips
    # the divide for the ~99.6% of candidates that fail.  Exact
    # equivalence: jaccard >= t  <=>  (t_den+t_num)*|I| >= t_num*(na+nb)
    # for positive na+nb (integer cross-multiplication; the binary
    # double 0.9 sits ~2e-17 from 9/10 while any candidate ratio is
    # >= 1e-4 away — no realistic set size lands between), and the
    # na+nb > 0 conjunct reproduces the old NULL-drop of the 0/0
    # jaccard on empty-set pairs.
    scored = (
        cands.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "_na",
            "_nb",
            F.size(F.array_intersect("_ta", "_tb")).alias("_i"),
        )
    )
    # Barrier: without it the intersect inlines into the verify join
    # condition and evaluates up to 4x per candidate pair.
    kept = filter_after_barrier(
        scored,
        "doc_a",
        ((t_den + t_num) * F.col("_i") >= t_num * (F.col("_na") + F.col("_nb")))
        & (F.col("_na") + F.col("_nb") > 0),
    )
    rep_pairs = kept.select(
        "doc_a",
        "doc_b",
        (
            F.col("_i").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_i"))
        ).alias("jaccard"),
    )
    cross = _expand_pairs(rep_pairs, members, "jaccard")
    # Within a tokset group every pair scores exactly 1.0 — identical
    # texts trivially, and distinct texts with equal toksets because the
    # uncollapsed verify computes |I|/(na+nb-|I|) with na = nb = |I|.
    # Only groups the uncollapsed pipeline would band at all emit
    # (nonempty tokset; an empty set yields NULL band keys and a NULL
    # 0/0 jaccard, emitting nothing) — whitespace-only/NULL texts never
    # reach `members` (the _token_sets rlike filter), so they can emit
    # neither cross nor intra pairs, exactly as before.
    live = toks.filter(F.col("nset") > 0).select(
        F.col("doc_id").alias("canon")
    )
    intra = _intra_group_pairs(members, live).withColumn(
        "jaccard", F.lit(1.0)
    )
    return cross.unionByName(intra)


def _minhash_lsh_sql() -> str:
    mh_exprs = ",\n         ".join(X.minhash_sig_sql("tokset"))
    band_rows = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {j} AS band, {X.band_key_sql(j)} AS key FROM sigs"
        for j in range(X.LSH_BANDS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, list_distinct({X.tokens_sql('text')}) AS tokset
  FROM documents
),
nonempty AS (SELECT * FROM toks WHERE len(tokset) > 0),
sigs AS (
  SELECT doc_id,
         {mh_exprs}
  FROM nonempty
),
bands AS (
{band_rows}
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, jaccard
FROM (
  SELECT doc_a, doc_b,
         len(list_intersect(ta.tokset, tb.tokset))::DOUBLE
           / (len(ta.tokset) + len(tb.tokset)
              - len(list_intersect(ta.tokset, tb.tokset))) AS jaccard
  FROM cands
  JOIN nonempty ta ON ta.doc_id = doc_a
  JOIN nonempty tb ON tb.doc_id = doc_b
)
WHERE jaccard >= {MINHASH_JACCARD}
"""


MINHASH_LSH_SQL = _minhash_lsh_sql()


def star_edges_from_bands(bands: DataFrame) -> DataFrame:
    """Star candidates ``(doc_id, rep)`` with ``rep < doc_id`` from band
    bucket rows ``(doc_id, band, key)``: each doc links only to the MIN
    doc_id of every bucket it lands in — O(n x bands) candidates, never
    O(bucket²) pairs.  Shared by the batch cluster family and both purge
    stream modes (the ONE definition of the star shape: a change here is
    a change everywhere, which is what keeps streaming == batch)."""
    w = Window.partitionBy("band", "key")
    return (
        bands.withColumn("rep", F.min("doc_id").over(w))
        .filter(F.col("rep") < F.col("doc_id"))
        .select("doc_id", "rep")
        .distinct()
    )


def jaccard_verified_edges(
    star: DataFrame, toks: DataFrame, rep_toks: DataFrame | None = None
) -> DataFrame:
    """Jaccard-verify ``(doc_id, rep)`` candidates against token sets and
    keep edges at or above ``MINHASH_JACCARD`` (output keeps the ``_j``
    column).  ``toks``/``rep_toks`` are ``_token_sets`` frames for the
    doc_id and rep sides (``rep_toks`` defaults to ``toks``; the
    incremental purge stream passes its batch-only frame on the left and
    the accumulated store on the right).  The single definition of the
    verify formula for the batch operators and both stream modes."""
    if rep_toks is None:
        rep_toks = toks
    # Hash each side's token set to 56-bit longs before the per-pair
    # intersect (r14 optimization round 2nd session — see _TH_SX for the
    # collision envelope): md5 runs once per SIDE ROW (O(docs)), the
    # intersect compares longs per PAIR (O(candidates)), and the verify
    # filter is the integer cross-multiplied form with _j derived from
    # the projected intersect (same restructure as minhash_lsh_dedup;
    # exact-equivalence argument at that site).
    def _th(frame: DataFrame):
        # _hashed_token_sets frames carry th already (the shared-md5
        # fast path); plain _token_sets frames (incl. the streaming
        # tokset stores) are hashed here.
        return F.col("th") if "th" in frame.columns else X.xp(_TH_SX)

    ta = toks.select(
        F.col("doc_id"), _th(toks).alias("_ta"), F.col("nset").alias("_na")
    )
    tb = rep_toks.select(
        F.col("doc_id").alias("rep"),
        _th(rep_toks).alias("_tb"),
        F.col("nset").alias("_nb"),
    )
    scored = (
        star.join(ta, "doc_id")
        .join(tb, "rep")
        .select(
            "doc_id",
            "rep",
            "_na",
            "_nb",
            F.size(F.array_intersect("_ta", "_tb")).alias("_i"),
        )
    )
    t_num, t_den = int(MINHASH_JACCARD * 10), 10
    kept = filter_after_barrier(
        scored,
        "rep",
        ((t_den + t_num) * F.col("_i") >= t_num * (F.col("_na") + F.col("_nb")))
        & (F.col("_na") + F.col("_nb") > 0),
    )
    return kept.select(
        "doc_id",
        "rep",
        (
            F.col("_i").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_i"))
        ).alias("_j"),
    )


def _verified_star_edges(documents: DataFrame) -> DataFrame:
    """Jaccard-verified star edges ``(doc_id, rep)`` with ``rep < doc_id``.

    The O(n x bands) candidate generation both cluster operators share,
    composed from the shared star/verify helpers above.  Caching contract:
    same as minhash_lsh_dedup — entries are released by
    :func:`release_cached`, not by this function.
    """
    # Same persist rationale as minhash_lsh_dedup: the hashed token-set
    # frame feeds the band pipeline once and the ta/tb verify sides
    # twice (one md5 pass total — see _hashed_token_sets).  The cached
    # plan hashes the per-document token sets, while minhash_lsh_dedup
    # hashes its tokset-group representatives, so a session running
    # both holds TWO cache entries.
    toks = _persist(_hashed_token_sets(_token_sets(documents)))
    star = star_edges_from_bands(band_rows_from_toksets(toks))
    return jaccard_verified_edges(star, toks)


def minhash_cluster_dedup(documents: DataFrame) -> DataFrame:
    """Scale-shaped MinHash dedup: cluster ASSIGNMENT, not pairs.

    ``minhash_lsh_dedup`` emits all verified near-dup PAIRS — semantically
    the reference oracle, but O(k²) output for a k-document duplicate
    cluster (measured: 4x corpus -> 16x rows, 15M pairs).  At 100 TB the
    correct output shape is one row per document with its cluster
    representative:

    1. band buckets as in LSH, but each doc links only to the bucket's
       MIN doc_id (star candidates: O(n x bands), never O(bucket²));
    2. verify jaccard >= threshold on those star edges only;
    3. assignment = min verified representative across bands (one
       min-propagation round; full transitive closure would iterate this
       to a fixed point — the per-round plan is identical).

    Output: (doc_id, cluster_id, is_dup).
    """
    verified = _verified_star_edges(documents)
    assignment = verified.groupBy("doc_id").agg(F.min("rep").alias("_minrep"))
    return (
        documents.select("doc_id")
        .join(assignment, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_minrep"), F.col("doc_id")).alias("cluster_id"),
            F.col("_minrep").isNotNull().alias("is_dup"),
        )
    )


def _star_ctes_sql() -> str:
    """The CTE chain both cluster oracles share: tokens -> MinHash sigs ->
    band rows -> star edges -> jaccard-verified (doc_id, rep) edges."""
    mh_exprs = ",\n         ".join(X.minhash_sig_sql("tokset"))
    band_rows = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {j} AS band, {X.band_key_sql(j)} AS key FROM sigs"
        for j in range(X.LSH_BANDS)
    )
    return f"""toks AS (
  SELECT doc_id, list_distinct({X.tokens_sql('text')}) AS tokset
  FROM documents
),
nonempty AS (SELECT * FROM toks WHERE len(tokset) > 0),
sigs AS (
  SELECT doc_id,
         {mh_exprs}
  FROM nonempty
),
bands AS (
{band_rows}
),
star AS (
  SELECT DISTINCT doc_id, rep FROM (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY band, key) AS rep
    FROM bands
  ) WHERE rep < doc_id
),
verified AS (
  SELECT doc_id, rep FROM (
    SELECT s.doc_id, s.rep,
           len(list_intersect(ta.tokset, tb.tokset))::DOUBLE
             / (len(ta.tokset) + len(tb.tokset)
                - len(list_intersect(ta.tokset, tb.tokset))) AS j
    FROM star s
    JOIN nonempty ta ON ta.doc_id = s.doc_id
    JOIN nonempty tb ON tb.doc_id = s.rep
  ) WHERE j >= {MINHASH_JACCARD}
)"""


def _minhash_cluster_sql() -> str:
    return f"""
WITH {_star_ctes_sql()},
assignment AS (
  SELECT doc_id, min(rep) AS minrep FROM verified GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.minrep, d.doc_id) AS cluster_id,
       a.minrep IS NOT NULL AS is_dup
FROM (SELECT doc_id FROM documents) d
LEFT JOIN assignment a USING (doc_id)
"""


MINHASH_CLUSTER_SQL = _minhash_cluster_sql()


# --- connected components (full transitive closure of the dup graph) --------


def _ckpt_fs(spark):
    """(Path, FileSystem) for the session's checkpoint dir, or None."""
    ckpt = spark.sparkContext.getCheckpointDir()
    if ckpt is None:
        return None
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(ckpt)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return p, fs


def _ckpt_entries(spark) -> set[str]:
    """Current snapshot dirs (rdd-N) under the session's checkpoint dir.

    getCheckpointDir() already includes the per-SparkContext UUID, so the
    listing never sees another application's snapshots.  Hadoop FS via the
    py4j gateway — the same explicit-probe pattern as
    streaming.jobs._hadoop_path_exists, and it works for cluster
    filesystems, not just local paths.
    """
    handle = _ckpt_fs(spark)
    if handle is None:
        return set()
    p, fs = handle
    if not fs.exists(p):
        return set()
    return {st.getPath().toString() for st in fs.listStatus(p)}


def _delete_ckpt_entries(spark, paths: set[str]) -> None:
    """Recursively delete dead checkpoint snapshots (best effort: a failed
    delete costs disk, never correctness — nothing replays through them)."""
    handle = _ckpt_fs(spark)
    if handle is None:
        return
    _, fs = handle
    jvm = spark._jvm
    for s in paths:
        try:
            fs.delete(jvm.org.apache.hadoop.fs.Path(s), True)
        except Exception:
            pass


def _local_ckpt_rdd_ids(spark) -> set[int]:
    """Ids of the persisted RDDs that are LOCALLY CHECKPOINTED — the
    local-path twin of :func:`_ckpt_entries`.  ``localCheckpoint`` stores
    its snapshot as persisted blocks of the truncated RDD, registered in
    the context's persistent-RDD ledger; the ``isLocallyCheckpointed``
    filter is load-bearing — it keeps caller ``_persist`` caches (plain
    InMemoryRelation RDDs that may materialize inside a diff window) out
    of the diff, so a dead-snapshot release can never unpersist a frame
    somebody else still replays from.  Best effort via the JVM gateway
    (Spark Connect has no ``_jsc``; there the local path simply keeps its
    pre-fix GC-bounded behavior)."""
    out: set[int] = set()
    try:
        entries = spark.sparkContext._jsc.getPersistentRDDs().entrySet().toArray()
        for e in entries:
            if e.getValue().rdd().isLocallyCheckpointed():
                out.add(int(e.getKey()))
    except Exception:
        pass
    return out


def _unpersist_local_ckpts(spark, ids: set[int]) -> None:
    """Free dead localCheckpoint snapshot blocks by RDD id (best effort:
    a failed unpersist costs memory until GC, never correctness — nothing
    replays through a dead snapshot).  Counterpart of
    :func:`_delete_ckpt_entries` for the non-reliable path (VERDICT r12:
    long sessions otherwise accumulate dead checkpoint blocks bounded
    only by the ContextCleaner's GC cadence)."""
    if not ids:
        return
    try:
        entries = spark.sparkContext._jsc.getPersistentRDDs().entrySet().toArray()
        for e in entries:
            if int(e.getKey()) in ids and e.getValue().rdd().isLocallyCheckpointed():
                e.getValue().unpersist(False)
    except Exception:
        pass


#: Serializes the snapshot-ledger diff windows of connected_components
#: (see _truncate_tracked) AND truncate_lineage (r15): the dead-snapshot
#: sets are before/after ledger diffs, and a concurrent checkpoint
#: landing inside a window would be mistaken for this window's snapshot
#: and released (r14, ADVICE r13 — latent; all in-repo callers are
#: sequential).
_CC_SNAPSHOT_LOCK = threading.Lock()


def _truncate(reliable: bool, df: DataFrame) -> DataFrame:
    """Checkpoint ``df``: reliable (FS snapshot) or lazy local.  Called
    only under _CC_SNAPSHOT_LOCK via :func:`_truncate_tracked`."""
    if reliable:
        # Cache first: checkpoint() materializes with one job, then
        # writes the snapshot with a second — persisted blocks make the
        # second job a cache read instead of a full recompute.
        df.persist()
        try:
            return df.checkpoint()
        finally:
            df.unpersist()
    # LAZY local checkpoint (r14 optimization round, guide §1.2 "remove
    # unnecessary passes"): eager=True ran one materialization job per
    # truncate — 2 extra jobs per CC round whose only purpose was to fill
    # the snapshot blocks the convergence action would fill anyway.
    # With eager=False the round's single convergence action computes
    # large+small once and the localCheckpoint machinery caches every
    # partition as a side effect (LocalRDDCheckpointData backfills any
    # partition the action skipped), so lineage is truncated exactly as
    # before with one action per round instead of three.  The frames
    # are deterministic (pure min/join algebra), so the lazy-checkpoint
    # recompute caveat does not bite; the RELIABLE path above keeps
    # eager persist+checkpoint — at cluster scale the FS snapshot must
    # exist before anything builds on the frame.
    return df.localCheckpoint(eager=False)


def _snapshots(spark, reliable: bool) -> set:
    return _ckpt_entries(spark) if reliable else _local_ckpt_rdd_ids(spark)


def _release_snapshots(spark, reliable: bool, dead: set) -> None:
    if reliable:
        _delete_ckpt_entries(spark, dead)
    else:
        _unpersist_local_ckpts(spark, dead)


def _truncate_tracked(reliable: bool, df: DataFrame) -> tuple[DataFrame, set]:
    """Truncate ``df`` and return it with the snapshots the truncation
    added — the ledger entries a later release frees.

    Snapshot-ledger diff window (r14, ADVICE r13): the snapshot sets are
    before/after diffs of the context-wide ledger, so a CONCURRENT
    checkpoint from another thread of the same SparkContext landing
    inside the window would be diffed in and later released even though
    checkpointed RDDs are non-recomputable.  The module lock serializes
    every window in this module (connected_components and
    truncate_lineage are the repo's only checkpoint callers); callers
    checkpointing on other threads outside this module are outside the
    guard and must not run concurrently with them."""
    spark = df.sparkSession
    with _CC_SNAPSHOT_LOCK:
        pre = _snapshots(spark, reliable)
        out = _truncate(reliable, df)
        return out, _snapshots(spark, reliable) - pre


class _CkptRelease:
    """A release-registry shim for :func:`truncate_lineage`'s snapshots:
    ``release_cached`` pops registry entries and calls ``unpersist()``,
    and a checkpoint is neither a cache entry nor freed by the
    DataFrame-level unpersist — local snapshots are RDD-level persisted
    blocks, reliable ones are files under the checkpoint dir."""

    def __init__(self, spark, reliable: bool, snapshots: set):
        self._spark, self._reliable, self._snapshots = spark, reliable, snapshots

    def unpersist(self) -> None:
        _release_snapshots(self._spark, self._reliable, self._snapshots)


def truncate_lineage(df: DataFrame) -> DataFrame:
    """Cut a composed frame's LOGICAL lineage (r15, guide §3.3: "planning
    time itself can become the bottleneck ... materialising an
    intermediate result truncates the plan").

    Deeply composed pipelines (clean -> purge -> semantic restriction)
    nest persisted frames 6-8 levels, and consumers reference each level
    several times (self-joins, verify sides); Catalyst re-analyzes the
    whole nested tree at every downstream ``toRdd``, so PLANNING — pure
    driver-side work — grew to ~22 s of a 57 s composed job at sf0.001
    (cProfile: 12 in-loop ``localCheckpoint`` calls dominated by query
    planning, not execution).  A driver that survives 100 TB plans must
    not spend its time re-walking their description — the same class as
    the r13 ``maxPlanStringLength`` fix, one layer deeper.

    Same reliability dichotomy and snapshot ledger as
    ``connected_components`` (:func:`_truncate_tracked`): RELIABLE
    ``checkpoint()`` when the session has a checkpoint dir (a lost
    executor replays from the FS snapshot), lazy ``localCheckpoint``
    otherwise (executor-local blocks, fine on local[n]).  Either way the
    snapshot is registered in the module release registry, so
    ``release_cached()`` deletes the snapshot dir or frees the local
    blocks (the r12 leak class); ``spark.catalog.clearCache()`` frees
    neither.  The input must be
    deterministic (every caller here derives from parquet scans by pure
    algebra) — the lazy-checkpoint recompute caveat documented at the CC
    site."""
    spark = df.sparkSession
    reliable = spark.sparkContext.getCheckpointDir() is not None
    out, snapshots = _truncate_tracked(reliable, df)
    _frames().append(_CkptRelease(spark, reliable, snapshots))
    return out


def connected_components(
    edges: DataFrame,
    max_rounds: int = 15,
    round_log: list | None = None,
) -> DataFrame:
    """Min-label connected components over an undirected edge list.

    ``edges`` must have two equal-typed columns ``(u, v)``; self-loops are
    dropped.  Returns ``(node, root)`` with one row per NON-root node of
    every component, ``root`` = the component's minimum node id — the star
    form the alternating large-star/small-star algorithm converges to
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014).  Round complexity is O(log n) — at 100 TB the edge list
    shuffles on node id each round and no step ever materializes a
    neighborhood larger than the star's, unlike naive label propagation
    whose round count is the graph DIAMETER (pathological on chains).

    Each round is two shuffles over the (narrow, 2-column) edge frame; a
    checkpoint truncates the lineage so round N's plan does not embed
    rounds 1..N-1 (iterative plans otherwise grow exponentially in
    Catalyst).  Fault tolerance at scale: when the session has a checkpoint
    directory configured (``spark.sparkContext.setCheckpointDir`` — a
    cluster filesystem in production), rounds use RELIABLE ``checkpoint()``
    so a lost executor replays from the FS snapshot instead of killing the
    job; without one it falls back to ``localCheckpoint`` (executor-local
    blocks — fine on local[n], fragile on a 1000-executor cluster).

    Checkpoint hygiene on the reliable path: each frame is ``persist()``-ed
    before ``checkpoint()`` (the write runs as a SECOND job over the RDD,
    which would otherwise recompute the whole round's lineage), and the
    snapshots of rounds that no longer back any live frame are deleted
    eagerly at the end of each round — without that, Spark only removes
    them under ``spark.cleaner.referenceTracking.cleanCheckpoints=true``
    and GC pressure, and a long CC run grows the checkpoint dir by two
    snapshots per round.  Only the RETURNED frame's snapshot outlives the
    call (the caller's actions replay from it); that last one is subject
    to the cleaner conf / session teardown.  The LOCAL path gets the same
    hygiene (r13, VERDICT r12): dead ``localCheckpoint`` snapshots are
    persisted RDD blocks, released eagerly per round via the
    persistent-RDD ledger (:func:`_unpersist_local_ckpts`) — without
    that, a long shared session accumulates two dead block sets per
    round per invocation, bounded only by JVM GC (the r12 OOM class).

    Convergence costs ONE action per round: the symmetric difference of two
    distinct frames is empty iff the edge set is stable.  Deterministic:
    every operation is a min.

    ``round_log`` (optional): a list the loop appends its 1-based round
    index to — the rounds run EAGERLY (one convergence action each), so
    on return ``len(round_log)`` is the executed round count.  Pure
    instrumentation for the O(log n) claim (SCALING.md purge-100x; its
    harness, ``scaling_bench.py``, is at commit 9619da7).
    """
    spark = edges.sparkSession
    reliable = spark.sparkContext.getCheckpointDir() is not None

    def _edge_checksum(df: DataFrame) -> tuple:
        # Order-independent edge-set fingerprint: (count, XOR of per-row
        # 64-bit hashes — bit_xor, not sum: ANSI mode makes a long-sum
        # overflow a runtime error, and XOR is commutative/associative
        # with no overflow).  One narrow global aggregate — partial agg
        # per partition, a 1-row final exchange — vs exceptAll's
        # full-width shuffle of both frames.  The 1-row ``first()`` is a
        # scalar decision read, same class as ``isEmpty()``.
        row = df.agg(
            F.count("*").alias("_n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("_h"),
        ).first()
        return (row["_n"], row["_h"])

    u, v = edges.columns[0], edges.columns[1]
    cur, cur_snaps = _truncate_tracked(
        reliable,
        edges.select(F.col(u).alias("u"), F.col(v).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    cur_sum = None  # computed lazily on the first round
    for _round in range(max_rounds):
        if round_log is not None:
            round_log.append(_round + 1)
        # large-star: every neighbor LARGER than u links to min(N(u) + {u}).
        nbrs = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = nbrs.groupBy("u").agg(F.min("v").alias("_mn"))
        # No distinct on the large-star frame (r14 optimization round 2nd
        # session, guide §2.4): its only consumer is the small-star round
        # below, whose min-aggregates and final distinct are duplicate-
        # blind — small's VALUE is identical either way — and duplicates
        # cannot accumulate across rounds because every round's cur ends
        # in small's distinct.  Dropping it removes one full-width
        # exchange+aggregate of the edge frame per round; the checkpoint
        # holds <= |nbrs| rows instead of the deduped set (bounded, one
        # output row per nbrs row).
        large, large_snaps = _truncate_tracked(
            reliable,
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("u"), F.col("_mn")).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
        )
        # small-star: orient (larger, smaller); relink every smaller
        # neighbor (and u itself) to the minimum of the oriented
        # neighborhood.
        oriented = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        omins = oriented.groupBy("u").agg(F.min("v").alias("_mn"))
        small, small_snaps = _truncate_tracked(
            reliable,
            oriented.join(omins, "u")
            .select(F.col("v").alias("u"), F.col("_mn").alias("v"))
            .union(omins.select("u", F.col("_mn").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # Converged when the edge set is stable.  Both frames are distinct,
        # so set equality == empty SYMMETRIC difference.  Checksum
        # short-circuit (r14 optimization round 2nd session, guide §1.2):
        # differing (count, sum-of-hash) fingerprints PROVE the sets
        # differ — the usual non-terminal round costs one narrow
        # aggregate per side (cur's carried from last round) instead of
        # exceptAll's full-width shuffle of both frames; only equal
        # fingerprints (the terminal round, or an astronomically
        # unlikely 64-bit sum collision mid-run) fall through to the
        # EXACT symmetric-difference check, so the convergence decision
        # — and every returned row — is identical to the plain form.
        # The checksum action also materializes small's lazy checkpoint
        # blocks, exactly as the exceptAll action did.
        if cur_sum is None:
            cur_sum = _edge_checksum(cur)
        small_sum = _edge_checksum(small)
        converged = small_sum == cur_sum and (
            small.exceptAll(cur).union(cur.exceptAll(small)).isEmpty()
        )
        cur_sum = small_sum
        # Dead after this round: the previous cur's snapshot and the
        # intermediate large-star's (small is checkpointed, so nothing
        # replays through them anymore).  Same release on both paths —
        # FS snapshot dirs when reliable, localCheckpoint blocks when not.
        _release_snapshots(spark, reliable, cur_snaps | large_snaps)
        cur_snaps = small_snaps
        cur = small
        if converged:
            break
    else:  # pragma: no cover - O(log n) bound makes this unreachable
        raise RuntimeError(f"connected_components: no fixpoint in {max_rounds} rounds")
    return cur.select(F.col("u").alias("node"), F.col("v").alias("root"))


def minhash_cc_dedup(documents: DataFrame) -> DataFrame:
    """MinHash dedup clusters under FULL transitive closure.

    ``minhash_cluster_dedup`` stops after one min-propagation round, so a
    chain A~B~C (A, C near-dups of B but not of each other) can leave C
    assigned to B while B is assigned to A.  This variant iterates the same
    verified star-edge graph (O(n x bands) candidates — the pair blowup
    never happens) to a fixed point with large-star/small-star, so every
    document's cluster_id is the true minimum of its connected component.

    Output: (doc_id, cluster_id, is_dup) — is_dup == (cluster_id != doc_id).
    Oracle: identical edge set closed with a recursive CTE in DuckDB.
    """
    edges = _verified_star_edges(documents)  # (doc_id, rep), rep < doc_id
    comp = connected_components(edges)
    # At the fixpoint every non-root node carries exactly one (node, root)
    # edge; the groupBy-min is a no-op guard that also makes the plan's
    # output provably one row per doc_id.
    assignment = comp.groupBy(F.col("node").alias("doc_id")).agg(
        F.min("root").alias("_root")
    )
    return (
        documents.select("doc_id")
        .join(assignment, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_root"), F.col("doc_id")).alias("cluster_id"),
            F.col("_root").isNotNull().alias("is_dup"),
        )
    )


def _minhash_cc_sql() -> str:
    return f"""
WITH RECURSIVE {_star_ctes_sql()},
edges AS (
  SELECT doc_id AS u, rep AS v FROM verified
  UNION
  SELECT rep AS u, doc_id AS v FROM verified
),
walk(node, lbl) AS (
  SELECT u AS node, u AS lbl FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v AS node, w.lbl AS lbl FROM walk w JOIN edges e ON e.u = w.node
),
roots AS (
  SELECT node AS doc_id, min(lbl) AS root FROM walk GROUP BY node
)
SELECT d.doc_id,
       coalesce(r.root, d.doc_id) AS cluster_id,
       coalesce(r.root, d.doc_id) <> d.doc_id AS is_dup
FROM (SELECT doc_id FROM documents) d
LEFT JOIN roots r USING (doc_id)
"""


MINHASH_CC_SQL = _minhash_cc_sql()


def minhash_purge_dedup(documents: DataFrame) -> DataFrame:
    """The PURGED corpus: one row per kept (canonical) document with the
    per-cluster accounting a dedup run reports.

    Completes the dedup family's output shapes: pairs (verification),
    per-doc assignment (flags), and — this operator — the corpus a
    downstream training job actually consumes.  Built on the FULL
    transitive closure (``minhash_cc_dedup``): single-round assignment can
    point members at non-canonical docs on chains, which would purge a doc
    whose "keeper" was itself purged.

    Output: (doc_id, n_members, chars_saved) — doc_id is the cluster's
    canonical (minimum) id, n_members the cluster size including the
    keeper, chars_saved the summed ``n_chars`` of the purged members.

    Scale: cluster stats are one count/sum aggregation keyed by cluster_id
    (map-side partial aggregation absorbs even a degenerate giant cluster);
    the keeper join is a doc_id equi-join.  All-integer output — full
    value-hash oracle.
    """
    return purge_from_edges(
        _verified_star_edges(documents), documents.select("doc_id", "n_chars")
    )


def _closure_assignment(edges: DataFrame) -> DataFrame:
    """``(doc_id, _root)`` for every CONNECTED doc — the shared closure
    prologue of the full and delta purge forms (one definition so the
    pinned fold==batch contract cannot drift)."""
    comp = connected_components(edges)
    return comp.groupBy(F.col("node").alias("doc_id")).agg(
        F.min("root").alias("_root")
    )


def _rep_accounting(stats: DataFrame, docstats: DataFrame) -> DataFrame:
    """``(doc_id, n_members, chars_saved)`` rows for cluster reps, from a
    per-cluster ``(_root, n_members, _chars)`` aggregate — the shared
    accounting tail of the full and delta purge forms."""
    return docstats.join(stats, F.col("doc_id") == F.col("_root")).select(
        "doc_id",
        "n_members",
        (F.col("_chars") - F.col("n_chars")).cast("long").alias("chars_saved"),
    )


def purge_from_edges(edges: DataFrame, docstats: DataFrame) -> DataFrame:
    """The closure + accounting tail of ``minhash_purge_dedup``, factored
    over an EXPLICIT near-dup edge list: ``edges`` is any two-column
    (doc, doc) frame, ``docstats`` one (doc_id, n_chars) row per corpus
    doc.  ``minhash_purge_dedup`` feeds it the batch star edges; the
    incremental twin (``streaming/jobs.py::run_purge_dedup_stream``) feeds
    the ACCUMULATED edge store, so both produce the purge table from the
    same plan.  Output: (doc_id, n_members, chars_saved)."""
    assignment = _closure_assignment(edges)
    clusters = (
        docstats.select("doc_id")
        .join(assignment, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_root"), F.col("doc_id")).alias("_root"),
        )
    )
    stats = (
        clusters.join(docstats, "doc_id")
        .groupBy("_root")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum("n_chars").cast("long").alias("_chars"),
        )
    )
    return _rep_accounting(stats, docstats)


def purge_delta_from_edges(
    edges: DataFrame, docstats: DataFrame, new_docs: DataFrame
) -> DataFrame:
    """DELTA form of :func:`purge_from_edges` — the 100 TB emission shape
    the r8 purge-batch decomposition motivated (SCALING.md): the full
    form's only per-batch O(corpus) terms are the stats join and the
    complete-table write, both of which exist to re-emit clusters that
    DID NOT CHANGE.  This emits rows only for clusters touched by this
    batch's arrivals:

    - an updated ``(rep, n_members, chars_saved)`` row for every cluster
      containing a ``new_docs`` member (under ordered arrival those are
      exactly the clusters whose stats can change — membership only ever
      grows via a new doc joining or bridging);
    - a ``(doc_id, 1, 0)`` row for each new SINGLETON (no edges) — its
      one-time emission (precondition: ``new_docs`` ids are docstats
      docs, which the stream guarantees by construction — the rows are
      emitted from the id set directly, without a corpus-store probe);
    - a ``(doc_id, 0, 0)`` TOMBSTONE for every non-rep member of a
      touched cluster, covering the bridge case where a new doc merges
      two existing clusters and the larger rep loses leadership (its old
      row must be retracted).  Tombstones for members that never had a
      row are emitted too — harmless, since reconstruction drops
      ``n_members = 0`` rows, and deriving "previously emitted" exactly
      would need last-batch state this keeps not needing.

    The current purge table is the FOLD of the deltas: latest row per
    doc_id, ``n_members > 0`` (``streaming.jobs.purge_table_from_deltas``;
    fold == :func:`purge_from_edges` over the same edges/stats is the
    pinned contract).  Scale: the closure still runs over the sparse
    edge store (measured sub-linear); every join against ``docstats``
    is driven by the SMALL touched-member side (broadcastable), so no
    corpus-sized shuffle or corpus-sized write remains in the batch.
    """
    assignment = _closure_assignment(edges)
    roots = assignment.select(F.col("_root").alias("doc_id")).distinct()
    # connected docs = non-root members + roots themselves.  PERSISTED
    # (the _CACHED release contract): three output branches reference it
    # (touched-roots probe, touched membership, singleton anti-join), and
    # without the persist each branch would replay the assignment
    # aggregation.  Size is O(connected docs) — the closure output the
    # full form materializes anyway.
    members = _persist(
        assignment.unionByName(
            roots.select("doc_id", F.col("doc_id").alias("_root"))
        )
    )
    new_ids = new_docs.select("doc_id").distinct()
    touched_roots = (
        members.join(F.broadcast(new_ids), "doc_id", "leftsemi")
        .select("_root")
        .distinct()
    )
    # Broadcast direction is the point of the delta form: every join
    # against the O(corpus) docstats store is driven by a SMALL derived
    # side (touched membership / touched-cluster stats / new singleton
    # ids), so the store is only ever SCANNED, never shuffled.  The
    # derived sides are O(touched-cluster membership) — bounded by this
    # batch's blast radius, not the corpus; a degenerate batch touching
    # a giant cluster degrades the broadcast, but that is the
    # "everything changed" regime where delta emission equals full
    # emission anyway.
    # touched membership feeds both the stats aggregation and the
    # tombstones — persisted so the semi-join runs once (small: this
    # batch's blast radius).
    touched = _persist(
        members.join(F.broadcast(touched_roots), "_root", "leftsemi")
    )
    stats = (
        docstats.join(F.broadcast(touched), "doc_id")
        .groupBy("_root")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum("n_chars").cast("long").alias("_chars"),
        )
    )
    rep_rows = _rep_accounting(F.broadcast(stats), docstats)
    # Precondition (documented, not re-verified): every new_docs id is a
    # docstats doc — true by construction in the stream, where both come
    # from the same micro-batch.  Emitting straight from the id set
    # avoids a third full scan of the O(corpus) stats store per batch
    # that filtered nothing (r8 review catch).
    singleton_rows = (
        new_ids.join(members.select("doc_id"), "doc_id", "left_anti")
        .select(
            "doc_id",
            F.lit(1).cast("long").alias("n_members"),
            F.lit(0).cast("long").alias("chars_saved"),
        )
    )
    tombstones = touched.filter(F.col("doc_id") != F.col("_root")).select(
        "doc_id",
        F.lit(0).cast("long").alias("n_members"),
        F.lit(0).cast("long").alias("chars_saved"),
    )
    return rep_rows.unionByName(singleton_rows).unionByName(tombstones)


def _minhash_purge_sql() -> str:
    return f"""
WITH RECURSIVE {_star_ctes_sql()},
edges AS (
  SELECT doc_id AS u, rep AS v FROM verified
  UNION
  SELECT rep AS u, doc_id AS v FROM verified
),
walk(node, lbl) AS (
  SELECT u AS node, u AS lbl FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v AS node, w.lbl AS lbl FROM walk w JOIN edges e ON e.u = w.node
),
roots AS (
  SELECT node AS doc_id, min(lbl) AS root FROM walk GROUP BY node
),
clusters AS (
  SELECT d.doc_id, coalesce(r.root, d.doc_id) AS cluster_id
  FROM (SELECT doc_id FROM documents) d
  LEFT JOIN roots r USING (doc_id)
),
stats AS (
  SELECT cluster_id,
         CAST(count(*) AS BIGINT) AS n_members,
         CAST(sum(doc.n_chars) AS BIGINT) AS chars
  FROM clusters JOIN documents doc USING (doc_id)
  GROUP BY cluster_id
)
SELECT d.doc_id, s.n_members,
       CAST(s.chars - d.n_chars AS BIGINT) AS chars_saved
FROM documents d JOIN stats s ON d.doc_id = s.cluster_id
"""


MINHASH_PURGE_SQL = _minhash_purge_sql()


# --- SimHash -----------------------------------------------------------------


def simhash_dedup(documents: DataFrame) -> DataFrame:
    """Near-dup pairs via SimHash hamming distance with band blocking.

    Candidates share at least one of 4 8-bit bands (pigeonhole: hamming <=
    3 guarantees a shared band; we verify at <= SIMHASH_MAX_HAMMING).
    Exact duplicates are collapsed to one rep per distinct text BEFORE
    banding (see _exact_groups: identical-text mass would otherwise make a
    band-bucket self-join O(k²) in one task) and expanded back afterward —
    within-group pairs are hamming 0 by construction, cross-group pairs
    inherit the reps' hamming.  NULL text stays its own group: its NULL
    signature never equi-joins, matching the uncollapsed pipeline.
    Output: (doc_a, doc_b, hamming).

    Caching contract: the band frame is ``persist()``-ed (it feeds both
    self-join sides; without it the tokenize->hash->simhash fold recomputes
    twice).  Entries are released by :func:`release_cached` (the targeted
    handle), ``spark.catalog.clearCache()``, or a session stop; long-lived
    sessions calling this on many distinct inputs should release between
    corpora.
    """
    # Repartition BEFORE the per-row hash/fold projection (a one-file scan
    # is one partition — see _token_sets) and persist the band frame so the
    # signature pipeline runs ONCE, not once per self-join side.  Mirrors
    # minhash_lsh_dedup's prep persist; same measured pathology.
    reps, members = _exact_groups(documents, null_distinct=True)
    nparts = documents.sparkSession.sparkContext.defaultParallelism
    sigs = (
        reps.repartition(nparts)
        .select("doc_id", X.token_hashes(X.tokens_sx("text")).alias("_th"))
        .select("doc_id", X.simhash_from_hashes("_th").alias("sh"))
    )
    bands = sigs.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        X.simhash_band(F.col("sh"), j).alias("key"),
                    )
                    for j in range(X.SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "sh", "bk.band", "bk.key")
    bands = _persist(bands)
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.sh ^ b.sh)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )
    cross = _expand_pairs(pairs, members, "hamming")
    # Groups with a defined signature emit all within-group pairs at
    # hamming 0 (identical sig); a NULL-sig group (NULL text) emits none,
    # exactly as its NULL band keys would never have equi-joined.
    live = (
        bands.filter(F.col("sh").isNotNull())
        .select(F.col("doc_id").alias("canon"))
    )
    intra = _intra_group_pairs(members, live).withColumn(
        "hamming", F.lit(0)
    )
    return cross.unionByName(intra)


def _simhash_sql() -> str:
    band_rows = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, sh, {j} AS band, {X.simhash_band_sql('sh', j)} AS key FROM sigs"
        for j in range(X.SIMHASH_BANDS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {X.tokens_sql('text')} AS tok FROM documents
),
th AS (
  SELECT doc_id, {X.token_hashes_sql('tok')} AS th FROM toks
),
sigs AS (
  SELECT doc_id, {X.simhash_from_hashes_sql('th')} AS sh FROM th
),
bands AS (
{band_rows}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.sh, b.sh)) AS hamming
FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sh, b.sh)) <= {SIMHASH_MAX_HAMMING}
"""


SIMHASH_SQL = _simhash_sql()


def dedup_method_report(documents: DataFrame) -> DataFrame:
    """Method-keyed duplicate-rate summary across the TEXT dedup family
    (r12): the one-glance report a pipeline owner reads to pick a dedup
    method for a corpus — how much each family would remove, side by
    side, under one shared flag convention.

    One row per method: ``(method, n_docs, n_dup, dup_per_10k)`` with
    method in {'exact', 'minhash_cc', 'simhash'}.  ``n_dup`` counts docs
    with a SMALLER-id canonical/partner (exact: ``is_dup``; minhash_cc:
    ``is_dup`` under the full transitive closure; simhash: distinct
    ``doc_b`` of the hamming-verified pairs, which the operator emits
    with ``doc_a < doc_b``) — the min-id-keeps convention every family
    here purges by, so the three counts are directly comparable.
    ``dup_per_10k`` is exact integer basis points (``div``, no float).
    The embedding-side members (hyperplane-LSH at the near-dup bar,
    SemDeDup at the semantic bar) live on the embeddings table and are
    deliberately not rows here.

    Scale: three aggregations over the families' own blocked/bucketed
    plans plus one doc_id equi-join for the simhash flags — no new
    shuffle shape, no cross join (the per-method totals come from the
    per-doc frames, never a scalar broadcast).  Full DuckDB oracle
    composed from the constituent constants."""
    dup_rate = F.expr("(sum(_d) * 10000) div count(*)")
    ex = exact_dedup(documents).select(
        F.col("is_dup").cast("long").alias("_d")
    ).agg(
        F.lit("exact").alias("method"),
        F.count("*").cast("long").alias("n_docs"),
        F.sum("_d").cast("long").alias("n_dup"),
        dup_rate.cast("long").alias("dup_per_10k"),
    )
    cc = minhash_cc_dedup(documents).select(
        F.col("is_dup").cast("long").alias("_d")
    ).agg(
        F.lit("minhash_cc").alias("method"),
        F.count("*").cast("long").alias("n_docs"),
        F.sum("_d").cast("long").alias("n_dup"),
        dup_rate.cast("long").alias("dup_per_10k"),
    )
    sh_dups = (
        simhash_dedup(documents)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("_f", F.lit(1).cast("long"))
    )
    sh = (
        documents.select("doc_id")
        .join(sh_dups, "doc_id", "left")
        .select(F.coalesce(F.col("_f"), F.lit(0)).alias("_d"))
        .agg(
            F.lit("simhash").alias("method"),
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_d").cast("long").alias("n_dup"),
            dup_rate.cast("long").alias("dup_per_10k"),
        )
    )
    # a report over an empty corpus reports nothing (the aggregates
    # would otherwise emit three n_docs=0 rows with NULL rates)
    return (
        ex.unionByName(cc).unionByName(sh).filter(F.col("n_docs") > 0)
    )


DEDUP_METHOD_REPORT_SQL = f"""
WITH ex_flags AS (SELECT * FROM ({EXACT_DEDUP_SQL.strip()}) exq),
cc_flags AS (SELECT * FROM ({MINHASH_CC_SQL.strip()}) ccq),
sh_dups AS (SELECT DISTINCT doc_b AS doc_id FROM ({SIMHASH_SQL.strip()}) shp),
ex AS (
  SELECT 'exact' AS method, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) * 10000
              // count(*) AS BIGINT) AS dup_per_10k
  FROM ex_flags
),
cc AS (
  SELECT 'minhash_cc' AS method, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) * 10000
              // count(*) AS BIGINT) AS dup_per_10k
  FROM cc_flags
),
sh AS (
  SELECT 'simhash' AS method, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(s.doc_id) AS BIGINT) AS n_dup,
         CAST(count(s.doc_id) * 10000 // count(*) AS BIGINT) AS dup_per_10k
  FROM documents d LEFT JOIN sh_dups s USING (doc_id)
)
SELECT * FROM (
  SELECT * FROM ex UNION ALL SELECT * FROM cc UNION ALL SELECT * FROM sh
) r WHERE n_docs > 0
"""


# --- character n-gram jaccard ------------------------------------------------


#: Above this estimated input size the build side is no longer broadcast —
#: the join shuffles both sides on the block key instead (OOM-safe default).
#: The estimate comes from Catalyst plan statistics (parquet footers /
#: catalog stats), NOT a count() job — deciding the strategy must not cost
#: a full pass over the corpus.  32 MiB of raw text expands to roughly
#: 8x as trigram-hash longs, keeping the broadcast comfortably inside a
#: default executor.
NGRAM_BROADCAST_MAX_BYTES = 32 * 1024 * 1024


#: Spark's Utils.bytesToString units, as printed by EXPLAIN COST.
_SIZE_UNITS = {
    "B": 1,
    "KiB": 1024,
    "MiB": 1024**2,
    "GiB": 1024**3,
    "TiB": 1024**4,
    "PiB": 1024**5,
    "EiB": 1024**6,
}


def _plan_size_bytes_sql(df: DataFrame) -> int | None:
    """PUBLIC-API statistics probe: ``EXPLAIN COST`` over a temp view.

    ``spark.sql`` + temp views exist under Spark Connect too, so this
    route survives where the py4j handle does not.  The optimizer prints
    ``Statistics(sizeInBytes=<v> <unit>)`` per node; the TOP line is the
    plan root — still a metadata read (analysis + optimization only,
    no scan job).  The display rounds to one decimal in the printed
    unit, which is immaterial for a join-strategy gate.  Returns None
    when the text doesn't parse (format drift degrades to the safe
    non-broadcast path, never a crash).
    """
    import re
    import uuid

    name = f"_plan_size_probe_{uuid.uuid4().hex}"
    try:
        spark = df.sparkSession
        df.createOrReplaceTempView(name)
        try:
            text = spark.sql(f"EXPLAIN COST SELECT * FROM {name}").first()[0]
        finally:
            spark.catalog.dropTempView(name)
        m = re.search(
            r"sizeInBytes=([\d.]+)\s*(B|KiB|MiB|GiB|TiB|PiB|EiB)", text
        )
        if m is None:
            return None
        return int(float(m.group(1)) * _SIZE_UNITS[m.group(2)])
    except Exception:
        return None


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst-estimated size of ``df`` in bytes, or ``None`` when the
    statistics are unreachable.

    The estimate comes from the optimized plan's statistics (parquet
    footers / catalog stats) — a metadata read, never a scan job.  The
    direct route is the ``_jdf`` py4j handle (not public PySpark
    surface, absent under Spark Connect); when that fails, the
    ``EXPLAIN COST`` fallback reads the same optimizer statistics
    through public SQL surface (``_plan_size_bytes_sql`` — parity with
    the direct route pinned in tests/test_dedup_edges.py).  Only when
    BOTH fail does the caller take its safe non-broadcast path.
    """
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return _plan_size_bytes_sql(df)


def ngram_jaccard_dedup(
    documents: DataFrame,
    salt: int = 1,
    broadcast_max_bytes: int | None = NGRAM_BROADCAST_MAX_BYTES,
) -> DataFrame:
    """Near-dup pairs by char-trigram jaccard, blocked by ``source``.

    Character trigrams are order-robust (catch shuffled/re-ordered text);
    the ``source`` column is the blocking key bounding the pair count —
    the standard metadata-blocking pattern for pipeline dedup at scale.
    Output: (doc_a, doc_b, jaccard).

    ``salt > 1`` enables skew handling for a hot blocking key: the probe
    side gets a deterministic salt (doc_id % salt) and the build side is
    replicated across all salt values, splitting one hot block across
    ``salt`` tasks with identical pair semantics (verified in
    tests/test_dedup_salting.py).

    Join strategy: broadcasting the whole trigram-set frame is only legal
    while it fits in one executor's memory, so it is gated on the input's
    ESTIMATED size from Catalyst plan statistics — a metadata read, never a
    count() scan job (``broadcast_max_bytes``; ``None``/0 forces the
    shuffle path, as does unavailable statistics — see _plan_size_bytes).
    The budget is scaled down by ``salt`` because the build side is
    replicated ``salt``× by the explode.
    Above the threshold the join is a shuffle equi-join on
    ``(source [, _salt])`` — the same keys a co-partitioned cluster join
    would bucket on, with per-block (and per-salt-split) parallelism.  Both
    paths produce identical pairs (tests/test_dedup_salting.py pins the
    hash equality; tests/test_plans.py pins SortMergeJoin on the big path).
    """
    # Hash each distinct trigram to a 56-bit int once per document (set ops
    # over longs, not strings; identical md5 hashes on both engines), and
    # repartition BEFORE the projection so corpus prep parallelizes off the
    # single-partition scan.
    # length(text) >= 3 is the cheap pushable equivalent of "has at least
    # one trigram" — filtering on size(g3) would re-inline the whole
    # shingle+md5 pipeline into a pushed-down predicate.
    # coalesce(text,'') keeps g3/n3 non-nullable so inferred isnotnull join
    # constraints fold away instead of re-running the md5 pipeline inside a
    # pre-repartition scan filter (see _token_sets).
    chars = "split(lower(coalesce(text, '')), '')"
    # Hash DISTINCT trigrams only (r14 optimization round, guide §1.2
    # per-task work): the raw trigram list is ~len(text) entries but its
    # distinct set is alphabet-bounded, and md5 per entry dominated the
    # prep.  The inner array_distinct cuts the md5 count to the distinct
    # trigrams; the OUTER array_distinct is kept so the value semantics
    # are bit-identical to the previous build even under (astronomically
    # unlikely) 56-bit hash collisions within one document.  The frame is
    # _persist-ed because BOTH self-join sides consume it (the broadcast
    # build and the probe); without the persist the md5 prep ran twice
    # per action — same caching contract as the MinHash family.
    grams = _persist(
        _spread(documents.filter(F.length("text") >= 3))
        .select(
            "doc_id",
            "source",
            F.array_distinct(
                X.xp(
                    f"transform(array_distinct({X.shingles_sx(chars, w=3)}), "
                    f"s -> {X.h56_sx('s')})"
                )
            ).alias("g3"),
        )
        .withColumn("n3", F.size("g3"))
    )
    # The per-pair intersect is CPU-heavy while the input is small in bytes:
    # a broadcast join would inherit the scan's single partition and
    # serialize the whole O(pairs) compute.  So: round-robin the probe side
    # across the full parallelism (explicit numPartitions — AQE never
    # coalesces it) and broadcast the build side.  At cluster scale the
    # broadcast swaps for a co-partitioned join on the block key; pair
    # semantics are unchanged.  |union| is derived from set sizes so one
    # intersect per pair is the entire verify cost.
    inter = F.size(F.array_intersect("a.g3", "b.g3"))
    # Size-ratio prune: |I| <= min(|A|,|B|), so jaccard >= t requires
    # (1+t)*min >= t*(|A|+|B|).  A pure integer predicate evaluated in the
    # join, discarding mismatched-size pairs before any intersect runs.
    t_num, t_den = int(TRIGRAM_JACCARD * 10), 10
    size_prune = (t_den + t_num) * F.least(F.col("a.n3"), F.col("b.n3")) >= t_num * (
        F.col("a.n3") + F.col("b.n3")
    )
    probe, build = grams, grams
    join_cond = (
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & size_prune
    )
    if salt > 1:
        probe = grams.withColumn("_salt", (F.col("doc_id") % salt).cast("int"))
        build = grams.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        join_cond = join_cond & (F.col("a._salt") == F.col("b._salt"))
    # Broadcast only under the statistics gate (plan-estimated bytes; zero
    # jobs spent deciding; the probe reads py4j stats or falls back to
    # EXPLAIN COST under Spark Connect, and only when BOTH are
    # unreachable does est None force the shuffle path).  The budget is
    # divided by salt:
    # the build side is replicated salt× by the explode, so a corpus just
    # under the raw threshold would otherwise broadcast salt× the budgeted
    # bytes.  Oversized corpora take the shuffle equi-join — Catalyst
    # extracts (source [, _salt]) as the join keys and evaluates the
    # inequality + size-prune as the join residual.
    budget = (broadcast_max_bytes or 0) // max(salt, 1)
    est_bytes = _plan_size_bytes(documents)
    small_enough = est_bytes is not None and 0 < est_bytes <= budget
    build_side = F.broadcast(build) if small_enough else build
    # Project the INTEGER intersect, barrier-filter on the cross-
    # multiplied integer bound, then derive jaccard from the projected
    # column (r14 optimization round 2nd session — the minhash_lsh_dedup
    # restructure, exact-equivalence argument at that site; n3 >= 1 by
    # the length filter so the na+nb > 0 guard is implied but kept for
    # uniformity).
    pairs = (
        probe.alias("a")
        .join(build_side.alias("b"), join_cond)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n3").alias("_na"),
            F.col("b.n3").alias("_nb"),
            inter.alias("_i"),
        )
    )
    # Barrier: keeps the intersect out of the join condition (one evaluation
    # per pair instead of up to four).
    kept = filter_after_barrier(
        pairs,
        "doc_a",
        ((t_den + t_num) * F.col("_i") >= t_num * (F.col("_na") + F.col("_nb")))
        & (F.col("_na") + F.col("_nb") > 0),
    )
    return kept.select(
        "doc_a",
        "doc_b",
        (
            F.col("_i").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_i"))
        ).alias("jaccard"),
    )


NGRAM_JACCARD_SQL = f"""
WITH chars AS (
  SELECT doc_id, source, string_split(lower(text), '') AS cs FROM documents
),
grams AS (
  SELECT doc_id, source,
         list_distinct(list_transform({X.shingles_sql('cs', w=3)},
                                      s -> {X.h56_sql('s')})) AS g3
  FROM chars
),
nonempty AS (SELECT * FROM grams WHERE len(g3) > 0)
SELECT doc_a, doc_b, jaccard
FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.g3, b.g3))::DOUBLE
           / (len(a.g3) + len(b.g3) - len(list_intersect(a.g3, b.g3))) AS jaccard
  FROM nonempty a JOIN nonempty b ON a.source = b.source AND a.doc_id < b.doc_id
)
WHERE jaccard >= {TRIGRAM_JACCARD}
"""


# --- embedding cosine --------------------------------------------------------


#: Hard ceiling for the all-pairs exact baseline — above this the O(n²)
#: BroadcastNestedLoopJoin is a mistake, not a plan choice; use the ANN
#: operators in operators.similarity instead.
EXACT_COSINE_MAX_ROWS = 100_000


def embedding_cosine_dedup(
    embeddings: DataFrame, max_rows: int | None = EXACT_COSINE_MAX_ROWS
) -> DataFrame:
    """Exact cosine near-dup pairs over the embedding column.

    This is the exact baseline (all pairs); the sub-quadratic ANN variants
    live in operators.similarity.  Cosine = sequential per-row fold over
    double-cast arrays — bit-identical to DuckDB's list_dot_product
    (verified in tests/test_functions.py).
    Output: (vec_a, vec_b, cos).

    Zero-norm vectors are excluded (``nrm > 0``) on both engines — Spark's
    non-ANSI 0/0 yields NULL while DuckDB yields NaN, so the guard is the
    portable convention.  ``max_rows`` (``None`` disables) refuses to run
    the quadratic plan on a corpus it was never meant for.
    """
    if max_rows is not None and embeddings.count() > max_rows:
        raise ValueError(
            f"embedding_cosine_dedup is the O(n²) exact baseline, capped at "
            f"{max_rows} rows; use operators.similarity (ANN) for larger "
            f"corpora or pass max_rows=None to override explicitly"
        )
    # CPU-heavy pair compute on byte-small input: spread before the
    # projection so prep and probe both use full parallelism (see
    # ngram_jaccard_dedup for the rationale; gated — guide §2.4).
    e = _spread(embeddings).select(
        "vec_id",
        X.xp("transform(embedding, x -> cast(x as double))").alias("emb"),
    )
    dot = lambda u, v: F.aggregate(  # noqa: E731
        F.zip_with(u, v, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    norms = e.select(
        "vec_id", "emb", X.xp("sqrt(aggregate(zip_with(emb, emb, (x, y) -> x * y), 0D, (acc, x) -> acc + x))").alias("nrm")
    ).filter(F.col("nrm") > 0)
    scored = (
        norms.alias("a")
        .join(F.broadcast(norms).alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.nrm") * F.col("b.nrm"))).alias("cos"),
        )
    )
    # Barrier: keeps the 64-dim dot product out of the join condition.
    return filter_after_barrier(scored, "vec_a", F.col("cos") > COSINE_DUP)


# --- embedding hyperplane LSH (sub-quadratic scale path) ---------------------

#: Random-hyperplane signature layout: HP_PLANES sign bits split into
#: HP_BANDS bands (HP_PLANES // HP_BANDS bits each).  Planes have ±1
#: entries derived from md5 — deterministic, identical constants baked into
#: both engines' plans, no RNG state to ship.
HP_PLANES = 16
HP_BANDS = 4
#: Embedding dimensionality of the driver's `embeddings` table.
HP_DIM = 64


def _hp_plane(p: int, dim: int = HP_DIM) -> list[float]:
    import hashlib

    def sign(d: int) -> float:
        h = int(hashlib.md5(f"hp:{p}:{d}".encode()).hexdigest()[:14], 16)
        return 1.0 if h % 2 == 0 else -1.0

    return [sign(d) for d in range(dim)]


HP_PLANE_VALS: list[list[float]] = [_hp_plane(p) for p in range(HP_PLANES)]

#: Auto band-width rule (r6).  At or below the compat threshold the
#: 4-bit tested-SF layout applies unchanged (pins the DuckDB oracle at
#: every driver SF, where n <= 2000); above it the width follows the
#: b ~ log2(n / target_bucket) rule SCALING.md derives from the r5
#: measurement, aiming buckets at ~HP_TARGET_BUCKET vectors so candidate
#: counts stay ~bands * n * target/2 instead of bands * n^2 / 2^b.
HP_AUTO_COMPAT_N = 4096
HP_TARGET_BUCKET = 1
HP_MAX_WIDTH = 24  # 16M buckets/band — beyond this, scan-time plane dots
#: dominate; shard the corpus before widening further.


def auto_band_width(n: int) -> int:
    """Bits per LSH band for an ``n``-vector corpus.

    <= HP_AUTO_COMPAT_N: the fixed 4-bit tested-SF layout (oracle-pinned).
    Above: ceil(log2(n / HP_TARGET_BUCKET)) clamped to [4, HP_MAX_WIDTH] —
    the corpus-adaptive rule the r5 scaling bench motivated (4-bit bands
    measured super-linear at 10x sf0.1; 16-bit flat).  Monotone in n."""
    if n <= HP_AUTO_COMPAT_N:
        return HP_PLANES // HP_BANDS
    return max(
        HP_PLANES // HP_BANDS,
        min(HP_MAX_WIDTH, math.ceil(math.log2(max(n, 2) / HP_TARGET_BUCKET))),
    )


def embedding_lsh_dedup(
    embeddings: DataFrame,
    dim: int = HP_DIM,
    planes: int | None = None,
    bands: int = HP_BANDS,
    cos_dup: float = COSINE_DUP,
) -> DataFrame:
    """Near-dup pairs by cosine, blocked by random-hyperplane LSH.

    The sub-quadratic scale path next to ``embedding_cosine_dedup``'s
    guarded exact baseline: each vector gets a ``planes``-bit signature
    (bit p = sign of ``emb · plane_p``, SimHash-for-embeddings), split into
    ``bands`` bands of ``planes // bands`` bits; only pairs sharing at
    least one band value are cosine-verified.  Candidate generation is an
    equi-join on (band, key) over rows of three ints, and the verify joins
    the (id-only, distinct) candidates back to the vectors.
    Recall is probabilistic by construction (~angle-dependent); every pair
    it does emit carries the exact cosine, a subset of the exact baseline's
    output (pinned in tests/test_dedup_edges.py).

    **Band width is the scale knob, and it is now corpus-adaptive**
    (r5 measured the problem, r6 closed it — SCALING.md): with b-bit
    bands the buckets hold ~n/2^b vectors, so candidate pairs grow as
    bands * n^2 / 2^b; fixed 4-bit bands measured super-linear past ~4x
    sf0.1 (2.5x data -> 4.5x time).  With ``planes=None`` (the default)
    the width comes from ``auto_band_width``: a cheap corpus count sets
    b = ceil(log2(n / target_bucket)) above the compat threshold, while
    every tested SF (n <= 2000 <= HP_AUTO_COMPAT_N) keeps the exact
    4-bit layout, so the registry oracle is bit-unchanged.  On a cluster
    the count would come from table/scan statistics; the one-column
    count here is the local stand-in.  Explicit ``planes`` overrides the
    rule entirely.  The recall price is analytic: P(one-band collision)
    = p^b with p = 1 - acos(cos)/pi, so at this registry's LOW 0.4
    threshold (p = 0.63) wide bands forfeit most borderline pairs —
    banding cannot be simultaneously selective and high-recall at low
    similarity thresholds; at real near-dup thresholds (cos >= 0.95,
    p = 0.90) 16-bit bands keep p^16 = 0.2 per band.  cos == 1 pairs
    collide in every band at any width, so exact-duplicate recall stays
    guaranteed.

    The dot products fold sequentially per row, bit-identical to DuckDB's
    ``list_dot_product`` (tests/test_functions.py), so the LSH bits — sign
    comparisons on those doubles — match exactly across engines.
    Output: (vec_a, vec_b, cos).
    """
    if planes is None:
        planes = auto_band_width(embeddings.count()) * bands
    if planes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide planes ({planes})")
    if planes // bands > 63:
        # a band key is a signed long; 64+ bits would build 1 << 63
        # (overflow) in the key fold and fail at plan time confusingly
        raise ValueError(
            f"band width ({planes // bands} bits) must be <= 63: "
            f"band keys are signed longs"
        )
    norms = _hp_norms(embeddings)
    band_rows = _hp_band_rows(norms, dim, planes, bands)
    cands = (
        band_rows.alias("a")
        .join(
            band_rows.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    # ``cos_dup`` defaults to the registry's oracle-pinned COSINE_DUP;
    # dedup-before-index callers pass a real near-dup threshold instead
    # (r11 — the same banding, a different verify bar).
    return _cosine_verified(cands, norms, "vec_a", "vec_b", cos_dup)


def _emb_dot(u, v):
    """Sequential per-row fold — bit-identical to DuckDB's
    ``list_dot_product`` (tests/test_functions.py), the property every
    LSH bit below inherits.  String-string operands take the cached-expr
    fast path (r14 — see functions.text.xp)."""
    if isinstance(u, str) and isinstance(v, str):
        return X.xp(
            f"aggregate(zip_with({u}, {v}, (x, y) -> x * y), 0D, "
            "(acc, x) -> acc + x)"
        )
    return F.aggregate(
        F.zip_with(u, v, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _hp_norms(embeddings: DataFrame) -> DataFrame:
    """``(vec_id, emb double[], nrm)`` with zero-norm rows dropped — the
    shared prologue of the hyperplane family.  CPU-heavy pair compute on
    byte-small input: spread before the projection so prep and probe
    both use full parallelism (see ngram_jaccard_dedup; gated —
    guide §2.4)."""
    e = _spread(embeddings).select(
        "vec_id",
        X.xp("transform(embedding, x -> cast(x as double))").alias("emb"),
    )
    return e.select(
        "vec_id", "emb", X.xp("sqrt(aggregate(zip_with(emb, emb, (x, y) -> x * y), 0D, (acc, x) -> acc + x))").alias("nrm")
    ).filter(F.col("nrm") > 0)


def _hp_band_rows(
    norms: DataFrame, dim: int, planes: int, bands: int
) -> DataFrame:
    """``(vec_id, band, key, sig)`` hyperplane-LSH bucket rows — the ONE
    definition of the signature layout, shared by the all-pairs analysis
    operator (``embedding_lsh_dedup``, which prunes the unused ``sig``)
    and the bucket-chain purge path (``embedding_purge_dedup``, whose
    chains SORT by it), so the two can never block on different
    buckets.  ``sig`` is the vector's FULL signature (every band key,
    comma-joined) — near-identical vectors share it exactly or almost,
    so a sig sort clusters them adjacently inside a coarse bucket."""
    rows_per_band = planes // bands
    # Cached-expr build (r14 optimization round, functions.text.xp): the
    # DSL form of the `planes` sign-bit folds was ~1000 py4j calls per
    # construction (each plane is a 64-literal array + an aggregate
    # lambda); the whole _keys array is ONE parseable string, built once
    # per (dim, planes, bands) per process.  Literal dialect: `1.0D` =
    # double (plain `1.0` would parse as DECIMAL and change the fold
    # type); expressions below mirror the DSL ops 1:1, so the bits and
    # band keys are bit-identical to the previous build.
    bits_sx = [
        "(case when aggregate(zip_with(emb, array("
        + ", ".join(f"{v:.1f}D" for v in _hp_plane(p, dim))
        + "), (x, y) -> x * y), 0D, (acc, x) -> acc + x) >= 0 "
        "then 1 else 0 end)"
        for p in range(planes)
    ]
    band_keys_sx = [
        " + ".join(
            ["cast(0 as bigint)"]
            + [
                f"cast({bits_sx[b * rows_per_band + i]} as bigint)"
                f" * {1 << (rows_per_band - 1 - i)}"
                for i in range(rows_per_band)
            ]
        )
        for b in range(bands)
    ]
    # one projection materializes every band key, THEN the explode and
    # the sig read the array — the generator and a second projection
    # cannot share the plane-dot folds (different plan operators, no
    # CSE across them), so inlining band_keys twice ran the n x planes
    # projection twice per purge (r11 review)
    keyed = norms.select(
        "vec_id",
        X.xp("array(" + ", ".join(band_keys_sx) + ")").alias("_keys"),
    )
    return keyed.select(
        "vec_id",
        F.posexplode("_keys").alias("band", "key"),
        F.concat_ws(",", *[F.col("_keys")[b] for b in range(bands)]).alias(
            "sig"
        ),
    )


def _cosine_verified(
    cands: DataFrame, norms: DataFrame, left: str, right: str, cos_dup: float
) -> DataFrame:
    """Exact-cosine verify of id-pair candidates ``(left, right)``
    against a ``_hp_norms`` frame; keeps pairs with cos > ``cos_dup``
    (output: left, right, cos).  Barrier: one cosine per candidate,
    never inlined into a join condition."""
    ea = norms.select(
        F.col("vec_id").alias(left), F.col("emb").alias("_ea"), F.col("nrm").alias("_na")
    )
    eb = norms.select(
        F.col("vec_id").alias(right), F.col("emb").alias("_eb"), F.col("nrm").alias("_nb")
    )
    scored = cands.join(ea, left).join(eb, right).select(
        left,
        right,
        (_emb_dot("_ea", "_eb") / (F.col("_na") * F.col("_nb"))).alias("cos"),
    )
    return filter_after_barrier(scored, left, F.col("cos") > cos_dup)


def _emb_hash(emb) -> F.Column:
    """The byte-identity key both exact-duplicate fast paths share
    (``embedding_purge_dedup``'s hash edges and ``semantic_dedup``'s
    pre-collapse): md5 over the double-array's string form.  ONE
    definition so the two operators' notion of "byte-identical vector"
    can never silently diverge (r11 review)."""
    return F.md5(emb.cast("string"))


#: Default cosine bar for dedup-before-index (r11): the registry's
#: COSINE_DUP (0.4) is an oracle-scale ANALYSIS threshold; purging
#: vectors for an index must only collapse genuine near-duplicates, or
#: the index forgets real neighbors.  0.95 is the bar SCALING.md's pq
#: sections use for "near-dup blob" throughout; at p = 1 - acos(.95)/pi
#: = 0.90 per plane, 4-bit bands keep per-band collision p^4 = 0.66 —
#: four bands miss a true pair with prob (1-.66)^4 < 2%, and exact
#: duplicates collide in every band at any width.
EMB_NEARDUP_COS = 0.95


def embedding_purge_dedup(
    embeddings: DataFrame,
    cos_dup: float = EMB_NEARDUP_COS,
    dim: int = HP_DIM,
) -> DataFrame:
    """SURVIVOR vectors after near-duplicate purge: one representative
    (the min vec_id) per near-dup component, singletons untouched — the
    embedding twin of ``minhash_purge_dedup``'s survivor semantics, and
    the composed remedy both lossy PQ edges name (similarity.py: the
    ``auto_shortlist`` cap clamp, where a blob past PQ_SHORTLIST_CAP
    serves with a shortlist it has outgrown, and the degenerate
    sub-ksub geometry SCALING.md pq-auto bounds).  Exposed as
    ``pq-index --dedup-first``.

    Pipeline: hyperplane-LSH band rows (the ``_hp_band_rows`` layout
    the analysis operator shares, auto_band_width growing banding with
    n) -> CHAIN candidates per bucket (each member links to its
    vec_id-predecessor — O(n x bands) edges, never O(bucket²) pairs)
    -> exact cosine verify at a REAL near-dup bar (``cos_dup``, default
    EMB_NEARDUP_COS — not the analysis-scale COSINE_DUP) ->
    alternating-star connected components (O(log n) rounds) -> one
    vec_id-keyed anti-join of the non-root members.

    Why CHAINS and not the minhash family's bucket-min star: embedding
    band keys are far coarser than minhash signatures (16-bit keys vs
    hashed token-set bands), so a blob's bucket routinely also catches
    unrelated vectors — and under a star, ONE unrelated member with a
    smaller id poisons the whole bucket (every blob member links only
    to it, every link fails the cosine verify, the blob never
    connects; measured on the 800-blob fixture: 458 of 800 left
    unlinked).  A chain loses only the two links adjacent to each
    impostor.  Chains sort by (FULL signature, vec_id), not vec_id
    alone: near-identical vectors share the signature (exactly or
    almost), so they sort ADJACENT inside a coarse bucket and their
    links verify — id order left scattered duplicates separated by
    unrelated members, every intermediate link failing (caught by the
    r11 ivf --dedup-first test: 40 exact dups at +1000 id offsets, zero
    purged).

    Recall contract: EXACT duplicates are guaranteed independently of
    banding or sort adjacency by the hash edges — one O(n) partial-agg
    groupBy on the exact vector bytes linking every copy to its min-id
    twin (the ``exact_dedup`` shape; no window, no straggler, any blob
    size).  Noisy near-dups are probabilistic via banding + sig
    adjacency, the analytic trade every LSH stage here documents.

    Straggler bound (the pq-skew lesson): a corpus-scale blob is ONE
    bucket, and a bucket-wide window sort would put the whole blob in
    one task.  The chain is therefore two-level with a ~sqrt(n) salt on
    the SIGNATURE hash — not on vec_id, which would scatter a sig's
    copies across salt groups and disconnect exactly the scattered
    near-dups the sig sort exists for (r11 review): level 0 chains
    within (band, key, h56(sig) % s), level 1 chains each salt group's
    (sig, vec_id)-min head across the bucket.  Window partitions are
    bounded by ~max(bucket/s, the largest single-signature cohort) —
    diverse buckets hash-spread to ~sqrt(n), while a mega-cohort
    sharing ONE signature sorts in one task of 3 narrow columns (its
    byte-exact core never relies on that sort: the hash edges carry
    it at O(n)).

    Output: the input rows (schema unchanged) minus purged near-dups —
    feed straight into ``build_pq_index``/``build_ivf_index``."""
    n = embeddings.count()
    if n == 0:
        return embeddings
    planes = auto_band_width(n) * HP_BANDS
    # shared-frame persists (the minhash twins' `bands = _persist(...)`
    # pattern; caching contract as everywhere in this module — entries
    # are released by release_cached()/clearCache(), not here): norms
    # feeds the band projection AND both cosine-verify sides, the band
    # rows feed the level-0 chain AND the salt-group mins — unpersisted,
    # the n x planes plane-dot projection ran twice and the corpus
    # normalization four times per purge (r11 review).
    norms = _persist(_hp_norms(embeddings))
    rows = _persist(
        _hp_band_rows(norms, dim, planes, HP_BANDS).withColumn(
            "salt",
            F.pmod(X.h56(F.col("sig")), F.lit(int(math.ceil(math.sqrt(n))))),
        )
    )
    w0 = Window.partitionBy("band", "key", "salt").orderBy("sig", "vec_id")
    chain0 = rows.withColumn("rep", F.lag("vec_id").over(w0))
    heads = rows.groupBy("band", "key", "salt").agg(
        F.min(F.struct("sig", "vec_id")).alias("_h")
    ).select("band", "key", F.col("_h.sig").alias("sig"), F.col("_h.vec_id").alias("vec_id"))
    w1 = Window.partitionBy("band", "key").orderBy("sig", "vec_id")
    chain1 = heads.withColumn("rep", F.lag("vec_id").over(w1))
    cand = (
        chain0.select("vec_id", "rep")
        .unionByName(chain1.select("vec_id", "rep"))
        .filter(F.col("rep").isNotNull())
        .distinct()
    )
    chain_edges = _cosine_verified(cand, norms, "vec_id", "rep", cos_dup).select(
        F.col("vec_id").alias("u"), F.col("rep").alias("v")
    )
    # exact-duplicate hash edges: identical vector bytes link straight to
    # their min-id twin — one partial-agg groupBy, no window, any blob
    # size/id layout; exact equality needs no cosine verify (and an md5
    # collision is the same accepted risk as every text-hash dedup here)
    hashed = norms.select(
        "vec_id", _emb_hash(F.col("emb")).alias("_h")
    )
    exact_edges = (
        hashed.join(
            hashed.groupBy("_h").agg(F.min("vec_id").alias("v")), "_h"
        )
        .filter(F.col("vec_id") != F.col("v"))
        .select(F.col("vec_id").alias("u"), "v")
    )
    edges = chain_edges.unionByName(exact_edges)
    # (node, root) holds one row per NON-root member of every component;
    # roots and singletons never appear — exactly the purge set.
    purged = connected_components(edges).select(F.col("node").alias("vec_id"))
    return embeddings.join(purged, "vec_id", "left_anti")


def _embedding_lsh_sql() -> str:
    def plane_lit(p: int) -> str:
        return "[" + ", ".join(str(v) for v in HP_PLANE_VALS[p]) + "]"

    rows_per_band = HP_PLANES // HP_BANDS
    band_exprs = []
    for b in range(HP_BANDS):
        terms = " + ".join(
            f"(CASE WHEN list_dot_product(emb, {plane_lit(b * rows_per_band + i)}) >= 0 "
            f"THEN {1 << (rows_per_band - 1 - i)} ELSE 0 END)"
            for i in range(rows_per_band)
        )
        band_exprs.append(f"{terms} AS k{b}")
    band_rows = "\n    UNION ALL\n".join(
        f"    SELECT vec_id, {b} AS band, k{b} AS key FROM sig"
        for b in range(HP_BANDS)
    )
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0
),
sig AS (
  SELECT vec_id, {', '.join(band_exprs)} FROM e
),
bands AS (
{band_rows}
),
cands AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cos FROM (
  SELECT c.vec_a, c.vec_b,
         list_dot_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm) AS cos
  FROM cands c
  JOIN e ea ON ea.vec_id = c.vec_a
  JOIN e eb ON eb.vec_id = c.vec_b
)
WHERE cos > {COSINE_DUP}
"""


EMBEDDING_LSH_SQL = _embedding_lsh_sql()


EMBEDDING_COSINE_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) > {COSINE_DUP}
"""


# --- r7 registry consolidation: method-keyed pair unions ---------------------


def embedding_dedup_methods(embeddings: DataFrame) -> DataFrame:
    """Exact-cosine and hyperplane-LSH embedding near-dup pairs as ONE
    method-keyed union — the registry-facing composition (r7; both
    components stay public and individually parity-gated in
    tests/test_offregistry_parity.py).  Output: ``(method, vec_a, vec_b,
    cos)`` with method in {'exact', 'lsh'}; the LSH branch's pairs are a
    subset of the exact branch's (pinned in tests/test_dedup_edges.py),
    so the union doubles exactly the recalled pairs.
    """
    exact = embedding_cosine_dedup(embeddings).select(
        F.lit("exact").alias("method"), "vec_a", "vec_b", "cos"
    )
    lsh = embedding_lsh_dedup(embeddings).select(
        F.lit("lsh").alias("method"), "vec_a", "vec_b", "cos"
    )
    return exact.unionByName(lsh)


EMBEDDING_METHODS_SQL = f"""
SELECT 'exact' AS method, vec_a, vec_b, cos FROM ({EMBEDDING_COSINE_SQL}) e
UNION ALL
SELECT 'lsh' AS method, vec_a, vec_b, cos FROM ({EMBEDDING_LSH_SQL}) l
"""


def text_pair_dedup_methods(documents: DataFrame) -> DataFrame:
    """MinHash-LSH (word-level, jaccard-verified) and char-trigram
    (source-blocked) near-dup pairs as ONE method-keyed union — the
    registry-facing composition (r7; both components stay public and
    individually parity-gated in tests/test_offregistry_parity.py).
    Output: ``(method, doc_a, doc_b, jaccard)`` with method in
    {'minhash', 'ngram'}.  The two branches share nothing but the scan
    (different tokenizations by design — word sets vs char trigrams), so
    the union is two independent pipelines; each keeps its own scale
    shape (unique-text banding / source blocking with the broadcast row
    gate).
    """
    mh = minhash_lsh_dedup(documents).select(
        F.lit("minhash").alias("method"), "doc_a", "doc_b", "jaccard"
    )
    ng = ngram_jaccard_dedup(documents).select(
        F.lit("ngram").alias("method"), "doc_a", "doc_b", "jaccard"
    )
    return mh.unionByName(ng)


TEXT_PAIR_METHODS_SQL = f"""
SELECT 'minhash' AS method, doc_a, doc_b, jaccard FROM ({MINHASH_LSH_SQL}) m
UNION ALL
SELECT 'ngram' AS method, doc_a, doc_b, jaccard FROM ({NGRAM_JACCARD_SQL}) n
"""


# --- r11 SemDeDup: cluster-then-prune semantic dedup -------------------------

#: Within-cluster redundancy bar.  The synthetic corpus has no true
#: near-dup blobs (max all-pairs cosine 0.48/0.51/0.60 at the three SFs),
#: so the oracle-visible default is the family's ANALYSIS threshold
#: (COSINE_DUP), not the 0.95 near-dup bar ``embedding_purge_dedup``
#: indexes behind — SemDeDup's point is pruning SEMANTIC redundancy well
#: below near-dup similarity (the paper sweeps eps per corpus; the knob
#: is the ``tau`` argument).
SEMANTIC_COS = COSINE_DUP


def _semantic_rep_map(asg: DataFrame) -> DataFrame:
    """The exact-cohort representative map behind ``semantic_dedup``'s
    pre-collapse: (vec_id, cluster, rep_id) with rep_id = min vec_id per
    (cluster, vector-bytes) cohort.  groupBy + join back, NOT a window:
    the min partial-aggregates map-side, so a mega-cohort never piles
    into one window task — the same shape the purge's exact-hash edges
    use (plan-pinned directly in tests/test_plans.py; inside the full
    operator the CC checkpoint truncates this stage out of the executed
    plan, which made the original whole-operator pin vacuous — r11
    review).  The persisted frame is slimmed to the three columns the
    consumers read (the 32-char hash never leaves this function)."""
    hashed = asg.select("vec_id", "cluster", _emb_hash(F.col("emb")).alias("_h"))
    return hashed.join(
        hashed.groupBy("cluster", "_h").agg(F.min("vec_id").alias("rep_id")),
        ["cluster", "_h"],
    ).select("vec_id", "cluster", "rep_id")


def semantic_dedup(embeddings: DataFrame, tau: float = SEMANTIC_COS) -> DataFrame:
    """Cluster-then-prune semantic dedup — the SemDeDup shape (Abbas et
    al., "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", arXiv:2303.09540, public): k-means-cluster the
    embedding space, threshold pairwise cosine WITHIN each cluster, and
    keep, per duplicate group, the member FARTHEST from its centroid
    (lowest assignment cosine — the paper's best-performing keep rule:
    the retained exemplar is the least prototypical, preserving diversity
    at the cluster edge).

    Distinct from the rest of the embedding family by design:
    ``embedding_lsh_dedup`` / ``embedding_purge_dedup`` recall NEAR-dups
    (cos ~ 0.95+) via hyperplane banding — at a semantic bar (0.4-0.8)
    hyperplane LSH has no usable contrast (plane-agreement p = 1 -
    acos(cos)/pi decays too slowly), which is exactly why SemDeDup blocks
    by k-means cell instead.  Both operators share the survivors
    contract, so either composes into ``--dedup-first``-style pipelines.

    Plan shape, Spark-first: the codebook is the deterministic two-level
    seed codebook ``similarity.ivf_codebook`` already builds for IVF
    (hash-sampled, broadcast, oracle-pinned); assignment is the shared
    broadcast-codebook scan; byte-identical vectors pre-collapse to one
    representative through O(n) hash identity edges BEFORE pairing (the
    exact-cohort c² guard — see the inline note and SCALING.md
    semdedup-blob); the within-cluster pair stage is an id-only
    EQUI-join on cluster over the representatives (no embedding payload
    through the shuffle — pairs carry two longs, vectors join back once
    in the shared ``_cosine_verified`` barrier); duplicate groups close
    over ``connected_components`` (O(log n) rounds); the keep rule is
    one partial-aggregable min-struct per component, computed only over
    components that HAVE edges (singletons never enter the shuffle).

    Scale envelope (the paper's own): within-cluster pairing costs
    O(sum c_i^2) = O(n^2 / K) comparisons; ``auto_subk`` grows K ~ sqrt(n),
    so the total tracks O(n^1.5) — the same
    envelope as the IVF probe scan, distributed over cluster-keyed
    shuffle partitions (AQE splits a skewed cell's join side; a
    corpus-scale degenerate blob belongs to ``embedding_purge_dedup``
    first — the established dedup-before-index order).

    Keep-rule determinism across engines: the assignment cosine is
    quantized to ``floor(ccos * 2^20)`` (the KMEANS_SCALE convention) and
    tie-broken by vec_id, so the kept exemplar never rides a float
    comparison between near-equal doubles.

    Output: one row per nonzero-norm vector —
    ``(vec_id, cluster, component, kept_id, is_pruned)`` with
    ``component`` = min vec_id of the tau-connected duplicate group
    (vec_id itself for singletons) and ``kept_id`` the group's retained
    exemplar.  Zero-norm vectors are excluded (cosine undefined; the
    portable convention of every oracle's ``e`` CTE)."""
    from cloudcomputing_flink_application_spark.operators import similarity as SIM

    if not -1.0 <= tau < 1.0:
        # tau >= 1 would make the pre-collapse below observable: byte-
        # identical vectors connect by IDENTITY (cos = 1 by definition,
        # and 1 within 4 ulp as floats), which only coincides with the
        # literal `cos > tau` rule while tau < 1
        raise ValueError(f"tau must be in [-1, 1), got {tau}")
    n, subk = SIM._corpus_sizing(embeddings)
    if n == 0:
        return embeddings.sparkSession.createDataFrame(
            [],
            "vec_id bigint, cluster bigint, component bigint, "
            "kept_id bigint, is_pruned boolean",
        )
    # shared-frame persists (the module's caching contract): base feeds
    # the seed sampler, the assignment scan, and both cosine-verify
    # sides; the codebook is referenced three times inside
    # _assign_to_centroids; the assignment feeds both pair sides and the
    # scored projection.
    base = _persist(SIM._normed(embeddings))
    codebook = _persist(SIM._twolevel_seeds(base, subk))
    asg = _persist(SIM._assign_to_centroids(base, codebook, keep_score=True))
    # exact-duplicate pre-collapse (the purge's r11 hash-edge lesson,
    # applied at construction): byte-identical vectors tie on every
    # assignment cosine, so the deterministic min-cluster tiebreak sends
    # a whole copy cohort into ONE cell and the pair stage goes c² on
    # the copy count (measured: a planted 8k-copy cohort took the 8k-
    # background corpus from 17 s to 51 s — SCALING.md semdedup-blob).
    # Pairing therefore runs over one REPRESENTATIVE (min vec_id) per
    # distinct vector byte string, and copies join the graph through
    # O(n) identity edges instead.  Semantics are unchanged: a copy's
    # tau-edges are exactly its rep's (identical vectors), identical
    # copies share ccos_q so the keep rule's (ccos_q, vec_id) min over
    # reps+identity-linked copies equals the full-graph min, and
    # byte-identical vectors are duplicates at ANY valid bar (cos = 1
    # by definition, 1 within 4 ulp as floats; the tau < 1 guard above
    # keeps that convention aligned with the oracle's literal
    # `cos > tau` everywhere except a ~1e-15 sliver below 1, accepted
    # and documented here).
    # the collapse key includes the CLUSTER: byte-identical vectors
    # under different labels live in different (label-scoped) cells and
    # must never link — an unscoped hash would weld them across the
    # cluster blocking the whole operator is defined by (caught by the
    # cross-label copy test)
    rmap = _persist(_semantic_rep_map(asg))
    ids = rmap.filter(F.col("vec_id") == F.col("rep_id")).select(
        "cluster", "vec_id"
    )
    cand = (
        ids.join(ids.select("cluster", F.col("vec_id").alias("rep")), "cluster")
        .filter(F.col("rep") < F.col("vec_id"))
        .select("vec_id", "rep")
    )
    pair_edges = _cosine_verified(cand, base, "vec_id", "rep", tau).select(
        F.col("vec_id").alias("u"), F.col("rep").alias("v")
    )
    ident_edges = rmap.filter(F.col("vec_id") != F.col("rep_id")).select(
        F.col("vec_id").alias("u"), F.col("rep_id").alias("v")
    )
    edges = pair_edges.unionByName(ident_edges)
    cc = connected_components(edges)  # (node, root), non-roots only
    scored = asg.select(
        "vec_id",
        "cluster",
        F.floor(F.col("ccos") * SIM.KMEANS_SCALE).cast("long").alias("ccos_q"),
    )
    # keep rule over TOUCHED components only: members = non-roots + the
    # roots themselves; singletons resolve to kept_id = vec_id below
    # without ever entering this aggregation.
    members = cc.unionByName(
        cc.select(F.col("root").alias("node"), "root").distinct()
    )
    keep = (
        members.join(scored.withColumnRenamed("vec_id", "node"), "node")
        .groupBy("root")
        .agg(F.min(F.struct("ccos_q", "node")).alias("k"))
        .select(F.col("root").alias("component"), F.col("k.node").alias("kept_id"))
    )
    return (
        scored.join(cc.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .withColumn("component", F.coalesce("root", "vec_id"))
        .join(keep, "component", "left")
        .withColumn("kept_id", F.coalesce("kept_id", "vec_id"))
        .select(
            "vec_id",
            "cluster",
            "component",
            "kept_id",
            (F.col("vec_id") != F.col("kept_id")).alias("is_pruned"),
        )
    )


def semantic_purge_dedup(
    embeddings: DataFrame, tau: float = SEMANTIC_COS
) -> DataFrame:
    """SURVIVOR vectors after SemDeDup pruning: the input rows (schema
    unchanged) minus every ``is_pruned`` member of a tau-connected
    duplicate group — the semantic twin of ``embedding_purge_dedup``'s
    survivor contract (zero-norm vectors are never pruned: they carry no
    cosine and pass through the anti-join untouched)."""
    pruned = semantic_dedup(embeddings, tau).filter(F.col("is_pruned")).select(
        "vec_id"
    )
    return embeddings.join(pruned, "vec_id", "left_anti")


def _semantic_dedup_sql(tau: float = SEMANTIC_COS) -> str:
    """DuckDB oracle for ``semantic_dedup`` — the shared seed codebook
    CTE (which sizes subk with ``auto_subk``'s rule from the table
    itself, as KMEANS_CODEBOOK_SQL does), with the recursive-walk
    closure MINHASH_CC_SQL established."""
    from cloudcomputing_flink_application_spark.operators.similarity import (
        KMEANS_SCALE,
        _SEEDS_CTE,
    )

    return f"""
WITH RECURSIVE e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0
),
{_SEEDS_CTE.strip()},
asg AS (
  SELECT e.vec_id, e.emb, e.nrm, c.cluster,
         list_dot_product(cemb, emb) / (cnrm * nrm) AS ccos,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_dot_product(cemb, emb) / (cnrm * nrm) DESC,
                                     c.cluster ASC) AS arank
  FROM e JOIN centroids c USING (label)
),
assigned AS (
  SELECT vec_id, emb, nrm, cluster,
         CAST(floor(ccos * {KMEANS_SCALE}) AS BIGINT) AS ccos_q
  FROM asg WHERE arank = 1
),
edges0 AS (
  SELECT a.vec_id AS u, b.vec_id AS v
  FROM assigned a JOIN assigned b USING (cluster)
  WHERE a.vec_id < b.vec_id
    AND list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) > {tau}
),
edges AS (SELECT u, v FROM edges0 UNION SELECT v AS u, u AS v FROM edges0),
walk(node, lbl) AS (
  SELECT u AS node, u AS lbl FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT ed.v AS node, w.lbl AS lbl FROM walk w JOIN edges ed ON ed.u = w.node
),
roots AS (SELECT node, min(lbl) AS comp FROM walk GROUP BY node),
members AS (
  SELECT a.vec_id, a.cluster, a.ccos_q,
         coalesce(r.comp, a.vec_id) AS component
  FROM assigned a LEFT JOIN roots r ON r.node = a.vec_id
),
keep AS (
  SELECT component, vec_id AS kept_id FROM (
    SELECT component, vec_id,
           row_number() OVER (PARTITION BY component
                              ORDER BY ccos_q ASC, vec_id ASC) AS rk
    FROM members
  ) WHERE rk = 1
)
SELECT m.vec_id, m.cluster, m.component, k.kept_id,
       m.vec_id <> k.kept_id AS is_pruned
FROM members m JOIN keep k USING (component)
"""


SEMANTIC_DEDUP_SQL = _semantic_dedup_sql()


def semantic_purge_ids(embeddings: DataFrame, tau: float = SEMANTIC_COS) -> DataFrame:
    """The survivor ID SET of :func:`semantic_purge_dedup` —
    ``(vec_id, label)`` only, so the purge contract carries a value-hash
    oracle without hashing raw float arrays cross-engine (the survivors
    frame itself returns the input rows unchanged; its embedding column
    is pinned by the anti-join construction, not re-hashed)."""
    return semantic_purge_dedup(embeddings, tau).select("vec_id", "label")


SEMANTIC_PURGE_IDS_SQL = f"""
SELECT vec_id, label FROM embeddings
WHERE vec_id NOT IN (
  SELECT vec_id FROM ({SEMANTIC_DEDUP_SQL.strip()}) v WHERE v.is_pruned
)
"""
