"""Similarity search over the ``embeddings`` table (ANN operators).

Two paths, as a training-data pipeline needs at 100 TB:

- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  The query set is tiny (every 100th vector), so Spark broadcasts it and
  scans the candidate side once (BroadcastNestedLoopJoin); the only shuffle
  is the final per-query top-k window over ~|queries|*|corpus-partition|
  partial results.  At cluster scale this is the classic
  "broadcast-queries, map-side partial top-k" plan.
- ``cosine_topk_ivf``: IVF pruning — a deterministic TWO-LEVEL codebook
  (label = coarse level, SUBK hash-sampled sub-centroids per label),
  vectors assigned to their nearest same-label sub-centroid, queries probe
  the NPROBE nearest clusters globally.  Assignment is an equi-join on
  label (each vector compares against SUBK centroids, not all K), and the
  search join is an equi-join on cluster id — each query scans only its
  probed inverted lists.

Accuracy is MEASURED, not assumed (``ivf_recall_report``): the synthetic
embeddings are near-uniform random (intra-label mean cos 0.0008 vs 0.0
inter-label; only 6% of exact top-5 neighbors share the query's label), so
recall tracks the scanned fraction plus a same-cell bonus.  The sf0.1
sweep (DuckDB prototype, r5): K=50/nprobe=40 -> recall 0.94 at ~80% pairs
scanned; K=50/nprobe=32 -> 0.82 at 64%; the r1-r4 label-seeded K=10/
nprobe=3 -> 0.55-0.57 at 30%.  The defaults pick the 0.94 point.  On such
data NO partitioning prunes much below the recall target — that is a
property of random vectors, and exactly what the recall report is for; on
real clustered embeddings the same plan prunes hard.

Cosine arithmetic is the double-cast sequential fold proven bit-identical
to DuckDB's list_dot_product (tests/test_functions.py), so both operators
carry full value-hash oracles.
"""

from __future__ import annotations

import math
import threading

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cloudcomputing_flink_application_spark.functions import text as X

TOPK = 5
NPROBE = 40  # of the K = 10 labels x SUBK clusters (see module docstring)
SUBK = 5  # floor of auto_subk, sub-centroids per label (coarse level = label)
SEED_OVERSAMPLE = 8  # hash prefilter keeps ~SUBK*OVERSAMPLE candidates/label
QUERY_STRIDE = 100  # vec_id % STRIDE == 0 -> query vector

#: Auto codebook-size rule (r8) — closes the last named scale constant
#: (VERDICT r7): a FIXED K makes every probed inverted list hold n/K
#: vectors, so at 10^9 vectors a 50-list codebook scans ~2% of the corpus
#: PER PROBED LIST no matter what nprobe is.  Per-query IVF work is
#: ~K (rank the centroids) + nprobe * n/K (scan the probed lists); the
#: sum is minimized at K ~ sqrt(n) — the classic IVF sizing rule — which
#: also sends the probe fraction nprobe/K to 0 as the corpus grows.  One
#: rule at every size: subk = ceil(ceil(sqrt(n)) / |labels|), floored at
#: SUBK, so K = |labels| * subk tracks sqrt(n) (every tested SF, n <= 2000
#: over 10 labels, lands on the SUBK floor).  The oracles' _SEEDS_CTE
#: computes the same rule from its own tables.
#:
#: cluster = label * 1000 + rank reserves three decimal digits for rank —
#: the NARROW encoding every persisted index below the clamp uses, kept
#: bit-identical forever.  At subk = 999 with K ~ sqrt(n) that bound is
#: reached near n ~ (999 * |labels|)^2 (10^8 at 10 labels); past it (r9,
#: r8 VERDICT #5) the encoding WIDENS instead of saturating: cluster =
#: IVF_WIDE_MARK + label * IVF_WIDE_RANK_BASE + rank.  The mark makes ids
#: self-describing (decode needs no out-of-band subk), narrow ids are
#: untouched (no persisted index is ever renumbered — labels are small
#: ints, far below the mark), and K keeps tracking sqrt(n) through
#: n ~ (10^7 * |labels|)^2 = 10^16 at 10 labels.  Label bounds are
#: enforced per row at encode time (``_encode_cluster`` raises):
#: label < 10^11 narrow (ids stay under the mark), < 10^8 wide.
#:
#: nprobe stays FIXED as K grows, deliberately: on clustered data a
#: query's neighbors live in the handful of cells nearest it, and that
#: count is set by the neighborhood's geometry, not by how finely the
#: codebook partitions the space — so the probed-cell FRACTION
#: (nprobe/K) shrinking with sqrt(n) is the win, not a recall leak by
#: construction (measured: recall held 1.00 as K grew 250 -> 300 on the
#: clustered bench).  It is still data-dependent — which is what
#: ``ivf_recall_report`` exists to price; re-run it per corpus when the
#: auto rule moves K, and raise nprobe only if the measured recall says
#: so (the sweep pattern in the module docstring).
IVF_MAX_SUBK = 999
IVF_WIDE_RANK_BASE = 10**7
IVF_WIDE_MARK = 10**15


def _encode_cluster(subk: int) -> Column:
    """Two-level cluster id from (label, rk) columns: the narrow
    ``label * 1000 + rk`` form whenever ranks fit its three digits, the
    marked wide form above (see the IVF_MAX_SUBK note).  The switch is a
    build-time Python branch — one codebook uses ONE encoding, chosen by
    its subk, and the ids say which.  The label bound each encoding
    needs (narrow ids must stay under the wide mark, wide ids must not
    collide across labels) is ENFORCED per row via raise_error — the
    driver corpora use small-int labels, but a future labeler violating
    the bound must fail loudly, not misdecode."""
    label = F.col("label").cast("long")
    if subk <= IVF_MAX_SUBK:
        encoded = label * 1000 + F.col("rk")
        bound = 10**11  # label*1000+999 < 10^15 with margin
    else:
        encoded = F.lit(IVF_WIDE_MARK) + label * IVF_WIDE_RANK_BASE + F.col("rk")
        bound = 10**8  # label*10^7 + rank stays under the mark
    return F.when((label >= 0) & (label < bound), encoded).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"label out of range for the cluster-id encoding "
                    f"(need 0 <= label < {bound}): "
                ),
                label.cast("string"),
            )
        )
    )


def _exact_div(col: Column, base: int) -> Column:
    """Exact integer quotient of a non-negative long column: subtract the
    remainder, THEN divide — the numerator becomes an exact multiple of
    ``base``, and (for our magnitudes, < 2^53) the double division of
    exactly-representable operands whose true quotient is an integer is
    exact.  A plain decimal floor-divide is NOT safe here: Spark resolves
    decimal(38,0)/int to decimal(38,6), which rounds HALF_UP at six
    places BEFORE the floor — empirically, rank 9,999,995 of 10^7 rounds
    the quotient up and decodes to label+1 (r9 review catch)."""
    return ((col - col % base) / base).cast("long")


def _decode_label(cluster: Column) -> Column:
    """Recover the coarse label from a cluster id of EITHER encoding —
    the mark says which; mixed frames (never produced by one build, but
    cheap to be correct about) decode per row."""
    return F.when(
        cluster >= IVF_WIDE_MARK,
        _exact_div(cluster - IVF_WIDE_MARK, IVF_WIDE_RANK_BASE),
    ).otherwise(_exact_div(cluster, 1000))


def auto_subk(n: int, n_labels: int) -> int:
    """Sub-centroids per label for an ``n``-vector corpus:
    ceil(ceil(sqrt(n)) / n_labels), clamped to [SUBK,
    IVF_WIDE_RANK_BASE - 1] — K = n_labels * subk ~ sqrt(n), monotone in
    n.  Past subk = IVF_MAX_SUBK the cluster-id encoding widens
    (``_encode_cluster``), so the rule keeps tracking sqrt(n) through
    n ~ 10^16 at 10 labels instead of saturating at 10^8 (r9; the old
    clamp was the last point where K stopped growing)."""
    k_target = math.isqrt(max(n - 1, 0)) + 1  # ceil(sqrt(n)), exact ints
    per_label = -(-k_target // max(n_labels, 1))  # ceil div
    return max(SUBK, min(IVF_WIDE_RANK_BASE - 1, per_label))


def _corpus_sizing(embeddings: DataFrame) -> tuple[int, int]:
    """(n, auto subk) from one aggregate over the corpus — on a cluster
    this would come from table statistics; the aggregate is the local
    stand-in.  The shared sizing read for every codebook consumer
    (dedup.semantic_dedup included), so the n/label conventions can
    never diverge per caller.

    The label count is the size of the label set, not a countDistinct:
    the set merges map-side in the count's own exchange, where
    countDistinct adds an expand and a second shuffle (one more Spark
    job per call).  The set is as small as the per-label count frame
    ``_twolevel_seeds`` already broadcasts."""
    row = embeddings.agg(
        F.count("*").alias("n"), F.size(F.collect_set("label")).alias("nl")
    ).first()
    n = int(row["n"])
    return n, auto_subk(n, max(int(row["nl"]), 1))


#: Frames persisted by the operators below — same caching contract as
#: ``operators.dedup``: operators return lazy frames, so release happens
#: via :func:`release_cached` (targeted) or ``spark.catalog.clearCache()``
#: (what bench.py does per run), never inside the operator itself.  Like
#: dedup's, the registry is PER-THREAD (ADVICE r8 low): release on the
#: thread that ran the operator, and concurrent streams/operators in one
#: session can never drop each other's caches.
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


def cached_mark() -> int:
    """The current length of this thread's cache registry — pass to
    ``release_cached(since=...)`` to release exactly the frames persisted
    after the mark (the per-micro-batch scoping a long-lived stream
    needs; the ``dedup.cached_mark`` pattern)."""
    return len(_frames())


def release_cached(since: int = 0) -> None:
    """Unpersist frames the similarity operators have cached on this
    thread (per-thread registry — see the ``_TLS`` note), newest first,
    down to ``since`` (default: all of them)."""
    frames = _frames()
    while len(frames) > since:
        frames.pop().unpersist()


def _dot_sx(u: str, v: str) -> str:
    """Spark-SQL twin of :func:`_dot` (``0D`` = double literal, matching
    the DSL's ``F.lit(0.0)`` — plain SQL ``0.0`` would parse as DECIMAL)."""
    return f"aggregate(zip_with({u}, {v}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


def _dot(u: Column | str, v: Column | str) -> Column:
    # string-string pairs take the cached-expr fast path (r14 optimization
    # round): the DSL lambda chain costs ~10-20 ms of py4j per build and
    # the search arms rebuild dozens of dots per bench run — see
    # functions.text.xp.  Column operands (lambda variables, struct
    # fields) keep the DSL form.
    if isinstance(u, str) and isinstance(v, str):
        return X.xp(_dot_sx(u, v))
    return F.aggregate(
        F.zip_with(u, v, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _normed(embeddings: DataFrame, spread: bool = True) -> DataFrame:
    # nrm > 0 excludes zero vectors: cosine is undefined for them, and the
    # engines disagree on 0/0 (Spark non-ANSI NULL vs DuckDB NaN) — the
    # filter is the portable convention, mirrored in every oracle's e CTE.
    # Repartition BEFORE the fold projection (spread=True, the corpus
    # side): a one-file parquet scan is a single partition, and the norm
    # folds plus the downstream broadcast-join dot products would
    # otherwise run in ONE task (the same single-partition-prep pathology
    # _token_sets dodges).  Explicit numPartitions — AQE never coalesces a
    # user repartition.  Query branches pass spread=False: they are
    # stride-filtered to a handful of rows, where a 32-way shuffle is pure
    # scheduling overhead.
    if spread:
        # Hash on vec_id (not round-robin): downstream per-vector windows /
        # aggregations require ClusteredDistribution(vec_id), which this
        # partitioning already satisfies — broadcast joins preserve it, so
        # e.g. the IVF assignment ranking needs NO further exchange.
        nparts = embeddings.sparkSession.sparkContext.defaultParallelism
        embeddings = embeddings.repartition(nparts, F.col("vec_id"))
    e = embeddings.select(
        "vec_id",
        "label",
        X.xp("transform(embedding, x -> cast(x as double))").alias("emb"),
    )
    return e.withColumn("nrm", F.sqrt(_dot("emb", "emb"))).filter(
        F.col("nrm") > 0
    )


def _queries_normed(embeddings: DataFrame) -> DataFrame:
    """The normed stride-filtered query branch every search arm shares.

    Stride-filter BEFORE the norm pipeline: the query branch is a second
    scan of the corpus, and filtering first means it folds 1/STRIDE of
    the rows instead of all of them (the % predicate is cheap per row;
    the 64-element dot fold is not).  Same row set either order.

    r14 optimization round: the three search arms (and the recall
    report's two) used to each rebuild this frame and ``_normed(corpus)``
    from scratch — identical plans, rebuilt at ~0.1-0.2 s of driver-side
    py4j/analysis each inside the bench's timed region.  The composition
    entry points now build each ONCE and thread them through the arms
    (``base=``/``queries=`` parameters below); single-arm calls are
    unchanged.  Plan semantics are identical — the same expressions, just
    constructed once."""
    return _normed(
        embeddings.filter(F.col("vec_id") % QUERY_STRIDE == 0), spread=False
    )


def cosine_topk(
    embeddings: DataFrame,
    k: int = TOPK,
    base: DataFrame | None = None,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for every QUERY_STRIDE-th vector.

    Output: (query_id, neighbor_id, rank, cos) — rank 1..k by
    (cos desc, neighbor_id asc), self excluded.  ``base``/``queries``
    optionally supply the shared normed frames (see _queries_normed).
    """
    base = _normed(embeddings) if base is None else base
    queries = (
        _queries_normed(embeddings) if queries is None else queries
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        F.broadcast(queries)
        .join(base, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (_dot("qemb", "emb") / (F.col("qnrm") * F.col("nrm"))).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


COSINE_TOPK_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0
),
q AS (
  SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm
  FROM e WHERE vec_id % {QUERY_STRIDE} = 0
),
scored AS (
  SELECT query_id, e.vec_id AS neighbor_id,
         list_dot_product(qemb, emb) / (qnrm * nrm) AS cos
  FROM q JOIN e ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= {TOPK}
"""


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (storage path).

    Per-vector max-abs scaling: q_i = trunc(x_i / scale * 127) with
    scale = max(|x|).  Pure per-row array math (scan-fused, no shuffle) —
    the compression step a 100 TB embedding store runs before writing
    int8 parquet.  Output keeps the quantized vector as a compact
    comma-joined string plus the scale needed to dequantize.

    Output: (vec_id, dim, scale, q_csv).  All-zero vectors (scale = 0) are
    excluded: x/0 diverges between the engines (Spark NULL vs DuckDB inf),
    and a zero vector has no meaningful quantization — the guard is the
    explicit convention, mirrored in the oracle.

    r14 optimization round (guide §1.2 per-task work): the previous
    single-projection form referenced ``scale`` — itself an
    array_max-over-transform — INSIDE the per-element quantize lambda,
    and interpreted higher-order functions do no CSE, so every element
    re-reduced the whole vector: O(dim²) work per row (plus a rebuilt
    cast-transform under it).  Staged projections materialize ``_emb``
    and ``scale`` as columns first; per-element work is now O(1).  Same
    arithmetic, bit-identical output.
    """
    e = embeddings.select(
        "vec_id",
        F.size("embedding").cast("int").alias("dim"),
        X.xp("transform(embedding, x -> cast(x as double))").alias("_emb"),
    )
    scaled = e.select(
        "vec_id",
        "dim",
        "_emb",
        X.xp("array_max(transform(_emb, x -> abs(x)))").alias("scale"),
    ).filter(F.col("scale") > 0)
    q = (
        "transform(_emb, x -> cast(signum(x / scale * 127) * "
        "floor(abs(x / scale * 127)) as int))"
    )
    return scaled.select(
        "vec_id",
        "dim",
        "scale",
        X.xp(f"array_join(transform({q}, v -> cast(v as string)), ',')").alias(
            "q_csv"
        ),
    )


QUANTIZE_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
scaled AS (
  SELECT vec_id, emb,
         list_max(list_transform(emb, x -> abs(x))) AS scale
  FROM e
  WHERE list_max(list_transform(emb, x -> abs(x))) > 0
)
SELECT vec_id,
       CAST(len(emb) AS INT) AS dim,
       scale,
       array_to_string(list_transform(emb,
         x -> CAST(CAST(trunc(x / scale * 127) AS INT) AS VARCHAR)), ',') AS q_csv
FROM scaled
"""


def _twolevel_seeds(base: DataFrame, subk: int = SUBK) -> DataFrame:
    """Deterministic two-level seed codebook: per label (the coarse level),
    the ``subk`` vectors with the smallest md5-derived rank become
    sub-centroids.  Output: (label, cluster, cemb, cnrm) with
    cluster = label * 1000 + rank for subk <= 999 (the narrow encoding
    every persisted index keeps bit-identical), the marked wide form
    above it (``_encode_cluster`` / ``_decode_label``).

    Scale shape: a naive ``row_number() over (partition by label)`` would
    shuffle the WHOLE corpus into |labels| tasks — a skew trap.  Instead a
    per-label count (cheap partial agg) sets an integer hash threshold
    that prefilters to ~subk*SEED_OVERSAMPLE candidate rows per label
    (integer-exact on both engines: (h >> 28) * n_label, no float
    boundary), and only those few rows enter the tiny ranking window.
    P(a label yields < subk candidates) is negligible at 8x oversampling;
    if it ever happens that label simply gets fewer cells — determinism
    and correctness are unaffected."""
    if not 1 <= subk < IVF_WIDE_RANK_BASE:
        # rank must fit the wide encoding's digits — past this, grow the
        # coarse level (more labels / shard the corpus)
        raise ValueError(
            f"subk must be in [1, {IVF_WIDE_RANK_BASE - 1}], got {subk}"
        )
    counts = base.groupBy("label").agg(F.count("*").alias("n_label"))
    h = X.h56(F.col("vec_id").cast("string"))
    cand = (
        F.broadcast(counts)
        .join(base, "label")
        .withColumn("h", h)
        .filter(
            F.shiftright(F.col("h"), 28) * F.col("n_label")
            < F.lit(subk * SEED_OVERSAMPLE * (1 << 28))
        )
    )
    w = Window.partitionBy("label").orderBy("h", "vec_id")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= subk)
        .select(
            "label",
            _encode_cluster(subk).alias("cluster"),
            F.col("emb").alias("cemb"),
            F.col("nrm").alias("cnrm"),
        )
    )


def ivf_codebook(embeddings: DataFrame, subk: int | None = None) -> DataFrame:
    """The default two-level IVF codebook over raw embeddings — the
    artifact ``cosine_topk_ivf`` builds when none is supplied.

    ``subk=None`` (the default) sizes the codebook with the corpus via
    :func:`auto_subk` — K = |labels| * subk tracks ~sqrt(n), so the
    probe fraction nprobe/K keeps shrinking as the corpus grows instead
    of every inverted list fattening linearly.  Explicit ``subk``
    overrides."""
    if subk is None:
        subk = _corpus_sizing(embeddings)[1]
    return _twolevel_seeds(_normed(embeddings), subk)


def _assign_to_centroids(
    base: DataFrame, centroids: DataFrame, keep_score: bool = False
) -> DataFrame:
    """Assign every vector to its nearest centroid (cos desc, cluster asc
    tiebreak).  Output: (vec_id, emb, nrm, cluster) — plus the winning
    assignment cosine as ``ccos`` when ``keep_score`` (the index-lifecycle
    consumers feed it to the drift metric).

    When the codebook carries the coarse ``label`` level the join is an
    EQUI-join on label — each vector compares against its own label's SUBK
    sub-centroids only, K/|labels| of the work of a flat codebook (and an
    equi-join Catalyst can co-partition at scale).  Label-less codebooks
    (e.g. externally-loaded flat ones) fall back to broadcast x corpus.

    Zero-cell guard: a label can end up with NO codebook entries (the seed
    prefilter returning no candidates is ~e^-40 improbable, but a refined
    codebook's ``cnrm > 0`` filter can drop every centroid of a label).
    A bare equi-join would silently DROP those vectors from the index —
    unreachable as neighbors forever.  Instead, vectors of uncovered
    labels degrade to the flat cross-join path (compare against ALL
    centroids), so the index always holds every vector.  When coverage is
    total (the normal case) the anti side is empty and the plan/results
    are identical to the plain equi-join."""
    if "label" in centroids.columns:
        cb_labels = centroids.select("label").distinct()
        covered = base.join(F.broadcast(cb_labels), "label", "left_semi")
        orphans = base.join(F.broadcast(cb_labels), "label", "left_anti")
        out_cols = ["vec_id", "emb", "nrm", "cluster", "cemb", "cnrm"]
        joined = (
            F.broadcast(centroids).join(covered, "label").select(*out_cols)
            .unionByName(
                F.broadcast(centroids.drop("label"))
                .join(orphans.drop("label"), how="cross")
                .select(*out_cols)
            )
        )
    else:
        joined = F.broadcast(centroids).join(base, how="cross")
    asg_scored = joined.select(
        "vec_id", "emb", "nrm", "cluster",
        (_dot("cemb", "emb") / (F.col("cnrm") * F.col("nrm"))).alias("ccos"),
    )
    wa = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cluster"))
    cols = ["vec_id", "emb", "nrm", "cluster"] + (["ccos"] if keep_score else [])
    return (
        asg_scored.withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") == 1)
        .select(*cols)
    )


def cosine_topk_ivf(
    embeddings: DataFrame,
    k: int = TOPK,
    nprobe: int = NPROBE,
    codebook: DataFrame | None = None,
    base: DataFrame | None = None,
    queries: DataFrame | None = None,
) -> DataFrame:
    """IVF-pruned top-k: probe only the nprobe clusters nearest each query.

    Codebook: the deterministic two-level seed set (``_twolevel_seeds``) —
    label as the coarse level, SUBK hash-sampled sub-centroids within each
    label; at real scale this would be a k-means artifact versioned
    alongside the data (``refined_codebook`` builds exactly that) — the
    search plan is identical either way.  Assignment equi-joins on label;
    probing broadcasts the tiny codebook globally; the search join is an
    equi-join on cluster id, so each query scans only its probed inverted
    lists.

    Defaults (SUBK=5, nprobe=40) put measured mean recall@5 at 0.94 at
    sf0.1 (0.55 before r5) — see the module docstring for the sweep and
    why ~80% of pairs must be scanned for that on near-uniform random
    vectors.

    Output: (query_id, neighbor_id, rank, cos) — exact cosine within the
    probed subset (ANN semantics: may differ from exact top-k; that is the
    operator's contract, and its oracle mirrors it).
    """
    base = _normed(embeddings) if base is None else base
    # Codebook in ONE aggregation pass: min_by pulls the minimum-vec_id
    # row's vector directly, replacing r2's groupBy-min + join-back (two
    # corpus passes).  It is consumed twice (vector assignment + query
    # probing) and PERSISTED: the executed plan shows NO exchange reuse
    # between the two broadcast consumers (0 ReusedExchange — the r3 note
    # claiming AQE stage reuse was wrong; pinned by
    # tests/test_plans.py::test_ivf_codebook_aggregates_once), so without
    # the persist the full-corpus aggregation runs twice.  The cache is
    # <= |labels| rows — negligible storage at any corpus size, against a
    # whole corpus scan+fold saved.  ``base`` stays UNpersisted by the same
    # scale logic: caching it is O(corpus) memory, and its recompute is the
    # scan itself.  An explicit ``codebook`` (e.g. ``refined_codebook``'s
    # k-means artifact, or one loaded from storage) replaces the seed —
    # the search plan is identical either way.  Only the operator-built
    # seed is persisted here: a caller-supplied codebook stays the
    # caller's to persist/release (otherwise every library call would
    # leak an entry into _CACHED that only release_cached() drops).
    centroids = (
        codebook
        if codebook is not None
        else _persist(_twolevel_seeds(base, _corpus_sizing(embeddings)[1]))
    )
    # assignment: every vector -> nearest centroid (cos desc, cluster asc).
    # At production scale ``assigned`` is the one-time IVF index artifact
    # written to storage; here it is consumed once, so no persist.
    assigned = _assign_to_centroids(base, centroids)
    # probing: every query -> its nprobe nearest clusters.  Stride-filter
    # before the norm pipeline (see _queries_normed): this branch folds
    # only 1/STRIDE of the corpus.
    queries = (
        _queries_normed(embeddings) if queries is None else queries
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    probe_scored = F.broadcast(centroids).join(queries, how="cross").select(
        "query_id", "qemb", "qnrm", "cluster",
        (_dot("cemb", "qemb") / (F.col("cnrm") * F.col("qnrm"))).alias("ccos"),
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("cluster"))
    probes = (
        probe_scored.withColumn("prank", F.row_number().over(wp))
        .filter(F.col("prank") <= nprobe)
        .select("query_id", "qemb", "qnrm", "cluster")
    )
    # search only the probed inverted lists; the probe side is tiny
    # (|queries| x nprobe rows) — broadcast it so the inverted lists never
    # shuffle.
    scored = F.broadcast(probes).join(assigned, "cluster").filter(
        F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (_dot("qemb", "emb") / (F.col("qnrm") * F.col("nrm"))).alias("cos"),
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


#: Fixed-point scale for the k-means update: element values are quantized
#: to floor(val * 2^20) BEFORE summing, so the per-cluster sums are exact
#: integers — order-independent across partitions AND engines.  A float
#: mean here would hash-diverge: Spark's partial-agg sum order is
#: nondeterministic, DuckDB's is sequential.
KMEANS_SCALE = 1 << 20


def ivf_kmeans_codebook(embeddings: DataFrame, iters: int = 1) -> DataFrame:
    """Lloyd k-means refinement of the deterministic seed codebook — the
    IVF INDEX-BUILD step ``cosine_topk_ivf``'s docstring defers to ("at
    real scale this would be a k-means artifact").

    Each iteration: assign every vector to its nearest current centroid
    (cosine, the shared ``_assign_to_centroids`` plan), then recompute each
    centroid as the element-wise mean of its members.  The mean is kept
    EXACT: elements quantize to ``floor(val * 2^20)`` longs and the
    operator emits per-(cluster, pos) integer sums + member counts rather
    than a float array — the consumer (or the next iteration) divides.

    Output: (cluster, pos, n_members, sum_q) — the final iteration's
    update statistics; one row per centroid element.  All-integer, full
    value-hash oracle (oracle mirrors iters=1, the registry default).

    Scale: the update is posexplode -> groupBy (cluster, pos) — n x dim
    rows into a |clusters| x dim-group aggregation, where map-side partial
    aggregation reduces each task's output to at most |clusters| x dim
    rows regardless of corpus size; the assignment is the broadcast-
    codebook scan shared with the search operator.  Iterations chain
    lazily (iters is small); at production scale each round's codebook
    would be written out as the versioned index artifact.
    """
    if iters < 1:
        raise ValueError(f"ivf_kmeans_codebook needs iters >= 1, got {iters}")
    base = _normed(embeddings)
    # Persist every OPERATOR-BUILT codebook (seed and per-iteration
    # refinements): _assign_to_centroids references its codebook three
    # times (label list + equi side + zero-cell cross side), so an
    # unpersisted codebook would recompute its pipeline 3x per iteration
    # and compound ~3^iters across chained iterations.  Each entry is
    # <= K rows; release_cached() drops them.  Caller-supplied codebooks
    # (cosine_topk_ivf(codebook=...)) remain the CALLER's to persist —
    # see that operator's no-leak note.
    centroids = _persist(_twolevel_seeds(base, _corpus_sizing(embeddings)[1]))
    sums = None
    for it in range(iters):
        assigned = _assign_to_centroids(base, centroids)
        sums = (
            assigned.select("cluster", F.posexplode("emb").alias("pos", "val"))
            .select(
                "cluster",
                F.col("pos").cast("int").alias("pos"),
                F.floor(F.col("val") * KMEANS_SCALE).cast("long").alias("q"),
            )
            .groupBy("cluster", "pos")
            .agg(
                F.count("*").cast("long").alias("n_members"),
                F.sum("q").cast("long").alias("sum_q"),
            )
        )
        if it + 1 < iters:
            centroids = _persist(dequantize_codebook(sums))
    return sums


def dequantize_codebook(sums: DataFrame) -> DataFrame:
    """(cluster, pos, n_members, sum_q) update statistics -> a usable
    (cluster, cemb, cnrm) codebook.

    Both engines see the SAME dequantized doubles (one division per
    element from exact integers), so codebooks rebuilt this way keep
    chained iterations — and any search over them — deterministic.
    collect_list order is nondeterministic; array_sort on (pos, val)
    structs restores positional order.

    The two-level cluster ids encode their coarse level (narrow
    label * 1000 + rank, or the marked wide form — ``_decode_label``
    reads either), so the label column is recovered here — refined
    codebooks keep the cheap label-equi-join assignment path.
    """
    cent = (
        sums.select(
            "cluster",
            "pos",
            (
                (F.col("sum_q").cast("double") / F.col("n_members"))
                / F.lit(float(KMEANS_SCALE))
            ).alias("val"),
        )
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "val"))).alias("pv"))
        .select(
            "cluster",
            _decode_label(F.col("cluster")).alias("label"),
            F.transform("pv", lambda s: s["val"]).alias("cemb"),
        )
    )
    return cent.withColumn(
        "cnrm", F.sqrt(_dot("cemb", "cemb"))
    ).filter(F.col("cnrm") > 0)


def refined_codebook(embeddings: DataFrame, iters: int = 1) -> DataFrame:
    """The k-means-refined (cluster, label, cemb, cnrm) codebook, ready to
    pass as ``cosine_topk_ivf(..., codebook=...)``.

    Measured with ``ivf_recall_report`` on the synthetic embeddings
    (recall@5, two-level K=50 codebook, nprobe=40, r5): one refinement
    iteration lifts mean recall 0.92 -> 1.00 at sf0.001, 0.96 -> 1.00 at
    sf0.01, and 0.94 -> 0.96 at sf0.1 — monotone-positive at every SF,
    unlike the r4 label-seeded K=10 codebook whose refinement oscillated
    (0.55 -> 0.61 -> 0.56).  The report remains the instrument: measure
    per corpus before shipping a codebook.  Determinism of the refined
    search is pinned in tests/test_dedup_edges.py.

    The returned frame is UNpersisted (caller-supplied codebooks stay the
    caller's to cache — see cosine_topk_ivf's no-leak note): persist it
    before passing to ``cosine_topk_ivf``, which references its codebook
    four times (assignment x3 + query probing); at real scale this is
    the artifact written to storage anyway."""
    return dequantize_codebook(ivf_kmeans_codebook(embeddings, iters=iters))


def _seeds_cte(src: str = "e", p: str = "") -> str:
    """Oracle CTEs for the deterministic two-level seed codebook (label x
    subk hash-sampled sub-centroids) over the normed frame ``src``,
    mirroring ``_twolevel_seeds``; ``p`` prefixes every CTE name so the
    IVFADC oracle can compose them with the PQ prelude.  ``sizing``
    states :func:`auto_subk` over the raw ``embeddings`` table."""
    h = X.h56_sql(f"CAST({src}.vec_id AS VARCHAR)")
    return f"""
{p}sizing AS (
  SELECT CAST(greatest({SUBK}, ceil(ceil(sqrt(count(*)))
                / greatest(count(DISTINCT label), 1))) AS BIGINT) AS subk
  FROM embeddings
),
{p}counts AS (SELECT label, count(*) AS n_label FROM {src} GROUP BY label),
{p}cand AS (
  SELECT {src}.label, {src}.vec_id, {src}.emb, {src}.nrm, n_label, subk,
         {h} AS h
  FROM {src} JOIN {p}counts USING (label) CROSS JOIN {p}sizing
),
{p}ranked_seeds AS (
  SELECT label, vec_id, emb, nrm, subk,
         row_number() OVER (PARTITION BY label ORDER BY h, vec_id) AS rk
  FROM {p}cand
  WHERE (h >> 28) * n_label < subk * {SEED_OVERSAMPLE * (1 << 28)}
),
{p}centroids AS (
  SELECT label, CAST(label AS BIGINT) * 1000 + rk AS cluster,
         emb AS cemb, nrm AS cnrm
  FROM {p}ranked_seeds WHERE rk <= subk
)"""


_SEEDS_CTE = _seeds_cte()


KMEANS_CODEBOOK_SQL = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0
),
{_SEEDS_CTE.strip()},
asg AS (
  SELECT e.vec_id, e.emb, c.cluster,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_dot_product(cemb, emb) / (cnrm * nrm) DESC,
                                     c.cluster ASC) AS arank
  FROM e JOIN centroids c USING (label)
),
assigned AS (SELECT vec_id, emb, cluster FROM asg WHERE arank = 1),
ex AS (
  SELECT cluster, u.i - 1 AS pos,
         CAST(floor(emb[u.i] * {KMEANS_SCALE}) AS BIGINT) AS q
  FROM assigned, LATERAL unnest(generate_series(1, len(emb))) AS u(i)
)
SELECT cluster, CAST(pos AS INT) AS pos,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(q) AS BIGINT) AS sum_q
FROM ex
GROUP BY cluster, pos
"""


COSINE_TOPK_IVF_SQL = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0
),
{_SEEDS_CTE.strip()},
asg AS (
  SELECT e.vec_id, e.emb, e.nrm, c.cluster,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_dot_product(cemb, emb) / (cnrm * nrm) DESC,
                                     c.cluster ASC) AS arank
  FROM e JOIN centroids c USING (label)
),
assigned AS (
  SELECT vec_id, emb, nrm, cluster FROM asg WHERE arank = 1
),
q AS (
  SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm
  FROM e WHERE vec_id % {QUERY_STRIDE} = 0
),
probes AS (
  SELECT query_id, qemb, qnrm, cluster
  FROM (
    SELECT query_id, qemb, qnrm, cluster,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY list_dot_product(cemb, qemb) / (cnrm * qnrm) DESC,
                                       cluster ASC) AS prank
    FROM q CROSS JOIN centroids
  ) WHERE prank <= {NPROBE}
),
scored AS (
  SELECT query_id, a.vec_id AS neighbor_id,
         list_dot_product(qemb, a.emb) / (qnrm * a.nrm) AS cos
  FROM probes p JOIN assigned a USING (cluster)
  WHERE a.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= {TOPK}
"""


def ivf_recall_report(
    embeddings: DataFrame,
    k: int = TOPK,
    nprobe: int = NPROBE,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Recall@k of the IVF scale path against the exact baseline — the
    evaluation an ANN deployment runs before trading accuracy for speed.

    Joins the two existing operators' outputs on (query, neighbor): per
    query, how many of the exact top-k the probed search recovered.
    Integer counts plus one final division; fully oracle-checkable because
    both inputs are (each oracle composes as a sub-WITH).

    Output: (query_id, n_exact, n_hits, recall).

    Scale: at evaluation time the exact side runs over a SAMPLE of queries
    (here the stride set is already small); the join is per-query
    equi-join on tiny top-k frames.
    """
    # shared normed frames (r14 optimization round — see _queries_normed)
    base = _normed(embeddings)
    qn = _queries_normed(embeddings)
    exact = cosine_topk(embeddings, k, base=base, queries=qn).select(
        "query_id", "neighbor_id"
    )
    approx = cosine_topk_ivf(
        embeddings, k, nprobe, codebook, base=base, queries=qn
    ).select("query_id", "neighbor_id")
    totals = exact.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_exact")
    )
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    return (
        totals.join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (
                F.coalesce("n_hits", F.lit(0)).cast("double") / F.col("n_exact")
            ).alias("recall"),
        )
    )


IVF_RECALL_SQL = f"""
WITH exact AS (
  SELECT query_id, neighbor_id FROM ({COSINE_TOPK_SQL})
),
approx AS (
  SELECT query_id, neighbor_id FROM ({COSINE_TOPK_IVF_SQL})
),
totals AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact FROM exact GROUP BY query_id
),
hits AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM exact JOIN approx USING (query_id, neighbor_id)
  GROUP BY query_id
)
SELECT query_id, n_exact,
       coalesce(n_hits, 0) AS n_hits,
       CAST(coalesce(n_hits, 0) AS DOUBLE) / n_exact AS recall
FROM totals LEFT JOIN hits USING (query_id)
"""


# --- r7 registry consolidation: brute + IVF top-k as one keyed union ---------


def topk_methods(embeddings: DataFrame, k: int = TOPK) -> DataFrame:
    """Brute-force, IVF, and PQ-ADC top-k as ONE method-keyed union — the
    registry-facing composition (r7 consolidation + the r9 PQ arm; every
    component stays public and individually parity-gated in
    tests/test_offregistry_parity.py).

    Output: ``(method, query_id, neighbor_id, rank, score)`` with method
    in {'brute', 'ivf', 'pq'}.  ``score`` is each method's own ranking
    metric — exact cosine for brute/ivf, the unnormalized ADC dot
    approximation for pq (the arms rank by different quantities BY
    DESIGN; that is what the union exposes for side-by-side evaluation).
    The union adds no exchange; each branch keeps its own plan (broadcast
    query set + map-side partial top-k for brute, codebook-pruned
    candidate scan for IVF, scan-fused code lookup for PQ).
    """
    # shared normed frames (r14 optimization round — see _queries_normed):
    # one corpus frame + one query frame constructed for all three arms
    base = _normed(embeddings)
    qn = _queries_normed(embeddings)
    brute = cosine_topk(embeddings, k, base=base, queries=qn).select(
        F.lit("brute").alias("method"), "query_id", "neighbor_id", "rank",
        F.col("cos").alias("score"),
    )
    ivf = cosine_topk_ivf(embeddings, k=k, base=base, queries=qn).select(
        F.lit("ivf").alias("method"), "query_id", "neighbor_id", "rank",
        F.col("cos").alias("score"),
    )
    pq = pq_topk(embeddings, k=k, base=base, queries=qn).select(
        F.lit("pq").alias("method"), "query_id", "neighbor_id", "rank",
        F.col("adc").alias("score"),
    )
    return brute.unionByName(ivf).unionByName(pq)


# NOTE: TOPK_METHODS_SQL is assigned at the END of this module (after the
# PQ oracle CTEs it composes), same late-assignment pattern as
# olap.SUITE_EXTRA_SQL.


# --- IVF index lifecycle (r7) ------------------------------------------------

#: Fixed-point scale for assignment-cosine statistics: ccos quantizes to
#: floor(ccos * 2^20) longs before summing, so per-batch and reference
#: means are exact-integer-derived — order-independent across partitions
#: and bit-stable between the build pass and every later drift reading.
DRIFT_SCALE = 1 << 20


def _ccos_q() -> F.Column:
    return F.floor(F.col("ccos") * DRIFT_SCALE).cast("long")


def assignment_rows(embeddings: DataFrame, codebook: DataFrame) -> DataFrame:
    """The IVF index rows for a corpus under a given codebook: one row per
    vector, ``(vec_id, cluster, ccos_q)`` — the inverted-list membership
    plus the quantized assignment cosine the drift metric aggregates.
    Pure narrow output (no embedding copies): the index references
    vectors, the vector store stays the parquet corpus itself."""
    return _assign_to_centroids(_normed(embeddings), codebook, keep_score=True).select(
        "vec_id", "cluster", _ccos_q().alias("ccos_q")
    )


def assignment_stats(rows: DataFrame) -> DataFrame:
    """Exact-integer assignment-quality aggregate of index rows:
    one row ``(n_vecs, sum_ccos_q)``.  ``sum/n/DRIFT_SCALE`` is the mean
    assignment cosine — how tightly the codebook fits the vectors it
    indexes.  Stored at build time as the drift reference."""
    return rows.agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum("ccos_q").cast("long").alias("sum_ccos_q"),
    )


def build_ivf_index(
    embeddings: DataFrame,
    index_root: str,
    iters: int = 0,
    checkpoint_dir: str | None = None,
) -> None:
    """Persist the versioned IVF index artifact a 100 TB similarity
    deployment maintains alongside its data:

    - ``{index_root}/codebook`` — (cluster, label, cemb, cnrm), the
      two-level seed codebook (``iters=0``) or its k-means refinement;
    - ``{index_root}/ref_stats`` — the build corpus's exact-integer
      assignment statistics, the drift reference;
    - ``{index_root}/assignments/batch_id=0`` — the build corpus's index
      rows, in the SAME batch_id-partitioned layout the streaming
      assigner appends to (so batch and stream rows form one store).

    ``run_ivf_assign_stream`` (streaming/jobs.py) appends arriving
    vectors' rows and per-batch drift readings; ``forget_vecs`` deletes
    rows under the same lock/swap contract as the other stores.  The
    codebook itself is an AGGREGATE artifact (centroids are means over
    many vectors); deleting a vector's rows removes every per-vector
    trace, and the drift metric prices when the aggregate should be
    rebuilt — the same state/compliance split as the dedup stores.

    REBUILD over an existing root is the designed flow (the drift metric
    exists to trigger it), so the build (a) fences the assign stream
    with the same ``.forget_lock`` marker every other store rewrite uses
    — a running stream's next batch fails loudly instead of appending
    old-codebook rows under a new codebook — and, when ``checkpoint_dir``
    is given, refuses while that stream checkpoint holds an uncommitted
    batch; (b) STATICALLY overwrites the assignment store (stale stream
    partitions from the previous codebook are dropped, not merged); and
    (c) clears the drift store, whose old rows divided against the old
    reference.  ``ref_stats`` is therefore always exactly the build
    corpus's statistics.
    """
    from cloudcomputing_flink_application_spark.streaming.jobs import (
        _acquire_forget_locks,
        _drop_partitions,
        _recover_compact,
        _refuse_uncommitted,
        _release_forget_locks,
    )

    spark = embeddings.sparkSession
    asg_dir = f"{index_root}/assignments"
    created = _acquire_forget_locks(spark, [asg_dir])
    try:
        _refuse_uncommitted(spark, checkpoint_dir)
    except Exception:
        _release_forget_locks(spark, created)
        raise
    # a crashed compaction's state must clear before the static rewrite
    # (a stale marker would later "finish" over the fresh store)
    _recover_compact(spark, asg_dir)
    # Failure contract (ADVICE r7 low): before the first artifact write
    # the index is untouched, so an exception (bad input schema, codebook
    # build failure) releases the lock — nothing to heal, the assign
    # stream may keep running against the OLD artifact.  Once a write has
    # started the artifact may be half-rewritten, so the lock STAYS to
    # fence the stream; _forget_guard's message names the heal (re-run
    # the build, which overwrites and releases).
    mutated = False
    try:
        cb = (
            refined_codebook(embeddings, iters=iters)
            if iters > 0
            else ivf_codebook(embeddings)
        )
        plan_ok = cb.schema  # force analysis before any write begins
        assert plan_ok is not None
        mutated = True
        cb.write.mode("overwrite").parquet(f"{index_root}/codebook")
        cb_stored = spark.read.parquet(f"{index_root}/codebook")
        rows = assignment_rows(embeddings, F.broadcast(cb_stored))
        (
            rows.withColumn("batch_id", F.lit(0))
            .write.mode("overwrite")  # STATIC overwrite: drops stale partitions
            .partitionBy("batch_id")
            .parquet(asg_dir)
        )
        _drop_partitions(spark, f"{index_root}/drift")
        stats = assignment_stats(spark.read.parquet(asg_dir))
        stats.write.mode("overwrite").parquet(f"{index_root}/ref_stats")
        # Record the build's refinement depth in the artifact: a
        # drift-triggered REBUILD must not silently downgrade a refined
        # codebook to the seed because the maintenance invocation forgot
        # --iters (r8 review catch) — build_iters() reads this back.
        spark.createDataFrame([(int(iters),)], "iters INT").write.mode(
            "overwrite"
        ).parquet(f"{index_root}/build_meta")
    except Exception:
        if not mutated:
            _release_forget_locks(spark, created)
        raise
    _release_forget_locks(spark, [asg_dir])


def build_iters(spark, index_root: str) -> int | None:
    """The k-means refinement depth the index at ``index_root`` was built
    with — what a maintenance rebuild must reuse so a refined codebook is
    never silently downgraded to the seed.  Returns ``None`` for an index
    predating the ``build_meta`` artifact: its build depth is UNKNOWN — it
    may have been built with an explicit ``--iters > 0`` (ADVICE r8 low:
    assuming 0 here would silently downgrade exactly the refined codebook
    this record exists to protect).  Callers must require an explicit
    depth in that case (the CLI does)."""
    import os

    if not os.path.isdir(f"{index_root}/build_meta"):
        return None
    return int(spark.read.parquet(f"{index_root}/build_meta").first()["iters"])


def read_codebook(spark, index_root: str) -> DataFrame:
    """Load the persisted codebook, search-ready: pass directly as
    ``cosine_topk_ivf(..., codebook=read_codebook(...))`` — the search
    plan is identical to the in-memory artifact (pinned in
    tests/test_ann_lifecycle.py)."""
    return spark.read.parquet(f"{index_root}/codebook")


def drift_report(spark, index_root: str) -> DataFrame:
    """Staleness reading over the accumulated drift rows the streaming
    assigner emits: one row per micro-batch,
    ``(batch_id, n_vecs, mean_ccos, drift)`` where ``drift`` is the
    batch's mean assignment cosine over the BUILD corpus's mean — 1.0
    means arriving vectors fit the codebook exactly as well as the
    training data did; a sustained drop means the distribution moved and
    the codebook should be rebuilt (the instrument that makes 'when to
    rebuild' a measurement instead of a guess).

    A freshly built (or just-rebuilt) index has no drift store yet — no
    stream batch has run — and that reads as an EMPTY report, not a path
    error (the CLI --report path on a new index)."""
    from cloudcomputing_flink_application_spark.streaming.jobs import (
        _committed_batch_data_exists,
    )

    ref = spark.read.parquet(f"{index_root}/ref_stats")
    if not _committed_batch_data_exists(spark, f"{index_root}/drift"):
        return spark.createDataFrame(
            [], "batch_id LONG, n_vecs LONG, mean_ccos DOUBLE, drift DOUBLE"
        )
    drift_rows = spark.read.parquet(f"{index_root}/drift")
    ref_mean = (
        F.col("_rsum").cast("double") / F.col("_rn") / DRIFT_SCALE
    )
    mean = F.col("sum_ccos_q").cast("double") / F.col("n_vecs") / DRIFT_SCALE
    return (
        drift_rows.join(
            F.broadcast(
                ref.select(
                    F.col("n_vecs").alias("_rn"),
                    F.col("sum_ccos_q").alias("_rsum"),
                )
            )
        )
        .select(
            # partition-inferred batch_id reads back as INT; cast so the
            # report's schema matches the empty-index branch exactly
            # (consumers union/append reports across rebuild boundaries)
            F.col("batch_id").cast("long").alias("batch_id"),
            "n_vecs",
            mean.alias("mean_ccos"),
            (mean / ref_mean).alias("drift"),
        )
    )


# --- Product quantization (r9) ------------------------------------------------
#
# The missing rung of the 100 TB embedding ladder.  int8 quantization
# (``quantize_embeddings``) compresses 4x; PQ compresses dim*4 bytes to
# PQ_M bytes (64-dim float32 -> 8 bytes = 32x), which is what makes a
# 10^10-vector index FIT at all: 10^10 x 64 x 4 B = 2.5 TB of raw floats
# vs 80 GB of PQ codes — the difference between an index that must stream
# from object storage and one that sits in cluster RAM.  Search runs over
# the codes via ADC (asymmetric distance computation): the query stays
# exact, each candidate costs PQ_M table lookups + adds instead of a
# dim-wide dot product.
#
# Anatomy (Jégou et al., "Product Quantization for Nearest Neighbor
# Search", TPAMI 2011 — public literature):
#   train: split each vector into PQ_M contiguous subvectors; per
#          subspace, k-means PQ_KSUB centroids.
#   encode: per subspace, the id of the nearest centroid — PQ_M small
#          ints per vector.
#   search: per query, a LUT of dot(q_sub, centroid) per (sub, code)
#          (PQ_M x PQ_KSUB doubles — tiny); score every candidate as
#          sum_m LUT[m][code_m] and take top-k.
#
# Spark shapes, in the module's house style:
#   - training is the ``ivf_kmeans_codebook`` pattern per subspace:
#     deterministic hash-sampled seeds, Lloyd updates with EXACT integer
#     sums (KMEANS_SCALE), empty cells carry their previous centroid
#     forward so the code space stays dense 0..C-1.
#   - encode is SCAN-FUSED: the whole codebook packs into ONE broadcast
#     row (array<array<array<double>>>), and the per-vector argmin is a
#     column-level fold — zero shuffles with an explicit codebook, the
#     map-only job a 100 TB encode pass must be.
#   - ADC search reuses the broadcast-queries plan of ``cosine_topk``:
#     queries carry their LUT as a nested array; the only shuffle is the
#     final per-query top-k window.
#
# Every double both engines compare is produced by the sequential-fold
# dot (proven bit-identical to DuckDB's list_dot_product in
# tests/test_functions.py) or exact integer arithmetic, so all four PQ
# operators carry full value-hash oracles.

PQ_M = 8  # subspaces (embedding dim must divide evenly)
PQ_KSUB = 16  # centroids per subspace: 4-bit codes at tested SFs.  At
# production scale this is 256 (byte codes); like SUBK it is a knob, not
# a hidden constant — memory is PQ_M*log2(KSUB) bits/vector and training
# cost is linear in it, so the pq_recall_report prices any change.
PQ_SHORTLIST = 50  # ADC shortlist size for the rerank stage: measured on
# the clustered fixture (n=800), raw ADC recall@5 is 0.325 — 8-byte codes
# cannot resolve WITHIN-cluster fine ranking, the textbook PQ limitation —
# while shortlist-50 + exact rerank reaches recall 1.0 touching only
# 50 raw vectors per query (tests/test_pq.py pins both sides of that).
#
# r10: 50 is the FLOOR, not the operating point.  The r9 recall law
# (SCALING.md pq) measured rerank recall ~ f(shortlist / near-dup blob
# size) — 0.44 -> 0.066 as blobs densified 160 -> 1600 members at a
# fixed shortlist-50, restored ~proportionally by a bigger shortlist —
# so a fixed shortlist was the one scale constant a 100 TB operator had
# to hand-tune (r9 VERDICT #1).  ``auto_shortlist`` below removes the
# knob the same way auto_band_width (r6) and auto_subk (r8) removed
# theirs: derive it from a measured density statistic, one rule at every
# corpus size.
PQ_SHORTLIST_CAP = 8192  # auto-shortlist ceiling: the shortlist frame
# (|queries| x shortlist rows) broadcasts into the rerank equi-join, so
# it must stay broadcast-sized no matter what the density estimate says.
# A corpus whose largest blob exceeds the cap is past what shortlist
# sizing can absorb (the rerank would read a corpus-scale blob per
# query); the remedy there is dedup-before-index — this pipeline's own
# embedding near-dup operators — with ``pq_recall_report`` as the
# instrument that says so.


#: Sub-cluster salt for the from-index ADC respread (r10): bounds any
#: one inverted list's share of a task at 1/salt without giving up
#: per-task cell locality — see the respread comment in
#: :func:`ivfpq_topk_from_index` for the three-way measurement.
IVFPQ_SPREAD_SALT = 8

#: Rerank broadcast ceiling in ROWS (r11): the rerank stage broadcasts
#: the (|queries| x shortlist) candidate frame into the corpus
#: equi-join, and that hash relation lives on the driver AND every
#: executor — measured: 810 queries x the 8192 shortlist cap (6.6M
#: rows) blew an 8g driver outright (SCALING.md pq-dedup note).  Past
#: this ceiling the AUTO-shortlist paths fall back to the planner's
#: shuffled equi-join — the corpus side pays one exchange, which is the
#: honest price of a candidate set that no longer fits a broadcast.
#: Calls with an EXPLICIT shortlist never evaluate the gate (no new
#: count job, no plan change on vintage-pinned or oracle-hashed paths;
#: an explicit shortlist is the caller's deliberate broadcast size).
RERANK_BROADCAST_MAX_ROWS = 4_000_000


def auto_shortlist(top_blob: int) -> int:
    """Rerank shortlist size for a corpus whose largest near-duplicate
    blob holds ``top_blob`` vectors (0 for the empty corpus):
    ``top_blob + PQ_SHORTLIST``, clamped to [PQ_SHORTLIST,
    PQ_SHORTLIST_CAP] — ADC cannot rank WITHIN a blob (its members
    share most of their code words, so their ADC scores tie or nearly
    tie; :func:`_blob_stats` measures it), which means the exact
    rerank can only restore order over candidates the shortlist kept;
    a shortlist >= the blob keeps the whole blob eligible, and the
    +PQ_SHORTLIST margin preserves the baseline breadth beyond it.
    Monotone in ``top_blob``."""
    return max(PQ_SHORTLIST, min(PQ_SHORTLIST_CAP, int(top_blob) + PQ_SHORTLIST))


#: Cells probed beyond a blob's measured spread (auto_nprobe): the +1
#: keeps at least one non-blob cell eligible even when the blob's cells
#: fill the probe budget exactly.
NPROBE_BLOB_MARGIN = 1


def auto_nprobe(blob_cells: int) -> int:
    """Probe count for a corpus whose largest near-dup blob spans
    ``blob_cells`` DISTINCT IVF cells — the serving twin of
    :func:`auto_shortlist` (r11, VERDICT r10 #4).

    NPROBE stays the FLOOR — the module's measured doctrine holds (on
    clustered data the neighborhood geometry, not K, sets the needed
    probe count; recall held 1.00 as K grew with fixed 40) — and the
    blob term raises it only when the measured spread says the floor
    cannot cover a blob: K ~ sqrt(n) gives each label ~sqrt(n)/|labels|
    sub-centroids, and a near-dup blob's members spread across ITS
    label's cells (the sub-quantizer subdivides the noise ball), so
    past n ~ (40 * |labels|)^2 a blob-member query's true top-k spans
    more cells than 40 probes can reach — the exact failure
    auto_shortlist fixed one stage later.  Monotone in ``blob_cells``;
    never below the measured floor, so corpora without blob spread keep
    the current recall at the current scan fraction."""
    return max(NPROBE, int(blob_cells) + NPROBE_BLOB_MARGIN)


def _near_code_keys(codes: Column) -> Column:
    """The keys under which one code row counts toward a blob: for codes
    of m >= 8 subspaces, its code word (as strings) with each pair of
    subspaces masked to ``*`` — the masked positions are part of the
    key, so two pairs never collide.  Shorter codes keep the one exact
    code word (the mask (-1, -1) matches no position)."""
    m = F.size(codes)
    pairs = F.flatten(F.transform(
        F.sequence(F.lit(0), m - 2),
        lambda i: F.transform(F.sequence(i + 1, m - 1), lambda j: F.array(i, j)),
    ))
    masks = F.when(m >= 8, pairs).otherwise(F.array(F.array(F.lit(-1), F.lit(-1))))
    return F.transform(masks, lambda p: F.transform(
        codes, lambda x, k: F.when((k == p[0]) | (k == p[1]), "*").otherwise(x.cast("string"))
    ))


def _blob_stats(coded: DataFrame, col: str = "codes") -> tuple[int, int, int]:
    """(n, top_blob, blob_cells) from ONE partial-agg pass over PQ code
    rows: corpus size, the largest set of rows sharing a
    :func:`_near_code_keys` key (:func:`auto_shortlist`'s statistic),
    and the DISTINCT IVF cells it spans (:func:`auto_nprobe`'s; 0
    without a ``cluster`` column).  ``col`` is the code column: an array,
    or the stored ``code_csv`` string.  Ties on size resolve to the
    larger cell spread (the conservative probe).

    Why near-identical code words: ADC cannot rank apart members whose
    codes agree in most subspaces.  An exact near-dup blob quantizes to
    ONE code word (1654 read on a 1600-member blob, SCALING.md pq), but
    a Gaussian blob splits across the sub-centroids each subspace gives
    it: on 2000 vectors in 10 blobs of ~220 (m = 8, ksub = 16, ten
    seeds) identical words read 54-158 and recall@5 0.72-1.00, any 6 of
    8 subspaces read 151-198 and recall >= 0.99.  Never below the
    identical-word count; on uniform codes it stays near 1."""
    codes = F.split(col, ",") if dict(coded.dtypes)[col] == "string" else F.col(col)
    cluster = F.col("cluster") if "cluster" in coded.columns else F.lit(None)
    row = (
        coded.select(codes.alias("codes"), cluster.alias("cluster"))
        .select(F.posexplode(_near_code_keys(F.col("codes"))).alias("pos", "key"), "cluster")
        .groupBy("key")
        .agg(
            F.count("*").alias("cnt"),
            F.count(F.when(F.col("pos") == 0, 1)).alias("rows"),
            F.size(F.collect_set("cluster")).alias("cells"),
        )
        .agg(F.sum("rows").alias("n"), F.max(F.struct("cnt", "cells")).alias("top"))
        .first()
    )
    if row is None or row["n"] is None:
        return (0, 0, 0)
    return (int(row["n"]), int(row["top"]["cnt"]), int(row["top"]["cells"]))


def _pq_slice(emb: Column, sub: Column | int, m: int) -> Column:
    """The ``sub``-th of ``m`` contiguous subvectors of ``emb``.  The
    divisibility guard is per row and loud (raise_error), mirroring
    ``_encode_cluster``: a corpus whose dim does not divide by m must
    fail, not silently truncate the tail dimensions."""
    dsub = F.when(
        (F.size(emb) > 0) & (F.size(emb) % m == 0),
        (F.size(emb) / m).cast("int"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"embedding dim must be a positive multiple of m={m}, got "),
                F.size(emb).cast("string"),
            )
        )
    )
    return F.slice(emb, sub * dsub + 1, dsub)


def _pq_seeds(base: DataFrame, m: int, ksub: int) -> DataFrame:
    """Deterministic seed codebook: the ``ksub`` vectors with the smallest
    md5-derived rank seed EVERY subspace with their slices — codes are
    rk-1, so the code space is dense 0..C-1 by construction (C < ksub
    only on corpora smaller than ksub).  Same hash-threshold prefilter as
    ``_twolevel_seeds`` (a global count bounds the candidate set to
    ~ksub*SEED_OVERSAMPLE rows before the ranking window), except the
    window is GLOBAL: PQ has no coarse label level, and the prefiltered
    set is tiny regardless of corpus size, so the single-task window is
    a few-hundred-row sort, not a skew trap.

    Output: (sub, code, cemb) with dsub-wide centroid slices."""
    n_total = base.agg(F.count("*").alias("n_total"))
    cand = (
        base.join(F.broadcast(n_total), how="cross")
        .withColumn("h", X.h56(F.col("vec_id").cast("string")))
        .filter(
            F.shiftright(F.col("h"), 28) * F.col("n_total")
            < F.lit(ksub * SEED_OVERSAMPLE * (1 << 28))
        )
    )
    w = Window.orderBy("h", "vec_id")
    seeds = (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= ksub)
        .select((F.col("rk") - 1).cast("int").alias("code"), "emb")
    )
    return seeds.select(
        "code", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"), "emb"
    ).select(
        F.col("sub").cast("int").alias("sub"),
        "code",
        X.xp(_pq_slice_sx("emb", "sub", m)).alias("cemb"),
    )


def _pq_dequantize(stats: DataFrame) -> DataFrame:
    """(sub, code, pos, n_members, sum_q) Lloyd stats -> (sub, code, cemb)
    centroids — the ``dequantize_codebook`` pattern per subspace (exact
    integer sums, one division per element, array_sort for positional
    order)."""
    return (
        stats.select(
            "sub",
            "code",
            "pos",
            (
                (F.col("sum_q").cast("double") / F.col("n_members"))
                / F.lit(float(KMEANS_SCALE))
            ).alias("val"),
        )
        .groupBy("sub", "code")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "val"))).alias("pv"))
        .select("sub", "code", F.transform("pv", lambda s: s["val"]).alias("cemb"))
    )


def _pq_carry_forward(prev: DataFrame, stats: DataFrame) -> DataFrame:
    """The refined codebook with empty cells carrying their previous
    centroid forward (classic empty-cluster handling).  This is what
    keeps the code space DENSE across iterations — the packed encode /
    LUT paths index arrays positionally, so position i must always mean
    code i (pinned in tests/test_pq.py)."""
    refined = _pq_dequantize(stats)
    kept = prev.join(refined.select("sub", "code"), ["sub", "code"], "left_anti")
    return refined.unionByName(kept.select("sub", "code", "cemb"))


def _pq_train(
    embeddings: DataFrame,
    m: int,
    ksub: int,
    iters: int,
    base: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(codebook, final_stats): ``iters`` Lloyd rounds from the
    deterministic seeds.  Intermediate codebooks are _persist-ed (each is
    consumed by the next assignment; <= m*ksub rows), the returned final
    codebook is the caller's to persist — same ownership contract as
    ``refined_codebook``.

    Assignment reuses the SCAN-FUSED encode fold (``_pq_code_expr``
    behind the one-row packed broadcast) rather than a join+rank over
    (vec_id, sub, code) rows: the row form materializes n*m*ksub
    intermediate rows per iteration (164M at 80k vectors with byte
    codes), the fold form keeps the argmin inside the scan and only the
    n*m*dsub stats explode ever becomes rows — which partial aggregation
    then collapses to the m*ksub*dsub codebook size map-side.  Same
    result by construction (the fold's strict-< tie rule IS the
    (d asc, code asc) rank order; cross-engine parity pinned on the
    oracle's row_number form)."""
    if iters < 1:
        raise ValueError(f"pq training needs iters >= 1, got {iters}")
    base = _normed(embeddings) if base is None else base
    cb = _persist(_pq_seeds(base, m, ksub))
    cb_next, stats = None, None
    for it in range(iters):
        enc = base.join(F.broadcast(_pq_packed(cb)), how="cross").select(
            "emb",
            _pq_code_expr(
                F.col("emb"), F.col("cbl"), F.col("ccl"), m
            ).alias("codes"),
        )
        stats = (
            enc.select("emb", F.posexplode("codes").alias("sub", "code"))
            .select(
                F.col("sub").cast("int").alias("sub"),
                "code",
                F.posexplode(
                    X.xp(_pq_slice_sx("emb", "sub", m))
                ).alias("pos", "val"),
            )
            .select(
                "sub",
                "code",
                F.col("pos").cast("int").alias("pos"),
                F.floor(F.col("val") * KMEANS_SCALE).cast("long").alias("q"),
            )
            .groupBy("sub", "code", "pos")
            .agg(
                F.count("*").cast("long").alias("n_members"),
                F.sum("q").cast("long").alias("sum_q"),
            )
        )
        cb_next = _pq_carry_forward(cb, stats)
        if it + 1 < iters:
            cb = _persist(cb_next)
    return cb_next, stats


def pq_train_stats(
    embeddings: DataFrame, m: int = PQ_M, ksub: int = PQ_KSUB, iters: int = 1
) -> DataFrame:
    """PQ INDEX-BUILD step: the final Lloyd update statistics, all-integer
    (the ``ivf_kmeans_codebook`` contract per subspace).

    Output: (sub, code, pos, n_members, sum_q) — one row per non-empty
    centroid element; full value-hash oracle.

    Scale: training at 100 TB runs on a SAMPLE (PQ codebooks converge on
    ~10^5-10^6 vectors regardless of corpus size — the codebook, not the
    corpus, is the artifact); the update itself is posexplode -> partial
    agg into m*ksub*dsub groups, so map-side combine bounds each task's
    output at the codebook size."""
    return _pq_train(embeddings, m, ksub, iters)[1]


def pq_codebook(
    embeddings: DataFrame, m: int = PQ_M, ksub: int = PQ_KSUB, iters: int = 1
) -> DataFrame:
    """The usable (sub, code, cemb) PQ codebook (refined, empty cells
    carried forward).  UNpersisted — the artifact a deployment writes to
    storage and the explicit-codebook form ``pq_encode``/``pq_topk``
    accept (persist it if you pass it to both)."""
    return _pq_train(embeddings, m, ksub, iters)[0]


def _pq_packed(codebook: DataFrame) -> DataFrame:
    """The whole codebook as ONE row: cbl[sub][code] = centroid slice
    (array<array<array<double>>>) plus ccl[sub][code] = its precomputed
    self-dot (the constant term of the argmin score — computing it once
    here instead of per (vector, candidate) removes a third of the
    encode fold's work).  m*ksub*dsub doubles — 8 KiB at the defaults —
    which is what lets encode/LUT be scan-fused column folds behind a
    one-row broadcast instead of a join+regroup per subvector.

    Positional indexing is VALIDATED, not assumed (r9 review): operator-
    built codebooks are dense by construction (seeds + carry-forward;
    pinned in tests/test_pq.py), but this is also the public explicit-
    codebook path — a stored artifact with a gap (codes {0,2,3} in some
    sub, or non-contiguous sub ids) would silently encode array
    POSITIONS as codes, corrupting every downstream join against the
    codebook.  Both levels raise per element instead (the module's
    loud-contract convention, like ``_pq_slice``/``_encode_cluster``)."""
    # cached-expr build (r14 — functions.text.xp): the validation
    # transforms are 1:1 SQL renderings of the previous DSL lambdas,
    # raise_error messages byte-identical.
    per_sub = (
        codebook.groupBy("sub")
        .agg(F.array_sort(F.collect_list(F.struct("code", "cemb"))).alias("cc"))
        .select(
            "sub",
            X.xp(
                "transform(cc, (s, i) -> case when s.code = i then s.cemb "
                "else raise_error(concat("
                "'pq codebook codes must be dense 0..C-1 per sub; found code ', "
                "cast(s.code as string), ' at position ', cast(i as string)"
                ")) end)"
            ).alias("cl"),
            X.xp(
                f"transform(cc, s -> {_dot_sx('s.cemb', 's.cemb')})"
            ).alias("c2"),
        )
    )
    return (
        per_sub.groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct("sub", "cl", "c2"))
            ).alias("sc")
        )
        .select(
            X.xp(
                "transform(sc, (s, i) -> case when s.sub = i then s.cl "
                "else raise_error(concat("
                "'pq codebook subs must be contiguous 0..m-1; found sub ', "
                "cast(s.sub as string), ' at position ', cast(i as string)"
                ")) end)"
            ).alias("cbl"),
            X.xp("transform(sc, s -> s.c2)").alias("ccl"),
        )
    )


def _pq_slice_sx(emb: str, sub: str, m: int) -> str:
    """Spark-SQL twin of :func:`_pq_slice` (same per-row loud guard)."""
    dsub = (
        f"(case when size({emb}) > 0 and size({emb}) % {m} = 0 "
        f"then cast(size({emb}) / {m} as int) "
        f"else raise_error(concat("
        f"'embedding dim must be a positive multiple of m={m}, got ', "
        f"cast(size({emb}) as string))) end)"
    )
    return f"slice({emb}, {sub} * {dsub} + 1, {dsub})"


def _pq_subs_sx(emb: str, m: int) -> str:
    """Spark-SQL twin of :func:`_pq_subs_expr`."""
    return (
        f"transform(sequence(0, {m - 1}), mm -> {_pq_slice_sx(emb, 'mm', m)})"
    )


def _pq_subs_expr(emb: Column | str, m: int) -> Column:
    """All m slices of one vector as an array-of-arrays — hoisted out of
    the per-candidate lambdas so each slice is evaluated once per row,
    not once per (candidate, row) (interpreted higher-order functions do
    no common-subexpression elimination inside lambdas).  String input
    takes the cached-expr fast path (r14 — functions.text.xp)."""
    if isinstance(emb, str):
        return X.xp(_pq_subs_sx(emb, m))
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)), lambda mm: _pq_slice(emb, mm, m)
    )


def _let(value: Column, body) -> Column:
    """Bind ``value`` once and reference it freely inside ``body`` — the
    let-binding idiom for higher-order functions: interpreted lambdas
    re-EVALUATE every textual repetition of a subtree, but a lambda
    VARIABLE is a materialized value, so wrapping the subtree in a
    one-element array + transform makes repeated references free."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _pq_code_expr(
    emb: Column | str, cbl: Column | str, ccl: Column | str, m: int
) -> Column:
    """codes[sub] for one vector, as a pure column expression: per
    subspace, argmin code under L2.  The score is the TWO-term form
    ``dot(c,c) - 2*dot(s,c)`` (dropping the candidate-constant dot(s,s)
    — same argmin, a third less fold work, with dot(c,c) precomputed in
    the packed row); the scores array is let-bound so it is computed
    ONCE, and the argmin is array_min + array_position — first match
    wins, which IS the lowest code on exact ties, the same
    (score asc, code asc) order the oracle's row_number uses.  The
    oracle computes the identical two-term expression, so the doubles
    compared are bit-equal across engines.  String operands take the
    cached-expr fast path (r14 — functions.text.xp)."""
    if isinstance(emb, str) and isinstance(cbl, str) and isinstance(ccl, str):
        scores = (
            f"zip_with(element_at({cbl}, mm + 1), element_at({ccl}, mm + 1), "
            f"(ce, cc) -> cc - 2 * {_dot_sx('svec', 'ce')})"
        )
        let_body = (
            f"element_at(transform(array({scores}), scores -> "
            f"cast(array_position(scores, array_min(scores)) - 1 as int)), 1)"
        )
        return X.xp(
            f"transform({_pq_subs_sx(emb, m)}, (svec, mm) -> {let_body})"
        )
    return F.transform(
        _pq_subs_expr(emb, m),
        lambda svec, mm: _let(
            F.zip_with(
                F.element_at(cbl, mm + 1),
                F.element_at(ccl, mm + 1),
                lambda ce, cc: cc - 2 * _dot(svec, ce),
            ),
            lambda scores: (
                F.array_position(scores, F.array_min(scores)) - 1
            ).cast("int"),
        ),
    )


def _pq_lut_expr(emb: Column | str, cbl: Column | str, m: int) -> Column:
    """lut[sub][code] = dot(query_sub, centroid): the ADC lookup table as
    one nested-array expression.  The query slice is bound once per sub
    (zip_with lambda variable), not re-sliced per candidate — the same
    no-CSE-inside-lambdas hazard ``_pq_subs_expr`` exists for.  String
    operands take the cached-expr fast path (r14)."""
    if isinstance(emb, str) and isinstance(cbl, str):
        return X.xp(
            f"zip_with({_pq_subs_sx(emb, m)}, {cbl}, "
            f"(svec, cl) -> transform(cl, ce -> {_dot_sx('svec', 'ce')}))"
        )
    return F.zip_with(
        _pq_subs_expr(emb, m),
        cbl,
        lambda svec, cl: F.transform(cl, lambda ce: _dot(svec, ce)),
    )


def _pq_encoded(
    base: DataFrame, packed: DataFrame, m: int
) -> DataFrame:
    """(vec_id, codes): the scan-fused encode — corpus scan x one-row
    broadcast, zero corpus-side exchanges (pinned in
    tests/test_pq.py::test_encode_explicit_codebook_is_scan_fused)."""
    return base.join(F.broadcast(packed), how="cross").select(
        "vec_id",
        _pq_code_expr("emb", "cbl", "ccl", m).alias("codes"),
    )


def pq_encode(
    embeddings: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """PQ-encode the corpus: dim*4 bytes -> m code ints per vector.

    Output: (vec_id, dim, m, code_csv) — codes comma-joined in subspace
    order (the compact storage row, like ``quantize_embeddings``'s q_csv).

    With an explicit ``codebook`` this is a pure map job (scan + one-row
    broadcast, zero corpus-side shuffles) — the shape a 100 TB encode
    pass needs; the default trains one inline (``iters`` Lloyd rounds).
    ``spread=False`` deliberately: encode has no downstream per-vector
    window to feed, so the corpus must NOT be repartitioned — at scale
    parallelism comes from the parquet splits themselves (pinned in
    tests/test_pq.py::test_encode_explicit_codebook_is_scan_fused)."""
    base = _normed(embeddings, spread=False)
    cb = (
        codebook
        if codebook is not None
        else _pq_train(embeddings, m, ksub, iters)[0]
    )
    packed = _pq_packed(cb)
    enc = base.join(F.broadcast(packed), how="cross")
    codes = _pq_code_expr("emb", "cbl", "ccl", m)
    return enc.select(
        "vec_id",
        F.size("emb").cast("int").alias("dim"),
        F.lit(m).cast("int").alias("m"),
        F.array_join(
            F.transform(codes, lambda c: c.cast("string")), ","
        ).alias("code_csv"),
    )


def pq_topk(
    embeddings: DataFrame,
    k: int = TOPK,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    codebook: DataFrame | None = None,
    base: DataFrame | None = None,
    queries: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k: approximate dot-product search over PQ codes.

    Per query the LUT (dot of each query slice with each centroid —
    m x ksub doubles) rides the broadcast; each candidate then costs m
    array lookups + adds instead of a dim-wide dot, over codes 32x
    smaller than the raw vectors.  The only shuffle is the final
    per-query top-k window — the ``cosine_topk`` plan with the per-pair
    arithmetic collapsed.

    Output: (query_id, neighbor_id, rank, adc) — rank 1..k by
    (adc desc, neighbor_id asc), self excluded.  ``adc`` is the
    UNNORMALIZED approximate dot product (ANN semantics: ranks may
    differ from exact cosine top-k; ``pq_recall_report`` prices exactly
    that)."""
    base = _normed(embeddings) if base is None else base
    cb = (
        codebook
        if codebook is not None
        else _pq_train(embeddings, m, ksub, iters, base=base)[0]
    )
    # consumed twice (corpus encode + query LUT) — persist, same rationale
    # as cosine_topk_ivf's codebook cache (one row here).
    packed = _persist(_pq_packed(cb))
    enc = _pq_encoded(base, packed, m)
    queries = (
        (_queries_normed(embeddings) if queries is None else queries)
        .join(F.broadcast(packed), how="cross")
        .select(
            F.col("vec_id").alias("query_id"),
            _pq_lut_expr("emb", "cbl", m).alias("lut"),
        )
    )
    scored = (
        F.broadcast(queries)
        .join(enc, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            X.xp(
                f"aggregate(sequence(0, {m - 1}), 0D, (acc, mm) -> acc + "
                "element_at(element_at(lut, mm + 1), "
                "element_at(codes, mm + 1) + 1))"
            ).alias("adc"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc")
    )


def pq_topk_rerank(
    embeddings: DataFrame,
    k: int = TOPK,
    shortlist: int | None = None,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Two-stage PQ search, the production deployment shape: ADC over the
    32x-compressed codes retrieves a ``shortlist`` per query, then exact
    cosine reranks ONLY those candidates.

    Why this exists: raw ADC ranks by 8-byte code reproductions, which
    cannot separate near-identical neighbors — measured recall@5 0.325 on
    the clustered fixture.  The shortlist absorbs that blur (the true
    top-k IS in the top-50 by ADC even when its internal order is wrong);
    rerank restores exact order touching shortlist/n of the raw vectors —
    at 10^10 vectors the full-precision reads drop from the whole corpus
    to 50 rows per query.  Measured: recall 1.0 at shortlist=50 on the
    clustered fixture (pinned in tests/test_pq.py).

    Plan: the shortlist (|queries| x shortlist rows) broadcasts into an
    equi-join against the corpus on vec_id — the raw-vector side never
    shuffles; the final per-query window reranks <= shortlist rows.

    ``shortlist=None`` (the default) auto-sizes from the corpus's
    measured near-dup blob density (:func:`auto_shortlist` over the
    encoded codes — one extra stats pass sharing the search's own
    encode lineage; a deployment estimates from its stored codes for
    free).  Every corpus with a code word gets more than PQ_SHORTLIST:
    the rule is its largest near-identical code group + PQ_SHORTLIST.

    Duplicate-id contract (shared by every IN-MEMORY search operator
    here — cosine_topk, cosine_topk_ivf, pq_topk, this one): the caller
    supplies a corpus with unique vec_ids; a duplicated id occupies two
    ranks/shortlist slots in ALL arms alike (keeping the method union
    consistent).  The STORE-BACKED path absorbs duplicates instead —
    accumulated-arrival stores legitimately hold re-sent vectors, so
    ``ivfpq_topk_from_index``/``_ivfpq_search`` dedup at every stage
    (latest-wins store reads, the ADC-stage pair merge, the post-rerank
    max merge).

    Output: (query_id, neighbor_id, rank, cos) — exact cosine over the
    ADC shortlist, rank 1..k."""
    if k < 1 or (shortlist is not None and k > shortlist):
        raise ValueError(
            f"need 1 <= k <= shortlist, got k={k} shortlist={shortlist}"
        )
    cb = codebook
    auto = shortlist is None
    if shortlist is None:
        if cb is None:
            # The auto-size stats pass and the search below must share
            # ONE trained codebook and its encode lineage, so train and
            # persist it here.  Scoped to this branch (ADVICE r10): the
            # explicit-shortlist path never reads the codebook in this
            # function — it passes straight through to pq_topk, which
            # trains unpersisted — and persisting per call leaked one
            # cached frame per repeat caller without release_cached().
            cb = _persist(_pq_train(embeddings, m, ksub, iters)[0])
        # persist the compact (vec_id, codes) rows BEFORE the estimate's
        # .first() materializes them: pq_topk below builds the
        # plan-identical encode lineage, and Spark's cache manager
        # matches by analyzed plan — so the search's ADC scan reuses
        # this cache instead of re-running the corpus encode (r10
        # review: the stats pass otherwise doubled the encode)
        packed = _persist(_pq_packed(cb))
        enc = _persist(
            _pq_encoded(_normed(embeddings), packed, m)
        )
        shortlist = max(k, auto_shortlist(_blob_stats(enc.select("codes"))[1]))
        # exact stride-sample size from the PERSISTED compact rows (one
        # cached narrow scan — the n//STRIDE estimate under-counts up
        # to 100x on an id space correlated with the stride, r11
        # review), for the broadcast gate below
        n_queries = enc.filter(
            F.col("vec_id") % QUERY_STRIDE == 0
        ).count()
    short = pq_topk(embeddings, shortlist, m, ksub, iters, cb).select(
        "query_id", "neighbor_id"
    )
    base = _normed(embeddings)
    queries = _normed(
        embeddings.filter(F.col("vec_id") % QUERY_STRIDE == 0), spread=False
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    # rerank broadcast gate (r11, auto path only — the stats pass is
    # already paying per-call jobs there): |queries| x shortlist rows
    # past RERANK_BROADCAST_MAX_ROWS fall back to the planner's
    # shuffled join (measured: the 8192 cap at an 810-query batch blew
    # an 8g driver); explicit-shortlist calls keep the historical plan
    cand_frame = short.join(queries, "query_id")
    if not auto or n_queries * shortlist <= RERANK_BROADCAST_MAX_ROWS:
        cand_frame = F.broadcast(cand_frame)
    scored = (
        cand_frame
        .join(base, F.col("vec_id") == F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot("qemb", "emb")
                / (F.col("qnrm") * F.col("nrm"))
            ).alias("cos"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def pq_recall_report(
    embeddings: DataFrame,
    k: int = TOPK,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Recall@k of RAW ADC-over-codes against the exact baseline — the
    price tag on PQ's 32x compression (dim*4 bytes -> m bytes at byte
    codes) BEFORE the rerank stage buys the accuracy back
    (``pq_topk_rerank``; measured 0.325 -> 1.0 on the clustered fixture).
    Same shape as ``ivf_recall_report``.

    Output: (query_id, n_exact, n_hits, recall).  ``codebook`` skips the
    inline training pass (the ``ivf_recall_report(codebook=)`` pattern —
    evaluating a STORED artifact must not retrain it; r9 review)."""
    exact = cosine_topk(embeddings, k).select("query_id", "neighbor_id")
    approx = pq_topk(embeddings, k, m, ksub, iters, codebook).select(
        "query_id", "neighbor_id"
    )
    totals = exact.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_exact")
    )
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    return totals.join(hits, "query_id", "left").select(
        "query_id",
        "n_exact",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        (
            F.coalesce("n_hits", F.lit(0)).cast("double") / F.col("n_exact")
        ).alias("recall"),
    )


#: Shared PQ oracle prelude (defaults m=PQ_M, ksub=PQ_KSUB, iters=1):
#: hash-sampled seed vectors -> per-subspace slices -> one exact-integer
#: Lloyd round -> carry-forward codebook -> per-(vec, sub) encode.
#: Mirrors _pq_seeds / _pq_assign / pq_train_stats / _pq_carry_forward /
#: _pq_code_expr term by term (same L2 expression, same (d, code)
#: tie-order, same KMEANS_SCALE integer quantization).
_PQ_DSUB = f"(len(emb) // {PQ_M})"
_PQ_CTE = f"""
e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb
  FROM embeddings
  WHERE sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0
),
nt AS (SELECT count(*) AS n_total FROM e),
cand AS (
  SELECT vec_id, emb, {X.h56_sql('CAST(vec_id AS VARCHAR)')} AS h
  FROM e, nt
  WHERE ({X.h56_sql('CAST(vec_id AS VARCHAR)')} >> 28) * n_total
        < {PQ_KSUB * SEED_OVERSAMPLE * (1 << 28)}
),
seedv AS (
  SELECT vec_id, emb, row_number() OVER (ORDER BY h, vec_id) AS rk
  FROM cand
),
seeds AS (
  SELECT s.sub, CAST(rk - 1 AS INT) AS code,
         list_slice(emb, s.sub * {_PQ_DSUB} + 1, (s.sub + 1) * {_PQ_DSUB}) AS cemb
  FROM seedv, (SELECT CAST(unnest(range({PQ_M})) AS INT) AS sub) s
  WHERE rk <= {PQ_KSUB}
),
subs AS (
  SELECT vec_id, s.sub,
         list_slice(emb, s.sub * {_PQ_DSUB} + 1, (s.sub + 1) * {_PQ_DSUB}) AS svec
  FROM e, (SELECT CAST(unnest(range({PQ_M})) AS INT) AS sub) s
),
asg0 AS (
  SELECT vec_id, sub, svec, code FROM (
    SELECT su.vec_id, su.sub, su.svec, c.code,
           row_number() OVER (
             PARTITION BY su.vec_id, su.sub
             ORDER BY list_dot_product(cemb, cemb)
                      - 2 * list_dot_product(svec, cemb) ASC,
                      c.code ASC) AS arank
    FROM subs su JOIN seeds c USING (sub)
  ) WHERE arank = 1
),
stats AS (
  SELECT sub, code, CAST(u.i - 1 AS INT) AS pos,
         CAST(count(*) AS BIGINT) AS n_members,
         CAST(sum(CAST(floor(svec[u.i] * {KMEANS_SCALE}) AS BIGINT)) AS BIGINT)
           AS sum_q
  FROM asg0, LATERAL unnest(generate_series(1, len(svec))) AS u(i)
  GROUP BY sub, code, pos
),
refined AS (
  SELECT sub, code,
         list((CAST(sum_q AS DOUBLE) / n_members) / {KMEANS_SCALE}
              ORDER BY pos) AS cemb
  FROM stats GROUP BY sub, code
),
newcb AS (
  SELECT s.sub, s.code, coalesce(r.cemb, s.cemb) AS cemb
  FROM seeds s LEFT JOIN refined r USING (sub, code)
),
enc AS (
  SELECT vec_id, sub, code FROM (
    SELECT su.vec_id, su.sub, c.code,
           row_number() OVER (
             PARTITION BY su.vec_id, su.sub
             ORDER BY list_dot_product(cemb, cemb)
                      - 2 * list_dot_product(svec, cemb) ASC,
                      c.code ASC) AS arank
    FROM subs su JOIN newcb c USING (sub)
  ) WHERE arank = 1
)"""


PQ_TRAIN_STATS_SQL = f"""
WITH {_PQ_CTE.strip()}
SELECT sub, code, pos, n_members, sum_q FROM stats
"""


PQ_ENCODE_SQL = f"""
WITH {_PQ_CTE.strip()}
SELECT e.vec_id, CAST(len(e.emb) AS INT) AS dim, CAST({PQ_M} AS INT) AS m,
       string_agg(CAST(code AS VARCHAR), ',' ORDER BY sub) AS code_csv
FROM e JOIN enc ON e.vec_id = enc.vec_id
GROUP BY e.vec_id, len(e.emb)
"""


_PQ_ONES = "[" + ", ".join(["1.0"] * PQ_M) + "]"


def _pq_topk_sql(k: int | str) -> str:
    """The ADC top-k oracle parameterized on k (a literal, or a scalar
    SQL expression over the prelude's CTEs) — PQ_TOPK_SQL is the
    registry-default instance; the rerank oracle composes the
    shortlist-sized one."""
    return f"""
WITH {_PQ_CTE.strip()},
q AS (
  SELECT vec_id AS query_id, emb AS qemb
  FROM e WHERE vec_id % {QUERY_STRIDE} = 0
),
persub AS (
  SELECT q.query_id, en.vec_id, en.sub,
         list_dot_product(
           list_slice(q.qemb, en.sub * (len(q.qemb) // {PQ_M}) + 1,
                      (en.sub + 1) * (len(q.qemb) // {PQ_M})),
           cb.cemb) AS val
  FROM q, enc en JOIN newcb cb USING (sub, code)
  WHERE en.vec_id <> q.query_id
),
adcs AS (
  SELECT query_id, vec_id AS neighbor_id,
         list_dot_product(list(val ORDER BY sub), {_PQ_ONES}) AS adc
  FROM persub GROUP BY query_id, vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc DESC, neighbor_id ASC) AS rank
  FROM adcs
)
SELECT query_id, neighbor_id, rank, adc FROM ranked WHERE rank <= {k}
"""


PQ_TOPK_SQL = _pq_topk_sql(TOPK)


#: The oracles' blob keys (:func:`_near_code_keys` stated over the PQ
#: prelude's ``enc`` rows, aliased ``en``): each code word with every
#: pair of its subspaces masked, as for any code of PQ_M = 8 subspaces.
_BLOB_KEY_SQL = """string_agg(CASE WHEN en.sub IN (bm.i, bm.j) THEN '*'
                           ELSE CAST(en.code AS VARCHAR) END, ',' ORDER BY en.sub)"""
_BLOB_MASKS_SQL = """(SELECT a.sub AS i, b.sub AS j
   FROM (SELECT DISTINCT sub FROM enc) a
   JOIN (SELECT DISTINCT sub FROM enc) b ON a.sub < b.sub) bm"""


#: The rerank oracle's shortlist, :func:`auto_shortlist` over the
#: largest blob key's count plus PQ_SHORTLIST, capped.
_PQ_AUTO_SHORTLIST_SQL = f"""(
  SELECT least({PQ_SHORTLIST_CAP}, coalesce(max(cnt), 0) + {PQ_SHORTLIST})
  FROM (
    SELECT count(*) AS cnt FROM (
      SELECT {_BLOB_KEY_SQL} AS key
      FROM enc en CROSS JOIN {_BLOB_MASKS_SQL}
      GROUP BY en.vec_id, bm.i, bm.j
    ) GROUP BY key
  )
)"""


PQ_TOPK_RERANK_SQL = f"""
WITH short AS (
  SELECT query_id, neighbor_id FROM ({_pq_topk_sql(_PQ_AUTO_SHORTLIST_SQL)})
),
e2 AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0
),
q2 AS (
  SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm
  FROM e2 WHERE vec_id % {QUERY_STRIDE} = 0
),
rescored AS (
  SELECT s.query_id, s.neighbor_id,
         list_dot_product(qemb, e2.emb) / (qnrm * e2.nrm) AS cos
  FROM short s JOIN q2 USING (query_id)
  JOIN e2 ON e2.vec_id = s.neighbor_id
),
reranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM rescored
)
SELECT query_id, neighbor_id, rank, cos FROM reranked WHERE rank <= {TOPK}
"""


PQ_RECALL_SQL = f"""
WITH exact AS (
  SELECT query_id, neighbor_id FROM ({COSINE_TOPK_SQL})
),
approx AS (
  SELECT query_id, neighbor_id FROM ({PQ_TOPK_SQL})
),
totals AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact FROM exact GROUP BY query_id
),
hits AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM exact JOIN approx USING (query_id, neighbor_id)
  GROUP BY query_id
)
SELECT query_id, n_exact,
       coalesce(n_hits, 0) AS n_hits,
       CAST(coalesce(n_hits, 0) AS DOUBLE) / n_exact AS recall
FROM totals LEFT JOIN hits USING (query_id)
"""


TOPK_METHODS_SQL = f"""
SELECT 'brute' AS method, query_id, neighbor_id, rank, cos AS score
FROM ({COSINE_TOPK_SQL}) b
UNION ALL
SELECT 'ivf' AS method, query_id, neighbor_id, rank, cos AS score
FROM ({COSINE_TOPK_IVF_SQL}) i
UNION ALL
SELECT 'pq' AS method, query_id, neighbor_id, rank, adc AS score
FROM ({PQ_TOPK_SQL}) p
"""


# --- IVF+PQ composition (r9): the 100 TB search architecture ------------------
#
# IVF answers "which vectors do I look at" (probe nprobe of K cells —
# sub-linear candidates), PQ answers "how cheaply can I look" (m table
# lookups over codes 32x smaller than the raw floats).  Composed, a
# query prices at nprobe/K of the corpus x m adds per candidate over an
# index that fits in RAM — the IVFADC layout of Jégou et al. 2011 and
# the architecture every production vector store ships.  The stored
# artifact is ``ivfpq_index``'s (vec_id, cluster, code_csv): search
# never reads raw vectors except the query set and the rerank shortlist.


def ivfpq_index(
    embeddings: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    codebook: DataFrame | None = None,
    pq_cb: DataFrame | None = None,
) -> DataFrame:
    """The IVFADC index rows: every vector's IVF cell + PQ codes.

    One corpus pass computes both: the IVF assignment (label-equi
    broadcast join + per-vector rank, no extra exchange past the
    vec_id pre-partitioning) carries ``emb`` to the scan-fused PQ code
    fold on the same row.  Output: (vec_id, cluster, code_csv) — the
    rows a deployment writes as the searchable artifact; raw embeddings
    are cold storage after this.

    ``codebook``/``pq_cb`` override the IVF and PQ codebooks (both the
    operator-built defaults otherwise) — the lifecycle owns real
    artifacts."""
    base = _normed(embeddings)
    cents = (
        codebook
        if codebook is not None
        else _persist(_twolevel_seeds(base, _corpus_sizing(embeddings)[1]))
    )
    pq_codes = (
        pq_cb if pq_cb is not None else _pq_train(embeddings, m, ksub, iters)[0]
    )
    assigned = _assign_to_centroids(base, cents)
    packed = _pq_packed(pq_codes)
    return assigned.join(F.broadcast(packed), how="cross").select(
        "vec_id",
        "cluster",
        F.array_join(
            F.transform(
                _pq_code_expr("emb", "cbl", "ccl", m),
                lambda c: c.cast("string"),
            ),
            ",",
        ).alias("code_csv"),
    )


def ivfpq_topk(
    embeddings: DataFrame,
    k: int = TOPK,
    nprobe: int | None = None,
    shortlist: int | None = None,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
) -> DataFrame:
    """IVFADC search: probe nprobe IVF cells, ADC-score ONLY their
    members over PQ codes, exact-rerank the shortlist.

    Per-query cost: K centroid dots (probing) + ~nprobe*n/K candidates x
    m lookups (ADC over the probed inverted lists) + shortlist raw-vector
    dots (rerank) — against brute's n full-width dots.  Every join is a
    broadcast equi-join (probes on cluster, shortlist on vec_id); the
    corpus-sized frames never shuffle except the per-query top-k windows.

    Output: (query_id, neighbor_id, rank, cos) — exact cosine over the
    ADC shortlist of the probed cells (ANN semantics twice over: cell
    pruning AND code ranking bound what rerank can see; the recall
    instruments price each stage).  ``shortlist=None`` auto-sizes from
    the index's own code rows (:func:`auto_shortlist`) and
    ``nprobe=None`` from the top blob's measured cell spread
    (:func:`auto_nprobe`) — one fused stats pass (:func:`_blob_stats`)."""
    if k < 1 or (shortlist is not None and k > shortlist):
        raise ValueError(
            f"need 1 <= k <= shortlist, got k={k} shortlist={shortlist}"
        )
    if nprobe is not None and nprobe < 1:
        raise ValueError(f"need nprobe >= 1, got {nprobe}")
    base = _normed(embeddings)
    cents = _persist(_twolevel_seeds(base, _corpus_sizing(embeddings)[1]))
    # consumed twice — once by this operator's LUT packing and once by
    # ivfpq_index's own packing — so an unpersisted codebook would run
    # the whole Lloyd lineage twice (<= m*ksub rows cached)
    pq_cb = _persist(_pq_train(embeddings, m, ksub, iters)[0])
    packed = _persist(_pq_packed(pq_cb))
    index = ivfpq_index(embeddings, m, ksub, iters, codebook=cents, pq_cb=pq_cb)
    # split code_csv back to ints once, scan-side (the stored artifact is
    # the csv row; a real deployment would store the array column)
    coded = index.select(
        "vec_id",
        "cluster",
        F.transform(F.split("code_csv", ","), lambda s: s.cast("int")).alias(
            "codes"
        ),
    )
    shortlist_auto = shortlist is None
    if shortlist is None or nprobe is None:
        # persist the compact index rows first: the estimate's .first()
        # and the ADC search both consume them, and an unpersisted
        # lineage would run the assignment-join + encode twice (r10
        # review); both auto decisions read the ONE fused stats pass
        coded = _persist(coded)
        _, top_blob, blob_cells = _blob_stats(coded)
        if shortlist is None:
            shortlist = max(k, auto_shortlist(top_blob))
        if nprobe is None:
            nprobe = auto_nprobe(blob_cells)
    queries = _normed(
        embeddings.filter(F.col("vec_id") % QUERY_STRIDE == 0), spread=False
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    # rerank broadcast gate: evaluated ONLY when the shortlist was
    # auto-sized (an explicit shortlist is the caller's deliberate
    # broadcast size — half-pinned calls keep their vintage plan and
    # pay no count job, r11 review); the exact stride-sample size comes
    # from one cached narrow scan of the persisted index rows (the
    # n//STRIDE estimate under-counts up to 100x on an id space
    # correlated with the stride)
    rerank_rows = (
        coded.filter(F.col("vec_id") % QUERY_STRIDE == 0).count() * shortlist
        if shortlist_auto
        else None
    )
    return _ivfpq_search(
        cents, packed, coded, queries, base, k, nprobe, shortlist, m,
        rerank_rows=rerank_rows,
    )


def _ivfpq_search(
    cents: DataFrame,
    packed: DataFrame,
    coded: DataFrame,
    queries: DataFrame,
    base: DataFrame,
    k: int,
    nprobe: int,
    shortlist: int,
    m: int,
    rerank_rows: int | None = None,
) -> DataFrame:
    """The IVFADC search stages (probe -> ADC -> rerank), shared by the
    in-memory :func:`ivfpq_topk` and the stored-artifact
    :func:`ivfpq_topk_from_index` so the two paths cannot diverge:
    ``cents`` (cluster, cemb, cnrm), ``packed`` (the one-row PQ
    codebook), ``coded`` (vec_id, cluster, codes), ``queries``
    (query_id, qemb, qnrm), ``base`` the raw corpus for the rerank."""
    # probing: identical to cosine_topk_ivf (cells ranked by centroid
    # cosine), then each probe row picks up the query's ADC LUT
    probe_scored = F.broadcast(cents).join(queries, how="cross").select(
        "query_id", "qemb", "cluster",
        (
            _dot("cemb", "qemb")
            / (F.col("cnrm") * F.col("qnrm"))
        ).alias("ccos"),
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("cluster"))
    probes = (
        probe_scored.withColumn("prank", F.row_number().over(wp))
        .filter(F.col("prank") <= nprobe)
        .select("query_id", "qemb", "cluster")
        .join(F.broadcast(packed), how="cross")
        .select(
            "query_id",
            "cluster",
            _pq_lut_expr("qemb", "cbl", m).alias("lut"),
        )
    )
    # ADC over the probed inverted lists only: broadcast equi-join on
    # cluster — each query touches nprobe cells' members, nothing else
    adc_scored = (
        F.broadcast(probes)
        .join(coded, "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            X.xp(
                f"aggregate(sequence(0, {m - 1}), 0D, (acc, mm) -> acc + "
                "element_at(element_at(lut, mm + 1), "
                "element_at(codes, mm + 1) + 1))"
            ).alias("adc"),
        )
    )
    # pre-shortlist duplicate merge (ADVICE r9): a corpus vector present
    # twice (duplicate-id input rows — the from-index path already
    # collapses re-sent vectors via _latest_per_vec, so this guards the
    # in-memory path and same-batch duplicates) would occupy TWO srank
    # slots below, silently shrinking the candidate pool under
    # ``shortlist`` distinct ids.  A groupBy(query_id, neighbor_id) here
    # would shuffle the candidate frame a second time (its exchange keys
    # on both columns, the rank window re-exchanges on query_id alone);
    # instead ride the window's own query_id exchange: sorted by
    # (neighbor_id, adc desc) within each query, the FIRST row per
    # neighbor carries max(adc) — the same deterministic optimistic-score
    # merge the post-rerank dedup uses — and lag() identifies it.  One
    # extra in-partition sort, zero extra exchanges.
    wdup = Window.partitionBy("query_id").orderBy(
        F.asc("neighbor_id"), F.desc("adc")
    )
    adc_merged = (
        adc_scored.withColumn("prev_nb", F.lag("neighbor_id").over(wdup))
        .filter(
            F.col("prev_nb").isNull()
            | (F.col("prev_nb") != F.col("neighbor_id"))
        )
        .drop("prev_nb")
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    short = (
        adc_merged.withColumn("srank", F.row_number().over(ws))
        .filter(F.col("srank") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    # exact rerank of the shortlist: the only raw-vector reads besides
    # the query set (same ``queries`` frame the probe stage used — ONE
    # definition, so the probe and rerank query sets cannot diverge)
    # broadcast gate (r11): ``rerank_rows`` is the caller's exact
    # |queries| x shortlist candidate count (the auto paths know both);
    # past RERANK_BROADCAST_MAX_ROWS the hash relation threatens the
    # driver/executor heap (measured OOM at the 8192 cap), so the join
    # falls back to the planner's shuffled form.  None (explicit-knob
    # callers) keeps the historical forced broadcast.
    cand_frame = short.join(queries, "query_id")
    if rerank_rows is None or rerank_rows <= RERANK_BROADCAST_MAX_ROWS:
        cand_frame = F.broadcast(cand_frame)
    rescored = (
        cand_frame
        .join(base, F.col("vec_id") == F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot("qemb", "emb")
                / (F.col("qnrm") * F.col("nrm"))
            ).alias("cos"),
        )
    )
    # duplicate-id armor where the frame is SMALL (|queries| x shortlist
    # rows): a duplicated corpus vector or a re-sent query would emit a
    # (query, neighbor) pair twice here and the copies would occupy two
    # ranks — merge them BEFORE ranking.  Deduping the corpus-sized
    # inputs instead shuffles full-width embedding arrays and cost 5x at
    # 80k vectors (measured, r9 review follow-up).  max(), not
    # dropDuplicates: identical copies collapse exactly either way, but
    # a corpus holding BOTH embeddings of a re-sent vector would rank
    # nondeterministically under an arbitrary pick (r9 review) — max is
    # deterministic (the optimistic score; "latest" is not derivable
    # from a version-less corpus frame, which is the caller's data bug
    # to begin with).  Rides the rank window's own query_id exchange.
    wk = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        rescored.groupBy("query_id", "neighbor_id")
        .agg(F.max("cos").alias("cos"))
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def _latest_per_vec(store: DataFrame, col: str) -> DataFrame:
    """``(vec_id, col)`` with the NEWEST batch's value per vec_id — the
    latest-batch-wins read over a batch_id-partitioned append store.
    Deterministic for the update path (a re-sent vector with a changed
    embedding serves its newest row, never an arbitrary copy); a vec_id
    appearing twice WITHIN one batch with different values is the
    ingester's data bug and resolves arbitrarily.  A legacy
    unpartitioned store (no batch_id column — the pre-r9 layout the
    mutation ops refuse) has no update history to order by, so the read
    degrades to a plain per-id dedup instead of an unresolved-column
    AnalysisException (r9 review)."""
    if "batch_id" not in store.columns:
        return store.select("vec_id", col).dropDuplicates(["vec_id"])
    return store.groupBy("vec_id").agg(F.max_by(col, "batch_id").alias(col))


def ivfpq_topk_from_index(
    spark,
    ivf_root: str,
    pq_root: str,
    embeddings: DataFrame,
    k: int = TOPK,
    nprobe: int | None = None,
    shortlist: int | None = None,
    queries: DataFrame | None = None,
) -> DataFrame:
    """IVFADC search over the STORED artifacts — the production query
    path: ZERO training at query time.  :func:`ivfpq_topk` prices the
    composition but retrains both codebooks per call; a deployment
    builds once (``build_ivf_index`` + ``build_pq_index``, maintained by
    their encode/assign streams, drift rebuilds, forgets, and
    compactions) and serves every query batch from the artifacts:

    - the IVF root supplies the coarse codebook (probing) and the
      assignment store (inverted-list membership);
    - the PQ root supplies the code codebook (ADC LUTs) and the codes
      store (the 32x-compressed candidates); geometry (m) from pq_meta,
      so a query can never slice vectors differently than the codes
      were built;
    - ``embeddings`` supplies the rerank shortlist's raw vectors — the
      cold-storage reads — and, when no explicit ``queries`` frame is
      given, the ``QUERY_STRIDE`` query sample; ``queries`` (any
      embeddings-shaped frame, every DISTINCT vec_id a query, ids need
      not exist in the corpus) is the production entry point.  Query
      ids must be unique: duplicate ids collapse to one arbitrarily
      (a duplicated query row would otherwise halve the distinct
      probed cells).

    Both roots must be built over the same corpus (vectors present in
    only one store drop from the candidate inner join).  The one
    corpus-sized exchange is that assignments-to-codes vec_id join — at
    deployment scale, bucket BOTH stores by vec_id and it becomes a
    co-located join; every other index access is a broadcast equi-join,
    as in :func:`ivfpq_topk` (the search stages are literally shared —
    :func:`_ivfpq_search`).  Search stages run against whatever rows
    the stores hold, so stream-appended vectors are searchable
    immediately and forgotten vectors drop out without a rebuild.

    ``shortlist=None`` auto-sizes from the STORED code rows and
    ``nprobe=None`` from the top blob's measured cell spread — the free
    path for both density estimates (no encode pass; ONE fused
    aggregate over the joined index rows the search scans anyway,
    re-read per call so the estimates track stream appends and forgets
    like every other stage here)."""
    if k < 1 or (shortlist is not None and k > shortlist):
        raise ValueError(
            f"need 1 <= k <= shortlist, got k={k} shortlist={shortlist}"
        )
    if nprobe is not None and nprobe < 1:
        # nprobe <= 0 filters every probe and silently returns nothing —
        # a usage error, not an empty corpus (r9 review)
        raise ValueError(f"need nprobe >= 1, got {nprobe}")
    params = pq_build_params(spark, pq_root)
    if params is None:
        raise ValueError(
            f"no pq_meta under {pq_root} — build the PQ artifact first"
        )
    m = params["m"]
    cents = read_codebook(spark, ivf_root)
    # Latest-batch-wins per vec_id: the stores' union-of-arrivals
    # contract means a vector re-sent in a LATER micro-batch holds rows
    # in two batch_id partitions (dynamic overwrite dedups only replays
    # of the SAME batch) — the join would multiply the copies and a
    # duplicate would occupy two ranks in the output (r9 review catch).
    # max_by(batch_id) rather than an arbitrary dropDuplicates: if the
    # re-sent vector's EMBEDDING changed, both stores deterministically
    # serve the newest (cluster, codes) pair instead of each picking a
    # copy independently — an update path, not just replay armor (r9
    # review catch #2).  The aggregation rides the join's own vec_id
    # exchange, so it costs no extra shuffle.
    asg = _latest_per_vec(
        spark.read.parquet(f"{ivf_root}/assignments"), "cluster"
    )
    codes = _latest_per_vec(
        spark.read.parquet(f"{pq_root}/codes"), "code_csv"
    ).select(
        "vec_id",
        F.transform(
            F.split("code_csv", ","), lambda s: s.cast("int")
        ).alias("codes"),
    )
    # respread before the ADC explode: the latest-wins aggregations feed
    # AQE a tiny post-shuffle size (80k code rows ~ 2 MB), so it
    # coalesces everything downstream to a couple of partitions — right
    # before the stage that expands each code row by |queries| LUT
    # folds, strangling its parallelism (measured 4-5x at 80k vectors;
    # AQE-off runs in 9.4 s vs 42 s).  The EXPLICIT partition count
    # matters: a bare repartition(col) is itself AQE-sized from the
    # same tiny pre-explode estimate and collapses again — a
    # user-specified N is the one thing AQE leaves alone.  One narrow
    # shuffle of the compact code rows.
    #
    # The spread KEY is (cluster, vec_id % IVFPQ_SPREAD_SALT) — both
    # alternatives measured worse on the r10 skewed-blob bench
    # (SCALING.md pq-skew).  cluster alone sends each whole inverted
    # list to ONE task, so a corpus-scale near-dup blob (one cell at
    # 25% of an 80k corpus) makes its task the straggler: 25-30 s vs
    # 13-15 s salted.  vec_id alone balances rows but destroys per-task
    # cell locality — every task touches ~every probed cell's broadcast
    # probe rows and LUTs — and measured ~1.7x SLOWER than even the
    # skewed cluster spread (37-45 s).  Salting WITHIN cluster keeps
    # the working set small (each task holds ~K*salt/N cell fragments)
    # while capping any one cell's share of a task at 1/salt; on the
    # unskewed x10 corpus it is also mildly faster (9.4-9.6 s vs
    # 9.5-11.4 s), so it is the default, not a knob.
    spread_n = spark.sparkContext.defaultParallelism
    coded = asg.join(codes, "vec_id").repartition(
        spread_n,
        F.col("cluster"),
        F.pmod(F.col("vec_id"), F.lit(IVFPQ_SPREAD_SALT)),
    )
    shortlist_auto = shortlist is None
    if shortlist is None or nprobe is None:
        # persist the joined, respread index rows first: the stats pass
        # and the ADC search both consume them, and without the cache
        # the latest-wins groupBys + join would run twice per call — on
        # EVERY micro-batch of a serving stream (r10 review).  The
        # serving stream's per-batch release_cached(mark) drops it.
        # (r11: the estimate moved from the codes store alone to the
        # JOINED rows so nprobe can read the blob's cell spread in the
        # same pass; both-store membership is already the serving
        # contract, so the blob statistic is unchanged.)
        coded = _persist(coded)
        _, top_blob, blob_cells = _blob_stats(coded)
        if shortlist is None:
            shortlist = max(k, auto_shortlist(top_blob))
        if nprobe is None:
            nprobe = auto_nprobe(blob_cells)
    packed = _persist(_pq_packed(read_pq_codebook(spark, pq_root)))
    # NO corpus-wide dropDuplicates here: shuffling the full-width
    # embedding arrays to dedup the rerank side cost 5x at 80k vectors
    # (measured — the r9c pq-serve regression).  Duplicate-id armor for
    # the rerank/query sides lives where the frames are SMALL: the
    # post-rerank (query_id, neighbor_id) dedup inside _ivfpq_search.
    base = _normed(embeddings)
    # queries: an explicit embeddings-shaped frame (EVERY row queries —
    # the production shape: arbitrary query vectors, corpus ids not
    # required), else the module's QUERY_STRIDE sample of the corpus
    # (the oracle-test shape).  A query whose vec_id matches a corpus
    # vector still excludes itself, as in every other top-k here.
    # dedup the QUERY side by id — cheap (queries are a query set / the
    # 1% stride sample, never the corpus) and necessary beyond rank
    # hygiene: a duplicated query row doubles every probe-ranking row,
    # so prank <= nprobe would keep half as many DISTINCT cells and the
    # candidate pool silently shrinks
    q_src = (
        _normed(queries.dropDuplicates(["vec_id"]), spread=False)
        if queries is not None
        else _normed(
            embeddings.filter(
                F.col("vec_id") % QUERY_STRIDE == 0
            ).dropDuplicates(["vec_id"]),
            spread=False,
        )
    )
    q_frame = q_src.select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    # rerank broadcast gate, evaluated ONLY when the shortlist was
    # auto-sized (see ivfpq_topk): an explicit production query batch
    # is counted (one narrow job over the query set, next to the stats
    # pass this path already runs); the stride sample counts exactly
    # over the persisted index rows
    rerank_rows = None
    if shortlist_auto:
        n_q = (
            q_frame.count()
            if queries is not None
            else coded.filter(
                F.col("vec_id") % QUERY_STRIDE == 0
            ).count()
        )
        rerank_rows = n_q * shortlist
    return _ivfpq_search(
        cents, packed, coded, q_frame, base, k, nprobe, shortlist, m,
        rerank_rows=rerank_rows,
    )


#: IVF-side oracle CTEs for the IVFADC composition, renamed i* to compose
#: with the PQ prelude in one WITH clause (the _seeds_cte codebook and
#: COSINE_TOPK_IVF_SQL's assignment, over an e2 that keeps label + nrm).
_IVFPQ_IVF_CTE = f"""
e2 AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0
),
{_seeds_cte('e2', 'i').strip()},
iasg AS (
  SELECT e2.vec_id, e2.emb, e2.nrm, c.cluster,
         row_number() OVER (PARTITION BY e2.vec_id
                            ORDER BY list_dot_product(cemb, emb) / (cnrm * nrm) DESC,
                                     c.cluster ASC) AS arank
  FROM e2 JOIN icentroids c USING (label)
),
iassigned AS (
  SELECT vec_id, emb, nrm, cluster FROM iasg WHERE arank = 1
)"""


IVFPQ_INDEX_SQL = f"""
WITH {_PQ_CTE.strip()},
{_IVFPQ_IVF_CTE.strip()}
SELECT a.vec_id, a.cluster,
       string_agg(CAST(en.code AS VARCHAR), ',' ORDER BY en.sub) AS code_csv
FROM iassigned a JOIN enc en ON en.vec_id = a.vec_id
GROUP BY a.vec_id, a.cluster
"""


IVFPQ_TOPK_SQL = f"""
WITH {_PQ_CTE.strip()},
{_IVFPQ_IVF_CTE.strip()},
q AS (
  SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm
  FROM e2 WHERE vec_id % {QUERY_STRIDE} = 0
),
ikeys AS (
  SELECT a.cluster, {_BLOB_KEY_SQL} AS key
  FROM iassigned a JOIN enc en ON en.vec_id = a.vec_id
  CROSS JOIN {_BLOB_MASKS_SQL}
  GROUP BY a.vec_id, a.cluster, bm.i, bm.j
),
itop AS (
  SELECT count(*) AS cnt, count(DISTINCT cluster) AS cells
  FROM ikeys GROUP BY key
  ORDER BY cnt DESC, cells DESC LIMIT 1
),
iauto AS (
  SELECT least({PQ_SHORTLIST_CAP}, coalesce(max(cnt), 0) + {PQ_SHORTLIST}) AS shortlist,
         greatest({NPROBE}, coalesce(max(cells), 0) + {NPROBE_BLOB_MARGIN}) AS nprobe
  FROM itop
),
probes AS (
  SELECT query_id, qemb, cluster
  FROM (
    SELECT query_id, qemb, cluster,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY list_dot_product(cemb, qemb) / (cnrm * qnrm) DESC,
                                       cluster ASC) AS prank
    FROM q CROSS JOIN icentroids
  ) WHERE prank <= (SELECT nprobe FROM iauto)
),
persub AS (
  SELECT p.query_id, a.vec_id, en.sub,
         list_dot_product(
           list_slice(p.qemb, en.sub * (len(p.qemb) // {PQ_M}) + 1,
                      (en.sub + 1) * (len(p.qemb) // {PQ_M})),
           cb.cemb) AS val
  FROM probes p
  JOIN iassigned a USING (cluster)
  JOIN enc en ON en.vec_id = a.vec_id
  JOIN newcb cb ON cb.sub = en.sub AND cb.code = en.code
  WHERE a.vec_id <> p.query_id
),
adcs AS (
  SELECT query_id, vec_id AS neighbor_id,
         list_dot_product(list(val ORDER BY sub), {_PQ_ONES}) AS adc
  FROM persub GROUP BY query_id, vec_id
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc DESC, neighbor_id ASC) AS srank
    FROM adcs
  ) WHERE srank <= (SELECT shortlist FROM iauto)
),
rescored AS (
  SELECT s.query_id, s.neighbor_id,
         list_dot_product(q.qemb, e2.emb) / (q.qnrm * e2.nrm) AS cos
  FROM short s JOIN q USING (query_id)
  JOIN e2 ON e2.vec_id = s.neighbor_id
),
reranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM rescored
)
SELECT query_id, neighbor_id, rank, cos FROM reranked WHERE rank <= {TOPK}
"""


def build_pq_index(
    embeddings: DataFrame,
    index_root: str,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    checkpoint_dir: str | None = None,
) -> None:
    """Persist the PQ artifact pair a compressed-embedding deployment
    versions alongside its data:

    - ``{index_root}/pq_codebook`` — (sub, code, cemb), the trained
      per-subspace centroids (THE artifact; tiny);
    - ``{index_root}/codes/batch_id=0`` — the encoded build corpus
      (vec_id, dim, m, code_csv), 32x smaller than the raw vectors at
      the defaults, in the SAME batch_id-partitioned layout the
      streaming encoder (``run_pq_encode_stream``) appends to — batch
      and stream rows form one store, exactly the IVF assignments
      convention;
    - ``{index_root}/pq_meta`` — (m, ksub, iters): the build geometry,
      read back by every later encode pass so a mismatched m/ksub
      cannot slip in (the ``build_meta`` lesson — r8).

    The codes are encoded against the codebook AS WRITTEN (written
    first, read back, then encoded) so the on-disk pair is self-
    consistent even if the in-memory plan would ever change.  Rebuild
    over an existing root is the designed flow and takes the same
    contract as ``build_ivf_index``: the ``.forget_lock`` marker fences
    the encode stream (its next batch fails loudly instead of appending
    OLD-codebook codes under the new codebook), ``checkpoint_dir``
    refuses while the stream checkpoint holds an uncommitted batch, and
    the codes store is STATICALLY overwritten (stale stream partitions
    from the previous codebook drop, not merge)."""
    from cloudcomputing_flink_application_spark.streaming.jobs import (
        _acquire_forget_locks,
        _recover_compact,
        _refuse_uncommitted,
        _release_forget_locks,
    )

    spark = embeddings.sparkSession
    codes_dir = f"{index_root}/codes"
    created = _acquire_forget_locks(spark, [codes_dir])
    try:
        _refuse_uncommitted(spark, checkpoint_dir)
    except Exception:
        _release_forget_locks(spark, created)
        raise
    # a crashed compaction's state must clear before the static rewrite
    # (a stale marker would later "finish" over the fresh store)
    _recover_compact(spark, codes_dir)
    # Failure contract (build_ivf_index convention): before the first
    # artifact write the index is untouched, so an exception (bad input
    # schema, codebook training failure) releases the lock.  The flag
    # must flip BEFORE the codebook overwrite begins — mode("overwrite")
    # deletes the existing dir first, so a mid-write crash has already
    # destroyed the old codebook and the lock must stay to fence the
    # encode stream (r9 review catch).  Forcing analysis first keeps
    # plan-time errors on the released-lock side.
    mutated = False
    try:
        cb = pq_codebook(embeddings, m, ksub, iters)
        plan_ok = cb.schema  # force analysis before any write begins
        assert plan_ok is not None
        mutated = True
        cb.write.mode("overwrite").parquet(f"{index_root}/pq_codebook")
        stored = read_pq_codebook(spark, index_root)
        (
            pq_encode(embeddings, m, ksub, codebook=stored)
            .withColumn("batch_id", F.lit(0))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(codes_dir)
        )
        spark.createDataFrame(
            [(int(m), int(ksub), int(iters))], "m INT, ksub INT, iters INT"
        ).write.mode("overwrite").parquet(f"{index_root}/pq_meta")
    except Exception:
        # post-mutation failure leaves the locks: the artifact pair may
        # be inconsistent (new codebook, old codes) and the stream must
        # not run until a re-build completes — same stance as
        # build_ivf_index
        if not mutated:
            _release_forget_locks(spark, created)
        raise
    _release_forget_locks(spark, [codes_dir])


def replace_pq_codes(
    embeddings: DataFrame,
    index_root: str,
    checkpoint_dir: str | None = None,
) -> None:
    """Re-run just the encode pass: statically overwrite the codes store
    (as ``batch_id=0``) with ``embeddings`` encoded against the STORED
    codebook, geometry from ``pq_meta`` — the repeatable map-job step of
    the lifecycle, without retraining.  Takes the same lock/refusal
    contract as the build (it rewrites the store the encode stream
    appends to); refuses a root without ``pq_meta``."""
    from cloudcomputing_flink_application_spark.streaming.jobs import (
        _acquire_forget_locks,
        _recover_compact,
        _recover_swap,
        _refuse_uncommitted,
        _release_forget_locks,
        _replace_dir,
    )

    spark = embeddings.sparkSession
    params = pq_build_params(spark, index_root)
    if params is None:
        raise ValueError(
            f"no pq_meta under {index_root} — build the PQ artifact first"
        )
    codes_dir = f"{index_root}/codes"
    created = _acquire_forget_locks(spark, [codes_dir])
    try:
        _refuse_uncommitted(spark, checkpoint_dir)
    except Exception:
        _release_forget_locks(spark, created)
        raise
    _recover_swap(spark, codes_dir)
    # a crashed compaction's committed state must roll forward (and its
    # marker/staging clear) BEFORE this static rewrite — a stale marker
    # surviving the rewrite would later "finish" over the fresh store
    _recover_compact(spark, codes_dir)
    # stage-then-swap (the _rewrite_minus pattern): the store being read
    # is never the write target, and a crash mid-swap heals on the next
    # lifecycle op via _recover_swap — until then the lock stays
    tmp = codes_dir.rstrip("/") + ".forget_tmp"
    (
        pq_encode(
            embeddings,
            m=params["m"],
            ksub=params["ksub"],
            codebook=read_pq_codebook(spark, index_root),
        )
        .withColumn("batch_id", F.lit(0))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .parquet(tmp)
    )
    _replace_dir(spark, tmp, codes_dir)
    _release_forget_locks(spark, [codes_dir])


def read_pq_codebook(spark, index_root: str) -> DataFrame:
    """Load the persisted PQ codebook, ready for
    ``pq_encode(..., codebook=...)`` / ``pq_topk`` / ``ivfpq_index`` —
    the packed validation (dense codes, contiguous subs) still runs on
    every use, so a hand-edited artifact fails loudly."""
    return spark.read.parquet(f"{index_root}/pq_codebook")


def shortlist_report(spark, pq_root: str) -> DataFrame:
    """One-row instrument for the auto-shortlist decision over a built
    PQ root's CURRENT codes store (latest-wins, like every serving
    read): ``(n_vectors, top_blob, shortlist, clamped)``.

    This is the observability half of :func:`auto_shortlist` — the rule
    itself runs silently inside every default-shortlist search, and its
    one lossy edge is the PQ_SHORTLIST_CAP clamp: a blob bigger than the
    cap serves with a shortlist it has outgrown, and recall degrades
    with nothing in the query output saying so.  ``clamped=true`` here
    IS that signal — the corpus is past what shortlist sizing absorbs
    and needs dedup-before-index (run ``pq_recall_report`` to price the
    damage).  Cost: the same one aggregate the auto rule runs at query time."""
    import os

    if pq_build_params(spark, pq_root) is None:
        raise ValueError(
            f"no pq_meta under {pq_root} — build the PQ artifact first"
        )
    if not os.path.isdir(f"{pq_root}/codes"):
        # pq_meta present but codes missing = the mid-forget crash state
        # (codes renamed to .forget_bak between _replace_dir's renames);
        # a raw PATH_NOT_FOUND here would escape the CLI's usage-error
        # handling (r10 review)
        raise ValueError(
            f"no codes store under {pq_root} — if a forget crashed "
            "mid-rewrite, re-run it (its recovery restores the store), "
            "then report"
        )
    codes = _latest_per_vec(spark.read.parquet(f"{pq_root}/codes"), "code_csv")
    n, top, _ = _blob_stats(codes, "code_csv")
    sl = auto_shortlist(top)
    # clamped = the rule WOULD have sized past the cap (top + the
    # PQ_SHORTLIST margin — auto_shortlist's own formula — exceeds it);
    # the cap test in tests/test_pq.py pins this against the live rule
    return spark.createDataFrame(
        [(n, top, sl, top + PQ_SHORTLIST > PQ_SHORTLIST_CAP)],
        "n_vectors LONG, top_blob LONG, shortlist INT, clamped BOOLEAN",
    )


def pq_build_params(spark, index_root: str) -> dict | None:
    """The geometry the PQ index at ``index_root`` was built with, or
    ``None`` when no meta exists — callers must refuse to encode against
    a root they cannot read the geometry of (an m mismatch would slice
    wrong, a ksub mismatch would train a differently-shaped codebook on
    the next rebuild)."""
    import os

    if not os.path.isdir(f"{index_root}/pq_meta"):
        return None
    row = spark.read.parquet(f"{index_root}/pq_meta").first()
    return {"m": int(row["m"]), "ksub": int(row["ksub"]), "iters": int(row["iters"])}
