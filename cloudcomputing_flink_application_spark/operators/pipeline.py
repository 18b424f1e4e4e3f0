"""Training-data pipeline operators over ``documents``: benchmark
decontamination, repetition filtering, sequence packing, stratified sampling.

These extend the engine beyond the reference's query set (no counterpart in
`hasanyah/cloudcomputing-flink-application`) with the corpus-preparation steps a
large-scale LLM data pipeline runs between raw crawl and tokenized shards.
Every operator keeps the oracle discipline of the rest of the repo: exact
integer arithmetic wherever a hash comparison happens, one aligned DuckDB SQL
string per operator, and deterministic output at any parallelism.

Scale notes (100 TB stance):
- ``decontaminate``: the benchmark side is small by construction (eval sets
  are KB..MB even when the corpus is TB), so it is the textbook broadcast
  join — corpus-side shingling fuses into the scan, one partial-agg shuffle
  keyed by high-cardinality doc_id, benchmark set shipped to every executor.
- ``repetition_stats``: explode -> two partial-agg shuffles keyed by
  (doc_id, gram) then doc_id.  Both keys are high-cardinality and
  skew-free; per-task memory is bounded by the longest document.
- ``pack_chunks``: the running-sum window partitions by
  (source, doc_id range), so window state is bounded by PACK_RANGE docs
  regardless of corpus size — never a global sort, never a one-task stream.
- ``sample_stratified``: pure per-row hash predicate, scan-fused, no
  shuffle; sampling decisions are reproducible because they hash stable doc
  ids, not partition indexes (contrast ``DataFrame.sample``, whose output
  depends on the physical split layout).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cloudcomputing_flink_application_spark.functions import text as X
from cloudcomputing_flink_application_spark.operators.dedup import (
    _persist,
    truncate_lineage,
)
from cloudcomputing_flink_application_spark.plans.spread import (  # noqa: F401
    _scan_shaped,
    _spread,
)

# --- decontamination ---------------------------------------------------------

#: Membership rule for the synthetic "benchmark" set: doc_id % BENCH_MOD == 0.
#: Stand-in for a real eval-set manifest; everything downstream treats the
#: benchmark frame as opaque, so swapping in a real one changes nothing.
BENCH_MOD = 29
#: Shingle width for contamination checks (word n-grams).  13 is the
#: published convention for web-scale corpora; 5 keeps the synthetic
#: ~30-token documents producing enough shingles to make overlap meaningful.
DECONTAM_W = 5
#: Flag threshold: contaminated when overlap covers >= 1/2 of the doc's
#: distinct shingles.
DECONTAM_NUM, DECONTAM_DEN = 1, 2


def decontaminate(documents: DataFrame, w: int = DECONTAM_W) -> DataFrame:
    """Flag corpus documents whose w-gram shingles overlap the benchmark set.

    Benchmark side: distinct 56-bit shingle hashes of benchmark docs
    (``doc_id % BENCH_MOD == 0``), broadcast.  Corpus side: per-doc distinct
    shingles, exploded, left-joined against the broadcast set, re-aggregated
    by doc_id.  Short docs (< w tokens, zero shingles) are preserved by the
    explode_outer NULL row itself: it reaches the doc_id aggregate (NULL
    hash never equi-joins, count(h)/count(_hit) skip it), so every corpus
    doc has a group — n_shingles 0, never contaminated.

    Output: (doc_id, n_shingles, n_overlap, contaminated) — one row per
    non-benchmark document.
    """
    # Plan hygiene (see operators/dedup.py::_token_sets for the full story):
    # repartition BEFORE the shingle projection so the md5-per-shingle prep
    # parallelizes off the single-partition scan; coalesce(text,'') keeps
    # every derived expression non-nullable so inferred isnotnull constraints
    # fold away; explode_outer instead of explode, because a bare explode
    # makes Catalyst infer `size(shs) > 0` and re-inline the whole
    # tokenize+md5 pipeline into a scan filter.
    #
    # r14 optimization round (guide §2.4, remove shuffles outright): the
    # corpus side previously FILTERED the explode_outer NULL rows out and
    # joined the aggregate back onto a second corpus branch to recover
    # zero-shingle docs.  Keeping the NULL row through the aggregate makes
    # the groupBy itself cover every doc — the join-back (one corpus-wide
    # doc_id join + a second scan branch) disappears; n_shingles counts
    # non-NULL hashes (count(h)), identical to the old count(*) over the
    # filtered rows, and the NULL hash never matches the broadcast set.
    # Both spreads are GATED (r14 optimization round, guide §2.4 — the
    # `_spread` pattern the rest of this module already uses): locally the
    # single-file scan still fans out to full parallelism; at scale a
    # many-split corpus scan skips what would be a full shuffle of the
    # text column on each side.
    shs = F.array_distinct(
        X.shingles(X.tokens_sx("coalesce(text, '')"), w)
    )
    bench = (
        _spread(documents.filter(F.col("doc_id") % BENCH_MOD == 0))
        .select(F.explode_outer(shs).alias("sh"))
        .filter(F.col("sh").isNotNull())
        # coalesce: h56 of a non-null string is never null, but Catalyst
        # can't prove that, and the join would otherwise push an inferred
        # isnotnull(md5-pipeline) filter below this projection.
        .select(F.coalesce(X.h56(F.col("sh")), F.lit(0)).alias("h"))
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    ex = (
        _spread(documents.filter(F.col("doc_id") % BENCH_MOD != 0))
        .select("doc_id", F.explode_outer(shs).alias("sh"))
        .select(
            "doc_id",
            F.when(
                F.col("sh").isNotNull(),
                F.coalesce(X.h56(F.col("sh")), F.lit(0)),
            ).alias("h"),
        )
    )
    ov = (
        ex.join(F.broadcast(bench), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("h").cast("long").alias("n_shingles"),
            F.count("_hit").cast("long").alias("n_overlap"),
        )
    )
    return ov.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        (
            (F.col("n_overlap") * DECONTAM_DEN
             >= F.col("n_shingles") * DECONTAM_NUM)
            & (F.col("n_shingles") > 0)
        ).alias("contaminated"),
    )


DECONTAMINATE_SQL = f"""
WITH shingled AS (
  SELECT doc_id,
         list_distinct({X.shingles_sql(X.tokens_sql('text'), DECONTAM_W)}) AS shs
  FROM documents
),
corpus AS (SELECT * FROM shingled WHERE doc_id % {BENCH_MOD} <> 0),
bench AS (
  SELECT DISTINCT {X.h56_sql('u.sh')} AS h, TRUE AS hit
  FROM (SELECT unnest(shs) AS sh FROM shingled WHERE doc_id % {BENCH_MOD} = 0) u
),
ex AS (
  SELECT doc_id, {X.h56_sql('u.sh')} AS h
  FROM (SELECT doc_id, unnest(shs) AS sh FROM corpus) u
),
ov AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(count(bench.hit) AS BIGINT) AS n_overlap
  FROM ex LEFT JOIN bench USING (h)
  GROUP BY doc_id
)
SELECT c.doc_id,
       coalesce(ov.n_shingles, 0) AS n_shingles,
       coalesce(ov.n_overlap, 0) AS n_overlap,
       (coalesce(ov.n_overlap, 0) * {DECONTAM_DEN}
          >= coalesce(ov.n_shingles, 0) * {DECONTAM_NUM}
        AND coalesce(ov.n_shingles, 0) > 0) AS contaminated
FROM corpus c LEFT JOIN ov ON c.doc_id = ov.doc_id
"""


def contamination_report(documents: DataFrame, w: int = DECONTAM_W) -> DataFrame:
    """Per-BENCHMARK-doc leak report: the attribution ``decontaminate``
    aggregates away.

    ``decontaminate`` answers "is this corpus doc contaminated?"; an eval
    owner asks the reverse — "which of MY benchmark documents leaked into
    the corpus, and how widely?".  One row per benchmark doc:

    - ``n_shingles``: its distinct w-gram shingles;
    - ``n_hit_docs``: corpus docs sharing at least one shingle with it;
    - ``n_shared_shingles``: its shingles found in at least one corpus doc.

    Scale: the same broadcast shape as ``decontaminate`` — the benchmark
    side (exploded to (bench_id, shingle-hash)) stays KB..MB at any corpus
    size and broadcasts; the corpus side explodes scan-fused and never
    shuffles before the join.  The two exact distinct counts shuffle on
    high-cardinality bench_id with map-side partial aggregation.
    All-integer output — full value-hash oracle.
    """
    # Gated spreads (r14 optimization round, guide §2.4): see decontaminate.
    shs = F.array_distinct(
        X.shingles(X.tokens_sx("coalesce(text, '')"), w)
    )
    bench = (
        _spread(documents.filter(F.col("doc_id") % BENCH_MOD == 0))
        .select(F.col("doc_id").alias("bench_id"), shs.alias("shs"))
    )
    bex = (
        bench.select("bench_id", F.explode_outer("shs").alias("sh"))
        .filter(F.col("sh").isNotNull())
        # coalesce: see decontaminate — keeps the inferred isnotnull
        # constraint from re-inlining the md5 pipeline below the join.
        .select("bench_id", F.coalesce(X.h56(F.col("sh")), F.lit(0)).alias("h"))
    )
    cex = (
        _spread(documents.filter(F.col("doc_id") % BENCH_MOD != 0))
        .select("doc_id", F.explode_outer(shs).alias("sh"))
        .filter(F.col("sh").isNotNull())
        .select("doc_id", F.coalesce(X.h56(F.col("sh")), F.lit(0)).alias("h"))
    )
    hits = (
        cex.join(F.broadcast(bex), "h")
        .groupBy("bench_id")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_hit_docs"),
            F.countDistinct("h").cast("long").alias("n_shared_shingles"),
        )
    )
    return (
        bench.select("bench_id", F.size("shs").cast("long").alias("n_shingles"))
        .join(hits, "bench_id", "left")
        .select(
            "bench_id",
            "n_shingles",
            F.coalesce("n_hit_docs", F.lit(0)).cast("long").alias("n_hit_docs"),
            F.coalesce("n_shared_shingles", F.lit(0))
            .cast("long")
            .alias("n_shared_shingles"),
        )
    )


CONTAM_REPORT_SQL = f"""
WITH shingled AS (
  SELECT doc_id,
         list_distinct({X.shingles_sql(X.tokens_sql('text'), DECONTAM_W)}) AS shs
  FROM documents
),
bench AS (SELECT doc_id AS bench_id, shs FROM shingled WHERE doc_id % {BENCH_MOD} = 0),
bex AS (
  SELECT bench_id, {X.h56_sql('u.sh')} AS h
  FROM (SELECT bench_id, unnest(shs) AS sh FROM bench) u
),
cex AS (
  SELECT doc_id, {X.h56_sql('u.sh')} AS h
  FROM (SELECT doc_id, unnest(shs) AS sh FROM shingled WHERE doc_id % {BENCH_MOD} <> 0) u
),
hits AS (
  SELECT bench_id,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_hit_docs,
         CAST(count(DISTINCT h) AS BIGINT) AS n_shared_shingles
  FROM cex JOIN bex USING (h)
  GROUP BY bench_id
)
SELECT b.bench_id,
       CAST(len(b.shs) AS BIGINT) AS n_shingles,
       coalesce(h.n_hit_docs, 0) AS n_hit_docs,
       coalesce(h.n_shared_shingles, 0) AS n_shared_shingles
FROM bench b LEFT JOIN hits h USING (bench_id)
"""


# --- repetition stats --------------------------------------------------------

#: Flag thresholds (exact rationals, compared cross-multiplied so the flag
#: never touches floating point): top-2gram fraction > 1/10, duplicate-3gram
#: occupancy > 1/10 — the Gopher-style repetition rules, tightened so the
#: synthetic short-doc corpus exercises both branches.
TOP2_NUM, TOP2_DEN = 1, 10
DUP3_NUM, DUP3_DEN = 1, 10


def _runstats_sx(col: str) -> str:
    """Spark-SQL run-length fold over a SORTED copy of a string array:
    returns ``struct(top, dup)`` where ``top`` is the count of the most
    frequent element and ``dup`` the total count of elements whose count
    is >= 2 — exactly the ``max(c)`` / ``sum(c) FILTER (c > 1)`` of a
    groupBy over the array's elements, computed per row.  Equal elements
    are adjacent after ``array_sort``, so one (prev, run, top, dup)
    accumulator pass suffices; the finish clause folds the final run.
    Empty arrays yield (0, 0) (``run`` stays 0 and ``greatest(0, 0)``/
    ``+ 0`` are identities)."""
    return (
        f"aggregate(array_sort({col}), "
        "named_struct('prev', cast(null as string), "
        "'run', 0L, 'top', 0L, 'dup', 0L), "
        "(acc, g) -> if(acc.run = 0L, "
        "named_struct('prev', g, 'run', 1L, 'top', acc.top, 'dup', acc.dup), "
        "if(g = acc.prev, "
        "named_struct('prev', g, 'run', acc.run + 1L, "
        "'top', acc.top, 'dup', acc.dup), "
        "named_struct('prev', g, 'run', 1L, "
        "'top', greatest(acc.top, acc.run), "
        "'dup', acc.dup + if(acc.run > 1L, acc.run, 0L)))), "
        "acc -> named_struct("
        "'top', greatest(acc.top, acc.run), "
        "'dup', acc.dup + if(acc.run > 1L, acc.run, 0L)))"
    )


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style per-document repetition metrics.

    - ``top2_frac``: occurrences of the single most frequent word-2gram over
      total 2-gram occurrences (boilerplate detector);
    - ``dup3_frac``: fraction of 3-gram occurrences belonging to 3-grams that
      appear more than once (internal-duplication detector);
    - ``flagged``: either fraction over its threshold (cross-multiplied
      integer compare, so the flag is exact even though the reported
      fractions are doubles).

    Docs too short to have 2-grams survive with zero fractions.  Gram tie
    handling is moot: only counts are aggregated, never gram identity.

    r14 optimization round (guide §1.2, the distributed algorithm): both
    metrics are DOC-LOCAL — no gram's count is ever compared across
    documents — so the explode -> groupBy(doc_id, g) -> groupBy(doc_id)
    -> join-back pipeline (per gram width: two hash Exchanges shuffling
    every gram OCCURRENCE as a string, then a doc_id join) was shuffle
    work for a per-row computation.  The fused form sorts each doc's
    gram array and folds run lengths in one pass: top{w} is the longest
    run, dup{w} the sum of runs >= 2, n{w} the array size — the same
    integers the groupBy computed, now scan-fused with ZERO exchanges
    beyond the gated ``_spread``.  A 100 TB corpus shuffles nothing
    instead of ~2x its tokenized self.  Oracle SQL unchanged (the
    groupBy form, independently stated); parity re-verified, and the
    exact-fraction unit rows pin the fold's arithmetic.
    """
    staged = _spread(documents).select(
        "doc_id",
        F.size(X.tokens("text")).cast("long").alias("n_tokens"),
        X.xp(X.shingles_sx(X.tokens_sx("coalesce(text, '')"), 2)).alias("_g2"),
        X.xp(X.shingles_sx(X.tokens_sx("coalesce(text, '')"), 3)).alias("_g3"),
    )
    j = staged.select(
        "doc_id",
        "n_tokens",
        F.size("_g2").cast("long").alias("n2"),
        X.xp(_runstats_sx("_g2")).alias("_s2"),
        F.size("_g3").cast("long").alias("n3"),
        X.xp(_runstats_sx("_g3")).alias("_s3"),
    )
    n2, top2 = F.col("n2"), F.col("_s2.top")
    n3, dup3 = F.col("n3"), F.col("_s3.dup")
    return j.select(
        "doc_id",
        "n_tokens",
        F.when(n2 > 0, top2.cast("double") / n2).otherwise(F.lit(0.0)).alias("top2_frac"),
        F.when(n3 > 0, dup3.cast("double") / n3).otherwise(F.lit(0.0)).alias("dup3_frac"),
        (
            (top2 * TOP2_DEN > n2 * TOP2_NUM) | (dup3 * DUP3_DEN > n3 * DUP3_NUM)
        ).alias("flagged"),
    )


REPETITION_SQL = f"""
WITH g2x AS (
  SELECT doc_id, unnest({X.shingles_sql(X.tokens_sql('text'), 2)}) AS g
  FROM documents
),
g2c AS (SELECT doc_id, g, count(*) AS c FROM g2x GROUP BY doc_id, g),
g2 AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n2, CAST(max(c) AS BIGINT) AS top2
  FROM g2c GROUP BY doc_id
),
g3x AS (
  SELECT doc_id, unnest({X.shingles_sql(X.tokens_sql('text'), 3)}) AS g
  FROM documents
),
g3c AS (SELECT doc_id, g, count(*) AS c FROM g3x GROUP BY doc_id, g),
g3 AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n3,
         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup3
  FROM g3c GROUP BY doc_id
),
base AS (
  SELECT doc_id, CAST(len({X.tokens_sql('text')}) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT b.doc_id, b.n_tokens,
       CASE WHEN coalesce(n2, 0) > 0
            THEN coalesce(top2, 0)::DOUBLE / n2 ELSE 0.0 END AS top2_frac,
       CASE WHEN coalesce(n3, 0) > 0
            THEN coalesce(dup3, 0)::DOUBLE / n3 ELSE 0.0 END AS dup3_frac,
       (coalesce(top2, 0) * {TOP2_DEN} > coalesce(n2, 0) * {TOP2_NUM}
        OR coalesce(dup3, 0) * {DUP3_DEN} > coalesce(n3, 0) * {DUP3_NUM}) AS flagged
FROM base b
LEFT JOIN g2 ON b.doc_id = g2.doc_id
LEFT JOIN g3 ON b.doc_id = g3.doc_id
"""


# --- sequence packing --------------------------------------------------------

#: Token budget per packed training chunk.
PACK_BUDGET = 64
#: Docs per packing group: pack_key = doc_id div PACK_RANGE.  Bounds the
#: running-sum window at PACK_RANGE rows however large the corpus is; real
#: pipelines use the output-shard id the same way.
PACK_RANGE = 256


def _n_tok_col(token_col: str | None):
    """The packing token counter (r14, VERDICT r13 #5): the regex
    whitespace count by default; with ``token_col`` set, the precomputed
    EXACT tokenizer count from that column, per-row-falling back to the
    regex count where the cell is NULL **or negative** (a partially-
    tokenized corpus packs consistently instead of corrupting running
    sums, and a -1 "untokenized" sentinel — the same convention as
    Spark's own size(NULL) — must not drive begin_tok backwards).  The
    coalesce on text is load-bearing: Spark's non-ANSI size(NULL) is -1,
    which would corrupt the sums (and diverge from DuckDB's NULL)."""
    regex = (
        F.size(X.tokens_of("coalesce(text, '')"))
        .cast("long")
    )
    if token_col is None:
        return regex
    exact = F.col(token_col).cast("long")
    # NULL >= 0 is NULL -> otherwise(), so one predicate covers both
    return F.when(exact >= 0, exact).otherwise(regex)


def _n_tok_sql(token_col: str | None) -> str:
    """DuckDB twin of :func:`_n_tok_col`."""
    toks = X.tokens_sql("coalesce(text, '')")
    regex = f"CAST(len({toks}) AS BIGINT)"
    if token_col is None:
        return regex
    # NULL >= 0 is NULL -> ELSE, mirroring the Spark when/otherwise
    return (
        f"CASE WHEN CAST({token_col} AS BIGINT) >= 0 "
        f"THEN CAST({token_col} AS BIGINT) ELSE {regex} END"
    )


def pack_chunks(documents: DataFrame, token_col: str | None = None) -> DataFrame:
    """Concatenate-and-chunk sequence packing with bounded windows.

    Within each (source, pack_key) group, documents concatenate in doc_id
    order into one token stream; a document's chunk is the PACK_BUDGET-sized
    block containing its first token.  The running sum is an ordinary window
    — but partitioned by the bounded pack key, so no task ever sorts more
    than PACK_RANGE rows and the plan scales linearly in document count.

    ``token_col`` (r14, VERDICT r13 #5): name of a precomputed exact
    tokenizer-count column to budget by instead of the regex counter —
    see :func:`_n_tok_col`; ``None`` keeps the plan byte-identical to
    the oracle'd default.

    Output: (doc_id, source, pack_key, n_tok, begin_tok, chunk_id).
    """
    base = documents.select(
        "doc_id",
        "source",
        (F.col("doc_id") / PACK_RANGE).cast("long").alias("pack_key"),
        _n_tok_col(token_col).alias("n_tok"),
    )
    w = (
        Window.partitionBy("source", "pack_key")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return base.select(
        "doc_id",
        "source",
        "pack_key",
        "n_tok",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("long").alias("begin_tok"),
    ).withColumn("chunk_id", (F.col("begin_tok") / PACK_BUDGET).cast("long"))


def pack_chunks_sql(token_col: str | None = None) -> str:
    """DuckDB twin of :func:`pack_chunks`; ``pack_chunks_sql()`` is
    byte-identical to the pre-r14 PACK_CHUNKS_SQL constant (the composed
    oracles built on it are unchanged when no token column is given)."""
    return f"""
WITH base AS (
  SELECT doc_id, source,
         doc_id // {PACK_RANGE} AS pack_key,
         {_n_tok_sql(token_col)} AS n_tok
  FROM documents
)
SELECT doc_id, source, pack_key, n_tok,
       CAST(coalesce(sum(n_tok) OVER (
              PARTITION BY source, pack_key ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         AS begin_tok,
       CAST(coalesce(sum(n_tok) OVER (
              PARTITION BY source, pack_key ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            // {PACK_BUDGET} AS BIGINT) AS chunk_id
FROM base
"""


PACK_CHUNKS_SQL = pack_chunks_sql()


# --- r11 whole-document bin packing (no straddling) --------------------------


def _ffd_assign(
    sizes: list[int], budget: int
) -> tuple[list[int], list[int], list[bool]]:
    """The pure FFD core over DESC-sorted sizes: (bin_seq, begin_tok,
    oversize) per item, in input order.  Extracted from the Arrow UDF so
    the invariants (capacity, conservation, placement offsets, oversize
    singletons) are property-testable without a Spark session
    (tests/test_properties.py)."""
    loads: list[int] = []
    seqs: list[int] = []
    begins: list[int] = []
    oversize: list[bool] = []
    for nt in sizes:
        nt = int(nt)
        if nt > budget:
            # flagged singleton bin; never receives another doc
            # (its load already exceeds budget)
            seqs.append(len(loads))
            begins.append(0)
            loads.append(nt)
            oversize.append(True)
            continue
        for i, ld in enumerate(loads):
            if ld + nt <= budget:
                seqs.append(i)
                begins.append(ld)
                loads[i] = ld + nt
                break
        else:
            seqs.append(len(loads))
            begins.append(0)
            loads.append(nt)
        oversize.append(False)
    return seqs, begins, oversize


def pack_bins(documents: DataFrame, budget: int = PACK_BUDGET) -> DataFrame:
    """First-fit-decreasing WHOLE-document bin packing — the
    no-cross-contamination regime (Krell et al., "Efficient Sequence
    Packing without Cross-contamination", arXiv:2107.02027, public):
    every document lands intact in exactly one budget-sized bin, so no
    training sequence ever contains a document fragment (the straddling
    :func:`pack_chunks` permits — ``pack_report`` counts it).  The trade
    is explicit padding: bins close below budget when nothing fits.

    Algorithm per bounded group: sort (n_tok DESC, doc_id ASC), place
    each doc in the FIRST open bin with room, else open a new bin —
    deterministic, and within 11/9 OPT + 1 bins of optimal (the classic
    FFD bound).  A doc larger than the budget gets a flagged singleton
    bin (``oversize``); :func:`pack_bins_chunked` is the composed remedy
    (r12) — pre-split giants into budget-sized pieces, then FFD the
    pieces, so the capacity invariant holds unconditionally.

    Spark shape: FFD is inherently sequential WITHIN a bin set, so it
    runs as an Arrow-batched ``applyInPandas`` over the SAME bounded
    (source, pack_key) groups the window packer uses — each group holds
    <= PACK_RANGE docs by construction (group count scales out with the
    corpus; per-task state is one group's doc list; skew is impossible
    because pack_key is a doc_id range).  This is the one packing stage
    a declarative window cannot express (bin load is a running state
    with resets), hence the documented Pandas-UDF exception — and it has
    NO cross-engine SQL oracle for the same reason; the gates are the
    property pins in tests/test_pipeline_ops.py (capacity, conservation,
    determinism under repartition, the hand-computed FFD fixture).

    Output: (doc_id, source, pack_key, n_tok, bin_seq, begin_tok,
    oversize) with ``bin_seq`` the per-group bin ordinal (globally
    identify a bin by (source, pack_key, bin_seq)) and ``begin_tok`` the
    doc's token offset within its bin, recorded at placement time.
    """
    if budget < 1:
        raise ValueError(f"pack_bins needs budget >= 1, got {budget}")
    base = documents.select(
        "doc_id",
        "source",
        (F.col("doc_id") / PACK_RANGE).cast("long").alias("pack_key"),
        # coalesce: size(NULL) is -1 in non-ANSI Spark — a negative load
        # would let an over-budget bin pass the capacity invariant
        F.size(X.tokens_of("coalesce(text, '')"))
        .cast("long")
        .alias("n_tok"),
    )

    def _ffd(pdf):
        import pandas as pd

        pdf = pdf.sort_values(
            ["n_tok", "doc_id"], ascending=[False, True], kind="mergesort"
        )
        seqs, begins, oversize = _ffd_assign(list(pdf["n_tok"]), budget)
        out = pdf[["doc_id", "source", "pack_key", "n_tok"]].copy()
        out["bin_seq"] = pd.array(seqs, dtype="int64")
        # the doc's token offset within its bin, recorded AT placement —
        # the one authoritative statement of FFD's order (a downstream
        # window re-deriving it would silently couple to the core's
        # loop; r11 review)
        out["begin_tok"] = pd.array(begins, dtype="int64")
        out["oversize"] = oversize
        return out

    return base.groupBy("source", "pack_key").applyInPandas(
        _ffd,
        "doc_id long, source string, pack_key long, n_tok long, "
        "bin_seq long, begin_tok long, oversize boolean",
    )


def chunk_oversize_docs(
    documents: DataFrame,
    budget: int = PACK_BUDGET,
    token_col: str | None = None,
) -> DataFrame:
    """Pre-packer piece split (r12, VERDICT r11 #5): docs whose token
    count fits ``budget`` pass through WHOLE (piece 0, original text
    byte-identical); over-budget docs split into disjoint budget-sized
    token slices (stride = budget, no overlap — every token lands in
    exactly ONE piece, the conservation-across-the-chunk-boundary
    contract), each piece a packable item for :func:`pack_bins_chunked`.

    Piece text preserves the ORIGINAL case (r12 review: the canonical
    tokenizer lowercases, which would have silently normalized only the
    over-budget docs' training text while within-budget rows in the same
    output kept raw bytes) — lowering never changes whitespace, so the
    raw-case split below has the same arity and positions as
    ``X.tokens_of`` and ``n_tok`` is unchanged.  Whitespace RUNS still
    collapse to single spaces in piece text (token-slice reconstruction
    cannot preserve them); that is the one documented normalization.

    Output: (doc_id, piece, source, text, n_tok), one row per piece,
    with n_tok <= budget on every row by construction.

    ``token_col`` (r14, VERDICT r13 #5): budget by a precomputed EXACT
    tokenizer count instead of the whitespace counter (per-row regex
    fallback, :func:`_n_tok_col`).  An over-budget doc then splits into
    ceil(n_exact / budget) pieces of n_tok = budget each (last = the
    remainder) — conservation and capacity hold EXACTLY in tokenizer
    units by construction — while the piece TEXT is the doc's whitespace
    tokens sliced into that many even spans (the exact tokenizer is not
    available engine-side, so text boundaries are proportional; counts,
    which is what packing and training budgets consume, are exact).

    Scale: pure per-row array math (the chunk_docs story) — the explode
    multiplies only the over-budget docs' rows; no key shuffle."""
    if budget < 1:
        raise ValueError(f"chunk_oversize_docs needs budget >= 1, got {budget}")
    # raw-case whitespace tokens: same boundaries as X.tokens_of (lower()
    # never changes whitespace), original bytes for the piece text
    tok = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
        lambda t: t != "",
    )
    cols = ["doc_id", "source", "text"]
    if token_col is not None and token_col not in cols:
        cols.append(token_col)
    base = documents.select(*cols, tok.alias("_tk")).withColumn(
        "_n", F.size("_tk").cast("long")
    )
    if token_col is not None:
        # _n_exact projects straight off the same scan (r14 review: a
        # doc_id self-join here would add a full shuffle to the packing
        # path and drop NULL-doc_id rows the default path keeps)
        base = base.withColumn("_nws", F.col("_n")).withColumn(
            "_n", _n_tok_col(token_col)
        )
        small = base.filter(F.col("_n") <= budget).select(
            "doc_id",
            F.lit(0).cast("int").alias("piece"),
            "source",
            "text",
            F.col("_n").alias("n_tok"),
        )
        k = F.expr(f"(_n + {budget - 1}) div {budget}")
        giant = (
            base.filter(F.col("_n") > budget)
            .withColumn("_k", k)
            .select(
                "doc_id",
                "source",
                "_tk",
                "_n",
                "_nws",
                "_k",
                F.explode(F.sequence(F.lit(0), F.col("_k") - 1)).alias("_p"),
            )
            .select(
                "doc_id",
                F.col("_p").cast("int").alias("piece"),
                "source",
                # even ws-token spans: piece p gets (p*nws div k,
                # (p+1)*nws div k] — disjoint, covering, order-preserving
                F.concat_ws(
                    " ",
                    F.slice(
                        "_tk",
                        F.expr("CAST((_p * _nws) div _k AS INT) + 1"),
                        F.expr(
                            "CAST(((_p + 1) * _nws) div _k"
                            " - (_p * _nws) div _k AS INT)"
                        ),
                    ),
                ).alias("text"),
                F.when(
                    F.col("_p") < F.col("_k") - 1, F.lit(budget).cast("long")
                )
                .otherwise(
                    F.col("_n") - F.lit(budget) * (F.col("_k") - 1)
                )
                .alias("n_tok"),
            )
        )
        return small.unionByName(giant)
    small = base.filter(F.col("_n") <= budget).select(
        "doc_id",
        F.lit(0).cast("int").alias("piece"),
        "source",
        "text",
        F.col("_n").alias("n_tok"),
    )
    giant = (
        base.filter(F.col("_n") > budget)
        .select(
            "doc_id",
            "source",
            "_tk",
            "_n",
            F.posexplode(F.sequence(F.lit(1), F.col("_n"), F.lit(budget))).alias(
                "_i", "_s"
            ),
        )
        .select(
            "doc_id",
            F.col("_i").cast("int").alias("piece"),
            "source",
            F.concat_ws(" ", F.slice("_tk", F.col("_s"), budget)).alias("text"),
            F.least(F.lit(budget), F.col("_n") - F.col("_s") + 1)
            .cast("long")
            .alias("n_tok"),
        )
    )
    return small.unionByName(giant)


def chunk_oversize_sql(
    budget: int = PACK_BUDGET, token_col: str | None = None
) -> str:
    if token_col is not None:
        # exact-count variant (r14): ceil(n/budget) even ws-token spans;
        # DuckDB list slice tk[a:b] is 1-based inclusive, so piece p
        # spans (p*nws)//k + 1 .. ((p+1)*nws)//k — width matches the
        # Spark slice(start, width) form exactly.
        n = _n_tok_sql(token_col)
        return f"""
WITH base AS (
  SELECT doc_id, source, text,
         list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
                     t -> t <> '') AS tk,
         {n} AS n
  FROM documents
),
small AS (
  SELECT doc_id, CAST(0 AS INT) AS piece, source, text,
         CAST(n AS BIGINT) AS n_tok
  FROM base WHERE n <= {budget}
),
giantx AS (
  SELECT doc_id, source, tk, n, len(tk) AS nws,
         (n + {budget - 1}) // {budget} AS k,
         unnest(generate_series(0, (n + {budget - 1}) // {budget} - 1)) AS p
  FROM base WHERE n > {budget}
),
giant AS (
  SELECT doc_id, CAST(p AS INT) AS piece, source,
         array_to_string(tk[(p * nws) // k + 1 : ((p + 1) * nws) // k], ' ')
           AS text,
         CAST(CASE WHEN p < k - 1 THEN {budget}
                   ELSE n - {budget} * (k - 1) END AS BIGINT) AS n_tok
  FROM giantx
)
SELECT * FROM small UNION ALL SELECT * FROM giant
"""
    return f"""
WITH base AS (
  SELECT doc_id, source, text,
         list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
                     t -> t <> '') AS tk
  FROM documents
),
small AS (
  SELECT doc_id, CAST(0 AS INT) AS piece, source, text,
         CAST(len(tk) AS BIGINT) AS n_tok
  FROM base WHERE len(tk) <= {budget}
),
giantx AS (
  SELECT doc_id, source, tk,
         unnest(generate_series(1, len(tk), {budget})) AS s,
         unnest(generate_series(0, (len(tk) - 1) // {budget})) AS piece
  FROM base WHERE len(tk) > {budget}
),
giant AS (
  SELECT doc_id, CAST(piece AS INT) AS piece, source,
         array_to_string(tk[s:s + {budget - 1}], ' ') AS text,
         CAST(least({budget}, len(tk) - s + 1) AS BIGINT) AS n_tok
  FROM giantx
)
SELECT * FROM small UNION ALL SELECT * FROM giant
"""


CHUNK_OVERSIZE_SQL = chunk_oversize_sql()


def pack_bins_chunked(
    documents: DataFrame, budget: int = PACK_BUDGET
) -> DataFrame:
    """Chunk-then-bin FFD packing (r12, VERDICT r11 #5): split
    over-budget docs into budget-sized pieces
    (:func:`chunk_oversize_docs`), then first-fit-decreasing pack the
    PIECES — so the capacity invariant holds unconditionally: no bin,
    and therefore no training sequence, ever exceeds ``budget``
    (``pack_bins`` alone ships an over-budget doc as a flagged oversize
    singleton).  Within-bin rows never mix fragments of the same doc
    with budget-filling whole docs any differently than whole docs mix:
    a fragment is simply an item.

    Same bounded-group Arrow shape as :func:`pack_bins` (the one
    non-declarative packing stage), same pure property-tested core
    (``_ffd_assign``); the FFD sort key grows the piece ordinal —
    (n_tok DESC, doc_id ASC, piece ASC) — keeping determinism under
    repartition.  The UDF batch stays NARROW (ids + sizes only); piece
    text joins back by (doc_id, piece) outside the packer.

    Output: (doc_id, piece, source, pack_key, n_tok, bin_seq, begin_tok,
    oversize) with ``oversize`` False on every row by construction
    (kept for schema compatibility with ``pack_bin_stats``)."""
    if budget < 1:
        raise ValueError(f"pack_bins_chunked needs budget >= 1, got {budget}")
    return _ffd_pack_pieces(chunk_oversize_docs(documents, budget), budget)


def _ffd_pack_pieces(pieces: DataFrame, budget: int) -> DataFrame:
    """The FFD stage of :func:`pack_bins_chunked` over an existing
    pieces frame — split out so ``packed_training_rows`` can persist ONE
    pieces frame for both the packer and the piece-text join."""
    items = pieces.select(
        "doc_id",
        "piece",
        "source",
        (F.col("doc_id") / PACK_RANGE).cast("long").alias("pack_key"),
        "n_tok",
    )

    def _ffd(pdf):
        import pandas as pd

        pdf = pdf.sort_values(
            ["n_tok", "doc_id", "piece"],
            ascending=[False, True, True],
            kind="mergesort",
        )
        seqs, begins, oversize = _ffd_assign(list(pdf["n_tok"]), budget)
        out = pdf[["doc_id", "piece", "source", "pack_key", "n_tok"]].copy()
        out["bin_seq"] = pd.array(seqs, dtype="int64")
        out["begin_tok"] = pd.array(begins, dtype="int64")
        out["oversize"] = oversize
        return out

    return items.groupBy("source", "pack_key").applyInPandas(
        _ffd,
        "doc_id long, piece int, source string, pack_key long, n_tok long, "
        "bin_seq long, begin_tok long, oversize boolean",
    )


def pack_bin_stats(bins: DataFrame, budget: int = PACK_BUDGET) -> DataFrame:
    """Padding-waste accounting over :func:`pack_bins` output, per source:
    ``(source, n_docs, total_tokens, n_bins, oversize_bins, padded_tokens,
    fill_pct)`` where ``padded_tokens`` sums (budget - load) over REGULAR
    bins and ``fill_pct`` is the regular-bin fill, regular_load /
    (regular_bins * budget) — oversize singletons are excluded from both
    (their load exceeds the budget by construction, so including them
    would report fill > 1 while saying nothing about padding).  Sources
    whose bins are ALL oversize report fill_pct = 1.0 (nothing padded).
    Plain two-level aggregation — bin loads first (partial-agg friendly),
    then source rollup."""
    per_bin = bins.groupBy("source", "pack_key", "bin_seq").agg(
        F.count("*").alias("docs"),
        F.sum("n_tok").alias("load"),
        F.max(F.col("oversize").cast("int")).alias("over"),
    )
    return per_bin.groupBy("source").agg(
        F.sum("docs").cast("long").alias("n_docs"),
        F.sum("load").cast("long").alias("total_tokens"),
        F.count("*").cast("long").alias("n_bins"),
        F.sum("over").cast("long").alias("oversize_bins"),
        F.sum(
            F.when(F.col("over") == 0, F.lit(budget) - F.col("load")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("padded_tokens"),
        F.coalesce(
            F.sum(F.when(F.col("over") == 0, F.col("load"))).cast("double")
            / (
                F.count(F.when(F.col("over") == 0, F.lit(1))) * F.lit(budget)
            ).cast("double"),
            F.lit(1.0),
        ).alias("fill_pct"),
    )


def pack_report(
    documents: DataFrame, token_col: str | None = None
) -> DataFrame:
    """Observability over the concat-and-chunk packer, per source:
    ``(source, n_docs, total_tokens, n_chunks, straddle_docs)``.

    ``straddle_docs`` counts documents whose token span crosses a
    PACK_BUDGET boundary — the cross-contamination metric of the packing
    literature (a straddled doc shares a training sequence boundary with
    fragments of another).  ``n_chunks`` is each group's real sequence
    count, ceil(sum(n_tok) / PACK_BUDGET): the concat stream is
    continuous from offset 0, so the sequences a group trains are exactly
    its token total divided up by the budget (ADVICE r11: the previous
    max(chunk_id)+1 counted only budget blocks containing a doc START, so
    a trailing doc spanning several blocks undercounted).  The concat
    packer never pads, so waste here is zero by construction and
    straddling is the whole cost — the exact mirror of :func:`pack_bins`,
    which pays padding to straddle nothing.  Full DuckDB oracle.

    ``token_col`` passes through to :func:`pack_chunks` (r14: exact
    tokenizer counts when precomputed; default regex counter)."""
    packed = pack_chunks(documents, token_col)
    straddle = (
        ((F.col("begin_tok") + F.col("n_tok") - 1) / PACK_BUDGET).cast("long")
        != F.col("chunk_id")
    ) & (F.col("n_tok") > 0)
    per_group = packed.groupBy("source", "pack_key").agg(
        F.count("*").alias("docs"),
        F.sum("n_tok").alias("toks"),
        # exact integer ceil via `div` (r12 review: `/` on long columns
        # is DoubleType, which would make the DuckDB `//` parity rest on
        # float rounding instead of integer arithmetic)
        F.expr(f"(sum(n_tok) + {PACK_BUDGET - 1}) div {PACK_BUDGET}").alias(
            "chunks"
        ),
        F.sum(F.when(straddle, 1).otherwise(0)).alias("straddles"),
    )
    return per_group.groupBy("source").agg(
        F.sum("docs").cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("total_tokens"),
        F.sum("chunks").cast("long").alias("n_chunks"),
        F.sum("straddles").cast("long").alias("straddle_docs"),
    )


def pack_report_sql(token_col: str | None = None) -> str:
    """DuckDB twin of :func:`pack_report`; ``pack_report_sql()`` ==
    the pre-r14 PACK_REPORT_SQL constant."""
    return PACK_REPORT_SQL.replace(
        PACK_CHUNKS_SQL, pack_chunks_sql(token_col), 1
    )


PACK_REPORT_SQL = f"""
WITH packed AS ({PACK_CHUNKS_SQL}),
per_group AS (
  SELECT source, pack_key, count(*) AS docs, sum(n_tok) AS toks,
         (sum(n_tok) + {PACK_BUDGET - 1}) // {PACK_BUDGET} AS chunks,
         sum(CASE WHEN n_tok > 0
                  AND (begin_tok + n_tok - 1) // {PACK_BUDGET}
                      <> begin_tok // {PACK_BUDGET}
                  THEN 1 ELSE 0 END) AS straddles
  FROM packed GROUP BY source, pack_key
)
SELECT source, CAST(sum(docs) AS BIGINT) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS total_tokens,
       CAST(sum(chunks) AS BIGINT) AS n_chunks,
       CAST(sum(straddles) AS BIGINT) AS straddle_docs
FROM per_group GROUP BY source
"""


# --- stratified sampling -----------------------------------------------------

#: Per-language keep rates in basis points (out of 10_000).  Hash-based, so
#: the sample is a stable property of the data — rerunning, repartitioning,
#: or growing the corpus never flips a previously-kept document.
SAMPLE_BP: dict[str, int] = {"en": 6000, "de": 3000, "fr": 3000, "es": 2000, "zh": 2000}
SAMPLE_DEFAULT_BP = 1000
SAMPLE_SALT = "sample:"


def sample_stratified(documents: DataFrame) -> DataFrame:
    """Deterministic per-language downsampling by stable doc_id hash.

    ``u = h56(SALT || doc_id) % 10_000``; keep when u < the language's
    basis-point rate.  Pure scan-fused predicate — no shuffle, no RNG state,
    no dependence on physical partitioning (unlike ``DataFrame.sample``).

    Output: (doc_id, lang, source, u) for kept rows.
    """
    u = X.h56(F.concat(F.lit(SAMPLE_SALT), F.col("doc_id").cast("string"))) % 10_000
    rate = F.lit(SAMPLE_DEFAULT_BP)
    for lang, bp in sorted(SAMPLE_BP.items()):
        rate = F.when(F.col("lang") == lang, F.lit(bp)).otherwise(rate)
    return (
        documents.select("doc_id", "lang", "source", u.alias("u"))
        .filter(F.col("u") < rate)
    )


def _sample_rate_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN {bp}" for lang, bp in sorted(SAMPLE_BP.items())
    )
    return f"CASE {whens} ELSE {SAMPLE_DEFAULT_BP} END"


SAMPLE_STRATIFIED_SQL = f"""
WITH hashed AS (
  SELECT doc_id, lang, source,
         ({X.h56_sql(f"'{SAMPLE_SALT}' || CAST(doc_id AS VARCHAR)")}) % 10000 AS u
  FROM documents
)
SELECT doc_id, lang, source, u FROM hashed
WHERE u < {_sample_rate_sql()}
"""


# --- end-to-end corpus cleaning ----------------------------------------------

#: Composite quality-score threshold for the cleaning pipeline.
CLEAN_QUALITY_MIN = 0.5


def clean_corpus(documents: DataFrame) -> DataFrame:
    """The full corpus-preparation pipeline as ONE composed dataflow:
    quality filter -> repetition filter -> benchmark decontamination ->
    exact dedup (keep lowest id among survivors) -> content-addressed split.

    This is the "a user could run their whole preprocessing job on this
    engine" query: each stage is the already-verified operator, composed by
    per-doc joins, and the whole thing stays one declarative plan — Catalyst
    shares the documents scan and the per-doc stages pipeline into the same
    tasks where possible.  Dedup runs on SURVIVORS only (the realistic
    order: no wasting hash-shuffle on docs that quality-fail anyway).

    Output, one row per non-benchmark doc: (doc_id, q_ok, rep_ok, con_ok,
    uniq, kept, split) — ``uniq`` is false for docs that fail an earlier
    stage (dedup never saw them), ``split`` is '' unless kept.

    Scale: per-doc stages are scan-fused or one-shuffle aggs keyed by
    doc_id / gram (high-cardinality, skew-free); the survivor dedup is one
    window shuffle on the text hash; the stage joins co-shuffle on doc_id.

    r5 plan slim-down (the r4 +20% was this plan's join shape, not the
    incremental-variant semantics): the per-row quality stage fuses into
    the base projection via ``textstats.quality_col`` instead of a shuffle
    join against the per-doc quality frame, and the survivor-dedup
    canonical is an inline ``min(CASE WHEN pass THEN doc_id END)`` window
    on the text hash instead of a filtered branch joined back on doc_id —
    two shuffle joins and a duplicated subplan gone, byte-identical
    output (a failing doc can never equal the min PASSING doc_id, and an
    all-failing group yields NULL -> false, exactly as before).
    """
    from cloudcomputing_flink_application_spark.operators import textstats

    con = decontaminate(documents).select("doc_id", "contaminated")
    base = documents.filter(F.col("doc_id") % BENCH_MOD != 0).select("doc_id", "text")
    # Scan-local flags in ONE projection (r14 optimization round 2nd
    # session, guide §1.2/§2.4): quality, the repetition flag, and the
    # two text hashes are all PER-ROW computations, so joining the
    # repetition_stats frame back on doc_id shuffled the corpus once
    # (plus a third documents scan) to attach a value the scan could
    # compute in place.  The flag expression is the same _runstats_sx
    # fold repetition_stats uses (same thresholds, cross-multiplied
    # integer compare — bit-identical flag); the gram arrays are
    # materialized between two projections so the fold and the size
    # read them once (the repetition_stats staging pattern).  Only the
    # decontamination frame — genuinely non-local (corpus x benchmark
    # overlap) — still joins, narrow (doc_id, bool).
    # Projecting the window key and split bucket here also keeps the
    # text payload out of the md5-keyed window exchange (the earlier
    # r14 change, unchanged).
    staged = _spread(base).select(
        "doc_id",
        "text",
        X.xp(X.shingles_sx(X.tokens_sx("coalesce(text, '')"), 2)).alias("_g2"),
        X.xp(X.shingles_sx(X.tokens_sx("coalesce(text, '')"), 3)).alias("_g3"),
    )
    rep_flag = X.xp(
        f"((({_runstats_sx('_g2')}).top * {TOP2_DEN}"
        f" > cast(size(_g2) as bigint) * {TOP2_NUM})"
        f" OR (({_runstats_sx('_g3')}).dup * {DUP3_DEN}"
        f" > cast(size(_g3) as bigint) * {DUP3_NUM}))"
    )
    local = staged.select(
        "doc_id",
        (textstats.quality_col(F.col("text")) >= CLEAN_QUALITY_MIN).alias("q_ok"),
        (~rep_flag).alias("rep_ok"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("_key"),
        (X.h56(F.col("text")) % 100).cast("int").alias("_bucket"),
    )
    flags = local.join(con, "doc_id").select(
        "doc_id",
        "q_ok",
        "rep_ok",
        (~F.col("contaminated")).alias("con_ok"),
        "_key",
        "_bucket",
    )
    w = Window.partitionBy("_key")
    passes = F.col("q_ok") & F.col("rep_ok") & F.col("con_ok")
    canon = F.min(F.when(passes, F.col("doc_id"))).over(w)
    bucket = F.col("_bucket")
    uniq = F.coalesce(F.col("doc_id") == F.col("_c"), F.lit(False))
    kept = passes & uniq
    return (
        flags.withColumn("_c", canon)
        .select(
            "doc_id",
            "q_ok",
            "rep_ok",
            "con_ok",
            uniq.alias("uniq"),
            kept.alias("kept"),
            F.when(
                kept,
                F.when(bucket < 90, "train").when(bucket < 95, "valid").otherwise("test"),
            )
            .otherwise("")
            .alias("split"),
        )
    )


CLEAN_CORPUS_SQL = f"""
WITH q AS ({{QUALITY_SQL}}),
rep AS ({{REPETITION_SQL}}),
con AS ({{DECONTAMINATE_SQL}}),
base AS (SELECT doc_id, text FROM documents WHERE doc_id % {BENCH_MOD} <> 0),
flags AS (
  SELECT base.doc_id, base.text,
         (q.quality >= {CLEAN_QUALITY_MIN}) AS q_ok,
         NOT rep.flagged AS rep_ok,
         NOT con.contaminated AS con_ok
  FROM base JOIN q USING (doc_id) JOIN rep USING (doc_id) JOIN con USING (doc_id)
),
canon AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(coalesce(text, ''))) AS c
  FROM flags WHERE q_ok AND rep_ok AND con_ok
)
SELECT f.doc_id, f.q_ok, f.rep_ok, f.con_ok,
       coalesce(f.doc_id = c.c, FALSE) AS uniq,
       (f.q_ok AND f.rep_ok AND f.con_ok AND coalesce(f.doc_id = c.c, FALSE)) AS kept,
       CASE WHEN f.q_ok AND f.rep_ok AND f.con_ok AND coalesce(f.doc_id = c.c, FALSE)
            THEN CASE WHEN CAST({X.h56_sql('f.text')} % 100 AS INT) < 90 THEN 'train'
                      WHEN CAST({X.h56_sql('f.text')} % 100 AS INT) < 95 THEN 'valid'
                      ELSE 'test' END
            ELSE '' END AS split
FROM flags f LEFT JOIN canon c USING (doc_id)
"""

# Resolve the stage placeholders with the SAME verified per-stage oracle
# strings (the composed oracle provably reuses them; a drift in one stage's
# SQL shows up in both that stage's query and this one).
def _clean_corpus_sql() -> str:
    from cloudcomputing_flink_application_spark.operators.textstats import QUALITY_SQL

    return CLEAN_CORPUS_SQL.format(
        QUALITY_SQL=QUALITY_SQL,
        REPETITION_SQL=REPETITION_SQL,
        DECONTAMINATE_SQL=DECONTAMINATE_SQL,
    )


CLEAN_CORPUS_SQL = _clean_corpus_sql()


# --- per-source corpus report ------------------------------------------------


def source_report(documents: DataFrame) -> DataFrame:
    """Per-source corpus accounting: the report a crawl-ops dashboard reads
    to decide which sources are worth recrawling and which are duplicate
    farms.

    Output per source: (source, n_docs, n_unique, dup_rate, total_chars) —
    n_unique counts distinct text hashes (md5 of the coalesced text, the
    exact-dedup key), dup_rate is the one derived double.

    Scale: a single aggregation keyed by source with an exact distinct
    count — Spark plans countDistinct as a two-stage partial-distinct
    aggregation (per-partition dedup before the exchange), so shuffle
    volume is O(distinct (source, hash) pairs), not O(rows).  Source
    cardinality is small but the pre-exchange dedup keeps even a
    skewed giant source bounded per task.
    """
    h = F.md5(F.coalesce(F.col("text"), F.lit("")))
    return (
        documents.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct(h).cast("long").alias("n_unique"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            (
                (F.col("n_docs") - F.col("n_unique")).cast("double")
                / F.col("n_docs")
            ).alias("dup_rate"),
            "total_chars",
        )
    )


SOURCE_REPORT_SQL = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT md5(coalesce(text, ''))) AS BIGINT) AS n_unique,
       CAST(count(*) - count(DISTINCT md5(coalesce(text, ''))) AS DOUBLE)
         / count(*) AS dup_rate,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
"""


# --- exact-substring (duplicated-span) dedup ---------------------------------

#: Span window width in tokens for exact-substring duplication.  Published
#: web-scale pipelines use 50-token windows (Lee et al. 2021, "Deduplicating
#: Training Data Makes Language Models Better"); 8 keeps the synthetic
#: ~30-token documents producing enough windows for the duplication
#: structure to register.  The width is a parameter everywhere.
DUP_SPAN_W = 8


#: ``_spread``/``_scan_shaped`` moved to ``plans.spread`` in the r14
#: optimization round (the same ungated-repartition pattern existed in
#: dedup/textstats/multimodal prep pipelines, and operator->operator
#: imports would cycle through this module's ``dedup._persist`` import);
#: re-exported here so existing callers and tests keep their import path.


def _span_window_rows(documents: DataFrame, w: int) -> DataFrame:
    """One row per token-window start: ``(doc_id, p, h)`` where ``p`` is the
    1-based start position and ``h`` the md5 of the space-joined w-gram.

    Window strings are computed per-row with the shared shingle primitive
    (sequence+transform, no explode until here), so the projection fuses
    into the scan; the explode emits ~n_tokens rows per doc — the same
    fan-out every shingle-level operator in this family pays.  Same plan
    hygiene as ``repetition_stats``: spread a narrow scan across the
    session's parallelism (gated — see ``_spread``), explode_outer +
    isNotNull filter so the inferred ``size() > 0`` constraint cannot
    re-inline the tokenize pipeline into the scan.
    """
    return (
        _spread(documents)
        .select(
            "doc_id",
            F.posexplode_outer(
                X.shingles(X.tokens_sx("coalesce(text, '')"), w)
            ).alias("p0", "win"),
        )
        .filter(F.col("win").isNotNull())
        .select("doc_id", (F.col("p0") + 1).alias("p"), F.md5("win").alias("h"))
    )


def _dup_span_starts(documents: DataFrame, w: int) -> DataFrame:
    """Start positions ``(doc_id, p)`` of windows whose exact token w-gram
    occurs at >= 2 positions corpus-wide (other docs OR elsewhere in the
    same doc — self-repetition is duplication too, per the exact-substring
    dedup definition).

    Skew stance (r6 VERDICT fix): the occurrence count is a
    ``groupBy(h).count()`` — map-side partial aggregation collapses a hot
    window hash to ONE row per task before the exchange — semi-joined back
    onto the window rows, where AQE's skew-join splitting can divide a hot
    probe partition.  The previous form (``count(*) OVER (PARTITION BY
    h)``) had neither escape: window aggregates get no partial agg and AQE
    cannot split a window partition, so corpus-wide boilerplate (license
    headers — one hash carrying millions of rows, precisely the signal
    this operator exists to find) became its own straggler.  The window
    rows are ``persist()``-ed (same contract as the MinHash family —
    released by ``dedup.release_cached``) so the count
    side and the probe side share one explode instead of recomputing the
    md5 pipeline.
    """
    rows = _persist(_span_window_rows(documents, w))
    dup_h = (
        rows.groupBy("h")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("h")
    )
    return rows.join(dup_h, "h", "leftsemi").select("doc_id", "p")


def _coverage_window(w: int):
    """The ordered per-doc window and previous-coverage-end expression the
    coverage-union arithmetic hangs on: for duplicated starts sorted by
    ``p`` within a doc, ``prev_end`` is the rightmost token covered by any
    EARLIER start (NULL on the first row).  One definition shared by the
    stats aggregation and the scrub's island merge — the two must agree or
    the pinned kept+removed==n_tokens conservation breaks."""
    dw = Window.partitionBy("doc_id").orderBy("p")
    prev_end = F.max("p").over(
        dw.rowsBetween(Window.unboundedPreceding, -1)
    ) + (w - 1)
    return dw, prev_end


def dup_span_stats(
    documents: DataFrame, w: int = DUP_SPAN_W, starts: DataFrame | None = None
) -> DataFrame:
    """Exact-substring duplication stats, the Lee-et-al-style span pass.

    For every document: how many of its token windows (width ``w``,
    stride 1) occur at least twice in the corpus, and how many of its
    tokens are covered by the union of those duplicated windows.

    ``starts`` optionally supplies a shared ``_dup_span_starts`` frame
    (the ``base=``/``queries=`` pattern the ANN arms use): ``span_pass``
    computes the duplicated-start set once and feeds both components —
    same expression tree, so results are identical by construction.

    Output, one row per document (including empty/short docs):
    ``(doc_id, n_tokens, n_windows, dup_windows, dup_tokens)`` — all exact
    BIGINTs, no floats, so the result is bit-stable at any parallelism.

    Coverage is computed WITHOUT exploding windows into their w covered
    positions: duplicated starts are sorted per doc and each start
    contributes ``min(p - prev_max_p, w)`` new covered tokens — an exact
    union size from one ordered window pass, O(dup windows) rows instead
    of O(w x dup windows).  Scale: the hash-keyed count (one shuffle), a
    doc_id window whose sort feeds the same-keyed groupBy without a second
    exchange, and a doc_id equi-join back to the corpus spine.
    """
    dw, prev_end = _coverage_window(w)
    gain = (
        F.col("p") + (w - 1)
        - F.greatest(F.coalesce(prev_end, F.col("p") - 1), F.col("p") - 1)
    )
    per_doc = (
        (_dup_span_starts(documents, w) if starts is None else starts)
        .select("doc_id", gain.alias("_gain"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("dup_windows"),
            F.sum("_gain").cast("long").alias("dup_tokens"),
        )
    )
    n_tokens = F.size(X.tokens_of("coalesce(text, '')"))
    base = documents.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.greatest(F.lit(0), n_tokens - (w - 1)).cast("long").alias("n_windows"),
    )
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "n_windows",
        F.coalesce("dup_windows", F.lit(0)).cast("long").alias("dup_windows"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
    )


def _span_sql_prefix(w: int) -> str:
    """Shared oracle CTEs: token arrays, window rows, duplicated starts,
    covered positions.  The oracle takes the simple road (explode covered
    positions + DISTINCT) — same answer as the Spark ordered-union pass,
    stated independently."""
    return f"""
WITH toks AS (
  SELECT doc_id, {X.tokens_sql("coalesce(text, '')")} AS tok FROM documents
),
wins AS (
  SELECT doc_id,
         unnest(generate_series(1, len(tok) - {w - 1})) AS p,
         unnest(list_transform({X.shingles_sql("tok", w)}, s -> md5(s))) AS h
  FROM toks
  WHERE len(tok) >= {w}
),
cnt AS (SELECT h, count(*) AS c FROM wins GROUP BY h),
dup AS (SELECT wi.doc_id, wi.p FROM wins wi JOIN cnt USING (h) WHERE c >= 2),
cov AS (
  SELECT DISTINCT doc_id, t
  FROM (SELECT doc_id, unnest(generate_series(p, p + {w - 1})) AS t FROM dup)
)"""


def dup_span_stats_sql(w: int = DUP_SPAN_W) -> str:
    return f"""
{_span_sql_prefix(w)},
perdoc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_windows FROM dup GROUP BY doc_id
),
covn AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_tokens FROM cov GROUP BY doc_id
),
base AS (
  SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_tokens,
         CAST(greatest(0, len(tok) - {w - 1}) AS BIGINT) AS n_windows
  FROM toks
)
SELECT b.doc_id, b.n_tokens, b.n_windows,
       coalesce(p.dup_windows, 0) AS dup_windows,
       coalesce(c.dup_tokens, 0) AS dup_tokens
FROM base b
LEFT JOIN perdoc p USING (doc_id)
LEFT JOIN covn c USING (doc_id)
"""


DUP_SPAN_STATS_SQL = dup_span_stats_sql()


def scrub_dup_spans(
    documents: DataFrame, w: int = DUP_SPAN_W, starts: DataFrame | None = None
) -> DataFrame:
    """Remove duplicated spans from each document's token stream.
    ``starts`` as in :func:`dup_span_stats`.

    The surgical form of exact-substring dedup: instead of dropping whole
    near-duplicate documents, drop only the tokens covered by some
    corpus-duplicated window, keeping the novel remainder — what the
    published exact-substring pipelines actually ship to training.

    Output, one row per document: ``(doc_id, clean_text, kept_tokens,
    removed_tokens)``.  ``clean_text`` is the kept tokens space-joined in
    original order — i.e. whitespace-NORMALIZED, lowercased text (the
    tokenizer's canonical form), '' when nothing survives.

    Plan: duplicated starts -> merged disjoint islands per doc (classic
    gaps-and-islands on one doc_id window; adjacent intervals merge, which
    preserves the coverage union exactly) -> islands collected to a
    per-doc array (bounded by doc length / w, NOT corpus size) -> one
    equi-join back to the corpus -> per-row filter of the token array with
    an exists probe over the islands.  Per-row cost is
    O(n_tokens x islands); nothing leaves the row after the join, so the
    heavy text column never enters a shuffle keyed by anything but doc_id.
    """
    dw, prev_end = _coverage_window(w)
    starts = (
        _dup_span_starts(documents, w) if starts is None else starts
    ).withColumn(
        "_new", (F.col("p") > F.coalesce(prev_end, F.lit(0)) + 1).cast("int")
    )
    islands = (
        starts.withColumn(
            "_isl", F.sum("_new").over(dw.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy("doc_id", "_isl")
        .agg(F.min("p").alias("s"), (F.max("p") + (w - 1)).alias("e"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("spans"))
    )
    toks = documents.select(
        "doc_id", X.tokens_of("coalesce(text, '')").alias("tok")
    )
    spans = F.coalesce(F.col("spans"), F.array().cast("array<struct<s:int,e:int>>"))
    joined = toks.join(islands, "doc_id", "left").select("doc_id", "tok", spans.alias("sp"))
    kept = F.filter(
        F.col("tok"),
        lambda t, i: ~F.exists(
            F.col("sp"), lambda span: (span["s"] <= i + 1) & (i + 1 <= span["e"])
        ),
    )
    return joined.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size(kept).cast("long").alias("kept_tokens"),
        (F.size("tok") - F.size(kept)).cast("long").alias("removed_tokens"),
    )


def scrub_dup_spans_sql(w: int = DUP_SPAN_W) -> str:
    return f"""
{_span_sql_prefix(w)},
tokpos AS (
  SELECT doc_id, unnest(generate_series(1, len(tok))) AS t, unnest(tok) AS tk
  FROM toks WHERE len(tok) >= 1
),
kept AS (
  SELECT tp.doc_id, tp.t, tp.tk
  FROM tokpos tp ANTI JOIN cov ON tp.doc_id = cov.doc_id AND tp.t = cov.t
),
agg AS (
  SELECT doc_id, string_agg(tk, ' ' ORDER BY t) AS clean_text,
         CAST(count(*) AS BIGINT) AS kept_tokens
  FROM kept GROUP BY doc_id
),
base AS (SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_tokens FROM toks)
SELECT b.doc_id,
       coalesce(a.clean_text, '') AS clean_text,
       coalesce(a.kept_tokens, 0) AS kept_tokens,
       b.n_tokens - coalesce(a.kept_tokens, 0) AS removed_tokens
FROM base b LEFT JOIN agg a USING (doc_id)
"""


SCRUB_DUP_SPANS_SQL = scrub_dup_spans_sql()


def span_pass(documents: DataFrame, w: int = DUP_SPAN_W) -> DataFrame:
    """The COMPOSED exact-substring span pass: per-document duplication
    stats AND the scrubbed text in one result — the registry-facing form
    of ``dup_span_stats`` + ``scrub_dup_spans`` (r7 consolidation; both
    components stay public and individually parity-gated in
    tests/test_offregistry_parity.py / tests/test_dup_spans.py).

    Output, one row per document: ``(doc_id, n_tokens, n_windows,
    dup_windows, dup_tokens, clean_text, kept_tokens, removed_tokens)``.
    Invariants pinned by the component tests carry over: ``kept_tokens +
    removed_tokens == n_tokens`` and ``removed_tokens == dup_tokens``
    (the coverage union IS the removed set).

    Scale: the duplicated-start set is computed ONCE and persisted
    (r14 optimization round, guide §1.2/§2.4): previously only the
    window rows were cached, so each component re-ran the corpus-wide
    ``groupBy(h).count`` + semi-join pair per action.  ``starts`` is a
    narrow (doc_id, p) frame — duplicated windows only, a small
    fraction of the window rows — shared by both components through the
    optional-``starts`` seam; then one doc_id-keyed join stitches stats
    and scrub; every per-key exchange is doc_id (high-cardinality,
    uniform).  Measured at sf0.1: composed 2.44 s -> see
    OPTIMIZATION_r14.md.  Caller-releases contract unchanged
    (``dedup.release_cached``).
    """
    starts = _persist(_dup_span_starts(documents, w))
    return dup_span_stats(documents, w, starts=starts).join(
        scrub_dup_spans(documents, w, starts=starts), "doc_id"
    ).select(
        "doc_id", "n_tokens", "n_windows", "dup_windows", "dup_tokens",
        "clean_text", "kept_tokens", "removed_tokens",
    )


def span_pass_sql(w: int = DUP_SPAN_W) -> str:
    return f"""
{_span_sql_prefix(w)},
perdoc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_windows FROM dup GROUP BY doc_id
),
covn AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_tokens FROM cov GROUP BY doc_id
),
tokpos AS (
  SELECT doc_id, unnest(generate_series(1, len(tok))) AS t, unnest(tok) AS tk
  FROM toks WHERE len(tok) >= 1
),
kept AS (
  SELECT tp.doc_id, tp.t, tp.tk
  FROM tokpos tp ANTI JOIN cov ON tp.doc_id = cov.doc_id AND tp.t = cov.t
),
agg AS (
  SELECT doc_id, string_agg(tk, ' ' ORDER BY t) AS clean_text,
         CAST(count(*) AS BIGINT) AS kept_tokens
  FROM kept GROUP BY doc_id
),
base AS (
  SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_tokens,
         CAST(greatest(0, len(tok) - {w - 1}) AS BIGINT) AS n_windows
  FROM toks
)
SELECT b.doc_id, b.n_tokens, b.n_windows,
       coalesce(p.dup_windows, 0) AS dup_windows,
       coalesce(c.dup_tokens, 0) AS dup_tokens,
       coalesce(a.clean_text, '') AS clean_text,
       coalesce(a.kept_tokens, 0) AS kept_tokens,
       b.n_tokens - coalesce(a.kept_tokens, 0) AS removed_tokens
FROM base b
LEFT JOIN perdoc p USING (doc_id)
LEFT JOIN covn c USING (doc_id)
LEFT JOIN agg a USING (doc_id)
"""


SPAN_PASS_SQL = span_pass_sql()


# --- sliding-window document chunking ---------------------------------------

#: Max tokens per chunk and overlap between consecutive chunks.  The
#: counterpart to ``pack_chunks`` (which CONCATENATES short docs): long
#: docs split into bounded windows with context overlap, the shape every
#: context-limited training/embedding pipeline feeds on.
CHUNK_N = 32
CHUNK_OVERLAP = 8


def chunk_docs(
    documents: DataFrame, n: int = CHUNK_N, overlap: int = CHUNK_OVERLAP
) -> DataFrame:
    """Split each document's token stream into sliding chunks of at most
    ``n`` tokens with ``overlap`` tokens of context carried between
    consecutive chunks (stride = n - overlap).

    A trailing window fully covered by its predecessor is NOT emitted
    (start kept iff it is the first, or its predecessor did not already
    reach the end) — every token lands in >= 1 chunk, no chunk is
    redundant, and chunk boundaries are pure arithmetic on (position,
    stride), bit-identical on both engines.

    Output, one row per chunk: (doc_id, chunk_id, chunk_text, n_chunk_tokens)
    — docs with no tokens produce no rows (they have nothing to chunk;
    the corpus spine is the documents table itself).

    Scale: pure per-row array math (sequence -> filter -> slice); the
    explode multiplies rows by ~n_tokens/stride.  The only exchange is
    the plan-hygiene spread off a narrow scan (gated on the scan's
    partition count — see ``_spread``) — no key-based shuffle at any size.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1 (got {n})")
    if not 0 <= overlap < n:
        raise ValueError(f"overlap must be in [0, n) (got {overlap}, n={n})")
    stride = n - overlap
    tok = X.tokens_of("coalesce(text, '')")
    ntok = F.size(tok)
    starts = F.filter(
        F.when(ntok > 0, F.sequence(F.lit(1), ntok, F.lit(stride))).otherwise(
            F.array().cast("array<int>")
        ),
        lambda s: (s == 1) | (s - stride + (n - 1) < ntok),
    )
    return (
        _spread(documents)
        .select("doc_id", tok.alias("_tk"), F.posexplode_outer(starts).alias("_i", "_s"))
        .filter(F.col("_s").isNotNull())
        .select(
            "doc_id",
            F.col("_i").cast("int").alias("chunk_id"),
            F.concat_ws(" ", F.slice("_tk", F.col("_s"), n)).alias("chunk_text"),
            F.least(F.lit(n), F.size("_tk") - F.col("_s") + 1)
            .cast("long")
            .alias("n_chunk_tokens"),
        )
    )


def chunk_docs_sql(n: int = CHUNK_N, overlap: int = CHUNK_OVERLAP) -> str:
    stride = n - overlap
    return f"""
WITH toks AS (
  SELECT doc_id, {X.tokens_sql("coalesce(text, '')")} AS tk FROM documents
),
starts AS (
  SELECT doc_id, tk,
         list_filter(
           CASE WHEN len(tk) > 0
                THEN generate_series(1, len(tk), {stride})
                ELSE []::BIGINT[] END,
           s -> s = 1 OR s - {stride} + {n - 1} < len(tk)
         ) AS ss
  FROM toks
),
ex AS (
  SELECT doc_id, tk,
         unnest(ss) AS s,
         unnest(generate_series(0, len(ss) - 1)) AS chunk_id
  FROM starts
  WHERE len(ss) > 0
)
SELECT doc_id,
       CAST(chunk_id AS INT) AS chunk_id,
       array_to_string(tk[s:s + {n - 1}], ' ') AS chunk_text,
       CAST(least({n}, len(tk) - s + 1) AS BIGINT) AS n_chunk_tokens
FROM ex
"""


CHUNK_DOCS_SQL = chunk_docs_sql()


# --- temperature-balanced source mixing --------------------------------------

#: Salt for the mixture predicate (distinct from SAMPLE_SALT so composing
#: both samplers never correlates their keep decisions).
MIXTURE_SALT = "mix|"
#: Basis of the integer acceptance compare (micro-rate resolution).
MIXTURE_BASIS = 1_000_000


def mixture_sample(documents: DataFrame) -> DataFrame:
    """Temperature-balanced source mixing at alpha = 1/2: downsample each
    source by ``sqrt(min_source_count / source_count)`` so source shares
    move from proportional toward uniform — the sqrt-temperature rebalance
    every multi-source training mix applies, with the smallest source kept
    whole.

    Determinism & parity: counts are exact longs; the rate is
    ``sqrt`` of the exact-integer ratio (IEEE-correctly-rounded on both
    engines); acceptance is an integer compare of a stable 56-bit doc
    hash against ``round(rate x 1e6)`` — no RNG, no dependence on
    physical layout, same bits at any parallelism.

    Output: (doc_id, source, keep_rate) for kept rows.  NULL source is a
    real group (missing provenance is a source in its own right): the
    rate join uses NULL-SAFE equality (``<=>`` here, ``IS NOT DISTINCT
    FROM`` in the oracle) so NULL-source docs are counted, rated, and
    kept like any other group.  No sentinel string is involved — a
    coalesced sentinel (the r6 form) would silently MERGE a corpus whose
    source column really contains that literal with the NULL group,
    inflating both counts and giving both groups a wrong keep_rate
    (ADVICE r6).  Null-safe equality is a legal hash-join key, so the
    broadcast plan is unchanged.

    Scale: one tiny aggregate (|sources| rows) joined back as a
    broadcast; the acceptance predicate is scan-fused per row.  The
    global min is a scalar-subquery broadcast, same pattern as the Q22
    shape.
    """
    counts = documents.groupBy(F.col("source").alias("_k")).agg(
        F.count("*").cast("long").alias("_c")
    )
    cmin = counts.agg(F.min("_c").alias("_cmin"))
    rates = (
        counts.join(F.broadcast(cmin))
        .select(
            "_k",
            F.sqrt(F.col("_cmin") / F.col("_c")).alias("keep_rate"),
        )
    )
    u = (
        X.h56(F.concat(F.lit(MIXTURE_SALT), F.col("doc_id").cast("string")))
        % MIXTURE_BASIS
    )
    thresh = F.round(F.col("keep_rate") * MIXTURE_BASIS).cast("long")
    docs = documents.select("doc_id", "source", u.alias("_u"))
    return (
        docs.join(F.broadcast(rates), docs["source"].eqNullSafe(rates["_k"]))
        .filter(F.col("_u") < thresh)
        .select("doc_id", "source", "keep_rate")
    )


MIXTURE_SAMPLE_SQL = f"""
WITH counts AS (
  SELECT source AS k, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY source
),
cmin AS (SELECT min(c) AS cm FROM counts),
rates AS (
  SELECT k, sqrt(cm / c) AS keep_rate FROM counts, cmin
)
SELECT doc_id, source, keep_rate
FROM documents
JOIN rates ON source IS NOT DISTINCT FROM k
WHERE ({X.h56_sql(f"'{MIXTURE_SALT}' || CAST(doc_id AS VARCHAR)")}) % {MIXTURE_BASIS}
      < CAST(round(keep_rate * {MIXTURE_BASIS}) AS BIGINT)
"""


# --- composed training-prep pipeline -----------------------------------------


def prep_corpus(documents: DataFrame) -> DataFrame:
    """Composed training-prep pipeline: temperature-balanced source mixing
    -> sliding-window chunking of the kept docs -> per-doc OOV quality
    columns — the registry-facing composition of ``mixture_sample``,
    ``chunk_docs``, and ``textstats.oov_stats`` (r7 consolidation; each
    component stays public and individually parity-gated in
    tests/test_offregistry_parity.py).

    Output, one row per CHUNK of every mixture-kept document:
    ``(doc_id, chunk_id, chunk_text, n_chunk_tokens, keep_rate, n_oov,
    oov_ratio)`` — the rows a context-limited trainer would actually
    consume, each carrying its provenance (the source's mixture rate) and
    its parent doc's rare-token quality signal.

    Scale: the mixture rates and the OOV vocabulary are both tiny
    broadcast frames (|sources| rows / one vocab-array row); chunking,
    acceptance, and the OOV probe are all per-row — ZERO row-sized
    exchanges at any corpus size.
    """
    from cloudcomputing_flink_application_spark.operators.textstats import (
        OOV_VOCAB_K,
        token_freq,
    )

    # r14 optimization round (guide §2.4, remove shuffles outright): the
    # composed form joined chunk rows back to mixture_sample and oov_stats
    # on doc_id — two corpus-wide shuffles stitching values that are
    # PER-ROW given the two broadcast frames (the acceptance predicate is
    # a hash compare against the |sources|-row rate table; the OOV probe
    # is array math against the one-row vocabulary).  The fusion computes
    # both inline in the chunk scan: one corpus pass, two broadcast
    # joins, no doc_id exchange.  Every expression is lifted verbatim
    # from mixture_sample / oov_stats / chunk_docs (which stay public and
    # individually parity-gated in tests/test_offregistry_parity.py), so
    # values are bit-identical; the composed DuckDB oracle
    # (PREP_CORPUS_SQL, the join form) is deliberately unchanged —
    # chunk/oov rows depend only on their own doc, so filtering through
    # the acceptance predicate first is the same row set the inner joins
    # produced.
    vocab = token_freq(documents, k=OOV_VOCAB_K).agg(
        F.sort_array(F.collect_list("token")).alias("_vocab")
    )
    counts = documents.groupBy(F.col("source").alias("_k")).agg(
        F.count("*").cast("long").alias("_c")
    )
    cmin = counts.agg(F.min("_c").alias("_cmin"))
    rates = counts.join(F.broadcast(cmin)).select(
        "_k",
        F.sqrt(F.col("_cmin") / F.col("_c")).alias("keep_rate"),
    )
    u = (
        X.h56(F.concat(F.lit(MIXTURE_SALT), F.col("doc_id").cast("string")))
        % MIXTURE_BASIS
    )
    thresh = F.round(F.col("keep_rate") * MIXTURE_BASIS).cast("long")
    base = _spread(documents).select("doc_id", "source", "text", u.alias("_u"))
    staged = (
        base.join(F.broadcast(rates), base["source"].eqNullSafe(rates["_k"]))
        .filter(F.col("_u") < thresh)
        .join(F.broadcast(vocab))
        .select(
            "doc_id",
            "keep_rate",
            X.tokens_of("coalesce(text, '')").alias("_tk"),
            "_vocab",
        )
    )
    ntok = F.size("_tk")
    n_oov = F.size(
        F.filter(F.col("_tk"), lambda t: ~F.array_contains(F.col("_vocab"), t))
    )
    stride = CHUNK_N - CHUNK_OVERLAP
    starts = F.filter(
        F.when(ntok > 0, F.sequence(F.lit(1), ntok, F.lit(stride))).otherwise(
            F.array().cast("array<int>")
        ),
        lambda s: (s == 1) | (s - stride + (CHUNK_N - 1) < ntok),
    )
    ex = staged.select(
        "doc_id",
        "keep_rate",
        n_oov.cast("long").alias("n_oov"),
        F.when(ntok > 0, n_oov.cast("double") / ntok)
        .otherwise(F.lit(0.0))
        .alias("oov_ratio"),
        "_tk",
        F.posexplode_outer(starts).alias("_i", "_s"),
    ).filter(F.col("_s").isNotNull())
    return ex.select(
        "doc_id",
        F.col("_i").cast("int").alias("chunk_id"),
        F.concat_ws(" ", F.slice("_tk", F.col("_s"), CHUNK_N)).alias("chunk_text"),
        F.least(F.lit(CHUNK_N), F.size("_tk") - F.col("_s") + 1)
        .cast("long")
        .alias("n_chunk_tokens"),
        "keep_rate",
        "n_oov",
        "oov_ratio",
    )


def semantic_pruned_ids(
    docs: DataFrame, embeddings: DataFrame, tau: float | None = None
) -> DataFrame:
    """The ``doc_id``s SemDeDup prunes from ``docs`` — the shared core of
    :func:`semantic_prune_docs` and the ``train-data --streaming
    --semantic-dedup`` store (r13, VERDICT r12 #6: the streaming twin
    persists exactly these rows per invocation, recomputed over the
    accumulated purge survivors).  Restrict the embedding corpus to these
    docs' rows (vec_id == doc_id, the driver tables' alignment), run the
    cluster-then-prune pass over THAT set, and emit the pruned ids.

    Restricting BEFORE the semantic pass is load-bearing: the k-means
    blocking, corpus sizing, and keep rule must see the surviving corpus
    only, so a purged near-dup can never be a semantic group's kept
    exemplar — the same purge-first order ``--dedup-first`` pins on the
    index side (SCALING.md semdedup-blob)."""
    from cloudcomputing_flink_application_spark.operators.dedup import (
        SEMANTIC_COS,
        semantic_dedup,
    )

    if tau is None:
        tau = SEMANTIC_COS
    # TRUNCATE the restricted corpus's lineage (r15, guide §3.3;
    # previously a plain persist — r12 bench): semantic_dedup reads its
    # input many times (sizing aggregate, seed codebook, assignment, the
    # pair join's two sides, CC prep), and when ``docs`` carries the
    # composed clean+purge lineage every one of its DOWNSTREAM frames
    # still NESTED that whole plan inside its own — a persist caches
    # data but Catalyst re-analyzes the full cached-plan tree at every
    # toRdd, and the semantic stage multi-references each level
    # (self-join candidate pair, two verify sides, identity edges), so
    # PLANNING alone grew to ~22 s of the 57 s composed job at sf0.001
    # (cProfile; the r12 persist had already cut the EXECUTION replay,
    # 79 s -> ~30 s at sf0.1).  dedup.truncate_lineage replaces the
    # nested tree with one LogicalRDD scan — measured 50.5/48.4 s ->
    # 8.1/7.4 s on the interleaved composed job — and registers the
    # snapshot blocks in the same release registry the persist used
    # (reliable checkpoint() on cluster sessions with a checkpoint dir;
    # the r13/r12 release discipline unchanged).
    emb = truncate_lineage(
        embeddings.join(
            docs.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
        )
    )
    return (
        semantic_dedup(emb, tau)
        .filter(F.col("is_pruned"))
        .select(F.col("vec_id").alias("doc_id"))
    )


def semantic_prune_docs(
    docs: DataFrame, embeddings: DataFrame, tau: float | None = None
) -> DataFrame:
    """Drop the docs SemDeDup would prune — the document-side adapter of
    ``dedup.semantic_dedup`` (r12, VERDICT r11 #3): anti-join
    :func:`semantic_pruned_ids` out.  Docs without an embedding row
    pass through untouched (no vector = no cosine = nothing to prune —
    an inner join here would silently drop them, the classic
    empty-aggregate-side trap), as do zero-norm vectors (the operator's
    own convention)."""
    return docs.join(
        semantic_pruned_ids(docs, embeddings, tau), "doc_id", "left_anti"
    )


def training_prep(
    documents: DataFrame,
    pack_mode: str = "chunks",
    embeddings: DataFrame | None = None,
    semantic_tau: float | None = None,
    scrub_pii: bool = False,
    token_col: str | None = None,
) -> DataFrame:
    """The END-TO-END training-data job (r11, VERDICT r10 #5): clean ->
    near-dup purge -> sequence packing, one composed dataflow whose
    output rows are what ``sinks.write_training_shards`` writes and a
    trainer reads.

    Stages, each the already-pinned operator:

    1. :func:`clean_corpus` — quality / repetition / benchmark
       decontamination / exact survivor dedup / content-addressed split
       (one declarative plan, scan shared);
    2. ``dedup.minhash_purge_dedup`` over the KEPT docs — the full
       transitive-closure near-dup purge (one survivor per cluster);
       purging after the kept filter matches the batch semantics a
       re-run reproduces: a quality-failing doc can never be a cluster
       keeper that absorbs kept near-dups;
    2b. (optional, r12) :func:`semantic_prune_docs` over the purge
       survivors when ``embeddings`` is given — SemDeDup semantic
       pruning at ``semantic_tau`` (default ``dedup.SEMANTIC_COS``),
       purge-first by construction: the semantic pass sees only docs
       that survived the near-dup purge, the order SCALING.md
       semdedup-blob measured as the one that keeps the pair stage off
       degenerate exact-copy cohorts;
    3. :func:`pack_chunks` over the survivors — bounded-window sequence
       packing; ``pack_id`` (source:pack_key:chunk_id) is the shard
       key, so a packed training sequence always lands WHOLE in one
       shard.  ``pack_mode="bins"`` swaps this stage for FFD
       whole-document packing (see :func:`packed_training_rows`).

    Output, one row per surviving doc (chunks mode) or per surviving
    piece (bins mode splits over-budget docs): (doc_id, piece, source,
    pack_key, chunk_id, n_tok, begin_tok, split, pack_id, text).
    Conservation (pinned in tests): every kept-surviving token appears
    in exactly one row, rows of one pack chunk share one shard.

    Scale: the union of the stages' own stories — no new shuffle shape
    is introduced; the stitches are doc_id equi-joins (high-cardinality,
    skew-free).  The CLI twin is ``train-data`` (batch; ``--streaming``
    maintains the clean + purge stores incrementally and
    ``--materialize`` writes the same shards from them).

    ``scrub_pii`` / ``token_col`` (r14) pass through to
    :func:`packed_training_rows` — PII-scrubbed shard text and
    exact-tokenizer packing budgets respectively (see there)."""
    from cloudcomputing_flink_application_spark.operators.dedup import (
        minhash_purge_dedup,
    )

    flags = clean_corpus(documents)
    # three consumers read the kept docs (the purge's token-set prep and
    # both branches of the packing tail) — unpersisted, the whole clean
    # plan re-ran per consumer (r11 simplify pass).  Caching contract as
    # everywhere: released by dedup.release_cached().
    kept_docs = _persist(
        documents.join(
            flags.filter(F.col("kept")).select("doc_id", "split"), "doc_id"
        )
    )
    surv = minhash_purge_dedup(kept_docs).select("doc_id")
    surv_docs = kept_docs.join(surv, "doc_id")
    if embeddings is not None:
        # three consumers of the purge survivors on this path (the
        # embedding restriction, the prune anti-join, the packing tail)
        surv_docs = _persist(surv_docs)
        surv_docs = semantic_prune_docs(surv_docs, embeddings, semantic_tau)
    return packed_training_rows(surv_docs, pack_mode, scrub_pii, token_col)


def packed_training_rows(
    surv_docs: DataFrame,
    pack_mode: str = "chunks",
    scrub_pii: bool = False,
    token_col: str | None = None,
) -> DataFrame:
    """The packing tail of :func:`training_prep` — pack the surviving
    docs (documents schema + ``split``) and attach text + the shard key.
    ONE definition shared by the batch operator and the streaming
    materializer (``cli train-data --materialize``), so the pinned
    batch==materialized contract cannot drift.

    ``pack_mode``: ``"chunks"`` (default) is the concat-and-chunk packer
    — the oracle'd TRAINING_PREP_SQL dataflow; ``"bins"`` swaps in
    chunk-then-bin FFD packing (r12, VERDICT r11 #5:
    :func:`pack_bins_chunked` — over-budget docs pre-split into
    budget-sized pieces, then first-fit-decreasing over the pieces) with
    the SAME output schema: ``chunk_id`` becomes the bin ordinal and
    ``begin_tok`` the offset the FFD core records at placement time, so
    ``begin_tok + n_tok <= PACK_BUDGET`` on EVERY row — the capacity
    invariant now holds unconditionally (no oversize escape hatch; a
    giant doc's pieces each land whole in some bin, and its row set
    carries piece ordinals).  Both modes emit ``piece`` (constant 0 in
    chunks mode — concat packing handles giants by straddling).
    ``pack_id`` keeps meaning "the training sequence this row lands
    whole in", so the shard writer and the conservation contract are
    mode-agnostic; bins mode has no cross-engine SQL (FFD is sequential
    per group) and is gated by the property pins instead.

    ``scrub_pii`` (r14, VERDICT r13 #4): apply the multi-class PII
    scrub (``X.pii_scrubbed`` — email/ipv4/phone/num, priority order)
    to the surviving docs' TEXT before packing, so the shards a trainer
    reads are the scrubbed bytes.  Scrubbing sits AFTER dedup/purge by
    design: scrubbing first would merge docs that differ only in their
    PII.  NULL text stays NULL (regexp chains pass NULL through).

    ``token_col`` (r14, VERDICT r13 #5): budget by a precomputed exact
    tokenizer-count column instead of the regex counter (per-row
    fallback; see :func:`_n_tok_col`).  With ``scrub_pii`` also set the
    counts still refer to the INPUT text (the precomputed column cannot
    know the scrub) — the documented approximation."""
    if scrub_pii:
        surv_docs = surv_docs.withColumn(
            "text", X.pii_scrubbed(F.col("text"))
        )
    if pack_mode == "chunks":
        packed = pack_chunks(surv_docs, token_col).withColumn(
            "piece", F.lit(0).cast("int")
        )
        rows = packed.join(
            surv_docs.select("doc_id", "split", "text"), "doc_id"
        )
    elif pack_mode == "bins":
        # ONE pieces frame for both consumers (the packer's narrow item
        # rows and the piece-text join) — unpersisted, the split would
        # re-run per consumer; released by dedup.release_cached()
        pieces = _persist(
            chunk_oversize_docs(surv_docs, PACK_BUDGET, token_col)
        )
        packed = _ffd_pack_pieces(
            pieces.select("doc_id", "piece", "source", "n_tok"), PACK_BUDGET
        ).select(
            "doc_id",
            "piece",
            "source",
            "pack_key",
            "n_tok",
            "begin_tok",
            F.col("bin_seq").alias("chunk_id"),
        )
        rows = packed.join(
            pieces.select("doc_id", "piece", "text"), ["doc_id", "piece"]
        ).join(surv_docs.select("doc_id", "split"), "doc_id")
    else:
        raise ValueError(
            f"pack_mode must be 'chunks' or 'bins', got {pack_mode!r}"
        )
    return rows.select(
        "doc_id",
        "piece",
        "source",
        "pack_key",
        "chunk_id",
        "n_tok",
        "begin_tok",
        "split",
        F.concat_ws(":", "source", "pack_key", "chunk_id").alias("pack_id"),
        "text",
    )


def _training_prep_sql(semantic_tau: float | None = None) -> str:
    """COMPOSED from the stages' verified oracle constants (the
    prep_corpus pattern): clean's flags gate the documents, the purge
    SQL runs over the kept docs (its ``documents`` references rebound to
    the kept CTE — a word-boundary rewrite, exercised by the parity
    gate), optionally the SemDeDup closure over the purge survivors'
    embeddings (``semantic_tau`` not None, r12 — the recursive-walk
    oracle rebound from ``embeddings`` to the survivors' rows, NOT
    EXISTS over its pruned ids — anti-join null semantics, so a NULL
    vec_id could never nuke every survivor the way NOT IN would (ADVICE
    r12) and embedding-less docs pass through like the operator's
    anti-join), pack over the survivors."""
    import re

    from cloudcomputing_flink_application_spark.operators.dedup import (
        MINHASH_PURGE_SQL,
        _semantic_dedup_sql,
    )

    purge_over_kept = re.sub(r"\bdocuments\b", "kept_docs", MINHASH_PURGE_SQL)
    pack_over_surv = re.sub(r"\bdocuments\b", "surv_docs", PACK_CHUNKS_SQL)
    if semantic_tau is None:
        surv_docs_ctes = (
            "surv_docs AS "
            "(SELECT kept_docs.* FROM kept_docs JOIN surv USING (doc_id))"
        )
    else:
        sem_over_surv = re.sub(
            r"\bembeddings\b", "emb_surv", _semantic_dedup_sql(semantic_tau)
        )
        # AS MATERIALIZED (DuckDB planner hint): the semantic closure's
        # recursive walk references its input tree many times, and
        # DuckDB inlines plain CTEs PER REFERENCE — without the hint the
        # whole clean+purge subtree (dozens of parquet re-opens) is
        # duplicated into every reference and the composed query dies on
        # the process fd limit before it runs
        surv_docs_ctes = f"""surv_docs0 AS MATERIALIZED (
  SELECT kept_docs.* FROM kept_docs JOIN surv USING (doc_id)
),
emb_surv AS MATERIALIZED (
  SELECT e.* FROM embeddings e JOIN surv_docs0 s ON e.vec_id = s.doc_id
),
sem_pruned AS (
  SELECT vec_id FROM ({sem_over_surv}) sd WHERE sd.is_pruned
),
surv_docs AS (
  SELECT * FROM surv_docs0 s0
  WHERE NOT EXISTS (
    SELECT 1 FROM sem_pruned sp WHERE sp.vec_id = s0.doc_id
  )
)"""
    return f"""
WITH clean AS ({CLEAN_CORPUS_SQL}),
kept_docs AS (
  SELECT d.*, c.split FROM documents d JOIN clean c USING (doc_id)
  WHERE c.kept
),
surv AS (SELECT doc_id FROM ({purge_over_kept}) pg),
{surv_docs_ctes}
SELECT p.doc_id, CAST(0 AS INT) AS piece,
       p.source, p.pack_key, p.chunk_id, p.n_tok, p.begin_tok,
       s.split,
       p.source || ':' || CAST(p.pack_key AS VARCHAR) || ':'
         || CAST(p.chunk_id AS VARCHAR) AS pack_id,
       s.text
FROM ({pack_over_surv}) p JOIN surv_docs s USING (doc_id)
"""


TRAINING_PREP_SQL = _training_prep_sql()


def training_prep_semantic_sql(tau: float | None = None) -> str:
    """The composed oracle for ``training_prep(..., embeddings=...,
    semantic_tau=tau)`` — public builder so the parity gate and any
    custom-tau caller compose the SAME text the default constant uses."""
    from cloudcomputing_flink_application_spark.operators.dedup import (
        SEMANTIC_COS,
    )

    return _training_prep_sql(SEMANTIC_COS if tau is None else tau)


TRAINING_PREP_SEMANTIC_SQL = training_prep_semantic_sql()


def _prep_corpus_sql() -> str:
    """COMPOSED from the component oracle constants (r7 review catch: an
    inline re-statement had already forced the mixture null-safety fix to
    be applied twice) — chunking every doc then semi-joining the kept set
    equals chunking the kept docs, because chunk rows depend only on
    their own doc."""
    from cloudcomputing_flink_application_spark.operators.textstats import (
        OOV_STATS_SQL,
    )

    return f"""
WITH kept AS (SELECT doc_id, keep_rate FROM ({MIXTURE_SAMPLE_SQL}) m),
oovd AS (SELECT doc_id, n_oov, oov_ratio FROM ({OOV_STATS_SQL}) o),
ch AS (SELECT * FROM ({CHUNK_DOCS_SQL}) c)
SELECT ch.doc_id, chunk_id, chunk_text, n_chunk_tokens,
       keep_rate, n_oov, oov_ratio
FROM ch
JOIN kept USING (doc_id)
JOIN oovd USING (doc_id)
"""


PREP_CORPUS_SQL = _prep_corpus_sql()
