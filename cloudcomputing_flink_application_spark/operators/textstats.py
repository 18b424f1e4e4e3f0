"""Text-analysis operators over ``documents``: language ID, quality scoring,
token counting, fingerprinting.

All four are pure per-row projections (no shuffle at any scale — they fuse
into the parquet scan) built from JVM-side expressions, with full DuckDB
oracles.  Ratios are exact integer quotients evaluated per-row, so there is
no aggregation-order nondeterminism anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cloudcomputing_flink_application_spark.functions import text as X
from cloudcomputing_flink_application_spark.plans.spread import _spread

#: Marker stopword lists per language (n-gram-heuristic language ID).  The
#: CASE precedence below resolves ties deterministically in this key order.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "ist", "ein", "zu"),
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "y", "que", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "un", "en", "est", "que"),
    "zh": ("de", "shi", "zai", "le", "he", "you", "wo", "ta"),
}
LANG_ORDER = tuple(sorted(LANG_MARKERS))

#: English-ish stopwords for the quality score's stopword ratio.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

BPE_ISH = "[a-z]+|[0-9]|[^a-z0-9\\s]"
FINGERPRINT_K = 4


def _marker_count(tok_col: str, markers: tuple[str, ...]) -> F.Column:
    in_list = ", ".join(f"'{m}'" for m in markers)
    return F.expr(f"size(filter({tok_col}, t -> t IN ({in_list})))")


def _marker_count_sql(tok_expr: str, markers: tuple[str, ...]) -> str:
    in_list = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter({tok_expr}, t -> t IN ({in_list})))"


def _lang_pred_score() -> tuple[F.Column, F.Column]:
    """(pred_lang, score) expressions over a frame carrying the s_<lang>
    marker-count columns.  Ties resolve to the first language in LANG_ORDER
    whose score is >= all others (fixed CASE precedence — identical in the
    oracle).  Shared by ``lang_id`` and the merged ``doc_stats``."""
    pred = None
    for lang in LANG_ORDER:
        cond = None
        for other in LANG_ORDER:
            if other == lang:
                continue
            c = F.col(f"s_{lang}") >= F.col(f"s_{other}")
            cond = c if cond is None else (cond & c)
        branch = (F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang)))
        pred = branch
    score = None
    for lang in LANG_ORDER:
        score = F.col(f"s_{lang}") if score is None else F.greatest(score, F.col(f"s_{lang}"))
    return pred, score


def lang_id(documents: DataFrame) -> DataFrame:
    """Heuristic language ID: argmax of per-language marker-token counts.

    Output: (doc_id, pred_lang, score).
    """
    toks = documents.select("doc_id", X.tokens("text").alias("tok"))
    scored = toks.select(
        "doc_id",
        *[
            _marker_count("tok", LANG_MARKERS[lang]).alias(f"s_{lang}")
            for lang in LANG_ORDER
        ],
    )
    pred, score = _lang_pred_score()
    return scored.select(
        "doc_id", pred.alias("pred_lang"), score.cast("int").alias("score")
    )


def _lang_id_sql() -> str:
    score_cols = ",\n         ".join(
        f"{_marker_count_sql('tok', LANG_MARKERS[lang])} AS s_{lang}"
        for lang in LANG_ORDER
    )
    whens = []
    for lang in LANG_ORDER:
        conds = " AND ".join(
            f"s_{lang} >= s_{other}" for other in LANG_ORDER if other != lang
        )
        whens.append(f"WHEN {conds} THEN '{lang}'")
    greatest = f"greatest({', '.join('s_' + l for l in LANG_ORDER)})"
    return f"""
WITH toks AS (
  SELECT doc_id, {X.tokens_sql('text')} AS tok FROM documents
),
scored AS (
  SELECT doc_id,
         {score_cols}
  FROM toks
)
SELECT doc_id,
       CASE {' '.join(whens)} END AS pred_lang,
       CAST({greatest} AS INT) AS score
FROM scored
"""


LANG_ID_SQL = _lang_id_sql()


def quality_col(txt: F.Column) -> F.Column:
    """The composite quality score as ONE per-row expression over a text
    column — identical arithmetic to ``quality_score``'s staged projection
    (same sub-expressions, same order), exposed so composed pipelines
    (``pipeline.clean_corpus``) can fuse the quality stage into their base
    scan instead of paying a shuffle join against the per-doc frame."""
    lo = F.lower(txt)
    tok = X.tokens_of(txt)
    n_chars = F.length(txt)
    n_tokens = F.size(tok)
    punct_ratio = (
        F.regexp_count(lo, F.lit("[^a-z0-9\\s]")).cast("double")
        / F.greatest(n_chars, F.lit(1))
    )
    digit_ratio = (
        F.regexp_count(lo, F.lit("[0-9]")).cast("double")
        / F.greatest(n_chars, F.lit(1))
    )
    # the stopword filter needs the tok expression inline (no column name to
    # reference), so use the higher-order-function API directly:
    stopword_ratio = (
        F.size(F.filter(tok, lambda t: t.isin(*STOPWORDS))).cast("double")
        / F.greatest(n_tokens, F.lit(1))
    )
    return (
        F.lit(0.3) * F.least(n_tokens.cast("double") / 100.0, F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - F.least(punct_ratio * 4, F.lit(1.0)))
        + F.lit(0.2) * (F.lit(1.0) - F.least(digit_ratio * 10, F.lit(1.0)))
        + F.lit(0.2) * F.least(stopword_ratio * 5, F.lit(1.0))
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Per-document quality signals + a composite score.

    Output: (doc_id, n_chars, n_tokens, avg_token_len, punct_ratio,
    digit_ratio, stopword_ratio, quality).  All ratios are per-row integer
    quotients in doubles; the composite is a fixed linear blend, so values
    are deterministic at any parallelism.
    """
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    toks = documents.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.lower(F.col("text")).alias("lo"),
        X.tokens("text").alias("tok"),
    )
    feats = toks.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size("tok").cast("long").alias("n_tokens"),
        (
            F.aggregate(F.col("tok"), F.lit(0).cast("long"), lambda a, t: a + F.length(t)).cast("double")
            / F.greatest(F.size("tok"), F.lit(1))
        ).alias("avg_token_len"),
        (
            F.regexp_count("lo", F.lit("[^a-z0-9\\s]")).cast("double")
            / F.greatest(F.col("n_chars"), F.lit(1))
        ).alias("punct_ratio"),
        (
            F.regexp_count("lo", F.lit("[0-9]")).cast("double")
            / F.greatest(F.col("n_chars"), F.lit(1))
        ).alias("digit_ratio"),
        (
            F.expr(f"size(filter(tok, t -> t IN ({stop_list})))").cast("double")
            / F.greatest(F.size("tok"), F.lit(1))
        ).alias("stopword_ratio"),
    )
    quality = (
        F.lit(0.3) * F.least(F.col("n_tokens").cast("double") / 100.0, F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - F.least(F.col("punct_ratio") * 4, F.lit(1.0)))
        + F.lit(0.2) * (F.lit(1.0) - F.least(F.col("digit_ratio") * 10, F.lit(1.0)))
        + F.lit(0.2) * F.least(F.col("stopword_ratio") * 5, F.lit(1.0))
    )
    return feats.withColumn("quality", quality)


def _quality_sql() -> str:
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH toks AS (
  SELECT doc_id, length(text) AS n_chars, lower(text) AS lo,
         {X.tokens_sql('text')} AS tok
  FROM documents
),
feats AS (
  SELECT doc_id,
         CAST(n_chars AS BIGINT) AS n_chars,
         CAST(len(tok) AS BIGINT) AS n_tokens,
         CAST(coalesce(list_sum(list_transform(tok, t -> length(t))), 0) AS DOUBLE)
           / greatest(len(tok), 1) AS avg_token_len,
         CAST(len(regexp_extract_all(lo, '[^a-z0-9\\s]')) AS DOUBLE)
           / greatest(n_chars, 1) AS punct_ratio,
         CAST(len(regexp_extract_all(lo, '[0-9]')) AS DOUBLE)
           / greatest(n_chars, 1) AS digit_ratio,
         CAST(len(list_filter(tok, t -> t IN ({stop_list}))) AS DOUBLE)
           / greatest(len(tok), 1) AS stopword_ratio
  FROM toks
)
SELECT *,
       0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
     + 0.3 * (1.0 - least(punct_ratio * 4, 1.0))
     + 0.2 * (1.0 - least(digit_ratio * 10, 1.0))
     + 0.2 * least(stopword_ratio * 5, 1.0) AS quality
FROM feats
"""


QUALITY_SQL = _quality_sql()


def token_counts(documents: DataFrame) -> DataFrame:
    """Whitespace and BPE-ish token counts per document.

    Output: (doc_id, ws_tokens, bpe_tokens, n_chars).  The BPE-ish count is
    the match count of ``[a-z]+|[0-9]|[^a-z0-9\\s]`` over the lowercased
    text — a cheap proxy for subword tokenizer cost accounting.
    """
    return documents.select(
        "doc_id",
        F.size(X.tokens("text")).cast("long").alias("ws_tokens"),
        F.regexp_count(F.lower(F.col("text")), F.lit(BPE_ISH)).cast("long").alias("bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


TOKEN_COUNTS_SQL = f"""
SELECT doc_id,
       CAST(len({X.tokens_sql('text')}) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{BPE_ISH}')) AS BIGINT) AS bpe_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
"""


def doc_stats(documents: DataFrame) -> DataFrame:
    """Merged per-document report: language ID + quality signals + token
    counts in ONE scan-fused projection — the single-pass composition an
    ingest pipeline runs (and the registry consolidation that keeps every
    query inside the driver's 50-entry correctness window; ``lang_id``,
    ``quality_score`` and ``token_counts`` remain individually usable).

    NULL text coalesces to '' (the repo convention), so every ratio is
    well-defined on both engines.

    Output: (doc_id, pred_lang, lang_score, n_chars, n_tokens, bpe_tokens,
    avg_token_len, punct_ratio, digit_ratio, stopword_ratio, quality).
    """
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    txt = F.coalesce(F.col("text"), F.lit(""))
    toks = documents.select(
        "doc_id",
        F.length(txt).alias("n_chars"),
        F.lower(txt).alias("lo"),
        X.tokens_of("coalesce(text, '')").alias("tok"),
    )
    feats = toks.select(
        "doc_id",
        *[
            _marker_count("tok", LANG_MARKERS[lang]).alias(f"s_{lang}")
            for lang in LANG_ORDER
        ],
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size("tok").cast("long").alias("n_tokens"),
        F.regexp_count("lo", F.lit(BPE_ISH)).cast("long").alias("bpe_tokens"),
        (
            F.aggregate(F.col("tok"), F.lit(0).cast("long"), lambda a, t: a + F.length(t)).cast("double")
            / F.greatest(F.size("tok"), F.lit(1))
        ).alias("avg_token_len"),
        (
            F.regexp_count("lo", F.lit("[^a-z0-9\\s]")).cast("double")
            / F.greatest(F.col("n_chars"), F.lit(1))
        ).alias("punct_ratio"),
        (
            F.regexp_count("lo", F.lit("[0-9]")).cast("double")
            / F.greatest(F.col("n_chars"), F.lit(1))
        ).alias("digit_ratio"),
        (
            F.expr(f"size(filter(tok, t -> t IN ({stop_list})))").cast("double")
            / F.greatest(F.size("tok"), F.lit(1))
        ).alias("stopword_ratio"),
    )
    pred, score = _lang_pred_score()
    quality = (
        F.lit(0.3) * F.least(F.col("n_tokens").cast("double") / 100.0, F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - F.least(F.col("punct_ratio") * 4, F.lit(1.0)))
        + F.lit(0.2) * (F.lit(1.0) - F.least(F.col("digit_ratio") * 10, F.lit(1.0)))
        + F.lit(0.2) * F.least(F.col("stopword_ratio") * 5, F.lit(1.0))
    )
    return feats.select(
        "doc_id",
        pred.alias("pred_lang"),
        score.cast("int").alias("lang_score"),
        "n_chars",
        "n_tokens",
        "bpe_tokens",
        "avg_token_len",
        "punct_ratio",
        "digit_ratio",
        "stopword_ratio",
        quality.alias("quality"),
    )


def _doc_stats_sql() -> str:
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    score_cols = ",\n         ".join(
        f"{_marker_count_sql('tok', LANG_MARKERS[lang])} AS s_{lang}"
        for lang in LANG_ORDER
    )
    whens = []
    for lang in LANG_ORDER:
        conds = " AND ".join(
            f"s_{lang} >= s_{other}" for other in LANG_ORDER if other != lang
        )
        whens.append(f"WHEN {conds} THEN '{lang}'")
    greatest = f"greatest({', '.join('s_' + l for l in LANG_ORDER)})"
    toks = X.tokens_sql("coalesce(text, '')")
    return f"""
WITH toks AS (
  SELECT doc_id, length(coalesce(text, '')) AS n_chars,
         lower(coalesce(text, '')) AS lo, {toks} AS tok
  FROM documents
),
feats AS (
  SELECT doc_id,
         {score_cols},
         CAST(n_chars AS BIGINT) AS n_chars,
         CAST(len(tok) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(lo, '{BPE_ISH}')) AS BIGINT) AS bpe_tokens,
         CAST(coalesce(list_sum(list_transform(tok, t -> length(t))), 0) AS DOUBLE)
           / greatest(len(tok), 1) AS avg_token_len,
         CAST(len(regexp_extract_all(lo, '[^a-z0-9\\s]')) AS DOUBLE)
           / greatest(n_chars, 1) AS punct_ratio,
         CAST(len(regexp_extract_all(lo, '[0-9]')) AS DOUBLE)
           / greatest(n_chars, 1) AS digit_ratio,
         CAST(len(list_filter(tok, t -> t IN ({stop_list}))) AS DOUBLE)
           / greatest(len(tok), 1) AS stopword_ratio
  FROM toks
)
SELECT doc_id,
       CASE {' '.join(whens)} END AS pred_lang,
       CAST({greatest} AS INT) AS lang_score,
       n_chars, n_tokens, bpe_tokens, avg_token_len,
       punct_ratio, digit_ratio, stopword_ratio,
       0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
     + 0.3 * (1.0 - least(punct_ratio * 4, 1.0))
     + 0.2 * (1.0 - least(digit_ratio * 10, 1.0))
     + 0.2 * least(stopword_ratio * 5, 1.0) AS quality
FROM feats
"""


DOC_STATS_SQL = _doc_stats_sql()


def length_histogram(documents: DataFrame) -> DataFrame:
    """Per-language token-length histogram over power-of-two buckets — the
    corpus-shape report every dataset card carries (and the input to
    sequence-length-aware packing/batching decisions).

    Bucket = the BINARY DIGIT COUNT of the whitespace token count (0 and 1
    -> bucket 1, 2-3 -> 2, 4-7 -> 3, ...), computed with pure integer/
    string ops on both engines (``conv`` base-2 here, ``bin`` in DuckDB) —
    no floating log2 whose boundary rounding could diverge.

    Output: (lang, bucket, n_docs, total_tokens).

    Scale: one partial-agg shuffle keyed by (lang, bucket) — a few hundred
    groups, map-side combine reduces each task to that bound regardless of
    corpus size.  Scan reads only (lang, text).
    """
    # coalesce(text,'') per the repo convention (pipeline.py does the same):
    # a NULL text row would make non-ANSI size(NULL) = -1, and conv('-1')'s
    # two's-complement string would land in a nonsense bucket 64 while the
    # DuckDB oracle yields NULL — coalescing pins both engines to bucket 1.
    n = F.size(X.tokens_of("coalesce(text, '')")).cast("long")
    bucket = F.length(F.conv(n.cast("string"), 10, 2)).cast("int")
    return (
        documents.select("lang", bucket.alias("bucket"), n.alias("n"))
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("total_tokens"),
        )
    )


LENGTH_HISTOGRAM_SQL = f"""
WITH counted AS (
  SELECT lang,
         CAST(length(bin(CAST(len({X.tokens_sql("coalesce(text, '')")}) AS BIGINT))) AS INT) AS bucket,
         CAST(len({X.tokens_sql("coalesce(text, '')")}) AS BIGINT) AS n
  FROM documents
)
SELECT lang, bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS total_tokens
FROM counted
GROUP BY lang, bucket
"""


def fingerprint(documents: DataFrame) -> DataFrame:
    """Bottom-k document fingerprint over word-shingle hashes.

    Output: (doc_id, fp, n_shingles) where fp is the comma-joined
    FINGERPRINT_K smallest distinct shingle hashes — a compact sketch whose
    equality is a strong near-dup signal (winnowing-lite).
    """
    # md5-per-shingle is the dominant cost; spread it off the (possibly
    # single-partition) scan before projecting (gated — guide §2.4: a
    # many-split scan at scale skips the shuffle).
    sh = _spread(documents).select(
        "doc_id", X.shingles(X.tokens_sx("text")).alias("sh")
    )
    hashes = sh.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(F.transform("sh", lambda s: X.h56(s)))
        ).alias("hs"),
    )
    return hashes.select(
        "doc_id",
        F.array_join(
            F.transform(F.slice("hs", 1, FINGERPRINT_K), lambda h: h.cast("string")),
            ",",
        ).alias("fp"),
        F.size("hs").cast("long").alias("n_shingles"),
    )


TOKEN_FREQ_K = 50


def token_freq(documents: DataFrame, k: int = TOKEN_FREQ_K) -> DataFrame:
    """Corpus vocabulary: top-k tokens by document-weighted frequency.

    The one corpus-level text op (everything else is per-row): explode
    tokens -> count.  At 100 TB this is the canonical vocab-building
    shuffle — partial aggregation collapses each partition's counts before
    the exchange, so shuffle volume is O(distinct tokens x partitions),
    not O(total tokens).  Deterministic top-k tie-break by token.

    Output: (token, n, rank).
    """
    toks = _spread(documents).select(
        F.explode(X.tokens("text")).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count("*").cast("long").alias("n"))
    # orderBy+limit compiles to TakeOrderedAndProject — distributed partial
    # top-k per partition, then a k-row merge; a global row_number window
    # here would instead drag the whole vocabulary to one partition.
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(k)
    # Rank WITHOUT a Window node: a global row_number would plan a
    # WindowExec whose "No Partition Defined" warning elsewhere in this
    # engine flags a REAL scale problem and must stay meaningful (a foldable
    # partition key like lit(0) does NOT dodge it — FoldablePropagation
    # strips it and the physical node still has an empty partition spec).
    # The top-k frame is <= k rows in one partition (GlobalLimit output;
    # coalesce(1) pins the invariant), so after an in-partition sort the
    # row position IS the rank: monotonically_increasing_id() on partition 0
    # is the contiguous row index 0..k-1.
    return (
        top.coalesce(1)
        .sortWithinPartitions(F.desc("n"), F.asc("token"))
        .withColumn("rank", (F.monotonically_increasing_id() + 1).cast("int"))
        .select("token", "n", "rank")
    )


TOKEN_FREQ_SQL = f"""
WITH toks AS (
  SELECT unnest({X.tokens_sql('text')}) AS token FROM documents
),
counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY token
),
ranked AS (
  SELECT token, n, row_number() OVER (ORDER BY n DESC, token ASC) AS rank
  FROM counts
)
SELECT token, n, rank FROM ranked WHERE rank <= {TOKEN_FREQ_K}
"""


def redact(documents: DataFrame) -> DataFrame:
    """PII-style redaction: replace digit runs with a placeholder.

    Per-row regexp_replace (scan-fused, no shuffle); emits the redacted
    text's md5 rather than the text itself so the output stays narrow.
    Output: (doc_id, n_redactions, redacted_md5).
    """
    redacted = F.regexp_replace(F.col("text"), "[0-9]+", "<num>")
    return documents.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit("[0-9]+")).cast("long").alias("n_redactions"),
        F.md5(redacted).alias("redacted_md5"),
    )


REDACT_SQL = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_redactions,
       md5(regexp_replace(text, '[0-9]+', '<num>', 'g')) AS redacted_md5
FROM documents
"""


def split_assign(documents: DataFrame) -> DataFrame:
    """Deterministic content-addressed train/valid/test split.

    Bucket = md5-derived 56-bit hash of the TEXT (not the id) modulo 100 —
    stable across re-ingestion and id reassignment, the property a training
    pipeline needs for leak-free splits.  90/5/5.
    Output: (doc_id, bucket, split).
    """
    bucket = (X.h56(F.col("text")) % 100).cast("int")
    return documents.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 90, "train")
        .when(bucket < 95, "valid")
        .otherwise("test")
        .alias("split"),
    )


SPLIT_ASSIGN_SQL = f"""
SELECT doc_id,
       CAST(({X.h56_sql('text')}) % 100 AS INT) AS bucket,
       CASE WHEN ({X.h56_sql('text')}) % 100 < 90 THEN 'train'
            WHEN ({X.h56_sql('text')}) % 100 < 95 THEN 'valid'
            ELSE 'test' END AS split
FROM documents
"""


def redact_split(documents: DataFrame) -> DataFrame:
    """Merged governance projection: PII-style digit-run redaction + the
    content-addressed train/valid/test split in ONE scan-fused pass
    (registry consolidation; ``redact`` and ``split_assign`` remain
    individually usable).  NULL text coalesces to '' per repo convention.

    Output: (doc_id, n_redactions, redacted_md5, bucket, split).
    """
    txt = F.coalesce(F.col("text"), F.lit(""))
    bucket = (X.h56(txt) % 100).cast("int")
    return documents.select(
        "doc_id",
        F.regexp_count(txt, F.lit("[0-9]+")).cast("long").alias("n_redactions"),
        F.md5(F.regexp_replace(txt, "[0-9]+", "<num>")).alias("redacted_md5"),
        bucket.alias("bucket"),
        F.when(bucket < 90, "train")
        .when(bucket < 95, "valid")
        .otherwise("test")
        .alias("split"),
    )


def pii_scrub(documents: DataFrame) -> DataFrame:
    """Multi-class PII governance scrub (r14, VERDICT r13 #4): emails,
    IPv4s, phone-shaped runs, then residual digit runs, counted and
    replaced in priority order (``X.PII_CLASSES`` — each class counts
    against the text the earlier classes already scrubbed, so an email's
    digits are never double-counted and "1.2.3.4" is an <ip>, never a
    <phone>).  Entirely expression-level regexp chains: scan-fused, no
    shuffle, no UDF; emits the scrubbed text's md5 so the output stays
    narrow.  The scrubbed TEXT itself is applied to the training
    pipeline via ``pipeline.packed_training_rows(scrub_pii=True)`` /
    ``train-data --scrub-pii``.

    Output: (doc_id, n_email, n_ipv4, n_phone, n_num, scrubbed_md5).
    """
    txt = F.coalesce(F.col("text"), F.lit(""))
    counts, scrubbed = X.pii_stages(txt)
    return documents.select(
        "doc_id",
        *[c.alias(f"n_{name}") for name, c in counts],
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


PII_SCRUB_SQL = f"""
SELECT doc_id,
       {X.pii_count_sql("coalesce(text, '')", 0)} AS n_email,
       {X.pii_count_sql("coalesce(text, '')", 1)} AS n_ipv4,
       {X.pii_count_sql("coalesce(text, '')", 2)} AS n_phone,
       {X.pii_count_sql("coalesce(text, '')", 3)} AS n_num,
       md5({X.pii_scrubbed_sql("coalesce(text, '')")}) AS scrubbed_md5
FROM documents
"""


REDACT_SPLIT_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(coalesce(text, ''), '[0-9]+')) AS BIGINT) AS n_redactions,
       md5(regexp_replace(coalesce(text, ''), '[0-9]+', '<num>', 'g')) AS redacted_md5,
       CAST(({X.h56_sql("coalesce(text, '')")}) % 100 AS INT) AS bucket,
       CASE WHEN ({X.h56_sql("coalesce(text, '')")}) % 100 < 90 THEN 'train'
            WHEN ({X.h56_sql("coalesce(text, '')")}) % 100 < 95 THEN 'valid'
            ELSE 'test' END AS split
FROM documents
"""


FINGERPRINT_SQL = f"""
WITH toks AS (
  SELECT doc_id, {X.tokens_sql('text')} AS tok FROM documents
),
sh AS (
  SELECT doc_id, {X.shingles_sql('tok')} AS sh FROM toks
),
hashes AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(sh, s -> {X.h56_sql('s')}))) AS hs
  FROM sh
)
SELECT doc_id,
       array_to_string(list_transform(hs[1:{FINGERPRINT_K}], h -> CAST(h AS VARCHAR)), ',') AS fp,
       CAST(len(hs) AS BIGINT) AS n_shingles
FROM hashes
"""


TOP_TERMS_K = 3


def top_terms(documents: DataFrame, k: int = TOP_TERMS_K) -> DataFrame:
    """Per-document distinctive terms: top-k tokens by tf/df ratio.

    The TF-IDF shape with an exact-rational score (term frequency over
    document frequency — no logarithm, so both engines compute the
    identical double from identical integers).  Corpus-level plan: explode
    -> (doc, token) counts -> token document-frequency -> shuffle equi-join
    on token -> per-doc top-k window.  All aggregates partial map-side;
    the rank window partitions by the high-cardinality doc_id.  Ties break
    by token, so output is deterministic at any parallelism.

    Output: (doc_id, token, tf, df, score, rank).
    """
    toks = _spread(documents).select(
        "doc_id", F.explode(X.tokens("text")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").cast("long").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").cast("long").alias("df"))
    scored = tf.join(dfreq, "token").select(
        "doc_id",
        "token",
        "tf",
        "df",
        (F.col("tf").cast("double") / F.col("df")).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "df", "score", "rank")
    )


TOP_TERMS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({X.tokens_sql('text')}) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
),
dfreq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
scored AS (
  SELECT doc_id, token, tf, df, tf::DOUBLE / df AS score
  FROM tf JOIN dfreq USING (token)
),
ranked AS (
  SELECT doc_id, token, tf, df, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, token ASC) AS rank
  FROM scored
)
SELECT doc_id, token, tf, df, score, rank FROM ranked WHERE rank <= {TOP_TERMS_K}
"""


# --- OOV / rare-token rate ---------------------------------------------------

#: Vocabulary size for the OOV (rare-token) quality gate.  Real pipelines
#: use the tokenizer's vocab; the corpus-derived top-k keeps the operator
#: self-contained and the signal identical in shape.
OOV_VOCAB_K = 64


def oov_stats(documents: DataFrame, k: int = OOV_VOCAB_K) -> DataFrame:
    """Per-doc out-of-vocabulary rate against the corpus top-k vocabulary —
    the rare-token quality gate (high OOV rate flags gibberish, code
    dumps, and boilerplate-free noise the stopword ratios miss).

    Output, one row per document: (doc_id, n_tokens, n_oov, oov_ratio) —
    counts exact BIGINTs; the ratio is the one derived double (identical
    division of identical ints on both engines).

    Scale: the vocabulary is :func:`token_freq`'s partial-agg shuffle +
    TakeOrderedAndProject, collapsed to ONE row (a k-element array) and
    cross-broadcast to every doc — the scalar-subquery pattern, no
    per-token join back.  The membership probe is per-row
    O(n_tokens x k) with k bounded by the parameter; nothing after the
    vocab build shuffles at all.
    """
    vocab = token_freq(documents, k=k).agg(
        F.sort_array(F.collect_list("token")).alias("_vocab")
    )
    toks = documents.select(
        "doc_id", X.tokens_of("coalesce(text, '')").alias("_tk")
    )
    n_tokens = F.size("_tk")
    n_oov = F.size(
        F.filter(F.col("_tk"), lambda t: ~F.array_contains(F.col("_vocab"), t))
    )
    return (
        toks.join(F.broadcast(vocab))
        .select(
            "doc_id",
            n_tokens.cast("long").alias("n_tokens"),
            n_oov.cast("long").alias("n_oov"),
            F.when(n_tokens > 0, n_oov.cast("double") / n_tokens)
            .otherwise(F.lit(0.0))
            .alias("oov_ratio"),
        )
    )


OOV_STATS_SQL = f"""
WITH toks AS (
  SELECT doc_id, {X.tokens_sql("coalesce(text, '')")} AS tk FROM documents
),
tokx AS (SELECT unnest({X.tokens_sql('text')}) AS token FROM documents),
cnt AS (SELECT token, count(*) AS n FROM tokx GROUP BY token),
top AS (SELECT token FROM cnt ORDER BY n DESC, token ASC LIMIT {OOV_VOCAB_K}),
varr AS (
  SELECT coalesce(list(token ORDER BY token), []::VARCHAR[]) AS v FROM top
)
SELECT doc_id,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(tk, x -> NOT list_contains(v, x))) AS BIGINT) AS n_oov,
       CASE WHEN len(tk) > 0
            THEN CAST(len(list_filter(tk, x -> NOT list_contains(v, x))) AS DOUBLE)
                 / len(tk)
            ELSE 0.0 END AS oov_ratio
FROM toks, varr
"""


# --- r11 corpus profile: exact baseline + mergeable-sketch twin --------------

#: Rank points for the length quantiles (percent).
PROFILE_PCTS = (50, 90, 99)
#: Error budget for the sketch twin's distinct counts.  The sketches are
#: Apache DataSketches HLL (``hll_sketch_agg``, default lgK = 12, rsd ~
#: 1.04 / sqrt(2^12) ~ 1.6%); the tolerance gate allows this looser 3-sigma
#: band.  DataSketches over HLL++ (``approx_count_distinct``) is a
#: deliberate choice: the sketch STATE is a first-class binary column, so
#: per-batch sketches persist to a store and ``hll_union_agg`` merges them
#: with register-max semantics — union-of-parts == single-pass estimate
#: EXACTLY (pinned in tests), which is what lets the streaming twin
#: (``streaming.jobs.run_corpus_profile_stream``) equal this operator
#: bit-for-bit instead of approximately.
PROFILE_HLL_RSD = 0.05


def _profile_per_doc(documents: DataFrame) -> DataFrame:
    txt = F.coalesce(F.col("text"), F.lit(""))
    return documents.select(
        "doc_id",
        "source",
        F.length(txt).cast("long").alias("len"),
        F.size(X.tokens_of("coalesce(text, '')")).cast("long").alias("ntok"),
        F.md5(txt).alias("th"),
    )


def _profile_tokens(documents: DataFrame) -> DataFrame:
    """The per-source token stream (source, tok) — ONE definition shared
    by the exact twin, the sketch twin, and the streaming twin
    (run_corpus_profile_stream), because the calibration and the
    streaming==batch bit-exact contracts silently assume all three
    tokenize identically (r11 review)."""
    return documents.select(
        "source",
        F.explode(X.tokens_of("coalesce(text, '')")).alias("tok"),
    )


def corpus_profile_exact(documents: DataFrame) -> DataFrame:
    """Per-source corpus profile, EXACT: doc/token volume, distinct-text
    and distinct-token cardinality, and rank-exact length quantiles.

    Output: ``(source, n_docs, total_tokens, distinct_texts,
    distinct_tokens, len_p50, len_p90, len_p99)``; ``len_pXX`` is the
    length at rank ``ceil(p * n / 100)`` of the ascending (len, doc_id)
    order — pure integer rank arithmetic, identical on both engines, so
    the whole frame carries a full DuckDB value-hash oracle.

    This is the CORRECTNESS baseline of the profile pair, and its cost
    shape is exactly what :func:`corpus_profile` exists to avoid at
    scale: ``count(DISTINCT token)`` shuffles the full token stream on
    token (the corpus-sized exchange), and the rank quantile sorts every
    source's lengths through a window.  Use this to calibrate the sketch
    twin per corpus; run the sketch at 100 TB.
    """
    per_doc = _profile_per_doc(documents)
    agg1 = per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("ntok").cast("long").alias("total_tokens"),
        F.countDistinct("th").cast("long").alias("distinct_texts"),
    )
    agg2 = _profile_tokens(documents).groupBy("source").agg(
        F.countDistinct("tok").cast("long").alias("distinct_tokens")
    )
    w = Window.partitionBy("source").orderBy("len", "doc_id")
    wn = Window.partitionBy("source")
    ranked = per_doc.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wn)
    )
    qagg = ranked.groupBy("source").agg(
        *[
            F.max(
                F.when(
                    F.col("rn") == F.expr(f"(n * {p} + 99) div 100"), F.col("len")
                )
            ).alias(f"len_p{p}")
            for p in PROFILE_PCTS
        ]
    )
    # LEFT join + coalesce: a source whose every doc tokenizes empty has
    # NO token rows — an inner join would silently drop the source from
    # the profile while the streaming twin emits it with 0 (r11 review).
    # Null-safe keys throughout (r12): a NULL source is a group like any
    # other to groupBy, and an equi-join stitch would silently drop it
    # from the profile (the corpus-profile --pack lesson, ADVICE r11) —
    # eqNullSafe here, IS NOT DISTINCT FROM in the oracle.
    a2 = agg2.select(F.col("source").alias("_s2"), "distinct_tokens")
    qr = qagg.select(
        F.col("source").alias("_sq"), *[f"len_p{p}" for p in PROFILE_PCTS]
    )
    return (
        agg1.join(a2, F.col("source").eqNullSafe(F.col("_s2")), "left")
        .drop("_s2")
        .withColumn(
            "distinct_tokens",
            F.coalesce("distinct_tokens", F.lit(0).cast("long")),
        )
        .join(qr, F.col("source").eqNullSafe(F.col("_sq")))
        .drop("_sq")
    )


CORPUS_PROFILE_EXACT_SQL = f"""
WITH per_doc AS (
  SELECT doc_id, source,
         CAST(length(coalesce(text, '')) AS BIGINT) AS len,
         CAST(len({X.tokens_sql("coalesce(text, '')")}) AS BIGINT) AS ntok,
         md5(coalesce(text, '')) AS th
  FROM documents
),
toks AS (
  SELECT source, unnest({X.tokens_sql("coalesce(text, '')")}) AS tok
  FROM documents
),
agg1 AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(ntok) AS BIGINT) AS total_tokens,
         CAST(count(DISTINCT th) AS BIGINT) AS distinct_texts
  FROM per_doc GROUP BY source
),
agg2 AS (
  SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS distinct_tokens
  FROM toks GROUP BY source
),
ranked AS (
  SELECT source, len,
         row_number() OVER (PARTITION BY source ORDER BY len, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM per_doc
),
q AS (
  SELECT source,
         {', '.join(f"max(CASE WHEN rn = (n * {p} + 99) // 100 THEN len END) AS len_p{p}" for p in PROFILE_PCTS)}
  FROM ranked GROUP BY source
)
SELECT agg1.source, n_docs, total_tokens, distinct_texts,
       CAST(coalesce(distinct_tokens, 0) AS BIGINT) AS distinct_tokens,
       {', '.join(f'len_p{p}' for p in PROFILE_PCTS)}
FROM agg1
LEFT JOIN agg2 ON agg1.source IS NOT DISTINCT FROM agg2.source
JOIN q ON agg1.source IS NOT DISTINCT FROM q.source
"""


def corpus_profile(documents: DataFrame) -> DataFrame:
    """Per-source corpus profile, SKETCHED — the one-pass 100 TB
    instrument: DataSketches HLL for the two distinct cardinalities
    (``hll_sketch_agg`` -> ``hll_sketch_estimate``; see PROFILE_HLL_RSD
    for why DataSketches and not HLL++) and EXACT length percentiles
    from a per-(source, len) histogram under the integer rank rule
    (value at rank ceil(p*n/100) = smallest len whose cumulative count
    reaches the rank) — the same rule ``corpus_profile_exact`` and the
    streaming twin use, so all three twins' ``len_pXX`` agree
    bit-for-bit (r12, VERDICT r11 #4: this replaced ``percentile_approx``,
    whose GK merges were the one merge-order-unstable output in the
    family).

    Output schema mirrors :func:`corpus_profile_exact` with ``_est``
    suffixes on the sketched distinct counts: ``(source, n_docs,
    total_tokens, distinct_texts_est, distinct_tokens_est, len_p50,
    len_p90, len_p99)``.  ``n_docs`` / ``total_tokens`` / ``len_pXX``
    are exact and deterministic.

    Why this scales where the exact twin cannot: every aggregation state
    here is MERGEABLE and small — the doc side collapses map-side to a
    per-(source, len) histogram (counts + token sums + HLL partials; one
    row per distinct length, bounded by max doc length, NOT corpus
    size), ``hll_union_agg`` folds the partials with register-max
    semantics (union-of-parts == single-pass EXACTLY, the property the
    streaming twin's bit-equality rests on), and the quantile window
    sorts histogram keys, never documents.  The exact twin's
    ``count(DISTINCT token)`` must shuffle every distinct token of a
    100 TB corpus; the HLL registers replace that exchange with
    O(|sources| x 2^p) bytes regardless of corpus size.  The trade is
    bounded, documented error on the two distinct counts (3-sigma gate
    in tests/test_textstats_ops.py) — and NO cross-engine value-hash
    oracle for them: sketch states are engine-specific, so the distinct
    columns are calibrated against ``corpus_profile_exact`` (itself
    fully oracle'd) instead, the same weaker-gate class as the recall
    reports.  Every other column is bit-deterministic under any
    partitioning or merge order (pinned under repartition in tests).
    """
    from cloudcomputing_flink_application_spark.operators.dedup import _persist

    per_doc = _profile_per_doc(documents)
    # ONE scan of the corpus builds the histogram; both consumers below
    # (the per-source rollup and the rank-rule quantiles) read the tiny
    # cached frame.  Released by dedup.release_cached().
    hist = _persist(
        per_doc.groupBy("source", "len").agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum("ntok").cast("long").alias("toks"),
            F.hll_sketch_agg("th").alias("th_sk"),
        )
    )
    agg1 = hist.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("total_tokens"),
        F.hll_sketch_estimate(F.hll_union_agg("th_sk")).alias(
            "distinct_texts_est"
        ),
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
    agg2 = _profile_tokens(documents).groupBy("source").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("tok")).alias(
            "distinct_tokens_est"
        )
    )
    # LEFT join + coalesce for all-empty-token sources, mirroring the
    # exact twin and the streaming twin's NULL-union -> 0 path; null-safe
    # keys like the exact twin (r12): a NULL source must survive the
    # stitches with ITS OWN columns
    qr = quants.select(
        F.col("source").alias("_sq"), *[f"len_p{p}" for p in PROFILE_PCTS]
    )
    a2 = agg2.select(F.col("source").alias("_s2"), "distinct_tokens_est")
    return agg1.join(qr, F.col("source").eqNullSafe(F.col("_sq"))).join(
        a2, F.col("source").eqNullSafe(F.col("_s2")), "left"
    ).withColumn(
        "distinct_tokens_est",
        F.coalesce("distinct_tokens_est", F.lit(0).cast("long")),
    ).select(
        "source",
        "n_docs",
        "total_tokens",
        "distinct_texts_est",
        "distinct_tokens_est",
        *[f"len_p{p}" for p in PROFILE_PCTS],
    )
