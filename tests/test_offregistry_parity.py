"""Oracle parity for public operators NOT in the driver registry.

The r5 registry consolidation (``pkg/registry.py``) merged several per-row
projections into single-pass compositions so the registry fits the driver's
50-query correctness window. The underlying operators stayed public API, and
their DuckDB oracle SQL stayed with them — this module keeps each de-registered
op/SQL pair under the same rows+schema+values parity gate as the registry
entries, so "stays individually tested" remains literally true.

Covers (operator, oracle) pairs orphaned by the consolidation:
- textstats: lang_id, quality_score, token_counts (merged into text_doc_stats)
- textstats: redact, split_assign (merged into text_redact_split)
- multimodal: image_meta, audio_frames (merged into mm_media_probe)
"""

from __future__ import annotations

import pytest

from cloudcomputing_flink_application_spark.operators import (
    dedup,
    multimodal,
    olap,
    pipeline,
    similarity,
    textstats,
)
from tests.conftest import TESTDATA
from tests.oracle_harness import (
    compare_query,
    duck_connection,
    materialize_ctes,
)

SF_DIR = f"{TESTDATA}/sf0.001"

OFF_REGISTRY = {
    "off_lang_id": (textstats.lang_id, textstats.LANG_ID_SQL),
    "off_quality_score": (textstats.quality_score, textstats.QUALITY_SQL),
    "off_token_counts": (textstats.token_counts, textstats.TOKEN_COUNTS_SQL),
    "off_redact": (textstats.redact, textstats.REDACT_SQL),
    # r14 (VERDICT r13 #4): multi-class PII scrub (email/ipv4/phone/num,
    # staged priority counts); class-boundary rows in test_functions.py
    "off_pii_scrub": (textstats.pii_scrub, textstats.PII_SCRUB_SQL),
    "off_split_assign": (textstats.split_assign, textstats.SPLIT_ASSIGN_SQL),
    "off_image_meta": (multimodal.image_meta, multimodal.IMAGE_META_SQL),
    "off_audio_frames": (multimodal.audio_frames, multimodal.AUDIO_FRAMES_SQL),
    # r6 span/prep family — now driver-covered through the r7 composed
    # registry entries (text_span_scrub / pipe_prep), kept here so each
    # COMPONENT also stays individually parity-gated.
    "off_dup_span_stats": (pipeline.dup_span_stats, pipeline.DUP_SPAN_STATS_SQL),
    "off_scrub_dup_spans": (pipeline.scrub_dup_spans, pipeline.SCRUB_DUP_SPANS_SQL),
    "off_oov_stats": (textstats.oov_stats, textstats.OOV_STATS_SQL),
    "off_chunk_docs": (pipeline.chunk_docs, pipeline.CHUNK_DOCS_SQL),
    "off_mixture_sample": (pipeline.mixture_sample, pipeline.MIXTURE_SAMPLE_SQL),
    # r7 consolidation orphans: the components of the method-keyed union
    # registry entries (dedup_text_pairs) stay individually gated.
    "off_minhash_lsh": (dedup.minhash_lsh_dedup, dedup.MINHASH_LSH_SQL),
    "off_ngram_jaccard": (dedup.ngram_jaccard_dedup, dedup.NGRAM_JACCARD_SQL),
    # r7 multimodal additions (resize / feature-extract / frame-sample) —
    # per-doc resize + feature fingerprints are ALSO driver-covered
    # through the extended mm_media_probe columns; the 1->N frame sampler
    # is off-registry only (its explode shape has no probe column).
    "off_image_resize": (multimodal.image_resize, multimodal.IMAGE_RESIZE_SQL),
    "off_image_features": (
        multimodal.image_features,
        multimodal.IMAGE_FEATURES_SQL,
    ),
    "off_video_frame_sample": (
        multimodal.video_frame_sample,
        multimodal.VIDEO_FRAME_SAMPLE_SQL,
    ),
    # r11 corpus profile: the exact baseline of the profile pair (the
    # sketch twin is calibrated against THIS frame in
    # tests/test_textstats_ops.py — sketch states have no cross-engine
    # value-hash)
    "off_corpus_profile_exact": (
        textstats.corpus_profile_exact,
        textstats.CORPUS_PROFILE_EXACT_SQL,
    ),
    # r11 packing observability: straddle accounting over the concat
    # packer (pack_bins itself is the documented non-SQL-expressible
    # exception, property-gated in test_pipeline_ops.py)
    "off_pack_report": (pipeline.pack_report, pipeline.PACK_REPORT_SQL),
    # r11 end-to-end training-data composition (clean -> purge -> pack);
    # each stage is ALSO individually gated (clean/purge via the registry,
    # pack via pipe_pack_chunks) — this pins the composed dataflow itself.
    # Its shared CTEs are materialized so DuckDB runs each once.
    "off_training_prep": (
        pipeline.training_prep,
        materialize_ctes(pipeline.TRAINING_PREP_SQL),
    ),
    # r12: the method-keyed duplicate-rate report (exact / minhash_cc /
    # simhash under one min-id-keeps flag convention), composed from the
    # families' own oracle constants
    "off_dedup_method_report": (
        dedup.dedup_method_report,
        dedup.DEDUP_METHOD_REPORT_SQL,
    ),
    # r12 chunk-then-bin (VERDICT r11 #5): the piece split feeding
    # pack_bins_chunked — fully SQL-expressible (the FFD stage that
    # consumes it stays the documented property-gated exception)
    "off_chunk_oversize": (
        pipeline.chunk_oversize_docs,
        pipeline.CHUNK_OVERSIZE_SQL,
    ),
}

# same gate over the embeddings table (components of dedup_embedding and
# ann_topk)
OFF_REGISTRY_EMB = {
    "off_embedding_cosine": (
        dedup.embedding_cosine_dedup,
        dedup.EMBEDDING_COSINE_SQL,
    ),
    "off_embedding_lsh": (dedup.embedding_lsh_dedup, dedup.EMBEDDING_LSH_SQL),
    "off_ann_cosine_topk": (similarity.cosine_topk, similarity.COSINE_TOPK_SQL),
    "off_ann_cosine_topk_ivf": (
        similarity.cosine_topk_ivf,
        similarity.COSINE_TOPK_IVF_SQL,
    ),
    # r9 product quantization: the pq arm of ann_topk plus the index-build
    # and evaluation components around it.
    "off_pq_train_stats": (similarity.pq_train_stats, similarity.PQ_TRAIN_STATS_SQL),
    "off_pq_encode": (similarity.pq_encode, similarity.PQ_ENCODE_SQL),
    "off_pq_topk": (similarity.pq_topk, similarity.PQ_TOPK_SQL),
    "off_pq_topk_rerank": (
        similarity.pq_topk_rerank,
        similarity.PQ_TOPK_RERANK_SQL,
    ),
    # r9 IVFADC composition: IVF cell pruning x PQ code scoring + rerank
    "off_ivfpq_index": (similarity.ivfpq_index, similarity.IVFPQ_INDEX_SQL),
    "off_ivfpq_topk": (similarity.ivfpq_topk, similarity.IVFPQ_TOPK_SQL),
    "off_pq_recall": (similarity.pq_recall_report, similarity.PQ_RECALL_SQL),
    # r11 SemDeDup: cluster-then-prune semantic dedup (k-means blocking,
    # within-cluster tau-graph closure, lowest-centroid-cos keep rule)
    "off_semantic_dedup": (dedup.semantic_dedup, dedup.SEMANTIC_DEDUP_SQL),
    # ... and its survivor contract (id set — the embedding payload is
    # pinned by the anti-join construction, not re-hashed cross-engine)
    "off_semantic_purge_ids": (
        dedup.semantic_purge_ids,
        dedup.SEMANTIC_PURGE_IDS_SQL,
    ),
}


@pytest.fixture(scope="module")
def con():
    c = duck_connection(SF_DIR)
    yield c
    c.close()


def _on_docs(op):
    return lambda spark, sf_dir: op(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


def _on_embs(op):
    return lambda spark, sf_dir: op(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    )


@pytest.mark.parametrize("name", sorted(OFF_REGISTRY))
def test_offregistry_oracle_parity(spark, con, name):
    op, sql = OFF_REGISTRY[name]
    res = compare_query(spark, con, name, _on_docs(op), sql, SF_DIR)
    assert res.ok, f"{name}: {res.spark_rows} vs {res.oracle_rows} | {res.detail}"
    assert res.spark_rows > 0, f"{name}: degenerate (empty) result proves nothing"


@pytest.mark.parametrize("name", sorted(OFF_REGISTRY_EMB))
def test_offregistry_emb_oracle_parity(spark, con, name):
    op, sql = OFF_REGISTRY_EMB[name]
    res = compare_query(spark, con, name, _on_embs(op), sql, SF_DIR)
    assert res.ok, f"{name}: {res.spark_rows} vs {res.oracle_rows} | {res.detail}"
    assert res.spark_rows > 0, f"{name}: degenerate (empty) result proves nothing"


@pytest.mark.parametrize("name", sorted(OFF_REGISTRY))
def test_offregistry_empty_input(spark, name):
    op, _ = OFF_REGISTRY[name]
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = op(docs.limit(0))
    assert out.count() == 0


# sf-level off-registry queries: (spark, sf_dir) signature, so they join
# the parity gate directly (no empty-input variant — they read their own
# tables).
OFF_REGISTRY_SF = {
    "off_olap_local_volume": (
        olap.local_supplier_volume,
        olap.LOCAL_SUPPLIER_VOLUME_SQL,
    ),
    "off_olap_trade_volume": (
        olap.nation_trade_volume,
        olap.NATION_TRADE_VOLUME_SQL,
    ),
    "off_olap_disjunctive_revenue": (
        olap.disjunctive_revenue,
        olap.DISJUNCTIVE_REVENUE_SQL,
    ),
    "off_olap_idle_customers": (
        olap.idle_customers,
        olap.IDLE_CUSTOMERS_SQL,
    ),
    # r8 additions: four more TPC-H shapes the suite lacked
    "off_olap_forecast_revenue": (
        olap.forecast_revenue,
        olap.FORECAST_REVENUE_SQL,
    ),
    "off_olap_returned_items": (
        olap.returned_item_revenue,
        olap.RETURNED_ITEM_SQL,
    ),
    "off_olap_promo_share": (
        olap.promo_revenue_share,
        olap.PROMO_REVENUE_SQL,
    ),
    "off_olap_small_quantity": (
        olap.small_quantity_revenue,
        olap.SMALL_QUANTITY_SQL,
    ),
    # r9 additions: the hard decorrelation probes (Q20 nested IN over a
    # correlated aggregate, Q21 chained EXISTS/NOT EXISTS self-reference)
    "off_olap_dominant_suppliers": (
        olap.dominant_suppliers,
        olap.DOMINANT_SUPPLIERS_SQL,
    ),
    "off_olap_waiting_suppliers": (
        olap.waiting_suppliers,
        olap.WAITING_SUPPLIERS_SQL,
    ),
    # r9 bonus: the deepest star (seven tables, nation joined twice)
    "off_olap_market_share": (
        olap.market_share,
        olap.MARKET_SHARE_SQL,
    ),
    # r9b: the scalar-max, count-distinct-anti-join, and profit shapes
    "off_olap_top_supplier": (
        olap.top_supplier,
        olap.TOP_SUPPLIER_SQL,
    ),
    "off_olap_supplier_counts": (
        olap.supplier_counts,
        olap.SUPPLIER_COUNTS_SQL,
    ),
    "off_olap_nation_profit": (
        olap.nation_profit,
        olap.NATION_PROFIT_SQL,
    ),
    # r12 (VERDICT r11 #3): the training-data composition with the
    # SemDeDup stage between purge and pack (train-data --semantic-dedup)
    # — two-table query, so it joins the (spark, sf_dir) gate; the
    # composed oracle extends TRAINING_PREP_SQL with the recursive-walk
    # closure rebound to the purge survivors' embeddings.
    "off_training_prep_semantic": (
        lambda spark, sf_dir: pipeline.training_prep(
            spark.read.parquet(f"{sf_dir}/documents.parquet"),
            embeddings=spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        ),
        materialize_ctes(pipeline.TRAINING_PREP_SEMANTIC_SQL),
    ),
}


@pytest.mark.parametrize("name", sorted(OFF_REGISTRY_SF))
def test_offregistry_sf_oracle_parity(spark, con, name):
    op, sql = OFF_REGISTRY_SF[name]
    res = compare_query(spark, con, name, op, sql, SF_DIR)
    assert res.ok, f"{name}: {res.spark_rows} vs {res.oracle_rows} | {res.detail}"
    assert res.spark_rows > 0, f"{name}: degenerate (empty) result proves nothing"


@pytest.mark.slow
@pytest.mark.parametrize(
    "name",
    sorted(OFF_REGISTRY) + sorted(OFF_REGISTRY_EMB) + sorted(OFF_REGISTRY_SF),
)
def test_offregistry_parity_sf001(spark, name):
    # Same gate at the driver's t2 scale (sf0.01), slow-marked like the
    # registry variant.
    sf_mid = f"{TESTDATA}/sf0.01"
    if name in OFF_REGISTRY:
        op, sql = OFF_REGISTRY[name]
        fn = _on_docs(op)
    elif name in OFF_REGISTRY_EMB:
        op, sql = OFF_REGISTRY_EMB[name]
        fn = _on_embs(op)
    else:
        fn, sql = OFF_REGISTRY_SF[name]
    c = duck_connection(sf_mid)
    try:
        res = compare_query(spark, c, name, fn, sql, sf_mid)
        assert res.ok, f"{name}: {res.spark_rows} vs {res.oracle_rows} | {res.detail}"
        assert res.spark_rows > 0, f"{name}: degenerate at sf0.01"
    finally:
        c.close()
