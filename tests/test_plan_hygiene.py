"""Full-surface plan hygiene: every queries() entry is planned and
scanned for the anti-patterns this engine bans (docs/ARCHITECTURE.md):

- BatchEvalPython (row-at-a-time Python UDF) — banned everywhere;
- ArrowEvalPython / mapInPandas — allowed only where Python is the
  point (multimodal feature extraction);
- BroadcastNestedLoopJoin / CartesianProduct — allowed only where a
  nested loop against a tiny broadcast side IS the chosen plan
  (range-join classification against a constant band dim; brute-force
  cosine where the query set broadcasts by design).

A new query that silently ships a slow join or a Python UDF fails
here, not in review.
"""

import io
from contextlib import redirect_stdout

import pytest

import __spark_entry__ as entrymod

# queries whose DataFrame construction runs real jobs (iterative
# fixpoints, repair writes, k-means fits) — planned like the rest but
# listed so a future skip decision is explicit; at sf0.001 they cost
# seconds.
NESTED_LOOP_OK = {
    "price_bands",  # broadcast nested-loop vs a 4-row constant band dim
    "emb_cosine_topk",  # corpus × broadcast(query set): exact baseline
    "emb_quantized_topk",  # same shape, int8 corpus
    "emb_ivf_topk",  # probe×bucket candidate pairing vs broadcast probes
    "emb_ivf_trained_topk",
    "emb_ivf_appended_topk",  # same coarse-assignment shape over the
    # base/append split + broadcast(3-query probe set) at search
    "ann_recall",  # the exact ground-truth pass IS brute-force by
    # design: corpus × broadcast(sampled query set), evaluation-only
    "ann_recall_curve",  # same exact-ground-truth brute pass, shared
    # across the whole nprobe sweep; the swept side joins equi on bucket
    "doc_lm_buckets",  # inherits doc_unigram_logprob's 1-row
    # total-token broadcast scalar
    "doc_lm_score_backoff",  # 1-row trained-LM token total rides a
    # broadcast crossJoin into the backoff branch
    "doc_lm_score_tri",  # same 1-row token-total broadcast scalar in
    # the order-3 backoff ladder; every census join is equi
    "emb_hybrid_rrf",  # dense side is brute_force_topk's corpus x
    # broadcast(query set) evaluation baseline; sparse/fusion joins
    # are equi on (term) / (q_id, doc_id)
    "emb_hybrid_eval",  # wraps the same brute evaluation baselines
    # (results + ground truth) plus a 1-row broadcast IDCG scalar;
    # the hits join and metric groupBy are equi over k-bounded tables
    "doc_source_nb",  # NB scoring expands tf x the broadcast source
    # dimension (n_sources rows) + a 1-row vocab-size scalar; the
    # census join itself is equi on (source, term)
    "doc_source_nb_confusion",  # the same NB scoring pass (same
    # allowlisted scalars) under a dimension²-bounded groupBy
    "doc_source_nb_sparse",  # the sparse identity keeps the broadcast
    # source dimension only on the per-(doc, source) BASE grid
    # (dl·lp_miss rows — no term dimension) + the 1-row vocab scalar;
    # the present-term join is EQUI on term (the sparse win)
    "doc_source_nb_indexed",  # the same NB scoring tail served from
    # the model at rest: broadcast src_stats dimension + 1-row vocab
    # scalar; the census join is equi on (source, term)
    "doc_source_nb_appended",  # identical serve plan over the
    # ledgered (base + appended-batch) partials — the same
    # allowlisted scalars
    "doc_resampled_mix",  # two 1-row broadcast scalars (the α-power
    # normalizer + the kept-total); the weight join onto the corpus
    # is equi on source
    "doc_unigram_logprob",  # 1-row total-token broadcast scalar
    "doc_source_mix",  # 1-row (n_total, n_sources) broadcast scalar
    "doc_temperature_mix",  # two 1-row broadcast scalars (total +
    # alpha-power normalizer) over the dimension-sized source table
    "doc_neardup_quality",  # three 1-row count scalars crossJoined
    "doc_neardup_curve",  # the broadcast threshold grid (6 rows) and
    # the 1-row n_truth scalar ride crossJoins over the tiny verified-
    # pair table; the LSH/verify pipeline itself is all equi joins
    "doc_tfidf_terms",  # 1-row corpus-size broadcast scalar
    "emb_ivf_pq_topk",  # coarse-quantizer assignment: corpus × broadcast centroids
    "emb_ivfadc_topk",  # same coarse-assignment shape, residual variant
    "emb_ivfadc_rerank_topk",  # ADC shortlist inherits the ivfadc
    # coarse-assignment shape; the re-rank itself joins equi on
    # vec_id/q_id with the tiny shortlist broadcast
    "emb_semdedup",  # coarse assignment: corpus × broadcast trained
    # centroids (k rows); the dedup pair join itself is equi on cluster
    "emb_ivfpq_appended_topk",  # same probe/search shape over the
    # base+append split (frozen-quantizer index growth)
    "emb_ivfpq_indexed_topk",  # probe_buckets_l2: queries × broadcast
    # coarse centroids (k_coarse rows) — the candidate scoring itself
    # joins equi on (bucket) and (q_id, subspace, code)
    "emb_neardup",  # bucket-local pairing joins on bucket equi-key, but
    # the per-bucket pair condition (vec_a < vec_b) is non-equi
    # 1-row broadcast scalar subqueries (crossJoin(broadcast(agg)) — the
    # no-collect scalar idiom, VERDICT r1 item 7) plan as a Cross BNLJ
    # with a single-row build side:
    "readme_window",
    "tpch_q22",
    "tpch_q15",  # 1-row max-revenue broadcast scalar
    "tpch_q11",  # 1-row 3x-mean threshold broadcast scalar
    "doc_heavy_hitters",  # 1-row total-count broadcast scalar
    "doc_bm25_topk",  # 1-row (n_docs, avgdl) broadcast scalar pair
    "doc_bm25_indexed_topk",  # same 1-row stats scalar, read from the
    # stored index; postings/df joins are equi
    "doc_bm25_appended_topk",  # identical serve plan over the
    # ledgered (base + appended-batch) layout — the same 1-row
    # combined-stats scalar
    "emb_hybrid_indexed_rrf",  # the same two allowlisted scalars its
    # components carry: the BM25 1-row stats crossJoin (sparse side)
    # and probe_buckets_l2's queries × broadcast(centroids) pairing
    # (dense side); every corpus-sized join is equi on
    # term / doc_id / bucket / (q_id, subspace, code)
}
ARROW_OK = {
    "multimodal_features",
    "multimodal_frames",
    "multimodal_headers",  # the real PNG/WAV header decode is the
    # Python-is-the-point Arrow stage by design (VERDICT r11 #7)
    "multimodal_samples",  # real WAV-PCM16/BMP payload decode —
    # numpy byte math over Arrow batches (VERDICT r13 #2)
    "multimodal_png_pixels",  # real PNG inflate + unfilter (stdlib
    # zlib + numpy) — Python-is-the-point by design (r14)
    "multimodal_gif_pixels",  # real GIF LZW pixel decode (pure
    # Python over Arrow batches) — same rationale (r14)
    "multimodal_jpeg_pixels",  # real baseline-JPEG Huffman + IDCT
    # decode (pure Python over Arrow batches) — same rationale (r14)
}


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_plan_has_no_banned_operators(spark, sf_dir, name):
    df = entrymod.queries()[name](spark, sf_dir)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if name not in ARROW_OK:
        assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan, (
            f"{name}: unexpected Python stage"
        )
    if name not in NESTED_LOOP_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: unexpected nested-loop join"
        )
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"


def test_lm_buckets_default_path_is_window_free(spark, sf_dir):
    """VERDICT r11 #6: the library DEFAULT of lm_quality_buckets is
    the sampled-threshold sketch path — no Window, no ntile, no
    single-task global sort for a caller who doesn't ask for the
    exact/oracle path by name."""
    import re

    from trade_data_collection_service_spark.ext.text import (
        lm_quality_buckets,
    )

    plan = _plan(lm_quality_buckets(spark, sf_dir))
    assert "Window" not in plan
    assert not re.search(r"(?<![a-z_])ntile\(", plan)
    assert "percentile_approx" in plan
