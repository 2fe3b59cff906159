"""ANN quality gates: both approximate paths (IVF cells, LSH bands) must
return full top-k shape and achieve meaningful recall against the exact
scan.  The fixture embeddings are near-orthogonal random vectors — the
hardest case for locality pruning — so the floors are deliberately modest;
on real clustered embeddings both paths recall far higher."""

from __future__ import annotations

import numpy as np
import pytest

from dataengineer_scripts_spark import registry
from dataengineer_scripts_spark.operators import llm

DEFS = registry.definitions()


def _pairs(df):
    return {(r.query_id, r.neighbor_id) for r in df.collect()}


@pytest.mark.parametrize(
    "name,floor",
    [("x_llm_ann_ivf", 0.5), ("x_llm_ann_lsh", 0.25),
     # ADC over a 16-entry codebook on worst-case random vectors: rank
     # shifts from quantization error dominate; measured 0.18-0.28
     # across sf0.001-0.1
     ("x_llm_pq_adc_topk", 0.1)]
)
def test_ann_recall_vs_exact(spark, sf_dir, name, floor):
    exact = _pairs(DEFS["x_llm_knn_cosine"].fn(spark, sf_dir))
    approx_df = DEFS[name].fn(spark, sf_dir)
    approx = _pairs(approx_df)
    assert len(approx) == len(exact)  # full top-k shape: 10 queries × 5
    recall = len(exact & approx) / len(exact)
    assert recall >= floor, f"{name} recall {recall:.2f} < {floor}"
    # every reported rank group is a valid 1..k ranking
    ranks = [(r.query_id, r.rank) for r in approx_df.collect()]
    by_q = {}
    for q, rk in ranks:
        by_q.setdefault(q, []).append(rk)
    assert all(sorted(v) == list(range(1, 6)) for v in by_q.values())


def test_adc_scores_companion_agrees_with_topk(spark, sf_dir):
    """The oracle-checked ADC companion must reproduce the rows-only
    top-k op's scores: both run ``_pq_adc``'s integer path, so for every
    top-k pair of a shared query the reported double is exactly the
    companion's micro-integer over 1e6.  This is the local half of the
    r08 attestation bridge — the driver hash-matches the companion, this
    test pins the companion to the production op."""
    from dataengineer_scripts_spark.operators.llm import ADC_ORACLE_QUERIES

    micro = {
        (r.query_id, r.neighbor_id): r.adc_micro
        for r in DEFS["x_llm_pq_adc_scores"].fn(spark, sf_dir).collect()
    }
    topk = [
        r
        for r in DEFS["x_llm_pq_adc_topk"].fn(spark, sf_dir).collect()
        if r.query_id < ADC_ORACLE_QUERIES
    ]
    assert topk  # shared queries exist
    for r in topk:
        assert round(r.adc_score * 1e6) == micro[(r.query_id, r.neighbor_id)]


def _frozen_ivf(spark, e, k):
    rows = llm._ann_model_rows(e, max(llm.IVF_CELLS, llm.KNN_N_QUERIES))
    cmat = np.array([r.e for r in rows if r.vec_id < llm.IVF_CELLS])
    qrows = [r for r in rows if r.vec_id < llm.KNN_N_QUERIES]
    return llm._ann_topk(llm._ivf_search(spark, e, cmat, qrows, k), "cosine")


def _frozen_lsh(spark, e, k):
    rows = llm._ann_model_rows(e, max(llm.LSH_PLANES, llm.KNN_N_QUERIES))
    planes = np.array([r.e for r in rows if r.vec_id < llm.LSH_PLANES])
    qrows = [r for r in rows if r.vec_id < llm.KNN_N_QUERIES]
    return llm._ann_topk(llm._lsh_search(spark, e, planes, qrows, k), "cosine")


def _frozen_pq(spark, e, k):
    rows = llm._ann_model_rows(e, max(llm.PQ_K, llm.KNN_N_QUERIES))
    _, cb = llm._pq_codebook(rows)
    qrows = [r for r in rows if r.vec_id < llm.KNN_N_QUERIES]
    return llm._ann_topk(llm._pq_adc(e, cb, qrows, k), "adc_micro")


@pytest.mark.parametrize("search", [_frozen_ivf, _frozen_lsh, _frozen_pq])
def test_partial_topk_is_exact(spark, sf_dir, search):
    """Each search kernel's partition-local top-k loses nothing: under the
    companion's frozen model, ranking the k-per-batch partials gives the
    same rows as ranking the full score set the companion emits."""
    e = llm._normalized(spark, sf_dir)
    full = sorted(search(spark, e, None).collect())
    assert len(full) == llm.KNN_N_QUERIES * llm.KNN_K
    assert sorted(search(spark, e, llm.KNN_K).collect()) == full
