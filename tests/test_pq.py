"""Product-quantization index: codebook shape, build-once layout reuse,
encode determinism, and ADC == exact subspace-distance sum. Oracle
parity for `ann_pq_adc` is covered by test_oracle_parity.py."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from roapi_spark.functions.pq import (
    PQ_K,
    PQ_M,
    PQ_SUBDIM,
    _prepared,
    ann_pq_adc,
    pq_fit,
    pq_layout,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def cache_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pq_cache"))
    os.environ["SPARK_GRAFT_CACHE_DIR"] = d
    yield d
    del os.environ["SPARK_GRAFT_CACHE_DIR"]


def test_codebook_shape_and_grid(spark, cache_dir):
    books = pq_fit(spark, SF)
    assert len(books) == PQ_M
    for book in books:
        assert len(book) == PQ_K
        assert all(len(cw) == PQ_SUBDIM for cw in book)
        assert all(isinstance(x, int) for cw in book for x in cw)


def test_layout_builds_once_and_reuses(spark, cache_dir):
    out1, books1 = pq_layout(spark, SF)
    mtime = os.path.getmtime(os.path.join(out1, "_books.json"))
    out2, books2 = pq_layout(spark, SF)
    assert out1 == out2 and books1 == books2
    assert os.path.getmtime(os.path.join(out2, "_books.json")) == mtime


def test_adc_equals_exact_subspace_sum(spark, cache_dir):
    """The ADC distance of (query, neighbor) must equal the sum over
    subspaces of the query-to-codeword squared distance for the
    neighbor's code — recomputed independently here in plain Python."""
    out, books = pq_layout(spark, SF)
    codes = {
        int(r.vec_id): [int(r[f"c{m}"]) for m in range(PQ_M)]
        for r in spark.read.parquet(out).collect()
    }
    eq = {int(r.vec_id): list(r.vq) for r in _prepared(spark, SF).collect()}
    res = ann_pq_adc(spark, SF).collect()
    assert res
    for r in res:
        vq = eq[r.qid]
        expect = 0
        for m in range(PQ_M):
            sv = vq[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
            cw = books[m][codes[r.neighbor_id][m]]
            expect += sum((int(a) - int(b)) ** 2 for a, b in zip(sv, cw))
        assert r.adc_dist == expect


def test_topk_per_query(spark, cache_dir):
    from roapi_spark.functions.similarity import N_QUERIES, TOP_K

    rows = ann_pq_adc(spark, SF).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.qid, []).append(r.rnk)
    assert set(per_q) == set(range(N_QUERIES))
    for rnks in per_q.values():
        assert sorted(rnks) == list(range(1, TOP_K + 1))


def test_ivfpq_candidates_stay_in_coarse_cell(spark, cache_dir):
    from pyspark.sql import functions as F

    from roapi_spark.functions.pq import ann_ivfpq
    from roapi_spark.functions.similarity import (
        N_QUERIES, _assign_expr, _vq_col, emb, ivf_layout,
    )

    out = ann_ivfpq(spark, SF).collect()
    assert out
    _, cents = ivf_layout(spark, SF)
    cid = {
        int(r.vec_id): int(r.cid)
        for r in emb(spark, SF)
        .withColumn("vq", _vq_col())
        .withColumn("cid", _assign_expr(cents))
        .select("vec_id", "cid")
        .collect()
    }
    for r in out:
        assert cid[r.neighbor_id] == cid[r.qid]
        assert r.neighbor_id != r.qid


def test_ivfpq_rerank_subset_and_exact_order(spark):
    """The reranked top-k must (a) come from the ADC candidate pool,
    (b) be ordered by EXACT integer L2 (verified independently against
    the quantized vectors), and (c) never pair a query with itself."""
    from roapi_spark.functions.pq import RERANK_C, ann_ivfpq_rerank, _ivfpq_scored
    from roapi_spark.functions.similarity import _vq_col, emb

    out = ann_ivfpq_rerank(spark, SF).collect()
    assert out
    vq = {
        int(r.vec_id): [int(x) for x in r.vq]
        for r in emb(spark, SF).withColumn("vq", _vq_col()).select("vec_id", "vq").collect()
    }
    scored, _, _, _ = _ivfpq_scored(spark, SF)
    pool = {(r.qid, r.neighbor_id) for r in scored.collect()}
    by_q: dict = {}
    for r in out:
        assert (r.qid, r.neighbor_id) in pool
        assert r.neighbor_id != r.qid
        want = sum((a - b) ** 2 for a, b in zip(vq[r.qid], vq[r.neighbor_id]))
        assert r.exact_dist == want
        by_q.setdefault(r.qid, []).append((r.rnk, r.exact_dist, r.neighbor_id))
    for rows in by_q.values():
        rows.sort()
        dists = [(d, n) for _, d, n in rows]
        assert dists == sorted(dists)  # exact-dist order, id tie-break


def test_rerank_recall_dominates_raw_adc(spark):
    """The refine stage exists to recover ADC's quantization loss: on
    the test corpus reranked recall@5 must be >= the raw ADC recall."""
    from roapi_spark.functions.retrieval import q_pq_recall, q_pq_rerank_recall

    raw = q_pq_recall(spark, SF).collect()[0].recall_at_5
    rer = q_pq_rerank_recall(spark, SF).collect()[0].recall_at_5
    assert rer >= raw
