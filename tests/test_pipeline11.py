"""Behavior tests for the batch-11 second-order audits. Oracle parity
at sf0.001 is covered generically by test_oracle_parity."""

from __future__ import annotations

from tests.test_pipeline10 import SHARED8, _write_docs


def test_rewrite_impact_localizes_boilerplate(spark, tmp_path):
    # srcA's two docs share an 8-token span (cut in both); srcB is clean
    from roapi_spark.functions.curation import q_rewrite_impact

    d = _write_docs(
        tmp_path,
        {
            "srcA": [SHARED8 + " ua ub uc", SHARED8 + " vd ve vf"],
            "srcB": ["wa wb wc wd we wf wg wh wi wj"],
        },
    )
    out = {r.source: r for r in q_rewrite_impact(spark, d).collect()}
    assert out["srcA"].tokens_removed == 16 and out["srcA"].tokens_before == 22
    assert out["srcB"].tokens_removed == 0 and out["srcB"].removal_rate == 0.0


def test_shard_mixture_single_source_entropy_zero(spark, tmp_path):
    from roapi_spark.functions.curation import q_shard_mixture

    d = _write_docs(tmp_path, {"only": ["aa bb cc"] * 6})
    for r in q_shard_mixture(spark, d).collect():
        assert (r.n_sources, r.source_entropy) == (1, 0.0)


def test_dup_quality_bias_flags_pair_members(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    from roapi_spark.functions.curation import q_dup_quality_bias

    t = "qa qb qc qd qe qf qg qh qi qj"
    d = _write_docs(tmp_path, {"s": [t, t, "ra rb rc rd re rf rg rh"]})
    out = {r.is_dup: r for r in q_dup_quality_bias(spark, d).collect()}
    assert out[True].n_docs == 2 and out[False].n_docs == 1
    assert out[True].avg_tokens == 10.0 and out[False].avg_tokens == 8.0


def test_curation_funnel_doc_stages_match_dedup_funnel(spark):
    # the curation funnel's doc stages must be exactly q_dedup_funnel's
    # (both now derive from funnel_survivors / _FUNNEL_DUCK)
    from roapi_spark.functions.curation import q_curation_funnel, q_dedup_funnel

    sf = "/root/testdata/sf0.001"
    a = q_dedup_funnel(spark, sf).collect()[0]
    b = q_curation_funnel(spark, sf).collect()[0]
    assert (a.n_docs, a.n_after_exact, a.n_after_near) == (
        b.n_docs,
        b.n_after_exact,
        b.n_after_near,
    )
    assert 0 < b.tokens_shipped <= b.tokens_total
    assert 0.0 < b.pct_tokens_kept <= 1.0
