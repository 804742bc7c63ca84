"""Behavior + plan-shape tests for the batch-10 selection/rewrite
operators (DSIR weights, span rewrite, token-budget shards). Oracle
parity at sf0.001 is covered generically by test_oracle_parity."""

from __future__ import annotations

import hashlib

import pyarrow as pa
import pyarrow.parquet as pq

from roapi_spark.functions.curation import (
    SHARD_BUDGET,
    dedup_span_rewrite,
    q_dsir_weights,
    q_token_budget_shards,
)

SF = "/root/testdata/sf0.001"


def _write_docs(tmp_path, texts_by_source):
    doc_id, text, source = [], [], []
    i = 0
    for src, texts in texts_by_source.items():
        for t in texts:
            doc_id.append(i)
            text.append(t)
            source.append(src)
            i += 1
    tbl = pa.table(
        {
            "doc_id": pa.array(doc_id, type=pa.int64()),
            "text": pa.array(text),
            "lang": pa.array(["en"] * len(text)),
            "source": pa.array(source),
            "n_chars": pa.array([len(t) for t in text], type=pa.int64()),
        }
    )
    pq.write_table(tbl, tmp_path / "documents.parquet")
    return str(tmp_path)


SHARED8 = "a b c d e f g h"  # one exact 8-token span shared by two docs


def test_span_rewrite_cuts_only_covered_positions(spark, tmp_path):
    d = _write_docs(
        tmp_path,
        {
            "s": [
                SHARED8 + " ua ub uc",  # span at positions 0..7
                "va vb vc " + SHARED8,  # span at positions 3..10
                "wa wb wc",  # shorter than K: no grams, untouched
            ]
        },
    )
    out = {r.doc_id: r for r in dedup_span_rewrite(spark, d).collect()}
    assert (out[0].n_tokens, out[0].n_kept, out[0].clean_text) == (11, 3, "ua ub uc")
    assert (out[1].n_tokens, out[1].n_kept, out[1].clean_text) == (11, 3, "va vb vc")
    assert (out[2].n_tokens, out[2].n_kept, out[2].clean_text) == (3, 3, "wa wb wc")


def test_span_rewrite_identical_docs_fully_cut(spark, tmp_path):
    t = "p q r s t u v w x y"  # 10 tokens; starts 0..2 cover positions 0..9
    d = _write_docs(tmp_path, {"s": [t, t]})
    for r in dedup_span_rewrite(spark, d).collect():
        assert (r.n_tokens, r.n_kept, r.clean_text) == (10, 0, "")


def test_dsir_separates_target_like_docs(spark, tmp_path):
    # src0 (the target) speaks only "alpha"; src1 speaks "beta" except one
    # doc that speaks "alpha" — DSIR should rank exactly that doc
    # target-like (positive weight) and the beta docs negative.
    d = _write_docs(
        tmp_path,
        {
            "src0": ["alpha alpha alpha"] * 3,
            "src1": ["beta beta beta"] * 3 + ["alpha alpha"],
            "src2": ["123 456"],  # zero tokens: counts, with weight 0
        },
    )
    rows = {r.source: r for r in q_dsir_weights(spark, d).collect()}
    assert rows["src0"].sel_rate == 1.0 and rows["src0"].avg_weight > 0
    # 1 of 4 src1 docs is target-like
    assert rows["src1"].sel_rate == 0.25
    assert rows["src1"].avg_weight < rows["src0"].avg_weight
    assert (rows["src2"].n_docs, rows["src2"].avg_weight, rows["src2"].sel_rate) == (
        1,
        0.0,
        0.0,
    )


def test_shard_manifest_matches_driver_side_reference(spark):
    # independent reference: same md5 order + greedy packing in Python
    rows = (
        spark.read.parquet(SF + "/documents.parquet")
        .selectExpr(
            "doc_id",
            "size(filter(split(lower(text), '[^a-z]+'), x -> length(x) > 0)) AS n",
        )
        .collect()
    )
    docs = sorted(
        (hashlib.md5(str(r.doc_id).encode()).hexdigest(), r.doc_id, r.n)
        for r in rows
    )
    ref: dict[int, list[int]] = {}
    cum = 0
    for _h, _i, n in docs:
        ref.setdefault(cum // SHARD_BUDGET, []).append(n)
        cum += n
    got = {
        r.shard: (r.n_docs, r.n_tokens)
        for r in q_token_budget_shards(spark, SF).collect()
    }
    assert got == {s: (len(v), sum(v)) for s, v in ref.items()}


def test_shard_prefix_sum_is_distributed(spark):
    # the scale-critical property: the running sum must come from a
    # bucket-partitioned window, never an Exchange SinglePartition
    plan = (
        q_token_budget_shards(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in plan
    assert "Window" in plan and "[bkt" in plan


def test_span_rewrite_shuffles_digests_not_gram_text(spark):
    plan = (
        dedup_span_rewrite(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the gram tally's exchange key is the md5 digest column g
    assert "hashpartitioning(g#" in plan


def test_split_leakage_counts_boundary_pairs(spark, tmp_path, monkeypatch):
    # route the snapshot cache into the test tmp dir so the tiny corpus
    # gets its own artifact
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    # two exact near-dup twins land in whichever splits md5 assigns;
    # verify against a driver-side recomputation of the same rule
    t = "qa qb qc qd qe qf qg qh qi qj"
    d = _write_docs(tmp_path, {"s": [t, t, "ra rb rc rd re rf rg rh"]})
    from roapi_spark.functions.curation import (
        SPLIT_TRAIN_PCT,
        SPLIT_VAL_PCT,
        q_split_leakage,
    )

    def split_of(doc_id: int) -> str:
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100
        return "train" if b < SPLIT_TRAIN_PCT else "val" if b < SPLIT_VAL_PCT else "test"

    sa, sb = sorted([split_of(0), split_of(1)])
    out = {(r.split_a, r.split_b): r.n_pairs for r in q_split_leakage(spark, d).collect()}
    assert out == {(sa, sb): 1}


def test_span_rewrite_served_skips_gram_tally(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    t = "sa sb sc sd se sf sg sh si"
    d = _write_docs(tmp_path, {"s": [t, t, "ta tb tc"]})
    from roapi_spark.functions.curation import dedup_span_rewrite_served

    out = dedup_span_rewrite_served(spark, d)
    got = {r.doc_id: (r.n_kept, r.clean_text) for r in out.collect()}
    assert got == {0: (0, ""), 1: (0, ""), 2: (3, "ta tb tc")}
    # serve plan reads the artifact: no gram-digest exchange anywhere
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(g#" not in plan
    # FileScan of the cached (doc_id, p) artifact (path is truncated in
    # the plan string, so pin the scan schema instead)
    assert "ReadSchema: struct<doc_id:bigint,p:int>" in plan


def test_shard_assign_oversized_doc_stays_one_shard(spark, tmp_path):
    # greedy packing assigns by START offset: a doc larger than the
    # budget inflates its own shard rather than splitting (shards are
    # document-atomic — the training loader owns intra-doc chunking),
    # and the NEXT doc starts a fresh shard
    from roapi_spark.functions.curation import SHARD_BUDGET, shard_assign

    big = " ".join(
        f"w{chr(97 + i % 26)}{chr(97 + (i // 26) % 26)}"
        for i in range(2 * SHARD_BUDGET)
    )
    # md5('1') < md5('2') < md5('0'): give the oversized text doc_id 1 so
    # it packs FIRST and the skip-two-budgets assertion actually runs
    d = _write_docs(tmp_path, {"s": ["xa xb xc", big, "ya yb yc yd"]})
    got = {r.doc_id: r.shard for r in shard_assign(spark, d).collect()}
    # Python reference: md5 order, cumulative start offsets, atomic docs
    ntoks = {0: 3, 1: 2 * SHARD_BUDGET, 2: 4}
    order = sorted(ntoks, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    assert order[0] == 1, "fixture invariant: the oversized doc packs first"
    expected, cum = {}, 0
    for i in order:
        expected[i] = cum // SHARD_BUDGET
        cum += ntoks[i]
    assert got == expected
    # the doc after the oversized one skipped the >= 2 budgets it consumed
    assert expected[order[1]] - expected[1] >= 2


def test_dsir_select_skews_target_like(spark, tmp_path, monkeypatch):
    """The executed resampling must admit target-like docs at a higher
    rate: the accepted set's mean weight dominates the pool's, and a
    source full of target-domain text out-selects an off-domain one."""
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    from roapi_spark.functions.curation import q_dsir_select, q_dsir_weights

    target_text = "alpha beta gamma delta epsilon zeta eta theta"
    off_text = "zulu yankee xray whiskey victor uniform tango sierra"
    d = _write_docs(
        tmp_path,
        {
            "src0": [target_text] * 6,          # the target domain proxy
            "srcA": [target_text] * 4 + [off_text],
            "srcB": [off_text] * 5,
        },
    )
    sel = {r.source: r for r in q_dsir_select(spark, d).collect()}
    w = {r.source: r for r in q_dsir_weights(spark, d).collect()}
    # target-like source admits more than the off-domain source
    assert sel["srcA"].sel_frac > sel["srcB"].sel_frac
    assert sel["srcB"].n_selected == 0  # negative weights never accept
    # accepted docs are at least as target-like as the pool average
    for s in ("src0", "srcA"):
        if sel[s].n_selected:
            assert sel[s].avg_w_selected >= w[s].avg_weight - 1e-9
