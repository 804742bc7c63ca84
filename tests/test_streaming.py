"""Structured Streaming tests: file micro-batches -> windowed agg with
watermark; stateful sessionization via applyInPandasWithState."""

from __future__ import annotations

import json

import pytest

from roapi_spark.streaming.events import sessionize, stream_events, windowed_counts


def _write_batch(d, name, rows):
    (d / name).write_text("\n".join(json.dumps(r) for r in rows))


@pytest.fixture
def stream_dir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    _write_batch(
        d,
        "b1.json",
        [
            {"event_id": 1, "ts": "2024-01-01T00:00:10", "user_id": 7, "event_type": "click", "value": 1.0, "props": "{}"},
            {"event_id": 2, "ts": "2024-01-01T00:00:40", "user_id": 7, "event_type": "click", "value": 2.0, "props": "{}"},
            {"event_id": 3, "ts": "2024-01-01T00:01:10", "user_id": 8, "event_type": "view", "value": 5.0, "props": "{}"},
        ],
    )
    return d


def test_windowed_counts_with_watermark(spark, stream_dir, tmp_path):
    q = (
        windowed_counts(stream_events(spark, str(stream_dir)), "1 minute", "2 minutes")
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .start()
    )
    try:
        q.processAllAvailable()
        # append mode emits only watermark-closed windows; feed a late-moving
        # second batch to push the watermark past the first windows
        _write_batch(
            stream_dir,
            "b2.json",
            [{"event_id": 9, "ts": "2024-01-01T00:10:00", "user_id": 9, "event_type": "click", "value": 0.5, "props": "{}"}],
        )
        q.processAllAvailable()
        rows = {
            (r.window_start.isoformat(), r.event_type): (r.n, r.sum_value)
            for r in spark.sql("SELECT * FROM win_counts").collect()
        }
        assert rows[("2024-01-01T00:00:00", "click")] == (2, 3.0)
        assert rows[("2024-01-01T00:01:00", "view")] == (1, 5.0)
    finally:
        q.stop()


def test_sessionize_stateful(spark, stream_dir, tmp_path):
    # Event-time timeouts: sessions close when the WATERMARK passes
    # last-event + 30 s gap — deterministic, no wall-clock sleep.  Keep the
    # state-store partition count tiny so each micro-batch checkpoints 2
    # partitions, not 32.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        q = (
            sessionize(stream_events(spark, str(stream_dir)), watermark="10 seconds")
            .writeStream.format("memory")
            .queryName("sessions")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    try:
        q.processAllAvailable()
        # watermark so far: 00:01:10 - 10s = 00:01:00 < both session closes
        # (00:01:10 for user 7, 00:01:40 for user 8) -> nothing emitted yet
        open_rows = spark.sql("SELECT * FROM sessions").collect()
        assert open_rows == []
        # an event far in the future pushes the watermark past both closes
        _write_batch(
            stream_dir,
            "b3.json",
            [{"event_id": 10, "ts": "2024-01-01T00:05:00", "user_id": 99, "event_type": "click", "value": 0.1, "props": "{}"}],
        )
        q.processAllAvailable()
        rows = {r.user_id: (r.n_events, r.total_value) for r in spark.sql("SELECT * FROM sessions").collect()}
        assert rows.get(7) == (2, 3.0)
        assert rows.get(8) == (1, 5.0)
        # user 99's session is still open (watermark has not passed it)
        assert 99 not in rows
    finally:
        q.stop()


def test_dedup_stream(spark, tmp_path):
    # replayed event_ids collapse to one row; state bounded by watermark
    d = tmp_path / "din"
    d.mkdir()
    _write_batch(
        d,
        "b1.json",
        [
            {"event_id": 1, "ts": "2024-01-01T00:00:10", "user_id": 7, "event_type": "click", "value": 1.0, "props": "{}"},
            {"event_id": 1, "ts": "2024-01-01T00:00:10", "user_id": 7, "event_type": "click", "value": 1.0, "props": "{}"},
            {"event_id": 2, "ts": "2024-01-01T00:00:20", "user_id": 8, "event_type": "view", "value": 2.0, "props": "{}"},
        ],
    )
    from roapi_spark.streaming.events import dedup_stream

    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        q = (
            dedup_stream(stream_events(spark, str(d)))
            .writeStream.format("memory")
            .queryName("dedup_s")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckd"))
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    try:
        q.processAllAvailable()
        # a replay of id 1 in a later micro-batch is also dropped (still
        # within the watermark horizon)
        _write_batch(
            d,
            "b2.json",
            [{"event_id": 1, "ts": "2024-01-01T00:00:10", "user_id": 7, "event_type": "click", "value": 1.0, "props": "{}"}],
        )
        q.processAllAvailable()
        ids = sorted(r.event_id for r in spark.sql("SELECT * FROM dedup_s").collect())
        assert ids == [1, 2]
    finally:
        q.stop()


def test_click_view_interval_join(spark, tmp_path):
    d = tmp_path / "jin"
    d.mkdir()
    _write_batch(
        d,
        "b1.json",
        [
            {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 7, "event_type": "click", "value": 1.0, "props": "{}"},
            {"event_id": 2, "ts": "2024-01-01T00:00:30", "user_id": 7, "event_type": "view", "value": 0.0, "props": "{}"},
            {"event_id": 3, "ts": "2024-01-01T00:02:00", "user_id": 7, "event_type": "view", "value": 0.0, "props": "{}"},
            {"event_id": 4, "ts": "2024-01-01T00:00:30", "user_id": 8, "event_type": "view", "value": 0.0, "props": "{}"},
        ],
    )
    from roapi_spark.streaming.events import click_view_interval_join

    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        q = (
            click_view_interval_join(stream_events(spark, str(d)))
            .writeStream.format("memory")
            .queryName("cv_join")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckj"))
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    try:
        q.processAllAvailable()
        rows = {(r.click_id, r.view_id) for r in spark.sql("SELECT * FROM cv_join").collect()}
        # view 2 is within 1 minute of click 1 for the same user; view 3 is
        # too late, view 4 is another user
        assert rows == {(1, 2)}
    finally:
        q.stop()


def test_anomaly_stream(spark, tmp_path):
    # baseline clicks around 1.0, then a 100.0 spike -> exactly that row
    # flagged; the 'view' key keeps its own independent EWMA
    d = tmp_path / "ain"
    d.mkdir()
    base = [
        {"event_id": i, "ts": f"2024-01-01T00:00:{10 + i:02d}", "user_id": 1,
         "event_type": "click", "value": v, "props": "{}"}
        for i, v in enumerate([1.0, 1.2, 0.9, 1.1])
    ]
    base.append({"event_id": 50, "ts": "2024-01-01T00:00:05", "user_id": 2,
                 "event_type": "view", "value": 500.0, "props": "{}"})
    _write_batch(d, "b1.json", base)
    from roapi_spark.streaming.events import anomaly_stream

    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        q = (
            anomaly_stream(stream_events(spark, str(d)))
            .writeStream.format("memory")
            .queryName("anoms")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "cka"))
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM anoms").collect() == []  # warmup only
        _write_batch(
            d,
            "b2.json",
            [
                {"event_id": 10, "ts": "2024-01-01T00:00:20", "user_id": 1,
                 "event_type": "click", "value": 100.0, "props": "{}"},
                {"event_id": 11, "ts": "2024-01-01T00:00:21", "user_id": 1,
                 "event_type": "click", "value": 1.0, "props": "{}"},
            ],
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM anoms").collect()
        assert [(r.event_type, r.event_id) for r in rows] == [("click", 10)]
        assert rows[0].zscore > 3.0
    finally:
        q.stop()


def test_stream_static_enrichment_rollup(spark, tmp_path):
    # stream-static join: events enriched with a static user->segment dim
    # (stateless, broadcast), then a per-(window, segment) rollup — only
    # the window agg holds state
    d = tmp_path / "ein"
    d.mkdir()
    _write_batch(
        d,
        "b1.json",
        [
            {"event_id": 1, "ts": "2024-01-01T00:00:10", "user_id": 7, "event_type": "click", "value": 1.0, "props": "{}"},
            {"event_id": 2, "ts": "2024-01-01T00:00:20", "user_id": 8, "event_type": "click", "value": 2.0, "props": "{}"},
            {"event_id": 3, "ts": "2024-01-01T00:00:40", "user_id": 7, "event_type": "view", "value": 4.0, "props": "{}"},
            {"event_id": 4, "ts": "2024-01-01T00:00:50", "user_id": 99, "event_type": "view", "value": 8.0, "props": "{}"},
        ],
    )
    from roapi_spark.streaming.events import segment_rollup_stream

    dim = spark.createDataFrame(
        [(7, "premium"), (8, "free")], "user_id bigint, segment string"
    )
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        q = (
            segment_rollup_stream(stream_events(spark, str(d)), dim)
            .writeStream.format("memory")
            .queryName("seg_roll")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "cke"))
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    try:
        q.processAllAvailable()
        # close the 00:00-00:01 window by advancing the watermark
        _write_batch(
            d,
            "b2.json",
            [{"event_id": 9, "ts": "2024-01-01T00:05:00", "user_id": 7, "event_type": "click", "value": 0.0, "props": "{}"}],
        )
        q.processAllAvailable()
        rows = {
            (r.segment, r.n, r.sum_value)
            for r in spark.sql("SELECT * FROM seg_roll").collect()
        }
        # premium: events 1+3 (1.0+4.0); free: event 2; unknown user 99 ->
        # NULL segment survives the left join
        assert rows == {("premium", 2, 5.0), ("free", 1, 2.0), (None, 1, 8.0)}
    finally:
        q.stop()


def test_funnel_stream_stateful(spark, tmp_path):
    from roapi_spark.streaming.events import funnel_stream, stream_events

    d = tmp_path / "funnel_src"
    d.mkdir()
    # b1: user 7 signs up + clicks; user 8 clicks BEFORE signing up
    _write_batch(d, "b1.json", [
        {"event_id": 1, "ts": "2024-01-01T00:00:10", "user_id": 7,
         "event_type": "signup", "value": 0.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:00:20", "user_id": 7,
         "event_type": "click", "value": 0.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T00:00:05", "user_id": 8,
         "event_type": "click", "value": 0.0, "props": "{}"},
        {"event_id": 4, "ts": "2024-01-01T00:00:15", "user_id": 8,
         "event_type": "signup", "value": 0.0, "props": "{}"},
    ])
    q = (
        funnel_stream(stream_events(spark, str(d)))
        .writeStream.format("memory")
        .queryName("funnel_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckf"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM funnel_out").count() == 0  # nobody done
        # b2: user 7 purchases (completes); user 8 purchases but never
        # clicked after signup -> still incomplete
        _write_batch(d, "b2.json", [
            {"event_id": 5, "ts": "2024-01-01T00:01:00", "user_id": 7,
             "event_type": "purchase", "value": 9.0, "props": "{}"},
            {"event_id": 6, "ts": "2024-01-01T00:01:00", "user_id": 8,
             "event_type": "purchase", "value": 9.0, "props": "{}"},
        ])
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM funnel_out").collect()
        assert len(rows) == 1
        r = rows[0]
        assert r.user_id == 7
        assert r.seconds_to_convert == 50.0
        assert r.signup_ts.isoformat() == "2024-01-01T00:00:10"
        assert r.purchase_ts.isoformat() == "2024-01-01T00:01:00"
    finally:
        q.stop()


def test_funnel_stream_out_of_order_and_restart(spark, tmp_path):
    """A purchase processed BEFORE its prerequisite click (but admitted
    by the watermark) must still convert once the click lands; events
    after a conversion start a fresh funnel regardless of batching."""
    from roapi_spark.streaming.events import funnel_stream, stream_events

    d = tmp_path / "funnel_ooo"
    d.mkdir()
    _write_batch(d, "b1.json", [
        {"event_id": 1, "ts": "2024-01-01T00:00:10", "user_id": 7,
         "event_type": "signup", "value": 0.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:00:25", "user_id": 7,
         "event_type": "purchase", "value": 0.0, "props": "{}"},
    ])
    q = (
        funnel_stream(stream_events(spark, str(d)))
        .writeStream.format("memory")
        .queryName("funnel_ooo_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cko"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM funnel_ooo_out").count() == 0
        # the click arrives LATER in arrival order but sits between the
        # signup and purchase in event time -> conversion completes
        _write_batch(d, "b2.json", [
            {"event_id": 3, "ts": "2024-01-01T00:00:20", "user_id": 7,
             "event_type": "click", "value": 0.0, "props": "{}"},
        ])
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM funnel_ooo_out").collect()
        assert len(rows) == 1 and rows[0].seconds_to_convert == 15.0
        # a fresh signup after the conversion opens a new funnel
        _write_batch(d, "b3.json", [
            {"event_id": 4, "ts": "2024-01-01T00:02:00", "user_id": 7,
             "event_type": "signup", "value": 0.0, "props": "{}"},
            {"event_id": 5, "ts": "2024-01-01T00:02:10", "user_id": 7,
             "event_type": "click", "value": 0.0, "props": "{}"},
            {"event_id": 6, "ts": "2024-01-01T00:02:20", "user_id": 7,
             "event_type": "purchase", "value": 0.0, "props": "{}"},
        ])
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM funnel_ooo_out ORDER BY signup_ts").collect()
        assert len(rows) == 2
        assert rows[1].seconds_to_convert == 20.0
    finally:
        q.stop()


def test_lsh_match_stream_incremental_dedup(spark, tmp_path):
    # a new exact copy of a corpus doc matches it; novel text matches nothing
    import json as _json

    from roapi_spark.functions.text import docs as corpus_docs
    from roapi_spark.streaming.docs import (
        corpus_band_table,
        lsh_match_stream,
        stream_docs,
    )

    sf = "/root/testdata/sf0.001"
    corpus_text = corpus_docs(spark, sf).filter("doc_id = 0").first()["text"]
    d = tmp_path / "docs_in"
    d.mkdir()
    rows = [
        {"doc_id": 900001, "text": corpus_text, "ts": "2024-01-01T00:00:10"},
        {"doc_id": 900002, "text": "zzqa zzqb zzqc zzqd zzqe zzqf zzqg zzqh",
         "ts": "2024-01-01T00:00:11"},
    ]
    (d / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows))

    bands = corpus_band_table(spark, sf)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        q = (
            lsh_match_stream(stream_docs(spark, str(d)), bands)
            .writeStream.format("memory")
            .queryName("lsh_matches")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckl"))
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM lsh_matches").collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append(r)
        # the exact copy matches doc 0 (all 12 minhashes agree)
        assert 900001 in by_doc
        assert any(r.match_id == 0 and r.n_matches == 12 for r in by_doc[900001])
        # one row per (doc, match) pair — band-level duplicates collapsed
        pairs = [(r.doc_id, r.match_id) for r in out]
        assert len(pairs) == len(set(pairs))
        # novel text matches nothing
        assert 900002 not in by_doc

        # a replayed copy in a later micro-batch is dropped by the
        # pair-keyed watermark dedup
        (d / "b2.json").write_text(_json.dumps(rows[0]))
        q.processAllAvailable()
        out2 = spark.sql("SELECT * FROM lsh_matches").collect()
        pairs2 = [(r.doc_id, r.match_id) for r in out2]
        assert len(pairs2) == len(set(pairs2))
    finally:
        q.stop()


def test_lsh_match_stream_checkpoint_restart(spark, tmp_path):
    """Durable-sink restart: the matcher recovers source offsets AND the
    pair-dedup state from its checkpoint, so a replay arriving after the
    restart emits no duplicate pair rows (memory sinks cannot recover —
    this leg uses a parquet sink)."""
    import json as _json

    from roapi_spark.functions.text import docs as corpus_docs
    from roapi_spark.streaming.docs import (
        corpus_band_table,
        lsh_match_stream,
        stream_docs,
    )

    sf = "/root/testdata/sf0.001"
    corpus_text = corpus_docs(spark, sf).filter("doc_id = 0").first()["text"]
    d = tmp_path / "docs_in"
    d.mkdir()
    row = {"doc_id": 900001, "text": corpus_text, "ts": "2024-01-01T00:00:10"}
    (d / "b1.json").write_text(_json.dumps(row))
    bands = corpus_band_table(spark, sf)
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def start():
        return (
            lsh_match_stream(stream_docs(spark, str(d)), bands)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # replay arrives while the query is DOWN; restart must drop it
    (d / "b2.json").write_text(_json.dumps(row))
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    out = spark.read.parquet(out_dir).collect()
    pairs = [(r.doc_id, r.match_id) for r in out]
    assert len(pairs) == len(set(pairs)), "replay after restart re-emitted pairs"
    assert any(r.doc_id == 900001 and r.match_id == 0 for r in out)


def test_bm25_score_stream_matches_batch(spark, tmp_path):
    """Streaming twin contract: scoring an arriving query doc against
    the static bm25-v1 index yields EXACTLY the batch
    q_bm25_topk_served rows for that qid (same formula, same rounding),
    once the same top-k cut is applied to the streamed scores."""
    import json as _json

    import pyarrow.parquet as _pq

    from roapi_spark.functions.retrieval import BM25_TOPK
    from roapi_spark.plans.registry import load_all
    from roapi_spark.streaming.retrieval import bm25_score_stream, stream_docs

    sf_dir = "/root/testdata/sf0.001"
    # arriving docs = the batch query set members 0 and 1, replayed
    docs_tbl = _pq.read_table(f"{sf_dir}/documents.parquet")
    rows = [
        {k: r[k] for k in ("doc_id", "text", "lang", "source", "n_chars")}
        for r in docs_tbl.to_pylist()
        if r["doc_id"] in (0, 1)
    ]
    sdir = tmp_path / "in"
    sdir.mkdir()
    (sdir / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows))

    scored = bm25_score_stream(stream_docs(spark, str(sdir)), spark, sf_dir)
    q = (
        scored.writeStream.format("memory")
        .queryName("bm25_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM bm25_stream").collect()
    finally:
        q.stop()
    streamed = {}
    for r in got:
        streamed.setdefault(r.qid, []).append((r.doc_id, r.score))
    topk = {
        qid: sorted(v, key=lambda t: (-t[1], t[0]))[:BM25_TOPK]
        for qid, v in streamed.items()
    }
    batch = load_all()["q_bm25_topk_served"].builder(spark, sf_dir).collect()
    want = {}
    for r in batch:
        if r.qid in (0, 1):
            want.setdefault(r.qid, []).append((r.doc_id, r.score))
    assert set(topk) == set(want)
    for qid in want:
        assert topk[qid] == want[qid], f"qid {qid} mismatch"


def test_perplexity_score_stream_matches_batch(spark, tmp_path):
    """Streaming twin contract: scoring arriving corpus docs against the
    static bigramlm-v1 artifact yields EXACTLY the batch
    q_ngram_perplexity_served rows for those doc_ids (same smoothing,
    same rounding)."""
    import json as _json

    import pyarrow.parquet as _pq

    from roapi_spark.plans.registry import load_all
    from roapi_spark.streaming.retrieval import (
        perplexity_score_stream,
        stream_docs,
    )

    sf_dir = "/root/testdata/sf0.001"
    batch = load_all()["q_ngram_perplexity_served"].builder(spark, sf_dir).collect()
    want = {r.doc_id: (r.n_bigrams, r.bits_per_bigram) for r in batch[:5]}
    docs_tbl = _pq.read_table(f"{sf_dir}/documents.parquet")
    rows = [
        {k: r[k] for k in ("doc_id", "text", "lang", "source", "n_chars")}
        for r in docs_tbl.to_pylist()
        if r["doc_id"] in want
    ]
    assert rows, "batch top-50 ids missing from the corpus?"
    sdir = tmp_path / "in"
    sdir.mkdir()
    (sdir / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows))

    scored = perplexity_score_stream(stream_docs(spark, str(sdir)), spark, sf_dir)
    q = (
        scored.writeStream.format("memory")
        .queryName("ppl_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM ppl_stream").collect()
    finally:
        q.stop()
    streamed = {r.doc_id: (r.n_bigrams, r.bits_per_bigram) for r in got}
    assert streamed == want


def test_emb_match_stream_matches_pair_artifact(spark, tmp_path):
    """Streaming twin contract: arriving corpus vectors matched against
    the static IVF layout emit EXACTLY the embpairscid edge artifact's
    edges for those ids (same quantizer, same cosine rounding, same
    threshold)."""
    import json as _json

    import pyarrow.parquet as _pq

    from roapi_spark.functions.dedup import INCR_MOD, INCR_NEW, emb_pairs_cid_cached
    from roapi_spark.streaming.retrieval import emb_match_stream, stream_vectors

    sf_dir = "/root/testdata/sf0.001"
    vec_tbl = _pq.read_table(f"{sf_dir}/embeddings.parquet").to_pylist()
    arriving = [
        {"vec_id": r["vec_id"], "embedding": [float(x) for x in r["embedding"]]}
        for r in vec_tbl
        if r["vec_id"] % INCR_MOD == INCR_NEW
    ][:20]
    ids = {r["vec_id"] for r in arriving}
    assert arriving
    sdir = tmp_path / "in"
    sdir.mkdir()
    (sdir / "b1.json").write_text("\n".join(_json.dumps(r) for r in arriving))

    matched = emb_match_stream(stream_vectors(spark, str(sdir)), spark, sf_dir)
    q = (
        matched.writeStream.format("memory")
        .queryName("emb_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.vec_id, r.match_id, r.cos_sim)
            for r in spark.sql("SELECT * FROM emb_stream").collect()
        }
    finally:
        q.stop()
    want = set()
    for r in emb_pairs_cid_cached(spark, sf_dir).collect():
        if r.id_a in ids:
            want.add((r.id_a, r.id_b, r.cos_sim))
        if r.id_b in ids:
            want.add((r.id_b, r.id_a, r.cos_sim))
    assert got == want


def test_emb_match_stream_checkpoint_restart(spark, tmp_path):
    """Restart recovery for the stateless ANN matcher: the checkpoint
    carries the file-source offsets, so a restart neither reprocesses
    batch-1 files (no duplicate edges) nor misses files that arrived
    while the query was down."""
    import json as _json

    import pyarrow.parquet as _pq

    from roapi_spark.streaming.retrieval import emb_match_stream, stream_vectors

    sf_dir = "/root/testdata/sf0.001"
    base = _pq.read_table(f"{sf_dir}/embeddings.parquet").to_pylist()
    # synthetic arrivals that REUSE corpus embeddings: each is guaranteed
    # a cos=1.0 match with its source vector's cell partner
    vecs = [
        {"vec_id": 900001, "embedding": base[0]["embedding"]},
        {"vec_id": 900002, "embedding": base[1]["embedding"]},
    ]
    d = tmp_path / "vin"
    d.mkdir()

    def row(r):
        return _json.dumps(
            {"vec_id": r["vec_id"], "embedding": [float(x) for x in r["embedding"]]}
        )

    (d / "b1.json").write_text(row(vecs[0]))
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def start():
        return (
            emb_match_stream(stream_vectors(spark, str(d)), spark, sf_dir)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # a new file arrives while the query is DOWN; restart picks it up
    # exactly once and does not reprocess b1
    (d / "b2.json").write_text(row(vecs[1]))
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    out = spark.read.parquet(out_dir).collect()
    edges = [(r.vec_id, r.match_id) for r in out]
    assert len(edges) == len(set(edges)), "restart re-emitted batch-1 edges"
    # both arrivals matched (each reuses a corpus embedding -> cos 1.0
    # with its source), and nothing else leaked in
    assert {r.vec_id for r in out} == {900001, 900002}


def test_span_clean_stream_cuts_corpus_spans(spark, tmp_path):
    # an arriving doc embedding an exact 8-token corpus span gets that
    # span cut; fresh text and sub-K docs pass through untouched
    import json as _json

    from roapi_spark.functions.text import docs as corpus_docs
    from roapi_spark.streaming.docs import (
        corpus_gram_index,
        span_clean_stream,
        stream_docs,
    )

    sf = "/root/testdata/sf0.001"
    text0 = corpus_docs(spark, sf).filter("doc_id = 0").first()["text"]
    span8 = " ".join(text0.split()[:8])
    d = tmp_path / "docs_in"
    d.mkdir()
    rows = [
        {"doc_id": 910001, "text": span8 + " zzqa zzqb zzqc",
         "ts": "2024-01-01T00:00:10"},
        {"doc_id": 910002,
         "text": "zzqa zzqb zzqc zzqd zzqe zzqf zzqg zzqh zzqi",
         "ts": "2024-01-01T00:00:11"},
        {"doc_id": 910003, "text": "zzx zzy", "ts": "2024-01-01T00:00:12"},
    ]
    (d / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows))

    idx = corpus_gram_index(spark, sf)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        q = (
            span_clean_stream(stream_docs(spark, str(d)), idx)
            .writeStream.format("memory")
            .queryName("span_clean")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    try:
        q.processAllAvailable()
        # advance the watermark so the first batch's aggregated groups emit
        (d / "b2.json").write_text(
            _json.dumps({"doc_id": 910009, "text": "zz zz",
                         "ts": "2024-01-01T01:00:00"})
        )
        q.processAllAvailable()
        out = {r.doc_id: r for r in spark.sql("SELECT * FROM span_clean").collect()}
        assert (out[910001].n_tokens, out[910001].n_kept,
                out[910001].clean_text) == (11, 3, "zzqa zzqb zzqc")
        assert (out[910002].n_tokens, out[910002].n_kept) == (9, 9)
        assert out[910002].clean_text == rows[1]["text"]
        assert (out[910003].n_tokens, out[910003].n_kept,
                out[910003].clean_text) == (2, 2, "zzx zzy")
    finally:
        q.stop()


def test_span_clean_stream_checkpoint_restart(spark, tmp_path):
    """The watermarked per-(doc, ts) aggregation recovers its state
    store across a restart: a group buffered before the stop emits
    exactly once after a later batch advances the watermark post-restart
    (parquet sink — memory sinks cannot recover)."""
    import json as _json

    from roapi_spark.functions.text import docs as corpus_docs
    from roapi_spark.streaming.docs import (
        corpus_gram_index,
        span_clean_stream,
        stream_docs,
    )

    sf = "/root/testdata/sf0.001"
    text0 = corpus_docs(spark, sf).filter("doc_id = 0").first()["text"]
    span8 = " ".join(text0.split()[:8])
    d = tmp_path / "docs_in"
    d.mkdir()
    (d / "b1.json").write_text(
        _json.dumps({"doc_id": 920001, "text": span8 + " zzqa zzqb zzqc",
                     "ts": "2024-01-01T00:00:10"})
    )
    idx = corpus_gram_index(spark, sf)
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def start():
        return (
            span_clean_stream(stream_docs(spark, str(d)), idx)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()  # group buffered, watermark not advanced
    finally:
        q.stop()
    (d / "b2.json").write_text(
        _json.dumps({"doc_id": 920009, "text": "zz zz",
                     "ts": "2024-01-01T01:00:00"})
    )
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    rows = [r for r in spark.read.parquet(out_dir).collect()
            if r.doc_id == 920001]
    assert len(rows) == 1, f"expected exactly one emission, got {rows}"
    assert (rows[0].n_tokens, rows[0].n_kept, rows[0].clean_text) == (
        11, 3, "zzqa zzqb zzqc",
    )


def test_quality_screen_stream_matches_batch_head(spark, tmp_path):
    """The streaming screen must reproduce the batch head's decisions
    exactly: same feature expressions, same fixed-point weights."""
    import json as _json

    from roapi_spark.functions.text import (
        LR_D,
        lr_feature_frame,
        lr_score_cols,
        lr_train_state,
    )
    from roapi_spark.streaming.docs import quality_screen_stream, stream_docs

    sf = "/root/testdata/sf0.001"
    rows_state = lr_train_state(spark, sf)
    w = list(rows_state[-1][1 : 1 + LR_D])

    from roapi_spark.functions.text import docs as corpus_docs

    texts = [r["text"] for r in corpus_docs(spark, sf).limit(6).collect()]
    d = tmp_path / "docs_in"
    d.mkdir()
    rows = [
        {"doc_id": 920000 + i, "text": t, "ts": f"2024-01-01T00:00:{10 + i}"}
        for i, t in enumerate(texts)
    ]
    (d / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows))

    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        q = (
            quality_screen_stream(stream_docs(spark, str(d)), w)
            .writeStream.format("memory")
            .queryName("qscreen")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        q.processAllAvailable()
        got = {
            r.doc_id: (r.rule_label, r.score_scaled, r.keep)
            for r in spark.sql("SELECT * FROM qscreen").collect()
        }
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)

    # batch twin over the identical rows
    static = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], "doc_id bigint, text string"
    )
    yh, keep = lr_score_cols(w)
    want = {
        r.doc_id: (r.y, r.s, r.k)
        for r in lr_feature_frame(static, ["doc_id"])
        .select("doc_id", "y", yh.alias("s"), keep.alias("k"))
        .collect()
    }
    assert got == want and len(got) == 6
