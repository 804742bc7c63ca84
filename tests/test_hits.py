"""Deep-iteration HITS: the per-iteration localCheckpoint keeps the
plan one-iteration-deep, so 20+ iterations neither blow up the
optimizer nor change the fixed point once reached.

Round-13 verdict item: q_crawl_hits ran at 2 iterations with unbounded
lineage — fine at 2, fatal at the 20-50 a convergence run needs. The
iteration body now lives in crawl.hits_scores/_hits_step with a
checkpoint per step; this test drives it to convergence on a graph
whose exact fixed point is known.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from roapi_spark.functions.crawl import _HITS_SCALE, hits_converged, hits_scores


def _graph(spark):
    # one hub fanning out to three authorities with distinct weights,
    # plus a second weaker hub sharing one authority — small enough to
    # hand-reason, asymmetric enough that normalization matters
    edges = spark.createDataFrame(
        [
            ("hub1", "auth1", 4),
            ("hub1", "auth2", 2),
            ("hub1", "auth3", 1),
            ("hub2", "auth1", 1),
        ],
        "src string, dst string, w bigint",
    )
    nodes = (
        edges.select(F.col("src").alias("n"))
        .union(edges.select(F.col("dst").alias("n")))
        .distinct()
    )
    return edges.localCheckpoint(eager=True), nodes.localCheckpoint(
        eager=True
    )


def test_deep_iteration_completes_and_converges(spark):
    edges, nodes = _graph(spark)
    t0 = time.time()
    h, a, iters = hits_converged(edges, nodes, max_iters=25)
    wall = time.time() - t0
    assert iters < 25, "fixed point should be reached well before cap"
    # convergence means one more step reproduces the same scores
    hub = {r["n"]: r["v"] for r in h.collect()}
    auth = {r["n"]: r["v"] for r in a.collect()}
    h2, a2 = hits_scores(edges, nodes, iters + 3)
    assert {r["n"]: r["v"] for r in h2.collect()} == hub
    assert {r["n"]: r["v"] for r in a2.collect()} == auth
    # hub1 dominates hubs; auth1 dominates authorities (max-normalized
    # fixed point pins the winners to the scale constant)
    assert hub["hub1"] == _HITS_SCALE
    assert auth["auth1"] == _HITS_SCALE
    assert hub["hub2"] < _HITS_SCALE
    assert auth["auth3"] < auth["auth2"] < _HITS_SCALE
    assert hub["auth1"] == 0  # pure authorities have no outlinks
    # lineage regression guard: 25 checkpointed iterations on a 4-edge
    # graph must not exhibit optimizer blowup (exponential-plan
    # symptom is minutes-to-analyze, not seconds-to-run)
    assert wall < 120, f"deep HITS took {wall:.0f}s — lineage blowup?"


def test_iteration_zero_state(spark):
    edges, nodes = _graph(spark)
    h, a = hits_scores(edges, nodes, 0)
    vals = {r["n"]: r["v"] for r in h.collect()}
    assert set(vals.values()) == {_HITS_SCALE}
    assert {r["n"]: r["v"] for r in a.collect()} == vals
