"""Unigram-LM trainer (functions/tokenizer.py): cross-engine fixed-point contract,
Viterbi semantics against an independent recursive implementation, and
end-to-end state sanity on the smoke corpus."""

from __future__ import annotations

import math
from functools import lru_cache

import duckdb
import pytest

from roapi_spark.functions.tokenizer import (
    BIG,
    EM_T,
    MAX_P,
    SCALE,
    _costs_of,
    _viterbi,
    unigram_train_state,
)


def test_ln_fixed_point_agreement():
    """floor(SCALE*ln((total+V)/(cnt+1)) + 0.5) must agree between
    Python's libm and DuckDB over a dense grid of realistic count
    ratios — this is the only float step in the trainer, and the oracle
    recomputes it independently."""
    vals = [
        (t, v, c)
        for t in (997, 26665, 112270, 507051)
        for v in (27, 145, 146)
        for c in range(0, 512, 7)
    ]
    rows = duckdb.sql(
        f"SELECT CAST(FLOOR({SCALE} * ln((t + v) * 1.0 / (c + 1)) + 0.5) "
        "AS BIGINT) FROM (SELECT unnest($1) t, unnest($2) v, unnest($3) c)",
        params=[[x[0] for x in vals], [x[1] for x in vals], [x[2] for x in vals]],
    ).fetchall()
    for (t, v, c), (got,) in zip(vals, rows):
        want = math.floor(SCALE * math.log((t + v) / (c + 1)) + 0.5)
        assert got == want, (t, v, c, got, want)


def _ref_segment(w: str, cost: dict[str, int]) -> list[str]:
    """Independent reference: exhaustive recursion minimizing
    (total cost, then the piece-length sequence READ FROM THE END
    lexicographically) — the smallest-k-first BACKTRACE resolves ties
    starting at the last piece, so that is the induced total order."""

    @lru_cache(maxsize=None)
    def best(j: int) -> tuple[int, tuple[int, ...]]:
        if j == 0:
            return (0, ())
        cands = []
        for k in range(1, min(MAX_P, j) + 1):
            sub_cost, sub_ks = best(j - k)
            # ks in backtrace order: this step's k first
            cands.append((sub_cost + cost.get(w[j - k : j], BIG), (k,) + sub_ks))
        return min(cands)

    _, ks = best(len(w))
    pieces, pos = [], 0
    for k in reversed(ks):  # backtrace order -> forward order
        pieces.append(w[pos : pos + k])
        pos += k
    assert pos == len(w)
    return pieces


@pytest.mark.parametrize(
    "w, cost, want",
    [
        # one cheap multi-char piece wins
        ("abc", {"a": 10, "b": 10, "c": 10, "abc": 15}, ["abc"]),
        # equal-cost tie: smallest piece length first
        ("ab", {"a": 5, "b": 5, "ab": 10}, ["a", "b"]),
        # missing pieces fall back to singles
        ("xy", {"x": 3, "y": 4}, ["x", "y"]),
        # overlap: cheap 'bc' must not be taken if 'ab'+'c' is cheaper
        ("abc", {"a": 1, "b": 9, "c": 1, "ab": 2, "bc": 2}, ["ab", "c"]),
    ],
)
def test_viterbi_known_cases(w, cost, want):
    assert _viterbi(w, cost) == want


def test_viterbi_matches_independent_reference():
    """Randomized-ish sweep: every unit of a small corpus segments
    identically under the production DP and the exhaustive recursion."""
    pieces = ["a", "b", "c", "_", "ab", "b_", "_c", "abc", "c_a", "ab_c"]
    cost = {p: (i * 37) % 29 + len(p) for i, p in enumerate(pieces)}
    words = [
        "a", "ab", "abc", "ab_c", "abc_abc", "c_ab_c", "b_c_a_b",
        "abcabcab", "ababababab", "c_c_c_c_c",
    ]
    for w in words:
        assert _viterbi(w, cost) == _ref_segment(w, cost), w


def test_costs_of_is_smoothed_and_positive():
    counts = {"a": 100, "b": 0, "ab": 50}
    costs = _costs_of(counts)
    assert all(c > 0 for c in costs.values())
    assert costs["b"] > costs["a"]  # zero-count piece is most expensive
    # exact fixed-point values
    total, v = 150, 3
    assert costs["a"] == math.floor(SCALE * math.log((total + v) / 101) + 0.5)


def test_train_state_smoke(spark, sf_dir):
    traj, counts, costs = unigram_train_state(spark, sf_dir)
    assert [r[0] for r in traj] == list(range(EM_T + 1))
    # EM never increases total pieces after the seed state (it=0 counts
    # substring OCCURRENCES; it>=1 counts segmentation pieces)
    assert traj[1][1] < traj[0][1]
    assert set(costs) == set(counts)
    # every single char of every unit is in the vocab (coverage invariant)
    singles = {p for p in counts if len(p) == 1}
    assert "_" in singles
    # memoized: second call returns the identical object
    assert unigram_train_state(spark, sf_dir)[0] is traj


def test_encode_pieces_concatenate_back(spark, sf_dir):
    """Round-trip invariant: within every (doc, unit), the ordered
    pieces concatenate to exactly the unit string."""
    from pyspark.sql import functions as F

    from roapi_spark.functions.tokenizer import (
        _UNI_PAIRS_SPARK as _PAIRS_SPARK,
        text_unigram_encode,
    )
    from roapi_spark.functions.text import docs, tokens_col

    enc = text_unigram_encode(spark, sf_dir)
    # collect_list order is not shuffle-stable: sort by piece_idx inside
    # the aggregate instead
    rebuilt = enc.groupBy("doc_id", "unit_idx").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("piece_idx", "piece"))),
                lambda s: s.piece,
            ),
        ).alias("w")
    )
    units = (
        docs(spark, sf_dir)
        .filter(F.col("doc_id") % 25 == 0)
        .select("doc_id", tokens_col().alias("l"))
        .select("doc_id", F.posexplode(F.expr(_PAIRS_SPARK)).alias("i0", "w"))
        .select("doc_id", (F.col("i0") + 1).alias("unit_idx"), "w")
    )
    mismatches = rebuilt.join(
        units, ["doc_id", "unit_idx"]
    ).filter(rebuilt.w != units.w)
    assert mismatches.count() == 0


def test_prune_invariants(spark, sf_dir):
    """Pruning keeps all singles, caps multis, and the re-segmented
    corpus emits at least as many pieces as the full vocab did (fewer
    multi-char pieces => coarser segmentation is impossible)."""
    from pyspark.sql import Row

    from roapi_spark.functions.tokenizer import (
        PRUNE_KEEP,
        text_unigram_prune,
        unigram_train_state,
    )

    rows = {r["stage"]: r for r in text_unigram_prune(spark, sf_dir).collect()}
    before, after = rows["1_trained"], rows["2_pruned"]
    _, counts, _ = unigram_train_state(spark, sf_dir)
    n_singles = sum(1 for p in counts if len(p) == 1)
    assert after["vocab_size"] == n_singles + min(
        PRUNE_KEEP, sum(1 for p in counts if len(p) > 1)
    )
    assert after["vocab_size"] < before["vocab_size"]
    # total pieces = corpus segmentation length: can only grow when the
    # vocabulary shrinks
    assert after["total_pieces"] >= before["total_pieces"]
    assert after["n_active"] <= after["vocab_size"]


def test_viterbi_is_optimal_vs_singles_and_random_splits():
    """The DP's path cost never exceeds the all-singles segmentation or
    any random valid segmentation (true optimality, not just agreement
    with another implementation)."""
    import random

    rng = random.Random(7)
    pieces = ["a", "b", "c", "_", "ab", "bc", "c_", "_a", "abc", "b_c"]
    cost = {p: rng.randrange(1, 50) for p in pieces}

    def path_cost(w, segs):
        return sum(cost.get(p, BIG) for p in segs)

    def random_split(w, rng):
        segs, pos = [], 0
        while pos < len(w):
            k = rng.randint(1, min(MAX_P, len(w) - pos))
            segs.append(w[pos : pos + k])
            pos += k
        return segs

    for w in ["abc_ab", "c_a_b_c", "ababab", "abc_abc_ab", "b_c_b_c"]:
        best = path_cost(w, _viterbi(w, cost))
        assert best <= path_cost(w, list(w))  # all singles
        for _ in range(50):
            assert best <= path_cost(w, random_split(w, rng))


def test_letter_free_docs_do_not_crash_pair_units(spark):
    """A document with no ASCII letters tokenizes to [] — the pair
    expression must yield an empty list, not a slice() error."""
    from pyspark.sql import functions as F

    from roapi_spark.functions.tokenizer import _UNI_PAIRS_SPARK as _PAIRS_SPARK

    df = spark.createDataFrame(
        [("1234 !!!",), ("one",), ("two words",)], "text string"
    ).select(
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z]+"),
            lambda x: F.length(x) > 0,
        ).alias("l")
    )
    pairs = df.select(F.expr(_PAIRS_SPARK).alias("p")).collect()
    assert [len(r["p"]) for r in pairs] == [0, 0, 1]


def test_em_forward_backward_equals_path_enumeration():
    """The EM kernel's alpha/beta marginals must equal brute-force path
    enumeration EXACTLY (pure integer sum-products) — the property that
    lets the DuckDB oracle replay the E-step by enumeration."""
    from itertools import product as iproduct

    import pandas as pd

    from roapi_spark.functions.tokenizer import _EM_P, _EM_S, _em_fb_kernel, _em_paths

    words = ["a", "ab", "abc", "abca", "banana", "zzzzzz", "xyxyxy"]
    pieces = {
        w[s : s + k]
        for w in words
        for s in range(len(w))
        for k in range(1, _EM_P + 1)
        if s + k <= len(w)
    }
    # adversarial weights: mix of 1s (floor-to-min path) and primes
    weights = {}
    for i, p in enumerate(sorted(pieces)):
        weights[p] = [1, 2, 3, 251, 256][i % 5]

    got: dict[str, int] = {}
    pdf = pd.DataFrame({"w": words, "c": [3] * len(words)})
    for out in _em_fb_kernel(weights)([pdf]):
        for piece, e in zip(out["piece"], out["e"]):
            got[piece] = got.get(piece, 0) + int(e)

    want: dict[str, int] = {}
    for w in words:
        paths = _em_paths(len(w))
        prods = []
        for path in paths:
            v = 1
            for s, k in path:
                v *= weights[w[s - 1 : s - 1 + k]]
            prods.append(v)
        z = sum(prods)
        den = max(z // _EM_S, 1)
        for s in range(1, len(w) + 1):
            for k in range(1, min(_EM_P, len(w) - s + 1) + 1):
                numer = sum(
                    v
                    for v, path in zip(prods, paths)
                    if (s, k) in path
                )
                piece = w[s - 1 : s - 1 + k]
                want[piece] = want.get(piece, 0) + 3 * (numer // den)
    assert got == want


def test_em_paths_counts_are_tribonacci():
    from roapi_spark.functions.tokenizer import _em_paths

    assert [len(_em_paths(n)) for n in range(7)] == [1, 1, 2, 4, 7, 13, 24]
