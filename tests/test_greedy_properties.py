"""Hypothesis property tests for the driver-side selection math
(SURVEY §5 item 1 — no Spark session needed, pure numpy)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from spark_relieffc_fselection_spark.operators.relief import (
    greedy_select,
    std_ranking,
)

# round to 6dp: engine relevances are min-max normalized and compared
# at 6dp; sub-epsilon differences (e.g. 1e-38) get absorbed by the
# redundancy subtraction in float64, which hypothesis will find
relevances = st.lists(
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False).map(
        lambda x: round(x, 6)
    ),
    min_size=2,
    max_size=20,
)


@given(relevances, st.integers(min_value=1, max_value=25))
@settings(max_examples=50, deadline=None)
def test_std_ranking_is_sorted_and_unique(rel, k):
    r = np.array(rel)
    sel = std_ranking(r, k)
    assert len(sel) == min(k, len(r))
    assert len(set(sel)) == len(sel)
    vals = [r[i] for i in sel]
    assert vals == sorted(vals, reverse=True)
    # ties resolve to the lower index
    for a, b in zip(sel, sel[1:]):
        if r[a] == r[b]:
            assert a < b


@given(relevances, st.integers(min_value=1, max_value=10))
@settings(max_examples=50, deadline=None)
def test_greedy_select_invariants(rel, k):
    r = np.array(rel)
    sel = greedy_select(r, {}, k)
    assert len(set(sel)) == len(sel)
    assert sel[0] == int(np.lexsort((np.arange(len(r)), -r))[0])
    # with zero redundancy the greedy order IS the std ranking
    assert sel == std_ranking(r, k)


@given(relevances)
@settings(max_examples=30, deadline=None)
def test_greedy_redundancy_never_selects_first_wrong(rel):
    r = np.array(rel)
    coo = {(i, j): 0.5 for i in range(len(r)) for j in range(len(r)) if i != j}
    sel = greedy_select(r, coo, min(3, len(r)))
    # uniform redundancy shifts scores equally -> order still by relevance
    assert sel == std_ranking(r, len(sel))


def test_greedy_per_feature_update_count_not_diluted():
    """A feature penalized by one joint entry keeps its full penalty in
    later rounds where it receives no update (FeatureScore.selectedSize
    is per-feature — ADVICE r1: dividing by the global round count
    diluted the penalty and flipped selection order)."""
    r = np.array([1.0, 0.5, 0.45, 0.05])
    coo = {(0, 1): 0.8}
    # round 1 selects 0 and penalizes 1 (score 0.5-0.8 = -0.3); round 2
    # selects 2; round 3: feature 1's score must STAY -0.3 (upd_cnt=1),
    # not dilute to 0.5-0.8/2 = 0.1 > 0.05, so feature 3 wins.
    assert greedy_select(r, coo, 4) == [0, 2, 3, 1]


def test_greedy_select_k_zero_selects_nothing():
    """k = 0 selects nothing in both selectors (the greedy used to
    return its first pick regardless of k)."""
    r = np.array([0.2, 0.9, 0.5])
    assert greedy_select(r, {}, 0) == []
    assert std_ranking(r, 0) == []


def test_std_ranking_negative_k_selects_nothing():
    """A negative k selects nothing (it used to slice off the last
    feature and return n - 1)."""
    r = np.array([0.2, 0.9, 0.5])
    assert std_ranking(r, -1) == []
    assert greedy_select(r, {}, -1) == []


# --- unigram-LM DP properties (pure Python, no Spark) -----------------


def _brute_segmentations(w: str, max_len: int):
    """Every segmentation of w into pieces of length <= max_len."""
    if not w:
        yield []
        return
    for l in range(1, min(max_len, len(w)) + 1):
        for rest in _brute_segmentations(w[l:], max_len):
            yield [w[:l], *rest]


_words = st.text(alphabet="ab", min_size=1, max_size=7)
_scores = st.dictionaries(
    st.text(alphabet="ab", min_size=1, max_size=3),
    st.floats(min_value=-10.0, max_value=-0.01, allow_nan=False).map(
        lambda x: round(x, 6)
    ),
    min_size=0,
    max_size=12,
)


@given(_words, _scores)
@settings(max_examples=100, deadline=None)
def test_unigram_dp_is_optimal_and_total_ordered(w, lp):
    """_dp's score equals the brute-force max over all segmentations,
    its piece count matches the tie order (fewer pieces first among
    score-ties), and the returned path reconstructs the word with the
    claimed score."""
    from spark_relieffc_fselection_spark.operators.unigram_lm import (
        MISSING_PIECE_SCORE,
        _dp,
    )

    # guarantee feasibility like piece_table does: every single char
    # of the word is always a piece
    for ch in set(w):
        lp.setdefault(ch, -5.0)
    best, n_pieces, path = _dp(w, lp, 3)
    assert "".join(path) == w
    assert len(path) == n_pieces
    assert abs(sum(lp.get(p, MISSING_PIECE_SCORE) for p in path) - best) < 1e-9

    scored = [
        (sum(lp.get(p, MISSING_PIECE_SCORE) for p in segs), len(segs))
        for segs in _brute_segmentations(w, 3)
    ]
    brute_best = max(s for s, _ in scored)
    assert abs(best - brute_best) < 1e-9
    # among score-optimal segmentations, _dp returns the fewest pieces
    min_pieces = min(n for s, n in scored if abs(s - brute_best) < 1e-9)
    assert n_pieces == min_pieces


@given(_words, _scores)
@settings(max_examples=60, deadline=None)
def test_unigram_masked_dp_never_improves_and_off_path_is_exact_zero(w, lp):
    """Masking a piece can only lower the best score, and masking a
    piece NOT on the best path leaves the score bit-identical — the
    zero-contribution identity q165's engine/oracle split relies on."""
    from spark_relieffc_fselection_spark.operators.unigram_lm import _dp

    for ch in set(w):
        lp.setdefault(ch, -5.0)
    best, _, path = _dp(w, lp, 3)
    for cand in {p for p in lp if len(p) >= 2}:
        masked, _, _ = _dp(w, lp, 3, masked=cand)
        assert masked <= best
        if cand not in path:
            assert masked == best  # exact, not approximate


@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abc", min_size=1, max_size=6),
            st.integers(min_value=1, max_value=50),
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=50, deadline=None)
def test_viterbi_em_iteration_never_decreases_likelihood(vocab):
    """One hard-EM round climbs: segment under the substring-count
    scores (q162's E-step), recount piece mass along the best paths
    (q163's M-step), re-estimate scores from the counts, re-segment —
    the corpus Viterbi log-likelihood must not decrease (Gibbs: the ML
    re-estimate maximizes the old paths' likelihood, and re-
    segmentation only improves it). Tolerance covers the 6dp score
    rounding both engines share."""
    import math

    from spark_relieffc_fselection_spark.operators.unigram_lm import _dp

    max_len = 3
    # piece_table's law: counts = corpus-weighted substring counts
    counts: dict[str, int] = {}
    for w, wc in vocab:
        for l in range(1, max_len + 1):
            for i in range(len(w) - l + 1):
                counts[w[i : i + l]] = counts.get(w[i : i + l], 0) + wc
    total = sum(counts.values())
    lp1 = {p: round(math.log2(c / total), 6) for p, c in counts.items()}

    ll1 = 0.0
    uses: dict[str, int] = {}
    for w, wc in vocab:
        best, _, path = _dp(w, lp1, max_len)
        ll1 += wc * best
        for p in path:
            uses[p] = uses.get(p, 0) + wc
    t2 = sum(uses.values())
    lp2 = {p: round(math.log2(u / t2), 6) for p, u in uses.items()}
    # coverage guarantee: every single char of every word stays a piece
    for w, _ in vocab:
        for ch in w:
            assert ch in lp2 or any(ch in p for p in lp2), w

    ll2 = 0.0
    for w, wc in vocab:
        best, _, _ = _dp(w, lp2, max_len)
        ll2 += wc * best
    assert ll2 >= ll1 - 1e-3 * max(1.0, abs(ll1)), (ll1, ll2)


@given(
    st.integers(min_value=-(10**12), max_value=10**12),
    st.integers(min_value=1, max_value=10**6),
)
@settings(max_examples=300, deadline=None)
def test_half_away_integer_rounding_matches_exact_decimal(m, n):
    """The q110-family integer rounding rule — sign(m) * ((2|m| + n)
    div (2n)) for the rational m/n in micro-units — equals exact
    ROUND_HALF_UP (= half away from zero) decimal arithmetic. This is
    the rule both engines spell identically where ROUND(double, 6)
    is engine-dependent."""
    from decimal import ROUND_HALF_UP, Decimal

    le6 = (2 * abs(m) + n) // (2 * n) * (1 if m >= 0 else -1)
    exact = (Decimal(m) / Decimal(n)).quantize(
        Decimal(1), rounding=ROUND_HALF_UP
    )
    assert le6 == int(exact), (m, n, le6, exact)
