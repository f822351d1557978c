"""Unigram-LM (SentencePiece-style) tokenizer primitives over a
word-count vocabulary — the DP counterpart of operators/bpe.py in the
tokenizer-training family (SURVEY §7.4 direction: every step after the
one corpus tokenize is VOCAB-sized, which Zipf bounds far below corpus
size at 100 TB).

* :func:`piece_table` — candidate pieces = every substring (up to
  ``max_piece_len``) of every distinct word, weighted by word
  frequency; score = log2 of the piece's share of total piece mass,
  ROUNDED to 6 decimals. The rounding is load-bearing for
  cross-engine exactness: post-round values parse to the identical
  double in Spark and DuckDB (the q66 log2 precedent), so the
  segmentation DP below — identical recurrence, identical operand
  order — produces bit-identical scores in both engines and its
  arg-max never diverges on libm's last ulp.
* :func:`viterbi_segment` — per-word best segmentation under the
  piece scores (the E-step of SentencePiece's EM, Kudo 2018 shape):
  s[i] = max over piece lengths l of s[i-l] + lp(w[i-l:i]), ties to
  fewer pieces then shorter last piece. Arrow-batched ``mapInPandas``
  with the (vocab-sized) piece dict broadcast; emits the best score
  and piece count per word — backtrack-free, so the state is two
  scalars per position.

Scale: the corpus is touched once (the word histogram the caller
builds); piece counting, scoring, and segmentation are all vocab- or
pieces-sized. Segmentation of the CORPUS then joins words back on the
(word -> pieces) table, never re-running the DP per occurrence.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Score assigned to an absent piece: effectively -inf, but a finite
#: literal so both engines add the SAME double (length-1 pieces always
#: exist, so no feasible word ever keeps this in its best path).
MISSING_PIECE_SCORE = -1e9

_LN2 = math.log(2.0)


def _log2(x: float) -> float:
    """Spark's LOG2 spelling: ``Math.log(x) / Math.log(2)`` — NOT
    Python's fused ``math.log2`` (29% of samples differ by 1 ulp from
    the division form; the division form matches Spark's raw double in
    98.4% of samples and the 6dp-ROUNDED value in 100% of 200k
    trainer-shaped samples, OPTIMIZATION_r12.md change 4)."""
    return math.log(x) / _LN2


def _round6(x: float) -> float:
    """Driver-side replica of Spark's ``ROUND(double, 6)``:
    BigDecimal.valueOf goes through Double.toString — the shortest
    round-trip string, which is exactly Python ``repr`` — then
    setScale(6, HALF_UP). Used where the trainer re-estimates piece
    scores on the driver instead of a LocalRelation round trip."""
    return float(
        Decimal(repr(x)).quantize(Decimal("1E-6"), rounding=ROUND_HALF_UP)
    )


def piece_table(
    vocab: DataFrame,
    max_piece_len: int = 4,
    word_col: str = "w",
    weight_col: str = "wc",
    max_pieces: int | None = None,
    min_count: int = 1,
) -> DataFrame:
    """``(piece, c, lp)``: every substring of length 1..max_piece_len
    of every vocab word, count-weighted by word frequency; lp =
    ROUND(log2(c / total), 6). Vocab-sized x max_piece_len work.

    ``max_pieces`` / ``min_count`` bound the CANDIDATE table
    (VERDICT r9 #3): at 100 TB, Heaps' law puts distinct words at
    1e8-1e9 and the raw substring table at that x max_piece_len — an
    unbounded table here becomes the multi-GB driver dict every
    downstream DP broadcasts. ``min_count`` drops rare multi-char
    candidates; ``max_pieces`` keeps only the top-N multi-char
    candidates by (c DESC, piece ASC) — a deterministic bounded
    top-N (TakeOrderedAndProject, the q152 shape), which is exactly
    how SentencePiece seeds its vocabulary. LENGTH-1 PIECES ARE
    EXEMPT from both knobs unconditionally: the base alphabet is what
    keeps every word segmentable (the MISSING_PIECE_SCORE sentinel
    must never appear on a feasible best path), so a cap may shrink
    quality but can never break totality. ``lp`` renormalizes over
    the SURVIVING pieces, so the capped table is a proper
    distribution, not a truncated one."""
    w = F.col(word_col)

    def _subs(lo: int, hi: int) -> F.Column:
        return F.flatten(
            F.array(
                *[
                    F.when(
                        F.length(w) >= l,
                        F.expr(
                            f"transform(sequence(1, length({word_col}) - {l} + 1),"
                            f" i -> substring({word_col}, i, {l}))"
                        ),
                    ).otherwise(F.array().cast("array<string>"))
                    for l in range(lo, hi + 1)
                ]
            )
        )

    def _counts(lo: int, hi: int) -> DataFrame:
        return (
            vocab.select(F.explode(_subs(lo, hi)).alias("piece"), weight_col)
            .groupBy("piece")
            .agg(F.sum(weight_col).alias("c"))
        )

    if (max_pieces is None and min_count <= 1) or max_piece_len < 2:
        # knobs only act on multi-char candidates, so with
        # max_piece_len=1 the single alphabet explode IS the answer
        # (and _counts(2, 1) would be an empty flatten(array()) —
        # an AnalysisException, not an empty frame)
        counts = _counts(1, max_piece_len)
    else:
        # DISJOINT branch aggregations (length-1 vs multi-char): the
        # knobs treat the alphabet and the candidates differently, and
        # filtering one shared `counts` frame twice would re-run the
        # whole substring explode per reference (dupe-subtree scan
        # flagged exactly that) — two branch explodes cover the same
        # substring volume exactly once between them.
        alpha = _counts(1, 1)
        multi = _counts(2, max_piece_len)
        if min_count > 1:
            multi = multi.filter(F.col("c") >= min_count)
        if max_pieces is not None:
            # bounded top-N, tie order (c DESC, piece ASC) — total, so
            # the boundary is deterministic and cross-engine replayable
            multi = multi.orderBy(F.desc("c"), F.asc("piece")).limit(
                max_pieces
            )
        counts = alpha.unionByName(multi)
    total = float(counts.agg(F.sum("c")).first()[0] or 0.0)
    if total == 0.0:
        # an empty candidate table would silently score every piece
        # log2(c/0) = NaN downstream (ADVICE r9) — fail loudly
        raise ValueError(
            "piece_table: empty vocabulary (total piece mass is 0)"
        )
    return counts.withColumn(
        "lp", F.round(F.log2(F.col("c") / F.lit(total)), 6)
    )


def _dp(
    w: str,
    lp: dict,
    max_piece_len: int,
    masked: str | None = None,
    perturb=None,
) -> tuple[float, int, list[str]]:
    """The per-word Viterbi recurrence (shared by both emit shapes):
    s[0] = 0; s[i] = max over l in 1..min(max_piece_len, i) of
    s[i-l] + lp(w[i-l:i]); ties prefer fewer pieces, then a shorter
    last piece — a TOTAL order, so the chosen PATH (not just the
    score) is deterministic and oracle-replayable. Returns
    (best score, piece count, pieces in order).

    ``masked`` treats ONE piece as absent — the prune-loss probe
    (SentencePiece's vocabulary-refinement step asks what the corpus
    likelihood loses if a piece is removed). Masking can only lower
    the max; length-1 pieces are never masked, so every word stays
    feasible.

    ``perturb(i, l)`` adds a per-candidate term to the recurrence —
    the hash-Gumbel subword-regularization hook
    (:func:`sampled_segment`): v = s[i-l] + lp(piece) + perturb(i, l).
    The tie order is unchanged, so the perturbed DP stays total and
    oracle-replayable.

    Empty words are REJECTED (ADVICE r10): an empty path would make
    the word silently vanish from every explode-shaped consumer
    (em_step_counts, viterbi_piece_counts) — a totality violation the
    operator must enforce, not each caller's length>=1 filter."""
    if not w:
        raise ValueError(
            "unigram DP over an empty word: empty words have no path "
            "and would silently vanish from piece counts — filter "
            "length >= 1 upstream"
        )
    n = len(w)
    s = [0.0] * (n + 1)
    npc = [0] * (n + 1)
    bl = [0] * (n + 1)
    # Hot loop (one call per word per EM/prune/encode pass): the
    # lexicographic (score, -pieces, -len) tie order is written out as
    # explicit comparisons instead of allocating a key tuple per
    # candidate — identical decisions (v > bv; v == bv and fewer
    # pieces; both equal and shorter last piece), measurably faster
    # (r12 optimization; the candidate loop dominated the Arrow DP
    # stages' executor time).
    get = lp.get
    miss = MISSING_PIECE_SCORE
    for i in range(1, n + 1):
        bv = 0.0
        bnp = 0
        bl_i = 0
        first = True
        lmax = max_piece_len if max_piece_len < i else i
        for l in range(1, lmax + 1):
            j = i - l
            piece = w[j:i]
            score = miss if piece == masked else get(piece, miss)
            v = s[j] + score
            if perturb is not None:
                v += perturb(i, l)
            np_ = npc[j] + 1
            if (
                first
                or v > bv
                or (v == bv and (np_ < bnp or (np_ == bnp and l < bl_i)))
            ):
                bv, bnp, bl_i = v, np_, l
                first = False
        s[i], npc[i], bl[i] = bv, bnp, bl_i
    path = []
    pos = n
    while pos > 0:
        path.append(w[pos - bl[pos] : pos])
        pos -= bl[pos]
    path.reverse()
    return s[n], npc[n], path


def viterbi_segment(
    vocab: DataFrame,
    pieces: DataFrame,
    max_piece_len: int = 4,
    word_col: str = "w",
    weight_col: str = "wc",
    emit_pieces: bool = False,
) -> DataFrame:
    """Best segmentation per word: ``(w, wc, best_lp, n_pieces)`` —
    the E-step summary (Kudo 2018 shape).

    DP per word (identical recurrence and operand order as the DuckDB
    oracle's unrolled CTE chain, hence bit-identical doubles given the
    rounded piece scores). The piece dict is driver-collected and
    broadcast — pieces are vocab-substring-bounded, the same budget
    the BPE operators spend.

    ``emit_pieces`` adds the chosen path as a ``pieces array<string>``
    column — one DP pass then serves BOTH the E-step summary and the
    M-step recount (explode + weighted sum), instead of re-running the
    DP per consumer (the q166 fusion).
    """
    spark = vocab.sparkSession
    lp_map = {r["piece"]: float(r["lp"]) for r in pieces.select("piece", "lp").collect()}
    bc = spark.sparkContext.broadcast(lp_map)
    out_schema = f"{word_col} string, {weight_col} long, best_lp double, n_pieces int"
    if emit_pieces:
        out_schema += ", pieces array<string>"

    def seg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lp = bc.value
        for pdf in batches:
            words, weights, bests, counts, paths = [], [], [], [], []
            for w, wc in zip(pdf[word_col], pdf[weight_col]):
                best_lp, n_pieces, path = _dp(w, lp, max_piece_len)
                words.append(w)
                weights.append(int(wc))
                bests.append(best_lp)
                counts.append(n_pieces)
                if emit_pieces:
                    paths.append(path)
            out = {
                word_col: words,
                weight_col: weights,
                "best_lp": bests,
                "n_pieces": counts,
            }
            if emit_pieces:
                out["pieces"] = paths
            yield pd.DataFrame(out)

    return vocab.select(word_col, weight_col).mapInPandas(seg, schema=out_schema)


def viterbi_piece_counts(
    vocab: DataFrame,
    pieces: DataFrame,
    max_piece_len: int = 4,
    word_col: str = "w",
    weight_col: str = "wc",
) -> DataFrame:
    """The M-step recount: ``(piece, uses)`` where uses = sum over
    words of word_frequency x times-the-piece-appears-in-the-word's
    best segmentation — the expected piece counts SentencePiece's EM
    feeds back into the next piece-probability estimate. The DP path
    is backtracked per word (deterministic: the tie order is total),
    pieces explode to (piece, wc) rows, and Catalyst's partial
    aggregation collapses them map-side before one pieces-sized
    shuffle."""
    spark = vocab.sparkSession
    lp_map = {r["piece"]: float(r["lp"]) for r in pieces.select("piece", "lp").collect()}
    bc = spark.sparkContext.broadcast(lp_map)

    def seg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lp = bc.value
        for pdf in batches:
            ps, ws = [], []
            for w, wc in zip(pdf[word_col], pdf[weight_col]):
                _, _, path = _dp(w, lp, max_piece_len)
                for p in path:
                    ps.append(p)
                    ws.append(int(wc))
            yield pd.DataFrame({"piece": ps, weight_col: ws})

    exploded = vocab.select(word_col, weight_col).mapInPandas(
        seg, schema=f"piece string, {weight_col} long"
    )
    return exploded.groupBy("piece").agg(F.sum(weight_col).alias("uses"))


def reestimate_piece_table(
    uses: DataFrame, uses_col: str = "uses"
) -> DataFrame:
    """The EM re-estimation: new piece scores from the M-step's
    expected counts — lp = ROUND(log2(uses / total_uses), 6), same
    rounding contract as :func:`piece_table` (bit-identical doubles
    across engines, so the next E-step's DP cannot diverge). Support
    shrinks to pieces actually used on best paths; every word stays
    feasible because its previous best path's pieces all survive
    (the Gibbs step of hard EM — see
    test_viterbi_em_iteration_never_decreases_likelihood)."""
    total = float(uses.agg(F.sum(uses_col)).first()[0] or 0.0)
    if total == 0.0:
        # an empty M-step must fail loudly, not propagate NaN piece
        # scores into the next E-step (ADVICE r9)
        raise ValueError(
            "reestimate_piece_table: total expected piece count is 0 "
            "(empty M-step) — the previous E-step produced no paths"
        )
    return uses.select(
        "piece",
        F.round(F.log2(F.col(uses_col) / F.lit(total)), 6).alias("lp"),
    )


def prune_loss(
    vocab: DataFrame,
    pieces: DataFrame | None,
    candidates: list[str],
    max_piece_len: int = 4,
    word_col: str = "w",
    weight_col: str = "wc",
    lp_map: dict[str, float] | None = None,
) -> DataFrame:
    """The EM prune step's loss table: ``(piece, loss)`` where loss =
    sum over words of wc x (best_lp - best_lp_without_piece) — the
    corpus log-likelihood drop if ``piece`` were removed from the
    vocabulary (SentencePiece's vocabulary-refinement criterion; the
    least-loss pieces are pruned first). Candidates must be length >= 2
    (the base alphabet is never pruned, so every word stays feasible).

    Scale: vocab-sized like the other EM steps. Per word, ONE unmasked
    DP; a masked re-run only for the candidates actually ON the word's
    best path (words whose path avoids a piece contribute exactly 0 —
    their optimal path survives the removal). Cross-word summation is
    decimal(38,18), so the per-piece total is order-independent and
    cross-engine exact: each per-word term is a product/difference of
    bit-identical doubles (the rounded piece scores make the DP itself
    bit-identical; see piece_table)."""
    for p in candidates:
        if len(p) < 2:
            raise ValueError(f"prune candidates must have length >= 2, got {p!r}")
    spark = vocab.sparkSession
    if lp_map is None:
        if pieces is None:
            raise ValueError("prune_loss needs pieces or lp_map")
        # ``lp_map`` skips this collect when the caller already holds
        # the (bounded) score dict — train_unigram maintains it across
        # the EM loop, one driver job fewer per prune round (r12).
        lp_map = {
            r["piece"]: float(r["lp"])
            for r in pieces.select("piece", "lp").collect()
        }
    bc = spark.sparkContext.broadcast((lp_map, set(candidates)))

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lp_m, cand = bc.value
        for pdf in batches:
            ps, losses = [], []
            for w, wc in zip(pdf[word_col], pdf[weight_col]):
                best, _, path = _dp(w, lp_m, max_piece_len)
                for p in set(path) & cand:
                    masked_best, _, _ = _dp(w, lp_m, max_piece_len, masked=p)
                    ps.append(p)
                    losses.append(float(wc) * (best - masked_best))
            yield pd.DataFrame({"piece": ps, "loss": losses})

    exploded = vocab.select(word_col, weight_col).mapInPandas(
        probe, schema="piece string, loss double"
    )
    # decimal-FIRST rounding (the r6 convention, extended here by
    # ADVICE r9): round the exact decimal sum, then cast — rounding
    # the nearest double instead is engine-dependent on .5e-6
    # boundaries
    return exploded.groupBy("piece").agg(
        F.round(F.sum(F.col("loss").cast("decimal(38,18)")), 6)
        .cast("double")
        .alias("loss")
    )


def em_step_counts(
    vocab: DataFrame,
    pieces: DataFrame | None,
    max_piece_len: int = 4,
    word_col: str = "w",
    weight_col: str = "wc",
    lp_map: dict[str, float] | None = None,
) -> DataFrame:
    """ONE fused E+M pass: ``(piece, uses, ll)`` where uses are the
    M-step expected counts (viterbi_piece_counts semantics) and ll is
    the piece group's share of the corpus log-likelihood — each word's
    wc x best_lp is attached to its FIRST path piece, so SUM(ll) over
    the whole table is the corpus LL and the DP runs exactly once for
    both outputs (the q166 fusion, applied to training). ll is summed
    as decimal(38,18) so the total is shuffle-order-independent.

    ``lp_map`` skips the internal pieces collect when the caller
    already holds the (bounded) score dict — train_unigram reuses its
    seed collect this way, one driver job fewer per iteration."""
    spark = vocab.sparkSession
    if lp_map is None:
        if pieces is None:
            raise ValueError("em_step_counts needs pieces or lp_map")
        lp_map = {
            r["piece"]: float(r["lp"])
            for r in pieces.select("piece", "lp").collect()
        }
    bc = spark.sparkContext.broadcast(lp_map)

    def seg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lp = bc.value
        for pdf in batches:
            ps, ws, lls = [], [], []
            for w, wc in zip(pdf[word_col], pdf[weight_col]):
                best, _, path = _dp(w, lp, max_piece_len)
                for j, p in enumerate(path):
                    ps.append(p)
                    ws.append(int(wc))
                    lls.append(float(wc) * best if j == 0 else 0.0)
            yield pd.DataFrame({"piece": ps, "wcu": ws, "ll": lls})

    exploded = vocab.select(word_col, weight_col).mapInPandas(
        seg, schema="piece string, wcu long, ll double"
    )
    return exploded.groupBy("piece").agg(
        F.sum("wcu").alias("uses"),
        F.sum(F.col("ll").cast("decimal(38,18)")).alias("ll"),
    )


@dataclass
class UnigramTrainResult:
    """Outcome of :func:`train_unigram`: the trained piece table
    ``(piece, uses, lp)`` (at most ``vocab_target`` rows plus any
    alphabet overflow), the corpus log-likelihood per fused E+M pass
    (``n_iters`` entries per prune round; hard EM makes each
    WITHIN-round segment non-decreasing — property-tested; a prune
    boundary may drop it, that is what pruning does), and size
    diagnostics. ``prune_sizes`` records the surviving multi-char
    candidate count after each prune round — the shrink schedule's
    audit trail (a round was BINDING iff its size is below the
    preceding candidate count)."""

    pieces: DataFrame
    ll_history: list[float]
    seed_multi: int
    pruned_multi: int
    final_size: int
    prune_sizes: list[int] = field(default_factory=list)


def train_unigram(
    vocab: DataFrame,
    vocab_target: int,
    n_iters: int = 2,
    max_piece_len: int = 4,
    seed_max_pieces: int | None = None,
    seed_min_count: int = 1,
    word_col: str = "w",
    weight_col: str = "wc",
    prune_rounds: int = 1,
    shrink_factor: float | None = None,
    seed_pieces: DataFrame | None = None,
) -> UnigramTrainResult:
    """The COMPOSED SentencePiece-style trainer (VERDICT r9 #4) on top
    of the gated primitives: seed a (capped) candidate table
    (:func:`piece_table`), then run ``prune_rounds`` outer rounds of
    SentencePiece's shrink loop (VERDICT r10 #3) — each round is
    ``n_iters`` hard-EM iterations (one fused E+M pass,
    :func:`em_step_counts`, plus a re-estimate,
    :func:`reestimate_piece_table`) followed by a prune-by-likelihood-
    loss step (:func:`prune_loss`) keeping the HIGHEST-loss (most
    useful) multi-char pieces; ties (loss DESC, piece ASC).

    The shrink schedule: non-final rounds prune to
    ``max(keep_k, floor(candidates * shrink_factor))`` and the FINAL
    round prunes straight to the target — so the control flow is
    data-independent (replayable by a static oracle) while the loss
    ranking re-runs against FRESH likelihoods each round instead of
    trusting the stale single-shot losses (the failure mode when the
    seed sits far above the target). ``prune_rounds=1`` (the default)
    is the original single-shot behavior, bit-for-bit. Between
    rounds, survivors re-estimate WITH the alphabet re-included under
    the GREATEST(uses, 1) floor (the final-output formula): pruning
    removes pieces that ARE on best paths, so without the floored
    alphabet a word could lose its cover and become unsegmentable.
    ``shrink_factor`` should be a DYADIC rational (0.75, 0.5): the
    threshold floor is replayed in DuckDB, and a non-dyadic factor's
    double-vs-decimal product can floor differently across engines on
    exact-integer boundaries.

    The alphabet (length-1 seed pieces) is never pruned and survives
    even at uses=0 via the GREATEST(uses, 1) smoothing floor, so the
    trained vocabulary can segment any word over the seed alphabet.
    Final scores renormalize over the survivors.

    Scale: the corpus is touched once (the caller's word histogram);
    every EM iteration is one vocab-sized Arrow DP pass with a
    PIECES-sized (seed-capped, bounded) collect — the driver never
    holds anything larger than the capped piece table, the knob that
    holds at Heaps'-law vocabularies (VERDICT r9 #3). Iterative
    pruning multiplies the vocab-sized pass count by ``prune_rounds``
    and leaves the corpus-sized cost unchanged at zero."""
    from decimal import Decimal

    if prune_rounds < 1:
        raise ValueError(f"prune_rounds must be >= 1, got {prune_rounds}")
    if shrink_factor is not None and not (0.0 < shrink_factor < 1.0):
        raise ValueError(
            f"shrink_factor must be in (0, 1), got {shrink_factor}"
        )
    spark = vocab.sparkSession
    if seed_pieces is not None:
        # Warm-start seed (SentencePiece's seed-from-given-vocab): a
        # caller-supplied ``(piece, lp)`` table replaces the internal
        # candidate build — e.g. the q162-q166 family's memoized
        # capped table, which is value-identical to what piece_table
        # would recompute here, so the knob changes cost, never
        # answers (the seed_max_pieces/seed_min_count knobs are then
        # the CALLER's responsibility).
        pieces = seed_pieces
    else:
        pieces = piece_table(
            vocab,
            max_piece_len,
            word_col,
            weight_col,
            max_pieces=seed_max_pieces,
            min_count=seed_min_count,
        )
    # ONE seed collect serves the alphabet, iteration 1's broadcast
    # dict, and the seed diagnostics — pieces is bounded by the cap
    lp_map: dict[str, float] | None = {
        r["piece"]: float(r["lp"])
        for r in pieces.select("piece", "lp").collect()
    }
    alphabet = sorted(p for p in lp_map if len(p) == 1)
    # seed diagnostics measure the SEED table itself (ADVICE r10 —
    # the earlier iteration-1-support count overstated the docstring's
    # "size diagnostics" claim)
    seed_multi = sum(1 for p in lp_map if len(p) >= 2)
    keep_k = max(vocab_target - len(alphabet), 0)
    ll_history: list[float] = []
    prune_sizes: list[int] = []
    pruned_multi = 0
    support: dict[str, int] = {}
    kept: list[str] = []
    for rnd in range(prune_rounds):
        if rnd > 0:
            # Survivor scores for the next round: alphabet re-included
            # under the GREATEST(uses, 1) floor, renormalized — the
            # final-output formula applied mid-loop. Computed on the
            # DRIVER (r12): ``_round6`` replays Spark's
            # ROUND(log2(u/t), 6) — same IEEE division, a <=1-ulp log,
            # and the identical BigDecimal.valueOf/HALF_UP quantize —
            # verified 0 rounded-value mismatches over 200k
            # trainer-shaped samples (OPTIMIZATION_r12.md change 4)
            # plus the all-SF oracle sweep; one LocalRelation job
            # fewer per round.
            surv = [(p, support.get(p, 0)) for p in alphabet] + [
                (p, support[p]) for p in kept
            ]
            total_f = float(sum(max(u, 1) for _, u in surv))
            lp_map = {
                p: _round6(_log2(max(u, 1) / total_f)) for p, u in surv
            }
        for i in range(n_iters):
            rows = em_step_counts(
                vocab, None, max_piece_len, word_col, weight_col,
                lp_map=lp_map,
            ).collect()
            ll_history.append(float(sum((r["ll"] for r in rows), Decimal(0))))
            support = {r["piece"]: int(r["uses"]) for r in rows}
            if i < n_iters - 1:
                # The EM re-estimate (reestimate_piece_table semantics)
                # on the driver: support shrinks to pieces on best
                # paths; total is an exact integer sum, the division/
                # log2/round chain replays Spark bit-for-bit (see the
                # round-boundary note above). Replaces a LocalRelation
                # agg job plus the next pass's pieces collect (r12).
                total_u = sum(support.values())
                if total_u == 0:
                    raise ValueError(
                        "train_unigram: total expected piece count is 0 "
                        "(empty M-step) — the E-step produced no paths"
                    )
                total_f = float(total_u)
                lp_map = {
                    p: _round6(_log2(u / total_f))
                    for p, u in support.items()
                }
        candidates = sorted(p for p in support if len(p) >= 2)
        last = rnd == prune_rounds - 1
        if shrink_factor is not None and not last:
            # floor(n * shrink) in DOUBLE math — identical to the
            # oracle's CAST(FLOOR(n * CAST(shrink AS DOUBLE)) AS INT)
            k_round = max(keep_k, int(len(candidates) * shrink_factor))
        else:
            k_round = keep_k
        if len(candidates) > k_round:
            loss_rows = prune_loss(
                vocab, None, candidates, max_piece_len, word_col,
                weight_col, lp_map=lp_map,
            ).collect()
            loss = {r["piece"]: float(r["loss"]) for r in loss_rows}
            # highest loss = most useful; a candidate missing from the
            # loss table (possible only if it left every best path)
            # costs nothing to remove
            kept = sorted(
                candidates, key=lambda p: (-loss.get(p, 0.0), p)
            )[:k_round]
        else:
            kept = candidates
        pruned_multi += len(candidates) - len(kept)
        prune_sizes.append(len(kept))
        kept = sorted(kept)
    final = [(p, support.get(p, 0)) for p in alphabet] + [
        (p, support[p]) for p in kept
    ]
    out = spark.createDataFrame(final, "piece string, uses long")
    # GREATEST(uses, 1): the smoothing floor that keeps zero-use
    # alphabet pieces scoreable (SentencePiece's required_chars)
    up = F.greatest(F.col("uses"), F.lit(1))
    total = sum(max(u, 1) for _, u in final)
    trained = out.select(
        "piece",
        "uses",
        F.round(F.log2(up / F.lit(float(total))), 6).alias("lp"),
    )
    return UnigramTrainResult(
        pieces=trained,
        ll_history=ll_history,
        seed_multi=seed_multi,
        pruned_multi=pruned_multi,
        final_size=len(final),
        prune_sizes=prune_sizes,
    )


def save_piece_table(pieces: DataFrame, path: str) -> None:
    """Persist a (trained) piece table ``(piece, uses?, lp)`` as
    parquet — the serving artifact :func:`viterbi_segment` and the
    corpus-join tokenization pattern (q164) consume. Pieces-sized
    (seed-capped), so one small write."""
    cols = [c for c in ("piece", "uses", "c", "lp") if c in pieces.columns]
    if "piece" not in cols or "lp" not in cols:
        raise ValueError(
            f"piece table needs at least (piece, lp); got {pieces.columns}"
        )
    # repartition(1), not coalesce(1) — see save_merges: coalesce
    # serializes every parent partition through one task (measured
    # 4.3s for a tiny artifact write); repartition costs one tiny
    # shuffle and writes in ~0.4s, same single-file artifact.
    pieces.select(*cols).repartition(1).write.mode("overwrite").parquet(path)


def load_piece_table(spark, path: str) -> DataFrame:
    """Load a piece table saved by :func:`save_piece_table`,
    validating segmentation TOTALITY: every multi-char piece's
    characters must be covered by length-1 pieces, or some word over
    the alphabet would hit MISSING_PIECE_SCORE on every path. One
    pieces-sized validation collect."""
    df = spark.read.parquet(path)
    if "piece" not in df.columns or "lp" not in df.columns:
        raise ValueError(
            f"not a piece-table artifact at {path}: columns {df.columns}"
        )
    rows = df.select("piece").collect()
    alphabet = {r["piece"] for r in rows if len(r["piece"]) == 1}
    uncovered = {
        ch
        for r in rows
        for ch in r["piece"]
        if len(r["piece"]) >= 2 and ch not in alphabet
    }
    if uncovered:
        raise ValueError(
            f"piece table at {path} is not segmentation-total: "
            f"characters {sorted(uncovered)!r} appear in multi-char "
            "pieces but have no length-1 piece — words containing "
            "them outside those exact pieces would be unsegmentable"
        )
    return df


def sampled_segment(
    vocab: DataFrame,
    pieces: DataFrame,
    alpha: float = 1.0,
    seed: str = "sr0",
    max_piece_len: int = 4,
    word_col: str = "w",
    weight_col: str = "wc",
    emit_pieces: bool = False,
) -> DataFrame:
    """SUBWORD REGULARIZATION (Kudo 2018 §3) — sampled segmentation
    for training-data augmentation — via hash-Gumbel perturb-and-MAP:
    the Viterbi recurrence maximizes
    ``s[i-l] + lp(piece) + ROUND(G(seed, w, i, l) / alpha, 6)`` where
    ``G = -ln(-ln(u))`` is a Gumbel draw and ``u`` the repo's portable
    md5 uniform (the hash_uniform/q80 convention) keyed by (seed,
    word, position, length). Gumbel-perturbing each candidate and
    taking the max is the standard scalable approximation to sampling
    a segmentation from the softmax over paths (perturb-and-MAP);
    ``alpha`` is the sharpness knob — large alpha converges on the
    argmax path, small alpha explores.

    Fully DETERMINISTIC given (seed, alpha): the draw is a pure hash,
    so the sampled paths are identical across engines and runs — the
    property that makes a SAMPLING operator hash-gateable (q175), the
    same reason q57/q80 sample by hash instead of engine RNG. The
    Gumbel term is rounded to 6dp (the q66 log2 precedent: post-round
    doubles parse identically in both engines) via
    :func:`_round6_half_up` — Decimal quantization of the EXACT
    binary value with ties away from zero, DuckDB ROUND's tie rule —
    not Python ``round()``, whose banker's ties were the one waiver
    of the registry's shared-rounding-law convention (ADVICE r11:
    the q110 divergence class; eliminated rather than accepted —
    verified value-identical to the old spelling on every draw at
    all three SFs, 2,028 draws, zero ties hit). What remains is the
    generic double-ROUND story every 6dp output in the registry
    carries; and because every draw is a pure hash of fixed data,
    greenness at a given SF stays PINNED, not per-run luck.

    Output shape matches :func:`viterbi_segment` (``sampled_lp`` =
    the PERTURBED objective of the sampled path, ``n_pieces``, and
    the path with ``emit_pieces``). Scale: identical to the argmax
    E-step — one vocab-sized Arrow pass, pieces-dict broadcast; n
    augmentation epochs cost n corpus-zero passes with n seeds."""
    from math import log as _ln

    from spark_relieffc_fselection_spark.operators.sampling import (
        hash_uniform_py,
    )

    def _round6_half_up(x: float) -> float:
        # 6dp with ties AWAY from zero on the exact binary value —
        # DuckDB ROUND's tie rule — so both engines share one
        # rounding law (ADVICE r11; Python round()'s banker's ties
        # were the q110 divergence class).
        return float(
            Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )

    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    spark = vocab.sparkSession
    lp_map = {
        r["piece"]: float(r["lp"])
        for r in pieces.select("piece", "lp").collect()
    }
    bc = spark.sparkContext.broadcast(lp_map)
    out_schema = (
        f"{word_col} string, {weight_col} long, sampled_lp double, "
        "n_pieces int"
    )
    if emit_pieces:
        out_schema += ", pieces array<string>"

    def seg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lp = bc.value
        for pdf in batches:
            words, weights, bests, counts, paths = [], [], [], [], []
            for w, wc in zip(pdf[word_col], pdf[weight_col]):

                def perturb(i: int, l: int, _w=w) -> float:
                    u = hash_uniform_py(f"{seed}|{_w}|{i}|{l}")
                    return _round6_half_up(-_ln(-_ln(u)) / alpha)

                best, n_pieces, path = _dp(
                    w, lp, max_piece_len, perturb=perturb
                )
                words.append(w)
                weights.append(int(wc))
                bests.append(best)
                counts.append(n_pieces)
                if emit_pieces:
                    paths.append(path)
            out = {
                word_col: words,
                weight_col: weights,
                "sampled_lp": bests,
                "n_pieces": counts,
            }
            if emit_pieces:
                out["pieces"] = paths
            yield pd.DataFrame(out)

    return vocab.select(word_col, weight_col).mapInPandas(
        seg, schema=out_schema
    )
