import pytest

from spark_relieffc_fselection_spark.operators.textstats import (
    fingerprints,
    language_id,
    pii_scrub,
    quality_scores,
    token_stats,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "The cat sat on the mat and it is warm in the sun."),
        (1, "El perro corre por la calle y la casa es grande para los niños."),
        (2, "Der Hund ist nicht klein und das Haus ist groß für die Familie."),
        (3, "Le chat est dans la maison avec une souris pour le dîner."),
        (4, "这是一个中文文档 关于数据处理"),
        (5, "xyzzy plugh qwerty"),  # no profile hits -> und
        (6, ""),
        (7, "Numbers 123 456!!! and,,, punctuation;;; everywhere 789."),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_language_id_multilingual(docs):
    pred = {r["doc_id"]: r["pred_lang"] for r in language_id(docs).collect()}
    assert pred[0] == "en"
    assert pred[1] == "es"
    assert pred[2] == "de"
    assert pred[3] == "fr"
    assert pred[4] == "zh"
    assert pred[5] == "und"
    assert pred[6] == "und"


def test_token_stats_counts(docs):
    stats = {r["doc_id"]: r for r in token_stats(docs).collect()}
    assert stats[6]["n_words_ws"] == 0 and stats[6]["n_chars"] == 0
    assert stats[0]["n_words_ws"] == 13
    # regex tokens exclude punctuation-only fragments
    assert stats[7]["n_words_re"] == 7
    assert stats[0]["n_tokens_bpe_est"] >= stats[0]["n_words_ws"]


def test_quality_scores_ordering(docs):
    q = {r["doc_id"]: r for r in quality_scores(docs).collect()}
    # clean English sentence beats punctuation/digit soup
    assert q[0]["quality_score"] > q[7]["quality_score"]
    assert q[0]["stopword_ratio"] > 0.2
    assert q[7]["digit_ratio"] > 0.1
    assert 0.0 <= q[6]["quality_score"] <= 1.0


def test_pii_scrub_counts_and_replaces(spark):
    rows = [
        (0, "mail me at jane.doe+spam@example.co.uk or visit https://ex.am/p?q=1 now"),
        (1, "call +1 (415) 555-0199 tomorrow; server at 10.0.0.254 is down"),
        (2, "totally clean text with no identifiers at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert out[0]["n_email"] == 1 and out[0]["n_url"] == 1
    assert out[1]["n_phone"] == 1 and out[1]["n_ipv4"] == 1
    assert out[2]["n_email"] == out[2]["n_url"] == out[2]["n_phone"] == 0
    assert "jane.doe" not in out[0]["scrubbed_text"]
    assert "https://" not in out[0]["scrubbed_text"]
    assert "10.0.0.254" not in out[1]["scrubbed_text"]
    assert "[PII]" in out[0]["scrubbed_text"]
    assert out[2]["scrubbed_text"] == rows[2][1]
    assert out[2]["scrubbed_chars"] == len(rows[2][1])


def test_pii_scrub_plan_is_pure_catalyst(spark):
    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    plan = pii_scrub(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Pandas" not in plan


def test_fingerprints_stability(docs, spark):
    fp = {r["doc_id"]: r for r in fingerprints(docs).collect()}
    edited = spark.createDataFrame(
        [(0, "The cat sat on the mat and it is warm in the sun?")],  # 1-char edit
        "doc_id long, text string",
    )
    fp_e = fingerprints(edited).first()
    assert fp_e["content_fp"] != fp[0]["content_fp"]  # whole-hash changes
    assert fp_e["min_gram_fp"] == fp[0]["min_gram_fp"]  # min-gram robust to tail edit
    assert fp[6]["content_fp"] == fp[6]["min_gram_fp"]  # short doc fallback


def test_budget_select_matches_global_cumsum(spark):
    """budget_select_by_score must equal the global-sort cumsum filter
    exactly — including score ties broken by id — while never sorting
    globally (only the boundary bucket pays a window)."""
    import random

    from spark_relieffc_fselection_spark.operators.textstats import (
        budget_select_by_score,
    )

    rng = random.Random(9)
    rows = [(i, rng.choice([0.1, 0.25, 0.5, 0.5, 0.9]), rng.randint(1, 50))
            for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, score double, n_toks long")

    def oracle(budget):
        cum, kept = 0, set()
        for i, s, w in sorted(rows, key=lambda r: (-r[1], r[0])):
            if cum + w > budget:
                break
            cum += w
            kept.add(i)
        return kept

    for budget in (0, 1, 137, 1500, 10**9):
        expect = oracle(budget)
        # bucket count is internal routing only — any value, same rows
        for n_buckets in (1, 8, 200):
            got = {
                r["doc_id"]
                for r in budget_select_by_score(
                    df, budget, n_buckets=n_buckets
                ).collect()
            }
            assert got == expect, (budget, n_buckets)


def test_hashed_linear_classifier_plan_and_values(spark):
    """q110 shape: the weight join must be broadcast (no shuffle on the
    token side before the per-doc aggregate) and the logit must equal a
    per-doc Python recomputation exactly (exact integer milli-unit
    accumulation + the explicit half-away-from-zero 6dp rule)."""
    from hashlib import md5 as _md5

    from pyspark.sql import functions as F

    from spark_relieffc_fselection_spark.operators.textstats import (
        hashed_linear_scores,
        hashing_trick_weights,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    out = hashed_linear_scores(docs, hashing_trick_weights(spark, 1024), 1024)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan

    def h64(s: str) -> int:
        return int(_md5(s.encode()).hexdigest()[:15], 16)

    def w_milli(fidx: int) -> int:
        return h64(f"w#{fidx}") % 2001 - 1000

    import re

    got = {r["doc_id"]: r for r in out.collect()}
    for row in docs.limit(20).collect():
        toks = re.sub(r"\s+", " ", row["text"].strip().lower()).split(" ")
        n = len(toks)
        s_milli = sum(w_milli(h64(t) % 1024) for t in toks)
        # the operator's exact half-away-from-zero rule on the exact
        # rational (50*n + s_milli) * 1000 / n in micro-units
        m = (50 * n + s_milli) * 1000
        le6 = (2 * abs(m) + n) // (2 * n) * (1 if m >= 0 else -1)
        r = got[row["doc_id"]]
        assert r["n_toks"] == n
        assert r["logit"] == le6 / 1_000_000
        assert r["quality_label"] == ("keep" if m >= 0 else "drop")


def test_countmin_upper_bounds_true_counts(spark):
    """CM guarantee: est >= true for every probe; sketch is broadcast
    in the probe plan; total cells bounded by depth*width."""
    from pyspark.sql import functions as F

    from spark_relieffc_fselection_spark.functions.text import tokens
    from spark_relieffc_fselection_spark.operators.textstats import (
        countmin_estimate,
        countmin_sketch,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    sketch = countmin_sketch(tok, depth=4, width=256)
    assert sketch.count() <= 4 * 256

    exact = tok.groupBy("tok").agg(F.count("*").alias("true_count"))
    probes = exact.orderBy(F.desc("true_count"), F.asc("tok")).limit(30)
    est = countmin_estimate(probes.select("tok"), sketch, depth=4, width=256)

    plan = est._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

    joined = probes.join(est, "tok").collect()
    assert len(joined) == 30
    assert all(r["est_count"] >= r["true_count"] for r in joined)

    # sketch total mass == token count (each token adds 1 per row)
    n_tok = tok.count()
    mass = sketch.groupBy("row").agg(F.sum("c").alias("m")).collect()
    assert all(r["m"] == n_tok for r in mass)


def test_bpe_encode_is_lossless(spark):
    """The BPE reconstruction law: for EVERY vocabulary word, the
    concatenation of its rendered tokens equals the original word —
    encoding never drops or invents characters, under any learned
    merge chain (operators/bpe.py)."""
    import pyspark.sql.functions as F

    from spark_relieffc_fselection_spark.functions.text import tokens
    from spark_relieffc_fselection_spark.operators.bpe import (
        bpe_apply,
        bpe_render,
        learn_bpe_merges,
    )
    from spark_relieffc_fselection_spark.queries import localize
    from spark_relieffc_fselection_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    vocab = localize(
        docs.select(F.explode(tokens("text")).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    merges = learn_bpe_merges(vocab, 6)
    assert merges, "fixture corpus must support at least one merge"
    merged = bpe_apply(vocab.withColumn("orig", F.col("w")), merges)
    # render every symbol and re-concatenate in order
    rebuilt = merged.select(
        "orig",
        F.concat_ws(
            "",
            F.expr(
                "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
            ).cast("array<string>"),
        ).alias("flat"),
    ).select("orig", bpe_render("flat", merges).alias("round_trip"))
    mismatches = rebuilt.filter(F.col("round_trip") != F.col("orig")).count()
    assert mismatches == 0


def test_bpe_placeholder_alphabet_is_guarded(spark):
    """The placeholder alphabet is the BMP private-use area
    U+E001..U+F8FF (VERDICT r9 #2 rebased it from the 31-slot C0
    range): merges past 6399 would emit surrogates / assigned text
    and silently corrupt tokenization — reject loudly. A vocabulary
    already containing C0 or PUA characters would alias placeholders
    (or is garbage input) and break the bpe_render reconstruction
    law — reject those too."""
    import pytest

    from spark_relieffc_fselection_spark.operators.bpe import (
        _MAX_MERGES,
        learn_bpe_merges,
        merge_placeholder,
    )

    assert _MAX_MERGES == 137465
    assert merge_placeholder(1) == "\uE001"
    assert merge_placeholder(6399) == "\uF8FF"
    # the Plane-15 tier chains on seamlessly past the BMP slots
    assert merge_placeholder(6400) == "\U000F0001"
    assert merge_placeholder(71932) == "\U000FFFFD"
    # ... and Plane-16 PUA-B past Plane-15 (VERDICT r10 #4): the last
    # private-use tier Unicode has, covering a 128k-class vocab
    assert merge_placeholder(71933) == "\U00100001"
    assert merge_placeholder(_MAX_MERGES) == "\U0010FFFD"
    vocab = spark.createDataFrame(
        [("hello", 3), ("help", 2)], "w string, wc long"
    )
    with pytest.raises(ValueError, match="at most 137465 merges"):
        learn_bpe_merges(vocab, 137466)
    for bad in ("he\x01lo", "he\uE001lo", "he\uF8FFlo", "he\U000F0001lo",
                "he\U00100000lo"):
        dirty = spark.createDataFrame(
            [(bad, 3), ("help", 2)], "w string, wc long"
        )
        with pytest.raises(ValueError, match="C0 control or private-use"):
            learn_bpe_merges(dirty, 3)
    # a merge budget past the old 31-slot ceiling is now legal; a tiny
    # vocab just exhausts its pair supply early
    merges = learn_bpe_merges(vocab, 40)
    assert len(merges) <= 40


def test_bpe_lossless_past_31_merges(spark):
    """The reconstruction law survives a merge chain DEEPER than the
    retired 31-slot C0 alphabet (VERDICT r9 #2's done-criterion:
    ``learn_bpe_merges(vocab, 1000)`` must work). 11 four-char words
    over disjoint alphabets supply 33 merges (3 per word: each word
    collapses pair-by-pair to one symbol), so the chain provably
    crosses the old ceiling, every placeholder lands in the PUA, and
    every word still round-trips exactly."""
    import pyspark.sql.functions as F

    from spark_relieffc_fselection_spark.operators.bpe import (
        bpe_apply,
        bpe_render,
        learn_bpe_merges,
    )

    alphabet = [chr(ord("0") + i) for i in range(10)] + [
        chr(ord("A") + i) for i in range(26)
    ] + [chr(ord("a") + i) for i in range(26)]
    words = [
        ("".join(alphabet[4 * i : 4 * i + 4]), 100 - i) for i in range(11)
    ]
    vocab = spark.createDataFrame(words, "w string, wc long")
    merges = learn_bpe_merges(vocab, 1000)
    assert len(merges) == 33, "11 disjoint 4-char words supply 3 merges each"
    assert all("\uE000" < ph <= "\uF8FF" for ph, _ in merges)
    merged = bpe_apply(vocab.withColumn("orig", F.col("w")), merges)
    rebuilt = merged.select(
        "orig", bpe_render("w", merges).alias("round_trip")
    )
    assert rebuilt.filter(F.col("round_trip") != F.col("orig")).count() == 0


def test_viterbi_segment_matches_bruteforce(spark):
    """The backtrack-free Viterbi DP (operators/unigram_lm.py) agrees
    with exhaustive enumeration of every segmentation under the same
    scoring and tie-breaks (better score, then fewer pieces)."""
    from itertools import combinations

    from spark_relieffc_fselection_spark.operators.unigram_lm import (
        MISSING_PIECE_SCORE,
        piece_table,
        viterbi_segment,
    )

    vocab = spark.createDataFrame(
        [("abab", 5), ("aba", 3), ("bb", 2), ("a", 7), ("abba", 1)],
        "w string, wc long",
    )
    pieces = piece_table(vocab, max_piece_len=3)
    lp = {r["piece"]: r["lp"] for r in pieces.collect()}
    got = {
        r["w"]: (r["best_lp"], r["n_pieces"])
        for r in viterbi_segment(vocab, pieces, max_piece_len=3).collect()
    }

    def brute(w):
        n = len(w)
        best = None
        for cuts in range(n):  # choose cut positions among 1..n-1
            for cpos in combinations(range(1, n), cuts):
                bounds = [0, *cpos, n]
                segs = [w[bounds[i]: bounds[i + 1]] for i in range(len(bounds) - 1)]
                if any(len(s) > 3 for s in segs):
                    continue
                score = 0.0
                for s in segs:
                    score = score + lp.get(s, MISSING_PIECE_SCORE)
                key = (score, -len(segs))
                if best is None or key > best[0]:
                    best = (key, score, len(segs))
        return best[1], best[2]

    for w in ("abab", "aba", "bb", "a", "abba"):
        bs, bn = brute(w)
        assert abs(got[w][0] - bs) < 1e-9, w
        assert got[w][1] == bn, w


def test_viterbi_piece_counts_match_bruteforce_paths(spark):
    """The M-step recount agrees with exhaustively enumerated best
    paths under the full tie order (score, fewer pieces, shorter last
    piece — resolved left-to-right like the DP)."""
    from pyspark.sql import functions as F

    from spark_relieffc_fselection_spark.operators.unigram_lm import (
        piece_table,
        viterbi_piece_counts,
        viterbi_segment,
        _dp,
    )

    vocab = spark.createDataFrame(
        [("abab", 5), ("aba", 3), ("bb", 2), ("a", 7), ("abba", 1)],
        "w string, wc long",
    )
    pieces = piece_table(vocab, max_piece_len=3)
    lp = {r["piece"]: r["lp"] for r in pieces.collect()}
    got = {
        r["piece"]: r["uses"]
        for r in viterbi_piece_counts(vocab, pieces, max_piece_len=3).collect()
    }
    expected: dict[str, int] = {}
    for w, wc in [("abab", 5), ("aba", 3), ("bb", 2), ("a", 7), ("abba", 1)]:
        score, npieces, path = _dp(w, lp, 3)
        assert "".join(path) == w  # the path is a true segmentation
        assert len(path) == npieces
        seg_summary = viterbi_segment(
            vocab.filter(F.col("w") == w), pieces, max_piece_len=3
        ).collect()[0]
        assert abs(seg_summary["best_lp"] - score) < 1e-12
        for p in path:
            expected[p] = expected.get(p, 0) + wc
    assert got == expected


def test_prune_loss_matches_bruteforce_masked_rescore(spark):
    """The EM prune step's loss table (operators/unigram_lm.py
    prune_loss) agrees with brute force: for each candidate piece,
    re-enumerate every segmentation of every word with the piece
    forbidden and sum wc x (best - masked_best). Words whose best path
    avoids the candidate must contribute exactly zero (the operator
    skips them; the definition includes them)."""
    from itertools import combinations

    from spark_relieffc_fselection_spark.operators.unigram_lm import (
        MISSING_PIECE_SCORE,
        piece_table,
        prune_loss,
        _dp,
    )

    words = [("abab", 5), ("aba", 3), ("bb", 2), ("a", 7), ("abba", 1)]
    vocab = spark.createDataFrame(words, "w string, wc long")
    pieces = piece_table(vocab, max_piece_len=3)
    lp = {r["piece"]: r["lp"] for r in pieces.collect()}
    candidates = ["ab", "ba", "bb", "aba"]
    got = {
        r["piece"]: r["loss"]
        for r in prune_loss(vocab, pieces, candidates, max_piece_len=3).collect()
    }

    def brute_best(w, forbidden=None):
        n = len(w)
        best = None
        for cuts in range(n):
            for cpos in combinations(range(1, n), cuts):
                bounds = [0, *cpos, n]
                segs = [w[bounds[i]: bounds[i + 1]] for i in range(len(bounds) - 1)]
                if any(len(s) > 3 for s in segs):
                    continue
                score = 0.0
                for s in segs:
                    v = MISSING_PIECE_SCORE if s == forbidden else lp.get(
                        s, MISSING_PIECE_SCORE
                    )
                    score = score + v
                if best is None or score > best:
                    best = score
        return best

    expected: dict[str, float] = {}
    for p in candidates:
        tot = 0.0
        for w, wc in words:
            tot += wc * (brute_best(w) - brute_best(w, forbidden=p))
        expected[p] = round(tot, 6)
    # the operator only emits candidates on >= 1 best path; absent
    # candidates have brute loss 0 by the zero-contribution argument
    for p in candidates:
        assert abs(got.get(p, 0.0) - expected[p]) < 1e-9, (p, got, expected)
    # sanity: at least one candidate has strictly positive loss, and
    # zero-contribution words really contribute zero
    assert any(v > 0 for v in expected.values())
    for w, _ in words:
        _, _, path = _dp(w, lp, 3)
        for p in candidates:
            if p not in path:
                assert brute_best(w) == brute_best(w, forbidden=p), (w, p)


def test_prune_loss_rejects_base_alphabet_candidates(spark):
    """Length-1 candidates must be rejected up front: pruning a base
    character could make words infeasible (SentencePiece never prunes
    the alphabet), so the operator fails loudly instead of emitting a
    -1e9-poisoned loss."""
    from spark_relieffc_fselection_spark.operators.unigram_lm import (
        piece_table,
        prune_loss,
    )

    vocab = spark.createDataFrame([("ab", 2)], "w string, wc long")
    pieces = piece_table(vocab, max_piece_len=2)
    with pytest.raises(ValueError, match="length >= 2"):
        prune_loss(vocab, pieces, ["ab", "a"], max_piece_len=2)


def test_piece_table_cap_preserves_segmentation_totality(spark):
    """The max_pieces cap (VERDICT r9 #3) bounds the MULTI-char
    candidate table only: length-1 pieces survive unconditionally, so
    even a cap of 0 leaves every word segmentable (no feasible best
    path ever scores MISSING_PIECE_SCORE), and the surviving scores
    renormalize to a proper distribution over the kept pieces."""
    import math

    from pyspark.sql import functions as F

    from spark_relieffc_fselection_spark.operators.unigram_lm import (
        MISSING_PIECE_SCORE,
        piece_table,
        viterbi_segment,
    )

    vocab = spark.createDataFrame(
        [("abab", 5), ("aba", 3), ("bb", 2), ("a", 7), ("abba", 1),
         ("cccc", 4)],
        "w string, wc long",
    )
    for cap in (0, 1, 2, 10**6):
        pieces = piece_table(vocab, max_piece_len=3, max_pieces=cap)
        rows = pieces.collect()
        alphabet = {r["piece"] for r in rows if len(r["piece"]) == 1}
        assert alphabet == {"a", "b", "c"}, f"cap={cap} dropped alphabet"
        n_multi = sum(1 for r in rows if len(r["piece"]) >= 2)
        assert n_multi <= max(cap, 0)
        # renormalized: kept-piece probabilities sum to ~1 (scores are
        # rounded to 6dp, so allow that much slack per piece)
        mass = sum(2 ** r["lp"] for r in rows)
        assert abs(mass - 1.0) < 1e-4 * len(rows)
        seg = viterbi_segment(vocab, pieces, max_piece_len=3).collect()
        assert len(seg) == vocab.count()
        for r in seg:
            assert r["best_lp"] > MISSING_PIECE_SCORE / 2, (
                f"cap={cap}: word {r['w']!r} became infeasible"
            )
        # the cap boundary is deterministic: (c DESC, piece ASC)
        if cap == 2:
            kept = sorted(
                (r["piece"] for r in rows if len(r["piece"]) >= 2)
            )
            uncapped = piece_table(vocab, max_piece_len=3).collect()
            expect = sorted(
                (r["piece"] for r in uncapped if len(r["piece"]) >= 2),
                key=lambda p: (
                    -next(x["c"] for x in uncapped if x["piece"] == p),
                    p,
                ),
            )[:2]
            assert kept == sorted(expect)


def test_piece_table_min_count_and_empty_vocab_guard(spark):
    """min_count drops rare multi-char candidates (base alphabet
    exempt); an empty vocabulary fails loudly instead of scoring
    every piece NaN (ADVICE r9)."""
    from spark_relieffc_fselection_spark.operators.unigram_lm import (
        piece_table,
    )

    vocab = spark.createDataFrame(
        [("abab", 5), ("xy", 1)], "w string, wc long"
    )
    rows = piece_table(vocab, max_piece_len=2, min_count=2).collect()
    pieces = {r["piece"] for r in rows}
    assert "xy" not in pieces            # rare multi-char dropped
    assert {"x", "y"} <= pieces          # alphabet survives min_count
    assert "ab" in pieces and "ba" in pieces

    empty = spark.createDataFrame([], "w string, wc long")
    with pytest.raises(ValueError, match="total piece mass is 0"):
        piece_table(empty, max_piece_len=2)


def test_reestimate_empty_mstep_fails_loudly(spark):
    """reestimate_piece_table on an empty/zero M-step raises instead
    of propagating NaN scores into the next E-step (ADVICE r9)."""
    from spark_relieffc_fselection_spark.operators.unigram_lm import (
        reestimate_piece_table,
    )

    empty = spark.createDataFrame([], "piece string, uses long")
    with pytest.raises(ValueError, match="empty M-step"):
        reestimate_piece_table(empty)


def test_driver_reestimate_matches_spark(spark):
    """The trainer's driver-side re-estimate (r12: _round6(_log2(u/t))
    replaces the reestimate_piece_table LocalRelation round trip) is
    bit-identical to Spark's ROUND(log2(uses/total), 6) over a wide
    randomized sample of trainer-shaped (uses, total) pairs."""
    import random

    from spark_relieffc_fselection_spark.operators.unigram_lm import (
        _log2,
        _round6,
        reestimate_piece_table,
    )

    rng = random.Random(1206)
    rows = []
    for i in range(4000):
        u = rng.randint(1, 10 ** rng.randint(0, 8))
        rows.append((f"p{i}", u))
    uses = spark.createDataFrame(rows, "piece string, uses long")
    got = {
        r["piece"]: r["lp"] for r in reestimate_piece_table(uses).collect()
    }
    total = float(sum(u for _, u in rows))
    for p, u in rows:
        assert got[p] == _round6(_log2(u / total)), (p, u, total)


def test_log2_round6_parity_probe(spark):
    """CI-resident form of the r12 log2 parity probe (OPTIMIZATION_r12.md
    change 4, OPTIMIZATION_r13.md §6; VERDICT r12 #8): _round6(_log2(u/t)) must equal Spark's ROUND(LOG2(u/t), 6)
    bit-for-bit on THIS platform's JVM/libm pairing — the assumption
    every driver-side EM replay in unigram_lm.py rests on. Fixed-seed
    trainer-shaped sample, one Spark job."""
    import random

    from pyspark.sql import functions as F

    from spark_relieffc_fselection_spark.operators.unigram_lm import (
        _log2,
        _round6,
    )

    rng = random.Random(20260817)
    pairs = []
    for _ in range(20_000):
        u = rng.randint(1, 10 ** rng.randint(0, 9))
        t = u + rng.randint(0, 10 ** rng.randint(0, 9))
        pairs.append((u, float(t)))
    df = spark.createDataFrame(pairs, "u long, t double")
    rows = df.select(
        "u", "t", F.round(F.log2(F.col("u") / F.col("t")), 6).alias("r6")
    ).collect()
    mismatches = [
        (r["u"], r["t"], r["r6"], _round6(_log2(r["u"] / r["t"])))
        for r in rows
        if _round6(_log2(r["u"] / r["t"])) != r["r6"]
    ]
    assert not mismatches, mismatches[:5]


def test_learn_bpe_matches_distributed_trainer(spark):
    """The driver-local histogram trainer (learn_bpe) and the
    fully-distributed per-round trainer (learn_bpe_merges) implement
    the SAME argmax tie rule and replace semantics — identical merge
    lists on the same vocabulary."""
    from spark_relieffc_fselection_spark.operators.bpe import (
        learn_bpe,
        learn_bpe_merges,
    )

    vocab = spark.createDataFrame(
        [("banana", 7), ("bandana", 5), ("cabana", 4), ("anagram", 2)],
        "w string, wc long",
    )
    assert learn_bpe(vocab, n_merges=10) == learn_bpe_merges(vocab, 10)


def test_learn_bpe_guards_and_target_derivation(spark):
    """Exactly one of n_merges / vocab_target; vocab_target derives
    merges as target - |alphabet|; forbidden characters rejected; the
    vocab cap is deterministic (wc DESC, w ASC)."""
    from spark_relieffc_fselection_spark.operators.bpe import learn_bpe

    vocab = spark.createDataFrame(
        [("banana", 7), ("bandana", 5)], "w string, wc long"
    )
    with pytest.raises(ValueError, match="exactly one"):
        learn_bpe(vocab)
    with pytest.raises(ValueError, match="exactly one"):
        learn_bpe(vocab, n_merges=2, vocab_target=10)
    # alphabet = {b,a,n,d} = 4; target 6 -> 2 merges
    assert len(learn_bpe(vocab, vocab_target=6)) == 2
    dirty = spark.createDataFrame([("he\uE001lo", 1)], "w string, wc long")
    with pytest.raises(ValueError, match="C0 control or private-use"):
        learn_bpe(dirty, n_merges=1)
    # cap keeps the top word only -> merges come from "banana" alone
    merges = learn_bpe(vocab, n_merges=2, max_vocab_words=1)
    assert merges[0][1] == "an"


def test_train_unigram_contract(spark):
    """The composed trainer (VERDICT r9 #4): corpus log-likelihood is
    non-decreasing across EM iterations (hard EM), the final
    vocabulary respects the target with the alphabet unpruned, and
    the trained scores renormalize over the survivors."""
    from spark_relieffc_fselection_spark.operators.unigram_lm import (
        train_unigram,
    )

    vocab = spark.createDataFrame(
        [("abab", 9), ("aba", 6), ("bb", 4), ("a", 11), ("abba", 3),
         ("cab", 5), ("bac", 2)],
        "w string, wc long",
    )
    res = train_unigram(vocab, vocab_target=6, n_iters=3, max_piece_len=3)
    assert len(res.ll_history) == 3
    for prev, cur in zip(res.ll_history, res.ll_history[1:]):
        assert cur >= prev - 1e-3 * max(1.0, abs(prev)), res.ll_history
    rows = res.pieces.collect()
    pieces = {r["piece"] for r in rows}
    assert {"a", "b", "c"} <= pieces           # alphabet never pruned
    assert len(rows) == 6 == res.final_size    # target hit exactly
    assert res.pruned_multi > 0                # pruning actually bit
    # scores renormalize over survivors (GREATEST(uses,1) floor)
    mass = sum(2 ** r["lp"] for r in rows)
    assert abs(mass - 1.0) < 1e-4 * len(rows)
    # a target below the alphabet size keeps the whole alphabet anyway
    res2 = train_unigram(vocab, vocab_target=2, n_iters=1, max_piece_len=3)
    got = {r["piece"] for r in res2.pieces.collect()}
    assert got == {"a", "b", "c"}


def test_learn_bpe_rejects_forbidden_chars_outside_the_cap(spark, monkeypatch):
    """The forbidden-character probe must scan the FULL vocabulary: a
    low-frequency PUA-bearing word outside the top max_vocab_words
    would otherwise train fine and then corrupt bpe_render over the
    full vocab. Also: the driver collect is refused past
    MAX_BPE_VOCAB_COLLECT rows instead of OOMing."""
    from spark_relieffc_fselection_spark.operators import bpe

    vocab = spark.createDataFrame(
        [("banana", 100), ("bandana", 50), ("he\uE001lo", 1)],
        "w string, wc long",
    )
    with pytest.raises(ValueError, match="C0 control or private-use"):
        bpe.learn_bpe(vocab, n_merges=2, max_vocab_words=2)

    clean = spark.createDataFrame(
        [("banana", 100), ("bandana", 50), ("cabana", 10)],
        "w string, wc long",
    )
    monkeypatch.setattr(bpe, "MAX_BPE_VOCAB_COLLECT", 2)
    with pytest.raises(ValueError, match="pass max_vocab_words"):
        bpe.learn_bpe(clean, n_merges=2)
    # bounded callers stay fine under the same ceiling
    assert len(bpe.learn_bpe(clean, n_merges=2, max_vocab_words=2)) == 2


def test_bpe_tier_boundary_is_lossless(spark, monkeypatch):
    """Merge chains that cross BOTH placeholder tier boundaries
    (BMP->Plane-15 and Plane-15->Plane-16 PUA-B, VERDICT r10 #4) stay
    lossless through the SPARK apply/render path (the F.replace
    machinery must treat supplementary code points as single
    characters, same as Python and DuckDB). Both tiers are shrunk to
    5 so a 33-merge chain provably crosses both without a
    72k-merge test."""
    import pyspark.sql.functions as F

    from spark_relieffc_fselection_spark.operators import bpe

    monkeypatch.setattr(bpe, "_BMP_SLOTS", 5)
    monkeypatch.setattr(bpe, "_SUPP_SLOTS", 5)
    alphabet = [chr(ord("0") + i) for i in range(10)] + [
        chr(ord("A") + i) for i in range(26)
    ] + [chr(ord("a") + i) for i in range(26)]
    words = [
        ("".join(alphabet[4 * i : 4 * i + 4]), 100 - i) for i in range(11)
    ]
    vocab = spark.createDataFrame(words, "w string, wc long")
    merges = bpe.learn_bpe(vocab, n_merges=1000)
    assert len(merges) == 33
    assert merges[4][0] == "\uE005" and merges[5][0] == "\U000F0001"
    # second boundary: Plane-15 exhausts at merge 10, Plane-16 chains on
    assert merges[9][0] == "\U000F0005" and merges[10][0] == "\U00100001"
    # the distributed trainer picks the identical chain across tiers
    assert bpe.learn_bpe_merges(vocab, 8) == merges[:8]
    merged = bpe.bpe_apply(vocab.withColumn("orig", F.col("w")), merges)
    rebuilt = merged.select(
        "orig", bpe.bpe_render("w", merges).alias("round_trip")
    )
    assert rebuilt.filter(F.col("round_trip") != F.col("orig")).count() == 0


def test_tokenizer_artifact_round_trip(spark, tmp_path):
    """Trained tokenizers must survive persistence: the BPE merge
    chain round-trips with its load-bearing order validated, and the
    unigram piece table round-trips with segmentation totality
    validated — a trained-but-unsaveable tokenizer is not a trainer."""
    from pyspark.sql import functions as F

    from spark_relieffc_fselection_spark.operators.bpe import (
        bpe_render,
        learn_bpe,
        load_merges,
        save_merges,
    )
    from spark_relieffc_fselection_spark.operators.unigram_lm import (
        load_piece_table,
        save_piece_table,
        train_unigram,
        viterbi_segment,
    )

    vocab = spark.createDataFrame(
        [("banana", 7), ("bandana", 5), ("cabana", 4), ("anagram", 2)],
        "w string, wc long",
    )
    merges = learn_bpe(vocab, n_merges=8)
    mp = str(tmp_path / "merges")
    save_merges(spark, merges, mp)
    assert load_merges(spark, mp) == merges
    # a loaded chain renders identically to the in-memory one
    sym = spark.createDataFrame([(merges[-1][0],)], "s string")
    a = sym.select(bpe_render("s", merges).alias("t")).first()["t"]
    b = sym.select(bpe_render("s", load_merges(spark, mp)).alias("t")).first()["t"]
    assert a == b and len(a) >= 2

    # alphabet is 8 chars; target 12 keeps 4 multi-char pieces, so
    # the corrupt-artifact case below has multi rows to orphan
    res = train_unigram(vocab, vocab_target=12, n_iters=1, max_piece_len=3)
    pp = str(tmp_path / "pieces")
    save_piece_table(res.pieces, pp)
    loaded = load_piece_table(spark, pp)
    assert sorted(map(tuple, loaded.collect())) == sorted(
        map(tuple, res.pieces.collect())
    )
    # the loaded artifact segments every word (serving path)
    seg = viterbi_segment(vocab, loaded, max_piece_len=3)
    assert seg.filter(F.col("best_lp") < -1e8).count() == 0

    # corrupt artifacts fail loudly
    bad = res.pieces.filter(F.length("piece") >= 2)
    bp = str(tmp_path / "bad_pieces")
    bad.write.parquet(bp)
    with pytest.raises(ValueError, match="not segmentation-total"):
        load_piece_table(spark, bp)
    gap = spark.createDataFrame(
        [(1, "\uE001", "ba"), (3, "\uE003", "na")],
        "m int, placeholder string, pair string",
    )
    gp = str(tmp_path / "bad_merges")
    gap.write.parquet(gp)
    with pytest.raises(ValueError, match="corrupt merge chain"):
        load_merges(spark, gp)


def test_piece_table_single_char_pieces_with_knobs(spark):
    """max_piece_len=1 with the capping knobs must degrade to the
    plain alphabet table (the knobs only act on multi-char
    candidates), not crash building an empty multi-branch explode."""
    from spark_relieffc_fselection_spark.operators.unigram_lm import (
        piece_table,
    )

    vocab = spark.createDataFrame([("abab", 5), ("b", 2)], "w string, wc long")
    for kw in ({"min_count": 2}, {"max_pieces": 1}, {"max_pieces": 0, "min_count": 3}):
        rows = piece_table(vocab, max_piece_len=1, **kw).collect()
        assert {r["piece"] for r in rows} == {"a", "b"}, kw


def test_bpe_incremental_loop_matches_reference_recount():
    """The incremental heap merge loop must pick the IDENTICAL merge
    sequence as a naive full-recount formulation — same (wcnt DESC,
    pair ASC) argmax, same left-to-right replace — across randomized
    vocabularies (overlapping pairs like 'aaa' included) and merge
    depths past exhaustion. Pure-driver property: no Spark."""
    import random

    from spark_relieffc_fselection_spark.operators.bpe import (
        _merge_loop,
        merge_placeholder,
    )

    def reference(words, n_merges):
        words = list(words)
        merges = []
        for m in range(1, n_merges + 1):
            counts = {}
            for w, wc in words:
                for i in range(len(w) - 1):
                    p = w[i : i + 2]
                    counts[p] = counts.get(p, 0) + wc
            if not counts:
                break
            pair = min(counts, key=lambda p: (-counts[p], p))
            ph = merge_placeholder(m)
            merges.append((ph, pair))
            words = [(w.replace(pair, ph), wc) for w, wc in words]
        return merges

    for seed in range(12):
        rng = random.Random(seed)
        alphabet = "abcde" if seed % 2 else "ab"  # tiny alphabets force ties
        words = [
            (
                "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 9))),
                rng.randint(1, 5),
            )
            for _ in range(rng.randint(1, 40))
        ]
        # dedup words like a real histogram (duplicate keys would be
        # two rows in work[], which is fine, but keep it histogram-like)
        hist = {}
        for w, wc in words:
            hist[w] = hist.get(w, 0) + wc
        vocab = sorted(hist.items())
        depth = rng.choice([1, 3, 10, 200])
        assert _merge_loop(list(vocab), depth) == reference(vocab, depth), (
            seed, depth, vocab,
        )


def test_train_unigram_iterative_prune(spark):
    """The SentencePiece shrink schedule (VERDICT r10 #3): with
    prune_rounds=R, the trainer runs R segments of n_iters hard-EM
    passes with a shrink-bounded prune between them. Pinned:
    ll_history is one entry per fused E+M pass and NON-DECREASING
    WITHIN every segment (the hard-EM law extended across prune
    rounds — a prune BOUNDARY may drop LL, that is what pruning
    does); the prune_sizes schedule binds per the
    max(keep_k, floor(n * shrink)) rule with the final round exactly
    at target; and the iterative result genuinely differs from the
    single-shot prune (fresh vs stale losses)."""
    from pyspark.sql import functions as F

    from spark_relieffc_fselection_spark.operators.unigram_lm import (
        MISSING_PIECE_SCORE,
        train_unigram,
        viterbi_segment,
    )

    import random

    rng = random.Random(23)
    alphabet = "abcdefgh"
    stems = ["".join(rng.choice(alphabet) for _ in range(3)) for _ in range(12)]
    hist = {}
    while len(hist) < 300:
        w = rng.choice(stems) + "".join(
            rng.choice(alphabet) for _ in range(rng.randint(0, 5))
        )
        hist[w] = hist.get(w, 0) + rng.randint(1, 30)
    vocab = spark.createDataFrame(sorted(hist.items()), "w string, wc long")

    n_iters, rounds = 2, 3
    res = train_unigram(
        vocab, vocab_target=30, n_iters=n_iters, max_piece_len=4,
        seed_max_pieces=120, prune_rounds=rounds, shrink_factor=0.75,
    )
    assert len(res.ll_history) == n_iters * rounds
    for s in range(rounds):  # hard-EM monotone WITHIN each segment
        seg = res.ll_history[s * n_iters:(s + 1) * n_iters]
        for prev, cur in zip(seg, seg[1:]):
            assert cur >= prev - 1e-3 * max(1.0, abs(prev)), (s, seg)
    assert len(res.prune_sizes) == rounds
    keep_k = 30 - len(alphabet)
    assert res.prune_sizes[-1] == keep_k        # final round hits target
    for a, b in zip(res.prune_sizes, res.prune_sizes[1:]):
        assert b <= a                            # schedule never grows
    assert res.pruned_multi > 0
    rows = res.pieces.collect()
    assert len(rows) == 30 == res.final_size
    assert {r["piece"] for r in rows} >= set(alphabet)
    # totality survives every prune: the trained table still segments
    # every vocabulary word (the floored-alphabet re-estimate's job)
    seg_df = viterbi_segment(vocab, res.pieces, max_piece_len=4)
    assert seg_df.filter(
        F.col("best_lp") < MISSING_PIECE_SCORE / 2
    ).count() == 0
    # the schedule BITES: iterative keep differs from single-shot
    single = train_unigram(
        vocab, vocab_target=30, n_iters=n_iters, max_piece_len=4,
        seed_max_pieces=120,
    )
    kept_iter = {r["piece"] for r in rows}
    kept_single = {r["piece"] for r in single.pieces.collect()}
    assert kept_iter != kept_single
    # knob validation
    import pytest as _pytest

    with _pytest.raises(ValueError, match="prune_rounds"):
        train_unigram(vocab, vocab_target=30, prune_rounds=0)
    with _pytest.raises(ValueError, match="shrink_factor"):
        train_unigram(vocab, vocab_target=30, shrink_factor=1.5)


def test_train_unigram_at_nontrivial_vocab(spark):
    """The composed trainer at a NON-toy vocabulary (2k distinct
    synthetic words, capped 400-piece seed, 300-piece target): LL
    monotone across iterations, the target hit exactly, the alphabet
    intact, and — the serving check — the TRAINED table still
    segments every vocabulary word."""
    import random

    from pyspark.sql import functions as F

    from spark_relieffc_fselection_spark.operators.unigram_lm import (
        MISSING_PIECE_SCORE,
        train_unigram,
        viterbi_segment,
    )
    from spark_relieffc_fselection_spark.queries import localize

    rng = random.Random(17)
    alphabet = "abcdefghijklmnop"
    hist = {}
    # skewed word lengths and shared stems so multi-char pieces carry
    # real mass (pure-random strings would starve the prune ranking)
    stems = ["".join(rng.choice(alphabet) for _ in range(4)) for _ in range(40)]
    while len(hist) < 2000:
        w = rng.choice(stems) + "".join(
            rng.choice(alphabet) for _ in range(rng.randint(0, 6))
        )
        hist[w] = hist.get(w, 0) + rng.randint(1, 50)
    vocab = localize(spark.createDataFrame(
        sorted(hist.items()), "w string, wc long"
    ))
    # post-EM multi-char support measures ~263 here, so a 150-piece
    # target forces a real prune of ~130 pieces
    res = train_unigram(
        vocab, vocab_target=150, n_iters=2, max_piece_len=4,
        seed_max_pieces=400,
    )
    assert len(res.ll_history) == 2
    assert res.ll_history[1] >= res.ll_history[0] - 1e-3 * abs(res.ll_history[0])
    rows = res.pieces.collect()
    assert len(rows) == 150 == res.final_size
    assert {r["piece"] for r in rows} >= set(alphabet)
    assert res.pruned_multi > 0
    seg = viterbi_segment(vocab, res.pieces, max_piece_len=4)
    assert seg.filter(F.col("best_lp") < MISSING_PIECE_SCORE / 2).count() == 0
    # the ITERATIVE schedule at the same non-toy scale (the ~263-piece
    # support shrinks 263 -> ~197 -> ~147 -> 142 over three binding-ish
    # rounds): every within-segment LL pair monotone, totality intact
    res_it = train_unigram(
        vocab, vocab_target=150, n_iters=2, max_piece_len=4,
        seed_max_pieces=400, prune_rounds=3, shrink_factor=0.75,
    )
    assert len(res_it.ll_history) == 6 and len(res_it.prune_sizes) == 3
    for s in range(3):
        a, b = res_it.ll_history[2 * s], res_it.ll_history[2 * s + 1]
        assert b >= a - 1e-3 * max(1.0, abs(a)), (s, a, b)
    assert res_it.prune_sizes[-1] == 150 - len(alphabet)
    rows_it = res_it.pieces.collect()
    assert len(rows_it) == 150
    seg_it = viterbi_segment(vocab, res_it.pieces, max_piece_len=4)
    assert seg_it.filter(
        F.col("best_lp") < MISSING_PIECE_SCORE / 2
    ).count() == 0


def test_bpe_ids_parity_with_string_path():
    """The ceiling-free id-space trainer replays the string path's
    merge sequences EXACTLY (under the placeholder->merge-id mapping)
    on sub-U+E000 vocabularies — randomized histograms, depths past
    the pair supply, overlap cases included. Plus: the rank-based
    per-word encode equals chain-order application, and rendering is
    lossless."""
    import random

    from spark_relieffc_fselection_spark.operators.bpe import (
        _merge_loop,
        merge_placeholder,
    )
    from spark_relieffc_fselection_spark.operators.bpe_ids import (
        _merge_loop_ids,
        _replace_pair,
        encode_word_ids,
        merge_id,
        render_id,
    )

    rng = random.Random(31)
    for trial in range(15):
        hist = {}
        for _ in range(rng.randint(3, 40)):
            w = "".join(
                rng.choice("abcdef") for _ in range(rng.randint(1, 9))
            )
            hist[w] = hist.get(w, 0) + rng.randint(1, 20)
        words = sorted(hist.items())
        depth = rng.choice([1, 5, 50, 400])
        s_merges = _merge_loop(list(words), depth)
        i_merges = _merge_loop_ids(
            [(tuple(ord(c) for c in w), wc) for w, wc in words], depth
        )
        ph2id = {
            merge_placeholder(m): merge_id(m)
            for m in range(1, len(s_merges) + 1)
        }
        mapped = [
            (
                merge_id(m),
                (ph2id.get(pair[0], ord(pair[0])),
                 ph2id.get(pair[1], ord(pair[1]))),
            )
            for m, (_ph, pair) in enumerate(s_merges, 1)
        ]
        assert mapped == i_merges, (trial, depth)
        ranks = {pair: (m, nid) for m, (nid, pair) in enumerate(i_merges, 1)}
        expand = {nid: pair for nid, pair in i_merges}
        memo = {}
        for w, _ in words[:8]:
            ids = [ord(c) for c in w]
            enc = encode_word_ids(list(ids), ranks)
            chain = tuple(ids)
            for nid, pair in i_merges:
                chain = _replace_pair(chain, pair, nid)
            assert list(chain) == enc, (trial, w)
            assert "".join(render_id(t, expand, memo) for t in enc) == w


def test_bpe_ids_has_no_merge_ceiling():
    """The whole point of the id representation: n_merges far past the
    string path's 137,465 ceiling is ACCEPTED (supply exhaustion, not
    a ValueError), merge ids allocate past the Unicode code-point
    space, and PUA/C0 input — which the string path must reject —
    trains and round-trips fine because merge ids cannot alias any
    character."""
    from spark_relieffc_fselection_spark.operators.bpe import _MAX_MERGES
    from spark_relieffc_fselection_spark.operators.bpe_ids import (
        MERGE_ID_BASE,
        _merge_loop_ids,
        encode_word_ids,
        merge_id,
        render_id,
    )

    assert merge_id(_MAX_MERGES + 1) > 0x10FFFF  # past every code point
    got = _merge_loop_ids([((97, 98, 99, 100), 5)], _MAX_MERGES + 10_000)
    assert len(got) == 3  # supply exhausted gracefully, no ceiling error
    # PUA input is legal here (the string path raises on it)
    w = "he\uE001lo"  # a literal PUA char: legal here, rejected by the string path
    ids_in = [ord(c) for c in w]
    merges = _merge_loop_ids([(tuple(ids_in), 3)], 4)
    ranks = {pair: (m, nid) for m, (nid, pair) in enumerate(merges, 1)}
    enc = encode_word_ids(list(ids_in), ranks)
    expand = {nid: pair for nid, pair in merges}
    assert "".join(render_id(t, expand, {}) for t in enc) == w
    # a synthetic chain whose ids exceed the Unicode ceiling renders
    base = MERGE_ID_BASE
    chain = [(base + 1, (97, 98)), (base + 2, (base + 1, 99))]
    assert render_id(base + 2, {n: p for n, p in chain}, {}) == "abc"


def test_bpe_ids_spark_encode_matches_driver(spark):
    """bpe_ids_encode's Arrow pass returns, per word, exactly the
    driver-side rank encode — and the trained chain via the DataFrame
    API equals the driver loop on the same histogram."""
    from spark_relieffc_fselection_spark.operators.bpe_ids import (
        _merge_loop_ids,
        bpe_ids_encode,
        encode_word_ids,
        learn_bpe_ids,
    )

    rows = [("banana", 7), ("bandana", 5), ("cabana", 4), ("anagram", 2)]
    vocab = spark.createDataFrame(rows, "w string, wc long")
    merges = learn_bpe_ids(vocab, n_merges=6)
    assert merges == _merge_loop_ids(
        [(tuple(ord(c) for c in w), wc) for w, wc in rows], 6
    )
    ranks = {pair: (m, nid) for m, (nid, pair) in enumerate(merges, 1)}
    got = {
        r["w"]: list(r["token_ids"])
        for r in bpe_ids_encode(vocab, merges).collect()
    }
    for w, _ in rows:
        assert got[w] == encode_word_ids([ord(c) for c in w], ranks), w


def test_sampled_segment_subword_regularization(spark):
    """Hash-Gumbel perturb-and-MAP sampling (Kudo 2018 subword
    regularization): deterministic given (seed, alpha) — identical
    across calls; different seeds explore different segmentations;
    large alpha converges on the argmax path; every sampled path
    still reconstructs its word (totality under perturbation)."""
    from spark_relieffc_fselection_spark.operators.unigram_lm import (
        piece_table,
        sampled_segment,
        viterbi_segment,
    )

    rows = [("banana", 9), ("bandana", 6), ("cabana", 5), ("anagram", 3),
            ("bananarama", 2), ("cabal", 4)]
    vocab = spark.createDataFrame(rows, "w string, wc long")
    pieces = piece_table(vocab, max_piece_len=3)

    def paths(df):
        return {r["w"]: tuple(r["pieces"]) for r in df.collect()}

    s1 = paths(sampled_segment(vocab, pieces, alpha=1.0, seed="a",
                               max_piece_len=3, emit_pieces=True))
    s2 = paths(sampled_segment(vocab, pieces, alpha=1.0, seed="a",
                               max_piece_len=3, emit_pieces=True))
    assert s1 == s2                       # deterministic given the seed
    s3 = paths(sampled_segment(vocab, pieces, alpha=1.0, seed="b",
                               max_piece_len=3, emit_pieces=True))
    assert s1 != s3                       # a different epoch seed explores
    argmax = paths(viterbi_segment(vocab, pieces, max_piece_len=3,
                                   emit_pieces=True))
    assert s1 != argmax                   # sampling bites at alpha=1
    sharp = paths(sampled_segment(vocab, pieces, alpha=1e9, seed="a",
                                  max_piece_len=3, emit_pieces=True))
    # alpha -> inf collapses the Gumbel term to ~0 (rounded to 6dp),
    # recovering the argmax path exactly
    assert sharp == argmax
    for w, _ in rows:                     # totality: paths reconstruct
        assert "".join(s1[w]) == w and "".join(s3[w]) == w


def test_bpe_dropout_regularization(spark):
    """BPE-dropout (Provilkov 2020): p=0 equals the exact rank encode,
    p=1 falls back to characters, 0<p<1 yields an intermediate
    (coarser) segmentation; deterministic per (seed, p), exploring
    across seeds; every variant still renders back to its word."""
    from spark_relieffc_fselection_spark.operators.bpe_ids import (
        bpe_ids_encode_dropout,
        encode_word_ids,
        encode_word_ids_dropout,
        learn_bpe_ids,
        render_id,
    )

    rows = [("banana", 9), ("bandana", 6), ("cabana", 5), ("anagram", 3),
            ("bananarama", 2)]
    vocab = spark.createDataFrame(rows, "w string, wc long")
    merges = learn_bpe_ids(vocab, n_merges=8)
    ranks = {pair: (m, nid) for m, (nid, pair) in enumerate(merges, 1)}
    expand = {nid: pair for nid, pair in merges}
    memo: dict[int, str] = {}
    diverged = 0
    for w, _ in rows:
        exact = encode_word_ids([ord(c) for c in w], ranks)
        p0 = encode_word_ids_dropout(w, ranks, 0.0, "a")
        assert p0 == exact, w                    # p=0 == exact encode
        p1 = encode_word_ids_dropout(w, ranks, 1.0, "a")
        assert p1 == [ord(c) for c in w], w      # p=1 == characters
        mid_a = encode_word_ids_dropout(w, ranks, 0.4, "a")
        assert mid_a == encode_word_ids_dropout(w, ranks, 0.4, "a")
        mid_b = encode_word_ids_dropout(w, ranks, 0.4, "b")
        if mid_a != mid_b:
            diverged += 1
        assert len(exact) <= len(mid_a) <= len(w)  # coarser, not finer
        for enc in (p0, p1, mid_a, mid_b):       # lossless rendering
            assert "".join(render_id(t, expand, memo) for t in enc) == w
    assert diverged > 0                          # seeds genuinely explore
    # the Spark pass matches the driver encode word-for-word
    got = {
        r["w"]: list(r["token_ids"])
        for r in bpe_ids_encode_dropout(vocab, merges, 0.4, "a").collect()
    }
    for w, _ in rows:
        assert got[w] == encode_word_ids_dropout(w, ranks, 0.4, "a"), w
    # byte-level dropout: mode must match the trained chain (a
    # byte-level chain on multi-byte text merges nothing under
    # code-point ids — the guard the byte_level flag exists for)
    from spark_relieffc_fselection_spark.operators.bpe_ids import (
        learn_bpe_ids,
        render_id_bytes,
    )

    brows = [("héllo", 6), ("héllos", 3)]
    bv = spark.createDataFrame(brows, "w string, wc long")
    bmerges = learn_bpe_ids(bv, n_merges=6, byte_level=True)
    branks = {pair: (m, nid) for m, (nid, pair) in enumerate(bmerges, 1)}
    bexpand = {nid: pair for nid, pair in bmerges}
    for w, _ in brows:
        enc = encode_word_ids_dropout(w, branks, 0.4, "a", byte_level=True)
        assert b"".join(
            render_id_bytes(t, bexpand, {}) for t in enc
        ) == w.encode("utf-8"), w
    import pytest as _pytest
    with _pytest.raises(ValueError, match="probability"):
        encode_word_ids_dropout("abc", ranks, 1.5)


def test_bpe_ids_byte_level(spark):
    """Byte-level mode (the GPT-2/Llama base alphabet): multi-byte
    characters train and round-trip through BYTES (tokens may split a
    character — rendering returns bytes and the word-level
    concatenation is valid UTF-8 again); on pure-ASCII text byte ids
    equal code points, so merge sequences match char-level exactly."""
    from spark_relieffc_fselection_spark.operators.bpe_ids import (
        bpe_ids_encode,
        learn_bpe_ids,
        render_id_bytes,
    )

    rows = [("héllo", 6), ("héllos", 3), ("日本語", 4), ("hello", 5)]
    vocab = spark.createDataFrame(rows, "w string, wc long")
    merges = learn_bpe_ids(vocab, n_merges=10, byte_level=True)
    assert merges, "byte-level training produced no merges"
    expand = {nid: pair for nid, pair in merges}
    memo: dict[int, bytes] = {}
    got = {
        r["w"]: list(r["token_ids"])
        for r in bpe_ids_encode(vocab, merges, byte_level=True).collect()
    }
    for w, _ in rows:  # lossless at word granularity, via BYTES
        assert b"".join(
            render_id_bytes(int(t), expand, memo) for t in got[w]
        ) == w.encode("utf-8"), w
    # ASCII-only vocab: byte-level == char-level merge-for-merge
    ascii_rows = [("banana", 7), ("bandana", 5), ("cabana", 4)]
    av = spark.createDataFrame(ascii_rows, "w string, wc long")
    assert learn_bpe_ids(av, n_merges=6, byte_level=True) == learn_bpe_ids(
        av, n_merges=6
    )


def test_bpe_ids_artifact_round_trip(spark, tmp_path):
    """Id-space merge chains must survive persistence with the same
    validation rigor as the string path: ordinal gaps and a foreign
    id-allocation law are refused; the loaded chain encodes
    identically to the in-session one."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from spark_relieffc_fselection_spark.operators.bpe_ids import (
        bpe_ids_encode,
        learn_bpe_ids,
        load_merges_ids,
        save_merges_ids,
    )

    vocab = spark.createDataFrame(
        [("banana", 7), ("bandana", 5), ("cabana", 4)], "w string, wc long"
    )
    merges = learn_bpe_ids(vocab, n_merges=6)
    p = str(tmp_path / "ids_merges")
    save_merges_ids(spark, merges, p)
    loaded = load_merges_ids(spark, p)
    assert loaded == merges
    a = {r["w"]: list(r["token_ids"])
         for r in bpe_ids_encode(vocab, merges).collect()}
    b = {r["w"]: list(r["token_ids"])
         for r in bpe_ids_encode(vocab, loaded).collect()}
    assert a == b
    # corrupt ordinal refused
    spark.read.parquet(p).withColumn(
        "m", F.when(F.col("m") == 2, 9).otherwise(F.col("m"))
    ).write.mode("overwrite").parquet(str(tmp_path / "bad1"))
    with _pytest.raises(ValueError, match="ordinal"):
        load_merges_ids(spark, str(tmp_path / "bad1"))
    # foreign id-allocation law refused
    spark.read.parquet(p).withColumn(
        "new_id", F.col("new_id") + 7
    ).write.mode("overwrite").parquet(str(tmp_path / "bad2"))
    with _pytest.raises(ValueError, match="id-allocation"):
        load_merges_ids(spark, str(tmp_path / "bad2"))


def test_bpe_word_dropout_properties(spark):
    """WORD-level BPE-dropout (the q177 string-path variant): p=0
    equals exact bpe_apply, p=1 applies nothing (characters) — the
    two ends where it must AGREE with the site-level id-space
    variant — deterministic per (seed, p), exploring across seeds,
    and every variant renders back to its word."""
    from spark_relieffc_fselection_spark.operators.bpe import (
        bpe_apply,
        bpe_apply_word_dropout,
        learn_bpe,
    )
    from spark_relieffc_fselection_spark.operators.bpe_ids import (
        encode_word_ids_dropout,
        learn_bpe_ids,
        render_id,
    )

    from pyspark.sql import functions as F

    rows = [("banana", 9), ("bandana", 6), ("cabana", 5), ("anagram", 3),
            ("bananarama", 2)]
    vocab = spark.createDataFrame(rows, "w string, wc long")
    src = vocab.withColumn("orig", F.col("w"))
    merges = learn_bpe(vocab, n_merges=8)

    def surf(sym: str) -> str:
        # expand placeholders to surface text (reverse merge order —
        # later pairs may contain earlier placeholders)
        for ph, pair in reversed(merges):
            sym = sym.replace(ph, pair)
        return sym

    def applied(p: float, seed: str) -> dict[str, str]:
        out = bpe_apply_word_dropout(src, merges, p=p, seed=seed)
        return {r["orig"]: r["w"] for r in out.collect()}

    exact = {r["orig"]: r["w"]
             for r in bpe_apply(src, merges).collect()}
    p0, p1 = applied(0.0, "a"), applied(1.0, "a")
    mid_a, mid_a2, mid_b = applied(0.5, "a"), applied(0.5, "a"), applied(0.5, "b")

    # the site-level id-space twin, for the agreement pin at the ends
    id_merges = learn_bpe_ids(vocab, n_merges=8)
    id_ranks = {pair: (m, nid) for m, (nid, pair) in enumerate(id_merges, 1)}
    id_expand = {nid: pair for nid, pair in id_merges}

    diverged = 0
    for w, _ in rows:
        assert p0[w] == exact[w], w              # p=0 == exact chain
        assert p1[w] == w, w                     # p=1 == characters
        assert mid_a[w] == mid_a2[w], w          # deterministic per seed
        if mid_a[w] != mid_b[w]:
            diverged += 1
        # coarser-never-finer, and lossless rendering at every p
        assert len(exact[w]) <= len(mid_a[w]) <= len(w)
        for v in (p0[w], p1[w], mid_a[w], mid_b[w]):
            assert surf(v) == w, w
        # site-vs-word agreement at the ends: identical rendered
        # token sequences (mid-p legitimately differs — different
        # granularity of the drop decision)
        for p_end, word_form in ((0.0, p0[w]), (1.0, p1[w])):
            site = [
                render_id(t, id_expand, {})
                for t in encode_word_ids_dropout(w, id_ranks, p_end, "a")
            ]
            assert [surf(s) for s in word_form] == site, (w, p_end)
    assert diverged > 0                          # seeds genuinely explore

    import pytest as _pytest
    with _pytest.raises(ValueError, match="probability"):
        bpe_apply_word_dropout(src, merges, p=-0.1)


def test_string_to_ids_serving_bridge(spark):
    """merge_ranks_from_string_chain (VERDICT r11 #4): a chain trained
    on the STRING path serves identically through the id path's
    rank encoder — stacked-replace encode == bridged rank encode,
    token for token, at real depth (100 merges over a mixed-length
    vocab) — and the validators reject foreign/corrupt chains."""
    from spark_relieffc_fselection_spark.operators.bpe import (
        bpe_apply,
        learn_bpe,
        merge_placeholder,
    )
    from spark_relieffc_fselection_spark.operators.bpe_ids import (
        bpe_ids_encode,
        merge_ranks_from_string_chain,
        render_id,
    )
    from pyspark.sql import functions as F

    rows = [
        ("international", 11), ("internation", 9), ("internal", 8),
        ("nationalism", 7), ("nation", 13), ("rational", 5),
        ("rationalism", 4), ("alienation", 3), ("intern", 6),
        ("banana", 9), ("bandana", 2), ("anagram", 2), ("a", 20),
        ("ab", 1), ("x", 1),
    ]
    vocab = spark.createDataFrame(rows, "w string, wc long")
    merges = learn_bpe(vocab, n_merges=100)
    assert len(merges) > 20  # depth is real, not pair-exhausted at 5

    # string-path serving: apply the chain, split to symbols, expand
    def surf(sym: str) -> str:
        for ph, pair in reversed(merges):
            sym = sym.replace(ph, pair)
        return sym

    src = vocab.withColumn("orig", F.col("w"))
    string_tokens = {
        r["orig"]: [surf(c) for c in r["w"]]
        for r in bpe_apply(src, merges).collect()
    }

    # bridged id-path serving
    bridged = merge_ranks_from_string_chain(merges)
    expand = {nid: pair for nid, pair in bridged}
    memo: dict[int, str] = {}
    id_tokens = {
        r["w"]: [render_id(int(t), expand, memo) for t in r["token_ids"]]
        for r in bpe_ids_encode(vocab, bridged).collect()
    }
    for w, _ in rows:
        assert string_tokens[w] == id_tokens[w], w

    # validator: placeholder-allocation law
    bad = [(merge_placeholder(2), merges[0][1])] + merges[1:]
    with pytest.raises(ValueError, match="placeholder-allocation"):
        merge_ranks_from_string_chain(bad)
    # validator: pair referencing a never-allocated placeholder
    bad2 = [(merge_placeholder(1), "a" + merge_placeholder(7))]
    with pytest.raises(ValueError, match="no earlier merge"):
        merge_ranks_from_string_chain(bad2)
    # validator: pair that is not two symbols
    bad3 = [(merge_placeholder(1), "abc")]
    with pytest.raises(ValueError, match="expected 2"):
        merge_ranks_from_string_chain(bad3)


def test_bridge_parity_property_random_vocabs():
    """Hypothesis pin of the serving-bridge parity law over random
    sub-U+E000 vocabularies (ASCII + CJK — the domain where string
    and id paths are sequence-identical by the module contract):
    stacked in-order replace == bridged rank encode, token for
    token, for every word under every trained depth."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_relieffc_fselection_spark.operators.bpe import _merge_loop
    from spark_relieffc_fselection_spark.operators.bpe_ids import (
        encode_word_ids,
        merge_ranks_from_string_chain,
        render_id,
    )

    alphabet = "abcdefgh" + "一丁丂é"

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(
            st.text(alphabet=alphabet, min_size=1, max_size=12),
            min_size=3,
            max_size=20,
            unique=True,
        ),
        st.integers(min_value=1, max_value=60),
    )
    def check(words, n_merges):
        hist = [(w, i + 1) for i, w in enumerate(sorted(words))]
        merges = _merge_loop(hist, n_merges)
        bridged = merge_ranks_from_string_chain(merges)
        ranks = {
            pair: (m, nid) for m, (nid, pair) in enumerate(bridged, 1)
        }
        expand = {nid: pair for nid, pair in bridged}
        memo: dict[int, str] = {}
        for w, _ in hist:
            s = w
            for ph, pair in merges:
                s = s.replace(pair, ph)
            stacked = []
            for c in s:
                for ph, pair in reversed(merges):
                    c = c.replace(ph, pair)
                stacked.append(c)
            rendered = [
                render_id(t, expand, memo)
                for t in encode_word_ids([ord(c) for c in w], ranks)
            ]
            assert rendered == stacked, (w, rendered, stacked)

    check()


def test_bpe_ids_decode_round_trip(spark):
    """bpe_ids_decode is the exact inverse of bpe_ids_encode in both
    modes (char ids incl. supplementary-plane input; byte ids whose
    tokens may split multi-byte characters), and the corpus-level
    tokenize -> decode -> join-back reconstruction equals the
    normalized text — the round-13 gate-candidate shape."""
    from pyspark.sql import functions as F

    from spark_relieffc_fselection_spark.functions.text import (
        normalize_text,
        tokens,
    )
    from spark_relieffc_fselection_spark.operators.bpe_ids import (
        bpe_ids_decode,
        bpe_ids_encode,
        learn_bpe_ids,
    )

    rows = [("banana", 9), ("bandana", 6), ("héllo", 4), ("𝄞music", 2)]
    vocab = spark.createDataFrame(rows, "w string, wc long")
    for byte_level in (False, True):
        merges = learn_bpe_ids(vocab, n_merges=6, byte_level=byte_level)
        enc = bpe_ids_encode(vocab, merges, byte_level=byte_level)
        dec = bpe_ids_decode(enc, merges, byte_level=byte_level)
        assert dec.columns == ["w", "wc", "token_ids", "decoded"]
        for r in dec.collect():
            assert r["decoded"] == r["w"], (byte_level, r)

    # corpus identity: tokenize distinct words, decode, join back by
    # word, reassemble in position order == normalized text
    docs = spark.createDataFrame(
        [(1, "  Banana  bandana\tbanana "), (2, "héllo 𝄞music banana")],
        "doc_id long, text string",
    )
    words = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "w")
    )
    cvocab = words.groupBy("w").agg(F.count("*").alias("wc"))
    merges = learn_bpe_ids(cvocab, n_merges=8)
    per_word = bpe_ids_decode(
        bpe_ids_encode(cvocab, merges), merges
    ).select("w", "decoded")
    rebuilt = (
        words.join(F.broadcast(per_word), "w")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ", F.array_sort(F.collect_list(F.struct("pos", "decoded")))
                .getField("decoded")
            ).alias("rebuilt")
        )
    )
    got = {
        r["doc_id"]: r["rebuilt"]
        for r in docs.join(rebuilt, "doc_id")
        .select("doc_id", "rebuilt", normalize_text("text").alias("norm"))
        .collect()
    }
    norms = {
        r["doc_id"]: r["norm"]
        for r in docs.select("doc_id", normalize_text("text").alias("norm")).collect()
    }
    assert got == norms
