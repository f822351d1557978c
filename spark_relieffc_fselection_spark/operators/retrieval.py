"""BM25 sparse retrieval over the document corpus.

Sparse lexical retrieval is the workhorse first stage of RAG data
pipelines (and the classic pairing with the embedding ANN operators
in :mod:`.simsearch`): score documents for a bag of query terms with
BM25 (Robertson/Sparck Jones; the Okapi formulation with the
Lucene-style non-negative idf) and keep the top-k.

Design (Spark-first, ONE corpus pass in the scoring plan):

* Tokenize with a portable ``lower`` + split-on-``[^a-z]+`` — the
  exact expression DuckDB spells as ``regexp_split_to_array``, which
  is what makes the oracle possible.
* The query terms are known statically, so per-doc state is ONE wide
  aggregate off the token explode: ``(dl, tf_term1..tf_termK)`` —
  document length and per-term counts in the same map-side-combined
  shuffle. The naive dataflow (separate ``dl``, ``tf``, ``df``,
  ``stats`` frames joined back together) references the token subtree
  four times, and ReuseExchange does NOT unify aliased subtrees
  (SCALE.md, round 5) — it tokenizes the corpus 4x. The wide
  aggregate tokenizes once.
* Corpus stats (N, avgdl, df per term) are one 1-row aggregate over
  the per-doc frame, materialized as a LocalRelation
  (``queries.localize``) precisely so the scoring plan does not
  re-derive the per-doc aggregate a second time; scoring is then
  per-doc frame x broadcast 1-row stats.
* Per-term scores are summed row-wise as DECIMAL(38,18) — exact, so
  it matches the oracle's decimal SUM over per-(doc, term) rows —
  and ranked on the rounded score with doc id as total tiebreak.

At 100 TB: two corpus passes total (stats build + scoring), each one
hash-partitioned aggregate with map-side combine; df/N/avgdl are a
single broadcast row. The global top-k window runs over docs that
contain at least one query term; for stop-word-ish terms swap the
window for the bounded per-partition top-k used by q05.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEC = "decimal(38,18)"

K1 = 1.2
B = 0.75


def tokenize(docs: DataFrame, id_col: str, text: str) -> DataFrame:
    """(id, term) rows: lowercased, split on runs of non-letters."""
    return (
        docs.select(
            F.col(id_col),
            F.explode(
                F.split(F.lower(F.col(text)), "[^a-z]+")
            ).alias("term"),
        )
        .filter(F.col("term") != "")
    )


def doc_term_profile(
    docs: DataFrame,
    terms: Sequence[str],
    *,
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """One row per token-bearing doc: ``(id, _dl, _tf0.._tfK)``."""
    toks = tokenize(docs, id_col, text)
    tf_cols = [
        F.sum(F.when(F.col("term") == t, 1).otherwise(0)).alias(f"_tf{i}")
        for i, t in enumerate(terms)
    ]
    return toks.groupBy(id_col).agg(F.count("*").alias("_dl"), *tf_cols)


def bm25_topk(
    docs: DataFrame,
    terms: Sequence[str],
    k: int,
    *,
    id_col: str = "doc_id",
    text: str = "text",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Top-k documents by BM25 score for a bag of query ``terms``.

    score(d) = sum over query terms t of
      ln((N - df + 0.5)/(df + 0.5) + 1) * tf*(k1+1) /
        (tf + k1*(1 - b + b*dl/avgdl))

    Returns ``(id, score, rank)``, rank 1..k, ties broken by id.
    """
    from spark_relieffc_fselection_spark.queries import localize

    per_doc = doc_term_profile(docs, terms, id_col=id_col, text=text)
    n_terms = len(terms)
    stats = localize(
        per_doc.agg(
            F.count("*").alias("_n"),
            F.avg("_dl").alias("_avgdl"),
            *[
                F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
                for i in range(n_terms)
            ],
        )
    )

    def term_score(i: int) -> Column:
        tf = F.col(f"_tf{i}")
        idf = F.log(
            (F.col("_n") - F.col(f"_df{i}") + 0.5)
            / (F.col(f"_df{i}") + 0.5)
            + 1.0
        )
        tf_part = (tf * (k1 + 1.0)) / (
            tf + k1 * (1.0 - b + b * F.col("_dl") / F.col("_avgdl"))
        )
        return F.when(tf > 0, (idf * tf_part).cast(DEC)).otherwise(
            F.lit(0).cast(DEC)
        )

    total = term_score(0)
    for i in range(1, n_terms):
        total = total + term_score(i)
    any_hit = F.greatest(
        *[F.col(f"_tf{i}") for i in range(n_terms)]
    ) > 0 if n_terms > 1 else F.col("_tf0") > 0

    scored = (
        per_doc.crossJoin(F.broadcast(stats))
        .filter(any_hit)
        .select(
            id_col,
            F.round(total.cast("double"), 6).alias("score"),
        )
    )
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def assemble_doc_tokens(doc_tokens: DataFrame) -> DataFrame:
    """(doc_id, d_toks array<array<double>>): per-doc token vectors in
    tok_idx order — sort_array on (tok_idx, vec) structs, because
    collect_list has no order contract and every downstream fold-left
    sum must be bit-identical across engines."""
    return (
        doc_tokens.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("tok_idx", "vec"))
            ).alias("toks")
        )
        .select(
            "doc_id",
            F.transform(F.col("toks"), lambda s: s["vec"]).alias("d_toks"),
        )
    )


#: Query-token rows carry a d-dim vector each, so the broadcast-hint
#: ceiling sits well below knn.py's 4M-row id-only probe threshold:
#: 500k rows x 32 dims x 8 B is already ~128 MB of broadcast per
#: executor. Past it, the candidates-mode equi-join drops the hint
#: (sort-merge is linear in both sides; AQE re-broadcasts at runtime
#: if the built side turns out tiny) and rerank-ALL refuses outright —
#: a non-broadcast CROSS join is a shuffled cartesian product, which
#: is never the right plan; the two-stage path is the remedy.
MAX_BROADCAST_QUERY_TOKENS = 500_000


def maxsim_rerank(
    doc_tokens: DataFrame,
    query_tokens: DataFrame,
    k: int,
    exclude_self: bool = True,
    candidates: DataFrame | None = None,
    num_query_tokens: int | None = None,
) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) reranking.

    ``doc_tokens``: (doc_id, tok_idx, vec array<double>) — multiple
    token vectors per document; ``query_tokens``: the SAME columns
    (doc_id, tok_idx, vec) — the query documents' token rows, whose
    doc ids become ``query_id`` in the output.
    Score(q, d) = sum over query tokens of max over doc
    tokens of <q_tok, d_tok> — the multi-vector relevance model that
    beats single-vector cosine when queries match documents on
    DIFFERENT aspects.

    ``candidates`` (query_id, doc_id) restricts scoring to those
    pairs — the first-stage-then-rerank pattern: the token assembly
    semi-joins the candidate doc ids BEFORE its groupBy, so the
    expensive stage aggregates and scores only candidate-sized data
    (corpus-independent). One scoring implementation serves both
    modes, keeping the score semantics bit-identical by construction.

    Spark-first dataflow, one corpus pass:

    * Doc token vectors assemble into one array-of-arrays per doc
      (``sort_array`` on (tok_idx, vec) structs — a DETERMINISTIC
      order, which keeps the fold-left dot/score sums bit-identical
      across engines; collect_list alone has no order contract).
    * Query tokens stay ROW-wise (query_id, tok_idx, vec) and
      broadcast — per (doc, query-token) row the max-dot over the
      doc's tokens is one whole-stage-codegen HOF expression
      (aggregate over zip_with), never an exploded token-pair join.
    * Per-(query, doc) score = decimal SUM of the per-token maxes —
      shuffle-order-independent, hence exactly oracle-replayable.
    * Bounded top-k window per query on the rounded score with doc id
      as total tiebreak.

    At 100 TB: the corpus-side work is one groupBy (token assembly,
    map-side combined) + a broadcast-join projection; queries are the
    bounded side, exactly like knn_join's contract. For corpora where
    even the projection pass is too hot, pass ``candidates`` from a
    first-stage cut (BM25 / ANN / centroid top-C per query).
    """
    from spark_relieffc_fselection_spark.functions.vector import dot_product

    q_rows = query_tokens.select(
        F.col("doc_id").alias("query_id"), "tok_idx", F.col("vec").alias("q_vec")
    )
    if num_query_tokens is None:
        # Self-enforcing: a guard that waits for callers to volunteer
        # the count never fires in practice. A LOCALIZED query side
        # (the q167/q168 shape — localize() is already the house rule
        # for multiply-referenced bounded frames) carries its exact
        # row count for free; anything else pays one
        # early-exit-bounded probe job (LocalLimit stops each
        # partition at the cap), which costs ~nothing on a legitimate
        # bounded side and still trips on a corpus-sized one.
        # A lost stamp (any transformation returns a NEW DataFrame
        # object) means a probe job here — a correctness no-op, just
        # the +0.4s/query cost the stamp exists to avoid.
        num_query_tokens = getattr(
            query_tokens, "_localized_row_count", None
        )
        if num_query_tokens is None:
            num_query_tokens = getattr(
                query_tokens, "_maxsim_probe_count", None
            )
        if num_query_tokens is None:
            num_query_tokens = query_tokens.limit(
                MAX_BROADCAST_QUERY_TOKENS + 1
            ).count()
            # Memoize the probe on the frame object (the localize()
            # stamp pattern, ADVICE r10) so repeat calls over the SAME
            # query side — two_stage_maxsim callers that omit the
            # count, bench reps — skip the probe job. A SEPARATE slot
            # from _localized_row_count because this value is capped
            # at ceiling+1, not exact; the guard only needs the
            # <=ceiling comparison, which the cap preserves.
            query_tokens._maxsim_probe_count = num_query_tokens
    q_fits_broadcast = num_query_tokens <= MAX_BROADCAST_QUERY_TOKENS
    if candidates is None:
        if not q_fits_broadcast:
            raise ValueError(
                f"maxsim_rerank over ALL docs needs a broadcastable "
                f"query-token table ({num_query_tokens} rows > "
                f"{MAX_BROADCAST_QUERY_TOKENS}): a non-broadcast cross "
                "join is a shuffled cartesian product. Cut candidates "
                "first (two_stage_maxsim / the candidates argument)."
            )
        docs_arr = assemble_doc_tokens(doc_tokens)
        # explicit crossJoin (the bm25_topk spelling): immune to
        # spark.sql.crossJoin.enabled=false sessions, self-documenting
        pairs = docs_arr.crossJoin(F.broadcast(q_rows))
    else:
        # defensive distinct: a duplicated (query_id, doc_id) row would
        # silently DOUBLE that pair's score (each query token counted
        # twice into the decimal sum); the frame is candidate-sized, so
        # the dedup is cheap insurance on an arbitrary caller input
        cand_pairs = candidates.select("query_id", "doc_id").distinct()
        cand_ids = cand_pairs.select("doc_id").distinct()
        docs_arr = assemble_doc_tokens(
            doc_tokens.join(F.broadcast(cand_ids), "doc_id")
        )
        pairs = docs_arr.join(F.broadcast(cand_pairs), "doc_id").join(
            F.broadcast(q_rows) if q_fits_broadcast else q_rows, "query_id"
        )
    if exclude_self:
        pairs = pairs.filter(F.col("doc_id") != F.col("query_id"))
    per_token = pairs.select(
        "query_id",
        "doc_id",
        F.array_max(
            F.transform(
                F.col("d_toks"), lambda dt: dot_product(F.col("q_vec"), dt)
            )
        ).alias("max_dot"),
    )
    # decimal-FIRST rounding (ADVICE r9): round the exact decimal sum,
    # then cast — rounding the nearest DOUBLE instead is
    # engine-dependent when the exact score lands on a .5e-6 half
    # boundary, and this score feeds a ranking
    scores = per_token.groupBy("query_id", "doc_id").agg(
        F.round(F.sum(F.col("max_dot").cast(DEC)), 6)
        .cast("double")
        .alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def doc_centroids(doc_tokens: DataFrame) -> DataFrame:
    """Per-document mean token vector — the single-vector summary the
    cheap first retrieval stage scores against. Components are
    fold-left sums over the tok_idx-sorted token list (the maxsim
    determinism posture), divided by the token count."""
    assembled = assemble_doc_tokens(doc_tokens)
    dim = F.size(F.element_at("d_toks", 1))
    centroid = F.transform(
        F.sequence(F.lit(1), dim),
        lambda i: F.aggregate(
            F.col("d_toks"), F.lit(0.0), lambda acc, t: acc + F.element_at(t, i)
        )
        / F.size("d_toks"),
    )
    return assembled.select("doc_id", centroid.alias("centroid"))


#: two_stage_maxsim refuses to collect more candidate pairs than this
#: (|queries| x first_stage_c by contract): a corpus-sized
#: query_tokens input must surface as a clear error, not a driver OOM
#: (ADVICE r9). 10M id-pairs is ~160 MB collected — generous for any
#: legitimate query batch, far below heap death.
MAX_CANDIDATE_COLLECT_ROWS = 10_000_000


def two_stage_maxsim(
    doc_tokens: DataFrame,
    query_tokens: DataFrame,
    first_stage_c: int,
    k: int,
    num_query_tokens: int | None = None,
) -> DataFrame:
    """The production retrieval shape: a CHEAP single-vector first
    stage cuts the corpus to ``first_stage_c`` candidates per query
    (centroid dot product — swap in ANN buckets at real scale, the
    plan composes unchanged), then the EXPENSIVE late-interaction
    MaxSim scores only the candidate pairs.

    Returns (query_id, doc_id, score, rank) like :func:`maxsim_rerank`
    — rank over the candidate set by MaxSim. Self-pairs excluded in
    stage 1, so they never reach stage 2.

    Scale: stage 1 is one corpus pass over centroids (broadcast query
    centroids, bounded top-C window); stage 2's token assembly
    semi-joins the candidate doc ids before its groupBy, so the
    expensive stage is O(queries x C x token-pairs) end-to-end —
    corpus-independent, including the shuffle (maxsim_rerank's
    ``candidates`` mode; one scoring implementation for q167 and
    q168, bit-identical by construction).

    Stage-1 ranking compares the RAW fold-left dot (bit-identical
    across engines by the sorted-assembly argument) — deliberately
    NOT rounded: a centroid dot of dyadic rationals CAN land exactly
    on a .5e-6 boundary (e.g. 1/128), where 6dp double rounding is
    engine-dependent (the q110 lesson); the raw doubles are identical,
    so comparisons on them are safe where rounding is not.
    """
    cents = doc_centroids(doc_tokens)
    q_cents = doc_centroids(query_tokens).select(
        F.col("doc_id").alias("query_id"), F.col("centroid").alias("q_cent")
    )
    from spark_relieffc_fselection_spark.functions.vector import dot_product

    stage1 = (
        cents.crossJoin(F.broadcast(q_cents))
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            "doc_id",
            dot_product("q_cent", "centroid").alias("s1"),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("s1"), F.asc("doc_id"))
    candidates = (
        stage1.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= first_stage_c)
        .select("query_id", "doc_id")
    )
    # Materialize the candidate list as a LocalRelation: it is
    # DRIVER-BOUNDED by contract (|queries| x C rows), and stage 2
    # references it twice (the assembly semi-join and the pair join) —
    # a lazy frame would re-run the whole stage-1 corpus pass per
    # reference (ReuseExchange does not unify aliased subtrees;
    # SCALE.md round 5).
    spark = doc_tokens.sparkSession
    # LIMIT bound+1 BEFORE the collect: the driver never materializes
    # more than the sanity bound even when the contract is violated —
    # the violation surfaces as the ValueError below, not an OOM
    rows = candidates.limit(MAX_CANDIDATE_COLLECT_ROWS + 1).collect()
    if len(rows) > MAX_CANDIDATE_COLLECT_ROWS:
        raise ValueError(
            f"two_stage_maxsim stage-1 produced more than "
            f"{MAX_CANDIDATE_COLLECT_ROWS} candidate pairs — "
            "query_tokens looks corpus-sized, violating the "
            "|queries| x C driver-bound contract; shrink the query "
            "batch or first_stage_c"
        )
    cand_local = spark.createDataFrame(
        [(int(r["query_id"]), int(r["doc_id"])) for r in rows],
        "query_id long, doc_id long",
    )
    return maxsim_rerank(
        doc_tokens, query_tokens, k, exclude_self=True,
        candidates=cand_local, num_query_tokens=num_query_tokens,
    )
