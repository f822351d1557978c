"""Training-data PREPARATION queries — the operations that sit between
a raw crawled corpus and a tokenizer at 100 TB scale: scrubbing,
sequence packing, benchmark-contamination checks, repetition filters.
All DataFrame-first over ``documents``, each with a full DuckDB oracle.

Scale notes inline per query; the common theme is that every one is a
per-row expression pipeline plus at most one aggregation shuffle, and
the contamination check rides the same memoized shingle table as the
dedup family (one build per corpus, many consumers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_relieffc_fselection_spark.operators.textstats import STOPWORDS
from spark_relieffc_fselection_spark.queries import register
from spark_relieffc_fselection_spark.queries.dedup_q import _SHINGLES_CTE, _shingles
from spark_relieffc_fselection_spark.queries.text_q import QUALITY_ORACLE_SQL
from spark_relieffc_fselection_spark.sources import load_table

_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

#: context-length budget (whitespace tokens) for sequence packing
PACK_BUDGET = 256
#: deterministic benchmark membership for the contamination check
BENCH_MOD = 97

_SW = sorted(STOPWORDS["en"])
_SW_SQL = ", ".join(repr(w) for w in _SW)


@register(
    "q59_stopword_scrub",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
    ),
    kept AS (
      SELECT doc_id, list_filter(t, x -> x NOT IN ({_SW_SQL})) AS kt, len(t) AS n_toks
      FROM toks
    )
    SELECT doc_id,
           n_toks,
           n_toks - len(kt) AS n_removed,
           length(array_to_string(kt, ' ')) AS cleaned_chars
    FROM kept
    """,
    doc="Scrubbing pass: drop stopword tokens, report removal counts and "
        "cleaned length — the shape of every PII/boilerplate scrub (pure "
        "per-row array expressions, zero shuffle, whole-stage codegen).",
)
def q59_stopword_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_relieffc_fselection_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    sw = F.array(*[F.lit(w) for w in _SW])
    t = tokens(F.col("text"))
    kt = F.filter(t, lambda x: ~F.array_contains(sw, x))
    return docs.select(
        "doc_id",
        F.size(t).alias("n_toks"),
        (F.size(t) - F.size(kt)).alias("n_removed"),
        F.length(F.array_join(kt, " ")).alias("cleaned_chars"),
    )


def pack_sequences(
    toks: DataFrame,
    budget: int = PACK_BUDGET,
    partition_col: str | None = "source",
    id_col: str = "doc_id",
    count_col: str = "n_toks",
) -> DataFrame:
    """Concat-then-chunk sequence packing: rows in ``id_col`` order are
    assigned to fixed token-budget bins by exclusive running token
    count. ``partition_col`` scopes the running sum — the 100 TB
    default: each source (or date shard) packs independently in
    parallel, so no single task ever sees the global order.
    ``partition_col=None`` is the legacy global packing: exact
    whole-corpus bin boundaries at the cost of ONE task doing the
    running sum — bounded corpora only.
    """
    if partition_col is None:
        w = Window.orderBy(id_col).rowsBetween(Window.unboundedPreceding, 0)
    else:
        w = Window.partitionBy(partition_col).orderBy(id_col).rowsBetween(
            Window.unboundedPreceding, 0
        )
    return toks.withColumn(
        "bin_id",
        F.floor(
            (F.sum(count_col).over(w) - F.col(count_col)) / float(budget)
        ).cast("long"),
    )


@register(
    "q60_sequence_packing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, len(string_split({_NORM}, ' ')) AS n_toks
      FROM documents
    ),
    packed AS (
      SELECT doc_id, source, n_toks,
             CAST(floor((SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - n_toks)
                        / {PACK_BUDGET}.0) AS BIGINT) AS bin_id
      FROM toks
    )
    SELECT source, bin_id, COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM packed GROUP BY source, bin_id
    """,
    doc="Sequence packing (concat-then-chunk): documents in id order are "
        "assigned to fixed token-budget bins by exclusive running token "
        "count — how pretraining corpora become context-length rows. "
        "Packs PER SOURCE partition (the 100 TB shape: every source's "
        "running sum is an independent parallel window task; a global "
        "ORDER BY would serialize the corpus through one task and is "
        "available as pack_sequences(partition_col=None) for bounded "
        "inputs).",
)
def q60_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_relieffc_fselection_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.size(tokens(F.col("text"))).alias("n_toks")
    )
    packed = pack_sequences(toks, PACK_BUDGET, partition_col="source")
    return packed.groupBy("source", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


#: top-V corpus vocabulary for the OOV-rate check
VOCAB_SIZE = 50


@register(
    "q75_oov_rate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok FROM documents
    ),
    nz AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
    freq AS (SELECT tok, COUNT(*) AS c FROM nz GROUP BY tok),
    vocab AS (SELECT tok FROM freq ORDER BY c DESC, tok ASC LIMIT {VOCAB_SIZE}),
    per AS (
      SELECT doc_id, COUNT(*) AS n_toks,
             SUM(CASE WHEN tok IN (SELECT tok FROM vocab) THEN 1 ELSE 0 END) AS n_in
      FROM nz GROUP BY doc_id
    )
    SELECT doc_id, n_toks,
           CAST(n_toks - n_in AS BIGINT) AS n_oov,
           ROUND((n_toks - n_in) / CAST(n_toks AS DOUBLE), 6) AS oov_rate
    FROM per
    """,
    doc="Out-of-vocabulary rate against the corpus top-V vocabulary — "
        "the tokenizer-prep coverage metric (how much of each document "
        "a V-token vocab can express). Vocabulary = one partial+final "
        "count + deterministic top-V (count desc, token asc), broadcast "
        "back; the per-doc pass is one aggregation. At 100 TB the vocab "
        "stays tiny however large the corpus — the only full-data "
        "shuffle is the token-count combine.",
)
def q75_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_relieffc_fselection_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    nz = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = (
        nz.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(VOCAB_SIZE)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        nz.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.sum(F.coalesce(F.col("in_vocab"), F.lit(0))).alias("n_in"),
        )
        .select(
            "doc_id",
            "n_toks",
            (F.col("n_toks") - F.col("n_in")).cast("bigint").alias("n_oov"),
            F.round(
                (F.col("n_toks") - F.col("n_in")) / F.col("n_toks").cast("double"), 6
            ).alias("oov_rate"),
        )
    )


@register(
    "q61_contamination",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    bench AS (
      SELECT DISTINCT shh FROM shingle_hashes WHERE doc_id % {BENCH_MOD} = 0
    ),
    corpus AS (
      SELECT doc_id, shh FROM shingle_hashes WHERE doc_id % {BENCH_MOD} <> 0
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id),
    hit AS (
      SELECT c.doc_id, COUNT(*) AS n_shared
      FROM corpus c JOIN bench b ON c.shh = b.shh
      GROUP BY c.doc_id
    )
    SELECT t.doc_id, t.n_shingles, COALESCE(h.n_shared, 0) AS n_shared,
           ROUND(COALESCE(h.n_shared, 0) / CAST(t.n_shingles AS DOUBLE), 6)
             AS contamination
    FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
    """,
    doc="Benchmark-contamination check: fraction of each corpus document's "
        "distinct 3-gram shingles that appear anywhere in the held-out "
        "'benchmark' slice (doc_id % 97 = 0) — the standard n-gram "
        "decontamination pass. The benchmark shingle set is tiny and "
        "broadcast; the corpus side streams through one hash join + two "
        "aggregations on the memoized shingle table.",
)
def q61_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles(spark, sf_dir)
    bench = (
        sh.filter(F.col("doc_id") % BENCH_MOD == 0).select("sh").distinct()
    )
    corpus = sh.filter(F.col("doc_id") % BENCH_MOD != 0)
    tot = corpus.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hit = (
        corpus.join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        tot.join(hit, "doc_id", "left")
        .na.fill({"n_shared": 0})
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.round(
                F.col("n_shared") / F.col("n_shingles").cast("double"), 6
            ).alias("contamination"),
        )
    )


@register(
    "q62_repetition",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    tk AS (
      SELECT doc_id, len(string_split({_NORM}, ' ')) AS n_toks FROM documents
    ),
    uniq AS (SELECT doc_id, COUNT(*) AS n_uniq FROM shingle_hashes GROUP BY doc_id)
    SELECT t.doc_id,
           greatest(t.n_toks - 2, 0) AS n_trigrams,
           COALESCE(u.n_uniq, 0) AS n_unique,
           ROUND(CASE WHEN t.n_toks - 2 > 0
                      THEN 1.0 - COALESCE(u.n_uniq, 0) / CAST(t.n_toks - 2 AS DOUBLE)
                      ELSE 0.0 END, 6) AS repetition_ratio
    FROM tk t LEFT JOIN uniq u ON t.doc_id = u.doc_id
    """,
    doc="Intra-document repetition: 1 - distinct/total trigram ratio — the "
        "repeated-n-gram quality filter (high ratio = boilerplate/spam). "
        "Total trigram count is a per-row expression; the distinct count "
        "rides the memoized shingle table.",
)
def q62_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_relieffc_fselection_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    sh = _shingles(spark, sf_dir)
    toks = docs.select("doc_id", F.size(tokens(F.col("text"))).alias("n_toks"))
    uniq = sh.groupBy("doc_id").agg(F.count("*").alias("n_uniq"))
    return (
        toks.join(uniq, "doc_id", "left")
        .na.fill({"n_uniq": 0})
        .select(
            "doc_id",
            F.greatest(F.col("n_toks") - 2, F.lit(0)).alias("n_trigrams"),
            F.col("n_uniq").alias("n_unique"),
            F.round(
                F.when(
                    F.col("n_toks") - 2 > 0,
                    1.0 - F.col("n_uniq") / (F.col("n_toks") - 2).cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("repetition_ratio"),
        )
    )


@register(
    "q66_unigram_lm_quality",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok FROM documents
    ),
    uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    n AS (SELECT CAST(SUM(c) AS DOUBLE) AS total FROM uni)
    SELECT t.doc_id,
           COUNT(*) AS n_toks,
           ROUND(CAST(SUM(CAST(-log2(u.c / n.total) AS DECIMAL(38,18))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_surprisal
    FROM toks t JOIN uni u ON t.tok = u.tok, n
    GROUP BY t.doc_id
    """,
    doc="Unigram-LM quality score: per-doc mean token surprisal "
        "-log2(p(tok)) under the corpus's own unigram distribution — the "
        "SQL-expressible core of model-based quality filtering (a doc of "
        "rare tokens scores high, boilerplate scores low). Scale: the "
        "unigram table is vocab-sized (Zipf: ~millions of rows at 100 TB "
        "after a min-count prune), so the score join is a broadcast; the "
        "only corpus-sized shuffle is the token-count groupBy, which "
        "Catalyst partial-aggregates map-side. Decimal accumulation "
        "makes the per-doc sum order-invariant.",
)
def q66_unigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_relieffc_fselection_spark.functions.text import tokens
    from spark_relieffc_fselection_spark.queries.relational import DEC

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    uni = tok.groupBy("tok").agg(F.count("*").alias("c"))
    total = float(uni.agg(F.sum("c")).first()[0])
    surprisal = -F.log2(F.col("c") / F.lit(total))
    return (
        tok.join(F.broadcast(uni), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.sum(surprisal.cast(DEC)).alias("s"),
        )
        .select(
            "doc_id",
            "n_toks",
            F.round(F.col("s").cast("double") / F.col("n_toks"), 6).alias(
                "mean_surprisal"
            ),
        )
    )


@register(
    "q96_bigram_lm_quality",
    oracle=f"""
    WITH btoks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
    ),
    bi AS (
      SELECT doc_id, t[u.i] AS w1, t[u.i + 1] AS w2
      FROM btoks,
           LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i) u
    ),
    cnt AS (SELECT w1, w2, COUNT(*) AS c_ab FROM bi GROUP BY w1, w2),
    ctx AS (SELECT w1, CAST(SUM(c_ab) AS DOUBLE) AS c_a FROM cnt GROUP BY w1),
    p AS (
      SELECT cnt.w1, cnt.w2, cnt.c_ab / ctx.c_a AS p
      FROM cnt JOIN ctx USING (w1)
    )
    SELECT b.doc_id, COUNT(*) AS n_bigrams,
           ROUND(CAST(SUM(CAST(-log2(p.p) AS DECIMAL(38,18))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_cond_surprisal
    FROM bi b JOIN p ON b.w1 = p.w1 AND b.w2 = p.w2
    GROUP BY b.doc_id
    """,
    doc="Bigram-LM quality score: per-doc mean conditional surprisal "
        "-log2(p(w2|w1)) under the corpus's own bigram distribution — "
        "the next step up from q66's unigram model (repetitive "
        "templated text scores near zero even when its unigrams are "
        "rare; fluent prose scores by transition novelty). Bigram "
        "emission is the same zero-shuffle per-row transform as the "
        "substring kgrams; c_ab and c_a are WINDOW counts over the "
        "bigram stream (two narrow shuffles, the stream appears once "
        "in the plan — no count-table join, no broadcast). Decimal "
        "accumulation keeps per-doc sums order-invariant. At 100 TB "
        "swap the w1-window for a pruned count-table broadcast if w1 "
        "skew (stopword contexts) concentrates a window partition.",
)
def q96_bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_relieffc_fselection_spark.functions.text import tokens
    from spark_relieffc_fselection_spark.queries.relational import DEC

    docs = load_table(spark, sf_dir, "documents")
    # token array as a COLUMN before the lambda (see word_shingles:
    # captured expressions re-evaluate per element_at call)
    tk = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    t, n = F.col("t"), F.size(F.col("t"))
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(t, i).alias("w1"),
                F.element_at(t, i + F.lit(1)).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bi = tk.select("doc_id", F.explode(grams).alias("g")).select(
        "doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2")
    )
    # Window counts, NOT a count-table join: the bigram stream then
    # appears exactly ONCE in the plan (a cnt/ctx/p join DAG would
    # embed the un-cached tokenize+explode subtree on both sides —
    # measured 17s vs 2s at sf0.1). c_a partitions by w1 only; its
    # count covers all continuations of w1 = the oracle's SUM(c_ab).
    w_ab = Window.partitionBy("w1", "w2")
    w_a = Window.partitionBy("w1")
    surprisal = -F.log2(
        F.count("*").over(w_ab) / F.count("*").over(w_a).cast("double")
    )
    return (
        bi.withColumn("surp", surprisal)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.col("surp").cast(DEC)).alias("s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(F.col("s").cast("double") / F.col("n_bigrams"), 6).alias(
                "mean_cond_surprisal"
            ),
        )
    )


#: multiplicative-hash constant (Knuth) for the deterministic split
SPLIT_MULT = 2654435761
SPLIT_BUCKETS = 1000
SPLIT_TRAIN, SPLIT_VAL = 800, 900  # train < 800 <= val < 900 <= test


@register(
    "q67_deterministic_split",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, source,
             len(string_split({_NORM}, ' ')) AS n_toks,
             ((doc_id * {SPLIT_MULT}) % 4294967296) % {SPLIT_BUCKETS} AS bucket
      FROM documents
    ),
    labeled AS (
      SELECT *,
             CASE WHEN bucket < {SPLIT_TRAIN} THEN 'train'
                  WHEN bucket < {SPLIT_VAL} THEN 'val'
                  ELSE 'test' END AS split
      FROM assigned
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM documents)
    SELECT split,
           COUNT(*) AS n_docs,
           -- CAST: DuckDB SUM over ints is HUGEINT -> float in the
           -- compare layer ("2894.0" vs Spark bigint "2894")
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           COUNT(DISTINCT source) AS n_sources,
           ROUND(COUNT(*) / n.total, 6) AS doc_share
    FROM labeled, n
    GROUP BY split, n.total
    """,
    doc="Deterministic train/val/test assignment by multiplicative hash "
        "of doc_id — the reproducible-split primitive every training "
        "pipeline needs (same doc lands in the same split on every run, "
        "every cluster size, with zero coordination). Pure integer "
        "arithmetic, exact in any engine; the per-split rollup is one "
        "tiny aggregation.",
)
def q67_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_relieffc_fselection_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    total = docs.count()
    bucket = (F.col("doc_id") * SPLIT_MULT) % F.lit(4294967296) % SPLIT_BUCKETS
    labeled = docs.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).alias("n_toks"),
        F.when(bucket < SPLIT_TRAIN, "train")
        .when(bucket < SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )
    return labeled.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.countDistinct("source").alias("n_sources"),
        F.round(F.count("*") / F.lit(float(total)), 6).alias("doc_share"),
    )


@register(
    "q68_domain_mix",
    oracle=f"""
    WITH per_src AS (
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM(len(string_split({_NORM}, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total_toks,
             CAST(COUNT(*) AS DOUBLE) AS n_src
      FROM per_src
    )
    SELECT source, n_docs, n_tokens,
           ROUND(LEAST(1.0, (tot.total_toks / tot.n_src) / n_tokens), 6)
             AS sample_rate,
           CAST(FLOOR(LEAST(1.0, (tot.total_toks / tot.n_src) / n_tokens)
                      * n_tokens) AS BIGINT) AS kept_tokens
    FROM per_src, tot
    """,
    doc="Domain-mixing rate calculator: per-source token budgets for a "
        "uniform target mix — downsample rates for over-represented "
        "sources (capped at 1.0: never upsample), the planning step of "
        "every data-mixture recipe. One source-keyed aggregation (tiny "
        "key space), then pure arithmetic against the 1-row total.",
)
def q68_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_relieffc_fselection_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).alias("n_tokens"),
    )
    tot = per_src.agg(
        F.sum("n_tokens").cast("double").alias("total_toks"),
        F.count("*").cast("double").alias("n_src"),
    )
    rate = F.least(
        F.lit(1.0), (F.col("total_toks") / F.col("n_src")) / F.col("n_tokens")
    )
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(rate, 6).alias("sample_rate"),
        F.floor(rate * F.col("n_tokens")).cast("bigint").alias("kept_tokens"),
    )


#: shard count for the epoch-shuffle layout
N_SHARDS = 16


@register(
    "q79_shuffle_shards",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             md5(CAST(doc_id AS VARCHAR)) AS sort_key,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
               % {N_SHARDS} AS shard
      FROM documents
    )
    SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(sort_key) AS first_key, MAX(sort_key) AS last_key
    FROM keyed GROUP BY shard
    """,
    doc="Epoch-shuffle layout: every doc gets a deterministic "
        "pseudo-random sort key (md5 of its id) and a shard (key "
        "prefix mod N). The 100 TB write is partitionBy(shard) + "
        "sortWithinPartitions(sort_key) — a uniform global permutation "
        "with NO global sort: each shard is an independent task and a "
        "training reader streams shards in key order. This query audits "
        "the layout: per-shard doc/char balance plus key ranges "
        "(uniform hashing => near-equal shards, no skewed reader).",
)
def q79_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sort_key = F.md5(F.col("doc_id").cast("string"))
    shard = (
        F.conv(F.substring(sort_key, 1, 2), 16, 10).cast("bigint") % N_SHARDS
    )
    return (
        docs.select(
            "doc_id",
            "n_chars",
            sort_key.alias("sort_key"),
            shard.alias("shard"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("sort_key").alias("first_key"),
            F.max("sort_key").alias("last_key"),
        )
    )


#: 24-bit hash-uniform domain for exact-rate sampling
U24 = 16777216


@register(
    "q80_hash_uniform_sample",
    oracle=f"""
    WITH rated AS (
      SELECT doc_id, source, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 4, 6))::BIGINT AS u,
             0.2 + 0.8 * (CAST(substr(source, 4) AS INT) % 5) / 4.0 AS rate
      FROM documents
    )
    SELECT source,
           ROUND(ANY_VALUE(rate), 6) AS target_rate,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN u < rate * {U24} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN u < rate * {U24} THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM rated GROUP BY source
    """,
    doc="Hash-uniform Bernoulli sampling with per-source rates: keep doc "
        "iff hash(doc_id)/2^24 < rate(source). Unlike modulo sampling "
        "(q57) this works on ARBITRARY keys (URLs, uuids) and composes: "
        "a rate-r sample of a rate-s sample is a rate-min(r,s) sample "
        "of the corpus, because the kept set is a prefix of the hash "
        "order — the property that makes re-mixing cheap at 100 TB "
        "(changing a source's rate touches only the delta slice, no "
        "reshuffle). Per-row arithmetic + one tiny rollup.",
)
def q80_hash_uniform_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 4, 6), 16, 10
    ).cast("bigint")
    rate = 0.2 + 0.8 * (F.substring("source", 4, 10).cast("int") % 5) / 4.0
    kept = F.col("u") < F.col("rate") * U24
    return (
        docs.select("source", "n_chars", u.alias("u"), rate.alias("rate"))
        .groupBy("source")
        .agg(
            F.round(F.any_value("rate"), 6).alias("target_rate"),
            F.count("*").alias("n_total"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("kept_chars"),
        )
    )


#: q82 funnel thresholds
FUNNEL_MIN_CHARS = 150
FUNNEL_MIN_TOKS = 25
FUNNEL_LANGS = ("de", "en", "es", "fr")


@register(
    "q82_filter_funnel",
    oracle=f"""
    WITH flags AS (
      SELECT n_chars >= {FUNNEL_MIN_CHARS} AS f1,
             n_chars >= {FUNNEL_MIN_CHARS}
               AND lang IN {FUNNEL_LANGS!r} AS f2,
             n_chars >= {FUNNEL_MIN_CHARS}
               AND lang IN {FUNNEL_LANGS!r}
               AND len(string_split({_NORM}, ' ')) >= {FUNNEL_MIN_TOKS} AS f3
      FROM documents
    ),
    agg AS (
      -- CAST AS BIGINT: DuckDB SUM over ints yields HUGEINT, which
      -- reaches the cross-engine compare as float ("345.0" vs Spark's
      -- bigint "345") and breaks the value hash (same fix as q80).
      SELECT COUNT(*) AS s0,
             CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
             CAST(SUM(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
             CAST(SUM(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS s3
      FROM flags
    )
    SELECT stage, stage_name, n_surviving,
           ROUND(n_surviving / CAST(s0 AS DOUBLE), 6) AS survival_rate
    FROM (
      SELECT 0 AS stage, 'input' AS stage_name, s0 AS n_surviving, s0 FROM agg
      UNION ALL SELECT 1, 'min_chars', s1, s0 FROM agg
      UNION ALL SELECT 2, 'lang_supported', s2, s0 FROM agg
      UNION ALL SELECT 3, 'min_tokens', s3, s0 FROM agg
    )
    """,
    doc="Quality-filter funnel: cumulative survival counts through the "
        "staged document filters (length -> language -> token floor) — "
        "the observability view every curation pipeline ships (where do "
        "docs die, and would reordering stages save compute). ONE corpus "
        "scan computing all stage flags as conditional sums (no "
        "per-stage passes), then a 4-row unpivot.",
)
def q82_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_relieffc_fselection_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    f1 = F.col("n_chars") >= FUNNEL_MIN_CHARS
    f2 = f1 & F.col("lang").isin(*FUNNEL_LANGS)
    f3 = f2 & (F.size(tokens(F.col("text"))) >= FUNNEL_MIN_TOKS)
    agg = docs.agg(
        F.count("*").alias("s0"),
        F.sum(f1.cast("long")).alias("s1"),
        F.sum(f2.cast("long")).alias("s2"),
        F.sum(f3.cast("long")).alias("s3"),
    )
    stages = agg.select(
        F.expr(
            "stack(4, 0, 'input', s0, 1, 'min_chars', s1, "
            "2, 'lang_supported', s2, 3, 'min_tokens', s3) "
            "AS (stage, stage_name, n_surviving)"
        ),
        "s0",
    )
    return stages.select(
        "stage",
        "stage_name",
        "n_surviving",
        F.round(F.col("n_surviving") / F.col("s0").cast("double"), 6).alias(
            "survival_rate"
        ),
    )


@register(
    "q72_relief_fit_rankings",
    doc="FLAGSHIP end-to-end: the full ReliefFSelector.fit dataflow — "
        "seeded sample -> randomSplit batches -> per-batch kNN + "
        "weighting + collision stats with the topFeatures feedback loop "
        "-> cross-batch merge -> MI redundancy -> greedy selection "
        "(ReliefFRSelector.scala:199-325). The greedy arg-max loop is "
        "inherently sequential (driver numpy over an nFeat-row frame), "
        "so this entry has NO SQL oracle: the driver records the weaker "
        "rows-only check, while the pipeline's every aggregation stage "
        "is hash-gated piecewise by q13-q17/q44, the single-batch fit "
        "end-to-end by q72a, the greedy selection by q72b, and the "
        "FULL batched fit (feedback loop + MI + greedy) by q72c under "
        "deterministic hash batching — leaving only the engine-seeded "
        "randomSplit/sample mode itself on the rows-only check.",
)
def q72_relief_fit_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_relieffc_fselection_spark.operators.relief import fit_relief
    from spark_relieffc_fselection_spark.queries.relief_q import _embeddings, _fit_ranking

    inst = _embeddings(spark, sf_dir)
    res = fit_relief(
        inst,
        num_top_features=10,
        num_neighbors=3,
        estimation_ratio=0.25,
        batch_size=0.5,          # 2 batches: exercises the topFeatures feedback
        redundancy_removal=True,
        discrete_data=False,
        seed=42,
        knn_strategy="numpy",
    )
    return _fit_ranking(spark, res)


#: q72a: deterministic single-batch fit — instances, neighbors
Q72A_PRED = "vec_id % 2 = 0"
Q72A_NEIGHBORS = 3
Q72A_TOP = 10


@register(
    "q72a_relief_std_ranking",
    oracle=f"""
    WITH inst AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS f,
             CAST(label AS DOUBLE) AS lbl
      FROM embeddings WHERE {Q72A_PRED}
    ),
    cand AS (
      SELECT q.id AS query_id, q.lbl AS q_label, x.id AS neighbor_id,
             x.lbl AS n_label,
             sqrt(list_sum(list_transform(generate_series(1, len(q.f)),
                  i -> (q.f[i] - x.f[i]) * (q.f[i] - x.f[i])))) AS dist
      FROM inst q JOIN inst x ON q.id <> x.id
    ),
    knn AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY dist, neighbor_id) AS rnk
        FROM cand
      ) WHERE rnk <= {Q72A_NEIGHBORS} * (SELECT COUNT(DISTINCT lbl) FROM inst)
    ),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM inst),
    priors AS (SELECT lbl, COUNT(*) / total AS prior
               FROM inst, nn GROUP BY lbl, total),
    pairs AS (
      SELECT k.query_id, k.neighbor_id, k.n_label,
             (k.n_label = k.q_label) AS same_class, q.f AS qf, x.f AS nf
      FROM knn k JOIN inst q ON k.query_id = q.id
                 JOIN inst x ON k.neighbor_id = x.id
    ),
    longf AS (
      SELECT u.i - 1 AS feature_idx, n_label, same_class,
             abs(qf[u.i] - nf[u.i]) AS fdist
      FROM pairs, LATERAL (SELECT unnest(generate_series(1, len(qf))) AS i) u
    ),
    bins AS (
      SELECT feature_idx, n_label, same_class,
             SUM(CAST(fdist AS DECIMAL(38,18))) AS bin_sum, COUNT(*) AS bin_cnt
      FROM longf GROUP BY 1, 2, 3
    ),
    contrib AS (
      SELECT feature_idx,
             (CASE WHEN same_class THEN -1.0 ELSE 1.0 END) * prior
               * CAST(bin_sum AS DOUBLE) / bin_cnt AS contrib
      FROM bins JOIN priors ON bins.n_label = priors.lbl
    ),
    relevance AS (
      SELECT feature_idx,
             CAST(SUM(CAST(contrib AS DECIMAL(38,18))) AS DOUBLE) AS raw
      FROM contrib GROUP BY feature_idx
    ),
    extrema AS (SELECT MIN(raw) AS mn, MAX(raw) AS mx FROM relevance),
    normed AS (
      SELECT feature_idx,
             CASE WHEN mx > mn THEN (raw - mn) / (mx - mn) ELSE 0.0 END AS rel
      FROM relevance, extrema
    )
    SELECT rank, feature_idx, ROUND(rel, 6) AS relevance FROM (
      SELECT feature_idx, rel,
             ROW_NUMBER() OVER (ORDER BY rel DESC, feature_idx ASC) AS rank
      FROM normed
    ) ORDER BY rank LIMIT {Q72A_TOP}
    """,
    doc="FLAGSHIP, oracle-able half (VERDICT r4 #1): the fit dataflow "
        "at estimation_ratio=1.0 / batch_size=1.0 — a deterministic "
        "single batch, so the std ranking (kNN window-rank -> class-bin "
        "distance sums -> prior-weighted collapse -> min-max -> top-10, "
        "ReliefFRSelector.scala:199-332,688-690) is expressible as ONE "
        "DuckDB SQL and the driver hash-gates the fit end-to-end. The "
        "batched + greedy full fit stays rows-only as q72.",
)
def q72a_relief_std_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_relieffc_fselection_spark.operators.relief import fit_relief
    from spark_relieffc_fselection_spark.queries.relief_q import _embeddings

    inst = _embeddings(spark, sf_dir).filter(F.expr(Q72A_PRED.replace("vec_id", "id")))
    res = fit_relief(
        inst,
        num_top_features=Q72A_TOP,
        num_neighbors=Q72A_NEIGHBORS,
        estimation_ratio=1.0,    # no sampling: every instance is a query
        batch_size=1.0,          # one batch: no engine-seeded randomSplit
        redundancy_removal=False,
        discrete_data=False,
        seed=42,
        knn_strategy="numpy",
    )
    rows = [
        (i + 1, int(f), round(float(res.relevance[f]), 6))
        for i, f in enumerate(res.std_selection)
    ]
    return spark.createDataFrame(rows, "rank int, feature_idx int, relevance double")


#: context-length budget for the truncation pass
TRUNC_TOKS = 64


@register(
    "q85_token_truncation",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
    )
    SELECT doc_id,
           len(t) AS n_toks,
           least(len(t), {TRUNC_TOKS}) AS n_kept,
           len(t) > {TRUNC_TOKS} AS was_truncated,
           length(array_to_string(t[1:{TRUNC_TOKS}], ' ')) AS trunc_chars
    FROM toks
    """,
    doc="Context-length truncation: cap every document at a fixed token "
        "budget (keep the prefix), reporting kept counts and truncated "
        "length — the guard that bounds per-row cost for every "
        "downstream tokenizer/embedder stage. Pure per-row array "
        "expressions, zero shuffle; at 100 TB this runs fused into the "
        "scan (whole-stage codegen).",
)
def q85_token_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_relieffc_fselection_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(t).alias("n_toks"),
        F.least(F.size(t), F.lit(TRUNC_TOKS)).alias("n_kept"),
        (F.size(t) > TRUNC_TOKS).alias("was_truncated"),
        F.length(F.array_join(F.slice(t, 1, TRUNC_TOKS), " ")).alias(
            "trunc_chars"
        ),
    )


#: chunking window (tokens) and stride — stride < window gives the
#: overlapping context windows most tokenizer pipelines feed
CHUNK_TOKS = 48
CHUNK_STRIDE = 32


@register(
    "q91_doc_chunking",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
    ),
    ch AS (
      SELECT doc_id, t,
             unnest(generate_series(0, (len(t) - 1) // {CHUNK_STRIDE}))
               AS chunk_idx
      FROM toks
    )
    SELECT doc_id, chunk_idx,
           chunk_idx * {CHUNK_STRIDE} + 1 AS start_tok,
           len(t[chunk_idx * {CHUNK_STRIDE} + 1 :
                 least(chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKS}, len(t))])
             AS n_toks,
           md5(array_to_string(
                 t[chunk_idx * {CHUNK_STRIDE} + 1 :
                   least(chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKS}, len(t))],
                 ' ')) AS chunk_hash
    FROM ch
    """,
    doc="Document chunking: split every document into overlapping "
        f"fixed-size token windows ({CHUNK_TOKS} tokens, stride "
        f"{CHUNK_STRIDE}) — the pre-tokenization step that turns a "
        "ragged corpus into uniform training sequences while the "
        "overlap preserves cross-boundary context. Emits per-chunk "
        "offsets and a content hash (chunk-level dedup key). Pure "
        "per-row explode — no shuffle, parallelism is per-document, "
        "and at 100 TB it fuses into the scan like q85's truncation; "
        "chunk fan-out is bounded by doc length / stride.",
)
def q91_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_relieffc_fselection_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    ch = docs.select(
        "doc_id", tokens(F.col("text")).alias("t")
    ).select(
        "doc_id",
        "t",
        F.explode(
            F.expr(f"sequence(0, (size(t) - 1) div {CHUNK_STRIDE})")
        ).alias("chunk_idx"),
    )
    chunk = F.slice(
        F.col("t"), F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_TOKS
    )
    return ch.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("chunk_idx").cast("long") * CHUNK_STRIDE + 1).alias("start_tok"),
        F.size(chunk).alias("n_toks"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    )


#: a chunk seen in at least this many distinct documents is boilerplate
BOILER_MIN_DOCS = 3


@register(
    "q92_boilerplate_detection",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
    ),
    ch AS (
      SELECT doc_id, t,
             unnest(generate_series(0, (len(t) - 1) // {CHUNK_STRIDE}))
               AS chunk_idx
      FROM toks
    ),
    hashed AS (
      SELECT doc_id,
             md5(array_to_string(
                   t[chunk_idx * {CHUNK_STRIDE} + 1 :
                     least(chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKS}, len(t))],
                   ' ')) AS chunk_hash
      FROM ch
    ),
    freq AS (
      SELECT chunk_hash, COUNT(DISTINCT doc_id) AS n_docs FROM hashed
      GROUP BY chunk_hash
    )
    SELECT h.doc_id,
           COUNT(*) AS n_chunks,
           COUNT(*) FILTER (WHERE f.n_docs >= {BOILER_MIN_DOCS})
             AS n_boiler,
           ROUND(COUNT(*) FILTER (WHERE f.n_docs >= {BOILER_MIN_DOCS})
                 / CAST(COUNT(*) AS DOUBLE), 6) AS boiler_frac
    FROM hashed h JOIN freq f USING (chunk_hash)
    GROUP BY h.doc_id
    """,
    doc="Boilerplate detection: chunk every document (q91's windows), "
        "count how many distinct documents share each chunk hash, and "
        "flag chunks appearing in >= "
        f"{BOILER_MIN_DOCS} docs as boilerplate (headers, footers, "
        "license blocks — the passages repeated verbatim across a "
        "crawl). Emits the per-document boilerplate fraction, the "
        "standard signal for stripping or down-weighting. Scale: two "
        "hash-keyed aggregations + one hash join on chunk_hash — "
        "map-side combine collapses each partition's repeats before "
        "either shuffle, and nothing is quadratic in corpus size.",
)
def q92_boilerplate_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE pass over the chunk explode: grouping to (chunk_hash, doc_id)
    # first makes the cross-document frequency a plain window count —
    # joining the explode against an aggregate of itself would embed
    # the (un-cached) chunking subplan twice and execute both branches.
    hashed = q91_doc_chunking(spark, sf_dir).select("doc_id", "chunk_hash")
    per_doc_chunk = hashed.groupBy("chunk_hash", "doc_id").agg(
        F.count("*").alias("n_occ")
    )
    n_docs = F.count("*").over(Window.partitionBy("chunk_hash"))
    boiler_occ = F.when(n_docs >= BOILER_MIN_DOCS, F.col("n_occ")).otherwise(
        F.lit(0)
    )
    return (
        per_doc_chunk.select(
            "doc_id", F.col("n_occ"), boiler_occ.alias("boiler_occ")
        )
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").alias("n_chunks"),
            F.sum("boiler_occ").alias("n_boiler"),
            F.round(
                F.sum("boiler_occ") / F.sum("n_occ").cast("double"), 6
            ).alias("boiler_frac"),
        )
    )


#: number of sources in the synthetic corpus (src0..src19)
N_SOURCES = 20


@register(
    "q86_source_interleave",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             CAST(substr(source, 4) AS INT) AS source_idx,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rk
      FROM documents
    )
    SELECT doc_id, source,
           CAST((rk - 1) * {N_SOURCES} + source_idx AS BIGINT) AS position
    FROM ranked
    """,
    doc="Source-interleave schedule: a deterministic global training "
        "order that round-robins the sources — doc k of source s lands "
        "at position k*n_sources + s, so every window of n_sources "
        "consecutive positions sees each source at most once (the "
        "mixture stays locally uniform, no source runs). Per-source "
        "hash-ordered windows run in parallel (no global sort); the "
        "position is pure arithmetic on the per-source rank.",
)
def q86_source_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return docs.select(
        "doc_id",
        "source",
        (
            (F.row_number().over(w) - 1) * N_SOURCES
            + F.substring("source", 4, 10).cast("int")
        )
        .cast("bigint")
        .alias("position"),
    )


#: mixture temperature (p^T renormalized) and token budget for q87
MIX_TEMPERATURE = 0.7
MIX_BUDGET_TOKENS = 100_000


@register(
    "q87_temperature_mix",
    oracle=f"""
    WITH per_src AS (
      SELECT source,
             CAST(SUM(len(string_split({_NORM}, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total FROM per_src),
    p AS (
      SELECT source, n_tokens,
             pow(n_tokens / tot.total, {MIX_TEMPERATURE}) AS pt
      FROM per_src, tot
    ),
    z AS (SELECT CAST(SUM(pt) AS DOUBLE) AS z FROM p)
    SELECT source, n_tokens,
           ROUND(pt / z.z, 6) AS mix_share,
           CAST(FLOOR({MIX_BUDGET_TOKENS} * pt / z.z) AS BIGINT)
             AS budget_tokens,
           ROUND({MIX_BUDGET_TOKENS} * (pt / z.z) / n_tokens, 6) AS epochs
    FROM p, z
    """,
    doc="Temperature-based mixture weights: source sampling shares "
        "proportional to (token share)^T renormalized — T<1 flattens "
        "the mix toward rare sources, the standard multinomial "
        "temperature recipe for pretraining corpora. Reports each "
        "source's share of a fixed token budget and the implied epoch "
        "count (how many passes over that source the budget buys). One "
        "source-keyed aggregation; everything after is arithmetic on a "
        "source-cardinality frame — free at any corpus size.",
)
def q87_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_relieffc_fselection_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("bigint").alias("n_tokens")
    )
    tot = per_src.agg(F.sum("n_tokens").cast("double").alias("total"))
    p = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.pow(F.col("n_tokens") / F.col("total"), MIX_TEMPERATURE).alias("pt"),
    )
    z = p.agg(F.sum("pt").cast("double").alias("z"))
    share = F.col("pt") / F.col("z")
    return p.crossJoin(F.broadcast(z)).select(
        "source",
        "n_tokens",
        F.round(share, 6).alias("mix_share"),
        F.floor(MIX_BUDGET_TOKENS * share).cast("bigint").alias("budget_tokens"),
        F.round(MIX_BUDGET_TOKENS * share / F.col("n_tokens"), 6).alias("epochs"),
    )


#: q97: budget = this share of total corpus tokens (integer arithmetic
#: so both engines compute the identical bigint budget)
BUDGET_NUM, BUDGET_DEN = 3, 10


@register(
    "q97_token_budget_selection",
    oracle=f"""
    WITH per AS (
      SELECT doc_id,
             len(list_distinct(string_split({_NORM}, ' '))) AS n_uniq,
             len(string_split({_NORM}, ' ')) AS n_toks
      FROM documents
    ),
    scored AS (
      SELECT doc_id, n_uniq / CAST(n_toks AS DOUBLE) AS score, n_toks
      FROM per
    ),
    tot AS (
      SELECT CAST(SUM(n_toks) AS BIGINT) * {BUDGET_NUM} // {BUDGET_DEN} AS budget
      FROM scored
    ),
    ranked AS (
      SELECT *, SUM(n_toks) OVER (ORDER BY score DESC, doc_id ASC) AS cum
      FROM scored
    )
    SELECT doc_id, ROUND(score, 6) AS score, CAST(n_toks AS BIGINT) AS n_toks
    FROM ranked, tot WHERE cum <= tot.budget
    """,
    doc="Token-budgeted corpus selection: keep the highest-quality docs "
        "(lexical-diversity score = distinct/total tokens) in global "
        "(score desc, doc_id) order until 30% of corpus tokens are "
        "spent — 'train on the best N tokens', the curation step after "
        "scoring. The oracle is a global-sort cumsum; the engine gets "
        "the EXACT same set with no global sort (budget_select_by_"
        "score): approx-quantile buckets route rows, a collected "
        "n_buckets-row histogram finds the boundary bucket on the "
        "driver, whole buckets keep/drop for free, and only the "
        "budget-epsilon boundary bucket pays a running-sum window. At "
        "100 TB the sort a naive cumsum needs is the single most "
        "expensive shuffle that exists; this plan replaces it with one "
        "narrow aggregation.",
)
def q97_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_relieffc_fselection_spark.functions.text import tokens
    from spark_relieffc_fselection_spark.operators.textstats import (
        budget_select_by_score,
    )

    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    scored = docs.select(
        "doc_id",
        (F.size(F.array_distinct(t)) / F.size(t).cast("double")).alias("score"),
        F.size(t).cast("bigint").alias("n_toks"),
    ).cache()
    total = scored.agg(F.sum("n_toks")).first()[0]
    budget = int(total) * BUDGET_NUM // BUDGET_DEN
    # budget_select_by_score localCheckpoints internally, so the
    # returned frame is independent of `scored` — unpersist now, and
    # the kept set stays DISTRIBUTED (it's ~30% of the corpus, never
    # a localize candidate).
    kept = budget_select_by_score(scored, budget)
    scored.unpersist()
    return kept.select(
        "doc_id", F.round("score", 6).alias("score"), "n_toks"
    )


_WS_K = 50
_U_SQL = (
    "((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 4, 6))::BIGINT + 0.5)"
    f" / {U24}.0)"
)


@register(
    "q100_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             ln({_U_SQL}) / n_chars AS ln_key
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, source, n_chars, ROUND(ln_key, 6) + 0.0 AS ln_key, rank FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY ln_key DESC, doc_id ASC) AS rank
      FROM keyed
    ) WHERE rank <= {_WS_K}
    """,
    doc="Weighted sampling WITHOUT replacement (Efraimidis-Spiegelmann "
        "A-ES): key = ln(u)/w with hash-derived u, global top-k by key "
        "is a w-proportional sample — here w = n_chars, i.e. length-"
        "proportional document selection, the distribution token-level "
        "uniform sampling induces. Unlike q80's Bernoulli sampler the "
        "output size is EXACT (k rows), and unlike replacement sampling "
        "no document repeats. Distributed as a rank-k selection: "
        "per-partition top-k then a k-row merge, no global sort.",
)
def q100_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_relieffc_fselection_spark.operators.sampling import (
        weighted_sample_without_replacement,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    out = weighted_sample_without_replacement(docs, "n_chars", _WS_K)
    return out.select(
        "doc_id", "source", "n_chars", (F.round("ln_key", 6) + F.lit(0.0)).alias("ln_key"), "rank"
    )


_CAP = 15


@register(
    "q101_domain_cap",
    oracle=f"""
    WITH ranked AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM documents
    )
    SELECT source, COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN rn <= {_CAP} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN rn <= {_CAP} THEN n_chars ELSE 0 END) AS BIGINT)
             AS chars_kept
    FROM ranked GROUP BY source
    """,
    doc="Per-domain frequency cap (web-crawl curation: at most N docs "
        "per domain, best-quality first — here quality = n_chars with "
        "doc_id tie-break). The operator routes rows by a broadcast "
        "over-cap group list so that UNDER-cap domains — the long tail "
        "— never enter a window sort; only hot domains pay per-group "
        "ranking. At 100 TB that's the difference between sorting a "
        "spam domain's billion rows and sorting nothing for 99% of "
        "domains. Output is the per-source audit (total/kept/chars).",
)
def q101_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_relieffc_fselection_spark.operators.sampling import cap_per_group

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    kept = cap_per_group(
        docs, "source", _CAP, [F.desc("n_chars"), F.asc("doc_id")]
    )
    kept_agg = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("chars_kept"),
    )
    totals = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total")
    )
    return totals.join(kept_agg, "source").select(
        "source", "n_total", "n_kept", "chars_kept"
    )


_WSG_K = 5


@register(
    "q103_stratified_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             ln({_U_SQL}) / n_chars AS ln_key
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, source, n_chars, ROUND(ln_key, 6) + 0.0 AS ln_key, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY ln_key DESC, doc_id ASC) AS rank
      FROM keyed
    ) WHERE rank <= {_WSG_K}
    """,
    doc="Stratified weighted sampling: an independent Efraimidis-"
        "Spiegelmann length-weighted sample of exactly k docs inside "
        "EVERY source — the 'n docs per domain, quality-weighted' "
        "primitive mixture recipes need. Same hash-reproducible keys "
        "as q100 but ranked within strata, so the sort is group-local "
        "(one shuffle by source, never a single-partition rank).",
)
def q103_stratified_weighted_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from spark_relieffc_fselection_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    out = weighted_sample_per_group(docs, "source", "n_chars", _WSG_K)
    return out.select(
        "doc_id", "source", "n_chars", (F.round("ln_key", 6) + F.lit(0.0)).alias("ln_key"), "rank"
    )


DSIR_BUCKETS, DSIR_K = 64, 40


@register(
    "q107_dsir_importance_sample",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, is_t,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT % {DSIR_BUCKETS}
               AS bucket
      FROM (
        SELECT doc_id, lang = 'en' AS is_t,
               unnest(string_split({_NORM}, ' ')) AS tok
        FROM documents
      )
    ),
    counts AS (
      SELECT bucket,
             SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
             COUNT(*) AS cr
      FROM b GROUP BY bucket
    ),
    lam AS (
      SELECT bucket,
             ln((ct + 1.0) / ((SELECT SUM(ct) FROM counts) + {DSIR_BUCKETS}.0))
             - ln((cr + 1.0) / ((SELECT SUM(cr) FROM counts) + {DSIR_BUCKETS}.0))
               AS lam
      FROM counts
    ),
    wts AS (
      SELECT doc_id, SUM(lam) AS logw
      FROM b JOIN lam USING (bucket) GROUP BY doc_id
    ),
    keyed AS (
      SELECT doc_id, logw, logw - ln(-ln({_U_SQL})) AS key FROM wts
    )
    SELECT doc_id, ROUND(logw, 6) AS logw, rank FROM (
      SELECT doc_id, logw,
             ROW_NUMBER() OVER (ORDER BY key DESC, doc_id ASC) AS rank
      FROM keyed
    ) WHERE rank <= {DSIR_K}
    """,
    doc="DSIR data selection (Xie et al. 2023): hashed-unigram importance "
        "weights (target = lang='en' vs the raw pool; Laplace-smoothed "
        "bucket LMs over a portable md5 feature hash) + Gumbel-top-k "
        "resampling (exact softmax sample without replacement, "
        "hash-derived noise). operators/sampling.dsir_importance_weights "
        "+ gumbel_topk_resample. Scale: token explode -> n_buckets-row "
        "aggregate, broadcast lambda join, rank-k selection — no global "
        "sort, no vocab-sized state.",
)
def q107_dsir_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_relieffc_fselection_spark.operators.sampling import (
        dsir_importance_weights,
        gumbel_topk_resample,
    )

    docs = load_table(spark, sf_dir, "documents")
    wts = dsir_importance_weights(
        docs, F.col("lang") == "en", n_buckets=DSIR_BUCKETS
    )
    out = gumbel_topk_resample(wts, DSIR_K)
    return out.select("doc_id", F.round("logw", 6).alias("logw"), "rank")


#: q116 snapshot simulation: crawl N-1 drops doc_id % 10 == 3, crawl N
#: drops doc_id % 7 == 2 and re-extracts 1-in-5 docs with a +17 char
#: parser delta — deterministic, so the diff is oracle-able.
_SNAP_OLD = "doc_id % 10 != 3"
_SNAP_NEW = "doc_id % 7 != 2"
_SNAP_DELTA = "CASE WHEN doc_id % 5 = 0 THEN 17 ELSE 0 END"

_DIGEST_SQL = (
    "md5(concat_ws('|', coalesce(CAST(source AS VARCHAR), chr(1)), "
    "coalesce(CAST({n} AS VARCHAR), chr(1))))"
)


@register(
    "q116_snapshot_diff",
    oracle=f"""
    WITH snap_old AS (
      SELECT doc_id, {_DIGEST_SQL.format(n='n_chars')} AS old_digest
      FROM documents WHERE {_SNAP_OLD}
    ),
    snap_new AS (
      SELECT doc_id,
             {_DIGEST_SQL.format(n=f'n_chars + {_SNAP_DELTA}')} AS new_digest
      FROM documents WHERE {_SNAP_NEW}
    ),
    j AS (
      SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, old_digest, new_digest
      FROM snap_old o FULL OUTER JOIN snap_new n ON o.doc_id = n.doc_id
    )
    SELECT doc_id,
           CASE WHEN old_digest IS NULL THEN 'added'
                WHEN new_digest IS NULL THEN 'removed'
                WHEN old_digest != new_digest THEN 'changed' END AS change_type,
           old_digest, new_digest
    FROM j
    WHERE old_digest IS NULL OR new_digest IS NULL OR old_digest != new_digest
    """,
    doc="Snapshot diff / change-data-capture (operators/snapshot.py): "
        "crawl N vs crawl N-1 compared by KEY + 32-byte row digest, one "
        "full outer join, unchanged keys dropped before any consumer — "
        "output is proportional to churn, not corpus. Payload columns "
        "never shuffle (both sides pre-project to key+md5 digest), so a "
        "100-column snapshot diffs at key-projection cost; stored "
        "bucketed by key the exchange disappears entirely. Feeds "
        "incremental dedup (q81) and deletion propagation (q90).",
)
def q116_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_relieffc_fselection_spark.operators.snapshot import snapshot_diff

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    old = docs.filter(F.expr(_SNAP_OLD))
    new = docs.filter(F.expr(_SNAP_NEW)).withColumn(
        "n_chars", F.col("n_chars") + F.expr(_SNAP_DELTA)
    )
    return snapshot_diff(old, new, keys=["doc_id"], compare=["source", "n_chars"])


@register(
    "q117_source_quality_calibration",
    oracle=f"""
    WITH q AS ({QUALITY_ORACLE_SQL}),
    src AS (SELECT doc_id, source FROM documents)
    SELECT q.doc_id, src.source, q.quality_score,
           ROUND(PERCENT_RANK() OVER (
                   PARTITION BY src.source
                   ORDER BY q.quality_score ASC, q.doc_id ASC), 6) AS calib
    FROM q JOIN src ON q.doc_id = src.doc_id
    """,
    doc="Per-source quality-score calibration: raw heuristic/classifier "
        "scores are NOT comparable across sources (different classifiers, "
        "different base rates), so a global keep-threshold over-prunes "
        "some sources and under-prunes others. The fix is rank-"
        "normalization: percent_rank WITHIN source turns every score "
        "into a within-source quantile, and a global 'keep top 20%' "
        "threshold then means the same thing everywhere. Reuses q29's "
        "exact score (shared oracle constant — definitions cannot "
        "drift). Scale: one window sort per source partition; for "
        "pathological single-source corpora, swap percent_rank for "
        "q93's approx-quantile binning (same calibration, two scans, "
        "no per-group sort).",
)
def q117_source_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_relieffc_fselection_spark.operators.textstats import quality_scores

    docs = load_table(spark, sf_dir, "documents")
    q = quality_scores(docs).select("doc_id", "quality_score")
    src = docs.select("doc_id", "source")
    w = (
        Window.partitionBy("source")
        .orderBy(F.asc("quality_score"), F.asc("doc_id"))
    )
    return (
        q.join(src, "doc_id")
        .withColumn("calib", F.round(F.percent_rank().over(w), 6))
        .select("doc_id", "source", "quality_score", "calib")
    )


#: q151 negative-sampling shape: anchors, negatives per anchor, hash
#: buckets bounding the candidate join.
NEG_ANCHOR_MOD = 20
NEG_K = 4
NEG_BUCKETS = 32


@register(
    "q151_negative_sampling",
    oracle=f"""
    WITH cand AS (
      SELECT doc_id, source, doc_id % {NEG_BUCKETS} AS bucket
      FROM documents
    ),
    probes AS (
      SELECT d.doc_id AS anchor_id, d.source AS a_source, j.j AS neg_slot,
             ('0x' || substr(md5(CAST(d.doc_id * {NEG_K} + j.j AS VARCHAR)), 4, 6))::BIGINT
               % {NEG_BUCKETS} AS bucket
      FROM documents d
      CROSS JOIN (SELECT unnest(generate_series(0, {NEG_K - 1})) AS j) j
      WHERE d.doc_id % {NEG_ANCHOR_MOD} = 0
    ),
    scored AS (
      SELECT p.anchor_id, p.neg_slot, c.doc_id AS cand_id,
             ('0x' || substr(md5(CAST(p.anchor_id AS VARCHAR) || '_'
                                 || CAST(p.neg_slot AS VARCHAR) || '_'
                                 || CAST(c.doc_id AS VARCHAR)), 4, 6))::BIGINT AS u
      FROM probes p JOIN cand c ON p.bucket = c.bucket
      WHERE c.source <> p.a_source AND c.doc_id <> p.anchor_id
    )
    SELECT anchor_id, neg_slot, cand_id AS neg_id FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id, neg_slot
                                   ORDER BY u, cand_id) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
    doc="Seeded negative sampling for contrastive training pairs: each "
        "anchor draws NEG_K negatives from OTHER sources by probing a "
        "hash-derived candidate bucket and taking the md5-uniform "
        "minimum inside it — fully deterministic (md5-engine-exact, "
        "ties by cand_id), so resamples are reproducible and stable "
        "across reruns. Scale: the candidate join is BUCKET-bounded — "
        "anchors x NEG_K probe rows join one bucket each (corpus/"
        "NEG_BUCKETS rows), never the whole corpus; at 100 TB raise "
        "NEG_BUCKETS so buckets stay ~10k docs and the probe join "
        "stays flat. No all-pairs term anywhere; one shuffle on the "
        "bucket key + one partial-aggregatable min_by.",
)
def q151_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cand = docs.select(
        F.col("doc_id").alias("cand_id"),
        F.col("source").alias("c_source"),
        (F.col("doc_id") % NEG_BUCKETS).alias("bucket"),
    )
    probes = (
        docs.filter(F.col("doc_id") % NEG_ANCHOR_MOD == 0)
        .select(
            F.col("doc_id").alias("anchor_id"),
            F.col("source").alias("a_source"),
            F.explode(F.sequence(F.lit(0), F.lit(NEG_K - 1))).alias("neg_slot"),
        )
        .withColumn(
            "bucket",
            F.conv(
                F.substring(
                    F.md5(
                        (F.col("anchor_id") * NEG_K + F.col("neg_slot")).cast(
                            "string"
                        )
                    ),
                    4,
                    6,
                ),
                16,
                10,
            ).cast("long")
            % NEG_BUCKETS,
        )
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "_",
                    F.col("anchor_id").cast("string"),
                    F.col("neg_slot").cast("string"),
                    F.col("cand_id").cast("string"),
                )
            ),
            4,
            6,
        ),
        16,
        10,
    ).cast("long")
    scored = (
        probes.join(cand, "bucket")
        .filter(
            (F.col("c_source") != F.col("a_source"))
            & (F.col("cand_id") != F.col("anchor_id"))
        )
        .select("anchor_id", "neg_slot", "cand_id", u.alias("u"))
    )
    return (
        scored.groupBy("anchor_id", "neg_slot")
        .agg(
            F.min_by(
                F.col("cand_id"), F.struct(F.col("u"), F.col("cand_id"))
            ).alias("neg_id")
        )
        .select("anchor_id", "neg_slot", "neg_id")
    )
