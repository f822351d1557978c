"""Measured-scaling smoke: run representative operators on 1x and Kx
copies of the sf0.1 tables and print the wall-time ratio per operator.

The point is evidence, not proof: a bucketed/bounded operator should
scale near-linearly in rows (ratio ~= K on a fixed-size box), while a
quadratic all-pairs kernel shows ~K^2 growth — which is exactly why
the LSH/IVF tiers exist. Results are recorded in SCALE.md.

Usage: python scripts/scale_smoke.py [K] [sf_dir] [label-filter...]
Any extra args select families by case-insensitive substring match on
the printed label (e.g. `... 16 /root/testdata/sf0.1 semantic dsir`).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def replicate(df: DataFrame, k: int, id_col: str, offset: int) -> DataFrame:
    """K disjoint copies with shifted ids (distinct rows, same
    distributions) — a cheap stand-in for a K-times-larger corpus."""
    out = df
    for i in range(1, k):
        out = out.unionAll(df.withColumn(id_col, F.col(id_col) + i * offset))
    return out


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    label_filters = [a.lower() for a in sys.argv[3:]]

    from spark_relieffc_fselection_spark import get_spark
    from spark_relieffc_fselection_spark.functions.text import (
        md5_hash64,
        normalize_text,
    )
    from spark_relieffc_fselection_spark.operators.dedup import (
        minhash_near_duplicates,
    )
    from spark_relieffc_fselection_spark.operators.knn import knn_join
    from spark_relieffc_fselection_spark.operators.textstats import token_stats

    spark = get_spark(app_name="scale-smoke")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    inst = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("features"),
        F.col("label").cast("double").alias("label"),
    )
    n_inst = inst.count()

    def bench(label: str, build):
        if label_filters and not any(f in label.lower() for f in label_filters):
            return
        build(1).count()  # untimed: codegen + python-worker warmup
        times = {}
        for kk in (1, k):
            times[kk] = min(
                _timed(build, kk), _timed(build, kk)
            )  # min of 2: shrug off scheduler noise
        ratio = times[k] / times[1]
        print(
            f"{label}: 1x={times[1]:.2f}s {k}x={times[k]:.2f}s "
            f"ratio={ratio:.1f} (linear would be ~{float(k):.0f})"
        )

    def _timed(build, kk: int) -> float:
        t0 = time.time()
        build(kk).count()
        return time.time() - t0

    def docs_k(kk: int) -> DataFrame:
        return replicate(docs, kk, "doc_id", n_docs)

    def inst_k(kk: int) -> DataFrame:
        return replicate(inst, kk, "id", n_inst)

    # scan-bound: per-row expressions only
    bench("token_stats (scan-bound)", lambda kk: token_stats(docs_k(kk)))

    # shuffle-bound: one narrow hash + groupBy
    bench(
        "exact_dedup (shuffle-bound)",
        lambda kk: docs_k(kk)
        .select(md5_hash64(normalize_text(F.col("text"))).alias("h"))
        .groupBy("h")
        .count(),
    )

    # bucket-bound: banded minhash LSH (candidates, not all pairs)
    bench(
        "minhash_lsh_neardup (bucket-bound)",
        lambda kk: minhash_near_duplicates(docs_k(kk), threshold=0.8),
    )

    # quadratic exact kernel vs sub-linear LSH tier, same query load
    def knn_exact(kk: int) -> DataFrame:
        d = inst_k(kk)
        q = d.filter(F.col("id") % 4 == 0)
        return knn_join(d, q, 10, strategy="numpy", num_instances=n_inst * kk)

    def knn_lsh(kk: int) -> DataFrame:
        d = inst_k(kk)
        q = d.filter(F.col("id") % 4 == 0)
        return knn_join(d, q, 10, strategy="lsh")

    bench("knn exact (quadratic: Q and N both grow)", knn_exact)
    bench("knn lsh (bucketed tier)", knn_lsh)

    # PQ family: fixed query load, corpus grows -> expect ~linear for
    # encode+score (the whole point of the compressed tier), with the
    # IVF-PQ probe scanning only ~n_probe/n_lists of the growth
    from spark_relieffc_fselection_spark.operators.simsearch import (
        ivfpq_topk,
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    emb_queries = emb.filter(F.col("vec_id") % 25 == 0)

    def emb_k(kk: int) -> DataFrame:
        return replicate(emb, kk, "vec_id", n_inst)

    _cbs = pq_codebooks(emb)
    bench("pq_encode (scan-bound)", lambda kk: pq_encode(emb_k(kk), _cbs))
    bench(
        "pq_topk lut (corpus grows, queries fixed)",
        lambda kk: pq_topk(emb_k(kk), emb_queries, k=10, strategy="lut"),
    )
    bench(
        "ivfpq_topk (probe-bounded)",
        lambda kk: ivfpq_topk(emb_k(kk), emb_queries, k=10),
    )

    # sampling family: ES top-k is a per-partition rank-k + k-row
    # merge (~linear scan, constant merge); the cap routes by a
    # broadcast over-cap list (shuffle-bound on hot groups only)
    from spark_relieffc_fselection_spark.operators.sampling import (
        cap_per_group,
        weighted_sample_without_replacement,
    )

    bench(
        "weighted_sample (rank-k, no global sort)",
        lambda kk: weighted_sample_without_replacement(docs_k(kk), "n_chars", 50),
    )
    bench(
        "cap_per_group (skew-routed)",
        lambda kk: cap_per_group(
            docs_k(kk), "source", 15, [F.desc("n_chars"), F.asc("doc_id")]
        ),
    )

    # the full fit: estimationRatio fixed, so the sample grows with the
    # corpus and the within-batch kNN grid is the quadratic term; the
    # lsh strategy is the tier that bounds it
    from spark_relieffc_fselection_spark.operators.relief import fit_relief

    def fit_timed(strategy: str, kk: int) -> float:
        t0 = time.time()
        fit_relief(
            inst_k(kk),
            num_top_features=10,
            num_neighbors=3,
            estimation_ratio=0.25,
            batch_size=0.5,
            redundancy_removal=True,
            discrete_data=False,
            seed=42,
            knn_strategy=strategy,
        )
        return time.time() - t0

    for strategy in ("numpy", "lsh"):
        if label_filters and not any(
            f in f"relief fit (knn_strategy={strategy})" for f in label_filters
        ):
            continue
        fit_timed(strategy, 1)  # warm
        t1 = min(fit_timed(strategy, 1), fit_timed(strategy, 1))
        tk = min(fit_timed(strategy, k), fit_timed(strategy, k))
        print(
            f"relief fit (knn_strategy={strategy}): 1x={t1:.2f}s "
            f"{k}x={tk:.2f}s ratio={tk / t1:.1f} (linear would be ~{float(k):.0f})"
        )

    # substring-dedup family (VERDICT r4 #9): inverted k-gram index —
    # fan-out bounded by df_cap per gram, so growth should be ~linear
    # in docs (shared-run pairs grow with true duplication, which the
    # disjoint replicas do NOT add: replicas share grams but the
    # df_cap drops corpus-wide boilerplate grams as df grows)
    from spark_relieffc_fselection_spark.operators.dedup import (
        connected_components,
        shared_kgram_pairs,
    )

    bench(
        "shared_kgram_pairs (inverted-index, df_cap-bounded)",
        lambda kk: shared_kgram_pairs(docs_k(kk), k=12),
    )

    # connected components, large-star/small-star: O(log d) rounds of
    # join-shaped contractions; edge set grows linearly with replicas
    # (disjoint copies of the same pair graph)
    def cc_star(kk: int) -> DataFrame:
        pairs = minhash_near_duplicates(docs_k(kk), threshold=0.5).select(
            "id_a", "id_b"
        )
        return connected_components(pairs, strategy="star")

    bench("connected_components star (log-round contraction)", cc_star)

    # round-5 additions ---------------------------------------------------

    # SemDeDup: cluster count grows with the corpus (stride centroids),
    # so per-cluster pair work should stay ~constant -> near-linear
    from spark_relieffc_fselection_spark.operators.simsearch import (
        semantic_dedup,
    )

    bench(
        "semantic_dedup (cluster-scoped pairs)",
        lambda kk: semantic_dedup(emb_k(kk), threshold=0.3,
                                  centroid_stride=50),
    )

    # DSIR: token explode -> 64-row aggregate -> broadcast join back
    from spark_relieffc_fselection_spark.operators.sampling import (
        dsir_importance_weights,
        gumbel_topk_resample,
    )

    bench(
        "dsir weights + gumbel top-k (two token passes)",
        lambda kk: gumbel_topk_resample(
            dsir_importance_weights(docs_k(kk), F.col("lang") == "en"), 50
        ),
    )

    # edit-distance near-dup: candidates from the same minhash bands,
    # verify cost ~ candidate count (bounded DP per pair)
    from spark_relieffc_fselection_spark.operators.dedup import (
        editdist_near_duplicates,
    )

    bench(
        "editdist_neardup (band candidates + bounded DP)",
        lambda kk: editdist_near_duplicates(docs_k(kk), max_rel_dist=0.2),
    )

    # Bloom filter: build is map-side bit_or to a fixed m/63-word
    # frame (scan-bound); probe is k broadcast joins (scan-bound)
    from spark_relieffc_fselection_spark.operators.dedup import (
        bloom_filter_probe,
        bloom_filter_words,
    )

    from spark_relieffc_fselection_spark.queries import localize

    def bloom(kk: int) -> DataFrame:
        d = docs_k(kk).select(
            "doc_id", normalize_text(F.col("text")).alias("norm")
        )
        words = localize(
            bloom_filter_words(
                d.filter(F.col("doc_id") % 5 != 0), "norm", 1 << 20, 3
            )
        )
        return bloom_filter_probe(
            d.filter(F.col("doc_id") % 5 == 0), words, "norm", 1 << 20, 3
        )

    bench("bloom build+probe (fixed filter, scan-bound)", bloom)

    # hashing-trick classifier: token explode -> broadcast weight join
    # -> one per-doc aggregate
    from spark_relieffc_fselection_spark.operators.textstats import (
        hashed_linear_scores,
        hashing_trick_weights,
    )

    _wts = hashing_trick_weights(spark, 1024)
    bench(
        "linear_classifier (one shuffle, broadcast weights)",
        lambda kk: hashed_linear_scores(docs_k(kk), _wts),
    )

    # source-overlap matrix: inverted self-join keyed by shingle hash;
    # fan-out per key bounded by the SOURCE count, so growth tracks
    # the distinct (source, hash) projection (~linear in rows here —
    # replicas share sources, so the projection grows sub-linearly)
    from spark_relieffc_fselection_spark.operators.dedup import (
        source_overlap_matrix,
    )

    bench(
        "source_overlap shingle (source-bounded fan-out)",
        lambda kk: source_overlap_matrix(docs_k(kk), granularity="shingle"),
    )

    # snapshot diff: both sides pre-project to key+digest, one full
    # outer join — expect ~linear (join on unique keys, no fan-out)
    from spark_relieffc_fselection_spark.operators.snapshot import snapshot_diff

    def snap(kk: int) -> DataFrame:
        d = docs_k(kk).select("doc_id", "source", "n_chars")
        old = d.filter(F.col("doc_id") % 10 != 3)
        new = d.filter(F.col("doc_id") % 7 != 2).withColumn(
            "n_chars",
            F.col("n_chars")
            + F.when(F.col("doc_id") % 5 == 0, 17).otherwise(0),
        )
        return snapshot_diff(old, new, ["doc_id"], ["source", "n_chars"])

    bench("snapshot_diff (key+digest join)", snap)

    # z-order layout stats: pure integer expressions + one groupBy on
    # the z-cell (bounded key cardinality) — expect scan-bound ~linear
    from spark_relieffc_fselection_spark.functions.partitioning import morton16

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n_orders = orders.count()

    def zorder(kk: int) -> DataFrame:
        o = replicate(orders, kk, "o_orderkey", n_orders)
        keyed = o.select(
            (F.col("o_custkey") % 256).alias("x"),
            (F.floor(F.col("o_totalprice") / 500.0).cast("bigint") % 256).alias("y"),
        )
        z = morton16(F.col("x"), F.col("y"))
        return (
            keyed.withColumn("zcell", F.shiftright(z, 12))
            .groupBy("zcell")
            .agg(F.count(F.lit(1)).alias("n"), F.min("x"), F.max("x"))
        )

    bench("zorder_layout stats (scan-bound)", zorder)

    # salted join: small side replicated salt-x, big side salted —
    # expect ~linear in the big side (salt fan-out is a constant)
    from spark_relieffc_fselection_spark.functions.partitioning import salted_join

    li_full = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    n_li = li_full.count()
    sup_small = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )

    def salted(kk: int) -> DataFrame:
        big = replicate(li_full, kk, "l_orderkey", n_li)
        return salted_join(big, sup_small, on=["l_suppkey"], salt=8).groupBy(
            "s_nationkey"
        ).count()

    bench("salted_join (constant salt fan-out)", salted)

    # SCD2 history: same keyed join shape as snapshot_diff plus the
    # array+explode emission — expect ~linear (unique keys, no fan-out
    # beyond the <=2 history rows per key)
    from spark_relieffc_fselection_spark.operators.scd import scd2_delta

    def scd2(kk: int) -> DataFrame:
        d = docs_k(kk).select("doc_id", "source", "n_chars")
        old = d.filter(F.col("doc_id") % 10 != 3)
        new = d.filter(F.col("doc_id") % 7 != 2).withColumn(
            "n_chars",
            F.col("n_chars")
            + F.when(F.col("doc_id") % 5 == 0, 17).otherwise(0),
        )
        return scd2_delta(
            old, new, ["doc_id"], ["source", "n_chars"], v_old=1, v_new=2
        )

    bench("scd2_delta (key join + explode)", scd2)

    # pointer-doubling closure: rounds grow log10(max key) with the
    # replica offset, each round one self-join of the node-sized map —
    # expect ~linear-with-a-small-log-bump
    from spark_relieffc_fselection_spark.operators.graph import closure_to_root

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")
    n_cust = cust.count()

    def closure(kk: int) -> DataFrame:
        nodes = replicate(cust, kk, "c_custkey", n_cust).select(
            "c_custkey",
            F.when(F.col("c_custkey") < 10, F.lit(None).cast("bigint"))
            .otherwise(F.expr("c_custkey div 10"))
            .alias("parent"),
        )
        return closure_to_root(nodes, "c_custkey", "parent")

    bench("closure_to_root (pointer doubling)", closure)

    # 2-D skyline: one groupBy + range-partitioned local prune; the
    # global pass sees only per-partition fronts — expect ~linear
    from spark_relieffc_fselection_spark.operators.analytics import (
        mad_outliers,
        merge_intervals,
        skyline_2d,
    )

    def skyline(kk: int) -> DataFrame:
        o = replicate(orders, kk, "o_orderkey", n_orders)
        pts = o.groupBy(F.col("o_custkey").alias("c")).agg(
            F.round(F.avg("o_totalprice"), 6).alias("x"),
            F.count("*").alias("y"),
        )
        return skyline_2d(pts, "x", "y")

    bench("skyline_2d (window, no all-pairs)", skyline)

    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", F.col("value"), "ts"
    )
    n_events = events.count()

    def ev_k(kk: int) -> DataFrame:
        return replicate(events, kk, "event_id", n_events)

    # exact-percentile MAD: two aggregation passes with per-group sort
    # buffers — the exact tier's cost ceiling (approx tier is the
    # 100 TB path); expect ~linear until group buffers dominate
    bench(
        "mad_outliers exact (2 stat passes)",
        lambda kk: mad_outliers(ev_k(kk), "event_type", "value"),
    )

    # gaps-and-islands interval merge: one window sort per user —
    # expect ~n log n in the per-user row count
    def imerge(kk: int) -> DataFrame:
        iv = ev_k(kk).select(
            "user_id",
            F.unix_timestamp("ts").alias("s"),
            (F.unix_timestamp("ts") + 600).alias("e"),
        )
        return merge_intervals(iv, "user_id", "s", "e")

    bench("merge_intervals (gaps-and-islands)", imerge)

    # strictly-ordered funnel: one filtered scan + user-keyed groupBy
    # per stage, chain stays co-partitioned on user — expect ~linear
    # in events with a stages-count constant
    from spark_relieffc_fselection_spark.operators.analytics import (
        cohort_retention,
        funnel_counts,
    )

    def funnel(kk: int) -> DataFrame:
        return funnel_counts(
            ev_k(kk), "user_id", "event_type", "ts",
            ["view", "click", "purchase"],
        )

    bench("funnel_counts (per-stage user groupBy chain)", funnel)

    # cohort retention: distinct (user, bucket) + per-user min, joined
    # on the user key (co-partitioned) — expect ~linear
    bench(
        "cohort_retention (2 user-keyed aggs + join)",
        lambda kk: cohort_retention(ev_k(kk), "user_id", "ts"),
    )

    # last-touch attribution: asof_join self-application — union +
    # ONE per-user window pass; expect ~n log n in per-user rows
    from spark_relieffc_fselection_spark.operators.temporal import asof_join

    def attribution(kk: int) -> DataFrame:
        e = ev_k(kk)
        p = e.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        c = e.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        return asof_join(
            p, c, on=["user_id"], ts_col="ts",
            right_cols=("event_id",), tiebreak_col="event_id",
        )

    bench("last_touch asof_join (union + 1 window)", attribution)

    # calendar gap fill: the ONLY fact-sized work is the daily
    # aggregate (calendar-sized output, localized); spine/grid/fill
    # never touch the corpus — expect ~linear scan cost
    def calfill(kk: int) -> DataFrame:
        o = replicate(orders, kk, "o_orderkey", n_orders)
        return o.select(
            F.to_date("o_orderdate").alias("d"), "o_orderpriority"
        ).groupBy("d", "o_orderpriority").agg(F.count("*").alias("n"))

    bench("calendar_fill fact agg (1 scan, calendar-sized out)", calfill)

    # PSI drift: two histogram aggregations (fact-sized scans, bin-
    # sized outputs) + a bin-sized full outer join — expect ~linear
    from spark_relieffc_fselection_spark.operators.quality import (
        compaction_plan,
        psi_report,
    )

    def psi(kk: int) -> DataFrame:
        d = docs_k(kk)
        old = d.filter(F.col("doc_id") % 2 == 0).groupBy(
            (F.col("n_chars") / 500).cast("bigint").alias("bin")
        ).agg(F.count("*").alias("n_old"))
        new = d.filter(F.col("doc_id") % 2 == 1).groupBy(
            ((F.col("n_chars") + 40) / 500).cast("bigint").alias("bin")
        ).agg(F.count("*").alias("n_new"))
        return psi_report(old, new)

    bench("psi_report (2 hist aggs + bin-sized join)", psi)

    # (rolling_stats already benched below with the quality family)

    # compaction planning: one groupBy, partition-cardinality output —
    # expect ~linear scan cost
    bench(
        "compaction_plan (1 groupBy)",
        lambda kk: compaction_plan(
            ev_k(kk).select(
                F.col("event_type").alias("part"),
                (F.col("event_id") % 4096 + 64).alias("bytes"),
            ),
            "part", "bytes", target_bytes=1 << 20,
        ),
    )

    # BM25: one tokenize pass for the stats row + one for scoring —
    # expect ~linear, explode-dominated
    from spark_relieffc_fselection_spark.operators.retrieval import bm25_topk

    bench(
        "bm25_topk (2 tokenize passes)",
        lambda kk: bm25_topk(docs_k(kk), ("spark", "merge", "window"), 20),
    )

    # data-quality family (round 5 late) -----------------------------------

    # constraint audit: row-local rules fold into ONE conditional-sum
    # scan; unique = keyed groupBy; ref = broadcast anti join — expect
    # scan-bound ~linear regardless of rule count
    from spark_relieffc_fselection_spark.operators import quality as Q

    cust_keys = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey"
    )

    def audit(kk: int) -> DataFrame:
        o = replicate(orders, kk, "o_orderkey", n_orders)
        return Q.constraint_report(
            o,
            [
                Q.not_null("o_custkey"),
                Q.in_range("o_totalprice", 0.0, 300000.0),
                Q.accepted("o_orderstatus", ("O", "F")),
                Q.unique("o_orderkey"),
                Q.ref_integrity("o_custkey", cust_keys, "c_custkey"),
            ],
        )

    bench("constraint_report (fold + groupBy + anti)", audit)

    # winsorize: per-group exact percentile (the cost ceiling; approx
    # tier at scale) + broadcast clip — expect ~linear until the
    # per-group percentile sort buffers dominate
    bench(
        "winsorize exact (pctl agg + broadcast clip)",
        lambda kk: Q.winsorize(
            ev_k(kk).select("event_id", "event_type", "value"),
            "event_type",
            "value",
        ),
    )

    # skew profile: one keyed groupBy + bounded top-n — scan-bound
    def skew(kk: int) -> DataFrame:
        li = replicate(
            li_full.select("l_orderkey", "l_suppkey"), kk, "l_orderkey", n_li
        )
        return Q.skew_profile(li, "l_suppkey", top_n=10)

    bench("skew_profile (groupBy + bounded rank)", skew)

    # incremental merge: union of two aggregate-sized states + one
    # re-aggregation; the fact scan happens only in the partial aggs —
    # expect ~linear in the delta scan
    def incmerge(kk: int) -> DataFrame:
        e = ev_k(kk)
        stored = Q.keyed_partial_agg(
            e.filter(F.col("event_id") % 2 == 0),
            ["user_id"],
            sum_specs={"s": "value"},
        )
        delta = Q.keyed_partial_agg(
            e.filter(F.col("event_id") % 2 == 1),
            ["user_id"],
            sum_specs={"s": "value"},
        )
        return Q.merge_aggregates(stored, delta, ["user_id"], sum_cols=["s"])

    bench("incremental merge (two partials + union agg)", incmerge)

    # rolling features: one shuffle on the key + per-key sort with an
    # O(n)-state ROWS frame — expect ~n log n in per-key rows
    from spark_relieffc_fselection_spark.operators.analytics import (
        rolling_stats,
    )

    bench(
        "rolling_stats (keyed window, ROWS frame)",
        lambda kk: rolling_stats(
            ev_k(kk).select("event_id", "user_id", "value", "ts"),
            "user_id",
            ["ts", "event_id"],
            "value",
        ),
    )

    # KS drift: distinct-value histogram + bucketed prefix sums —
    # expect scan-bound ~linear (the windows see one bucket each)
    def ks(kk: int) -> DataFrame:
        d = docs_k(kk)
        u = d.filter(F.col("doc_id") % 10 != 3).select(
            F.col("n_chars").alias("v"), F.lit("o").alias("side")
        ).unionByName(
            d.filter(F.col("doc_id") % 7 != 2).select(
                (F.col("n_chars") + 17).alias("v"), F.lit("n").alias("side")
            )
        )
        return Q.ks_statistic(
            u, "v", F.col("side") == "o", F.col("side") == "n"
        )

    bench("ks_statistic (bucketed prefix-sum ECDFs)", ks)

    # join-cardinality estimate (self path): one scan + histogram agg
    def jse(kk: int) -> DataFrame:
        e = ev_k(kk).select("user_id")
        return Q.join_size_estimate(e, "user_id", e, "user_id")

    bench("join_size_estimate self (one scan)", jse)

    # PageRank: per-iteration edge join + node-sized checkpoint;
    # expect ~linear in edges with a fixed per-round job floor
    from spark_relieffc_fselection_spark.operators.graph import pagerank

    def pr(kk: int) -> DataFrame:
        c = replicate(cust, kk, "c_custkey", n_cust)
        nodes = c.select(F.col("c_custkey").alias("node"))
        parent = c.select(
            F.col("c_custkey").alias("src"),
            F.when(F.col("c_custkey") >= 10, F.expr("c_custkey div 10"))
            .otherwise(F.col("c_custkey")).alias("dst"),
        )
        sib = c.select(
            F.col("c_custkey").alias("src"),
            F.expr(
                "c_custkey - (c_custkey % 10) + ((c_custkey % 10) + 1) % 10"
            ).alias("dst"),
        )
        return pagerank(parent.unionByName(sib), nodes, n_iter=5)

    bench("pagerank 5 iters (edge join per round)", pr)

    # variant shredding: parse_json once per row at the scan — expect
    # scan-bound ~linear
    ev_props = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "props", "value"
    )

    def variant(kk: int) -> DataFrame:
        e = replicate(ev_props, kk, "event_id", n_events).select(
            "props", "value"
        )
        v = e.select(F.parse_json("props").alias("v"), "value")
        k_ = F.try_variant_get("v", "$.k", "int")
        return (
            v.select(k_.alias("k"), "value")
            .groupBy(F.expr("k div 10"))
            .agg(F.count("*"), F.sum("value"))
        )

    bench("variant_shred (one parse per row)", variant)

    # rollup cascade: fact-sized hourly pass + hour-sized daily pass —
    # expect ~linear in the hourly pass only
    def cascade(kk: int) -> DataFrame:
        e = ev_k(kk).select("event_type", "value", "ts")
        hourly = Q.time_rollup(e, "ts", 3600, ["event_type"], "value")
        return Q.time_rollup(
            hourly, "ts", 86400, ["event_type"], "value", from_rollup=True
        )

    bench("rollup_cascade (raw->hour->day)", cascade)

    # KMV sketch: distinct exchange + TakeOrdered k — scan-bound
    from spark_relieffc_fselection_spark.operators.textstats import (
        kmv_sketch,
    )

    bench(
        "kmv_sketch (distinct + bottom-k)",
        lambda kk: kmv_sketch(ev_k(kk).select("user_id"), "user_id", 64),
    )

    # event transitions: one user-keyed lag window + localized matrix
    from spark_relieffc_fselection_spark.queries import localize

    def transitions(kk: int) -> DataFrame:
        e = ev_k(kk).select("user_id", "event_type", "ts", "event_id")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        seq = e.withColumn("prev", F.lag("event_type").over(w))
        t = localize(
            seq.filter(F.col("prev").isNotNull())
            .groupBy("prev", "event_type")
            .agg(F.count("*").alias("n"))
        )
        tot = t.groupBy("prev").agg(F.sum("n").alias("tn"))
        return t.join(F.broadcast(tot), "prev")

    bench("event_transitions (one lag window)", transitions)

    # MERGE upsert: latest-per-key compaction (max_by partial agg) +
    # one key-partitioned full outer join — expect ~linear
    def merge_upsert(kk: int) -> DataFrame:
        d = docs_k(kk).select("doc_id", "n_chars")
        base = d.filter(F.col("doc_id") % 4 != 3)
        ch1 = d.filter(F.col("doc_id") % 3 == 0).select(
            "doc_id", F.lit(1).alias("v"),
            F.when(F.col("doc_id") % 5 == 0, "delete").otherwise("upsert").alias("op"),
            (F.col("n_chars") + 7).alias("nc"))
        ch2 = d.filter(F.col("doc_id") % 6 == 0).select(
            "doc_id", F.lit(2).alias("v"), F.lit("upsert").alias("op"),
            (F.col("n_chars") + 11).alias("nc"))
        latest = (ch1.unionByName(ch2).groupBy("doc_id")
                  .agg(F.max_by(F.struct("op", "nc"), F.col("v")).alias("b")))
        j = base.withColumn("in_base", F.lit(True)).join(latest, "doc_id", "full_outer")
        return j.filter(F.col("b.op").isNull() | (F.col("b.op") != "delete"))

    bench("merge_upsert (compact feed + 1 full outer join)", merge_upsert)

    # negative sampling: bucket-bounded candidate join + min_by — the
    # probe side grows with anchors, the bucket side with corpus/
    # NEG_BUCKETS; expect ~linear-with-product term unless buckets are
    # rescaled (the documented 100 TB knob)
    def negsample(kk: int) -> DataFrame:
        d = docs_k(kk)
        cand = d.select(F.col("doc_id").alias("cid"),
                        F.col("source").alias("cs"),
                        (F.col("doc_id") % (32 * kk)).alias("bucket"))
        probes = (d.filter(F.col("doc_id") % 20 == 0)
                  .select(F.col("doc_id").alias("aid"), F.col("source").alias("as_"),
                          F.explode(F.sequence(F.lit(0), F.lit(3))).alias("j"))
                  .withColumn("bucket", F.conv(F.substring(F.md5(
                      (F.col("aid") * 4 + F.col("j")).cast("string")), 4, 6),
                      16, 10).cast("long") % (32 * kk)))
        u = F.conv(F.substring(F.md5(F.concat_ws("_", "aid", "j", "cid")), 4, 6),
                   16, 10).cast("long")
        sc = (probes.join(cand, "bucket")
              .filter((F.col("cs") != F.col("as_")) & (F.col("cid") != F.col("aid")))
              .select("aid", "j", "cid", u.alias("u")))
        return sc.groupBy("aid", "j").agg(
            F.min_by("cid", F.struct("u", "cid")).alias("neg"))

    bench("negative_sampling (bucket join, buckets scaled with k)", negsample)

    # Zipf fit + BPE pair counts: tokenize shuffle -> vocab-sized work
    from spark_relieffc_fselection_spark.functions.text import tokens as _toks

    def zipf(kk: int) -> DataFrame:
        t = docs_k(kk).select(F.explode(_toks("text")).alias("term")).filter(
            F.col("term") != "")
        counts = t.groupBy("term").agg(F.count("*").alias("cnt"))
        return counts.orderBy(F.desc("cnt"), F.asc("term")).limit(500)

    bench("zipf head (tokenize + bounded top-k)", zipf)

    def bpe_pairs(kk: int) -> DataFrame:
        words = docs_k(kk).select(F.explode(_toks("text")).alias("w")).filter(
            F.length("w") >= 2)
        vocab = words.groupBy("w").agg(F.count("*").alias("wc"))
        return (vocab.select(F.explode(F.expr(
            "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
            .alias("pair"), "wc")
            .groupBy("pair").agg(F.sum("wc").alias("wcnt")))

    bench("bpe pair counts (vocab-sized, Zipf-bounded)", bpe_pairs)

    # streaming-upsert batch form: two latest-per-key aggs + key join
    def upsert_state(kk: int) -> DataFrame:
        e = ev_k(kk)
        pick = F.max_by(F.struct(F.unix_timestamp("ts").alias("s"),
                                 F.col("event_id").alias("i"),
                                 F.col("value").alias("v")),
                        F.struct(F.col("ts"), F.col("event_id"))).alias("b")
        old = e.filter(F.col("event_id") % 2 == 0).groupBy("user_id").agg(pick)
        new = e.filter(F.col("event_id") % 2 == 1).groupBy("user_id").agg(pick)
        return old.withColumnRenamed("b", "bo").join(
            new.withColumnRenamed("b", "bn"), "user_id", "full_outer")

    bench("upsert_state merge (2 max_by aggs + key join)", upsert_state)

    # round-8 additions (VERDICT r6 #5 / r7 #5 debt) -----------------------

    # q155: native recursive CTE (digit-climb over customer keys) —
    # depth grows log10(maxkey), per-iteration work is one narrow
    # filter+project, so total work ~ rows x depth => near-linear
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")
    n_cust = cust.count()

    # Spark 4's recursive CTE caps accumulated rows at 1e6 by default
    # (RECURSION_ROW_LIMIT_EXCEEDED at 16x: 240k nodes x ~6 digit
    # levels) — at warehouse scale this conf is part of deploying the
    # operator, exactly like shuffle partitions.
    spark.conf.set("spark.sql.cteRecursionRowLimit", (1 << 31) - 1)

    def recursive_climb(kk: int) -> DataFrame:
        c = replicate(cust, kk, "c_custkey", n_cust)
        return spark.sql(
            """
            WITH RECURSIVE climb AS (
              SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth FROM {c}
              UNION ALL
              SELECT node, cur div 10, depth + 1 FROM climb WHERE cur >= 10
            )
            SELECT cur AS root_key, COUNT(*) AS n_nodes,
                   CAST(MAX(depth) AS INT) AS max_depth
            FROM climb WHERE cur < 10 GROUP BY cur
            """,
            c=c,
        )

    bench("q155 recursive CTE (digit climb, depth ~ log10 keys)", recursive_climb)

    # q72b/q72c-shaped fits: the full pipeline to greedy selection.
    # The exact within-batch kNN is the documented quadratic term (the
    # sample grows with the corpus at fixed slice), so the honest
    # expectation here is ~k^2 per batch — the escalation tier
    # (resolve_auto_strategy -> lsh) is the bound at real scale, not
    # this kernel. Slice id%8<2 mirrors q72c's Q72C_PRED sizing.
    def fit_q72_shaped(label: str, batch_size: float, batching: str) -> None:
        if label_filters and not any(f in label.lower() for f in label_filters):
            return

        def run(kk: int) -> float:
            d = inst_k(kk).filter(F.col("id") % 8 < 2)
            t0 = time.time()
            fit_relief(
                d, num_top_features=5, num_neighbors=3,
                estimation_ratio=1.0, batch_size=batch_size,
                redundancy_removal=True, discrete_data=False,
                seed=42, knn_strategy="numpy-gemm", batching=batching,
            )
            return time.time() - t0

        run(1)  # warm
        t1 = min(run(1), run(1))
        tk = min(run(k), run(k))
        print(
            f"{label}: 1x={t1:.2f}s {k}x={tk:.2f}s ratio={tk / t1:.1f} "
            f"(linear would be ~{float(k):.0f}; exact kNN term is ~k^2/batch)"
        )

    fit_q72_shaped("q72b-shaped fit (1 batch -> MI -> greedy)", 1.0, "random")
    fit_q72_shaped("q72c-shaped fit (hash-batched, feedback loop)", 0.5, "hash")

    # q158-shaped fit IN ITS REGIME: genuinely sparse long-form input
    # (8 nnz of 10k features per row — the kddb shape, nnz/cell 8e-4),
    # where the inverted-index kNN's join work is O(shared nonzeros)
    # and the per-query merge takes the no-overlap pairs from a short
    # norm-sorted prefix of the corpus.
    # Expected near-linear in rows; contrast with the dense-data bench
    # cost SCALE.md adjudicates (every pair sharing every feature is
    # the plan's worst case).
    def sparse_fit_timed(
        label: str, scale_features: bool = False, binary: bool = False
    ) -> None:
        """``scale_features``: grow the feature space with the corpus
        (D x kk — how real vocabularies behave), keeping per-feature
        density constant; False holds D fixed, so replicas RAISE
        density and the shared-nonzero pair count grows superlinearly
        — the two together separate the O(shared nonzeros) claim from
        the density confound. ``binary``: one-hot rows (value 1.0, nnz
        4, 6 or 8), whose norm^2 is the nnz count, so the corpus falls
        into three norm runs whose no-overlap distances tie."""
        if label_filters and not any(f in label.lower() for f in label_filters):
            return
        from spark_relieffc_fselection_spark.operators.relief_sparse import (
            fit_relief_sparse,
        )

        N0, D0, NNZ = 20_000, 10_000, 8

        def run(kk: int) -> float:
            n = N0 * kk
            D = D0 * kk if scale_features else D0
            base = spark.range(n)
            long_df = (
                base.select(
                    "id",
                    F.explode(F.sequence(F.lit(0), F.lit(NNZ - 1))).alias("j"),
                )
                .filter(~F.lit(binary) | (F.col("j") < F.pmod("id", F.lit(3)) * 2 + 4))
                .select(
                    "id",
                    F.pmod(F.hash(F.col("id") * 13 + F.col("j")), F.lit(D)).alias(
                        "feature_idx"
                    ),
                    (
                        F.lit(1.0)
                        if binary
                        else (F.pmod(F.hash(F.col("id") * 7 + F.col("j")), F.lit(100)) + 1)
                        / 50.0
                    ).alias("value"),
                )
                # hash collisions can land two j's on one feature_idx
                .groupBy("id", "feature_idx")
                .agg(F.max("value").alias("value"))
            )
            labels = base.select(
                "id", F.pmod(F.hash("id"), F.lit(2)).cast("double").alias("label")
            )
            t0 = time.time()
            fit_relief_sparse(
                long_df, labels, n_features=D,
                num_top_features=5, num_neighbors=3,
                redundancy_removal=True, batch_size=0.5,
            )
            return time.time() - t0

        run(1)  # warm
        t1 = min(run(1), run(1))
        tk = min(run(k), run(k))
        print(
            f"{label}: 1x={t1:.2f}s {k}x={tk:.2f}s ratio={tk / t1:.1f} "
            f"(linear would be ~{float(k):.0f})"
        )

    sparse_fit_timed("q158-shaped sparse fit (kddb regime, 8/10k nnz, fixed D)")
    sparse_fit_timed(
        "q158-shaped sparse fit (kddb regime, D scales with corpus)",
        scale_features=True,
    )
    sparse_fit_timed(
        "q158-shaped sparse fit (binary one-hot rows, 4-8/10k nnz, D scales)",
        scale_features=True,
        binary=True,
    )

    # driver-width family (VERDICT r8 #7): corpus FIXED, declared
    # feature width grows 16x past the COO threshold — the driver's
    # peak python allocation during the fit must stay flat (the old
    # dense finalize allocated O(n_features) ndarrays; the COO
    # finalize is bounded by ACTIVE features, i.e. nnz).
    def sparse_fit_width(label: str) -> None:
        if label_filters and not any(f in label.lower() for f in label_filters):
            return
        import tracemalloc

        from spark_relieffc_fselection_spark.operators.relief_sparse import (
            fit_relief_sparse,
        )

        N0, NNZ, ACTIVE = 20_000, 8, 62_500

        def run(D: int) -> tuple[float, float]:
            # the ACTIVE feature set is held constant (62.5k ids,
            # strided across the declared width) so the two runs differ
            # ONLY in declared width — otherwise hash saturation at the
            # narrow width would change the active count and confound
            # the O(active)-vs-O(declared) question under test
            base = spark.range(N0)
            long_df = (
                base.select(
                    "id",
                    F.explode(F.sequence(F.lit(0), F.lit(NNZ - 1))).alias("j"),
                )
                .select(
                    "id",
                    (
                        F.pmod(
                            F.hash(F.col("id") * 13 + F.col("j")), F.lit(ACTIVE)
                        )
                        * F.lit(D // ACTIVE)
                    ).alias("feature_idx"),
                    (
                        (F.pmod(F.hash(F.col("id") * 7 + F.col("j")), F.lit(100)) + 1)
                        / 50.0
                    ).alias("value"),
                )
                .groupBy("id", "feature_idx")
                .agg(F.max("value").alias("value"))
            )
            labels = base.select(
                "id", F.pmod(F.hash("id"), F.lit(2)).cast("double").alias("label")
            )
            t0 = time.time()
            tracemalloc.start()
            fit_relief_sparse(
                long_df, labels, n_features=D,
                num_top_features=5, num_neighbors=3,
                redundancy_removal=True, batch_size=0.5,
            )
            _, peak = tracemalloc.get_traced_memory()
            tracemalloc.stop()
            return time.time() - t0, peak / 1e6

        run(62_500)  # warm
        t1, m1 = run(62_500)
        t16, m16 = run(1_000_000)
        t256, m256 = run(16_000_000)
        print(
            f"{label}: D=62.5k wall={t1:.2f}s peak={m1:.1f}MB | "
            f"D=1M wall={t16:.2f}s peak={m16:.1f}MB | "
            f"D=16M wall={t256:.2f}s peak={m256:.1f}MB "
            f"(declared-width flatness = the two COO points: "
            f"wall={t256 / t16:.2f} mem={m256 / m16:.2f} at 16x width)"
        )

    sparse_fit_width("sparse fit driver width (corpus fixed, D 62.5k -> 16M)")

    # unigram-LM tokenizer family: replicated docs repeat the SAME
    # words, so the vocabulary is IDENTICAL at every K — the one
    # corpus-sized stage (the word histogram) should grow ~linearly
    # while the vocab-sized EM stages (piece table, DP, masked prune
    # probes) stay FLAT. This is the measured form of the q162-q165
    # scale claim: at 100 TB only the histogram sees the corpus.
    from spark_relieffc_fselection_spark.operators.unigram_lm import (
        piece_table,
        prune_loss,
        viterbi_piece_counts,
    )
    from spark_relieffc_fselection_spark.queries import localize
    from spark_relieffc_fselection_spark.functions.text import tokens

    def uni_hist(kk: int) -> DataFrame:
        return (
            docs_k(kk)
            .select(F.explode(tokens("text")).alias("w"))
            .filter((F.length("w") >= 1) & (F.length("w") <= 16))
            .groupBy("w")
            .agg(F.count("*").alias("wc"))
        )

    bench("unigram word histogram (corpus-sized)", uni_hist)

    def uni_em(kk: int) -> DataFrame:
        v = localize(uni_hist(kk))
        p = piece_table(v, max_piece_len=4)
        uses = viterbi_piece_counts(v, p, max_piece_len=4)
        cand = [
            r["piece"]
            for r in uses.filter(F.length("piece") >= 2)
            .orderBy(F.desc("uses"), F.asc("piece"))
            .limit(12)
            .collect()
        ]
        return prune_loss(v, p, cand, max_piece_len=4)

    bench("unigram EM steps incl. prune (vocab-sized; flat-ish expected)", uni_em)

    # late-interaction rerank: corpus (doc tokens) grows, the query
    # token set is FIXED — the scoring pass is a broadcast projection
    # over the assembled docs, so wall should track the corpus
    # ~linearly with no shuffle growth beyond the assembly groupBy.
    from spark_relieffc_fselection_spark.operators.retrieval import maxsim_rerank

    def _emb_toks(frame: DataFrame) -> DataFrame:
        return frame.select(
            F.expr("vec_id div 8").alias("doc_id"),
            (F.col("vec_id") % 8).cast("int").alias("tok_idx"),
            F.col("embedding").cast("array<double>").alias("vec"),
        )

    # queries come from the UN-replicated emb (the emb_queries pattern
    # at the pq benches): deriving them from emb_k(kk) would drag all K
    # scan branches into the broadcast arm — doc_id is derived, so the
    # filters cannot push down and the "fixed" side would grow with K
    maxsim_queries = _emb_toks(emb).filter(F.col("doc_id") % 250 == 0)

    def maxsim_k(kk: int) -> DataFrame:
        return maxsim_rerank(_emb_toks(emb_k(kk)), maxsim_queries, k=5)

    bench("maxsim rerank (corpus grows, queries fixed)", maxsim_k)

    # maxsim QUERY-count scaling (VERDICT r9 #6): corpus FIXED, the
    # query-token broadcast grows ~Kx — wall should track the query
    # count ~linearly (the per-pair decimal-sum shuffle is queries x
    # corpus-bounded). The broadcast hint itself holds to
    # retrieval.MAX_BROADCAST_QUERY_TOKENS (500k vector rows); past
    # it maxsim_rerank drops the hint in candidates mode and refuses
    # rerank-all outright.
    def maxsim_q(kk: int) -> DataFrame:
        q = _emb_toks(emb).filter(F.col("doc_id") % max(250 // kk, 1) == 0)
        return maxsim_rerank(_emb_toks(emb), q, k=5)

    bench("maxsim rerank (queries grow, corpus fixed)", maxsim_q)

    # capped piece table (VERDICT r9 #3): the VOCABULARY grows Kx
    # (synthetic distinct words — the replicated corpus can't grow
    # it), the CAPPED candidate table must stay flat: it IS the
    # driver dict every DP pass broadcasts, the thing that would
    # otherwise be Heaps'-law-sized at 100 TB.
    def synth_vocab(kk: int) -> DataFrame:
        return spark.range(20_000 * kk).select(
            F.substring(F.md5(F.col("id").cast("string")), 1, 8).alias("w"),
            (F.col("id") % 97 + 1).alias("wc"),
        )

    if not label_filters or any(
        f in "unigram piece-table driver dict" for f in label_filters
    ):
        cap_rows = {
            kk: piece_table(
                localize(synth_vocab(kk)), max_piece_len=4, max_pieces=256
            ).count()
            for kk in (1, k)
        }
        raw_rows = {
            kk: piece_table(localize(synth_vocab(kk)), max_piece_len=4).count()
            for kk in (1, k)
        }
        print(
            f"unigram piece-table driver dict (vocab grows {k}x): "
            f"capped 1x={cap_rows[1]} {k}x={cap_rows[k]} (flat = bounded "
            f"broadcast); uncapped 1x={raw_rows[1]} {k}x={raw_rows[k]} "
            f"(grows with vocab — the 100 TB hazard the cap removes)"
        )

    # composed trainers (VERDICT r9 #4): corpus grows Kx but the
    # fixture vocabulary is fixed, so train_unigram (EM + prune) and
    # learn_bpe (capped-histogram local loop) should be FLAT past the
    # histogram build.
    from spark_relieffc_fselection_spark.operators.bpe import learn_bpe
    from spark_relieffc_fselection_spark.operators.unigram_lm import (
        train_unigram,
    )

    def uni_train(kk: int) -> DataFrame:
        res = train_unigram(
            localize(uni_hist(kk)),
            vocab_target=40,
            n_iters=2,
            max_piece_len=4,
            seed_max_pieces=120,
        )
        return res.pieces

    bench("unigram trainer 2 EM iters + prune (vocab-sized; flat-ish)", uni_train)

    def bpe_train(kk: int) -> DataFrame:
        merges = learn_bpe(
            uni_hist(kk), n_merges=100, max_vocab_words=24
        )
        return spark.createDataFrame(
            [(ph,) for ph, _ in merges], "ph string"
        )

    bench("bpe trainer 100 merges on capped histogram (flat-ish)", bpe_train)

    # production-depth corpus tokenization (VERDICT r11 #5): encode the
    # DISTINCT words under a 30k-merge id chain, then join tokens back
    # to the corpus by word — the q156/q164/bpe_ids serving pattern.
    # The claim under measurement ("corpus size never enters the
    # encode", operators/bpe_ids.py): the distinct-word set — hence
    # the Arrow encode pass and the broadcast ranks dict — is
    # IDENTICAL at 1x and Kx (replication shifts doc_id, not text),
    # so only the explode + broadcast-join-back side may grow, and it
    # must grow ~linearly with corpus rows. The shuffle story: the
    # join ships only the broadcast (word -> n_tokens) table; the two
    # groupBys shuffle PARTIAL aggregates (word histogram: vocab-sized
    # after map-side combine; per-doc totals: doc-count-sized) — the
    # exploded token stream itself is never shuffled.
    if not label_filters or any(
        f in "bpe corpus tokenize 30k chain (broadcast join-back)"
        for f in label_filters
    ):
        from scripts.bpe_depth_smoke import synth_histogram
        from spark_relieffc_fselection_spark.operators.bpe import (
            _merge_loop,
        )
        from spark_relieffc_fselection_spark.operators.bpe_ids import (
            bpe_ids_encode,
            merge_ranks_from_string_chain,
        )
        from spark_relieffc_fselection_spark.functions.text import tokens

        t0 = time.time()
        chain = merge_ranks_from_string_chain(
            _merge_loop(synth_histogram(100_000), 30_000)
        )
        print(
            f"  [setup: 30k-merge chain trained on a 100k-word synth "
            f"histogram + bridged in {time.time() - t0:.1f}s]"
        )

        def bpe_corpus(kk: int) -> DataFrame:
            d = docs_k(kk)
            words = d.select(
                "doc_id", F.explode(tokens("text")).alias("w")
            ).filter(F.length("w") >= 1)
            vocab = words.groupBy("w").agg(F.count("*").alias("wc"))
            per_word = bpe_ids_encode(vocab, chain).select(
                "w", F.size("token_ids").alias("n_tok")
            )
            return words.join(F.broadcast(per_word), "w").groupBy(
                "doc_id"
            ).agg(F.sum("n_tok").alias("doc_tokens"))

        bench("bpe corpus tokenize 30k chain (broadcast join-back)", bpe_corpus)

    spark.stop()


if __name__ == "__main__":
    main()
