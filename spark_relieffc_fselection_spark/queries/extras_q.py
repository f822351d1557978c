"""Additional coverage queries: discrete-mode RELIEF collisions,
grouping-set rollup, distinct aggregates — SURVEY §2.4's 'engine:
built-in' rows exercised explicitly, plus the discreteData collision
semantics (vote=1, threshold=0) under an oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_relieffc_fselection_spark.operators.knn import self_knn_pairs
from spark_relieffc_fselection_spark.operators.relief import (
    _PAIR_STATS_SCHEMA,
    _kernel_joint,
    _pair_stats,
)
from spark_relieffc_fselection_spark.queries import register
from spark_relieffc_fselection_spark.functions.partitioning import morton16_sql
from spark_relieffc_fselection_spark.queries.relational import DEC, dsum, r6
from spark_relieffc_fselection_spark.sources import load_table

DISC_K = 20  # 2 neighbors x 10 classes
DISC_TOP = list(range(6))

# Discretized embeddings: round each coordinate to an integer. The
# whole relief-discrete pipeline runs on these ints in both engines.
_DISC_CTE = f"""
inst AS (
  SELECT vec_id AS id,
         list_transform(CAST(embedding AS DOUBLE[]), x -> round(x, 0)) AS f,
         CAST(label AS DOUBLE) AS lbl
  FROM embeddings
),
cand AS (
  SELECT q.id AS query_id, x.id AS neighbor_id,
         sqrt(list_sum(list_transform(generate_series(1, len(q.f)),
                                      i -> (q.f[i] - x.f[i]) * (q.f[i] - x.f[i])))) AS dist
  FROM inst q JOIN inst x ON q.id <> x.id
),
knn AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rnk
    FROM cand
  ) WHERE rnk <= {DISC_K}
),
longf AS (
  SELECT k.query_id, k.neighbor_id, u.i - 1 AS feature_idx,
         abs(q.f[u.i] - x.f[u.i]) AS fdist
  FROM knn k JOIN inst q ON k.query_id = q.id JOIN inst x ON k.neighbor_id = x.id,
       LATERAL (SELECT unnest(generate_series(1, len(q.f))) AS i) u
),
coll AS (
  SELECT query_id, neighbor_id, feature_idx, 1.0 AS vote
  FROM longf WHERE fdist <= 0.0
)
"""


@register(
    "q37_relief_discrete_collisions",
    oracle=f"""
    WITH {_DISC_CTE},
    marginal AS (
      SELECT feature_idx, CAST(COUNT(*) AS BIGINT) AS n_collisions
      FROM coll GROUP BY feature_idx
    ),
    paired AS (
      SELECT a.feature_idx AS f1, b.feature_idx AS f2, a.vote AS jv
      FROM coll a JOIN coll b
        ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
      WHERE a.feature_idx <> b.feature_idx AND a.feature_idx < {len(DISC_TOP)}
    ),
    both_dir AS (
      SELECT f1, f2, jv FROM paired
      UNION ALL
      SELECT f2 AS f1, f1 AS f2, jv FROM paired
    ),
    joint AS (
      SELECT f1, f2, ROUND(CAST(SUM(CAST(jv AS DECIMAL(38,18))) AS DOUBLE), 6) AS joint
      FROM both_dir GROUP BY f1, f2
    )
    SELECT m.feature_idx, m.n_collisions,
           COALESCE(j.total_joint, 0.0) AS total_joint
    FROM marginal m LEFT JOIN (
      SELECT f1 AS feature_idx, ROUND(CAST(SUM(CAST(joint AS DECIMAL(38,18))) AS DOUBLE), 6) AS total_joint
      FROM joint GROUP BY f1
    ) j ON m.feature_idx = j.feature_idx
    """,
    doc="discreteData collision semantics: collision iff exact equality "
        "(threshold 0), vote 1, jointVote = left vote (ReliefFRSelector."
        "scala:417, 444 discrete branch; de-denormalized per SURVEY)",
)
def q37_relief_discrete_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    inst = emb.select(
        F.col("vec_id").alias("id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: F.round(x, 0)
        ).alias("features"),
        F.col("label").cast("double").alias("label"),
    )
    # The fit's pair kernel with the discrete reducer (threshold 0,
    # vote 1). The gemm ranking is exact here: discretized coordinates
    # are small integers, so |q|^2 - 2qb + |b|^2 is exact in float64 —
    # the diff kernel's and the SQL fold's ranks at ~10x the throughput.
    rows, bc = self_knn_pairs(
        inst, DISC_K, _pair_stats(False, 0.0, keep_pairs=True), _PAIR_STATS_SCHEMA,
        slices=spark.sparkContext.defaultParallelism, gemm=True,
    )
    # the collision-count collect fills the cache; the joint kernel
    # then reads only its (qi, ni) rows
    rows = rows.cache()
    try:
        n_coll = (
            rows.filter(F.col("f").isNotNull())
            .groupBy("f")
            .agg(F.sum("n").alias("n"))
            .filter(F.col("n") > 0)
            .collect()
        )
        joint = _kernel_joint(
            rows.filter(F.col("qi").isNotNull()).select("qi", "ni"),
            bc, DISC_TOP, continuous=False, threshold=0.0,
        )
        total_joint = {
            r["f1"]: r["total_joint"]
            for r in joint.groupBy("f1")
            .agg(F.round(F.sum(F.col("joint").cast(DEC)).cast("double"), 6).alias("total_joint"))
            .collect()
        }
    finally:
        rows.unpersist()
        bc.unpersist()
    return spark.createDataFrame(
        [(r["f"], r["n"], total_joint.get(r["f"], 0.0)) for r in n_coll],
        "feature_idx int, n_collisions long, total_joint double",
    )


@register(
    "q38_rollup",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS flag,
           COALESCE(l_linestatus, 'ALL') AS status,
           COUNT(*) AS n_items,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(38,18))) AS DOUBLE), 6) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="Grouping sets: ROLLUP totals at (flag,status) / (flag) / () — "
        "'engine: built-in' coverage of SURVEY §2.4's absent-in-reference ops",
)
def q38_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(38,18)")).cast("double"), 6
            ).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "n_items",
            "sum_qty",
        )
    )


@register(
    "q40_percentiles",
    oracle="""
    SELECT l_returnflag AS flag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
           ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact interpolated percentiles per group (Spark percentile() and "
        "DuckDB quantile_cont share linear interpolation) — corpus length/"
        "quality distribution stats for pipeline filtering",
)
def q40_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 6).alias("p99"),
    )


@register(
    "q39_distinct_agg",
    oracle="""
    SELECT l_returnflag AS flag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_items
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Distinct aggregates (expand + two-phase agg under the hood)",
)
def q39_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_items"),
    )


@register(
    "q45_analytic_windows",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(COALESCE(lag(o_totalprice) OVER seq, -1.0), 6) AS prev_price,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,18))) OVER seq AS DOUBLE), 6) AS run_sum,
           rank() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
    FROM orders
    WINDOW seq AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="Analytic windows beyond top-k ranking: lag, running decimal sum, "
        "rank — per-customer order timeline (absent in reference; engine "
        "built-in, SURVEY §2.8). Running sum in DECIMAL so every prefix is "
        "order-exact in both engines.",
)
def q45_analytic_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    seq = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rk = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.coalesce(
                F.lag("o_totalprice").over(
                    Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
                ),
                F.lit(-1.0),
            ),
            6,
        ).alias("prev_price"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(38,18)")).over(seq).cast("double"),
            6,
        ).alias("run_sum"),
        F.rank().over(rk).alias("price_rank"),
    )


@register(
    "q46_cube",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,18))), 6) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE grouping sets: all four aggregation granularities in one "
        "pass (Expand + single shuffle — vs four scans if hand-unioned)",
)
def q46_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            # decimal-first rounding: at ~1e9 magnitudes a 6dp round of
            # the post-cast double straddles .5e-6 boundaries on 1-ulp
            # engine differences (the q02 sf0.1 lesson)
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,18)")), 6
            ).cast("double").alias("sum_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "sum_price",
        )
    )


@register(
    "q47_pivot",
    oracle="""
    SELECT o_orderpriority AS priority,
           COUNT(*) FILTER (o_orderstatus = 'O') AS n_open,
           COUNT(*) FILTER (o_orderstatus = 'F') AS n_filled,
           COUNT(*) FILTER (o_orderstatus = 'P') AS n_pending,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,18)))
                 FILTER (o_orderstatus = 'O'), 6) AS DOUBLE) AS open_price
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Pivot (explicit value list => no extra distinct scan; Spark "
        "plans it as conditional aggregation, same as the oracle's FILTER)",
)
def q47_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    piv = (
        orders.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(38,18)")).alias("sp"),
        )
    )
    return piv.select(
        "priority",
        F.col("O_n").alias("n_open"),
        F.col("F_n").alias("n_filled"),
        F.col("P_n").alias("n_pending"),
        F.round(F.col("O_sp"), 6).cast("double").alias("open_price"),
    )


@register(
    "q48_setops",
    oracle="""
    WITH c95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
    c96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
    both_years AS (SELECT o_custkey FROM c95 INTERSECT SELECT o_custkey FROM c96),
    only_95 AS (SELECT o_custkey FROM c95 EXCEPT SELECT o_custkey FROM c96)
    SELECT 'both' AS cohort, o_custkey FROM both_years
    UNION ALL
    SELECT 'only_1995' AS cohort, o_custkey FROM only_95
    """,
    doc="Set operations (SURVEY §2.6 'engine: built-in'): INTERSECT and "
        "EXCEPT over per-year customer cohorts, tagged and unioned. Spark "
        "plans both as aggregated joins (semi/anti after distinct) — no "
        "custom operator needed.",
)
def q48_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    c95 = (
        orders.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    )
    c96 = (
        orders.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    )
    both_years = c95.intersect(c96).select(
        F.lit("both").alias("cohort"), "o_custkey"
    )
    only_95 = c95.exceptAll(c96).select(
        F.lit("only_1995").alias("cohort"), "o_custkey"
    )
    return both_years.unionByName(only_95)


@register(
    "q51_hll_distinct",
    oracle="""
    SELECT l_returnflag AS flag,
           COUNT(DISTINCT l_orderkey) AS n_exact,
           (abs(approx_count_distinct(l_orderkey) - COUNT(DISTINCT l_orderkey))
              <= 0.1 * COUNT(DISTINCT l_orderkey)) AS approx_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="HyperLogLog approximate distinct — the 100 TB cardinality path "
        "(one pass, bounded sketch memory, no distinct shuffle). The raw "
        "sketch value is engine-specific, so the oracle gates the ACCURACY "
        "CONTRACT instead: each engine's own HLL must land within 10% of "
        "exact (Spark rsd=0.02 ~ 2-3% observed; DuckDB ~2%). n_exact "
        "value-matches exactly.",
)
def q51_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.countDistinct("l_orderkey").alias("n_exact"),
            F.approx_count_distinct("l_orderkey", rsd=0.02).alias("n_approx"),
        )
        .select(
            "flag",
            "n_exact",
            (
                F.abs(F.col("n_approx") - F.col("n_exact"))
                <= 0.1 * F.col("n_exact")
            ).alias("approx_ok"),
        )
    )


@register(
    "q52_correlated_subquery",
    oracle="""
    SELECT p.p_brand AS brand,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,18)))
                      AS DOUBLE), 6) AS small_qty_revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = p.p_partkey)
    GROUP BY p.p_brand
    """,
    doc="Correlated scalar subquery (TPC-H Q17 shape): revenue of lines "
        "whose quantity is below 20% of that part's average. The oracle "
        "keeps the correlated form; the Spark plan is the decorrelation "
        "Catalyst would produce — a per-part aggregate joined back to the "
        "fact table. Observed plan: both the threshold table and the part "
        "dim broadcast, so lineitem is scanned once with ZERO join "
        "shuffles (exchanges only for the avg partial-agg and the final "
        "brand rollup). Past autoBroadcastJoinThreshold the join falls "
        "back to shuffle on l_partkey — the same key as the aggregate, so "
        "the exchange is reused.",
)
def q52_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    thresh = li.groupBy("l_partkey").agg(
        (0.2 * F.avg("l_quantity")).alias("qty_cutoff")
    )
    return (
        li.join(thresh, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cutoff"))
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            r6(dsum("l_extendedprice")).alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q53_mom_growth",
    oracle="""
    WITH monthly AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             SUM(CAST(o_totalprice AS DECIMAL(38,18))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT month,
           ROUND(CAST(rev AS DOUBLE), 6) AS revenue,
           ROUND(CAST(rev - lag(rev) OVER (ORDER BY month) AS DOUBLE)
                 / CAST(lag(rev) OVER (ORDER BY month) AS DOUBLE), 6) AS growth
    FROM monthly
    """,
    doc="Time-series rollup + month-over-month growth: date_trunc to "
        "calendar months, exact decimal revenue, lag over the month "
        "sequence. The unpartitioned window runs AFTER aggregation when "
        "the data is a few hundred rows, so the single-partition sort is "
        "free even at 100 TB — the scale-sensitive part (the groupBy) "
        "shuffles on the month key with partial aggregation.",
)
def q53_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("rev"))
    w = Window.orderBy("month")
    return monthly.select(
        "month",
        F.round(F.col("rev").cast("double"), 6).alias("revenue"),
        F.round(
            (F.col("rev") - F.lag("rev").over(w)).cast("double")
            / F.lag("rev").over(w).cast("double"),
            6,
        ).alias("growth"),
    )


@register(
    "q56_grouping_sets",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS flag,
           COALESCE(l_linestatus, 'ALL') AS status,
           COUNT(*) AS n_items,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,18))) AS DOUBLE), 6) AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
    doc="Explicit GROUPING SETS — two disjoint single-column granularities "
        "in ONE scan (Expand + one shuffle), a set not expressible as "
        "ROLLUP or CUBE; complements q38/q46.",
)
def q56_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_q56")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS flag,
               COALESCE(l_linestatus, 'ALL') AS status,
               COUNT(*) AS n_items,
               ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,18))) AS DOUBLE), 6) AS sum_price
        FROM lineitem_q56
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


@register(
    "q57_stratified_sample",
    oracle="""
    WITH sampled AS (
      SELECT * FROM documents
      WHERE doc_id % (CASE WHEN lang = 'en' THEN 4 ELSE 2 END) = 0
    )
    SELECT lang,
           COUNT(*) AS n_sampled,
           ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(38,18))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_chars
    FROM sampled GROUP BY lang
    """,
    doc="Stratified sampling (sampleBy semantics) with DETERMINISTIC "
        "per-stratum modulo predicates — downsample the over-represented "
        "stratum 2x harder, then per-stratum stats. Seeded-random sampleBy "
        "is the production form; the modulo form keeps the oracle exact.",
)
def q57_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit(4)).otherwise(F.lit(2))
    return (
        docs.filter(F.col("doc_id") % rate == 0)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.round(
                F.sum(F.col("n_chars").cast("decimal(38,18)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_chars"),
        )
    )


@register(
    "q115_salted_skew_join",
    oracle="""
    SELECT s_nationkey,
           COUNT(*) AS n_items,
           ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(38,18))) AS DOUBLE), 6) AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
    doc="Skew-resilient equi-join (functions/partitioning.salted_join): "
        "the big side is salted by a whole-row hash so a pathological "
        "hot key spreads over `salt` reducers; the small side is "
        "replicated salt-x. Result rows are IDENTICAL to the plain "
        "join — the oracle is the plain join — only the physical key "
        "distribution changes. This is the explicit remedy for the "
        "one-key-bigger-than-an-executor case AQE's skew split can't "
        "handle (it can't split a single key group mid-aggregation "
        "without the salt). Revenue decimal-summed per the cross-"
        "engine convention.",
)
def q115_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_relieffc_fselection_spark.functions.partitioning import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = salted_join(li, sup, on=["l_suppkey"], salt=8)
    return joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        r6(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(DEC)
            )
        ).alias("revenue"),
    )


#: z-cell granularity: dropping 12 low bits of the 32-bit Morton key
#: leaves cells covering a 64x64 rectangle of (x, y) space — the
#: span bound the per-cell min/max stats must respect.
_Z_SHIFT = 12


@register(
    "q118_zorder_layout",
    oracle=f"""
    WITH keyed AS (
      SELECT (o_custkey % 256) AS x,
             (CAST(FLOOR(o_totalprice / 500.0) AS BIGINT) % 256) AS y
      FROM orders
    )
    SELECT ({morton16_sql('x', 'y')} >> {_Z_SHIFT}) AS zcell,
           COUNT(*) AS n_rows,
           MIN(x) AS x_min, MAX(x) AS x_max,
           MIN(y) AS y_min, MAX(y) AS y_max
    FROM keyed
    GROUP BY zcell
    """,
    doc="Z-order (Morton) layout stats (functions/partitioning.morton16): "
        "interleave two bucketed dimensions of `orders` into a 1-D key, "
        "group by the key's high bits (= contiguous z-cells) and report "
        "per-cell min/max of BOTH dimensions — the file statistics a "
        "Z-ORDERed writer produces, bounded to a 64x64 rectangle per "
        "cell so scans filtering on EITHER dimension prune. Pure "
        "integer bit arithmetic (the oracle SQL is generated from the "
        "same shift/mask table, so the engines cannot drift), one "
        "aggregation shuffle, NO global sort: a production writer adds "
        "repartitionByRange(zkey) for balanced file sizes, which is a "
        "range exchange, not a driver sort.",
)
def q118_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_relieffc_fselection_spark.functions.partitioning import morton16

    orders = load_table(spark, sf_dir, "orders")
    x = (F.col("o_custkey") % 256).alias("x")
    y = (F.floor(F.col("o_totalprice") / 500.0).cast("bigint") % 256).alias("y")
    keyed = orders.select(x, y)
    z = morton16(F.col("x"), F.col("y"))
    return (
        keyed.withColumn("zcell", F.shiftright(z, _Z_SHIFT))
        .groupBy("zcell")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
    )
