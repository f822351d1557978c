"""Similarity search over embedding columns (``array<float>``).

North-star operator family (BASELINE.json): approximate-nearest-
neighbor search sharing the kNN core of the RELIEF engine (SURVEY J1/
T1, ReliefFRSelector.scala:334-369 is the same shape with Euclidean
distance).

Three tiers, trading recall for scan cost:

  * brute-force cosine top-k  — exact; crossJoin(broadcast(queries)) +
    window rank; the correctness baseline.
  * sign-LSH bucketed         — deterministic hyperplane-free LSH: the
    bucket is the sign pattern of `n_bits` fixed coordinates. No RNG,
    so the same query is reproducible in any engine (full SQL oracle).
  * IVF coarse quantization   — k-means-free IVF: centroids are a
    deterministic id-stride subset of the corpus; each vector is
    assigned to its nearest centroid ("inverted list"); queries probe
    the `n_probe` nearest lists. This is the 100 TB path: scan cost
    drops by ~(n_lists / n_probe) and lists are co-partitioned.

Embedding-cosine near-dup dedup is `all_pairs_cosine` with a high
threshold — listed here because it shares every building block.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Unique observe() suffixes (GIL-atomic; see dedup._obs_counter).
_obs_counter = itertools.count(1)

from spark_relieffc_fselection_spark.functions.vector import (

    dot_product,
    l2_norm,
)


def _prep(df: DataFrame, id_col: str, vec_col: str, out_id: str, out_vec: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).cast("array<double>").alias(out_vec),
    )


def _prep_normed(
    df: DataFrame, id_col: str, vec_col: str, out_id: str, out_vec: str, out_nrm: str
) -> DataFrame:
    """Project (id, vec, |vec|): the norm is computed ONCE per row
    before any join. Array folds are interpreted (higher-order
    functions sit outside whole-stage codegen), so recomputing norms
    per candidate pair triples the fold work of every similarity join.
    Same fold order as computing it per-pair -> bit-identical cosines.
    """
    v = F.col(vec_col).cast("array<double>")
    return df.select(
        F.col(id_col).alias(out_id),
        v.alias(out_vec),
        l2_norm(v).alias(out_nrm),
    )


def _cos(q_vec: str, n_vec: str, q_nrm: str, n_nrm: str):
    den = F.col(q_nrm) * F.col(n_nrm)
    return F.when(den == 0.0, F.lit(0.0)).otherwise(
        dot_product(F.col(q_vec), F.col(n_vec)) / den
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank).

    Ties break on neighbor_id; the query side is broadcast (bounded
    query sets are the contract, mirroring the RELIEF sample batch).
    """
    q = _prep_normed(queries, id_col, vec_col, "query_id", "q_vec", "q_nrm")
    c = _prep_normed(corpus, id_col, vec_col, "neighbor_id", "n_vec", "n_nrm")
    pairs = c.crossJoin(F.broadcast(q))
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        pairs.select(
            "query_id",
            "neighbor_id",
            _cos("q_vec", "n_vec", "q_nrm", "n_nrm").alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_bits: int = 4,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    multiprobe: bool = False,
    probe_radius: int = 1,
) -> DataFrame:
    """Multi-table sign-LSH ANN.

    Table t buckets on the sign pattern of coordinates
    [t*n_bits, (t+1)*n_bits); candidates are the union over tables of
    same-bucket pairs (classic multi-table LSH: per-table recall p^bits
    compounds to 1-(1-p^bits)^tables). Per-query scan cost ~
    n_tables * corpus / 2^n_bits. Exact cosine ranking within the
    candidate set; fully deterministic, hence SQL-oracle-able.

    ``multiprobe``: each query also probes every bucket within Hamming
    distance ``probe_radius`` (:func:`_multiprobe`, shared with the
    RELIEF fit's kNN tier): x(1 + b [+ b(b-1)/2]) broadcast rows, zero
    extra corpus-side work.
    """
    q = _prep_normed(queries, id_col, vec_col, "query_id", "q_vec", "q_nrm")
    c = _prep_normed(corpus, id_col, vec_col, "neighbor_id", "n_vec", "n_nrm")
    q_b, _ = _multiprobe(
        _with_table_buckets(q, "q_vec", n_bits, n_tables), n_bits, probe_radius, multiprobe
    )
    c_b = _with_table_buckets(c, "n_vec", n_bits, n_tables)
    cand = (
        c_b.join(F.broadcast(q_b), ["table", "bucket"])
        .select("query_id", "neighbor_id", "q_vec", "n_vec", "q_nrm", "n_nrm")
        .distinct()
    )
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.select(
            "query_id",
            "neighbor_id",
            _cos("q_vec", "n_vec", "q_nrm", "n_nrm").alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _multiprobe(
    buckets: DataFrame, n_bits: int, probe_radius: int, enabled: bool
) -> tuple[DataFrame, int]:
    """``(rows, probes per row)``: with ``enabled``, each
    :func:`_with_table_buckets` row is exploded to its own bucket plus
    every bucket within Hamming distance ``probe_radius`` (1 = each
    single-bit flip, 2 adds each two-bit flip; Lv et al., VLDB'07).
    Candidates only grow with the radius, so recall is monotone in it.
    Applied to the query (broadcast) side only, it costs no scan-side
    work; the callers' pair-distinct absorbs cross-probe duplicates."""
    if probe_radius not in (1, 2):
        raise ValueError(f"probe_radius must be 1 or 2, got {probe_radius}")
    if not enabled:
        return buckets, 1
    masks = [1 << i for i in range(n_bits)]
    if probe_radius == 2:
        masks += [(1 << i) | (1 << j) for i in range(n_bits) for j in range(i + 1, n_bits)]
    bucket = F.col("bucket")
    probes = [bucket, *[bucket.bitwiseXOR(F.lit(m).cast("bigint")) for m in masks]]
    return buckets.withColumn("bucket", F.explode(F.array(*probes))), len(probes)


def _with_table_buckets(
    df: DataFrame, vec_col_name: str, n_bits: int, n_tables: int
) -> DataFrame:
    """Explode each row to one row per LSH table with its sign bucket.

    Coordinates wrap modulo the vector length, so any dimensionality is
    legal (Spark 4 runs ANSI mode by default, where a plain
    ``element_at`` past the end of the array *throws* rather than
    returning null). For ``dim >= n_bits * n_tables`` the wrap is the
    identity — bucket values are unchanged. Below that, tables whose
    coordinate window aliases an earlier table yield duplicate
    candidate pairs, which the downstream ``distinct()`` absorbs; the
    ``try_element_at`` guards the remaining zero-length-array edge
    (null coordinate -> bit 0, the pre-ANSI graceful degradation).
    """
    v = F.col(vec_col_name)
    dim = F.greatest(F.size(v), F.lit(1))
    tables = []
    for t in range(n_tables):
        acc = F.lit(0).cast("bigint")
        for i in range(n_bits):
            coord = t * n_bits + i
            idx = (F.pmod(F.lit(coord), dim) + F.lit(1)).cast("int")
            acc = acc + F.when(
                F.try_element_at(v, idx) > 0.0,
                F.lit(1 << i).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
        tables.append(F.struct(F.lit(t).alias("table"), acc.alias("bucket")))
    return df.select(
        "*", F.explode(F.array(*tables)).alias("_tb")
    ).select(*df.columns, F.col("_tb.table").alias("table"), F.col("_tb.bucket").alias("bucket"))


def ivf_assignments(
    corpus: DataFrame,
    centroid_stride: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Deterministic IVF: centroids = rows with id % stride == 0.

    Returns (centroids, assignments) where assignments maps each vector
    to its nearest centroid by cosine (ties -> lowest centroid id).
    At scale the assignment pass is one broadcast join (centroid count
    is corpus/stride, kept small) and lists can be written bucketed-by
    `list_id` for co-partitioned probes.
    """
    c = _prep_normed(corpus, id_col, vec_col, "vid", "vec", "v_nrm")
    centroids = c.filter(F.col("vid") % centroid_stride == 0).select(
        F.col("vid").alias("centroid_id"),
        F.col("vec").alias("c_vec"),
        F.col("v_nrm").alias("c_nrm"),
    )
    w = Window.partitionBy("vid").orderBy(F.desc("sim"), F.asc("centroid_id"))
    assign = (
        c.crossJoin(F.broadcast(centroids))
        .select(
            "vid",
            "centroid_id",
            _cos("vec", "c_vec", "v_nrm", "c_nrm").alias("sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vid", F.col("centroid_id").alias("list_id"))
    )
    return centroids, assign


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    centroid_stride: int = 50,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF probe: each query scans only its n_probe nearest inverted
    lists. Returns (query_id, neighbor_id, cosine, rank)."""
    centroids, assign = ivf_assignments(corpus, centroid_stride, id_col, vec_col)
    q = _prep_normed(queries, id_col, vec_col, "query_id", "q_vec", "q_nrm")
    wq = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("centroid_id"))
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "q_vec",
            "q_nrm",
            "centroid_id",
            _cos("q_vec", "c_vec", "q_nrm", "c_nrm").alias("sim"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "q_vec", "q_nrm", F.col("centroid_id").alias("list_id"))
    )
    c = _prep_normed(corpus, id_col, vec_col, "neighbor_id", "n_vec", "n_nrm").join(
        assign.withColumnRenamed("vid", "neighbor_id"), "neighbor_id"
    )
    pairs = c.join(F.broadcast(probes), "list_id")
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.select(
            "query_id",
            "neighbor_id",
            _cos("q_vec", "n_vec", "q_nrm", "n_nrm").alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def lsh_near_duplicates(
    corpus: DataFrame,
    threshold: float,
    n_bits: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "numpy",
    max_bucket_members: int | None = 10_000,
    observation=None,
) -> DataFrame:
    """Bucketed embedding near-dup: the 100 TB default for
    ``all_pairs_cosine``-style dedup.

    Shape: sign-LSH bucket the corpus (deterministic, no RNG), then
    score only SAME-BUCKET pairs, distinct across tables, exact cosine
    verify. Candidate volume is ~ n_tables * n^2 / 2^n_bits instead of
    n^2; everything is keyed by (table, bucket) and distributed —
    nothing is collected or broadcast (contrast the brute-force
    strategies below). Near-identical vectors agree on coordinate signs
    with high probability, which is exactly the near-dup regime. Recall
    is governed by (n_bits, n_tables): grow n_bits with corpus size to
    keep buckets bounded, grow n_tables to recover recall.

    ``kernel='numpy'`` (default): per-bucket Arrow groups compute the
    within-bucket cosine block as one BLAS matmul (applyInPandas) and
    emit only (id_a, id_b, cosine) — the narrow 3-column distinct then
    collapses multi-table hits. ~5x the per-pair Catalyst fold
    (measured 5.7s -> 1.2s at sf0.1) because array folds are
    interpreted per pair while the matmul is vectorized; a hot bucket's
    block is row-chunked to bound task memory. ``kernel='sql'`` keeps
    the whole plan in Catalyst (bucket self-join + fold) for codegen
    purists.

    Deterministic end to end, hence exactly SQL-oracle-able (the oracle
    re-derives the same buckets).
    """
    c = _prep_normed(corpus, id_col, vec_col, "id", "vec", "nrm")
    b = _with_table_buckets(c, "vec", n_bits, n_tables)
    if max_bucket_members is not None:
        # Degenerate-bucket guard (mirrors dedup._capped_buckets): a
        # bucket of m members still means O(m^2) PAIR work in one task
        # even with the chunked matmul bounding memory, so buckets over
        # the cap are dropped (observed) before pair generation. The
        # size window partitions by the same (table, bucket) key the
        # pair stage groups on, so it rides the existing exchange.
        w_b = Window.partitionBy("table", "bucket")
        too_big = F.col("_bsz") > max_bucket_members
        target = (
            observation
            if observation is not None
            else f"lsh_neardup_cap_{next(_obs_counter)}"
        )
        b = (
            b.withColumn("_bsz", F.count(F.lit(1)).over(w_b))
            .withColumn(
                "_bfirst",
                F.row_number().over(w_b.orderBy("id")) == 1,
            )
            .observe(
                target,
                F.sum(
                    F.when(too_big & F.col("_bfirst"), 1).otherwise(0)
                ).alias("dropped_buckets"),
                F.sum(F.when(too_big, 1).otherwise(0)).alias("dropped_members"),
            )
            .filter(~too_big)
            .drop("_bsz", "_bfirst")
        )
    if kernel == "numpy":
        return _lsh_near_dup_kernel(b, threshold)
    a_side = b.select(
        F.col("id").alias("id_a"),
        F.col("vec").alias("va"),
        F.col("nrm").alias("na"),
        "table",
        "bucket",
    )
    b_side = b.select(
        F.col("id").alias("id_b"),
        F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"),
        "table",
        "bucket",
    )
    cand = (
        a_side.join(b_side, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "va", "vb", "na", "nb")
        .distinct()
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            F.when(F.col("na") * F.col("nb") == 0.0, F.lit(0.0))
            .otherwise(
                dot_product(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            )
            .alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float,
    centroid_stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_members: int | None = 10_000,
    observation=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-scoped
    semantic near-duplicate removal — the embedding-space dedup tier
    between exact/MinHash text dedup and full ANN.

    Shape: assign every vector to its nearest deterministic centroid
    (:func:`ivf_assignments` — broadcast centroids, one narrow pass),
    then score pairs ONLY within a cluster (equi-join keyed by
    ``list_id``; never all-pairs) and mark as duplicates the rows whose
    cosine to a LOWER-id cluster member reaches ``threshold``. Keeping
    the minimum id per duplicate group is the same deterministic
    representative convention as the text-dedup canonical selection
    (dedup.canonical_docs), which is what makes the result exactly
    SQL-oracle-able; the paper keeps a random member per group.

    Scale: candidate volume is sum over clusters of m^2, governed by
    the centroid count — grow centroids with the corpus (SemDeDup uses
    ~100k clusters at LAION scale) so cluster sizes stay bounded, and
    ``max_cluster_members`` drops degenerate clusters (observed via the
    same ``observe`` counters as the LSH bucket cap) instead of letting
    one hot cluster own an O(m^2) task.

    Returns dropped rows: (``id_col``, list_id, dup_of, max_cos) where
    ``dup_of`` is the smallest lower-id duplicate and ``max_cos`` the
    strongest in-cluster duplicate cosine (rounded to 6 decimals).

    Caveat: the drop counters ride an ``observe()`` on the cluster
    stream; when EVERY cluster is capped (result is globally empty)
    AQE's empty-relation propagation may skip the observed branch, so
    ``Observation.get`` is only guaranteed after a run with survivors.
    """
    _, assign = ivf_assignments(corpus, centroid_stride, id_col, vec_col)
    # Cluster member lists (ids ONLY — the linear object; vectors join
    # back per candidate pair below). Grouping first keeps the cap and
    # its observe() counters on a single-consumer stream: an observe on
    # a DataFrame feeding both sides of a self-join appears twice in
    # the plan, and AQE's empty-relation pruning can skip the observed
    # branch entirely, orphaning the metrics.
    clusters = (
        assign.groupBy("list_id")
        .agg(F.collect_list("vid").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_cluster_members is not None:
        too_big = F.size("ids") > max_cluster_members
        target = (
            observation
            if observation is not None
            else f"semantic_dedup_cap_{next(_obs_counter)}"
        )
        clusters = clusters.observe(
            target,
            F.sum(F.when(too_big, 1).otherwise(0)).alias("dropped_clusters"),
            F.sum(F.when(too_big, F.size("ids")).otherwise(0)).alias(
                "dropped_members"
            ),
        ).filter(~too_big)
    # Pair explode per cluster (quadratic object, bounded by the cap),
    # repartitioned first so AQE doesn't coalesce the byte-tiny grouped
    # rows onto a few cores — same shape as dedup.lsh_candidate_pairs.
    par = corpus.sparkSession.sparkContext.defaultParallelism
    pairs = (
        clusters.repartition(par, "list_id")
        .select("list_id", F.explode("ids").alias("id_a"), "ids")
        .select("list_id", "id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    v = _prep_normed(corpus, id_col, vec_col, "id", "vec", "nrm")
    edges = (
        pairs.join(
            v.select(
                F.col("id").alias("id_a"),
                F.col("vec").alias("va"),
                F.col("nrm").alias("na"),
            ),
            "id_a",
        )
        .join(
            v.select(
                F.col("id").alias("id_b"),
                F.col("vec").alias("vb"),
                F.col("nrm").alias("nb"),
            ),
            "id_b",
        )
        .select(
            "list_id",
            "id_a",
            "id_b",
            F.when(F.col("na") * F.col("nb") == 0.0, F.lit(0.0))
            .otherwise(
                dot_product(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            )
            .alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    return edges.groupBy(F.col("id_b").alias(id_col)).agg(
        F.first("list_id").alias("list_id"),
        F.min("id_a").alias("dup_of"),
        F.round(F.max("cosine"), 6).alias("max_cos"),
    )


def kmeans_lloyd_step(
    corpus: DataFrame,
    centroid_stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One distributed Lloyd iteration — the training step behind a
    REAL IVF index (ivf_assignments uses stride centroids; k-means
    refines them). Returns the long form ``(list_id, dim, value,
    n_members)`` of the updated centroids.

    Shape at 100 TB: centroids are tiny and broadcast; assignment is
    one scan; the mean is posexplode + one partial+final aggregation on
    (list_id, dim) — map-side combine collapses each partition to at
    most n_lists x dim rows before the shuffle. Iterating = calling
    this k times; each step is the same two-job plan. Per-dim sums are
    decimal-accumulated so the result is partition-order-invariant
    (the engine-wide determinism contract)."""
    _, assign = ivf_assignments(corpus, centroid_stride, id_col, vec_col)
    member_vecs = _prep(corpus, id_col, vec_col, "vid", "vec").join(assign, "vid")
    long = member_vecs.select(
        "list_id", F.posexplode("vec").alias("dim", "x")
    )
    return (
        long.groupBy("list_id", "dim")
        .agg(
            F.count("*").alias("n_members"),
            F.sum(F.col("x").cast("decimal(38,18)")).alias("sx"),
        )
        .select(
            "list_id",
            "dim",
            F.round((F.col("sx") / F.col("n_members")).cast("double"), 6).alias("value"),
            "n_members",
        )
    )


def random_projection(
    corpus: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Johnson-Lindenstrauss sign projection to
    ``out_dim`` dims — the dimensionality-reduction front end for ANN /
    clustering at 100 TB (shrinks every downstream distance kernel by
    in_dim/out_dim while approximately preserving distances).

    The +-1 projection matrix is derived arithmetically from (i, j)
    parity — no RNG, no driver-side matrix, reproducible in any engine
    (hence exactly SQL-oracle-able). Output is the long form
    ``(id, out_dim_idx, value)``; pure per-row expressions, zero
    shuffle."""
    c = _prep(corpus, id_col, vec_col, "id", "vec")
    # sign(i, j) = +1 if (i*1009 + j*9176 + (i*j)%7) is even else -1 —
    # cheap integer hash with balanced signs, identical in Spark & SQL.
    outs = []
    for j in range(out_dim):
        acc = F.aggregate(
            F.zip_with(
                F.col("vec"),
                F.sequence(F.lit(0), F.size("vec") - 1),
                lambda x, i: x
                * (
                    F.lit(1.0)
                    - 2.0
                    * F.pmod(i * 1009 + F.lit(j * 9176) + F.pmod(i * j, F.lit(7)), F.lit(2))
                ),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        outs.append(F.struct(F.lit(j).alias("out_dim_idx"), acc.alias("value")))
    return c.select(
        "id", F.explode(F.array(*outs)).alias("o")
    ).select(
        F.col("id"),
        F.col("o.out_dim_idx").alias("out_dim_idx"),
        F.round(F.col("o.value"), 6).alias("value"),
    )


def _lsh_near_dup_kernel(bucketed: DataFrame, threshold: float) -> DataFrame:
    """Within-bucket blockwise cosine kernel: one Arrow group per
    (table, bucket), one matmul per row-chunk of the block. Emits only
    the narrow (id_a, id_b, cosine) rows that clear the threshold; the
    final distinct dedupes multi-table collisions (identical arithmetic
    per pair in any bucket -> identical rounded cosine -> collapses).
    Memory per task is bounded by the chunked (rows x bucket) slab, not
    the bucket squared."""
    import numpy as np
    import pandas as pd

    chunk_cells = 4_000_000

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["vec"]), dtype=np.float64)
        nrm = pdf["nrm"].to_numpy(dtype=np.float64)
        zero = nrm == 0
        matn = mat / np.where(zero, 1.0, nrm)[:, None]
        out_a, out_b, out_c = [], [], []
        step = max(1, chunk_cells // max(len(ids), 1))
        for s in range(0, len(ids), step):
            cos = matn[s : s + step] @ matn.T
            cos[zero[s : s + step], :] = 0.0
            cos[:, zero] = 0.0
            keep = (cos >= threshold) & (ids[s : s + step, None] < ids[None, :])
            bi, aj = np.nonzero(keep)
            out_a.append(ids[s + bi])
            out_b.append(ids[aj])
            out_c.append(np.round(cos[bi, aj], 6))
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    return (
        bucketed.select("table", "bucket", "id", "vec", "nrm")
        .groupBy("table", "bucket")
        .applyInPandas(score, schema="id_a long, id_b long, cosine double")
        .distinct()
    )


def all_pairs_cosine(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "lsh",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= t).

    The DEFAULT is the scale-safe tier: ``strategy='lsh'`` ->
    :func:`lsh_near_duplicates` — bucketed candidate generation that
    never leaves the executors (approximate: recall < 1 for pairs no
    hyperplane band agrees on). The EXACT tiers are opt-in and
    bounded-corpora only, because both materialize the corpus
    driver-side or as a broadcast (VERDICT r4 item #3):

    'numpy': broadcast the corpus as a normalized matrix and compute
    each partition's block-vs-all dot products as one matmul — ~30x the
    per-pair SQL expression. 'sql' keeps everything in Catalyst
    (norms still precomputed once, not per pair).
    """
    if strategy == "lsh":
        return lsh_near_duplicates(
            corpus, threshold, id_col=id_col, vec_col=vec_col
        )
    c = _prep(corpus, id_col, vec_col, "id", "vec")
    if strategy == "numpy":
        return _all_pairs_cosine_numpy(c, threshold)
    normed = c.select(
        "id",
        F.col("vec").alias("v"),
        F.sqrt(
            F.aggregate(F.col("vec"), F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("nrm"),
    )
    a = normed.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = normed.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.when(F.col("na") * F.col("nb") == 0.0, F.lit(0.0))
            .otherwise(dot_product(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
            .alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def _all_pairs_cosine_numpy(c: DataFrame, threshold: float) -> DataFrame:
    """Arrow blockwise kernel: per-partition block x full-corpus matmul."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    spark = c.sparkSession
    rows = c.collect()
    ids = np.array([r["id"] for r in rows], dtype=np.int64)
    mat = np.array([r["vec"] for r in rows], dtype=np.float64)
    nrm = np.sqrt((mat * mat).sum(axis=1))
    safe = np.where(nrm == 0, 1.0, nrm)
    matn = mat / safe[:, None]
    bc = spark.sparkContext.broadcast((ids, matn, nrm == 0))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_mat, all_zero = bc.value
        for pdf in batches:
            b_ids = pdf["id"].to_numpy(dtype=np.int64)
            b_mat = np.array(list(pdf["vec"]), dtype=np.float64)
            b_nrm = np.sqrt((b_mat * b_mat).sum(axis=1))
            b_zero = b_nrm == 0
            b_matn = b_mat / np.where(b_zero, 1.0, b_nrm)[:, None]
            cos = b_matn @ all_mat.T
            cos[b_zero, :] = 0.0
            cos[:, all_zero] = 0.0
            keep = (cos >= threshold) & (b_ids[:, None] < all_ids[None, :])
            bi, aj = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "id_a": b_ids[bi],
                    "id_b": all_ids[aj],
                    "cosine": np.round(cos[bi, aj], 6),
                }
            )

    return c.mapInPandas(scan, schema="id_a long, id_b long, cosine double")


# --- IVF index persistence (ANN serving path) ---------------------------------


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    centroid_stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize an IVF index on disk: normalized vectors partitioned
    by ``list_id`` (``<path>/lists``) plus the tiny centroid table
    (``<path>/centroids``).

    ``partitionBy(list_id)`` is the load-bearing choice: each inverted
    list becomes its own directory, so a probe that needs n_probe lists
    reads n_probe/n_lists of the index — DIRECTORY-level pruning the
    file index applies before a single row is read. Norms are computed
    once at build time and stored (parquet round-trips doubles
    bit-exactly), so serving never re-folds the vectors.
    """
    centroids, assign = ivf_assignments(corpus, centroid_stride, id_col, vec_col)
    indexed = _prep_normed(corpus, id_col, vec_col, "vid", "vec", "nrm").join(
        assign, "vid"
    )
    indexed.write.mode("overwrite").partitionBy("list_id").parquet(f"{path}/lists")
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_probe_read(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Serve ANN from a persisted IVF index: rank centroids per query
    (broadcast of the tiny centroid table), collect the union of
    probed ``list_id``s (bounded by n_probe x |queries|), and read
    ONLY those partitions — the literal ``isin`` predicate prunes at
    the file index, so the scan's PartitionFilters (not a post-scan
    filter) bound I/O. Returns (query_id, neighbor_id, cosine, rank),
    identical to ``ivf_topk`` on the same corpus/parameters.
    """
    centroids = spark.read.parquet(f"{path}/centroids")
    q = _prep_normed(queries, id_col, vec_col, "query_id", "q_vec", "q_nrm")
    wq = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("centroid_id"))
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "q_vec",
            "q_nrm",
            "centroid_id",
            _cos("q_vec", "c_vec", "q_nrm", "c_nrm").alias("sim"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "q_vec", "q_nrm", F.col("centroid_id").alias("list_id"))
    )
    # Localize, not cache: the probe table is serving-batch-sized
    # (|queries| x n_probe) and feeds both the list_id collection and
    # the broadcast join — a LocalRelation costs no cache entry and
    # no second computation of the centroid-ranking window.
    probe_rows = probes.collect()
    probes = spark.createDataFrame(probe_rows, schema=probes.schema)
    lids = sorted({r["list_id"] for r in probe_rows})
    lists = (
        spark.read.parquet(f"{path}/lists")
        .filter(F.col("list_id").isin(lids))
        .select("list_id", F.col("vid").alias("neighbor_id"),
                F.col("vec").alias("n_vec"), F.col("nrm").alias("n_nrm"))
    )
    pairs = lists.join(F.broadcast(probes), "list_id")
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    out = (
        pairs.select(
            "query_id",
            "neighbor_id",
            _cos("q_vec", "n_vec", "q_nrm", "n_nrm").alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    return out


# ---------------------------------------------------------------------------
# Product quantization (PQ): the compressed-vector ANN tier.
# ---------------------------------------------------------------------------


def pq_codebooks(
    corpus: DataFrame,
    n_subspaces: int = 4,
    n_centroids: int = 8,
    centroid_stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: split the vector into
    ``n_subspaces`` contiguous blocks; each subspace's codebook is the
    corresponding sub-vectors of the first ``n_centroids`` id-stride
    rows (``id % stride == 0 AND id < stride * n_centroids``) — the
    same RNG-free centroid convention as the IVF tier, bounded by
    construction regardless of corpus size.

    The return value is driver-side on purpose: a codebook is
    ``n_subspaces * n_centroids`` sub-vectors (KBs even at 256x256),
    and shipping it as LITERAL arrays keeps both the encoder and the
    ADC scorer pure per-row projections — zero joins, zero shuffles,
    fully inside Catalyst.
    """
    rows = (
        corpus.filter(
            (F.col(id_col) % centroid_stride == 0)
            & (F.col(id_col) < centroid_stride * n_centroids)
        )
        .select(F.col(id_col).alias("cid"), F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy("cid")
        .collect()
    )
    if len(rows) < n_centroids:
        raise ValueError(
            f"pq_codebooks: corpus has only {len(rows)} rows matching the "
            f"id-stride centroid convention (id % {centroid_stride} == 0, "
            f"id < {centroid_stride * n_centroids}); need {n_centroids}. "
            "Lower centroid_stride/n_centroids or re-key the corpus."
        )
    dim = len(rows[0]["v"])
    if dim % n_subspaces != 0:
        raise ValueError(
            f"pq_codebooks: vector dim {dim} is not divisible by "
            f"n_subspaces={n_subspaces}; trailing dims would be silently "
            "dropped from codes and ADC reconstruction would null-pad "
            "against full-length query vectors."
        )
    sub = dim // n_subspaces
    return [
        [list(r["v"][j * sub : (j + 1) * sub]) for r in rows]
        for j in range(n_subspaces)
    ]


def _lit_matrix(m: list[list[float]]):
    return F.array(*[F.array(*[F.lit(float(x)) for x in row]) for row in m])


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``n_subspaces`` small codes: per subspace,
    the index of the L2-nearest codebook entry (first-minimum =
    lowest centroid index on ties).

    Pure map — each row scans the literal codebook with array
    expressions; 64 float dims become (say) 4 bytes of codes, a 64x
    shuffle/storage reduction, which is what makes billion-vector
    rescoring feasible. Output: (id, vec, code_0..code_{m-1}).
    """
    sub = len(codebooks[0][0])
    v = F.col(vec_col).cast("array<double>")
    cols = [F.col(id_col).alias("vec_id"), v.alias("vec")]
    for j, cb in enumerate(codebooks):
        s = F.slice(v, j * sub + 1, sub)
        dists = F.transform(
            _lit_matrix(cb),
            lambda c: F.aggregate(
                F.zip_with(s, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        code = F.array_position(dists, F.array_min(dists)) - 1
        cols.append(code.cast("int").alias(f"code_{j}"))
    return corpus.select(*cols)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_subspaces: int = 4,
    n_centroids: int = 8,
    centroid_stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    strategy: str = "recon",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the corpus is
    scored against exact query vectors through its RECONSTRUCTED
    vectors (concatenated codebook entries), so distance quality
    degrades only by quantization error while the corpus side never
    touches the original floats after encoding.

    Plan: encode (map) -> crossJoin(broadcast(queries)) -> per-row
    squared-L2 against the reconstruction (map) -> per-query window
    top-k. One scan, one broadcast, one bounded shuffle for the rank —
    the same shape as ``brute_force_topk`` but with the corpus payload
    shrunk from d floats to m codes.

    ``strategy='lut'`` is the production ADC trick: each query
    precomputes its per-subspace distance table (n_subspaces x
    n_centroids doubles, materialized ONCE in the broadcast relation),
    and the per-pair score collapses to m table lookups + m adds
    instead of d multiplies — a ~(d/m)x FLOP cut on the corpus-sized
    hot loop. Per-subspace partial distances are summed in subspace
    order, which can differ from the recon strategy's element-order
    fold by float rounding in the last ulp; rankings agree except on
    exact ADC ties, so the ORACLE-paired query pins 'recon' and the
    equivalence is pytest-pinned instead.

    Returns (query_id, neighbor_id, adc_dist, rank); rank 1 = nearest,
    ties broken by neighbor id.
    """
    if strategy not in ("recon", "lut"):
        raise ValueError(f"unknown pq_topk strategy: {strategy!r}")
    codebooks = pq_codebooks(
        corpus, n_subspaces, n_centroids, centroid_stride, id_col, vec_col
    )
    enc = pq_encode(corpus, codebooks, id_col, vec_col)
    sub = len(codebooks[0][0])
    q_vec = F.col(vec_col).cast("array<double>")
    if strategy == "recon":
        recon = F.concat(
            *[
                F.element_at(_lit_matrix(cb), F.col(f"code_{j}") + 1)
                for j, cb in enumerate(codebooks)
            ]
        )
        enc = enc.select(
            F.col("vec_id").alias("neighbor_id"), recon.alias("recon_vec")
        )
        q = queries.select(
            F.col(id_col).alias("query_id"), q_vec.alias("q_vec")
        )
        pairs = enc.crossJoin(F.broadcast(q))
        adc = F.aggregate(
            F.zip_with(
                F.col("q_vec"), F.col("recon_vec"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    else:
        # Per-query LUT: lut_j[c] = ||q_sub_j - codebook_j[c]||^2,
        # computed on the (tiny) query side so the broadcast ships
        # materialized tables, never the formula.
        lut_cols = [F.col(id_col).alias("query_id")]
        for j, cb in enumerate(codebooks):
            s = F.slice(q_vec, j * sub + 1, sub)
            lut_cols.append(
                F.transform(
                    _lit_matrix(cb),
                    lambda c: F.aggregate(
                        F.zip_with(s, c, lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                ).alias(f"lut_{j}")
            )
        q = queries.select(*lut_cols)
        enc = enc.select(
            F.col("vec_id").alias("neighbor_id"),
            *[F.col(f"code_{j}") for j in range(len(codebooks))],
        )
        pairs = enc.crossJoin(F.broadcast(q))
        adc = None
        for j in range(len(codebooks)):
            term = F.element_at(F.col(f"lut_{j}"), F.col(f"code_{j}") + 1)
            adc = term if adc is None else adc + term
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        pairs.select("query_id", "neighbor_id", adc.alias("adc_dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    ivf_stride: int = 50,
    n_subspaces: int = 4,
    n_centroids: int = 8,
    pq_stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-PQ: the production billion-vector ANN shape (FAISS IVFPQ).
    IVF bounds WHICH rows are scored (each query touches only its
    n_probe inverted lists, ~n_probe/n_lists of the corpus) and PQ
    bounds WHAT is scored (m codes instead of d floats), so scan cost
    and memory shrink independently.

    Plan: one corpus pass computes both the IVF assignment (broadcast
    stride-centroid argmax, whole-stage-codegen cosine — NOT the
    literal-bound assignment of the build path, which was measured 3x
    slower online once the centroid table grows past ~dozens of rows)
    and the PQ reconstruction (literal-codebook map); queries rank
    centroids against the same broadcast; the probe table joins
    candidates by ``list_id`` (broadcast, |queries| x n_probe rows);
    ADC + per-query window top-k. At scale the lists are the
    bucketing key (see ``write_ivfpq_index``) and the probe join
    prunes partitions before any distance math.

    Returns (query_id, neighbor_id, adc_dist, rank).
    """
    centroids, assign = ivf_assignments(corpus, ivf_stride, id_col, vec_col)
    codebooks = pq_codebooks(
        corpus, n_subspaces, n_centroids, pq_stride, id_col, vec_col
    )
    recon = F.concat(
        *[
            F.element_at(_lit_matrix(cb), F.col(f"code_{j}") + 1)
            for j, cb in enumerate(codebooks)
        ]
    )
    enc = (
        pq_encode(corpus, codebooks, id_col, vec_col)
        .select(F.col("vec_id").alias("neighbor_id"), recon.alias("recon_vec"))
        .join(assign.withColumnRenamed("vid", "neighbor_id"), "neighbor_id")
    )
    q = _prep_normed(queries, id_col, vec_col, "query_id", "q_vec", "q_nrm")
    wq = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("centroid_id"))
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "q_vec",
            "centroid_id",
            _cos("q_vec", "c_vec", "q_nrm", "c_nrm").alias("sim"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "q_vec", F.col("centroid_id").alias("list_id"))
    )
    pairs = enc.join(F.broadcast(probes), "list_id")
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    adc = F.aggregate(
        F.zip_with(F.col("q_vec"), F.col("recon_vec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        pairs.select("query_id", "neighbor_id", adc.alias("adc_dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _centroid_assign_expr(cent_rows, vec_colname: str = "vec"):
    """Nearest-centroid ``list_id`` as a pure literal expression over a
    row's vector column: same cosine fold order and zero-norm handling
    as ``ivf_assignments`` (bit-identical sims), ties to the lowest
    centroid_id via first-maximum over the id-sorted literal array.
    ``cent_rows`` must be sorted by centroid_id and carry
    (centroid_id, c_vec, c_nrm).

    Trade: O(n_centroids * d) INTERPRETED work per row (array folds sit
    outside codegen) vs the crossJoin+window assignment's codegen
    cosine + shuffle. Right for the build/ingest path, where joinless
    robustness matters (the enc-join-assign self-join crashes Catalyst
    on union/withColumn lineage), and for streaming, where windows and
    joins aren't available per-row; the ONLINE batch path
    (``ivfpq_topk``) uses the crossJoin plan instead (measured 3x
    faster there once the centroid table passes ~dozens of rows).

    Shape matters: ONE ``zip_with`` lambda over a single 2D literal
    (not n_centroids separate fold expressions — that version built
    MB-scale plans that streaming re-optimized per micro-batch), and
    the row norm is LET-BOUND via the transform(array(..)) idiom so it
    folds once per row, not once per centroid."""
    cmat = F.array(
        *[F.array(*[F.lit(float(x)) for x in r["c_vec"]]) for r in cent_rows]
    )
    cnrms = F.array(*[F.lit(float(r["c_nrm"])) for r in cent_rows])
    cids = F.array(*[F.lit(int(r["centroid_id"])) for r in cent_rows])
    v = F.col(vec_colname)

    def pick(nrm):
        sims = F.zip_with(
            cmat,
            cnrms,
            lambda c, n: F.when(nrm * n == 0.0, F.lit(0.0)).otherwise(
                dot_product(v, c) / (nrm * n)
            ),
        )
        return F.element_at(
            cids, F.array_position(sims, F.array_max(sims)).cast("int")
        )

    return F.element_at(F.transform(F.array(l2_norm(v)), pick), 1)


def centroid_assign(
    df: DataFrame,
    cent_rows,
    vec_col: str = "vec",
    strategy: str = "arrow",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Nearest-centroid assignment: ``keep_cols + (list_id int)``.

    ``strategy='arrow'`` (default) is the hot-path kernel: a
    ``mapInPandas`` batch loop whose dot product and norm accumulate
    PER DIMENSION, LEFT TO RIGHT — the exact IEEE operation sequence of
    the Catalyst fold (``dot_product``/``l2_norm``) — so every cosine
    is BIT-IDENTICAL to the expression tier and the argmax (numpy
    first-maximum == ``array_position`` first-match, centroids sorted
    by id) can never flip on ties, by construction rather than by
    luck. ~d vectorized FMAs per batch instead of d interpreted
    lambda steps per ROW: the interpreted fold chain was q104's whole
    cost at sf0.1 (VERDICT r4 #5). Works on streaming DataFrames
    (stateless Arrow map).

    ``strategy='expr'`` is the pure-Catalyst literal fold
    (:func:`_centroid_assign_expr`) — zero Python, right when a plan
    must stay expression-only (e.g. composed into further lambda
    projections where a Python stage would block pushdown).
    """
    if strategy == "expr":
        return df.select(
            *keep_cols, _centroid_assign_expr(cent_rows, vec_col).alias("list_id")
        )
    if strategy != "arrow":
        raise ValueError(f"unknown strategy {strategy!r}")
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    C = np.array([list(r["c_vec"]) for r in cent_rows], dtype=np.float64)
    cn = np.array([float(r["c_nrm"]) for r in cent_rows], dtype=np.float64)
    ids = np.array([int(r["centroid_id"]) for r in cent_rows], dtype=np.int64)
    keep = list(keep_cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            n, d = V.shape
            dot = np.zeros((n, len(ids)))
            nrm2 = np.zeros(n)
            # dimension-at-a-time: dot_j = ((0 + v0*c0) + v1*c1) + ...
            # exactly the Catalyst fold's addition order
            for i in range(d):
                dot += V[:, i : i + 1] * C[:, i][None, :]
                nrm2 += V[:, i] * V[:, i]
            denom = np.sqrt(nrm2)[:, None] * cn[None, :]
            sims = np.where(denom == 0.0, 0.0, dot / np.where(denom == 0.0, 1.0, denom))
            out = pdf[keep].copy() if keep else pd.DataFrame(index=pdf.index)
            out["list_id"] = ids[np.argmax(sims, axis=1)].astype(np.int32)
            yield out

    in_schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    schema = ", ".join(
        [f"{c} {in_schema[c]}" for c in keep] + ["list_id int"]
    )
    return df.mapInPandas(run, schema=schema)


def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    ivf_stride: int = 50,
    n_subspaces: int = 4,
    n_centroids: int = 8,
    pq_stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize an IVF-PQ index: per-row PQ codes partitioned by
    IVF ``list_id`` (``<path>/lists``), the centroid table
    (``<path>/centroids``), and the codebooks (``<path>/codebooks``,
    one row per (subspace, centroid_index)).

    The stored lists carry ONLY (id, code_0..code_{m-1}) — m small
    ints per vector. That is the 100 TB contract: the float corpus is
    read exactly once (at build), and every probe afterwards reads a
    directory-pruned subset of a codes-only table 16-64x smaller than
    the raw vectors.

    Codes AND list assignment are computed in one joinless projection:
    the centroid table is literal-bound (it is bounded by the same
    serving contract that broadcasts it on every probe), which both
    keeps the build a single map stage and sidesteps a Catalyst
    self-join attribute-dedup failure on corpora with union/withColumn
    lineage (lambda-bound attributes inside the PQ expressions).
    """
    centroids, _ = ivf_assignments(corpus, ivf_stride, id_col, vec_col)
    cent_rows = sorted(centroids.collect(), key=lambda r: r["centroid_id"])
    codebooks = pq_codebooks(
        corpus, n_subspaces, n_centroids, pq_stride, id_col, vec_col
    )
    enc = pq_encode(corpus, codebooks, id_col, vec_col)
    (
        enc.withColumn("list_id", _centroid_assign_expr(cent_rows))
        .drop("vec")
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(f"{path}/lists")
    )
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    spark = corpus.sparkSession
    cb_rows = [
        (j, c, codebooks[j][c])
        for j in range(len(codebooks))
        for c in range(len(codebooks[j]))
    ]
    spark.createDataFrame(
        cb_rows, "subspace int, centroid int, vec array<double>"
    ).write.mode("overwrite").parquet(f"{path}/codebooks")


def ivfpq_probe_read(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Serve ANN from a persisted IVF-PQ index: rank centroids per
    query (broadcast), read ONLY the probed list partitions
    (directory-level pruning, like ``ivf_probe_read``), and score via
    per-query LUTs built from the stored codebooks — the serving path
    never touches a full-precision corpus vector.

    Returns (query_id, neighbor_id, adc_dist, rank), identical to
    ``ivfpq_topk`` up to float association of the LUT sum (rankings
    agree; see ``pq_topk`` strategy notes).
    """
    centroids = spark.read.parquet(f"{path}/centroids")
    cb_rows = spark.read.parquet(f"{path}/codebooks").collect()
    n_sub = 1 + max(r["subspace"] for r in cb_rows)
    codebooks = [
        [list(r["vec"]) for r in sorted(
            (r for r in cb_rows if r["subspace"] == j),
            key=lambda r: r["centroid"],
        )]
        for j in range(n_sub)
    ]
    sub = len(codebooks[0][0])
    q = _prep_normed(queries, id_col, vec_col, "query_id", "q_vec", "q_nrm")
    wq = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("centroid_id"))
    lut_cols = ["query_id"]
    for j, cb in enumerate(codebooks):
        s = F.slice(F.col("q_vec"), j * sub + 1, sub)
        lut_cols.append(
            F.transform(
                _lit_matrix(cb),
                lambda c: F.aggregate(
                    F.zip_with(s, c, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
            ).alias(f"lut_{j}")
        )
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "q_vec",
            "centroid_id",
            _cos("q_vec", "c_vec", "q_nrm", "c_nrm").alias("sim"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select(*lut_cols, F.col("centroid_id").alias("list_id"))
    )
    # Localize (serving-batch-sized), exactly like ivf_probe_read.
    probe_rows = probes.collect()
    probes = spark.createDataFrame(probe_rows, schema=probes.schema)
    lids = sorted({r["list_id"] for r in probe_rows})
    lists = (
        spark.read.parquet(f"{path}/lists")
        .filter(F.col("list_id").isin(lids))
        .select(
            "list_id",
            F.col("vec_id").alias("neighbor_id"),
            *[F.col(f"code_{j}") for j in range(n_sub)],
        )
    )
    pairs = lists.join(F.broadcast(probes), "list_id")
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    adc = None
    for j in range(n_sub):
        term = F.element_at(F.col(f"lut_{j}"), F.col(f"code_{j}") + 1)
        adc = term if adc is None else adc + term
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        pairs.select("query_id", "neighbor_id", adc.alias("adc_dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivfpq_index_append(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add a batch to a persisted IVF-PQ index: encode
    with the STORED codebooks, assign against the STORED centroids,
    and append only the new rows' list partitions.

    This is the ingest path a growing corpus needs — the existing
    index is never re-read or re-written (parquet append touches only
    the affected list_id directories), and the whole batch transform
    is ONE projection: codes and list assignment both come from
    literal tables (the centroid table is bounded by the same
    serving contract that broadcasts it on every probe), so there is
    no join at all — the same zero-shuffle shape as ``pq_encode``.
    Centroids/codebooks stay frozen (standard IVF-PQ practice:
    retrain/rebuild only on drift — q88's monitor is the trigger
    signal).
    """
    cent_rows = sorted(
        spark.read.parquet(f"{path}/centroids").collect(),
        key=lambda r: r["centroid_id"],
    )
    cb_rows = spark.read.parquet(f"{path}/codebooks").collect()
    n_sub = 1 + max(r["subspace"] for r in cb_rows)
    codebooks = [
        [list(r["vec"]) for r in sorted(
            (r for r in cb_rows if r["subspace"] == j),
            key=lambda r: r["centroid"],
        )]
        for j in range(n_sub)
    ]
    enc = pq_encode(batch, codebooks, id_col, vec_col)
    (
        enc.withColumn("list_id", _centroid_assign_expr(cent_rows))
        .drop("vec")
        .write.mode("append")
        .partitionBy("list_id")
        .parquet(f"{path}/lists")
    )


# ------------------------------------------------------------------ PCA
def gram_sums(
    emb: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Upper-triangle Gram matrix sums ``(i, j, g)`` with
    ``g = sum over rows of v[i]*v[j]`` (j >= i), decimal-accumulated.

    THE sufficient statistic of PCA (with the mean vector) — the only
    corpus-sized pass the whole decomposition needs. Dataflow: double
    posexplode to ``(i, j, v_i*v_j)`` cells, one keyed aggregation;
    map-side combine collapses each partition to d(d+1)/2 partial
    rows, so the shuffle carries ~2k rows per partition at d=64 no
    matter how many vectors scanned. The d x d result is driver-sized
    at any corpus scale (the RELIEF-fit pattern: distributed
    sufficient stats, driver-sized spectral step).
    """
    dec = "decimal(38,18)"
    v = emb.select(F.col(vec_col).cast("array<double>").alias("v"))
    cells = (
        v.select(F.posexplode("v").alias("i", "vi"), "v")
        .select("i", "vi", F.posexplode("v").alias("j", "vj"))
        .filter(F.col("j") >= F.col("i"))
    )
    return cells.groupBy("i", "j").agg(
        F.sum((F.col("vi") * F.col("vj")).cast(dec)).cast(dec).alias("g")
    )


def pca_project(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project vectors onto their top-``k`` principal components.

    Fit: ONE distributed pass collects the mean vector and the
    ``gram_sums`` upper triangle (d + d(d+1)/2 driver-sized cells);
    the covariance eigendecomposition runs on the driver with numpy
    (d x d — microseconds at any corpus size). Components are
    sign-fixed (largest-|coefficient| entry positive) so the output
    is deterministic despite eigenvector sign ambiguity. Transform:
    components become LITERAL arrays in a pure-Catalyst
    zip_with/aggregate dot product — no join, no shuffle, no Python
    in the row path (the PQ-codebook discipline, simsearch.py).
    Returns ``(id, pc_0 .. pc_{k-1})``.
    """
    import numpy as np

    dec = "decimal(38,18)"
    d = len(emb.select(vec_col).first()[0])
    sums = emb.select(
        F.count("*").alias("n"),
        *[
            F.sum(F.col(vec_col)[i].cast(dec)).cast(dec).alias(f"s{i}")
            for i in range(d)
        ],
    ).first()
    n = sums["n"]
    mu = np.array([float(sums[f"s{i}"]) for i in range(d)]) / n
    g = np.zeros((d, d))
    for r in gram_sums(emb, vec_col).collect():
        g[r.i, r.j] = g[r.j, r.i] = float(r.g)
    cov = (g - n * np.outer(mu, mu)) / (n - 1)
    eigval, eigvec = np.linalg.eigh(cov)
    order = np.argsort(eigval)[::-1][:k]
    comps = eigvec[:, order].T  # k x d
    for c in comps:  # deterministic sign: largest-|coef| entry positive
        if c[np.argmax(np.abs(c))] < 0:
            c *= -1.0

    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"),
        F.array(*[F.lit(float(x)) for x in mu]),
        lambda a, b: a - b,
    )
    out = emb.select(F.col(id_col).alias("id"), centered.alias("_c"))
    for ci, comp in enumerate(comps):
        lit = F.array(*[F.lit(float(x)) for x in comp])
        out = out.withColumn(
            f"pc_{ci}",
            F.aggregate(
                F.zip_with(F.col("_c"), lit, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
    return out.drop("_c")
