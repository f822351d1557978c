"""ReliefFSelector — the pipeline-API surface of the engine.

Mirrors the reference's Estimator/Model pair
(ReliefFRSelector.scala:173-174, 782-786) with the full param surface
(:84-165) and params-JSON + data persistence (:854-881, here via
pyspark's DefaultParamsWritable — same layout: metadata JSON + params).

Differences from the reference, by design (SURVEY §8):
  * deterministic, partition-invariant results for a given seed (the
    reference's goldens change with parallelism, TestHelper.scala:118);
  * input may be an ml Vector column OR a plain array<double> column;
  * transform slices with Catalyst expressions (no row UDF, no
    densified vector), reference uses a Vector=>Vector udf
    (ReliefFRSelector.scala:815-818);
  * model metadata reflects the selection actually applied (the
    reference's metadata/data mismatch is a defect, SURVEY §8.7).
"""

from __future__ import annotations

from pyspark import keyword_only
from pyspark.ml import Estimator, Model
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.ml.linalg import VectorUDT
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.param.shared import HasInputCol, HasLabelCol, HasOutputCol, HasSeed
from pyspark.ml.util import DefaultParamsReadable, DefaultParamsWritable
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_relieffc_fselection_spark.operators.relief import (
    _check_fit_modes,
    _draw_sample,
    dual_ranking,
    fit_relief,
)
from spark_relieffc_fselection_spark.operators.relief_sparse import fit_relief_sparse


class _ReliefFParams(HasInputCol, HasOutputCol, HasLabelCol, HasSeed):
    """Param surface of ReliefFRSelector.scala:84-165."""

    numTopFeatures = Param(
        Params._dummy(), "numTopFeatures",
        "Number of features to select (reference default 10).",
        typeConverter=TypeConverters.toInt,
    )
    numNeighbors = Param(
        Params._dummy(), "numNeighbors",
        "Neighbors per class: k = numNeighbors * nClasses (reference :98-101).",
        typeConverter=TypeConverters.toInt,
    )
    estimationRatio = Param(
        Params._dummy(), "estimationRatio",
        "Fraction of the dataset sampled to estimate weights (reference :104-112).",
        typeConverter=TypeConverters.toFloat,
    )
    batchSize = Param(
        Params._dummy(), "batchSize",
        "Fraction of the sample per batch (reference :114-122).",
        typeConverter=TypeConverters.toFloat,
    )
    lowerFeatureThreshold = Param(
        Params._dummy(), "lowerFeatureThreshold",
        "Redundancy search space = threshold * numTopFeatures (reference :125-133).",
        typeConverter=TypeConverters.toFloat,
    )
    lowerDistanceThreshold = Param(
        Params._dummy(), "lowerDistanceThreshold",
        "Collision threshold fraction of the 6-sigma range; deterministic "
        "6*(1-t), de-randomized vs reference :431 (SURVEY §8.3).",
        typeConverter=TypeConverters.toFloat,
    )
    redundancyRemoval = Param(
        Params._dummy(), "redundancyRemoval",
        "Apply collision-based redundancy in selection (reference :144-152).",
        typeConverter=TypeConverters.toBoolean,
    )
    discreteData = Param(
        Params._dummy(), "discreteData",
        "All-discrete features (integer codes stored as doubles, "
        "reference :154-164); continuous raw data can be prepared with "
        "ml.discretizer.quantile_discretize (the engine's stand-in for "
        "the reference's spark-MDLP-discretization companion, "
        "pom.xml:30-35). Continuous data must be standardized.",
        typeConverter=TypeConverters.toBoolean,
    )
    knnStrategy = Param(
        Params._dummy(), "knnStrategy",
        "'sql' (pure DataFrame), 'numpy' (Arrow blockwise kernel), "
        "'numpy-gemm' (BLAS expansion — exact for integer/discretized "
        "coordinates), 'lsh' (approximate multi-table sign-LSH "
        "candidate pruning for very large corpora), or 'auto' (picks "
        "numpy, numpy-gemm or lsh by the per-batch distance volume; "
        "resolvedKnnStrategy records the pick). Dense route only; "
        "still validated on the sparse route.",
        typeConverter=TypeConverters.toString,
    )
    batching = Param(
        Params._dummy(), "batching",
        "'random' (the reference's engine-seeded randomSplit, "
        "ReliefFRSelector.scala:252 — the default) or 'hash' "
        "(deterministic id%%n split: same disjoint-cover role, but "
        "re-run-stable and cross-engine reproducible — the mode the "
        "q72c full-fit oracle gates).",
        typeConverter=TypeConverters.toString,
    )
    lshProbeRadius = Param(
        Params._dummy(), "lshProbeRadius",
        "Multiprobe Hamming radius of the approximate kNN tier (only "
        "consulted when the fit runs strategy 'lsh', pinned or via "
        "'auto' escalation): 1 = each single-bit bucket flip (default; "
        "recall ~0.70 on continuous data at auto-sized tables), 2 = "
        "adds every 2-bit flip (measured recall 0.96 at ~1.5x the "
        "radius-1 wall, SCALE.md) — the cheapest escalation, "
        "broadcast-side only.",
        typeConverter=TypeConverters.toInt,
    )
    lshTables = Param(
        Params._dummy(), "lshTables",
        "Hash-table count of the approximate kNN tier; 0 (default) = "
        "auto-size to cover the feature coordinates (auto_lsh_tables). "
        "The second escalation knob next to lshProbeRadius: extra "
        "tables re-hash the SCAN side (corpus-sized cost), so raise the "
        "probe radius first. Only consulted when the fit runs strategy "
        "'lsh'.",
        typeConverter=TypeConverters.toInt,
    )
    sparseKnnProbe = Param(
        Params._dummy(), "sparseKnnProbe",
        "Ignored. It chose between the sparse route's former norm "
        "probe and norms grid; the sparse route now runs one exact kNN "
        "plan (sparse_knn_join). Kept, with its values 'auto' "
        "(default), 'probe' and 'grid', so pipelines saved with it "
        "still load; any other value still raises.",
        typeConverter=TypeConverters.toString,
    )
    samplingMode = Param(
        Params._dummy(), "samplingMode",
        "'engine' (the reference's engine-seeded Bernoulli sample, "
        "ReliefFRSelector.scala:223 — the default) or 'hash' (the "
        "portable md5-uniform draw, operators/sampling.hash_uniform: "
        "same uniform law, but a pure function of the row id — "
        "re-run-stable and cross-engine replayable, the mode the q72d "
        "sampled-fit oracle gates). Only consulted when "
        "estimationRatio < 1.",
        typeConverter=TypeConverters.toString,
    )

    def __init__(self) -> None:
        super().__init__()
        self._setDefault(
            numTopFeatures=10, numNeighbors=10, estimationRatio=0.25,
            batchSize=0.25, lowerFeatureThreshold=3.0,
            lowerDistanceThreshold=0.8, redundancyRemoval=False,
            discreteData=False, seed=12345, knnStrategy="numpy",
            batching="random", samplingMode="engine", lshProbeRadius=1,
            lshTables=0, sparseKnnProbe="auto",
            inputCol="features", outputCol="selectedFeatures", labelCol="label",
        )


class ReliefFSelector(
    Estimator, _ReliefFParams, DefaultParamsWritable, DefaultParamsReadable
):
    """Distributed RELIEF-F + collision-redundancy feature selector."""

    @keyword_only
    def __init__(self, **kwargs) -> None:
        super().__init__()
        self._set(**kwargs)

    @keyword_only
    def setParams(self, **kwargs) -> "ReliefFSelector":
        return self._set(**kwargs)

    def _fit(self, dataset: DataFrame) -> "ReliefFSelectorModel":
        # validate every enum/range Param up front and on BOTH routes,
        # before the sparsity sniff's Spark job — a typo'd value must
        # fail loudly, not as a KeyError mid-fit or a silent no-op on
        # the route that doesn't consult it
        _check_fit_modes(
            self.getOrDefault(self.knnStrategy),
            self.getOrDefault(self.batching),
            self.getOrDefault(self.samplingMode),
        )
        probe_mode = self.getOrDefault(self.sparseKnnProbe)
        if probe_mode not in ("auto", "probe", "grid"):
            raise ValueError(f"unknown sparseKnnProbe mode {probe_mode!r}")
        if self.getOrDefault(self.lshTables) < 0:
            raise ValueError(
                f"lshTables must be >= 0 (0 = auto), got "
                f"{self.getOrDefault(self.lshTables)}"
            )
        input_col = self.getInputCol()
        is_vector = isinstance(dataset.schema[input_col].dataType, VectorUDT)
        if is_vector:
            # Sparsity is sniffed from the first row, exactly like the
            # reference (ReliefFRSelector.scala:210-212). Sparse inputs
            # take the long/COO dataflow — never densified, which is
            # what keeps "millions of features" (README.md:11, kddb)
            # tractable: a dense array row would be nFeat doubles.
            from pyspark.ml.linalg import SparseVector

            first_row = dataset.select(input_col).first()
            if first_row is not None and isinstance(first_row[0], SparseVector):
                return self._fit_sparse(dataset, first_row[0].size)
        feat = (
            vector_to_array(F.col(input_col)).cast("array<double>")
            if is_vector
            else F.col(input_col).cast("array<double>")
        )
        # cache BEFORE fit: fit_relief runs many actions, and
        # monotonically_increasing_id must not be re-evaluated against a
        # potentially different row-to-partition layout each time — the
        # cache pins the id assignment. The columns keep the user's
        # names, so the fit's errors name them too.
        label_col = self.getLabelCol()
        prepared = dataset.select(
            F.monotonically_increasing_id().alias("__rid"),
            feat.alias(input_col),
            F.col(label_col).cast("double").alias(label_col),
        ).cache()
        try:
            res = fit_relief(
                prepared,
                id_col="__rid",
                features_col=input_col,
                label_col=label_col,
                **self._fit_kwargs(),
                seed=self.getOrDefault(self.seed),
                knn_strategy=self.getOrDefault(self.knnStrategy),
                batching=self.getOrDefault(self.batching),
                sampling=self.getOrDefault(self.samplingMode),
                lsh_probe_radius=self.getOrDefault(self.lshProbeRadius),
                lsh_tables=self.getOrDefault(self.lshTables) or None,
            )
        finally:
            prepared.unpersist()
        return self._make_model(res)

    def _fit_sparse(self, dataset: DataFrame, n_features: int) -> "ReliefFSelectorModel":
        """Sparse-input fit: unwrap the VectorUDT struct JVM-side
        (``unwrap_udt`` — no Python round-trip, no densification) into
        the long/COO form and run the inverted-index dataflow
        (operators/relief_sparse.py; ReliefFRSelector.scala:483-602
        semantics with corrected feature indexing, SURVEY §8.1).

        Sampling (estimationRatio) is an id filter applied before the
        explode. batchSize participates exactly like the reference's
        sparse path does (ReliefFRSelector.scala:273-275: the batch
        loop with topFeatures feedback); the split is always the
        deterministic id%%n hash mode regardless of the `batching`
        param (fit_relief_sparse has no engine-seeded mode — hash is
        the re-run-stable superset of what the loop needs, and the
        memory rationale differs too: there is no dense (nFeat+2)-wide
        broadcast to guard here, so batching buys only the semantics).
        """
        u = F.unwrap_udt(F.col(self.getInputCol()))
        entry = lambda i, v: F.struct(  # noqa: E731
            i.cast("int").alias("f"), v.alias("v")
        )
        entries = (
            F.when(
                u.getField("type") == 0,
                F.zip_with(u.getField("indices"), u.getField("values"), entry),
            ).otherwise(
                F.zip_with(
                    F.sequence(F.lit(0), F.size(u.getField("values")) - 1),
                    u.getField("values"),
                    entry,
                )
            )
        )
        # cache pins the monotonically_increasing_id assignment across
        # the fit's many actions, exactly like the dense path.
        base = dataset.select(
            F.monotonically_increasing_id().alias("id"),
            entries.alias("__entries"),
            F.col(self.getLabelCol()).cast("double").alias("label"),
        ).cache()
        sample = _draw_sample(
            base,
            self.getOrDefault(self.estimationRatio),
            self.getOrDefault(self.samplingMode),
            self.getOrDefault(self.seed),
        )
        labels = sample.select("id", "label")
        long_df = (
            sample.select("id", F.explode("__entries").alias("e"))
            .select("id", F.col("e.f").alias("feature_idx"), F.col("e.v").alias("value"))
            .filter(F.col("value") != 0.0)
        )
        try:
            res = fit_relief_sparse(
                long_df,
                labels,
                n_features,
                # estimation_ratio declares the upstream sample to the
                # batched loop's jointTotal discount
                **self._fit_kwargs(),
            )
        finally:
            base.unpersist()
        return self._make_model(res)

    def _fit_kwargs(self) -> dict:
        """The fit keywords both routes take from the Params."""
        get = self.getOrDefault
        return dict(
            num_top_features=get(self.numTopFeatures),
            num_neighbors=get(self.numNeighbors),
            estimation_ratio=get(self.estimationRatio),
            batch_size=get(self.batchSize),
            lower_feature_threshold=get(self.lowerFeatureThreshold),
            lower_distance_threshold=get(self.lowerDistanceThreshold),
            redundancy_removal=get(self.redundancyRemoval),
            discrete_data=get(self.discreteData),
        )

    def _make_model(self, res) -> "ReliefFSelectorModel":
        from spark_relieffc_fselection_spark.operators.relief import (
            SparseRelevance,
        )

        common = dict(
            stdSelection=[int(i) for i in res.std_selection],
            redundancySelection=[int(i) for i in res.redundancy_selection],
            resolvedKnnStrategy=res.resolved_knn_strategy,
            fitNBatches=int(res.n_batches),
        )
        if isinstance(res.relevance, SparseRelevance):
            # Keep the model COO like the fit that produced it: iterating
            # a SparseRelevance densifies to n_features floats, which at
            # the kddb width the sparse path exists for (30M features,
            # README.md:11) is a ~600 MB metadata JSON on save. Active
            # entries + the shared absent-feature default carry the same
            # information in O(active).
            active = sorted(res.relevance.data)
            model = ReliefFSelectorModel(
                relevanceActiveIndices=active,
                relevanceActiveValues=[
                    float(res.relevance.data[i]) for i in active
                ],
                relevanceDefault=float(res.relevance.default),
                relevanceNumFeatures=int(res.relevance.n),
                **common,
            )
        else:
            model = ReliefFSelectorModel(
                relevanceWeights=[float(x) for x in res.relevance], **common
            )
        model._resetUid(self.uid)
        return self._copyValues(model)


class ReliefFSelectorModel(
    Model, _ReliefFParams, DefaultParamsWritable, DefaultParamsReadable
):
    """Fitted model: two selections (std RELIEF order, RELIEF+redundancy
    order) + the normalized relevance vector.

    Selections are stored as Params so DefaultParamsWritable persists
    the whole model as metadata JSON — same information layout as the
    reference's params JSON + 1-row parquet (ReliefFRSelector.scala:
    854-881) without a second file.
    """

    stdSelection = Param(
        Params._dummy(), "stdSelection",
        "Feature indices by descending relevance (selection priority order).",
        typeConverter=TypeConverters.toListInt,
    )
    redundancySelection = Param(
        Params._dummy(), "redundancySelection",
        "Feature indices in greedy relevance-vs-redundancy order.",
        typeConverter=TypeConverters.toListInt,
    )
    relevanceWeights = Param(
        Params._dummy(), "relevanceWeights",
        "Min-max normalized relevance per feature index (dense layout; "
        "empty when the fit kept COO driver state — see "
        "relevanceActiveIndices).",
        typeConverter=TypeConverters.toListFloat,
    )
    relevanceActiveIndices = Param(
        Params._dummy(), "relevanceActiveIndices",
        "COO layout (sparse fits past DENSE_RELEVANCE_MAX_FEATURES): "
        "ascending feature indices that were ever active; every other "
        "index takes relevanceDefault. Keeps model metadata O(active) "
        "at kddb-scale declared widths instead of densifying what the "
        "fit deliberately kept sparse.",
        typeConverter=TypeConverters.toListInt,
    )
    relevanceActiveValues = Param(
        Params._dummy(), "relevanceActiveValues",
        "Normalized relevance per relevanceActiveIndices entry "
        "(positionally aligned).",
        typeConverter=TypeConverters.toListFloat,
    )
    relevanceDefault = Param(
        Params._dummy(), "relevanceDefault",
        "Normalized relevance shared by every never-active feature in "
        "the COO layout (raw 0.0 after min-max normalization).",
        typeConverter=TypeConverters.toFloat,
    )
    relevanceNumFeatures = Param(
        Params._dummy(), "relevanceNumFeatures",
        "Declared feature-space width of the COO layout.",
        typeConverter=TypeConverters.toInt,
    )
    selectionSize = Param(
        Params._dummy(), "selectionSize",
        "Truncate the selection to its first N features at transform time "
        "(reference :794-805).",
        typeConverter=TypeConverters.toInt,
    )
    fitNBatches = Param(
        Params._dummy(), "fitNBatches",
        "How many batches the fit ACTUALLY ran (the broadcast-memory "
        "guard can raise it above what batchSize implies) — persisted "
        "with the model so the training dataflow stays auditable next "
        "to resolvedKnnStrategy. 0 = not recorded: models saved before "
        "this Param existed load with the 0 default rather than a "
        "fabricated batch count.",
        typeConverter=TypeConverters.toInt,
    )
    resolvedKnnStrategy = Param(
        Params._dummy(), "resolvedKnnStrategy",
        "The kNN strategy the fit ACTUALLY ran — knnStrategy='auto' "
        "resolves by data volume, and a resolution to 'lsh' means the "
        "model's weights are approximate (fit_relief also warns at "
        "that boundary). 'sparse-inverted' = the exact sparse path. "
        "Persisted with the model: a saved model always records "
        "whether its weights were computed exactly (VERDICT r8 #2).",
        typeConverter=TypeConverters.toString,
    )

    @keyword_only
    def __init__(self, **kwargs) -> None:
        super().__init__()
        self._setDefault(
            stdSelection=[], redundancySelection=[], relevanceWeights=[],
            relevanceActiveIndices=[], relevanceActiveValues=[],
            relevanceDefault=0.0, relevanceNumFeatures=0,
            resolvedKnnStrategy="numpy", fitNBatches=0,
        )
        self._set(**kwargs)

    def selected_indices(self) -> list[int]:
        """Ascending indices actually applied by transform: selection
        priority order defines which features survive truncation, output
        order is ascending index (reference :813; SURVEY §8.8)."""
        sel = (
            self.getOrDefault(self.redundancySelection)
            if self.getOrDefault(self.redundancyRemoval)
            else self.getOrDefault(self.stdSelection)
        )
        if self.isSet(self.selectionSize):
            sel = sel[: self.getOrDefault(self.selectionSize)]
        return sorted(sel)

    def relevance_for(self, idx: int) -> float | None:
        """Normalized relevance of one feature index, whichever layout
        the model stores (dense relevanceWeights, or the COO
        active-indices layout a kddb-width sparse fit persists).
        None for an index outside the fitted width."""
        dense = self.getOrDefault(self.relevanceWeights)
        if dense:
            return float(dense[idx]) if 0 <= idx < len(dense) else None
        n = self.getOrDefault(self.relevanceNumFeatures)
        if not (0 <= idx < n):
            return None
        active = self.getOrDefault(self.relevanceActiveIndices)
        vals = self.getOrDefault(self.relevanceActiveValues)
        import bisect

        pos = bisect.bisect_left(active, idx)
        if pos < len(active) and active[pos] == idx:
            return float(vals[pos])
        return float(self.getOrDefault(self.relevanceDefault))

    def ranking(self, spark) -> DataFrame:
        """Dual ranking as a DataFrame (:func:`dual_ranking`): one row
        per rank with both selection orders and their normalized
        relevance."""
        return dual_ranking(
            spark,
            self.getOrDefault(self.stdSelection),
            self.getOrDefault(self.redundancySelection),
            self.relevance_for,
        )

    def _ml_attrs(self, dataset: DataFrame, input_col: str, indices: list[int]) -> dict:
        """AttributeGroup-compatible `ml_attr` metadata for the output
        vector (mirrors prepOutputField, ReliefFRSelector.scala:831-840,
        minus its defect: the reference always filters by stdSelection
        even when transform slices by redundancySelection + truncation —
        here the attrs describe the selection actually applied).

        Input attributes (e.g. the names VectorAssembler wrote) are
        propagated per selected feature with re-based indices, so
        downstream name-aware stages (VectorSlicer(names=...), RFormula,
        explainers) keep working; absent input attrs degrade to unnamed
        numeric attributes, like the reference's defaultAttr fill."""
        in_meta = dataset.schema[input_col].metadata or {}
        in_attrs = in_meta.get("ml_attr", {}).get("attrs", {})
        by_idx: dict[int, dict] = {}
        for kind, attrs in in_attrs.items():
            for a in attrs:
                if "idx" in a:
                    by_idx[int(a["idx"])] = (kind, a)
        out_attrs: dict[str, list[dict]] = {}
        for pos, orig in enumerate(indices):
            kind, a = by_idx.get(orig, ("numeric", {}))
            entry = {**{k: v for k, v in a.items() if k != "idx"}, "idx": pos}
            out_attrs.setdefault(kind, []).append(entry)
        return {
            "ml_attr": {"attrs": out_attrs, "num_attrs": len(indices)},
            # provenance extras (this engine's addition); COO-layout
            # models carry the declared width in relevanceNumFeatures
            "selected_features": indices,
            "num_original_features": len(self.getOrDefault(self.relevanceWeights))
            or self.getOrDefault(self.relevanceNumFeatures)
            or None,
        }

    def _transform(self, dataset: DataFrame) -> DataFrame:
        input_col = self.getInputCol()
        output_col = self.getOutputCol()
        indices = self.selected_indices()
        is_vector = isinstance(dataset.schema[input_col].dataType, VectorUDT)
        # Catalyst-side gather — the vector-slice projection (SURVEY P8,
        # FeatureSelectionUtils.scala:38-73) with no Python UDF.
        if is_vector:
            # Slice the unwrapped struct, never a densified array: a
            # sparse row at kddb width would be nFeat doubles per
            # selected index. Sparse rows look each index up in their
            # (indices, values) map; absent entries are 0.0.
            u = F.unwrap_udt(F.col(input_col))
            values = u.getField("values")
            by_index = F.map_from_arrays(u.getField("indices"), values)
            sliced = F.when(
                u.getField("type") == 0,
                F.array(*[F.coalesce(F.try_element_at(by_index, F.lit(i)), F.lit(0.0)) for i in indices]),
            ).otherwise(F.array(*[values.getItem(i) for i in indices]))
            out = array_to_vector(sliced)
        else:
            out = F.array(*[F.col(input_col).getItem(i) for i in indices])
        meta = self._ml_attrs(dataset, input_col, indices)
        return dataset.withColumn(output_col, out.alias(output_col, metadata=meta))
