"""Query inventory part 5: model-fit kernels with inherent
non-SQL-expressibility (iterative EB, eigen/cluster/IRLS fits,
median polish, k-means ANN).  Declared WITHOUT oracle entries — the
driver records the weaker rows-only check (SURVEY.md §5.1 contract);
numeric behavior is pinned by the golden pytest tests instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.llmdata.similarity import ivf_topk
from transcriptomics_data_integration_spark.session import read_table
from transcriptomics_data_integration_spark.stats.combat import combat
from transcriptomics_data_integration_spark.stats.medianpolish import median_polish_summarize
from transcriptomics_data_integration_spark.stats.mlkernels import (
    bisecting_clusters,
    kmeans_clusters,
    logistic_per_gene,
    pca_embedding,
    sample_vectors,
)


def _cells(spark: SparkSession, sf_dir: str, n_genes: int = 20) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_partkey") <= n_genes)
    return li.groupBy(
        F.col("l_partkey").cast("string").alias("gene_id"),
        (F.col("l_suppkey") % 50).cast("string").alias("sample_id"),
    ).agg(F.avg("l_extendedprice").alias("value"))


# feature-vector width guard: sample_vectors pivots over an explicit
# gene list, which callers build with a driver-side distinct-collect.
# That is only sane AFTER an F5-style top-k/subset filter; cap it so a
# future unfiltered call fails loudly instead of OOMing the driver.
_MAX_FEATURE_GENES = 10_000


def _gene_list(cells: DataFrame) -> list[str]:
    genes = sorted(
        r["gene_id"]
        for r in cells.select("gene_id").distinct().limit(_MAX_FEATURE_GENES + 1).collect()
    )
    if len(genes) > _MAX_FEATURE_GENES:
        raise ValueError(
            f"feature-vector pivot needs a bounded gene list (> {_MAX_FEATURE_GENES} "
            "distinct genes seen) — apply nonspecific_filter_topk (F5) first"
        )
    return genes


def q_median_polish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 — RMA-style median-polish summarization of probes (parts) to
    probesets (brands) over bucketed samples."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    probes = (
        li.join(
            F.broadcast(part.select(F.col("p_partkey").alias("l_partkey"), "p_brand")),
            "l_partkey",
        )
        .groupBy(
            F.col("p_brand").alias("probeset"),
            F.col("l_partkey").alias("probe"),
            (F.col("l_suppkey") % 20).alias("sample_id"),
        )
        .agg(F.avg("l_extendedprice").alias("value"))
    )
    return median_polish_summarize(probes, "probeset", "probe", "sample_id", "value")


def q_combat_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 — full empirical-Bayes ComBat (iterative per-batch solver)
    across linestatus batches; per-(gene, batch) post-adjustment means."""
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_partkey") <= 200) & F.col("l_linestatus").isin(["O", "F"])
    )
    long = li.select(
        F.col("l_partkey").alias("gene_id"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("sample_id"),
        F.col("l_linestatus").alias("batch"),
        F.col("l_extendedprice").alias("value"),
    )
    adj = combat(long, "gene_id", "sample_id", "batch", "value")
    return adj.groupBy("gene_id", "batch").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 4).alias("mean_adjusted"),
    )


def q_combat_nonparam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 — ComBat with the reference's NONPARAMETRIC prior (the custom
    log-sum-exp `int.eprior` override, `DiffExpression_closedPlatform.R
    :108-156,169`); O(G^2) per batch, so bounded to the F5-style gene
    subset like the reference's post-filter usage."""
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_partkey") <= 200) & F.col("l_linestatus").isin(["O", "F"])
    )
    long = li.select(
        F.col("l_partkey").alias("gene_id"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("sample_id"),
        F.col("l_linestatus").alias("batch"),
        F.col("l_extendedprice").alias("value"),
    )
    adj = combat(long, "gene_id", "sample_id", "batch", "value", prior="nonparametric")
    return adj.groupBy("gene_id", "batch").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 4).alias("mean_adjusted"),
    )


def q_pca_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11 — PCA of sample vectors over the 20 lowest-key genes; PC
    coordinates are sign-indeterminate across BLAS builds (rows-only)."""
    cells = _cells(spark, sf_dir)
    genes = _gene_list(cells)
    vecs = sample_vectors(cells, "gene_id", "sample_id", "value", genes)
    emb, ev = pca_embedding(vecs, "sample_id", k=3)
    return emb.select(
        "sample_id",
        F.round(F.abs(F.element_at("pcs", 1)), 4).alias("abs_pc1"),
        F.lit(round(ev[0], 6)).alias("explained_var_1"),
    )


def q_kmeans_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12 — seeded k-means clustering of sample vectors."""
    cells = _cells(spark, sf_dir)
    genes = _gene_list(cells)
    vecs = sample_vectors(cells, "gene_id", "sample_id", "value", genes)
    out = kmeans_clusters(vecs, "sample_id", k=3, seed=1)
    return out.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_samples"))


def q_hclust_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13 — divisive hierarchical clustering of sample vectors
    (BisectingKMeans, the idiomatic Spark stand-in for Ward hclust,
    `DiffExpression_closedPlatform.R:645-646`); seeded, rows-only."""
    cells = _cells(spark, sf_dir)
    genes = _gene_list(cells)
    vecs = sample_vectors(cells, "gene_id", "sample_id", "value", genes)
    out = bisecting_clusters(vecs, "sample_id", k=4, seed=1)
    return out.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_samples"))


def q_ward_hclust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13 full fidelity — Ward hierarchical clustering
    (`DiffExpression_closedPlatform.R:645-646`, ``hclust`` +
    ``cutree``): distributed S x S distance matrix, driver-side
    Lance-Williams linkage (stats/hclust.py), ``algo="ward.D"``
    matching R ``method="ward"``.  The input matrix is COMPLETED
    first (zero-fill of absent sample x gene cells) — R ``dist``
    sees a complete matrix, and the linkage now raises on missing
    pairs instead of silently propagating NaN heights.  The merge
    table is DETERMINISTIC given the data but not SQL-expressible,
    so rows-only; numerics pinned by tests/test_hclust.py."""
    from transcriptomics_data_integration_spark.stats.hclust import ward_hclust

    cells = _cells(spark, sf_dir)
    grid = cells.select("sample_id").distinct().crossJoin(
        F.broadcast(cells.select("gene_id").distinct())
    )
    full = grid.join(cells, ["sample_id", "gene_id"], "left").fillna({"value": 0.0})
    linkage, _labels = ward_hclust(
        full, "sample_id", "gene_id", "value", k=4, algo="ward.D"
    )
    return linkage.select(
        "step", "cluster_a", "cluster_b",
        F.round("height", 4).alias("height"), "size",
    ).orderBy("step")


def q_pca_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M17 full fidelity — Mahalanobis outlier detection on the top-3
    PC scores (`ArrayOutliers(alpha=0.001, pc2use=1:3)`,
    `QC_Affy_U133Plus2.R:156-164`).  The distance is sign-invariant so
    the output is deterministic, but the eigendecomposition is not
    SQL-expressible -> rows-only; numerics pinned by
    tests/test_mlkernels.py golden fixture (MLlib path == covariance
    path == numpy).  Uses the covariance route (gated
    ``feature_covariance`` + driver eigh) — the MLlib scaler+PCA double
    fit re-executed the unpersisted pivot per pass (r3 verdict)."""
    from transcriptomics_data_integration_spark.stats.mlkernels import (
        pca_space_outliers_long,
    )

    cells = _cells(spark, sf_dir)
    out = pca_space_outliers_long(cells, "sample_id", "gene_id", "value", k=3, alpha=0.001)
    return out.select(
        "sample_id",
        F.round("d2", 6).alias("d2"),
        F.round("chi2_p", 8).alias("chi2_p"),
        "is_outlier",
    )


def q_logistic_de(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M14 — per-gene logistic regression of return outcome on price."""
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_partkey") <= 100) & F.col("l_returnflag").isin(["R", "A"])
    )
    out = logistic_per_gene(li, "l_partkey", "l_returnflag", "l_extendedprice", "R")
    return out.select("gene_id", "n", F.round("coef", 6).alias("coef"))


def q_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN — product-quantization codes + ADC table-lookup search
    (llmdata/similarity.py: pq_train/pq_encode/pq_topk).  Model-based
    (seeded Lloyd codebooks) -> rows-only; behavior pinned by
    test_llmdata.py::test_pq_roundtrip_and_recall."""
    from transcriptomics_data_integration_spark.llmdata.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    books, _dims = pq_train(emb, m=8, k=16, seed=1)
    codes = pq_encode(emb, books)
    queries = emb.where(F.col("vec_id") % 25 == 0)
    out = pq_topk(codes, queries, books, k=5)
    return out.select("query_id", "cand_id", "rank", F.round("adist", 6).alias("adist"))


def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN — k-means coarse quantizer + probed exact re-rank."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 0)
    out = ivf_topk(emb, queries, k=5, n_cells=8, n_probe=2)
    return out.select("query_id", "cand_id", "rank", F.round("cosine", 6).alias("cosine"))


def q_mds_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12 — classical MDS (cmdscale twin): distributed S x S distance
    matrix, driver-side double-centering + eigh (`stats/mlkernels.py:
    mds_embedding`).  Sign-indeterminate like cmdscale -> rows-only;
    emitted as per-sample embedding norms (sign-invariant)."""
    from transcriptomics_data_integration_spark.stats.mlkernels import mds_embedding

    cells = _cells(spark, sf_dir)
    emb = mds_embedding(cells, "sample_id", "gene_id", "value", k=2)
    return emb.select(
        "sample_id",
        F.round(F.sqrt(F.expr("aggregate(mds, 0.0d, (a, v) -> a + v * v)")), 6).alias(
            "embed_norm"
        ),
    )


QUERIES_ML = {
    "median_polish": q_median_polish,
    "combat_full": q_combat_full,
    "combat_nonparam": q_combat_nonparam,
    "pca_samples": q_pca_samples,
    "kmeans_samples": q_kmeans_samples,
    "hclust_samples": q_hclust_samples,
    "ward_hclust": q_ward_hclust,
    "pca_outliers": q_pca_outliers,
    "logistic_de": q_logistic_de,
    "ivf_ann": q_ivf_ann,
    "pq_ann": q_pq_ann,
    "mds_samples": q_mds_samples,
}
