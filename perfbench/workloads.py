"""The benchmark's workloads.

Each workload stages its inputs from a seed (``stage``), runs one pass
as a list of named operations (``operations``), and checks every
operation's result against a reference computed outside the timed
passes (``prepare_reference`` once, ``check`` per result).

Every result is delivered the way a user receives it: a topTable or
query result is collected to the driver, a matrix is written as TSV.
No result ends in ``count()``.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd

from perfbench import gen, reference

@dataclass
class Operation:
    name: str
    layer: str  # span layer of the builder call ("suite" or "" for direct calls)
    build: Callable[[], object]  # returns a DataFrame, or None when it delivers itself
    deliver: Callable[[object], object]  # the final materialisation


class ExpressionScale:
    """Paper-shaped microarray chain on generated wide TSVs: read ->
    combine/normalise (quantile normalisation, max-variance probe
    collapse) -> TSV write of the combined matrix -> read back -> F5
    top-variance genes -> meta-analysis with integrative correlation
    (ICC) across platforms, weighted Stouffer and p-improvement."""

    name = "expression_scale"
    sizes = gen.ExpressionSizes()

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.inputs: gen.ExpressionInputs | None = None
        self.paths: dict[str, str] = {}
        self.expected: dict[str, pd.DataFrame] = {}

    def describe(self) -> dict:
        s = self.sizes
        n_probes = {p: len(m[0]) for p, m in self.inputs.matrices.items()} if self.inputs else {}
        return {
            "genes": s.genes,
            "probes_per_platform": n_probes,
            "samples_per_platform": s.samples_per_platform,
            "platforms": len(gen.PLATFORMS),
            "batches_per_platform": gen.BATCHES_PER_PLATFORM,
            "icc_genes": s.icc_genes,
        }

    def stage(self) -> None:
        self.inputs = gen.expression_inputs(self.seed, self.sizes)
        self.paths = gen.write_expression_inputs(self.inputs, os.path.join(self.work, "inputs"))

    def prepare_reference(self) -> None:
        self.expected = reference.expression_reference(self.inputs)

    def operations(self, spark) -> list[Operation]:
        """The reference's file-based chain: the combine step writes the
        combined matrix as TSV, and the meta-analysis reads it back."""
        from pyspark.sql import functions as F

        from transcriptomics_data_integration_spark import pipelines
        from transcriptomics_data_integration_spark.operators import filters
        from transcriptomics_data_integration_spark.sources import tsv_matrix

        def dim(role, schema):
            return spark.read.csv(self.paths[role], sep="\t", header=True, schema=schema)

        probe_map = dim("probe_map", "probe string, gene_id string, platform string")
        targets = dim("targets", "sample_id string, target string, dataset string, platform string")
        outliers = dim("outliers", "dataset_name string, data_dir string, samples2exclude string")
        out_dir = os.path.join(self.work, "output", "combined.exp")
        excluded = set(",".join(self.inputs.outliers.samples2exclude.fillna("")).split(","))
        samples = sorted(set(self.inputs.targets.sample_id) - excluded)

        def combine():
            parts = []
            for plat in self.inputs.platforms:
                on_plat = F.col("platform") == plat
                long = tsv_matrix.read_matrix_tsv(spark, self.paths[f"matrix:{plat}"], gene_col="probe")
                parts.append(
                    pipelines.build_expression_matrix(
                        long, targets.where(on_plat), outliers, probe_map.where(on_plat)
                    )
                )
            combined = parts[0]
            for p in parts[1:]:
                combined = combined.unionByName(p)
            return combined

        def write(combined):
            tsv_matrix.write_matrix_tsv(combined, out_dir, var_values=samples)
            (part,) = glob.glob(os.path.join(out_dir, "part-*"))
            return part

        def read_back():
            long = tsv_matrix.read_matrix_tsv(spark, out_dir)
            return long.where(F.col("value").isNotNull())

        def collect(df):
            return df.toPandas()

        ops = [Operation("matrix", "", combine, write)]
        ops.append(
            Operation(
                "meta",
                "",
                lambda: pipelines.meta_analysis(
                    filters.nonspecific_filter_topk(
                        read_back().join(targets.select("sample_id", "platform"), "sample_id"),
                        "gene_id",
                        "value",
                        self.sizes.icc_genes,
                    ),
                    targets,
                    "tumor",
                    "normal",
                ),
                collect,
            )
        )
        return ops

    def check(self, name: str, result) -> list[str]:
        if name == "matrix":
            actual = pd.read_csv(result, sep="\t", index_col=0)
            return reference.compare_matrix(actual, self.expected["matrix"])
        return reference.compare_frame(result, self.expected[name], reference.META_SPEC)

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


class SuiteGated:
    """Hash-gated suite queries on generated star tables: the
    closed-platform DE entry chain (scheduling-bound: eager jobs inside
    stats/pipelines), the near-duplicate closure (iterative connected
    components) and the CEL and JPEG decoders (per-row Python in
    mapInPandas).  Each result is checked against the query's DuckDB
    oracle."""

    name = "suite_gated"
    sf = 0.01
    queries = (
        "closed_pipeline",
        "dedup_clusters",
        "cel_decode",
        "jpeg_pixels",
    )

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.tables_dir = os.path.join(work, "tables")
        self.expected: dict[str, tuple[list[str], list[str]]] = {}

    def describe(self) -> dict:
        return {"sf": self.sf, "queries": list(self.queries)}

    def stage(self) -> None:
        gen.write_star_tables(gen.star_tables(self.seed, self.sf), self.tables_dir)

    def prepare_reference(self) -> None:
        import duckdb

        from transcriptomics_data_integration_spark.suite import ORACLES

        con = duckdb.connect()
        for t in ("lineitem", "documents"):
            path = os.path.join(self.tables_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.expected = {q: reference.oracle_canon(con, ORACLES[q]) for q in self.queries}
        con.close()

    def operations(self, spark) -> list[Operation]:
        from transcriptomics_data_integration_spark.suite import QUERIES

        return [
            Operation(
                q,
                "suite",
                lambda q=q: QUERIES[q](spark, self.tables_dir),
                lambda df: (df.columns, df.collect()),
            )
            for q in self.queries
        ]

    def check(self, name: str, result) -> list[str]:
        cols, rows = result
        exp_cols, exp_rows = self.expected[name]
        if sorted(c.lower() for c in cols) != exp_cols:
            return [f"columns {cols} vs oracle {exp_cols}"]
        got = reference.canon_rows(rows, cols)
        if len(got) != len(exp_rows):
            return [f"{len(got)} rows vs oracle {len(exp_rows)}"]
        bad = sum(a != b for a, b in zip(got, exp_rows))
        return [f"{bad} rows differ from the oracle"] if bad else []

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


WORKLOADS = {w.name: w for w in (ExpressionScale, SuiteGated)}
