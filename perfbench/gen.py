"""Seeded input generators for the benchmark workloads.

Two families, both pure NumPy/pandas (no Spark), so the same seed gives
byte-identical inputs on any host:

- ``star_tables``: the ``lineitem`` and ``documents`` tables the suite
  queries read, with the column names, types and value domains of the
  fixed synthetic tables the suite's DuckDB oracles were written
  against.  Every twelfth document is a planted near-copy of an
  earlier one (one word changed), so the near-duplicate closure has
  clusters beyond the exact second-crawl copies.
- ``expression_inputs``: paper-shaped microarray inputs -- per platform
  a reference-style wide TSV (probe rows x sample columns, log2
  intensities with gene, group, batch and probe effects), plus the
  probe->gene map, the sample sheet and the packed outlier sheet.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

_WORDS = (
    "a the big small fast slow hot red blue key agg row scan table value part "
    "hash batch window spark order data column join line customer query merge "
    "filter gear bolt ring widget"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")
_FLAGS = np.array(["A", "N", "R"])
_STATUS = np.array(["F", "O"])


def star_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """``lineitem`` and ``documents`` at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_li = int(6_000_000 * sf)
    n_part = max(int(200_000 * sf), 301)
    n_supp = max(int(10_000 * sf), 10)
    n_ord = int(1_500_000 * sf)
    day0 = np.datetime64("1995-01-02", "us")
    days = rng.integers(0, 2498, n_li).astype("timedelta64[D]").astype("timedelta64[us]")
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": rng.integers(90_000, 10_500_000, n_li) / 100.0,
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _FLAGS[rng.integers(0, 3, n_li)],
            "l_linestatus": _STATUS[rng.integers(0, 2, n_li)],
            "l_shipdate": day0 + days,
        }
    )

    n_doc = max(500, int(50_000 * sf))
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_doc):
        if i % 12 == 11:
            # planted near-copy of an earlier original: one word replaced
            # (fixed positions, so every seed has the same cluster shapes)
            toks = texts[i - 7].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(toks))
        else:
            n = int(rng.integers(8, 100))
            texts.append(" ".join(words[rng.integers(0, len(words), n)]))
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_doc)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return {"lineitem": lineitem, "documents": documents}


def write_star_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


PLATFORMS = ("Affy_U133Plus2", "Illumina_HT12")
BATCHES_PER_PLATFORM = 3
MULTI_PROBE_FRAC = 0.2  # share of genes measured by 2-3 probes
GENE_COVERAGE = 0.9  # share of genes each platform measures


@dataclass(frozen=True)
class ExpressionSizes:
    genes: int = 800
    samples_per_platform: int = 20
    icc_genes: int = 320  # F5 top-variance genes fed to ICC + meta-analysis


@dataclass
class ExpressionInputs:
    """One platform = one wide matrix; all frames are the generated truth."""

    sizes: ExpressionSizes
    platforms: list[str]
    # platform -> (probe ids, sample ids, values[probe, sample])
    matrices: dict[str, tuple[list[str], list[str], np.ndarray]] = field(default_factory=dict)
    probe_map: pd.DataFrame | None = None  # probe, gene_id, platform
    targets: pd.DataFrame | None = None  # sample_id, target, dataset, platform
    outliers: pd.DataFrame | None = None  # dataset_name, data_dir, samples2exclude


def expression_inputs(seed: int, sizes: ExpressionSizes) -> ExpressionInputs:
    rng = np.random.default_rng([seed, 2])
    G = sizes.genes
    genes = [f"ENSG{g:08d}" for g in range(G)]
    base = rng.uniform(4.0, 12.0, G)
    de_effect = np.where(rng.random(G) < 0.15, rng.normal(0.0, 1.5, G), 0.0)
    gene_sd = rng.uniform(0.2, 0.8, G)
    # shared latent factors make genes co-vary consistently on every
    # platform, which is what integrative correlation measures
    loadings = rng.normal(0.0, 0.6, (G, 3))
    out = ExpressionInputs(sizes=sizes, platforms=list(PLATFORMS))
    maps, sheets, outl = [], [], []
    for p_idx, plat in enumerate(out.platforms):
        on = np.sort(rng.choice(G, int(round(G * GENE_COVERAGE)), replace=False))
        n_probes = np.where(
            rng.random(len(on)) < MULTI_PROBE_FRAC, rng.integers(2, 4, len(on)), 1
        )
        gene_of_probe = np.repeat(on, n_probes)
        P = len(gene_of_probe)
        probes = [f"{plat[:2].upper()}{p_idx}_{k:06d}" for k in range(P)]
        S = sizes.samples_per_platform
        B = BATCHES_PER_PLATFORM
        samples = [f"{plat}_S{j:03d}" for j in range(S)]
        group = np.array(["tumor" if j % 2 == 0 else "normal" for j in range(S)])
        batch = np.array([(j // 2) % B for j in range(S)])
        factors = rng.normal(0.0, 1.0, (3, S))
        batch_loc = rng.normal(0.0, 0.5, (P, B))
        batch_scale = rng.uniform(0.7, 1.4, (P, B))
        probe_off = rng.normal(0.0, 0.3, P)
        g = gene_of_probe
        signal = (
            base[g][:, None]
            + probe_off[:, None]
            + de_effect[g][:, None] * (group == "tumor")[None, :]
            + loadings[g] @ factors
        )
        noise = rng.normal(0.0, 1.0, (P, S)) * gene_sd[g][:, None] * batch_scale[:, batch]
        values = np.round(signal + batch_loc[:, batch] + noise, 4)
        # one sample per platform is not on the sample sheet (F1 drop)
        extra = f"{plat}_CTRL"
        ctrl = np.round(base[g] + rng.normal(0.0, 0.5, P), 4)
        out.matrices[plat] = (probes, samples + [extra], np.column_stack([values, ctrl]))
        # ~5% of probes are controls with no gene (dropped by the map join)
        mapped = rng.random(P) >= 0.05
        maps.append(
            pd.DataFrame(
                {
                    "probe": np.array(probes)[mapped],
                    "gene_id": np.array(genes)[g[mapped]],
                    "platform": plat,
                }
            )
        )
        datasets = [f"{plat}_GSE{b}" for b in range(B)]
        sheets.append(
            pd.DataFrame(
                {
                    "sample_id": samples,
                    "target": group,
                    "dataset": [datasets[b] for b in batch],
                    "platform": plat,
                }
            )
        )
        # packed outlier sheet: one dataset lists one sample, one lists
        # none (empty string), the rest are absent
        victim = samples[int(rng.integers(0, S))]
        outl.append(
            pd.DataFrame(
                {
                    "dataset_name": [datasets[0], datasets[1 % B]],
                    "data_dir": ["raw", "raw"],
                    "samples2exclude": [victim, ""],
                }
            )
        )
    out.probe_map = pd.concat(maps, ignore_index=True)
    out.targets = pd.concat(sheets, ignore_index=True)
    out.outliers = pd.concat(outl, ignore_index=True)
    return out


def write_expression_inputs(inp: ExpressionInputs, out_dir: str) -> dict[str, str]:
    """Write the reference-style files; returns their paths by role."""
    os.makedirs(out_dir, exist_ok=True)
    paths: dict[str, str] = {}
    for plat, (probes, samples, values) in inp.matrices.items():
        path = os.path.join(out_dir, f"{plat}.exp.tsv")
        with open(path, "w") as f:
            # reference layout: unnamed rowname column, then samples
            f.write("\t" + "\t".join(samples) + "\n")
            for probe, row in zip(probes, values):
                f.write(probe + "\t" + "\t".join(f"{v:.4f}" for v in row) + "\n")
        paths[f"matrix:{plat}"] = path
    for role in ("probe_map", "targets", "outliers"):
        path = os.path.join(out_dir, f"{role}.tsv")
        getattr(inp, role).to_csv(path, sep="\t", index=False)
        paths[role] = path
    return paths
