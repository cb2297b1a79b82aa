"""Correctness references, computed outside the timed passes.

- Suite queries: the query's DuckDB oracle over the same generated
  parquet tables, compared with the strict canonical form of
  ``tools/check.py`` (numeric kind, float repr and sign of zero
  kept) -- exact.
- ``expression_scale``: an independent NumPy computation of the chain
  on the generated inputs, compared field by field (``compare_frame``,
  ``compare_matrix``).

Tolerances for the NumPy reference:

- keys, gene sets and counts: exact;
- closed-form float stages (quantile-normalised matrix, per-platform
  moments and t, ICC, Stouffer, p-improvement): ``CLOSED_RTOL`` --
  they differ from the engine only in floating-point summation order
  and in the engine's Acklam inverse-normal approximation
  (|error| < 1.2e-9); p-values are compared as ln(p) with
  ``LOGP_ATOL``.
"""

from __future__ import annotations

import math
from statistics import NormalDist

import numpy as np
import pandas as pd

CLOSED_RTOL = 1e-7
LOGP_ATOL = 1e-6

# -- normal distribution ----------------------------------------------------


def two_sided_p(stat):
    """2 * P(Z > |stat|) by Abramowitz & Stegun 26.2.17 -- the engine's
    documented p-value formula, floored at 1e-300."""
    ax = np.abs(np.asarray(stat, dtype=float))
    t = 1.0 / (1.0 + 0.2316419 * ax)
    poly = t * (0.319381530 + t * (-0.356563782 + t * (1.781477937 + t * (-1.821255978 + t * 1.330274429))))
    pdf = np.exp(-0.5 * ax * ax) / math.sqrt(2.0 * math.pi)
    return np.maximum(2.0 * pdf * poly, 1e-300)


_ND = NormalDist()


def norm_ppf(p):
    return np.array([_ND.inv_cdf(float(x)) for x in np.atleast_1d(p)])


# -- expression_scale chain ---------------------------------------------------


def build_matrix(inp, plat: str) -> pd.DataFrame:
    """Sample sheet keep, outlier drop, probe map, quantile
    normalisation (rank ties broken by probe id), max-variance probe
    collapse and zero-variance filter -> long (gene_id, sample_id, value)."""
    probes, samples, values = inp.matrices[plat]
    listed = set(inp.targets.sample_id)
    excluded = {
        s.strip()
        for packed in inp.outliers.samples2exclude.fillna("")
        if packed
        for s in packed.split(",")
    }
    keep_cols = [j for j, s in enumerate(samples) if s in listed and s not in excluded]
    gene_of = dict(zip(inp.probe_map.probe, inp.probe_map.gene_id))
    rows = [i for i, p in enumerate(probes) if p in gene_of]
    x = values[np.ix_(rows, keep_cols)]
    pids = np.array([probes[i] for i in rows])
    # rank within sample by (value, probe id)
    order = np.stack([np.lexsort((pids, x[:, j])) for j in range(x.shape[1])], axis=1)
    sorted_vals = np.take_along_axis(x, order, axis=0)
    ref = sorted_vals.mean(axis=1)
    qn = np.empty_like(x)
    for j in range(x.shape[1]):
        qn[order[:, j], j] = ref
    genes = np.array([gene_of[p] for p in pids])
    var = qn.var(axis=1, ddof=1)
    best: dict[str, tuple[float, str, int]] = {}
    for i, (g, p) in enumerate(zip(genes, pids)):
        cur = best.get(g)
        if cur is None or var[i] > cur[0] or (var[i] == cur[0] and p < cur[1]):
            best[g] = (var[i], p, i)
    keep_samples = [samples[j] for j in keep_cols]
    out = []
    for g, (v, _p, i) in best.items():
        if qn[i].std(ddof=1) > 0:
            out.append(pd.DataFrame({"gene_id": g, "sample_id": keep_samples, "value": qn[i]}))
    return pd.concat(out, ignore_index=True)


def _moments(values: pd.Series, keys) -> pd.DataFrame:
    return values.groupby(keys).agg(["count", "sum"]).assign(
        sum2=(values**2).groupby(keys).sum()
    )


def _pooled_t(df: pd.DataFrame, keys, log_scale: bool) -> pd.DataFrame:
    a = _moments(df.value[df.grp == "tumor"], [df[k][df.grp == "tumor"] for k in np.atleast_1d(keys)])
    b = _moments(df.value[df.grp == "normal"], [df[k][df.grp == "normal"] for k in np.atleast_1d(keys)])
    m = a.join(b, lsuffix="_a", rsuffix="_b", how="inner")
    m = m[(m.count_a >= 2) & (m.count_b >= 2)]
    na, nb = m.count_a, m.count_b
    out = pd.DataFrame(index=m.index)
    out["n_a"], out["n_b"] = na, nb
    out["mean_a"], out["mean_b"] = m.sum_a / na, m.sum_b / nb
    out["var_a"] = (m.sum2_a - m.sum_a**2 / na) / (na - 1)
    out["var_b"] = (m.sum2_b - m.sum_b**2 / nb) / (nb - 1)
    sp2 = ((na - 1) * out.var_a + (nb - 1) * out.var_b) / (na + nb - 2)
    se = np.sqrt(sp2 * (1.0 / na + 1.0 / nb))
    out["log2fc"] = out.mean_a - out.mean_b if log_scale else np.log2(out.mean_a / out.mean_b)
    out["t_statistic"] = (out.mean_a - out.mean_b) / se
    out = out[se > 0]
    out["p_value"] = two_sided_p(out.t_statistic)
    return out.reset_index()


def icc(cells: pd.DataFrame) -> pd.DataFrame:
    """Integrative correlation: per platform the gene x gene Pearson
    matrix over samples; per platform pair, each gene's correlation of
    its two profiles over shared partners; averaged over pairs."""
    plats = sorted(cells.platform.unique())
    corr = {}
    for p in plats:
        w = cells[cells.platform == p].pivot(index="gene_id", columns="sample_id", values="value")
        r = np.corrcoef(w.to_numpy())
        np.fill_diagonal(r, np.nan)
        corr[p] = pd.DataFrame(r, index=w.index, columns=w.index)
    sums: dict[str, list[float]] = {}
    for i, a in enumerate(plats):
        for b in plats[i + 1 :]:
            shared = corr[a].index.intersection(corr[b].index)
            ra = corr[a].loc[shared, shared].to_numpy()
            rb = corr[b].loc[shared, shared].to_numpy()
            for k, g in enumerate(shared):
                x, y = ra[k], rb[k]
                ok = ~np.isnan(x) & ~np.isnan(y)
                if ok.sum() >= 2 and x[ok].std() > 0 and y[ok].std() > 0:
                    sums.setdefault(g, []).append(float(np.corrcoef(x[ok], y[ok])[0, 1]))
    return pd.DataFrame(
        {"gene_id": list(sums), "icc": [float(np.mean(v)) for v in sums.values()]}
    )


def meta_analysis(combined: pd.DataFrame, targets: pd.DataFrame, icc_genes: int) -> pd.DataFrame:
    """F5 top-k on the combined matrix, per-platform t, ICC, weighted
    Stouffer, p-improvement."""
    sd = combined.groupby("gene_id").value.std(ddof=1).dropna()
    top = pd.DataFrame({"gene_id": sd.index, "sd": sd.to_numpy()})
    top = top.sort_values(["sd", "gene_id"], ascending=[False, True]).head(icc_genes)
    cells = combined[combined.gene_id.isin(set(top.gene_id))]
    group_of = dict(zip(targets.sample_id, targets.target))
    lab = cells.assign(grp=cells.sample_id.map(group_of))
    de = _pooled_t(lab, ["gene_id", "platform"], log_scale=False)
    de = de.merge(icc(cells), on="gene_id", how="left").fillna({"icc": 0.0})
    qn = norm_ppf(de.p_value.to_numpy() / 2)
    de["z"] = np.where(de.log2fc > 0, qn, -qn)
    fc = de.log2fc.abs()
    de["w_raw"] = np.maximum(fc + fc * de.icc**2, 0.0)
    de["wz"] = np.sqrt(fc) * de.z
    g = de.groupby("gene_id")
    comb = pd.DataFrame(
        {
            "n_platforms": g.size(),
            "avg_log2fc": g.log2fc.mean(),
            "z_comb": g.wz.sum() / np.sqrt(g.w_raw.sum()),
            "icc": g.icc.first(),
        }
    )
    comb = comb[comb.n_platforms > 1]
    comb["p_comb"] = two_sided_p(comb.z_comb)
    de = de.join(comb.p_comb, on="gene_id", how="inner")
    comb["avg_p_improvement"] = np.log2(de.p_value / de.p_comb).groupby(de.gene_id).mean()
    return comb.reset_index()


def expression_reference(inp) -> dict[str, pd.DataFrame]:
    """Expected outputs of one ``expression_scale`` pass."""
    out: dict[str, pd.DataFrame] = {}
    parts = []
    for plat in inp.platforms:
        built = build_matrix(inp, plat)
        parts.append(built.assign(platform=plat))
    combined = pd.concat(parts, ignore_index=True)
    out["meta"] = meta_analysis(combined, inp.targets, inp.sizes.icc_genes)
    out["matrix"] = combined.pivot(index="gene_id", columns="sample_id", values="value")
    return out


# -- comparison ----------------------------------------------------------------

META_SPEC = {
    "key": ["gene_id"],
    "exact": ["n_platforms"],
    "close": ["avg_log2fc", "z_comb", "icc", "avg_p_improvement"],
    "logp": ["p_comb"],
    "rtol": CLOSED_RTOL,
}


def compare_frame(actual: pd.DataFrame, expected: pd.DataFrame, spec: dict) -> list[str]:
    """Problems found (empty list = agreement)."""
    key = spec["key"]
    rtol = spec["rtol"]
    missing = set(map(tuple, expected[key].to_numpy())) ^ set(map(tuple, actual[key].to_numpy()))
    if missing or len(actual) != len(expected):
        return [f"key sets differ: {len(actual)} vs {len(expected)} rows, {len(missing)} keys not shared"]
    a = actual.set_index(key).sort_index()
    e = expected.set_index(key).sort_index()
    problems = []
    for c in spec["exact"]:
        bad = (a[c].to_numpy() != e[c].to_numpy()).sum()
        if bad:
            problems.append(f"{c}: {bad} exact mismatches")
    for c in spec["close"]:
        x, y = a[c].to_numpy(float), e[c].to_numpy(float)
        bad = ~np.isclose(x, y, rtol=rtol, atol=rtol)
        if bad.any():
            i = int(np.argmax(bad))
            problems.append(f"{c}: {int(bad.sum())} beyond rtol {rtol} (first {x[i]!r} vs {y[i]!r})")
    for c in spec["logp"]:
        x, y = np.log(a[c].to_numpy(float)), np.log(e[c].to_numpy(float))
        bad = ~np.isclose(x, y, rtol=0.0, atol=LOGP_ATOL)
        if bad.any():
            problems.append(f"ln {c}: {int(bad.sum())} beyond {LOGP_ATOL}")
    return problems


def compare_matrix(actual: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """Written wide matrix vs the reference combined matrix."""
    if set(actual.index) != set(expected.index) or set(actual.columns) != set(expected.columns):
        return [f"matrix shape {actual.shape} vs {expected.shape} or labels differ"]
    a = actual.loc[expected.index, expected.columns].to_numpy(float)
    e = expected.to_numpy(float)
    if not np.array_equal(np.isnan(a), np.isnan(e)):
        return ["matrix missing-cell pattern differs"]
    ok = np.isnan(e) | np.isclose(a, e, rtol=CLOSED_RTOL, atol=CLOSED_RTOL)
    return [] if ok.all() else [f"matrix: {int((~ok).sum())} cells beyond rtol {CLOSED_RTOL}"]


def canon_rows(rows, columns) -> list[str]:
    """Strict canonical form of a query result (tools/check.py)."""
    from tools.check import canon

    return canon([tuple(r) for r in rows], [c.lower() for c in columns])


def oracle_canon(con, sql: str) -> tuple[list[str], list[str]]:
    res = con.execute(sql)
    cols = [d[0].lower() for d in res.description]
    return sorted(cols), canon_rows(res.fetchall(), cols)
