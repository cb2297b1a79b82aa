"""Generator determinism and the reference checker."""

import hashlib
import os

import numpy as np
import pandas as pd
import pytest

from perfbench import gen, reference

SMALL = gen.ExpressionSizes(genes=60, samples_per_platform=8, icc_genes=20)


def digest(directory):
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def test_same_seed_gives_identical_files(tmp_path):
    for i, seed in enumerate((5, 5, 6)):
        inp = gen.expression_inputs(seed, SMALL)
        gen.write_expression_inputs(inp, str(tmp_path / f"e{i}"))
        gen.write_star_tables(gen.star_tables(seed, 0.001), str(tmp_path / f"s{i}"))
    assert digest(tmp_path / "e0") == digest(tmp_path / "e1")
    assert digest(tmp_path / "s0") == digest(tmp_path / "s1")
    assert digest(tmp_path / "e0") != digest(tmp_path / "e2")
    assert digest(tmp_path / "s0") != digest(tmp_path / "s2")


def test_star_tables_match_the_suite_schema():
    t = gen.star_tables(1, 0.01)
    assert len(t["lineitem"]) == 60_000 and len(t["documents"]) == 500
    assert t["lineitem"].l_partkey.max() < 2000 and t["lineitem"].l_suppkey.max() < 100
    assert (t["documents"].n_chars == t["documents"].text.str.len()).all()


@pytest.fixture(scope="module")
def expected():
    return reference.expression_reference(gen.expression_inputs(3, SMALL))


def test_reference_agrees_with_itself(expected):
    assert reference.compare_frame(expected["meta"].copy(), expected["meta"], reference.META_SPEC) == []
    assert reference.compare_matrix(expected["matrix"].copy(), expected["matrix"]) == []


def test_checker_flags_a_perturbed_value(expected):
    bad = expected["meta"].copy()
    bad.loc[bad.index[3], "icc"] *= 1.001
    problems = reference.compare_frame(bad, expected["meta"], reference.META_SPEC)
    assert problems and "icc" in problems[0]


def test_checker_flags_a_perturbed_p_value(expected):
    bad = expected["meta"].copy()
    bad.loc[bad.index[0], "p_comb"] *= 1.01
    assert reference.compare_frame(bad, expected["meta"], reference.META_SPEC)


def test_checker_flags_a_missing_row(expected):
    bad = expected["meta"].iloc[1:]
    assert reference.compare_frame(bad, expected["meta"], reference.META_SPEC)


def test_checker_flags_a_perturbed_matrix_cell(expected):
    bad = expected["matrix"].copy()
    col = bad.columns[2]
    row = bad[col].first_valid_index()
    bad.loc[row, col] += 1e-3
    assert reference.compare_matrix(bad, expected["matrix"])
    missing = expected["matrix"].copy()
    missing.loc[row, col] = np.nan
    assert reference.compare_matrix(missing, expected["matrix"])


def test_suite_canon_flags_a_perturbed_row():
    rows = [(1, 2.5, "a"), (2, -0.0, "b")]
    cols = ["k", "v", "s"]
    same = reference.canon_rows(list(reversed(rows)), cols)
    assert reference.canon_rows(rows, cols) == same
    # sign of zero and int/float kind are significant, as in tools/check.py
    assert reference.canon_rows([(1, 2.5, "a"), (2, 0.0, "b")], cols) != same
    assert reference.canon_rows([(1, 2.5, "a"), (2.0, -0.0, "b")], cols) != same


def test_icc_reference_on_planted_profiles():
    rng = np.random.default_rng(0)
    base = rng.normal(size=(6, 10))
    rows = []
    for plat, noise in (("A", 0.0), ("B", 0.0)):
        for g in range(6):
            for j in range(10):
                rows.append((plat, f"g{g}", f"{plat}{j}", base[g, j] + noise))
    cells = pd.DataFrame(rows, columns=["platform", "gene_id", "sample_id", "value"])
    out = reference.icc(cells)
    # identical correlation structure on both platforms: ICC is 1
    assert np.allclose(out.icc, 1.0)
