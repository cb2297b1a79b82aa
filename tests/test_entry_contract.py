"""Driver-contract smoke twins: entry() runs and returns a stable
schema; every declared query is callable; every oracle key has a
query; column names stay aligned between queries() and oracle_sql()
output (the driver's hash compare sorts by column name)."""

from __future__ import annotations

import importlib.util
import sys


def _entry_mod():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_returns_stable_flagship_schema(spark):
    mod = _entry_mod()
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.schema.simpleString() == (
        "struct<l_partkey:bigint,n_a:bigint,n_b:bigint,mean_a:double,"
        "mean_b:double,t_statistic:double,log2fc:double,p_value:double,"
        "adj_p_value:double>"
    )


def test_contract_dict_shapes():
    mod = _entry_mod()
    q, o = mod.queries(), mod.oracle_sql()
    assert set(o) <= set(q), "orphan oracles"
    assert all(callable(f) for f in q.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in o.values())


def test_load_tables_returns_all_driver_tables(spark):
    from transcriptomics_data_integration_spark.session import load_tables

    t = load_tables(spark, "/root/testdata/sf0.001")
    assert set(t) >= {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert t["region"].count() == 5


def test_no_driver_divergent_oracle_types():
    """Static sweep of every oracle's DESCRIBE'd output types (the r6
    burn): DuckDB types a windowed SUM(BIGINT) as HUGEINT, and the
    driver's pandas/Arrow oracle materialization renders HUGEINT as
    float64 ("903.0" vs Spark's "903") — rows/schema green, hash red
    (CORRECTNESS_r06 `token_budget_sample`).  fetchall()-based local
    gates silently normalize HUGEINT to int, so this class is only
    catchable statically: assert no oracle's final projection carries
    HUGEINT / UHUGEINT / DECIMAL."""
    import duckdb

    sys.path.insert(0, "/root/repo")
    from tools.check import TABLES, oracle_type_problems
    from transcriptomics_data_integration_spark.suite import ORACLES

    con = duckdb.connect()
    sf_dir = "/root/testdata/sf0.001"
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    problems = oracle_type_problems(con, ORACLES)
    assert problems == {}, problems


# the oracle gate checks the first 50 entries of queries(); pinned
# literally so an edit to the front list or the registry cannot move
# the oracle window
ORACLE_WINDOW = [
    "registry_upsert", "full_outer_merge", "htseq_scan", "rsem_convert",
    "idat_decode", "detection_p", "blocked_de", "video_offset_neardup",
    "incremental_dedup", "dedup_clusters", "corpus_pipeline", "leakage_split",
    "dedup_keep_best", "wordpiece_merges", "simhash", "ngram_jaccard",
    "edit_pairs", "dedup_exact", "cosine_topk", "bh_histogram",
    "asof_directions", "meta_pipeline", "icc_meta", "icc_sampled",
    "p_improvement", "combat_eb2", "pca_covariance", "mds_bmatrix",
    "kmeans_lloyd2", "bpe_merges", "token_stats", "doc_fingerprint",
    "language_id", "text_quality", "token_budget_sample", "doc_logprob",
    "bloom_contamination", "lsh_ann", "line_dedup", "winnow_overlap",
    "html_extract", "url_canonical", "jpeg_pixels", "gif_pixels",
    "wav_decode", "pricing_summary", "gene_stats", "gene_exclusion",
    "outlier_removal", "zero_variance_filter",
]


def test_oracle_window_order():
    """queries() iterates the front list first, then the rest of the
    registry in registration order; its first 50 names are the window
    the oracle gate checks."""
    import pytest

    from transcriptomics_data_integration_spark import suite
    from transcriptomics_data_integration_spark.suite_llm import QUERIES_LLM
    from transcriptomics_data_integration_spark.suite_ml import QUERIES_ML
    from transcriptomics_data_integration_spark.suite_norm import QUERIES_NORM
    from transcriptomics_data_integration_spark.suite_stats import QUERIES_STATS

    names = list(suite.QUERIES)
    assert names[:50] == ORACLE_WINDOW
    front = suite._ROUND11_FRONT
    assert names[: len(front)] == front
    assert len(set(names)) == len(names)
    # the rest keeps registration order: every sub-registry's names
    # appear in the order that sub-registry declares them
    rest = names[len(front):]
    for sub in (QUERIES_STATS, QUERIES_NORM, QUERIES_ML, QUERIES_LLM):
        assert [n for n in rest if n in sub] == [n for n in sub if n not in front]
    assert list(suite._reorder_front(dict.fromkeys("abcd"), ["c", "a"])) == list("cabd")
    with pytest.raises(AssertionError, match="not in registry"):
        suite._reorder_front(dict.fromkeys("ab"), ["z"])
