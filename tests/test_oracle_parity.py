"""The local replica of the driver's correctness gate: every registered
query with an oracle must match DuckDB exactly at sf0.001; rows-only
queries must execute and return a stable schema."""

from __future__ import annotations

import pytest

from reindexer_spark import all_queries
from reindexer_spark.oracle import compare_query

QUERY_NAMES = sorted(all_queries())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    problems = compare_query(spark, name, sf_dir)
    assert not problems, f"{name}: " + "; ".join(p[:500] for p in problems)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert df.columns == ["doc_id", "source", "lang", "text"]


def test_contract_shapes(spark):
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    assert set(oracles) <= set(qs)
    # every oracle-less query is intentionally approximate
    rows_only = set(qs) - set(oracles)
    assert rows_only <= {
        "dedup_minhash",
        "dedup_simhash",
        "agg_approx_sketches",
        "multimodal_decode_features",
        "multimodal_frame_sample",
        "multimodal_thumbnail",
        "multimodal_phash_dedup",
        "audio_dedup_fingerprint",
        "video_scene_cuts",
        "multimodal_probe_meta",
        "crawl_media_harvest",
    }


def test_oracle_runs_on_a_documents_only_directory(tmp_path, sf_dir):
    """Only the catalog tables present are registered: a directory with
    just documents.parquet runs a documents-only oracle, and SQL over a
    missing table still fails loudly in DuckDB."""
    import shutil

    import duckdb

    from reindexer_spark.oracle import run_oracle_duckdb

    shutil.copy(f"{sf_dir}/documents.parquet", tmp_path / "documents.parquet")
    got = run_oracle_duckdb("SELECT COUNT(*) AS n FROM documents", str(tmp_path))
    want = run_oracle_duckdb("SELECT COUNT(*) AS n FROM documents", sf_dir)
    assert got["n"].tolist() == want["n"].tolist() and want["n"][0] > 0
    with pytest.raises(duckdb.CatalogException):
        run_oracle_duckdb("SELECT COUNT(*) AS n FROM events", str(tmp_path))
