"""Driver-contract regression: a fast subset of queries() checked against
their DuckDB oracles at sf0.001, plus the two LSI and two LDA oracles at
sf0.01, the sf their persisted-artifact SQL is keyed to (the full sweep lives in
tools/check_oracles.py). ``dedup_clusters`` is checked on both connected-
components paths: the local finish (session default) and the star rounds
(``spark.sql.autoBroadcastJoinThreshold=-1``)."""

import math
import os

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"
# the artifact-backed oracles read the model Spark persisted at sf0.01
ART_SF_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
LSI_ORACLES = ["lsi_topics", "lsi_merged_topics"]
LDA_ORACLES = ["lda_doc_topics", "lda_topic_diff"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SUBSET = ["vocab", "doc2bow", "bm25_okapi", "bm25_topk", "dedup_exact",
          "minhash_signatures", "dedup_minhash_pairs", "dedup_clusters",
          "simhash", "quality_stats", "knn_cosine", "events_hourly"]
THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    return str(v)


def _duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def duck():
    return _duck(SF_DIR)


@pytest.fixture(scope="module")
def duck_art():
    return _duck(ART_SF_DIR)


def _check_oracle(spark, duck, sf_dir, name):
    import __spark_entry__ as E

    sdf = E.queries()[name](spark, sf_dir)
    cols = sorted(sdf.columns)
    spark_rows = sorted(
        tuple(norm_cell(r[c]) for c in cols) for r in sdf.collect()
    )
    odf = duck.execute(E.oracle_sql()[name]).fetch_df()
    assert sorted(odf.columns) == cols
    oracle_rows = sorted(
        tuple(norm_cell(v) for v in row)
        for row in odf[cols].itertuples(index=False, name=None)
    )
    assert len(spark_rows) == len(oracle_rows)
    assert spark_rows == oracle_rows


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, duck, name):
    _check_oracle(spark, duck, SF_DIR, name)


def test_dedup_clusters_star_rounds_match_oracle(spark, duck):
    """The same oracle with the broadcast budget off, so connected
    components runs its large-star/small-star rounds."""
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, "-1")
    try:
        _check_oracle(spark, duck, SF_DIR, "dedup_clusters")
    finally:
        spark.conf.set(THRESHOLD, old)


@pytest.mark.parametrize("name", LSI_ORACLES)
def test_lsi_oracle_matches_at_artifact_sf(spark, duck_art, name):
    """The LSI fits (plain and merged) against their DuckDB oracles, which
    read the u Spark persisted at the sf the oracle SQL is keyed to."""
    _check_oracle(spark, duck_art, ART_SF_DIR, name)


@pytest.mark.parametrize("name", LDA_ORACLES)
def test_lda_oracle_matches_at_artifact_sf(spark, duck_art, name):
    """The LDA fit and its document-γ inference against their DuckDB
    oracles, which read the γ and topics Spark persisted at sf0.01."""
    _check_oracle(spark, duck_art, ART_SF_DIR, name)


def test_entry_smoke(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"query_id", "doc_id", "score", "rank"}
