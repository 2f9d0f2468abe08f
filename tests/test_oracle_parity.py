"""Driver-gate replica on a representative query subset at sf0.001
(the full 50-query sweep runs via scripts/check_oracles.py at sf0.01)."""

import duckdb
import pytest

from geospark import parity

SF_DIR = "/root/testdata/sf0.001"

SUBSET = [
    "etl_wordlist", "etl_struct_cities", "oa_city", "oa_house",
    "reverse_geocode", "forward_geocode",
    "extract_hashes", "mine_addresses",
    "doc_tokens", "doc_langid", "dedup_jaccard", "dedup_simhash_pairs",
    "ann_topk", "ann_ivf_kmeans", "emb_dups", "tpch_pricing", "topk_orders",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    parity.register_views(c, SF_DIR)
    return c


@pytest.mark.parametrize("name", SUBSET)
def test_oracle_parity(spark, geo, con, name):
    status, detail = parity.compare_one(spark, con, name, SF_DIR)
    assert status == "pass", f"{name}: {detail}"


def test_every_query_has_entry_and_runs(spark, geo):
    """EVERY registered query now carries a DuckDB oracle — round 3 closed
    the last no_oracle row (predict_text) and added reverse_epsg3857 +
    geohash_check with oracles from birth."""
    from geospark import entry_queries as eq

    missing = [name for name in eq.QUERIES if eq.ORACLES.get(name) is None]
    assert missing == [], missing
    for name in ("predict_text", "reverse_epsg3857", "geohash_check"):
        assert name in eq.QUERIES and eq.ORACLES.get(name) is not None


@pytest.mark.parametrize("name", ["predict_text", "reverse_epsg3857", "geohash_check"])
def test_oracle_parity_round3(spark, geo, con, name):
    status, detail = parity.compare_one(spark, con, name, SF_DIR)
    assert status == "pass", f"{name}: {detail}"
