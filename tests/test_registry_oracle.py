"""Registry queries against their DuckDB oracle SQL at sf0.001, compared
as ``tools/check_oracle.py`` compares them."""

from __future__ import annotations

import pytest

from activedata_etl_spark.plans.queries import ORACLE_SQL, SPARK_QUERIES
from tools.check_oracle import compare, oracle_connection

SF = "/root/testdata/sf0.001"

# the hash-defined (mix31) queries: only the oracle checks that the Spark
# expressions and the SQL compute the same hashes; then the consumers of the
# prefix-filtered jaccard pairs, whose oracle uses the all-postings
# candidates.  Any name in SPARK_QUERIES and ORACLE_SQL can join the list.
QUERIES = [
    "dedup_minhash_lsh",
    "dedup_incremental",
    "dedup_simhash",
    "sim_ann_lsh",
    "dedup_embedding_lsh",
    "dedup_ngram_jaccard",
    "dedup_jaccard_clusters",
    "dedup_keep_list",
]


@pytest.fixture(scope="module")
def oracle():
    con = oracle_connection(SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_registry_query_matches_oracle(spark, oracle, name):
    got = SPARK_QUERIES[name](spark, SF).toPandas()
    ok, report = compare(got, oracle.sql(ORACLE_SQL[name]).df())
    assert ok, f"{name}: " + "\n".join(report)
