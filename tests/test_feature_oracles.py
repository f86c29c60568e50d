"""Oracle gate for the data-rows feature surface at sf0.001: the person
features, the config-schema features, the fused name-probability dim
and the multi-uid consensus labels, each against its ``oracle_sql()``
on DuckDB with the same comparison ``tools/check_oracles.py`` makes
(row count, column names, order-insensitive values)."""
from __future__ import annotations

import duckdb
import pytest

from tests.conftest import SF_SMALL
from tools.check_oracles import TABLES, compare

FEATURE_QUERIES = ["er_pair_features", "er_config_pair_features",
                   "er_nameprob_features", "er_labels_multi"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", FEATURE_QUERIES)
def test_feature_query_matches_oracle(spark, duck, name, monkeypatch):
    import __spark_entry__ as E
    from namematch_spark.operators import blocking as B
    # eager staging checkpoints instead of caching, so the queries leave
    # no cached plan behind for later tests' plans to match
    monkeypatch.delenv("NM_LAZY_CACHE", raising=False)
    sdf = E.queries()[name](spark, SF_SMALL).toPandas()
    B.release_caches()
    odf = duck.execute(E.oracle_sql()[name]).df()
    assert len(sdf) > 0
    assert compare(name, sdf, odf)
