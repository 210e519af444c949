from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_spark_iceberg_dbt_airflow_spark.session import get_spark_session

#: oracle tests run at the small sf for speed; the driver re-checks at sf0.01
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # Managed tables go to a per-run warehouse, not the checkout's
    # spark-warehouse/: a table directory left by an earlier run makes a
    # later managed CREATE of the same name fail (LOCATION_ALREADY_EXISTS).
    warehouse = tmp_path_factory.mktemp("warehouse")
    s = get_spark_session(
        "engine-tests",
        driver_memory="8g",
        extra_conf={"spark.sql.warehouse.dir": str(warehouse)},
    )
    yield s
    # unpin module-level persisted caches before the session goes away
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.similarity import (
        release_normed_corpus,
    )

    release_normed_corpus(s)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
