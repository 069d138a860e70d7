import os
import sys

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small for test latency
# the fixtures are small; under the engine's 48g default heap the
# session JVM grows past the RAM of a 16 GB host and is OOM-killed
os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from medcat_spark.session import get_spark
    s = get_spark("medcat-spark-tests", master="local[4]",
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_models():
    from medcat_spark.fixtures import trained_fixture_models
    return trained_fixture_models()


@pytest.fixture(scope="session")
def concepts_df(spark):
    from medcat_spark.fixtures import CONCEPT_ROWS
    rows = [(i,) + r for i, r in enumerate(CONCEPT_ROWS)]
    return spark.createDataFrame(
        rows, "row_id long, cui string, name string, ontologies string, "
              "name_status string, type_ids string, description string")


@pytest.fixture(scope="session")
def docs_df(spark):
    from medcat_spark.fixtures import fixture_documents
    return spark.createDataFrame(
        fixture_documents(60),
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
