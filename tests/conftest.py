import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TEST_CORES = int(os.environ.get("SPARK_TEST_CPUS")
                 or os.environ.get("SPARK_GRAFT_CPUS", "8"))


@pytest.fixture(scope="session")
def spark():
    from hybrid_search_engine_spark.session import get_spark

    s = get_spark(app="hse-tests", cores=TEST_CORES, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_1k_path(tmp_path_factory):
    from fixtures.gen_corpus import write_pages_parquet

    p = tmp_path_factory.mktemp("fixtures") / "pages_1k.parquet"
    return write_pages_parquet(str(p), 1000)


@pytest.fixture(scope="session")
def pages_1k(spark, pages_1k_path):
    return spark.read.parquet(pages_1k_path)


@pytest.fixture(scope="session")
def extracted_1k(spark, pages_1k):
    """pages_1k with the text column populated by the extraction stage."""
    from hybrid_search_engine_spark.functions.text import with_extracted_text

    df = with_extracted_text(pages_1k).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
