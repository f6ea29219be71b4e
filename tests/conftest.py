import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from osm_public_space_mapper_spark.session import get_spark

    s = get_spark(app="tests", cores=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_layer(spark):
    """The classified fixture layer, built ONCE per session and pinned by
    the entry helper. Module `layer` fixtures delegate here — the pipeline
    build is the most expensive fixture in the suite and every module used
    identical config."""
    import __spark_entry__ as E

    return E._polygon_layer(spark)
