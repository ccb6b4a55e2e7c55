import pytest

from dataquality_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="dq_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def artifacts():
    from dataquality_spark import pipeline
    return pipeline.get_artifacts()


@pytest.fixture(scope="session")
def artifacts_q():
    from dataquality_spark.models import quality
    return quality.load_quantized_artifact()
