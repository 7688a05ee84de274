import pytest

from xs_vlm_ocr_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # a fixed local[8], whatever the host: tests pin task counts against
    # defaultParallelism == 8 (bench.py follows the host's CPU affinity)
    return get_spark(app_name="xs_vlm_ocr_spark_tests", cores=8, shuffle_partitions=8)
