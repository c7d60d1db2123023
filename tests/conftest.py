import pytest

from open_ocr_spark.pipeline.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # The suite is latency-bound, not CPU-bound (1035 tests in 425 s
    # wall on a 4-vCPU host, ~120 s of it the per-query oracle cases);
    # measured, neither core count nor shuffle-partition count moves the
    # wall time, so these are set for plan stability (>1 partition
    # exercises exchanges) and headroom, not speed
    spark = get_spark(app_name="open-ocr-spark-tests", master="local[8]",
                      shuffle_partitions=4)
    yield spark
    spark.stop()
