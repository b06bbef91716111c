import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from urbanistic_polygons_spark.session import get_spark
    # The session default heap (48g) lets the one test JVM grow past a
    # 16 GB host's RAM before it collects, and the kernel then kills it
    # mid-suite; the test inputs fit in a few GB.
    heap = os.environ.get("SPARK_DRIVER_MEMORY", "6g")
    s = get_spark("tests", cores=4, shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": heap})
    yield s
    s.stop()
