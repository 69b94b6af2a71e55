import os

import pytest


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from pocket_etl_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    os.environ.setdefault("SPARK_LOCAL_DIRS", str(tmp_path_factory.mktemp("spark-local")))
    return get_spark("perfbench_tests", cores=2, shuffle_partitions=2)
