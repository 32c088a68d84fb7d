import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from clickhub_spark.session import get_spark

    spark = get_spark("pytest", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
