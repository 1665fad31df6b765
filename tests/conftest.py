import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from diagonal_b6_spark.session import get_spark

    s = get_spark("pytest", shuffle_partitions=8)
    yield s
    s.stop()
