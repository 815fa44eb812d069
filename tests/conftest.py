import os
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from crawlspark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # Test data is tiny: four task slots and a 4 GiB heap are plenty.
    # Under get_spark's 48 GiB default the JVM grows past 14 GB during the
    # suite, more than a 16 GB machine can spare.
    s = get_spark("tests", master="local[4]", shuffle_partitions=4,
                  extra_conf={"spark.driver.memory":
                              os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")})
    yield s
    s.stop()


@pytest.fixture
def random_keys():
    """``draw(n, seed)`` → n random (h1, h2) uint64 key hashes, as the
    JVM's xxhash64 pair; distinct seeds give disjoint key sets (collisions
    aside, ~2^-64)."""
    def draw(n, seed):
        rng = np.random.default_rng(seed)
        return tuple(rng.integers(0, 2**64 - 1, size=n, dtype=np.uint64, endpoint=True)
                     for _ in range(2))
    return draw

