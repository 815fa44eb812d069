import os
import shutil
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from crawlspark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # Test data is tiny: four task slots and a 4 GiB heap are plenty, on
    # any machine.
    s = get_spark("tests", master="local[4]", shuffle_partitions=4,
                  extra_conf={"spark.driver.memory":
                              os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def epoch1_run(spark, tmp_path_factory):
    """The first epoch the re-crawl tests start from: a finished scale-0.1
    crawl, run once per session."""
    from crawlspark import synthetic
    from crawlspark.crawl import CrawlConfig, run_crawl

    wh = str(tmp_path_factory.mktemp("wh_epoch1"))
    summary = run_crawl(spark, CrawlConfig(
        warehouse=wh, spec=synthetic.WebSpec(scale=0.1), max_batches=20,
        budget_override=20, compact_every=4))
    return wh, summary


@pytest.fixture
def epoch1_copy(epoch1_run):
    """``copy(wh)`` copies the first-epoch warehouse to ``wh`` and returns
    its run summary, so a test starts its next epoch in a copy.  The
    copied manifests still name the original's data files, which nothing
    writes or deletes."""
    def copy(wh):
        shutil.copytree(epoch1_run[0], wh)
        return epoch1_run[1]
    return copy


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

