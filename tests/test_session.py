"""get_spark must let Python workers import crawlspark when the driver
runs from a directory that does not hold the package."""

import os
import subprocess
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)

SCRIPT = f"""
import sys
sys.path.insert(0, {REPO!r})
from crawlspark.session import get_spark

def gen(batches):
    import crawlspark
    for pdf in batches:
        pdf["v"] = crawlspark.__version__
        yield pdf

spark = get_spark("workers-import", master="local[1]", shuffle_partitions=1)
print("VERSIONS", sorted({{r["v"] for r in spark.range(2).mapInPandas(
    gen, schema="id long, v string").collect()}}))
spark.stop()
"""


def test_workers_import_package_from_any_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "VERSIONS ['0.1.0']" in out.stdout
