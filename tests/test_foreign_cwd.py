"""The driver contract from a foreign working directory.

Python workers start in the driver's working directory, so they can
import ``parquet_batch_spark`` only by accident when the driver runs
from the repo.  The ops below ship Python functions to workers; they
must still run when the contract is imported from anywhere else.
"""

from __future__ import annotations

import os
import subprocess
import sys

from conftest import REPO

UDF_OPS = (
    "udtf_bigram_topk",
    "udaf_pandas_exact_sum",
    "apply_in_pandas_profile",
    "multimodal_decode_features",
)

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
import __spark_entry__ as e
qs = e.queries()
for name in {ops!r}:
    print(name, len(qs[name](spark, {sf!r}).collect()), flush=True)
spark.stop()
"""


def test_udf_ops_run_from_foreign_cwd(sf_smoke, tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    script = _SCRIPT.format(repo=REPO, ops=UDF_OPS, sf=sf_smoke)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    counts = dict(line.split() for line in proc.stdout.splitlines())
    assert set(counts) == set(UDF_OPS), proc.stdout
    assert all(int(n) > 0 for n in counts.values()), counts
