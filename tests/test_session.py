"""``get_spark`` leaves the master and the shuffle partition count that a
submit provides in force when the caller passes None."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import json
from rad_ecg_spark.session import get_spark
spark = get_spark(extra_conf={"spark.driver.memory": "1g"})
print(json.dumps({
    "master": spark.sparkContext.master,
    "partitions": spark.conf.get("spark.sql.shuffle.partitions"),
}))
spark.stop()
"""


def test_get_spark_keeps_the_submitted_master_and_partitions():
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        PYSPARK_SUBMIT_ARGS=(
            "--master local[2] --conf spark.sql.shuffle.partitions=3 pyspark-shell"
        ),
    )
    out = subprocess.run(
        [sys.executable, "-c", PROBE],
        env=env, cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {"master": "local[2]", "partitions": "3"}
