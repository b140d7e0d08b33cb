"""Session factory: required confs, and an explicit argument winning
over them."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import sys
sys.path.insert(0, {repo!r})
from dbt_spark_models_spark.session import ensure_session_confs, get_spark
key = "spark.sql.shuffle.partitions"
spark = get_spark("session-child", master="local[1]", shuffle_partitions=3)
print("EXPLICIT", ensure_session_confs(spark).conf.get(key))
print("DEFAULT", get_spark("session-child", master="local[1]").conf.get(key))
print("TZ", spark.conf.get("spark.sql.session.timeZone"))
spark.stop()
"""


def test_explicit_shuffle_partitions_survive():
    """`get_spark(shuffle_partitions=N)` on a new session reads back N
    (the required default used to be re-applied over it after
    getOrCreate); a call without the argument still ends at 32, and the
    other required confs are applied."""
    out = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=REPO)],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=300,
        env={**os.environ, "SPARK_DRIVER_MEMORY": "512m"},
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = dict(
        line.split(" ", 1)
        for line in out.stdout.splitlines()
        if line.startswith(("EXPLICIT ", "DEFAULT ", "TZ "))
    )
    assert got == {"EXPLICIT": "3", "DEFAULT": "32", "TZ": "UTC"}, out.stdout
