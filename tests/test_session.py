from __future__ import annotations

import json
import os
import subprocess
import sys

from datasketches_server_spark.session import driver_memory

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_FRESH_SESSION = """
import json
from datasketches_server_spark.session import get_spark
spark = get_spark("session-test", cores=2)
print(json.dumps(list(spark.sparkContext.statusTracker().getJobIdsForGroup(None))))
spark.stop()
"""


def test_fresh_session_runs_no_jobs():
    """Creating a session runs no Spark job: no query work is hidden in
    session start-up."""
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", _FRESH_SESSION],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300, check=True,
    )
    assert json.loads(out.stdout.strip().splitlines()[-1]) == []


def test_driver_memory_from_meminfo(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert driver_memory("MemTotal:       16479424 kB\nMemFree: 1 kB\n") == "6g"
    assert driver_memory("MemTotal:         524288 kB\n") == "1g"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory("MemTotal:       16479424 kB\n") == "3g"
