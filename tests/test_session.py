"""Session defaults derived from the host."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = """
import json
from pg_iui_ner_api_spark.session import get_spark
s = get_spark(app_name="defaults")
print(json.dumps({"master": s.sparkContext.master,
                  "shuffle": s.conf.get("spark.sql.shuffle.partitions")}))
s.stop()
"""


def test_default_cores_and_shuffle_partitions_follow_the_host():
    """With no SPARK_GRAFT_* in the environment the master runs one
    thread per CPU this process may use, and shuffle partitions default
    to 32 — not to the core count."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_DRIVER_MEM"] = "1g"  # a small heap: the child only starts
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    out = subprocess.run(
        [sys.executable, "-c", _CHILD], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=180, check=True,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    cores = len(os.sched_getaffinity(0))
    assert got == {"master": f"local[{cores}]", "shuffle": "32"}
