"""session.get_spark starts the Python worker pool in the background when
it creates the SparkContext.  Each check runs in a subprocess with a
fresh JVM: the test session's context already exists in this process."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = r"""
import json, os, threading
from pyspark import SparkContext
from raster2points_spark.session import START_PYTHON_GROUP, get_spark

def starters():
    return [t for t in threading.enumerate() if t.name == START_PYTHON_GROUP]

spark = get_spark("test_session", shuffle_partitions=2)
sc = spark.sparkContext
threads = starters()
for t in threads:
    t.join(timeout=240)
alive = any(t.is_alive() for t in threads)
get_spark("test_session")
threads_second = len(starters())
sc._jsc.sc().listenerBus().waitUntilEmpty()
tracker = sc.statusTracker()
ids = list(tracker.getJobIdsForGroup(START_PYTHON_GROUP))
out = {
    "threads": len(threads),
    "alive": alive,
    "threads_second": threads_second,
    "ids": ids,
    "status": [str(tracker.getJobInfo(i).status) for i in ids],
    "ungrouped": list(tracker.getJobIdsForGroup(None)),
    "persisted": sc._jsc.getPersistentRDDs().size(),
}
rows = spark.range(8, numPartitions=4).mapInArrow(lambda b: b, "id long").collect()
jvm = SparkContext._gateway.proc.pid
daemons = 0
for pid in filter(str.isdigit, os.listdir("/proc")):
    try:
        with open(f"/proc/{pid}/stat") as fh:
            ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        continue
    daemons += ppid == jvm and b"raster2points_spark._pydaemon" in cmd
out["rows"] = len(rows)
out["daemons"] = daemons
spark.stop()
print("RESULT " + json.dumps(out))
"""


def _run(code: str) -> subprocess.CompletedProcess:
    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_DRIVER_MEM="1g")
    return subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_fresh_session_starts_the_python_workers_once():
    p = _run(_PROBE)
    assert p.returncode == 0, p.stderr[-3000:]
    line = [x for x in p.stdout.splitlines() if x.startswith("RESULT ")][-1]
    r = json.loads(line[len("RESULT "):])
    # one background thread ran one job, in its own group, and it succeeded
    assert r["threads"] == 1 and not r["alive"]
    assert len(r["ids"]) == 1 and r["status"] == ["SUCCEEDED"]
    assert r["ids"][0] not in r["ungrouped"]
    # a call on the live context starts nothing
    assert r["threads_second"] == 0
    assert r["persisted"] == 0
    # the user's Arrow job ran on the daemon the start job spawned
    assert r["rows"] == 8
    assert r["daemons"] == 1


def test_stop_right_after_get_spark_exits_cleanly():
    p = _run(
        "from raster2points_spark.session import get_spark\n"
        "get_spark('test_session_stop').stop()\n"
    )
    assert p.returncode == 0, p.stderr[-3000:]
    assert "Traceback" not in p.stderr, p.stderr[-3000:]
