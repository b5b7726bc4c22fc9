"""A query built on a cluster survives losing every executor.

On a non-local master ``materialize`` writes reliable checkpoints to
``spark.checkpoint.dir``, so the materialized blocks do not die with the
executor that computed them.  A subprocess starts ``local-cluster[2,1,1024]``
(two executor JVMs), builds ``dedup_cluster_components`` (its edge
materialization and the ``iterate`` rounds), SIGKILLs every executor JVM of
its own application, then collects and compares with the DuckDB oracle.
With ``localCheckpoint`` the collect fails with
CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
"""

from __future__ import annotations

import json
import os
import pathlib
import signal
import subprocess
import sys
import time
from types import SimpleNamespace

import pytest

from hackatonbigdata_spark.functions.materialize import materialize
from tests.conftest import SF_DIR

ROOT = pathlib.Path(__file__).resolve().parents[1]
QUERY = "dedup_cluster_components"

CHILD = """
import json, os, signal, sys, time

from pyspark.sql import SparkSession

from hackatonbigdata_spark.oracle import check_query
from hackatonbigdata_spark.registry import all_oracles, all_queries

sf_dir, ckpt, name = sys.argv[1:4]
spark = (
    SparkSession.builder.master("local-cluster[2,1,1024]")
    .config("spark.checkpoint.dir", ckpt)
    .config("spark.driver.memory", "1g")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
app = spark.sparkContext.applicationId
df = all_queries()[name](spark, sf_dir)


def executors():
    # this application's executor JVMs, matched on the exact argv
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            if os.stat(f"/proc/{pid}").st_uid != os.getuid():
                continue
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().decode().split("\\0")
        except OSError:
            continue
        if (
            os.path.basename(argv[0]) == "java"
            and "org.apache.spark.executor.CoarseGrainedExecutorBackend" in argv
            and "--app-id" in argv
            and argv[argv.index("--app-id") + 1] == app
        ):
            pids.append(int(pid))
    return pids


def alive(pid):
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


killed = executors()
for pid in killed:
    os.kill(pid, signal.SIGKILL)
deadline = time.time() + 60
while any(map(alive, killed)) and time.time() < deadline:
    time.sleep(0.2)
try:
    res = check_query(spark, sf_dir, name, lambda *_: df, all_oracles()[name])
    ok, detail = res.ok, res.detail
except Exception as exc:  # report the cause, not the shutdown noise after it
    ok, detail = False, str(exc)[:2000]
print(json.dumps({"killed": len(killed), "ok": ok, "detail": detail}))
spark.stop()
"""


def _tree_rss_kb(root: int) -> int:
    """Summed VmRSS of ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                total += sum(int(l.split()[1]) for l in f if l.startswith("VmRSS:"))
        except OSError:
            pass
    return total


def test_materialized_query_survives_losing_every_executor(tmp_path, capsys):
    env = dict(os.environ, PYTHONPATH=str(ROOT))
    out, err = tmp_path / "stdout.log", tmp_path / "stderr.log"
    t0 = time.time()
    with open(out, "w") as fo, open(err, "w") as fe:
        proc = subprocess.Popen(
            [sys.executable, "-c", CHILD, SF_DIR, str(tmp_path / "ckpt"), QUERY],
            cwd=tmp_path,
            env=env,
            stdout=fo,
            stderr=fe,
            start_new_session=True,
        )
        peak_kb = 0
        try:
            while proc.poll() is None and time.time() - t0 < 600:
                peak_kb = max(peak_kb, _tree_rss_kb(proc.pid))
                time.sleep(0.25)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    wall = time.time() - t0
    with capsys.disabled():
        print(
            f"\n{QUERY} on local-cluster[2,1,1024]: {wall:.1f} s, "
            f"peak RSS of the process tree {peak_kb / 1024:.0f} MB"
        )
    assert proc.returncode == 0, err.read_text()[-3000:]
    res = json.loads(out.read_text().strip().splitlines()[-1])
    assert res["killed"] == 2, res
    assert res["ok"], res["detail"]


class _FakeFrame:
    """Just what ``materialize`` reads and calls, recording the call."""

    def __init__(self, master, checkpoint_dir="/shared/ckpt"):
        ctx = SimpleNamespace(
            master=master,
            defaultParallelism=4,
            getCheckpointDir=lambda: checkpoint_dir,
        )
        self.sparkSession = SimpleNamespace(sparkContext=ctx)

    def localCheckpoint(self, eager):
        return ("localCheckpoint", eager)

    def checkpoint(self, eager):
        return ("checkpoint", eager)


@pytest.mark.parametrize(
    "master, mechanism",
    [
        ("local", "localCheckpoint"),
        ("local[4]", "localCheckpoint"),
        ("local[*]", "localCheckpoint"),
        ("local-cluster[2,1,1024]", "checkpoint"),
        ("spark://host:7077", "checkpoint"),
        ("yarn", "checkpoint"),
    ],
)
def test_materialize_picks_the_mechanism_from_the_master(master, mechanism):
    assert materialize(_FakeFrame(master)) == (mechanism, True)


def test_materialize_off_local_needs_a_checkpoint_dir():
    with pytest.raises(RuntimeError, match="spark.checkpoint.dir"):
        materialize(_FakeFrame("local-cluster[2,1,1024]", checkpoint_dir=None))
