"""Gate scratch directories (file_indexer_spark/landing.py): every gate
call writes under its own directory, so runs of one gate, back to back
or at once, never delete each other's files, and a process leaves none
of them behind when it exits; the root of a killed process is removed
by the next process that makes one."""

from __future__ import annotations

import os
import signal
import subprocess
import sys

from file_indexer_spark import registry
from file_indexer_spark.parallel import run_parallel

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_returned_frame_survives_a_second_run(spark, sf_smoke):
    """A gate's returned DataFrame reads its own files lazily; running
    the same gate again must not remove them."""
    w1 = registry.QUERIES["w1_index_roundtrip"]
    first = w1(spark, sf_smoke)
    second = w1(spark, sf_smoke)
    rows = first.collect()
    assert rows and rows == second.collect()


def test_concurrent_runs_of_one_gate_agree(spark, sf_smoke):
    """Two overlapping runs of a streaming gate: separate source and
    checkpoint directories, separate memory-sink names, same rows."""
    st1 = registry.QUERIES["st1_streaming_windows"]
    a, b = run_parallel([lambda: st1(spark, sf_smoke).collect()] * 2)
    assert a and a == b


_CHILD = """
import sys
sys.path.insert(0, sys.argv[1])
from file_indexer_spark import landing, registry
from file_indexer_spark.session import get_spark
spark = get_spark("gate-workdir-child", shuffle_partitions=1, cpus=1)
assert registry.QUERIES["w17_orc_roundtrip"](spark, sys.argv[2]).count() > 0
print(landing._root())
"""


def test_exiting_process_leaves_no_gate_dir(tmp_path, sf_smoke):
    env = {**os.environ, "TMPDIR": str(tmp_path), "SPARK_DRIVER_MEMORY": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, REPO, sf_smoke],
        env=env, check=True, capture_output=True, text=True, timeout=600,
    ).stdout
    root = out.strip().splitlines()[-1]
    assert os.path.dirname(root) == str(tmp_path)
    assert not os.path.exists(root)
    assert not [p for p in os.listdir(tmp_path) if p.startswith("fis_")]


_ROOT_CHILD = """
import sys
sys.path.insert(0, sys.argv[1])
from file_indexer_spark import landing
landing.gate_workdir("probe")
print(landing._root(), flush=True)
sys.stdin.readline()
"""


def test_root_of_a_killed_process_is_removed_by_the_next(tmp_path):
    """SIGKILL skips the at-exit cleanup; the next process's first
    gate_workdir removes that root and leaves a live sibling's alone."""
    env = {**os.environ, "TMPDIR": str(tmp_path)}

    def start():
        child = subprocess.Popen([sys.executable, "-c", _ROOT_CHILD, REPO], env=env,
                                 stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        return child, child.stdout.readline().strip()

    killed, dead_root = start()
    live, live_root = start()
    try:
        killed.send_signal(signal.SIGKILL)
        killed.wait(60)
        assert os.path.isdir(dead_root)
        following, root = start()
        following.communicate("\n", timeout=60)
        assert root and not os.path.exists(dead_root)
        assert os.path.isdir(live_root)
    finally:
        live.communicate("\n", timeout=60)
    assert not [p for p in os.listdir(tmp_path) if p.startswith("fis_")]
