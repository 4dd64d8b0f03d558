"""A run ends every process it started, orphans included."""

import os
import subprocess
import sys
import time

import pytest

from perfbench import procs

pytestmark = pytest.mark.skipif(not sys.platform.startswith("linux"),
                                reason="reads /proc")

#: A child that starts a sleeping grandchild, prints its pid and exits,
#: the way the JVM leaves PySpark's worker daemon behind.
SPAWN = ("import subprocess, sys; p = subprocess.Popen([sys.executable, '-c', "
         "'import time; time.sleep(60)']); print(p.pid, flush=True)")


def test_stop_all_ends_orphaned_grandchild():
    procs.adopt_orphans()
    child = subprocess.Popen([sys.executable, "-c", SPAWN],
                             stdout=subprocess.PIPE, text=True)
    grandchild = int(child.stdout.readline())
    child.wait()
    child.stdout.close()
    assert grandchild in procs.descendants()

    assert procs.stop_all(grace=0.2) == 1
    assert procs.descendants() == []
    assert not os.path.exists(f"/proc/{grandchild}")


def _state(pid):
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()[0]


def test_stop_all_reaps_an_exited_child():
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    while _state(child.pid) != "Z":
        time.sleep(0.01)
    assert child.pid in procs.descendants()   # a zombie still counts

    procs.stop_all(grace=5.0)
    assert not os.path.exists(f"/proc/{child.pid}")
