"""The second engine's warehouse root is private to each process, so
two sweeps running at once never read or delete each other's
warehouses."""

from __future__ import annotations

import os
import subprocess
import sys

from local_datalakehouse_phase2_spark.secondengine import wh_dir

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_subprocess_gets_its_own_warehouse_root():
    proc = subprocess.run(
        [sys.executable, "-c",
         "from local_datalakehouse_phase2_spark.secondengine import wh_dir; print(wh_dir('x'))"],
        cwd=_REPO, capture_output=True, text=True, timeout=60, check=True,
    )
    theirs = proc.stdout.strip()
    assert theirs and theirs != wh_dir("x")
    # the child removed its root when it exited
    assert not os.path.exists(os.path.dirname(theirs))
    assert os.path.isdir(os.path.dirname(wh_dir("x")))
