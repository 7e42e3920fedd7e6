"""moca_spark.session: what a session leaves behind on disk."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TWO_SESSIONS = """
from moca_spark.session import get_spark

for _ in range(2):
    s = get_spark(master="local[1]", shuffle_partitions=1)
    assert s.range(3).count() == 3
    s.stop()
"""


def test_shipped_package_removed_at_exit(tmp_path):
    """Every get_spark ships moca_spark as a zip in a fresh temp dir;
    nothing removed those dirs, so each process left one per session.
    Two sessions in one process now share one zip, and its dir is gone
    once the process exits."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = {**os.environ, "TMPDIR": str(tmp), "MOCA_DRIVER_MEM": "1g",
           "PYTHONPATH": ROOT}
    subprocess.run([sys.executable, "-c", TWO_SESSIONS], env=env, cwd=tmp_path,
                   check=True, timeout=300)
    assert not [p for p in os.listdir(tmp) if p.startswith("moca-pyfiles-")]
