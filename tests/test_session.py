"""Session defaults that must hold on any box."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_cpus_is_usable_core_count_when_env_unset():
    # In a fresh interpreter: DEFAULT_CPUS is read once, at import.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            "import os\n"
            "from cloudcomputing_flink_application_spark import session\n"
            "print(session.DEFAULT_CPUS, len(os.sched_getaffinity(0)))",
        ],
        capture_output=True,
        text=True,
        cwd=ROOT,
        env=env,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    default, usable = map(int, proc.stdout.split())
    assert default == usable >= 1
