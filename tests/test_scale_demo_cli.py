"""``jobs/scale_demo.py`` rejects a non-positive ``--hosts``/``--seeds`` at
parse time. The script runs with pyspark made unimportable, so exit status 2
with argparse's message shows the rejection comes before any Spark session
could start (a Spark start would die with ImportError, status 1)."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

SCRIPT = Path(__file__).resolve().parent.parent / "jobs" / "scale_demo.py"

_RUN_WITHOUT_PYSPARK = (
    "import runpy, sys\n"
    "sys.modules['pyspark'] = None\n"
    "sys.argv = sys.argv[1:]\n"
    "runpy.run_path(sys.argv[0], run_name='__main__')\n"
)


@pytest.mark.parametrize(
    "args, flag",
    [(["--hosts", "0"], "--hosts"), (["--seeds", "-3"], "--seeds"),
     (["--hosts", "ten"], "--hosts")],
)
def test_non_positive_size_exits_2_before_spark(args, flag):
    out = subprocess.run(
        [sys.executable, "-c", _RUN_WITHOUT_PYSPARK, str(SCRIPT), *args],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 2, out.stderr[-2000:]
    assert f"argument {flag}:" in out.stderr
    assert "Traceback" not in out.stderr
