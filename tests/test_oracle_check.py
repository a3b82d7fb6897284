"""tools/oracle_check.py refuses to pass a run that checks nothing."""

import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_unknown_slot_name_exits_nonzero(sf_dir):
    out = subprocess.run(
        [sys.executable, "tools/oracle_check.py", sf_dir, "nosuchslot"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode != 0
    assert "nosuchslot" in out.stderr
    assert "all queries match" not in out.stdout
