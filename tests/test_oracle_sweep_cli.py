"""tools/oracle_sweep.py's command line: repeated ``--only`` flags
accumulate their patterns (``nargs="*"`` alone keeps only the last
flag's, so ``--only a --only b`` would run only ``b``). Patterns that
match no query make the sweep exit 2 naming each of them, before any
Spark session starts."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_repeated_only_flags_accumulate():
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "oracle_sweep.py"),
         "--only", "no_such_a*", "--only", "no_such_b", "no_such_c"],
        capture_output=True, text=True, timeout=120)
    assert r.returncode == 2, r.stderr
    assert "no query matches no_such_a* no_such_b no_such_c" in r.stderr, \
        r.stderr
