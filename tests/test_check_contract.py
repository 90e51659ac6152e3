"""The local contract checker must not pass vacuously: an unknown query
name is refused before anything runs, instead of running nothing and
reporting success."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_check_contract_rejects_unknown_names():
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_contract.py"),
         os.path.join(ROOT, "no-such-sf-dir"), "kg_triples", "kg_tripels"],
        capture_output=True, text=True, timeout=120, cwd=ROOT,
    )
    assert proc.returncode == 2
    assert proc.stderr.strip().endswith("unknown query name(s): kg_tripels")
