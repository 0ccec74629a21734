"""Driver-contract invariants of ``__spark_entry__``: the verified
window is oracle-backed, and per-process exports do not outlive the
process."""

import os
import subprocess
import sys

import __spark_entry__ as entry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the driver verifies the first 50 ``queries()`` entries
DRIVER_WINDOW = 50


def test_driver_window_is_oracle_backed():
    names = list(entry.queries())
    assert len(names) >= DRIVER_WINDOW
    oracles = entry.oracle_sql()
    missing = [n for n in names[:DRIVER_WINDOW] if n not in oracles]
    assert not missing, f"window entries without an oracle: {missing}"


def test_every_query_has_an_oracle():
    assert set(entry.queries()) == set(entry.oracle_sql())


_SCRIPT = f"""
import os, sys
sys.path.insert(0, {REPO!r})
import __spark_entry__ as e
path = e._export("probe")
os.makedirs(path)
with open(os.path.join(path, "part-0.parquet"), "w") as f:
    f.write("x")
print(os.path.dirname(path))
"""


def test_exports_removed_at_exit():
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT], capture_output=True, text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    root = out.stdout.strip().splitlines()[-1]
    assert os.path.basename(root).startswith("kg_entry_")
    assert not os.path.exists(root)
