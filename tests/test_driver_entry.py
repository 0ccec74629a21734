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


def test_cache_root_keyed_by_code_version():
    """The shared KG store and LSH index caches are resumed across
    processes: a store built by other code must get another root."""
    a = entry._cache_root("kg_entry_store_sf0.01_x", "a" * 40)
    b = entry._cache_root("kg_entry_store_sf0.01_x", "b" * 40)
    assert a != b
    assert entry._cache_root("kg_entry_store_sf0.01_x", "a" * 40) == a
    assert len(entry._package_digest()) == 40


def test_current_cache_root_removes_other_versions(tmp_path, monkeypatch):
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(entry, "_package_digest", lambda: "c" * 40)
    old = entry._cache_root("kg_lsh_index_d_sf0.01", "d" * 40)
    for path in (old, str(tmp_path / "kg_lsh_index_d_sf0.01"),
                 str(tmp_path / "kg_lsh_index_d_sf0.1")):
        os.makedirs(path)
    root = entry._current_cache_root("kg_lsh_index_d_sf0.01")
    assert root == entry._cache_root("kg_lsh_index_d_sf0.01", "c" * 40)
    assert sorted(os.listdir(tmp_path)) == ["kg_lsh_index_d_sf0.1"]
