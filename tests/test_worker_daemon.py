"""The worker daemon's zip-directory guard (Spark-free, in a child
interpreter so the patched ``zipimporter`` stays out of this process):
``importlib.invalidate_caches()`` — which every Spark Python task calls
— must not re-read an unchanged archive, and must still pick up a
changed one."""

import subprocess
import sys
import textwrap
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

CHILD = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport
    import prefixtree_spark.daemon  # installs the guard

    path = sys.argv[1]
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("old_mod.py", "X = 1\\n")
    imp = zipimport.zipimporter(path)
    sys.path_importer_cache[path] = imp
    files = imp._files
    importlib.invalidate_caches()  # first call per importer reads once
    files = imp._files
    for _ in range(3):
        importlib.invalidate_caches()
    assert imp._files is files, "unchanged archive was re-read"

    with zipfile.ZipFile(path, "a") as z:
        z.writestr("new_mod.py", "Y = 2\\n")
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert "new_mod.py" in imp._files, "changed archive was not re-read"
    print("ok")
    """
)


def test_invalidate_caches_rereads_only_changed_archives(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", CHILD, str(tmp_path / "a.zip")],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
