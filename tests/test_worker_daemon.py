"""The worker daemon's zip-directory guard (Spark-free, in a child
interpreter so the patched ``zipimporter`` stays out of this process):
``importlib.invalidate_caches()`` — which every Spark Python task calls
— must not re-read an unchanged archive, and must still pick up a
changed one. And the session's choice of the daemon: only when workers
can import the package. And the native trie walk: loaded by the daemon
before it forks, so every worker inherits it."""

import os
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


PATH_CHILD = textwrap.dedent(
    """
    import importlib.util, sys
    root, work = sys.argv[1], sys.argv[2]
    sys.path.insert(0, root)  # an in-process edit no worker inherits
    from prefixtree_spark.session import _daemon_module
    print(_daemon_module())
    spec = importlib.util.spec_from_file_location("pb_run", f"{root}/perfbench/run.py")
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    run.pin_env(work)  # the benchmark's environment: PYTHONPATH names the checkout
    print(_daemon_module())
    """
)


def test_daemon_needs_package_on_worker_path(tmp_path):
    """A driver that reaches the package only through its own sys.path
    edit must not get the preload daemon: workers could not import it
    and every launch would die reading the daemon's port, where the
    stock daemon fails with ModuleNotFoundError naming the package.
    perfbench's pin_env puts the checkout on PYTHONPATH, so the daemon
    is chosen there."""
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "PREFIXTREE_DISABLE_DAEMON_PRELOAD")
    }
    out = subprocess.run(
        [sys.executable, "-c", PATH_CHILD, str(ROOT), str(tmp_path / "work")],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["None", "prefixtree_spark.daemon"]


def test_daemon_chosen_in_this_session(spark):
    """The test suite runs from the checkout root, which workers inherit
    as their working directory: the preload daemon stays on unless its
    kill switch is set."""
    from prefixtree_spark.session import _daemon_module

    want = (
        None
        if os.environ.get("PREFIXTREE_DISABLE_DAEMON_PRELOAD")
        else "prefixtree_spark.daemon"
    )
    assert _daemon_module() == want
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == want


KERNEL_CHILD = textwrap.dedent(
    """
    import prefixtree_spark.daemon  # preloads, as the daemon's parent does
    from prefixtree_spark.functions import native
    print(native._state is not None, native.status()["kernel"])
    """
)


def test_daemon_loads_the_kernel_before_forking(spark):
    """Importing the daemon module loads the native walk before any
    walk runs, and in this session's workers the daemon, the workers'
    parent, has the compiled kernel mapped: every forked worker
    inherits it."""
    from prefixtree_spark.functions import native
    from prefixtree_spark.session import _daemon_module

    want = "native" if native._compiler() else "python"
    out = subprocess.run(
        [sys.executable, "-c", KERNEL_CHILD],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["True", want]

    def probe(_):
        import os

        from prefixtree_spark.functions import native

        try:
            with open(f"/proc/{os.getppid()}/maps") as f:
                mapped = "/prefixtree_spark/walk-" in f.read()
        except OSError:  # no procfs: the parent's mappings are not visible
            mapped = None
        yield mapped, native.status()["kernel"]

    (parent_mapped, kernel), = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    )
    assert kernel == want
    if _daemon_module() is not None and want == "native" and parent_mapped is not None:
        assert parent_mapped
