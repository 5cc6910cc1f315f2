"""The native trie-walk kernel's edges (Spark-free): output buffers too
small for the hits, a query far longer than any word, a host without a
C compiler, a cache directory other users can write to, workers
compiling into one cache at once, and the source compiling
warning-free."""

import itertools
import os
import resource
import subprocess
import sys
import textwrap
import time
import warnings
from pathlib import Path

import pytest

from prefixtree_spark.functions import native
from prefixtree_spark.functions.levenshtein import QueryBatch
from prefixtree_spark.operators.query import _walk
from tests.test_local_walk import _brute, _index, _python_walk, _queries, _vocabulary

ROOT = Path(__file__).resolve().parent.parent
needs_cc = pytest.mark.skipif(native._compiler() is None, reason="no C compiler on PATH")


def _rows(idx, qs, k):
    qi, pos, d = _walk(idx, QueryBatch(qs), k)
    return sorted((qs[i], idx.labels[p], int(x)) for i, p, x in zip(qi, pos, d))


@needs_cc
def test_output_overflow_reruns_with_room(monkeypatch):
    """Many hits per query at k=3 overflow the first output buffers
    (16 per query + 64); the walk runs again with room for all of them
    and returns the fallback's rows."""
    words = ["".join(t) for n in range(1, 7) for t in itertools.product("ab", repeat=n)]
    idx = _index(words)
    qs = ["ab", "aab", "bab", "abba", "baba", "bbbb", "a", "aaaaa"]
    fn = native.load()
    calls = []

    def counting(*args):
        calls.append(args[-1])
        return fn(*args)

    with monkeypatch.context() as m:
        m.setattr(native, "load", lambda: counting)
        got = _rows(idx, qs, 3)
    assert len(got) > 16 * len(qs) + 64
    assert len(calls) == 2 and calls[1] == len(got)
    assert got == sorted((q, w, d) for q in qs for w, d in _python_walk(idx, q, 3))
    assert got == sorted((q, w, d) for q in qs for w, d in _brute(words, q, 3))


@needs_cc
def test_long_query_walks_in_window_memory():
    """A 100,000-char query: pruned at the roots against short words,
    and walked 99,997 chars deep against a word as long, with one
    (2k+1)-cell window per depth — a full DP row per depth would be
    O(n^2), tens of GB."""
    n = 100_000
    long_word = "a" * n
    words = _vocabulary(0, "ab")
    idx = _index(words + [long_word])
    rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    t = time.perf_counter()
    assert idx.search("b" * n, 2) == []
    q = "a" * (n - 3) + "bbb"
    assert idx.search(q, 2) == []
    assert idx.search(q, 3) == [(long_word, 3)]
    assert sorted(idx.search_many([q, "ab"], 2)) == [
        ("ab", w, d) for w, d in _brute(words, "ab", 2)
    ]
    assert time.perf_counter() - t < 30
    # ru_maxrss is in KiB; the windows need ~2 MB, the labels ~1 MB
    assert resource.getrusage(resource.RUSAGE_SELF).ru_maxrss - rss < 256 * 1024


def test_fallback_warns_once_naming_the_cause(monkeypatch, tmp_path):
    """Without a compiler the walk falls back to ``_walk_one``: ONE
    warning naming the cause, the same rows, and ``status`` reports
    it."""
    words = _vocabulary(2, "aé中𝄞")
    idx = _index(words)
    qs = _queries(2, "aé中𝄞", words)
    want = {k: _rows(idx, qs, k) for k in range(4)}
    want_one = {k: [idx.search(q, k) for q in qs] for k in range(4)}
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))  # no cached build
    monkeypatch.setattr(native, "_compiler", lambda: None)
    monkeypatch.setattr(native, "_state", None)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        for k in range(4):
            assert _rows(idx, qs, k) == want[k]
            assert [idx.search(q, k) for q in qs] == want_one[k]
    assert len(caught) == 1
    assert issubclass(caught[0].category, RuntimeWarning)
    assert "no C compiler" in str(caught[0].message)
    assert native.status() == {
        "kernel": "python",
        "kernel_cause": "OSError: no C compiler (cc or gcc) on PATH",
    }


TRAP = r"""
#include <stdio.h>
__attribute__((constructor)) static void trap(void) {
    FILE *f = fopen(MARKER, "w");
    if (f) fclose(f);
}
long pt_walk(void) { return -1; }
"""


@needs_cc
@pytest.mark.parametrize("shared", ["world-writable", "other-owner"])
def test_cache_directory_of_others_is_refused(monkeypatch, tmp_path, shared):
    """A cache directory another user could have written to — mode 0777,
    or owned by someone else — is refused before anything in it is
    loaded: a library planted there under the kernel's exact name never
    runs, and the walk falls back to Python naming the directory."""
    if shared == "other-owner" and os.getuid() != 0:
        pytest.skip("handing a directory to another user needs root")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "private"))
    name = os.path.basename(native._build())  # the name the loader looks for
    marker = tmp_path / "trap-ran"
    planted = tmp_path / "shared" / "prefixtree_spark"
    planted.mkdir(parents=True)
    (tmp_path / "trap.c").write_text(TRAP.replace("MARKER", f'"{marker}"'))
    subprocess.run(
        [native._compiler(), "-shared", "-fPIC", "-o", str(planted / name),
         str(tmp_path / "trap.c")],
        check=True, capture_output=True, timeout=120,
    )
    if shared == "world-writable":
        planted.chmod(0o777)
    else:
        os.chown(planted, 65534, 65534)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "shared"))
    monkeypatch.setattr(native, "_state", None)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        status = native.status()
    assert not marker.exists()
    assert status["kernel"] == "python"
    assert str(planted) in status["kernel_cause"]
    assert len(caught) == 1 and str(planted) in str(caught[0].message)
    words = _vocabulary(1, "ab")
    idx = _index(words)
    assert sorted(idx.search("ab", 1)) == sorted(_brute(words, "ab", 1))


CHILD = textwrap.dedent(
    """
    import sys, time
    start = float(sys.argv[1])
    time.sleep(max(0.0, start - time.time()))
    from prefixtree_spark.functions import native
    print(native.status()["kernel"])
    """
)


@needs_cc
def test_concurrent_first_compiles_share_one_cache(tmp_path):
    """Two processes compiling into one fresh cache at the same moment
    both load a complete library, and the cache ends with that one
    file and no temporaries."""
    env = {**os.environ, "XDG_CACHE_HOME": str(tmp_path)}
    start = str(time.time() + 2.0)
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", CHILD, start],
            cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for _ in range(2)
    ]
    outs = [p.communicate(timeout=120) for p in procs]
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0, err
        assert out.split() == ["native"], err
    files = sorted(os.listdir(tmp_path / "prefixtree_spark"))
    assert len(files) == 1 and files[0].endswith(".so"), files


@needs_cc
def test_kernel_compiles_without_warnings(tmp_path):
    src = ROOT / "prefixtree_spark" / "functions" / "walk.c"
    res = subprocess.run(
        [native._compiler(), "-O2", "-shared", "-fPIC", "-Wall", "-Wextra", "-Werror",
         "-o", str(tmp_path / "walk.so"), str(src)],
        capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr
