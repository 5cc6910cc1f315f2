"""Loader for the native trie-walk kernel (``walk.c``).

``walk.c`` is compiled on first use with the system C compiler
(``cc``, else ``gcc``; ``-O2 -shared -fPIC``, no ``-march=native``, so
one cache file serves every host of a platform) into a per-user cache:
``$XDG_CACHE_HOME/prefixtree_spark`` or ``~/.cache/prefixtree_spark``.
That directory is created mode 0700 and used only while it belongs to
this user and no one else can write to it: a library planted there by
another user would run as this process. There is no shared fallback
location; with no usable cache directory the walk falls back to Python
(below). The file is named by the source hash and the platform, so an
edited kernel never loads a stale build. The compiler writes a temporary name that ``os.replace``
publishes whole, so workers compiling at once never load a partial
file. The library is loaded with ``ctypes.CDLL``, which releases the
GIL for each call: a replica's handler threads walk in parallel.

Loading happens once per process, on the first walk (or when the
worker daemon preloads it before forking). Without a compiler, or when
the build or load fails, ``load`` returns None after ONE warning that
names the cause, and callers walk with the pure-Python
``operators/query.py`` ``_walk_one`` — same rows, slower.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import shutil
import subprocess
import stat
import sysconfig
import threading
import warnings
from importlib import resources

import numpy as np

# A distance cap past any string length: every word is then within
# reach, so clamping k here changes no result and keeps k + 1 an int32.
_K_CAP = 1 << 30


class Index(ctypes.Structure):
    """``pt_index`` of walk.c: pointers into a LocalIndex's arrays,
    which must outlive it (the index holds both)."""

    _fields_ = [
        (name, ctypes.c_void_p)
        for name in (
            "codes", "code_off", "mins", "maxs", "is_word", "kid_off", "kid_pos", "roots",
        )
    ] + [("n_roots", ctypes.c_int64)]


class _State:
    """The load's outcome: ``pt_walk`` or None, and the fallback's cause."""

    __slots__ = ("fn", "cause")

    def __init__(self, fn, cause):
        self.fn, self.cause = fn, cause


_state: _State | None = None
_lock = threading.Lock()


def _compiler() -> str | None:
    return shutil.which("cc") or shutil.which("gcc")


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    d = os.path.join(base, "prefixtree_spark")
    os.makedirs(d, mode=0o700, exist_ok=True)
    st = os.lstat(d)
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid():
        raise OSError(f"cache directory {d} is not a directory of this user")
    if st.st_mode & (stat.S_IWGRP | stat.S_IWOTH):
        raise OSError(f"cache directory {d} is writable by other users")
    if not os.access(d, os.W_OK):
        raise OSError(f"cache directory {d} is not writable")
    return d


def _build() -> str:
    """Path of the compiled kernel, compiling it if the cache lacks it."""
    src = resources.files(__package__).joinpath("walk.c").read_bytes()
    plat = sysconfig.get_platform()
    tag = hashlib.sha256(src + plat.encode()).hexdigest()[:16]
    path = os.path.join(_cache_dir(), f"walk-{tag}-{plat}.so")
    if os.path.exists(path):
        return path
    cc = _compiler()
    if cc is None:
        raise OSError("no C compiler (cc or gcc) on PATH")
    tmp = f"{path}.{os.getpid()}.{threading.get_ident()}.tmp"
    try:
        with open(tmp + ".c", "wb") as f:
            f.write(src)
        res = subprocess.run(
            [cc, "-O2", "-shared", "-fPIC", "-o", tmp, tmp + ".c"],
            capture_output=True,
            text=True,
        )
        if res.returncode != 0:
            raise OSError(f"{cc} failed: {res.stderr.strip()[-400:]}")
        os.replace(tmp, path)
    finally:
        for leftover in (tmp, tmp + ".c"):
            if os.path.exists(leftover):
                os.unlink(leftover)
    return path


def _load() -> _State:
    try:
        lib = ctypes.CDLL(_build())
        fn = lib.pt_walk
    except Exception as e:  # any failure means the Python walk, never an error
        cause = f"{type(e).__name__}: {e}"
        warnings.warn(
            f"native trie-walk kernel unavailable ({cause}); fuzzy lookups "
            "use the pure-Python walk, with the same results",
            RuntimeWarning,
            stacklevel=4,
        )
        return _State(None, cause)
    vp, i64 = ctypes.c_void_p, ctypes.c_int64
    fn.argtypes = [ctypes.POINTER(Index), vp, vp, i64, i64, vp, vp, vp, i64]
    fn.restype = i64
    return _State(fn, None)


def load():
    """The kernel's ``pt_walk``, or None when it cannot be built."""
    global _state
    st = _state
    if st is None:
        with _lock:
            if _state is None:
                _state = _load()
            st = _state
    return st.fn


def status() -> dict:
    """``{"kernel": "native"}``, or ``{"kernel": "python",
    "kernel_cause": ...}`` when lookups fall back to the Python walk.
    Loads the kernel."""
    if load() is not None:
        return {"kernel": "native"}
    return {"kernel": "python", "kernel_cause": _state.cause}


def _ptr(a: np.ndarray) -> int:
    return a.__array_interface__["data"][0]


def bind(codes, code_off, mins, maxs, is_word, kid_off, kid_pos, roots) -> Index:
    """A ``pt_index`` over arrays already in the kernel's dtypes
    (int32 codes/mins/maxs, bool is_word, int64 offsets and positions),
    all C-contiguous."""
    return Index(
        *(_ptr(a) for a in (codes, code_off, mins, maxs, is_word, kid_off, kid_pos, roots)),
        len(roots),
    )


def walk(fn, index: Index, codes: np.ndarray, offsets: np.ndarray, k: int):
    """Every hit of the queries ``codes[offsets[i]:offsets[i+1]]`` within
    ``k`` edits, as (query index, node row position, distance) arrays.
    The outputs start with room for 16 hits per query (at most ~1M); a
    walk that finds more runs again with room for all of them."""
    k = min(k, _K_CAP)
    n_q = len(offsets) - 1
    cap = min(16 * n_q, 1 << 20) + 64
    while True:
        out_q = np.empty(cap, np.int64)
        out_pos = np.empty(cap, np.int64)
        out_d = np.empty(cap, np.int32)
        got = fn(
            ctypes.byref(index), _ptr(codes), _ptr(offsets), n_q, k,
            _ptr(out_q), _ptr(out_pos), _ptr(out_d), cap,
        )
        if got < 0:
            raise MemoryError("native trie walk ran out of memory")
        if got <= cap:
            return out_q[:got], out_pos[:got], out_d[:got]
        cap = got
