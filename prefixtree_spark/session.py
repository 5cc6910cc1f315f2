"""SparkSession factory with the engine's default tuning.

Local-mode settings mirror what a real cluster deployment would set:
AQE on (runtime broadcast selection, skew-join splitting, partition
coalescing), Arrow on (every kernel is an Arrow-batched pandas
function), shuffle partitions sized to the parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _daemon_module() -> str | None:
    """Name of the numpy/pandas/pyarrow-preloading worker daemon
    (``prefixtree_spark.daemon``), or None when it cannot work.

    Every kernel here crosses the Python boundary through Arrow, so a
    session's first task wave forks one worker per core and each fork
    pays the full scientific-stack import (~0.6-0.9 s each, measured in
    the r13 bench's first-entry cold runs). Preloading in the daemon
    parent shares those pages copy-on-write with every fork. The module
    must be importable by the worker interpreter via ``python -m``, so
    the package's parent directory must be on the path workers inherit
    from this driver: ``PYTHONPATH``, the working directory (``-m``
    puts it first on ``sys.path``, and local workers start in the
    driver's) or the site dirs. A driver that reaches the package only
    through its own runtime ``sys.path`` edits passes a driver-side
    import, yet every daemon launch would die (``EOFException ...
    reading the port number``); with the stock daemon the same setup
    fails with ``ModuleNotFoundError: prefixtree_spark``, which names
    the cause. A zip/egg-shipped package cannot host a ``-m`` daemon
    entry either.
    Kill switch: PREFIXTREE_DISABLE_DAEMON_PRELOAD=1."""
    if os.environ.get("PREFIXTREE_DISABLE_DAEMON_PRELOAD"):
        return None
    try:
        from prefixtree_spark import daemon as _d  # noqa: F401

        path = getattr(_d, "__file__", "") or ""
        if not os.path.isfile(path):
            return None
    except Exception:
        return None
    import site

    inherited = [
        *os.environ.get("PYTHONPATH", "").split(os.pathsep),
        os.getcwd(),
        *site.getsitepackages(),
        site.getusersitepackages(),
    ]
    # the directory holding the package: what a worker's path needs
    parent = os.path.realpath(os.path.dirname(os.path.dirname(path)))
    if parent not in {os.path.realpath(d) for d in inherited if d}:
        return None
    return "prefixtree_spark.daemon"


def get_spark(app_name: str = "prefixtree_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    dm = _daemon_module()
    if dm is not None:
        builder = builder.config("spark.python.daemon.module", dm)
    return builder.getOrCreate()
