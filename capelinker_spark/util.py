"""Runtime plumbing shared by entry points."""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import zipfile

_ADDED: set[int] = set()


def ensure_workers_importable(spark) -> None:
    """Ship the capelinker_spark package to Python workers via addPyFile.

    The driver process may import this package from a cwd-relative path;
    executors' Python workers unpickle pandas UDFs and need the module on
    THEIR sys.path regardless of the launch directory — the
    ``spark-submit --py-files`` behaviour, established at runtime. A
    package that is not a directory on disk was itself imported from a
    ``--py-files`` zip, which the workers already have: nothing ships."""
    sc = spark.sparkContext
    if id(sc) in _ADDED:
        return
    if os.path.isdir(_pkg_dir()):
        sc.addPyFile(_process_zip())
    _ADDED.add(id(sc))


def _pkg_dir() -> str:
    import capelinker_spark

    return os.path.dirname(os.path.abspath(capelinker_spark.__file__))


@functools.cache
def _process_zip() -> str:
    """This process's package zip, built once into a private temp directory
    removed at exit: no other process or recycled pid can have written it."""
    d = tempfile.mkdtemp(prefix="capelinker_pyfiles_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return build_pyfiles_zip(os.path.join(d, "capelinker_spark_pyfiles.zip"))


def build_pyfiles_zip(zpath: str) -> str:
    """Package capelinker_spark into a ``--py-files`` zip. Ships .py AND .c:
    workers compile the native string-distance kernel locally
    (functions/_native.py); without the source in the zip a real cluster
    would silently fall back to the 25x-slower Python kernel. Raises if
    the package directory holds no such file (an empty zip ships nothing)."""
    pkg_dir = _pkg_dir()
    files = [
        os.path.join(root, f)
        for root, _, names in os.walk(pkg_dir)
        for f in names
        if f.endswith((".py", ".c"))
    ]
    if not files:
        raise RuntimeError(f"no package sources to ship under {pkg_dir}")
    tmp = zpath + f".tmp{os.getpid()}"
    with zipfile.ZipFile(tmp, "w") as z:
        for full in files:
            z.write(full, os.path.relpath(full, os.path.dirname(pkg_dir)))
    os.replace(tmp, zpath)
    return zpath
