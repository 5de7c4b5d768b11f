"""Ship this package to Spark Python workers.

Data-source classes, Pandas-UDF closures, and reducers are cloudpickled BY
REFERENCE: the worker process must be able to ``import eth_event_stream_spark``.
That holds only if the driver happened to run from the repo root. Every entry
point that spawns Python workers calls ``ship_package(spark)`` first — it zips
the package (rebuilt when sources change) and ``addPyFile``s it, which works
for any session including ones we didn't create (the driver harness's).

On a real cluster the same call distributes the package to executors — this
is the deployment story, not a test shim.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

# A physical-plan node that runs Python, as Spark prints it: an
# EvalPython/AggregatePython/WindowPython operator, a map or grouped map
# over Arrow or pandas, a stateful pandas/PySpark operator, or a Python
# data-source scan (BatchScan: this engine's only v2 sources are Python).
PYTHON_PLAN_NODE = r"Python|BatchScan|(MapIn|GroupsIn)Arrow|In(Pandas|PySpark)"

_SHIPPED: set[int] = set()  # id(sparkContext) already handled
_BY_VALUE: set[str] = set()  # module names already registered


def _register_by_value() -> None:
    """Make cloudpickle serialize this package's modules BY VALUE.

    addPyFile covers executor task workers, but the streaming data-source
    planner worker (python_streaming_source_runner) unpickles the source
    before any pyFiles are on its path. By-value pickling makes every
    pickled class/closure self-contained — no import needed anywhere.

    Re-scans sys.modules on EVERY call: modules imported after the first
    ship_package (e.g. the data source registered later than the first
    pandas-UDF operator) must still be covered — a one-shot flag would
    silently skip them and reintroduce worker ModuleNotFoundError.
    """
    import sys

    from pyspark import cloudpickle

    for name, mod in list(sys.modules.items()):
        if (
            name.startswith("eth_event_stream_spark")
            and mod is not None
            and name not in _BY_VALUE
        ):
            cloudpickle.register_pickle_by_value(mod)
            _BY_VALUE.add(name)


def build_pkg_zip(pkg_dir: str, out_dir: str | None = None) -> str:
    """Zip ``pkg_dir`` (as a top-level package) into a CONTENT-ADDRESSED
    archive and return its path.

    The zip filename embeds a hash of the sorted (relpath, size, mtime)
    manifest, so staleness is structural, not newest-mtime: deleting or
    renaming a module changes the manifest, changes the hash, and builds a
    fresh archive — a newest-mtime check would happily keep serving a zip
    that still contains the deleted module (workers could import the ghost).
    Distinct users/checkouts also get distinct filenames instead of
    colliding on one world-shared /tmp path. Existing archive for the same
    hash = identical content, reused as-is; builds write to a temp file and
    rename into place, so concurrent builders race benignly.
    """
    pkg_dir = os.path.abspath(pkg_dir)
    root = os.path.dirname(pkg_dir)
    files: list[tuple[str, str]] = []
    manifest = hashlib.sha256()
    for dirpath, dirs, names in os.walk(pkg_dir):
        dirs.sort()  # deterministic walk order -> deterministic hash
        for f in sorted(names):
            if f.endswith(".py"):
                full = os.path.join(dirpath, f)
                rel = os.path.relpath(full, root)
                files.append((full, rel))
                st = os.stat(full)
                manifest.update(
                    f"{rel}\x00{st.st_size}\x00{st.st_mtime_ns}\x01".encode()
                )
    digest = manifest.hexdigest()[:16]
    out_dir = out_dir or tempfile.gettempdir()
    zpath = os.path.join(out_dir, f"eth_event_stream_spark_pkg_{digest}.zip")
    if not os.path.exists(zpath):
        fd, tmp = tempfile.mkstemp(suffix=".zip", dir=out_dir)
        os.close(fd)
        with zipfile.ZipFile(tmp, "w") as z:
            for full, rel in files:
                z.write(full, rel)
        os.replace(tmp, zpath)  # atomic: readers never see a partial zip
    return zpath


def ship_package(spark) -> None:
    _register_by_value()  # every call — late-imported modules must register
    sc = spark.sparkContext
    if id(sc) in _SHIPPED:
        return
    zpath = build_pkg_zip(os.path.dirname(os.path.abspath(__file__)))
    sc.addPyFile(zpath)
    _SHIPPED.add(id(sc))
