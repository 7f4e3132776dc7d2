"""The engine's Python-worker daemon (``map_reduce_folds_spark.pyworker``):
an unchanged zip on ``sys.path`` is not re-read on every task, a changed
one is, and the daemon loads no pandas or pyarrow before it forks."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(code: str, *args: str) -> str:
    """Run ``code`` in a fresh interpreter that imports from this
    checkout; return its stdout."""
    env = dict(os.environ, PYTHONPATH=ROOT)
    out = subprocess.run([sys.executable, "-c", textwrap.dedent(code), *args],
                         env=env, capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    return out.stdout


def test_guarded_invalidation_rereads_only_a_changed_zip(tmp_path):
    _run("""
        import importlib, sys, zipfile

        from map_reduce_folds_spark import pyworker

        zp = sys.argv[1]
        with zipfile.ZipFile(zp, "w") as z:
            z.writestr("mrf_probe_a.py", "A = 1")
        sys.path.insert(0, zp)
        import mrf_probe_a
        imp = sys.path_importer_cache[zp]

        # unguarded, every invalidation re-reads the archive
        files = imp._files
        importlib.invalidate_caches()
        assert imp._files is not files

        pyworker.install()
        files = imp._files
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert imp._files is files, "unchanged zip was re-read"

        with zipfile.ZipFile(zp, "a") as z:
            z.writestr("mrf_probe_b.py", "B = 2")
        importlib.invalidate_caches()
        assert imp._files is not files, "rewritten zip was not re-read"
        import mrf_probe_b
        assert (mrf_probe_a.A, mrf_probe_b.B) == (1, 2)
        """, str(tmp_path / "probe.zip"))


def test_daemon_import_loads_no_pandas_or_pyarrow():
    # what ``python -m map_reduce_folds_spark.pyworker pyspark.worker``
    # imports and runs before the daemon loop starts forking
    out = _run("""
        import sys
        sys.argv = [sys.argv[0], "pyspark.worker"]

        import map_reduce_folds_spark.pyworker as w
        from pyspark import daemon

        w.install()
        print(sorted(m for m in ("pandas", "pyarrow",
                                 "map_reduce_folds_spark.core",
                                 "map_reduce_folds_spark.session")
                     if m in sys.modules))
        """)
    assert out.strip() == "[]"


def test_session_uses_the_engine_daemon(spark):
    assert (spark.sparkContext.getConf().get("spark.python.daemon.module")
            == "map_reduce_folds_spark.pyworker")


def test_reused_worker_keeps_the_pyspark_zip_directory(spark):
    """Tasks on one reused worker see one ``pyspark.zip`` directory object:
    PySpark's per-task cache invalidation no longer rebuilds it."""
    def probe(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            imp = next(v for k, v in sys.path_importer_cache.items()
                       if k.endswith("pyspark.zip")
                       and isinstance(v, zipimport.zipimporter))
            # keep every directory seen alive, so no id is ever reused
            seen = zipimport.__dict__.setdefault("_mrf_probe_seen", [])
            seen.append(imp._files)
            yield pa.RecordBatch.from_pydict(
                {"pid": [os.getpid()], "files": [id(imp._files)]})

    df = spark.range(10).coalesce(1)
    tasks: dict[int, int] = {}
    dirs: dict[int, set[int]] = {}
    for _ in range(12):
        r = df.mapInArrow(probe, "pid bigint, files bigint").collect()[0]
        tasks[r["pid"]] = tasks.get(r["pid"], 0) + 1
        dirs.setdefault(r["pid"], set()).add(r["files"])
        if max(tasks.values()) >= 3:
            break
    assert max(tasks.values()) >= 2, tasks  # some worker ran two tasks
    assert all(len(v) == 1 for v in dirs.values()), (tasks, dirs)
