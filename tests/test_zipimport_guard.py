"""The zip-directory guard: ``importlib.invalidate_caches()`` re-reads no
unchanged archive, in-process and inside a reused Spark Python worker."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from nyu_search_engine_spark import zipimport_guard  # noqa: F401

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def test_invalidate_caches_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "guarded.zip")
    files = {"zg_pkg/__init__.py": "A = 1\n",
             "zg_pkg/sub/__init__.py": "B = 2\n"}
    _write_zip(archive, files)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    sys.path.insert(0, archive)
    try:
        import zg_pkg.sub
        assert (zg_pkg.A, zg_pkg.sub.B) == (1, 2)
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        # a rewritten archive is re-read once, and both importers see it
        _write_zip(archive, {**files, "zg_pkg/sub/new.py": "C = 3\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        from zg_pkg.sub import new
        assert new.C == 3
    finally:
        sys.path.remove(archive)
        for name in [m for m in sys.modules if m.split(".")[0] == "zg_pkg"]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


_WORKER_PROBE = textwrap.dedent("""
    import json, os
    import pyarrow as pa
    from nyu_search_engine_spark.functions.varbyte import vb_encode
    from nyu_search_engine_spark.session import get_spark

    def probe(batches):
        import zipimport
        vb_encode  # unpickling this imports the engine package in the worker
        reads = getattr(zipimport, "_probe_reads", None)
        if reads is None:  # this worker's first probe: start counting
            reads = zipimport._probe_reads = []
            inner = zipimport._read_directory
            def counting(path):
                reads.append(path)
                return inner(path)
            zipimport._read_directory = counting
            n = -1
        else:  # reads since the last probe: this task's set-up
            n = len(reads)
        reads.clear()
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "n": [n]})

    spark = get_spark(app_name="zipimport-probe", cores=1)
    out = [spark.range(0, 1, numPartitions=1).mapInArrow(probe, "pid long, n long")
           .collect()[0].asDict() for _ in range(6)]
    spark.stop()
    print(json.dumps(out))
""")


def test_reused_spark_worker_rereads_no_zip_directory():
    """Each task's ``invalidate_caches()`` re-read 16 zip directories in a
    reused worker before the guard (CPython 3.11, Spark 4.1.2): ~0.5 s."""
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g",
           "PYTHONPATH": os.pathsep.join(
               [REPO] + [p for p in [os.environ.get("PYTHONPATH")] if p])}
    proc = subprocess.run([sys.executable, "-c", _WORKER_PROBE], cwd=REPO,
                          env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    runs = json.loads(proc.stdout.strip().splitlines()[-1])
    seen: set = set()
    later = []
    for run in runs:
        if run["pid"] in seen:
            later.append(run["n"])
        seen.add(run["pid"])
    assert len(later) >= 4, runs  # local[1] reuses one worker
    assert later == [0] * len(later), runs
