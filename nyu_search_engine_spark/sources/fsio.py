"""Driver-side filesystem access for index bookkeeping.

``build_index`` keeps its tiny bookkeeping tables (1-row stats,
per-group manifest rows, ``build_conf.json`` / ``index_meta.json``) on
the driver — pyarrow/json writes instead of Spark jobs, because a full
scheduler round-trip per 1-row table is pure serial time in the build's
critical path. That made the index root implicitly driver-local POSIX
(plain ``os``/``open`` calls), while the DATA writes (docs, postings,
lexicon) went through Spark and worked on any Hadoop-compatible FS.

This module removes that asymmetry: every bookkeeping call routes
through here, and a root with a URI scheme (``hdfs://``, ``s3a://``,
``file://``, ...) is handled by ``pyarrow.fs.FileSystem.from_uri`` —
the same FS layer the Arrow parquet reader uses — so resume
bookkeeping, rebuild hygiene, and final metrics keep working when the
index root is remote. Scheme-less paths stay on the plain-``os`` fast
path (byte-identical behavior to the pre-fsio code).

``s3a://`` is normalized to ``s3://`` for pyarrow (Hadoop's S3A client
and Arrow's S3 client address the same buckets); Spark-side data writes
keep the original URI untouched.
"""

from __future__ import annotations

import os
import re
import shutil

_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://")


def is_uri(path: str) -> bool:
    """True when ``path`` carries a URI scheme (routed via pyarrow.fs)."""
    return bool(_SCHEME_RE.match(path))


def _fs(path: str):
    """(FileSystem, fs-internal path) for a URI. pyarrow's S3 driver
    registers as ``s3``; accept Hadoop's ``s3a`` spelling too."""
    from pyarrow import fs as pafs

    if path.startswith("s3a://"):
        path = "s3://" + path[len("s3a://"):]
    return pafs.FileSystem.from_uri(path)


def filesystem(path: str):
    """(FileSystem, fs-internal path) for any root: a URI through
    ``FileSystem.from_uri``, a plain path on the local filesystem."""
    if is_uri(path):
        return _fs(path)
    from pyarrow import fs as pafs

    return pafs.LocalFileSystem(), os.path.abspath(path)


def exists(path: str) -> bool:
    if not is_uri(path):
        return os.path.exists(path)
    from pyarrow import fs as pafs

    f, p = _fs(path)
    return f.get_file_info(p).type != pafs.FileType.NotFound


def isdir(path: str) -> bool:
    if not is_uri(path):
        return os.path.isdir(path)
    from pyarrow import fs as pafs

    f, p = _fs(path)
    return f.get_file_info(p).type == pafs.FileType.Directory


def listdir(path: str) -> list[str]:
    """Base names of the directory's direct children (unsorted)."""
    if not is_uri(path):
        return os.listdir(path)
    from pyarrow import fs as pafs

    f, p = _fs(path)
    infos = f.get_file_info(pafs.FileSelector(p, recursive=False))
    return [info.base_name for info in infos]


def makedirs(path: str) -> None:
    if not is_uri(path):
        os.makedirs(path, exist_ok=True)
        return
    f, p = _fs(path)
    f.create_dir(p, recursive=True)


def remove_file(path: str) -> None:
    """Delete one file; directories are left alone (IsADirectoryError
    parity with ``os.remove`` is handled by the caller's try)."""
    if not is_uri(path):
        os.remove(path)
        return
    from pyarrow import fs as pafs

    f, p = _fs(path)
    if f.get_file_info(p).type == pafs.FileType.Directory:
        raise IsADirectoryError(path)
    f.delete_file(p)


def rmtree(path: str) -> None:
    """Recursive delete, missing-ok (shutil.rmtree ignore_errors shape)."""
    if not is_uri(path):
        shutil.rmtree(path, ignore_errors=True)
        return
    f, p = _fs(path)
    try:
        f.delete_dir(p)
    except (FileNotFoundError, OSError):
        pass


def read_text(path: str) -> str:
    if not is_uri(path):
        with open(path) as fh:
            return fh.read()
    f, p = _fs(path)
    with f.open_input_stream(p) as stream:
        return stream.read().decode("utf-8")


def write_text(path: str, content: str) -> None:
    if not is_uri(path):
        with open(path, "w") as fh:
            fh.write(content)
        return
    f, p = _fs(path)
    with f.open_output_stream(p) as stream:
        stream.write(content.encode("utf-8"))


def write_parquet(table, path: str) -> None:
    import pyarrow.parquet as pq

    if not is_uri(path):
        pq.write_table(table, path)
        return
    f, p = _fs(path)
    pq.write_table(table, p, filesystem=f)


def read_parquet(path: str):
    import pyarrow.parquet as pq

    if not is_uri(path):
        return pq.read_table(path)
    f, p = _fs(path)
    return pq.read_table(p, filesystem=f)
