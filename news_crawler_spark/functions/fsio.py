"""Filesystem abstraction for the catalog's direct IO.

``SnapshotCatalog`` does a small amount of non-Spark file IO: commit
markers and snapshot listing, pruning and carry-forward. Plain
``os.path``/``shutil`` calls silently break the moment the catalog root
is not shared POSIX storage (``os.path.isdir("s3a://…")`` is simply
``False``), so every such access routes through ``pyarrow.fs``:

- **scheme-less paths** take an ``os``/``shutil`` fast path, with no
  FileSystem object anywhere in the hot loop;
- **URI paths** resolve through ``pyarrow.fs.FileSystem.from_uri``
  (``file://``, ``hdfs://``, ``s3://``, ``gs://``, …), with the Hadoop
  spelling ``s3a://`` mapped to pyarrow's ``s3://``;
- **tests** register an in-memory, non-POSIX filesystem under a private
  scheme via :func:`register_filesystem` to pin that no ``os.path``
  call hides inside any routine (tests/test_fsio.py), and run the whole
  engine against ``file://`` URIs end-to-end (tests/test_seen_filter.py)
  so the URI plumbing crosses real Spark writes.

Only the operations the catalog actually needs are exposed: directory
handling plus a single-file parquet write and a directory read for the
tiny per-round tables it writes from the driver. Anything fancier should
go through Spark.
"""

from __future__ import annotations

import os
import posixpath
import shutil
import re

_SCHEME_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://")

# Hadoop URI spellings → the scheme pyarrow's from_uri understands.
_SCHEME_ALIASES = {"s3a": "s3", "s3n": "s3"}

# test hook: scheme → FileSystem instance (consulted before from_uri).
# Registered per-process: a worker process would not see this registry,
# which is fine because only the driver does direct IO.
_REGISTERED: dict[str, object] = {}

# (scheme, authority-less prefix) → resolved FileSystem; from_uri can be
# costly for remote filesystems and the catalog resolves on every listing.
_FS_CACHE: dict[str, tuple[object, str]] = {}


def register_filesystem(scheme: str, fs) -> None:
    """Register a ``pyarrow.fs.FileSystem`` for a URI scheme (tests)."""
    _REGISTERED[scheme] = fs
    _FS_CACHE.clear()


def scheme_of(path: str) -> str | None:
    m = _SCHEME_RE.match(path)
    return m.group(1) if m else None


def is_local(path: str) -> bool:
    return scheme_of(path) is None


def resolve(path: str):
    """``(fs, fs_path)`` for a URI path, ``(None, path)`` for a local one.

    ``fs_path`` is the path *inside* the filesystem (pyarrow filesystems
    take scheme-less paths)."""
    scheme = scheme_of(path)
    if scheme is None:
        return None, path
    if scheme in _REGISTERED:
        return _REGISTERED[scheme], path[len(scheme) + 3 :]
    cached = _FS_CACHE.get(path)
    if cached is not None:
        return cached
    from pyarrow import fs as pafs

    uri = path
    mapped = _SCHEME_ALIASES.get(scheme)
    if mapped is not None:
        uri = mapped + uri[len(scheme) :]
    fs, fs_path = pafs.FileSystem.from_uri(uri)
    _FS_CACHE[path] = (fs, fs_path)
    return fs, fs_path


def join(base: str, *parts: str) -> str:
    """Path join that keeps a URI's ``scheme://`` prefix intact."""
    if is_local(base):
        return os.path.join(base, *parts)
    return posixpath.join(base, *parts)


def is_dir(path: str) -> bool:
    fs, p = resolve(path)
    if fs is None:
        return os.path.isdir(p)
    from pyarrow.fs import FileType

    return fs.get_file_info(p).type == FileType.Directory


def listdir(path: str) -> list[str]:
    """Child base-names of a directory; ``[]`` if it does not exist."""
    fs, p = resolve(path)
    if fs is None:
        try:
            return os.listdir(p)
        except (FileNotFoundError, NotADirectoryError):
            return []
    from pyarrow.fs import FileSelector

    sel = FileSelector(p, recursive=False, allow_not_found=True)
    return [info.base_name for info in fs.get_file_info(sel)]


def makedirs(path: str) -> None:
    fs, p = resolve(path)
    if fs is None:
        os.makedirs(p, exist_ok=True)
    else:
        fs.create_dir(p, recursive=True)


def rmtree(path: str) -> None:
    """Recursive delete; missing paths are a no-op (prune semantics: a
    crash mid-prune leaves garbage for the next call, never an error)."""
    fs, p = resolve(path)
    if fs is None:
        shutil.rmtree(p, ignore_errors=True)
        return
    try:
        fs.delete_dir(p)
    except FileNotFoundError:
        pass


def copytree(src: str, dst: str) -> None:
    """Recursive copy within one filesystem (snapshot carry-forward)."""
    sfs, sp = resolve(src)
    if sfs is None:
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        shutil.copytree(sp, dst)
        return
    from pyarrow import fs as pafs

    dfs, dp = resolve(dst)
    rmtree(dst)
    dfs.create_dir(dp, recursive=True)
    pafs.copy_files(sp, dp, source_filesystem=sfs, destination_filesystem=dfs)


def touch(path: str) -> None:
    fs, p = resolve(path)
    if fs is None:
        open(p, "w").close()
    else:
        fs.open_output_stream(p).close()


def write_parquet(path: str, table) -> None:
    """Write a ``pyarrow.Table`` as one parquet file (parent must exist)."""
    import pyarrow.parquet as pq

    fs, p = resolve(path)
    pq.write_table(table, p, filesystem=fs)


def read_parquet(path: str):
    """Every parquet file under a directory as one ``pyarrow.Table``;
    ``_``/``.``-prefixed names (``_SUCCESS``, checksums) are skipped."""
    import pyarrow.parquet as pq

    fs, p = resolve(path)
    return pq.read_table(p, filesystem=fs)
