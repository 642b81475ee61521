"""Storage portability of the catalog's direct IO (functions/fsio).

Any catalog root that is not shared POSIX storage breaks plain
``os.path`` calls silently. These tests pin the IO layer from two
directions:

1. every fsio routine runs against a REGISTERED NON-POSIX in-memory
   filesystem (``pyarrow.fs._MockFileSystem`` under a private scheme) —
   an ``os.path`` call hiding anywhere in the IO layer fails here;
2. the catalog's marker/listing/prune protocol and its driver-side
   (pyarrow) snapshot write/read run against that same in-memory fs
   (no Spark writes involved).

The distributed half (real Spark writes on a ``file://`` URI root) lives
in the engine tests (test_seen_filter.py).
"""

import pytest
from pyarrow import fs as pafs

from news_crawler_spark.functions import fsio

SCHEME = "ncmem"


@pytest.fixture()
def memfs():
    fs = pafs._MockFileSystem()
    fsio.register_filesystem(SCHEME, fs)
    yield fs
    fsio._REGISTERED.pop(SCHEME, None)
    fsio._FS_CACHE.clear()


def u(path: str) -> str:
    return f"{SCHEME}://{path}"


# --------------------------------------------------------------- fsio routines
def _write(fs, path: str, data: bytes) -> None:
    with fs.open_output_stream(path) as stream:
        stream.write(data)


def _read(fs, path: str) -> bytes:
    with fs.open_input_stream(path) as stream:
        return stream.read()


def test_roundtrip_on_non_posix_fs(memfs):
    fsio.makedirs(u("a/b"))
    assert fsio.is_dir(u("a/b"))
    assert not fsio.is_dir(u("a/zzz"))
    _write(memfs, "a/b/x.bin", b"hello")
    fsio.touch(u("a/b/_MARKER"))
    assert sorted(fsio.listdir(u("a/b"))) == ["_MARKER", "x.bin"]
    assert fsio.listdir(u("a/nope")) == []
    fsio.rmtree(u("a/b"))
    assert not fsio.is_dir(u("a/b"))
    fsio.rmtree(u("a/b"))  # missing → no-op, prune semantics


def test_copytree_on_non_posix_fs(memfs):
    fsio.makedirs(u("src/inner"))
    _write(memfs, "src/f1", b"11")
    _write(memfs, "src/inner/f2", b"222")
    fsio.copytree(u("src"), u("dst"))
    assert _read(memfs, "dst/f1") == b"11"
    assert _read(memfs, "dst/inner/f2") == b"222"


def test_join_keeps_scheme():
    assert fsio.join(u("root"), "t", "round=3") == u("root/t/round=3")
    assert fsio.join("/tmp/x", "t") == "/tmp/x/t"


def test_scheme_alias_s3a_maps_to_s3():
    # resolution itself needs no credentials: from_uri builds the
    # filesystem object eagerly, so just check the alias rewrite path
    assert fsio._SCHEME_ALIASES["s3a"] == "s3"
    assert fsio.scheme_of("s3a://bucket/k") == "s3a"
    assert fsio.is_local("/tmp/x") and not fsio.is_local("hdfs://nn/x")


def test_read_parquet_column_via_fs(memfs, tmp_path):
    """``resolve`` hands back a ``(filesystem, path)`` pair that pyarrow
    can read a snapshot's parquet column through — for a registered
    non-POSIX scheme and for a ``file://`` URI (the from_uri path, cached
    after the first call)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fsio.makedirs(u("tbl/round=3"))
    pq.write_table(
        pa.table({"url_hash": [7, 9], "n": [1, 2]}),
        "tbl/round=3/part0.parquet",
        filesystem=memfs,
    )
    assert fsio.listdir(u("tbl/round=3")) == ["part0.parquet"]
    fs, p = fsio.resolve(u("tbl/round=3"))
    assert fs is memfs and p == "tbl/round=3"
    col = pq.read_table(p, columns=["url_hash"], filesystem=fs).column("url_hash")
    assert col.to_pylist() == [7, 9]

    local = tmp_path / "t" / "round=0"
    local.mkdir(parents=True)
    pq.write_table(pa.table({"url_hash": [5]}), str(local / "part0.parquet"))
    uri = "file://" + str(local)
    fs, p = fsio.resolve(uri)
    assert fsio.resolve(uri) == (fs, p)  # cached
    col = pq.read_table(p, columns=["url_hash"], filesystem=fs).column("url_hash")
    assert col.to_pylist() == [5]


# ------------------------------------------------------------ catalog markers
def test_catalog_commit_protocol_on_non_posix_fs(spark, memfs):
    from news_crawler_spark import schemas
    from news_crawler_spark.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, u("cat"))
    assert cat.committed_rounds() == []
    assert cat.latest_round() is None
    cat.commit(0)
    cat.commit(3)
    assert cat.committed_rounds() == [0, 3]
    assert not cat.exists("frontier", 0)
    assert cat.latest_existing("frontier", 3) is None
    cat.prune_upto("frontier", 3)  # missing table dir → no-op
    cat.drop_uncommitted()  # nothing dangling → no-op
    assert cat.latest_round() == 3

    # the driver-side snapshot path: one parquet file + _SUCCESS, read
    # back through the same fs; a rewrite replaces it (crash retry)
    rows = [{"host": "a", "tokens": 3}, {"host": "b", "tokens": 0}]
    cat.write_rows("tokens", 3, rows, schemas.TOKENS)
    assert cat.exists("tokens", 3)
    assert sorted(fsio.listdir(u("cat/tokens/round=3"))) == [
        "_SUCCESS",
        "part-00000.parquet",
    ]
    assert cat.read_rows("tokens", 3, schemas.TOKENS) == rows
    cat.write_rows("tokens", 3, rows[:1], schemas.TOKENS)
    assert cat.read_rows("tokens", 3, schemas.TOKENS) == rows[:1]
