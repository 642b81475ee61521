"""Snapshot catalog: Iceberg-shaped table API with a parquet fallback.

The engine's state tables (frontier, documents, lineage, tokens, pops)
are written as round-numbered snapshots with atomic commit markers, giving
the two properties the design needs without an Iceberg runtime jar (none is
available in-sandbox — download_jars.sh in the reference pulls them from
Maven, which we cannot do):

- MERGE-equivalent round transitions: the *pending* slice of the frontier
  is rewritten per round while completed/failed rows are append-only —
  the same write amplification profile as an Iceberg copy-on-write MERGE
  partitioned by status.
- snapshot isolation + resume: a round's writes become visible only when
  its ``_COMMIT_<k>`` marker lands; resume = read the largest committed
  round. A crash mid-round leaves a dangling uncommitted directory that is
  ignored and overwritten on retry (write path is idempotent).

Two write paths share that layout (``<table>/round=<k>/`` holding
parquet files plus a ``_SUCCESS`` marker). Frontier-sized tables
(pending, done, docs, pops, seen keys) go through Spark's writer. The
tiny per-round tables the engine builds on the driver (tokens, cursors,
lineage: one row per host or source) go through :meth:`write_rows` as
ONE parquet file written with pyarrow over ``fsio`` and are read back
by :meth:`read_rows` the same way, so neither side starts a Spark job.
Spark's :meth:`read` reads those snapshots too, with the same column
types. :meth:`read` takes an explicit schema where the caller knows it,
which skips the footer-inference job a schema-less parquet read runs.

On a real cluster, swap ``SnapshotCatalog`` for Iceberg
(``MERGE INTO frontier``, snapshot ids instead of round markers); the
engine only uses this module's narrow API, so nothing else changes.
"""

from __future__ import annotations

import re

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .functions import fsio

_COMMIT_RE = re.compile(r"^_COMMIT_(\d+)$")


def _arrow_schema(schema: T.StructType) -> pa.Schema:
    """Arrow twin of a Spark schema, every column nullable (as Spark
    writes parquet), timestamps as UTC microseconds."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.schema([f.with_nullable(True) for f in to_arrow_schema(schema)])


class SnapshotCatalog:
    """All direct (non-Spark) IO goes through :mod:`functions.fsio`, so
    ``root`` may be a plain local path or any ``pyarrow.fs``-resolvable
    URI (``file://``, ``hdfs://``, ``s3://``/``s3a://``, ``gs://``) —
    the Spark read/write paths already accepted URIs, and round 5 made
    the marker/listing/prune side match (ADVICE round 4)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        fsio.makedirs(root)

    # -- commit protocol ----------------------------------------------------
    def committed_rounds(self) -> list[int]:
        out = []
        for name in fsio.listdir(self.root):
            m = _COMMIT_RE.match(name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def latest_round(self) -> int | None:
        rounds = self.committed_rounds()
        return rounds[-1] if rounds else None

    def commit(self, round_no: int) -> None:
        fsio.touch(fsio.join(self.root, f"_COMMIT_{round_no}"))

    # -- table io -----------------------------------------------------------
    def _path(self, table: str, round_no: int) -> str:
        return fsio.join(self.root, table, f"round={round_no}")

    def write(self, table: str, round_no: int, df: DataFrame) -> None:
        """Idempotent snapshot write (overwrite → crash-retry safe)."""
        df.write.mode("overwrite").parquet(self._path(table, round_no))

    def read(
        self, table: str, round_no: int, schema: T.StructType | None = None
    ) -> DataFrame:
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self._path(table, round_no))

    def write_rows(
        self, table: str, round_no: int, rows: list[dict], schema: T.StructType
    ):
        """Idempotent snapshot write of driver-side rows: one parquet file
        plus ``_SUCCESS``, written with pyarrow (no Spark job). Columns
        are nullable, as Spark writes them. Returns the Arrow table."""
        data = pa.Table.from_pylist(rows, schema=_arrow_schema(schema))
        path = self._path(table, round_no)
        fsio.rmtree(path)
        fsio.makedirs(path)
        fsio.write_parquet(fsio.join(path, "part-00000.parquet"), data)
        fsio.touch(fsio.join(path, "_SUCCESS"))
        return data

    def read_rows(
        self, table: str, round_no: int, schema: T.StructType
    ) -> list[dict]:
        """A snapshot as driver-side rows (pyarrow, no Spark job), cast to
        ``schema`` whichever writer produced it."""
        data = fsio.read_parquet(self._path(table, round_no))
        return data.select(schema.names).cast(_arrow_schema(schema)).to_pylist()

    def copy_snapshot(self, table: str, from_round: int, to_round: int) -> None:
        """Carry a snapshot forward unchanged as a file copy — no Spark
        job for a byte-identical table (Iceberg analog: a new snapshot
        pointing at the same data files, metadata-only)."""
        src, dst = self._path(table, from_round), self._path(table, to_round)
        fsio.copytree(src, dst)

    def exists(self, table: str, round_no: int) -> bool:
        return any(
            f.endswith(".parquet") or f == "_SUCCESS"
            for f in fsio.listdir(self._path(table, round_no))
        )

    def latest_existing(self, table: str, upto_round: int) -> int | None:
        """Largest round ≤ upto_round with a written snapshot of ``table``
        (commit-agnostic — callers pass an already-committed upper bound)."""
        for r in range(upto_round, -1, -1):
            if self.exists(table, r):
                return r
        return None

    def prune_upto(self, table: str, upto_round: int) -> None:
        """Remove snapshots of ``table`` with round ≤ upto_round — called
        only AFTER a commit whose compacted snapshot supersedes them, so
        a crash mid-prune just leaves unread garbage for the next call."""
        tdir = fsio.join(self.root, table)
        for name in fsio.listdir(tdir):
            if name.startswith("round=") and int(name.split("=", 1)[1]) <= upto_round:
                fsio.rmtree(fsio.join(tdir, name))

    def read_all(self, table: str, upto_round: int | None = None) -> DataFrame:
        """Union of all committed snapshots of an append-only table."""
        rounds = self.committed_rounds()
        if upto_round is not None:
            rounds = [r for r in rounds if r <= upto_round]
        paths = [self._path(table, r) for r in rounds if self.exists(table, r)]
        if not paths:
            raise FileNotFoundError(f"no committed snapshots for {table}")
        return self.spark.read.parquet(*paths)

    def drop_uncommitted(self) -> None:
        """Remove dangling round dirs newer than the last commit (crash
        cleanup before resume)."""
        latest = self.latest_round()
        for table in fsio.listdir(self.root):
            if _COMMIT_RE.match(table):
                continue
            tdir = fsio.join(self.root, table)
            if not fsio.is_dir(tdir):
                continue
            for name in fsio.listdir(tdir):
                if not name.startswith("round="):
                    continue
                rno = int(name.split("=", 1)[1])
                if latest is None or rno > latest:
                    fsio.rmtree(fsio.join(tdir, name))
