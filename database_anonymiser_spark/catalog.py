"""Parquet-directory catalog: the engine's schema source.

Rebuilds the reference's ``information_schema`` scans
(``src/schema/schema-reader.ts:15-51``) over a directory of parquet files —
one file per table, schemas self-described by parquet footers (no extra
catalog round-trip; strictly cheaper than the reference's 1+N queries).

At 100 TB each "table" is a partitioned parquet dataset; nothing here changes
— ``spark.read.parquet`` unifies footers, and listing stays a driver-side
metadata operation.

Metadata answers launch no Spark job once a table version has been seen:
``ParquetCatalog.read`` infers a table's schema once (one Spark job) and
then hands the cached schema to ``spark.read.schema(...)``, keyed by the
table's file signature so a rewritten file is re-inferred;
:func:`footer_stats` sums parquet footer row counts with pyarrow.
The cache pays off when one catalog reads an unchanged table more than
once: ``--dryrun --emitSql`` (the script, then the dryrun), a versioned
apply that creates version 0 (the mask, then the create), and a caller
that runs a dryrun and then an apply on one catalog. A single ``--dryrun``
or ``--apply`` reads each table once and pays only the signature walk.
"""

from __future__ import annotations

import os
import threading
import warnings
from dataclasses import dataclass
from functools import lru_cache
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from database_anonymiser_spark.types import group_for_field


def _nanos_timestamp_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) — unreadable by Spark
    natively.

    Glob patterns are expanded first (pyarrow's ``ds.dataset`` takes
    concrete paths, not patterns); every file of one dataset shares an
    encoding, so probing the first match suffices. A target that matches no
    files, is empty, or fails to read WARNS and returns () WITHOUT caching —
    a later call re-probes once files exist. (The earlier bare-except form
    silently classified such sources as micro-precision and the lru_cache
    pinned that wrong answer for the process lifetime, breaking ns-encoded
    streams defined over a not-yet-populated directory.) Successful probes
    are cached per concrete path: footers don't change for a given fixture
    path, and every load() would otherwise pay a pyarrow footer read."""
    import glob as _glob

    target = path
    if any(ch in path for ch in "*?["):
        matches = sorted(_glob.glob(path))
        if not matches:
            warnings.warn(
                f"nanos-probe: no files match {path!r} yet; assuming no "
                "TIMESTAMP(NANOS) columns (pass an explicit schema to "
                "stream_events to skip the probe)",
                stacklevel=2,
            )
            return ()
        target = matches[0]
    if os.path.isdir(target) and not any(
        f.endswith(".parquet") for _, _, fs in os.walk(target) for f in fs
    ):
        warnings.warn(
            f"nanos-probe: {target!r} holds no parquet files yet; assuming no "
            "TIMESTAMP(NANOS) columns (pass an explicit schema to "
            "stream_events to skip the probe)",
            stacklevel=2,
        )
        return ()
    try:
        return _nanos_probe_cached(target)
    except Exception as e:
        warnings.warn(
            f"nanos-probe failed for {target!r} ({e}); assuming no "
            "TIMESTAMP(NANOS) columns",
            stacklevel=2,
        )
        return ()


def _nanos_columns_of(path: str) -> tuple[str, ...]:
    """The TIMESTAMP(NANOS) columns of the first file's footer (uncached)."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    schema = ds.dataset(path, format="parquet").schema
    return tuple(
        f.name
        for f in schema
        if isinstance(f.type, pa.TimestampType) and f.type.unit == "ns"
    )


_nanos_probe_cached = lru_cache(maxsize=1024)(_nanos_columns_of)


def _repair_nanos(df: DataFrame, nanos: tuple[str, ...]) -> DataFrame:
    """With ``spark.sql.legacy.parquet.nanosAsLong=true`` (set in session.py),
    TIMESTAMP(NANOS) columns arrive as epoch-nanos longs; we convert them to
    ``timestamp_ntz`` via integer division (no double round-trip — epoch-ns
    exceeds float53 precision). This is a cheap projection, fully codegen'd.
    """
    for c in nanos:
        df = df.withColumn(
            c, F.expr(f"cast(timestamp_micros(`{c}` div 1000) as timestamp_ntz)")
        )
    return df


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` + lossless ns-timestamp repair."""
    return _repair_nanos(spark.read.parquet(path), _nanos_timestamp_columns(path))


@dataclass(frozen=True)
class FooterStats:
    rows: int
    files: int
    bytes: int
    row_groups: int


def footer_stats(path: str | Path | list) -> FooterStats:
    """Rows, data files, bytes and row groups of a parquet file, a
    directory of them, or a list of files — summed from the footers by
    pyarrow, so no row data is read and no Spark job runs. ``_``/``.``-
    prefixed files (``_SUCCESS``, checksums) are skipped, as Spark skips
    them."""
    import pyarrow.dataset as ds

    src = [str(p) for p in path] if isinstance(path, list) else str(path)
    files = list(ds.dataset(src, format="parquet").get_fragments())
    footers = [f.metadata for f in files]
    return FooterStats(
        rows=sum(m.num_rows for m in footers),
        files=len(files),
        bytes=sum(os.path.getsize(f.path) for f in files),
        row_groups=sum(m.num_row_groups for m in footers),
    )


def _file_signature(path: str) -> tuple:
    """(relative path, size, mtime_ns) of every data file of a table: the
    file itself, or the files under a directory, skipping the ``_``/``.``-
    prefixed names that Spark skips too. Empty when the path is missing."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((".", st.st_size, st.st_mtime_ns),)
    out = []
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                full = os.path.join(d, f)
                st = os.stat(full)
                out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


@dataclass(frozen=True)
class TableInfo:
    """≅ TableInfo (schema-reader.ts:9-13)."""

    schema: str
    name: str
    path: str


class ParquetCatalog:
    """A namespace ("schema") of tables backed by ``<dir>/<table>.parquet``."""

    def __init__(self, spark: SparkSession, root: str | Path, schema_name: str = "public"):
        self.spark = spark
        self.root = Path(root)
        self.schema_name = schema_name
        # table path → (file signature, inferred Spark schema, ns columns)
        self._schemas: dict[str, tuple[tuple, T.StructType, tuple[str, ...]]] = {}
        self._lock = threading.Lock()

    def list_tables(self) -> list[TableInfo]:
        """All base tables, ordered by name (≅ schema-reader.ts:16-25)."""
        out = []
        for p in sorted(self.root.glob("*.parquet")):
            out.append(TableInfo(self.schema_name, p.stem, str(p)))
        return out

    def table_path(self, name: str) -> str:
        return str(self.root / f"{name}.parquet")

    def read(self, name: str) -> DataFrame:
        """The table, with the ns-timestamp repair of :func:`read_parquet_table`.

        The first read of a table version infers its schema (one Spark job);
        later reads pass the cached schema to ``spark.read.schema`` and launch
        none. The cache is keyed by the file signature, so a rewritten,
        added or removed file is re-inferred: the schema stays live."""
        path = self.table_path(name)
        sig = _file_signature(path)
        with self._lock:
            hit = self._schemas.get(path)
        if hit is not None and hit[0] == sig:
            return _repair_nanos(self.spark.read.schema(hit[1]).parquet(path), hit[2])
        raw = self.spark.read.parquet(path)
        nanos = _nanos_columns_of(path)
        with self._lock:
            self._schemas[path] = (sig, raw.schema, nanos)
        return _repair_nanos(raw, nanos)

    def schema_of(self, name: str) -> T.StructType:
        """Live schema read (≅ executor.ts:19-39's per-table type re-read)."""
        return self.read(name).schema

    def columns_df(self) -> DataFrame:
        """Catalog-as-DataFrame: (table_name, column_name, ordinal, data_type,
        type_group, nullable), ordered like schema-reader.ts:22,35.

        Metadata-only (reads parquet footers, no row data) — safe at any scale.
        """
        rows = []
        for t in self.list_tables():
            for i, f in enumerate(self.schema_of(t.name).fields):
                rows.append(
                    (
                        t.name,
                        f.name,
                        i + 1,
                        f.dataType.simpleString(),
                        group_for_field(f).value,
                        bool(f.nullable),
                    )
                )
        schema = T.StructType(
            [
                T.StructField("table_name", T.StringType(), False),
                T.StructField("column_name", T.StringType(), False),
                T.StructField("ordinal", T.IntegerType(), False),
                T.StructField("data_type", T.StringType(), False),
                T.StructField("type_group", T.StringType(), False),
                T.StructField("nullable", T.BooleanType(), False),
            ]
        )
        return self.spark.createDataFrame(rows, schema).orderBy("table_name", "ordinal")
