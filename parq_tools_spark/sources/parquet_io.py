"""Parquet sources/sinks (SURVEY §2.1 S1-S8).

The reference hand-builds batched scans, streaming writers and atomic
commits (``parq_filter.py:52-80``, ``file_utils.py:15-77``); on Spark
every one of those is the engine's own job:

- scan: ``spark.read.parquet`` — vectorized reader, row-group pruning,
  predicate pushdown, column projection (Catalyst).
- sink: ``df.write.parquet`` — distributed, task-parallel, committed
  atomically by the Hadoop commit protocol (``_temporary/`` staging +
  job commit == the reference's ``.tmp`` + ``os.replace``).

What remains here is the thin convenience/validation layer.
"""

from __future__ import annotations

import os
from typing import Iterable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "read_parquet",
    "write_parquet",
    "parquet_row_count",
    "check_valid_parquet",
    "table_path",
    "load_tables",
]


def _footer_schema(
    spark: SparkSession, path: str, nanos_as_long: bool = False
):
    """The file's (or flat directory's first file's) Spark schema
    resolved from one parquet footer on the driver — skips Spark 4's
    per-call schema-inference JOB (~0.5-1 s of scheduling overhead
    per read call at bench scale; a remote footer round trip per call
    at 100 TB). Resolution is fresh per call (nothing cached), mirrors
    inference exactly (``prefer_timestamp_ntz`` follows the session
    conf), and returns None — caller falls back to plain inference —
    for anything unusual: non-local schemes, partitioned/nested
    directories, unreadable footers.

    ``nanos_as_long=True`` mirrors inference under
    ``spark.sql.legacy.parquet.nanosAsLong=true`` (the streaming
    events bootstrap sets it): top-level TIMESTAMP(NANOS) columns
    resolve to LongType exactly as that legacy conf makes Spark read
    them. A TIMESTAMP(NANOS) nested inside a struct, list or map
    returns None (inference), since only top-level columns are
    rewritten here."""
    try:
        import os as _os

        import pyarrow.parquet as _pq
        from pyspark.sql.pandas.types import from_arrow_schema

        local = path[5:] if path.startswith("file:") else path
        if "://" in local.split("/", 1)[0]:
            return None
        if _os.path.isfile(local):
            first = local
        else:
            entries = sorted(
                e
                for e in _os.listdir(local)
                if e.endswith(".parquet") and not e.startswith((".", "_"))
            )
            if not entries:
                return None  # empty / nested / partitioned: infer
            first = _os.path.join(local, entries[0])
        ntz = (
            spark.conf.get(
                "spark.sql.parquet.inferTimestampNTZ.enabled", "true"
            )
            == "true"
        )
        arrow = _pq.read_schema(first)
        if nanos_as_long:
            import pyarrow as _pa
            from pyspark.sql import types as _T

            def _holds_ns(t) -> bool:
                if _pa.types.is_timestamp(t):
                    return t.unit == "ns"
                if _pa.types.is_struct(t):
                    return any(
                        _holds_ns(t.field(i).type)
                        for i in range(t.num_fields)
                    )
                if _pa.types.is_map(t):
                    return _holds_ns(t.key_type) or _holds_ns(t.item_type)
                if (
                    _pa.types.is_list(t)
                    or _pa.types.is_large_list(t)
                    or _pa.types.is_fixed_size_list(t)
                ):
                    return _holds_ns(t.value_type)
                return False

            fields = []
            for f in arrow:
                if _pa.types.is_timestamp(f.type) and f.type.unit == "ns":
                    fields.append(
                        _T.StructField(f.name, _T.LongType(), f.nullable)
                    )
                elif _holds_ns(f.type):
                    return None  # nested ns timestamp: infer
                else:
                    fields.append(
                        from_arrow_schema(
                            _pa.schema([f]), prefer_timestamp_ntz=ntz
                        )[0]
                    )
            return _T.StructType(fields)
        return from_arrow_schema(arrow, prefer_timestamp_ntz=ntz)
    except Exception:
        return None


def read_parquet(
    spark: SparkSession,
    path: str | Sequence[str],
    columns: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Scan one or more Parquet files/dirs with optional projection.

    Column pruning reaches the scan (``ReadSchema`` in the physical
    plan), the Spark-native version of ``scanner(columns=...)``
    (``parq_filter.py:55``). Single-path scans resolve the schema
    from the footer on the driver (:func:`_footer_schema`) instead of
    paying Spark's per-call inference job; multi-path scans keep
    inference (the paths may legitimately differ in schema)."""
    paths = [path] if isinstance(path, str) else list(path)
    reader = spark.read
    if len(paths) == 1:
        schema = _footer_schema(spark, paths[0])
        if schema is not None:
            reader = reader.schema(schema)
    df = reader.parquet(*paths)
    if columns is not None:
        df = df.select(*columns)
    return df


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    single_file: bool = False,
    partition_by: Optional[Sequence[str]] = None,
    compression: str = "snappy",
    sort_by: Optional[Sequence[str]] = None,
    sort_partitions: Optional[int] = None,
) -> None:
    """Distributed Parquet sink.

    ``single_file=True`` coalesces to one task for small outputs (the
    reference always writes exactly one file, ``parq_filter.py:72-80``);
    leave it False at scale so every task writes its own part file.

    ``sort_by`` clusters the layout for data skipping: rows are
    range-repartitioned then sorted within partitions on the given
    columns, so each part file / row group covers a narrow value range
    and its footer min/max statistics let later pushed-down filters
    skip whole row groups at scan time. At 100 TB, laying a fact table
    out by its dominant filter column (e.g. ship date) is the
    difference between reading ~1/n of the files and reading all of
    them.
    """
    out = df
    if sort_by:
        cols = [F.col(c) for c in sort_by]
        if not single_file:
            # explicit count pins the output-file granularity; default
            # lets AQE size the range shuffle (it coalesces small data)
            out = (
                out.repartitionByRange(sort_partitions, *cols)
                if sort_partitions
                else out.repartitionByRange(*cols)
            )
        out = out.sortWithinPartitions(*cols)
    if single_file:
        out = out.coalesce(1)
        if sort_by:
            # coalesce would merge unsorted partitions; re-sort the one
            out = out.sortWithinPartitions(*[F.col(c) for c in sort_by])
    writer = out.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def parquet_row_count(spark: SparkSession, path: str) -> int:
    """Metadata-only row count (footer stats; no full scan).

    Equivalent of ``dataset.count_rows()`` (``parq_filter.py:59``).
    Spark's Parquet scan answers ``count()`` from row-group metadata
    when no filter is present.
    """
    return read_parquet(spark, path).count()


def check_valid_parquet(path: str) -> bool:
    """Content-based "is this a readable Parquet file?" probe.

    Mirrors ``check_valid_parquet`` (``file_utils.py:157-184``) but
    validates via the footer read rather than magic bytes alone.
    """
    if not os.path.exists(path):
        return False
    try:
        import pyarrow.parquet as pq

        pq.ParquetFile(path)  # reads + validates the footer
        return True
    except Exception:
        return False


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_tables(
    spark: SparkSession, sf_dir: str, names: Iterable[str]
) -> dict[str, DataFrame]:
    """Load named testdata tables from a scale-factor directory."""
    return {
        name: read_parquet(spark, table_path(sf_dir, name))
        for name in names
    }
