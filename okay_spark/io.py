"""Storage adapter: Iceberg-native, partitioned-parquet fallback.

The engine is written against Iceberg tables (north rule), but this sandbox
has no Iceberg runtime jar, so every read/write goes through this thin
adapter: if the session has an Iceberg catalog configured the identifier
path is used (``spark.read.table`` / ``writeTo(...).append()``, snapshot
pinning via ``VERSION AS OF``); otherwise partitioned parquet under a
directory prefix with the same semantics. Engine code never branches on the
backend anywhere else.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _is_table_ident(target: str) -> bool:
    return not (target.startswith("/") or target.startswith("file:") or target.startswith("s3"))


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark.conf.get("spark.sql.catalog.spark_catalog")
        return True
    except Exception:  # noqa: BLE001
        return False


def read_table(
    spark: SparkSession, target: str, *, snapshot_id: int | None = None, version: str | None = None
) -> DataFrame:
    """Read an Iceberg table identifier or a parquet path.

    ``snapshot_id``/``version`` pin an Iceberg snapshot (``VERSION AS OF``);
    ignored (with the same semantics: latest) for parquet paths."""
    if _is_table_ident(target) and iceberg_available(spark):
        reader = spark.read
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        df = reader.table(target)
        if version is not None:
            df = spark.sql(f"SELECT * FROM {target} VERSION AS OF {version}")
        return df
    return read_path(spark, target)


_PATH_FORMATS = ("parquet", "orc", "json", "csv")


def read_path(
    spark: SparkSession, path: str, *, format: str = "parquet"
) -> DataFrame:
    """Read a columnar/text path in any natively-supported format.

    ``parquet`` and ``orc`` are the columnar formats (both predicate-
    pushdown/column-pruning capable — the plan-shape tests hold for
    either). ``json`` infers its schema and ``csv`` reads the header row
    with every column as a string; neither enforces a schema here — call
    :func:`read_with_rejects` to read JSONL/CSV against a declared schema
    with malformed records kept as rows. ``avro`` needs the external
    spark-avro package — absent in this build, so it raises with the
    coordinates to add rather than failing mid-plan."""
    if format == "avro":
        raise NotImplementedError(
            "avro needs the org.apache.spark:spark-avro package on the "
            "classpath (spark-submit --packages); not bundled here"
        )
    if format not in _PATH_FORMATS:
        raise ValueError(f"unsupported format {format!r} ({_PATH_FORMATS})")
    if format == "csv":
        return spark.read.option("header", "true").csv(path)
    return getattr(spark.read, format)(path)


def write_path(
    df: DataFrame,
    path: str,
    *,
    format: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Write a path in any natively-supported format (same format set and
    avro gating as :func:`read_path`); partitioned layouts supported for
    the columnar formats."""
    if format == "avro":
        raise NotImplementedError(
            "avro needs the org.apache.spark:spark-avro package on the "
            "classpath (spark-submit --packages); not bundled here"
        )
    if format not in _PATH_FORMATS:
        raise ValueError(f"unsupported format {format!r} ({_PATH_FORMATS})")
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if format == "csv":
        w = w.option("header", "true")
    getattr(w, format)(path)


def local_frame(spark: SparkSession, rows: list[tuple], schema: str | StructType) -> DataFrame:
    """A small driver-built DataFrame in one partition, so a tiny sink
    lands as one file (``rows`` are tuples in ``schema`` order; ``schema``
    is a DDL string or a StructType).

    Built from a pyarrow Table, which reaches the JVM as Arrow batches, so
    the plan runs no Python worker task. ``spark.createDataFrame(list)``
    parallelizes a Python RDD instead and runs one worker task per
    partition: about 0.9 s of worker CPU per one-row write on a 4-vCPU VM.
    Do not build such rows as ``inline(array(struct(lit(...))))`` either:
    Catalyst time grows super-linearly with that expression tree (over two
    minutes for 2,000 rows on the same VM)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema=struct).coalesce(1)


def write_table(
    df: DataFrame,
    target: str,
    *,
    mode: str = "append",
    partition_by: list[str] | None = None,
) -> None:
    """Append/overwrite to an Iceberg table or a parquet directory."""
    if _is_table_ident(target) and iceberg_available(df.sparkSession):
        writer = df.writeTo(target)
        if mode == "append":
            writer.append()
        elif mode == "overwrite":
            writer.createOrReplace()
        else:  # pragma: no cover
            raise ValueError(f"unsupported mode {mode}")
        return
    w = df.write.mode("overwrite" if mode == "overwrite" else "append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(target)


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_cols: list[str] | str,
    num_buckets: int,
    sort_cols: list[str] | str | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a hash-bucketed (optionally sorted) table.

    Bucketing pre-shuffles ONCE at write time: any later aggregate or join
    keyed on ``bucket_cols`` (same bucket count) runs exchange-free — this is
    how the 10^12-row uniqueness and referential checks avoid re-shuffling
    the corpus on every validation run. The scan's bucket layout satisfies
    the required hash distribution, so Catalyst drops the Exchange (verified
    in ``tests/test_bucketed.py`` and SCALE.md). Equivalent to Iceberg's
    ``bucket(N, col)`` partition transform on the identifier path."""
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    w = df.write.format("parquet").mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def table_exists(spark: SparkSession, target: str) -> bool:
    if _is_table_ident(target) and iceberg_available(spark):
        return spark.catalog.tableExists(target)
    return os.path.isdir(target) and any(
        name.endswith(".parquet") or name == "_SUCCESS" or name.startswith("part=")
        for name in os.listdir(target)
    )


def read_with_rejects(
    spark: SparkSession,
    path: str,
    ddl: str,
    *,
    format: str = "jsonl",
) -> tuple[DataFrame, DataFrame]:
    """Schema-enforced JSONL/CSV ingestion that surfaces malformed records
    as violation rows instead of silently dropping them.

    Returns ``(good, rejects)``: ``good`` carries exactly the declared
    schema; ``rejects`` is ``(raw, rule='malformed_record')`` — one row per
    undecodable line, feed it to the violations sink alongside the battery's
    output. Uses PERMISSIVE mode with a corrupt-record column, the only
    formulation that keeps bad lines observable in one pass (FAILFAST kills
    the job on the first bad byte at row 10^11; DROPMALFORMED lies about
    having read everything)."""
    from pyspark.sql import functions as F

    corrupt = "_corrupt_record"
    reader = (
        spark.read.schema(f"{ddl}, {corrupt} STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
    )
    if format == "jsonl":
        df = reader.json(path)
    elif format == "csv":
        df = reader.option("header", "true").csv(path)
    else:
        raise ValueError(f"unsupported format {format!r} (jsonl or csv)")
    # Spark refuses queries that touch only the corrupt column on an
    # un-materialized scan; cache makes both branches legal and single-scan
    df = df.cache()
    good = df.filter(F.col(corrupt).isNull()).drop(corrupt)
    rejects = df.filter(F.col(corrupt).isNotNull()).select(
        F.col(corrupt).alias("raw"), F.lit("malformed_record").alias("rule")
    )
    return good, rejects
