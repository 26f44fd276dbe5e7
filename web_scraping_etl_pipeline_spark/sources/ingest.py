"""S1/S2 - ingestion boundary.

The reference scrapes a page with Playwright and row-inserts into a
Postgres staging table (/root/reference/src/topcv_pipeline.py:51-112).
Scraping stays outside the engine; the engine's contract starts at "a
batch of raw records" and its job is to land them in the bronze table
as one distributed, typed write - no per-row INSERTs, no rendered SQL
(fixes SURVEY.md section 8 B5: the reference's f-string INSERTs are
injectable / quote-broken).

Landing goes through Arrow: the batch is checked and typed in the
calling process into a ``pyarrow.Table`` that the JVM reads directly,
so a landing starts no Python workers (a list of dicts would be
pickled through a Python-RDD map). Every batch write sizes its output by one
rule, :func:`file_count`: one file per ``MIN_ROWS_PER_TASK`` rows up to
one per core, and more only when a file would pass
``TARGET_ROWS_PER_FILE`` rows. A daily batch of a few hundred rows lands
as one file instead of one per core; a large batch keeps one file, and
so one scan task downstream, per core.

At 100 TB the batch arrives as files in a landing zone; both paths land
in the same partitioned bronze layout, so everything downstream is
identical.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterable, Mapping
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..schemas import JOBS_RAW

#: most rows in one output file. Landing, the silver append and bronze
#: compaction all size their writes with :func:`file_count`.
TARGET_ROWS_PER_FILE = 1_000_000

#: fewest rows a batch write gives each of its files (and so each scan
#: task downstream) when it spreads a batch over the cores. A file under
#: 128 MB is one parquet row group, which a scan cannot split. On a 4-core
#: host, ``run_batch`` over a first batch written as one file vs four
#: took 0.48/0.53 s at 500 rows, 0.51/0.53 s at 5,000, 0.62/0.54 s at
#: 10,000 and 3.37/2.23 s at 200,000.
MIN_ROWS_PER_TASK = 5_000

#: JOBS_RAW column type -> (accepted Python type, Arrow type). Checked
#: by hand: Arrow alone takes bytes for a string and an int for a
#: timestamp.
_ARROW_TYPES = {
    T.StringType(): (str, pa.string()),
    T.TimestampType(): (dt.datetime, pa.timestamp("us", tz="UTC")),
}


def file_count(rows: int, cores: int = 1) -> int:
    """Output files for a write of ``rows`` rows on ``cores`` cores: one
    per ``MIN_ROWS_PER_TASK`` rows but at most one per core, unless
    ``ceil(rows / TARGET_ROWS_PER_FILE)`` is more; at least one. With
    one core (compaction) it is just the ceiling."""
    per_task = min(cores, -(-rows // MIN_ROWS_PER_TASK))
    return max(1, per_task, -(-rows // TARGET_ROWS_PER_FILE))


def batch_to_df(
    spark: SparkSession, records: Iterable[Mapping[str, Any]]
) -> DataFrame:
    """A scraped batch (list of dicts, the reference's in-memory shape,
    topcv_pipeline.py:76-86) -> typed DataFrame with the canonical
    bronze schema, in ``file_count(len(records), cores)`` partitions.

    The records become a ``pyarrow.Table`` built against ``JOBS_RAW``
    in this process, so no Spark job and no Python worker is needed to
    land them. Checks run before Spark sees the batch: a missing key is
    NULL, a NULL ``job_link`` raises ValueError and a value of the
    wrong type raises TypeError (where ``createDataFrame`` of a list
    would store ``str(value)`` in a string column). Timestamps keep
    ``createDataFrame``'s reading (``TimestampType.toInternal``): a
    naive datetime is process-local time, an aware one is its
    instant."""
    records = list(records)
    columns = []
    for field in JOBS_RAW.fields:
        py_type, arrow_type = _ARROW_TYPES[field.dataType]
        values = [rec.get(field.name) for rec in records]
        for value in values:
            if value is None:
                if not field.nullable:
                    raise ValueError(f"batch_to_df: {field.name} is NULL")
            elif not isinstance(value, py_type):
                raise TypeError(
                    f"batch_to_df: {field.name} must be {py_type.__name__}, "
                    f"got {type(value).__name__}"
                )
        if isinstance(field.dataType, T.TimestampType):
            values = [field.dataType.toInternal(v) for v in values]
        columns.append(pa.array(values, type=arrow_type))
    table = pa.Table.from_arrays(columns, names=JOBS_RAW.fieldNames())
    df = spark.createDataFrame(table, schema=JOBS_RAW)
    cores = spark.sparkContext.defaultParallelism
    return df.coalesce(file_count(len(records), cores))


def read_landing(
    spark: SparkSession,
    path: str,
    fmt: str = "json",
    schema=None,
    permissive: bool = False,
) -> DataFrame:
    """File-drop landing zone flavor of S1: explicit schema (never
    inferSchema on the pipeline path); formats json / parquet / csv /
    orc.

    Malformed-row policy for the text formats (json/csv): the default
    is FAILFAST - a corrupt line aborts the batch loudly, matching the
    fail-safe stance of the silver read (a silently dropped row is the
    reference's B4 bug wearing a new hat). ``permissive=True`` opts
    into dead-letter routing instead: corrupt lines land whole in a
    ``_corrupt_record`` column (all other fields NULL) so the caller
    can split them into a quarantine sink (cf. q147) without losing
    the batch. (Spark restriction: cache/materialize the parsed frame
    before projecting ``_corrupt_record`` alone - the raw-file scan
    cannot answer corrupt-only queries.)"""
    schema = schema if schema is not None else JOBS_RAW
    if fmt in ("json", "csv"):
        if permissive:
            from pyspark.sql.types import StringType, StructType

            schema = StructType(schema.fields).add(
                "_corrupt_record", StringType()
            )
            mode = "PERMISSIVE"
        else:
            mode = "FAILFAST"
        reader = spark.read.schema(schema).option("mode", mode)
        if fmt == "csv":
            return reader.option("header", "true").csv(path)
        return reader.json(path)
    reader = spark.read.schema(schema)
    return reader.orc(path) if fmt == "orc" else reader.parquet(path)


def write_bronze(df: DataFrame, bronze_path: str, ingest_date: str) -> None:
    """S2: append the raw batch to bronze, partitioned by ingest date so
    the incremental scan prunes partitions instead of re-reading history
    (SURVEY.md section 4 - the design choice that replaces the reference's
    hand-rolled watermark pushdown at scale). One file per partition of
    ``df``: a frame from :func:`batch_to_df` is already sized."""
    (
        df.withColumn("ingest_date", F.lit(ingest_date))
        .write.mode("append")
        .partitionBy("ingest_date")
        .parquet(bronze_path)
    )


def rewrite_bronze_partition(
    df: DataFrame, bronze_path: str, ingest_date: str
) -> None:
    """S2 reprocessing flavor: idempotently REPLACE one ingest-date
    partition (a late re-scrape / backfill) without touching the rest of
    bronze. Uses dynamic partition overwrite - ``mode("overwrite")``
    deletes only the partitions present in this batch, so a daily rerun
    is exactly-once per partition instead of the reference's
    at-least-once re-append (SURVEY.md section 8 B4).

    At 100 TB this is the daily backfill primitive: the write plans as
    a normal distributed parquet job and the overwrite commits
    atomically per partition directory."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            df.withColumn("ingest_date", F.lit(ingest_date))
            .write.mode("overwrite")
            .partitionBy("ingest_date")
            .parquet(bronze_path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def read_bronze_evolved(spark: SparkSession, bronze_path: str) -> DataFrame:
    """S3 schema-evolution flavor: read a bronze directory whose
    partitions were written under DIFFERENT schema versions (a column
    added mid-history) into one unified frame - ``mergeSchema`` takes
    the union of the per-file footers; files missing a column yield
    NULLs. This is the scan-side half of additive schema evolution; the
    write side needs no migration (old partitions stay as written)."""
    return spark.read.option("mergeSchema", "true").parquet(bronze_path)


def compact_bronze_partition(
    spark: SparkSession,
    bronze_path: str,
    ingest_date: str,
) -> int:
    """Small-file compaction for one bronze partition: rewrite the
    partition's many appended files (one per micro-batch/task) into
    ``file_count(rows)`` files, preserving every row.

    Why it exists: a daily-append bronze accumulates files at the rate
    of batches x tasks; at 100 TB a year of appends is millions of
    small files, and scan cost becomes file-open cost (footer reads,
    listing, scheduling) instead of bytes. Periodic compaction is the
    maintenance primitive every lake format automates.

    Write path: never overwrite the directory being read. A dynamic
    partition overwrite of the source partition deletes the input
    files at commit time of a job that is still lazily reading them -
    a mid-commit failure (or an engine that detects the self-overwrite
    and throws) can lose the partition outright. Instead the compacted
    files land in a sibling temp directory, are count-validated, and
    then take the partition's place via two directory renames with the
    original kept as a ``.bak`` until the swap completes. A crash at
    any point leaves either the original or the backup on disk - data
    loss is impossible, though a crash exactly between the two renames
    can leave the partition momentarily absent for concurrent readers
    (single-writer maintenance windows are assumed; a lake format's
    transactional MERGE/OPTIMIZE is the deployment-grade upgrade).
    Reruns are idempotent (same rows in, same rows out).

    ``coalesce`` (not ``repartition``): compaction must not shuffle -
    it narrows existing tasks into fewer output files; row order
    within the partition is not part of the bronze contract. Returns
    the number of output files requested."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    part_path = f"{bronze_path}/ingest_date={ingest_date}"
    tmp_path = f"{bronze_path}/.compact_tmp_ingest_date={ingest_date}"
    bak_path = f"{part_path}.bak"
    for leftover in (tmp_path, bak_path):  # crashed prior run
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
    part = spark.read.parquet(part_path)
    n_rows = part.count()
    n_files = file_count(n_rows)
    # partition-column-free files, exactly like the partitioned layout
    part.coalesce(n_files).write.mode("overwrite").parquet(tmp_path)
    if spark.read.parquet(tmp_path).count() != n_rows:
        raise RuntimeError(
            f"compaction row-count mismatch for {part_path}; "
            "original left untouched"
        )
    os.rename(part_path, bak_path)
    os.rename(tmp_path, part_path)
    shutil.rmtree(bak_path)
    return n_files


def collect_stats(df: DataFrame) -> dict:
    """ANALYZE-style table statistics in ONE distributed pass: row
    count plus per-column null count, approximate NDV (HLL++), and
    min/max for orderable columns - the inputs a cost-based optimizer
    (and a human debugging a bad plan) needs.

    Single-pass shape: one aggregate with 3-4 expressions per column,
    all map-side combinable - never one job per column (the naive
    ANALYZE loop reads the table N_cols times; this reads it once).
    approx_count_distinct keeps the pass shuffle-light at 100 TB where
    exact NDV would carry every distinct value to one place."""
    aggs = [F.count(F.lit(1)).alias("__rows")]
    orderable = {
        "tinyint", "smallint", "int", "bigint", "float", "double",
        "decimal", "date", "timestamp", "timestamp_ntz", "string",
    }
    for name, dtype in df.dtypes:
        base = dtype.split("(")[0]
        aggs.append(
            F.sum(F.col(name).isNull().cast("long")).alias(f"__nulls__{name}")
        )
        aggs.append(
            F.approx_count_distinct(name).alias(f"__ndv__{name}")
        )
        if base in orderable:
            aggs.append(F.min(name).alias(f"__min__{name}"))
            aggs.append(F.max(name).alias(f"__max__{name}"))
    row = df.agg(*aggs).first().asDict()
    stats: dict = {"rows": row["__rows"], "columns": {}}
    for name, dtype in df.dtypes:
        stats["columns"][name] = {
            "dtype": dtype,
            "nulls": row[f"__nulls__{name}"],
            "approx_ndv": row[f"__ndv__{name}"],
            "min": row.get(f"__min__{name}"),
            "max": row.get(f"__max__{name}"),
        }
    return stats
