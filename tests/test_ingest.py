"""Landing (``sources.ingest.batch_to_df`` + ``write_bronze``) and the
one file-sizing rule of the batch writes.

``batch_to_df`` lands a batch through a ``pyarrow.Table``; it must give
exactly what ``spark.createDataFrame(rows, schema=JOBS_RAW)`` gives,
checks included, except that a non-string value in a string column
raises instead of being stored as its ``str``. The file-count tests pin
``file_count``: one file for a daily batch, one per
``MIN_ROWS_PER_TASK`` rows up to one per core for a larger one.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import re
import time

import pytest
from pyspark.sql import functions as F

from perfbench import gen
from web_scraping_etl_pipeline_spark.pipeline import (
    refresh_remaining_time,
    run_batch,
)
from web_scraping_etl_pipeline_spark.schemas import JOBS_RAW
from web_scraping_etl_pipeline_spark.sources.ingest import (
    MIN_ROWS_PER_TASK,
    TARGET_ROWS_PER_FILE,
    batch_to_df,
    file_count,
    write_bronze,
)

UTC_PLUS_7 = dt.timezone(dt.timedelta(hours=7))
EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _micros(instant: dt.datetime) -> int:
    return (instant - EPOCH) // dt.timedelta(microseconds=1)


def _reference(spark, records):
    """The frame the pre-Arrow landing built: a list of dicts through
    ``createDataFrame`` with its schema check."""
    rows = [{n: rec.get(n) for n in JOBS_RAW.fieldNames()} for rec in records]
    return spark.createDataFrame(rows, schema=JOBS_RAW)


def _shape(text: str) -> str:
    """A generated salary or title with its words and numbers masked."""
    for word in gen.ROLES + gen.LOCATIONS + gen.STACKS:
        text = text.replace(word, "W")
    return re.sub(r"\d[\d,]*", "N", text)


def _assert_same_landing(spark, records):
    got, want = batch_to_df(spark, records), _reference(spark, records)
    assert got.schema == want.schema == JOBS_RAW
    instants = [F.unix_micros(c).alias(f"{c}_us")
                for c in ("posted_date", "due_date")]
    assert sorted(got.select("*", *instants).collect()) == sorted(
        want.select("*", *instants).collect()
    )


@pytest.fixture
def saigon_tz(monkeypatch):
    """Process-local time at UTC+7, so a naive datetime read as UTC
    would land seven hours off."""
    monkeypatch.setenv("TZ", "Asia/Ho_Chi_Minh")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


@pytest.fixture(scope="module")
def scenario():
    return gen.generate(seed=7, backfill_rows=300, days=1, rows_per_day=500)


def test_every_generated_shape_lands_as_create_dataframe_does(
    spark, scenario, saigon_tz
):
    records = scenario.days[0].records
    assert len({_shape(r["salary"]) for r in records}) == 7
    assert len({_shape(r["job_name"]) for r in records}) == 6
    assert records[0]["posted_date"].tzinfo is None
    _assert_same_landing(spark, records)


def test_naive_datetime_is_process_local_time(spark, saigon_tz):
    rec = {"job_link": "https://x/1",
           "posted_date": dt.datetime(2025, 1, 1, 7, 0)}
    row = batch_to_df(spark, [rec]).select(
        F.unix_micros("posted_date").alias("us")).first()
    assert row["us"] == _micros(
        dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc))


def test_aware_datetime_is_its_instant(spark, scenario, saigon_tz):
    records = [
        dict(r, posted_date=r["posted_date"].replace(tzinfo=UTC_PLUS_7),
             due_date=r["due_date"].replace(tzinfo=dt.timezone.utc))
        for r in scenario.days[0].records[:50]
    ]
    _assert_same_landing(spark, records)
    row = batch_to_df(spark, records[:1]).select(
        F.unix_micros("posted_date").alias("us")).first()
    assert row["us"] == _micros(records[0]["posted_date"])


def test_missing_key_is_null(spark):
    row = batch_to_df(spark, [{"job_link": "https://x/1"}]).first()
    assert row["job_link"] == "https://x/1"
    assert row["salary"] is None and row["posted_date"] is None


def _land_without_spark(spark, monkeypatch, rec):
    """Land ``rec`` after a good record, failing if Spark is reached."""

    def no_spark(*args, **kwargs):
        raise AssertionError("reached Spark")

    monkeypatch.setattr(spark, "createDataFrame", no_spark)
    batch_to_df(spark, [{"job_link": "https://x/0"}, rec])


@pytest.mark.parametrize(
    "rec, error",
    [
        ({"job_link": None, "salary": "25 triệu"}, ValueError),
        ({"job_name": "Tester", "salary": "25 triệu"}, ValueError),
        ({"job_link": "https://x/1", "posted_date": dt.date(2025, 1, 1)},
         TypeError),
        ({"job_link": "https://x/1", "due_date": 1_735_689_600}, TypeError),
    ],
)
def test_bad_record_raises_as_create_dataframe_does(
    spark, monkeypatch, rec, error
):
    with pytest.raises(error):
        _reference(spark, [rec])
    with pytest.raises(error):
        _land_without_spark(spark, monkeypatch, rec)


@pytest.mark.parametrize("salary", [25, 2.5, b"25"])
def test_non_string_raises(spark, monkeypatch, salary):
    """``createDataFrame`` would store ``str(salary)`` ('25', "b'25'"),
    which the salary parser then reads as a number or drops; landing
    refuses the batch instead."""
    rec = {"job_link": "https://x/1", "salary": salary}
    with pytest.raises(TypeError):
        _land_without_spark(spark, monkeypatch, rec)


def test_empty_batch_is_an_empty_frame(spark):
    df = batch_to_df(spark, [])
    assert df.schema == JOBS_RAW
    assert df.count() == 0


def _files(path: str) -> int:
    return len(glob.glob(f"{path}/*.parquet"))


def test_daily_writes_make_one_file_per_batch(spark, scenario, tmp_path):
    """A 500-row day lands as one bronze file, appends one silver file,
    a replay (empty after dedup) writes none (F6), and the refresh
    counts every silver row and leaves no temp or backup directory."""
    base = str(tmp_path)
    silver, state = f"{base}/silver", f"{base}/state.json"
    silver_files = []
    for day in scenario.days:
        write_bronze(batch_to_df(spark, day.records), f"{base}/bronze",
                     day.ingest_date)
        part = f"{base}/bronze/ingest_date={day.ingest_date}"
        assert _files(part) == 1
        res = run_batch(spark, spark.read.parquet(part), silver, state)
        assert res["rows"] == day.expected_rows
        silver_files.append(_files(silver))
    assert silver_files == [1, 2]

    replay = run_batch(spark, spark.read.parquet(part), silver, state)
    assert replay["skipped"] and _files(silver) == 2

    n = refresh_remaining_time(spark, silver, now_us=1_750_000_000_000_000)
    assert n == spark.read.parquet(silver).count() == scenario.links
    assert not os.path.exists(f"{silver}.refresh_tmp")
    assert not os.path.exists(f"{silver}.bak")


@pytest.mark.parametrize("rows, cores, files", [
    (0, 4, 1),
    (500, 4, 1),
    (MIN_ROWS_PER_TASK, 4, 1),
    (MIN_ROWS_PER_TASK + 1, 4, 2),
    (200_000, 4, 4),
    (10 * TARGET_ROWS_PER_FILE, 4, 10),
    (200_000, 1, 1),
    (TARGET_ROWS_PER_FILE + 1, 1, 2),
])
def test_file_count(rows, cores, files):
    assert file_count(rows, cores) == files


def test_large_batch_keeps_a_file_per_core(spark, tmp_path):
    """A batch of three tasks' worth of rows lands as three bronze files
    and appends three silver files, so its scan is not one task."""
    day = gen.generate(seed=8, backfill_rows=3 * MIN_ROWS_PER_TASK,
                       days=0, rows_per_day=0).days[0]
    cores = spark.sparkContext.defaultParallelism
    want = file_count(len(day.records), cores)
    assert want == min(cores, 3)
    base = str(tmp_path)
    write_bronze(batch_to_df(spark, day.records), f"{base}/bronze",
                 day.ingest_date)
    part = f"{base}/bronze/ingest_date={day.ingest_date}"
    assert _files(part) == want
    res = run_batch(spark, spark.read.parquet(part), f"{base}/silver",
                    f"{base}/state.json")
    assert res["rows"] == day.expected_rows
    assert _files(f"{base}/silver") == want
