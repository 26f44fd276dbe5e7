"""Lake-maintenance operators: small-file compaction and one-pass
table statistics."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from web_scraping_etl_pipeline_spark.sources.ingest import (
    collect_stats,
    compact_bronze_partition,
)


@pytest.fixture
def fragmented_bronze(spark, tmp_path):
    """A bronze partition written as many small files (simulated
    micro-batch appends)."""
    bronze = str(tmp_path / "bronze")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "ingest_date", F.lit("2024-01-15")
    )
    (
        ev.repartition(16)
        .write.mode("append")
        .partitionBy("ingest_date")
        .parquet(bronze)
    )
    (
        ev.limit(100)
        .repartition(8)
        .write.mode("append")
        .partitionBy("ingest_date")
        .parquet(bronze)
    )
    return bronze


def test_compaction_preserves_rows_and_shrinks_files(
    spark, fragmented_bronze
):
    part_glob = f"{fragmented_bronze}/ingest_date=2024-01-15/*.parquet"
    before_files = len(glob.glob(part_glob))
    assert before_files >= 20
    before = spark.read.parquet(fragmented_bronze)
    before_n = before.count()
    before_ids = {
        r.event_id
        for r in before.select("event_id").distinct().collect()
    }

    n_files = compact_bronze_partition(
        spark, fragmented_bronze, "2024-01-15"
    )
    assert n_files == 1  # well under TARGET_ROWS_PER_FILE

    after_files = len(glob.glob(part_glob))
    assert after_files == 1
    after = spark.read.parquet(fragmented_bronze)
    assert after.count() == before_n
    after_ids = {
        r.event_id for r in after.select("event_id").distinct().collect()
    }
    assert after_ids == before_ids


def test_compaction_is_idempotent(spark, fragmented_bronze):
    compact_bronze_partition(spark, fragmented_bronze, "2024-01-15")
    n1 = spark.read.parquet(fragmented_bronze).count()
    compact_bronze_partition(spark, fragmented_bronze, "2024-01-15")
    assert spark.read.parquet(fragmented_bronze).count() == n1


def test_collect_stats_one_pass_matches_exact(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    stats = collect_stats(ev)
    assert stats["rows"] == ev.count()
    cols = stats["columns"]
    assert set(cols) == set(ev.columns)
    # exact cross-checks on a couple of columns
    assert cols["event_id"]["nulls"] == 0
    exact_users = ev.select("user_id").distinct().count()
    approx = cols["user_id"]["approx_ndv"]
    assert abs(approx - exact_users) <= max(2, 0.05 * exact_users)
    mm = ev.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    ).first()
    assert cols["value"]["min"] == mm.lo
    assert cols["value"]["max"] == mm.hi


def test_refresh_remaining_time_rewrites_in_place(spark, tmp_path):
    """pipeline.refresh_remaining_time: re-renders the materialized
    remaining_time column over the whole silver table at a later clock
    (the reference's daily stored-procedure intent, script.sql:13-49)
    without changing any other column or the row count, and leaves no
    tmp/bak debris."""
    import os

    from web_scraping_etl_pipeline_spark.pipeline import (
        refresh_remaining_time,
        run_batch,
    )
    from web_scraping_etl_pipeline_spark.plans.pipelineq import (
        _raw_batch,
    )
    from web_scraping_etl_pipeline_spark.sources.star import (
        ANCHOR_US,
        US_PER_DAY,
    )

    silver = str(tmp_path / "silver")
    state = str(tmp_path / "state.json")
    run_batch(spark, _raw_batch(spark, SF_DIR), silver, state,
              now_us=ANCHOR_US)
    before = {
        r["job_link"]: r
        for r in spark.read.parquet(silver).collect()
    }

    n = refresh_remaining_time(
        spark, silver, now_us=ANCHOR_US + 10 * US_PER_DAY
    )
    after = {
        r["job_link"]: r for r in spark.read.parquet(silver).collect()
    }
    assert n == len(before) == len(after)
    changed = 0
    for link, row in after.items():
        prev = before[link]
        for col in ("job_name", "salary", "company_name",
                    "posted_date", "job_location", "due_date"):
            assert row[col] == prev[col], col
        if row["remaining_time"] != prev["remaining_time"]:
            changed += 1
    assert changed > 0  # the clock moved; buckets must move with it
    assert not os.path.exists(silver + ".refresh_tmp")
    assert not os.path.exists(silver + ".bak")


def test_refresh_recovers_from_between_renames_crash(spark, tmp_path):
    """A prior refresh that crashed AFTER renaming the table to .bak
    but BEFORE promoting the tmp dir leaves base missing - the next
    call must RESTORE the backup (the only surviving copy), never
    delete it (the round-6 review finding)."""
    import os
    import shutil

    from web_scraping_etl_pipeline_spark.pipeline import (
        refresh_remaining_time,
        run_batch,
    )
    from web_scraping_etl_pipeline_spark.plans.pipelineq import (
        _raw_batch,
    )
    from web_scraping_etl_pipeline_spark.sources.star import (
        ANCHOR_US,
        US_PER_DAY,
    )

    silver = str(tmp_path / "silver")
    state = str(tmp_path / "state.json")
    run_batch(spark, _raw_batch(spark, SF_DIR), silver, state,
              now_us=ANCHOR_US)
    n_rows = spark.read.parquet(silver).count()

    # simulate the mid-swap crash state: base gone, backup holds data
    os.rename(silver, silver + ".bak")
    assert not os.path.exists(silver)

    n = refresh_remaining_time(
        spark, silver, now_us=ANCHOR_US + 10 * US_PER_DAY
    )
    assert n == n_rows
    assert spark.read.parquet(silver).count() == n_rows
    assert not os.path.exists(silver + ".bak")
    assert not os.path.exists(silver + ".refresh_tmp")

    # and the fully-lost state (no base, no backup, no tmp) raises
    # instead of limping on
    shutil.rmtree(silver)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        refresh_remaining_time(spark, silver, now_us=ANCHOR_US)
