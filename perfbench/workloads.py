"""The benchmark's workloads.

Each workload drives the package only through its public functions and
is run as a closed loop by one client. After an unrecorded warm-up, a
run makes whole passes over the workload's fixed op list:

- ``etl_daily``: one pass is the paper's pipeline on fresh storage: a
  backfill day, then daily scrapes, then one ``refresh_remaining_time``
  over the whole silver table. One daily op is landing
  (``batch_to_df`` + ``write_bronze``) plus ``run_batch`` on that
  ``ingest_date`` partition.
- ``query_mix``: one pass builds and runs every query of the mix once,
  in an order shuffled from the seed. One op is
  ``QUERIES[name](spark, sf_dir)`` (build) plus a noop write (exec),
  followed by ``release_transients()``.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import statistics

from pyspark.sql import functions as F

import gen

#: reference ``remaining_time`` render instant for the refresh op: the
#: end of the generated scrape window.
REFRESH_NOW_US = int(
    (gen.EPOCH + dt.timedelta(days=40) - dt.datetime(1970, 1, 1))
    .total_seconds() * 1_000_000
)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_session(spark) -> None:
    """The JVM warm-up ``bench.py`` runs before its first query."""
    noop(spark.range(1_000_000).selectExpr("sum(id)"))


def day_ok(result: dict, day: gen.Day) -> bool:
    """``run_batch`` wrote exactly the day's new postings and moved the
    watermark to the latest of them."""
    return (result["rows"] == day.expected_rows
            and result["watermark"] == day.expected_watermark)


def silver_ok(got: tuple, sc: gen.Scenario) -> bool:
    """``got`` is (rows refreshed, silver rows, distinct job_links,
    salary checksum, negotiable salaries) after a pass."""
    return got == (sc.links, sc.links, sc.links, sc.salary_checksum,
                   sc.null_salaries)


class EtlDaily:
    """Backfill, daily incremental batches and a refresh, on fresh
    storage each pass."""

    name = "etl_daily"
    BACKFILL_ROWS = 5_000
    DAYS = 4
    ROWS_PER_DAY = 500

    def __init__(self, bench):
        self.b = bench
        self.scenario: gen.Scenario | None = None
        self.warm_scenario: gen.Scenario | None = None
        self.daily: list[dict] = []  # one record per daily op
        self.backfill_s: list[float] = []
        self.refresh_s: list[float] = []
        #: silver path, rows refreshed and scenario of each pass
        self.passes: list[tuple[str, int, gen.Scenario]] = []
        self.silver_path = ""  # of the last measured pass

    def prepare(self) -> None:
        with self.b.tracer.span("gen"):
            self.scenario = gen.generate(
                self.b.seed, self.BACKFILL_ROWS, self.DAYS, self.ROWS_PER_DAY)
            self.warm_scenario = gen.generate(self.b.seed, 100, 1, 40)

    def _day(self, day: gen.Day, base: str, op: int) -> tuple[dict, float]:
        from web_scraping_etl_pipeline_spark import pipeline
        from web_scraping_etl_pipeline_spark.sources import ingest

        b = self.b
        with b.tracer.span("op", op) as s:
            with b.tracer.span("sources.ingest") as landing:
                ingest.write_bronze(ingest.batch_to_df(b.spark, day.records),
                                    f"{base}/bronze", day.ingest_date)
            with b.tracer.span("pipeline.run_batch") as run:
                bronze = b.spark.read.parquet(
                    f"{base}/bronze/ingest_date={day.ingest_date}")
                result = pipeline.run_batch(
                    b.spark, bronze, f"{base}/silver", f"{base}/state.json")
        ok = day_ok(result, day)
        b.count(ok)
        if not ok:
            b.log(f"etl check failed on {day.ingest_date}: got rows="
                  f"{result['rows']} watermark={result['watermark']}, "
                  f"expected {day.expected_rows} {day.expected_watermark}")
        return {"op": op, "ok": ok, "ingest_s": landing.seconds,
                "run_batch_s": run.seconds, "landed": len(day.records),
                "rows": result["rows"]}, s.seconds

    def run_pass(self, p: int | None) -> tuple[dict[str, float], float]:
        """Daily-op latencies and the pass wall: backfill, days and
        refresh, without the checks; ``p`` is None for the warm-up,
        which runs a small scenario."""
        from web_scraping_etl_pipeline_spark import pipeline

        b = self.b
        timed = p is not None
        base = b.work("etl-warm" if p is None else f"etl-pass{p}")
        scenario = self.scenario if timed else self.warm_scenario
        days = scenario.days
        _, backfill = self._day(days[0], base, b.next_op(timed))
        latencies = {}
        daily = []
        for d, day in enumerate(days[1:], 1):
            rec, latencies[f"day{d}"] = self._day(day, base, b.next_op(timed))
            daily.append(rec)
        silver = f"{base}/silver"
        files = _parquet_files(silver)
        with b.tracer.span("op", b.next_op(timed)) as s:
            with b.tracer.span("pipeline.refresh"):
                refreshed = pipeline.refresh_remaining_time(
                    b.spark, silver, REFRESH_NOW_US)
        self.passes.append((silver, refreshed, scenario))
        if timed:
            self.daily += daily
            self.backfill_s.append(backfill)
            self.refresh_s.append(s.seconds)
            self.silver_path = silver
            self.silver_files, self.silver_bytes = files
        return latencies, backfill + sum(latencies.values()) + s.seconds

    def _check_silver(self, silver_path: str, refreshed: int,
                      scenario: gen.Scenario) -> bool:
        """The table a pass left behind."""
        row = self.b.spark.read.parquet(silver_path).agg(
            F.count("*").alias("n"),
            F.countDistinct("job_link").alias("links"),
            F.sum(F.round(F.col("salary") * 1000).cast("long")).alias("sum"),
            F.sum(F.col("salary").isNull().cast("long")).alias("nulls"),
        ).first()
        got = (refreshed, row["n"], row["links"], row["sum"], row["nulls"])
        self.silver_rows = row["n"]
        if silver_ok(got, scenario):
            return True
        self.b.log(f"silver check failed: got (refreshed, rows, links, "
                   f"salary checksum, null salaries)={got}")
        return False

    def warm_up(self) -> None:
        """One unrecorded pass of a small scenario (a 100-row backfill
        and one 40-row day) on its own storage: the first run of each
        path in a JVM pays for class loading and code generation that
        later runs reuse."""
        self.run_pass(None)

    def check(self) -> None:
        """Untimed: each pass's silver table (each daily op was checked
        as it completed)."""
        for silver_path, refreshed, scenario in self.passes:
            self.b.count(self._check_silver(silver_path, refreshed, scenario))

    def layers(self, log) -> dict:
        b = self.b
        m = {}
        m["sources.ingest_s"] = statistics.median(
            [r["ingest_s"] for r in self.daily])
        m["pipeline.run_batch_s"] = statistics.median(
            [r["run_batch_s"] for r in self.daily])
        m["pipeline.kept_ratio"] = (sum(r["rows"] for r in self.daily)
                                    / sum(r["landed"] for r in self.daily))
        m["pipeline.rows_per_s"] = sum(r["rows"] for r in self.daily) / sum(
            r["ingest_s"] + r["run_batch_s"] for r in self.daily)
        m["pipeline.backfill_s"] = statistics.median(self.backfill_s)
        m["pipeline.refresh_s"] = statistics.median(self.refresh_s)
        m["silver.files"] = self.silver_files
        m["silver.bytes_per_row"] = self.silver_bytes / self.silver_rows
        daily_ops = {r["op"] for r in self.daily}
        m["pipeline.jobs_per_batch"] = log.work(
            b.span_ids("pipeline.run_batch", daily_ops))["jobs"] / len(daily_ops)
        m["pipeline.refresh_jobs"] = log.work(
            b.span_ids("pipeline.refresh", set(b.op_pass)))["jobs"] / len(
                self.refresh_s)
        m["functions.clean_transform_s"] = self.clean_transform_s
        m.update(b.exec_layer(log, {"sources.ingest", "pipeline.run_batch"}))
        return m

    def trace_extra(self) -> None:
        """Time ``transform(clean(batch))`` over the backfill day into
        noop, apart from the pipeline (traced runs only)."""
        from web_scraping_etl_pipeline_spark.pipeline import clean, transform

        day = self.scenario.days[0]
        bronze = self.b.spark.read.parquet(
            f"{os.path.dirname(self.silver_path)}/bronze/"
            f"ingest_date={day.ingest_date}")
        with self.b.tracer.span("functions.clean_transform") as s:
            noop(transform(clean(bronze)))
        self.clean_transform_s = s.seconds


#: queries whose DataFrame builds with at most one Spark job (the
#: schema read of its input), run at sf0.1: the reference's script.sql
#: Q1-Q5 and its clean_title / clean_salary / calculate_dates.
LAZY = (
    "q01_deadline_horizon", "q02_min_value", "q03_recent_first",
    "q04_contains_count", "q05_top_paying", "q11_clean_title",
    "q12_clean_salary", "q13_calculate_dates",
)
#: queries whose build phase dominates, run at sf0.01: a driver-side
#: iterative loop and an availableNow streaming drain.
LOOPS = ("q197_subtree_rollup", "q212_stream_session_finalized")
#: each query's input directory under perfbench/data, which holds only
#: the star tables the mix reads there (copies of the generated star
#: schema at that scale factor), and the file that pins its oracle
#: row count at that scale.
SCALES = {"sf0.1": (LAZY, "CORRECTNESS_SF01.json"),
          "sf0.01": (LOOPS, "CORRECTNESS_FULL.json")}


def _tables(sf_dir: str) -> list[str]:
    return sorted(f[:-len(".parquet")] for f in os.listdir(sf_dir)
                  if f.endswith(".parquet"))


def _duck(sf_dir: str):
    """A DuckDB connection with a view over each table of ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for table in _tables(sf_dir):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{table}.parquet')")
    return con


class QueryMix:
    name = "query_mix"

    def __init__(self, bench):
        self.b = bench
        self.sf_dir = {name: os.path.join(bench.bench_dir, "data", sf)
                       for sf, (names, _) in SCALES.items() for name in names}
        self.names = list(LAZY + LOOPS)
        self.ops: list[dict] = []
        self.last_df: dict = {}
        self.persisted: list[int] = []
        self.load_s: list[float] = []

    def prepare(self) -> None:
        """Load every star table the mix reads, once. None of the mix's
        queries reads a session-shared stage, so there is none to
        build."""
        from web_scraping_etl_pipeline_spark.sources.star import load_table

        b = self.b
        with b.tracer.span("sources.load_tables") as s:
            for sf_dir in sorted(set(self.sf_dir.values())):
                for table in _tables(sf_dir):
                    with b.tracer.span("sources.load_table"):
                        load_table(b.spark, sf_dir, table)
        self.load_s.append(s.seconds)

    def warm_up(self) -> None:
        """One unrecorded pass: the first run of a query in a JVM pays
        for class loading and code generation that later runs reuse.
        More warm-up passes steady the next passes (the just-in-time
        compiler keeps speeding them up) but cost a pass each."""
        self.run_pass(None)

    def run_pass(self, p: int | None) -> tuple[list[float], float]:
        """Query latencies and the pass wall, their sum; ``p`` is None
        for the warm-up pass."""
        from web_scraping_etl_pipeline_spark.plans import QUERIES
        from web_scraping_etl_pipeline_spark.plans.common import (
            release_transients,
        )

        b = self.b
        order = list(self.names)
        random.Random(f"{b.seed}/{p}").shuffle(order)
        latencies = {}
        for name in order:
            op = b.next_op(timed=p is not None)
            try:
                with b.tracer.span("op", op) as s:
                    with b.tracer.span("plans.build") as build:
                        df = QUERIES[name](b.spark, self.sf_dir[name])
                    with b.tracer.span("exec.noop") as run:
                        noop(df)
                    release_transients()
            except Exception as exc:  # noqa: BLE001 - count it, keep going
                b.log(f"{name} failed: {exc}")
                b.count(False)
                continue
            b.count(True)
            if b.tracer.enabled:
                s.attrs["persisted_after_release"] = (
                    b.spark.sparkContext._jsc.getPersistentRDDs().size())
                self.persisted.append(s.attrs["persisted_after_release"])
            self.last_df[name] = df
            if p is None:
                continue
            self.ops.append({"op": op, "name": name, "pass": p,
                             "build_s": build.seconds, "exec_s": run.seconds})
            latencies[name] = s.seconds
        return latencies, sum(latencies.values())

    def check(self) -> None:
        """Untimed: each query's last result (see :func:`_mismatch`)."""
        import json

        b = self.b
        for sf, (names, pinned_file) in SCALES.items():
            with open(os.path.join(b.root, pinned_file)) as fh:
                pinned = json.load(fh)
            con = _duck(os.path.join(b.bench_dir, "data", sf))
            try:
                for name in names:
                    if name not in self.last_df:
                        continue  # its op already counted as failed
                    problem = _mismatch(name, self.last_df[name], con,
                                        pinned[name])
                    if problem:
                        b.log(f"{name} check failed: {problem} "
                              f"({pinned_file})")
                        b.failed += 1
            finally:
                con.close()

    def trace_extra(self) -> None:
        pass

    def layers(self, log) -> dict:
        b = self.b
        passes = b.passes
        m = {}
        for cls, names in (("", self.names), ("_lazy", LAZY), ("_loops", LOOPS)):
            ops = [o for o in self.ops if o["name"] in names]
            build = sum(o["build_s"] for o in ops)
            m[f"plans.build_share{cls}"] = build / (
                build + sum(o["exec_s"] for o in ops))
        m["plans.build_s"] = statistics.median([
            sum(o["build_s"] for o in self.ops if o["pass"] == p)
            for p in range(passes)])
        m["plans.build_jobs"] = log.work(
            b.span_ids("plans.build", set(b.op_pass)))["jobs"] / passes
        m["plans.persisted_after_release"] = max(self.persisted)
        m["sources.load_table_s"] = statistics.median(self.load_s)
        m["sources.load_jobs"] = log.work(b.span_ids("sources.load_table"))["jobs"]
        m["exec.exec_s"] = statistics.median([
            sum(o["exec_s"] for o in self.ops if o["pass"] == p)
            for p in range(passes)])
        m.update(b.exec_layer(log, {"exec.noop"}))
        return m


def _mismatch(name: str, df, con, pin: dict) -> str | None:
    """Why the query's result ``df`` is wrong, or None: it is checked
    against the query's DuckDB oracle twin on the same files (``con``)
    and against its pinned oracle row count (``pin``)."""
    from tools.invariance_check import oracle_hash
    from web_scraping_etl_pipeline_spark.plans import ORACLE

    if pin["oracle_hash"] != oracle_hash(name):
        return "its pinned row is stale"
    try:
        return rows_mismatch(con, df.toArrow(), ORACLE[name],
                             pin["oracle_rows"])
    except Exception as exc:  # noqa: BLE001 - a failed check
        return f"error {exc}"


def rows_mismatch(con, result, oracle_sql: str, rows: int) -> str | None:
    """Why the Arrow table ``result`` is not the multiset of rows
    ``oracle_sql`` gives on ``con``, or not ``rows`` rows long; None if
    it is. Columns are matched by name, and each value is compared as
    DuckDB's text of it, which writes a double in its shortest exact
    form; NULLs match NULLs. The comparison runs inside DuckDB because
    normalising the rows one by one in Python took 15 s a run at sf0.1."""
    if result.num_rows != rows:
        return f"{result.num_rows} rows, pinned {rows}"
    con.register("spark_result", result)
    try:
        got = sorted(result.column_names)
        want = sorted(d[0] for d in con.execute(
            f"SELECT * FROM ({oracle_sql}) LIMIT 0").description)
        if got != want:
            return f"columns {got} != oracle {want}"
        text = ", ".join(f'CAST("{c}" AS VARCHAR) AS "{c}"' for c in got)
        extra, missing = con.execute(
            f"WITH s AS (SELECT {text} FROM spark_result), "
            f"o AS (SELECT {text} FROM ({oracle_sql})) "
            "SELECT (SELECT count(*) FROM (FROM s EXCEPT ALL FROM o)), "
            "(SELECT count(*) FROM (FROM o EXCEPT ALL FROM s))").fetchone()
    finally:
        con.unregister("spark_result")
    if extra or missing:
        return f"{extra} rows not in the oracle's, {missing} of its missing"
    return None


def _parquet_files(path: str) -> tuple[int, int]:
    files = [os.path.join(d, f) for d, _, fs in os.walk(path)
             for f in fs if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files)


WORKLOADS = {w.name: w for w in (EtlDaily, QueryMix)}
