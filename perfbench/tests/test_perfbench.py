"""Tests of the benchmark's own code; no Spark session is started.

Run from the root of a checkout: ``python3 -m pytest perfbench/tests -q``.
"""

import json
import os
import re
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def _scenario(seed):
    return gen.generate(seed, backfill_rows=200, days=4, rows_per_day=100)


def test_same_seed_same_batches_other_seed_other_batches():
    a, b, c = _scenario(7), _scenario(7), _scenario(8)
    assert [d.records for d in a.days] == [d.records for d in b.days]
    assert (a.salary_checksum, a.links) == (b.salary_checksum, b.links)
    assert [d.records for d in a.days] != [d.records for d in c.days]


def test_daily_batches_mix_new_rescraped_and_reposted_rows():
    sc = _scenario(3)
    seen = {}
    for i, day in enumerate(sc.days):
        links = [r["job_link"] for r in day.records]
        assert len(links) == len(set(links))
        old = [r for r in day.records if r["job_link"] in seen]
        new = [r for r in day.records if r["job_link"] not in seen]
        assert len(new) == day.expected_rows
        assert day.expected_watermark == max(r["posted_date"] for r in new)
        if i:
            rescraped = [r for r in old
                         if r["posted_date"] == seen[r["job_link"]]]
            assert len(new) == 75 and len(rescraped) == 15
            assert len(old) - len(rescraped) == 10
            # the watermark filter drops exactly the re-scrapes
            watermark = sc.days[i - 1].expected_watermark
            assert all(r["posted_date"] <= watermark for r in rescraped)
            assert all(r["posted_date"] > watermark
                       for r in day.records if r not in rescraped)
        seen.update((r["job_link"], r["posted_date"]) for r in new)
    assert sc.links == len(seen)


def test_every_salary_and_title_shape_is_emitted():
    assert gen.USD_TO_MILLION_VND == 0.023
    records = [r for d in _scenario(5).days for r in d.records]
    salary_shapes = {
        r"\d+ - \d+ triệu", r"\d+ triệu", r"Tới \d+ triệu",
        r"[\d,]+ - [\d,]+ USD", r"\$\d+", r"Tới [\d,]+ USD", r"Thỏa thuận"}
    title_shapes = {
        r".+ - [^$]+", r".+ - Up to \$\d,000", r".+ \(.+\) - .+",
        r".+ - HCM - Thỏa Thuận", r"[^-★]+", r"★★★"}
    for shapes, column in ((salary_shapes, "salary"), (title_shapes, "job_name")):
        for shape in shapes:
            assert any(re.fullmatch(shape, r[column]) for r in records), shape
    assert any(re.fullmatch(r"Tới \d,\d{3} USD", r["salary"]) for r in records)


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]
    value, pct, n = stats.tail(values)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(v > value for v in values) == 10
    value, pct, n = stats.tail([float(i) for i in range(11)])
    assert (value, n) == (0.0, 11) and pct == pytest.approx(100 / 11)
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)


def test_quartile_spread_matches_statistics_quantiles():
    assert stats.quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx(
        (4.5 - 1.5) / 3.0)


def test_result_names_every_benchmark_metric_with_its_unit():
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
    for kind in ("end_to_end", "per_layer"):
        units = run.metric_units(kind)
        assert units == {m["name"]: m["unit"] for m in spec[kind]}
        values = {name: float(i + 1) for i, name in enumerate(units)}
        out = run.named(values, units)
        assert list(out) == [m["name"] for m in spec[kind]]
        assert all(out[k] == {"value": values[k], "unit": units[k]} for k in out)
        del values[next(iter(units))]
        with pytest.raises(KeyError):
            run.named(values, units)


def test_correctness_gate_fails_on_a_wrong_expected_count():
    day = _scenario(1).days[1]
    result = {"rows": day.expected_rows, "watermark": day.expected_watermark}
    assert workloads.day_ok(result, day)
    day.expected_rows += 1
    assert not workloads.day_ok(result, day)

    sc = _scenario(1)
    good = (sc.links, sc.links, sc.links, sc.salary_checksum, sc.null_salaries)
    assert workloads.silver_ok(good, sc)
    sc.links += 1
    assert not workloads.silver_ok(good, sc)


def test_failed_checks_count_against_attempted():
    bench = run.Bench("etl_daily", seed=1, seconds=1, trace=False)
    bench.count(True)
    bench.count(False)
    assert (bench.attempted, bench.failed) == (2, 1)


def test_event_log_ties_jobs_to_spans_and_sums_task_metrics(tmp_path):
    import spans

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Properties": {"spark.jobGroup.id": "perfbench-7"},
         "Stage Infos": [{"Stage ID": 0}, {"Stage ID": 1}]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": {},
         "Stage Infos": [{"Stage ID": 2}]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "JVM GC Time": 100,
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 6,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 40}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 500,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                     "Local Bytes Read": 2}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Metrics": {"Executor Run Time": 9000}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 1000, "Completion Time": 3000}},
    ]
    (tmp_path / "local-123").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    w = spans.EventLog.read(str(tmp_path), "local-123").work({7})
    # stage 1 ran no task (skipped), job 1 belongs to no span
    assert {k: w[k] for k in ("jobs", "stages", "tasks", "spill_bytes",
                              "shuffle_read_bytes", "shuffle_write_bytes")} == {
        "jobs": 1, "stages": 1, "tasks": 2, "spill_bytes": 11,
        "shuffle_read_bytes": 3, "shuffle_write_bytes": 40}
    assert (w["executor_run_s"], w["gc_s"]) == (2.0, 0.1)
    assert w["intervals"] == [(1.0, 3.0)]


def test_covered_is_the_length_of_the_union():
    import spans

    assert spans.covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.covered([]) == 0


def test_query_check_fails_on_a_wrong_value_row_or_count():
    duckdb = pytest.importorskip("duckdb")
    pa = pytest.importorskip("pyarrow")

    con = duckdb.connect()
    oracle = ("SELECT * FROM (VALUES (1, 0.1, 'a'), (2, NULL, 'b'), "
              "(2, NULL, 'b')) t(k, v, s)")

    def table(k, v, s):
        return pa.table({"s": s, "k": k, "v": v})  # columns in any order

    good = table([2, 1, 2], [None, 0.1, None], ["b", "a", "b"])
    assert workloads.rows_mismatch(con, good, oracle, 3) is None
    assert workloads.rows_mismatch(con, good, oracle, 4) is not None
    wrong_value = table([1, 2, 2], [0.1 + 1e-15, None, None], ["a", "b", "b"])
    assert workloads.rows_mismatch(con, wrong_value, oracle, 3) is not None
    wrong_row = table([1, 2, 3], [0.1, None, None], ["a", "b", "b"])
    assert workloads.rows_mismatch(con, wrong_row, oracle, 3) is not None
    wrong_column = pa.table({"k": [1, 2, 2], "v": [0.1, None, None],
                             "t": ["a", "b", "b"]})
    assert workloads.rows_mismatch(con, wrong_column, oracle, 3) is not None
