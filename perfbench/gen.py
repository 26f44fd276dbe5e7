"""Seeded generator of scraped job-posting batches for the ``etl_daily``
workload.

The text follows the reference scraper's shapes as FIXTURES.md (A1)
lists them. Salaries take every shape of the reference's
``clean_salary`` branches: a ``triệu`` range (``"10 - 20 triệu"``), a
single ``triệu`` amount bare or with a prefix (``"25 triệu"``,
``"Tới 30 triệu"``), a USD range with grouping commas
(``"1,000 - 2,000 USD"``), a single USD amount bare or with a prefix
(``"$500"``, ``"Tới 1,500 USD"``) and the negotiable ``"Thỏa thuận"``.
Titles take every shape of ``clean_title``'s inputs: a ``" - Hà Nội"``
or ``" - Up to $2,000"`` tail, a parenthesised stack before the tail,
a double tail, no tail, and a title with no word character (the
fallback branch). Deadlines read ``"Còn N ngày để ứng tuyển"``.

No record of real scrape traffic exists to weigh these shapes, so each
salary shape and each title shape is equally likely: an assumption,
chosen so that every parser branch is measured.

Each daily batch mixes three kinds of row:

- new postings (a fresh ``job_link`` posted that day), which the
  pipeline must write to silver;
- re-scrapes of an earlier posting that keep its old ``posted_date``,
  which the watermark filter drops;
- reposts of an earlier ``job_link`` with a new ``posted_date``, which
  pass the watermark and are dropped by the anti-join against silver.

The generator also records what a correct pipeline must produce, so the
benchmark can check the outputs without a second implementation.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass

#: exchange rate the package's salary parser applies to USD amounts.
USD_TO_MILLION_VND = 23_000 / 1_000_000

NEW_SHARE = 0.75
RESCRAPE_SHARE = 0.15  # the remaining 0.10 are reposts

EPOCH = dt.datetime(2025, 1, 1)
LOCATIONS = ("Hà Nội", "Hồ Chí Minh", "Đà Nẵng", "Cần Thơ", "Hải Phòng")
ROLES = (
    "Kỹ Sư Phần Mềm", "Data Engineer", "Senior Python Developer",
    "Nhân Viên Kinh Doanh", "Kế Toán Tổng Hợp", "Tester", "DevOps Engineer",
    "Chuyên Viên Marketing", "Business Analyst", "Java Developer",
)
STACKS = ("ETL/Spark", "Java/Spring", "React.js", "C++")


@dataclass
class Day:
    """One scraped batch plus what the pipeline must make of it."""

    records: list[dict]
    ingest_date: str
    expected_rows: int  # new postings: rows run_batch must write
    expected_watermark: dt.datetime  # max posted_date of the new postings


@dataclass
class Scenario:
    """A backfill day followed by daily scrapes."""

    days: list[Day]
    salary_checksum: int = 0  # sum of round(mean * 1000) over new postings
    null_salaries: int = 0  # new postings whose salary is negotiable
    links: int = 0  # distinct job_links written overall


def _salary(rng: random.Random) -> tuple[str, float | None]:
    """A salary string, one shape of each seven equally likely, and the
    mean the package must parse from it."""
    kind = rng.randrange(7)
    if kind == 0:
        lo = rng.randint(5, 40)
        hi = lo + rng.randint(1, 20)
        return f"{lo} - {hi} triệu", (lo + hi) / 2.0
    if kind in (1, 2):
        top = rng.randint(8, 60)
        return f"{'Tới ' if kind == 2 else ''}{top} triệu", float(top)
    if kind == 3:
        lo = rng.randint(5, 30) * 100
        hi = lo + rng.randint(1, 20) * 100
        mean = (lo * USD_TO_MILLION_VND + hi * USD_TO_MILLION_VND) / 2.0
        return f"{lo:,} - {hi:,} USD", mean
    if kind == 4:
        amount = rng.randint(2, 19) * 50
        return f"${amount}", amount * USD_TO_MILLION_VND
    if kind == 5:
        amount = rng.randint(5, 40) * 100
        return f"Tới {amount:,} USD", amount * USD_TO_MILLION_VND
    return "Thỏa thuận", None


def _title(rng: random.Random, location: str) -> str:
    """A job title, one shape of each six equally likely."""
    role = rng.choice(ROLES)
    kind = rng.randrange(6)
    if kind == 0:
        return f"{role} - {location}"
    if kind == 1:
        return f"{role} - Up to ${rng.randint(1, 5)},000"
    if kind == 2:
        return f"{role} ({rng.choice(STACKS)}) - {location}"
    if kind == 3:
        return f"{role} - HCM - Thỏa Thuận"
    if kind == 4:
        return role
    return "★★★"


def _posting(rng: random.Random, link: str, posted: dt.datetime) -> dict:
    location = rng.choice(LOCATIONS)
    title = _title(rng, location)
    salary, mean = _salary(rng)
    days_left = rng.randint(1, 45)
    return {
        "job_name": title,
        "job_link": link,
        "salary": salary,
        "company_name": f"Công ty {rng.randint(1, 5000)}",
        "update_text": f"Cập nhật {rng.randint(1, 23)} giờ trước",
        "job_location": location,
        "remaining_time_text": f"Còn {days_left} ngày để ứng tuyển",
        "posted_date": posted,
        "due_date": posted + dt.timedelta(days=days_left),
        "_mean": mean,
    }


def generate(seed: int, backfill_rows: int, days: int, rows_per_day: int
             ) -> Scenario:
    """Build the backfill day and ``days`` daily batches from ``seed``.

    Day ``d`` posts inside its own calendar day, so every new posting is
    later than every earlier watermark; re-scrapes carry an earlier
    day's ``posted_date`` and reposts a time inside day ``d``."""
    rng = random.Random(seed)
    scenario = Scenario(days=[])
    seen: list[dict] = []  # every posting written to silver so far
    for d in range(days + 1):
        n = backfill_rows if d == 0 else rows_per_day
        n_new = n if d == 0 else round(n * NEW_SHARE)
        n_rescrape = 0 if d == 0 else round(n * RESCRAPE_SHARE)
        n_repost = n - n_new - n_rescrape
        day_start = EPOCH + dt.timedelta(days=d)

        def stamp() -> dt.datetime:
            return day_start + dt.timedelta(
                seconds=rng.randrange(86_400), microseconds=rng.randrange(10**6)
            )

        new = [
            _posting(rng, f"https://www.topcv.vn/viec-lam/{seed}-{d}-{i}", stamp())
            for i in range(n_new)
        ]
        old = rng.sample(seen, n_rescrape + n_repost) if seen else []
        rescrapes = [dict(p) for p in old[:n_rescrape]]
        reposts = [dict(p, posted_date=stamp()) for p in old[n_rescrape:]]
        records = new + rescrapes + reposts
        rng.shuffle(records)
        for p in new:
            if p["_mean"] is None:
                scenario.null_salaries += 1
            else:
                scenario.salary_checksum += round(p["_mean"] * 1000)
        seen.extend(new)
        scenario.days.append(Day(
            records=[{k: v for k, v in r.items() if k != "_mean"}
                     for r in records],
            ingest_date=day_start.date().isoformat(),
            expected_rows=n_new,
            expected_watermark=max(p["posted_date"] for p in new),
        ))
    scenario.links = len(seen)
    return scenario
