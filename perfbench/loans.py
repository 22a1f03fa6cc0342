"""Seeded daily loan-CSV feed for the ``loan_etl`` workload.

One CSV per business day, columns as FIXTURES.md §1 specifies:
``loan_id`` (unique across the feed), ``timestamp`` (the three accepted
formats in rotation, ~5% garbage, ~5% null, all on the file's day),
``loan_amount`` (lognormal, ~10% null), ``loan_type`` (skewed so the
mode is unique, ~10% null), ``term_months`` (~15% null) and
``credit_score`` (300-850, ~10% null). Days start on the 12th of a
seed-chosen month, so a feed of two or more days has day-of-month > 12
cases that tell ``MM/dd`` from ``dd-MM``. The same seed gives
byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd

TS_FORMATS = ("%Y-%m-%d %H:%M:%S", "%m/%d/%Y %H:%M:%S", "%d-%m-%Y %H:%M:%S")
GARBAGE_TS = ("not a date", "2024-13-45 99:99:99", "31/31/2024 25:00:00", "??")
LOAN_TYPES = ("personal", "auto", "home", "education", "business")
LOAN_TYPE_P = (0.38, 0.24, 0.18, 0.12, 0.08)
TERMS = (12, 24, 36, 60)


# 2024 months whose 12th falls on Monday-Thursday, so the feed's first two
# business days are the 12th and 13th: one day-of-month <= 12, where
# ``MM/dd`` and ``dd-MM`` read alike, and one > 12, where only one parses
MONTHS = (2, 3, 6, 8, 9, 11, 12)


def business_days(seed: int, n: int) -> list[dt.date]:
    """``n`` consecutive weekdays from the 12th of a seed-chosen 2024 month."""
    day = dt.date(2024, MONTHS[seed % len(MONTHS)], 12)
    out = []
    while len(out) < n:
        if day.weekday() < 5:
            out.append(day)
        day += dt.timedelta(days=1)
    return out


def _nulls(rng, n: int, frac: float) -> np.ndarray:
    return rng.random(n) < frac


def day_frame(rng, day: dt.date, first_id: int, rows: int) -> pd.DataFrame:
    """One business day of loans; ids ``first_id .. first_id+rows-1``."""
    secs = rng.integers(0, 86_400, rows)
    stamps = [
        (dt.datetime.combine(day, dt.time()) + dt.timedelta(seconds=int(s))).strftime(
            TS_FORMATS[i % 3]
        )
        for i, s in enumerate(secs)
    ]
    ts = pd.Series(stamps, dtype=object)
    roll = rng.random(rows)
    garbage = roll < 0.05
    ts[garbage] = np.array(GARBAGE_TS, dtype=object)[rng.integers(0, len(GARBAGE_TS), garbage.sum())]
    ts[(roll >= 0.05) & (roll < 0.10)] = None

    amount = pd.Series(np.round(rng.lognormal(9.5, 0.8, rows), 2))
    amount[_nulls(rng, rows, 0.10)] = None
    ltype = pd.Series(np.array(LOAN_TYPES, dtype=object)[rng.choice(5, rows, p=LOAN_TYPE_P)])
    ltype[_nulls(rng, rows, 0.10)] = None
    term = pd.Series(np.array(TERMS)[rng.integers(0, 4, rows)], dtype="Int64")
    term[_nulls(rng, rows, 0.15)] = pd.NA
    score = pd.Series(rng.integers(300, 851, rows), dtype="Int64")
    score[_nulls(rng, rows, 0.10)] = pd.NA
    return pd.DataFrame(
        {
            "loan_id": np.arange(first_id, first_id + rows, dtype=np.int64),
            "timestamp": ts,
            "loan_amount": amount,
            "loan_type": ltype,
            "term_months": term,
            "credit_score": score,
        }
    )


def write_feed(out_dir: str, seed: int, days: int, rows_per_day: int) -> list[dict]:
    """Write ``days`` daily files to ``out_dir``; returns one record per file
    with its path, row count and ``loan_type`` histogram (null as None)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    files = []
    for k, day in enumerate(business_days(seed, days)):
        df = day_frame(rng, day, 1 + k * rows_per_day, rows_per_day)
        path = os.path.join(out_dir, f"loans_{day.isoformat()}.csv")
        df.to_csv(path, index=False, float_format="%.2f")
        counts = df["loan_type"].value_counts(dropna=False)
        files.append(
            {
                "path": path,
                "rows": rows_per_day,
                "by_loan_type": {
                    (None if pd.isna(t) else t): int(c) for t, c in counts.items()
                },
            }
        )
    return files
