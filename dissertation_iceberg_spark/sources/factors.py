"""Factor-file source (SURVEY S8) + trading-calendar dim (replaces
exchange_calendars, trading_strategy.py:114-120).

The reference reads the Fama-French daily file with
``read_csv(skiprows=[0,1,2])`` and drops a trailing junk row
(order_imbalance.py:116-129). Spark's CSV reader has no skip-N-lines;
the declarative equivalent is: read as text, keep only rows matching
the data shape (8-digit date prefix), then parse with ``from_csv`` and
an explicit schema. This is scan+filter+project — no driver-side
preprocessing, no RDD.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

FF_COLUMNS = ("mkt_rf", "smb", "hml", "rmw", "cma", "rf")


def read_ff_factors(
    spark: SparkSession, path: str, min_date: str = "2018-01-01"
) -> DataFrame:
    """Headerless-ish FF file -> (date, Mkt-RF, SMB, HML, RMW, CMA, RF).

    Junk header/footer lines are dropped by the data-shape predicate
    (rows must start with an 8-digit date) — skiprows without row
    numbers, so the same plan works on a multi-split file at scale.
    """
    schema = "date_raw STRING, mkt_rf DOUBLE, smb DOUBLE, hml DOUBLE, rmw DOUBLE, cma DOUBLE, rf DOUBLE"
    lines = spark.read.text(path)
    parsed = (
        lines.filter(F.col("value").rlike(r"^\s*\d{8}\s*,"))
        .select(F.from_csv(F.col("value"), schema).alias("r"))
        .select("r.*")
        .withColumn("date", F.to_date("date_raw", "yyyyMMdd"))
        .drop("date_raw")
    )
    return parsed.filter(F.col("date") >= F.lit(min_date)).select("date", *FF_COLUMNS)


def _easter(year: int):
    """Gregorian Easter Sunday (Anonymous/Butcher computus — public
    algorithm)."""
    import datetime as dt

    a = year % 19
    b, c = divmod(year, 100)
    d, e = divmod(b, 4)
    f = (b + 8) // 25
    g = (b - f + 1) // 3
    h = (19 * a + b - d - g + 15) % 30
    i, k = divmod(c, 4)
    l = (32 + 2 * e + 2 * i - h - k) % 7  # noqa: E741
    m = (a + 11 * h + 22 * l) // 451
    month, day = divmod(h + l - 7 * m + 114, 31)
    return dt.date(year, month, day + 1)


def _nth_weekday(year: int, month: int, weekday: int, n: int):
    """n-th (1-based; n=-1 ⇒ last) given weekday (Mon=0) of a month."""
    import calendar as _cal
    import datetime as dt

    if n > 0:
        first = dt.date(year, month, 1)
        off = (weekday - first.weekday()) % 7 + (n - 1) * 7
        return first + dt.timedelta(days=off)
    last = dt.date(year, month, _cal.monthrange(year, month)[1])
    return last - dt.timedelta(days=(last.weekday() - weekday) % 7)


# Ad-hoc full-day NYSE closures, 2000-2026 (public record): 9/11 week,
# Reagan/Ford/Bush/Carter mourning days, Hurricane Sandy.
_NYSE_AD_HOC = {
    "2001-09-11", "2001-09-12", "2001-09-13", "2001-09-14",
    "2004-06-11", "2007-01-02", "2012-10-29", "2012-10-30",
    "2018-12-05", "2025-01-09",
}


def nyse_holidays(start_year: int, end_year: int) -> set:
    """Deterministic NYSE full-closure dates (rule-based; replaces
    exchange_calendars.get_calendar('XNYS'), trading_strategy.py:114-120).

    Weekend observance: Sat holidays shift to Friday (except New Year's
    Day, which is simply not observed when on Saturday — no prior-year
    shift), Sun holidays shift to Monday.
    """
    import datetime as dt

    one = dt.timedelta(days=1)

    def observed(d: dt.date, new_year: bool = False):
        if d.weekday() == 5:  # Saturday
            return None if new_year else d - one
        if d.weekday() == 6:  # Sunday
            return d + one
        return d

    out = {dt.date.fromisoformat(s) for s in _NYSE_AD_HOC}
    for y in range(start_year, end_year + 1):
        for h in (
            observed(dt.date(y, 1, 1), new_year=True),
            _nth_weekday(y, 1, 0, 3),  # MLK Day (3rd Mon Jan)
            _nth_weekday(y, 2, 0, 3),  # Washington's Birthday
            _easter(y) - 2 * one,  # Good Friday
            _nth_weekday(y, 5, 0, -1),  # Memorial Day (last Mon May)
            observed(dt.date(y, 6, 19)) if y >= 2022 else None,  # Juneteenth
            observed(dt.date(y, 7, 4)),  # Independence Day
            _nth_weekday(y, 9, 0, 1),  # Labor Day
            _nth_weekday(y, 11, 3, 4),  # Thanksgiving (4th Thu Nov)
            observed(dt.date(y, 12, 25)),  # Christmas
        ):
            if h is not None:
                out.add(h)
    return out


def trading_days(spark: SparkSession, start: str, end: str) -> DataFrame:
    """Trading-calendar dim (date, is_trading_day, next/prev trading
    day) — the strategies' lookup table, replacing
    ``exchange_calendars.sessions_in_range``
    (trading_strategy.py:114-120,253-265).

    The XNYS calendar: weekends AND rule-derived NYSE holidays/ad-hoc
    closures are not trading days. The dim is O(days) — the global
    window is over a tiny frame by construction (documented
    single-partition point)."""
    days = spark.sql(
        f"SELECT explode(sequence(to_date('{start}'), to_date('{end}'), "
        "interval 1 day)) AS date"
    )
    hols = nyse_holidays(int(start[:4]), int(end[:4]))
    is_td = ~F.dayofweek("date").isin(1, 7) & ~F.col("date").isin(  # Sun=1, Sat=7
        *[h.isoformat() for h in sorted(hols)]
    )
    cal = days.withColumn("is_trading_day", is_td)
    w = Window.orderBy("date")
    next_td = F.first(
        F.when(F.col("is_trading_day"), F.col("date")), ignorenulls=True
    ).over(w.rowsBetween(1, 7))
    prev_td = F.last(
        F.when(F.col("is_trading_day"), F.col("date")), ignorenulls=True
    ).over(w.rowsBetween(-7, -1))
    return cal.withColumn("next_trading_day", next_td).withColumn(
        "prev_trading_day", prev_td
    )
