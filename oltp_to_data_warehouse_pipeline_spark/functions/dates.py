"""Date-derivation expressions — the dim_date surface (F11-F18).

Reference semantics come from Postgres (`DB.sql:89-102`); Spark's calendar
functions differ in origin/offsets, so each expression documents the parity
rule (SURVEY.md §2.7 F13-F18; §7 "hard parts" (b)):

- Postgres EXTRACT(DOW):    Sunday=0..Saturday=6; Spark dayofweek: Sunday=1.
- Postgres EXTRACT(ISODOW): Monday=1..Sunday=7;   Spark weekday:  Monday=0.
- `is_leapyear` implements the *intended* leap-year flag (B6 fixed — the
  reference's literal SQL is always-false).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def date_key(c: Column | str) -> Column:
    """F11 — yyyymmdd surrogate date key (REPLACE(date,'-','') in DB.sql:89)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.date_format(col, "yyyyMMdd")


def dow_pg(c: Column | str) -> Column:
    """F14 — Postgres DOW: Sunday=0..Saturday=6."""
    col = F.col(c) if isinstance(c, str) else c
    return (F.dayofweek(col) - F.lit(1)).cast("int")


def isodow(c: Column | str) -> Column:
    """F15 — ISO day of week: Monday=1..Sunday=7."""
    col = F.col(c) if isinstance(c, str) else c
    return (F.weekday(col) + F.lit(1)).cast("int")


def day_name(c: Column | str) -> Column:
    """F16 — full day name ('Monday'); reference used TO_CHAR(c,'Dy')."""
    col = F.col(c) if isinstance(c, str) else c
    return F.date_format(col, "EEEE")


def month_name(c: Column | str) -> Column:
    """F16 — full month name ('January')."""
    col = F.col(c) if isinstance(c, str) else c
    return F.date_format(col, "MMMM")


def is_weekday(c: Column | str) -> Column:
    """F17 — 1 for Mon-Fri, 0 for Sat/Sun (DB.sql:100)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.when(F.dayofweek(col).isin(1, 7), F.lit(0)).otherwise(F.lit(1)).cast("int")


def is_leapyear(c: Column | str) -> Column:
    """F18 — leap-year flag of the date's year (intended semantics, B6)."""
    col = F.col(c) if isinstance(c, str) else c
    y = F.year(col)
    leap = ((y % 4 == 0) & (y % 100 != 0)) | (y % 400 == 0)
    return F.when(leap, F.lit(1)).otherwise(F.lit(0)).cast("int")


def date_parts(c: Column | str) -> dict[str, Column]:
    """F13 — the full dim_date derivation set keyed by output column name.

    Matches `DB.sql:54-102`'s columns: year/month/quarter/week/day plus the
    F14-F18 derived flags.  `month`/`quarter`/`week` are strings in the
    reference DDL (DB.sql:58-61); kept numeric-as-string here.
    """
    col = F.col(c) if isinstance(c, str) else c
    return {
        "date_full": F.to_date(col),
        "year": F.year(col).cast("bigint"),
        "month": F.month(col).cast("string"),
        "quarter": F.quarter(col).cast("string"),
        "week": F.weekofyear(col).cast("string"),
        "day": F.dayofmonth(col).cast("int"),
        "day_of_week": dow_pg(col),
        "day_name": day_name(col),
        "month_name": month_name(col),
        "is_weekday": is_weekday(col),
        "is_leapyear": is_leapyear(col),
    }
