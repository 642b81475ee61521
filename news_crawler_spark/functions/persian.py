"""Persian-calendar & Persian-text functions (SURVEY.md §2.7 F1-F5, F8).

The reference treats the Jalali (Shamsi) calendar as a first-class type
concern: Persian-digit translation (collectors/isna/daily_links_collector.py:17,96),
Persian month-name datetime parsing (collectors/isna/links_crawler.py:171-206),
Jalali↔Gregorian conversion (jdatetime at
collectors/isna/historical_links_collector.py:32; hand-rolled Julian-day in
utils/shamsi_date.py:38-94), and Tehran→UTC normalization
(collectors/isna/links_crawler.py:44-49).

Here:
- digit translation / ZWNJ cleanup / month-name mapping are pure
  ``pyspark.sql.functions`` expressions (translate / regexp) — JVM-side;
- the calendar arithmetic is the public 33-year-cycle Jalali algorithm
  (the same one jdatetime/jalaali-js implement), exposed both as plain
  Python (test oracle) and as vectorized pandas UDFs;
- note the reference ALSO ships an approximate converter
  (utils/shamsi_converter.py:122-155) that disagrees with the exact one on
  some dates; we implement only the exact algorithm and document the
  divergence (SURVEY.md §7.4).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PERSIAN_DIGITS = "۰۱۲۳۴۵۶۷۸۹"
ARABIC_DIGITS = "٠١٢٣٤٥٦٧٨٩"
LATIN_DIGITS = "0123456789"

# month order is the Jalali year (Farvardin=1 … Esfand=12)
PERSIAN_MONTHS = [
    "فروردین", "اردیبهشت", "خرداد", "تیر", "مرداد", "شهریور",
    "مهر", "آبان", "آذر", "دی", "بهمن", "اسفند",
]

ZWNJ = "‌"
ZWJ = "‍"


# --------------------------------------------------------------------------
# JVM-side text functions

def persian_digits_to_latin(c: Column | str) -> Column:
    """F1: Persian + Arabic-Indic digits → ASCII (``translate`` builtin)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.translate(col, PERSIAN_DIGITS + ARABIC_DIGITS, LATIN_DIGITS * 2)


def clean_persian_text(c: Column | str) -> Column:
    """F8: drop ZWNJ/ZWJ, collapse whitespace, trim (isna_source.py:100-112)."""
    col = F.col(c) if isinstance(c, str) else c
    no_joiners = F.regexp_replace(col, f"[{ZWNJ}{ZWJ}]", " ")
    return F.trim(F.regexp_replace(no_joiners, "\\s+", " "))


def persian_month_number(c: Column | str) -> Column:
    """Month name → 1..12 via a literal map (broadcast-free, codegen'd)."""
    col = F.col(c) if isinstance(c, str) else c
    m = F.create_map(
        *[x for i, name in enumerate(PERSIAN_MONTHS) for x in (F.lit(name), F.lit(i + 1))]
    )
    return m[col]


# --------------------------------------------------------------------------
# Jalali calendar arithmetic (public 33-year-cycle algorithm)

_BREAKS = [
    -61, 9, 38, 199, 426, 686, 756, 818, 1111, 1181, 1210,
    1635, 2060, 2097, 2192, 2262, 2324, 2394, 2456, 3178,
]


def _jal_cal(jy: int) -> tuple[int, int, int]:
    """(leap, gregorian_year, march_day) for Jalali year ``jy``."""
    gy = jy + 621
    leap_j = -14
    jp = _BREAKS[0]
    jump = 0
    for jm in _BREAKS[1:]:
        jump = jm - jp
        if jy < jm:
            break
        leap_j += (jump // 33) * 8 + (jump % 33) // 4
        jp = jm
    n = jy - jp
    leap_j += (n // 33) * 8 + ((n % 33) + 3) // 4
    if (jump % 33) == 4 and jump - n == 4:
        leap_j += 1
    leap_g = gy // 4 - ((gy // 100 + 1) * 3) // 4 - 150
    march = 20 + leap_j - leap_g
    if jump - n < 6:
        n = n - jump + ((jump + 4) // 33) * 33
    leap = (((n + 1) % 33) - 1) % 4
    if leap == -1:
        leap = 4
    return leap, gy, march


def _tdiv(a: int, b: int) -> int:
    """Division truncated toward zero — the algorithm is specified with
    truncating division; Python's ``//`` floors, which differs on the
    negative ``gm - 8`` term and shifts results by a year."""
    q = abs(a) // abs(b)
    return q if (a < 0) == (b < 0) else -q


def _g2d(gy: int, gm: int, gd: int) -> int:
    d = (
        _tdiv((gy + _tdiv(gm - 8, 6) + 100100) * 1461, 4)
        + _tdiv(153 * ((gm + 9) % 12) + 2, 5)
        + gd
        - 34840408
    )
    return d - _tdiv(_tdiv(gy + 100100 + _tdiv(gm - 8, 6), 100) * 3, 4) + 752


def _d2g(jdn: int) -> tuple[int, int, int]:
    j = 4 * jdn + 139361631 + (((4 * jdn + 183187720) // 146097) * 3 // 4) * 4 - 3908
    i = (j % 1461) // 4 * 5 + 308
    gd = (i % 153) // 5 + 1
    gm = (i // 153) % 12 + 1
    gy = j // 1461 - 100100 + _tdiv(8 - gm, 6)
    return gy, gm, gd


def jalali_to_gregorian(jy: int, jm: int, jd: int) -> tuple[int, int, int]:
    """Exact Jalali → Gregorian (pure Python; the pandas UDFs and the test
    oracle share this function)."""
    _leap, gy, march = _jal_cal(jy)
    jdn = _g2d(gy, 3, march) + (jm - 1) * 31 - (jm // 7) * (jm - 7) + jd - 1
    return _d2g(jdn)


def gregorian_to_jalali(gy: int, gm: int, gd: int) -> tuple[int, int, int]:
    jdn = _g2d(gy, gm, gd)
    jy = _d2g(jdn)[0] - 621
    leap, _gy, march = _jal_cal(jy)
    k = jdn - _g2d(_gy, 3, march)
    if k >= 0:
        if k <= 185:
            return jy, 1 + k // 31, (k % 31) + 1
        k -= 186
    else:
        jy -= 1
        k += 179
        if leap == 1:
            k += 1
    return jy, 7 + k // 30, (k % 30) + 1


# --------------------------------------------------------------------------
# vectorized UDFs

@F.pandas_udf(T.DateType())
def jalali_to_date(jy: pd.Series, jm: pd.Series, jd: pd.Series) -> pd.Series:
    """F3: (jy, jm, jd) → Gregorian date, vectorized."""
    import datetime as dt

    out = []
    for y, m, d in zip(jy, jm, jd):
        if pd.isna(y) or pd.isna(m) or pd.isna(d):
            out.append(None)
            continue
        gy, gm, gd = jalali_to_gregorian(int(y), int(m), int(d))
        out.append(dt.date(gy, gm, gd))
    return pd.Series(out)


# explicit StructType: a DDL string here would need a live SparkSession
# at import time (pandas_udf parses DDL via the JVM)
_JAL_STRUCT = T.StructType(
    [
        T.StructField("jy", T.IntegerType()),
        T.StructField("jm", T.IntegerType()),
        T.StructField("jd", T.IntegerType()),
    ]
)


@F.pandas_udf(_JAL_STRUCT)
def date_to_jalali(dates: pd.Series) -> pd.DataFrame:
    """Gregorian date → (jy, jm, jd) struct, vectorized."""
    rows = []
    for d in dates:
        if pd.isna(d):
            rows.append({"jy": None, "jm": None, "jd": None})
            continue
        jy, jm, jd = gregorian_to_jalali(d.year, d.month, d.day)
        rows.append({"jy": jy, "jm": jm, "jd": jd})
    return pd.DataFrame(rows)


# --------------------------------------------------------------------------
# the composed F2+F3+F4 pipeline

# '(دوشنبه )?۱۲ شهریور ۱۴۰۴ - ۱۸:۱۷' after digit translation
_PERSIAN_DT_RE = r"(\d{1,2})\s+(\S+)\s+(\d{4})\s*-\s*(\d{1,2}):(\d{2})"


def parse_persian_datetime(
    c: Column | str, tz: str = "Asia/Tehran"
) -> Column:
    """F2+F3+F4: parse a Persian datetime string ('۱۲ شهریور ۱۴۰۴ - ۱۸:۱۷',
    optionally prefixed with a weekday name) to a UTC timestamp.

    Digit translation + regex + month map are JVM expressions; only the
    calendar conversion crosses into (vectorized) python. The final
    ``to_utc_timestamp`` mirrors the reference's Tehran→UTC normalization.
    """
    s = persian_digits_to_latin(clean_persian_text(c))
    day = F.regexp_extract(s, _PERSIAN_DT_RE, 1).cast("int")
    month = persian_month_number(F.regexp_extract(s, _PERSIAN_DT_RE, 2))
    year = F.regexp_extract(s, _PERSIAN_DT_RE, 3).cast("int")
    hour = F.regexp_extract(s, _PERSIAN_DT_RE, 4).cast("int")
    minute = F.regexp_extract(s, _PERSIAN_DT_RE, 5).cast("int")
    gdate = jalali_to_date(year, month, day)
    local_ts = F.to_timestamp(
        F.concat_ws(
            " ",
            F.date_format(gdate, "yyyy-MM-dd"),
            F.format_string("%02d:%02d:00", hour, minute),
        )
    )
    return F.to_utc_timestamp(local_ts, tz)


def with_jalali_columns(df: DataFrame, date_col: str) -> DataFrame:
    """Convenience: add (jy, jm, jd) columns for a Gregorian date column —
    e.g. to build per-Jalali-day archive URLs (S1/S2 date→URL exprs)."""
    j = date_to_jalali(F.col(date_col))
    return df.withColumn("jy", j["jy"]).withColumn("jm", j["jm"]).withColumn("jd", j["jd"])


def archive_url(source_base: Column | str, jy: Column, jm: Column, jd: Column) -> Column:
    """S1-pattern Jalali archive URL (format_string — JVM-side)."""
    base = F.col(source_base) if isinstance(source_base, str) else source_base
    return F.format_string(
        "%s/page/archive.xhtml?mn=%d&wide=0&dy=%d&ms=0&pi=1&yr=%d",
        base, jm, jd, jy,
    )
