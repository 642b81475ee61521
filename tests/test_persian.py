"""Jalali calendar + Persian text functions: golden anchors, round-trip
property, and the composed F2+F3+F4 datetime parse (SURVEY.md §2.7)."""

import datetime as dt

from pyspark.sql import functions as F

from news_crawler_spark.functions import persian

# well-known Nowruz anchors (Jalali New Year = March equinox day)
GOLDEN = [
    ((1400, 1, 1), (2021, 3, 21)),
    ((1403, 1, 1), (2024, 3, 20)),
    ((1402, 12, 29), (2024, 3, 19)),   # 1402 not leap: Esfand has 29 days
    ((1403, 12, 30), (2025, 3, 20)),   # 1403 IS leap: Esfand has 30 days
    ((1404, 6, 12), (2025, 9, 3)),     # 12 Shahrivar 1404
]


def test_golden_anchors_python():
    for jal, greg in GOLDEN:
        assert persian.jalali_to_gregorian(*jal) == greg, jal
        assert persian.gregorian_to_jalali(*greg) == jal, greg


def test_round_trip_property():
    d = dt.date(1995, 1, 1)
    while d < dt.date(2035, 1, 1):
        jy, jm, jd = persian.gregorian_to_jalali(d.year, d.month, d.day)
        assert persian.jalali_to_gregorian(jy, jm, jd) == (d.year, d.month, d.day), d
        assert 1 <= jm <= 12 and 1 <= jd <= 31
        d += dt.timedelta(days=17)  # stride across month/year boundaries


def test_jalali_udfs(spark):
    df = spark.createDataFrame(
        [(jy, jm, jd) for (jy, jm, jd), _ in GOLDEN], "jy int, jm int, jd int"
    )
    got = df.select(
        "jy", "jm", "jd", persian.jalali_to_date("jy", "jm", "jd").alias("g")
    ).collect()
    want = {jal: dt.date(*greg) for jal, greg in GOLDEN}
    for r in got:
        assert r.g == want[(r.jy, r.jm, r.jd)]
    back = (
        persian.with_jalali_columns(
            spark.createDataFrame([(d,) for d in want.values()], "g date"), "g"
        )
        .collect()
    )
    inv = {dt.date(*greg): jal for jal, greg in GOLDEN}
    for r in back:
        assert (r.jy, r.jm, r.jd) == inv[r.g]


def test_digit_translation(spark):
    df = spark.createDataFrame([("۱۴۰۳ و ٢٤",)], "s string")
    assert df.select(
        persian.persian_digits_to_latin("s").alias("x")
    ).collect()[0].x == "1403 و 24"


def test_clean_persian_text(spark):
    df = spark.createDataFrame([("می‌خواهم   این  را ",)], "s string")
    out = df.select(persian.clean_persian_text("s").alias("x")).collect()[0].x
    assert "‌" not in out and "  " not in out
    assert out == "می خواهم این را"


def test_parse_persian_datetime(spark):
    # 12 Shahrivar 1404, 18:17 Tehran (UTC+3:30) → 14:47 UTC on 2025-09-03
    df = spark.createDataFrame(
        [("چهارشنبه ۱۲ شهریور ۱۴۰۴ - ۱۸:۱۷",), ("۱ فروردین ۱۴۰۳ - ۰۰:۳۰",)],
        "s string",
    )
    got = [r.ts for r in df.select(persian.parse_persian_datetime("s").alias("ts")).collect()]
    assert got[0] == dt.datetime(2025, 9, 3, 14, 47)
    # 00:30 Tehran on 2024-03-20 → 21:00 UTC on 2024-03-19
    assert got[1] == dt.datetime(2024, 3, 19, 21, 0)


def test_archive_url_and_sitemap_key(spark):
    df = spark.createDataFrame([("https://www.isna.ir", 1403, 1, 2)],
                               "base string, jy int, jm int, jd int")
    r = df.select(
        persian.archive_url("base", F.col("jy"), F.col("jm"), F.col("jd")).alias("u"),
    ).collect()[0]
    assert r.u == "https://www.isna.ir/page/archive.xhtml?mn=1&wide=0&dy=2&ms=0&pi=1&yr=1403"


# ---------------------------------------------------------------------------
# F3 known-hard: the reference ALSO ships an APPROXIMATE Jalali converter
# (utils/shamsi_converter.py:122-155) used by its TGJU/price path, which
# disagrees with the exact algorithm on most dates. Test-only twin below
# reproduces it bit-for-bit (including the min(day, 28) clamp and the
# dead gregorian_day variable); the fixture pins a divergence table so
# nobody "fixes" the engine to match the wrong one. The engine itself
# (functions/persian.py) stays on the exact 33-year-cycle algorithm.

def approx_shamsi_to_gregorian_twin(jy: int, jm: int, jd: int):
    """Bit-exact twin of shamsi_converter.shamsi_to_gregorian:122-155."""
    from datetime import date

    if jy < 100:
        jy += 1400 if jy < 50 else 1300
    gy = jy + 621
    if jm <= 6:
        gm = jm + 3
    else:
        gm = jm - 6
        gy += 1
    if gm > 12:
        gm -= 12
        gy += 1
    return date(gy, gm, min(jd, 28))


def test_approximate_jalali_divergence_pinned():
    """Pinned divergence set: (jalali input, exact result, approx result).
    The approximate path is wrong by days-to-weeks on ordinary dates; the
    engine must keep producing the EXACT column."""
    from datetime import date

    from news_crawler_spark.functions.persian import jalali_to_gregorian

    cases = [
        # (jy, jm, jd) -> exact, approx
        ((1403, 1, 1), date(2024, 3, 20), date(2024, 4, 1)),
        ((1403, 7, 1), date(2024, 9, 22), date(2025, 1, 1)),
        ((1402, 12, 29), date(2024, 3, 19), date(2024, 6, 28)),
        ((1403, 6, 31), date(2024, 9, 21), date(2024, 9, 28)),
        ((1400, 10, 11), date(2022, 1, 1), date(2022, 4, 11)),
        # short-year heuristic: 04 → 1404
        ((4, 1, 1), date(2025, 3, 21), date(2025, 4, 1)),
    ]
    for (jy, jm, jd), exact_want, approx_want in cases:
        assert date(*jalali_to_gregorian(jy if jy >= 100 else jy + 1400, jm, jd)) == exact_want
        assert approx_shamsi_to_gregorian_twin(jy, jm, jd) == approx_want
        assert exact_want != approx_want  # they genuinely diverge here
