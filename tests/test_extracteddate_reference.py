"""Upstream ExtractedDateTest vectors, transcribed mechanically
(ExtractedDateTest.java:37-170 — every active assertion; the
getNormalizedDate Calendar.toString comparisons reduce to the same
epoch math getDifference pins).
"""

from kgp import dateparse as dp
from kgp import dates as dts
from kgp.dateparse import (get_2_digits, get_difference, get_exactness,
                           get_normalized_date_string, parse_date)

SECONDS = 1000
MINUTES = 60_000
HOURS = 3_600_000
DAYS = 86_400_000


def _setup():
    p = parse_date
    return {
        1: p("2010-06-12", dp.DATE_ISO8601_YMD.fmt),
        2: p("10-06-07", dp.DATE_ISO8601_YMD.fmt),
        3: p("07.06.2010", dts.THREE_PART_FORMATS[2].fmt),
        4: p("07.06.10", dts.THREE_PART_FORMATS[2].fmt),
        5: p("06/07/2010", dts.THREE_PART_FORMATS[1].fmt),
        6: p("06/07/10", dts.THREE_PART_FORMATS[1].fmt),
        7: p("07. June 2010", dts.THREE_PART_FORMATS[5].fmt),
        8: p("June 07, 2010", dts.THREE_PART_FORMATS[3].fmt),
        9: p("07. June '10", dts.THREE_PART_FORMATS[5].fmt),
        10: p("2010_06_07", dts.DATE_URL_D.fmt),
        11: p("2010.06.07", dts.DATE_URL_D.fmt),
        12: p("2010/06/07", dts.DATE_URL_D.fmt),
        13: p("june 10", dts.TWO_PART_FORMATS[1].fmt),
        14: p("june 2010", dts.TWO_PART_FORMATS[1].fmt),
        15: p("june '10", dts.TWO_PART_FORMATS[1].fmt),
        16: p("mon, 07 jun 2010 07:06:05 GMT", dts.DATE_RFC_1123.fmt),
        17: p("Mondy, 07-jun-10 07:06:05 GMT", dp.DATE_RFC_1036.fmt),
        18: p("mon jun 7 07:06:05 2010", dts.DATE_ANSI_C.fmt),
    }


def test_get_normalized_date_string():
    d = _setup()
    expected = {1: "2010-06-12"}
    for i in range(2, 13):
        expected[i] = "2010-06-07"
    for i in (13, 14, 15):
        expected[i] = "2010-06"
    for i in (16, 17, 18):
        expected[i] = "2010-06-07 07:06:05"
    for i, exp in expected.items():
        assert d[i] is not None, i
        assert get_normalized_date_string(d[i]) == exp, i


def test_set_date_parts():
    d = _setup()
    assert d[1].year == 2010
    assert d[1].month == 6
    assert d[1].day == 12
    assert d[15].day == -1
    for i in (16, 17, 18):
        assert d[i].hour == 7, i
        assert d[i].minute == 6, i
        assert d[i].second == 5, i


def test_get_exactness():
    d = _setup()
    DAY, MONTH, SECOND = 3, 2, 6
    for i in range(1, 13):
        assert get_exactness(d[i]) == DAY, i
    for i in (13, 14, 15):
        assert get_exactness(d[i]) == MONTH, i
    for i in (16, 17, 18):
        assert get_exactness(d[i]) == SECOND, i


def test_get_difference():
    d = _setup()
    assert get_difference(d[1], d[2], SECONDS) == 432000
    assert get_difference(d[1], d[2], MINUTES) == 7200
    assert get_difference(d[1], d[2], HOURS) == 120
    assert get_difference(d[1], d[2], DAYS) == 5
    assert get_difference(d[1], d[1], SECONDS) == 0


def test_get_2_digits():
    assert get_2_digits(0) == "00"
    assert get_2_digits(9) == "09"
    assert get_2_digits(10) == "10"


def test_get_difference_replays_month_quirk():
    """getCalendar sets the 1-based month as the 0-based Calendar.MONTH
    with lenient rollover: 2023-01-31 reads as 2023-03-03 and
    2023-02-28 as 2023-03-28, so the pair is 25 days apart, not 28.
    Same-month pairs are unaffected."""
    def day(y, m, d):
        return dp.ParsedDate("", "", y, m, d, -1, -1, -1, None)
    assert get_difference(day(2023, 1, 31), day(2023, 2, 28), DAYS) == 25
    assert get_difference(day(2023, 1, 15), day(2023, 2, 15), DAYS) == 28
    assert get_difference(day(2023, 12, 31), day(2024, 1, 1), DAYS) == 1
    assert get_difference(day(2023, 3, 1), day(2023, 3, 31), DAYS) == 30
