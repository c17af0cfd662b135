"""Reference-exact date parsing + normalization.

Ports, from palladian-commons:

- ``DateParserLogic`` (helper/date/DateParserLogic.java:66-720): the
  per-format parse dispatch, time-zone split, UTC-difference
  arithmetic, ISO week/day-of-year calendar math, AM/PM handling,
  two-digit-year normalization and the ``removeNoDigits`` scrubber.
- ``ExtractedDateImpl`` (helper/date/ExtractedDateImpl.java:120-180):
  ``getNormalizedDateString`` (progressive "YYYY-MM-DD HH:MM:SS"
  truncated at the first unset field, with the trailing "-0" chop)
  and ``getExactness`` (DateExactness.java:21-33).
- ``DateParser.findDates/findDate`` (helper/date/DateParser.java:
  107-254): removeDoubleWhitespaces, the period/digit-neighbour
  skips, first-format-wins ``findDate``, and the as-written
  ``String.replaceFirst(dateString, 'x'*n)`` masking where the
  matched date string is used AS A REGEX (so '.' wildcards and '+'
  quantifiers behave exactly as in Java -- quirk kept).
- The ``RegExp.HTML_HEAD_DATES`` bank (helper/constants/RegExp.java:
  335-339) with the formats the existing ``kgp.dates`` bank lacks:
  RFC 1036, ANSI C + UTC diff, ISO YMD with [/._] separators and
  optional time, ISO week (YYYY-Www[-D]) and ordinal (YYYY-DDD)
  dates.

Determinism note: ``get4DigitYear`` consults the CURRENT year in the
reference (DateParserLogic.java:582-590); this port pins
``CONTEXT_YEAR = 2026`` so results are stable.

Used by kgp.datestack (Head/Structure/Reference date getters and the
technique raters). The feature-grade ``kgp.contentdates.parse_parts``
stays as-is -- it feeds the ContentDateRater features whose goldens
are already pinned.
"""

from __future__ import annotations

import re
from typing import NamedTuple

from kgp import dates as _dates
from kgp.dates import (ALL_DATE_FORMATS, DATE_ANSI_C, DATE_RFC_1123,
                       DateFormat, _df, _g)

# ---- extra pattern components (RegExp.java:21-67) -------------------

LONG_YEAR = r"\d{4}"
SHORT_YEAR = r"\d{2}"
YEAR_SHORT_LONG = LONG_YEAR + r"|(?:'?" + SHORT_YEAR + ")"
MONTH_NUMBER_DOUBLE = r"0[1-9]|1[0-2]"
DAY_OF_MONTH = r"0[1-9]|[12][0-9]|3[01]"
DAY_OF_MONTH_1 = r"[1-9]|[12][0-9]|3[01]"
DAY_OF_YEAR = r"[012][0-9][0-9]|3[0-5][0-9]|36[0-6]"
DAY_OF_WEEK = r"[1-7]"
WEEK_OF_YEAR = r"W(?:0[1-9]|[1-4][0-9]|5[0-3])"
MONTH_NAME_SHORT_ENG = (
    r"[Jj]an|[Ff]eb|[Mm]ar|[Aa]pr|[Mm]ay|[Jj]un|[Jj]ul|[Aa]ug|[Ss]ep"
    r"|[Ss]ept|[Oo]ct|[Nn]ov|[Dd]ec|JAN|FEB|MAR|APR|MAY|JUN|JUL|AUG"
    r"|SEP|SEPT|OCT|NOV|DEC")
WEEKDAY_NAME_SHORT = r"Mon|Tue|Wed|Thu|Fri|Sat|Sun"
WEEKDAY_NAME_LONG = r"(?:Mon|Tues|Wednes|Thurs|Fri|Satur|Sun)day"
HOUR = r"1[0-9]|2[0-4]|0[0-9]"
MIN = r"0[0-9]|[1-5][0-9]"
TIME_SEC = _g(HOUR) + ":" + _g(MIN) + ":" + _g(MIN)
TIMEZONE = r"\s(?:UTC|MEZ|GMT|Z|AEST|BST|EST|CES?T)"
GMT_OPT = r"\s?(?:GMT|UTC|Z)?"
DIFF_UTC = GMT_OPT + r"\s?[+-]" + _g(HOUR) + "(?::?" + _g(MIN) + ")?"
FLOAT_SEC_OPT = r"(?:\.\d*)?"
TIME24 = (_g(HOUR) + "(?::" + _g(MIN) + "(?::" + _g(MIN)
          + FLOAT_SEC_OPT + ")?)?")
ISO_TIME = r"[T\s]" + TIME24 + "(?:" + DIFF_UTC + "|Z)?"

DATE_RFC_1123_UTC = _df(
    _g(WEEKDAY_NAME_SHORT) + ", " + _g(DAY_OF_MONTH) + " "
    + _g(MONTH_NAME_SHORT_ENG) + " " + LONG_YEAR + " " + TIME_SEC
    + " " + DIFF_UTC, "WD, DD MMM YYYY HH:MM:SS +UTC")
DATE_RFC_1036_UTC = _df(
    _g(WEEKDAY_NAME_LONG) + ", " + _g(DAY_OF_MONTH) + "-"
    + _g(MONTH_NAME_SHORT_ENG) + "-" + SHORT_YEAR + " " + TIME_SEC
    + " " + DIFF_UTC, "WWD, DD-MMM-YY HH:MM:SS +UTC")
DATE_RFC_1036 = _df(
    _g(WEEKDAY_NAME_LONG) + ", " + _g(DAY_OF_MONTH) + "-"
    + _g(MONTH_NAME_SHORT_ENG) + "-" + SHORT_YEAR + " " + TIME_SEC
    + TIMEZONE, "WWD, DD-MMM-YY HH:MM:SS TZ")
DATE_ANSI_C_TZ = _df(
    _g(WEEKDAY_NAME_SHORT) + " " + _g(MONTH_NAME_SHORT_ENG) + " "
    + _g(DAY_OF_MONTH_1) + " " + TIME_SEC + " " + LONG_YEAR + " "
    + DIFF_UTC, "WD MMM DD_1 HH:MM:SS YYYY +UTC")
DATE_ISO8601_YMD_T = _df(
    _g(YEAR_SHORT_LONG) + "-" + _g(MONTH_NUMBER_DOUBLE) + "-"
    + _g(DAY_OF_MONTH) + ISO_TIME, "YYYY-MM-DDTHH:MM:SS+HH:MM")
_YMD_SEP_T = "|".join(
    _g(YEAR_SHORT_LONG) + sep + _g(MONTH_NUMBER_DOUBLE) + sep
    + _g(DAY_OF_MONTH) + ISO_TIME for sep in ("/", r"\.", "_"))
DATE_ISO8601_YMD_SEPARATOR_T = _df("(" + _YMD_SEP_T + ")",
                                   "YYYY-MM-DDTHH:MM:SS+HH:MM")
DATE_ISO8601_YMD = _df(
    _g(YEAR_SHORT_LONG) + "-" + _g(MONTH_NUMBER_DOUBLE) + "-"
    + _g(DAY_OF_MONTH), "YYYY-MM-DD")
_YMD_SEP = "|".join(
    _g(YEAR_SHORT_LONG) + sep + _g(MONTH_NUMBER_DOUBLE) + sep
    + _g(DAY_OF_MONTH) for sep in ("/", r"\.", "_"))
DATE_ISO8601_YMD_SEPARATOR = _df(_YMD_SEP, "YYYY-MM-DD")
DATE_ISO8601_YWD = _df(LONG_YEAR + "-" + _g(WEEK_OF_YEAR) + "-"
                       + DAY_OF_WEEK, "YYYY-WW-D")
DATE_ISO8601_YD = _df(LONG_YEAR + "-" + _g(DAY_OF_YEAR), "YYYY-DDD")
DATE_ISO8601_YM = _df(_g(YEAR_SHORT_LONG) + "-"
                      + _g(MONTH_NUMBER_DOUBLE), "YYYY-MM")
DATE_ISO8601_YW = _df(LONG_YEAR + "-" + _g(WEEK_OF_YEAR), "YYYY-WW")

# ---- remaining RegExp bank members (RegExp.java:111-226) ------------

MONTH_NAME_SHORT = (
    r"(?:[Aa]pr|[Aa]ug|[Dd]e[cz]|[Ff]eb|[Jj]an|[Jj]u[ln]|[Mm]a[iry]"
    r"|[Mm]är|[Nn]ov|[Oo][ck]t|[Ss]ept?"
    r"|APR|AUG|DE[CZ]|FEB|JAN|JU[LN]|MA[IRY]|MÄR|NOV|O[CK]T|SEPT?)\.?")

DATE_ISO8601_YD_T = _df(
    LONG_YEAR + "-" + _g(DAY_OF_YEAR) + ISO_TIME,
    "YYYY-DDDTHH:MM:SS+HH:MM")
DATE_ISO8601_YWD_T = _df(
    LONG_YEAR + "-" + _g(WEEK_OF_YEAR) + "-" + DAY_OF_WEEK + ISO_TIME,
    "YYYY-WW-DTHH:MM:SS+HH:MM")
DATE_ISO8601_YWD_NO = _df(
    LONG_YEAR + _g(WEEK_OF_YEAR) + DAY_OF_WEEK, "YYYYWWD")
DATE_ISO8601_YW_NO = _df(LONG_YEAR + _g(WEEK_OF_YEAR), "YYYYWW")
DATE_ISO8601_YD_NO = _df(LONG_YEAR + _g(DAY_OF_YEAR), "YYYYDDD")
DATE_MMM_DD_HH_MM_SS_TZ_YYYY = _df(
    _g(MONTH_NAME_SHORT) + r"\s" + _g(_dates.DAY_OF_MONTH_1_2)
    + r"\s" + _g(_dates.TIME) + TIMEZONE + r"\s" + LONG_YEAR,
    "MMM DD HH:MM:SS TZ YYYY")
DATE_EU_MM_Y = _df(
    _g(_dates.MONTH_NUMBER_NORMAL) + "[/._-]" + _g(YEAR_SHORT_LONG),
    "MM.YYYY")
_USA_MDY_SEP = "|".join(
    _g(_dates.MONTH_NUMBER_NORMAL) + sep + _g(_dates.DAY_OF_MONTH_1_2)
    + sep + _g(YEAR_SHORT_LONG) for sep in (r"\.", "-", "_"))
DATE_USA_MM_D_Y_SEPARATOR = _df(_USA_MDY_SEP, "MM/DD/YYYY")
DATE_USA_MM_D_Y_T_SEPARATOR = _df(
    _g(_USA_MDY_SEP) + _dates.TIME_SEPARATOR + _g(_dates.TIME)
    + "(?:" + DIFF_UTC + "|" + TIMEZONE + ")?",
    "MM/DD/YYYY HH:MM:SS +UTC")

# RegExp.RFC_FORMATS == HTTP_DATES (RegExp.java:297-298, 332)
HTTP_DATES: "list[DateFormat]" = None  # set below

# RegExp.HTML_HEAD_DATES, reference order (RegExp.java:337-339)
HTML_HEAD_DATES: list[DateFormat] = [
    DATE_RFC_1123, DATE_RFC_1036, DATE_ANSI_C_TZ, DATE_ANSI_C,
    DATE_ISO8601_YMD_T, DATE_ISO8601_YMD_SEPARATOR_T,
    DATE_ISO8601_YMD, DATE_ISO8601_YMD_SEPARATOR, DATE_ISO8601_YWD,
    DATE_ISO8601_YD, DATE_ISO8601_YM, DATE_ISO8601_YW,
]

HTTP_DATES = [DATE_ANSI_C_TZ, DATE_ANSI_C, DATE_RFC_1036_UTC,
              DATE_RFC_1036, DATE_RFC_1123_UTC, DATE_RFC_1123]

# RegExp.RELATIVE_DATES (RegExp.java:287-343): "<n> <unit> ago"
RELATIVE_DATES: "list[DateFormat]" = [
    _df(r"\d* (minute|minutes) ago", "min"),
    _df(r"\d* (hour|hours) ago", "hour"),
    _df(r"\d* (day|days) ago", "day"),
    _df(r"\d* (month|months) ago", "mon"),
    _df(r"\d* (year|years) ago", "year"),
]

_RELATIVE_MS = {"min": 60_000, "hour": 3_600_000, "day": 86_400_000,
                "mon": 30 * 86_400_000, "year": 365 * 86_400_000}


def find_relative_date(text: str,
                       current_time_ms: int) -> ParsedDate | None:
    """DateParser.findRelativeDate (:261-289): first matching
    relative format wins; months are 30 days, years 365 (rounded, as
    upstream documents).  The reference converts the millisecond
    instant through a default-zone Calendar; this port pins UTC
    (deterministic; every test vector is hours away from midnight)."""
    import datetime as _dt
    for fmt in RELATIVE_DATES:
        m = fmt.pattern.search(text)
        if m:
            number = _java_int(m.group().split(" ")[0])
            rel = current_time_ms - number * _RELATIVE_MS[fmt.fmt]
            cal = _dt.datetime.fromtimestamp(rel / 1000.0,
                                             _dt.timezone.utc)
            return ParsedDate(m.group(), fmt.fmt, cal.year, cal.month,
                              cal.day, cal.hour, cal.minute,
                              cal.second, None)
    return None


# RegExp.ALL_DATE_FORMATS — the COMPLETE reference bank in its exact
# construction order (RegExp.java:295-359: RFC > TIME > THREE_PART >
# TWO_PART > ONE_PART).  kgp.dates.ALL_DATE_FORMATS is the compact
# tagger subset from earlier rounds; findDate/findDates default to
# THIS bank, matching DateParser.
REF_ALL_DATE_FORMATS: list[DateFormat] = (
    # RFC_FORMATS
    [DATE_ANSI_C_TZ, DATE_ANSI_C, DATE_RFC_1036_UTC, DATE_RFC_1036,
     DATE_RFC_1123_UTC, DATE_RFC_1123]
    # TIME_FORMATS
    + [DATE_ISO8601_YD_T, DATE_ISO8601_YMD_T, DATE_ISO8601_YWD_T,
       _dates.TIME_FORMATS[1], _dates.TIME_FORMATS[2],
       _dates.TIME_FORMATS[3], _dates.TIME_FORMATS[4],
       DATE_USA_MM_D_Y_T_SEPARATOR, DATE_MMM_DD_HH_MM_SS_TZ_YYYY]
    # THREE_PART_FORMATS
    + [DATE_ISO8601_YMD, _dates.THREE_PART_FORMATS[1],
       _dates.THREE_PART_FORMATS[2], _dates.THREE_PART_FORMATS[3],
       _dates.THREE_PART_FORMATS[4], _dates.THREE_PART_FORMATS[5],
       DATE_ISO8601_YWD, _dates.DATE_URL_D,
       DATE_USA_MM_D_Y_SEPARATOR, _dates.THREE_PART_FORMATS[6],
       DATE_ISO8601_YMD_SEPARATOR]
    # TWO_PART_FORMATS
    + [DATE_ISO8601_YD, DATE_ISO8601_YM, DATE_ISO8601_YW,
       _dates.TWO_PART_FORMATS[1], _dates.TWO_PART_FORMATS[2],
       _dates.TWO_PART_FORMATS[3], _dates.TWO_PART_FORMATS[4],
       _dates.TWO_PART_FORMATS[5], _dates.TWO_PART_FORMATS[6],
       DATE_EU_MM_Y, _dates.DATE_URL]
    # ONE_PART_FORMATS
    + [DATE_ISO8601_YD_NO, _dates.DATE_ISO8601_YMD_NO,
       DATE_ISO8601_YW_NO, DATE_ISO8601_YWD_NO]
)

CONTEXT_YEAR = 2026  # pinned "current year" for get4DigitYear

_TIME_ZONE_PATTERN = re.compile(TIMEZONE, re.IGNORECASE)
_MULTI_WS = re.compile(r"[ ]{2,}")

_MONTHS = {
    "jan": 1, "january": 1, "januar": 1,
    "feb": 2, "february": 2, "februar": 2,
    "mar": 3, "march": 3, "mär": 3, "märz": 3, "marz": 3,
    "apr": 4, "april": 4,
    "may": 5, "mai": 5,
    "jun": 6, "june": 6, "juni": 6,
    "jul": 7, "july": 7, "juli": 7,
    "aug": 8, "august": 8,
    "sep": 9, "sept": 9, "september": 9,
    "oct": 10, "october": 10, "okt": 10, "oktober": 10,
    "nov": 11, "november": 11,
    "dec": 12, "december": 12, "dez": 12, "dezember": 12,
}


class ParsedDate(NamedTuple):
    date_string: str
    fmt: str
    year: int       # -1 when unset, everywhere below
    month: int
    day: int
    hour: int
    minute: int
    second: int
    time_zone: str | None


def _java_int(s: str) -> int:
    """Integer.parseInt: digits with optional sign only -- Python's
    int() tolerates underscore separators ('06_30' -> 630), Java
    throws."""
    if not re.fullmatch(r"[+-]?\d+", s):
        raise ValueError(f"For input string: \"{s}\"")
    return int(s)

def month_name_to_number(name: str) -> int:
    """DateHelper.monthNameToNumber (DateHelper.java:116-122):
    commas, periods and spaces stripped ANYWHERE, lowercased ->
    1..12, or -1."""
    key = name.replace(",", "").replace(".", "").replace(" ", "") \
        .lower()
    return _MONTHS.get(key, -1)


def remove_no_digits(s: str) -> str:
    """DateParserLogic.removeNoDigits (:603-637)."""
    result = s
    idx = result.find("'")
    if idx != -1:
        result = result[idx + 1:]
    idx = result.find(",")
    if idx != -1:
        result = result[:idx]
    idx = result.find(".")
    if idx != -1:
        result = result[:idx]
    idx = -1
    for suf in ("th", "st", "nd", "rd"):
        idx = result.find(suf)
        if idx != -1:
            break
    if idx != -1:
        result = result[:idx]
    return re.sub(r"\n.*", "", result, flags=re.S)


def get_4digit_year(year: int, context_year: int = CONTEXT_YEAR) -> int:
    """DateParserLogic.get4DigitYear (:575-590) with the pinned
    context year."""
    if year > 100:
        return year
    if year > context_year - 2000:
        return year + 1900
    return year + 2000


def normalize_year(year_str: str) -> int:
    return get_4digit_year(_java_int(remove_no_digits(year_str)))


def _separator_regex(s: str) -> str | None:
    """DateParserLogic.getSeparatorRegEx (:668-684)."""
    for ch, rx in ((".", r"\."), ("/", "/"), ("_", "_"), ("-", "-")):
        if ch in s:
            return rx
    return None


def split_time_zone(date_string: str) -> tuple[str, str] | None:
    """DateParserLogic.splitTimeZone (:646-657)."""
    m = _TIME_ZONE_PATTERN.search(date_string)
    if not m:
        return None
    tz = m.group().strip()
    time_part = _TIME_ZONE_PATTERN.sub(" ", date_string) \
        .replace("  ", " ")
    return time_part, tz


class _Logic:
    """Mutable parse state, mirroring DateParserLogic's fields."""

    def __init__(self) -> None:
        self.year = self.month = self.day = -1
        self.hour = self.minute = self.second = -1
        self.time_zone: str | None = None

    # -- helpers (:420-545) -------------------------------------------
    def set_actual_time_values(self, time_string: str) -> None:
        if time_string == "" or ":" in time_string:
            parts = time_string.strip().split(":")
            if parts and parts[0] != "":
                self.hour = _java_int(parts[0])
                if len(parts) > 1:
                    self.minute = _java_int(parts[1])
                    if len(parts) > 2:
                        self.second = _java_int(parts[2])
        else:
            self.hour = _java_int(time_string)

    def set_time_diff(self, time: str, sign: str) -> None:
        if -1 in (self.year, self.month, self.day, self.hour):
            return
        if ":" in time:
            hh, mm = time.split(":")[:2]
            temp_hour, temp_minute = _java_int(hh), _java_int(mm)
        elif len(time) == 4:
            temp_hour, temp_minute = _java_int(time[:2]), _java_int(time[2:4])
        else:
            temp_hour, temp_minute = _java_int(time), 0
        minute2 = self.minute if self.minute != -1 else 0
        import datetime as _dt
        base = _dt.datetime(self.year, self.month, self.day,
                            0, 0) + _dt.timedelta(
            hours=self.hour, minutes=minute2)
        delta = _dt.timedelta(hours=temp_hour, minutes=temp_minute)
        cal = base + delta if sign == "-" else base - delta
        self.year, self.month, self.day = cal.year, cal.month, cal.day
        self.hour = cal.hour
        if self.minute != -1 or temp_minute != 0:
            self.minute = cal.minute

    def set_time_values(self, time_string: str) -> None:
        actual = time_string
        if "." in actual:
            actual = re.sub(r"\.(\d)*", "", actual)
        separator = None
        if "Z" in time_string:
            separator = "Z"
        elif "+" in time_string:
            separator = "+"
        elif "-" in time_string:
            separator = "-"
        cleaned = actual
        diff = None
        if separator is not None:
            cleaned = actual.split(separator)[0]
            if separator != "Z":
                diff = actual.split(separator)[1]
        self.set_actual_time_values(cleaned)
        if diff is not None:
            self.set_time_diff(diff, separator)

    def set_date_values(self, parts: list[str], year_pos: int,
                        month_pos: int, day_pos: int) -> None:
        if year_pos != -1:
            self.year = normalize_year(parts[year_pos])
        if month_pos != -1:
            ms = parts[month_pos].replace(" ", "")
            if re.fullmatch(r"\d+", ms):
                self.month = _java_int(ms)
            else:
                self.month = month_name_to_number(ms)
        if day_pos != -1:
            self.day = _java_int(remove_no_digits(parts[day_pos]))

    def set_date_by_week_of_year(self, date_string: str, with_day: bool,
                                 with_separator: bool) -> None:
        """(:345-383) GregorianCalendar with minimalDaysInFirstWeek=4 +
        firstDayOfWeek=MONDAY == the ISO week; the day digit is fed to
        Calendar.DAY_OF_WEEK (1=Sunday!), so ISO day 1 lands on the
        week's SUNDAY -- quirk kept via the d->ISO-weekday remap."""
        import datetime as _dt
        if with_separator:
            parts = date_string.split("-")
        else:
            parts = [date_string[0:4], date_string[4:7],
                     date_string[7:8] if with_day else ""]
        y, w = int(parts[0]), int(parts[1][1:])
        if with_day:
            d = int(parts[2])
            iso_day = d - 1 if d >= 2 else 7
        else:
            iso_day = 1
        cal = _dt.date.fromisocalendar(y, w, iso_day)
        self.year, self.month = cal.year, cal.month
        if with_day:
            self.day = cal.day

    def set_date_by_day_of_year(self, date_string: str,
                                with_separator: bool) -> None:
        import datetime as _dt
        if with_separator:
            y, d = date_string.split("-")[:2]
        else:
            y, d = date_string[0:4], date_string[4:]
        cal = _dt.date(int(y), 1, 1) + _dt.timedelta(days=int(d) - 1)
        self.year, self.month, self.day = cal.year, cal.month, cal.day


def _has_am_pm(s: str) -> str | None:
    for mer in ("am", "AM", "pm", "PM"):
        if mer in s:
            return mer
    return None


def _remove_am_pm(s: str, mer: str) -> str:
    return s.replace(mer, "").replace("  ", " ")


def parse_date(date_string: str, fmt: str) -> ParsedDate | None:
    """DateParserLogic.parse (:66-283), dispatched on the format KEY
    (formats sharing a key share their parse logic in the reference
    too -- e.g. both ISO YMD variants split on getSeparatorRegEx)."""
    logic = _Logic()
    ds = date_string
    tz_split = split_time_zone(ds)
    if tz_split is not None:
        ds, logic.time_zone = tz_split
    try:
        _dispatch(logic, ds, fmt)
    except (ValueError, IndexError):
        return None
    return ParsedDate(date_string, fmt, logic.year, logic.month,
                      logic.day, logic.hour, logic.minute,
                      logic.second, logic.time_zone)


def _dispatch(lg: _Logic, ds: str, fmt: str) -> None:
    if fmt == "YYYY-MM-DDTHH:MM:SS+HH:MM":
        sep = "T" if "T" in ds else " "
        temp = ds.split(sep)
        lg.set_date_values(temp[0].split(_separator_regex(temp[0])
                                         .replace("\\", "")), 0, 1, 2)
        lg.set_time_values(temp[1])
    elif fmt == "YYYY-MM-DD":
        lg.set_date_values(
            re.split(_separator_regex(ds), ds), 0, 1, 2)
    elif fmt == "YYYY-MM":
        lg.set_date_values(ds.split("-"), 0, 1, -1)
    elif fmt == "YYYY-WW-D":
        lg.set_date_by_week_of_year(ds, True, True)
    elif fmt == "YYYY-WW":
        lg.set_date_by_week_of_year(ds, False, True)
    elif fmt == "YYYY-DDD":
        lg.set_date_by_day_of_year(ds, True)
    elif fmt == "YYYY-DDDTHH:MM:SS+HH:MM":
        sep = "T" if "T" in ds else " "
        temp = ds.split(sep)
        lg.set_date_by_day_of_year(temp[0], True)
        lg.set_time_values(temp[1])
    elif fmt == "YYYY-WW-DTHH:MM:SS+HH:MM":
        sep = "T" if "T" in ds else " "
        temp = ds.split(sep)
        lg.set_date_by_week_of_year(temp[0], True, True)
        lg.set_time_values(temp[1])
    elif fmt == "YYYYWWD":
        lg.set_date_by_week_of_year(ds, True, False)
    elif fmt == "YYYYWW":
        lg.set_date_by_week_of_year(ds, False, False)
    elif fmt == "YYYYDDD":
        lg.set_date_by_day_of_year(ds, False)
    elif fmt == "MMM DD HH:MM:SS TZ YYYY":
        parts = ds.split(" ")
        lg.set_date_values(parts, 3, 0, 1)
        lg.set_time_values(parts[2])
    elif fmt == "MM.YYYY":
        lg.set_date_values(re.split(_separator_regex(ds), ds),
                           1, 0, -1)
    elif fmt == "YYYYMMDD":
        lg.year = _java_int(ds[0:4])
        lg.month = _java_int(ds[4:6])
        lg.day = _java_int(ds[6:8])
    elif fmt == "WD MMM DD_1 HH:MM:SS YYYY":
        parts = ds.split(" ")
        lg.set_date_values(parts, 4, 1, 2)
        lg.set_time_values(parts[3])
    elif fmt == "WD MMM DD_1 HH:MM:SS YYYY +UTC":
        parts = ds.split(" ")
        lg.set_date_values(parts, 4, 1, 2)
        lg.set_time_values(parts[3] + parts[5])
    elif fmt == "WD, DD MMM YYYY HH:MM:SS TZ":
        parts = ds.split(" ")
        lg.set_date_values(parts, 3, 2, 1)
        lg.set_time_values(parts[4])
    elif fmt == "WD, DD MMM YYYY HH:MM:SS +UTC":
        parts = ds.split(" ")
        lg.set_date_values(parts, 3, 2, 1)
        lg.set_time_values(parts[4] + parts[5])
    elif fmt == "WWD, DD-MMM-YY HH:MM:SS +UTC":
        parts = ds.split(" ")
        lg.set_date_values(parts[1].split("-"), 2, 1, 0)
        lg.set_time_values(parts[2] + parts[3])
    elif fmt == "YYYY_MM_DD":
        lg.set_date_values(re.split(_separator_regex(ds), ds), 0, 1, 2)
    elif fmt == "YYYY_MMMM_DD_URL":
        lg.set_date_values(ds.split("/"), 0, 1, 2)
    elif fmt == "YYYY.x.MM.DD":
        parts = ds.split("/")
        temp_month = 0
        try:
            lg.year = normalize_year(parts[0])
            lg.day = _java_int(parts[-1])
            temp_month = -1
        except ValueError:
            last = parts[-1]
            sub = re.split(_separator_regex(last), last)
            lg.month = _java_int(sub[0])
            lg.day = _java_int(sub[1])
        if temp_month == -1:
            lg.month = _java_int(parts[-2])
    elif fmt == "YYYY_MM":
        lg.set_date_values(re.split(_separator_regex(ds), ds),
                           0, 1, -1)
    elif fmt == "WWD, DD-MMM-YY HH:MM:SS TZ":
        parts = ds.split(" ")
        lg.set_date_values(parts[1].split("-"), 2, 1, 0)
        lg.set_time_values(parts[2])
    elif fmt == "DD.MM.YYYY":
        lg.set_date_values(re.split(_separator_regex(ds), ds), 2, 1, 0)
    elif fmt == "MM/DD/YYYY":
        lg.set_date_values(re.split(_separator_regex(ds), ds), 2, 0, 1)
    elif fmt == "DD. MMMM YYYY":
        ds = re.sub(r"\.\s?", " ", ds).replace("-", " ")
        lg.set_date_values(ds.split(" "), 2, 1, 0)
    elif fmt == "MMMM DD, YYYY":
        ds = re.sub(r",\s|,|\s", " ", ds)
        parts = ds.split(" ")
        if len(parts) == 2:
            dot = parts[0].split(".")
            parts = [dot[0], dot[1], parts[1]]
        lg.set_date_values(parts, 2, 0, 1)
    elif fmt == "MMMM-DD-YYYY":
        lg.set_date_values(ds.split("-"), 2, 0, 1)
    elif fmt == "MMMM YYYY":
        lg.set_date_values(ds.split(" "), 1, 0, -1)
    elif fmt == "YYYY-MMM-D":
        lg.set_date_values(ds.split("-"), 0, 1, 2)
    elif fmt == "MM/YYYY":
        lg.set_date_values(ds.split("/"), 1, 0, -1)
    elif fmt == "DD.MM.":
        lg.set_date_values(re.split(_separator_regex(ds), ds),
                           -1, 1, 0)
    elif fmt == "DD.MMMM":
        ds = ds.replace(".", "")
        lg.set_date_values(ds.split(" "), -1, 1, 0)
    elif fmt == "MM/DD":
        lg.set_date_values(ds.split("/"), -1, 0, 1)
    elif fmt == "MMMM DD":
        lg.set_date_values(ds.split(" "), -1, 0, 1)
    elif fmt == "DD.MM.YYYY HH:MM:SS +UTC":
        mer = _has_am_pm(ds)
        if mer is not None:
            ds = _remove_am_pm(ds, mer)
        parts = ds.split(" ")
        date = re.split(_separator_regex(parts[0]), parts[0])
        lg.set_date_values(date, 2, 1, 0)
        buf = "".join(p for p in parts[1:] if "/" not in p)
        lg.set_time_values(buf)
        _set_24h(lg, mer)
    elif fmt == "MM/DD/YYYY HH:MM:SS +UTC":
        mer = _has_am_pm(ds)
        if mer is not None:
            ds = _remove_am_pm(ds, mer)
        parts = ds.split(" ")
        date = re.split(_separator_regex(parts[0]), parts[0])
        lg.set_date_values(date, 2, 0, 1)
        buf = "".join(p for p in parts[1:] if "/" not in p)
        lg.set_time_values(buf)
        _set_24h(lg, mer)
    elif fmt == "MMMM DD, YYYY HH:MM:SS +UTC":
        mer = _has_am_pm(ds)
        if mer is not None:
            ds = _remove_am_pm(ds, mer)
        parts = ds.split(" ")
        lg.set_date_values(parts, 2, 0, 1)
        buf = "".join(p for p in parts[3:] if "/" not in p)
        lg.set_time_values(buf)
        _set_24h(lg, mer)
    elif fmt == "DD. MMMM YYYY HH:MM:SS +UTC":
        mer = _has_am_pm(ds)
        if mer is not None:
            ds = _remove_am_pm(ds, mer)
        if "-" in ds:
            ds = ds.replace("-", " ")
        parts = ds.split(" ")
        lg.set_date_values(parts, 2, 1, 0)
        buf = "".join(p for p in parts[3:] if "/" not in p)
        lg.set_time_values(buf)
        _set_24h(lg, mer)
    elif fmt == "YYYY":
        lg.year = _java_int(ds)
    else:
        raise ValueError(f"No parse logic for format \"{fmt}\"")


def _set_24h(lg: _Logic, meridiem: str | None) -> None:
    if lg.hour == -1 or meridiem is None:
        return
    m = meridiem.lower()
    if m == "pm" and 0 < lg.hour < 12:
        lg.hour += 12
    elif m == "am" and lg.hour == 12:
        lg.hour = 0


# ---- ExtractedDate surface ------------------------------------------

def get_exactness(p: ParsedDate) -> int:
    """DateExactness value chain (DateExactness.java:21-33)."""
    if p.year == -1:
        return 0
    if p.month == -1:
        return 1
    if p.day == -1:
        return 2
    if p.hour == -1:
        return 3
    if p.minute == -1:
        return 4
    return 6 if p.second != -1 else 5


def get_normalized_date_string(p: ParsedDate, time: bool = True) -> str:
    """ExtractedDateImpl.getNormalizedDateString (:137-168), incl. the
    trailing '-0' chop for month-less dates."""
    out = []
    out.append("0" if p.year == -1 else str(p.year))
    out.append("-")
    out.append("0" if p.month == -1 else f"{p.month:02d}")
    if p.day != -1:
        out.append(f"-{p.day:02d}")
        if p.hour != -1 and time:
            out.append(f" {p.hour:02d}")
            if p.minute != -1:
                out.append(f":{p.minute:02d}")
                if p.second != -1:
                    out.append(f":{p.second:02d}")
    s = "".join(out)
    if s.endswith("-0"):
        s = s[:-2]
    return s


def get_difference_hours(a: ParsedDate, b: ParsedDate) -> float:
    """ExtractedDateImpl.getDifference(unit=HOURS) — the same
    common-exactness truncation + half-up rounding as
    get_difference."""
    return get_difference(a, b, 3_600_000)


# ---- DateParser.findDates over parsed dates -------------------------

def remove_double_whitespaces(text: str) -> str:
    return _MULTI_WS.sub(" ", text)


def _find_parsed(text: str, fmt: DateFormat) -> list[ParsedDate]:
    text = remove_double_whitespaces(text)
    out: list[ParsedDate] = []
    for m in fmt.pattern.finditer(text):
        start, end = m.start(), m.end()
        if start > 0 and text[start - 1] == ".":
            continue
        digit_neighbor = start > 0 and text[start - 1].isdigit()
        if end < len(text) and text[end - 1] != "/":
            digit_neighbor = text[end].isdigit()
        if digit_neighbor:
            continue
        parsed = parse_date(m.group(), fmt.fmt)
        if parsed is not None:
            out.append(parsed)
    return out


def find_date(text: str,
              formats: list[DateFormat] | None = None) -> ParsedDate | None:
    """DateParser.findDate (:107-131): first format that yields a
    date wins; the default bank is the reference's full
    RegExp.ALL_DATE_FORMATS (REF_ALL_DATE_FORMATS)."""
    fmts = formats if formats is not None else REF_ALL_DATE_FORMATS
    for fmt in fmts:
        dates = _find_parsed(text, fmt)
        if dates:
            return dates[0]
    return None


def parse_date_auto(date_string: str) -> ParsedDate | None:
    """DateParser.parseDate(String) (DateParser.java:56-69): the first
    format in RegExp.ALL_DATE_FORMATS whose pattern matches the WHOLE
    string parses it (findDate by contrast searches inside text)."""
    for fmt in REF_ALL_DATE_FORMATS:
        if fmt.pattern.fullmatch(date_string):
            return parse_date(date_string, fmt.fmt)
    return None


def format_duration(start_time: int, stop_time: int,
                    compact: bool = True) -> str:
    """DateHelper.formatDuration (DateHelper.java:177-245): unit
    emission is gated by the NEXT-COARSER units (days>0 prints a zero
    hour; days>0 with zero hours+minutes skips the minute/second
    slots entirely), millis always appear in compact mode.  In
    readable mode the reference post-processes the joined string:
    every space before a digit becomes ", " and the LAST ", " becomes
    " and " ("3 hours and 5 seconds")."""
    seconds = (stop_time - start_time) // 1000
    days = seconds // 86400
    hours = (seconds % 86400) // 3600
    seconds %= 3600
    minutes = seconds // 60
    seconds %= 60
    millis = (stop_time - start_time) % 1000

    out = []
    if days > 0:
        out.append(f"{days}d:" if compact else
                   (f"{days} days " if days > 1 else f"{days} day "))
    if hours > 0 or days > 0:
        if compact:
            out.append(f"{hours}h:")
        elif hours > 1:
            out.append(f"{hours} hours ")
        elif hours == 1:
            out.append(f"{hours} hour ")
    if hours > 0 or minutes > 0:
        if compact:
            out.append(f"{minutes}m:")
        elif minutes > 1:
            out.append(f"{minutes} minutes ")
        elif minutes == 1:
            out.append(f"{minutes} minute ")
    if hours > 0 or minutes > 0 or seconds > 0:
        if compact:
            out.append(f"{seconds}s:")
        elif seconds > 1:
            out.append(f"{seconds} seconds ")
        elif seconds == 1:
            out.append(f"{seconds} second ")
    if compact:
        out.append(f"{millis}ms")
    elif millis > 1:
        out.append(f"{millis} milliseconds")
    elif millis == 1:
        out.append(f"{millis} millisecond")
    if compact:
        return "".join(out)
    # readable post-pass (DateHelper.java:240-245): ", " separators,
    # last one promoted to " and "
    s = "".join(out).strip()
    s = re.sub(r"\s(?=\d)", ", ", s)
    li = s.rfind(", ")
    if li > -1:
        s = s[:li] + " and " + s[li + 2:]
    return s


def get_time_string(time_ms: int) -> str:
    """DateHelper.getTimeString (:274-276)."""
    return format_duration(0, time_ms, True)


def get_datetime(fmt: str, timestamp_ms: int) -> str:
    """DateHelper.getDatetime(String, long) (:45-60) for the
    SimpleDateFormat subset the repo needs (dd.MM.yyyy /
    yyyy-MM-dd HH:mm:ss), rendered in UTC (the reference uses the JVM
    default zone; fixed-UTC is this repo's documented convention)."""
    import datetime as _dt
    t = _dt.datetime.fromtimestamp(timestamp_ms / 1000.0,
                                   tz=_dt.timezone.utc)
    java_map = [("yyyy", "%Y"), ("MM", "%m"), ("dd", "%d"),
                ("HH", "%H"), ("mm", "%M"), ("ss", "%S")]
    py_fmt = fmt
    for j, p in java_map:
        py_fmt = py_fmt.replace(j, p)
    return t.strftime(py_fmt)


def _common_exactness_millis(p: ParsedDate, ex: int) -> int:
    """getCalendar(exactness) (:261-284) in fixed UTC. getCalendar
    sets the 1-based month as the 0-based Calendar.MONTH (getLongDate
    at :112 subtracts 1, getCalendar does not), so a set month lands
    one month late and the lenient calendar rolls the day over:
    2023-01-31 reads as "February 31" = 2023-03-03 and 2023-02-28 as
    2023-03-28, 25 days apart. Replayed here: the day counts from the
    first of the month AFTER p.month.

    Fields beyond `ex` fall back to this repo's deterministic defaults
    (year 1, January, day 1, time 0) instead of the reference's
    run-time `new GregorianCalendar()` filler, which leaks the
    test-run date into the unset fields — documented deviation; both
    sides of a difference use the SAME filler either way."""
    import calendar
    import datetime as _dt
    year = p.year if ex >= 1 else 1
    months = p.month if ex >= 2 else 0   # whole months before the day
    day = p.day if ex >= 3 else 1
    hour = p.hour if ex >= 4 else 0
    minute = p.minute if ex >= 5 else 0
    second = p.second if ex >= 6 else 0
    jan1 = _dt.datetime(year, 1, 1, tzinfo=_dt.timezone.utc)
    days = sum(calendar.monthrange(year, m)[1]
               for m in range(1, months + 1)) + day - 1
    secs = (int(jan1.timestamp()) + days * 86_400 + hour * 3_600
            + minute * 60 + second)
    return secs * 1000


def get_difference(a: ParsedDate, b: ParsedDate,
                   unit_ms: int) -> float:
    """ExtractedDateImpl.getDifference (:251-258) for any TimeUnit:
    BOTH dates truncate to their common exactness
    (DateExactness.getCommonExactness — the finer date's extra fields
    never contribute, so a SECOND-exact vs DAY-exact pair differs in
    whole days), then |millis delta| / unit rounded to 2 decimals the
    Java way (Math.round = floor(x + 0.5), not banker's)."""
    import math
    ex = min(get_exactness(a), get_exactness(b))
    diff = abs(_common_exactness_millis(a, ex)
               - _common_exactness_millis(b, ex))
    return math.floor(diff * 100.0 / unit_ms + 0.5) / 100.0


def get_2_digits(value: int) -> str:
    """ExtractedDateImpl.get2Digits: zero-padded two-digit field."""
    return f"{value:02d}"
