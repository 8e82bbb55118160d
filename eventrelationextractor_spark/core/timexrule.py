"""R1: timex-timex relation rule over the TIMEX3 value micro-language.

Semantics follow /root/reference/src/model/rule/TimexTimexRelationRule.java
(654 LoC): value identity/containment, ISO-week vs date windows, era
references vs DCT, year/quarter/decade/century/month/day comparison,
time-of-day and part-of-day ranges. Pure function of
(type1, value1, type2, value2, dct_value) -> TLINK label or 'O', so the
Spark layer can run it either inside the per-document grouped UDF or as a
scalar Arrow-batched pandas UDF over a pair DataFrame.

Differences vs the Java (documented divergence, within the P/R budget):
* ISO weeks are expanded with ``datetime.fromisocalendar`` (Monday start,
  minimalDaysInFirstWeek=4 equivalent); java.util.Calendar's locale-default
  first-day-of-week may shift the 7-day window by one day in some locales.
* Missing DCT is treated as an empty value; the Java dereferences it and
  would throw (TimexTimexRelationRule.java:190) - only reachable for docs
  without a DCT row.
"""

from __future__ import annotations

from datetime import date, timedelta
from functools import lru_cache

ERAS = ("PAST_REF", "PRESENT_REF", "FUTURE_REF")
_PART_DAY = ("MO", "AF", "EV", "NI")
_PART_RANGE = {
    "MO": (1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11),
    "AF": (13, 14, 15, 16),
    "EV": (17, 18, 19, 20),
    "NI": (21, 22, 23, 24, 0),
}

INVERSE = {
    "BEFORE": "AFTER", "AFTER": "BEFORE",
    "INCLUDES": "IS_INCLUDED", "IS_INCLUDED": "INCLUDES",
    "DURING": "DURING_INV", "DURING_INV": "DURING",
    "IBEFORE": "IAFTER", "IAFTER": "IBEFORE",
    "BEGINS": "BEGUN_BY", "BEGUN_BY": "BEGINS",
    "ENDS": "ENDED_BY", "ENDED_BY": "ENDS",
}


def inverse_relation(rel: str) -> str:
    """TemporalRelation.getInverseRelation (TemporalRelation.java:42-58)."""
    return INVERSE.get(rel, rel)


class _Date:
    __slots__ = ("century", "decade", "year", "month", "day", "month_arr", "era")

    def __init__(self):
        self.century = 0
        self.decade = 0
        self.year = 0
        self.month = 0
        self.day = 0
        self.month_arr: list[int] = []
        self.era = ""

    def ymd(self):
        return (self.year, self.month, self.day)


@lru_cache(maxsize=16384)
def _date_components(value: str) -> _Date:
    """TimexTimexRelationRule.getDateComponents (lines 416-459).

    Memoized: pure parse of the value string, and callers only read the
    returned _Date (verified - no mutation sites), so sharing instances is
    safe. TIMEX3 values repeat across a corpus far more than full
    (v1, v2, dct) triples do, so this cache hits where the
    timex_timex_relation LRU misses."""
    d = _Date()
    cols = value.split("-")
    if len(cols) == 1:
        c = cols[0]
        if c.isdigit():
            d.year = int(c)
        elif len(c) == 4 and "X" in c:
            y = c.replace("X", "")
            if len(y) == 3 and y.isdigit():
                d.decade = int(y)
            elif len(y) == 2 and y.isdigit():
                d.century = int(y)
            else:
                d.era = c
        else:
            d.era = c
    elif len(cols) == 2:
        if cols[0].isdigit() and cols[1].isdigit():
            d.year = int(cols[0])
            d.month = int(cols[1])
        elif cols[1].startswith("Q") and cols[0].isdigit():
            d.year = int(cols[0])
            q = {"1": [1, 2, 3], "2": [4, 5, 6], "3": [7, 8, 9], "4": [10, 11, 12]}
            d.month_arr = q.get(cols[1][-1:], [])
    elif (len(cols) == 3 and cols[0].isdigit() and cols[1].isdigit()
          and cols[2].isdigit()):
        d.year = int(cols[0])
        d.month = int(cols[1])
        d.day = int(cols[2])
    return d


class _Time:
    __slots__ = ("hour", "minute", "second", "part_day", "range")

    def __init__(self):
        self.hour = 0
        self.minute = 0
        self.second = 0
        self.part_day = None
        self.range: tuple = ()


def _time_components(value: str) -> _Time:
    """getTimeComponents (lines 461-510)."""
    t = _Time()
    cols = value.split(":")
    if len(cols) == 1:
        c = cols[0]
        if c.isdigit():
            t.hour = int(c)
        elif c in _PART_RANGE:
            t.part_day = c
            t.range = _PART_RANGE[c]
    elif len(cols) == 2 and cols[0].isdigit() and cols[1].isdigit():
        t.hour, t.minute = int(cols[0]), int(cols[1])
    elif (len(cols) == 3 and cols[0].isdigit() and cols[1].isdigit()
          and cols[2].isdigit()):
        t.hour, t.minute, t.second = int(cols[0]), int(cols[1]), int(cols[2])
    return t


def _date_relation(d1: _Date, d2: _Date) -> str:
    """getDateRelation (lines 248-360)."""
    if d1.year == 0 and d2.year == 0:
        return "O"
    if d1.year == 0 and d2.year != 0:
        ystr = str(d2.year)
        if d1.decade != 0 and len(ystr) >= 3:
            yy = int(ystr[:3])
            if d1.decade < yy:
                return "BEFORE"
            if d1.decade > yy:
                return "AFTER"
            return "INCLUDES"
        if d1.century != 0 and len(ystr) >= 2:
            yy = int(ystr[:2])
            if d1.century < yy:
                return "BEFORE"
            if d1.century > yy:
                return "AFTER"
            return "INCLUDES"
        return "O"
    if d1.year != 0 and d2.year == 0:
        ystr = str(d1.year)
        if d2.decade != 0 and len(ystr) >= 3:
            yy = int(ystr[:3])
            if yy < d2.decade:
                return "BEFORE"
            if yy > d2.decade:
                return "AFTER"
            return "IS_INCLUDED"
        if d2.century != 0 and len(ystr) >= 2:
            yy = int(ystr[:2])
            if yy < d2.century:
                return "BEFORE"
            if yy > d2.century:
                return "AFTER"
            return "IS_INCLUDED"
        return "O"

    if d1.year < d2.year:
        return "BEFORE"
    if d1.year > d2.year:
        return "AFTER"
    # same year
    if d1.month_arr and not d2.month_arr:
        if d2.month == 0:
            return "IS_INCLUDED"
        if d2.month in d1.month_arr:
            return "INCLUDES"
        if d2.month < d1.month_arr[0]:
            return "AFTER"
        if d2.month > d1.month_arr[-1]:
            return "BEFORE"
        return "O"
    if not d1.month_arr and d2.month_arr:
        if d1.month == 0:
            return "INCLUDES"
        if d1.month in d2.month_arr:
            return "IS_INCLUDED"
        if d1.month < d2.month_arr[0]:
            return "BEFORE"
        if d1.month > d2.month_arr[-1]:
            return "AFTER"
        return "O"
    if d1.month_arr and d2.month_arr:
        if d1.month_arr[0] == d2.month_arr[0]:
            return "IDENTITY"
        if d1.month_arr[-1] < d2.month_arr[0]:
            return "BEFORE"
        if d2.month_arr[-1] < d1.month_arr[0]:
            return "AFTER"
        return "O"
    if d1.month < d2.month:
        return "BEFORE"
    if d1.month > d2.month:
        return "AFTER"
    if d1.day != 0 and d2.day != 0:
        if d1.day < d2.day:
            return "BEFORE"
        if d1.day > d2.day:
            return "AFTER"
        return "IDENTITY"
    if d1.day == 0 and d2.day != 0:
        return "INCLUDES"
    if d1.day != 0 and d2.day == 0:
        return "IS_INCLUDED"
    return "IDENTITY"


def _time_relation(t1: _Time, t2: _Time) -> str:
    """getTimeRelation (lines 362-414)."""
    if t1.range and not t2.range:
        if t2.hour in t1.range:
            return "INCLUDES"
        if t2.hour < t1.range[0]:
            return "AFTER"
        if t2.hour > t1.range[-1]:
            return "BEFORE"
        return "O"
    if not t1.range and t2.range:
        if t1.hour in t2.range:
            return "IS_INCLUDED"
        if t1.hour < t2.range[0]:
            return "BEFORE"
        if t1.hour > t2.range[-1]:
            return "AFTER"
        return "O"
    if t1.range and t2.range:
        if t1.part_day in _PART_DAY and t2.part_day in _PART_DAY:
            i1, i2 = _PART_DAY.index(t1.part_day), _PART_DAY.index(t2.part_day)
            if i1 < i2:
                return "BEFORE"
            if i1 > i2:
                return "AFTER"
            return "IDENTITY"
        return "O"
    if t1.hour < t2.hour:
        return "BEFORE"
    if t1.hour > t2.hour:
        return "AFTER"
    if t1.minute < t2.minute:
        return "BEFORE"
    if t1.minute > t2.minute:
        return "AFTER"
    if t1.second < t2.second:
        return "BEFORE"
    if t1.second > t2.second:
        return "AFTER"
    return "IDENTITY"


def _week_days(year: int, week: int):
    """The 7 days of an ISO week, Monday-first.

    The Java builds this via Calendar with minimalDaysInFirstWeek=4 and
    DAY_OF_WEEK=MONDAY (TimexTimexRelationRule.java:120-133).
    """
    try:
        start = date.fromisocalendar(year, week, 1)
    except ValueError:
        # Java's lenient Calendar rolls week 53+ into the next year.
        start = date.fromisocalendar(year, 1, 1) + timedelta(weeks=week - 1)
    return [(start + timedelta(days=i)) for i in range(7)]


def _week_date_relation(date1: str, date2: str) -> str:
    """getTmxWeekDateRelation (lines 91-174)."""
    if "T" in date1:
        date1 = date1.split("T")[0]
    if "T" in date2:
        date2 = date2.split("T")[0]

    w_in_1, w_in_2 = "W" in date1, "W" in date2
    if w_in_1 and w_in_2 and "X" not in date1 and "X" not in date2:
        try:
            y1, w1 = int(date1.split("-W")[0]), int(date1.split("-W")[1])
            y2, w2 = int(date2.split("-W")[0]), int(date2.split("-W")[1])
        except (ValueError, IndexError):
            return "O"
        if y1 != y2:
            return "BEFORE" if y1 < y2 else "AFTER"
        if w1 != w2:
            return "BEFORE" if w1 < w2 else "AFTER"
        return "IDENTITY"
    if w_in_1 and not w_in_2 and "X" not in date1:
        try:
            y1, w1 = int(date1.split("-W")[0]), int(date1.split("-W")[1])
        except (ValueError, IndexError):
            return "O"
        days = _week_days(y1, w1)
        d2 = _date_components(date2)
        if any((dd.year, dd.month, dd.day) == d2.ymd() for dd in days):
            return "INCLUDES"
        last = _Date()
        last.year, last.month, last.day = days[6].year, days[6].month, days[6].day
        first = _Date()
        first.year, first.month, first.day = days[0].year, days[0].month, days[0].day
        if _date_relation(last, d2) == "BEFORE":
            return "BEFORE"
        if _date_relation(first, d2) == "AFTER":
            return "AFTER"
        return "O"
    if not w_in_1 and w_in_2 and "X" not in date2:
        try:
            y2, w2 = int(date2.split("-W")[0]), int(date2.split("-W")[1])
        except (ValueError, IndexError):
            return "O"
        days = _week_days(y2, w2)
        d1 = _date_components(date1)
        if any((dd.year, dd.month, dd.day) == d1.ymd() for dd in days):
            return "IS_INCLUDED"
        first = _Date()
        first.year, first.month, first.day = days[0].year, days[0].month, days[0].day
        last = _Date()
        last.year, last.month, last.day = days[6].year, days[6].month, days[6].day
        if _date_relation(d1, first) == "BEFORE":
            return "BEFORE"
        if _date_relation(d1, last) == "AFTER":
            return "AFTER"
        return "O"
    return "O"


def _tmx_date_relation(date1: str, date2: str, dct_value: str) -> str:
    """getTmxDateRelation (lines 176-246)."""
    if date1 not in ERAS and "T" in date1:
        date1 = date1.split("T")[0]
    if date2 not in ERAS and "T" in date2:
        date2 = date2.split("T")[0]
    d1 = _date_components(date1)
    d2 = _date_components(date2)
    dct = _date_components((dct_value or "").split("T")[0])

    e1_in, e2_in = d1.era in ERAS, d2.era in ERAS
    if d1.era and d2.era and e1_in and e2_in:
        i1, i2 = ERAS.index(d1.era), ERAS.index(d2.era)
        if i1 < i2:
            return "BEFORE"
        if i1 > i2:
            return "AFTER"
        return "IDENTITY"
    if d1.era and not d2.era and e1_in:
        if d1.era == "PAST_REF":
            return "INCLUDES" if _date_relation(d2, dct) == "BEFORE" else "BEFORE"
        if d1.era == "PRESENT_REF":
            r = _date_relation(d2, dct)
            return "INCLUDES" if r == "IDENTITY" else r
        if d1.era == "FUTURE_REF":
            return "INCLUDES" if _date_relation(d2, dct) == "AFTER" else "AFTER"
        return "O"
    if not d1.era and d2.era and e2_in:
        if d2.era == "PAST_REF":
            return "IS_INCLUDED" if _date_relation(d1, dct) == "BEFORE" else "AFTER"
        if d2.era == "PRESENT_REF":
            r = _date_relation(d1, dct)
            return "IS_INCLUDED" if r == "IDENTITY" else r
        if d2.era == "FUTURE_REF":
            return "IS_INCLUDED" if _date_relation(d1, dct) == "AFTER" else "BEFORE"
        return "O"
    return _date_relation(d1, d2)


def normalize_dct(tmx_type: str, value: str):
    """The rule mutates DCT timexes: strip time part, force DATE
    (TimexTimexRelationRule.java:22-29)."""
    if "T" in value:
        value = value.split("T")[0]
    return "DATE", value


@lru_cache(maxsize=65536)
def timex_timex_relation(type1: str, value1: str, type2: str, value2: str,
                         dct_value: str, identity_rel: bool = False) -> str:
    """Constructor dispatch (TimexTimexRelationRule.java:16-89).

    Returns a TLINK label or 'O'. ``identity_rel=False`` (the production
    setting at TempRelPro.java:72) remaps IDENTITY -> SIMULTANEOUS. The
    caller normalizes DCT timexes (``normalize_dct``) and pairs only
    distinct timexes, so the constructor's DCT and same-id arguments are
    not ported.

    Memoized: a pure function of its (string, bool) arguments, and TIMEX3
    values repeat heavily across a corpus (dates, quarters, week ids), so
    the per-process LRU turns the O(n^2)-per-doc sieve into mostly cache
    hits at corpus scale.
    """
    rel = "O"
    if type1 == "DATE" and type2 == "TIME":
        if value1 == value2:
            rel = "IDENTITY"
        elif value1 in value2:
            rel = "INCLUDES"
        else:
            rel = _tmx_date_relation(value1, value2, dct_value)
    elif type1 == "TIME" and type2 == "DATE":
        if value1 == value2:
            rel = "IDENTITY"
        elif value2 in value1:
            rel = "IS_INCLUDED"
        else:
            rel = _tmx_date_relation(value1, value2, dct_value)
    elif type1 == "DATE" and type2 == "DATE":
        if value1 == value2:
            rel = "IDENTITY"
        elif value1 in value2:
            rel = "INCLUDES"
        elif value2 in value1:
            rel = "IS_INCLUDED"
        elif (("W" in value1 or "W" in value2)
              and "WI" not in value1 and "WI" not in value2
              and "P" not in value1 and "P" not in value2):
            rel = _week_date_relation(value1, value2)
        else:
            rel = _tmx_date_relation(value1, value2, dct_value)
    elif type1 == "TIME" and type2 == "TIME":
        dt1 = value1.split("T") if len(value1.split("T")) > 1 else [value1, ""]
        dt2 = value2.split("T") if len(value2.split("T")) > 1 else [value2, ""]
        if dt1[0] == dt2[0]:
            if dt1[1] != "" and dt2[1] != "":
                rel = _time_relation(_time_components(dt1[1]),
                                     _time_components(dt2[1]))
        else:
            rel = _tmx_date_relation(dt1[0], dt2[0], dct_value)

    if rel is None:
        rel = "O"
    if not identity_rel and rel == "IDENTITY":
        rel = "SIMULTANEOUS"
    return rel
