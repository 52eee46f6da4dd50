"""Temporal kernels: unit conversion, named epochs, ISO parse, timedelta grammar.

Reference: ``bertrand/util/time/unit.pyx:49-230`` (``as_ns`` table +
``convert_unit``), ``epoch.pyx:22-115`` (18 named epochs),
``datetime.pyx:241`` (ISO-8601), ``timedelta.pyx:91-200`` (string grammar).

Design (SURVEY.md §7.4 hard part 4): the internal currency is **ns since the
chosen epoch as LongType** — exact integer math, no float drift; conversion
to Spark's µs ``TimestampType`` happens only at the boundary via
``timestamp_micros``.  All expressions are native (codegen'd); no UDFs.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column
from pyspark.sql import functions as F

from .kernel import row_udf

__all__ = [
    "AS_NS", "EPOCHS", "epoch_ns", "convert_unit", "ns_per_unit",
    "ns_to_timestamp", "timestamp_to_ns",
    "parse_timedelta_string", "td_ns_to_string",
    "ns_to_interval", "interval_to_ns",
]

# --- unit table (reference unit.pyx:49-65) --------------------------------
AS_NS: dict[str, int] = {
    "ns": 1,
    "us": 10**3,
    "ms": 10**6,
    "s": 10**9,
    "m": 60 * 10**9,
    "h": 3600 * 10**9,
    "D": 86400 * 10**9,
    "W": 7 * 86400 * 10**9,
}
# irregular calendar units handled via calendar functions, not constants
_CAL_UNITS = {"M", "Y"}

# --- named epochs (reference epoch.pyx:22-52): UTC instants ----------------
_EPOCH_DATETIMES: dict[str, _dt.datetime] = {
    # julian (4713 BC) predates datetime.min — handled as an exact ns constant
    "gregorian": _dt.datetime(1582, 10, 15),
    "ntfs": _dt.datetime(1601, 1, 1),
    "modified julian": _dt.datetime(1858, 11, 17),
    "mjd": _dt.datetime(1858, 11, 17),
    "reduced julian": _dt.datetime(1858, 11, 16, 12),
    "lotus": _dt.datetime(1899, 12, 30),
    "risc": _dt.datetime(1900, 1, 1),
    "labview": _dt.datetime(1904, 1, 1),
    "sas": _dt.datetime(1960, 1, 1),
    "utc": _dt.datetime(1970, 1, 1),
    "unix": _dt.datetime(1970, 1, 1),
    "posix": _dt.datetime(1970, 1, 1),
    "fat": _dt.datetime(1980, 1, 1),
    "zip": _dt.datetime(1980, 1, 1),
    "gps": _dt.datetime(1980, 1, 6),
    "cocoa": _dt.datetime(2001, 1, 1),
    "j2000": _dt.datetime(2000, 1, 1, 12),
}

_UNIX = _dt.datetime(1970, 1, 1)
# ns offsets from unix epoch (python ints — exact)
EPOCHS: dict[str, int] = {
    name: round((when - _UNIX).total_seconds() * 10**9)
    for name, when in _EPOCH_DATETIMES.items()
}
# julian needs exact handling (fractional-day epoch): recompute precisely
EPOCHS["julian"] = -(2440587 * 86400 + 43200) * 10**9


def epoch_ns(epoch: str | int) -> int:
    """ns offset of a named epoch from the unix epoch (driver constant)."""
    if isinstance(epoch, int):
        return epoch
    key = epoch.strip().lower()
    if key not in EPOCHS:
        raise ValueError(f"unrecognized epoch {epoch!r}; known: {sorted(EPOCHS)}")
    return EPOCHS[key]


def ns_per_unit(u: str) -> int:
    """ns per unit; calendar units (M/Y) use the proleptic-Gregorian means
    the reference's ``round_months_to_ns``/``round_years_to_ns`` use for
    epoch-free conversion (``unit.pyx:231-430``)."""
    if u in AS_NS:
        return AS_NS[u]
    if u == "M":
        return 2629746 * 10**9  # 30.436875 days
    if u == "Y":
        return 31556952 * 10**9  # 365.2425 days
    raise ValueError(f"unrecognized unit {u!r}")


def convert_unit(col: Column, from_unit: str, to_unit: str,
                 rule: str = "down") -> Column:
    """Integer count ``from_unit`` → count ``to_unit``
    (reference ``unit.pyx:77-230``).

    Regular units are exact LongType ratio arithmetic; calendar units use
    ``ns_per_unit`` means (epoch-free; anchored calendar-exact M/Y lives in
    the datetime rules via ``timestampadd``/``months_between``).
    """
    f, t = ns_per_unit(from_unit), ns_per_unit(to_unit)
    if f == t:
        return col
    if f % t == 0:
        return (col.cast("long") * F.lit(f // t)).cast("long")
    from .rounding import round_div  # local import avoids cycle
    return round_div(col.cast("long") * F.lit(f), F.lit(t), rule).cast("long")


def ns_to_timestamp(ns: Column, epoch: str | int = "unix",
                    tz: str | None = None) -> Column:
    """ns-since-epoch LongType → TimestampType (µs, truncating)."""
    off = epoch_ns(epoch)
    us = ((ns.cast("long") + F.lit(off)) / F.lit(1000)).cast("long")
    ts = F.timestamp_micros(us)
    if tz:
        ts = F.from_utc_timestamp(ts, tz)
    return ts


def timestamp_to_ns(ts: Column, epoch: str | int = "unix",
                    tz: str | None = None) -> Column:
    """TimestampType → ns since epoch (LongType)."""
    if tz:
        ts = F.to_utc_timestamp(ts, tz)
    return (F.unix_micros(ts) * F.lit(1000) - F.lit(epoch_ns(epoch))).cast("long")


# --- timedelta string grammar (reference timedelta.pyx:91-200) -------------
# clock form "DD:HH:MM:SS.ffff" variants + unit-word form "1 day, 23 seconds"
_CLOCK_RE = (
    r"^\s*([+-])?(?:(\d+):)?(?:(\d{1,2}):)?(\d{1,2}):(\d{2}(?:\.\d+)?)\s*$"
)

_UNIT_WORDS = {
    "ns": 1, "nanosecond": 1, "nanoseconds": 1,
    "us": 10**3, "microsecond": 10**3, "microseconds": 10**3,
    "ms": 10**6, "millisecond": 10**6, "milliseconds": 10**6,
    "s": 10**9, "sec": 10**9, "secs": 10**9, "second": 10**9, "seconds": 10**9,
    "m": 60 * 10**9, "min": 60 * 10**9, "mins": 60 * 10**9,
    "minute": 60 * 10**9, "minutes": 60 * 10**9,
    "h": 3600 * 10**9, "hr": 3600 * 10**9, "hrs": 3600 * 10**9,
    "hour": 3600 * 10**9, "hours": 3600 * 10**9,
    "d": 86400 * 10**9, "day": 86400 * 10**9, "days": 86400 * 10**9,
    "w": 7 * 86400 * 10**9, "wk": 7 * 86400 * 10**9, "week": 7 * 86400 * 10**9,
    "weeks": 7 * 86400 * 10**9,
}


def ns_to_interval(ns: Column) -> Column:
    """ns LongType → ``DayTimeIntervalType`` (C13 interval boundary;
    reference ``convert/timedelta.py`` emits real timedelta64 at the
    edge).  Spark intervals carry µs resolution, so sub-µs truncates —
    the engine's internal currency stays ns; this is the typed exit.
    """
    secs = ns.cast("long").cast("decimal(38,9)") / F.lit(1000000000).cast(
        "decimal(19,0)"
    )
    return F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), secs)


def interval_to_ns(iv: Column) -> Column:
    """``DayTimeIntervalType`` → ns LongType, exact to the interval's µs
    resolution.  A bare ``CAST(interval AS BIGINT)`` yields whole units
    of the interval's END field (seconds for DAY TO SECOND) — silently
    truncating sub-second parts — so decompose instead; components carry
    a consistent sign for negative intervals."""
    d = F.extract(F.lit("DAY"), iv).cast("long")
    h = F.extract(F.lit("HOUR"), iv).cast("long")
    m = F.extract(F.lit("MINUTE"), iv).cast("long")
    s = F.extract(F.lit("SECOND"), iv)  # decimal(8,6), fractional
    whole = (d * 86400 + h * 3600 + m * 60) * F.lit(1000000000).cast("long")
    return (whole + (s * F.lit(1000000000)).cast("long")).cast("long")


def parse_timedelta_string(col: Column, as_hours: bool = False) -> Column:
    """Parse timedelta strings → ns LongType, all native expressions.

    Handles the reference grammar (``timedelta.pyx:91-200``): clock strings
    ``"1:24:31.123"`` (``as_hours`` resolves the ambiguous ``"1:22"`` form),
    and unit-word sums ``"1 day, 23 seconds"`` / ``"1.5h"`` / ``"3w 2d 1h"``.
    Unparseable → NULL (errors='coerce' semantics; caller layers raise).
    """
    s = F.trim(col)

    # clock path: [D:][H:]M:SS(.fff) — split on ':' and key off field count
    clock_re = r"^[+-]?\d+(:\d{1,2}){1,3}(\.\d+)?$"
    is_clock = s.rlike(clock_re)
    sign = F.when(s.startswith("-"), F.lit(-1.0)).otherwise(F.lit(1.0))
    body = F.regexp_replace(s, r"^[+-]", "")
    parts = F.split(body, ":")
    n = F.size(parts)

    def p(i: Column) -> Column:  # part at index-from-end, 0.0 if absent
        return F.coalesce(
            F.element_at(parts, i).cast("double"), F.lit(0.0)
        )

    last = F.element_at(parts, -1).cast("double")
    second_last = F.element_at(parts, -2).cast("double")
    if as_hours:  # two-field form is H:MM (reference as_hours, arguments.py:972)
        two = second_last * 3600 + last * 60
    else:  # two-field form is M:SS
        two = second_last * 60 + last
    three = p(F.lit(1)) * 3600 + second_last * 60 + last
    four = p(F.lit(1)) * 86400 + p(F.lit(2)) * 3600 + second_last * 60 + last
    secs = (
        F.when(n == 2, two).when(n == 3, three).when(n == 4, four)
    )
    clock_ns = (sign * secs * F.lit(1e9)).cast("long")

    # unit-word path: extract all "<num> <unit>" pairs, sum contributions
    pair_re = r"([+-]?\d+(?:\.\d+)?)\s*([a-zA-Z]+)"
    nums = F.regexp_extract_all(s, F.lit(pair_re), 1)
    units = F.regexp_extract_all(s, F.lit(pair_re), 2)
    unit_map = F.map_from_arrays(
        F.array(*[F.lit(k) for k in _UNIT_WORDS]),
        F.array(*[F.lit(v) for v in _UNIT_WORDS.values()]),
    )
    pairs = F.arrays_zip(nums.alias("n"), units.alias("u"))
    word_ns = F.aggregate(
        pairs,
        F.lit(0.0),
        lambda acc, p: acc
        + p["n"].cast("double")
        * F.coalesce(unit_map[F.lower(p["u"])], F.lit(None)).cast("double"),
    ).cast("long")
    has_words = (F.size(nums) > 0) & units.isNotNull()

    neg_words = s.startswith("-")
    word_val = F.when(neg_words & (word_ns > 0), -word_ns).otherwise(word_ns)

    return (
        F.when(is_clock, clock_ns)
        .when(has_words, word_val)
        .otherwise(F.lit(None).cast("long"))
    )


def fuzzy_parse_datetime(
    col: Column, day_first: bool = False, year_first: bool = False
) -> Column:
    """dateutil fuzzy datetime parse (reference ``datetime.pyx:292``
    ``string_to_pydatetime`` with ``fuzzy=True``).

    Arrow-batched kernel — arbitrary-text date extraction has no native
    Spark expression; the cast rule only consults this where the native
    format/ISO paths returned NULL, so at scale it touches the residue,
    not the bulk.  Unparseable → NULL (coerce semantics; the cast layer
    handles raise).
    """
    from dateutil import parser as du

    info = du.parserinfo(dayfirst=day_first, yearfirst=year_first)
    # default pins missing fields (ref: parse is anchored, not "now")
    anchor = _dt.datetime(1970, 1, 1)

    def fuzzy_one(v):
        if v is None:
            return None
        try:
            return du.parse(str(v), fuzzy=True, parserinfo=info, default=anchor)
        except (du.ParserError, OverflowError, ValueError):
            return None

    return row_udf("timestamp", fuzzy_one)(col)


def td_ns_to_string(ns: Column) -> Column:
    """ns → canonical clock string 'H:MM:SS.mmm' (inverse of the grammar)."""
    total_s = (ns / F.lit(10**9)).cast("long")
    frac_ms = F.abs((ns % F.lit(10**9)) / F.lit(10**6)).cast("long")
    a = F.abs(total_s)
    h, m, sec = (a / 3600).cast("long"), ((a % 3600) / 60).cast("long"), a % 60
    body = F.concat_ws(
        ":",
        h.cast("string"),
        F.lpad(m.cast("string"), 2, "0"),
        F.lpad(sec.cast("string"), 2, "0"),
    )
    with_ms = F.when(
        frac_ms > 0, F.concat(body, F.lit("."), F.lpad(frac_ms.cast("string"), 3, "0"))
    ).otherwise(body)
    return F.when(ns < 0, F.concat(F.lit("-"), with_ms)).otherwise(with_ms)
