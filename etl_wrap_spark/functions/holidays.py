"""Holiday calendars + business-day arithmetic (reference D16/D27/D29/D32).

Re-implements the semantics of ``Wrap/DateUtil.pm:134-171`` (is_holiday:
fixed lists per calendar BS/BF/AT/TG/UK, Easter-derived movable feasts,
UK first/last-Monday bank-holiday rules at ``:164-165``). Easter itself
uses Butcher's algorithm — a documented intent-over-bug divergence from
the reference's simplified Gauss computus (see ``easter_sunday``).

Spark-first design: the single Python model (``holiday_set``) feeds
THREE consumers that therefore always agree — driver-side predicates
(gating, rolls), the Column expression (``is_holiday_col``: a literal
epoch-day InSet, an O(1) JVM hash probe per row inside whole-stage
codegen — no UDF, no join), and the generated oracle SQL literal lists.
A calendar *dimension* DataFrame is provided for join-style usage.

Calendars: BS, BF, AT, TG (Target2), UK; WE = weekends-only; NO = none.
"""

from __future__ import annotations

import datetime as _dt
from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

CALENDARS = ("BS", "BF", "AT", "TG", "UK")

# fixed holidays as (month, day) per calendar — cf. Wrap/DateUtil.pm:143-147
_FIXED = {
    "BS": [(1, 1), (1, 6), (5, 1), (8, 15), (10, 26), (11, 1), (12, 8), (12, 24), (12, 25), (12, 26)],
    "BF": [(1, 1), (1, 6), (5, 1), (8, 15), (10, 26), (11, 1), (12, 8), (12, 24), (12, 25), (12, 26)],
    "AT": [(1, 1), (1, 6), (5, 1), (8, 15), (10, 26), (11, 1), (12, 8), (12, 25), (12, 26)],
    "TG": [(1, 1), (5, 1), (12, 25), (12, 26)],
    "UK": [(1, 1), (12, 25), (12, 26)],
}

# easter-derived offsets (days from Easter Sunday) per calendar —
# cf. Wrap/DateUtil.pm:152-162
_EASTER_OFFSETS = {
    "BS": (1, 39, 50, 60, -2),  # Easter Mon, Ascension, Whit Mon, Corpus Christi, Good Friday
    "BF": (1, 39, 50, 60),
    "AT": (1, 39, 50, 60),
    "TG": (1, -2),
    "UK": (1, -2),
}


# ------------------------------------------------------------- Python side
def easter_sunday(year: int) -> _dt.date:
    """Easter Sunday by Butcher's algorithm (exact for every Gregorian
    year; property-tested 1900-2099).

    Deliberate divergence from the reference: its simplified Gauss
    computus (Wrap/DateUtil.pm:149-151) is a week late in the classic
    exception years (1924, 1981, 1992, 2076 give Apr 26/27 — true
    Easter 1981 is Apr 19). We implement the *intent* (correct Easter),
    as with the addDays 25-hour-day bug (SURVEY §2.8 D25)."""
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
    return _dt.date(year, month, day + 1)


@lru_cache(maxsize=None)
def holiday_set(cal: str, year: int) -> frozenset[_dt.date]:
    """All holidays of `cal` in `year` (weekends NOT included)."""
    if cal in ("WE", "NO"):
        return frozenset()
    if cal not in _FIXED:
        raise ValueError(f"calendar <{cal}> not implemented")
    days = {_dt.date(year, m, d) for m, d in _FIXED[cal]}
    easter = easter_sunday(year)
    days.update(easter + _dt.timedelta(days=o) for o in _EASTER_OFFSETS[cal])
    if cal == "UK":
        days.update(_uk_bank_holidays(year))
    return frozenset(days)


def _uk_bank_holidays(year: int):
    # first Monday of May, last Monday of May, last Monday of August
    def first_monday(m):
        d = _dt.date(year, m, 1)
        return d + _dt.timedelta(days=(7 - d.weekday()) % 7)

    def last_monday(m):
        d = _dt.date(year, m + 1, 1) - _dt.timedelta(days=1)
        return d - _dt.timedelta(days=d.weekday())

    return [first_monday(5), last_monday(5), last_monday(8)]


def is_holiday_py(cal: str, date: _dt.date | str) -> bool:
    """Driver-side is_holiday: date may be YYYYMMDD string or date.

    Returns False for WE (weekends are checked separately, mirroring
    Wrap/DateUtil.pm:136).
    """
    if isinstance(date, str):
        date = _dt.datetime.strptime(date, "%Y%m%d").date()
    if cal in ("WE", "NO"):
        return False
    return date in holiday_set(cal, date.year)


def is_nonworking_py(cal: str, date: _dt.date | str) -> bool:
    """Weekend OR holiday under `cal` ('NO' → nothing is non-working)."""
    if isinstance(date, str):
        date = _dt.datetime.strptime(date, "%Y%m%d").date()
    if cal == "NO":
        return False
    if date.weekday() >= 5:
        return True
    return is_holiday_py(cal, date)


def add_days_hol_py(date: str, days: int, cal: str = "AT") -> _dt.date:
    """addDaysHol (Wrap/DateUtil.pm:276-289): add N calendar days, then
    roll FORWARD while the landing day is weekend/holiday."""
    d = _dt.datetime.strptime(date, "%Y%m%d").date() + _dt.timedelta(days=days)
    while is_nonworking_py(cal, d):
        d += _dt.timedelta(days=1)
    return d


def subtract_days_hol_py(date: str, days: int, cal: str = "AT") -> _dt.date:
    """subtractDaysHol (Wrap/DateUtil.pm:261-274): subtract, roll BACKWARD."""
    d = _dt.datetime.strptime(date, "%Y%m%d").date() - _dt.timedelta(days=days)
    while is_nonworking_py(cal, d):
        d -= _dt.timedelta(days=1)
    return d


# ------------------------------------------------------------- Column side
# The calendar is ALWAYS a driver constant (it is config in the
# reference), so the Column-side holiday test is a literal IN-set
# generated from the Python model: Catalyst turns >10 literals into an
# InSet hash probe — O(1) per row, no computus arithmetic in the plan,
# and the same spec as the generated oracle SQL. Membership is tested on
# epoch-DAY ints (unix_date) — int literals cross py4j ~3x faster than
# date literals, and the window default (1950-2060, ~2,100 dates) keeps
# plan-construction sub-second; widen per call for archival data. For
# filters over truly wide ranges, broadcast-join holidays_df instead.
_COL_YEAR_FROM, _COL_YEAR_TO = 1950, 2060
_EPOCH = _dt.date(1970, 1, 1)


@lru_cache(maxsize=None)
def _holiday_dates(cal: str, year_from: int = _COL_YEAR_FROM, year_to: int = _COL_YEAR_TO):
    return sorted(d for y in range(year_from, year_to + 1) for d in holiday_set(cal, y))


@lru_cache(maxsize=None)
def _holiday_epoch_days(cal: str, year_from: int = _COL_YEAR_FROM, year_to: int = _COL_YEAR_TO):
    return tuple((d - _EPOCH).days for d in _holiday_dates(cal, year_from, year_to))


@lru_cache(maxsize=None)
def _holiday_lit_cols(cal: str, year_from: int, year_to: int):
    """The ~2,100 epoch-day literals as pre-built Column objects.

    `Column.isin(<python ints>)` converts every element through py4j
    individually (~0.9 s per call, measured); literal Columns convert
    once and re-enter later isin() calls as cheap handle lookups
    (~0.05 s). Callers like add_days_hol/roll_forward build several
    holiday tests per plan, so this cache took q13's per-run plan-build
    cost from ~2.4 s to ~0.2 s. The cached handles live in the
    driver-side py4j gateway — one per Python process, shared across
    SparkSessions, so session restarts within a process are safe."""
    return tuple(F.lit(d) for d in _holiday_epoch_days(cal, year_from, year_to))


@lru_cache(maxsize=None)
def _holiday_lit_jseq(cal: str, year_from: int, year_to: int):
    """The literal Columns above as ONE pre-converted JVM Seq handle.

    Even with cached Column handles, `isin(*cols)` re-converts the
    Python list to a JVM collection on EVERY call — py4j's ListConverter
    issues one `add()` roundtrip per element, so each holiday test still
    paid ~2,100 roundtrips (~0.35 s; the round-6 q13 profile measured
    4,040 socket roundtrips per plan build, 3 rolls at 0.34 s each).
    Converting once and handing the same JVM Seq to `jc.isin(seq)`
    drops a holiday test to ~2 roundtrips. Like the Column cache, the
    Seq lives in the process-wide py4j gateway, independent of any
    SparkSession."""
    from pyspark import SparkContext
    from pyspark.sql.classic.column import _to_seq

    sc = SparkContext._active_spark_context
    return _to_seq(sc, [c._jc for c in _holiday_lit_cols(cal, year_from, year_to)])


def is_holiday_col(
    date: Column, cal: str, year_from: int = _COL_YEAR_FROM, year_to: int = _COL_YEAR_TO
) -> Column:
    """is_holiday as a pure expression (boolean Column). `cal` is a driver
    constant, matching the reference API where the calendar is config.

    Dates OUTSIDE the inlined [year_from, year_to] window raise at
    execution (F.raise_error) instead of silently testing non-holiday —
    archival data must either widen the window per call or route through
    a holidays_df broadcast join. NULL dates stay NULL, as before."""
    if cal in ("WE", "NO"):
        return F.lit(False)
    if cal not in _FIXED:
        raise ValueError(f"calendar <{cal}> not implemented")
    ud = F.unix_date(date)
    lo = (_dt.date(year_from, 1, 1) - _EPOCH).days
    hi = (_dt.date(year_to, 12, 31) - _EPOCH).days
    return F.when(
        (ud < lo) | (ud > hi),
        F.raise_error(
            F.format_string(
                f"is_holiday_col: date %s outside the inlined holiday window "
                f"{year_from}-{year_to}; widen year_from/year_to or join holidays_df",
                date.cast("string"),
            )
        ).cast("boolean"),
    ).otherwise(_holiday_isin(ud, cal, year_from, year_to))


def _holiday_isin(ud: Column, cal: str, year_from: int, year_to: int) -> Column:
    """membership test for the inlined holiday set. Fast path: one py4j
    call against a cached JVM Seq (2 roundtrips vs ~4,000 for
    Column.isin(*handles), the round-6 q13 fix). The fast path leans on
    classic-only internals (`Column._jc`, `_to_seq`,
    `SparkContext._active_spark_context`), which do not exist under
    Spark Connect or may move in a future pyspark — fall back to the
    public `isin` there instead of raising (round-6 ADVICE; bench.py's
    equivalent internal-API use carries the same guard)."""
    try:
        return Column(ud._jc.isin(_holiday_lit_jseq(cal, year_from, year_to)))
    except Exception:
        return ud.isin(*_holiday_lit_cols(cal, year_from, year_to))


def is_weekend_col(date: Column) -> Column:
    return F.dayofweek(date).isin(1, 7)


def is_nonworking_col(date: Column, cal: str) -> Column:
    if cal == "NO":
        return F.lit(False)
    return is_weekend_col(date) | is_holiday_col(date, cal)


# Bind once: never let a lambda body capture a non-trivial outer
# expression. Spark's higher-order functions are CodegenFallback and
# subexpression elimination does not reach lambda bodies, so a captured
# expression is re-evaluated once per array element, and every outer
# copy of the HOF re-embeds it in the plan. `_let` evaluates the value
# once and hands it to the body as a lambda variable.
#
# The roll is a higher-order `filter` over the candidate array so the
# (large) holiday expression appears exactly ONCE per roll; an unrolled
# coalesce-of-candidates repeats it per candidate. The longest run of
# consecutive non-working days across the supported calendars is 4
# (e.g. Christmas 24-26 + weekend); 10 offsets give a wide margin.
_MAX_ROLL = 10


def _let(value: Column, body) -> Column:
    """`body(value)` with `value` evaluated once per row: a one-element
    `transform` binds it to a lambda variable."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _roll_col(date: Column, cal: str, step) -> Column:
    """First working day among step(date, k), k = 0..N; NULL when the
    date is NULL (try_element_at: the filtered array is then empty)."""
    return _let(
        date,
        lambda d: F.try_element_at(
            F.filter(
                F.transform(F.sequence(F.lit(0), F.lit(_MAX_ROLL)), lambda k: step(d, k)),
                lambda c: ~is_nonworking_col(c, cal),
            ),
            F.lit(1),
        ),
    )


def roll_forward_col(date: Column, cal: str) -> Column:
    """First working day at date+k (k = 0..N), i.e. advance while
    weekend/holiday."""
    return _roll_col(date, cal, F.date_add)


def roll_backward_col(date: Column, cal: str) -> Column:
    return _roll_col(date, cal, F.date_sub)


def add_days_hol_col(date: Column, days, cal: str = "AT") -> Column:
    return roll_forward_col(F.date_add(date, days), cal)


def subtract_days_hol_col(date: Column, days, cal: str = "AT") -> Column:
    return roll_backward_col(F.date_sub(date, days), cal)


# ------------------------------------------------------- calendar dimension
def holidays_df(spark: SparkSession, cal: str, year_from: int, year_to: int) -> DataFrame:
    """Holiday dimension table: one row per holiday date of `cal`,
    generated from the driver-side model (a few rows per year — never
    big data). Useful for broadcast joins and as a SQL-visible table.
    """
    dates = [(d,) for d in _holiday_dates(cal, year_from, year_to)]
    return spark.createDataFrame(dates, ["holiday"])


def business_days_df(spark: SparkSession, cal: str, date_from: str, date_to: str) -> DataFrame:
    """get_dateseries with a calendar (Wrap/DateUtil.pm:335-352), distributed:
    all business days in [date_from, date_to] (YYYYMMDD strings)."""
    span = spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit(date_from), "yyyyMMdd"),
                F.to_date(F.lit(date_to), "yyyyMMdd"),
            )
        ).alias("d")
    )
    return span.where(~is_nonworking_col(F.col("d"), cal)).select(
        F.date_format("d", "yyyyMMdd").alias("date")
    )
