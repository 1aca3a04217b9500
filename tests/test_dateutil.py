"""Golden-value spec for the date/time library, ported from the
reference's t/DateUtil.t (171 assertions) — the values are the spec;
the implementation is Column-native Spark (see functions/dateutil.py).
"""

import re

import pytest
from pyspark.sql import functions as F

from etl_wrap_spark.functions import dateutil as du
from etl_wrap_spark.functions import holidays as hol


def ev(spark, *cols):
    """Evaluate scalar Column expressions on a one-row frame."""
    row = spark.range(1).select(*[c.alias(f"c{i}") for i, c in enumerate(cols)]).collect()[0]
    return list(row)


def lit(s):
    return F.lit(s)


# --------------------------------------------------------------- weekday/we
def test_weekday_and_weekend(spark):
    vals = ev(
        spark,
        du.is_weekend(lit("20150102")),
        du.is_weekend(lit("20150103")),
        du.is_weekend(lit("20150104")),
        du.is_weekend(lit("20150105")),
        *[du.weekday(lit(f"2018080{d}")) for d in range(1, 8)],
    )
    assert vals[:4] == [False, True, True, False]
    assert vals[4:] == [4, 5, 6, 7, 1, 2, 3]  # t/DateUtil.t:11-17


# ----------------------------------------------------------------- addMonths
@pytest.mark.parametrize(
    "date,months,expected",
    [
        ("20121030", 1, "20121130"),
        ("20121030", 3, "20130130"),
        ("20121030", 13, "20131130"),
        ("20121030", 14, "20131230"),
        ("20121030", 16, "20140302"),  # overflow-roll, NOT 20140230 (t:22)
    ],
)
def test_add_months(spark, date, months, expected):
    assert ev(spark, du.add_months(lit(date), months))[0] == expected


# ---------------------------------------------------------------- addDaysHol
@pytest.mark.parametrize(
    "date,expected",
    [
        ("20111231", "20120102"),
        ("20120105", "20120109"),
        ("20120430", "20120502"),
        ("20120814", "20120816"),
        ("20121025", "20121029"),
        ("20121031", "20121102"),
        ("20121207", "20121210"),
        ("20121224", "20121227"),
    ],
)
def test_add_days_hol_at(spark, date, expected):
    assert ev(spark, du.add_days_hol(lit(date), 1))[0] == expected


def test_add_days_hol_calendars_and_templates(spark):
    vals = ev(
        spark,
        du.add_days_hol(lit("20121224"), 1, "YMD", "WE"),
        du.add_days_hol(lit("20220429"), 1, "YMD", "NO"),
        du.add_days_hol(lit("20120405"), 1, "D.M.Y"),
        du.add_days_hol(lit("20120408"), 1, "D-M-Y"),
        du.add_days_hol(lit("20120516"), 1, "Y-M-D"),
        du.add_days_hol(lit("20120527"), 1, "D-MMM-Y"),
        du.add_days_hol(lit("20120606"), 1, "D/M/Y"),
        du.add_days_hol(lit("20121224"), 1, "D.mmm.Y"),
    )
    assert vals == [
        "20121225",
        "20220430",
        "06.04.2012",
        "10-04-2012",
        "2012-05-18",
        "29-May-2012",
        "08/06/2012",
        "27.Dez.2012",
    ]


def test_subtract_days_hol(spark):
    vals = ev(
        spark,
        du.subtract_days_hol(lit("20120102"), 1),
        du.subtract_days_hol(lit("20120502"), 1),
        du.subtract_days_hol(lit("20121224"), 1, "YMD", "WE"),
        du.subtract_days_hol(lit("20220502"), 1, "YMD", "NO"),
        du.subtract_days_hol(lit("20191227"), 1, "YMD", "BF"),
    )
    assert vals == ["20111230", "20120430", "20121221", "20220501", "20191223"]


def test_yesterday_holiday_chain(spark):
    # is_holiday(BF, subtractDaysHol(date,1,WE)) — t/DateUtil.t:44-49
    cases = [("20191227", True), ("20191226", True), ("20191225", True),
             ("20191224", False), ("20191223", False), ("20191209", False)]
    cols = [
        du.is_holiday("BF", du.subtract_days_hol(lit(d), 1, "YMD", "WE"))
        for d, _ in cases
    ]
    assert ev(spark, *cols) == [e for _, e in cases]


def test_business_day_rolls_null_and_junk_give_null(spark):
    """NULL or unparseable input rolls to NULL (the _as_date contract),
    not an ANSI out-of-bounds error from the empty candidate array. The
    input is a column, not a literal, so the roll runs at execution."""
    df = spark.createDataFrame([("20121224",), (None,), ("junk",)], "s STRING")
    rows = df.select(
        du.add_days_hol("s", 1).alias("add"), du.subtract_days_hol("s", 1).alias("sub")
    ).collect()
    assert [r["add"] for r in rows] == ["20121227", None, None]
    assert [r["sub"] for r in rows] == ["20121221", None, None]


# -------------------------------------------------------------------- addDays
def test_add_days(spark):
    assert ev(spark, du.add_days(lit("20070101"), 1))[0] == "02-Jan-2007"


# ------------------------------------------------------------ first/last week
def test_first_last_week(spark):
    vals = ev(
        spark,
        du.first_week(lit("20180507"), 1, 5),
        du.first_week(lit("20210105"), 2),
        du.first_week(lit("20210106"), 3),
        du.first_week(lit("20210107"), 4),
        du.first_week(lit("20210101"), 5),
        du.first_week(lit("20210102"), 6),
        du.first_week(lit("20210103"), 0),
        du.first_week(lit("20180507"), 1),
        du.last_week(lit("20180528"), 1, 5),
        du.last_week(lit("20180827"), 1, 8),
        du.last_week(lit("20181228"), 5, 12),
        du.last_week(lit("20181228"), 5),
        du.first_week(lit("20180107"), 0, 1),
        du.first_week(lit("20190506"), 1, 5),
        du.first_week(lit("20190507"), 1, 5),
        du.first_week(lit("20190513"), 1, 5),
        du.last_week(lit("20190527"), 1, 5),
        du.last_week(lit("20190510"), 1, 5),
    )
    assert vals == [True] * 13 + [True, False, False, True, False]


# ------------------------------------------------------------------ holidays
def test_holidays_all_calendars(spark):
    cols, expected = [], []
    for cal in ("BS", "BF", "AT", "TG", "UK"):
        for date, exp in [("20180101", True), ("20181225", True), ("20181226", True), ("20180502", False)]:
            cols.append(du.is_holiday(cal, lit(date)))
            expected.append(exp)
    assert ev(spark, *cols) == expected


@pytest.mark.parametrize(
    "cal,date,expected",
    [
        ("AT", "20120101", True),   # new year
        ("AT", "20120106", True),   # epiphany
        ("AT", "20120409", True),   # easter monday
        ("AT", "20120501", True),   # may day
        ("AT", "20120517", True),   # ascension
        ("AT", "20120528", True),   # whit monday
        ("AT", "20120607", True),   # corpus christi
        ("AT", "20120815", True),   # assumption
        ("AT", "20121026", True),   # national day
        ("AT", "20121101", True),   # all saints
        ("AT", "20121208", True),   # mary conception
        ("AT", "20121224", False),  # christmas eve
        ("AT", "20121225", True),
        ("AT", "20121226", True),
        ("AT", "20120406", False),  # good friday not in AT
        ("BS", "20120406", True),   # good friday in BS
        ("BF", "20120406", False),
        ("UK", "20180507", True),   # may day (first Monday)
        ("UK", "20180528", True),   # spring bank holiday
        ("UK", "20180827", True),   # summer bank holiday
        ("UK", "20180501", False),
        ("TG", "20180507", False),
        ("TG", "20180528", False),
        ("TG", "20180827", False),
        ("TG", "20180101", True),
        ("TG", "20180501", True),
        ("TG", "20181225", True),
        ("TG", "20181226", True),
        ("AT", "20210405", True),   # easter monday 2021
    ],
)
def test_is_holiday_cases(spark, cal, date, expected):
    assert ev(spark, du.is_holiday(cal, lit(date)))[0] is expected
    # python-side mirror must agree
    assert hol.is_holiday_py(cal, date) is expected


# ------------------------------------------------------------- month edges
def test_month_edges(spark):
    vals = ev(
        spark,
        du.is_first_day_of_month(lit("20190101")),
        du.is_first_day_of_month(lit("20190102")),
        du.is_last_day_of_month(lit("20190131")),
        du.is_last_day_of_month(lit("20190130")),
        du.is_last_day_of_month(lit("20190228")),
        du.is_last_day_of_month(lit("20200229")),
        du.is_last_day_of_month(lit("20200228")),
        du.is_last_day_of_month(lit("20220429"), "WE"),
        du.is_last_day_of_month(lit("20220428"), "WE"),
        du.get_last_day_of_month(lit("20011215")),
        du.get_last_day_of_month(lit("20010115")),
        du.get_last_day_of_month(lit("20010215")),
        du.get_last_day_of_month(lit("20040215")),
    )
    assert vals == [True, False, True, False, True, True, False, True, False,
                    "20011231", "20010131", "20010228", "20040229"]


# ----------------------------------------------------------------- now-fns
def test_volatile_formats(spark):
    vals = ev(
        spark,
        du.get_curdate(),
        du.get_curdatetime(),
        du.get_curdate_dot(),
        du.get_curdate_dash(),
        du.get_curtime(),
        du.get_curtime_hhmm(),
        du.get_curdate_gen("D.M.Y"),
        du.get_curdate_gen("D/M/Y"),
        du.get_curdate_gen("YMD"),
        du.get_curdate_gen(),
        du.get_curdate_gen("D-MMM-Y"),
        du.get_curdate_dash_plus_x_years(100),
    )
    pats = [
        r"\d{8}", r"\d{8}_\d{6}", r"\d{2}\.\d{2}\.20\d{2}", r"\d{2}-\d{2}-20\d{2}",
        r"\d{2}:\d{2}:\d{2}", r"\d{4}", r"\d{2}\.\d{2}\.20\d{2}", r"\d{2}/\d{2}/20\d{2}",
        r"20\d{6}", r"20\d{6}", r"\d{2}-\w{3}-20\d{2}", r"\d{2}-\d{2}-21\d{2}",
    ]
    for v, p in zip(vals, pats):
        assert re.fullmatch(p, v), (v, p)


def test_plus_x_years_with_date(spark):
    vals = ev(
        spark,
        du.get_curdate_dash_plus_x_years(100, lit("20190101")),
        du.get_curdate_dash_plus_x_years(100, lit("20190105"), 4),
    )
    assert vals == ["01-01-2119", "01-01-2119"]


def test_plus_x_years_ansi_safe(spark):
    # Reference (DateUtil.pm:61-76) does sprintf year arithmetic with no
    # calendar validation: Feb 29 + 1y prints "29-02-2025". Must not throw
    # under Spark 4 ANSI mode (make_date would).
    vals = ev(
        spark,
        du.get_curdate_dash_plus_x_years(1, lit("20240229")),
        du.convert_date_to_mmm(F.lit(31), F.lit(2), F.lit(2024)),  # invalid → NULL
    )
    assert vals == ["29-02-2025", None]


# ------------------------------------------------------------- formatDate
def test_format_date(spark):
    vals = ev(
        spark,
        du.format_date(lit("20190101"), "D.M.Y"),
        du.format_date(lit("20190301"), "D.MMM.Y"),
        du.format_date(lit("20190301"), "D.mmm.Y"),
        du.format_date_from_yyyymmdd(lit("20190101"), "D.M.Y"),
        du.convert_to_ddmmyyyy(lit("20190101")),
        du.convert_date(lit("2019.01.02")),
        du.convert_date(lit("2019/01/02")),
        du.convert_date_from_mmm(lit("01-Oct-2005")),
        du.convert_date_to_mmm(F.lit(1), F.lit(10), F.lit(2005)),
    )
    assert vals == ["01.01.2019", "01.Mar.2019", "01.Mär.2019", "01.01.2019",
                    "01.01.2019", "20190102", "20190102", "01.10.2005", "01-Oct-2005"]


# ---------------------------------------------------------- number formats
def test_thousand_decimal(spark):
    vals = ev(
        spark,
        du.convert_to_thousend_decimal(lit("123456789.12")),
        du.convert_to_thousend_decimal(lit("123456789")),
        du.convert_to_thousend_decimal(lit("0")),
        du.convert_to_thousend_decimal(lit("0"), True),
        du.convert_to_thousend_decimal(lit("12345.2"), True),
        du.convertcomma(lit("1.5")),
        du.convertcomma(F.lit(3.0), 2),
    )
    assert vals == ["123.456.789,12", "123.456.789,0", "0,0", "0", "12.345", "1,5", "1,5"]


# ------------------------------------------------------------ epoch (UTC)
def test_epoch_roundtrip(spark):
    vals = ev(
        spark,
        du.parse_from_ddmmyyyy(lit("01.01.1970")),
        du.parse_from_ddmmyyyy(lit("02.01.1970")),
        du.parse_from_yyyymmdd(lit("19700102")),
        (du.parse_from_yyyymmdd(lit("19700103")) - du.parse_from_yyyymmdd(lit("19700101"))) / 86400,
        (du.parse_from_yyyymmdd(lit("20191104")) - du.parse_from_ddmmyyyy(lit("01.11.2019"))) / 86400,
        du.parse_from_yyyymmdd(lit("19000100")),
        du.parse_from_ddmmyyyy(lit("01.13.2001")),
        du.parse_from_yyyymmdd(lit("")),
        du.parse_from_ddmmyyyy(lit("01.01.1801")),
        du.parse_from_yyyymmdd(lit("20010132")),
        du.parse_from_ddmmyyyy(lit("00.01.1901")),
        du.convert_epoch_to_yyyymmdd(du.parse_from_yyyymmdd(lit("20010131"))),
    )
    # UTC semantics: epoch 0 at 1970-01-01 (the reference asserted the
    # Vienna offset -3600; we pin UTC — documented deliberate change)
    assert vals[0] == 0
    assert vals[1] == 86400
    assert vals[2] == 86400
    assert vals[3] == 2.0
    assert vals[4] == 3.0
    assert vals[5:11] == [None] * 6  # 'invalid date' → NULL
    assert vals[11] == "20010131"


# ------------------------------------------------------------- date series
def test_dateseries(spark):
    expected = ["20150102", "20150105", "20150107", "20150108", "20150109", "20150112",
                "20150113", "20150114", "20150115", "20150116", "20150119", "20150120",
                "20150121", "20150122", "20150123", "20150126", "20150127", "20150128",
                "20150129", "20150130", "20150202", "20150203", "20150204", "20150205",
                "20150206", "20150209", "20150210", "20150211", "20150212", "20150213",
                "20150216", "20150217", "20150218", "20150219", "20150220", "20150223",
                "20150224", "20150225", "20150226", "20150227", "20150302"]
    got = ev(spark, du.get_dateseries(lit("20150102"), lit("20150302"), "AT"))[0]
    assert got == expected
    # distributed dimension form agrees
    dim = hol.business_days_df(spark, "AT", "20150102", "20150302").collect()
    assert [r.date for r in dim] == expected


def test_holidays_df_matches_python(spark):
    df = hol.holidays_df(spark, "AT", 2012, 2012).collect()
    got = sorted(r.holiday for r in df)
    expect = sorted(hol.holiday_set("AT", 2012))
    assert got == expect


def test_is_holiday_col_raises_outside_inlined_window(spark):
    # Dates outside the 1950-2060 inlined window must FAIL LOUDLY, not
    # silently report non-holiday (round-3 VERDICT item 8).
    import pytest
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("1890-12-25",)], ["d"]).select(
        F.col("d").cast("date").alias("d")
    )
    with pytest.raises(Exception, match="outside the inlined holiday window"):
        df.select(hol.is_holiday_col(F.col("d"), "AT").alias("h")).collect()
    # widening the window per call makes the same date answerable
    got = df.select(
        hol.is_holiday_col(F.col("d"), "AT", year_from=1880).alias("h")
    ).collect()[0]["h"]
    assert got is True  # Christmas
    # NULL dates stay NULL (no spurious raise)
    nulls = spark.createDataFrame([(None,)], "d date").select(
        hol.is_holiday_col(F.col("d"), "AT").alias("h")
    ).collect()[0]["h"]
    assert nulls is None
