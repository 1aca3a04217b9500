"""Round-trip golden tests for the file source/sink layer — modeled on
the reference's t/File.t (write → exact content check → read back →
row-struct equality)."""

import os

import pytest
from pyspark.sql import functions as F

from etl_wrap_spark.functions.coerce import normalize_numerics
from etl_wrap_spark.sinks.files import write_csv_dir, write_single_file
from etl_wrap_spark.sources import xlsx as X
from etl_wrap_spark.sources.files import (
    apply_read_pipeline,
    drop_empty_first_field,
    drop_empty_lines,
    first_line,
    read_csv,
    read_lines,
    skip_lines,
    slice_fixed_width,
    split_columns,
    stop_on_empty_value,
    with_prev_row,
)
from etl_wrap_spark.sources.xml import read_xml, read_xml_xpath

HEADER = ["ID1", "ID2", "Name", "Number"]


@pytest.fixture()
def tab_file(tmp_path):
    # the reference's canonical load shape (Test/test.pl:33-48): 2 junk
    # lines, then tab-separated data with German decimal commas
    p = tmp_path / "data.txt"
    p.write_text(
        "some report header\n"
        "generated 01.02.2023\n"
        "1\tA\t first \t1.234,56\n"
        "2\tB\tsecond\t-7,5\n"
        "3\tC\tthird\tnotanumber\n"
    )
    return str(p)


def test_csv_skip_and_pipeline(spark, tab_file):
    lines = skip_lines(read_lines(spark, tab_file), 2)
    df = split_columns(lines, HEADER, "\t")
    out = apply_read_pipeline(
        df, HEADER, targetheader=["id1", "id2", "name", "amount"],
        trim=True, normalize=True, thousandsep=".", decimalsep=",",
    )
    rows = {r["id1"]: r for r in out.collect()}
    assert rows["1"]["name"] == "first"  # trimmed
    assert rows["1"]["amount"] == "1234.56"  # German normalized
    assert rows["2"]["amount"] == "-7.5"
    assert rows["3"]["amount"] == "notanumber"  # non-numeric untouched


def test_csv_reader_skiprows_option(spark, tab_file):
    df = read_csv(spark, tab_file, header=HEADER, sep="\t", skip=2)
    assert df.count() == 3
    assert df.columns == HEADER


def test_skip_until_pattern(spark, tmp_path):
    p = tmp_path / "pat.txt"
    p.write_text("junk\nmore junk\n-- BEGIN --\na|1\nb|2\n")
    lines = skip_lines(read_lines(spark, str(p)), r"^-- BEGIN --$")
    vals = [r["value"] for r in lines.orderBy("_line_no").collect()]
    assert vals == ["a|1", "b|2"]


def test_fixed_width_round_trip(spark, tmp_path):
    src = tmp_path / "fix.txt"
    src.write_text("aaa  1 10\nbbb  2 20\n")
    lines = read_lines(spark, str(src))
    df = slice_fixed_width(lines, [(0, 5), (5, 2), (7, 3)], ["name", "id", "val"])
    rows = [tuple(r) for r in df.select("name", "id", "val").orderBy("id").collect()]
    assert rows == [("aaa  ", "1 ", "10"), ("bbb  ", "2 ", "20")]
    # write back with padding → identical fixed layout
    out = tmp_path / "fix_out.txt"
    trimmed = df.select(*[F.trim(c).alias(c) for c in ["name", "id", "val"]])
    write_single_file(
        trimmed, str(out), ["name", "id", "val"], padding=[5, 2, 3], suppress_header=True
    )
    # left-aligned rpad: values land at the same offsets as the source
    assert out.read_text() == "aaa  1 10 \nbbb  2 20 \n"


def test_stop_on_empty_and_first_field(spark, tmp_path):
    p = tmp_path / "s.txt"
    p.write_text("a|1\nb|2\n|3\nc|\nd|4\n")
    lines = drop_empty_lines(read_lines(spark, str(p)))
    df = split_columns(lines, ["k", "v"], r"\|")
    stopped = stop_on_empty_value(df, "v")  # truncates at 'c|'
    assert [r["k"] for r in stopped.orderBy("_line_no").collect()] == ["a", "b", "", "c"][:3]
    kept = drop_empty_first_field(df, "k")
    assert sorted(r["k"] for r in kept.collect()) == ["a", "b", "c", "d"]


def test_quoted_csv_with_linefeed(spark, tmp_path):
    p = tmp_path / "q.csv"
    p.write_text('id,txt\n1,"hello, world"\n2,"line1\nline2"\n')
    df = read_csv(
        spark, str(p), header=["id", "txt"], sep=",", quoted=True,
        allow_linefeed_in_data=True, has_header_row=True,
    )
    rows = {r["id"]: r["txt"] for r in df.collect()}
    assert rows["1"] == "hello, world"
    assert rows["2"] == "line1\nline2"


def test_header_assertion(spark, tmp_path):
    p = tmp_path / "h.csv"
    p.write_text("X,Y\n1,2\n")
    with pytest.raises(ValueError, match="header mismatch"):
        read_csv(spark, str(p), header=["A", "B"], sep=",", has_header_row=True)


def test_first_line_hook(spark, tab_file):
    assert first_line(spark, tab_file) == "some report header"


def test_prev_row(spark, tmp_path):
    p = tmp_path / "pr.txt"
    p.write_text("a\nb\nc\n")
    lines = read_lines(spark, str(p))
    df = with_prev_row(lines, ["value"])
    got = {r["value"]: r["prev_value"] for r in df.collect()}
    assert got == {"a": None, "b": "a", "c": "b"}


def test_write_single_file_header_controls(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "val"])
    out = tmp_path / "out.csv"
    write_single_file(
        df.orderBy("id"), str(out), ["id", "val"], sep=";",
        sep_head="|", before_header="# export v1",
    )
    assert out.read_text() == "# export v1\nid|val\n1;x\n2;y\n"
    # suppressed header + columnskip
    write_single_file(
        df.orderBy("id"), str(out), ["id", "val"], sep=";",
        columnskip={"val"}, suppress_header=True,
    )
    assert out.read_text() == "1\n2\n"


def test_write_quoted_csv(spark, tmp_path):
    df = spark.createDataFrame([(1, 'say "hi"; ok')], ["id", "txt"])
    out = tmp_path / "q.csv"
    write_single_file(df, str(out), ["id", "txt"], sep=";", quoted=True)
    assert out.read_text() == 'id;txt\n1;"say ""hi""; ok"\n'


def test_write_csv_dir_distributed(spark, tmp_path):
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("dbl"))
    out = str(tmp_path / "dir_out")
    write_csv_dir(df, out, ["id", "dbl"], sep=",", header=False)
    back = spark.read.option("sep", ",").csv(out).toDF("id", "dbl")
    assert back.count() == 100
    assert back.where("CAST(dbl AS INT) != CAST(id AS INT) * 2").count() == 0


def test_normalize_numerics_cases(spark):
    # unit cases in the spirit of t/File.t:8-9
    cases = [
        ("1,234.56", "1234.56"),
        ("-1,234,567.8", "-1234567.8"),
        ("12.5", "12.5"),
        ("1.5E-3", "1.5E-3"),
        ("abc", "abc"),
        ("1,23", "1,23"),  # not a valid thousand-sep shape → untouched
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], ["s"])
    got = [r["n"] for r in df.select(normalize_numerics("s").alias("n")).collect()]
    assert got == [e for _, e in cases]


# ----------------------------------------------------------------- xlsx
def test_xlsx_round_trip(spark, tmp_path):
    hdr = ["ID", "Name", "Amount"]
    rows = [["1", "alpha", "10.5"], ["2", "be<ta>&", "20"]]
    data = X.write_xlsx_bytes(hdr, rows, sheet_name="TestSheet")
    parsed = X.parse_xlsx(data, worksheet="TestSheet")
    assert parsed == [hdr] + rows
    p = tmp_path / "t.xlsx"
    p.write_bytes(data)
    df = X.read_excel(spark, str(p), header=hdr)
    assert [tuple(r) for r in df.orderBy("ID").collect()] == [tuple(r) for r in rows]


def test_xlsx_header_assert_and_projection(spark, tmp_path):
    data = X.write_xlsx_bytes(["A", "B", "C"], [["1", "x", "d1"], ["2", "y", "d2"]])
    p = tmp_path / "p.xlsx"
    p.write_bytes(data)
    with pytest.raises(ValueError, match="header mismatch"):
        X.read_excel(spark, str(p), header=["A", "WRONG", "C"])
    # S11: 1-based column projection
    df = X.read_excel(spark, str(p), header=["a", "c"], header_columns=[1, 3])
    assert [tuple(r) for r in df.orderBy("a").collect()] == [("1", "d1"), ("2", "d2")]


def test_xlsx_dates_and_stop(spark, tmp_path):
    assert X.excel_serial_to_yyyymmdd("45292") == "20240101"
    assert X.excel_serial_to_yyyymmdd("not-a-date") == "not-a-date"
    data = X.write_xlsx_bytes(["d", "v"], [["45292", "1"], ["45293", ""], ["45294", "3"]])
    p = tmp_path / "d.xlsx"
    p.write_bytes(data)
    df = X.read_excel(spark, str(p), header=["d", "v"], date_columns=["d"], stop_on_empty_column="v")
    assert [tuple(r) for r in df.collect()] == [("20240101", "1")]


def test_xlsx_distributed(spark, tmp_path):
    for i in range(3):
        (tmp_path / f"f{i}.xlsx").write_bytes(
            X.write_xlsx_bytes(["k", "v"], [[f"{i}-a", "1"], [f"{i}-b", "2"]])
        )
    df = X.read_excel_distributed(spark, str(tmp_path / "*.xlsx"), header=["k", "v"])
    assert df.count() == 6
    assert df.select("k").distinct().count() == 6


# ------------------------------------------------------- xls (BIFF8, S8/K14)
def test_xls_round_trip(spark, tmp_path):
    """Mirrors the reference's t/File.t xls round-trip: write, read back
    by worksheet index, header assertion applies (Wrap/File.pm:163-165)."""
    from etl_wrap_spark.sources import xls_biff as B

    hdr = ["ID", "Name", "Amount"]
    rows = [["1", "alpha", "10.5"], ["2", "Straße&<>", "20"]]
    data = B.write_xls_bytes(hdr, rows, sheet_name="Blatt1")
    assert B.parse_xls(data, worksheet="Blatt1") == [hdr] + rows
    assert B.parse_xls(data, worksheet=1) == [hdr] + rows
    p = tmp_path / "t.xls"
    p.write_bytes(data)
    df = X.read_excel(spark, str(p), header=hdr)
    assert [tuple(r) for r in df.orderBy("ID").collect()] == [tuple(r) for r in rows]
    with pytest.raises(ValueError, match="header mismatch"):
        X.read_excel(spark, str(p), header=["ID", "WRONG", "Amount"])


def test_xls_dates_stop_and_projection(spark, tmp_path):
    from etl_wrap_spark.sources import xls_biff as B

    data = B.write_xls_bytes(
        ["d", "v", "x"], [["45292", "1", "a"], ["45293", "", "b"], ["45294", "3", "c"]]
    )
    p = tmp_path / "d.xls"
    p.write_bytes(data)
    # S9 date conversion + S12 stop-on-empty through the shared _shape_rows
    df = X.read_excel(spark, str(p), header=["d", "v"], header_columns=[1, 2],
                      date_columns=["d"], stop_on_empty_column="v")
    assert [tuple(r) for r in df.collect()] == [("20240101", "1")]


def test_xls_sst_continue_and_number_forms(tmp_path):
    from etl_wrap_spark.sources import xls_biff as B

    # >8224-byte SST payload forces CONTINUE records, including a
    # mid-string split (flag byte restated) for the giant utf-16 cell
    giant = "ü" + "abcdefgh" * 3000
    rows = [[giant, "1"]] + [[f"s{i}" * 50, str(i + 0.5)] for i in range(300)]
    data = B.write_xls_bytes(["t", "n"], rows)
    back = B.parse_xls(data)
    assert back[1][0] == giant
    assert back[2] == [rows[1][0], "0.5"]
    assert len(back) == len(rows) + 1


def test_xls_distributed(spark, tmp_path):
    from etl_wrap_spark.sources import xls_biff as B

    for i in range(3):
        (tmp_path / f"f{i}.xls").write_bytes(
            B.write_xls_bytes(["k", "v"], [[f"{i}-a", "1"], [f"{i}-b", "2"]])
        )
    # one xlsx among the .xls files: each file's format comes from its bytes
    (tmp_path / "f3.xlsx").write_bytes(X.write_xlsx_bytes(["k", "v"], [["3-a", "1"], ["3-b", "2"]]))
    df = X.read_excel_distributed(spark, str(tmp_path / "*.xls*"), header=["k", "v"])
    assert df.count() == 8
    assert df.select("k").distinct().count() == 8


def test_xls_write_from_dataframe(spark, tmp_path):
    df = spark.createDataFrame([("1", "a"), ("2", "b")], ["id", "name"])
    p = tmp_path / "out.xls"
    X.write_xls(df, str(p), columns=["id", "name"])
    back = X.read_excel(spark, str(p), header=["id", "name"])
    assert sorted(map(tuple, back.collect())) == [("1", "a"), ("2", "b")]
    # magic byte check: a genuine OLE2 container, not a renamed xlsx
    assert p.read_bytes()[:8] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"


# ------------------------------------------------------------------ xml
XML_DOC = """<?xml version="1.0"?>
<report date="20230201">
  <meta><source>unit</source></meta>
  <rows>
    <rec><id>1</id><name>alpha</name></rec>
    <rec><id>2</id><name>beta</name></rec>
  </rows>
</report>
"""


def test_xml_rowtag(spark, tmp_path):
    p = tmp_path / "r.xml"
    p.write_text(XML_DOC)
    df = read_xml(spark, str(p), row_tag="rec")
    assert sorted((r["id"], r["name"]) for r in df.collect()) == [(1, "alpha"), (2, "beta")]


def test_xml_xpath_with_absolute_fields(spark, tmp_path):
    p = tmp_path / "x.xml"
    p.write_text(XML_DOC)
    df = read_xml_xpath(
        spark,
        str(p),
        record_xpath="/report/rows/rec",
        field_xpaths={
            "id": "id",
            "name": "name",
            "source": "/report/meta/source",  # document-level constant
            "rep_date": "/report/@date",
        },
    )
    rows = sorted((r["id"], r["name"], r["source"], r["rep_date"]) for r in df.collect())
    assert rows == [("1", "alpha", "unit", "20230201"), ("2", "beta", "unit", "20230201")]


def test_xml_namespace_strip(spark, tmp_path):
    p = tmp_path / "ns.xml"
    p.write_text(
        '<ns:root xmlns:ns="http://x"><ns:rec><ns:v>7</ns:v></ns:rec></ns:root>'
    )
    df = read_xml_xpath(
        spark, str(p), record_xpath="/root/rec", field_xpaths={"v": "v"}, strip_namespaces=True
    )
    assert [r["v"] for r in df.collect()] == ["7"]


def test_quoted_with_skip_rejected(spark, tmp_path):
    p = tmp_path / "qs.csv"
    p.write_text('junk\n"a","b"\n')
    with pytest.raises(ValueError, match="skip is not supported"):
        read_csv(spark, str(p), header=["x", "y"], sep=",", quoted=True, skip=1)


def test_jsonl_read_quarantines_corrupt_lines(spark, tmp_path):
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from etl_wrap_spark.sources import jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "alpha"}\n'
        '{"doc_id": 2, "text": "beta"}\n'
        'this line is not json at all\n'
        '{"doc_id": 3, "text": "gamma", "extra": "ignored"}\n'
    )
    schema = StructType([StructField("doc_id", IntegerType()), StructField("text", StringType())])
    good, bad = jsonl.read_jsonl(spark, str(p), schema)
    rows = {r["doc_id"]: r["text"] for r in good.collect()}
    assert rows == {1: "alpha", 2: "beta", 3: "gamma"}
    quarantined = [r["raw"] for r in bad.collect()]
    assert quarantined == ["this line is not json at all"]


def test_jsonl_round_trip(spark, tmp_path):
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from etl_wrap_spark.sources import jsonl

    schema = StructType([StructField("doc_id", IntegerType()), StructField("text", StringType())])
    df = spark.createDataFrame([(1, "alpha"), (2, "beta")], schema=schema)
    out = str(tmp_path / "out_jsonl")
    jsonl.write_jsonl(df, out)
    good, bad = jsonl.read_jsonl(spark, out, schema)
    assert {(r["doc_id"], r["text"]) for r in good.collect()} == {(1, "alpha"), (2, "beta")}
    assert bad.count() == 0
