"""Report-sink tests: the four metric tables + corrected-CSV round-trip."""

import pytest
from pyspark.sql import functions as F

from dataqualitycontroltool_spark.sinks import reports
from dataqualitycontroltool_spark.sources import csvsource
from dataqualitycontroltool_spark.specs import TableSpec

SPEC = TableSpec.from_descriptor(
    {
        "fields": [
            {"name": "code", "type": "string", "MIPType": "nominal",
             "constraints": {"enum": ["AA", "BB"]}},
            {"name": "n", "type": "integer", "MIPType": "integer",
             "constraints": {"minimum": 0, "maximum": 100}},
        ],
        "missingValues": [""],
    }
)


@pytest.fixture(scope="module")
def df(spark):
    rows = [("AA", "5"), ("Ab", "50"), ("ZZ", "999"), ("BB", "x7"), ("", ""),
            ("AA", "7"), ("ZZ", "999")]
    return spark.createDataFrame(rows, "code string, n string")


def test_report_tables(df):
    t = reports.report_tables(df, SPEC)
    g = t["general"].collect()[0]
    assert g.total_rows == 7 and g.fields_checked == 2
    # violations: code: Ab,ZZ,'',ZZ = 4; n: 999,x7,'',999 = 4 → 8
    assert g.total_violations == 8

    rows = {(r.kind, r.key): r.rows for r in t["row_stats"].collect()}
    assert rows[("rows_per_valid_count", "2")] == 2   # (AA,5), (AA,7)
    assert rows[("rows_per_valid_count", "1")] == 2   # (Ab,50), (BB,x7)
    cs = {r.field: r for r in t["column_stats"].collect()}
    assert cs["code"].nulls == 1 and cs["code"].constraint_violations == 3
    assert cs["n"].dtype_violations == 1 and cs["n"].constraint_violations == 2

    corr = {(r.field, r.value): (r.suggestion, r.n_occurrences, r.violation)
            for r in t["corrections"].collect()}
    # Levenshtein repair: 'Ab' → 'AA' or 'BB'? dist(AB,AA)=1, dist(AB,BB)=1 → tie → AA
    assert corr[("code", "Ab")][0] == "AA" and corr[("code", "Ab")][1] == 1
    assert corr[("code", "ZZ")][1] == 2  # deduped with count
    assert ("n", "999") in corr


def test_corrected_csv_roundtrip(spark, df, tmp_path):
    out = str(tmp_path / "corrected")
    reports.write_corrected_csv(df, SPEC, out)
    back = csvsource.read_csv(spark, out + "/*.csv")
    got = {tuple(r) for r in back.collect()}
    # 'Ab' repaired to AA; ZZ/999/x7/'' nulled
    assert ("AA", "5") in got and ("AA", "7") in got
    assert ("AA", "50") in got          # Ab → AA, n=50 valid
    assert (None, None) in got          # the all-missing and unsalvageable rows
    assert not any(v == "ZZ" for v, _ in got)


def test_corrections_on_typed_input(spark):
    """Regression: a TYPED (bigint) field unioned with a string field must
    not coerce string values (ANSI union resolution) — found driving the
    CLI against parquet input."""
    df = spark.createDataFrame([("zz", 5), ("AA", 999)], "code string, n long")
    corr = reports.correction_suggestions(
        reports.ValidationPlan(SPEC).apply(df, derive=("status", "suggestion")), SPEC
    )
    got = {(r.field, r.value) for r in corr.collect()}
    assert ("code", "zz") in got and ("n", "999") in got


def test_write_report_parquet(spark, df, tmp_path):
    reports.write_report(df, SPEC, str(tmp_path / "rep"))
    cs = spark.read.parquet(str(tmp_path / "rep" / "column_stats"))
    assert {r.field for r in cs.collect()} == {"code", "n"}


def test_html_report_sections_and_values(df, tmp_path):
    # S8: HTML render of the metric tables (tablereport.py:161-181 section
    # structure: header, row completeness/validation stats with
    # percentages, column stats, cleaning suggestions)
    out = str(tmp_path / "report.html")
    reports.write_html_report(df, SPEC, out, dataset="mytable.csv",
                              source="/data/mytable.csv",
                              date_run="01/01/2024 10:00:00")
    html = open(out).read()
    for section in ["Quality Control Report", "Row statistics",
                    "Column statistics", "Cleaning suggestions"]:
        assert section in html
    assert "mytable.csv" in html and "01/01/2024 10:00:00" in html
    assert "<b>7</b>" in html            # total_rows
    # a row_stats percentage: 2 of 7 rows fully valid -> 28.57
    assert "28.57" in html
    # correction suggestion row rendered
    assert "Ab" in html and "AA" in html
    # deterministic: re-render without date equals itself
    t = reports.report_tables(df, SPEC)
    a = reports.render_html_report(t, "mytable.csv")
    b = reports.render_html_report(reports.report_tables(df, SPEC), "mytable.csv")
    assert a == b and "Run:" not in a


def test_xlsx_report_valid_ooxml(df, tmp_path):
    # S7: the four-sheet workbook written without openpyxl must be a valid
    # zip of OOXML parts with the right sheet set and cell values
    import zipfile
    import xml.etree.ElementTree as ET

    from dataqualitycontroltool_spark.sinks import xlsx

    out = str(tmp_path / "report.xlsx")
    xlsx.write_xlsx_report(df, SPEC, out, dataset="mytable.csv")
    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    with zipfile.ZipFile(out) as z:
        assert set(z.namelist()) >= {
            "[Content_Types].xml", "xl/workbook.xml",
            "xl/worksheets/sheet1.xml", "xl/worksheets/sheet4.xml"}
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        names = [s.get("name") for s in wb.findall(".//m:sheet", ns)]
        assert names == ["General", "Row Statistics", "Column Statistics",
                         "Cleaning suggestions"]
        s1 = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
        texts = [t.text for t in s1.findall(".//m:is/m:t", ns)]
        nums = [v.text for v in s1.findall(".//m:c[@t='']/m:v", ns)] or [
            v.text for c in s1.findall(".//m:c", ns) if c.get("t") is None
            for v in c.findall("m:v", ns)]
        assert "mytable.csv" in texts and "total_rows" in texts
        assert "7" in nums  # total_rows value
        s4 = ET.fromstring(z.read("xl/worksheets/sheet4.xml"))
        t4 = [t.text for t in s4.findall(".//m:is/m:t", ns)]
        assert "Ab" in t4 and "AA" in t4  # the Levenshtein repair pair


def test_xlsx_sheet_name_with_quote(tmp_path):
    import zipfile
    import xml.etree.ElementTree as ET

    from dataqualitycontroltool_spark.sinks import xlsx

    out = str(tmp_path / "q.xlsx")
    xlsx.write_xlsx({'Stats "2024"': [["a", 1]]}, out)
    with zipfile.ZipFile(out) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))  # must stay well-formed
        ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
        assert [s.get("name") for s in wb.findall(".//m:sheet", ns)] == ['Stats "2024"']


def test_html_report_empty_table(spark):
    # advice r3 (low): an EMPTY input table must still render a report —
    # the row-statistics percentage used to divide by total_rows=0 inside
    # Jinja and raise ZeroDivisionError
    empty = spark.createDataFrame([], "code string, n string")
    html = reports.render_html_report(
        reports.report_tables(empty, SPEC), "empty.csv")
    assert "Quality Control Report" in html
    assert "<b>0</b>" in html  # total_rows


def test_cache_contracts_leave_no_state(spark, df):
    # r2 verdict #5: profile_table / report_tables take the same
    # caller-owned cache= contract as simhash_pairs — with cache=False no
    # cached RDDs may remain after full evaluation
    from dataqualitycontroltool_spark.operators import profiler

    spark.catalog.clearCache()

    def persistent_ids():
        # snapshot-compare, not isEmpty: other tests in the shared session
        # may hold localCheckpoint RDDs that clearCache() never touches
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persistent_ids()
    t = reports.report_tables(df, SPEC, cache=False)
    base = {k: [tuple(r) for r in v.collect()] for k, v in t.items()}
    p = profiler.profile_table(df, SPEC, cache=False)
    for v in p.values():
        v.collect()
    assert persistent_ids() <= before
    # cached variant computes the same tables (then clean up)
    t2 = reports.report_tables(df, SPEC)
    assert {k: [tuple(r) for r in v.collect()] for k, v in t2.items()} == base
    spark.catalog.clearCache()


def _pdf_xref_offsets(data: bytes) -> list[int]:
    """Parse the xref table of a single-xref PDF; return in-use offsets."""
    at = data.rindex(b"startxref")
    xref_pos = int(data[at:].split()[1])
    assert data[xref_pos:xref_pos + 4] == b"xref"
    lines = data[xref_pos:].split(b"\n")
    first, count = (int(x) for x in lines[1].split())
    offsets = []
    for i, line in enumerate(lines[2:2 + count]):
        off, _gen, kind = line.split()
        if kind == b"n":
            offsets.append((first + i, int(off)))
    return offsets


def test_pdf_report_structure_and_content(df, tmp_path):
    # S8 (printpdf parity): the from-scratch PDF writer must produce a
    # structurally valid PDF 1.4 (header, xref offsets that land on their
    # objects, trailer) whose uncompressed content streams carry the same
    # sections as the HTML report
    from dataqualitycontroltool_spark.sinks import pdf

    out = str(tmp_path / "report.pdf")
    pdf.write_pdf_report(df, SPEC, out, dataset="mytable.csv",
                         source="/data/mytable.csv",
                         date_run="01/01/2024 10:00:00")
    data = open(out, "rb").read()
    assert data.startswith(b"%PDF-1.4")
    assert data.rstrip().endswith(b"%%EOF")
    offsets = _pdf_xref_offsets(data)
    assert len(offsets) >= 5  # catalog, pages, 2 fonts, >=1 page + stream
    for num, off in offsets:
        assert data[off:].startswith(b"%d 0 obj" % num)
    # content is uncompressed by design: sections and values are greppable
    for needle in [b"Quality Control Report", b"Row statistics",
                   b"Column statistics", b"Cleaning suggestions",
                   b"mytable.csv", b"01/01/2024 10:00:00", b"28.57"]:
        assert needle in data, needle
    # parenthesis escaping: the source path renders inside a literal string
    assert b"/data/mytable.csv" in data


def test_pdf_report_deterministic_and_empty(spark, df):
    from dataqualitycontroltool_spark.sinks import pdf

    t = reports.report_tables(df, SPEC)
    a = pdf.render_pdf_report(t, "mytable.csv")
    b = pdf.render_pdf_report(reports.report_tables(df, SPEC), "mytable.csv")
    assert a == b and b"Run:" not in a
    # empty input still renders (same guard as the HTML sink)
    empty = spark.createDataFrame([], "code string, n string")
    out = pdf.render_pdf_report(reports.report_tables(empty, SPEC), "e.csv")
    assert out.startswith(b"%PDF-1.4") and b"Quality Control Report" in out


def test_pdf_string_escaping_and_pagination():
    from dataqualitycontroltool_spark.sinks.pdf import _ReportLayout, _build_pdf

    lay = _ReportLayout()
    lay.text("paren (x) and \\backslash")
    for i in range(200):  # force >1 page
        lay.text(f"line {i}")
    data = _build_pdf(lay)
    assert b"paren \\(x\\) and \\\\backslash" in data
    assert data.count(b"/Type /Page ") >= 2
    for num, off in _pdf_xref_offsets(data):
        assert data[off:].startswith(b"%d 0 obj" % num)


def test_xlsx_report_bar_charts(df, tmp_path):
    # S7 charts (tablereport.py:239-260): two DrawingML bar charts anchored
    # on the Row Statistics sheet, ranges matching the sheet's data rows
    import zipfile
    import xml.etree.ElementTree as ET

    from dataqualitycontroltool_spark.sinks import xlsx

    out = str(tmp_path / "report.xlsx")
    xlsx.write_xlsx_report(df, SPEC, out, dataset="mytable.csv")
    ns_c = "{http://schemas.openxmlformats.org/drawingml/2006/chart}"
    ns_m = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    with zipfile.ZipFile(out) as z:
        names = set(z.namelist())
        assert {"xl/charts/chart1.xml", "xl/charts/chart2.xml",
                "xl/drawings/drawing1.xml",
                "xl/drawings/_rels/drawing1.xml.rels",
                "xl/worksheets/_rels/sheet2.xml.rels"} <= names
        # content types declare the chart/drawing parts
        ct = z.read("[Content_Types].xml").decode()
        assert "drawingml.chart+xml" in ct and "officedocument.drawing+xml" in ct
        # sheet2 carries the drawing hook and its rel resolves
        s2 = ET.fromstring(z.read("xl/worksheets/sheet2.xml"))
        assert s2.find("m:drawing", ns_m) is not None
        # count data rows per kind on the sheet itself
        texts = [t.text for t in s2.findall(".//m:is/m:t", ns_m)]
        n_hist = texts.count("rows_per_valid_count")
        n_band = texts.count("valid_pct_band")
        assert n_hist > 0 and n_band > 0
        c1 = ET.fromstring(z.read("xl/charts/chart1.xml"))
        val_ref = c1.find(f".//{ns_c}ser/{ns_c}val/{ns_c}numRef/{ns_c}f").text
        assert val_ref == f"'Row Statistics'!$C$2:$C${1 + n_hist}"
        cat_ref = c1.find(f".//{ns_c}ser/{ns_c}cat/{ns_c}strRef/{ns_c}f").text
        assert cat_ref == f"'Row Statistics'!$B$2:$B${1 + n_hist}"
        c2 = ET.fromstring(z.read("xl/charts/chart2.xml"))
        val2 = c2.find(f".//{ns_c}ser/{ns_c}val/{ns_c}numRef/{ns_c}f").text
        assert val2 == f"'Row Statistics'!$C${2 + n_hist}:$C${1 + n_hist + n_band}"
        # bar direction matches the reference's BarChart(type='bar')
        assert c1.find(f".//{ns_c}barDir").get("val") == "bar"
        # drawing references both charts
        rels = z.read("xl/drawings/_rels/drawing1.xml.rels").decode()
        assert "charts/chart1.xml" in rels and "charts/chart2.xml" in rels


def test_report_tables_header_mismatch(spark):
    # tablereport.py:207-208 parity: spec fields absent from the table are
    # reported as missing columns (and extra table columns as extra), not a
    # mid-aggregate AnalysisException; validation runs on the intersection
    df = spark.createDataFrame([("AA", "zz")], "code string, other string")
    t = reports.report_tables(df, SPEC, cache=False)
    g = t["general"].collect()[0]
    assert g.missing_columns == "n" and g.extra_columns == "other"
    assert g.fields_checked == 1 and g.total_violations == 0
    assert {r.field for r in t["column_stats"].collect()} == {"code"}

    # no overlap at all: degenerate but valid report (all four tables exist)
    t2 = reports.report_tables(
        spark.createDataFrame([("x",)], "unrelated string"), SPEC, cache=False)
    g2 = t2["general"].collect()[0]
    assert g2.missing_columns == "code,n" and g2.fields_checked == 0
    assert t2["corrections"].count() == 0 and t2["row_stats"].count() == 0
    from dataqualitycontroltool_spark.sinks import pdf
    assert b"%PDF-1.4" in pdf.render_pdf_report(t2, "t")[:8]


def test_write_report_with_missing_spec_field(spark, tmp_path):
    # review fix: write_report (which profiles via profile_table) must
    # tolerate spec fields absent from the table, same as report_tables
    df = spark.createDataFrame([("AA",)], "code string")
    reports.write_report(df, SPEC, str(tmp_path / "rep"))
    cs = spark.read.parquet(str(tmp_path / "rep" / "column_stats"))
    assert {r.field for r in cs.collect()} == {"code"}
    assert (tmp_path / "rep" / "profile_code").exists()
    assert not (tmp_path / "rep" / "profile_n").exists()
    spark.catalog.clearCache()  # caller-owned cache contract


def test_row_stats_sort_key_numeric_order():
    rows = [{"kind": "rows_per_valid_count", "key": str(k)}
            for k in (0, 1, 2, 10, 11)] + [
           {"kind": "valid_pct_band", "key": "75-99%"},
           {"kind": "valid_pct_band", "key": "100%"}]
    import random
    random.Random(1).shuffle(rows)
    got = [r["key"] for r in sorted(rows, key=reports.row_stats_sort_key)]
    # numeric keys numerically (0,1,2,10,11 — not 0,1,10,11,2), bands after
    assert got == ["0", "1", "2", "10", "11", "100%", "75-99%"]
