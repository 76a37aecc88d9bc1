"""Golden-parity tests for the validation-expression compiler.

Expected values transcribed from the reference's own test suite
(/root/reference/tests/test_columnreport.py) — per-row status buckets,
suggestion vectors, corrected vectors, and null accounting for the four
MIPTypes.  Row numbers there are 1-based file positions; here rows are keyed
by an explicit ``row`` column (Spark has no stable row order — SURVEY §7 risk 3).
"""

import datetime

import pytest
from pyspark.sql import functions as F, types as T

from dataqualitycontroltool_spark.operators import profiler
from dataqualitycontroltool_spark.plans.compiler import FieldPlan, ValidationPlan
from dataqualitycontroltool_spark.sinks import reports
from dataqualitycontroltool_spark.sources import csvsource
from dataqualitycontroltool_spark.specs import TableSpec

INTEGER_DESC = {
    "name": "v",
    "type": "integer",
    "MIPType": "integer",
    "constraints": {"minimum": 3, "maximum": 5},
}
NUMERICAL_DESC = {
    "name": "v",
    "type": "number",
    "MIPType": "numerical",
    "constraints": {"minimum": 0, "maximum": 10},
}
DATE_DESC = {
    "name": "v",
    "type": "date",
    "format": "%d/%m/%Y",
    "MIPType": "date",
    "constraints": {"minimum": "1/1/1900"},
}
NOMINAL_DESC = {
    "name": "v",
    "type": "string",
    "MIPType": "nominal",
    "constraints": {"enum": ["Category1", "Category2", "Another3"]},
}

INTEGER_VALUES = ["1", "3", "3", "2", "5", "4", "2.5", "", "not_int", "20191212", "5.6"]
NUMERICAL_VALUES = ["-0.12", "2.31", "not_num", "21/12/2019", "4", "3.2", "", ""]
DATE_VALUES = ["1/12/2019", "1-21-2013", "15 Aug 2012", "20011212", "", "31", "not_date", "1/1/1880"]
NOMINAL_VALUES = ["cAtegory1", "not_value", "Category1", "Category2", "anoter1", "", "", "Category2", "CATEGOR2"]

# per-row golden outcomes derived from reference test_columnreport.py goldens
CASES = {
    "integer": dict(
        desc=INTEGER_DESC,
        values=INTEGER_VALUES,
        status=["constraint", "valid", "valid", "constraint", "valid", "valid",
                "dtype", "missing", "dtype", "constraint", "dtype"],
        suggestion=[None, None, None, None, None, None, None, None, None, None, "5"],
        corrected=[None, "3", "3", None, "5", "4", None, None, None, None, "5"],
        cast=[None, 3, 3, None, 5, 4, None, None, None, None, None],
        cast_type="bigint",
        nulls=(4, 1),           # (not_nulls_total, nulls_total) pre-correction
        nulls_corrected=(5, 6),  # post-correction
    ),
    "numerical": dict(
        desc=NUMERICAL_DESC,
        values=NUMERICAL_VALUES,
        status=["constraint", "valid", "dtype", "dtype", "valid", "valid", "missing", "missing"],
        suggestion=[None] * 8,
        corrected=[None, "2.31", None, None, "4", "3.2", None, None],
        cast=[None, 2.31, None, None, 4.0, 3.2, None, None],
        cast_type="double",
        nulls=(3, 2),
        nulls_corrected=(3, 5),
    ),
    "date": dict(
        desc=DATE_DESC,
        values=DATE_VALUES,
        status=["valid", "dtype", "dtype", "dtype", "missing", "dtype", "dtype", "constraint"],
        suggestion=[None, "21/01/2013", "15/08/2012", "12/12/2001", None, None, None, None],
        corrected=["1/12/2019", "21/01/2013", "15/08/2012", "12/12/2001", None, None, None, None],
        cast=[datetime.date(2019, 12, 1)] + [None] * 7,
        cast_type="date",
        nulls=(1, 1),
        nulls_corrected=(4, 4),
    ),
    "nominal": dict(
        desc=NOMINAL_DESC,
        values=NOMINAL_VALUES,
        status=["constraint", "constraint", "valid", "valid", "constraint",
                "missing", "missing", "valid", "constraint"],
        suggestion=["Category1", None, None, None, "Another3", None, None, None, "Category2"],
        corrected=["Category1", None, "Category1", "Category2", "Another3",
                   None, None, "Category2", "Category2"],
        cast=[None, None, "Category1", "Category2", None, None, None, "Category2", None],
        cast_type="string",
        nulls=(3, 2),
        nulls_corrected=(6, 3),
    ),
}


def _validated(spark, case):
    spec = TableSpec.from_descriptor({"fields": [case["desc"]], "missingValues": [""]})
    df = spark.createDataFrame(
        [(i + 1, v) for i, v in enumerate(case["values"])], "row INT, v STRING"
    )
    plan = ValidationPlan(spec)
    return plan, plan.apply(df).orderBy("row")


@pytest.mark.parametrize("name", list(CASES))
def test_status_suggestion_corrected(spark, name):
    case = CASES[name]
    _, out = _validated(spark, case)
    rows = out.collect()
    assert [r["v__status"] for r in rows] == case["status"]
    assert [r["v__suggestion"] for r in rows] == case["suggestion"]
    assert [r["v__corrected"] for r in rows] == case["corrected"]


@pytest.mark.parametrize("name", list(CASES))
def test_apply_schema_and_rows(spark, name):
    """The whole output of ``apply``, cast column, types and nullability
    included, as the Column-built compiler produced it."""
    case = CASES[name]
    _, out = _validated(spark, case)
    assert out.schema.simpleString() == (
        "struct<row:int,v:string,v__status:string,"
        f"v__cast:{case['cast_type']},v__suggestion:string,v__corrected:string>")
    assert [f.nullable for f in out.schema.fields] == [True, True, False, True, True, True]
    assert [tuple(r) for r in out.collect()] == list(zip(
        range(1, len(case["values"]) + 1), case["values"], case["status"],
        case["cast"], case["suggestion"], case["corrected"]))


@pytest.mark.parametrize("name", list(CASES))
def test_column_methods_wrap_the_same_text(spark, name):
    """``FieldPlan``'s Column-taking methods wrap the SQL text ``apply``
    projects, the date-suggestion UDF included, so they give its values
    over any raw Column (``cast`` types every castable cell; ``apply``
    keeps the valid ones)."""
    case = CASES[name]
    fp = FieldPlan(TableSpec.from_descriptor(
        {"fields": [case["desc"]], "missingValues": [""]}).fields[0])
    df = spark.createDataFrame(
        [(i + 1, v) for i, v in enumerate(case["values"])], "row INT, v STRING")
    v = F.col("v")
    rows = df.select("row", fp.status(v), fp.cast(v), fp.suggestion(v),
                     fp.corrected(v)).orderBy("row").collect()
    assert [(r[1], r[3], r[4]) for r in rows] == list(zip(
        case["status"], case["suggestion"], case["corrected"]))
    assert [r[2] for r in rows if r[1] == "valid"] == [
        c for c, st in zip(case["cast"], case["status"]) if st == "valid"]


# a spec shaped like the benchmark's validate table: one field per MIPType,
# bounds on integer/numerical/date, an enum
SIX_FIELDS = {
    "fields": [
        {"name": "id", "type": "integer", "MIPType": "integer"},
        {"name": "age", "type": "integer", "MIPType": "integer",
         "constraints": {"minimum": 0, "maximum": 120}},
        {"name": "weight", "type": "number", "MIPType": "numerical",
         "constraints": {"minimum": 0, "maximum": 500}},
        {"name": "sex", "type": "string", "MIPType": "nominal",
         "constraints": {"enum": ["M", "F"]}},
        {"name": "visit_date", "type": "date", "format": "%d/%m/%Y", "MIPType": "date",
         "constraints": {"minimum": "01/01/1990", "maximum": "31/12/2025"}},
        {"name": "note", "type": "string", "MIPType": "text"},
    ],
    "missingValues": [""],
}


def test_apply_py4j_round_trips(spark, monkeypatch):
    """Building the validation plan is driver work: the projections are
    SQL text the JVM parses, so one ``apply`` over six fields stays within
    300 py4j round trips (a plan built of Column objects needs ~3,500)."""
    from py4j.java_gateway import GatewayClient

    spec = TableSpec.from_descriptor(SIX_FIELDS)
    df = spark.createDataFrame([("",) * 6], ", ".join(f"{f.name} string" for f in spec.fields))
    real = GatewayClient.send_command
    calls = []

    def counting(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    ValidationPlan(spec).apply(df)
    monkeypatch.undo()
    assert 0 < len(calls) <= 300, len(calls)


def test_date_suggestion_udf_sees_only_dtype_violations(spark):
    """The date-suggestion pandas UDF runs in an unconditional
    ArrowEvalPython node, so its input must be nulled for every cell that
    is not a dtype violation: valid, missing and constraint-violating cells
    then reach Python as nulls instead of being parsed."""
    import re

    _, out = _validated(spark, CASES["date"])
    executed = out._jdf.queryExecution().executedPlan().toString()
    udf_nodes = [ln for ln in executed.splitlines() if "ArrowEvalPython" in ln]
    assert len(udf_nodes) == 1, executed
    assert re.search(r"suggest\(CASE WHEN .* THEN v#\d+ END\)", udf_nodes[0]), udf_nodes[0]


@pytest.mark.parametrize("name", list(CASES))
def test_null_accounting(spark, name):
    """columnreport.py nulls_total/not_nulls_total goldens, pre/post correction."""
    case = CASES[name]
    plan, out = _validated(spark, case)
    not_nulls, nulls = case["nulls"]
    agg = out.agg(
        F.sum((F.col("v__status") == "valid").cast("long")).alias("ok"),
        F.sum((F.col("v__status") == "missing").cast("long")).alias("na"),
    ).first()
    assert (agg["ok"], agg["na"]) == (not_nulls, nulls)

    # post-correction accounting: corrected non-null = not_nulls, null = nulls
    cn, cnn = case["nulls_corrected"]
    agg2 = out.agg(
        F.sum(F.col("v__corrected").isNotNull().cast("long")).alias("ok"),
        F.sum(F.col("v__corrected").isNull().cast("long")).alias("na"),
    ).first()
    assert (agg2["ok"], agg2["na"]) == (cn, cnn)


def test_value_range(spark):
    """min/max of valid casted values (test_columnreport.py test_value_range)."""
    plan, out = _validated(spark, CASES["integer"])
    r = out.agg(F.min("v__cast"), F.max("v__cast")).first()
    assert list(r) == [3, 5]
    plan, out = _validated(spark, CASES["numerical"])
    r = out.agg(F.min("v__cast"), F.max("v__cast")).first()
    assert list(r) == [2.31, 4.0]


def test_summary(spark):
    case = CASES["integer"]
    plan, out = _validated(spark, case)
    row = plan.summary(out).first()
    assert row["field"] == "v"
    assert row["nulls"] == 1
    assert row["valid"] == 4
    assert row["dtype_violations"] == 3
    assert row["constraint_violations"] == 3
    assert row["total_rows"] == 11


def test_lint_enums():
    """P7 enum sanity: SQL keywords and digit-led values are flagged."""
    from dataqualitycontroltool_spark.specs import TableSpec, lint_enums

    spec = TableSpec.from_descriptor({"fields": [
        {"name": "a", "type": "string", "MIPType": "nominal",
         "constraints": {"enum": ["ok", "SELECT", "2fast", "fine"]}},
        {"name": "b", "type": "string", "MIPType": "nominal",
         "constraints": {"enum": ["x", "y"]}},
        {"name": "c", "type": "string", "MIPType": "text"},
    ]})
    assert lint_enums(spec) == {"a": ["SELECT", "2fast"]}


@pytest.mark.parametrize("name", ["visit date", "o'brien", "a.b", "we`ird"])
def test_names_and_literals_are_quoted(spark, tmp_path, name):
    """Field names holding a space, a quote, a dot or a backtick, and enum,
    missing-value and unit-suffix literals holding ``'`` and ``\\``, reach
    the SQL text quoted: validation, its summary, the report tables, the
    profiles and the corrected CSV all read them as written.  The suffix
    also checks that the ``\\d`` of the value regex survives."""
    names = [name, f"{name} enum", f"{name} date"]
    columns = [
        ["13(o'c\\m)", "2(o'c\\m)", "13", "n'a", "\\N", "5.6"],
        ["it's", "C:\\d", "its", "C:d", "", "zzzzzz"],
        ["2020-01-02", "02/01/2020", "1800-01-01", "", "x", "2021-05-05"],
    ]
    spec = TableSpec.from_descriptor({"fields": [
        {"name": names[0], "type": "integer", "MIPType": "integer",
         "suffix": "(o'c\\m)", "constraints": {"minimum": 3}},
        {"name": names[1], "type": "string", "MIPType": "nominal",
         "constraints": {"enum": ["it's", "C:\\d"]}},
        {"name": names[2], "type": "date", "format": "%Y-%m-%d", "MIPType": "date",
         "constraints": {"minimum": "1900-01-01"}},
    ], "missingValues": ["", "n'a", "\\N"]})
    schema = T.StructType([T.StructField("row", T.IntegerType())]
                          + [T.StructField(n, T.StringType()) for n in names])
    df = spark.createDataFrame([(i, *cells) for i, cells in enumerate(zip(*columns))], schema)
    expected = {
        names[0]: (["valid", "constraint", "dtype", "missing", "missing", "dtype"],
                   [None, None, "13", None, None, "5"],
                   ["13(o'c\\m)", None, "13", None, None, "5"]),
        names[1]: (["valid", "valid", "constraint", "constraint", "missing", "constraint"],
                   [None, None, "it's", "C:\\d", None, None],
                   ["it's", "C:\\d", "it's", "C:\\d", None, None]),
        names[2]: (["valid", "dtype", "constraint", "missing", "dtype", "valid"],
                   [None, "2020-01-02", None, None, None, None],
                   ["2020-01-02", "2020-01-02", None, None, None, "2021-05-05"]),
    }
    plan = ValidationPlan(spec)
    rows = plan.apply(df).orderBy("row").collect()
    for n, (status, suggestion, corrected) in expected.items():
        assert [r[f"{n}__status"] for r in rows] == status, n
        assert [r[f"{n}__suggestion"] for r in rows] == suggestion, n
        assert [r[f"{n}__corrected"] for r in rows] == corrected, n
    assert [r[f"{name}__cast"] for r in rows] == [13, None, None, None, None, None]

    counts = {n: tuple(status.count(s) for s in ("missing", "valid", "dtype", "constraint"))
              for n, (status, _, _) in expected.items()}
    summary = {r["field"]: tuple(r)[1:5] for r in plan.summary(plan.apply(df)).collect()}
    assert summary == counts
    assert [r.n_valid for r in plan.row_flags(plan.apply(df)).orderBy("row").collect()] \
        == [3, 1, 0, 0, 0, 1]

    tables = reports.report_tables(df, spec, cache=False)
    assert {r["field"]: tuple(r)[1:5] for r in tables["column_stats"].collect()} == counts
    assert {(r.field, r.value, r.suggestion) for r in tables["corrections"].collect()} == {
        (names[0], "2(o'c\\m)", None), (names[0], "13", "13"), (names[0], "5.6", "5"),
        (names[1], "its", "it's"), (names[1], "C:d", "C:\\d"), (names[1], "zzzzzz", None),
        (names[2], "02/01/2020", "2020-01-02"), (names[2], "1800-01-01", None),
        (names[2], "x", None),
    }
    profiles = profiler.profile_table(df, spec, cache=False)
    assert profiles[names[0]].first()["mode"] == 13
    assert profiles[names[1]].first()["categories"] == "C:\\d,it's"
    assert str(profiles[names[2]].first()["min"]) == "2020-01-02"

    out = str(tmp_path / "corrected")
    reports.write_corrected_csv(df, spec, out)
    back = csvsource.read_csv(spark, f"{out}/*.csv", sanitize_headers=False)
    assert back.columns == ["row", *names]
    got = back.orderBy(F.col("row").cast("int")).collect()
    for n, (_, _, corrected) in expected.items():
        assert [r[n] for r in got] == corrected, n
