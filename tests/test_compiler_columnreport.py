"""Golden-parity tests for the validation-expression compiler.

Expected values transcribed from the reference's own test suite
(/root/reference/tests/test_columnreport.py) — per-row status buckets,
suggestion vectors, corrected vectors, and null accounting for the four
MIPTypes.  Row numbers there are 1-based file positions; here rows are keyed
by an explicit ``row`` column (Spark has no stable row order — SURVEY §7 risk 3).
"""

import pytest
from pyspark.sql import functions as F

from dataqualitycontroltool_spark.plans.compiler import ValidationPlan
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
        nulls=(4, 1),           # (not_nulls_total, nulls_total) pre-correction
        nulls_corrected=(5, 6),  # post-correction
    ),
    "numerical": dict(
        desc=NUMERICAL_DESC,
        values=NUMERICAL_VALUES,
        status=["constraint", "valid", "dtype", "dtype", "valid", "valid", "missing", "missing"],
        suggestion=[None] * 8,
        corrected=[None, "2.31", None, None, "4", "3.2", None, None],
        nulls=(3, 2),
        nulls_corrected=(3, 5),
    ),
    "date": dict(
        desc=DATE_DESC,
        values=DATE_VALUES,
        status=["valid", "dtype", "dtype", "dtype", "missing", "dtype", "dtype", "constraint"],
        suggestion=[None, "21/01/2013", "15/08/2012", "12/12/2001", None, None, None, None],
        corrected=["1/12/2019", "21/01/2013", "15/08/2012", "12/12/2001", None, None, None, None],
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
