"""CSV source tests: dialect sniffing (S1), BOM handling, header
sanitization (P6), ragged rows, and validation-plan integration."""

import codecs

import pytest
from pyspark.sql import functions as F

from dataqualitycontroltool_spark.plans.compiler import ValidationPlan
from dataqualitycontroltool_spark.sources import csvsource
from dataqualitycontroltool_spark.specs import TableSpec


@pytest.fixture()
def write(tmp_path):
    def _w(name, content, bom=False):
        p = tmp_path / name
        data = content.encode("utf-8")
        if bom:
            data = codecs.BOM_UTF8 + data
        p.write_bytes(data)
        return str(p)
    return _w


def test_sniff_comma_and_semicolon(write):
    pc = write("a.csv", "id,name\n1,x\n2,y\n")
    ps = write("b.csv", "id;name\n1;x\n2;y\n")
    assert csvsource.sniff_dialect(pc)["delimiter"] == ","
    assert csvsource.sniff_dialect(ps)["delimiter"] == ";"


def test_bom_stripped_from_header(write):
    p = write("bom.csv", "id,name\n1,x\n", bom=True)
    d = csvsource.sniff_dialect(p)
    assert d["encoding"] == "utf-8-sig"
    assert csvsource.read_headers(p, d) == ["id", "name"]


def test_read_csv_sanitizes_headers(spark, write):
    p = write("dirty.csv", "Patient ID,eye-color(left),id\n1,blue,9\n2,green,8\n")
    df = csvsource.read_csv(spark, p)
    assert df.columns == ["Patient_ID", "eye_color_left_", "id"]
    assert df.count() == 2
    assert dict(df.dtypes) == {c: "string" for c in df.columns}


def test_read_csv_duplicate_headers_suffixed(spark, write):
    p = write("dup.csv", "a,a,a-b,a b\n1,2,3,4\n")
    df = csvsource.read_csv(spark, p)
    # Spark's reader itself suffixes byte-identical duplicates (a -> a0, a1);
    # our _dedupe handles the collisions sanitization introduces (a-b vs a b)
    assert df.columns == ["a0", "a1", "a_b", "a_b_1"]


@pytest.mark.parametrize("content,bom,want", [
    ("a,a,a-b,a b\n1,2,3,4\n", False, ["a0", "a1", "a_b", "a_b_1"]),
    ("Name,name,NAME,x\n1,2,3,4\n", False, ["Name0", "name1", "NAME2", "x"]),
    (",b,,d\n1,2,3,4\n", False, ["_c0", "b", "_c2", "d"]),
    ("id,name,id\n1,2,3\n", True, ["id0", "name", "id2"]),
    ("\n  \nid,name\n1,2\n", False, ["id", "name"]),
], ids=["duplicate", "case_duplicate", "empty", "bom", "blank_lines"])
def test_read_csv_runs_no_job_and_names_like_spark(spark, write, content, bom, want):
    """The schema comes from the driver-side header row, so building the
    frame starts no Spark job.  The expected names are the ones Spark's own
    header inference gives these files (case-insensitive duplicates take
    their index, empty names become _c{i}, a BOM is stripped, leading blank
    lines are skipped), then sanitized and deduped."""
    p = write("h.csv", content, bom=bom)
    sc = spark.sparkContext
    group = "read_csv-no-job"
    sc.setJobGroup(group, "read_csv header")
    try:
        df = csvsource.read_csv(spark, p)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert df.columns == want
    assert [tuple(r) for r in df.collect()] == [tuple(str(i) for i in range(1, len(want) + 1))]


@pytest.mark.parametrize("content,sanitize,want", [
    ("a,a0,a,b\n1,2,3,4\n", True, ["a0", "a0_1", "a2", "b"]),
    ("a,a0,a,b\n1,2,3,4\n", False, ["a0", "a0_1", "a2", "b"]),
    ("A,a0,a,b\n1,2,3,4\n", True, ["A0", "a0_1", "a2", "b"]),
    ("a b,A-b\n1,2\n", True, ["a_b", "A_b_1"]),
], ids=["positional_collision", "positional_collision_raw", "case_collision",
        "sanitized_case_collision"])
def test_read_csv_name_collisions_get_unique_names(spark, write, content, sanitize, want):
    """Spark names a repeated header by position, which can collide with
    another header (a,a0,a → a0,a0,a2), and Spark resolves names
    case-insensitively: every such collision still reads, with names unique
    without regard to case."""
    df = csvsource.read_csv(spark, write("c.csv", content), sanitize_headers=sanitize)
    assert df.columns == want
    assert [tuple(r) for r in df.collect()] == [tuple(str(i) for i in range(1, len(want) + 1))]


def test_ragged_rows_permissive(spark, write):
    p = write("ragged.csv", "a,b,c\n1,2,3\n4,5\n6,7,8,9\n")
    df = csvsource.read_csv(spark, p)
    rows = [tuple(r) for r in df.orderBy("a").collect()]
    assert rows == [("1", "2", "3"), ("4", "5", None), ("6", "7", "8")]


def test_semicolon_csv_through_validation(spark, write):
    p = write("v.csv", "code;n\nAA;5\nZZ;999\n;\n")
    df = csvsource.read_csv(spark, p)
    spec = TableSpec.from_descriptor(
        {"fields": [
            {"name": "code", "type": "string", "MIPType": "nominal",
             "constraints": {"enum": ["AA", "BB"]}},
            {"name": "n", "type": "integer", "MIPType": "integer",
             "constraints": {"minimum": 0, "maximum": 100}},
        ], "missingValues": [""]}
    )
    out = ValidationPlan(spec).apply(df, derive=("status",))
    got = [(r["code__status"], r["n__status"]) for r in
           out.orderBy(F.col("code").asc_nulls_last()).collect()]
    assert got == [("valid", "valid"), ("constraint", "constraint"),
                   ("missing", "missing")]


def test_dcconnector_parse():
    """S10: pathologies/versions JSON parsing (offline half)."""
    from dataqualitycontroltool_spark.sources.dcconnector import parse_pathologies

    payload = [
        {"name": "dementia", "versions": [{"name": "v1"}, {"name": "v2"}]},
        {"name": "tbi", "versions": []},
        {"notname": "ignored"},
    ]
    assert parse_pathologies(payload) == {"dementia": ["v1", "v2"], "tbi": []}
    assert parse_pathologies('[{"name": "x", "versions": [{"name": "1"}]}]') == {"x": ["1"]}


def test_dc_tree_flattening(spark):
    """S3: Data-Catalogue tree (groups->variables) flattens to a frictionless
    descriptor that drives validation end to end."""
    from dataqualitycontroltool_spark.plans.compiler import ValidationPlan
    from dataqualitycontroltool_spark.specs import TableSpec, frictionless_from_dc

    dc = {
        "code": "root", "label": "Root",
        "variables": [
            {"code": "age", "label": "Age", "type": "int",
             "minValue": 0, "maxValue": 120},
        ],
        "groups": [
            {"code": "demo", "label": "Demographics",
             "variables": [
                 {"code": "gender", "label": "Gender", "type": "nominal",
                  "sql_type": "text",
                  "enumerations": [{"code": "M", "label": "male"},
                                   {"code": "F", "label": "female"}]},
             ],
             "groups": [
                 {"code": "inner",
                  "variables": [{"code": "score", "type": "real"}]},
             ]},
        ],
    }
    desc = frictionless_from_dc(dc)
    by_name = {f["name"]: f for f in desc["fields"]}
    assert set(by_name) == {"age", "gender", "score"}
    assert by_name["age"]["MIPType"] == "integer"
    assert by_name["age"]["constraints"] == {"minimum": 0, "maximum": 120}
    assert by_name["gender"]["constraints"]["enum"] == ["M", "F"]
    assert by_name["gender"]["conceptPath"] == "/root/demo/gender"
    assert by_name["score"]["conceptPath"] == "/root/demo/inner/score"

    spec = TableSpec.from_descriptor(desc)
    df = spark.createDataFrame(
        [("30", "M", "1.5"), ("200", "X", "bad")],
        "age string, gender string, score string",
    )
    out = ValidationPlan(spec).apply(df, derive=("status",)).collect()
    sts = [(r["age__status"], r["gender__status"], r["score__status"]) for r in out]
    assert ("valid", "valid", "valid") in sts
    assert ("constraint", "constraint", "dtype") in sts


def test_checkpoint_partition_pruning(spark, tmp_path):
    """The checkpoint orchestrator's per-partition read must prune at the
    file-listing level (PartitionFilters on part=) - at 10^12 rows reading
    the other partitions' files would dwarf the work."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    src = str(tmp_path / "p")
    spark.range(100).withColumn("part", (F.col("id") % 4).cast("int")) \
        .write.partitionBy("part").parquet(src)
    df = spark.read.parquet(src).where(F.col("part") == 2)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "part" in plan.split("PartitionFilters")[1][:80]
    assert df.count() == 25
