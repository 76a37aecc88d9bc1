"""``validate --clean`` from one cached validation pass: the profile table
equals the direct per-field profilers, and the CLI's sink sequence runs a
fixed job count plus one write per profile, over one cached frame, with
the date-suggestion UDF run once."""

import csv

from pyspark.sql import functions as F

from dataqualitycontroltool_spark.operators import profiler
from dataqualitycontroltool_spark.plans.compiler import ValidationPlan
from dataqualitycontroltool_spark.sinks import reports
from dataqualitycontroltool_spark.sources import csvsource
from dataqualitycontroltool_spark.specs import TableSpec

N = 24


def _pad(values, fill=""):
    return (values + [fill] * N)[:N]


# raw CSV cells per field; every column has N rows
COLUMNS = {
    # integer mode tie 9 vs 10 (3 each): the typed order picks 9, the
    # string order would pick "10"
    "n": _pad(["9", "10", "9", "10", "9", "10", "7", "7", "12", "3", "x",
               "4.5", "-2"]),
    # numerical with one outlier at threshold 3, a constraint violation,
    # a datatype violation
    "w": _pad([f"{1 + k / 10:.1f}" for k in range(20)] + ["100.0", "-1", "abc"]),
    # date mode tie between two dates: the smallest date wins; one cell in
    # another format goes through the date-suggestion UDF
    "d": _pad(["2020-01-02"] * 3 + ["2019-12-31"] * 3
              + ["2021-05-05", "02/01/2020", "1800-01-01"]),
    # nominal tie a/b, a constraint violation repaired by Levenshtein
    "s": _pad(["b"] * 5 + ["a"] * 5 + ["c", "zz", "B"]),
    # text with count ties inside and across the top-5 / bottom-5 cuts
    "t": _pad(["alpha"] * 3 + ["beta"] * 3 + ["gamma"] * 2 + ["delta"] * 2
              + ["eps"] * 2 + ["zeta", "eta", "theta", "iota"]),
    # boolean nominal
    "flag": _pad(["1", "0", "1", "yes", "0", "1"]),
    # one distinct value per row: every count ties, the typed order picks
    # 8 where the string order would pick "10"
    "id": [str(k) for k in range(8, 8 + N)],
    # an integer field without one valid value: an empty profile
    "none": _pad([], "x"),
}

FIELDS = [
    {"name": "n", "type": "integer", "MIPType": "integer"},
    {"name": "w", "type": "number", "MIPType": "numerical",
     "constraints": {"minimum": 0}},
    {"name": "d", "type": "date", "format": "%Y-%m-%d", "MIPType": "date",
     "constraints": {"minimum": "1900-01-01"}},
    {"name": "s", "type": "string", "MIPType": "nominal",
     "constraints": {"enum": ["a", "b", "c"]}},
    {"name": "t", "type": "string", "MIPType": "text"},
    {"name": "flag", "type": "boolean", "MIPType": "nominal"},
    {"name": "id", "type": "integer", "MIPType": "integer"},
    {"name": "none", "type": "integer", "MIPType": "integer"},
]

DIRECT = {
    "integer": profiler.profile_integer,
    "numerical": profiler.profile_numerical,
    "date": profiler.profile_date,
    "nominal": profiler.profile_nominal,
    "text": profiler.profile_text,
}


def _spec(fields):
    return TableSpec.from_descriptor({"fields": fields, "missingValues": [""]})


def _write_csv(path, columns):
    with open(path, "w", newline="", encoding="utf-8") as fh:
        wr = csv.writer(fh, lineterminator="\n")
        wr.writerow(list(columns))
        wr.writerows(zip(*columns.values()))


def test_profile_table_equals_direct_profilers(spark):
    spec = _spec(FIELDS)
    df = spark.createDataFrame(list(zip(*COLUMNS.values())), list(COLUMNS))
    validated = ValidationPlan(spec).apply(df, derive=("cast",))
    profs = profiler.profile_table(df, spec, cache=False)
    assert set(profs) == set(COLUMNS)
    for f in spec.fields:
        sub = validated.where(F.col(f"{f.name}__cast").isNotNull()).select(
            F.col(f"{f.name}__cast").alias(f.name))
        direct = DIRECT[f.miptype](sub, f.name)
        assert profs[f.name].schema.simpleString() == direct.schema.simpleString(), f.name
        assert profs[f.name].collect() == direct.collect(), f.name
    # the ties the comparison covers, spelled out
    assert profs["n"].first()["mode"] == 9
    assert str(profs["d"].first()["mode"]) == "2019-12-31"
    assert profs["s"].first()["top"] == "a"
    assert profs["w"].first()["outliers"] == 1
    text = profs["t"].first()
    assert text["top5"] == "alpha,beta,delta,eps,gamma"
    assert text["bottom5"] == "eta,iota,theta,zeta,delta"
    assert profs["id"].first()["mode"] == 8
    assert profs["none"].count() == 0


def _ran_udf_executions(spark, after: int) -> int:
    """SQL executions after id ``after`` whose ArrowEvalPython node produced
    rows.  A plan that reads the cached frame also shows the cached plan's
    ArrowEvalPython, but with no rows of its own."""
    store = spark._jsparkSession.sharedState().statusStore()
    ran = 0
    it = store.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        if e.executionId() <= after:
            continue
        values = store.executionMetrics(e.executionId())
        nodes = store.planGraph(e.executionId()).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if not node.name().startswith("ArrowEvalPython"):
                continue
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined() \
                        and v.get().replace(",", "") != "0":
                    ran += 1
    return ran


def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    last = -1
    while it.hasNext():
        last = max(last, it.next().executionId())
    return last


def _sink_sequence(spark, tmp_path, tag, columns, fields):
    """The CLI's ``validate --clean`` sinks under one job group; returns
    (jobs, persistent RDDs it left, executions that ran the UDF, outdir)."""
    path = str(tmp_path / f"{tag}.csv")
    _write_csv(path, columns)
    spec = _spec(fields)
    out = str(tmp_path / f"{tag}-out")
    sc = spark.sparkContext
    spark.catalog.clearCache()
    df = csvsource.read_csv(spark, path)
    first = _last_execution_id(spark)
    persisted = _persistent_rdd_ids(spark)
    group = f"validate-one-pass-{tag}"
    sc.setJobGroup(group, "validate sink sequence")
    try:
        tables = reports.report_tables(df, spec)
        reports.write_report(df, spec, out, tables=tables)
        reports.write_corrected_csv(df, spec, f"{out}/corrected_csv")
    finally:
        sc.setJobGroup(None, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    persistent = len(_persistent_rdd_ids(spark) - persisted)
    ran = _ran_udf_executions(spark, first)
    spark.catalog.clearCache()
    return jobs, persistent, ran, out


def test_sink_sequence_jobs_and_shared_cache(spark, tmp_path):
    jobs, persistent, ran, out = _sink_sequence(spark, tmp_path, "single", COLUMNS, FIELDS)
    # 16 fixed jobs (report_tables 3, the four table writes 5, profile_table
    # 7, the corrected CSV 1) and one write per profile
    assert jobs <= 16 + len(FIELDS), jobs
    assert persistent == 1, persistent
    assert ran == 1, ran
    # the outputs are all there
    for name in ("general", "row_stats", "column_stats", "corrections",
                 *[f"profile_{f['name']}" for f in FIELDS]):
        assert spark.read.parquet(f"{out}/{name}").columns, name
    assert spark.read.parquet(f"{out}/profile_none").count() == 0
    back = csvsource.read_csv(spark, f"{out}/corrected_csv/*.csv")
    assert back.count() == N

    # the same fields twice over: only the added profile writes follow
    doubled = {**COLUMNS, **{f"{k}_2": v for k, v in COLUMNS.items()}}
    fields2 = FIELDS + [{**f, "name": f"{f['name']}_2"} for f in FIELDS]
    jobs2, persistent2, ran2, _ = _sink_sequence(spark, tmp_path, "doubled", doubled, fields2)
    assert jobs2 <= jobs + len(FIELDS), (jobs, jobs2)
    assert (persistent2, ran2) == (1, 1)


def test_profile_ranks_trimmed_before_shuffle(spark):
    """The distribution query ranks with a lone row_number <= 5 per
    (field, ranking), which Spark plans as a partial WindowGroupLimit
    before the shuffle: no task receives a field's whole distinct set."""
    spec = _spec(FIELDS)
    df = spark.createDataFrame(list(zip(*COLUMNS.values())), list(COLUMNS))
    first = _last_execution_id(spark)
    profiler.profile_table(df, spec, cache=False)
    store = spark._jsparkSession.sharedState().statusStore()
    plans = []
    it = store.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        if e.executionId() > first:
            plans.append(e.physicalPlanDescription())
    ranked = [p for p in plans if "row_number()" in p]
    assert len(ranked) == 1, len(ranked)
    assert "WindowGroupLimit" in ranked[0] and "Partial" in ranked[0]


def test_failed_profile_write_lets_the_others_finish(spark, tmp_path, monkeypatch):
    """``write_report``'s writes run concurrently: two failing profile
    writes stop no other write, and once all have finished the first
    failure in submission order (tables, then profiles in field order) is
    raised."""
    import pytest

    spec = _spec(FIELDS)
    df = spark.createDataFrame(list(zip(*COLUMNS.values())), list(COLUMNS))
    real = profiler.profile_table

    def failing(*args, **kwargs):
        profiles = real(*args, **kwargs)
        for name in ("w", "t"):  # field order: w before t
            profiles[name] = profiles[name].where(
                F.raise_error(F.lit(f"injected failure in {name}")).isNull())
        return profiles

    monkeypatch.setattr(profiler, "profile_table", failing)
    out = tmp_path / "out"
    for _ in range(2):
        with pytest.raises(Exception, match="injected failure in w"):
            reports.write_report(df, spec, str(out))
    spark.catalog.clearCache()
    written = {"general", "row_stats", "column_stats", "corrections",
               *[f"profile_{f['name']}" for f in FIELDS if f["name"] not in ("w", "t")]}
    for name in written:
        assert (out / name / "_SUCCESS").exists(), name
    assert not (out / "profile_w" / "_SUCCESS").exists()
    assert not (out / "profile_t" / "_SUCCESS").exists()


def test_write_report_jobs_carry_the_callers_job_group(spark, tmp_path):
    """Every job ``write_report`` runs, on its pool threads included,
    belongs to the caller's job group."""
    spec = _spec(FIELDS)
    df = spark.createDataFrame(list(zip(*COLUMNS.values())), list(COLUMNS))
    sc = spark.sparkContext
    tables = reports.report_tables(df, spec)
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    group = "write-report-group"
    sc.setJobGroup(group, "write_report")
    try:
        reports.write_report(df, spec, str(tmp_path / "out"), tables=tables)
    finally:
        sc.setJobGroup(None, None)
    spark.catalog.clearCache()
    # the tracker keeps only the latest jobs, so older ungrouped ids may
    # have dropped out; none may have been added
    assert not set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped
    # one write per table and per profile, and profile_table's queries
    assert len(sc.statusTracker().getJobIdsForGroup(group)) > 4 + len(FIELDS)
