"""Profiler golden-parity tests.

Inputs are the reference's own fixture CSVs (read-only from
/root/reference/tests/test_datasets/); expected values transcribed from the
reference's test suite (tests/qctypes/test_{numerical,integer,nominal,date,text}.py).
"""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from dataqualitycontroltool_spark.operators import profiler
from dataqualitycontroltool_spark.operators.duplicates import duplicate_keys, flag_duplicates

FIX = "/root/reference/tests/test_datasets"
needs_fixtures = pytest.mark.skipif(
    not os.path.exists(FIX), reason="reference checkout not present"
)


def _load(spark, name):
    return spark.read.option("header", True).csv(f"{FIX}/{name}")


# test_numerical.py:85-101 goldens (rounded to 10 digits there; we assert 1e-6)
NUM_GOLDENS = {
    "Variable_1": dict(mean=-0.0227587041, std=0.9347881169, min=-2.2315064208,
                       max=3.0881165577, q1=-0.773279829, median=-0.0678199662,
                       q3=0.610162354, upperbound=2.7816056467,
                       lowerbound=-2.8271230549, outliers=1),
    "Variable_3": dict(mean=3.6610246582, std=2.6826183943, min=0.0189946653,
                       max=14.5695842802, q1=1.7913899685, median=2.9051041444,
                       q3=4.6617991592, upperbound=11.7088798411,
                       lowerbound=-4.3868305247, outliers=2),
}


@needs_fixtures
@pytest.mark.parametrize("col", list(NUM_GOLDENS))
def test_profile_numerical(spark, col):
    df = _load(spark, "random_numeric.csv").select(F.col(col).cast("double").alias(col))
    row = profiler.profile_numerical(df, col).first().asDict()
    g = NUM_GOLDENS[col]
    assert row["outliers"] == g.pop("outliers")
    for k, v in g.items():
        assert row[k] == pytest.approx(v, abs=1e-6), k


@needs_fixtures
def test_outlier_rows(spark):
    df = _load(spark, "random_numeric.csv").select(
        "Patient_id", F.col("Variable_3").cast("double").alias("v")
    )
    rows = profiler.outlier_rows(df, "v", "Patient_id").orderBy("v").collect()
    # golden outliersrows: rows 49 and 93 with values 14.5695842802 / 14.049638643
    assert [round(r["v"], 6) for r in rows] == [14.049639, 14.569584]


# test_integer.py:99-115 goldens
INT_GOLDENS = {
    "Variable_1": dict(mode=71, freq=9, min=36, max=87, q1=67, median=71, q3=77),
    "Variable_2": dict(mode=0, freq=86, min=0, max=0, q1=0, median=0, q3=0),
    "Variable_3": dict(mode=29, freq=13, min=9, max=30, q1=23, median=26, q3=29),
}


@needs_fixtures
@pytest.mark.parametrize("col", list(INT_GOLDENS))
def test_profile_integer(spark, col):
    df = (
        _load(spark, "integer.csv")
        .select(F.col(col).cast("long").alias(col))
        .where(F.col(col).isNotNull())
    )
    row = profiler.profile_integer(df, col).first().asDict()
    assert row == INT_GOLDENS[col]


# test_nominal.py:16-25 goldens
@needs_fixtures
def test_profile_nominal(spark):
    df = _load(spark, "nominal.csv")
    row = profiler.profile_nominal(df.where(F.col("Variable_1") != ""), "Variable_1").first()
    assert (row["top"], row["freq"]) == ("NL", 37)
    assert row["categories"] == "AD,MCI,NL"
    assert row["categories_num"] == 3
    row = profiler.profile_nominal(df.where(F.col("Variable_2") != ""), "Variable_2").first()
    assert (row["top"], row["freq"]) == ("2", 53)
    assert row["categories"] == "1,2"


# test_date.py:50-58 goldens
@needs_fixtures
def test_profile_date(spark):
    df = _load(spark, "dates.csv")
    d1 = df.select(F.try_to_date("Variable_1", "yyyy-M-d").alias("d")).where(F.col("d").isNotNull())
    row = profiler.profile_date(d1, "d").first()
    assert (row["mode"], row["freq"]) == (datetime.date(2001, 5, 31), 6)
    assert (row["min"], row["max"]) == (datetime.date(2001, 5, 31), datetime.date(2001, 6, 26))
    d2 = df.select(F.try_to_date("Variable_2", "d/M/yyyy").alias("d")).where(F.col("d").isNotNull())
    row = profiler.profile_date(d2, "d").first()
    assert (row["mode"], row["freq"]) == (datetime.date(2011, 6, 16), 2)
    assert (row["min"], row["max"]) == (datetime.date(1936, 6, 4), datetime.date(2019, 5, 31))


# test_text.py goldens (tie-breaks pinned to value order reproduce them exactly)
@needs_fixtures
def test_profile_text(spark):
    df = _load(spark, "text.csv")
    row = profiler.profile_text(df, "Variable_1").first()
    assert (row["top"], row["freq"], row["unique"]) == ("Germany", 17, 13)
    assert row["top5"] == "Germany,Italy,Netherlands,Denmark,Belgium"
    assert row["bottom5"] == "Austria,Albania,Ireland,Turkey,Spain"


def test_group_mode(spark):
    df = spark.createDataFrame(
        [("s1", "T1"), ("s1", "T1"), ("s1", "T2"), ("s2", "T2"), ("s2", "FLAIR"), ("s2", "T2")],
        "seq STRING, protocol STRING",
    )
    rows = {r["seq"]: (r["consensus"], r["freq"]) for r in profiler.group_mode(df, ["seq"], "protocol").collect()}
    assert rows == {"s1": ("T1", 2), "s2": ("T2", 2)}


def test_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b"), (3, "a"), (1, "b")], "sid INT, vid STRING"
    )
    dups = duplicate_keys(df, ["sid", "vid"]).collect()
    assert [(r["sid"], r["vid"], r["n_dups"]) for r in dups] == [(1, "a", 2)]
    flagged = flag_duplicates(df, ["sid", "vid"]).where("is_duplicate").count()
    assert flagged == 2  # keep=False semantics: both members flagged


def test_row_histograms(spark):
    flags = spark.createDataFrame([(4,), (4,), (2,), (0,)], "n_valid INT")
    hist = {r["n_valid"]: r["n_rows"] for r in profiler.rows_per_valid_count(flags).collect()}
    assert hist == {4: 2, 2: 1, 0: 1}
    buckets = {
        r["bucket"]: r["n_rows"]
        for r in profiler.quantile_bucket_stats(flags, "n_valid", total_cols=4).collect()
    }
    assert buckets == {"100%": 2, "50-74%": 1, "0-24%": 1}


def test_profile_numerical_approx_mode(spark):
    """The exact=False path (approx_percentile sketch for extreme scale)
    runs and lands near the exact quantiles."""
    from dataqualitycontroltool_spark.operators import profiler

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    exact = profiler.profile_numerical(li, "l_quantity").collect()[0]
    approx = profiler.profile_numerical(li, "l_quantity", exact=False).collect()[0]
    assert approx.mean == exact.mean and approx.min == exact.min
    for q in ("q1", "median", "q3"):
        assert abs(getattr(approx, q) - getattr(exact, q)) <= 2.0


def test_profile_table_dispatch(spark):
    """profile_table validates once and dispatches each field's profile by
    MIPType over the cast-valid values only."""
    from dataqualitycontroltool_spark.operators import profiler
    from dataqualitycontroltool_spark.specs import TableSpec

    spec = TableSpec.from_descriptor({"fields": [
        {"name": "lang", "type": "string", "MIPType": "nominal",
         "constraints": {"enum": ["en", "es", "de", "fr"]}},
        {"name": "n_chars", "type": "integer", "MIPType": "integer"},
        {"name": "source", "type": "string", "MIPType": "text"},
    ], "missingValues": [""]})
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    profs = profiler.profile_table(docs, spec)
    assert set(profs) == {"lang", "n_chars", "source"}
    lang = profs["lang"].collect()[0]
    assert lang.categories_num <= 4  # invalid values (zh, ...) excluded
    assert set(lang.categories.split(",")) <= {"en", "es", "de", "fr"}
    nc = profs["n_chars"].collect()[0]
    assert nc.min >= 0 and nc.q1 <= nc.median <= nc.q3 <= nc.max
    assert profs["source"].collect()[0].unique > 0


def test_unknown_quartile_strategy_raises(spark):
    # exact="distribued" (typo) must not silently bool() to the
    # single-reducer exact percentile path
    from dataqualitycontroltool_spark.operators import profiler

    df = spark.createDataFrame([(1.0,), (2.0,)], "x double")
    with pytest.raises(ValueError, match="distributed"):
        profiler.profile_numerical(df, "x", exact="distribued").collect()


def test_skew_report_hot_key(spark):
    from dataqualitycontroltool_spark.operators.profiler import skew_report
    rows = [(i, "hot" if i < 60 else f"k{i}") for i in range(100)]
    df = spark.createDataFrame(rows, ["id", "key"])
    out = skew_report(df, "key", top_k=3).collect()
    assert len(out) == 3
    top = out[0]
    assert top.key == "hot" and top.cnt == 60 and top.share == 0.6
    assert top.n_rows == 100 and top.n_keys == 41
    # hottest 60 vs uniform 100/41 -> factor 24.6
    assert top.skew_factor == round(60 * 41 / 100, 6)
    # ties among the 1-count keys break on key asc
    assert [r.key for r in out[1:]] == ["k60", "k61"]


def test_skew_report_null_keys_tiebreak(spark):
    from dataqualitycontroltool_spark.operators.profiler import skew_report
    rows = [(i, None if i % 2 else "a") for i in range(10)]
    df = spark.createDataFrame(rows, ["id", "key"])
    out = skew_report(df, "key", top_k=2).collect()
    # tie on cnt=5: real key sorts before NULL (NULLS LAST, matching oracle)
    assert [r.key for r in out] == ["a", None]
    r = out[0]
    assert r.skew_factor == 1.0  # 5 hottest vs 10/2 average


def test_distribution_drift_psi(spark):
    import math
    from dataqualitycontroltool_spark.operators.profiler import distribution_drift
    ref = spark.createDataFrame([(float(i % 10),) for i in range(100)], ["v"])
    same = spark.createDataFrame([(float(i % 10),) for i in range(50)], ["v"])
    out = distribution_drift(ref, same, "v", buckets=10).collect()
    assert all(r.psi_total == 0.0 for r in out)       # identical shape
    # shifted distribution drifts: mass moves to the top bucket
    shifted = spark.createDataFrame([(9.0,)] * 50, ["v"])
    d = {r.bucket: r for r in
         distribution_drift(ref, shifted, "v", buckets=10).collect()}
    assert d[9].cur_share == 1.0 and d[9].ref_share == 0.1
    want_term9 = round((1.0 - 0.1) * math.log(1.0 / 0.1), 6)
    assert d[9].psi_term == want_term9
    assert d[0].psi_total > 0.25                      # "drifted" threshold
    # values outside the reference range clamp to the edge buckets
    wild = spark.createDataFrame([(-100.0,), (1e6,)], ["v"])
    w = {r.bucket for r in
         distribution_drift(ref, wild, "v", buckets=10).collect()}
    assert {0, 9} <= w


def test_category_drift_new_category_lands_in_other(spark):
    import math
    from dataqualitycontroltool_spark.operators.profiler import category_drift
    ref = spark.createDataFrame([("a",)] * 6 + [("b",)] * 4, ["c"])
    cur = spark.createDataFrame([("a",)] * 3 + [("b",)] * 3 + [("zzz",)] * 4, ["c"])
    out = {r.category: r for r in category_drift(ref, cur, "c").collect()}
    assert out["a"].ref_share == 0.6 and out["a"].cur_share == 0.3
    # the unseen category folds into <other>, with the floored ref share
    assert out["<other>"].cur_share == 0.4 and out["<other>"].ref_share == 1e-6
    assert out["a"].psi_total > 0.25
    # NULL categories count into <other> too
    cur2 = spark.createDataFrame([("a", ), (None, )], ["c"])
    o2 = {r.category: r for r in category_drift(ref, cur2, "c").collect()}
    assert o2["<other>"].cur_share == 0.5


def test_category_drift_identical_is_zero(spark):
    from dataqualitycontroltool_spark.operators.profiler import category_drift
    ref = spark.createDataFrame([("x",)] * 5 + [("y",)] * 5, ["c"])
    out = category_drift(ref, ref, "c").collect()
    assert all(r.psi_total == 0.0 for r in out)


def test_distribution_drift_hardening(spark):
    from dataqualitycontroltool_spark.operators.profiler import distribution_drift
    ref = spark.createDataFrame([(float(i % 10),) for i in range(100)], ["v"])
    # extreme out-of-range current value: clamps, no ANSI overflow
    wild = spark.createDataFrame([(3.0e9,), (-3.0e9,)], ["v"])
    w = {r.bucket for r in distribution_drift(ref, wild, "v").collect()}
    assert {0, 9} <= w
    # NaN excluded on both sides instead of poisoning bounds/buckets
    nanref = spark.createDataFrame(
        [(float("nan"),)] + [(float(i % 10),) for i in range(100)], ["v"])
    nancur = spark.createDataFrame([(float("nan"),), (5.0,)], ["v"])
    d = {r.bucket: r for r in
         distribution_drift(nanref, nancur, "v").collect()}
    assert d[5].cur_share == 1.0 and d[0].ref_share == 0.1
    # constant reference: drift away from the constant registers
    const = spark.createDataFrame([(5.0,)] * 10, ["v"])
    moved = spark.createDataFrame([(500.0,)] * 10, ["v"])
    m = {r.bucket: r for r in distribution_drift(const, moved, "v").collect()}
    assert m[9].cur_share == 1.0 and m[0].psi_total > 0.25


def test_completeness_drift_detects_dropped_field(spark):
    from dataqualitycontroltool_spark.operators.profiler import completeness_drift
    ref = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0), (3, "z", 3.0), (4, "w", 4.0)],
        ["id", "s", "v"])
    cur = spark.createDataFrame(
        [(5, None, 5.0), (6, "", 6.0), (7, "q", None), (8, "r", 8.0)],
        "id long, s string, v double")
    out = {r.column: r for r in completeness_drift(ref, cur).collect()}
    assert out["id"].delta == 0.0
    assert out["s"].ref_filled == 1.0 and out["s"].cur_filled == 0.5
    assert out["s"].delta == -0.5            # NULL and blank both missing
    assert out["v"].delta == -0.25


def test_completeness_drift_edge_inputs(spark):
    from dataqualitycontroltool_spark.operators.profiler import completeness_drift
    ref = spark.createDataFrame([(1, "x")], ["id", "_total"])
    cur = spark.createDataFrame([(2, None)], "id long, _total string")
    # a user column named "_total" no longer collides with internals
    out = {r.column: r for r in completeness_drift(ref, cur).collect()}
    assert out["_total"].cur_filled == 0.0 and out["_total"].delta == -1.0
    # explicit empty column list is a no-op, not profile-everything
    assert completeness_drift(ref, cur, cols=[]).count() == 0
    # empty snapshot side yields 0.0 shares, not NULL
    empty = spark.createDataFrame([], "id long, _total string")
    e = {r.column: r for r in completeness_drift(ref, empty).collect()}
    assert e["id"].cur_filled == 0.0 and e["id"].delta == -1.0


def test_distribution_drift_empty_reference_raises(spark):
    """ADVICE r3: an empty / all-NULL reference must fail loudly, not
    silently report maximal drift against the 1e-6 floor."""
    import pytest as _pytest

    from dataqualitycontroltool_spark.operators.profiler import distribution_drift

    ref = spark.createDataFrame([(None,), (float("nan"),)], "x double")
    cur = spark.createDataFrame([(1.0,), (2.0,)], "x double")
    with _pytest.raises(ValueError, match="no usable"):
        distribution_drift(ref, cur, "x")


def test_reserved_column_guards_raise(spark):
    """ADVICE r3: operators creating _h/_shard/... temp columns must refuse
    input that already carries those names instead of silently destroying
    caller data."""
    import pytest as _pytest

    from dataqualitycontroltool_spark.graft.buckets import bucket_batches
    from dataqualitycontroltool_spark.operators import corpus
    from dataqualitycontroltool_spark.operators.export import shard_table

    df = spark.createDataFrame([(1, "en", "x")], "id long, lang string, _h string")
    with _pytest.raises(ValueError, match="reserved"):
        corpus.cap_per_group(df, "id", "lang", k=1)
    with _pytest.raises(ValueError, match="reserved"):
        shard_table(df, "id", 2)
    bdf = spark.createDataFrame(
        [(1, 512, 512, 7)], "image_id long, bucket_w int, bucket_h int, pos int"
    )
    with _pytest.raises(ValueError, match="reserved"):
        bucket_batches(bdf, batch_size=2)


def test_profile_table_fused_scan_shape(spark):
    """VERDICT r3 #5: the agg-able stats run in ONE wide pass + ONE outlier
    pass at call time; a numerical field's returned profile is pure
    literals (no source scan when collected)."""
    from dataqualitycontroltool_spark.operators import profiler
    from dataqualitycontroltool_spark.specs import TableSpec

    spec = TableSpec.from_descriptor({"fields": [
        {"name": "l_quantity", "type": "number", "MIPType": "numerical"},
        {"name": "l_extendedprice", "type": "number", "MIPType": "numerical"},
        {"name": "l_linenumber", "type": "integer", "MIPType": "integer"},
        {"name": "l_returnflag", "type": "string", "MIPType": "nominal",
         "constraints": {"enum": ["A", "N", "R"]}},
        {"name": "l_shipmode", "type": "string", "MIPType": "text"},
    ], "missingValues": [""]})
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")

    sc = spark.sparkContext

    def eager_jobs(group, s):
        sc.setJobGroup(group, "profile_table eager phase")
        try:
            p = profiler.profile_table(li, s, cache=False)
        finally:
            sc.setJobGroup(None, None)
        return p, len(sc.statusTracker().getJobIdsForGroup(group))

    small = TableSpec.from_descriptor(
        {"fields": [
            {"name": "l_quantity", "type": "number", "MIPType": "numerical"},
        ], "missingValues": [""]}
    )
    _, jobs_small = eager_jobs("fuse-test-small", small)
    profs, jobs_full = eager_jobs("fuse-test-full", spec)
    # the eager phase is one wide aggregate and one stacked distribution
    # query; AQE splits each into a few stage-jobs — but the count must be
    # ~CONSTANT in the number of fields, not ~4 jobs per field as before
    # the fuse (5 fields would read >= 10 here pre-fuse)
    assert jobs_full <= jobs_small + 2, (
        f"eager jobs grew with field count: {jobs_small} -> {jobs_full}"
    )

    # numerical profiles are literal rows: collecting them never rescans
    for n in ("l_quantity", "l_extendedprice"):
        plan = profs[n]._jdf.queryExecution().executedPlan().toString()
        assert "parquet" not in plan.lower()
        row = profs[n].collect()[0]
        assert row.q1 <= row.median <= row.q3
        assert row.outliers >= 0
    # fused results must equal the direct per-field operators bit-exactly
    # (review r4: Python round() vs F.round diverges on ~5% of values —
    # the numerical comparison below pins Spark HALF_UP rounding)
    sub = li.select(F.col("l_linenumber").cast("bigint").alias("l_linenumber"))
    direct = profiler.profile_integer(sub, "l_linenumber").collect()
    assert profs["l_linenumber"].collect() == direct
    for n in ("l_quantity", "l_extendedprice"):
        nsub = li.select(F.col(n).cast("double").alias(n))
        dnum = profiler.profile_numerical(nsub, n).collect()
        assert profs[n].collect() == dnum
