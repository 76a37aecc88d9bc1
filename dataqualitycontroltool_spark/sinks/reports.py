"""Validation-report sinks — the reference's Excel/PDF report re-expressed
as metric-table DataFrames written to parquet, plus the corrected-CSV sink.

Reference sheets (`/root/reference/mipqctool/controller/tablereport.py:183-320`
``printexcel``: General, Row Statistics, Column Statistics, Cleaning
suggestions; `:151-159` ``save_corrected``): the *metrics* are the contract,
the spreadsheet rendering is presentation (out of scope per SURVEY §2.1 S7).
Every table is a small aggregate of the single-pass validated DataFrame —
compute once (`ValidationPlan.apply`, cached), derive all four tables, the
profiles and the corrected CSV from it.  Like the compiler, the sinks build
their projections and aggregates as SQL text, every name through
``quote_ident``."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dataqualitycontroltool_spark.operators import profiler
from dataqualitycontroltool_spark.plans.compiler import (
    STATUS_CONSTRAINT,
    STATUS_DTYPE,
    ValidationPlan,
    quote_ident,
    sql_literal,
)
from dataqualitycontroltool_spark.session import concurrent_jobs
from dataqualitycontroltool_spark.specs import TableSpec


def correction_suggestions(validated: DataFrame, spec: TableSpec) -> DataFrame:
    """'Cleaning suggestions' sheet: per field, each DISTINCT violated raw
    value with its suggested replacement and occurrence count
    (tablereport.py:290-320).  Every field's cells are stacked as
    (field, value, suggestion, violation) and counted by ONE groupBy — the
    distinct violated-value domain is small even when violations are many."""
    # values cast to string BEFORE stacking: fields have heterogeneous types
    cells = ", ".join(
        f"named_struct('field', {sql_literal(f.name)}, "
        f"'value', CAST({quote_ident(f.name)} AS STRING), "
        f"'suggestion', CAST({quote_ident(f'{f.name}__suggestion')} AS STRING), "
        f"'violation', {quote_ident(f'{f.name}__status')})"
        for f in spec.fields
    )
    return (
        validated.selectExpr(f"inline(array({cells}))")
        .where(F.col("violation").isin(STATUS_DTYPE, STATUS_CONSTRAINT))
        .groupBy("field", "value", "suggestion", "violation")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )


# columns of the literal report tables
_GENERAL = ("total_rows bigint, total_columns int, fields_checked int, "
            "total_violations bigint, missing_columns string, extra_columns string")
_ROW_STATS = "key string, kind string, rows bigint"
_COLUMN_STATS = ("field string, nulls bigint, valid bigint, dtype_violations bigint, "
                 "constraint_violations bigint, total_rows bigint, filled_pct double")


def report_tables(
    df: DataFrame, spec: TableSpec, cache: bool = True
) -> dict[str, DataFrame]:
    """The four report tables from ONE validation pass:

    * ``general``        — table-level totals (rows, columns, fields checked)
    * ``row_stats``      — rows-per-#valid-columns histogram + quantile
                           bucket bands (A7-A9)
    * ``column_stats``   — per-field nulls/valid/dtype/constraint/filled%
    * ``corrections``    — distinct violated values with suggestions

    The validated frame is ``ValidationPlan(spec).apply(df)`` with every
    derivation: the same plan ``profile_table`` and ``write_corrected_csv``
    build, so once it is cached, Spark serves all three from that one
    in-memory frame and the date-suggestion UDF runs once.  With
    ``cache=True`` (default) it is cached here; the CALLER owns the cache
    lifecycle — the CLI's ``validate`` calls ``spark.catalog.clearCache()``
    after its last sink (or unpersist / session teardown, same contract as
    ``dedup.simhash_pairs``).  ``cache=False`` leaves no persistent RDD and
    recomputes the validation wherever ``corrections`` is evaluated.

    Runs ONE wide aggregate at call time (totals, per-field status counts
    and the ``n_valid`` histogram, whose bands give the quantile rows), so
    ``general``, ``row_stats`` and ``column_stats`` are literal frames;
    ``corrections`` is one lazy stacked groupBy.  The plan, the aggregate
    and the stacked cells are SQL text, a few py4j round trips each.  At
    ``local[2]`` over a one-partition CSV this call is 3 jobs (cache build,
    aggregate map and result stages) and writing the four tables 5 more;
    the CLI's ``validate --clean`` sink sequence (these tables,
    ``write_report`` with profiles, the corrected CSV) is 16 jobs plus one
    profile write per field: 22 for the 6-field benchmark table.

    Spec fields absent from the table are NOT an error: like the
    reference (tablereport.py:207-208 'Missing columns'/'Extra columns'
    General rows over ``actual_headers``), validation runs on the header
    intersection and the set differences are reported in ``general``."""
    missing = [f.name for f in spec.fields if f.name not in df.columns]
    extra = [c for c in df.columns if c not in spec.field_names]
    spark = df.sparkSession
    if missing:
        spec = TableSpec(
            fields=tuple(f for f in spec.fields if f.name in df.columns),
            primary_key=spec.primary_key,
            missing_values=spec.missing_values,
        )
    if not spec.fields:
        # no spec field exists in the table: emit a valid (empty-bodied)
        # report rather than failing mid-aggregate
        return {
            "general": df.agg(
                F.count(F.lit(1)).alias("total_rows"),
                F.lit(len(df.columns)).alias("total_columns"),
                F.lit(0).alias("fields_checked"),
                F.lit(0).cast("long").alias("total_violations"),
                F.lit(",".join(missing)).alias("missing_columns"),
                F.lit(",".join(extra)).alias("extra_columns"),
            ),
            "row_stats": profiler.literal_frame(spark, _ROW_STATS, []),
            "column_stats": profiler.literal_frame(spark, _COLUMN_STATS, []),
            "corrections": profiler.literal_frame(
                spark, "field string, value string, suggestion string, "
                       "violation string, n_occurrences long", []),
        }

    plan = ValidationPlan(spec)
    validated = plan.apply(df)
    if cache:
        validated = validated.cache()

    names = [f.name for f in spec.fields]
    n_fields = len(names)
    # one wide aggregate; over an empty table every sum is NULL, and so are
    # the counts, filled_pct and total_violations built from them below
    wide = list(plan.row_flags(validated).selectExpr(
        "count(1)",
        *plan.status_counts(),
        *[f"sum(CAST(n_valid = {k} AS BIGINT))" for k in range(n_fields + 1)],
    ).first())
    total, counts, hist = wide[0], wide[1:-n_fields - 1], wide[-n_fields - 1:]

    column_stats = []
    for j, n in enumerate(names):
        c = counts[4 * j:4 * j + 4]
        nulls = c[0]
        filled = None if nulls is None else float(total - nulls) / float(total) * 100.0
        column_stats.append((n, *c, total, filled))
    violations = None if total == 0 else sum(total - row[2] for row in column_stats)
    general = [(total, len(df.columns), n_fields, violations,
                ",".join(missing), ",".join(extra))]

    row_stats = [(str(k), "rows_per_valid_count", rows)
                 for k, rows in enumerate(hist) if rows]
    bands: dict[str, int] = {}
    for k, rows in enumerate(hist):
        if rows:
            band = profiler.valid_pct_band(k, n_fields)
            bands[band] = bands.get(band, 0) + rows
    row_stats += [(band, "valid_pct_band", rows) for band, rows in bands.items()]

    return {
        "general": profiler.literal_frame(spark, _GENERAL, general),
        "row_stats": profiler.literal_frame(spark, _ROW_STATS, row_stats),
        "column_stats": profiler.literal_frame(spark, _COLUMN_STATS, column_stats),
        "corrections": correction_suggestions(validated, spec),
    }


def row_stats_sort_key(r: dict):
    """Deterministic display order for row_stats rows shared by the
    HTML/PDF/XLSX renderers: within a kind, numeric keys sort numerically
    (the rows-per-valid-count histogram must read 0,1,2,...,10 — not the
    lexicographic 0,1,10,11,2 once a schema has 10+ fields), text band
    labels after them lexically."""
    k = str(r["key"])
    return (r["kind"], (0, int(k)) if k.isdigit() else (1, k))


def write_report(
    df: DataFrame, spec: TableSpec, outdir: str, with_profiles: bool = True,
    threshold: float = 3.0, tables: dict[str, DataFrame] | None = None,
) -> None:
    """Write the four report tables (+ per-field MIPType profiles, the
    Excel report's Column Statistics detail) as parquet under
    ``outdir/<name>/`` and ``outdir/profile_<field>/``.  ``threshold`` is
    the outlier cut in standard deviations (reference ``--outlier``,
    cli.py:36-38); pass the ``tables`` of an earlier ``report_tables``
    call to reuse its validation pass.

    The profiles come from ``profiler.profile_table`` over the same
    validated plan, so they read the frame ``report_tables`` cached (the
    caller clears it).  Each table and each profile is a small frame
    written by one job to its own directory.  The writes are independent,
    so they run concurrently from ``session.concurrent_jobs`` (the pool
    ``run_resumable`` uses, under the caller's job group): the four table
    writes are submitted first, ``profile_table``'s two queries run on
    this thread while they are in flight, then each profile write is
    submitted.  A failing write does not stop the others; once all have
    finished, the first failure in that order is raised."""
    tables = tables or report_tables(df, spec)
    n_jobs = len(tables) + (len(spec.fields) if with_profiles else 0)

    def write(path: str, frame: DataFrame) -> None:
        frame.write.mode("overwrite").parquet(path)

    with concurrent_jobs(df.sparkSession, n_jobs, "write_report") as submit:
        for name, table in tables.items():
            submit(write, f"{outdir}/{name}", table)
        if with_profiles:
            for fname, prof in profiler.profile_table(df, spec, threshold=threshold).items():
                submit(write, f"{outdir}/profile_{fname}", prof)


def write_corrected_csv(df: DataFrame, spec: TableSpec, path: str) -> None:
    """S6 corrected-CSV sink (tablereport.py:151-159): violated values
    replaced by their suggestions (null when unsalvageable), written as
    quoted CSV with headers — the distributed sibling of ``save_corrected``.

    Builds the same ``ValidationPlan(spec).apply(df)`` plan as
    ``report_tables``, and caches nothing: after ``report_tables`` has
    cached it, this write is one job over that in-memory frame (no
    re-validation, no date-suggestion UDF); without a cache it validates
    the input in that one job."""
    spec_names = {f.name for f in spec.fields}
    cols = [
        f"{quote_ident(f'{c}__corrected')} AS {quote_ident(c)}" if c in spec_names
        else quote_ident(c)
        for c in df.columns
    ]
    (
        ValidationPlan(spec).apply(df).selectExpr(*cols)
        .write.mode("overwrite")
        .option("header", "true")
        .option("quoteAll", "true")
        .csv(path)
    )


# ---------------------------------------------------------------------------
# S8 — HTML report sink
# ---------------------------------------------------------------------------

_HTML_TEMPLATE = """<!DOCTYPE html>
<html>
<head><meta charset="utf-8"><title>{{ dataset }} — QC report</title></head>
<body>
<h1>Quality Control Report</h1>
<p>Dataset: <b>{{ dataset }}</b>{% if source %} ({{ source }}){% endif %}</p>
{% if date_run %}<p>Run: <b>{{ date_run }}</b></p>{% endif %}
<p>Total rows: <b>{{ general.total_rows }}</b> —
   columns: <b>{{ general.total_columns }}</b> —
   fields checked: <b>{{ general.fields_checked }}</b> —
   total violations: <b>{{ general.total_violations }}</b></p>

<h2>Row statistics</h2>
<table border="1">
<tr><th>kind</th><th>key</th><th>rows</th><th>%</th></tr>
{% for r in row_stats %}
<tr><td>{{ r.kind }}</td><td>{{ r.key }}</td><td>{{ r.rows }}</td>
    <td>{{ r.pct }}</td></tr>
{% endfor %}
</table>

<h2>Column statistics</h2>
<table border="1">
<tr>{% for c in column_cols %}<th>{{ c }}</th>{% endfor %}</tr>
{% for r in column_stats %}
<tr>{% for c in column_cols %}<td>{{ r[c] }}</td>{% endfor %}</tr>
{% endfor %}
</table>

<h2>Cleaning suggestions</h2>
<table border="1">
<tr><th>field</th><th>value</th><th>suggestion</th><th>violation</th><th>n</th></tr>
{% for r in corrections %}
<tr><td>{{ r.field }}</td><td>{{ r.value }}</td><td>{{ r.suggestion }}</td>
    <td>{{ r.violation }}</td><td>{{ r.n_occurrences }}</td></tr>
{% endfor %}
</table>
</body>
</html>
"""


def render_html_report(
    tables: dict[str, DataFrame],
    dataset: str,
    source: str = "",
    date_run: str | None = None,
) -> str:
    """S8 (tablereport.py:161-181 printpdf → jinja2 render): the HTML
    report over the report tables — same section structure as the
    reference's dataset_report template (header/run info, row completeness
    and validation statistics with percentages, per-column statistics,
    cleaning suggestions), own markup.  PDF (weasyprint) stays out of
    scope per SURVEY §2.1 S8.

    Driver-side by design: the inputs are the already-aggregated metric
    tables (a handful of rows regardless of corpus size), so the collect
    here is O(fields), never O(rows).  ``date_run`` is injected by the
    caller (kept out of the default output so renders are deterministic
    and diffable)."""
    from jinja2 import Environment

    general = tables["general"].collect()[0].asDict()
    row_stats = sorted(
        (r.asDict() for r in tables["row_stats"].collect()),
        key=row_stats_sort_key,
    )
    # percentage precomputed with a zero-row fallback: an empty input table
    # must still render a report, not ZeroDivisionError inside Jinja
    total = general.get("total_rows") or 0
    for r in row_stats:
        r["pct"] = f"{100.0 * r['rows'] / total:.2f}" if total else "0.00"
    column_df = tables["column_stats"]
    column_stats = sorted(
        (r.asDict() for r in column_df.collect()),
        key=lambda r: str(r.get("field")),
    )
    corrections = sorted(
        (r.asDict() for r in tables["corrections"].collect()),
        key=lambda r: (r["field"], str(r["value"])),
    )
    env = Environment(autoescape=True)
    return env.from_string(_HTML_TEMPLATE).render(
        dataset=dataset,
        source=source,
        date_run=date_run,
        general=general,
        row_stats=row_stats,
        column_cols=column_df.columns,
        column_stats=column_stats,
        corrections=corrections,
    )


def write_html_report(
    df: DataFrame,
    spec: TableSpec,
    path: str,
    dataset: str,
    source: str = "",
    date_run: str | None = None,
    tables: dict[str, DataFrame] | None = None,
) -> None:
    """Validate + aggregate + render + write the HTML report to ``path``.
    Pass precomputed ``tables`` to reuse one validation pass."""
    html = render_html_report(tables or report_tables(df, spec),
                              dataset, source, date_run)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(html)
