"""Command-line entry points — the reference's ``qctool`` CLI
(`/root/reference/mipqctool/cli.py`: ``csv``/``infercsv``/``dicom``)
re-expressed for Spark, runnable three ways:

* locally: ``python -m dataqualitycontroltool_spark <cmd> ...``
* on a cluster: ``spark-submit --py-files $(python -m
  dataqualitycontroltool_spark pyfiles) -m`` is not supported by
  spark-submit, so ship the zip and a tiny driver script::

      ZIP=$(python -m dataqualitycontroltool_spark pyfiles)
      spark-submit --py-files "$ZIP" path/to/driver.py filter ...

  where driver.py just calls :func:`main`.  When launched under
  spark-submit, the session factory respects the externally configured
  master (``get_spark(cpus=None)``).

Commands:
  validate <data> <schema.json> <outdir>   validation report tables (+ corrected CSV)
  infer    <data> <out_schema.json>        sampled schema inference
  filter   <in_parquet> <out_path>         checkpoint-resumable image quality filter
  pyfiles                                  build the --py-files zip, print its path
"""

from __future__ import annotations

import argparse
import json
import sys


def _get_spark(args):
    from dataqualitycontroltool_spark.session import get_spark

    return get_spark("dqc-cli", cpus=args.cpus)


def _load_data(spark, path: str):
    from dataqualitycontroltool_spark.sources import csvsource

    if path.endswith(".csv") or path.endswith(".tsv"):
        return csvsource.read_csv(spark, path)
    return spark.read.parquet(path)


def cmd_validate(args) -> int:
    from dataqualitycontroltool_spark.sinks import reports
    from dataqualitycontroltool_spark.specs import TableSpec, frictionless_from_dc

    spark = _get_spark(args)
    with open(args.schema) as f:
        desc = json.load(f)
    if "fields" not in desc:  # Data-Catalogue tree → frictionless (S3)
        desc = frictionless_from_dc(desc)
    spec = TableSpec.from_descriptor(desc)
    df = _load_data(spark, args.data)
    # ONE validation pass: report_tables caches the validated frame (a plan
    # compiled to SQL text), and the profiles (write_report), the corrected
    # CSV and every rendered format read that one cached frame, so the
    # date-suggestion UDF runs once.  write_report submits its table and
    # profile writes to a small thread pool.  This command owns the cache
    # and clears it at the end.  The sinks run 16 jobs plus one profile
    # write per field (22 for a 6-field table at local[2]).
    tables = reports.report_tables(df, spec)
    reports.write_report(df, spec, args.outdir, threshold=args.outlier,
                         tables=tables)
    if args.clean:
        reports.write_corrected_csv(df, spec, f"{args.outdir}/corrected_csv")
    # rendered report formats (reference -r/--report xls|pdf, cli.py:35-37;
    # html is this engine's extra)
    import os

    dataset = os.path.basename(args.data)
    base = os.path.splitext(dataset)[0]
    for fmt in args.report or []:
        out = os.path.join(args.outdir, f"{base}_report.{fmt}")
        if fmt == "xlsx":
            from dataqualitycontroltool_spark.sinks import xlsx

            xlsx.write_xlsx_report(df, spec, out, dataset=dataset,
                                   tables=tables)
        elif fmt == "pdf":
            from dataqualitycontroltool_spark.sinks import pdf

            pdf.write_pdf_report(df, spec, out, dataset=dataset,
                                 source=args.data, tables=tables)
        else:
            reports.write_html_report(df, spec, out, dataset=dataset,
                                      source=args.data, tables=tables)
        print(f"{fmt} report -> {out}")
    spark.catalog.clearCache()
    print(f"report tables written under {args.outdir}")
    return 0


def cmd_infer(args) -> int:
    from dataqualitycontroltool_spark.inference import infer_table_spec

    spark = _get_spark(args)
    df = _load_data(spark, args.data)
    spec = infer_table_spec(df, limit=args.sample_rows, maxlevels=args.max_levels)
    with open(args.out, "w") as f:
        json.dump(spec.to_descriptor(), f, indent=2)
    print(f"inferred schema ({len(spec.fields)} fields) -> {args.out}")
    if args.dc_xlsx:
        # reference parity: infercsv can emit the schema as a Data
        # Catalogue workbook (inferschema.py:71-73), with CDE-suggested
        # conceptPaths when a dictionary is given (inferschema.py:55-69)
        import os

        from dataqualitycontroltool_spark.sinks.dcexport import (
            export_dc_xlsx, suggest_cdes_for_spec,
        )

        suggestions = None
        if args.cde_dict:
            from dataqualitycontroltool_spark.cde import CdeDict

            load = CdeDict.from_xlsx if args.cde_dict.endswith(".xlsx") else CdeDict.from_csv
            suggestions = suggest_cdes_for_spec(spec, load(args.cde_dict))
        export_dc_xlsx(spec.to_descriptor(), args.dc_xlsx,
                       csvname=os.path.basename(args.data),
                       cde_suggestions=suggestions)
        print(f"DC workbook -> {args.dc_xlsx}")
    if args.suggest_mapping:
        # the CDE-mapping wizard (mipcdemapper.py:120-165 suggest_corr):
        # auto-generate correspondences — incl. nested-if nominal recodes —
        # and save the MIPMap task XML (mipcdemapper.py:247-249)
        if not args.cde_dict:
            print("--suggest-mapping requires --cde-dict")
            return 2
        import os

        from dataqualitycontroltool_spark.cde import CdeDict
        from dataqualitycontroltool_spark.mapper import suggest_mapping

        load = CdeDict.from_xlsx if args.cde_dict.endswith(".xlsx") else CdeDict.from_csv
        table = os.path.splitext(os.path.basename(args.data))[0]
        sugg = suggest_mapping(df, load(args.cde_dict),
                               sample_rows=args.sample_rows,
                               maxlevels=args.max_levels,
                               source_table=table)
        with open(args.suggest_mapping, "w") as fh:
            fh.write(sugg.to_xml())
        print(json.dumps({"mapped": sugg.corr_sources,
                          "expressions": sugg.expressions(),
                          "unmapped_cdes": sugg.cde_not_mapped}, indent=2))
        print(f"mapping task XML -> {args.suggest_mapping}")
    return 0


def cmd_filter(args) -> int:
    from dataqualitycontroltool_spark.graft.checkpoint import run_resumable

    spark = _get_spark(args)
    rows = run_resumable(spark, args.input, args.output,
                         max_partitions=args.max_partitions)
    kept = sum(r["kept"] for r in rows)
    total = sum(r["rows_in"] for r in rows)
    print(json.dumps({"partitions_processed": len(rows), "rows_in": total,
                      "kept": kept, "dropped": total - kept}))
    return 0


def cmd_dicom(args) -> int:
    """Reference `qctool dicom <dicom folder> <report folder>`
    (cli.py:93-114): scan a DICOM tree, write the five CSV reports with the
    reference's exact filenames.  The tables are per-sequence aggregates
    (small by construction), so they render driver-side like the
    reference's csv.DictWriter output; at web scale point the report
    DataFrames at `df.write.csv` instead."""
    import os

    from dataqualitycontroltool_spark.sources import dicom as dcm

    spark = _get_spark(args)
    headers = dcm.read_dicom_headers(spark, args.dicom_folder).localCheckpoint()
    os.makedirs(args.report_folder, exist_ok=True)
    counts = {}
    for name, df in dcm.dicom_report_tables(headers).items():
        pdf = df.toPandas()
        pdf.to_csv(os.path.join(args.report_folder, f"{name}.csv"), index=False)
        counts[name] = len(pdf)
    if args.loris_out:
        # reference `qctool dicom --loris_folder <folder>` (cli.py:95-122 →
        # dicomreport.py:161-184): copy valid-sequence files into the
        # LORIS import layout
        os.makedirs(args.loris_out, exist_ok=True)
        counts["loris_copied"] = dcm.reorganize_files(
            dcm.loris_manifest(headers), args.dicom_folder, args.loris_out)
    print(json.dumps(counts))
    return 0


def cmd_map(args) -> int:
    """Execute a legacy MIPMap mapping-task XML natively (the reference
    shells out to a dockerized MIPMap+Postgres for this —
    mipqctool/controller/dockermipmap.py:10-56; here Catalyst IS the
    mapping engine and the task file is just imported)."""
    from dataqualitycontroltool_spark.sources import mipmap

    spark = _get_spark(args)
    df = _load_data(spark, args.data)
    with open(args.task_xml) as fh:
        out = mipmap.apply_mipmap_xml(df, fh.read())
    out.write.mode("overwrite").parquet(args.outdir)
    print(json.dumps({"columns": out.columns,
                      "rows": spark.read.parquet(args.outdir).count()}))
    return 0


def cmd_pyfiles(args) -> int:
    print(build_pyfiles_zip())
    return 0


def build_pyfiles_zip() -> str:
    """Zip this package for ``spark-submit --py-files`` (the same archive
    ``session._ship_package`` attaches in local mode)."""
    import os
    import shutil
    import tempfile

    import dataqualitycontroltool_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    return shutil.make_archive(
        os.path.join(tempfile.mkdtemp(prefix="dqc_pyfiles_"), "dqc_spark_pkg"),
        "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="dqc-spark")
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N] cores; omit under spark-submit")
    sub = ap.add_subparsers(dest="cmd", required=True)

    v = sub.add_parser("validate", help="validation report (reference: qctool csv)")
    v.add_argument("data")
    v.add_argument("schema")
    v.add_argument("outdir")
    v.add_argument("--clean", action="store_true", help="also write corrected CSV")
    v.add_argument("-r", "--report", action="append",
                   choices=["xlsx", "pdf", "html"], default=None,
                   help="also render the report in this format (repeatable; "
                        "reference -r/--report xls|pdf)")
    v.add_argument("-o", "--outlier", type=float, default=3.0,
                   help="outlier threshold in standard deviations")
    v.set_defaults(fn=cmd_validate)

    i = sub.add_parser("infer", help="schema inference (reference: qctool infercsv)")
    i.add_argument("data")
    i.add_argument("out")
    i.add_argument("--sample-rows", type=int, default=100)
    i.add_argument("--max-levels", type=int, default=10)
    i.add_argument("--dc-xlsx", default=None,
                   help="also export the inferred schema as a Data Catalogue workbook")
    i.add_argument("--cde-dict", default=None,
                   help="CDE dictionary (xlsx/csv) for conceptPath suggestions")
    i.add_argument("--suggest-mapping", default=None, metavar="TASK_XML",
                   help="run the CDE-mapping wizard and save a MIPMap task "
                        "XML (requires --cde-dict)")
    i.set_defaults(fn=cmd_infer)

    f = sub.add_parser("filter", help="checkpoint-resumable image quality filter")
    f.add_argument("input", help="parquet directory or catalog (Iceberg) table ref")
    f.add_argument("output")
    f.add_argument("--max-partitions", type=int, default=None)
    f.set_defaults(fn=cmd_filter)

    d = sub.add_parser("dicom", help="MRI DICOM validation report (reference: qctool dicom)")
    d.add_argument("dicom_folder")
    d.add_argument("report_folder")
    d.add_argument("--loris-out", default=None,
                   help="also reorganize valid-sequence files for LORIS import")
    d.set_defaults(fn=cmd_dicom)

    m = sub.add_parser(
        "map", help="run a legacy MIPMap mapping-task XML natively"
    )
    m.add_argument("data", help="input parquet/csv")
    m.add_argument("task_xml", help="MIPMap mapping task XML")
    m.add_argument("outdir", help="output parquet path")
    m.set_defaults(fn=cmd_map)

    p = sub.add_parser("pyfiles", help="build the --py-files zip")
    p.set_defaults(fn=cmd_pyfiles)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
