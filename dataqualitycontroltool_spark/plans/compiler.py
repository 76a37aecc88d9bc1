"""Rule-spec → Catalyst expression compiler: the heart of the engine.

The reference validates a table by iterating every (row, value) pair in Python
(``controller/columnreport.py:264-278``), calling tableschema's ``cast_value``
per value (``model/qcfrictionless/qcfield.py:51-62``) and distinguishing
datatype vs constraint violations by string-matching the exception message.
That is O(rows × cols) Python-interpreter work with one full file re-scan per
column (``controller/tablereport.py:323-334``).

Here the whole validation engine is compiled ONCE, on the driver, into pure
``pyspark.sql.Column`` expressions — ``when`` chains, ``rlike``, ``try_cast``,
``try_to_date``, ``levenshtein`` — so the per-row work runs JVM-side inside
whole-stage codegen, in a single pass over the data, with columns pruned and
filters pushed down by Catalyst.  The ONLY Python that can run per-batch is the
date-resuggestion pandas UDF (vectorized, and only compiled in when a date
field actually exists).

Per-field derived columns (one inner projection computes each field's status
once; one ``select`` over it derives the rest):

* ``{name}__status``     — 'missing' | 'dtype' | 'constraint' | 'valid'
  (reference buckets: null rows `columnreport.py:439-449`, datatype vs
  constraint violated pairs `columnreport.py:264-278`)
* ``{name}__cast``       — typed value when valid, else NULL (profiler input,
  `columnreport.py:451-464`)
* ``{name}__suggestion`` — correction suggestion for violated values
  (`qcfield.py:64-94`: suggestd → re-validate → fall through to suggestc)
* ``{name}__corrected``  — corrected raw value (`columnreport.py:280-343`)

Semantics cross-checked against the reference's own golden tests
(``tests/test_columnreport.py``) in tests/test_compiler_columnreport.py.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, functions as F, types as T

from dataqualitycontroltool_spark import datefmt
from dataqualitycontroltool_spark.specs import FieldSpec, TableSpec

STATUS_VALID = "valid"
STATUS_MISSING = "missing"
STATUS_DTYPE = "dtype"
STATUS_CONSTRAINT = "constraint"

# value-shape regexes (Java regex syntax — evaluated by rlike JVM-side).
# Mirrors tableschema integer/number casts as exercised by the reference's
# goldens: '20191212' is a valid integer, '2.5'/'5.6' are not; '4', '-0.12',
# '2.31' are valid numbers, '21/12/2019' is not.
_INT_RE = r"[+-]?\d+"
_NUM_RE_DOT = r"[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?"
_NUM_RE_COMMA = r"[+-]?(\d+(,\d*)?|,\d+)([eE][+-]?\d+)?"
_FLOATISH_RE = r"^[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?$"  # Python float() shapes


def _status_col(is_missing: Column, dtype_ok: Column, constraint_ok: Column) -> Column:
    return (
        F.when(is_missing, F.lit(STATUS_MISSING))
        .when(~dtype_ok, F.lit(STATUS_DTYPE))
        .when(~constraint_ok, F.lit(STATUS_CONSTRAINT))
        .otherwise(F.lit(STATUS_VALID))
    )


class FieldPlan:
    """Compiled validation expressions for one field over a raw string column."""

    def __init__(self, spec: FieldSpec):
        self.spec = spec
        if spec.miptype not in ("integer", "numerical", "nominal", "date", "text"):
            raise ValueError(f"unknown MIPType {spec.miptype!r} for field {spec.name!r}")
        self._java_fmt: str | None = None
        if spec.miptype == "date":
            fmt = spec.fformat if spec.fformat not in ("default", None, "") else "%Y-%m-%d"
            self._py_fmt = fmt
            self._java_fmt = datefmt.strptime_to_java(fmt)
            # min/max constraints arrive as strings in the *field's* format
            # (test_columnreport.py DATE_DESC: minimum '1/1/1900')
            self._min_date = (
                datefmt.parse_date(str(spec.minimum), fmt) if spec.minimum is not None else None
            )
            self._max_date = (
                datefmt.parse_date(str(spec.maximum), fmt) if spec.maximum is not None else None
            )

    # -- building blocks ----------------------------------------------------

    def is_missing(self, c: Column) -> Column:
        mv = list(self.spec.missing_values)
        cond = c.isNull()
        if mv:
            cond = cond | c.isin(*mv)
        return cond

    def _numeric_body_regex(self) -> str:
        if self.spec.miptype == "integer":
            body = _INT_RE
        else:
            body = _NUM_RE_COMMA if self.spec.decimal_char == "," else _NUM_RE_DOT
        return body

    def _value_regex(self) -> str:
        """Full-match regex for the raw string shape, including unit suffix
        (integer.py:149-154, numerical.py:119-123: e.g. '13(cm3)', '0.3 %')."""
        body = self._numeric_body_regex()
        if self.spec.suffix:
            return f"^({body}){re.escape(self.spec.suffix)}$"
        return f"^({body})$"

    def _numeric_part(self, c: Column) -> Column:
        """Strip the unit suffix, leaving the numeric text."""
        if self.spec.suffix:
            return F.regexp_extract(c, self._value_regex(), 1)
        return c

    def dtype_ok(self, c: Column) -> Column:
        s = self.spec
        if s.miptype in ("integer", "numerical"):
            return c.rlike(self._value_regex())
        if s.miptype == "date":
            return F.try_to_date(c, self._java_fmt).isNotNull()
        if s.miptype == "nominal":
            if s.ftype == "boolean":
                return c.isin(*(list(s.true_values) + list(s.false_values)))
            if s.ftype == "integer":
                return c.rlike(f"^{_INT_RE}$")
            return F.lit(True)
        return F.lit(True)  # text

    def cast(self, c: Column) -> Column:
        """Typed value (NULL when the raw string doesn't cast)."""
        s = self.spec
        if s.miptype == "integer":
            return F.when(self.dtype_ok(c), self._numeric_part(c).try_cast(T.LongType()))
        if s.miptype == "numerical":
            num = self._numeric_part(c)
            if s.decimal_char == ",":
                num = F.regexp_replace(num, ",", ".")
            return F.when(self.dtype_ok(c), num.try_cast(T.DoubleType()))
        if s.miptype == "date":
            return F.try_to_date(c, self._java_fmt)
        if s.miptype == "nominal" and s.ftype == "boolean":
            return F.when(c.isin(*list(s.true_values)), F.lit(True)).when(
                c.isin(*list(s.false_values)), F.lit(False)
            )
        return c  # nominal string/integer kept raw; text kept raw

    def constraint_ok(self, c: Column) -> Column:
        s = self.spec
        cond = F.lit(True)
        if s.miptype in ("integer", "numerical"):
            v = self.cast(c)
            if s.minimum is not None:
                cond = cond & (v >= F.lit(s.minimum))
            if s.maximum is not None:
                cond = cond & (v <= F.lit(s.maximum))
        elif s.miptype == "date":
            v = self.cast(c)
            if self._min_date is not None:
                cond = cond & (v >= F.lit(self._min_date))
            if self._max_date is not None:
                cond = cond & (v <= F.lit(self._max_date))
        elif s.miptype == "nominal" and s.enum:
            if s.ftype == "integer":
                cond = self.cast(c).try_cast(T.LongType()).isin(
                    [int(e) for e in s.enum]
                )
            else:
                cond = c.isin(*s.enum)
        return cond

    def status(self, c: Column) -> Column:
        return _status_col(self.is_missing(c), self.dtype_ok(c), self.constraint_ok(c))

    # -- suggestions (qcfield.py:64-94, model/qctypes/*.py suggest[cd]_*) ----

    def _suggestd_raw(self, c: Column, st: Column) -> Column | None:
        """Datatype-violation suggestion BEFORE constraint re-validation;
        ``st`` is the cell's status.  None for the MIPTypes that never
        suggest one."""
        s = self.spec
        if s.miptype == "integer":
            # reference: str(int(float(value))) — truncate toward zero
            # (integer.py:135-145); int(float('5.6')) == 5
            return F.when(
                c.rlike(_FLOATISH_RE),
                c.try_cast(T.DoubleType()).try_cast(T.LongType()).cast(T.StringType()),
            )
        if s.miptype == "date":
            # 7-regex format inference + reparse + reformat (date.py:88-106);
            # runs as a vectorized pandas UDF (SURVEY §7 risk 5).  The UDF
            # sits in an unconditional ArrowEvalPython node, so only
            # dtype-violating cells are passed in; every other cell arrives
            # as null and costs no Python parse.
            return _date_suggest_udf(self._py_fmt)(F.when(st == STATUS_DTYPE, c))
        # numerical/text/nominal suggestd → null
        # (numerical.py:112-116, text.py:88-92, nominal.py:62-66)
        return None

    def _suggestc(self, c: Column) -> Column:
        """Constraint-violation suggestion (nominal Levenshtein repair,
        nominal.py:34-59; every other MIPType returns null)."""
        s = self.spec
        if s.miptype == "nominal" and s.enum and s.ftype != "integer":
            # min over (distance, upper(enum)) structs pins the reference's
            # tie-break: smallest distance, then lexicographically first upper
            # (OrderedDict(sorted(...)) + min in nominal.py:52-54)
            candidates = F.array(
                *[
                    F.struct(
                        F.levenshtein(F.upper(c), F.lit(e.upper())).alias("d"),
                        F.lit(e.upper()).alias("u"),
                        F.lit(e).alias("v"),
                    )
                    for e in s.enum
                ]
            )
            best = F.array_min(candidates)
            return F.when(
                c.rlike("^[0-9]+$"), F.lit(None).cast(T.StringType())  # value.isdigit()
            ).when(best.getField("d") <= 3, best.getField("v"))
        return F.lit(None).cast(T.StringType())

    def suggestion(self, c: Column, st: Column | None = None) -> Column:
        """Final suggestion: suggestd, re-validated against constraints, falling
        through to suggestc on violation (qcfield.py:81-94); suggestc for
        constraint violations.  ``st``: the cell's status column when one is
        already computed (``ValidationPlan.apply``), else built here."""
        st = self.status(c) if st is None else st
        d = self._suggestd_raw(c, st)
        if d is None:
            d_final = F.lit(None).cast(T.StringType())
        else:
            d_final = F.when(
                d.isNotNull() & ~self.constraint_ok(d), self._suggestc(d)
            ).otherwise(d)
        return (
            F.when(st == STATUS_DTYPE, d_final)
            .when(st == STATUS_CONSTRAINT, self._suggestc(c))
            .otherwise(F.lit(None).cast(T.StringType()))
        )

    def corrected(self, c: Column, st: Column, sug: Column) -> Column:
        """Corrected raw value: valid values pass through, violations take their
        suggestion, missing stays NULL (columnreport.py:219-226, 280-343).
        ``st``/``sug``: the cell's status and suggestion columns."""
        return (
            F.when(st == STATUS_VALID, c)
            .when(st == STATUS_MISSING, F.lit(None).cast(T.StringType()))
            .otherwise(sug)
        )


# pandas UDF factory for date re-suggestion; one UDF per field format.
def _date_suggest_udf(py_fmt: str):
    import pandas as pd  # noqa: F401

    fmt = py_fmt

    @F.pandas_udf(T.StringType())
    def suggest(series):
        return series.map(lambda v: datefmt.suggest_date(v, fmt) if v is not None else None)

    return suggest


class ValidationPlan:
    """Whole-table compiled validation: ONE select produces every derived column
    (vs. the reference's full-file re-scan per column, tablereport.py:323-334)."""

    def __init__(self, spec: TableSpec):
        self.spec = spec
        self.fields = [FieldPlan(f) for f in spec.fields]

    def apply(
        self,
        df: DataFrame,
        derive: tuple = ("status", "cast", "suggestion", "corrected"),
        keep: list[str] | None = None,
    ) -> DataFrame:
        """Single-pass derivation of status/cast/suggestion/corrected columns.

        Each field's status is computed ONCE, in an inner projection; cast,
        suggestion and corrected are derived from that status column.  Two
        calls with the same spec, input and arguments build the same plan,
        so a cached copy of one serves the other (Spark's CacheManager).

        Input columns validated by the plan must be strings (reference semantics:
        raw CSV cells).  Non-string inputs are stringified via a lossless-for-
        integers cast; pass typed tables through ``constraints_only`` instead
        when dtype checking is meaningless.
        """
        dtypes = dict(df.dtypes)
        present = [fp for fp in self.fields if fp.spec.name in dtypes]
        raw = {
            fp.spec.name: F.col(fp.spec.name) if dtypes[fp.spec.name] == "string"
            else F.col(fp.spec.name).cast(T.StringType())
            for fp in present
        }
        statused = df.select(
            "*",
            *[fp.status(raw[fp.spec.name]).alias(f"{fp.spec.name}__status")
              for fp in present],
        )
        cols: list[Column] = [F.col(c) for c in (keep if keep is not None else df.columns)]
        for fp in present:
            name = fp.spec.name
            c, st = raw[name], F.col(f"{name}__status")
            if "status" in derive:
                cols.append(st)
            if "cast" in derive:
                # typed value only for VALID cells — the profilers consume
                # exactly the reference's "validated pairs" (columnreport.py:451-464)
                cols.append(F.when(st == STATUS_VALID, fp.cast(c)).alias(f"{name}__cast"))
            if "suggestion" in derive or "corrected" in derive:
                sug = fp.suggestion(c, st)
                if "suggestion" in derive:
                    cols.append(sug.alias(f"{name}__suggestion"))
                if "corrected" in derive:
                    cols.append(fp.corrected(c, st, sug).alias(f"{name}__corrected"))
        return statused.select(*cols)

    def summary(self, validated: DataFrame) -> DataFrame:
        """Per-column violation/null accounting in ONE aggregate pass
        (columnreport.py:229-231, 439-449: nulls_total, not_nulls_total,
        datatype/constraint violation counts, filled %)."""
        aggs: list[Column] = [F.count(F.lit(1)).alias("total_rows")]
        for fp in self.fields:
            name = fp.spec.name
            st = F.col(f"{name}__status")
            aggs += [
                F.sum((st == STATUS_MISSING).cast("long")).alias(f"{name}__nulls"),
                F.sum((st == STATUS_VALID).cast("long")).alias(f"{name}__valid"),
                F.sum((st == STATUS_DTYPE).cast("long")).alias(f"{name}__dtype_viol"),
                F.sum((st == STATUS_CONSTRAINT).cast("long")).alias(f"{name}__constraint_viol"),
            ]
        wide = validated.agg(*aggs)
        # unpivot to one row per field: (field, nulls, valid, dtype, constraint)
        stack_parts = ", ".join(
            f"'{fp.spec.name}', {fp.spec.name}__nulls, {fp.spec.name}__valid, "
            f"{fp.spec.name}__dtype_viol, {fp.spec.name}__constraint_viol"
            for fp in self.fields
        )
        n = len(self.fields)
        return wide.selectExpr(
            "total_rows",
            f"stack({n}, {stack_parts}) as "
            "(field, nulls, valid, dtype_violations, constraint_violations)",
        ).select(
            "field",
            "nulls",
            "valid",
            "dtype_violations",
            "constraint_violations",
            "total_rows",
            (
                (F.col("total_rows") - F.col("nulls")) / F.col("total_rows") * 100.0
            ).alias("filled_pct"),
        )

    def row_flags(self, validated: DataFrame) -> DataFrame:
        """Row-level filled/valid counts (tablereport.py:336-370) as columnar
        row-wise sums — no shuffle, no sets of row numbers (J10/A7)."""
        filled = sum(
            (F.col(f"{fp.spec.name}__status") != STATUS_MISSING).cast("int")
            for fp in self.fields
        )
        valid = sum(
            (F.col(f"{fp.spec.name}__status") == STATUS_VALID).cast("int")
            for fp in self.fields
        )
        invalid = sum(
            F.col(f"{fp.spec.name}__status").isin(STATUS_DTYPE, STATUS_CONSTRAINT).cast("int")
            for fp in self.fields
        )
        return validated.withColumns(
            {
                "n_filled": filled,
                "n_valid": valid,
                "n_invalid": invalid,
                "row_invalid": invalid > 0,
            }
        )
