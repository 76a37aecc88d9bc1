"""Rule-spec → Spark SQL compiler: the heart of the engine.

The reference validates a table by iterating every (row, value) pair in Python
(``controller/columnreport.py:264-278``), calling tableschema's ``cast_value``
per value (``model/qcfrictionless/qcfield.py:51-62``) and distinguishing
datatype vs constraint violations by string-matching the exception message.
That is O(rows × cols) Python-interpreter work with one full file re-scan per
column (``controller/tablereport.py:323-334``).

Here the whole validation engine is compiled ONCE, on the driver, into Spark
SQL expression text — ``CASE`` chains, ``RLIKE``, ``TRY_CAST``,
``try_to_date``, ``levenshtein`` — which the JVM parses a projection at a
time (``selectExpr``).  Building the plan is then a few py4j round trips per
projection instead of several per expression node, and the per-row work
runs JVM-side inside whole-stage codegen, in a single pass over the data,
with columns pruned and filters pushed down by Catalyst.  The ONLY Python
that can run per-batch is the date-resuggestion pandas UDF (vectorized, and
only compiled in when a date field actually exists), the one ``Column`` of
the plan.  Every identifier and literal enters the text through
:func:`quote_ident` / :func:`sql_literal`, so any column name and any spec
value (enum, missing value, unit suffix) survives the SQL parser.

Per-field derived columns (one projection computes each field's status once;
a second derives the rest from it):

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

import datetime
import math
import re
from collections.abc import Callable

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

_NULL = "CAST(NULL AS STRING)"


def quote_ident(name: str) -> str:
    """``name`` as ONE backticked SQL identifier, embedded backticks doubled:
    a name holding a space, a quote or a dot reads as one top-level column
    (``F.col`` takes the same form)."""
    return "`" + name.replace("`", "``") + "`"


def sql_literal(v) -> str:
    """``v`` as a typed Spark SQL literal.  Strings escape ``\\`` and ``'``,
    since Spark SQL processes backslash escapes (a regex's ``\\d`` must
    arrive as ``\\\\d``); ints are BIGINT (``…L``) and floats DOUBLE
    (``…D``), so a bound never parses as a DECIMAL; dates are ``DATE'…'``."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return f"{v}L"
    if isinstance(v, float):
        return f"{v!r}D" if math.isfinite(v) else f"CAST('{v}' AS DOUBLE)"
    if isinstance(v, datetime.date):
        return f"DATE'{v.isoformat()}'"
    return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"


def _in(x: str, values) -> str:
    return f"{x} IN ({', '.join(sql_literal(v) for v in values)})" if values else "false"


def _case(whens: list[tuple[str, str]], otherwise: str | None = None) -> str:
    body = " ".join(f"WHEN {cond} THEN {value}" for cond, value in whens)
    return f"CASE {body}{f' ELSE {otherwise}' if otherwise else ''} END"


def _over(text: Callable[..., str], *cols: Column) -> Column:
    """The SQL text ``text(*params)`` as a Column in which each lambda
    parameter stands for the matching Column of ``cols`` (one or two): how
    the Column-taking methods wrap the same text ``ValidationPlan.apply``
    projects, for ANY Column, a pandas UDF's output included."""
    params = [f"`__dqc_arg{i}`" for i in range(len(cols))]
    head = params[0] if len(params) == 1 else f"({', '.join(params)})"
    fn = F.expr(f"{head} -> {text(*params)}")
    arrays = [F.array(c) for c in cols]
    return F.call_function("transform" if len(cols) == 1 else "zip_with", *arrays, fn)[0]


class FieldPlan:
    """Compiled validation expressions for one field over a raw string cell.

    The ``*_sql`` methods return Spark SQL text over ``r``, the text of the
    raw cell (a quoted column, or its cast to string), and ``st``, the text
    of the cell's status.  The Column-taking methods (``status``, ``cast``,
    ``suggestion``, ``corrected``) wrap the same text around a Column."""

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

    def _is_missing(self, r: str) -> str:
        mv = self.spec.missing_values
        return f"({r} IS NULL OR {_in(r, mv)})" if mv else f"{r} IS NULL"

    def _value_regex(self) -> str:
        """Full-match regex for the raw string shape, including unit suffix
        (integer.py:149-154, numerical.py:119-123: e.g. '13(cm3)', '0.3 %')."""
        if self.spec.miptype == "integer":
            body = _INT_RE
        else:
            body = _NUM_RE_COMMA if self.spec.decimal_char == "," else _NUM_RE_DOT
        if self.spec.suffix:
            return f"^({body}){re.escape(self.spec.suffix)}$"
        return f"^({body})$"

    def _numeric_part(self, r: str) -> str:
        """Strip the unit suffix, leaving the numeric text."""
        if self.spec.suffix:
            return f"regexp_extract({r}, {sql_literal(self._value_regex())}, 1)"
        return r

    def _dtype_ok(self, r: str) -> str | None:
        """None when every value has the field's datatype."""
        s = self.spec
        if s.miptype in ("integer", "numerical"):
            return f"{r} RLIKE {sql_literal(self._value_regex())}"
        if s.miptype == "date":
            return f"try_to_date({r}, {sql_literal(self._java_fmt)}) IS NOT NULL"
        if s.miptype == "nominal" and s.ftype == "boolean":
            return _in(r, list(s.true_values) + list(s.false_values))
        if s.miptype == "nominal" and s.ftype == "integer":
            return f"{r} RLIKE {sql_literal(f'^{_INT_RE}$')}"
        return None  # text, nominal string

    def cast_sql(self, r: str) -> str:
        """Typed value (NULL when the raw string doesn't cast)."""
        s = self.spec
        if s.miptype in ("integer", "numerical"):
            num = self._numeric_part(r)
            if s.miptype == "numerical" and s.decimal_char == ",":
                num = f"regexp_replace({num}, ',', '.')"
            typ = "BIGINT" if s.miptype == "integer" else "DOUBLE"
            return f"CASE WHEN {self._dtype_ok(r)} THEN TRY_CAST({num} AS {typ}) END"
        if s.miptype == "date":
            return f"try_to_date({r}, {sql_literal(self._java_fmt)})"
        if s.miptype == "nominal" and s.ftype == "boolean":
            return _case([(_in(r, s.true_values), "true"), (_in(r, s.false_values), "false")])
        return r  # nominal string/integer kept raw; text kept raw

    def _constraint_ok(self, r: str) -> str | None:
        """None when the field has no constraint to violate."""
        s = self.spec
        conds = []
        if s.miptype in ("integer", "numerical", "date"):
            v = self.cast_sql(r)
            lo, hi = ((self._min_date, self._max_date) if s.miptype == "date"
                      else (s.minimum, s.maximum))
            if lo is not None:
                conds.append(f"({v} >= {sql_literal(lo)})")
            if hi is not None:
                conds.append(f"({v} <= {sql_literal(hi)})")
        elif s.miptype == "nominal" and s.enum:
            if s.ftype == "integer":
                conds.append(_in(f"TRY_CAST({r} AS BIGINT)", [int(e) for e in s.enum]))
            else:
                conds.append(_in(r, s.enum))
        return " AND ".join(conds) or None

    def status_sql(self, r: str) -> str:
        whens = [(self._is_missing(r), sql_literal(STATUS_MISSING))]
        dtype_ok, ok = self._dtype_ok(r), self._constraint_ok(r)
        if dtype_ok:
            whens.append((f"NOT ({dtype_ok})", sql_literal(STATUS_DTYPE)))
        if ok:
            whens.append((f"NOT ({ok})", sql_literal(STATUS_CONSTRAINT)))
        return _case(whens, sql_literal(STATUS_VALID))

    # -- suggestions (qcfield.py:64-94, model/qctypes/*.py suggest[cd]_*) ----

    def date_input_sql(self, r: str, st: str) -> str:
        """The date-suggestion UDF's input: the raw cell of a dtype
        violation, else NULL.  The UDF sits in an unconditional
        ArrowEvalPython node, so every other cell reaches Python as a null
        and costs no parse."""
        return f"CASE WHEN {st} = {sql_literal(STATUS_DTYPE)} THEN {r} END"

    def date_suggestion(self, cell: Column) -> Column:
        """The 7-regex format inference + reparse + reformat (date.py:88-106)
        over ``cell``, as a vectorized pandas UDF (SURVEY §7 risk 5)."""
        return _date_suggest_udf(self._py_fmt)(cell)

    def _suggestd(self, r: str) -> str | None:
        """Integer datatype-violation suggestion BEFORE constraint
        re-validation: str(int(float(value))), truncating toward zero
        (integer.py:135-145; int(float('5.6')) == 5).  Dates take theirs
        from the UDF; numerical/text/nominal suggest none (numerical.py:112-116,
        text.py:88-92, nominal.py:62-66)."""
        if self.spec.miptype == "integer":
            return (f"CASE WHEN {r} RLIKE {sql_literal(_FLOATISH_RE)} "
                    f"THEN CAST(TRY_CAST(TRY_CAST({r} AS DOUBLE) AS BIGINT) AS STRING) END")
        return None

    def _suggestc(self, r: str) -> str | None:
        """Constraint-violation suggestion (nominal Levenshtein repair,
        nominal.py:34-59; every other MIPType suggests none)."""
        s = self.spec
        if s.miptype == "nominal" and s.enum and s.ftype != "integer":
            # min over (distance, upper(enum)) structs pins the reference's
            # tie-break: smallest distance, then lexicographically first upper
            # (OrderedDict(sorted(...)) + min in nominal.py:52-54)
            best = "array_min(array({}))".format(", ".join(
                f"named_struct('d', levenshtein(upper({r}), {sql_literal(e.upper())}), "
                f"'u', {sql_literal(e.upper())}, 'v', {sql_literal(e)})"
                for e in s.enum
            ))
            return _case([(f"{r} RLIKE '^[0-9]+$'", _NULL),  # value.isdigit()
                          (f"{best}.d <= 3", f"{best}.v")])
        return None

    def suggestion_sql(self, r: str, st: str, d: str | None = None) -> str:
        """Final suggestion: suggestd, re-validated against constraints, falling
        through to suggestc on violation (qcfield.py:81-94); suggestc for
        constraint violations.  ``d``: the text of a date field's UDF
        suggestion."""
        d = self._suggestd(r) if d is None else d
        whens = []
        if d is not None:
            ok = self._constraint_ok(d)
            if ok:
                d = _case([(f"{d} IS NOT NULL AND NOT ({ok})", self._suggestc(d) or _NULL)], d)
            whens.append((f"{st} = {sql_literal(STATUS_DTYPE)}", d))
        c = self._suggestc(r)
        if c:
            whens.append((f"{st} = {sql_literal(STATUS_CONSTRAINT)}", c))
        return _case(whens, _NULL) if whens else _NULL

    def corrected_sql(self, r: str, st: str, sug: str) -> str:
        """Corrected raw value: valid values pass through, violations take their
        suggestion, missing stays NULL (columnreport.py:219-226, 280-343)."""
        return _case([(f"{st} = {sql_literal(STATUS_VALID)}", r),
                      (f"{st} = {sql_literal(STATUS_MISSING)}", _NULL)], sug)

    # -- the same text as Columns over any raw string Column -----------------

    def status(self, c: Column) -> Column:
        return _over(self.status_sql, c)

    def cast(self, c: Column) -> Column:
        return _over(self.cast_sql, c)

    def _derived(self, c: Column, text: Callable[[str, str, str | None], str]) -> Column:
        if self.spec.miptype != "date":
            return _over(lambda r: text(r, self.status_sql(r), None), c)
        d = self.date_suggestion(_over(lambda r: self.date_input_sql(r, self.status_sql(r)), c))
        return _over(lambda r, d: text(r, self.status_sql(r), d), c, d)

    def suggestion(self, c: Column) -> Column:
        return self._derived(c, self.suggestion_sql)

    def corrected(self, c: Column) -> Column:
        return self._derived(
            c, lambda r, st, d: self.corrected_sql(r, st, self.suggestion_sql(r, st, d)))


# pandas UDF factory for date re-suggestion; one UDF per field format.
def _date_suggest_udf(py_fmt: str):
    import pandas as pd  # noqa: F401

    fmt = py_fmt

    @F.pandas_udf(T.StringType())
    def suggest(series):
        return series.map(lambda v: datefmt.suggest_date(v, fmt) if v is not None else None)

    return suggest


class ValidationPlan:
    """Whole-table compiled validation: ONE pass produces every derived column
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

        Two ``selectExpr`` projections: the first computes each field's
        status ONCE; the second derives cast, suggestion and corrected from
        that status column.  When a date field's suggestion is derived, a
        projection between them adds the date-suggestion UDF's output.  Two
        calls with the same spec, input and arguments build the same plan,
        so a cached copy of one serves the other (Spark's CacheManager).

        Input columns validated by the plan must be strings (reference semantics:
        raw CSV cells).  Non-string inputs are stringified via a lossless-for-
        integers cast; pass typed tables through ``constraints_only`` instead
        when dtype checking is meaningless.
        """
        dtypes = dict(df.dtypes)
        present = [fp for fp in self.fields if fp.spec.name in dtypes]
        raw, st = {}, {}
        for fp in present:
            name = fp.spec.name
            raw[name] = (quote_ident(name) if dtypes[name] == "string"
                         else f"CAST({quote_ident(name)} AS STRING)")
            st[name] = quote_ident(f"{name}__status")
        statused = df.selectExpr(
            "*", *[f"{fp.status_sql(raw[fp.spec.name])} AS {st[fp.spec.name]}" for fp in present])
        suggests = "suggestion" in derive or "corrected" in derive
        dates = [fp for fp in present if suggests and fp.spec.miptype == "date"]
        if dates:
            statused = statused.select("*", *[
                fp.date_suggestion(F.expr(fp.date_input_sql(raw[fp.spec.name], st[fp.spec.name])))
                .alias(f"{fp.spec.name}__suggestd")
                for fp in dates
            ])
        cols = [quote_ident(c) for c in (keep if keep is not None else df.columns)]
        for fp in present:
            name = fp.spec.name
            r, s = raw[name], st[name]
            if "status" in derive:
                cols.append(s)
            if "cast" in derive:
                # typed value only for VALID cells — the profilers consume
                # exactly the reference's "validated pairs" (columnreport.py:451-464)
                cols.append(f"CASE WHEN {s} = {sql_literal(STATUS_VALID)} "
                            f"THEN {fp.cast_sql(r)} END AS {quote_ident(f'{name}__cast')}")
            if suggests:
                d = quote_ident(f"{name}__suggestd") if fp in dates else None
                sug = fp.suggestion_sql(r, s, d)
                if "suggestion" in derive:
                    cols.append(f"{sug} AS {quote_ident(f'{name}__suggestion')}")
                if "corrected" in derive:
                    cols.append(f"{fp.corrected_sql(r, s, sug)} "
                                f"AS {quote_ident(f'{name}__corrected')}")
        return statused.selectExpr(*cols)

    def status_counts(self) -> list[str]:
        """Per field, the four status counts — nulls, valid, dtype and
        constraint violations, in that order — as aggregate SQL text."""
        return [
            f"sum(CAST({quote_ident(f'{fp.spec.name}__status')} = {sql_literal(status)} AS BIGINT))"
            for fp in self.fields
            for status in (STATUS_MISSING, STATUS_VALID, STATUS_DTYPE, STATUS_CONSTRAINT)
        ]

    def summary(self, validated: DataFrame) -> DataFrame:
        """Per-column violation/null accounting in ONE aggregate pass
        (columnreport.py:229-231, 439-449: nulls_total, not_nulls_total,
        datatype/constraint violation counts, filled %)."""
        n = len(self.fields)
        wide = validated.selectExpr(
            "count(1) AS total_rows",
            *[f"{agg} AS `c{k}`" for k, agg in enumerate(self.status_counts())],
        )
        # unpivot to one row per field: (field, nulls, valid, dtype, constraint)
        stack_parts = ", ".join(
            f"{sql_literal(fp.spec.name)}, " + ", ".join(f"`c{4 * j + k}`" for k in range(4))
            for j, fp in enumerate(self.fields)
        )
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
        def total(cond: Callable[[str], str]) -> str:
            return " + ".join(
                f"CAST({cond(quote_ident(f'{fp.spec.name}__status'))} AS INT)"
                for fp in self.fields) or "0"

        invalid = total(lambda s: _in(s, (STATUS_DTYPE, STATUS_CONSTRAINT)))
        return validated.withColumns({
            "n_filled": F.expr(total(lambda s: f"{s} != {sql_literal(STATUS_MISSING)}")),
            "n_valid": F.expr(total(lambda s: f"{s} = {sql_literal(STATUS_VALID)}")),
            "n_invalid": F.expr(invalid),
            "row_invalid": F.expr(f"({invalid}) > 0"),
        })
