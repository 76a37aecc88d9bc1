"""Regex PII/toxicity caption scrub — a pure Catalyst ``regexp_replace``
chain (no UDF; whole-stage codegen).

The single ordered rule list below is the one source of truth for all three
executions of the scrub: the Spark plan (:func:`scrub_column`), the pandas
reference oracle (:func:`scrub_text`, used by graft/reference_impl.py), and
the DuckDB oracle SQL (:func:`scrub_sql`).  Patterns deliberately avoid
lookarounds so Java regex, Python ``re`` and RE2 agree byte-for-byte.

Role in the reference: the correction/recode family — ``replace()`` mapping
functions (`/root/reference/mipqctool/data/trFunctions.csv`,
`model/mapping/functions.py:6-24`) and the suggest/correct chain
(`model/qctypes/nominal.py:34-59`) — generalized to ordered regex rewrite.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F

# (name, pattern, replacement) — ORDER MATTERS (email before URL would eat
# the host of mailto-ish URLs; SSN before phone so 3-2-4 never phone-matches)
SCRUB_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("url", r"(https?://|www\.)[^\s]+", "[URL]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[ID]"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("phone", r"(\+\d{1,2}[-\s]?)?(\(\d{3}\)[-\s]?|\d{3}[-\s])?\d{3}[-\s]\d{4}\b", "[PHONE]"),
    ("toxic", r"(?i)\b(damn|hell|crap|shit|bastard)\b", "****"),
]


def scrub_column(c: Column) -> Column:
    """Chained ``regexp_replace`` — one codegen'd expression, no shuffle."""
    out = c
    for _name, pat, repl in SCRUB_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


_SCRUB_REGEXES = [(re.compile(pat), repl) for _n, pat, repl in SCRUB_RULES]


def scrub_text(s: str | None) -> str | None:
    """Pure-Python twin of :func:`scrub_column` (test oracle only)."""
    if s is None:
        return None
    for rx, repl in _SCRUB_REGEXES:
        s = rx.sub(repl, s)
    return s


def scrub_sql(col: str) -> str:
    """DuckDB-equivalent expression (RE2, global flag)."""
    expr = col
    for _name, pat, repl in SCRUB_RULES:
        p = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{repl}', 'g')"
    return expr


def scrub_flags(c: Column) -> Column:
    """Count of rules that fired for a caption (lineage metric)."""
    out = F.lit(0)
    for _name, pat, _repl in SCRUB_RULES:
        out = out + F.coalesce(c.rlike(pat).cast("int"), F.lit(0))
    return out
