"""Date format handling: strptime→Java DateTimeFormatter translation and the
reference's 7-pattern date-format inference cascade.

The reference stores date formats as Python strptime patterns (e.g. '%d/%m/%Y',
``model/qctypes/date.py:124-155``) and infers the format of an unparseable date
string by trying 7 prioritized regexes (``date.py:17-49``).  Spark's ``to_date``
needs Java DateTimeFormatter patterns, so we translate at compile time; the
inference cascade itself stays as Python ``re`` + ``strptime`` executed inside a
vectorized pandas UDF (it only ever runs on datatype-violated values — a tiny
fraction of rows — and Java regex/unicode semantics differ enough from Python
``re`` that translating the patterns would risk parity; see SURVEY.md §7 risk 5).
"""

from __future__ import annotations

import datetime
import re

# strptime directive → Java DateTimeFormatter pattern.
# NOTE: %d→'d' and %m→'M' (not 'dd'/'MM') because strptime accepts both 1- and
# 2-digit day/month ('1/12/2019' parses with %d/%m/%Y) and Java's single-letter
# numeric patterns do too.
_STRPTIME_TO_JAVA = {
    "%d": "d",
    "%m": "M",
    "%Y": "yyyy",
    "%y": "yy",
    "%b": "MMM",
    "%B": "MMMM",
    "%H": "H",
    "%M": "m",
    "%S": "s",
}

_DIRECTIVE_RE = re.compile("|".join(re.escape(k) for k in _STRPTIME_TO_JAVA))


def strptime_to_java(fmt: str) -> str:
    """Translate a strptime pattern to a Java DateTimeFormatter pattern.

    Literal single quotes and alphabetic literals are quoted per Java rules.
    """
    out: list[str] = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            directive = fmt[i : i + 2]
            java = _STRPTIME_TO_JAVA.get(directive)
            if java is None:
                raise ValueError(f"unsupported strptime directive {directive!r} in {fmt!r}")
            out.append(java)
            i += 2
        else:
            ch = fmt[i]
            if ch.isalpha():
                out.append(f"'{ch}'")
            elif ch == "'":
                out.append("''")
            else:
                out.append(ch)
            i += 1
    return "".join(out)


# ---------------------------------------------------------------------------
# 7-pattern inference cascade (date.py:124-155).  Re-expressed (not copied):
# each entry is (strptime-template-builder, regex).  The regexes accept an
# optional separator in [- /.] (captured and backreferenced so both separators
# match), 4-digit years 19xx/20xx, and unicode month names for %b/%B.
# ---------------------------------------------------------------------------

_DAY = r"(0?[1-9]|[12][0-9]|3[01])"
_MONTH = r"(0?[1-9]|1[012])"
_YEAR = r"(?P<year>(19|20)?\d\d)"
_YEAR4 = r"(?P<year>(19|20)\d\d)"
# month-name token: 3 chars (%b) or 3-15 chars (%B), excluding digits/space/punct
_MON_CHARS = r"[^0-9\s~!@#$%^&*()_+=\\/\[\]{}\'\":;,.<>?\-]"
_SEP_NUM = r"(?P<sep>[- /.]?)"
_SEP_NAME = r"(?P<sep>[ -]?)"

DATE_PATTERNS: list[tuple[str, str]] = [
    # (strptime template with {sep}, regex) — priority order matters (date.py:17-31)
    ("%d{sep}%m{sep}%Y", rf"^\b{_DAY}{_SEP_NUM}{_MONTH}(?P=sep){_YEAR}\b$"),
    ("%m{sep}%d{sep}%Y", rf"^\b{_MONTH}{_SEP_NUM}{_DAY}(?P=sep){_YEAR}\b$"),
    ("%Y{sep}%m{sep}%d", rf"^\b{_YEAR}{_SEP_NUM}{_MONTH}(?P=sep){_DAY}\b$"),
    ("%d{sep}%b{sep}%Y", rf"^\b{_DAY}{_SEP_NAME}{_MON_CHARS}{{3}}(?P=sep){_YEAR}\b$"),
    ("%d{sep}%B{sep}%Y", rf"^\b{_DAY}{_SEP_NAME}{_MON_CHARS}{{3,15}}(?P=sep){_YEAR}\b$"),
    ("%b{sep}%d{sep}%Y", rf"^\b{_MON_CHARS}{{3}}{_SEP_NAME}{_DAY}(?P=sep){_YEAR}\b$"),
    ("%B{sep}%d{sep}%Y", rf"^\b{_MON_CHARS}{{3,15}}{_SEP_NAME}{_DAY}(?P=sep){_YEAR4}\b$"),
]

_DATE_REGEXES = [(tpl, re.compile(rx, flags=re.UNICODE)) for tpl, rx in DATE_PATTERNS]


def infer_date_format(value: str) -> str | None:
    """Return the strptime format of ``value`` or None (date.py:17-49).

    Only 4-digit years are accepted (the reference requires len(year)==4).
    """
    for tpl, rx in _DATE_REGEXES:
        m = rx.match(str(value))
        if m and len(m.group("year")) == 4:
            return tpl.format(sep=m.group("sep"))
    return None


def suggest_date(value: str, fmt: str) -> str | None:
    """Reference ``suggestd_date`` (date.py:88-106): infer the format of a bad
    date string, reparse, reformat to the field's format.  Returns None when
    unparseable (the reference returns missing_values[0])."""
    if fmt in ("default", None, ""):
        fmt = "%Y-%m-%d"
    pattern = infer_date_format(value)
    if pattern is None:
        return None
    try:
        return datetime.datetime.strptime(value, pattern).date().strftime(fmt)
    except ValueError:
        return None


def parse_date(value: str, fmt: str) -> datetime.date | None:
    """Strict strptime parse; None on failure."""
    if fmt in ("default", None, ""):
        fmt = "%Y-%m-%d"
    try:
        return datetime.datetime.strptime(value, fmt).date()
    except (ValueError, TypeError):
        return None
