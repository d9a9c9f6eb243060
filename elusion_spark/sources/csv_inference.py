"""CSV smart-typing: value classifier + majority vote + cast expressions.

Parity target: features/csv.rs:340-391 (80% majority vote over a 100-row
sample), csv.rs:393-447 (value classifier: ints, dot/comma decimals,
thousands separators, percents, currency symbols, multilingual booleans,
date-like and version-like strings stay string), csv.rs:755-823 (cleanup
CAST templates — EU "1.234,56" → REPLACE+CAST, '%' → /100).

The *vote* happens on a driver-side 100-row sample (same as the
reference); the *cast* is a pure Spark expression applied to the whole
column — vectorized JVM work that scales to any data size.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

MAJORITY = 0.8  # csv.rs:340-391

_INT_RE = re.compile(r"^[+-]?\d+$")
_US_FLOAT_RE = re.compile(r"^[+-]?\d*\.\d+$")
_EU_FLOAT_RE = re.compile(r"^[+-]?\d+,\d+$")
_THOUSANDS_US_RE = re.compile(r"^[+-]?\d{1,3}(,\d{3})+(\.\d+)?$")
_THOUSANDS_EU_RE = re.compile(r"^[+-]?\d{1,3}(\.\d{3})+(,\d+)?$")
_PERCENT_RE = re.compile(r"^[+-]?\d+([.,]\d+)?\s*%$")
_CURRENCY_RE = re.compile(
    r"^[€£¥₹$]\s*[+-]?[\d.,]+$|^[+-]?[\d.,]+\s*[€£¥₹$]$"
)
_BOOL_SET = {"true", "false", "yes", "no", "da", "ne"}  # csv.rs boolean set
_DATE_RES = [
    re.compile(r"^\d{4}-\d{2}-\d{2}([ T].*)?$"),
    re.compile(r"^\d{1,2}[./]\d{1,2}[./]\d{4}$"),
    re.compile(r"^\d{2}:\d{2}(:\d{2})?$"),
]
_VERSION_RE = re.compile(r"^\d+(\.\d+){2,}$")  # 1.2.3 stays string


def classify_value(v: str | None) -> str:
    """Classify one raw string (csv.rs:393-447). Categories: null, int,
    float_us, float_eu, thousands_us, thousands_eu, percent, currency,
    boolean, date, string."""
    if v is None:
        return "null"
    s = v.strip()
    if s == "" or s.lower() in ("null", "na", "n/a", "none", "-", "?", "nan"):
        return "null"
    for rx in _DATE_RES:  # date-like beats version-like (15.01.2024)
        if rx.match(s):
            return "date"
    if _VERSION_RE.match(s):
        return "string"
    if _INT_RE.match(s):
        return "int"
    if _US_FLOAT_RE.match(s):
        return "float_us"
    if _EU_FLOAT_RE.match(s):
        return "float_eu"
    if _THOUSANDS_US_RE.match(s):
        return "thousands_us"
    if _THOUSANDS_EU_RE.match(s):
        return "thousands_eu"
    if _PERCENT_RE.match(s):
        return "percent"
    if _CURRENCY_RE.match(s):
        return "currency"
    if s.lower() in _BOOL_SET:
        return "boolean"
    return "string"


def classify_column(values: list[str | None]) -> str:
    """80%-majority vote (csv.rs:340-391). Numeric sub-categories pool into
    one 'numeric' family whose dominant shape picks the cast template; a
    failed vote or date/version columns stay 'string'."""
    cats = [classify_value(v) for v in values]
    non_null = [c for c in cats if c != "null"]
    if not non_null:
        return "string"
    numeric = {"int", "float_us", "float_eu", "thousands_us", "thousands_eu",
               "percent", "currency"}
    counts: dict[str, int] = {}
    for c in non_null:
        counts[c] = counts.get(c, 0) + 1
    num_total = sum(n for c, n in counts.items() if c in numeric)
    if num_total / len(non_null) >= MAJORITY:
        if counts.get("int", 0) == num_total:
            return "int"
        # dominant non-int numeric shape decides the cleanup template
        shaped = {c: n for c, n in counts.items() if c in numeric and c != "int"}
        return max(shaped, key=shaped.get)
    if counts.get("boolean", 0) / len(non_null) >= MAJORITY:
        return "boolean"
    return "string"


# Cleanup/cast templates (csv.rs:755-823) over ``{v}``: the trimmed value,
# NULL for the null sentinels.  The currency class spells out the
# characters of Java's \s so the SQL text holds no backslash, whose meaning
# would depend on spark.sql.parser.escapedStringLiterals.
_CAST_TEMPLATES = {
    "int": "CAST({v} AS BIGINT)",
    "float_us": "CAST({v} AS DOUBLE)",
    "float_eu": "CAST(replace({v}, ',', '.') AS DOUBLE)",
    "thousands_us": "CAST(replace({v}, ',', '') AS DOUBLE)",
    "thousands_eu": "CAST(replace(replace({v}, '.', ''), ',', '.') AS DOUBLE)",
    "percent": "CAST(trim(replace(replace({v}, '%', ''), ',', '.')) AS DOUBLE)"
               " / 100.0D",
    # currency amounts use US thousands convention in the reference
    "currency": "CAST(replace(regexp_replace({v}, '[€£¥₹$ \t\n\x0b\f\r]', ''),"
                " ',', '') AS DOUBLE)",
    "boolean": "CASE WHEN lower({v}) IN ('true', 'yes', 'da') THEN true"
               " WHEN lower({v}) IN ('false', 'no', 'ne') THEN false END",
}
_NULL_SENTINELS = "'null', 'na', 'n/a', 'none', '-', '?', 'nan'"


def cast_expression(col: str, inferred: str) -> Column | None:
    """Cleanup/cast templates (csv.rs:755-823) as built-in Spark exprs.
    Returns None when the column stays string.  Parsed from SQL text in
    one Py4J call: built from Column objects it took ~150 calls per
    column, most of the time of a repeat ``load_csv``."""
    template = _CAST_TEMPLATES.get(inferred)
    if template is None:
        return None
    t = f"trim(`{col}`)"
    v = (f"CASE WHEN {t} IS NULL OR {t} = '' OR lower({t}) IN "
         f"({_NULL_SENTINELS}) THEN NULL ELSE {t} END")
    return F.expr(template.format(v=v))
