"""Scalar converter registry → Spark Column expressions.

Reference registry: /root/reference/ImportPipeline/Converters/Converters.cs:140-166.
Every converter here is a Column→Column function (JVM-side, codegen'd), except
where noted. All converters are array-transparent in the reference
(Converters.cs:85-133) — in Spark use ``F.transform(arr, fn)`` for arrays.

| name | reference | here |
|---|---|---|
| lower/upper       | Converters.cs:555-575 | F.lower/F.upper |
| trim/trimwhite    | Converters.cs:577-596 | trim / trim-to-null |
| nullifempty       | Converters.cs:544-553 | F.nullif |
| split             | Converters.cs:653-667 | split on ';' + trim elements |
| date/datetime     | Converters.cs:193-402 | coalesce over pinned format list |
| datepart          | Converters.cs:405-434 | year/month/day/date_format |
| int32/int64/double| Converters.cs:436-531 | separator-strip + cast |
| string            | Converters.cs:533-542 | cast('string') |
| format            | Converters.cs:708-768 | F.format_string |
| htmlencode/decode | Converters.cs:598-618 | pandas UDF (html lib) |
| urlencode/decode  | Converters.cs:631-651 | F.url_encode/url_decode |
| jsondecode        | Converters.cs:620-629 | F.from_json |
| replace (list)    | ReplaceConverter.cs:88-163 | when-chain or broadcast map join |
| array ops         | ComplexConverters.cs:33-236 | array_join/element_at/size/explode |
| normalize         | NormalizeConverter.cs:41-67 | text.normalize (Arrow UDF) |
| htmltotext        | HtmlToTextConverter.cs:41-56 | html.udfs (Arrow UDF) |
"""

from __future__ import annotations

import html as _html
from typing import Iterator, List, Sequence, Tuple

import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.types import StringType

# ---- string ----

def lower(c: Column) -> Column:
    return F.lower(c)


def upper(c: Column) -> Column:
    return F.upper(c)


def trim(c: Column) -> Column:
    return F.trim(c)


def trim_white(c: Column) -> Column:
    """trimwhite: whitespace-trim, '' → null (Converters.cs:586-596)."""
    return F.nullif(F.trim(c), F.lit(""))


def null_if_empty(c: Column) -> Column:
    return F.nullif(c, F.lit(""))


def split_semicolon(c: Column) -> Column:
    """split on ';' and trim elements (Converters.cs:653-667)."""
    return F.transform(F.split(c, ";"), lambda x: F.trim(x))


def format_string(fmt: str, *cols: Column) -> Column:
    return F.format_string(fmt, *cols)


# ---- date/time ----

# pinned subset of the reference's ~29 accepted patterns (Converters.cs:206-236)
DATE_FORMATS = [
    "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSS",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd HH:mm",
    "yyyy-MM-dd",
    "yyyyMMdd",
    "dd-MM-yyyy",
    "MM/dd/yyyy",
]


def to_date_multi(c: Column, formats: Sequence[str] = DATE_FORMATS) -> Column:
    """Multi-format datetime parse; numeric strings are epoch seconds
    (Converters.cs:371-374)."""
    attempts = [F.try_to_timestamp(c, F.lit(f)) for f in formats]
    epoch = F.when(
        c.rlike(r"^\d{10,13}$"),
        F.to_timestamp(
            F.when(F.length(c) == 13, c.cast("double") / 1000.0).otherwise(
                c.cast("double")
            )
        ),
    )
    return F.coalesce(*attempts, epoch)


def datepart(c: Column, part: str) -> Column:
    part = part.lower()
    if part in ("y", "year"):
        return F.year(c)
    if part in ("m", "month"):
        return F.month(c)
    if part in ("d", "day"):
        return F.dayofmonth(c)
    return F.date_format(c, part)


# ---- numeric ----

def to_long(c: Column, group_sep: str = ",", decimal_sep: str = ".") -> Column:
    cleaned = F.replace(c.cast("string"), F.lit(group_sep), F.lit(""))
    # direct long cast first: exact for the full int64 range (a double
    # round-trip silently corrupts values above 2^53); decimal strings fall
    # back to the double path
    return F.coalesce(
        cleaned.try_cast("long"), cleaned.cast("double").cast("long")
    )


def to_double(c: Column, group_sep: str = ",", decimal_sep: str = ".") -> Column:
    cleaned = F.replace(c.cast("string"), F.lit(group_sep), F.lit(""))
    if decimal_sep != ".":
        cleaned = F.replace(cleaned, F.lit(decimal_sep), F.lit("."))
    return cleaned.cast("double")


# ---- url/json ----

def url_encode(c: Column) -> Column:
    return F.url_encode(c)


def url_decode(c: Column) -> Column:
    return F.url_decode(c)


def json_decode(c: Column, schema: str) -> Column:
    return F.from_json(c, schema)


# ---- html entities (Arrow UDFs — Python html lib for .NET parity) ----

@F.pandas_udf(StringType())
def html_decode_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for s in batches:
        yield s.map(lambda x: _html.unescape(x) if isinstance(x, str) else x)


@F.pandas_udf(StringType())
def html_encode_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for s in batches:
        yield s.map(lambda x: _html.escape(x, quote=True) if isinstance(x, str) else x)


# ---- replace list (ReplaceConverter.cs:38-163) ----

def replace_list(
    c: Column,
    replacements: List[Tuple[str, str]],
    regex: bool = False,
    evaluate_all: bool = True,
) -> Column:
    """Ordered replace list. evaluate_all=True applies every rule in order
    (EvaluateAll); False stops semantics collapse to a when-chain on match."""
    if evaluate_all:
        out = c
        for pat, rep in replacements:
            out = (
                F.regexp_replace(out, pat, rep)
                if regex
                else F.replace(out, F.lit(pat), F.lit(rep))
            )
        return out
    expr = c
    for pat, rep in reversed(replacements):
        hit = c.rlike(pat) if regex else c.contains(pat)
        val = (
            F.regexp_replace(c, pat, rep)
            if regex
            else F.replace(c, F.lit(pat), F.lit(rep))
        )
        expr = F.when(hit, val).otherwise(expr)
    return expr


# ---- array/complex (ComplexConverters.cs:33-236) ----

def arr_flatten(c: Column, sep: str = ";") -> Column:
    return F.array_join(c, sep)


def arr_first(c: Column) -> Column:
    return F.element_at(c, 1)


def arr_last(c: Column) -> Column:
    return F.element_at(c, -1)


def arr_count(c: Column) -> Column:
    return F.size(c)


# ---- PerlRegex (PerlRegex.cs:29-82) ----

def parse_perl_regex(expr: str, must_replace: bool = True):
    """Parse '<m|s><delim>pattern<delim>repl<delim>switches' (PerlRegex.cs:35-60).

    Any character after the leading m/s is the delimiter. Returns
    (kind, pattern, repl-or-None). Raises ValueError on the same inputs the
    reference raises BMException for."""
    if not expr or expr[0] not in ("m", "s") or len(expr) < 2:
        raise ValueError(
            f"Invalid PerlRegex expression [{expr}]. Must be formed like "
            "'<m|s>/<expr>/<repl>/<switches>'."
        )
    kind = expr[0]
    if must_replace and kind == "m":
        raise ValueError(f"PerlRegex expression [{expr}] is not a replace expression.")
    parts = expr.split(expr[1])
    if len(parts) < 2:
        raise ValueError(f"Invalid PerlRegex expression [{expr}].")
    if must_replace and len(parts) < 3:
        raise ValueError(f"PerlRegex expression [{expr}] is not a replace expression.")
    return kind, parts[1], parts[2] if len(parts) > 2 else None


def perl_regex_match(c: Column, expr: str) -> Column:
    """PerlRegex.IsMatch as a column predicate (null → no match, like the
    reference's null guard)."""
    _, pattern, _ = parse_perl_regex(expr, must_replace=False)
    return F.coalesce(c.rlike(pattern), F.lit(False))


def perl_regex_replace(c: Column, expr: str) -> Column:
    """PerlRegex.Replace: global regex replace with $1-style group refs
    (both .NET and Java use $n; null passes through)."""
    kind, pattern, repl = parse_perl_regex(expr, must_replace=True)
    if kind != "s":
        raise ValueError(f"PerlRegex expression [{expr}] is not a replace expression.")
    return F.regexp_replace(c, pattern, repl)
