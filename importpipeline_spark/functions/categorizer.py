"""Categorization rule trees → chained CASE WHEN columns.

Reference: CategoryCollection/Category — each category has a selector over
record fields and writes into a destination field; nested sub-categories are
evaluated on match (/root/reference/ImportPipeline/Categorizer/Catergory.cs:32-141).
Selectors: string equality/regex (CategorySelectorString.cs), int/double
exact + ranges, ``or``/``and``/``not`` combinators
(Categorizer/CatergorySelector.cs:65-107) — equality and the combinators
are plain Column operators (``==``, ``|``, ``&``, ``~``) — and array fields
match if any element matches (CatergorySelector.cs:114-121).

Spark mapping: selectors are Column predicates (``F.exists`` for arrays);
category application is one chained ``F.when`` expression per collection —
pure Catalyst, codegen'd, no UDF. The three destination modes mirror cat
(string Append w/ ';'), intcat (ToArray), dblcat (OverWrite) —
Catergory.cs:96-133.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import List, Optional

from pyspark.sql import Column, DataFrame, functions as F


# ---- selectors ----

def sel_regex(col: str, pattern: str) -> Column:
    return F.col(col).rlike(pattern)


def sel_range(col: str, lo=None, hi=None) -> Column:
    """int/double range: lo <= x <= hi (either side open)."""
    c = F.col(col)
    pred = F.lit(True)
    if lo is not None:
        pred = pred & (c >= F.lit(lo))
    if hi is not None:
        pred = pred & (c <= F.lit(hi))
    return pred & c.isNotNull()


def sel_any_element(arr_col: str, pred_fn) -> Column:
    """Array field: match if any element matches (CatergorySelector.cs:114-121)."""
    return F.exists(F.col(arr_col), pred_fn)


# ---- categories ----

@dataclass
class Category:
    selector: Column
    value: object
    sub: List["Category"] = field(default_factory=list)


def apply_categories(
    df: DataFrame,
    categories: List[Category],
    dest: str,
    mode: str = "overwrite",
    sep: str = ";",
) -> DataFrame:
    """Apply a category collection.

    mode='overwrite' (dblcat semantics): last matching category wins.
    mode='append'    (cat semantics): all matching values joined with sep.
    mode='array'     (intcat semantics): all matching values as an array.
    Nested sub-categories are evaluated only when the parent matches.
    """

    def flatten(cats: List[Category], parent: Optional[Column]):
        out = []
        for c in cats:
            pred = c.selector if parent is None else (parent & c.selector)
            out.append((pred, c.value))
            out.extend(flatten(c.sub, pred))
        return out

    flat = flatten(categories, None)
    if mode == "overwrite":
        expr = F.lit(None)
        for pred, val in flat:
            expr = F.when(pred, F.lit(val)).otherwise(expr)
        return df.withColumn(dest, expr)
    arr = F.filter(
        F.array(*[F.when(p, F.lit(v)) for p, v in flat]), lambda x: x.isNotNull()
    )
    if mode == "array":
        return df.withColumn(dest, arr)
    if mode == "append":
        return df.withColumn(
            dest, F.when(F.size(arr) > 0, F.array_join(arr, sep))
        )
    raise ValueError(f"unknown mode {mode!r}")
