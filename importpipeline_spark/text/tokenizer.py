"""Pinned tokenization spec (analyzer v1) — the engine-side equivalent of the
reference's ES ``lc_text`` analysis chain
(/root/reference/ImportPipeline/index.config.js:66-76):

    html_strip (done upstream by extraction) → standard tokenizer →
    asciifolding → lowercase

Spec v1 (deterministic, version-pinned so index and query sides agree):

    1. fold special space/punct variants to ASCII (SpecialCharsReplacer)
    2. NFD → strip NonSpacingMark → NFC (NormalizeConverter semantics)
    3. lowercase (invariant)
    4. tokens = regex ``\\w+`` (unicode word chars)

Both the scalar form (used by the numpy BM25 oracle in tests) and the
pandas-vectorized form (used inside Arrow UDFs) live here and are asserted
equal in tests.
"""

from __future__ import annotations

import re
from typing import Iterator, List, Optional

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from .normalize import (
    _FOLD_TABLE,
    fold_special_chars,
    strip_diacritics,
    strip_diacritics_scalar,
)

TOKEN_RE = re.compile(r"\w+", re.UNICODE)
ANALYZER_VERSION = "v1"


def tokenize_scalar(text: Optional[str]) -> Optional[List[str]]:
    if text is None:
        return None
    folded = text.translate(_FOLD_TABLE)
    norm = strip_diacritics_scalar(folded)
    return TOKEN_RE.findall(norm.lower())


def tokenize_series(s: pd.Series) -> pd.Series:
    folded = fold_special_chars(s)
    norm = strip_diacritics(folded)
    return norm.str.lower().str.findall(TOKEN_RE)


@F.pandas_udf(ArrayType(StringType()))
def tokenize_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for s in batches:
        yield tokenize_series(s)


@F.pandas_udf(StringType())
def normalize_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """NormalizeConverter as a standalone column op (NFD → strip Mn → NFC —
    Converters/NormalizeConverter.cs:41-67)."""
    for s in batches:
        yield strip_diacritics(s)
