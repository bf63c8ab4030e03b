"""Scalar Column builders — the engine's expression library.

Every scalar semantic of the reference (SURVEY.md §2.9, F1–F21) compiled
to native Catalyst expressions: zero Python UDFs, so everything stays
inside whole-stage codegen. Each builder is ``(Column|str, ...) -> Column``
and composes freely inside select/withColumn/agg.
"""

from .cleaning import (
    bool_encode,
    bool_encode_narrow,
    clean_price,
    clean_price_null,
    map_with_default,
    numeric_coerce,
    price_bucket,
    text_fill_sentinel,
)
from .dates import (
    date_normalize,
    date_parts,
    month_name,
    month_trunc,
    weekday_mon0,
)
from .text import (
    lang_id_score,
    quality_score_cols,
    sentiment_score,
    string_length_compat,
    strip_non_alnum,
    title_case,
    tokenize,
)
from .arrays import (
    clean_string_array,
    parse_string_array,
)

__all__ = [
    "bool_encode",
    "bool_encode_narrow",
    "clean_price",
    "clean_price_null",
    "clean_string_array",
    "date_normalize",
    "date_parts",
    "lang_id_score",
    "map_with_default",
    "month_name",
    "month_trunc",
    "numeric_coerce",
    "parse_string_array",
    "price_bucket",
    "quality_score_cols",
    "sentiment_score",
    "string_length_compat",
    "strip_non_alnum",
    "text_fill_sentinel",
    "title_case",
    "tokenize",
    "weekday_mon0",
]
