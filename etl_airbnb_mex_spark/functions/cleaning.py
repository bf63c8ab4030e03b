"""Cleaning / coercion / categorical expressions (SURVEY.md §2.9).

Exact reference semantics, cited per builder; all native expressions
(whole-stage codegen), no Python UDFs. ``try_cast`` is used instead of
``cast`` wherever junk input must coerce to NULL, so the builders behave
identically whether the session runs ANSI on or off.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    """A column name or Column as a Column — every function in this
    package accepts either."""
    return F.col(c) if isinstance(c, str) else c


def clean_price_null(price: Column | str) -> Column:
    """F2 — money-string to double; unparseable/NULL -> NULL.

    Reference: notebook re-implementation (nb:cell7:18-28) — strip ``$``
    and ``,`` then float(); failures stay NaN.
    """
    c = _col(price)
    return F.regexp_replace(c.cast("string"), r"[$,]", "").try_cast("double")


def clean_price(price: Column | str) -> Column:
    """F1 — money-string to double; NULL/''/unparseable -> 0.0.

    Reference: ``limpiar_precio`` (src/transformacion.py:14-23): strips
    ``[$,]``, parses float, returns 0.0 on any failure or missing value.
    """
    return F.coalesce(clean_price_null(price), F.lit(0.0))


def price_bucket(price: Column | str) -> Column:
    """F9 — price category (CASE), *including the NULL->0->'Económico' trap*.

    Reference: ``categorizar_precio_individual`` (src/transformacion.py:71-87)
    via ``float(p) if pd.notna(p) else 0`` — so NULL prices land in the
    lowest bucket, not in a sentinel category (SURVEY.md §7.4.6).
    Boundaries are inclusive (<=).
    """
    p = F.coalesce(_col(price).try_cast("double"), F.lit(0.0))
    return (
        F.when(p <= 500, "Económico")
        .when(p <= 1000, "Medio")
        .when(p <= 2000, "Medio-Alto")
        .when(p <= 5000, "Alto")
        .otherwise("Premium")
    )


def map_with_default(
    col: Column | str,
    mapping: dict[str, str],
    null_value: str = "No especificado",
) -> Column:
    """F10 — dict-map with passthrough default.

    Reference: ``mapear_categoria_seguro`` (src/transformacion.py:229-261):
    NULL -> sentinel; mapped keys translate; unmapped values pass through
    unchanged.
    """
    c = _col(col)
    expr: Column = c  # passthrough default
    for key, value in mapping.items():
        expr = F.when(c == key, F.lit(value)).otherwise(expr)
    return F.when(c.isNull(), F.lit(null_value)).otherwise(expr)


#: F11 truthy set (src/transformacion.py:280), lowercased+trimmed.
TRUTHY = ("t", "true", "1", "yes", "si")


def bool_encode(col: Column | str) -> Column:
    """F11 — truthy-string -> 1/0 int; NULL/other -> 0.

    Reference: src/transformacion.py:263-287 — lowercase+strip membership
    in {'t','true','1','yes','si'}; native booleans honored; default 0.
    """
    c = _col(col)
    s = F.lower(F.trim(c.cast("string")))
    return F.when(s.isin(*TRUTHY), F.lit(1)).otherwise(F.lit(0))


def bool_encode_narrow(col: Column | str) -> Column:
    """F12 — narrow availability map {'t':1,'f':0}, else/NULL -> 0.

    Reference: src/transformacion.py:396-397.
    """
    c = _col(col).cast("string")
    return F.when(c == "t", 1).when(c == "f", 0).otherwise(0)


def numeric_coerce(col: Column | str, default: float = 0.0) -> Column:
    """F14 — to_numeric(errors='coerce').fillna(default).

    Reference: src/transformacion.py:289-303 — junk strings coerce to
    NULL then fill with 0. ``try_cast`` yields NULL on junk exactly like
    ``errors='coerce'``.
    """
    return F.coalesce(_col(col).try_cast("double"), F.lit(float(default)))


def text_fill_sentinel(
    col: Column | str, sentinel: str = "No especificado"
) -> Column:
    """F8 — fillna(sentinel) + str + strip for text/category columns.

    Reference: src/transformacion.py:307-316.
    """
    c = _col(col)
    return F.trim(F.coalesce(c.cast("string"), F.lit(sentinel)))
