"""Array / semi-structured expressions (SURVEY.md §2.9 F19–F21).

The reference parses JSON-array-as-string amenity lists with
``ast.literal_eval`` in a 16.2 s row-wise loop (src/transformacion.py:
106-154, log:56-57); here the same semantics are ``from_json`` +
higher-order functions — fully JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .cleaning import _col
from .text import strip_non_alnum


def parse_string_array(col: Column | str) -> Column:
    """F19 — string → array<string> with the reference's fallbacks
    (src/transformacion.py:126-137):

    * string starting with '[' → JSON-parse (parse failure → empty array)
    * NULL / '' / 'nan' → empty array
    * any other bare string → single-element array
    """
    c = _col(col).cast("string")
    trimmed = F.trim(c)
    return (
        F.when(c.isNull() | (trimmed == "") | (F.lower(trimmed) == "nan"),
               F.array().cast("array<string>"))
        .when(trimmed.startswith("["),
              F.coalesce(F.from_json(trimmed, "array<string>"),
                         F.array().cast("array<string>")))
        .otherwise(F.array(c))
    )


def clean_string_array(arr: Column | str) -> Column:
    """F20 — strip non-alphanumerics from each element, drop empties
    (src/transformacion.py:140-147)."""
    return F.filter(
        F.transform(_col(arr), lambda x: strip_non_alnum(x)),
        lambda x: x != "",
    )


#: F21 — the 10 amenity names flagged by the reference
#: (src/transformacion.py:156-183). Column name = amenity_{lower, spaces→_}.
AMENITY_NAMES = (
    "WiFi", "Kitchen", "Air conditioning", "Heating", "TV",
    "Washer", "Dryer", "Pool", "Gym", "Parking",
)


#: Join separator for packed containment checks: a control char that the
#: needles never contain, so a needle cannot falsely span two elements.
_SEP = chr(1)


def amenity_flags_packed(
    arr: Column | str, names: tuple[str, ...] = AMENITY_NAMES
) -> list[Column]:
    """F21, all flags in one pass: flag ``amenity_<name>`` is 1 if any
    array element case-insensitively *contains* the name as a
    substring, else 0. NULL arrays flag 0, matching the reference
    (missing amenities → all-zero flags, src/transformacion.py:169-183).

    Join the lowered elements with an unmatchable separator and run
    plain ``contains`` per needle. The joined-string subtree is
    IDENTICAL across all flags, so Spark's subexpression elimination
    evaluates the parse/join once. A per-flag ``exists`` defeats CSE
    (higher-order functions don't share) and re-evaluates the
    non-codegen array parse per flag — measured 11× slower at sf0.1.
    Equivalent semantics: needle ⊆ some element ⇔ needle ⊆ joined
    string, since needles contain no separator.
    """
    joined = F.lower(F.concat_ws(_SEP, _col(arr)))  # NULL array → '' → 0s
    return [
        F.contains(joined, F.lit(n.lower()))
        .cast("int")
        .alias(amenity_flag_name(n))
        for n in names
    ]


def amenity_flag_name(name: str) -> str:
    return "amenity_" + name.lower().replace(" ", "_")
