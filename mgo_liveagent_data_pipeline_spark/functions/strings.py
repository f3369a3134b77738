"""String expression library (reference ops F1-F3, F13).

Everything here returns a Column built purely from ``pyspark.sql.functions``
— JVM-side, whole-stage-codegen'd, no Python in the hot path. The reference
did each of these with row-at-a-time pandas ``.apply`` / ``str`` methods.
"""
from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# F1 — reference_code regex (core/extract/helpers/extraction_helpers.py:24-29)
REFERENCE_CODE_PATTERN = r"Ref:\s*([A-Z0-9]+)\b"
NO_REFERENCE_CODE = "No Reference code"


def extract_reference_code(
    message: Column | str,
    pattern: str = REFERENCE_CODE_PATTERN,
    default: str = NO_REFERENCE_CODE,
) -> Column:
    """``Ref:\\s*([A-Z0-9]+)`` → captured group, else a default marker.

    ``regexp_extract`` returns '' on miss, so nullif+coalesce supplies the
    reference's default string (extraction_helpers.py:27-29).
    """
    col = F.col(message) if isinstance(message, str) else message
    return F.coalesce(
        F.nullif(F.regexp_extract(col, pattern, 1), F.lit("")), F.lit(default)
    )


# F2 — diacritic strip + lowercase (core/Geocode.py:36-40)
def clean_str(col: Column | str) -> Column:
    """ñ / mojibake'd ñ → n, lowercased — the gazetteer-side normalizer."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_replace(F.regexp_replace(c, "ã±", "n"), "ñ", "n"))


# F3 — location normalizer (utils/geocode_utils.py:5-14)
def normalize_location(col: Column | str) -> Column:
    """lowercase, drop non-alpha, drop 'city of'/'municipality of',
    expand gen→general / sto→santo, collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, r"[^a-z\s]", " ")
    c = F.regexp_replace(c, r"\b(city of|municipality of|city|municipality)\b", " ")
    c = F.regexp_replace(c, r"\bgen\b", "general")
    c = F.regexp_replace(c, r"\bsto\b", "santo")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


# F13 — name resolution coalesce (core/TicketMessageProcessor.py:196-205)
UNKNOWN_NAME = "Unknown Name"


def resolve_name(
    name: Column | str, email: Column | str, default: str = UNKNOWN_NAME
) -> Column:
    """name → email → 'Unknown Name', treating blank/whitespace as missing."""
    n = F.col(name) if isinstance(name, str) else name
    e = F.col(email) if isinstance(email, str) else email
    return F.coalesce(
        F.nullif(F.trim(n), F.lit("")), F.nullif(F.trim(e), F.lit("")), F.lit(default)
    )
