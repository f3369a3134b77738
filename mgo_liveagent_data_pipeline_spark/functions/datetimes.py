"""Datetime expression library (reference ops F7, F8, F11, F16).

The reference's timestamp pipeline (utils/date_utils.py:4-12): parse with
errors='coerce', localize naive values as UTC, convert to Asia/Manila, then
drop the tz. Manila is UTC+8 with no DST, so the conversion is a fixed
8-hour shift — but we still express it as ``from_utc_timestamp`` so the code
stays correct if the zone ever gains rules.
"""
from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MANILA_TZ = "Asia/Manila"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# F7 — parse + tz pipeline (utils/date_utils.py:4-12)
def to_manila(ts: Column | str) -> Column:
    """UTC instant → Manila wall clock, tz-naive (what the reference loads)."""
    return F.from_utc_timestamp(_c(ts), MANILA_TZ)


# F8 — trailing window (utils/date_utils.py:14-21)
def tumbling_6h_bucket(ts: Column | str) -> Column:
    """Assign each event to its 6-hour tumbling window start.

    The reference computed [start, start+6h) windows in Python per run
    (extraction_helpers.py:88-93); as an expression it's a truncating
    epoch-divide, which vectorizes and partition-prunes.
    """
    sec = F.unix_timestamp(_c(ts))
    return F.timestamp_seconds((sec - sec % (6 * 3600)).cast("long"))


# F11 — schedule date+time fusion (extraction_helpers.py:164-216).
# The reference tries '%I%p' then '%I:%M%p' on AM/PM-ish free text, strips
# spaces, defaults to midnight, null-safe throughout.
def fuse_schedule(date_col: Column | str, time_col: Column | str) -> Column:
    # try_cast, not to_date: under ANSI (Spark 4 default) to_date throws on
    # malformed input; the reference's contract is coerce-to-null
    # (errors='coerce', extraction_helpers.py:176)
    d = _c(date_col).try_cast("date")
    t_raw = F.upper(F.regexp_replace(_c(time_col), r"\s+", ""))
    parsed = F.coalesce(
        F.try_to_timestamp(t_raw, F.lit("ha")),      # '3PM'
        F.try_to_timestamp(t_raw, F.lit("h:mma")),   # '11:30AM'
        F.try_to_timestamp(t_raw, F.lit("H:mm")),    # '14:30'
    )
    # combine: date at midnight + parsed time-of-day (midnight if unparseable)
    seconds = F.coalesce(
        F.hour(parsed) * 3600 + F.minute(parsed) * 60 + F.second(parsed), F.lit(0)
    )
    return F.when(
        d.isNotNull(),
        F.timestamp_seconds(F.unix_timestamp(d.cast("timestamp")) + seconds),
    )


# F16 — ISO serialization (api/logs/routes.py:15-25)
def to_iso(ts: Column | str) -> Column:
    return F.date_format(_c(ts), "yyyy-MM-dd'T'HH:mm:ss")
