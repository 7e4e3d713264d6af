"""Scalar expression helpers — native Catalyst expressions, zero UDFs.

The reference implements these as per-row Python functions
(SURVEY.md §2.10/§2.13): ``format_laptime`` (qualifyingdag.py:49-51,
practicedag.py:54-60) and ``format_date`` (scheduledag.py:35-40).
Re-expressed here as column expressions they stay inside whole-stage
codegen — the JVM evaluates them over Tungsten columnar batches, so
they cost nothing extra at 100 TB, versus a per-row Python round-trip
in the reference.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def format_laptime(seconds: Column) -> Column:
    """Seconds (double) -> ``MM:SS.mmm`` string; NULL passes through.

    Mirrors the reference's ``format_timedelta``
    (practicedag.py:54-60) which uses ``total_seconds()`` — the
    correct variant; the quali formatter's ``.seconds`` truncation bug
    (qualifyingdag.py:49-51, wrong for >1h) is deliberately NOT
    reproduced (SURVEY.md §7.3 hard-part a).
    """
    # decompose from TOTAL milliseconds so the rounded millisecond
    # carries into seconds (0.9999s -> 00:01.000, not 00:00.1000 —
    # edge found by the hypothesis property test)
    ms_total = F.round(seconds * 1000).cast("long")
    return F.when(
        seconds.isNotNull(),
        F.format_string(
            "%02d:%02d.%03d",
            F.floor(ms_total / 60000).cast("long"),
            F.floor((ms_total % 60000) / 1000).cast("long"),
            ms_total % 1000,
        ),
    )


def format_iso8601(ts: Column) -> Column:
    """Timestamp -> ``yyyy-MM-ddTHH:mm:ssZ``; empty string for NULL.

    Mirrors ``format_date`` (scheduledag.py:35-40) including its
    empty-string-for-NaT convention.
    """
    return F.coalesce(F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'"), F.lit(""))


def composite_key(*cols: Column | str, sep: str = "_") -> Column:
    """Natural composite key by string concat.

    Mirrors ``f"{year}_{round}"`` (racedag.py:49) /
    ``str(round)+'-'+str(year)`` (scheduledag.py:43).
    """
    return F.concat_ws(sep, *[F.col(c).cast("string") if isinstance(c, str) else c.cast("string") for c in cols])
