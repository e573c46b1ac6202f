"""Timestamp crossings between the Python driver and the JVM.

PySpark converts ``datetime`` OBJECTS across the py4j boundary with the
PYTHON PROCESS timezone (``TimestampType.toInternal``/``fromInternal``),
while everything JVM-side — casts, ``to_timestamp``, ``date_format`` —
uses the SESSION timezone.  On a host whose process tz differs from the
session tz the two disagree and every object crossing silently shifts a
timestamp by the tz offset (caught by a TZ=America/New_York full-oracle
sweep: the shipper's cursor window moved 5 h).

The engine therefore holds one invariant: **driver-side naive datetimes
are SESSION-timezone wall clock** (the engine pins the session to UTC —
``sources/tables.py``/``session.py``), and timestamps never cross the
boundary as objects:

- COLLECT via :func:`ts_string` + :func:`parse_wall` — the JVM renders
  the session-tz wall clock (``date_format``), correct for both
  TIMESTAMP and TIMESTAMP_NTZ columns — or, for a TIMESTAMP column, via
  ``toArrow``, which hands it over as ``timestamp[us, tz=UTC]`` instants;
- SEND via :func:`wall_string` + a JVM-side parse (``to_timestamp`` or
  a string cast), which interprets in session tz;
- EPOCH SECONDS via :func:`epoch_utc` — a naive wall clock is UTC by
  the invariant, never the process-local time ``.timestamp()`` assumes.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column
from pyspark.sql import functions as F

# Spark (JVM) pattern rendering full microsecond precision
TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def ts_string(col: Column | str) -> Column:
    """JVM-side session-tz wall-clock rendering of a timestamp column —
    the collect-safe form of the column."""
    return F.date_format(col, TS_FMT_SPARK)


def parse_wall(s: str | None) -> dt.datetime | None:
    """Driver-side parse of a :func:`ts_string` value."""
    return dt.datetime.fromisoformat(s) if s is not None else None


def wall_string(d: dt.datetime) -> str:
    """Driver-side rendering of a naive wall-clock datetime for a
    JVM-side parse (``to_timestamp`` / string cast)."""
    return d.isoformat(sep=" ")


def to_ts(col: Column | str) -> Column:
    """JVM-side parse of a :func:`wall_string` column (session tz)."""
    return F.to_timestamp(col)


def epoch_utc(d: dt.datetime) -> float:
    """Epoch seconds of a naive SESSION(UTC)-wall-clock datetime."""
    return d.replace(tzinfo=dt.timezone.utc).timestamp()


__all__ = [
    "TS_FMT_SPARK",
    "epoch_utc",
    "parse_wall",
    "to_ts",
    "ts_string",
    "wall_string",
]
