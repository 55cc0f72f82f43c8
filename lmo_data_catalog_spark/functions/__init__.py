"""Scalar expression helpers (SURVEY §2.7) — all JVM-side built-ins.

Each maps a reference scalar function to a ``pyspark.sql.functions``
expression; none require Python UDFs, so everything stays inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def separate(col: Column | str, sep: str, names: tuple[str, str]) -> list[Column]:
    """``tidyr::separate`` into exactly two parts (01_source_me.R:336).

    limit=2 so the 2nd part may itself contain the separator.
    """
    c = F.col(col) if isinstance(col, str) else col
    parts = F.split(c, sep, 2)
    return [parts.getItem(0).alias(names[0]), parts.getItem(1).alias(names[1])]


def epoch_us(col: Column | str) -> Column:
    """Microseconds since the naive epoch, timestamp-type-agnostic.

    The driver's testdata parquet carries ``isAdjustedToUTC=false``
    timestamps, which Spark's reader infers as TIMESTAMP_NTZ when
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` is on — and
    ``F.unix_micros`` rejects NTZ input outright. Casting to
    TIMESTAMP_NTZ first (a no-op for NTZ; UTC wall clock for LTZ under
    this package's UTC session) and differencing against the NTZ epoch
    yields the same value either way, and matches DuckDB's
    ``epoch_us()`` on the same naive parquet timestamps exactly —
    independent of which type the reader inferred and of session
    timezone on the NTZ path.
    """
    c = F.col(col) if isinstance(col, str) else col
    base = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return F.timestamp_diff("MICROSECOND", base, c.cast("timestamp_ntz"))
