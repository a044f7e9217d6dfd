"""Fixed-point money: the one place engine code builds a cents expression.

The fixture's money columns are 2dp values stored as doubles, and a
``sum(double)`` over them is not exact: float addition order follows
partitions and scheduling, so a large group can cross a cent boundary.
Every money aggregate therefore snaps each row to integer cents, sums the
integers (associative, so order cannot matter) and divides once at the
final projection (``audit.py``).

Two snap variants stay separate because each key's optimized plan is
pinned to the one it was written with. They agree on 2dp data:

- :func:`cents`: ``round(x * 100)``, half away from zero;
- :func:`cents_floor`: ``floor(x * 100 + 0.5)``, half up through IEEE
  arithmetic, identical across engines.

The ``*_sql`` names are SQL-text twins for SQL strings that embed a
snap. ``audit.find_handwritten_cents`` flags a hand-written
``F.round(x * 100)`` or ``F.floor(x * 100 + 0.5)`` anywhere else in the
package.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def cents(col: str | Column) -> Column:
    """``col`` (a name or a Column) as integer cents, ``round(x * 100)``."""
    return F.round(_col(col) * 100).cast("long")


def cents_floor(col: str | Column) -> Column:
    """``col`` as integer cents, ``floor(x * 100 + 0.5)``."""
    return F.floor(_col(col) * 100 + 0.5).cast("long")


def vol_e4() -> Column:
    """Exact e-4 fixed-point revenue term: ``l_extendedprice`` cents ×
    (1 - ``l_discount``) cents. Sums of it are integral; divide by 10000
    once."""
    return cents("l_extendedprice") * cents(1 - F.col("l_discount"))


def money_sum(cents_col: Column) -> Column:
    """Aggregate: a sum of integer cents back in money units, rounded once
    to 2dp."""
    return F.round(F.sum(cents_col) / 100, 2)


def cents_sql(col: str) -> str:
    """SQL twin of :func:`cents`."""
    return f"CAST(round({col} * 100, 0) AS BIGINT)"


def cents_floor_sql(col: str) -> str:
    """SQL twin of :func:`cents_floor`."""
    return f"CAST(floor({col} * 100 + 0.5) AS BIGINT)"


# SQL twin of :func:`vol_e4`.
VOL_E4_SQL = f"{cents_sql('l_extendedprice')} * {cents_sql('(1 - l_discount)')}"
