"""The engine's one 6dp output grid as a Column expression."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def r6(col: Column) -> Column:
    """Round half-up onto the 6dp grid: ``floor(x * 1e6 + 0.5) / 1e6``.

    Not ``round(x, 6)``: a rational value (a mean, a share) can land on
    an EXACT .5 at 6dp, where Spark's BigDecimal round and DuckDB's
    double round diverge — and where the value gates a filter, a tie
    flip changes the row set. Both engines evaluate this floor form
    identically, so every grid-rounded output hash-matches its oracle.
    """
    return F.floor(col * 1_000_000 + F.lit(0.5)) / 1_000_000
