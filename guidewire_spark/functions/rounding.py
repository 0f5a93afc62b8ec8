"""The one Spark-side rounding rule for float query outputs.

Every float a registry query returns is rounded through a DECIMAL
bridge so its value matches the DuckDB oracle, which writes the same
bridge as ``ROUND(CAST(expr AS DECIMAL(p,s)), n)``.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def stable_round(col: F.Column, dp: int, prec: str = "decimal(24,10)") -> F.Column:
    """Round ``col`` to ``dp`` places through ``prec``, as a double.

    Per-row ``round`` of a raw double differs between the engines on
    near-ties: Spark rounds 0.22499999999999998 (0.15 * 1.5) to 0.22,
    DuckDB to 0.23. Casting to a DECIMAL of higher scale than ``dp``
    first makes both engines round the same decimal value (0.2250000000
    -> 0.23).
    """
    return F.round(col.cast(prec), dp).cast("double")
