"""Multi-dimensional data layout: Z-order (Morton) interleaving, in Spark
and in the portable SQL the oracle runs.

Why this exists at 100 TB: partition pruning handles ONE dimension (the
directory key); every other predicate relies on parquet row-group/file
min-max statistics. A sort on ``(x, y)`` gives perfect stats on ``x`` and
useless ones on ``y``; interleaving the bits of both keys into a single
Morton code and range-partitioning + sorting on it keeps BOTH columns'
per-file ranges narrow, so a scan with a filter on either dimension skips
most files. This is the same layout trick Delta/Iceberg expose as
``OPTIMIZE ... ZORDER BY``; ``plans/lakehouse.zorder_locality_stats``
measures it.

Everything is integer bit arithmetic in JVM-codegen'd expressions
(``shiftright``/``&``/``*``/``+``) — exactly reproducible in any engine,
which is what makes the locality statistics oracle-checkable bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def zvalue(x: Column | str, y: Column | str, bits: int = 8) -> Column:
    """Morton code of two non-negative ints confined to ``bits`` bits each:
    bit i of x lands at position 2i, bit i of y at 2i+1.

    Unrolled into 2·bits codegen'd terms (shift/mask/add) — constant-folded
    per row, no loops, no UDF. Inputs are masked to ``bits`` bits so callers
    can pass raw keys; map keys onto the low bits yourself (e.g. ``% 256``)
    if their distribution lives in the high bits."""
    cx = (F.col(x) if isinstance(x, str) else x).cast("long")
    cy = (F.col(y) if isinstance(y, str) else y).cast("long")
    z: Column = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftright(cx, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
        z = z + F.shiftright(cy, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1))
    return z


def zvalue_sql(x: str, y: str, bits: int = 8) -> str:
    """The identical Morton expression in portable SQL (DuckDB oracle form):
    same shift/mask/multiply terms in the same order as :func:`zvalue`."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"((({y} >> {i}) & 1) * {1 << (2 * i + 1)})")
    return "(" + " + ".join(terms) + ")"
