"""Z-order (Morton) data layout: multi-column clustering keys for
write-time file organization.

The 100 TB problem this solves: parquet pruning works off per-file/
row-group min-max stats, and a table sorted by ONE column gives perfect
pruning on that column and none on any other. Interleaving the bits of
several normalized columns into one Morton key and range-partitioning +
sorting the write on it gives every participating column partial
locality — a 2-D box predicate touches O(perimeter) files instead of
O(table) (the technique behind Delta/Iceberg ``OPTIMIZE ZORDER BY``;
Morton 1966). The reference, loading into Oracle heap tables with
indexes, has no layout operator at all — on a data lake, layout IS the
index.

Everything here is integer bit algebra over already-normalized grid
coordinates — exact, engine-neutral (DuckDB mirrors it with the same
``<< >> & |`` operators), and codegen-friendly: all shift amounts are
Python-literal constants at expression-build time, so no variable-shift
workarounds are needed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Bits per grid coordinate; the registry's DuckDB twin reads it too.
ZORDER_BITS = 16


def normalize_to_grid(c: Column, hi: int) -> Column:
    """Map an integer column in [0, hi] onto the [0, 2^ZORDER_BITS) grid:
    ``floor(c * (2^ZORDER_BITS - 1) / hi)``. The numerator stays below
    2^47 for any 32-bit range at 16 bits, so the double division is
    exact and the floor is the true integer quotient — identical on both
    engines. Values are clamped into the range first, so out-of-bound
    rows land on the grid edge instead of corrupting the key. ``hi`` is
    a caller-supplied constant (profile bound, domain knowledge) — not
    computed here, so the expression stays a pure per-row map with no
    extra pass."""
    if hi <= 0:
        raise ValueError(f"need hi > 0, got {hi}")
    cells = (1 << ZORDER_BITS) - 1
    clamped = F.least(F.greatest(c.cast("long"), F.lit(0)), F.lit(hi))
    return F.floor(clamped * F.lit(cells) / F.lit(hi)).cast("long")


def zorder_key(cols: Sequence[Column]) -> Column:
    """Morton interleave of ``len(cols)`` grid coordinates (each already
    in [0, 2^ZORDER_BITS), e.g. from :func:`normalize_to_grid` —
    fractional inputs are floored). Bit ``b`` of column ``i`` lands at
    position ``b * n_cols + i`` of the key, so the key's high bits
    alternate between columns and sorting by it tiles the space into
    nested quadrants. Total key width ``ZORDER_BITS * n_cols`` must fit
    a long (< 63)."""
    n = len(cols)
    if n < 1:
        raise ValueError("zorder_key needs at least one column")
    if ZORDER_BITS * n > 62:
        raise ValueError(
            f"{n} cols x {ZORDER_BITS} bits = {ZORDER_BITS * n} > 62 key bits"
        )
    ints = [F.floor(c).cast("long") for c in cols]
    parts = []
    for b in range(ZORDER_BITS):
        for i, c in enumerate(ints):
            # ((c >> b) & 1) << (b * n + i) — literal shift amounts only
            parts.append(
                F.shiftleft(
                    F.shiftright(c, b).bitwiseAND(F.lit(1)), b * n + i
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.bitwiseOR(p)
    return out


def sql_zorder_key(col_sqls: Sequence[str]) -> str:
    """DuckDB twin of :func:`zorder_key` over the same grid coordinates
    (each SQL snippet must already evaluate to the integer grid cell)."""
    n = len(col_sqls)
    parts = []
    for b in range(ZORDER_BITS):
        for i, c in enumerate(col_sqls):
            parts.append(f"(((CAST({c} AS BIGINT) >> {b}) & 1) << {b * n + i})")
    return " | ".join(parts)
