"""Z-order (Morton-curve) file layout for multi-dimensional data
skipping — the Delta/Iceberg OPTIMIZE ZORDER technique on plain
parquet.

Parquet readers prune files and row groups with min/max column stats.
Sorting by a single column gives perfect pruning on THAT column and
none on any other; interleaving the bits of two bucketed columns into
one Morton code and range-partition-sorting by it gives every file a
small rectangle of the (x, y) space, so selective filters on EITHER
dimension (or a box on both) skip most files. One range shuffle —
exactly what a nightly OPTIMIZE pass should cost.

Dimension normalization is equal-frequency: 2^DIM_BITS approximate
quantile boundaries per column (a driver-side list of 256 scalars from
``approxQuantile`` — stats-scale, never data-scale), then each value's
bucket is its boundary count. Equal-frequency rather than min-max
scaling keeps skewed dimensions from collapsing into a few buckets
(which would destroy the curve's locality). NEVER use a global
``percent_rank`` window for this — an un-partitioned window funnels the
whole table through one task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: bits per dimension (2 dims x 8 bits -> 16-bit Morton codes, 256
#: buckets per axis — file-level pruning needs far fewer distinct
#: rectangles than rows)
DIM_BITS = 8


def _interleave(x: Column, y: Column, bits: int = DIM_BITS) -> Column:
    """Morton code: bit i of x -> bit 2i, bit i of y -> bit 2i+1.
    Pure codegen'd bit arithmetic — no UDFs."""
    code = F.lit(0).cast("long")
    for i in range(bits):
        code = code.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
        code = code.bitwiseOR(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return code


def _bucket(value: Column, boundaries: list[float]) -> Column:
    """Equal-frequency bucket index = number of boundaries <= value.
    The boundary array is a few hundred scalars — a small literal, not
    a data-sized closure."""
    arr = F.array(*[F.lit(float(b)) for b in boundaries])
    return F.size(F.filter(arr, lambda b: value >= b)).cast("long")


def _proxy(c: str, dtype: str) -> Column:
    """Order-preserving numeric proxy for quantile bucketing.

    Strings use their first 6 bytes as a big-endian integer (the same
    truncation trick Iceberg's zorder uses): string order == proxy order
    up to 6-byte-prefix ties, so files sorted by proxy buckets carry
    NARROW native string min/max stats — point/range filters on the raw
    string column prune without any helper column or rewritten
    predicate. 6 bytes (2^48) stays exact in the double that
    approxQuantile works over; prefix ties only coarsen a bucket when
    >1/2^DIM_BITS of rows share a 6-byte prefix."""
    if dtype == "string":
        return F.conv(F.substring(F.hex(F.col(c).cast("binary")), 1, 12),
                      16, 10).cast("double")
    return F.col(c).cast("double")


def with_zorder(df: DataFrame, cols: list[str],
                out_col: str = "_z") -> DataFrame:
    """df + Morton code over exactly two columns (numeric or string),
    each bucketed into 2^DIM_BITS equal-frequency bins."""
    if len(cols) != 2:
        raise ValueError("z-ordering here interleaves exactly 2 columns")
    dtypes = dict(df.dtypes)
    n_buckets = 1 << DIM_BITS
    probs = [i / n_buckets for i in range(1, n_buckets)]
    buckets = []
    for c in cols:
        proxy = _proxy(c, dtypes[c])
        bnd = df.select(proxy.alias(c)).approxQuantile(c, probs, 0.001)
        buckets.append(F.least(_bucket(proxy, bnd), F.lit(n_buckets - 1)))
    return df.withColumn(out_col, _interleave(*buckets))


def zordered(df: DataFrame, cols: list[str],
             num_files: int = 16) -> DataFrame:
    """df laid out along the Morton curve, ready to write: range
    partitioned by the code (equal-frequency file splits), sorted
    within partitions so row groups inherit the locality, helper
    dropped. Only the layout changes; the rows are df's."""
    z = with_zorder(df, cols)
    return (z.repartitionByRange(num_files, F.col("_z"))
            .sortWithinPartitions("_z")
            .drop("_z"))
