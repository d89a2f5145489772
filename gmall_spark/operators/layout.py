"""Write-time data layout: Morton (z-order) clustering for multi-dimensional
zone-map skipping.

Why this exists: parquet row-group min/max stats (and file-level stats in
Delta/Iceberg manifests) prune a scan only if the writer kept each file's
bounding box small in every dimension the readers filter on. A linear sort
keeps ONE dimension tight; interleaving the quantized bits of k dimensions
into a single sort key (the Morton curve) keeps all k boxes small at the cost
of each being a little looser — the standard warehouse layout choice (Delta
`OPTIMIZE ZORDER BY`, Iceberg sort orders) re-expressed as plain Spark:
quantize → static bit-interleave expression → repartitionByRange + local sort.
No UDF anywhere: the z-value is a 2·bits-term integer expression inside
whole-stage codegen.

The measurement twin lives in `queries.py::zorder_skipping` (equal-row file
split + zone-map scan counts, integer-exact so the DuckDB oracle replays the
exact scan set). This module is the production writer: range-partitioned by
z (planner-sampled bounds — the right tool for a real write, not
oracle-replayable, which is why the registry entry uses ntile instead), one
shuffle, one local sort, parquet row-group stats do the rest.

Scale shape: bounds are one 2k-scalar aggregate; repartitionByRange samples
the z column (one extra pass over the projected key, standard for sorted
writes); everything else is embarrassingly parallel. At 100 TB this is the
same plan a `df.sortWithinPartitions` compaction job runs — no driver-side
data movement beyond the 2k bound scalars.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gmall_spark.session import conf_scope


def quantize(col: Column, lo: Column, hi: Column, bits: int = 16) -> Column:
    """Map col ∈ [lo, hi] to an integer cell in [0, 2^bits): integer
    multiply-then-divide (exact in bigint for epoch-seconds × 65535 scale),
    degenerate span → cell 0."""
    span = F.when(hi > lo, hi - lo).otherwise(F.lit(1))
    q = ((col - lo) * ((1 << bits) - 1)).cast("long") / span.cast("long")
    # integer floor division: cast the exact quotient AFTER a floor — the
    # operands are nonnegative, so floor == trunc and this matches `div`
    return F.floor(q).cast("long")


def zvalue(cells: Sequence[Column], bits: int = 16) -> Column:
    """Bit-interleave k pre-quantized cells (each in [0, 2^bits)) into one
    Morton key: bit j of dim d lands at position j*k + d. Static expression,
    whole-stage codegen, no UDF; k·bits ≤ 63 to stay in a signed long."""
    k = len(cells)
    if k * bits > 63:
        raise ValueError(f"{k} dims × {bits} bits exceeds a signed long")
    terms = []
    for d, c in enumerate(cells):
        for j in range(bits):
            terms.append(F.shiftleft(F.shiftright(c, j).bitwiseAND(F.lit(1)), j * k + d))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def with_zvalue(
    df: DataFrame,
    dims: Sequence[str],
    bits: int = 16,
    out_col: str = "_z",
) -> DataFrame:
    """Append the Morton key over numeric columns `dims`. Bounds come from
    one global aggregate (2k scalars to the driver — loop control, not data);
    cast timestamps to epoch seconds before calling."""
    aggs = []
    for d in dims:
        aggs += [F.min(d).alias(f"_lo_{d}"), F.max(d).alias(f"_hi_{d}")]
    bounds = df.agg(*aggs).first()
    # empty input (or all-null dim): no rows can reach the z expression, so
    # any constant bounds are correct — avoid int(None)
    cells = [
        quantize(
            F.col(d).cast("long"),
            F.lit(int(bounds[f"_lo_{d}"] or 0)),
            F.lit(int(bounds[f"_hi_{d}"] or 0)),
            bits,
        )
        for d in dims
    ]
    return df.withColumn(out_col, zvalue(cells, bits))


#: range-boundary sample per output file (Spark's default is 100). The
#: sampler's seed is the shuffle RDD's id, so with 100 the files' bounding
#: boxes moved with the session's history: 8 files of sf0.01 events measured
#: a mean te span of 0.571-0.601 across RDD-id offsets, and 0.579 at every
#: offset with 10,000. Spark caps the total sample at 1M keys.
_RANGE_SAMPLE_PER_FILE = 10_000


def write_zordered(
    df: DataFrame,
    path: str,
    dims: Sequence[str],
    n_files: int = 32,
    bits: int = 16,
) -> None:
    """Z-ordered parquet write: one range shuffle on the Morton key, local
    sort, drop the key, write. Readers filtering on any subset of `dims` get
    row-group/file skipping from the stats parquet already records."""
    z = with_zvalue(df, dims, bits)
    with conf_scope(
        df.sparkSession,
        {"spark.sql.execution.rangeExchange.sampleSizePerPartition": _RANGE_SAMPLE_PER_FILE},
    ):
        (
            z.repartitionByRange(n_files, F.col("_z"))
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.mode("overwrite")
            .parquet(path)
        )


def optimize_zorder(
    spark,
    path: str,
    dims: Sequence[str],
    n_files: int = 32,
    bits: int = 16,
) -> None:
    """In-place re-layout of an existing parquet directory (the OPTIMIZE
    ZORDER BY maintenance job): read, Morton-cluster, write to a sibling
    temp dir, atomically swap (same crash discipline as
    sinks.batch.compact_parquet — leftover dirs refuse, backup survives
    until the new tree reads back)."""
    import os

    tmp = path.rstrip("/") + "__zordering"
    old = path.rstrip("/") + "__old"
    for leftover in (tmp, old):
        if os.path.exists(leftover):
            raise RuntimeError(
                f"optimize_zorder: leftover {leftover!r} from a previous "
                "failed run — resolve it (restore or delete) before re-running"
            )
    from gmall_spark.sinks.batch import swap_parquet_dirs

    write_zordered(spark.read.parquet(path), tmp, dims, n_files=n_files, bits=bits)
    swap_parquet_dirs(spark, path, tmp, old)
