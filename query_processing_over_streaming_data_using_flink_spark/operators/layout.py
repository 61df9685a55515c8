"""Data-layout operators: partitioned corpus writes and small-file
compaction.

No reference counterpart (the reference reads/writes single local CSVs)
— but at 100 TB the file layout *is* the query plan: partition pruning
only works if the data is partitioned by the pruning column, scans only
run at disk bandwidth if files are near the parquet row-group sweet
spot, and a day of streaming micro-batches leaves thousands of tiny
files that turn listing into the bottleneck. These helpers make the
layout decisions explicit and testable.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TARGET_FILE_BYTES = 128 << 20  # parquet row-group sweet spot


def fanout(df: DataFrame, target: int | None = None) -> DataFrame:
    """Spread an under-parallel frame across the session's cores before
    CPU-heavy per-row work (shingle hashing, BPE, n-gram explodes).

    Parquet splitting is row-group-bounded: a single-row-group file
    scans as ONE task no matter how many cores the session has, and
    every expression computed map-side above that scan runs on one
    core. This helper repartitions to the session's default parallelism
    — but ONLY when the frame is narrower than that, so it is
    scale-adaptive rather than tuned for local mode: a production scan
    arrives thousands of splits wide and the repartition never fires
    (the partition-count probe is plan-only, no job). Column pruning
    pushes through the exchange, so only the columns the caller selects
    ride the shuffle.

    No-op for streaming frames (micro-batch planning re-splits on its
    own, and the probe needs an RDD).
    """
    if df.isStreaming:
        return df
    spark = df.sparkSession
    if target is None:
        target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)

# Z-order quantization width. 16 bits per dimension → 32-bit keys:
# plenty of resolution for file-level clustering (even a 100 TB table
# has < 2^32 files) while every intermediate stays far inside int64.
ZBITS = 16
ZMAX = (1 << ZBITS) - 1


def quantize_dim(v: Column, vmin: Column, vmax: Column, zmax: int = ZMAX) -> Column:
    """Map `v` (int64) into [0, zmax] by exact integer arithmetic —
    (v-min)·zmax integer-divided by (max-min) — so Spark and any
    replaying engine produce bit-identical ranks. The product can
    exceed 2^53 (epoch-microsecond deltas × 65535), where double
    division silently rounds, so the divide runs in decimal(38,0):
    exact at any int64 magnitude, identical to BIGINT `//` in an
    oracle engine. A constant column (max == min) quantizes to 0."""
    span = vmax - vmin
    scaled = ((v - vmin).cast("decimal(38,0)") * F.lit(zmax)).cast("decimal(38,0)")
    return F.when(span <= 0, F.lit(0).cast("long")).otherwise(
        F.floor(scaled / span.cast("decimal(38,0)")).cast("long")
    )


def _spread16(v: Column) -> Column:
    """Spread the low 16 bits of `v` to even bit positions 0,2,...,30
    (the textbook Morton-code bit-dilation ladder: each step doubles
    the gap between occupied bit groups). Pure shift/mask expressions
    — whole-stage-codegen'd, exactly replayable in any engine with
    64-bit << and &."""
    v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF))
    v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x33333333))
    v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x55555555))
    return v


def zorder_key(x_q: Column, y_q: Column) -> Column:
    """Interleave two 16-bit quantized dimensions into one 32-bit
    Morton (Z-order) key: bit i of x lands at position 2i, bit i of y
    at 2i+1. Sorting by this key gives every contiguous run of rows —
    hence every parquet file under a sorted write — a small RECTANGLE
    of (x, y) space instead of a thin full-width slab, so min/max
    zone maps prune scans for predicates on EITHER or BOTH dimensions.
    This is the layout story a 100 TB fact table lives or dies on:
    a time-only sort prunes time predicates but reads every file for
    a key predicate; the Z-order layout prunes both at once."""
    return _spread16(x_q).bitwiseOR(F.shiftleft(_spread16(y_q), 1))


# Hilbert quantization width: 8 bits per dimension → a 256×256 grid of
# curve cells, plenty for FILE-level clustering (files ≪ 2^16) while
# keeping the unrolled rotation ladder shallow.
HILBERT_ORDER = 8


def with_hilbert_key(
    df: DataFrame, x_q: str, y_q: str, out: str = "_hkey", order: int = HILBERT_ORDER
) -> DataFrame:
    """Append the Hilbert-curve index of quantized dims (`x_q`, `y_q`,
    each in [0, 2^order)) as column `out` — the classic xy2d walk,
    unrolled into `order` chained projections (each step extracts one
    quadrant bit pair, accumulates its curve offset, and rotates the
    frame). Why next to `zorder_key`: the Z curve teleports at
    quadrant seams (…01111 → 10000 jumps across the whole span), so a
    key-range file can briefly cover two far-apart rectangles; the
    Hilbert curve is seam-free — consecutive cells are always grid
    neighbors, giving strictly tighter worst-case file bounding boxes.
    Chained `select`s keep the expression tree linear in `order`
    (a single nested expression triples per step — 3^8 leaves);
    Catalyst's CollapseProject keeps multiply-referenced non-cheap
    aliases materialized, so the plan stays one narrow projection
    chain. All-integer, engine-replayable."""
    d, x, y = f"{out}__d", f"{out}__x", f"{out}__y"
    cur = df.withColumns(
        {d: F.lit(0).cast("long"), x: F.col(x_q), y: F.col(y_q)}
    )
    s = 1 << (order - 1)
    while s > 0:
        rx = F.when(F.col(x).bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        ry = F.when(F.col(y).bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        step = {
            d: F.col(d) + F.lit(s * s) * (rx * 3).bitwiseXOR(ry).cast("long"),
            # ry == 0 → reflect when rx == 1, then swap x and y.
            x: F.when(
                ry == 0,
                F.when(rx == 1, F.lit(s - 1) - F.col(y)).otherwise(F.col(y)),
            ).otherwise(F.col(x)),
            y: F.when(
                ry == 0,
                F.when(rx == 1, F.lit(s - 1) - F.col(x)).otherwise(F.col(x)),
            ).otherwise(F.col(y)),
        }
        cur = cur.withColumns(step)
        s >>= 1
    return cur.withColumn(out, F.col(d)).drop(d, x, y)


def write_hilbert(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    n_files: int,
    order: int = HILBERT_ORDER,
) -> None:
    """`write_zordered`'s seam-free sibling: cluster on the Hilbert
    index of (`x`, `y`) and write `n_files` contiguous-range parquet
    files. Same single-shuffle cost; choose it when worst-case (not
    just mean) per-file bounding boxes matter."""
    bounds = df.agg(
        F.min(x).alias("xmin"),
        F.max(x).alias("xmax"),
        F.min(y).alias("ymin"),
        F.max(y).alias("ymax"),
    )
    zmax = (1 << order) - 1
    keyed = df.crossJoin(F.broadcast(bounds)).withColumns(
        {
            "_hqx": quantize_dim(F.col(x), F.col("xmin"), F.col("xmax"), zmax),
            "_hqy": quantize_dim(F.col(y), F.col("ymin"), F.col("ymax"), zmax),
        }
    ).drop("xmin", "xmax", "ymin", "ymax")
    keyed = with_hilbert_key(keyed, "_hqx", "_hqy", "_hkey", order).drop("_hqx", "_hqy")
    (
        keyed.repartitionByRange(n_files, "_hkey")
        .sortWithinPartitions("_hkey")
        .drop("_hkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    n_files: int,
) -> None:
    """Cluster `df` on the Z-order key of int64 columns (`x`, `y`) and
    write `n_files` parquet files, each covering one contiguous key
    range (`repartitionByRange` + in-file sort — one shuffle, the same
    cost as any global sort). The min/max bounds feeding quantization
    come from one tiny broadcast aggregate, not a driver collect."""
    bounds = df.agg(
        F.min(x).alias("xmin"),
        F.max(x).alias("xmax"),
        F.min(y).alias("ymin"),
        F.max(y).alias("ymax"),
    )
    keyed = df.crossJoin(F.broadcast(bounds)).withColumn(
        "_zkey",
        zorder_key(
            quantize_dim(F.col(x), F.col("xmin"), F.col("xmax")),
            quantize_dim(F.col(y), F.col("ymin"), F.col("ymax")),
        ),
    ).drop("xmin", "xmax", "ymin", "ymax")
    (
        keyed.repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the plan (parquet statistics /
    sampled relation sizes) — no extra scan."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> int:
    """Write `df` hive-partitioned by `partition_cols` with a bounded
    number of similar-sized files per partition value.

    A naive `df.write.partitionBy(c)` emits one file per (task ×
    partition value) — tiny-file explosion at any real task count.
    Here rows are first shuffled to ceil(estimated_size/target) tasks
    on (partition_cols, random salt), so each partition value lands on
    ~proportional task count and every task writes one file per value
    it holds. `sort_cols` sorts within files (min/max zone-map pruning
    for range predicates on those columns). Returns the task count.
    """
    # Catalyst's estimate for join-derived plans is a cardinality
    # product that can blow past any real size (even past int64). When
    # it's clearly bogus (> 1 PB), fall back to a counted estimate at
    # ~512 B/row — one cheap aggregate beats 65k empty write tasks.
    est = _estimated_bytes(df)
    if est > 1 << 50:
        est = df.count() * 512
    n_files = int(max(1, min(math.ceil(est / target_file_bytes), 1 << 16)))
    salted = df.repartition(
        n_files, *[F.col(c) for c in partition_cols], (F.rand(seed=42) * n_files).cast("int")
    )
    if sort_cols:
        salted = salted.sortWithinPartitions(*partition_cols, *sort_cols)
    salted.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    return n_files


def compact_zordered(
    spark: SparkSession,
    path: str,
    x: str,
    y: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> int:
    """Rewrite a parquet directory Z-clustered on (`x`, `y`) — the
    OPTIMIZE ... ZORDER BY maintenance pass: streaming micro-batches
    land in arrival order (each file spans the full key range, zone
    maps prune nothing), and this one-shuffle rewrite turns the
    directory into `write_zordered` layout so footer stats prune both
    dimensions again. Same swap-on-write discipline as
    `compact_small_files`; returns the output file count."""
    import os
    import shutil

    df = spark.read.parquet(path)
    n_files = max(1, math.ceil(_estimated_bytes(df) / target_file_bytes))
    tmp = path.rstrip("/") + "__compacting"
    write_zordered(df, tmp, x, y, n_files)
    shutil.rmtree(path)
    os.replace(tmp, path)
    return n_files


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> int:
    """Rewrite a parquet directory into ceil(size/target) files — the
    standard maintenance pass after streaming micro-batches (each
    trigger writes its own small files; thousands of them make file
    listing and task scheduling the bottleneck, not I/O). Coalesce (no
    shuffle) merges read-side; returns the output file count. On a
    real lakehouse table this is OPTIMIZE/rewrite_data_files; the
    mechanism is the same."""
    import os
    import shutil

    df = spark.read.parquet(path)
    n_files = max(1, math.ceil(_estimated_bytes(df) / target_file_bytes))
    tmp = path.rstrip("/") + "__compacting"
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    # Swap-on-write (local FS semantics; a lakehouse table format makes
    # this transactional instead).
    shutil.rmtree(path)
    os.replace(tmp, path)
    return n_files
