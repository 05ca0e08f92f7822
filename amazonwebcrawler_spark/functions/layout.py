"""Data-layout keys: Z-order (Morton) interleaving as pure column math.

At 100 TB the dominant cost of the rank-history and image-corpus scans is
I/O — and parquet min/max row-group statistics only prune on columns the
data is clustered by. Sorting by ``(a, b)`` clusters perfectly on ``a``
and not at all on ``b``; interleaving the bits of both (a Z-order / Morton
key) keeps BOTH columns' value ranges narrow inside every file, so
predicates on either column skip most row groups.

Usage at write time::

    df.repartitionByRange(N, zorder_key(F.col("host_bits"), F.col("depth")))
      .sortWithinPartitions(zorder_key(...))
      .write.parquet(...)

(``repartitionByRange`` runs a hidden sampling job — persist the input
first; see SCALE.md.)

The key is built from shift/mask/or column expressions only — whole-stage
codegen, no UDF, and the identical arithmetic is expressible in ANSI SQL
(the DuckDB twin in ``__spark_entry__.py`` is generated from the same bit
loop), so the driver value-checks it end-to-end.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


def zorder_key(x: Column, y: Column, bits: int = 10) -> Column:
    """Morton-interleave the low ``bits`` bits of two non-negative ints:
    bit i of x lands at position 2i, bit i of y at 2i+1. Result fits in
    ``2 * bits`` bits (long). Inputs are masked to ``bits`` bits first, so
    out-of-range values wrap rather than corrupt neighbouring bits."""
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    mask = (1 << bits) - 1
    xm = x.cast("long").bitwiseAND(F.lit(mask))
    ym = y.cast("long").bitwiseAND(F.lit(mask))
    parts = []
    for i in range(bits):
        parts.append(F.shiftleft(F.shiftright(xm, i).bitwiseAND(F.lit(1)), 2 * i))
        parts.append(F.shiftleft(F.shiftright(ym, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return reduce(lambda a, b: a.bitwiseOR(b), parts)


def zorder_key_sql(x: str, y: str, bits: int = 10) -> str:
    """The DuckDB/ANSI twin of :func:`zorder_key` — same bit loop rendered
    as SQL text, for oracle queries. ``x``/``y`` are SQL expressions."""
    # every term is FULLY parenthesized including its trailing shift:
    # DuckDB gives |, & and << the same precedence (left-assoc), so a bare
    # ``a << 1 | b << 2`` parses as ``((a << 1) | b) << 2`` and overflows
    mask = (1 << bits) - 1
    terms = []
    for i in range(bits):
        terms.append(f"((((({x}) & {mask}) >> {i}) & 1) << {2 * i})")
        terms.append(f"((((({y}) & {mask}) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


def plan_compaction(
    files,
    part_col: str,
    file_col: str,
    size_col: str,
    target_bytes: int,
):
    """Small-file compaction plan (the Iceberg ``rewrite_data_files``
    binpack shape) for the snapshot state tables: every crawl wave
    appends a few small delta files per partition, and after 10^5 waves
    the frontier scan is metadata-bound — reading 10^7 footers costs more
    than the data. This operator turns the file listing into deterministic
    merge groups of ~``target_bytes`` each, entirely as column math:

        group_id = (bytes before this file in the partition) DIV target

    i.e. a group is the set of files whose START offset in the
    partition's concatenated byte stream falls in the same target-sized
    window. Every group's total is < target + max_file_bytes (a file that
    straddles a boundary joins the group where it starts) — the same
    bounded-overshoot contract as GPT-style sequence packing, and unlike
    greedy first-fit it is a pure function of (partition, file order), so
    the plan is reproducible and windowable: one partition-local running-sum
    window + one group-stats window, ZERO joins, zero driver state, no
    global sort.

    ``rewrite`` marks groups worth rewriting: more than one file, or a
    single file well under target (half) — a lone already-compact file is
    left alone (rewriting it is pure write amplification).

    Returns ``(part, file_id, n_bytes, group_id, group_bytes,
    group_files, rewrite)`` — all exact integers/boolean.
    """
    from pyspark.sql import Window

    if target_bytes < 1:
        raise ValueError(f"target_bytes must be >= 1, got {target_bytes}")
    f = files.select(
        F.col(part_col).alias("part"),
        F.col(file_col).alias("file_id"),
        F.col(size_col).cast("long").alias("n_bytes"),
    )
    w_run = (
        Window.partitionBy("part")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    f = f.withColumn("_cum_before", F.sum("n_bytes").over(w_run) - F.col("n_bytes"))
    # exact integer floor — a double division is one rounding boundary away
    # from an off-by-one group at cum ≈ k·target (the no-DOUBLE doctrine)
    f = f.withColumn("group_id", F.expr(f"_cum_before DIV {int(target_bytes)}L")).drop(
        "_cum_before"
    )
    w_grp = Window.partitionBy("part", "group_id")
    return (
        f.withColumn("group_bytes", F.sum("n_bytes").over(w_grp))
        .withColumn("group_files", F.count(F.lit(1)).over(w_grp))
        .withColumn(
            "rewrite",
            (F.col("group_files") > 1)
            | (F.col("group_bytes") * 2 < F.lit(int(target_bytes))),
        )
    )
