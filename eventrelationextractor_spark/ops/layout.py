"""Z-order (Morton) data layout - the lakehouse file-skipping
primitive (Delta OPTIMIZE ZORDER BY / Iceberg sort-order z-ordering):
interleave the bits of two dimension columns so that range-partitioning
on the combined key yields files whose min/max envelopes are TIGHT IN
BOTH dimensions. A linear sort gives perfect pruning on its leading
column and none on the second; z-order trades a little of the first
for bounded spans in each - the difference between scanning 1/k of the
files and scanning all of them when the filter is on the second column.

No Iceberg jars ship in this sandbox (re-verified round 3), so the
write path stays parquet: ``repartitionByRange`` on the morton key +
``sortWithinPartitions`` reproduces the physical layout, and
``zorder_layout_stats`` measures the envelope tightness the skipping
depends on. On Iceberg the same key feeds a sort order.

Everything here is pure whole-stage-codegen bit arithmetic - no UDF,
no shuffle in the key itself; the layout stats add one percentile
aggregate + one partial-agged groupBy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def morton_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Bit-interleaved Morton code of two non-negative integer columns
    (low ``bits`` bits of each; x takes the even result bits, y the
    odd). 2*bits <= 62 keeps the key in a signed long. Pure codegen:
    a sum of shift-and-mask terms, engine-replayable exactly."""
    if 2 * bits > 62:
        raise ValueError("2*bits must fit a signed long")
    xs = x.cast("long")
    ys = y.cast("long")
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = (out
               + F.shiftleft(F.shiftright(xs, i) % 2, 2 * i)
               + F.shiftleft(F.shiftright(ys, i) % 2, 2 * i + 1))
    return out


def hilbert_key(df: DataFrame, x_col: str, y_col: str, bits: int = 8,
                out_col: str = "hkey") -> DataFrame:
    """Append the Hilbert-curve index of (x, y) over the
    2^bits x 2^bits grid - the locality-preserving upgrade over
    morton_key: consecutive Hilbert indices are always GRID NEIGHBORS
    (no Z-shaped jumps across the plane), so range-partitioned files
    get strictly tighter worst-case dimension envelopes (the reason
    Delta/Iceberg grew HILBERT alongside ZORDER clustering).

    The classic per-level rotate-and-flip walk (Wikipedia xy2d),
    unrolled to ``bits`` levels of pure integer codegen. Each level is
    materialized as named projection columns (withColumn), NOT nested
    into one expression: every level references the previous x/y
    twice, and Catalyst expressions are trees - one inlined expression
    would blow up ~4^bits nodes. The quadrant term (3*rx) XOR ry is
    carried as the arithmetic identity 3*rx + ry - 2*rx*ry (both
    operands are bits), avoiding engine XOR spelling differences.
    Returns a frame with ``out_col``; intermediate columns dropped.
    2*bits <= 62; inputs are masked to the low ``bits`` bits."""
    if 2 * bits > 62:
        raise ValueError("2*bits must fit a signed long")
    m = (1 << bits) - 1
    out = df.withColumn("_hx", F.col(x_col).cast("long").bitwiseAND(m)) \
            .withColumn("_hy", F.col(y_col).cast("long").bitwiseAND(m)) \
            .withColumn("_hd", F.lit(0).cast("long"))
    for k in range(bits - 1, -1, -1):
        s = 1 << k
        rx = F.shiftright(F.col("_hx"), k) % 2
        ry = F.shiftright(F.col("_hy"), k) % 2
        out = (out
               .withColumn("_rx", rx.cast("long"))
               .withColumn("_ry", ry.cast("long")))
        quad = (F.lit(3) * F.col("_rx") + F.col("_ry")
                - F.lit(2) * F.col("_rx") * F.col("_ry"))
        flip = F.col("_rx") == 1
        xf = F.when(flip, F.lit(m) - F.col("_hx")).otherwise(F.col("_hx"))
        yf = F.when(flip, F.lit(m) - F.col("_hy")).otherwise(F.col("_hy"))
        out = (out
               .withColumn("_hd2", (F.col("_hd")
                                    + F.lit(s * s).cast("long") * quad)
                           .cast("long"))
               .withColumn("_hx2", F.when(F.col("_ry") == 0, yf)
                           .otherwise(F.col("_hx")).cast("long"))
               .withColumn("_hy2", F.when(F.col("_ry") == 0, xf)
                           .otherwise(F.col("_hy")).cast("long"))
               .drop("_hx", "_hy", "_hd", "_rx", "_ry")
               .withColumnRenamed("_hx2", "_hx")
               .withColumnRenamed("_hy2", "_hy")
               .withColumnRenamed("_hd2", "_hd"))
    return out.withColumnRenamed("_hd", out_col).drop("_hx", "_hy")


def _ranged_file_stats(keyed: DataFrame, key_col: str, n_files: int,
                       approx: bool) -> DataFrame:
    """Shared tail of the layout-stats ops: quantile file boundaries
    on ``key_col``, file = 1 + #boundaries strictly below the key,
    per-file dimension envelopes."""
    qs = "array(" + ", ".join(repr(i / n_files)
                              for i in range(1, n_files)) + ")"
    fn = "percentile_approx" if approx else "percentile"
    acc = ", 10000" if approx else ""
    bounds = keyed.agg(F.expr(f"{fn}({key_col}, {qs}{acc})").alias("bs"))
    filed = (keyed.crossJoin(F.broadcast(bounds))
             .select("x", "y",
                     (F.lit(1) + F.aggregate(
                         "bs", F.lit(0),
                         lambda a, b: a + F.when(b < F.col(key_col), 1)
                         .otherwise(0))).alias("file")))
    return (filed.groupBy("file")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("x").alias("min_x"), F.max("x").alias("max_x"),
                 F.min("y").alias("min_y"), F.max("y").alias("max_y")))


def hilbert_layout_stats(df: DataFrame, x_col: str, y_col: str,
                         n_files: int = 16, bits: int = 8,
                         approx: bool = False) -> DataFrame:
    """zorder_layout_stats with the Hilbert key: the same per-file
    envelope report, so the two curves' pruning quality is directly
    comparable on identical data (Hilbert's guarantee: no file ever
    spans a Z-jump)."""
    keyed = hilbert_key(
        df.select(F.col(x_col).cast("long").alias("x"),
                  F.col(y_col).cast("long").alias("y")),
        "x", "y", bits)
    return _ranged_file_stats(keyed, "hkey", n_files, approx)


def zorder_layout_stats(df: DataFrame, x_col: str, y_col: str,
                        n_files: int = 16, bits: int = 16,
                        approx: bool = False) -> DataFrame:
    """(file, n_rows, min_x, max_x, min_y, max_y): the per-file
    dimension envelopes a z-ordered range-partitioned layout would
    produce - exactly what parquet footer / Iceberg manifest pruning
    consults. File assignment replays repartitionByRange's semantics
    engine-replayably: boundaries = the (i/n_files)-quantiles of the
    morton key, file = 1 + #boundaries strictly below the key (the
    ccnet_buckets threshold pattern). Exact ``percentile`` is the
    oracled branch; ``approx=True`` swaps in ``percentile_approx``
    (GK sketch, mergeable, bounded memory) for corpus scale - identical
    schema, boundary rows may shift one file by the sketch's rank
    epsilon."""
    keyed = df.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"),
                      morton_key(F.col(x_col), F.col(y_col), bits)
                      .alias("zkey"))
    return _ranged_file_stats(keyed, "zkey", n_files, approx)


def layout_prune_ab(df: DataFrame, x_col: str, y_col: str,
                    order_col: str, workload: list,
                    n_files: int = 8, bits: int = 6,
                    approx: bool = False) -> DataFrame:
    """Layout A/B pricing: how much zone-map pruning would a Z-order
    rewrite buy over the natural (ingest-order) layout, for a concrete
    predicate workload - the decision table a 100-TB table owner
    consults BEFORE paying for the rewrite (an OPTIMIZE that doesn't
    move the prune rate is pure cost).

    ``workload`` is a list of (qid, x_lo, x_hi, y_lo, y_hi) rectangle
    predicates. Both layouts are priced with the SAME machinery: file
    envelopes from ``_ranged_file_stats`` (natural = range-partitioned
    on ``order_col``, i.e. what ingestion order gives you; zorder =
    the morton key), then a file is SCANNED iff its (min,max) envelope
    intersects the rectangle - exactly the parquet-footer / Iceberg-
    manifest test. -> (layout, qid, files_total, files_scanned,
    prune_ppm), all exact integers.

    Scale shape: the corpus-sized work is the two envelope builds (one
    quantile + one groupBy each, the approx branch for real scale);
    the pricing itself is (n_files x |workload|) rows - driver-trivial
    forever. The workload frame is a broadcast literal."""
    spark = df.sparkSession
    base = df.select(F.col(x_col).cast("long").alias("x"),
                     F.col(y_col).cast("long").alias("y"),
                     F.col(order_col).cast("long").alias("ord"))
    nat = _ranged_file_stats(base, "ord", n_files, approx) \
        .withColumn("layout", F.lit("natural"))
    zed = zorder_layout_stats(base, "x", "y", n_files, bits, approx) \
        .withColumn("layout", F.lit("zorder"))
    env = nat.unionByName(zed)
    wl = spark.createDataFrame(
        [(int(q), int(a), int(b), int(c), int(d))
         for q, a, b, c, d in workload],
        "qid long, x_lo long, x_hi long, y_lo long, y_hi long")
    hit = ~((F.col("max_x") < F.col("x_lo"))
            | (F.col("min_x") > F.col("x_hi"))
            | (F.col("max_y") < F.col("y_lo"))
            | (F.col("min_y") > F.col("y_hi")))
    return (env.crossJoin(F.broadcast(wl))
            .groupBy("layout", "qid")
            .agg(F.count("*").alias("files_total"),
                 F.sum(hit.cast("long")).alias("files_scanned"))
            .select("layout", "qid", "files_total", "files_scanned",
                    F.expr("(1000000 * (files_total - files_scanned))"
                           " div files_total").alias("prune_ppm")))


GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_key(df: DataFrame, lat_md_col: str, lon_md_col: str,
                chars: int = 6, out_col: str = "gh") -> DataFrame:
    """Append the geohash of integer MILLI-degree coordinates as a
    base-32 string of ``chars`` characters — the standard
    prefix-shardable geo key (common prefix == nearby cell) for
    rolling up pages/events by location without a geo library.

    Exact-integer contract: the textbook float mid-point refinement
    loop is replaced by its closed form — bit i of
    lat_q = ((lat_md + 90000) * 2^lat_bits) div 180000 IS the i-th
    binary-subdivision decision — so the whole encode is div/shift/
    substr codegen any engine replays bit-for-bit (``least`` clamps
    the +90/+180 upper edge into the last cell). Longitude takes the
    even bit positions counting MSB-first (the geohash convention),
    latitude the odd; 5*chars <= 60 bits keeps the interleave in a
    signed long.

    Scale shape: pure per-row expressions (withColumn), no UDF, no
    shuffle; the key is made for PARTITIONED layouts — groupBy a
    prefix of it and the shuffle is the only exchange."""
    if not 1 <= chars <= 12:
        raise ValueError("chars must be in 1..12")
    total_bits = 5 * chars
    lon_bits = (total_bits + 1) // 2
    lat_bits = total_bits // 2
    d = df.withColumn("_gh_latq", F.expr(
        f"least(((({lat_md_col}) + 90000) * {1 << lat_bits})"
        f" div 180000, {(1 << lat_bits) - 1})"))
    d = d.withColumn("_gh_lonq", F.expr(
        f"least(((({lon_md_col}) + 180000) * {1 << lon_bits})"
        f" div 360000, {(1 << lon_bits) - 1})"))
    terms = []
    for i in range(total_bits):
        if i % 2 == 0:
            src, col = lon_bits - 1 - i // 2, "_gh_lonq"
        else:
            src, col = lat_bits - 1 - i // 2, "_gh_latq"
        terms.append(f"(shiftright({col}, {src}) % 2)"
                     f" * {1 << (total_bits - 1 - i)}")
    d = d.withColumn("_gh_g", F.expr(" + ".join(terms)))
    digits = ", ".join(
        f"substr('{GEOHASH_ALPHABET}', cast((shiftright(_gh_g,"
        f" {total_bits - 5 * (c + 1)}) % 32) + 1 as int), 1)"
        for c in range(chars))
    d = d.withColumn(out_col, F.expr(f"concat({digits})"))
    return d.drop("_gh_latq", "_gh_lonq", "_gh_g")


