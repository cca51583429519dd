package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustering for multi-column data skipping —
  * the layout device behind `OPTIMIZE ZORDER BY` in modern lakehouses
  * (Morton 1966; the reference stack exposes it through Delta's
  * OPTIMIZE, README.md:20 of /root/reference mentions the platform,
  * not the algorithm — this is public-knowledge surface).
  *
  * Why it matters at 100 TB: min/max file stats prune perfectly on ONE
  * sort column and not at all on the others. Interleaving the bits of
  * two key columns gives every file a tight hyper-rectangle in BOTH
  * dimensions, so a predicate on EITHER column skips ~√(files) instead
  * of scanning everything — the difference between a full scan and a
  * bounded read when queries filter on a second dimension.
  *
  * The z-value is a pure bit-arithmetic expression (shift/mask magic
  * spreads, fully codegen'd, exact on any engine — the q120 oracle
  * recomputes it in DuckDB bit-for-bit), and the clustered write is
  * `repartitionByRange` + in-partition sort on that value: one range
  * shuffle, then each output file owns a contiguous z-range.
  */
object ZOrder {

  /** Spread the low 16 bits of `c` to even bit positions (0, 2, 4, …)
    * via the classic shift-mask sequence — constant-folded masks, five
    * codegen'd integer ops, no UDF.
    */
  def spread16(c: Column): Column = {
    val x0 = c.bitwiseAND(lit(0xFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Morton z-value interleaving the low 16 bits of `a` (even bits) and
    * `b` (odd bits): z = spread(a) | spread(b) << 1.
    */
  def zValue(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Spread the low 10 bits of `c` to every THIRD position (0, 3, 6, …)
    * — the 3-dimensional Morton spread (same shift-mask family, 3-way
    * masks). 10 bits per dimension → a 30-bit z covering 2³⁰ cells.
    */
  def spread10x3(c: Column): Column = {
    val x0 = c.bitwiseAND(lit(0x3FFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 16)).bitwiseAND(lit(0x30000FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 8)).bitwiseAND(lit(0x300F00FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 4)).bitwiseAND(lit(0x30C30C3L))
    x3.bitwiseOR(shiftleft(x3, 2)).bitwiseAND(lit(0x9249249L))
  }

  /** Three-dimensional Morton z-value over the low 10 bits of each of
    * `a`, `b`, `c` — for tenant × time × key layouts, where a predicate
    * on ANY of the three columns should skip files. Same normalization
    * caveat as [[clusterWrite]]: scale the dimensions to comparable bit
    * widths first, or the widest monopolizes the sort.
    */
  def zValue3(a: Column, b: Column, c: Column): Column =
    spread10x3(a)
      .bitwiseOR(shiftleft(spread10x3(b), 1))
      .bitwiseOR(shiftleft(spread10x3(c), 2))

  /** Min-max normalize `name` from [lo, hi] onto [0, levels]
    * (levels = 2^bits − 1), overflow-safe across the full long range.
    *
    * Two regimes, chosen driver-side from the already-collected min/max
    * scalars: when `(hi − lo) * levels` fits in a long the classic
    * multiply-first mapping is used (exact, uses every level). For wider
    * ranges — epoch-micros spanning years, epoch-nanos — that product
    * wraps 64-bit silently and scrambles the z-order, so the mapping
    * switches to divide-first with a precomputed step: each side is
    * divided by `step = range div levels + 1` BEFORE subtracting, which
    * also keeps `x − lo` itself from overflowing when the range exceeds
    * Long.MaxValue. Both regimes are monotone in the input (integer
    * division by a positive constant preserves order) and bounded by
    * `levels`, which is all Morton interleaving needs.
    */
  def normalize(name: String, lo: Long, hi: Long, bits: Int): Column = {
    val levels = (1L << bits) - 1
    val range = BigInt(hi) - BigInt(lo)
    if (range <= 0) lit(0L)
    else if (range <= Long.MaxValue / levels)
      expr(s"((`$name` - $lo) * $levels) div ${hi - lo}")
    else {
      // range div levels + 1 ≤ 2^64/levels + 1: fits a long; and
      // range div step < levels, so the result never reaches 2^bits
      val step = (range / levels + 1).toLong
      expr(s"(`$name` div $step) - ${lo / step}")
    }
  }

  /** Write `df` z-clustered on (`colA`, `colB`) into `numFiles` parquet
    * files: one range shuffle on the z-value, an in-partition sort, and
    * the helper column dropped before the write. Each output file then
    * covers a contiguous z-range — a tight min/max box in both
    * dimensions — which is what makes footer-stats skipping (see
    * [[TableCore.minMaxCandidates]]) effective on either column.
    *
    * Both dimensions are min-max normalized to the full 16-bit range
    * before interleaving. Without this, the wider column's high bits
    * monopolize the sort (a 14-bit day column vs an 11-bit key column
    * degenerates to a plain day sort — measured: zero key-side
    * skipping) — the same reason production ZORDER implementations
    * interleave per-column RANGE IDS, not raw values. The two min/max
    * scalars are one bounded aggregate row, the watermark-read shape.
    */
  def clusterWrite(df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int): Unit =
    clustered(df, colA, colB, numFiles).write.mode("overwrite").parquet(path)

  /** The layout transform behind [[clusterWrite]], exposed so OTHER
    * writers (notably [[VersionedTable.writeClustered]]) can route their
    * data through the same z-ordering before their own commit protocol:
    * normalize both dimensions, interleave, one range shuffle into
    * `numFiles` partitions each sorted by z — the writer then emits one
    * file per partition, and every file owns a tight min/max box in
    * both dimensions.
    */
  def clustered(df: DataFrame, colA: String, colB: String,
      numFiles: Int): DataFrame = {
    val r = df.agg(min(col(colA)).cast("long"), max(col(colA)).cast("long"),
      min(col(colB)).cast("long"), max(col(colB)).cast("long")).head()
    // empty (or all-null-key) input has no [min,max] box: clustering is
    // the identity there — pass through instead of NPE-ing on the null
    // aggregate row deep inside a write path (optimizeZOrder of a table
    // whose rows were all deleted hits exactly this)
    if (r.isNullAt(0) || r.isNullAt(2)) return df
    val (la, ha, lb, hb) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    // backticked name, not Column.toString: names with spaces/keywords
    // would break the round-trip through expr()
    df.withColumn("__z",
        zValue(normalize(colA, la, ha, 16), normalize(colB, lb, hb, 16)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Three-column variant of [[clusterWrite]]: min-max normalize each
    * dimension to 10 bits, interleave with [[zValue3]], range-shuffle
    * into `numFiles` contiguous z-range files. A predicate on ANY of
    * the three columns then skips ~files^(2/3) via footer stats.
    */
  def clusterWrite3(df: DataFrame, path: String, colA: String, colB: String,
      colC: String, numFiles: Int): Unit = {
    val r = df.agg(
      min(col(colA)).cast("long"), max(col(colA)).cast("long"),
      min(col(colB)).cast("long"), max(col(colB)).cast("long"),
      min(col(colC)).cast("long"), max(col(colC)).cast("long")).head()
    // empty input: no [min,max] box — write the empty layout as-is
    // rather than NPE on the null aggregate row (see clustered)
    if (r.isNullAt(0) || r.isNullAt(2) || r.isNullAt(4)) {
      df.write.mode("overwrite").parquet(path)
      return
    }
    df.withColumn("__z", zValue3(
        normalize(colA, r.getLong(0), r.getLong(1), 10),
        normalize(colB, r.getLong(2), r.getLong(3), 10),
        normalize(colC, r.getLong(4), r.getLong(5), 10)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Hilbert-curve index of an (x, y) cell pair over a 2^bits × 2^bits
    * grid — the space-filling curve production clustering engines moved
    * to after Morton (Hilbert 1891; the classic xy→d bit transform is
    * public knowledge). Unlike the z-curve, the Hilbert curve never
    * jumps: consecutive indexes are always grid-adjacent, so file
    * boxes are tighter on average and range predicates skip at least
    * as well as Morton on both dimensions.
    *
    * The transform is the standard per-bit fold — extract (rx, ry),
    * accumulate `s²·((3·rx) ⊕ ry)`, then conditionally reflect and
    * swap the coordinates — expressed as a chain of codegen'd
    * when/bit-op Columns (one group per bit, high to low). No UDF, no
    * loop at runtime: the fold is unrolled at plan-build time, exactly
    * re-derivable in SQL (the q141 oracle replays it CTE-for-CTE).
    *
    * SHAPE WARNING (measured, not theoretical): as a single nested
    * Column, each unrolled step references both prior coordinates
    * several times, so the expression tree grows ~5× per bit — bits=8
    * is a ~400k-node tree that Catalyst re-evaluates without sharing
    * (the first cut hung the suite). [[withHilbert]] is the production
    * form: one narrow Project per step binds the step's coordinates to
    * attributes, which CollapseProject deliberately does NOT inline
    * (multiply-referenced non-cheap expressions), keeping the plan
    * LINEAR in `bits` while whole-stage codegen pipelines the projects
    * into straight-line locals. This Column form is kept for tiny
    * `bits` (exhaustive-grid tests).
    */
  def hilbertValue(xCol: Column, yCol: Column, bits: Int): Column = {
    require(bits <= 6, "nested-Column Hilbert blows up ~5x per bit; " +
      "use withHilbert for real data")
    var x = xCol.bitwiseAND(lit((1L << bits) - 1))
    var y = yCol.bitwiseAND(lit((1L << bits) - 1))
    var d = lit(0L)
    for (b <- (bits - 1) to 0 by -1) {
      val s = 1L << b
      val rx = shiftright(x, b).bitwiseAND(lit(1L))
      val ry = shiftright(y, b).bitwiseAND(lit(1L))
      d = d + lit(s * s) * (rx * 3).bitwiseXOR(ry)
      // rotate the quadrant: ry == 0 → (maybe reflect, then swap x/y)
      val xr = when(ry === 0,
        when(rx === 1, lit(s - 1) - y).otherwise(y)).otherwise(x)
      val yr = when(ry === 0,
        when(rx === 1, lit(s - 1) - x).otherwise(x)).otherwise(y)
      x = xr
      y = yr
    }
    d
  }

  /** Append `outName` = Hilbert index of (`xCol`, `yCol`) over a
    * 2^bits-square grid — the linear-plan form of [[hilbertValue]]: one
    * projection per bit binds (rx, ry, x', y') to attributes so every
    * step's work is evaluated once per row. Default 8 bits → a
    * 65,536-cell grid, plenty to separate thousands of files (skipping
    * needs file-level resolution, not per-row).
    */
  def withHilbert(df: DataFrame, xCol: Column, yCol: Column,
      outName: String, bits: Int = 8): DataFrame = {
    var cur = df
      .withColumn("__hx", xCol.bitwiseAND(lit((1L << bits) - 1)))
      .withColumn("__hy", yCol.bitwiseAND(lit((1L << bits) - 1)))
      .withColumn(outName, lit(0L))
    for (b <- (bits - 1) to 0 by -1) {
      val s = 1L << b
      cur = cur
        .withColumn("__rx", shiftright(col("__hx"), b).bitwiseAND(lit(1L)))
        .withColumn("__ry", shiftright(col("__hy"), b).bitwiseAND(lit(1L)))
        .withColumn(outName, col(outName) +
          lit(s * s) * (col("__rx") * 3).bitwiseXOR(col("__ry")))
        // bind x' before overwriting y (y' reads the OLD x)
        .withColumn("__nx", when(col("__ry") === 0,
          when(col("__rx") === 1, lit(s - 1) - col("__hy"))
            .otherwise(col("__hy"))).otherwise(col("__hx")))
        .withColumn("__hy", when(col("__ry") === 0,
          when(col("__rx") === 1, lit(s - 1) - col("__hx"))
            .otherwise(col("__hx"))).otherwise(col("__hy")))
        .withColumn("__hx", col("__nx"))
    }
    cur.drop("__hx", "__hy", "__rx", "__ry", "__nx")
  }

  /** [[clusterWrite]] on the Hilbert index instead of the Morton one:
    * same overflow-safe normalization, same single range shuffle. Rides
    * the codegen'd [[graft.expressions.HilbertIndex]] loop, so the
    * default depth matches Morton's 16 bits at constant plan size.
    */
  def hilbertClusterWrite(df: DataFrame, path: String, colA: String,
      colB: String, numFiles: Int, bits: Int = 16): Unit = {
    val r = df.agg(min(col(colA)).cast("long"), max(col(colA)).cast("long"),
      min(col(colB)).cast("long"), max(col(colB)).cast("long")).head()
    // empty input: no [min,max] box — write the empty layout as-is
    // rather than NPE on the null aggregate row (see clustered)
    if (r.isNullAt(0) || r.isNullAt(2)) {
      df.write.mode("overwrite").parquet(path)
      return
    }
    df.withColumn("__h", graft.expressions.HilbertIndex.hilbertIndex(
        normalize(colA, r.getLong(0), r.getLong(1), bits),
        normalize(colB, r.getLong(2), r.getLong(3), bits), bits))
      .repartitionByRange(numFiles, col("__h"))
      .sortWithinPartitions("__h")
      .drop("__h")
      .write.mode("overwrite").parquet(path)
  }
}
