package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-ORDER-style multi-dimensional clustering for plain-parquet layers —
  * the OPTIMIZE ZORDER BY the reference docs prescribe
  * (/root/reference/bronze_silver_gold/readme.md:84,108-109) without the
  * Delta dependency: interleave the bits of the (rank-normalized)
  * clustering columns into a Z-value, range-partition + sort the write by
  * it. Files then cover small rectangles of the (c1 × c2) space, so
  * min/max stats prune on EITHER column (see VersionedTable.readWhere),
  * not just the leading sort key.
  */
object Clustering {

  /** Bit-interleaved Z-value of two non-negative int columns (c1 gets the
    * odd bit positions, c2 the even). `bits` per dimension.
    *
    * Domain contract (r16 sweep note): inputs must be non-negative and
    * < 2^bits. A negative input sign-extends through the shifts and a
    * larger value contributes only its low `bits` bits — both SILENTLY
    * degrade the interleave's locality. The blast radius is clustering
    * quality only, never values: [[writeZOrdered]] drops the Z column
    * after layout, readers re-filter on real columns, and the q63/q120/
    * q133 oracles replay this exact formula — so no per-row guard is
    * spent in the scan loop; callers normalize (rank/offset) first, as
    * every in-repo call site does.
    */
  def zorder2(c1: Column, c2: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31)
    val a = c1.cast("bigint")
    val b = c2.cast("bigint")
    (0 until bits).map { i =>
      val abit = shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1)
      val bbit = shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i)
      abit.bitwiseOR(bbit)
    }.reduce(_.bitwiseOR(_))
  }

  /** Write `df` clustered by the Z-value of two columns into `nFiles`
    * range partitions, sorted within each — every output file is a
    * contiguous Z-range.
    */
  def writeZOrdered(df: DataFrame, path: String, c1: Column, c2: Column,
      nFiles: Int): Unit =
    df.withColumn("__z", zorder2(c1, c2))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
}
