package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.{SparkSpec, Tables}

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  /** The stats of the parquet directory `dir`'s files that hold rows,
    * read from their footers by [[FileStats.read]] as a versioned table's
    * commit records them, and the directory's schema.
    */
  private def footerStats(dir: String): (Seq[FileStats], StructType) = {
    val files = TableCore.walk(java.nio.file.Paths.get(dir))(
      _.filter(_.getFileName.toString.endsWith(".parquet")).toSeq)
    val schema = FileStats.sparkSchema(files.head)
    (files.map(f => FileStats.read(f.toString, schema)).filter(_.numRecords > 0), schema)
  }

  /** How many files of `dir` may hold a `column` value in [from, to]:
    * those that [[TableCore.minMaxCandidates]], the engine's pruning,
    * keeps on their footer bounds.
    */
  private def candidates(dir: String, column: String, from: Long, to: Long): Long = {
    val (stats, schema) = footerStats(dir)
    val t = schema(column).dataType
    TableCore.minMaxCandidates(spark, stats, (st: FileStats) => st.bounds(column), t, t,
      from, to).size.toLong
  }

  private def fileCount(dir: String): Long = footerStats(dir)._1.size.toLong

  test("zValue interleaves bits: known vectors") {
    val rows = Seq((0xFFFFL, 0L), (0L, 0xFFFFL), (3L, 1L), (0L, 0L))
      .toDF("a", "b")
      .select(ZOrder.zValue($"a", $"b").as("z")).as[Long].collect()
    assert(rows(0) == 0x55555555L, "a fills even bits")
    assert(rows(1) == 0xAAAAAAAAL, "b fills odd bits")
    assert(rows(2) == 7L, "z(3,1) = 0b111")
    assert(rows(3) == 0L)
  }

  test("normalize is monotone and bounded on wide-range longs (overflow regime)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // ranges wide enough that (hi-lo)*65535 wraps 64-bit: epoch-nano
    // spans of years, and the full long range. The old multiply-first
    // mapping silently scrambled these; the divide-first regime must
    // stay monotone per dimension and inside [0, 2^bits).
    val ranges = Seq(
      (0L, 40L * 365 * 86400 * 1000000000L),            // 40y epoch-nanos
      (-1577923200000000000L, 1893456000000000000L),     // ±50y nanos
      (Long.MinValue, Long.MaxValue),                    // extreme
      (Long.MinValue / 2, Long.MaxValue / 2),
      (0L, 1000L))                                       // narrow (exact regime)
    for (((lo, hi), ri) <- ranges.zipWithIndex; bits <- Seq(10, 16)) {
      val gen = Gen.listOfN(300, Gen.choose(lo, hi))
      val vs = gen(Gen.Parameters.default, Seed(42L + ri)).get
        .++(Seq(lo, hi)).distinct.sorted
      val out = vs.toDF("v")
        .select(col("v"), ZOrder.normalize("v", lo, hi, bits).as("n"))
        .orderBy("v").as[(Long, Long)].collect()
      out.foreach { case (v, n) =>
        assert(n >= 0L && n < (1L << bits), s"bounds: norm($v)=$n bits=$bits") }
      out.sliding(2).foreach {
        case Array((v1, n1), (v2, n2)) =>
          assert(n1 <= n2, s"monotone: $v1->$n1 but $v2->$n2 (bits=$bits)")
        case _ => ()
      }
      // the narrow regime must keep the exact multiply-first mapping
      // (bit-compatibility with every layout written before the fix)
      if (BigInt(hi) - BigInt(lo) <= Long.MaxValue / ((1L << bits) - 1)) {
        val levels = (1L << bits) - 1
        out.foreach { case (v, n) =>
          assert(n == (v - lo) * levels / (hi - lo), s"exact regime: $v") }
      }
    }
  }

  /** Reference Hilbert xy→d (the classic public algorithm, plain Scala)
    * to pin the Column-expression unroll against.
    */
  private def hilbertRef(bits: Int, x0: Long, y0: Long): Long = {
    var (x, y, d) = (x0, y0, 0L)
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  test("hilbertValue matches the reference transform on every cell (bits=1,2,4)") {
    for (bits <- Seq(1, 2, 4)) {
      val n = 1 << bits
      val cells = for (x <- 0L until n; y <- 0L until n) yield (x, y)
      val got = cells.toDF("x", "y")
        .select($"x", $"y", ZOrder.hilbertValue($"x", $"y", bits).as("d"))
        .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
      cells.foreach { case (x, y) =>
        assert(got((x, y)) == hilbertRef(bits, x, y), s"bits=$bits cell ($x,$y)")
      }
      // bijection onto [0, n²)
      assert(got.values.toSet == (0L until n.toLong * n).toSet, s"bits=$bits")
      // the linear-plan projection form AND the codegen'd native
      // expression both agree with the nested form
      val viaDf = ZOrder.withHilbert(cells.toDF("x", "y"), $"x", $"y", "d", bits)
        .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
      assert(viaDf == got, s"withHilbert must equal hilbertValue at bits=$bits")
      val viaExpr = cells.toDF("x", "y")
        .select($"x", $"y", graft.expressions.HilbertIndex
          .hilbertIndex($"x", $"y", bits).as("d"))
        .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
      assert(viaExpr == got, s"native HilbertIndex must agree at bits=$bits")
    }
  }

  test("native HilbertIndex at 16 bits: bijective on a sampled diagonal band, codegen plan") {
    // deep grids are exactly where the native loop matters (the nested
    // form is guarded off); sample cells incl. the corners and verify
    // against the plain-Scala reference
    val cells = (0 until 1000).map { i =>
      (i * 65L % 65536L, (i * 131L + 7) % 65536L)
    } ++ Seq((0L, 0L), (65535L, 65535L), (65535L, 0L), (0L, 65535L))
    val df = cells.toDF("x", "y")
      .select($"x", $"y", graft.expressions.HilbertIndex
        .hilbertIndex($"x", $"y", 16).as("d"))
    val got = df.as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, d) =>
      assert(d == hilbertRef(16, x, y), s"cell ($x,$y)")
      assert(d >= 0L && d < (1L << 32), s"range: $d")
    }
    assert(got.map(_._3).distinct.length == got.length, "injective on sample")
  }

  test("hilbert locality: consecutive indexes are always grid-adjacent (Morton is not)") {
    val bits = 3
    val n = 1 << bits
    val byD = (for (x <- 0L until n; y <- 0L until n) yield (x, y))
      .map { case (x, y) => hilbertRef(bits, x, y) -> (x, y) }
      .sortBy(_._1).map(_._2)
    byD.sliding(2).foreach { case Seq((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"step ($x1,$y1)->($x2,$y2) must be Manhattan-adjacent")
    }
  }

  test("hilbert-clustered layout skips files on BOTH dimensions") {
    val orders = Tables.load(spark, sf, "orders")
      .select($"o_orderkey",
        $"o_custkey".bitwiseAND(lit(0xFFFFL)).as("ck"),
        datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
          .cast("bigint").bitwiseAND(lit(0xFFFFL)).as("day"))
    val n = 16
    val dir = tempDir("hilbert").toString
    ZOrder.hilbertClusterWrite(orders, dir, "day", "ck", n)
    val total = fileCount(dir)
    for (c <- Seq("ck", "day")) {
      val (lo, hi) = orders.agg(min(col(c)), max(col(c))).as[(Long, Long)].head()
      val mid = (lo + hi) / 2
      val cand = candidates(dir, c, mid, mid + ((hi - lo) / 16 max 1L))
      assert(cand < total / 2, s"hilbert layout must skip on $c: $cand of $total")
    }
  }

  test("z-clustered layout skips files on BOTH dimensions; linear only on one") {
    val orders = Tables.load(spark, sf, "orders")
      .select($"o_orderkey",
        $"o_custkey".bitwiseAND(lit(0xFFFFL)).as("ck"),
        datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
          .cast("bigint").bitwiseAND(lit(0xFFFFL)).as("day"))
    val n = 16
    val zDir = tempDir("zorder").toString
    val linDir = tempDir("linear").toString
    ZOrder.clusterWrite(orders, zDir, "day", "ck", n)
    // the linear baseline: clustered on day alone (the usual time layout)
    orders.repartitionByRange(n, $"day").sortWithinPartitions("day")
      .write.mode("overwrite").parquet(linDir)

    val (ckLo, ckHi) = orders.agg(min("ck"), max("ck")).as[(Long, Long)].head()
    val mid = (ckLo + ckHi) / 2
    val span = (ckHi - ckLo) / 16 max 1L
    // predicate on the SECOND dimension: a 1/16 slice of the key range
    val zCand = candidates(zDir, "ck", mid, mid + span)
    val linCand = candidates(linDir, "ck", mid, mid + span)
    val zFiles = fileCount(zDir)
    val linFiles = fileCount(linDir)
    assert(linCand == linFiles,
      s"day-sorted layout cannot skip on ck: $linCand of $linFiles")
    assert(zCand < zFiles / 2,
      s"z-layout must skip most files on ck: $zCand of $zFiles")
    // and the FIRST dimension still skips under z (coarser than linear)
    val (dLo, dHi) = orders.agg(min("day"), max("day")).as[(Long, Long)].head()
    val dMid = (dLo + dHi) / 2
    val zDay = candidates(zDir, "day", dMid, dMid + ((dHi - dLo) / 16 max 1L))
    assert(zDay < zFiles, s"z-layout must still skip on day: $zDay of $zFiles")
  }

  test("3-D z-clustered layout skips files on every dimension") {
    val li = Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select($"l_orderkey", $"o_custkey".as("ck"), $"l_suppkey".as("sk"),
        datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
          .cast("bigint").as("day"))
    val n = 27 // 3 z-bits per dimension at the top of the interleave
    val dir = tempDir("zorder3").toString
    ZOrder.clusterWrite3(li, dir, "ck", "sk", "day", n)
    val total = fileCount(dir)
    for (c <- Seq("ck", "sk", "day")) {
      val (lo, hi) = li.agg(min(col(c)).cast("long"), max(col(c)).cast("long"))
        .as[(Long, Long)].head()
      val mid = (lo + hi) / 2
      val cand = candidates(dir, c, mid, mid + ((hi - lo) / 27 max 1L))
      assert(cand < total, s"3-D layout must skip on $c: $cand of $total")
    }
  }
}
