package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Per-file statistics in the Delta log (`add.stats`): the write side
  * must emit protocol-shaped JSON, and the read side must use it for
  * file skipping that is exactly result-preserving — including across
  * checkpoints, partition columns, deletion vectors, and foreign tables
  * that carry no stats at all.
  */
class DeltaStatsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String =
    tempDir("delta_s").resolve("t").toString

  /** 0..99 range-clustered into 4 files so [min,max] boxes are tight. */
  private def clustered(path: String): Unit =
    DeltaInterop.write(
      spark.range(100).select($"id".as("k"),
        concat(lit("v"), $"id").as("v"), ($"id" % 7).cast("int").as("grp"))
        .repartitionByRange(4, $"k"),
      path, SaveMode.Overwrite)

  test("writes emit protocol-shaped add.stats on every file") {
    val path = tmpTable()
    clustered(path)
    val snap = DeltaInterop.snapshot(spark, path)
    assert(snap.files.nonEmpty && snap.files.forall(_.stats.isDefined))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val parsed = snap.files.map(f => om.readTree(f.stats.get))
    assert(parsed.map(_.path("numRecords").asLong).sum == 100L)
    // min/max tracked for numeric AND string columns; nullCount present
    parsed.foreach { n =>
      assert(n.path("minValues").has("k") && n.path("maxValues").has("k"))
      assert(n.path("minValues").has("v") && n.path("maxValues").has("v"))
      assert(n.path("nullCount").path("k").asLong == 0L)
    }
    // global min/max reconstruct from the per-file stats
    assert(parsed.map(_.path("minValues").path("k").asLong).min == 0L)
    assert(parsed.map(_.path("maxValues").path("k").asLong).max == 99L)
  }

  test("readWhere skips files by stats and matches the full-scan filter") {
    val path = tmpTable()
    clustered(path)
    val (kept, total) = DeltaInterop.statsCandidateFiles(spark, path, "k", 10L, 19L)
    assert(total == 4 && kept.size < total,
      s"expected pruning, got ${kept.size}/$total")
    val pruned = DeltaInterop.readWhere(spark, path, "k", 10L, 19L)
      .select("k").as[Long].collect().sorted.toSeq
    val full = DeltaInterop.read(spark, path)
      .filter($"k" >= 10L && $"k" <= 19L)
      .select("k").as[Long].collect().sorted.toSeq
    assert(pruned == full && pruned == (10L to 19L))
    // a range outside every box reads nothing but keeps the schema
    val none = DeltaInterop.readWhere(spark, path, "k", 1000L, 2000L)
    assert(none.count() == 0 && none.columns.toSeq == Seq("k", "v", "grp"))
  }

  test("string-column skipping compares lexically") {
    val path = tmpTable()
    DeltaInterop.write(
      Seq(("apple", 1L), ("banana", 2L)).toDF("w", "n").coalesce(1), path,
      SaveMode.Overwrite)
    DeltaInterop.write(
      Seq(("melon", 3L), ("zebra", 4L)).toDF("w", "n").coalesce(1), path,
      SaveMode.Append)
    val (kept, total) = DeltaInterop.statsCandidateFiles(
      spark, path, "w", "a", "c")
    assert(total == 2 && kept.size == 1)
    assert(DeltaInterop.readWhere(spark, path, "w", "a", "c")
      .select("w").as[String].collect().sorted.toSeq == Seq("apple", "banana"))
  }

  test("partition-column ranges prune on partitionValues, not stats") {
    val path = tmpTable()
    DeltaInterop.write(
      spark.range(40).select($"id".as("k"), ($"id" % 4).cast("int").as("p")),
      path, SaveMode.Overwrite, partitionBy = Seq("p"))
    val (kept, total) = DeltaInterop.statsCandidateFiles(spark, path, "p", 1, 2)
    assert(kept.size < total)
    assert(kept.forall(f => Set("1", "2").contains(f.partitionValues("p"))))
    val back = DeltaInterop.readWhere(spark, path, "p", 1, 2)
    assert(back.select("p").distinct().as[Int].collect().sorted.toSeq == Seq(1, 2))
    assert(back.count() == 20)
  }

  test("an all-null tracked column is provably skippable; missing stats survive") {
    val path = tmpTable()
    DeltaInterop.write(
      Seq((1L, Option.empty[String])).toDF("k", "s").coalesce(1), path,
      SaveMode.Overwrite)
    DeltaInterop.write(
      Seq((2L, Option("hit"))).toDF("k", "s").coalesce(1), path, SaveMode.Append)
    val (kept, total) = DeltaInterop.statsCandidateFiles(
      spark, path, "s", "a", "z")
    assert(total == 2 && kept.size == 1, "all-null file must be excluded")
    // a foreign add WITHOUT stats cannot be excluded: strip the stats
    // from the log and every file must survive the same range
    val logDir = Paths.get(path, "_delta_log")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    withListDir(logDir).filter(_.getFileName.toString.endsWith(".json"))
      .foreach { p =>
        val stripped = Files.readAllLines(p).asScala.map { line =>
          val node = om.readTree(line)
          Option(node.get("add")).foreach {
            case o: com.fasterxml.jackson.databind.node.ObjectNode =>
              o.remove("stats")
            case _ => ()
          }
          om.writeValueAsString(node)
        }.mkString("", "\n", "\n")
        Files.writeString(p, stripped)
      }
    val snap2 = DeltaInterop.snapshot(spark, path)
    assert(snap2.files.forall(_.stats.isEmpty))
    val (kept2, total2) = DeltaInterop.statsCandidateFiles(
      spark, path, "s", "a", "z")
    assert(kept2.size == total2)
    assert(DeltaInterop.readWhere(spark, path, "s", "a", "z")
      .select("s").as[String].collect().toSeq == Seq("hit"))
  }

  test("stats survive checkpoint + log cleanup; pruning still works") {
    val path = tmpTable()
    clustered(path)
    DeltaInterop.write(spark.range(100, 120)
      .select($"id".as("k"), concat(lit("v"), $"id").as("v"),
        ($"id" % 7).cast("int").as("grp")).coalesce(1), path, SaveMode.Append)
    DeltaInterop.checkpoint(spark, path)
    val logDir = Paths.get(path, "_delta_log")
    withListDir(logDir).filter(_.getFileName.toString.endsWith(".json"))
      .foreach(Files.delete)
    val snap = DeltaInterop.snapshot(spark, path)
    assert(snap.files.forall(_.stats.isDefined),
      "checkpoint must carry add.stats through cleanup")
    val (kept, total) = DeltaInterop.statsCandidateFiles(
      spark, path, "k", 110L, 115L)
    assert(kept.size == 1 && total == 5)
    assert(DeltaInterop.readWhere(spark, path, "k", 110L, 115L)
      .select("k").as[Long].collect().sorted.toSeq == (110L to 115L))
  }

  test("skipping is DV-sound: deletes inside a surviving file stay masked") {
    val path = tmpTable()
    clustered(path)
    DeltaInterop.deleteWhere(spark, path, $"k" % 2 === 0)
    val pruned = DeltaInterop.readWhere(spark, path, "k", 10L, 19L)
      .select("k").as[Long].collect().sorted.toSeq
    assert(pruned == (10L to 19L).filter(_ % 2 == 1))
  }

  test("add.stats come from the parquet footers: NaN, ±0.0, decimals, dates, all-null") {
    def stats(df: org.apache.spark.sql.DataFrame): String = {
      val path = tmpTable()
      // the write job alone: the footers are read on the driver
      assert(jobsStartedBy(DeltaInterop.write(df.coalesce(1), path, SaveMode.Overwrite)) == 1)
      val st = DeltaInterop.snapshot(spark, path).files.flatMap(_.stats)
      assert(st.size == 1)
      st.head
    }
    // parquet widens a zero bound to both signs, and keeps no bounds for
    // a chunk holding NaN: the column is omitted, not wrongly bounded
    assert(stats(Seq((1L, 0.0), (2L, 0.0)).toDF("k", "d")) ==
      """{"numRecords":2,"minValues":{"k":1,"d":-0.0},"maxValues":{"k":2,"d":0.0},""" +
        """"nullCount":{"k":0,"d":0}}""")
    assert(stats(Seq((1L, Double.NaN), (2L, 1.5), (3L, Double.NegativeInfinity)).toDF("k", "d")) ==
      """{"numRecords":3,"minValues":{"k":1},"maxValues":{"k":3},"nullCount":{"k":0,"d":0}}""")
    assert(stats(Seq((1L, Double.NegativeInfinity), (2L, 2.5)).toDF("k", "d")) ==
      """{"numRecords":2,"minValues":{"k":1},"maxValues":{"k":2,"d":2.5},""" +
        """"nullCount":{"k":0,"d":0}}""")
    assert(stats(spark.sql("select id k, cast(id * 1.25 - 3 as decimal(10,2)) d1, " +
        "cast(id * 123456789.0123456789 as decimal(38,10)) d2, cast(-id as decimal(5,0)) d3 " +
        "from range(5)")) ==
      """{"numRecords":5,"minValues":{"k":0,"d1":-3.00,"d2":0.0000000000,"d3":-4},""" +
        """"maxValues":{"k":4,"d1":2.00,"d2":493827156.0493827200,"d3":0},""" +
        """"nullCount":{"k":0,"d1":0,"d2":0,"d3":0}}""")
    assert(stats(spark.sql("select id k, date_add(date'2020-02-27', cast(id as int)) dt, " +
        "date'0001-01-01' old from range(4)")) ==
      """{"numRecords":4,"minValues":{"k":0,"dt":"2020-02-27","old":"0001-01-01"},""" +
        """"maxValues":{"k":3,"dt":"2020-03-01","old":"0001-01-01"},""" +
        """"nullCount":{"k":0,"dt":0,"old":0}}""")
    assert(stats(spark.sql("select id k, cast(null as int) n, cast(null as string) s " +
        "from range(3)")) ==
      """{"numRecords":3,"minValues":{"k":0},"maxValues":{"k":2},""" +
        """"nullCount":{"k":0,"n":3,"s":3}}""")
  }

  private def withListDir(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }
}
