package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Name-mode column-mapping WRITES: the writer half of reader protocol 2.
  * The bar: parquet files on disk carry ONLY physical `col-…` names, the
  * declared schema carries the protocol's field metadata, and our own
  * protocol-2 reader (plus time travel, stats skipping, and idempotent
  * appends) round-trips the logical view exactly.
  */
class DeltaMappedWriteSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    tempDir("delta_cmap").resolve("t").toString

  test("mapped create: physical names on disk, logical round trip") {
    val path = tmp()
    val df = spark.range(100).select($"id".as("k"),
      concat(lit("r"), $"id").as("v"))
    DeltaInterop.write(df.coalesce(2), path, SaveMode.Overwrite,
      columnMapping = true)
    // the staged parquet must carry NO logical names
    val physical = spark.read
      .parquet(Files.list(java.nio.file.Paths.get(path)).iterator()
        .next().getParent.toString + "/*.parquet")
    assert(physical.columns.forall(_.startsWith("col-")),
      s"expected physical col- names, got ${physical.columns.mkString(",")}")
    // snapshot declares name-mode mapping and the reader restores logical
    val snap = DeltaInterop.snapshot(spark, path)
    assert(snap.columnMappingMode == "name")
    val back = DeltaInterop.read(spark, path)
    assert(back.columns.toSeq == Seq("k", "v"))
    assert(back.as[(Long, String)].collect().sorted.toSeq ==
      (0L until 100L).map(i => (i, s"r$i")))
  }

  test("mapped append stages under the table's physical names") {
    val path = tmp()
    DeltaInterop.write(spark.range(10).select($"id".as("k"),
      $"id".cast("string").as("v")).coalesce(1), path, SaveMode.Overwrite,
      columnMapping = true)
    DeltaInterop.write(spark.range(10, 20).select($"id".as("k"),
      $"id".cast("string").as("v")).coalesce(1), path, SaveMode.Append)
    val back = DeltaInterop.read(spark, path)
    assert(back.count() == 20)
    assert(back.select(sum($"k")).as[Long].head() == (0L until 20L).sum)
    // time travel still sees the first commit alone
    val v0 = DeltaInterop.read(spark, path, asOf = Some(0L))
    assert(v0.count() == 10)
  }

  test("mapped append with a different logical schema is refused") {
    val path = tmp()
    DeltaInterop.write(spark.range(5).select($"id".as("k")).coalesce(1),
      path, SaveMode.Overwrite, columnMapping = true)
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.write(spark.range(5).select($"id".as("k"),
        lit(1L).as("extra")).coalesce(1), path, SaveMode.Append)
    }
    assert(e.getMessage.contains("column-mapped"))
  }

  test("enabling mapping on an append to an unmapped table is refused") {
    val path = tmp()
    DeltaInterop.write(spark.range(5).select($"id".as("k")).coalesce(1),
      path, SaveMode.Overwrite)
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.write(spark.range(5).select($"id".as("k")).coalesce(1),
        path, SaveMode.Append, columnMapping = true)
    }
    assert(e.getMessage.contains("table-creating"))
  }

  test("stats skipping works against physical-named add.stats") {
    val path = tmp()
    // three single-file commits with disjoint k ranges
    DeltaInterop.write(spark.range(0, 100).select($"id".as("k")).coalesce(1),
      path, SaveMode.Overwrite, columnMapping = true)
    DeltaInterop.write(spark.range(100, 200).select($"id".as("k")).coalesce(1),
      path, SaveMode.Append)
    DeltaInterop.write(spark.range(200, 300).select($"id".as("k")).coalesce(1),
      path, SaveMode.Append)
    val (kept, total) =
      DeltaInterop.statsCandidateFiles(spark, path, "k", 120L, 150L)
    assert(total == 3 && kept.size == 1,
      s"stats under mapping must prune: kept ${kept.size} of $total")
    val df = DeltaInterop.readWhere(spark, path, "k", 120L, 150L)
    assert(df.select(count(lit(1))).as[Long].head() == 31)
  }

  test("mapped overwrite of a mapped table removes raw paths correctly") {
    val path = tmp()
    DeltaInterop.write(spark.range(10).select($"id".as("k")).coalesce(1),
      path, SaveMode.Overwrite, columnMapping = true)
    DeltaInterop.write(spark.range(5).select($"id".as("k")).coalesce(1),
      path, SaveMode.Overwrite, columnMapping = true)
    val back = DeltaInterop.read(spark, path)
    assert(back.count() == 5)
    assert(DeltaInterop.read(spark, path, asOf = Some(0L)).count() == 10)
  }

  // ------------------------------------------------- id-mode mapping

  test("id-mode create: physical names + parquet field ids, logical round trip") {
    val path = tmp()
    val df = spark.range(50).select($"id".as("k"),
      concat(lit("x"), $"id").as("v"))
    DeltaInterop.write(df.coalesce(2), path, SaveMode.Overwrite,
      columnMapping = true, mappingMode = "id")
    val snap = DeltaInterop.snapshot(spark, path)
    assert(snap.columnMappingMode == "id")
    // declared schema carries BOTH protocol metadata keys per the spec
    snap.schema.fields.foreach { f =>
      assert(f.metadata.contains("delta.columnMapping.id") &&
        f.metadata.contains("delta.columnMapping.physicalName"),
        s"field ${f.name} missing mapping metadata")
    }
    // parquet on disk: physical col- names AND field ids in the footer
    val physical = spark.read.parquet(
      Files.list(java.nio.file.Paths.get(path)).iterator()
        .next().getParent.toString + "/*.parquet")
    assert(physical.columns.forall(_.startsWith("col-")))
    assert(physical.schema.fields.forall(
        _.metadata.contains("parquet.field.id")),
      "id-mode staged files must carry parquet field ids for by-id readers")
    val back = DeltaInterop.read(spark, path)
    assert(back.columns.toSeq == Seq("k", "v"))
    assert(back.as[(Long, String)].collect().sorted.toSeq ==
      (0L until 50L).map(i => (i, s"x$i")))
  }

  test("id-mode append stages under the table's physical names with ids") {
    val path = tmp()
    DeltaInterop.write(spark.range(10).select($"id".as("k")).coalesce(1),
      path, SaveMode.Overwrite, columnMapping = true, mappingMode = "id")
    DeltaInterop.write(spark.range(10, 25).select($"id".as("k")).coalesce(1),
      path, SaveMode.Append)
    val back = DeltaInterop.read(spark, path)
    assert(back.count() == 25)
    assert(back.select(sum($"k")).as[Long].head() == (0L until 25L).sum)
    assert(DeltaInterop.snapshot(spark, path).columnMappingMode == "id")
    assert(DeltaInterop.read(spark, path, asOf = Some(0L)).count() == 10)
  }

  test("id-mode stats skipping prunes under physical ids") {
    val path = tmp()
    DeltaInterop.write(spark.range(0, 100).select($"id".as("k")).coalesce(1),
      path, SaveMode.Overwrite, columnMapping = true, mappingMode = "id")
    DeltaInterop.write(spark.range(100, 200).select($"id".as("k")).coalesce(1),
      path, SaveMode.Append)
    DeltaInterop.write(spark.range(200, 300).select($"id".as("k")).coalesce(1),
      path, SaveMode.Append)
    val (kept, total) =
      DeltaInterop.statsCandidateFiles(spark, path, "k", 120L, 150L)
    assert(total == 3 && kept.size == 1,
      s"stats under id mapping must prune: kept ${kept.size} of $total")
    assert(DeltaInterop.readWhere(spark, path, "k", 120L, 150L)
      .select(count(lit(1))).as[Long].head() == 31)
  }

  test("hand-built id-mode fixture (external-writer shape) reads logically") {
    // a log authored the way delta-spark lays out an id-mode table:
    // physical p-names (NOT our col- UUID convention), ids in metadata
    val root = tempDir("delta_idfix")
    val logDir = root.resolve("_delta_log")
    Files.createDirectories(logDir)
    spark.range(7).select($"id".as("p1"),
        concat(lit("n"), $"id").as("p2"))
      .coalesce(1).write.mode("overwrite").parquet(root.resolve("d").toString)
    val part = {
      import scala.jdk.CollectionConverters._
      Files.list(root.resolve("d")).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq.head
    }
    val schemaJson =
      """{\"type\":\"struct\",\"fields\":[""" +
      """{\"name\":\"a\",\"type\":\"long\",\"nullable\":true,\"metadata\":{\"delta.columnMapping.id\":1,\"delta.columnMapping.physicalName\":\"p1\"}},""" +
      """{\"name\":\"b\",\"type\":\"string\",\"nullable\":true,\"metadata\":{\"delta.columnMapping.id\":2,\"delta.columnMapping.physicalName\":\"p2\"}}]}"""
    val commit = Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"fix-id","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2"},"createdTime":0}}""",
      s"""{"add":{"path":"d/$part","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    Files.write(logDir.resolve("00000000000000000000.json"),
      commit.mkString("", "\n", "\n").getBytes("UTF-8"))
    val back = DeltaInterop.read(spark, root.toString)
    assert(back.columns.toSeq == Seq("a", "b"))
    assert(back.as[(Long, String)].collect().sorted.toSeq ==
      (0L until 7L).map(i => (i, s"n$i")))
  }

  test("genuinely unknown mapping modes are still refused") {
    val root = tempDir("delta_badmode")
    val logDir = root.resolve("_delta_log")
    Files.createDirectories(logDir)
    val commit = Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      """{"metaData":{"id":"bad","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"a\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"weird"},"createdTime":0}}""")
    Files.write(logDir.resolve("00000000000000000000.json"),
      commit.mkString("", "\n", "\n").getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.read(spark, root.toString).collect()
    }
    assert(e.getMessage.contains("unsupported"))
  }
}
