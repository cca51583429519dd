package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

class LayerIOSpec extends SparkSpec {
  import spark.implicits._

  val claimsSchema: StructType = StructType(Seq(
    StructField("claim_id", StringType),
    StructField("amount", DoubleType),
    StructField("service_date", DateType)))

  test("PERMISSIVE csv read captures corrupt rows instead of failing") {
    val dir = tempDir("csv_in")
    Files.writeString(dir.resolve("claims.csv"),
      "claim_id,amount,service_date\nC1,10.5,2024-01-02\nC2,notanumber,2024-01-03\nC3,7.25,2024-01-04\n")
    // cache first: Spark disallows querying only _corrupt_record on raw CSV
    val df = LayerIO.readCsv(spark, dir.toString, claimsSchema).cache()
    assert(df.count() == 3)
    assert(df.filter($"_corrupt_record".isNotNull).count() == 1)
    assert(df.filter($"_corrupt_record".isNull).count() == 2)
  }

  test("inferSchema csv read types clean columns and nulls bad cells") {
    val dir = tempDir("csv_inf")
    Files.writeString(dir.resolve("claims.csv"),
      "claim_id,amount,service_date\nC1,10.5,2024-01-02\nC2,notanumber,2024-01-03\nC3,7.25,2024-01-04\n")
    val df = LayerIO.readCsvInferred(spark, dir.toString).cache()
    // a non-numeric cell forces `amount` to string under inference —
    // exactly the silent-widening failure mode readCsv's declared
    // schema exists to prevent; the reference's inferSchema ingest
    // accepts it, so this entry point must too
    assert(df.count() == 3)
    assert(df.schema("claim_id").dataType == StringType)
    assert(df.schema("amount").dataType == StringType)
    // a clean numeric column infers to a numeric type on its own file
    val dir2 = tempDir("csv_inf2")
    Files.writeString(dir2.resolve("claims.csv"),
      "claim_id,amount\nC1,10.5\nC3,7.25\n")
    val df2 = LayerIO.readCsvInferred(spark, dir2.toString)
    assert(df2.schema("amount").dataType == DoubleType)
    assert(df2.as[(String, Double)].collect().toSet ==
      Set(("C1", 10.5), ("C3", 7.25)))
  }

  test("PERMISSIVE jsonl read captures corrupt lines; writeJsonl round-trips") {
    val dir = tempDir("jsonl_in")
    Files.writeString(dir.resolve("claims.json"),
      """{"claim_id":"C1","amount":10.5}
        |{"claim_id":"C2","amount":"notanumber"}
        |not json at all
        |{"claim_id":"C3","amount":7.25}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("claim_id", StringType), StructField("amount", DoubleType)))
    val df = LayerIO.readJsonl(spark, dir.toString, schema).cache()
    assert(df.count() == 4)
    assert(df.filter($"_corrupt_record".isNotNull).count() == 2)
    val good = df.filter($"_corrupt_record".isNull)
      .select("claim_id", "amount").as[(String, Double)].collect().toSet
    assert(good == Set(("C1", 10.5), ("C3", 7.25)))
    // sink round trip
    val out = tempDir("jsonl_out").resolve("t").toString
    LayerIO.writeJsonl(good.toSeq.toDF("claim_id", "amount"), out)
    val back = LayerIO.readJsonl(spark, out, schema)
      .select("claim_id", "amount").as[(String, Double)].collect().toSet
    assert(back == good)
    df.unpersist()
  }

  test("ORC round trip preserves rows and pushes filters to the scan") {
    val out = tempDir("orc_out").resolve("t").toString
    val src = (1L to 1000L).map(i => (i, s"n$i", i * 1.5)).toDF("k", "name", "v")
    LayerIO.writeOrc(src, out)
    val back = LayerIO.readOrc(spark, out)
    assert(back.count() == 1000)
    val filtered = back.filter($"k" > 900).select("k", "v")
    assert(filtered.count() == 100)
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(k), GreaterThan(k,900)"),
      s"ORC scan must receive the pushed filter:\n$scan")
  }

  test("appendOrCreate: partitioned create, then append; partition pruning works") {
    val path = tempDir("layer").resolve("bronze").toString
    val day1 = Seq(("C1", 10.0, "2024-01-01"), ("C2", 20.0, "2024-01-02"))
      .toDF("claim_id", "amount", "d").withColumn("ingestion_date", to_date($"d")).drop("d")
    assert(!LayerIO.layerExists(spark, path))
    LayerIO.appendOrCreate(day1, spark, path, "ingestion_date")
    assert(LayerIO.layerExists(spark, path))
    val day2 = Seq(("C3", 30.0, "2024-01-03")).toDF("claim_id", "amount", "d")
      .withColumn("ingestion_date", to_date($"d")).drop("d")
    LayerIO.appendOrCreate(day2, spark, path, "ingestion_date")
    val back = LayerIO.readLayer(spark, path)
    assert(back.count() == 3)
    // partition pruning: filter on the partition column reads one directory
    val pruned = back.filter($"ingestion_date" === to_date(lit("2024-01-03")))
    val scan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == 1)
    assert(!scan.contains("2024-01-01") || scan.contains("PartitionFilters"),
      "partition filter must be pushed to the scan")
  }

  test("readLayer of a VersionedTable reads its latest live rows: no superseded file, no dv/ row") {
    val path = tempDir("layer").resolve("silver").toString
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path, SaveMode.Overwrite)
    VersionedTable.write(Seq((3L, "c"), (4L, "d"), (5L, "e")).toDF("k", "v"), path,
      SaveMode.Overwrite)
    VersionedTable.deleteWhere(spark, path, $"k" === 4L)
    // the directory holds v0's superseded files and the DV file as well
    assert(Files.list(java.nio.file.Paths.get(path, "dv")).count() > 0)
    val back = LayerIO.readLayer(spark, path)
    assert(back.schema == VersionedTable.read(spark, path).schema)
    assert(back.as[(Long, String)].collect().toSet == Set((3L, "c"), (5L, "e")))
  }

  test("a partitioned plain read keeps its partition column and starts no job") {
    val path = tempDir("layer").resolve("bronze").toString
    Seq(("C1", 10.0, "2024-01-01"), ("C2", 20.0, "2024-01-02")).toDF("claim_id", "amount", "d")
      .withColumn("ingestion_date", to_date($"d")).drop("d")
      .write.partitionBy("ingestion_date").parquet(path)
    var back: org.apache.spark.sql.DataFrame = null
    assert(jobsStartedBy { back = LayerIO.readLayer(spark, path) } == 0)
    val inferred = spark.read.parquet(path)
    assert(back.schema == inferred.schema)
    assert(back.schema("ingestion_date").dataType == DateType)
    assert(back.collect().toSet == inferred.collect().toSet)
  }

  test("registerTable makes the layer SQL-addressable") {
    val path = tempDir("layer").resolve("gold").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(path)
    LayerIO.registerTable(spark, "gold_test", path)
    assert(spark.sql("SELECT count(*) FROM gold_test").as[Long].collect()(0) == 1L)
  }
}
