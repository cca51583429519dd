package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Bronze, Gold, Merge, Silver}
import graft.sources.{DeltaInterop, LayerIO}

/** End-to-end medallion run (SURVEY.md §5.4): synthetic claims CSV →
  * Bronze (lineage, corrupt capture) → Silver (cleanse, DQ gate, dedup) →
  * Gold (dims + fact via merge), asserting row conservation at every
  * hand-off and fact→dim referential integrity — the "automated tests"
  * the reference docs call for.
  */
class MedallionPipelineSpec extends SparkSpec {
  import spark.implicits._

  val schema: StructType = StructType(Seq(
    StructField("claim_id", StringType),
    StructField("member_id", StringType),
    StructField("amount", DoubleType),
    StructField("service_date", DateType)))

  test("csv -> bronze -> silver -> gold conserves rows and referential integrity") {
    val root = tempDir("medallion")
    Files.writeString(root.resolve("claims.csv"),
      """claim_id,member_id,amount,service_date
        |C1,M1,10.5,2024-01-02
        |C2,M2,20.0,2024-01-03
        |C2,M2,22.0,2024-01-04
        |C3,M1,notanumber,2024-01-05
        |C4,,30.0,2024-01-06
        |C5,M3,40.0,2024-01-07
        |""".stripMargin)

    // Bronze: permissive ingest + lineage, partitioned by ingestion date
    val bronzePath = s"$root/bronze"
    val raw = LayerIO.readCsv(spark, s"$root/claims.csv", schema)
    val bronze = Bronze.stampLineage(raw, "claims_feed", "load_1",
      ingestionTs = lit("2024-02-01 00:00:00").cast("timestamp"),
      sourceFile = lit("claims.csv"))
    DeltaInterop.write(bronze, bronzePath, SaveMode.Append, Seq("ingestion_date"))
    val bronzeBack = LayerIO.readLayer(spark, bronzePath).cache()
    assert(bronzeBack.count() == 6, "bronze keeps every raw row incl. corrupt")
    val stats = Bronze.validationStats(bronzeBack, Seq("claim_id", "member_id")).collect()(0)
    assert(stats.getAs[Long]("corrupt_rows") == 1)

    // Silver: drop corrupt, DQ gate, dedup latest per claim
    val rules = Seq(
      Silver.DqRule("MISSING_KEYS", $"claim_id".isNull || $"member_id".isNull || $"member_id" === ""),
      Silver.DqRule("NON_POSITIVE_AMOUNT", $"amount" <= 0))
    val parsed = bronzeBack.filter($"_corrupt_record".isNull)
    val (pass, fail) = Silver.quarantineSplit(Silver.applyDqRules(parsed, rules))
    val silver = Silver.dedupLatest(pass, Seq("claim_id"), Seq($"service_date".desc))
    assert(parsed.count() == pass.count() + fail.count(), "DQ gate conserves rows")
    assert(fail.count() == 1) // C4: missing member
    assert(silver.count() == 3) // C1, C2 (latest), C5
    assert(silver.filter($"claim_id" === "C2").select($"amount").as[Double].collect()(0) == 22.0)

    // Gold: member dim + fact with resolved surrogate keys, merged twice
    val dimMember = Gold.withSurrogateKey(
      silver.select($"member_id").distinct(), "member_sk", Seq($"member_id"))
    val fact = silver.join(broadcast(dimMember), "member_id")
      .select($"claim_id", $"member_sk", $"amount", $"service_date")
    assert(fact.count() == silver.count())
    assert(fact.filter($"member_sk".isNull).count() == 0, "referential integrity")
    // idempotent re-merge of the same batch
    val merged = Merge.upsert(fact, fact, Seq("claim_id"))
    assert(merged.exceptAll(fact).isEmpty && fact.exceptAll(merged).isEmpty)
    bronzeBack.unpersist()
  }

  test("native expressions are SQL-addressable after registration") {
    GraftFunctions.register(spark)
    val sim = spark.sql(
      "SELECT cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS s")
      .as[Double].collect()(0)
    assert(sim == 1.0)
    val sh = spark.sql("SELECT word_shingles('a b c', 2) AS g")
      .as[Seq[String]].collect()(0)
    assert(sh == Seq("a b", "b c"))
    val msh = spark.sql(
      "SELECT min_shingle_hash('a b c', 2) AS m, md5('a b') AS h1, md5('b c') AS h2")
      .as[(String, String, String)].collect()(0)
    assert(msh._1 == Seq(msh._2, msh._3).min)
  }
}
