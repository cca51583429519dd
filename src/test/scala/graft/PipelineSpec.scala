package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftspark.drainListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.LayerIO

/** Incremental + idempotency contract of the medallion entry points:
  * batch 1 loads half the feed, batch 2 the rest; a third run with no new
  * data must change nothing anywhere (the reference docs' "Idempotent
  * Processing" declaration, bronze_silver_gold/readme.md:68-70). Also:
  * re-delivered keys update in place, a batch failing DQ on every row,
  * and the Spark-job budget of one incremental batch.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def freshPaths(): Pipeline.LayerPaths =
    Pipeline.LayerPaths(Files.createTempDirectory("medallion_run").toString)

  /** Batch `b` (1-9) through all three layers; returns runSilver's count. */
  private def loadBatch(paths: Pipeline.LayerPaths, raw: DataFrame, b: Int): Long = {
    Pipeline.runBronze(spark, raw, paths, s"load_$b", s"2026-01-0$b 00:00:00")
    val n = Pipeline.runSilver(spark, paths)
    Pipeline.runGold(spark, paths, sf)
    n
  }

  private def rowsPerKey(df: DataFrame, keys: String*): Set[Long] =
    df.groupBy(keys.map(col): _*).count().select("count").as[Long].collect().toSet

  /** Spark jobs started while `body` runs, counted once every event has
    * reached the listener.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { body; drainListenerBus(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("two incremental batches then a no-op re-run: counts conserved, idempotent") {
    val paths = Pipeline.LayerPaths(Files.createTempDirectory("medallion_run").toString)
    val li = Tables.lineitem(spark, sf)
    val batch1 = li.filter($"l_orderkey" % 2 === 0)
    val batch2 = li.filter($"l_orderkey" % 2 =!= 0)

    // batch 1
    Pipeline.runBronze(spark, batch1, paths, "load_1", "2026-01-01 00:00:00")
    val n1 = Pipeline.runSilver(spark, paths)
    Pipeline.runGold(spark, paths, sf)
    assert(n1 > 0)
    val factAfter1 = LayerIO.readLayer(spark, paths.fact).count()
    assert(factAfter1 == n1)

    // batch 2 — only the new rows are processed (watermark)
    Pipeline.runBronze(spark, batch2, paths, "load_2", "2026-01-02 00:00:00")
    val n2 = Pipeline.runSilver(spark, paths)
    Pipeline.runGold(spark, paths, sf)
    val silverAfter2 = LayerIO.readLayer(spark, paths.silver).count()
    val factAfter2 = LayerIO.readLayer(spark, paths.fact).count()
    assert(n2 > 0 && n2 < li.count())
    assert(silverAfter2 == factAfter2)

    // silver = deduped pass rows of the full feed
    val expected = operators.Silver.dedupLatest(
      operators.Silver.quarantineSplit(operators.Silver.applyDqRules(
        operators.Silver.cleanseLineitem(li)))._1,
      Seq("l_orderkey", "l_linenumber"), Seq($"ship_date".desc))
      .count()
    assert(silverAfter2 == expected)

    // no-op third run: nothing above the watermark, nothing changes
    assert(Pipeline.runSilver(spark, paths) == 0L)
    Pipeline.runGold(spark, paths, sf)
    assert(LayerIO.readLayer(spark, paths.fact).count() == factAfter2)
    val rollup1 = LayerIO.readLayer(spark, paths.rollup)
    assert(rollup1.agg(sum($"n_lines")).as[Long].collect()(0) == factAfter2)

    // referential integrity end-state
    val fact = LayerIO.readLayer(spark, paths.fact)
    assert(fact.filter($"member_sk".isNull || $"provider_sk".isNull ||
      $"service_date_key".isNull).count() == 0)
  }

  test("re-delivered keys replace their Silver and fact rows, adding none") {
    val paths = freshPaths()
    val li = Tables.lineitem(spark, sf)
    val batch1 = li.filter($"l_orderkey" % 2 === 0)
    // a quarter of the feed again, every price changed; only keys the feed
    // holds once, so each re-delivered key has one expected price
    val keys = Seq("l_orderkey", "l_linenumber")
    val unique = li.groupBy(keys.map(col): _*).count().filter($"count" === 1)
    val redelivered = li.filter($"l_orderkey" % 4 === 0)
      .join(unique, keys, "left_semi")
      .withColumn("l_extendedprice", round($"l_extendedprice" + 1.0, 2))
    loadBatch(paths, batch1, 1)
    val n2 = loadBatch(paths, redelivered, 2)

    val expected = operators.Silver.quarantineSplit(operators.Silver.applyDqRules(
        operators.Silver.cleanseLineitem(batch1.unionByName(redelivered))))._1
      .select(keys.map(col): _*).distinct().count()
    val silver = LayerIO.readLayer(spark, paths.silver)
    val fact = LayerIO.readLayer(spark, paths.fact)
    assert(n2 == expected && silver.count() == expected)
    assert(fact.count() == expected)
    assert(rowsPerKey(silver, keys: _*) == Set(1L))
    assert(rowsPerKey(fact, "claim_id", "claim_line_number") == Set(1L))

    val updated = fact.join(redelivered.select($"l_orderkey".as("claim_id"),
        $"l_linenumber".as("claim_line_number"),
        $"l_extendedprice".cast(DecimalType(18, 2)).as("new_price")),
      Seq("claim_id", "claim_line_number"))
    assert(updated.count() > 0)
    assert(updated.filter(!($"billed_amount" <=> $"new_price")).isEmpty)
  }

  test("a batch failing DQ on every row: quarantined once, Silver unchanged, watermark advanced") {
    val paths = freshPaths()
    val li = Tables.lineitem(spark, sf)
    loadBatch(paths, li.filter($"l_orderkey" % 2 === 0), 1)
    val silverBefore = LayerIO.readLayer(spark, paths.silver).collect().toSet
    def quarantined(): Long =
      if (LayerIO.layerExists(spark, paths.quarantine))
        LayerIO.readLayer(spark, paths.quarantine).count()
      else 0L
    val quarantinedBefore = quarantined()

    val bad = li.filter($"l_orderkey" % 2 =!= 0).withColumn("l_discount", lit(2.0))
    Pipeline.runBronze(spark, bad, paths, "load_2", "2026-01-02 00:00:00")
    assert(Pipeline.runSilver(spark, paths) == silverBefore.size)
    assert(LayerIO.readLayer(spark, paths.silver).collect().toSet == silverBefore)
    assert(quarantined() == quarantinedBefore + bad.count())
    val markAdvanced = LayerIO.readLayer(spark, paths.watermarks)
      .agg(max($"last_processed_timestamp") ===
        lit("2026-01-02 00:00:00").cast("timestamp"))
      .as[Boolean].head()
    assert(markAdvanced)

    // nothing above the new mark: the re-run quarantines nothing again
    assert(Pipeline.runSilver(spark, paths) == 0L)
    assert(quarantined() == quarantinedBefore + bad.count())
  }

  test("job budget: one incremental batch through Silver and Gold") {
    val paths = freshPaths()
    val li = Tables.lineitem(spark, sf)
    loadBatch(paths, li.filter($"l_orderkey" % 2 === 0), 1)
    Pipeline.runBronze(spark, li.filter($"l_orderkey" % 2 =!= 0), paths,
      "load_2", "2026-01-02 00:00:00")
    val jobs = jobsDuring {
      Pipeline.runSilver(spark, paths)
      Pipeline.runGold(spark, paths, sf)
    }
    // 37 measured on local[4]; it was 56 while Silver re-ran a broadcast
    // watermark join in three plans and scanned Bronze again for the new
    // mark, Gold merge-upserted the fact into the previous one, and every
    // read-back of a just-written table inferred its schema in a job
    assert(jobs <= 37, s"$jobs Spark jobs for one batch")
  }
}
