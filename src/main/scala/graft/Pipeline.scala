package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bronze, Gold, Merge, Silver}
import graft.sources.LayerIO

/** The medallion entry points — the engine's equivalent of the
  * reference's three layer-load scripts
  * (/root/reference/bronze/bronze_rx_claims_load.py,
  * silver/silver_rx_claims_load.py, gold/gold_rx_claims_load.py), driven
  * over the lineitem/orders fixtures as the claims feed.
  *
  * Each run is INCREMENTAL and IDEMPOTENT: Bronze appends with lineage,
  * Silver consumes only rows above its watermark and merges by business
  * key, Gold rebuilds dims (SCD1 full refresh, as the reference does)
  * and rebuilds the fact from the full Silver table. Re-running with no
  * new data changes nothing — the "Idempotent Processing" contract the
  * reference docs declare (bronze_silver_gold/readme.md:68-70).
  *
  * Each layer evaluates each piece of its work once per batch: every
  * Spark job here carries fixed planning/scheduling cost whatever the
  * batch size, so a repeated scan or a schema-inference read costs as
  * much as the work itself on an incremental batch.
  */
object Pipeline {

  final case class LayerPaths(root: String) {
    val bronze = s"$root/bronze/claims"
    val silver = s"$root/silver/claims"
    val quarantine = s"$root/silver/claims_dq_failures"
    val watermarks = s"$root/control/watermarks"
    val dimMember = s"$root/gold/dim_member"
    val dimProvider = s"$root/gold/dim_provider"
    val dimDate = s"$root/gold/dim_date"
    val fact = s"$root/gold/fact_claim"
    val rollup = s"$root/gold/agg_monthly"
  }

  /** Bronze: raw feed → lineage-stamped append, partitioned by ingestion
    * date (B3 fix). `asOf` stamps the batch deterministically.
    */
  def runBronze(spark: SparkSession, raw: DataFrame, paths: LayerPaths,
      loadId: String, asOf: String): Unit = {
    val stamped = Bronze.stampLineage(raw, "tpch_feed", loadId,
      ingestionTs = lit(asOf).cast("timestamp"),
      sourceFile = lit(s"$loadId.parquet"))
    LayerIO.appendOrCreate(stamped, spark, paths.bronze, "ingestion_date")
  }

  private def readWatermarks(spark: SparkSession, paths: LayerPaths): DataFrame =
    if (LayerIO.layerExists(spark, paths.watermarks))
      LayerIO.readLayer(spark, paths.watermarks)
    else {
      import spark.implicits._
      Seq.empty[(String, java.sql.Timestamp)]
        .toDF("table_name", "last_processed_timestamp")
    }

  /** Silver: watermark-incremental read of Bronze → cleanse → DQ gate
    * (FAIL rows appended to the quarantine table) → business-key dedup →
    * merge into Silver → watermark commit. Returns Silver's row count
    * after the merge, or 0 when Bronze holds nothing above the watermark
    * (nothing is written then).
    *
    * The mark is a literal in the Bronze scan's pushed filters, and one
    * aggregate over the persisted DQ-tagged batch yields its row count,
    * its FAIL count and its new high-water mark, so the batch is read
    * from Bronze once.
    */
  def runSilver(spark: SparkSession, paths: LayerPaths): Long = {
    val incr = Silver.incrementalAfterLiteral(LayerIO.readLayer(spark, paths.bronze),
      readWatermarks(spark, paths), "silver_claims", "ingestion_timestamp")
    val tagged = Silver.applyDqRules(Silver.cleanseLineitem(incr)).persist()
    try {
      val stats = tagged.agg(count(lit(1)),
        count(when(col("dq_status") === "FAIL", 1)),
        max(col("ingestion_timestamp"))).head()
      if (stats.getLong(0) == 0L) 0L
      else {
        val (pass, fail) = Silver.quarantineSplit(tagged)
        if (stats.getLong(1) > 0L)
          LayerIO.appendLayer(fail.withColumn("dq_failure_reasons",
            col("dq_reasons_csv")).drop("dq_reasons_csv"), paths.quarantine)
        val deduped = Silver.dedupLatest(
          pass.drop("dq_status", "dq_failure_reasons", "dq_reasons_csv"),
          Seq("l_orderkey", "l_linenumber"),
          Seq(col("ingestion_timestamp").desc, col("ship_date").desc,
            col("l_extendedprice").desc))
        val merged =
          if (LayerIO.layerExists(spark, paths.silver))
            Merge.upsert(LayerIO.readLayer(spark, paths.silver), deduped,
              Seq("l_orderkey", "l_linenumber"))
          else deduped
        // staging + swap: the merge plan READS paths.silver, so an in-place
        // overwrite (even behind cache+count) recomputes from deleted files
        // if partitions evict mid-write — the staged write keeps the source
        // table live until the new one is complete
        LayerIO.overwriteViaStaging(spark, merged, paths.silver)
        val n = LayerIO.readLayer(spark, paths.silver, merged.schema).count()
        spark.range(1).select(lit("silver_claims").as("table_name"),
            lit(stats.get(2)).cast("timestamp").as("last_processed_timestamp"))
          .write.mode(SaveMode.Append).parquet(paths.watermarks)
        n
      }
    } finally tagged.unpersist()
  }

  /** Gold: SCD1 dims full refresh + date dim, then the fact rebuilt from
    * the full Silver table with surrogate-key resolution, then the
    * monthly rollup refresh. The fact is written as built, not merged
    * into the previous fact: its keys are Silver's keys, and Silver never
    * drops a key, so a merge-upsert against the old fact could add no
    * row. Tables this call has just written are read back with the
    * schema it wrote.
    */
  def runGold(spark: SparkSession, paths: LayerPaths, fixturesDir: String): Unit = {
    val silver = LayerIO.readLayer(spark, paths.silver)
    val dimMember = Gold.dimMember(Tables.customer(spark, fixturesDir))
    val dimProvider = Gold.dimProvider(Tables.supplier(spark, fixturesDir))
    // calendar covers the full ship-date tail (through 2001)
    val dimDate = Gold.dimDate(spark, "1992-01-01", "2002-12-31")
    dimMember.write.mode(SaveMode.Overwrite).parquet(paths.dimMember)
    dimProvider.write.mode(SaveMode.Overwrite).parquet(paths.dimProvider)
    dimDate.write.mode(SaveMode.Overwrite).parquet(paths.dimDate)
    val fact = Gold.factLines(silver, Tables.orders(spark, fixturesDir),
      LayerIO.readLayer(spark, paths.dimMember, dimMember.schema),
      LayerIO.readLayer(spark, paths.dimProvider, dimProvider.schema),
      LayerIO.readLayer(spark, paths.dimDate, dimDate.schema))
    // staged so the previous fact stays readable until the new one is whole
    LayerIO.overwriteViaStaging(spark, fact, paths.fact)
    Gold.monthlyRollup(LayerIO.readLayer(spark, paths.fact, fact.schema))
      .write.mode(SaveMode.Overwrite).parquet(paths.rollup)
  }
}
