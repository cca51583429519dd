package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType, TimestampType}

import graft.operators.{Bronze, Gold, Merge, Silver}
import graft.sources.{LayerIO, VersionedTable}

/** The medallion entry points — the engine's equivalent of the
  * reference's three layer-load scripts
  * (/root/reference/bronze/bronze_rx_claims_load.py,
  * silver/silver_rx_claims_load.py, gold/gold_rx_claims_load.py), driven
  * over the lineitem/orders fixtures as the claims feed.
  *
  * Each run is INCREMENTAL and IDEMPOTENT: Bronze appends with lineage,
  * Silver consumes only rows above its watermark and merges by business
  * key, Gold refreshes a dim (SCD1 full refresh, as the reference does)
  * only when what it is built from changed, and rebuilds the fact from
  * the full Silver table. Re-running with no new data changes nothing —
  * the "Idempotent Processing" contract the reference docs declare
  * (bronze_silver_gold/readme.md:68-70).
  *
  * The three Gold dims are [[VersionedTable]]s; every other layer table
  * is plain parquet. Each dim commit is tagged with a fingerprint of its
  * source (see [[runGold]]), so an unchanged source costs a manifest read
  * instead of a rebuild.
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

  private val WatermarkSchema = new StructType()
    .add("table_name", StringType).add("last_processed_timestamp", TimestampType)

  /** The watermark table under its fixed schema, so no footer is read to
    * infer it; empty before the first Silver commit.
    */
  private def readWatermarks(spark: SparkSession, paths: LayerPaths): DataFrame =
    if (LayerIO.layerExists(spark, paths.watermarks))
      LayerIO.readLayer(spark, paths.watermarks, WatermarkSchema)
    else spark.createDataFrame(java.util.List.of[Row](), WatermarkSchema)

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

  /** Gold: each SCD1 dim refreshed when its source changed, then the
    * fact rebuilt from the full Silver table with surrogate-key
    * resolution, then the monthly rollup refresh. The fact is written as
    * built, not merged into the previous fact: its keys are Silver's
    * keys, and Silver never drops a key, so a merge-upsert against the old
    * fact could add no row. Tables this call has just written are read
    * back with the schema it wrote.
    *
    * `dim_member`, `dim_provider` and `dim_date` are [[VersionedTable]]s
    * whose refresh commits carry the op tag `refresh:<fingerprint>` (see
    * [[sourceFingerprint]]): the dim's name and surrogate-key spec, the
    * output schema and canonicalized analyzed plan of its pre-key
    * projection (for `dim_date`, its whole plan), and the path, length
    * and modification time of every file that projection reads. A dim
    * whose latest commit carries the current tag is read as it is; only
    * a differing tag builds and overwrites it. A crashed refresh commits
    * nothing, so the previous version stays live and the next run tries
    * again. The key step's code is not fingerprinted (see
    * [[sourceFingerprint]]). A dim directory written as plain parquet (no
    * `_graft_log`) counts as changed; its old part files are left in
    * place and never read.
    */
  def runGold(spark: SparkSession, paths: LayerPaths, fixturesDir: String): Unit = {
    val silver = LayerIO.readLayer(spark, paths.silver)
    val member = Gold.memberDim(Tables.customer(spark, fixturesDir))
    val provider = Gold.providerDim(Tables.supplier(spark, fixturesDir))
    // calendar covers the full ship-date tail (through 2001)
    val date = Gold.dimDate(spark, "1992-01-01", "2002-12-31")
    refreshDim(spark, paths.dimMember, "dim_member", keySpec(member), member.columns)(member.keyed)
    refreshDim(spark, paths.dimProvider, "dim_provider", keySpec(provider),
      provider.columns)(provider.keyed)
    refreshDim(spark, paths.dimDate, "dim_date", Nil, date)(date)
    val fact = Gold.factLines(silver, Tables.orders(spark, fixturesDir),
      VersionedTable.read(spark, paths.dimMember),
      VersionedTable.read(spark, paths.dimProvider),
      VersionedTable.read(spark, paths.dimDate))
    // staged so the previous fact stays readable until the new one is whole
    LayerIO.overwriteViaStaging(spark, fact, paths.fact)
    Gold.monthlyRollup(LayerIO.readLayer(spark, paths.fact, fact.schema))
      .write.mode(SaveMode.Overwrite).parquet(paths.rollup)
  }

  private def keySpec(d: Gold.KeyedDim): Seq[String] =
    d.keyName +: d.naturalOrder.map(_.toString)

  /** Overwrite the dim at `path` with `build` unless its latest commit's
    * op tag already names the fingerprint of (`name`, `keySpec`,
    * `columns`). The check reads one manifest on the driver and starts no
    * job; `build` runs only on a refresh, whose jobs carry the description
    * `refresh <name>`. Two racing refreshes commit the same content.
    */
  private def refreshDim(spark: SparkSession, path: String, name: String, keySpec: Seq[String],
      columns: DataFrame)(build: => DataFrame): Unit = {
    val tag = "refresh:" + sourceFingerprint(name, keySpec, columns)
    if (!VersionedTable.latestVersion(path).exists(VersionedTable.opOf(path, _) == tag)) {
      // the build's key step persists its input, and the session's cache
      // matches plans, not file contents: re-read what the old source cached
      sourceRoots(columns).foreach(spark.catalog.refreshByPath)
      val sc = spark.sparkContext
      val described = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"refresh $name")
      try VersionedTable.write(build, path, SaveMode.Overwrite, tag)
      finally sc.setJobDescription(described)
    }
  }

  /** The root paths of the file relations `df` reads. */
  private def sourceRoots(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect { case r: LogicalRelation => r.relation }
      .collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.toString) }
      .flatten.distinct

  /** SHA-256 (hex) over a dim's `name`, its surrogate-key spec, the
    * output schema and canonicalized analyzed plan of `columns`, and the
    * (path, length, modification time) of each of its input files — the
    * same triple Spark's file index compares files by. Driver-side: the
    * plan is analyzed, never run, and each file is one status call.
    *
    * Limit: the key step is covered only by its spec (key column and
    * natural order), not by its code. A change inside
    * [[Gold.withSurrogateKey]] or [[graft.operators.PrefixSum]] alone
    * leaves every fingerprint as it was, so the dims keep their old keys
    * until their `_graft_log` is deleted or their source changes.
    */
  private def sourceFingerprint(name: String, keySpec: Seq[String],
      columns: DataFrame): String = {
    val conf = columns.sparkSession.sparkContext.hadoopConfiguration
    val files = columns.inputFiles.sorted.toSeq.map { f =>
      val st = new Path(f).getFileSystem(conf).getFileStatus(new Path(f))
      s"$f|${st.getLen}|${st.getModificationTime}"
    }
    val plan = columns.queryExecution.analyzed.canonicalized
      .treeString(verbose = true, maxFields = Int.MaxValue)
    val md = MessageDigest.getInstance("SHA-256")
    (Seq(name) ++ keySpec ++ Seq(columns.schema.json, plan) ++ files).foreach { part =>
      md.update(s"${part.length}:$part".getBytes(UTF_8))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
