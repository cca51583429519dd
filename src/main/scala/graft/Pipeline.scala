package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.Instant
import java.time.temporal.ChronoUnit

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

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
  * Bronze is plain parquet. Every later table — Silver, its quarantine,
  * the three dims, the fact and the rollup — is a [[VersionedTable]], so
  * each write is one atomic commit and a crash leaves the previous
  * version live. Silver's watermark is a `txn` entry of Silver's log,
  * committed with the merge it covers; the quarantine records the mark
  * of its own latest append the same way, so a retried batch appends each
  * FAIL row once.
  * Each dim commit is tagged with a fingerprint of its source (see
  * [[runGold]]), so an unchanged source costs a manifest read instead of
  * a rebuild. A root written before these tables were versioned has no
  * Silver log, hence no mark: its next batch rebuilds Silver and the
  * quarantine from all of Bronze, and the old part files stay unread.
  * Each [[runGold]] ends by vacuuming the tables Silver and Gold
  * overwrite (every versioned table but the append-only quarantine):
  * their older manifests go, and their unreferenced data files once a day
  * old ([[VersionedTable.vacuum]]'s horizon, which covers in-flight
  * readers and writers). A table therefore holds its latest version plus
  * what the last 24 hours wrote, instead of one copy per batch.
  *
  * Each layer evaluates each piece of its work once per batch: every
  * Spark job here carries fixed planning/scheduling cost whatever the
  * batch size, so a repeated scan, a count the log already holds or a
  * schema-inference read costs as much as the work itself on an
  * incremental batch.
  *
  * Every frame a layer commits is first coalesced to one partition per
  * `spark.sql.files.maxPartitionBytes` of the files its plan reads (see
  * [[sized]]), so a commit writes about as many files as a scan of its
  * input splits into, not one per shuffle or scan partition of the plan
  * that built it. A later scan packs a table's files into splits charging
  * each file `spark.sql.files.openCostInBytes` (4 MB), so a table of many
  * small files scans as many small tasks, and each task carries a fixed
  * scheduling and setup cost: an incremental batch of a few hundred KB
  * writes one file per table.
  */
object Pipeline {

  final case class LayerPaths(root: String) {
    val bronze = s"$root/bronze/claims"
    val silver = s"$root/silver/claims"
    val quarantine = s"$root/silver/claims_dq_failures"
    val dimMember = s"$root/gold/dim_member"
    val dimProvider = s"$root/gold/dim_provider"
    val dimDate = s"$root/gold/dim_date"
    val fact = s"$root/gold/fact_claim"
    val rollup = s"$root/gold/agg_monthly"
  }

  /** The `txn` app id under which Silver's commits record its watermark:
    * the newest Bronze `ingestion_timestamp` merged, as an ISO-8601 instant.
    */
  val SilverMark = "silver_claims"

  /** Bronze: raw feed → lineage-stamped append, partitioned by ingestion
    * date (B3 fix). `asOf` stamps the batch deterministically.
    */
  def runBronze(spark: SparkSession, raw: DataFrame, paths: LayerPaths,
      loadId: String, asOf: String): Unit = {
    val stamped = Bronze.stampLineage(raw, "tpch_feed", loadId,
      ingestionTs = lit(asOf).cast("timestamp"),
      sourceFile = lit(s"$loadId.parquet"))
    LayerIO.appendOrCreate(sized(stamped), spark, paths.bronze, "ingestion_date")
  }

  /** Silver: watermark-incremental read of Bronze → cleanse → DQ gate
    * (FAIL rows appended to the quarantine table) → business-key dedup →
    * merge into Silver, committed with the new watermark. Returns
    * Silver's row count after the merge, or 0 when Bronze holds nothing
    * above the watermark (nothing is written then).
    *
    * The mark is read from Silver's latest manifest and is a literal in
    * the Bronze scan's pushed filters; one aggregate over the persisted
    * DQ-tagged batch yields its row count, its FAIL counts and its new
    * mark, so the batch is read from Bronze once. The quarantine records
    * the same mark in its own log with each append
    * ([[VersionedTable.appendWithTxn]]) and appends only FAIL rows above
    * it (above Silver's mark while it has none): a batch that crashed
    * after the quarantine's commit and before Silver's is read again from
    * Silver's mark, with whatever Bronze gained since, and its quarantined
    * rows are not appended twice. The merge is a
    * read-modify-write commit ([[VersionedTable.rewrite]]): it commits the
    * merged table and the new mark together, or, after a lost race,
    * merges again against the winner. A batch without PASS rows commits
    * the mark alone. The returned count is the row count the commit
    * recorded.
    */
  def runSilver(spark: SparkSession, paths: LayerPaths): Long = runSilver(spark, paths, _ => ())

  /** [[runSilver]] calling `afterCommit` with "quarantine" and "silver"
    * after each commit: a seam for crash tests.
    */
  private[graft] def runSilver(spark: SparkSession, paths: LayerPaths,
      afterCommit: String => Unit): Long = {
    val mark = VersionedTable.txn(paths.silver, SilverMark)
    // The batch's rows above the quarantine's mark `from`. That mark is
    // ahead of Silver's only after a crash between the two commits; every
    // batch row is above Silver's, so any other mark adds no filter (a
    // timestamp literal is compiled into the plan's generated code).
    def newerThan(from: Option[String]): Column =
      above(from.filter(f => mark.forall(m => Instant.parse(f).isAfter(Instant.parse(m)))))
    val incr = LayerIO.readLayer(spark, paths.bronze).filter(above(mark))
    val tagged = Silver.applyDqRules(Silver.cleanseLineitem(incr)).persist()
    try {
      val failed = col("dq_status") === "FAIL"
      val stats = tagged.agg(count(lit(1)), count(when(failed, 1)),
        count(when(failed && newerThan(VersionedTable.txn(paths.quarantine, SilverMark)), 1)),
        unix_micros(max(col("ingestion_timestamp")))).head()
      if (stats.getLong(0) == 0L) 0L
      else {
        val newMark = Instant.EPOCH.plus(stats.getLong(3), ChronoUnit.MICROS).toString
        val (pass, fail) = Silver.quarantineSplit(tagged)
        if (stats.getLong(2) > 0L) {
          val failRows = fail.withColumn("dq_failure_reasons", col("dq_reasons_csv"))
            .drop("dq_reasons_csv")
          VersionedTable.appendWithTxn(paths.quarantine, "quarantine",
              Map(SilverMark -> newMark)) { txn =>
            sized(failRows.filter(newerThan(txn.get(SilverMark))))
          }
          afterCommit("quarantine")
        }
        val keys = Seq("l_orderkey", "l_linenumber")
        val deduped = Silver.dedupLatest(
          pass.drop("dq_status", "dq_failure_reasons", "dq_reasons_csv"), keys,
          Seq(col("ingestion_timestamp").desc, col("ship_date").desc,
            col("l_extendedprice").desc))
        val allFailed = stats.getLong(1) == stats.getLong(0)
        val v = VersionedTable.rewrite(spark, paths.silver, "merge", Map(SilverMark -> newMark)) {
          case Some(_) if allFailed => None
          case current =>
            Some(sized(current.fold(deduped)(Merge.upsert(_, deduped, keys, Some(pass)))))
        }
        afterCommit("silver")
        VersionedTable.numRecords(spark, paths.silver, v)
      }
    } finally tagged.unpersist()
  }

  /** Rows whose `ingestion_timestamp` is above `mark`; every row without one. */
  private def above(mark: Option[String]): Column =
    mark.fold(lit(true))(m => col("ingestion_timestamp") > lit(Instant.parse(m)))

  /** Gold: each SCD1 dim refreshed when its source changed, then the
    * fact rebuilt from the full Silver table with surrogate-key
    * resolution, then the monthly rollup refresh. The fact is written as
    * built, not merged into the previous fact: its keys are Silver's
    * keys, and Silver never drops a key, so a merge-upsert against the old
    * fact could add no row. The fact and the rollup are each one
    * [[VersionedTable]] overwrite commit, so readers see the previous
    * version until the new one is whole. Vacuuming those tables (see
    * the header) comes last and starts no Spark job.
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
    * [[sourceFingerprint]]). A table directory written as plain parquet
    * (no `_graft_log`) counts as changed; its old part files are left in
    * place and never read.
    */
  def runGold(spark: SparkSession, paths: LayerPaths, fixturesDir: String): Unit =
    runGold(spark, paths, fixturesDir, _ => ())

  /** [[runGold]] calling `afterCommit` with "fact" and "rollup" after
    * each commit: a seam for crash tests.
    */
  private[graft] def runGold(spark: SparkSession, paths: LayerPaths, fixturesDir: String,
      afterCommit: String => Unit): Unit = {
    val silver = VersionedTable.read(spark, paths.silver)
    val member = Gold.memberDim(Tables.customer(spark, fixturesDir))
    val provider = Gold.providerDim(Tables.supplier(spark, fixturesDir))
    // calendar covers the full ship-date tail (through 2001)
    val date = Gold.dimDate(spark, "1992-01-01", "2002-12-31")
    refreshDim(spark, paths.dimMember, "dim_member", keySpec(member), member.columns)(member.keyed)
    refreshDim(spark, paths.dimProvider, "dim_provider", keySpec(provider),
      provider.columns)(provider.keyed)
    refreshDim(spark, paths.dimDate, "dim_date", Nil, date)(date)
    VersionedTable.write(sized(Gold.factLines(silver, Tables.orders(spark, fixturesDir),
      VersionedTable.read(spark, paths.dimMember),
      VersionedTable.read(spark, paths.dimProvider),
      VersionedTable.read(spark, paths.dimDate))), paths.fact, SaveMode.Overwrite)
    afterCommit("fact")
    VersionedTable.write(sized(Gold.monthlyRollup(VersionedTable.read(spark, paths.fact))),
      paths.rollup, SaveMode.Overwrite)
    afterCommit("rollup")
    Seq(paths.silver, paths.dimMember, paths.dimProvider, paths.dimDate, paths.fact,
      paths.rollup).foreach(VersionedTable.vacuum(_))
  }

  private def keySpec(d: Gold.KeyedDim): Seq[String] =
    d.keyName +: d.naturalOrder.map(_.toString)

  /** Overwrite the dim at `path` with `build` unless its latest commit's
    * op tag already names the fingerprint of (`name`, `keySpec`,
    * `columns`). The check reads one manifest on the driver and starts no
    * job; `build` runs only on a refresh, whose jobs carry the description
    * `refresh <name>`. Two racing refreshes commit the same content.
    * Once the refresh has committed, what its key step registered with
    * [[CacheScope]] is released.
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
      try CacheScope.released(VersionedTable.write(sized(build), path, SaveMode.Overwrite, tag))
      finally sc.setJobDescription(described)
    }
  }

  /** `df` coalesced to `ceil(inputBytes / spark.sql.files.maxPartitionBytes)`
    * partitions, at least one, where `inputBytes` sums the size estimates
    * of its analyzed plan's leaves: the file sizes its file indexes or logs
    * already hold, so this starts no job. `coalesce` adds no shuffle and
    * only ever lowers the partition count: a frame with fewer partitions
    * keeps them.
    */
  private def sized(df: DataFrame): DataFrame = {
    val bytes = df.queryExecution.analyzed.collectLeaves().map(_.stats.sizeInBytes).sum
    val limit = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    df.coalesce(((bytes + limit - 1) / limit).max(1).min(Int.MaxValue).toInt)
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
