package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.operators.{Bronze, Gold, Merge, Silver}
import graft.sources.{DeltaInterop, VersionedTable}

/** The medallion entry points — the engine's equivalent of the
  * reference's three layer-load scripts
  * (/root/reference/bronze/bronze_rx_claims_load.py,
  * silver/silver_rx_claims_load.py, gold/gold_rx_claims_load.py), driven
  * over the lineitem/orders fixtures as the claims feed.
  *
  * Each run is INCREMENTAL and IDEMPOTENT: Bronze appends with lineage,
  * Silver consumes only the Bronze versions after its watermark and
  * merges by business key, Gold refreshes a dim (SCD1 full refresh, as
  * the reference does) only when what it is built from changed, and
  * rebuilds the fact from the full Silver table. Re-running with no new
  * data changes nothing — the "Idempotent Processing" contract the
  * reference docs declare (bronze_silver_gold/readme.md:68-70).
  *
  * Every table is on a log, so each write is one atomic commit and a
  * crash leaves the previous version live. Bronze is a `_delta_log`
  * table ([[DeltaInterop]]), as the reference's Bronze is a Delta table,
  * and each load commits once per load id. Silver, its quarantine, the
  * three dims, the fact and the rollup are [[VersionedTable]]s. Silver's
  * watermark is the Bronze version it has merged, a `txn` entry of
  * Silver's log committed with the merge it covers, as a Delta streaming
  * source's offset is a table version; the quarantine records the Bronze
  * version of its own latest append the same way, so a retried batch
  * appends each FAIL row once.
  * Each dim commit is tagged with a fingerprint of its source (see
  * [[runGold]]), so an unchanged source costs a manifest read instead of
  * a rebuild. A root written by earlier versions migrates on its next
  * batch: a plain-parquet Bronze's files become Delta version 0 in
  * place, and a Silver without a log or with a timestamp mark has no
  * mark, so that batch rebuilds Silver and the quarantine from all of
  * Bronze; the old part files of the later tables stay unread.
  * Each [[runGold]] ends by vacuuming every table but Bronze: older
  * manifests go, and unreferenced data files once a day old
  * ([[VersionedTable.vacuum]]'s horizon, which covers in-flight readers
  * and writers). A table therefore holds its latest version plus what
  * the last 24 hours wrote, instead of one copy per batch; the
  * append-only quarantine keeps every file, and its log one manifest.
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

  /** The `txn` app id under which Silver's commits record its watermark,
    * and the quarantine's record its own: the newest Bronze version merged,
    * as a decimal string.
    */
  val SilverMark = "silver_claims"

  /** Bronze: raw feed → lineage-stamped append to a `_delta_log` table
    * partitioned by ingestion date (B3 fix), created by the first batch.
    * `asOf` stamps the batch deterministically. The commit carries the
    * `txn` entry `bronze:<loadId>`, so a retried load commits nothing, and
    * a load that crashes before its commit leaves no file any reader
    * sees. A Bronze in the plain-parquet layout of earlier versions is
    * first converted in place (see [[bronzeTable]]).
    */
  def runBronze(spark: SparkSession, raw: DataFrame, paths: LayerPaths,
      loadId: String, asOf: String): Unit = {
    val stamped = Bronze.stampLineage(raw, "tpch_feed", loadId,
      ingestionTs = lit(asOf).cast("timestamp"),
      sourceFile = lit(s"$loadId.parquet"))
    DeltaInterop.write(sized(stamped), bronzeTable(spark, paths), SaveMode.Append,
      Seq("ingestion_date"), Some(("bronze:" + loadId, 0L)))
  }

  /** `paths.bronze`, after a Bronze directory without `_delta_log`, the
    * plain-parquet layout of earlier versions, has had its files committed
    * in place as Delta version 0 ([[DeltaInterop.convert]]: one rename,
    * no data file copied, so a crash converts nothing). The converted
    * table keeps the column order those versions read it in, the
    * partition column last; later loads append by column name.
    */
  private def bronzeTable(spark: SparkSession, paths: LayerPaths): String = {
    DeltaInterop.convert(spark, paths.bronze, Seq("ingestion_date"))
    paths.bronze
  }

  /** Silver: the Bronze versions after the watermark → cleanse → DQ gate
    * (FAIL rows appended to the quarantine table) → business-key dedup →
    * merge into Silver, committed with the new watermark. Returns
    * Silver's row count after the merge, or 0 when Bronze has no version
    * after the watermark or those versions hold no row (nothing is
    * written then). A Bronze in the plain-parquet layout of earlier
    * versions is converted first, as [[runBronze]] converts it.
    *
    * The mark is the Bronze version Silver has merged, read from Silver's
    * latest manifest. The batch is the files that Bronze's versions after
    * it added ([[DeltaInterop.readChanges]], an append-only feed): no
    * filter, so no mark literal in the plan, and no directory walk. Each
    * version is read once, whatever its `ingestion_timestamp`, so a batch
    * stamped before the mark still reaches Silver. Within one read the
    * row with the newest `ingestion_timestamp` (then `ship_date`, then
    * price) wins a key; a later read's row replaces Silver's, so a
    * late-stamped batch that re-delivers a key wins over the row Silver
    * holds. Nothing cleans Bronze's log: every version after Silver's
    * mark must stay readable. One aggregate over the persisted DQ-tagged
    * batch yields its row and FAIL counts.
    *
    * The quarantine records the Bronze version its FAIL rows reach in
    * its own log with each append ([[VersionedTable.appendWithTxn]]): a
    * batch that crashed after the quarantine's commit and before Silver's
    * is read again from Silver's mark, with whatever Bronze gained since,
    * and only the versions after the quarantine's mark are appended. A
    * mark that is no version (an ISO instant an earlier version wrote)
    * counts as none: that batch reads all of Bronze and rebuilds the
    * quarantine. The merge is a read-modify-write commit
    * ([[VersionedTable.rewrite]]): it commits the merged table and the
    * new mark together, or, after a lost race, merges again against the
    * winner. A batch without PASS rows commits the mark alone. The
    * returned count is the row count the commit recorded.
    */
  def runSilver(spark: SparkSession, paths: LayerPaths): Long = runSilver(spark, paths, _ => ())

  /** [[runSilver]] calling `afterCommit` with "quarantine" and "silver"
    * after each commit: a seam for crash tests.
    */
  private[graft] def runSilver(spark: SparkSession, paths: LayerPaths,
      afterCommit: String => Unit): Long = {
    // a mark that is no version (an earlier layout's instant) counts as none
    def version(mark: Option[String]): Option[Long] = mark.flatMap(_.toLongOption)
    val merged = version(VersionedTable.txn(paths.silver, SilverMark))
    // -1: no mark, or no Bronze version
    val latest = DeltaInterop.latestVersion(bronzeTable(spark, paths)).getOrElse(-1L)
    if (merged.getOrElse(-1L) >= latest) return 0L
    // the DQ-tagged rows of the Bronze versions after `from` (all without one)
    def after(from: Option[Long]): DataFrame = Silver.applyDqRules(Silver.cleanseLineitem(
      DeltaInterop.readChanges(spark, paths.bronze, from.fold(0L)(_ + 1), latest)
        .drop("_change_type", "_commit_version")))
    val tagged = after(merged).persist()
    try {
      val failed = col("dq_status") === "FAIL"
      val stats = tagged.agg(count(lit(1)), count(when(failed, 1))).head()
      if (stats.getLong(0) == 0L) 0L
      else {
        val txn = Map(SilverMark -> latest.toString)
        def failRows(t: DataFrame): DataFrame = sized(Silver.quarantineSplit(t)._2
          .withColumn("dq_failure_reasons", col("dq_reasons_csv")).drop("dq_reasons_csv"))
        // without a mark Silver rebuilds from all of Bronze, and so does the quarantine
        if (stats.getLong(1) > 0L && (merged.isEmpty ||
            version(VersionedTable.txn(paths.quarantine, SilverMark)).forall(_ < latest))) {
          if (merged.isEmpty)
            VersionedTable.rewrite(spark, paths.quarantine, "quarantine", txn)(_ =>
              Some(failRows(tagged)))
          else VersionedTable.appendWithTxn(paths.quarantine, "quarantine", txn) { base =>
            // ahead of Silver's mark only after a crash between the two commits
            val from = (version(base.get(SilverMark)) ++ merged).max
            failRows(if (merged.contains(from)) tagged else after(Some(from)))
          }
          afterCommit("quarantine")
        }
        val (pass, _) = Silver.quarantineSplit(tagged)
        val keys = Seq("l_orderkey", "l_linenumber")
        val deduped = Silver.dedupLatest(
          pass.drop("dq_status", "dq_failure_reasons", "dq_reasons_csv"), keys,
          Seq(col("ingestion_timestamp").desc, col("ship_date").desc,
            col("l_extendedprice").desc))
        val allFailed = stats.getLong(1) == stats.getLong(0)
        val v = VersionedTable.rewrite(spark, paths.silver, "merge", txn) {
          case Some(_) if allFailed => None
          case current =>
            Some(sized(current.fold(deduped)(Merge.upsert(_, deduped, keys, Some(pass)))))
        }
        afterCommit("silver")
        VersionedTable.numRecords(spark, paths.silver, v)
      }
    } finally tagged.unpersist()
  }

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
    Seq(paths.silver, paths.quarantine, paths.dimMember, paths.dimProvider, paths.dimDate,
      paths.fact, paths.rollup).foreach(VersionedTable.vacuum(_))
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
