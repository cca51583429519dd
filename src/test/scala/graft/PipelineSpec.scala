package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant

import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{Bronze, Gold, Silver}
import graft.sources.{DeltaInterop, LayerIO, VersionedTable}

/** Incremental + idempotency contract of the medallion entry points:
  * batch 1 loads half the feed, batch 2 the rest; a third run with no new
  * data must change nothing anywhere (the reference docs' "Idempotent
  * Processing" declaration, bronze_silver_gold/readme.md:68-70). Also:
  * re-delivered keys update in place, a batch failing DQ on every row,
  * the Spark-job and task budgets of one incremental batch, the file
  * count of a commit at a small `maxPartitionBytes`, Gold's rule that a
  * dim is rebuilt only when its source changed, a re-run after a crash
  * following each commit, Bronze read by version (a retried load, a
  * late stamp, files a crashed load left, no mark literal in Silver's
  * plans, Silver's tasks flat in the batch count), the quarantine's
  * retention, and roots in the layouts of earlier versions.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def freshPaths(): Pipeline.LayerPaths =
    Pipeline.LayerPaths(tempDir("medallion_run").toString)

  /** Batch `b` (1-9) through all three layers, Gold built from the
    * fixtures in `fixtures`; returns runSilver's count.
    */
  private def loadBatch(paths: Pipeline.LayerPaths, raw: DataFrame, b: Int,
      fixtures: String = sf): Long = {
    Pipeline.runBronze(spark, raw, paths, s"load_$b", s"2026-01-0$b 00:00:00")
    val n = Pipeline.runSilver(spark, paths)
    Pipeline.runGold(spark, paths, fixtures)
    n
  }

  /** `df` with `l_discount` out of range, so failing DQ, on every `every`-th order. */
  private def failing(df: DataFrame, every: Int): DataFrame = df.withColumn("l_discount",
    when($"l_orderkey" % every === 0, lit(2.0)).otherwise($"l_discount"))

  /** The rows of `df` that Silver's DQ gate fails. */
  private def dqFailures(df: DataFrame): DataFrame =
    Silver.quarantineSplit(Silver.applyDqRules(Silver.cleanseLineitem(df)))._2

  /** Batch `b`'s files in Bronze's layout and no commit: what a load
    * that crashed inside `runBronze` leaves.
    */
  private def strandedLoad(paths: Pipeline.LayerPaths, raw: DataFrame, b: Int): Unit =
    Bronze.stampLineage(raw, "tpch_feed", s"load_$b",
        ingestionTs = lit(s"2026-01-0$b 00:00:00").cast("timestamp"),
        sourceFile = lit(s"load_$b.parquet"))
      .write.mode("append").partitionBy("ingestion_date").parquet(paths.bronze)

  private def rowsPerKey(df: DataFrame, keys: String*): Set[Long] =
    df.groupBy(keys.map(col): _*).count().select("count").as[Long].collect().toSet

  private val dimNames = Seq("dim_member", "dim_provider", "dim_date")

  private def dimPaths(paths: Pipeline.LayerPaths): Seq[String] =
    Seq(paths.dimMember, paths.dimProvider, paths.dimDate)

  private def dimVersions(paths: Pipeline.LayerPaths): Seq[Option[Long]] =
    dimPaths(paths).map(VersionedTable.latestVersion)

  /** A copy of the fixture tables `runGold` reads, in a fresh directory. */
  private def fixtureCopy(): String = {
    val dir = tempDir("medallion_fixtures")
    Seq("customer", "supplier", "orders").foreach(t =>
      Files.copy(Paths.get(sf, s"$t.parquet"), dir.resolve(s"$t.parquet")))
    dir.toString
  }

  /** Replace the copied `customer` table in `dir` by `change` of it, as one
    * new file, and drop the memoized fixture relations so the next load
    * lists it afresh.
    */
  private def rewriteCustomer(dir: String)(change: DataFrame => DataFrame): Unit = {
    val table = Paths.get(dir, "customer.parquet")
    val changed = change(spark.read.parquet(table.toString))
    val rows = changed.collect()
    val staged = tempDir("customer_rewrite")
    spark.createDataFrame(java.util.List.of(rows: _*), changed.schema).coalesce(1)
      .write.mode("overwrite").parquet(staged.toString)
    val part = Files.list(staged).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, table, StandardCopyOption.REPLACE_EXISTING)
    Tables.invalidate()
  }

  private def memberName(paths: Pipeline.LayerPaths, id: Long): String =
    VersionedTable.read(spark, paths.dimMember).filter($"member_id" === id)
      .select("member_name").as[String].head()

  test("two incremental batches then a no-op re-run: counts conserved, idempotent") {
    val paths = Pipeline.LayerPaths(tempDir("medallion_run").toString)
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
    // the mark is the Bronze version batch 2 committed
    assert(VersionedTable.txn(paths.silver, Pipeline.SilverMark).contains("1"))

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
    val jobs = jobsStartedBy {
      Pipeline.runSilver(spark, paths)
      Pipeline.runGold(spark, paths, sf)
    }
    // 13 measured on local[4]; it was 23 while Silver read and appended a
    // watermark table, counted its rows after the write, inferred Bronze's
    // schema and re-ran its dedup for the merge's key side, and Gold
    // inferred Silver's schema and broadcast dim_date twice; 37 while Gold
    // rebuilt and rewrote every dim each batch and Silver inferred the
    // watermark table's schema in a job; and 56 while Silver re-ran a
    // broadcast watermark join in three plans and scanned Bronze again for
    // the new mark, Gold merge-upserted the fact into the previous one, and
    // every read-back of a just-written table inferred its schema in a job
    assert(jobs <= 13, s"$jobs Spark jobs for one batch")
  }

  test("task budget: one incremental batch through Silver and Gold") {
    val paths = freshPaths()
    val li = Tables.lineitem(spark, sf)
    loadBatch(paths, li.filter($"l_orderkey" % 2 === 0), 1)
    Pipeline.runBronze(spark, li.filter($"l_orderkey" % 2 =!= 0), paths,
      "load_2", "2026-01-02 00:00:00")
    val tasks = tasksStartedBy {
      Pipeline.runSilver(spark, paths)
      Pipeline.runGold(spark, paths, sf)
    }
    // 13 measured on local[4]; 17 while Silver read every Bronze file,
    // whatever its mark, instead of the files of the Bronze versions after
    // it; 21 while each commit wrote one file per partition of the plan
    // that built it, so every later scan of the table started one task per
    // file
    assert(tasks <= 13, s"$tasks Spark tasks for one batch")
  }

  test("at a small maxPartitionBytes Silver is written as several files, as few as its input " +
      "allows, holding the rows of a run at the default") {
    val li = Tables.lineitem(spark, sf)
    val fresh = freshPaths()
    loadBatch(fresh, li, 1)
    val small = freshPaths()
    val limit = 8L << 10
    // without adaptive partition coalescing, as the benchmark runs, so
    // Silver's plan ends in one partition per shuffle partition
    val conf = Map("spark.sql.files.maxPartitionBytes" -> limit.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k))
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try loadBatch(small, li, 1)
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    // Silver's first batch reads Bronze alone
    val inputBytes = Using.resource(Files.walk(Paths.get(small.bronze)))(_.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum)
    val v = VersionedTable.latestVersion(small.silver).get
    val files = VersionedTable.files(small.silver, v).size
    assert(files > 1 && files <= (inputBytes + limit - 1) / limit, s"$files files, $inputBytes bytes")
    assert(rows(small.silver) == rows(fresh.silver))
    assert(VersionedTable.files(fresh.silver, VersionedTable.latestVersion(fresh.silver).get)
      .size == 1)
  }

  test("a second runGold over unchanged sources starts no dim job and commits no dim version") {
    val paths = freshPaths()
    Pipeline.runBronze(spark, Tables.lineitem(spark, sf), paths, "load_1", "2026-01-01 00:00:00")
    Pipeline.runSilver(spark, paths)
    val first = jobDescriptionsStartedBy(Pipeline.runGold(spark, paths, sf))
    // the probe sees each dim's refresh jobs when there are some
    assert(dimNames.map("refresh " + _).toSet.subsetOf(first.toSet), first)
    assert(dimVersions(paths) == Seq(Some(0L), Some(0L), Some(0L)))
    val second = jobDescriptionsStartedBy(Pipeline.runGold(spark, paths, sf))
    assert(!second.exists(_.startsWith("refresh ")), second)
    assert(dimVersions(paths) == Seq(Some(0L), Some(0L), Some(0L)))
    assert(second.size < first.size)
    assert(LayerIO.readLayer(spark, paths.fact).count() ==
      LayerIO.readLayer(spark, paths.silver).count())
  }

  test("a changed customer row refreshes dim_member alone, with the new name") {
    val fixtures = fixtureCopy()
    val paths = freshPaths()
    val li = Tables.lineitem(spark, sf)
    loadBatch(paths, li.filter($"l_orderkey" % 2 === 0), 1, fixtures)
    val id = spark.read.parquet(s"$fixtures/customer.parquet")
      .agg(min($"c_custkey")).as[Long].head()
    val before = memberName(paths, id)
    rewriteCustomer(fixtures)(_.withColumn("c_name",
      when($"c_custkey" === id, lit("  renamed member ")).otherwise($"c_name")))
    Pipeline.runGold(spark, paths, fixtures)
    assert(dimVersions(paths) == Seq(Some(1L), Some(0L), Some(0L)))
    assert(before != "RENAMED MEMBER" && memberName(paths, id) == "RENAMED MEMBER")
    // the refreshed dim still holds every customer, keyed as a full build
    assert(VersionedTable.read(spark, paths.dimMember).count() ==
      spark.read.parquet(s"$fixtures/customer.parquet").count())
    val fact = LayerIO.readLayer(spark, paths.fact)
    assert(fact.filter($"member_sk".isNull).isEmpty)
  }

  test("a dim build that throws leaves the previous version readable; the next run refreshes") {
    val fixtures = fixtureCopy()
    val paths = freshPaths()
    val li = Tables.lineitem(spark, sf)
    loadBatch(paths, li.filter($"l_orderkey" % 2 === 0), 1, fixtures)
    val members = VersionedTable.read(spark, paths.dimMember).collect().toSet
    val id = spark.read.parquet(s"$fixtures/customer.parquet")
      .agg(min($"c_custkey")).as[Long].head()
    // a balance outside DECIMAL(18, 2): the build's cast throws
    rewriteCustomer(fixtures)(_.withColumn("c_acctbal",
      when($"c_custkey" === id, lit(1e20)).otherwise($"c_acctbal")))
    intercept[Exception](Pipeline.runGold(spark, paths, fixtures))
    assert(dimVersions(paths) == Seq(Some(0L), Some(0L), Some(0L)))
    assert(VersionedTable.read(spark, paths.dimMember).collect().toSet == members)

    rewriteCustomer(fixtures)(_.withColumn("c_acctbal",
        when($"c_custkey" === id, lit(0.0)).otherwise($"c_acctbal"))
      .withColumn("c_name", when($"c_custkey" === id, lit("mended")).otherwise($"c_name")))
    Pipeline.runGold(spark, paths, fixtures)
    assert(dimVersions(paths) == Seq(Some(1L), Some(0L), Some(0L)))
    assert(memberName(paths, id) == "MENDED")
  }

  test("plain-parquet dims from before the versioned dims are refreshed on the first runGold") {
    val paths = freshPaths()
    Pipeline.runBronze(spark, Tables.lineitem(spark, sf), paths, "load_1", "2026-01-01 00:00:00")
    Pipeline.runSilver(spark, paths)
    // the dims as an earlier runGold left them: overwritten parquet, no log
    val member = Gold.dimMember(Tables.customer(spark, sf))
    val provider = Gold.dimProvider(Tables.supplier(spark, sf))
    val date = Gold.dimDate(spark, "1992-01-01", "2002-12-31")
    dimPaths(paths).zip(Seq(member, provider, date)).foreach { case (p, d) =>
      d.write.mode("overwrite").parquet(p)
    }
    Pipeline.runGold(spark, paths, sf)
    dimPaths(paths).zip(Seq(member, provider, date)).foreach { case (p, d) =>
      assert(VersionedTable.versions(p) == Seq(0L), p)
      assert(VersionedTable.opOf(p, 0L).startsWith("refresh:"))
      assert(VersionedTable.read(spark, p).collect().toSet == d.collect().toSet, p)
    }
    // the earlier part files stay where they were, unread
    assert(Files.list(Paths.get(paths.dimMember)).iterator().asScala
      .exists(_.getFileName.toString.startsWith("part-")))
    val fact = LayerIO.readLayer(spark, paths.fact)
    assert(fact.count() == LayerIO.readLayer(spark, paths.silver).count())
    assert(fact.filter($"member_sk".isNull || $"provider_sk".isNull ||
      $"service_date_key".isNull).isEmpty)
  }

  test("a dim refresh releases what its key step cached, and nothing else") {
    val paths = freshPaths()
    Pipeline.runBronze(spark, Tables.lineitem(spark, sf), paths, "load_1", "2026-01-01 00:00:00")
    Pipeline.runSilver(spark, paths)
    val kept = spark.range(10).toDF("x").persist()
    kept.count()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    Pipeline.runGold(spark, paths, sf)
    assert(dimVersions(paths) == Seq(Some(0L), Some(0L), Some(0L)))
    assert(sc.getPersistentRDDs.size == before)
    assert(kept.storageLevel.useMemory)
    kept.unpersist(blocking = true)
  }

  /** Each table's rows with their multiplicities. */
  private def rows(path: String): Map[Row, Int] =
    LayerIO.readLayer(spark, path).collect().groupBy(identity).view.mapValues(_.length).toMap

  test("a batch that crashes after any commit leaves, once the next batch has run, " +
      "every table as an uninterrupted run") {
    val li = Tables.lineitem(spark, sf)
    // part of batches 2 and 3 fails DQ, so each appends to the quarantine
    val batch1 = li.filter($"l_orderkey" % 3 === 0)
    val batch2 = failing(li.filter($"l_orderkey" % 3 === 1), 4)
    val batch3 = failing(li.filter($"l_orderkey" % 3 === 2), 5)
    val tables =
      Seq[Pipeline.LayerPaths => String](_.bronze, _.quarantine, _.silver, _.fact, _.rollup)
    /** Three batches, batch 2 crashing after the commit named `crashAfter`,
      * or, for "bronze", inside its load before the commit: the next run
      * retries batch 2's load, which commits nothing once committed, and
      * lands batch 3 in Bronze before Silver and Gold resume.
      */
    def run(crashAfter: Option[String]): Seq[Map[Row, Int]] = {
      val paths = freshPaths()
      loadBatch(paths, batch1, 1)
      crashAfter match {
        case None => loadBatch(paths, batch2, 2)
        case Some("bronze") => strandedLoad(paths, batch2, 2)
        case Some(table) =>
          val crash: String => Unit =
            t => if (t == table) throw new IllegalStateException(s"crash after $t")
          val e = intercept[IllegalStateException] {
            Pipeline.runBronze(spark, batch2, paths, "load_2", "2026-01-02 00:00:00")
            Pipeline.runSilver(spark, paths, crash)
            Pipeline.runGold(spark, paths, sf, crash)
          }
          assert(e.getMessage == s"crash after $table")
      }
      if (crashAfter.nonEmpty)
        Pipeline.runBronze(spark, batch2, paths, "load_2", "2026-01-02 00:00:00")
      loadBatch(paths, batch3, 3)
      tables.map(t => rows(t(paths)))
    }
    val uninterrupted = run(None)
    assert(uninterrupted.forall(_.nonEmpty))
    assert(uninterrupted(1).values.forall(_ == 1), "a quarantined row appears twice")
    Seq("bronze", "quarantine", "silver", "fact", "rollup").foreach { t =>
      assert(run(Some(t)) == uninterrupted, s"crash after $t")
    }
  }

  /** `fresh`'s Bronze rows written to `old` as a plain-parquet Bronze
    * partitioned by `ingestion_date`, as earlier versions appended it.
    */
  private def plainBronze(fresh: Pipeline.LayerPaths, old: Pipeline.LayerPaths): Unit =
    LayerIO.readLayer(spark, fresh.bronze).write.partitionBy("ingestion_date").parquet(old.bronze)

  /** [[rows]] with the columns in name order: a converted Bronze keeps its
    * partition column last, where the plain layout's reads put it, and the
    * tables a migrated root builds from it keep that order.
    */
  private def rowsByName(path: String): Map[Row, Int] = {
    val df = LayerIO.readLayer(spark, path)
    df.select(df.columns.sorted.map(col): _*).collect().groupBy(identity).view
      .mapValues(_.length).toMap
  }

  /** A root in the previous layout: a plain-parquet Bronze holding
    * `bronzeOf`'s Bronze rows, and the later tables versioned, holding
    * `rest`'s, with Silver's and the quarantine's marks the newest
    * `ingestion_timestamp` merged, as an ISO-8601 instant.
    */
  private def parentLayout(bronzeOf: Pipeline.LayerPaths,
      rest: Pipeline.LayerPaths): Pipeline.LayerPaths = {
    val old = freshPaths()
    plainBronze(bronzeOf, old)
    val isoMark = Map(Pipeline.SilverMark -> "2026-01-01T00:00:00Z")
    Seq[Pipeline.LayerPaths => String](_.silver, _.quarantine).foreach { t =>
      VersionedTable.rewrite(spark, t(old), "merge", isoMark)(_ =>
        Some(LayerIO.readLayer(spark, t(rest))))
    }
    Seq[Pipeline.LayerPaths => String](_.fact, _.rollup).foreach { t =>
      VersionedTable.write(LayerIO.readLayer(spark, t(rest)), t(old), SaveMode.Overwrite)
    }
    old
  }

  /** Bronze, the quarantine and Silver of `old` hold `fresh`'s rows, and
    * its fact and rollup equal `fresh`'s.
    */
  private def assertSameTables(old: Pipeline.LayerPaths, fresh: Pipeline.LayerPaths): Unit = {
    Seq[Pipeline.LayerPaths => String](_.bronze, _.quarantine, _.silver)
      .foreach(t => assert(rowsByName(t(old)) == rowsByName(t(fresh)), t(old)))
    Seq[Pipeline.LayerPaths => String](_.fact, _.rollup)
      .foreach(t => assert(rows(t(old)) == rows(t(fresh)), t(old)))
  }

  test("a root in the plain-parquet layout: one batch leaves Silver, fact and rollup as a fresh root's") {
    val li = Tables.lineitem(spark, sf)
    val batch1 = li.filter($"l_orderkey" % 2 === 0)
    val fresh = freshPaths()
    loadBatch(fresh, batch1, 1)
    // batch 1 as the plain-parquet layout left it: Bronze, Silver, fact
    // and rollup written as parquet directories, the mark in
    // control/watermarks
    val old = freshPaths()
    plainBronze(fresh, old)
    val tables = Seq[Pipeline.LayerPaths => String](_.silver, _.fact, _.rollup)
    tables.foreach(t => LayerIO.readLayer(spark, t(fresh)).write.parquet(t(old)))
    Seq(("silver_claims", "2026-01-01 00:00:00")).toDF("table_name", "ts")
      .select($"table_name", $"ts".cast("timestamp").as("last_processed_timestamp"))
      .write.parquet(s"${old.root}/control/watermarks")

    Seq(fresh, old).foreach(loadBatch(_, li.filter($"l_orderkey" % 2 =!= 0), 2))
    Seq(old.bronze -> fresh.bronze, old.silver -> fresh.silver).foreach { case (o, f) =>
      assert(rowsByName(o) == rowsByName(f), o)
    }
    Seq(old.fact -> fresh.fact, old.rollup -> fresh.rollup).foreach { case (o, f) =>
      assert(rows(o) == rows(f), o)
    }
    // the plain part files stay where they were, unread, until they pass
    // vacuum's horizon
    def partFiles(path: String): Int = Files.list(Paths.get(path)).iterator().asScala
      .count(_.getFileName.toString.startsWith("part-"))
    tables.foreach(t => assert(partFiles(t(old)) > 0, t(old)))
    tables.foreach(t => VersionedTable.vacuum(t(old), minAgeMs = 0))
    tables.foreach { t =>
      assert(partFiles(t(old)) == 0, t(old))
      assert(rowsByName(t(old)) == rowsByName(t(fresh)), t(old))
    }
    assert(rows(old.fact) == rows(fresh.fact))
    assert(Files.exists(Paths.get(old.silver, "_graft_log")))
  }

  test("a root with a plain-parquet Bronze and timestamp marks: one batch leaves Bronze, " +
      "the quarantine, Silver, fact and rollup as a fresh root's") {
    val li = Tables.lineitem(spark, sf)
    val fresh = freshPaths()
    loadBatch(fresh, failing(li.filter($"l_orderkey" % 2 === 0), 4), 1)
    val old = parentLayout(fresh, fresh)
    Seq(fresh, old).foreach(loadBatch(_, failing(li.filter($"l_orderkey" % 2 =!= 0), 5), 2))
    assertSameTables(old, fresh)
    assert(Files.exists(Paths.get(old.bronze, "_delta_log")))
    Seq[Pipeline.LayerPaths => String](_.silver, _.quarantine).foreach(t =>
      assert(VersionedTable.txn(t(old), Pipeline.SilverMark).contains("1"), t(old)))
  }

  test("a plain-parquet Bronze converts once: a crash inside the conversion or before the " +
      "next load's commit, and a runSilver with no runBronze, each end as a fresh root") {
    val li = Tables.lineitem(spark, sf)
    val batch1 = failing(li.filter($"l_orderkey" % 2 === 0), 4)
    val batch2 = failing(li.filter($"l_orderkey" % 2 =!= 0), 5)
    val fresh1 = freshPaths()
    loadBatch(fresh1, batch1, 1)
    val fresh2 = freshPaths()
    Seq(1 -> batch1, 2 -> batch2).foreach { case (b, raw) => loadBatch(fresh2, raw, b) }

    // the conversion crashed before its rename: its staged log, half written
    val inConvert = parentLayout(fresh1, fresh1)
    val staged = Files.createDirectories(Paths.get(inConvert.bronze, ".delta_log-crashed"))
    Files.writeString(staged.resolve("0" * 20 + ".json"), "{\"protocol\":")
    loadBatch(inConvert, batch2, 2)
    // converted, then batch 2's load crashed before its commit
    val inLoad = parentLayout(fresh1, fresh1)
    assert(DeltaInterop.convert(spark, inLoad.bronze, Seq("ingestion_date")))
    assert(!DeltaInterop.convert(spark, inLoad.bronze, Seq("ingestion_date")))
    strandedLoad(inLoad, batch2, 2)
    loadBatch(inLoad, batch2, 2)
    // batch 2 reached the plain Bronze, and the run crashed before Silver
    val beforeSilver = parentLayout(fresh2, fresh1)
    assert(Pipeline.runSilver(spark, beforeSilver) > 0L)
    Pipeline.runGold(spark, beforeSilver, sf)
    Seq(inConvert, inLoad, beforeSilver).foreach(assertSameTables(_, fresh2))
  }

  test("a runBronze retried with its load id commits the batch once, and the quarantine " +
      "holds its FAIL rows once") {
    val paths = freshPaths()
    val batch = failing(Tables.lineitem(spark, sf).filter($"l_orderkey" % 2 === 0), 4)
    Seq(1, 2).foreach(_ =>
      Pipeline.runBronze(spark, batch, paths, "load_1", "2026-01-01 00:00:00"))
    Pipeline.runSilver(spark, paths)
    assert(LayerIO.readLayer(spark, paths.bronze).count() == batch.count())
    val failed = dqFailures(batch).count()
    assert(failed > 0 && LayerIO.readLayer(spark, paths.quarantine).count() == failed)
  }

  test("a batch stamped before Silver's mark reaches Silver, and its re-delivered keys win") {
    val paths = freshPaths()
    val li = Tables.lineitem(spark, sf)
    val keys = Seq("l_orderkey", "l_linenumber")
    val batch1 = li.filter($"l_orderkey" % 2 === 0)
    loadBatch(paths, batch1, 2)
    // the keys Silver lacks, and a quarter of the feed again at a new price
    // (keys the feed holds once), stamped a day before Silver's mark
    val unique = li.groupBy(keys.map(col): _*).count().filter($"count" === 1)
    val redelivered = li.filter($"l_orderkey" % 4 === 0).join(unique, keys, "left_semi")
      .withColumn("l_extendedprice", round($"l_extendedprice" + 1.0, 2))
    val late = li.filter($"l_orderkey" % 2 =!= 0).unionByName(redelivered)
    Pipeline.runBronze(spark, late, paths, "load_late", "2026-01-01 00:00:00")
    assert(Pipeline.runSilver(spark, paths) > 0L)

    val silver = LayerIO.readLayer(spark, paths.silver)
    val passKeys = Silver.quarantineSplit(Silver.applyDqRules(Silver.cleanseLineitem(li)))._1
      .select(keys.map(col): _*).distinct()
    assert(silver.select(keys.map(col): _*).collect().toSet == passKeys.collect().toSet)
    val prices = silver.join(redelivered.select($"l_orderkey", $"l_linenumber",
      $"l_extendedprice".as("late_price")), keys)
    assert(prices.count() > 0)
    assert(prices.filter($"l_extendedprice" =!= $"late_price").isEmpty)
  }

  test("parquet files a crashed runBronze left under Bronze are not read by Silver, and " +
      "the load's re-run lands the batch once") {
    val li = Tables.lineitem(spark, sf)
    val batch1 = li.filter($"l_orderkey" % 2 === 0)
    val batch2 = failing(li.filter($"l_orderkey" % 2 =!= 0), 3)
    val fresh = freshPaths()
    loadBatch(fresh, batch1, 1)
    loadBatch(fresh, batch2, 2)
    val paths = freshPaths()
    loadBatch(paths, batch1, 1)
    strandedLoad(paths, batch2, 2)
    val silver1 = rows(paths.silver)
    assert(Pipeline.runSilver(spark, paths) == 0L)
    assert(rows(paths.silver) == silver1)

    loadBatch(paths, batch2, 2)
    Seq[Pipeline.LayerPaths => String](_.bronze, _.quarantine, _.silver, _.fact).foreach(t =>
      assert(rows(t(paths)) == rows(t(fresh)), t(paths)))
  }

  test("Silver's tasks do not grow with the number of Bronze batches") {
    val paths = freshPaths()
    val li = Tables.lineitem(spark, sf)
    val tasks = (1 to 4).map { b =>
      Pipeline.runBronze(spark, li.filter($"l_orderkey" % 4 === b - 1), paths, s"load_$b",
        s"2026-01-0$b 00:00:00")
      tasksStartedBy(Pipeline.runSilver(spark, paths))
    }
    assert(tasks(3) <= tasks(1), s"Silver's tasks per batch: $tasks")
  }

  /** The literals of `plan`, of the plans it wraps (adaptive stages, the
    * plan a cached relation was built by, a command's plan) and of its
    * subqueries.
    */
  private def literals(plan: SparkPlan): Seq[Literal] = {
    val wrapped = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => Nil
    }
    plan.expressions.flatMap(_.collect { case l: Literal => l }) ++
      (plan.children ++ plan.subqueries ++ wrapped).flatMap(literals)
  }

  test("no plan runSilver executes holds a literal of Silver's mark") {
    val paths = freshPaths()
    val li = Tables.lineitem(spark, sf)
    (1 to 2).foreach(b => loadBatch(paths, li.filter($"l_orderkey" % 3 === b - 1), b))
    Pipeline.runBronze(spark, li.filter($"l_orderkey" % 3 === 2), paths, "load_3",
      "2026-01-03 00:00:00")
    val mark = VersionedTable.txn(paths.silver, Pipeline.SilverMark).get
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(Pipeline.runSilver(spark, paths) > 0L)
      org.apache.spark.graftspark.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    // the mark as a plan would compare with it: a Bronze version, or the
    // microseconds of an instant
    val values = (Try(mark.toLong).toOption ++
      Try(DateTimeUtils.instantToMicros(Instant.parse(mark))).toOption).toSet[Any]
    val found = plans.asScala.toSeq.flatMap(literals).filter(l =>
      (l.dataType == LongType || l.dataType == TimestampType) && values(l.value))
    assert(!plans.isEmpty)
    assert(found.isEmpty, s"mark $mark in the plans as ${found.distinct}")
  }

  test("runGold vacuums the quarantine: its log keeps one manifest, and its rows, mark and " +
      "data files stay") {
    val paths = freshPaths()
    val li = Tables.lineitem(spark, sf)
    (1 to 2).foreach(b =>
      loadBatch(paths, failing(li.filter($"l_orderkey" % 3 === b - 1), 3 + b), b))
    Pipeline.runBronze(spark, failing(li.filter($"l_orderkey" % 3 === 2), 7), paths, "load_3",
      "2026-01-03 00:00:00")
    Pipeline.runSilver(spark, paths)
    def dataFiles(): Set[String] = Using.resource(Files.walk(Paths.get(paths.quarantine)))(
      _.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet)
    val before = (rows(paths.quarantine), VersionedTable.txn(paths.quarantine,
      Pipeline.SilverMark), dataFiles())
    assert(VersionedTable.versions(paths.quarantine).size > 1)
    Pipeline.runGold(spark, paths, sf)
    assert(VersionedTable.versions(paths.quarantine) == Seq(2L))
    assert(Using.resource(Files.list(Paths.get(paths.quarantine, "_graft_log")))(_.count()) == 1L)
    assert((rows(paths.quarantine), VersionedTable.txn(paths.quarantine, Pipeline.SilverMark),
      dataFiles()) == before)
    assert(before._2.contains("2"))
  }
}
