package graft.sources

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.SparkSpec

class DataSkippingSpec extends SparkSpec {
  import spark.implicits._

  /** Three appends with disjoint key ranges — each commit's files carry
    * a narrow [min,max], so a range probe should touch one commit.
    */
  private def clusteredTable(): String = {
    val path = tempDir("vt_skip").resolve("t").toString
    VersionedTable.write((0L until 100L).map(i => (i, s"r$i"))
      .toDF("k", "v").coalesce(1), path, SaveMode.Overwrite)
    VersionedTable.write((100L until 200L).map(i => (i, s"r$i"))
      .toDF("k", "v").coalesce(1), path, SaveMode.Append)
    VersionedTable.write((200L until 300L).map(i => (i, s"r$i"))
      .toDF("k", "v").coalesce(1), path, SaveMode.Append)
    path
  }

  test("readWhere equals read+filter and skips non-intersecting files") {
    val path = clusteredTable()
    val (df, read, total) = VersionedTable.readWhere(spark, path, "k", 120L, 150L)
    val expect = VersionedTable.read(spark, path)
      .filter($"k" >= 120 && $"k" <= 150)
      .as[(Long, String)].collect().sorted.toSeq
    assert(df.as[(Long, String)].collect().sorted.toSeq == expect)
    assert(expect.size == 31)
    assert(total == 3, s"expected 3 files, got $total")
    assert(read == 1, s"range covers one commit's file, read $read")
    // a second call prunes from the same log stats and agrees
    val (df2, read2, _) = VersionedTable.readWhere(spark, path, "k", 120L, 150L)
    assert(read2 == 1)
    assert(df2.as[(Long, String)].collect().sorted.toSeq == expect)
  }

  test("empty intersection reads zero files and returns empty with schema") {
    val path = clusteredTable()
    val (df, read, total) = VersionedTable.readWhere(spark, path, "k", 900L, 999L)
    assert(read == 0 && total == 3)
    assert(df.count() == 0)
    assert(df.columns.toSeq == Seq("k", "v"))
  }

  test("skipping stays sound under deletion vectors and new appends") {
    val path = clusteredTable()
    // DV-delete part of the probed range: stats are now over-approximate
    // (sound); the read must subtract the DV
    VersionedTable.deleteWhere(spark, path, $"k" >= 120 && $"k" <= 130)
    val (df, _, _) = VersionedTable.readWhere(spark, path, "k", 100L, 150L)
    val expect = VersionedTable.read(spark, path)
      .filter($"k" >= 100 && $"k" <= 150)
      .as[(Long, String)].collect().sorted.toSeq
    assert(df.as[(Long, String)].collect().sorted.toSeq == expect)
    assert(expect.size == 51 - 11)
    // a fresh append records its file's stats at commit
    VersionedTable.write((300L until 400L).map(i => (i, s"r$i"))
      .toDF("k", "v").coalesce(1), path, SaveMode.Append)
    val (df2, read2, total2) = VersionedTable.readWhere(spark, path, "k", 320L, 330L)
    assert(total2 == 4 && read2 == 1)
    assert(df2.count() == 11)
  }

  test("writeClustered: readWhere prunes on EITHER z dimension; DV-sound") {
    import graft.Tables
    val orders = Tables.load(spark, sf, "orders")
      .select($"o_orderkey".as("okey"),
        $"o_custkey".as("ck"),
        datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
          .cast("bigint").as("day"))
    val n = 16
    // z-clustered versioned table vs the usual time-sorted layout
    val zPath = tempDir("vt_z").resolve("t").toString
    VersionedTable.writeClustered(orders, zPath, "day", "ck", n)
    val linPath = tempDir("vt_lin").resolve("t").toString
    VersionedTable.write(
      orders.repartitionByRange(n, $"day").sortWithinPartitions("day"),
      linPath, SaveMode.Overwrite)

    val (ckLo, ckHi) = orders.agg(min("ck"), max("ck")).as[(Long, Long)].head()
    val mid = (ckLo + ckHi) / 2
    val hi = mid + ((ckHi - ckLo) / 16 max 1L)
    // predicate on the SECOND dimension goes through the ORDINARY
    // readWhere machinery — the log's stats hold the tight z boxes
    val (zDf, zRead, zTotal) = VersionedTable.readWhere(spark, zPath, "ck", mid, hi)
    val (linDf, linRead, linTotal) =
      VersionedTable.readWhere(spark, linPath, "ck", mid, hi)
    assert(zTotal == n.toLong && linTotal == n.toLong)
    assert(linRead == linTotal,
      s"day-sorted layout cannot skip on ck: $linRead of $linTotal")
    assert(zRead < zTotal / 2,
      s"z-clustered table must skip most files on ck: $zRead of $zTotal")
    assert(zDf.count() == linDf.count(), "pruning must not change results")
    // the FIRST dimension also skips
    val (dLo, dHi) = orders.agg(min("day"), max("day")).as[(Long, Long)].head()
    val dMid = (dLo + dHi) / 2
    val (_, dRead, _) = VersionedTable.readWhere(spark, zPath, "day",
      dMid, dMid + ((dHi - dLo) / 16 max 1L))
    assert(dRead < zTotal, s"z-clustered table must skip on day too: $dRead")
    // DV-soundness: delete part of the probed ck range, re-probe — the
    // pruned read must agree with the full read + filter
    VersionedTable.deleteWhere(spark, zPath, $"ck" >= mid && $"ck" <= mid + 2)
    val (zDf2, _, _) = VersionedTable.readWhere(spark, zPath, "ck", mid, hi)
    val expect = VersionedTable.read(spark, zPath)
      .filter($"ck" >= mid && $"ck" <= hi)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(zDf2.as[(Long, Long, Long)].collect().sorted.toSeq == expect)
  }

  test("optimizeZOrder: contents identical, layout prunes, history intact") {
    import graft.Tables
    val orders = Tables.load(spark, sf, "orders")
      .select($"o_orderkey".as("okey"), $"o_custkey".as("ck"),
        datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
          .cast("bigint").as("day"))
    val path = tempDir("vt_opt").resolve("t").toString
    // start from a time-sorted layout with a DV delete on top
    VersionedTable.write(
      orders.repartitionByRange(8, $"day").sortWithinPartitions("day"),
      path, SaveMode.Overwrite)
    VersionedTable.deleteWhere(spark, path, $"okey" % 97 === 0)
    val before = VersionedTable.read(spark, path)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val v = VersionedTable.optimizeZOrder(spark, path, "day", "ck", 16)
    // contents bit-identical (the DV'd rows stay dead — they were
    // applied before the rewrite)
    val after = VersionedTable.read(spark, path)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(after == before, "OPTIMIZE must not change table contents")
    // the new layout prunes on the SECOND dimension
    val (lo, hi) = orders.agg(min("ck"), max("ck")).as[(Long, Long)].head()
    val mid = (lo + hi) / 2
    val (_, read, total) = VersionedTable.readWhere(spark, path, "ck",
      mid, mid + ((hi - lo) / 16 max 1L))
    assert(total == 16 && read < total / 2,
      s"z-optimized table must skip on ck: $read of $total")
    // history: the op is tagged, and pre-optimize versions time travel
    assert(VersionedTable.opOf(path, v) == "optimize-zorder(day,ck)")
    assert(VersionedTable.readVersion(spark, path, v - 1)
      .as[(Long, Long, Long)].collect().sorted.toSeq == before)
  }

  test("vacuumStats deletes the retired _graft_stats/ sidecar") {
    val path = clusteredTable()
    // the min/max sidecar older versions built at read time: (file, mn, mx)
    val retired = java.nio.file.Paths.get(path, "_graft_stats", "k")
    VersionedTable.files(path, 2L).map(f => (f, 0L, 299L)).toDF("file", "mn", "mx")
      .coalesce(1).write.parquet(retired.toString)
    assert(VersionedTable.vacuumStats(spark, path) == 0)
    assert(!java.nio.file.Files.exists(retired.getParent))
    val (df, read, total) = VersionedTable.readWhere(spark, path, "k", 20L, 30L)
    assert(total == 3 && read == 1)
    assert(df.count() ==
      VersionedTable.read(spark, path).filter($"k" >= 20 && $"k" <= 30).count())
    assert(!java.nio.file.Files.exists(retired.getParent), "reads write no min/max sidecar")
  }

  test("schema evolution on append: merged read, time travel keeps old shape") {
    val path = tempDir("vt_evo").resolve("t").toString
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1),
      path, SaveMode.Overwrite)
    // widened batch appends (the mergeSchema shape): new column arrives
    VersionedTable.write(
      Seq((3L, "c", 30.0)).toDF("k", "v", "score").coalesce(1),
      path, SaveMode.Append)
    val latest = VersionedTable.read(spark, path)
    assert(latest.columns.toSeq == Seq("k", "v", "score"),
      "merged read must surface the union schema")
    assert(latest.filter($"score".isNull).count() == 2,
      "pre-evolution rows read as NULL in the new column")
    assert(latest.filter($"k" === 3 && $"score" === 30.0).count() == 1)
    // time travel to v0 sees only the original shape
    assert(VersionedTable.readVersion(spark, path, 0).columns.toSeq ==
      Seq("k", "v"))
    // data skipping stays correct across the mixed-schema file set
    val (df, read, total) = VersionedTable.readWhere(spark, path, "k", 3L, 3L)
    assert(total == 2 && read == 1 && df.count() == 1)
  }

  test("old-schema file appended after indexing an evolved column is skipped, not an error") {
    val path = tempDir("vt_evo2").resolve("t").toString
    VersionedTable.write(Seq((1L, "a", 10.0), (2L, "b", 20.0))
      .toDF("k", "v", "score").coalesce(1), path, SaveMode.Overwrite)
    val (d0, r0, t0) = VersionedTable.readWhere(spark, path, "score", 0.0, 100.0)
    assert(r0 == 1 && t0 == 1 && d0.count() == 2)
    // an old-schema writer appends a file WITHOUT the column: its footer
    // lacks `score`, so the commit records the column all-null there
    VersionedTable.write(Seq((3L, "c")).toDF("k", "v").coalesce(1),
      path, SaveMode.Append)
    val (df, read, total) = VersionedTable.readWhere(spark, path, "score", 0.0, 100.0)
    assert(total == 2 && read == 1,
      s"pre-evolution file must be skipped via null stats (read=$read)")
    assert(df.count() == 2)
    assert(VersionedTable.read(spark, path)
      .filter($"score" >= 0.0 && $"score" <= 100.0).count() == 2)
    // a column that exists in NO file is a caller error, reported as such
    intercept[IllegalArgumentException] {
      VersionedTable.readWhere(spark, path, "no_such_col", 0L, 1L)
    }
  }

  test("skipping survives compaction (new files re-indexed lazily)") {
    val path = clusteredTable()
    VersionedTable.compact(spark, path)
    val (df, read, total) = VersionedTable.readWhere(spark, path, "k", 120L, 150L)
    val expect = VersionedTable.read(spark, path)
      .filter($"k" >= 120 && $"k" <= 150).count()
    assert(df.count() == expect)
    assert(read <= total)
  }

  // ------------------------------------------------- footer stats in the log

  private def manifest(path: String, v: Long): VersionedTable.Manifest =
    VersionedTable.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path, "_graft_log", f"v$v%08d.json")))

  test("files written before a column existed are skipped as all-null, from the log alone") {
    val path = tempDir("vt_pre").resolve("t").toString
    VersionedTable.write((0L until 10L).map(i => (i, s"r$i")).toDF("k", "v").coalesce(1),
      path, SaveMode.Overwrite)
    val v1 = VersionedTable.write((10L until 20L).map(i => (i, s"r$i", i * 1.5))
      .toDF("k", "v", "score").coalesce(1), path, SaveMode.Append)
    val old = VersionedTable.files(path, 0L).head
    assert(manifest(path, v1).stats(old).bounds("score").contains((null, null)))
    var r: (org.apache.spark.sql.DataFrame, Long, Long) = null
    // the data scan alone
    assert(jobsStartedBy { r = VersionedTable.readWhere(spark, path, "score", 0.0, 100.0)
      r._1.collect() } == 1)
    assert(r._2 == 1 && r._3 == 2 && r._1.count() == 10)
  }

  test("an all-null column skips its file; a string column prunes lexically") {
    val path = tempDir("vt_nulls").resolve("t").toString
    VersionedTable.write(Seq((1L, Option.empty[String]), (2L, None)).toDF("k", "s").coalesce(1),
      path, SaveMode.Overwrite)
    VersionedTable.write(Seq((3L, Option("apple")), (4L, Option("banana"))).toDF("k", "s")
      .coalesce(1), path, SaveMode.Append)
    VersionedTable.write(Seq((5L, Option("melon")), (6L, Option("zebra"))).toDF("k", "s")
      .coalesce(1), path, SaveMode.Append)
    val stats = manifest(path, 2L).stats
    assert(stats.values.map(s => (s.minValues.get("s"), s.maxValues.get("s"), s.nullCount("s")))
      .toSet == Set((None, None, 2L), (Some("apple"), Some("banana"), 0L),
        (Some("melon"), Some("zebra"), 0L)))
    val (df, read, total) = VersionedTable.readWhere(spark, path, "s", "b", "c")
    assert(read == 1 && total == 3)
    assert(df.select("k").as[Long].collect().toSeq == Seq(4L))
    val (eq, eqRead, _) = VersionedTable.readWhereEquals(spark, path, "s", "melon")
    assert(eqRead == 1 && eq.select("k").as[Long].collect().toSeq == Seq(5L))
  }

  test("an INT96 timestamp column has no footer stats, so every file is read") {
    val path = tempDir("vt_int96").resolve("t").toString
    val ts = (0 until 2).map { c =>
      spark.range(c * 10L, c * 10L + 10L).select($"id".as("k"),
        timestamp_seconds($"id" * 3600).as("ts")).coalesce(1)
    }
    VersionedTable.write(ts.head, path, SaveMode.Overwrite)
    VersionedTable.write(ts(1), path, SaveMode.Append)
    val st = manifest(path, 1L).stats.values.toSeq
    assert(st.forall(s => s.bounds("ts").isEmpty && s.bounds("k").isDefined))
    val (lo, hi) = (java.sql.Timestamp.valueOf("1970-01-01 02:00:00"),
      java.sql.Timestamp.valueOf("1970-01-01 04:00:00"))
    val (df, read, total) = VersionedTable.readWhere(spark, path, "ts", lo, hi)
    assert(read == 2 && total == 2)
    assert(df.select("k").as[Long].collect().sorted.toSeq == Seq(2L, 3L, 4L))
  }

  test("a table written before stats were recorded, with its _graft_stats/ sidecar, reads back identically") {
    val path = clusteredTable()
    VersionedTable.deleteWhere(spark, path, $"k" >= 120 && $"k" <= 130)
    def reads(): Seq[(Long, Long, Seq[String])] = Seq(
      VersionedTable.readWhere(spark, path, "k", 110L, 150L),
      VersionedTable.readWhere(spark, path, "v", "r2", "r3"),
      VersionedTable.readWhereEquals(spark, path, "k", 125L),
      VersionedTable.readWhereEquals(spark, path, "k", 140L)
    ).map(r => (r._2, r._3, r._1.collect().map(_.toString).toSeq.sorted))
    val before = reads()
    // the log as the format wrote it before stats: no `stats`, and a
    // min/max sidecar built by an earlier read
    val logDir = java.nio.file.Paths.get(path, "_graft_log")
    VersionedTable.versions(path).foreach { v =>
      val f = logDir.resolve(f"v$v%08d.json")
      java.nio.file.Files.writeString(f, VersionedTable.render(
        VersionedTable.parse(java.nio.file.Files.readString(f)).copy(stats = Map.empty)))
    }
    VersionedTable.files(path, 3L).map(f => (f, 0L, 299L)).toDF("file", "mn", "mx")
      .coalesce(1).write.parquet(java.nio.file.Paths.get(path, "_graft_stats", "k").toString)
    assert(reads() == before)
    // the data scan + DV broadcast: footers are read on the driver
    assert(jobsStartedBy(VersionedTable.readWhere(spark, path, "k", 110L, 150L)._1.collect()) == 2)
    // the next commit records every live file's stats
    val v = VersionedTable.write(Seq((300L, "r300")).toDF("k", "v").coalesce(1), path,
      SaveMode.Append)
    assert(manifest(path, v).stats.keySet == VersionedTable.files(path, v).toSet)
    assert(reads().map(_._3) == before.map(_._3))
  }
}
