package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.SparkSpec

class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  test("commit / append / merge versions with time travel and history") {
    val path = tempDir("vt").resolve("orders").toString
    val v0 = VersionedTable.write(
      Seq((1L, "A", 10.0), (2L, "B", 20.0)).toDF("k", "status", "amt"),
      path, SaveMode.Overwrite)
    val v1 = VersionedTable.write(
      Seq((3L, "C", 30.0)).toDF("k", "status", "amt"), path, SaveMode.Append)
    val v2 = VersionedTable.mergeCommitPruned(spark, path,
      Seq((2L, "B2", 99.0), (4L, "D", 40.0)).toDF("k", "status", "amt"), Seq("k"))
    assert(Seq(v0, v1, v2) == Seq(0L, 1L, 2L))

    // latest reflects the merge
    val latest = VersionedTable.read(spark, path)
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(latest == Seq((1L, "A", 10.0), (2L, "B2", 99.0), (3L, "C", 30.0), (4L, "D", 40.0)))

    // time travel: v0 and v1 are unchanged by later commits
    assert(VersionedTable.readVersion(spark, path, 0).count() == 2)
    assert(VersionedTable.readVersion(spark, path, 1)
      .orderBy("k").select("k").as[Long].collect().toSeq == Seq(1L, 2L, 3L))

    val hist = VersionedTable.history(spark, path)
      .select("version", "op").as[(Long, String)].collect().toSeq
    assert(hist == Seq((0L, "overwrite"), (1L, "append"), (2L, "merge-pruned")))
  }

  test("vacuum retains the newest versions, deletes unreferenced files") {
    val path = tempDir("vt_vac").resolve("t").toString
    VersionedTable.write(Seq((1L, "a")).toDF("k", "v"), path, SaveMode.Overwrite) // v0
    VersionedTable.write(Seq((2L, "b")).toDF("k", "v"), path, SaveMode.Overwrite) // v1: v0's files now orphaned
    VersionedTable.write(Seq((3L, "c")).toDF("k", "v"), path, SaveMode.Append)    // v2: shares v1's files
    val latestBefore = VersionedTable.read(spark, path)
      .orderBy("k").as[(Long, String)].collect().toSeq

    // nothing expires while everything is inside the retention window
    assert(VersionedTable.vacuum(path, retainLast = 3, minAgeMs = 0) == 0)
    assert(VersionedTable.versions(path) == Seq(0L, 1L, 2L))
    // the age horizon protects seconds-old unreferenced files — the
    // in-flight-commit window a concurrent writer's staged data sits in.
    // The v0 manifest expires now; its files survive until they age out.
    assert(VersionedTable.vacuum(path, retainLast = 2) == 0,
      "default horizon must not delete freshly staged files")
    assert(VersionedTable.versions(path) == Seq(1L, 2L))

    // a later vacuum sweeps the previously-protected orphans
    val deleted = VersionedTable.vacuum(path, retainLast = 2, minAgeMs = 0)
    assert(deleted >= 1, "v0's exclusive files must be deleted")
    assert(VersionedTable.versions(path) == Seq(1L, 2L))
    // retained versions read back intact — v2 shares v1's files, both live
    assert(VersionedTable.read(spark, path)
      .orderBy("k").as[(Long, String)].collect().toSeq == latestBefore)
    assert(VersionedTable.readVersion(spark, path, 1)
      .as[(Long, String)].collect().toSeq == Seq((2L, "b")))
    // time travel past the retention window is gone by design
    intercept[Exception] { VersionedTable.files(path, 0L) }
    // append after vacuum continues the version sequence
    val v3 = VersionedTable.write(Seq((4L, "d")).toDF("k", "v"), path, SaveMode.Append)
    assert(v3 == 3L)
    assert(VersionedTable.read(spark, path).count() == 3)
  }

  test("parallel appenders: every commit lands, no version lost or duplicated") {
    val path = tempDir("vt3").resolve("t").toString
    VersionedTable.write(Seq((0L, -1L)).toDF("writer", "i"), path, SaveMode.Overwrite)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { w =>
      new Thread(() =>
        try (0 until 5).foreach { i =>
          VersionedTable.write(Seq((w.toLong, i.toLong)).toDF("writer", "i"),
            path, SaveMode.Append)
        } catch { case t: Throwable => errors.add(t); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"writer thread failed: ${Option(errors.peek())}")
    assert(VersionedTable.versions(path) == (0L to 20L))
    val rows = VersionedTable.read(spark, path)
    assert(rows.count() == 21, "all 20 appends plus the seed must be live")
    assert(rows.select("writer", "i").distinct().count() == 21)
  }

  test("write(txn) commits a batch once, even from concurrent writers") {
    val path = tempDir("vt4").resolve("t").toString
    VersionedTable.write(Seq((0L, 0L)).toDF("w", "i"), path, SaveMode.Overwrite)
    def once(w: Long, batch: Long): Long = VersionedTable.write(Seq((w, batch)).toDF("w", "i"),
      path, SaveMode.Append, txn = Some(("app", batch)))
    // serial re-delivery: the second call commits nothing and writes no file
    assert(once(1L, 7L) == 1L)
    assert(once(9L, 7L) == 1L && once(9L, 6L) == 1L)
    assert(VersionedTable.txn(path, "app").contains("7"))
    assert(Files.list(java.nio.file.Paths.get(path, "data")).count() == 2L)
    // concurrent replays of one batch: exactly one commit between them,
    // and the losers' staged files are gone
    val threads = (1 to 4).map(w => new Thread(() => { once(w.toLong, 8L); () }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(VersionedTable.versions(path) == (0L to 2L))
    assert(VersionedTable.read(spark, path).filter($"i" === 8L).count() == 1)
    assert(Files.list(java.nio.file.Paths.get(path, "data")).count() == 3L)
    // the mark is per appId; other writers carry it forward
    assert(VersionedTable.write(Seq((5L, 7L)).toDF("w", "i"), path, SaveMode.Append,
      txn = Some(("other", 7L))) == 3L)
    VersionedTable.write(Seq((6L, 0L)).toDF("w", "i"), path, SaveMode.Append)
    assert(VersionedTable.txn(path, "app").contains("8") && VersionedTable.txn(path, "other").contains("7"))
  }

  // Each read-modify-write path under 4 concurrent writers: a retry on a
  // stale snapshot would drop a concurrent commit's rows, so every
  // thread's upsert or delete must be visible in the final table.
  private val rmwBase = (1L to 7L).map(k => (k, "base")).toMap
  private val rmwUpserts = rmwBase ++
    (2 to 5).flatMap(k => Seq((k.toLong, s"m$k"), (10L + k, s"i$k")))
  private val concurrentRmw: Seq[(String, String => Int => Unit, Map[Long, String])] = Seq(
    ("mergeCommitDV", path => k => VersionedTable.mergeCommitDV(spark, path,
      Seq((k.toLong, s"m$k"), (10L + k, s"i$k")).toDF("k", "v"), Seq("k")), rmwUpserts),
    ("mergeCommitPruned", path => k => VersionedTable.mergeCommitPruned(spark, path,
      Seq((k.toLong, s"m$k"), (10L + k, s"i$k")).toDF("k", "v"), Seq("k")), rmwUpserts),
    ("deleteWhere", path => k =>
      VersionedTable.deleteWhere(spark, path, $"k" === k.toLong), rmwBase -- (2L to 5L)),
    // compactors interleave their own appends: a compaction committed
    // from a stale plan would drop a concurrent append or duplicate rows
    ("compact", path => k => (1 to 3).foreach { i =>
      VersionedTable.write(Seq((10L * i + k, s"i$k")).toDF("k", "v"), path,
        SaveMode.Append)
      VersionedTable.compact(spark, path)
    }, rmwBase ++ (for (i <- 1 to 3; k <- 2 to 5) yield (10L * i + k, s"i$k"))))

  concurrentRmw.foreach { case (name, commit, want) =>
    test(s"$name re-runs on conflict: 4 concurrent commits all land (no lost update)") {
      val path = tempDir("vt5").resolve("t").toString
      // two commits, so compaction always has small files to merge
      VersionedTable.write((rmwBase - 7L).toSeq.toDF("k", "v"), path, SaveMode.Overwrite)
      VersionedTable.write(Seq((7L, "base")).toDF("k", "v"), path, SaveMode.Append)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (2 to 5).map { k =>
        new Thread(() =>
          try commit(path)(k)
          catch { case t: Throwable => errors.add(t); () })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errors.isEmpty, s"$name thread failed: ${Option(errors.peek())}")
      val got = VersionedTable.read(spark, path).as[(Long, String)].collect().toSeq
      assert(got.sorted == want.toSeq.sorted, s"lost update: $got")
    }
  }

  test("schema evolution: a widened append reads back merged with NULLs") {
    val path = tempDir("vt6").resolve("t").toString
    VersionedTable.write(Seq((1L, "a")).toDF("k", "v"), path, SaveMode.Overwrite)
    VersionedTable.write(Seq((2L, "b", 9.5)).toDF("k", "v", "score"), path,
      SaveMode.Append)
    val back = VersionedTable.read(spark, path)
    assert(back.columns.sorted.toSeq == Seq("k", "score", "v"))
    val rows = back.orderBy("k").select("k", "score")
      .as[(Long, Option[Double])].collect().toSeq
    assert(rows == Seq((1L, None), (2L, Some(9.5))))
    // time travel to the pre-widening version keeps the original schema
    assert(VersionedTable.readVersion(spark, path, 0).columns.sorted.toSeq ==
      Seq("k", "v"))
  }

  test("legacy batch tags seed the txn mark, also from a checkpoint") {
    // a table written before the txn map: commits tagged <appId>-batch-<id>
    // (two of a second query, then app's 0..12), and a checkpoint of the
    // op history at every 10th commit
    val path = tempDir("vt7").resolve("t").toString
    val tags = Seq("other-batch-0", "other-batch-1") ++ (0 to 12).map(i => s"app-batch-$i")
    tags.zipWithIndex.foreach { case (tag, i) =>
      VersionedTable.write(Seq((i.toLong, i.toLong)).toDF("k", "v"), path, SaveMode.Append, tag)
    }
    val logDir = java.nio.file.Paths.get(path, "_graft_log")
    Files.writeString(logDir.resolve("chk-v00000010.json"), (0 to 10)
      .map(v => s"""[$v,"${tags(v)}"]""").mkString("""{"version":10,"ops":[""", ",", "]}"))
    // vacuum kept the checkpoint; the tags of v0..v10 live only there
    (0L to 10L).foreach(v => Files.delete(logDir.resolve(f"v$v%08d.json")))
    def batch(app: String, id: Long): Long = VersionedTable.write(
      Seq((100L + id, id)).toDF("k", "v"), path, SaveMode.Append, txn = Some((app, id)))
    assert(batch("app", 3L) == 14L)
    assert(batch("app", 12L) == 14L)
    assert(batch("other", 1L) == 14L, "a batch tagged only in the checkpoint must be skipped")
    assert(VersionedTable.txn(path, "app").isEmpty)
    assert(batch("app", 13L) == 15L)
    assert(VersionedTable.txn(path, "app").contains("13"))
    assert(batch("app", 12L) == 15L)
    assert(batch("other", 2L) == 16L)
    assert(VersionedTable.read(spark, path).count() == 17L)
    // a third appId has no legacy tags
    assert(batch("app2", 0L) == 17L)
  }

  test("compact: bin-packs small files, content identical, old files vacuumable") {
    val path = tempDir("vt8").resolve("t").toString
    // 8 append commits of one tiny file each → 8 live files
    VersionedTable.write(Seq((0L, "r0")).toDF("k", "v"), path, SaveMode.Overwrite)
    (1 to 7).foreach { i =>
      VersionedTable.write(Seq((i.toLong, s"r$i")).toDF("k", "v"), path,
        SaveMode.Append)
    }
    val before = VersionedTable.read(spark, path)
      .as[(Long, String)].collect().toSeq.sorted
    val filesBefore = VersionedTable.files(path, 7L)
    assert(filesBefore.size >= 8)

    val v = VersionedTable.compact(spark, path)
    assert(v.contains(8L))
    assert(VersionedTable.opOf(path, 8L) == "compact")
    // pure layout change: multiset-identical rows, strictly fewer files
    val filesAfter = VersionedTable.files(path, 8L)
    assert(filesAfter.size < filesBefore.size,
      s"compaction must shrink the file count: ${filesBefore.size} -> ${filesAfter.size}")
    assert(VersionedTable.read(spark, path)
      .as[(Long, String)].collect().toSeq.sorted == before)
    // pre-compaction version still time-travels off the original files
    assert(VersionedTable.readVersion(spark, path, 7L)
      .as[(Long, String)].collect().toSeq.sorted == before)
    // everything already at target: compact is a no-op
    assert(VersionedTable.compact(spark, path).isEmpty)
    // vacuum sweeps the superseded small files; the compacted table reads intact
    assert(VersionedTable.vacuum(path, retainLast = 1, minAgeMs = 0) >= 8)
    assert(VersionedTable.read(spark, path)
      .as[(Long, String)].collect().toSeq.sorted == before)
  }

  test("compact: mixed-schema files rewrite to the merge-on-read result") {
    val path = tempDir("vt9").resolve("t").toString
    VersionedTable.write(Seq((1L, "a")).toDF("k", "v"), path, SaveMode.Overwrite)
    VersionedTable.write(Seq((2L, "b", 9.5)).toDF("k", "v", "score"), path,
      SaveMode.Append) // widened
    val before = VersionedTable.read(spark, path).orderBy("k")
      .select("k", "v", "score").as[(Long, String, Option[Double])]
      .collect().toSeq
    assert(VersionedTable.compact(spark, path).contains(2L))
    assert(VersionedTable.read(spark, path).orderBy("k")
      .select("k", "v", "score").as[(Long, String, Option[Double])]
      .collect().toSeq == before)
  }

  test("deleteWhere: DV masks rows, data files untouched, time travel intact") {
    val path = tempDir("vt_dv1").resolve("t").toString
    VersionedTable.write(
      (1L to 10L).map(i => (i, s"r$i")).toDF("k", "v"), path, SaveMode.Overwrite)
    val filesBefore = VersionedTable.files(path, 0L)
    val v1 = VersionedTable.deleteWhere(spark, path, $"k" % 3 === 0)
    assert(v1 == 1L && VersionedTable.opOf(path, 1L) == "delete")
    // delete commits NO data files — same list, only a DV was added
    assert(VersionedTable.files(path, 1L) == filesBefore)
    assert(VersionedTable.dvFiles(path, 1L).nonEmpty)
    assert(VersionedTable.read(spark, path).select("k").as[Long]
      .collect().toSeq.sorted == Seq(1L, 2L, 4L, 5L, 7L, 8L, 10L))
    // pre-delete version still reads all rows (DVs are per-version state)
    assert(VersionedTable.readVersion(spark, path, 0L).count() == 10)
    // a second delete accumulates on top of the first DV
    VersionedTable.deleteWhere(spark, path, $"k" === 1L)
    assert(VersionedTable.read(spark, path).select("k").as[Long]
      .collect().toSeq.sorted == Seq(2L, 4L, 5L, 7L, 8L, 10L))
  }

  test("mergeCommitDV: upsert semantics with zero target-file rewrites") {
    val path = tempDir("vt_dv2").resolve("t").toString
    VersionedTable.write(
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("k", "v", "x"),
      path, SaveMode.Overwrite)
    val baseFiles = VersionedTable.files(path, 0L)
    val v = VersionedTable.mergeCommitDV(spark, path,
      Seq((2L, "B2", 9.0), (4L, "d", 4.0)).toDF("k", "v", "x"), Seq("k"))
    assert(v == 1L && VersionedTable.opOf(path, 1L) == "merge-dv")
    // every base file carries over by reference — the merge rewrote nothing
    assert(baseFiles.forall(VersionedTable.files(path, 1L).contains))
    assert(VersionedTable.read(spark, path).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 1.0), (2L, "B2", 9.0), (3L, "c", 3.0), (4L, "d", 4.0)))
    // re-merging the same source is idempotent in CONTENT
    VersionedTable.mergeCommitDV(spark, path,
      Seq((2L, "B2", 9.0), (4L, "d", 4.0)).toDF("k", "v", "x"), Seq("k"))
    assert(VersionedTable.read(spark, path).count() == 4)
  }

  test("mergeCommitPruned: untouched files carry over, touched files rewrite") {
    val path = tempDir("vt_dv3").resolve("t").toString
    // three commits → three file sets with disjoint key ranges
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path, SaveMode.Overwrite)
    VersionedTable.write(Seq((10L, "j"), (11L, "k")).toDF("k", "v"), path, SaveMode.Append)
    VersionedTable.write(Seq((20L, "t"), (21L, "u")).toDF("k", "v"), path, SaveMode.Append)
    val before = VersionedTable.files(path, 2L)
    // touch only the middle commit's keys (+ a fresh insert)
    val v = VersionedTable.mergeCommitPruned(spark, path,
      Seq((10L, "J!"), (99L, "z")).toDF("k", "v"), Seq("k"))
    assert(v == 3L && VersionedTable.opOf(path, 3L) == "merge-pruned")
    val after = VersionedTable.files(path, 3L)
    val carried = before.filter(after.contains)
    // the two untouched commits' files survive by reference; the touched
    // one is replaced (strictly fewer carried files than before)
    assert(carried.nonEmpty && carried.size < before.size,
      s"expected partial carry-over: before=${before.size} carried=${carried.size}")
    assert(VersionedTable.read(spark, path).orderBy("k")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (10L, "J!"), (11L, "k"), (20L, "t"),
        (21L, "u"), (99L, "z")))
    // a source matching nothing appends only inserts, carries all files
    val v2 = VersionedTable.mergeCommitPruned(spark, path,
      Seq((100L, "q")).toDF("k", "v"), Seq("k"))
    assert(after.forall(VersionedTable.files(path, v2).contains))
    assert(VersionedTable.read(spark, path).count() == 8)
  }

  test("change data feed: exact row-level inserts and deletes across versions") {
    val path = tempDir("vt_cdf").resolve("t").toString
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path, SaveMode.Overwrite)
    VersionedTable.write(Seq((3L, "c")).toDF("k", "v"), path, SaveMode.Append) // v1
    VersionedTable.deleteWhere(spark, path, $"k" === 1L)                       // v2
    VersionedTable.mergeCommitDV(spark, path,
      Seq((2L, "B2"), (4L, "d")).toDF("k", "v"), Seq("k"))                     // v3
    val feed = VersionedTable.changes(spark, path, 0L, 3L)
      .select($"_commit_version", $"_change_type", $"k", $"v")
      .as[(Long, String, Long, String)].collect().toSeq.sorted
    assert(feed == Seq(
      (1L, "insert", 3L, "c"),
      (2L, "delete", 1L, "a"),
      (3L, "delete", 2L, "b"),   // merge preimage
      (3L, "insert", 2L, "B2"),  // merge postimage
      (3L, "insert", 4L, "d")))
    // replaying the feed over v0 reconstructs the latest state
    val v0 = VersionedTable.readVersion(spark, path, 0L)
      .as[(Long, String)].collect().toSet
    val inserted = feed.collect { case (_, "insert", k, v) => (k, v) }.toSet
    val deleted = feed.collect { case (_, "delete", k, v) => (k, v) }.toSet
    assert((v0 -- deleted) ++ inserted ==
      VersionedTable.read(spark, path).as[(Long, String)].collect().toSet)
    // a rewrite commit in range raises — CDF demands DV-based ops
    VersionedTable.mergeCommitPruned(spark, path, Seq((3L, "C"), (5L, "e")).toDF("k", "v"), Seq("k"))
    intercept[UnsupportedOperationException] {
      VersionedTable.changes(spark, path, 3L, 4L).collect()
    }
  }

  test("compact + vacuum respect deletion vectors: no resurrection, DVs survive") {
    val path = tempDir("vt_dv4").resolve("t").toString
    VersionedTable.write(Seq((1L, "a")).toDF("k", "v"), path, SaveMode.Overwrite)
    (2 to 6).foreach { i =>
      VersionedTable.write(Seq((i.toLong, s"r$i")).toDF("k", "v"), path, SaveMode.Append)
    }
    VersionedTable.deleteWhere(spark, path, $"k" <= 2L)
    val expect = Seq(3L, 4L, 5L, 6L)
    assert(VersionedTable.read(spark, path).select("k").as[Long]
      .collect().toSeq.sorted == expect)
    // compaction rewrites the small files DV-applied — deleted rows stay dead
    val cv = VersionedTable.compact(spark, path)
    assert(cv.nonEmpty)
    assert(VersionedTable.read(spark, path).select("k").as[Long]
      .collect().toSeq.sorted == expect, "compaction must not resurrect DV-deleted rows")
    // vacuum to latest only: referenced DV files survive, content intact
    VersionedTable.vacuum(path, retainLast = 1, minAgeMs = 0)
    assert(VersionedTable.read(spark, path).select("k").as[Long]
      .collect().toSeq.sorted == expect)
  }

  test("optimistic concurrency: a stolen version number is retried, nothing lost") {
    val path = tempDir("vt2").resolve("t").toString
    VersionedTable.write(Seq((1L, "x")).toDF("k", "v"), path, SaveMode.Overwrite)
    // another writer steals version 1 before our append commits
    val logDir = java.nio.file.Paths.get(path, "_graft_log")
    java.nio.file.Files.writeString(logDir.resolve("v00000001.json"),
      """{"version":1,"op":"other","files":[]}""")
    val committed = VersionedTable.write(
      Seq((2L, "y")).toDF("k", "v"), path, SaveMode.Append)
    assert(committed == 2L, "loser of the race must retry onto the next version")
    // append based itself on the winner's (empty) v1 file list... no:
    // append re-reads the latest version at retry time, which is v1 ([]),
    // so the new version contains only the new rows — consistent with
    // Delta's conflict semantics for blind appends over overwrites
    val latest = VersionedTable.read(spark, path).select("k").as[Long].collect().toSeq
    assert(latest == Seq(2L))
    // history intact, v0 still readable
    assert(VersionedTable.readVersion(spark, path, 0).count() == 1)
  }

  test("change feed skips optimize-zorder commits like compact (pure layout)") {
    val path = tempDir("vtz").resolve("t").toString
    VersionedTable.write(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      path, SaveMode.Overwrite)                                     // v0
    VersionedTable.write(Seq((3L, 30L)).toDF("k", "v"),
      path, SaveMode.Append)                                        // v1
    VersionedTable.optimizeZOrder(spark, path, "k", "v", 2)         // v2
    VersionedTable.write(Seq((4L, 40L)).toDF("k", "v"),
      path, SaveMode.Append)                                        // v3
    // CDF across the optimize: zero rows changed at v2, so the range
    // must yield exactly v1's insert + v3's insert (previously raised
    // UnsupportedOperationException on the layout rewrite)
    val ch = VersionedTable.changes(spark, path, 0, 3)
      .select("k", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet
    assert(ch == Set((3L, "insert", 1L), (4L, "insert", 3L)))
  }

  test("restore: head becomes an old version, metadata-only, history preserved") {
    val path = tempDir("vt").resolve("t").toString
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      path, SaveMode.Overwrite)                                    // v0
    VersionedTable.write(Seq((3L, "c")).toDF("k", "v"),
      path, SaveMode.Append)                                       // v1
    // a DV delete so restore must carry deletion vectors too
    VersionedTable.deleteWhere(spark, path, col("k") === 1L)       // v2
    VersionedTable.write(Seq((9L, "z")).toDF("k", "v"),
      path, SaveMode.Overwrite)                                    // v3
    val rv = VersionedTable.restore(path, 2L)                      // v4
    assert(rv == 4L)
    val head = VersionedTable.read(spark, path)
      .select("k").as[Long].collect().sorted.toSeq
    val want = VersionedTable.readVersion(spark, path, 2L)
      .select("k").as[Long].collect().sorted.toSeq
    assert(head == want && head == Seq(2L, 3L))
    // restore is a COMMIT: v3 remains readable behind it
    assert(VersionedTable.readVersion(spark, path, 3L)
      .select("k").as[Long].collect().toSeq == Seq(9L))
    assert(VersionedTable.opOf(path, 4L) == "restore(2)")
    // restoring the restore rolls forward again
    VersionedTable.restore(path, 3L)                               // v5
    assert(VersionedTable.read(spark, path)
      .select("k").as[Long].collect().toSeq == Seq(9L))
    // vacuum keeps files referenced by the restored head
    VersionedTable.vacuum(path, retainLast = 2)
    assert(VersionedTable.read(spark, path)
      .select("k").as[Long].collect().toSeq == Seq(9L))
  }

  test("op tags with control characters round-trip through manifests and checkpoints") {
    val path = tempDir("vt_esc").resolve("t").toString
    val app = "a\tb\n\"c\\d"
    val n = 12
    (0 until n).foreach { i =>
      VersionedTable.write(Seq((i.toLong, s"r$i")).toDF("k", "v"), path,
        SaveMode.Append, s"$app-batch-$i")
    }
    val logDir = java.nio.file.Paths.get(path, "_graft_log")
    assert(!Files.exists(logDir.resolve("chk-v00000010.json")), "no commit writes a checkpoint")
    // escaped on disk: every manifest stays one valid JSON line
    assert(VersionedTable.versions(path).forall(v =>
      !Files.readString(logDir.resolve(f"v$v%08d.json")).exists(_ < ' ')))
    assert(VersionedTable.versions(path).forall(v =>
      VersionedTable.opOf(path, v) == s"$app-batch-$v"))
    assert(VersionedTable.files(path, n - 1L).distinct.size >= n)
    assert(VersionedTable.read(spark, path).count() == n)
    assert(VersionedTable.history(spark, path).as[(Long, String, Int)].collect()
      .map(h => (h._1, h._2)).toSeq == (0 until n).map(v => (v.toLong, s"$app-batch-$v")))
    assert(VersionedTable.legacyBatchMark(path, app).contains(n - 1L))
    // a legacy checkpoint's tags parse JSON-escaped, and with the raw
    // control characters older writers left in them
    val escaped = raw"""a\tb\n\"c\\d"""
    val rawControl = "a\tb\n\\\"c\\\\d"
    Files.writeString(logDir.resolve("chk-v00000020.json"),
      s"""{"version":20,"ops":[[20,"$escaped-batch-20"]]}""")
    assert(VersionedTable.legacyBatchMark(path, app).contains(20L))
    Files.writeString(logDir.resolve("chk-v00000021.json"),
      s"""{"version":21,"ops":[[21,"$rawControl-batch-21"]]}""")
    assert(VersionedTable.legacyBatchMark(path, app).contains(21L))
  }

  test("manifest codec: the log format reads back and renders byte-identical") {
    val withDv = """{"version":3,"op":"merge \"q\" \\ x","files":""" +
      """["/t/data/a/p0.parquet","/t/data/b/p1.parquet"],"dv":["/t/dv/c/p0.parquet"]}"""
    val m = VersionedTable.parse(withDv)
    assert(m == VersionedTable.Manifest(3L, "merge \"q\" \\ x",
      Seq("/t/data/a/p0.parquet", "/t/data/b/p1.parquet"), Seq("/t/dv/c/p0.parquet")))
    assert(VersionedTable.render(m) == withDv)
    val dvFree = """{"version":0,"op":"overwrite","files":[]}"""
    assert(VersionedTable.render(VersionedTable.parse(dvFree)) == dvFree)
    // a manifest committed by an older writer is served unchanged
    val path = tempDir("vt_codec").resolve("t").toString
    VersionedTable.write(Seq((1L, "a")).toDF("k", "v"), path, SaveMode.Overwrite)
    val logDir = java.nio.file.Paths.get(path, "_graft_log")
    Files.writeString(logDir.resolve("v00000001.json"), withDv.replace("\"version\":3", "\"version\":1"))
    assert(VersionedTable.files(path, 1L) == m.files)
    assert(VersionedTable.dvFiles(path, 1L) == m.dv)
    assert(VersionedTable.opOf(path, 1L) == m.op)
    // a legacy op-history checkpoint still parses, for the txn seed
    Files.writeString(logDir.resolve("chk-v00000010.json"),
      """{"version":10,"ops":[[0,"q-batch-0"],[1,"say \"hi\""],[2,"q-batch-2"]]}""")
    assert(VersionedTable.legacyBatchMark(path, "q").contains(2L))
  }

  test("metadata-only calls start no Spark job") {
    val path = tempDir("vt_meta").resolve("t").toString
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path, SaveMode.Overwrite)
    VersionedTable.write(Seq((3L, "c")).toDF("k", "v"), path, SaveMode.Append)
    VersionedTable.deleteWhere(spark, path, $"k" === 1L)
    VersionedTable.write(Seq((4L, "d")).toDF("k", "v"), path, SaveMode.Append,
      txn = Some(("app", 1L)))
    val dataDirs = Files.list(java.nio.file.Paths.get(path, "data")).count()
    val jobs = jobsStartedBy {
      val latest = VersionedTable.latestVersion(path).get
      VersionedTable.files(path, latest)
      VersionedTable.dvFiles(path, latest)
      VersionedTable.opOf(path, latest)
      assert(VersionedTable.txn(path, "app").contains("1"))
      // a replayed batch: no job, no data directory, no commit
      assert(VersionedTable.write(Seq((5L, "e")).toDF("k", "v"), path, SaveMode.Append,
        txn = Some(("app", 1L))) == latest)
      val rv = VersionedTable.restore(path, 0L)
      assert(VersionedTable.files(path, rv) == VersionedTable.files(path, 0L))
    }
    assert(jobs == 0, s"$jobs Spark jobs from metadata-only calls")
    assert(Files.list(java.nio.file.Paths.get(path, "data")).count() == dataDirs)
  }

  /** v0: 40 rows in two files; v1: a widening append; v2: a DV delete —
    * then a range and an equality read, so both sidecars cover every file.
    */
  private def evolvedTable(name: String): String = {
    val path = tempDir(name).resolve("t").toString
    VersionedTable.write((1L to 40L).map(i => (i, s"r$i")).toDF("k", "v").repartition(2),
      path, SaveMode.Overwrite)
    VersionedTable.write((41L to 60L).map(i => (i, s"r$i", i * 0.5)).toDF("k", "v", "score"),
      path, SaveMode.Append)
    VersionedTable.deleteWhere(spark, path, $"k" % 7 === 0L)
    VersionedTable.readWhere(spark, path, "k", 0L, 100L)
    VersionedTable.readWhereEquals(spark, path, "k", 5L)
    path
  }

  test("an append that retypes a column fails before it commits; the table stays readable") {
    val path = tempDir("vt_retype").resolve("t").toString
    VersionedTable.write(Seq((1L, "a")).toDF("k", "v"), path, SaveMode.Overwrite)
    val e = intercept[Exception] {
      VersionedTable.write(Seq(("x", "b")).toDF("k", "v"), path, SaveMode.Append)
    }
    assert(e.getMessage.contains("CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE"), e.getMessage)
    assert(VersionedTable.latestVersion(path).contains(0L))
    assert(VersionedTable.read(spark, path).as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("manifest codec: a recorded schema round-trips byte-identical") {
    val line = """{"version":2,"op":"append","files":["/t/data/a/p0.parquet"],""" +
      """"dv":["/t/dv/c/p0.parquet"],"schema":"{\"type\":\"struct\",\"fields\":[""" +
      """{\"name\":\"k\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},""" +
      """{\"name\":\"v\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"}"""
    val m = VersionedTable.parse(line)
    assert(m.schema.contains(new StructType().add("k", LongType).add("v", StringType)))
    assert(VersionedTable.render(m) == line)
    // manifests without the field parse to no schema and keep their bytes
    val old = """{"version":0,"op":"overwrite","files":["/t/data/a/p0.parquet"]}"""
    assert(VersionedTable.parse(old).schema.isEmpty)
    assert(VersionedTable.render(VersionedTable.parse(old)) == old)
    // every commit records the schema its reads declare
    val path = evolvedTable("vt_codec2")
    assert(VersionedTable.versions(path).forall(v =>
      VersionedTable.readVersion(spark, path, v).schema ==
        VersionedTable.parse(Files.readString(java.nio.file.Paths.get(path, "_graft_log",
          f"v$v%08d.json"))).schema.get))
  }

  test("manifests without a schema read back identically; the next append records it") {
    val path = evolvedTable("vt_compat")
    def rows(df: org.apache.spark.sql.DataFrame): (Seq[String], Seq[String]) =
      (df.columns.toSeq, df.collect().map(_.toString).toSeq.sorted)
    def reads(): Seq[(Seq[String], Seq[String])] =
      VersionedTable.versions(path).map(v => rows(VersionedTable.readVersion(spark, path, v))) ++
        Seq(rows(VersionedTable.read(spark, path)),
          rows(VersionedTable.readWhere(spark, path, "k", 10L, 50L)._1),
          rows(VersionedTable.readWhere(spark, path, "score", 21.0, 25.0)._1),
          rows(VersionedTable.readWhereEquals(spark, path, "k", 12L)._1),
          rows(VersionedTable.changes(spark, path, 0L, 2L)))
    val before = reads()
    // rewrite every manifest as the format wrote it before it recorded schemas
    val logDir = java.nio.file.Paths.get(path, "_graft_log")
    VersionedTable.versions(path).foreach { v =>
      val f = logDir.resolve(f"v$v%08d.json")
      Files.writeString(f, VersionedTable.render(
        VersionedTable.parse(Files.readString(f)).copy(schema = None, stats = Map.empty)))
    }
    assert(reads() == before)
    // such a version costs one footer-inference job on top of the query
    assert(jobsStartedBy(VersionedTable.readVersion(spark, path, 2L)) == 1)
    val v3 = VersionedTable.write(Seq((61L, "r61", 1.5)).toDF("k", "v", "score"), path,
      SaveMode.Append)
    val recorded = VersionedTable.parse(Files.readString(logDir.resolve(f"v$v3%08d.json"))).schema
    val inferred = spark.read.option("mergeSchema", "true")
      .parquet(VersionedTable.files(path, v3): _*).schema
    assert(recorded.contains(inferred))
  }

  // Jobs per call on `evolvedTable`, local[4]. Before manifests recorded
  // the schema, every scan inferred it with footer jobs: one per data
  // scan and one per DV or sidecar read. Those counts were readVersion 4,
  // readWhere 6, readWhereEquals 6, changes 7 and deleteWhere 4; each
  // budget below is that count minus its discovery jobs. readWhere then
  // spent 3, one of them on its min/max sidecar; the log's stats retire it.
  test("job budget: reads, the change feed and a delete start only their query's jobs") {
    val path = evolvedTable("vt_jobs")
    // data scan + DV broadcast
    assert(jobsStartedBy(VersionedTable.readVersion(spark, path, 2L).collect()) == 2)
    assert(jobsStartedBy(VersionedTable.readWhere(spark, path, "k", 10L, 20L)._1.collect()) == 2)
    // both v0 files span k = 12: Bloom verdicts + data scan + DV broadcast
    assert(jobsStartedBy(
      VersionedTable.readWhereEquals(spark, path, "k", 12L)._1.collect()) == 3)
    // the union of inserts and DV-matched deletes + the DV broadcast
    assert(jobsStartedBy(VersionedTable.changes(spark, path, 0L, 2L).collect()) == 2)
    // DV broadcast + the DV write
    assert(jobsStartedBy(VersionedTable.deleteWhere(spark, path, $"k" === 3L)) == 2)
  }

  // The pruning reads only the log, so a fresh append costs no index job.
  test("readWhere on a DV table starts only the scan and the DV broadcast, also after an append") {
    val path = evolvedTable("vt_jobs_append")
    def probe(): (Long, Long, Int) = {
      var r: (org.apache.spark.sql.DataFrame, Long, Long) = null
      val jobs = jobsStartedBy {
        r = VersionedTable.readWhere(spark, path, "k", 55L, 70L)
        r._1.collect()
      }
      (r._2, r._3, jobs)
    }
    val (read, total, jobs) = probe()
    assert(read < total && jobs == 2)
    VersionedTable.write((61L to 70L).map(i => (i, s"r$i", i * 0.5)).toDF("k", "v", "score")
      .coalesce(1), path, SaveMode.Append)
    // the append recorded its file's stats: no index job for it
    assert(probe() == (read + 1, total + 1, 2))
    assert(VersionedTable.readWhere(spark, path, "k", 55L, 70L)._1.count() ==
      VersionedTable.read(spark, path).filter($"k".between(55L, 70L)).count())
  }

  test("readWhereEquals starts no sidecar job when min/max leaves at most one file") {
    val path = tempDir("vt_eq_jobs").resolve("t").toString
    (0 until 3).foreach { c =>
      VersionedTable.write((c * 100L until c * 100L + 50L).map(i => (i, s"r$i")).toDF("k", "v")
        .coalesce(1), path, if (c == 0) SaveMode.Overwrite else SaveMode.Append)
    }
    VersionedTable.deleteWhere(spark, path, $"k" === 120L)
    var r: (org.apache.spark.sql.DataFrame, Long, Long) = null
    // data scan + DV broadcast
    assert(jobsStartedBy {
      r = VersionedTable.readWhereEquals(spark, path, "k", 130L)
      r._1.collect()
    } == 2)
    assert(r._2 == 1L && r._3 == 3L && r._1.count() == 1)
    assert(jobsStartedBy(VersionedTable.readWhereEquals(spark, path, "k", 75L)._1.collect()) == 0)
    assert(!Files.exists(java.nio.file.Paths.get(path, "_graft_bloom")))
  }

  test("commits record each file's footer stats in the log; the manifest round-trips") {
    val path = evolvedTable("vt_stats")
    val logDir = java.nio.file.Paths.get(path, "_graft_log")
    val head = VersionedTable.latestVersion(path).get
    val text = Files.readString(logDir.resolve(f"v$head%08d.json"))
    val m = VersionedTable.parse(text)
    assert(VersionedTable.render(m) == text)
    val files = VersionedTable.files(path, head)
    assert(m.stats.keySet == files.toSet)
    files.foreach { f =>
      val st = m.stats(f)
      val rows = spark.read.parquet(f)
      assert(st.size == Files.size(java.nio.file.Paths.get(f)))
      assert(st.numRecords == rows.count())
      val (mn, mx) = rows.agg(min("k"), max("k")).as[(Long, Long)].head()
      assert(st.minValues("k") == mn && st.maxValues("k") == mx)
      assert(st.nullCount("k") == 0L)
    }
    // v0's files predate `score`: the widening append records it all-null there
    VersionedTable.files(path, 0L).foreach(f =>
      assert(m.stats(f).nullCount("score") == m.stats(f).numRecords &&
        !m.stats(f).minValues.contains("score")))
  }

  test("rewrite: an overwrite built from the table's own rows commits with its txn entry; " +
      "a lost race builds again on the winner") {
    val path = tempDir("vt_rewrite").resolve("t").toString
    VersionedTable.write(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), path, SaveMode.Overwrite)
    def doubled(current: Option[org.apache.spark.sql.DataFrame]) =
      Some(current.get.withColumn("v", $"v" * 2))
    // the new version's plan reads the version it replaces
    assert(VersionedTable.rewrite(spark, path, "double", Map("app" -> "1"))(doubled) == 1L)
    assert(VersionedTable.read(spark, path).as[(Long, Long)].collect().toSet ==
      Set((1L, 20L), (2L, 40L)))
    assert(VersionedTable.readVersion(spark, path, 0L).as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L)))
    assert(VersionedTable.txn(path, "app").contains("1"))
    assert(VersionedTable.numRecords(spark, path, 1L) == 2L)
    // every later commit carries the entry forward
    VersionedTable.write(Seq((3L, 30L)).toDF("k", "v"), path, SaveMode.Append)
    assert(VersionedTable.txn(path, "app").contains("1") && VersionedTable.txn(path, "x").isEmpty)

    // a writer commits while the rewrite is building: the first attempt
    // loses its race, and the second builds on the winner's version
    var builds = 0
    val v = VersionedTable.rewrite(spark, path, "double", Map("app" -> "2")) { current =>
      builds += 1
      if (builds == 1) VersionedTable.write(Seq((4L, 40L)).toDF("k", "v"), path, SaveMode.Append)
      doubled(current)
    }
    assert(builds == 2 && v == 4L)
    assert(VersionedTable.read(spark, path).as[(Long, Long)].collect().toSet ==
      Set((1L, 40L), (2L, 80L), (3L, 60L), (4L, 80L)))
    // the lost attempt's files are gone; the superseded versions' stay
    assert(Files.list(java.nio.file.Paths.get(path, "data")).count() == 5L)

    // None keeps the files and commits the entry alone
    val files = VersionedTable.files(path, v)
    assert(VersionedTable.rewrite(spark, path, "mark", Map("app" -> "3"))(_ => None) == 5L)
    assert(VersionedTable.files(path, 5L) == files)
    assert(VersionedTable.txn(path, "app").contains("3"))
    assert(VersionedTable.numRecords(spark, path, 5L) == 4L)
    // a table with no version gets the content as its version 0
    val fresh = tempDir("vt_rewrite").resolve("t").toString
    assert(VersionedTable.txn(fresh, "app").isEmpty)
    assert(VersionedTable.rewrite(spark, fresh, "first", Map("app" -> "a")) { current =>
      assert(current.isEmpty)
      Some(Seq((1L, 1L)).toDF("k", "v"))
    } == 0L)
    assert(VersionedTable.txn(fresh, "app").contains("a"))
  }

  test("manifest codec: a txn map round-trips byte-identical, in key order") {
    val line = """{"version":4,"op":"merge","files":["/t/data/a/p0.parquet"],""" +
      """"txn":{"a":"2026-01-01T00:01:00Z","b":"7"}}"""
    val m = VersionedTable.parse(line)
    assert(m.txn == Map("a" -> "2026-01-01T00:01:00Z", "b" -> "7"))
    assert(VersionedTable.render(m) == line)
    assert(VersionedTable.render(m.copy(txn = Map("b" -> "7", "a" -> "2026-01-01T00:01:00Z"))) ==
      line)
  }

  test("appendWithTxn: the rows follow the mark the append is based on; a lost race asks again") {
    val path = tempDir("vt_append_txn").resolve("q").toString
    val rows = Seq(1L, 2L, 3L, 4L).toDF("ts")
    def above(txn: Map[String, String]) =
      rows.filter($"ts" > txn.get("mark").fold(0L)(_.toLong))
    // no version yet: an empty map
    assert(VersionedTable.appendWithTxn(path, "q", Map("mark" -> "2")) { txn =>
      assert(txn.isEmpty)
      above(txn).filter($"ts" <= 2L)
    } == 0L)
    assert(VersionedTable.txn(path, "mark").contains("2"))
    // a run that reads all the source rows again appends only those above the mark
    assert(VersionedTable.appendWithTxn(path, "q", Map("mark" -> "4"))(above) == 1L)
    assert(VersionedTable.read(spark, path).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))

    // a concurrent writer moves the mark while this append stages its files:
    // the append asks again against the winner's map, and its first files go
    val other = tempDir("vt_append_txn").resolve("q").toString
    VersionedTable.appendWithTxn(other, "q", Map("mark" -> "1"))(_ => rows.filter($"ts" <= 1L))
    val seen = scala.collection.mutable.Buffer[Option[String]]()
    val v = VersionedTable.appendWithTxn(other, "q", Map("mark" -> "4")) { txn =>
      seen += txn.get("mark")
      if (seen.size == 1)
        VersionedTable.appendWithTxn(other, "q", Map("mark" -> "3"))(_ => rows.filter($"ts" > 1L && $"ts" <= 3L))
      above(txn)
    }
    assert(seen.toSeq == Seq(Some("1"), Some("3")) && v == 2L)
    assert(VersionedTable.read(spark, other).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    assert(Files.list(java.nio.file.Paths.get(other, "data")).count() == 3L)
    assert(VersionedTable.txn(other, "mark").contains("4"))
  }
}
