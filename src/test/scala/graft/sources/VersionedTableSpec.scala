package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.SparkSpec

class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  test("commit / append / merge versions with time travel and history") {
    val path = Files.createTempDirectory("vt").resolve("orders").toString
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
    val path = Files.createTempDirectory("vt_vac").resolve("t").toString
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
    val path = Files.createTempDirectory("vt3").resolve("t").toString
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

  test("writeOnce: same tag commits exactly once, even from concurrent writers") {
    val path = Files.createTempDirectory("vt4").resolve("t").toString
    VersionedTable.write(Seq((0L, 0L)).toDF("w", "i"), path, SaveMode.Overwrite)
    // serial re-delivery: second call is a no-op
    assert(VersionedTable.writeOnce(Seq((1L, 1L)).toDF("w", "i"), path,
      SaveMode.Append, "batch-7").contains(1L))
    assert(VersionedTable.writeOnce(Seq((9L, 9L)).toDF("w", "i"), path,
      SaveMode.Append, "batch-7").isEmpty)
    // concurrent replays of one batch: exactly one commit between them
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Option[Long]]()
    val threads = (1 to 4).map { w =>
      new Thread(() => {
        results.add(VersionedTable.writeOnce(
          Seq((w.toLong, 8L)).toDF("w", "i"), path, SaveMode.Append, "batch-8"))
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(results.asScala.count(_.isDefined) == 1,
      s"exactly one replica may commit: ${results.asScala.toSeq}")
    assert(VersionedTable.read(spark, path).filter($"i" === 8L).count() == 1)
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
      val path = Files.createTempDirectory("vt5").resolve("t").toString
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
    val path = Files.createTempDirectory("vt6").resolve("t").toString
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

  test("log checkpoints: committedOps reads checkpoint + tail, survives manifest loss") {
    val path = Files.createTempDirectory("vt7").resolve("t").toString
    val n = 23 // crosses two checkpoint boundaries (v10, v20)
    (0 until n).foreach { i =>
      VersionedTable.writeOnce(Seq((i.toLong, i.toLong)).toDF("k", "v"), path,
        SaveMode.Append, s"batch-$i")
    }
    val logDir = java.nio.file.Paths.get(path, "_graft_log")
    assert(Files.exists(logDir.resolve("chk-v00000010.json")) &&
      Files.exists(logDir.resolve("chk-v00000020.json")),
      "every 10th commit must write a log checkpoint")
    val expected = (0 until n).map(i => s"batch-$i").toSet
    assert(VersionedTable.committedOps(spark, path) == expected)
    // delete the manifests a checkpoint covers (what vacuum does at a
    // deeper retention): the op history must come from the checkpoint,
    // proving committedOps does NOT replay every manifest
    (0L to 9L).foreach { v =>
      Files.delete(logDir.resolve(f"v$v%08d.json"))
    }
    assert(VersionedTable.committedOps(spark, path) == expected,
      "ops of checkpointed versions must survive manifest removal")
    // exactly-once dedup still holds for a tag that now lives only in
    // the checkpoint
    assert(VersionedTable.writeOnce(Seq((99L, 99L)).toDF("k", "v"), path,
      SaveMode.Append, "batch-3").isEmpty)
    // vacuum keeps the newest checkpoint only
    VersionedTable.vacuum(path, retainLast = 2, minAgeMs = 0)
    assert(!Files.exists(logDir.resolve("chk-v00000010.json")) &&
      Files.exists(logDir.resolve("chk-v00000020.json")),
      "vacuum must drop superseded checkpoints and retain the newest")
    assert(VersionedTable.committedOps(spark, path).contains("batch-3"),
      "checkpointed op history must survive vacuum")
  }

  test("compact: bin-packs small files, content identical, old files vacuumable") {
    val path = Files.createTempDirectory("vt8").resolve("t").toString
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
    val path = Files.createTempDirectory("vt9").resolve("t").toString
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
    val path = Files.createTempDirectory("vt_dv1").resolve("t").toString
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
    val path = Files.createTempDirectory("vt_dv2").resolve("t").toString
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
    val path = Files.createTempDirectory("vt_dv3").resolve("t").toString
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
    val path = Files.createTempDirectory("vt_cdf").resolve("t").toString
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
    val path = Files.createTempDirectory("vt_dv4").resolve("t").toString
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
    val path = Files.createTempDirectory("vt2").resolve("t").toString
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
    val path = Files.createTempDirectory("vtz").resolve("t").toString
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
    val path = Files.createTempDirectory("vt").resolve("t").toString
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
    val path = Files.createTempDirectory("vt_esc").resolve("t").toString
    val op = "a\tb\n\"c\\d"
    val n = 12 // crosses the v10 checkpoint
    (0 until n).foreach { i =>
      VersionedTable.write(Seq((i.toLong, s"r$i")).toDF("k", "v"), path,
        SaveMode.Append, op)
    }
    val logDir = java.nio.file.Paths.get(path, "_graft_log")
    val chk = logDir.resolve("chk-v00000010.json")
    assert(Files.exists(chk))
    // escaped on disk: every log file stays one valid JSON line
    assert(!Files.readString(chk).exists(_ < ' '))
    assert(VersionedTable.versions(path).forall(v => VersionedTable.opOf(path, v) == op))
    assert(VersionedTable.files(path, n - 1L).distinct.size >= n)
    assert(VersionedTable.read(spark, path).count() == n)
    assert(VersionedTable.history(spark, path).as[(Long, String, Int)].collect()
      .map(h => (h._1, h._2)).toSeq == (0 until n).map(v => (v.toLong, op)))
    assert(VersionedTable.committedOps(spark, path) == Set(op))
    // ops of the versions the checkpoint covers come from the checkpoint
    (0L to 9L).foreach(v => Files.delete(logDir.resolve(f"v$v%08d.json")))
    assert(VersionedTable.committedOps(spark, path) == Set(op))
    assert(VersionedTable.writeOnce(Seq((99L, "x")).toDF("k", "v"), path,
      SaveMode.Append, op).isEmpty)
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
    val checkpoint = """{"version":10,"ops":[[0,"batch-0"],[1,"say \"hi\""]]}"""
    assert(VersionedTable.parse(checkpoint).ops.contains(Seq((0L, "batch-0"), (1L, "say \"hi\""))))
    assert(VersionedTable.render(VersionedTable.parse(checkpoint)) == checkpoint)
    // a manifest committed by an older writer is served unchanged
    val path = Files.createTempDirectory("vt_codec").resolve("t").toString
    VersionedTable.write(Seq((1L, "a")).toDF("k", "v"), path, SaveMode.Overwrite)
    val logDir = java.nio.file.Paths.get(path, "_graft_log")
    Files.writeString(logDir.resolve("v00000001.json"), withDv.replace("\"version\":3", "\"version\":1"))
    assert(VersionedTable.files(path, 1L) == m.files)
    assert(VersionedTable.dvFiles(path, 1L) == m.dv)
    assert(VersionedTable.opOf(path, 1L) == m.op)
  }

  test("metadata-only calls start no Spark job") {
    val path = Files.createTempDirectory("vt_meta").resolve("t").toString
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path, SaveMode.Overwrite)
    VersionedTable.write(Seq((3L, "c")).toDF("k", "v"), path, SaveMode.Append)
    VersionedTable.deleteWhere(spark, path, $"k" === 1L)
    // count only the jobs this thread starts: other suites may share the session
    val probe = s"vt-meta-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("vt.meta.probe")) match {
          case Some(`probe`) => jobs.incrementAndGet(); ()
          case Some(p) if p == probe + "-end" => sentinel.countDown()
          case _ => ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("vt.meta.probe", probe)
      val latest = VersionedTable.latestVersion(path).get
      VersionedTable.files(path, latest)
      VersionedTable.dvFiles(path, latest)
      VersionedTable.opOf(path, latest)
      VersionedTable.committedOps(spark, path)
      val rv = VersionedTable.restore(path, 0L)
      assert(VersionedTable.files(path, rv) == VersionedTable.files(path, 0L))
      // the listener bus is ordered: once this job is seen, every earlier one was
      sc.setLocalProperty("vt.meta.probe", probe + "-end")
      spark.range(1).count()
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty("vt.meta.probe", null)
      sc.removeSparkListener(listener)
    }
    assert(jobs.get == 0, s"${jobs.get} Spark jobs from metadata-only calls")
  }
}
