package graft.sources

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Equality skipping: the log's min/max stats first, then the Bloom
  * sidecar for the files they keep — min/max cannot prune a point lookup
  * on a column the table is not clustered by (every file's range spans
  * the probe); the Bloom sidecar must. Soundness bar: identical rows to
  * read+filter under lazy builds, deletion vectors, schema evolution, and
  * sidecar vacuum.
  */
class BloomSkipSpec extends SparkSpec {
  import spark.implicits._

  /** Four appends keyed by disjoint user sets (disjoint `user` ranges,
    * so min/max alone prunes a user probe) but OVERLAPPING k ranges.
    */
  private def userTable(): String = {
    val path = tempDir("vt_bloom").resolve("t").toString
    (0 until 4).foreach { c =>
      val df = (0L until 50L)
        .map(i => (i * 7 % 100, s"u${c}_${i % 25}", c.toLong))
        .toDF("k", "user", "commit")
      VersionedTable.write(df.coalesce(1), path,
        if (c == 0) SaveMode.Overwrite else SaveMode.Append)
    }
    path
  }

  test("readWhereEquals equals read+filter and skips other commits' files") {
    val path = userTable()
    val (df, read, total) =
      VersionedTable.readWhereEquals(spark, path, "user", "u2_11")
    val expect = VersionedTable.read(spark, path)
      .filter($"user" === "u2_11")
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(df.as[(Long, String, Long)].collect().sorted.toSeq == expect)
    assert(expect.nonEmpty && expect.forall(_._3 == 2L))
    assert(total == 4, s"expected 4 files, got $total")
    assert(read < total, s"bloom must skip some of $total files, read $read")
    // second probe prunes from the sidecar alone and agrees
    val (df2, read2, _) =
      VersionedTable.readWhereEquals(spark, path, "user", "u2_11")
    assert(read2 == read)
    assert(df2.as[(Long, String, Long)].collect().sorted.toSeq == expect)
  }

  test("absent probe returns empty regardless of false positives") {
    val path = userTable()
    val (df, read, total) =
      VersionedTable.readWhereEquals(spark, path, "user", "nobody")
    assert(total == 4 && read <= total)
    assert(df.count() == 0)
    assert(df.columns.toSeq == Seq("k", "user", "commit"))
  }

  test("equality skipping is DV-sound and indexes appends lazily") {
    val path = userTable()
    VersionedTable.readWhereEquals(spark, path, "user", "u0_0") // build
    VersionedTable.deleteWhere(spark, path, $"user" === "u1_5" && $"k" < 50)
    val (df, _, _) = VersionedTable.readWhereEquals(spark, path, "user", "u1_5")
    val expect = VersionedTable.read(spark, path)
      .filter($"user" === "u1_5")
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(df.as[(Long, String, Long)].collect().sorted.toSeq == expect)
    // fresh append: unindexed file read conservatively, then indexed
    VersionedTable.write(Seq((999L, "newbie", 9L)).toDF("k", "user", "commit")
      .coalesce(1), path, SaveMode.Append)
    val (df2, read2, total2) =
      VersionedTable.readWhereEquals(spark, path, "user", "newbie")
    assert(total2 == 5)
    assert(df2.as[(Long, String, Long)].collect().toSeq == Seq((999L, "newbie", 9L)))
    val (_, read3, _) =
      VersionedTable.readWhereEquals(spark, path, "user", "newbie")
    assert(read3 <= read2)
  }

  test("files predating a schema-evolved column are skipped, not crashed") {
    val path = tempDir("vt_bloom_ev").resolve("t").toString
    VersionedTable.write((0L until 20L).map(i => Tuple1(i)).toDF("k")
      .coalesce(1), path, SaveMode.Overwrite)
    VersionedTable.write((0L until 20L).map(i => (i, s"tag$i"))
      .toDF("k", "tag").coalesce(1), path, SaveMode.Append)
    val (df, read, total) =
      VersionedTable.readWhereEquals(spark, path, "tag", "tag7")
    assert(total == 2 && read == 1, s"old-schema file must skip; read $read")
    assert(df.select("k").as[Long].collect().toSeq == Seq(7L))
  }

  test("vacuumStats drops bloom rows for unreferenced files") {
    val path = userTable()
    // every file's k range spans 7, so min/max keeps all 4: build 4 rows
    VersionedTable.readWhereEquals(spark, path, "k", 7L)
    // overwrite obsoletes the old files, vacuum drops their manifests
    VersionedTable.write(Seq((1L, "only", 0L)).toDF("k", "user", "commit")
      .coalesce(1), path, SaveMode.Overwrite)
    VersionedTable.vacuum(path, retainLast = 1, minAgeMs = 0L)
    val dropped = VersionedTable.vacuumStats(spark, path)
    assert(dropped >= 4, s"expected >=4 dead bloom rows dropped, got $dropped")
    val (df, _, _) = VersionedTable.readWhereEquals(spark, path, "user", "only")
    assert(df.count() == 1)
  }

  test("the Bloom stage prunes the files whose min/max spans the probe") {
    val path = tempDir("vt_bloom_mm").resolve("t").toString
    // every file spans users a..z; each holds its own m<c> in between
    (0 until 4).foreach { c =>
      VersionedTable.write(Seq((c * 3L, "a"), (c * 3L + 1, s"m$c"), (c * 3L + 2, "z"))
        .toDF("k", "user").coalesce(1), path, if (c == 0) SaveMode.Overwrite else SaveMode.Append)
    }
    val (df, read, total) = VersionedTable.readWhereEquals(spark, path, "user", "m2")
    assert(total == 4 && read < total, s"bloom must skip some of $total files, read $read")
    assert(df.select("k").as[Long].collect().toSeq == Seq(7L))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_graft_bloom", "user")))
  }
}
