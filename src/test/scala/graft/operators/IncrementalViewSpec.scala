package graft.operators

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.VersionedTable

class IncrementalViewSpec extends SparkSpec {
  import spark.implicits._

  private def snap(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Double)] =
    df.select($"k", $"n_rows", $"total".cast("double"))
      .as[(String, Long, Double)].collect().toSet

  test("change-feed maintenance ≡ recompute across append, delete, and DV merge") {
    val path = tempDir("ivw").resolve("t").toString
    val keys = Seq("k")
    VersionedTable.write(
      Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0))
        .toDF("k", "id", "amt"), path, SaveMode.Overwrite) // v0
    // seed the view from the base table once
    var view = IncrementalView.full(
      VersionedTable.readVersion(spark, path, 0L), keys, "amt")
    var lastSeen = 0L

    // a mixed commit history only a row-level feed can absorb:
    VersionedTable.write(
      Seq(("c", 4L, 40.0), ("b", 5L, 5.0)).toDF("k", "id", "amt"),
      path, SaveMode.Append)                                   // v1 inserts
    VersionedTable.deleteWhere(spark, path, $"id" === 2L)      // v2 delete (drops half of "a")
    VersionedTable.mergeCommitDV(spark, path,
      Seq(("b", 3L, 300.0), ("d", 6L, 60.0)).toDF("k", "id", "amt"),
      Seq("id"))                                               // v3 update+insert
    VersionedTable.deleteWhere(spark, path, $"k" === "c")      // v4 deletes key "c" entirely

    val latest = VersionedTable.latestVersion(path).get
    val feed = VersionedTable.changes(spark, path, lastSeen, latest)
    view = IncrementalView.merge(view, IncrementalView.delta(feed, keys, "amt"), keys)
    lastSeen = latest

    val recomputed = IncrementalView.full(
      VersionedTable.read(spark, path), keys, "amt")
    assert(snap(view) == snap(recomputed), s"${snap(view)} vs ${snap(recomputed)}")
    // the fully-deleted key is GONE from the view, not present with 0
    assert(!snap(view).exists(_._1 == "c"))

    // a second incremental cycle from the new high-water mark
    VersionedTable.write(Seq(("a", 7L, 1.5)).toDF("k", "id", "amt"),
      path, SaveMode.Append)                                   // v5
    val v5 = VersionedTable.latestVersion(path).get
    view = IncrementalView.merge(view,
      IncrementalView.delta(
        VersionedTable.changes(spark, path, lastSeen, v5), keys, "amt"), keys)
    assert(snap(view) == snap(IncrementalView.full(
      VersionedTable.read(spark, path), keys, "amt")))
  }
}
