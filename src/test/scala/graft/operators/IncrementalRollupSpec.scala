package graft.operators

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.VersionedTable

/** CDF-driven incremental view maintenance: the maintained aggregate
  * must equal a fresh recompute after appends, DV-deletes, and a
  * DV-merge — without ever re-reading the base table.
  */
class IncrementalRollupSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("grp")

  private def agg(df: org.apache.spark.sql.DataFrame) =
    IncrementalRollup.fullAggregate(df, keys, "v")

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
    df.select(col("grp"), col("sum_v").cast("long"), col("n_rows"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq

  test("maintained aggregate tracks append, delete, and merge commits exactly") {
    val path = tempDir("ivm").resolve("t").toString
    val seed = Seq(("a", 10L), ("a", 20L), ("b", 5L), ("c", 7L)).toDF("grp", "v")
    val v0 = VersionedTable.write(seed.coalesce(1), path, SaveMode.Overwrite)
    var maintained = agg(VersionedTable.readVersion(spark, path, v0))

    // append: new group d, growth in a
    VersionedTable.write(Seq(("a", 1L), ("d", 100L)).toDF("grp", "v").coalesce(1),
      path, SaveMode.Append)
    // DV-delete: c empties out entirely
    VersionedTable.deleteWhere(spark, path, $"grp" === "c")
    // DV-merge keyed on (grp, v): upserts ("a",10)->("a",10) rewrite via
    // DV + insert, and a brand-new ("e",40) row
    VersionedTable.mergeCommitDV(spark, path,
      Seq(("a", 10L), ("e", 40L)).toDF("grp", "v"), Seq("grp", "v"))

    val latest = VersionedTable.latestVersion(path).get
    val cdf = VersionedTable.changes(spark, path, v0, latest)
    maintained = IncrementalRollup.applyChanges(maintained, cdf, keys, "v")
    val fresh = agg(VersionedTable.read(spark, path))
    assert(canon(maintained) == canon(fresh),
      "incremental maintenance must equal the full recompute")
    assert(!canon(maintained).exists(_._1 == "c"), "emptied group must drop")
    assert(canon(maintained).exists(_._1 == "d"), "new group must appear")
  }

  test("applying an empty change batch is the identity") {
    val cur = Seq(("a", 30L, 2L), ("b", 5L, 1L)).toDF("grp", "sum_v", "n_rows")
    val empty = Seq.empty[(String, Long, String, Long)]
      .toDF("grp", "v", "_change_type", "_commit_version")
    val out = IncrementalRollup.applyChanges(cur, empty, keys, "v")
    assert(canon(out) == canon(cur))
  }

  test("a NULL group key merges into one row, exactly like a recompute") {
    // a plain USING join never matches null keys: the null group would
    // split into a stale current row plus a delta row instead of
    // merging — applyChanges must use null-safe key equality
    val cur = Seq((Option("a"), 30L, 2L), (Option.empty[String], 10L, 1L))
      .toDF("grp", "sum_v", "n_rows")
    val changes = Seq((Option.empty[String], 5L, "insert", 2L))
      .toDF("grp", "v", "_change_type", "_commit_version")
    val out = IncrementalRollup.applyChanges(cur, changes, keys, "v")
      .select(col("grp"), col("sum_v").cast("long"), col("n_rows"))
      .as[(Option[String], Long, Long)].collect().toSet
    assert(out == Set((Option("a"), 30L, 2L), (Option.empty[String], 15L, 2L)))
  }

  test("an unknown _change_type fails loudly instead of guessing a sign") {
    val cur = Seq(("a", 30L, 2L)).toDF("grp", "sum_v", "n_rows")
    val bad = Seq(("a", 5L, "upsert", 2L))
      .toDF("grp", "v", "_change_type", "_commit_version")
    val e = intercept[Exception] {
      IncrementalRollup.applyChanges(cur, bad, keys, "v").collect()
    }
    assert(e.getMessage != null)
  }
}
