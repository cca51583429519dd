package graft.sources

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** OPTIMIZE-style compaction over the Delta wire format: small files
  * merge per partition group, DV masks materialize and drop, the commit
  * is layout-only (dataChange:false — invisible to CDF), and data
  * skipping keeps working off the rewritten files' fresh stats.
  */
class DeltaCompactSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String =
    tempDir("delta_c").resolve("t").toString

  test("compact merges a partition's small files; data + time travel intact") {
    val path = tmpTable()
    DeltaInterop.write(spark.range(10).select($"id".as("k"),
      ($"id" % 2).cast("int").as("p")), path, SaveMode.Overwrite,
      partitionBy = Seq("p"))
    DeltaInterop.write(spark.range(10, 20).select($"id".as("k"),
      ($"id" % 2).cast("int").as("p")), path, SaveMode.Append)
    val before = DeltaInterop.snapshot(spark, path)
    assert(before.files.groupBy(_.partitionValues).exists(_._2.size > 1))
    val v = DeltaInterop.compact(spark, path)
    assert(v.contains(before.version + 1))
    val after = DeltaInterop.snapshot(spark, path)
    assert(after.files.groupBy(_.partitionValues).forall(_._2.size == 1))
    assert(after.files.forall(_.stats.isDefined),
      "rewritten files must carry fresh stats")
    assert(DeltaInterop.read(spark, path).select("k").as[Long]
      .collect().sorted.toSeq == (0L until 20L))
    // pre-compaction version still readable (old files not yet vacuumed)
    assert(DeltaInterop.read(spark, path, asOf = Some(before.version))
      .count() == 20)
    // a second compact is a no-op
    assert(DeltaInterop.compact(spark, path).isEmpty)
  }

  test("compact materializes deletion vectors and drops them") {
    val path = tmpTable()
    DeltaInterop.write(spark.range(100).select($"id".as("k"))
      .repartitionByRange(4, $"k"), path, SaveMode.Overwrite)
    DeltaInterop.deleteWhere(spark, path, $"k" % 3 === 0)
    assert(DeltaInterop.snapshot(spark, path).files.exists(_.dv.isDefined))
    DeltaInterop.compact(spark, path)
    val after = DeltaInterop.snapshot(spark, path)
    assert(after.files.forall(_.dv.isEmpty), "DVs must be applied and dropped")
    assert(DeltaInterop.read(spark, path).select("k").as[Long]
      .collect().sorted.toSeq == (0L until 100L).filter(_ % 3 != 0))
  }

  test("a compaction commit is invisible to CDF readers") {
    val path = tmpTable()
    DeltaInterop.write(Seq(1L, 2L).toDF("k").coalesce(1), path, SaveMode.Overwrite)
    DeltaInterop.write(Seq(3L).toDF("k").coalesce(1), path, SaveMode.Append)
    val v = DeltaInterop.compact(spark, path).get
    val changes = DeltaInterop.readChanges(spark, path, v, v)
    assert(changes.count() == 0,
      "dataChange:false remove/add pairs must not surface as CDF rows")
  }

  test("skipping stays correct after compaction of range-clustered appends") {
    val path = tmpTable()
    // three appends of disjoint ranges -> three files, tight boxes
    Seq(0L -> 10L, 10L -> 20L, 20L -> 30L).foreach { case (a, b) =>
      DeltaInterop.write(spark.range(a, b).select($"id".as("k")).coalesce(1),
        path, if (a == 0) SaveMode.Overwrite else SaveMode.Append)
    }
    DeltaInterop.compact(spark, path)
    // one file now; the range read is still exact
    val (kept, total) = DeltaInterop.statsCandidateFiles(spark, path, "k", 5L, 6L)
    assert(total == 1 && kept.size == 1)
    assert(DeltaInterop.readWhere(spark, path, "k", 5L, 6L)
      .select("k").as[Long].collect().sorted.toSeq == Seq(5L, 6L))
  }
}
