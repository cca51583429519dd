package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col
import graft.SparkSpec

/** One op sequence on both codecs of the table core: every version, the
  * skipping read, the change feed and vacuum must agree row for row.
  */
class TableParitySpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).toSeq.sorted

  test("VersionedTable and DeltaInterop agree on every version of one op sequence") {
    val vt = tempDir("parity_vt").resolve("t").toString
    val dl = tempDir("parity_delta").resolve("t").toString
    val base = (1L to 30L).map(i => (i, s"r$i")).toDF("k", "v").repartition(3)
    val widened = (31L to 40L).map(i => (i, s"r$i", i * 0.5)).toDF("k", "v", "score")
      .coalesce(1)

    // v0 overwrite, v1 widening append, v2 delete, v3 compact, v4 restore(1)
    assert(VersionedTable.write(base, vt, SaveMode.Overwrite) == 0L)
    assert(DeltaInterop.write(base, dl, SaveMode.Overwrite) == 0L)
    assert(VersionedTable.write(widened, vt, SaveMode.Append) == 1L)
    assert(DeltaInterop.write(widened, dl, SaveMode.Append) == 1L)
    assert(VersionedTable.deleteWhere(spark, vt, $"k" % 4 === 0L) == 2L)
    assert(DeltaInterop.deleteWhere(spark, dl, $"k" % 4 === 0L).contains(2L))
    assert(VersionedTable.compact(spark, vt, 1L << 30).contains(3L))
    assert(DeltaInterop.compact(spark, dl).contains(3L))
    assert(VersionedTable.restore(vt, 1L) == 4L)
    assert(DeltaInterop.restore(spark, dl, 1L) == 4L)

    (0L to 4L).foreach { v =>
      assert(rows(VersionedTable.readVersion(spark, vt, v)) ==
        rows(DeltaInterop.read(spark, dl, Some(v))), s"version $v")
    }
    assert(rows(VersionedTable.readVersion(spark, vt, 2L)).size == 30)

    // min/max pruning reads the same rows on a DV-masked version
    VersionedTable.restore(vt, 2L)
    DeltaInterop.restore(spark, dl, 2L)
    val (vtRange, _, _) = VersionedTable.readWhere(spark, vt, "k", 10L, 35L)
    assert(rows(vtRange) == rows(DeltaInterop.readWhere(spark, dl, "k", 10L, 35L)))
    assert(rows(vtRange).size == 20)

    // change feed of the append version: the same inserted rows
    val vtAppend = VersionedTable.changes(spark, vt, 0L, 1L)
    assert(rows(vtAppend) == rows(DeltaInterop.readChanges(spark, dl, 1L, 1L)))
    assert(rows(vtAppend).size == 10)
    // the delete version: both feeds delete the same rows, the rows the
    // version removed from Delta's snapshot
    val vtDelete = VersionedTable.changes(spark, vt, 1L, 2L)
    assert(rows(vtDelete) == rows(DeltaInterop.readChanges(spark, dl, 2L, 2L)))
    assert(rows(vtDelete.drop("_change_type", "_commit_version")) ==
      rows(DeltaInterop.read(spark, dl, Some(1L)).except(DeltaInterop.read(spark, dl, Some(2L)))))
    assert(rows(vtDelete).size == 10)
    assert(vtDelete.filter(col("_change_type") =!= "delete").isEmpty)

    // vacuum with a zero age keeps the latest version readable on both
    val latest = rows(VersionedTable.read(spark, vt))
    assert(VersionedTable.vacuum(vt, retainLast = 1, minAgeMs = 0L) > 0)
    assert(DeltaInterop.vacuum(spark, dl, retainMs = 0L) > 0)
    assert(rows(VersionedTable.read(spark, vt)) == latest)
    assert(rows(DeltaInterop.read(spark, dl)) == latest)
  }

  test("a batch replayed by 4 concurrent writers commits once on both codecs") {
    val vt = tempDir("parity_txn_vt").resolve("t").toString
    val dl = tempDir("parity_txn_delta").resolve("t").toString
    val seed = Seq((0L, "seed")).toDF("k", "v")
    val batch = Seq((5L, "batch 5")).toDF("k", "v")
    VersionedTable.write(seed, vt, SaveMode.Overwrite)
    DeltaInterop.write(seed, dl, SaveMode.Overwrite)
    val codecs: Seq[(() => Long, () => Long, () => DataFrame)] = Seq(
      (() => VersionedTable.write(batch, vt, SaveMode.Append, txn = Some(("app", 5L))),
        () => VersionedTable.latestVersion(vt).get, () => VersionedTable.read(spark, vt)),
      (() => DeltaInterop.write(batch, dl, SaveMode.Append, txn = Some(("app", 5L))),
        () => DeltaInterop.snapshot(spark, dl).version, () => DeltaInterop.read(spark, dl)))
    codecs.foreach { case (replay, version, read) =>
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (1 to 4).map(_ => new Thread(() =>
        try { replay(); () } catch { case t: Throwable => errors.add(t); () }))
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errors.isEmpty, s"replay failed: ${Option(errors.peek())}")
      assert(version() == 1L, "exactly one replay may commit")
      assert(rows(read()) == rows(seed.union(batch)))
      assert(replay() == 1L)
    }
  }
}
