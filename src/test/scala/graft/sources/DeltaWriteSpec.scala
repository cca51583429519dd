package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import graft.SparkSpec

/** The write half of the Delta interop: commits emitted by
  * [[DeltaInterop.write]] must satisfy the public protocol — verified by
  * replaying them through the independent read path (and by eye-level
  * assertions on the log contents themselves).
  */
class DeltaWriteSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String =
    tempDir("delta_w").resolve("t").toString

  test("create + read round trip, partitioned, with protocol/meta in v0") {
    val path = tmpTable()
    val v = DeltaInterop.write(
      Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "x")).toDF("k", "v", "ds"),
      path, SaveMode.Overwrite, partitionBy = Seq("ds"))
    assert(v == 0L)
    val log = Files.readString(
      Paths.get(path, "_delta_log", f"${0L}%020d.json"))
    assert(log.contains("\"protocol\"") && log.contains("\"metaData\"")
      && log.contains("\"partitionValues\""))
    val back = DeltaInterop.read(spark, path)
    assert(back.columns.toSeq == Seq("k", "v", "ds"))
    assert(back.as[(Long, String, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "x")))
  }

  test("hive-escaped partition dir values decode to the REAL value in the log") {
    // Spark's writer escapes "a:b" to "a%3Ab" in the directory name;
    // the protocol stores the real value in partitionValues — recording
    // the escaped segment surfaced "a%3Ab" as column data on read
    val path = tmpTable()
    DeltaInterop.write(
      Seq((1L, "a:b"), (2L, "2020/01"), (3L, "plain")).toDF("k", "ds"),
      path, SaveMode.Overwrite, partitionBy = Seq("ds"))
    val back = DeltaInterop.read(spark, path)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(back == Seq((1L, "a:b"), (2L, "2020/01"), (3L, "plain")))
  }

  test("convert commits a plain partitioned directory in place as version 0, once") {
    val path = tmpTable()
    val rows = Seq((1L, "a:b"), (2L, "x"), (3L, "x"))
    rows.toDF("k", "ds").write.partitionBy("ds").parquet(path)
    def dataFiles(): Set[String] = walkFiles(path).filter(_.endsWith(".parquet"))
    val before = dataFiles()
    assert(DeltaInterop.convert(spark, path, Seq("ds")))
    assert(!DeltaInterop.convert(spark, path, Seq("ds")))
    // no data file moved or written; the log names each file once
    assert(dataFiles() == before)
    val snap = DeltaInterop.snapshot(spark, path)
    assert(snap.version == 0L && snap.partitionColumns == Seq("ds"))
    assert(snap.files.size == before.size && snap.files.forall(_.stats.nonEmpty))
    assert(DeltaInterop.latestVersion(path).contains(0L))
    // the partition column last, as the plain read orders it
    val back = DeltaInterop.read(spark, path)
    assert(back.columns.toSeq == Seq("k", "ds"))
    assert(back.as[(Long, String)].collect().sortBy(_._1).toSeq == rows)
    assert(DeltaInterop.readWhere(spark, path, "ds", "x", "x").count() == 2L)
  }

  private def walkFiles(path: String): Set[String] =
    scala.util.Using.resource(Files.walk(Paths.get(path)))(
      _.iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet)

  test("NaN/Infinity doubles never corrupt add.stats (entries omitted)") {
    val path = tmpTable()
    DeltaInterop.write(
      Seq((1L, Double.NaN), (2L, 1.5), (3L, Double.PositiveInfinity))
        .toDF("k", "d"),
      path, SaveMode.Overwrite)
    // stats JSON must stay parseable: a stats-pruned read exercises
    // om.readTree on every add.stats
    val (pruned, _) = DeltaInterop.statsCandidateFiles(spark, path, "k", 1L, 2L)
    assert(pruned.nonEmpty)
    // and the min/max entries for the non-finite column are simply gone
    val log = Files.readString(
      Paths.get(path, "_delta_log", f"${0L}%020d.json"))
    assert(!log.contains("NaN") && !log.contains("Infinity"),
      "bare non-finite tokens are not legal JSON")
  }

  test("stats pruning on a BOOLEAN column compares lexically, not BigDecimal") {
    val path = tmpTable()
    DeltaInterop.write(
      Seq((1L, false), (2L, false), (3L, true)).toDF("k", "flag"),
      path, SaveMode.Overwrite)
    // must not throw NumberFormatException("true")
    val (cand, _) = DeltaInterop.statsCandidateFiles(spark, path, "flag", false, true)
    assert(cand.nonEmpty)
  }

  test("a GAP in the commit chain is refused, not silently replayed around") {
    val path = tmpTable()
    DeltaInterop.write(Seq((1L, "a")).toDF("k", "v"), path, SaveMode.Overwrite)
    DeltaInterop.write(Seq((2L, "b")).toDF("k", "v"), path, SaveMode.Append)
    DeltaInterop.write(Seq((3L, "c")).toDF("k", "v"), path, SaveMode.Append)
    // lose the MIDDLE commit: replaying [0,2] would skip v1's actions
    // and silently misstate the table
    Files.delete(Paths.get(path, "_delta_log", f"${1L}%020d.json"))
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.read(spark, path).collect()
    }
    assert(e.getMessage.contains("gap"))
  }

  test("appends advance versions; overwrite replaces; time travel intact") {
    val path = tmpTable()
    DeltaInterop.write(Seq((1L, "a")).toDF("k", "v"), path, SaveMode.Overwrite)
    assert(DeltaInterop.write(Seq((2L, "b")).toDF("k", "v"), path,
      SaveMode.Append) == 1L)
    assert(DeltaInterop.read(spark, path).count() == 2)
    assert(DeltaInterop.write(Seq((9L, "z")).toDF("k", "v"), path,
      SaveMode.Overwrite) == 2L)
    assert(DeltaInterop.read(spark, path).as[(Long, String)].collect().toSeq ==
      Seq((9L, "z")))
    // pre-overwrite versions still readable
    assert(DeltaInterop.read(spark, path, asOf = Some(1L)).count() == 2)
  }

  test("schema-widening append emits updated metaData; merged read") {
    val path = tmpTable()
    DeltaInterop.write(Seq((1L, "a")).toDF("k", "v"), path, SaveMode.Overwrite)
    DeltaInterop.write(Seq((2L, "b", 5.0)).toDF("k", "v", "score"), path,
      SaveMode.Append)
    val back = DeltaInterop.read(spark, path)
    assert(back.columns.toSeq == Seq("k", "v", "score"))
    assert(back.filter($"score".isNull).count() == 1)
    assert(back.filter($"k" === 2 && $"score" === 5.0).count() == 1)
  }

  test("an append that retypes a column fails before it commits; the table stays readable") {
    val path = tmpTable()
    DeltaInterop.write(Seq((1L, "a")).toDF("k", "v"), path, SaveMode.Overwrite)
    val e = intercept[Exception] {
      DeltaInterop.write(Seq(("x", "b")).toDF("k", "v"), path, SaveMode.Append)
    }
    assert(e.getMessage.contains("CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE"), e.getMessage)
    assert(DeltaInterop.snapshot(spark, path).version == 0L)
    assert(DeltaInterop.read(spark, path).as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("checkpoint lets pre-checkpoint commits be cleaned; reads survive") {
    val path = tmpTable()
    DeltaInterop.write(Seq((1L, "a", "x")).toDF("k", "v", "ds"), path,
      SaveMode.Overwrite, partitionBy = Seq("ds"))
    DeltaInterop.write(Seq((2L, "b", "y")).toDF("k", "v", "ds"), path,
      SaveMode.Append, partitionBy = Seq("ds"))
    assert(DeltaInterop.checkpoint(spark, path) == 1L)
    val logDir = Paths.get(path, "_delta_log")
    Seq(0L, 1L).foreach(v => Files.delete(logDir.resolve(f"$v%020d.json")))
    DeltaInterop.write(Seq((3L, "c", "x")).toDF("k", "v", "ds"), path,
      SaveMode.Append, partitionBy = Seq("ds"))
    val rows = DeltaInterop.read(spark, path)
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "x")))
  }

  test("checkpoint parquet stores partitionValues/configuration as MAP, not struct") {
    // the protocol's checkpoint schema: spark.read.json infers these
    // string-maps as STRUCTs, and writing that shape breaks any
    // external reader bootstrapping from _last_checkpoint with the
    // protocol's map<string,string> schema (our own reader folds both,
    // which is why round-trip specs alone never caught it)
    val path = tmpTable()
    DeltaInterop.write(Seq((1L, "a", "x"), (2L, "b", "y")).toDF("k", "v", "ds"),
      path, SaveMode.Overwrite, partitionBy = Seq("ds"))
    DeltaInterop.checkpoint(spark, path)
    val cp = spark.read.parquet(
      Paths.get(path, "_delta_log", f"${0L}%020d.checkpoint.parquet").toString)
    val addT = cp.schema("add").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(addT("partitionValues").dataType
      .isInstanceOf[org.apache.spark.sql.types.MapType],
      s"partitionValues must be a MAP, got ${addT("partitionValues").dataType}")
    val metaT = cp.schema("metaData").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(metaT("configuration").dataType
      .isInstanceOf[org.apache.spark.sql.types.MapType],
      s"configuration must be a MAP, got ${metaT("configuration").dataType}")
    // and the values round-trip: the reader rebuilds the same snapshot
    // from the checkpoint after the json commits are cleaned
    Files.delete(Paths.get(path, "_delta_log", f"${0L}%020d.json"))
    val back = DeltaInterop.read(spark, path)
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(back == Seq((1L, "a", "x"), (2L, "b", "y")))
  }

  test("append inherits the table's partition columns; a mismatch is refused") {
    val path = tmpTable()
    DeltaInterop.write(Seq((1L, "a", "x")).toDF("k", "v", "ds"), path,
      SaveMode.Overwrite, partitionBy = Seq("ds"))
    // widened append WITHOUT re-passing partitionBy: the emitted metaData
    // must carry the table's partition columns forward, and the staged
    // files must land in hive-style ds= dirs (ADVICE r6: this silently
    // rewrote the table to unpartitioned)
    DeltaInterop.write(Seq((2L, "b", "y", 7.0)).toDF("k", "v", "ds", "score"),
      path, SaveMode.Append)
    val snap = DeltaInterop.snapshot(spark, path)
    assert(snap.partitionColumns == Seq("ds"),
      "widened append must not rewrite partitioning")
    assert(snap.files.forall(_.path.startsWith("ds=")),
      "appended files must follow the table's partition layout")
    val rows = DeltaInterop.read(spark, path)
    assert(rows.columns.toSeq == Seq("k", "v", "ds", "score"))
    assert(rows.count() == 2)
    // an append DECLARING different partitioning is an error, not a
    // silent metadata rewrite
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.write(Seq((3L, "c", "z")).toDF("k", "v", "ds"), path,
        SaveMode.Append, partitionBy = Seq("v"))
    }
    assert(e.getMessage.contains("partition"))
  }

  test("txn actions: recorded in the snapshot, replayed versions skip idempotently") {
    val path = tmpTable()
    DeltaInterop.write(Seq((1L, "a")).toDF("k", "v"), path, SaveMode.Overwrite)
    val v1 = DeltaInterop.write(Seq((2L, "b")).toDF("k", "v"), path,
      SaveMode.Append, txn = Some(("stream-q", 0L)))
    assert(v1 == 1L)
    assert(DeltaInterop.snapshot(spark, path).transactions == Map("stream-q" -> 0L))
    // a replay of the SAME (appId, version) must not commit again
    val vReplay = DeltaInterop.write(Seq((2L, "b")).toDF("k", "v"), path,
      SaveMode.Append, txn = Some(("stream-q", 0L)))
    assert(vReplay == v1, "replayed batch returns the already-committed version")
    assert(DeltaInterop.read(spark, path).count() == 2,
      "no duplicate rows from the replay")
    // the next batch id commits, and the latest version per appId wins
    val v2 = DeltaInterop.write(Seq((3L, "c")).toDF("k", "v"), path,
      SaveMode.Append, txn = Some(("stream-q", 1L)))
    assert(v2 == 2L)
    assert(DeltaInterop.snapshot(spark, path).transactions == Map("stream-q" -> 1L))
    assert(DeltaInterop.read(spark, path).count() == 3)
    // an independent appId is tracked separately
    DeltaInterop.write(Seq((4L, "d")).toDF("k", "v"), path,
      SaveMode.Append, txn = Some(("other", 7L)))
    assert(DeltaInterop.snapshot(spark, path).transactions ==
      Map("stream-q" -> 1L, "other" -> 7L))
  }

  test("txn actions survive checkpoint + log cleanup") {
    val path = tmpTable()
    DeltaInterop.write(Seq((1L, "a")).toDF("k", "v"), path, SaveMode.Overwrite)
    DeltaInterop.write(Seq((2L, "b")).toDF("k", "v"), path,
      SaveMode.Append, txn = Some(("stream-q", 3L)))
    DeltaInterop.checkpoint(spark, path)
    val logDir = Paths.get(path, "_delta_log")
    Seq(0L, 1L).foreach(v => Files.delete(logDir.resolve(f"$v%020d.json")))
    assert(DeltaInterop.snapshot(spark, path).transactions == Map("stream-q" -> 3L),
      "checkpoint must carry the latest txn per appId through cleanup")
    // replay after cleanup still skips
    val v = DeltaInterop.write(Seq((2L, "b")).toDF("k", "v"), path,
      SaveMode.Append, txn = Some(("stream-q", 3L)))
    assert(DeltaInterop.read(spark, path).count() == 2)
    assert(v == 1L)
  }

  test("multi-part checkpoint write: parts bootstrap after cleanup, torn set refused") {
    val path = tmpTable()
    DeltaInterop.write((0L until 40L).map(i => (i, s"r$i")).toDF("k", "v")
      .repartition(4), path, SaveMode.Overwrite)
    DeltaInterop.write(Seq((100L, "x")).toDF("k", "v"), path,
      SaveMode.Append, txn = Some(("app-m", 9L)))
    DeltaInterop.checkpoint(spark, path, parts = 3)
    val logDir = Paths.get(path, "_delta_log")
    // the classic multi-part layout, 10-digit part/total, parts declared
    val partFiles = Files.list(logDir).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.matches("""\d{20}\.checkpoint\.\d{10}\.\d{10}\.parquet"""))
      .toSeq.sorted
    assert(partFiles.size == 3, s"expected 3 parts, got $partFiles")
    assert(Files.readString(logDir.resolve("_last_checkpoint"))
      .contains("\"parts\":3"))
    // delete every JSON commit: the snapshot must bootstrap from parts
    Seq(0L, 1L).foreach(v => Files.delete(logDir.resolve(f"$v%020d.json")))
    assert(DeltaInterop.read(spark, path).count() == 41)
    assert(DeltaInterop.snapshot(spark, path).transactions == Map("app-m" -> 9L))
    // torn part set: removing one part must refuse, not shrink
    Files.delete(logDir.resolve(partFiles(1)))
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.read(spark, path).collect()
    }
    assert(e.getMessage.contains("torn"))
  }

  test("v2 checkpoint write: self-written manifest + sidecar bootstrap the reader") {
    val path = tmpTable()
    DeltaInterop.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .repartition(2), path, SaveMode.Overwrite)
    DeltaInterop.write(Seq((4L, "d")).toDF("k", "v"), path,
      SaveMode.Append, txn = Some(("app-v2", 5L)))
    // a DV so the feature set and the sidecar adds carry one through
    DeltaInterop.deleteWhere(spark, path, col("k") === 2L)
    DeltaInterop.checkpointV2(spark, path)
    val logDir = Paths.get(path, "_delta_log")
    val manifest = Files.list(logDir).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.matches("""\d{20}\.checkpoint\.[0-9a-f-]{36}\.json"""))
      .toSeq
    assert(manifest.size == 1, s"expected one v2 manifest, got $manifest")
    val mText = Files.readString(logDir.resolve(manifest.head))
    assert(mText.contains("\"v2Checkpoint\"") &&
      mText.contains("\"deletionVectors\"") &&
      mText.contains("\"sidecar\""))
    assert(Files.list(logDir.resolve("_sidecars")).iterator().asScala
      .exists(_.getFileName.toString.endsWith(".parquet")))
    // delete every JSON commit: bootstrap is manifest + sidecar only
    (0L to 2L).foreach(v => Files.delete(logDir.resolve(f"$v%020d.json")))
    assert(DeltaInterop.read(spark, path).select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 4L),
      "sidecar adds + DV mask must survive the bootstrap")
    assert(DeltaInterop.snapshot(spark, path).transactions == Map("app-v2" -> 5L))
    // and the table stays writable on top of the v2 checkpoint
    DeltaInterop.write(Seq((9L, "z")).toDF("k", "v"), path, SaveMode.Append)
    assert(DeltaInterop.read(spark, path).count() == 4)
  }

  test("CDF read: inserts and deletes derived from dataChange adds/removes") {
    val path = tmpTable()
    DeltaInterop.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path,
      SaveMode.Overwrite)
    DeltaInterop.write(Seq((3L, "c")).toDF("k", "v"), path, SaveMode.Append)
    DeltaInterop.write(Seq((9L, "z")).toDF("k", "v"), path, SaveMode.Overwrite)
    val chg = DeltaInterop.readChanges(spark, path, 0L, 2L)
      .as[(Long, String, String, Long)].collect().toSet
    assert(chg == Set(
      (1L, "a", "insert", 0L), (2L, "b", "insert", 0L),
      (3L, "c", "insert", 1L),
      (1L, "a", "delete", 2L), (2L, "b", "delete", 2L),
      (3L, "c", "delete", 2L), (9L, "z", "insert", 2L)),
      s"got $chg")
    // a sub-range excludes the other versions' changes
    assert(DeltaInterop.readChanges(spark, path, 1L, 1L)
      .as[(Long, String, String, Long)].collect().toSeq ==
      Seq((3L, "c", "insert", 1L)))
  }

  test("CDF read: cdc actions describe their commit completely; DV-no-cdc refused") {
    val path = tmpTable()
    DeltaInterop.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path,
      SaveMode.Overwrite)
    // hand-written v1: an UPDATE described by a cdc action — the
    // add/remove pair in the same commit is layout, not changes
    val root = Paths.get(path)
    val cdDir = root.resolve("_change_data")
    Files.createDirectories(cdDir)
    val tmp = tempDir("cdc_stage")
    Seq((2L, "b", "update_preimage"), (2L, "B2", "update_postimage"))
      .toDF("k", "v", "_change_type")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, cdDir.resolve("cdc-0.parquet"))
    // stage a replacement data file so the add action is resolvable
    Seq((1L, "a"), (2L, "B2")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val dataPart = Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(dataPart, root.resolve("part-upd.parquet"))
    val oldAdds = DeltaInterop.snapshot(spark, path).files.map(_.path)
    Files.writeString(root.resolve("_delta_log").resolve(f"${1L}%020d.json"),
      (Seq(
        s"""{"cdc":{"path":"_change_data/cdc-0.parquet","partitionValues":{},"size":1,"dataChange":false}}""") ++
        oldAdds.map(p =>
          s"""{"remove":{"path":"$p","deletionTimestamp":0,"dataChange":true}}""") ++
        Seq(
          s"""{"add":{"path":"part-upd.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
        .mkString("", "\n", "\n"))
    val chg = DeltaInterop.readChanges(spark, path, 1L, 1L)
      .as[(Long, String, String, Long)].collect().toSet
    assert(chg == Set(
      (2L, "b", "update_preimage", 1L), (2L, "B2", "update_postimage", 1L)),
      s"cdc actions must shadow add/remove in the same commit, got $chg")
    // and the post-state read reflects the update
    assert(DeltaInterop.read(spark, path).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B2")))
    // DV delete without cdc, as an external writer may commit it: its row
    // delta is not derivable — refused
    val path2 = tmpTable()
    DeltaInterop.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
      path2, SaveMode.Overwrite)
    DeltaInterop.deleteWhere(spark, path2, org.apache.spark.sql.functions.col("k") === 2L)
    val commit1 = Paths.get(path2, "_delta_log", f"${1L}%020d.json")
    Files.writeString(commit1, Files.readAllLines(commit1).asScala
      .filterNot(_.startsWith("{\"cdc\"")).mkString("", "\n", "\n"))
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.readChanges(spark, path2, 1L, 1L).collect()
    }
    assert(e.getMessage.contains("deletion vector without cdc"))
  }

  test("deleteWhere writes protocol-3 deletion vectors; reads + time travel agree") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val path = tmpTable()
    DeltaInterop.write((1L to 10L).map(i => (i, s"r$i")).toDF("k", "v"),
      path, SaveMode.Overwrite)
    val v = DeltaInterop.deleteWhere(spark, path, col("k") % 2 === 0)
    assert(v.contains(1L))
    assert(DeltaInterop.read(spark, path).as[(Long, String)].collect()
      .map(_._1).sorted.toSeq == Seq(1L, 3L, 5L, 7L, 9L),
      "even keys masked, no file rewritten")
    // the DV commit upgraded the protocol the way a modern writer does
    val log = Files.readString(Paths.get(path, "_delta_log", f"${1L}%020d.json"))
    assert(log.contains("\"minReaderVersion\":3")
      && log.contains("deletionVectors") && log.contains("\"storageType\":\"u\""))
    // pre-delete version still reads every row
    assert(DeltaInterop.read(spark, path, asOf = Some(0L)).count() == 10)
    // deleting already-dead rows is a no-op, not a double mask
    assert(DeltaInterop.deleteWhere(spark, path, col("k") === 2).isEmpty)
    // a second delete MERGES with the existing DV of the same file
    assert(DeltaInterop.deleteWhere(spark, path, col("k") === 1).contains(2L))
    assert(DeltaInterop.read(spark, path).as[(Long, String)].collect()
      .map(_._1).sorted.toSeq == Seq(3L, 5L, 7L, 9L))
    // checkpoint + log cleanup keeps the masks (DV descriptors survive)
    assert(DeltaInterop.checkpoint(spark, path) == 2L)
    Seq(0L, 1L, 2L).foreach(i =>
      Files.delete(Paths.get(path, "_delta_log", f"$i%020d.json")))
    assert(DeltaInterop.read(spark, path).count() == 4)
  }

  test("deleteWhere writes its deleted rows as cdc files; the change feed reads them") {
    val path = tmpTable()
    DeltaInterop.write((1L to 8L).map(i => (i, s"r$i", if (i % 2 == 0) "even" else "odd"))
      .toDF("k", "v", "p"), path, SaveMode.Overwrite, partitionBy = Seq("p"))
    assert(DeltaInterop.deleteWhere(spark, path, col("k") > 5L).contains(1L))
    val log = Files.readAllLines(Paths.get(path, "_delta_log", f"${1L}%020d.json")).asScala
    val cdc = log.filter(_.startsWith("{\"cdc\""))
    // one or more files per partition of the deleted rows, each sized
    assert(Set("even", "odd").forall(p => cdc.exists(_.contains(s"\"path\":\"_change_data/p=$p/"))) &&
      cdc.forall(l => l.contains("\"path\":\"_change_data/p=") && !l.contains("\"size\":0,")), cdc)
    val feed = DeltaInterop.readChanges(spark, path, 1L, 1L)
      .select("k", "v", "p", "_change_type", "_commit_version")
      .as[(Long, String, String, String, Long)].collect().toSet
    assert(feed == Set((6L, "r6", "even", "delete", 1L), (7L, "r7", "odd", "delete", 1L),
      (8L, "r8", "even", "delete", 1L)))
    // a second delete on the same files records only its own rows
    assert(DeltaInterop.deleteWhere(spark, path, col("k") === 1L).contains(2L))
    assert(DeltaInterop.readChanges(spark, path, 1L, 2L).filter(col("_commit_version") === 2L)
      .select("k").as[Long].collect().toSeq == Seq(1L))
    assert(DeltaInterop.read(spark, path).select("k").as[Long].collect().sorted.toSeq ==
      (2L to 5L))
  }

  test("one delete across many files packs every DV into a single file at offsets") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val path = tmpTable()
    // partitioned table → several data files; one predicate touches all
    DeltaInterop.write(
      (1L to 12L).map(i => (i, s"r$i", (i % 3).toString)).toDF("k", "v", "ds"),
      path, SaveMode.Overwrite, partitionBy = Seq("ds"))
    DeltaInterop.deleteWhere(spark, path, col("k") % 2 === 0)
    val snap = DeltaInterop.snapshot(spark, path)
    val dvs = snap.files.flatMap(_.dv)
    assert(dvs.size >= 3, s"every touched file gets a DV: $dvs")
    assert(dvs.map(_.pathOrInlineDv).distinct.size == 1,
      "all DVs of one commit share one packed file")
    assert(dvs.map(_.offset).distinct.size == dvs.size,
      "each DV sits at its own offset")
    assert(DeltaInterop.read(spark, path).as[(Long, String, String)]
      .collect().map(_._1).sorted.toSeq == Seq(1L, 3L, 5L, 7L, 9L, 11L))
  }

  test("format bridge: VersionedTable -> Delta -> VersionedTable round trip, DVs applied") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val vt1 = tmpTable(); val dl = tmpTable(); val vt2 = tmpTable()
    VersionedTable.write((1L to 8L).map(i => (i, s"r$i")).toDF("k", "v"),
      vt1, SaveMode.Overwrite)
    VersionedTable.deleteWhere(spark, vt1, col("k") > 6)
    // export: the Delta side must see the DV-masked contents
    DeltaInterop.fromVersioned(spark, vt1, dl)
    assert(DeltaInterop.read(spark, dl).as[(Long, String)].collect()
      .map(_._1).sorted.toSeq == (1L to 6L))
    // mutate on the Delta side with a DV delete, then import back
    DeltaInterop.deleteWhere(spark, dl, col("k") === 1)
    DeltaInterop.toVersioned(spark, dl, vt2)
    assert(VersionedTable.read(spark, vt2).as[(Long, String)].collect()
      .map(_._1).sorted.toSeq == (2L to 6L),
      "both stacks' deletion vectors must survive the bridge")
  }

  test("vacuum reclaims unreferenced data and DV files; live reads intact") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val path = tmpTable()
    DeltaInterop.write((1L to 6L).map(i => (i, s"r$i")).toDF("k", "v"),
      path, SaveMode.Overwrite)
    // a delete creates a DV; a second delete orphans the first DV file;
    // an overwrite orphans the original data files too
    DeltaInterop.deleteWhere(spark, path, col("k") === 1)
    DeltaInterop.deleteWhere(spark, path, col("k") === 2)
    DeltaInterop.write((9L to 10L).map(i => (i, s"n$i")).toDF("k", "v"),
      path, SaveMode.Overwrite)
    // retainMs=0 is safe here: single-process test, no concurrent writer
    val removed = DeltaInterop.vacuum(spark, path, retainMs = 0L)
    assert(removed >= 3, s"old data files + both orphaned DV files: $removed")
    assert(DeltaInterop.read(spark, path).as[(Long, String)].collect()
      .map(_._1).sorted.toSeq == Seq(9L, 10L), "live reads survive vacuum")
    // a second vacuum finds nothing
    assert(DeltaInterop.vacuum(spark, path, retainMs = 0L) == 0L)
    // time travel to vacuumed versions now fails at the scan, as documented
    intercept[Exception] {
      DeltaInterop.read(spark, path, asOf = Some(0L)).collect()
    }
  }

  test("ErrorIfExists refuses an existing table; Ignore is a no-op") {
    val path = tmpTable()
    DeltaInterop.write(Seq((1L, "a")).toDF("k", "v"), path, SaveMode.Overwrite)
    intercept[IllegalArgumentException] {
      DeltaInterop.write(Seq((2L, "b")).toDF("k", "v"), path)
    }
    DeltaInterop.write(Seq((2L, "b")).toDF("k", "v"), path, SaveMode.Ignore)
    assert(DeltaInterop.read(spark, path).count() == 1)
  }

  test("restore: head equals target version, history rolls forward, DV carried") {
    val path = tmpTable()
    DeltaInterop.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      path, SaveMode.Overwrite)                                       // v0
    DeltaInterop.write(Seq((3L, "c")).toDF("k", "v"),
      path, SaveMode.Append)                                          // v1
    DeltaInterop.deleteWhere(spark, path, col("k") === 1L)            // v2 (DV)
    DeltaInterop.write(Seq((9L, "z")).toDF("k", "v"),
      path, SaveMode.Overwrite)                                       // v3
    val rv = DeltaInterop.restore(spark, path, 2L)                    // v4
    assert(rv == 4L)
    assert(DeltaInterop.read(spark, path)
      .select("k").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    // the pre-restore head is still reachable by time travel
    assert(DeltaInterop.read(spark, path, asOf = Some(3L))
      .select("k").as[Long].collect().toSeq == Seq(9L))
    // restoring the restore rolls forward again
    DeltaInterop.restore(spark, path, 3L)                             // v5
    assert(DeltaInterop.read(spark, path)
      .select("k").as[Long].collect().toSeq == Seq(9L))
    // restoring to the current head is a no-op, not a new commit
    assert(DeltaInterop.restore(spark, path, 5L) == 5L)
  }

  // ------------------------------------------------ log-cleanup checkpoints

  private def cleanLog(path: String, upTo: Long): Unit =
    (0L to upTo).foreach(v =>
      Files.deleteIfExists(Paths.get(path, "_delta_log", f"$v%020d.json")))

  test("re-checkpoint after log cleanup takes metaData and protocol from the replay") {
    // the JSON commits left after cleanup hold no metaData action
    val plain = tmpTable()
    DeltaInterop.write(Seq((1L, "a")).toDF("k", "v"), plain, SaveMode.Overwrite)
    DeltaInterop.checkpoint(spark, plain)
    cleanLog(plain, 0L)
    DeltaInterop.write(Seq((2L, "b")).toDF("k", "v"), plain, SaveMode.Append)
    assert(DeltaInterop.checkpoint(spark, plain) == 1L)
    cleanLog(plain, 1L)
    assert(DeltaInterop.read(spark, plain).as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // ... nor the DV commit's protocol: the second checkpoint must still
    // declare deletionVectors, or a reader bootstrapping from it skips the masks
    val dv = tmpTable()
    DeltaInterop.write((1L to 4L).map(i => (i, s"r$i")).toDF("k", "v"), dv, SaveMode.Overwrite)
    DeltaInterop.deleteWhere(spark, dv, col("k") === 2L)                   // v1
    DeltaInterop.checkpoint(spark, dv)
    cleanLog(dv, 1L)
    DeltaInterop.write(Seq((5L, "r5", 0.5)).toDF("k", "v", "s"), dv,
      SaveMode.Append)                                                     // v2, widens
    assert(DeltaInterop.checkpoint(spark, dv) == 2L)
    val protocol = spark.read
      .parquet(Paths.get(dv, "_delta_log", f"${2L}%020d.checkpoint.parquet").toString)
      .filter(col("protocol").isNotNull)
      .select(col("protocol.minReaderVersion").cast("int"), col("protocol.readerFeatures"))
      .as[(Int, Seq[String])].collect().toSeq
    assert(protocol == Seq((3, Seq("deletionVectors"))), s"checkpoint protocol: $protocol")
    cleanLog(dv, 2L)
    assert(DeltaInterop.read(spark, dv).select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 4L, 5L))
  }

  // ------------------------------------------------------ commit integrity

  test("a torn commit is refused with its version; blank lines are skipped") {
    val path = tmpTable()
    DeltaInterop.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(2), path,
      SaveMode.Overwrite)
    DeltaInterop.write(Seq((9L, "z")).toDF("k", "v"), path, SaveMode.Overwrite)
    val v1 = Paths.get(path, "_delta_log", f"${1L}%020d.json")
    val text = Files.readString(v1)
    Files.writeString(v1, text + "\n\n")
    assert(DeltaInterop.read(spark, path).as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    // cut the overwrite off inside its first remove line: replaying the
    // rest would silently serve version 0's rows as version 1
    Files.writeString(v1, text.take(text.indexOf("\"remove\"") + 20))
    val e = intercept[IllegalStateException](DeltaInterop.read(spark, path))
    assert(e.getMessage.contains("commit 1"), e.getMessage)
  }

  test("write, compact and checkpoints leave no staging directory behind") {
    val path = tmpTable()
    val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))
    def staging(): Set[String] = {
      val s = Files.list(tmpDir)
      try s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("delta_")).toSet
      finally s.close()
    }
    val before = staging()
    DeltaInterop.write(Seq((1L, "a", "x")).toDF("k", "v", "ds"), path,
      SaveMode.Overwrite, partitionBy = Seq("ds"))
    DeltaInterop.write(Seq((2L, "b", "x")).toDF("k", "v", "ds"), path, SaveMode.Append)
    // a write whose staging job fails
    intercept[Exception] {
      DeltaInterop.write(Seq((3L, "c", "x")).toDF("k", "v", "ds")
        .withColumn("v", when(col("k") > 0, raise_error(lit("boom"))).otherwise(col("v"))),
        path, SaveMode.Append)
    }
    assert(DeltaInterop.compact(spark, path).isDefined)
    DeltaInterop.checkpoint(spark, path)
    DeltaInterop.checkpoint(spark, path, parts = 2)
    DeltaInterop.checkpointV2(spark, path)
    assert(staging() -- before == Set.empty[String])
    assert(DeltaInterop.read(spark, path).count() == 2)
  }

  test("deleteWhere masks rows in partition dirs whose names need URI encoding") {
    val path = tmpTable()
    DeltaInterop.write(Seq((1L, "a:b"), (2L, "x y"), (3L, "x y"), (4L, "p%q")).toDF("k", "ds"),
      path, SaveMode.Overwrite, partitionBy = Seq("ds"))
    assert(DeltaInterop.deleteWhere(spark, path, col("k") =!= 3L).isDefined)
    assert(DeltaInterop.read(spark, path).as[(Long, String)].collect().toSeq == Seq((3L, "x y")))
  }

  test("CDF read: rows a DV already deleted are not deleted again by a later remove") {
    val path = tmpTable()
    DeltaInterop.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1),
      path, SaveMode.Overwrite)
    DeltaInterop.deleteWhere(spark, path, col("k") === 1L)
    DeltaInterop.write(Seq((9L, "z")).toDF("k", "v"), path, SaveMode.Overwrite)
    assert(DeltaInterop.readChanges(spark, path, 2L, 2L)
      .as[(Long, String, String, Long)].collect().toSet ==
      Set((2L, "b", "delete", 2L), (3L, "c", "delete", 2L), (9L, "z", "insert", 2L)))
  }

  test("metadata-only calls start no Spark job: JSON-log snapshot, restore, skipped replay") {
    val path = tmpTable()
    DeltaInterop.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path, SaveMode.Overwrite)
    val appendJobs = jobsStartedBy {
      DeltaInterop.write(Seq((3L, "c")).toDF("k", "v"), path, SaveMode.Append,
        txn = Some(("app", 1L)))
      ()
    }
    info(s"Spark jobs per append: $appendJobs")
    DeltaInterop.deleteWhere(spark, path, col("k") === 1L)
    assert(jobsStartedBy { DeltaInterop.snapshot(spark, path); () } == 0)
    assert(jobsStartedBy { DeltaInterop.restore(spark, path, 0L); () } == 0)
    assert(jobsStartedBy {
      DeltaInterop.write(Seq((3L, "c")).toDF("k", "v"), path, SaveMode.Append,
        txn = Some(("app", 1L)))
      ()
    } == 0)
    assert(DeltaInterop.read(spark, path).select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
  }

  // -------------------------------------------------------- lost updates
  //
  // Every read-modify-write path under 4 concurrent writers: a retry of a
  // plan made on a stale snapshot would drop or duplicate a concurrent
  // commit's rows, so each thread's effect must show in the result.

  /** Run `body(k)` for k = 2..5 on four threads at once. */
  private def race(body: Int => Unit): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (2 to 5).map(k => new Thread(() =>
      try body(k) catch { case t: Throwable => errors.add(t); () }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"writer thread failed: ${Option(errors.peek())}")
  }

  /** Keys 1..6 in one file (v0) plus key 7 in a second (v1). */
  private def raceTable(): String = {
    val path = tmpTable()
    DeltaInterop.write((1L to 6L).map(k => (k, "base")).toDF("k", "v").coalesce(1), path,
      SaveMode.Overwrite)
    DeltaInterop.write(Seq((7L, "base")).toDF("k", "v"), path, SaveMode.Append)
    path
  }

  private def rowsOf(path: String, asOf: Option[Long] = None): Seq[(Long, String)] =
    DeltaInterop.read(spark, path, asOf).as[(Long, String)].collect().toSeq.sorted

  test("deleteWhere re-plans on conflict: 4 concurrent deletes of one file all land") {
    val path = raceTable()
    race(k => DeltaInterop.deleteWhere(spark, path, col("k") === k.toLong))
    assert(rowsOf(path) == Seq(1L, 6L, 7L).map(_ -> "base"))
  }

  test("compact re-plans on conflict: concurrent appends and compactions lose no row") {
    val path = raceTable()
    race(k => (1 to 3).foreach { i =>
      DeltaInterop.write(Seq((10L * i + k, s"i$k")).toDF("k", "v"), path, SaveMode.Append)
      DeltaInterop.compact(spark, path)
    })
    assert(rowsOf(path) == ((1L to 7L).map(_ -> "base") ++
      (for (i <- 1 to 3; k <- 2 to 5) yield (10L * i + k, s"i$k"))).sorted)
  }

  test("restore re-plans on conflict: every restore commit equals its target version") {
    val path = raceTable()                                                 // v0, v1
    DeltaInterop.write(Seq((9L, "z")).toDF("k", "v"), path, SaveMode.Overwrite)  // v2
    DeltaInterop.write(Seq((10L, "y")).toDF("k", "v"), path, SaveMode.Append)    // v3
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    // thread k restores to version k - 2: four different targets at once
    race(k => (1 to 3).foreach { _ =>
      landed.add(DeltaInterop.restore(spark, path, k - 2L) -> (k - 2L))
    })
    landed.asScala.foreach { case (v, target) =>
      assert(rowsOf(path, Some(v)) == rowsOf(path, Some(target)), s"restore commit $v")
    }
  }

  test("write(txn) replays race: exactly one commit per transaction version") {
    // on a JSON-only log, and on a checkpointed one: replaying a checkpoint
    // is a Spark job, which keeps each commit attempt open long enough for
    // the four replays to overlap
    Seq(false, true).foreach { checkpointed =>
      val path = raceTable()
      if (checkpointed) DeltaInterop.checkpoint(spark, path)
      val base = DeltaInterop.snapshot(spark, path).version
      // all four replays of a batch start together, so they reach the commit together
      val barrier = new java.util.concurrent.CyclicBarrier(4)
      race(_ => (0L until 4L).foreach { b =>
        barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
        DeltaInterop.write(Seq((100L + b, s"b$b")).toDF("k", "v"), path, SaveMode.Append,
          txn = Some(("replayed", b)))
      })
      val snap = DeltaInterop.snapshot(spark, path)
      assert(snap.version == base + 4 && snap.transactions == Map("replayed" -> 3L),
        s"checkpointed=$checkpointed: version ${snap.version}, base $base")
      assert(rowsOf(path) == ((1L to 7L).map(_ -> "base") ++
        (0L until 4L).map(b => (100L + b, s"b$b"))).sorted)
    }
  }

  test("after a DV delete and every checkpoint kind, each add carries its file's byte size") {
    val path = tmpTable()
    DeltaInterop.write((0L until 20L).map(i => (i, s"r$i", if (i % 2 == 0) "x" else "y"))
      .toDF("k", "v", "ds"), path, SaveMode.Overwrite, partitionBy = Seq("ds"))
    DeltaInterop.write(Seq((20L, "r20", "x")).toDF("k", "v", "ds"), path, SaveMode.Append,
      partitionBy = Seq("ds"))
    val v = DeltaInterop.deleteWhere(spark, path, col("k") % 4 === 0L).get
    DeltaInterop.checkpoint(spark, path)
    DeltaInterop.checkpoint(spark, path, parts = 2)
    DeltaInterop.checkpointV2(spark, path)
    val logDir = Paths.get(path, "_delta_log")
    def logFiles(pattern: String): Seq[String] =
      Files.list(logDir).iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches(pattern)).map(n => logDir.resolve(n).toString).toSeq
    def assertSizes(source: String, actions: org.apache.spark.sql.DataFrame): Unit = {
      val adds = actions.where(col("add").isNotNull)
        .select(col("add.path"), col("add.size")).as[(String, Long)].collect().toSeq
      assert(adds.nonEmpty, s"no add actions in $source")
      adds.foreach { case (p, size) =>
        val file = Paths.get(path).resolve(new java.net.URI(p).getPath)
        assert(size == Files.size(file), s"$source: add $p has size $size")
      }
    }
    assertSizes("the delete commit", spark.read.json(logDir.resolve(f"$v%020d.json").toString))
    assertSizes("the checkpoint", spark.read.parquet(logFiles("""\d{20}\.checkpoint\.parquet"""): _*))
    val parts = logFiles("""\d{20}\.checkpoint\.\d{10}\.\d{10}\.parquet""")
    assert(parts.size == 2)
    assertSizes("the multi-part checkpoint", spark.read.parquet(parts: _*))
    assertSizes("the v2 checkpoint sidecar",
      spark.read.parquet(logDir.resolve("_sidecars").toString))
  }
}
