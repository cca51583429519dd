package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Read-only `_delta_log` interop: fixtures are built BY HAND to the
  * public Delta transaction-log protocol (JSON commits, percent-encoded
  * relative paths, partition values in add actions, parquet checkpoint
  * + `_last_checkpoint` pointer) — no Delta jar exists in this
  * environment, which is exactly the situation the probe targets.
  */
class DeltaInteropSpec extends SparkSpec {
  import spark.implicits._

  private val tableSchema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType),
    StructField("ds", StringType)))

  /** JSON-string-escape a schemaString for embedding in an action. */
  private def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  private def metaAction: String =
    s"""{"metaData":{"id":"11111111-2222-3333-4444-555555555555","format":{"provider":"parquet","options":{}},"schemaString":"${esc(tableSchema.json)}","partitionColumns":["ds"],"configuration":{},"createdTime":1700000000000}}"""

  private def protocolAction(reader: Int = 1): String =
    s"""{"protocol":{"minReaderVersion":$reader,"minWriterVersion":2}}"""

  private def addAction(path: String, ds: String): String =
    s"""{"add":{"path":"$path","partitionValues":{"ds":"$ds"},"size":512,"modificationTime":1700000000000,"dataChange":true}}"""

  private def removeAction(path: String): String =
    s"""{"remove":{"path":"$path","deletionTimestamp":1700000001000,"dataChange":true}}"""

  /** Write `df` (k, v only — partition values live in the log) as a
    * single parquet FILE at tableRoot/relPath, Delta-layout style.
    */
  private def writeDataFile(root: Path, relPath: String, df: DataFrame): Unit = {
    val tmp = tempDir("delta_part")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val target = root.resolve(relPath)
    Files.createDirectories(target.getParent)
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  private def writeCommit(root: Path, version: Long, actions: Seq[String]): Unit = {
    val logDir = root.resolve("_delta_log")
    Files.createDirectories(logDir)
    Files.writeString(logDir.resolve(f"$version%020d.json"),
      actions.mkString("", "\n", "\n"))
  }

  /** v0: file1(ds=01) + meta + protocol; v1: file2(ds=02);
    * v2: remove file1, add file3(ds=01).
    */
  private def fixture(): Path = {
    val root = tempDir("delta_tbl").resolve("t")
    Files.createDirectories(root)
    writeDataFile(root, "ds=2024-01-01/part-0000.parquet",
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    writeDataFile(root, "ds=2024-01-02/part-0001.parquet",
      Seq((3L, "c")).toDF("k", "v"))
    writeDataFile(root, "ds=2024-01-01/part-0002.parquet",
      Seq((4L, "d")).toDF("k", "v"))
    writeCommit(root, 0L, Seq(protocolAction(), metaAction,
      addAction("ds=2024-01-01/part-0000.parquet", "2024-01-01")))
    writeCommit(root, 1L, Seq(
      addAction("ds=2024-01-02/part-0001.parquet", "2024-01-02")))
    writeCommit(root, 2L, Seq(
      removeAction("ds=2024-01-01/part-0000.parquet"),
      addAction("ds=2024-01-01/part-0002.parquet", "2024-01-01")))
    root
  }

  test("latest snapshot replays adds minus removes, restoring partition values") {
    val root = fixture()
    val df = DeltaInterop.read(spark, root.toString)
    assert(df.columns.toSeq == Seq("k", "v", "ds"), "log-declared column order")
    val rows = df.as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((3L, "c", "2024-01-02"), (4L, "d", "2024-01-01")))
  }

  test("time travel reads the pre-remove file set") {
    val root = fixture()
    val v1 = DeltaInterop.read(spark, root.toString, asOf = Some(1L))
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(v1 == Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-01"),
      (3L, "c", "2024-01-02")))
    val v0 = DeltaInterop.read(spark, root.toString, asOf = Some(0L))
    assert(v0.count() == 2)
  }

  test("checkpoint bootstrap: snapshot resolves after pre-checkpoint commits are cleaned") {
    val root = fixture()
    val logDir = root.resolve("_delta_log")
    // checkpoint at v2 = the live adds + meta + protocol, columnar
    val cpJson = Seq(
      addAction("ds=2024-01-02/part-0001.parquet", "2024-01-02"),
      addAction("ds=2024-01-01/part-0002.parquet", "2024-01-01"),
      metaAction, protocolAction())
    spark.read.json(cpJson.toDS).coalesce(1)
      .write.mode("overwrite").parquet(logDir.resolve("cp_tmp").toString)
    val part = Files.list(logDir.resolve("cp_tmp")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, logDir.resolve(f"${2L}%020d.checkpoint.parquet"))
    Files.writeString(logDir.resolve("_last_checkpoint"),
      """{"version":2,"size":4}""")
    // log cleanup: pre-checkpoint JSON commits removed — the replay MUST
    // come from the checkpoint now
    Seq(0L, 1L, 2L).foreach(v =>
      Files.delete(logDir.resolve(f"$v%020d.json")))
    // one post-checkpoint commit on top
    writeDataFile(root, "ds=2024-01-03/part-0003.parquet",
      Seq((5L, "e")).toDF("k", "v"))
    writeCommit(root, 3L, Seq(
      addAction("ds=2024-01-03/part-0003.parquet", "2024-01-03")))
    val rows = DeltaInterop.read(spark, root.toString)
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((3L, "c", "2024-01-02"), (4L, "d", "2024-01-01"),
      (5L, "e", "2024-01-03")))
  }

  private def writeCheckpointPart(logDir: Path, name: String,
      actions: Seq[String]): Unit = {
    val tmp = logDir.resolve(s"cp_tmp_$name")
    spark.read.json(actions.toDS).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, logDir.resolve(name))
  }

  test("multi-part checkpoint bootstrap: all declared parts are combined") {
    val root = fixture()
    val logDir = root.resolve("_delta_log")
    // same live state as the single-part test, split across two parts
    // (production writers shard large checkpoints exactly this way)
    writeCheckpointPart(logDir,
      f"${2L}%020d.checkpoint.${1}%010d.${2}%010d.parquet",
      Seq(addAction("ds=2024-01-02/part-0001.parquet", "2024-01-02"),
        metaAction))
    writeCheckpointPart(logDir,
      f"${2L}%020d.checkpoint.${2}%010d.${2}%010d.parquet",
      Seq(addAction("ds=2024-01-01/part-0002.parquet", "2024-01-01"),
        protocolAction()))
    Files.writeString(logDir.resolve("_last_checkpoint"),
      """{"version":2,"size":4,"parts":2}""")
    Seq(0L, 1L, 2L).foreach(v =>
      Files.delete(logDir.resolve(f"$v%020d.json")))
    writeDataFile(root, "ds=2024-01-03/part-0003.parquet",
      Seq((5L, "e")).toDF("k", "v"))
    writeCommit(root, 3L, Seq(
      addAction("ds=2024-01-03/part-0003.parquet", "2024-01-03")))
    val rows = DeltaInterop.read(spark, root.toString)
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((3L, "c", "2024-01-02"), (4L, "d", "2024-01-01"),
      (5L, "e", "2024-01-03")))
  }

  test("v2 UUID checkpoint: json manifest + parquet sidecar shards bootstrap the snapshot") {
    val root = fixture()
    val logDir = root.resolve("_delta_log")
    val sidecarDir = logDir.resolve("_sidecars")
    Files.createDirectories(sidecarDir)
    // sidecar shards carry the file actions; the manifest carries
    // protocol/metaData/checkpointMetadata plus pointers at the shards
    val tmp = logDir.resolve("sc_tmp")
    spark.read.json(Seq(
        addAction("ds=2024-01-02/part-0001.parquet", "2024-01-02"),
        addAction("ds=2024-01-01/part-0002.parquet", "2024-01-01")).toDS)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val shard = Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(shard, sidecarDir.resolve("shard-0001.parquet"))
    val uuid = "0a1b2c3d-1111-2222-3333-444455556666"
    Files.writeString(logDir.resolve(f"${2L}%020d.checkpoint.$uuid.json"),
      Seq(protocolV3("v2Checkpoint"), metaAction,
        """{"checkpointMetadata":{"version":2}}""",
        """{"sidecar":{"path":"shard-0001.parquet","sizeInBytes":512,"modificationTime":0}}""")
        .mkString("", "\n", "\n"))
    Files.writeString(logDir.resolve("_last_checkpoint"),
      """{"version":2,"size":4}""")
    Seq(0L, 1L, 2L).foreach(v =>
      Files.delete(logDir.resolve(f"$v%020d.json")))
    writeDataFile(root, "ds=2024-01-03/part-0003.parquet",
      Seq((5L, "e")).toDF("k", "v"))
    writeCommit(root, 3L, Seq(
      addAction("ds=2024-01-03/part-0003.parquet", "2024-01-03")))
    val rows = DeltaInterop.read(spark, root.toString)
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((3L, "c", "2024-01-02"), (4L, "d", "2024-01-01"),
      (5L, "e", "2024-01-03")))
  }

  test("a torn multi-part checkpoint (missing part) is refused, not misread") {
    val root = fixture()
    val logDir = root.resolve("_delta_log")
    // only part 1 of 2 lands — a reader that replays it would silently
    // drop every file in the missing part
    writeCheckpointPart(logDir,
      f"${2L}%020d.checkpoint.${1}%010d.${2}%010d.parquet",
      Seq(addAction("ds=2024-01-02/part-0001.parquet", "2024-01-02"),
        metaAction, protocolAction()))
    Files.writeString(logDir.resolve("_last_checkpoint"),
      """{"version":2,"size":4,"parts":2}""")
    Seq(0L, 1L, 2L).foreach(v =>
      Files.delete(logDir.resolve(f"$v%020d.json")))
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.read(spark, root.toString).collect()
    }
    assert(e.getMessage.contains("torn multi-part checkpoint"))
  }

  test("unsupported reader protocol is refused, not misread") {
    val root = tempDir("delta_v3").resolve("t")
    Files.createDirectories(root)
    writeDataFile(root, "part-0000.parquet", Seq((1L, "a")).toDF("k", "v"))
    writeCommit(root, 0L, Seq(protocolAction(reader = 3), metaAction,
      s"""{"add":{"path":"part-0000.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.snapshot(spark, root.toString)
    }
    assert(e.getMessage.contains("protocol"))
  }

  test("a non-delta directory is rejected up front") {
    val root = tempDir("not_delta")
    intercept[IllegalArgumentException] {
      DeltaInterop.snapshot(spark, root.toString)
    }
  }

  // ---------------------------------------- reader protocol 2/3 surface

  test("Z85 round-trips the ZeroMQ spec test vector") {
    val bytes = Array(0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B)
      .map(_.toByte)
    assert(DeltaInterop.z85Encode(bytes) == "HelloWorld")
    assert(DeltaInterop.z85Decode("HelloWorld").toSeq == bytes.toSeq)
  }

  test("RoaringBitmapArray portable serialization round-trips, multi-key") {
    val rows = Seq(0L, 1L, 7L, 100000L, (1L << 32) + 5L, (3L << 32))
    val back = DeltaInterop.decodeBitmapArray(DeltaInterop.encodeBitmapArray(rows))
    assert(back.sorted == rows.sorted)
  }

  /** Write a protocol-conformant DV file: version byte 1, then at the
    * returned offset a 4-byte big-endian size, the portable bitmap
    * bytes, and a big-endian CRC32 of those bytes.
    */
  private def writeDvFile(root: Path, deleted: Seq[Long]): (String, Long, Long) = {
    val data = DeltaInterop.encodeBitmapArray(deleted)
    val uuid = java.util.UUID.randomUUID()
    val crc = new java.util.zip.CRC32
    crc.update(data)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeByte(1)                      // format version
    val offset = 1L
    out.writeInt(data.length)             // big-endian size
    out.write(data)
    out.writeInt(crc.getValue.toInt)      // big-endian checksum
    out.flush()
    Files.write(root.resolve(s"deletion_vector_$uuid.bin"), bos.toByteArray)
    val bb = java.nio.ByteBuffer.allocate(16)
    bb.putLong(uuid.getMostSignificantBits).putLong(uuid.getLeastSignificantBits)
    (DeltaInterop.z85Encode(bb.array()), offset, data.length.toLong)
  }

  private def dvAddAction(path: String, ds: String, storageType: String,
      pathOrInline: String, offset: Option[Long], size: Long, card: Long): String = {
    val off = offset.map(o => s""","offset":$o""").getOrElse("")
    s"""{"add":{"path":"$path","partitionValues":{"ds":"$ds"},"size":512,"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"$storageType","pathOrInlineDv":"$pathOrInline"$off,"sizeInBytes":$size,"cardinality":$card}}}"""
  }

  private def protocolV3(features: String*): String =
    s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":[${features.map("\"" + _ + "\"").mkString(",")}],"writerFeatures":["deletionVectors"]}}"""

  /** v0: 4-row file, no DV. v1: remove + re-add the same file with a DV
    * masking row positions 1 and 3 — the exact action pair a Delta
    * DELETE emits.
    */
  private def dvFixture(): Path = {
    val root = tempDir("delta_dv").resolve("t")
    Files.createDirectories(root)
    writeDataFile(root, "ds=2024-01-01/part-0000.parquet",
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v"))
    writeCommit(root, 0L, Seq(protocolV3("deletionVectors"), metaAction,
      addAction("ds=2024-01-01/part-0000.parquet", "2024-01-01")))
    val (dvSpec, off, size) = writeDvFile(root, Seq(1L, 3L))
    writeCommit(root, 1L, Seq(
      removeAction("ds=2024-01-01/part-0000.parquet"),
      dvAddAction("ds=2024-01-01/part-0000.parquet", "2024-01-01",
        "u", dvSpec, Some(off), size, 2L)))
    root
  }

  test("deletion vectors: file-based DV masks rows; time travel crosses the DV commit") {
    val root = dvFixture()
    val masked = DeltaInterop.read(spark, root.toString)
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(masked == Seq((1L, "a", "2024-01-01"), (3L, "c", "2024-01-01")),
      "row positions 1 and 3 (k=2, k=4) must be dead")
    val v0 = DeltaInterop.read(spark, root.toString, asOf = Some(0L))
    assert(v0.count() == 4, "pre-DV version reads every row")
  }

  test("deletion vectors: inline (Z85) DV masks rows") {
    val root = tempDir("delta_dvi").resolve("t")
    Files.createDirectories(root)
    writeDataFile(root, "ds=2024-01-01/part-0000.parquet",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    val data = DeltaInterop.encodeBitmapArray(Seq(0L))
    writeCommit(root, 0L, Seq(protocolV3("deletionVectors"), metaAction,
      dvAddAction("ds=2024-01-01/part-0000.parquet", "2024-01-01",
        "i", DeltaInterop.z85EncodePadded(data), None, data.length.toLong, 1L)))
    val rows = DeltaInterop.read(spark, root.toString)
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((2L, "b", "2024-01-01"), (3L, "c", "2024-01-01")))
  }

  test("checkpoint carries deletion vectors through log cleanup") {
    val root = dvFixture()
    assert(DeltaInterop.checkpoint(spark, root.toString) == 1L)
    val logDir = root.resolve("_delta_log")
    Seq(0L, 1L).foreach(v => Files.delete(logDir.resolve(f"$v%020d.json")))
    val rows = DeltaInterop.read(spark, root.toString)
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a", "2024-01-01"), (3L, "c", "2024-01-01")),
      "post-cleanup replay must still mask the DV'd rows")
  }

  test("a corrupted DV checksum is refused, not misread") {
    val root = dvFixture()
    val dvFile = Files.list(root).iterator().asScala
      .find(_.getFileName.toString.startsWith("deletion_vector_")).get
    val bytes = Files.readAllBytes(dvFile)
    bytes(6) = (bytes(6) ^ 0x7F).toByte // flip a bit inside the bitmap data
    Files.write(dvFile, bytes)
    val e = intercept[Exception] { DeltaInterop.read(spark, root.toString).count() }
    assert(e.getMessage != null)
  }

  test("name-mode column mapping: physical parquet names map back to logical") {
    val mappedSchema = StructType(Seq(
      StructField("k", LongType, nullable = true,
        new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", "col-11111111").putLong("delta.columnMapping.id", 1L).build()),
      StructField("v", StringType, nullable = true,
        new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", "col-22222222").putLong("delta.columnMapping.id", 2L).build()),
      StructField("ds", StringType, nullable = true,
        new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", "col-33333333").putLong("delta.columnMapping.id", 3L).build())))
    val meta =
      s"""{"metaData":{"id":"aaaabbbb-2222-3333-4444-555555555555","format":{"provider":"parquet","options":{}},"schemaString":"${esc(mappedSchema.json)}","partitionColumns":["ds"],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3"},"createdTime":1700000000000}}"""
    val root = tempDir("delta_cm").resolve("t")
    Files.createDirectories(root)
    // data files carry PHYSICAL column names
    writeDataFile(root, "part-0000.parquet",
      Seq((1L, "a"), (2L, "b")).toDF("col-11111111", "col-22222222"))
    // partitionValues keyed by the partition column's PHYSICAL name
    writeCommit(root, 0L, Seq(protocolAction(reader = 2), meta,
      s"""{"add":{"path":"part-0000.parquet","partitionValues":{"col-33333333":"2024-06-01"},"size":512,"modificationTime":0,"dataChange":true}}"""))
    val df = DeltaInterop.read(spark, root.toString)
    assert(df.columns.toSeq == Seq("k", "v", "ds"), "logical names out")
    val rows = df.as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a", "2024-06-01"), (2L, "b", "2024-06-01")))
  }

  test("protocol v3 with an unsupported reader feature is refused by name") {
    val root = tempDir("delta_v3f").resolve("t")
    Files.createDirectories(root)
    writeDataFile(root, "part-0000.parquet", Seq((1L, "a")).toDF("k", "v"))
    writeCommit(root, 0L, Seq(protocolV3("deletionVectors", "typeWidening"),
      metaAction,
      s"""{"add":{"path":"part-0000.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.snapshot(spark, root.toString)
    }
    assert(e.getMessage.contains("typeWidening"))
  }

  test("replay keys on the RAW percent-encoded path: overwrite removes an encoded add") {
    val root = tempDir("delta_enc").resolve("t")
    Files.createDirectories(root)
    // a data file whose name needs percent-encoding in the action
    writeDataFile(root, "part 0000.parquet", Seq((1L, "a")).toDF("k", "v"))
    val schema2 = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    writeCommit(root, 0L, Seq(protocolAction(),
      s"""{"metaData":{"id":"cccc1111-2222-3333-4444-555555555555","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schema2.json)}","partitionColumns":[],"configuration":{},"createdTime":1700000000000}}""",
      s"""{"add":{"path":"part%200000.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
    assert(DeltaInterop.read(spark, root.toString)
      .as[(Long, String)].collect().toSeq == Seq((1L, "a")),
      "decoded read of the encoded add")
    // overwrite must emit a remove that MATCHES the raw encoded add —
    // a decoded remove would leave the old file phantom-live
    DeltaInterop.write(Seq((9L, "z")).toDF("k", "v"), root.toString,
      org.apache.spark.sql.SaveMode.Overwrite)
    assert(DeltaInterop.read(spark, root.toString)
      .as[(Long, String)].collect().toSeq == Seq((9L, "z")),
      "the encoded pre-overwrite file must be dead after replay")
  }
}
