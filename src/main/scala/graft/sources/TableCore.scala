package graft.sources

import java.nio.file.{Files, Path}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The table engine under both log codecs, [[VersionedTable]]
  * (`_graft_log` manifests) and [[DeltaInterop]] (`_delta_log` actions).
  * A codec reads its log into a snapshot — live files with their
  * locations, partition values and [[FileStats]], plus the deleted row
  * positions it supplies as a `(file, pos)` frame — and renders a planned
  * commit in its own format. Everything between is here, once:
  *
  * - [[commitLoop]]: optimistic concurrency over [[putIfAbsent]], which
  *   re-plans on a lost race and discards that attempt's staged files;
  * - [[txnCommitted]]: the SetTransaction rule that makes a write
  *   exactly-once per (appId, batch id);
  * - [[scan]]: the declared schema, partition values restored from the
  *   log, physical names renamed to logical, deleted rows masked by one
  *   anti-join on (file, `_metadata.row_index`); a read without deleted
  *   rows stays a plain scan;
  * - [[minMaxCandidates]]: file pruning from min/max bounds through a
  *   local DataFrame, so the engine's own type coercion decides;
  * - [[positionsOf]] (DV delete), [[sweep]] (vacuum) and [[changeFeed]].
  *
  * Compaction and restore are a scan and a commit of the core's, with
  * the choice of files and the rendering left to each codec.
  */
private[sources] object TableCore {

  /** A live data file: the local path it is read from and its partition
    * values (keyed by physical name).
    */
  final case class LiveFile(location: String, partitionValues: Map[String, String] = Map.empty)

  /** How a snapshot's files read: the declared (logical) schema, the
    * partition columns, whose values ride in the log, and the name each
    * column has in the data files.
    */
  final case class Layout(schema: StructType, partitionColumns: Seq[String] = Nil,
      physical: StructField => String = _.name) {
    def plain: Boolean =
      partitionColumns.isEmpty && schema.fields.forall(f => physical(f) == f.name)
  }

  /** A scan's row identity: the data file's `_metadata.file_path` and
    * the row's `_metadata.row_index`. A deleted-rows frame has the same
    * two columns as (`file`, `pos`).
    */
  val FileCol = "__tc_file"
  val PosCol = "__tc_pos"
  val DeadSchema: StructType = new StructType().add("file", StringType).add("pos", LongType)

  // ----------------------------------------------------------- storage

  /** Run `f` over a directory listing and close it (an unclosed
    * `Files.list` holds a descriptor until it is collected).
    */
  def listDir[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(dir)
    try f(s.iterator().asScala) finally s.close()
  }

  /** Run `f` over a recursive walk of `dir` and close it. */
  def walk[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.walk(dir)
    try f(s.iterator().asScala) finally s.close()
  }

  /** Delete `p` and, for a directory, everything under it. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) walk(p)(_.toSeq).reverse.foreach(Files.deleteIfExists)

  /** Stage `content` beside `target` and link it into place; false if
    * `target` already exists (lost the race). ATOMIC_MOVE is the wrong
    * primitive: POSIX rename silently replaces the target, letting a
    * racing writer overwrite a committed log file. `createLink` is atomic
    * and fails on an existing target.
    */
  def putIfAbsent(target: Path, content: String): Boolean = {
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s".tmp-${UUID.randomUUID()}")
    Files.writeString(tmp, content)
    try {
      Files.createLink(target, tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally {
      Files.deleteIfExists(tmp); ()
    }
  }

  /** Write `df` with Spark's parquet writer under `dir` (hive-style
    * directories for `partitionBy`); the data files written, in path order.
    */
  def writeFiles(df: DataFrame, dir: Path, partitionBy: Seq[String] = Nil): Seq[Path] = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(dir.toString)
    walk(dir)(_.filter(_.getFileName.toString.endsWith(".parquet")).toSeq).sortBy(_.toString)
  }

  // ------------------------------------------------------- commit loop

  /** One commit attempt: the codec's rendering input and the paths staged
    * for this attempt alone, deleted if it loses its race.
    */
  final case class Planned[C](commit: C, staged: Seq[Path] = Nil)

  /** The optimistic commit loop every write of both codecs goes through:
    * read the base snapshot, plan against it, and `link` the plan
    * put-if-absent as the next version. A lost race deletes the attempt's
    * staged paths and re-plans against the new latest version, so a
    * read-modify-write commit never lands on a stale snapshot. `plan`
    * returning None ends the loop without a commit.
    */
  @annotation.tailrec
  def commitLoop[S, C](base: () => S)(plan: S => Option[Planned[C]])(
      link: (S, C) => Option[Long]): Option[Long] = {
    val b = base()
    plan(b) match {
      case None => None
      case Some(p) => link(b, p.commit) match {
        case None =>
          p.staged.foreach(deleteTree)
          commitLoop(base)(plan)(link)
        case v => v
      }
    }
  }

  /** Delta's SetTransaction rule, the one exactly-once mechanism of both
    * codecs: a batch whose id is at or below the id its appId `recorded`
    * has committed already, and commits nothing. A writer checks it before
    * staging any data and again against each attempt's base, so two
    * replays of one batch commit once between them.
    */
  def txnCommitted(recorded: Option[Long], batchId: Long): Boolean =
    recorded.exists(batchId <= _)

  // -------------------------------------------------------------- scan

  /** The live rows of `files` under `layout`: the declared schema (a file
    * lacking a column reads it as NULL, and no footer is inferred),
    * physical names renamed to logical ones, partition values restored as
    * literals per partition tuple, and the rows of `dead` (`file`, `pos`;
    * `file` as the scan's `_metadata.file_path`) dropped by one anti-join.
    * Without `dead`, a plain layout's read is the plain scan. With
    * `positions`, the rows keep [[FileCol]] and [[PosCol]].
    */
  def scan(spark: SparkSession, layout: Layout, files: Seq[LiveFile],
      dead: Option[DataFrame] = None, positions: Boolean = false): DataFrame = {
    val pos = Seq(StructField(FileCol, StringType), StructField(PosCol, LongType))
    val out = StructType(layout.schema.fields ++ (if (positions) pos else Nil))
    if (files.isEmpty) return spark.createDataFrame(java.util.List.of[Row](), out)
    val withPos = positions || dead.isDefined
    val scanned = if (layout.plain && !withPos)
      spark.read.schema(layout.schema).parquet(files.map(_.location): _*)
    else {
      val parts = layout.partitionColumns.toSet
      val data = layout.schema.filterNot(f => parts(f.name))
      val physical = StructType(data.map(f =>
        if (layout.physical(f) == f.name) f
        else StructField(layout.physical(f), f.dataType, f.nullable)))
      val posCols = if (withPos)
        Seq(col("_metadata.file_path").as(FileCol), col("_metadata.row_index").as(PosCol))
      else Nil
      files.groupBy(_.partitionValues).toSeq.map { case (pv, fs) =>
        val partCols = layout.partitionColumns.map { pc =>
          val f = layout.schema(pc)
          lit(pv.getOrElse(layout.physical(f), null)).cast(f.dataType).as(pc)
        }
        spark.read.schema(physical).parquet(fs.map(_.location): _*)
          .select(data.map(f => col(s"`${layout.physical(f)}`").as(f.name)) ++
            partCols ++ posCols: _*)
      }.reduce(_.unionByName(_))
    }
    val live = dead.fold(scanned)(d => scanned.join(d,
      scanned(FileCol) === d("file") && scanned(PosCol) === d("pos"), "left_anti"))
    if (withPos || !layout.plain) live.select(out.fieldNames.toSeq.map(n => col(s"`$n`")): _*)
    else live
  }

  // ----------------------------------------------------------- pruning

  /** The files whose [min, max] of a column may hold a value in [lo, hi]:
    * the bounds `bounds` gives (of type `boundType`, cast to the column's
    * `columnType`) go through a local DataFrame filter, so the engine's
    * own coercion runs every comparison and no Spark job starts. A file
    * bounded by (null, null) holds only NULLs there and is skipped; a file
    * without bounds is kept.
    */
  def minMaxCandidates[F](spark: SparkSession, files: Seq[F], bounds: F => Option[(Any, Any)],
      boundType: DataType, columnType: DataType, lo: Any, hi: Any): Seq[F] = {
    val bs = files.map(bounds)
    val rows = bs.zipWithIndex.collect { case (Some((mn, mx)), i) => Row(i, mn, mx) }
    val schema = new StructType().add("i", IntegerType).add("mn", boundType).add("mx", boundType)
    val kept = spark.createDataFrame(rows.asJava, schema)
      .filter(coalesce(col("mx").cast(columnType) >= lit(lo) &&
        col("mn").cast(columnType) <= lit(hi), lit(false)))
      .select("i").collect().map(_.getInt(0)).toSet
    files.zip(bs).zipWithIndex.collect { case ((f, b), i) if kept(i) || b.isEmpty => f }
  }

  // ------------------------------------------------------- maintenance

  /** DV delete: the (`file`, `pos`) of `rows`, live rows of a positioned
    * [[scan]] (those a delete's condition or a merge's keys match) — the
    * positions a codec records as deleted. No data file is rewritten.
    */
  def positionsOf(rows: DataFrame): DataFrame =
    rows.select(col(FileCol).as("file"), col(PosCol).as("pos"))

  /** Vacuum: delete the data files under `roots` (those `isData` accepts)
    * that no retained version references (`live`, as absolute normalized
    * paths) and whose modification time is at or before `horizon`, each
    * with its `.<name>.crc` checksum sibling when it has one. With
    * `dropDirs`, a directory below a root whose data files all went loses
    * its leftover markers and goes too. Returns the number of data files
    * deleted.
    */
  def sweep(roots: Seq[Path], live: Set[Path], horizon: Long, isData: Path => Boolean,
      dropDirs: Boolean): Int =
    roots.filter(Files.exists(_)).map { root =>
      walk(root)(_.filter(Files.isRegularFile(_)).toSeq).groupBy(_.getParent).toSeq.map {
        case (dir, entries) =>
          val data = entries.filter(isData)
          val dead = data.filter(p => !live(p.toAbsolutePath.normalize) &&
            Files.getLastModifiedTime(p).toMillis <= horizon)
          dead.foreach { p =>
            Files.delete(p)
            Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
          }
          if (dropDirs && data.nonEmpty && dead.size == data.size && dir != root) {
            entries.filterNot(isData).foreach(Files.deleteIfExists)
            Files.deleteIfExists(dir)
          }
          dead.size
      }.sum
    }.sum

  /** The change feed: each commit's frames of changed rows, tagged with
    * `_change_type` (when the frame lacks it) and `_commit_version`,
    * unioned by name over an empty frame of `schema` (the newest one;
    * older frames surface NULL for columns they lack).
    */
  def changeFeed(spark: SparkSession, schema: StructType,
      changes: Seq[(Long, String, DataFrame)]): DataFrame =
    changes.map { case (v, t, df) =>
      (if (t == null) df else df.withColumn("_change_type", lit(t)))
        .withColumn("_commit_version", lit(v))
    }.foldLeft(spark.createDataFrame(java.util.List.of[Row](), schema)
      .withColumn("_change_type", lit("")).withColumn("_commit_version", lit(0L)))(
      _.unionByName(_, allowMissingColumns = true))
}
