package graft.sources

import java.nio.file.{Files, Path => JPath, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Layered-table sources and sinks (SURVEY.md §2.1 S1–S9): schema-declared
  * CSV ingest with PERMISSIVE corrupt-record capture, layer reads,
  * append/overwrite writes partitioned by date (reference bug B3 fixed:
  * partition by day, never by raw timestamp), catalog registration, and
  * existence probes.
  *
  * The environment ships no Delta jars. Bronze is plain parquet, appended
  * per batch; every later medallion table is a [[VersionedTable]], which
  * commits through its log, so no layer write here swaps directories.
  * [[readLayer]] is the one read for both kinds: it reads a table's log
  * when it has one. Reference: the reference's
  * bronze/bronze_rx_claims_load.py:37-77 and
  * gold/gold_rx_claims_load.py:74-79,226-232.
  */
object LayerIO {

  /** S1: schema-enforced CSV batch read, PERMISSIVE mode, corrupt rows
    * captured in `_corrupt_record` instead of failing the load.
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema.add("_corrupt_record", "string"))
      .csv(path)

  /** S1b: schema-on-read CSV — the reference Bronze's literal ingest
    * mode (`inferSchema=true`,
    * /root/reference/bronze/bronze_rx_claims_load.py:37-42): Spark scans
    * the file once to infer column types, then reads with the inferred
    * schema. [[readCsv]]'s declared-schema form stays the engineering
    * default (inference costs a full extra pass at any scale and can
    * silently widen a column's type between daily loads — the
    * schema-evolution append then forks the table); this entry point
    * exists for the explore-unknown-files workflow, where no schema
    * exists yet to declare. Corrupt-capture note: PERMISSIVE mode is
    * still set, but Spark only materializes `_corrupt_record` when a
    * schema declares it — inference drops unparseable rows' fields to
    * null instead, which is exactly the reference's behavior.
    */
  def readCsvInferred(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** S2: layer table read by path, the one read entry point for every
    * layer. A [[VersionedTable]] (a `<path>/_graft_log` with a version)
    * reads its latest version through the log: only live files, deleted
    * rows masked, the recorded schema declared. A plain parquet directory
    * reads under the schema of one of its files, read from that file's
    * footer on the driver (see [[firstDataFile]]) instead of by an
    * inference job; partition columns are still discovered from the
    * directory names.
    */
  def readLayer(spark: SparkSession, path: String): DataFrame =
    VersionedTable.latestVersion(path) match {
      case Some(v) => VersionedTable.readVersion(spark, path, v)
      case None => firstDataFile(Paths.get(path))
        .fold(spark.read.parquet(path))(f => spark.read.schema(FileStats.sparkSchema(f)).parquet(path))
    }

  /** The first data file under `dir`, walking it in sorted name order and skipping
    * hidden names (a leading `_` or `.`: `_SUCCESS`, checksums, a log).
    * Its footer stands for the directory's schema, as every file of a
    * layer this library writes plainly shares its writer's schema. None
    * when `dir` holds no such file.
    */
  private def firstDataFile(dir: JPath): Option[JPath] = {
    def visible(p: JPath): Boolean = !Seq("_", ".").exists(p.getFileName.toString.startsWith)
    def first(p: JPath): Option[JPath] =
      if (!Files.isDirectory(p)) Some(p)
      else TableCore.listDir(p)(_.filter(visible).toSeq.sortBy(_.toString))
        .iterator.flatMap(first).nextOption()
    if (Files.exists(dir)) first(dir) else None
  }

  /** JSON-lines ingest with the same PERMISSIVE/corrupt-capture contract
    * as [[readCsv]] — the landing format of most event feeds. Schema
    * declared, never inferred: inference costs a full extra pass and can
    * silently widen types between runs.
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema.add("_corrupt_record", "string"))
      .json(path)

  /** JSON-lines sink (text-format interchange; parquet stays the layer
    * format — JSONL is for handoff to systems that can't read parquet).
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** ORC round trip — the other columnar format Spark ships natively;
    * same predicate-pushdown/column-pruning behavior as parquet, so a
    * layer can be ORC end-to-end by changing only these two calls.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** S9: existence probe (the parquet analog of DeltaTable.isDeltaTable)
    * driving the reference's append-vs-create branch.
    */
  def layerExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  /** S4: append write (first write creates). */
  def appendLayer(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** S5: overwrite write partitioned by a DATE column (B3 fix). Callers
    * derive `partitionCol` with to_date — one directory per day, the
    * pruning unit for incremental readers.
    */
  def overwritePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(path)

  /** S6/S7: catalog registration — saveAsTable for managed tables, or
    * DDL over an existing path for external ones.
    */
  def registerTable(spark: SparkSession, name: String, path: String): Unit =
    spark.sql(s"CREATE TABLE IF NOT EXISTS $name USING parquet LOCATION '$path'")

  /** The reference's append-or-create ingest shape (bronze:54-74) in one
    * call: create partitioned on first load, append afterwards.
    */
  def appendOrCreate(df: DataFrame, spark: SparkSession, path: String,
      partitionCol: String): Unit =
    if (layerExists(spark, path))
      df.write.mode(SaveMode.Append).partitionBy(partitionCol).parquet(path)
    else
      overwritePartitioned(df, path, partitionCol)

  /** Bucketed managed table: pre-hash-partitions rows by the join key at
    * write time so repeated fact⋈fact / fact⋈large-dim joins read both
    * sides co-located and SKIP the shuffle entirely — the write-once,
    * join-many trade a 100 TB fact table wants. (Bucketing requires the
    * catalog, hence saveAsTable; see BucketedJoinSpec for the
    * no-Exchange plan proof.)
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }
}
