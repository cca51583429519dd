package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Layered-table sources and sinks (SURVEY.md §2.1 S1–S9): schema-declared
  * CSV ingest with PERMISSIVE corrupt-record capture, layer reads,
  * plain writes, catalog registration, and existence probes.
  *
  * The environment ships no Delta jars. Every medallion table is on a
  * log: Bronze is a `_delta_log` table ([[DeltaInterop]]), appended per
  * batch and partitioned by date (reference bug B3 fixed: partition by
  * day, never by raw timestamp), and every later table is a
  * [[VersionedTable]]. So no layer write here swaps directories, and
  * [[readLayer]] reads any layer through its log. Reference: the
  * reference's bronze/bronze_rx_claims_load.py:37-77 and
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
    * reads its latest version, any other path as a `_delta_log` table
    * ([[DeltaInterop.read]]). Either way only live files are read, deleted
    * rows masked, and the schema and partition values the log records
    * declared, so no job infers a schema or lists a directory.
    */
  def readLayer(spark: SparkSession, path: String): DataFrame =
    VersionedTable.latestVersion(path)
      .fold(DeltaInterop.read(spark, path))(VersionedTable.readVersion(spark, path, _))

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

  /** S9: existence probe (the parquet analog of DeltaTable.isDeltaTable):
    * the path exists and holds an entry.
    */
  def layerExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  /** S6/S7: catalog registration — saveAsTable for managed tables, or
    * DDL over an existing path for external ones.
    */
  def registerTable(spark: SparkSession, name: String, path: String): Unit =
    spark.sql(s"CREATE TABLE IF NOT EXISTS $name USING parquet LOCATION '$path'")

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
