package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Layered-table sources and sinks (SURVEY.md §2.1 S1–S9): schema-declared
  * CSV ingest with PERMISSIVE corrupt-record capture, layer reads,
  * append/overwrite writes partitioned by date (reference bug B3 fixed:
  * partition by day, never by raw timestamp), catalog registration, and
  * existence probes.
  *
  * The environment ships no Delta jars, so the table format is parquet;
  * every write shape (append + overwrite + partitionBy + saveAsTable) has
  * identical call-site semantics, and a Delta build only changes
  * `.format(...)`. Reference: /root/reference/bronze/bronze_rx_claims_load.py:37-77,
  * /root/reference/gold/gold_rx_claims_load.py:74-79,226-232.
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

  /** S2: layer table read by path. */
  def readLayer(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** S2 with the schema known, for reading back a table the caller has
    * just written: no footer read to infer the schema, which [[readLayer]]
    * runs as a one-task Spark job before any query starts.
    */
  def readLayer(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

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

  /** Overwrite `path` via staging + swap: the full result is written to a
    * sibling staging directory FIRST, then swapped in with two renames.
    * Overwriting a path in-place while the plan still reads from it
    * (even behind a cache) recomputes from deleted files if partitions
    * evict or an executor dies mid-write — this makes the source files
    * live until the new table is complete. The swap window is two
    * metadata renames, and the previous table survives as `.old` until
    * the swap succeeds.
    */
  def overwriteViaStaging(spark: SparkSession, df: DataFrame, path: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(path + ".staging-" + java.util.UUID.randomUUID())
    val old = new Path(path + ".old-" + java.util.UUID.randomUUID())
    df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val target = new Path(path)
    if (fs.exists(target) && !fs.rename(target, old))
      throw new java.io.IOException(s"cannot stage out current table at $path")
    if (!fs.rename(staging, target)) {
      fs.rename(old, target) // restore; staging remains for inspection
      throw new java.io.IOException(s"cannot swap staged table into $path")
    }
    fs.delete(old, true)
    ()
  }

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
