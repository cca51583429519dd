package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.functions.TextAnalysis
import graft.sources.VersionedTable

/** Streaming corpus ingestion — the continuous-crawl shape of the LLM
  * data pipeline: documents arrive in micro-batches, and only documents
  * whose normalized-content fingerprint has never been admitted reach the
  * corpus table.
  *
  * The accumulated [[VersionedTable]] IS the dedup state: each batch
  * anti-joins the fingerprints already committed, so state needs no
  * separate store, survives restarts, and is exactly as durable as the
  * data it protects. Commits are atomic per micro-batch and record the
  * batch id in the table's `txn` map, so checkpoint-replayed batches are
  * skipped — exactly-once admission on top of foreachBatch's at-least-once contract.
  *
  * Scale: the anti-join is fingerprint equality — a hash shuffle keyed on
  * md5, the same one-shuffle shape as exact dedup; within a batch the
  * dedup is a ranked-window keep-first (WindowGroupLimit). The corpus
  * side prunes to one 16-byte column for the join.
  */
object CorpusStreams {

  /** The documents schema as stored (see TESTDATA.md). Streaming sources
    * must declare their schema.
    */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-based streaming read of a documents directory (parquet). */
  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema).parquet(dir)

  /** Start the dedup-on-ingest stream into `tablePath`. Admitted rows
    * carry their fingerprint (`fp`) so later batches join against a
    * stored column instead of re-hashing the whole corpus every batch.
    * Commit idempotence is [[EventStreams.txnSink]]'s (one appId per
    * checkpoint lineage).
    */
  def ingestDeduped(docs: DataFrame, tablePath: String,
      checkpointDir: String, appId: String = "corpus"): StreamingQuery =
    EventStreams.txnSink(docs, checkpointDir, appId)((batch, txn) =>
      VersionedTable.write(newDocuments(batch, tablePath), tablePath, SaveMode.Append,
        txn = Some(txn)))

  /** A batch's documents that are new to the table at `tablePath`, with
    * their fingerprint.
    */
  private def newDocuments(batch: DataFrame, tablePath: String): DataFrame = {
    val spark = batch.sparkSession
    // NULL text normalizes like empty text BEFORE hashing: md5(NULL)
    // is NULL, and a NULL fp bypasses the left_anti dedup below
    // (NULL never matches NULL in a plain join) — every batch with a
    // null-text doc would admit another duplicate forever
    val fp = batch
      .withColumn("fp", TextAnalysis.fingerprint(coalesce(col("text"), lit(""))))
    // within-batch: keep the lowest doc_id per fingerprint
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val inBatch = fp.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    // cross-batch: drop fingerprints already admitted
    if (VersionedTable.latestVersion(tablePath).isDefined)
      inBatch.join(VersionedTable.read(spark, tablePath).select("fp"),
        Seq("fp"), "left_anti")
    else inBatch
  }
}
