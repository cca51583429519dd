package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.functions.TextAnalysis
import graft.sources.VersionedTable

class CorpusStreamsSpec extends SparkSpec {
  import spark.implicits._

  test("dedup-on-ingest admits each distinct fingerprint once across batches") {
    val feedDir = tempDir("docs_feed")
    val table = tempDir("corpus_vt").resolve("docs").toString

    // batch 1: the corpus itself
    Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      feedDir.resolve("a.parquet"))
    val q = CorpusStreams.ingestDeduped(
      CorpusStreams.readDocuments(spark, feedDir.toString), table,
      tempDir("ckpt_corpus").toString)
    q.processAllAvailable()

    val distinctFps = Tables.documents(spark, sf)
      .select(TextAnalysis.fingerprint($"text")).distinct().count()
    assert(VersionedTable.read(spark, table).count() == distinctFps)

    // batch 2: full replay under NEW ids + genuinely new docs — only the
    // new docs may be admitted
    Tables.documents(spark, sf)
      .select(($"doc_id" + 5000000L).as("doc_id"), $"text", $"lang",
        $"source", $"n_chars")
      .unionByName(Seq((9000001L, "a genuinely novel document about prefix sums",
        "en", "src99", 44L),
        (9000002L, "another novel document mentioning bloom filters",
          "en", "src99", 47L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .coalesce(1).write.mode("append").parquet(feedDir.toString)
    q.processAllAvailable()
    q.stop()

    val admitted = VersionedTable.read(spark, table)
    assert(admitted.count() == distinctFps + 2,
      "re-fingered duplicates must not be re-admitted; novel docs must be")
    assert(admitted.filter($"doc_id" >= 9000000L).count() == 2)
    assert(admitted.filter($"doc_id" >= 5000000L && $"doc_id" < 9000000L).count() == 0,
      "replayed content under new ids must be rejected by fingerprint")
    // fingerprints are unique in the admitted corpus — the table invariant
    assert(admitted.select("fp").distinct().count() == admitted.count())
  }

  test("NULL-text documents dedup like empty text (no unbounded NULL-fp growth)") {
    // md5(NULL) is NULL, and a NULL fp bypasses the left_anti dedup
    // (NULL never matches NULL in a plain join): every batch carrying a
    // null-text doc would admit one more duplicate forever
    val feedDir = tempDir("docs_null_feed")
    val table = tempDir("corpus_null").resolve("docs").toString
    def batchOf(ids: Seq[Long]): Unit =
      ids.map(i => (i, Option.empty[String], "en", "s", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(feedDir.toString)
    batchOf(Seq(1L))
    val q = CorpusStreams.ingestDeduped(
      CorpusStreams.readDocuments(spark, feedDir.toString), table,
      tempDir("ckpt_null").toString)
    q.processAllAvailable()
    batchOf(Seq(2L)) // a second null-text doc in a later batch
    q.processAllAvailable()
    q.stop()
    val admitted = VersionedTable.read(spark, table)
    assert(admitted.count() == 1,
      "all null-text docs share one fingerprint; exactly one admitted")
    assert(admitted.select("fp").filter($"fp".isNull).count() == 0,
      "the stored fingerprint must be non-null")
  }

  test("appId namespaces batch tags: two queries into one table cannot collide") {
    // without the namespace, query B's batch 0 carried the same tag as
    // query A's batch 0 and B's data was silently dropped
    val table = tempDir("corpus_ns").resolve("docs").toString
    def run(app: String, id: Long, text: String): Unit = {
      val feed = tempDir(s"feed_$app")
      Seq((id, text, "en", "s", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(feed.toString)
      val q = CorpusStreams.ingestDeduped(
        CorpusStreams.readDocuments(spark, feed.toString), table,
        tempDir(s"ckpt_$app").toString, appId = app)
      q.processAllAvailable(); q.stop()
    }
    run("appA", 1L, "first query's document")
    run("appB", 2L, "second query's distinct document")
    assert(VersionedTable.read(spark, table).count() == 2,
      "both queries' batch-0 commits must land under distinct tags")
  }

  test("streaming CMS sketch over microbatches equals the batch sketch exactly") {
    // the sketch build is a plain count aggregation, so it runs as a
    // streaming stateful agg in Complete mode — and because CMS is
    // exact-deterministic (unlike order-dependent Misra–Gries), the
    // final streamed sketch must be BIT-IDENTICAL to the batch one,
    // however the input was split into batches
    val feedDir = tempDir("docs_feed_cms")
    val half = Tables.documents(spark, sf)
    half.filter($"doc_id" % 2 === 0).coalesce(1)
      .write.mode("append").parquet(feedDir.toString)
    val (depths, width) = (4, 64)
    def bucketed(df: org.apache.spark.sql.DataFrame) =
      graft.functions.CountMin.sketch(
        df.select(explode(TextAnalysis.tokens($"text")).as("tok")),
        "tok", depths, width)
    val q = bucketed(CorpusStreams.readDocuments(spark, feedDir.toString))
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    q.processAllAvailable()
    // second microbatch: the other half
    half.filter($"doc_id" % 2 === 1).coalesce(1)
      .write.mode("append").parquet(feedDir.toString)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cms_stream")
    val batch = bucketed(half)
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streamed sketch must equal the batch sketch counter-for-counter")
  }

  test("restart recovery: a new query on the same checkpoint stays exactly-once") {
    val feedDir = tempDir("docs_feed_rr")
    val table = tempDir("corpus_vt_rr").resolve("docs").toString
    val ckpt = tempDir("ckpt_rr").toString

    Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      feedDir.resolve("a.parquet"))
    val q1 = CorpusStreams.ingestDeduped(
      CorpusStreams.readDocuments(spark, feedDir.toString), table, ckpt)
    q1.processAllAvailable()
    q1.stop() // simulate driver death after batch 0 committed
    val afterFirst = VersionedTable.read(spark, table).count()
    val versionsAfterFirst = VersionedTable.latestVersion(table).get

    // new INSTANCE (fresh in-memory state) on the same checkpoint+table:
    // replays nothing, and new feed data flows through exactly once
    val q2 = CorpusStreams.ingestDeduped(
      CorpusStreams.readDocuments(spark, feedDir.toString), table, ckpt)
    q2.processAllAvailable()
    assert(VersionedTable.read(spark, table).count() == afterFirst,
      "restart must not re-admit or duplicate anything")

    Seq((7100001L, "post-restart novel doc about manifest checkpoints",
        "en", "srcR", 46L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(feedDir.toString)
    q2.processAllAvailable()
    q2.stop()
    val finalTable = VersionedTable.read(spark, table)
    assert(finalTable.count() == afterFirst + 1)
    assert(finalTable.filter($"doc_id" === 7100001L).count() == 1)
    assert(VersionedTable.latestVersion(table).get > versionsAfterFirst)
    // the dedup invariant survives the restart
    assert(finalTable.select("fp").distinct().count() == finalTable.count())
  }
}
