package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.functions.TextAnalysis
import graft.operators.IncrementalView
import graft.sources.VersionedTable

/** End-to-end streaming curation pipeline: quality gate → streaming
  * exact-dedup admission → atomic versioned commits → change-feed-driven
  * incremental view maintenance. Each component is spec'd alone
  * elsewhere; this proves they compose — the shape a continuous-crawl
  * corpus build actually runs.
  */
class CurationPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("gate -> dedup ingest -> versioned commits -> incremental view ≡ recompute") {
    val feedDir = tempDir("cur_feed")
    val table = tempDir("cur_vt").resolve("docs").toString
    val gateMinTokens = 5

    // ---- phase 1: first crawl batch (the fixture corpus)
    Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      feedDir.resolve("a.parquet"))
    val gated = CorpusStreams.readDocuments(spark, feedDir.toString)
      .filter(size(TextAnalysis.tokens($"text")) >= gateMinTokens)
    val q = CorpusStreams.ingestDeduped(gated, table,
      tempDir("cur_ckpt").toString)
    q.processAllAvailable()
    val v1 = VersionedTable.latestVersion(table).get

    // the view after the first crawl, maintained incrementally from here
    val keys = Seq("source")
    var view = IncrementalView.full(
      VersionedTable.read(spark, table), keys, "n_chars")
      .as[(String, Long, java.math.BigDecimal)].collect().toSeq

    // ---- phase 2: replayed content (new ids), junk below the gate,
    // and genuinely novel docs
    Tables.documents(spark, sf)
      .select(($"doc_id" + 5000000L).as("doc_id"), $"text", $"lang",
        $"source", $"n_chars")
      .unionByName(Seq(
        (9000001L, "a genuinely novel doc about stats sidecar pruning paths",
          "en", "srcNew", 55L),
        (9000002L, "tiny junk", "en", "srcNew", 9L)) // fails the gate
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .coalesce(1).write.mode("append").parquet(feedDir.toString)
    q.processAllAvailable()
    q.stop()
    val v2 = VersionedTable.latestVersion(table).get
    assert(v2 > v1, "the novel doc must commit a new version")

    // exactly one admission: the gated junk and every replay rejected
    val admitted = VersionedTable.read(spark, table)
    assert(admitted.filter($"doc_id" === 9000001L).count() == 1)
    assert(admitted.filter($"doc_id" === 9000002L).count() == 0,
      "below-gate docs must never reach the corpus")
    assert(admitted.filter($"doc_id" >= 5000000L && $"doc_id" < 9000000L)
      .count() == 0, "replays must be rejected by fingerprint")

    // ---- phase 3: maintain the per-source view from the change feed
    // (delta aggregate over the change slice only), compare to recompute
    val delta = IncrementalView.delta(
      VersionedTable.changes(spark, table, v1, v2), keys, "n_chars")
    val merged = IncrementalView.merge(
      view.toDF("source", "n_rows", "total"), delta, keys)
      .as[(String, Long, java.math.BigDecimal)].collect().toSet
    val recomputed = IncrementalView.full(
      VersionedTable.read(spark, table), keys, "n_chars")
      .as[(String, Long, java.math.BigDecimal)].collect().toSet
    assert(merged.map(t => (t._1, t._2, t._3.stripTrailingZeros)) ==
      recomputed.map(t => (t._1, t._2, t._3.stripTrailingZeros)),
      "incremental maintenance must equal the full recompute")
    graft.CacheScope.drain(spark)
  }
}
