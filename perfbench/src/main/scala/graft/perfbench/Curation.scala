package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.CacheScope
import graft.functions.{DedupOps, Packing, Sampling, SimilarityOps, TextAnalysis}
import graft.operators.ConnectedComponents

/** The curation half of curation_queries: the README cookbook over the
  * seeded corpus — exact dedup → MinHash-LSH near-dup pairs → connected
  * components → decontamination against the eval set → importance
  * weights → sequence packing — as one `curate` op, followed by top-k
  * search batches over the embedding corpus. Each step is materialized
  * inside its own layer span so the trace can split the pass; the pass's
  * caches are drained untimed.
  */
final class Curation(ctx: Ctx) {
  import ctx.spark
  private val docs = spark.read.parquet(ctx.str("docs"))
  private val evalDocs = spark.read.parquet(ctx.str("eval"))
  private val corpus = spark.read.parquet(ctx.str("embeddings")).select("vec_id", "embedding")
  private val k = ctx.num("k").toInt
  private val batches = {
    val q = spark.read.parquet(ctx.str("query_vectors"))
    val schema = q.schema
    q.collect().groupBy(_.getAs[Int]("batch")).toSeq.sortBy(_._1).map { case (_, rows) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).select("query_id", "query_vec")
    }
  }
  private val nDocs = ctx.num("docs_count").toLong

  private def search(b: Int): Unit = {
    val (rows, rec) = ctx.op("search") {
      ctx.layer("SimilarityOps.bruteForceTopK") {
        SimilarityOps.bruteForceTopK(batches(b), corpus, k).collect()
      }
    }
    rec ++= Seq("batch" -> b, "result" -> rows.map(r =>
      Seq(r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSeq)
  }

  /** One curate op, then one search op per query batch. */
  def block(): Unit = {
    val (summary, rec) = ctx.op("curate")(Curation.pass(ctx, docs, evalDocs))
    rec ++= Seq("docs" -> nDocs) ++ summary()
    batches.indices.foreach(search)
  }
}

object Curation {
  /** One cookbook pass. Returns, for the untimed part, a function that
    * gathers the outputs the checks compare and drains the pass's caches.
    */
  def pass(ctx: Ctx, docs: DataFrame, evalDocs: DataFrame): () => Seq[(String, Any)] = {
    val spark = ctx.spark
    var cachedPeak = 0.0
    def step[T](name: String)(body: => T): T = ctx.layer(name) {
      val out = body
      if (ctx.trace.isActive) cachedPeak = math.max(cachedPeak, ctx.cachedMb)
      out
    }
    val kept = step("DedupOps.exactDedup") {
      val reps = DedupOps.exactDedup(docs, "text", "doc_id").select(col("keep_id").as("doc_id"))
      val k = CacheScope.persisted(docs.join(reps, "doc_id"))
      k.count()
      k
    }
    val pairs = step("DedupOps.minhashLshPairs") {
      val p = DedupOps.minhashLshPairs(kept, "text", "doc_id").collect()
      ctx.trace.annotate("pairs", p.length)
      p
    }
    val pairsDf = spark.createDataFrame(pairs.toSeq.asJava,
      org.apache.spark.sql.types.StructType.fromDDL("doc_a long, doc_b long, jaccard double"))
    val comp = step("ConnectedComponents.components") {
      ConnectedComponents.components(pairsDf, "doc_a", "doc_b").collect()
    }
    val compDf = spark.createDataFrame(comp.toSeq.asJava,
      org.apache.spark.sql.types.StructType.fromDDL("id long, component long"))
    val deduped = CacheScope.persisted(kept.join(compDf, kept("doc_id") === compDf("id"), "left")
      .where(compDf("id").isNull || compDf("id") === compDf("component"))
      .select(kept.columns.map(kept(_)): _*))
    val overlap = step("DedupOps.crossCorpusOverlap") {
      DedupOps.crossCorpusOverlap(deduped, evalDocs, "text", "doc_id")
        .select("train_id", "eval_id").collect()
    }
    val clean = deduped.join(
      spark.createDataFrame(overlap.map(r => Row(r.getLong(0))).toSeq.asJava,
        org.apache.spark.sql.types.StructType.fromDDL("doc_id long")).distinct(),
      Seq("doc_id"), "left_anti")
    val weighted = step("Sampling.importanceWeights") {
      val w = CacheScope.persisted(clean.join(Sampling.importanceWeights(clean,
        array_contains(TextAnalysis.tokens(col("text")), ctx.str("target_token"))), "doc_id"))
      w.count()
      w
    }
    val packed = step("Packing.packSequences") {
      Packing.packSequences(weighted, col("doc_id"), size(TextAnalysis.tokens(col("text"))),
        capacity = ctx.num("capacity").toInt).agg(count(lit(1)), max(col("pack_id"))).head()
    }
    () => {
      val out = Seq("kept" -> kept.count(), "deduped" -> deduped.count(),
        "weighted" -> weighted.count(), "packed" -> packed.getLong(0),
        "packs" -> (packed.getLong(1) + 1),
        "pairs" -> pairs.map(r => Seq(r.getLong(0), r.getLong(1))).toSeq,
        "components" -> comp.map(r => Seq(r.getLong(0), r.getLong(1))).toSeq,
        "overlap" -> overlap.map(r => Seq(r.getLong(0), r.getLong(1))).toSeq,
        "cached_mb_peak" -> cachedPeak)
      CacheScope.drain(spark)
      out
    }
  }
}
