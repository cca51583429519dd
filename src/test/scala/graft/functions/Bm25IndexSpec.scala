package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class Bm25IndexSpec extends SparkSpec {

  test("top_k_exact keeps adjacent scores past 2^53 distinct (double carrier cannot)") {
    import spark.implicits._
    // 2^53 and 2^53 + 1 cast to the SAME double — ranked through a
    // double carrier the tie breaks by id and elects doc 1; the exact
    // Long buffer must put the truly-higher score first
    val big = 1L << 53
    val scored = Seq((7L, 1L, big), (7L, 2L, big + 1)).toDF("q", "id", "s")
    val top = scored.groupBy($"q")
      .agg(TopK.top_k_exact($"s", $"id", 2).as("tk"))
      .select(explode($"tk").as("e"))
      .select($"e.score", $"e.id").as[(Long, Long)].collect().toSeq
    assert(top == Seq((big + 1, 2L), (big, 1L)))
    // and a NULL score is dropped, matching top_k
    val withNull = Seq((7L, 1L, Some(10L)), (7L, 2L, Option.empty[Long]))
      .toDF("q", "id", "s")
    val kept = withNull.groupBy($"q")
      .agg(TopK.top_k_exact($"s", $"id", 2).as("tk"))
      .select(size($"tk")).as[Int].head()
    assert(kept == 1)
  }

  private def qt = {
    import org.apache.spark.sql.expressions.Window
    val tf = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy("doc_id").orderBy(col("tf").desc, col("term"))
    tf.filter(col("doc_id") % 97 === 0)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select(col("doc_id").as("query_id"), col("term"))
  }

  test("persisted index reproduces the in-query q250 ranking bit-for-bit") {
    val dir = tempDir("bm25idx").toString
    Bm25.buildBm25Index(graft.Tables.documents(spark, sf), "text", "doc_id", dir)
    val inQuery = graft.LlmQueries.bm25Retrieval(spark, sf)
      .collect().map(_.toString).sorted
    val persisted = Bm25.queryBm25Index(spark, dir, qt, k = 5,
        excludeSelf = true)
      .orderBy("query_id", "rank")
      .collect().map(_.toString).sorted
    assert(persisted.nonEmpty, "persisted query returned no rows")
    assert(persisted.sameElements(inQuery),
      s"persisted != in-query\npersisted: ${persisted.take(3).mkString(";")}\n" +
        s"in-query: ${inQuery.take(3).mkString(";")}")
    graft.CacheScope.drain(spark)
  }

  test("postings scan prunes to the probed term buckets (PartitionFilters)") {
    val dir = tempDir("bm25idx2").toString
    Bm25.buildBm25Index(graft.Tables.documents(spark, sf), "text", "doc_id", dir)
    val out = Bm25.queryBm25Index(spark, dir, qt.limit(3), k = 5)
    out.collect()
    val scans = out.queryExecution.executedPlan.toString
    assert(scans.contains("PartitionFilters: [bucket"),
      s"no partition pruning on the postings scan:\n$scans")
    graft.CacheScope.drain(spark)
  }

  test("query terms absent from the index score nothing and do not fail") {
    import spark.implicits._
    val dir = tempDir("bm25abs").toString
    Bm25.buildBm25Index(graft.Tables.documents(spark, sf), "text", "doc_id", dir)
    // one real query whose terms are all unindexed nonsense, one mixed
    val ghost = Seq((900001L, "zzqx9"), (900001L, "vvqk7")).toDF("query_id", "term")
    assert(Bm25.queryBm25Index(spark, dir, ghost, k = 5).count() == 0)
    val mixed = qt.limit(3).unionByName(ghost)
    val out = Bm25.queryBm25Index(spark, dir, mixed, k = 5)
    assert(out.filter(col("query_id") === 900001L).count() == 0)
    assert(out.filter(col("query_id") =!= 900001L).count() > 0)
    graft.CacheScope.drain(spark)
  }

  test("reader/appender recover the build-time bucket count from stats") {
    // build with a deliberately non-default bucket count: queries and
    // appends must land in the SAME buckets (the count is stored in
    // stats/, never caller-supplied — a mismatched count silently
    // pruned valid postings before r10)
    val dd = graft.Tables.documents(spark, sf)
    val dirOdd = tempDir("bm25odd").toString
    Bm25.buildBm25Index(dd.filter(col("doc_id") % 3 =!= 0), "text",
      "doc_id", dirOdd, buckets = 7)
    Bm25.appendToBm25Index(dd.filter(col("doc_id") % 3 === 0), "text",
      "doc_id", dirOdd)
    val dirDef = tempDir("bm25def").toString
    Bm25.buildBm25Index(dd, "text", "doc_id", dirDef)
    val odd = Bm25.queryBm25Index(spark, dirOdd, qt, k = 5, excludeSelf = true)
      .collect().map(_.toString).sorted
    val dft = Bm25.queryBm25Index(spark, dirDef, qt, k = 5, excludeSelf = true)
      .collect().map(_.toString).sorted
    assert(odd.nonEmpty && odd.sameElements(dft),
      s"7-bucket index ranking != 64-bucket (${odd.length} vs ${dft.length})")
    graft.CacheScope.drain(spark)
  }

  test("build + append equals a from-scratch build of the union corpus") {
    val dd = graft.Tables.documents(spark, sf)
    val first = dd.filter(col("doc_id") % 3 =!= 0)
    val batch = dd.filter(col("doc_id") % 3 === 0)
    val dirInc = tempDir("bm25inc").toString
    Bm25.buildBm25Index(first, "text", "doc_id", dirInc)
    Bm25.appendToBm25Index(batch, "text", "doc_id", dirInc)
    val dirFull = tempDir("bm25full").toString
    Bm25.buildBm25Index(dd, "text", "doc_id", dirFull)
    val inc = Bm25.queryBm25Index(spark, dirInc, qt, k = 5, excludeSelf = true)
      .collect().map(_.toString).sorted
    val full = Bm25.queryBm25Index(spark, dirFull, qt, k = 5, excludeSelf = true)
      .collect().map(_.toString).sorted
    assert(inc.nonEmpty && inc.sameElements(full),
      s"incremental != full (${inc.length} vs ${full.length} rows)")
    graft.CacheScope.drain(spark)
  }

  test("append rejects duplicate doc_ids LOUDLY and leaves the index untouched") {
    // re-appending an id double-counted postings/doclens/nd silently
    // (documented hazard through r15); the gate runs BEFORE any write,
    // so a rejected batch must leave every index table byte-stable
    val dd = graft.Tables.documents(spark, sf)
    val dir = tempDir("bm25dup").toString
    Bm25.buildBm25Index(dd.filter(col("doc_id") % 3 =!= 0), "text",
      "doc_id", dir)
    val before = Bm25.queryBm25Index(spark, dir, qt, k = 5,
      excludeSelf = true).collect().map(_.toString).sorted
    val dupBatch = dd.filter(col("doc_id") % 3 === 0 ||
      col("doc_id") % 3 === 1) // % 3 === 1 ids already indexed
    val e = intercept[IllegalArgumentException] {
      Bm25.appendToBm25Index(dupBatch, "text", "doc_id", dir)
    }
    assert(e.getMessage.contains("already exist"), e.getMessage)
    val after = Bm25.queryBm25Index(spark, dir, qt, k = 5,
      excludeSelf = true).collect().map(_.toString).sorted
    assert(after.sameElements(before), "failed append mutated the index")
    graft.CacheScope.drain(spark)
  }
}
