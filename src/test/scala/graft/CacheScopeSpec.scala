package graft

/** The cache lifecycle the harness relies on: every heavy query registers
  * its persisted intermediates with [[CacheScope]], and a post-terminal
  * [[CacheScope.drain]] must leave the session with ZERO persisted RDDs
  * and an empty SQL cache — otherwise a 60+-query Verify/Bench session
  * strands storage memory query after query.
  */
class CacheScopeSpec extends SparkSpec {

  /** Run a registry query exactly as Verify does: materialize fully,
    * then drain; assert nothing stays persisted.
    */
  private def drainedAfter(name: String): Unit = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.write.format("noop").mode("overwrite").save() // terminal action
    CacheScope.drain(spark)
    val live = spark.sparkContext.getPersistentRDDs
    assert(live.isEmpty,
      s"$name left ${live.size} persisted RDDs after drain: " +
        live.values.map(_.name).mkString(", "))
    assert(spark.sharedState.cacheManager.isEmpty,
      s"$name left entries in the SQL cache after drain")
  }

  test("MinHash LSH (multi-persist candidate pipeline) drains clean") {
    drainedAfter("q27_minhash_lsh")
  }

  test("PrefixSum-backed packing drains clean") {
    drainedAfter("q49_pack_sequences")
  }

  test("incremental rollup (persisted fact) drains clean") {
    drainedAfter("q53_incremental_rollup")
  }

  test("connected components (localCheckpoint blocks) drains clean") {
    drainedAfter("q55_dup_clusters")
  }

  /** unpersist(blocking=false) removes blocks asynchronously: poll
    * until the RDD id leaves the persistent registry (bounded wait).
    */
  private def eventuallyFreed(id: Int): Boolean = {
    var waited = 0
    while (spark.sparkContext.getPersistentRDDs.contains(id) && waited < 5000) {
      Thread.sleep(50); waited += 50
    }
    !spark.sparkContext.getPersistentRDDs.contains(id)
  }

  test("freeLocalCheckpoint releases the checkpoint's blocks for real") {
    import spark.implicits._
    val snap = (1L to 1000L).toDF("n").localCheckpoint(true)
    val id = snap.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id
    assert(spark.sparkContext.getPersistentRDDs.contains(id),
      "checkpoint blocks should be pinned before the free")
    // Dataset.unpersist is the documented no-op: blocks survive it
    snap.unpersist(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.contains(id),
      "Dataset.unpersist must not free checkpoint blocks (they bypass " +
        "the CacheManager) — if this starts freeing, freeLocalCheckpoint " +
        "is redundant")
    CacheScope.freeLocalCheckpoint(snap)
    assert(eventuallyFreed(id),
      "freeLocalCheckpoint left the checkpoint RDD pinned")
    CacheScope.drain(spark)
  }

  test("freeLocalCheckpoint no-ops on a DERIVED plan over a checkpoint") {
    import spark.implicits._
    // structural contract: only the Dataset whose plan ROOT is the
    // checkpoint RDD frees blocks — a derived plan merely REFERENCING
    // the checkpoint must not, because other readers of the shared
    // snapshot could not recompute a truncated lineage
    val snap = (1L to 1000L).toDF("n").localCheckpoint(true)
    val id = snap.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id
    val derived = snap.filter("n % 2 = 0")
      .select(org.apache.spark.sql.functions.col("n") * 2 as "m")
    CacheScope.freeLocalCheckpoint(derived)
    Thread.sleep(300) // async removal would land within this window
    assert(spark.sparkContext.getPersistentRDDs.contains(id),
      "freeLocalCheckpoint freed blocks through a derived plan")
    CacheScope.freeLocalCheckpoint(snap)
    assert(eventuallyFreed(id))
    CacheScope.drain(spark)
  }

  test("iterative operators pin a BOUNDED number of snapshots (budget)") {
    import spark.implicits._
    // the storage budget for iterative graph operators: at any point
    // during the loop, TWO round snapshots (previous + next) plus the
    // operator's initial canon — NOT O(rounds). Observed post-run: the
    // final snapshot and the canon may remain pinned (the result plan
    // reads them); every intermediate round must already be freed.
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .toDF("a", "b")
    val out = graft.operators.ConnectedComponents.components(edges, "a", "b")
    out.write.format("noop").mode("overwrite").save()
    // long-chain graphs run many rounds; leak = pinned RDD count grows
    // with rounds. Allow the result's own live snapshots only.
    val live = spark.sparkContext.getPersistentRDDs
    assert(live.size <= 3,
      s"expected <=3 pinned RDDs after an iterative run (final snapshot " +
        s"+ canon), found ${live.size}: ${live.keys.mkString(", ")}")
    CacheScope.drain(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("drained query re-runs correctly (no stale CacheManager entry)") {
    // multiset compare (sorted seq, not toSet): a stale-cache bug that
    // duplicated or dropped repeated rows must not slip through
    val a = SparkEntry.queries("q27_minhash_lsh")(spark, sf)
      .collect().toSeq.map(_.toString).sorted
    CacheScope.drain(spark)
    val b = SparkEntry.queries("q27_minhash_lsh")(spark, sf)
      .collect().toSeq.map(_.toString).sorted
    CacheScope.drain(spark)
    assert(a == b)
  }

  test("released frees what its own thread registered, not another thread's registrations") {
    import spark.implicits._
    val inside = (1L to 100L).toDF("n")
    val beside = (1L to 200L).toDF("m")
    val registered = new java.util.concurrent.CountDownLatch(1)
    val other = new Thread(() => {
      CacheScope.persisted(beside).count()
      registered.countDown()
    })
    val out = CacheScope.released {
      CacheScope.persisted(inside).count()
      other.start()
      registered.await()
      "done"
    }
    other.join()
    assert(out == "done")
    assert(!inside.storageLevel.isValid, "the body's registration stays cached")
    assert(beside.storageLevel.useMemory, "another thread's registration was released")
    CacheScope.drain(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
