package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.sources.LayerIO

/** medallion_batches: the seeded lineitem feed, batch by batch, through
  * `Pipeline.runBronze` → `runSilver` → `runGold`. Batch 0 is the initial
  * load (set-up, untimed); every later batch is one block of one timed op —
  * an incremental load carrying re-delivered keys. At the end (untimed)
  * the layers are read back against the feed's model, and a no-op re-run
  * must change nothing.
  */
object Medallion {
  def run(ctx: Ctx): Unit = {
    val fixtures = ctx.str("fixtures_dir")
    val batches = ctx.node("batches").elements().asScala.toSeq
      .map(b => (b.get("path").asText, b.get("rows").asLong, b.get("bytes").asLong))
    val root = s"${ctx.work}/medallion"
    ctx.timeSetup("prepare_s")(load(ctx, root, batches.head, 0, fixtures))
    var done = 0
    ctx.loop(batches.size - 1) { blk =>
      val b = blk + 1
      val before = Disk.snap(root)
      val (silverRows, rec) = ctx.op("batch")(load(ctx, root, batches(b), b, fixtures))
      rec ++= Seq("batch" -> b, "rows" -> batches(b)._2, "input_bytes" -> batches(b)._3,
        "created_bytes" -> Disk.created(before, Disk.snap(root)), "silver_rows" -> silverRows)
      done = b
    }
    ctx.checks += (layerCheck(ctx, Pipeline.LayerPaths(root), fixtures) + ("batch" -> done))
  }

  /** One batch through the three layers; returns Silver's row count. */
  private def load(ctx: Ctx, root: String, batch: (String, Long, Long), b: Int,
      fixtures: String): Long = {
    val spark = ctx.spark
    val paths = Pipeline.LayerPaths(root)
    val raw = spark.read.parquet(batch._1)
    ctx.layer("Pipeline.runBronze") {
      measured(ctx, root, root + "/bronze") {
        Pipeline.runBronze(spark, raw, paths, f"load_$b%03d",
          f"2026-01-01 ${b / 60}%02d:${b % 60}%02d:00")
      }
    }
    val n = ctx.layer("Pipeline.runSilver") {
      measured(ctx, root, root + "/silver")(Pipeline.runSilver(spark, paths))
    }
    ctx.layer("Pipeline.runGold") {
      measured(ctx, root, root + "/gold")(Pipeline.runGold(spark, paths, fixtures))
    }
    n
  }

  /** In a traced run, annotate the layer span with the bytes it wrote
    * and its table's size after the call (rewrite fraction).
    */
  private def measured[T](ctx: Ctx, root: String, table: String)(body: => T): T =
    if (!ctx.trace.isActive) body
    else {
      val before = Disk.snap(root)
      val out = body
      val after = Disk.snap(root)
      val tableAfter = after.filter(_._1.startsWith(table))
      ctx.trace.annotate("created_bytes", Disk.created(before, after))
      ctx.trace.annotate("table_bytes", Disk.bytes(tableAfter))
      out
    }

  private def layerCheck(ctx: Ctx, paths: Pipeline.LayerPaths,
      fixtures: String): Map[String, Any] = {
    import ctx.spark
    val silver = LayerIO.readLayer(spark, paths.silver)
    val s = silver.agg(count(lit(1)), sum(col("price_dec"))).head()
    val f = LayerIO.readLayer(spark, paths.fact).agg(count(lit(1)),
      sum(when(col("member_sk").isNull || col("provider_sk").isNull ||
        col("service_date_key").isNull, 1L).otherwise(0L))).head()
    val (factRows, nullSk) = (f.getLong(0), f.getLong(1))
    val rollupLines = LayerIO.readLayer(spark, paths.rollup)
      .agg(sum(col("n_lines"))).head().getLong(0)
    // the no-op re-run: nothing above the watermark, nothing changes
    val rerunSilver = Pipeline.runSilver(spark, paths)
    Pipeline.runGold(spark, paths, fixtures)
    val factAfterRerun = LayerIO.readLayer(spark, paths.fact).count()
    Map("silver_rows" -> s.getLong(0),
      "silver_price_cents" -> s.getDecimal(1).movePointRight(2).longValueExact(),
      "fact_rows" -> factRows, "fact_null_sk" -> nullSk, "rollup_lines" -> rollupLines,
      "rerun_silver_rows" -> rerunSilver, "fact_rows_after_rerun" -> factAfterRerun)
  }
}
