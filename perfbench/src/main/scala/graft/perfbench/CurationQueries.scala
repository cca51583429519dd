package graft.perfbench

import scala.jdk.CollectionConverters._

import graft.{Bench, CacheScope, SparkEntry}

/** The query half of curation_queries: a fixed list of registry queries
  * over the seeded fixture tables, each materialized through the `noop`
  * sink, in a seed-rotated order. The warm-up pass writes every query's
  * rows to parquet, with its oracle SQL, for the DuckDB check in check.py.
  */
final class QueryMix(ctx: Ctx) {
  import ctx.spark
  private val sf = ctx.str("sf_dir")
  private val names = ctx.node("queries").elements().asScala.map(_.asText).toSeq
  private val order = {
    val r = ctx.num("rotate").toInt % names.size
    names.drop(r) ++ names.take(r)
  }
  private val fams = names.map(q => q -> Bench.family(q)).toMap
  require(fams.values.forall(Set("olap", "graph", "sketch", "stream")),
    s"query list holds queries outside olap/graph/sketch/stream: $fams")

  /** Untimed: every query once, rows kept for the oracle comparison. */
  def warmup(): Unit = {
    val out = s"${ctx.work}/query_out"
    names.foreach { q =>
      SparkEntry.queries(q)(spark, sf).write.mode("overwrite").parquet(s"$out/$q")
      CacheScope.drain(spark)
    }
    ctx.checks += Map("out_dir" -> out,
      "oracle" -> names.map(q => q -> SparkEntry.oracleSql.get(q).orNull).toMap)
  }

  /** One pass over the list, one op per query. */
  def block(): Unit = order.foreach { q =>
    val (_, rec) = ctx.op("query") {
      ctx.layer(s"query_mix.${fams(q)}", "query" -> q) {
        ctx.noop(SparkEntry.queries(q)(spark, sf))
      }
    }
    rec ++= Seq("query" -> q, "family" -> fams(q))
    CacheScope.drain(spark)
  }
}

/** curation_queries: the read-side session — a curation pass with its
  * search batches, then the registry query list — as one block. The
  * curation pass runs as a batch job does, in a fresh JVM (no warm-up);
  * the queries are warmed by the pass that keeps their rows for checking.
  */
object CurationQueries {
  def run(ctx: Ctx): Unit = {
    val (cur, qm) = ctx.timeSetup("prepare_s")((new Curation(ctx), new QueryMix(ctx)))
    ctx.timeSetup("warmup_s")(qm.warmup())
    ctx.loop(ctx.num("blocks").toInt) { _ =>
      cur.block()
      qm.block()
    }
  }
}
