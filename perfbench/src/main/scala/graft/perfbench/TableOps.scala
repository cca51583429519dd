package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** table_ops: one `VersionedTable` driven by the seeded op stream — point
  * and range reads with file skipping, time travel and the change feed
  * beside DV merges, pruned merges, deletes and appends, with compaction
  * and Z-ORDER in every block. The generator's blocks run in order; the
  * table carries over from block to block.
  *
  * A read op fetches its rows to the client; untimed, they are reduced
  * to the digest the reference model predicts: row count and the sums of
  * k, price_cents and l_quantity.
  */
object TableOps {
  def run(ctx: Ctx): Unit = new TableOps(ctx).run()

  private def digest(rows: Seq[Row]): Seq[Long] = Seq(rows.size.toLong,
    rows.map(_.getAs[Long]("k")).sum, rows.map(_.getAs[Long]("price_cents")).sum,
    rows.map(_.getAs[Long]("l_quantity")).sum)
}

final class TableOps(ctx: Ctx) {
  import ctx.spark
  import TableOps.digest

  private val path = s"${ctx.work}/table_ops/table"
  private val schema = spark.read.parquet(ctx.str("seed")).schema
  private val nFiles = ctx.num("files").toInt
  private val zA = ctx.node("zorder").get(0).asText
  private val zB = ctx.node("zorder").get(1).asText
  private val ops = ctx.node("ops").elements().asScala.toIndexedSeq
  private val versionAfter = mutable.Map[Int, Long](-1 -> 0L)
  // op sources arrive as client-side row batches (local relations)
  private def source(i: Int): (DataFrame, Long) = {
    val f = f"${ctx.str("src_dir")}/s$i%04d.parquet"
    (spark.createDataFrame(spark.read.parquet(f).collect().toSeq.asJava, schema),
      java.nio.file.Files.size(java.nio.file.Paths.get(f)))
  }

  def run(): Unit = {
    ctx.timeSetup("prepare_s") {
      val seed = spark.read.parquet(ctx.str("seed")).collect().toSeq
      VersionedTable.write(spark.createDataFrame(seed.asJava, schema).repartition(nFiles),
        path, SaveMode.Overwrite)
    }
    // warm-up: the stream's first ops, untimed
    val warm = ctx.num("warmup_ops").toInt
    ctx.timeSetup("warmup_s")((0 until warm).foreach(i => exec(i, record = false)))
    val perBlock = ctx.num("block_ops").toInt
    var next = warm
    ctx.loop((ops.size - warm) / perBlock) { _ =>
      (0 until perBlock).foreach { _ => exec(next, record = true); next += 1 }
    }
    // end of run (untimed): table shape, space amplification, final digest
    val latest = VersionedTable.latestVersion(path).get
    val all = Disk.snap(path)
    val compact = s"${ctx.work}/table_ops/compact_copy"
    VersionedTable.read(spark, path).coalesce(1).write.parquet(compact)
    val compactBytes = Disk.bytes(Disk.snap(compact).filter(_._1.endsWith(".parquet")))
    Disk.rm(compact)
    ctx.extra ++= Seq("ops_done" -> next, "log_versions" -> VersionedTable.versions(path).size,
      "live_files" -> VersionedTable.files(path, latest).size,
      "dv_files" -> VersionedTable.dvFiles(path, latest).size,
      "table_bytes" -> Disk.bytes(all), "compact_bytes" -> compactBytes)
    ctx.checks += Map("final" -> digest(VersionedTable.read(spark, path).collect().toSeq),
      "ops_done" -> next)
  }

  private def exec(i: Int, record: Boolean): Unit = {
    val o = ops(i)
    val kind = o.get("kind").asText
    def layer[T](body: => T): T = ctx.layer(s"VersionedTable.$kind")(body)
    def readOut(r: (DataFrame, Long, Long)): Array[Row] = {
      ctx.trace.annotate("files_read", r._2)
      ctx.trace.annotate("files_total", r._3)
      r._1.collect()
    }
    // the op's input rows are loaded before the timed region
    val (src, srcBytes) = if (o.has("source")) source(o.get("source").asInt) else (null, 0L)
    val before = if (record) Disk.snap(path) else Map.empty[String, (Long, Long)]
    val (out, rec) = ctx.op(kind) {
      layer {
        kind match {
          case "mergeCommitDV" | "mergeCommitPruned" | "write" =>
            kind match {
              case "mergeCommitDV" => VersionedTable.mergeCommitDV(spark, path, src, Seq("k"))
              case "mergeCommitPruned" =>
                VersionedTable.mergeCommitPruned(spark, path, src, Seq("k"))
              case _ => VersionedTable.write(src, path, SaveMode.Append)
            }
            None
          case "deleteWhere" =>
            VersionedTable.deleteWhere(spark, path,
              col("k").between(o.get("lo").asLong, o.get("hi").asLong))
            None
          case "compact" => VersionedTable.compact(spark, path); None
          case "optimizeZOrder" => VersionedTable.optimizeZOrder(spark, path, zA, zB, nFiles); None
          case "readWhereEquals" =>
            Some(readOut(VersionedTable.readWhereEquals(spark, path, "k", o.get("key").asLong)))
          case "readWhere" =>
            Some(readOut(VersionedTable.readWhere(spark, path, "k", o.get("lo").asLong,
              o.get("hi").asLong)))
          case "readVersion" =>
            Some(VersionedTable.readVersion(spark, path,
              versionAfter(o.get("after_op").asInt)).collect())
          case "changes" =>
            Some(VersionedTable.changes(spark, path, versionAfter(o.get("from_op").asInt),
              VersionedTable.latestVersion(path).get).collect())
        }
      }
    }
    versionAfter(i) = VersionedTable.latestVersion(path).get
    if (!record) return
    rec ++= Seq("op" -> i, "created_bytes" -> Disk.created(before, Disk.snap(path)),
      "input_bytes" -> srcBytes)
    out.foreach { rows =>
      rec("digest") =
        if (kind == "changes") {
          val byType = rows.toSeq.groupBy(_.getAs[String]("_change_type"))
          Map("insert" -> digest(byType.getOrElse("insert", Nil)),
            "delete" -> digest(byType.getOrElse("delete", Nil)))
        } else digest(rows.toSeq)
    }
  }
}
