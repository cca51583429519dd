package graft.sources

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class ClusteringStatsSpec extends SparkSpec {
  import spark.implicits._

  lazy val root: String = tempDir("cluster").toString

  /** Sum over files of per-file bounding-box area in (days × suppkey)
    * space — small when files are spatially local.
    */
  private def boxArea(path: String): Double =
    spark.read.parquet(path)
      .withColumn("days", datediff(to_date($"l_shipdate"), lit("1992-01-01")))
      .groupBy(input_file_name())
      .agg(((max($"days") - min($"days") + 1) *
        (max($"l_suppkey") - min($"l_suppkey") + 1)).as("area"))
      .agg(sum($"area")).as[Double].collect()(0)

  test("z-order clustering localizes files in both dimensions") {
    val li = Tables.lineitem(spark, sf)
      .withColumn("days", datediff(to_date($"l_shipdate"), lit("1992-01-01")))
    ZOrder.clusterWrite(li, s"$root/zorder", "days", "l_suppkey", 8)
    li.repartition(8).write.mode("overwrite").parquet(s"$root/unclustered")
    val (z, u) = (boxArea(s"$root/zorder"), boxArea(s"$root/unclustered"))
    assert(z < u / 2,
      s"z-ordered files must cover far smaller bounding boxes: z=$z unclustered=$u")
    // clustering preserves the data
    assert(spark.read.parquet(s"$root/zorder").count() == li.count())
  }

  test("ZOrder clustering of an EMPTY input is the identity, not an NPE") {
    val empty = spark.range(0)
      .select($"id".as("a"), $"id".as("b"))
    assert(ZOrder.clustered(empty, "a", "b", 4).count() == 0)
    ZOrder.clusterWrite3(empty.withColumn("c", $"a"),
      s"$root/z3empty", "a", "b", "c", 4)
    assert(spark.read.parquet(s"$root/z3empty").count() == 0)
    ZOrder.hilbertClusterWrite(empty, s"$root/hempty", "a", "b", 4)
    assert(spark.read.parquet(s"$root/hempty").count() == 0)
  }
}
