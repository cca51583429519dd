package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the benchmark: runs one workload over inputs run.py
  * generated, times every op, and writes timings, check payloads and
  * (traced) spans to a result file. Correctness is judged by run.py
  * (check.py), from those payloads, after this process exits.
  *
  * Usage: Main <workload> <trace 0|1> <workDir>
  * (reads <workDir>/plan.json, writes <workDir>/result.json)
  */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val Array(workload, traceFlag, work) = args
    val t0 = System.nanoTime()
    val plan = mapper.readTree(Paths.get(work, "plan.json").toFile)
    val b = SparkSession.builder().appName(s"perfbench-$workload")
    plan.get("spark_conf").fields().asScala.foreach(e => b.config(e.getKey, e.getValue.asText))
    val spark = b.config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, new Trace(spark.sparkContext, traceFlag == "1"), work, plan)
    ctx.setup("session_s") = (System.nanoTime() - t0) / 1e9
    try {
      workload match {
        case "medallion_batches" => Medallion.run(ctx)
        case "table_ops" => TableOps.run(ctx)
        case "curation_queries" => CurationQueries.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      ctx.extra("main_wall_s") = (System.nanoTime() - t0) / 1e9
      ctx.write()
    } finally spark.stop()
  }
}

/** Per-run state shared by the workloads: timing, op records, heap
  * samples, checks and the trace.
  */
final class Ctx(val spark: SparkSession, val trace: Trace, val work: String,
    val plan: JsonNode) {
  val setup = mutable.LinkedHashMap[String, Any]()
  val ops = mutable.ArrayBuffer[mutable.Map[String, Any]]()
  val checks = mutable.ArrayBuffer[Map[String, Any]]()
  val extra = mutable.LinkedHashMap[String, Any]()
  private val heapMb = mutable.ArrayBuffer[Double]()
  private var block = 0
  private var gcForcedMs = 0L
  private var jit0, gc0 = 0L

  def str(path: String*): String = node(path: _*).asText
  def num(path: String*): Double = node(path: _*).asDouble
  def node(path: String*): JsonNode = path.foldLeft(plan)(_.get(_))

  /** Time `body` as one op of `kind`; the returned record takes extra
    * fields (sizes, check digests) after the fact.
    */
  def op[T](kind: String)(body: => T): (T, mutable.Map[String, Any]) = {
    val rec = mutable.LinkedHashMap[String, Any]("kind" -> kind, "block" -> block)
    val c = cpuNs
    val t = System.nanoTime()
    val out = trace.span(kind, "op")(body)
    val s = (System.nanoTime() - t) / 1e9
    rec("s") = s
    rec("cpu_s") = (cpuNs - c) / 1e9
    ops += rec
    (out, rec)
  }

  def layer[T](name: String, attrs: (String, Any)*)(body: => T): T =
    trace.span(name, "layer", attrs: _*)(body)

  /** Time one setup phase into `setup(key)`. */
  def timeSetup[T](key: String)(body: => T): T = {
    val t = System.nanoTime()
    val out = body
    setup(key) = (System.nanoTime() - t) / 1e9
    out
  }

  /** The closed loop: run the stream's `blocks` blocks, tracing every op
    * of a traced run. After each block a full GC gives a live-heap sample.
    */
  def loop(blocks: Int)(runBlock: Int => Unit): Unit = {
    ops.clear()   // warm-up ops are not part of the run
    jit0 = jitMs; gc0 = gcMs
    val loopStart = System.nanoTime()
    trace.resume()
    while (block < blocks) {
      runBlock(block)
      sampleHeap()
      block += 1
    }
    trace.pause()
    extra("loop_wall_s") = (System.nanoTime() - loopStart) / 1e9
    extra("jit_s") = (jitMs - jit0) / 1e3
    extra("gc_s") = (gcMs - gc0 - gcForcedMs) / 1e3
    extra("blocks") = block
  }

  def sampleHeap(): Unit = {
    val g = gcMs
    System.gc()
    gcForcedMs += gcMs - g
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getName.toLowerCase.contains("old"))
    heapMb += old.map(_.getUsage.getUsed).sum / Trace.MB
  }

  /** CPU time of the process less that of its JIT compiler threads: the
    * work the program did, without the JVM compiling it, whose share of a
    * run depends on when compilations happen to finish. On Linux with
    * paravirtual steal accounting, time a host gives other tenants is not
    * in either. Compiler threads are kept alive (-XX:-UseDynamicNumberOf-
    * CompilerThreads) so their time cannot drop out between two readings.
    */
  private def cpuNs: Long = {
    val process = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
    val threads = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    process - threads.iterator.map { t =>
      def read(f: String) = new String(Files.readAllBytes(t.toPath.resolve(f))).trim
      try if (read("comm").matches("C[12] CompilerThre.*")) read("schedstat").split(" ")(0).toLong
        else 0L
      catch { case _: java.io.IOException => 0L }   // the thread exited
    }.sum
  }

  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** MB held by cached RDD/Dataset blocks right now. */
  def cachedMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / Trace.MB

  /** Materialize `df` without keeping its rows. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def write(): Unit = {
    val out = Map("setup" -> setup, "ops" -> ops.map(_.toMap), "checks" -> checks,
      "extra" -> extra, "heap_mb" -> heapMb, "spans" -> trace.spansOut())
    Main.mapper.writeValue(Paths.get(work, "result.json").toFile, out)
  }
}

/** File-system snapshots of a table root: bytes created between two. */
object Disk {
  type Snap = Map[String, (Long, Long)]

  def snap(root: String): Snap = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return Map.empty
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
    finally s.close()
  }

  def created(before: Snap, after: Snap): Long =
    after.collect { case (f, v) if !before.get(f).contains(v) => v._1 }.sum

  def bytes(s: Snap): Long = s.values.map(_._1).sum

  def rm(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
  }
}
