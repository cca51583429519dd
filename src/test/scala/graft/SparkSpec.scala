package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-session-per-suite base (spark_guide.md ScalaTest pattern). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh directory under `java.io.tmpdir` named `prefix…`, deleted
    * with everything in it once the suite has run.
    */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach { dir =>
      if (Files.exists(dir)) {
        val walk = Files.walk(dir)
        try walk.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    } finally super.afterAll()

  /** Spark jobs that `body` starts on the calling thread: jobs are tagged
    * with a thread-local property, so other suites sharing the session
    * are not counted.
    */
  def jobsStartedBy(body: => Unit): Int = jobDescriptionsStartedBy(body).size

  /** The `spark.job.description` of each Spark job that `body` starts on
    * the calling thread ("" when the job has none), as [[jobsStartedBy]]
    * counts them.
    */
  def jobDescriptionsStartedBy(body: => Unit): Seq[String] = probe(body)._1

  /** Spark tasks that `body`'s jobs start: the task count of each stage
    * they submit (a stage skipped for its reused shuffle output starts none).
    */
  def tasksStartedBy(body: => Unit): Int = probe(body)._2

  /** Run `body` with its jobs tagged by a thread-local property; returns
    * the description of each job it started and the tasks of the stages
    * those jobs submitted.
    */
  private def probe(body: => Unit): (Seq[String], Int) = {
    val tag = s"job-probe-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(p => (p.getProperty("graft.job.probe"), p)) match {
          case Some((`tag`, p)) => jobs.add(p.getProperty("spark.job.description", "")); ()
          case Some((t, _)) if t == tag + "-end" => sentinel.countDown()
          case _ => ()
        }
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.job.probe") == tag)) {
          tasks.addAndGet(e.stageInfo.numTasks); ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.job.probe", tag)
      body
      // the listener bus is ordered: once this job is seen, every earlier one was
      sc.setLocalProperty("graft.job.probe", tag + "-end")
      spark.range(1).count()
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty("graft.job.probe", null)
      sc.removeSparkListener(listener)
    }
    (jobs.toArray(Array.empty[String]).toSeq, tasks.get)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
