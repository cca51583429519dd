package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  /** Drive each streaming query synchronously over the fixture parquet
    * via a memory sink; results must equal the batch analog computed on
    * the same data — the property that lets the DuckDB oracle stand in
    * for streaming correctness.
    */
  private def runStream(name: String, df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation",
        tempDir(s"ckpt_$name").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  // the file stream source needs a directory; stage the fixture file in one
  lazy val eventsDir: String = {
    val dir = tempDir("events_stream")
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("streaming hourly agg equals batch tumbling agg") {
    val stream = runStream("hourly",
      EventStreams.hourlyAgg(EventStreams.readEvents(spark, eventsDir)))
    val batch = Tables.events(spark, sf)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"), sum($"value").as("total_value"))
      .select($"window.start".as("window_start"), $"window.end".as("window_end"),
        $"event_type", $"n_events", $"total_value")
    // watermark may hold back the final windows in append mode; all
    // emitted rows must match the batch result exactly
    assert(stream.count() > 0)
    assert(stream.exceptAll(batch).isEmpty,
      "every emitted streaming row must appear in the batch result")
  }

  test("streaming session windows equal batch session windows for emitted rows") {
    val stream = runStream("sessions",
      EventStreams.sessionAgg(EventStreams.readEvents(spark, eventsDir)))
    val batch = Tables.events(spark, sf)
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"session_window.start".as("session_start"),
        $"session_window.end".as("session_end"), $"n_events")
    assert(stream.count() > 0)
    assert(stream.exceptAll(batch).isEmpty)
  }

  test("streaming sink commits micro-batches as atomic versions, replay-safe") {
    val table = tempDir("vt_sink").resolve("events").toString
    val q = EventStreams.sinkToVersionedTable(
      EventStreams.readEvents(spark, eventsDir), table,
      tempDir("ckpt_sink").toString)
    q.processAllAvailable(); q.stop()
    val committed = graft.sources.VersionedTable.read(spark, table)
    assert(committed.count() == Tables.events(spark, sf).count())
    // simulate a replay of batch 0: the tagged commit must be skipped
    val before = graft.sources.VersionedTable.latestVersion(table)
    val q2 = EventStreams.sinkToVersionedTable(
      EventStreams.readEvents(spark, eventsDir), table,
      tempDir("ckpt_sink2").toString) // fresh checkpoint ⇒ redelivery
    q2.processAllAvailable(); q2.stop()
    assert(graft.sources.VersionedTable.latestVersion(table) == before,
      "re-delivered batch ids must not create new versions")
    assert(graft.sources.VersionedTable.read(spark, table).count() == committed.count())
  }

  test("Delta streaming sink: exactly-once via SetTransaction, replay-safe") {
    val table = tempDir("delta_sink").resolve("events").toString
    val q = EventStreams.sinkToDelta(
      EventStreams.readEvents(spark, eventsDir), table,
      tempDir("ckpt_dsink").toString, appId = "events-q")
    q.processAllAvailable(); q.stop()
    val committed = graft.sources.DeltaInterop.read(spark, table)
    assert(committed.count() == Tables.events(spark, sf).count())
    val snap = graft.sources.DeltaInterop.snapshot(spark, table)
    assert(snap.transactions.contains("events-q"),
      s"commit must carry the SetTransaction, got ${snap.transactions}")
    // a fresh checkpoint re-delivers batch 0: the txn high-water mark in
    // the TABLE LOG (not driver memory) must skip it
    val before = snap.version
    val q2 = EventStreams.sinkToDelta(
      EventStreams.readEvents(spark, eventsDir), table,
      tempDir("ckpt_dsink2").toString, appId = "events-q")
    q2.processAllAvailable(); q2.stop()
    assert(graft.sources.DeltaInterop.snapshot(spark, table).version == before,
      "re-delivered batch ids must not create new Delta versions")
    assert(graft.sources.DeltaInterop.read(spark, table).count() == committed.count())
  }

  test("stream-stream purchase-view join equals the batch interval join") {
    val stream = runStream("pv_join",
      EventStreams.purchaseViewJoin(EventStreams.readEvents(spark, eventsDir)))
    val ev = Tables.events(spark, sf)
    val batch = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts".as("purchase_ts"))
      .join(ev.filter($"event_type" === "view")
          .select($"event_id".as("view_id"), $"user_id".as("view_user"), $"ts".as("view_ts")),
        $"user_id" === $"view_user" && $"view_ts" <= $"purchase_ts" &&
          $"view_ts" >= $"purchase_ts" - expr("INTERVAL 3600 SECONDS"))
      .select($"purchase_id", $"user_id", $"purchase_ts", $"view_id", $"view_ts")
    assert(stream.count() > 0)
    assert(stream.exceptAll(batch).isEmpty,
      "every emitted stream-join row must appear in the batch join")
  }

  test("dropDuplicatesWithinWatermark removes at-least-once replays") {
    // stage the feed twice: every event delivered two times
    val dir = tempDir("events_dup")
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("a.parquet"))
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("b.parquet"))
    val stream = runStream("deduped",
      EventStreams.dedupEvents(EventStreams.readEvents(spark, dir.toString)))
    val distinct = Tables.events(spark, sf).select("event_id").distinct().count()
    assert(stream.count() == distinct,
      "each replayed event must be delivered exactly once downstream")
  }

  test("streaming sliding windows equal batch sliding agg") {
    val stream = runStream("sliding",
      EventStreams.slidingAgg(EventStreams.readEvents(spark, eventsDir)))
    val batch = Tables.events(spark, sf)
      .groupBy(window($"ts", "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select($"window.start".as("window_start"), $"window.end".as("window_end"),
        $"n_events")
    assert(stream.count() > 0)
    assert(stream.exceptAll(batch).isEmpty)
  }

  test("sessionize: an in-watermark late event BRIDGES open sessions " +
      "(held until the watermark, never eagerly emitted)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val ev = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", "10 minutes")
      .as[EventStreams.Event]
    val q = EventStreams.sessionize(ev).toDF()
      .writeStream.format("memory").queryName("sess_late")
      .outputMode("append")
      .option("checkpointLocation",
        tempDir("ckpt_sess_late").toString)
      .start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: 12:00 and 12:35 — two OPEN sessions (gap 30m). The old
    // eager form emitted [12:00, 12:30) here, unretractable.
    mem.addData((1L, ts("2024-01-01 12:00:00"), 7L, "v", 0.0),
      (2L, ts("2024-01-01 12:35:00"), 7L, "v", 0.0))
    q.processAllAvailable()
    // batch 2: 12:28 — above the 12:25 watermark, bridges BOTH sessions
    // (its [12:28, 12:58) window overlaps [12:00, 12:30) and
    // [12:35, 13:05)) — session_window merges all three into one
    mem.addData((3L, ts("2024-01-01 12:28:00"), 7L, "v", 0.0))
    q.processAllAvailable()
    // batch 3: advance the watermark far past the merged session's end
    mem.addData((4L, ts("2024-01-01 20:00:00"), 7L, "v", 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_late")
      .as[EventStreams.UserSession].collect().toSeq
    assert(rows.length == 1, s"exactly one merged session, got $rows")
    val s = rows.head
    assert(s.n_events == 3, s"all three events in one session: $s")
    assert(s.session_end.toEpochMilli - s.session_start.toEpochMilli ==
      65L * 60 * 1000, s"span must be 12:00 -> 13:05 (65 min): $s")
  }

  test("flatMapGroupsWithState sessionization matches session_window on closed sessions") {
    val ev = EventStreams.readEvents(spark, eventsDir)
      .withWatermark("ts", "10 minutes")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStreams.Event]
    val stream = runStream("custom_sessions", EventStreams.sessionize(ev).toDF())
    val batch = Tables.events(spark, sf)
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"session_window.start".as("session_start"),
        $"session_window.end".as("session_end"), $"n_events")
    assert(stream.count() > 0)
    assert(stream.exceptAll(batch).isEmpty,
      "custom stateful sessions must agree with built-in session_window")
  }
}
