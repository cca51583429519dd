package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.sources.{DeltaInterop, VersionedTable}

/** Structured Streaming ingestion over the `events` fixture: the
  * Spark-native realization of the reference's "incremental processing"
  * intent (/root/reference/bronze_silver_gold/readme.md:20; the
  * reference's batch `checkpointLocation` no-ops, bug B4, become real
  * checkpoints here).
  *
  * Event-time correctness: `withWatermark` bounds state, tumbling /
  * sliding / session windows aggregate exactly like the batch analogs
  * (CoreQueries q18–q20) — the same transform functions are applied to a
  * streaming or batch DataFrame, which is what makes the batch oracle a
  * valid check of the streaming logic.
  *
  * Scale notes: watermark + windowed agg keeps per-key state bounded by
  * (watermark delay / slide) windows; sessionization with
  * flatMapGroupsWithState holds one small Session per active user and
  * emits on event-time timeout — both shapes run identically on a
  * 1000-executor cluster, partitioned by the grouping key.
  */
object EventStreams {

  /** The events schema as stored, parameterized by the fixture
    * generation's physical ts type (ns-long in older fixtures,
    * timestamp[us] in newer ones; see Tables.events). Streaming sources
    * must declare their schema.
    */
  private def rawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based streaming read of an events directory (parquet).
    * Streaming sources must declare their schema up front, so the
    * physical ts type is sniffed from the directory's parquet footers
    * with one metadata-only batch read, then normalized to session-zone
    * TIMESTAMP exactly like the batch loader (Tables.events) — the
    * batch-oracle comparison depends on both paths agreeing.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the normalization itself is SHARED with the batch loader
    // (Tables.normalizeEventTs) — oracle comparisons depend on both
    // paths applying identical expressions; only the schema sniff for
    // the streaming source's declared schema lives here
    val physical = spark.read.parquet(dir).schema("ts").dataType
    graft.Tables.normalizeEventTs(
      spark.readStream.schema(rawSchema(physical)).parquet(dir))
  }

  /** Tumbling hourly aggregate with a 10-minute watermark — the
    * streaming form of CoreQueries.tumblingWindows.
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Sliding-window aggregate (1h window, 30min slide). */
  def slidingAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n_events"))

  /** Built-in session windows (30-minute gap) per user. */
  def sessionAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  /** Streaming exact dedup by business key with state bounded by the
    * watermark — the streaming form of Silver.dedupLatest for at-least-
    * once sources (duplicate deliveries inside the watermark horizon are
    * dropped; state for expired keys is reclaimed).
    */
  def dedupEvents(events: DataFrame, keys: Seq[String] = Seq("event_id")): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Watermarked stream-stream join: purchases matched to views by the
    * same user within `withinSeconds` before the purchase — the streaming
    * form of the temporal joins (operators.Temporal). Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * per-key state is bounded and expires as the watermark advances.
    */
  def purchaseViewJoin(events: DataFrame, withinSeconds: Long = 3600): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("view_user"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "10 minutes")
    purchases.join(views,
      col("user_id") === col("view_user") &&
        col("view_ts") <= col("purchase_ts") &&
        col("view_ts") >= col("purchase_ts") - expr(s"INTERVAL $withinSeconds SECONDS"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("view_id"), col("view_ts"))
  }

  /** The exactly-once `foreachBatch` sink of both table codecs: each
    * micro-batch commits as one version through the codec's `write`
    * (which may transform the batch first) with the SetTransaction
    * `(appId, batchId)`, and the table commits nothing for a batch at or
    * below the id `appId` recorded (restart replay, zombie retries) — the
    * decision lives in the table log, so any number of concurrent
    * replaying writers commit each batch once.
    *
    * The `appId` namespaces the recorded id: a second query sinking to
    * the same table needs its own, or its batch ids fall under the first
    * query's mark and its data is silently dropped. Contract, same as
    * Delta's txn appId: an appId is bound to ONE checkpoint lineage —
    * starting over with a FRESH checkpoint dir (batch ids reset to 0)
    * requires a NEW appId, or the old mark skips the restarted query's
    * early batches.
    */
  private[streaming] def txnSink(df: DataFrame, checkpointDir: String, appId: String)(
      write: (DataFrame, (String, Long)) => Unit): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: Dataset[Row], batchId: Long) => write(batch.toDF(), (appId, batchId)))
      .start()

  /** Streaming sink into a [[graft.sources.VersionedTable]] through
    * [[txnSink]]: the batch id rides in the manifest's `txn` map.
    */
  def sinkToVersionedTable(df: DataFrame, path: String,
      checkpointDir: String, appId: String = "stream"): StreamingQuery =
    txnSink(df, checkpointDir, appId)((batch, txn) =>
      VersionedTable.write(batch, path, SaveMode.Append, txn = Some(txn)))

  /** Streaming sink into a REAL Delta-format table through [[txnSink]]:
    * each micro-batch commits as one Delta version carrying a `txn`
    * action, the idempotence scheme production Delta streaming writers
    * use.
    */
  def sinkToDelta(df: DataFrame, path: String, checkpointDir: String,
      appId: String): StreamingQuery =
    txnSink(df, checkpointDir, appId)((batch, txn) =>
      DeltaInterop.write(batch, path, SaveMode.Append, txn = Some(txn)))

  final case class Event(event_id: Long, ts: java.time.Instant, user_id: Long,
      event_type: String, value: Double)
  /** State in epoch MICROseconds — event time carries µs precision and
    * session boundaries must match session_window bit-for-bit.
    */
  final case class SessionState(startUs: Long, lastUs: Long, n: Long)
  final case class UserSession(user_id: Long, session_start: java.time.Instant,
      session_end: java.time.Instant, n_events: Long)

  private def micros(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  private def instant(us: Long): java.time.Instant =
    java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L)

  /** The per-user OPEN session set — every session whose end the
    * watermark has not yet passed must stay in state, because an
    * in-watermark late event can still extend it or BRIDGE two of them
    * into one (exactly what `session_window` does before emitting).
    */
  final case class SessionList(sessions: List[SessionState])

  /** Custom stateful sessionization via flatMapGroupsWithState — the
    * hand-rolled form of session_window for when per-session logic goes
    * beyond aggregation (e.g. emitting enriched session summaries).
    *
    * Correctness contract (must match `session_window` bit-for-bit):
    * a session is emitted ONLY once the watermark passes its end —
    * never eagerly when a later event merely opens a newer session.
    * Eager emission cannot be retracted in Append mode, and an
    * in-watermark late event could still (a) extend an earlier session
    * backward (start = min of its events), (b) belong to an EARLIER
    * window than the current one (the signed `t - last < gap` test
    * wrongly merged any past event), or (c) bridge two open sessions
    * into one. So state holds the full OPEN session list per user;
    * every event enters as its own [t, t+gap) singleton; sessions merge
    * exactly when their windows overlap (next.start < prev.end, end
    * exclusive — Spark's own merge rule); and the watermark gate emits
    * matured sessions from BOTH the data path and the event-time
    * timeout path, which share one body (a timed-out group simply has
    * an empty batch).
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMs * 1000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionList]) => {
          def emit(s: SessionState): UserSession = UserSession(userId,
            instant(s.startUs), instant(s.lastUs + gapUs), s.n)
          // sorted-by-start fold: merge consecutive overlapping windows
          // ([start, last+gap), end exclusive), summing event counts
          def merged(ss: List[SessionState]): List[SessionState] =
            ss.sortBy(s => (s.startUs, s.lastUs))
              .foldLeft(List.empty[SessionState]) {
                case (h :: t, s) if s.startUs < h.lastUs + gapUs =>
                  SessionState(math.min(h.startUs, s.startUs),
                    math.max(h.lastUs, s.lastUs), h.n + s.n) :: t
                case (acc, s) => s :: acc
              }.reverse
          val existing = state.getOption.map(_.sessions).getOrElse(Nil)
          val incoming = batch.map { e =>
            val t = micros(e.ts); SessionState(t, t, 1)
          }.toList
          val all = merged(existing ++ incoming)
          val wmMs = state.getCurrentWatermarkMs()
          // CEILING µs→ms for the maturity test: the session end
          // lastUs+gapUs is exclusive in MICROS, the watermark ticks in
          // MS — flooring would emit a session whose end is not
          // ms-aligned up to 999 µs before the watermark truly passed
          // it, so an in-watermark event landing in that sub-ms window
          // would merge in session_window but not here, breaking the
          // documented bit-for-bit parity for µs-precision timestamps
          def endMs(s: SessionState): Long = (s.lastUs + gapUs + 999) / 1000L
          val (ripe, open) = all.partition(s => endMs(s) <= wmMs)
          if (open.isEmpty) {
            if (state.exists) state.remove()
          } else {
            state.update(SessionList(open))
            // wake when the earliest open session matures (must be
            // strictly past the current watermark)
            val nextEnd = open.map(endMs).min
            state.setTimeoutTimestamp(math.max(nextEnd, wmMs + 1))
          }
          ripe.sortBy(_.startUs).map(emit).iterator
        })
  }
}
