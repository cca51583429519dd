package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.mergeSchemas
import org.apache.spark.sql.types._

import TableCore.{FileCol, LiveFile, Layout, Planned, PosCol, listDir, putIfAbsent}

/** Minimal versioned table format — the Delta-style transaction-log
  * semantics the reference leans on (ACID commits, versioning, time
  * travel, /root/reference/README.md:36-40) rebuilt natively for plain
  * parquet. It is the `_graft_log` codec of [[TableCore]], the engine it
  * shares with [[DeltaInterop]]: it reads a manifest into the core's
  * snapshot (live files, recorded schema and stats), supplies the deleted
  * positions from table-level parquet DV files, and renders each planned
  * commit as the next manifest. The commit loop, scan, min/max pruning,
  * DV delete, compaction, vacuum sweep and change-feed union are the
  * core's. Rules of this format stay here: the Bloom sidecar,
  * [[compact]]'s choice of small files, [[vacuum]]'s `retainLast`, and
  * [[changes]]' refusal of rewrite commits.
  *
  * - data files are immutable, written once under `data/<uuid>/`;
  * - each commit is a JSON manifest `_graft_log/v{N}.json` listing the
  *   table's live files for that version plus operation metadata;
  * - commits are ATOMIC: the manifest is staged to a temp file and
  *   atomically linked into the log — readers see either the old or the
  *   new version, never a partial table;
  * - concurrent writers race on the version number; every commit goes
  *   through the core's optimistic-concurrency loop: the
  *   loser's link fails and it retries against the next version, as
  *   Delta does.
  *   Read-modify-write transactions ([[deleteWhere]], [[mergeCommitDV]],
  *   [[mergeCommitPruned]], [[compact]]) re-plan against the new latest
  *   version when they lose — a blind retry would silently discard the
  *   concurrent commit;
  * - each manifest records the table schema (Delta's `schemaString`),
  *   and every scan declares it, so reads and commits start no
  *   schema-discovery job. A widening append merges its schema into the
  *   table's at commit time (the Parquet `mergeSchema` rule; a type
  *   conflict fails the commit), and older files surface NULL for the
  *   new columns. A manifest from before schemas were recorded costs one
  *   footer inference; the next commit records the schema;
  * - each manifest also records every live file's size, row count and
  *   per-column min/max/null count (Delta's `add.stats`), read at commit
  *   time from the parquet footers just written, so [[readWhere]] and
  *   [[readWhereEquals]] prune files on the driver from the log alone and
  *   [[compact]] plans from the recorded sizes. A manifest from before
  *   stats were recorded gets them from a driver-side footer read; the
  *   next commit records them;
  * - each manifest carries the table's `txn` map, appId → value (Delta's
  *   SetTransaction): a writer records its progress (a watermark, a
  *   batch id) in the same atomic commit as the data it covers, every
  *   later commit carries the map forward, and [[txn]] reads it back from
  *   the latest manifest on the driver. [[write]]`(txn = …)` records a
  *   streaming batch id and commits nothing for a replayed one,
  *   [[rewrite]] commits an entry with a read-modify-write overwrite,
  *   [[appendWithTxn]] with an append whose rows are chosen from the
  *   entries the append is based on;
  * - `readVersion` time-travels by reading an old manifest — old data
  *   files are never mutated.
  *
  * Local filesystem only; see ROADMAP item 6.
  */
object VersionedTable {

  private def logDir(path: String): Path = Paths.get(path, "_graft_log")

  private def manifestPath(path: String, v: Long): Path =
    logDir(path).resolve(f"v$v%08d.json")

  /** Versions of the log files named `<prefix><8 digits>.json`, ascending. */
  private def logFiles(path: String, prefix: String): Seq[Long] = {
    val dir = logDir(path)
    if (!Files.exists(dir)) Seq.empty
    else listDir(dir)(_.map(_.getFileName.toString)
      .collect { case n if n.matches(s"$prefix\\d{8}\\.json") =>
        n.stripPrefix(prefix).stripSuffix(".json").toLong }
      .toSeq.sorted)
  }

  /** Versions present in the log, ascending. */
  def versions(path: String): Seq[Long] = logFiles(path, "v")

  def latestVersion(path: String): Option[Long] = versions(path).lastOption

  private def latestOrFail(path: String): Long = latestVersion(path).getOrElse(
    throw new IllegalStateException(s"no versions at $path"))

  // ------------------------------------------------- manifest codec
  //
  // One JSON record type for the whole log, read and written by one
  // Jackson parse/render pair. A commit manifest is
  // `{"version":N,"op":…,"files":[…]}` plus `"dv":[…]` only when the
  // version has deletion vectors, `"schema":"…"` (the table schema as
  // Spark's DataType JSON) only when one was recorded, `"stats":{…}`
  // (each live file's [[FileStats]], keyed by path, in `files` order)
  // only when stats were recorded and `"txn":{…}` (appId → value, in key
  // order) only when some writer recorded one, so older manifests keep
  // their bytes. Strings are JSON-escaped, control characters included.
  // Reading tolerates the raw control characters older writers left
  // unescaped in op tags.

  /** A commit manifest. */
  private[sources] final case class Manifest(version: Long, op: String,
      files: Seq[String], dv: Seq[String] = Seq.empty,
      schema: Option[StructType] = None,
      stats: Map[String, FileStats] = Map.empty,
      txn: Map[String, String] = Map.empty)

  private val mapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS).build()

  private[sources] def parse(s: String): Manifest = {
    val n = mapper.readTree(s)
    def strings(field: String): Seq[String] =
      n.path(field).elements().asScala.map(_.asText).toSeq
    val schema =
      Option(n.get("schema")).map(s => DataType.fromJson(s.asText).asInstanceOf[StructType])
    Manifest(n.path("version").asLong, n.path("op").asText, strings("files"),
      strings("dv"), schema,
      n.path("stats").properties().asScala.map(e =>
        e.getKey -> FileStats.fromJson(e.getValue, schema.getOrElse(new StructType()))).toMap,
      n.path("txn").properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap)
  }

  private[sources] def render(m: Manifest): String = {
    val o = mapper.createObjectNode().put("version", m.version).put("op", m.op)
    def strings(field: String, xs: Seq[String]): Unit = {
      val a = o.putArray(field)
      xs.foreach(x => a.add(x))
    }
    strings("files", m.files)
    if (m.dv.nonEmpty) strings("dv", m.dv)
    m.schema.foreach(s => o.put("schema", s.json))
    if (m.stats.nonEmpty) {
      val st = o.putObject("stats")
      m.files.foreach(f => m.stats.get(f).foreach(_.toJson(st.putObject(f))))
    }
    if (m.txn.nonEmpty) {
      val t = o.putObject("txn")
      m.txn.toSeq.sorted.foreach { case (app, value) => t.put(app, value) }
    }
    mapper.writeValueAsString(o)
  }

  private def readManifest(path: String, v: Long): Manifest =
    parse(Files.readString(manifestPath(path, v)))

  /** The table schema of version `m`: the recorded one, or — for a
    * manifest written before schemas were recorded — one `mergeSchema`
    * inference over its files' footers (a Spark job).
    */
  private def schemaOf(spark: SparkSession, m: Manifest): StructType =
    m.schema.getOrElse(
      if (m.files.isEmpty) new StructType()
      else spark.read.option("mergeSchema", "true").parquet(m.files: _*).schema)

  /** Every live file's stats in version `m` under its table `schema`:
    * the recorded ones, or — for a manifest written before stats were
    * recorded — a driver-side footer read. The next commit records them.
    */
  private def statsOf(m: Manifest, schema: StructType): Map[String, FileStats] =
    m.files.map(f => f -> m.stats.getOrElse(f, FileStats.read(f, schema))).toMap

  // ------------------------------------------------- legacy batch tags
  //
  // Before the `txn` map, a streaming sink tagged each commit
  // `<appId>-batch-<id>`, and every 10th commit folded the (version, op)
  // history into a checkpoint `chk-v{N}.json`,
  // `{"version":N,"ops":[[v,op],…]}`, the newest of which vacuum kept. An
  // appId with no `txn` entry takes its mark from those tags, read as that
  // history was: the newest checkpoint plus the manifests after it.
  // Nothing writes checkpoints any more.

  /** The largest batch id among `appId`'s legacy tags in the log at `path`. */
  private[sources] def legacyBatchMark(path: String, appId: String): Option[Long] = {
    val chk = logFiles(path, "chk-v").lastOption
    val ops = chk.toSeq.flatMap(v =>
      mapper.readTree(Files.readString(logDir(path).resolve(f"chk-v$v%08d.json")))
        .path("ops").elements().asScala.map(_.get(1).asText)) ++
      versions(path).filter(v => chk.forall(v > _)).map(opOf(path, _))
    val tag = s"$appId-batch-"
    ops.flatMap(op => if (op.startsWith(tag)) op.stripPrefix(tag).toLongOption else None)
      .maxOption
  }

  // ------------------------------------------------- the commit loop

  /** One commit attempt: the new version's files, schema and deletion
    * vectors, any file stats it already knows, and the `txn` entries it
    * sets.
    */
  private final case class Attempt(files: Seq[String], schema: Option[StructType],
      dv: Seq[String] = Seq.empty, stats: Map[String, FileStats] = Map.empty,
      txn: Map[String, String] = Map.empty)

  /** The file stats a commit of `a` on `base` records: the attempt's
    * own, else the base's (with every column the commit adds to the
    * schema recorded all-null, since those files predate it), else read
    * from the file's footer on the driver — new files, and files of a
    * base that recorded none. Stats describe the columns of a recorded
    * schema, so a commit without one records none.
    */
  private def statsFor(base: Manifest, a: Attempt): Map[String, FileStats] =
    a.schema.fold(Map.empty[String, FileStats]) { schema =>
      val carried = base.schema.fold(Map.empty[String, FileStats]) { b =>
        val added = schema.fieldNames.toSeq.filterNot(b.fieldNames.toSet)
        base.stats.map { case (f, st) => f -> st.withAbsent(added) }
      }
      a.files.map(f => f -> a.stats.get(f).orElse(carried.get(f))
        .getOrElse(FileStats.read(f, schema))).toMap
    }

  /** Every commit goes through the core's [[TableCore.commitLoop]]: the
    * base is the latest manifest (an empty table is an empty base at
    * version -1, unless `requireBase`), and the plan is linked, with its
    * files' stats and the base's `txn` map updated by the plan's entries,
    * as the manifest of base+1. Blind writes stage nothing
    * per attempt and keep their data across retries.
    */
  private def commitLoop(path: String, op: String, requireBase: Boolean)(
      plan: Manifest => Option[Planned[Attempt]]): Option[Long] =
    TableCore.commitLoop { () =>
      val latest = if (requireBase) Some(latestOrFail(path)) else latestVersion(path)
      latest.fold(Manifest(-1L, "", Seq.empty))(readManifest(path, _))
    }(plan) { (base, a) =>
      val next = base.version + 1
      Some(next).filter(_ => putIfAbsent(manifestPath(path, next),
        render(Manifest(next, op, a.files, a.dv, a.schema, statsFor(base, a),
          txn = base.txn ++ a.txn))))
    }

  /** Write the batch's data files under `<path>/<sub>/<uuid>/` (never
    * visible until a manifest references them). Returns (dir, files).
    */
  private def writeData(df: DataFrame, path: String,
      sub: String = "data"): (Path, Seq[String]) = {
    val dir = Paths.get(s"$path/$sub/${UUID.randomUUID()}")
    (dir, TableCore.writeFiles(df, dir).map(_.toString))
  }

  /** Blind-write commit of `df`, already written as `newFiles`, setting
    * `txn`: append carries the base's files AND deletion vectors forward
    * (dropping the DVs would resurrect deleted rows) and merges `df`'s
    * schema into the base's, failing on a type conflict; overwrite
    * replaces all three.
    */
  private def blindAttempt(mode: SaveMode, df: DataFrame, newFiles: Seq[String],
      base: Manifest, txn: Map[String, String]): Attempt =
    if (mode == SaveMode.Append)
      Attempt(base.files ++ newFiles,
        Some(mergeSchemas(schemaOf(df.sparkSession, base), df.schema)), base.dv, txn = txn)
    else Attempt(newFiles, Some(mergeSchemas(new StructType(), df.schema)), txn = txn)

  /** Write `df` as a new commit tagged `op` in the history (by default
    * the mode: `append` or `overwrite`). Append mode unions the previous
    * version's files with the new ones; overwrite replaces them. Returns
    * the committed version.
    *
    * Blind writes only: append bases itself on whatever the latest
    * version is at commit time, and overwrite is last-writer-wins — both
    * are conflict-free under retry. A write whose CONTENT depends on a
    * read of the table must go through a read-modify-write commit
    * ([[mergeCommitDV]], [[mergeCommitPruned]], [[deleteWhere]]), which
    * re-plans on a lost race instead of retrying a stale snapshot.
    *
    * `txn = Some((appId, batchId))` makes the write exactly-once under
    * [[TableCore.txnCommitted]]: the commit records `batchId` as
    * `appId`'s `txn` entry, and a batch at or below the recorded id
    * commits nothing and returns the latest version. The rule is checked
    * before any data is staged, so a replay writes no file, and again
    * against each attempt's base, so of two racing replays the loser
    * deletes its staged files. An appId with no entry takes its mark from
    * its legacy tags ([[legacyBatchMark]]), one read of the log's op
    * history until its first commit records the entry.
    */
  def write(df: DataFrame, path: String, mode: SaveMode, op: String = "",
      txn: Option[(String, Long)] = None): Long = {
    lazy val legacy = txn.flatMap { case (app, _) => legacyBatchMark(path, app) }
    def committed(m: Manifest): Boolean = txn.exists { case (app, id) =>
      TableCore.txnCommitted(m.txn.get(app).map(_.toLong).orElse(legacy), id)
    }
    val tag = if (op.nonEmpty) op else if (mode == SaveMode.Append) "append" else "overwrite"
    val entry = txn.map { case (app, id) => app -> id.toString }.toMap
    txn.flatMap(_ => latestVersion(path)).filter(v => committed(readManifest(path, v)))
      .getOrElse {
        val (dataDir, newFiles) = writeData(df, path)
        commitLoop(path, tag, requireBase = false) { base =>
          if (committed(base)) {
            TableCore.deleteTree(dataDir)
            None
          } else Some(Planned(blindAttempt(mode, df, newFiles, base, entry)))
        }.getOrElse(latestOrFail(path))
      }
  }

  /** Write `df` z-clustered on (`colA`, `colB`) as a new commit — the
    * `OPTIMIZE ZORDER BY` analog for the versioned table
    * (/root/reference/bronze_silver_gold/readme.md:84,96 declares
    * Z-ORDER as the layout practice; the algorithm is public Morton
    * clustering). The data routes through [[ZOrder.clustered]] — the
    * overflow-safe min-max normalization + bit interleave and ONE range
    * shuffle into `numFiles` z-contiguous partitions — before the
    * ordinary commit protocol, so each committed file owns a tight
    * min/max box in BOTH dimensions. No separate read path exists: the
    * commit records those boxes in the log and [[readWhere]] prunes on
    * them to ~√files for a narrow predicate on EITHER column, where a
    * single-column sort layout prunes on one and scans everything on
    * the other. DV-sound like every read: deletion vectors only shrink
    * a file's live rows, so the clustered boxes stay valid bounds.
    */
  def writeClustered(df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int, mode: SaveMode = SaveMode.Overwrite): Long =
    write(ZOrder.clustered(df, colA, colB, numFiles), path, mode,
      s"zorder($colA,$colB)")

  /** Transactional `OPTIMIZE ZORDER BY` — rewrite the CURRENT live rows
    * (deletion vectors applied) into a z-clustered layout as a new
    * overwrite version: contents identical, layout new, every previous
    * version still time-travelable. The layout-only analog of
    * [[compact]], combining it with [[writeClustered]]'s Morton
    * range-shuffle so subsequent [[readWhere]] calls prune on either
    * clustered dimension. Tagged in the history so audits can tell a
    * layout rewrite from a data change. Returns the committed version.
    */
  def optimizeZOrder(spark: SparkSession, path: String, colA: String,
      colB: String, numFiles: Int): Long =
    write(ZOrder.clustered(read(spark, path), colA, colB, numFiles), path,
      SaveMode.Overwrite, s"optimize-zorder($colA,$colB)")

  /** The operation tag of a committed version, parsed straight off the
    * manifest (cheap driver-side read — no Spark job per lookup).
    */
  def opOf(path: String, version: Long): String = readManifest(path, version).op

  /** The live files of `version`, parsed driver-side from its manifest. */
  def files(path: String, version: Long): Seq[String] =
    readManifest(path, version).files

  // ------------------------------------------------- deletion vectors
  //
  // DELETE / MERGE at 100 TB must not rewrite 100 TB. A full copy-on-write
  // merge rewrites the whole table per merge; Delta's answer is
  // (a) rewrite only the files a merge touches and (b) deletion vectors —
  // mark deleted ROW POSITIONS in a side file and let readers subtract
  // them, so a delete/merge commit costs O(changed rows), not O(table).
  // Same here: a DV is a parquet file of (file, pos) pairs recorded from
  // the scan's `_metadata.file_path`/`_metadata.row_index`, listed in the
  // manifest's `dv` field. Readers anti-join the DV (broadcast while the
  // DV is small, shuffle beyond the gate — production Delta refines this
  // to a roaring bitmap per file; the protocol shape is identical). DV
  // entries that reference files no longer in the manifest are inert, so
  // rewrites (compaction, pruned merge) simply drop rows from the DV's
  // effective domain without editing DV files — immutability everywhere.

  /** Above this total DV size the read-side anti-join stops broadcasting. */
  private val dvBroadcastBytes: Long = 64L << 20

  /** Deletion-vector files of `version` (empty for DV-free manifests). */
  def dvFiles(path: String, version: Long): Seq[String] =
    readManifest(path, version).dv

  /** The rows DV files `dvs` delete, as the core's (`file`, `pos`) frame
    * (a DV file's rows are the data file's `_metadata.file_path` and the
    * deleted row's `_metadata.row_index`), broadcast while their on-disk
    * size (a driver-side stat, no extra job) is small.
    */
  private def dvRows(spark: SparkSession, dvs: Seq[String]): DataFrame = {
    val dv = spark.read.schema(TableCore.DeadSchema).parquet(dvs: _*)
    if (dvs.map(f => Files.size(Paths.get(f))).sum <= dvBroadcastBytes) broadcast(dv) else dv
  }

  /** The live rows of `fs` under `schema` and DV files `dvs`, through
    * the core's scan: the plain scan when there are no DVs. With
    * `positions`, the rows keep the core's file and position columns.
    */
  private def liveRows(spark: SparkSession, schema: StructType, fs: Seq[String],
      dvs: Seq[String], positions: Boolean = false): DataFrame =
    TableCore.scan(spark, Layout(schema), fs.map(LiveFile(_)),
      if (dvs.isEmpty) None else Some(dvRows(spark, dvs)), positions)

  /** `_metadata.file_path` is a URI (`file:///…`); manifests store plain
    * paths. Driver-side mapping for pruned-merge's touched-file list.
    */
  private def uriToPath(u: String): String = new java.net.URI(u).getPath

  /** DV-based DELETE: mark rows matching `cond` deleted — data files are
    * untouched, the commit writes only the matched (file, pos) pairs.
    * Read-modify-write through the one commit loop: a lost race
    * recomputes the positions against the new latest version. Returns
    * the committed version.
    */
  def deleteWhere(spark: SparkSession, path: String, cond: Column): Long =
    commitLoop(path, "delete", requireBase = true) { base =>
      val schema = schemaOf(spark, base)
      val hits = TableCore.positionsOf(
        liveRows(spark, schema, base.files, base.dv, positions = true).filter(cond))
      val (dvDir, newDv) = writeData(hits, path, "dv")
      Some(Planned(Attempt(base.files, Some(schema), base.dv ++ newDv), Seq(dvDir)))
    }.get

  /** MERGE via deletion vectors: matched target rows are DV-masked and
    * the source lands as new data files — NO target file is rewritten,
    * so commit cost is O(source + matched positions) regardless of table
    * size. Result is observably identical to [[mergeCommitPruned]]. Same
    * precondition as [[graft.operators.Merge.upsert]]: one source row
    * per key.
    */
  def mergeCommitDV(spark: SparkSession, path: String, source: DataFrame,
      keys: Seq[String]): Long =
    commitLoop(path, "merge-dv", requireBase = true) { base =>
      val schema = schemaOf(spark, base)
      val widened = mergeSchemas(schema, source.schema)
      val matched = TableCore.positionsOf(
        liveRows(spark, schema, base.files, base.dv, positions = true)
          .join(source.select(keys.map(col): _*), keys, "left_semi"))
      val (dvDir, newDv) = writeData(matched, path, "dv")
      val (dataDir, newFiles) = writeData(source, path)
      Some(Planned(Attempt(base.files ++ newFiles, Some(widened), base.dv ++ newDv),
        Seq(dvDir, dataDir)))
    }.get

  /** MERGE with file pruning: rewrite ONLY the files that contain a
    * matched key; untouched files carry over by reference (Delta's
    * copy-on-write merge). The driver handles a file-name list (metadata
    * scale); the data job reads just the touched files plus the source.
    * Read-modify-write through the one commit loop: the merge is
    * computed against a captured base version and committed at exactly
    * base+1; if another writer commits first, the stale result is
    * discarded and the merge re-runs against the new latest — the
    * lost-update behavior Delta's conflict detection prevents.
    * Prefer [[mergeCommitDV]] when updates are sparse and rewrite
    * amplification matters; prefer this when DV accumulation (read-side
    * anti-join growth) matters.
    */
  def mergeCommitPruned(spark: SparkSession, path: String, source: DataFrame,
      keys: Seq[String]): Long =
    commitLoop(path, "merge-pruned", requireBase = true) { base =>
      val schema = schemaOf(spark, base)
      val live = liveRows(spark, schema, base.files, base.dv, positions = true)
      // bounded driver traffic: one row per TOUCHED FILE, never per data row
      val touched = live
        .join(source.select(keys.map(col): _*), keys, "left_semi")
        .select(FileCol).distinct()
        .collect().map(r => uriToPath(r.getString(0))).toSet
      val untouched = base.files.filterNot(touched)
      val targetSlice =
        if (touched.isEmpty) live.drop(FileCol, PosCol).limit(0)
        else liveRows(spark, schema, base.files.filter(touched), base.dv)
      val merged = graft.operators.Merge.upsert(targetSlice, source, keys)
      val (dataDir, newFiles) = writeData(merged, path)
      // DV entries for rewritten files go inert with the files themselves
      Some(Planned(Attempt(untouched ++ newFiles, Some(mergeSchemas(schema, merged.schema)),
        base.dv), Seq(dataDir)))
    }.get

  /** Read-modify-write overwrite that records `txn` entries in the same
    * commit. `build` maps the latest version's live rows (None while the
    * table has no version) to the table's new content, or to None to keep
    * the base's files and commit only `txn`. The content depends on the
    * base it read, so, as in [[mergeCommitPruned]], a lost race discards
    * the attempt's files and builds again against the new latest version:
    * a stale result never commits. The base's files stay on disk for its
    * readers and time travel until [[vacuum]]. Returns the committed
    * version.
    */
  def rewrite(spark: SparkSession, path: String, op: String, txn: Map[String, String])(
      build: Option[DataFrame] => Option[DataFrame]): Long =
    commitLoop(path, op, requireBase = false) { base =>
      val schema = if (base.version < 0) None else Some(schemaOf(spark, base))
      build(schema.map(liveRows(spark, _, base.files, base.dv))) match {
        case None => Some(Planned(Attempt(base.files, schema, base.dv, txn = txn)))
        case Some(df) =>
          val (dataDir, newFiles) = writeData(df, path)
          Some(Planned(Attempt(newFiles, Some(mergeSchemas(new StructType(), df.schema)),
            txn = txn), Seq(dataDir)))
      }
    }.get

  /** Append that records `txn` entries in the same commit, for a writer
    * whose rows depend on the progress it recorded before: `rows` maps the
    * latest version's `txn` map (empty while the table has no version) to
    * the rows to append. As in [[rewrite]], a lost race discards the
    * attempt's files and asks `rows` again against the winner's map, so
    * two writers that both resume from one recorded mark append each row
    * once. Returns the committed version.
    */
  def appendWithTxn(path: String, op: String, txn: Map[String, String])(
      rows: Map[String, String] => DataFrame): Long =
    commitLoop(path, op, requireBase = false) { base =>
      val df = rows(base.txn)
      val (dataDir, newFiles) = writeData(df, path)
      Some(Planned(blindAttempt(SaveMode.Append, df, newFiles, base, txn), Seq(dataDir)))
    }.get

  /** The `txn` value `appId` recorded, as of the latest version: read from
    * one manifest on the driver, no Spark job. None when the table has no
    * version or no commit recorded `appId`.
    */
  def txn(path: String, appId: String): Option[String] =
    latestVersion(path).flatMap(readManifest(path, _).txn.get(appId))

  /** The row count of `version` from the log: the sum of its files'
    * recorded `numRecords` (a footer read on the driver for a file whose
    * manifest recorded none), with no Spark job. A version with deletion
    * vectors is counted by a scan instead, since its DV files may also
    * list rows of files it no longer holds.
    */
  def numRecords(spark: SparkSession, path: String, version: Long): Long = {
    val m = readManifest(path, version)
    if (m.dv.nonEmpty) readVersion(spark, path, version).count()
    else m.files.map(f => m.stats.get(f).fold(
      FileStats.read(f, new StructType()).numRecords)(_.numRecords)).sum
  }

  // ---------------------------------------------------- change data feed

  /** Row-level change feed for `(fromVersion, toVersion]` — Delta CDF's
    * shape: the table columns plus `_change_type` (`insert` | `delete`;
    * a merge's update surfaces as delete-of-preimage + insert-of-
    * postimage) and `_commit_version`. Exact for commits that only add
    * files and/or DV entries (append, [[deleteWhere]],
    * [[mergeCommitDV]]); `compact` commits are pure layout and yield no
    * changes; rewrite commits (overwrite, [[mergeCommitPruned]]) destroy
    * row identity and raise — a CDF consumer pins the table to DV-based
    * operations, exactly as Delta requires CDF to be enabled before it
    * records changes.
    */
  def changes(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion, s"bad range ($fromVersion, $toVersion]")
    val deltas = ((fromVersion + 1) to toVersion).flatMap { v =>
      val cur = readManifest(path, v)
      // compact AND optimize-zorder are pure-LAYOUT rewrites (identical
      // row content, different file clustering): both yield no changes.
      // Without the zorder case, CDF over any range spanning an
      // optimize permanently raised on a commit that changed zero rows.
      if (cur.op == "compact" || cur.op.startsWith("optimize-zorder(")) Seq.empty
      else {
        val prev = readManifest(path, v - 1)
        if (!prev.files.forall(cur.files.toSet))
          throw new UnsupportedOperationException(
            s"version $v (op=${cur.op}) rewrites files; the change feed supports " +
              "append/delete/merge-dv commits (and skips compact)")
        val addedFiles = cur.files.filterNot(prev.files.toSet)
        val addedDv = cur.dv.filterNot(prev.dv.toSet)
        val inserts =
          if (addedFiles.isEmpty) Seq.empty
          else Seq((v, "insert", liveRows(spark, schemaOf(spark, cur), addedFiles, Nil)))
        val deletes =
          if (addedDv.isEmpty) Seq.empty
          else {
            // the rows at the new DV positions: a semi-join, not the mask
            val dv = spark.read.schema(TableCore.DeadSchema).parquet(addedDv: _*)
            val scan = liveRows(spark, schemaOf(spark, prev), prev.files, Nil, positions = true)
            Seq((v, "delete", scan.join(broadcast(dv),
                scan(FileCol) === dv("file") && scan(PosCol) === dv("pos"), "left_semi")
              .drop(FileCol, PosCol)))
          }
        inserts ++ deletes
      }
    }
    TableCore.changeFeed(spark, schemaOf(spark, readManifest(path, toVersion)), deltas)
  }

  /** Read the table as of `version` (time travel). The scan declares the
    * schema the manifest records, so versions written after a widening
    * append surface the full evolved schema with NULLs where a file
    * predates a column, and the read starts no discovery job. Deletion
    * vectors, when present, are subtracted by a size-gated anti-join;
    * DV-free versions keep the plain scan (zero overhead).
    */
  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame = {
    val m = readManifest(path, version)
    liveRows(spark, schemaOf(spark, m), m.files, m.dv)
  }

  /** RESTORE `version` as a NEW commit: the table's head becomes a
    * manifest referencing exactly the old version's files and deletion
    * vectors (Delta's `RESTORE TABLE ... TO VERSION AS OF` semantics —
    * time travel made durable while preserving history; a later restore
    * can roll the restore itself back). Metadata-only: no data file is
    * read, moved, or rewritten, so restoring a 100 TB table costs one
    * manifest write (the target's recorded schema and stats are copied
    * as they are).
    * Retries on version races like any blind commit;
    * requires the target version's manifest to still exist (VACUUM with
    * a retention window shorter than the restore target forfeits it).
    */
  def restore(path: String, version: Long): Long = {
    require(Files.exists(manifestPath(path, version)),
      s"cannot restore to version $version: manifest vacuumed or absent")
    val target = readManifest(path, version)
    commitLoop(path, s"restore($version)", requireBase = true)(_ =>
      Some(Planned(Attempt(target.files, target.schema, target.dv, target.stats)))).get
  }

  /** Read the latest version. */
  def read(spark: SparkSession, path: String): DataFrame =
    readVersion(spark, path, latestOrFail(path))

  // ---------------------------------------------------- data skipping
  //
  // Delta keeps each file's row count and per-column min/max/null count
  // on its `add` action and prunes files before the scan. Same here: every
  // commit records its files' [[FileStats]] in the manifest, read on the
  // driver from the parquet footers Spark has just written, so a skipping
  // read decides which files to scan from the log alone, with no Spark
  // job. The decision filters a local DataFrame of the stats, so the
  // engine's own type coercion runs every comparison — no driver-side
  // value comparisons. Data files are immutable, so a file's stats never
  // change. Deletion vectors only shrink a file's live rows, so the
  // recorded stats stay sound bounds — a fully deleted range costs one
  // false-positive file read, never a wrong result.

  /** The latest manifest with its table schema, after checking that
    * `column` is in it.
    */
  private def head(spark: SparkSession, path: String,
      column: String): (Manifest, StructType) = {
    val m = readManifest(path, latestOrFail(path))
    val schema = schemaOf(spark, m)
    if (m.files.nonEmpty && !schema.fieldNames.contains(column))
      throw new IllegalArgumentException(
        s"data-skipping column '$column' is not in the schema of $path")
    (m, schema)
  }

  /** The files of `m` whose stats allow a `column` value in [lo, hi],
    * through the core's [[TableCore.minMaxCandidates]]: files whose
    * `column` is all NULL (written before the column existed, or
    * genuinely all-null) are skipped, since a range excludes NULL; files
    * without usable stats are kept.
    */
  private def minMaxCandidates(spark: SparkSession, m: Manifest, schema: StructType,
      column: String, lo: Any, hi: Any): Seq[String] = {
    val stats = statsOf(m, schema)
    val t = schema(column).dataType
    TableCore.minMaxCandidates(spark, m.files, (f: String) => stats(f).bounds(column), t, t,
      lo, hi)
  }

  /** Range read with file skipping: the rows of the latest version
    * satisfying `lo <= column <= hi`, scanning only files whose recorded
    * [min,max] intersects the range. Result is identical to
    * `read(...).filter(...)`; only the files touched differ. Returns
    * (rows, filesRead, filesTotal).
    *
    * The pruning reads only the log (footers too, for files of a
    * manifest written before stats were recorded), so the read starts
    * just the scan's jobs.
    */
  def readWhere(spark: SparkSession, path: String, column: String,
      lo: Any, hi: Any): (DataFrame, Long, Long) = {
    val (m, schema) = head(spark, path, column)
    if (m.files.isEmpty) return (spark.emptyDataFrame, 0L, 0L)
    val fs = minMaxCandidates(spark, m, schema, column, lo, hi)
    (liveRows(spark, schema, fs, m.dv).filter(col(column) >= lit(lo) && col(column) <= lit(hi)),
      fs.size.toLong, m.files.size.toLong)
  }

  // ---------------------------------------------------------- bloom skip
  // Min/max stats prune a point lookup only where the table is clustered
  // by the column; elsewhere every file's [min,max] spans the probe. The
  // Bloom sidecar (`_graft_bloom/<col>/`, keyed by data-file path) is the
  // second stage for exactly those files: per file, the SET of k
  // md5-derived bit positions its values touch — equality probes read
  // only files whose set covers all k probe positions. Data files are
  // immutable, so entries never change; missing entries are computed
  // lazily for exactly the unindexed candidates; DVs only shrink live
  // rows (a fully-deleted value costs one false-positive file read, never
  // a wrong result); [[vacuumStats]] drops the entries of dead files.

  private def bloomDir(path: String, column: String): Path =
    Paths.get(path, "_graft_bloom", column)

  private val BloomBits = 4096
  private val BloomK = 5

  /** A Bloom sidecar row: a data file and its sorted position set. */
  private val BloomSchema =
    new StructType().add("file", StringType).add("pos_set", ArrayType(IntegerType))

  private def bloomHashHex(i: Int, v: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s"bloom-v1|$i|$v".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** The Bloom entries of `fs` for `column` of a table of `schema`: each
    * file's sorted position set, from one aggregation collected to the
    * driver (one row per file). A file whose values are all NULL for the
    * column contributes no position rows, and its sound entry is the
    * EMPTY set — an equality probe excludes null.
    */
  private def bloomIndex(spark: SparkSession, schema: StructType, fs: Seq[String],
      column: String): Map[String, Seq[Int]] = {
    val posExprs = (0 until BloomK).map { i =>
      (graft.expressions.Md5Prefix.md5Prefix(
        concat(lit(s"bloom-v1|$i|"), col("v")), 12) % BloomBits)
        .cast("int")
    }
    val sets = spark.read.schema(schema).parquet(fs: _*)
      .select(col("_metadata.file_path").as("uri"),
        col(column).cast("string").as("v"))
      .filter(col("v").isNotNull)
      .select(col("uri"), explode(array(posExprs: _*)).as("pos"))
      .groupBy("uri")
      .agg(sort_array(collect_set(col("pos"))).as("pos_set"))
      .collect().map(r => uriToPath(r.getString(0)) -> r.getSeq[Int](1)).toMap
    fs.map(f => f -> sets.getOrElse(f, Seq.empty)).toMap
  }

  /** The files of `fs` whose Bloom entry for `column` may hold `value`.
    * One read of the sidecar collects the entries it has for `fs`; the
    * files it lacks are indexed and their entries appended in one write.
    * The probe's membership test runs on the driver over the collected
    * position sets (exact integers). Driver traffic is bounded by the
    * file count, never by rows.
    */
  private def bloomCandidates(spark: SparkSession, path: String, schema: StructType,
      fs: Seq[String], column: String, value: Any): Seq[String] = {
    val dir = bloomDir(path, column)
    val probe: Seq[Int] = (0 until BloomK).map { i =>
      (java.lang.Long.parseLong(
        bloomHashHex(i, String.valueOf(value)).substring(0, 12), 16)
        % BloomBits).toInt
    }
    val known: Map[String, Seq[Int]] =
      if (!Files.exists(dir)) Map.empty
      else spark.read.schema(BloomSchema).parquet(dir.toString)
        .filter(col("file").isInCollection(fs))
        .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    val missing = fs.filterNot(known.contains)
    val built = if (missing.isEmpty) Map.empty[String, Seq[Int]]
      else bloomIndex(spark, schema, missing, column)
    if (built.nonEmpty)
      spark.createDataFrame(built.toSeq.map { case (f, ps) => Row(f, ps) }.asJava, BloomSchema)
        .coalesce(1).write.mode(SaveMode.Append).parquet(dir.toString)
    val entries = known ++ built
    fs.filter(f => probe.forall(entries(f).contains))
  }

  /** Equality read with file skipping: the live rows of the latest
    * version where `column = value`, scanning only the files that may
    * hold it. Result is identical to `read(...).filter(col === value)`;
    * only files touched differ. Returns (rows, filesRead, filesTotal).
    *
    * Two stages: the recorded min/max first (from the log, no job), then,
    * when two or more files are left, their Bloom sidecar entries. The
    * per-file "filter" is stored as the sorted distinct position set
    * (≤ [[BloomBits]] ints — the sparse representation of the bitmap,
    * exact for the membership test and cheaper to build with a
    * distinct-aggregate than a bitmap OR). Probe positions are computed
    * driver-side from the identical md5 formula the build runs in the
    * engine, over the column's string cast — supported for string and
    * integral columns, where both renderings agree.
    */
  def readWhereEquals(spark: SparkSession, path: String, column: String,
      value: Any): (DataFrame, Long, Long) = {
    val (m, schema) = head(spark, path, column)
    if (m.files.isEmpty) return (spark.emptyDataFrame, 0L, 0L)
    val ranged = minMaxCandidates(spark, m, schema, column, value, value)
    val fs =
      if (ranged.size < 2) ranged
      else bloomCandidates(spark, path, schema, ranged, column, value)
    (liveRows(spark, schema, fs, m.dv).filter(col(column) === lit(value)), fs.size.toLong,
      m.files.size.toLong)
  }

  /** Drop Bloom sidecar rows whose file is referenced by NO retained
    * manifest — the sidecar analog of [[vacuum]] (dead rows are inert
    * for correctness but accumulate forever on a churning table) — and
    * delete the `_graft_stats/` min/max sidecars older versions built at
    * read time, which the log's stats replace. The sidecar rows stay
    * distributed: a left-semi join against the broadcast live-file list
    * (driver-sized, from the manifests) keeps the live ones, and a
    * column's sidecar is rewritten only when it drops rows. Run when no
    * concurrent [[readWhereEquals]] is appending — a lost concurrent
    * append only costs that reader a lazy recompute, never a wrong
    * result. Returns the number of Bloom rows dropped.
    */
  def vacuumStats(spark: SparkSession, path: String): Long = {
    TableCore.deleteTree(Paths.get(path, "_graft_stats"))
    val root = Paths.get(path, "_graft_bloom")
    if (!Files.exists(root)) return 0L
    val live: Set[String] =
      versions(path).flatMap(v => files(path, v)).toSet
    import spark.implicits._
    val liveDf = live.toSeq.sorted.toDF("file")
    var dropped = 0L
    listDir(root)(_.toSeq).filter(Files.isDirectory(_)).foreach { colDir =>
      val df = spark.read.schema(BloomSchema).parquet(colDir.toString)
      val total = df.count()
      val kept = df.join(broadcast(liveDf), Seq("file"), "left_semi")
      val keptN = kept.count()
      if (keptN < total) {
        // rewrite via a temp dir + directory swap (Spark refuses a
        // self-overwrite of its own input path)
        val tmp = Files.createTempDirectory("graft_vacuum")
        kept.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        listDir(colDir)(_.toSeq).foreach(Files.deleteIfExists(_))
        listDir(tmp)(_.toSeq).foreach { p =>
          Files.move(p, colDir.resolve(p.getFileName.toString))
        }
        Files.deleteIfExists(tmp)
        dropped += total - keptN
      }
    }
    dropped
  }

  /** Commit history as a DataFrame (version, op, n_files), ascending,
    * built driver-side from the manifests.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    versions(path).map { v =>
      val m = readManifest(path, v)
      (v, m.op, m.files.size)
    }.toDF("version", "op", "n_files")
  }

  /** Retention cleanup — the reference's "table retention policies to
    * auto-delete old files" (/root/reference/bronze_silver_gold/
    * readme.md:117), Delta's VACUUM analog: drop every manifest older
    * than the newest `retainLast` versions, then delete data files no
    * retained manifest references. As Delta's VACUUM does, the sweep
    * covers the whole table directory except the entries whose name
    * starts with `_` or `.` (the log, the Bloom sidecar, markers): a
    * parquet file the table's writes never made — a part file of a
    * plain-parquet table the log replaced — goes like a superseded one.
    * Time travel to a vacuumed version fails by design (its manifest is
    * gone); readers of RETAINED versions are untouched because their
    * files are, too. Manifests go first so an expired version disappears
    * atomically before any of its exclusive files do. Returns the number of data files deleted.
    *
    * `minAgeMs` guards the in-flight-commit window: a concurrent writer
    * stages data files BEFORE its manifest lands, and a zero-horizon
    * sweep would delete them as unreferenced, corrupting the commit the
    * moment it wins its race. Unreferenced files younger than the horizon
    * are left for the next vacuum — the same defense Delta's VACUUM
    * retention period provides. Pass 0 only when no writer can be active.
    */
  def vacuum(path: String, retainLast: Int = 1,
      minAgeMs: Long = 24L * 3600 * 1000): Int = {
    require(retainLast >= 1, "must retain at least the latest version")
    val vs = versions(path)
    // the sweep always runs (never short-circuit on version count): files
    // orphaned by an earlier manifest drop but protected by the age
    // horizon at the time, and leftovers of lost commit races, are
    // collected by whichever later vacuum finds them old enough
    val retained = vs.takeRight(retainLast)
    // deletion-vector files are table state like data files: live while
    // any retained manifest lists them, swept from their own root after
    val live = retained.flatMap { v =>
      val m = readManifest(path, v)
      m.files ++ m.dv
    }.map(Paths.get(_).toAbsolutePath.normalize).toSet
    vs.dropRight(retainLast).foreach { v =>
      Files.deleteIfExists(manifestPath(path, v)); ()
    }
    // a commit dir that no retained version reaches into, once every
    // data file is confirmed dead, goes with its markers (_SUCCESS etc.)
    val root = Paths.get(path).toAbsolutePath.normalize
    def visible(p: Path): Boolean = !"_.".contains(root.relativize(p).getName(0).toString.head)
    TableCore.sweep(Seq(root), live, System.currentTimeMillis() - minAgeMs,
      p => visible(p) && p.toString.endsWith(".parquet"), dropDirs = true)
  }

  /** OPTIMIZE-style file compaction — the reference's "OPTIMIZE command
    * to compact small files" with a 128-256MB target
    * (/root/reference/bronze_silver_gold/readme.md:96,107). Files of the
    * latest version smaller than `targetBytes` are bin-packed into
    * ~target-sized rewrites and committed as one new version whose
    * manifest lists (kept large files ++ compacted files); table CONTENT
    * is bit-identical (pure file-layout change), old versions still
    * time-travel, and the superseded small files become vacuumable.
    *
    * Scale shape: the driver touches only file METADATA (the sizes the
    * log records, as Delta reads them from its log); the data move is a
    * distributed scan + repartition of just the small files, never the
    * whole table. Rewriting mixed-schema files materializes the table
    * schema with NULLs — exactly what the declared-schema read surfaces,
    * so reads are unchanged.
    *
    * Read-modify-write through the one commit loop: the plan is computed
    * against a captured base and committed at base+1; losing the race
    * discards the rewrite and re-plans, so a concurrent append's files
    * are never dropped from the manifest.
    *
    * Returns the committed version, or None when fewer than 2 files are
    * below target (nothing to compact).
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20): Option[Long] =
    commitLoop(path, "compact", requireBase = true) { base =>
      val schema = schemaOf(spark, base)
      val size = statsOf(base, schema).view.mapValues(_.size)
      val small = base.files.filter(size(_) < targetBytes)
      if (small.size < 2) None
      else {
        val total = small.map(size).sum
        val nOut = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
        // DV-masked rows must NOT resurrect in the rewrite: compact the
        // LIVE rows of the small files (their DV entries then go inert);
        // kept files retain their DV subtraction through the carried list
        val (dataDir, newFiles) =
          writeData(liveRows(spark, schema, small, base.dv).repartition(nOut), path)
        Some(Planned(Attempt(base.files.filterNot(small.toSet) ++ newFiles, Some(schema),
          base.dv), Seq(dataDir)))
      }
    }
}
