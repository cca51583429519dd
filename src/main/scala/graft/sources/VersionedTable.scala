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

/** Minimal versioned table format — the Delta-style transaction-log
  * semantics the reference leans on (ACID commits, versioning, time
  * travel, /root/reference/README.md:36-40) rebuilt natively for plain
  * parquet:
  *
  * - data files are immutable, written once under `data/<uuid>/`;
  * - each commit is a JSON manifest `_graft_log/v{N}.json` listing the
  *   table's live files for that version plus operation metadata;
  * - commits are ATOMIC: the manifest is staged to a temp file and
  *   atomically linked into the log — readers see either the old or the
  *   new version, never a partial table;
  * - concurrent writers race on the version number; every commit goes
  *   through the one optimistic-concurrency loop (`commitLoop`): the
  *   loser's link fails and it retries against the next version, as
  *   Delta does.
  *   Read-modify-write transactions ([[deleteWhere]], [[mergeCommitDV]],
  *   [[mergeCommitPruned]], [[compact]]) re-plan against the new latest
  *   version when they lose — a blind retry would silently discard the
  *   concurrent commit;
  * - [[writeOnce]] makes an operation tag part of the commit race, so
  *   at-least-once re-deliveries (streaming batch replays) cannot commit
  *   twice even from concurrent writers;
  * - each manifest records the table schema (Delta's `schemaString`),
  *   and every scan declares it, so reads and commits start no
  *   schema-discovery job. A widening append merges its schema into the
  *   table's at commit time (the Parquet `mergeSchema` rule; a type
  *   conflict fails the commit), and older files surface NULL for the
  *   new columns. A manifest from before schemas were recorded costs one
  *   footer inference; the next commit records the schema;
  * - `readVersion` time-travels by reading an old manifest — old data
  *   files are never mutated.
  *
  * Local-filesystem link is atomic here; on an object store the same
  * protocol runs against a log store with put-if-absent.
  */
object VersionedTable {

  private def logDir(path: String): Path = Paths.get(path, "_graft_log")

  private def manifestPath(path: String, v: Long): Path =
    logDir(path).resolve(f"v$v%08d.json")

  /** Run `f` over a directory listing, closing the stream afterwards
    * (Files.list leaks an open fd until closed; versions() runs per
    * commit retry and per micro-batch, so leaks accumulate fast). Shared
    * with [[DeltaInterop]].
    */
  private[sources] def listDir[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(dir)
    try f(s.iterator().asScala) finally s.close()
  }

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
  // version has deletion vectors and `"schema":"…"` (the table schema as
  // Spark's DataType JSON) only when one was recorded, so older manifests
  // keep their bytes; a checkpoint is `{"version":N,"ops":[[v,op],…]}`.
  // Strings are JSON-escaped, control characters included. Reading
  // tolerates the raw control characters older writers left unescaped in
  // op tags.

  /** A log record: a commit manifest, or a checkpoint when `ops` is set. */
  private[sources] final case class Manifest(version: Long, op: String,
      files: Seq[String], dv: Seq[String] = Seq.empty,
      schema: Option[StructType] = None,
      ops: Option[Seq[(Long, String)]] = None)

  private val mapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS).build()

  private[sources] def parse(s: String): Manifest = {
    val n = mapper.readTree(s)
    def strings(field: String): Seq[String] =
      n.path(field).elements().asScala.map(_.asText).toSeq
    Manifest(n.path("version").asLong, n.path("op").asText, strings("files"),
      strings("dv"),
      Option(n.get("schema")).map(s => DataType.fromJson(s.asText).asInstanceOf[StructType]),
      Option(n.get("ops")).map(_.elements().asScala
        .map(e => (e.get(0).asLong, e.get(1).asText)).toSeq))
  }

  private[sources] def render(m: Manifest): String = {
    val o = mapper.createObjectNode().put("version", m.version)
    def strings(field: String, xs: Seq[String]): Unit = {
      val a = o.putArray(field)
      xs.foreach(x => a.add(x))
    }
    m.ops match {
      case Some(ops) =>
        val a = o.putArray("ops")
        ops.foreach { case (v, op) => a.addArray().add(v).add(op) }
      case None =>
        o.put("op", m.op)
        strings("files", m.files)
        if (m.dv.nonEmpty) strings("dv", m.dv)
        m.schema.foreach(s => o.put("schema", s.json))
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

  /** Stage `content` beside `target` and link it into place; false if
    * `target` already exists (lost the race). put-if-absent must FAIL
    * when the target exists. ATOMIC_MOVE is the wrong primitive (POSIX
    * rename silently replaces the target, letting a racing writer
    * overwrite a committed manifest); createLink is atomic AND errors on
    * an existing target. [[DeltaInterop]] commits through it too.
    */
  private[sources] def putIfAbsent(target: Path, content: String): Boolean = {
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s".tmp-${UUID.randomUUID()}")
    Files.writeString(tmp, content)
    try {
      Files.createLink(target, tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally {
      Files.deleteIfExists(tmp); ()
    }
  }

  // ------------------------------------------------- log checkpoints
  //
  // Delta compacts its JSON log into a checkpoint every 10 commits so
  // that log replay reads one checkpoint + a bounded tail instead of
  // every manifest since table creation. Same here: every
  // `checkpointInterval`-th commit folds the cumulative (version, op)
  // history into `chk-v{N}.json`; [[committedOps]] (the exactly-once
  // hot path, consulted per micro-batch) then costs O(interval), not
  // O(versions) — at 10⁵ commits that is the difference between 10
  // driver-side file reads and 100,000. Checkpoints are committed with
  // the same put-if-absent link as manifests, so racing writers cannot
  // corrupt one, and they survive [[vacuum]] (which keeps the newest),
  // preserving the op-dedup history of vacuumed versions.

  /** Every N-th commit writes a log checkpoint. */
  val checkpointInterval: Int = 10

  private def checkpointPath(path: String, v: Long): Path =
    logDir(path).resolve(f"chk-v$v%08d.json")

  private def checkpoints(path: String): Seq[Long] = logFiles(path, "chk-v")

  /** (version, op) pairs committed through `upTo`: the newest
    * checkpoint at or below `upTo`, plus the manifest tail after it —
    * O(interval) manifest reads once checkpoints exist.
    */
  private def opsThrough(path: String, upTo: Long): Seq[(Long, String)] = {
    val cp = checkpoints(path).filter(_ <= upTo).lastOption
    val base = cp.flatMap(v =>
      parse(Files.readString(checkpointPath(path, v))).ops).getOrElse(Seq.empty)
    val from = cp.getOrElse(-1L)
    base ++ versions(path).filter(v => v > from && v <= upTo)
      .map(v => (v, opOf(path, v)))
  }

  private def maybeCheckpoint(path: String, version: Long): Unit =
    if (version > 0 && version % checkpointInterval == 0 &&
        !Files.exists(checkpointPath(path, version))) {
      putIfAbsent(checkpointPath(path, version), render(
        Manifest(version, "", Seq.empty, ops = Some(opsThrough(path, version)))))
      ()
    }

  // ------------------------------------------------- the commit loop

  /** One commit attempt: the new version's files, schema and deletion
    * vectors, plus the directories staged for it alone (deleted if it
    * loses).
    */
  private final case class Attempt(files: Seq[String], schema: Option[StructType],
      dv: Seq[String] = Seq.empty, staged: Seq[Path] = Seq.empty)

  /** The optimistic-concurrency loop every commit goes through. Captures
    * the latest manifest as the base (an empty table is an empty base at
    * version -1, unless `requireBase`), asks `plan` for the commit and
    * links it put-if-absent at base+1. Losing the race deletes the
    * attempt's staged directories and re-plans against the new latest
    * version, so a read-modify-write commit never lands on a stale
    * snapshot; blind writes stage nothing per attempt and keep their data
    * across retries. `plan` returning None ends the loop without a
    * commit. A landed commit writes the checkpoint when one is due.
    */
  private def commitLoop(path: String, op: String, requireBase: Boolean)(
      plan: Manifest => Option[Attempt]): Option[Long] = {
    var result: Option[Option[Long]] = None
    while (result.isEmpty) {
      val latest = if (requireBase) Some(latestOrFail(path)) else latestVersion(path)
      val base = latest.fold(Manifest(-1L, "", Seq.empty))(readManifest(path, _))
      val next = latest.fold(0L)(_ + 1)
      plan(base) match {
        case None => result = Some(None)
        case Some(a) =>
          if (putIfAbsent(manifestPath(path, next),
              render(Manifest(next, op, a.files, a.dv, a.schema)))) {
            maybeCheckpoint(path, next)
            result = Some(Some(next))
          } else a.staged.foreach(discardData)
      }
    }
    result.get
  }

  /** Write the batch's data files (immutable, never visible until a
    * manifest references them). Returns (dataDir, file list).
    */
  private def writeData(df: DataFrame, path: String,
      sub: String = "data"): (Path, Seq[String]) = {
    val dataDir = Paths.get(s"$path/$sub/${UUID.randomUUID()}")
    df.write.mode(SaveMode.Overwrite).parquet(dataDir.toString)
    val newFiles = listDir(dataDir)(
      _.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted)
    (dataDir, newFiles)
  }

  /** Remove a data dir whose commit lost its race — the files were never
    * referenced by any manifest, so this is garbage collection, not
    * deletion of table state.
    */
  private def discardData(dataDir: Path): Unit =
    if (Files.exists(dataDir)) {
      listDir(dataDir)(_.toSeq).foreach(Files.deleteIfExists(_))
      Files.deleteIfExists(dataDir)
      ()
    }

  /** Blind-write plan for `df`, already written as `newFiles`: append
    * carries the base's files AND deletion vectors forward (dropping the
    * DVs would resurrect deleted rows) and merges `df`'s schema into the
    * base's, failing on a type conflict; overwrite replaces all three.
    */
  private def blindPlan(mode: SaveMode, df: DataFrame, newFiles: Seq[String],
      base: Manifest): Attempt =
    if (mode == SaveMode.Append)
      Attempt(base.files ++ newFiles,
        Some(mergeSchemas(schemaOf(df.sparkSession, base), df.schema)), base.dv)
    else Attempt(newFiles, Some(mergeSchemas(new StructType(), df.schema)))

  /** Write `df` as a new commit. Append mode unions the previous
    * version's files with the new ones; overwrite replaces them. Returns
    * the committed version.
    *
    * Blind writes only: append bases itself on whatever the latest
    * version is at commit time, and overwrite is last-writer-wins — both
    * are conflict-free under retry. A write whose CONTENT depends on a
    * read of the table must go through a read-modify-write commit
    * ([[mergeCommitDV]], [[mergeCommitPruned]], [[deleteWhere]]), which
    * re-plans on a lost race instead of retrying a stale snapshot.
    */
  def write(df: DataFrame, path: String, mode: SaveMode): Long =
    write(df, path, mode,
      if (mode == SaveMode.Append) "append" else "overwrite")

  /** As [[write]] with an explicit operation tag (used by the streaming
    * sink for exactly-once batch bookkeeping).
    */
  def write(df: DataFrame, path: String, mode: SaveMode, op: String): Long = {
    val (_, newFiles) = writeData(df, path)
    commitLoop(path, op, requireBase = false)(base =>
      Some(blindPlan(mode, df, newFiles, base))).get
  }

  /** Write `df` z-clustered on (`colA`, `colB`) as a new commit — the
    * `OPTIMIZE ZORDER BY` analog for the versioned table
    * (/root/reference/bronze_silver_gold/readme.md:84,96 declares
    * Z-ORDER as the layout practice; the algorithm is public Morton
    * clustering). The data routes through [[ZOrder.clustered]] — the
    * overflow-safe min-max normalization + bit interleave and ONE range
    * shuffle into `numFiles` z-contiguous partitions — before the
    * ordinary commit protocol, so each committed file owns a tight
    * min/max box in BOTH dimensions. No separate read path exists:
    * [[readWhere]]'s lazily-built stats sidecar sees those boxes and
    * prunes to ~√files for a narrow predicate on EITHER column, where a
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

  /** Exactly-once tagged commit: commit `df` under `op` unless a
    * manifest already carries that tag. The tag check is part of the
    * commit RACE, not a separate check-then-write: losing a version race
    * re-checks only the manifests that appeared since, so two concurrent
    * replays of the same batch commit exactly one version between them.
    * Returns the committed version, or None when the tag already won.
    */
  def writeOnce(df: DataFrame, path: String, mode: SaveMode,
      op: String): Option[Long] = {
    val start = versions(path).toSet
    // checkpointed read: O(interval), not O(versions) — this check runs
    // per micro-batch in the streaming sink
    if (opsThrough(path, Long.MaxValue).exists(_._2 == op)) return None
    val (dataDir, newFiles) = writeData(df, path)
    commitLoop(path, op, requireBase = false) { base =>
      // the tag re-check runs BEFORE every attempt, not only after a
      // lost version race: a concurrent replay that committed while
      // THIS replay was still staging parquet (writeData above takes
      // seconds) leaves the next version number free, so an
      // after-failure-only check never fires and the batch double
      // commits — the DeltaInterop.write discipline (re-check txn
      // inside the loop ahead of each attempt)
      if (versions(path).exists(v => !start.contains(v) && opOf(path, v) == op)) {
        // a concurrent replay of this very batch won the race: our data
        // files must not become a duplicate commit
        discardData(dataDir)
        None
      } else Some(blindPlan(mode, df, newFiles, base))
    }
  }

  /** The operation tag of a committed version, parsed straight off the
    * manifest (cheap driver-side read — no Spark job per lookup).
    */
  def opOf(path: String, version: Long): String = readManifest(path, version).op

  /** Operation tags already committed (for idempotent re-delivery).
    * Driver-side file reads bounded by the checkpoint interval — the
    * newest checkpoint plus the manifest tail, never the whole log.
    * Includes ops of vacuumed versions when a checkpoint covers them.
    */
  def committedOps(spark: SparkSession, path: String): Set[String] =
    opsThrough(path, Long.MaxValue).map(_._2).toSet

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

  private val FileCol = "_vt_file"
  private val PosCol = "_vt_pos"
  /** Above this total DV size the read-side anti-join stops broadcasting. */
  private val dvBroadcastBytes: Long = 64L << 20

  /** Deletion-vector files of `version` (empty for DV-free manifests). */
  def dvFiles(path: String, version: Long): Seq[String] =
    readManifest(path, version).dv

  /** A DV file's rows: the data file's `_metadata.file_path` and the
    * deleted row's `_metadata.row_index`.
    */
  private val DvSchema = new StructType().add("file", StringType).add("pos", LongType)

  /** Scan `fs` under the table `schema` with the file/position metadata
    * columns attached (no footer inference; a file lacking a column reads
    * it as NULL).
    */
  private def withPos(spark: SparkSession, schema: StructType,
      fs: Seq[String]): DataFrame =
    spark.read.schema(schema).parquet(fs: _*)
      .withColumn(FileCol, col("_metadata.file_path"))
      .withColumn(PosCol, col("_metadata.row_index"))

  /** Subtract DV positions from a [[withPos]] scan. Broadcast is gated on
    * the DVs' on-disk size (a driver-side stat, no extra job).
    */
  private def subtractDv(spark: SparkSession, scan: DataFrame,
      dvs: Seq[String]): DataFrame =
    if (dvs.isEmpty) scan
    else {
      val dv = spark.read.schema(DvSchema).parquet(dvs: _*)
      val bytes = dvs.map(f => Files.size(Paths.get(f))).sum
      val probe = if (bytes <= dvBroadcastBytes) broadcast(dv) else dv
      scan.join(probe,
        scan(FileCol) === probe("file") && scan(PosCol) === probe("pos"),
        "left_anti")
    }

  /** The live rows of `fs` under `schema` and `dvs`, position columns
    * attached (the common read under every DV-aware operation).
    */
  private def liveWithPos(spark: SparkSession, schema: StructType,
      fs: Seq[String], dvs: Seq[String]): DataFrame =
    subtractDv(spark, withPos(spark, schema, fs), dvs)

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
      val hits = liveWithPos(spark, schema, base.files, base.dv).filter(cond)
        .select(col(FileCol).as("file"), col(PosCol).as("pos"))
      val (dvDir, newDv) = writeData(hits, path, "dv")
      Some(Attempt(base.files, Some(schema), base.dv ++ newDv, Seq(dvDir)))
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
      val matched = liveWithPos(spark, schema, base.files, base.dv)
        .join(source.select(keys.map(col): _*), keys, "left_semi")
        .select(col(FileCol).as("file"), col(PosCol).as("pos"))
      val (dvDir, newDv) = writeData(matched, path, "dv")
      val (dataDir, newFiles) = writeData(source, path)
      Some(Attempt(base.files ++ newFiles, Some(widened), base.dv ++ newDv,
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
      val live = liveWithPos(spark, schema, base.files, base.dv)
      // bounded driver traffic: one row per TOUCHED FILE, never per data row
      val touched = live
        .join(source.select(keys.map(col): _*), keys, "left_semi")
        .select(FileCol).distinct()
        .collect().map(r => uriToPath(r.getString(0))).toSet
      val untouched = base.files.filterNot(touched)
      val targetSlice =
        if (touched.isEmpty) live.drop(FileCol, PosCol).limit(0)
        else liveWithPos(spark, schema, base.files.filter(touched), base.dv)
          .drop(FileCol, PosCol)
      val merged = graft.operators.Merge.upsert(targetSlice, source, keys)
      val (dataDir, newFiles) = writeData(merged, path)
      // DV entries for rewritten files go inert with the files themselves
      Some(Attempt(untouched ++ newFiles, Some(mergeSchemas(schema, merged.schema)),
        base.dv, Seq(dataDir)))
    }.get

  // ---------------------------------------------------- change data feed

  /** Row-level change feed for `(fromVersion, toVersion]` — Delta CDF's
    * shape: the table columns plus `_change_type` (`insert` | `delete`;
    * a merge's update surfaces as delete-of-preimage + insert-of-
    * postimage) and `_commit_version`. Exact for commits that only add
    * files and/or DV entries (append, [[writeOnce]], [[deleteWhere]],
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
          else Seq(spark.read.schema(schemaOf(spark, cur)).parquet(addedFiles: _*)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(v)))
        val deletes =
          if (addedDv.isEmpty) Seq.empty
          else {
            val dv = spark.read.schema(DvSchema).parquet(addedDv: _*)
            val scan = withPos(spark, schemaOf(spark, prev), prev.files)
            Seq(scan.join(broadcast(dv),
                scan(FileCol) === dv("file") && scan(PosCol) === dv("pos"),
                "left_semi")
              .drop(FileCol, PosCol)
              .withColumn("_change_type", lit("delete"))
              .withColumn("_commit_version", lit(v)))
          }
        inserts ++ deletes
      }
    }
    val empty = readVersion(spark, path, toVersion).limit(0)
      .withColumn("_change_type", lit(""))
      .withColumn("_commit_version", lit(0L))
    deltas.foldLeft(empty)(_.unionByName(_, allowMissingColumns = true))
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
    if (m.files.isEmpty) spark.emptyDataFrame
    else if (m.dv.isEmpty) spark.read.schema(schemaOf(spark, m)).parquet(m.files: _*)
    else liveWithPos(spark, schemaOf(spark, m), m.files, m.dv).drop(FileCol, PosCol)
  }

  /** RESTORE `version` as a NEW commit: the table's head becomes a
    * manifest referencing exactly the old version's files and deletion
    * vectors (Delta's `RESTORE TABLE ... TO VERSION AS OF` semantics —
    * time travel made durable while preserving history; a later restore
    * can roll the restore itself back). Metadata-only: no data file is
    * read, moved, or rewritten, so restoring a 100 TB table costs one
    * manifest write (the target's recorded schema is copied as is).
    * Retries on version races like any blind commit;
    * requires the target version's manifest to still exist (VACUUM with
    * a retention window shorter than the restore target forfeits it).
    */
  def restore(path: String, version: Long): Long = {
    require(Files.exists(manifestPath(path, version)),
      s"cannot restore to version $version: manifest vacuumed or absent")
    val target = readManifest(path, version)
    commitLoop(path, s"restore($version)", requireBase = true)(_ =>
      Some(Attempt(target.files, target.schema, target.dv))).get
  }

  /** Read the latest version. */
  def read(spark: SparkSession, path: String): DataFrame =
    readVersion(spark, path, latestOrFail(path))

  // ---------------------------------------------------- data skipping
  //
  // Delta stores per-file column min/max in its log and prunes files
  // before the scan. Here the stats live in a sidecar parquet per
  // indexed column (`_graft_stats/<col>/`), keyed by data-file path.
  // Data files are IMMUTABLE, so a file's stats never change: the
  // sidecar is append-only, missing entries are computed lazily (one
  // aggregation over just the unindexed files), and entries for
  // vacuumed files are inert. Deletion vectors only shrink a file's
  // live rows, so manifest-file stats stay sound bounds — a fully
  // deleted range costs one false-positive file read, never a wrong
  // result.

  /** The one sidecar-skipping read under [[readWhere]] and
    * [[readWhereEquals]]: the live rows of the latest version matching
    * `cond`, scanning only the files whose sidecar entry under `dir`
    * satisfies `keep`. `sidecar` gives the sidecar's schema for the
    * table schema. One pass over the sidecar collects (file, keep)
    * for every live file it covers; files it does not cover get entries
    * from `index` — handed a scan of exactly those files under the table
    * schema, it returns `uri` (`_metadata.file_path`) plus the
    * sidecar's value columns — in one append, and a second pass then
    * reads their verdicts. A file still without an entry (lost append
    * race) is read conservatively. Driver traffic is bounded by the FILE
    * count (the same order as reading the manifest), never by rows.
    * Returns (rows, filesRead, filesTotal).
    */
  private def skippingRead(spark: SparkSession, path: String, dir: Path,
      sidecar: StructType => StructType, index: DataFrame => DataFrame,
      keep: Column, cond: Column): (DataFrame, Long, Long) = {
    val head = readManifest(path, latestOrFail(path))
    val fs = head.files
    if (fs.isEmpty) return (spark.emptyDataFrame, 0L, 0L)
    val schema = schemaOf(spark, head)
    val sidecarSchema = sidecar(schema)
    def verdicts(): Seq[(String, Boolean)] =
      if (!Files.exists(dir)) Seq.empty
      else spark.read.schema(sidecarSchema).parquet(dir.toString)
        .filter(col("file").isInCollection(fs))
        .select(col("file"), coalesce(keep, lit(false)))
        .collect().map(r => (r.getString(0), r.getBoolean(1))).toSeq
    val first = verdicts()
    val missing = fs.filterNot(first.map(_._1).toSet)
    val entries =
      if (missing.isEmpty) first
      else {
        index(spark.read.schema(schema).parquet(missing: _*))
          // manifests store plain paths; `file_path` is a file: URI on the
          // local FS — strip the scheme so sidecar keys match manifests
          .withColumn("uri", regexp_replace(col("uri"), "^file:(//)?", ""))
          .withColumnRenamed("uri", "file")
          .coalesce(1)
          .write.mode(SaveMode.Append).parquet(dir.toString)
        verdicts()
      }
    val indexed = entries.map(_._1).toSet
    val toRead = entries.collect { case (f, true) => f }.distinct ++
      fs.filterNot(indexed)
    val out =
      if (toRead.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema).filter(cond)
      else liveWithPos(spark, schema, toRead, head.dv).drop(FileCol, PosCol).filter(cond)
    (out, toRead.size.toLong, fs.size.toLong)
  }

  private def statsDir(path: String, column: String): Path =
    Paths.get(path, "_graft_stats", column)

  /** A stats sidecar row: a data file and its min/max of a column of
    * type `t`.
    */
  private def statsSchema(t: DataType): StructType =
    new StructType().add("file", StringType).add("mn", t).add("mx", t)

  /** Range read with file skipping: the rows of the latest version
    * satisfying `lo <= column <= hi`, scanning only files whose
    * [min,max] intersects the range. Result is identical to
    * `read(...).filter(...)`; only the files touched differ. Returns
    * (rows, filesRead, filesTotal).
    *
    * First call over new files pays one stats aggregation for exactly
    * those files (grouped by `_metadata.file_path` — the shuffle is
    * file-count wide); later calls prune from the sidecar alone. All
    * range comparisons run in the engine with its own type coercion —
    * no driver-side value comparisons. All-null files (mn = mx = NULL)
    * are skipped: the range filter excludes null rows regardless — files
    * that predate the column read it as NULL under the declared schema.
    */
  def readWhere(spark: SparkSession, path: String, column: String,
      lo: Any, hi: Any): (DataFrame, Long, Long) = {
    def sidecar(schema: StructType): StructType =
      statsSchema(schema.find(_.name == column).map(_.dataType).getOrElse(
        throw new IllegalArgumentException(
          s"data-skipping column '$column' is not in the schema of $path")))
    def index(src: DataFrame): DataFrame =
      src.groupBy(col("_metadata.file_path").as("uri"))
        .agg(min(col(column)).as("mn"), max(col(column)).as("mx"))
    skippingRead(spark, path, statsDir(path, column), sidecar, index,
      keep = col("mx") >= lit(lo) && col("mn") <= lit(hi),
      cond = col(column) >= lit(lo) && col(column) <= lit(hi))
  }

  // ---------------------------------------------------------- bloom skip
  // Min/max stats prune RANGE predicates; a point lookup on a column the
  // table is not clustered by (every file's [min,max] spans the probe)
  // skips nothing. The Bloom sidecar fixes exactly that: per file, the
  // SET of k md5-derived bit positions its values touch — equality
  // probes read only files whose set covers all k probe positions.
  // Same lifecycle discipline as the stats sidecar: data files are
  // immutable so entries never change, missing entries are computed
  // lazily for exactly the unindexed files, DVs only shrink live rows
  // (a fully-deleted value costs one false-positive file read, never a
  // wrong result), and [[vacuumStats]]-style cleanup is inherited by
  // keying on the same file paths.

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

  /** Equality read with Bloom file skipping: the live rows of the latest
    * version where `column = value`, scanning only files whose Bloom
    * side entry covers the probe. Result is identical to
    * `read(...).filter(col === value)`; only files touched differ.
    * Returns (rows, filesRead, filesTotal).
    *
    * The per-file "filter" is stored as the sorted distinct position
    * set (≤ [[BloomBits]] ints — the sparse representation of the
    * bitmap, exact for the membership test and cheaper to build with a
    * distinct-aggregate than a bitmap OR). Probe positions are computed
    * driver-side from the identical md5 formula the build runs in the
    * engine, over the column's string cast — supported for string and
    * integral columns, where both renderings agree.
    */
  def readWhereEquals(spark: SparkSession, path: String, column: String,
      value: Any): (DataFrame, Long, Long) = {
    def index(src: DataFrame): DataFrame = {
      val fileList = src.select(col("_metadata.file_path").as("uri")).distinct()
      val none = array().cast("array<int>")
      // every scanned file gets an entry: a file whose values are all
      // NULL for the column (a file that predates the column, or a
      // genuinely all-null file) contributes no position rows, and its
      // sound entry is the EMPTY set — an equality probe excludes null
      val posExprs = (0 until BloomK).map { i =>
        (graft.expressions.Md5Prefix.md5Prefix(
          concat(lit(s"bloom-v1|$i|"), col("v")), 12) % BloomBits)
          .cast("int")
      }
      val sets = src
        .select(col("_metadata.file_path").as("uri"),
          col(column).cast("string").as("v"))
        .filter(col("v").isNotNull)
        .select(col("uri"), explode(array(posExprs: _*)).as("pos"))
        .groupBy("uri")
        .agg(sort_array(collect_set(col("pos"))).as("pos_set"))
      fileList.join(sets, Seq("uri"), "left")
        .select(col("uri"), coalesce(col("pos_set"), none).as("pos_set"))
    }
    val probe: Seq[Int] = (0 until BloomK).map { i =>
      (java.lang.Long.parseLong(
        bloomHashHex(i, String.valueOf(value)).substring(0, 12), 16)
        % BloomBits).toInt
    }
    skippingRead(spark, path, bloomDir(path, column), _ => BloomSchema, index,
      keep = probe.distinct.map(p => array_contains(col("pos_set"), p)).reduce(_ && _),
      cond = col(column) === lit(value))
  }

  /** Drop data-skipping sidecar rows whose file is referenced by NO
    * retained manifest — the stats analog of [[vacuum]] (dead rows are
    * inert for correctness but accumulate forever on a churning table).
    * Bounded by file count end to end: each column's sidecar collects
    * to the driver (same order as a manifest read) and is rewritten
    * from memory, which also sidesteps Spark's self-overwrite
    * restriction. Run when no concurrent [[readWhere]] is appending —
    * a lost concurrent append only costs that reader a lazy recompute,
    * never a wrong result. Returns the number of rows dropped.
    */
  def vacuumStats(spark: SparkSession, path: String): Long = {
    // the Bloom sidecar shares the (file, …) keying — same cleanup
    val roots = Seq("_graft_stats", "_graft_bloom")
      .map(Paths.get(path, _)).filter(Files.exists(_))
    if (roots.isEmpty) return 0L
    // live-file keys come from the metadata plane (manifest lists —
    // driver-sized by definition); the sidecar ROWS stay distributed:
    // a left-semi join against the broadcast key table replaces the
    // old collect-and-filter, which at millions of indexed files would
    // pull whole stats sidecars into the driver
    val live: Set[String] =
      versions(path).flatMap(v => files(path, v)).toSet
    import spark.implicits._
    val liveDf = live.toSeq.sorted.toDF("file")
    // the sidecars' declared schemas; a stats sidecar of a column the
    // table no longer has is read by footer inference
    val table = schemaOf(spark, readManifest(path, latestOrFail(path)))
    def sidecar(colDir: Path): Option[StructType] =
      if (colDir.getParent.getFileName.toString == "_graft_bloom") Some(BloomSchema)
      else table.find(_.name == colDir.getFileName.toString)
        .map(f => statsSchema(f.dataType))
    var dropped = 0L
    roots.flatMap(r => listDir(r)(_.toSeq)).filter(Files.isDirectory(_))
      .foreach { colDir =>
      val df = sidecar(colDir).fold(spark.read)(s => spark.read.schema(s))
        .parquet(colDir.toString)
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
    * retained manifest references. Time travel to a vacuumed version
    * fails by design (its manifest is gone); readers of RETAINED versions
    * are untouched because their files are, too. Manifests go first so an
    * expired version disappears atomically before any of its exclusive
    * files do. Returns the number of data files deleted.
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
    }.toSet
    vs.dropRight(retainLast).foreach { v =>
      Files.deleteIfExists(manifestPath(path, v)); ()
    }
    // superseded checkpoints go with them; the NEWEST survives so the
    // op-dedup history of vacuumed versions remains consultable
    checkpoints(path).dropRight(1).foreach { v =>
      Files.deleteIfExists(checkpointPath(path, v)); ()
    }
    val horizon = System.currentTimeMillis() - minAgeMs
    def expired(p: Path): Boolean =
      Files.getLastModifiedTime(p).toMillis <= horizon
    var deleted = 0
    Seq(s"$path/data", s"$path/dv").map(Paths.get(_))
      .filter(Files.exists(_)).foreach { root =>
      val subs = listDir(root)(_.filter(Files.isDirectory(_)).toSeq)
      subs.foreach { sub =>
        val entries = listDir(sub)(_.toSeq)
        val parqs = entries.filter(_.toString.endsWith(".parquet"))
        val dead = parqs.filter(p => !live.contains(p.toString) && expired(p))
        dead.foreach { p => Files.deleteIfExists(p); deleted += 1 }
        if (!parqs.exists(p => live.contains(p.toString)) &&
            dead.size == parqs.size) {
          // no retained version reaches into this commit dir and every
          // data file is confirmed dead: remove the leftover markers
          // (_SUCCESS etc.) and the dir itself
          entries.filterNot(_.toString.endsWith(".parquet"))
            .foreach(Files.deleteIfExists(_))
          Files.deleteIfExists(sub)
          ()
        }
      }
    }
    deleted
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
    * Scale shape: the driver touches only file METADATA (one size stat
    * per live file — what Delta reads from its log); the data move is a
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
      val small = base.files.filter(f => Files.size(Paths.get(f)) < targetBytes)
      if (small.size < 2) None
      else {
        val total = small.map(f => Files.size(Paths.get(f))).sum
        val nOut = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
        // DV-masked rows must NOT resurrect in the rewrite: compact the
        // LIVE rows of the small files (their DV entries then go inert);
        // kept files retain their DV subtraction through the carried list
        val compacted = liveWithPos(spark, schema, small, base.dv)
          .drop(FileCol, PosCol).repartition(nOut)
        val (dataDir, newFiles) = writeData(compacted, path)
        Some(Attempt(base.files.filterNot(small.toSet) ++ newFiles, Some(schema),
          base.dv, Seq(dataDir)))
      }
    }
}
