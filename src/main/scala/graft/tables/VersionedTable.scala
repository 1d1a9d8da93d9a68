package graft.tables

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

/** A change-feed slice that cannot be expressed as row-level changes —
  * vacuumed change sets, commits with no reconstructible change set
  * (overwrite/restore on a CDF-disabled era), or NULL group keys on the
  * incremental-aggregate path. Callers that maintain derived state from
  * the feed (REFRESH MATERIALIZED VIEW) catch exactly this type and fall
  * back to a full recompute; every OTHER error (schema drift, missing
  * columns, misconfiguration) still propagates loudly instead of being
  * silently absorbed into a recompute. */
class CdfNotExpressible(msg: String) extends RuntimeException(msg)

/** A snapshot-versioned parquet table: the engine's stand-in for the
  * reference's Delta tables (no Delta jars in this environment).
  *
  * Semantics modeled on the reference's table layer:
  *  - append-only bronze writes  (reference: `df.write.format("delta").mode("append")`,
  *    notebooks/01_bronze/11_ingest_fpl_bootstrap.py:151)
  *  - full overwrite publishes   (notebooks/03_silver/31_build_silver_dims.py:313-339)
  *  - MERGE upsert               (declared: notebooks/03_silver/32_merge_silver_live_event.sql,
  *    resources/uc/objects.sql:137-149)
  *  - time travel VERSION AS OF / TIMESTAMP AS OF (declared:
  *    notebooks/04_gold/45_time_travel_debug.sql, docs/backlog.md:55-58)
  *  - OPTIMIZE-style compaction  (resources/uc/objects.sql:25-28 autoOptimize)
  *  - DESCRIBE HISTORY as a relation (docs/backlog.md:55-58) via [[historyDf]]
  *
  * Layout (log-structured, O(1) append — appends write only new files, the
  * version log records which file-sets make up each snapshot, so this design
  * scales to arbitrarily large tables):
  * {{{
  *   <root>/data/<writeId>/part-*.parquet   // immutable file-sets, one dir per write
  *   <root>/data/<writeId>.b<k>/...         // bucketed file-set: bucket k only
  *   <root>/_log/<%020d version>.json       // {version, tsMillis, action, fileSets:[...]}
  *   <root>/_bucketspec.json                // optional {keys, numBuckets}
  * }}}
  *
  * '''Copy-on-write MERGE.''' A merged table is hash-bucketed on its merge
  * keys: every file-set covers exactly one of `numBuckets` key-hash buckets
  * (the bucket id is part of the file-set name, so the log format is
  * unchanged). `merge` computes the buckets its update keys land in, reads
  * and rewrites ONLY those buckets' file-sets, and carries every untouched
  * file-set into the new log entry verbatim — the same touched-files-only
  * write Delta's MERGE performs. Per micro-batch cost is
  * O(table / numBuckets × touched buckets), not O(table): at 100 TB with
  * 4096 buckets, a batch touching 3 buckets rewrites ~75 GB, not 100 TB.
  *
  * '''Concurrency: optimistic, Delta-style.''' Commits are put-if-absent
  * (write-temp + hard-link, which FAILS on an occupied version slot where
  * a rename would silently replace a concurrent writer's commit).
  * Concurrent blind appends/overwrites rebase onto the winner's snapshot
  * and retry; read-modify-write commits (merge/delete/compact/zorder/
  * restore) detect that the snapshot they derived from went stale and
  * throw ConcurrentModificationException for the caller to rerun — lost
  * updates are impossible either way. (The reference serializes writers
  * via `max_concurrent_runs: 1`,
  * resources/workflows/slice_v1_fpl_bootstrap.yml:5; a 100 TB deployment
  * with parallel ingest jobs cannot.)
  */
final class VersionedTable(val spark: SparkSession, val root: String) {
  import VersionedTable._

  private def logDir: Path = Paths.get(root, "_log")
  private def dataDir: Path = Paths.get(root, "data")
  private def stagingDir: Path = Paths.get(root, "_staging")
  private def specPath: Path = Paths.get(root, "_bucketspec.json")
  private def dvDir: Path = Paths.get(root, "_dv")

  /** Glob covering every file-set dir — the path to hand a streaming
    * reader that must see ALL committed data, present and future (a
    * single file-set dir would silently miss later appends). */
  def dataGlob: String = dataDir.resolve("*").toString

  /** Files.list leaks its DirectoryStream unless closed; every directory
    * listing goes through here. */
  private def listDir(p: Path): Seq[Path] = {
    if (!Files.isDirectory(p)) return Seq.empty
    val s = Files.list(p)
    try s.iterator().asScala.toList finally s.close()
  }

  /** Every regular file under `p`, recursively (shared by the byte
    * accounting, DESCRIBE DETAIL and the manifest generator — one
    * definition so traversal fixes can't silently diverge). */
  private def filesUnder(p: Path): Seq[Path] =
    listDir(p).flatMap(c =>
      if (Files.isDirectory(c)) filesUnder(c) else Seq(c))

  // ---------------------------------------------------------------- log I/O

  /** All committed log entries, ascending by version. Log files are
    * immutable once committed (atomic rename), so parses are memoized
    * process-wide: the directory is re-listed on every call
    * (staleness-safe for concurrent readers of new commits) but each
    * entry's JSON is read and parsed exactly once — a merge/commit
    * sequence calls this a dozen times and previously re-parsed the whole
    * log each time. The cache key includes the file's fileKey (inode) and
    * mtime, NOT just the path: a table dropped and recreated at the same
    * root re-uses identical log file names (version 0 is always
    * `000…0.json`), and a path-only key would resurrect the dropped
    * table's metadata. The per-file stat this costs is negligible next to
    * the parse it replaces; reading history() concurrently with a DROP of
    * the same table can throw here (NoSuchFile between list and stat) —
    * inherent to drop-during-read and outside the single-writer model. */
  def history: Seq[LogEntry] = {
    // one retry: pruneEntries can legitimately delete a listed entry file
    // between our list and read — the re-list sees the checkpoint that
    // replaced it (any OTHER missing-file cause still throws on pass 2)
    try historyOnce()
    catch { case _: java.nio.file.NoSuchFileException |
                 _: java.io.UncheckedIOException => historyOnce() }
  }

  private def historyOnce(): Seq[LogEntry] = {
    val files = listDir(logDir)
    // newest checkpoint = folded entries [0, cpV]; raw .json entries
    // beyond it are the tail. Without a checkpoint this is the original
    // parse-every-entry path.
    val cp = files.filter(_.getFileName.toString.endsWith(".checkpoint"))
      .sortBy(_.getFileName.toString).lastOption
    val base = cp.map(p => cachedParse(p, s =>
      s.linesIterator.filter(_.nonEmpty).map(LogEntry.parse).toList))
      .getOrElse(Nil)
    val cpV = base.lastOption.map(_.version).getOrElse(-1L)
    base ++ files
      .filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".json") && n.stripSuffix(".json").toLong > cpV
      }
      .sortBy(_.getFileName.toString)
      .map(p => cachedParse(p, s => List(LogEntry.parse(s))).head)
  }

  private def cachedParse(p: Path, parse: String => List[LogEntry]): List[LogEntry] = {
    val attrs = Files.readAttributes(p,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    val key = s"${p.toAbsolutePath}|${attrs.fileKey}|${attrs.lastModifiedTime.toMillis}"
    logCacheLookup(key, _ => parse(Files.readString(p)))
  }

  /** Delta-style log checkpoint: fold every committed entry into ONE
    * `<%020d v>.checkpoint` file (JSON lines, atomic replace). `history`
    * then reads checkpoint + post-checkpoint tail — O(1 + tail) metadata
    * reads instead of O(versions): at 100 TB a streaming-merged table
    * commits every few minutes and holds ~100k versions within a year;
    * without checkpoints EVERY snapshot read opens 100k tiny files (and
    * on an object store, lists them). Auto-invoked every
    * [[VersionedTable.CheckpointInterval]] commits.
    *
    * `pruneEntries = true` additionally deletes the folded `.json` entry
    * files (Delta's metadata cleanup): time travel, DESCRIBE HISTORY and
    * the txn ledger are unaffected — the checkpoint holds the complete
    * entries — and the log dir stays bounded by the interval. Older
    * checkpoints are always removed (each is a superset of the last). */
  def checkpointLog(pruneEntries: Boolean = false): Unit = {
    val h = historyOnce()
    if (h.isEmpty) return
    val v = h.last.version
    AtomicFile.replace(logDir.resolve(f"$v%020d.checkpoint"),
      h.map(_.toJson).mkString("", "\n", "\n"))
    val stale = listDir(logDir).filter { p =>
      val n = p.getFileName.toString
      (n.endsWith(".checkpoint") && n.stripSuffix(".checkpoint").toLong < v) ||
        (pruneEntries && n.endsWith(".json") &&
          n.stripSuffix(".json").toLong <= v)
    }
    stale.foreach(Files.deleteIfExists(_))
  }

  /** Best-effort auto-checkpoint after `entry`'s commit won its slot:
    * failure never fails the commit (the raw entry is already durable). */
  private def maybeCheckpoint(entry: LogEntry): Unit =
    if (entry.version > 0 && entry.version % CheckpointInterval == 0)
      try checkpointLog() catch { case _: Exception => }

  def latestVersion: Option[Long] = history.lastOption.map(_.version)

  /** Bytes of the file-sets ADDED at exactly version `v` — directory
    * listing only, no data read (0 for metadata-only / carry commits).
    * Streaming byte-based admission control (`maxBytesPerTrigger`)
    * consults this per version; contents are immutable, so callers can
    * memoize freely. */
  def addedBytesAt(v: Long): Long =
    addedBytesAt(v, history.map(e => e.version -> e).toMap)

  /** Map-resolved form — backlog walkers (the streaming byte-admission
    * path) resolve the version→entry map ONCE and size many versions
    * against it; the single-version form's per-call linear history
    * scans would make a long backlog's catch-up O(backlog × history)
    * driver work. The added-bytes definition lives only here. */
  private[graft] def addedBytesAt(v: Long,
      byVersion: Map[Long, VersionedTable.LogEntry]): Long =
    byVersion.get(v).fold(0L) { e =>
      val prev = byVersion.get(v - 1).map(_.fileSets).getOrElse(Nil)
      e.fileSets.diff(prev).map(fs =>
        filesUnder(dataDir.resolve(fs))
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(Files.size).sum).sum
    }

  /** Latest committed transaction version for `appId` — the Delta
    * `txnAppId`/`txnVersion` idempotent-writes ledger, read straight from
    * the version log (the markers ride in the commit entries, so this
    * can never disagree with table contents). O(history), cached parses.
    * Survives [[vacuum]], which reclaims data file-sets but never log
    * entries — the ledger has no retention cliff. */
  def lastTxnVersion(appId: String): Option[Long] =
    history.flatMap(_.txn.collect { case (app, v) if app == appId => v })
      .maxOption

  /** DESCRIBE HISTORY as a relation (docs/backlog.md:55-58): one row per
    * committed version, queryable/joinable like any DataFrame. The
    * operation metrics (Delta's operationMetrics analog) come free from
    * consecutive log diffs — metadata-only, no data read: `n_added_sets`
    * / `n_removed_sets` say whether a commit appended, rewrote, or
    * carried (a metadata-only DDL commit shows 0/0). */
  def historyDf: DataFrame = {
    import spark.implicits._
    val h = history
    h.zip(None +: h.map(Option(_)))
      .map { case (e, prev) =>
        val p = prev.map(_.fileSets).getOrElse(Nil)
        (e.version, new java.sql.Timestamp(e.tsMillis), e.action,
          e.fileSets.length.toLong,
          e.fileSets.diff(p).length.toLong,
          p.diff(e.fileSets).length.toLong)
      }
      .toDF("version", "commit_ts", "action", "n_file_sets",
        "n_added_sets", "n_removed_sets")
  }

  /** Total data bytes of the CURRENT snapshot — directory-listing
    * metadata only, never a Spark job (the cost key optimizer-time
    * consumers like [[graft.plans.MvRewrite]]'s candidate pick need:
    * launching a count job from inside a Catalyst rule would execute
    * queries during planning). Empty table → 0. */
  def snapshotBytes: Long =
    history.lastOption.fold(0L) { e =>
      e.fileSets.flatMap(fs => filesUnder(dataDir.resolve(fs)))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(Files.size).sum
    }

  /** DESCRIBE DETAIL as a relation (Delta's `DESCRIBE DETAIL` surface):
    * one row of current-snapshot metadata — version, file-set/file/byte
    * counts, bucket and partition layout. Metadata-only (file sizes come
    * from directory listings of the current file-sets, no data read). */
  def detailDf: DataFrame = {
    import spark.implicits._
    val e = history.lastOption.getOrElse(sys.error(s"empty table at $root"))
    val files = e.fileSets.flatMap(fs => filesUnder(dataDir.resolve(fs)))
      .filter(_.getFileName.toString.endsWith(".parquet"))
    val spec = bucketSpec
    Seq((root, e.version, new java.sql.Timestamp(e.tsMillis),
      e.fileSets.length.toLong, files.length.toLong,
      files.map(Files.size).sum,
      spec.map(_.numBuckets).getOrElse(0),
      spec.map(_.keys.mkString(",")).getOrElse(""),
      // bucketed tables report the SPEC's partition keys only — the hive
      // layout record applies solely to non-bucketed tables
      spec.map(_.partitionKeys.mkString(","))
        .getOrElse(partitionLayout.mkString(",")),
      e.dvs.length, changeFeedEnabled, checks.length,
      generatedColumns.length,
      // the column-mapping ledger, surfaced (an operator must be able
      // to see renames/drops without reading _colmap.json): one compact
      // ordered string — "old->new" per rename, "name->(dropped)" per
      // drop — plus counts for cheap predicates
      columnRenames.length, columnDrops.length,
      (columnRenames.map { case (_, f, to) => s"$f->$to" } ++
        columnDrops.map { case (_, f) => s"$f->(dropped)" }).mkString(";"),
      identityColumns.length,
      // TBLPROPERTIES, sorted "k=v" pairs — one compact string, same
      // shape as column_mapping (cheap predicates without _props.json)
      properties.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString(";"),
      // named snapshot pins, "name=vN" sorted — an operator sees which
      // versions are vacuum-exempt without reading _tags.json
      tags.size,
      tags.toSeq.sortBy(_._1)
        .map { case (n, v) => s"$n=v$v" }.mkString(";")))
      .toDF("location", "version", "last_modified", "num_file_sets",
        "num_files", "size_bytes", "num_buckets", "bucket_keys",
        "partition_columns", "num_deletion_vectors", "change_feed_enabled",
        "num_checks", "num_generated_columns", "num_renamed_columns",
        "num_dropped_columns", "column_mapping", "num_identity_columns",
        "properties", "num_tags", "tags")
  }

  /** Delta `GENERATE symlink_format_manifest` analog: write
    * `_symlink_format_manifest/manifest` — one absolute parquet path per
    * line for the CURRENT snapshot (atomic replace) — so external
    * engines (Presto/Trino/Athena-style) can read the table as plain
    * files without understanding the version log. Refuses while
    * deletion vectors are live (a path manifest cannot express
    * row-level deletes — Delta draws the same line): REORG APPLY
    * (PURGE) first. Regenerate after each commit you want visible;
    * readers of the manifest see the snapshot it was generated from. */
  def generateSymlinkManifest(): Long = {
    val snap = history.lastOption.getOrElse(sys.error(s"empty table at $root"))
    require(snap.dvs.isEmpty,
      s"GENERATE manifest at $root: deletion vectors present — run " +
        "REORG TABLE … APPLY (PURGE) first (a path manifest cannot " +
        "express row-level deletes)")
    // column mapping refuses for the same reason: pre-DDL files carry
    // the OLD physical names (read-time projection fixes them up; a
    // raw-path reader would see the stale/dropped columns). Delta
    // likewise blocks manifests on column-mapping tables. OPTIMIZE
    // migrates physical names, after which the ledger is inert history —
    // but the refusal keys on the ledger conservatively.
    require(columnRenames.isEmpty && columnDrops.isEmpty,
      s"GENERATE manifest at $root: column-mapping DDL (RENAME/DROP " +
        "COLUMN) present — raw parquet paths would expose stale " +
        "physical column names to external readers")
    val files = snap.fileSets
      .flatMap(fs => filesUnder(dataDir.resolve(fs)))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(_.toAbsolutePath.toString).sorted
    AtomicFile.replace(Paths.get(root, "_symlink_format_manifest", "manifest"),
      files.mkString("", "\n", "\n"))
    files.length.toLong
  }

  /** Read-modify-write commit: `fileSets` was derived by READING snapshot
    * `basedOn` (None = the empty table) — merge/delete/compact/restore
    * carry forward the file-sets they did not rewrite. If the table moved
    * past that snapshot, or a concurrent writer wins the version slot in
    * the final put-if-absent race, the carried-file-set arithmetic is
    * stale: retrying would silently drop the winner's changes, so throw
    * (Delta's ConcurrentModificationException family) and let the caller
    * rerun against the new snapshot. Versions are dense, so "snapshot
    * moved" ⟺ "next slot occupied" — [[tryWriteEntry]] cannot succeed on
    * a stale snapshot. */
  private[tables] def commit(action: String, fileSets: Seq[String],
                             basedOn: Option[Long],
                             txn: Option[(String, Long)] = None,
                             dvs: Seq[String] = Nil,
                             cdf: Option[String] = None): LogEntry = {
    val latest = latestVersion
    if (latest != basedOn) throw conflict(action, basedOn, latest)
    val entry = LogEntry(latest.map(_ + 1).getOrElse(0L),
      System.currentTimeMillis(), action, fileSets, txn, dvs, cdf)
    if (!tryWriteEntry(entry)) throw conflict(action, basedOn, latestVersion)
    maybeCheckpoint(entry)
    entry
  }

  /** Snapshot-independent commit (blind append / overwrite): `derive`
    * builds the new file-set list FROM the current snapshot's list and is
    * simply re-run against the winner's snapshot whenever a concurrent
    * writer takes the version slot first — concurrent blind appends
    * serialize without lost updates (each writer's new file-set dirs are
    * disjoint UUIDs), exactly the concurrent transactions Delta admits. */
  private[tables] def commitRebase(action: String,
                                   derive: Seq[String] => Seq[String],
                                   txn: Option[(String, Long)] = None,
                                   deriveDvs: Seq[String] => Seq[String] = identity): LogEntry = {
    @annotation.tailrec
    def attempt(retries: Int): LogEntry = {
      // the txn idempotence check re-runs on EVERY attempt: if a racing
      // writer committed the same (app, version) between our history read
      // and the link, our link fails, and the retry must SKIP, not
      // double-apply (versions are dense, so the racer's commit is
      // guaranteed visible to the re-read)
      val h = history
      val replayed = txn.exists { case (app, v) =>
        h.exists(_.txn.exists(t => t._1 == app && t._2 >= v))
      }
      if (replayed) h.last
      else {
        val snap = h.lastOption
        // deletion vectors rebase too: an append carries the WINNER's dvs
        // (its deletes must stay applied), an overwrite clears them
        val entry = LogEntry(snap.map(_.version + 1).getOrElse(0L),
          System.currentTimeMillis(), action,
          derive(snap.map(_.fileSets).getOrElse(Nil)), txn,
          deriveDvs(snap.map(_.dvs).getOrElse(Nil)))
        if (tryWriteEntry(entry)) { maybeCheckpoint(entry); entry }
        else if (retries > 0) attempt(retries - 1)
        else sys.error(
          s"$action at $root: lost the commit race $MaxCommitRetries times")
      }
    }
    attempt(MaxCommitRetries)
  }

  /** Read-modify-write commit with CELL-GRANULAR conflict resolution —
    * the Delta concurrency matrix's "concurrent blind append vs MERGE"
    * cell. A merge consumed the file-sets of its touched (partition,
    * bucket) cells and produced replacements (plus new cells for
    * inserted keys). If a concurrent writer took the version slot, the
    * merge may REBASE instead of failing iff every intervening commit
    *   - is a blind `append` (adds file-sets, removes nothing, carries
    *     the deletion-vector list unchanged), and
    *   - added only file-sets whose cell suffix is DISJOINT from the
    *     merge's consumed ∪ produced cells — same hash, same spec, so a
    *     disjoint cell CANNOT hold a key the merge read or wrote.
    * Then the rebased entry is (winner's sets − consumed) ∪ produced:
    * the winner's rows all survive, the merge's rows all land, and no
    * key is duplicated. Anything else (overlapping cell, unparseable
    * set name, non-append action, DV change) refuses with the standard
    * ConcurrentModificationException — at 1000 executors this is the
    * difference between "ingest appends serialize with the continuous
    * MERGE conformer" and "every merge retries from scratch". */
  // --------------------- prepared (two-phase) merge commits
  // A multi-table consumer (the curation slice: kept/hashes/bands) must
  // not expose a crash state where SOME of its state tables absorbed a
  // slice and others did not. [[mergePrepared]] runs the ENTIRE merge —
  // staging, COW join, cell writes, CDF change set — but stops short of
  // the log append: every file already sits under its final name,
  // invisible (untracked names are age-gated by vacuum) until
  // [[commitPrepared]] appends the one entry. The caller stages every
  // table, records ONE atomic intent, then commits each — a crash
  // before the intent changes nothing; after it, recovery rolls ALL
  // tables forward (idempotent: replayed txn markers short-circuit).

  private val prepareSink =
    new ThreadLocal[Option[VersionedTable.PreparedCommit => Unit]] {
      override def initialValue: Option[VersionedTable.PreparedCommit => Unit] = None
    }

  /** [[merge]] stopped short of the log append. Returns None when the
    * txn marker shows the slice already applied (nothing to commit). */
  def mergePrepared(updates: DataFrame, keys: Seq[String],
      preferUpdateBy: Option[String] = None,
      numBuckets: Int = DefaultMergeBuckets,
      updateExprs: Map[String, (Column, Column) => Column] = Map.empty,
      txn: Option[(String, Long)] = None)
      : Option[VersionedTable.PreparedCommit] = {
    var captured: Option[VersionedTable.PreparedCommit] = None
    prepareSink.set(Some(pc => captured = Some(pc)))
    try { merge(updates, keys, preferUpdateBy, numBuckets, updateExprs,
      txn = txn); () }
    finally prepareSink.set(None)
    captured
  }

  /** Append a [[mergePrepared]] capture's log entry. Idempotent under
    * replay (the txn marker short-circuits), loud on a concurrent
    * commit (prepared flows are single-writer by contract). */
  def commitPrepared(p: VersionedTable.PreparedCommit): LogEntry = {
    val e =
      if (p.cellRebase)
        commitCellRebase(p.action, p.consumed, p.produced, p.basedOn,
          p.txn, p.dvs, p.cdf)
      else if (txnAlreadyApplied(p.txn)) history.last
      else commit(p.action, p.produced, p.basedOn, p.txn, p.dvs, p.cdf)
    if (p.autoCompact) maybeAutoCompact(e) else e
  }

  /** The single funnel for [[merge]]'s three commit shapes: in prepared
    * mode it captures the request instead of appending (the returned
    * synthetic entry is discarded by [[mergePrepared]]). */
  private def mergeCommit(cellRebase: Boolean, autoCompact: Boolean,
      consumed: Seq[String], produced: Seq[String], basedOn: Option[Long],
      txn: Option[(String, Long)], dvs: Seq[String],
      cdf: Option[String]): LogEntry =
    prepareSink.get() match {
      case Some(sink) =>
        sink(VersionedTable.PreparedCommit("merge", consumed, produced,
          basedOn, txn, dvs, cdf, cellRebase, autoCompact))
        LogEntry(basedOn.map(_ + 1).getOrElse(0L),
          System.currentTimeMillis(), "merge",
          history.lastOption.map(_.fileSets).getOrElse(Nil)
            .diff(consumed) ++ produced, txn, dvs, cdf)
      case None =>
        val e =
          if (cellRebase) commitCellRebase("merge", consumed, produced,
            basedOn, txn, dvs, cdf)
          else commit("merge", produced, basedOn, txn, dvs, cdf)
        if (autoCompact) maybeAutoCompact(e) else e
    }

  private[tables] def commitCellRebase(action: String,
      consumed: Seq[String], produced: Seq[String], basedOn: Option[Long],
      txn: Option[(String, Long)] = None, dvs: Seq[String] = Nil,
      cdf: Option[String] = None): LogEntry = {
    def cellsOf(sets: Seq[String]): Option[Set[String]] = {
      val parsed = sets.map {
        case SplitSuffixName(sfx) => Option(sfx)
        case _                    => None
      }
      if (parsed.forall(_.isDefined)) Some(parsed.flatten.toSet) else None
    }
    val ours = cellsOf(consumed ++ produced)
    @annotation.tailrec
    def attempt(based: Option[Long], retries: Int): LogEntry = {
      val h = history
      val latest = h.lastOption.map(_.version)
      val replayed = txn.exists { case (app, v) =>
        h.exists(_.txn.exists(t => t._1 == app && t._2 >= v)) }
      if (replayed) h.last
      else if (latest == based) {
        val entry = LogEntry(latest.map(_ + 1).getOrElse(0L),
          System.currentTimeMillis(), action,
          h.lastOption.map(_.fileSets).getOrElse(Nil).diff(consumed) ++
            produced, txn, dvs, cdf)
        if (tryWriteEntry(entry)) { maybeCheckpoint(entry); entry }
        else if (retries > 0) attempt(based, retries) // slot raced: re-judge
        else throw conflict(action, based, latestVersion)
      } else {
        val baseSets = based.flatMap(v => h.find(_.version == v))
          .map(_.fileSets).getOrElse(Nil)
        val intervening = h.filter(_.version > based.getOrElse(-1L))
        val rebasable = intervening.nonEmpty &&
          intervening.forall(_.action == "append") &&
          h.last.dvs == dvs && ours.isDefined &&
          cellsOf(h.last.fileSets.diff(baseSets))
            .exists(_.intersect(ours.get).isEmpty)
        if (!rebasable || retries <= 0)
          throw conflict(action, based, latest)
        attempt(latest, retries - 1)
      }
    }
    attempt(basedOn, MaxCommitRetries)
  }

  private def conflict(action: String, basedOn: Option[Long],
                       latest: Option[Long]) =
    new java.util.ConcurrentModificationException(
      s"$action at $root derives from snapshot version " +
        s"${basedOn.fold("<empty>")(_.toString)} but the table is at " +
        s"${latest.fold("<empty>")(_.toString)}: a concurrent writer " +
        "committed first; re-read and rerun")

  /** True iff this process won `entry.version`'s log slot. Put-if-absent
    * via write-temp + hard-link: Files.createLink FAILS on an existing
    * target where the previous rename would silently replace a concurrent
    * writer's commit. Filesystems without hard links degrade to atomic
    * rename (last-writer-wins, as before); an object-store port swaps in
    * its conditional PUT (S3 If-None-Match, GCS generation-0). */
  private def tryWriteEntry(entry: LogEntry): Boolean = {
    Files.createDirectories(logDir)
    val tmp = logDir.resolve(s".tmp-${UUID.randomUUID()}")
    Files.writeString(tmp, entry.toJson)
    val target = logDir.resolve(f"${entry.version}%020d.json")
    try { Files.createLink(target, tmp); true }
    catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: UnsupportedOperationException =>
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE); true
    } finally { Files.deleteIfExists(tmp); () }
  }

  // --------------------------------------------------- hive partition layout

  private def layoutPath: Path = Paths.get(root, "_layout.json")

  /** Hive partition columns of a NON-bucketed table, recorded at the
    * first partitioned append/overwrite: snapshot rewrites (compact,
    * delete) re-apply it, so compacting a date-partitioned bronze keeps
    * partition pruning instead of silently flattening the layout. */
  def partitionLayout: Seq[String] =
    MetaJson.readFile(layoutPath)(MetaJson.strs(_, "partitionBy"))
      .getOrElse(Nil)

  /** `allowExisting=true` (append): an existing recorded layout must
    * match; `false` (overwrite): the new layout replaces the record. */
  /** Schema-form `CREATE TABLE … PARTITIONED BY (p)`: the layout is
    * declared before any data exists. The empty snapshot itself is
    * written FLAT (a hive-partitioned empty write would lose the
    * partition columns from the readable schema); the first INSERT
    * appends hive-layout file-sets against this record, and the
    * multi-path scan unions the flat empty arm with the hive arms. */
  private[tables] def declarePartitionLayout(cols: Seq[String]): Unit =
    recordPartitionLayout(cols, allowExisting = false)

  private def recordPartitionLayout(cols: Seq[String], allowExisting: Boolean): Unit = {
    val cur = partitionLayout
    if (allowExisting && cols.isEmpty) return // flat append onto any layout
    if (allowExisting && cur.nonEmpty) {
      require(cur == cols,
        s"append partitionBy $cols != recorded table layout $cur at $root")
      return
    }
    if (cols == cur) return
    if (cols.isEmpty) { Files.deleteIfExists(layoutPath); return }
    MetaJson.write(layoutPath, MetaJson.obj("partitionBy" -> cols))
  }

  /** Iceberg-style partition evolution (Iceberg spec §Partition
    * Evolution; Delta has no analog — it requires a full rewrite):
    * re-declare the table's hive layout METADATA-ONLY. Existing
    * file-sets keep the directory structure they were written with —
    * the multi-arm scan reads each partitioned arm under its own root,
    * so partition discovery and pruning are per-arm and mixed layouts
    * union correctly (old arms simply don't dir-prune on the new keys;
    * their sidecar stats still skip). Every FUTURE append/overwrite
    * lays out by the new columns, and any snapshot rewrite (OPTIMIZE,
    * copy-on-write DELETE/UPDATE) migrates what it touches via
    * [[writeFileSetPreservingLayout]] — the table converges to the new
    * layout incrementally, never via a synchronous 100 TB rewrite.
    * Time travel is unaffected: old versions read their own arms.
    * Bucketed (merge) tables are refused — their partition×bucket cell
    * naming is load-bearing for merge routing and concurrency rebase.
    * `cols == Nil` evolves to a flat layout. */
  def evolvePartitionLayout(cols: Seq[String]): LogEntry = {
    val snap = history.lastOption.getOrElse(sys.error(s"empty table at $root"))
    require(bucketSpec.isEmpty,
      s"partition evolution is for non-bucketed tables; $root has a " +
        "bucket spec (merge-table cells cannot change layout in place)")
    val cur = read.columns.toSet
    val missing = cols.filterNot(cur.contains)
    require(missing.isEmpty,
      s"SET PARTITIONED BY names unknown column(s): ${missing.mkString(",")}")
    require(cols != partitionLayout,
      s"table already partitioned by (${cols.mkString(",")})")
    // the commit is the audit record (DESCRIBE HISTORY shows the DDL);
    // the layout file is the write-path source of truth, re-declared
    // after — a crash between leaves behavior unchanged (old layout
    // still recorded) with a harmless informational history row
    val entry = commit("set_partition_layout", snap.fileSets,
      basedOn = Some(snap.version), dvs = snap.dvs)
    recordPartitionLayout(cols, allowExisting = false)
    entry
  }

  /** Rewrite helper preserving the recorded hive layout (one file per
    * partition value: the repartition keys the dynamic write so each
    * value's rows land in one task — without it, every task would emit a
    * file into every partition dir). */
  private def writeFileSetPreservingLayout(df: DataFrame): String =
    partitionLayout match {
      case Nil  => writeFileSet(df)
      case cols => writeFileSet(df.repartition(cols.map(col): _*), cols)
    }

  // ------------------------------------------------------ CHECK constraints

  private def checksPath: Path = Paths.get(root, "_checks.json")

  /** Declared CHECK constraints as (name, SQL expression) pairs. */
  def checks: Seq[(String, String)] = namedExprs(checksPath, "checks")

  /** Delta `ALTER TABLE … ADD CONSTRAINT name CHECK (expr)` analog. The
    * CURRENT snapshot must already satisfy the constraint — one
    * violation-counting scan, after which the DDL is refused on any hit
    * (exactly Delta's behavior). Afterwards every append/overwrite/merge
    * batch enforces the constraint INSIDE the write job via a
    * raise_error projection (no extra validation pass — Delta's
    * invariant-enforcement strategy): a violating batch fails before any
    * commit, leaving only staged files that vacuum reclaims. Maintenance
    * rewrites (compact/zorder/delete) skip re-enforcement: their rows
    * already passed at write time or at DDL time. */
  def addCheck(name: String, sqlExpr: String): Unit = {
    requireCleanNamedExpr(name, sqlExpr, "check")
    require(!checks.exists(_._1 == name), s"check $name already exists at $root")
    if (exists) {
      val bad = read.filter(!coalesce(expr(sqlExpr), lit(true))).count()
      if (bad > 0) throw new IllegalStateException(
        s"cannot add CHECK $name ($sqlExpr) at $root: " +
          s"$bad existing row(s) violate it")
    }
    setNamedExprs(checksPath, "checks", checks :+ (name, sqlExpr))
  }

  def dropCheck(name: String): Unit =
    setNamedExprs(checksPath, "checks", checks.filterNot(_._1 == name))

  // ------------------------------------------------- informational keys

  private def keysPath: Path = Paths.get(root, "_keys.json")

  /** Informational key constraints (Databricks PRIMARY KEY / FOREIGN
    * KEY: never enforced — declaring them is a USER ASSERTION about the
    * data; `RELY` additionally marks the assertion trusted for
    * optimization, exactly Databricks' RELY semantics: a false RELY
    * yields wrong results there too). Stored as (name, spec) with spec
    *   `PRIMARY KEY (c1,c2)[ RELY]`
    *   `FOREIGN KEY (c1,…) REFERENCES <root> (d1,…)[ RELY]` */
  def keyConstraints: Seq[(String, String)] = namedExprs(keysPath, "keys")

  /** The declared primary key: (name, columns, rely). At most one. */
  def primaryKey: Option[(String, Seq[String], Boolean)] =
    keyConstraints.collectFirst {
      case (n, VersionedTable.PkSpec(cols, rely)) =>
        (n, cols.split(",").toSeq.map(_.trim), rely != null)
    }

  /** Declared foreign keys: (name, cols, referenced root, referenced
    * cols, rely). */
  def foreignKeys: Seq[(String, Seq[String], String, Seq[String], Boolean)] =
    keyConstraints.collect {
      case (n, VersionedTable.FkSpec(cols, ref, refCols, rely)) =>
        (n, cols.split(",").toSeq.map(_.trim), ref,
          refCols.split(",").toSeq.map(_.trim), rely != null)
    }

  private def requireFreshConstraintName(name: String): Unit =
    require(!checks.exists(_._1 == name) &&
      !keyConstraints.exists(_._1 == name),
      s"constraint $name already exists at $root")

  /** `ALTER TABLE … ADD CONSTRAINT name PRIMARY KEY (cols) [RELY]`. */
  def addPrimaryKey(name: String, cols: Seq[String],
                    rely: Boolean): Unit = {
    requireCleanNamedExpr(name, cols.mkString(","), "primary key")
    requireFreshConstraintName(name)
    require(primaryKey.isEmpty,
      s"a primary key is already declared at $root")
    require(cols.nonEmpty, "PRIMARY KEY: no columns")
    val missing = cols.filterNot(read.columns.contains)
    require(missing.isEmpty,
      s"PRIMARY KEY: no column(s) ${missing.mkString(",")} at $root")
    setNamedExprs(keysPath, "keys", keyConstraints :+
      (name, s"PRIMARY KEY (${cols.mkString(",")})" +
        (if (rely) " RELY" else "")))
  }

  /** `ALTER TABLE … ADD CONSTRAINT name FOREIGN KEY (cols) REFERENCES
    * ref (refCols) [RELY]`. */
  def addForeignKey(name: String, cols: Seq[String], refRoot: String,
                    refCols: Seq[String], rely: Boolean): Unit = {
    requireCleanNamedExpr(name, cols.mkString(","), "foreign key")
    requireFreshConstraintName(name)
    require(cols.nonEmpty && cols.length == refCols.length,
      s"FOREIGN KEY: ${cols.length} column(s) referencing " +
        s"${refCols.length}")
    require(!refRoot.contains("\"") && !refRoot.contains("\\"),
      s"FOREIGN KEY: bad reference root $refRoot")
    val missing = cols.filterNot(read.columns.contains)
    require(missing.isEmpty,
      s"FOREIGN KEY: no column(s) ${missing.mkString(",")} at $root")
    setNamedExprs(keysPath, "keys", keyConstraints :+
      (name, s"FOREIGN KEY (${cols.mkString(",")}) REFERENCES $refRoot " +
        s"(${refCols.mkString(",")})" + (if (rely) " RELY" else "")))
  }

  /** Drop an informational key constraint by name (no-op when absent —
    * the SQL funnel routes DROP CONSTRAINT here after checks). */
  def dropKeyConstraint(name: String): Boolean = {
    val cur = keyConstraints
    val next = cur.filterNot(_._1 == name)
    if (next.length == cur.length) false
    else { setNamedExprs(keysPath, "keys", next); true }
  }

  // ------------------------------------------------------- table properties

  private def propsPath: Path = Paths.get(root, "_props.json")

  /** Declared table properties — Delta's `TBLPROPERTIES` surface. Free-form
    * (key, value) metadata, except the four LIVE keys the engine
    * interprets (each mirroring its Delta sibling):
    *   - `graft.appendOnly` (delta.appendOnly): refuses every
    *     row-mutating operation, leaving appends and data-identical
    *     maintenance allowed;
    *   - `graft.enableChangeFeed` (delta.enableChangeDataFeed): flips
    *     the CDF marker on set/unset;
    *   - `graft.enableDeletionVectors` (delta.enableDeletionVectors):
    *     SQL DELETE routes to the merge-on-read DV path;
    *   - `graft.autoCompact` (delta.autoOptimize.autoCompact): appends
    *     fold the small-file tail past a minFiles trigger;
    *   - `graft.optimizeWrite` (delta.autoOptimize.optimizeWrite):
    *     flat/hive writes REBALANCE before writing so AQE bin-packs the
    *     output files to the advisory size.
    * Persisted like checks/generated columns: one small JSON file,
    * atomic replace, carried by [[shallowCloneTo]]. */
  def properties: Map[String, String] =
    namedExprs(propsPath, "properties").toMap

  /** `ALTER TABLE … SET TBLPROPERTIES` — upsert semantics, idempotent.
    * `graft.enableChangeFeed` is live like Delta's
    * `delta.enableChangeDataFeed`: setting it true/false flips the CDF
    * marker, so CDF is controllable purely through properties DDL (and a
    * SHOW CREATE TABLE round-trip carries it). */
  def setProperties(kvs: Map[String, String]): Unit = {
    kvs.foreach { case (k, v) => requireCleanNamedExpr(k, v, "property") }
    val merged = properties ++ kvs
    setNamedExprs(propsPath, "properties",
      merged.toSeq.sortBy(_._1))
    kvs.get(CdfProp).foreach { v =>
      if (v.equalsIgnoreCase("true")) enableChangeFeed()
      else disableChangeFeed()
    }
  }

  /** `ALTER TABLE … UNSET TBLPROPERTIES` — unknown keys are a no-op
    * (Delta's IF EXISTS behavior; strictness lives in the SQL funnel).
    * Unsetting a PRESENT `graft.enableChangeFeed` disables CDF going
    * forward; naming the absent key stays a true no-op (an API-enabled
    * marker must not be flipped off by an unrelated IF EXISTS sweep). */
  def unsetProperties(keys: Seq[String]): Unit = {
    val hadCdfProp = properties.contains(CdfProp)
    setNamedExprs(propsPath, "properties",
      properties.removedAll(keys).toSeq.sortBy(_._1))
    if (keys.contains(CdfProp) && hadCdfProp) disableChangeFeed()
  }

  /** True iff property `key` is declared `true` (case-insensitive). */
  def boolProp(key: String): Boolean =
    properties.get(key).exists(_.equalsIgnoreCase("true"))

  /** True iff `graft.appendOnly=true` is declared. */
  def appendOnly: Boolean = boolProp("graft.appendOnly")

  /** Gate for row-mutating operations on append-only tables. Appends and
    * data-identical maintenance never call this. */
  private def requireMutable(what: String): Unit =
    require(!appendOnly,
      s"$what: table at $root is append-only (graft.appendOnly=true); " +
        "UNSET the property to mutate existing rows")

  private def requireCleanNamedExpr(name: String, sqlExpr: String,
                                    what: String): Unit =
    require(!name.contains("\"") && !sqlExpr.contains("\"") &&
      !name.contains("\n") && !sqlExpr.contains("\n"),
      s"$what name/expr must not contain double quotes or newlines")

  /** The (name, SQL text) registries — checks, keys, properties,
    * generated columns and defaults — share one record,
    * `{"<key>":[{"name":…,"expr":…},…]}`, replaced whole. */
  private def namedExprs(path: Path, key: String): Seq[(String, String)] =
    MetaJson.readFile(path)(MetaJson.objs(_, key)
      .map(e => (MetaJson.str(e, "name"), MetaJson.str(e, "expr"))))
      .getOrElse(Nil)

  private def setNamedExprs(path: Path, key: String,
                            entries: Seq[(String, String)]): Unit =
    MetaJson.write(path, MetaJson.obj(key -> entries.map { case (n, e) =>
      MetaJson.obj("name" -> n, "expr" -> e) }))

  /** Per-row enforcement projection: rows passing every check (or
    * evaluating it to NULL — SQL CHECK semantics, unknown passes) stream
    * through untouched; the first violating row throws from inside the
    * write job with the check name and the row's JSON. Cost is one
    * codegen'd predicate per row per check, zero extra passes.
    * Generated columns apply FIRST (a check may reference one). */
  private def withCheckEnforcement(df: DataFrame): DataFrame =
    checksOnly(withGeneratedColumns(df))

  /** Write-path enforcement for frames whose generated-column SOURCE
    * values may have just changed (UPDATE assignments, merge
    * updateExprs post-images): generated columns RECOMPUTE — Delta's
    * UPDATE/MERGE semantics for GENERATED ALWAYS AS — where plain
    * ingest ([[withCheckEnforcement]]) enforces a supplied value. */
  private def withCheckEnforcementRecomputing(df: DataFrame,
      exempt: Option[Column] = None): DataFrame =
    checksOnly(generatedColumns.foldLeft(df) { case (d, (n, e)) =>
      if (d.columns.contains(n)) d.withColumn(n, expr(e)) else d
    }, exempt)

  /** `exempt`: rows the caller is about to FILTER OUT anyway (merge
    * delete requests, unclaimed source-only rows) — their data columns
    * are pre-images or NULL padding, never written, so a NOT NULL-style
    * check must not fail the job over them. */
  private def checksOnly(df: DataFrame,
                         exempt: Option[Column] = None): DataFrame =
    checks.foldLeft(df) { case (d, (n, e)) =>
      val pass = coalesce(expr(e), lit(true))
      d.filter(when(exempt.map(_ || pass).getOrElse(pass), lit(true))
        .otherwise(raise_error(concat(
          lit(s"CHECK constraint $n ($e) violated by row "),
          to_json(struct(d.columns.map(col): _*))))))
    }

  // --------------------------------------------------------- identity columns

  private def identityPath: Path = Paths.get(root, "_identity.json")
  private def identityHwmPath: Path = Paths.get(root, "_identity_hwm")
  private val IdentityMidCol = "__graft_idmid"

  /** Declared identity columns as (name, start, step) — Delta's
    * `GENERATED ALWAYS AS IDENTITY` surface. */
  def identityColumns: Seq[(String, Long, Long)] =
    MetaJson.readFile(identityPath)(MetaJson.objs(_, "identity").map(e =>
      (MetaJson.str(e, "name"), MetaJson.long(e, "start"),
        MetaJson.long(e, "step"))))
      .getOrElse(Nil)

  /** Declare `name` (an existing BIGINT column) GENERATED ALWAYS AS
    * IDENTITY: appends/overwrites must NOT supply it — each write
    * reserves a range and stamps unique increasing values. */
  def declareIdentity(name: String, start: Long = 1L, step: Long = 1L): Unit = {
    require(step != 0L, s"identity $name: INCREMENT BY 0")
    require(!name.contains("\""), s"identity: bad identifier `$name`")
    require(!identityColumns.exists(_._1 == name),
      s"identity column $name already declared at $root")
    val all = identityColumns :+ ((name, start, step))
    MetaJson.write(identityPath, MetaJson.obj("identity" -> all.map {
      case (n, st, sp) => MetaJson.obj("name" -> n, "start" -> st, "step" -> sp)
    }))
  }

  /** REPLACE semantics: drop the bucket layout so the replacement's own
    * first merge re-buckets on ITS keys (a stale spec keyed on the old
    * definition's columns would fail every later merge). */
  private[graft] def clearBucketSpec(): Unit = {
    Files.deleteIfExists(specPath)
    ()
  }

  /** CREATE OR REPLACE reset: a replaced table is a fresh table (Delta
    * semantics), so the replaced definition's identity columns (with
    * their high-water mark), generated columns, defaults, constraints
    * and properties go. A PROPERTY-DRIVEN change feed goes down with its
    * property, while a marker enabled purely through the API (no
    * property on record) survives: it is an independent surface. */
  private[tables] def clearDefinition(): Unit = {
    val hadCdfProp = properties.contains(CdfProp)
    Seq(identityPath, identityHwmPath, generatedPath, defaultsPath,
      checksPath, keysPath, propsPath).foreach(Files.deleteIfExists(_))
    if (hadCdfProp) disableChangeFeed()
  }

  /** Reserve `n` consecutive slots for identity column `name`; returns
    * the first value. The high-water mark advances under an OS file
    * lock — the local-FS compare-and-swap; an object-store port swaps
    * this for a conditional put, the same primitive the log's
    * put-if-absent commit already needs. Concurrent writers therefore
    * get disjoint ranges even though their commits rebase. */
  private def reserveIdentity(name: String, start: Long, step: Long,
                              n: Long): Long = {
    Files.createDirectories(Paths.get(root))
    // two layers, both required: the JVM monitor serializes same-process
    // writers (OS file locks are per-process — a second in-JVM locker
    // throws OverlappingFileLockException instead of waiting), the OS
    // lock serializes across processes
    val monitor = VersionedTable.identityLocks.computeIfAbsent(
      identityHwmPath.toAbsolutePath.toString, _ => new Object)
    monitor.synchronized {
    val ch = java.nio.channels.FileChannel.open(identityHwmPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.READ,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val lock = ch.lock()
      try {
        val buf = java.nio.ByteBuffer.allocate(ch.size().toInt)
        ch.read(buf, 0L)
        val txt = new String(buf.array(), java.nio.charset.StandardCharsets.UTF_8)
        val hwm = MetaJson.decodeLines(txt, s"bad record at $identityHwmPath")(
          e => MetaJson.str(e, "name") -> MetaJson.long(e, "next")).toMap
        val next = hwm.getOrElse(name, start)
        val out = (hwm + (name -> (next + step * n))).map { case (k, v) =>
          MetaJson.render(MetaJson.obj("name" -> k, "next" -> v))
        }.mkString("\n")
        val bytes = out.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ch.truncate(0L)
        ch.write(java.nio.ByteBuffer.wrap(bytes), 0L)
        ch.force(false)
        next
      } finally lock.release()
    } finally ch.close()
    }
  }

  /** GENERATED ALWAYS AS IDENTITY assignment (Delta's identity columns)
    * on the ingest paths: the incoming frame must NOT carry the column;
    * each write reserves a contiguous range and stamps values WITHOUT a
    * shuffle or window — `monotonically_increasing_id()` packs
    * (partitionId << 33 | dense intra-partition index), so one small
    * aggregate yields per-partition row counts, and value =
    * base + step * (partitionOffset + intraIndex) is dense per write
    * and globally unique across writes. The frame persists between the
    * count job and the write job to pin the row→partition mapping
    * (a recompute could re-partition and collide ids). Merge tables are
    * bring-your-own-keys: identity applies to append/overwrite. */
  private def withIdentityAssignment(df: DataFrame): (DataFrame, () => Unit) = {
    val ids = identityColumns
    if (ids.isEmpty) return (df, () => ())
    val explicit = ids.map(_._1).filter(df.columns.contains)
    require(explicit.isEmpty,
      s"identity column(s) ${explicit.mkString(",")} at $root are GENERATED " +
        "ALWAYS — values cannot be supplied (write without them)")
    val Mask = (1L << 33) - 1
    val stamped = df.withColumn(IdentityMidCol, monotonically_increasing_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = stamped
      .groupBy(shiftright(col(IdentityMidCol), 33).as("__pid"))
      .agg(max(col(IdentityMidCol).bitwiseAND(lit(Mask))).as("__mx"))
      .collect().map(r => (r.getLong(0), r.getLong(1) + 1L)).sortBy(_._1)
    val total = counts.map(_._2).sum
    val offsets: Map[Long, Long] =
      counts.map(_._1).zip(counts.map(_._2).scanLeft(0L)(_ + _)).toMap
    val assigned = ids.foldLeft(stamped) { case (d, (name, start, step)) =>
      val base = reserveIdentity(name, start, step, total)
      val off =
        if (offsets.isEmpty) lit(0L)
        else element_at(typedLit(offsets), shiftright(col(IdentityMidCol), 33))
      d.withColumn(name, (lit(base) + lit(step) *
        (off + col(IdentityMidCol).bitwiseAND(lit(Mask)))).cast("long"))
    }.drop(IdentityMidCol)
    // stamped columns land at the end; files should match the declared
    // schema order so mixed-generation scans stay positionally sane
    val ordered =
      if (exists && read.columns.toSet == assigned.columns.toSet)
        assigned.select(read.columns.toIndexedSeq.map(col): _*)
      else assigned
    (ordered, () => { stamped.unpersist(); () })
  }

  // -------------------------------------------------------- generated columns

  private def generatedPath: Path = Paths.get(root, "_generated.json")

  /** Declared generated columns as (name, SQL expression) pairs. */
  def generatedColumns: Seq[(String, String)] =
    namedExprs(generatedPath, "generated")

  /** Delta `GENERATED ALWAYS AS (expr)` analog: on every write, a batch
    * MISSING the column gets it computed inside the write job (one
    * codegen'd projection — e.g. `event_month` derived from a timestamp,
    * the canonical partition-column generator); a batch SUPPLYING the
    * column is enforced to match the expression per row, raise_error
    * style, so the declared derivation can never silently diverge.
    * Declared on an empty table, or on one whose current rows already
    * carry a consistent value (one violation-counting scan, like
    * [[addCheck]]); refused if existing data LACKS the column — that
    * would need a retroactive rewrite, same restriction as Delta. */
  def addGeneratedColumn(name: String, sqlExpr: String): Unit = {
    requireCleanNamedExpr(name, sqlExpr, "generated column")
    require(!generatedColumns.exists(_._1 == name),
      s"generated column $name already exists at $root")
    if (exists && history.last.fileSets.nonEmpty) {
      val cur = read
      require(cur.columns.contains(name),
        s"cannot add generated column $name at $root: existing rows lack " +
          "it (a retroactive backfill rewrite is required)")
      val bad = cur.filter(!(col(name) <=> expr(sqlExpr))).count()
      if (bad > 0) throw new IllegalStateException(
        s"cannot add generated column $name ($sqlExpr) at $root: " +
          s"$bad existing row(s) disagree with the expression")
    }
    setNamedExprs(generatedPath, "generated",
      generatedColumns :+ (name, sqlExpr))
  }

  /** Compute-when-absent, enforce-when-present (null-safe equality:
    * Delta's generated-column invariant). */
  private def withGeneratedColumns(df: DataFrame): DataFrame =
    generatedColumns.foldLeft(df) { case (d, (n, e)) =>
      if (!d.columns.contains(n)) d.withColumn(n, expr(e))
      else d.filter(when(col(n) <=> expr(e), lit(true))
        .otherwise(raise_error(concat(
          lit(s"generated column $n must equal $e; violated by row "),
          to_json(struct(d.columns.map(col): _*))))))
    }

  // -------------------------------------------------------- column defaults

  private def defaultsPath: Path = Paths.get(root, "_defaults.json")

  /** Declared column DEFAULTs as (name, SQL expression) — the Spark/Delta
    * `DEFAULT` clause. Applied when a NAMED-COLUMN INSERT omits the
    * column (CURRENT_DEFAULT semantics); rows written before the default
    * existed read back as written — the registry is metadata the read
    * path never touches, so there is no exists-default rewrite at any
    * scale. Expressions must be constant-foldable (no column references)
    * — validated at DDL time with a row-free evaluation. */
  def defaultColumns: Seq[(String, String)] =
    namedExprs(defaultsPath, "defaults")

  /** `ALTER TABLE … ALTER COLUMN c SET DEFAULT expr` (upsert). */
  def setDefault(name: String, sqlExpr: String): Unit = {
    requireCleanNamedExpr(name, sqlExpr, "default")
    require(!generatedColumns.exists(_._1 == name),
      s"DEFAULT on $name: column is GENERATED ALWAYS AS at $root")
    require(!identityColumns.exists(_._1 == name),
      s"DEFAULT on $name: column is an identity column at $root")
    // constant-foldability: a default referencing a column would evaluate
    // here against no rows and fail loudly (Spark's DEFAULT contract)
    spark.sql(s"SELECT ($sqlExpr)").collect()
    setNamedExprs(defaultsPath, "defaults",
      defaultColumns.filterNot(_._1 == name) :+ (name, sqlExpr))
  }

  /** `ALTER TABLE … ALTER COLUMN c DROP DEFAULT` — unknown is a no-op. */
  def dropDefault(name: String): Unit =
    setNamedExprs(defaultsPath, "defaults",
      defaultColumns.filterNot(_._1 == name))

  // ------------------------------------------------------------ bucket spec

  /** Key-hash bucketing spec, if this table is merge-bucketed. Established
    * by the first `merge` and immutable afterwards. */
  def bucketSpec: Option[BucketSpec] =
    if (Files.exists(specPath)) Some(BucketSpec.parse(Files.readString(specPath)))
    else None

  /** Bucket id a file-set covers, if it is a bucketed file-set. */
  private def bucketOf(fileSet: String): Option[Int] = fileSet match {
    case BucketedName(k) => Some(k.toInt)
    case _               => None
  }

  /** Full split suffix of a file-set name — `b00007` for a plain bucket,
    * `p<enc>.b00007` for a partitioned bucket. Copy-on-write routing
    * compares these verbatim; a file-set WITHOUT a parseable suffix
    * (pre-spec appends, empty fallbacks) is conservatively rewritten by
    * every merge, never wrongly carried. */
  private def splitSuffixOf(fileSet: String): Option[String] = fileSet match {
    case SplitSuffixName(s) => Some(s)
    case _                  => None
  }

  private def bucketExpr(spec: BucketSpec) =
    pmod(hash(spec.keys.map(col): _*), lit(spec.numBuckets))

  /** String split value for one row under `spec`: `b00007`, or
    * `p<hexenc val>[~<hexenc val>…].b00007` when the spec is partitioned.
    * Partition values are HEX-encoded (UTF-8 bytes): only [0-9A-F] ever
    * appears, so the value can never collide with the `.`/`~` separators,
    * never needs escaping by the dynamic-partition writer, and decodes
    * unambiguously for pruning. A NULL partition value encodes as the
    * sentinel `N` (hex never produces letters past F): pruning treats it
    * as unknown and always reads the file-set. */
  private def splitExpr(spec: BucketSpec): Column = {
    val b = concat(lit("b"),
      lpad(bucketExpr(spec).cast("string"), 5, "0"))
    if (spec.partitionKeys.isEmpty) b
    else {
      val encs = spec.partitionKeys.map(k =>
        coalesce(hex(encode(col(k).cast("string"), "UTF-8")), lit("N")))
      concat(lit("p"), concat_ws("~", encs: _*), lit("."), b)
    }
  }

  /** Decoded partition values of a file-set, aligned with
    * `spec.partitionKeys` — None if the name carries no parseable
    * partition tag or the value was NULL at write time. */
  private def partitionValuesOf(fileSet: String, nKeys: Int): Option[Seq[Option[String]]] =
    fileSet match {
      case PartTaggedName(enc) =>
        val parts = enc.split("~", -1).toSeq
        if (parts.length != nKeys) None
        else Some(parts.map {
          case "N" => None
          case hexStr =>
            try Some(new String(
              java.util.HexFormat.of().parseHex(hexStr.toLowerCase), "UTF-8"))
            catch { case _: IllegalArgumentException => return None }
        })
      case _ => None
    }

  // ----------------------------------------------------------------- writes

  /** File-set ids carry a fingerprint of the written schema
    * (`<uuid>.s<8 hex>`): reads group same-schema file-sets into one
    * multi-path scan WITHOUT touching parquet footers — a 10k-append
    * table plans with zero per-file-set metadata reads instead of 10k
    * driver-side footer fetches. */
  private def schemaTag(df: DataFrame): String =
    // first 8 hex of SHA-256: String.hashCode collides trivially
    // ("Aa" vs "BB"), and a tag collision would silently fold two schema
    // generations into one scan that drops the evolved columns. The
    // schema is CANONICALIZED first ([[VersionedTable.asNullable]]):
    // nullability drifts between write generations (a lit() batch vs a
    // when() batch), field METADATA drifts between a writer's df.schema
    // and footer inference (comments, char/varchar markers — invisible
    // to parquet), and Spark treats parquet-read fields as nullable,
    // metadata-free strings regardless — without the canonicalization
    // each drift would open a new fold group and a 10k-merge table
    // would plan a many-arm union for one logical schema
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(allNullable(df.schema).json.getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString

  private def allNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    VersionedTable.asNullable(s)

  /** All writes stage under `_staging/` and rename into `data/` when
    * complete (atomic dir move on one filesystem): a crashed writer can
    * never leave a partial file-set where `dataGlob` streaming readers or
    * glob expansion would see it — `data/` only ever contains finished
    * file-sets. */
  /** `graft.optimizeWrite=true` (Delta's `delta.autoOptimize
    * .optimizeWrite`, declared by the reference on every bronze/silver
    * table): bin-pack the batch BEFORE writing — a round-robin (flat) or
    * partition-hash (hive layout) shuffle whose outputs AQE coalesces to
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes`, so a 200-task
    * batch lands as few right-sized files instead of 200 shards. Costs
    * one shuffle per write (the documented tradeoff); writers that
    * pre-size their batches leave it off. */
  private def withOptimizedWrite(df: DataFrame,
                                 partitionBy: Seq[String]): DataFrame = {
    // Hive-partitioned writes default ON (overridable with an explicit
    // `graft.optimizeWrite=false`): an unclustered partitioned write
    // lands (write tasks × live partitions) files — q_m18's lineitem
    // append wrote ~29 tasks × ~84 months ≈ 2.4k tiny files whose every
    // later scan paid ~3s of footer/open CPU at sf0.1 (ProfQ r18), and
    // at cluster scale the same shape is the canonical small-files
    // anti-pattern (guide §6: cluster by partition value before a
    // partitioned write). Flat writes keep the opt-in default: their
    // file count already equals the batch's task count.
    val enabled = properties.get("graft.optimizeWrite")
      .map(_.equalsIgnoreCase("true"))
      .getOrElse(partitionBy.nonEmpty)
    if (!enabled) df
    // REBALANCE (not repartition): AQE both coalesces undersized outputs
    // to the advisory size and SPLITS skewed ones — repartition(n) would
    // pin n and disable exactly that
    else if (partitionBy.isEmpty) df.hint("rebalance")
    else df.hint("rebalance", partitionBy: _*)
  }

  private def writeFileSet(df0: DataFrame, partitionBy: Seq[String] = Nil): String = {
    val df = withOptimizedWrite(df0, partitionBy)
    val id = s"${UUID.randomUUID().toString}.s${schemaTag(df)}"
    Files.createDirectories(dataDir)
    val w = df.write.mode(SaveMode.ErrorIfExists)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(stagingDir.resolve(id).toString)
    // per-file-set manifest: the staged data files' relative paths,
    // recorded INSIDE the dir before its atomic move — fsckRepair's deep
    // check compares the listing against it, so losing an individual
    // parquet file out-of-band is detected instead of the scan silently
    // reading the survivors. One tiny extra file per file-set.
    writeManifest(stagingDir.resolve(id))
    Files.move(stagingDir.resolve(id), dataDir.resolve(id))
    // the writer KNOWS the schema — seed the immutable-file-set schema
    // cache so even the FIRST read skips footer inference (hive-layout
    // writes excluded: their reads discover partition columns)
    if (partitionBy.isEmpty)
      schemaCacheLookup(dataDir.resolve(id).toAbsolutePath.toString,
        asNullable(df.schema))
    id
  }

  /** Relative paths of a dir's parquet data files (the shared
    * [[filesUnder]] traversal, parquet-filtered and relativized). */
  private def dataFilesUnder(dir: Path): Seq[String] =
    filesUnder(dir)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => dir.relativize(p).toString)

  private val ManifestName = "_graft_manifest"

  private def writeManifest(stagedDir: Path): Unit = {
    val files = dataFilesUnder(stagedDir)
    Files.writeString(stagedDir.resolve(ManifestName),
      files.sorted.mkString("\n"))
    ()
  }

  /** Data files the manifest at `dir` says it should contain; None for
    * pre-manifest dirs (file-sets and DVs written before manifests
    * shipped, or adopted via CONVERT), which get existence-level checks
    * only. */
  private def manifestAt(dir: Path): Option[Seq[String]] = {
    val m = dir.resolve(ManifestName)
    if (!Files.exists(m)) None
    else Some(Files.readString(m).split("\n").toSeq.filter(_.nonEmpty))
  }

  /** Write `df` as one file-set PER (partition, key-hash bucket) cell it
    * populates. One job: a single partitioned write into a staging dir
    * (repartitioned on the split value so each cell lands in few tasks),
    * then each cell dir is renamed out as its own immutable file-set. The
    * split column lives only in the dir name — the parquet schema is
    * untouched (partition COLUMNS, when the spec has them, stay in the
    * data files: reads stay flat multi-path scans, no hive-root
    * conflicts). */
  private def writeBucketedFileSets(df: DataFrame, spec: BucketSpec): Seq[String] = {
    val (staging, id, tag) = stageCellSplit(df, spec)
    // empty-input fallback: plain bucketed tables carry the bucket tag
    // so COW routing stays fully bucketed; partitioned tables leave it
    // untagged — an unparseable suffix is conservatively rewritten by
    // the next merge (self-healing), which is correct for an empty set
    commitSplitStaging(staging, df, id, tag, CellName,
      emptyName = fid =>
        if (spec.partitionKeys.isEmpty) f"$fid.b${0}%05d" else fid)
  }

  /** Stage `df` split by (partition, bucket) cell under `_staging/` in ONE
    * dynamic-partition job; returns (stagingDir, writeId, schemaTag). The
    * SINGLE definition of the cell layout — both the committed file-set
    * names ([[writeBucketedFileSets]]) and merge's touched-cell probe
    * derive from these staged dir names, so they can never disagree
    * (a drifted copy would silently carry touched cells = duplicate keys). */
  private def stageCellSplit(df: DataFrame, spec: BucketSpec): (Path, String, String) = {
    val id = UUID.randomUUID().toString
    val staging = stagingDir.resolve(id)
    Files.createDirectories(dataDir)
    val tag = schemaTag(df)
    // REBALANCE (not repartition(n, col)): AQE right-sizes the split to
    // the batch. An explicit repartition(N) pins N tasks — a change-
    // slice merge (group-count-sized delta, the MV/replica hot path)
    // then pays N× fixed task overhead (~60-100ms deser+sched each,
    // measured via ProfScd2) for rows that fit in ONE task, while a
    // 100 TB batch gets exactly N tasks however skewed. The rebalance
    // hint hash-distributes by the bucket column, COALESCES undersized
    // outputs (tiny delta → 1 task) and SPLITS oversized ones (a hot
    // bucket fans out across tasks instead of serializing in one —
    // partitionBy still routes every row to its bucket's directory, so
    // the staged layout is unchanged). */
    df.withColumn(BucketCol, splitExpr(spec))
      .hint("rebalance", BucketCol)
      .write.mode(SaveMode.ErrorIfExists)
      .partitionBy(BucketCol)
      .parquet(staging.toString)
    (staging, id, tag)
  }

  /** One file-set per contiguous key range: range-repartition on `key`;
    * the range id lives only in the dir name ([[writeSplitFileSets]]).
    * No `.b` suffix: a range file-set is NOT a hash bucket. */
  private def writeRangeFileSets(df: DataFrame, key: Column, n: Int): Seq[String] =
    writeSplitFileSets(df,
      layout = d => d.withColumn("__zkey", key)
        .repartitionByRange(n, col("__zkey"))
        .withColumn(BucketCol, spark_partition_id())
        .drop("__zkey"),
      nameFor = (id, tag, v) => f"$id-z${v.toInt}%05d.s$tag",
      emptyName = identity)

  /** Shared split-write protocol: ONE dynamic-partition job into staging
    * (partitioned on [[BucketCol]], which `layout` must add), then each
    * partition dir is renamed out as its own immutable file-set named by
    * `nameFor(writeId, schemaTag, partitionId)`. The partition column
    * lives only in the dir name — the parquet schema is untouched. An
    * EMPTY input emits no partition dirs, which would commit a
    * schema-LESS snapshot; it degenerates to one schema-bearing empty
    * file-set renamed through `emptyName`. */
  private def writeSplitFileSets(df: DataFrame,
                                 layout: DataFrame => DataFrame,
                                 nameFor: (String, String, String) => String,
                                 emptyName: String => String): Seq[String] = {
    val id = UUID.randomUUID().toString
    val staging = stagingDir.resolve(id)
    Files.createDirectories(dataDir)
    val tag = schemaTag(df)
    layout(df)
      .write.mode(SaveMode.ErrorIfExists)
      .partitionBy(BucketCol)
      .parquet(staging.toString)
    commitSplitStaging(staging, df, id, tag, nameFor, emptyName)
  }

  /** Shared commit tail of every split write: adopt the staged dirs as
    * file-sets, clean the staging dir, and degrade an EMPTY input (no
    * partition dirs — a schema-LESS snapshot otherwise) to one
    * schema-bearing empty file-set renamed through `emptyName`. ONE copy:
    * a drifted duplicate of the adopt/fallback protocol is how split
    * writers and the merge probe stop agreeing on names. */
  private def commitSplitStaging(staging: Path, df: DataFrame, id: String,
                                 tag: String,
                                 nameFor: (String, String, String) => String,
                                 emptyName: String => String): Seq[String] = {
    val ids = adoptSplitDirs(staging, id, tag, nameFor, Some(df.schema))
    deleteRecursively(staging) // leftover _SUCCESS marker
    if (ids.nonEmpty) ids.sorted
    else {
      val fid = writeFileSet(df)
      val renamed = emptyName(fid)
      if (renamed != fid) {
        Files.move(dataDir.resolve(fid), dataDir.resolve(renamed))
        // the schema seed follows the rename
        schemaCacheLookup(dataDir.resolve(renamed).toAbsolutePath.toString,
          asNullable(df.schema))
      }
      Seq(renamed)
    }
  }

  /** Rename every `_gbucket=<v>` dir under `staging` into `data/` as its
    * own file-set named `nameFor(writeId, schemaTag, v)`. */
  private def adoptSplitDirs(staging: Path, id: String, tag: String,
                             nameFor: (String, String, String) => String,
                             dataSchema: Option[org.apache.spark.sql.types.StructType] = None): Seq[String] =
    listDir(staging)
      .filter(_.getFileName.toString.startsWith(s"$BucketCol="))
      .map { p =>
        val v = p.getFileName.toString.stripPrefix(s"$BucketCol=")
        val fsId = nameFor(id, tag, v)
        writeManifest(p) // deep-check coverage for bucketed/range cells too
        Files.move(p, dataDir.resolve(fsId))
        // cell data files carry the source frame's schema (the split
        // value lives only in the dir name) — seed the schema cache
        dataSchema.foreach(s => schemaCacheLookup(
          dataDir.resolve(fsId).toAbsolutePath.toString, asNullable(s)))
        fsId
      }

  /** OPTIMIZE ZORDER BY analog (Delta's multi-dimensional clustering):
    * rewrite the current snapshot clustered on the Morton key of `cols`
    * (numeric columns), split into `numFileSets` contiguous key ranges,
    * each with min/max stats sidecars on every z-ordered column — after
    * this, [[readRange]] on ANY of `cols` skips most file-sets, not just
    * on one leading sort key (a linear sort clusters only its first
    * column). Bucket cuts are equi-depth per column (driver-side
    * approxQuantile, one pass), so skewed columns still spread across the
    * full bucket space. The Morton key itself is a custom expression —
    * one tight loop per row, no per-row driver work. */
  def compactZOrder(cols: Seq[String], numFileSets: Int = 16,
                    bitsPerCol: Int = 8): LogEntry = {
    require(cols.nonEmpty, "compactZOrder needs at least one column")
    require(bucketSpec.isEmpty,
      s"merge-bucketed table at $root is laid out by key hash; " +
        "z-ordering would break copy-on-write merge routing")
    val rv = latestVersion
    val snap = read
    val nCuts = (1 << bitsPerCol) - 1
    val probs = (1 to nCuts).map(_.toDouble / (nCuts + 1)).toArray
    val cuts: Array[Array[Double]] = cols.map(c =>
      snap.stat.approxQuantile(c, probs, 0.001).distinct.sorted).toArray
    // per-call function registration (closure carries the cuts), bounded
    // by the shared registrar so looped compactions don't leak entries
    val fname = s"graft_zorder_${UUID.randomUUID().toString.replace("-", "")}"
    graft.functions.TransientFunctions.register(spark, "graft_zorder", fname,
      classOf[graft.functions.ZOrderKey],
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.ZOrderKey(exprs, cuts, bitsPerCol))
    val zkey = call_function(fname, cols.map(c => col(c).cast("double")): _*)
    val ids = writeRangeFileSets(snap, zkey, numFileSets)
    writeSkippingSidecars(ids, cols,
      bloomColsOf(history.lastOption.map(_.fileSets).getOrElse(Nil)))
    commit("zorder", ids, basedOn = rv)
  }

  // ------------------------------------------------------------------ reads

  /** Current snapshot. Empty table → analysis error; guard with `exists`. */
  def read: DataFrame = readEntry(
    history.lastOption.getOrElse(sys.error(s"empty table at $root")))

  def exists: Boolean = history.nonEmpty

  /** `VERSION AS OF` (declared semantics: docs/backlog.md:55-58). */
  def readVersion(v: Long): DataFrame = readEntry(
    history.find(_.version == v)
      .getOrElse(sys.error(s"no version $v at $root")))

  /** `TIMESTAMP AS OF`: newest version committed at or before `tsMillis`. */
  def asOf(tsMillis: Long): DataFrame = readEntry(
    history.filter(_.tsMillis <= tsMillis).lastOption
      .getOrElse(sys.error(s"no version as of $tsMillis at $root")))

  /** Incremental consumption for append-only feeds (the change-feed-lite
    * a downstream batch consumer needs): exactly the rows added after
    * version `v`, read from the file-sets that version `v` did not have —
    * O(new data), the table's size is irrelevant. Valid only while every
    * action after `v` is an append; compact/overwrite/merge rewrite
    * file-sets, so the diff would misreport — those histories error and
    * the caller falls back to a full re-read. */
  def readAddedSince(v: Long, until: Option[Long] = None): DataFrame = {
    val h = history
    val base = h.find(_.version == v)
      .getOrElse(sys.error(s"no version $v at $root"))
    // `until` pins the END of the consumed range: an incremental
    // consumer that records "covered through u" must read exactly
    // (v, u] even if concurrent writers have advanced the head past u —
    // reading the live head would absorb rows the recorded position
    // does not cover, and the NEXT increment would double-count them
    val end = until.fold(h.lastOption.getOrElse(base)) { u =>
      h.find(_.version == u)
        .getOrElse(sys.error(s"no version $u at $root"))
    }
    val later = h.filter(e => e.version > v && e.version <= end.version)
    // set_partition_layout / expire_pins carry the file-set list AND
    // schema verbatim, so the added-set diff below is unaffected —
    // evolution and pin expiry must not demote every downstream
    // incremental consumer to a full re-read
    require(later.forall(e =>
        e.action == "append" || e.action == "set_partition_layout" ||
          e.action == "expire_pins"),
      s"readAddedSince needs append-only history after v$v at $root; " +
        s"saw ${later.map(_.action).distinct.mkString(",")} — re-read the snapshot")
    val baseSets = base.fileSets.toSet
    val newSets = end.fileSets.filterNot(baseSets.contains)
    if (newSets.isEmpty) read.limit(0) else readFileSets(newSets)
  }

  /** ALTER TABLE ADD COLUMNS — Delta's additive schema evolution as
    * DDL, metadata-priced: commits an EMPTY file-set carrying the
    * extended schema (one footer, zero data rewritten — at 100 TB an
    * ADD COLUMN that rewrote data would be a compaction, not a DDL).
    * Reads surface the new columns as NULL through the union-arm schema
    * merge (M4); later writes populate them; time travel to versions
    * before the DDL still shows the old shape. `colDefs` is DDL text
    * ("c1 INT, c2 STRING"). */
  def addColumns(colDefs: String): LogEntry = {
    val add = org.apache.spark.sql.types.StructType.fromDDL(colDefs)
    require(history.nonEmpty, s"empty table at $root")
    val cur = read.schema
    val dup = add.fieldNames.filter(cur.fieldNames.contains)
    require(dup.isEmpty,
      s"ADD COLUMNS: column(s) already exist at $root: ${dup.mkString(",")}")
    val ghosts = add.fieldNames.filter(ghostNames.contains)
    require(ghosts.isEmpty,
      s"ADD COLUMNS: ${ghosts.mkString(",")} previously dropped/renamed at " +
        s"$root; old files still carry the name — choose a fresh one")
    val extended = org.apache.spark.sql.types.StructType(cur.fields ++ add.fields)
    append(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), extended))
  }

  /** ALTER TABLE … ALTER COLUMN c TYPE t — type widening (Delta 3.x's
    * type-widening table feature), metadata-priced like [[addColumns]]:
    * commits an EMPTY file-set whose schema carries the widened type.
    * No file rewrites — the union-arm fold already coerces mixed-width
    * arms to their common wider type (Spark's set-operation widening),
    * so old int arms and new bigint arms read as ONE bigint column,
    * while time travel to pre-DDL versions still shows the narrow type.
    * Bloom sidecars hash the STRING form by design (type-drift-safe)
    * and min/max stats compare numerically, so data skipping on the
    * widened column keeps pruning old file-sets.
    *
    * Only lossless numeric widenings are allowed (narrowing would make
    * existing arms unreadable as declared). Refused on bucket/partition
    * keys — `hash(5: INT) != hash(5L: BIGINT)`, so widening a merge key
    * would silently re-route rows away from their existing cells — and
    * on columns referenced by CHECKs/generated columns or declared
    * IDENTITY. */
  def widenColumnType(name: String, newType: org.apache.spark.sql.types.DataType): LogEntry = {
    require(history.nonEmpty, s"empty table at $root")
    val cur = read.schema
    val f = cur.fields.find(_.name == name).getOrElse(
      sys.error(s"ALTER COLUMN TYPE: no column `$name` at $root"))
    require(VersionedTable.LosslessWidenings.contains((f.dataType, newType)),
      s"ALTER COLUMN TYPE: ${f.dataType.simpleString} -> " +
        s"${newType.simpleString} is not a supported lossless widening " +
        "(byte/short/int -> a wider integral type, float -> double)")
    requireUnencumbered(name, "ALTER COLUMN TYPE")
    require(!identityColumns.exists(_._1 == name),
      s"ALTER COLUMN TYPE: `$name` is an IDENTITY column at $root")
    val widened = org.apache.spark.sql.types.StructType(
      cur.fields.map(fl => if (fl.name == name) fl.copy(dataType = newType)
        else fl))
    append(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), widened))
  }

  // ------------------------------------- column rename (mapping, metadata-only)

  private def colmapPath: Path = Paths.get(root, "_colmap.json")

  /** Column-mapping ledger ops, version-ascending: renames carry
    * `Some(to)`, drops `None`. The mapping is LOGICAL — no file is
    * rewritten; reads project it. One line per op:
    * `{"v":…,"from":…,"to":…}` or `{"v":…,"drop":…}`. */
  private def colmapOps: Seq[(Long, String, Option[String])] =
    MetaJson.readLines(colmapPath) { e =>
      val v = MetaJson.long(e, "v")
      if (e.has("drop")) (v, MetaJson.str(e, "drop"), None)
      else (v, MetaJson.str(e, "from"), Some(MetaJson.str(e, "to")))
    }.sortBy(_._1)

  private def writeColmap(path: Path,
                          ops: Seq[(Long, String, Option[String])]): Unit =
    MetaJson.writeLines(path, ops.map {
      case (v, f, Some(to)) => MetaJson.obj("v" -> v, "from" -> f, "to" -> to)
      case (v, f, None)     => MetaJson.obj("v" -> v, "drop" -> f)
    }, terminated = true)

  def columnRenames: Seq[(Long, String, String)] =
    colmapOps.collect { case (v, f, Some(t)) => (v, f, t) }
  def columnDrops: Seq[(Long, String)] =
    colmapOps.collect { case (v, f, None) => (v, f) }

  /** Mapping ops in effect when reading version `v`: only entries
    * committed at or before `v`, in commit order (so rename chains
    * a→b→c and rename-then-drop compose). Time travel to an earlier
    * version therefore shows the pre-DDL shape. */
  private def activeRenames(v: Long): Seq[(String, Option[String])] =
    colmapOps.filter(_._1 <= v).map { case (_, f, t) => (f, t) }

  /** Shared refusals for mapping DDL: the column must not be
    * load-bearing elsewhere in the table's metadata. (CDF tables are
    * fine: the change feed applies the mapping to every arm, so reads
    * stay consistent across the DDL — see [[readChangeFeed]].) */
  private[tables] def requireUnencumbered(c: String, what: String): Unit = {
    bucketSpec.foreach { sp =>
      require(!sp.keys.contains(c) && !sp.partitionKeys.contains(c),
        s"$what: `$c` is a bucket/partition key at $root")
    }
    require(!partitionLayout.contains(c),
      s"$what: `$c` is a partition column at $root")
    // DOTALL + quoted name: a multi-line CHECK expression (or a column
    // whose name carries regex metacharacters) must still block the DDL —
    // a rename that slips past leaves every later write failing check
    // enforcement against a column the schema no longer has
    val refPat = java.util.regex.Pattern.compile(
      "(?s).*\\b" + java.util.regex.Pattern.quote(c) + "\\b.*")
    (checks ++ generatedColumns).foreach { case (name, ex) =>
      require(!refPat.matcher(ex).matches(),
        s"$what: `$c` is referenced by `$name` ($ex) at $root")
    }
    // informational keys: a renamed/dropped key column would silently
    // invalidate a RELY assertion the optimizer is trusting — the
    // constraint must be dropped first, explicitly
    (primaryKey.map(pk => (pk._1, pk._2)).toSeq ++
      foreignKeys.map(fk => (fk._1, fk._2))).foreach { case (name, cols) =>
      require(!cols.contains(c),
        s"$what: `$c` is part of key constraint `$name` at $root — " +
          "DROP CONSTRAINT first")
    }
  }

  /** Names old file-sets may still physically carry even though the
    * current schema lacks them: every rename's FROM side and every
    * dropped column. Binding a new logical column to one of these would
    * resurrect stale values out of pre-DDL files. */
  private def ghostNames: Set[String] =
    (columnRenames.map(_._2) ++ columnDrops.map(_._2)).toSet

  /** Write-path half of the ghost guard (DDL paths refuse in
    * addColumns/renameColumn): a batch still carrying a pre-DDL physical
    * name must not land. If it did, the read-time mapping fold would
    * silently rebind it — renamed: the stale name re-maps onto the NEW
    * logical column (fresh data under the wrong name wins a rename it
    * never asked for); dropped: the values silently project away; and a
    * file-set carrying BOTH old and new names skips the rename fold
    * entirely, surfacing a spurious extra column. Delta's column mapping
    * rejects stale-name writes the same way — the producer must migrate. */
  private def requireNoGhostColumns(df: DataFrame, what: String): Unit = {
    val ghosts = ghostNames
    if (ghosts.nonEmpty) {
      val stale = df.columns.filter(ghosts.contains)
      require(stale.isEmpty,
        s"$what at $root: column(s) ${stale.mkString(",")} were renamed or " +
          "dropped by DDL; old files still carry the name — rename/drop " +
          "them in the incoming batch (writes must use the current schema)")
    }
  }

  /** `ALTER TABLE … RENAME COLUMN from TO to` — Delta's column-mapping
    * analog, priced like [[addColumns]]: a metadata-only commit (action
    * `rename_column`, file-sets carried verbatim) plus one ledger line;
    * zero data rewritten — at 100 TB a rename that rewrote files would
    * be a migration, not a DDL. Files written BEFORE the rename keep the
    * old physical name and are projected to the new one per scan arm
    * (before the union fold, so mixed-generation tables still read as
    * ONE column); files written after carry the new name physically.
    *
    * Refused when the old name is load-bearing in other metadata — a
    * bucket/partition key, CHECK constraint, or generated column. CDF
    * tables are supported: the feed projects the mapping onto every
    * arm, so change reads stay consistent ACROSS the rename (a boundary
    * Delta's CDF refuses). Crash between the commit and the ledger
    * write leaves a no-op
    * `rename_column` commit and no mapping — data intact, rerun the
    * rename. Old-file-set min/max/bloom sidecars stay keyed by the old
    * PHYSICAL name on disk, but skipping keeps pruning them: probes walk
    * the rename chain ([[statAliases]]), and rewrites regenerate
    * coverage under the current name ([[statsColsOf]]/[[bloomColsOf]]),
    * so old keys age out without any synchronous re-key. */
  def renameColumn(from: String, to: String): LogEntry = {
    require(!from.contains("\"") && !to.contains("\"") &&
      to.matches("""[A-Za-z_][A-Za-z0-9_]*"""),
      s"RENAME COLUMN: bad identifier `$to`")
    val snap = history.lastOption.getOrElse(sys.error(s"empty table at $root"))
    val cur = read.columns
    require(cur.contains(from), s"RENAME COLUMN: no column `$from` at $root")
    require(!cur.contains(to), s"RENAME COLUMN: `$to` already exists at $root")
    require(!ghostNames.contains(to),
      s"RENAME COLUMN: `$to` was previously dropped or renamed away at " +
        s"$root; old files still carry it — choose a fresh name")
    requireUnencumbered(from, "RENAME COLUMN")
    val entry = commit("rename_column", snap.fileSets,
      basedOn = Some(snap.version), dvs = snap.dvs)
    writeColmap(colmapPath, colmapOps :+ ((entry.version, from, Some(to))))
    // a DEFAULT rides the rename (metadata re-key, like Delta under
    // column mapping)
    if (defaultColumns.exists(_._1 == from))
      setNamedExprs(defaultsPath, "defaults",
        defaultColumns.map { case (n, e) => (if (n == from) to else n, e) })
    // declared cluster columns re-key too — a stale name would fail
    // every later bare OPTIMIZE
    properties.get(ClusterByProp).foreach { cs =>
      val cols = cs.split(",").toSeq
      if (cols.contains(from))
        setProperties(Map(ClusterByProp ->
          cols.map(c => if (c == from) to else c).mkString(",")))
    }
    // a column COMMENT follows its column (documentation must not
    // silently detach on rename)
    val ccKey = graft.tables.GraftSql.ColumnCommentPrefix + from
    properties.get(ccKey).foreach { text =>
      unsetProperties(Seq(ccKey))
      setProperties(Map(
        graft.tables.GraftSql.ColumnCommentPrefix + to -> text))
    }
    entry
  }

  /** `ALTER TABLE … DROP COLUMN c` — the mapping's other half, same
    * pricing: a metadata-only commit (action `drop_column`, file-sets
    * carried verbatim) plus one ledger line; reads project the column
    * away per scan arm. Time travel to pre-drop versions still shows
    * it. The name stays reserved forever ([[ghostNames]]): re-adding it
    * would resurrect stale values out of pre-drop files — Delta without
    * full physical-id mapping has the same restriction. Storage for the
    * dropped values is reclaimed progressively as OPTIMIZE/merge
    * rewrite file-sets (they write through `read`, which lacks the
    * column), never as a synchronous table rewrite. */
  def dropColumn(c: String): LogEntry = {
    val snap = history.lastOption.getOrElse(sys.error(s"empty table at $root"))
    require(!c.contains("\""), s"DROP COLUMN: bad identifier `$c`")
    val cur = read.columns
    require(cur.contains(c), s"DROP COLUMN: no column `$c` at $root")
    require(cur.length > 1, s"DROP COLUMN: `$c` is the only column at $root")
    requireUnencumbered(c, "DROP COLUMN")
    val entry = commit("drop_column", snap.fileSets,
      basedOn = Some(snap.version), dvs = snap.dvs)
    writeColmap(colmapPath, colmapOps :+ ((entry.version, c, None)))
    dropDefault(c) // a dropped column's DEFAULT goes with it
    // …and it leaves the cluster declaration (empty list → unset)
    properties.get(ClusterByProp).foreach { cs =>
      val rest = cs.split(",").toSeq.filterNot(_ == c)
      if (rest.isEmpty) unsetProperties(Seq(ClusterByProp))
      else if (rest.length != cs.split(",").length)
        setProperties(Map(ClusterByProp -> rest.mkString(",")))
    }
    entry
  }

  /** [[readAddedSince]] bounded to a version range: exactly the rows
    * versions (`fromV`, `toV`] added — the deterministic micro-batch a
    * streaming read replays from its checkpoint (later commits, of any
    * action, cannot change the result). `fromV = -1` returns version
    * `toV`'s full snapshot — the stream's initial batch, Delta-style
    * (current data first, then appends). O(new data) per batch. */
  /** Whether every file-set versions (`fromV`, `toV`] appended still
    * exists on disk. [[readAddedBetween]] reads appended sets by their
    * ORIGINAL ids even when a later in-range compaction folded them —
    * valid while age-gated vacuum keeps those originals live, which this
    * probe verifies cheaply (metadata-only) so an incremental consumer
    * can fall back to a recompute instead of failing mid-read after an
    * aggressive vacuum. */
  def addedSetsLive(fromV: Long, toV: Long): Boolean = {
    val h = history
    val byVersion = h.map(e => e.version -> e).toMap
    h.filter(e => e.version > fromV && e.version <= toV)
      .filter(_.action == "append").flatMap { e =>
        val prev = byVersion.get(e.version - 1).map(_.fileSets.toSet)
          .getOrElse(Set.empty[String])
        e.fileSets.filterNot(prev.contains)
      }.forall(fs => Files.exists(dataDir.resolve(fs)))
  }

  def readAddedBetween(fromV: Long, toV: Long,
                       onlyAppends: Boolean = false): DataFrame = {
    if (fromV == -1L) {
      // snapshot batch — read under the CURRENT column mapping, not the
      // version-scoped one (readVersion's contract): a stream's declared
      // schema is the current `read` schema, and a restart REPLAYS this
      // batch (getBatch(None, v)) after later renames may have landed —
      // a historically-named frame would fail the source's projection
      val e = history.find(_.version == toV)
        .getOrElse(sys.error(s"no version $toV at $root"))
      return if (e.fileSets.isEmpty) spark.emptyDataFrame
             else readSets(e.fileSets, e.dvs)
    }
    if (fromV == toV) return read.limit(0) // empty range: no batch, valid
    val h = history
    h.find(_.version == fromV)
      .getOrElse(sys.error(s"no version $fromV at $root"))
    h.find(_.version == toV)
      .getOrElse(sys.error(s"no version $toV at $root"))
    val range = h.filter(e => e.version > fromV && e.version <= toV)
    // Per-commit walk rather than an end-to-end file-set diff: appends
    // contribute exactly the file-sets they introduced over their
    // predecessor; maintenance rewrites (compact/zorder/purge_dv) are
    // data-identical and are SKIPPED — without this, a source table's
    // own sink auto-compaction would permanently fail every append-mode
    // stream reading it. Only genuinely row-changing commits
    // (delete/update/merge/overwrite/restore...) error out. The appended
    // sets are read by their original ids even if a later in-range
    // compaction folded them — version-pinned, so a checkpoint replay is
    // bit-identical (age-gated vacuum keeps the physical files live).
    val dataIdentical = Set("compact", "zorder", "purge_dv")
    // column-mapping DDL is metadata-only: file-sets carried verbatim,
    // zero rows added. The batch reads under the CURRENT mapping (this
    // method's contract); whether the CONSUMER's declared schema
    // predates the DDL is the streaming source's guard, not ours.
    val metadataOnly = Set("rename_column", "drop_column",
      "set_partition_layout", "expire_pins")
    val rowChanging = range.filterNot(e =>
      e.action == "append" || dataIdentical.contains(e.action) ||
        metadataOnly.contains(e.action))
    // onlyAppends (the streaming source's skipChangeCommits): deliver
    // the range's append commits and SKIP row-changing ones entirely —
    // a merge's inserts ride its rewritten buckets and are skipped with
    // the commit, exactly Delta's skipChangeCommits contract (the
    // consumer has opted out of seeing changes, not just deletes)
    require(onlyAppends || rowChanging.isEmpty,
      s"readAddedBetween needs append-or-maintenance commits in ($fromV, " +
        s"$toV] at $root; saw ${rowChanging.map(_.action).distinct.mkString(",")} — " +
        "stream the change feed instead")
    val byVersion = h.map(e => e.version -> e).toMap
    val newSets = range.filter(_.action == "append").flatMap { e =>
      val prev = byVersion.get(e.version - 1).map(_.fileSets.toSet)
        .getOrElse(Set.empty[String])
      e.fileSets.filterNot(prev.contains)
    }
    if (newSets.isEmpty) read.limit(0) else readFileSets(newSets)
  }

  /** Affected-partition change feed for partitioned COW merge tables: the
    * distinct partition values of file-sets ADDED OR REMOVED after
    * version `v` — every (partition, bucket) cell a merge/delete/append/
    * overwrite/restore touched since then appears on one side of that
    * symmetric diff (added-only would miss a partition whose data was
    * entirely deleted: its cells vanish without replacements). An
    * incremental consumer (e.g. a partition-grain rollup MV) re-reads and
    * recomputes ONLY these partitions — the reprocess-changed-partitions
    * pattern used over Delta when row-level CDF is not enabled. O(log
    * diff) metadata work; no data is read. A reported partition may now
    * hold ZERO rows (full deletion): consumers must treat an empty
    * recompute as "remove this partition's derived rows", not as a no-op.
    *
    * Returns None when any changed file-set carries no parseable
    * partition tag (pre-spec or empty-fallback file-sets) — the caller
    * must fall back to a full recompute; never silently under-reports. */
  def changedPartitionsSince(v: Long): Option[Seq[Seq[String]]] = {
    val spec = bucketSpec.getOrElse(
      sys.error(s"changedPartitionsSince needs a bucketed table at $root"))
    require(spec.partitionKeys.nonEmpty,
      s"changedPartitionsSince needs a partitioned bucket spec at $root")
    val h = history
    val base = h.find(_.version == v)
      .getOrElse(sys.error(s"no version $v at $root")).fileSets.toSet
    val current = h.lastOption.map(_.fileSets).getOrElse(Nil).toSet
    val changed = (current.diff(base) ++ base.diff(current)).toSeq.sorted
    val decoded = changed.map(partitionValuesOf(_, spec.partitionKeys.length))
    if (decoded.exists(d => d.isEmpty || d.get.exists(_.isEmpty))) None
    else Some(decoded.map(_.get.map(_.get)).distinct)
  }

  // ------------------------------------------------- change data feed (CDF)

  private def changesDir: Path = Paths.get(root, "_changes")
  private def cdfMarker: Path = Paths.get(root, "_cdf.json")

  /** Delta `delta.enableChangeDataFeed` analog: once enabled, every
    * merge/update/delete commit stages its row-level changes
    * (`_change_type` ∈ insert / update_preimage / update_postimage /
    * delete) as a change file-set whose id rides IN the commit's log
    * entry — atomic with the data, a crashed writer can never publish a
    * commit whose changes are missing. Appends need no change files
    * ([[readChangeFeed]] synthesizes their inserts from the file-set
    * diff, Delta's own optimization). Costs one extra write of the
    * CHANGED rows per commit — O(delta), never O(table). */
  def enableChangeFeed(): Unit =
    if (!Files.exists(cdfMarker))
      MetaJson.write(cdfMarker, MetaJson.obj("enabled" -> true))
  def disableChangeFeed(): Unit = { Files.deleteIfExists(cdfMarker); () }
  def changeFeedEnabled: Boolean = Files.exists(cdfMarker)

  /** Schema-bearing EMPTY change set for a no-op DML commit: a feed
    * reader must distinguish "this commit changed nothing" (skip) from
    * "CDF was off when this committed" (error) — so when the feed is on,
    * every DML commit carries a change set, possibly empty. */
  private def noChanges(like: DataFrame): Option[String] =
    writeChangeSet(Seq(tagged(like.limit(0), "delete")))

  /** Stage `frames` (each already carrying `_change_type`) as this
    * commit's change file-set; returns its id for the log entry. Written
    * BEFORE the commit — an orphan from a failed commit is reclaimed by
    * vacuum, and a committed entry's changes are always present.
    * `frames` is BY-NAME: callers on hot paths (the insert-only merge
    * fast path) must not even construct their change frames when the
    * feed is off. */
  private def writeChangeSet(frames: => Seq[DataFrame]): Option[String] = {
    if (!changeFeedEnabled) return None
    val id = s"c-${UUID.randomUUID()}"
    val tmp = stagingDir.resolve(id)
    val unioned = frames.reduce(_.unionByName(_, allowMissingColumns = true))
    unioned.write.parquet(tmp.toString)
    Files.createDirectories(changesDir)
    Files.move(tmp, changesDir.resolve(id), StandardCopyOption.ATOMIC_MOVE)
    // seed the immutable change-set schema so feed reads skip inference
    schemaCacheLookup(changesDir.resolve(id).toAbsolutePath.toString,
      asNullable(unioned.schema))
    Some(id)
  }

  private def tagged(df: DataFrame, changeType: String): DataFrame =
    df.withColumn(ChangeTypeCol, lit(changeType))

  /** Row-level change feed (Delta `table_changes` / CDF): every change in
    * versions (`sinceVersion`, `endVersion`], with `_change_type`,
    * `_commit_version` and `_commit_timestamp` — the incremental-ETL
    * surface that lets a downstream MERGE consume updates AND deletes,
    * where [[readAddedSince]] handles append-only feeds. O(changed rows):
    * explicit change file-sets for merge/update/delete commits, inserts
    * synthesized from append commits' file-set diffs (no CDF write cost
    * on the ingest hot path), nothing for data-identical rewrites
    * (compact / zorder / purge_dv / clone). Overwrite and restore
    * commits error — a full replace is not expressible as row changes;
    * re-read the snapshot instead (Delta's CDF reads refuse the same
    * boundary). `sinceVersion = -1` reads from the beginning. */
  def readChangeFeed(sinceVersion: Long,
                     endVersion: Option[Long] = None): DataFrame = {
    val h = history
    require(sinceVersion == -1L || h.exists(_.version == sinceVersion),
      s"no version $sinceVersion at $root")
    val hi = endVersion.getOrElse(Long.MaxValue)
    val entries = h.filter(e => e.version > sinceVersion && e.version <= hi)
    val byVersion = h.map(e => e.version -> e).toMap

    // Union-arm folding, the same discipline as readFileSets: a CDC
    // BOOTSTRAP (sinceVersion = -1) over a long-lived table spans
    // thousands of versions, and one scan arm per version would build an
    // unbounded plan. Same-schema change sets (and same-schema flat
    // appended file-sets) collapse into ONE multi-path scan; the commit
    // version/timestamp are recovered per row from the file path via a
    // broadcast join against the tiny (dir → version, ts) meta relation.
    // Per-version arms remain only for hive-partitioned appends (multi
    // root partitioned scans conflict — readFileSets' own constraint)
    // and the at-most-one clone base commit.
    val explicitSets = scala.collection.mutable.ArrayBuffer.empty[(LogEntry, Path)]
    val appendFlat = scala.collection.mutable.ArrayBuffer.empty[(LogEntry, Path)]
    val loneFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def vacuumedGuard(v: Long, missing: Seq[String]): Unit =
      if (missing.nonEmpty) throw new CdfNotExpressible(
        s"changes of v$v at $root were vacuumed; re-read the snapshot")
    entries.foreach { e =>
      // synthesized inserts read the added file-sets directly — if a
      // later rewrite + vacuum reclaimed them, fail with the same curated
      // message as the explicit-change-set path. Raw read, deliberately
      // WITHOUT later deletion vectors: the feed reports rows as of THIS
      // commit; later deletes appear as their own delete changes. Shared
      // by plain appends and the insert-only merge fast path (whose
      // [[VersionedTable.CdfSyntheticInserts]] sentinel says "my change
      // set is my added file-sets" — no second copy is ever written).
      def synthesizeAddedInserts(): Unit = {
        val prev = byVersion.get(e.version - 1).map(_.fileSets.toSet)
          .getOrElse(Set.empty)
        val added = e.fileSets.filterNot(prev)
        vacuumedGuard(e.version,
          added.filterNot(fs => Files.exists(dataDir.resolve(fs))))
        added.foreach { fs =>
          val p = dataDir.resolve(fs)
          if (hasHivePartitionDirs(p))
            loneFrames += stampMeta(tagged(readFileSets(Seq(fs)), "insert"),
              e.version, e.tsMillis)
          else appendFlat += ((e, p))
        }
      }
      e.cdf match {
        case Some(VersionedTable.CdfSyntheticInserts) =>
          synthesizeAddedInserts()
        case Some(id) =>
          val p = changesDir.resolve(id)
          vacuumedGuard(e.version, if (Files.exists(p)) Nil else Seq(id))
          explicitSets += ((e, p))
        case None => e.action match {
          case "append" =>
            synthesizeAddedInserts()
          // data-identical rewrites: no logical change to report. Column
          // mapping DDL is metadata-only too — the mapping itself is
          // applied to every feed arm (old-era change files project to
          // current names), so the feed stays readable ACROSS renames,
          // a boundary Delta's CDF refuses. The classification is the
          // SHARED VersionedTable.CdfNoChangeActions — the metadata-only
          // probe (changeFeedExpressible) consults the same set, so the
          // two can never drift.
          case a if VersionedTable.CdfNoChangeActions(a) => ()
          // a clone BASE commit is the cloned snapshot itself: synthesize
          // its rows as inserts (the clone's own DVs applied — rows
          // deleted before the clone never existed here) so a CDC
          // consumer bootstrapping from a populated clone starts from its
          // contents, not from a silently empty feed
          case "clone" =>
            vacuumedGuard(e.version,
              e.fileSets.filterNot(fs => Files.exists(dataDir.resolve(fs))))
            if (e.fileSets.nonEmpty)
              loneFrames += stampMeta(
                tagged(readSets(e.fileSets, e.dvs), "insert"),
                e.version, e.tsMillis)
          case other => throw new CdfNotExpressible(
            s"change feed cannot reconstruct '$other' at v${e.version} " +
              s"of $root; re-read the snapshot")
        }
      }
    }
    // change sets are immutable after their atomic move — memoized
    // schemas group them (and skip the per-version footer-inference job
    // a k-version feed read otherwise pays before any data)
    def cached(p: Path) = schemaCacheLookup(p.toAbsolutePath.toString,
      spark.read.parquet(p.toString).schema)
    val explicitFrames = explicitSets.toSeq.groupBy { case (_, p) => cached(p).json }
      .toSeq.sortBy(_._2.head._1.version).map { case (_, items) =>
        foldedScan(items.map(_._2), cached(items.head._2),
          items.map { case (e, p) =>
            (p.getFileName.toString, e.version, e.tsMillis) })
      }
    val appendFrames = appendFlat.toSeq.groupBy { case (_, p) =>
        p.getFileName.toString match {
          case SchemaTagged(tag) => tag
          case _ => cached(p).json // legacy untagged
        }
      }
      .toSeq.sortBy(_._2.head._1.version).map { case (_, items) =>
        tagged(foldedScan(items.map(_._2), cached(items.head._2),
          items.map { case (e, p) =>
            (p.getFileName.toString, e.version, e.tsMillis) }), "insert")
      }
    val frames = explicitFrames ++ appendFrames ++ loneFrames
    if (frames.isEmpty)
      // schema-bearing empty feed; a freshly-enabled EMPTY table (no
      // commits yet) yields a zero-column frame plus the meta columns
      // rather than erroring on a consumer polling before first data
      stampMeta(tagged(h.lastOption.map(readEntry)
        .getOrElse(spark.emptyDataFrame).limit(0), "insert"), 0L,
        System.currentTimeMillis()).limit(0)
    else frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Metadata-only probe of [[readChangeFeed]] expressibility over
    * (`sinceVersion`, `endVersion`]: walks the SAME log entries and
    * file-existence checks as the read, but constructs no scan plan and
    * infers no schema — the streaming source's bootstrap decision needs
    * the yes/no, not the frame, and the plan-construction probe paid
    * full-history cost (per-distinct-schema arms) on every source init.
    * In lockstep with readChangeFeed's refusal cases BY CONSTRUCTION:
    * the zero-row action classification is the shared
    * [[VersionedTable.CdfNoChangeActions]] (vacuumed explicit change
    * sets and vacuumed appended/clone file-sets use the same
    * file-existence checks; everything else — overwrite/restore/… — is
    * a refusal on both paths). */
  def changeFeedExpressible(sinceVersion: Long, endVersion: Long): Boolean = {
    val h = history
    val byVersion = h.map(e => e.version -> e).toMap
    h.filter(e => e.version > sinceVersion && e.version <= endVersion)
      .forall { e =>
        def addedSetsLive: Boolean = {
          val prev = byVersion.get(e.version - 1).map(_.fileSets.toSet)
            .getOrElse(Set.empty)
          e.fileSets.filterNot(prev)
            .forall(fs => Files.exists(dataDir.resolve(fs)))
        }
        e.cdf match {
          case Some(VersionedTable.CdfSyntheticInserts) => addedSetsLive
          case Some(id) => Files.exists(changesDir.resolve(id))
          case None => e.action match {
            case "append" => addedSetsLive
            case a if VersionedTable.CdfNoChangeActions(a) => true
            case "clone" =>
              e.fileSets.forall(fs => Files.exists(dataDir.resolve(fs)))
            case _ => false
          }
        }
      }
  }

  /** Attach the per-commit feed meta columns as literals (single-version
    * arms: clone base, hive-partitioned appends, empty feed). */
  private def stampMeta(df: DataFrame, version: Long, tsMillis: Long): DataFrame =
    df.withColumn("_commit_version", lit(version))
      .withColumn("_commit_timestamp", lit(new java.sql.Timestamp(tsMillis)))

  /** ONE multi-path scan over same-schema dirs, with the commit
    * version/timestamp of each row recovered from its file path by a
    * broadcast join against the (dir name → version, ts) meta relation —
    * the folded form of per-version feed arms.
    *
    * The dir name comes from the path SUFFIX (`…/<dir>/<file>`), never a
    * table-root prefix anchor: `_metadata.file_path` may render a
    * symlinked or otherwise re-rooted table under a different prefix
    * than the caller's `root`, and a prefix mismatch would extract ""
    * and silently drop every feed row in the meta join. The scanned dirs
    * are always FLAT (hive-partitioned sets take their own per-version
    * arm), so the penultimate segment IS the dir name. Belt and braces:
    * the join is LEFT with a raise_error guard — if a row somehow fails
    * to match its commit meta, the feed errors loudly instead of
    * returning a silently incomplete changeset. */
  private def foldedScan(paths: Seq[Path],
                         schema: org.apache.spark.sql.types.StructType,
                         meta: Seq[(String, Long, Long)]): DataFrame = {
    // current column mapping per arm (same fold as readFileSets): change
    // files written before a RENAME/DROP COLUMN carry the old physical
    // names; projecting them here means every feed row — whatever era
    // its commit belongs to — surfaces under the table's CURRENT schema
    val raw = spark.read.schema(schema).parquet(paths.map(_.toString): _*)
    val scan = activeRenames(Long.MaxValue).foldLeft(raw) {
        case (acc, (f, Some(t))) =>
          if (acc.columns.contains(f) && !acc.columns.contains(t))
            acc.withColumnRenamed(f, t)
          else acc
        case (acc, (f, None)) =>
          if (acc.columns.contains(f)) acc.drop(f) else acc
      }
      .withColumn("__fpath", col("_metadata.file_path"))
      .withColumn("__cdir", substring_index(
        substring_index(col("_metadata.file_path"), "/", -2), "/", 1))
    val metaDf = spark.createDataFrame(meta.map { case (d, v, ts) =>
        org.apache.spark.sql.Row(d, v, new java.sql.Timestamp(ts)) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__cdir",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("_commit_timestamp",
          org.apache.spark.sql.types.TimestampType, nullable = false))))
    scan.join(broadcast(metaDf), Seq("__cdir"), "left")
      .withColumn("_commit_version",
        when(col("_commit_version").isNull, raise_error(concat(
          lit("graft change feed: file outside any commit dir: "),
          col("__fpath"))))
          .otherwise(col("_commit_version")))
      .drop("__cdir", "__fpath")
  }

  private def readEntry(e: LogEntry): DataFrame =
    if (e.fileSets.isEmpty) spark.emptyDataFrame // overwrite-with-empty edge
    else {
      val df = readSets(e.fileSets, e.dvs, renamesAt = e.version)
      // optimizer registrations, both one stat() in the common
      // nothing-declared case: generated-partition-filter derivation
      // and RELY-key join elimination
      graft.plans.GeneratedPrune.arm(this, df)
      graft.plans.JoinElim.arm(this)
      df
    }

  /** Read `fileSets` with the snapshot's deletion vectors applied —
    * merge-on-read (Delta deletion vectors): the scan projects each row's
    * (file, position) identity and anti-joins the DV set, so a
    * vectorized-delete's cost at read time is one BROADCAST anti hash
    * join (DVs are sparse by contract — point/GDPR deletes; bulk deletes
    * belong to the copy-on-write paths). No shuffle of the table, and
    * scans/pruning/pushdown are unchanged underneath. DV entries whose
    * file was since rewritten match nothing (the path no longer exists in
    * the snapshot) — inert, reclaimed by [[purgeDeleteVectors]]/vacuum. */
  /** Deletion-vector files carry exactly ([[VersionedTable.DvFileCol]]
    * string, [[VersionedTable.DvPosCol]] long) — schema pinned so
    * DV-bearing reads never pay a footer-inference job. */
  private def readDvFiles(dvs: Seq[String]): DataFrame =
    spark.read
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          VersionedTable.DvFileCol, org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField(
          VersionedTable.DvPosCol, org.apache.spark.sql.types.LongType))))
      .parquet(dvs.map(d => dvDir.resolve(d).toString): _*)

  private def readSets(fileSets: Seq[String], dvs: Seq[String],
                       renamesAt: Long = Long.MaxValue): DataFrame =
    if (dvs.isEmpty || fileSets.isEmpty) readFileSets(fileSets, renamesAt = renamesAt)
    else {
      val withPos = readFileSets(fileSets, withPos = true, renamesAt = renamesAt)
      val dv = readDvFiles(dvs)
      val keep = withPos.columns
        .filterNot(c => c == DvFileCol || c == DvPosCol)
      withPos.join(broadcast(dv), Seq(DvFileCol, DvPosCol), "left_anti")
        .select(keep.map(col): _*)
    }

  /** Union-arm folding: flat (non-hive-partitioned) file-sets with the same
    * schema collapse into ONE multi-path parquet scan, so a table with 10k
    * appends plans a single scan node, not a 10k-arm union. Scans still
    * union across:
    *  - schema generations (multi-path reads silently take the first file's
    *    schema, so mixing them would drop evolved columns — M4), and
    *  - hive-partitioned file-sets (multiple partitioned roots conflict in
    *    one scan; each keeps its own root for partition discovery/pruning).
    * Grouping keys on the schema fingerprint embedded in the file-set NAME
    * — zero metadata IO; legacy untagged file-sets fall back to one
    * parquet footer read each.
    *
    * `withPos = true` additionally projects each row's stable identity —
    * its file path RELATIVE to this table's data dir (so a relocated
    * table's vectors stay valid) and its `_metadata.row_index` position
    * within that file — as [[DvFileCol]]/[[DvPosCol]], the join identity
    * deletion vectors are keyed by. Row positions come from the parquet
    * reader itself, so they are stable across column pruning, predicate
    * pushdown, and split planning. */
  private def readFileSets(fileSets: Seq[String],
                           withPos: Boolean = false,
                           renamesAt: Long = Long.MaxValue): DataFrame = {
    // column-mapping projection (see [[renameColumn]]): applied PER SCAN
    // ARM, before the union fold — pre-rename arms carry the old
    // physical name, post-rename arms the new one; renaming first makes
    // them the same logical column instead of two null-padded ones
    val renames = activeRenames(renamesAt)
    val paths = fileSets.map(f => dataDir.resolve(f))
    val (partitioned, flat) = paths.partition(hasHivePartitionDirs)
    // file-set dirs are write-once (staged, atomically renamed in, never
    // modified), so a flat set's data schema is immutable — memoize it
    // process-wide and hand it to the reader, skipping the 1-task
    // footer-inference job a DML chain otherwise pays on EVERY table read
    // of every commit (hive-partitioned sets keep inference: their
    // partition columns come from directory discovery)
    def cachedSchema(p: Path): org.apache.spark.sql.types.StructType =
      schemaCacheLookup(p.toAbsolutePath.toString,
        spark.read.parquet(p.toString).schema)
    def scan(ps: Seq[String],
             known: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
      val raw = known.fold(spark.read)(spark.read.schema).parquet(ps: _*)
      val d = renames.foldLeft(raw) {
        case (acc, (f, Some(t))) =>
          if (acc.columns.contains(f) && !acc.columns.contains(t))
            acc.withColumnRenamed(f, t)
          else acc
        case (acc, (f, None)) =>
          if (acc.columns.contains(f)) acc.drop(f) else acc
      }
      if (!withPos) d
      else d.select(col("*"),
        // data-dir-relative path = everything after the LAST `/data/`
        // marker ([[DataDirMarker]]) — NOT a dataDir-prefix anchor: the
        // reader may render a symlinked or re-rooted table under a
        // different prefix, and a prefix mismatch would extract "" for
        // every row — the DV anti-join would match nothing and deleted
        // rows would silently reappear. substring_index is a plain
        // codegen'd string scan (a per-row suffix REGEX here cost ~2×
        // on every DV-bearing read). Same value as a dataDir-prefix
        // strip, so previously-written DV keys stay valid.
        substring_index(col("_metadata.file_path"), DataDirMarker, -1)
          .as(DvFileCol),
        col("_metadata.row_index").as(DvPosCol))
    }
    val flatScans = flat
      .groupBy { p =>
        p.getFileName.toString match {
          case SchemaTagged(tag) => tag
          case _ => cachedSchema(p).json // legacy
        }
      }
      .toSeq.sortBy(_._2.head.getFileName.toString) // deterministic plan
      .map { case (_, ps) =>
        scan(ps.map(_.toString), Some(cachedSchema(ps.head))) }
    val scans = flatScans ++ partitioned.map(p => scan(Seq(p.toString), None))
    scans.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private def hasHivePartitionDirs(p: Path): Boolean =
    listDir(p).exists(d => Files.isDirectory(d) &&
      d.getFileName.toString.contains("="))

  // ------------------------------------------------------- file-set stats

  /** Delta-style data skipping, in ONE grouped pass over ALL the new
    * file-sets (they share a schema — written together): min/max AND
    * bloom sketches per (file-set, column) from a single job instead of
    * one read+agg+collect per sidecar kind — rewrite paths regenerate
    * both coverages without scanning the new data twice.
    *
    * Min/max stats (the `_fstats.tsv` sidecar, O(new data)) are consumed
    * by [[readRange]] to prune whole file-sets without opening them.
    * Values are URL-encoded so any string content round-trips; numeric
    * columns compare numerically, everything else lexically (correct for
    * ISO dates/timestamps).
    *
    * Bloom sketches are the Delta bloom-filter-index analog, consumed by
    * [[readEquals]] to prune file-sets for point lookups on UNSORTED
    * high-cardinality columns — exactly where min/max stats overlap
    * everything and help nothing. They are Spark's own
    * BloomFilterAggregate — the aggregate the optimizer injects for
    * runtime join filters — over `xxhash64(column)`; probes hash through
    * the identical expression, type-cast first (xxhash64 is
    * type-sensitive, like the bucket routing). ~[[DefaultBloomItems]]
    * capacity at [[DefaultBloomFpp]] ≈ 0.9 MB per (file-set, column):
    * metadata-scale next to the data it prunes. */
  private def writeSkippingSidecars(fileSets: Seq[String],
                                    statsRequested: Seq[String],
                                    bloomRequested: Seq[String],
                                    expectedItems: Long = DefaultBloomItems,
                                    fpp: Double = DefaultBloomFpp): Unit = {
    if ((statsRequested.isEmpty && bloomRequested.isEmpty) ||
      fileSets.isEmpty) return
    // hive-partitioned file-set roots CANNOT share one multi-path read:
    // two roots each holding `p=…/` dirs trip Spark's partition
    // discovery (CONFLICTING_DIRECTORY_STRUCTURES — it wants a single
    // basePath, which these sets deliberately don't share). Mirror
    // [[readFileSets]]: flat sets keep the one grouped multi-path scan,
    // each partitioned set becomes its own arm, unioned by name (found
    // by the SQL fuzzer: ANALYZE on a partitioned table with two
    // uncovered file-sets aborted)
    val (partRoots, flatRoots) = fileSets.map(fs => dataDir.resolve(fs))
      .partition(hasHivePartitionDirs)
    val arms =
      (if (flatRoots.nonEmpty)
        Seq(spark.read.parquet(flatRoots.map(_.toString): _*))
      else Nil) ++ partRoots.map(p => spark.read.parquet(p.toString))
    // file-set id = first segment after the LAST `/data/` marker
    // ([[DataDirMarker]]), not a dataDir-prefix anchor: under a
    // symlinked/re-rooted open the rendered path's prefix need not match
    // `dataDir`, and a prefix mismatch would extract "" for every row —
    // all sidecars would then collapse into one bogus group and no
    // file-set would get coverage (the `expected` guard below catches
    // any residual extraction break loudly)
    val fsDf = arms.reduce(_.unionByName(_, allowMissingColumns = true))
      .withColumn("__fs", substring_index(
        substring_index(input_file_name(), DataDirMarker, -1), "/", 1))
    // only columns the written files actually HAVE: inherited stats
    // columns can name fields an evolved (narrower) update batch lacks,
    // and aggregating a missing column would abort the whole write
    val statsFor = statsRequested.filter(fsDf.columns.contains)
    val bloomFor = bloomRequested.filter(fsDf.columns.contains)
    if (statsFor.isEmpty && bloomFor.isEmpty) return
    val statsAggs = statsFor.flatMap(c =>
      Seq(min(col(c)).cast("string").as(s"mn_$c"),
        max(col(c)).cast("string").as(s"mx_$c")))
    val bloomAggs = if (bloomFor.isEmpty) Nil else {
      val numBits = org.apache.spark.util.sketch.BloomFilter
        .optimalNumOfBits(expectedItems, fpp)
      val fname =
        s"graft_bloom_agg_${UUID.randomUUID().toString.replace("-", "")}"
      graft.functions.TransientFunctions.register(spark, "graft_bloom_agg",
        fname,
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate],
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
            exprs.head,
            org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
            org.apache.spark.sql.catalyst.expressions.Literal(numBits)))
      // hash the STRING form: a probe can then normalize through the
      // same cast regardless of which schema generation wrote a file-set
      // (xxhash64 of int 5 != long 5, but "5" == "5" — type drift across
      // appends must not turn into false bloom skips / missing rows).
      // TIMESTAMP columns hash their unix_micros instead: cast-to-string
      // renders in the writer session's timezone, so a reader session in
      // a different zone would probe different strings and silently
      // bloom-skip file-sets that DO contain matching rows
      bloomFor.map(c =>
        call_function(fname, xxhash64(bloomKeyCol(fsDf, c))).as(s"bf_$c"))
    }
    val aggs = statsAggs ++ bloomAggs
    val rows = fsDf.groupBy("__fs").agg(aggs.head, aggs.tail: _*)
      .collect() // ≤ one row per new file-set
    val numeric = fsDf.schema.fields
      .filter(f => statsFor.contains(f.name))
      .map(f => f.name -> f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .toMap
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    // Sidecars land via atomic replace: most writes happen before the
    // commit that makes a file-set visible, but ANALYZE
    // ([[computeStats]]) backfills onto file-sets readers are already
    // scanning, and a torn _fstats.tsv read there would yield wrong
    // min/max — silent wrong skipping, not a crash.
    val expected = fileSets.toSet
    rows.foreach { row =>
      val fs = row.getString(0)
      // a group outside the target set means the path extraction broke —
      // fail loudly rather than scatter sidecars to bogus locations
      require(expected.contains(fs),
        s"sidecar write: extracted file-set '$fs' not in targets at $root")
      if (statsFor.nonEmpty) {
        val lines = statsFor.zipWithIndex.flatMap { case (c, i) =>
          val mn = row.getString(1 + 2 * i); val mx = row.getString(2 + 2 * i)
          if (mn == null || mx == null) None // all-null column: no skipping
          else Some(s"${enc(c)}\t${enc(mn)}\t${enc(mx)}\t${numeric(c)}")
        }
        AtomicFile.replace(dataDir.resolve(fs).resolve("_fstats.tsv"),
          lines.mkString("\n"))
      }
      bloomFor.zipWithIndex.foreach { case (c, i) =>
        Option(row.getAs[Array[Byte]](1 + 2 * statsFor.length + i))
          .foreach(bytes => AtomicFile.replaceWith(
            dataDir.resolve(fs).resolve(s"_fbloom2.${enc(c)}"))(
            Files.write(_, bytes)))
      }
    }
  }

  private def writeStatsSidecars(fileSets: Seq[String],
                                 statsRequested: Seq[String]): Unit =
    writeSkippingSidecars(fileSets, statsRequested, Nil)

  /** The timezone-stable bloom hash basis for a column: unix_micros for
    * TIMESTAMP (instant — its string form is session-zone-dependent),
    * plain cast-to-string for everything else (dates, NTZ timestamps and
    * numerics render zone-independently). Probe and write MUST agree —
    * [[readEquals]] mirrors this in its driver-side literal path.
    *
    * The basis is versioned into the sidecar FILENAME: `_fbloom2.<col>`
    * marks this (unix_micros) basis. A legacy `_fbloom.<col>` sidecar
    * hashed TIMESTAMP values through cast-to-string — probing it with
    * the v2 basis would miss every value and silently skip file-sets
    * that DO contain matching rows — so [[readBloomSidecar]] consults a
    * legacy sidecar only for non-TIMESTAMP columns (identical basis
    * there) and treats legacy TIMESTAMP sidecars as absent: scan, never
    * skip. Maintenance rewrites regenerate v2 coverage ([[bloomColsOf]]
    * lists both generations), so legacy sidecars age out. */
  private def bloomKeyCol(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.TimestampType =>
        unix_micros(col(c)).cast("string")
      case _ => col(c).cast("string")
    }

  /** Historical physical aliases of current logical column `c`, newest
    * first: the rename chain walked backwards (a→b→c gives
    * Seq(c, b, a)). Pre-rename file-sets keep sidecars keyed by the
    * physical name they were written under; skipping consults them
    * through this chain, so a metadata-only RENAME keeps pruning
    * pre-rename file-sets without any rewrite. */
  private def statAliases(c: String): Seq[String] = {
    val chain = scala.collection.mutable.ArrayBuffer(c)
    columnRenames.reverseIterator.foreach { case (_, from, to) =>
      if (to == chain.last) chain += from
    }
    chain.toSeq
  }

  /** Forward image of a (possibly historical) column name under the
    * mapping ledger: the CURRENT logical name, or None if the column
    * was dropped. The inverse direction of [[statAliases]] — used when
    * a rewrite inherits sidecar coverage from pre-DDL file-sets (the
    * regenerated sidecar must key by the name the data now carries). */
  private def currentNameOf(k: String): Option[String] = {
    var cur = k
    colmapOps.foreach {
      case (_, f, Some(to)) if f == cur => cur = to
      case (_, f, None) if f == cur     => return None
      case _                            => ()
    }
    Some(cur)
  }

  /** Stats-sidecar coverage of `fileSets` in CURRENT logical names. */
  private def statsColsOf(fileSets: Seq[String]): Seq[String] =
    fileSets.flatMap(fs => readStatsSidecar(fs).keys)
      .distinct.flatMap(currentNameOf(_))

  /** (min, max, isNumeric) per column for a file-set, if stats exist. */
  private def readStatsSidecar(fileSet: String): Map[String, (String, String, Boolean)] = {
    val p = dataDir.resolve(fileSet).resolve("_fstats.tsv")
    if (!Files.exists(p)) return Map.empty
    def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
    Files.readString(p).split("\n").filter(_.nonEmpty).map { line =>
      val Array(c, mn, mx, num) = line.split("\t", 4)
      dec(c) -> ((dec(mn), dec(mx), num.toBoolean))
    }.toMap
  }

  // ---------------------------------------------------- bloom sidecars

  private def readBloomSidecar(fileSet: String, column: String,
                               legacyOk: Boolean) = {
    // pre-rename file-sets keep sketches under their old physical name:
    // probe the alias chain, newest name first
    val p = statAliases(column).iterator.flatMap { alias =>
      val enc = java.net.URLEncoder.encode(alias, "UTF-8")
      val v2 = dataDir.resolve(fileSet).resolve(s"_fbloom2.$enc")
      val legacy = dataDir.resolve(fileSet).resolve(s"_fbloom.$enc")
      if (Files.exists(v2)) Some(v2)
      else if (legacyOk && Files.exists(legacy)) Some(legacy)
      else None // legacy TIMESTAMP basis diverges: treat as absent
    }.nextOption()
    p.map(f => org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(Files.readAllBytes(f))))
  }

  /** Columns with a bloom sidecar in ANY of `fileSets` — what a rewrite
    * must regenerate so maintenance never silently strips pruning. */
  private def bloomColsOf(fileSets: Seq[String]): Seq[String] =
    fileSets.flatMap(fs => listDir(dataDir.resolve(fs))
      .map(_.getFileName.toString)
      .collect { // both generations: rewrites upgrade legacy → v2 coverage
        case n if n.startsWith("_fbloom2.") => n.stripPrefix("_fbloom2.")
        case n if n.startsWith("_fbloom.")  => n.stripPrefix("_fbloom.")
      }
      .map(java.net.URLDecoder.decode(_, "UTF-8")))
      .distinct
      // rewrites regenerate under the CURRENT logical name (the data
      // they read is already mapping-projected); dropped columns age out
      .flatMap(currentNameOf(_))

  /** Point-lookup read with bloom skipping: scans ONLY the file-sets
    * whose Bloom sketch for `column` might contain at least one of
    * `values` (no sidecar → always read; false positives only cost an
    * over-read, never a wrong result — the exact IN filter still
    * applies). The non-sorted complement of [[readRange]]: at 100 TB an
    * id probe against date-partitioned file-sets reads the handful of
    * file-sets that can hold it. Deletion vectors apply as on every
    * read surface. */
  def readEquals(column: String, values: Seq[Any]): DataFrame = {
    require(values.nonEmpty, "readEquals needs at least one probe value")
    val snap = history.lastOption
      .getOrElse(sys.error(s"empty table at $root"))
    val fileSets = snap.fileSets
    if (fileSets.isEmpty) return spark.emptyDataFrame
    val full = readFileSets(fileSets) // lazy: schema only unless needed
    val dt = full.schema(column).dataType
    // probe hashes ride the same expression path as the write — xxhash64
    // over cast(cast(value AS columnType) AS STRING) — evaluated
    // DRIVER-SIDE on foldable expressions: the point-lookup fast path
    // must not pay a Spark job just to hash a handful of constants. The
    // string normalization makes the hash schema-generation-proof (an
    // int-era and a long-era file-set both hashed "5").
    val hashes = {
      import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, UnixMicros, XxHash64}
      val zone = Some(spark.sessionState.conf.sessionLocalTimeZone)
      // seed 42 = the SQL xxhash64 function's default, which built the
      // sidecars; TIMESTAMP probes hash unix_micros (zone-stable),
      // mirroring bloomKeyCol's write path
      values.map { v =>
        val typed = Cast(Literal(v), dt, zone)
        val basis = dt match {
          case org.apache.spark.sql.types.TimestampType => UnixMicros(typed)
          case _ => typed
        }
        XxHash64(Seq(Cast(basis,
          org.apache.spark.sql.types.StringType, zone)), 42L)
          .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
          .asInstanceOf[Long]
      }
    }
    // legacy (pre-v2) sidecars hashed TIMESTAMP via cast-to-string — a
    // different basis than today's probes — so they are only trusted for
    // non-TIMESTAMP columns (where the basis never changed)
    val legacyOk = dt != org.apache.spark.sql.types.TimestampType
    val kept = fileSets.filter { fs =>
      readBloomSidecar(fs, column, legacyOk) match {
        case Some(bf) => hashes.exists(bf.mightContainLong)
        case None     => true // no sketch: never skip
      }
    }
    val base = if (kept.isEmpty) full.limit(0) else readSets(kept, snap.dvs)
    base.filter(col(column).isin(values: _*))
  }

  /** Range read with file-set skipping: scans ONLY the file-sets whose
    * recorded [min, max] for `column` overlaps [lower, upper] (file-sets
    * without stats are always read — skipping never loses rows). The
    * residual filter still applies, so results are exact.
    *
    * The bounds are canonicalized through the SAME cast chain the stats
    * were produced with (value → column type → string, evaluated by
    * Spark itself), so pruning and the residual filter agree: a bound
    * like "1996-06-01" compares as "1996-06-01 00:00:00" against
    * timestamp stats instead of lexically mismatching. String ordering
    * uses UTF-8 bytes to match Spark's binary collation. */
  def readRange(column: String, lower: String, upper: String): DataFrame = {
    val snap = history.lastOption
      .getOrElse(sys.error(s"empty table at $root"))
    val fileSets = snap.fileSets
    if (fileSets.isEmpty) return spark.emptyDataFrame // empty-overwrite edge
    val full = readFileSets(fileSets) // lazy: schema only unless needed
    val dt = full.schema(column).dataType
    val kept = overlappingFileSets(fileSets, column, lower, upper, dt)
    // DV'd rows may still be a sidecar's recorded min/max — skipping
    // stays conservative (an over-kept file-set just filters to nothing)
    val base = if (kept.isEmpty) full.limit(0) else readSets(kept, snap.dvs)
    base.filter(col(column) >= lit(lower).cast(dt) &&
      col(column) <= lit(upper).cast(dt))
  }

  /** File-sets whose recorded [min, max] for `column` overlaps
    * [lower, upper] under the stats sidecar's comparison rules (numeric
    * columns numerically, everything else UTF-8 binary order after
    * canonicalizing the bounds through the column type). When `column` is
    * one of the bucket spec's partitionKeys, the partition value embedded
    * in the file-set NAME prunes too — free partition pruning with no
    * sidecar write. File-sets without stats or a parseable partition tag
    * always qualify — skipping never loses rows. */
  private def overlappingFileSets(fileSets: Seq[String], column: String,
                                  lower: String, upper: String,
                                  dt: org.apache.spark.sql.types.DataType): Seq[String] = {
    // literal-only evaluation: constant-folds to a LocalRelation, no job
    val bounds = VersionedTable.literalRow(spark, Seq(
      lit(lower).cast(dt).cast("string"), lit(upper).cast(dt).cast("string")))
    require(!bounds.isNullAt(0) && !bounds.isNullAt(1),
      s"bound not castable to $dt: ($lower, $upper)")
    val (lo, hi) = (bounds.getString(0), bounds.getString(1))
    def utf8Lt(a: String, b: String): Boolean = {
      val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      var i = 0
      while (i < x.length && i < y.length) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    val isNum = dt.isInstanceOf[org.apache.spark.sql.types.NumericType]
    def overlaps(mn: String, mx: String, numeric: Boolean): Boolean =
      if (numeric) !(mx.toDouble < lo.toDouble || mn.toDouble > hi.toDouble)
      else !(utf8Lt(mx, lo) || utf8Lt(hi, mn))
    val pIdx = bucketSpec.map(_.partitionKeys.indexOf(column)).getOrElse(-1)
    val nPartKeys = bucketSpec.map(_.partitionKeys.length).getOrElse(0)
    val aliases = statAliases(column) // pre-rename sidecars: old keys
    fileSets.filter { fs =>
      val partOk = pIdx < 0 ||
        partitionValuesOf(fs, nPartKeys).flatMap(_(pIdx))
          .forall(v => overlaps(v, v, isNum)) // min == max == the value
      val stats = readStatsSidecar(fs)
      partOk && (aliases.iterator.flatMap(stats.get).nextOption() match {
        case Some((mn, mx, numeric)) => overlaps(mn, mx, numeric)
        case None                    => true
      })
    }
  }

  // ----------------------------------------------------------- public writes

  /** Append-only write: O(new data), never rewrites existing files.
    * `partitionBy` (e.g. snapshot_date — the partitioning the reference
    * documents at docs/architecture.md:56 but never declares) lays the
    * file-set out hive-style so reads get partition pruning; all file-sets
    * of a table must use the same partitioning. On a merge-bucketed table
    * the rows are bucket-split instead so later merges stay copy-on-write.
    * `statsFor` records per-file-set min/max sidecars for [[readRange]]
    * data skipping. */
  def append(df: DataFrame, partitionBy: Seq[String] = Nil,
             statsFor: Seq[String] = Nil,
             txn: Option[(String, Long)] = None,
             bloomFor: Seq[String] = Nil): LogEntry = {
    // replayed txn: skip before writing any data files (the authoritative
    // re-check under the commit race lives in commitRebase)
    if (txnAlreadyApplied(txn)) return history.last
    requireNoGhostColumns(df, "append")
    val (withIds, cleanupIds) = withIdentityAssignment(df)
    try {
      val checked = withCheckEnforcement(withIds)
      val entry = bucketSpec match {
        case Some(spec) =>
          require(partitionBy.isEmpty || partitionBy == spec.partitionKeys,
            s"append partitionBy $partitionBy != table partition keys " +
              s"${spec.partitionKeys} at $root (merge-bucketed layout)")
          val ids = writeBucketedFileSets(checked, spec)
          writeSkippingSidecars(ids, statsFor, bloomFor)
          commitRebase("append", _ ++ ids, txn)
        case None =>
          recordPartitionLayout(partitionBy, allowExisting = true)
          val id = writeFileSet(checked, partitionBy)
          writeSkippingSidecars(Seq(id), statsFor, bloomFor)
          commitRebase("append", _ :+ id, txn)
      }
      maybeAutoCompact(entry)
    } finally cleanupIds()
  }

  /** `graft.autoCompact=true` (Delta's `delta.autoOptimize.autoCompact`,
    * which the reference declares on every bronze/silver table —
    * 00_create_uc_objects.py:57-61): after an append commits, fold the
    * small-file tail once it reaches `spark.graft.autoCompact.minFiles`
    * (default 8) file-sets under the OPTIMIZE small-file threshold —
    * best-effort (a lost commit race never fails the append; the data is
    * already durable) and returns the APPEND's entry either way, so txn
    * callers see their own commit. Non-bucketed tables only: bucketed
    * merge flows compact per cell (streaming sinks via
    * `autoCompactEvery`). */
  private def maybeAutoCompact(entry: LogEntry): LogEntry = {
    if (boolProp("graft.autoCompact"))
      // truly best-effort: the write already committed durably, so NO
      // compact failure may surface as a write failure (a caller
      // retrying the "failed" write would double-write). Lost commit
      // races are routine; anything else is logged and dropped.
      try {
        bucketSpec match {
          case None =>
            val maxB =
              spark.conf.getOption("spark.graft.optimize.smallFileBytes")
                .map(_.toLong).getOrElse(128L * 1024 * 1024)
            val minSets =
              spark.conf.getOption("spark.graft.autoCompact.minFiles")
                .map(_.toInt).getOrElse(8)
            compactSmall(maxB, minSets); ()
          case Some(spec) if spec.partitionKeys.nonEmpty =>
            // partitioned merge tables accrete per cell on the
            // insert-only fast path; fold only cells past the bound
            // (metadata-only trigger, O(offending partitions))
            val maxSets =
              spark.conf.getOption("spark.graft.autoCompact.maxSetsPerCell")
                .map(_.toInt).getOrElse(8)
            compactCellsOver(maxSets); ()
          case Some(_) => () // bucket-only layout: cells are buckets,
            // a fold is O(table) — that's a deliberate OPTIMIZE
        }
      } catch {
        case _: java.util.ConcurrentModificationException => ()
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] auto-compact after write " +
            s"v${entry.version} at $root failed (write is committed): $e")
      }
    entry
  }

  /** True iff `txn`'s (appId, version) is at or behind the table's
    * committed ledger — i.e. this write is a replay and must not apply. */
  private def txnAlreadyApplied(txn: Option[(String, Long)]): Boolean =
    txn.exists { case (app, v) => lastTxnVersion(app).exists(_ >= v) }

  /** Full-snapshot replace (the reference's overwrite+overwriteSchema
    * publish). Old versions stay readable — time travel for free. */
  def overwrite(df: DataFrame, partitionBy: Seq[String] = Nil,
                txn: Option[(String, Long)] = None): LogEntry = {
    if (exists) requireMutable("OVERWRITE")
    if (txnAlreadyApplied(txn)) return history.last
    requireNoGhostColumns(df, "overwrite")
    val (withIds, cleanupIds) = withIdentityAssignment(df)
    try {
      val checked = withCheckEnforcement(withIds)
      bucketSpec match {
        case Some(spec) =>
          require(partitionBy.isEmpty || partitionBy == spec.partitionKeys,
            s"overwrite partitionBy $partitionBy != table partition keys " +
              s"${spec.partitionKeys} at $root (merge-bucketed layout)")
          val sets = writeBucketedFileSets(checked, spec)
          commitRebase("overwrite", _ => sets, txn, deriveDvs = _ => Nil)
        case None =>
          // an overwrite REDEFINES the layout: record the new partitioning
          // (or clear it) so later compact/delete rewrites preserve it
          recordPartitionLayout(partitionBy, allowExisting = false)
          val sets = Seq(writeFileSet(checked, partitionBy))
          commitRebase("overwrite", _ => sets, txn, deriveDvs = _ => Nil)
      }
    } finally cleanupIds()
  }

  /** Delta SHALLOW CLONE analog: a zero-copy table at `targetRoot` whose
    * first commit references the source's CURRENT file-sets via hard
    * links — O(file count) metadata ops, no data bytes copied (an
    * object-store port swaps links for server-side copy). The clone is
    * fully independent afterwards: it has its own log, its merges
    * copy-on-write against its own root, and vacuuming either table
    * cannot break the other (parquet files are immutable and links keep
    * shared inodes alive while referenced). Layout metadata (bucket
    * spec, hive layout, CHECK constraints) and per-file-set stats
    * sidecars (inside the linked dirs) carry over; the txn ledger
    * intentionally does NOT — a clone is a new sink, and Delta clones
    * likewise reset application transaction state. */
  def shallowCloneTo(targetRoot: String): VersionedTable = {
    val src = history.lastOption.getOrElse(sys.error(s"empty table at $root"))
    val t = new VersionedTable(spark, targetRoot)
    require(!t.exists, s"clone target $targetRoot already has versions")
    Files.createDirectories(t.dataDir)
    // identity declarations AND the high-water mark carry over, so the
    // clone's own writes allocate above its inherited data (its ranges
    // may coincide with the source's future writes — fine, the tables
    // are independent after the clone)
    Seq(specPath, layoutPath, checksPath, cdfMarker, generatedPath,
        identityPath, identityHwmPath, propsPath, defaultsPath)
      .foreach { p =>
      if (Files.exists(p))
        Files.copy(p, Paths.get(targetRoot).resolve(p.getFileName.toString),
          StandardCopyOption.REPLACE_EXISTING)
    }
    // the column-mapping ledger carries over with every op's version
    // clamped to 0: the clone's history restarts at its clone commit, so
    // the source's rename/drop versions would otherwise sit in the
    // future and silently deactivate the mapping (old physical names
    // would resurface in every clone read)
    if (Files.exists(colmapPath))
      writeColmap(t.colmapPath, colmapOps.map { case (_, f, to) => (0L, f, to) })
    src.fileSets.foreach(fs =>
      linkTree(dataDir.resolve(fs), t.dataDir.resolve(fs)))
    // deletion vectors are part of the snapshot: link them too (DV paths
    // are RELATIVE to each table's data dir, so the links stay valid
    // under the clone's root)
    src.dvs.foreach(d => linkTree(dvDir.resolve(d), t.dvDir.resolve(d)))
    t.commit("clone", src.fileSets, basedOn = None, dvs = src.dvs)
    t
  }

  /** `ANALYZE TABLE … COMPUTE STATISTICS` analog: backfill min/max stats
    * (and optionally bloom) sidecars onto the CURRENT snapshot's
    * file-sets, enabling [[readRange]]/[[readEquals]] skipping on tables
    * whose writes predate the skipping declaration (adopted via
    * [[convertFrom]], written before `statsFor`, or cloned from such).
    * Metadata-only from the log's perspective — sidecars are advisory
    * (absence means scan), so no new version commits. One distributed
    * job over only the file-sets that LACK coverage (`onlyMissing`,
    * default) — re-analyzing a fully covered 100 TB table reads nothing.
    * Subsequent maintenance (compact/merge/delete) inherits the
    * coverage: rewrites carry stats columns forward from the sidecars
    * they fold. Returns the number of file-sets analyzed. */
  def computeStats(statsCols: Seq[String], bloomCols: Seq[String] = Nil,
                   onlyMissing: Boolean = true): Int = {
    require(statsCols.nonEmpty || bloomCols.nonEmpty,
      "computeStats needs at least one column")
    val snap = history.lastOption.getOrElse(sys.error(s"empty table at $root"))
    // validate against the snapshot's (union) schema up front: a typo'd
    // column would otherwise "succeed" forever — writeSkippingSidecars
    // filters to columns the files actually have, so the bogus name
    // never gains coverage, every file-set stays a target, and each
    // ANALYZE re-runs the full job while reporting N analyzed
    val schema = readFileSets(snap.fileSets).schema
    val unknown = (statsCols ++ bloomCols).distinct
      .filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty,
      s"computeStats: no such column(s) ${unknown.mkString(", ")} at $root " +
        s"(table has ${schema.fieldNames.mkString(", ")})")
    // bloom coverage must mirror the READER's rules ([[readBloomSidecar]]):
    // a legacy `_fbloom.<col>` on a TIMESTAMP column is never consulted
    // (pre-v2 string basis), so counting it as coverage would make this
    // the one maintenance path that can never upgrade it — ANALYZE would
    // be a silent no-op while point lookups scan the full table forever
    val tsCols = schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampType =>
        f.name
    }.toSet
    def bloomCovered(fs: String, c: String): Boolean =
      statAliases(c).exists { alias => // old-name sidecars still count
        val enc = java.net.URLEncoder.encode(alias, "UTF-8")
        Files.exists(dataDir.resolve(fs).resolve(s"_fbloom2.$enc")) ||
          (!tsCols.contains(c) &&
            Files.exists(dataDir.resolve(fs).resolve(s"_fbloom.$enc")))
      }
    val targets =
      if (!onlyMissing) snap.fileSets
      else snap.fileSets.filter { fs =>
        val have = readStatsSidecar(fs).keySet.flatMap(currentNameOf(_))
        statsCols.exists(!have.contains(_)) ||
          bloomCols.exists(!bloomCovered(fs, _))
      }
    writeSkippingSidecars(targets, statsCols, bloomCols)
    targets.length
  }

  /** Delta `CONVERT TO DELTA` analog: ADOPT an existing flat parquet
    * directory as this table's version 0 without rewriting a byte —
    * every data file is hardlinked (copy fallback across filesystems)
    * into one file-set, so converting a 100 TB directory is O(files)
    * metadata operations, not a data pass. The source stays readable in
    * place. Schema comes from one footer resolution and seeds the schema
    * cache, so even the first read skips inference. Hive-partitioned
    * trees are refused loudly (their dir-encoded columns would silently
    * vanish from a flat scan); `_`/`.` markers (_SUCCESS, .crc) stay
    * behind. Follow with [[computeStats]] to light up data skipping. */
  def convertFrom(sourceDir: String): LogEntry = {
    require(!exists, s"convert target $root already has versions")
    val src = Paths.get(sourceDir)
    require(Files.isDirectory(src), s"convert source not a dir: $sourceDir")
    val entries = listDir(src)
    val (subdirs, files) = entries.partition(Files.isDirectory(_))
    require(subdirs.isEmpty,
      s"convertFrom adopts FLAT parquet dirs only; $sourceDir has " +
        s"subdirectories (${subdirs.take(3).map(_.getFileName).mkString(", ")}…) " +
        "— a hive-partitioned tree's dir-encoded columns would be lost")
    val data = files.filter { f =>
      val n = f.getFileName.toString
      !n.startsWith("_") && !n.startsWith(".")
    }
    require(data.nonEmpty, s"no data files to convert in $sourceDir")
    val df = spark.read.parquet(sourceDir)
    val id = s"${UUID.randomUUID().toString}.s${schemaTag(df)}"
    val target = dataDir.resolve(id)
    Files.createDirectories(target)
    data.foreach { f =>
      val to = target.resolve(f.getFileName.toString)
      try Files.createLink(to, f)
      catch { case _: UnsupportedOperationException | _: java.io.IOException =>
        Files.copy(f, to) // cross-device or no-hardlink filesystem
      }
    }
    schemaCacheLookup(target.toAbsolutePath.toString, asNullable(df.schema))
    commit("convert", Seq(id), basedOn = None)
  }

  private def linkTree(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    listDir(from).foreach { c =>
      if (Files.isDirectory(c)) linkTree(c, to.resolve(c.getFileName.toString))
      else Files.createLink(to.resolve(c.getFileName.toString), c)
    }
  }

  /** Delta-style RESTORE: make version `v`'s file-set list the CURRENT
    * snapshot, committed as a NEW version. Metadata-only — no data is
    * read or written (the restored file-sets are immutable and still on
    * disk while `v` is within vacuum retention), and the rollback itself
    * stays in history, exactly Delta's `RESTORE TABLE ... TO VERSION AS
    * OF` semantics (declared: docs/backlog.md:55-58 time-travel family). */
  def restore(v: Long): LogEntry = {
    requireMutable("RESTORE")
    val rv = latestVersion
    val e = history.find(_.version == v)
      .getOrElse(sys.error(s"no version $v at $root"))
    // refuse BEFORE committing if vacuum already reclaimed the version's
    // file-sets — committing a HEAD that points at deleted dirs would
    // brick every subsequent read (Delta RESTORE errors the same way)
    val missing = e.fileSets.filterNot(fs => Files.exists(dataDir.resolve(fs))) ++
      e.dvs.filterNot(d => Files.exists(dvDir.resolve(d)))
    require(missing.isEmpty,
      s"cannot restore to version $v at $root: file-sets vacuumed: " +
        missing.mkString(", "))
    // generated columns declared AFTER version v was written: a schema
    // missing the column would silently serve null/absent values next to
    // newly computed ones — refuse (values already present were
    // validated when written or declared; only absence is dangerous).
    // Footer-bounded: one schema resolution, no data read.
    if (generatedColumns.nonEmpty && e.fileSets.nonEmpty) {
      val cols = readFileSets(e.fileSets).columns.toSet
      val absent = generatedColumns.map(_._1).filterNot(cols.contains)
      require(absent.isEmpty, s"cannot restore to version $v at $root: " +
        s"its rows lack generated column(s) ${absent.mkString(",")}")
    }
    commit("restore", e.fileSets, basedOn = rv, dvs = e.dvs)
  }

  /** Delta `RESTORE TABLE … TO TIMESTAMP AS OF` analog: roll back to the
    * newest version committed at or before `tsMillis` (the same version
    * selection as [[asOf]] reads). */
  def restoreAsOf(tsMillis: Long): LogEntry = {
    val e = history.filter(_.tsMillis <= tsMillis).lastOption
      .getOrElse(sys.error(s"no version as of $tsMillis at $root"))
    restore(e.version)
  }

  /** DELETE WHERE with data skipping: deletes rows with `column` in
    * [lower, upper] (optionally AND `extraCond`) by rewriting ONLY the
    * file-sets whose min/max stats overlap the range — every other
    * file-set is CARRIED into the new version untouched, which is Delta's
    * file-pruned DELETE. At 100 TB a date-ranged retention delete
    * rewrites the few file-sets of that date range, not the table.
    *
    * File-sets without stats are conservatively rewritten (never lose a
    * delete). Rows where `extraCond` evaluates to NULL are KEPT (SQL
    * DELETE semantics: only predicate-TRUE rows are deleted). Stats
    * sidecars of rewritten file-sets are regenerated for the same
    * columns. Bucketed tables rewrite (partition, bucket)-split so merges
    * stay COW; hive-partitioned tables re-apply their recorded layout. */
  def deleteRange(column: String, lower: String, upper: String,
                  extraCond: Option[Column] = None): LogEntry = {
    requireMutable("DELETE")
    val snap = history.lastOption
      .getOrElse(sys.error(s"empty table at $root"))
    val rv = Some(snap.version)
    val fileSets = snap.fileSets
    if (fileSets.isEmpty)
      return commit("delete", fileSets, basedOn = rv, dvs = snap.dvs,
        cdf = noChanges(spark.emptyDataFrame))
    val dt = readFileSets(fileSets).schema(column).dataType
    val touched = overlappingFileSets(fileSets, column, lower, upper, dt)
    val carried = fileSets.diff(touched)
    if (touched.isEmpty)
      return commit("delete", fileSets, basedOn = rv, dvs = snap.dvs,
        cdf = noChanges(readFileSets(fileSets)))
    val cond = col(column) >= lit(lower).cast(dt) &&
      col(column) <= lit(upper).cast(dt) &&
      extraCond.getOrElse(lit(true))
    // touched rows are BOUNDED by stats pruning and consumed twice (the
    // change set and the COW rewrite) — persist while both writes run so
    // the touched file-sets (and the DV anti-join) scan once, not twice;
    // full-snapshot delete() deliberately does NOT persist (unbounded)
    val touchedRows = readSets(touched, snap.dvs)
    if (changeFeedEnabled)
      touchedRows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val remaining = touchedRows
        .filter(!coalesce(cond, lit(false))) // NULL predicate keeps the row
      val statsCols = statsColsOf(touched)
      val cdf = writeChangeSet(Seq(
        tagged(touchedRows.filter(coalesce(cond, lit(false))), "delete")))
      val newSets = bucketSpec match {
        case Some(spec) => writeBucketedFileSets(remaining, spec)
        case None       => Seq(writeFileSetPreservingLayout(remaining))
      }
      writeSkippingSidecars(newSets, statsCols, bloomColsOf(touched))
      // carried file-sets may still have live DV entries: the vectors ride
      // along (rewritten sets' entries just went inert)
      commit("delete", carried ++ newSets, basedOn = rv, dvs = snap.dvs,
        cdf = cdf)
    } finally if (changeFeedEnabled) { touchedRows.unpersist(); () }
  }

  /** General DELETE WHERE (no skipping): rewrites the full snapshot minus
    * predicate-TRUE rows, regenerating data-skipping sidecars for the
    * previously covered columns (a maintenance-shaped rewrite must not
    * silently strip pruning). Prefer [[deleteRange]] when the predicate
    * is range-shaped over a stats column. */
  def delete(cond: Column): LogEntry = {
    requireMutable("DELETE")
    val snap = history.lastOption.getOrElse(sys.error(s"empty table at $root"))
    val rv = Some(snap.version)
    val remaining = read.filter(!coalesce(cond, lit(false)))
    val statsCols = statsColsOf(snap.fileSets)
    val cdf = writeChangeSet(Seq(
      tagged(read.filter(coalesce(cond, lit(false))), "delete")))
    val newSets = bucketSpec match {
      case Some(spec) => writeBucketedFileSets(remaining, spec)
      case None       => Seq(writeFileSetPreservingLayout(remaining))
    }
    writeSkippingSidecars(newSets, statsCols, bloomColsOf(snap.fileSets))
    commit("delete", newSets, basedOn = rv, cdf = cdf)
  }

  /** DELETE WHERE as a deletion vector — merge-on-read (Delta deletion
    * vectors): instead of rewriting every file-set the predicate touches
    * (copy-on-write [[delete]]/[[deleteRange]]), ONE scan finds the
    * matching rows' (file, position) identities and writes them as a tiny
    * DV sidecar; no data file is rewritten. Reads anti-join the DV set
    * (broadcast — see [[readSets]]). This is the point-delete path a
    * 100 TB table needs: a GDPR delete of 1k rows scattered across 10k
    * file-sets writes kilobytes, where COW would rewrite terabytes.
    * Every read surface (read/time travel/readRange/readForKeys/merge/
    * compact/update) sees DVs applied; rewriting paths drop each
    * file-set's entries as they rewrite it; [[purgeDeleteVectors]]
    * materializes all DVs at once (Delta `REORG TABLE … APPLY (PURGE)`).
    * Time travel to a pre-delete version ignores the DV, as with Delta.
    * NULL-predicate rows are KEPT (SQL DELETE semantics). */
  def deleteVectors(cond: Column): LogEntry = {
    requireMutable("DELETE")
    val snap = history.lastOption.getOrElse(sys.error(s"empty table at $root"))
    val rv = Some(snap.version)
    if (snap.fileSets.isEmpty)
      return commit("delete_dv", snap.fileSets, rv, dvs = snap.dvs,
        cdf = noChanges(spark.emptyDataFrame))
    // anti-join existing DVs first: a rerun of the same predicate finds
    // its rows already dead and appends only an empty (dropped) vector —
    // rerun-idempotent like the COW deletes
    val withPos = readFileSets(snap.fileSets, withPos = true)
    val live =
      if (snap.dvs.isEmpty) withPos
      else withPos.join(broadcast(readDvFiles(snap.dvs)),
        Seq(DvFileCol, DvPosCol), "left_anti")
    val id = s"dv-${UUID.randomUUID()}"
    val out = dvDir.resolve(id)
    Files.createDirectories(dvDir)
    // sparse-DV contract: the vector is small, one file keeps the
    // broadcast read cheap (a bulk delete belongs on the COW paths)
    live.filter(coalesce(cond, lit(false)))
      .select(col(DvFileCol), col(DvPosCol))
      .coalesce(1).write.parquet(out.toString)
    val n = spark.read.parquet(out.toString).count() // footer-only count
    val dataCols = live.columns
      .filterNot(c => c == DvFileCol || c == DvPosCol).map(col)
    val cdf = writeChangeSet(Seq(tagged(
      live.filter(coalesce(cond, lit(false))).select(dataCols: _*),
      "delete")))
    if (n == 0) { // nothing matched: don't accrete empty vectors
      deleteRecursively(out)
      commit("delete_dv", snap.fileSets, rv, dvs = snap.dvs, cdf = cdf)
    } else {
      // DV dirs get manifests too: FSCK must detect a HOLLOWED vector
      // dir (part file lost, dir intact), not just a vanished one —
      // either way dropping it would resurrect deleted rows
      writeManifest(out)
      commit("delete_dv", snap.fileSets, rv, dvs = snap.dvs :+ id, cdf = cdf)
    }
  }

  /** Materialize all deletion vectors (Delta `REORG TABLE … APPLY
    * (PURGE)`): rewrites ONLY the file-sets that still have live DV
    * entries — found from the vectors themselves, O(DV size) metadata
    * work — applying the deletes for real, and drops every vector.
    * Untouched file-sets are carried verbatim. The maintenance
    * counterpart of [[deleteVectors]]: run it when accumulated vectors
    * make the read-side anti-join noticeable. */
  /** Delta's `FSCK REPAIR TABLE`: drop snapshot references to file-sets
    * that no longer exist on disk (out-of-band deletion, a partial
    * restore from backup). Metadata-priced — existence checks over the
    * CURRENT snapshot's file-set and DV lists plus a per-file-set
    * manifest compare (file-sets record their data files' names at
    * write time), no data reads. `dryRun` returns every finding without
    * committing; otherwise a `fsck` commit carries only the live
    * entries. A clean table is a no-op (no commit — idempotent, like
    * Delta). Two loss classes REFUSE repair instead of silently making
    * it worse:
    *   - a missing DELETION VECTOR: its suppressed row identities are
    *     unrecoverable, and dropping the reference would resurrect
    *     previously DELETED rows as live data (a GDPR delete silently
    *     undone) — RESTORE to a pre-delete version or recover `_dv/`;
    *   - a PARTIALLY lost file-set (manifest names files the dir no
    *     longer has): the scan would silently read the survivors, and
    *     neither dropping the whole set (loses surviving rows) nor
    *     keeping it (hides the loss) is a repair — RESTORE or re-ingest.
    * Repair fixes the HEAD forward; time travel to versions referencing
    * the lost files still fails on them, as it must (the bytes are
    * gone). The `fsck` action is row-changing by nature, so incremental
    * consumers (CDF, readAddedBetween) refuse across it — a stream
    * cannot reconstruct rows whose files vanished; restart from the
    * repaired snapshot. */
  def fsckRepair(dryRun: Boolean = false): (Seq[String], Option[LogEntry]) = {
    val snap = history.lastOption.getOrElse(sys.error(s"empty table at $root"))
    val missingSets =
      snap.fileSets.filterNot(fs => Files.exists(dataDir.resolve(fs)))
    val damagedSets = snap.fileSets.filterNot(missingSets.contains)
      .filter { fs =>
        manifestAt(dataDir.resolve(fs)).exists(_.exists(f =>
          !Files.exists(dataDir.resolve(fs).resolve(f))))
      }
    // a deletion vector counts as missing when its dir vanished, its
    // manifest names a lost part file, or (pre-manifest dirs) it is
    // HOLLOW — the dir survives but holds no parquet, so the anti-join
    // would silently drop its suppressions either way
    val missingDvs = snap.dvs.filter { d =>
      val p = dvDir.resolve(d)
      !Files.exists(p) ||
        manifestAt(p).map(_.exists(f => !Files.exists(p.resolve(f))))
          .getOrElse(dataFilesUnder(p).isEmpty)
    }
    val missing = missingSets ++ damagedSets.map(_ + " (partial)") ++
      missingDvs.map(_ + " (deletion vector)")
    if (dryRun || missing.isEmpty) return (missing, None)
    require(missingDvs.isEmpty,
      s"FSCK: deletion vector(s) ${missingDvs.mkString(", ")} missing at " +
        s"$root — dropping them would resurrect deleted rows; RESTORE to " +
        "a version before the deletes or recover the _dv files")
    require(damagedSets.isEmpty,
      s"FSCK: file-set(s) ${damagedSets.mkString(", ")} at $root lost " +
        "individual data files (manifest mismatch) — not repairable " +
        "without losing surviving rows; RESTORE or re-ingest")
    val e = commit("fsck", snap.fileSets.filterNot(missingSets.contains),
      basedOn = Some(snap.version), dvs = snap.dvs)
    (missing, Some(e))
  }

  def purgeDeleteVectors(): LogEntry = {
    val snap = history.lastOption.getOrElse(sys.error(s"empty table at $root"))
    val rv = Some(snap.version)
    if (snap.dvs.isEmpty) return snap // no vectors: nothing to do, no commit
    val dv = readDvFiles(snap.dvs)
    // a DV row's file-set is the first segment of its relative path;
    // entries of rewritten (vanished) file-sets drop out via the
    // intersect. Bounded collect: ≤ one row per file-set.
    val named = dv.select(regexp_extract(col(DvFileCol), "^([^/]+)/", 1))
      .distinct().collect().map(_.getString(0)).toSet
    val touched = snap.fileSets.filter(named.contains)
    if (touched.isEmpty) return commit("purge_dv", snap.fileSets, rv)
    val remaining = readSets(touched, snap.dvs)
    val statsCols = statsColsOf(touched)
    val newSets = bucketSpec match {
      case Some(spec) => writeBucketedFileSets(remaining, spec)
      case None       => Seq(writeFileSetPreservingLayout(remaining))
    }
    writeSkippingSidecars(newSets, statsCols, bloomColsOf(touched))
    commit("purge_dv", snap.fileSets.diff(touched) ++ newSets, rv)
  }

  /** One projection computing the UPDATE post-image. Every assignment's
    * right-hand side sees the OLD row (chained withColumn would leak
    * earlier assignments into later RHS — SQL UPDATE evaluates all
    * assignments against the pre-update row), and values cast back to
    * the column's declared type so the table schema is stable across
    * updates (Delta casts UPDATE assignments the same way). Rows where
    * `cond` is NULL keep their old values (only predicate-TRUE rows
    * update). CHECK constraints re-enforce on the post-image — an
    * assignment can manufacture a violating value out of passing rows. */
  private def applyAssignments(df: DataFrame, set: Map[String, Column],
                               cond: Column): DataFrame = {
    val unknown = set.keySet.diff(df.columns.toSet)
    require(unknown.isEmpty,
      s"UPDATE SET of unknown column(s) ${unknown.mkString(",")} at $root")
    val c = coalesce(cond, lit(false))
    val projected = df.select(df.schema.fields.toSeq.map { f =>
      set.get(f.name) match {
        case Some(e) =>
          when(c, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    }: _*)
    // assignments may change a generated column's SOURCE: recompute the
    // derivation on the post-image instead of enforcing the stale value
    withCheckEnforcementRecomputing(projected)
  }

  /** UPDATE … SET WHERE, copy-on-write (Delta `UPDATE`): rewrites the
    * snapshot with `set` assignments applied to predicate-TRUE rows.
    * Bucketed tables rewrite cell-split so merges stay COW (assigning a
    * bucket key is fine here: the full rewrite re-routes moved rows);
    * hive layouts are preserved. Data-skipping sidecars regenerate for
    * the previously covered columns (assignments can move a min/max).
    * Prefer [[updateRange]] when the predicate is range-shaped over a
    * stats column — it rewrites only the overlapping file-sets. */
  def update(set: Map[String, Column], cond: Column): LogEntry = {
    requireMutable("UPDATE")
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    val snap = history.lastOption.getOrElse(sys.error(s"empty table at $root"))
    val rv = Some(snap.version)
    if (snap.fileSets.isEmpty) // empty-overwrite snapshot: no-op commit
      return commit("update", snap.fileSets, basedOn = rv, dvs = snap.dvs,
        cdf = noChanges(spark.emptyDataFrame))
    val updated = applyAssignments(read, set, cond)
    val statsCols = statsColsOf(snap.fileSets)
    // pre/postimage over cond-TRUE rows only; the postimage pre-filters
    // on the OLD row (an assignment may falsify its own predicate)
    val pre = read.filter(coalesce(cond, lit(false)))
    val cdf = writeChangeSet(Seq(
      tagged(pre, "update_preimage"),
      tagged(applyAssignments(pre, set, lit(true)), "update_postimage")))
    val newSets = bucketSpec match {
      case Some(spec) => writeBucketedFileSets(updated, spec)
      case None       => Seq(writeFileSetPreservingLayout(updated))
    }
    writeSkippingSidecars(newSets, statsCols, bloomColsOf(snap.fileSets))
    commit("update", newSets, basedOn = rv, cdf = cdf)
  }

  /** UPDATE with data skipping: `set` applies to rows with `column` in
    * [lower, upper] (optionally AND `extraCond`); ONLY file-sets whose
    * min/max stats overlap the range are rewritten, every other file-set
    * is carried verbatim — Delta's file-pruned UPDATE. At 100 TB,
    * backfilling one day's column rewrites that day's file-sets, not the
    * table. File-sets without stats are conservatively rewritten.
    * Refuses assignments to bucket/partition keys on bucketed tables — a
    * touched-sets-only rewrite cannot move rows into carried cells; use
    * [[update]] (full rewrite) for that. Rewritten file-sets regenerate
    * their stats sidecars. */
  def updateRange(column: String, lower: String, upper: String,
                  set: Map[String, Column],
                  extraCond: Option[Column] = None): LogEntry = {
    requireMutable("UPDATE")
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    val snap = history.lastOption.getOrElse(sys.error(s"empty table at $root"))
    val rv = Some(snap.version)
    val fileSets = snap.fileSets
    if (fileSets.isEmpty)
      return commit("update", fileSets, basedOn = rv, dvs = snap.dvs,
        cdf = noChanges(spark.emptyDataFrame))
    bucketSpec.foreach { sp =>
      val moved = set.keySet.intersect((sp.keys ++ sp.partitionKeys).toSet)
      require(moved.isEmpty, s"updateRange cannot assign bucket/partition " +
        s"key(s) ${moved.mkString(",")} at $root; use update()")
    }
    val dt = readFileSets(fileSets).schema(column).dataType
    val touched = overlappingFileSets(fileSets, column, lower, upper, dt)
    val carried = fileSets.diff(touched)
    if (touched.isEmpty)
      return commit("update", fileSets, basedOn = rv, dvs = snap.dvs,
        cdf = noChanges(readFileSets(fileSets)))
    val cond = col(column) >= lit(lower).cast(dt) &&
      col(column) <= lit(upper).cast(dt) &&
      extraCond.getOrElse(lit(true))
    // bounded by stats pruning and consumed by the change set AND the COW
    // rewrite — persist so the touched sets scan once (see deleteRange)
    val touchedRows = readSets(touched, snap.dvs)
    if (changeFeedEnabled)
      touchedRows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val updated = applyAssignments(touchedRows, set, cond)
      val statsCols = statsColsOf(touched)
      val pre = touchedRows.filter(coalesce(cond, lit(false)))
      val cdf = writeChangeSet(Seq(
        tagged(pre, "update_preimage"),
        tagged(applyAssignments(pre, set, lit(true)), "update_postimage")))
      val newSets = bucketSpec match {
        case Some(spec) => writeBucketedFileSets(updated, spec)
        case None       => Seq(writeFileSetPreservingLayout(updated))
      }
      writeSkippingSidecars(newSets, statsCols, bloomColsOf(touched))
      commit("update", carried ++ newSets, basedOn = rv, dvs = snap.dvs,
        cdf = cdf)
    } finally if (changeFeedEnabled) { touchedRows.unpersist(); () }
  }

  /** Delta's `replaceWhere`: atomically replace the rows matching `cond`
    * with `df` — delete-matching + insert-batch in ONE commit
    * (`replace_where`), so readers never see the deleted-but-not-yet-
    * reloaded intermediate state a DELETE+INSERT pair would expose. The
    * incoming batch must itself satisfy `cond` (Delta enforces the same
    * invariant — a "reload October" batch carrying November rows would
    * silently widen the replacement); violations fail the write job
    * row-by-row via raise_error, before any commit. General form: full
    * COW rewrite. Prefer [[replaceRange]] when the predicate is
    * range/partition-shaped over a stats column — the idiomatic backfill
    * at 100 TB rewrites one day's file-sets, not the table. */
  def replaceWhere(cond: Column, df: DataFrame): LogEntry =
    replaceImpl(cond, df, prune = None)

  /** [[replaceWhere]] with data skipping: replaces rows with `column` in
    * [lower, upper]; ONLY file-sets whose min/max stats overlap the
    * range are rewritten, every other file-set is carried verbatim —
    * the partition-scoped `INSERT INTO … REPLACE WHERE` backfill path. */
  def replaceRange(column: String, lower: String, upper: String,
                   df: DataFrame): LogEntry = {
    val snap = history.lastOption.getOrElse(sys.error(s"empty table at $root"))
    val dt =
      if (snap.fileSets.isEmpty) df.schema(column).dataType
      else readFileSets(snap.fileSets).schema(column).dataType
    val cond = col(column) >= lit(lower).cast(dt) &&
      col(column) <= lit(upper).cast(dt)
    replaceImpl(cond, df, prune = Some((column, lower, upper)))
  }

  private def replaceImpl(cond: Column, df: DataFrame,
                          prune: Option[(String, String, String)]): LogEntry = {
    requireMutable("REPLACE WHERE")
    requireNoGhostColumns(df, "replaceWhere")
    val snap = history.lastOption.getOrElse(sys.error(s"empty table at $root"))
    val rv = Some(snap.version)
    val (touched, carried) = prune match {
      case Some((c, lo, hi)) if snap.fileSets.nonEmpty =>
        val dt = readFileSets(snap.fileSets).schema(c).dataType
        val t = overlappingFileSets(snap.fileSets, c, lo, hi, dt)
        (t, snap.fileSets.diff(t))
      case _ => (snap.fileSets, Seq.empty[String])
    }
    val (withIds, cleanupIds) = withIdentityAssignment(df)
    try {
      // write-path invariants apply to the new batch exactly as append's
      // (generated compute/verify, CHECK constraints), PLUS the
      // replaceWhere containment invariant
      val checked = withCheckEnforcement(withIds)
      val incoming = checked.filter(
        when(coalesce(cond, lit(false)), lit(true)).otherwise(raise_error(
          concat(lit("REPLACE WHERE: incoming row does not satisfy the " +
            "replacement predicate; offending row "),
            to_json(struct(checked.columns.map(col): _*))))))
        .select(read.columns.map(c => col(s"`$c`")): _*)
      // consumed by the change set AND the data write — persist so the
      // batch computes once (identity values stay consistent across both)
      if (changeFeedEnabled)
        incoming.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val touchedRows =
        if (touched.isEmpty) None else Some(readSets(touched, snap.dvs))
      touchedRows.foreach { t =>
        if (changeFeedEnabled)
          t.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      try {
        val remaining =
          touchedRows.map(_.filter(!coalesce(cond, lit(false))))
        val statsCols = statsColsOf(snap.fileSets)
        val cdf = writeChangeSet(
          touchedRows.map(t =>
            tagged(t.filter(coalesce(cond, lit(false))), "delete")).toSeq :+
            tagged(incoming, "insert"))
        val combined =
          remaining.map(_.unionByName(incoming)).getOrElse(incoming)
        val newSets = bucketSpec match {
          case Some(spec) => writeBucketedFileSets(combined, spec)
          case None       => Seq(writeFileSetPreservingLayout(combined))
        }
        writeSkippingSidecars(newSets, statsCols, bloomColsOf(snap.fileSets))
        commit("replace_where", carried ++ newSets, basedOn = rv,
          dvs = snap.dvs, cdf = cdf)
      } finally if (changeFeedEnabled) {
        incoming.unpersist()
        touchedRows.foreach(_.unpersist())
        ()
      }
    } finally cleanupIds()
  }

  /** MERGE upsert: update matched target rows with the update row, insert
    * unmatched updates, keep unmatched target rows. Rerun-idempotent
    * (merge twice ≡ merge once) for non-NULL keys, as the reference
    * requires for silver.live_event (docs/backlog.md:49-51,75-78) —
    * EXCEPT with `updateExprs`: a combining expression like
    * `cnt -> (t + u)` intentionally re-applies on every run (that is what
    * incremental aggregation means) — retrying callers pass `txn`
    * (Delta's txnAppId/txnVersion) so a replayed batch is recognized from
    * the commit ledger and skipped instead of double-counted, which is
    * how the streaming conformers run exactly-once under foreachBatch
    * replay; alternatively dedupe increments upstream via
    * [[readAddedSince]] version bounds.
    * NULL-keyed update rows INSERT on every run (SQL MERGE ON semantics —
    * NULL never matches); replay-safe callers must pre-filter NULL keys,
    * as the streaming conformers do. Additive schema changes on either
    * side are tolerated (Merge.alignForEvolution pads typed NULLs).
    *
    * '''Copy-on-write at (partition, bucket)-cell granularity''' (the
    * Delta-MERGE touched-files-only plan): the first merge buckets the
    * table on the merge keys — and, with `partitionBy`, partitions it
    * Delta-style within the bucketed layout ([[VersionedTable.BucketSpec]]
    * documents the partition-stability contract). Each later merge
    *   1. stages the deduped updates split by cell in ONE job — the
    *      staged parquet is the update materialization AND its dir names
    *      are the touched-cell probe (no separate distinct/collect pass),
    *   2. if no existing file-set covers a touched cell, RENAMES the
    *      staged files in as the new file-sets (insert-only fast path:
    *      zero additional jobs),
    *   3. otherwise joins the staged updates against ONLY the touched
    *      cells' file-sets (AQE broadcasts a small update side) and
    *      rewrites just those cells, carrying every untouched file-set
    *      into the new log entry unchanged.
    * A merge into a pre-existing unbucketed table migrates it (one full
    * rewrite, then copy-on-write forever after). Updates are deduplicated
    * per key first (latest by `preferUpdateBy` wins) so the join is 1:1.
    */
  def merge(updates: DataFrame, keys: Seq[String],
            preferUpdateBy: Option[String] = None,
            numBuckets: Int = DefaultMergeBuckets,
            updateExprs: Map[String, (Column, Column) => Column] = Map.empty,
            partitionBy: Seq[String] = Nil,
            statsFor: Seq[String] = Nil,
            txn: Option[(String, Long)] = None,
            clauses: Option[graft.ops.Merge.Clauses] = None,
            postCombine: Option[graft.ops.Merge.PostCombine] = None): LogEntry = {
    // appendOnly blocks MERGE wholesale (it may rewrite matched rows) —
    // Delta's delta.appendOnly draws the same line; insert-if-absent
    // flows route through the anti-join append path instead
    requireMutable("MERGE")
    require(keys.nonEmpty, "merge requires at least one key column")
    // replayed txn: skip before staging any data. The window between this
    // check and the commit is covered by `basedOn` conflict detection —
    // any intervening commit (including a racer applying this same txn)
    // fails our commit, and the caller's rerun lands back here and skips.
    if (txnAlreadyApplied(txn)) return history.last
    requireNoGhostColumns(updates, "merge")
    // general-clause merges (conditional / column-level SQL MERGE): the
    // clause set defines per-row outcomes against an EXISTING target
    // relation — the source schema is arbitrary, so there is nothing to
    // create a table from, and the insert-only shortcut below cannot
    // apply (staged rows are clause INPUT, not landable data)
    require(clauses.isEmpty || exists,
      s"MERGE with conditional clauses requires an existing target at $root")
    require(clauses.isEmpty || updateExprs.isEmpty,
      "clauses and updateExprs are alternative merge surfaces — pass one")
    // postCombine pairs with the updateExprs surface (it repairs the
    // COMBINED post-image); the clause surface expresses conditional
    // deletes/sets natively and must not get two delete semantics
    require(clauses.isEmpty || postCombine.isEmpty,
      "postCombine composes with updateExprs, not with clauses")
    // WHEN NOT MATCHED BY SOURCE must see every target row to know it is
    // unmatched: the touched-cell optimization is off, the merge is a
    // full-table pass (exactly Delta's cost for the same clause)
    val bySourceAll = clauses.exists(_.bySource.nonEmpty)
    val spec = bucketSpec match {
      case Some(sp) =>
        require(sp.keys == keys,
          s"merge keys $keys != table bucket keys ${sp.keys} at $root")
        require(partitionBy.isEmpty || partitionBy == sp.partitionKeys,
          s"merge partitionBy $partitionBy != table partition keys " +
            s"${sp.partitionKeys} at $root")
        sp
      case None => BucketSpec(keys, numBuckets, partitionBy)
    }
    // Key columns are cast to the TABLE's types up front: hash() is
    // type-sensitive (hash(42: int) != hash(42L: bigint) — same reason
    // readForKeys casts its literals), so an update feed whose key type
    // drifted (int vs bigint producer) would hash to the WRONG buckets —
    // the stale target row would survive in a carried file-set and the
    // update would land as a duplicate insert in another bucket.
    val typedUpdates = if (!exists) updates else {
      val tblSchema = read.schema
      keys.foldLeft(updates) { (d, k) =>
        (tblSchema.find(_.name == k), d.schema.find(_.name == k)) match {
          case (Some(t), Some(u)) if t.dataType != u.dataType =>
            d.withColumn(k, col(k).cast(t.dataType))
          case _ => d
        }
      }
    }
    // merge-with-delete (WHEN MATCHED AND <marker> THEN DELETE — the
    // clause APPLY CHANGES INTO rides on): the update batch may carry
    // [[graft.ops.Merge.DeleteCol]]; marked rows remove their matched
    // target row and land nothing (unmatched deletes are no-ops). The
    // marker participates in dedup (latest change per key wins) and
    // staging, and is stripped before anything is written.
    val hasDeletes = typedUpdates.columns.contains(graft.ops.Merge.DeleteCol)
    require(clauses.isEmpty || !hasDeletes,
      s"merge with clauses must not also carry ${graft.ops.Merge.DeleteCol} " +
        "markers — express deletes as WHEN MATCHED … THEN DELETE")
    // CHECK enforcement on the update batch rides in the staging job
    // (insert rows land verbatim from here). Delete tombstones are
    // exempt: they only need keys + marker, and never land.
    // The marker normalizes NULL→false FIRST: a nullable marker column
    // (e.g. built via unionByName(allowMissingColumns)) would otherwise
    // have its NULL rows excluded by BOTH filters of the split below and
    // silently vanish before staging.
    val markedUpdates =
      if (!hasDeletes) typedUpdates
      else typedUpdates.withColumn(graft.ops.Merge.DeleteCol,
        coalesce(col(graft.ops.Merge.DeleteCol), lit(false)))
    val rawDeduped = preferUpdateBy match {
      case Some(ord) => graft.ops.Keyed.latestPerKey(markedUpdates, keys, ord)
      case None if clauses.isDefined =>
        // clause merges must NOT silently dropDuplicates: which source
        // row survives decides which WHEN clause fires — Delta raises
        // on multiple source rows per key here, and so do we (inline
        // window count + raise_error inside the staging job, no extra
        // pass; preferUpdateBy remains the explicit opt-in resolution)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*)
        markedUpdates
          .withColumn("__graft_nsrc", count(lit(1)).over(w))
          .filter(when(col("__graft_nsrc") <= 1, lit(true))
            .otherwise(raise_error(concat(
              lit("MERGE with clauses: multiple source rows share key "),
              to_json(struct(keys.map(col): _*)),
              lit(" — nondeterministic clause choice; dedup the source " +
                "or pass preferUpdateBy")))))
          .drop("__graft_nsrc")
      case None => markedUpdates.dropDuplicates(keys)
    }
    val deduped =
      if (clauses.isDefined) rawDeduped // clause INPUT, checked post-merge
      else if (!hasDeletes) withCheckEnforcement(rawDeduped)
      else withCheckEnforcement(
          rawDeduped.filter(!col(graft.ops.Merge.DeleteCol)))
        .unionByName(rawDeduped.filter(col(graft.ops.Merge.DeleteCol)),
          allowMissingColumns = true)
    // ONE job stages the deduped updates split by (partition, bucket)
    // cell. This replaces the previous persist + distinct().collect()
    // probe: the staged parquet IS the materialization the persist
    // provided (the dedup lineage runs exactly once), and the staged DIR
    // NAMES are the touched-cell set — the probe needs no extra pass.
    val (staging, stageId, tag) = stageCellSplit(deduped, spec)
    val touched: Set[String] = listDir(staging)
      .map(_.getFileName.toString)
      .filter(_.startsWith(s"$BucketCol="))
      .map(_.stripPrefix(s"$BucketCol=")).toSet
    // an EMPTY batch stages no parquet files (just _SUCCESS), which
    // spark.read.parquet cannot infer a schema from — fall back to the
    // (empty) lineage frame so a legacy/unparseable prev file-set can
    // still migrate through the upsert path without crashing.
    // The schema is passed EXPLICITLY (it is exactly the frame we just
    // wrote, plus the split dir column): inference otherwise costs one
    // driver-blocking footer-read job per merge — pure fixed latency on
    // the per-trigger streaming paths (measured ~0.1-0.4s/batch).
    def readStaged(): DataFrame =
      if (touched.isEmpty) deduped
      else spark.read
        .schema(asNullable(deduped.schema)
          .add(BucketCol, org.apache.spark.sql.types.StringType))
        .parquet(staging.toString).drop(BucketCol)
    try {
      if (bucketSpec.isEmpty) {
        AtomicFile.replace(specPath, spec.toJson)
        // the bucketed layout supersedes any recorded hive layout (the
        // migration rewrites every file-set as cells) — a stale
        // _layout.json would misreport partition_columns in detailDf and
        // mis-partition later snapshot rewrites
        Files.deleteIfExists(layoutPath)
      }
      val snapEntry = history.lastOption
      val rv = snapEntry.map(_.version)
      val prev = snapEntry.map(_.fileSets).getOrElse(Nil)
      val prevDvs = snapEntry.map(_.dvs).getOrElse(Nil)
      // carried = file-sets whose parseable split suffix is NOT a touched
      // cell. Everything else — touched cells, pre-spec appends, empty
      // fallbacks (no parseable suffix) — is read and rewritten:
      // conservative and self-migrating, never wrongly carried. A
      // NOT-MATCHED-BY-SOURCE merge carries nothing: every target row
      // must meet the join to learn it is unmatched.
      val (carried, touchedSets) =
        if (bySourceAll) (Seq.empty[String], prev)
        else prev.partition(fs =>
          splitSuffixOf(fs).exists(sfx => !touched.contains(sfx)))
      // `statsFor` + the columns the REWRITTEN cells' sidecars already
      // covered (like deleteRange's regeneration): per-file-set min/max on
      // the NEW cells only (O(merged cells)) — without the union, every
      // merge would silently strip data-skipping coverage that appends
      // had established. The insert-only fast path touches no cells, so
      // it inherits coverage from one carried sidecar instead.
      def withStats(newSets: Seq[String]): Seq[String] = {
        // for the insert-only fast path (no touched cells) scan a BOUNDED
        // prefix of carried file-sets for an existing sidecar — pinning
        // the arbitrary first would silently lose coverage whenever it
        // happens to be a pre-stats file-set
        val inherited =
          if (touchedSets.nonEmpty)
            statsColsOf(touchedSets)
          else carried.take(64).iterator.map(readStatsSidecar)
            .find(_.nonEmpty)
            .map(_.keys.toSeq.flatMap(currentNameOf(_))).getOrElse(Nil)
        // bloom coverage regenerates on the same rule (touched cells,
        // or a bounded probe of carried cells on the insert-only path)
        writeSkippingSidecars(newSets, (statsFor ++ inherited).distinct,
          bloomColsOf(
            if (touchedSets.nonEmpty) touchedSets else carried.take(64)))
        newSets
      }
      if (touchedSets.isEmpty && touched.nonEmpty && !hasDeletes &&
          clauses.isEmpty && postCombine.isEmpty) {
        // insert-only fast path: no existing rows in any touched cell —
        // the staged files ARE the new file-sets; rename them in, zero
        // further jobs (the common shape of an MV's first build and of
        // append-heavy streaming merges). Delete-bearing batches take
        // the join path: their staged files carry the marker column and
        // tombstone rows, neither of which may land as data; clause
        // batches likewise — staged rows are clause input, and insert
        // clauses may filter or reshape them; postCombine batches too —
        // a staged row may be repaired or dropped before landing (a
        // net-zero group inserted+deleted within one delta must not
        // land as a phantom through a rename).
        val adopted = withStats(adoptSplitDirs(staging, stageId, tag, CellName,
          Some(deduped.schema)))
        // the change set IS the adopted file-sets (all inserts): record
        // the sentinel and let readChangeFeed synthesize them — writing
        // an explicit change set here would materialize a second full
        // copy of the batch (one write + one read per CDF-on commit)
        val cdf = if (!changeFeedEnabled) None
                  else Some(VersionedTable.CdfSyntheticInserts)
        // the insert-only fast path is the ONE merge shape that accretes
        // (it folds nothing) — property-driven per-cell hygiene applies
        // here, exactly where Delta's auto-compact runs after writes
        mergeCommit(cellRebase = true, autoCompact = true,
          consumed = Nil, produced = adopted, basedOn = rv, txn = txn,
          dvs = prevDvs, cdf = cdf)
      } else if (touched.isEmpty && !bySourceAll) {
        // empty update batch, nothing touched (BY SOURCE clauses still
        // take the join path: an empty source deletes/updates rows)
        val dedupedData =
          if (hasDeletes) deduped.drop(graft.ops.Merge.DeleteCol)
          else if (clauses.isDefined) read.limit(0) // table-shaped, not source
          else deduped
        mergeCommit(cellRebase = false, autoCompact = false,
          consumed = Nil,
          produced =
            if (prev.nonEmpty) prev
            else writeBucketedFileSets(dedupedData, spec), // schema-bearing empty
          basedOn = rv, txn = txn, dvs = prevDvs,
          cdf = noChanges(dedupedData))
      } else {
        // deletion vectors apply to the rewritten cells' rows (a
        // DV-deleted row must not resurrect through an upsert) and ride
        // along for the carried cells. With deletes, every touched cell
        // may be absent (pure-tombstone batch into untouched cells): the
        // target is then the empty data-shaped relation.
        val target =
          if (touchedSets.nonEmpty) readSets(touchedSets, prevDvs)
          else if (clauses.isDefined) read.limit(0) // table shape, not source
          else readStaged().drop(graft.ops.Merge.DeleteCol).limit(0)
        // ONE full-outer join yields the new snapshot AND (feed on) the
        // change classification: pre-image values and match flags ride
        // the join, so the CDF pass re-joins nothing — it is three
        // filters over the same frame, persisted only while its two
        // writes (changes + cells) consume it. NULL-keyed updates never
        // match, so they classify as inserts — SQL MERGE ON semantics.
        val (t2, lineageRaw) = clauses match {
          case Some(cl) =>
            // general clauses: arbitrary source schema, no evolution pad
            // — output shape IS the target's
            (target,
              graft.ops.Merge.applyClausesWithLineage(
                target, readStaged(), keys, cl))
          case None =>
            val (a, b) = graft.ops.Merge.alignForEvolution(target, readStaged())
            (a, graft.ops.Merge.upsertWithLineage(a, b, keys, updateExprs))
        }
        // post-combine repair rides the same projection chain: applied
        // BEFORE check enforcement so constraints see the FINAL values
        // (a NULL-fixed sum is what a recompute would produce), and
        // before the __delete_req filter so repaired-away rows both
        // vanish from the snapshot and classify as CDF deletes
        val lineagePc = postCombine.fold(lineageRaw)(pc => {
          require(pc.set.keySet.subsetOf(t2.columns.toSet) &&
            pc.set.keySet.intersect(keys.toSet).isEmpty,
            s"postCombine.set must name non-key data columns; got ${pc.set.keySet}")
          graft.ops.Merge.applyPostCombine(lineageRaw, pc)
        })
        // updateExprs / clause expressions compute NEW post-image values
        // that neither side was checked for — enforce on the merged
        // frame; the plain upsert needs nothing (both sides passed when
        // written/staged). Recompute preserves the lineage columns.
        val lineage =
          if (updateExprs.isEmpty && clauses.isEmpty && postCombine.isEmpty)
            lineagePc
          else withCheckEnforcementRecomputing(lineagePc,
            exempt = Some(col("__delete_req")))
        val dataCols = t2.columns.toSeq.map(col)
        // rows requested deleted — and their matched target, which is the
        // SAME output row after the full-outer join — drop here; an
        // unmatched tombstone contributes nothing either way
        val merged = lineage.filter(!col("__delete_req")).select(dataCols: _*)
        // persisted under the AQE-cached-partitioning scope: the lineage
        // is O(touched cells + batch) rows behind a full-outer join —
        // without the scope its cache pins shuffle.partitions partitions
        // and the CDF write below (3-4 union arms over the cache) runs
        // arms × partitions tiny tasks, each shipping the whole merge
        // plan (measured 96 tasks / 6-10s summed deser at sf0.1, ProfQ)
        VersionedTable.withAqeCachedPartitioning(spark) {
        if (changeFeedEnabled)
          lineage.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val cdf = if (!changeFeedEnabled) None else {
            val del = col("__delete_req")
            val tp = col("__t_present")
            val upPresent = col("__u_present")
            val fired = col("__touched")
            val pre = t2.columns.toSeq.map(c => col(s"__pre_$c").as(c))
            // one filter set for BOTH merge surfaces: an update is any
            // surviving TARGET row a clause touched (matched update, or
            // a BY SOURCE update — no source row present); an insert is
            // a claimed source-only row; a delete is a delete-flagged
            // row that EXISTED (unmatched tombstones / unclaimed source
            // rows never did and emit nothing). In the classic upsert
            // __touched == __u_present, reducing to the old filters.
            val frames = Seq(
              tagged(lineage.filter(tp && fired && !del).select(pre: _*),
                "update_preimage"),
              tagged(lineage.filter(tp && fired && !del).select(dataCols: _*),
                "update_postimage"),
              tagged(lineage.filter(upPresent && !tp && fired && !del)
                .select(dataCols: _*), "insert")) ++
              (if (hasDeletes || clauses.exists(_.mayDelete) ||
                  postCombine.exists(_.deleteWhen.isDefined))
                Seq(tagged(lineage.filter(tp && del).select(pre: _*),
                  "delete"))
               else Nil)
            writeChangeSet(frames)
          }
          mergeCommit(cellRebase = true, autoCompact = false,
            consumed = touchedSets,
            produced = withStats(writeBucketedFileSets(merged, spec)),
            basedOn = rv, txn = txn, dvs = prevDvs, cdf = cdf)
        } finally if (changeFeedEnabled) { lineage.unpersist(); () }
        }
      }
    } finally deleteRecursively(staging)
  }

  /** Point-lookup read on a merge-bucketed table: scans ONLY the file-sets
    * of the buckets the given key tuples hash to — the read-side payoff of
    * the bucketed layout (a key lookup touches 1/numBuckets of the table's
    * files; at 100 TB with 4096 buckets, ~25 GB instead of 100 TB). Falls
    * back to a full-snapshot read + filter on unbucketed tables. The
    * returned frame is already filtered to the requested keys.
    *
    * `keyValues`: one Seq per key tuple, values in `bucketSpec.keys` order. */
  /** `partitionValues` (one Seq per expected partition tuple, values in
    * `bucketSpec.partitionKeys` order) additionally prunes by partition:
    * without it a point lookup on a partitioned table reads its key's
    * bucket across EVERY partition (1000 dates × one cell each at scale);
    * with it only the named partitions' cells are touched. Purely a
    * pruning hint — file-sets whose partition can't be decoded are always
    * read, and the key filter still applies, so a WRONG hint can lose
    * rows only by naming the wrong partitions (same contract as a Delta
    * MERGE/SELECT partition predicate). */
  def readForKeys(keyValues: Seq[Seq[Any]],
                  partitionValues: Option[Seq[Seq[String]]] = None,
                  asOfVersion: Option[Long] = None): DataFrame = {
    require(keyValues.nonEmpty, "readForKeys requires at least one key tuple")
    // `asOfVersion` pins the lookup to that snapshot's file-sets/DVs —
    // the maintenance-read form (a refresher must never read a head a
    // concurrent writer is advancing). Caveat: bucket ids route with the
    // CURRENT spec, so the caller must know the spec was not REPLACED
    // since that version (true for maintained fact tables — spec
    // replacement only happens through rollup-target re-creation).
    val snap = asOfVersion match {
      case Some(v) => Some(history.find(_.version == v).getOrElse(
        sys.error(s"no version $v at $root")))
      case None => history.lastOption
    }
    def snapRead: DataFrame = asOfVersion.map(readVersion).getOrElse(read)
    val spec = bucketSpec
    val keyFilter = (df: DataFrame) => {
      val keys = spec.map(_.keys).getOrElse(
        sys.error(s"readForKeys needs a bucketed table at $root"))
      val cond = keyValues.map(tuple =>
        keys.zip(tuple).map { case (k, v) => col(k) <=> lit(v) }
          .reduce(_ && _)).reduce(_ || _)
      df.filter(cond)
    }
    spec match {
      case None => keyFilter(snapRead)
      case Some(sp) =>
        // bucket each key tuple driver-side with Spark's own hash expr so
        // the routing matches the write path exactly (one tiny local job).
        // Literals are CAST to the table's column types first: hash() is
        // type-sensitive (hash(42: int) != hash(42L: bigint)), so an
        // uncast literal would silently probe the wrong bucket.
        val schema = snapRead.schema
        val lits = keyValues.map { tuple =>
          val typed = sp.keys.zip(tuple).map { case (k, v) =>
            schema.find(_.name == k)
              .map(f => lit(v).cast(f.dataType)).getOrElse(lit(v))
          }
          pmod(hash(typed: _*), lit(sp.numBuckets))
        }
        // literal-only bucket routing: folds to a LocalRelation, no job
        val buckets = VersionedTable.literalRow(spark,
          Seq(array(lits: _*).as("b"))).getSeq[Int](0).toSet
        val prev = snap.map(_.fileSets).getOrElse(Nil)
        val (tagged, untagged) = prev.partition(bucketOf(_).isDefined)
        partitionValues.foreach { pv =>
          // an accidental empty or wrong-arity hint would silently prune
          // EVERY decodable cell ("read nothing") — refuse it instead
          require(pv.nonEmpty,
            "partitionValues hint must name at least one partition")
          require(pv.forall(_.length == sp.partitionKeys.length),
            s"partitionValues tuples must match partitionKeys arity " +
              s"${sp.partitionKeys.length} at $root")
        }
        val wanted = partitionValues.map(_.toSet)
        val partHit = (fs: String) => wanted match {
          case Some(ws) if sp.partitionKeys.nonEmpty =>
            partitionValuesOf(fs, sp.partitionKeys.length) match {
              case Some(vals) if vals.forall(_.isDefined) =>
                ws.contains(vals.map(_.get))
              case _ => true // undecodable partition: always read
            }
          case _ => true
        }
        val hit = tagged.filter(fs =>
          bucketOf(fs).exists(buckets.contains) && partHit(fs)) ++
          untagged // pre-spec file-sets can hold any key
        if (hit.isEmpty) keyFilter(snapRead.limit(0))
        else keyFilter(readSets(hit,
          snap.map(_.dvs).getOrElse(Nil)))
    }
  }

  /** OPTIMIZE-style small-file compaction: rewrite the current snapshot
    * into `numFiles` files as a new version. Bucketed tables compact to
    * one file-set per (partition, bucket) cell (preserving copy-on-write
    * merge AND partition pruning); hive-partitioned tables re-apply their
    * recorded layout (one file per partition value) so compaction never
    * silently flattens partition pruning away. */
  def compact(numFiles: Int = 1): LogEntry = {
    val snap = history.lastOption.getOrElse(sys.error(s"empty table at $root"))
    val rv = Some(snap.version)
    val statsCols = statsColsOf(snap.fileSets)
    val newSets = bucketSpec match {
      case Some(spec) => writeBucketedFileSets(read, spec)
      case None if partitionLayout.nonEmpty =>
        Seq(writeFileSetPreservingLayout(read))
      case None => Seq(writeFileSet(read.coalesce(numFiles)))
    }
    // OPTIMIZE must not strip data skipping: regenerate the sidecar
    // coverage the compacted file-sets carried (same guard as
    // deleteRange/compactPartitions/merge)
    writeSkippingSidecars(newSets, statsCols, bloomColsOf(snap.fileSets))
    commit("compact", newSets, basedOn = rv)
  }

  /** OPTIMIZE's bin-packing semantics (Delta compacts only files below
    * its small-file threshold): fold ONLY the file-sets smaller than
    * `maxBytes` on disk into one file-set, carrying every larger one
    * verbatim — O(small files), where full-table [[compact]] is
    * O(table) and impossible as routine maintenance at 100 TB. The
    * hive layout is preserved, deletion vectors of folded file-sets are
    * applied (and their entries retired), and stats + bloom coverage
    * regenerate. Bucketed tables use [[compactPartitions]] — their cell
    * layout is the unit of maintenance. */
  def compactSmall(maxBytes: Long, minSets: Int = 2): LogEntry = {
    require(bucketSpec.isEmpty,
      s"bucketed table at $root: use compactPartitions for scoped OPTIMIZE")
    val snap = history.lastOption.getOrElse(sys.error(s"empty table at $root"))
    val rv = Some(snap.version)
    // DATA bytes only: skipping sidecars don't count against the
    // threshold — a bloom sidecar is ~0.9 MB per (file-set, column), so
    // counting it would classify tiny bloom-covered file-sets as 'large'
    // and silently defeat bin-packing on exactly the tables using bloomFor
    def dirSize(p: Path): Long =
      listDir(p).map { c =>
        val n = c.getFileName.toString
        if (Files.isDirectory(c)) dirSize(c)
        else if (n == "_fstats.tsv" || n.startsWith("_fbloom")) 0L
        else Files.size(c)
      }.sum
    val (small, large) = snap.fileSets
      .partition(fs => dirSize(dataDir.resolve(fs)) < maxBytes)
    // nothing to fold: NO new version (a nightly no-op run must not push
    // real restore targets out of the vacuum retention window).
    // `minSets` raises the trigger for auto-compact callers: folding
    // after EVERY append would re-read the small tail per commit.
    if (small.length < math.max(minSets, 2)) return snap
    val folded = readSets(small, snap.dvs)
    val statsCols = statsColsOf(small)
    val newSet = writeFileSetPreservingLayout(folded)
    writeSkippingSidecars(Seq(newSet), statsCols, bloomColsOf(small))
    commit("compact", large ++ Seq(newSet), basedOn = rv, dvs = snap.dvs)
  }

  /** `OPTIMIZE … WHERE` analog: compact ONLY the named partitions' cells
    * (repeated merges/appends leave many file-sets per (partition,
    * bucket) cell; this coalesces them to one per cell), carrying every
    * other file-set verbatim — O(named partitions) where full-table
    * [[compact]] is O(table), the difference between a nightly
    * maintenance job and an impossible one at 100 TB. File-sets without a
    * decodable partition tag (pre-spec appends, empty fallbacks) are
    * compacted too: rewriting them into proper cells is self-healing.
    * Cells of a NULL partition value are carried (they're proper cells
    * this API just can't name). Rewritten cells keep their data-skipping
    * sidecars. `partitionValues`: one Seq per partition tuple, in
    * `bucketSpec.partitionKeys` order. */
  /** File-set count per decodable (partition values, bucket) cell of
    * the current snapshot — METADATA-ONLY (decoded from file-set
    * names, zero data or footer reads): the maintenance trigger
    * surface for [[compactCellsOver]]. Cells with an undecodable or
    * NULL-valued tag are omitted (compactPartitions cannot name them;
    * any partition-scoped compact rewrites undecodable sets anyway,
    * self-healing them into proper cells). */
  def cellFileSetCounts: Seq[(Seq[String], Int, Int)] = {
    val spec = bucketSpec.getOrElse(
      sys.error(s"cellFileSetCounts needs a bucketed table at $root"))
    require(spec.partitionKeys.nonEmpty,
      s"cellFileSetCounts needs a partitioned bucket spec at $root")
    val snap = history.lastOption.getOrElse(
      sys.error(s"empty table at $root"))
    snap.fileSets.flatMap { fs =>
      (partitionValuesOf(fs, spec.partitionKeys.length), bucketOf(fs)) match {
        case (Some(vals), Some(b)) if vals.forall(_.isDefined) =>
          Some((vals.map(_.get), b))
        case _ => None
      }
    }.groupBy(identity).toSeq
      .map { case ((vals, b), hits) => (vals, b, hits.length) }
      .sortBy { case (vals, b, _) => (vals.mkString("/"), b) }
  }

  /** Targeted small-file maintenance for partitioned merge tables: an
    * append-heavy flow (streaming sinks' insert-only merges, ANN
    * serving syncs) adds one file-set per touched cell per batch
    * WITHOUT folding the cell's existing sets — after many batches a
    * cell serves from many segments. Compact ONLY the partitions
    * holding a cell with more than `maxSetsPerCell` file-sets
    * (O(offending partitions), via [[compactPartitions]]); None when
    * every cell is within bounds — no version churn on a healthy
    * table. The trigger scan is metadata-only ([[cellFileSetCounts]]).
    * Single-writer assumption as with any read-modify-write commit:
    * concurrent committers surface as ConcurrentModificationException
    * for the caller to retry or drop (best-effort callers swallow it —
    * the data is already durable either way). */
  def compactCellsOver(maxSetsPerCell: Int): Option[LogEntry] = {
    require(maxSetsPerCell >= 1, "maxSetsPerCell must be >= 1")
    val offenders = cellFileSetCounts
      .filter { case (_, _, n) => n > maxSetsPerCell }
      .map { case (vals, _, _) => vals }.distinct
    if (offenders.isEmpty) None
    else Some(compactPartitions(offenders))
  }

  def compactPartitions(partitionValues: Seq[Seq[String]]): LogEntry = {
    require(partitionValues.nonEmpty, "compactPartitions needs partitions")
    val spec = bucketSpec.getOrElse(
      sys.error(s"compactPartitions needs a bucketed table at $root"))
    require(spec.partitionKeys.nonEmpty,
      s"compactPartitions needs a partitioned bucket spec at $root")
    val snapEntry = history.lastOption
    val rv = snapEntry.map(_.version)
    val prev = snapEntry.map(_.fileSets).getOrElse(Nil)
    val wanted = partitionValues.toSet
    val (touched, carried) = prev.partition(fs =>
      partitionValuesOf(fs, spec.partitionKeys.length) match {
        case Some(vals) if vals.forall(_.isDefined) =>
          wanted.contains(vals.map(_.get))
        // a decodable cell with a NULL partition value (pN sentinel) is a
        // PROPER cell that just can't be named by this API — carry it,
        // or every nightly scoped compaction would rewrite the whole
        // NULL partition forever without converging
        case Some(_) => false
        case None    => true // truly unparseable: fold into proper cells
      })
    val prevDvs = snapEntry.map(_.dvs).getOrElse(Nil)
    if (touched.isEmpty) commit("compact", prev, basedOn = rv, dvs = prevDvs)
    else {
      val newSets =
        writeBucketedFileSets(readSets(touched, prevDvs), spec)
      // regenerate the data-skipping coverage the rewritten cells carried
      // (same guard as deleteRange and merge — a maintenance op must not
      // silently strip pruning)
      writeSkippingSidecars(newSets,
        statsColsOf(touched),
        bloomColsOf(touched))
      commit("compact", carried ++ newSets, basedOn = rv, dvs = prevDvs)
    }
  }

  /** VACUUM: delete file-sets unreachable from the last `retainVersions`
    * versions (older versions stop being time-travelable, as with Delta
    * VACUUM). Returns the root-relative names actually deleted — ONE
    * [[vacuumDryRun]] snapshot drives both the deletes and the report,
    * so the returned list is exactly what was reclaimed even if a
    * concurrent commit or an aging-past-grace orphan would change a
    * second listing taken moments later. */
  // ------------------------------------------------------------------ tags

  private def tagsPath: Path = Paths.get(root, "_tags.json")

  /** Named snapshot pins (Iceberg tags — Delta has no analog): a tag is
    * a durable name → version mapping, and tagged versions are EXEMPT
    * from the vacuum retention cliff, so "the exact corpus release this
    * model trained on" stays reproducible while routine retention keeps
    * reclaiming everything untagged. Metadata-only at any table size. */
  def tags: Map[String, Long] =
    MetaJson.readLines(tagsPath)(e =>
      MetaJson.str(e, "name") -> MetaJson.long(e, "v")).toMap

  /** Pin `name` to `version` (default: the current head). Tag names are
    * immutable once created — re-pointing a release label silently is
    * exactly the mistake tags exist to prevent; DROP then re-create.
    * SHALLOW CLONEs deliberately do NOT inherit tags: a clone's history
    * re-bases to version 0, so an inherited pin would point at a version
    * number that means something else (or nothing) in the clone. */
  def createTag(name: String, version: Option[Long] = None): Unit = {
    require(name.matches("""[A-Za-z_][A-Za-z0-9_.\-]*"""),
      s"CREATE TAG: bad tag name `$name`")
    val cur = tags
    require(!cur.contains(name), s"tag `$name` already exists at $root " +
      s"(pinned to v${cur(name)}); DROP TAG first — tags never re-point")
    val v = version.orElse(latestVersion).getOrElse(
      sys.error(s"CREATE TAG on empty table at $root"))
    require(history.exists(_.version == v),
      s"CREATE TAG: no version $v at $root")
    writeTags(cur + (name -> v))
  }

  def dropTag(name: String): Unit = {
    val cur = tags
    require(cur.contains(name), s"DROP TAG: no tag `$name` at $root")
    writeTags(cur - name)
  }

  /** `VERSION AS OF '<tag>'`. */
  def readTag(name: String): DataFrame =
    readVersion(tags.getOrElse(name,
      sys.error(s"no tag `$name` at $root")))

  private def writeTags(m: Map[String, Long]): Unit =
    MetaJson.writeLines(tagsPath, m.toSeq.sortBy(_._1).map { case (n, v) =>
      MetaJson.obj("name" -> n, "v" -> v) }, terminated = false)

  // ------------------------------------------------------------------ pins
  // Consumer retention floors. A pin is a durable name → version record
  // meaning "a registered consumer still reads from this version
  // forward": a join-MV's telescoped refresh reads every side at its
  // covered version and the change sets above it; a streaming
  // checkpoint replays (committedFloor, head]. Tags answer "keep THIS
  // snapshot forever" (immutable, human-made); pins answer "keep
  // everything from HERE up, until the consumer advances" — they
  // re-point forward on every refresh/batch and vacuum retains the
  // pinned suffix, so retention can never silently break an
  // incremental consumer into a failed read (Delta has no analog; its
  // streams just die past the retention cliff).
  //
  // One FILE per pin (name hashed into the filename, full name in the
  // JSON): concurrent consumers advance their own pins without a
  // read-modify-write race on a shared registry, and an atomic
  // replacing move makes each advance all-or-nothing.

  private def pinsDir: Path = Paths.get(root, "_pins")
  private def pinFile(name: String): Path = {
    val digest = java.security.MessageDigest.getInstance("SHA-1")
      .digest(name.getBytes("UTF-8")).map("%02x".format(_)).mkString
    pinsDir.resolve(s"$digest.json")
  }

  /** Live consumer pins: name → lowest version the consumer still
    * reads. Metadata-only (one tiny file per registered consumer). */
  def pins: Map[String, Long] = pinsDetail.map { case (n, (v, _)) => n -> v }

  /** Pins with their last-advanced wall-clock (operator surface: an
    * abandoned checkpoint's pin shows its age in SHOW PINS). */
  def pinsDetail: Map[String, (Long, Long)] =
    listDir(pinsDir)
      .filterNot(_.getFileName.toString.startsWith(".")) // in-flight tmp
      .flatMap { p =>
      // a pin dropped mid-listing holds no floor; an undecodable one
      // fails loudly rather than silently releasing its versions to vacuum
      try MetaJson.readFile(p)(e => MetaJson.str(e, "name") ->
        ((MetaJson.long(e, "v"), MetaJson.long(e, "ts"))))
      catch { case _: java.nio.file.NoSuchFileException => None }
    }.toMap

  /** Record (or advance) consumer `name`'s retention floor. Unlike
    * tags, pins RE-POINT: every refresh/batch moves its consumer's
    * floor forward, releasing history behind it to vacuum. A
    * same-version call is USUALLY a no-op (hot paths call this per
    * slice/batch and must not churn small files) — but the pin's
    * timestamp is its liveness signal for `FORCE EXPIRE PINS`, and a
    * perfectly live consumer over a quiescent upstream legitimately
    * sits at one version for hours. So a same-version call DOES
    * refresh the timestamp once it is older than
    * [[VersionedTable.PinHeartbeatMillis]]: age then means "last
    * confirmed alive", not "last advanced", at a bounded one write per
    * heartbeat interval per consumer. */
  def setPin(name: String, version: Long): Unit = {
    val now = System.currentTimeMillis()
    pinsDetail.get(name) match {
      case Some((v, ts)) if v == version &&
          now - ts < VersionedTable.PinHeartbeatMillis => ()
      case _ => setPinAt(name, version, now)
    }
  }

  /** [[setPin]] with an EXPLICIT last-advanced timestamp — the backfill
    * / test seam for [[expirePins]] age policies. Production consumers
    * go through [[setPin]], which stamps now. */
  private[graft] def setPinAt(name: String, version: Long,
                              tsMillis: Long): Unit = {
    require(name.nonEmpty && !name.contains("\""),
      s"setPin: bad pin name `$name`")
    require(history.exists(_.version == version),
      s"setPin: no version $version at $root")
    MetaJson.write(pinFile(name),
      MetaJson.obj("name" -> name, "v" -> version, "ts" -> tsMillis))
  }

  /** `VACUUM … FORCE EXPIRE PINS OLDER THAN`: drop every consumer pin
    * whose floor has not advanced for more than `olderThanMillis`. The
    * operator override for DEAD consumers — a live incremental consumer
    * re-points its pin every refresh/batch AND heartbeats its timestamp
    * on same-version calls ([[setPin]]), so a timestamp unmoved for the
    * stated interval means "not confirmed alive", not merely "floor
    * didn't advance": an abandoned checkpoint holding the table's
    * retention suffix (and at warehouse scale, its storage) hostage.
    * Explicit and LOUD: commits a metadata-only `expire_pins` history
    * entry so the expiry stays auditable in DESCRIBE HISTORY after the
    * pin files vanish (CDF classifies it no-change, like the other
    * metadata DDL). An expired consumer that later returns degrades to
    * a clean full recompute, exactly like readers after `VACUUM …
    * IGNORE PINS` ([[snapshotLive]] / CdfNotExpressible — never a
    * mid-read failure). Returns (name, floor version, age millis) per
    * expired pin, name-sorted. */
  def expirePins(olderThanMillis: Long): Seq[(String, Long, Long)] = {
    require(olderThanMillis > 0,
      s"expirePins: age bound must be positive (got $olderThanMillis ms)")
    val now = System.currentTimeMillis()
    val stale = pinsDetail.toSeq
      .filter { case (_, (_, ts)) => now - ts > olderThanMillis }
      .sortBy(_._1)
    if (stale.isEmpty) return Nil
    // Audit BEFORE destruction: if the commit loses the version slot to
    // a concurrent writer and throws, the pins are still intact and the
    // statement can simply be retried — never "pins destroyed with no
    // history record and the statement errored anyway".
    history.lastOption.foreach(s =>
      commit("expire_pins", s.fileSets, basedOn = Some(s.version),
        dvs = s.dvs))
    stale.foreach { case (n, _) => dropPin(n) }
    stale.map { case (n, (v, ts)) => (n, v, now - ts) }
  }

  /** Remove consumer `name`'s pin. Idempotent — teardown paths (DROP
    * MATERIALIZED VIEW, abandoned checkpoints) must not fail on a pin
    * that was never written or is already gone. */
  def dropPin(name: String): Unit = {
    Files.deleteIfExists(pinFile(name))
    ()
  }

  // ----------------------------------------------------------- sink lease
  // Single-writer enforcement for stateful streaming sinks. The modes
  // that maintain derived state on a table (aggregate MVs, APPLY
  // CHANGES replicas, ingest dedup, update-mode merges, autoCompact's
  // read-modify-write) assume ONE owning stream: two sinks would
  // interleave compactions wastefully, live-lock on rebase, or split a
  // replica's key space. The lease is an atomically-created marker file
  // (CREATE_NEW — two simultaneous claimers cannot both win), owned by
  // the sink's txn app id, so a RESTART of the same checkpointed query
  // re-claims its own lease silently while a second, different stream
  // refuses loudly before writing anything.

  private def sinkOwnerPath: Path = Paths.get(root, "_sink_owner")

  def sinkOwner: Option[String] =
    if (!Files.exists(sinkOwnerPath)) None
    else Some(Files.readString(sinkOwnerPath).trim).filter(_.nonEmpty)

  /** Claim (or re-claim) the sink lease for `owner`. `takeover = true`
    * re-points an existing lease — the explicit operator move when a
    * pipeline is rebuilt under a new checkpoint; without it a foreign
    * lease refuses loudly. */
  def claimSinkOwner(owner: String, takeover: Boolean = false): Unit = {
    require(owner.nonEmpty, "claimSinkOwner: empty owner id")
    sinkOwner match {
      case Some(cur) if cur == owner => () // our lease (restart)
      case Some(cur) if !takeover => sys.error(
        s"graft-table sink: table at $root is owned by another sink " +
          s"(owner `$cur`). A stateful sink mode (aggregate/applyChanges/" +
          "dedupKeys/mergeKeys/autoCompact) is single-writer per table — " +
          "stop the other stream, or take the lease over explicitly with " +
          ".option(\"sinkOwnerTakeover\", \"true\"), or release it with " +
          "releaseSinkOwner().")
      case Some(_) => AtomicFile.replace(sinkOwnerPath, owner) // takeover
      case None =>
        Files.createDirectories(Paths.get(root))
        try Files.writeString(sinkOwnerPath, owner,
          java.nio.file.StandardOpenOption.CREATE_NEW)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            // lost the atomic race — re-enter to refuse (or match) loudly
            claimSinkOwner(owner, takeover)
        }
    }
  }

  def releaseSinkOwner(): Unit = {
    Files.deleteIfExists(sinkOwnerPath)
    ()
  }

  /** Whether version `v`'s snapshot is still fully readable — every
    * data file-set (and deletion vector) the entry references exists.
    * The clean-degrade guard for consumers whose pinned version was
    * vacuumed anyway (pin written after the fact, or an operator's
    * IGNORE PINS): plan a full recompute instead of failing mid-read. */
  def snapshotLive(v: Long): Boolean =
    history.find(_.version == v).exists(e =>
      e.fileSets.forall(fs => Files.exists(dataDir.resolve(fs))) &&
        e.dvs.forall(dv => Files.exists(dvDir.resolve(dv))))

  def vacuum(retainVersions: Int = 1,
             respectPins: Boolean = true): Seq[String] = {
    val doomed = vacuumDryRun(retainVersions, respectPins)
    doomed.foreach(rel => deleteRecursively(Paths.get(root).resolve(rel)))
    doomed
  }

  /** What [[vacuum]] would reclaim — root-relative paths of data
    * file-sets, deletion vectors (purged, superseded, or orphaned by a
    * crashed writer), change-feed sets unreachable from the retained
    * versions (CDC follows data retention, as Delta VACUUM does; feed
    * reads past the cliff error explicitly, never misreport), and
    * orphaned staging from crashed writers. Delta's `VACUUM … DRY RUN`:
    * inspect the blast radius before deleting — vacuum deletes EXACTLY
    * this list, so the preview can never under-report.
    *
    * Reclamation of UNTRACKED names is AGE-GATED
    * ([[VersionedTable.StagingGraceMillis]], mtime-based) — and not just
    * under `_staging/`: every writer renames its finished file-set (and
    * writes DV / change-feed files) into place BEFORE appending the log
    * entry, so a concurrent vacuum can observe a finished-but-not-yet-
    * committed name that appears in NO history entry. Deleting it would
    * fail the in-flight commit (or worse, leave a committed version
    * pointing at vanished data). A name in no version that is younger
    * than the grace window is therefore a LIVE writer's and is left
    * alone; only names old enough to be a crashed writer's orphan are
    * listed (Delta gates uncommitted-file cleanup on the same
    * modification-time rule). Names tracked in EXPIRED history versions
    * are reclaimed regardless of age — that is the time-travel retention
    * cliff working as designed. */
  def vacuumDryRun(retainVersions: Int = 1,
                   respectPins: Boolean = true): Seq[String] = {
    val c = vacuumDryRunClassified(retainVersions)
    (if (respectPins) c.filter(_._2) else c).map(_._1)
  }

  /** One-pass vacuum classification: every path the PIN-IGNORING vacuum
    * would delete, flagged `true` when the default (pin-respecting)
    * vacuum would delete it too (`false` = only a consumer pin holds
    * it). One directory walk + one history parse feed BOTH views, so a
    * `DRY RUN DETAIL` reading them can never skew — with two separate
    * listings, a file crossing [[VersionedTable.StagingGraceMillis]] or
    * a concurrent commit between the calls could land in one view but
    * not the other and be mislabeled. */
  def vacuumDryRunClassified(
      retainVersions: Int = 1): Seq[(String, Boolean)] = {
    val h = history
    // tagged versions are retention-exempt: a tag IS the promise that
    // its snapshot stays readable (releases pinned for reproducibility)
    val tagged = tags.values.toSet
    // consumer pins retain their whole SUFFIX (version >= floor): an
    // incremental consumer reads its pinned snapshot AND every change
    // set above it, so exempting only the pinned version would still
    // sever the feed. respectPins=false (VACUUM … IGNORE PINS) is the
    // operator override for an abandoned consumer — registered readers
    // then degrade to a clean full recompute via [[snapshotLive]] /
    // CdfNotExpressible instead of failing mid-read.
    val pinFloor: Option[Long] = pins.values.minOption
    val base = h.takeRight(retainVersions) ++
      h.filter(e => tagged.contains(e.version))
    // pin-respecting retention keeps STRICTLY MORE versions, so its
    // reclaim list is a subset of the pin-ignoring one — classifying
    // the larger list covers both previews from the same listing
    val pinned = base ++ h.filter(e => pinFloor.exists(e.version >= _))
    def keepSets(retained: Seq[LogEntry]) =
      (retained.flatMap(_.fileSets).toSet, retained.flatMap(_.dvs).toSet,
        retained.flatMap(_.cdf).toSet)
    val (keep, keepDvs, keepCdf) = keepSets(base)
    val (keepP, keepDvsP, keepCdfP) = keepSets(pinned)
    // names referenced by ANY committed version: expired ones reclaim
    // immediately; an unreferenced name younger than the grace window is
    // an in-flight writer's rename-in (commit pending) — never touch it
    val tracked = (h.flatMap(_.fileSets) ++ h.flatMap(_.dvs) ++
      h.flatMap(_.cdf)).toSet
    val cutoff = System.currentTimeMillis() - StagingGraceMillis
    def oldEnough(p: Path) =
      try Files.getLastModifiedTime(p).toMillis < cutoff
      catch { case _: java.io.IOException => false } // races with rename-out
    def under(dir: Path, name: String, keepNames: Set[String],
              keepPinned: Set[String]) =
      listDir(dir).filterNot(p => keepNames.contains(p.getFileName.toString))
        .filter(p => tracked.contains(p.getFileName.toString) || oldEnough(p))
        .map(p => (s"$name/${p.getFileName}",
          !keepPinned.contains(p.getFileName.toString)))
    // pins never protect staging orphans — reclaimable in both modes
    val staleStaging = listDir(stagingDir).filter(oldEnough)
      .map(p => (s"_staging/${p.getFileName}", true))
    (under(dataDir, "data", keep, keepP) ++
      under(dvDir, "_dv", keepDvs, keepDvsP) ++
      under(changesDir, "_changes", keepCdf, keepCdfP) ++
      staleStaging).sortBy(_._1)
  }

  private def deleteRecursively(p: Path): Unit =
    VersionedTable.deleteRecursively(p)
}

object VersionedTable {

  /** ONE recursive-delete helper for the whole engine (vacuum, catalog
    * drops, poll-source WAL cleanup, specs and driver queries) — the
    * former five private copies each re-derived it. */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.toList.foreach(deleteRecursively)
      finally s.close()
    }
    Files.deleteIfExists(p)
    ()
  }
  /** Run `f` with AQE allowed to re-partition CACHED plan output
    * (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`,
    * default false). By default a persisted shuffle output keeps
    * `spark.sql.shuffle.partitions` cache partitions however tiny the
    * data, and every consumer of the cache pays that many fixed task
    * overheads per read — on the merge/CDF hot path the change-set
    * write alone ran 3 union arms × 32 cached partitions = 96 tasks
    * whose summed deserialization (the full merge plan ships with
    * every task) was 6-10s at sf0.1 (ProfQ, r17). Scoped-and-restored:
    * the conf is consulted when `.persist()` registers the plan, so
    * wrapping the persist site is sufficient; session-global flipping
    * would change behavior of caller-owned caches. Every incremental
    * maintainer that persists a group-count-sized delta then merges it
    * must persist under this scope (see graft.plans.Maintained.absorb;
    * the CDF absorb path measured ~60-100ms/task before it did). */
  private[graft] def withAqeCachedPartitioning[T](
      spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** The standard persist for group-count/vocabulary-sized SHUFFLE
    * deltas across the incremental maintainers: persist under
    * [[withAqeCachedPartitioning]] so the cached partitioning collapses
    * to the data's size instead of pinning `spark.sql.shuffle.partitions`
    * partitions per read (r17 measured 32-task stages over ≤12 rows at
    * ~60-100ms fixed cost per task on every consumer; at cluster scale
    * the same un-scoped persist pins thousands). Map-only/scan-shaped
    * persists gain nothing from this (their partitioning is the scan's)
    * and keep calling `.persist` directly. */
  private[graft] def persistAdaptive(df: DataFrame): DataFrame =
    withAqeCachedPartitioning(df.sparkSession) {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Evaluate a one-row projection of LITERAL expressions driver-side:
    * a projection over `SELECT 1`'s OneRowRelation constant-folds to a
    * LocalRelation, so `head()`/`collect()` short-circuit on the
    * LocalTableScan without launching a Spark job. The previous
    * `spark.range(1).select(...)` idiom paid a full
    * defaultParallelism-task job (range() slices by default
    * parallelism — 32 tasks, ~0.3-1.3s with GC, ProfQ r17) to cast a
    * couple of constants on the readForKeys / stats-pruning hot paths. */
  private[graft] def literalRow(spark: SparkSession,
      exprs: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Row =
    spark.sql("SELECT 1").select(exprs: _*).head()

  /** How often a same-version [[setPin]] rewrites its pin file purely to
    * refresh the liveness timestamp (see [[setPin]]'s doc). One minute
    * bounds small-file churn for a per-batch streaming consumer while
    * keeping `FORCE EXPIRE PINS OLDER THAN` (whose sane bounds are
    * hours-to-days) safe for live-but-quiescent consumers. */
  private[graft] val PinHeartbeatMillis: Long = 60_000L

  /** Widenings where every value of the narrow type is exactly
    * representable in the wide one (so pre-DDL arms stay faithful). */
  private val LosslessWidenings: Set[(org.apache.spark.sql.types.DataType,
      org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    Set[(DataType, DataType)](
      (ByteType, ShortType), (ByteType, IntegerType), (ByteType, LongType),
      (ShortType, IntegerType), (ShortType, LongType),
      (IntegerType, LongType), (FloatType, DoubleType))
  }
  def apply(spark: SparkSession, root: String): VersionedTable =
    new VersionedTable(spark, root)

  /** Suffix anchor for extracting a data file's place in its table,
    * immune to prefix drift from symlinked/re-rooted opens (the reader
    * renders `_metadata.file_path`/`input_file_name` under whatever
    * prefix it listed, which need not equal the caller's `dataDir`).
    * The segment after the LAST `/data/` marker is always the file-set:
    * every scanned file lives under `<root>/data/<fs>[/k=v…]/<file>`
    * (CONVERT hardlinks adopted files in too), and no relative-path
    * segment can itself be `data` — file-set dirs are
    * `<uuid>[.s<tag>]`, hive partition dirs contain `=`, and data files
    * are `part-*`. `substring_index` on the marker is a codegen'd
    * string scan; a per-row suffix regex here measurably taxed every
    * DV-bearing read. */
  private[graft] val DataDirMarker = "/data/"

  /** Actions that change NO row a reader can observe: data-identical
    * rewrites (compact/zorder/purge_dv), metadata-only column/layout DDL
    * and pin expiry. The change feed reports zero rows for them (the
    * column mapping applies to every feed arm, so reads stay consistent
    * ACROSS the DDL), and for the incremental maintainers
    * (`plans.Maintained`, `plans.JoinMv`) a slice of only these is a
    * covered-version bump. ONE definition, so [[readChangeFeed]],
    * [[changeFeedExpressible]] and the maintainers cannot drift apart. */
  private[graft] val CdfNoChangeActions: Set[String] = Set(
    "compact", "zorder", "purge_dv",
    "rename_column", "drop_column", "set_partition_layout",
    "expire_pins")

  /** Parsed-log cache (see [[VersionedTable.history]]): entry files are
    * write-once and checkpoint files are keyed by (inode, mtime), so
    * parses cache safely. Bounded by a coarse size cap — entries are
    * ~100 bytes, the cap only matters to very long-lived processes
    * churning temp tables. */
  private val logCache =
    new java.util.concurrent.ConcurrentHashMap[String, List[LogEntry]]()
  private[tables] def logCacheLookup(path: String,
                                     parse: String => List[LogEntry]): List[LogEntry] = {
    if (logCache.size > 100000) logCache.clear()
    logCache.computeIfAbsent(path, p => parse(p))
  }

  /** The ONE schema canonicalizer for fold grouping and cache seeding
    * (schema tags, writer-side cache seeds): all-nullable, field
    * metadata stripped, char/varchar normalized to string. Parquet
    * footer inference reports every field nullable and metadata-free
    * with plain strings, so a SEEDED entry (from a writer's df.schema,
    * which can carry comments / char-varchar markers / non-null fields)
    * must normalize through the same rules — otherwise the seeded and
    * footer-inferred forms of one physical schema disagree, reads group
    * them into separate fold arms, and cached-first reads become
    * stricter than inferred ones. */
  private[tables] def asNullable(
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.StructType =
    asNullableType(dt).asInstanceOf[org.apache.spark.sql.types.StructType]

  private def asNullableType(
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = asNullableType(f.dataType), nullable = true,
          metadata = Metadata.empty)))
      case a: ArrayType =>
        a.copy(elementType = asNullableType(a.elementType), containsNull = true)
      case m: MapType =>
        m.copy(valueType = asNullableType(m.valueType), valueContainsNull = true)
      case _: CharType | _: VarcharType => StringType // parquet has no char
      case other => other
    }
  }

  /** Data schemas of immutable flat file-set dirs (see readFileSets) —
    * same crude bound-and-clear policy as the log cache; stale entries for
    * compacted/vacuumed sets are inert (their keys are never looked up
    * again: file-set names are UUIDs). */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()
  private[tables] def schemaCacheLookup(
      key: String,
      infer: => org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    if (schemaCache.size > 100000) schemaCache.clear()
    schemaCache.computeIfAbsent(key, _ => infer)
  }

  /** Commits between automatic log checkpoints ([[VersionedTable.checkpointLog]]). */
  val CheckpointInterval = 32L

  /** Live property key: CDF on/off (Delta's delta.enableChangeDataFeed). */
  val CdfProp = "graft.enableChangeFeed"

  /** Sentinel `cdf` id for commits whose change set IS the commit's added
    * file-sets, all inserts (the insert-only merge fast path): the feed
    * reader synthesizes the inserts from the file-set diff — exactly the
    * synthesis plain appends always used — instead of the writer
    * materializing a byte-for-byte second copy of the batch under
    * `_changes/`. On a CDF-enabled ingest/MV-bootstrap merge this removes
    * one full write + one full read of the batch per commit (measured
    * 3.5s task / ~1.5s wall of the scd2 bootstrap at sf0.1, ProfQ r17);
    * at 100 TB it halves the write amplification of CDF-on append-shaped
    * merges. `@` keeps it disjoint from real ids (`c-<uuid>`); vacuum &
    * fsck treat it as a name that never matches a `_changes/` listing
    * (harmless), and the prepared-commit intact check skips it. */
  private[graft] val CdfSyntheticInserts = "@sets"

  /** Live property key: declared cluster columns (bare OPTIMIZE z-orders
    * by them — the liquid-clustering declaration). */
  val ClusterByProp = "graft.clusterBy"

  /** Minimum age (mtime) before vacuum treats a staging dir as a crashed
    * writer's orphan — any live writer finishes (or at least touches) its
    * staging well within this window. */
  val StagingGraceMillis: Long = 60L * 60 * 1000

  /** Bloom sidecar sizing: capacity and false-positive rate. ~0.9 MB of
    * bits per (file-set, column) at these defaults — rewrites regenerate
    * with the same defaults. A false positive costs one over-read
    * file-set, never a wrong result. */
  val DefaultBloomItems = 1000000L
  val DefaultBloomFpp = 0.03

  /** Bucket column name used transiently during bucketed writes (lives only
    * in staging dir names, never in the parquet schema). */
  private val BucketCol = "_gbucket"
  /** Deletion-vector row identity: file path relative to the table's data
    * dir + `_metadata.row_index` position within that file. Transient —
    * projected during DV-aware reads, never in a data file's schema. */
  private[graft] val DvFileCol = "_dv_file"
  private[graft] val DvPosCol = "_dv_pos"
  /** Change-data-feed change kind: insert / update_preimage /
    * update_postimage / delete (Delta CDF's column and vocabulary). */
  private val ChangeTypeCol = "_change_type"
  /** Canonical cell file-set name: `<writeId>.s<schemaTag>.<splitValue>`. */
  private val CellName: (String, String, String) => String =
    (id, tag, v) => s"$id.s$tag.$v"
  private val BucketedName = """.*\.b(\d+)$""".r
  private val SchemaTagged =
    """.*\.s([0-9a-f]{8})(?:\.p[^.]*)?(?:\.b\d+)?$""".r
  /** `b00007` or `p<enc>.b00007` — the split suffix COW routing matches.
    * The leading `.*?` is LAZY: a greedy `.*` would swallow the `p<enc>.`
    * segment and capture a bare `b00007` for partitioned names, so a
    * partitioned cell would never match its staged split value and every
    * merge would wrongly carry the touched cell (duplicate keys). */
  private val SplitSuffixName = """.*?\.((?:p[^.]*\.)?b\d+)$""".r
  /** Encoded partition values of a partition-bucketed file-set name. */
  private val PartTaggedName = """.*\.p([^.]*)\.b\d+$""".r

  /** Default bucket count for merge tables. Sized for the test scales here;
    * at 100 TB pass numBuckets ≈ table_bytes / target_rewrite_bytes (e.g.
    * 4096 for ~25 GB per bucket) on the first merge. */
  val DefaultMergeBuckets = 16

  /** Rebase attempts before a blind append gives up the commit race —
    * far above any plausible concurrent-writer count. */
  private val MaxCommitRetries = 20

  /** Per-hwm-file JVM monitors for identity range reservation — see
    * reserveIdentity (OS file locks do not serialize same-JVM threads). */
  private val identityLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[tables] val PkSpec =
    """PRIMARY KEY \(([^)]*)\)( RELY)?""".r
  private[tables] val FkSpec =
    """FOREIGN KEY \(([^)]*)\) REFERENCES (.+) \(([^)]*)\)( RELY)?""".r

  /** One staged-but-not-appended merge commit ([[VersionedTable
    * .mergePrepared]]): everything durable except the log entry. JSON
    * round-trips so a multi-table intent record can survive a crash
    * and be rolled forward. `mergePrepared` is public API, so a txn app
    * id or a name here may hold any character; the codec escapes it and
    * the record stays one line. */
  final case class PreparedCommit(action: String, consumed: Seq[String],
      produced: Seq[String], basedOn: Option[Long],
      txn: Option[(String, Long)], dvs: Seq[String], cdf: Option[String],
      cellRebase: Boolean, autoCompact: Boolean) {
    def toJson: String = MetaJson.json(MetaJson.obj(
      "action" -> action, "consumed" -> consumed, "produced" -> produced,
      "basedOn" -> basedOn, "txnApp" -> txn.map(_._1),
      "txnVersion" -> txn.map(_._2), "dvs" -> dvs, "cdf" -> cdf,
      "cellRebase" -> cellRebase, "autoCompact" -> autoCompact))
  }
  object PreparedCommit {
    def fromJson(line: String): PreparedCommit =
      MetaJson.decode(line, "unparseable PreparedCommit", plain = true) { n =>
        import MetaJson._
        PreparedCommit(str(n, "action"), strs(n, "consumed"),
          strs(n, "produced"), opt(n, "basedOn")(long), txnOf(n),
          strs(n, "dvs"), opt(n, "cdf")(str), bool(n, "cellRebase"),
          bool(n, "autoCompact"))
      }
  }

  /** The flat `txnApp`/`txnVersion` pair of log entries and intent lines. */
  private def txnOf(n: com.fasterxml.jackson.databind.JsonNode)
      : Option[(String, Long)] =
    MetaJson.opt(n, "txnApp")(MetaJson.str)
      .map(app => (app, MetaJson.long(n, "txnVersion")))

  /** One version-log record. `txn` is the Delta `txnAppId`/`txnVersion`
    * idempotence marker: riding IN the entry makes it atomic with the
    * data commit, so "was this batch already applied?" and "what does
    * the table contain?" can never disagree. */
  final case class LogEntry(version: Long, tsMillis: Long, action: String,
                            fileSets: Seq[String],
                            txn: Option[(String, Long)] = None,
                            dvs: Seq[String] = Nil,
                            cdf: Option[String] = None) {
    // dvs/cdf/txn omitted when empty: entries written by older code parse
    // identically, and most entries carry none of them
    def toJson: String = MetaJson.render(MetaJson.obj(
      "version" -> version, "tsMillis" -> tsMillis, "action" -> action,
      "fileSets" -> fileSets, "dvs" -> Some(dvs).filter(_.nonEmpty),
      "cdf" -> cdf, "txnApp" -> txn.map(_._1), "txnVersion" -> txn.map(_._2)))
  }
  object LogEntry {
    def parse(s: String): LogEntry = MetaJson.decode(s, "bad log entry") { n =>
      import MetaJson._
      LogEntry(long(n, "version"), long(n, "tsMillis"), str(n, "action"),
        strs(n, "fileSets"), txnOf(n), strs(n, "dvs"), opt(n, "cdf")(str))
    }
  }

  /** Key-hash bucketing spec for copy-on-write merge tables.
    *
    * `partitionKeys` adds Delta-style partitioning WITHIN the bucketed
    * layout (the reference's intended `snapshot_date` partitioning on its
    * MERGE tables, docs/architecture.md:56 + docs/backlog.md:45,49-51):
    * every file-set covers exactly one (partition values, key-hash bucket)
    * cell, so a table gets date-range file-set pruning AND
    * touched-cells-only copy-on-write merge simultaneously.
    *
    * CONTRACT for partitioned merge tables: a key's partition values must
    * be stable across updates (e.g. an event's snapshot_date never
    * changes). Merge routes rewrites by the (partition, bucket) cells of
    * the UPDATE rows — the same contract as a Delta MERGE whose condition
    * includes a partition predicate; a row whose partition value moved
    * must be deleted from the old partition first. */
  final case class BucketSpec(keys: Seq[String], numBuckets: Int,
                              partitionKeys: Seq[String] = Nil) {
    require(numBuckets > 0, "numBuckets must be positive")
    // cell names zero-pad bucket ids to 5 digits (lpad TRUNCATES above
    // that, which would silently desynchronize readForKeys' bucket
    // pruning from the written names); 99999 buckets ≈ 1 GB rewrite
    // granularity at 100 TB — far past any sensible setting
    require(numBuckets <= 99999, "numBuckets must be <= 99999")
    require(keys.intersect(partitionKeys).isEmpty,
      "partitionKeys must be disjoint from bucket keys")
    def toJson: String = MetaJson.render(MetaJson.obj("keys" -> keys,
      "numBuckets" -> numBuckets, "partitionKeys" -> partitionKeys))
  }
  object BucketSpec {
    def parse(s: String): BucketSpec = MetaJson.decode(s, "bad bucket spec") { n =>
      BucketSpec(MetaJson.strs(n, "keys"),
        Math.toIntExact(MetaJson.long(n, "numBuckets")),
        MetaJson.strs(n, "partitionKeys"))
    }
  }
}
