package graft.streaming

import graft.tables.VersionedTable

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => ConnOffset}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graft.StreamShim
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

/** Structured Streaming source over a [[VersionedTable]] — the Delta
  * streaming-source analog the reference's Auto Loader flows imply
  * (docs/backlog.md:68-71: "Structured Streaming ... into bronze"
  * consumed downstream): the version log IS the offset log, so a table
  * doubles as a replayable stream.
  *
  *   spark.readStream.format("graft-table").load(root)            // rows
  *   spark.readStream.format("graft-table")
  *     .option("readChangeFeed", "true").load(root)               // CDF
  *
  * Offsets are committed versions (`LongOffset(version)`); micro-batch
  * (start, end] is [[VersionedTable.readAddedBetween]] — exactly the
  * file-sets those versions appended, O(new data) per batch regardless
  * of table size — or [[VersionedTable.readChangeFeed]] in CDF mode,
  * which additionally streams row-level updates and deletes from
  * merge/update/delete commits. Batches are version-bounded, so a
  * checkpoint replay returns bit-identical frames (exactly-once with an
  * idempotent sink, the same contract as Delta's source). The initial
  * batch is the table's current snapshot (`startingVersion` = -1,
  * Delta's default); `startingVersion=latest` starts past existing data;
  * `startingTimestamp` starts at the first commit at-or-after the UTC
  * timestamp (mutually exclusive with `startingVersion`);
  * a numeric `startingVersion` starts at that commit (its own changes
  * included). CDF mode's default start replays granular history when
  * every pre-head commit is expressible as row changes, and otherwise
  * bootstraps with the pinned head snapshot AS INSERTS (pre-head
  * overwrite/restore or vacuumed commits cannot reconstruct; Delta's
  * CDF-stream bootstrap shape), streaming granular changes from there.
  * Row-changing commits inside a batch range fail the
  * append-mode stream loudly — stream the change feed for DML tables,
  * or set `skipChangeCommits=true` (Delta's option) to ride across
  * them, delivering only the range's appends (the skipped commits'
  * effects never reach the sink — the consumer opted out of changes).
  * Column-mapping DDL (RENAME/DROP COLUMN) is metadata-only: a RENAME
  * landing under a running query reverse-maps each batch through the
  * rename chain back to the declared names, so the stream rides across
  * the DDL in one run (a restart re-declares the new names from there);
  * a DROP of a declared column stops with restart guidance. The source
  * also records a retention-floor pin on the table (named
  * `stream:<checkpoint>`, advanced per batch/commit) so VACUUM cannot
  * sever the replay range — `pinRetention=false` opts out.
  *
  * V1 `Source` (the API Delta shipped on for years) rather than a DSv2
  * `MicroBatchStream` deliberately: `getBatch` returns a DataFrame, so
  * the parquet scan keeps its pushdown/codegen path with zero custom
  * reader code — at 100 TB the scan IS the cost, and it's Spark's own. */
final class GraftTableSource(table: VersionedTable, cdf: Boolean,
                             startingVersion: Option[String],
                             maxVersionsPerTrigger: Option[Long],
                             metadataPath: String,
                             maxBytesPerTrigger: Option[Long] = None,
                             startingTimestamp: Option[String] = None,
                             skipChangeCommits: Boolean = false,
                             pinRetention: Boolean = true)
    extends Source
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  require(startingVersion.isEmpty || startingTimestamp.isEmpty,
    "graft-table source: startingVersion and startingTimestamp are " +
      "mutually exclusive")

  /** Version whose data precedes the stream: -1 streams the snapshot
    * first; `latest` pins to the log head at source creation;
    * `startingTimestamp` resolves to the first commit AT OR AFTER the
    * timestamp, its own changes included (Delta's semantics) — a
    * timestamp past the head means "only future commits". A start
    * resolving to version 0 — numeric `startingVersion=0` or a
    * timestamp at/before the first commit — is the default bootstrap:
    * the initial batch is the CURRENT snapshot, not a commit-by-commit
    * replay, so pre-head history (e.g. rows an overwrite replaced)
    * never re-surfaces and non-append commits before the head don't
    * fail the stream; from version 1 up the range is a true replay and
    * row-changing commits in it fail append-mode loudly. */
  private val baseVersion: Long = (startingVersion, startingTimestamp) match {
    case (Some("latest"), _) => table.latestVersion.getOrElse(-1L)
    case (Some(v), _)        => v.toLong - 1
    case (None, Some(ts)) =>
      val millis = graft.tables.GraftSql.parseTsUtc(ts)
      table.history.find(_.tsMillis >= millis)
        .map(_.version - 1)
        .getOrElse(table.latestVersion.getOrElse(-1L))
    case (None, None) => -1L
  }

  /** Highest version already handed to a batch — the admission floor
    * for rate limiting. Persisted under the source's own checkpoint
    * metadata dir (FileStreamSource's pattern) so the clamp cannot
    * regress below a committed offset after a restart: the file is
    * written in getBatch, i.e. strictly after the engine logged that
    * batch's end offset, and an uncommitted tail batch is replayed by
    * the engine (re-advancing this) before any new getOffset.
    *
    * `metadataPath` arrives as a Hadoop URI string (`file:/...`,
    * `hdfs://...`, `s3a://...`), so it MUST be resolved through the
    * Hadoop FileSystem API — java.nio would treat the scheme-qualified
    * form as a relative path and scatter state under the driver's CWD,
    * and couldn't reach a remote checkpoint at all. */
  private val servedPath =
    new org.apache.hadoop.fs.Path(metadataPath, "graft-served")
  private def servedFs(): org.apache.hadoop.fs.FileSystem =
    servedPath.getFileSystem(table.spark.sessionState.newHadoopConf())
  @volatile private var served: Long = {
    try {
      val fs = servedFs()
      val in = fs.open(servedPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    } catch { case _: Throwable => baseVersion }
  }
  private def persistServed(): Unit = {
    val fs = servedFs()
    val tmp = new org.apache.hadoop.fs.Path(servedPath.getParent,
      s".graft-served-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(served.toString.getBytes("UTF-8")) finally out.close()
    // overwriting rename: atomic on HDFS/local; on stores without atomic
    // rename the worst case is a stale floor, which only weakens rate
    // limiting (correctness never depends on this file)
    fs.delete(servedPath, false)
    if (!fs.rename(tmp, servedPath)) fs.delete(tmp, false)
  }

  /** Default-start CDF bootstrap decision, made ONCE at source init:
    * when the backlog (−1, head] is not expressible as row changes
    * (pre-head overwrite/restore, vacuumed change sets), the stream
    * starts with the pinned head snapshot AS INSERTS — and the first
    * offset is clamped to at least that head so rate caps can never
    * split the inexpressible range into a later, fatal granular read.
    * Mid-stream inexpressible commits (landing AFTER init) stay fatal
    * by design: a snapshot re-delivery would duplicate already-served
    * rows. Two cost levers vs a plan-construction probe: a restart
    * whose persisted served floor is already past the bootstrap skips
    * the decision entirely (getBatch's own try/catch keeps a REPLAYED
    * pre-floor batch on the same snapshot fallback, deterministic
    * because history below its offset is immutable), and the fresh
    * start probes via [[VersionedTable.changeFeedExpressible]] — log
    * metadata + file existence, no scan arms, no schema inference. */
  private val bootstrapFloor: Option[Long] =
    if (!cdf || baseVersion != -1L || served > baseVersion) None
    else table.latestVersion.filterNot(h => table.changeFeedExpressible(-1L, h))

  override val schema: StructType = GraftTableSource.schemaFor(table, cdf)

  /** The current log head, clamped two ways: never below the starting
    * pin, and — with `maxVersionsPerTrigger` — never more than N
    * versions past what previous batches served, so a backlogged stream
    * drains in bounded micro-batches instead of one giant catch-up
    * batch (Delta's maxFilesPerTrigger motivation). Returning the pin
    * itself when no data follows it matters: the resulting empty first
    * batch writes the offset into the checkpoint, so a
    * `startingVersion=latest` pin survives restarts instead of silently
    * re-pinning to a newer head (None would record nothing). */
  override def getOffset: Option[V1Offset] =
    table.latestVersion.flatMap { v =>
      // a numeric startingVersion past the current head means "wait for
      // that commit to appear" (Delta's start-from-a-future-version
      // pattern) — no batch yet, rather than a getBatch crash on a
      // version that doesn't exist
      if (v < baseVersion) None
      else {
        // the bootstrap floor keeps the snapshot-as-inserts first batch
        // whole under maxVersions/maxBytesPerTrigger
        val floor = math.max(served,
          math.max(baseVersion, bootstrapFloor.getOrElse(-1L)))
        val byVersions = maxVersionsPerTrigger
          .map(n => math.min(v, floor + n)).getOrElse(v)
        // byte-based admission (Delta's maxBytesPerTrigger): admit
        // versions while their ADDED bytes fit the cap, always at least
        // one — a giant single commit still drains (soft cap, as Delta)
        val capped = maxBytesPerTrigger.filter(_ => byVersions > floor)
          .map { maxB =>
            var end = floor; var acc = 0L; var go = true
            while (go && end < byVersions) {
              val b = addedBytes(end + 1)
              if (end == floor || acc + b <= maxB) { acc += b; end += 1 }
              else go = false
            }
            end
          }.getOrElse(byVersions)
        Some(LongOffset(math.max(capped, baseVersion)))
      }
    }

  /** Added-bytes per version, memoized — version contents are immutable,
    * so each version's listing happens once per source instance. The
    * version→entry map is cached too (rebuilt only when a wanted version
    * is newer than the cache): per-version linear history scans would
    * make a long backlog's catch-up O(backlog × history) driver work. */
  private val addedBytesCache =
    scala.collection.mutable.HashMap.empty[Long, Long]
  private var histByVersion = Map.empty[Long, VersionedTable.LogEntry]
  private def addedBytes(v: Long): Long = addedBytesCache.synchronized {
    addedBytesCache.getOrElseUpdate(v, {
      if (!histByVersion.contains(v))
        histByVersion = table.history.map(e => e.version -> e).toMap
      table.addedBytesAt(v, histByVersion)
    })
  }

  // --- admission control (the FileStreamSource shape: a V1 Source that
  // also implements the DSv2 limit interfaces, so Trigger.AvailableNow
  // drains a backlog to a pinned target in MULTIPLE rate-limited batches
  // instead of the generic wrapper's single snapshot-and-stop)

  /** Log head pinned at AvailableNow query start: the run ends when the
    * stream reaches it, however many capped batches that takes. */
  @volatile private var availableNowTarget: Option[Long] = None

  // an EMPTY table still pins a target (the base version): leaving None
  // would let an AvailableNow run on a just-created table chase every
  // commit landing during the run instead of stopping at "now"
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(table.latestVersion
      .map(v => math.max(v, baseVersion)).getOrElse(baseVersion))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: ConnOffset, limit: ReadLimit): ConnOffset = {
    // the engine hands us the committed start — fold it into the
    // admission floor so a restarted query resumes its clamp exactly
    Option(start).map(_.json.toLong).foreach(s => served = math.max(served, s))
    getOffset match {
      case Some(LongOffset(capped)) =>
        val end = availableNowTarget.map(math.min(capped, _)).getOrElse(capped)
        // an empty-at-start AvailableNow run pins target -1 ("nothing to
        // process"); a commit landing DURING the run must not produce a
        // -1 end offset — there is no version -1 to batch, and the run's
        // contract is to stop at "now" anyway
        if (end < 0L) null else LongOffset(end)
      case _ => null
    }
  }

  override def reportLatestOffset(): ConnOffset =
    table.latestVersion.map(v => LongOffset(math.max(v, baseVersion))).orNull

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val lo = start.map(_.json.toLong).getOrElse(baseVersion)
    val hi = end.json.toLong
    if (hi > served) { served = hi; persistServed() }
    // retention floor on the source table: the engine may replay THIS
    // batch after a restart, so vacuum must keep (lo, head] readable —
    // the pin (named by the checkpoint, so SHOW PINS identifies the
    // consumer) sits at the batch's start until [[commit]] advances it.
    // Best-effort: a read-only mount must not fail the batch; an
    // unpinned stream just keeps the pre-pin behavior (retention can
    // outrun it). `pinRetention=false` opts out entirely.
    setRetentionPin(math.max(lo, 0L))
    val df =
      if (cdf) {
        // default-start bootstrap: granular history is richer and is
        // delivered when expressible; a pre-head overwrite/restore
        // (or vacuumed early commits) cannot be reconstructed as row
        // changes, so the initial batch degrades to the PINNED
        // snapshot as inserts (Delta's CDF-stream bootstrap shape) —
        // deterministic under replay, since history below `hi` is
        // immutable, and granular changes stream from `hi` onward.
        // The init-time [[bootstrapFloor]] decision governs fresh
        // starts; the try/catch keeps REPLAYED pre-floor checkpoint
        // batches (hi below the current head) on the same fallback.
        def snapshotAsInserts(): DataFrame = {
          // hi is an offset the engine logged for THIS table, and log
          // entries are never pruned (vacuum reclaims data files, not
          // history) — a miss means the checkpoint and the table no
          // longer agree; serving epoch-0 timestamps would hide that
          val ts = table.history.find(_.version == hi)
            .map(_.tsMillis).getOrElse(sys.error(
              s"graft-table source: checkpointed offset v$hi has no log " +
                s"entry at ${table.root} — the checkpoint does not belong " +
                "to this table (recreated table or wrong checkpointLocation)"))
          table.readVersion(hi)
            .withColumn("_change_type",
              org.apache.spark.sql.functions.lit("insert"))
            .withColumn("_commit_version",
              org.apache.spark.sql.functions.lit(hi))
            .withColumn("_commit_timestamp",
              org.apache.spark.sql.functions.lit(
                new java.sql.Timestamp(ts)))
        }
        if (lo == -1L) {
          if (bootstrapFloor.isDefined) snapshotAsInserts()
          else
            try table.readChangeFeed(lo, Some(hi))
            catch { case _: graft.tables.CdfNotExpressible =>
              snapshotAsInserts()
            }
        } else table.readChangeFeed(lo, Some(hi))
      }
      // skipChangeCommits (Delta's option): an append-mode stream rides
      // across delete/update/merge/overwrite commits, delivering only
      // the range's appends — the consumer has opted out of changes
      else table.readAddedBetween(lo, hi, onlyAppends = skipChangeCommits)
    // Column-mapping DDL landing AFTER this query declared its schema:
    // a RENAME is metadata-only (same physical column, new name), so
    // the batch — which reads under the table's CURRENT names —
    // reverse-maps through the rename chain back to the DECLARED names
    // and the stream rides across the DDL in one run (Delta needs
    // schemaTrackingLocation + a restart for the same boundary). A
    // restarted query re-declares from the current mapping and streams
    // the new names from there. The chain walk starts at the declared
    // name, so pre-declaration renames fall through harmlessly; a NEWER
    // same-named column (rename n→c, then ADD COLUMN n) is dropped
    // before the re-bind — the declared name must keep meaning the
    // column the query started with, never a later impostor.
    val renames = table.columnRenames // (version, from, to), commit order
    def currentNameOf(declared: String): String =
      renames.foldLeft(declared) { case (cur, (_, f, t)) =>
        if (f == cur) t else cur }
    val rebound = schema.fieldNames.foldLeft(df) { (acc, n) =>
      val cur = currentNameOf(n)
      if (cur == n || !acc.columns.contains(cur)) acc
      else acc.drop(n).withColumnRenamed(cur, n)
    }
    // a DROPPED declared column has no data to reconstruct — stop with
    // guidance instead of an unresolved-column error
    val missing = schema.fieldNames.filterNot(rebound.columns.contains)
    if (missing.nonEmpty) sys.error(
      s"schema of ${table.root} changed under this query (column-mapping " +
        s"DDL; now missing: ${missing.mkString(",")}). Restart the query " +
        "to adopt the new schema — or stream the change feed, which also " +
        "projects across the DDL.")
    // project to the declared schema: field order out of the feed is not
    // part of its contract, the source's schema is
    StreamShim.asStreaming(
      rebound.select(
        schema.fieldNames.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*))
  }

  /** Batch committed: the replay window now starts at `end`, so the
    * retention floor advances there — history behind it is released to
    * vacuum while (end, head] stays protected for the next batch. */
  override def commit(end: V1Offset): Unit =
    setRetentionPin(math.max(end.json.toLong, 0L))
  override def stop(): Unit = ()

  private def setRetentionPin(v: Long): Unit =
    if (pinRetention)
      try table.setPin(s"stream:$metadataPath", v)
      catch { case scala.util.control.NonFatal(_) => () }
  override def toString: String =
    s"GraftTableSource[${table.root}${if (cdf) ", cdf" else ""}]"
}

object GraftTableSource {
  def schemaFor(table: VersionedTable, cdf: Boolean): StructType = {
    val data = table.read.schema
    if (!cdf) data
    else StructType(data.fields ++ Seq(
      StructField("_change_type", StringType, nullable = true),
      StructField("_commit_version", LongType, nullable = true),
      StructField("_commit_timestamp", TimestampType, nullable = true)))
  }
}

/** Streaming sink half: `writeStream.format("graft-table").start(root)`
  * — every micro-batch lands through the table's transactional write
  * path with an idempotent-txn marker `(appId, batchId)`, so a replayed
  * batch after a crash is a metadata no-op: end-to-end exactly-once
  * when paired with any replayable source, with no foreachBatch
  * boilerplate (Delta's sink contract). Append mode appends; Complete
  * mode overwrites the snapshot per batch; `mergeKeys` upserts
  * Update-mode batches by key; `dedupKeys` is ingest dedup — keep the
  * FIRST row ever seen per (content-hash) key via a bucket-pruned
  * keep-existing merge, so at-least-once upstreams land
  * exactly-once-by-content; `applyChanges` replicates a CDF stream
  * (DLT APPLY CHANGES INTO); `aggregate = "fn:col:out;…"` maintains a
  * rollup from a CDF stream as signed deltas (streaming materialized
  * view, O(changed rows) per trigger), optionally sliced by
  * `aggregateFilter = "<pred>"` (the streaming face of a filtered MV —
  * per-image filtering makes boundary-crossing updates absorb as the
  * correct signed delta). Specs that cannot retract — min/max, hll
  * (approx-distinct sketches), companion-less sums — run an
  * INSERT-ONLY combine path instead (least/greatest, register union),
  * valid over append-only sources; a retraction fails the query
  * loudly.
  *
  * '''Join-shaped streaming MVs''' (`joinDims = "root[;root…]"`,
  * `joinKeys = "lk=rk[,…][|…]"`): each micro-batch's fact change rows
  * join the PINNED dim snapshots before the signed-delta merge — the
  * fixed-dims identity ΔF ⋈ D* from [[graft.plans.JoinMv]], continuously
  * maintained: a star rollup whose fact side is a stream. Dim pins
  * resolve once — `joinDimVersions = "v[;v…]"` explicitly, else each
  * dim's head at first use — and are RECORDED in the MV's properties
  * BEFORE the first merge, so every later batch, restart, and crash
  * replay joins the identical dim snapshots (re-pinning would make
  * replayed deltas disagree with what already landed). A dim that must
  * move re-pins through the batch refresher's dim-side slices, not by
  * restarting the stream.
  *
  * The txn app id is the query's
  * checkpoint location (stable across restarts) unless a `txnAppId`
  * option pins it explicitly.
  *
  * '''Single-writer lease''': every stateful mode (aggregate /
  * applyChanges / dedupKeys / mergeKeys / autoCompactEvery) claims a
  * per-table sink-owner lease before its first batch — restarts of the
  * same checkpoint re-claim silently, a second stream refuses loudly
  * before writing anything, `sinkOwnerTakeover = "true"` re-points the
  * lease explicitly. Plain append/complete sinks stay multi-writer
  * (concurrent appends are OCC-safe).
  *
  * '''Trigger latency''' (`splitMinPartitionSize = "<bytes>"`, e.g.
  * `"64kb"`): the staged-split write REBALANCEs and AQE coalesces a
  * tiny micro-batch into one task — the right default on a shared
  * cluster, at ~+0.2s/trigger wall (adjudicated, r16). A
  * latency-critical sink lowers AQE's coalesce floor for ITS OWN
  * writes only; the conf is set around each batch and restored after,
  * so no other query in the session is un-coalesced. */
final class GraftTableSink(root: String, appId: String,
                           partitionBy: Seq[String], complete: Boolean,
                           mergeKeys: Seq[String], applyChanges: Boolean,
                           aggregate: Option[String],
                           aggFilter: Option[String],
                           autoCompactEvery: Option[Long],
                           joinDims: Seq[String] = Nil,
                           joinKeys: Seq[Seq[(String, String)]] = Nil,
                           joinPins: Option[Seq[Long]] = None,
                           dedupKeys: Seq[String] = Nil,
                           ownerTakeover: Boolean = false,
                           numBuckets: Int =
                             graft.tables.VersionedTable.DefaultMergeBuckets,
                           splitMinPartitionSize: Option[String] = None)
    extends Sink {

  /** Stateful modes are single-writer per table: claim the sink lease
    * before the first batch writes anything (once per sink instance —
    * the claim is idempotent for this appId, so restarts re-claim
    * silently; a SECOND stream under a different checkpoint refuses
    * loudly, or takes over with `sinkOwnerTakeover=true`). Plain
    * append/complete sinks skip the lease — concurrent appends are
    * OCC-safe by design. */
  private val needsLease = aggregate.nonEmpty || applyChanges ||
    dedupKeys.nonEmpty || mergeKeys.nonEmpty || autoCompactEvery.nonEmpty
  @volatile private var leased = false
  // one-time aggregate-table heal per sink instance (see addBatch)
  @volatile private var aggSwept = false

  /** The pinned dim sides of a join-shaped streaming MV, resolved from
    * the MV's recorded properties (every batch after the first) or
    * recorded now (first batch, BEFORE any data lands — crash-safe:
    * the pins commit before the delta that uses them, so a replay can
    * never join a different dim snapshot). Immutable once recorded, so
    * the resolved relations cache for the life of the sink — no
    * per-trigger property reads or scan re-resolution on the hot path. */
  @volatile private var cachedDimSides
      : Seq[(DataFrame, Seq[(String, String)])] = null
  private def pinnedDimSides(mv: VersionedTable)
      : Seq[(DataFrame, Seq[(String, String)])] = {
    if (cachedDimSides != null) return cachedDimSides
    val spark = mv.spark
    val props = mv.properties
    val recorded = props.get(GraftTableSink.StreamDimVersionProp)
      .map(_.split(";").toSeq.map(_.toLong))
    // an explicit joinDimVersions on a restart must AGREE with the
    // recorded pins — silently keeping the old ones while the operator
    // believes new pins are in effect is the worst of both worlds
    (recorded, joinPins) match {
      case (Some(rec), Some(opt)) => require(rec == opt,
        s"graft-table sink: joinDimVersions (${opt.mkString(";")}) " +
          s"differ from the pins recorded at $root " +
          s"(${rec.mkString(";")}) — the recorded pins govern this MV; " +
          "use a fresh MV root to re-pin")
      case _ => ()
    }
    val pins = recorded.getOrElse {
      val resolved = joinPins.getOrElse(joinDims.map { r =>
        VersionedTable(spark, r).latestVersion.getOrElse(sys.error(
          s"graft-table sink: joinDims table $r is empty — a pinned " +
            "dim needs at least one committed version"))
      })
      mv.setProperties(Map(
        GraftTableSink.StreamDimProp -> joinDims.mkString(";"),
        GraftTableSink.StreamKeysProp -> keysRepr,
        GraftTableSink.StreamDimVersionProp -> resolved.mkString(";")))
      resolved
    }
    require(pins.length == joinDims.length,
      s"graft-table sink: ${joinDims.length} joinDims but " +
        s"${pins.length} recorded dim pins at $root — the MV was built " +
        "by a different join definition; use a fresh MV root")
    // the pins are positional and the KEYS are part of the definition:
    // a restart naming different dims (same count) or different key
    // pairs must not silently maintain a different join than what the
    // landed batches were computed under
    props.get(GraftTableSink.StreamDimProp).foreach { rec =>
      require(rec == joinDims.mkString(";"),
        s"graft-table sink: joinDims differ from the definition " +
          s"recorded at $root (recorded `$rec`) — use a fresh MV root " +
          "to change the join shape")
    }
    props.get(GraftTableSink.StreamKeysProp) match {
      case Some(rec) => require(rec == keysRepr,
        s"graft-table sink: joinKeys differ from the definition " +
          s"recorded at $root (recorded `$rec`, got `$keysRepr`) — use " +
          "a fresh MV root to change the join shape")
      case None if recorded.isDefined =>
        // pins recorded by an earlier release that didn't record keys:
        // backfill with THIS restart's keys so the guard arms from here
        mv.setProperties(Map(GraftTableSink.StreamKeysProp -> keysRepr))
      case None => () // first batch records everything together above
    }
    cachedDimSides = joinDims.zip(pins).zip(joinKeys).map {
      case ((r, v), ks) => (VersionedTable(spark, r).readVersion(v), ks)
    }
    cachedDimSides
  }

  /** The joinKeys in [[graft.plans.JoinMv.KeysProp]] format — the
    * definition string recorded on the MV and compared on restart. */
  private def keysRepr: String = graft.plans.JoinMv.formatKeys(joinKeys)
  // The trigger-latency escape hatch (per-sink, not session-global):
  // the table write's staged split REBALANCEs and AQE coalesces a
  // kilobyte-scale micro-batch to ONE task — right for a shared
  // cluster (32 scheduled tasks per tiny trigger is the anti-pattern),
  // but a latency-critical pipeline can buy back parallelism by
  // lowering AQE's coalesce floor FOR THIS SINK'S WRITES only. The
  // session conf is set around the batch body and restored after it —
  // micro-batches of one sink run serially, so the scope is exactly
  // the sink's own jobs, and every other query in the session keeps
  // the default coalescing.
  private def withSplitFloor[A](spark: org.apache.spark.sql.SparkSession)
                               (f: => A): A =
    splitMinPartitionSize.fold(f) { v =>
      val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
      val old = spark.conf.getOption(key)
      spark.conf.set(key, v)
      try f
      finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }

  override def addBatch(batchId: Long, data: DataFrame): Unit =
    withSplitFloor(data.sparkSession) {
    val table = VersionedTable(data.sparkSession, root)
    if (needsLease && !leased) {
      table.claimSinkOwner(appId, takeover = ownerTakeover)
      leased = true
    }
    val batch = StreamShim.asBatch(data)
    if (aggregate.nonEmpty) {
      // Continuous MV maintenance over a CDF stream: each micro-batch's
      // change rows land as SIGNED deltas into the aggregate table
      // (REFRESH MATERIALIZED VIEW's cdf-rung partial,
      // GraftSql.mvRetract, absorbed by GraftSql.applyCdfDelta) — the
      // streaming form of incremental-MV maintenance: O(changed rows)
      // per trigger, retractions included,
      // exactly-once via the markered merge — the emptied-group delete
      // and sum NULL-fix ride INSIDE that one commit (PostCombine), so
      // a crash replay no-ops the whole trigger atomically and no
      // post-merge probe reads of the table run per trigger.
      require(batch.columns.contains("_change_type"),
        "graft-table sink: aggregate mode consumes a change-feed stream " +
          "(.option(\"readChangeFeed\", \"true\") on the source)")
      val filtered = aggFilter.fold(batch)(p =>
        batch.filter(org.apache.spark.sql.functions.expr(p)))
      // star shape: the fact delta joined to the pinned dims IS the
      // rollup's change slice (ΔF ⋈ D*) — signs ride the fact rows
      val sliced =
        if (joinDims.isEmpty) filtered
        else graft.plans.JoinMv.joinAll(filtered, pinnedDimSides(table))
      val aggs = graft.tables.GraftSql.parseAggSpecs(aggregate.get)
      if (graft.tables.GraftSql.cdfMaintainable(aggs)) {
        // one-time heal per sink instance: a slice committed by a
        // PRE-FOLD binary whose process died between the markered merge
        // and the then-separate phantom repair replays as a txn no-op
        // here — and a sink table has no REFRESH entry to sweep it, so
        // query start is the one heal point left. Probe-guarded: a
        // clean table pays two short reads on the first trigger only.
        if (!aggSwept && table.exists) {
          graft.tables.GraftSql.sweepCdfPhantoms(table, aggs)
          aggSwept = true
        }
        graft.tables.GraftSql.applyCdfDelta(table, sliced,
          mergeKeys, aggs,
          txn = Some((appId, batchId)), partitionBy = partitionBy,
          numBuckets = numBuckets)
      }
      else {
        // min/max/hll specs cannot absorb retractions as signed deltas,
        // but an INSERT-ONLY stream (a CDF over an append-only table —
        // the shape every bronze landing produces) absorbs every agg
        // through its combine: least/greatest for min/max, register
        // union for hll sketches, addition for sum/count. A retraction
        // anywhere fails the query loudly — raised inside the batch's
        // one aggregation pass (the absorb step's probe), since there is
        // no source table here to recompute from, and a wrong rollup
        // must never land quietly.
        import org.apache.spark.sql.functions.{col, lit, raise_error, when}
        graft.tables.GraftSql.registerMvFunctions(sliced.sparkSession)
        val inserts = sliced.filter(
          when(col("_change_type") === "insert", lit(true))
            .otherwise(raise_error(lit("graft-table sink: this aggregate " +
              "spec has min/max or approx_count_distinct — those cannot " +
              "retract, so the stream must be insert-only (append-only " +
              "source); got update/delete change rows"))))
        graft.plans.Maintained.absorb(table,
          graft.tables.GraftSql.mvAggregate(mergeKeys, aggs)(inserts),
          mergeKeys, graft.tables.GraftSql.mvCombines(aggs),
          txn = Some((appId, batchId)), partitionBy = partitionBy,
          numBuckets = numBuckets)
        ()
      }
    } else if (applyChanges) {
      // APPLY CHANGES INTO (DLT) over a CDF stream: the micro-batch
      // carries _change_type/_commit_version rows from a change-feed
      // source; keep each key's LATEST change (commit order), turn
      // deletes into merge tombstones, and land everything through ONE
      // bucket-COW merge — inserts/updates upsert, deletes remove, all
      // under the same idempotent txn marker. The replica therefore
      // converges to the source table however the changes were batched.
      import org.apache.spark.sql.functions.col
      val changes = batch.filter(col("_change_type") =!= "update_preimage")
      // latestChangePerKey, not a bare version order: one replace_where
      // commit emits delete(K) AND insert(K) — the version tie must
      // resolve to the commit's post-state or replaced keys would
      // nondeterministically vanish from the replica
      val latest = graft.ops.Keyed.latestChangePerKey(changes, mergeKeys,
        "_commit_version", "_change_type")
      val payload = latest
        .withColumn(graft.ops.Merge.DeleteCol, col("_change_type") === "delete")
        .drop("_change_type", "_commit_version", "_commit_timestamp")
      table.merge(payload, mergeKeys, numBuckets = numBuckets,
        partitionBy = partitionBy, txn = Some((appId, batchId)))
    } else if (dedupKeys.nonEmpty) {
      // Ingest dedup (the streaming face of the bronze dup-payload
      // guard): keep the FIRST row ever seen per key, drop every later
      // delivery — at-least-once upstreams (replayed pollers, repeated
      // crawls) land exactly-once-by-content. A keep-existing merge,
      // not an anti-join append: the bucket-COW merge probes only the
      // hash buckets the batch's keys land in (O(batch × bucket)),
      // where an anti-join against the table would shuffle or scan the
      // full corpus every trigger at 100 TB. Within a batch
      // dropDuplicates picks arbitrarily — with a content-hash key the
      // candidate rows are byte-identical, so the pick is
      // value-deterministic (use a wider key only if the payload
      // genuinely varies per key, in which case latest-wins mergeKeys
      // is the right mode instead).
      // NULL keys cannot dedup: SQL MERGE's === never matches NULL, so
      // every redelivery of a NULL-keyed row would land again. The
      // guard rides INSIDE the merge's own staging job as a raise_error
      // projection — zero extra batch passes, and a crash-replayed
      // batch short-circuits on its txn marker before the guard would
      // even evaluate. In-batch duplicates need no explicit pass:
      // merge dedups its update batch by key internally.
      import org.apache.spark.sql.functions.{col, raise_error, when, lit}
      val guarded = dedupKeys.foldLeft(batch)((df, k) =>
        df.withColumn(k,
          when(col(k).isNull, raise_error(lit(
            "graft-table sink: NULL dedup key in the batch — NULL keys " +
              "cannot keep-first (MERGE never matches NULL); coalesce " +
              "or filter them upstream")).cast(df.schema(k).dataType))
            .otherwise(col(k))))
      val keep = batch.columns.filterNot(dedupKeys.contains).map(c =>
        c -> ((t: org.apache.spark.sql.Column,
               u: org.apache.spark.sql.Column) => t)).toMap
      table.merge(guarded, dedupKeys, numBuckets = numBuckets,
        updateExprs = keep, partitionBy = partitionBy,
        txn = Some((appId, batchId)))
      ()
    } else if (mergeKeys.nonEmpty)
      // Update-mode micro-batches carry the CHANGED rows of a streaming
      // aggregation; merging them by key keeps the table at
      // one-row-per-key (Delta's foreachBatch-merge idiom as a sink
      // option). Bucket-COW merge rewrites only touched cells — O(batch
      // × bucket), not O(table) — and the txn marker keeps a replayed
      // batch a no-op, so exactly-once holds on the merge path too.
      table.merge(batch, mergeKeys, numBuckets = numBuckets,
        partitionBy = partitionBy, txn = Some((appId, batchId)))
    else if (complete) table.overwrite(batch, partitionBy, txn = Some((appId, batchId)))
    else table.append(batch, partitionBy, txn = Some((appId, batchId)))
    // THE streaming-sink pathology at scale is small files: one
    // file-set per micro-batch, thousands per day. autoCompact folds
    // the sub-threshold tail every Nth batch — compactSmall is O(small
    // files) and commits nothing when there is nothing to fold, and the
    // single-writer stream owns the table, so the read-modify-write
    // cannot race another committer. Replayed batches skip it (their
    // append was a no-op; recompacting would be wasted work, not harm).
    autoCompactEvery.foreach { n =>
      if (!complete && batchId % n == n - 1)
        table.compactSmall(data.sparkSession.conf
          .getOption(graft.tables.GraftSql.SmallFileBytesConf)
          .map(_.toLong).getOrElse(graft.tables.GraftSql.DefaultSmallFileBytes))
    }
  }
  override def toString: String = s"GraftTableSink[$root]"
}

object GraftTableSink {
  /** Join-shaped streaming MV definition, recorded on the MV table:
    * `;`-joined dim roots, the per-dim key lists (KeysProp format),
    * and the covered (pinned) dim versions. */
  val StreamDimProp = "graft.mv.stream.dim"
  val StreamKeysProp = "graft.mv.stream.keys"
  val StreamDimVersionProp = "graft.mv.stream.dimVersion"
}

/** `format("graft-table")` registration (META-INF service file). */
final class GraftTableSourceProvider extends StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-table"

  private def tableFor(sqlContext: SQLContext,
                       parameters: Map[String, String]): VersionedTable = {
    val path = parameters.getOrElse("path",
      sys.error("graft-table source: .load(<table root>) is required"))
    val t = VersionedTable(sqlContext.sparkSession, path)
    require(t.exists, s"graft-table source: no table at $path " +
      "(the source needs an existing table for its schema, like Delta)")
    t
  }

  private def cdf(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.trim.equalsIgnoreCase("true"))

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(),
      GraftTableSource.schemaFor(tableFor(sqlContext, parameters), cdf(parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    {
    val skip = parameters.get("skipChangeCommits")
      .exists(_.trim.equalsIgnoreCase("true"))
    require(!skip || !cdf(parameters),
      "graft-table source: skipChangeCommits and readChangeFeed are " +
        "contradictory — the feed EXISTS to deliver changes")
    new GraftTableSource(tableFor(sqlContext, parameters), cdf(parameters),
      parameters.get("startingVersion"),
      parameters.get("maxVersionsPerTrigger").map(_.toLong).filter(_ > 0),
      metadataPath,
      parameters.get("maxBytesPerTrigger").map(_.toLong).filter(_ > 0),
      parameters.get("startingTimestamp"),
      skipChangeCommits = skip,
      pinRetention = !parameters.get("pinRetention")
        .exists(_.trim.equalsIgnoreCase("false")))
    }

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    val path = parameters.getOrElse("path",
      sys.error("graft-table sink: .start(<table root>) is required"))
    val appId = parameters.get("txnAppId")
      .orElse(parameters.get("checkpointLocation"))
      .getOrElse(sys.error("graft-table sink needs a checkpointLocation " +
        "(or explicit txnAppId) to make batch replays idempotent"))
    val mergeKeys = parameters.get("mergeKeys")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val applyChanges = parameters.get("applyChanges")
      .exists(_.trim.equalsIgnoreCase("true"))
    require(outputMode != OutputMode.Update() || mergeKeys.nonEmpty,
      "graft-table sink in Update mode needs option(\"mergeKeys\", " +
        "\"k1,k2\") — each micro-batch upserts by those keys")
    require(!(outputMode == OutputMode.Complete() && mergeKeys.nonEmpty),
      "graft-table sink: mergeKeys is meaningless in Complete mode " +
        "(every batch already replaces the snapshot)")
    require(!applyChanges || mergeKeys.nonEmpty,
      "graft-table sink: applyChanges needs option(\"mergeKeys\",\"k1,k2\") " +
        "— changes apply by key")
    val aggregate = parameters.get("aggregate").map(_.trim).filter(_.nonEmpty)
    require(aggregate.isEmpty || mergeKeys.nonEmpty,
      "graft-table sink: aggregate mode needs option(\"mergeKeys\",\"g1,g2\") " +
        "— the MV's group columns")
    require(aggregate.isEmpty || !applyChanges,
      "graft-table sink: aggregate and applyChanges are alternative modes")
    // fail FAST on the spec itself: parse it here, at query start — not
    // inside addBatch when the first micro-batch arrives minutes later.
    // parseAggSpecs throws on a malformed string. Maintainability picks
    // the runtime path: cdfMaintainable specs absorb retractions as
    // signed deltas; anything else (min/max, hll, companion-less sums)
    // runs the insert-only combine path, which fails loudly at the
    // first batch carrying a retraction.
    aggregate.foreach { spec =>
      graft.tables.GraftSql.parseAggSpecs(spec)
      ()
    }
    // optional row predicate — the streaming face of a FILTERED MV: the
    // change feed is filtered per image, so rows crossing the predicate
    // boundary absorb as the correct signed delta. Parsed here so a
    // syntactically-broken predicate fails at query start.
    val aggFilter = parameters.get("aggregateFilter").map(_.trim)
      .filter(_.nonEmpty)
    require(aggFilter.isEmpty || aggregate.nonEmpty,
      "graft-table sink: aggregateFilter needs aggregate mode")
    aggFilter.foreach(
      sqlContext.sparkSession.sessionState.sqlParser.parseExpression)
    // join-shaped streaming MV: pinned dim sides of the aggregate.
    // All shape errors fail HERE, at query start.
    val joinDims = parameters.get("joinDims").map(_.trim).filter(_.nonEmpty)
      .map(_.split(";").toSeq.map(_.trim)).getOrElse(Nil)
    val joinKeys = parameters.get("joinKeys").map(_.trim).filter(_.nonEmpty)
      .map(graft.plans.JoinMv.parseKeySegments).getOrElse(Nil)
    require(joinDims.isEmpty || aggregate.nonEmpty,
      "graft-table sink: joinDims needs aggregate mode (the star " +
        "rollup is an aggregate MV)")
    require(joinDims.length == joinKeys.length,
      s"graft-table sink: ${joinDims.length} joinDims but " +
        s"${joinKeys.length} joinKeys segments — one `lk=rk[,…]` list " +
        "per dim, `|`-joined")
    val joinPins = parameters.get("joinDimVersions").map(_.trim)
      .filter(_.nonEmpty).map(_.split(";").toSeq.map(_.trim.toLong))
    joinPins.foreach(p => require(p.length == joinDims.length,
      s"graft-table sink: ${joinDims.length} joinDims but ${p.length} " +
        "joinDimVersions"))
    // ingest dedup: keep-first by key (content hash) — its own mode
    val dedupKeys = parameters.get("dedupKeys")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    require(dedupKeys.isEmpty ||
      (mergeKeys.isEmpty && aggregate.isEmpty && !applyChanges &&
        outputMode != OutputMode.Complete()),
      "graft-table sink: dedupKeys is its own mode (append-style " +
        "keep-first ingest) — it cannot combine with mergeKeys, " +
        "applyChanges, aggregate, or Complete mode")
    new GraftTableSink(path, appId, partitionColumns,
      complete = outputMode == OutputMode.Complete(),
      mergeKeys = mergeKeys, applyChanges = applyChanges,
      aggregate = aggregate, aggFilter = aggFilter,
      autoCompactEvery = parameters.get("autoCompactEvery")
        .map(_.toLong).filter(_ > 0),
      joinDims = joinDims, joinKeys = joinKeys, joinPins = joinPins,
      dedupKeys = dedupKeys,
      ownerTakeover = parameters.get("sinkOwnerTakeover")
        .exists(_.trim.equalsIgnoreCase("true")),
      // bucket count for the FIRST merge into a fresh target (an
      // existing table's frozen BucketSpec always wins): at 100 TB a
      // first-contact stream must be able to size its cells — the
      // default 16 buckets would freeze ~6 TB cells into the layout
      // fail LOUDLY on a bad value: this option exists for the 100 TB
      // first-contact case, where silently falling back to the default
      // bucket count would freeze a wrong layout into the table
      numBuckets = parameters.get("numBuckets").map { raw =>
        val n =
          try raw.trim.toInt
          catch { case _: NumberFormatException => throw
            new IllegalArgumentException("graft-table sink: numBuckets " +
              s"must be a positive integer (got '$raw')") }
        require(n > 0, "graft-table sink: numBuckets must be a " +
          s"positive integer (got '$raw')")
        n
      }.getOrElse(graft.tables.VersionedTable.DefaultMergeBuckets),
      // trigger-latency knob: AQE's coalesce floor, scoped to THIS
      // sink's writes (see GraftTableSink.withSplitFloor). Validated
      // at query start — a typo'd size must not surface as an AQE
      // planning error minutes later inside the first trigger.
      splitMinPartitionSize = parameters.get("splitMinPartitionSize")
        .map(_.trim).filter(_.nonEmpty).map { raw =>
          try {
            require(org.apache.spark.network.util.JavaUtils
              .byteStringAsBytes(raw) > 0)
            raw
          } catch { case _: Exception => throw
            new IllegalArgumentException("graft-table sink: " +
              "splitMinPartitionSize must be a positive byte size " +
              s"(e.g. '64kb', '1m'); got '$raw'") }
        })
  }
}
