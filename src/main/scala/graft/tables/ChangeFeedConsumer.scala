package graft.tables

import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

/** Pull-model change-feed consumption with a durable position — the
  * batch analog of Delta's CDF streaming reader (`readChangeFeed` option
  * in `spark.readStream`), re-expressed as an availableNow micro-batch:
  * each call processes every commit after the checkpointed position and
  * advances it atomically. Reference intent: the incremental silver→gold
  * maintenance flow (docs/backlog.md:110-113) that the inline MV queries
  * (`q_mv3_cdf_incremental`) perform ad hoc, packaged as the reusable
  * consume loop a scheduler would drive.
  *
  * Delivery contract: the position commits AFTER `f` returns, so a crash
  * between effect and position replays the same version range on the
  * next run — at-least-once by construction. Callers get exactly-once by
  * making `f` idempotent over its (from, to] range: write through
  * [[VersionedTable.merge]]'s `txn` marker keyed on the range's `to`
  * version (the commit ledger recognizes the replayed batch and skips
  * it — the same discipline as the streaming conformers under
  * foreachBatch replay), or any other idempotent sink.
  *
  * Scale: one call reads only the (from, to] change sets — O(changed
  * data), never a table scan — and the folded readChangeFeed plan keeps
  * a many-version catch-up to one scan arm per schema generation, not
  * one per version. The position file is O(1).
  */
object ChangeFeedConsumer {

  /** Process all unconsumed changes of `src`. `f` receives the change
    * relation (CDF columns `_change_type`/`_commit_version`/
    * `_commit_timestamp` included) and the `(fromExclusive, to]` version
    * range it covers. Returns the range processed, or None when already
    * caught up (f is not invoked). First call starts from the beginning
    * (CDC bootstrap: the full current state as inserts plus later
    * changes, exactly [[VersionedTable.readChangeFeed]]'s -1 form). */
  def consumeAvailable(src: VersionedTable, checkpointDir: String)
                      (f: (DataFrame, Long, Long) => Unit): Option[(Long, Long)] = {
    val dir = Paths.get(checkpointDir)
    Files.createDirectories(dir)
    val posFile = dir.resolve("position")
    val last =
      if (Files.exists(posFile)) Files.readString(posFile).trim.toLong
      else -1L
    val latest = src.latestVersion match {
      case Some(v) if v > last => v
      case _ => return None // empty source or caught up
    }
    // Pin the upper bound BEFORE reading: a commit landing between the
    // read and the position write must belong to the NEXT batch, or its
    // rows would be skipped forever.
    // Retention floor on the source (best-effort): a replay after a
    // crash re-reads (last, latest], so vacuum must not reclaim that
    // range's change sets out from under the checkpoint.
    if (last >= 0L)
      try src.setPin(s"cdc:$checkpointDir", last)
      catch { case scala.util.control.NonFatal(_) => () }
    f(src.readChangeFeed(last, Some(latest)), last, latest)
    AtomicFile.replace(posFile, latest.toString)
    Some((last, latest))
  }

  /** Drain: consume repeatedly until caught up (each pass re-reads the
    * log, so commits landing DURING a pass are picked up by the next).
    * Returns the number of batches processed. */
  def drain(src: VersionedTable, checkpointDir: String)
           (f: (DataFrame, Long, Long) => Unit): Int = {
    var n = 0
    while (consumeAvailable(src, checkpointDir)(f).isDefined) n += 1
    n
  }
}
