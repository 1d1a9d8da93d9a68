package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum, when}

import graft.ops.Merge
import graft.tables.{CdfNotExpressible, VersionedTable}

/** The one maintenance driver for every rollup family — exact SQL MVs,
  * join MVs and the HLL, CMS and quantile sketch families. Each family
  * is a [[Rollup]] spec (partial aggregate, per-column combines,
  * optional signed partial, per-side row filter and relation); this
  * object alone decides HOW a refresh catches the rollup up with its
  * sources, numbered as [[RollupDef]] numbers them (0 is the single
  * source or a join's fact, `i` ≥ 1 is dim `i-1`):
  *
  *   - `"noop"`: nothing new on any side, or only data-identical
  *     commits ([[VersionedTable.CdfNoChangeActions]]);
  *   - `"incremental"`: a single source's append-only tail absorbs as
  *     the partial over the added rows, combine-merged (O(appended
  *     rows));
  *   - `"cdf"`: retractions with the change feed on, for families whose
  *     state can retract (sum/count/quant histograms) — the signed
  *     partial over the feed absorbs the same way; `"cdf-dims"` when a
  *     side ≥ 1 moved too: one telescoped slice per moved side;
  *   - `"groups"`: side-0 retractions with the feed on for state that
  *     cannot retract (HLL registers, CMS counters, min/max) — the feed
  *     names the touched groups, only those recompute
  *     ([[mergeTouchedGroups]]);
  *   - `"full"`: anything else — a moved side without a feed, a
  *     feed-inexpressible slice, NULL group keys in a slice, a side ≥ 1
  *     snapshot vacuumed from under its pin, or a side ≥ 1 move that
  *     state without a signed partial cannot absorb.
  *
  * The mode names the rung the sides' history selects: a slice that
  * turns out to carry zero rows (a DML commit that matched nothing, an
  * append a filtered MV's WHERE excludes) keeps its rung's mode and
  * takes no MV commit. Every merge is txn-markered with the covered
  * version of its side, so a crash replay is a ledger no-op. What a
  * rollup covers, and the properties that record it, come from its
  * [[RollupDef]]. */
object Maintained {

  /** A rollup family's on-disk names: covered-version and epoch
    * property keys, txn-app prefix, and the epoch a first CREATE gets
    * (SQL MVs number from 1, the sketch families from 0); `label` is
    * what errors call it. */
  final case class Family(versionProp: String, epochProp: String,
                          txnPrefix: String, firstEpoch: Long, label: String)

  /** Retractable state: a change-feed slice's SIGNED partial, and the
    * repair that rides inside its merge (emptied groups drop, …). */
  final case class Retract(partial: DataFrame => DataFrame,
                           repair: Merge.PostCombine)

  /** One rollup, as its refresh runs it: `defn` is the stored
    * definition (sources, groups, covered versions, epoch); `partial`
    * aggregates a relation into MV-shaped rows (a full recompute is the
    * partial over every side at its head); `combine` folds a partial row
    * into the stored one, per non-key column; `slice(i, rows)` narrows
    * every read of side `i` (a filtered MV's WHERE, a join dim's row
    * filter); `relate(i, rows, pins)` relates side `i`'s rows to every
    * other side read at its version in `pins` — a join spec joins there,
    * one side is its own relation — and may persist `rows`, which the
    * driver unpersists once the slice is absorbed; `afterAppend` runs
    * after a non-empty append absorb with the (txn app, version) of its
    * merge. */
  final case class Rollup(defn: RollupDef, mv: VersionedTable,
                          partial: DataFrame => DataFrame,
                          combine: Map[String, (Column, Column) => Column],
                          retract: Option[Retract] = None,
                          slice: (Int, DataFrame) => DataFrame =
                            (_, rows) => rows,
                          relate: (Int, DataFrame, Seq[Long]) => DataFrame =
                            (_, rows, _) => rows,
                          afterAppend: (String, Long) => Unit =
                            (_, _) => ())

  /** The consumer-pin name a rollup registers on its sources — the
    * rollup's root IS the name, so SHOW PINS identifies the consumer
    * directly. */
  private[graft] def pinName(mv: VersionedTable): String = s"mv:${mv.root}"

  /** Pre-REPLACE sweep shared by all rollup creators: drop the old
    * definition's merge bucketing (the overwrite would try to bucket by
    * a column the new rollup lacks) and every family's definition
    * props ([[RollupDef.keys]]), so a REPLACE never leaves two
    * definitions on one table: REFRESH would dispatch on the stale one
    * against the overwritten data. Epoch props survive on purpose: they
    * namespace each family's txn-marker ledger across re-creates, and
    * resetting one would let a later same-family re-create resume from
    * a dead era's markers. Deliberately fail-loud on a half-finished
    * REPLACE: the sweep runs BEFORE the new materialization, so a
    * creator that throws mid-way leaves the table with its old DATA but no
    * definition — REFRESH then errors ("not a … rollup") until the
    * CREATE OR REPLACE is re-run, which recovers cleanly (the sweep is
    * idempotent). The alternative orderings are both worse: sweeping
    * AFTER the overwrite leaves the OLD definition live on the NEW data
    * (a stale refresher silently corrupting the replacement), and
    * restoring the saved definition on failure cannot also restore the
    * cleared bucket spec, leaving a definition whose merges would
    * mis-route. */
  private[graft] def clearReplacedDefinition(mv: VersionedTable): Unit =
    if (mv.exists) {
      mv.clearBucketSpec()
      mv.unsetProperties(RollupDef.keys)
    }

  /** The shared CREATE bookkeeping: sweep any replaced definition,
    * materialize `rows` over the sources PINNED at their current
    * versions (a concurrent commit between the version read and the
    * scan must stay uncovered, or the next refresh absorbs it twice),
    * record `props` with the first source's covered version and the
    * next epoch (a REPLACE starts a fresh txn-ledger namespace, so
    * markers from a replaced era can never masquerade as this era's
    * slices), and pin every source (retention must not reclaim a
    * covered version or the added/change sets above it). Returns the
    * covered versions. */
  def createFrom(family: Family, srcs: Seq[VersionedTable],
                 mv: VersionedTable, props: Seq[Long] => Map[String, String])
                (rows: Seq[Long] => DataFrame): Seq[Long] = {
    val vs = srcs.map(s => s.latestVersion.getOrElse(
      sys.error(s"${family.label}: empty table at ${s.root}")))
    val epoch = mv.properties.get(family.epochProp)
      .flatMap(e => scala.util.Try(e.toLong).toOption)
      .fold(family.firstEpoch)(_ + 1)
    clearReplacedDefinition(mv)
    mv.overwrite(rows(vs))
    mv.setProperties(props(vs) ++ Map(family.versionProp -> vs.head.toString,
      family.epochProp -> epoch.toString))
    srcs.zip(vs).foreach { case (s, v) => s.setPin(pinName(mv), v) }
    vs
  }

  /** [[createFrom]] for a single-source rollup: `partial` over `src`. */
  def create(family: Family, src: VersionedTable, mv: VersionedTable,
             props: Map[String, String])
            (partial: DataFrame => DataFrame): Long =
    createFrom(family, Seq(src), mv, _ => props)(vs =>
      partial(src.readVersion(vs.head))).head

  /** Catch `r` up with its sources; returns the mode and the covered
    * versions, by side. */
  def refresh(r: Rollup): (String, Seq[Long]) = {
    val d = r.defn
    val (srcs, groupCols) = (d.sources, d.groupCols)
    // the txn app every maintenance merge of a side carries: family
    // prefix, CREATE epoch, MV root, and `:dim<i-1>` on side i ≥ 1 — one
    // ledger per side, so a crash anywhere in a slice sequence resumes
    // with every already-absorbed side advanced (side 0 keeps the
    // unsuffixed name existing ledgers resume from)
    val apps = srcs.indices.map(i => d.family.txnPrefix + d.epoch + ":" +
      r.mv.root + (if (i == 0) "" else s":dim${i - 1}"))
    // exactly-once across crash+retry: the txn ledger is the record of
    // the last slice actually ABSORBED. A crash between a merge commit
    // and the covered-version bump leaves the ledger ahead of the
    // property — and if the source takes new commits before the retry,
    // a property-based resume would absorb a LARGER slice whose merge
    // passes the replay guard and double-counts the merged prefix.
    // Resuming from max(property, ledger) applies only the uncovered
    // tail; when they agree this is the property.
    val ledger = apps.map(r.mv.lastTxnVersion)
    val v0 = d.covered.zip(ledger).map { case (c, l) =>
      math.max(c, l.getOrElse(c)) }
    // ledger-healed resume of a retractable rollup: a slice committed
    // by an older binary ran its emptied-group repair OUTSIDE the
    // marker, and a resume that reads that slice as covered would keep
    // serving its phantoms — entry is the one place left to repair them
    if (ledger.zip(d.covered).exists { case (l, c) => l.exists(_ > c) })
      r.retract.foreach(x => sweep(r.mv, x.repair))
    // ONE history read per side: the covered versions and the slices
    // maintained over must agree even while concurrent writers advance
    // the heads. Every rung reads PINNED ranges (v0, head] — never a
    // live head — so concurrent commits stay uncovered until the next
    // refresh
    val hists = srcs.map(_.history)
    val heads = hists.zip(v0).map { case (h, v) =>
      h.lastOption.map(_.version).getOrElse(v) }
    val later = srcs.indices.map(i =>
      hists(i).filter(e => e.version > v0(i) && e.version <= heads(i)))
    // the shared set INCLUDES rename/drop-column: the DDL guards refuse
    // touching keyed columns and re-key agg inputs, so those commits are
    // metadata-only on any side
    val moved = later.map(_.exists(e =>
      !VersionedTable.CdfNoChangeActions(e.action)))
    // where each side is read while relating slices: a side that did not
    // move reads at its head, data-identical to its pin
    val pins = srcs.indices.map(i => if (moved(i)) v0(i) else heads(i))
    val src = srcs.head
    def full(): String = {
      r.mv.overwrite(r.partial(
        r.relate(0, r.slice(0, src.readVersion(heads(0))), heads)))
      "full"
    }
    // only the curated refusals (a feed-inexpressible slice: overwrite/
    // restore mid-range, reclaimed sets, NULL group keys) fall back to
    // the always-safe recompute — every other error propagates, since
    // masking a misconfiguration as a recompute would hide the bug
    def orFull(rung: => String): String =
      try rung catch { case _: CdfNotExpressible => full() }
    def feed(i: Int): DataFrame =
      r.slice(i, srcs(i).readChangeFeed(pins(i), Some(heads(i))))
    // telescoped per-side slices, side 0 first: the rollup's invariant
    // is its state over every side at its pin; each slice advances ONE
    // side to its head, related to every other side at its CURRENT pin,
    // so the sequence composes to the all-heads state whatever subset
    // moved (the relation distributes over either side's row-set delta)
    def telescope(x: Retract): String = {
      val at = pins.toArray
      val slices = srcs.indices.filter(moved)
      slices.foreach { i =>
        val rows = feed(i)
        try absorb(r.mv, x.partial(r.relate(i, rows, at.toSeq)), groupCols,
            r.combine, Some((apps(i), heads(i))), Some(x.repair))
        finally { rows.unpersist(); () }
        at(i) = heads(i)
        // each pin advance is DURABLE before the next slice starts: the
        // merge's txn marker covers a non-empty slice, and this bump
        // alone covers an EMPTY one — it writes no marker, and without
        // the bump a crash after a LATER side's merge would replay it
        // against that side's ADVANCED pin, absorbing a cross-term twice
        // (an empty ΔF ⋈ D@old can be non-empty as ΔF ⋈ D@new)
        if (i != slices.last) r.mv.setProperties(d.coveredProps(at.toSeq))
      }
      if (moved.tail.contains(true)) "cdf-dims" else "cdf"
    }
    val out =
      if (!moved.contains(true)) "noop"
      // readAddedBetween reads exactly the appended rows under the
      // CURRENT column mapping; addedSetsLive guards the rare vacuum-
      // reclaimed-original case into the fallback
      else if (srcs.size == 1 && later.head.forall(e =>
          e.action == "append" ||
            VersionedTable.CdfNoChangeActions(e.action)) &&
          src.addedSetsLive(v0.head, heads.head)) orFull {
        if (absorb(r.mv, r.partial(r.slice(0,
            src.readAddedBetween(v0.head, heads.head))),
            groupCols, r.combine, Some((apps.head, heads.head))) > 0L)
          r.afterAppend(apps.head, heads.head)
        "incremental"
      }
      else if (srcs.indices.exists(i =>
          moved(i) && !srcs(i).changeFeedEnabled)) full()
      // clean degrade: a side ≥ 1 snapshot vacuumed out from under its
      // pin (operator VACUUM … IGNORE PINS, or retention that ran before
      // the rollup registered its pins) cannot serve the related reads —
      // recompute from the heads, which re-advances every pin past the
      // damage. Checked while PLANNING, so no slice merge ever starts
      // against a half-readable side
      else if (srcs.indices.tail.exists(i =>
          !srcs(i).snapshotLive(pins(i)))) full()
      else r.retract match {
        case Some(x) => orFull(telescope(x))
        // state that cannot retract absorbs a side ≥ 1 move only by
        // recomputing every group it touches — all of them, in general
        case None if moved.tail.contains(true) => full()
        case None => orFull {
          mergeTouchedGroups(r.mv,
            r.relate(0, feed(0), pins).select(groupCols.map(col): _*)
              .distinct(),
            r.relate(0, r.slice(0, src.readVersion(heads(0))), pins),
            groupCols, r.partial, r.combine.keys.toSeq, apps.head, heads.head)
          "groups"
        }
      }
    // bump on PROPERTY lag, not on mode: a ledger-healed retry whose
    // uncovered tail is empty reads as noop but must still repair the
    // stale property. The retention floors advance with it (a crash
    // before this just retains more until the next refresh).
    if (heads.zip(d.covered).exists { case (h, c) => h > c })
      r.mv.setProperties(d.coveredProps(heads))
    srcs.indices.foreach { i =>
      if (hists(i).exists(_.version == heads(i)))
        srcs(i).setPin(pinName(r.mv), heads(i))
    }
    (out, heads)
  }

  /** ONE full-consumption pass over a PERSISTED group-count-sized
    * delta: (row count, NULL-key row count) — and, critically, the
    * pass COMPLETES the cache. Limit-style probes (`isEmpty`) abort
    * partition iterators mid-way and Spark only caches fully-consumed
    * partitions, so probing a persisted delta that way leaves it cold
    * and the merge that follows re-pays the whole upstream scan + join
    * + aggregation (measured 4.5 s of a 13.5 s slice). Every
    * maintainer that persists a delta then merges it probes here. */
  private[graft] def probeDelta(delta: DataFrame,
                                groupCols: Seq[String]): (Long, Long) = {
    val r = delta.agg(count(lit(1)), coalesce(sum(
      when(groupCols.map(col(_).isNull).reduce(_ || _), 1L).otherwise(0L)),
      lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def nullKeys(groupCols: Seq[String]): CdfNotExpressible =
    new CdfNotExpressible("rollup maintenance: NULL value in group " +
      s"column(s) ${groupCols.mkString(",")} — NULL keys cannot merge " +
      "(SQL MERGE: NULL never matches); coalesce them upstream")

  /** The one absorb step: persist `partial` (AQE-sized — it is a
    * group-count-sized shuffle output), probe it once, and combine-merge
    * it into `mv` under `txn`, with `repair` riding inside the same
    * commit. Returns the partial's row count: 0 means an empty slice
    * and no commit. Throws [[CdfNotExpressible]] on NULL group keys
    * (NULL never matches a merge key — every slice would insert a fresh
    * NULL row, splitting the group across duplicates). */
  def absorb(mv: VersionedTable, partial: DataFrame, groupCols: Seq[String],
             combine: Map[String, (Column, Column) => Column],
             txn: Option[(String, Long)],
             repair: Option[Merge.PostCombine] = None,
             partitionBy: Seq[String] = Nil,
             numBuckets: Int = VersionedTable.DefaultMergeBuckets): Long = {
    val delta = VersionedTable.persistAdaptive(partial)
    try {
      val (n, nulls) = probeDelta(delta, groupCols)
      if (nulls > 0L) throw nullKeys(groupCols)
      if (n > 0L)
        mv.merge(delta, groupCols, numBuckets = numBuckets,
          updateExprs = combine, txn = txn, partitionBy = partitionBy,
          postCombine = repair)
      n
    } finally { delta.unpersist(); () }
  }

  /** Idempotent standalone form of a [[Merge.PostCombine]] repair: drop
    * the rows `deleteWhen` names and rewrite each `set` column where it
    * differs from its repaired value. Probes guard the commits, so a
    * clean table costs a short read per clause and commits nothing. */
  private[graft] def sweep(mv: VersionedTable, repair: Merge.PostCombine): Unit = {
    repair.deleteWhen.foreach { d =>
      if (!mv.read.filter(d).limit(1).isEmpty) { mv.delete(d); () }
    }
    repair.set.foreach { case (c, e) =>
      val stale = !(col(c) <=> e)
      if (!mv.read.filter(stale).limit(1).isEmpty) {
        mv.update(Map(c -> e), stale); ()
      }
    }
  }

  /** Per-touched-group recompute+merge — the maintenance core for state
    * that cannot absorb retractions as signed deltas (HLL registers,
    * CMS counters, min/max, companion-less sums). `touchedKeys` names
    * the groups the change slice moved; ONLY those groups re-aggregate
    * (`partial`) from `freshRows` (the caller's pinned-snapshot
    * relation — filtered single-table scan or fact⋈dim join) and
    * replace `replaceCols` in the MV, with vanished groups riding the
    * SAME commit as tombstone-marked rows — one markered merge per
    * slice, atomic under crash replay by construction; nothing touched
    * commits nothing. Throws [[CdfNotExpressible]] on NULL group keys
    * (the caller recomputes). */
  private[graft] def mergeTouchedGroups(mv: VersionedTable,
      touchedKeys: DataFrame, freshRows: => DataFrame,
      groupCols: Seq[String], partial: DataFrame => DataFrame,
      replaceCols: Seq[String], txnApp: String, version: Long): Unit = {
    // both persisted deltas (touched keys, fresh aggregates) are
    // group-count-sized shuffle outputs: AQE-sized caches
    val touched = VersionedTable.persistAdaptive(touchedKeys)
    try {
      val (nTouched, nNulls) = probeDelta(touched, groupCols)
      if (nNulls > 0L) throw nullKeys(groupCols)
      if (nTouched > 0L) {
        // semi-join the SOURCE ROWS before aggregating — the point is
        // to shuffle only the touched groups' rows (AQE broadcasts the
        // touched-key set when small, so the semi join adds no shuffle)
        val fresh = VersionedTable.persistAdaptive(
          partial(freshRows.join(touched, groupCols, "left_semi")))
        try {
          // ONE commit: vanished groups ride the same merge as the
          // re-aggregated ones — tombstone-marked key rows union with
          // the fresh rows (missing columns pad NULL; tombstones only
          // need their keys), so the replace, the deletes and the txn
          // marker are atomic. The count completes fresh's cache and
          // says whether any touched group vanished (fresh holds one
          // row per surviving touched group); without one the merge
          // skips the anti-join and the delete-bearing union, which
          // cost more jobs than the count
          val merged =
            if (fresh.count() == nTouched) fresh
            else fresh.withColumn(Merge.DeleteCol, lit(false)).unionByName(
              touched.join(fresh.select(groupCols.map(col): _*), groupCols,
                "left_anti").withColumn(Merge.DeleteCol, lit(true)),
              allowMissingColumns = true)
          mv.merge(merged, groupCols, updateExprs = replaceCols.map(c =>
              c -> ((_: Column, u: Column) => u)).toMap,
            txn = Some((txnApp, version)))
          ()
        } finally { fresh.unpersist(); () }
      }
    } finally { touched.unpersist(); () }
  }
}
