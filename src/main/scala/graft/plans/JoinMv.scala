package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.tables.{GraftSql, VersionedTable}

/** Join-shaped materialized views: `SELECT g…, aggs… FROM fact JOIN dim₁
  * ON keys₁ [JOIN dim₂ ON keys₂ …] GROUP BY g…` materialized as a
  * table, transparently routed by [[MvRewrite.registerJoinChain]], and
  * MAINTAINED incrementally from the FACT table's
  * change feed — the reference's gold fact⋈dims rollups
  * (notebooks/04_gold, scheduled full recomputes) as an incrementally
  * kept table, including the star-schema shape (one churning fact, any
  * number of slow dims).
  *
  * '''Maintenance math.''' With EVERY dim side FIXED at its covered
  * snapshot, the inner join distributes over the fact's row-set delta:
  * `(F + ΔF) ⋈ D₁ ⋈ … ⋈ Dₙ = (F ⋈ D*) + (ΔF ⋈ D*)`. So one slice of
  * the fact's row-level change feed, joined to the PINNED dim
  * snapshots, is itself a valid signed change slice for the flat
  * group-by — and the whole single-table signed-delta machinery
  * ([[GraftSql.applyCdfDelta]]: +postimage/insert, −preimage/delete,
  * emptied groups drop, all-NULL sums NULL-fix) applies verbatim.
  * Duplicate-keyed dims multiply delta rows exactly as they multiply a
  * full recompute's, so the identity needs no uniqueness assumption.
  * Cost per refresh: O(changed fact rows) + the touched MV cells —
  * never O(fact).
  *
  * '''Dim changes''' absorb incrementally too when the dim has its
  * change feed on: the join distributes over EITHER side's row-set
  * delta, so maintenance telescopes one side at a time —
  * `F ⋈ (D+ΔD) = (F ⋈ D) + (F ⋈ ΔD)` with F pinned, exactly the dual
  * of the fact identity. The MV's durable invariant is
  * `MV = F@p_f ⋈ D₁@p₁ ⋈ … ⋈ Dₙ@pₙ` (per-side covered pins); each
  * refresh slice advances ONE side from its pin to its head, joining
  * every OTHER side at its CURRENT pin, which composes to the head
  * join regardless of how many sides moved. A dim UPDATE thus costs
  * the fact rows matching the changed dim keys (a semi-join-sized,
  * bucket-prunable read), never O(MV) — at 100 TB the difference
  * between touching a handful of groups and rebuilding the rollup
  * because one team changed its name. Dims WITHOUT a change feed keep
  * the old full-re-materialization trade. Signed-delta absorption
  * needs [[GraftSql.cdfMaintainable]] aggs; min/max agg sets fall back
  * to full on dim movement (per-touched-group recompute still serves
  * fact-only movement).
  *
  * '''SCD2 dims''' compose through an optional per-dim FILTER
  * ([[DimSide.filter]], e.g. `is_current`): the MV joins the dim's
  * current-rows view, and because a row filter σ distributes over
  * signed deltas (σ(D+ΔD) = σ(D)+σ(ΔD)), the filtered change feed of
  * an [[graft.ops.Scd2]]-maintained dimension IS the view's delta —
  * closing a version retracts it, opening one inserts it. Filtered
  * definitions never arm transparent routing (a query over the
  * UNFILTERED join must not be served from the filtered rollup).
  *
  * The definition is durable in the MV table's properties
  * (`graft.mv.join.*`; multi-dim definitions `;`-join roots/versions and
  * `|`-join per-dim key lists — the single-dim format is the degenerate
  * case, so pre-existing definitions parse unchanged). This object
  * writes it and [[RollupDef.Join]] reads it, so [[refresh]] works in a
  * fresh process and re-arms routing, the same restart discipline as
  * the SQL MV surface. Exactly-once across crash/retry: the
  * maintenance merge carries a txn marker keyed on the covered fact
  * version, and refresh resumes from max(property, txn ledger) — a
  * replayed slice is a metadata no-op. */
object JoinMv {

  val FactProp = "graft.mv.join.fact"
  /** `;`-joined dim roots (one entry → the original single-dim form). */
  val DimProp = "graft.mv.join.dim"
  /** Per-dim `lk=rk,…` lists, `|`-joined across dims. */
  val KeysProp = "graft.mv.join.keys"
  val GroupProp = "graft.mv.join.group"
  val AggsProp = "graft.mv.join.aggs" // "fn:col:out;…"
  /** `;`-joined per-dim row filters (URL-encoded SQL, "" = none),
    * positionally matching [[DimProp]]; absent = no dim filtered (the
    * pre-existing definition format parses unchanged). */
  val DimFilterProp = "graft.mv.join.dimFilter"
  val FactVersionProp = "graft.mv.join.factVersion"
  /** `;`-joined covered dim versions, positionally matching [[DimProp]]. */
  val DimVersionProp = "graft.mv.join.dimVersion"
  /** Bumped on every [[create]] — namespaces the txn ledger so markers
    * from a replaced definition era are never consulted. */
  val EpochProp = "graft.mv.join.epoch"
  private val Family = Maintained.Family(FactVersionProp, EpochProp,
    "graft-mvjoin:", 0L, "join MV")

  /** Row bound for explicitly broadcasting a dim's CDF change slice in
    * the per-side maintenance join. The slice is O(churned dim rows)
    * and Catalyst has no stats for it, so a hint is normally right —
    * but a full-dim rewrite churns everything, and above this bound the
    * maintenance join falls back to a shuffle rather than risking the
    * 8GB-broadcast / driver-memory ceiling. 1M rows of a typical dim
    * (≤1KB/row) stays well under the default executor/driver budgets.
    * `var`, not `val`: a test seam only — the spec pins the above-cap
    * fallback's correctness at test row counts. */
  @volatile private[graft] var BroadcastSliceRowCap = 1000000

  /** One dim side of a definition: table + this join's key pairs +
    * an optional row filter (SQL over the dim's columns — the SCD2
    * `is_current` current-view hook). */
  final case class DimSide(table: VersionedTable,
                           keys: Seq[(String, String)],
                           filter: Option[String] = None)

  /** The dim side as the join sees it: filtered when the definition
    * narrows it (snapshot reads and change-feed slices alike — a
    * per-row filter distributes over signed deltas). */
  private def sided(side: DimSide, df: DataFrame): DataFrame =
    side.filter.map(f => df.filter(org.apache.spark.sql.functions.expr(f)))
      .getOrElse(df)

  /** The registered join, aggregated: every side PINNED at an explicit
    * version (maintenance must never read a live head another writer
    * is advancing). */
  private def rollup(fact: VersionedTable, dims: Seq[DimSide],
                     groupCols: Seq[String],
                     aggs: Seq[(String, String, String)],
                     factV: Long, dimVs: Seq[Long]): DataFrame = {
    GraftSql.registerMvFunctions(fact.spark)
    GraftSql.mvAggregate(groupCols, aggs)(joinAll(fact.readVersion(factV),
      dims.zip(dimVs).map { case (d, v) =>
        (sided(d, d.table.readVersion(v)), d.keys)
      }))
  }

  /** Left-fold the dim sides onto `f` (shared with the streaming
    * aggregate sink's fact⋈pinned-dims mode). */
  private[graft] def joinAll(f: DataFrame,
                      dims: Seq[(DataFrame, Seq[(String, String)])]): DataFrame =
    dims.foldLeft(f) { case (acc, (d, keys)) => joinOn(acc, d, keys) }

  private def joinOn(f: DataFrame, d: DataFrame,
                     keys: Seq[(String, String)]): DataFrame = {
    val j = f.join(d, keys.map { case (lk, rk) => f(lk) === d(rk) }
      .reduce(_ && _))
    // drop the dim side's same-named key duplicates so group/agg
    // references resolve unambiguously (the sides are value-equal
    // under the inner join, so either column serves)
    keys.collect { case (l, r) if l == r => d(r) }.foldLeft(j)(_.drop(_))
  }

  /** Materialize the join rollup into `mv` at the sources' CURRENT
    * versions, persist the definition, and (single-dim, exact aggs)
    * arm transparent routing. Returns the covered fact version. */
  def create(fact: VersionedTable, dim: VersionedTable,
             keys: Seq[(String, String)], groupCols: Seq[String],
             aggs: Seq[MvRewrite.AggSpec], mv: VersionedTable): Long =
    create(fact, Seq(DimSide(dim, keys)), groupCols, aggs, mv)

  /** Star-schema form: one fact, any number of pinned dims. */
  def create(fact: VersionedTable, dims: Seq[DimSide],
             groupCols: Seq[String], aggs: Seq[MvRewrite.AggSpec],
             mv: VersionedTable): Long = {
    require(dims.nonEmpty, "join MV: at least one dim side")
    val specs = aggs.map(a => (a.fn, a.col, a.mvCol))
    val factV = Maintained.createFrom(Family,
        fact +: dims.map(_.table), mv, vs => Map(
      FactProp -> fact.root,
      DimProp -> dims.map(_.table.root).mkString(";"),
      KeysProp -> formatKeys(dims.map(_.keys)),
      GroupProp -> groupCols.mkString(","),
      AggsProp -> GraftSql.formatAggSpecs(specs),
      DimVersionProp -> vs.tail.mkString(";"),
      DimFilterProp -> dims.map(_.filter.map(f =>
        java.net.URLEncoder.encode(f, "UTF-8")).getOrElse(""))
        .mkString(";")))(vs =>
      rollup(fact, dims, groupCols, specs, vs.head, vs.tail)).head
    arm(fact.spark, mv)
    factV
  }

  /** The consumer-pin name this MV registers on its sources — the MV
    * root IS the name, so SHOW PINS identifies the consumer directly. */
  private[graft] def pinName(mv: VersionedTable): String = s"mv:${mv.root}"

  /** Routing registration — exact-agg definitions of any dim count
    * ([[MvRewrite.registerJoinChain]] matches the whole star/snowflake
    * join graph order-free). An hll ESTIMATE must never transparently
    * replace a query's own aggregate (different estimator, silently
    * different numbers), so sketch-bearing definitions drop any stale
    * registration instead (a REPLACE must not leave the old entry
    * serving). Returns whether `mv` is now registered. */
  private[graft] def arm(mv: VersionedTable, d: RollupDef.Join): Boolean = {
    // filtered dims narrow the joined row-set: a query over the
    // UNFILTERED join must never transparently read the filtered MV
    val routable = !d.aggs.exists(a => GraftSql.approxAgg(a._1)) &&
      d.dims.forall(_.filter.isEmpty)
    if (routable) MvRewrite.registerJoinChain(d.fact, Some(d.factV),
      d.dims.zip(d.dimVs).map { case (side, v) =>
        MvRewrite.JoinDim(side.table, side.keys, Some(v))
      }, mv, d.groupCols,
      d.aggs.map { case (f, c, o) => MvRewrite.AggSpec(f, c, o) })
    else MvRewrite.deregisterRoot(mv.root)
    routable
  }

  /** Re-arm routing from the durable definition (post-restart). */
  def arm(spark: SparkSession, mv: VersionedTable): Boolean =
    arm(mv, RollupDef.expect[RollupDef.Join](mv, "join MV"))

  /** The [[KeysProp]] serialization of per-dim key lists — ONE formatter
    * shared by the batch definition and the streaming sink's recorded
    * definition, so the two can never drift apart. */
  private[graft] def formatKeys(keys: Seq[Seq[(String, String)]]): String =
    keys.map(_.map { case (l, r) => s"$l=$r" }.mkString(","))
      .mkString("|")

  /** Split the per-dim key segments of a [[KeysProp]] value. */
  private[graft] def parseKeySegments(keys: String): Seq[Seq[(String, String)]] =
    keys.split("\\|").toSeq.map(_.split(",").toSeq.map { kv =>
      val Array(l, r) = kv.split("=", 2); (l, r)
    })

  /** Catch the MV up with its sources and re-arm routing. Returns the
    * maintenance mode used:
    *
    *   - `"noop"`: nothing new (or only data-identical maintenance
    *     commits — compaction etc.) on any side; version pins advance
    *     and routing re-arms on the new snapshots.
    *   - `"cdf"`: only the fact moved; its changes absorb as signed
    *     deltas from the change feed joined to the pinned dims —
    *     O(changed fact rows). Needs sum/count-only aggs with the
    *     count companions ([[GraftSql.cdfMaintainable]]).
    *   - `"cdf-dims"`: one or more DIMS moved (fact too, possibly) and
    *     every moved side has its change feed on — per-side telescoped
    *     signed-delta slices, one merge per moved side, each joining
    *     that side's feed to every other side at its current pin.
    *     O(changed fact rows) + O(fact rows matching changed dim keys).
    *   - `"groups"`: dims unchanged, fact CDF on, but min/max (or a
    *     companion-less sum) in the agg set — the feed names the
    *     touched groups (through the dim joins), ONLY those groups
    *     recompute from the pinned snapshots and merge; vanished
    *     groups delete. O(changed groups × group size).
    *   - `"full"`: a moved side has no change feed, min/max aggs meet a
    *     dim move, CDF unavailable (overwrite/restore/vacuumed), or a
    *     NULL group key in a delta — re-materialize every side at head.
    */
  def refresh(spark: SparkSession, mv: VersionedTable): String =
    maintain(mv, RollupDef.expect[RollupDef.Join](mv, "join MV"))._1

  /** [[refresh]] from an already-read definition; returns the mode and
    * the fact version now covered. */
  private[graft] def maintain(mv: VersionedTable,
                              d: RollupDef.Join): (String, Long) = {
    val txnApp = Family.txnPrefix + d.epoch + ":" + mv.root
    // one txn app PER SIDE: each side's merges are markered with the
    // covered version of THAT side, so a crash anywhere in the slice
    // sequence resumes with every already-absorbed side's pin advanced
    // (the fact app keeps the historical unsuffixed name — pre-existing
    // ledgers must keep resuming)
    def dimApp(i: Int) = s"$txnApp:dim$i"
    // resume from max(property, ledger): a crash between a merge and
    // the property bump must not double-count the absorbed slice
    val factPin = math.max(d.factV,
      mv.lastTxnVersion(txnApp).getOrElse(d.factV))
    val dimPins = d.dimVs.zipWithIndex.map { case (dv, i) =>
      math.max(dv, mv.lastTxnVersion(dimApp(i)).getOrElse(dv))
    }
    // ledger-healed resume: any side's ledger ahead of its recorded
    // version property means a prior refresh crashed after a slice's
    // markered merge. Slices committed since the repair was folded into
    // the merge (PostCombine) can't leave phantoms — but one committed
    // by a pre-fold binary ran its emptied-group delete / sum NULL-fix
    // OUTSIDE the marker, and a resume that reads every side as covered
    // would short-circuit to noop and keep serving count(*)=0 phantom
    // groups. Same probe-guarded entry sweep as the single-table REFRESH.
    if (GraftSql.cdfMaintainable(d.aggs) &&
        (factPin > d.factV || dimPins.zip(d.dimVs).exists(p => p._1 > p._2)))
      GraftSql.sweepCdfPhantoms(mv, d.aggs)
    val factHistory = d.fact.history
    val factHead = factHistory.lastOption.map(_.version).getOrElse(factPin)
    val dimHeads = d.dims.zip(dimPins).map { case (dim, dv) =>
      dim.table.latestVersion.getOrElse(dv)
    }
    // the shared set INCLUDES rename/drop-column: the DDL guards refuse
    // touching group/key columns and re-key agg specs, so those commits
    // are metadata-only on any side — a dim rename must not trigger
    // an O(fact) re-materialization
    val absorbless = VersionedTable.CdfNoChangeActions
    def moved(h: Seq[VersionedTable.LogEntry], lo: Long, hi: Long): Boolean =
      h.exists(e => e.version > lo && e.version <= hi &&
        !absorbless(e.action))
    val factMoved = moved(factHistory, factPin, factHead)
    val dimMoved = d.dims.zip(dimPins).zip(dimHeads).map {
      case ((dim, dv), head) => moved(dim.table.history, dv, head)
    }
    def finish(mode: String, fv: Long, dvs: Seq[Long]): (String, Long) = {
      if (fv > d.factV || dvs != d.dimVs)
        mv.setProperties(Map(FactVersionProp -> fv.toString,
          DimVersionProp -> dvs.mkString(";")))
      // advance the retention floors WITH the covered versions: history
      // behind the new pins is released to vacuum, history from them up
      // stays readable for the next refresh. (A crash before this point
      // leaves the pins lagging — strictly safe, vacuum just retains
      // more until the next successful refresh.)
      d.fact.setPin(pinName(mv), fv)
      d.dims.zip(dvs).foreach { case (dim, v) =>
        dim.table.setPin(pinName(mv), v) }
      arm(mv, d.copy(factV = fv, dimVs = dvs))
      (mode, fv)
    }
    def recompute(): (String, Long) = {
      mv.overwrite(rollup(d.fact, d.dims, d.groupCols, d.aggs,
        factHead, dimHeads))
      finish("full", factHead, dimHeads)
    }
    def dimAt(i: Int, v: Long): DataFrame =
      sided(d.dims(i), d.dims(i).table.readVersion(v))
    // fact relation for a DIM slice: when the fact is merge-bucketed on
    // exactly this join's fact-side keys and the dim delta names few
    // enough key tuples to route driver-side, the read opens only the
    // matching buckets' file-sets — the "fact rows matching changed dim
    // keys" cost instead of a full fact scan (bounded collect: ≤ cap
    // small key tuples, never data-proportional). Unbucketed facts, huge
    // deltas, or multi-dim templates fall back to the pinned full scan
    // (the join itself still broadcasts the small delta).
    def factForDimSlice(i: Int, feed: DataFrame): DataFrame = {
      val cap = 10000
      val fKeys = d.dims(i).keys.map(_._1)
      if (!d.fact.bucketSpec.exists(_.keys == fKeys))
        d.fact.readVersion(factHead)
      else {
        val tuples = feed
          .select(d.dims(i).keys.map { case (_, rk) =>
            org.apache.spark.sql.functions.col(rk)
          }: _*)
          .distinct().limit(cap + 1).collect()
          .map(_.toSeq).toSeq
        if (tuples.isEmpty || tuples.length > cap)
          d.fact.readVersion(factHead)
        else d.fact.readForKeys(tuples, asOfVersion = Some(factHead))
      }
    }
    if (!factMoved && !dimMoved.contains(true))
      finish("noop", factHead, dimHeads)
    else if ((factMoved && !d.fact.changeFeedEnabled) ||
        dimMoved.zip(d.dims).exists { case (m, dim) =>
          m && !dim.table.changeFeedEnabled })
      recompute()
    // clean degrade: a pinned side snapshot vacuumed out from under the
    // definition (operator VACUUM … IGNORE PINS, or retention that ran
    // before this MV registered its pins) cannot serve the telescoped /
    // touched-group reads — recompute from the heads, which re-advances
    // every pin past the damage. Checked while PLANNING, so no slice
    // merge ever starts against a half-readable side.
    else if (!d.dims.indices.forall(i =>
        d.dims(i).table.snapshotLive(dimPins(i))))
      recompute()
    else if (GraftSql.cdfMaintainable(d.aggs)) {
      // telescoped per-side slices: the MV invariant is
      // F@p_f ⋈ Dᵢ@pᵢ; each slice advances ONE side to its head with
      // every other side read at its CURRENT pin, so the sequence
      // composes to the all-heads join whatever subset moved
      try {
        val pins = dimPins.toArray
        // each slice's pin advance is made DURABLE before the next slice
        // starts: the merge's txn marker covers the non-empty case
        // (crash between merge and property bump resumes from the
        // ledger), and the property bump alone covers the EMPTY case —
        // an empty slice writes no marker, and without the bump a crash
        // after a LATER side's merge would replay this slice against
        // that side's ADVANCED pin, absorbing a cross-term twice (an
        // empty ΔF ⋈ D@old can be non-empty as ΔF ⋈ D@new).
        if (factMoved) {
          val feed = d.fact.readChangeFeed(factPin, Some(factHead))
          GraftSql.applyCdfDelta(mv,
            joinAll(feed, d.dims.indices.map(i =>
              (dimAt(i, pins(i)), d.dims(i).keys))),
            d.groupCols, d.aggs, txn = Some((txnApp, factHead)))
          mv.setProperties(Map(FactVersionProp -> factHead.toString))
        }
        d.dims.indices.foreach { i =>
          if (dimMoved(i)) {
            // σ(ΔDᵢ): the filter distributes over the signed delta, so
            // the filtered feed IS the filtered view's change slice
            // (SCD2: closing a version retracts it from is_current)
            // the slice's CDF feed is consumed up to three times (the
            // fit probe, factForDimSlice's distinct-keys collect, the
            // maintenance join itself), so it's persisted for the
            // slice's duration: one metadata-path CDF read instead of
            // three. The probe is a FULL count, not limit(cap+1) — a
            // limit stops tasks early and leaves the cache cold
            // (partition-granular caching), so every later consumer
            // would re-read from files; the full count both fills the
            // cache and yields the exact row count the broadcast gate
            // needs. MEMORY_AND_DISK: a backfill-sized slice spills
            // instead of evicting or OOMing.
            val feed = sided(d.dims(i),
              d.dims(i).table.readChangeFeed(pins(i), Some(dimHeads(i))))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              // broadcast the CHANGE SLICE explicitly: the CDF feed reads
              // through a metadata-path join, so Catalyst has no size
              // stats for it and (measured, ProfScd2) picks the FACT as
              // the broadcast side — 150k rows built and fetched per task
              // where the churned-dim slice is 50× smaller. The slice is
              // USUALLY O(churned dim rows) — but a full-dim rewrite /
              // backfill churns every row, so the hint is GATED on the
              // row count: above the cap the join degrades to the
              // slower-but-safe shuffle instead of an 8GB-broadcast /
              // driver-memory failure.
              val feedFits = feed.count() <= JoinMv.BroadcastSliceRowCap
              GraftSql.applyCdfDelta(mv,
                joinAll(factForDimSlice(i, feed),
                  d.dims.indices.map { j =>
                    (if (j == i) {
                      if (feedFits)
                        org.apache.spark.sql.functions.broadcast(feed)
                      else feed
                    } else dimAt(j, pins(j)),
                      d.dims(j).keys)
                  }),
                d.groupCols, d.aggs, txn = Some((dimApp(i), dimHeads(i))))
            } finally { feed.unpersist(); () }
            pins(i) = dimHeads(i)
            mv.setProperties(Map(DimVersionProp -> pins.mkString(";")))
          } else pins(i) = dimHeads(i)
        }
        finish(if (dimMoved.contains(true)) "cdf-dims" else "cdf",
          factHead, dimHeads)
      } catch {
        case _: graft.tables.CdfNotExpressible => recompute()
      }
    } else if (dimMoved.contains(true)) recompute()
    else {
      // min/max: per-touched-group recompute — the CDF (joined to the
      // pinned dims) names which groups moved; only those re-aggregate.
      // The recompute+tombstone+replace core is the rollup driver's
      // shared helper — only the source relation (fact⋈dims) differs.
      import org.apache.spark.sql.functions.col
      lazy val pinnedDims = d.dims.zip(dimPins)
        .map { case (dim, dv) => (sided(dim, dim.table.readVersion(dv)),
          dim.keys) }
      try {
        val feed = d.fact.readChangeFeed(factPin, Some(factHead))
        GraftSql.registerMvFunctions(mv.spark)
        Maintained.mergeTouchedGroups(mv,
          joinAll(feed, pinnedDims)
            .select(d.groupCols.map(col): _*).distinct(),
          joinAll(d.fact.readVersion(factHead), pinnedDims),
          d.groupCols, GraftSql.mvAggregate(d.groupCols, d.aggs),
          d.aggs.map(_._3), txnApp, factHead)
        finish("groups", factHead, dimHeads)
      } catch {
        case _: graft.tables.CdfNotExpressible => recompute()
      }
    }
  }
}
