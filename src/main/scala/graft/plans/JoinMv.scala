package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, expr}

import graft.tables.{GraftSql, VersionedTable}

/** Join-shaped materialized views: `SELECT g…, aggs… FROM fact JOIN dim₁
  * ON keys₁ [JOIN dim₂ ON keys₂ …] GROUP BY g…` materialized as a
  * table, transparently routed by [[MvRewrite.registerJoinChain]], and
  * MAINTAINED incrementally from its sides' change feeds — the
  * reference's gold fact⋈dims rollups (notebooks/04_gold, scheduled full
  * recomputes) as an incrementally kept table, including the
  * star-schema shape (one churning fact, any number of slow dims).
  *
  * '''Maintenance math.''' With EVERY dim side FIXED at its covered
  * snapshot, the inner join distributes over the fact's row-set delta:
  * `(F + ΔF) ⋈ D₁ ⋈ … ⋈ Dₙ = (F ⋈ D*) + (ΔF ⋈ D*)`. So one slice of
  * the fact's row-level change feed, joined to the PINNED dim
  * snapshots, is itself a valid signed change slice for the flat
  * group-by, and the single-table signed partial
  * ([[GraftSql.mvRetract]]: +postimage/insert, −preimage/delete,
  * emptied groups drop, all-NULL sums NULL-fix) applies verbatim.
  * Duplicate-keyed dims multiply delta rows exactly as they multiply a
  * full recompute's, so the identity needs no uniqueness assumption.
  * The join distributes over EITHER side's delta, so a dim with its
  * change feed on absorbs the same way — `F ⋈ (D+ΔD) = (F ⋈ D) +
  * (F ⋈ ΔD)` with F pinned — and a refresh telescopes one side at a
  * time. A dim UPDATE thus costs the fact rows matching the changed dim
  * keys (a semi-join-sized, bucket-prunable read), never O(MV) — at
  * 100 TB the difference between touching a handful of groups and
  * rebuilding the rollup because one team changed its name.
  *
  * The refresh ladder itself — ledger resume, rung choice, per-side
  * pins and covered versions — is the shared rollup driver's
  * ([[Maintained.refresh]], fact = side 0, dim `i` = side `i+1`); this
  * object states what is particular to joins: how a side's rows join
  * the others at their pins, the gated broadcast of a dim slice, the
  * bucket-pruned fact read for it, and routing.
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
  * fresh process and re-arms routing. */
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
    side.filter.map(f => df.filter(expr(f))).getOrElse(df)

  /** `rows` of the fact joined to every dim side PINNED at its version
    * in `dimVs` (maintenance must never read a live head another writer
    * is advancing). */
  private def joinAt(rows: DataFrame, dims: Seq[DimSide],
                     dimVs: Seq[Long]): DataFrame =
    joinAll(rows, dims.zip(dimVs).map { case (d, v) => pinned(d, v) })

  /** A dim side read at version `v`, with its keys. */
  private def pinned(side: DimSide, v: Long): (DataFrame, Seq[(String, String)]) =
    (sided(side, side.table.readVersion(v)), side.keys)

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
    GraftSql.registerMvFunctions(fact.spark)
    val factV = Maintained.createFrom(RollupDef.Join.family,
        fact +: dims.map(_.table), mv, vs => Map(
      FactProp -> fact.root,
      DimProp -> dims.map(_.table.root).mkString(";"),
      KeysProp -> formatKeys(dims.map(_.keys)),
      GroupProp -> groupCols.mkString(","),
      AggsProp -> GraftSql.formatAggSpecs(specs),
      DimVersionProp -> vs.tail.mkString(";"),
      DimFilterProp -> dims.map(_.filter.map(f =>
        java.net.URLEncoder.encode(f, "UTF-8")).getOrElse(""))
        .mkString(";")))(vs => GraftSql.mvAggregate(groupCols, specs)(
      joinAt(fact.readVersion(vs.head), dims, vs.tail))).head
    arm(fact.spark, mv)
    factV
  }

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

  /** Catch the MV up with its sources through the shared rollup
    * driver ([[Maintained.refresh]]) and re-arm routing. Returns the
    * maintenance mode used:
    *
    *   - `"noop"`: nothing new on any side (or only data-identical
    *     commits — compaction etc.); pins advance, routing re-arms.
    *   - `"cdf"`: only the fact moved (appends included — a join has no
    *     append-only rung); its feed, joined to the pinned dims, absorbs
    *     as signed deltas — O(changed fact rows). Needs sum/count-only
    *     aggs with the count companions ([[GraftSql.cdfMaintainable]]).
    *   - `"cdf-dims"`: one or more DIMS moved (fact too, possibly), each
    *     moved side with its feed on — one telescoped slice per moved
    *     side, joined to every other side at its current pin.
    *     O(changed fact rows) + O(fact rows matching changed dim keys).
    *   - `"groups"`: only the fact moved, its feed on, but min/max (or a
    *     companion-less sum) in the agg set — the feed names the
    *     touched groups, ONLY those recompute from the pinned snapshots;
    *     vanished groups delete. O(changed groups × group size).
    *   - `"full"`: a moved side has no change feed, min/max aggs meet a
    *     dim move, CDF unavailable (overwrite/restore/vacuumed), or a
    *     NULL group key in a delta — re-materialize every side at head.
    */
  def refresh(spark: SparkSession, mv: VersionedTable): String =
    maintain(mv, RollupDef.expect[RollupDef.Join](mv, "join MV"))._1

  /** [[refresh]] from an already-read definition; returns the mode and
    * the versions now covered, by side. */
  private[graft] def maintain(mv: VersionedTable,
                              d: RollupDef.Join): (String, Seq[Long]) = {
    GraftSql.registerMvFunctions(mv.spark)
    val out @ (_, heads) = Maintained.refresh(Maintained.Rollup(d, mv,
      GraftSql.mvAggregate(d.groupCols, d.aggs), GraftSql.mvCombines(d.aggs),
      retract = GraftSql.mvRetract(d.groupCols, d.aggs),
      // σ(ΔDᵢ): a dim filter distributes over the signed delta, so the
      // filtered feed IS the filtered view's change slice (SCD2: closing
      // a version retracts it from is_current)
      slice = (i, rows) => if (i == 0) rows else sided(d.dims(i - 1), rows),
      relate = (i, rows, pins) =>
        if (i == 0) joinAt(rows, d.dims, pins.tail)
        else dimSlice(d, i - 1, rows, pins)))
    arm(mv, d.copy(factV = heads.head, dimVs = heads.tail))
    out
  }

  /** Dim `i`'s change slice `rows` joined to the fact and every other dim
    * at `pins` (by side). The slice is consumed up to three times (the
    * broadcast gate, [[factForDimSlice]]'s distinct-keys collect, the
    * join itself), so it is persisted for its absorb — one
    * metadata-path CDF read instead of three (the driver unpersists it).
    * The gate is a FULL count, not limit(cap+1): a limit stops tasks
    * early and leaves the cache cold (partition-granular caching), so
    * every later consumer would re-read from files; the full count both
    * fills the cache and yields the exact row count the gate needs.
    * MEMORY_AND_DISK: a backfill-sized slice spills instead of evicting
    * or OOMing. */
  private def dimSlice(d: RollupDef.Join, i: Int, rows: DataFrame,
                       pins: Seq[Long]): DataFrame = {
    rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // broadcast the CHANGE SLICE explicitly: the CDF feed reads through
    // a metadata-path join, so Catalyst has no size stats for it and
    // (measured, ProfScd2) picks the FACT as the broadcast side — 150k
    // rows built and fetched per task where the churned-dim slice is 50×
    // smaller. The slice is USUALLY O(churned dim rows) — but a full-dim
    // rewrite / backfill churns every row, so the hint is GATED on the
    // row count: above the cap the join degrades to the slower-but-safe
    // shuffle instead of an 8GB-broadcast / driver-memory failure.
    val slice = if (rows.count() <= BroadcastSliceRowCap) broadcast(rows) else rows
    joinAll(factForDimSlice(d.fact, d.dims(i), rows, pins.head),
      d.dims.indices.map { j =>
        if (j == i) (slice, d.dims(i).keys) else pinned(d.dims(j), pins(j + 1))
      })
  }

  /** The fact relation for a dim slice: when the fact is merge-bucketed
    * on exactly this join's fact-side keys and the dim delta names few
    * enough key tuples to route driver-side, the read opens only the
    * matching buckets' file-sets — the "fact rows matching changed dim
    * keys" cost instead of a full fact scan (bounded collect: ≤ cap
    * small key tuples, never data-proportional). Unbucketed facts, huge
    * deltas, or multi-dim templates fall back to the pinned full scan
    * (the join itself still broadcasts the small delta). */
  private def factForDimSlice(fact: VersionedTable, side: DimSide,
                              feed: DataFrame, factV: Long): DataFrame = {
    val cap = 10000
    if (!fact.bucketSpec.exists(_.keys == side.keys.map(_._1)))
      fact.readVersion(factV)
    else {
      val tuples = feed.select(side.keys.map { case (_, rk) => col(rk) }: _*)
        .distinct().limit(cap + 1).collect().map(_.toSeq).toSeq
      if (tuples.isEmpty || tuples.length > cap) fact.readVersion(factV)
      else fact.readForKeys(tuples, asOfVersion = Some(factV))
    }
  }
}
