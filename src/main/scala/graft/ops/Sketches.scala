package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.{Maintained, RollupDef}
import graft.tables.VersionedTable

/** Mergeable distinct-count sketch rollups — the incremental answer to
  * `COUNT(DISTINCT x)`, the one aggregate no exact MV can maintain
  * (a distinct count is not a sum of per-slice distinct counts).
  *
  * The rollup table stores, per group, an exact row count and a
  * Datasketches HLL sketch (Spark's `hll_sketch_agg`, a BINARY column,
  * ~2^lgK registers ≈ KB-scale). Sketches form a monoid under
  * `hll_union`: register-wise max, associative and commutative — so
  * an append-only slice aggregates to PARTIAL sketches map-side and
  * merges into the stored rollup without touching history, and a
  * union of partial sketches holds exactly the same registers as one
  * sketch built over all the data (identical estimates, not merely
  * close). That is what makes this the 100 TB shape: per refresh the
  * engine reads O(appended rows), shuffles group-count×KB of sketch
  * bytes, and bucket-COW-merges the touched groups.
  *
  * Deletes cannot retract an HLL register — but when the source's
  * change feed is on, the feed names WHICH groups moved and only those
  * recompute from the pinned snapshot (`"groups"`, O(touched groups'
  * rows)); without the feed a retraction slice falls back to a full
  * rebuild (`"full"`), the exact-MV machinery's policy.
  *
  * Estimates are approximate (±~1.6%/√2^lgK); the EXACT `n_rows`
  * companion rides along both as a freshness witness and because a
  * per-group exact row count is free in the same pass.
  */
object Sketches {

  val SourceProp = "graft.sketch.source"
  val GroupProp = "graft.sketch.group"
  val DistinctProp = "graft.sketch.distinct"
  val LgkProp = "graft.sketch.lgk"
  val VersionProp = "graft.sketch.sourceVersion"
  /** Bumped on every [[create]] — namespaces the txn ledger so markers
    * from a replaced definition era (possibly covering a DIFFERENT
    * source at a higher version) are never consulted. Without it, a
    * re-created rollup resumed from the old era's marker and could
    * read as permanently fresh against a source that never reaches
    * that version. */
  val EpochProp = "graft.sketch.epoch"

  /** One-shot rollup: per group, exact row count + HLL sketch of
    * `distinctCol`. */
  def rollup(df: DataFrame, groupCols: Seq[String], distinctCol: String,
             lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        call_function("hll_sketch_agg", col(distinctCol), lit(lgK))
          .as("distinct_sketch"))

  /** The rollup with estimates resolved — what a reader consumes. */
  def withEstimate(rollup: DataFrame): DataFrame =
    rollup.withColumn("approx_distinct",
      call_function("hll_sketch_estimate", col("distinct_sketch")))

  /** Materialize the rollup of `src` into `mv` at the current snapshot
    * and persist the definition for [[refresh]]. */
  def create(src: VersionedTable, mv: VersionedTable,
             groupCols: Seq[String], distinctCol: String,
             lgK: Int = 12): Unit = {
    Maintained.create(RollupDef.Hll.family, src, mv, Map(
      SourceProp -> src.root, GroupProp -> groupCols.mkString(","),
      DistinctProp -> distinctCol, LgkProp -> lgK.toString))(
      rollup(_, groupCols, distinctCol, lgK))
    ()
  }

  /** Catch the rollup up with its source ([[Maintained.refresh]]).
    * Append-only tails absorb as partial-sketch merges
    * (`"incremental"` — O(appended rows)); registers cannot retract, so
    * retractions recompute only the feed-named touched groups
    * (`"groups"`) when the change feed is on, and rebuild (`"full"`)
    * otherwise; nothing new is `"noop"`. */
  def refresh(spark: SparkSession, mv: VersionedTable): String = {
    val d = RollupDef.expect[RollupDef.Hll](mv, "sketch rollup")
    Maintained.refresh(Maintained.Rollup(d, mv,
      rollup(_, d.groupCols, d.distinct, d.lgK),
      Map("n_rows" -> ((t: Column, u: Column) => t + u),
        // register-wise max: the union sketch is EXACTLY the sketch a
        // full rebuild would produce
        "distinct_sketch" -> ((t: Column, u: Column) =>
          call_function("hll_union", t, u)))))._1
  }

  // ---------------------------------------------------------------------
  // Frequency rollups: count-min sketches + candidate heavy hitters
  // ---------------------------------------------------------------------

  val FreqSourceProp = "graft.cms.source"
  val FreqGroupProp = "graft.cms.group"
  val FreqItemProp = "graft.cms.item"
  val FreqParamsProp = "graft.cms.params" // "eps,confidence,seed,topM"
  val FreqVersionProp = "graft.cms.sourceVersion"
  val FreqEpochProp = "graft.cms.epoch"

  /** How many candidate items a rollup may carry per group before the
    * refresh prunes them back to the estimate-ranked top `topM`. */
  private def candidateCap(topM: Int): Int = 4 * topM

  /** One-shot frequency rollup: per group, an exact row count, a
    * count-min sketch of `itemCol` (mergeable: counter-wise sums), and
    * the slice's EXACT top-`topM` items as the candidate set. A CMS
    * answers "how often did X occur" but cannot enumerate X — the
    * candidate set is the enumeration half of the heavy-hitter pair:
    * every item that was top-`topM` in at least one absorbed slice
    * stays queryable, and the sketch (an over-estimate, never under)
    * ranks the union. */
  def freqRollup(df: DataFrame, groupCols: Seq[String], itemCol: String,
                 eps: Double = 0.0005, confidence: Double = 0.99,
                 seed: Int = 42, topM: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.SketchFunctions.register(df.sparkSession)
    val gc = groupCols.map(col)
    val sketch = df.groupBy(gc: _*)
      .agg(count(lit(1)).as("n_rows"),
        call_function("count_min_sketch", col(itemCol), lit(eps),
          lit(confidence), lit(seed)).as("freq_sketch"))
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("cnt").desc, col("item"))
    val cands = df.groupBy((gc :+ col(itemCol).as("item")): _*)
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topM)
      // struct-sorted so the array order is deterministic (count desc,
      // item asc) — merge unions re-rank by estimate anyway
      .groupBy(gc: _*)
      .agg(expr("transform(array_sort(collect_list(struct(-cnt AS nc, " +
        "item))), s -> s.item)").as("top_candidates"))
    // null-safe on the group keys: the NULL group is a group like any
    // other (an equi-join would silently drop it from the rollup)
    val keyed = cands.select(groupCols.map(c => col(c).as(s"__k_$c")) :+
      col("top_candidates"): _*)
    sketch.join(keyed, groupCols.map(c => col(c) <=> col(s"__k_$c"))
        .reduce(_ && _))
      .drop(groupCols.map(c => s"__k_$c"): _*)
  }

  /** The heavy-hitter readout: per group, the candidate items ranked by
    * their sketch-estimated counts, top `k`. Estimates are CMS upper
    * bounds (≥ the true count; equal with high probability at the
    * default width). */
  def topFreqItems(rollup: DataFrame, groupCols: Seq[String],
                   k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.SketchFunctions.register(rollup.sparkSession)
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("est_count").desc, col("item"))
    rollup
      .select(groupCols.map(col) :+ col("freq_sketch") :+
        explode(col("top_candidates")).as("item"): _*)
      .withColumn("est_count",
        call_function("graft_cms_estimate", col("freq_sketch"),
          col("item")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(groupCols.map(col) :+ col("item") :+ col("est_count") :+
        col("rank"): _*)
  }

  /** Materialize the frequency rollup of `src` into `mv` and persist
    * the definition for [[refreshFreq]]. */
  def createFreq(src: VersionedTable, mv: VersionedTable,
                 groupCols: Seq[String], itemCol: String,
                 eps: Double = 0.0005, confidence: Double = 0.99,
                 seed: Int = 42, topM: Int = 20): Unit = {
    Maintained.create(RollupDef.Cms.family, src, mv, Map(
      FreqSourceProp -> src.root, FreqGroupProp -> groupCols.mkString(","),
      FreqItemProp -> itemCol,
      FreqParamsProp -> s"$eps,$confidence,$seed,$topM"))(
      freqRollup(_, groupCols, itemCol, eps, confidence, seed, topM))
    ()
  }

  /** Catch the frequency rollup up with its source. Append-only tails
    * absorb as counter-wise sketch sums plus a candidate-set union
    * (`"incremental"` — O(appended rows)); CMS counters cannot
    * retract, so retractions recompute the feed-named touched groups
    * (`"groups"`) or rebuild without the feed (`"full"`). When a
    * group's candidate union outgrows 4×topM, it is pruned back to the
    * estimate-ranked topM in the same refresh — candidate state stays
    * O(groups × topM) forever. */
  def refreshFreq(spark: SparkSession, mv: VersionedTable): String = {
    graft.functions.SketchFunctions.register(spark)
    val d = RollupDef.expect[RollupDef.Cms](mv, "frequency rollup")
    Maintained.refresh(Maintained.Rollup(d, mv,
      freqRollup(_, d.groupCols, d.item, d.eps, d.confidence, d.seed,
        d.topM),
      Map("n_rows" -> ((t: Column, u: Column) => t + u),
        // counter-wise sum — merged counters EXACTLY equal a rebuild's
        // (CMS is a monoid under cell addition)
        "freq_sketch" -> ((t: Column, u: Column) => coalesce(
          call_function("graft_cms_merge", t, u), t, u)),
        // both sides are non-null by construction (freqRollup's inner
        // join yields candidates for every emitted group)
        "top_candidates" -> ((t: Column, u: Column) =>
          array_distinct(concat(t, u)))),
      afterAppend = pruneCandidates(mv, d.groupCols, d.topM, _, _)))._1
  }

  // ---------------------------------------------------------------------
  // Quantile rollups: mergeable log2-octave histograms
  // ---------------------------------------------------------------------

  val QuantSourceProp = "graft.quant.source"
  val QuantGroupProp = "graft.quant.group"
  val QuantValueProp = "graft.quant.value"
  val QuantParamsProp = "graft.quant.params" // "scale,subBuckets"
  val QuantVersionProp = "graft.quant.sourceVersion"
  val QuantEpochProp = "graft.quant.epoch"

  /** Attach the histogram bucket key of `valueCol` as `__qk`.
    *
    * The sketch is a DDSketch-shaped relative-error histogram (Masson
    * et al., VLDB 2019) with a deliberately DETERMINISTIC, engine-
    * portable bucket function: no logarithms, no randomness — only
    * integer arithmetic and IEEE +|-|*|/ (both correctly rounded and
    * bit-identical on the JVM and in any IEEE engine, which is what
    * lets an oracle replay the bucketing relationally).
    *
    *   w   = max(1, floor(|v| * scale + 0.5))        exact scaled magnitude
    *   e   = length(bin(w)) - 1                      exact floor(log2 w)
    *   key = sign(v) * (1 + e*sub + ((w - 2^e) * sub) div 2^e)   (0 for v=0)
    *
    * Each power-of-two octave splits into `sub` equal-width buckets, so
    * a bucket's midpoint misstates a member by at most 1/(2*sub)
    * relative (plus the 0.5/scale absolute rounding floor) — sub=16
    * gives ~3% rank-safe relative error at 8 bytes/bucket and ≤
    * 64*sub live buckets per sign. Ascending key order IS ascending
    * value order (negative keys mirror), so quantile readout is a
    * cumulative walk. */
  private def withBucketKey(df: DataFrame, valueCol: String, scale: Long,
                            sub: Int): DataFrame =
    df.withColumn("__w", greatest(lit(1L),
        floor(abs(col(valueCol)) * lit(scale.toDouble) + lit(0.5d))
          .cast("long")))
      .withColumn("__e", (length(bin(col("__w"))) - lit(1)).cast("int"))
      .withColumn("__q", expr("shiftleft(1L, __e)"))
      .withColumn("__qk",
        when(col(valueCol).isNull, lit(null).cast("long"))
          .when(col(valueCol) === 0d, lit(0L))
          .otherwise(signum(col(valueCol)).cast("long") *
            (lit(1L) + col("__e").cast("long") * lit(sub.toLong) +
              expr(s"((__w - __q) * ${sub}L) div __q"))))
      .drop("__w", "__e", "__q")

  /** The shared aggregation: per group, a (signed) row count, non-NULL
    * value count, and the bucket→count histogram map. `sgn` is +1 for
    * snapshot/append slices and ±1 for CDF slices — histogram counts
    * form a GROUP under addition (unlike HLL registers or CMS
    * counters), which is what makes retractions incrementally
    * absorbable. Two shuffles, both with map-side partials; the second
    * input is (groups × live buckets)-sized, never data-sized. */
  private def quantAgg(df: DataFrame, groupCols: Seq[String],
                       valueCol: String, scale: Long, sub: Int,
                       sgn: Column): DataFrame = {
    val gc = groupCols.map(col)
    withBucketKey(df, valueCol, scale, sub)
      .withColumn("__sgn", sgn)
      .groupBy((gc :+ col("__qk")): _*)
      .agg(sum(col("__sgn")).as("__c"))
      .groupBy(gc: _*)
      .agg(sum(col("__c")).as("n_rows"),
        sum(when(col("__qk").isNotNull, col("__c")).otherwise(0L))
          .as("n_vals"),
        // deterministic entry order; zero-net buckets stay out of the
        // map (a CDF slice's churn that cancels adds nothing)
        map_from_entries(array_sort(collect_list(
          when(col("__qk").isNotNull && col("__c") =!= 0L,
            struct(col("__qk"), col("__c")))))).as("quant_sketch"))
  }

  /** One-shot quantile rollup: per group, exact row/value counts + the
    * log2-octave histogram of `valueCol` (map<bigint,bigint>, ≤
    * 64*sub*2+1 entries ≈ KB-scale per group). */
  def quantRollup(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  scale: Long = 100L, sub: Int = 16): DataFrame = {
    require(scale > 0 && sub > 0, s"quantRollup: scale=$scale sub=$sub")
    quantAgg(df, groupCols, valueCol, scale, sub, lit(1L))
  }

  /** Approximate quantiles from a rollup: for each requested q in
    * (0, 1], the midpoint value of the first bucket whose cumulative
    * count reaches rank ceil(q * n_vals) — within 1/(2*sub) relative
    * (+0.5/scale absolute) of the exact quantile. Groups with zero
    * non-NULL values emit no rows. The walk runs over the
    * (groups × buckets) relation, never the data. */
  def quantValues(rollup: DataFrame, groupCols: Seq[String],
                  qs: Seq[Double], scale: Long = 100L,
                  sub: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = rollup.sparkSession
    import spark.implicits._
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1), s"qs=$qs")
    val gc = groupCols.map(col)
    val w = Window.partitionBy(gc: _*).orderBy(col("bkey"))
    val exploded = rollup
      .select((gc :+ col("n_vals") :+ explode(col("quant_sketch"))): _*)
      .withColumnRenamed("key", "bkey").withColumnRenamed("value", "bcnt")
      .withColumn("cum", sum(col("bcnt")).over(w))
    val picked = exploded.crossJoin(qs.toDF("q"))
      .filter(col("cum") >=
        greatest(lit(1L), ceil(col("q") * col("n_vals")).cast("long")))
      .groupBy((gc :+ col("q")): _*)
      .agg(min(col("bkey")).as("bkey"), max(col("n_vals")).as("n_vals"))
    // midpoint reconstruction mirrors the bucket function: integer
    // octave/offset recovery, then IEEE arithmetic in a FIXED operation
    // order (an oracle replaying the same order reproduces every bit)
    picked
      .withColumn("__i", abs(col("bkey")) - lit(1L))
      .withColumn("__f", expr(s"__i % ${sub}L"))
      .withColumn("__qd",
        expr(s"cast(shiftleft(1L, cast(__i div ${sub}L as int)) as double)"))
      .withColumn("approx_value",
        when(col("bkey") === 0L, lit(0d))
          .otherwise(signum(col("bkey")) *
            ((col("__qd") + (col("__f").cast("double") + lit(0.5d)) *
              col("__qd") / lit(sub.toDouble)) / lit(scale.toDouble))))
      .drop("__i", "__f", "__qd", "bkey")
  }

  /** Per-ROW quantile readout of ONE histogram map column — the scalar
    * twin of [[quantValues]] (same rank definition, same midpoint
    * reconstruction), for surfaces that present a stored histogram
    * under a scalar name (SQL MV reads, [[quantReadoutSql]] callers).
    * Pure built-in HOFs over the ≤64·sub·2-entry map: a cumulative
    * walk of the key-sorted entries picks the first bucket whose count
    * reaches rank ceil(q·n), n being the map's own value sum — the
    * histogram carries its count, no companion column needed. Empty or
    * NULL map (a group whose values all retracted) reads NULL.
    * `qLit` is the SQL literal text of q, kept verbatim so DDL-supplied
    * quantiles round-trip without float reformatting. */
  def quantReadoutSql(mapCol: String, qLit: String, scale: Long = 100L,
                      sub: Int = 16): String = {
    require(qLit.toDouble > 0 && qLit.toDouble <= 1,
      s"quantile must be in (0,1], got $qLit")
    val n = s"aggregate(map_values($mapCol), 0L, (a, v) -> a + v)"
    // midpoint of bucket k: sign(k) * (2^(i div sub) * (1 + (i%sub + 0.5)/sub)) / scale
    // with i = |k|-1 — the quantValues reconstruction, fixed op order
    val mid = s"""CASE WHEN acc.k IS NULL THEN CAST(NULL AS DOUBLE)
      WHEN acc.k = 0L THEN 0.0D
      ELSE CAST(SIGN(acc.k) AS DOUBLE) *
        ((CAST(shiftleft(1L, CAST((ABS(acc.k) - 1) DIV $sub AS INT)) AS DOUBLE)
          + (CAST((ABS(acc.k) - 1) % $sub AS DOUBLE) + 0.5D)
            * CAST(shiftleft(1L, CAST((ABS(acc.k) - 1) DIV $sub AS INT)) AS DOUBLE)
            / CAST($sub AS DOUBLE))
         / CAST($scale AS DOUBLE)) END"""
    s"""CASE WHEN $mapCol IS NULL OR size($mapCol) = 0 THEN CAST(NULL AS DOUBLE)
      ELSE aggregate(
        array_sort(map_entries($mapCol)),
        named_struct('cum', 0L, 'k', CAST(NULL AS BIGINT)),
        (acc, e) -> IF(acc.k IS NOT NULL, acc,
          named_struct('cum', acc.cum + e.value,
            'k', IF(acc.cum + e.value >=
                      GREATEST(1L, CAST(CEIL($qLit * $n) AS BIGINT)),
                    e.key, CAST(NULL AS BIGINT)))),
        acc -> $mid) END"""
  }

  /** Materialize the quantile rollup of `src` into `mv` and persist the
    * definition for [[refreshQuant]]. */
  def createQuant(src: VersionedTable, mv: VersionedTable,
                  groupCols: Seq[String], valueCol: String,
                  scale: Long = 100L, sub: Int = 16): Unit = {
    Maintained.create(RollupDef.Quant.family, src, mv, Map(
      QuantSourceProp -> src.root, QuantGroupProp -> groupCols.mkString(","),
      QuantValueProp -> valueCol, QuantParamsProp -> s"$scale,$sub"))(
      quantRollup(_, groupCols, valueCol, scale, sub))
    ()
  }

  /** Catch the quantile rollup up with its source. Append-only tails
    * absorb as bucket-count additions (`"incremental"`); slices WITH
    * retractions still absorb when the source's change feed is on —
    * deletes subtract from exactly the buckets they once incremented,
    * so the merged histogram EQUALS a rebuild's (`"cdf"` — the
    * capability HLL and CMS rollups structurally lack), and emptied
    * groups drop inside the same merge commit. Only a feed-inexpressible
    * slice (overwrite/restore mid-range, NULL group keys) rebuilds
    * (`"full"`). */
  def refreshQuant(spark: SparkSession, mv: VersionedTable): String = {
    val d = RollupDef.expect[RollupDef.Quant](mv, "quantile rollup")
    def agg(sgn: Column)(df: DataFrame): DataFrame =
      quantAgg(df, d.groupCols, d.value, d.scale, d.sub, sgn)
    val sgn = when(col("_change_type")
        .isin("insert", "update_postimage"), 1L)
      .when(col("_change_type").isin("delete", "update_preimage"), -1L)
    Maintained.refresh(Maintained.Rollup(d, mv, agg(lit(1L)),
      Map("n_rows" -> ((t: Column, u: Column) => t + u),
        "n_vals" -> ((t: Column, u: Column) => t + u),
        // bucket-wise signed addition, zero-count buckets dropped: the
        // merged map is EXACTLY the map a rebuild would produce
        "quant_sketch" -> ((t: Column, u: Column) => map_filter(
          map_zip_with(t, u, (_, a, b) =>
            coalesce(a, lit(0L)) + coalesce(b, lit(0L))),
          (_, x) => x =!= 0L))),
      // emptied groups drop, as a recompute would
      retract = Some(Maintained.Retract(agg(sgn),
        graft.ops.Merge.PostCombine(
          deleteWhen = Some(col("n_rows") === 0L))))))._1
  }

  /** Bounded candidate state: any group whose union exceeded the cap
    * re-ranks its candidates by sketch estimate and keeps topM. Rollup
    * tables are group-count-sized, so this probe is metadata-cheap;
    * the rewrite touches only oversized groups (bucket-COW). */
  private def pruneCandidates(mv: VersionedTable, groupCols: Seq[String],
                              topM: Int, txnApp: String,
                              head: Long): Unit = {
    val oversized = mv.read
      .filter(size(col("top_candidates")) > candidateCap(topM))
    if (!oversized.isEmpty) {
      val prunedArrays = topFreqItems(oversized, groupCols, topM)
        .groupBy(groupCols.map(col): _*)
        .agg(expr("transform(array_sort(collect_list(struct(rank, " +
          "item))), s -> s.item)").as("top_candidates"))
      // full-schema update rows: only top_candidates changes, the
      // sketch and count ride through untouched
      val pruned = oversized.drop("top_candidates")
        .join(prunedArrays, groupCols)
      mv.merge(pruned, groupCols, updateExprs = Map(
        "n_rows" -> ((t: Column, _: Column) => t),
        "freq_sketch" -> ((t: Column, _: Column) => t),
        "top_candidates" -> ((_: Column, u: Column) => u)),
        txn = Some((txnApp + ":prune", head)))
      ()
    }
  }
}
