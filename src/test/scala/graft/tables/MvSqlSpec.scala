package graft.tables

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{call_function, col, count, lit, sum => fsum}

import graft.SparkSpec
import graft.plans.MvRewrite

/** CREATE / REFRESH MATERIALIZED VIEW: the SQL face of the MvRewrite
  * routing rule plus the incremental maintainer. */
class MvSqlSpec extends SparkSpec {
  import spark.implicits._

  private def warehouse(): (Catalog, GraftSql) = {
    val cat = new Catalog(spark, tmpDir("graft-mvsql-"))
    cat.bootstrap()
    (cat, GraftSql(spark, cat))
  }

  private def scansMv(df: DataFrame): Boolean = {
    val ps = MvRewrite.scannedPaths(df)
    ps.nonEmpty && ps.forall(_.contains("/mv"))
  }

  test("CREATE MATERIALIZED VIEW materializes, arms routing, REFRESH " +
    "maintains incrementally on append-only history") {
    val (cat, sql) = warehouse()
    MvRewrite.install(spark)
    val src = cat.table("silver", "sales")
    src.append(Seq(("a", 10L), ("a", 20L), ("b", 5L)).toDF("k", "v"))
    val created = sql.sql(
      "CREATE MATERIALIZED VIEW gold.mv_sales AS SELECT k, " +
        "sum(v) AS sum_v, count(*) AS cnt, min(v) AS min_v, " +
        "max(v) AS max_v FROM silver.sales GROUP BY k")
      .as[(String, String, Long)].head()
    assert(created === (("gold.mv_sales", "create", 0L)))
    val mv = cat.table("gold", "mv_sales")
    try {
      assert(mv.read.orderBy("k").as[(String, Long, Long, Long, Long)]
        .collect().toSeq === Seq(("a", 30L, 2L, 10L, 20L), ("b", 5L, 1L, 5L, 5L)))
      // armed: the aggregate routes to the MV
      val q = src.read.groupBy("k").agg(fsum("v").as("sv"))
      assert(scansMv(q), "expected the aggregate to be served by the MV")

      // append-only increment → REFRESH takes the incremental path
      src.append(Seq(("b", 100L), ("c", 7L)).toDF("k", "v"))
      assert(!scansMv(src.read.groupBy("k").agg(fsum("v"))),
        "stale MV must not serve")
      val r = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_sales")
        .as[(String, String, Long)].head()
      assert(r === (("gold.mv_sales", "incremental", 1L)))
      assert(mv.read.orderBy("k").as[(String, Long, Long, Long, Long)]
        .collect().toSeq === Seq(("a", 30L, 2L, 10L, 20L),
          ("b", 105L, 2L, 5L, 100L), ("c", 7L, 1L, 7L, 7L)))
      val q2 = src.read.groupBy("k").agg(fsum("v").as("sv"))
      assert(scansMv(q2), "refresh must re-arm routing")
      assert(q2.orderBy("k").as[(String, Long)].collect().toSeq ===
        Seq(("a", 30L), ("b", 105L), ("c", 7L)))

      // a second REFRESH with no source movement is a no-op
      val r2 = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_sales")
        .as[(String, String, Long)].head()
      assert(r2._2 === "noop")
    } finally MvRewrite.deregister(mv)
  }

  test("REFRESH falls back to full recompute after non-append DML") {
    val (cat, sql) = warehouse()
    val src = cat.table("silver", "facts")
    src.append(Seq(("a", 10L), ("a", 2L), ("b", 5L)).toDF("k", "v"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_facts AS SELECT k, " +
      "sum(v) AS sum_v, count(*) AS cnt FROM silver.facts GROUP BY k")
    val mv = cat.table("gold", "mv_facts")
    try {
      src.delete(col("v") === 2L) // retraction — deltas can't express it
      val r = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_facts")
        .as[(String, String, Long)].head()
      assert(r._2 === "full")
      assert(mv.read.orderBy("k").as[(String, Long, Long)].collect().toSeq ===
        Seq(("a", 10L, 1L), ("b", 5L, 1L)))
    } finally MvRewrite.deregister(mv)
  }

  test("incremental refresh keeps NULL-combine semantics for sum") {
    val (cat, sql) = warehouse()
    val src = cat.table("silver", "nulls")
    src.append(Seq(("a", Some(3L)), ("b", None): (String, Option[Long]))
      .toDF("k", "v"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_nulls AS SELECT k, " +
      "sum(v) AS sum_v, count(v) AS cnt_v FROM silver.nulls GROUP BY k")
    val mv = cat.table("gold", "mv_nulls")
    try {
      // delta for `a` is all-NULL (sum NULL) and must not erase 3;
      // delta for `b` lands the first non-NULL value over a NULL base
      src.append(Seq(("a", None), ("b", Some(4L)): (String, Option[Long]))
        .toDF("k", "v"))
      val r = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_nulls")
        .as[(String, String, Long)].head()
      assert(r._2 === "incremental")
      assert(mv.read.orderBy("k").as[(String, Option[Long], Long)]
        .collect().toSeq === Seq(("a", Some(3L), 1L), ("b", Some(4L), 1L)))
    } finally MvRewrite.deregister(mv)
  }

  test("CDF-enabled source: REFRESH absorbs updates and deletes as " +
    "signed deltas instead of recomputing") {
    val (cat, sql) = warehouse()
    val src = cat.table("silver", "cdf_src")
    src.enableChangeFeed()
    src.append(Seq(("a", Some(10L)), ("a", Some(2L)), ("b", Some(5L)),
      ("c", Some(1L))).toDF("k", "v"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_cdf AS SELECT k, " +
      "sum(v) AS sum_v, count(*) AS cnt, count(v) AS cnt_v " +
      "FROM silver.cdf_src GROUP BY k")
    val mv = cat.table("gold", "mv_cdf")
    try {
      // retraction mix: reprice one row, delete a whole group, delete
      // one row of a surviving group
      src.update(Map("v" -> (col("v") * 10L)), col("v") === 2L)
      src.delete(col("k") === "c")
      src.delete(col("v") === 5L) // empties b
      val r = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_cdf")
        .as[(String, String, Long)].head()
      assert(r._2 === "cdf", "change-feed source must take the CDF path")
      // == full recompute: a (10 + 20), b and c gone
      assert(mv.read.orderBy("k").as[(String, Long, Long, Long)]
        .collect().toSeq === Seq(("a", 30L, 2L, 2L)))
    } finally MvRewrite.deregister(mv)
  }

  test("CDF retraction leaving only NULL values yields sum NULL, not 0") {
    val (cat, sql) = warehouse()
    val src = cat.table("silver", "cdf_nul")
    src.enableChangeFeed()
    src.append(Seq(("a", Some(7L)), ("a", None): (String, Option[Long]))
      .toDF("k", "v"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_cdfn AS SELECT k, " +
      "sum(v) AS sum_v, count(*) AS cnt, count(v) AS cnt_v " +
      "FROM silver.cdf_nul GROUP BY k")
    val mv = cat.table("gold", "mv_cdfn")
    try {
      src.delete(col("v") === 7L) // a survives with one all-NULL row
      val r = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_cdfn")
        .as[(String, String, Long)].head()
      assert(r._2 === "cdf")
      assert(mv.read.as[(String, Option[Long], Long, Long)]
        .collect().toSeq === Seq(("a", None, 1L, 0L)))
    } finally MvRewrite.deregister(mv)
  }

  test("min/max under retractions refresh per TOUCHED group — untouched " +
    "groups' file-sets are carried, vanished groups drop") {
    val (cat, sql) = warehouse()
    val src = cat.table("silver", "cdf_mm")
    src.enableChangeFeed()
    src.append(Seq(("a", 1L), ("a", 9L), ("a", 20L), ("b", 5L),
      ("gone", 3L)).toDF("k", "v"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_cdfmm AS SELECT k, " +
      "sum(v) AS sum_v, count(*) AS cnt, count(v) AS cnt_v, " +
      "min(v) AS min_v FROM silver.cdf_mm GROUP BY k")
    val mv = cat.table("gold", "mv_cdfmm")
    try {
      // retract the current min of `a` AND empty out `gone`; `b` is
      // untouched by the slice
      src.delete(col("v") === 1L || col("k") === "gone")
      val r = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_cdfmm")
        .as[(String, String, Long)].head()
      assert(r._2 === "groups",
        "min/max retraction must take the per-touched-group path")
      assert(mv.read.orderBy("k").as[(String, Long, Long, Long, Long)]
        .collect().toSeq ===
          Seq(("a", 29L, 2L, 2L, 9L), ("b", 5L, 1L, 1L, 5L)))
      // O(changed groups) evidence needs a BUCKETED MV (the first merge
      // migrates the layout — one full rewrite, copy-on-write after):
      // a second retraction touching only `a` must carry `b`'s cell
      // file-set into the new snapshot verbatim
      val before = mv.history.last.fileSets.toSet
      src.delete(col("v") === 9L) // a's min retracts again
      val r2 = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_cdfmm")
        .as[(String, String, Long)].head()
      assert(r2._2 === "groups")
      assert(mv.read.orderBy("k").as[(String, Long, Long, Long, Long)]
        .collect().toSeq ===
          Seq(("a", 20L, 1L, 1L, 20L), ("b", 5L, 1L, 1L, 5L)))
      val after = mv.history.last.fileSets.toSet
      assert(before.intersect(after).nonEmpty,
        "untouched MV cells must be carried, not recomputed " +
          s"(before=$before after=$after)")
      // replay safety: a refresh with no movement is a noop
      val r3 = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_cdfmm")
        .as[(String, String, Long)].head()
      assert(r3._2 === "noop")
      assert(mv.read.count() === 2L)
    } finally MvRewrite.deregister(mv)
  }

  test("NULL group values route to full recompute, never a NULL-keyed merge") {
    val (cat, sql) = warehouse()
    val src = cat.table("silver", "nk")
    src.append(Seq((Some("a"), 1L), (None, 2L): (Option[String], Long))
      .toDF("k", "v"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_nk AS SELECT k, " +
      "sum(v) AS sum_v, count(*) AS cnt FROM silver.nk GROUP BY k")
    val mv = cat.table("gold", "mv_nk")
    try {
      // the increment touches the NULL group: a merge would INSERT a
      // second NULL row every refresh (NULL never matches a merge key)
      src.append(Seq((None, 10L): (Option[String], Long)).toDF("k", "v"))
      val r = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_nk")
        .as[(String, String, Long)].head()
      assert(r._2 === "full")
      assert(mv.read.orderBy("k").as[(Option[String], Long, Long)]
        .collect().toSeq === Seq((None, 12L, 2L), (Some("a"), 1L, 1L)))
      // NULL-free increments still take the incremental path
      src.append(Seq((Some("a"), 5L): (Option[String], Long)).toDF("k", "v"))
      val r2 = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_nk")
        .as[(String, String, Long)].head()
      assert(r2._2 === "incremental")
      assert(mv.read.orderBy("k").as[(Option[String], Long, Long)]
        .collect().toSeq === Seq((None, 12L, 2L), (Some("a"), 6L, 2L)))
    } finally MvRewrite.deregister(mv)
  }

  test("crash-replay between refresh merge and covered-version bump is " +
    "a no-op (txn marker), not a double-count") {
    val (cat, sql) = warehouse()
    val src = cat.table("silver", "cr")
    src.append(Seq(("a", 1L)).toDF("k", "v"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_cr AS SELECT k, " +
      "sum(v) AS sum_v, count(*) AS cnt FROM silver.cr GROUP BY k")
    val mv = cat.table("gold", "mv_cr")
    try {
      src.append(Seq(("a", 10L)).toDF("k", "v"))
      sql.sql("REFRESH MATERIALIZED VIEW gold.mv_cr")
      assert(mv.read.as[(String, Long, Long)].head() === (("a", 11L, 2L)))
      // simulate the crash window: the merge committed but the covered
      // version never advanced — the retry derives its resume point
      // from the merge's txn ledger, recognizes the slice as already
      // absorbed (noop), and repairs the stale property
      mv.setProperties(Map(GraftSql.MvVersionProp -> "0"))
      val r = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_cr")
        .as[(String, String, Long)].head()
      assert(r._2 === "noop")
      assert(mv.read.as[(String, Long, Long)].head() === (("a", 11L, 2L)),
        "replayed delta must not double-apply")
      assert(mv.properties(GraftSql.MvVersionProp) === "1",
        "retry must repair the stale covered-version property")

      // the harder replay: the SOURCE ADVANCES before the retry. A
      // property-based resume would rebuild the whole (0, 2] delta —
      // whose merge passes the txn replay guard (ledger 1 < 2) — and
      // double-count v1's rows; the ledger-based resume applies only
      // the uncovered (1, 2] tail.
      mv.setProperties(Map(GraftSql.MvVersionProp -> "0"))
      src.append(Seq(("a", 100L)).toDF("k", "v"))
      val r2 = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_cr")
        .as[(String, String, Long)].head()
      assert(r2._2 === "incremental")
      assert(mv.read.as[(String, Long, Long)].head() === (("a", 111L, 3L)),
        "retry after source advance must merge only the uncovered tail")
    } finally MvRewrite.deregister(mv)
  }

  test("CREATE OR REPLACE with a different GROUP BY survives a " +
    "previously-bucketed MV") {
    val (cat, sql) = warehouse()
    val src = cat.table("silver", "rg")
    src.append(Seq(("a", "x", 1L), ("b", "y", 2L)).toDF("k1", "k2", "v"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_rg AS SELECT k1, " +
      "sum(v) AS sum_v, count(*) AS cnt FROM silver.rg GROUP BY k1")
    // an incremental refresh buckets the MV on k1
    src.append(Seq(("a", "x", 3L)).toDF("k1", "k2", "v"))
    sql.sql("REFRESH MATERIALIZED VIEW gold.mv_rg")
    // replace with a DIFFERENT group set; later refreshes merge on k2
    sql.sql("CREATE OR REPLACE MATERIALIZED VIEW gold.mv_rg AS SELECT k2, " +
      "sum(v) AS sum_v, count(*) AS cnt FROM silver.rg GROUP BY k2")
    val mv = cat.table("gold", "mv_rg")
    try {
      src.append(Seq(("c", "y", 5L)).toDF("k1", "k2", "v"))
      val r = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_rg")
        .as[(String, String, Long)].head()
      assert(r._2 === "incremental")
      assert(mv.read.orderBy("k2").as[(String, Long, Long)]
        .collect().toSeq === Seq(("x", 4L, 2L), ("y", 7L, 2L)))
    } finally MvRewrite.deregister(mv)
  }

  test("CDF path falls back to full recompute when the slice holds a " +
    "commit the feed cannot express (overwrite)") {
    val (cat, sql) = warehouse()
    val src = cat.table("silver", "cdf_ow")
    src.enableChangeFeed()
    src.append(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_cdfow AS SELECT k, " +
      "sum(v) AS sum_v, count(*) AS cnt, count(v) AS cnt_v " +
      "FROM silver.cdf_ow GROUP BY k")
    val mv = cat.table("gold", "mv_cdfow")
    try {
      src.overwrite(Seq(("a", 10L), ("c", 3L)).toDF("k", "v"))
      val r = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_cdfow")
        .as[(String, String, Long)].head()
      assert(r._2 === "full",
        "an overwrite in the slice must recompute, not crash the feed read")
      assert(mv.read.orderBy("k").as[(String, Long, Long, Long)]
        .collect().toSeq === Seq(("a", 10L, 1L, 1L), ("c", 3L, 1L, 1L)))
    } finally MvRewrite.deregister(mv)
  }

  test("ALTER TABLE RENAME TO un-arms a routed MV before moving it") {
    val (cat, sql) = warehouse()
    MvRewrite.install(spark)
    val src = cat.table("silver", "rn")
    src.append(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_rn AS SELECT k, " +
      "sum(v) AS s FROM silver.rn GROUP BY k")
    assert(scansMv(src.read.groupBy("k").agg(fsum("v"))))
    sql.sql("ALTER TABLE gold.mv_rn RENAME TO gold.mv_rn2")
    val q = src.read.groupBy("k").agg(fsum("v").as("s"))
    assert(!scansMv(q), "a moved-away MV must not serve")
    assert(q.orderBy("k").as[(String, Long)].collect().toSeq ===
      Seq(("a", 1L), ("b", 2L)))
    MvRewrite.deregister(cat.table("gold", "mv_rn2"))
  }

  test("closed grammar: bad select items and avg are refused loudly") {
    val (cat, sql) = warehouse()
    val src = cat.table("silver", "g")
    src.append(Seq(("a", 1L)).toDF("k", "v"))
    val e1 = intercept[RuntimeException](sql.sql(
      "CREATE MATERIALIZED VIEW gold.mv_g AS SELECT k, avg(v) AS a " +
        "FROM silver.g GROUP BY k"))
    assert(e1.getMessage.contains("avg is derived"))
    val e2 = intercept[IllegalArgumentException](sql.sql(
      "CREATE MATERIALIZED VIEW gold.mv_g AS SELECT k, sum(*) AS s " +
        "FROM silver.g GROUP BY k"))
    assert(e2.getMessage.contains("not a materializable"))
    val e3 = intercept[IllegalArgumentException](sql.sql(
      "CREATE MATERIALIZED VIEW gold.mv_g AS SELECT sum(v) AS s " +
        "FROM silver.g GROUP BY k"))
    assert(e3.getMessage.contains("must equal GROUP BY"))
    // plain CREATE refuses an existing target; OR REPLACE replaces
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_g AS SELECT k, " +
      "sum(v) AS s FROM silver.g GROUP BY k")
    val e4 = intercept[IllegalArgumentException](sql.sql(
      "CREATE MATERIALIZED VIEW gold.mv_g AS SELECT k, sum(v) AS s " +
        "FROM silver.g GROUP BY k"))
    assert(e4.getMessage.contains("OR REPLACE"))
    sql.sql("CREATE OR REPLACE MATERIALIZED VIEW gold.mv_g AS SELECT k, " +
      "sum(v) AS s FROM silver.g GROUP BY k")
    MvRewrite.deregister(cat.table("gold", "mv_g"))
  }

  test("a multi-arm source (post-widening) materializes AND arms " +
    "routing — the union-of-arms read serves from the MV") {
    val (cat, sql) = warehouse()
    MvRewrite.install(spark)
    val src = cat.table("silver", "wd")
    src.append(Seq(("a", 1), ("b", 2)).toDF("k", "v"))
    src.widenColumnType("v", org.apache.spark.sql.types.LongType)
    src.append(Seq(("b", 5_000_000_000L)).toDF("k", "v"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_wd AS SELECT k, " +
      "sum(v) AS sum_v, count(*) AS cnt FROM silver.wd GROUP BY k")
    val mv = cat.table("gold", "mv_wd")
    try {
      // the MV itself is correct
      assert(mv.read.orderBy("k").as[(String, Long, Long)].collect().toSeq
        === Seq(("a", 1L, 1L), ("b", 5_000_000_002L, 2L)))
      // the union-arm read decomposes to a registrable signature:
      // routing serves from the MV, byte-identical
      val q = src.read.groupBy("k").agg(fsum("v").as("s"))
      assert(scansMv(q), "post-widening registration must arm routing")
      assert(q.orderBy("k").as[(String, Long)].collect().toSeq ===
        Seq(("a", 1L), ("b", 5_000_000_002L)))
      // a data commit still un-arms (freshness unchanged by arming DDL
      // shapes)
      src.append(Seq(("a", 10L)).toDF("k", "v"))
      val q2 = src.read.groupBy("k").agg(fsum("v").as("s"))
      assert(!scansMv(q2))
      assert(q2.orderBy("k").as[(String, Long)].collect().toSeq ===
        Seq(("a", 11L), ("b", 5_000_000_002L)))
    } finally MvRewrite.deregister(mv)
  }

  test("maintenance commits: OPTIMIZE-only slice refreshes as a noop and " +
       "re-arms; appends interleaved with compaction stay incremental") {
    val (cat, sql) = warehouse()
    MvRewrite.install(spark)
    val src = cat.table("silver", "mnt") // NOT CDF-enabled on purpose
    src.append(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_mnt AS SELECT k, " +
      "sum(v) AS s, count(*) AS c FROM silver.mnt GROUP BY k")
    val mv = cat.table("gold", "mv_mnt")
    try {
      // pure-maintenance slice: nothing to absorb, version still covers
      src.compact()
      val r1 = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_mnt")
        .as[(String, String, Long)].head()
      assert(r1._2 === "noop",
        "a data-identical maintenance slice must not recompute")
      assert(scansMv(src.read.groupBy("k").agg(fsum("v"))),
        "refresh must re-arm on the compacted snapshot")
      // appends + compaction interleaved: the incremental path holds
      // (this source has no CDF, so the old behavior was a FULL
      // recompute after any compaction)
      src.append(Seq(("a", 10L)).toDF("k", "v"))
      src.compact()
      src.append(Seq(("c", 5L)).toDF("k", "v"))
      val r2 = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_mnt")
        .as[(String, String, Long)].head()
      assert(r2._2 === "incremental")
      assert(mv.read.orderBy("k").as[(String, Long, Long)].collect().toSeq
        === Seq(("a", 11L, 2L), ("b", 2L, 1L), ("c", 5L, 1L)))
    } finally MvRewrite.deregister(mv)
  }

  test("source-column DDL under a registered MV: agg renames re-key the " +
       "definition, group renames and referenced drops refuse, " +
       "uninvolved DDL refreshes as a noop") {
    val (cat, sql) = warehouse()
    MvRewrite.install(spark)
    val src = cat.table("silver", "ddl")
    src.append(Seq(("a", 1L, "x"), ("b", 2L, "y")).toDF("k", "v", "extra"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_ddl AS SELECT k, " +
      "sum(v) AS s, count(*) AS c FROM silver.ddl GROUP BY k")
    val mv = cat.table("gold", "mv_ddl")
    try {
      // refusals: group-column rename, referenced-column drop
      val e1 = intercept[IllegalArgumentException](sql.sql(
        "ALTER TABLE silver.ddl RENAME COLUMN k TO kk"))
      assert(e1.getMessage.contains("GROUP or WHERE column"))
      val e2 = intercept[IllegalArgumentException](sql.sql(
        "ALTER TABLE silver.ddl DROP COLUMN v"))
      assert(e2.getMessage.contains("referenced by materialized view"))
      // uninvolved rename: metadata-only slice → REFRESH is a noop that
      // still re-covers and re-arms
      sql.sql("ALTER TABLE silver.ddl RENAME COLUMN extra TO renamed")
      val r1 = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_ddl")
        .as[(String, String, Long)].head()
      assert(r1._2 === "noop")
      assert(scansMv(src.read.groupBy("k").agg(fsum("v"))))
      // AGG column rename re-keys the stored definition: later appends
      // (carrying the NEW name) still refresh incrementally
      sql.sql("ALTER TABLE silver.ddl RENAME COLUMN v TO val")
      src.append(Seq(("a", 10L, "z")).toDF("k", "val", "renamed"))
      val r2 = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_ddl")
        .as[(String, String, Long)].head()
      assert(r2._2 === "incremental",
        "re-keyed agg spec must keep the incremental path")
      assert(mv.read.orderBy("k").as[(String, Long, Long)].collect().toSeq
        === Seq(("a", 11L, 2L), ("b", 2L, 1L)))
      // and the routing serves the NEW-name aggregate after the refresh
      val q = src.read.groupBy("k").agg(fsum("val").as("s"))
      assert(scansMv(q))
      assert(q.orderBy("k").as[(String, Long)].collect().toSeq ===
        Seq(("a", 11L), ("b", 2L)))
    } finally MvRewrite.deregister(mv)
  }

  test("SHOW MATERIALIZED VIEWS lists definitions, covered versions and " +
       "freshness") {
    val (cat, sql) = warehouse()
    val src = cat.table("silver", "smv")
    src.append(Seq(("a", 1L)).toDF("k", "v"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_smv AS SELECT k, " +
      "sum(v) AS s, count(*) AS c FROM silver.smv GROUP BY k")
    val mv = cat.table("gold", "mv_smv")
    try {
      val r1 = sql.sql("SHOW MATERIALIZED VIEWS")
        .as[(String, String, String, Long, Boolean, String)].collect().toSeq
      assert(r1 === Seq(("gold.mv_smv", "k", "sum:v:s;count:*:c", 0L, true, "")))
      src.append(Seq(("b", 2L)).toDF("k", "v"))
      val r2 = sql.sql("SHOW MATERIALIZED VIEWS")
        .as[(String, String, String, Long, Boolean, String)].head()
      assert(!r2._5, "a moved source reads as stale")
      sql.sql("REFRESH MATERIALIZED VIEW gold.mv_smv")
      assert(sql.sql("SHOW MATERIALIZED VIEWS")
        .as[(String, String, String, Long, Boolean, String)].head()._5)
      // join MVs list their keys and decoded dim filter; once their dim
      // moves they read stale and stay out of armMaterializedViews. A
      // sketch rollup is not a materialized view and is not listed
      val fact = cat.table("silver", "jshf")
      val dim = cat.table("silver", "jshd")
      fact.append(Seq((1, 10L), (2, 5L)).toDF("team", "pts"))
      dim.append(Seq((1, "red", true), (2, "blue", true))
        .toDF("team", "color", "cur"))
      sql.sql("CREATE MATERIALIZED VIEW gold.mv_jsh AS SELECT color, " +
        "sum(pts) AS s, count(*) AS c FROM silver.jshf JOIN silver.jshd " +
        "USING (team) WHERE jshd.cur = true AND jshd.color <> 'x;y' " +
        "GROUP BY color")
      sql.sql("CREATE MATERIALIZED VIEW gold.mv_jsh_all AS SELECT color, " +
        "sum(pts) AS s FROM silver.jshf JOIN silver.jshd USING (team) " +
        "GROUP BY color")
      graft.ops.Sketches.create(src, cat.table("gold", "sk_smv"), Seq("k"), "v")
      // the dim-filtered join MV is fresh but can never serve a query,
      // so it is not reported armed
      val armed = sql.armMaterializedViews()
      assert(armed.contains("gold.mv_jsh_all"))
      assert(!armed.contains("gold.mv_jsh"), s"armed: $armed")
      dim.append(Seq((3, "teal", true)).toDF("team", "color", "cur"))
      val rows = sql.sql("SHOW MATERIALIZED VIEWS")
        .as[(String, String, String, Long, Boolean, String)].collect()
        .sortBy(_._1).toSeq
      assert(rows === Seq(
        ("gold.mv_jsh", "color", "sum:pts:s;count:*:c", 0L, false,
          "join:team=team where:(cur = true) AND (color <> 'x;y')"),
        ("gold.mv_jsh_all", "color", "sum:pts:s", 0L, false,
          "join:team=team"),
        ("gold.mv_smv", "k", "sum:v:s;count:*:c", 1L, true, "")))
      assert(!sql.armMaterializedViews().exists(_.startsWith("gold.mv_jsh")))
    } finally {
      MvRewrite.deregister(mv)
      Seq("mv_jsh", "mv_jsh_all").foreach(n =>
        MvRewrite.deregister(cat.table("gold", n)))
    }
  }

  test("armMaterializedViews re-arms fresh MVs after a process restart " +
       "without a REFRESH; stale MVs stay un-armed") {
    val (cat, sql) = warehouse()
    MvRewrite.install(spark)
    val fresh = cat.table("silver", "armf")
    val stale = cat.table("silver", "arms")
    fresh.append(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"))
    stale.append(Seq(("a", 1L)).toDF("k", "v"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_armf AS SELECT k, " +
      "sum(v) AS s FROM silver.armf GROUP BY k")
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_arms AS SELECT k, " +
      "sum(v) AS s FROM silver.arms GROUP BY k")
    val mvF = cat.table("gold", "mv_armf")
    val mvS = cat.table("gold", "mv_arms")
    try {
      stale.append(Seq(("a", 10L)).toDF("k", "v")) // mv_arms now stale
      // simulate the restart: the in-memory registry empties
      MvRewrite.deregister(mvF); MvRewrite.deregister(mvS)
      assert(!scansMv(fresh.read.groupBy("k").agg(fsum("v"))))
      // a new session's catalog-backed GraftSql re-arms from properties
      val armed = GraftSql(spark, cat).armMaterializedViews()
      assert(armed === Seq("gold.mv_armf"),
        s"only the fresh MV may re-arm, got $armed")
      assert(scansMv(fresh.read.groupBy("k").agg(fsum("v"))))
      val q = stale.read.groupBy("k").agg(fsum("v").as("s"))
      assert(!scansMv(q), "a stale MV must never re-arm")
      assert(q.as[(String, Long)].head()._2 === 11L)
    } finally { MvRewrite.deregister(mvF); MvRewrite.deregister(mvS) }
  }

  test("a definition damaged through TBLPROPERTIES breaks neither reads, " +
       "other tables' DDL, SHOW MATERIALIZED VIEWS nor DROP TABLE") {
    val (cat, sql) = warehouse()
    val src = cat.table("silver", "dmg")
    src.append(Seq(("a", 1L)).toDF("k", "v"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_dmg AS SELECT k, " +
      "sum(v) AS s FROM silver.dmg GROUP BY k")
    sql.sql("ALTER TABLE gold.mv_dmg UNSET TBLPROPERTIES ('graft.mv.group')")
    assert(sql.sql("SELECT s FROM gold.mv_dmg").as[Long].collect().toSeq ===
      Seq(1L))
    cat.registerViews()
    // nor column DDL on other tables, nor the catalog listing
    cat.table("silver", "other").append(Seq((1, 2)).toDF("a", "b"))
    sql.sql("ALTER TABLE silver.other RENAME COLUMN b TO c")
    assert(sql.sql("SHOW MATERIALIZED VIEWS").count() === 0L)
    sql.sql("DROP TABLE gold.mv_dmg")
    assert(!cat.table("gold", "mv_dmg").exists)
  }

  test("DROP TABLE un-arms a routed MV before deleting it") {
    val (cat, sql) = warehouse()
    MvRewrite.install(spark)
    val src = cat.table("silver", "dr")
    src.append(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_dr AS SELECT k, " +
      "sum(v) AS s FROM silver.dr GROUP BY k")
    assert(scansMv(src.read.groupBy("k").agg(fsum("v"))))
    sql.sql("DROP TABLE gold.mv_dr")
    // the routed path is gone — the query must fall back AND still run
    val q = src.read.groupBy("k").agg(fsum("v").as("s"))
    assert(!scansMv(q))
    assert(q.orderBy("k").as[(String, Long)].collect().toSeq ===
      Seq(("a", 1L), ("b", 2L)))
  }

  test("filtered MV: WHERE materializes the predicate slice; " +
       "append-refresh stays incremental and filtered") {
    val (cat, sql) = warehouse()
    val src = cat.table("silver", "fsales")
    src.append(Seq(("a", 10L, "eu"), ("a", 20L, "us"), ("b", 5L, "eu"))
      .toDF("k", "v", "r"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_fsales AS SELECT k, " +
      "sum(v) AS sum_v, count(*) AS cnt FROM silver.fsales " +
      "WHERE r = 'eu' GROUP BY k")
    val mv = cat.table("gold", "mv_fsales")
    assert(mv.read.orderBy("k").as[(String, Long, Long)].collect().toSeq ===
      Seq(("a", 10L, 1L), ("b", 5L, 1L)))
    // append straddling the predicate: only the eu rows absorb
    src.append(Seq(("a", 100L, "eu"), ("b", 7L, "us")).toDF("k", "v", "r"))
    val mode = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_fsales")
      .as[(String, String, Long)].head()._2
    assert(mode === "incremental")
    assert(mv.read.orderBy("k").as[(String, Long, Long)].collect().toSeq ===
      Seq(("a", 110L, 2L), ("b", 5L, 1L)))
    // filtered definitions are queried by name, never auto-routed
    val q = src.read.filter(col("r") === "eu").groupBy("k")
      .agg(fsum("v").as("sum_v"))
    assert(!scansMv(q))
    // the predicate is visible in SHOW MATERIALIZED VIEWS
    assert(sql.sql("SHOW MATERIALIZED VIEWS")
      .where("mv = 'gold.mv_fsales'")
      .select("where").as[String].head() === "r = 'eu'")
  }

  test("filtered MV: signed-delta CDF refresh handles rows crossing " +
       "the predicate boundary in both directions") {
    val (cat, sql) = warehouse()
    val src = cat.table("silver", "fcdf")
    src.enableChangeFeed()
    src.append(Seq((1L, "a", 10L, "eu"), (2L, "a", 20L, "us"),
      (3L, "b", 5L, "eu")).toDF("id", "k", "v", "r"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_fcdf AS SELECT k, " +
      "sum(v) AS sum_v, count(v) AS cnt_v, count(*) AS cnt " +
      "FROM silver.fcdf WHERE r = 'eu' GROUP BY k")
    val mv = cat.table("gold", "mv_fcdf")
    // id=1 leaves the slice (eu->us), id=2 enters it (us->eu)
    src.update(Map("r" -> lit("us")), col("id") === 1L)
    src.update(Map("r" -> lit("eu")), col("id") === 2L)
    val mode = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_fcdf")
      .as[(String, String, Long)].head()._2
    assert(mode === "cdf")
    assert(mv.read.orderBy("k").as[(String, Long, Long, Long)]
      .collect().toSeq ===
      Seq(("a", 20L, 1L, 1L), ("b", 5L, 1L, 1L)))
  }

  test("filtered MV: min/max under retractions recomputes only touched " +
       "groups, within the predicate slice") {
    val (cat, sql) = warehouse()
    val src = cat.table("silver", "fmm")
    src.enableChangeFeed()
    src.append(Seq((1L, "a", 10L, "eu"), (2L, "a", 9L, "eu"),
      (3L, "b", 5L, "eu"), (4L, "a", 99L, "us")).toDF("id", "k", "v", "r"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_fmm AS SELECT k, " +
      "max(v) AS max_v, count(*) AS cnt FROM silver.fmm " +
      "WHERE r = 'eu' GROUP BY k")
    val mv = cat.table("gold", "mv_fmm")
    assert(mv.read.orderBy("k").as[(String, Long, Long)].collect().toSeq ===
      Seq(("a", 10L, 2L), ("b", 5L, 1L)))
    // delete the eu max of group a; the us row must never leak in
    src.delete(col("id") === 1L)
    val mode = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_fmm")
      .as[(String, String, Long)].head()._2
    assert(mode === "groups")
    assert(mv.read.orderBy("k").as[(String, Long, Long)].collect().toSeq ===
      Seq(("a", 9L, 1L), ("b", 5L, 1L)))
  }

  test("filtered MV: keyword-shaped literals in the predicate parse " +
       "correctly; nondeterministic predicates refuse") {
    val (cat, sql) = warehouse()
    val src = cat.table("silver", "fparse")
    src.append(Seq(("a", 1L, "x GROUP BY y"), ("a", 2L, "plain"))
      .toDF("k", "v", "note"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_fparse AS SELECT k, " +
      "sum(v) AS sum_v, count(*) AS cnt FROM silver.fparse " +
      "WHERE note = 'x GROUP BY y' GROUP BY k")
    assert(cat.table("gold", "mv_fparse").read
      .as[(String, Long, Long)].head() === (("a", 1L, 1L)))
    val e = intercept[IllegalArgumentException](sql.sql(
      "CREATE MATERIALIZED VIEW gold.mv_frand AS SELECT k, " +
        "count(*) AS cnt FROM silver.fparse WHERE rand() > 0.5 GROUP BY k"))
    assert(e.getMessage.contains("deterministic"))
  }

  test("REPLACE of an armed unfiltered MV by a filtered definition " +
       "deregisters routing - queries fall back to the source") {
    val (cat, sql) = warehouse()
    MvRewrite.install(spark)
    val src = cat.table("silver", "frep")
    src.append(Seq(("a", 10L, "eu"), ("a", 20L, "us"), ("b", 5L, "eu"))
      .toDF("k", "v", "r"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_frep AS SELECT k, " +
      "sum(v) AS sum_v, count(*) AS cnt FROM silver.frep GROUP BY k")
    val mv = cat.table("gold", "mv_frep")
    try {
      val q = () => src.read.groupBy("k").agg(fsum("v").as("sum_v"))
      assert(scansMv(q()), "unfiltered definition serves")
      sql.sql("CREATE OR REPLACE MATERIALIZED VIEW gold.mv_frep AS " +
        "SELECT k, sum(v) AS sum_v, count(*) AS cnt FROM silver.frep " +
        "WHERE r = 'eu' GROUP BY k")
      // the source snapshot is UNCHANGED - only an explicit deregister
      // can stop the old entry from serving the filtered materialization
      assert(!scansMv(q()), "stale registration must not serve")
      assert(q().orderBy("k").as[(String, Long)].collect().toSeq ===
        Seq(("a", 30L), ("b", 5L)), "full-table aggregate stays correct")
    } finally MvRewrite.deregister(mv)
  }

  test("WHERE-predicate columns are protected from RENAME and DROP " +
       "like group columns") {
    val (cat, sql) = warehouse()
    val src = cat.table("silver", "fprot")
    src.append(Seq(("a", 1L, "eu")).toDF("k", "v", "r"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_fprot AS SELECT k, " +
      "sum(v) AS sum_v, count(*) AS cnt FROM silver.fprot " +
      "WHERE r = 'eu' GROUP BY k")
    val eRen = intercept[IllegalArgumentException](sql.sql(
      "ALTER TABLE silver.fprot RENAME COLUMN r TO region"))
    assert(eRen.getMessage.contains("WHERE column"))
    val eDrop = intercept[IllegalArgumentException](sql.sql(
      "ALTER TABLE silver.fprot DROP COLUMN r"))
    assert(eDrop.getMessage.contains("materialized view"))
    // an uninvolved column still renames freely
    sql.sql("ALTER TABLE silver.fprot RENAME COLUMN v TO val")
  }

  // ----------------------------------------------------- join-form MVs

  private def joinWarehouse(): (Catalog, GraftSql) = {
    val (cat, sql) = warehouse()
    val fact = cat.table("silver", "jfact")
    val dim = cat.table("silver", "jdim")
    fact.enableChangeFeed()
    fact.append(Seq((1, 10L), (1, 20L), (2, 5L), (9, 99L))
      .toDF("team", "pts"))
    dim.append(Seq((1, "red"), (2, "blue")).toDF("team", "color"))
    (cat, sql)
  }

  private def joinQ2(cat: Catalog): DataFrame = {
    val f = cat.table("silver", "sfact").read
    val d = cat.table("silver", "sdim").read
    f.join(d, f("team") === d("team")).groupBy(d("color"))
      .agg(fsum("pts").as("sv"))
  }

  private def joinQ(cat: Catalog): DataFrame = {
    val f = cat.table("silver", "jfact").read
    val d = cat.table("silver", "jdim").read
    f.join(d, f("team") === d("team")).groupBy(d("color"))
      .agg(fsum("pts").as("sv"))
  }

  test("join-form CREATE MATERIALIZED VIEW (USING) materializes, arms " +
       "routing, and REFRESH absorbs fact DML as CDF deltas") {
    val (cat, sql) = joinWarehouse()
    MvRewrite.install(spark)
    val created = sql.sql(
      "CREATE MATERIALIZED VIEW gold.mv_jrollup AS SELECT color, " +
        "sum(pts) AS sum_pts, count(pts) AS cnt_pts, count(*) AS cnt " +
        "FROM silver.jfact JOIN silver.jdim USING (team) GROUP BY color")
      .as[(String, String, Long)].head()
    assert(created === (("gold.mv_jrollup", "create", 0L)))
    val mv = cat.table("gold", "mv_jrollup")
    try {
      assert(mv.read.orderBy("color")
        .as[(String, Long, Long, Long)].collect().toSeq ===
        Seq(("blue", 5L, 1L, 1L), ("red", 30L, 2L, 2L)))
      assert(scansMv(joinQ(cat)), "join query must route to the MV")
      // retraction + append absorb incrementally
      val fact = cat.table("silver", "jfact")
      fact.append(Seq((2, 50L)).toDF("team", "pts"))
      fact.delete(col("pts") === 10L)
      assert(!scansMv(joinQ(cat)), "stale MV must not serve")
      val refreshed = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_jrollup")
        .as[(String, String, Long)].head()
      assert(refreshed._2 === "cdf",
        s"expected incremental maintenance, got ${refreshed._2}")
      assert(mv.read.orderBy("color")
        .as[(String, Long, Long, Long)].collect().toSeq ===
        Seq(("blue", 55L, 2L, 2L), ("red", 20L, 1L, 1L)))
      assert(scansMv(joinQ(cat)), "REFRESH must re-arm routing")
      assert(mv.history.count(_.action == "overwrite") === 1,
        "CDF refresh must not rewrite the MV")
      // SHOW lists the join definition with both-sides freshness
      val row = sql.sql("SHOW MATERIALIZED VIEWS")
        .filter(col("mv") === "gold.mv_jrollup")
        .select("group_cols", "fresh", "where")
        .as[(String, Boolean, String)].head()
      assert(row === (("color", true, "join:team=team")))
      // a dim commit reads as stale in SHOW and refreshes full
      cat.table("silver", "jdim").append(Seq((9, "green"))
        .toDF("team", "color"))
      assert(!sql.sql("SHOW MATERIALIZED VIEWS")
        .filter(col("mv") === "gold.mv_jrollup")
        .select("fresh").as[Boolean].head())
      assert(sql.sql("REFRESH MATERIALIZED VIEW gold.mv_jrollup")
        .select("mode").as[String].head() === "full")
      assert(mv.read.filter(col("color") === "green")
        .select("sum_pts").as[Long].head() === 99L)
    } finally MvRewrite.deregister(mv)
  }

  test("join-form WHERE: dim-side predicates become DimSide filters — " +
       "the SCD2 current-view MV in SQL, maintained from dim batches") {
    val (cat, sql) = warehouse()
    MvRewrite.install(spark)
    val fact = cat.table("silver", "sfact")
    val dim = cat.table("silver", "sdim")
    fact.enableChangeFeed(); dim.enableChangeFeed()
    fact.append(Seq((1, 10L), (1, 20L), (2, 5L), (3, 7L))
      .toDF("team", "pts"))
    graft.ops.Scd2.applyBatchToTable(dim,
      Seq((1, "red"), (2, "blue"), (3, "red")).toDF("team", "color"),
      keys = Seq("team"), tracked = Seq("color"),
      batchTs = lit("2026-01-01 00:00:00"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_jscd AS SELECT color, " +
      "sum(pts) AS sum_pts, count(pts) AS cnt_pts, count(*) AS cnt " +
      "FROM silver.sfact JOIN silver.sdim USING (team) " +
      "WHERE sdim.is_current GROUP BY color")
    val mv = cat.table("gold", "mv_jscd")
    try {
      def current(): Seq[(String, Long, Long)] = {
        val f = fact.read; val d = dim.read.filter(col("is_current"))
        f.join(d, f("team") === d("team")).groupBy(d("color"))
          .agg(fsum("pts").as("sum_pts"), count(lit(1)).as("cnt"))
          .orderBy("color").as[(String, Long, Long)].collect().toSeq
      }
      assert(mv.read.select("color", "sum_pts", "cnt").orderBy("color")
        .as[(String, Long, Long)].collect().toSeq === current())
      // filtered definitions must never serve the unfiltered join
      assert(!scansMv(joinQ2(cat)),
        "a query over ALL dim versions must not read the filtered MV")
      // SHOW surfaces the dim filter
      assert(sql.sql("SHOW MATERIALIZED VIEWS")
        .filter(col("mv") === "gold.mv_jscd").select("where")
        .as[String].head().contains("where:"))
      // SCD2 batch: team 1 re-colors (close + open) → dim-side delta
      graft.ops.Scd2.applyBatchToTable(dim,
        Seq((1, "gold")).toDF("team", "color"),
        keys = Seq("team"), tracked = Seq("color"),
        batchTs = lit("2026-02-01 00:00:00"))
      assert(sql.sql("REFRESH MATERIALIZED VIEW gold.mv_jscd")
        .select("mode").as[String].head() === "cdf-dims")
      assert(mv.read.select("color", "sum_pts", "cnt").orderBy("color")
        .as[(String, Long, Long)].collect().toSeq === current())
      assert(mv.read.filter(col("color") === "gold")
        .select("sum_pts").as[Long].head() === 30L)
      assert(mv.history.count(_.action == "overwrite") === 1,
        "an SCD2 dim batch must absorb as a delta, not a rebuild")
    } finally MvRewrite.deregister(mv)
  }

  test("join-form WHERE shape errors: fact-side, cross-dim, unqualified " +
       "and unknown-qualifier conjuncts are refused at CREATE") {
    val (cat, sql) = joinWarehouse()
    def bad(stmt: String): String =
      intercept[RuntimeException](sql.sql(stmt)).getMessage
    assert(bad("CREATE MATERIALIZED VIEW gold.mv_jw1 AS SELECT color, " +
      "count(*) AS cnt FROM silver.jfact JOIN silver.jdim USING (team) " +
      "WHERE jfact.pts > 5 GROUP BY color").contains("FACT side"))
    assert(bad("CREATE MATERIALIZED VIEW gold.mv_jw2 AS SELECT color, " +
      "count(*) AS cnt FROM silver.jfact JOIN silver.jdim USING (team) " +
      "WHERE nosuch.flag GROUP BY color").contains("unknown qualifier"))
    assert(bad("CREATE MATERIALIZED VIEW gold.mv_jw3 AS SELECT color, " +
      "count(*) AS cnt FROM silver.jfact JOIN silver.jdim USING (team) " +
      "WHERE is_current GROUP BY color")
      .contains("no qualified column reference"))
    assert(bad("CREATE MATERIALIZED VIEW gold.mv_jw4 AS SELECT color, " +
      "count(*) AS cnt FROM silver.jfact JOIN silver.jdim USING (team) " +
      "WHERE jdim.nosuchcol GROUP BY color").contains("does not resolve"))
    // a string literal containing AND / dots must not confuse the split
    val dim = cat.table("silver", "jdim")
    dim.addColumns("tier STRING")
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_jw5 AS SELECT color, " +
      "count(*) AS cnt FROM silver.jfact JOIN silver.jdim USING (team) " +
      "WHERE jdim.tier != 'x AND y.z' GROUP BY color")
    val mv = cat.table("gold", "mv_jw5")
    try assert(mv.exists) finally MvRewrite.deregister(mv)
    // a decimal literal must never read as qualifier `0` column `5`
    dim.addColumns("ratio DOUBLE")
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_jw6 AS SELECT color, " +
      "count(*) AS cnt FROM silver.jfact JOIN silver.jdim USING (team) " +
      "WHERE jdim.ratio > 0.5 GROUP BY color")
    val mv6 = cat.table("gold", "mv_jw6")
    try assert(mv6.exists) finally MvRewrite.deregister(mv6)
    // a backticked (space-bearing) column keeps its quoting in the
    // stored filter — the masked-text scan must not leak 'x' runs
    dim.addColumns("`is current` BOOLEAN")
    dim.update(Map("is current" -> lit(true)), lit(true))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_jw7 AS SELECT color, " +
      "count(*) AS cnt FROM silver.jfact JOIN silver.jdim USING (team) " +
      "WHERE jdim.`is current` GROUP BY color")
    val mv7 = cat.table("gold", "mv_jw7")
    try {
      assert(mv7.exists)
      assert(mv7.read.count() > 0,
        "the backticked filter column must resolve and keep rows")
    } finally MvRewrite.deregister(mv7)
  }

  test("join-form WHERE: the dim FILTER column refuses RENAME and DROP " +
       "like group/key columns; unreferenced dim columns stay free") {
    val (cat, sql) = joinWarehouse()
    val dim = cat.table("silver", "jdim")
    dim.addColumns("cur BOOLEAN, note STRING")
    dim.update(Map("cur" -> lit(true)), lit(true))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_jfc AS SELECT color, " +
      "count(*) AS cnt FROM silver.jfact JOIN silver.jdim USING (team) " +
      "WHERE jdim.cur GROUP BY color")
    val mv = cat.table("gold", "mv_jfc")
    try {
      val er = intercept[IllegalArgumentException](sql.sql(
        "ALTER TABLE silver.jdim RENAME COLUMN cur TO is_cur"))
      assert(er.getMessage.contains("dim-FILTER"))
      val ed = intercept[IllegalArgumentException](sql.sql(
        "ALTER TABLE silver.jdim DROP COLUMN cur"))
      assert(ed.getMessage.contains("join materialized"))
      // an unreferenced dim column renames freely
      sql.sql("ALTER TABLE silver.jdim RENAME COLUMN note TO remark")
      assert(dim.read.columns.contains("remark"))
    } finally MvRewrite.deregister(mv)
  }

  test("join-form ON grammar resolves qualifiers by table name; bad " +
       "qualifiers and cross-side ambiguity are refused loudly") {
    val (cat, sql) = joinWarehouse()
    MvRewrite.install(spark)
    val mv = cat.table("gold", "mv_jon")
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_jon AS SELECT color, " +
      "sum(pts) AS sum_pts, count(*) AS cnt FROM silver.jfact " +
      "JOIN silver.jdim ON jfact.team = jdim.team GROUP BY color")
    try {
      assert(scansMv(joinQ(cat)))
      val badQual = intercept[RuntimeException](sql.sql(
        "CREATE MATERIALIZED VIEW gold.mv_jbad AS SELECT color, " +
          "count(*) AS cnt FROM silver.jfact JOIN silver.jdim " +
          "ON nosuch.team = jdim.team GROUP BY color"))
      assert(badQual.getMessage.contains("unknown qualifier"))
      // `team` exists on both sides and IS the key pair — allowed as a
      // group column; a both-sides NON-key column is refused
      val fact = cat.table("silver", "jfact")
      fact.addColumns("color STRING") // now ambiguous with dim.color
      val amb = intercept[IllegalArgumentException](sql.sql(
        "CREATE OR REPLACE MATERIALIZED VIEW gold.mv_jon AS " +
          "SELECT color, count(*) AS cnt FROM silver.jfact " +
          "JOIN silver.jdim USING (team) GROUP BY color"))
      assert(amb.getMessage.contains("ambiguous"))
    } finally MvRewrite.deregister(mv)
  }

  test("join MV DDL guards: group/key columns refuse RENAME and DROP; " +
       "an agg-only column re-keys the stored definition") {
    val (cat, sql) = joinWarehouse()
    MvRewrite.install(spark)
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_jddl AS SELECT color, " +
      "sum(pts) AS sum_pts, count(pts) AS cnt_pts, count(*) AS cnt " +
      "FROM silver.jfact JOIN silver.jdim USING (team) GROUP BY color")
    val mv = cat.table("gold", "mv_jddl")
    try {
      // the fact-side KEY refuses
      val eKey = intercept[IllegalArgumentException](sql.sql(
        "ALTER TABLE silver.jfact RENAME COLUMN team TO t2"))
      assert(eKey.getMessage.contains("JOIN-KEY"))
      // the dim-side GROUP column refuses (rename AND drop)
      val eGrp = intercept[IllegalArgumentException](sql.sql(
        "ALTER TABLE silver.jdim RENAME COLUMN color TO colour"))
      assert(eGrp.getMessage.contains("GROUP"))
      val eDrop = intercept[IllegalArgumentException](sql.sql(
        "ALTER TABLE silver.jdim DROP COLUMN color"))
      assert(eDrop.getMessage.contains("join materialized"))
      // an AGG source column renames freely and re-keys the definition:
      // the next REFRESH resolves under the new name
      sql.sql("ALTER TABLE silver.jfact RENAME COLUMN pts TO points")
      assert(mv.properties(graft.plans.JoinMv.AggsProp)
        .contains("sum:points:sum_pts"))
      cat.table("silver", "jfact")
        .append(Seq((1, 7L)).toDF("team", "points"))
      assert(sql.sql("REFRESH MATERIALIZED VIEW gold.mv_jddl")
        .select("mode").as[String].head() === "cdf")
      assert(mv.read.filter(col("color") === "red")
        .select("sum_pts").as[Long].head() === 37L)
    } finally MvRewrite.deregister(mv)
  }

  test("armMaterializedViews re-arms a fresh join MV after a registry " +
       "wipe; a moved side stays un-armed") {
    val (cat, sql) = joinWarehouse()
    MvRewrite.install(spark)
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_jarm AS SELECT color, " +
      "sum(pts) AS sum_pts, count(pts) AS cnt_pts, count(*) AS cnt " +
      "FROM silver.jfact JOIN silver.jdim USING (team) GROUP BY color")
    val mv = cat.table("gold", "mv_jarm")
    try {
      MvRewrite.deregister(mv) // simulate process restart
      assert(!scansMv(joinQ(cat)))
      assert(sql.armMaterializedViews().contains("gold.mv_jarm"))
      assert(scansMv(joinQ(cat)))
      // a dim commit makes it stale: arming must skip it
      MvRewrite.deregister(mv)
      cat.table("silver", "jdim").append(Seq((3, "teal"))
        .toDF("team", "color"))
      assert(!sql.armMaterializedViews().contains("gold.mv_jarm"))
      assert(!scansMv(joinQ(cat)))
    } finally MvRewrite.deregister(mv)
  }

  test("star-schema join MV: two pinned dims, fact CDF absorbed as " +
       "signed deltas; any dim commit re-materializes; min/max goes " +
       "through per-touched-group recompute") {
    val (cat, sql) = joinWarehouse()
    // a second dim: team → venue
    cat.table("silver", "jvenue")
      .append(Seq((1, "north"), (2, "south"), (9, "east"))
        .toDF("team", "venue"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_star AS SELECT color, " +
      "venue, sum(pts) AS sum_pts, count(pts) AS cnt_pts, " +
      "count(*) AS cnt FROM silver.jfact " +
      "JOIN silver.jdim USING (team) JOIN silver.jvenue USING (team) " +
      "GROUP BY color, venue")
    val mv = cat.table("gold", "mv_star")
    def recomputed(): Set[(String, String, Long, Long)] = {
      val f = cat.table("silver", "jfact").read
      val d = cat.table("silver", "jdim").read
      val v = cat.table("silver", "jvenue").read
      f.join(d, "team").join(v, "team").groupBy("color", "venue")
        .agg(fsum("pts").as("s"), count(lit(1)).as("c"))
        .as[(String, String, Long, Long)].collect().toSet
    }
    def state(): Set[(String, String, Long, Long)] =
      mv.read.select("color", "venue", "sum_pts", "cnt")
        .as[(String, String, Long, Long)].collect().toSet
    try {
      assert(state() === recomputed())
      // fact DML absorbs through the two pinned dims as CDF deltas
      cat.table("silver", "jfact")
        .append(Seq((1, 7L), (2, 3L)).toDF("team", "pts"))
      sql.sql("DELETE FROM silver.jfact WHERE pts = 5")
      assert(sql.sql("REFRESH MATERIALIZED VIEW gold.mv_star")
        .select("mode").as[String].head() === "cdf")
      assert(state() === recomputed())
      // a dim commit breaks the fixed-dims identity → full
      sql.sql("UPDATE silver.jvenue SET venue = 'west' WHERE team = 2")
      assert(sql.sql("REFRESH MATERIALIZED VIEW gold.mv_star")
        .select("mode").as[String].head() === "full")
      assert(state() === recomputed())
      // min/max in a star definition: per-touched-group recompute
      sql.sql("CREATE MATERIALIZED VIEW gold.mv_star2 AS SELECT venue, " +
        "max(pts) AS max_pts, count(*) AS cnt FROM silver.jfact " +
        "JOIN silver.jdim USING (team) JOIN silver.jvenue USING (team) " +
        "GROUP BY venue")
      cat.table("silver", "jfact")
        .append(Seq((1, 99L)).toDF("team", "pts"))
      assert(sql.sql("REFRESH MATERIALIZED VIEW gold.mv_star2")
        .select("mode").as[String].head() === "groups")
      assert(cat.table("gold", "mv_star2").read
        .filter(col("venue") === "north").select("max_pts")
        .as[Long].head() === 99L)
    } finally {
      MvRewrite.deregister(mv)
      MvRewrite.deregister(cat.table("gold", "mv_star2"))
    }
  }

  test("join-MV agg re-key refuses when a later ADD COLUMN put the " +
       "same name on BOTH sides (no silent side flip)") {
    val (cat, sql) = joinWarehouse()
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_jflip AS SELECT color, " +
      "sum(pts) AS sum_pts, count(pts) AS cnt_pts, count(*) AS cnt " +
      "FROM silver.jfact JOIN silver.jdim USING (team) GROUP BY color")
    val mv = cat.table("gold", "mv_jflip")
    try {
      // dim later gains `pts` — legal (ambiguity is checked at CREATE)
      cat.table("silver", "jdim").addColumns("pts BIGINT")
      val e = intercept[IllegalArgumentException](sql.sql(
        "ALTER TABLE silver.jfact RENAME COLUMN pts TO points"))
      assert(e.getMessage.contains("ANOTHER join side"),
        s"expected the ambiguous re-key refusal, got: ${e.getMessage}")
      // the stored definition is untouched
      assert(mv.properties(graft.plans.JoinMv.AggsProp)
        .contains("sum:pts:sum_pts"))
    } finally MvRewrite.deregister(mv)
  }

  test("approx_count_distinct MV: sketch-backed storage, incremental " +
       "union refresh equals a one-shot rebuild, estimates present " +
       "through the registered view, routing never arms") {
    val (cat, sql) = warehouse()
    MvRewrite.install(spark)
    val src = cat.table("silver", "hits")
    def batch(lo: Int, hi: Int) =
      (lo until hi).map(i => (s"g${i % 2}", (i % 700).toLong)).toDF("g", "u")
    src.append(batch(0, 3000))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_hll AS SELECT g, " +
      "count(*) AS n, approx_count_distinct(u) AS du " +
      "FROM silver.hits GROUP BY g")
    val mv = cat.table("gold", "mv_hll")
    try {
      // storage is the mergeable sketch; presentation is the estimate
      assert(mv.read.schema("du").dataType ===
        org.apache.spark.sql.types.BinaryType)
      cat.registerViews()
      assert(spark.table("gold_mv_hll").schema("du").dataType ===
        org.apache.spark.sql.types.LongType)
      // transparent routing must never serve a sketch estimate as the
      // query's own (differently-estimated) approx_count_distinct
      import org.apache.spark.sql.functions.approx_count_distinct
      assert(!scansMv(src.read.groupBy("g")
        .agg(approx_count_distinct("u").as("d"))))
      // incremental refresh: union of partials == one-shot rebuild,
      // register for register
      src.append(batch(2500, 6000))
      assert(sql.sql("REFRESH MATERIALIZED VIEW gold.mv_hll")
        .select("mode").as[String].head() === "incremental")
      cat.registerViews()
      def estimates = spark.sql(
        "SELECT g, n, du FROM gold_mv_hll ORDER BY g")
        .as[(String, Long, Long)].collect().toSeq
      val oneShot = src.read.groupBy("g")
        .agg(count(lit(1)).as("n"),
          call_function("hll_sketch_estimate",
            call_function("hll_sketch_agg", col("u"),
              lit(GraftSql.MvHllLgK))).as("du"))
        .orderBy("g").as[(String, Long, Long)].collect().toSeq
      assert(estimates === oneShot,
        "merged sketches must EQUAL the from-scratch sketch, not " +
          "merely approximate it")
      // retraction: no change feed → full rebuild, still exact vs
      // one-shot afterwards
      src.delete(col("u") < 10L)
      assert(sql.sql("REFRESH MATERIALIZED VIEW gold.mv_hll")
        .select("mode").as[String].head() === "full")
    } finally MvRewrite.deregisterRoot(mv.root)
  }

  test("CREATE OR REPLACE turning an armed exact MV into a " +
       "sketch-bearing one drops the stale routing registration") {
    val (cat, sql) = warehouse()
    MvRewrite.install(spark)
    val src = cat.table("silver", "ev")
    src.append(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_swap AS SELECT k, " +
      "count(*) AS cnt FROM silver.ev GROUP BY k")
    val mv = cat.table("gold", "mv_swap")
    try {
      assert(scansMv(src.read.groupBy("k").agg(count(lit(1)).as("c"))))
      sql.sql("CREATE OR REPLACE MATERIALIZED VIEW gold.mv_swap AS " +
        "SELECT k, count(*) AS cnt, approx_count_distinct(v) AS dv " +
        "FROM silver.ev GROUP BY k")
      assert(!scansMv(src.read.groupBy("k").agg(count(lit(1)).as("c"))),
        "the exact registration must not survive the sketch REPLACE")
    } finally MvRewrite.deregisterRoot(mv.root)
  }

  test("sketch-rollup DDL guards: group column refuses RENAME/DROP, " +
       "distinct column re-keys and the incremental path survives") {
    val (cat, sql) = warehouse()
    val src = cat.table("silver", "skevents")
    src.append(Seq(("g0", 1L), ("g0", 2L), ("g1", 3L)).toDF("g", "k"))
    val mv = cat.table("gold", "sk_rollup")
    graft.ops.Sketches.create(src, mv, Seq("g"), "k")
    val eGrp = intercept[IllegalArgumentException](sql.sql(
      "ALTER TABLE silver.skevents RENAME COLUMN g TO grp"))
    assert(eGrp.getMessage.contains("sketch rollup"))
    val eDrop = intercept[IllegalArgumentException](sql.sql(
      "ALTER TABLE silver.skevents DROP COLUMN k"))
    assert(eDrop.getMessage.contains("sketch rollup"))
    // the distinct column lives only in the definition — rename re-keys
    sql.sql("ALTER TABLE silver.skevents RENAME COLUMN k TO key")
    assert(mv.properties(graft.ops.Sketches.DistinctProp) === "key")
    src.append(Seq(("g1", 4L)).toDF("g", "key"))
    assert(graft.ops.Sketches.refresh(spark, mv) === "incremental",
      "a rename commit is metadata-only and must not demote the " +
        "append-only incremental path")
    assert(graft.ops.Sketches.withEstimate(mv.read)
      .filter(col("g") === "g1").select("n_rows").as[Long].head() === 2L)
  }

  test("frequency and quantile rollup DDL guards: group columns refuse " +
       "RENAME/DROP, item and value columns refuse DROP and re-key on " +
       "RENAME, and the incremental path survives") {
    val (cat, sql) = warehouse()
    val fsrc = cat.table("silver", "fqitems")
    val qsrc = cat.table("silver", "fqvals")
    fsrc.append(Seq(("g0", "a"), ("g0", "b"), ("g1", "a")).toDF("g", "item"))
    qsrc.append(Seq(("g0", 1.0), ("g0", 2.0), ("g1", 3.0)).toDF("g", "v"))
    val cms = cat.table("gold", "fq_cms")
    val q = cat.table("gold", "fq_quant")
    graft.ops.Sketches.createFreq(fsrc, cms, Seq("g"), "item")
    graft.ops.Sketches.createQuant(qsrc, q, Seq("g"), "v")
    def refused(stmt: String): String =
      intercept[IllegalArgumentException](sql.sql(stmt)).getMessage
    Seq("silver.fqitems" -> "frequency rollup",
        "silver.fqvals" -> "quantile rollup").foreach { case (t, what) =>
      Seq("RENAME COLUMN g TO grp", "DROP COLUMN g").foreach { ddl =>
        val m = refused(s"ALTER TABLE $t $ddl")
        assert(m.contains(what), s"$t $ddl: $m")
      }
    }
    assert(refused("ALTER TABLE silver.fqitems DROP COLUMN item")
      .contains("frequency rollup"))
    assert(refused("ALTER TABLE silver.fqvals DROP COLUMN v")
      .contains("quantile rollup"))
    assert(fsrc.read.columns.toSeq === Seq("g", "item"))
    assert(qsrc.read.columns.toSeq === Seq("g", "v"))
    // the item and value columns live only in the definition — a
    // rename re-keys them, and the rename commit is metadata-only
    sql.sql("ALTER TABLE silver.fqitems RENAME COLUMN item TO sku")
    sql.sql("ALTER TABLE silver.fqvals RENAME COLUMN v TO val")
    assert(cms.properties(graft.ops.Sketches.FreqItemProp) === "sku")
    assert(q.properties(graft.ops.Sketches.QuantValueProp) === "val")
    fsrc.append(Seq(("g1", "b")).toDF("g", "sku"))
    qsrc.append(Seq(("g1", 4.0)).toDF("g", "val"))
    assert(graft.ops.Sketches.refreshFreq(spark, cms) === "incremental")
    assert(graft.ops.Sketches.refreshQuant(spark, q) === "incremental")
    assert(cms.read.filter(col("g") === "g1").select("n_rows")
      .as[Long].head() === 2L)
    assert(q.read.filter(col("g") === "g1").select("n_vals")
      .as[Long].head() === 2L)
  }

  test("approx_top_k MV: CMS+candidate storage, appends absorb as " +
       "counter sums + candidate unions, retractions refresh per " +
       "TOUCHED group, readout matches the exact top-k, routing " +
       "never arms") {
    val (cat, sql) = warehouse()
    MvRewrite.install(spark)
    val src = cat.table("silver", "clicks")
    src.enableChangeFeed()
    // bounded item domain (10/group): candidate caps never prune, CMS
    // width dwarfs the domain — readout is EXACTLY the true top-k
    def batch(tag: Int, n: Int) = (0 until n).map { i =>
      (s"g${i % 2}", s"item${(i * 7 + tag) % 10}")
    }.toDF("g", "item")
    src.append(batch(0, 600))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_clicks AS SELECT g, " +
      "count(*) AS n, approx_top_k(item, 3) AS top_items " +
      "FROM silver.clicks GROUP BY g")
    val mv = cat.table("gold", "mv_clicks")
    try {
      // storage is the mergeable struct; presentation is the readout
      assert(mv.read.schema("top_items").dataType
        .isInstanceOf[org.apache.spark.sql.types.StructType])
      cat.registerViews()
      def exactTop(k: Int): Map[String, Seq[(String, Long)]] =
        src.read.groupBy("g", "item").agg(count(lit(1)).as("c"))
          .as[(String, String, Long)].collect()
          .groupBy(_._1).map { case (g, a) =>
            g -> a.map(t => (t._2, t._3)).sortBy(t => (-t._2, t._1))
              .take(k).toSeq
          }
      def presented(): Map[String, Seq[(String, Long)]] =
        spark.sql("SELECT g, top_items FROM gold_mv_clicks")
          .as[(String, Seq[(String, Long)])].collect().toMap
      assert(presented() === exactTop(3))
      // routing must never serve an estimate
      assert(!scansMv(src.read.groupBy("g").agg(count(lit(1)).as("c"))))
      // append: counter sums + candidate union ("incremental")
      src.append(batch(3, 400))
      assert(sql.sql("REFRESH MATERIALIZED VIEW gold.mv_clicks")
        .select("mode").as[String].head() === "incremental")
      cat.registerViews()
      assert(presented() === exactTop(3),
        "merged sketch+candidates must reproduce the exact top-k on a " +
          "bounded domain")
      // retraction: counters cannot subtract — the feed names the
      // touched groups and ONLY those recompute ("groups", not "full")
      src.delete(col("item") === "item5")
      assert(sql.sql("REFRESH MATERIALIZED VIEW gold.mv_clicks")
        .select("mode").as[String].head() === "groups")
      cat.registerViews()
      assert(presented() === exactTop(3))
      assert(!presented().values.exists(_.exists(_._1 == "item5")))
    } finally MvRewrite.deregisterRoot(mv.root)
  }

  test("percentile_approx in a JOIN MV: fact churn (including " +
       "retractions) absorbs as signed histogram deltas through the " +
       "pinned dims; merged state equals a rebuild; routing never arms") {
    val (cat, sql) = joinWarehouse()
    MvRewrite.install(spark)
    val fact = cat.table("silver", "jfact")
    fact.append((0 until 600).map(i => ((i % 2) + 1, (i % 97).toLong))
      .toDF("team", "pts"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_jq AS SELECT color, " +
      "count(*) AS cnt, percentile_approx(pts, 0.9) AS p90 " +
      "FROM silver.jfact JOIN silver.jdim USING (team) GROUP BY color")
    val mv = cat.table("gold", "mv_jq")
    try {
      graft.functions.QuantFunctions.register(spark)
      // an estimate-bearing join definition must never arm routing
      assert(!scansMv(joinQ(cat)))
      def rebuilt(): Map[String, (Long, Map[Long, Long])] = {
        val f = cat.table("silver", "jfact").read
        val d = cat.table("silver", "jdim").read
        f.join(d, "team").groupBy("color")
          .agg(count(lit(1)).as("cnt"),
            call_function("graft_quant_hist", col("pts").cast("double"),
              lit(1L), lit(GraftSql.MvQuantScale), lit(GraftSql.MvQuantSub))
              .as("h"))
          .as[(String, Long, Map[Long, Long])].collect()
          .map { case (c, n, m) => c -> ((n, m)) }.toMap
      }
      def state(): Map[String, (Long, Map[Long, Long])] =
        mv.read.select("color", "cnt", "p90")
          .as[(String, Long, Map[Long, Long])].collect()
          .map { case (c, n, m) => c -> ((n, m)) }.toMap
      assert(state() === rebuilt())
      // fact retractions subtract through the histogram — "cdf", never
      // "groups"/"full" (the min/max limitation does not apply)
      fact.append((0 until 100).map(i => ((i % 2) + 1, (i % 31 + 200).toLong))
        .toDF("team", "pts"))
      sql.sql("DELETE FROM silver.jfact WHERE pts < 20")
      assert(sql.sql("REFRESH MATERIALIZED VIEW gold.mv_jq")
        .select("mode").as[String].head() === "cdf")
      assert(state() === rebuilt(),
        "signed histogram merge through the join must equal a rebuild")
    } finally MvRewrite.deregisterRoot(mv.root)
  }

  test("percentile_approx MV: histogram-backed storage, appends absorb " +
       "incrementally, RETRACTIONS absorb through the change feed with " +
       "merged state equal to a rebuild, readouts present through the " +
       "registered view within the relative bound, routing never arms") {
    val (cat, sql) = warehouse()
    MvRewrite.install(spark)
    val src = cat.table("silver", "lat")
    src.enableChangeFeed()
    def batch(tag: Int) = (0 until 2000).map { i =>
      val v = ((i * 13 + tag * 7) % 997) match {
        case 0                    => 0.0
        case x if x % 11 == 0     => -(x.toDouble / 4.0)
        case x                    => x.toDouble / 3.0
      }
      (s"g${i % 3}", v)
    }.toDF("g", "ms")
    src.append(batch(0))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_lat AS SELECT g, " +
      "count(*) AS n, percentile_approx(ms, 0.5) AS p50, " +
      "approx_percentile(ms, 0.99) AS p99 FROM silver.lat GROUP BY g")
    val mv = cat.table("gold", "mv_lat")
    try {
      // storage is the signed-mergeable histogram; presentation reads out
      assert(mv.read.schema("p50").dataType
        .isInstanceOf[org.apache.spark.sql.types.MapType])
      cat.registerViews()
      assert(spark.table("gold_mv_lat").schema("p50").dataType ===
        org.apache.spark.sql.types.DoubleType)
      // a histogram ESTIMATE must never transparently serve a query
      assert(!scansMv(src.read.groupBy("g").agg(count(lit(1)).as("c"))))
      // append-only tail: bucket-count addition
      src.append(batch(1))
      assert(sql.sql("REFRESH MATERIALIZED VIEW gold.mv_lat")
        .select("mode").as[String].head() === "incremental")
      // retraction: histogram counts SUBTRACT through the feed — the
      // capability hll/min/max lack ("cdf", not "groups"/"full")
      src.delete(col("ms") > 200.0)
      src.update(Map("ms" -> (col("ms") - lit(5.0))), col("ms") < -100.0)
      assert(sql.sql("REFRESH MATERIALIZED VIEW gold.mv_lat")
        .select("mode").as[String].head() === "cdf")
      // merged storage EXACTLY equals a one-shot rebuild's histogram
      def hist(df: DataFrame, out: String): Map[String, Map[Long, Long]] =
        df.select(col("g"), col(out)).as[(String, Map[Long, Long])]
          .collect().toMap
      val oneShot = src.read.groupBy("g").agg(
        call_function("graft_quant_hist", col("ms").cast("double"),
          lit(1L), lit(GraftSql.MvQuantScale), lit(GraftSql.MvQuantSub))
          .as("h"))
      assert(hist(mv.read, "p50") === hist(oneShot, "h"))
      assert(hist(mv.read, "p99") === hist(oneShot, "h"))
      // presented readout lands within 1/(2·sub) relative of the exact
      // rank statistic, per group and quantile
      cat.registerViews()
      val got = spark.sql(
        "SELECT g, n, p50, p99 FROM gold_mv_lat ORDER BY g")
        .as[(String, Long, Double, Double)].collect()
      val byGroup = src.read.select("g", "ms").as[(String, Double)]
        .collect().groupBy(_._1).map { case (g, a) =>
          g -> a.map(_._2).sorted }
      got.foreach { case (g, n, p50, p99) =>
        val xs = byGroup(g)
        assert(n === xs.length.toLong)
        Seq((0.5, p50), (0.99, p99)).foreach { case (q, est) =>
          val exact = xs(math.max(0, math.ceil(q * xs.length).toInt - 1))
          val bound = math.abs(exact) / 32.0 * 1.01 + 0.01
          assert(math.abs(est - exact) <= bound,
            s"$g q=$q est=$est exact=$exact bound=$bound")
        }
      }
      // emptied group drops, as a recompute would
      src.delete(col("g") === "g2")
      assert(sql.sql("REFRESH MATERIALIZED VIEW gold.mv_lat")
        .select("mode").as[String].head() === "cdf")
      assert(mv.read.filter(col("g") === "g2").isEmpty)
    } finally MvRewrite.deregisterRoot(mv.root)
  }

  test("CREATE MATERIALIZED VIEW reads the parsed plan: comments in the " +
       "select list and WHERE, IF NOT EXISTS, refused shapes") {
    val (cat, sql) = warehouse()
    cat.table("silver", "cm").append(
      Seq(("a", 1L), ("a", 2L), ("z", 3L), ("b", -1L)).toDF("g", "v"))
    cat.table("silver", "cmd").append(Seq(("a", "x")).toDF("g", "c"))
    cat.registerViews()
    def rows(df: DataFrame) = df.select("g", "s").as[(String, Long)]
      .collect().toSeq.sortBy(_._1)
    val all = Seq(("a", 3L), ("b", -1L), ("z", 3L))
    def creates(name: String, select: String, expected: Seq[(String, Long)]) =
      name -> (() => {
        sql.sql(s"CREATE MATERIALIZED VIEW gold.$name AS $select")
        val mv = cat.table("gold", name)
        try assert(rows(mv.read) === expected)
        finally MvRewrite.deregister(mv)
      })
    def refuses(name: String, stmt: String) = name -> (() => {
      val e = intercept[RuntimeException](sql.sql(stmt))
      assert(e.getMessage.contains("unrecognized shape"), e.getMessage)
      assert(!cat.table("gold", "cm_no").exists)
    })
    // a `--` comment ends at its newline: the conjunct after it must stay
    val commentedWhere = "SELECT g, sum(v) AS s FROM silver.cm\n" +
      "WHERE v > 0 -- positive only\n  AND g <> 'z'\nGROUP BY g"
    val failures = Seq(
      "a commented WHERE keeps the conjunct after the comment" -> (() => {
        sql.sql(s"CREATE MATERIALIZED VIEW gold.cm_where AS $commentedWhere")
        assert(rows(cat.table("gold", "cm_where").read) === rows(
          spark.sql(commentedWhere.replace("silver.cm", "silver_cm"))))
        assert(rows(cat.table("gold", "cm_where").read) === Seq(("a", 3L)))
      }),
      creates("cm_line", "SELECT g, -- the group\n sum(v) AS s " +
        "FROM silver.cm GROUP BY g", all),
      creates("cm_block", "SELECT g, /* total */ sum(v) AS s " +
        "FROM silver.cm GROUP BY g", all),
      "IF NOT EXISTS over an existing MV takes no commit" -> (() => {
        val mv = cat.table("gold", "cm_line")
        val head = mv.latestVersion
        val r = sql.sql("CREATE MATERIALIZED VIEW IF NOT EXISTS gold.cm_line " +
          "AS SELECT g, min(v) AS s FROM silver.cm GROUP BY g")
          .as[(String, String, Long)].head()
        assert(r._2 === "exists")
        assert(mv.latestVersion === head)
        assert(rows(mv.read) === all)
      }),
      refuses("aliased source", "CREATE MATERIALIZED VIEW gold.cm_no AS " +
        "SELECT g, sum(v) AS s FROM silver.cm c GROUP BY g"),
      refuses("LEFT JOIN", "CREATE MATERIALIZED VIEW gold.cm_no AS " +
        "SELECT g, sum(v) AS s FROM silver.cm LEFT JOIN silver.cmd " +
        "USING (g) GROUP BY g"),
      refuses("HAVING", "CREATE MATERIALIZED VIEW gold.cm_no AS " +
        "SELECT g, sum(v) AS s FROM silver.cm GROUP BY g HAVING sum(v) > 0"),
      refuses("TBLPROPERTIES", "CREATE MATERIALIZED VIEW gold.cm_no " +
        "TBLPROPERTIES ('k' = 'v') AS SELECT g, sum(v) AS s " +
        "FROM silver.cm GROUP BY g")
    ).flatMap { case (name, run) =>
      scala.util.Try(run()).failed.toOption.map(e => s"$name: ${e.getMessage}")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("join-form WHERE conjunct split: parenthesized AND stays ONE " +
       "conjunct, BETWEEN's AND never splits, '_' is not a qualifier " +
       "separator") {
    // NOT (a AND b) must survive as one filter — a flat split would
    // re-assemble it as (NOT a) AND b, a semantically different
    // predicate that materializes WRONG rows silently
    assert(GraftSql.attributeJoinMvWhere(
      Some("NOT (jdim.a AND jdim.b)"), "silver.jfact", Seq("silver.jdim"))
      === Seq(Some("(NOT (a AND b))")))
    // BETWEEN x AND y is one predicate; the conjunction AFTER it splits
    assert(GraftSql.attributeJoinMvWhere(
      Some("jdim.r BETWEEN 0.2 AND 0.8 AND jdim.cur"),
      "silver.jfact", Seq("silver.jdim"))
      === Seq(Some("(r BETWEEN 0.2 AND 0.8) AND (cur)")))
    // nesting: a parenthesized BETWEEN+AND group splits only at the top
    assert(GraftSql.attributeJoinMvWhere(
      Some("(jdim.r BETWEEN 1 AND 2 AND jdim.cur) AND jdim.ok"),
      "silver.jfact", Seq("silver.jdim"))
      === Seq(Some("((r BETWEEN 1 AND 2 AND cur)) AND (ok)")))
    // '_' is part of a NAME, never a layer separator: `dim` must not
    // alias `my_dim` (mis-attribution risk), the exact name still binds
    val e = intercept[IllegalArgumentException](GraftSql.attributeJoinMvWhere(
      Some("dim.cur"), "fact_tbl", Seq("my_dim")))
    assert(e.getMessage.contains("unknown qualifier"))
    assert(GraftSql.attributeJoinMvWhere(
      Some("my_dim.cur"), "fact_tbl", Seq("my_dim")) === Seq(Some("(cur)")))
    // and a keyword inside a string literal still never splits
    assert(GraftSql.attributeJoinMvWhere(
      Some("jdim.tier != 'x BETWEEN y AND z'"), "silver.jfact",
      Seq("silver.jdim"))
      === Seq(Some("(tier != 'x BETWEEN y AND z')")))
  }

  test("join-form WHERE end-to-end: a BETWEEN dim predicate materializes " +
       "the right slice and maintains through fact DML") {
    val (cat, sql) = joinWarehouse()
    MvRewrite.install(spark)
    val dim = cat.table("silver", "jdim")
    dim.addColumns("score DOUBLE")
    dim.update(Map("score" -> (col("team") * lit(0.3))), lit(true))
    // team 1 → 0.3 (in [0.2, 0.5]), team 2 → 0.6 (out)
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_jbet AS SELECT color, " +
      "sum(pts) AS sum_pts, count(pts) AS cnt_pts, count(*) AS cnt " +
      "FROM silver.jfact JOIN silver.jdim USING (team) " +
      "WHERE jdim.score BETWEEN 0.2 AND 0.5 GROUP BY color")
    val mv = cat.table("gold", "mv_jbet")
    try {
      assert(mv.read.select("color", "sum_pts", "cnt")
        .as[(String, Long, Long)].collect().toSeq === Seq(("red", 30L, 2L)))
      // fact delta absorbs through the filtered join incrementally
      val fact = cat.table("silver", "jfact")
      fact.append(Seq((1, 100L), (2, 50L)).toDF("team", "pts"))
      assert(sql.sql("REFRESH MATERIALIZED VIEW gold.mv_jbet")
        .select("mode").as[String].head() === "cdf")
      assert(mv.read.select("color", "sum_pts", "cnt")
        .as[(String, Long, Long)].collect().toSeq === Seq(("red", 130L, 3L)))
    } finally MvRewrite.deregister(mv)
  }

  test("sweepCdfPhantoms drops zero-count groups and NULL-fixes stale " +
       "sums, idempotently") {
    val t = VersionedTable(spark, tmpDir("graft-sweep-"))
    t.append(Seq(
      ("a", Option(30L), 2L, 2L),   // healthy
      ("b", Option(0L), 0L, 0L),    // phantom: count(*)=0, must drop
      ("c", Option(7L), 0L, 1L))    // stale: count(v)=0 but sum non-NULL
      .toDF("k", "sum_v", "cnt_v", "cnt"))
    val aggs = Seq(("sum", "v", "sum_v"), ("count", "v", "cnt_v"),
      ("count", "*", "cnt"))
    GraftSql.sweepCdfPhantoms(t, aggs)
    assert(t.read.orderBy("k").as[(String, Option[Long], Long, Long)]
      .collect().toSeq === Seq(("a", Some(30L), 2L, 2L),
        ("c", None, 0L, 1L)))
    // probe-guarded: a clean table commits NOTHING on re-sweep
    val v = t.latestVersion.get
    GraftSql.sweepCdfPhantoms(t, aggs)
    assert(t.latestVersion.get === v)
  }

  test("REFRESH on a ledger-healed resume sweeps phantom zero-count " +
       "groups a crash left behind") {
    val (cat, sql) = warehouse()
    MvRewrite.install(spark)
    val src = cat.table("silver", "hs")
    src.enableChangeFeed()
    src.append(Seq(("a", 10L), ("a", 20L), ("b", 5L)).toDF("k", "v")) // v0
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_hs AS SELECT k, " +
      "sum(v) AS sum_v, count(v) AS cnt_v, count(*) AS cnt " +
      "FROM silver.hs GROUP BY k")
    val mv = cat.table("gold", "mv_hs")
    try {
      src.delete(col("k") === "b")                                    // v1
      // simulate the crash window: the cdf slice's MARKERED merge
      // committed (group b zeroed out) but the process died before the
      // follow-up emptied-group delete ran — exactly what a resume sees
      val epoch = mv.properties.getOrElse(GraftSql.MvEpochProp, "0")
      val txnApp = GraftSql.MvTxnApp + epoch + ":" + mv.root
      mv.merge(Seq(("b", -5L, -1L, -1L)).toDF("k", "sum_v", "cnt_v", "cnt"),
        Seq("k"), updateExprs = Map(
          "sum_v" -> GraftSql.mvCombine("sum"),
          "cnt_v" -> GraftSql.mvCombine("count"),
          "cnt"   -> GraftSql.mvCombine("count")),
        txn = Some((txnApp, 1L)))
      assert(!mv.read.filter(col("cnt") === 0L).isEmpty,
        "staging failed: the phantom zero-count row must exist pre-refresh")
      // the healed resume reads the slice as covered (ledger at v1) —
      // mode noop — but the entry sweep must still repair the phantom
      val out = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_hs")
        .as[(String, String, Long)].head()
      assert(out._2 === "noop" && out._3 === 1L)
      assert(mv.read.filter(col("k") === "b").isEmpty,
        "the phantom zero-count group must be swept on resume")
      assert(mv.read.orderBy("k").as[(String, Long, Long, Long)]
        .collect().toSeq === Seq(("a", 30L, 2L, 2L)))
      assert(mv.properties(GraftSql.MvVersionProp).toLong === 1L,
        "the stale covered-version property must heal too")
    } finally MvRewrite.deregister(mv)
  }

  test("pin-aware VACUUM on a join-MV dim: retention holds at the pinned " +
       "floor so the telescoped refresh stays incremental; IGNORE PINS " +
       "degrades it to a clean full recompute with the pin re-advanced") {
    val (cat, sql) = warehouse()
    MvRewrite.install(spark)
    val fact = cat.table("silver", "pfact")
    val dim = cat.table("silver", "pdim")
    fact.enableChangeFeed(); dim.enableChangeFeed()
    fact.append(Seq((1, 10L), (2, 5L)).toDF("team", "pts"))
    dim.append(Seq((1, "red"), (2, "blue")).toDF("team", "color"))  // dim v0
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_pin AS SELECT color, " +
      "sum(pts) AS sum_pts, count(pts) AS cnt_pts, count(*) AS cnt " +
      "FROM silver.pfact JOIN silver.pdim USING (team) GROUP BY color")
    val mv = cat.table("gold", "mv_pin")
    val pin = s"mv:${mv.root}"
    try {
      // CREATE registered retention floors on BOTH sources
      assert(fact.pins.get(pin).contains(fact.latestVersion.get))
      assert(dim.pins.get(pin).contains(0L))
      assert(sql.sql("SHOW PINS silver.pdim").select("pin", "version")
        .as[(String, Long)].collect().toSeq === Seq((pin, 0L)))
      // dim moves; default retention CANNOT reclaim the pinned suffix
      dim.update(Map("color" -> lit("green")), col("team") === 2)   // dim v1
      assert(sql.sql("VACUUM silver.pdim RETAIN 1 VERSIONS DRY RUN")
        .count() === 0L, "the pin must hold the covered dim version")
      assert(sql.sql("VACUUM silver.pdim RETAIN 1 VERSIONS")
        .as[Long].head() === 0L)
      // telescoped refresh path INTACT after retention ran
      assert(sql.sql("REFRESH MATERIALIZED VIEW gold.mv_pin")
        .select("mode").as[String].head() === "cdf-dims")
      assert(mv.read.orderBy("color").as[(String, Long, Long, Long)]
        .collect().toSeq === Seq(("green", 5L, 1L, 1L), ("red", 10L, 1L, 1L)))
      // ... and the refresh advanced the floor, releasing old history
      assert(dim.pins(pin) === dim.latestVersion.get)
      assert(sql.sql("VACUUM silver.pdim RETAIN 1 VERSIONS")
        .as[Long].head() > 0L, "advanced pin must release v0's files")
      // operator override: IGNORE PINS reclaims the pinned snapshot
      dim.update(Map("color" -> lit("cyan")), col("team") === 1)    // dim v2
      assert(sql.sql(
        "VACUUM silver.pdim RETAIN 1 VERSIONS IGNORE PINS")
        .as[Long].head() > 0L)
      assert(!dim.snapshotLive(dim.pins(pin)),
        "IGNORE PINS must have reclaimed the pinned dim snapshot")
      // the refresh DEGRADES cleanly: full recompute, correct values,
      // pin re-advanced past the damage
      assert(sql.sql("REFRESH MATERIALIZED VIEW gold.mv_pin")
        .select("mode").as[String].head() === "full")
      assert(mv.read.orderBy("color").as[(String, Long, Long, Long)]
        .collect().toSeq === Seq(("cyan", 10L, 1L, 1L), ("green", 5L, 1L, 1L)))
      assert(dim.pins(pin) === dim.latestVersion.get)
      assert(dim.snapshotLive(dim.pins(pin)))
    } finally MvRewrite.deregister(mv)
  }

  test("single-table MV pins its source; retention keeps the incremental " +
       "path; DROP TABLE releases the pin; ALTER TABLE DROP PIN is the " +
       "manual override") {
    val (cat, sql) = warehouse()
    MvRewrite.install(spark)
    val src = cat.table("silver", "psrc")
    src.append(Seq(("a", 10L), ("b", 5L)).toDF("k", "v"))           // v0
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_ps AS SELECT k, " +
      "sum(v) AS sum_v, count(*) AS cnt FROM silver.psrc GROUP BY k")
    val mv = cat.table("gold", "mv_ps")
    val pin = s"mv:${mv.root}"
    try {
      assert(src.pins.get(pin).contains(0L))
      src.append(Seq(("a", 1L)).toDF("k", "v"))                     // v1
      src.append(Seq(("b", 2L)).toDF("k", "v"))                     // v2
      sql.sql("OPTIMIZE silver.psrc")                               // v3
      // the pin holds the added sets the next refresh still reads
      assert(sql.sql("VACUUM silver.psrc RETAIN 1 VERSIONS")
        .as[Long].head() === 0L)
      assert(sql.sql("REFRESH MATERIALIZED VIEW gold.mv_ps")
        .select("mode").as[String].head() === "incremental",
        "retention must not demote the refresh to a full recompute")
      assert(mv.read.orderBy("k").as[(String, Long, Long)]
        .collect().toSeq === Seq(("a", 11L, 2L), ("b", 7L, 2L)))
      assert(src.pins(pin) === 3L)
      // the advanced pin releases the pre-compaction history
      assert(sql.sql("VACUUM silver.psrc RETAIN 1 VERSIONS")
        .as[Long].head() > 0L)
      // DROP TABLE tears the consumer down: the pin goes with it
      sql.sql("DROP TABLE gold.mv_ps")
      assert(!src.pins.contains(pin))
      // manual override surface (abandoned consumers)
      src.setPin("stream:/dead/checkpoint", 3L)
      sql.sql("ALTER TABLE silver.psrc DROP PIN 'stream:/dead/checkpoint'")
      assert(src.pins.isEmpty)
    } finally MvRewrite.deregisterRoot(mv.root)
  }

  test("EXPLAIN REWRITE reports the routing decision and why: served, " +
       "stale-fell-back, rejected, shape-bail, no-candidates") {
    val (cat, sql) = warehouse()
    MvRewrite.install(spark)
    val src = cat.table("silver", "er")
    src.append(Seq(("a", 10L, 1L), ("b", 5L, 2L)).toDF("k", "v", "w"))
    cat.registerViews()
    def decide(q: String): Seq[(String, String, String)] =
      sql.sql("EXPLAIN REWRITE " + q)
        .select("decision", "mv", "reason")
        .as[(String, String, String)].collect().toSeq
    // before any MV: no candidates
    assert(decide("SELECT k, sum(v) AS s FROM silver_er GROUP BY k")
      .map(_._1) === Seq("no-candidates"))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_er AS SELECT k, " +
      "sum(v) AS sum_v, count(*) AS cnt FROM silver.er GROUP BY k")
    val mv = cat.table("gold", "mv_er")
    try {
      // served: exact group match
      val served = decide("SELECT k, sum(v) AS s FROM silver_er GROUP BY k")
      assert(served.map(_._1) === Seq("served"))
      assert(served.head._2 === mv.root)
      assert(served.head._3.contains("exact group match"))
      // served: global rollup re-aggregates
      assert(decide("SELECT sum(v) AS s FROM silver_er")
        .head._3.contains("group subset"))
      // rejected: groups by a column the MV lacks
      val rej = decide("SELECT w, sum(v) AS s FROM silver_er GROUP BY w")
      assert(rej.map(_._1) === Seq("rejected"))
      assert(rej.head._3.contains("does not group by: w"))
      // rejected: aggregate surface not stored
      assert(decide("SELECT k, min(v) AS m FROM silver_er GROUP BY k")
        .head._3.contains("not covered"))
      // shape-bail: grouping by an expression
      assert(decide("SELECT upper(k) AS u, sum(v) AS s FROM silver_er " +
        "GROUP BY upper(k)").map(_._1) === Seq("shape-bail"))
      // no aggregate at all (and no join/prune jurisdiction either)
      assert(decide("SELECT * FROM silver_er").map(_._1) ===
        Seq("no-decision"))
      // stale: the source moves, the MV stops matching BY DESIGN
      src.append(Seq(("c", 1L, 3L)).toDF("k", "v", "w"))
      cat.registerViews() // re-pin the view to the NEW snapshot
      val stale = decide("SELECT k, sum(v) AS s FROM silver_er GROUP BY k")
      assert(stale.map(_._1) === Seq("stale-fell-back"))
      assert(stale.head._2 === mv.root)
      assert(stale.head._3.contains("REFRESH"))
      // refresh re-arms; served again
      sql.sql("REFRESH MATERIALIZED VIEW gold.mv_er")
      assert(decide("SELECT k, sum(v) AS s FROM silver_er GROUP BY k")
        .map(_._1) === Seq("served"))
    } finally MvRewrite.deregister(mv)
  }

  test("EXPLAIN REWRITE covers JOIN-MV routing: the star rollup serves, " +
       "a moved side reads stale-fell-back") {
    val (cat, sql) = joinWarehouse()
    MvRewrite.install(spark)
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_jer AS SELECT color, " +
      "sum(pts) AS sum_pts, count(pts) AS cnt_pts, count(*) AS cnt " +
      "FROM silver.jfact JOIN silver.jdim USING (team) GROUP BY color")
    val mv = cat.table("gold", "mv_jer")
    cat.registerViews()
    try {
      def decide(q: String): Seq[(String, String)] =
        sql.sql("EXPLAIN REWRITE " + q).select("decision", "mv")
          .as[(String, String)].collect().toSeq
      val q = "SELECT color, sum(pts) AS sv FROM silver_jfact " +
        "JOIN silver_jdim ON silver_jfact.team = silver_jdim.team " +
        "GROUP BY color"
      assert(decide(q) === Seq(("served", mv.root)))
      // fact movement un-arms; the explain names the join MV as stale
      cat.table("silver", "jfact").append(Seq((1, 7L)).toDF("team", "pts"))
      cat.registerViews()
      val stale = decide(q)
      assert(stale === Seq(("stale-fell-back", mv.root)))
    } finally MvRewrite.deregister(mv)
  }

  test("EXPLAIN REWRITE cost pick: with TWO covering MVs the cheaper " +
       "serves and the other reads not-considered") {
    val (cat, sql) = warehouse()
    MvRewrite.install(spark)
    val src = cat.table("silver", "cp")
    src.append(Seq(("a", "x", 1L), ("a", "y", 2L), ("b", "x", 3L))
      .toDF("g", "h", "v"))
    cat.registerViews()
    // fine (g,h) MV and coarse (g) MV both cover a GROUP BY g rollup;
    // the coarse one stores fewer bytes and must win the cost pick
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_fine AS SELECT g, h, " +
      "sum(v) AS sum_v, count(*) AS cnt FROM silver.cp GROUP BY g, h")
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_coarse AS SELECT g, " +
      "sum(v) AS sum_v, count(*) AS cnt FROM silver.cp GROUP BY g")
    val fine = cat.table("gold", "mv_fine")
    val coarse = cat.table("gold", "mv_coarse")
    try {
      val rows = sql.sql("EXPLAIN REWRITE SELECT g, sum(v) AS s " +
        "FROM silver_cp GROUP BY g")
        .select("decision", "mv").as[(String, String)].collect().toSet
      assert(rows === Set(("served", coarse.root),
        ("not-considered", fine.root)))
      // the finer grouping is served by the fine MV alone
      val rows2 = sql.sql("EXPLAIN REWRITE SELECT g, h, sum(v) AS s " +
        "FROM silver_cp GROUP BY g, h")
        .select("decision", "mv").as[(String, String)].collect().toSet
      assert(rows2 === Set(("served", fine.root),
        ("rejected", coarse.root)))
    } finally { MvRewrite.deregister(fine); MvRewrite.deregister(coarse) }
  }

  test("EXPLAIN REWRITE covers join elimination and generated-column " +
       "pruning: fire and no-fire reasons in the same decision relation") {
    val (cat, sql) = warehouse()
    MvRewrite.install(spark)
    val dim = cat.table("silver", "xdim")
    dim.append(Seq((1, "red"), (2, "blue")).toDF("team", "color"))
    val fact = cat.table("silver", "xfact")
    fact.append(Seq((1, 10L), (2, 5L), (1, 7L)).toDF("team", "p"))
    sql.sql("ALTER TABLE silver.xdim ADD CONSTRAINT pk_x " +
      "PRIMARY KEY (team) RELY")
    cat.registerViews()
    def rows(q: String): Set[(String, String, String)] =
      sql.sql("EXPLAIN REWRITE " + q)
        .select("aggregate", "decision", "reason")
        .as[(String, String, String)].collect().toSet
    // LEFT join to the RELY-PK dim, no dim column used → eliminated
    val elim = rows("SELECT sum(p) AS s FROM silver_xfact " +
      "LEFT JOIN silver_xdim USING (team)")
    assert(elim.exists { case (n, d, why) =>
      n == "join" && d == "join-eliminated" && why.contains("LEFT join") },
      s"expected a join-eliminated row, got $elim")
    // dim column used → kept, with the reason naming the blocker
    val kept = rows("SELECT color, sum(p) AS s FROM silver_xfact " +
      "LEFT JOIN silver_xdim USING (team) GROUP BY color")
    assert(kept.exists { case (n, d, why) =>
      n == "join" && d == "join-kept" && why.contains("dim-side columns") },
      s"expected a join-kept row, got $kept")
    // INNER join without an aligned RELY FK → kept, naming the FK gap
    val innerKept = rows("SELECT sum(p) AS s FROM silver_xfact " +
      "JOIN silver_xdim USING (team)")
    assert(innerKept.exists { case (n, d, why) =>
      n == "join" && d == "join-kept" && why.contains("FOREIGN KEY") },
      s"expected a join-kept row naming the FK gap, got $innerKept")
    // with the RELY FK declared the INNER join eliminates too
    sql.sql("ALTER TABLE silver.xfact ADD CONSTRAINT fk_x FOREIGN KEY " +
      "(team) REFERENCES silver.xdim RELY")
    cat.registerViews()
    val innerElim = rows("SELECT sum(p) AS s FROM silver_xfact " +
      "JOIN silver_xdim USING (team)")
    assert(innerElim.exists { case (n, d, why) =>
      n == "join" && d == "join-eliminated" &&
        why.contains("exactly once") },
      s"expected an INNER join-eliminated row, got $innerElim")
    // generated partition column: range on the SOURCE column derives
    sql.sql("CREATE TABLE silver.xev (ts STRING, v INT, " +
      "day STRING GENERATED ALWAYS AS (substring(ts, 1, 10))) " +
      "PARTITIONED BY (day)")
    sql.sql("INSERT INTO silver.xev (ts, v) VALUES " +
      "('2026-01-01T10:00', 1), ('2026-01-02T09:00', 3)")
    cat.registerViews()
    val pruned = rows("SELECT v FROM silver_xev WHERE ts >= '2026-01-02'")
    assert(pruned.exists { case (n, d, why) =>
      n == "scan" && d == "partition-pruned" && why.contains("day") },
      s"expected a partition-pruned row, got $pruned")
    val noPrune = rows("SELECT v FROM silver_xev WHERE v = 3")
    assert(noPrune.exists { case (n, d, _) =>
      n == "scan" && d == "prune-none" },
      s"expected a prune-none row, got $noPrune")
  }

  test("applyCdfDelta folds emptied-group drop and sum NULL-fix into the " +
       "ONE markered merge commit — no follow-up probe or repair commits") {
    val t = VersionedTable(spark, tmpDir("graft-cdffold-"))
    val aggs = Seq(("sum", "v", "sum_v"), ("count", "v", "cnt_v"),
      ("count", "*", "cnt"))
    def feed(rows: (String, Option[Long], String)*): DataFrame =
      rows.toDF("k", "v", "_change_type")
    // slice 1 lands into brand-new cells (the sink-creates-table /
    // first-batch shape, which used to take the rename-in fast path):
    // c nets to zero rows within the slice and must never land; d's
    // value went NULL within the slice (count(v)=0) so its sum must
    // land NULL — not the 0 that signed arithmetic leaves
    GraftSql.applyCdfDelta(t, feed(
      ("a", Some(10L), "insert"), ("a", Some(2L), "insert"),
      ("b", Some(5L), "insert"),
      ("c", Some(1L), "insert"), ("c", Some(1L), "delete"),
      ("d", Some(3L), "insert"),
      ("d", Some(3L), "update_preimage"), ("d", None, "update_postimage")),
      Seq("k"), aggs, txn = Some(("t-cdffold", 1L)))
    assert(t.history.length === 1, "slice 1 must be exactly one commit")
    assert(t.read.orderBy("k").as[(String, Option[Long], Long, Long)]
      .collect().toSeq === Seq(("a", Some(12L), 2L, 2L),
        ("b", Some(5L), 1L, 1L), ("d", None, 0L, 1L)))
    // slice 2 against existing groups: b empties (drops in-commit), a's
    // 2 goes NULL (sum 10, count(v) 1) — still exactly ONE commit where
    // the pre-fold code issued merge + probe-guarded delete + update
    GraftSql.applyCdfDelta(t, feed(
      ("b", Some(5L), "delete"),
      ("a", Some(2L), "update_preimage"), ("a", None, "update_postimage")),
      Seq("k"), aggs, txn = Some(("t-cdffold", 2L)))
    assert(t.history.length === 2, "slice 2 must be exactly one commit")
    assert(t.read.orderBy("k").as[(String, Option[Long], Long, Long)]
      .collect().toSeq === Seq(("a", Some(10L), 1L, 2L),
        ("d", None, 0L, 1L)))
    // exactly-once: a crash replay of slice 2 no-ops the WHOLE repair
    // atomically (the marker covers drop + NULL-fix, not just the adds)
    GraftSql.applyCdfDelta(t, feed(("b", Some(5L), "delete")),
      Seq("k"), aggs, txn = Some(("t-cdffold", 2L)))
    assert(t.history.length === 2, "replayed slice must commit nothing")
    assert(t.read.orderBy("k").as[(String, Option[Long], Long, Long)]
      .collect().toSeq === Seq(("a", Some(10L), 1L, 2L),
        ("d", None, 0L, 1L)))
  }

  test("join-MV REFRESH on a ledger-healed resume sweeps phantom " +
       "zero-count groups a pre-fold crash left behind") {
    val (cat, sql) = joinWarehouse()
    MvRewrite.install(spark)
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_jheal AS SELECT color, " +
      "sum(pts) AS sum_pts, count(pts) AS cnt_pts, count(*) AS cnt " +
      "FROM silver.jfact JOIN silver.jdim USING (team) GROUP BY color")
    val mv = cat.table("gold", "mv_jheal")
    try {
      val fact = cat.table("silver", "jfact")
      fact.delete(col("team") === 2) // empties blue
      // simulate a PRE-FOLD crash: the fact slice's markered merge
      // landed (blue zeroed out) but the process died before the
      // then-separate emptied-group delete ran — the fact-side ledger
      // is now ahead of FactVersionProp and a naive resume would read
      // the slice as covered (noop) and keep serving the phantom
      val epoch = mv.properties
        .getOrElse(graft.plans.JoinMv.EpochProp, "0")
      val txnApp = "graft-mvjoin:" + epoch + ":" + mv.root
      val factHead = fact.latestVersion.get
      mv.merge(
        Seq(("blue", -5L, -1L, -1L))
          .toDF("color", "sum_pts", "cnt_pts", "cnt"),
        Seq("color"), updateExprs = Map(
          "sum_pts"  -> GraftSql.mvCombine("sum"),
          "cnt_pts"  -> GraftSql.mvCombine("count"),
          "cnt"      -> GraftSql.mvCombine("count")),
        txn = Some((txnApp, factHead)))
      assert(!mv.read.filter(col("cnt") === 0L).isEmpty,
        "staging failed: the phantom zero-count row must exist pre-refresh")
      val mode = sql.sql("REFRESH MATERIALIZED VIEW gold.mv_jheal")
        .select("mode").as[String].head()
      assert(mode === "noop",
        "the healed resume must read the slice as already covered")
      assert(mv.read.filter(col("color") === "blue").isEmpty,
        "the phantom zero-count group must be swept at refresh entry")
      assert(mv.read.orderBy("color").as[(String, Long, Long, Long)]
        .collect().toSeq === Seq(("red", 30L, 2L, 2L)))
    } finally MvRewrite.deregister(mv)
  }
}
