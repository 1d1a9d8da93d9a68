package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Sketches
import graft.tables.{Catalog, GraftSql, VersionedTable}

/** The shared rollup ladder ([[Maintained]]): every single-source
  * family — SQL MVs and the HLL, CMS and quantile sketch rollups —
  * takes the same rung for the same source history shape, and lands
  * the state a rebuild would. */
class MaintainedSpec extends SparkSpec {
  import spark.implicits._

  /** One rollup family as the table below drives it: CREATE and
    * REFRESH over `silver.src` into `gold.mv`, the covered-version
    * property, and a comparable projection of its state beside the
    * from-scratch rollup of the source. */
  private final case class Fam(name: String, versionProp: String,
                               create: (GraftSql, VersionedTable,
                                 VersionedTable) => Unit,
                               refresh: (GraftSql, VersionedTable) => String,
                               rebuild: DataFrame => DataFrame,
                               view: Seq[Column])

  private val families = Seq(
    Fam("sql", GraftSql.MvVersionProp,
      (sql, _, _) => { sql.sql("CREATE MATERIALIZED VIEW gold.mv AS " +
        "SELECT g, sum(v) AS s, count(v) AS n_v, count(*) AS n " +
        "FROM silver.src GROUP BY g"); () },
      (sql, _) => sql.sql("REFRESH MATERIALIZED VIEW gold.mv")
        .select("mode").as[String].head(),
      _.groupBy("g").agg(sum("v").as("s"), count("v").as("n_v"),
        count(lit(1)).as("n")),
      Seq(col("g"), col("s"), col("n_v"), col("n"))),
    Fam("hll", Sketches.VersionProp,
      (_, src, mv) => Sketches.create(src, mv, Seq("g"), "v"),
      (_, mv) => Sketches.refresh(spark, mv),
      Sketches.rollup(_, Seq("g"), "v"),
      Seq(col("g"), col("n_rows"),
        call_function("hll_sketch_estimate", col("distinct_sketch")))),
    Fam("cms", Sketches.FreqVersionProp,
      (_, src, mv) => Sketches.createFreq(src, mv, Seq("g"), "v"),
      (_, mv) => Sketches.refreshFreq(spark, mv),
      Sketches.freqRollup(_, Seq("g"), "v"),
      Seq(col("g"), col("n_rows"), hex(col("freq_sketch")))),
    Fam("quant", Sketches.QuantVersionProp,
      (_, src, mv) => Sketches.createQuant(src, mv, Seq("g"), "v"),
      (_, mv) => Sketches.refreshQuant(spark, mv),
      Sketches.quantRollup(_, Seq("g"), "v"),
      Seq(col("g"), col("n_rows"), col("n_vals"), col("quant_sketch"))))

  private def rows(tag: Int, n: Int): DataFrame =
    (0 until n).map(i => (s"g${i % 3}", ((i * 7 + tag * 13) % 97).toLong))
      .toDF("g", "v")

  private def state(df: DataFrame, f: Fam): Set[Row] =
    df.select(f.view: _*).collect().toSet

  /** Run one history shape through every family: build the source
    * (change feed on or off), CREATE, apply `shape`, REFRESH, and
    * check the mode, that a `noop` (or any refresh, with `noCommit`)
    * adds no MV commit, and that the state equals a rebuild. */
  private def ladder(feed: Boolean, expected: String => String,
                     noCommit: Boolean = false)
                    (shape: (Fam, VersionedTable, VersionedTable,
                      () => String) => Unit): Unit =
    families.foreach { f =>
      val cat = new Catalog(spark, tmpDir(s"graft-ladder-${f.name}-"))
      cat.bootstrap()
      val sql = GraftSql(spark, cat)
      val src = cat.table("silver", "src")
      val mv = cat.table("gold", "mv")
      if (feed) src.enableChangeFeed()
      src.append(rows(0, 300))
      f.create(sql, src, mv)
      try {
        shape(f, src, mv, () => f.refresh(sql, mv))
        val before = mv.latestVersion
        val mode = f.refresh(sql, mv)
        assert(mode === expected(f.name), s"${f.name} mode")
        if (mode == "noop" || noCommit)
          assert(mv.latestVersion === before, s"${f.name}: no MV commit")
        assert(mv.properties(f.versionProp).toLong ===
          src.latestVersion.get, s"${f.name} covered version")
        assert(state(mv.read, f) === state(f.rebuild(src.read), f),
          s"${f.name} state must equal a rebuild")
      } finally MvRewrite.deregister(mv)
    }

  private def every(mode: String): String => String = _ => mode

  test("ladder: nothing new is noop for every family") {
    ladder(feed = false, every("noop"))((_, _, _, _) => ())
  }

  test("ladder: a compaction-only slice is noop for every family") {
    ladder(feed = false, every("noop"))((_, src, _, _) => { src.compact(); () })
  }

  test("ladder: an append absorbs incrementally for every family") {
    ladder(feed = false, every("incremental"))((_, src, _, _) => {
      src.append(rows(1, 60)); ()
    })
  }

  test("ladder: an append carrying a NULL group key rebuilds for every " +
       "family") {
    ladder(feed = true, every("full"))((_, src, _, _) => {
      src.append(rows(2, 30).union(Seq((null: String, 5L)).toDF("g", "v")))
      ()
    })
  }

  test("ladder: retractions with the change feed on absorb signed where " +
       "state can retract (cdf) and recompute touched groups where it " +
       "cannot (groups); a vanished group drops") {
    ladder(feed = true, Map("sql" -> "cdf", "hll" -> "groups",
      "cms" -> "groups", "quant" -> "cdf"))((_, src, _, _) => {
      src.delete(col("v") < 20L)
      src.delete(col("g") === "g2")
      ()
    })
  }

  test("ladder: retractions with the change feed off rebuild for every " +
       "family") {
    ladder(feed = false, every("full"))((_, src, _, _) => {
      src.delete(col("v") < 20L); ()
    })
  }

  test("ladder: a DML commit that matched zero rows keeps its rung's " +
       "mode and adds no MV commit, for every family") {
    ladder(feed = true, Map("sql" -> "cdf", "hll" -> "groups",
      "cms" -> "groups", "quant" -> "cdf"), noCommit = true)((_, src, _, _) => {
      src.delete(col("v") < -1L); ()
    })
  }

  test("ladder: a stale covered-version replay is a txn-ledger noop for " +
       "every family") {
    ladder(feed = false, every("noop"))((f, src, mv, refresh) => {
      val covered = mv.properties(f.versionProp)
      src.append(rows(3, 60))
      assert(refresh() === "incremental")
      // the crash window: the merge committed, the property bump was lost
      mv.setProperties(Map(f.versionProp -> covered))
    })
  }

  private def quantFixture(prefix: String): (VersionedTable, VersionedTable) = {
    val root = tmpDir(prefix)
    val src = VersionedTable(spark, s"$root/src")
    val mv = VersionedTable(spark, s"$root/mv")
    src.enableChangeFeed()
    src.append(Seq(("a", 1.0), ("a", 2.0), ("b", 5.0)).toDF("g", "v"))  // v0
    Sketches.createQuant(src, mv, Seq("g"), "v")
    (src, mv)
  }

  test("quantile rollup: a cdf slice that empties a group adds exactly " +
       "one MV commit — the drop rides inside the markered merge") {
    val (src, mv) = quantFixture("mt-q1-")
    src.delete(col("g") === "b")                                         // v1
    val before = mv.latestVersion.get
    assert(Sketches.refreshQuant(spark, mv) === "cdf")
    assert(mv.latestVersion.get === before + 1)
    assert(mv.read.select("g").as[String].collect().toSeq === Seq("a"))
  }

  test("quantile rollup: a phantom n_rows = 0 group left by a crash " +
       "after the markered merge is swept on the ledger-healed resume") {
    val (src, mv) = quantFixture("mt-q2-")
    src.delete(col("g") === "b")                                         // v1
    // the crash window of an older binary: the cdf slice's markered
    // merge zeroed group b, the process died before b was dropped
    val txnApp = "graft-quant:" + mv.properties(Sketches.QuantEpochProp) +
      ":" + mv.root
    val add = (t: Column, u: Column) => t + u
    mv.merge(Seq(("b", -1L, -1L)).toDF("g", "n_rows", "n_vals")
        .withColumn("quant_sketch", map().cast("map<bigint,bigint>")),
      Seq("g"), updateExprs = Map("n_rows" -> add, "n_vals" -> add,
        "quant_sketch" -> ((_: Column, u: Column) => u)),
      txn = Some((txnApp, 1L)))
    assert(!mv.read.filter(col("n_rows") === 0L).isEmpty,
      "staging failed: the phantom row must exist pre-refresh")
    assert(Sketches.refreshQuant(spark, mv) === "noop")
    assert(mv.read.select("g").as[String].collect().toSeq === Seq("a"),
      "the phantom zero-count group must be swept on resume")
    assert(mv.properties(Sketches.QuantVersionProp) === "1")
  }

  test("HLL rollup: a groups refresh in which one group vanishes adds " +
       "exactly one MV commit — tombstones ride the replace merge") {
    val root = tmpDir("mt-hll-")
    val src = VersionedTable(spark, s"$root/src")
    val mv = VersionedTable(spark, s"$root/mv")
    src.enableChangeFeed()
    src.append(rows(0, 300))
    Sketches.create(src, mv, Seq("g"), "v")
    src.delete(col("g") === "g2" || (col("g") === "g0" && col("v") < 20L))
    val before = mv.latestVersion.get
    assert(Sketches.refresh(spark, mv) === "groups")
    assert(mv.latestVersion.get === before + 1)
    assert(mv.read.select("g").as[String].collect().toSet === Set("g0", "g1"))
  }
}
