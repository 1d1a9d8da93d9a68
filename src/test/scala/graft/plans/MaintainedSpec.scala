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

  /** The join family through the same ladder: a single-dim join MV
    * (`fact ⋈ dim` on `t`, grouped on the dim's `color`; the dim's
    * `t = 4` row has a NULL color and no fact rows) built fresh per
    * history shape. After `shape` and one REFRESH: the mode, no MV
    * commit for a `noop` (or any refresh, with `noCommit`), both
    * covered-version properties at their sides' heads, and the state a
    * rebuild of the join would produce. */
  private def joinLadder(expected: String, feed: Boolean = true,
                         withMax: Boolean = false, noCommit: Boolean = false)
                        (shape: (VersionedTable, VersionedTable, VersionedTable,
                          () => String) => Unit): Unit = {
    val root = tmpDir("graft-ladder-join-")
    val fact = VersionedTable(spark, s"$root/fact")
    val dim = VersionedTable(spark, s"$root/dim")
    val mv = VersionedTable(spark, s"$root/mv")
    if (feed) { fact.enableChangeFeed(); dim.enableChangeFeed() }
    fact.append(rows(0, 300).withColumn("t", (col("v") % 4).cast("int"))
      .drop("g"))
    dim.append(Seq[(Int, String)]((0, "red"), (1, "blue"), (2, "red"),
      (3, "gold"), (4, null)).toDF("t", "color"))
    val aggs = Seq(MvRewrite.AggSpec("sum", "v", "s"),
      MvRewrite.AggSpec("count", "v", "n_v"),
      MvRewrite.AggSpec("count", "*", "n")) ++
      (if (withMax) Seq(MvRewrite.AggSpec("max", "v", "m")) else Nil)
    JoinMv.create(fact, dim, Seq(("t", "t")), Seq("color"), aggs, mv)
    val view = Seq(col("color"), col("s"), col("n_v"), col("n")) ++
      (if (withMax) Seq(col("m")) else Nil)
    def rebuild: DataFrame = fact.read.join(dim.read, "t").groupBy("color")
      .agg(sum("v").as("s"), count("v").as("n_v"), count(lit(1)).as("n"),
        max("v").as("m"))
    try {
      shape(fact, dim, mv, () => JoinMv.refresh(spark, mv))
      val before = mv.latestVersion
      val mode = JoinMv.refresh(spark, mv)
      assert(mode === expected, "join mode")
      if (mode == "noop" || noCommit)
        assert(mv.latestVersion === before, "join: no MV commit")
      assert(mv.properties(JoinMv.FactVersionProp).toLong ===
        fact.latestVersion.get, "join covered fact version")
      assert(mv.properties(JoinMv.DimVersionProp).toLong ===
        dim.latestVersion.get, "join covered dim version")
      assert(mv.read.select(view: _*).collect().toSet ===
        rebuild.select(view: _*).collect().toSet,
        "join state must equal a rebuild")
    } finally MvRewrite.deregister(mv)
  }

  test("join ladder: every history shape takes the rung the single-source " +
       "ladder's rules give a fact⋈dim rollup, covering both heads") {
    def factRows(tag: Int, n: Int, t: Int): DataFrame =
      rows(tag, n).select(lit(t).as("t"), col("v"))
    joinLadder("noop")((_, _, _, _) => ())
    joinLadder("noop")((fact, _, _, _) => { fact.compact(); () })
    joinLadder("noop")((_, dim, _, _) => { dim.compact(); () })
    joinLadder("cdf")((fact, _, _, _) => { fact.append(factRows(1, 60, 1)); () })
    joinLadder("full", feed = false)((fact, _, _, _) => {
      fact.append(factRows(1, 60, 1)); ()
    })
    joinLadder("full")((fact, _, _, _) => {
      fact.append(factRows(2, 30, 4)); ()  // t = 4 joins the NULL color
    })
    joinLadder("cdf")((fact, _, _, _) => {
      fact.delete(col("v") < 20L)
      fact.delete(col("t") === 1)          // blue vanishes
      ()
    })
    joinLadder("groups", withMax = true)((fact, _, _, _) => {
      fact.delete(col("v") < 20L)
      fact.delete(col("t") === 1)
      ()
    })
    joinLadder("cdf", noCommit = true)((fact, _, _, _) => {
      fact.delete(col("v") < -1L); ()
    })
    joinLadder("cdf-dims")((_, dim, _, _) => {
      dim.update(Map("color" -> lit("blue")), col("t") === 0)
      dim.delete(col("t") === 3)
      ()
    })
    joinLadder("noop")((fact, _, mv, refresh) => {
      val covered = mv.properties(JoinMv.FactVersionProp)
      fact.append(factRows(3, 60, 2))
      assert(refresh() === "cdf")
      // the crash window: the merge committed, the property bump was lost
      mv.setProperties(Map(JoinMv.FactVersionProp -> covered))
    })
  }
}
