package graft.tables

import graft.SparkSpec

class CatalogSpec extends SparkSpec {
  import spark.implicits._

  test("bootstrap is idempotent; views register; SQL can query; drop works") {
    val root = tmpDir("cat-")
    val cat = new Catalog(spark, root)
    cat.bootstrap()
    cat.bootstrap() // idempotent
    cat.table("silver", "team").overwrite(Seq((1, "Arsenal")).toDF("id", "name"))
    cat.table("gold", "dim_team").overwrite(Seq((1, "ARS")).toDF("id", "code"))
    assert(cat.tables === Seq(("silver", "team"), ("gold", "dim_team"))
      .sortBy(t => cat.Layers.indexOf(t._1)))
    val views = cat.registerViews()
    assert(views.toSet === Set("silver_team", "silver_team_history",
      "gold_dim_team", "gold_dim_team_history"))
    val n = spark.sql(
      "SELECT count(*) FROM silver_team JOIN gold_dim_team USING (id)")
      .as[Long].head()
    assert(n === 1)
    // DESCRIBE HISTORY surface: the version log is SQL-queryable
    val hist = spark.sql(
      "SELECT version, action FROM silver_team_history ORDER BY version")
      .as[(Long, String)].collect().toSeq
    assert(hist === Seq((0L, "overwrite")))
    cat.dropTable("gold", "dim_team")
    assert(cat.tables === Seq(("silver", "team")))
    assert(!spark.catalog.tableExists("gold_dim_team"))
  }

  test("a dotted table name round-trips DROP → trash → UNDROP " +
       "(the 3-way split would orphan it)") {
    val root = tmpDir("cat-dot-")
    val cat = new Catalog(spark, root)
    cat.bootstrap()
    cat.table("gold", "stats.v2").overwrite(Seq((1, 2)).toDF("a", "b"))
    cat.dropTable("gold", "stats.v2")
    assert(cat.tables.isEmpty)
    val entries = cat.trashEntries
    assert(entries.map(e => (e._1, e._2)) === Seq(("gold", "stats.v2")),
      s"dotted name mis-parsed in trash: $entries")
    cat.undropTable("gold", "stats.v2")
    assert(cat.tables === Seq(("gold", "stats.v2")))
    assert(cat.table("gold", "stats.v2").read.count() === 1L)
    // ...and an expired dotted entry is purgeable, not a permanent leak
    cat.dropTable("gold", "stats.v2")
    assert(cat.purgeTrash(retentionMs = -1L).nonEmpty)
    assert(cat.trashEntries.isEmpty)
  }

  test("unknown layer is rejected") {
    val cat = new Catalog(spark, tmpDir("cat-"))
    assertThrows[IllegalArgumentException](cat.table("platinum", "x"))
  }

  test("durable views survive into a NEW catalog over the same root; " +
       "replace keeps position, drop removes") {
    val root = tmpDir("cat-vw-")
    val cat = new Catalog(spark, root)
    cat.bootstrap()
    cat.table("silver", "pts").overwrite(
      Seq((1, 10L), (1, 5L), (2, 7L)).toDF("team", "points"))
    cat.registerViews()
    // definitions may chain: the second view reads the first
    cat.createView("vw_points",
      "SELECT team, points FROM silver_pts WHERE points > 4")
    cat.createView("vw_team_totals",
      "SELECT team, sum(points) AS total FROM vw_points GROUP BY team")
    assert(spark.sql("SELECT total FROM vw_team_totals WHERE team = 1")
      .as[Long].head() === 15L)

    // a FRESH catalog instance over the same warehouse re-registers
    // both views from the ledger (session temp views died with... well,
    // same session here — drop them to prove re-registration is real)
    spark.catalog.dropTempView("vw_points")
    spark.catalog.dropTempView("vw_team_totals")
    val cat2 = new Catalog(spark, root)
    val registered = cat2.registerViews()
    assert(registered.contains("vw_points") &&
      registered.contains("vw_team_totals"))
    assert(spark.sql("SELECT total FROM vw_team_totals WHERE team = 2")
      .as[Long].head() === 7L)

    // OR REPLACE updates in place (position kept so dependents still
    // resolve); DROP removes from ledger and session
    cat2.createView("vw_points",
      "SELECT team, points FROM silver_pts") // no filter now
    assert(new Catalog(spark, root).views.map(_._1) ===
      Seq("vw_points", "vw_team_totals"))
    cat2.registerViews()
    assert(spark.sql("SELECT total FROM vw_team_totals WHERE team = 1")
      .as[Long].head() === 15L)
    assert(spark.sql("SELECT count(*) FROM vw_points").as[Long].head() === 3L)
    cat2.dropView("vw_team_totals")
    assert(new Catalog(spark, root).views.map(_._1) === Seq("vw_points"))
    assert(!spark.catalog.tableExists("vw_team_totals"))
  }

  test("SQL funnel: CREATE VIEW IF NOT EXISTS is durable; column-list " +
       "and COMMENT forms refuse instead of landing session-only") {
    val root = tmpDir("cat-vwparsed-")
    val cat = new Catalog(spark, root)
    cat.bootstrap()
    cat.table("silver", "m").overwrite(Seq((1, "x")).toDF("k", "v"))
    cat.registerViews()
    val gsql = GraftSql(spark, cat)
    val stored = Seq(("vw_ine", "SELECT k FROM silver_m"))
    gsql.sql("CREATE VIEW IF NOT EXISTS vw_ine AS SELECT k FROM silver_m")
    assert(new Catalog(spark, root).views === stored)
    // over an existing view IF NOT EXISTS keeps the stored definition
    gsql.sql("CREATE VIEW IF NOT EXISTS vw_ine AS SELECT v FROM silver_m")
    assert(new Catalog(spark, root).views === stored)
    Seq("vw_cols" -> "CREATE VIEW vw_cols (one) AS SELECT 1",
        "vw_com" -> "CREATE VIEW vw_com COMMENT 'c' AS SELECT 1 AS one")
      .foreach { case (name, stmt) =>
        val e = intercept[IllegalArgumentException](gsql.sql(stmt))
        assert(e.getMessage.contains("keeps only its name and query"), name)
        assert(!spark.catalog.tableExists(name), s"$name landed session-only")
      }
    assert(new Catalog(spark, root).views.map(_._1) === Seq("vw_ine"))
  }

  test("SQL funnel: CREATE VIEW persists durably, DROP VIEW removes; " +
       "TEMP views stay session-only") {
    val root = tmpDir("cat-vwsql-")
    val cat = new Catalog(spark, root)
    cat.bootstrap()
    cat.table("silver", "m").overwrite(Seq((1, "x")).toDF("k", "v"))
    cat.registerViews()
    val gsql = GraftSql(spark, cat)
    gsql.sql("CREATE VIEW vw_m AS SELECT k FROM silver_m")
    assert(new Catalog(spark, root).views.map(_._1) === Seq("vw_m"))
    // plain CREATE refuses an existing durable view; OR REPLACE works
    assertThrows[IllegalArgumentException](
      gsql.sql("CREATE VIEW vw_m AS SELECT v FROM silver_m"))
    gsql.sql("CREATE OR REPLACE VIEW vw_m AS SELECT v FROM silver_m")
    assert(spark.sql("SELECT v FROM vw_m").as[String].head() === "x")
    // TEMP VIEW bypasses the ledger entirely
    gsql.sql("CREATE TEMP VIEW vw_tmp AS SELECT 1 AS one")
    assert(new Catalog(spark, root).views.map(_._1) === Seq("vw_m"))
    // SHOW VIEWS lists the ledger
    assert(gsql.sql("SHOW VIEWS").as[(String, String)].collect().toSeq ===
      Seq(("vw_m", "SELECT v FROM silver_m")))
    // a qualified name cannot be a durable (temp-registered) view —
    // refused loudly instead of silently landing session-only
    val eq = intercept[RuntimeException](
      gsql.sql("CREATE VIEW gold.vw_q AS SELECT 1 AS one"))
    assert(eq.getMessage.contains("single-level"))
    gsql.sql("DROP VIEW vw_m")
    assert(gsql.sql("SHOW VIEWS").count() === 0L)
    assert(new Catalog(spark, root).views.isEmpty)
    // names outside the ledger delegate to spark.sql: dropping a plain
    // temp view still works, a missing one fails with Spark's error
    assertThrows[org.apache.spark.sql.AnalysisException](
      gsql.sql("DROP VIEW vw_m"))
    gsql.sql("DROP VIEW IF EXISTS vw_m") // quiet via spark.sql
    gsql.sql("DROP VIEW vw_tmp")         // the TEMP view from above
    assert(!spark.catalog.tableExists("vw_tmp"))
    ()
  }

  test("a durable CREATE VIEW that fails to register writes no ledger " +
       "entry, so later registerViews() still succeed") {
    val root = tmpDir("cat-vwfail-")
    val cat = new Catalog(spark, root)
    cat.bootstrap()
    cat.table("silver", "s").overwrite(Seq((1, "x")).toDF("k", "v"))
    cat.registerViews()
    val gsql = GraftSql(spark, cat)
    gsql.sql("CREATE VIEW v_ok AS SELECT k FROM silver_s")
    val before = cat.views
    intercept[org.apache.spark.sql.AnalysisException](
      gsql.sql("CREATE VIEW v_dot AS SELECT * FROM silver.s"))
    assert(cat.views === before)
    assert(!spark.catalog.tableExists("v_dot"))
    val registered = cat.registerViews()
    assert(registered.contains("v_ok") && !registered.contains("v_dot"))
    spark.catalog.dropTempView("v_ok")
  }

  test("OR REPLACE can create forward ledger references; the fixed-point " +
       "registration pass still resolves them in a fresh session") {
    val root = tmpDir("cat-vwfwd-")
    val cat = new Catalog(spark, root)
    cat.bootstrap()
    cat.table("silver", "b").overwrite(Seq((1, 2L)).toDF("k", "v"))
    cat.registerViews()
    cat.createView("v1", "SELECT k, v FROM silver_b")
    cat.createView("v2", "SELECT sum(v) AS sv FROM v1")
    cat.createView("v3", "SELECT k, v * 10 AS v FROM silver_b")
    // REPLACE v1 (ledger position 0) to read v3 (position 2): the
    // ledger now holds a forward reference
    cat.createView("v1", "SELECT k, v FROM v3")
    Seq("v1", "v2", "v3").foreach(spark.catalog.dropTempView)
    val registered = new Catalog(spark, root).registerViews()
    assert(Seq("v1", "v2", "v3").forall(registered.contains))
    assert(spark.sql("SELECT sv FROM v2").as[Long].head() === 20L)
  }

  test("concurrent createView calls never lose a definition: the ledger " +
       "rewrite is serialized like the grants ledger's") {
    val root = tmpDir("cat-vwconc-")
    val cat = new Catalog(spark, root)
    cat.bootstrap()
    cat.table("silver", "b").overwrite(Seq((1, 2L)).toDF("k", "v"))
    cat.registerViews()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 16).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit =
            cat.createView(s"cv_$i", s"SELECT k, v + $i AS v FROM silver_b")
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    val names = cat.views.map(_._1).toSet
    assert((0 until 16).forall(i => names.contains(s"cv_$i")),
      s"last-writer-wins dropped definitions: $names")
    (0 until 16).foreach(i => spark.catalog.dropTempView(s"cv_$i"))
  }
}
