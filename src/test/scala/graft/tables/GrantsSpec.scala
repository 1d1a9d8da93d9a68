package graft.tables

import graft.SparkSpec

/** Governance ledger + funnel enforcement — the engine's stand-in for
  * the reference's Unity Catalog grants template
  * (resources/uc/grants.sql:26-60). */
class GrantsSpec extends SparkSpec {
  import spark.implicits._

  private def freshCat(prefix: String): (String, Catalog) = {
    val root = tmpDir(prefix)
    val cat = new Catalog(spark, root)
    cat.bootstrap()
    (root, cat)
  }

  test("grants ledger: idempotent grant, exact revoke, survives a new " +
       "Catalog over the same root") {
    val (root, cat) = freshCat("grants-")
    cat.grant("SELECT", "TABLE", "gold.facts", "readers")
    cat.grant("SELECT", "TABLE", "gold.facts", "readers") // idempotent
    cat.grant("MODIFY", "SCHEMA", "silver", "engineers")
    cat.grant("USE CATALOG", "CATALOG", "football", "readers")
    assert(cat.grants.size === 3)
    cat.revoke("MODIFY", "SCHEMA", "silver", "engineers")
    cat.revoke("MODIFY", "SCHEMA", "silver", "engineers") // no-op, no error
    assert(cat.grants.map(_._1).sorted === Seq("SELECT", "USE CATALOG"))
    // durable: a fresh catalog instance reads the same ledger
    assert(new Catalog(spark, root).grants === cat.grants)
  }

  test("grant validation refuses unknown privileges, layers, and shapes") {
    val (_, cat) = freshCat("grants-val-")
    assertThrows[IllegalArgumentException](
      cat.grant("EXECUTE", "TABLE", "gold.t", "p"))
    assertThrows[IllegalArgumentException](
      cat.grant("SELECT", "SCHEMA", "platinum", "p"))
    assertThrows[IllegalArgumentException](
      cat.grant("SELECT", "TABLE", "bare_name", "p"))
    assertThrows[IllegalArgumentException](
      cat.grant("SELECT", "CATALOG", "football", "p")) // not a catalog priv
  }

  test("SQL surface: GRANT/REVOKE/SHOW GRANTS; reference-style qualified " +
       "names normalize to the single-warehouse namespace") {
    val (_, cat) = freshCat("grants-sql-")
    val gsql = GraftSql(spark, cat)
    // the reference's exact shapes (grants.sql:28,33,42,59)
    gsql.sql("GRANT USE CATALOG ON CATALOG football TO `football-readers`")
    gsql.sql("GRANT USE SCHEMA ON SCHEMA football.gold TO `football-readers`")
    gsql.sql("GRANT SELECT, MODIFY ON SCHEMA football.bronze TO `football-engineers`")
    gsql.sql("GRANT SELECT ON TABLE football.gold.dim_player TO `football-readers`")
    val all = gsql.sql("SHOW GRANTS")
      .as[(String, String, String, String)].collect().toSeq
    assert(all.contains(("football-readers", "USE SCHEMA", "SCHEMA", "gold")))
    assert(all.contains(("football-engineers", "MODIFY", "SCHEMA", "bronze")))
    assert(all.contains(("football-readers", "SELECT", "TABLE", "gold.dim_player")))
    // filters
    assert(gsql.sql("SHOW GRANTS TO `football-engineers`").count() === 2)
    assert(gsql.sql("SHOW GRANTS ON SCHEMA bronze").count() === 2)
    assert(gsql.sql("SHOW GRANTS ON TABLE gold.dim_player").count() === 1)
    assert(gsql.sql("SHOW GRANTS ON CATALOG").count() === 1)
    gsql.sql("REVOKE MODIFY ON SCHEMA football.bronze FROM `football-engineers`")
    assert(gsql.sql("SHOW GRANTS TO `football-engineers`").count() === 1)
  }

  test("enforcement: UC-conjunctive check on the funnel's statements; " +
       "owner sessions and empty ledgers are unrestricted") {
    val (root, cat) = freshCat("grants-enf-")
    val gsql = GraftSql(spark, cat)
    gsql.sql("CREATE TABLE silver.pts (team INT, points BIGINT)")
    gsql.sql("INSERT INTO silver.pts VALUES (1, 10)") // owner: no principal set
    try {
      spark.conf.set(GraftSql.PrincipalConf, "analyst")
      // empty ledger → solo default, still unrestricted
      gsql.sql("INSERT INTO silver.pts VALUES (1, 11)")
      // first grant (to someone else) activates enforcement
      gsql.sql("GRANT USE CATALOG ON CATALOG wh TO `other`")
      val denied = intercept[RuntimeException](
        gsql.sql("DESCRIBE HISTORY silver.pts"))
      assert(denied.getMessage.contains("lacks SELECT on silver.pts"))
      val deniedW = intercept[RuntimeException](
        gsql.sql("INSERT INTO silver.pts VALUES (2, 1)"))
      assert(deniedW.getMessage.contains("lacks MODIFY on silver.pts"))
      // grants administration is owner-only once enforcement is live
      val deniedG = intercept[RuntimeException](
        gsql.sql("GRANT SELECT ON TABLE silver.pts TO `analyst`"))
      assert(deniedG.getMessage.contains("owner-only"))
      // ...but SHOW GRANTS stays open
      assert(gsql.sql("SHOW GRANTS").count() === 1)

      // build the conjunctive chain as the owner
      spark.conf.unset(GraftSql.PrincipalConf)
      gsql.sql("GRANT USE CATALOG ON CATALOG wh TO `analyst`")
      gsql.sql("GRANT USE SCHEMA ON SCHEMA silver TO `analyst`")
      gsql.sql("GRANT SELECT ON TABLE silver.pts TO `analyst`")
      spark.conf.set(GraftSql.PrincipalConf, "analyst")
      assert(gsql.sql("DESCRIBE HISTORY silver.pts").count() === 3) // create + 2 inserts
      // a mutating statement charges its SOURCE only SELECT: creating a
      // new MV from the readable table works without MODIFY anywhere
      // (the not-yet-existing target occupies the target slot)
      gsql.sql("CREATE MATERIALIZED VIEW gold.pts_mv AS SELECT team, " +
        "sum(points) AS s, count(*) AS c FROM silver.pts GROUP BY team")
      // SELECT does not imply MODIFY
      assertThrows[RuntimeException](
        gsql.sql("DELETE FROM silver.pts WHERE team = 1"))
      // schema-level MODIFY covers the table; conjunction now complete
      spark.conf.unset(GraftSql.PrincipalConf)
      gsql.sql("GRANT MODIFY ON SCHEMA silver TO `analyst`")
      spark.conf.set(GraftSql.PrincipalConf, "analyst")
      gsql.sql("DELETE FROM silver.pts WHERE team = 1")
      assert(gsql.sql("DESCRIBE HISTORY silver.pts").count() === 4) // + delete
      // a mutating statement's SOURCE table needs only SELECT: INSERT
      // from the granted table into an ungranted one is denied on the
      // TARGET, proving per-position classification
      spark.conf.unset(GraftSql.PrincipalConf)
      gsql.sql("CREATE TABLE gold.pts_rollup (team INT, total BIGINT)")
      spark.conf.set(GraftSql.PrincipalConf, "analyst")
      val deniedT = intercept[RuntimeException](gsql.sql(
        "INSERT INTO gold.pts_rollup SELECT team, sum(points) " +
          "FROM silver.pts GROUP BY team"))
      assert(deniedT.getMessage.contains("lacks MODIFY on gold.pts_rollup"))
    } finally {
      spark.conf.unset(GraftSql.PrincipalConf)
      graft.plans.MvRewrite.deregisterRoot(s"$root/gold/pts_mv")
    }
  }

  test("enforcement closes resolver-equivalent spellings and ignores " +
       "table names inside string literals") {
    val (_, cat) = freshCat("grants-sp-")
    val gsql = GraftSql(spark, cat)
    gsql.sql("CREATE TABLE silver.gov (x INT, note STRING)")
    gsql.sql("CREATE TABLE gold.notes (id INT, body STRING)")
    try {
      // enforcement live; analyst gets the full chain on gold.notes ONLY
      spark.conf.unset(GraftSql.PrincipalConf)
      gsql.sql("GRANT USE CATALOG ON CATALOG wh TO `analyst`")
      gsql.sql("GRANT USE SCHEMA ON SCHEMA gold TO `analyst`")
      gsql.sql("GRANT SELECT, MODIFY ON TABLE gold.notes TO `analyst`")
      spark.conf.set(GraftSql.PrincipalConf, "analyst")
      // every spelling the resolver accepts is checked: underscore,
      // mixed-case layer, and a leading line comment
      assertThrows[RuntimeException](
        gsql.sql("INSERT INTO silver_gov VALUES (1, 'x')"))
      assertThrows[RuntimeException](
        gsql.sql("DELETE FROM Silver.gov WHERE x = 1"))
      assertThrows[RuntimeException](
        gsql.sql("-- note\nDESCRIBE HISTORY silver.gov"))
      // ...but DATA naming a governed table is not a reference
      gsql.sql("INSERT INTO gold.notes VALUES (1, 'see silver.gov today')")
      // a SELECT-only source suffices for CREATE VIEW; a principal
      // WITHOUT SELECT on the source is denied (no read-laundering)
      assertThrows[RuntimeException](
        gsql.sql("CREATE VIEW v_gov AS SELECT * FROM silver.gov"))
      // Spark resolves a BACKTICKED name identically to the bare one:
      // quoting must not dodge the charge
      val deniedTick = intercept[RuntimeException](
        gsql.sql("DESCRIBE HISTORY `silver_gov`"))
      assert(deniedTick.getMessage.contains("lacks SELECT on silver.gov"))
      assertThrows[RuntimeException](
        gsql.sql("INSERT INTO `silver_gov` VALUES (1, 'x')"))
      assertThrows[RuntimeException](
        gsql.sql("SELECT * FROM `Silver`.`gov`"))
      // leading parens / VALUES heads read tables like their bare
      // forms and must classify, not bypass every head regex
      assertThrows[RuntimeException](
        gsql.sql("(SELECT * FROM silver_gov)"))
      assertThrows[RuntimeException](
        gsql.sql("VALUES ((SELECT max(x) FROM silver_gov))"))
      // the granted table stays usable through every spelling
      cat.registerViews()
      assert(gsql.sql("SELECT count(*) AS c FROM `gold_notes`")
        .head().getLong(0) === 1L)
    } finally spark.conf.unset(GraftSql.PrincipalConf)
  }

  test("multi-underscore table names split like the resolver; a bad " +
       "privilege in a multi-grant persists nothing") {
    val (_, cat) = freshCat("grants-mu-")
    val gsql = GraftSql(spark, cat)
    gsql.sql("CREATE TABLE gold.dim_player (id INT)")
    try {
      spark.conf.unset(GraftSql.PrincipalConf)
      gsql.sql("GRANT USE CATALOG ON CATALOG wh TO `other`")
      spark.conf.set(GraftSql.PrincipalConf, "analyst")
      // resolver splits gold_dim_player -> (gold, dim_player); the
      // enforcement scan must agree, not split at the LAST separator
      val denied = intercept[RuntimeException](
        gsql.sql("INSERT INTO gold_dim_player VALUES (1)"))
      assert(denied.getMessage.contains("lacks MODIFY on gold.dim_player"))
    } finally spark.conf.unset(GraftSql.PrincipalConf)
    // atomic multi-grant: the invalid privilege voids the whole statement
    val before = cat.grants
    assertThrows[IllegalArgumentException](gsql.sql(
      "GRANT SELECT, EXECUTE ON TABLE gold.dim_player TO `bob`"))
    assert(cat.grants === before, "no partial grant may persist")
  }

  test("row filter trims registered-view reads per session principal; " +
       "no principal bound means deny-by-default for principal-keyed " +
       "filters") {
    val (_, cat) = freshCat("rls-")
    val gsql = GraftSql(spark, cat)
    gsql.sql("CREATE TABLE silver.sales (region STRING, amount BIGINT)")
    gsql.sql("INSERT INTO silver.sales VALUES ('eu', 10), ('eu', 20), " +
      "('us', 7)")
    gsql.sql(
      "ALTER TABLE silver.sales SET ROW FILTER " +
        "(region = current_principal() OR current_principal() = 'admin')")
    try {
      spark.conf.set(GraftSql.PrincipalConf, "eu")
      cat.registerViews()
      assert(spark.table("silver_sales").count() === 2)
      spark.conf.set(GraftSql.PrincipalConf, "admin")
      cat.registerViews()
      assert(spark.table("silver_sales").count() === 3)
      // unbound principal → current_principal() is NULL → no row matches
      spark.conf.unset(GraftSql.PrincipalConf)
      cat.registerViews()
      assert(spark.table("silver_sales").count() === 0)
      // drop restores full visibility
      gsql.sql("ALTER TABLE silver.sales DROP ROW FILTER")
      cat.registerViews()
      assert(spark.table("silver_sales").count() === 3)
      // a filter that cannot resolve fails the DDL, not later SELECTs
      assertThrows[Exception](gsql.sql(
        "ALTER TABLE silver.sales SET ROW FILTER (no_such_col > 1)"))
    } finally spark.conf.unset(GraftSql.PrincipalConf)
  }

  test("governed views follow a LIVE principal flip — register ONCE, " +
       "every later query re-binds current_principal() from the conf") {
    val (_, cat) = freshCat("live-")
    val gsql = GraftSql(spark, cat)
    gsql.sql("CREATE TABLE silver.sales (region STRING, amount BIGINT)")
    gsql.sql("INSERT INTO silver.sales VALUES ('eu', 10), ('eu', 20), " +
      "('us', 7)")
    gsql.sql("ALTER TABLE silver.sales SET ROW FILTER " +
      "(region = current_principal() OR current_principal() = 'admin')")
    gsql.sql("ALTER TABLE silver.sales ALTER COLUMN amount SET MASK " +
      "(CASE WHEN current_principal() = 'admin' THEN amount " +
      "ELSE CAST(-1 AS BIGINT) END)")
    try {
      spark.conf.set(GraftSql.PrincipalConf, "eu")
      cat.registerViews() // the ONLY registration in this test
      assert(spark.table("silver_sales").count() === 2)
      assert(spark.sql("SELECT sum(amount) FROM silver_sales")
        .as[Long].head() === -2L, "masked for a non-admin")
      // flip WITHOUT re-registering: the next query must see the new
      // identity's policy immediately
      spark.conf.set(GraftSql.PrincipalConf, "us")
      assert(spark.table("silver_sales").count() === 1)
      spark.conf.set(GraftSql.PrincipalConf, "admin")
      assert(spark.table("silver_sales").count() === 3)
      assert(spark.sql("SELECT sum(amount) FROM silver_sales")
        .as[Long].head() === 37L, "admin sees unmasked amounts")
      // unset → current_principal() folds to NULL → deny-by-default
      spark.conf.unset(GraftSql.PrincipalConf)
      assert(spark.table("silver_sales").count() === 0)
    } finally spark.conf.unset(GraftSql.PrincipalConf)
  }

  test("column masks rewrite governed reads schema-stably; the row " +
       "filter sees UNMASKED values; policy columns refuse RENAME/DROP") {
    val (_, cat) = freshCat("mask-")
    val gsql = GraftSql(spark, cat)
    gsql.sql("CREATE TABLE silver.users (uid BIGINT, email STRING, " +
      "region STRING)")
    gsql.sql("INSERT INTO silver.users VALUES (1, 'a@x.io', 'eu'), " +
      "(2, 'b@y.io', 'us')")
    gsql.sql("ALTER TABLE silver.users ALTER COLUMN email SET MASK " +
      "(CASE WHEN current_principal() = 'admin' THEN email " +
      "ELSE '***' END)")
    gsql.sql("ALTER TABLE silver.users SET ROW FILTER (email LIKE '%@%')")
    try {
      spark.conf.set(GraftSql.PrincipalConf, "analyst")
      cat.registerViews()
      val rows = spark.table("silver_users")
        .select("uid", "email").as[(Long, String)].collect().toSet
      // filter matched the TRUE emails; the output shows the mask
      assert(rows === Set((1L, "***"), (2L, "***")))
      assert(spark.table("silver_users").schema("email").dataType ===
        org.apache.spark.sql.types.StringType)
      spark.conf.set(GraftSql.PrincipalConf, "admin")
      cat.registerViews()
      assert(spark.table("silver_users").select("email").as[String]
        .collect().toSet === Set("a@x.io", "b@y.io"))
      // governance references pin the schema
      val eRen = intercept[IllegalArgumentException](gsql.sql(
        "ALTER TABLE silver.users RENAME COLUMN email TO mail"))
      assert(eRen.getMessage.contains("row filter or column mask"))
      val eDrop = intercept[IllegalArgumentException](gsql.sql(
        "ALTER TABLE silver.users DROP COLUMN email"))
      assert(eDrop.getMessage.contains("row filter or column mask"))
      // drop the policies → DDL frees up
      gsql.sql("ALTER TABLE silver.users ALTER COLUMN email DROP MASK")
      gsql.sql("ALTER TABLE silver.users DROP ROW FILTER")
      gsql.sql("ALTER TABLE silver.users RENAME COLUMN email TO mail")
      ()
    } finally spark.conf.unset(GraftSql.PrincipalConf)
  }

  test("UNDROP and COMMENT ON are governed: UNDROP charges MODIFY on " +
       "the in-trash target (existence filter bypassed), COMMENT ON " +
       "COLUMN's three-part name still charges the real table") {
    val (_, cat) = freshCat("grants-ud-")
    val gsql = GraftSql(spark, cat)
    gsql.sql("CREATE TABLE silver.gt (k INT, v STRING)")
    gsql.sql("INSERT INTO silver.gt VALUES (1, 'a')")
    gsql.sql("GRANT USE CATALOG ON CATALOG wh TO `other`") // arms enforcement
    try {
      spark.conf.set(GraftSql.PrincipalConf, "analyst")
      // COMMENT ON TABLE and COLUMN both deny without MODIFY
      val d1 = intercept[RuntimeException](
        gsql.sql("COMMENT ON TABLE silver.gt IS 'x'"))
      assert(d1.getMessage.contains("lacks MODIFY on silver.gt"))
      val d2 = intercept[RuntimeException](
        gsql.sql("COMMENT ON COLUMN silver.gt.k IS 'x'"))
      assert(d2.getMessage.contains("lacks MODIFY on silver.gt"),
        s"the 3-part name must charge the real table: ${d2.getMessage}")
      // drop as the owner, then UNDROP as the principal: denied —
      // resurrecting a governed table's data is a MODIFY
      spark.conf.unset(GraftSql.PrincipalConf)
      gsql.sql("DROP TABLE silver.gt")
      spark.conf.set(GraftSql.PrincipalConf, "analyst")
      val d3 = intercept[RuntimeException](
        gsql.sql("UNDROP TABLE silver.gt"))
      assert(d3.getMessage.contains("lacks MODIFY on silver.gt"))
      // the full conjunctive chain authorizes all three
      spark.conf.unset(GraftSql.PrincipalConf)
      gsql.sql("GRANT USE CATALOG ON CATALOG wh TO `analyst`")
      gsql.sql("GRANT USE SCHEMA ON SCHEMA silver TO `analyst`")
      gsql.sql("GRANT MODIFY ON SCHEMA silver TO `analyst`")
      spark.conf.set(GraftSql.PrincipalConf, "analyst")
      gsql.sql("UNDROP TABLE silver.gt")
      gsql.sql("COMMENT ON TABLE silver.gt IS 'governed'")
      gsql.sql("COMMENT ON COLUMN silver.gt.k IS 'key'")
      assert(cat.table("silver", "gt").properties("comment") === "governed")
    } finally spark.conf.unset(GraftSql.PrincipalConf)
  }

  test("pinned reads are governed: VERSION AS OF, @vN, TIMESTAMP AS OF " +
       "and table_changes apply the current row filter and masks") {
    val (_, cat) = freshCat("pinned-gov-")
    val gsql = GraftSql(spark, cat)
    gsql.sql("CREATE TABLE silver.pii (uid BIGINT, email STRING, " +
      "region INT) TBLPROPERTIES ('graft.enableChangeFeed' = 'true')") // v0
    gsql.sql("INSERT INTO silver.pii VALUES (1, 'a@x.io', 0), " +
      "(2, 'b@y.io', 1)")                                              // v1
    gsql.sql("ALTER TABLE silver.pii SET ROW FILTER (region = 0)")
    gsql.sql("ALTER TABLE silver.pii ALTER COLUMN email SET MASK ('***')")
    try {
      spark.conf.set(GraftSql.PrincipalConf, "analyst")
      Seq("silver.pii VERSION AS OF 1", "silver.pii@v1",
          "silver.pii TIMESTAMP AS OF '2099-01-01'",
          "table_changes('silver.pii', 1)").foreach { rel =>
        assert(gsql.sql(s"SELECT uid, email FROM $rel")
          .as[(Long, String)].collect().toSeq === Seq((1L, "***")), rel)
      }
      // a policy that cannot resolve against the old version's schema
      // refuses the read rather than returning it unfiltered
      gsql.sql("ALTER TABLE silver.pii ADD COLUMNS (tier INT)")          // v2
      gsql.sql("ALTER TABLE silver.pii SET ROW FILTER " +
        "(region = 0 AND tier IS NULL)")
      assert(gsql.sql("SELECT uid FROM silver.pii VERSION AS OF 2")
        .as[Long].collect().toSeq === Seq(1L))
      intercept[org.apache.spark.sql.AnalysisException](
        gsql.sql("SELECT uid FROM silver.pii VERSION AS OF 1").collect())
    } finally spark.conf.unset(GraftSql.PrincipalConf)
  }

  test("MERGE USING a graft table reads the source governed: the row " +
       "filter and masks apply to what lands in the target") {
    val (_, cat) = freshCat("merge-gov-")
    val gsql = GraftSql(spark, cat)
    gsql.sql("CREATE TABLE silver.pii (uid BIGINT, email STRING, region INT)")
    gsql.sql("INSERT INTO silver.pii VALUES (1, 'a@x.io', 0), " +
      "(2, 'b@y.io', 1)")
    gsql.sql("ALTER TABLE silver.pii SET ROW FILTER (region = 0)")
    gsql.sql("ALTER TABLE silver.pii ALTER COLUMN email SET MASK ('***')")
    gsql.sql("CREATE TABLE silver.mine (uid BIGINT, email STRING, region INT)")
    try {
      spark.conf.set(GraftSql.PrincipalConf, "analyst")
      gsql.sql("MERGE INTO silver.mine AS t USING silver.pii AS s " +
        "ON t.uid = s.uid WHEN NOT MATCHED THEN INSERT *")
      assert(cat.table("silver", "mine").read.as[(Long, String, Int)]
        .collect().toSeq === Seq((1L, "***", 0)))
    } finally spark.conf.unset(GraftSql.PrincipalConf)
  }

  test("a comment cannot hide a statement from the grant check: block " +
       "comments, leading, nested or holding an apostrophe, read as " +
       "whitespace") {
    val (root, cat) = freshCat("grants-cmt-")
    val gsql = GraftSql(spark, cat)
    gsql.sql("CREATE TABLE silver.secret (g INT, v BIGINT)")
    gsql.sql("INSERT INTO silver.secret VALUES (1, 10), (2, 20)")
    gsql.sql("CREATE TABLE gold.pub (g INT, v BIGINT)")
    gsql.sql("INSERT INTO gold.pub VALUES (1, 5)")
    gsql.sql("GRANT USE CATALOG ON CATALOG wh TO `analyst`")
    gsql.sql("GRANT USE SCHEMA ON SCHEMA gold TO `analyst`")
    gsql.sql("GRANT SELECT ON TABLE gold.pub TO `analyst`")
    try {
      spark.conf.set(GraftSql.PrincipalConf, "analyst")
      Seq(
        "CREATE MATERIALIZED VIEW gold.x1 AS SELECT g, /* it's */ sum(v) " +
          "AS s FROM silver.secret GROUP BY g",
        "/* c */ CREATE MATERIALIZED VIEW gold.x2 AS SELECT g, sum(v) " +
          "AS s FROM silver.secret GROUP BY g",
        "/* c */ DELETE FROM silver.secret WHERE g = 1",
        "/* a /* it's */ b */ DELETE FROM silver.secret WHERE g = 1"
      ).foreach { stmt =>
        val denied = intercept[RuntimeException](gsql.sql(stmt))
        assert(denied.getMessage.contains("PERMISSION_DENIED"), stmt)
      }
      assert(Seq("x1", "x2").forall(!cat.table("gold", _).exists))
      assert(cat.table("silver", "secret").read.count() === 2L)
      // the same comments over a granted source still run
      gsql.sql("CREATE MATERIALIZED VIEW gold.ok AS SELECT g, /* it's */ " +
        "sum(v) AS s FROM gold.pub GROUP BY g")
      assert(cat.table("gold", "ok").read.count() === 1L)
    } finally {
      spark.conf.unset(GraftSql.PrincipalConf)
      graft.plans.MvRewrite.deregisterRoot(s"$root/gold/ok")
    }
  }
}
