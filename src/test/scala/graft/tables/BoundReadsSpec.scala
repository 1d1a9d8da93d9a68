package graft.tables

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}

/** Every graft read binds in the parsed plan (`GraftSql.bindReads`), and
  * the grant check charges what the statement binds. */
class BoundReadsSpec extends SparkSpec {
  import spark.implicits._

  private def warehouse(prefix: String): (Catalog, GraftSql) = {
    val cat = new Catalog(spark, tmpDir(prefix))
    cat.bootstrap()
    (cat, GraftSql(spark, cat))
  }

  private def rows(df: DataFrame): Set[(Int, String)] =
    df.as[(Int, String)].collect().toSet

  private def rowFailures(rows: Seq[(String, () => Unit)]): Seq[String] =
    rows.flatMap { case (name, run) =>
      scala.util.Try(run()).failed.toOption.map(e => s"$name: ${e.getMessage}")
    }

  test("graft reads bind in the parsed plan: dotted reads, DML and CTAS " +
       "sources match the table, and a read after a write sees the write") {
    val (cat, sql) = warehouse("bound-reads-")
    sql.sql("CREATE TABLE silver.s (k INT, v STRING)")
    sql.sql("INSERT INTO silver.s VALUES (1, 'a'), (2, 'b')")
    val s = cat.table("silver", "s")
    Seq("d_ins", "d_mrg").foreach(d =>
      sql.sql(s"CREATE TABLE silver.$d (k INT, v STRING)"))
    cat.registerViews() // the temp views are snapshots from here on
    val failed = rowFailures(Seq(
      "SELECT from silver.s" -> (() =>
        assert(rows(sql.sql("SELECT * FROM silver.s")) === rows(s.read))),
      "INSERT ... SELECT from silver.s" -> (() => {
        sql.sql("INSERT INTO silver.d_ins SELECT * FROM silver.s")
        assert(rows(cat.table("silver", "d_ins").read) === rows(s.read))
      }),
      "CTAS from silver.s" -> (() => {
        sql.sql("CREATE TABLE silver.d_ctas AS SELECT * FROM silver.s")
        assert(rows(cat.table("silver", "d_ctas").read) === rows(s.read))
      }),
      "MERGE USING a subquery over silver.s" -> (() => {
        sql.sql("MERGE INTO silver.d_mrg AS t USING (SELECT k, v FROM " +
          "silver.s) s ON t.k = s.k WHEN NOT MATCHED THEN INSERT *")
        assert(rows(cat.table("silver", "d_mrg").read) === rows(s.read))
      }),
      "reads after a GraftSql INSERT see it, with no registerViews" -> (() => {
        sql.sql("INSERT INTO silver.s VALUES (3, 'c')")
        Seq("silver.s", "silver_s", "`Silver_s`", "`silver`.`s`").foreach {
          rel => assert(sql.sql(s"SELECT count(*) FROM $rel")
            .as[Long].head() === 3L, rel)
        }
        assert(sql.sql("SELECT count(*) FROM silver_s_history").as[Long]
          .head() === s.history.length.toLong)
      }),
      "the written name qualifies the bound relation" -> (() =>
        assert(sql.sql("SELECT silver.s.k FROM silver.s WHERE s.k = 1")
          .as[Int].collect().toSeq === Seq(1))),
      "a self-join reads one snapshot" -> (() => {
        val df = sql.sql("SELECT count(*) FROM silver.s a JOIN silver_s b " +
          "ON a.k = b.k")
        assert(df.as[Long].head() === 3L)
        val scans = df.queryExecution.optimizedPlan.collect {
          case l: LogicalRelation => l.relation match {
            case r: HadoopFsRelation => r.location.inputFiles.toSet
          }
        }
        assert(scans.length === 2 && scans.distinct.length === 1, scans)
      }),
      "a CTE named like a table shadows it" -> (() =>
        assert(sql.sql("WITH silver_s AS (SELECT 9 AS k) SELECT k FROM " +
          "silver_s").as[Int].collect().toSeq === Seq(9))),
      "a CTE shadows only in its own scope" -> (() => {
        assert(sql.sql("SELECT count(*) FROM silver_s WHERE k IN (WITH " +
          "silver_s AS (SELECT 1 AS k) SELECT k FROM silver_s)").as[Long]
          .head() === 1L)
        assert(sql.sql("WITH silver_s AS (SELECT * FROM silver_s WHERE " +
          "k > 1) SELECT count(*) FROM silver_s").as[Long].head() === 2L)
      }),
      "CACHE TABLE ... AS keeps the bound read" -> (() => {
        sql.sql("CACHE TABLE s_cached AS SELECT * FROM silver_s")
        try assert(sql.sql("SELECT count(*) FROM s_cached").as[Long]
          .head() === 3L)
        finally {
          spark.sql("UNCACHE TABLE IF EXISTS s_cached")
          spark.catalog.dropTempView("s_cached")
        }
      })))
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("grants charge what the statement binds: REPLACE TABLE needs " +
       "MODIFY; CACHE TABLE, table_changes and EXPLAIN need SELECT; " +
       "refused statements commit nothing") {
    val (cat, sql) = warehouse("bound-grants-")
    sql.sql("CREATE TABLE silver.pts (team INT, points BIGINT)")
    sql.sql("INSERT INTO silver.pts VALUES (1, 10), (2, 20)")
    sql.sql("CREATE TABLE silver.sec (k INT, v STRING) TBLPROPERTIES " +
      "('graft.enableChangeFeed' = 'true')")
    sql.sql("INSERT INTO silver.sec VALUES (1, 'secret')")
    sql.sql("GRANT USE CATALOG ON CATALOG wh TO `analyst`")
    sql.sql("GRANT USE SCHEMA ON SCHEMA silver TO `analyst`")
    sql.sql("GRANT SELECT ON TABLE silver.pts TO `analyst`")
    val (pts, sec) = (cat.table("silver", "pts"), cat.table("silver", "sec"))
    val before = (pts.history.length, sec.history.length,
      pts.read.as[(Int, Long)].collect().toSet)
    cat.registerViews() // a snapshot view a missed bind would fall back to
    try {
      spark.conf.set(GraftSql.PrincipalConf, "analyst")
      Seq(
        "REPLACE TABLE silver.pts AS SELECT 9 AS team, 9L AS points" ->
          "lacks MODIFY on silver.pts",
        "CREATE OR REPLACE TABLE silver.pts (x INT)" ->
          "lacks MODIFY on silver.pts",
        "CACHE TABLE sec_x AS SELECT * FROM silver_sec" ->
          "lacks SELECT on silver.sec",
        "SELECT * FROM table_changes('silver.sec', 1)" ->
          "lacks SELECT on silver.sec",
        "EXPLAIN SELECT * FROM silver_sec" -> "lacks SELECT on silver.sec",
        "SELECT * FROM silver_sec_history" -> "lacks SELECT on silver.sec",
        "SELECT * FROM silver_sec WHERE k IN (WITH silver_sec AS (SELECT " +
          "1 AS k) SELECT k FROM silver_sec)" -> "lacks SELECT on silver.sec",
        "WITH silver_sec AS (SELECT * FROM silver_sec) SELECT * FROM " +
          "silver_sec" -> "lacks SELECT on silver.sec",
        "SHOW TBLPROPERTIES silver.sec" -> "lacks SELECT on silver.sec"
      ).foreach { case (stmt, why) =>
        val denied = intercept[RuntimeException](sql.sql(stmt))
        assert(denied.getMessage.contains(why), s"$stmt: ${denied.getMessage}")
      }
      assert(!spark.catalog.tableExists("sec_x"))
      assert(sql.sql("SELECT count(*) FROM silver_pts").as[Long].head() === 2L)
      assert(sql.sql("SHOW COLUMNS IN silver.pts").count() === 2L)
    } finally spark.conf.unset(GraftSql.PrincipalConf)
    assert((pts.history.length, sec.history.length,
      pts.read.as[(Int, Long)].collect().toSet) === before)
  }

  test("an owner session reads no grants ledger") {
    val (cat, sql) = warehouse("bound-owner-")
    sql.sql("CREATE TABLE silver.pts (team INT, points BIGINT)")
    sql.sql("GRANT USE CATALOG ON CATALOG wh TO `analyst`")
    // a ledger no read can parse: any grant check would throw on it
    val ledger = java.nio.file.Paths.get(cat.table("silver", "pts").root)
      .getParent.getParent.resolve("_grants.ledger")
    java.nio.file.Files.writeString(ledger, "not a ledger row\n")
    sql.sql("INSERT INTO silver.pts VALUES (1, 10)")
    assert(sql.sql("SELECT count(*) FROM silver_pts").as[Long].head() === 1L)
    assert(sql.sql("DESCRIBE HISTORY silver.pts").count() === 2L)
  }

  test("graft-only statements read past a leading comment; a hint in " +
       "a bound read survives") {
    val (cat, sql) = warehouse("bound-comment-")
    sql.sql("CREATE TABLE silver.pts (team INT, points BIGINT)")
    sql.sql("INSERT INTO silver.pts VALUES (1, 10)")
    sql.sql("INSERT INTO silver.pts VALUES (2, 20)")
    val t = cat.table("silver", "pts")
    assert(sql.sql("-- note\nDESCRIBE HISTORY silver.pts").count() === 3L)
    sql.sql("/* c */ OPTIMIZE silver.pts")
    sql.sql("/* c */ VACUUM silver.pts RETAIN 1 VERSIONS")
    assert(sql.sqlScript("/* c */ DESCRIBE DETAIL silver.pts; " +
      "SELECT count(*) FROM silver.pts").as[Long].head() === 2L)
    assert(t.read.count() === 2L)
    assert(sql.sql("SELECT /*+ REPARTITION(3) */ * FROM silver.pts")
      .rdd.getNumPartitions === 3)
  }
}
