package graft.tables

import graft.SparkSpec

/** The DML and CREATE TABLE statements of [[GraftSql]], which Spark's
  * own parser reads: the history action and file-set routing of every
  * lifecycle form, and the statements whose literals or nesting a text
  * grammar gets wrong. */
class SqlDmlSpec extends SparkSpec {
  import spark.implicits._

  private def warehouse(): (Catalog, GraftSql) = {
    val cat = new Catalog(spark, tmpDir("graft-dml-"))
    cat.bootstrap()
    (cat, GraftSql(spark, cat))
  }

  /** How a commit treated the file-sets it started from: `append` kept
    * them all and added more, `carry` kept them all and added none,
    * `range` rewrote only some (stats or cell pruning), `full` kept
    * none. */
  private def routing(before: Seq[String], after: Seq[String]): String = {
    val carried = before.count(after.contains)
    if (carried == before.length) {
      if (after.length > before.length) "append" else "carry"
    } else if (carried > 0) "range" else "full"
  }

  private def withAnsi(on: Boolean)(f: => Unit): Unit = {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try f
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("routing table: every DML lifecycle form lands as its history " +
       "action, range-routed only where the predicate allows") {
    val (cat, sql) = warehouse()
    val upsert = "MERGE INTO %t AS t USING (SELECT %k AS k, 'm' AS v) AS s " +
      "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *"
    // (setup, statement, history action, routing); every table starts
    // as two stats-covered inserts: k in [1, 2] and k in [100, 101]
    val forms: Seq[(Seq[String], String, String, String)] = Seq(
      (Nil, "INSERT INTO %t VALUES (3, 'c')", "append", "append"),
      (Nil, "INSERT INTO %t (k) VALUES (4)", "append", "append"),
      (Nil, "INSERT OVERWRITE %t VALUES (9, 'z')", "overwrite", "full"),
      (Nil, "INSERT INTO %t REPLACE WHERE k BETWEEN 100 AND 200 " +
        "VALUES (150, 'z')", "replace_where", "range"),
      (Nil, "INSERT INTO %t REPLACE WHERE k > 99 VALUES (150, 'z')",
        "replace_where", "full"),
      (Nil, "UPDATE %t SET v = 'u' WHERE k = 100", "update", "range"),
      (Nil, "UPDATE %t AS z SET z.v = 'u' WHERE z.k BETWEEN 100 AND 101",
        "update", "range"),
      (Nil, "UPDATE %t SET v = 'u' WHERE k > 99", "update", "full"),
      (Nil, "UPDATE %t SET v = 'u'", "update", "full"),
      (Nil, "DELETE FROM %t WHERE k = 100.0", "delete", "range"),
      (Nil, "DELETE FROM %t WHERE v = 'x'", "delete", "range"),
      (Nil, "DELETE FROM %t WHERE k = 1.5", "delete", "full"),
      (Nil, "DELETE FROM %t", "delete", "full"),
      (Seq("ALTER TABLE %t SET TBLPROPERTIES " +
        "('graft.enableDeletionVectors' = 'true')"),
        "DELETE FROM %t WHERE k = 100", "delete_dv", "carry"),
      (Nil, "TRUNCATE TABLE %t", "overwrite", "full"),
      // the first merge into an unbucketed table migrates it (one full
      // rewrite); after that only the touched (partition, bucket) cells
      (Nil, upsert.replace("%k", "100"), "merge", "full"),
      (Seq(upsert.replace("%k", "100")), upsert.replace("%k", "1"),
        "merge", "range"),
      (Nil, "MERGE INTO %t AS t USING (SELECT 5 AS k, 'n' AS v) AS s " +
        "ON t.k = s.k WHEN NOT MATCHED THEN INSERT *", "append", "append"),
      (Nil, "MERGE INTO %t AS t USING (SELECT 100 AS k) AS s " +
        "ON t.k = s.k WHEN MATCHED THEN DELETE", "merge", "full"),
      (Nil, "MERGE INTO %t AS t USING (SELECT 100 AS k, 'q' AS v) AS s " +
        "ON t.k = s.k WHEN MATCHED AND s.v = 'q' THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)",
        "merge", "full"),
      (Nil, "CREATE OR REPLACE TABLE %t (k INT, v STRING)",
        "overwrite", "full"),
      (Nil, "CREATE OR REPLACE TABLE %t PARTITIONED BY (v) AS " +
        "SELECT 1 AS k, 'a' AS v", "overwrite", "full"),
      (Nil, "ALTER TABLE %t ADD COLUMNS (w INT)", "append", "append"),
      (Nil, "ALTER TABLE %t RENAME COLUMN v TO v2", "rename_column", "carry"),
      (Nil, "ALTER TABLE %t DROP COLUMN v", "drop_column", "carry"))
    val observed = forms.zipWithIndex.map { case ((setup, stmt, _, _), i) =>
      def on(s: String) = s.replace("%t", s"gold.rt$i")
      sql.sql(on("CREATE TABLE %t (k INT, v STRING)"))
      sql.sql(on("INSERT INTO %t VALUES (1, 'a'), (2, 'b')"))
      sql.sql(on("INSERT INTO %t VALUES (100, 'x'), (101, 'y')"))
      sql.sql(on("ANALYZE TABLE %t COMPUTE STATISTICS FOR ALL COLUMNS"))
      setup.foreach(s => sql.sql(on(s)))
      val t = cat.table("gold", s"rt$i")
      val before = t.history.last.fileSets
      sql.sql(on(stmt))
      val after = t.history.last
      (stmt, after.action, routing(before, after.fileSets))
    }
    assert(observed === forms.map(f => (f._2, f._3, f._4)))
    // DROP TABLE leaves no history to read: the table is gone
    sql.sql("DROP TABLE gold.rt0")
    assert(!cat.table("gold", "rt0").exists)
  }

  test("MERGE whose source subquery joins with JOIN … ON applies") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.jm (k INT, v STRING)")
    sql.sql("INSERT INTO silver.jm VALUES (1, 'old'), (2, 'keep')")
    Seq((1, "a"), (3, "c")).toDF("k", "x").createOrReplaceTempView("jm_left")
    Seq((1, "A"), (3, "C")).toDF("k", "y").createOrReplaceTempView("jm_right")
    val t = cat.table("silver", "jm")
    def rows = t.read.as[(Int, String)].collect().toSet
    sql.sql("""MERGE INTO silver.jm AS t
      USING (SELECT l.k, concat(l.x, r.y) AS v
             FROM jm_left l JOIN jm_right r ON l.k = r.k) AS s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(rows === Set((1, "aA"), (2, "keep"), (3, "cC")))
    // the conditional-clause path reads the same kind of source
    sql.sql("""MERGE INTO silver.jm AS t
      USING (SELECT l.k, r.y FROM jm_left l JOIN jm_right r ON l.k = r.k
             WHERE l.k = 3) AS s
      ON t.k = s.k
      WHEN MATCHED AND s.y = 'C' THEN DELETE""")
    assert(rows === Set((1, "aA"), (2, "keep")))
  }

  test("range routing keeps SQL semantics: a literal that does not cast " +
       "losslessly selects what Spark's = and BETWEEN select, ANSI on " +
       "and off") {
    for (ansi <- Seq(true, false)) withAnsi(ansi) {
      val (cat, sql) = warehouse()
      sql.sql("CREATE TABLE silver.lossy (k INT, v STRING)")
      sql.sql("INSERT INTO silver.lossy VALUES (1, 'a'), (2, 'b'), (3, 'c')")
      val t = cat.table("silver", "lossy")
      def rows = t.read.as[(Int, String)].collect().toSet
      sql.sql("UPDATE silver.lossy SET v = 'u' WHERE k = 2.5")
      assert(rows === Set((1, "a"), (2, "b"), (3, "c")), s"ansi=$ansi")
      sql.sql("DELETE FROM silver.lossy WHERE k = 1.5")
      assert(rows === Set((1, "a"), (2, "b"), (3, "c")), s"ansi=$ansi")
      sql.sql("DELETE FROM silver.lossy WHERE k BETWEEN 1.5 AND 2.5")
      assert(rows === Set((1, "a"), (3, "c")), s"ansi=$ansi")
    }
  }

  test("literals shaped like SQL stay data: 's.' in a NOT MATCHED BY " +
       "SOURCE value, ' WHERE ' in an UPDATE value") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.lit (k INT, v STRING)")
    sql.sql("INSERT INTO silver.lit VALUES (1, 'a'), (2, 'b')")
    val t = cat.table("silver", "lit")
    def rows = t.read.as[(Int, String)].collect().toSet
    sql.sql("MERGE INTO silver.lit AS t USING (SELECT 1 AS k) AS s " +
      "ON t.k = s.k " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'see s.x'")
    assert(rows === Set((1, "a"), (2, "see s.x")))
    sql.sql("UPDATE silver.lit SET v = 'x WHERE k = 1'")
    assert(rows === Set((1, "x WHERE k = 1"), (2, "x WHERE k = 1")))
  }
}
