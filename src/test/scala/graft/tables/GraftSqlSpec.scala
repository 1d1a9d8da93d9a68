package graft.tables

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, lit}

/** The SQL maintenance surface ([[GraftSql]]): parsed OPTIMIZE / VACUUM
  * statements complete the lifecycle next to the DESCRIBE relation flows
  * (reference intent: docs/backlog.md:103-106, the empty
  * notebooks/05_ops/61_optimize_and_maintenance.sql). */
class GraftSqlSpec extends SparkSpec {
  import spark.implicits._

  private def warehouse(): (Catalog, GraftSql) = {
    val cat = new Catalog(spark, tmpDir("graft-sql-"))
    cat.bootstrap()
    (cat, GraftSql(spark, cat))
  }

  test("OPTIMIZE bin-packs small file-sets and preserves the data exactly") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "kv")
    (0 until 3).foreach(i => t.append(Seq((i, s"v$i")).toDF("k", "v")))
    assert(t.history.last.fileSets.length === 3)
    val m = sql.sql("OPTIMIZE silver.kv").as[
      (String, Long, Long, Long, Long)].head()
    assert(m === (("compact", 2L, 3L, 3L, 1L)))
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((0, "v0"), (1, "v1"), (2, "v2")))
  }

  test("OPTIMIZE leaves file-sets above the small-file threshold alone") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "big")
    t.append((0 until 5000).map(i => (i, s"v$i")).toDF("k", "v"))
    t.append(Seq((9999, "tiny")).toDF("k", "v"))
    t.append(Seq((9998, "tiny2")).toDF("k", "v"))
    // drop the threshold so the first (larger) file-set counts as big:
    // only the two tiny appends fold, the big set is carried verbatim
    spark.conf.set(GraftSql.SmallFileBytesConf, "4096")
    try {
      val m = sql.sql("OPTIMIZE silver.big")
        .select("operation", "file_sets_after").as[(String, Long)].head()
      assert(m === (("compact", 2L))) // 1 big carried + 1 folded
    } finally spark.conf.unset(GraftSql.SmallFileBytesConf)
    assert(t.read.count() === 5002)
  }

  test("OPTIMIZE ZORDER BY clusters and keeps range skipping alive") {
    val (cat, sql) = warehouse()
    val t = cat.table("gold", "zz")
    t.append((0 until 2000).map(i => (i, i % 97, s"p$i")).toDF("a", "b", "v"))
    val m = sql.sql("OPTIMIZE gold.zz ZORDER BY (a, b)")
      .select("operation").as[String].head()
    assert(m === "zorder")
    assert(t.read.count() === 2000)
    // z-order wrote multi-column stats: a readRange on the SECOND column
    // must still return exact results (the skipping itself is pinned in
    // VersionedTableSpec; here we pin the statement wiring end-to-end)
    assert(t.readRange("b", "10", "12").count() ===
      (0 until 2000).count(i => (10 to 12).contains(i % 97)))
  }

  test("VACUUM DRY RUN previews exactly what VACUUM then reclaims") {
    val (cat, sql) = warehouse()
    val t = cat.table("bronze", "ev")
    (0 until 3).foreach(i => t.append(Seq((i, s"v$i")).toDF("k", "v")))
    sql.sql("OPTIMIZE bronze.ev")
    val preview = sql.sql("VACUUM bronze.ev RETAIN 1 VERSIONS DRY RUN")
      .as[String].collect()
    assert(preview.length === 3) // the three pre-compaction file-sets
    val n = sql.sql("VACUUM bronze.ev RETAIN 1 VERSIONS")
      .as[Long].head()
    assert(n === 3L)
    assert(sql.sql("VACUUM bronze.ev RETAIN 1 VERSIONS DRY RUN").count() === 0)
    assert(t.read.count() === 3) // live snapshot untouched
  }

  test("DESCRIBE HISTORY / DETAIL and spark.sql fallback share the funnel") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "h")
    t.append(Seq((1, "a")).toDF("k", "v"))
    t.overwrite(Seq((2, "b")).toDF("k", "v"))
    val hist = sql.sql("DESCRIBE HISTORY silver.h")
      .select("version", "action").as[(Long, String)].collect().toList
    assert(hist === List((0L, "append"), (1L, "overwrite")))
    assert(sql.sql("DESC DETAIL silver.h").columns.contains("num_buckets"))
    // non-maintenance statements delegate verbatim
    assert(sql.sql("SELECT 41 + 1 AS x").as[Int].head() === 42)
  }

  test("path identifier graft.`...` works without a catalog; bad names fail loudly") {
    val root = tmpDir("graft-sql-path-")
    val t = VersionedTable(spark, root)
    (0 until 2).foreach(i => t.append(Seq((i, s"v$i")).toDF("k", "v")))
    val sql = GraftSql(spark)
    val m = sql.sql(s"OPTIMIZE graft.`$root`")
      .select("file_sets_after").as[Long].head()
    assert(m === 1L)
    val e = intercept[RuntimeException](sql.sql("OPTIMIZE silver.kv"))
    assert(e.getMessage.contains("no catalog bound"))
    val (cat, catSql) = warehouse()
    val e2 = intercept[RuntimeException](catSql.sql("VACUUM silver.absent"))
    assert(e2.getMessage.contains("table not found"))
  }

  test("RESTORE TABLE TO VERSION / TIMESTAMP AS OF rolls back through SQL") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "r")
    t.append(Seq((1, "a"), (2, "b")).toDF("k", "v"))   // v0
    val ts0 = t.history.last.tsMillis
    Thread.sleep(3)
    t.overwrite(Seq((9, "z")).toDF("k", "v"))          // v1
    val m = sql.sql("RESTORE TABLE silver.r TO VERSION AS OF 0")
      .as[(String, Long, Long)].head()
    assert(m === (("restore", 1L, 2L)))
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b")))
    // TIMESTAMP AS OF: format the v0 commit instant in UTC and restore
    // to it — lands on v0's contents again from the post-restore head
    t.overwrite(Seq((8, "y")).toDF("k", "v"))          // v3
    val tsLit = java.time.Instant.ofEpochMilli(ts0)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    sql.sql(s"RESTORE TABLE silver.r TO TIMESTAMP AS OF '$tsLit'")
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b")))
  }

  test("OPTIMIZE WHERE compacts only the named partition's cells") {
    val (cat, sql) = warehouse()
    val t = cat.table("gold", "pt")
    val rows = (0 until 100).map(i => (i, if (i % 2 == 0) "a" else "b", s"v$i"))
    t.merge(rows.toDF("k", "p", "v"), Seq("k"), numBuckets = 2,
      partitionBy = Seq("p"))
    // a second merge into partition a rewrites only a's touched cells
    t.merge(Seq((0, "a", "v0b"), (2, "a", "v2b")).toDF("k", "p", "v"), Seq("k"))
    val before = t.history.last.fileSets.toSet
    val m = sql.sql("OPTIMIZE gold.pt WHERE p = 'a'")
      .select("operation").as[String].head()
    assert(m === "compact")
    // partition b's cells are carried VERBATIM (same file-set names,
    // hex tag p62.) while partition a's (p61.) are rewritten — the
    // statement really scoped to one partition
    val after = t.history.last.fileSets.toSet
    val carried = before.intersect(after)
    val rewritten = after.diff(before)
    assert(carried.nonEmpty && carried.forall(_.contains(".p62.")))
    assert(rewritten.nonEmpty && rewritten.forall(_.contains(".p61.")))
    assert(t.read.count() === 100)
    assert(t.read.filter($"k" === 0).select("v").as[String].head() === "v0b")
    // wrong predicate shapes fail loudly instead of mis-scoping
    val e = intercept[Exception](sql.sql("OPTIMIZE gold.pt WHERE q = 'a'"))
    assert(e.getMessage.contains("partition keys"))
  }

  test("CREATE TABLE … SHALLOW CLONE forks a zero-copy independent table") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "src")
    t.append(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    t.append(Seq((3, "c")).toDF("k", "v"))
    val m = sql.sql("CREATE TABLE gold.fork SHALLOW CLONE silver.src")
      .as[(String, Long, Long)].head()
    assert(m === (("clone", 1L, 2L)))
    val fork = cat.table("gold", "fork")
    assert(fork.read.as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b"), (3, "c")))
    // clone evolves independently of the source
    fork.append(Seq((4, "d")).toDF("k", "v"))
    assert(fork.read.count() === 4)
    assert(t.read.count() === 3)
    // cloning onto an existing table refuses loudly
    val e = intercept[Exception](
      sql.sql("CREATE TABLE gold.fork SHALLOW CLONE silver.src"))
    assert(e.getMessage.contains("already has versions"))
  }

  test("CONVERT TO GRAFT adopts a parquet dir; ANALYZE backfills statistics") {
    val (cat, sql) = warehouse()
    val plain = tmpDir("graft-sql-conv-") + "/plain"
    spark.range(0, 500).toDF("id").coalesce(2).write.parquet(plain)
    val m = sql.sql(s"CONVERT TO GRAFT parquet.`$plain` AS bronze.adopted")
      .as[(String, Long, Long)].head()
    assert(m === (("convert", 0L, 1L)))
    val t = cat.table("bronze", "adopted")
    assert(t.read.count() === 500)
    t.append(spark.range(500, 600).toDF("id"))
    val n = sql.sql(
      "ANALYZE TABLE bronze.adopted COMPUTE STATISTICS FOR COLUMNS id")
      .as[Long].head()
    assert(n === 2L)       // both file-sets lacked coverage
    assert(sql.sql(
      "ANALYZE TABLE bronze.adopted COMPUTE STATISTICS FOR COLUMNS id")
      .as[Long].head() === 0L) // idempotent
    val out = t.readRange("id", "50", "60")
    assert(out.count() === 11)
    assert(out.inputFiles.length < t.read.inputFiles.length)
  }

  test("ANALYZE covers multiple hive-partitioned file-sets in one " +
       "statement (regression: the sidecar job read every root in one " +
       "multi-path scan, and two partitioned roots trip Spark's " +
       "partition-discovery conflict)") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.anp (k BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    // two separate commits → two partitioned file-set roots, both
    // uncovered, so one ANALYZE must read both
    sql.sql("INSERT INTO silver.anp VALUES (1, 'a'), (20, 'b')")
    sql.sql("INSERT INTO silver.anp VALUES (5, 'a'), (90, 'b')")
    val n = sql.sql(
      "ANALYZE TABLE silver.anp COMPUTE STATISTICS FOR ALL COLUMNS")
      .as[Long].head()
    // 3 = CREATE's empty schema-bearing set + the two insert sets
    assert(n === 3L, "every uncovered file-set analyzes in one pass")
    // the fresh stats actually serve range pruning
    val t = cat.table("silver", "anp")
    assert(t.readRange("k", "1", "6").count() === 2L)
    // a ZERO-ROW file-set (CREATE's schema-bearing empty set) can never
    // gain coverage — the grouped stats agg yields no row for it — so
    // it alone stays a target on re-ANALYZE; re-scanning an empty set
    // costs nothing and "stat-less sets are never skipped" keeps reads
    // exact
    assert(sql.sql(
      "ANALYZE TABLE silver.anp COMPUTE STATISTICS FOR ALL COLUMNS")
      .as[Long].head() === 1L)
  }

  test("OPTIMIZE racing concurrent appends never loses a row") {
    // Maintenance alongside ingest: OPTIMIZE is a read-modify-write, so
    // a concurrent append can win its version slot first — OPTIMIZE must
    // then REFUSE (ConcurrentModificationException, OCC working as
    // designed), never commit a snapshot that drops the racer's rows.
    val (cat, sql) = warehouse()
    val t = cat.table("bronze", "race")
    t.append(Seq((0, "seed")).toDF("k", "v"))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    val opt = pool.submit(new java.util.concurrent.Callable[(Int, Int)] {
      def call(): (Int, Int) = {
        var ok = 0; var refused = 0
        while (!stop.get()) {
          try { sql.sql("OPTIMIZE bronze.race"); ok += 1 }
          catch { case _: java.util.ConcurrentModificationException =>
            refused += 1 }
        }
        (ok, refused)
      }
    })
    try (1 to 8).foreach(i => t.append(Seq((i, s"a$i")).toDF("k", "v")))
    finally {
      stop.set(true)
      val (ok, refused) = opt.get()
      assert(ok + refused > 0, "OPTIMIZE must actually have raced")
      pool.shutdown()
    }
    // every appended row survived whatever interleaving happened
    assert(t.read.as[(Int, String)].collect().toMap ===
      (Map(0 -> "seed") ++ (1 to 8).map(i => i -> s"a$i")))
    // quiescent OPTIMIZE converges the layout
    sql.sql("OPTIMIZE bronze.race")
    assert(t.history.last.fileSets.length === 1)
    assert(t.read.count() === 9)
  }

  test("bucketed tables OPTIMIZE per merge cell, preserving COW routing") {
    val (cat, sql) = warehouse()
    val t = cat.table("gold", "bk")
    t.merge((0 until 200).map(i => (i, s"v$i")).toDF("k", "v"), Seq("k"),
      numBuckets = 4)
    t.merge(Seq((5, "v5b"), (300, "new")).toDF("k", "v"), Seq("k"))
    val m = sql.sql("OPTIMIZE gold.bk")
      .select("operation", "file_sets_after").as[(String, Long)].head()
    assert(m === (("compact", 4L))) // one file-set per bucket cell
    assert(t.read.count() === 201)
    // merge after OPTIMIZE still routes by bucket (COW intact)
    t.merge(Seq((6, "v6b")).toDF("k", "v"), Seq("k"))
    assert(t.read.filter($"k" === 6).as[(Int, String)].head() === ((6, "v6b")))
  }

  test("ANALYZE on a non-graft identifier delegates to vanilla Spark") {
    // ANALYZE is the one owned statement that is ALSO valid Spark SQL:
    // an identifier that doesn't resolve to a graft table (here, a
    // Spark catalog table, no graft catalog bound) must fall through to
    // spark.sql instead of erroring — one funnel for the whole session
    spark.sql("DROP TABLE IF EXISTS an_delegate")
    spark.sql("CREATE TABLE an_delegate (id INT) USING PARQUET")
    try {
      spark.sql("INSERT INTO an_delegate VALUES (1), (2), (3)")
      GraftSql(spark)
        .sql("ANALYZE TABLE an_delegate COMPUTE STATISTICS FOR COLUMNS id")
      val stats = spark.sql("DESCRIBE EXTENDED an_delegate id")
        .as[(String, String)].collect().toMap
      assert(stats.get("distinct_count").exists(_.toLong >= 2L),
        s"vanilla ANALYZE must have run (got $stats)")
    } finally spark.sql("DROP TABLE IF EXISTS an_delegate")
    // and with a catalog bound, a GRAFT table still takes the owned path
    val (cat, gsql) = warehouse()
    val t = cat.table("silver", "anz")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val n = gsql.sql(
      "ANALYZE TABLE silver.anz COMPUTE STATISTICS FOR COLUMNS id")
      .as[Long].head()
    assert(n === 1L)
    assert(t.readEquals("id", Seq(2L)).count() === 1)
  }

  // ------------------------------------------------------------- SQL DML

  test("reference smoke flow: CREATE OR REPLACE TABLE, INSERT VALUES, DROP") {
    // 01_environment_smoke_test.py:74-93, re-expressed over the graft
    // warehouse: schema-first DDL, positional VALUES insert, drop
    val (cat, sql) = warehouse()
    sql.sql("CREATE OR REPLACE TABLE silver.test_smoke (id INT, ts TIMESTAMP) USING GRAFT")
    sql.sql("INSERT INTO silver.test_smoke VALUES (1, current_timestamp()), (2, current_timestamp())")
    val t = cat.table("silver", "test_smoke")
    assert(t.read.count() === 2)
    assert(t.read.schema.map(f => (f.name, f.dataType.typeName)) ===
      Seq(("id", "integer"), ("ts", "timestamp")))
    // plain CREATE refuses an existing table; OR REPLACE resets it
    assertThrows[RuntimeException](
      sql.sql("CREATE TABLE silver.test_smoke (id INT)"))
    sql.sql("CREATE OR REPLACE TABLE silver.test_smoke (id INT)")
    assert(cat.table("silver", "test_smoke").read.count() === 0)
    sql.sql("DROP TABLE silver.test_smoke")
    assert(!cat.table("silver", "test_smoke").exists)
    // IF EXISTS on a missing table is a no-op; bare DROP errors
    sql.sql("DROP TABLE IF EXISTS silver.test_smoke")
    assertThrows[RuntimeException](sql.sql("DROP TABLE silver.test_smoke"))
  }

  test("INSERT INTO aligns positionally and casts; OVERWRITE replaces") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.ins (id BIGINT, v STRING)")
    // query columns arrive misnamed and mistyped: INT id, int v — both
    // must land positionally cast to the declared BIGINT/STRING
    sql.sql("INSERT INTO silver.ins SELECT 1 AS a, 10 AS b")
    sql.sql("INSERT INTO silver.ins VALUES (2, 'x')")
    val t = cat.table("silver", "ins")
    assert(t.read.as[(Long, String)].collect().toSet ===
      Set((1L, "10"), (2L, "x")))
    assert(t.history.length === 3) // create + 2 appends
    val v = sql.sql("INSERT OVERWRITE silver.ins VALUES (9, 'only')")
      .select("version").as[Long].head()
    assert(v === 3L)
    assert(t.read.as[(Long, String)].collect().toSeq === Seq((9L, "only")))
    // old snapshot still readable — DML rides the version log
    assert(t.readVersion(2).count() === 2)
    // arity mismatch is refused, not silently null-padded
    assertThrows[IllegalArgumentException](
      sql.sql("INSERT INTO silver.ins SELECT 1"))
  }

  test("UPDATE SET ... WHERE and DELETE FROM ... WHERE as statements") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "upd")
    t.append(Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("k", "v", "n"))
    // two assignments, one with a top-level comma inside a function call
    sql.sql("UPDATE silver.upd SET v = concat(v, '!'), n = n + 100 WHERE k >= 2")
    assert(t.read.as[(Int, String, Int)].collect().toSet ===
      Set((1, "a", 10), (2, "b!", 120), (3, "c!", 130)))
    sql.sql("DELETE FROM silver.upd WHERE k = 2")
    assert(t.read.select("k").as[Int].collect().toSet === Set(1, 3))
    // unfiltered DELETE empties the table but keeps history
    sql.sql("DELETE FROM silver.upd")
    assert(t.read.count() === 0)
    assert(t.readVersion(1).count() === 3)
  }

  test("MERGE INTO upsert routes through bucket-COW merge") {
    val (cat, sql) = warehouse()
    val t = cat.table("gold", "mrg")
    t.merge((0 until 100).map(i => (i, s"v$i")).toDF("k", "v"), Seq("k"),
      numBuckets = 4)
    Seq((5, "v5-new"), (200, "fresh")).toDF("kk", "v")
      .createOrReplaceTempView("mrg_src")
    val res = sql.sql("""MERGE INTO gold.mrg AS t USING mrg_src AS s
      ON t.k = s.kk
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assert(res.select("action").as[String].head() === "merge")
    assert(t.read.count() === 101)
    assert(t.read.filter($"k" === 5).select("v").as[String].head() === "v5-new")
    assert(t.read.filter($"k" === 200).select("v").as[String].head() === "fresh")
    // idempotent-upsert shape (docs/backlog.md:49-51): replaying the
    // same MERGE leaves the data unchanged
    sql.sql("""MERGE INTO gold.mrg AS t USING mrg_src AS s ON t.k = s.kk
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(t.read.count() === 101)
    // subquery source works too (no bare ON inside)
    sql.sql("""MERGE INTO gold.mrg AS t
      USING (SELECT 300 AS k, 'sub' AS v) AS s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(t.read.filter($"k" === 300).count() === 1)
  }

  test("MERGE INTO insert-only leaves matched rows untouched") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "mio")
    t.append(Seq((1, "keep"), (2, "keep2")).toDF("k", "v"))
    Seq((2, "CLOBBER"), (3, "new")).toDF("k", "v")
      .createOrReplaceTempView("mio_src")
    sql.sql("""MERGE INTO silver.mio AS t USING mio_src AS s ON t.k = s.k
      WHEN NOT MATCHED THEN INSERT *""")
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((1, "keep"), (2, "keep2"), (3, "new")))
    // column-level UPDATE (general clause grammar): only v rewrites
    sql.sql("""MERGE INTO silver.mio AS t USING mio_src AS s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = 'clobbered'""")
    assert(t.read.filter($"k" === 2).select("v").as[String].head() ===
      "clobbered")
    // garbage clause shapes are still refused loudly, not half-applied
    assertThrows[RuntimeException](sql.sql(
      """MERGE INTO silver.mio AS t USING mio_src AS s ON t.k = s.k
        WHEN MATCHED THEN FROBNICATE"""))
  }

  test("MERGE conditional clauses: guarded update/delete/insert via SQL") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "mcond")
    t.merge(Seq((1, "a", 10), (2, "b", 20), (3, "c", 30))
      .toDF("k", "v", "amt"), Seq("k"), numBuckets = 4)
    Seq((1, "a2", 100), (2, "b2", 5), (4, "d", 40), (5, "e", -1))
      .toDF("k", "sv", "samt").createOrReplaceTempView("mcond_src")
    sql.sql("""MERGE INTO silver.mcond AS t USING mcond_src AS s ON t.k = s.k
      WHEN MATCHED AND s.samt < 10 THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = upper(s.sv), amt = t.amt + s.samt
      WHEN NOT MATCHED AND s.samt > 0 THEN
        INSERT (k, v) VALUES (s.k, s.sv || '_new')""")
    // k1: update (second clause); k2: delete; k3: untouched; k4: guarded
    // insert, amt NULL; k5: fails the guard, lands nowhere
    assert(t.read.orderBy("k").as[(Int, String, Option[Int])]
      .collect().toSeq === Seq((1, "A2", Some(110)), (3, "c", Some(30)),
        (4, "d_new", None)))
    // a CASE expression inside a condition must not confuse the
    // WHEN/THEN clause scanner
    sql.sql("""MERGE INTO silver.mcond AS t USING mcond_src AS s ON t.k = s.k
      WHEN MATCHED AND (CASE WHEN s.samt >= 100 THEN true ELSE false END)
        THEN UPDATE SET v = 'big'""")
    assert(t.read.filter($"k" === 1).select("v").as[String].head() === "big")
  }

  test("MERGE conditional clauses follow renamed ON keys (t.k = s.kk)") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "mkk")
    t.merge(Seq((1, "a"), (2, "b")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    Seq((2, "B"), (7, "new")).toDF("kk", "sv")
      .createOrReplaceTempView("mkk_src")
    sql.sql("""MERGE INTO silver.mkk AS t USING mkk_src AS s ON t.k = s.kk
      WHEN MATCHED AND s.kk = 2 THEN UPDATE SET v = s.sv
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.kk, s.sv)""")
    assert(t.read.orderBy("k").as[(Int, String)].collect().toSeq ===
      Seq((1, "a"), (2, "B"), (7, "new")))
  }

  test("MERGE clause parser survives WHEN/THEN/CASE inside string literals and SET values") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "mhl")
    t.merge(Seq((1, "WHEN THEN CASE"), (2, "x")).toDF("k", "v"), Seq("k"),
      numBuckets = 4)
    Seq((1, "WHEN THEN CASE"), (2, "y")).toDF("k", "sv")
      .createOrReplaceTempView("mhl_src")
    // literals carrying the clause keywords must not confuse the
    // scanner; a CASE expression in a SET value must not either
    sql.sql("""MERGE INTO silver.mhl AS t USING mhl_src AS s ON t.k = s.k
      WHEN MATCHED AND s.sv = 'WHEN THEN CASE' THEN DELETE
      WHEN MATCHED THEN UPDATE SET
        v = CASE WHEN s.sv = 'y' THEN 'matched-y' ELSE 'other' END""")
    assert(t.read.as[(Int, String)].collect().toSet === Set((2, "matched-y")))
  }

  test("MERGE NOT MATCHED BY SOURCE updates/deletes unmatched target rows") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "mbs")
    t.merge(Seq((1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40))
      .toDF("k", "v", "amt"), Seq("k"), numBuckets = 4)
    Seq((1, "a9")).toDF("k", "sv").createOrReplaceTempView("mbs_src")
    sql.sql("""MERGE INTO silver.mbs AS t USING mbs_src AS s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.sv
      WHEN NOT MATCHED BY SOURCE AND t.amt >= 40 THEN DELETE
      WHEN NOT MATCHED BY SOURCE AND t.amt >= 30 THEN UPDATE SET v = 'stale'""")
    assert(t.read.orderBy("k").as[(Int, String, Int)].collect().toSeq ===
      Seq((1, "a9", 10), (2, "b", 20), (3, "stale", 30)))
  }

  test("MERGE WHEN MATCHED THEN DELETE removes matched keys via tombstones") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "mdel")
    t.merge((0 until 10).map(i => (i, s"v$i")).toDF("k", "v"), Seq("k"),
      numBuckets = 4)
    Seq(2, 5, 99).toDF("k").createOrReplaceTempView("mdel_src")
    val res = sql.sql("""MERGE INTO silver.mdel AS t USING mdel_src AS s
      ON t.k = s.k WHEN MATCHED THEN DELETE""")
    assert(res.select("action").as[String].head() === "merge")
    // 2 and 5 removed; 99 never existed (no-op); everything else intact
    assert(t.read.select("k").as[Int].collect().toSet ===
      (0 until 10).toSet -- Set(2, 5))
    // rerun: idempotent (tombstones match nothing now)
    sql.sql("""MERGE INTO silver.mdel AS t USING mdel_src AS s
      ON t.k = s.k WHEN MATCHED THEN DELETE""")
    assert(t.read.count() === 8)
  }

  test("CTAS records PARTITIONED BY layout; INSERT INTO preserves it") {
    val (cat, sql) = warehouse()
    spark.range(6).selectExpr("id", "CAST(id % 2 AS STRING) AS p")
      .createOrReplaceTempView("ctas_src")
    sql.sql("""CREATE TABLE gold.part PARTITIONED BY (p) AS
      SELECT id, p FROM ctas_src""")
    val t = cat.table("gold", "part")
    assert(t.partitionLayout === Seq("p"))
    assert(t.read.count() === 6)
    sql.sql("INSERT INTO gold.part SELECT 100, '1'")
    assert(t.read.count() === 7)
    // the appended file-set landed hive-partitioned, not flat
    val detail = t.detailDf.select("partition_columns").as[String].head()
    assert(detail === "p")
  }

  test("COPY INTO loads each file exactly once across reruns") {
    val (cat, sql) = warehouse()
    val landing = tmpDir("graft-copy-") + "/landing"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
    def drop(name: String, rows: Seq[(Int, String)]): Unit =
      rows.toDF("k", "v").coalesce(1).write.parquet(s"$landing/$name")
    drop("f1", Seq((1, "a")))
    drop("f2", Seq((2, "b")))
    val n1 = sql.sql("COPY INTO silver.cpy FROM '" + landing +
      "' FILEFORMAT = PARQUET").as[Long].head()
    assert(n1 === 2L) // two parquet part-files, one per dropped dir
    val t = cat.table("silver", "cpy")
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b")))
    // rerun: nothing new, nothing re-loaded
    assert(sql.sql("COPY INTO silver.cpy FROM '" + landing +
      "' FILEFORMAT = PARQUET").as[Long].head() === 0L)
    assert(t.read.count() === 2)
    // a late-arriving file loads incrementally
    drop("f3", Seq((3, "c")))
    assert(sql.sql("COPY INTO silver.cpy FROM '" + landing +
      "' FILEFORMAT = PARQUET").as[Long].head() === 1L)
    assert(t.read.count() === 3)
  }

  test("COPY INTO recovers a crash between intent and data exactly-once") {
    val (cat, sql) = warehouse()
    val landing = tmpDir("graft-copyrec-") + "/landing"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
    Seq((1, "a")).toDF("k", "v").coalesce(1).write.parquet(s"$landing/f1")
    sql.sql("COPY INTO silver.rec FROM '" + landing +
      "' FILEFORMAT = PARQUET")
    val t = cat.table("silver", "rec")
    assert(t.read.count() === 1)
    // simulate the crash window: the intent landed in the ledger, the
    // data append never ran
    Seq((2, "b")).toDF("k", "v").coalesce(1).write.parquet(s"$landing/f2")
    val orphanIntent = GraftSql.listFiles(landing)
      .filter(_.contains("/f2/"))
    val ledger = VersionedTable(spark, t.root + "/_copy_ledger")
    ledger.append(orphanIntent.toDF("source_path"))
    // next COPY INTO must first replay the pending intent (f2 loads),
    // and must not double-load anything
    assert(sql.sql("COPY INTO silver.rec FROM '" + landing +
      "' FILEFORMAT = PARQUET").as[Long].head() === 0L)
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b")))
    // and replaying again is a no-op
    sql.sql("COPY INTO silver.rec FROM '" + landing + "' FILEFORMAT = PARQUET")
    assert(t.read.count() === 2)
  }

  test("COPY INTO casts by name to an existing table's schema (CSV)") {
    val (cat, sql) = warehouse()
    val landing = tmpDir("graft-copycsv-") + "/landing"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(landing, "a.csv"), "k,v\n7,seven\n")
    sql.sql("CREATE TABLE silver.csvt (k BIGINT, v STRING)")
    sql.sql("COPY INTO silver.csvt FROM '" + landing + "' FILEFORMAT = CSV")
    assert(cat.table("silver", "csvt").read.as[(Long, String)]
      .collect().toSeq === Seq((7L, "seven")))
  }

  test("ALTER TABLE ADD COLUMNS is metadata-only schema evolution") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "addc")
    t.append(Seq((1, "a")).toDF("k", "v"))
    val filesBefore = GraftSql.listFiles(s"${t.root}/data")
    sql.sql("ALTER TABLE silver.addc ADD COLUMNS (score DOUBLE, tag STRING)")
    // old rows surface the new columns as NULL; nothing was rewritten
    assert(t.read.columns.toSeq === Seq("k", "v", "score", "tag"))
    assert(t.read.select("k", "score").as[(Int, Option[Double])]
      .collect().toSeq === Seq((1, None)))
    assert(GraftSql.listFiles(s"${t.root}/data").count(filesBefore.contains)
      === filesBefore.size, "pre-DDL data files must be untouched")
    // new writes populate the extended shape; old versions keep the old one
    sql.sql("INSERT INTO silver.addc VALUES (2, 'b', 0.5, 'x')")
    assert(t.read.count() === 2)
    assert(t.readVersion(0).columns.toSeq === Seq("k", "v"))
    // duplicate column refused
    intercept[Throwable](
      sql.sql("ALTER TABLE silver.addc ADD COLUMNS (k INT)"))
    // bucketed tables evolve too: the empty file-set bucket-splits
    // harmlessly and later merges may populate the new column
    val b = cat.table("gold", "addb")
    b.merge(Seq((1, "x")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    sql.sql("ALTER TABLE gold.addb ADD COLUMNS (n INT)")
    assert(b.read.columns.toSeq === Seq("k", "v", "n"))
    b.merge(Seq((2, "y", 5)).toDF("k", "v", "n"), Seq("k"))
    assert(b.read.count() === 2)
    assert(b.read.filter($"k" === 2).select("n").as[Int].head() === 5)
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT CHECK enforces through DML") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.chk (k INT, v INT)")
    sql.sql("INSERT INTO silver.chk VALUES (1, 10)")
    sql.sql("ALTER TABLE silver.chk ADD CONSTRAINT v_pos CHECK (v > 0)")
    // in-job rejection: the violating INSERT must not commit
    intercept[Throwable](sql.sql("INSERT INTO silver.chk VALUES (2, -5)"))
    assert(cat.table("silver", "chk").read.count() === 1)
    // DDL refusal when existing rows violate
    intercept[Throwable](
      sql.sql("ALTER TABLE silver.chk ADD CONSTRAINT v_big CHECK (v > 100)"))
    sql.sql("ALTER TABLE silver.chk DROP CONSTRAINT v_pos")
    sql.sql("INSERT INTO silver.chk VALUES (2, -5)")
    assert(cat.table("silver", "chk").read.count() === 2)
  }

  test("a stored CHECK keeps every conjunct of commented DDL and every " +
       "space of an escaped literal; DROP CONSTRAINT IF EXISTS") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.cc (k INT, v INT, s STRING)")
    val t = cat.table("silver", "cc")
    val failed = rowFailures(Seq(
      "a `--` comment does not swallow the next conjunct" -> (() => {
        sql.sql("ALTER TABLE silver.cc ADD CONSTRAINT v_range " +
          "CHECK (v > 0 -- positive\n  AND v < 10)")
        intercept[Throwable](
          sql.sql("INSERT INTO silver.cc VALUES (2, 500, 'a')"))
        assert(t.read.count() === 0L)
        assert(t.checks.toMap.get("v_range") === Some("v > 0 AND v < 10"))
      }),
      "an escaped quote keeps the literal's inner spaces" -> (() => {
        sql.sql("ALTER TABLE silver.cc ADD CONSTRAINT s_ok " +
          "CHECK (s <> 'it\\'s  x')")
        intercept[Throwable](sql.sql(
          "INSERT INTO silver.cc VALUES (1, 1, 'it\\'s  x')"))
        assert(t.read.count() === 0L)
      }),
      "DROP CONSTRAINT IF EXISTS of an unknown name takes no commit" -> (() => {
        val (versions, checks) = (t.history.length, t.checks)
        sql.sql("ALTER TABLE silver.cc DROP CONSTRAINT IF EXISTS nope")
        assert(t.history.length === versions && t.checks === checks)
      }),
      "a bare DROP CONSTRAINT of an unknown name still refuses" -> (() => {
        val e = intercept[IllegalArgumentException](
          sql.sql("ALTER TABLE silver.cc DROP CONSTRAINT nope"))
        assert(e.getMessage.contains("no constraint named nope"))
      })))
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("SELECT ... VERSION AS OF rewrites inline (old vs new in one stmt)") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "tt")
    t.append(Seq((1, "a"), (2, "b")).toDF("k", "v")) // v0
    t.overwrite(Seq((1, "a2"), (3, "c")).toDF("k", "v")) // v1
    cat.registerViews()
    // both versions of the SAME table in one statement: anti-join new
    // against old to find arrivals
    val arrived = sql.sql(
      """SELECT n.k, n.v FROM silver_tt n
         LEFT ANTI JOIN silver.tt VERSION AS OF 0 o ON n.k = o.k""")
      .as[(Int, String)].collect().toSet
    assert(arrived === Set((3, "c")))
    // TIMESTAMP AS OF far future = current snapshot
    assert(sql.sql(
      "SELECT count(*) AS n FROM silver.tt TIMESTAMP AS OF '2099-12-31'")
      .as[Long].head() === 2L)
    // a non-graft identifier with AS OF is left for Spark to reject
    intercept[Throwable](
      sql.sql("SELECT * FROM no_such_tbl VERSION AS OF 0"))
  }

  test("CREATE TABLE ... GENERATED ALWAYS AS IDENTITY auto-assigns on INSERT") {
    val (cat, sql) = warehouse()
    val root = cat.table("silver", "idn").root
    sql.sql(s"CREATE TABLE graft.`$root` (id BIGINT GENERATED ALWAYS AS " +
      "IDENTITY (START WITH 100 INCREMENT BY 2), name STRING)")
    sql.sql(s"INSERT INTO graft.`$root` VALUES ('a'), ('b')")
    sql.sql(s"INSERT INTO graft.`$root` VALUES ('c')")
    val t = VersionedTable(spark, root)
    assert(t.read.orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((100L, "a"), (102L, "b"), (104L, "c")))
    // supplying the identity column is refused (GENERATED ALWAYS)
    assertThrows[Exception](
      sql.sql(s"INSERT INTO graft.`$root` VALUES (999, 'x')"))
    // REPLACE resets declarations and watermark — a fresh table
    sql.sql(s"CREATE OR REPLACE TABLE graft.`$root` " +
      "(id BIGINT GENERATED ALWAYS AS IDENTITY, name STRING)")
    sql.sql(s"INSERT INTO graft.`$root` VALUES ('z')")
    assert(VersionedTable(spark, root).read.as[(Long, String)].head() ===
      ((1L, "z")))
  }

  test("CREATE TABLE ... GENERATED ALWAYS AS (expr) computes or verifies on INSERT") {
    val (cat, sql) = warehouse()
    val root = cat.table("silver", "gend").root
    sql.sql(s"CREATE TABLE graft.`$root` (o_date STRING, " +
      "o_month STRING GENERATED ALWAYS AS (substring(o_date, 1, 7)))")
    // omitted: computes
    sql.sql(s"INSERT INTO graft.`$root` VALUES ('2024-03-15')")
    // supplied and consistent: verifies
    sql.sql(s"INSERT INTO graft.`$root` VALUES ('2024-04-02', '2024-04')")
    assert(VersionedTable(spark, root).read.orderBy("o_date")
      .as[(String, String)].collect().toSeq ===
      Seq(("2024-03-15", "2024-03"), ("2024-04-02", "2024-04")))
    // supplied and WRONG: the write fails loudly
    assertThrows[Exception](
      sql.sql(s"INSERT INTO graft.`$root` VALUES ('2024-05-09', '1999-01')"))
    assert(VersionedTable(spark, root).read.count() === 2)
  }

  test("INSERT with a column list: positional bind, NULL/generated/identity fill") {
    val (cat, sql) = warehouse()
    val root = cat.table("silver", "insl").root
    sql.sql(s"CREATE TABLE graft.`$root` (id BIGINT GENERATED ALWAYS AS " +
      "IDENTITY, name STRING, note STRING, " +
      "tag STRING GENERATED ALWAYS AS (upper(name)))")
    sql.sql(s"INSERT INTO graft.`$root` (name) VALUES ('a')")
    sql.sql(s"INSERT INTO graft.`$root` (note, name) VALUES ('n2', 'b')")
    val t = VersionedTable(spark, root)
    assert(t.read.orderBy("id")
      .select("id", "name", "note", "tag")
      .as[(Long, String, Option[String], String)].collect().toSeq ===
      Seq((1L, "a", None, "A"), (2L, "b", Some("n2"), "B")))
    // naming an identity column is refused; unknown names too
    assertThrows[Exception](
      sql.sql(s"INSERT INTO graft.`$root` (id, name) VALUES (9, 'x')"))
    assertThrows[Exception](
      sql.sql(s"INSERT INTO graft.`$root` (nope) VALUES ('x')"))
  }

  test("TRUNCATE TABLE empties the snapshot, keeps schema and history") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "trnc")
    t.append(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    val r = sql.sql("TRUNCATE TABLE silver.trnc")
      .as[(Long, String)].head()
    assert(r === ((1L, "overwrite")))
    assert(t.read.count() === 0)
    assert(t.read.columns.toSeq === Seq("k", "v")) // schema survives
    assert(t.readVersion(0).count() === 2)         // time travel intact
    sql.sql("INSERT INTO silver.trnc VALUES (3, 'c')") // still writable
    assert(t.read.as[(Int, String)].collect().toSet === Set((3, "c")))
  }

  test("DESCRIBE TABLE lists columns with engine contracts in the comment") {
    val (cat, sql) = warehouse()
    val root = cat.table("silver", "dsc").root
    sql.sql(s"CREATE TABLE graft.`$root` (id BIGINT GENERATED ALWAYS AS " +
      "IDENTITY (START WITH 5 INCREMENT BY 2), name STRING, " +
      "up STRING GENERATED ALWAYS AS (upper(name)))")
    val rows = sql.sql(s"DESCRIBE graft.`$root`")
      .as[(String, String, String)].collect().toSeq
    assert(rows === Seq(
      ("id", "bigint", "GENERATED ALWAYS AS IDENTITY (START WITH 5 INCREMENT BY 2)"),
      ("name", "string", ""),
      ("up", "string", "GENERATED ALWAYS AS (upper(name))")))
    // non-graft identifiers delegate to vanilla Spark (loudly absent)
    assertThrows[Exception](sql.sql("DESCRIBE no_such_table_xyz"))
  }

  test("CREATE TEMP VIEW over VERSION AS OF stays resolvable (deferred plans)") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "ttv2")
    t.append(Seq((1, "a"), (2, "b")).toDF("k", "v")) // v0
    t.overwrite(Seq((1, "a2")).toDF("k", "v"))       // v1
    // a SQL-created view stores the PARSED plan and re-resolves per
    // reference — the asof pin it references must survive the statement
    sql.sql("CREATE OR REPLACE TEMP VIEW ttv2_v0 AS " +
      "SELECT k, v FROM silver.ttv2 VERSION AS OF 0")
    assert(spark.table("ttv2_v0").as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b")))
    // and again — every reference re-resolves
    assert(sql.sql("SELECT count(*) AS n FROM ttv2_v0").as[Long].head() === 2L)
    spark.catalog.dropTempView("ttv2_v0")
    // the pin deliberately outlived its statement (the view needed it);
    // drop it here so the session-wide no-leak invariant holds for the
    // other specs sharing this session
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("__graft_asof"))
      .foreach(spark.catalog.dropTempView)
  }

  test("ALTER TABLE RENAME COLUMN is metadata-only column mapping") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "rn")
    t.append(Seq((1, "a"), (2, "b")).toDF("k", "v")) // v0: old-name files
    val res = sql.sql("ALTER TABLE silver.rn RENAME COLUMN v TO val")
    assert(res.select("action").as[String].head() === "rename_column")
    // metadata-only: same file-sets carried, nothing rewritten
    assert(t.history.last.fileSets === t.history.head.fileSets)
    assert(t.read.columns.toSeq === Seq("k", "val"))
    // post-rename append writes the new name physically; mixed
    // generations still fold into ONE logical column
    t.append(Seq((3, "c")).toDF("k", "val"))
    assert(t.read.columns.toSeq === Seq("k", "val"))
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b"), (3, "c")))
    // time travel to the pre-rename version shows the OLD name
    assert(t.readVersion(0).columns.toSeq === Seq("k", "v"))
    // chains compose: val -> value
    sql.sql("ALTER TABLE silver.rn RENAME COLUMN val TO value")
    assert(t.read.columns.toSeq === Seq("k", "value"))
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b"), (3, "c")))
    // refusals: unknown source, existing target, load-bearing columns
    assertThrows[Exception](t.renameColumn("nope", "x"))
    assertThrows[Exception](t.renameColumn("k", "value"))
  }

  test("OPTIMIZE after RENAME migrates physical names; time travel still maps") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "rnopt")
    t.append(Seq((1, "a")).toDF("k", "v"))
    t.append(Seq((2, "b")).toDF("k", "v"))          // two old-name sets
    sql.sql("ALTER TABLE silver.rnopt RENAME COLUMN v TO val")
    // compaction rewrites through `read`, so the folded file-set
    // carries the NEW name physically — the mapping self-heals as
    // maintenance touches data
    t.compact()
    assert(t.read.columns.toSeq === Seq("k", "val"))
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b")))
    // and the pre-rename versions still time-travel to the old shape
    assert(t.readVersion(0).columns.toSeq === Seq("k", "v"))
    assert(t.readVersion(1).as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b")))
  }

  test("ALTER TABLE DROP COLUMN is metadata-only; the name stays reserved") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "dc")
    t.append(Seq((1, "a", 10), (2, "b", 20)).toDF("k", "v", "junk")) // v0
    val res = sql.sql("ALTER TABLE silver.dc DROP COLUMN junk")
    assert(res.select("action").as[String].head() === "drop_column")
    // metadata-only: same file-sets; the column is projected away
    assert(t.history.last.fileSets === t.history.head.fileSets)
    assert(t.read.columns.toSeq === Seq("k", "v"))
    // post-drop appends lack it physically; generations fold cleanly
    t.append(Seq((3, "c")).toDF("k", "v"))
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b"), (3, "c")))
    // time travel to the pre-drop version still shows it
    assert(t.readVersion(0).columns.toSeq === Seq("k", "v", "junk"))
    // the name is reserved: re-adding would resurrect stale values
    assertThrows[Exception](t.addColumns("junk INT"))
    assertThrows[Exception](t.renameColumn("v", "junk"))
    // refusals: unknown column, last remaining column
    assertThrows[Exception](t.dropColumn("nope"))
  }

  test("MERGE DELETE on a partitioned merge table routes by (partition, bucket)") {
    val (cat, sql) = warehouse()
    val t = cat.table("gold", "pmdel")
    t.merge((0 until 20).map(i => (i, s"p${i % 2}", s"v$i")).toDF("k", "p", "v"),
      Seq("k"), numBuckets = 2, partitionBy = Seq("p"))
    val before = t.history.last.fileSets.toSet
    // tombstone source carries the partition column: only the hit
    // (partition, bucket) cells rewrite, the rest carry verbatim
    Seq((4, "p0"), (7, "p1")).toDF("k", "p")
      .createOrReplaceTempView("pmdel_src")
    sql.sql("""MERGE INTO gold.pmdel AS t USING pmdel_src AS s
      ON t.k = s.k WHEN MATCHED THEN DELETE""")
    assert(t.read.select("k").as[Int].collect().toSet ===
      (0 until 20).toSet -- Set(4, 7))
    val after = t.history.last.fileSets.toSet
    assert((before intersect after).nonEmpty,
      "a partitioned tombstone merge must carry untouched cells, not rewrite all")
  }

  test("MERGE survives hostile string literals (WHEN/commas/parens in data)") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "adv")
    t.append(Seq((1, "old")).toDF("k", "v"))
    // the source VALUE contains a full MERGE clause, commas and an
    // unbalanced paren — all inside a quoted literal the tokenizer must
    // treat as opaque data, not syntax
    sql.sql("""MERGE INTO silver.adv AS t
      USING (SELECT 1 AS k, 'WHEN MATCHED THEN DELETE, (boom' AS v) AS s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((1, "WHEN MATCHED THEN DELETE, (boom")))
  }

  test("MERGE with ' ON ' inside a source literal applies it as data") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "advon")
    t.append(Seq((1, "old")).toDF("k", "v"))
    // a ' word ON ' sequence inside the subquery literal is data to
    // Spark's parser: the USING/ON split sits where the grammar puts it
    sql.sql(
      """MERGE INTO silver.advon AS t
        USING (SELECT 1 AS k, 'please stop ON it' AS v) AS s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((1, "please stop ON it")))
  }

  test("CTAS with PARTITIONED BY inside a string literal is data, not DDL") {
    val (cat, sql) = warehouse()
    sql.sql("""CREATE TABLE gold.advctas AS
      SELECT 1 AS id, 'PARTITIONED BY (p)' AS note""")
    val t = cat.table("gold", "advctas")
    assert(t.partitionLayout.isEmpty)
    assert(t.read.as[(Int, String)].collect().toSeq ===
      Seq((1, "PARTITIONED BY (p)")))
  }

  test("INSERT VALUES with quotes, commas and parens in strings lands verbatim") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.advins (k INT, v STRING)")
    sql.sql("""INSERT INTO silver.advins VALUES
      (1, 'a,b),(c'), (2, 'it''s fine')""")
    assert(cat.table("silver", "advins").read.as[(Int, String)]
      .collect().toSet === Set((1, "a,b),(c"), (2, "it's fine")))
  }

  test("AS OF rewrite leaves no temp views behind and never collides") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "ttv")
    t.append(Seq((1, "a")).toDF("k", "v"))   // v0
    t.overwrite(Seq((1, "b")).toDF("k", "v")) // v1
    cat.registerViews()
    // two statements pinning the SAME table at different versions: with
    // per-statement counters both would bind one view name; the session
    // counter + drop-after-execute makes each read its own pin
    assert(sql.sql("SELECT v FROM silver.ttv VERSION AS OF 0")
      .as[String].head() === "a")
    assert(sql.sql("SELECT v FROM silver.ttv VERSION AS OF 1")
      .as[String].head() === "b")
    val leftover = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("__graft_asof"))
    assert(leftover.isEmpty, s"stale AS OF views: ${leftover.mkString(",")}")
  }

  test("DML on a non-graft identifier delegates to vanilla Spark") {
    val (_, sql) = warehouse()
    spark.sql("DROP TABLE IF EXISTS dml_delegate")
    try {
      sql.sql("CREATE TABLE dml_delegate (id INT) USING PARQUET")
      sql.sql("INSERT INTO dml_delegate VALUES (7)")
      assert(spark.table("dml_delegate").as[Int].collect().toSeq === Seq(7))
      sql.sql("DROP TABLE dml_delegate")
      assert(!spark.catalog.tableExists("dml_delegate"))
    } finally spark.sql("DROP TABLE IF EXISTS dml_delegate")
  }

  test("INSERT INTO … REPLACE WHERE swaps a partition atomically") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.rw PARTITIONED BY (m) AS " +
      "SELECT CASE WHEN id < 5 THEN 'jan' ELSE 'feb' END AS m, id " +
      "FROM RANGE(10)")
    // hive layout reads the partition column LAST: schema is (id, m)
    sql.sql("INSERT INTO silver.rw REPLACE WHERE m = 'jan' " +
      "SELECT id + 100 AS id, 'jan' AS m FROM RANGE(3)")
    val t = cat.table("silver", "rw")
    assert(t.history.last.action === "replace_where")
    assert(t.read.where(col("m") === "jan").select("id")
      .as[Long].collect().toSet === Set(100L, 101L, 102L))
    assert(t.read.where(col("m") === "feb").count() === 5)
    // a batch that does NOT satisfy the predicate fails, nothing commits
    val v = t.history.last.version
    assertThrows[Exception](sql.sql(
      "INSERT INTO silver.rw REPLACE WHERE m = 'feb' " +
        "SELECT id AS id, 'jan' AS m FROM RANGE(2)"))
    assert(t.history.last.version === v)
  }

  test("REPLACE WHERE BETWEEN prunes to stats-overlapping file-sets") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE gold.rr (k INT, v STRING)")
    sql.sql("INSERT INTO gold.rr VALUES (1, 'a'), (2, 'b')")
    sql.sql("INSERT INTO gold.rr VALUES (100, 'x'), (101, 'y')")
    sql.sql("ANALYZE TABLE gold.rr COMPUTE STATISTICS FOR COLUMNS k")
    val t = cat.table("gold", "rr")
    // fileSets: [create's empty set, low batch, high batch]
    val before = t.history.last.fileSets
    sql.sql("INSERT INTO gold.rr REPLACE WHERE k BETWEEN 100 AND 200 " +
      "VALUES (150, 'z')")
    val after = t.history.last.fileSets
    assert(after.contains(before(1))) // low set carried verbatim
    assert(!after.contains(before(2))) // high set rewritten
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b"), (150, "z")))
  }

  test("ANALYZE ... FOR ALL COLUMNS covers every atomic column") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "aa")
    t.append(Seq((1, "a", Seq(0.1, 0.2)), (9, "z", Seq(0.3)))
      .toDF("k", "v", "emb"))
    val n = sql.sql(
      "ANALYZE TABLE silver.aa COMPUTE STATISTICS FOR ALL COLUMNS")
      .as[Long].head()
    assert(n === 1L) // one uncovered file-set backfilled
    // both atomic columns now prune; the array column was skipped
    assert(t.readRange("k", "5", "10").count() === 1)
    assert(t.readRange("v", "a", "b").count() === 1)
  }

  test("REPLACE WHERE with a hostile literal applies it as data") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "hw")
    t.append(Seq((1, "x")).toDF("k", "v"))
    // a predicate literal containing ' SELECT ' is data to Spark's
    // parser: the predicate ends where the grammar ends it
    val v = t.latestVersion.get
    sql.sql("INSERT INTO silver.hw REPLACE WHERE v = 'a SELECT b' " +
      "SELECT 1 AS k, 'a SELECT b' AS v")
    assert(t.latestVersion.get === v + 1)
    assert(t.history.last.action === "replace_where")
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((1, "x"), (1, "a SELECT b")))
    // sane predicates with quoted spaces are fine
    sql.sql("INSERT INTO silver.hw REPLACE WHERE v = 'x' " +
      "VALUES (7, 'x')")
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((7, "x"), (1, "a SELECT b")))
  }

  test("UPDATE / DELETE with range predicates rewrite only overlapping sets") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE gold.ud (k INT, v STRING)")
    sql.sql("INSERT INTO gold.ud VALUES (1, 'a'), (2, 'b')")
    sql.sql("INSERT INTO gold.ud VALUES (100, 'x'), (101, 'y')")
    sql.sql("ANALYZE TABLE gold.ud COMPUTE STATISTICS FOR ALL COLUMNS")
    val t = cat.table("gold", "ud")
    val before = t.history.last.fileSets // [create-empty, low, high]
    sql.sql("UPDATE gold.ud SET v = 'up' WHERE k BETWEEN 100 AND 200")
    val afterU = t.history.last.fileSets
    assert(afterU.contains(before(1)), "low set must carry verbatim")
    assert(!afterU.contains(before(2)), "high set must rewrite")
    assert(t.read.where(col("k") >= 100).select("v")
      .as[String].collect().toSet === Set("up"))
    // the equality DELETE prunes to the low set; the fresh high rewrite
    // (with regenerated stats) carries
    sql.sql("DELETE FROM gold.ud WHERE k = 1")
    val afterD = t.history.last.fileSets
    assert(afterU.diff(before).forall(afterD.contains))
    assert(t.read.count() === 3)
  }

  test("partition-equality DELETE on a bucketed table prunes by cell name") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "pd")
    t.merge(Seq((1, "jan", "a"), (2, "feb", "b"), (3, "feb", "c"))
      .toDF("k", "m", "v"), keys = Seq("k"), numBuckets = 4,
      partitionBy = Seq("m"))
    val before = t.history.last.fileSets
    // no stats sidecars exist — the prune comes from the cell NAMES'
    // partition tags (p<enc>.bNNNNN), through the SQL equality routing
    sql.sql("DELETE FROM silver.pd WHERE m = 'jan'")
    val after = t.history.last.fileSets
    val febCells = before.filter(after.contains)
    assert(febCells.nonEmpty, "feb cells must carry verbatim by name")
    assert(t.read.as[(Int, String, String)].collect().toSet ===
      Set((2, "feb", "b"), (3, "feb", "c")))
    // the carried sets really are the feb ones: a feb read touches only
    // carried cells
    assert(t.read.where(col("m") === "feb").count() === 2)
  }

  test("a column-comparison equality never routes as a literal range") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE gold.cc (a INT, b INT)")
    sql.sql("INSERT INTO gold.cc VALUES (1, 1), (2, 3)")
    // `a = b` compares COLUMNS — must take the general expression path
    // (a literal-range mis-route would delete nothing, silently)
    sql.sql("DELETE FROM gold.cc WHERE a = b")
    assert(cat.table("gold", "cc").read.as[(Int, Int)].collect().toSeq ===
      Seq((2, 3)))
  }

  test("sqlScript runs semicolon-separated statements, returns the last") {
    val (cat, sql) = warehouse()
    val last = sql.sqlScript("""
      -- create and load in one cell
      CREATE TABLE silver.scr (k INT, v STRING);
      INSERT INTO silver.scr VALUES (1, 'a; not a split'), (2, 'b');
      UPDATE silver.scr SET v = 'c -- not a comment' WHERE k = 2;
      SELECT 42 AS n -- trailing comment
    """)
    assert(last.as[Int].head() === 42)
    val t = cat.table("silver", "scr")
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((1, "a; not a split"), (2, "c -- not a comment")))
  }

  test("GENERATE symlink_format_manifest lists the current snapshot's files") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "man")
    t.append(Seq((1, "a")).toDF("k", "v"))
    t.append(Seq((2, "b")).toDF("k", "v"))
    val n = sql.sql(
      "GENERATE symlink_format_manifest FOR TABLE silver.man")
      .as[Long].head()
    val manifest = java.nio.file.Paths.get(t.root,
      "_symlink_format_manifest", "manifest")
    val lines = java.nio.file.Files.readAllLines(manifest)
    assert(n === lines.size().toLong && n >= 2)
    // every listed path is a readable parquet of the CURRENT snapshot:
    // reading them as plain files reproduces the table exactly
    import scala.jdk.CollectionConverters._
    val plain = spark.read.parquet(lines.asScala.toSeq: _*)
    assert(plain.as[(Int, String)].collect().toSet === Set((1, "a"), (2, "b")))
    // live deletion vectors refuse (a path manifest can't express them)
    t.deleteVectors(col("k") === 1)
    val ex = intercept[Exception](sql.sql(
      "GENERATE symlink_format_manifest FOR TABLE silver.man"))
    assert(ex.getMessage.contains("PURGE"))
    // column-mapping DDL refuses too: raw paths would expose stale
    // physical names to external readers
    val t2 = cat.table("silver", "man2")
    t2.append(Seq((1, "a")).toDF("k", "v"))
    t2.renameColumn("v", "val")
    val ex2 = intercept[Exception](sql.sql(
      "GENERATE symlink_format_manifest FOR TABLE silver.man2"))
    assert(ex2.getMessage.contains("column-mapping"))
    // unknown identifiers fail with OUR message, not a Spark parse error
    val ex3 = intercept[Exception](sql.sql(
      "GENERATE symlink_format_manifest FOR TABLE silver.nope"))
    assert(ex3.getMessage.contains("table not found"))
  }

  test("t@vN shorthand pins a version inline; non-tables stay verbatim") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "atv")
    t.append(Seq((1, "a")).toDF("k", "v")) // v0
    t.append(Seq((2, "b")).toDF("k", "v")) // v1
    cat.registerViews()
    assert(sql.sql("SELECT count(*) AS n FROM silver.atv@v0")
      .as[Long].head() === 1L)
    // an @v inside a string literal is DATA — even when the prefix is a
    // real table name (the rewrite never looks inside literals)
    assert(sql.sql("SELECT 'mail@v2' AS s").as[String].head() === "mail@v2")
    assert(sql.sql("SELECT 'silver.atv@v0 pinned' AS s")
      .as[String].head() === "silver.atv@v0 pinned")
  }

  test("CREATE OR REPLACE drops a property-driven CDF, keeps an API one") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.cdfr (k INT) TBLPROPERTIES " +
      "('graft.enableChangeFeed' = 'true')")
    val t = cat.table("silver", "cdfr")
    assert(t.changeFeedEnabled)
    sql.sql("CREATE OR REPLACE TABLE silver.cdfr (k INT)")
    assert(!t.changeFeedEnabled, "property-driven CDF must reset")
    // API-enabled marker (no property on record) survives a replace
    t.enableChangeFeed()
    sql.sql("CREATE OR REPLACE TABLE silver.cdfr (k INT, v STRING)")
    assert(t.changeFeedEnabled, "API-enabled CDF survives the replace")
  }

  test("table_changes('t', start[, end]) reads the change feed in SQL") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "tc")
    t.enableChangeFeed()
    t.append(Seq((1, "a"), (2, "b")).toDF("k", "v"))            // v0
    t.update(Map("v" -> lit("B")), col("k") === 2)              // v1
    t.delete(col("k") === 1)                                    // v2
    val byType = sql.sql(
      "SELECT _change_type, count(*) AS n FROM table_changes('silver.tc', 0) " +
        "GROUP BY 1 ORDER BY 1").as[(String, Long)].collect().toSeq
    assert(byType === Seq(("delete", 1L), ("insert", 2L),
      ("update_postimage", 1L), ("update_preimage", 1L)))
    // bounded end version: only v0..v1 changes
    assert(sql.sql(
      "SELECT count(*) AS n FROM table_changes('silver.tc', 0, 1)")
      .as[Long].head() === 4L)
    // no stray temp views accumulate
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("__graft_tc")))
  }

  test("CREATE TABLE (schema) PARTITIONED BY declares layout before data") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.pt (id INT, p STRING) PARTITIONED BY (p) " +
      "TBLPROPERTIES ('owner' = 'graft')")
    val t = cat.table("silver", "pt")
    assert(t.partitionLayout === Seq("p"))
    assert(t.properties === Map("owner" -> "graft"))
    sql.sql("INSERT INTO silver.pt VALUES (1, 'a'), (2, 'b'), (3, 'a')")
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b"), (3, "a")))
    assert(sql.sql("SHOW PARTITIONS silver.pt").as[String].collect().toSeq
      === Seq("a", "b"))
    val ddl = sql.sql("SHOW CREATE TABLE silver.pt").as[String].head()
    assert(ddl.contains("PARTITIONED BY (p)"))
    // unknown partition column refuses at CREATE
    val ex = intercept[Exception](sql.sql(
      "CREATE TABLE silver.pt2 (id INT) PARTITIONED BY (nope)"))
    assert(ex.getMessage.contains("unknown column"))
  }

  test("NOT NULL columns block NULLs; CREATE OR REPLACE resets constraints") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.nn (k INT NOT NULL, v STRING)")
    sql.sql("INSERT INTO silver.nn VALUES (1, 'a')")
    val ex = intercept[Exception](
      sql.sql("INSERT INTO silver.nn VALUES (CAST(NULL AS INT), 'b')"))
    assert(ex.getMessage.contains("k_not_null") ||
      Option(ex.getCause).exists(_.getMessage.contains("k_not_null")))
    assert(cat.table("silver", "nn").read.count() === 1)
    // a literal 'NOT NULL' inside a generated expression is data
    sql.sql("CREATE TABLE silver.nn2 (v STRING, tag STRING GENERATED " +
      "ALWAYS AS (coalesce(v, 'NOT NULL')))")
    sql.sql("INSERT INTO silver.nn2 (v) VALUES (CAST(NULL AS STRING))")
    assert(cat.table("silver", "nn2").read.select("tag")
      .as[String].head() === "NOT NULL")
    // REPLACE resets the constraint set: the new definition accepts NULL
    sql.sql("CREATE OR REPLACE TABLE silver.nn (k INT, v STRING)")
    sql.sql("INSERT INTO silver.nn VALUES (CAST(NULL AS INT), 'ok')")
    assert(cat.table("silver", "nn").read.count() === 1)
  }

  test("a FAILED CREATE OR REPLACE leaves the old table's declarations intact") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.fr (k INT NOT NULL, v STRING DEFAULT 'd') " +
      "TBLPROPERTIES ('owner' = 'graft')")
    val t = cat.table("silver", "fr")
    // bad type and bad partition column both refuse BEFORE clearing
    assertThrows[Exception](sql.sql(
      "CREATE OR REPLACE TABLE silver.fr (k NOPE_TYPE)"))
    assertThrows[Exception](sql.sql(
      "CREATE OR REPLACE TABLE silver.fr (k INT) PARTITIONED BY (ghost)"))
    assert(t.checks.map(_._1) === Seq("k_not_null"))
    assert(t.defaultColumns === Seq(("v", "'d'")))
    assert(t.properties === Map("owner" -> "graft"))
    // a SUCCESSFUL replace is a fresh table: everything resets
    sql.sql("CREATE OR REPLACE TABLE silver.fr (a INT)")
    assert(t.checks.isEmpty && t.defaultColumns.isEmpty &&
      t.properties.isEmpty)
  }

  test("NOT NULL composes with DEFAULT and parenthesized types") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.nnc (a INT NOT NULL DEFAULT 5, " +
      "b STRING DEFAULT 'x' NOT NULL, c DECIMAL(10,2) NOT NULL)")
    val t = cat.table("silver", "nnc")
    assert(t.checks.map(_._1).sorted ===
      Seq("a_not_null", "b_not_null", "c_not_null"))
    assert(t.defaultColumns.toMap === Map("a" -> "5", "b" -> "'x'"))
    sql.sql("INSERT INTO silver.nnc (c) VALUES (CAST(1.50 AS DECIMAL(10,2)))")
    assert(t.read.as[(Int, String, java.math.BigDecimal)].head()._1 === 5)
    // the defaults filled; an explicit NULL still blocks
    assertThrows[Exception](sql.sql(
      "INSERT INTO silver.nnc VALUES (CAST(NULL AS INT), 'v', " +
        "CAST(2 AS DECIMAL(10,2)))"))
  }

  test("IS NOT NULL inside a generated expression is not a column constraint") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.gnn (v STRING, has_v INT GENERATED " +
      "ALWAYS AS (CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END))")
    val t = cat.table("silver", "gnn")
    assert(t.checks.isEmpty) // no bogus has_v_not_null check
    sql.sql("INSERT INTO silver.gnn (v) VALUES (CAST(NULL AS STRING))")
    assert(t.read.select("has_v").as[Int].head() === 0)
  }

  test("UNSET IF EXISTS of an absent CDF property keeps an API-enabled feed") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "cdfk")
    t.enableChangeFeed() // marker only, no property
    t.append(Seq((1, "a")).toDF("k", "v"))
    sql.sql("ALTER TABLE silver.cdfk UNSET TBLPROPERTIES IF EXISTS " +
      "('graft.enableChangeFeed')")
    assert(t.changeFeedEnabled, "absent key must stay a true no-op")
  }

  test("sqlScript: double-quoted literals guard '--' and ';' too") {
    val (cat, sql) = warehouse()
    val last = sql.sqlScript(
      "CREATE TABLE silver.dq (k INT, v STRING);\n" +
        "INSERT INTO silver.dq SELECT 1, \"a -- b; c\";\n" +
        "SELECT 7 AS n")
    assert(last.as[Int].head() === 7)
    assert(cat.table("silver", "dq").read.as[(Int, String)].head() ===
      ((1, "a -- b; c")))
  }

  test("column DEFAULTs fill omitted named-INSERT columns; SET/DROP DEFAULT") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.dft (k INT, v STRING DEFAULT 'none', " +
      "n INT DEFAULT 7)")
    sql.sql("INSERT INTO silver.dft (k) VALUES (1)")
    sql.sql("INSERT INTO silver.dft (k, v) VALUES (2, 'x')")
    val t = cat.table("silver", "dft")
    assert(t.read.as[(Int, String, Int)].collect().toSet ===
      Set((1, "none", 7), (2, "x", 7)))
    sql.sql("ALTER TABLE silver.dft ALTER COLUMN n SET DEFAULT 100")
    sql.sql("ALTER TABLE silver.dft ALTER COLUMN v DROP DEFAULT")
    sql.sql("INSERT INTO silver.dft (k) VALUES (3)")
    assert(t.read.where(col("k") === 3).select("v", "n")
      .as[(Option[String], Int)].head() === ((None, 100)))
    // a default referencing a column is not constant — refused at DDL
    assertThrows[Exception](sql.sql(
      "ALTER TABLE silver.dft ALTER COLUMN n SET DEFAULT k + 1"))
    // the DEFAULT rides a rename; DESCRIBE and SHOW CREATE surface it
    sql.sql("ALTER TABLE silver.dft RENAME COLUMN n TO num")
    sql.sql("INSERT INTO silver.dft (k) VALUES (4)")
    assert(t.read.where(col("k") === 4).select("num").as[Int].head() === 100)
    val ddl = sql.sql("SHOW CREATE TABLE silver.dft").as[String].head()
    assert(ddl.contains("num INT DEFAULT 100"))
    assert(sql.sql("DESCRIBE silver.dft")
      .where(col("col_name") === "num").select("comment")
      .as[String].head() === "DEFAULT 100")
  }

  test("CLUSTER BY declares columns; bare OPTIMIZE z-orders by them") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE gold.cb (a INT, b INT, v STRING)")
    sql.sql("INSERT INTO gold.cb SELECT id, id % 97, CONCAT('v', id) " +
      "FROM RANGE(1000)")
    sql.sql("INSERT INTO gold.cb SELECT id + 1000, id % 97, 'w' " +
      "FROM RANGE(1000)")
    sql.sql("ALTER TABLE gold.cb CLUSTER BY (a, b)")
    val t = cat.table("gold", "cb")
    assert(t.properties("graft.clusterBy") === "a,b")
    assert(sql.sql("OPTIMIZE gold.cb").select("operation")
      .as[String].head() === "zorder")
    // multi-column stats landed: range reads on the SECOND column prune
    // and stay exact
    assert(t.readRange("b", "10", "12").count() ===
      2 * (0 until 1000).count(i => (10 to 12).contains(i % 97)))
    // unknown columns refuse; NONE reverts to plain compaction
    assertThrows[Exception](
      sql.sql("ALTER TABLE gold.cb CLUSTER BY (ghost)"))
    sql.sql("ALTER TABLE gold.cb CLUSTER BY NONE")
    assert(!t.properties.contains("graft.clusterBy"))
    assert(sql.sql("OPTIMIZE gold.cb").select("operation")
      .as[String].head() === "compact")
    // the declaration follows column-mapping DDL: rename re-keys it,
    // dropping a clustered column removes it from the list
    sql.sql("ALTER TABLE gold.cb CLUSTER BY (a, b)")
    sql.sql("ALTER TABLE gold.cb RENAME COLUMN a TO aa")
    assert(t.properties("graft.clusterBy") === "aa,b")
    sql.sql("ALTER TABLE gold.cb DROP COLUMN aa")
    assert(t.properties("graft.clusterBy") === "b")
    assert(sql.sql("OPTIMIZE gold.cb").select("operation")
      .as[String].head() === "zorder")
    // merge-bucketed tables refuse the declaration (their layout IS the
    // clustering) and a smuggled property never breaks bare OPTIMIZE
    val m = cat.table("gold", "cbm")
    m.merge(Seq((1, "x")).toDF("k", "v"), keys = Seq("k"), numBuckets = 2)
    assertThrows[Exception](sql.sql("ALTER TABLE gold.cbm CLUSTER BY (k)"))
    m.setProperties(Map("graft.clusterBy" -> "k"))
    assert(sql.sql("OPTIMIZE gold.cbm").select("operation")
      .as[String].head() === "compact")
  }

  test("TBLPROPERTIES: CREATE carries them; SET upserts; UNSET is strict") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.props (k INT, v STRING) " +
      "TBLPROPERTIES ('owner' = 'graft', 'note' = 'a = b, (c)')")
    val t = cat.table("silver", "props")
    // hostile values: '=' and parens/commas inside a quoted value parse
    assert(t.properties === Map("owner" -> "graft", "note" -> "a = b, (c)"))
    sql.sql("ALTER TABLE silver.props SET TBLPROPERTIES " +
      "('owner' = 'ops', 'quality' = 'silver')")
    assert(t.properties ===
      Map("owner" -> "ops", "note" -> "a = b, (c)", "quality" -> "silver"))
    assert(sql.sql("SHOW TBLPROPERTIES silver.props")
      .as[(String, String)].collect().toSeq ===
      Seq(("note", "a = b, (c)"), ("owner", "ops"), ("quality", "silver")))
    sql.sql("ALTER TABLE silver.props UNSET TBLPROPERTIES ('note')")
    // strict without IF EXISTS (Delta/Spark behavior)…
    val ex = intercept[Exception](
      sql.sql("ALTER TABLE silver.props UNSET TBLPROPERTIES ('nope')"))
    assert(ex.getMessage.contains("unknown key"))
    // …and a silent no-op with it
    sql.sql("ALTER TABLE silver.props UNSET TBLPROPERTIES IF EXISTS ('nope')")
    assert(t.properties.keySet === Set("owner", "quality"))
  }

  test("TBLPROPERTIES on a CTAS; SHOW on a non-graft identifier delegates") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE gold.pc PARTITIONED BY (p) " +
      "TBLPROPERTIES ('kind' = 'ctas') " +
      "AS SELECT id % 2 AS p, id FROM RANGE(10)")
    val t = cat.table("gold", "pc")
    assert(t.properties === Map("kind" -> "ctas"))
    assert(t.partitionLayout === Seq("p"))
    assert(t.read.count() === 10)
    spark.sql("DROP TABLE IF EXISTS show_delegate")
    try {
      sql.sql("CREATE TABLE show_delegate (id INT) USING PARQUET " +
        "TBLPROPERTIES ('x' = '1')")
      val vals = sql.sql("SHOW TBLPROPERTIES show_delegate")
        .as[(String, String)].collect().toMap
      assert(vals.get("x") === Some("1"))
    } finally spark.sql("DROP TABLE IF EXISTS show_delegate")
  }

  test("graft.appendOnly=true refuses every row mutation, appends still land") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.ao (k INT, v STRING) " +
      "TBLPROPERTIES ('graft.appendOnly' = 'true')")
    sql.sql("INSERT INTO silver.ao VALUES (1, 'a'), (2, 'b')")
    sql.sql("INSERT INTO silver.ao VALUES (3, 'c')") // appends fine
    val t = cat.table("silver", "ao")
    assert(t.read.count() === 3)
    def refused(stmt: String): Unit = {
      val ex = intercept[Exception](sql.sql(stmt))
      assert(ex.getMessage.contains("append-only"), s"$stmt: $ex")
    }
    refused("DELETE FROM silver.ao WHERE k = 1")
    refused("UPDATE silver.ao SET v = 'x' WHERE k = 2")
    refused("INSERT OVERWRITE silver.ao VALUES (9, 'z')")
    refused("TRUNCATE TABLE silver.ao")
    refused("RESTORE TABLE silver.ao TO VERSION AS OF 0")
    Seq((1, "upd")).toDF("k", "v").createOrReplaceTempView("ao_src")
    refused("MERGE INTO silver.ao AS t USING ao_src AS s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    // library-side guards hold too (the SQL funnel is not the only door)
    assertThrows[Exception](t.deleteVectors(col("k") === 1))
    assertThrows[Exception](t.updateRange("k", "1", "2",
      Map("v" -> lit("x"))))
    assert(t.read.count() === 3)
    // UNSET re-enables mutation
    sql.sql("ALTER TABLE silver.ao UNSET TBLPROPERTIES ('graft.appendOnly')")
    sql.sql("DELETE FROM silver.ao WHERE k = 1")
    assert(t.read.count() === 2)
  }

  test("graft.enableDeletionVectors routes SQL DELETE to the DV path") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.dvt (k INT, v STRING) " +
      "TBLPROPERTIES ('graft.enableDeletionVectors' = 'true')")
    sql.sql("INSERT INTO silver.dvt SELECT id, CONCAT('v', id) FROM RANGE(50)")
    sql.sql("DELETE FROM silver.dvt WHERE k < 10")
    val t = cat.table("silver", "dvt")
    assert(t.history.last.action === "delete_dv")
    assert(t.history.last.dvs.nonEmpty)
    assert(t.read.count() === 40)
    // without the property the same statement is copy-on-write
    sql.sql("ALTER TABLE silver.dvt UNSET TBLPROPERTIES " +
      "('graft.enableDeletionVectors')")
    sql.sql("DELETE FROM silver.dvt WHERE k < 20")
    assert(t.history.last.action === "delete")
    assert(t.read.count() === 30)
  }

  test("graft.autoCompact folds the small-file tail after appends") {
    val (cat, sql) = warehouse()
    spark.conf.set("spark.graft.autoCompact.minFiles", "3")
    try {
      sql.sql("CREATE TABLE bronze.ac (k INT, v STRING) " +
        "TBLPROPERTIES ('graft.autoCompact' = 'true')")
      val t = cat.table("bronze", "ac")
      sql.sql("INSERT INTO bronze.ac VALUES (1, 'a')")
      sql.sql("INSERT INTO bronze.ac VALUES (2, 'b')")
      // the create's empty set + two appends = 3 small sets → the
      // second INSERT trips the fold; the compact commit follows it
      assert(t.history.last.action === "compact")
      assert(t.history.last.fileSets.length === 1)
      assert(t.read.as[(Int, String)].collect().toSet ===
        Set((1, "a"), (2, "b")))
      // below the trigger nothing folds (no version churn)
      sql.sql("INSERT INTO bronze.ac VALUES (3, 'c')")
      assert(t.history.last.action === "append")
      assert(t.read.count() === 3)
    } finally spark.conf.unset("spark.graft.autoCompact.minFiles")
  }

  test("graft.autoCompact bounds per-cell accretion on partitioned merges") {
    val (cat, sql) = warehouse()
    spark.conf.set("spark.graft.autoCompact.maxSetsPerCell", "2")
    try {
      val t = cat.table("silver", "acm")
      t.setProperties(Map("graft.autoCompact" -> "true"))
      // six insert-only merges into ONE partition: each takes the
      // fast path (new file-set per touched cell, nothing folds) —
      // the property fires compactCellsOver once a cell passes 2 sets
      (0 until 6).foreach { i =>
        t.merge(Seq((i, "p1", s"v$i")).toDF("k", "part", "v"),
          Seq("k"), numBuckets = 2, partitionBy = Seq("part"))
      }
      val counts = t.cellFileSetCounts
      assert(counts.forall { case (_, _, n) => n <= 2 },
        s"cell accretion unbounded under graft.autoCompact: $counts")
      assert(t.read.count() === 6)
      // updates (non-fast-path merges) rewrite their cells and never
      // trigger: no compact commit should follow an update merge
      t.merge(Seq((0, "p1", "V0")).toDF("k", "part", "v"),
        Seq("k"), numBuckets = 2, partitionBy = Seq("part"))
      assert(t.history.last.action === "merge")
      assert(t.read.filter(col("k") === 0).select("v").as[String]
        .head() === "V0")
    } finally spark.conf.unset("spark.graft.autoCompact.maxSetsPerCell")
  }

  test("graft.enableChangeFeed property flips CDF like delta.enableChangeDataFeed") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.cdfp (k INT, v STRING) " +
      "TBLPROPERTIES ('graft.enableChangeFeed' = 'true')")
    val t = cat.table("silver", "cdfp")
    assert(t.changeFeedEnabled)
    sql.sql("INSERT INTO silver.cdfp VALUES (1, 'a')")
    sql.sql("UPDATE silver.cdfp SET v = 'b' WHERE k = 1")
    // feed from v0 (the CREATE's empty overwrite) onward: the INSERT and
    // the UPDATE are both captured
    assert(t.readChangeFeed(0).where(col("_change_type") === "update_postimage")
      .count() === 1)
    // the SHOW CREATE round-trip carries CDF exactly once (marker and
    // property never emit a duplicate key)
    val ddl = sql.sql("SHOW CREATE TABLE silver.cdfp").as[String].head()
    assert("graft\\.enableChangeFeed".r.findAllIn(ddl).length === 1)
    sql.sql("ALTER TABLE silver.cdfp SET TBLPROPERTIES " +
      "('graft.enableChangeFeed' = 'false')")
    assert(!t.changeFeedEnabled)
    sql.sql("ALTER TABLE silver.cdfp SET TBLPROPERTIES " +
      "('graft.enableChangeFeed' = 'true')")
    sql.sql("ALTER TABLE silver.cdfp UNSET TBLPROPERTIES " +
      "('graft.enableChangeFeed')")
    assert(!t.changeFeedEnabled)
  }

  test("SHOW PARTITIONS lists distinct partition values; unpartitioned refuses") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE gold.sp PARTITIONED BY (p) AS " +
      "SELECT CONCAT('p', id % 3) AS p, id FROM RANGE(30)")
    assert(sql.sql("SHOW PARTITIONS gold.sp").as[String].collect().toSeq ===
      Seq("p0", "p1", "p2"))
    cat.table("silver", "flat").append(Seq((1, "a")).toDF("k", "v"))
    val ex = intercept[Exception](sql.sql("SHOW PARTITIONS silver.flat"))
    assert(ex.getMessage.contains("not partitioned"))
  }

  test("SHOW CREATE TABLE emits runnable DDL that round-trips the schema") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.sc (id BIGINT GENERATED ALWAYS AS IDENTITY, " +
      "k INT, v STRING, k2 INT GENERATED ALWAYS AS (k + 1)) " +
      "TBLPROPERTIES ('owner' = 'graft')")
    sql.sql("ALTER TABLE silver.sc ADD CONSTRAINT kpos CHECK (k >= 0)")
    val ddl = sql.sql("SHOW CREATE TABLE silver.sc").as[String].head()
    assert(ddl.contains("GENERATED ALWAYS AS IDENTITY"))
    assert(ddl.contains("GENERATED ALWAYS AS (k + 1)"))
    assert(ddl.contains("'graft.constraints.kpos' = 'k >= 0'"))
    assert(ddl.contains("'owner' = 'graft'"))
    // the emitted statement is runnable against a fresh root: swap the
    // path, re-execute, and compare schemas (constraint properties are
    // carried as properties — informational, as with Delta's
    // delta.constraints.* surface)
    val t = cat.table("silver", "sc")
    val fresh = tmpDir("graft-sc2-")
    sql.sql(ddl.replace(s"graft.`${t.root}`", s"graft.`$fresh/t`"))
    assert(VersionedTable(spark, s"$fresh/t").read.schema ===
      t.read.schema)
  }

  test("SHOW TABLES lists the warehouse; REORG APPLY PURGE drops DVs") {
    val (cat, sql) = warehouse()
    cat.table("silver", "t1").append(Seq((1, "a")).toDF("k", "v"))
    cat.table("gold", "t2").append(Seq((2, "b")).toDF("k", "v"))
    assert(sql.sql("SHOW TABLES").as[(String, String)].collect().toSet ===
      Set(("silver", "t1"), ("gold", "t2")))
    val t = cat.table("silver", "t1")
    t.append((2 to 50).map(i => (i, s"v$i")).toDF("k", "v"))
    t.deleteVectors(col("k") <= 10)
    assert(t.history.last.dvs.nonEmpty)
    assert(sql.sql("REORG TABLE silver.t1 APPLY (PURGE)")
      .select("action").as[String].head() === "purge_dv")
    assert(t.history.last.dvs.isEmpty)
    assert(t.read.count() === 40)
  }

  test("MERGE clause literals with escaped quotes and keywords stay data") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.esc2 (k INT, v STRING)")
    sql.sql("INSERT INTO silver.esc2 VALUES (1, 'old')")
    // the literal contains \' AND the words WHEN/THEN after it — an
    // escape-blind clause splitter closes the string at \' and splits
    // on the literal's ' WHEN '
    sql.sql("MERGE INTO silver.esc2 AS t USING (SELECT 1 AS k) AS s " +
      "ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = 'isn\\'t WHEN it THEN rains'")
    assert(cat.table("silver", "esc2").read.select("v").as[String]
      .head() === "isn't WHEN it THEN rains")
    // escaped quote inside a column DEFAULT with a trailing NOT NULL
    // lookalike: the default survives verbatim, the column stays
    // nullable (stripTopLevelNotNull must not fire inside the literal)
    sql.sql("CREATE TABLE silver.esc3 (k INT, " +
      "v STRING DEFAULT 'it\\'s NOT NULL here')")
    sql.sql("INSERT INTO silver.esc3 (k) VALUES (7)")
    val t3 = cat.table("silver", "esc3")
    assert(t3.read.select("v").as[String].head() === "it's NOT NULL here")
    assert(t3.checks.isEmpty) // no phantom NOT NULL constraint
    sql.sql("INSERT INTO silver.esc3 VALUES (8, NULL)") // nullable indeed
    assert(t3.read.count() === 2)
  }

  test("alias-qualified text inside clause string literals is data") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.cl (k INT, v STRING)")
    sql.sql("INSERT INTO silver.cl VALUES (1, 'old')")
    // 's.x and t.y' inside the literal must NOT be alias-rewritten;
    // same for a literal inside a clause condition ('mail a@s.com')
    sql.sql("MERGE INTO silver.cl AS t USING (SELECT 1 AS k) AS s " +
      "ON t.k = s.k " +
      "WHEN MATCHED AND t.v <> 'use s.x here' THEN UPDATE SET " +
      "v = concat('got s.x and t.y: ', t.v)")
    assert(cat.table("silver", "cl").read.select("v").as[String].head() ===
      "got s.x and t.y: old")
  }

  test("renamed source keys inside string literals survive fixKeys") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.fk (k INT, note STRING)")
    sql.sql("INSERT INTO silver.fk VALUES (1, 'x')")
    spark.sql("SELECT 1 AS sid, 'ignored' AS note")
      .createOrReplaceTempView("fk_src")
    // ON t.k = s.sid renames — the literal 'see s.sid here' must not
    sql.sql("MERGE INTO silver.fk AS t USING fk_src AS s ON t.k = s.sid " +
      "WHEN MATCHED THEN UPDATE SET note = 'see s.sid here' " +
      "WHEN NOT MATCHED THEN INSERT (k, note) VALUES (s.sid, 's.sid txt')")
    assert(cat.table("silver", "fk").read.select("note").as[String]
      .head() === "see s.sid here")
  }

  test("sqlScript: backslash-escaped quotes guard '--' and ';' too") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.esc (k INT, v STRING)")
    sql.sqlScript(
      "INSERT INTO silver.esc VALUES (1, 'don\\'t -- keep; this');\n" +
        "INSERT INTO silver.esc VALUES (2, 'b')")
    assert(cat.table("silver", "esc").read.as[(Int, String)]
      .collect().toSet === Set((1, "don't -- keep; this"), (2, "b")))
  }

  test("table_changes inside a string literal is data, not a rewrite") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "tcq")
    t.enableChangeFeed()
    t.append(Seq((1, "a")).toDF("k", "v"))
    // single-quoted nesting would be ambiguous SQL; the double-quote
    // literal form is where the unguarded rewrite used to fire
    val out2 = sql.sql(
      "SELECT \"run table_changes('silver.tcq', 0) later\" AS hint")
    assert(out2.as[String].head() === "run table_changes('silver.tcq', 0) later")
  }

  test("MERGE with clauses refuses multiple source rows per key") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.mm (k INT, v STRING)")
    sql.sql("INSERT INTO silver.mm VALUES (1, 'old')")
    spark.sql("SELECT * FROM VALUES (1, 'a'), (1, 'b') AS t(k, v)")
      .createOrReplaceTempView("mm_src")
    val ex = intercept[Exception](
      sql.sql("MERGE INTO silver.mm AS t USING mm_src AS s ON t.k = s.k " +
        "WHEN MATCHED AND s.v = 'b' THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET v = s.v"))
    def messages(e: Throwable): Seq[String] =
      Option(e).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(ex).exists(_.contains("multiple source rows")))
    // untouched on refusal
    assert(cat.table("silver", "mm").read.select("v").as[String]
      .head() === "old")
  }

  test("partitioning by a GENERATED column (Delta generated partition cols)") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.gp (ts STRING, v INT, " +
      "day STRING GENERATED ALWAYS AS (substring(ts, 1, 10))) " +
      "PARTITIONED BY (day)")
    sql.sql("INSERT INTO silver.gp (ts, v) VALUES " +
      "('2026-01-01T10:00', 1), ('2026-01-01T11:00', 2), " +
      "('2026-01-02T09:00', 3)")
    val t = cat.table("silver", "gp")
    assert(t.read.select("day").distinct().as[String].collect().toSet ===
      Set("2026-01-01", "2026-01-02"))
    assert(t.partitionLayout === Seq("day"))
    // the generated value drives the physical layout: hive-style dirs
    val sets = t.history.last.fileSets
    assert(sets.nonEmpty)
    // a later insert prunes on the generated partition (readRange by
    // partition value — the mechanism VersionedTableSpec pins; here we
    // pin the DDL combination end-to-end)
    assert(t.readRange("day", "2026-01-02", "2026-01-02")
      .select("v").as[Int].collect().toSeq === Seq(3))
    // supplying an INCONSISTENT generated value is refused
    assertThrows[Exception](
      sql.sql("INSERT INTO silver.gp VALUES ('2026-01-03T00:00', 4, " +
        "'1999-12-31')"))
  }

  test("ALTER TABLE RENAME TO moves the table atomically, history intact") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "old_name")
    t.append(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    t.append(Seq((3, "c")).toDF("k", "v"))
    t.addCheck("kpos", "k > 0")
    cat.registerViews()
    assert(spark.catalog.tableExists("silver_old_name"))
    val r = sql.sql("ALTER TABLE silver.old_name RENAME TO silver.new_name")
      .as[(String, String)].head()
    assert(r === (("silver.old_name", "silver.new_name")))
    val nt = cat.table("silver", "new_name")
    // every ledger travelled: data, versions, constraints
    assert(nt.read.as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b"), (3, "c")))
    assert(nt.latestVersion === Some(1L))
    assert(nt.readVersion(0).count() === 2)
    assert(nt.checks === Seq(("kpos", "k > 0")))
    assert(!cat.table("silver", "old_name").exists)
    // views re-pointed: old name gone, new name queryable
    assert(!spark.catalog.tableExists("silver_old_name"))
    assert(spark.sql("SELECT count(*) FROM silver_new_name")
      .as[Long].head() === 3L)
    // renaming onto an existing table refuses; missing source refuses
    val t3 = cat.table("silver", "third")
    t3.append(Seq((9, "z")).toDF("k", "v"))
    assertThrows[IllegalArgumentException](
      sql.sql("ALTER TABLE silver.new_name RENAME TO silver.third"))
    assertThrows[IllegalArgumentException](
      sql.sql("ALTER TABLE silver.ghost RENAME TO silver.somewhere"))
  }

  test("ALTER COLUMN SET NOT NULL validates, enforces, and DROPs cleanly") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.nn (k INT, v STRING)")
    sql.sql("INSERT INTO silver.nn VALUES (1, 'a'), (2, NULL)")
    // existing NULL blocks the DDL (Delta's SET NOT NULL validation)
    val ex = intercept[IllegalStateException](
      sql.sql("ALTER TABLE silver.nn ALTER COLUMN v SET NOT NULL"))
    assert(ex.getMessage.contains("violate"))
    sql.sql("DELETE FROM silver.nn WHERE v IS NULL")
    sql.sql("ALTER TABLE silver.nn ALTER COLUMN v SET NOT NULL")
    // write-time enforcement through the same CHECK machinery
    assertThrows[Exception](
      sql.sql("INSERT INTO silver.nn VALUES (3, NULL)"))
    sql.sql("INSERT INTO silver.nn VALUES (3, 'c')")
    sql.sql("ALTER TABLE silver.nn ALTER COLUMN v DROP NOT NULL")
    sql.sql("INSERT INTO silver.nn VALUES (4, NULL)")
    assert(cat.table("silver", "nn").read.count() === 3)
    // unknown column refuses loudly
    assertThrows[IllegalArgumentException](
      sql.sql("ALTER TABLE silver.nn ALTER COLUMN ghost SET NOT NULL"))
  }

  test("SHOW COLUMNS lists the current snapshot's schema in order") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE gold.sc (a INT, b STRING, c DOUBLE)")
    assert(sql.sql("SHOW COLUMNS IN gold.sc").as[String].collect().toSeq ===
      Seq("a", "b", "c"))
    sql.sql("ALTER TABLE gold.sc RENAME COLUMN b TO bb")
    assert(sql.sql("SHOW COLUMNS FROM gold.sc").as[String].collect().toSeq ===
      Seq("a", "bb", "c"))
  }

  test("COMMENT ON TABLE/COLUMN persists, surfaces through DESCRIBE " +
       "and TBLPROPERTIES, joins engine contracts, and NULL unsets") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.cm (k INT, v STRING DEFAULT 'x')")
    sql.sql("COMMENT ON TABLE silver.cm IS 'fact of record'")
    sql.sql("COMMENT ON COLUMN silver.cm.k IS 'business key'")
    sql.sql("COMMENT ON COLUMN silver.cm.v IS 'value text'")
    assert(cat.table("silver", "cm").properties("comment") ===
      "fact of record")
    val desc = sql.sql("DESCRIBE silver.cm")
      .as[(String, String, String)].collect()
      .map { case (n, _, c) => n -> c }.toMap
    assert(desc("k") === "business key")
    // a user comment JOINS the engine contract, not replaces it
    assert(desc("v") === "value text; DEFAULT 'x'")
    // NULL unsets; unknown columns refuse
    sql.sql("COMMENT ON COLUMN silver.cm.k IS NULL")
    assert(sql.sql("DESCRIBE silver.cm")
      .filter(col("col_name") === "k").select("comment")
      .as[String].head() === "")
    assertThrows[Exception](
      sql.sql("COMMENT ON COLUMN silver.cm.nope IS 'x'"))
    // a comment follows its column through RENAME
    sql.sql("COMMENT ON COLUMN silver.cm.k IS 'business key'")
    sql.sql("ALTER TABLE silver.cm RENAME COLUMN k TO key_id")
    assert(sql.sql("DESCRIBE silver.cm")
      .filter(col("col_name") === "key_id").select("comment")
      .as[String].head() === "business key")
  }

  test("DROP TABLE moves to the catalog trash; UNDROP restores the " +
       "newest drop with history, constraints and time travel intact; " +
       "expired trash purges and stops being restorable") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "ud")
    t.append(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    t.append(Seq((3, "c")).toDF("k", "v"))
    t.addCheck("kpos", "k > 0")
    sql.sql("DROP TABLE silver.ud")
    assert(!cat.table("silver", "ud").exists)
    assert(cat.trashEntries.exists(e => e._1 == "silver" && e._2 == "ud"))
    assert(sql.sql("UNDROP TABLE silver.ud")
      .as[String].head() === "silver.ud")
    val back = cat.table("silver", "ud")
    assert(back.read.as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b"), (3, "c")))
    assert(back.latestVersion === Some(1L)) // history travelled
    assert(back.readVersion(0).count() === 2)
    assert(back.checks === Seq(("kpos", "k > 0")))
    // UNDROP restores the NEWEST drop of the name
    sql.sql("DROP TABLE silver.ud")
    val t2 = cat.table("silver", "ud")
    t2.append(Seq((9, "z")).toDF("k", "v"))
    sql.sql("DROP TABLE silver.ud")
    sql.sql("UNDROP TABLE silver.ud")
    assert(cat.table("silver", "ud").read.as[(Int, String)]
      .collect().toSet === Set((9, "z")))
    // a live table refuses UNDROP over it
    assertThrows[Exception](sql.sql("UNDROP TABLE silver.ud"))
    // purge with zero retention: both trash generations reclaimed
    sql.sql("DROP TABLE silver.ud")
    assert(cat.purgeTrash(retentionMs = 0L).nonEmpty)
    assert(cat.trashEntries.isEmpty)
    assertThrows[Exception](sql.sql("UNDROP TABLE silver.ud"))
    // never-dropped names refuse too
    assertThrows[Exception](sql.sql("UNDROP TABLE silver.never_was"))
  }

  test("catalog-wide SHOW PINS and VACUUM DRY RUN DETAIL name what " +
       "blocks reclamation across the warehouse") {
    import org.apache.spark.sql.functions.col
    val (cat, sql) = warehouse()
    val a = cat.table("silver", "pa")
    val b = cat.table("gold", "pb")
    (0 until 3).foreach(i => a.append(Seq((i, s"a$i")).toDF("k", "v")))
    a.compact()                                   // v3 — v0..v2 reclaimable
    b.append(Seq((1, "x")).toDF("k", "v"))        // v0
    a.setPin("mv:/consumers/stale", 0L)           // never advances
    a.setPin("mv:/consumers/live", 3L)            // at the head
    b.setPin("cdc:/consumers/one", 0L)
    // catalog-wide: every table's pins in ONE relation, with how far
    // behind the head each floor sits and a non-negative age
    val rows = sql.sql("SHOW PINS")
      .select("table", "pin", "version", "latest_version", "behind",
        "age_sec")
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(rows.map(r => (r._1, r._2, r._3, r._4, r._5)) === Seq(
      ("gold.pb", "cdc:/consumers/one", 0L, 0L, 0L),
      ("silver.pa", "mv:/consumers/live", 3L, 3L, 0L),
      ("silver.pa", "mv:/consumers/stale", 0L, 3L, 3L)))
    assert(rows.forall(_._6 >= 0L))
    // DRY RUN DETAIL: the full blast radius, pin-held rows naming the
    // MINIMUM-floor blocker (the stale consumer, not the live one)
    val detail = sql.sql("VACUUM silver.pa RETAIN 1 VERSIONS DRY RUN DETAIL")
      .select("status", "blocking_pin", "pin_version")
      .as[(String, Option[String], Option[Long])].collect().toSeq
    assert(detail.nonEmpty)
    assert(detail.forall(_._1 == "pin-held"),
      "with the stale pin at v0, nothing is reclaimable")
    assert(detail.forall(d => d._2.contains("mv:/consumers/stale") &&
      d._3.contains(0L)))
    // the blocker ages while live consumers re-point
    val age = sql.sql("VACUUM silver.pa RETAIN 1 VERSIONS DRY RUN DETAIL")
      .select("blocking_pin_age_sec").as[Option[Long]].collect()
    assert(age.forall(_.exists(_ >= 0L)))
    // a SECOND pin mid-suffix: the old sets are referenced up to v2, so
    // they are held by BOTH floors ≤ 2 — dropping just the stale pin
    // would NOT free them, and the report must name every covering pin
    // (the head pin at v3 covers nothing reclaim-eligible and stays out)
    a.setPin("cdc:/consumers/mid", 2L)
    val multi = sql.sql("VACUUM silver.pa RETAIN 1 VERSIONS DRY RUN DETAIL")
      .select("blocking_pin", "pin_version")
      .as[(Option[String], Option[Long])].collect().toSeq
    assert(multi.nonEmpty && multi.forall(d =>
      d._1.contains("cdc:/consumers/mid,mv:/consumers/stale") &&
        d._2.contains(0L)), s"got $multi")
    a.dropPin("cdc:/consumers/mid")
    // releasing the stale pin turns the same rows reclaimable — and the
    // DETAIL statuses always partition the IGNORE PINS preview
    val fullRadius = sql
      .sql("VACUUM silver.pa RETAIN 1 VERSIONS IGNORE PINS DRY RUN").count()
    a.dropPin("mv:/consumers/stale")
    val after = sql.sql("VACUUM silver.pa RETAIN 1 VERSIONS DRY RUN DETAIL")
      .select("status").as[String].collect().toSeq
    assert(after.size.toLong === fullRadius)
    assert(after.forall(_ == "reclaimable"),
      "with only head pins left, the full radius must be reclaimable")
    // a pin FILE claiming a version past the head (setPin validates,
    // but pins are plain files — an external consumer or a restored log
    // can leave this state) must not report a negative `behind` —
    // operators sort on non-negative lag
    val e = cat.table("gold", "pext")
    e.append(Seq((1, "x")).toDF("k", "v"))        // head = v0
    val pinsDir = java.nio.file.Paths.get(e.root, "_pins")
    java.nio.file.Files.createDirectories(pinsDir)
    java.nio.file.Files.writeString(pinsDir.resolve("external.json"),
      s"""{"name":"cdc:/consumers/ahead","v":5,"ts":${System.currentTimeMillis()}}""")
    val extRow = sql.sql("SHOW PINS")
      .filter(col("table") === "gold.pext")
      .select("latest_version", "behind").as[(Long, Long)].head()
    assert(extRow === ((0L, 0L)))
  }

  test("VACUUM FORCE EXPIRE PINS expires dead consumers loudly, audited " +
       "in history; refuses without an explicit age") {
    val (cat, sql) = warehouse()
    val t = cat.table("silver", "pexp")
    t.append(Seq((1, "a")).toDF("k", "v"))                       // v0
    t.append(Seq((2, "b")).toDF("k", "v"))                       // v1
    sql.sql("OPTIMIZE silver.pexp")                              // v2
    val threeHoursAgo = System.currentTimeMillis() - 3L * 3600 * 1000
    t.setPinAt("mv:/consumers/dead", 0L, threeHoursAgo)          // abandoned
    t.setPin("mv:/consumers/live", 2L)                           // current
    // refusal: pin expiry is destructive — no implicit age bound
    for (stmt <- Seq("VACUUM silver.pexp FORCE EXPIRE PINS",
        "VACUUM silver.pexp RETAIN 1 VERSIONS FORCE EXPIRE PINS",
        "VACUUM silver.pexp FORCE EXPIRE PINS OLDER THAN")) {
      val e = intercept[RuntimeException](sql.sql(stmt))
      assert(e.getMessage.contains("OLDER THAN"), s"$stmt: ${e.getMessage}")
    }
    // floor: liveness timestamps are consumer-clock heartbeats, so a
    // bound comparable to clock skew could expire LIVE consumers —
    // sub-hour intervals refuse loudly; >= 1h in MINUTES is fine
    for (stmt <- Seq(
        "VACUUM silver.pexp FORCE EXPIRE PINS OLDER THAN 59 MINUTES",
        "VACUUM silver.pexp FORCE EXPIRE PINS OLDER THAN 5 MINUTES")) {
      val e = intercept[RuntimeException](sql.sql(stmt))
      assert(e.getMessage.contains("1 HOUR"), s"$stmt: ${e.getMessage}")
    }
    assert(t.pins.size === 2, "refused statements must not touch pins")
    // the dead pin (floor 0) still holds the whole suffix: the default
    // vacuum reclaims nothing
    assert(sql.sql("VACUUM silver.pexp RETAIN 1 VERSIONS")
      .head().getLong(0) === 0L)
    // expire at 1 HOUR: only the 3h-dead pin goes; the live one stays;
    // the freed suffix reclaims in the same statement
    val r = sql.sql(
      "VACUUM silver.pexp RETAIN 1 VERSIONS FORCE EXPIRE PINS " +
        "OLDER THAN 1 HOURS")
      .select("expired_pin", "pin_version", "n_expired", "n_reclaimed")
      .as[(String, Option[Long], Long, Long)].collect().toSeq
    assert(r.map(x => (x._1, x._2, x._3)) ===
      Seq(("mv:/consumers/dead", Some(0L), 1L)))
    assert(r.head._4 >= 1L, s"expected reclamation, got ${r.head._4}")
    assert(t.pins.keySet === Set("mv:/consumers/live"))
    // the expiry is in the history audit trail (and classified
    // no-change for CDF consumers)
    assert(t.history.last.action === "expire_pins")
    assert(VersionedTable.CdfNoChangeActions("expire_pins"))
    // pin age is measured from last advance: a second expire finds
    // nothing stale and reports a loud no-op (NULL pin, 0 expired).
    // Phrased in MINUTES at exactly the floor — proving the floor
    // gates the INTERVAL, not the unit keyword.
    val noop = sql.sql(
      "VACUUM silver.pexp FORCE EXPIRE PINS OLDER THAN 60 MINUTES")
      .select("expired_pin", "n_expired")
      .as[(Option[String], Long)].head()
    assert(noop === ((None, 0L)))
  }

  /** Runs named rows, collecting every failing row's name and message. */
  private def rowFailures(rows: Seq[(String, () => Unit)]): Seq[String] =
    rows.flatMap { case (name, run) =>
      scala.util.Try(run()).failed.toOption.map(e => s"$name: ${e.getMessage}")
    }

  test("pinned reads are plan substitutions: literals stay data; DML, " +
       "CTAS, CTE and EXPLAIN REWRITE sources read through the pin") {
    val (cat, sql) = warehouse()
    val src = cat.table("silver", "pin_src")
    src.enableChangeFeed()
    src.append(Seq((1, "a"), (2, "b")).toDF("k", "v")) // v0
    src.delete(col("k") === 2)                        // v1
    sql.sql("CREATE TABLE silver.pin_dst (k INT, v STRING)")
    sql.sql("CREATE TABLE silver.pin_feed (k INT, v STRING, ct STRING)")
    def rows(name: String): Set[(Int, String)] =
      cat.table("silver", name).read.select("k", "v")
        .as[(Int, String)].collect().toSet
    val v0 = Set((1, "a"), (2, "b"))
    val failed = rowFailures(Seq(
      "a literal spelling a pin is data" -> (() => assert(sql.sql(
        "SELECT 'silver.pin_src VERSION AS OF 0' AS x").as[String].head()
        === "silver.pin_src VERSION AS OF 0")),
      "INSERT ... SELECT from VERSION AS OF" -> (() => {
        sql.sql("INSERT INTO silver.pin_dst " +
          "SELECT * FROM silver.pin_src VERSION AS OF 0")
        assert(rows("pin_dst") === v0)
      }),
      "MERGE USING a pinned subquery" -> (() => {
        sql.sql("MERGE INTO silver.pin_dst AS t USING (SELECT k, " +
          "upper(v) AS v FROM silver.pin_src VERSION AS OF 0) s " +
          "ON t.k = s.k WHEN MATCHED THEN UPDATE SET *")
        assert(rows("pin_dst") === Set((1, "A"), (2, "B")))
      }),
      "CTAS from VERSION AS OF" -> (() => {
        sql.sql("CREATE TABLE silver.pin_ctas AS " +
          "SELECT * FROM silver.pin_src VERSION AS OF 0")
        assert(rows("pin_ctas") === v0)
      }),
      "INSERT ... SELECT from table_changes" -> (() => {
        sql.sql("INSERT INTO silver.pin_feed SELECT k, v, _change_type " +
          "FROM table_changes('silver.pin_src', 0)")
        assert(cat.table("silver", "pin_feed").read
          .as[(Int, String, String)].collect().toSet ===
          Set((1, "a", "insert"), (2, "b", "insert"), (2, "b", "delete")))
      }),
      "a CTE over VERSION AS OF reads the pinned rows" -> (() => {
        val cte = "WITH old AS (SELECT * FROM silver.pin_src VERSION AS " +
          "OF 0) SELECT * FROM old"
        assert(sql.sql(cte).as[(Int, String)].collect().toSet === v0)
        sql.sql(s"CREATE TABLE silver.pin_cte AS $cte")
        assert(rows("pin_cte") === v0)
      }),
      "EXPLAIN REWRITE over a pinned read names no helper view" -> (() => {
        val out = sql.sql("EXPLAIN REWRITE SELECT k, count(*) AS n FROM " +
          "silver.pin_src VERSION AS OF 0 GROUP BY k").collect()
        assert(out.nonEmpty)
        assert(!out.mkString.contains("__graft_asof_"), out.mkString)
      })))
    assert(failed.isEmpty, failed.mkString("\n"))
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("__graft_")))
  }

  test("standard DDL, SHOW and DESCRIBE forms reach graft tables through " +
       "Spark's parser") {
    val (cat, sql) = warehouse()
    sql.sql("CREATE TABLE silver.ddl (k INT, v STRING, w INT, d INT)")
    sql.sql("INSERT INTO silver.ddl VALUES (1, 'a', 5, 7)")
    val t = cat.table("silver", "ddl")
    val failed = rowFailures(Seq(
      "TYPE DECIMAL(12,2) refuses as graft's own widening check" -> (() => {
        val e = intercept[IllegalArgumentException](sql.sql(
          "ALTER TABLE silver.ddl ALTER COLUMN d TYPE DECIMAL(12,2)"))
        assert(e.getMessage.contains("not a supported lossless widening"),
          e.getMessage)
      }),
      "DROP COLUMNS checks every column before the first commit" -> (() => {
        sql.sql("ALTER TABLE silver.ddl ADD CONSTRAINT w_pos CHECK (w > 0)")
        val versions = t.history.length
        val e = intercept[IllegalArgumentException](
          sql.sql("ALTER TABLE silver.ddl DROP COLUMNS (v, w)"))
        assert(e.getMessage.contains("referenced by `w_pos`"), e.getMessage)
        assert(t.history.length === versions)
        assert(t.read.columns.toSeq === Seq("k", "v", "w", "d"))
        sql.sql("ALTER TABLE silver.ddl DROP CONSTRAINT w_pos")
        sql.sql("ALTER TABLE silver.ddl DROP COLUMNS (v, w)")
        assert(t.read.columns.toSeq === Seq("k", "d"))
      }),
      "backticked SHOW COLUMNS resolves the graft table" -> (() =>
        assert(sql.sql("SHOW COLUMNS IN `silver`.`ddl`").as[String]
          .collect().toSet === t.read.columns.toSet)),
      "backticked DESCRIBE TABLE resolves the graft table" -> (() =>
        assert(sql.sql("DESCRIBE TABLE `silver`.`ddl`").select("col_name")
          .as[String].collect().toSet === t.read.columns.toSet)),
      "COMMENT ON TABLE unescapes a backslash-quoted literal" -> (() => {
        sql.sql("COMMENT ON TABLE silver.ddl IS 'it\\'s'")
        assert(t.properties.get("comment") === Some("it's"))
      })))
    assert(failed.isEmpty, failed.mkString("\n"))
  }
}
