package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, IvfPqServing, IvfServing, Keyed, Merge, Similarity, TextAnalysis, WindowOps}
import graft.tables.VersionedTable
import java.nio.file.Files

/** Driver contract (see SURVEY.md §7): one named query per implemented
  * operator from SURVEY.md §2, each paired with equivalent DuckDB SQL in
  * [[oracleSql]] over the same parquet testdata.
  *
  * Determinism rules used throughout (so DuckDB hash-compare is exact):
  * every query ends in a total ORDER BY; double aggregates are rounded;
  * raw doubles (no reordering) pass through unrounded; timestamps are
  * surfaced as epoch millis / dates, never raw ns timestamps; counts are
  * BIGINT on both sides (DuckDB integer sums are cast down from HUGEINT).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The boilerplate literal the exact-substring span queries plant —
    * long enough (≥ minLen + 2·(w−1) = 160 codepoints at minLen=64,
    * k=16) that anchor-precision trimming can never push a detected
    * span below the reporting threshold. */
  private val PlantedSpan: String =
    "GRAFT PLANTED BOILERPLATE SPAN: this exact sentence is repeated " +
      "verbatim across a small set of synthetic documents so the " +
      "exact-substring span detector must recover every planted pair " +
      "without admitting a single accidental one; winnowed fingerprints " +
      "anchor it, substring equality verifies it, and chained anchors " +
      "reassemble it into one contiguous span."

  /** Deterministic synthetic corpus for the span queries, rebuilt
    * identically by the DuckDB oracles: per-doc unique md5 blocks (no
    * accidental cross-doc repetition ≥ 64 chars is possible from
    * distinct hex digests) + [[PlantedSpan]] appended to every 97th
    * document. */
  private def spanCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"))
      .select(col("doc_id"), concat(
        concat_ws("", (1 to 8).map(j =>
          md5(concat(col("doc_id"), lit(s":$j")))): _*),
        when(col("doc_id") % 97 === 3, lit(PlantedSpan)).otherwise(lit("")))
        .as("text"))

  /** Build-once/serve-many cache for ANN serving tables: `build` writes
    * the table into a staging dir which is atomically renamed to the
    * deterministic per-(input, params) location — first call pays the
    * index build, every later query (and every later BENCH run) is the
    * probe-read alone, which is the access pattern real ANN serving has
    * (FAISS-style: index once per corpus version, query many). A stale
    * partial dir (no marker, e.g. crashed builder) is discarded. */
  /** Fingerprint of a source dataset dir (names + sizes + mtimes): the
    * serving cache key must change when the INPUT changes — regenerated
    * testdata at the same path must never serve a stale index. */
  private def sourceFingerprint(p: String): String = {
    import java.nio.file.{Files => JF, Paths => JP}
    val path = JP.get(p)
    if (!JF.exists(path)) return "absent"
    val s = JF.walk(path)
    val desc =
      try s.sorted().map[String] { f =>
        val a = JF.readAttributes(f, classOf[java.nio.file.attribute.BasicFileAttributes])
        s"${path.relativize(f)}:${a.size}:${a.lastModifiedTime.toMillis}"
      }.reduce("", (a, b) => a + "\n" + b)
      finally s.close()
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(desc.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
  }

  private def cachedServingTable(kind: String, key: String)
                                (build: String => Unit): String = {
    import java.nio.file.{Files => JF, Paths => JP, StandardCopyOption}
    val safe = key.replaceAll("[^A-Za-z0-9._-]", "_")
    val root = JP.get("/tmp/graft-serving", s"$kind-$safe")
    val marker = root.resolve("_SERVING_READY")
    def removeTree(p: java.nio.file.Path): Unit = {
      val s = JF.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => JF.deleteIfExists(f))
      finally s.close()
    }
    if (!JF.exists(marker)) {
      if (JF.exists(root)) removeTree(root) // stale partial build
      JF.createDirectories(root.getParent)
      val staging = JP.get(s"$root.tmp-${java.util.UUID.randomUUID()}")
      build(staging.toString)
      JF.writeString(staging.resolve("_SERVING_READY"), "ok")
      try JF.move(staging, root, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException |
                   _: java.nio.file.DirectoryNotEmptyException =>
        // a concurrent builder won the rename; its table is equivalent
        removeTree(staging)
      }
    }
    // Best-effort GC: keys are fingerprint-suffixed, so every testdata
    // regeneration at the same path strands the previous fingerprint's
    // tree forever. With THIS key's table ready, siblings sharing the
    // same (kind, dir, params) stem but a different 12-hex fingerprint
    // are stale — reclaim them, plus any crashed builder's orphaned
    // `.tmp-` staging. BOTH are age-gated an hour: a sibling built
    // moments ago may still be mid-scan in a concurrent process whose
    // testdata predates the regeneration — deleting it out from under
    // that lazy Spark scan fails its query with FileNotFound, while an
    // hour-old stranded tree is safe to reap (same grace rule the table
    // vacuum applies to untracked names). Failures are swallowed: GC
    // must never fail a query.
    try {
      val stemM = "^(.*)-[0-9a-f]{12}$".r
      stemM.findFirstMatchIn(root.getFileName.toString).foreach { m =>
        val stem = m.group(1)
        val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
        def oldEnough(p: java.nio.file.Path) =
          try JF.getLastModifiedTime(p).toMillis < cutoff
          catch { case _: java.io.IOException => false }
        val ls = JF.list(root.getParent)
        try ls.forEach { p =>
          val n = p.getFileName.toString
          val staleSibling = n != root.getFileName.toString &&
            n.matches(java.util.regex.Pattern.quote(stem) + "-[0-9a-f]{12}")
          val orphanStaging = n.contains(".tmp-")
          if ((staleSibling || orphanStaging) && oldEnough(p)) removeTree(p)
        } finally ls.close()
      }
    } catch { case _: Throwable => () }
    root.toString
  }

  /** events.parquet's `ts` encoding has varied across testdata
    * generations: TIMESTAMP(NANOS) (which Spark's parquet reader rejects
    * — read nanos as long via the legacy flag, convert to µs losslessly)
    * vs TIMESTAMP(MICROS) with isAdjustedToUTC=false (which Spark reads
    * as TIMESTAMP_NTZ). Normalize both to a session-TZ timestamp (UTC is
    * pinned session-wide), so every downstream query sees one type. */
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Flagship: the reference's end-to-end slice_v1 DAG on synthetic FPL
    * payloads — bronze ingest → silver dims → gold dims → horizon fact →
    * top-20 easiest-fixture players (42_build_fixture_horizons.py:136-139).
    * Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val wh = Files.createTempDirectory("graft-wh-").toString
    new graft.fpl.Pipeline(spark, wh).runSliceV1()
  }

  // ------------------------------------------------------------------
  // Shared sub-plans
  // ------------------------------------------------------------------

  /** Documents corpus with planted exact duplicates (doc_id % 7 == 0
    * re-appears under doc_id + 1000000). */
  private def corpusWithExactDups(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select("doc_id", "text")
    d.unionByName(d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
  }

  /** Documents corpus with planted NEAR duplicates: doc_id % 11 == 0
    * re-appears under doc_id + 1000000 with the last 2 tokens dropped. */
  private def corpusWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select("doc_id", "text")
    val toks = split(col("text"), "\\s+")
    // greatest(...) guard: a ≤2-token doc would make the slice length
    // negative (Spark errors; DuckDB yields ''), failing the whole query
    d.unionByName(d.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat_ws(" ",
          slice(toks, lit(1), greatest(size(toks) - 2, lit(0)))).as("text")))
  }

  /** Bit-pattern block vector of an id — the PQ provably-total corpus
    * shared by `q_sim_pq_topk` and `q_sim_ivfpq_topk`: 8 dims as 4
    * two-dim subspaces, subspace j holding (amp·b_j, amp·(1−b_j)) with
    * b_j = bit j of the id and amp = 0.25·((id%3)+1). Exactly 6
    * distinct subvectors per subspace (2 bits × 3 amps) ≤ k=8, so a
    * trained codebook is lossless by kmeansLocal's distinct-point-init
    * contract, and every coordinate is a multiple of 1/4 — products
    * against a grid query stay on the 1/16 grid where float summation
    * is bit-exact and a SQL oracle replays the ADC scores. */
  private def bitPatternVec(id: Column): Column = {
    val amp = ((id % 3 + 1)).cast("double") * lit(0.25d)
    array((0 until 8).map { i =>
      val j = i / 2
      val bit = (floor(id.cast("long") / (1L << j)).cast("long") % 2)
        .cast("double")
      if (i % 2 == 0) amp * bit else amp * (lit(1.0d) - bit)
    }: _*).cast("array<float>")
  }

  /** events mapped onto the declared silver.live_event shape
    * (resources/uc/objects.sql:139-149). */
  private def eventsAsLiveEvents(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(
      col("event_id").cast("string").as("event_key"),
      (col("user_id") % 100).cast("string").as("fixture_id"),
      col("ts").as("event_ts"),
      lit(null).cast("string").as("team_id"),
      col("user_id").cast("string").as("player_id"),
      col("event_type"),
      col("props").as("payload"),
      col("ts").as("updated_at"))

  /** Scope `spark.sql.shuffle.partitions` down for a bounded streaming
    * drain: stateful operators (window aggs, stream-stream joins,
    * flatMapGroupsWithState) spin up one state store per partition per
    * micro-batch, and at drain scale the per-store init/commit dominates
    * the actual work. Results are identical — state partitioning is
    * internal — and each drain starts a FRESH checkpoint, so the baked-in
    * partition count never conflicts across runs. At production scale
    * state parallelism should instead match the stream's key cardinality. */
  private def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Deterministic events→player-history mapping feeding the ML1 feature
    * pipeline, so DuckDB can replicate it. */
  private[graft] def mlFeatures(s: SparkSession, dir: String): DataFrame = {
    val ts = java.sql.Timestamp.valueOf("2025-08-12 06:15:00")
    val history = events(s, dir).select(
      col("user_id").cast("int").as("player_id"),
      (col("user_id") % 20).cast("int").as("team_id"),
      (col("event_id") % 10 + 1).cast("int").as("gameweek_id"),
      (col("event_id") % 90).cast("int").as("minutes"),
      (col("event_id") % 13).cast("int").as("points"))
    val playerGameweek = graft.fpl.Gold.factPlayerGameweek(history, ts)
    val priceSnapshot = playerGameweek.select("player_id").distinct()
      .select(col("player_id"),
        (lit(40) + col("player_id") % 100).cast("int")
          .as("now_cost_tenths_million"))
    val teamGwDifficulty = playerGameweek
      .select("team_id", "gameweek_id").distinct()
      .select(col("team_id"), col("gameweek_id"),
        ((col("team_id") + col("gameweek_id")) % 5 + 1).cast("int")
          .as("difficulty"))
    graft.ml.Points.features(playerGameweek, priceSnapshot, teamGwDifficulty)
  }

  // ------------------------------------------------------------------
  // Query inventory (names reference SURVEY.md §2 operator ids)
  // ------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A1+P2+P7: grouped multi-agg with pushed-down predicate (horizon-fact
    // aggregation shape; also the TPC-H Q1 pricing summary).
    "q_a1_pricing_summary" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // A2/Q2: duplicate-key detector (grouped count > 1).
    "q_a2_dup_counts" -> ((s, dir) =>
      events(s, dir)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .orderBy("user_id", "event_type")),

    // A5/U2: per-table stats UNION report.
    "q_a5_stats_union" -> ((s, dir) => {
      def one(name: String) = t(s, dir, name)
        .agg(lit(name).as("tbl"), count(lit(1)).as("n_rows"))
      one("customer").unionByName(one("orders")).unionByName(one("lineitem"))
        .select("tbl", "n_rows").orderBy("tbl")
    }),

    // J1: multi-way inner equi-join over dims (broadcast small sides).
    "q_j1_join_dims" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total_revenue"))
        .orderBy("r_name", "n_name")),

    // J2: multi-way LEFT join of per-key aggregates (horizon assembly shape).
    "q_j2_multiway_left" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val f = o.filter(col("o_orderstatus") === "F").groupBy("o_custkey")
        .agg(count(lit(1)).as("f_orders")).withColumnRenamed("o_custkey", "f_key")
      val p = o.filter(col("o_orderstatus") === "O").groupBy("o_custkey")
        .agg(count(lit(1)).as("o_orders")).withColumnRenamed("o_custkey", "p_key")
      t(s, dir, "customer")
        .join(f, col("c_custkey") === col("f_key"), "left")
        .join(p, col("c_custkey") === col("p_key"), "left")
        .select(col("c_custkey"),
          coalesce(col("f_orders"), lit(0L)).as("f_orders"),
          coalesce(col("o_orders"), lit(0L)).as("o_orders"))
        .orderBy("c_custkey")
    }),

    // J4/S7: left-anti join (the bronze duplicate-payload write guard).
    "q_j4_anti_join" -> ((s, dir) =>
      Keyed.notIn(
        t(s, dir, "customer").withColumnRenamed("c_custkey", "o_custkey"),
        t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
        Seq("o_custkey"))
        .select(col("o_custkey").as("c_custkey"), col("c_name"))
        .orderBy("c_custkey")),

    // U1: two-arm manual unpivot via unionByName (home/away fixture shape).
    "q_u1_unpivot" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val part = li.select(col("l_orderkey"), col("l_partkey").as("key"),
        lit("part").as("side"))
      val supp = li.select(col("l_orderkey"), col("l_suppkey").as("key"),
        lit("supp").as("side"))
      part.unionByName(supp).groupBy("side")
        .agg(count(lit(1)).as("n"), countDistinct("key").as("n_keys"))
        .orderBy("side")
    }),

    // Hierarchical aggregates: ROLLUP over (year, priority) with grouping
    // flags — subtotals + grand total in one pass.
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "orders")
        .rollup(year(col("o_orderdate")).cast("int").as("yr"),
          col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum("o_totalprice"), 2).as("total"))
        .select(col("yr"), col("o_orderpriority"), col("n"), col("total"))
        .orderBy(col("yr").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // Sessionization: gap-based session windows per user (30-minute
    // inactivity gap) — the classic training-data session derivation,
    // expressed with a lag + cumulative-sum window (portable to the
    // oracle; Spark's session_window is the streaming form).
    "q_sessions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      val gapped = events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_millis(col("ts")) - unix_millis(col("prev_ts")) > 1800000L, 1)
            .otherwise(0))
        .withColumn("session_id",
          sum(col("new_session")).over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
      gapped.groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          unix_millis(min(col("ts"))).as("session_start_ms"),
          unix_millis(max(col("ts"))).as("session_end_ms"))
        .orderBy("user_id", "session_id")
    }),

    // U1-reverse: pivot with explicit values (deterministic columns) —
    // per-user event-type counts as a wide relation.
    "q_u3_pivot" -> ((s, dir) =>
      events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("user_id"), col("click").as("n_click"),
          col("view").as("n_view"), col("purchase").as("n_purchase"))
        .orderBy("user_id")),

    // W1: latest-per-key (the latest-snapshot pick, distributed form).
    "q_w1_latest_per_key" -> ((s, dir) =>
      Keyed.latestPerKey(events(s, dir), Seq("user_id"), "ts",
          tieBreakers = Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), unix_millis(col("ts")).as("ts_ms"))
        .orderBy("user_id")),

    // W3: ORDER BY + LIMIT top-k report.
    "q_w3_topk" -> ((s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)),

    // W4: deterministic dedup-keep-first per composite key.
    "q_w4_dedup_first" -> ((s, dir) =>
      Keyed.firstPerKey(events(s, dir), Seq("user_id", "event_type"),
          "event_id")
        .select(col("user_id"), col("event_type"),
          col("event_id").as("first_event_id"))
        .orderBy("user_id", "event_type")),

    // P3: the reference's to_double_or_null coercion ("", "null", "None").
    "q_p3_null_coercion" -> ((s, dir) =>
      events(s, dir)
        .withColumn("str_val",
          when(col("event_id") % 4 === 0, lit(""))
            .when(col("event_id") % 4 === 1, lit("null"))
            .when(col("event_id") % 4 === 2, lit("None"))
            .otherwise(col("user_id").cast("string")))
        .select(col("event_id"),
          graft.fpl.Silver.toDoubleOrNull(col("str_val")).as("coerced"))
        .orderBy("event_id")),

    // P4: string functions (concat_ws / length / trim / upper).
    "q_p4_string_funcs" -> ((s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        concat_ws(" ", col("c_name"), col("c_mktsegment")).as("full_name"),
        length(col("c_name")).as("name_len"),
        upper(trim(col("c_mktsegment"))).as("seg"))
        .orderBy("c_custkey")),

    // P5: date/time functions (year/month/date_trunc, UTC session TZ).
    "q_p5_datetime" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("int").as("yr"),
          month(col("o_orderdate")).cast("int").as("mo"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("yr", "mo")),

    // P7: CASE WHEN conditional aggregate (ok-row counting).
    "q_p7_case_agg" -> ((s, dir) =>
      t(s, dir, "orders").groupBy("o_orderpriority")
        .agg(sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")),

    // P8: from_json payload parse (bronze → silver JSON path).
    "q_p8_json_parse" -> ((s, dir) =>
      events(s, dir)
        .select(from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .orderBy("k")),

    // P9: in-engine canonical hashing (sha2 — the payload_sha256 path).
    "q_p9_hash" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), sha2(col("text"), 256).as("content_sha"),
        length(col("text")).as("n_chars_computed"))
        .orderBy("doc_id")),

    // Q1/Q2 (non-throwing form): one-pass DQ report.
    "q_dq_report" -> ((s, dir) =>
      graft.fpl.DQ.report(t(s, dir, "orders"), "o_orderkey", "orders")),

    // M1: join-based MERGE upsert (update + insert paths).
    "q_m1_merge_upsert" -> ((s, dir) => {
      val e = events(s, dir)
        .select("event_id", "user_id", "event_type", "value")
      val target = e.filter(col("event_id") % 3 === 0)
      val updates = e.filter(col("event_id") % 6 === 0 || col("event_id") % 6 === 1)
        .withColumn("event_type", lit("updated"))
        .withColumn("value", col("value") + 1000.0)
      Merge.upsert(target, updates, Seq("event_id")).orderBy("event_id")
    }),

    // M2: versioned-table time travel (VERSION AS OF over the parquet
    // snapshot log — the engine's Delta stand-in).
    "q_m2_time_travel" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-tt-").toString
      val tbl = VersionedTable(s, root)
      val o = t(s, dir, "orders")
      tbl.overwrite(o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")))
      tbl.append(o.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")))
      def counts(df: DataFrame, v: Int) = df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n")).withColumn("version", lit(v).cast("int"))
      counts(tbl.readVersion(0), 0).unionByName(counts(tbl.readVersion(1), 1))
        .select("version", "o_orderstatus", "n")
        .orderBy("version", "o_orderstatus")
    }),

    // M9: partition×bucket merge — the reference's intended snapshot_date
    // partitioning on its MERGE tables (docs/architecture.md:56,
    // docs/backlog.md:45,49-51): one table gets date-range file-set
    // pruning AND touched-(partition, bucket)-cells-only copy-on-write
    // upsert simultaneously (the Delta combination).
    "q_m9_partitioned_merge" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-pmerge-").toString
      val tbl = VersionedTable(s, root)
      val e = events(s, dir)
        .select(col("event_id").cast("long").as("event_id"), col("user_id"),
          col("event_type"), date_format(col("ts"), "yyyy-MM").as("snapshot_month"))
      tbl.merge(e, Seq("event_id"), numBuckets = 8,
        partitionBy = Seq("snapshot_month"))
      val upd = e.filter(col("event_id") % 10 === 0)
        .withColumn("event_type", lit("updated"))
      tbl.merge(upd, Seq("event_id"))
      tbl.read.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("event_id").as("sum_id"))
        .orderBy("event_type")
    }),

    // Backlog "price deltas": lag window per entity over snapshots.
    "q_w2_price_deltas" -> ((s, dir) =>
      WindowOps.snapshotDeltas(t(s, dir, "orders"), "o_custkey",
          "o_orderdate", "o_totalprice", "o_orderkey")
        .select("o_custkey", "o_orderkey", "prev_value", "delta")
        .orderBy("o_custkey", "o_orderkey")),

    // A6: rolling live-form feature (bounded rows frame).
    "q_a6_rolling_form" -> ((s, dir) =>
      WindowOps.rollingMean(t(s, dir, "orders"), "o_custkey", "o_orderdate",
          "o_totalprice", 3, "o_orderkey")
        .select(col("o_orderkey"),
          round(col("rolling_mean_3"), 4).as("form_3"),
          col("window_rows"))
        .orderBy("o_orderkey")),

    // ML3: transfer-recommender shape — theta join + constraint predicates
    // + deterministic top-k.
    "q_ml3_theta_topk" -> ((s, dir) =>
      t(s, dir, "part").filter(col("p_size") === 50)
        .join(t(s, dir, "supplier"),
          col("p_retailprice") <= col("s_acctbal"))
        .select(col("p_partkey"), col("s_suppkey"),
          round(col("s_acctbal") - col("p_retailprice"), 2).as("headroom"))
        .orderBy(col("headroom").desc, col("p_partkey").asc, col("s_suppkey").asc)
        .limit(5)),

    // Dedup 1: exact content dedup groups (hash-groupBy).
    "q_dd1_exact_dedup" -> ((s, dir) =>
      Dedup.exactGroups(corpusWithExactDups(s, dir))
        .select(col("keep_id"), col("n_docs"))
        .orderBy("keep_id")),

    // Dedup 2: MinHash+LSH near-dup pairs, ORACLE-CHECKED via a planted
    // exact-copy invariant: every doc with doc_id % 7 == 0 reappears
    // verbatim at +2000000. Identical text → identical shingle-hash set →
    // identical signature → same bucket in EVERY band, and the verify
    // stage computes exact Jaccard (= 1 ≥ threshold), so recall of the
    // planted pairs is deterministic arithmetic DuckDB recomputes —
    // independent of seeds or banding. (The bucket cap is DISABLED here
    // so the invariant holds at every SF — a degenerate band-hash bucket
    // larger than the default cap would otherwise silently reduce
    // n_planted_found at bench scale.) Near-dup plants stay in the
    // corpus to keep the candidate stage realistic; engine-specific pair
    // totals are pinned by DedupSpec.
    "q_dd2_minhash_pairs" -> ((s, dir) => {
      val base = corpusWithNearDups(s, dir)
      val exactPlants = t(s, dir, "documents").select("doc_id", "text")
        .filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
      Dedup.minhashNearDupPairs(base.unionByName(exactPlants),
          jaccardThreshold = 0.7, maxBucketSize = Int.MaxValue)
        .agg(count(when(col("doc_id_b") === col("doc_id_a") + 2000000, 1))
          .as("n_planted_found"))
    }),

    // Dedup 3: SimHash near-dup pairs — same planted exact-copy invariant
    // as q_dd2: identical text → identical 64-bit signature → Hamming 0,
    // and pigeonhole blocking has EXACT recall within the budget, so the
    // planted count is deterministic (DedupSpec pins near-dup behavior).
    "q_dd3_simhash_pairs" -> ((s, dir) => {
      val base = corpusWithNearDups(s, dir)
      val exactPlants = t(s, dir, "documents").select("doc_id", "text")
        .filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
      Dedup.simhashNearDupPairs(base.unionByName(exactPlants),
          maxHammingDistance = 6, maxBucketSize = Int.MaxValue)
        .agg(count(when(col("doc_id_b") === col("doc_id_a") + 2000000, 1))
          .as("n_planted_found"))
    }),

    // Dedup 4: exact n-gram Jaccard over blocked candidate pairs.
    "q_dd4_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(corpusWithNearDups(s, dir), n = 3,
          threshold = 0.5)
        .select(col("doc_id_a"), col("doc_id_b"),
          round(col("jaccard"), 4).as("jaccard4"))
        .orderBy("doc_id_a", "doc_id_b")),

    // DQ: expectations with quarantine (Delta Live Tables expect_or_drop
    // + quarantine pattern): one projection computes every rule verdict,
    // failing rows leave the pipeline tagged with the rules they broke
    // — never silently dropped — and passing rows flow on untouched.
    "q_dq_expectations" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_discount", "l_tax")
      // ONE scan: the tagged frame reports passed rows as '__passed' and
      // failing rows once per broken rule (the two-frame split would
      // re-read the source per side)
      graft.fpl.DQ.expectationsTagged(l, Seq(
          "qty_small" -> "l_quantity <= 30",
          "disc_low" -> "l_discount <= 0.05",
          "tax_low" -> "l_tax <= 0.04"))
        .select(explode(
          when(size(col("_failed_expectations")) === 0,
            array(lit("__passed")))
            .otherwise(col("_failed_expectations"))).as("rule"))
        .groupBy("rule").agg(count(lit(1)).as("n_failed"))
        .filter(col("n_failed") > 0)
        .orderBy("rule")
    }),

    // Similarity: PQ ANN serving — vectors compressed to m codes
    // (product quantization), query served by asymmetric distance over
    // broadcast lookup tables: m table probes per row instead of a
    // d-dim dot product, the billion-vector memory/computation shape.
    // ORACLE-CHECKED at a provably-total operating point (the IVF/LSH
    // full-probe move): a bit-pattern corpus over the FULL id range —
    // subspace j of 4 holds (amp·b_j, amp·(1−b_j)) with b_j = bit j of
    // vec_id and amp = 0.25·((vec_id%3)+1) — has 6 distinct patterns
    // per subspace ≤ k=8, so the codebook covers every pattern exactly
    // (kmeansLocal inits from distinct points), ADC scores EQUAL true
    // inner products, and every value sits on the 1/16 grid where any
    // summation order is bit-exact. Distinct structure, m, k, corpus
    // size, and query from q_sim_pq_lossless, so the two hash checks
    // pin different rankings. Trained-codebook behavior on general
    // corpora stays pinned by SimilaritySpec.
    "q_sim_pq_topk" -> ((s, dir) => {
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), bitPatternVec(col("vec_id")).as("embedding"))
      // query = the derived vector of vec_id 1 (bits 1,0,0,0; amp 0.5)
      val q = Seq(0.5f, 0f, 0f, 0.5f, 0f, 0.5f, 0f, 0.5f)
      val cb = Similarity.pqTrain(base, m = 4, k = 8)
      Similarity.pqTopK(
        Similarity.pqEncode(base.filter(col("vec_id") =!= 1), cb),
        cb, q, 10)
    }),

    // Multimodal 2: perceptual-hash near-dup over media payloads —
    // decode(stub) → 64-bit aHash → banded Hamming pair join; binary
    // payloads never shuffle. ORACLE-CHECKED via the planted exact-copy
    // invariant: every media_id % 13 == 0 payload reappears verbatim at
    // +1000000; identical bytes → identical pHash → Hamming 0, and the
    // pigeonhole blocking is exact at distance 0, so the planted count is
    // the arithmetic DuckDB recomputes over range(1500). Pair semantics +
    // near-dup recall pinned by MultimodalSpec.
    "q_mm2_phash_neardup" -> ((s, dir) => {
      val corpus = graft.multimodal.Multimodal.synthesize(s, 1500)
      val planted = corpus.filter(col("media_id") % 13 === 0)
        .withColumn("media_id", col("media_id") + 1000000)
      graft.multimodal.Multimodal.nearDupMediaPairs(s,
          corpus.unionByName(planted), maxHammingDistance = 0,
          maxBucketSize = Int.MaxValue)
        .agg(count(when(col("media_id_b") === col("media_id_a") + 1000000, 1))
          .as("n_planted_found"))
    }),

    // Dedup 6: paragraph-level exact dedup (C4/RefinedWeb boilerplate
    // removal): first global occurrence of each paragraph survives,
    // documents reassemble from surviving paragraphs, fully-duplicated
    // documents vanish. Oracle: the identical split → winner-window →
    // reassemble state machine in DuckDB (list_zip ordinality).
    "q_dd6_paragraph_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
        .filter(col("doc_id") < 500)
      // super-docs of 4 paragraphs each (original docs, in doc order)…
      val supers = d
        .withColumn("grp", floor(col("doc_id") / 4).cast("long"))
        .groupBy("grp")
        .agg(concat_ws("\n\n", transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text"))).as("text"))
        .select(col("grp").as("doc_id"), col("text"))
      // …plus planted single-paragraph copies: every 7th doc reappears
      // as a later document and must dedup away entirely
      val planted = d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      Dedup.paragraphDedup(supers.unionByName(planted))
        .select(col("doc_id"), md5(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // Dedup 7: exact-substring duplicate SPANS (Lee et al. 2021's
    // ExactSubstr, winnowing-based — Dedup.duplicateSpans). The corpus
    // is rebuilt identically in DuckDB: per-doc unique md5 blocks (no
    // accidental cross-doc repetition ≥ minLen is possible from
    // distinct hex digests) plus one long boilerplate literal planted
    // into every 97th doc. The detector must recover EXACTLY the
    // planted pairs — a single false candidate surviving verification,
    // or one missed plant, breaks the hash compare. Span exactness and
    // anchor-precision bounds are pinned in DedupSpec.
    "q_dd7_substring_spans" -> ((s, dir) => {
      Dedup.duplicateSpans(spanCorpus(s, dir), minLen = 64, k = 16)
        .select("doc_a", "doc_b").distinct()
        .orderBy("doc_a", "doc_b")
    }),

    // Dedup 8: span REMOVAL (the cut half of ExactSubstr dedup): excise
    // every detected span from its higher-id document — the lowest-id
    // occurrence survives verbatim, every later copy loses it. The
    // oracle checks the observable invariant: after cutting, the full
    // planted literal survives ONLY in the first planted doc (cut docs
    // may keep ≤ w-1 edge chars — never the whole span).
    "q_dd8_span_removal" -> ((s, dir) => {
      val corpus = spanCorpus(s, dir)
      val spans = Dedup.duplicateSpans(corpus, minLen = 64, k = 16)
      Dedup.cutSpans(corpus, spans)
        .select(col("doc_id"),
          (instr(col("text"), PlantedSpan) > 0).cast("int").as("has_plant"))
        .orderBy("doc_id")
    }),

    // Dedup 5: SemDeDup — semantic (embedding-space) duplicate removal
    // via clustered cosine cliques, the meaning-level dedup exact/MinHash
    // passes cannot see. ORACLE-CHECKED via its invariant: every planted
    // exact copy (vec_id % 17 → +1000000) MUST drop — identical vectors
    // assign to the same cell regardless of the (engine-specific) KMeans
    // fit, cosine with the original is 1 ≥ tau, and the (centroid_sim,
    // id) tiebreak keeps the lower-id original — so n_planted_kept is
    // deterministically 0, independent of clustering. Survivor rule,
    // near-dup recall and determinism pinned by SimilaritySpec.
    "q_dd5_semdedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = e.filter(col("vec_id") % 17 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Similarity.semDedup(e.unionByName(planted), nClusters = 32, tau = 0.99)
        .agg(count(when(col("vec_id") >= 1000000, 1)).as("n_planted_kept"))
    }),

    // Text analysis: counts, ratios, quality, fingerprint, language ID.
    "q_txt_stats" -> ((s, dir) => {
      val txt = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        length(txt).as("char_count"),
        TextAnalysis.tokenCount(txt).as("token_count"),
        TextAnalysis.bpeishTokenCount(txt).as("bpeish_token_count"),
        round(TextAnalysis.stopwordRatio(txt), 4).as("stopword_ratio"),
        round(TextAnalysis.qualityScore(txt), 4).as("quality_score"),
        TextAnalysis.fingerprint(txt).as("fingerprint"),
        TextAnalysis.langId(txt).as("lang_pred"))
        .orderBy("doc_id")
    }),

    // End-to-end curation pipeline (the composed LLM-data flow the
    // individual operators exist for): language filter → quality-score
    // threshold → exact dedup → corpus stats, all in one lineage. Every
    // stage is deterministic and SQL-expressible, so the WHOLE chain is
    // oracle-checked — integer-summed quality (round-then-sum) keeps the
    // aggregate order-independent across engines.
    "q_curation_pipeline" -> ((s, dir) => {
      val txt = col("text")
      // integer quality via floor(x*1e4 + 0.5) — pure IEEE arithmetic,
      // bit-identical across engines. round(x, 4) is NOT: at a half
      // boundary Spark rounds the SHORTEST decimal repr (BigDecimal
      // .valueOf: 0.72625 → 0.7263) while DuckDB rounds the exact
      // binary value (0.724999… → 0.7262) — a real sf0.1 document hit
      // exactly this.
      val q4i = floor(TextAnalysis.qualityScore(txt) * 10000 + lit(0.5))
        .cast("long")
      val scored = t(s, dir, "documents").select(
        col("doc_id"), txt,
        TextAnalysis.langId(txt).as("lang"),
        q4i.as("q4i"),
        TextAnalysis.tokenCount(txt).as("toks"))
      val filtered = scored.filter(col("lang") === "en" && col("q4i") >= 5000)
      Dedup.exact(filtered).agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks").cast("long")).as("total_tokens"),
        sum(col("q4i")).as("sum_q4"))
    }),

    // Full curation chain (the north-star lineage composed end-to-end):
    // langid → quality gate → exact dedup → MinHash near-dup → SemDeDup,
    // with a per-stage ledger row. The WHOLE chain is oracle-checked, not
    // just planted counters, by configuring each approximate stage at its
    // deterministic operating point: MinHash at jaccardThreshold=1.0
    // removes exactly the shingle-SET-equality classes (identical sets →
    // identical signatures → same bucket in EVERY band, so recall is
    // exact; cap disabled), and SemDeDup at tau=0.99 removes exactly the
    // identical-embedding classes (planted copies; the corpus' max
    // non-identical cosine is ~0.51, measured at every SF). Plants:
    // +2e6 exact copies (die at exact dedup), +3e6 UPPERCASED copies
    // (distinct sha2 → survive exact; identical lowercased token shingles
    // → die at MinHash), +4e6 text variants sharing the original's
    // embedding (distinct text and shingles → survive both; identical
    // vector → same cell, cosine 1, id tiebreak → die at SemDeDup). Docs
    // without an embedding bypass the semantic stage (can't sem-dedup
    // what has no vector).
    // Incrementally-maintained curation (IncrementalCuration): the
    // langid → quality → exact-dedup → MinHash chain kept in step with
    // a MUTATING corpus at O(changed docs)/batch. History: all base
    // docs land (batch 1), then exact copies (+2e6 of %7) and
    // UPPERCASED copies (+3e6 of %5) arrive (batch 2 — every one
    // suppressed against STATE, not against a batch-mate), then a
    // delete purges class-singleton base docs. At jaccard=1.0 every
    // stage is deterministic, ids ascend across batches (min-id winner
    // == arrival winner), and deleted docs own no duplicates — so the
    // final kept TABLE equals the batch chain replayed over the final
    // corpus, which the oracle does stage-for-stage, per doc.
    "q_curation_incremental" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-curinc-").toString
      val d = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val src = VersionedTable(s, s"$root/docs")
      src.enableChangeFeed()
      val cfg = graft.ops.IncrementalCuration.Config(
        jaccardThreshold = 1.0, maxBucketSize = Int.MaxValue,
        numHashes = 16, bands = 4, numBuckets = 4)
      src.append(d)
      graft.ops.IncrementalCuration.sync(src, s"$root/ws", cfg)
      // ONE mixed slice: the duplicate deliveries AND the deletes land
      // before the second sync — purge and admission run in the same
      // batch (deleted ids own no duplicate classes, so the combined
      // slice still replays exactly as the batch chain)
      src.append(
        d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
        .unionByName(d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            upper(col("text")).as("text"))))
      src.delete(col("doc_id") % 11 === 3 &&
        col("doc_id") % 7 =!= 0 && col("doc_id") % 5 =!= 0)
      graft.ops.IncrementalCuration.sync(src, s"$root/ws", cfg)
      graft.ops.IncrementalCuration.keptTable(s, s"$root/ws").read
        .select(col("doc_id"), col("toks").cast("long").as("toks"),
          col("q4i"))
        .orderBy("doc_id")
    }),

    "q_curation_pipeline_full" -> ((s, dir) => {
      val txt = col("text")
      val d = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), txt)
      val corpus = d
        .unionByName(d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"), txt))
        .unionByName(d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 3000000).as("doc_id"),
            upper(txt).as("text")))
        .unionByName(d.filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 4000000).as("doc_id"),
            concat(txt, lit(" semantic clone variant")).as("text")))
      val filtered = corpus.select(col("doc_id"), txt,
          TextAnalysis.langId(txt).as("lang"),
          // floor(x*1e4 + 0.5), not round(x, 4): engine-exact integer
          // quality (see q_curation_pipeline — a real sf0.1 clone doc
          // sits on the 0.72625 half boundary where Spark and DuckDB
          // round() disagree)
          floor(TextAnalysis.qualityScore(txt) * 10000 + lit(0.5))
            .cast("long").as("q4i"),
          TextAnalysis.tokenCount(txt).as("toks"))
        .filter(col("lang") === "en" && col("q4i") >= 5000)
        .localCheckpoint() // plan truncation: 4 ledger aggs + 3 dedup
      val afterExact = Dedup.exact(filtered) // stages re-analyze the
        .localCheckpoint()                   // chain per action otherwise
      val minhashLosers = Dedup.minhashNearDupPairs(afterExact,
          jaccardThreshold = 1.0, maxBucketSize = Int.MaxValue)
        .select(col("doc_id_b").as("doc_id")).distinct()
      val afterMinhash = afterExact.join(minhashLosers, Seq("doc_id"),
          "left_anti")
        .localCheckpoint()
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("doc_id"), col("embedding"))
      val embAll = emb.unionByName(emb.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 4000000).as("doc_id"), col("embedding")))
      val withEmb = afterMinhash.join(embAll, Seq("doc_id"))
      val withoutEmb = afterMinhash.join(embAll.select("doc_id"),
        Seq("doc_id"), "left_anti")
      val afterSem = Similarity.semDedup(withEmb, nClusters = 32,
          tau = 0.99, idCol = "doc_id")
        .drop("embedding").unionByName(withoutEmb)
      def ledger(stage: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_docs"),
          sum(col("toks").cast("long")).as("total_tokens"),
          sum(col("q4i")).as("sum_q4"))
          .withColumn("stage", lit(stage))
      ledger("1_filtered", filtered)
        .unionByName(ledger("2_exact_dedup", afterExact))
        .unionByName(ledger("3_minhash_dedup", afterMinhash))
        .unionByName(ledger("4_semantic_dedup", afterSem))
        .select("stage", "n_docs", "total_tokens", "sum_q4")
        .orderBy("stage")
    }),

    // SQL entry surface: the adoption lifecycle — CONVERT hardlinks an
    // existing plain parquet dir into a version-0 table (zero-copy),
    // ANALYZE backfills stats sidecars onto the uncovered file-set,
    // a range read then prunes through them, and SHALLOW CLONE forks
    // the adopted table. Structural counts are DDL-determined; the data
    // aggregates replay from the raw parquet in DuckDB.
    "q_sql_convert" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft-sqlconv-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val plain = s"$wh/plain_nation"
      t(s, dir, "nation").coalesce(2).write.parquet(plain)
      val gsql = graft.tables.GraftSql(s, cat)
      val conv = gsql.sql(
        s"CONVERT TO GRAFT parquet.`$plain` AS bronze.nation").head()
      val analyzed = gsql.sql(
        "ANALYZE TABLE bronze.nation COMPUTE STATISTICS FOR COLUMNS n_nationkey")
        .head().getLong(0)
      gsql.sql("CREATE TABLE silver.nation_fork SHALLOW CLONE bronze.nation")
      val nRanged = cat.table("bronze", "nation")
        .readRange("n_nationkey", "5", "9").count()
      gsql.sql(s"""SELECT
        CAST(${conv.getLong(2)} AS BIGINT) AS n_file_sets,
        CAST($analyzed AS BIGINT) AS n_analyzed,
        CAST($nRanged AS BIGINT) AS n_ranged,
        (SELECT CAST(count(*) AS BIGINT) FROM silver_nation_fork)
          AS n_fork_rows,
        (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM silver_nation_fork)
          AS sum_fork_key""")
    }),

    // Similarity 1: brute-force cosine top-k against a query vector.
    "q_sim_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      // round BEFORE the top-k cut so Spark and the oracle select the
      // same rows when neighbors tie at 4 decimals (TakeOrderedAndProject
      // still applies — same plan shape as bruteForceTopK)
      Similarity.bruteForceCosine(e.filter(col("vec_id") =!= 0), q)
        .select(col("vec_id"), round(col("cosine_sim"), 4).as("sim4"))
        .orderBy(col("sim4").desc, col("vec_id").asc)
        .limit(10)
    }),

    // Similarity 2: LSH-bucketed near-dup pairs on planted duplicate
    // vectors. ORACLE-CHECKED via the exact-copy invariant: an identical
    // vector lands in the identical LSH bucket under ANY hyperplane set
    // and verifies at cosine 1 ≥ threshold, so the planted count is
    // seed-independent arithmetic DuckDB recomputes (bucket cap disabled
    // so the invariant holds at every SF). Near-dup recall pinned by
    // SimilaritySpec.
    "q_sim_neardup_pairs" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = e.filter(col("vec_id") % 13 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Similarity.embeddingNearDupPairs(e.unionByName(planted), dim = 64,
          threshold = 0.99, maxBucketSize = Int.MaxValue)
        .agg(count(when(col("id_b") === col("id_a") + 1000000, 1))
          .as("n_planted_found"))
    }),

    // ST3: latest-state-per-fixture derivation over the live-event shape.
    "q_st3_fixture_state" -> ((s, dir) =>
      graft.streaming.LiveEvents.latestFixtureState(eventsAsLiveEvents(s, dir))
        .select(col("fixture_id"), unix_millis(col("state_ts")).as("state_ts_ms"),
          col("last_event_type"), col("payload"))
        .orderBy("fixture_id")),

    // ST1+ST2+S8: availableNow file-stream ingest → checkpointed
    // foreachBatch merge into a versioned silver table, verified against
    // the batch equivalent.
    "q_st1_stream_ingest" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-stream-").toString
      val landing = s"$tmp/landing"; val cp = s"$tmp/cp"; val cp2 = s"$tmp/cp2"
      eventsAsLiveEvents(s, dir).filter(col("event_key").cast("long") % 5 === 0)
        .drop("updated_at").coalesce(4).write.json(landing)
      val bronze = VersionedTable(s, s"$tmp/bronze")
      graft.streaming.LiveEvents.ingestAvailableNow(s, landing, cp, bronze)
      val silver = VersionedTable(s, s"$tmp/silver")
      graft.streaming.LiveEvents.conformToSilver(s, bronze.dataGlob, cp2,
        silver)
      silver.read.groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // ST: streaming schema evolution — a field added mid-stream is rescued
    // into `_rescued_data` (Auto Loader rescuedDataColumn analog,
    // docs/backlog.md:70-74) and recoverable with get_json_object.
    "q_st6_rescued" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-rescue-").toString
      // the JSON writer omits null fields, so `extra_xg` appears only on
      // %3 rows — simulating a producer that added a field mid-stream
      eventsAsLiveEvents(s, dir).filter(col("event_key").cast("long") % 5 === 0)
        .drop("updated_at")
        .withColumn("extra_xg",
          when(col("event_key").cast("long") % 3 === 0,
            concat(lit("v"), col("event_key"))))
        .coalesce(4).write.json(s"$tmp/landing")
      val bronze = VersionedTable(s, s"$tmp/bronze")
      graft.streaming.LiveEvents.ingestWithRescueAvailableNow(
        s, s"$tmp/landing", s"$tmp/cp", bronze)
      bronze.read.filter(col("_rescued_data").isNotNull)
        .select(col("event_key"),
          get_json_object(col("_rescued_data"), "$.extra_xg").as("xg"))
        .orderBy("event_key")
    }),

    // W5: analytic window-function suite — lag/lead/ntile/cume_dist/rank
    // in one pass (two window specs share the o_custkey partition
    // shuffle).
    "q_w5_window_suite" -> ((s, dir) => {
      val byKey = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy("o_orderkey")
      val byPrice = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders").filter(col("o_custkey") < 200)
        .select(col("o_custkey"), col("o_orderkey"),
          lag("o_orderkey", 1).over(byKey).as("prev_key"),
          lead("o_orderkey", 1).over(byKey).as("next_key"),
          ntile(4).over(byKey).as("quartile"),
          round(cume_dist().over(byKey), 6).as("cd6"),
          rank().over(byPrice).as("price_rank"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // ST7: stream-stream interval join — purchases joined to same-user
    // views within 1 hour, both sides watermarked (bounded join state).
    // ONE landing file → one micro-batch, so the watermark cannot drop
    // rows mid-drain and the result equals the batch join (the oracle).
    "q_st7_stream_join" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-ssj-").toString
      eventsAsLiveEvents(s, dir)
        .filter(col("player_id").cast("long") < 300)
        // truncate to SECONDS before the JSON round-trip: raw event time
        // is ns-precision and JSON carries ms, so join membership at
        // interval boundaries would otherwise depend on which precision
        // each engine compared at; the oracle truncates identically
        .withColumn("event_ts", date_trunc("second", col("event_ts")))
        .drop("updated_at")
        .coalesce(1).write.json(s"$tmp/landing")
      val out = VersionedTable(s, s"$tmp/joined")
      // stream-stream joins spin up per-partition state stores on BOTH
      // sides; for this bounded drain 4 partitions cut ~6s of pure state
      // init (results identical — state partitioning is internal)
      withStatePartitions(s, 4) {
        graft.streaming.LiveEvents.runViewPurchaseJoinAvailableNow(
          s, s"$tmp/landing", s"$tmp/cp", out)
      }
      out.read.select(col("user_id").cast("long").as("user_id"),
          col("purchase_key").cast("long").as("purchase_key"),
          col("view_key").cast("long").as("view_key"),
          unix_millis(col("purchase_ts")).as("purchase_ms"),
          unix_millis(col("view_ts")).as("view_ms"))
        .orderBy("user_id", "purchase_key", "view_key")
    }),

    // ST8: a versioned table consumed AS a stream (GraftTableSource —
    // the Delta streaming-source analog): snapshot first batch, then
    // version-bounded incremental batches through one checkpoint, landed
    // exactly-once (foreachBatch txn markers) in a sink table. The
    // oracle is the full relation — every row must arrive exactly once.
    "q_st8_table_stream" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-st8-").toString
      val src = VersionedTable(s, s"$tmp/src")
      val n = t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
      src.append(n.filter(col("n_regionkey") <= 1))
      def drain(): Unit = {
        val q = s.readStream.format("graft-table").load(s"$tmp/src")
          .writeStream.option("checkpointLocation", s"$tmp/cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, id: Long) =>
            VersionedTable(s, s"$tmp/sink").append(b, txn = Some(("st8", id)))
            ()
          }.start()
        q.awaitTermination()
      }
      drain() // snapshot batch
      src.append(n.filter(col("n_regionkey") === 2))
      src.append(n.filter(col("n_regionkey") >= 3))
      drain() // incremental batches: only the two new file-sets
      VersionedTable(s, s"$tmp/sink").read
        .select(col("n_nationkey").cast("bigint").as("n_nationkey"),
          col("n_name"),
          col("n_regionkey").cast("bigint").as("n_regionkey"))
        .orderBy("n_nationkey")
    }),

    // ST9: Update-mode streaming aggregation landed through the
    // graft-table SINK with mergeKeys (Delta's foreachBatch-merge idiom
    // as a sink option): each micro-batch carries the CHANGED groups'
    // cumulative aggregates, merged by key into the table — so the final
    // table is one row per key equal to the batch GROUP BY over all the
    // data, however the rows were split across batches. Region 1
    // straddles both landing files, so the second drain genuinely
    // UPDATES its row (not just inserts new keys).
    "q_st9_update_sink" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-st9-").toString
      val n = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_regionkey").cast("long").as("n_regionkey"))
      n.filter(col("n_regionkey") <= 1 && col("n_nationkey") % 2 === 0)
        .coalesce(1).write.json(s"$tmp/landing")
      // state partitions bake into the checkpoint at FIRST query start
      // from spark.sql.shuffle.partitions — size them to the KEYSPACE
      // (5 region keys), not the session's scan parallelism: a stateful
      // aggregation pays per-partition state-store commit/maintenance
      // every micro-batch, so 32 near-empty stores were pure overhead
      // (the q_st9 task-time inflation the round-11 bench flagged). At
      // scale the same knob goes UP with the keyspace.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      def drain(): Unit = {
        val q = s.readStream.schema("n_nationkey BIGINT, n_regionkey BIGINT")
          .json(s"$tmp/landing")
          .groupBy("n_regionkey")
          .agg(count(lit(1)).as("n_nations"), sum("n_nationkey").as("key_sum"))
          .writeStream.format("graft-table")
          .outputMode("update")
          .option("checkpointLocation", s"$tmp/cp")
          .option("mergeKeys", "n_regionkey")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(s"$tmp/agg")
        q.awaitTermination()
      }
      try {
        drain()
        n.filter(col("n_regionkey") > 1 || col("n_nationkey") % 2 === 1)
          .coalesce(1).write.mode("append").json(s"$tmp/landing")
        drain()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      VersionedTable(s, s"$tmp/agg").read
        .select(col("n_regionkey"), col("n_nations"), col("key_sum"))
        .orderBy("n_regionkey")
    }),

    // ST10: APPLY CHANGES INTO (DLT) — a CDF stream applied to a
    // replica table through the graft-table sink's applyChanges mode:
    // per micro-batch, each key's latest change wins, deletes become
    // merge tombstones, and one bucket-COW merge lands everything
    // exactly-once. Two sync rounds split the DML lifecycle so the
    // second proves incremental convergence, not a fresh rebuild; the
    // oracle is the equivalent set algebra over nation.
    "q_st10_apply_changes" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-st10-").toString
      val src = VersionedTable(s, s"$tmp/src")
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
      src.enableChangeFeed()
      src.append(nat)                                                  // v0
      src.merge(nat.filter(col("n_regionkey") === 1)                   // v1
        .withColumn("n_name", upper(col("n_name"))), Seq("n_nationkey"))
      src.delete(col("n_regionkey") === 2)                             // v2
      def sync(): Unit = {
        val q = s.readStream.format("graft-table")
          .option("readChangeFeed", "true").load(s"$tmp/src")
          .writeStream.format("graft-table")
          .option("checkpointLocation", s"$tmp/cp")
          .option("mergeKeys", "n_nationkey")
          .option("applyChanges", "true")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(s"$tmp/replica")
        q.awaitTermination()
      }
      sync()
      src.merge(nat.filter(col("n_regionkey") === 3)                   // v3
        .withColumn("n_name", upper(col("n_name"))), Seq("n_nationkey"))
      src.delete(col("n_regionkey") === 4)                             // v4
      sync()
      VersionedTable(s, s"$tmp/replica").read
        .select(col("n_nationkey"), col("n_name").as("n_name_final"),
          col("n_regionkey"))
        .orderBy("n_nationkey")
    }),

    // ST12: continuous MV maintenance — the graft-table sink's
    // `aggregate` mode consumes a CDF stream and lands each batch as
    // SIGNED deltas into the aggregate table (streaming form of REFRESH
    // MATERIALIZED VIEW's cdf path; O(changed rows) per trigger,
    // exactly-once via the markered merge). The chain mixes appends, a
    // reprice UPDATE, a group-emptying DELETE across two sync rounds;
    // the oracle recomputes the final aggregate from surviving rows —
    // integer-exact, so any double-count or missed retraction breaks
    // the hash.
    "q_st12_mv_stream" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-st12-").toString
      val src = VersionedTable(s, s"$tmp/src")
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_orderstatus"))
      src.enableChangeFeed()
      src.append(o.filter(col("o_orderkey") % 2 === 0))                // v0
      def sync(): Unit = {
        val q = s.readStream.format("graft-table")
          .option("readChangeFeed", "true").load(s"$tmp/src")
          .writeStream.format("graft-table")
          .option("checkpointLocation", s"$tmp/cp")
          .option("mergeKeys", "o_orderstatus")
          .option("aggregate",
            "sum:o_orderkey:sum_key;count:*:cnt;count:o_orderkey:cnt_key")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(s"$tmp/mv")
        q.awaitTermination()
      }
      sync()
      src.append(o.filter(col("o_orderkey") % 2 === 1))                // v1
      src.update(Map("o_orderstatus" -> lit("X")),
        col("o_orderkey") % 10 === 3)                                  // v2
      src.delete(col("o_orderkey") <= 999)                             // v3
      sync()
      VersionedTable(s, s"$tmp/mv").read
        .select("o_orderstatus", "sum_key", "cnt", "cnt_key")
        .orderBy("o_orderstatus")
    }),

    // ST13: the sink's INSERT-ONLY aggregate path — min/max and an hll
    // sketch column maintained per trigger from an append-only change
    // stream (the combine path: least/greatest + register union; no
    // signed deltas, no rescans). Two drains pin the cross-batch
    // merge; the estimate is checked against the exact distinct count
    // (±5%), min/max/cnt are exact oracle columns.
    "q_st13_sketch_sink" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-st13-").toString
      val src = VersionedTable(s, s"$tmp/src")
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag").as("flag"),
        col("l_orderkey").cast("long").as("okey"),
        floor(col("l_extendedprice")).cast("long").as("price"))
      src.enableChangeFeed()
      src.append(li.filter(col("okey") % 2 === 0))
      def sync(): Unit = {
        val q = s.readStream.format("graft-table")
          .option("readChangeFeed", "true").load(s"$tmp/src")
          .writeStream.format("graft-table")
          .option("checkpointLocation", s"$tmp/cp")
          .option("mergeKeys", "flag")
          .option("aggregate",
            "min:price:min_p;max:price:max_p;count:*:cnt;hll:okey:du")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(s"$tmp/mv")
        q.awaitTermination()
      }
      sync()
      src.append(li.filter(col("okey") % 2 =!= 0))
      sync()
      val exact = src.read.groupBy("flag")
        .agg(countDistinct("okey").as("exact_distinct"))
      VersionedTable(s, s"$tmp/mv").read
        .selectExpr("flag", "min_p", "max_p", "cnt",
          "hll_sketch_estimate(du) AS est")
        .join(exact, Seq("flag"))
        .select(col("flag"), col("min_p"), col("max_p"), col("cnt"),
          col("exact_distinct"),
          (abs(col("est") / col("exact_distinct") - 1.0) <= 0.05)
            .as("estimate_ok"))
        .orderBy("flag")
    }),

    // DD9: fuzzy dedup by edit distance — min-shingle-blocked candidates
    // verified with the BANDED levenshtein built-in (O(k·min(|a|,|b|))
    // per pair, not O(|a||b|)). Plants: a 'Z'-prefixed variant arm at
    // distance 1. The oracle mirrors the blocking AND DuckDB's own
    // levenshtein, so candidates and distances are both hash-checked.
    "q_dd9_edit_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val variants = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(lit("Z"), col("text")).as("text"))
      graft.ops.Dedup.editDistancePairs(docs.unionByName(variants),
          maxDistance = 2)
        .orderBy("doc_id_a", "doc_id_b")
    }),

    // M16: named snapshot tags (Iceberg tags; Delta has no analog) —
    // the "corpus release a model trained on" pin. The chain tags the
    // original snapshot, overwrites twice, vacuums to 1 retained
    // version — the UNTAGGED intermediate's files reclaim, while the
    // tagged release must stay byte-readable past the retention cliff.
    // The oracle replays both snapshots' aggregates from raw parquet;
    // the reclaimed/survived facts ride as hashed literals.
    "q_m16_tags" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-tags-").toString
      val tbl = VersionedTable(s, s"$tmp/t")
      val n = t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("k"), col("n_name"))
      tbl.append(n.filter(col("k") < 10))                        // v0
      tbl.createTag("corpus-v1")
      tbl.overwrite(n.filter(col("k") < 15))                     // v1 untagged
      tbl.overwrite(n)                                           // v2 head
      val reclaimed = tbl.vacuum(retainVersions = 1)
      val tagged = tbl.readTag("corpus-v1")
        .agg(count(lit(1)).as("n0"), sum("k").as("sum0")).first()
      tbl.read.agg(count(lit(1)).as("n_now"), sum("k").as("sum_now"))
        .withColumn("n0", lit(tagged.getLong(0)))
        .withColumn("sum0", lit(tagged.getLong(1)))
        .withColumn("reclaimed_untagged", lit(reclaimed.nonEmpty))
    }),

    // Iceberg-style partition evolution (metadata-only SET PARTITIONED
    // BY): a parity-partitioned table evolves to region-key layout;
    // the old arm keeps its dirs (reads union mixed layouts), the next
    // append lays out by the new key, and OPTIMIZE migrates everything
    // it rewrites — never a synchronous table rewrite. The probe
    // aggregates before AND after the migration compaction, so a row
    // lost or doubled by the layout change breaks the hash.
    "q_m17_partition_evolution" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-pevo-").toString
      val tbl = VersionedTable(s, s"$tmp/t")
      val n = t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("k"),
        col("n_name").as("name"),
        col("n_regionkey").cast("long").as("rk"))
        .withColumn("parity", pmod(col("k"), lit(2)))
      tbl.append(n.filter(col("k") < 10), partitionBy = Seq("parity"))
      tbl.evolvePartitionLayout(Seq("rk"))
      tbl.append(n.filter(col("k") >= 10), partitionBy = Seq("rk"))
      val pre = tbl.read.groupBy("rk")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"))
      tbl.compact() // migrates every surviving file-set to rk layout
      tbl.read.groupBy("rk")
        .agg(count(lit(1)).as("n2"), sum("k").as("sum_k2"))
        .join(pre, Seq("rk"))
        .withColumn("layout", lit(tbl.partitionLayout.mkString(",")))
        .orderBy("rk")
    }),

    // M3+ pin-aware retention: a registered consumer's floor (SHOW
    // PINS) holds VACUUM back over the suffix it still reads; the
    // IGNORE PINS DRY RUN previews what the pin is protecting;
    // advancing the pin releases it; DROP PIN removes an abandoned
    // consumer. Every count is deterministic from the DDL (two appends
    // fold to one set under OPTIMIZE → exactly the two pre-compaction
    // sets are at risk), and the data reads back identical.
    "q_m19_pin_vacuum" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft-pinvac-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val n = t(s, dir, "nation")
      val tbl = cat.table("silver", "pn")
      tbl.append(n.filter(col("n_regionkey") <= 1))                 // v0
      tbl.append(n.filter(col("n_regionkey") > 1))                  // v1
      val gsql = graft.tables.GraftSql(s, cat)
      tbl.setPin("mv:/gold/rollup", 0L)
      gsql.sql("OPTIMIZE silver.pn")                                // v2
      val nPins = gsql.sql("SHOW PINS silver.pn").count()
      val heldBack =
        gsql.sql("VACUUM silver.pn RETAIN 1 VERSIONS").head().getLong(0)
      val atRisk = gsql.sql(
        "VACUUM silver.pn RETAIN 1 VERSIONS IGNORE PINS DRY RUN").count()
      val v0Live = tbl.snapshotLive(0L)
      tbl.setPin("mv:/gold/rollup", 2L) // the consumer caught up
      val reclaimed =
        gsql.sql("VACUUM silver.pn RETAIN 1 VERSIONS").head().getLong(0)
      gsql.sql("ALTER TABLE silver.pn DROP PIN 'mv:/gold/rollup'")
      val pinsAfter = gsql.sql("SHOW PINS silver.pn").count()
      gsql.sql(s"""SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM silver_pn) AS n_rows,
        (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM silver_pn) AS sum_key,
        CAST($nPins AS BIGINT) AS n_pins,
        CAST($heldBack AS BIGINT) AS n_reclaimed_under_pin,
        CAST($atRisk AS BIGINT) AS n_at_risk_ignoring_pins,
        $v0Live AS pinned_version_live,
        CAST($reclaimed AS BIGINT) AS n_reclaimed_after_advance,
        CAST($pinsAfter AS BIGINT) AS n_pins_after_drop""")
    }),

    // Pin observability at warehouse scope: the catalog-wide SHOW PINS
    // relation (every table's consumer floors with how far behind the
    // head each sits) plus the VACUUM DRY RUN DETAIL decomposition
    // (per-path reclaimable/pin-held status naming the MINIMUM-floor
    // blocking consumer) — the what-blocks-reclamation view an operator
    // reads instead of probing tables one by one. Ages are wall-clock
    // and hash as non-negativity; everything else is deterministic
    // from the DDL.
    "q_m20_pin_observability" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft-pinobs-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val n = t(s, dir, "nation")
      val tbl = cat.table("silver", "po")
      tbl.append(n.filter(col("n_regionkey") <= 1))                 // v0
      tbl.append(n.filter(col("n_regionkey") > 1))                  // v1
      val other = cat.table("gold", "po_agg")
      other.append(t(s, dir, "region").select("r_regionkey", "r_name"))
      val gsql = graft.tables.GraftSql(s, cat)
      gsql.sql("OPTIMIZE silver.po")                                // v2
      tbl.setPin("mv:/gold/stale", 0L)  // abandoned consumer
      tbl.setPin("mv:/gold/live", 2L)   // at the head
      other.setPin("cdc:/consumers/one", 0L)
      val pins = gsql.sql("SHOW PINS").select(
        lit("pin").as("kind"), col("table").as("subject"),
        col("pin"), col("version"), col("latest_version"),
        col("behind"), (col("age_sec") >= 0).as("ok"))
      val detail = gsql
        .sql("VACUUM silver.po RETAIN 1 VERSIONS DRY RUN DETAIL")
        .groupBy("status", "blocking_pin", "pin_version")
        .agg(count(lit(1)).as("n"))
        .select(lit("vacuum_detail").as("kind"),
          col("status").as("subject"),
          coalesce(col("blocking_pin"), lit("")).as("pin"),
          coalesce(col("pin_version"), lit(-1L)).as("version"),
          lit(-1L).as("latest_version"), col("n").as("behind"),
          lit(true).as("ok"))
      pins.unionByName(detail).orderBy("kind", "subject", "pin")
    }),

    // Stale-pin policy: `VACUUM … FORCE EXPIRE PINS OLDER THAN n <unit>`
    // — the operator tool for a DEAD consumer whose abandoned pin would
    // otherwise hold the retention suffix (at warehouse scale, the
    // storage) hostage forever. Explicit (refuses without an age
    // bound), loud (one row per expired pin), audited (an `expire_pins`
    // history commit that CDF classifies no-change). The live
    // consumer's pin survives; the freed suffix reclaims in the same
    // statement.
    "q_m21_pin_expire" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft-pinexp-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val n = t(s, dir, "nation")
      val tbl = cat.table("silver", "pe")
      tbl.append(n.filter(col("n_regionkey") <= 1))                 // v0
      tbl.append(n.filter(col("n_regionkey") > 1))                  // v1
      val gsql = graft.tables.GraftSql(s, cat)
      gsql.sql("OPTIMIZE silver.pe")                                // v2
      tbl.setPinAt("mv:/gold/dead", 0L,
        System.currentTimeMillis() - 3L * 3600 * 1000)              // 3h stale
      tbl.setPin("mv:/gold/live", 2L)                               // current
      val refused = scala.util.Try(
        gsql.sql("VACUUM silver.pe FORCE EXPIRE PINS"))
        .failed.toOption.exists(_.getMessage.contains("OLDER THAN"))
      val heldBack =
        gsql.sql("VACUUM silver.pe RETAIN 1 VERSIONS").head().getLong(0)
      val exp = gsql.sql("VACUUM silver.pe RETAIN 1 VERSIONS " +
        "FORCE EXPIRE PINS OLDER THAN 1 HOURS")
        .select("expired_pin", "pin_version", "n_expired", "n_reclaimed")
        .head()
      val lastAction = tbl.history.last.action
      val pinsLeft = gsql.sql("SHOW PINS silver.pe").count()
      gsql.sql(s"""SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM silver_pe) AS n_rows,
        (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM silver_pe) AS sum_key,
        $refused AS refused_without_age,
        CAST($heldBack AS BIGINT) AS n_reclaimed_under_dead_pin,
        '${exp.getString(0)}' AS expired_pin,
        CAST(${exp.getLong(1)} AS BIGINT) AS expired_floor,
        CAST(${exp.getLong(2)} AS BIGINT) AS n_expired,
        CAST(${exp.getLong(3)} AS BIGINT) AS n_reclaimed_after_expire,
        '$lastAction' AS last_action,
        CAST($pinsLeft AS BIGINT) AS n_pins_left""")
    }),

    // Temperature-scaled mixture sampling (α=0.5 multilingual recipe):
    // per-domain keep-rates derived from corpus counts by sqrt scaling,
    // computed in EXACT integer arithmetic (BigInt here, HUGEINT in the
    // oracle — sqrt is the one IEEE-correctly-rounded irrational step,
    // so both engines derive bit-identical thresholds); tail domains
    // upweight, the head downweights, oversized shares clamp to
    // keep-all. Oracle replays thresholds AND kept counts.
    "q_mix_temperature" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"))
      val counts = docs.groupBy("source").count()
        .as[(String, Long)].collect().toMap
      val budget = counts.values.sum / 3
      val thr = graft.ops.Sampling.sqrtTemperatureThresholds(counts, budget)
      val kept = graft.ops.Sampling
        .temperatureMixtureSample(docs, "doc_id", "source", counts, budget)
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
      counts.toSeq.map { case (d, n) => (d, n, thr(d).toLong) }
        .toDF("source", "n_total", "threshold")
        .join(kept, Seq("source"), "left")
        .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
        .orderBy("source")
    }),

    // Deterministic shuffle-shard: the corpus in md5(seed:id) order cut
    // into contiguous equal shards — the dataloader layout every
    // pretraining pipeline materializes last. Engine-portable by
    // construction: the oracle replays the FULL per-document assignment
    // (key, shard, position) in DuckDB via the same md5 window.
    "q_shard_assign" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      graft.ops.Sharding.assignShards(docs, "doc_id", "graft",
          numShards = 8)
        .select(col("doc_id"), col("shuffle_key"), col("shard"),
          col("shard_pos"))
        .orderBy("doc_id")
    }),

    // MV5: the rollup + filter faces of the routing rule. The MV is
    // grouped on (returnflag, linestatus); the served queries group on
    // a SUBSET (returnflag) with a group-column filter, plus a global
    // aggregate — both must re-aggregate the MV, never scan the source.
    // Flags encode the optimized plans' leaf paths into the hashed
    // result; values oracle against a raw-parquet recompute.
    "q_mv5_rollup" -> ((s, dir) => {
      import graft.plans.MvRewrite
      val root = Files.createTempDirectory("graft-mvru-").toString
      val src = VersionedTable(s, s"$root/src")
      val mv = VersionedTable(s, s"$root/mv")
      src.append(t(s, dir, "lineitem").select(
        col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        col("l_quantity").cast("long").as("qty")))
      mv.overwrite(src.read.groupBy("rf", "ls").agg(
        sum("qty").as("s_q"), count(lit(1)).as("c_all"),
        min("qty").as("mn_q"), max("qty").as("mx_q"),
        count("qty").as("c_q")))
      MvRewrite.register(src, mv, Seq("rf", "ls"), Seq(
        MvRewrite.AggSpec("sum", "qty", "s_q"),
        MvRewrite.AggSpec("count", "*", "c_all"),
        MvRewrite.AggSpec("min", "qty", "mn_q"),
        MvRewrite.AggSpec("max", "qty", "mx_q"),
        MvRewrite.AggSpec("count", "qty", "c_q")))
      MvRewrite.install(s)
      def fromMv(df: DataFrame): Boolean = {
        val ps = MvRewrite.scannedPaths(df)
        ps.nonEmpty && ps.forall(_.contains("/mv"))
      }
      try {
        val rollup = src.read.filter(col("ls") === "F").groupBy("rf").agg(
          sum("qty").as("sum_qty"), count(lit(1)).as("n_rows"),
          min("qty").as("min_qty"), max("qty").as("max_qty"),
          avg("qty").as("avg_qty"))
        val global = src.read.agg(sum("qty").as("g_sum"),
          count(lit(1)).as("g_rows"))
        val globalRow = global.first()
        rollup
          .withColumn("g_sum", lit(globalRow.getLong(0)))
          .withColumn("g_rows", lit(globalRow.getLong(1)))
          .withColumn("rollup_from_mv", lit(fromMv(rollup)))
          .withColumn("global_from_mv", lit(fromMv(global)))
          .orderBy("rf")
      } finally MvRewrite.deregister(mv)
    }),

    // CDF across a column rename: one feed read spans the old-name era
    // (v0 inserts, physical n_name), the metadata-only rename (v1, no
    // change rows), and the new-name era (v2 updates, v3 deletes) — all
    // surfaced under the CURRENT name. Delta's CDF refuses reads across
    // this boundary; the per-arm mapping projection makes it exact.
    "q_cdf_rename_feed" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-cdfr-").toString
      val tbl = VersionedTable(s, s"$tmp/t")
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
      tbl.enableChangeFeed()
      tbl.merge(nat, Seq("n_nationkey"))                               // v0
      tbl.renameColumn("n_name", "nation_name")                       // v1
      tbl.merge(nat.filter(col("n_regionkey") === 1)                   // v2
        .withColumn("n_name", concat(col("n_name"), lit("!")))
        .withColumnRenamed("n_name", "nation_name"), Seq("n_nationkey"))
      tbl.delete(col("n_regionkey") === 2)                             // v3
      tbl.readChangeFeed(-1)
        .select(col("_commit_version").as("cv"),
          col("_change_type").as("ct"),
          col("n_nationkey"), col("nation_name"), col("n_regionkey"))
        .orderBy("cv", "ct", "n_nationkey")
    }),

    // SQL MERGE ... WHEN MATCHED THEN DELETE: delete-by-source through
    // the tombstone merge path — matched keys (region 2, by key list)
    // vanish, unmatched source keys are no-ops, and a replay deletes
    // nothing further (idempotence is part of the oracle: the query
    // runs the statement twice).
    "q_sql_merge_delete" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-mdl-").toString
      val tbl = VersionedTable(s, s"$tmp/t")
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
      tbl.merge(nat, Seq("n_nationkey"), numBuckets = 4)
      nat.filter(col("n_regionkey") === 2).select("n_nationkey")
        .union(s.range(9000, 9003).select(col("id").as("n_nationkey")))
        .createOrReplaceTempView("mdl_src")
      val sql = graft.tables.GraftSql(s)
      val stmt = s"""MERGE INTO graft.`$tmp/t` AS t USING mdl_src AS s
        ON t.n_nationkey = s.n_nationkey WHEN MATCHED THEN DELETE"""
      sql.sql(stmt)
      sql.sql(stmt) // replay: tombstones match nothing now
      tbl.read
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy("n_nationkey")
    }),

    // SQL MERGE with conditional / column-level clauses (Delta's full
    // grammar): first-match per row — region-2 matches delete, the
    // remaining matches take a column-level update (only n_name
    // rewrites, and only for region 1 via its guard), and of the
    // shifted unmatched source rows only region 0 passes the insert
    // guard (with a computed value and a NULL-filled unlisted column
    // exercised via n_regionkey being listed).
    "q_sql_merge_conditional" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-mcd-").toString
      val tbl = VersionedTable(s, s"$tmp/t")
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
      tbl.merge(nat, Seq("n_nationkey"), numBuckets = 4)
      nat.select(col("n_nationkey").as("src_key"), col("n_name").as("src_name"),
          col("n_regionkey").as("src_region"))
        .union(nat.filter(col("n_regionkey") <= 1)
          .select((col("n_nationkey") + 100).as("src_key"),
            col("n_name").as("src_name"),
            col("n_regionkey").as("src_region")))
        .createOrReplaceTempView("mcd_src")
      graft.tables.GraftSql(s).sql(
        s"""MERGE INTO graft.`$tmp/t` AS t USING mcd_src AS s
            ON t.n_nationkey = s.src_key
            WHEN MATCHED AND s.src_region = 2 THEN DELETE
            WHEN MATCHED AND t.n_regionkey = 1 THEN
              UPDATE SET n_name = upper(s.src_name)
            WHEN NOT MATCHED AND s.src_region = 0 THEN
              INSERT (n_nationkey, n_name, n_regionkey)
              VALUES (s.src_key, s.src_name || '_new', s.src_region)""")
      tbl.read
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy("n_nationkey")
    }),

    // SQL MERGE ... WHEN NOT MATCHED BY SOURCE (Delta 2.3's clause):
    // target rows with no source match take their own guarded
    // update/delete chain — the merge becomes a full-table pass, the
    // same cost Delta pays for this clause.
    "q_sql_merge_by_source" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-mbs-").toString
      val tbl = VersionedTable(s, s"$tmp/t")
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
      tbl.merge(nat, Seq("n_nationkey"), numBuckets = 4)
      nat.filter(col("n_regionkey") <= 1)
        .select(col("n_nationkey").as("src_key"), col("n_name").as("src_name"))
        .createOrReplaceTempView("mbs_src")
      graft.tables.GraftSql(s).sql(
        s"""MERGE INTO graft.`$tmp/t` AS t USING mbs_src AS s
            ON t.n_nationkey = s.src_key
            WHEN MATCHED THEN UPDATE SET n_name = lower(s.src_name)
            WHEN NOT MATCHED BY SOURCE AND t.n_regionkey = 4 THEN DELETE
            WHEN NOT MATCHED BY SOURCE THEN UPDATE SET n_name = 'stale'""")
      tbl.read
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy("n_nationkey")
    }),

    // SQL RENAME COLUMN: metadata-only column mapping (Delta
    // column-mapping analog). Data straddles the rename — pre-rename
    // file-sets carry the old physical name, post-rename sets the new
    // one — and the read must fold them into ONE column. The two
    // boolean witnesses pin time travel: version 0 still shows the old
    // name, not the new one.
    "q_sql_rename_col" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-rnc-").toString
      val tbl = VersionedTable(s, s"$tmp/t")
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
      tbl.append(nat.filter(col("n_regionkey") <= 2))                // v0
      graft.tables.GraftSql(s).sql(
        s"ALTER TABLE graft.`$tmp/t` RENAME COLUMN n_name TO nation_name")
      tbl.append(nat.filter(col("n_regionkey") > 2)                  // v2
        .withColumnRenamed("n_name", "nation_name"))
      val v0 = tbl.readVersion(0).columns
      tbl.read
        .select(col("n_nationkey"), col("nation_name"), col("n_regionkey"))
        .withColumn("v0_has_old_name", lit(v0.contains("n_name")))
        .withColumn("v0_has_new_name", lit(v0.contains("nation_name")))
        .orderBy("n_nationkey")
    }),

    // SQL DROP COLUMN: the mapping's other half — a scratch column is
    // dropped metadata-only; pre-drop file-sets still physically carry
    // it but every read projects it away, while time travel to version
    // 0 still shows it. Witnesses pin both directions.
    "q_sql_drop_col" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-dpc-").toString
      val tbl = VersionedTable(s, s"$tmp/t")
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
      tbl.append(nat.filter(col("n_regionkey") <= 2)
        .withColumn("scratch", col("n_nationkey") * 7))              // v0
      graft.tables.GraftSql(s).sql(
        s"ALTER TABLE graft.`$tmp/t` DROP COLUMN scratch")
      tbl.append(nat.filter(col("n_regionkey") > 2))                 // v2
      val v0 = tbl.readVersion(0).columns
      tbl.read
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .withColumn("v0_had_scratch", lit(v0.contains("scratch")))
        .withColumn("now_has_scratch",
          lit(tbl.read.columns.contains("scratch")))
        .orderBy("n_nationkey")
    }),

    // ML1: feature materialization — windows over the player×gameweek
    // grain + broadcast dim joins (docs/backlog.md:84-89), phrased over a
    // deterministic events→history mapping so DuckDB can oracle it.
    "q_ml1_features" -> ((s, dir) =>
      mlFeatures(s, dir)
        .select(col("player_id"), col("team_id"), col("gameweek_id"),
          col("minutes"), col("points"),
          round(col("form_score"), 4).as("form_score4"),
          round(col("minutes_risk"), 4).as("minutes_risk4"),
          col("now_cost_tenths_million"),
          round(col("fixture_difficulty"), 4).as("fixture_difficulty4"),
          col("target_points_next_3_gws"))
        .orderBy("player_id", "gameweek_id")),

    // ML2: GBT points regressor on the ML1 features (docs/backlog.md:90-93)
    // — deterministic seed; metrics row (rows-only: model training is not
    // SQL-expressible; pinned by PointsSpec).
    "q_ml2_gbt_points" -> ((s, dir) => {
      val t = graft.ml.Points.trainGBT(mlFeatures(s, dir), maxIter = 5)
      graft.ml.Points.metricsRow(s, t)
        .select(col("n_train"), col("n_test"), col("num_trees"), col("depth"),
          round(col("rmse"), 2).as("rmse2"), round(col("r2"), 2).as("r2_2"))
    }),

    // ML2b: MLflow-style run tracking — two real (tiny) GBT fits logged to
    // a versioned ml_runs table, one of them re-logged (replay must be a
    // txn-ledger no-op, not a third row). The projected ledger columns are
    // fully deterministic: run_id is md5 of the canonical param string
    // (recomputed by the oracle), num_trees == max_iter for GBT. Metrics
    // (rmse/r2/splits) stay IN the table but out of the oracle projection
    // — model training isn't SQL-expressible (same reason q_ml2 is
    // rows-only).
    "q_ml2_runs" -> ((s, dir) => {
      // persist: the window/join feature pipeline feeds BOTH tiny fits
      val feats = mlFeatures(s, dir).filter(col("player_id") % 7 === 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val root = Files.createTempDirectory("graft-mlruns-").toString
      val runs = VersionedTable(s, s"$root/ml_runs")
      val t1 = graft.ml.Points.trainGBT(feats, seed = 42L, maxIter = 2)
      val t2 = graft.ml.Points.trainGBT(feats, seed = 7L, maxIter = 1)
      graft.ml.Points.logRun(runs, t1, seed = 42L, maxIter = 2)
      graft.ml.Points.logRun(runs, t2, seed = 7L, maxIter = 1)
      graft.ml.Points.logRun(runs, t1, seed = 42L, maxIter = 2) // replay
      runs.read
        .select("run_id", "seed", "max_iter", "depth", "num_trees")
        .orderBy("max_iter")
    }),

    // ML2 artifacts: MLflow-style model-binary logging — the trained
    // forest persists under the artifact store keyed by the
    // content-derived run id, the ledger row records the URI, and the
    // RELOADED model predicts identically to the in-memory one
    // (reload_matches). run_id is plain md5 of the canonical param
    // string, so the oracle recomputes it; re-logging replays as a txn
    // no-op (n_rows pins it).
    "q_ml2_artifacts" -> ((s, dir) => {
      val feats = mlFeatures(s, dir).filter(col("player_id") % 7 === 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val root = Files.createTempDirectory("graft-mlart-").toString
      val artifacts = VersionedTable(s, s"$root/ml_artifacts")
      val t1 = graft.ml.Points.trainGBT(feats, seed = 42L, maxIter = 2)
      graft.ml.Points.logArtifact(artifacts, s"$root/store", t1,
        seed = 42L, maxIter = 2)
      graft.ml.Points.logArtifact(artifacts, s"$root/store", t1,
        seed = 42L, maxIter = 2) // replay: no second row
      val id = graft.ml.Points.runId(42L, 2, 4)
      val reloaded = graft.ml.Points.loadModel(artifacts, id)
      val probe = new org.apache.spark.ml.feature.VectorAssembler()
        .setInputCols(graft.ml.Points.FeatureCols).setOutputCol("features")
        .transform(feats)
      val want = t1.model.transform(probe).select("prediction")
        .as[Double](org.apache.spark.sql.Encoders.scalaDouble)
        .collect().toSeq
      val got = reloaded.transform(probe).select("prediction")
        .as[Double](org.apache.spark.sql.Encoders.scalaDouble)
        .collect().toSeq
      feats.unpersist()
      artifacts.read
        .select(col("run_id"),
          (col("n_files") > 0 && col("total_bytes") > 0).as("has_model"))
        .withColumn("reload_matches", lit(got == want))
        .withColumn("n_rows", lit(artifacts.read.count()))
    }),

    // ML3 (domain form): the transfer recommender end-to-end on synthetic
    // FPL data (rows-only; constraint semantics pinned by GoldSpec).
    "q_fpl_recommend" -> ((s, dir) => {
      val env = graft.fpl.Bronze.envelope(
        graft.fpl.Bronze.payloadRows(s, Seq(
          (java.sql.Timestamp.valueOf("2025-08-12 06:15:00"),
            "test://bootstrap", 200,
            graft.fpl.SampleData.bootstrapJson(nTeams = 4, playersPerTeam = 5)))),
        runId = "bench")
      val dimPlayer = graft.fpl.Gold.dimPlayer(
        graft.fpl.Silver.players(graft.fpl.Silver.parseBootstrap(env)))
      graft.fpl.Gold.factTransferRecommendation(dimPlayer,
        squadIds = Seq(1, 2, 3, 6, 7, 11), bankTenths = 15,
        runId = "bench", snapshotDate = java.sql.Date.valueOf("2025-08-12"),
        createdAt = java.sql.Timestamp.valueOf("2025-08-12 06:15:00"))
        .select("out_player_id", "in_player_id", "expected_points_delta",
          "cost_delta_tenths_million", "constraint_flags")
    }),

    // M3: OPTIMIZE-style compaction + VACUUM — data identical afterwards
    // (the oracle reads the same rows straight from parquet).
    "q_m3_compact" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-compact-").toString
      val tbl = VersionedTable(s, root)
      val o = t(s, dir, "orders")
      tbl.append(o.filter(col("o_orderkey") % 2 === 0).repartition(16))
      tbl.append(o.filter(col("o_orderkey") % 2 === 1).repartition(16))
      tbl.compact(numFiles = 2)
      tbl.vacuum(retainVersions = 1)
      tbl.read.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderstatus")
    }),

    // ST3 stateful-streaming form: flatMapGroupsWithState over an
    // availableNow file stream, merged per batch into a versioned table.
    "q_st4_stateful_state" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-state-").toString
      eventsAsLiveEvents(s, dir)
        .filter(col("event_key").cast("long") % 9 === 0)
        .drop("updated_at").coalesce(4).write.json(s"$tmp/landing")
      val out = VersionedTable(s, s"$tmp/state")
      withStatePartitions(s, 4) {
        graft.streaming.LiveEvents.runFixtureStateAvailableNow(
          s, s"$tmp/landing", s"$tmp/cp", out)
      }
      out.read.select(col("fixture_id"), col("n_events"),
          unix_millis(col("last_event_ts")).as("last_ts_ms"),
          col("last_event_type"))
        .orderBy("fixture_id")
    }),

    // ST3 TTL form (event-time timeout): the bounded-state variant of
    // q_st4. One availableNow drain over a SINGLE-FILE landing dir →
    // one data batch, during which the watermark is still 0, so every
    // fixture emits exactly one running row; the trailing no-data
    // micro-batch then advances the watermark to the stream's max
    // event time and fires expiry for every fixture whose armed
    // timeout (last event + TTL, in ms) is STRICTLY below it — each
    // emits one closing `is_final` row and frees its state slot.
    // Strict-< and ms flooring mirror Spark's
    // InputProcessor.processTimedOutState + EventTimeStats, so the
    // DuckDB oracle replays the expiry cutoff exactly. 6h TTL over the
    // 30-day events corpus expires most-but-not-all fixtures (both
    // lifecycle classes present at every SF).
    "q_st17_ttl_state" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-ttl-").toString
      eventsAsLiveEvents(s, dir)
        .filter(col("event_key").cast("long") % 11 === 0)
        .drop("updated_at").coalesce(1).write.json(s"$tmp/landing")
      val out = VersionedTable(s, s"$tmp/state")
      withStatePartitions(s, 4) {
        graft.streaming.LiveEvents.runFixtureStateTtlAvailableNow(
          s, s"$tmp/landing", s"$tmp/cp", out, ttlMillis = 21600000L)
      }
      out.read.select(col("fixture_id"), col("n_events"),
          unix_millis(col("last_event_ts")).as("last_ts_ms"),
          col("last_event_type"), col("is_final"))
        .orderBy("fixture_id", "is_final")
    }),

    // ST4: watermarked tumbling-window streaming aggregation over an
    // availableNow drain — equals the batch window expression, which the
    // DuckDB oracle replicates with date_trunc.
    "q_st5_windowed_counts" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-win-").toString
      eventsAsLiveEvents(s, dir)
        .filter(col("event_key").cast("long") % 7 === 0)
        .drop("updated_at").coalesce(4).write.json(s"$tmp/landing")
      val out = VersionedTable(s, s"$tmp/win")
      withStatePartitions(s, 4) {
        graft.streaming.LiveEvents.runWindowedCountsAvailableNow(
          s, s"$tmp/landing", s"$tmp/cp", out)
      }
      out.read.select(col("fixture_id"),
          unix_millis(col("window_start")).as("window_start_ms"),
          col("n_events"),
          unix_millis(col("max_event_ts")).as("max_ts_ms"))
        .orderBy("fixture_id", "window_start_ms")
    }),

    // IVF ANN, build-once/serve-many: write the cell-partitioned serving
    // table, then the query is a partition-pruned probe-read of the
    // nProbe nearest cells. Probed at FULL cell coverage (nProbe =
    // nCells) so the candidate set is provably total and the DuckDB
    // oracle replays the cosine arithmetic exactly — a PARTIAL probe's
    // candidate set depends on the engine's k-means centroids, which an
    // oracle reading only the source parquet cannot reconstruct
    // (partial-probe recall + partition pruning are plan-pinned by
    // SimilaritySpec instead). Distinct query vector and k from
    // q_sim_ivf_exact, so the two hash checks cover different rankings.
    "q_sim_ivf_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 7)
        .select("embedding").head().getSeq[Float](0)
      val path = cachedServingTable("ivf",
        s"$dir-c16-${sourceFingerprint(s"$dir/embeddings.parquet")}") { staging =>
        Similarity.writeIvfTable(e.filter(col("vec_id") =!= 0), staging,
          nCells = 16)
      }
      Similarity.ivfProbeTopK(s, path, q, k = 12, nProbe = 16)
    }),

    // IVF exactness witness: probing ALL cells degenerates to brute-force
    // cosine top-k (FAISS IVF-Flat's nProbe=nlist contract) — the one ANN
    // configuration a SQL oracle CAN replay exactly, so the full serving
    // path (sidecar centroids, hive partition layout, probe-read, the
    // round-before-cut tie discipline) is hash-checked end-to-end, not
    // just spec-pinned. Shares q_sim_ivf_topk's cached serving table.
    "q_sim_ivf_exact" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      val path = cachedServingTable("ivf",
        s"$dir-c16-${sourceFingerprint(s"$dir/embeddings.parquet")}") { staging =>
        Similarity.writeIvfTable(e.filter(col("vec_id") =!= 0), staging,
          nCells = 16)
      }
      Similarity.ivfProbeTopK(s, path, q, k = 10, nProbe = 16)
    }),

    // Incrementally-maintained IVF serving table (IvfServing): bootstrap
    // from the embeddings snapshot, then deletes / re-embeddings / fresh
    // inserts flow through the change feed as O(changed) cell merges —
    // never an index rebuild. Probing every cell (nProbe = nCells) is
    // exact, so the DuckDB oracle reconstructs the mutated corpus in SQL
    // and replays the same top-k: the incremental maintenance is
    // hash-checked end-to-end (pruning + crash replay pinned by
    // IvfServingSpec).
    "q_sim_ivf_sync" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-ivfsync-").toString
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val src = VersionedTable(s, s"$root/src")
      src.enableChangeFeed()
      src.append(e)
      IvfServing.build(src, s"$root/serve", nCells = 4, numBuckets = 2,
        seed = 7L)
      // the incremental tail: drop every 17th id, flip every 23rd-mod-1
      // embedding (a deterministic re-embed that moves cells), add 50
      // fresh ids copying the first 50 vectors
      src.delete(col("vec_id") % 17 === 0)
      src.update(Map("embedding" ->
        transform(col("embedding"), x => -x)), col("vec_id") % 23 === 1)
      src.append(e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      IvfServing.sync(src, s"$root/serve", numBuckets = 2)
      val q = e.filter(col("vec_id") === 2)
        .select("embedding").head().getSeq[Float](0)
      IvfServing.probeTopK(s, s"$root/serve", q, k = 10, nProbe = 4)
    }),

    // IVF-PQ composed serving (FAISS IVFADC): the cell-partitioned
    // incrementally-synced table stores m-byte PQ CODES instead of raw
    // vectors — the memory-bounded shape real 100 TB ANN serving uses.
    // ORACLE-CHECKED end-to-end: the bit-pattern corpus (bitPatternVec,
    // 6 distinct subvectors per subspace ≤ k=8) makes the frozen
    // codebook lossless, the mutation tail stays INSIDE its support
    // (deletes; re-embeds to the pattern of vec_id+5 — a cell move the
    // sync must absorb; fresh inserts copying low ids' patterns), and
    // the probe reads ALL cells (nProbe = nCells) so the candidate set
    // is total whatever the engine's centroids — build + CDF churn +
    // sync + ADC probe hash-match the SQL replay of the final corpus.
    // Partial-probe recall and pruning stay plan-pinned by
    // IvfPqServingSpec; the residual mode keeps its own oracle query.
    "q_sim_ivfpq_topk" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-ivfpq-").toString
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), bitPatternVec(col("vec_id")).as("embedding"))
      val src = VersionedTable(s, s"$root/src")
      src.enableChangeFeed()
      src.append(base)
      IvfPqServing.build(src, s"$root/serve", nCells = 4, m = 4, k = 8,
        numBuckets = 2, seed = 7L)
      src.delete(col("vec_id") % 17 === 0)
      src.update(Map("embedding" -> bitPatternVec(col("vec_id") + 5)),
        col("vec_id") % 23 === 1)
      src.append(base.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      IvfPqServing.sync(src, s"$root/serve", numBuckets = 2)
      // query = the derived vector of vec_id 2 (bits 0,1,0,0; amp 0.75)
      val q = Seq(0f, 0.75f, 0.75f, 0f, 0f, 0.75f, 0f, 0.75f)
      IvfPqServing.probeTopK(s, s"$root/serve", q, k = 10, nProbe = 4)
    }),

    // IVF-PQ lossless witness (q_sim_pq_lossless's serving-table
    // sibling, mutation tail included): on the block-structured corpus
    // the codebook covers every distinct subvector pattern, ADC scores
    // EQUAL true inner products, and a FULL probe reads every cell — so
    // build + CDF delete + sync + probe is hash-checked end to end by
    // the same DuckDB oracle that replays the scores arithmetically.
    "q_sim_ivfpq_lossless" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-ivfpql-").toString
      val amp = ((col("vec_id") % 3 + 1)).cast("double") * lit(0.25d)
      val p1 = (col("vec_id") % 4).cast("int")
      val p2 = (floor(col("vec_id") / 4).cast("long") % 4).cast("int")
      val vecExpr = array((0 until 8).map { i =>
        val hit = if (i < 4) p1 === i else p2 === (i - 4)
        when(hit, amp).otherwise(lit(0.0d))
      }: _*).cast("array<float>")
      val base = t(s, dir, "embeddings").filter(col("vec_id") < 96)
        .select(col("vec_id"), vecExpr.as("embedding"))
      val src = VersionedTable(s, s"$root/src")
      src.enableChangeFeed()
      src.append(base)
      // quantizers freeze over the FULL corpus (as the pq_lossless
      // codebook does), then vec 5 leaves through the change feed — the
      // sync tombstones its posting out of its cell
      IvfPqServing.build(src, s"$root/serve", nCells = 2, m = 2,
        numBuckets = 2, seed = 42L)
      src.delete(col("vec_id") === 5)
      IvfPqServing.sync(src, s"$root/serve", numBuckets = 2)
      // query = the derived vector of vec_id 5 (amp 0.75, one-hot 1/1)
      val q = Seq(0f, 0.75f, 0f, 0f, 0f, 0.75f, 0f, 0f)
      IvfPqServing.probeTopK(s, s"$root/serve", q, k = 10, nProbe = 2)
    }),

    // Residual-encoded IVF-PQ (FAISS IVFADC proper): the codebook
    // quantizes vec − centroid[cell] and the probe adds the per-cell
    // query·centroid constant back (IP linearity keeps the ADC tables
    // cell-independent). On the block corpus the ≤24 distinct residual
    // patterns fit a k=32 codebook, so q·c + ADC == q·v up to float
    // rounding far below the 4-decimal grid — the same arithmetic
    // oracle hash-checks the residual encode, the per-cell constant,
    // the CDF delete and the sync end to end.
    "q_sim_ivfpq_residual" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-ivfpqr-").toString
      val amp = ((col("vec_id") % 3 + 1)).cast("double") * lit(0.25d)
      val p1 = (col("vec_id") % 4).cast("int")
      val p2 = (floor(col("vec_id") / 4).cast("long") % 4).cast("int")
      val vecExpr = array((0 until 8).map { i =>
        val hit = if (i < 4) p1 === i else p2 === (i - 4)
        when(hit, amp).otherwise(lit(0.0d))
      }: _*).cast("array<float>")
      val base = t(s, dir, "embeddings").filter(col("vec_id") < 96)
        .select(col("vec_id"), vecExpr.as("embedding"))
      val src = VersionedTable(s, s"$root/src")
      src.enableChangeFeed()
      src.append(base)
      IvfPqServing.build(src, s"$root/serve", nCells = 2, m = 2, k = 32,
        numBuckets = 2, seed = 42L, residual = true)
      src.delete(col("vec_id") === 5)
      IvfPqServing.sync(src, s"$root/serve", numBuckets = 2)
      val q = Seq(0f, 0.75f, 0f, 0f, 0f, 0.75f, 0f, 0f)
      IvfPqServing.probeTopK(s, s"$root/serve", q, k = 10, nProbe = 2)
    }),

    // LSH flavor of the incrementally-synced serving table (shared
    // AnnSync core): same mutation tail, full-Hamming-radius probe
    // enumerates every bucket — exact, so the oracle replays it from
    // the reconstructed corpus.
    "q_sim_lsh_sync" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-lshsync-").toString
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      val src = VersionedTable(s, s"$root/src")
      src.enableChangeFeed()
      src.append(e)
      graft.ops.LshServing.build(src, s"$root/serve", numPlanes = 3,
        dim = dim, numBuckets = 2)
      src.delete(col("vec_id") % 17 === 0)
      src.update(Map("embedding" ->
        transform(col("embedding"), x => -x)), col("vec_id") % 23 === 1)
      src.append(e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      graft.ops.LshServing.sync(src, s"$root/serve", numBuckets = 2)
      val q = e.filter(col("vec_id") === 3)
        .select("embedding").head().getSeq[Float](0)
      graft.ops.LshServing.probeTopK(s, s"$root/serve", q, k = 10,
        probeHamming = 3)
    }),

    // PQ lossless-case witness: a block-structured corpus derived from the
    // embeddings ids — two 4-dim subspaces, each a one-hot pattern at
    // (vec_id%4) resp. (floor(vec_id/4)%4) scaled by 0.25*((vec_id%3)+1).
    // 12 distinct patterns per subspace ≤ k=16, so the codebook covers
    // every pattern exactly (kmeansLocal inits from distinct points) and
    // ADC scores EQUAL true inner products; every value is a multiple of
    // 2^-4·3 so any summation order is bit-exact and the DuckDB oracle
    // replays the scores — the PQ serving math is hash-checked, with the
    // general-corpus behavior pinned by SimilaritySpec.
    "q_sim_pq_lossless" -> ((s, dir) => {
      val amp = ((col("vec_id") % 3 + 1)).cast("double") * lit(0.25d)
      val p1 = (col("vec_id") % 4).cast("int")
      val p2 = (floor(col("vec_id") / 4).cast("long") % 4).cast("int")
      val vecExpr = array((0 until 8).map { i =>
        val hit = if (i < 4) p1 === i else p2 === (i - 4)
        when(hit, amp).otherwise(lit(0.0d))
      }: _*).cast("array<float>")
      val base = t(s, dir, "embeddings").filter(col("vec_id") < 96)
        .select(col("vec_id"), vecExpr.as("embedding"))
      // query = the derived vector of vec_id 5 (amp 0.75, one-hot 1/1)
      val q = Seq(0f, 0.75f, 0f, 0f, 0f, 0.75f, 0f, 0f)
      val cb = Similarity.pqTrain(base, m = 2, k = 16)
      Similarity.pqTopK(
        Similarity.pqEncode(base.filter(col("vec_id") =!= 5), cb), cb, q, 10)
    }),

    // Exact distinct cardinalities — the ground truth q_cnt_approx_distinct
    // sketches against, as its own oracle-checked query (single shuffle of
    // pre-deduped partial state per column; at 100 TB this is the expensive
    // exact path the HLL sketch exists to approximate).
    "q_cnt_distinct_exact" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_suppkey")).as("exact_supps"),
        countDistinct(col("l_orderkey")).as("exact_orders"))),

    // LSH ANN serving table: bucket-partitioned write + multiprobe
    // partition-pruned probe-read. Probed at FULL Hamming radius
    // (probeHamming = numPlanes) so every bucket is enumerated, the
    // candidate set is provably total, and the DuckDB oracle replays
    // the cosine arithmetic exactly — a radius-1 probe's candidate set
    // depends on the engine's hyperplane draws, which the oracle cannot
    // reconstruct from the source parquet (multiprobe recall + pruning
    // are plan-pinned by SimilaritySpec). Distinct query vector and k
    // from q_sim_lsh_exact, so the two hash checks differ.
    "q_sim_lsh_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 7)
        .select("embedding").head().getSeq[Float](0)
      // 5 planes → 32 buckets: sized to the corpus (over-partitioning a
      // small table into 256 dirs costs more than it prunes; at larger SF
      // raise numPlanes with corpus size)
      val path = cachedServingTable("lsh",
        s"$dir-p5-${sourceFingerprint(s"$dir/embeddings.parquet")}") { staging =>
        Similarity.writeLshTable(e.filter(col("vec_id") =!= 0), staging,
          numPlanes = 5, dim = q.size)
      }
      Similarity.lshProbeTopK(s, path, q, k = 12, probeHamming = 5)
    }),

    // LSH exactness witness (q_sim_ivf_exact's sibling): probing the FULL
    // Hamming radius enumerates every bucket, so the multiprobe serving
    // path degenerates to brute-force cosine top-k and the whole
    // bucket-table machinery (sidecar plane spec, partition layout,
    // multiprobe enumeration, rounding discipline) is hash-checked.
    "q_sim_lsh_exact" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      val path = cachedServingTable("lsh",
        s"$dir-p5-${sourceFingerprint(s"$dir/embeddings.parquet")}") { staging =>
        Similarity.writeLshTable(e.filter(col("vec_id") =!= 0), staging,
          numPlanes = 5, dim = q.size)
      }
      Similarity.lshProbeTopK(s, path, q, k = 10, probeHamming = 5)
    }),

    // ANN serving compression: per-vector int8 scalar quantization —
    // 4x memory/IO over float32; the affine map is all-double IEEE math
    // so the oracle replays it exactly (reconstruction-error bound and
    // cosine preservation pinned by SimilaritySpec).
    "q_sim_quantize" -> ((s, dir) => {
      Similarity.quantizeInt8(t(s, dir, "embeddings")
          .filter(col("vec_id") < 50))
        .select(col("vec_id"),
          round(col("q_scale"), 6).as("scale6"),
          round(col("q_min"), 4).as("min4"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
          aggregate(col("q"), lit(127), (a, x) => least(a, x)).as("q_lo"),
          aggregate(col("q"), lit(-128), (a, x) => greatest(a, x)).as("q_hi"))
        .orderBy("vec_id")
    }),

    // Distinct-cardinality estimation: HLL++ sketch vs exact (rows-only:
    // sketch estimates are engine-specific; 5%-accuracy pinned by spec).
    "q_cnt_approx_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(
        approx_count_distinct("l_partkey").as("approx_parts"),
        countDistinct("l_partkey").as("exact_parts"))),

    // As-of (point-in-time) join: events enriched with the latest
    // "snapshot" value at or before their timestamp — single-shuffle
    // union+carry-forward formulation vs DuckDB's native ASOF JOIN.
    "q_asof_join" -> ((s, dir) => {
      val e = events(s, dir)
      val snapshots = e.filter(col("event_id") % 10 === 0)
        .groupBy("user_id", "ts").agg(max("value").as("snap_value"))
      val trades = e.filter(col("event_id") % 10 =!= 0)
        .select("event_id", "user_id", "ts")
      graft.ops.AsOf.asofJoinBackward(trades, snapshots,
          Seq("user_id"), "ts")
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ts_ms"),
          round(col("asof_snap_value"), 4).as("snap4"))
        .orderBy("event_id")
    }),

    // Skew: two-phase salted aggregation — identical result to the direct
    // groupBy, hot keys spread over 16 reducers first.
    "q_skew_salted_agg" -> ((s, dir) =>
      graft.ops.Skew.saltedSumCount(
        t(s, dir, "lineitem").select(col("l_returnflag"), col("l_quantity")),
        Seq("l_returnflag"), "l_quantity")
        .select(col("l_returnflag"),
          round(col("sum_l_quantity"), 2).as("sum_qty"), col("n_rows"))
        .orderBy("l_returnflag")),

    // M: data-skipping range read — per-file-set min/max stats prune
    // whole file-sets before any parquet is opened; the residual filter
    // keeps results exact (Delta data-skipping analog).
    "q_m5_range_read" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-skip-").toString
      val tbl = VersionedTable(s, root)
      val o = t(s, dir, "orders")
      val d95 = lit("1995-01-01").cast("timestamp")
      val d97 = lit("1997-01-01").cast("timestamp")
      tbl.append(o.filter(col("o_orderdate") < d95),
        statsFor = Seq("o_orderdate"))
      tbl.append(o.filter(col("o_orderdate") >= d95 &&
        col("o_orderdate") < d97), statsFor = Seq("o_orderdate"))
      tbl.append(o.filter(col("o_orderdate") >= d97),
        statsFor = Seq("o_orderdate"))
      tbl.readRange("o_orderdate", "1995-06-01", "1996-06-01")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderstatus")
    }),

    // M6: DELETE WHERE with data skipping — a retention-style ranged
    // delete rewrites ONLY the file-sets whose stats overlap the range
    // (Delta's file-pruned DELETE; rewrite scope pinned by
    // VersionedTableSpec). Result = the surviving rows.
    "q_m6_delete" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-del-").toString
      val tbl = VersionedTable(s, root)
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val cut = 1000000L
      tbl.append(o.filter(col("o_orderkey") < cut),
        statsFor = Seq("o_orderkey"))
      tbl.append(o.filter(col("o_orderkey") >= cut),
        statsFor = Seq("o_orderkey"))
      tbl.deleteRange("o_orderkey", "0", (cut - 1).toString,
        extraCond = Some(col("o_totalprice") < 150000.0))
      tbl.read.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderstatus")
    }),

    // M7: RESTORE — metadata-only rollback to an earlier version as a new
    // version (Delta RESTORE TABLE ... VERSION AS OF).
    "q_m7_restore" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-restore-").toString
      val tbl = VersionedTable(s, root)
      val n = t(s, dir, "nation")
      tbl.append(n)                                      // v0: all nations
      tbl.overwrite(n.filter(col("n_regionkey") === 2))  // v1: bad publish
      tbl.restore(0)                                     // v2: rollback
      tbl.read.select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    }),

    // M14: generated columns (Delta GENERATED ALWAYS AS): the declared
    // derivation (month from order timestamp — the canonical partition-
    // column generator) is computed INSIDE the write job for batches
    // that lack it and enforced per row for batches that supply it.
    // Enforcement/validation/merge behavior pinned by
    // VersionedTableSpec; here: the computed column's correctness.
    "q_m14_generated" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-gen-").toString
      val tbl = VersionedTable(s, root)
      tbl.addGeneratedColumn("o_month", "date_format(o_orderdate, 'yyyy-MM')")
      tbl.append(t(s, dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_totalprice"))
      tbl.read.groupBy("o_month")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_month")
    }),

    // M13: bloom-filter file skipping (Delta bloom index analog): point
    // lookups on an UNSORTED high-cardinality column (o_custkey,
    // scattered across every orderkey-split file-set, so min/max stats
    // prune nothing) consult per-file-set Bloom sketches built in one
    // grouped job at write time. Pruning + rewrite-regeneration pinned
    // by VersionedTableSpec; here: exact results over the sketch path.
    "q_m13_bloom_lookup" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-bloom-").toString
      val tbl = VersionedTable(s, root)
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val cut = 1000000L
      tbl.append(o.filter(col("o_orderkey") < cut),
        bloomFor = Seq("o_custkey"))
      tbl.append(o.filter(col("o_orderkey") >= cut),
        bloomFor = Seq("o_custkey"))
      tbl.readEquals("o_custkey", Seq(7, 11, 13))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("price2"))
        .orderBy("o_orderkey")
    }),

    // M12: row-level change data feed (Delta CDF / table_changes): merge
    // emits update_preimage/update_postimage/insert, UPDATE emits
    // pre/post, DELETE emits the deleted rows, and appends synthesize
    // their inserts from the file-set diff — the incremental-ETL surface
    // that lets a downstream consumer apply updates AND deletes without
    // re-reading the table. Atomicity/no-op/NULL-key/vacuum behavior
    // pinned by VersionedTableSpec; here: the full feed vs a SQL
    // state-machine reconstruction.
    "q_m12_change_feed" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-cdf-").toString
      val tbl = VersionedTable(s, root)
      tbl.enableChangeFeed()
      val n = t(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      tbl.append(n.filter(col("n_regionkey") <= 1))               // v0
      tbl.merge(n.filter(col("n_regionkey").isin(1, 2))
          .withColumn("n_name", concat(col("n_name"), lit("_u"))),
        keys = Seq("n_nationkey"))                                // v1
      tbl.update(Map("n_name" -> concat(col("n_name"), lit("!"))),
        col("n_nationkey") < 5)                                   // v2
      tbl.deleteRange("n_nationkey", "10", "14")                  // v3
      tbl.readChangeFeed(-1)
        .select(col("_commit_version").as("v"),
          col("_change_type").as("ct"),
          col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy("v", "ct", "n_nationkey")
    }),

    // M11: deletion vectors — merge-on-read DELETE (Delta deletion
    // vectors): a sparse delete writes a tiny (file, position) vector
    // instead of rewriting file-sets; reads apply it as a broadcast
    // anti-join. No-rewrite + purge behavior pinned by
    // VersionedTableSpec; here: read-path correctness over the vector.
    "q_m11_delete_vectors" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-dv-").toString
      val tbl = VersionedTable(s, root)
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val cut = 1000000L
      tbl.append(o.filter(col("o_orderkey") < cut))
      tbl.append(o.filter(col("o_orderkey") >= cut))
      // sparse point-delete (~1% of keys) — the DV's design load
      tbl.deleteVectors(col("o_orderkey") % 97 === 0)
      tbl.read.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderstatus")
    }),

    // M10: UPDATE … SET WHERE with data skipping — file-pruned
    // copy-on-write update (Delta UPDATE): assignments apply to
    // predicate-TRUE rows only, and only the file-sets whose stats
    // overlap the key range are rewritten (carry-vs-rewrite pinned by
    // VersionedTableSpec; here: post-image correctness).
    "q_m10_update" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-upd-").toString
      val tbl = VersionedTable(s, root)
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val cut = 1000000L
      tbl.append(o.filter(col("o_orderkey") < cut),
        statsFor = Seq("o_orderkey"))
      tbl.append(o.filter(col("o_orderkey") >= cut),
        statsFor = Seq("o_orderkey"))
      tbl.updateRange("o_orderkey", "0", (cut - 1).toString,
        Map("o_orderstatus" -> lit("X"),
            "o_totalprice" -> (col("o_totalprice") * 1.1)),
        extraCond = Some(col("o_totalprice") < 50000.0))
      tbl.read.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderstatus")
    }),

    // M8: OPTIMIZE ZORDER BY — multi-dimensional clustering; a range read
    // on the SECOND z-ordered column still skips file-sets (pruning
    // pinned by VersionedTableSpec; here: result correctness).
    "q_m8_zorder" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-zorder-").toString
      val tbl = VersionedTable(s, root)
      tbl.append(t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice"))
      tbl.compactZOrder(Seq("o_custkey", "o_totalprice"), numFileSets = 16)
      tbl.readRange("o_totalprice", "100000", "150000")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("price2"))
        .orderBy("o_orderkey")
    }),

    // Text: TF-IDF term weighting — tf per (doc, term), df per term, the
    // textbook corpus weighting; top-3 terms per document over a
    // deterministic doc slice, tie-stable.
    "q_txt_tfidf" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("term").asc)
      TextAnalysis.tfidf(t(s, dir, "documents").filter(col("doc_id") < 20))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"),
          round(col("tfidf"), 4).as("tfidf4"))
        .orderBy("doc_id", "rk")
    }),

    // CCNet-style LM quality scoring: Laplace-smoothed bigram model fit
    // on the even-id half of the corpus, cross-entropy (bits/bigram) for
    // the odd-id half — the perplexity-filter stage of web-scale
    // curation, join-based (no broadcast vocabulary, no driver model).
    "q_txt_perplexity" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      TextAnalysis.bigramCrossEntropy(
          d.filter(col("doc_id") % 2 === 0),
          d.filter(col("doc_id") % 2 === 1))
        .orderBy("doc_id")
    }),

    // J: bloom-prefiltered semi join — explicit runtime-filter pushdown;
    // identical to a plain semi join (no false negatives), but the probe
    // side is pruned map-side BEFORE the shuffle.
    "q_bloom_join" -> ((s, dir) => {
      val buyers = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      graft.ops.BloomJoin.semiJoin(
          t(s, dir, "orders"), buyers, "o_custkey", "c_custkey",
          expectedItems = 50000)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderstatus")
    }),

    // Training-data: concat-and-chunk sequence packing — documents laid
    // end-to-end and cut into 4096-token chunks. The prefix sum is the
    // two-phase distributed scan (partitioned windows pinned by
    // PackingSpec), NOT a global-sort window.
    "q_pack_chunks" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("tokens"))
      graft.ops.Packing.packChunks(docs, "doc_id", "tokens", budget = 4096)
        .select(col("doc_id"), col("tokens"), col("start_offset"),
          col("first_chunk"), col("last_chunk"), col("n_chunks"))
        .orderBy("doc_id")
    }),

    // Training-data: per-document sliding-window chunking with overlap
    // (RAG / context-window prep) — map-only (sequence + posexplode in
    // one projection, no shuffle); the oracle replays window starts and
    // slices in DuckDB and hashes every chunk's text.
    "q_txt_chunk_overlap" -> ((s, dir) => {
      graft.ops.Packing.chunkWithOverlap(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "text", chunkTokens = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_ix"),
          col("chunk_tokens").cast("long").as("chunk_tokens"),
          md5(col("chunk_text")).as("h"))
        .orderBy("doc_id", "chunk_ix")
    }),

    // Training-data: distributed BPE tokenizer TRAINING (Sennrich et al.
    // 2016) — 8 merge rounds learned over the corpus's word histogram;
    // deterministic argmax (count DESC, pair ASC) makes the merge table
    // a pure function of the corpus, and the oracle replays the ENTIRE
    // training loop relationally in DuckDB.
    "q_bpe_merges" -> ((s, dir) =>
      graft.ops.Bpe.mergesDf(s, graft.ops.Bpe.learn(
        graft.ops.Bpe.wordHistogram(t(s, dir, "documents"), "text"), 8))),

    // Training-data: BPE ENCODING with the learned merges — per-doc
    // subword tokens via the distinct-word dictionary (the greedy
    // per-word loop runs O(vocab) times, the corpus only joins). The
    // oracle re-learns the merges AND re-encodes every document.
    "q_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.ops.Bpe.learn(
        graft.ops.Bpe.wordHistogram(docs, "text"), 8)
      graft.ops.Bpe.encode(docs, "doc_id", "text", merges)
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_bpe_tokens"),
          md5(concat_ws(" ", col("bpe_tokens"))).as("tokens_md5"))
        .orderBy("doc_id")
    }),

    // Training-data: deterministic domain-mixture sampling ("web at 0.25,
    // books at 0.5, curated at 1.0") — md5-prefix selection, portable
    // across engines, replayed exactly by the oracle.
    "q_mix_sample" -> ((s, dir) => {
      val rates = Map("src13" -> 1.0, "src8" -> 0.5, "src7" -> 0.25)
      graft.ops.Sampling.mixtureSample(
          t(s, dir, "documents"), "doc_id", "source", rates)
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"))
        .orderBy("source")
    }),

    // Training-data: benchmark decontamination — per-train-doc count of
    // distinct 3-gram shingles shared with an "eval" corpus (every 13th
    // doc). Hashed shingle join in the engine (8-byte keys, eval side
    // broadcast); the oracle joins the shingle STRINGS — equality also
    // pinned by PackingSpec.
    "q_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Contamination.overlapCounts(
          docs, docs.filter(col("doc_id") % 13 === 0).select("text"), n = 3)
        .orderBy("doc_id")
    }),

    // M9: incremental materialized-view maintenance — the MV absorbs
    // per-increment deltas via MERGE updateExprs (cnt = cnt + delta) over
    // readAddedSince, never recomputing from the full source; result ==
    // full recompute (the oracle).
    "q_mv_incremental" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-mv-").toString
      val src = VersionedTable(s, s"$root/src")
      val mv = VersionedTable(s, s"$root/mv")
      val ev = events(s, dir)
        .select(col("event_id").cast("long").as("id"), col("event_type"))
      src.append(ev.filter(col("id") % 4 =!= 0))
      val v0 = src.latestVersion.get
      mv.merge(src.read.groupBy("event_type").agg(count(lit(1)).as("cnt")),
        Seq("event_type"), numBuckets = 4)
      src.append(ev.filter(col("id") % 4 === 0)) // late-arriving increment
      val incr = src.readAddedSince(v0)
        .groupBy("event_type").agg(count(lit(1)).as("cnt"))
      mv.merge(incr, Seq("event_type"),
        updateExprs = Map("cnt" -> ((t, u) => t + u)))
      mv.read.orderBy("event_type")
    }),

    // MV4: transparent MV routing — the Catalyst optimizer rule
    // (plans/MvRewrite, injected via extraOptimizations /
    // GraftSparkExtensions) rewrites a matching aggregate over the
    // source's registered snapshot to a scan of the MV. The result row
    // ENCODES the plan behavior: `mv_served` is computed from the
    // optimized plan's leaf paths (TRUE only if the final aggregate was
    // served from the MV, never the source), and `stale_fell_back` pins
    // the freshness contract (after an un-refreshed source append the
    // rule must NOT fire and the fallback must see the new rows). The
    // DuckDB oracle recomputes the aggregate from raw parquet and
    // expects both flags literally TRUE — plan shape, freshness and
    // values hash-checked together.
    "q_mv4_rewrite" -> ((s, dir) => {
      import graft.plans.MvRewrite
      val root = Files.createTempDirectory("graft-mvrw-").toString
      val src = VersionedTable(s, s"$root/src")
      val mv = VersionedTable(s, s"$root/mv")
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag").as("flag"),
        col("l_quantity").cast("long").as("qty"))
      def leafPaths(df: DataFrame): Seq[String] = MvRewrite.scannedPaths(df)
      def agg(d: DataFrame): DataFrame = d.groupBy("flag").agg(
        sum("qty").as("sum_qty"), count(lit(1)).as("n_rows"),
        min("qty").as("min_qty"), max("qty").as("max_qty"),
        avg("qty").as("avg_qty"))
      def refresh(): Unit = {
        mv.overwrite(src.read.groupBy("flag").agg(
          sum("qty").as("s_q"), count(lit(1)).as("c_all"),
          min("qty").as("mn_q"), max("qty").as("mx_q"),
          count("qty").as("c_q")))
        MvRewrite.register(src, mv, Seq("flag"), Seq(
          MvRewrite.AggSpec("sum", "qty", "s_q"),
          MvRewrite.AggSpec("count", "*", "c_all"),
          MvRewrite.AggSpec("min", "qty", "mn_q"),
          MvRewrite.AggSpec("max", "qty", "mx_q"),
          MvRewrite.AggSpec("count", "qty", "c_q")))
      }
      MvRewrite.install(s)
      try {
        src.append(li.filter(col("qty") % 3 =!= 0))
        refresh()
        // staleness plant: commit moves the source; the rule must go
        // quiet (scan under /src/) and the fallback must count ALL rows
        src.append(li.filter(col("qty") % 3 === 0))
        val staleQ = agg(src.read)
        val fellBack = leafPaths(staleQ).forall(_.contains("/src/")) &&
          staleQ.agg(sum("n_rows")).first.getLong(0) == li.count()
        refresh() // re-arm on the full corpus
        val served = agg(src.read)
        val ps = leafPaths(served)
        val fromMv = ps.nonEmpty && ps.forall(_.contains("/mv/"))
        served
          .withColumn("mv_served", lit(fromMv))
          .withColumn("stale_fell_back", lit(fellBack))
          .orderBy("flag")
      } finally MvRewrite.deregister(mv)
    }),

    // MV6: routing over a POST-DDL (multi-arm) snapshot. A table that
    // took metadata DDL — type widening (empty widened arm) and a
    // RENAME of a column the MV never touches — reads as a union of
    // projected arms, not one plain scan; registration decomposes that
    // shape into a per-arm signature and routing still serves from the
    // MV. `ddl_armed` is computed from the optimized plan's leaf paths
    // (TRUE only if the aggregate over the widened+renamed table was
    // served from the MV); `stale_fell_back` pins that the DDL shapes
    // did not weaken freshness: one data commit and the rule goes quiet,
    // with the fallback seeing every row. Oracle recomputes from raw
    // parquet and expects both flags literally TRUE.
    "q_mv6_ddl_armed" -> ((s, dir) => {
      import graft.plans.MvRewrite
      val root = Files.createTempDirectory("graft-mv6-").toString
      val src = VersionedTable(s, s"$root/src")
      val mv = VersionedTable(s, s"$root/mv")
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag").as("flag"),
        col("l_quantity").cast("long").as("qty"),
        col("l_shipdate").as("mode_raw"))
      def agg(d: DataFrame): DataFrame = d.groupBy("flag").agg(
        sum("qty").as("sum_qty"), count(lit(1)).as("n_rows"))
      MvRewrite.install(s)
      try {
        // arm 1: a narrow INT generation, then metadata-only DDL — the
        // widen commits an empty BIGINT arm, the rename re-projects an
        // untouched column per arm; zero data rewritten
        src.append(li.filter(col("qty") % 3 === 1)
          .withColumn("qty", col("qty").cast("int")))
        src.widenColumnType("qty", org.apache.spark.sql.types.LongType)
        src.append(li.filter(col("qty") % 3 === 2))
        src.renameColumn("mode_raw", "ship_day")
        // register on the post-DDL snapshot (the round-9 boundary this
        // query retires: multi-arm used to refuse to arm)
        mv.overwrite(src.read.groupBy("flag").agg(
          sum("qty").as("s_q"), count(lit(1)).as("c_all")))
        MvRewrite.register(src, mv, Seq("flag"), Seq(
          MvRewrite.AggSpec("sum", "qty", "s_q"),
          MvRewrite.AggSpec("count", "*", "c_all")))
        val served = agg(src.read)
        val ps = MvRewrite.scannedPaths(served)
        val ddlArmed = ps.nonEmpty && ps.forall(_.contains("/mv/"))
        // freshness: one data commit un-arms; the fallback (a real
        // union-of-arms aggregate) must count EVERY row
        src.append(li.filter(col("qty") % 3 === 0)
          .withColumnRenamed("mode_raw", "ship_day"))
        val stale = agg(src.read)
        val fellBack =
          MvRewrite.scannedPaths(stale).forall(_.contains("/src/")) &&
            stale.agg(sum("n_rows")).first.getLong(0) == li.count()
        stale
          .withColumn("ddl_armed", lit(ddlArmed))
          .withColumn("stale_fell_back", lit(fellBack))
          .orderBy("flag")
      } finally MvRewrite.deregister(mv)
    }),

    // MV10: JOIN-shaped MV routing — the gold fact⋈dim rollup served
    // transparently from its materialization. The user-shaped query
    // (orders ⋈ customer, grouped by market segment) rewrites to an
    // MV scan; a fact commit un-arms it (freshness is structural on
    // BOTH sides), and JoinMv.refresh absorbs the commit as signed CDF
    // deltas and re-arms. `mv_served`/`stale_fell_back` are computed
    // from the optimized plan's leaf paths; `mode` is the maintenance
    // path actually taken. The oracle recomputes the rollup from raw
    // parquet and expects the flags literally.
    "q_mv10_join_rewrite" -> ((s, dir) => {
      import graft.plans.{JoinMv, MvRewrite}
      val root = Files.createTempDirectory("graft-mvj-").toString
      val fact = VersionedTable(s, s"$root/fact")
      val dim = VersionedTable(s, s"$root/dim")
      val mv = VersionedTable(s, s"$root/mv")
      val ords = t(s, dir, "orders").select(
        col("o_custkey").as("ck"), col("o_orderkey").as("ok"),
        floor(col("o_totalprice")).cast("long").as("p"))
      val cust = t(s, dir, "customer").select(
        col("c_custkey").as("ck"), col("c_mktsegment").as("seg"))
      fact.enableChangeFeed()
      fact.append(ords.filter(col("ok") % 3 =!= 0))
      dim.append(cust)
      MvRewrite.install(s)
      try {
        JoinMv.create(fact, dim, Seq(("ck", "ck")), Seq("seg"), Seq(
          MvRewrite.AggSpec("sum", "p", "sum_p"),
          MvRewrite.AggSpec("count", "p", "cnt_p"),
          MvRewrite.AggSpec("count", "*", "cnt")), mv)
        def q(): DataFrame = {
          val f = fact.read; val d = dim.read
          f.join(d, f("ck") === d("ck")).groupBy(d("seg"))
            .agg(sum("p").as("sum_p"), count(lit(1)).as("n"))
        }
        val armed = MvRewrite.scannedPaths(q()).forall(_.contains("/mv/"))
        // staleness plant: a fact commit must silence the rewrite
        fact.append(ords.filter(col("ok") % 3 === 0))
        val staleQ = q()
        val fellBack = !MvRewrite.scannedPaths(staleQ)
          .exists(_.contains("/mv/")) &&
          staleQ.agg(sum("n")).first.getLong(0) == ords.count()
        // incremental catch-up re-arms on the new fact snapshot
        val mode = JoinMv.refresh(s, mv)
        val served = q()
        val ps = MvRewrite.scannedPaths(served)
        served
          .withColumn("mv_served_before", lit(armed))
          .withColumn("stale_fell_back", lit(fellBack))
          .withColumn("mv_served_after",
            lit(ps.nonEmpty && ps.forall(_.contains("/mv/"))))
          .withColumn("mode", lit(mode))
          .orderBy("seg")
      } finally MvRewrite.deregister(mv)
    }),

    // MV11: JOIN-shaped MV incremental maintenance under RETRACTIONS —
    // append + UPDATE + DELETE on the fact absorb as signed deltas from
    // the change feed joined to the pinned dim (the fixed-dim identity
    // (F+ΔF)⋈D = F⋈D + ΔF⋈D), never a recompute: `overwrites` pins
    // exactly one data overwrite in the MV's whole history (the
    // CREATE's materialization). The oracle replays the DML sequence
    // relationally and recomputes the final rollup.
    "q_mv11_join_sync" -> ((s, dir) => {
      import graft.plans.{JoinMv, MvRewrite}
      val root = Files.createTempDirectory("graft-mvjs-").toString
      val fact = VersionedTable(s, s"$root/fact")
      val dim = VersionedTable(s, s"$root/dim")
      val mv = VersionedTable(s, s"$root/mv")
      val ords = t(s, dir, "orders").select(
        col("o_custkey").as("ck"), col("o_orderkey").as("ok"),
        floor(col("o_totalprice")).cast("long").as("p"))
      fact.enableChangeFeed()
      fact.append(ords.filter(col("ok") % 4 =!= 0))
      dim.append(t(s, dir, "customer").select(
        col("c_custkey").as("ck"), col("c_mktsegment").as("seg")))
      JoinMv.create(fact, dim, Seq(("ck", "ck")), Seq("seg"), Seq(
        MvRewrite.AggSpec("sum", "p", "sum_p"),
        MvRewrite.AggSpec("count", "p", "cnt_p"),
        MvRewrite.AggSpec("count", "*", "cnt")), mv)
      try {
        fact.append(ords.filter(col("ok") % 4 === 0))
        fact.update(Map("p" -> (col("p") + 1000L)), col("ok") % 7 === 0)
        fact.delete(col("ok") % 5 === 0)
        val mode = JoinMv.refresh(s, mv)
        mv.read.select(col("seg"), col("sum_p"), col("cnt"))
          .withColumn("mode", lit(mode))
          .withColumn("overwrites",
            lit(mv.history.count(_.action == "overwrite")))
          .orderBy("seg")
      } finally MvRewrite.deregister(mv)
    }),

    // MV13: SCD2-dimension join MV maintained from the DIM side — the
    // slowly-changing dimension pattern composed with incremental MV
    // maintenance. The dim is Scd2-kept (closed versions stay queryable;
    // the MV joins the is_current view via the definition's dim filter),
    // and an SCD2 batch that re-segments customers absorbs as a signed
    // dim-side delta: the closed versions RETRACT their fact rows from
    // the old groups, the opened versions add them to the new — one
    // bucket-COW merge, `overwrites` pins that the O(MV) rebuild never
    // happened. At 100 TB this is a handful of touched groups per dim
    // batch instead of re-joining the fact table because a dimension
    // attribute moved. The oracle replays the current-view join
    // relationally (CASE over the re-segmented keys).
    "q_mv13_scd2_dim" -> ((s, dir) => {
      import graft.plans.{JoinMv, MvRewrite}
      val root = Files.createTempDirectory("graft-mvscd-").toString
      val fact = VersionedTable(s, s"$root/fact")
      val dim = VersionedTable(s, s"$root/dim")
      val mv = VersionedTable(s, s"$root/mv")
      fact.enableChangeFeed(); dim.enableChangeFeed()
      fact.append(t(s, dir, "orders").select(
        col("o_custkey").as("ck"),
        floor(col("o_totalprice")).cast("long").as("p")))
      val cust = t(s, dir, "customer").select(
        col("c_custkey").as("ck"), col("c_mktsegment").as("seg"))
      graft.ops.Scd2.applyBatchToTable(dim, cust,
        keys = Seq("ck"), tracked = Seq("seg"),
        batchTs = lit("2026-01-01 00:00:00"))
      JoinMv.create(fact,
        Seq(JoinMv.DimSide(dim, Seq(("ck", "ck")), Some("is_current"))),
        Seq("seg"), Seq(
          MvRewrite.AggSpec("sum", "p", "sum_p"),
          MvRewrite.AggSpec("count", "p", "cnt_p"),
          MvRewrite.AggSpec("count", "*", "cnt")), mv)
      try {
        // SCD2 batch: every 10th customer moves to a new segment — the
        // old current rows close (retract), new versions open (add)
        graft.ops.Scd2.applyBatchToTable(dim,
          cust.withColumn("seg",
            when(col("ck") % 10 === 0, lit("PROMOTED"))
              .otherwise(col("seg"))),
          keys = Seq("ck"), tracked = Seq("seg"),
          batchTs = lit("2026-02-01 00:00:00"))
        val mode = JoinMv.refresh(s, mv)
        mv.read.select(col("seg"), col("sum_p"), col("cnt"))
          .withColumn("mode", lit(mode))
          .withColumn("overwrites",
            lit(mv.history.count(_.action == "overwrite")))
          .orderBy("seg")
      } finally MvRewrite.deregister(mv)
    }),

    // MV3: CDC-driven incremental aggregate — the change feed consumed
    // end-to-end. readAddedSince handles append-only feeds and mv2's
    // partition feed recomputes whole partitions; row-level CDF is what
    // lets a rollup absorb UPDATEs and DELETEs as O(changed rows) signed
    // deltas (+postimage/insert, -preimage/delete) merged with combining
    // expressions. Result == full recompute over the final state (the
    // oracle).
    "q_mv3_cdf_incremental" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-mvc-").toString
      val src = VersionedTable(s, s"$root/src")
      val mv = VersionedTable(s, s"$root/mv")
      src.enableChangeFeed()
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      src.append(o)
      val v0 = src.latestVersion.get
      def rollup(df: DataFrame) = df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum("o_totalprice").as("total"))
      mv.merge(rollup(src.read), Seq("o_orderstatus"), numBuckets = 4)
      // correction batch: reprice small orders, retire a key range
      src.update(Map("o_totalprice" -> (col("o_totalprice") * 1.1)),
        col("o_totalprice") < 10000)
      src.deleteRange("o_orderkey", "0", "499")
      val signed = src.readChangeFeed(v0).withColumn("sgn",
        when(col("_change_type").isin("insert", "update_postimage"), 1)
          .otherwise(-1))
      val delta = signed.groupBy("o_orderstatus").agg(
        sum(col("sgn")).as("cnt"),
        sum(col("sgn") * col("o_totalprice")).as("total"))
      mv.merge(delta, Seq("o_orderstatus"), updateExprs = Map(
        "cnt" -> ((mvc, u) => mvc + u),
        "total" -> ((mvc, u) => mvc + u)))
      // groups whose rows all vanished net to cnt=0: drop them, as a
      // full recompute would (the standard CDC-MV maintenance step)
      mv.delete(col("cnt") === 0)
      mv.read.select(col("o_orderstatus"), col("cnt"),
        round(col("total"), 2).as("total2")).orderBy("o_orderstatus")
    }),

    // CDC consumer: the packaged pull-model change-feed loop
    // (ChangeFeedConsumer) maintaining a rollup MV exactly-once. The
    // chain exercises bootstrap, a simulated crash AFTER the downstream
    // merge but BEFORE the position commit (the replayed batch must be
    // recognized from the txn ledger — doubling would corrupt every
    // integer in the result), then inserts, a group-moving update, and a
    // delete, drained in one catch-up batch. Integer aggregates only, so
    // the oracle is a bit-exact replay of the final state from raw
    // parquet.
    "q_cdc_consumer" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-cdcq-").toString
      val src = VersionedTable(s, s"$root/src")
      src.enableChangeFeed()
      val mv = VersionedTable(s, s"$root/mv")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"))
      def maintain(df: DataFrame, from: Long, to: Long): Unit = {
        val signed = df.withColumn("sgn",
          when(col("_change_type").isin("insert", "update_postimage"), 1L)
            .when(col("_change_type").isin("delete", "update_preimage"), -1L))
        val delta = signed.groupBy("o_orderstatus").agg(
          sum(col("sgn")).as("cnt"),
          sum(col("sgn") * col("o_orderkey")).as("sum_key"))
        mv.merge(delta, Seq("o_orderstatus"),
          updateExprs = Map("cnt" -> ((t, u) => t + u),
            "sum_key" -> ((t, u) => t + u)),
          txn = Some(("cdc-mv", to)))
        mv.delete(col("cnt") === 0) // emptied groups drop, as a recompute would
      }
      val cp = s"$root/cp"
      src.append(o.filter(col("o_orderkey") % 2 === 0))
      graft.tables.ChangeFeedConsumer.consumeAvailable(src, cp)(maintain)
      // crash between effect and position: replay must be a ledger no-op
      Files.delete(java.nio.file.Paths.get(cp, "position"))
      graft.tables.ChangeFeedConsumer.consumeAvailable(src, cp)(maintain)
      src.append(o.filter(col("o_orderkey") % 2 === 1))
      src.update(Map("o_orderstatus" -> lit("X")),
        col("o_orderkey") % 10 === 3)
      src.delete(col("o_orderkey") <= 499)
      graft.tables.ChangeFeedConsumer.drain(src, cp)(maintain)
      mv.read.select("o_orderstatus", "cnt", "sum_key")
        .orderBy("o_orderstatus")
    }),

    // M10: incremental rollup over a PARTITIONED MERGE source — the
    // reprocess-changed-partitions pattern (what Delta users run when
    // row-level CDF is off): a late batch merges into the source, the
    // affected-partition feed names the months it touched, and the MV
    // recomputes ONLY those months via partition-pruned range reads, then
    // upserts them by month key. Result == full recompute (the oracle).
    "q_mv2_partition_incremental" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-mvp-").toString
      val src = VersionedTable(s, s"$root/src")
      val mv = VersionedTable(s, s"$root/mv")
      val e = events(s, dir).select(
        col("event_id").cast("long").as("event_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM").as("snapshot_month"))
      val lastMonth = e.agg(max("snapshot_month")).head.getString(0)
      def rollup(df: DataFrame) = df.groupBy("snapshot_month")
        .agg(count(lit(1)).as("n"), sum("event_id").as("sum_id"))
      // v0: everything except the last month's (late-arriving) events
      src.merge(e.filter(col("snapshot_month") < lastMonth), Seq("event_id"),
        numBuckets = 4, partitionBy = Seq("snapshot_month"))
      val v0 = src.latestVersion.get
      mv.merge(rollup(src.read), Seq("snapshot_month"), numBuckets = 4)
      // the late month lands via MERGE; only its cells are new
      src.merge(e.filter(col("snapshot_month") === lastMonth), Seq("event_id"))
      src.changedPartitionsSince(v0) match {
        case Some(parts) if parts.nonEmpty =>
          val roll = rollup(parts.map(p =>
            src.readRange("snapshot_month", p.head, p.head))
            .reduce(_.unionByName(_)))
          mv.merge(roll, Seq("snapshot_month"))
          // the feed's contract: a reported partition ABSENT from the
          // recompute was fully deleted upstream — drop its derived rows
          // (collect is ≤ #changed partitions, bounded metadata)
          val present = roll.select("snapshot_month")
            .collect().map(_.getString(0)).toSet
          val vanished = parts.map(_.head).filterNot(present.contains)
          if (vanished.nonEmpty)
            mv.delete(col("snapshot_month").isin(vanished: _*))
        case Some(_) => () // no changes: nothing to refresh
        case None    => // unparseable file-sets: full recompute
          mv.merge(rollup(src.read), Seq("snapshot_month"))
      }
      mv.read.orderBy("snapshot_month")
    }),

    // Time series: per-key daily spine + LOCF gap fill — the feature-store
    // regularization step. Spine generated map-side (sequence + explode),
    // no calendar cross join.
    "q_gap_fill" -> ((s, dir) => {
      val daily = events(s, dir)
        .filter(col("user_id") < 8)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(sum("value").as("daily_v"))
      graft.ops.TimeSeries.gapFillDaily(daily, "user_id", "day", Seq("daily_v"))
        .select(col("user_id"), col("day"),
          round(col("daily_v_filled"), 2).as("v_filled"))
        .orderBy("user_id", "day")
    }),

    // Graph: fixed-point PageRank — scaled-integer power iteration, so
    // ranks are engine-exact (double summation order can't perturb them)
    // and the DuckDB oracle replays all 3 iterations bit-for-bit.
    "q_pagerank" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val edges = o.select((col("o_custkey") % 97).as("src"),
        (col("o_orderkey") % 97).as("dst"))
      graft.ops.Graphs.pageRankFixedPoint(edges, iters = 3)
        .orderBy("id")
    }),

    // M: incremental append consumption (change-feed-lite) — rows added
    // after a version, read from only the NEW file-sets (O(new data)).
    "q_m4_incremental" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-incr-").toString
      val tbl = VersionedTable(s, root)
      val o = t(s, dir, "orders")
      tbl.append(o.filter(col("o_orderkey") % 3 === 0)) // v0: the base
      tbl.append(o.filter(col("o_orderkey") % 3 === 1)) // v1
      tbl.append(o.filter(col("o_orderkey") % 3 === 2)) // v2
      tbl.readAddedSince(0)
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }),

    // Skew 2: salted broadcast join — hot fact keys spread over 16 salt
    // buckets while the small dim is replicated; result equals the plain
    // join (oracle).
    "q_skew_salted_join" -> ((s, dir) =>
      graft.ops.Skew.saltedJoinSmall(
          t(s, dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity"),
          t(s, dir, "part").select(col("p_partkey").as("l_partkey"),
            col("p_brand")),
          "l_partkey")
        .groupBy("p_brand")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy("p_brand")),

    // Multimodal: binary media columns + partition-parallel feature
    // extraction (stub decode, real plumbing) — metadata aggregate is
    // fully deterministic and oracle-checkable.
    "q_mm_media_features" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.synthesize(s, 300)
      graft.multimodal.Multimodal.extractFeatures(s, media).toDF()
        .groupBy("kind")
        .agg(count(lit(1)).as("n"), round(avg("n_bytes"), 2).as("avg_bytes"))
        .orderBy("kind")
    }),

    // Range join (no equi key): points-in-interval via grid bucketing —
    // cell equi-join + exact refine instead of the cartesian Spark plans
    // for a naive BETWEEN join. Oracle is DuckDB's native inequality join.
    "q_range_join" -> ((s, dir) => {
      val e = events(s, dir)
      val points = e.select(col("event_id").as("pid"), col("ts").as("pt"))
      val intervals = e.filter(col("event_id") % 97 === 0)
        .select(col("event_id").as("iid"), col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("end_ts"))
      graft.ops.RangeJoin.pointInInterval(points, "pt",
          intervals, "start_ts", "end_ts", cellWidthMs = 15 * 60 * 1000)
        .groupBy("iid").agg(count(lit(1)).as("n_points"))
        .orderBy("iid")
    }),

    // Connected components (dedup-cluster operator): iterative min-label
    // propagation over a deterministic consecutive-pair edge set; the
    // oracle computes the same components in closed form (gaps-and-
    // islands), so the general algorithm is checked against an
    // independent derivation.
    "q_cc_components" -> ((s, dir) => {
      val ids = events(s, dir).select(col("event_id").cast("long").as("id"))
      val edges = ids.select(col("id").as("src"), (col("id") + 1).as("dst"))
        .filter(col("src") % 7 < 3 || col("src") % 5 === 0)
        .join(ids.select(col("id").as("dst")), Seq("dst"), "left_semi")
      graft.ops.Components.connectedComponents(edges)
        .groupBy("comp").agg(count(lit(1)).as("size"))
        .groupBy("size").agg(count(lit(1)).as("n_components"))
        .orderBy("size")
    }),

    // Text: corpus top-terms — explode tokens, count, deterministic
    // top-20 (n desc, term asc); the tie-stable total order makes the
    // cut identical in every engine.
    "q_txt_top_terms" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term").asc)
        .limit(20)),

    // M10: SCD Type-2 dimension maintenance — changed keys close their
    // current version and open a new one; unchanged keys keep their
    // original validity window (rerun-idempotence pinned by Scd2Spec).
    "q_scd2_dim" -> ((s, dir) => {
      val t1 = lit("2025-01-01 00:00:00").cast("timestamp")
      val t2 = lit("2025-02-01 00:00:00").cast("timestamp")
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val dim = graft.ops.Scd2.init(c, t1)
      val batch2 = c.withColumn("c_mktsegment",
        when(col("c_custkey") % 3 === 0, lit("REASSIGNED"))
          .otherwise(col("c_mktsegment")))
      graft.ops.Scd2.applyBatch(dim, batch2,
          Seq("c_custkey"), Seq("c_mktsegment"), t2)
        .select(col("c_custkey"), col("c_mktsegment"),
          unix_millis(col("valid_from")).as("from_ms"),
          coalesce(unix_millis(col("valid_to")), lit(-1L)).as("to_ms"),
          col("is_current"))
        .orderBy("c_custkey", "from_ms")
    }),

    // Crawl-pipeline: URL canonicalization — synthetic URLs (tracking
    // params, WWW, fragments, trailing slashes) built identically in
    // both engines, canonicalized by semantically-mirrored regex chains;
    // variant-collapse behavior is pinned by TextAnalysisSpec.
    "q_url_canon" -> ((s, dir) => {
      val urls = t(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"), concat(
          lit("https://WWW.Example"), col("doc_id") % 7,
          lit(".com/Path"), col("doc_id") % 5,
          when(col("doc_id") % 2 === 0,
            concat(lit("/?utm_source=x&id="), col("doc_id") % 3,
              lit("&fbclid=abc#frag")))
            .otherwise(lit("/"))).as("url"))
      urls.select(col("doc_id"), col("url"),
          TextAnalysis.canonicalizeUrl(col("url")).as("canonical"))
        .orderBy("doc_id")
    }),

    // Stats: Pearson correlation via EXACT integer sufficient statistics
    // — corr() aggregates are float-summation-order-dependent across
    // engines, but integer sums are exact and associative. The products
    // run in decimal(38,0) (they pass a long near 3e7 rows/group; DuckDB
    // uses HUGEINT) and both engines round the SAME exact integer to
    // double at the end, so one final float formula is engine-identical.
    "q_stats_corr" -> ((s, dir) => {
      val d = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      events(s, dir)
        .select(col("event_type"),
          (col("user_id") % 97).as("x"), (col("event_id") % 101).as("y"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("event_type"), col("n"),
          round((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))).cast("double") /
            sqrt((d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))).cast("double") *
              (d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy"))).cast("double")),
            6).as("corr6"))
        .orderBy("event_type")
    }),

    // Text quality: Gopher-style repetition filters — duplicate-token
    // fraction (map-only) + most-frequent-bigram share (one groupBy);
    // the standard boilerplate/spam cut before pretraining.
    "q_txt_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionStats(
          t(s, dir, "documents").filter(col("doc_id") < 100))
        .select(col("doc_id"), col("n_tokens"),
          round(col("dup_token_frac"), 4).as("dup_frac4"),
          round(col("top_bigram_frac"), 4).as("bigram_frac4"))
        .orderBy("doc_id")
    }),

    // Approximate top-K heavy hitters: deterministic two-pass (md5
    // hash-sampled candidates → exact count of candidates only) — no
    // sketch UDAF, exact reported counts, oracle replays both passes.
    "q_topk_terms" -> ((s, dir) => {
      val pairs = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "term")))
        .filter(length(col("term")) > 0)
      // sample key = (doc, position): keying on doc_id alone would
      // keep/drop a whole document's tokens together (correlated drop —
      // the failure mode TopK's doc warns about, at document level).
      // Both parts are numeric, so the sampler is the arithmetic stride
      // predicate — one integer op per token occurrence, not an md5 digest
      // (which was this query's dominant cost).
      graft.ops.TopK.approxTopK(pairs,
        graft.ops.Sampling.foldKey(col("doc_id"), col("pos")), col("term"),
        k = 10, sampler = graft.ops.Sampling.arithmeticSampleCond)
    }),

    // Funnel: ordered-step conversion counts (view → click → purchase),
    // each step gated on happening at/after the entity's previous step.
    "q_funnel" -> ((s, dir) =>
      graft.ops.Funnel.funnelCounts(events(s, dir), "user_id",
        "event_type", "ts", Seq("view", "click", "purchase"))),

    // Text: PII-style redaction (emails/URLs → placeholders) — the
    // standard first-pass corpus scrub; planted PII so the op provably
    // fires, counts recovered from placeholder lengths.
    "q_txt_redact" -> ((s, dir) => {
      val aug = concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com see https://ex.org/d/"),
        col("doc_id").cast("string"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.redact(aug).as("red"))
        .select(col("doc_id"), length(col("red")).as("redacted_len"),
          ((length(col("red")) -
            length(replace(col("red"), lit("<EMAIL>"), lit("")))) / 7)
            .cast("int").as("n_emails"),
          ((length(col("red")) -
            length(replace(col("red"), lit("<URL>"), lit("")))) / 5)
            .cast("int").as("n_urls"))
        .orderBy("doc_id")
    }),

    // Sampling 1: deterministic content-hash sample — same rows selected
    // on any engine/run/parallelism (md5 nibble predicate, pushed to scan).
    "q_sample_hash" -> ((s, dir) =>
      graft.ops.Sampling.hashSample(
          t(s, dir, "documents").select("doc_id"), "doc_id", 2)
        .orderBy("doc_id")),

    // Sampling 2: deterministic train/val/test split by key hash (stable
    // under reruns and resharding — the split-assignment op of an ML
    // data pipeline).
    "q_sample_split" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(graft.ops.Sampling.splitLabel(col("doc_id")).as("split"))
        .groupBy("split").agg(count(lit(1)).as("n"))
        .orderBy("split")),

    // Stats: exact grouped quantiles (linear interpolation, = DuckDB
    // quantile_cont; computed over the integer-valued quantity so the
    // interpolation is floating-point-exact in every engine). At 100 TB
    // swap in approx_percentile — same call shape, sketch-merged instead
    // of sort-based.
    "q_stats_quantiles" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.25)"), 2).as("q25"),
          round(expr("percentile(l_quantity, 0.5)"), 2).as("q50"),
          round(expr("percentile(l_quantity, 0.75)"), 2).as("q75"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    // SQL entry surface 1: CREATE OR REPLACE VIEW + report consumed through
    // spark.sql, exercising view expansion end-to-end (the reference's E3
    // path — 00_create_uc_objects.py:312-324 view DDL,
    // 42_build_fixture_horizons.py:136-139 consumption).
    "q_sql_view_report" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("sql_orders")
      t(s, dir, "customer").createOrReplaceTempView("sql_customer")
      s.sql("""CREATE OR REPLACE TEMP VIEW vw_segment_orders AS
               SELECT c.c_mktsegment, o.o_totalprice
               FROM sql_orders o JOIN sql_customer c
                 ON o.o_custkey = c.c_custkey""")
      s.sql("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
                 round(sum(o_totalprice), 2) AS total_price
               FROM vw_segment_orders
               GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    }),

    // SQL entry surface 2: a VersionedTable warehouse queried through the
    // Catalog's registered `<layer>_<table>` namespace under spark.sql —
    // the engine's layer.table query path.
    "q_sql_warehouse" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-sqlwh-").toString
      val cat = new graft.tables.Catalog(s, root)
      cat.bootstrap()
      cat.table("silver", "nation").overwrite(t(s, dir, "nation"))
      cat.table("silver", "region").overwrite(t(s, dir, "region"))
      cat.table("silver", "supplier").overwrite(t(s, dir, "supplier"))
      cat.registerViews()
      s.sql("""SELECT r.r_name, CAST(count(*) AS BIGINT) AS n_suppliers,
                 round(sum(sup.s_acctbal), 2) AS total_acctbal
               FROM silver_supplier sup
               JOIN silver_nation n ON sup.s_nationkey = n.n_nationkey
               JOIN silver_region r ON n.n_regionkey = r.r_regionkey
               GROUP BY r.r_name ORDER BY r.r_name""")
    }),

    // SQL entry surface 3: DESCRIBE HISTORY as a queryable relation
    // (docs/backlog.md:55-58) — a deterministically-built table's version
    // log surfaced through a SQL view.
    "q_sql_history" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-sqlhist-").toString
      val tbl = VersionedTable(s, root)
      val nation = t(s, dir, "nation")
      tbl.append(nation)
      tbl.append(nation.filter(col("n_regionkey") === 0))
      tbl.compact()
      tbl.overwrite(nation.filter(col("n_regionkey") === 1))
      tbl.historyDf.createOrReplaceTempView("sql_table_history")
      s.sql("""SELECT version, action, n_file_sets,
               n_added_sets, n_removed_sets
               FROM sql_table_history ORDER BY version""")
    }),

    // SQL entry surface: DESCRIBE DETAIL as a queryable relation — the
    // LAYOUT metadata (bucket spec, partition keys, table features) is
    // fully deterministic from the DDL that built the table, so the
    // oracle replays it as the expected row (size/version/location
    // columns stay out of the projection: they are run-specific).
    "q_sql_detail" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-sqldetail-").toString
      val tbl = VersionedTable(s, root)
      tbl.enableChangeFeed()
      val e = events(s, dir).select(
        col("event_id").cast("long").as("event_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM").as("snapshot_month"))
        .filter(col("event_id") < 2000)
      tbl.merge(e, Seq("event_id"), numBuckets = 4,
        partitionBy = Seq("snapshot_month"))
      tbl.addCheck("eid_pos", "event_id >= 0")
      // the column-mapping ledger is part of the surface: a rename must
      // show up in DESCRIBE DETAIL (operators should not need to read
      // _colmap.json to learn the table's DDL history)
      tbl.renameColumn("event_type", "ev_type")
      // TBLPROPERTIES surface in the same relation (sorted k=v pairs)
      tbl.setProperties(Map("owner" -> "graft", "quality" -> "silver"))
      // named pins surface too ("name=vN", vacuum-exempt versions)
      tbl.createTag("audit", Some(0L))
      tbl.detailDf.createOrReplaceTempView("sql_table_detail")
      s.sql("""SELECT num_buckets, bucket_keys, partition_columns,
               change_feed_enabled, num_checks, num_generated_columns,
               num_deletion_vectors, num_renamed_columns,
               num_dropped_columns, column_mapping, num_identity_columns,
               properties, num_tags, tags
               FROM sql_table_detail""")
    }),

    // FSCK REPAIR TABLE (Delta parity): an out-of-band deletion leaves
    // the head unreadable; DRY RUN previews exactly the lost file-set,
    // REPAIR commits a snapshot carrying only live files, and the
    // surviving rows are exactly the second append — all deterministic.
    "q_sql_fsck" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-fsck-").toString
      val tbl = VersionedTable(s, s"$tmp/t")
      val n = t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("k"), col("n_name"))
      tbl.append(n.filter(col("k") < 10))
      tbl.append(n.filter(col("k") >= 10))
      val lost = tbl.history.head.fileSets.head
      graft.tables.VersionedTable.deleteRecursively(
        java.nio.file.Paths.get(tmp, "t", "data", lost))
      val gsql = graft.tables.GraftSql(s)
      val preview = gsql.sql(s"FSCK REPAIR TABLE graft.`$tmp/t` DRY RUN").count()
      val fixed = gsql.sql(s"FSCK REPAIR TABLE graft.`$tmp/t`").count()
      tbl.read.agg(count(lit(1)).as("n_rows"), sum("k").as("sum_k"))
        .withColumn("n_missing_preview", lit(preview))
        .withColumn("n_removed", lit(fixed))
    }),

    // Governance (reference resources/uc/grants.sql): GRANT/REVOKE
    // maintain a durable warehouse ledger; SHOW GRANTS reads it; the
    // SQL funnel enforces UC-style conjunctive authorization (USE
    // CATALOG + USE SCHEMA + SELECT/MODIFY) once the session names a
    // principal. The script below is the reference template's
    // role-based section run verbatim shapes (engineers read+write the
    // schema, readers get table-level SELECT); probes then prove a
    // reader can DESCRIBE but not INSERT, and an engineer can INSERT —
    // all deterministic, so the oracle replays ledger AND probe flags.
    "q_sql_grants" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-grants-").toString
      val cat = new graft.tables.Catalog(s, tmp)
      cat.bootstrap()
      val gsql = graft.tables.GraftSql(s, cat)
      gsql.sql("CREATE TABLE gold.dim_player (id INT, name STRING)")
      gsql.sql("INSERT INTO gold.dim_player VALUES (1, 'Saka')")
      gsql.sqlScript("""
        GRANT USE CATALOG ON CATALOG football TO `football-engineers`;
        GRANT USE CATALOG ON CATALOG football TO `football-readers`;
        GRANT USE SCHEMA ON SCHEMA football.gold TO `football-engineers`;
        GRANT USE SCHEMA ON SCHEMA football.gold TO `football-readers`;
        GRANT SELECT, MODIFY ON SCHEMA football.gold TO `football-engineers`;
        GRANT SELECT ON TABLE football.gold.dim_player TO `football-readers`;
        GRANT SELECT ON SCHEMA football.silver TO `football-readers`;
        REVOKE SELECT ON SCHEMA football.silver FROM `football-readers`
      """)
      val (readOk, writeDenied, writeOk) =
        try {
          s.conf.set(graft.tables.GraftSql.PrincipalConf, "football-readers")
          val r = scala.util.Try(
            gsql.sql("DESCRIBE HISTORY gold.dim_player").count() > 0)
            .getOrElse(false)
          val wd = scala.util.Try(
            gsql.sql("INSERT INTO gold.dim_player VALUES (9, 'nope')"))
            .isFailure
          s.conf.set(graft.tables.GraftSql.PrincipalConf, "football-engineers")
          val w = scala.util.Try(
            gsql.sql("INSERT INTO gold.dim_player VALUES (2, 'Rice')"))
            .isSuccess
          (r, wd, w)
        } finally s.conf.unset(graft.tables.GraftSql.PrincipalConf)
      gsql.sql("SHOW GRANTS")
        .withColumn("read_ok", lit(readOk))
        .withColumn("write_denied", lit(writeDenied))
        .withColumn("write_ok", lit(writeOk))
    }),

    // GENERATED ALWAYS AS IDENTITY (Delta's identity columns): ids are
    // assigned by the engine — dense and contiguous within each write
    // (range reservation + partition-offset stamping, no shuffle), and
    // strictly non-overlapping across writes. The probe checks the
    // per-batch (count, min, max, distinct) envelope rather than the
    // row→id mapping, which is partition-order-dependent by design
    // (Delta guarantees uniqueness/monotonicity, not row assignment).
    "q_sql_identity" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-idn-").toString
      val sql = graft.tables.GraftSql(s)
      sql.sql(s"CREATE TABLE graft.`$tmp/t` (id BIGINT GENERATED ALWAYS " +
        "AS IDENTITY, name STRING, batch INT)")
      t(s, dir, "nation").createOrReplaceTempView("idn_nation")
      t(s, dir, "region").createOrReplaceTempView("idn_region")
      sql.sql(s"INSERT INTO graft.`$tmp/t` " +
        "SELECT n_name, 1 FROM idn_nation")
      sql.sql(s"INSERT INTO graft.`$tmp/t` " +
        "SELECT r_name, 2 FROM idn_region")
      VersionedTable(s, s"$tmp/t").read
        .groupBy("batch")
        .agg(count(lit(1)).as("n_rows"), min("id").as("min_id"),
          max("id").as("max_id"), countDistinct("id").as("n_distinct"))
        .orderBy("batch")
    }),

    // Liquid-clustering-style declaration: CLUSTER BY persists the
    // cluster columns, bare OPTIMIZE z-orders by them, and range reads
    // on the SECOND clustered column prune through the multi-column
    // stats while staying exact (the oracle replays the range count).
    "q_sql_cluster_by" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-cb-").toString
      val sql = graft.tables.GraftSql(s)
      sql.sql(s"CREATE TABLE graft.`$tmp/t` (a INT, b INT, v STRING)")
      events(s, dir).createOrReplaceTempView("cb_events")
      sql.sql(s"INSERT INTO graft.`$tmp/t` SELECT event_id, " +
        "event_id % 97, event_type FROM cb_events")
      sql.sql(s"ALTER TABLE graft.`$tmp/t` CLUSTER BY (a, b)")
      val op = sql.sql(s"OPTIMIZE graft.`$tmp/t`")
        .select("operation").head().getString(0)
      val tbl = VersionedTable(s, s"$tmp/t")
      tbl.readRange("b", "10", "12")
        .agg(count(lit(1)).cast("long").as("n_ranged"),
          sum("a").cast("long").as("sum_a"))
        .withColumn("op", lit(op))
    }),

    // TBLPROPERTIES lifecycle (Delta's table-properties surface): CREATE
    // carries them, SET upserts, UNSET removes — and `graft.appendOnly`
    // is a LIVE property (Delta's delta.appendOnly): while set, every
    // row-mutating statement refuses; after UNSET the same DELETE lands.
    // Output: the final property rows plus planted behavior witnesses.
    "q_sql_tblproperties" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-props-").toString
      val sql = graft.tables.GraftSql(s)
      sql.sql(s"CREATE TABLE graft.`$tmp/t` (k INT, v STRING) " +
        "TBLPROPERTIES ('owner' = 'graft', 'graft.appendOnly' = 'true')")
      sql.sql(s"INSERT INTO graft.`$tmp/t` VALUES (1, 'a'), (2, 'b'), (3, 'c')")
      val blocked =
        try { sql.sql(s"DELETE FROM graft.`$tmp/t` WHERE k = 1"); "no" }
        catch { case e: Exception
          if e.getMessage != null && e.getMessage.contains("append-only") =>
            "yes" }
      sql.sql(s"ALTER TABLE graft.`$tmp/t` " +
        "UNSET TBLPROPERTIES ('graft.appendOnly')")
      sql.sql(s"ALTER TABLE graft.`$tmp/t` SET TBLPROPERTIES " +
        "('quality' = 'gold')")
      sql.sql(s"DELETE FROM graft.`$tmp/t` WHERE k = 1")
      val nAfter = VersionedTable(s, s"$tmp/t").read.count()
      import s.implicits._
      sql.sql(s"SHOW TBLPROPERTIES graft.`$tmp/t`")
        .union(Seq(
          ("delete_blocked_while_append_only", blocked),
          ("rows_after_unset_delete", nAfter.toString)).toDF("key", "value"))
        .orderBy("key")
    }),

    // SHOW CREATE TABLE: the reconstructed DDL — identity/generated
    // columns inline, CHECK constraints and properties folded into
    // TBLPROPERTIES (Delta's delta.constraints.* shape) — with the
    // run-specific root normalized out. Byte-exact against the oracle.
    "q_sql_show_create" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-showc-").toString
      val sql = graft.tables.GraftSql(s)
      sql.sql(s"CREATE TABLE graft.`$tmp/t` (id BIGINT GENERATED ALWAYS " +
        "AS IDENTITY, name STRING, nlen INT GENERATED ALWAYS AS " +
        "(length(name))) TBLPROPERTIES ('owner' = 'graft')")
      sql.sql(s"ALTER TABLE graft.`$tmp/t` ADD CONSTRAINT npos " +
        "CHECK (length(name) >= 0)")
      sql.sql(s"SHOW CREATE TABLE graft.`$tmp/t`")
        .select(regexp_replace(col("createtab_stmt"),
          java.util.regex.Pattern.quote(s"$tmp/t"), "<root>")
          .as("createtab_stmt"))
    }),

    // SHOW PARTITIONS: the partition values of a CTAS-partitioned table
    // — metadata-shaped output (one row per partition), content-checked
    // against a DISTINCT over the source.
    "q_sql_show_partitions" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-showp-").toString
      val sql = graft.tables.GraftSql(s)
      events(s, dir).select("event_id", "event_type")
        .createOrReplaceTempView("showp_events")
      sql.sql(s"CREATE TABLE graft.`$tmp/t` PARTITIONED BY (event_type) " +
        "AS SELECT event_type, event_id FROM showp_events")
      sql.sql(s"SHOW PARTITIONS graft.`$tmp/t`")
    }),

    // REORG TABLE … APPLY (PURGE): deletion vectors materialize into
    // rewritten file-sets — the read is unchanged (planted: same rows
    // before/after), the DV count drops to zero. Delta's REORG PURGE.
    "q_sql_reorg" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-reorg-").toString
      val sql = graft.tables.GraftSql(s)
      t(s, dir, "nation").select("n_nationkey", "n_name")
        .createOrReplaceTempView("reorg_nation")
      sql.sql(s"CREATE TABLE graft.`$tmp/t` AS " +
        "SELECT n_nationkey, n_name FROM reorg_nation")
      val tbl = VersionedTable(s, s"$tmp/t")
      tbl.deleteVectors(col("n_nationkey") < 5)
      val dvBefore = tbl.history.last.dvs.nonEmpty
      sql.sql(s"REORG TABLE graft.`$tmp/t` APPLY (PURGE)")
      val dvAfter = tbl.history.last.dvs.nonEmpty
      tbl.read.agg(
        count(lit(1)).cast("long").as("n_rows"),
        sum("n_nationkey").cast("long").as("sum_key"))
        .withColumn("dv_before", lit(dvBefore))
        .withColumn("dv_after", lit(dvAfter))
    }),

    // Column DEFAULTs (the Spark/Delta DEFAULT clause): named-column
    // INSERTs fill omitted columns with the declared default instead of
    // NULL; ALTER COLUMN SET DEFAULT changes it for FUTURE inserts only
    // (already-written rows keep their values — metadata-only DDL).
    "q_sql_default" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-dflt-").toString
      val sql = graft.tables.GraftSql(s)
      sql.sql(s"CREATE TABLE graft.`$tmp/t` (k INT, v STRING DEFAULT " +
        "'none', n INT DEFAULT 7)")
      t(s, dir, "nation").createOrReplaceTempView("dflt_nation")
      t(s, dir, "region").createOrReplaceTempView("dflt_region")
      sql.sql(s"INSERT INTO graft.`$tmp/t` (k) " +
        "SELECT n_nationkey FROM dflt_nation")
      sql.sql(s"ALTER TABLE graft.`$tmp/t` ALTER COLUMN n SET DEFAULT 100")
      sql.sql(s"INSERT INTO graft.`$tmp/t` (k, v) " +
        "SELECT r_regionkey + 100, r_name FROM dflt_region")
      VersionedTable(s, s"$tmp/t").read
        .groupBy("v", "n")
        .agg(count(lit(1)).as("cnt"), sum("k").cast("long").as("sum_k"))
        .orderBy("v", "n")
    }),

    // S9 — the micro-batch poller (docs/backlog.md:63-69): a registered
    // fetcher simulates the endpoint (deterministic pages over nation),
    // each poll lands as an idempotently-named WAL batch BEFORE its
    // offset, payloads parse via from_json and land in a bronze table
    // through the transactional sink — exactly-once end to end, and the
    // final relation replays from the raw dimension in DuckDB.
    "q_st11_poll_source" -> ((s, dir) => {
      val wal = Files.createTempDirectory("graft-pollwal-").toString
      val cp = Files.createTempDirectory("graft-pollcp-").toString
      val dst = Files.createTempDirectory("graft-polldst-").toString + "/t"
      val pages = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"),
          col("n_regionkey").cast("long"))
        .orderBy("n_nationkey").collect()  // the "endpoint": 25 rows
        .map(r => s"""{"k":${r.getLong(0)},"name":"${r.getString(1)}",""" +
          s""""r":${r.getLong(2)}}""")
        .grouped(9).toSeq
      graft.streaming.PollSource.registerFetcher("oracle_poll",
        seq => if (seq < pages.length) Some(pages(seq.toInt).toSeq) else None)
      def pipe(): Unit = {
        val q = s.readStream.format("graft-poll")
          .option("fetcher", "oracle_poll").load(wal)
          .selectExpr("from_json(payload, 'k LONG, name STRING, r LONG') AS j")
          .select(col("j.k").as("k"), col("j.name").as("name"),
            col("j.r").as("r"))
          .writeStream.format("graft-table")
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(dst)
        q.awaitTermination()
      }
      (0 to pages.length).foreach(_ => pipe())
      VersionedTable(s, dst).read
        .groupBy("r").agg(count(lit(1)).as("n"),
          sum("k").cast("long").as("sum_k"))
        .orderBy("r")
    }),

    // Auto-maintenance properties working together (the reference
    // declares delta.autoOptimize.optimizeWrite/autoCompact on every
    // bronze/silver table — 00_create_uc_objects.py:57-61): ingest under
    // optimizeWrite+autoCompact keeps the file count bounded with zero
    // manual OPTIMIZE, and enableDeletionVectors makes the DELETE
    // merge-on-read. Planted: the compact fold happened (n_file_sets
    // collapses to 1 despite 4 appends), the delete was a DV commit, and
    // the relation equals the oracle's replay.
    "q_sql_auto_maintenance" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-autm-").toString
      val sql = graft.tables.GraftSql(s)
      val prev = s.conf.getOption("spark.graft.autoCompact.minFiles")
      s.conf.set("spark.graft.autoCompact.minFiles", "3")
      try {
        sql.sql(s"CREATE TABLE graft.`$tmp/t` (k INT, name STRING) " +
          "TBLPROPERTIES ('graft.optimizeWrite' = 'true', " +
          "'graft.autoCompact' = 'true', " +
          "'graft.enableDeletionVectors' = 'true')")
        t(s, dir, "nation").createOrReplaceTempView("autm_nation")
        // four slice appends: every one past the third lands on an
        // auto-compacted tail, so the set count never grows unbounded
        (0 until 4).foreach(i =>
          sql.sql(s"INSERT INTO graft.`$tmp/t` SELECT n_nationkey, " +
            s"n_name FROM autm_nation WHERE n_nationkey % 4 = $i"))
        sql.sql(s"DELETE FROM graft.`$tmp/t` WHERE k < 5")
        val tbl = VersionedTable(s, s"$tmp/t")
        val acts = tbl.history.map(_.action)
        tbl.read.agg(
          count(lit(1)).cast("long").as("n_rows"),
          sum("k").cast("long").as("sum_k"))
          .withColumn("n_file_sets",
            lit(tbl.history.last.fileSets.length))
          .withColumn("compacted", lit(acts.contains("compact")))
          .withColumn("dv_delete", lit(acts.last == "delete_dv"))
      } finally prev.fold(s.conf.unset("spark.graft.autoCompact.minFiles"))(
        s.conf.set("spark.graft.autoCompact.minFiles", _))
    }),

    // Delta's replaceWhere (INSERT INTO … REPLACE WHERE): the
    // partition-backfill idiom — atomically swap one partition's rows
    // for a recomputed batch in a single commit; every other partition
    // is untouched (and, with stats, carried without a rewrite).
    "q_sql_replace_where" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-rw-").toString
      val sql = graft.tables.GraftSql(s)
      events(s, dir).select(col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"), col("event_type"))
        .createOrReplaceTempView("rw_events")
      sql.sql(s"CREATE TABLE graft.`$tmp/t` PARTITIONED BY (event_type) " +
        "AS SELECT event_id, user_id, event_type FROM rw_events")
      // recompute the 'click' partition (schema reads partition col LAST)
      sql.sql(s"INSERT INTO graft.`$tmp/t` REPLACE WHERE " +
        "event_type = 'click' SELECT event_id * 2 AS event_id, user_id, " +
        "'click' AS event_type FROM rw_events WHERE event_type = 'click'")
      VersionedTable(s, s"$tmp/t").read
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("event_id").cast("long").as("sum_id"))
        .orderBy("event_type")
    }),

    // SQL entry surface for CDC: the change feed as a queryable relation
    // (Delta's `table_changes('t', v)` flow) — a DML chain's row changes
    // grouped per (version, change type) in one SQL statement. The feed
    // content is fully deterministic from the base table, so the oracle
    // replays it.
    "q_sql_table_changes" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-sqlcdc-").toString
      val tbl = VersionedTable(s, root)
      tbl.enableChangeFeed()
      val n = t(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      tbl.append(n)                                                 // v0
      tbl.update(Map("n_name" -> upper(col("n_name"))),
        col("n_regionkey") === 2)                                   // v1
      tbl.deleteRange("n_nationkey", "20", "24")                    // v2
      tbl.readChangeFeed(-1).createOrReplaceTempView("sql_changes")
      s.sql("""SELECT _commit_version AS v, _change_type AS ct,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_nationkey) AS BIGINT) AS sum_key
               FROM sql_changes GROUP BY 1, 2 ORDER BY 1, 2""")
    }),

    // SQL entry surface: VERSION AS OF and TIMESTAMP AS OF as queryable
    // relations — an old version (by number AND by commit timestamp) and
    // the current snapshot registered side by side and compared in one
    // SQL statement (docs/backlog.md:55-58, the time-travel debug flow of
    // notebooks/04_gold/45_time_travel_debug.sql).
    "q_sql_timetravel" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-sqltt-").toString
      val tbl = VersionedTable(s, root)
      val n = t(s, dir, "nation")
      tbl.append(n)                                     // v0: all nations
      val ts0 = tbl.history.last.tsMillis
      Thread.sleep(3) // v1 must commit at a LATER millisecond than ts0
      tbl.overwrite(n.filter(col("n_regionkey") === 0)) // v1: subset
      tbl.readVersion(0).createOrReplaceTempView("tt_v0")
      tbl.asOf(ts0).createOrReplaceTempView("tt_asof")  // TIMESTAMP AS OF
      tbl.read.createOrReplaceTempView("tt_current")
      s.sql("""SELECT
                 (SELECT CAST(count(*) AS BIGINT) FROM tt_v0) AS n_v0,
                 (SELECT CAST(count(*) AS BIGINT) FROM tt_asof) AS n_asof,
                 (SELECT CAST(count(*) AS BIGINT) FROM tt_current) AS n_current""")
    }),

    // SQL entry surface: the parsed maintenance statements
    // (docs/backlog.md:103-106, the reference's empty
    // 61_optimize_and_maintenance.sql) — OPTIMIZE bin-packs three
    // small appends into one file-set, VACUUM DRY RUN previews exactly
    // the three superseded sets, VACUUM reclaims them, DESCRIBE HISTORY
    // confirms the four-version log, and the data reads back identical
    // (the oracle replays the aggregate from the raw parquet). Every
    // structural count is deterministic from the DDL, so the whole
    // lifecycle is hash-checked, not just rows-counted.
    // SQL materialized-view lifecycle: CREATE MATERIALIZED VIEW →
    // append-only increment → REFRESH (must take the incremental path:
    // delta aggregate + combining merge) → a retraction (DELETE) →
    // REFRESH (must fall back to full recompute) → final aggregate over
    // the source served transparently by the MV (MvRewrite routing,
    // plan-verified into `mv_served`). The oracle replays the surviving
    // rows' aggregate in DuckDB and expects the mode strings literally.
    "q_sql_mv" -> ((s, dir) => {
      import graft.plans.MvRewrite
      val wh = Files.createTempDirectory("graft-sqlmv-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      val src = cat.table("silver", "orders")
      src.append(o.filter(col("o_orderkey") % 3 =!= 0))
      val gsql = graft.tables.GraftSql(s, cat)
      MvRewrite.install(s)
      try {
        gsql.sql("CREATE MATERIALIZED VIEW gold.mv_orders AS SELECT " +
          "o_orderstatus, sum(o_orderkey) AS sum_key, count(*) AS cnt, " +
          "min(o_orderkey) AS min_key, max(o_orderkey) AS max_key " +
          "FROM silver.orders GROUP BY o_orderstatus")
        src.append(o.filter(col("o_orderkey") % 3 === 0))
        val mode1 = gsql.sql("REFRESH MATERIALIZED VIEW gold.mv_orders")
          .select("mode").head().getString(0)
        // OPTIMIZE is data-identical: the refresh absorbs nothing
        // (mode noop) but still re-covers the compacted snapshot
        gsql.sql("OPTIMIZE silver.orders")
        val modeOpt = gsql.sql("REFRESH MATERIALIZED VIEW gold.mv_orders")
          .select("mode").head().getString(0)
        gsql.sql("DELETE FROM silver.orders WHERE o_orderkey <= 1000")
        val mode2 = gsql.sql("REFRESH MATERIALIZED VIEW gold.mv_orders")
          .select("mode").head().getString(0)
        val served = src.read.groupBy("o_orderstatus").agg(
          sum("o_orderkey").as("sum_key"), count(lit(1)).as("cnt"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
        val ps = MvRewrite.scannedPaths(served)
        served
          .withColumn("mode1", lit(mode1))
          .withColumn("mode_opt", lit(modeOpt))
          .withColumn("mode2", lit(mode2))
          .withColumn("mv_served",
            lit(ps.nonEmpty && ps.forall(_.contains("/mv_orders"))))
          .orderBy("o_orderstatus")
      } finally MvRewrite.deregister(cat.table("gold", "mv_orders"))
    }),

    // SQL join-MV lifecycle end-to-end: CREATE MATERIALIZED VIEW over
    // a fact JOIN dim (USING grammar), SQL DELETE on the fact, REFRESH
    // absorbing it as signed CDF deltas (mode "cdf"), SHOW freshness,
    // and the plan flag proving the user-shaped join rollup serves from
    // the MV. The oracle replays the DML and recomputes.
    "q_sql_mv_join" -> ((s, dir) => {
      import graft.plans.MvRewrite
      val wh = Files.createTempDirectory("graft-sqlmvj-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val ords = t(s, dir, "orders").select(
        col("o_custkey").as("ck"), col("o_orderkey").as("ok"),
        floor(col("o_totalprice")).cast("long").as("p"))
      val fact = cat.table("silver", "fct")
      fact.enableChangeFeed()
      fact.append(ords.filter(col("ok") % 2 === 1))
      val dim = cat.table("silver", "cust")
      dim.append(t(s, dir, "customer").select(
        col("c_custkey").as("ck"), col("c_mktsegment").as("seg")))
      val gsql = graft.tables.GraftSql(s, cat)
      MvRewrite.install(s)
      try {
        gsql.sql("CREATE MATERIALIZED VIEW gold.mv_seg AS SELECT seg, " +
          "sum(p) AS sum_p, count(p) AS cnt_p, count(*) AS cnt " +
          "FROM silver.fct JOIN silver.cust USING (ck) GROUP BY seg")
        fact.append(ords.filter(col("ok") % 2 === 0))
        gsql.sql("DELETE FROM silver.fct WHERE ok % 9 = 0")
        val mode = gsql.sql("REFRESH MATERIALIZED VIEW gold.mv_seg")
          .select("mode").head().getString(0)
        val fresh = gsql.sql("SHOW MATERIALIZED VIEWS")
          .filter(col("mv") === "gold.mv_seg")
          .select("fresh").head().getBoolean(0)
        val f = fact.read; val d = dim.read
        val q = f.join(d, f("ck") === d("ck")).groupBy(d("seg"))
          .agg(sum("p").as("sum_p"), count(lit(1)).as("n"))
        val ps = MvRewrite.scannedPaths(q)
        q.withColumn("mode", lit(mode))
          .withColumn("fresh", lit(fresh))
          .withColumn("mv_served",
            lit(ps.nonEmpty && ps.forall(_.contains("/mv_seg"))))
          .orderBy("seg")
      } finally MvRewrite.deregister(cat.table("gold", "mv_seg"))
    }),

    // SQL SCD2 join MV: the join-form WHERE attributes `d.is_current`
    // to the dim side, so the MV rolls up against the dimension's
    // CURRENT versions and an SCD2 batch (close + open) absorbs as a
    // dim-side signed delta — REFRESH mode "cdf-dims", one overwrite
    // ever. The oracle replays the current-view join with the
    // re-segmentation applied relationally.
    "q_sql_mv_scd2" -> ((s, dir) => {
      import graft.plans.MvRewrite
      val wh = Files.createTempDirectory("graft-sqlmvscd-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val fact = cat.table("silver", "fct")
      val dim = cat.table("silver", "cust")
      fact.enableChangeFeed(); dim.enableChangeFeed()
      fact.append(t(s, dir, "orders").select(
        col("o_custkey").as("ck"),
        floor(col("o_totalprice")).cast("long").as("p")))
      val cust = t(s, dir, "customer").select(
        col("c_custkey").as("ck"), col("c_mktsegment").as("seg"))
      graft.ops.Scd2.applyBatchToTable(dim, cust,
        keys = Seq("ck"), tracked = Seq("seg"),
        batchTs = lit("2026-01-01 00:00:00"))
      val gsql = graft.tables.GraftSql(s, cat)
      MvRewrite.install(s)
      try {
        gsql.sql("CREATE MATERIALIZED VIEW gold.mv_cur AS SELECT seg, " +
          "sum(p) AS sum_p, count(p) AS cnt_p, count(*) AS cnt " +
          "FROM silver.fct JOIN silver.cust USING (ck) " +
          "WHERE cust.is_current GROUP BY seg")
        graft.ops.Scd2.applyBatchToTable(dim,
          cust.withColumn("seg",
            when(col("ck") % 10 === 0, lit("PROMOTED"))
              .otherwise(col("seg"))),
          keys = Seq("ck"), tracked = Seq("seg"),
          batchTs = lit("2026-02-01 00:00:00"))
        val mode = gsql.sql("REFRESH MATERIALIZED VIEW gold.mv_cur")
          .select("mode").head().getString(0)
        val mv = cat.table("gold", "mv_cur")
        mv.read.select(col("seg"), col("sum_p"), col("cnt"))
          .withColumn("mode", lit(mode))
          .withColumn("overwrites",
            lit(mv.history.count(_.action == "overwrite")))
          .orderBy("seg")
      } finally MvRewrite.deregister(cat.table("gold", "mv_cur"))
    }),

    // MV12: star-schema join MV — lineitem fact joined through TWO
    // pinned dims (orders → customer segment), maintained from the
    // fact's change feed: (F+ΔF)⋈D1⋈D2 = F⋈D* + ΔF⋈D*, so appends AND
    // the delete absorb as one signed-delta slice (mode "cdf", never a
    // refetch of the fact). `fresh` pins SHOW MV's multi-dim coverage.
    "q_mv12_star" -> ((s, dir) => {
      import s.implicits._
      val wh = Files.createTempDirectory("graft-mv12-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val gsql = graft.tables.GraftSql(s, cat)
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey").as("okey"),
        col("l_quantity").cast("long").as("qty"))
      val fact = cat.table("silver", "fct")
      fact.enableChangeFeed()
      fact.append(li.filter(col("okey") % 2 === 1))
      cat.table("silver", "ords").append(t(s, dir, "orders").select(
        col("o_orderkey").as("okey"), col("o_custkey").as("ck")))
      cat.table("silver", "cust").append(t(s, dir, "customer").select(
        col("c_custkey").as("ck"), col("c_mktsegment").as("seg")))
      gsql.sql("CREATE MATERIALIZED VIEW gold.mv_star AS SELECT seg, " +
        "sum(qty) AS sum_qty, count(qty) AS cnt_qty, count(*) AS cnt " +
        "FROM silver.fct JOIN silver.ords USING (okey) " +
        "JOIN silver.cust USING (ck) GROUP BY seg")
      fact.append(li.filter(col("okey") % 2 === 0))
      gsql.sql("DELETE FROM silver.fct WHERE okey % 9 = 0")
      val mode = gsql.sql("REFRESH MATERIALIZED VIEW gold.mv_star")
        .select("mode").as[String].head()
      val fresh = gsql.sql("SHOW MATERIALIZED VIEWS")
        .filter(col("mv") === "gold.mv_star")
        .select("fresh").head().getBoolean(0)
      cat.table("gold", "mv_star").read
        .select("seg", "sum_qty", "cnt")
        .withColumn("mode", lit(mode))
        .withColumn("fresh", lit(fresh))
        .orderBy("seg")
    }),

    // Read governance: ALTER TABLE SET ROW FILTER + column masks,
    // enforced on the registered warehouse views per session principal.
    // current_principal() stays a LIVE expression in the registered
    // plan (folded from spark.graft.principal per query execution), so
    // the views register ONCE and the two reads below differ only in
    // the conf flip — the segment analyst sees only their rows with a
    // masked name; admin sees everything unmasked. Each read
    // materializes under its own principal (the plan binds at
    // execution, by design). The oracle replays both policies
    // relationally.
    "q_sql_governance" -> ((s, dir) => {
      import s.implicits._
      val wh = Files.createTempDirectory("graft-gov-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val gsql = graft.tables.GraftSql(s, cat)
      cat.table("silver", "cust").append(
        t(s, dir, "customer").select(
          col("c_custkey").cast("long").as("ck"),
          col("c_mktsegment").as("seg"), col("c_name").as("name"),
          floor(col("c_acctbal")).cast("long").as("bal")))
      gsql.sql("ALTER TABLE silver.cust SET ROW FILTER " +
        "(seg = current_principal() OR current_principal() = 'admin')")
      gsql.sql("ALTER TABLE silver.cust ALTER COLUMN name SET MASK " +
        "(CASE WHEN current_principal() = 'admin' THEN name " +
        "ELSE concat('***', right(name, 4)) END)")
      cat.registerViews() // ONCE — the policy follows the conf live
      def readAs(p: String): (Long, Long, String, String) = {
        s.conf.set("spark.graft.principal", p)
        val r = s.sql("SELECT count(*) AS n_visible, sum(bal) AS sum_bal, " +
          "min(name) AS min_name FROM silver_cust").head()
        (r.getLong(0), r.getLong(1), r.getString(2), p)
      }
      try Seq(readAs("BUILDING"), readAs("admin")).sortBy(_._4)
        .toDF("n_visible", "sum_bal", "min_name", "who")
      finally s.conf.unset("spark.graft.principal")
    }),

    // Incremental heavy hitters: a count-min sketch per group (counter-
    // wise mergeable — the custom graft_cms_merge expression closes the
    // gap Spark leaves after its count_min_sketch aggregate) plus an
    // exact per-slice top-M candidate union. Items are log2 buckets of
    // the order key, so ranks are separated by ~2× each — the oracle
    // recomputes the EXACT counts and the estimates must equal them
    // (the sketch can only overcount, and at 4000 cells vs 11 distinct
    // items a collision is essentially impossible).
    "q_cms_heavyhitters" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-cms-").toString
      val src = VersionedTable(s, s"$root/src")
      val mv = VersionedTable(s, s"$root/mv")
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag").as("flag"),
        concat(lit("b"), floor(log2(col("l_orderkey") % 1024 + 1))
          .cast("int").cast("string")).as("item"),
        col("l_orderkey").as("okey"))
      src.append(li.filter(col("okey") % 2 === 0).drop("okey"))
      graft.ops.Sketches.createFreq(src, mv, Seq("flag"), "item")
      src.append(li.filter(col("okey") % 2 =!= 0).drop("okey"))
      val mode = graft.ops.Sketches.refreshFreq(s, mv)
      graft.ops.Sketches.topFreqItems(mv.read, Seq("flag"), 5)
        .withColumn("mode", lit(mode))
        .orderBy("flag", "rank")
    }),

    // approx_count_distinct through the SQL MV surface: the stored
    // column is a mergeable HLL sketch (BINARY), REFRESH absorbs
    // appends as register-wise unions (mode "incremental", never a
    // rescan), and the registered warehouse view presents the BIGINT
    // estimate under the declared name. `estimate_ok` pins the
    // estimate within 5% of the exact count; `sketch_stored` pins the
    // storage representation; transparent routing deliberately never
    // arms (a sketch estimate must not replace Spark's own estimator).
    "q_sql_mv_hll" -> ((s, dir) => {
      import s.implicits._
      val wh = Files.createTempDirectory("graft-mvhll-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val gsql = graft.tables.GraftSql(s, cat)
      val src = cat.table("silver", "li")
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag").as("flag"), col("l_orderkey").as("okey"))
      src.append(li.filter(col("okey") % 2 === 0))
      gsql.sql("CREATE MATERIALIZED VIEW gold.mv_flag_users AS " +
        "SELECT flag, count(*) AS n_rows, " +
        "approx_count_distinct(okey) AS approx_ok " +
        "FROM silver.li GROUP BY flag")
      src.append(li.filter(col("okey") % 2 =!= 0))
      val mode = gsql.sql("REFRESH MATERIALIZED VIEW gold.mv_flag_users")
        .select("mode").as[String].head()
      val presented = gsql.sql(
        "SELECT flag, n_rows, approx_ok FROM gold_mv_flag_users")
      val exact = src.read.groupBy("flag")
        .agg(countDistinct("okey").as("exact_distinct"))
      val sketchStored = cat.table("gold", "mv_flag_users")
        .read.schema("approx_ok").dataType ==
        org.apache.spark.sql.types.BinaryType
      presented.join(exact, Seq("flag"))
        .select(col("flag"), col("n_rows"), col("exact_distinct"),
          (abs(col("approx_ok") / col("exact_distinct") - 1.0)
            <= 0.05).as("estimate_ok"))
        .withColumn("mode", lit(mode))
        .withColumn("sketch_stored", lit(sketchStored))
        .orderBy("flag")
    }),

    // skipChangeCommits (Delta's streaming option): an append-mode
    // stream rides ACROSS a delete commit instead of failing — the
    // skipped delete's rows stay in the sink (the consumer opted out of
    // changes; documented divergence), later appends keep flowing, and
    // `src_rows` pins that the delete really landed on the source. The
    // sink ends up with every nation row while the source holds fewer.
    "q_st14_skip_changes" -> ((s, dir) => {
      import s.implicits._
      val root = Files.createTempDirectory("graft-skip-").toString
      val src = VersionedTable(s, s"$root/src")
      val sink = VersionedTable(s, s"$root/sink")
      val cp = s"$root/cp"
      val n = t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("nk"), col("n_name").as("name"))
      src.append(n.filter(col("nk") % 2 === 0))
      def drain(): Unit = {
        val q = s.readStream.format("graft-table")
          .option("skipChangeCommits", "true").load(src.root)
          .writeStream.option("checkpointLocation", cp)
          .foreachBatch { (b: DataFrame, id: Long) =>
            sink.append(b, txn = Some((cp, id))); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain()
      src.delete(col("nk") < 5) // change commit — skipped, not fatal
      src.append(n.filter(col("nk") % 2 =!= 0))
      drain()
      sink.read
        .withColumn("src_rows", lit(src.read.count()))
        .withColumn("survived_change_commit", lit(true))
        .orderBy("nk")
    }),

    // ST16: ingest dedup sink — `dedupKeys` keeps the FIRST row ever
    // seen per content hash via a bucket-pruned keep-existing merge, so
    // an at-least-once upstream (here: a second drain delivering every
    // planted duplicate) lands exactly-once-by-content. The oracle is
    // the distinct-text corpus: one row per content hash survives, and
    // `n_rows` pins that the re-deliveries really arrived and dropped.
    "q_st16_dedup_sink" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-st16-").toString
      val src = VersionedTable(s, s"$tmp/src")
      val d = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      src.append(d)                                                    // v0
      def drain(): Unit = {
        val q = s.readStream.format("graft-table").load(s"$tmp/src")
          .select(sha2(col("text"), 256).as("h"), col("doc_id"),
            col("text"))
          .writeStream.format("graft-table")
          .option("checkpointLocation", s"$tmp/cp")
          .option("dedupKeys", "h")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(s"$tmp/dedup")
        q.awaitTermination()
      }
      drain()
      // at-least-once upstream: every 7th doc re-delivered verbatim
      src.append(d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      drain()
      val sink = VersionedTable(s, s"$tmp/dedup")
      sink.read.select(col("h"))
        .withColumn("n_rows", lit(sink.read.count()))
        .orderBy("h")
    }),

    // ST15: continuously-maintained STAR rollup — the sink's aggregate
    // mode with `joinDims`: each micro-batch's fact change rows join
    // the PINNED dim snapshot before the signed-delta merge (ΔF ⋈ D*,
    // the streaming face of the join MV). Two sync rounds mix appends,
    // a reprice UPDATE and a range DELETE; between them the dim is
    // OVERWRITTEN — which must not leak, because the pin was recorded
    // on the MV before the first merge. The oracle replays the final
    // fact against the ORIGINAL dim rows.
    "q_st15_join_mv_stream" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-st15-").toString
      val fact = VersionedTable(s, s"$tmp/fact")
      val dim = VersionedTable(s, s"$tmp/dim")
      val o = t(s, dir, "orders").select(
        col("o_custkey").as("ck"),
        col("o_orderkey").cast("long").as("ok"),
        floor(col("o_totalprice")).cast("long").as("p"))
      fact.enableChangeFeed()
      fact.append(o.filter(col("ok") % 2 === 0))                       // v0
      dim.append(t(s, dir, "customer").select(
        col("c_custkey").as("ck"), col("c_mktsegment").as("seg")))
      def sync(): Unit = {
        val q = s.readStream.format("graft-table")
          .option("readChangeFeed", "true").load(s"$tmp/fact")
          .writeStream.format("graft-table")
          .option("checkpointLocation", s"$tmp/cp")
          .option("mergeKeys", "seg")
          .option("aggregate", "sum:p:sum_p;count:*:cnt;count:p:cnt_p")
          .option("joinDims", s"$tmp/dim")
          .option("joinKeys", "ck=ck")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(s"$tmp/mv")
        q.awaitTermination()
      }
      sync()
      fact.append(o.filter(col("ok") % 2 === 1))                       // v1
      fact.update(Map("p" -> (col("p") + 1000L)), col("ok") % 10 === 3) // v2
      fact.delete(col("ok") <= 999)                                    // v3
      // dim churn that must NOT reach the stream: the pin is durable
      dim.overwrite(dim.read.withColumn("seg", lit("MUTATED")))
      sync()
      VersionedTable(s, s"$tmp/mv").read
        .select("seg", "sum_p", "cnt", "cnt_p")
        .orderBy("seg")
    }),

    // COMMENT ON TABLE/COLUMN (UC/Delta comment surface): durable in
    // the table's properties, surfaced through DESCRIBE's comment
    // column where user text JOINS the engine contract annotations
    // (identity/generated/default) instead of hiding them.
    "q_sql_comment" -> ((s, dir) => {
      import s.implicits._
      val wh = Files.createTempDirectory("graft-cm-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val gsql = graft.tables.GraftSql(s, cat)
      cat.table("silver", "reg").append(t(s, dir, "region").select(
        col("r_regionkey").cast("long").as("rk"), col("r_name").as("name")))
      gsql.sql("COMMENT ON TABLE silver.reg IS 'regions of record'")
      gsql.sql("COMMENT ON COLUMN silver.reg.rk IS 'region key'")
      val tblComment = cat.table("silver", "reg")
        .properties.getOrElse("comment", "")
      gsql.sql("DESCRIBE silver.reg")
        .withColumn("table_comment", lit(tblComment))
        .orderBy("col_name")
    }),

    // RELY key constraints + join elimination (Databricks informational
    // PK/FK): customer declares PRIMARY KEY RELY, orders a FOREIGN KEY
    // RELY onto it — and the dim join disappears from queries that use
    // no customer columns: INNER becomes `orders WHERE ck IS NOT NULL`,
    // LEFT becomes orders verbatim. Both plan flags are hashed, and the
    // oracle replays the joined aggregate from ORDERS ALONE — the
    // elimination's correctness claim is itself the oracle.
    "q_sql_pkfk_elim" -> ((s, dir) => {
      import s.implicits._
      val wh = Files.createTempDirectory("graft-pkfk-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val gsql = graft.tables.GraftSql(s, cat)
      graft.plans.MvRewrite.install(s)
      val cust = cat.table("silver", "cust")
      cust.append(t(s, dir, "customer").select(
        col("c_custkey").cast("long").as("ck"),
        col("c_mktsegment").as("seg")))
      val ord = cat.table("silver", "ord")
      ord.append(t(s, dir, "orders").select(
        col("o_custkey").cast("long").as("ck"),
        col("o_totalprice").cast("double").as("price")))
      gsql.sql("ALTER TABLE silver.cust ADD CONSTRAINT pk_c " +
        "PRIMARY KEY (ck) RELY")
      gsql.sql("ALTER TABLE silver.ord ADD CONSTRAINT fk_c " +
        "FOREIGN KEY (ck) REFERENCES silver.cust RELY")
      def q(jt: String) = ord.read.join(cust.read, Seq("ck"), jt)
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("price")).cast("long")).as("sum_price"))
      def joinFree(df: DataFrame): Boolean =
        df.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }.isEmpty
      q("inner")
        .withColumn("inner_join_free", lit(joinFree(q("inner"))))
        .withColumn("left_join_free", lit(joinFree(q("left"))))
    }),

    // DROP TABLE → catalog trash, UNDROP TABLE restores (Databricks
    // UNDROP): the drop is one atomic rename into `_trash`, the undrop
    // one rename back — zero data rewritten at any size, and history
    // (both appends' versions) survives the round trip, pinned by
    // `history_intact`. `was_in_trash` pins that the drop actually
    // routed through the restorable trash, not a delete.
    "q_sql_undrop" -> ((s, dir) => {
      import s.implicits._
      val wh = Files.createTempDirectory("graft-ud-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val gsql = graft.tables.GraftSql(s, cat)
      val n = t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("nk"), col("n_name").as("name"))
      val src = cat.table("silver", "nat")
      src.append(n.filter(col("nk") % 2 === 0))
      src.append(n.filter(col("nk") % 2 =!= 0))
      gsql.sql("DROP TABLE silver.nat")
      val wasInTrash = cat.trashEntries
        .exists(e => e._1 == "silver" && e._2 == "nat")
      gsql.sql("UNDROP TABLE silver.nat")
      val back = cat.table("silver", "nat")
      back.read
        .withColumn("was_in_trash", lit(wasInTrash))
        .withColumn("history_intact", lit(back.latestVersion.contains(1L)))
        .orderBy("nk")
    }),

    // Generated-column partition pruning (Delta's generated partition
    // filters): `month` is GENERATED ALWAYS AS (substring(ship, 1, 7))
    // and drives the hive layout; the query filters on `ship` ONLY, and
    // the GeneratedPrune rule derives `month >= substring(bound, 1, 7)`
    // — the scan opens exactly the months at-or-after the bound, pinned
    // by `parts_scanned`/`parts_total` (the oracle replays both from
    // the distinct months) while `sum_qty` pins result correctness.
    "q_m18_generated_prune" -> ((s, dir) => {
      import s.implicits._
      val wh = Files.createTempDirectory("graft-gpq-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val gsql = graft.tables.GraftSql(s, cat)
      graft.plans.MvRewrite.install(s)
      gsql.sql("CREATE TABLE silver.ship (ship STRING, qty BIGINT, " +
        "month STRING GENERATED ALWAYS AS (substring(ship, 1, 7))) " +
        "PARTITIONED BY (month)")
      val tbl = cat.table("silver", "ship")
      tbl.append(t(s, dir, "lineitem").select(
        col("l_shipdate").cast("string").as("ship"),
        col("l_quantity").cast("long").as("qty")),
        partitionBy = Seq("month"))
      val probe = tbl.read.filter(col("ship") >= "1997-01-01").select("qty")
      val scanned = probe.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.filter(_.relation.partitionSchema.nonEmpty)
        .map(_.selectedPartitions.partitionCount.toLong).sum
      val total = tbl.read.select("month").distinct().count()
      tbl.read.filter(col("ship") >= "1997-01-01")
        .agg(sum("qty").as("sum_qty"))
        .withColumn("parts_scanned", lit(scanned))
        .withColumn("parts_total", lit(total))
        .withColumn("pruned", lit(scanned < total))
    }),

    // approx_top_k through the SQL MV surface: the stored column is a
    // mergeable struct<CMS sketch, candidate set>. Appends absorb as
    // counter-wise sums + candidate unions (mode1 "incremental");
    // counters cannot retract, so the delete refreshes through the
    // per-touched-group recompute (mode2 "groups" — O(changed groups),
    // never a full rescan, never a silent under-count). The registered
    // view presents the estimate-ranked top-k; on this bounded item
    // domain the readout EQUALS the exact per-group top-5, which the
    // oracle replays with plain GROUP BY + row_number.
    "q_sql_mv_topk" -> ((s, dir) => {
      import s.implicits._
      val wh = Files.createTempDirectory("graft-mvtk-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val gsql = graft.tables.GraftSql(s, cat)
      val src = cat.table("silver", "li")
      src.enableChangeFeed()
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag").as("flag"),
        concat(lit("b"), floor(log2(col("l_orderkey") % 1024 + 1))
          .cast("int").cast("string")).as("item"),
        col("l_orderkey").as("okey"))
      src.append(li.filter(col("okey") % 2 === 0))
      gsql.sql("CREATE MATERIALIZED VIEW gold.mv_flag_items AS " +
        "SELECT flag, count(*) AS n_rows, " +
        "approx_top_k(item, 5) AS top_items " +
        "FROM silver.li GROUP BY flag")
      src.append(li.filter(col("okey") % 2 =!= 0))
      val mode1 = gsql.sql("REFRESH MATERIALIZED VIEW gold.mv_flag_items")
        .select("mode").as[String].head()
      src.delete(col("okey") % 7 === 0)
      val mode2 = gsql.sql("REFRESH MATERIALIZED VIEW gold.mv_flag_items")
        .select("mode").as[String].head()
      gsql.sql("SELECT flag, n_rows, top_items FROM gold_mv_flag_items")
        .select(col("flag"), col("n_rows"),
          posexplode(col("top_items")).as(Seq("pos", "ti")))
        .select(col("flag"), col("n_rows"),
          (col("pos") + 1).cast("int").as("rank"),
          col("ti.item").as("item"), col("ti.est_count").as("est_count"))
        .withColumn("mode1", lit(mode1)).withColumn("mode2", lit(mode2))
        .orderBy("flag", "rank")
    }),

    // percentile_approx in SQL MVs: the quantile is materialized as a
    // MERGEABLE log2-octave histogram (map<bigint,bigint>) and kept
    // fresh incrementally — appends ADD bucket counts (mode1
    // "incremental") and, unlike HLL registers or min/max, deletes
    // SUBTRACT through the change feed (mode2 "cdf", never a rebuild).
    // The registered view presents the per-row readout as a DOUBLE
    // under the declared name; `within_bound` pins each presented
    // p50/p99 inside the 1/(2·sub) relative guarantee against the
    // exact rank statistic, and `hist_stored` pins the storage type.
    "q_sql_mv_quant" -> ((s, dir) => {
      import s.implicits._
      val wh = Files.createTempDirectory("graft-mvqt-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val gsql = graft.tables.GraftSql(s, cat)
      val src = cat.table("silver", "li")
      src.enableChangeFeed()
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag").as("flag"), col("l_orderkey").as("okey"),
        col("l_extendedprice").cast("double").as("price"))
      src.append(li.filter(col("okey") % 2 === 0))
      gsql.sql("CREATE MATERIALIZED VIEW gold.mv_flag_price AS " +
        "SELECT flag, count(*) AS n_rows, " +
        "percentile_approx(price, 0.5) AS p50, " +
        "approx_percentile(price, 0.99) AS p99 " +
        "FROM silver.li GROUP BY flag")
      src.append(li.filter(col("okey") % 2 =!= 0))
      val mode1 = gsql.sql("REFRESH MATERIALIZED VIEW gold.mv_flag_price")
        .select("mode").as[String].head()
      src.delete(col("okey") % 7 === 0)
      val mode2 = gsql.sql("REFRESH MATERIALIZED VIEW gold.mv_flag_price")
        .select("mode").as[String].head()
      val histStored = cat.table("gold", "mv_flag_price")
        .read.schema("p50").dataType
        .isInstanceOf[org.apache.spark.sql.types.MapType]
      val presented = gsql.sql(
        "SELECT flag, n_rows, p50, p99 FROM gold_mv_flag_price")
      // exact rank statistic, same definition the readout targets
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("flag").orderBy("price")
      val vals = src.read.filter(col("price").isNotNull)
      val qsDf = Seq(0.5, 0.99).toDF("q")
      val exact = vals
        .withColumn("rn", row_number().over(w))
        .join(vals.groupBy("flag").agg(count(lit(1)).as("n")), Seq("flag"))
        .crossJoin(qsDf)
        .filter(col("rn") ===
          greatest(lit(1L), ceil(col("q") * col("n")).cast("long")))
        .select(col("flag"), col("q"), col("price").as("exact_q"))
      presented.join(exact, Seq("flag"))
        .select(col("flag"), (col("q") * 100).cast("int").as("pct"),
          col("n_rows"),
          (abs(when(col("q") === 0.5, col("p50")).otherwise(col("p99"))
            - col("exact_q")) <=
            abs(col("exact_q")) / 32.0 * 1.01 + 0.01).as("within_bound"))
        .withColumn("mode1", lit(mode1)).withColumn("mode2", lit(mode2))
        .withColumn("hist_stored", lit(histStored))
        .orderBy("flag", "pct")
    }),

    // Mergeable distinct-count sketch rollup: COUNT(DISTINCT x) per
    // group kept fresh INCREMENTALLY via HLL sketch union — the one
    // aggregate exact MVs cannot maintain. `mode`/`overwrites` pin that
    // the second half of the corpus was absorbed as a partial-sketch
    // merge, never a rebuild; `estimate_ok` pins the estimate within 5%
    // of the exact count (the exact count doubles as the oracle-checked
    // witness; the sketch bytes themselves are engine-specific and stay
    // out of the hashed result).
    "q_sketch_rollup" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-sk-").toString
      val src = VersionedTable(s, s"$root/src")
      val mv = VersionedTable(s, s"$root/mv")
      src.enableChangeFeed()
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag").as("flag"), col("l_orderkey").as("okey"))
      src.append(li.filter(col("okey") % 2 === 0))
      graft.ops.Sketches.create(src, mv, Seq("flag"), "okey")
      src.append(li.filter(col("okey") % 2 =!= 0))
      val mode = graft.ops.Sketches.refresh(s, mv)
      // retraction: registers can't subtract, but the feed names the
      // touched groups — ONLY those recompute (mode2 "groups"), and
      // `overwrites` staying 1 pins that no rebuild ever ran
      src.delete(col("okey") % 7 === 0)
      val mode2 = graft.ops.Sketches.refresh(s, mv)
      val exact = src.read.groupBy("flag")
        .agg(countDistinct("okey").as("exact_distinct"))
      graft.ops.Sketches.withEstimate(mv.read)
        .join(exact, Seq("flag"))
        .select(col("flag"), col("n_rows"), col("exact_distinct"),
          (abs(col("approx_distinct") / col("exact_distinct") - 1.0)
            <= 0.05).as("estimate_ok"))
        .withColumn("mode", lit(mode))
        .withColumn("mode2", lit(mode2))
        .withColumn("overwrites",
          lit(mv.history.count(_.action == "overwrite")))
        .orderBy("flag")
    }),

    // Quantile rollup MV: per-group log2-octave histograms
    // (DDSketch-shaped, deterministic integer bucketing) kept fresh
    // incrementally — appends ADD to bucket counts, and unlike HLL/CMS
    // the counts form a group, so retractions SUBTRACT through the
    // change feed (mode2 "cdf"): the merged histogram EQUALS a rebuild's
    // without ever re-reading the source. n_rows/n_vals are
    // oracle-exact; `within_bound` pins each p50/p99 readout inside the
    // 1/(2·sub) relative guarantee against the exact rank statistic.
    "q_quant_rollup" -> ((s, dir) => {
      val root = Files.createTempDirectory("graft-qt-").toString
      val src = VersionedTable(s, s"$root/src")
      val mv = VersionedTable(s, s"$root/mv")
      src.enableChangeFeed()
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag").as("flag"), col("l_orderkey").as("okey"),
        col("l_extendedprice").cast("double").as("price"))
      src.append(li.filter(col("okey") % 2 === 0))
      graft.ops.Sketches.createQuant(src, mv, Seq("flag"), "price")
      src.append(li.filter(col("okey") % 2 =!= 0))
      val mode1 = graft.ops.Sketches.refreshQuant(s, mv)
      src.delete(col("okey") % 7 === 0) // retraction: absorbs, no rebuild
      val mode2 = graft.ops.Sketches.refreshQuant(s, mv)
      val approx = graft.ops.Sketches.quantValues(mv.read, Seq("flag"),
        Seq(0.5, 0.99))
      // exact rank statistic with the SAME definition the readout
      // targets: the ceil(q*n)-th smallest non-NULL value per group
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("flag").orderBy("price")
      val vals = src.read.filter(col("price").isNotNull)
      val qsDf = { import s.implicits._; Seq(0.5, 0.99).toDF("q") }
      val exact = vals
        .withColumn("rn", row_number().over(w))
        .join(vals.groupBy("flag").agg(count(lit(1)).as("n")), Seq("flag"))
        .crossJoin(qsDf)
        .filter(col("rn") ===
          greatest(lit(1L), ceil(col("q") * col("n")).cast("long")))
        .select(col("flag"), col("q"), col("price").as("exact_q"))
      approx.join(exact, Seq("flag", "q"))
        .join(mv.read.select("flag", "n_rows"), Seq("flag"))
        .select(col("flag"), (col("q") * 100).cast("int").as("pct"),
          col("n_rows"), col("n_vals"),
          (abs(col("approx_value") - col("exact_q")) <=
            abs(col("exact_q")) / 32.0 * 1.01 + 0.01).as("within_bound"))
        .withColumn("mode1", lit(mode1)).withColumn("mode2", lit(mode2))
        .orderBy("flag", "pct")
    }),

    // MV7: min/max maintenance under retractions WITHOUT a full
    // recompute. Signed deltas cannot retract a min/max, but the change
    // feed names WHICH groups moved — REFRESH recomputes only those
    // groups from the pinned snapshot and merges (mode "groups"):
    // aggregation is O(touched groups' rows), MV writes are O(touched
    // cells) bucket-COW. The query plants a sentinel max (9e11) per
    // order status, then (1) deletes every 7th key — all groups touched,
    // the merge-migration refresh — and (2) deletes ONLY status F's
    // sentinel: F's max provably lowers back to its natural max while
    // every other status keeps the sentinel, and `carried` pins that the
    // untouched statuses' MV cell file-sets rode into the new snapshot
    // verbatim (the O(changed groups) evidence). `mv_served` hashes the
    // plan flag: post-refresh, the min/max aggregate routes to the MV.
    "q_mv7_minmax_refresh" -> ((s, dir) => {
      import graft.plans.MvRewrite
      val wh = Files.createTempDirectory("graft-mv7-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_orderstatus"))
      val src = cat.table("silver", "omm")
      src.enableChangeFeed()
      src.append(o)
      src.append(o.select("o_orderstatus").distinct()
        .withColumn("o_orderkey", lit(900000000000L))
        .select("o_orderkey", "o_orderstatus"))
      val gsql = graft.tables.GraftSql(s, cat)
      MvRewrite.install(s)
      try {
        gsql.sql("CREATE MATERIALIZED VIEW gold.mv_omm AS SELECT " +
          "o_orderstatus, count(*) AS cnt, min(o_orderkey) AS min_key, " +
          "max(o_orderkey) AS max_key FROM silver.omm GROUP BY o_orderstatus")
        val mv = cat.table("gold", "mv_omm")
        // slice 1: every 7th key retracts (the sentinel's 9e11 % 7 = 3
        // survives) — touches every group; migrates the MV to bucket-COW
        src.delete(col("o_orderkey") % 7 === 0)
        val mode1 = gsql.sql("REFRESH MATERIALIZED VIEW gold.mv_omm")
          .select("mode").head().getString(0)
        // slice 2: ONLY F's sentinel retracts — one touched group
        val before = mv.history.last.fileSets.toSet
        src.delete(col("o_orderstatus") === "F" &&
          col("o_orderkey") === 900000000000L)
        val mode2 = gsql.sql("REFRESH MATERIALIZED VIEW gold.mv_omm")
          .select("mode").head().getString(0)
        val after = mv.history.last.fileSets.toSet
        val carried = before.intersect(after).nonEmpty
        val maxes = mv.read.select("o_orderstatus", "max_key")
          .as[(String, Long)](org.apache.spark.sql.Encoders.product[(String, Long)])
          .collect() // one row per status
        val maxLowered = maxes.exists(r => r._1 == "F" &&
          r._2 < 900000000000L) &&
          maxes.filter(_._1 != "F").forall(_._2 == 900000000000L)
        val served = src.read.groupBy("o_orderstatus").agg(
          count(lit(1)).as("cnt"), min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"))
        val ps = MvRewrite.scannedPaths(served)
        served
          .withColumn("mode1", lit(mode1))
          .withColumn("mode2", lit(mode2))
          .withColumn("carried", lit(carried))
          .withColumn("max_lowered", lit(maxLowered))
          .withColumn("mv_served",
            lit(ps.nonEmpty && ps.forall(_.contains("/mv_omm"))))
          .orderBy("o_orderstatus")
      } finally MvRewrite.deregister(cat.table("gold", "mv_omm"))
    }),

    // Filtered materialized view (CREATE MV ... WHERE pred GROUP BY):
    // the predicate applies to the materialization AND every
    // maintenance slice — the straddling append absorbs only matching
    // rows ("incremental"), and the UPDATE that moves rows between
    // groups inside the slice maintains as signed CDF deltas ("cdf").
    // The oracle replays the final predicate slice with the update
    // applied, plus both mode strings.
    "q_mv8_filtered" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft-mv8-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val e = events(s, dir).select(
        col("event_id").cast("long").as("event_id"), col("event_type"))
      val src = cat.table("silver", "fev")
      src.enableChangeFeed()
      src.append(e.filter(col("event_id") < 2000))
      val gsql = graft.tables.GraftSql(s, cat)
      gsql.sql("CREATE MATERIALIZED VIEW gold.mv_fev AS SELECT " +
        "event_type, sum(event_id) AS sum_id, count(event_id) AS cnt_id, " +
        "count(*) AS cnt FROM silver.fev " +
        "WHERE event_id % 10 < 5 GROUP BY event_type")
      src.append(e.filter(col("event_id") >= 2000 && col("event_id") < 4000))
      val mode1 = gsql.sql("REFRESH MATERIALIZED VIEW gold.mv_fev")
        .select("mode").head().getString(0)
      src.update(Map("event_type" -> lit("upd")),
        col("event_id") % 100 === 0)
      val mode2 = gsql.sql("REFRESH MATERIALIZED VIEW gold.mv_fev")
        .select("mode").head().getString(0)
      cat.table("gold", "mv_fev").read
        .withColumn("mode1", lit(mode1))
        .withColumn("mode2", lit(mode2))
        .orderBy("event_type")
    }),

    // Type widening DDL: ALTER COLUMN TYPE int->bigint is one empty
    // schema-arm commit (zero data rewritten); post-DDL rows exceed the
    // int range, pre-DDL arms coerce through the union fold, and time
    // travel still sees the narrow generation. The oracle replays both
    // generations' rows and expects the widened type name literally.
    "q_sql_widen" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft-sqlwd-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val n = t(s, dir, "nation")
        .select(col("n_nationkey").cast("int").as("k"),
          col("n_name").as("name"))
      val tbl = cat.table("silver", "wnation")
      tbl.append(n)
      val preV = tbl.latestVersion.get
      val gsql = graft.tables.GraftSql(s, cat)
      gsql.sql("ALTER TABLE silver.wnation ALTER COLUMN k TYPE BIGINT")
      tbl.append(n.select(
        (col("k").cast("bigint") + lit(10000000000L)).as("k"),
        col("name")))
      tbl.read.agg(count(lit(1)).as("n_rows"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .withColumn("k_type", lit(tbl.read.schema("k").dataType.simpleString))
        .withColumn("pre_ddl_rows", lit(tbl.readVersion(preV).count()))
        .withColumn("pre_ddl_type",
          lit(tbl.readVersion(preV).schema("k").dataType.simpleString))
    }),

    "q_sql_optimize" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft-sqlopt-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val n = t(s, dir, "nation")
      val tbl = cat.table("silver", "nation")
      tbl.append(n.filter(col("n_regionkey") <= 1))
      tbl.append(n.filter(col("n_regionkey").isin(2, 3)))
      tbl.append(n.filter(col("n_regionkey") >= 4))
      val gsql = graft.tables.GraftSql(s, cat)
      val opt = gsql.sql("OPTIMIZE silver.nation").head()
      val nPreviewed =
        gsql.sql("VACUUM silver.nation RETAIN 1 VERSIONS DRY RUN").count()
      val nReclaimed =
        gsql.sql("VACUUM silver.nation RETAIN 1 VERSIONS").head().getLong(0)
      val nVersions = gsql.sql("DESCRIBE HISTORY silver.nation").count()
      gsql.sql(s"""SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM silver_nation) AS n_rows,
        (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM silver_nation) AS sum_key,
        CAST(${opt.getLong(4)} AS BIGINT) AS file_sets_after,
        CAST($nPreviewed AS BIGINT) AS n_previewed,
        CAST($nReclaimed AS BIGINT) AS n_reclaimed,
        CAST($nVersions AS BIGINT) AS n_versions""")
    }),

    // EXPLAIN REWRITE operability surface: the MV-routing decision and
    // its reason for every shape a user hits — served (exact and
    // rollup), rejected (uncovered group), shape-bail, stale-fell-back
    // (source moved), served-again after REFRESH, and no-decision.
    // Every decision and reason string is deterministic from the DDL,
    // so the whole relation hash-checks against literal rows.
    "q_sql_explain_rewrite" -> ((s, dir) => {
      import s.implicits._
      val wh = Files.createTempDirectory("graft-sqlexpr-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val src = cat.table("silver", "nat")
      src.append(t(s, dir, "nation").select(
        col("n_regionkey").cast("long").as("rk"),
        col("n_nationkey").cast("long").as("k"),
        col("n_name").as("name")))
      val gsql = graft.tables.GraftSql(s, cat)
      gsql.sql("CREATE MATERIALIZED VIEW gold.mv_nat AS SELECT rk, " +
        "sum(k) AS sum_k, count(*) AS cnt FROM silver.nat GROUP BY rk")
      def dec(q: String): (String, Boolean, String) = {
        val r = gsql.sql("EXPLAIN REWRITE " + q)
          .select("decision", "mv", "reason").head()
        (r.getString(0), r.getString(1).nonEmpty, r.getString(2))
      }
      val rows = scala.collection.mutable.ArrayBuffer
        .empty[(String, String, Boolean, String)]
      def step(name: String, q: String): Unit =
        { val (d, m, why) = dec(q); rows += ((name, d, m, why)); () }
      step("1_served_exact",
        "SELECT rk, sum(k) AS s FROM silver_nat GROUP BY rk")
      step("2_served_rollup", "SELECT sum(k) AS s FROM silver_nat")
      step("3_rejected_group",
        "SELECT name, sum(k) AS s FROM silver_nat GROUP BY name")
      step("4_shape_bail",
        "SELECT rk + 1 AS r2, sum(k) AS s FROM silver_nat GROUP BY rk + 1")
      step("5_no_decision", "SELECT * FROM silver_nat")
      src.append(Seq((99L, 999L, "zz")).toDF("rk", "k", "name"))
      step("6_stale_fell_back",
        "SELECT rk, sum(k) AS s FROM silver_nat GROUP BY rk")
      gsql.sql("REFRESH MATERIALIZED VIEW gold.mv_nat")
      step("7_served_after_refresh",
        "SELECT rk, sum(k) AS s FROM silver_nat GROUP BY rk")
      rows.toSeq.toDF("step", "decision", "has_mv", "reason")
        .orderBy("step")
    }),

    // EXPLAIN REWRITE rule coverage beyond MV routing: join elimination
    // (RELY keys) and generated-column partition pruning report their
    // fire/no-fire decision and reason in the SAME relation. Steps use
    // non-aggregate SELECTs so the rows are exactly the two rules' —
    // each decision and reason string is deterministic from the DDL.
    "q_sql_explain_rewrite_rules" -> ((s, dir) => {
      import s.implicits._
      val wh = Files.createTempDirectory("graft-sqlexr2-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val gsql = graft.tables.GraftSql(s, cat)
      val dim = cat.table("silver", "xdim")
      dim.append(t(s, dir, "region").select(
        col("r_regionkey").cast("long").as("team"), col("r_name")))
      val fact = cat.table("silver", "xfact")
      fact.append(t(s, dir, "nation").select(
        col("n_regionkey").cast("long").as("team"),
        col("n_nationkey").cast("long").as("p")))
      gsql.sql("ALTER TABLE silver.xdim ADD CONSTRAINT pk_xd " +
        "PRIMARY KEY (team) RELY")
      gsql.sql("CREATE TABLE silver.xev (ts STRING, v INT, " +
        "day STRING GENERATED ALWAYS AS (substring(ts, 1, 10))) " +
        "PARTITIONED BY (day)")
      gsql.sql("INSERT INTO silver.xev (ts, v) VALUES " +
        "('2026-01-01T10:00', 1), ('2026-01-02T09:00', 3)")
      val rows = scala.collection.mutable.ArrayBuffer
        .empty[(String, String, String, Boolean, String)]
      def step(name: String, q: String): Unit = {
        gsql.sql("EXPLAIN REWRITE " + q)
          .select("aggregate", "decision", "mv", "reason")
          .collect().toSeq
          .map(r => (name, r.getString(0) + ":" + r.getString(1),
            r.getString(1), r.getString(2).nonEmpty, r.getString(3)))
          .sortBy(_._2)
          .foreach { r => rows += ((r._1, r._2.split(":")(0), r._3,
            r._4, r._5)); () }
        ()
      }
      step("1_join_eliminated",
        "SELECT p FROM silver_xfact LEFT JOIN silver_xdim USING (team)")
      step("2_join_kept",
        "SELECT r_name FROM silver_xfact LEFT JOIN silver_xdim USING (team)")
      step("3_partition_pruned",
        "SELECT v FROM silver_xev WHERE ts >= '2026-01-02'")
      step("4_prune_none", "SELECT v FROM silver_xev WHERE v = 3")
      // a graft table read is a UNION of the schema-pin arm and the
      // hive-partitioned data arms, so the prune trace reports per arm
      // (STRING-typed pin arm, DATE-inferred data arm) — both rows are
      // deterministic; reason joins the sort for a stable tiebreak
      rows.toSeq.toDF("step", "node", "decision", "has_obj", "reason")
        .orderBy("step", "node", "decision", "reason")
    }),

    // SQL DML lifecycle (reference smoke flow
    // 01_environment_smoke_test.py:74-93 + backlog MERGE pattern
    // docs/backlog.md:49-51): CTAS → INSERT VALUES → UPDATE → DELETE →
    // MERGE upsert, all as parsed statements against the versioned
    // warehouse; the oracle replays the chain as pure SQL set algebra.
    "q_sql_dml" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft-sqldml-").toString
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val gsql = graft.tables.GraftSql(s, cat)
      t(s, dir, "nation").createOrReplaceTempView("nation_src")
      gsql.sql("""CREATE TABLE silver.nation_dml AS
        SELECT n_nationkey, n_name, n_regionkey FROM nation_src""")
      gsql.sql("INSERT INTO silver.nation_dml VALUES (100, 'ATLANTIS', 0)")
      gsql.sql("""UPDATE silver.nation_dml
        SET n_name = concat(n_name, '_EU'), n_regionkey = n_regionkey + 10
        WHERE n_regionkey = 3""")
      gsql.sql("DELETE FROM silver.nation_dml WHERE n_regionkey = 2")
      gsql.sql("""MERGE INTO silver.nation_dml AS t
        USING (SELECT n_nationkey AS k, upper(n_name) AS n_name,
                      n_regionkey FROM nation_src WHERE n_nationkey < 3) AS s
        ON t.n_nationkey = s.k
        WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
      val nVersions = gsql.sql("DESCRIBE HISTORY silver.nation_dml").count()
      cat.table("silver", "nation_dml").read
        .select(col("n_nationkey").cast("bigint").as("n_nationkey"),
          col("n_name"),
          col("n_regionkey").cast("bigint").as("n_regionkey"),
          lit(nVersions).as("n_versions"))
        .orderBy("n_nationkey")
    }),

    // COPY INTO — idempotent batch file ingest (the Auto Loader flow's
    // batch sibling, docs/architecture.md:61,121): first run loads the
    // landing file, rerun loads nothing, a late-arriving file loads
    // incrementally; the final relation must hold every row exactly once.
    "q_sql_copy_into" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft-sqlcpy-").toString
      val landing = s"$wh/landing"
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      val gsql = graft.tables.GraftSql(s, cat)
      val n = t(s, dir, "nation")
      val copy = s"COPY INTO silver.nation_cpy FROM '$landing' FILEFORMAT = PARQUET"
      n.filter(col("n_regionkey") <= 2).coalesce(1)
        .write.parquet(s"$landing/batch1")
      val n1 = gsql.sql(copy).head().getLong(0)
      val n2 = gsql.sql(copy).head().getLong(0) // rerun: nothing new
      n.filter(col("n_regionkey") > 2).coalesce(1)
        .write.parquet(s"$landing/batch2")
      val n3 = gsql.sql(copy).head().getLong(0)
      cat.table("silver", "nation_cpy").read
        .select(col("n_nationkey").cast("bigint").as("n_nationkey"),
          col("n_name"),
          col("n_regionkey").cast("bigint").as("n_regionkey"),
          lit(n1).as("n_loaded_1"), lit(n2).as("n_loaded_2"),
          lit(n3).as("n_loaded_3"))
        .orderBy("n_nationkey")
    }),

    // SQL entry surface 4 (rows-only: FPL-domain synthetic warehouse):
    // the reference's player-horizon view DDL + consumption phrased in
    // SQL over the registered gold tables.
    "q_sql_horizon" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft-sqlfpl-").toString
      // build ONLY the two gold tables the view consumes, in-memory (the
      // SQL surface is what's under test here; the full bronze→gold DAG
      // with its DQ gates is the flagship `entry`)
      val ts = java.sql.Timestamp.valueOf("2025-08-12 06:15:00")
      import graft.fpl.{Bronze, Gold, SampleData, Silver}
      val parsed = Silver.parseBootstrap(Bronze.envelope(
        Bronze.payloadRows(s, Seq((ts,
          "https://fantasy.premierleague.com/api/bootstrap-static/", 200,
          SampleData.bootstrapJson()))), "run-sql"))
      val parsedFx = Silver.parseFixtures(Bronze.envelope(
        Bronze.payloadRows(s, Seq((ts,
          "https://fantasy.premierleague.com/api/fixtures/", 200,
          SampleData.fixturesJson()))), "run-sql"))
      val dimPlayer = Gold.dimPlayer(Silver.players(parsed))
      val gw = Gold.dimGameweek(Silver.gameweeks(parsed))
      val fact = Gold.fixtureHorizons(
        Gold.dimFixture(Silver.fixtures(parsedFx)), Gold.asOfGameweek(gw),
        java.sql.Date.valueOf("2025-08-12"), ts)
      val cat = new graft.tables.Catalog(s, wh)
      cat.bootstrap()
      cat.table("gold", "dim_player").overwrite(dimPlayer)
      cat.table("gold", "fact_team_fixture_horizon_snapshot").overwrite(fact)
      cat.registerViews()
      s.sql("""CREATE OR REPLACE TEMP VIEW vw_player_next3 AS
               SELECT f.snapshot_date, f.asof_gameweek_id, p.player_id,
                      p.team_id, f.h3_avg_fdr, f.h3_fixture_count
               FROM gold_dim_player p
               JOIN gold_fact_team_fixture_horizon_snapshot f
                 ON p.team_id = f.team_id""")
      s.sql("""SELECT player_id, team_id, h3_avg_fdr, h3_fixture_count
               FROM vw_player_next3
               ORDER BY h3_avg_fdr ASC, player_id ASC LIMIT 20""")
    }),
  )

  // ------------------------------------------------------------------
  // DuckDB oracle SQL — same column names, same ordering, same rounding.
  // ------------------------------------------------------------------

  /** The BPE training loop's oracle prologue: word histogram +
    * initial character symbols (space-joined string form — symbols
    * never contain spaces, so the join is unambiguous). MATERIALIZED
    * keeps DuckDB from re-inlining the chain per reference (the
    * naive CTE chain re-evaluates exponentially). */
  private def bpeOracleHead(carryWord: Boolean): String = {
    val sel = if (carryWord) "word, " else ""
    s"""WITH wf AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
       |      AS word FROM documents)
       |  WHERE length(word) > 0 GROUP BY 1),
       |w0 AS MATERIALIZED (
       |  SELECT ${sel}array_to_string(string_split(word, ''), ' ')
       |    || ' </w>' AS s, freq FROM wf),
       |""".stripMargin
  }

  /** K BPE rounds as chained CTEs: pair counts → deterministic argmax
    * (count DESC, pair ASC — Spark's binary string order) → greedy
    * left-to-right merge via the double-space replace trick
    * (`' a  b '` patterns on a double-spaced copy match exactly the
    * non-overlapping left-to-right occurrences BPE merges). */
  private def bpeOracleIters(k: Int, carryWord: Boolean): String = {
    val sel = if (carryWord) "w.word, " else ""
    (0 until k).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT p.l AS l, p.r AS r, sum(freq) AS c FROM (
         |    SELECT unnest(list_transform(range(1, len(li)), x ->
         |      struct_pack(l := li[x], r := li[x+1]))) AS p, freq
         |    FROM (SELECT string_split(s, ' ') AS li, freq FROM w$i))
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (
         |  SELECT l, r, c FROM p$i ORDER BY c DESC, l ASC, r ASC LIMIT 1),
         |w${i + 1} AS MATERIALIZED (
         |  SELECT ${sel}trim(replace(replace(
         |    ' ' || replace(w.s, ' ', '  ') || ' ',
         |    ' ' || b.l || '  ' || b.r || ' ',
         |    ' ' || b.l || b.r || ' '), '  ', ' ')) AS s, w.freq
         |  FROM w$i w CROSS JOIN b$i b)""".stripMargin
    }.mkString(",\n")
  }

  def oracleSql: Map[String, String] = Map(
    "q_range_join" ->
      """SELECT i.event_id AS iid, CAST(count(*) AS BIGINT) AS n_points
        |FROM (SELECT event_id, ts FROM events WHERE event_id % 97 = 0) i
        |JOIN events p
        |  ON p.ts >= i.ts AND p.ts <= i.ts + INTERVAL 30 MINUTE
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_cc_components" ->
      """WITH e AS (
        |  SELECT event_id AS src, event_id + 1 AS dst FROM events ev
        |  WHERE (event_id % 7 < 3 OR event_id % 5 = 0)
        |    AND EXISTS (SELECT 1 FROM events e2
        |                WHERE e2.event_id = ev.event_id + 1)),
        |verts AS (
        |  SELECT DISTINCT v FROM (
        |    SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
        |flagged AS (
        |  SELECT v, CASE WHEN EXISTS (SELECT 1 FROM e WHERE e.dst = v)
        |    THEN 0 ELSE 1 END AS is_start FROM verts),
        |islands AS (
        |  SELECT v, sum(is_start) OVER (ORDER BY v) AS comp FROM flagged),
        |sizes AS (SELECT comp, count(*) AS size FROM islands GROUP BY 1)
        |SELECT CAST(size AS BIGINT) AS size,
        |  CAST(count(*) AS BIGINT) AS n_components
        |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_txt_top_terms" ->
      """SELECT term, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |      FROM documents)
        |WHERE length(term) > 0
        |GROUP BY 1 ORDER BY n DESC, term ASC LIMIT 20""".stripMargin,

    "q_scd2_dim" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment FROM customer)
        |SELECT * FROM (
        |  SELECT c_custkey, c_mktsegment,
        |    epoch_ms(TIMESTAMP '2025-01-01 00:00:00') AS from_ms,
        |    CAST(-1 AS BIGINT) AS to_ms, TRUE AS is_current
        |  FROM c WHERE c_custkey % 3 <> 0
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment,
        |    epoch_ms(TIMESTAMP '2025-01-01 00:00:00'),
        |    epoch_ms(TIMESTAMP '2025-02-01 00:00:00'), FALSE
        |  FROM c WHERE c_custkey % 3 = 0
        |  UNION ALL
        |  SELECT c_custkey, 'REASSIGNED',
        |    epoch_ms(TIMESTAMP '2025-02-01 00:00:00'),
        |    CAST(-1 AS BIGINT), TRUE
        |  FROM c WHERE c_custkey % 3 = 0)
        |ORDER BY c_custkey, from_ms""".stripMargin,

    "q_url_canon" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://WWW.Example' || (doc_id % 7) || '.com/Path' ||
        |    (doc_id % 5) ||
        |    CASE WHEN doc_id % 2 = 0
        |      THEN '/?utm_source=x&id=' || (doc_id % 3) || '&fbclid=abc#frag'
        |      ELSE '/' END AS url
        |  FROM documents WHERE doc_id < 50),
        |c AS (
        |  SELECT doc_id, url,
        |    regexp_replace(url, '#.*$', '') AS nofrag
        |  FROM u),
        |p AS (
        |  SELECT doc_id, url,
        |    regexp_replace(
        |      lower(regexp_extract(nofrag,
        |        '^((?:[A-Za-z][A-Za-z0-9+.-]*://)?[^/?]+)', 1)),
        |      '^(www\.|([A-Za-z][A-Za-z0-9+.-]*://)www\.)', '\2') AS host,
        |    regexp_replace(nofrag,
        |      '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?[^/?]+', '') AS rest
        |  FROM c),
        |q AS (
        |  SELECT doc_id, url, host,
        |    regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(rest,
        |        '([?&])(utm_[A-Za-z]+|fbclid|gclid)=[^&#]*', '\1', 'g'),
        |      '\?[?&]+', '?', 'g'), '&[?&]+', '&', 'g'),
        |      '[?&]+$', '') AS tidy
        |  FROM p)
        |SELECT doc_id, url, host || regexp_replace(tidy, '/$', '') AS canonical
        |FROM q ORDER BY doc_id""".stripMargin,

    "q_stats_corr" ->
      """WITH e AS (
        |  SELECT event_type, user_id % 97 AS x, event_id % 101 AS y
        |  FROM events),
        |s AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
        |  FROM e GROUP BY 1)
        |SELECT event_type, n,
        |  round(CAST(n*sxy - sx*sy AS DOUBLE) /
        |    sqrt(CAST(n*sxx - sx*sx AS DOUBLE) *
        |         CAST(n*syy - sy*sy AS DOUBLE)), 6) AS corr6
        |FROM s ORDER BY event_type""".stripMargin,

    "q_txt_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents WHERE doc_id < 100),
        |base AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(tk) END AS INTEGER) AS n_tokens,
        |    1.0 - CAST(len(list_distinct(tk)) AS DOUBLE)
        |        / CAST(len(tk) AS DOUBLE) AS dup_frac
        |  FROM toks),
        |grams AS (
        |  SELECT doc_id, array_to_string(tk[i:i+1], ' ') AS g
        |  FROM toks, unnest(range(1, len(tk))) AS r(i)
        |  WHERE len(tk) >= 2),
        |gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
        |top AS (
        |  SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
        |    AS top_frac
        |  FROM gc GROUP BY 1)
        |SELECT b.doc_id, b.n_tokens,
        |  round(b.dup_frac, 4) AS dup_frac4,
        |  round(coalesce(t.top_frac, 0.0), 4) AS bigram_frac4
        |FROM base b LEFT JOIN top t USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,

    "q_topk_terms" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |pairs AS (
        |  SELECT doc_id, i - 1 AS pos, tk[i] AS value
        |  FROM toks, unnest(range(1, len(tk) + 1)) AS r(i)),
        |v2 AS (SELECT doc_id, pos, value FROM pairs WHERE length(value) > 0),
        |cand AS (
        |  SELECT value FROM v2
        |  WHERE (doc_id * 1000003 + pos) % 16 < 2
        |  GROUP BY value ORDER BY count(*) DESC, value ASC LIMIT 40)
        |SELECT value, CAST(count(*) AS BIGINT) AS n
        |FROM v2 WHERE value IN (SELECT value FROM cand)
        |GROUP BY value ORDER BY n DESC, value ASC LIMIT 10""".stripMargin,

    "q_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.t
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT CAST(1 AS INT) AS step, 'view' AS step_type,
        |  (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_entities
        |UNION ALL SELECT 2, 'click', (SELECT CAST(count(*) AS BIGINT) FROM s2)
        |UNION ALL SELECT 3, 'purchase', (SELECT CAST(count(*) AS BIGINT) FROM s3)
        |ORDER BY step""".stripMargin,

    "q_txt_redact" ->
      """WITH aug AS (
        | SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
        |   || '@example.com see https://ex.org/d/' || CAST(doc_id AS VARCHAR)
        |   AS a FROM documents),
        |red AS (
        | SELECT doc_id, regexp_replace(
        |   regexp_replace(a, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |     '<EMAIL>', 'g'),
        |   'https?://[^\s]+', '<URL>', 'g') AS red FROM aug)
        |SELECT doc_id, CAST(length(red) AS INT) AS redacted_len,
        | CAST((length(red) - length(replace(red, '<EMAIL>', ''))) / 7 AS INT)
        |   AS n_emails,
        | CAST((length(red) - length(replace(red, '<URL>', ''))) / 5 AS INT)
        |   AS n_urls
        |FROM red ORDER BY doc_id""".stripMargin,

    "q_sample_hash" ->
      """SELECT doc_id FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
        |ORDER BY doc_id""".stripMargin,

    "q_sample_split" ->
      """SELECT CASE
        |  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |    IN ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
        |  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |    IN ('c','d') THEN 'val'
        |  ELSE 'test' END AS split, CAST(count(*) AS BIGINT) AS n
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_stats_quantiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_quantity, 0.25), 2) AS q25,
        | round(quantile_cont(l_quantity, 0.5), 2) AS q50,
        | round(quantile_cont(l_quantity, 0.75), 2) AS q75,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_sql_view_report" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        | round(sum(o_totalprice), 2) AS total_price
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_sql_warehouse" ->
      """SELECT r_name, CAST(count(*) AS BIGINT) AS n_suppliers,
        | round(sum(s_acctbal), 2) AS total_acctbal
        |FROM supplier s
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q_sql_timetravel" ->
      """SELECT (SELECT CAST(count(*) AS BIGINT) FROM nation) AS n_v0,
        | (SELECT CAST(count(*) AS BIGINT) FROM nation) AS n_asof,
        | (SELECT CAST(count(*) AS BIGINT) FROM nation
        |  WHERE n_regionkey = 0) AS n_current""".stripMargin,

    // The maintenance lifecycle's structural counts are all determined
    // by the DDL (3 appends -> OPTIMIZE folds to 1 file-set -> VACUUM
    // reclaims exactly the 3 superseded sets -> 4 log versions), and the
    // data survives untouched — replayed from the raw parquet.
    "q_sql_mv" ->
      """SELECT o_orderstatus,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key,
        |  'incremental' AS mode1, 'noop' AS mode_opt,
        |  'full' AS mode2, TRUE AS mv_served
        |FROM orders WHERE o_orderkey > 1000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_mv7_minmax_refresh" ->
      """WITH base AS (
        |  SELECT o_orderstatus, CAST(o_orderkey AS BIGINT) AS k
        |  FROM orders
        |  UNION ALL
        |  SELECT DISTINCT o_orderstatus, CAST(900000000000 AS BIGINT)
        |  FROM orders),
        |kept AS (
        |  SELECT * FROM base WHERE k % 7 <> 0
        |    AND NOT (o_orderstatus = 'F' AND k = 900000000000))
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(min(k) AS BIGINT) AS min_key,
        |  CAST(max(k) AS BIGINT) AS max_key,
        |  'groups' AS mode1, 'groups' AS mode2, TRUE AS carried,
        |  TRUE AS max_lowered, TRUE AS mv_served
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_mv8_filtered" ->
      """WITH src AS (
        |  SELECT CAST(event_id AS BIGINT) AS event_id,
        |    CASE WHEN event_id % 100 = 0 THEN 'upd' ELSE event_type END
        |      AS event_type
        |  FROM events WHERE event_id < 4000)
        |SELECT event_type,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  CAST(count(event_id) AS BIGINT) AS cnt_id,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  'incremental' AS mode1, 'cdf' AS mode2
        |FROM src WHERE event_id % 10 < 5
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_sql_widen" ->
      """WITH w AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation
        |  UNION ALL
        |  SELECT CAST(n_nationkey AS BIGINT) + 10000000000 AS k FROM nation)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(min(k) AS BIGINT) AS min_k,
        |  CAST(max(k) AS BIGINT) AS max_k,
        |  'bigint' AS k_type,
        |  (SELECT CAST(count(*) AS BIGINT) FROM nation) AS pre_ddl_rows,
        |  'int' AS pre_ddl_type
        |FROM w""".stripMargin,

    "q_sql_optimize" ->
      """SELECT (SELECT CAST(count(*) AS BIGINT) FROM nation) AS n_rows,
        | (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM nation) AS sum_key,
        | CAST(1 AS BIGINT) AS file_sets_after,
        | CAST(3 AS BIGINT) AS n_previewed,
        | CAST(3 AS BIGINT) AS n_reclaimed,
        | CAST(4 AS BIGINT) AS n_versions""".stripMargin,

    // Exactly-once table-stream delivery: the sink must hold precisely
    // the source relation — a dropped batch loses rows, a replayed
    // batch duplicates them; either breaks the hash.
    "q_st8_table_stream" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    // Update-mode sink parity: cumulative per-key aggregates merged
    // across micro-batches must equal the batch GROUP BY — a dropped
    // update leaves a stale cumulative row, a mis-keyed merge leaves
    // two rows for one key; either breaks the hash.
    "q_st9_update_sink" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |  CAST(count(*) AS BIGINT) AS n_nations,
        |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin,

    // APPLY CHANGES convergence: the replica must equal the source's
    // final state — upper-cased names where the updates hit, deleted
    // regions absent, everything else verbatim. A missed delete, a
    // stale update, or a replayed batch all break the hash.
    "q_st10_apply_changes" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  CASE WHEN n_regionkey IN (1,3) THEN upper(n_name) ELSE n_name END
        |    AS n_name_final,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation WHERE n_regionkey NOT IN (2,4)
        |ORDER BY n_nationkey""".stripMargin,

    "q_dd9_edit_pairs" ->
      """WITH corpus AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 2000000, 'Z' || text
        | FROM documents WHERE doc_id % 13 = 0),
        |sh AS (
        | SELECT doc_id, text,
        |   list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |     ELSE list_transform(range(1, len(toks) - 1),
        |            i -> array_to_string(toks[i:i+2], ' ')) END) AS shingles
        | FROM (SELECT doc_id, text,
        |         string_split_regex(trim(lower(text)), '\s+') AS toks
        |       FROM corpus)),
        |blocked AS (
        | SELECT doc_id, text, list_aggregate(shingles, 'min') AS block FROM sh),
        |big AS (SELECT block FROM blocked GROUP BY block HAVING count(*) > 1000)
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  CAST(levenshtein(a.text, b.text) AS INTEGER) AS edit_distance
        |FROM blocked a JOIN blocked b ON a.block = b.block AND a.doc_id < b.doc_id
        |  AND a.block NOT IN (SELECT block FROM big)
        |WHERE levenshtein(a.text, b.text) <= 2
        |ORDER BY doc_id_a, doc_id_b""".stripMargin,

    "q_m16_tags" ->
      """SELECT (SELECT CAST(count(*) AS BIGINT) FROM nation) AS n_now,
        |  (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM nation) AS sum_now,
        |  (SELECT CAST(count(*) AS BIGINT) FROM nation
        |     WHERE n_nationkey < 10) AS n0,
        |  (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM nation
        |     WHERE n_nationkey < 10) AS sum0,
        |  TRUE AS reclaimed_untagged""".stripMargin,

    // Partition evolution is layout-only: the per-region aggregates
    // before and after the migrating OPTIMIZE must both equal a plain
    // GROUP BY over nation.
    "q_m17_partition_evolution" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS rk,
        |  CAST(count(*) AS BIGINT) AS n2,
        |  CAST(sum(n_nationkey) AS BIGINT) AS sum_k2,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_nationkey) AS BIGINT) AS sum_k,
        |  'rk' AS layout
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_sql_explain_rewrite" ->
      """SELECT * FROM (VALUES
        | ('1_served_exact', 'served', TRUE,
        |  'exact group match — a projection of the MV'),
        | ('2_served_rollup', 'served', TRUE,
        |  'group subset — re-aggregated rollup of the MV'),
        | ('3_rejected_group', 'rejected', TRUE,
        |  'query groups by column(s) the MV does not group by: name'),
        | ('4_shape_bail', 'shape-bail', FALSE,
        |  'the aggregate''s source is not a plain (filtered) read of graft table snapshots, or an inner equi-join of them, or carries expressions the decomposition refuses'),
        | ('5_no_decision', 'no-decision', FALSE,
        |  'no traced rule applies: MV routing serves Aggregate shapes, join elimination needs a join over RELY-keyed graft tables, generated-column pruning needs a filter over a table with generated partition columns'),
        | ('6_stale_fell_back', 'stale-fell-back', TRUE,
        |  'armed over a DIFFERENT snapshot of the same table(s) — the source moved since the MV''s covered version; REFRESH MATERIALIZED VIEW re-arms it'),
        | ('7_served_after_refresh', 'served', TRUE,
        |  'exact group match — a projection of the MV')
        |) AS t(step, decision, has_mv, reason) ORDER BY step""".stripMargin,

    "q_sql_explain_rewrite_rules" ->
      """SELECT * FROM (VALUES
        | ('1_join_eliminated', 'join', 'join-eliminated', TRUE,
        |  'LEFT join to a RELY PRIMARY KEY covered by the equi-join columns with no dim column used — at most one match per row and every left row kept: the join is the left side'),
        | ('2_join_kept', 'join', 'join-kept', TRUE,
        |  'the query uses dim-side columns — the join is not pure existence/multiplicity plumbing'),
        | ('3_partition_pruned', 'scan', 'partition-pruned', TRUE,
        |  'derived partition filter (day >= ''2026-01-02'') through the generated-column contract — directory pruning instead of a data scan'),
        | ('3_partition_pruned', 'scan', 'partition-pruned', TRUE,
        |  'derived partition filter (day >= DATE ''2026-01-02'') through the generated-column contract — directory pruning instead of a data scan'),
        | ('4_prune_none', 'scan', 'prune-none', TRUE,
        |  'no top-level AND conjunct has the shape <source column> cmp literal that derives through the generation expression (range shapes need a monotone template), or the derived predicate is already present')
        |) AS t(step, node, decision, has_obj, reason)
        |ORDER BY step, node, decision, reason""".stripMargin,

    "q_m19_pin_vacuum" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_nationkey) AS BIGINT) AS sum_key,
        |  CAST(1 AS BIGINT) AS n_pins,
        |  CAST(0 AS BIGINT) AS n_reclaimed_under_pin,
        |  CAST(2 AS BIGINT) AS n_at_risk_ignoring_pins,
        |  TRUE AS pinned_version_live,
        |  CAST(2 AS BIGINT) AS n_reclaimed_after_advance,
        |  CAST(0 AS BIGINT) AS n_pins_after_drop
        |FROM nation""".stripMargin,

    "q_m20_pin_observability" ->
      """SELECT * FROM (VALUES
        | ('pin', 'gold.po_agg', 'cdc:/consumers/one',
        |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), TRUE),
        | ('pin', 'silver.po', 'mv:/gold/live',
        |  CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT), TRUE),
        | ('pin', 'silver.po', 'mv:/gold/stale',
        |  CAST(0 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT), TRUE),
        | ('vacuum_detail', 'pin-held', 'mv:/gold/stale',
        |  CAST(0 AS BIGINT), CAST(-1 AS BIGINT), CAST(2 AS BIGINT), TRUE)
        |) AS t(kind, subject, pin, version, latest_version, behind, ok)
        |ORDER BY kind, subject, pin""".stripMargin,

    "q_m21_pin_expire" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_nationkey) AS BIGINT) AS sum_key,
        |  TRUE AS refused_without_age,
        |  CAST(0 AS BIGINT) AS n_reclaimed_under_dead_pin,
        |  'mv:/gold/dead' AS expired_pin,
        |  CAST(0 AS BIGINT) AS expired_floor,
        |  CAST(1 AS BIGINT) AS n_expired,
        |  CAST(2 AS BIGINT) AS n_reclaimed_after_expire,
        |  'expire_pins' AS last_action,
        |  CAST(1 AS BIGINT) AS n_pins_left
        |FROM nation""".stripMargin,

    "q_mix_temperature" ->
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |b AS (SELECT CAST(count(*) AS BIGINT) // 3 AS budget FROM documents),
        |w AS (SELECT source, n,
        |    CAST(round(sqrt(n) * 1048576) AS HUGEINT) AS w FROM c),
        |sw AS (SELECT sum(w) AS s FROM w),
        |t AS (SELECT source, n,
        |    least(CAST((65536 * budget * w + (s * n) // 2) // (s * n)
        |      AS BIGINT), 65536) AS thr
        |  FROM w, sw, b),
        |k AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept
        |  FROM documents d JOIN t ON d.source = t.source
        |  WHERE t.thr >= 65536
        |     OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
        |        < printf('%04x', t.thr)
        |  GROUP BY 1)
        |SELECT t.source, t.n AS n_total,
        |  CAST(t.thr AS BIGINT) AS threshold,
        |  COALESCE(k.n_kept, 0) AS n_kept
        |FROM t LEFT JOIN k ON t.source = k.source
        |ORDER BY t.source""".stripMargin,

    "q_shard_assign" ->
      """WITH ranked AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    md5('graft:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
        |    row_number() OVER (
        |      ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id)
        |      - 1 AS r,
        |    count(*) OVER () AS t
        |  FROM documents)
        |SELECT doc_id, shuffle_key,
        |  CAST(floor(r * 8 / t) AS INTEGER) AS shard,
        |  CAST(r - floor((floor(r * 8 / t) * t + 7) / 8) AS BIGINT)
        |    AS shard_pos
        |FROM ranked ORDER BY doc_id""".stripMargin,

    "q_sketch_rollup" ->
      """SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct,
        |  TRUE AS estimate_ok, 'incremental' AS mode, 'groups' AS mode2,
        |  1 AS overwrites
        |FROM lineitem WHERE l_orderkey % 7 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_quant_rollup" ->
      """WITH f AS (SELECT l_returnflag AS flag FROM lineitem
        |           WHERE l_orderkey % 7 <> 0),
        |g AS (SELECT flag, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY 1)
        |SELECT flag, pct, n AS n_rows, n AS n_vals,
        |  TRUE AS within_bound, 'incremental' AS mode1, 'cdf' AS mode2
        |FROM g CROSS JOIN (VALUES (50), (99)) AS p(pct)
        |ORDER BY flag, pct""".stripMargin,

    "q_mv12_star" ->
      """WITH f AS (SELECT l_orderkey AS okey,
        |             CAST(l_quantity AS BIGINT) AS qty
        |           FROM lineitem WHERE l_orderkey % 9 <> 0),
        |o AS (SELECT o_orderkey AS okey, o_custkey AS ck FROM orders),
        |c AS (SELECT c_custkey AS ck, c_mktsegment AS seg FROM customer)
        |SELECT seg, CAST(sum(qty) AS BIGINT) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS cnt, 'cdf' AS mode, TRUE AS fresh
        |FROM f JOIN o USING (okey) JOIN c USING (ck)
        |GROUP BY seg ORDER BY seg""".stripMargin,

    "q_sql_governance" ->
      """SELECT 'BUILDING' AS who, CAST(count(*) AS BIGINT) AS n_visible,
        |  CAST(sum(CAST(floor(c_acctbal) AS BIGINT)) AS BIGINT) AS sum_bal,
        |  min('***' || right(c_name, 4)) AS min_name
        |FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION ALL
        |SELECT 'admin' AS who, CAST(count(*) AS BIGINT) AS n_visible,
        |  CAST(sum(CAST(floor(c_acctbal) AS BIGINT)) AS BIGINT) AS sum_bal,
        |  min(c_name) AS min_name
        |FROM customer ORDER BY who""".stripMargin,

    "q_cms_heavyhitters" ->
      """WITH it AS (SELECT l_returnflag AS flag,
        |  'b' || CAST(CAST(floor(log2(l_orderkey % 1024 + 1)) AS INT)
        |             AS VARCHAR) AS item FROM lineitem),
        |c AS (SELECT flag, item, count(*) AS cnt FROM it GROUP BY 1, 2),
        |r AS (SELECT flag, item, cnt, row_number() OVER (
        |        PARTITION BY flag ORDER BY cnt DESC, item) AS rank
        |      FROM c)
        |SELECT flag, item, CAST(cnt AS BIGINT) AS est_count,
        |  CAST(rank AS INT) AS rank, 'incremental' AS mode
        |FROM r WHERE rank <= 5 ORDER BY flag, rank""".stripMargin,

    "q_sql_mv_hll" ->
      """SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct,
        |  TRUE AS estimate_ok, 'incremental' AS mode,
        |  TRUE AS sketch_stored
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_st14_skip_changes" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS nk, n_name AS name,
        |  (SELECT CAST(count(*) AS BIGINT) FROM nation
        |   WHERE NOT (n_nationkey % 2 = 0 AND n_nationkey < 5))
        |    AS src_rows,
        |  TRUE AS survived_change_commit
        |FROM nation ORDER BY nk""".stripMargin,

    // one surviving row per distinct content hash, however many times
    // the upstream delivered it
    "q_st16_dedup_sink" ->
      """WITH hashes AS (SELECT DISTINCT sha256(text) AS h FROM documents)
        |SELECT h, (SELECT CAST(count(*) AS BIGINT) FROM hashes) AS n_rows
        |FROM hashes ORDER BY h""".stripMargin,

    // final fact state ⋈ ORIGINAL dim rows (the stream's recorded pin —
    // the post-round-1 dim overwrite must be invisible)
    "q_st15_join_mv_stream" ->
      """WITH base AS (SELECT o_custkey AS ck, o_orderkey AS ok,
        |                CAST(floor(o_totalprice) AS BIGINT) AS p
        |              FROM orders),
        |fin AS (SELECT ck,
        |          CASE WHEN ok % 10 = 3 THEN p + 1000 ELSE p END AS p
        |        FROM base WHERE ok > 999),
        |c AS (SELECT c_custkey AS ck, c_mktsegment AS seg FROM customer)
        |SELECT seg, CAST(sum(p) AS BIGINT) AS sum_p,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(count(p) AS BIGINT) AS cnt_p
        |FROM fin JOIN c USING (ck) GROUP BY seg ORDER BY seg""".stripMargin,

    "q_sql_comment" ->
      """SELECT * FROM (VALUES
        |  ('name', 'string', '', 'regions of record'),
        |  ('rk', 'bigint', 'region key', 'regions of record'))
        |AS t(col_name, data_type, comment, table_comment)
        |ORDER BY col_name""".stripMargin,

    "q_sql_pkfk_elim" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
        |    AS sum_price,
        |  TRUE AS inner_join_free, TRUE AS left_join_free
        |FROM orders""".stripMargin,

    "q_sql_undrop" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS nk, n_name AS name,
        |  TRUE AS was_in_trash, TRUE AS history_intact
        |FROM nation ORDER BY nk""".stripMargin,

    "q_m18_generated_prune" ->
      """WITH s AS (SELECT CAST(l_shipdate AS VARCHAR) AS ship,
        |             CAST(l_quantity AS BIGINT) AS qty FROM lineitem),
        |m AS (SELECT DISTINCT substring(ship, 1, 7) AS mo FROM s)
        |SELECT
        |  (SELECT CAST(sum(qty) AS BIGINT) FROM s
        |   WHERE ship >= '1997-01-01') AS sum_qty,
        |  (SELECT CAST(count(*) AS BIGINT) FROM m
        |   WHERE mo >= '1997-01') AS parts_scanned,
        |  (SELECT CAST(count(*) AS BIGINT) FROM m) AS parts_total,
        |  TRUE AS pruned""".stripMargin,

    "q_sql_mv_topk" ->
      """WITH it AS (SELECT l_returnflag AS flag,
        |  'b' || CAST(CAST(floor(log2(l_orderkey % 1024 + 1)) AS INT)
        |             AS VARCHAR) AS item
        |  FROM lineitem WHERE l_orderkey % 7 <> 0),
        |n AS (SELECT flag, CAST(count(*) AS BIGINT) AS n_rows
        |      FROM it GROUP BY 1),
        |c AS (SELECT flag, item, count(*) AS cnt FROM it GROUP BY 1, 2),
        |r AS (SELECT flag, item, cnt, row_number() OVER (
        |        PARTITION BY flag ORDER BY cnt DESC, item) AS rank
        |      FROM c)
        |SELECT r.flag, n.n_rows, CAST(r.rank AS INT) AS rank, r.item,
        |  CAST(r.cnt AS BIGINT) AS est_count,
        |  'incremental' AS mode1, 'groups' AS mode2
        |FROM r JOIN n ON r.flag = n.flag
        |WHERE r.rank <= 5 ORDER BY 1, 3""".stripMargin,

    "q_sql_mv_quant" ->
      """WITH f AS (SELECT l_returnflag AS flag FROM lineitem
        |           WHERE l_orderkey % 7 <> 0),
        |g AS (SELECT flag, CAST(count(*) AS BIGINT) AS n_rows
        |      FROM f GROUP BY 1)
        |SELECT flag, pct, n_rows, TRUE AS within_bound,
        |  'incremental' AS mode1, 'cdf' AS mode2, TRUE AS hist_stored
        |FROM g CROSS JOIN (VALUES (50), (99)) AS p(pct)
        |ORDER BY flag, pct""".stripMargin,

    "q_sql_mv_join" ->
      """WITH base AS (SELECT o_custkey AS ck, o_orderkey AS ok,
        |                CAST(floor(o_totalprice) AS BIGINT) AS p
        |              FROM orders),
        |fin AS (SELECT ck, p FROM base WHERE ok % 9 <> 0),
        |c AS (SELECT c_custkey AS ck, c_mktsegment AS seg FROM customer)
        |SELECT seg, CAST(sum(p) AS BIGINT) AS sum_p,
        |  CAST(count(*) AS BIGINT) AS n,
        |  'cdf' AS mode, TRUE AS fresh, TRUE AS mv_served
        |FROM fin JOIN c USING (ck) GROUP BY seg ORDER BY seg""".stripMargin,

    "q_mv10_join_rewrite" ->
      """WITH f AS (SELECT o_custkey AS ck,
        |             CAST(floor(o_totalprice) AS BIGINT) AS p FROM orders),
        |c AS (SELECT c_custkey AS ck, c_mktsegment AS seg FROM customer)
        |SELECT seg, CAST(sum(p) AS BIGINT) AS sum_p,
        |  CAST(count(*) AS BIGINT) AS n,
        |  TRUE AS mv_served_before, TRUE AS stale_fell_back,
        |  TRUE AS mv_served_after, 'cdf' AS mode
        |FROM f JOIN c USING (ck) GROUP BY seg ORDER BY seg""".stripMargin,

    "q_mv11_join_sync" ->
      """WITH base AS (SELECT o_custkey AS ck, o_orderkey AS ok,
        |                CAST(floor(o_totalprice) AS BIGINT) AS p
        |              FROM orders),
        |fin AS (SELECT ck, CASE WHEN ok % 7 = 0 THEN p + 1000 ELSE p END AS p
        |        FROM base WHERE ok % 5 <> 0),
        |c AS (SELECT c_custkey AS ck, c_mktsegment AS seg FROM customer)
        |SELECT seg, CAST(sum(p) AS BIGINT) AS sum_p,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  'cdf' AS mode, 1 AS overwrites
        |FROM fin JOIN c USING (ck) GROUP BY seg ORDER BY seg""".stripMargin,

    // same current-view join through the SQL funnel (join-form WHERE)
    "q_sql_mv_scd2" ->
      """WITH f AS (SELECT o_custkey AS ck,
        |             CAST(floor(o_totalprice) AS BIGINT) AS p FROM orders),
        |c AS (SELECT c_custkey AS ck,
        |        CASE WHEN c_custkey % 10 = 0 THEN 'PROMOTED'
        |             ELSE c_mktsegment END AS seg FROM customer)
        |SELECT seg, CAST(sum(p) AS BIGINT) AS sum_p,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  'cdf-dims' AS mode, 1 AS overwrites
        |FROM f JOIN c USING (ck) GROUP BY seg ORDER BY seg""".stripMargin,

    // the SCD2 current-view join after the re-segmentation batch: every
    // 10th customer's CURRENT version carries the new segment; the MV
    // absorbed the batch as a dim-side signed delta (mode literal), one
    // overwrite ever (the CREATE's materialization)
    "q_mv13_scd2_dim" ->
      """WITH f AS (SELECT o_custkey AS ck,
        |             CAST(floor(o_totalprice) AS BIGINT) AS p FROM orders),
        |c AS (SELECT c_custkey AS ck,
        |        CASE WHEN c_custkey % 10 = 0 THEN 'PROMOTED'
        |             ELSE c_mktsegment END AS seg FROM customer)
        |SELECT seg, CAST(sum(p) AS BIGINT) AS sum_p,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  'cdf-dims' AS mode, 1 AS overwrites
        |FROM f JOIN c USING (ck) GROUP BY seg ORDER BY seg""".stripMargin,
    "q_mv5_rollup" ->
      """SELECT l_returnflag AS rf,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
        |  CAST(max(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty,
        |  avg(CAST(l_quantity AS BIGINT)) AS avg_qty,
        |  (SELECT CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
        |     FROM lineitem) AS g_sum,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS g_rows,
        |  TRUE AS rollup_from_mv, TRUE AS global_from_mv
        |FROM lineitem WHERE l_linestatus = 'F'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Streaming MV maintenance: final aggregate over surviving rows.
    "q_st13_sketch_sink" ->
      """SELECT l_returnflag AS flag,
        |  CAST(min(floor(l_extendedprice)) AS BIGINT) AS min_p,
        |  CAST(max(floor(l_extendedprice)) AS BIGINT) AS max_p,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct,
        |  TRUE AS estimate_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_st12_mv_stream" ->
      """WITH survivors AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CASE WHEN o_orderkey % 10 = 3 THEN 'X' ELSE o_orderstatus END
        |      AS o_orderstatus
        |  FROM orders WHERE o_orderkey > 999)
        |SELECT o_orderstatus,
        |  CAST(sum(k) AS BIGINT) AS sum_key,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(count(k) AS BIGINT) AS cnt_key
        |FROM survivors GROUP BY 1 ORDER BY 1""".stripMargin,

    // CDF-across-rename feed: every era's rows under the current name.
    "q_cdf_rename_feed" ->
      """SELECT CAST(0 AS BIGINT) AS cv, 'insert' AS ct,
        |  CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  n_name AS nation_name, CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation
        |UNION ALL SELECT CAST(2 AS BIGINT), 'update_preimage',
        |  CAST(n_nationkey AS BIGINT), n_name, CAST(n_regionkey AS BIGINT)
        |FROM nation WHERE n_regionkey = 1
        |UNION ALL SELECT CAST(2 AS BIGINT), 'update_postimage',
        |  CAST(n_nationkey AS BIGINT), n_name || '!', CAST(n_regionkey AS BIGINT)
        |FROM nation WHERE n_regionkey = 1
        |UNION ALL SELECT CAST(3 AS BIGINT), 'delete',
        |  CAST(n_nationkey AS BIGINT), n_name, CAST(n_regionkey AS BIGINT)
        |FROM nation WHERE n_regionkey = 2
        |ORDER BY cv, ct, n_nationkey""".stripMargin,

    // Delete-by-source MERGE: everything except region 2 survives,
    // exactly once, after a deliberate statement replay.
    "q_sql_merge_delete" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation WHERE n_regionkey <> 2 ORDER BY n_nationkey""".stripMargin,

    // Conditional MERGE end state: region 2 deleted, region 1 names
    // uppercased (other matched columns untouched), shifted region-0
    // keys inserted with a computed name; region-1 shifted keys fail
    // the insert guard and land nowhere.
    "q_sql_merge_conditional" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  CASE WHEN n_regionkey = 1 THEN upper(n_name) ELSE n_name END
        |    AS n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation WHERE n_regionkey <> 2
        |UNION ALL
        |SELECT CAST(n_nationkey + 100 AS BIGINT), n_name || '_new',
        |  CAST(n_regionkey AS BIGINT)
        |FROM nation WHERE n_regionkey = 0
        |ORDER BY n_nationkey""".stripMargin,

    // NOT MATCHED BY SOURCE end state: matched rows (regions 0-1)
    // lowercased, unmatched region 4 deleted, remaining unmatched rows
    // (regions 2-3) renamed 'stale' by the second by-source clause.
    "q_sql_merge_by_source" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  CASE WHEN n_regionkey <= 1 THEN lower(n_name)
        |       ELSE 'stale' END AS n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation WHERE n_regionkey <> 4
        |ORDER BY n_nationkey""".stripMargin,

    // RENAME COLUMN mapping: the full relation must surface under the
    // NEW name regardless of which side of the rename each row's file
    // landed on, and version 0 must still carry the old name.
    "q_sql_rename_col" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  n_name AS nation_name, CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |  true AS v0_has_old_name, false AS v0_has_new_name
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    // DROP COLUMN mapping: the full relation without the dropped
    // column, regardless of which generation each row's file belongs
    // to; version 0 must still carry it.
    "q_sql_drop_col" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |  true AS v0_had_scratch, false AS now_has_scratch
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    // Exactly-once file ingest: the table is the full relation, loaded
    // as 1 file, then 0 (idempotent rerun), then 1 late arrival.
    "q_sql_copy_into" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |  CAST(1 AS BIGINT) AS n_loaded_1, CAST(0 AS BIGINT) AS n_loaded_2,
        |  CAST(1 AS BIGINT) AS n_loaded_3
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    // The DML chain replayed as pure set algebra: CTAS+INSERT = base,
    // UPDATE = CASE projection, DELETE = filter, MERGE upsert = source
    // UNION target-minus-source-keys. 5 versions: CTAS, INSERT, UPDATE,
    // DELETE, MERGE.
    "q_sql_dml" ->
      """WITH base AS (
        |  SELECT n_nationkey, n_name, n_regionkey FROM nation
        |  UNION ALL SELECT 100, 'ATLANTIS', 0),
        |upd AS (
        |  SELECT n_nationkey,
        |    CASE WHEN n_regionkey = 3 THEN n_name || '_EU'
        |         ELSE n_name END AS n_name,
        |    CASE WHEN n_regionkey = 3 THEN n_regionkey + 10
        |         ELSE n_regionkey END AS n_regionkey
        |  FROM base),
        |del AS (SELECT * FROM upd WHERE n_regionkey <> 2),
        |src AS (
        |  SELECT n_nationkey, upper(n_name) AS n_name, n_regionkey
        |  FROM nation WHERE n_nationkey < 3),
        |merged AS (
        |  SELECT * FROM src
        |  UNION ALL
        |  SELECT * FROM del
        |  WHERE n_nationkey NOT IN (SELECT n_nationkey FROM src))
        |SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |  CAST(5 AS BIGINT) AS n_versions
        |FROM merged ORDER BY n_nationkey""".stripMargin,

    // Adoption lifecycle: one converted file-set, one analyzed, keys
    // 5..9 in range, and the clone serves the full 25-nation relation.
    "q_sql_convert" ->
      """SELECT CAST(1 AS BIGINT) AS n_file_sets,
        | CAST(1 AS BIGINT) AS n_analyzed,
        | (SELECT CAST(count(*) AS BIGINT) FROM nation
        |  WHERE n_nationkey BETWEEN 5 AND 9) AS n_ranged,
        | (SELECT CAST(count(*) AS BIGINT) FROM nation) AS n_fork_rows,
        | (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM nation)
        |   AS sum_fork_key""".stripMargin,

    // Deterministic over the SampleData fixtures (3 players × 4 teams,
    // fixed FDRs), so the oracle is the expected relation as literals;
    // h3_avg_fdr values are written as DOUBLE divisions so both engines
    // produce bit-identical IEEE results (avg = sum/count in double).
    "q_sql_horizon" ->
      """SELECT * FROM (VALUES
        | (7,  3, CAST(2 AS DOUBLE),    CAST(3 AS BIGINT)),
        | (8,  3, CAST(2 AS DOUBLE),    CAST(3 AS BIGINT)),
        | (9,  3, CAST(2 AS DOUBLE),    CAST(3 AS BIGINT)),
        | (4,  2, CAST(8 AS DOUBLE)/3,  CAST(3 AS BIGINT)),
        | (5,  2, CAST(8 AS DOUBLE)/3,  CAST(3 AS BIGINT)),
        | (6,  2, CAST(8 AS DOUBLE)/3,  CAST(3 AS BIGINT)),
        | (10, 4, CAST(3 AS DOUBLE),    CAST(3 AS BIGINT)),
        | (11, 4, CAST(3 AS DOUBLE),    CAST(3 AS BIGINT)),
        | (12, 4, CAST(3 AS DOUBLE),    CAST(3 AS BIGINT)),
        | (1,  1, CAST(10 AS DOUBLE)/3, CAST(3 AS BIGINT)),
        | (2,  1, CAST(10 AS DOUBLE)/3, CAST(3 AS BIGINT)),
        | (3,  1, CAST(10 AS DOUBLE)/3, CAST(3 AS BIGINT))
        |) AS t(player_id, team_id, h3_avg_fdr, h3_fixture_count)
        |ORDER BY h3_avg_fdr, player_id""".stripMargin,

    // Deterministic over SampleData: the recommender must surface the
    // single affordable upgrade (out=1 -> in=5) with all constraints
    // satisfied — pinned as literals (GoldSpec pins the constraint logic).
    "q_fpl_recommend" ->
      """SELECT * FROM (VALUES
        | (1, 5, CAST(4 AS DOUBLE), 12,
        |  'budget_ok,position_match,team_limit_ok')
        |) AS t(out_player_id, in_player_id, expected_points_delta,
        |       cost_delta_tenths_million, constraint_flags)""".stripMargin,

    // Incrementally-maintained MV ≡ full recompute of the source's final
    // state (updates move %10=3 keys to group X, keys <= 499 deleted).
    "q_cdc_consumer" ->
      """WITH cur AS (
        |  SELECT CASE WHEN o_orderkey % 10 = 3 THEN 'X'
        |              ELSE o_orderstatus END AS o_orderstatus,
        |         o_orderkey
        |  FROM orders WHERE o_orderkey > 499)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM cur GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_mv2_partition_incremental" ->
      """SELECT strftime(ts, '%Y-%m') AS snapshot_month,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(event_id) AS BIGINT) AS sum_id
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_m9_partitioned_merge" ->
      """SELECT CASE WHEN event_id % 10 = 0 THEN 'updated' ELSE event_type END
        |   AS event_type,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(event_id) AS BIGINT) AS sum_id
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_sql_detail" ->
      """SELECT CAST(4 AS INT) AS num_buckets,
        | 'event_id' AS bucket_keys,
        | 'snapshot_month' AS partition_columns,
        | CAST(TRUE AS BOOLEAN) AS change_feed_enabled,
        | CAST(1 AS INT) AS num_checks,
        | CAST(0 AS INT) AS num_generated_columns,
        | CAST(0 AS INT) AS num_deletion_vectors,
        | CAST(1 AS INT) AS num_renamed_columns,
        | CAST(0 AS INT) AS num_dropped_columns,
        | 'event_type->ev_type' AS column_mapping,
        | CAST(0 AS INT) AS num_identity_columns,
        | 'owner=graft;quality=silver' AS properties,
        | CAST(1 AS INT) AS num_tags,
        | 'audit=v0' AS tags""".stripMargin,

    // After losing the k<10 file-set and repairing, the head holds
    // exactly the k>=10 rows; one file-set was previewed and removed.
    "q_sql_fsck" ->
      """SELECT (SELECT CAST(count(*) AS BIGINT) FROM nation
        |          WHERE n_nationkey >= 10) AS n_rows,
        |  (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM nation
        |          WHERE n_nationkey >= 10) AS sum_k,
        |  CAST(1 AS BIGINT) AS n_missing_preview,
        |  CAST(1 AS BIGINT) AS n_removed""".stripMargin,

    // The grants ledger after the script (revoked silver row gone) with
    // the three enforcement probe flags, all TRUE by construction.
    "q_sql_grants" ->
      """SELECT * FROM (VALUES
        | ('football-engineers', 'MODIFY',      'SCHEMA',  'gold'),
        | ('football-engineers', 'SELECT',      'SCHEMA',  'gold'),
        | ('football-engineers', 'USE CATALOG', 'CATALOG', 'football'),
        | ('football-engineers', 'USE SCHEMA',  'SCHEMA',  'gold'),
        | ('football-readers',   'SELECT',      'TABLE',   'gold.dim_player'),
        | ('football-readers',   'USE CATALOG', 'CATALOG', 'football'),
        | ('football-readers',   'USE SCHEMA',  'SCHEMA',  'gold')
        |) AS t(principal, privilege, object_type, object),
        | (SELECT CAST(TRUE AS BOOLEAN) AS read_ok,
        |         CAST(TRUE AS BOOLEAN) AS write_denied,
        |         CAST(TRUE AS BOOLEAN) AS write_ok) AS probes""".stripMargin,

    // Identity envelope: batch 1 (nation) gets ids 1..25, batch 2
    // (region) continues contiguously at 26..30 — dense within a write,
    // disjoint across writes.
    "q_sql_identity" ->
      """SELECT 1 AS batch, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(1 AS BIGINT) AS min_id,
        |  CAST(count(*) AS BIGINT) AS max_id,
        |  CAST(count(*) AS BIGINT) AS n_distinct
        |FROM nation
        |UNION ALL
        |SELECT 2, CAST((SELECT count(*) FROM region) AS BIGINT),
        |  CAST((SELECT count(*) FROM nation) + 1 AS BIGINT),
        |  CAST((SELECT count(*) FROM nation) +
        |       (SELECT count(*) FROM region) AS BIGINT),
        |  CAST((SELECT count(*) FROM region) AS BIGINT)
        |ORDER BY batch""".stripMargin,

    "q_sql_cluster_by" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_ranged,
        | CAST(sum(event_id) AS BIGINT) AS sum_a,
        | 'zorder' AS op
        |FROM events WHERE (event_id % 97) BETWEEN 10 AND 12""".stripMargin,

    // Planted: the DELETE under graft.appendOnly must refuse ('yes'),
    // the post-UNSET DELETE must land (3 inserts - 1 = 2), and the final
    // property set is exactly {owner, quality}.
    "q_sql_tblproperties" ->
      """SELECT * FROM (VALUES
        | ('delete_blocked_while_append_only', 'yes'),
        | ('owner', 'graft'),
        | ('quality', 'gold'),
        | ('rows_after_unset_delete', '2')
        |) AS t("key", "value") ORDER BY "key"""".stripMargin,

    "q_sql_show_create" ->
      ("SELECT 'CREATE TABLE graft.`<root>` (\n" +
        "  id BIGINT GENERATED ALWAYS AS IDENTITY " +
        "(START WITH 1 INCREMENT BY 1),\n" +
        "  name STRING,\n" +
        "  nlen INT GENERATED ALWAYS AS (length(name)))\n" +
        "USING graft\n" +
        "TBLPROPERTIES (\n" +
        "  ''graft.constraints.npos'' = ''length(name) >= 0'',\n" +
        "  ''owner'' = ''graft'')' AS createtab_stmt"),

    "q_sql_show_partitions" ->
      """SELECT DISTINCT event_type FROM events
        |ORDER BY event_type""".stripMargin,

    // Planted: DVs exist after the point delete (dv_before), REORG purges
    // them all (dv_after = false), and the relation is unchanged by the
    // rewrite (count + keysum over the surviving rows).
    "q_sql_reorg" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(n_nationkey) AS BIGINT) AS sum_key,
        | TRUE AS dv_before, FALSE AS dv_after
        |FROM nation WHERE n_nationkey >= 5""".stripMargin,

    // nation rows took the CREATE-time defaults (v='none', n=7); region
    // rows came after SET DEFAULT 100 and name v explicitly.
    "q_st11_poll_source" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS r,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(n_nationkey) AS BIGINT) AS sum_k
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin,

    // 25 nations minus the 5 DV-deleted low keys; the auto-compact fold
    // leaves exactly ONE file-set and the DELETE is a delete_dv commit.
    // chunk=64, overlap=16 → starts every 48; a start past n-16 is a
    // pure suffix of the previous window and emits nothing.
    "q_txt_chunk_overlap" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |    x -> x <> '') AS toks
        |  FROM documents),
        |ne AS (SELECT * FROM base WHERE len(toks) > 0),
        |st AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    unnest(range(0, len(toks), 48)) AS s
        |  FROM ne),
        |filt AS (
        |  SELECT doc_id, toks, n, s, CAST(s // 48 AS INT) AS chunk_ix
        |  FROM st WHERE s = 0 OR s < n - 16)
        |SELECT doc_id, chunk_ix,
        |  CAST(len(toks[s+1 : least(s+64, n)]) AS BIGINT) AS chunk_tokens,
        |  md5(array_to_string(toks[s+1 : least(s+64, n)], ' ')) AS h
        |FROM filt ORDER BY doc_id, chunk_ix""".stripMargin,

    "q_sql_auto_maintenance" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(n_nationkey) AS BIGINT) AS sum_k,
        | CAST(1 AS INT) AS n_file_sets,
        | TRUE AS compacted, TRUE AS dv_delete
        |FROM nation WHERE n_nationkey >= 5""".stripMargin,

    "q_sql_default" ->
      """SELECT v, n, cnt, sum_k FROM (
        |  SELECT 'none' AS v, CAST(7 AS INT) AS n,
        |    CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(n_nationkey) AS BIGINT) AS sum_k FROM nation
        |  UNION ALL
        |  SELECT r_name, CAST(100 AS INT), CAST(count(*) AS BIGINT),
        |    CAST(sum(r_regionkey + 100) AS BIGINT)
        |  FROM region GROUP BY r_name)
        |ORDER BY v, n""".stripMargin,

    "q_sql_replace_where" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(event_id) AS BIGINT) AS sum_id
        |FROM (
        |  SELECT event_id, event_type FROM events
        |  WHERE event_type <> 'click'
        |  UNION ALL
        |  SELECT event_id * 2, event_type FROM events
        |  WHERE event_type = 'click')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_sql_table_changes" ->
      """WITH base AS (SELECT n_nationkey, n_regionkey FROM nation),
        |feed AS (
        |  SELECT 0 AS v, 'insert' AS ct, n_nationkey FROM base
        |  UNION ALL
        |  SELECT 1, 'update_preimage', n_nationkey FROM base
        |  WHERE n_regionkey = 2
        |  UNION ALL
        |  SELECT 1, 'update_postimage', n_nationkey FROM base
        |  WHERE n_regionkey = 2
        |  UNION ALL
        |  SELECT 2, 'delete', n_nationkey FROM base
        |  WHERE n_nationkey BETWEEN 20 AND 24)
        |SELECT CAST(v AS BIGINT) AS v, ct,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(n_nationkey) AS BIGINT) AS sum_key
        |FROM feed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // operation metrics from consecutive log diffs: appends add one set,
    // compact folds both into one (+1/-2), overwrite replaces it (+1/-1)
    "q_sql_history" ->
      """SELECT * FROM (VALUES
        | (CAST(0 AS BIGINT), 'append',    CAST(1 AS BIGINT),
        |  CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
        | (CAST(1 AS BIGINT), 'append',    CAST(2 AS BIGINT),
        |  CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
        | (CAST(2 AS BIGINT), 'compact',   CAST(1 AS BIGINT),
        |  CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
        | (CAST(3 AS BIGINT), 'overwrite', CAST(1 AS BIGINT),
        |  CAST(1 AS BIGINT), CAST(1 AS BIGINT))
        |) AS t(version, action, n_file_sets, n_added_sets, n_removed_sets)
        |ORDER BY version""".stripMargin,

    "q_a1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(avg(l_discount), 6) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_a2_dup_counts" ->
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 HAVING count(*) > 1 ORDER BY 1, 2""".stripMargin,

    "q_a5_stats_union" ->
      """SELECT * FROM (
        | SELECT 'customer' AS tbl, CAST(count(*) AS BIGINT) AS n_rows FROM customer
        | UNION ALL SELECT 'orders', CAST(count(*) AS BIGINT) FROM orders
        | UNION ALL SELECT 'lineitem', CAST(count(*) AS BIGINT) FROM lineitem
        |) ORDER BY tbl""".stripMargin,

    "q_j1_join_dims" ->
      """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_orders,
        | round(sum(o_totalprice), 2) AS total_revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_j2_multiway_left" ->
      """WITH f AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS f_orders
        |           FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
        |     p AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS o_orders
        |           FROM orders WHERE o_orderstatus = 'O' GROUP BY 1)
        |SELECT c_custkey, coalesce(f.f_orders, 0) AS f_orders,
        |       coalesce(p.o_orders, 0) AS o_orders
        |FROM customer
        |LEFT JOIN f ON c_custkey = f.o_custkey
        |LEFT JOIN p ON c_custkey = p.o_custkey
        |ORDER BY c_custkey""".stripMargin,

    "q_j4_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "q_u1_unpivot" ->
      """SELECT side, CAST(count(*) AS BIGINT) AS n,
        | CAST(count(DISTINCT key) AS BIGINT) AS n_keys
        |FROM (
        | SELECT l_orderkey, l_partkey AS key, 'part' AS side FROM lineitem
        | UNION ALL
        | SELECT l_orderkey, l_suppkey AS key, 'supp' AS side FROM lineitem
        |) GROUP BY side ORDER BY side""".stripMargin,

    "q_rollup" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr, o_orderpriority,
        | CAST(count(*) AS BIGINT) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY ROLLUP (1, 2)
        |ORDER BY yr ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_sessions" ->
      """WITH gapped AS (
        | SELECT user_id, ts, event_id,
        |   CASE WHEN lag(ts) OVER w IS NULL
        |          OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
        |        THEN 1 ELSE 0 END AS new_session
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |sessions AS (
        | SELECT user_id, ts,
        |   sum(new_session) OVER (PARTITION BY user_id
        |     ORDER BY ts ASC, event_id ASC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        | FROM gapped)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        | CAST(count(*) AS BIGINT) AS n_events,
        | epoch_ms(min(ts)) AS session_start_ms,
        | epoch_ms(max(ts)) AS session_end_ms
        |FROM sessions GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_u3_pivot" ->
      """SELECT user_id,
        | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        | CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_w1_latest_per_key" ->
      """SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ts_ms
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY user_id ORDER BY ts DESC, event_id ASC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q_w3_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    "q_w4_dedup_first" ->
      """SELECT user_id, event_type, event_id AS first_event_id
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY user_id, event_type ORDER BY event_id ASC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "q_p3_null_coercion" ->
      """SELECT event_id,
        | CASE WHEN trim(str_val) IN ('', 'null', 'None') THEN NULL
        |      ELSE CAST(str_val AS DOUBLE) END AS coerced
        |FROM (SELECT event_id,
        |        CASE CAST(event_id % 4 AS INT)
        |          WHEN 0 THEN '' WHEN 1 THEN 'null' WHEN 2 THEN 'None'
        |          ELSE CAST(user_id AS VARCHAR) END AS str_val
        |      FROM events)
        |ORDER BY event_id""".stripMargin,

    "q_p4_string_funcs" ->
      """SELECT c_custkey, concat_ws(' ', c_name, c_mktsegment) AS full_name,
        | CAST(length(c_name) AS INT) AS name_len,
        | upper(trim(c_mktsegment)) AS seg
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_p5_datetime" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr,
        | CAST(month(o_orderdate) AS INT) AS mo,
        | CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        | CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin,

    "q_p7_case_agg" ->
      """SELECT o_orderpriority,
        | CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        | CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_p8_json_parse" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
        | CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_p9_hash" ->
      """SELECT doc_id, sha256(text) AS content_sha,
        | CAST(length(text) AS INT) AS n_chars_computed
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_dq_report" ->
      """SELECT 'orders' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_keys,
        | CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS extra_duplicate_rows
        |FROM orders""".stripMargin,

    "q_m1_merge_upsert" ->
      """SELECT event_id, user_id,
        | CASE WHEN event_id % 6 IN (0, 1) THEN 'updated' ELSE event_type END AS event_type,
        | CASE WHEN event_id % 6 IN (0, 1) THEN value + 1000.0 ELSE value END AS value
        |FROM events WHERE event_id % 3 = 0 OR event_id % 6 = 1
        |ORDER BY event_id""".stripMargin,

    "q_m2_time_travel" ->
      """SELECT * FROM (
        | SELECT CAST(0 AS INT) AS version, o_orderstatus, CAST(count(*) AS BIGINT) AS n
        | FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01' GROUP BY 2
        | UNION ALL
        | SELECT CAST(1 AS INT), o_orderstatus, CAST(count(*) AS BIGINT)
        | FROM orders GROUP BY 2
        |) ORDER BY version, o_orderstatus""".stripMargin,

    "q_w2_price_deltas" ->
      """SELECT o_custkey, o_orderkey,
        | lag(o_totalprice) OVER w AS prev_value,
        | o_totalprice - lag(o_totalprice) OVER w AS delta
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_a6_rolling_form" ->
      """SELECT o_orderkey,
        | round(avg(o_totalprice) OVER w, 4) AS form_3,
        | CAST(count(*) OVER w AS BIGINT) AS window_rows
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,

    "q_ml3_theta_topk" ->
      """SELECT p_partkey, s_suppkey,
        | round(s_acctbal - p_retailprice, 2) AS headroom
        |FROM part JOIN supplier ON p_retailprice <= s_acctbal
        |WHERE p_size = 50
        |ORDER BY headroom DESC, p_partkey ASC, s_suppkey ASC LIMIT 5""".stripMargin,

    "q_dd1_exact_dedup" ->
      """WITH corpus AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0)
        |SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_docs
        |FROM corpus GROUP BY text ORDER BY keep_id""".stripMargin,

    // Planted exact-copy invariants for the approximate near-dup family:
    // identical payloads have deterministic recall under every candidate
    // generator (identical MinHash signature / SimHash 0 / pHash 0 /
    // identical LSH bucket — see each query's doc), so the planted count
    // is plain arithmetic over the planting rule, engine-independent.
    "q_dd2_minhash_pairs" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_planted_found
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin,
    "q_dd3_simhash_pairs" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_planted_found
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin,
    "q_mm2_phash_neardup" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_planted_found
        |FROM range(1500) t(media_id) WHERE media_id % 13 = 0""".stripMargin,
    "q_sim_neardup_pairs" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_planted_found
        |FROM embeddings WHERE vec_id % 13 = 0""".stripMargin,
    // SemDeDup's invariant: every planted exact copy must drop (identical
    // vectors share a cell; cosine 1 >= tau; id tiebreak keeps the
    // original) — deterministically zero regardless of the KMeans fit.
    "q_dd5_semdedup" ->
      "SELECT CAST(0 AS BIGINT) AS n_planted_kept",

    "q_dd4_ngram_jaccard" ->
      """WITH corpus AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 1000000,
        |        array_to_string(toks[1:len(toks)-2], ' ')
        | FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
        |       FROM documents WHERE doc_id % 11 = 0)),
        |sh AS (
        | SELECT doc_id,
        |   list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |     ELSE list_transform(range(1, len(toks) - 1),
        |            i -> array_to_string(toks[i:i+2], ' ')) END) AS shingles
        | FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |       FROM corpus)),
        |blocked AS (
        | SELECT doc_id, shingles, list_aggregate(shingles, 'min') AS block FROM sh),
        |-- mirror the engine's maxGroupSize=1000 skew guard: degenerate
        |-- blocks are excluded on BOTH sides so the contract stays equal
        |big AS (SELECT block FROM blocked GROUP BY block HAVING count(*) > 1000)
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        | round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |       (len(a.shingles) + len(b.shingles)
        |        - len(list_intersect(a.shingles, b.shingles))), 4) AS jaccard4
        |FROM blocked a JOIN blocked b ON a.block = b.block AND a.doc_id < b.doc_id
        |  AND a.block NOT IN (SELECT block FROM big)
        |WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |      (len(a.shingles) + len(b.shingles)
        |       - len(list_intersect(a.shingles, b.shingles))) >= 0.5
        |ORDER BY doc_id_a, doc_id_b""".stripMargin,

    "q_curation_pipeline" ->
      """WITH base AS (
        | SELECT doc_id, text,
        |   string_split_regex(trim(lower(text)), '\s+') AS toks
        | FROM documents),
        |scored AS (
        | SELECT doc_id, text,
        |  CAST(length(text) AS INT) AS char_count,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS INT) AS toks_n,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'))) AS DOUBLE)
        |    / len(toks) AS sw_ratio,
        |  CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
        |    / length(text) AS p_ratio,
        |  CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','eine','zu','mit','auf','für','von','den','im'))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(toks, x -> x IN ('el','la','los','las','y','es','un','una','de','en','por','que','no','con','para'))) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une','de','des','dans','pour','que','qui','au','pas'))) AS BIGINT) AS s_fr
        | FROM base),
        |typed AS (
        | SELECT doc_id, text, toks_n,
        |  CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
        |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
        |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
        |       ELSE 'de' END AS lang_pred,
        |  CAST(floor((least(char_count / 500.0, 1.0) + least(sw_ratio * 5.0, 1.0)
        |         + greatest(1.0 - p_ratio * 5.0, 0.0)) / 3.0 * 10000 + 0.5) AS BIGINT) AS q4i
        | FROM scored),
        |filtered AS (
        | SELECT * FROM typed WHERE lang_pred = 'en' AND q4i >= 5000),
        |deduped AS (
        | SELECT min(doc_id) AS doc_id, min(q4i) AS q4i, min(toks_n) AS toks_n
        | FROM filtered GROUP BY text)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(toks_n) AS BIGINT) AS total_tokens,
        | CAST(sum(q4i) AS BIGINT) AS sum_q4
        |FROM deduped""".stripMargin,

    // The full chain replayed stage-for-stage in SQL: every approximate
    // stage runs at its deterministic operating point (see the query
    // doc), so exact dedup = group-by-text, MinHash@1.0 = group-by-
    // shingle-SET, SemDeDup@0.99 = group-by-embedding (docs without a
    // vector bypass), each keeping the min doc_id.
    "q_curation_incremental" ->
      """WITH corpus AS (
        | SELECT doc_id, text FROM documents
        | WHERE NOT (doc_id % 11 = 3 AND doc_id % 7 <> 0 AND doc_id % 5 <> 0)
        | UNION ALL
        | SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0
        | UNION ALL
        | SELECT doc_id + 3000000, upper(text) FROM documents WHERE doc_id % 5 = 0),
        |base AS (
        | SELECT doc_id, text,
        |   string_split_regex(trim(lower(text)), '\s+') AS toks
        | FROM corpus),
        |scored AS (
        | SELECT doc_id, text, toks,
        |  CAST(length(text) AS INT) AS char_count,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS INT) AS toks_n,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'))) AS DOUBLE)
        |    / len(toks) AS sw_ratio,
        |  CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
        |    / length(text) AS p_ratio,
        |  CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','eine','zu','mit','auf','für','von','den','im'))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(toks, x -> x IN ('el','la','los','las','y','es','un','una','de','en','por','que','no','con','para'))) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une','de','des','dans','pour','que','qui','au','pas'))) AS BIGINT) AS s_fr
        | FROM base),
        |filtered AS (
        | SELECT doc_id, text, toks, toks_n,
        |  CAST(floor((least(char_count / 500.0, 1.0) + least(sw_ratio * 5.0, 1.0)
        |         + greatest(1.0 - p_ratio * 5.0, 0.0)) / 3.0 * 10000 + 0.5) AS BIGINT) AS q4i
        | FROM scored
        | WHERE CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |            WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
        |            WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
        |            WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
        |            ELSE 'de' END = 'en'
        |   AND floor((least(char_count / 500.0, 1.0) + least(sw_ratio * 5.0, 1.0)
        |              + greatest(1.0 - p_ratio * 5.0, 0.0)) / 3.0 * 10000 + 0.5) >= 5000),
        |exact AS (
        | SELECT * FROM filtered
        | QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
        |sh AS (
        | SELECT *, list_sort(list_distinct(
        |   CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |        ELSE list_transform(range(1, len(toks) - 1),
        |               i -> array_to_string(toks[i:i+2], ' ')) END)) AS shingles
        | FROM exact),
        |minh AS (
        | SELECT * FROM sh
        | QUALIFY row_number() OVER (PARTITION BY to_json(shingles) ORDER BY doc_id) = 1)
        |SELECT doc_id, CAST(toks_n AS BIGINT) AS toks, q4i
        |FROM minh ORDER BY doc_id""".stripMargin,

    "q_curation_pipeline_full" ->
      """WITH corpus AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0
        | UNION ALL
        | SELECT doc_id + 3000000, upper(text) FROM documents WHERE doc_id % 5 = 0
        | UNION ALL
        | SELECT doc_id + 4000000, text || ' semantic clone variant'
        | FROM documents WHERE doc_id % 9 = 0),
        |base AS (
        | SELECT doc_id, text,
        |   string_split_regex(trim(lower(text)), '\s+') AS toks
        | FROM corpus),
        |scored AS (
        | SELECT doc_id, text, toks,
        |  CAST(length(text) AS INT) AS char_count,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS INT) AS toks_n,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'))) AS DOUBLE)
        |    / len(toks) AS sw_ratio,
        |  CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
        |    / length(text) AS p_ratio,
        |  CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','eine','zu','mit','auf','für','von','den','im'))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(toks, x -> x IN ('el','la','los','las','y','es','un','una','de','en','por','que','no','con','para'))) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une','de','des','dans','pour','que','qui','au','pas'))) AS BIGINT) AS s_fr
        | FROM base),
        |filtered AS (
        | SELECT doc_id, text, toks, toks_n,
        |  CAST(floor((least(char_count / 500.0, 1.0) + least(sw_ratio * 5.0, 1.0)
        |         + greatest(1.0 - p_ratio * 5.0, 0.0)) / 3.0 * 10000 + 0.5) AS BIGINT) AS q4i
        | FROM scored
        | WHERE CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |            WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
        |            WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
        |            WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
        |            ELSE 'de' END = 'en'
        |   AND floor((least(char_count / 500.0, 1.0) + least(sw_ratio * 5.0, 1.0)
        |              + greatest(1.0 - p_ratio * 5.0, 0.0)) / 3.0 * 10000 + 0.5) >= 5000),
        |exact AS (
        | SELECT * FROM filtered
        | QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
        |sh AS (
        | SELECT *, list_sort(list_distinct(
        |   CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |        ELSE list_transform(range(1, len(toks) - 1),
        |               i -> array_to_string(toks[i:i+2], ' ')) END)) AS shingles
        | FROM exact),
        |minh AS (
        | SELECT * FROM sh
        | QUALIFY row_number() OVER (PARTITION BY to_json(shingles) ORDER BY doc_id) = 1),
        |emb AS (
        | SELECT vec_id AS doc_id, embedding FROM embeddings
        | UNION ALL
        | SELECT vec_id + 4000000, embedding FROM embeddings WHERE vec_id % 9 = 0),
        |withemb AS (SELECT m.doc_id, m.toks_n, m.q4i, e.embedding
        |            FROM minh m JOIN emb e USING (doc_id)),
        |semkept AS (
        | SELECT * FROM withemb
        | QUALIFY row_number() OVER (PARTITION BY to_json(embedding) ORDER BY doc_id) = 1),
        |final AS (
        | SELECT doc_id, toks_n, q4i FROM semkept
        | UNION ALL
        | SELECT doc_id, toks_n, q4i FROM minh
        | WHERE doc_id NOT IN (SELECT doc_id FROM emb))
        |SELECT stage, n_docs, total_tokens, sum_q4 FROM (
        | SELECT '1_filtered' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks_n) AS BIGINT) AS total_tokens,
        |  CAST(sum(q4i) AS BIGINT) AS sum_q4
        | FROM filtered
        | UNION ALL
        | SELECT '2_exact_dedup', CAST(count(*) AS BIGINT),
        |  CAST(sum(toks_n) AS BIGINT),
        |  CAST(sum(q4i) AS BIGINT) FROM exact
        | UNION ALL
        | SELECT '3_minhash_dedup', CAST(count(*) AS BIGINT),
        |  CAST(sum(toks_n) AS BIGINT),
        |  CAST(sum(q4i) AS BIGINT) FROM minh
        | UNION ALL
        | SELECT '4_semantic_dedup', CAST(count(*) AS BIGINT),
        |  CAST(sum(toks_n) AS BIGINT),
        |  CAST(sum(q4i) AS BIGINT) FROM final)
        |ORDER BY stage""".stripMargin,

    "q_txt_stats" ->
      """WITH base AS (
        | SELECT doc_id, text,
        |   string_split_regex(trim(lower(text)), '\s+') AS toks
        | FROM documents),
        |scored AS (
        | SELECT doc_id, text, toks,
        |  CAST(length(text) AS INT) AS char_count,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS INT) AS token_count,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT)
        |    AS bpeish_token_count,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'))) AS DOUBLE)
        |    / len(toks) AS sw_ratio,
        |  CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
        |    / length(text) AS p_ratio,
        |  CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','eine','zu','mit','auf','für','von','den','im'))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(toks, x -> x IN ('el','la','los','las','y','es','un','una','de','en','por','que','no','con','para'))) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une','de','des','dans','pour','que','qui','au','pas'))) AS BIGINT) AS s_fr
        | FROM base)
        |SELECT doc_id, char_count, token_count, bpeish_token_count,
        | round(sw_ratio, 4) AS stopword_ratio,
        | round((least(char_count / 500.0, 1.0) + least(sw_ratio * 5.0, 1.0)
        |        + greatest(1.0 - p_ratio * 5.0, 0.0)) / 3.0, 4) AS quality_score,
        | md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint,
        | CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |      WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
        |      WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
        |      WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
        |      ELSE 'de' END AS lang_pred
        |FROM scored ORDER BY doc_id""".stripMargin,

    "q_sim_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        | round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |                              CAST(qv AS DOUBLE[])), 4) AS sim4
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY sim4 DESC, vec_id ASC LIMIT 10""".stripMargin,

    // full-radius LSH probe (provably-total candidates) == brute force
    // over the served corpus, query vector = vec_id 7, k = 12
    "q_sim_lsh_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7)
        |SELECT vec_id,
        | round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |                              CAST(qv AS DOUBLE[])), 4) AS sim4
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY sim4 DESC, vec_id ASC LIMIT 12""".stripMargin,

    // full-coverage IVF probe (nProbe = nCells, provably-total
    // candidates) == brute force, query vector = vec_id 7, k = 12
    "q_sim_ivf_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7)
        |SELECT vec_id,
        | round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |                              CAST(qv AS DOUBLE[])), 4) AS sim4
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY sim4 DESC, vec_id ASC LIMIT 12""".stripMargin,

    // full-radius LSH multiprobe == brute force: same oracle as q_sim_topk
    "q_sim_lsh_exact" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        | round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |                              CAST(qv AS DOUBLE[])), 4) AS sim4
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY sim4 DESC, vec_id ASC LIMIT 10""".stripMargin,

    // full-probe IVF == brute force: same oracle as q_sim_topk
    "q_sim_ivf_exact" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        | round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |                              CAST(qv AS DOUBLE[])), 4) AS sim4
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY sim4 DESC, vec_id ASC LIMIT 10""".stripMargin,

    // the incrementally-synced serving table equals the mutated corpus:
    // the oracle rebuilds (survivors ∪ negated re-embeds ∪ 50 copies)
    // directly in SQL and replays the exact all-cells probe
    "q_sim_ivf_sync" ->
      """WITH mutated AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        | WHERE vec_id % 17 <> 0 AND vec_id % 23 <> 1
        | UNION ALL
        | SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> -x)
        | FROM embeddings WHERE vec_id % 17 <> 0 AND vec_id % 23 = 1
        | UNION ALL
        | SELECT vec_id + 100000, CAST(embedding AS DOUBLE[])
        | FROM embeddings WHERE vec_id < 50
        |), q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |         FROM embeddings WHERE vec_id = 2)
        |SELECT vec_id, round(list_cosine_similarity(emb, qv), 4) AS sim4
        |FROM mutated, q
        |ORDER BY sim4 DESC, vec_id ASC LIMIT 10""".stripMargin,

    // LSH sync sibling: identical corpus reconstruction, query vec_id=3,
    // full-radius multiprobe == brute force
    "q_sim_lsh_sync" ->
      """WITH mutated AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        | WHERE vec_id % 17 <> 0 AND vec_id % 23 <> 1
        | UNION ALL
        | SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> -x)
        | FROM embeddings WHERE vec_id % 17 <> 0 AND vec_id % 23 = 1
        | UNION ALL
        | SELECT vec_id + 100000, CAST(embedding AS DOUBLE[])
        | FROM embeddings WHERE vec_id < 50
        |), q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |         FROM embeddings WHERE vec_id = 3)
        |SELECT vec_id, round(list_cosine_similarity(emb, qv), 4) AS sim4
        |FROM mutated, q
        |ORDER BY sim4 DESC, vec_id ASC LIMIT 10""".stripMargin,

    // lossless PQ: ADC scores equal true inner products of the derived
    // block-structured vectors, so the oracle computes them directly
    "q_sim_ivfpq_residual" ->
      """WITH base AS (
        | SELECT vec_id,
        |   0.25 * CAST((vec_id % 3) + 1 AS DOUBLE) AS amp,
        |   vec_id % 4 AS p1,
        |   CAST(floor(vec_id / 4) AS BIGINT) % 4 AS p2
        | FROM embeddings WHERE vec_id < 96 AND vec_id <> 5)
        |SELECT vec_id,
        | round(CASE WHEN p1 = 1 THEN amp * 0.75 ELSE 0.0 END
        |     + CASE WHEN p2 = 1 THEN amp * 0.75 ELSE 0.0 END, 4)
        |   AS pq_score4
        |FROM base ORDER BY pq_score4 DESC, vec_id ASC LIMIT 10""".stripMargin,

    "q_sim_ivfpq_lossless" ->
      """WITH base AS (
        | SELECT vec_id,
        |   0.25 * CAST((vec_id % 3) + 1 AS DOUBLE) AS amp,
        |   vec_id % 4 AS p1,
        |   CAST(floor(vec_id / 4) AS BIGINT) % 4 AS p2
        | FROM embeddings WHERE vec_id < 96 AND vec_id <> 5)
        |SELECT vec_id,
        | round(CASE WHEN p1 = 1 THEN amp * 0.75 ELSE 0.0 END
        |     + CASE WHEN p2 = 1 THEN amp * 0.75 ELSE 0.0 END, 4)
        |   AS pq_score4
        |FROM base ORDER BY pq_score4 DESC, vec_id ASC LIMIT 10""".stripMargin,

    // bit-pattern corpus: score vs the derived vector of vec_id 1
    // (bits 1,0,0,0; amp 0.5) is 0.5·amp·(matching bits of vec_id)
    "q_sim_pq_topk" ->
      """SELECT vec_id,
        | round(0.5 * 0.25 * CAST((vec_id % 3) + 1 AS DOUBLE) * (
        |   CASE WHEN (vec_id % 2) = 1 THEN 1 ELSE 0 END +
        |   CASE WHEN (CAST(floor(vec_id / 2) AS BIGINT) % 2) = 0 THEN 1 ELSE 0 END +
        |   CASE WHEN (CAST(floor(vec_id / 4) AS BIGINT) % 2) = 0 THEN 1 ELSE 0 END +
        |   CASE WHEN (CAST(floor(vec_id / 8) AS BIGINT) % 2) = 0 THEN 1 ELSE 0 END), 4)
        |   AS pq_score4
        |FROM embeddings WHERE vec_id <> 1
        |ORDER BY pq_score4 DESC, vec_id ASC LIMIT 10""".stripMargin,

    // the mutated corpus replayed in SQL (deletes, pattern-of-(id+5)
    // re-embeds, +100000 inserts copying low ids), scored vs the
    // derived vector of vec_id 2 (bits 0,1,0,0; amp 0.75)
    "q_sim_ivfpq_topk" ->
      """WITH final AS (
        | SELECT vec_id AS out_id, vec_id AS pid FROM embeddings
        |  WHERE vec_id % 17 <> 0 AND vec_id % 23 <> 1
        | UNION ALL
        | SELECT vec_id, vec_id + 5 FROM embeddings
        |  WHERE vec_id % 17 <> 0 AND vec_id % 23 = 1
        | UNION ALL
        | SELECT vec_id + 100000, vec_id FROM embeddings WHERE vec_id < 50)
        |SELECT out_id AS vec_id,
        | round(0.75 * 0.25 * CAST((pid % 3) + 1 AS DOUBLE) * (
        |   CASE WHEN (pid % 2) = 0 THEN 1 ELSE 0 END +
        |   CASE WHEN (CAST(floor(pid / 2) AS BIGINT) % 2) = 1 THEN 1 ELSE 0 END +
        |   CASE WHEN (CAST(floor(pid / 4) AS BIGINT) % 2) = 0 THEN 1 ELSE 0 END +
        |   CASE WHEN (CAST(floor(pid / 8) AS BIGINT) % 2) = 0 THEN 1 ELSE 0 END), 4)
        |   AS pq_score4
        |FROM final ORDER BY pq_score4 DESC, vec_id ASC LIMIT 10""".stripMargin,

    "q_sim_pq_lossless" ->
      """WITH base AS (
        | SELECT vec_id,
        |   0.25 * CAST((vec_id % 3) + 1 AS DOUBLE) AS amp,
        |   vec_id % 4 AS p1,
        |   CAST(floor(vec_id / 4) AS BIGINT) % 4 AS p2
        | FROM embeddings WHERE vec_id < 96 AND vec_id <> 5)
        |SELECT vec_id,
        | round(CASE WHEN p1 = 1 THEN amp * 0.75 ELSE 0.0 END
        |     + CASE WHEN p2 = 1 THEN amp * 0.75 ELSE 0.0 END, 4)
        |   AS pq_score4
        |FROM base ORDER BY pq_score4 DESC, vec_id ASC LIMIT 10""".stripMargin,

    "q_cnt_distinct_exact" ->
      """SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        | CAST(count(DISTINCT l_suppkey) AS BIGINT) AS exact_supps,
        | CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders
        |FROM lineitem""".stripMargin,

    // the run-ledger structural columns are fully deterministic: run_id is
    // md5 of the canonical param string, num_trees == max_iter (GBT trains
    // exactly maxIter trees), and the replayed third logRun must NOT add a
    // row — so the oracle is the expected ledger itself
    "q_ml2_runs" ->
      """SELECT md5('gbt_points|seed=' || seed || '|max_iter=' || max_iter
        |           || '|max_depth=4') AS run_id,
        | CAST(seed AS BIGINT) AS seed,
        | CAST(max_iter AS BIGINT) AS max_iter,
        | CAST(4 AS BIGINT) AS depth,
        | CAST(max_iter AS BIGINT) AS num_trees
        |FROM (VALUES (42, 2), (7, 1)) AS runs(seed, max_iter)
        |ORDER BY max_iter""".stripMargin,

    // artifact ledger: one row per distinct run (replay no-ops), the
    // md5 run id recomputable, binary persisted and reload-faithful
    "q_ml2_artifacts" ->
      """SELECT md5('gbt_points|seed=42|max_iter=2|max_depth=4') AS run_id,
        | TRUE AS has_model, TRUE AS reload_matches,
        | CAST(1 AS BIGINT) AS n_rows""".stripMargin,

    "q_st3_fixture_state" ->
      """SELECT fixture_id, epoch_ms(ts) AS state_ts_ms,
        | event_type AS last_event_type, props AS payload
        |FROM (SELECT *, CAST(user_id % 100 AS VARCHAR) AS fixture_id,
        |        row_number() OVER (PARTITION BY CAST(user_id % 100 AS VARCHAR)
        |          ORDER BY ts DESC, CAST(event_id AS VARCHAR) ASC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY fixture_id""".stripMargin,

    "q_st1_stream_ingest" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events WHERE event_id % 5 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_st6_rescued" ->
      """SELECT CAST(event_id AS VARCHAR) AS event_key,
        | 'v' || CAST(event_id AS VARCHAR) AS xg
        |FROM events WHERE event_id % 5 = 0 AND event_id % 3 = 0
        |ORDER BY 1""".stripMargin,

    "q_asof_join" ->
      """WITH snapshots AS (
        | SELECT user_id, ts, max(value) AS snap_value
        | FROM events WHERE event_id % 10 = 0 GROUP BY 1, 2),
        |trades AS (
        | SELECT event_id, user_id, ts FROM events WHERE event_id % 10 <> 0)
        |SELECT t.event_id, t.user_id, epoch_ms(t.ts) AS ts_ms,
        | round(s.snap_value, 4) AS snap4
        |FROM trades t ASOF JOIN snapshots s
        |  ON t.user_id = s.user_id AND t.ts >= s.ts
        |ORDER BY t.event_id""".stripMargin,

    "q_skew_salted_agg" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        | CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_m4_incremental" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n
        |FROM orders WHERE o_orderkey % 3 IN (1, 2)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_m5_range_read" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-06-01'
        |  AND o_orderdate <= TIMESTAMP '1996-06-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_m6_delete" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders
        |-- coalesce mirrors deleteRange's SQL DELETE semantics exactly:
        |-- a NULL predicate KEEPS the row (latent here, columns NOT NULL)
        |WHERE NOT coalesce(o_orderkey BETWEEN 0 AND 999999
        |                   AND o_totalprice < 150000.0, FALSE)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_m7_restore" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q_m13_bloom_lookup" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price2
        |FROM orders WHERE o_custkey IN (7, 11, 13)
        |ORDER BY o_orderkey""".stripMargin,

    "q_dq_expectations" ->
      """WITH f AS (
        |  SELECT 'qty_small' AS rule, CAST(count(*) AS BIGINT) AS n_failed
        |  FROM lineitem WHERE NOT coalesce(l_quantity <= 30, TRUE)
        |  UNION ALL
        |  SELECT 'disc_low', count(*)
        |  FROM lineitem WHERE NOT coalesce(l_discount <= 0.05, TRUE)
        |  UNION ALL
        |  SELECT 'tax_low', count(*)
        |  FROM lineitem WHERE NOT coalesce(l_tax <= 0.04, TRUE)
        |  UNION ALL
        |  SELECT '__passed', count(*)
        |  FROM lineitem WHERE coalesce(l_quantity <= 30, TRUE)
        |    AND coalesce(l_discount <= 0.05, TRUE)
        |    AND coalesce(l_tax <= 0.04, TRUE))
        |SELECT rule, n_failed FROM f WHERE n_failed > 0
        |ORDER BY rule""".stripMargin,

    "q_m14_generated" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
        | CAST(count(*) AS BIGINT) AS n,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // planted-pair recall + zero false positives: the mutated corpus is
    // deterministic, so the exact pair set is enumerable in SQL without
    // re-running any substring search
    "q_dd7_substring_spans" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM documents a, documents b
        |WHERE a.doc_id % 97 = 3 AND b.doc_id % 97 = 3
        |  AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,

    // keep-first invariant: after cutting, only the lowest planted id
    // still contains the full literal
    "q_dd8_span_removal" ->
      """SELECT doc_id,
        |  CAST(doc_id % 97 = 3 AND doc_id =
        |    (SELECT min(doc_id) FROM documents WHERE doc_id % 97 = 3)
        |    AS INT) AS has_plant
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_dd6_paragraph_dedup" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
        |supers AS (
        |  SELECT grp AS doc_id,
        |         string_agg(text, chr(10) || chr(10) ORDER BY odoc) AS text
        |  FROM (SELECT CAST(doc_id // 4 AS BIGINT) AS grp,
        |               doc_id AS odoc, text FROM d)
        |  GROUP BY grp),
        |planted AS (SELECT CAST(doc_id + 100000 AS BIGINT) AS doc_id, text
        |            FROM d WHERE doc_id % 7 = 0),
        |corpus AS (SELECT * FROM supers UNION ALL SELECT * FROM planted),
        |paras AS (
        |  SELECT doc_id, z[2] AS pos, z[1] AS para
        |  FROM (SELECT doc_id,
        |               unnest(list_zip(parts, range(len(parts)))) AS z
        |        FROM (SELECT doc_id,
        |                     string_split(text, chr(10) || chr(10)) AS parts
        |              FROM corpus))),
        |kept AS (
        |  SELECT doc_id, pos, para FROM paras
        |  QUALIFY row_number() OVER (PARTITION BY para
        |                             ORDER BY doc_id, pos) = 1),
        |resembled AS (
        |  SELECT doc_id,
        |         string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text
        |  FROM kept GROUP BY doc_id)
        |SELECT doc_id, md5(text) AS fp FROM resembled
        |ORDER BY doc_id""".stripMargin,

    "q_mv3_cdf_incremental" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        | round(sum(CASE WHEN o_totalprice < 10000
        |                THEN o_totalprice * 1.1
        |                ELSE o_totalprice END), 2) AS total2
        |FROM orders
        |WHERE NOT coalesce(o_orderkey BETWEEN 0 AND 499, FALSE)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_m12_change_feed" ->
      """WITH base AS (SELECT n_nationkey, n_name, n_regionkey FROM nation),
        |s0 AS (SELECT * FROM base WHERE n_regionkey <= 1),
        |u1 AS (SELECT n_nationkey, n_name || '_u' AS n_name, n_regionkey
        |       FROM base WHERE n_regionkey IN (1, 2)),
        |s1 AS (SELECT * FROM s0
        |       WHERE n_nationkey NOT IN (SELECT n_nationkey FROM u1)
        |       UNION ALL SELECT * FROM u1),
        |s2 AS (SELECT n_nationkey,
        |              CASE WHEN n_nationkey < 5 THEN n_name || '!'
        |                   ELSE n_name END AS n_name, n_regionkey FROM s1),
        |feed AS (
        |  SELECT CAST(0 AS BIGINT) AS v, 'insert' AS ct, s.* FROM s0 s
        |  UNION ALL
        |  SELECT 1, 'update_preimage', s.* FROM s0 s
        |  WHERE s.n_nationkey IN (SELECT n_nationkey FROM u1)
        |  UNION ALL
        |  SELECT 1, 'update_postimage', u.* FROM u1 u
        |  WHERE u.n_nationkey IN (SELECT n_nationkey FROM s0)
        |  UNION ALL
        |  SELECT 1, 'insert', u.* FROM u1 u
        |  WHERE u.n_nationkey NOT IN (SELECT n_nationkey FROM s0)
        |  UNION ALL
        |  SELECT 2, 'update_preimage', s.* FROM s1 s WHERE n_nationkey < 5
        |  UNION ALL
        |  SELECT 2, 'update_postimage', n_nationkey, n_name || '!',
        |         n_regionkey FROM s1 WHERE n_nationkey < 5
        |  UNION ALL
        |  SELECT 3, 'delete', s.* FROM s2 s
        |  WHERE n_nationkey BETWEEN 10 AND 14)
        |SELECT v, ct, n_nationkey, n_name, n_regionkey FROM feed
        |ORDER BY v, ct, n_nationkey""".stripMargin,

    "q_m11_delete_vectors" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE NOT coalesce(o_orderkey % 97 = 0, FALSE)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_m10_update" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        | round(sum(o_totalprice), 2) AS total
        |FROM (
        |  -- mirrors updateRange: assignments hit predicate-TRUE rows
        |  -- only (NULL predicate keeps the old values), RHS sees the
        |  -- pre-update row
        |  SELECT CASE WHEN coalesce(o_orderkey BETWEEN 0 AND 999999
        |                            AND o_totalprice < 50000.0, FALSE)
        |              THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |         CASE WHEN coalesce(o_orderkey BETWEEN 0 AND 999999
        |                            AND o_totalprice < 50000.0, FALSE)
        |              THEN o_totalprice * 1.1
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_m8_zorder" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price2
        |FROM orders
        |WHERE o_totalprice >= 100000 AND o_totalprice <= 150000
        |ORDER BY o_orderkey""".stripMargin,

    // same tokens, same Laplace bigram math, replayed relationally
    "q_txt_perplexity" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                t -> length(t) > 0) AS toks
        |  FROM documents),
        |refbi AS (
        |  SELECT z[1] AS w1, z[2] AS w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM (SELECT unnest(list_zip(toks, toks[2:])) AS z
        |        FROM tok WHERE doc_id % 2 = 0)
        |  WHERE z[2] IS NOT NULL GROUP BY 1, 2),
        |refuni AS (
        |  SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM
        |    (SELECT unnest(toks) AS w1 FROM tok WHERE doc_id % 2 = 0)
        |  GROUP BY 1),
        |vocab AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM refuni),
        |cand AS (
        |  SELECT doc_id, z[1] AS w1, z[2] AS w2
        |  FROM (SELECT doc_id, unnest(list_zip(toks, toks[2:])) AS z
        |        FROM tok WHERE doc_id % 2 = 1)
        |  WHERE z[2] IS NOT NULL)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(-avg(log2((coalesce(c12, 0) + 1.0) /
        |                  (coalesce(c1, 0) + v))), 4) AS xent4
        |FROM cand
        |LEFT JOIN refbi USING (w1, w2)
        |LEFT JOIN refuni USING (w1)
        |CROSS JOIN vocab
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_txt_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id,
        |         unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE doc_id < 20),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM terms WHERE length(term) > 0 GROUP BY 1, 2),
        |dfreq AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (
        |  SELECT count(*) AS n FROM documents WHERE doc_id < 20),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |         tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df) AS tfidf,
        |         CAST(row_number() OVER (
        |           PARTITION BY tf.doc_id
        |           ORDER BY tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df) DESC,
        |                    tf.term ASC) AS INTEGER) AS rk
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
        |SELECT doc_id, rk, term, tf, df, round(tfidf, 4) AS tfidf4
        |FROM scored WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    "q_bloom_join" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM customer c
        |              WHERE c.c_custkey = o.o_custkey
        |                AND c.c_mktsegment = 'BUILDING')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_pack_chunks" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(lower(text)), '\s+'))
        |    END AS BIGINT) AS tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, tokens,
        |    CAST(sum(tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS e
        |  FROM d)
        |SELECT doc_id, tokens, e - tokens AS start_offset,
        |  CAST(floor((e - tokens) / 4096.0) AS BIGINT) AS first_chunk,
        |  CAST(CASE WHEN tokens > 0 THEN floor((e - 1) / 4096.0)
        |    ELSE floor((e - tokens) / 4096.0) END AS BIGINT) AS last_chunk,
        |  CAST(CASE WHEN tokens > 0 THEN floor((e - 1) / 4096.0)
        |    ELSE floor((e - tokens) / 4096.0) END AS BIGINT)
        |    - CAST(floor((e - tokens) / 4096.0) AS BIGINT) + 1 AS n_chunks
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_bpe_merges" -> (bpeOracleHead(carryWord = false) +
      bpeOracleIters(8, carryWord = false) + "\n" +
      (0 until 8).map(i =>
        s"SELECT $i AS rank, l AS lft, r AS rgt, " +
          s"CAST(c AS BIGINT) AS pair_count FROM b$i")
        .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY rank")),

    "q_bpe_encode" -> (bpeOracleHead(carryWord = true) +
      bpeOracleIters(8, carryWord = true) + """,
        |docw AS (
        |  SELECT doc_id, unnest(li) AS word,
        |         unnest(range(1, len(li) + 1)) AS pos
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(lower(text)), '\s+') AS li
        |        FROM documents)),
        |j AS (
        |  SELECT d.doc_id, d.pos, w.s
        |  FROM (SELECT * FROM docw WHERE length(word) > 0) d
        |  JOIN w8 w USING (word))
        |SELECT doc_id,
        |  CAST(sum(len(string_split(s, ' '))) AS BIGINT) AS n_bpe_tokens,
        |  md5(string_agg(s, ' ' ORDER BY pos)) AS tokens_md5
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    "q_mix_sample" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents
        |WHERE source = 'src13'
        |   OR (source = 'src8'
        |       AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
        |   OR (source = 'src7'
        |       AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_contamination" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(toks) < 3
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(1, len(toks) - 1),
        |             i -> array_to_string(toks[i:i+2], ' ')) END) AS shingles
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(lower(text)), '\s+') AS toks
        |        FROM documents)),
        |esh AS (
        |  SELECT DISTINCT unnest(shingles) AS shingle
        |  FROM sh WHERE doc_id % 13 = 0),
        |tsh AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlapping_shingles
        |FROM tsh JOIN esh USING (shingle)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_mv_incremental" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_mv4_rewrite" ->
      """SELECT l_returnflag AS flag,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
        |  CAST(max(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty,
        |  avg(CAST(l_quantity AS BIGINT)) AS avg_qty,
        |  TRUE AS mv_served, TRUE AS stale_fell_back
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_mv6_ddl_armed" ->
      """SELECT l_returnflag AS flag,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  TRUE AS ddl_armed, TRUE AS stale_fell_back
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_w5_window_suite" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(o_orderkey, 1) OVER w AS prev_key,
        |  lead(o_orderkey, 1) OVER w AS next_key,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  round(cume_dist() OVER w, 6) AS cd6,
        |  CAST(rank() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER)
        |    AS price_rank
        |FROM orders WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_st7_stream_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         date_trunc('second', ts) AS ts
        |  FROM events WHERE user_id < 300)
        |SELECT p.user_id AS user_id,
        |  p.event_id AS purchase_key, v.event_id AS view_key,
        |  epoch_ms(p.ts) AS purchase_ms, epoch_ms(v.ts) AS view_ms
        |FROM e p JOIN e v
        |  ON v.user_id = p.user_id
        | AND p.event_type = 'purchase' AND v.event_type = 'view'
        | AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
        |ORDER BY user_id, purchase_key, view_key""".stripMargin,

    "q_gap_fill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, sum(value) AS daily_v
        |  FROM events WHERE user_id < 8 GROUP BY 1, 2),
        |spine AS (
        |  SELECT user_id,
        |    unnest(generate_series(mn, mx, INTERVAL 1 DAY))::DATE AS day
        |  FROM (SELECT user_id, min(day) AS mn, max(day) AS mx
        |        FROM daily GROUP BY 1)),
        |j AS (
        |  SELECT s.user_id, s.day, d.daily_v
        |  FROM spine s LEFT JOIN daily d USING (user_id, day))
        |SELECT user_id, day,
        |  round(last_value(daily_v IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS v_filled
        |FROM j ORDER BY user_id, day""".stripMargin,

    "q_sim_quantize" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS l
        |  FROM embeddings WHERE vec_id < 50),
        |m AS (
        |  SELECT vec_id, l, list_min(l) AS mn,
        |    (list_max(l) - list_min(l)) / 255.0 AS scale
        |  FROM v),
        |qq AS (
        |  SELECT vec_id, mn, scale,
        |    list_transform(l, x -> CAST(round((x - mn) /
        |      (CASE WHEN scale = 0 THEN 1.0 ELSE scale END)) AS INTEGER)
        |      - 128) AS ql
        |  FROM m)
        |SELECT vec_id, round(scale, 6) AS scale6, round(mn, 4) AS min4,
        |  CAST(list_aggregate(ql, 'sum') AS BIGINT) AS q_sum,
        |  CAST(list_aggregate(ql, 'min') AS INTEGER) AS q_lo,
        |  CAST(list_aggregate(ql, 'max') AS INTEGER) AS q_hi
        |FROM qq ORDER BY vec_id""".stripMargin,

    "q_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey % 97 AS src, o_orderkey % 97 AS dst
        |  FROM orders),
        |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
        |r0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS rank_fp FROM v),
        |c1 AS (SELECT e.dst AS id, sum(r0.rank_fp // d.deg) AS contrib
        |       FROM e JOIN r0 ON e.src = r0.id JOIN d ON e.src = d.src
        |       GROUP BY 1),
        |r1 AS (SELECT v.id,
        |         CAST(150000000000 + (85 * coalesce(c1.contrib, 0)) // 100
        |           AS BIGINT) AS rank_fp
        |       FROM v LEFT JOIN c1 USING (id)),
        |c2 AS (SELECT e.dst AS id, sum(r1.rank_fp // d.deg) AS contrib
        |       FROM e JOIN r1 ON e.src = r1.id JOIN d ON e.src = d.src
        |       GROUP BY 1),
        |r2 AS (SELECT v.id,
        |         CAST(150000000000 + (85 * coalesce(c2.contrib, 0)) // 100
        |           AS BIGINT) AS rank_fp
        |       FROM v LEFT JOIN c2 USING (id)),
        |c3 AS (SELECT e.dst AS id, sum(r2.rank_fp // d.deg) AS contrib
        |       FROM e JOIN r2 ON e.src = r2.id JOIN d ON e.src = d.src
        |       GROUP BY 1),
        |r3 AS (SELECT v.id,
        |         CAST(150000000000 + (85 * coalesce(c3.contrib, 0)) // 100
        |           AS BIGINT) AS rank_fp
        |       FROM v LEFT JOIN c3 USING (id))
        |SELECT id, rank_fp FROM r3 ORDER BY id""".stripMargin,

    "q_skew_salted_join" ->
      """SELECT p_brand, round(sum(l_quantity), 2) AS sum_qty,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ml1_features" ->
      """WITH history AS (
        | SELECT CAST(user_id AS INT) AS player_id,
        |        CAST(user_id % 20 AS INT) AS team_id,
        |        CAST(event_id % 10 + 1 AS INT) AS gameweek_id,
        |        CAST(event_id % 90 AS INT) AS minutes,
        |        CAST(event_id % 13 AS INT) AS points
        | FROM events),
        |pg AS (
        | SELECT gameweek_id, player_id, max(team_id) AS team_id,
        |        CAST(sum(minutes) AS INT) AS minutes,
        |        CAST(sum(points) AS INT) AS points
        | FROM history GROUP BY 1, 2),
        |feat AS (
        | SELECT *,
        |   avg(points) OVER w3 AS form_score,
        |   1.0 - least(avg(minutes) OVER w3 / 90.0, 1.0) AS minutes_risk,
        |   sum(points) OVER wn AS target
        | FROM pg
        | WINDOW w3 AS (PARTITION BY player_id ORDER BY gameweek_id
        |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        |        wn AS (PARTITION BY player_id ORDER BY gameweek_id
        |               ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING))
        |SELECT player_id, team_id, gameweek_id, minutes, points,
        | round(form_score, 4) AS form_score4,
        | round(minutes_risk, 4) AS minutes_risk4,
        | CAST(40 + player_id % 100 AS INT) AS now_cost_tenths_million,
        | round(CAST((team_id + gameweek_id) % 5 + 1 AS DOUBLE), 4) AS fixture_difficulty4,
        | CAST(target AS BIGINT) AS target_points_next_3_gws
        |FROM feat WHERE target IS NOT NULL
        |ORDER BY player_id, gameweek_id""".stripMargin,

    "q_m3_compact" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_st4_stateful_state" ->
      """SELECT fixture_id, n_events, last_ts_ms, last_event_type FROM (
        | SELECT CAST(user_id % 100 AS VARCHAR) AS fixture_id,
        |        CAST(count(*) OVER (PARTITION BY user_id % 100) AS BIGINT) AS n_events,
        |        epoch_ms(ts) AS last_ts_ms,
        |        event_type AS last_event_type,
        |        row_number() OVER (PARTITION BY user_id % 100
        |          ORDER BY ts DESC, CAST(event_id AS VARCHAR) ASC) AS rn
        | FROM events WHERE event_id % 9 = 0)
        |WHERE rn = 1 ORDER BY fixture_id""".stripMargin,

    "q_st17_ttl_state" ->
      """WITH e AS (SELECT * FROM events WHERE event_id % 11 = 0),
        |base AS (
        |  SELECT CAST(user_id % 100 AS VARCHAR) AS fixture_id,
        |         CAST(count(*) OVER (PARTITION BY user_id % 100) AS BIGINT) AS n_events,
        |         epoch_ms(ts) AS last_ts_ms,
        |         event_type AS last_event_type,
        |         row_number() OVER (PARTITION BY user_id % 100
        |           ORDER BY ts DESC, CAST(event_id AS VARCHAR) ASC) AS rn
        |  FROM e),
        |last AS (SELECT fixture_id, n_events, last_ts_ms, last_event_type
        |         FROM base WHERE rn = 1),
        |mx AS (SELECT max(epoch_ms(ts)) AS mts FROM e)
        |SELECT fixture_id, n_events, last_ts_ms, last_event_type,
        |       FALSE AS is_final
        |FROM last
        |UNION ALL
        |SELECT l.fixture_id, l.n_events, l.last_ts_ms, l.last_event_type,
        |       TRUE AS is_final
        |FROM last l, mx WHERE l.last_ts_ms + 21600000 < mts
        |ORDER BY fixture_id, is_final""".stripMargin,

    "q_st5_windowed_counts" ->
      """SELECT CAST(user_id % 100 AS VARCHAR) AS fixture_id,
        | epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
        | CAST(count(*) AS BIGINT) AS n_events,
        | epoch_ms(max(ts)) AS max_ts_ms
        |FROM events WHERE event_id % 7 = 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_mm_media_features" ->
      """SELECT CASE CAST(id % 3 AS INT) WHEN 0 THEN 'image'
        |        WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        | CAST(count(*) AS BIGINT) AS n,
        | round(avg(32 * (id % 7 + 1)), 2) AS avg_bytes
        |FROM range(300) t(id) GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
