package lifebench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.ops.Sketches
import graft.plans.{JoinMv, MvRewrite}
import graft.tables.{Catalog, GraftSql}

/** Silver `orders` and `lineitem` (TPC-H-shaped, generated from the
  * seed) with every kind of incremental maintainer attached: a SQL
  * aggregate MV, a join MV (orders ⋈ customer), an HLL sketch rollup,
  * and an availableNow streaming aggregate over the orders
  * change feed into a graft sink. Each cycle runs a seeded DML mix
  * through `GraftSql.sql` — an INSERT and a MERGE upsert, each 1% of
  * its table — then refreshes every maintainer; retractions push
  * refreshes onto the groups / cdf rungs. The reads are SQL through the
  * same funnel: MV-served aggregates, `VERSION AS OF`, point and range
  * lookups. */
final class DeltaRefresh(spark: SparkSession, root: String, seed: Long)
    extends Workload(spark, root, seed) {
  import DeltaRefresh._

  private val cat = new Catalog(spark, warehouse)
  private val gsql = GraftSql(spark, cat)
  private def t(layer: String, name: String) = cat.table(layer, name)
  private lazy val orders = t("silver", "orders")
  private lazy val lineitem = t("silver", "lineitem")
  private lazy val customer = t("silver", "customer")
  private lazy val joinMv = t("gold", "mv_segment")
  private lazy val hll = t("gold", "sk_hll")
  private lazy val streamMv = t("gold", "mv_stream")

  private val nOrders = (150000 * Scale).toLong
  private val nCustomers = (15000 * Scale).toLong
  private var nextOrderKey = nOrders
  private var nextLineKey = nOrders * LinesPerOrder
  private var lineRows = nOrders * LinesPerOrder

  /** This cycle's DML, written before the timer starts. */
  private var statements: Seq[String] = Nil
  private var changedRows = 0L
  private var versions: Seq[Long] = Nil

  def setup(): Unit = {
    cat.bootstrap()
    orders.enableChangeFeed()
    lineitem.enableChangeFeed()
    customer.append(baseCustomers())
    orders.append(baseOrders())
    lineitem.append(baseLineitems())
  }

  override def attach(): Unit = {
    MvRewrite.install(spark)
    gsql.sql("CREATE MATERIALIZED VIEW gold.mv_lineitem AS SELECT " +
      "l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
      "count(*) AS cnt, min(l_extendedprice) AS min_price, " +
      "max(l_extendedprice) AS max_price FROM silver.lineitem " +
      "GROUP BY l_returnflag, l_linestatus")
    JoinMv.create(orders, customer, Seq(("o_custkey", "c_custkey")),
      Seq("c_mktsegment"), Seq(
        MvRewrite.AggSpec("sum", "o_totalprice", "sum_price"),
        MvRewrite.AggSpec("count", "*", "cnt")), joinMv)
    Sketches.create(orders, hll, Seq("o_orderpriority"), "o_custkey")
    streamSync()
    cat.registerViews()
  }

  /** Every cycle has the same shape, so that its cost is comparable
    * across cycles and seeds: `lineitem` only grows (an INSERT), so its
    * maintainers can absorb the delta incrementally, while `orders` takes
    * a MERGE that half hits existing keys, whose updates retract and
    * push its maintainers onto the groups / cdf rungs. */
  def prepare(c: Int): String = {
    val r = Workload.rng(seed, c, 2)
    val ins = (0 until (InsertShare * lineRows).toInt).map { _ =>
      val key = nextLineKey; nextLineKey += 1
      lineRow(r, key, r.nextLong(nextOrderKey))
    }
    val merge = (0 until (MergeShare * nOrders).toInt).map { _ =>
      val key = if (r.nextDouble() < MergeHitRate) r.nextLong(nOrders)
                else { val k = nextOrderKey; nextOrderKey += 1; k }
      orderRow(r, key)
    }.groupBy(_.getLong(0)).values.map(_.head).toSeq.sortBy(_.getLong(0))
    spark.createDataFrame(spark.sparkContext.parallelize(ins, 1), LineSchema)
      .createOrReplaceTempView("src_lines")
    spark.createDataFrame(spark.sparkContext.parallelize(merge, 1), OrderSchema)
      .createOrReplaceTempView("src_orders")
    statements = Seq(
      "INSERT INTO silver.lineitem SELECT * FROM src_lines",
      "MERGE INTO silver.orders t USING src_orders s " +
        "ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    changedRows = ins.size + merge.size
    lineRows += ins.size
    Workload.sha256(statements ++ ins.map(_.mkString("|")) ++
      merge.map(_.mkString("|")))
  }

  def apply(c: Int): Long = {
    statements.foreach(s => span("tables.sql_dml")(gsql.sql(s).collect()))
    span("plans.mv_refresh")(mode(gsql.sql(
      "REFRESH MATERIALIZED VIEW gold.mv_lineitem").select("mode").head().getString(0)))
    span("plans.join_mv_refresh")(JoinMv.refresh(spark, joinMv))
    span("ops.sketch_refresh")(mode(Sketches.refresh(spark, hll)))
    span("streaming.cdf_sink")(streamSync())
    cat.registerViews()
    versions = orders.history.map(_.version)
    changedRows
  }

  def reads(c: Int): Seq[() => Unit] = {
    val r = Workload.rng(seed, c, 3)
    (0 until ReadsPerCycle).map { i =>
      val stmt = i % 4 match {
        case 0 => MvServedRead
        case 1 => "SELECT count(*) AS n, sum(o_totalprice) AS s FROM silver.orders " +
          s"VERSION AS OF ${versions(r.nextInt(versions.size))}"
        case 2 => s"SELECT * FROM silver_orders WHERE o_orderkey = ${r.nextLong(nOrders)}"
        case _ =>
          val lo = r.nextLong(nOrders - 100)
          "SELECT count(*) AS n, sum(l_quantity) AS q FROM silver_lineitem " +
            s"WHERE l_orderkey BETWEEN $lo AND ${lo + 99}"
      }
      () => span("tables.sql_read") { gsql.sql(stmt).collect(); () }
    }
  }

  def checks(): Seq[(String, () => Boolean)] = {
    val o = orders.read
    val l = lineitem.read
    Seq(
      "the aggregate read is served from the MV" -> (() => {
        val paths = MvRewrite.scannedPaths(gsql.sql(MvServedRead))
        paths.nonEmpty && paths.forall(_.contains("/mv_lineitem"))
      }),
      "SQL aggregate MV equals a recompute" -> (() => same(
        t("gold", "mv_lineitem").read.select("l_returnflag", "l_linestatus",
          "sum_qty", "cnt", "min_price", "max_price"),
        l.groupBy("l_returnflag", "l_linestatus").agg(sum("l_quantity"),
          count(lit(1)), min("l_extendedprice"), max("l_extendedprice")))),
      "join MV equals a recompute" -> (() => same(
        joinMv.read.select("c_mktsegment", "sum_price", "cnt"),
        o.join(customer.read, col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment").agg(sum("o_totalprice"), count(lit(1))))),
      "HLL rollup estimates equal a fresh rollup" -> (() => same(
        Sketches.withEstimate(hll.read).select("o_orderpriority", "n_rows",
          "approx_distinct"),
        Sketches.withEstimate(Sketches.rollup(o, Seq("o_orderpriority"),
          "o_custkey")).select("o_orderpriority", "n_rows", "approx_distinct"))),
      "streaming aggregate sink equals a recompute" -> (() => same(
        streamMv.read.select("o_orderstatus", "sum_price", "cnt"),
        o.groupBy("o_orderstatus").agg(sum("o_totalprice"), count(lit(1))))))
  }

  private def streamSync(): Unit =
    spark.readStream.format("graft-table")
      .option("readChangeFeed", "true").load(orders.root)
      .writeStream.format("graft-table")
      .option("checkpointLocation", s"$root/checkpoints/mv_stream")
      .option("mergeKeys", "o_orderstatus")
      // a retractable sum needs its companion non-null count
      .option("aggregate",
        "sum:o_totalprice:sum_price;count:o_totalprice:cnt_price;count:*:cnt")
      .trigger(Trigger.AvailableNow())
      .start(streamMv.root)
      .awaitTermination()

  /** Row multisets equal, column by position. */
  private def same(a: DataFrame, b: DataFrame): Boolean = {
    def rows(d: DataFrame) =
      d.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    rows(a) == rows(b)
  }

  // ---------------------------------------------------------- generators

  private def hashed(salt: Int, mod: Long): org.apache.spark.sql.Column =
    pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(mod))

  private def baseCustomers(): DataFrame = spark.range(nCustomers).select(
    col("id").as("c_custkey"),
    format_string("Customer#%09d", col("id")).as("c_name"),
    hashed(11, 25).cast("int").as("c_nationkey"),
    (hashed(12, 1100000) / 100.0 - 999.99).as("c_acctbal"),
    element_at(typedlit(Segments), hashed(13, Segments.size).cast("int") + 1)
      .as("c_mktsegment"))

  private def baseOrders(): DataFrame = spark.range(nOrders).select(
    col("id").as("o_orderkey"),
    hashed(21, nCustomers).as("o_custkey"),
    element_at(typedlit(Statuses), hashed(22, Statuses.size).cast("int") + 1)
      .as("o_orderstatus"),
    (hashed(23, 50000000) + 100000).as("o_totalprice"),
    date_add(lit(java.sql.Date.valueOf("1992-01-01")),
      hashed(24, 2400).cast("int")).cast("timestamp").as("o_orderdate"),
    element_at(typedlit(Priorities), hashed(25, Priorities.size).cast("int") + 1)
      .as("o_orderpriority"))

  private def baseLineitems(): DataFrame = spark.range(nOrders * LinesPerOrder)
    .select(
      col("id").as("l_linekey"),
      (col("id") / LinesPerOrder).cast("long").as("l_orderkey"),
      hashed(31, 20000).as("l_partkey"),
      hashed(32, 1000).as("l_suppkey"),
      (hashed(33, 50) + 1).as("l_quantity"),
      (hashed(34, 10400000) / 100.0 + 900.0).as("l_extendedprice"),
      (hashed(35, 11) / 100.0).as("l_discount"),
      (hashed(36, 9) / 100.0).as("l_tax"),
      element_at(typedlit(ReturnFlags), hashed(37, 3).cast("int") + 1)
        .as("l_returnflag"),
      element_at(typedlit(LineStatuses), hashed(38, 2).cast("int") + 1)
        .as("l_linestatus"),
      date_add(lit(java.sql.Date.valueOf("1992-01-02")),
        hashed(39, 2500).cast("int")).cast("timestamp").as("l_shipdate"))

  private def orderRow(r: java.util.SplittableRandom, key: Long): Row = Row(
    key, r.nextLong(nCustomers), Statuses(r.nextInt(Statuses.size)),
    100000L + r.nextLong(50000000L),
    new java.sql.Timestamp(DayMs * (8035 + r.nextInt(2400))),
    Priorities(r.nextInt(Priorities.size)))

  private def lineRow(r: java.util.SplittableRandom, key: Long,
                      orderKey: Long): Row = Row(
    key, orderKey, r.nextLong(20000), r.nextLong(1000), 1L + r.nextInt(50),
    r.nextInt(10400000) / 100.0 + 900.0, r.nextInt(11) / 100.0,
    r.nextInt(9) / 100.0, ReturnFlags(r.nextInt(3)), LineStatuses(r.nextInt(2)),
    new java.sql.Timestamp(DayMs * (8036 + r.nextInt(2500))))
}

object DeltaRefresh {
  /** Share of TPC-H sf0.1 row counts (150k orders, 600k lines): sf0.01. */
  val Scale = 0.1
  val LinesPerOrder = 4
  /** Each statement's share of its table, and the share of MERGE rows
    * whose key already exists. */
  val InsertShare = 0.01
  val MergeShare = 0.01
  val MergeHitRate = 0.5
  val ReadsPerCycle = 40
  /** An aggregate over `lineitem` that MvRewrite answers from the MV. */
  val MvServedRead: String = "SELECT l_returnflag, l_linestatus, " +
    "sum(l_quantity) AS sum_qty, count(*) AS cnt FROM silver_lineitem " +
    "GROUP BY l_returnflag, l_linestatus"
  val DayMs = 86400000L
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Statuses = Seq("F", "O", "P")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val ReturnFlags = Seq("A", "N", "R")
  val LineStatuses = Seq("F", "O")

  val OrderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", LongType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  val LineSchema: StructType = StructType(Seq(
    StructField("l_linekey", LongType), StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
    StructField("l_quantity", LongType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))
}
