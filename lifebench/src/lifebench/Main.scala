package lifebench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload in a closed loop with one client (this thread) and
  * writes its metrics to `--result`.
  *
  *   --workload medallion_daily|delta_refresh
  *   --seed n --seconds s --trace 0|1
  *   --work dir     fresh run directory (warehouse, Spark scratch)
  *   --result file  metrics JSON      --spans file  span dump (trace 1)
  *
  * Set-up builds the starting warehouse's base tables `Setups` times
  * (keeping the last), attaches the derived tables once, and runs
  * `WarmupCycles` untimed cycles; `setup_s` is the median build plus the
  * attach and the warm-up. The timed loop then runs cycles until
  * `--seconds` have passed and at least `MinCycles` ran.
  *
  * With `--trace 1` cycles alternate traced / untraced, starting traced,
  * so the run also yields the tracing overhead; untraced cycles skip
  * their reads there. Layer counters come from
  * the first `CountedCycles` traced cycles, a window that does not depend
  * on host speed, so two runs of one seed count the same work. */
object Main {
  val Setups = 2
  val WarmupCycles = 1
  /** Enough reads in a warm-up cycle to warm the read path. */
  val WarmupReads = 3
  val MinCycles = 1
  val CountedCycles = 1

  val Spans: Seq[String] = Seq(
    "fpl.ingest_bronze", "fpl.silver_dims", "fpl.gold_dims",
    "fpl.horizon_fact", "streaming.live_ingest", "streaming.live_conform",
    "fpl.flagship_read", "tables.sql_dml", "plans.mv_refresh",
    "plans.join_mv_refresh", "ops.sketch_refresh", "streaming.cdf_sink",
    "tables.sql_read")

  final case class Cycle(index: Int, traced: Boolean, cycleS: Double,
                         rows: Long, readMs: Seq[Double])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    val minCycles = if (trace) 2 * CountedCycles else MinCycles

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"lifebench-$name")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    var attempted = 0L
    var failed = 0L
    val failures = ArrayBuffer.empty[String]
    def op[A](what: String)(f: => A): A = {
      attempted += 1
      try f catch { case t: Throwable =>
        failed += 1; failures += s"$what: ${t.getClass.getName}: ${t.getMessage}"
        throw t
      }
    }

    def housekeeping(): Unit = {
      spark.catalog.clearCache()
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case _: Throwable => }
    }

    def runCycle(w: Workload, c: Int, traced: Boolean, tracer: Option[Tracer],
                 maxReads: Int = Int.MaxValue): Cycle = {
      val fp = w.prepare(c)
      println(s"fingerprint workload=$name seed=$seed cycle=$c sha256=$fp")
      tracer.foreach { t => t.setActive(traced); t.cycle = c }
      val t0 = System.nanoTime()
      val rows = op(s"cycle $c apply")(w.apply(c))
      val cycleS = (System.nanoTime() - t0) / 1e9
      val readMs = w.reads(c).take(maxReads).zipWithIndex.map { case (r, i) =>
        val r0 = System.nanoTime()
        op(s"cycle $c read $i")(r())
        (System.nanoTime() - r0) / 1e6
      }
      tracer.foreach(t => if (traced) t.settle())
      housekeeping()
      Cycle(c, traced, cycleS, rows, readMs)
    }

    var exit = 1
    try {
      // ---- set-up: build the starting warehouse Setups times, keep the last
      val builds = ArrayBuffer.empty[Double]
      var w: Workload = null
      for (k <- 0 until Setups) {
        if (w != null) deleteTree(Paths.get(w.root))
        w = Workload.make(name, spark, work.resolve(s"setup$k").toString, seed)
        val t0 = System.nanoTime()
        op("setup")(w.setup())
        builds += (System.nanoTime() - t0) / 1e9
        housekeeping()
      }
      val a0 = System.nanoTime()
      op("attach")(w.attach())
      val attachS = (System.nanoTime() - a0) / 1e9
      val w0 = System.nanoTime()
      (0 until WarmupCycles).foreach(c =>
        runCycle(w, c, traced = false, None, WarmupReads))
      val warmupS = (System.nanoTime() - w0) / 1e9
      val setupS = median(builds.toSeq) + attachS + warmupS
      val tracer = if (trace)
        Some(new Tracer(spark.sparkContext, Paths.get(w.warehouse))) else None
      w.tracer = tracer

      // ---- timed closed loop
      val cycles = ArrayBuffer.empty[Cycle]
      var footprint: (Double, Double) = (Double.NaN, Double.NaN)
      var offClockS = 0.0
      val loop0 = System.nanoTime()
      var c = WarmupCycles
      def elapsed = (System.nanoTime() - loop0) / 1e9 - offClockS
      while (cycles.size < minCycles || elapsed < seconds) {
        // an untraced cycle of a traced run only times the cycle itself
        val traced = trace && (c - WarmupCycles) % 2 == 0
        cycles += runCycle(w, c, traced, tracer,
          if (trace && !traced) 0 else Int.MaxValue)
        // storage and heap after a fixed cycle count, so they do not grow
        // with the number of cycles a fast host fits into the run
        if (!trace && cycles.size == MinCycles) {
          val f0 = System.nanoTime()
          footprint = (storageAmp(spark, Paths.get(w.warehouse)),
            retainedHeapMb())
          offClockS += (System.nanoTime() - f0) / 1e9
        }
        c += 1
      }
      tracer.foreach(_.setActive(false))

      // ---- correctness gate, off the clock
      for ((what, check) <- w.checks()) {
        attempted += 1
        val ok = try check() catch { case t: Throwable =>
          failures += s"$what: ${t.getClass.getName}: ${t.getMessage}"; false
        }
        if (!ok) { failed += 1; failures += s"check failed: $what" }
      }

      val reads = cycles.flatMap(_.readMs).toSeq
      val endToEnd = Map(
        "setup_s" -> setupS,
        "cycle_s" -> median(cycles.filterNot(_.traced).map(_.cycleS).toSeq),
        "rows_per_s" -> cycles.map(_.rows).sum / cycles.map(_.cycleS).sum,
        "read_ms_p50" -> quantile(reads, 0.5),
        "read_ms_p75" -> quantile(reads, 0.75),
        "storage_amp" -> footprint._1,
        "heap_mb" -> footprint._2)
      val perLayer = tracer.map { t =>
        opts.get("spans").foreach(p => t.writeJson(Paths.get(p)))
        layerMetrics(t, cycles.toSeq)
      }.getOrElse(Map.empty)
      println(s"summary workload=$name seed=$seed cycles=${cycles.size} " +
        s"traced_cycles=${cycles.count(_.traced)} reads=${reads.size} " +
        f"setup_builds_s=${builds.map(x => f"$x%.2f").mkString(",")} " +
        f"attach_s=$attachS%.2f warmup_s=$warmupS%.2f " +
        f"cycle_s=${cycles.map(x => f"${x.cycleS}%.2f").mkString(",")}")
      exit = if (failed == 0) 0 else 1
      writeResult(opts("result"), attempted, failed, failures.toSeq,
        endToEnd, perLayer)
    } catch { case t: Throwable =>
      t.printStackTrace()
      writeResult(opts("result"), math.max(attempted, 1),
        math.max(failed, 1), failures.toSeq :+ t.toString, Map.empty, Map.empty)
    } finally {
      spark.stop()
    }
    sys.exit(exit)
  }

  /** Seven metrics per span, the two refresh ratios and the tracing
    * overhead. A span the workload never calls reports 0. */
  def layerMetrics(t: Tracer, cycles: Seq[Cycle]): Map[String, Double] = {
    val traced = cycles.filter(_.traced)
    val counted = traced.take(CountedCycles).map(_.index)
    val all = traced.map(_.index)
    val byCycle = t.spans.groupBy(s => (s.name, s.cycle))
    def perCycle(span: String, ids: Seq[Int])(f: SpanRec => Double) =
      median(ids.map(c => byCycle.getOrElse((span, c), Nil).map(f).sum))
    val spanMetrics = Spans.flatMap { s =>
      Seq(
        s"$s.wall_ms" -> perCycle(s, all)(_.wallMs),
        s"$s.driver_ms" -> perCycle(s, all)(_.driverMs),
        s"$s.task_ms" -> perCycle(s, all)(_.taskMs),
        s"$s.jobs" -> perCycle(s, counted)(_.jobs.toDouble),
        s"$s.stages" -> perCycle(s, counted)(_.stages.toDouble),
        s"$s.tasks" -> perCycle(s, counted)(_.tasks.toDouble),
        s"$s.files_written" -> perCycle(s, counted)(_.filesWritten.toDouble))
    }
    /** Refreshes that did not take `full`, over all refreshes. */
    def incrementalRatio(span: String): Double = {
      val modes = t.spans.filter(x => x.name == span && counted.contains(x.cycle))
        .flatMap(_.modes)
      if (modes.isEmpty) 0.0 else modes.count(_ != "full").toDouble / modes.size
    }
    (spanMetrics ++ Seq(
      "plans.mv_refresh.incremental_ratio" -> incrementalRatio("plans.mv_refresh"),
      "ops.sketch_refresh.incremental_ratio" -> incrementalRatio("ops.sketch_refresh"),
      "trace.overhead_ratio" -> median(traced.map(_.cycleS)) /
        median(cycles.filterNot(_.traced).map(_.cycleS)))).toMap
  }

  def writeResult(path: String, attempted: Long, failed: Long,
                  failures: Seq[String], endToEnd: Map[String, Double],
                  perLayer: Map[String, Double]): Unit =
    Files.writeString(Paths.get(path), Json.write(Map(
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures,
      "end_to_end" -> endToEnd, "per_layer" -> perLayer)))

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Bytes on disk under the warehouse over the bytes of every table's
    * live snapshot, each live data file counted once. */
  def storageAmp(spark: SparkSession, warehouse: Path): Double = {
    val live = walk(warehouse).filter(p =>
      p.getFileName.toString == "_log" && Files.isDirectory(p))
      .map(log => graft.tables.VersionedTable(spark, log.getParent.toString)
        .snapshotBytes).sum
    bytesUnder(warehouse).toDouble / live
  }

  /** Used heap right after a full GC, the least of five: Spark's
    * ContextCleaner frees broadcast and shuffle blocks on its own thread
    * only after a GC has dropped their handles, so one GC can race it. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      val used = mx.getHeapMemoryUsage.getUsed
      Thread.sleep(200)
      used
    }.min / (1024.0 * 1024.0)
  }

  def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator().asScala.toList finally s.close() }

  def bytesUnder(p: Path): Long =
    walk(p).filter(Files.isRegularFile(_)).map(Files.size).sum

  def deleteTree(p: Path): Unit =
    walk(p).reverse.foreach(Files.deleteIfExists)
}
