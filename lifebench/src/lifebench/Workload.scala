package lifebench

import org.apache.spark.sql.SparkSession

/** One lakehouse lifecycle, driven cycle by cycle by [[Main]].
  *
  * A cycle is: [[prepare]] (off the clock: the seeded generator writes
  * the cycle's inputs), [[apply]] (timed: the program absorbs them and
  * brings every derived table current — the freshness latency), then
  * [[reads]] (each read timed on its own). The program only ever sees
  * what the generator wrote.
  *
  * Inputs depend on the seed and the cycle index only. The shape of a
  * cycle (delta size, duplicate share, which DML kinds run) follows a
  * fixed schedule over the cycle index, so every seed covers the same
  * mix and runs stay comparable; the seed picks the rows, keys and
  * values. */
abstract class Workload(val spark: SparkSession, val root: String,
                        val seed: Long) {
  /** Every benchmark-created table lives under here; the tracer diffs
    * this tree for `files_written` and `storage_amp` measures it. */
  val warehouse: String = s"$root/wh"

  var tracer: Option[Tracer] = None
  protected def span[A](name: String)(f: => A): A =
    tracer.fold(f)(_.span(name)(f))
  protected def mode(m: String): String = { tracer.foreach(_.mode(m)); m }

  /** Build the starting warehouse's base tables. [[Main]] does this
    * several times, on fresh roots, and keeps the last. */
  def setup(): Unit

  /** Attach the derived tables to the kept warehouse, once. */
  def attach(): Unit = ()

  /** Write cycle `c`'s inputs; returns their fingerprint. */
  def prepare(c: Int): String

  /** Absorb cycle `c`'s inputs; returns the changed input rows. */
  def apply(c: Int): Long

  /** Cycle `c`'s reads; each returned call is timed on its own. */
  def reads(c: Int): Seq[() => Unit]

  /** Output checks, run off the clock after the timed loop. */
  def checks(): Seq[(String, () => Boolean)]
}

object Workload {
  def make(name: String, spark: SparkSession, root: String,
           seed: Long): Workload = name match {
    case "medallion_daily" => new MedallionDaily(spark, root, seed)
    case "delta_refresh" => new DeltaRefresh(spark, root, seed)
    case other => sys.error(s"unknown workload $other")
  }

  /** A generator stream for one (seed, cycle, purpose). */
  def rng(seed: Long, cycle: Int, salt: Int): java.util.SplittableRandom =
    new java.util.SplittableRandom(
      seed * 0x9E3779B97F4A7C15L + cycle * 1000003L + salt)

  def sha256(parts: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      md.update(p.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
