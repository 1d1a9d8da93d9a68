package lifebench

import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}

import graft.fpl.{Bronze, Gold, Pipeline, SampleData}
import graft.streaming.LiveEvents

/** The reference's own DAG once per simulated day: slice_v1 (bronze
  * ingest → silver dims → gold dims → horizon fact → flagship
  * easiest-fixture read) plus the slice_v2 live pulse (landed live-event
  * JSON → availableNow bronze → MERGE into silver on `event_key` →
  * fixture state). Each day's payload has a new `snapshot_ts`, a new
  * next gameweek, and seeded price/form drift, so the bronze
  * (snapshot_date, payload_sha256) guard never turns a day into a
  * no-op. Some live events are redeliveries of earlier ones. */
final class MedallionDaily(spark: SparkSession, root: String, seed: Long)
    extends Workload(spark, root, seed) {
  import MedallionDaily._

  private val pipeline = new Pipeline(spark, warehouse)
  private val landing = s"$root/landing"
  private val checkpoints = s"$root/checkpoints"
  private val mapper = new ObjectMapper()

  private final case class Day(ts: Timestamp, bootstrap: String,
                               fixtures: String, events: Seq[(String, String)])
  private var day: Day = _
  /** Every (event_key) ever landed: silver must hold exactly these. */
  private val landedKeys = mutable.LinkedHashSet.empty[String]
  private val landedLines = mutable.ArrayBuffer.empty[(String, String)]
  /** The last flagship read and the day whose payloads it must match. */
  private var flagship: Option[(Day, Seq[Row])] = None

  /** The starting warehouse: a bronze history of `BacklogDays` earlier
    * snapshots, ingested through the bronze step itself. */
  def setup(): Unit = {
    Files.createDirectories(Paths.get(landing))
    for (c <- -BacklogDays until 0) {
      val (ts, _, bootstrap, fixtures) = payloads(c, Workload.rng(seed, c, 1))
      ingest(ts, bootstrap, fixtures, s"backlog$c")
    }
  }

  /** Day `c`'s REST snapshots: a new `snapshot_ts`, a new next
    * gameweek, and a seeded drift of every price and form. */
  private def payloads(c: Int, r: java.util.SplittableRandom) = {
    val ts = new Timestamp(BaseDayMs + c * 86400000L + r.nextInt(3600) * 1000L)
    val nextGw = 2 + r.nextInt(Gameweeks - 8)
    (ts, nextGw, drift(calendarDates(SampleData.bootstrapJson(Teams,
      PlayersPerTeam, Gameweeks, nextGw)), r),
      calendarDates(SampleData.fixturesJson(Teams, Gameweeks)))
  }

  private def ingest(ts: Timestamp, bootstrap: String, fixtures: String,
                     runId: String): Unit = {
    pipeline.ingestBronze(Bronze.payloadRows(spark,
      Seq((ts, BootstrapUrl, 200, bootstrap))), runId, "fpl_bootstrap_raw")
    pipeline.ingestBronze(Bronze.payloadRows(spark,
      Seq((ts, FixturesUrl, 200, fixtures))), runId, "fpl_fixtures_raw")
  }

  def prepare(c: Int): String = {
    val r = Workload.rng(seed, c, 1)
    val (ts, nextGw, bootstrap, fixtures) = payloads(c, r)
    // fresh events for this day's fixtures, plus redeliveries of events
    // landed on earlier days (the MERGE hit rate of the conform step)
    val fresh = (0 until EventsPerDay).map { j =>
      val fx = (nextGw - 1) * (Teams / 2) + r.nextInt(Teams / 2) + 1
      val team = 1 + r.nextInt(Teams)
      val player = (team - 1) * PlayersPerTeam + 1 + r.nextInt(PlayersPerTeam)
      val key = s"e$seed-$c-$j"
      val evTs = java.time.Instant.ofEpochMilli(ts.getTime + j * 7000L)
      key -> (s"""{"event_key":"$key","fixture_id":"$fx","event_ts":"$evTs",""" +
        s""""team_id":"$team","player_id":"$player",""" +
        s""""event_type":"${EventTypes(r.nextInt(EventTypes.size))}",""" +
        s""""payload":"{\\"minute\\":${r.nextInt(95)}}"}""")
    }
    val redelivered =
      if (landedLines.isEmpty) Nil
      else (0 until (EventsPerDay * RedeliveryShare).toInt)
        .map(_ => landedLines(r.nextInt(landedLines.size)))
    val events = fresh ++ redelivered
    day = Day(ts, bootstrap, fixtures, events)
    val dir = Paths.get(landing, f"day=$c%04d")
    Files.createDirectories(dir)
    events.grouped((events.size + 1) / 2).zipWithIndex.foreach { case (part, i) =>
      Files.writeString(dir.resolve(s"part-$i.json"),
        part.map(_._2).mkString("", "\n", "\n"))
    }
    events.foreach { case (k, line) =>
      if (landedKeys.add(k)) landedLines += (k -> line)
    }
    Workload.sha256(Seq(ts.toString, bootstrap, fixtures) ++ events.map(_._2))
  }

  def apply(c: Int): Long = {
    val date = new Date(day.ts.getTime)
    span("fpl.ingest_bronze")(ingest(day.ts, day.bootstrap, day.fixtures, s"run-$c"))
    span("fpl.silver_dims")(pipeline.buildSilverDims())
    span("fpl.gold_dims")(pipeline.publishGoldDims())
    span("fpl.horizon_fact")(pipeline.buildHorizonFact(date, day.ts))
    val bronze = pipeline.table("bronze", "live_events_stream_raw")
    span("streaming.live_ingest")(LiveEvents.ingestAvailableNow(spark,
      landing, s"$checkpoints/bronze", bronze))
    span("streaming.live_conform") {
      val silver = pipeline.table("silver", "live_event")
      LiveEvents.conformToSilver(spark, bronze.dataGlob,
        s"$checkpoints/silver", silver)
      pipeline.table("silver", "live_fixture_state")
        .overwrite(LiveEvents.latestFixtureState(silver.read))
    }
    (Teams * PlayersPerTeam + Teams * Gameweeks / 2 + 1 + day.events.size).toLong
  }

  def reads(c: Int): Seq[() => Unit] = Seq.fill(ReadsPerDay) { () =>
    flagship = Some(day -> span("fpl.flagship_read")(
      Gold.easiestFixturePlayers(pipeline.playerFixtureHorizon())
        .select("player_id", "team_id", "h3_avg_fdr", "h5_avg_fdr", "h8_avg_fdr")
        .collect().toSeq))
  }

  def checks(): Seq[(String, () => Boolean)] = Seq(
    "flagship read equals a recompute from its day's payloads" -> (() =>
      flagship.exists { case (d, rows) =>
        rows.map(r => (r.getInt(0), r.getInt(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4))) == expectedFlagship(d)
      }),
    "silver live_event holds one row per distinct event_key landed" -> (() => {
      val silver = pipeline.table("silver", "live_event").read
      val keys = silver.select("event_key").collect().map(_.getString(0))
      keys.length == landedKeys.size && keys.toSet == landedKeys.toSet
    }))

  /** Top-20 easiest-fixture players from the raw JSON of day `d`,
    * computed without Spark: the horizon averages over the fixtures from
    * the next gameweek on, every player fanned out to its team. */
  private def expectedFlagship(d: Day): Seq[(Int, Int, Double, Double, Double)] = {
    val boot = mapper.readTree(d.bootstrap)
    val gws = boot.get("events").elements().asScala.toSeq
    def firstWhere(flag: String) = gws.filter(_.get(flag).asBoolean())
      .map(_.get("id").asInt()).minOption
    val asof = firstWhere("is_next").orElse(firstWhere("is_current")).get
    val legs = mapper.readTree(d.fixtures).elements().asScala.toSeq
      .filterNot(_.get("event").isNull)
      .flatMap { f: JsonNode =>
        val gw = f.get("event").asInt()
        Seq((f.get("team_h").asInt(), gw, f.get("team_h_difficulty").asInt()),
          (f.get("team_a").asInt(), gw, f.get("team_a_difficulty").asInt()))
      }.filter(_._2 >= asof)
    def avgWithin(team: Int, n: Int): Option[Double] = {
      val ds = legs.filter(l => l._1 == team && l._2 < asof + n).map(_._3)
      if (ds.isEmpty) None else Some(ds.sum.toDouble / ds.size)
    }
    val horizon = legs.map(_._1).distinct.flatMap { t =>
      avgWithin(t, 3).map(h3 => t -> (h3, avgWithin(t, 5).get, avgWithin(t, 8).get))
    }.toMap
    boot.get("elements").elements().asScala.toSeq
      .map(e => (e.get("id").asInt(), e.get("team").asInt()))
      .flatMap { case (p, t) => horizon.get(t).map(h => (p, t, h._1, h._2, h._3)) }
      .sortBy(x => (x._4, x._1)).take(20)
  }
}

object MedallionDaily {
  val Teams = 20
  val PlayersPerTeam = 35
  val Gameweeks = 38
  val BacklogDays = 1
  val EventsPerDay = 400
  /** Events redelivered from earlier days, as a share of a day's fresh
    * events: the conform MERGE's hit rate. */
  val RedeliveryShare = 0.2
  val ReadsPerDay = 24
  val BaseDayMs: Long = Timestamp.valueOf("2025-08-12 06:00:00").getTime
  val BootstrapUrl = "https://fantasy.premierleague.com/api/bootstrap-static/"
  val FixturesUrl = "https://fantasy.premierleague.com/api/fixtures/"
  val EventTypes = Seq("goal", "assist", "yellow_card", "substitution", "save")

  private val AugustDay = "2025-08-(\\d+)T".r
  private val Cost = "\"now_cost\":(\\d+)".r
  private val Form = "\"form\":\"[0-9.]+\"".r

  /** `SampleData` writes gameweek g's dates as "2025-08-(10+g)", which
    * is no calendar date past g = 21; roll them into the next months. */
  def calendarDates(json: String): String =
    AugustDay.replaceAllIn(json, m =>
      java.time.LocalDate.of(2025, 8, 1).plusDays(m.group(1).toLong - 1) + "T")

  /** Seeded per-day drift of every player's price (±0.3m) and form. */
  def drift(json: String, r: java.util.SplittableRandom): String = {
    val priced = Cost.replaceAllIn(json, m =>
      s""""now_cost":${math.max(35, m.group(1).toInt + r.nextInt(7) - 3)}""")
    Form.replaceAllIn(priced, _ =>
      s""""form":"${r.nextInt(10)}.${r.nextInt(10)}"""")
  }
}
