package graft.fpl

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** End-to-end spec of the reference's slice_v1 DAG re-expression: bronze
  * ingest → silver dims → gold dims → horizon fact (SURVEY.md §3 E1). */
class FplPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("toDoubleOrNull preserves the reference's quirky coercion") {
    val out = Seq("", "null", "None", " 4.5 ", "7").toDF("s")
      .select(Silver.toDoubleOrNull($"s").as("d"))
      .as[Option[Double]].collect().toSeq
    assert(out === Seq(None, None, None, Some(4.5), Some(7.0)))
  }

  private def env(json: String, url: String) = Bronze.envelope(
    Bronze.payloadRows(spark, Seq(
      (java.sql.Timestamp.valueOf("2025-08-12 06:15:00"), url, 200, json))),
    runId = "r1")

  test("silver builders parse synthetic bootstrap with correct schema and DQ") {
    val env0 = env(SampleData.bootstrapJson(), "test://bootstrap")
    val parsed = Silver.parseBootstrap(env0)
    DQ.assertParsed(parsed, "j", "bootstrap")
    val teams = Silver.teams(parsed)
    val players = Silver.players(parsed)
    val gws = Silver.gameweeks(parsed)
    assert(teams.count() === 4)
    assert(players.count() === 12)
    assert(gws.count() === 8)
    // string-numeric coercion applied: "" / "null" / "None" -> null
    assert(players.filter($"selected_by_percent".isNull).count() > 0)
    // money scaling: now_cost_million = now_cost / 10.0
    val p = players.select($"now_cost", $"now_cost_million")
      .as[(Int, Double)].collect()
    p.foreach { case (c, m) => assert(math.abs(m - c / 10.0) < 1e-12) }
  }

  test("full slice_v1 pipeline produces the top-20 horizon view, rerun-safe") {
    val wh = tmpDir("fpl-wh-")
    val pipeline = new Pipeline(spark, wh)
    val out1 = pipeline.runSliceV1()
    assert(out1.count() > 0)
    val cols = out1.columns.toSet
    assert(Set("player_id", "team_id", "h3_avg_fdr", "h5_avg_fdr",
      "h8_avg_fdr").subsetOf(cols), s"missing cols in $cols")
    // rerun: dup-payload guard skips re-append; results unchanged
    val out2 = pipeline.runSliceV1()
    assert(out2.collect().toSet === out1.collect().toSet)
  }

  test("slice_v2 live pulse: landing JSON through bronze/silver to state") {
    val wh = tmpDir("fpl-wh2-")
    val tmp = tmpDir("fpl-landing-")
    Seq(
      ("k1", "fx1", java.sql.Timestamp.valueOf("2025-08-12 15:00:00"),
        null.asInstanceOf[String], "p1", "goal", "{}"),
      ("k2", "fx1", java.sql.Timestamp.valueOf("2025-08-12 15:30:00"),
        null.asInstanceOf[String], "p2", "card", "{}"),
      ("k3", "fx2", java.sql.Timestamp.valueOf("2025-08-12 15:10:00"),
        null.asInstanceOf[String], "p3", "kickoff", "{}"),
    ).toDF("event_key", "fixture_id", "event_ts", "team_id", "player_id",
      "event_type", "payload").write.json(s"$tmp/landing")
    val p = new Pipeline(spark, wh)
    val state = p.runSliceV2(s"$tmp/landing", s"$tmp/cp")
    assert(state.select("fixture_id", "last_event_type")
      .as[(String, String)].collect().toSet ===
      Set(("fx1", "card"), ("fx2", "kickoff")))
    // tables landed
    assert(p.table("silver", "live_event").read.count() === 3)
    assert(p.table("silver", "live_fixture_state").read.count() === 2)
  }

  test("slice_v3 transfer reco: price/form/features/model/recommendation") {
    val wh = tmpDir("fpl-wh3-")
    val p = new Pipeline(spark, wh)
    p.runSliceV1() // populate dims
    val history = (for { pl <- 1 to 12; gw <- 1 to 6 } yield
      (pl, (pl - 1) / 3 + 1, gw, 90 - (pl + gw) % 45, (pl * gw) % 9))
      .toDF("player_id", "team_id", "gameweek_id", "minutes", "points")
    val reco = p.runSliceV3(history, squadIds = Seq(1, 2, 3),
      bankTenths = 20, runId = "r3",
      snapshotDate = java.sql.Date.valueOf("2025-08-12"),
      now = java.sql.Timestamp.valueOf("2025-08-12 07:00:00"))
    assert(reco.count() === 1)
    assert(p.table("gold", "fact_price_snapshot").read.count() === 12)
    assert(p.table("gold", "fact_live_form").read.count() === 72)
    assert(p.table("gold", "ml_points_metrics").read.count() === 1)
    assert(p.table("gold", "fact_transfer_recommendation").read
      .select("run_id").as[String].head() === "r3")
    // rerunning the SAME run is idempotent (merge on run_id+snapshot_date)
    p.runSliceV3(history, Seq(1, 2, 3), 20, "r3",
      java.sql.Date.valueOf("2025-08-12"),
      java.sql.Timestamp.valueOf("2025-08-12 07:30:00"))
    assert(p.table("gold", "fact_transfer_recommendation").read.count() === 1)
    // a NEW run appends its own product row
    p.runSliceV3(history, Seq(1, 2, 3), 20, "r4",
      java.sql.Date.valueOf("2025-08-13"),
      java.sql.Timestamp.valueOf("2025-08-13 07:00:00"))
    assert(p.table("gold", "fact_transfer_recommendation").read.count() === 2)
  }

  test("a 38-gameweek season parses through silver with valid dates") {
    val gws = Silver.gameweeks(Silver.parseBootstrap(
      env(SampleData.bootstrapJson(nGameweeks = 38), "test://bootstrap")))
    assert(gws.count() === 38)
    assert(gws.filter($"deadline_time_ts".isNull).count() === 0)
    assert(gws.select(date_format(max($"deadline_time_ts"), "yyyy-MM-dd"))
      .as[String].head() === "2025-09-17")
    val fx = Silver.fixtures(Silver.parseFixtures(
      env(SampleData.fixturesJson(nGameweeks = 38), "test://fixtures")))
    assert(fx.filter($"gameweek_id".isNotNull).count() === 38 * 2)
    assert(fx.filter($"gameweek_id".isNotNull && $"kickoff_ts".isNull)
      .count() === 0)
  }

  test("fixtures builder dedups and drops unscheduled fixtures downstream") {
    val fx = Silver.fixtures(Silver.parseFixtures(
      env(SampleData.fixturesJson(), "test://fixtures")))
    DQ.assertPk(fx, "fixture_id", "silver.fixture")
    // one fixture has null gameweek (unscheduled)
    assert(fx.filter($"gameweek_id".isNull).count() === 1)
  }
}
