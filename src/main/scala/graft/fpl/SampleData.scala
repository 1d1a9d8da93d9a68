package graft.fpl

/** Deterministic synthetic FPL-shaped JSON payloads (FIXTURES.md §A):
  * shapes match the reference's parsing StructTypes exactly
  * (notebooks/03_silver/31_build_silver_dims.py:63-115,225-238), including
  * the string-numeric edge cases ("", "null", "None") that exercise the
  * null-coercion path.
  */
object SampleData {

  /** Gameweek g's calendar day: 2025-08-10 plus g days, so a full
    * 38-gameweek season runs into September with valid dates. */
  private def gameweekDay(g: Int): String =
    java.time.LocalDate.of(2025, 8, 10).plusDays(g).toString

  def bootstrapJson(nTeams: Int = 4, playersPerTeam: Int = 3,
                    nGameweeks: Int = 8, nextGw: Int = 2): String = {
    val teams = (1 to nTeams).map { t =>
      s"""{"id":$t,"name":"Team $t","short_name":"T$t","strength":${t % 5 + 1},"pulse_id":${100 + t}}"""
    }.mkString("[", ",", "]")

    val stringyDoubles = Seq("\"\"", "\"null\"", "\"None\"", "\"0.0\"", "\"4.5\"")
    val elements = (for {
      t <- 1 to nTeams; p <- 1 to playersPerTeam
      id = (t - 1) * playersPerTeam + p
    } yield {
      val sd = stringyDoubles(id % stringyDoubles.size)
      s"""{"id":$id,"first_name":"First$id","second_name":"Last$id","web_name":"W$id",""" +
        s""""team":$t,"element_type":${id % 4 + 1},"status":"a","now_cost":${40 + id * 3},""" +
        s""""chance_of_playing_next_round":${25 * (id % 5)},"chance_of_playing_this_round":100,""" +
        s""""minutes":${90 * id},"selected_by_percent":$sd,"form":"${id % 10}.2",""" +
        s""""points_per_game":"${id % 6}.1","total_points":${id * 7},""" +
        s""""transfers_in_event":${id * 11},"transfers_out_event":${id * 5},""" +
        s""""ep_next":"${id % 8}.5","ep_this":$sd,"news":"",""" +
        s""""news_added":"2025-08-0${id % 9 + 1}T10:00:00Z"}"""
    }).mkString("[", ",", "]")

    val events = (1 to nGameweeks).map { g =>
      s"""{"id":$g,"name":"Gameweek $g","deadline_time":"${gameweekDay(g)}T17:30:00Z",""" +
        s""""finished":${g < nextGw - 1},"is_previous":${g == nextGw - 2},""" +
        s""""is_current":${g == nextGw - 1},"is_next":${g == nextGw},""" +
        s""""data_checked":${g < nextGw - 1},"highest_score":${60 + g},""" +
        s""""average_entry_score":${40 + g},"most_selected":${g},""" +
        s""""most_transferred_in":${g + 1},"top_element":${g + 2}}"""
    }.mkString("[", ",", "]")

    s"""{"elements":$elements,"teams":$teams,"events":$events}"""
  }

  /** Round-robin style fixture list across gameweeks; one unscheduled
    * fixture (null event) to exercise the isNotNull filter. */
  def fixturesJson(nTeams: Int = 4, nGameweeks: Int = 8): String = {
    val fixtures = (for {
      g <- 1 to nGameweeks
      m <- 0 until nTeams / 2
    } yield {
      val h = (g + m) % nTeams + 1
      val a = (g + m + nTeams / 2) % nTeams + 1
      val id = (g - 1) * (nTeams / 2) + m + 1
      s"""{"id":$id,"event":$g,"kickoff_time":"${gameweekDay(g)}T14:00:00Z",""" +
        s""""team_h":$h,"team_a":$a,"team_h_difficulty":${(h + g) % 5 + 1},""" +
        s""""team_a_difficulty":${(a + g) % 5 + 1},"finished":false,"started":false,""" +
        s""""provisional_start_time":false,"minutes":0,"code":${1000000 + id}}"""
    }) :+
      s"""{"id":9999,"event":null,"kickoff_time":null,"team_h":1,"team_a":2,""" +
        s""""team_h_difficulty":3,"team_a_difficulty":3,"finished":false,"started":false,""" +
        s""""provisional_start_time":true,"minutes":0,"code":1999999}"""
    fixtures.mkString("[", ",", "]")
  }
}
