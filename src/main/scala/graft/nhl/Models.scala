package graft.nhl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fns

/** Staging + dimension + fact models — the reference's dbt model graph
  * (25 Snowflake SQL models) re-expressed as pure DataFrame → DataFrame
  * functions. Each function cites its dbt source model. Inputs are bronze
  * DataFrames from [[Bronze.readRawSnapshots]] (or any DataFrame with the
  * same shape), so the graph is testable on fixtures and runnable on a
  * 100 TB lake unchanged.
  */
object Models {

  private val FinalStates = Seq("OFF", "OVER", "FINAL", "OFFICIAL")

  // ---------------------------------------------------------------- staging

  /** `stg_games.sql`: latest snapshot per game (W1), then typed projection
    * out of the payload (P1).
    *
    * The projection runs BEFORE the window (they commute: the projection is
    * row-wise and touches neither the partition key nor the ordering
    * columns): the latest-snapshot shuffle then moves 16 scalars instead of
    * the entire nested payload — stg_games never reads the player arrays,
    * and hoisting the field extraction above the window kept the full
    * boxscore blob (arrays included) alive through the exchange. At 100 TB
    * that is the difference between shuffling a header and shuffling the
    * lake; on a parquet/JSON bronze it also lets nested-schema pruning drop
    * the array columns at the scan.
    */
  def stgGames(boxscoreBronze: DataFrame): DataFrame = {
    val slim = boxscoreBronze.select(
      col("game_id").as("__gk"), col("partition_date"), col("s3_key"),
      col("payload.id").as("game_id"),
      col("payload.season").as("season"),
      col("payload.gameType").as("game_type"),
      to_date(col("payload.gameDate")).as("game_date"),
      col("payload.gameState").as("game_state"),
      col("payload.venue.default").as("venue_name"),
      col("payload.periodDescriptor.number").as("final_period_number"),
      col("payload.periodDescriptor.periodType").as("final_period_type"),
      col("payload.homeTeam.id").as("home_team_id"),
      col("payload.homeTeam.abbrev").as("home_team_abbrev"),
      col("payload.homeTeam.score").as("home_team_score"),
      col("payload.homeTeam.sog").as("home_team_sog"),
      col("payload.awayTeam.id").as("away_team_id"),
      col("payload.awayTeam.abbrev").as("away_team_abbrev"),
      col("payload.awayTeam.score").as("away_team_score"),
      col("payload.awayTeam.sog").as("away_team_sog"))
    Bronze.latestSnapshot(slim, Seq("__gk"), Seq("partition_date", "s3_key"))
      .drop("__gk", "partition_date", "s3_key")
  }

  /** `stg_player_game_stats.sql:20-78` / the Jinja combo loop of
    * `fact_player_game_stats.sql:29-93` (F1/F2): four side×position
    * flattens unioned byName. The Scala Seq+map+reduce IS the Jinja loop.
    */
  def stgPlayerGameStats(boxscoreBronze: DataFrame): DataFrame = {
    val latest = Bronze.latestSnapshot(
      boxscoreBronze, Seq("game_id"), Seq("partition_date", "s3_key"))
    val combos = Seq(
      ("homeTeam", "home", "forwards", "F"),
      ("homeTeam", "home", "defense", "D"),
      ("awayTeam", "away", "forwards", "F"),
      ("awayTeam", "away", "defense", "D"))
    combos.map { case (sideField, side, group, posType) =>
      latest.select(
        col("payload.id").as("game_id"),
        to_date(col("payload.gameDate")).as("game_date"),
        col("payload.season").as("season"),
        col("payload.gameType").as("game_type"),
        col("payload.gameState").as("game_state"),
        lit(side).as("home_away"),
        col(s"payload.$sideField.id").as("team_id"),
        col(s"payload.$sideField.abbrev").as("team_abbrev"),
        lit(posType).as("position_type"),
        explode(col(s"payload.playerByGameStats.$sideField.$group")).as("p"))
        .filter(col("p.playerId").isNotNull) // P5
        .select(col("game_id"), col("game_date"), col("season"), col("game_type"),
          col("game_state"), col("home_away"), col("team_id"), col("team_abbrev"),
          col("position_type"),
          col("p.playerId").as("player_id"),
          col("p.name.default").as("player_name"),
          col("p.position").as("position"),
          col("p.goals").as("goals"),
          col("p.assists").as("assists"),
          col("p.points").as("points"),
          col("p.plusMinus").as("plus_minus"),
          col("p.sog").as("sog"),
          col("p.pim").as("pim"),
          col("p.hits").as("hits"),
          col("p.blockedShots").as("blocked_shots"),
          col("p.giveaways").as("giveaways"),
          col("p.takeaways").as("takeaways"),
          col("p.powerPlayGoals").as("power_play_goals"),
          col("p.shorthandedGoals").as("shorthanded_goals"),
          col("p.faceoffWinningPctg").as("faceoff_winning_pctg"),
          col("p.toi").as("toi"))
    }.reduce(_ unionByName _)
  }

  // ------------------------------------------------------------- dimensions

  /** `dim_team.sql`: home ∪ away team attribute rows, deduped (U2), with
    * the concat-built CDN logo URL (`dim_team.sql:44-46`).
    */
  def dimTeam(stgGames: DataFrame): DataFrame = {
    def side(prefix: String) = stgGames.select(
      col(s"${prefix}_team_id").as("team_id"),
      col(s"${prefix}_team_abbrev").as("team_abbrev"))
    side("home").union(side("away")).distinct()
      .withColumn("logo_url",
        concat(lit("https://assets.nhle.com/logos/nhl/svg/"), col("team_abbrev"), lit("_light.svg")))
  }

  /** `dim_player.sql`: players from all four flatten combos; latest team by
    * game recency with deliberate tie-breaks (`dim_player.sql:41-53`);
    * headshot URL (`dim_player.sql:77`).
    */
  def dimPlayer(stgPlayerGameStats: DataFrame): DataFrame = {
    // ROW_NUMBER()=1 over (date DESC, id DESC, team ASC, pos ASC), the
    // reference's own shape (r15): the rank-1 filter plans as a
    // WindowGroupLimit, which prunes each map partition to one row per
    // player BEFORE the exchange — strictly less shuffle than the r14
    // min_by(struct, struct) form, whose struct buffers are not
    // UnsafeRow-mutable and silently demoted the aggregate to a
    // SortAggregate that sorted the whole scan map-side. Null game_date
    // sorts last under `desc` (loses), matching the DuckDB twin.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("player_id")
      .orderBy(col("game_date").desc, col("game_id").desc,
        col("team_id").asc, col("position").asc)
    stgPlayerGameStats
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("player_id"), col("player_name"),
        col("position"), col("position_type"),
        col("team_id").as("current_team_id"),
        col("team_abbrev").as("current_team_abbrev"),
        concat(lit("https://assets.nhle.com/mugs/nhl/latest/"),
          col("player_id").cast("string"), lit(".png")).as("headshot_url"))
  }

  /** `dim_date.sql`: generated spine (row generator → dates), NHL season /
    * phase / flags. `runDate` injected instead of CURRENT_DATE so outputs
    * are reproducible (SURVEY §7.4.5); spine spans 2020-01-01 → runDate+3y
    * (`dim_date.sql:26,114`), so it is empty when runDate+3y falls before
    * 2020-01-01 (`sequence` would throw on the reversed bounds).
    */
  def dimDate(spark: org.apache.spark.sql.SparkSession, runDate: String): DataFrame = {
    val d = col("date_day")
    val (start, end) = (to_date(lit("2020-01-01")), add_months(to_date(lit(runDate)), 36))
    spark.range(1).select(explode(
      when(end >= start, sequence(start, end, expr("interval 1 day")))).as("date_day"))
      .select(d,
        year(d).as("year"),
        month(d).as("month"),
        dayofmonth(d).as("day_of_month"),
        dayofyear(d).as("day_of_year"),
        Fns.dayOfWeek0Sun(d).as("day_of_week"), // 0=Sunday (dim_date.sql:48)
        weekofyear(d).as("week_of_year"),
        date_format(d, "MMMM").as("month_name"),
        date_format(d, "EEE").as("day_name_short"),
        Fns.nhlSeason(d).cast("int").as("nhl_season"),
        Fns.seasonPhase(d).as("season_phase"),
        Fns.dayOfWeek0Sun(d).isin(0, 6).as("is_weekend"),
        (d === to_date(lit(runDate))).as("is_today"))
  }

  // ------------------------------------------------------------------ facts

  /** `fact_game_results.sql`: finals only (P2), winner/OT/differential
    * derivations (`:60-71`).
    */
  def factGameResults(stgGames: DataFrame): DataFrame =
    stgGames.filter(col("game_state").isin(FinalStates: _*))
      .select(col("game_id"), col("season"), col("game_type"), col("game_date"),
        col("venue_name"),
        col("home_team_id"), col("home_team_abbrev"), col("home_team_score"),
        col("away_team_id"), col("away_team_abbrev"), col("away_team_score"),
        when(col("home_team_score") > col("away_team_score"), col("home_team_id"))
          .when(col("away_team_score") > col("home_team_score"), col("away_team_id"))
          .as("winning_team_id"),
        when(col("home_team_score") > col("away_team_score"), "home")
          .when(col("away_team_score") > col("home_team_score"), "away")
          .as("winning_side"),
        abs(col("home_team_score") - col("away_team_score")).as("goal_differential"),
        (col("final_period_number") > 3).as("went_to_overtime"))

  /** `fact_player_game_stats.sql`: finals-only player rows + TOI seconds +
    * broadcast dim enrichment (J1; denormalized by design,
    * `.context/DECISIONS.md:216-258`).
    */
  def factPlayerGameStats(stgPlayerGameStats: DataFrame, dimPlayer: DataFrame): DataFrame =
    stgPlayerGameStats.filter(col("game_state").isin(FinalStates: _*))
      .withColumn("toi_seconds", Fns.toiToSeconds(col("toi")))
      .join(broadcast(dimPlayer.select(col("player_id"),
        col("current_team_abbrev"), col("headshot_url"))),
        Seq("player_id"), "left")
      .drop("game_state")

  /** `fact_team_game_stats.sql`: additive team aggregates from player rows
    * (A1) + home/away team rows from games (U1) + multi-key left join (J2)
    * + float-cast shooting pct (`:139-147`, SURVEY §7.4.9).
    */
  def factTeamGameStats(stgGames: DataFrame, stgPlayerGameStats: DataFrame): DataFrame = {
    val finals = stgGames.filter(col("game_state").isin(FinalStates: _*))
    def side(prefix: String, ha: String) = finals.select(
      col("game_id"), col("season"), col("game_type"), col("game_date"),
      lit(ha).as("home_away"),
      col(s"${prefix}_team_id").as("team_id"),
      col(s"${prefix}_team_abbrev").as("team_abbrev"),
      col(s"${prefix}_team_score").as("goals"),
      col(s"${prefix}_team_sog").as("sog"),
      col(s"${if (prefix == "home") "away" else "home"}_team_score").as("goals_against"),
      col(s"${if (prefix == "home") "away" else "home"}_team_sog").as("sog_against"))
    val teamRows = side("home", "home").unionByName(side("away", "away"))

    val playerAgg = stgPlayerGameStats
      .filter(col("game_state").isin(FinalStates: _*))
      .groupBy("game_id", "team_id", "home_away")
      .agg(
        sum("hits").as("hits"),
        sum("blocked_shots").as("blocked_shots"),
        sum("giveaways").as("giveaways"),
        sum("takeaways").as("takeaways"),
        sum("pim").as("pim"),
        sum("power_play_goals").as("power_play_goals"))

    teamRows.join(playerAgg, Seq("game_id", "team_id", "home_away"), "left")
      .withColumn("shooting_pct",
        Fns.roundDiv2(lit(100) * col("goals"), col("sog")))
  }

  /** `fact_shot_events.sql`: latest PBP snapshot (W1) → explode plays (F3)
    * → shot-event filter (P3) → COALESCE shooter (`:57-60`) → home/away
    * shot-context derivation.
    */
  def factShotEvents(pbpBronze: DataFrame): DataFrame =
    Bronze.latestSnapshot(pbpBronze, Seq("game_id"), Seq("partition_date", "s3_key"))
      .select(
        col("payload.id").as("game_id"),
        to_date(col("payload.gameDate")).as("game_date"),
        col("payload.season").as("season"),
        col("payload.gameType").as("game_type"),
        col("payload.homeTeam.id").as("home_team_id"),
        col("payload.homeTeam.abbrev").as("home_team_abbrev"),
        col("payload.awayTeam.id").as("away_team_id"),
        col("payload.awayTeam.abbrev").as("away_team_abbrev"),
        explode(col("payload.plays")).as("play"))
      .filter(col("play.typeDescKey").isin("shot-on-goal", "goal", "missed-shot"))
      .select(
        col("game_id"), col("game_date"), col("season"), col("game_type"),
        col("home_team_id"), col("home_team_abbrev"),
        col("away_team_id"), col("away_team_abbrev"),
        col("play.eventId").as("event_id"),
        col("play.typeDescKey").as("event_type"),
        col("play.periodDescriptor.number").as("period_number"),
        col("play.timeInPeriod").as("time_in_period"),
        coalesce(col("play.details.shootingPlayerId"),
          col("play.details.scoringPlayerId")).as("shooter_player_id"),
        col("play.details.goalieInNetId").as("goalie_player_id"),
        col("play.details.eventOwnerTeamId").as("shooting_team_id"),
        col("play.details.shotType").as("shot_type"),
        col("play.details.xCoord").as("x_coord"),
        col("play.details.yCoord").as("y_coord"),
        (col("play.details.eventOwnerTeamId") === col("home_team_id")).as("is_home_shot"),
        when(col("play.details.eventOwnerTeamId") === col("home_team_id"),
          col("away_team_id")).otherwise(col("home_team_id"))
          .as("defending_team_id"),
        (col("play.typeDescKey") === "goal").as("is_goal"))
}
