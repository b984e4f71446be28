package graft.nhl

import org.apache.spark.sql.SparkSession

/** End-to-end pipeline entrypoint — the one-command replacement for the
  * reference's Airflow DAG + COPY INTO + dbt Cloud run (SURVEY §3.1):
  *
  * {{{
  * runMain graft.nhl.RunPipeline <rawRoot> <silverRoot> [runDate]
  * }}}
  *
  * Reads raw one-doc-per-file JSON snapshots from the reference's key
  * layout under `rawRoot` (`raw/nhl/game_boxscore/...`, `raw/nhl/game_pbp/
  * ...`, `raw/odds/player_props/...`), runs the full model graph, and
  * writes every silver output as parquet under `silverRoot` (facts
  * partitioned by season for downstream pruning).
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunPipeline <rawRoot> <silverRoot> [runDate]")
    val Array(rawRoot, silverRoot) = args.take(2)
    val runDate = args.lift(2).getOrElse(java.time.LocalDate.now().toString)
    val reusedSession = SparkSession.getActiveSession.isDefined
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("nhl-pipeline")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val boxscore = Bronze.readRawSnapshots(spark,
      s"$rawRoot/raw/nhl/game_boxscore/*/*/*/*.json", Schemas.boxscore)
    val pbp = Bronze.readRawSnapshots(spark,
      s"$rawRoot/raw/nhl/game_pbp/*/*/*/*.json", Schemas.pbp)
    val odds = Bronze.readRawSnapshots(spark,
      s"$rawRoot/raw/odds/player_props/*/*/*.json", Schemas.odds)

    val out = NhlPipeline.run(spark, boxscore, pbp, odds, runDate)

    def write(name: String, df: org.apache.spark.sql.DataFrame,
              partitionBy: Seq[String] = Nil): Unit = {
      val w = df.write.mode("overwrite")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(s"$silverRoot/$name")
    }
    write("dim_team", out.dimTeam)
    write("dim_player", out.dimPlayer)
    write("dim_date", out.dimDate)
    write("fact_game_results", out.factGameResults, Seq("season"))
    write("fact_player_game_stats", out.factPlayerGameStats, Seq("season"))
    write("fact_team_game_stats", out.factTeamGameStats, Seq("season"))
    write("fact_shot_events", out.factShotEvents, Seq("season"))
    write("team_shot_metrics", out.teamShotMetrics)
    write("player_shot_metrics", out.playerShotMetrics)
    write("team_shots_against_by_position", out.teamShotsAgainstByPosition)
    write("team_shot_locations", out.teamShotLocations)
    write("player_shot_locations", out.playerShotLocations)
    write("stg_player_name_crosswalk", out.crosswalk)
    write("fact_player_sog_props_v2", out.factPlayerSogPropsV2)
    write("rpt_sog_props_performance", out.rptOverall)
    println(s"[pipeline] silver written to $silverRoot " +
      s"(games=${out.factGameResults.count()}, props=${out.factPlayerSogPropsV2.count()})")
    if (!reusedSession) spark.stop() // embedded callers keep their session
  }
}
