package graft.nhl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The whole model graph as one run — the Spark-native replacement for the
  * reference's Airflow DAG → COPY INTO → dbt Cloud chain (SURVEY §3.1):
  * bronze reads → staging → dims → facts → metrics → props → report, in
  * dependency order.
  *
  * Materialization mirrors dbt's view/table split (`dbt_project.yml:18-31`):
  * staging models stay lazy (views); fact tables that fan out to several
  * consumers are `persist()`ed (tables) so the latest-snapshot shuffle and
  * explodes run once, not once per consumer. On a cluster the persist
  * points become written silver parquet.
  */
final case class NhlOutputs(
    stgGames: DataFrame,
    dimTeam: DataFrame,
    dimPlayer: DataFrame,
    dimDate: DataFrame,
    factGameResults: DataFrame,
    factPlayerGameStats: DataFrame,
    factTeamGameStats: DataFrame,
    factShotEvents: DataFrame,
    teamShotMetrics: DataFrame,
    playerShotMetrics: DataFrame,
    teamShotsAgainstByPosition: DataFrame,
    teamShotLocations: DataFrame,
    playerShotLocations: DataFrame,
    stgOddsPlayerProps: DataFrame,
    crosswalk: DataFrame,
    factPlayerSogPropsV1: DataFrame,
    factPlayerSogPropsV2: DataFrame,
    rptOverall: DataFrame)

object NhlPipeline {

  /** Run the graph from bronze inputs. `runDate` replaces CURRENT_DATE
    * everywhere (SURVEY §7.4.5).
    */
  def run(spark: SparkSession,
          boxscoreBronze: DataFrame,
          pbpBronze: DataFrame,
          oddsBronze: DataFrame,
          runDate: String): NhlOutputs = {

    // staging (views)
    val stgGames = Models.stgGames(boxscoreBronze)
    val stgPgs = Models.stgPlayerGameStats(boxscoreBronze).persist() // feeds 4 consumers

    // dims
    val dimTeam = Models.dimTeam(stgGames)
    val dimPlayer = Models.dimPlayer(stgPgs)
    val dimDate = Models.dimDate(spark, runDate)

    // facts (tables)
    val factGameResults = Models.factGameResults(stgGames)
    val factPgs = Models.factPlayerGameStats(stgPgs, dimPlayer).persist()
    val factTgs = Models.factTeamGameStats(stgGames, stgPgs)
    val factShots = Models.factShotEvents(pbpBronze).persist()

    // window metrics (views over facts)
    val teamShotMetrics = Metrics.teamShotMetrics(factTgs)
    val playerShotMetrics = Metrics.playerShotMetrics(factPgs)
    val shotsAgainst = Metrics.teamShotsAgainstByPosition(factPgs)
    val teamLoc = Metrics.teamShotLocations(factShots)
    val playerLoc = Metrics.playerShotLocations(factShots)

    // props pipeline
    val stgOdds = Props.stgOddsPlayerProps(oddsBronze)
    val crosswalk = Props.stgPlayerNameCrosswalk(
      stgOdds.select("odds_player_name"), factPgs.select("player_id", "player_name"))
    val v1 = Props.factPlayerSogPropsV1(stgOdds, factPgs)
    val v2 = Props.factPlayerSogPropsV2(stgOdds, crosswalk, factPgs, runDate)
    val rpt = Props.Report.overall(v2)

    NhlOutputs(stgGames, dimTeam, dimPlayer, dimDate, factGameResults, factPgs,
      factTgs, factShots, teamShotMetrics, playerShotMetrics, shotsAgainst,
      teamLoc, playerLoc, stgOdds, crosswalk, v1, v2, rpt)
  }
}
