package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fns

/** Stage-by-stage wall profile of the nhl_sog_props_v2 live pipeline and
  * the crosswalk cascade — the measurement instrument behind the r14
  * OPTIMIZATION notes. Stages run on the SAME materialized Silver frames
  * the queries read (NhlQueries.silver*), so a stage's time here is what
  * the query stage pays in the bench.
  * Usage: runMain graft.tools.VProfile [sfDir]
  */
object VProfile {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Harness.session
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.queries.NhlQueries.materializeSilver(spark, dir)

    def t(label: String)(df: => DataFrame): DataFrame = {
      val d = df
      val t0 = System.nanoTime()
      val n = d.count()
      println(f"[vp] $label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s  ($n rows)")
      d
    }

    val stgOdds = graft.queries.NhlQueries.silverStgOdds(spark, dir)
    val fpgs = graft.queries.NhlQueries.silverFpgs(spark, dir)
    val xwalk = graft.queries.NhlQueries.silverXwalk(spark, dir)
    t("stg_odds scan")(stgOdds)
    t("fpgs scan")(fpgs)

    val sog = t("sog filter") {
      stgOdds.filter(col("market_key") === "player_shots_on_goal")
    }
    val pref = when(col("bookmaker_key") === "draftkings", 1)
      .when(col("bookmaker_key") === "fanduel", 2)
      .when(col("bookmaker_key") === "betmgm", 3)
      .otherwise(9)
    val wBest = Window.partitionBy("event_id", "game_date", "odds_player_name", "bet_type")
      .orderBy(pref.asc, col("last_update").desc, col("bookmaker_key").asc)
    val best = t("best-line window") {
      sog.withColumn("rn", row_number().over(wBest)).filter(col("rn") === 1)
    }
    val pivoted = t("window+pivot") {
      best.groupBy("event_id", "game_date", "odds_player_name")
        .agg(
          max(when(col("bet_type") === "Over", col("line_value"))).as("line_value"),
          max(when(col("bet_type") === "Over", col("odds_american"))).as("over_odds"),
          max(when(col("bet_type") === "Under", col("odds_american"))).as("under_odds"),
          max(col("bookmaker_key")).as("bookmaker_key"))
    }
    val viaCrosswalk = t("..+xwalk join (ckpt)") {
      pivoted
        .join(broadcast(xwalk.select(col("odds_player_name"),
          col("player_id"), col("player_name"), col("match_method"))),
          Seq("odds_player_name"), "left")
        .localCheckpoint(false)
    }
    val stillUnmatched = viaCrosswalk.filter(col("player_id").isNull)
      .drop("player_id", "player_name", "match_method")
      .withColumn("o_last", Fns.lastToken(Fns.normalizeName(col("odds_player_name"))))
      .withColumn("o_init", Fns.firstInitial(Fns.normalizeName(col("odds_player_name"))))
    t("stillUnmatched")(stillUnmatched)
    val appearances = t("appearances agg") {
      fpgs
        .select(col("player_id").as("cand_player_id"),
          col("player_name").as("cand_player_name"),
          col("game_date").as("app_date"))
        .groupBy("cand_player_id", "cand_player_name")
        .agg(sort_array(collect_set(col("app_date"))).as("app_dates"))
        .withColumn("n_last", Fns.lastToken(Fns.normalizeName(col("cand_player_name"))))
        .withColumn("n_init", Fns.firstInitial(Fns.normalizeName(col("cand_player_name"))))
    }
    val picked = t("picked argmax") {
      stillUnmatched
        .select(col("event_id"), col("game_date"), col("odds_player_name"),
          col("o_last"), col("o_init"))
        .join(appearances,
          col("o_last") === col("n_last") && col("o_init") === col("n_init"))
        .withColumn("best_date",
          array_max(filter(col("app_dates"), d => d <= col("game_date"))))
        .filter(col("best_date").isNotNull)
        .groupBy("event_id", "game_date", "odds_player_name")
        .agg(max_by(
          struct(col("cand_player_id"), col("cand_player_name")),
          struct(col("best_date"), -col("cand_player_id"))).as("cand"))
    }
    t("viaFuzzy join-back") {
      stillUnmatched.join(
        picked.select(col("event_id"), col("game_date"), col("odds_player_name"),
          col("cand.cand_player_id").as("cand_player_id"),
          col("cand.cand_player_name").as("cand_player_name")),
        Seq("event_id", "game_date", "odds_player_name"), "left")
    }
    val actuals = t("actuals agg") {
      fpgs.groupBy("player_id", "game_date")
        .agg(sum("sog").as("actual_sog"), max("game_id").as("game_id"))
    }
    t("roster distinct") {
      fpgs.filter(col("game_date") >= date_sub(to_date(lit(graft.nhl.Synthetic.RunDate)), 180))
        .select("player_id", "player_name", "team_abbrev").distinct()
    }
    t("full v2")(graft.SparkEntry.queries("nhl_sog_props_v2")(spark, dir))
    t("full v2 again")(graft.SparkEntry.queries("nhl_sog_props_v2")(spark, dir))
    spark.catalog.clearCache()
    t("full v2 post-clearCache")(graft.SparkEntry.queries("nhl_sog_props_v2")(spark, dir))
    t("crosswalk")(graft.SparkEntry.queries("nhl_crosswalk")(spark, dir))
    t("crosswalk again")(graft.SparkEntry.queries("nhl_crosswalk")(spark, dir))
    spark.stop()
  }
}
