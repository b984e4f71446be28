package graft.nhl

import java.nio.file.{Files, Paths}
import graft.SparkTestBase

/** Drives the RunPipeline main end-to-end: fixture JSON on disk in the
  * reference's raw key layout → silver parquet on disk.
  */
class RunPipelineSpec extends SparkTestBase {

  test("RunPipeline ingests raw JSON keys and writes the full silver layer") {
    spark.range(1).count() // materialize the shared session before main()
    val root = Files.createTempDirectory("graft_e2e").toString
    def put(rel: String, content: String): Unit = {
      val p = Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    put("raw/nhl/game_boxscore/date=2024-10-09/hour=23/game_id=2024020001/snap.json", NhlFixtures.g1Partial)
    put("raw/nhl/game_boxscore/date=2024-10-10/hour=03/game_id=2024020001/snap.json", NhlFixtures.g1Final)
    put("raw/nhl/game_boxscore/date=2024-10-11/hour=03/game_id=2024020002/snap.json", NhlFixtures.g2Final)
    put("raw/nhl/game_boxscore/date=2024-10-11/hour=03/game_id=2024020003/snap.json", NhlFixtures.g3Future)
    put("raw/nhl/game_pbp/date=2024-10-10/hour=03/game_id=2024020001/snap.json", NhlFixtures.pbpG1)
    NhlFixtures.oddsDocs.zipWithIndex.foreach { case (doc, i) =>
      put(s"raw/odds/player_props/market=player_shots_on_goal/date=2024-10-0$i/event_e$i.json", doc)
    }

    val silver = s"$root/silver"
    // main() runs on the caller's session as it finds it: its SQL confs
    // must not leak into the suites that share this session afterwards
    val partitionsKey = "spark.sql.shuffle.partitions"
    val partitions = spark.conf.get(partitionsKey)
    spark.conf.set(partitionsKey, "3")
    try {
      RunPipeline.main(Array(root, silver, "2024-10-11"))
      assert(spark.conf.get(partitionsKey) === "3")
    } finally spark.conf.set(partitionsKey, partitions)

    val fgr = spark.read.parquet(s"$silver/fact_game_results")
    assert(fgr.count() === 2) // FUT filtered
    assert(Files.exists(Paths.get(silver, "fact_game_results/season=20242025")),
      "facts must be partitioned by season")
    val v2 = spark.read.parquet(s"$silver/fact_player_sog_props_v2")
    assert(v2.filter(org.apache.spark.sql.functions.col("outcome") === "over").count() >= 2)
    val rpt = spark.read.parquet(s"$silver/rpt_sog_props_performance")
    assert(rpt.count() === 1)

    // Golden row counts, pinned exactly — the fixture-scaled analog of the
    // reference's only end-to-end numbers (validate_bronze.py:210 pins
    // bronze at 2131 boxscore / 2483 odds snapshot rows and fails the run
    // on ANY drift). Any change to parsing, dedup, joins, or filters that
    // moves a single row in the full pipeline run fails here.
    val golden = Map(
      "fact_game_results" -> 2L,          // 3 games ingested, FUT filtered
      "fact_player_sog_props_v2" -> 8L,
      "rpt_sog_props_performance" -> 1L,
      "dim_team" -> 3L,
      "dim_player" -> 7L,
      "dim_date" -> 2841L,                // full multi-season date spine
      "team_shot_metrics" -> 4L,          // 2 games x 2 teams
      "player_shot_metrics" -> 8L,
      "team_shot_locations" -> 6L,
      "stg_player_name_crosswalk" -> 4L
    )
    val actual = golden.keys.map(t =>
      t -> spark.read.parquet(s"$silver/$t").count()).toMap
    assert(actual === golden,
      s"silver golden counts drifted (ref validate_bronze.py:210 analog): $actual")
  }
}
