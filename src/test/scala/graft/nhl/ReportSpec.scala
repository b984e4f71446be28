package graft.nhl

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The rpt_sog_props_performance cuts (all five as REAL outputs — SURVEY
  * §7.4.11) and the serving extracts.
  */
class ReportSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val out = NhlPipeline.run(spark,
    NhlFixtures.boxscoreBronze(spark),
    NhlFixtures.pbpBronze(spark),
    NhlFixtures.oddsBronze(spark),
    runDate = "2024-10-11")

  test("byLineBucket groups settled props into the rpt:50-57 buckets") {
    val cuts = Props.Report.byLineBucket(out.factPlayerSogPropsV2).collect()
      .map(r => r.getAs[String]("line_bucket") -> r.getAs[Long]("n_props")).toMap
    // lines: 3.5, 3.0, 4.5, 2.5, 3.5 → mid(2.5)=1, high(3.0,3.5,3.5)=3, elite(4.5)=1... wait 2.5 twice
    assert(cuts.values.sum === 6L)
    assert(cuts.contains("high (3.0-3.5)"))
  }

  test("byMatchMethod covers exact, normalized, last_name_initial, fuzzy_fallback") {
    val methods = Props.Report.byMatchMethod(out.factPlayerSogPropsV2)
      .select("match_method").as[String].collect().toSet
    assert(methods === Set("exact", "normalized", "last_name_initial", "fuzzy_fallback"))
  }

  test("byPlayer applies the HAVING >= minProps gate") {
    val all = Props.Report.byPlayer(out.factPlayerSogPropsV2, minProps = 1).collect()
    val gated = Props.Report.byPlayer(out.factPlayerSogPropsV2, minProps = 3).collect()
    assert(all.length >= 3)
    // only Pastrnak reaches 3 settled props (e1, e2, and the resolved
    // "D. Pastrnak" row all land on his player_id)
    assert(gated.map(_.getAs[Long]("player_id")).toSeq === Seq(NhlFixtures.Pastrnak))
    assert(Props.Report.byPlayer(out.factPlayerSogPropsV2, minProps = 4).isEmpty)
  }

  test("byDay cuts per game_date") {
    val days = Props.Report.byDay(out.factPlayerSogPropsV2)
      .select("game_date").as[java.sql.Date].collect().map(_.toString).toSet
    assert(days === Set("2024-10-09", "2024-10-10")) // e3 pending excluded
  }

  test("team extract filters and opponent shot-location context join") {
    val bos = Extracts.teamShotEvents(out.factShotEvents, "BOS")
    assert(bos.count() === out.factShotEvents.count()) // all fixture shots involve BOS
    val nextOpp = Extracts.nextOpponent(NhlFixtures.scheduleBronze(spark))
    val oppLoc = Extracts.opponentShotLocations(out.teamShotLocations, out.dimTeam, nextOpp)
    // next opponent is CAR; CAR has no PBP in fixtures → empty but runnable
    assert(oppLoc.columns.contains("shot_context"))
    assert(oppLoc.filter($"team_abbrev" =!= "CAR").count() === 0)
  }

  test("csv export sink writes a single headered file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString + "/rpt"
    Extracts.exportCsv(out.rptOverall, dir)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.count() === 1)
    assert(back.columns.contains("over_hit_pct"))
  }

  test("exportCsv round-trips a full table: header, row count, values (S8)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_s8").toString + "/facts"
    val src = out.factGameResults.select("game_id", "winning_side", "goal_differential")
    Extracts.exportCsv(src, dir)
    val files = new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(".csv"))
    assert(files.length === 1) // single-file mode coalesces to one part
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(back.count() === src.count())
    assert(back.columns.toSeq === src.columns.toSeq)
    assert(back.filter($"game_id" === 2024020001L).select("winning_side")
      .as[String].collect().toSeq === Seq("home"))
  }

  test("exportCsvWithManifest: single-file under ceiling, partitioned above, manifest lists parts") {
    val base = java.nio.file.Files.createTempDirectory("graft_csv_manifest").toString
    val src = out.factPlayerGameStats.select("game_id", "player_id", "sog")

    val n1 = Extracts.exportCsvWithManifest(src, s"$base/single", servingCeiling = 25000L)
    assert(n1 === src.count())
    val m1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$base/single/_manifest.json")), "UTF-8")
    assert(m1.contains("\"mode\": \"single_file\""))
    assert(m1.contains(s""""row_count": $n1"""))
    assert(new java.io.File(s"$base/single").listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv")) === 1)

    // force the >ceiling path: partitioned parts, manifest still stitches
    val n2 = Extracts.exportCsvWithManifest(src.repartition(3), s"$base/parts", servingCeiling = 1L)
    val m2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$base/parts/_manifest.json")), "UTF-8")
    assert(m2.contains("\"mode\": \"partitioned\""))
    val nParts = new java.io.File(s"$base/parts").listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    assert(nParts === 3)
    val back = spark.read.option("header", "true").csv(s"$base/parts")
    assert(back.count() === n2)
  }

  test("bruins extracts: named player and team shot-location serving tables") {
    val pl = Extracts.bruinsPlayerShotLocations(out.playerShotLocations, out.dimTeam)
    val plRows = pl.collect()
    // only BOS shooters survive (Pastrnak's two cells); TOR's Marner is dropped
    assert(plRows.nonEmpty)
    assert(plRows.forall(_.getAs[String]("team_abbrev") == "BOS"))
    assert(plRows.map(_.getAs[Long]("shooter_player_id")).toSet === Set(NhlFixtures.Pastrnak))

    val tl = Extracts.bruinsTeamShotLocations(out.teamShotLocations, out.dimTeam)
    val tlRows = tl.collect()
    assert(tlRows.forall(_.getAs[String]("team_abbrev") == "BOS"))
    // reference keeps BOTH contexts: shots by BOS and shots against BOS
    assert(tlRows.map(_.getAs[String]("shot_context")).toSet === Set("offense", "defense"))
    assert(tlRows.map(_.getAs[Long]("shot_attempts")).sum === 3L)
  }
}
