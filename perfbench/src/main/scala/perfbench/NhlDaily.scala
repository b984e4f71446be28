package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.nhl.{Bronze, Extracts, Models, NhlOutputs, NhlPipeline, Quality, Schemas, Synthetic}
import graft.sources.VersionedTable

/** `nhl_daily`: the reference's daily DAG replayed on the last day of a
  * generated schedule block. Each pass starts from bronze holding every
  * earlier day, reads the day's raw one-document-per-file JSON, appends it
  * to bronze, rebuilds the model graph, overwrites the silver tables as
  * graft.nhl.RunPipeline does, and runs the quality checks and the serving
  * extracts.
  *
  * The warm-up runs the same operation list, but builds the model graph
  * from every document the generator serialized (parsed in memory, no raw
  * file read, committed to a versioned table like the replay's bronze, so
  * the graph reads the same kind of scan) into a separate expected silver:
  * the correctness check compares the replay's silver against it.
  */
final class NhlDaily(a: Main.Args) extends Workload {
  import NhlDaily._
  private val rawRoot = s"${a.work}/in/nhl"
  private val root = s"${a.work}/nhl"
  private val bronze = s"$root/bronze"
  private val start = s"$root/bronze_start"
  private val warmBronze = s"$root/warm_bronze"
  private val expectedBronze = s"$root/expected_bronze"
  private val silver = s"$root/silver"
  private val expectedSilver = s"$root/expected_silver"
  private val counts = mutable.Map[String, Long]()
  private var opsRun = 0
  private var docs: Seq[Doc] = Nil
  private var days: Seq[String] = Nil

  /** Set-up: read the generated documents (the pool block and file order
    * the seed picked; see perfbench/gen.py), then load, through the
    * versioned table, the bronze before the replayed day (every earlier
    * document) and the expected bronze (every document). */
  override def prepare(spark: SparkSession): Unit = {
    Harness.deleteTree(root)
    docs = Files.readAllLines(Paths.get(rawRoot, "docs.jsonl")).asScala.map { l =>
      val d = Harness.Json.readTree(l)
      Doc(d.get("ds").asText, d.get("json").asText, d.get("uri").asText, d.get("date").asText)
    }.toSeq
    days = docs.filter(_.dataset == "odds").map(_.date).distinct.sorted
    for ((dir, d) <- Seq(start -> docs.filter(_.date < days.last), expectedBronze -> docs);
         (ds, f) <- frames(spark, d))
      VersionedTable.commit(f, s"$dir/$ds", "append")
  }

  override def beforePass(spark: SparkSession, warm: Boolean): Unit = {
    Harness.releaseBlocks(spark)
    Harness.deleteTree(if (warm) warmBronze else bronze)
    if (!warm) Harness.copyTree(start, bronze)
  }

  /** Frames handed from one operation to the next stay cached until the
    * day's last operation; then every block is released.
    */
  override def afterOp(spark: SparkSession): Unit = {
    opsRun += 1
    if (opsRun % OpsPerDay == 0) Harness.releaseBlocks(spark)
  }

  def ops(spark: SparkSession, warm: Boolean): Seq[Op] =
    if (warm) dayOps(spark, days.last, warmBronze, expectedSilver, "expected", expectedBronze)
    else dayOps(spark, days.last, bronze, silver, "replay", bronze)

  /** The daily DAG: ingest `day` into `bronzeDir`, build the model graph
    * from the bronze in `buildFrom` as of the season's last day, write
    * silver to `silverDir`. */
  private def dayOps(spark: SparkSession, day: String, bronzeDir: String, silverDir: String,
                     tag: String, buildFrom: String): Seq[Op] = {
    val raw = mutable.Map[String, DataFrame]()
    var out: NhlOutputs = null
    def written(name: String): DataFrame = spark.read.parquet(s"$silverDir/$name")
    def keep(k: String, n: Long): Unit = counts(s"$tag.$k") = n

    val reads = Datasets.map(ds => Op("sources", s"raw_read.$ds", _ => {
      val df = Bronze.readRawSnapshots(spark, glob(rawRoot, ds, day), schema(ds)).persist()
      df.count()
      raw(ds) = df
    }))
    val appends = Datasets.map(ds => Op("sources", s"bronze_append.$ds", _ =>
      VersionedTable.commit(raw(ds), s"$bronzeDir/$ds", "append")))
    val run = Op("nhl", "build.run", _ => {
      out = NhlPipeline.run(spark, VersionedTable.read(spark, s"$buildFrom/boxscore"),
        VersionedTable.read(spark, s"$buildFrom/pbp"), VersionedTable.read(spark, s"$buildFrom/odds"), days.last)
    })
    // each silver table is built and written in one action, as
    // RunPipeline does
    val writes = SilverTables.map { case (name, parts) => Op("nhl", s"build_write.$name", _ => {
      val w = table(out, name).write.mode("overwrite")
      (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(s"$silverDir/$name")
    })}
    val quality = Checks.map { case (name, f) =>
      Op("nhl", s"quality.$name", _ => keep(s"quality.$name", f(written)))
    }
    val extracts = Serving.map { case (name, f, act) =>
      Op("nhl", s"extract.$name", _ =>
        keep(s"extract.$name", act(f(written), s"$root/$tag/exports")))
    }
    reads ++ appends ++ Seq(run) ++ writes ++ quality ++ extracts
  }

  /** Bronze frames as the raw reader yields them, built from the documents
    * themselves (no file read). */
  private def frames(spark: SparkSession, ds: Seq[Doc]): Map[String, DataFrame] =
    Datasets.map { d =>
      val rows = ds.filter(_.dataset == d).map(x => Row(x.json, x.uri, x.date))
      d -> spark.createDataFrame(rows.asJava, DocSchema)
        .select(from_json(col("json"), schema(d)).as("payload"), col("uri").as("s3_key"),
          to_date(col("date")).as("partition_date"),
          regexp_extract(col("uri"), "game_id=([0-9]+)", 1).as("gid"))
        .withColumn("game_id", when(col("gid") =!= "", col("gid").cast("long")))
        .drop("gid")
    }.toMap

  /** Untimed: the silver tables the replayed day left must equal, by an
    * order-independent hash, the expected silver (`NhlPipeline.run` on the
    * documents the generator serialized); no quality check may find a
    * violation, and every extract must return what it returns on the
    * expected silver.
    */
  def check(spark: SparkSession): Seq[String] = {
    val sums = fingerprints(SilverTables.flatMap { case (name, _) => Seq(
      (name, 0, spark.read.parquet(s"$expectedSilver/$name")),
      (name, 1, spark.read.parquet(s"$silver/$name"))) })
    val fails = mutable.ArrayBuffer[String]()
    for ((name, _) <- SilverTables) {
      val (w, g) = (sums.get((name, 0)), sums.get((name, 1)))
      if (w.isEmpty || w != g) fails += s"silver $name: (rows, hash) $g, expected $w"
    }
    for (tag <- Seq("expected", "replay"); (name, _) <- Checks) {
      val n = counts.get(s"$tag.quality.$name")
      if (!n.contains(0L)) fails += s"$tag quality $name: $n violations, expected 0"
    }
    for ((name, _, _) <- Serving) {
      val (w, g) = (counts.get(s"expected.extract.$name"), counts.get(s"replay.extract.$name"))
      if (w.isEmpty || w != g) fails += s"extract $name: $g rows, expected $w"
    }
    fails.toSeq
  }

  override def figures(spark: SparkSession): Map[String, Double] = {
    val timed = docs.filter(_.date == days.last)
    val stored = Harness.dirBytes(bronze) + Harness.dirBytes(silver)
    val box = VersionedTable.read(spark, s"$bronze/boxscore")
    Map(
      "sources.raw_files" -> timed.size.toDouble,
      "sources.raw_bytes" -> timed.map(_.json.length.toLong).sum.toDouble,
      "sources.stored_bytes_per_input_byte" -> stored.toDouble / docs.map(_.json.length.toLong).sum,
      "nhl.latest_snapshot_keep_ratio" -> Models.stgGames(box).count().toDouble / box.count())
  }
}

/** Serializes the `Synthetic` bronze frames over a generated schedule as
  * JSON lines (dataset, json, date, game_id): the pool of documents every
  * run picks its inputs from. Runs once per build.
  *
  *   perfbench.NhlPool <schedule dir> <out file> <work dir>
  */
object NhlPool {
  def main(argv: Array[String]): Unit = {
    val Array(src, out, work) = argv
    val spark = Main.session(Main.Args("pool", 0L, 0.0, trace = false, work))
    val rows = NhlDaily.synthetic(spark, src).map { case (ds, df) =>
      df.select(lit(ds).as("ds"), to_json(col("payload")).as("json"),
        col("partition_date").cast("string").as("date"), col("game_id"))
    }.reduce(_ union _).collect()
    val w = Files.newBufferedWriter(Paths.get(out))
    try rows.foreach { r =>
      w.write(Harness.Json.writeValueAsString(Map("ds" -> r.getString(0),
        "json" -> r.getString(1), "date" -> r.getString(2), "game_id" -> r.getLong(3))))
      w.newLine()
    } finally w.close()
    Main.stop(spark)
  }
}

object NhlDaily {
  val Team = "T07"
  val Datasets: Seq[String] = Seq("boxscore", "pbp", "odds")

  /** One generated raw document: its dataset, text, file URI and key date. */
  final case class Doc(dataset: String, json: String, uri: String, date: String)

  val DocSchema: StructType = StructType.fromDDL("json STRING, uri STRING, date STRING")

  def schema(ds: String): StructType = ds match {
    case "boxscore" => Schemas.boxscore
    case "pbp" => Schemas.pbp
    case _ => Schemas.odds
  }

  def glob(root: String, ds: String, day: String): String = {
    val d = s"date=$day"
    ds match {
      case "boxscore" => s"$root/raw/nhl/game_boxscore/$d/*/*/*.json"
      case "pbp" => s"$root/raw/nhl/game_pbp/$d/*/*/*.json"
      case _ => s"$root/raw/odds/player_props/$d/*/*.json"
    }
  }

  /** `Synthetic`'s bronze shapes over the generated schedule in `dir`, odds
    * dated on game day. */
  def synthetic(spark: SparkSession, dir: String): Seq[(String, DataFrame)] = Seq(
    "boxscore" -> Synthetic.bronzeBoxscore(spark, dir),
    "pbp" -> Synthetic.bronzePbp(spark, dir),
    "odds" -> Synthetic.bronzeOdds(spark, dir)
      .withColumn("partition_date", to_date(col("payload.game_date"))))

  /** The silver tables the replay writes, with graft.nhl.RunPipeline's
    * partitioning: 7 of the 15 it writes, one or more of each model family
    * (dimensions, game / player / shot facts, a shot-location window
    * metric, the odds-joined props fact), covering every table the quality
    * checks and the extracts read. */
  val SilverTables: Seq[(String, Seq[String])] = Seq(
    "dim_team" -> Nil, "dim_player" -> Nil,
    "fact_game_results" -> Seq("season"), "fact_player_game_stats" -> Seq("season"),
    "fact_shot_events" -> Seq("season"), "team_shot_locations" -> Nil,
    "fact_player_sog_props_v2" -> Nil)

  def table(o: NhlOutputs, name: String): DataFrame = name match {
    case "dim_team" => o.dimTeam
    case "dim_player" => o.dimPlayer
    case "fact_game_results" => o.factGameResults
    case "fact_player_game_stats" => o.factPlayerGameStats
    case "fact_shot_events" => o.factShotEvents
    case "team_shot_locations" => o.teamShotLocations
    case "fact_player_sog_props_v2" => o.factPlayerSogPropsV2
  }

  /** dbt schema tests over the silver tables (violation counts): grain
    * uniqueness and a relationships (foreign key) test. */
  val Checks: Seq[(String, (String => DataFrame) => Long)] = Seq(
    "unique_player_games" -> (s =>
      Quality.countDuplicateKeys(s("fact_player_game_stats"), Seq("game_id", "player_id"))),
    "player_fk" -> (s => Quality.countOrphans(
      s("fact_player_game_stats"), "player_id", s("dim_player"), "player_id")))

  /** Serving-layer extracts: the frame, and the read that completes it
    * (a row count, or the team heatmap's CSV export with its manifest). */
  val Serving: Seq[(String, (String => DataFrame) => DataFrame, (DataFrame, String) => Long)] = Seq(
    ("team_shot_events", s => Extracts.teamShotEvents(s("fact_shot_events"), Team),
      (df, _) => df.count()),
    ("export_csv", s =>
      Extracts.bruinsTeamShotLocations(s("team_shot_locations"), s("dim_team"), Team),
      (df, dir) => Extracts.exportCsvWithManifest(df, s"$dir/team_shot_locations")))

  val OpsPerDay: Int = 2 * Datasets.size + 1 + SilverTables.size + Checks.size + Serving.size

  /** (rows, sum of per-row hashes) for every (key, side) frame, in one job:
    * order-independent, and blind to column order and integer width (a row
    * hashes as its JSON text). */
  def fingerprints(frames: Seq[(String, Int, DataFrame)]): Map[(String, Int), (Long, String)] =
    frames.map { case (key, side, df) =>
      df.select(lit(key).as("key"), lit(side).as("side"),
        xxhash64(to_json(struct(df.columns.sorted.map(col): _*))).cast("decimal(38,0)").as("h"))
    }.reduce(_ unionByName _)
      .groupBy("key", "side").agg(count(lit(1)), sum(col("h")).cast("string"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getString(3))).toMap
}
