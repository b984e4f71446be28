package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import scala.util.control.NonFatal

/** The one session config and the one prebuild / per-query release loop
  * every main of the engine runs through (Bench, Verify, Plans, StreamGate,
  * nhl.RunPipeline and the diagnostic tools).
  */
object Harness {

  type Query = (SparkSession, String) => DataFrame

  /** A session already running in this JVM (an embedding caller's), if any. */
  def existing: Option[SparkSession] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)

  /** The engine's session: `local[$SPARK_GRAFT_CPUS]` (default: the host's
    * core count) with as many shuffle partitions; `SPARK_MASTER` overrides
    * the master for a cluster deployment. An already-running session is
    * returned untouched: `getOrCreate()` would apply the SQL confs below
    * to the caller's session and leak them into its later work.
    */
  def session: SparkSession = existing.getOrElse {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS); read as long, Tables.events
      // converts to microsecond TimestampType (matches DuckDB's NS→US cast).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // split size tuned to the data:core ratio (SURVEY §scale): whole
      // tables here are 1-150 MB single files, so the 128 MB default maps
      // every SCAN stage to one task; 8 MB keeps scans parallel at sf1
      // without changing sf0.01/sf0.1 behavior (those files are under
      // 8 MB). A real cluster reading TB-sized tables wants the default back.
      .config("spark.sql.files.maxPartitionBytes", "8m")
      // ...and the 4 MB openCostInBytes floor re-serializes any table
      // UNDER 8 MB (maxSplitBytes = min(maxPartitionBytes,
      // max(openCostInBytes, totalBytes/minPartitionNum))): documents at
      // sf1 is 5.8 MB of heavily-compressed text whose explode/shingle
      // stages are compute-dense — one scan partition pinned a 345 s
      // dd_dedup_corpus run to 1.4 cores. 64 KB lets bytesPerCore win, so
      // every multi-row-group table splits to ~cores partitions.
      .config("spark.sql.files.openCostInBytes", "65536")
      // one pass over the query surface generates more classes than the
      // default 100-entry codegen cache holds, so every pass recompiled
      // them all; a static conf, so it is set here, at session build
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Outcome of [[prebuild]]: whether each build succeeded, and the RDD
    * ids persisted by then, which [[release]] must keep.
    */
  final case class Prebuilt(silver: Boolean, annIndex: Boolean, ids: Set[Int])

  /** Materialize the process-level frames for `sfDir` once, outside any
    * timer: the NHL bronze→silver build and the IVF / IVF-PQ ANN indexes.
    * Their lineage is truncated, so an unpersisted prebuild block cannot be
    * recomputed: [[release]] keeps the returned ids. NonFatal only (an OOM
    * must kill the run, not skew it); a failed build is reported in the
    * flags and the queries that need it pay the build inline.
    */
  def prebuild(spark: SparkSession, sfDir: String): Prebuilt = {
    def attempt(what: String)(build: => Unit): Boolean =
      try { build; true }
      catch { case NonFatal(e) =>
        System.err.println(s"[harness] $what build failed: $e"); false }
    val silver = attempt("silver")(graft.queries.NhlQueries.materializeSilver(spark, sfDir))
    val ann = attempt("ann index")(graft.queries.LlmQueries.prebuildAnnIndex(spark, sfDir))
    Prebuilt(silver, ann, spark.sparkContext.getPersistentRDDs.keySet.toSet)
  }

  /** Free everything one query left behind: the CacheManager's entries
    * and every persisted RDD not in `keep`. `clearCache` cannot see
    * `localCheckpoint` blocks, which otherwise squat on storage memory
    * until the ContextCleaner notices their GC'd references (multi-×
    * noise on later query times through GC churn). Each query builds a
    * fresh DataFrame, so blocks born in one are dead after its action;
    * they go without `RDD.unpersist`'s per-RDD "was locally checkpointed"
    * WARN (one stderr line per dropped block).
    */
  def release(spark: SparkSession, keep: Set[Int]): Unit = {
    spark.catalog.clearCache()
    (spark.sparkContext.getPersistentRDDs.keySet -- keep)
      .foreach(GraftSqlBridge.unpersistRDD(spark, _))
  }

  /** The queries named on a command line, or every query when none is
    * named; an unknown name fails before any work starts.
    */
  def select(names: Seq[String]): Map[String, Query] =
    if (names.isEmpty) SparkEntry.queries
    else {
      val unknown = names.toSet -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      SparkEntry.queries.view.filterKeys(names.toSet).toMap
    }
}
