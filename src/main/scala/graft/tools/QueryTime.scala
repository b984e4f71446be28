package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Time SparkEntry queries by name under the BENCH methodology — the
  * per-query iteration loop behind Bench, kept estimator-identical to it
  * so a QueryTime delta predicts a Bench delta: same session configs,
  * same sf0.001 plan warmup, an untimed priming run at the timed SF, a
  * `clearCache()` between timings (so per-query caches/persists are worth
  * exactly what they are worth in the bench — a persist() that silently
  * dies under clearCache shows up here too), interleaved rounds, and
  * median + min over runs. Not part of the library surface.
  * Usage: runMain graft.tools.QueryTime <name>[,<name>...] [sfDir] [runs]
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // mirror Bench's scan-split configs — without them a single-file
      // compute-dense table (sf1 documents) scans as ONE task and every
      // downstream number is a 1-core artifact, not the plan's cost
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "65536")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    // Bench's JMH-style warmup (codegen/JIT at the smallest SF) ...
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      names.foreach { n =>
        try SparkEntry.queries(n)(spark, warmDir).count()
        catch { case _: Throwable => () }
      }
    spark.catalog.clearCache()
    // mirror Bench r15: drop the warmup's checkpoint blocks, run the
    // declared untimed prebuilds, snapshot their RDD ids, and drop each
    // timed run's own checkpoint blocks outside the timer
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    try graft.queries.NhlQueries.materializeSilver(spark, dir)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[qt] silver build failed: $e") }
    try graft.queries.LlmQueries.prebuildAnnIndex(spark, dir)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[qt] ann index build failed: $e") }
    val prebuiltIds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def timeOnce(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!prebuiltIds.contains(id)) rdd.unpersist(blocking = true)
      }
      dt
    }
    val samples = collection.mutable.Map(names.map(_ -> List.empty[Double]): _*)
    // round 0 = untimed priming at the timed SF (Bench's SPARK_GRAFT_PRIME)
    (0 to runs).foreach { round =>
      names.foreach { n =>
        val dt = timeOnce(n)
        if (round > 0) samples(n) = dt :: samples(n)
      }
    }
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    names.foreach { n =>
      val xs = samples(n)
      println(f"[qt] $n median=${median(xs)}%.2f min=${xs.min}%.2f runs=${xs.reverse.map(x => f"$x%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
