package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A benchmark workload: its inputs, its fixed operation list and its
  * correctness check. Everything here runs outside the program; the
  * program only sees the generated files and the public calls in `ops`.
  */
trait Workload {
  /** Set-up before the warm-up pass (e.g. loading the starting tables
    * through the program's sinks): runs once. */
  def prepare(spark: SparkSession): Unit = ()
  /** The fixed operation list; `warm` selects the warm-up's variant (the
    * same operations, but on `nhl_daily` building the expected silver). */
  def ops(spark: SparkSession, warm: Boolean): Seq[Op]
  /** Untimed reset before each pass (e.g. restore the starting bronze). */
  def beforePass(spark: SparkSession, warm: Boolean): Unit = ()
  /** Untimed cleanup after each operation. */
  def afterOp(spark: SparkSession): Unit = Harness.releaseBlocks(spark)
  /** Untimed correctness check after the timed loop: the failures found. */
  def check(spark: SparkSession): Seq[String]
  /** Workload-specific per-layer figures, per pass. */
  def figures(spark: SparkSession): Map[String, Double] = Map.empty
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String) {
    val cpus: Int = Runtime.getRuntime.availableProcessors
  }

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1", m("work"))
  }

  /** The session every harness of the program uses (graft.Bench's config),
    * with scratch space kept inside the work directory.
    */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def workload(a: Args): Workload = a.workload match {
    case "nhl_daily" => new NhlDaily(a)
    case "corpus_dedup_ann" => new CorpusDedupAnn(a)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val mainEntry = System.nanoTime()
    val jvmBoot = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val a = parse(argv)
    val w = workload(a)
    val failures = mutable.ArrayBuffer[String]()
    val phases = mutable.LinkedHashMap[String, Double]()

    // set-up: from JVM start to the first timed operation: session
    // creation, prepare and one untimed warm-up pass (the inputs were
    // generated before the JVM started)
    val spark = session(a)
    val created = System.nanoTime()
    w.prepare(spark)
    val prepared = System.nanoTime()
    w.beforePass(spark, warm = true)
    val warmOps = w.ops(spark, warm = true).map { o =>
      val t0 = System.nanoTime()
      try o.run(new Ctx(None, -1L)) catch { case scala.util.control.NonFatal(e) =>
        failures += s"warm-up ${o.module}/${o.name}: $e" }
      val s = Harness.secs(System.nanoTime() - t0)
      w.afterOp(spark)
      Map("module" -> o.module, "name" -> o.name, "s" -> s)
    }
    val warmed = System.nanoTime()
    val setupS = jvmBoot + Harness.secs(warmed - mainEntry)
    phases("jvm_boot_s") = jvmBoot
    phases("session_s") = Harness.secs(created - mainEntry)
    phases("prepare_s") = Harness.secs(prepared - created)
    phases("warmup_s") = Harness.secs(warmed - prepared)
    Harness.quiesce()
    phases("quiesce_s") = Harness.secs(System.nanoTime() - warmed)

    val timedStart = System.nanoTime()
    val loop = new Loop
    val timedOps = w.ops(spark, warm = false)
    val runId = s"${a.workload}-${a.seed}-${System.currentTimeMillis()}"
    val tracer = if (a.trace) {
      // an untraced pass, then a traced one (listener attached): the traced
      // pass wall time minus the untraced one is the tracing overhead
      def pass(t: Option[Tracer]): Unit = loop.run(timedOps,
        () => w.beforePass(spark, warm = false), () => w.afterOp(spark), a.seconds / 2, t)
      pass(None)
      val t = new Tracer(spark, runId)
      pass(Some(t))
      t.drain()
      t.close()
      Some(t)
    } else {
      loop.run(timedOps, () => w.beforePass(spark, warm = false), () => w.afterOp(spark),
        a.seconds, None)
      None
    }

    phases("timed_s") = Harness.secs(System.nanoTime() - timedStart)
    val (checkS, fails) = Harness.time(w.check(spark))
    failures ++= fails
    phases("check_s") = checkS
    val layer = tracer.map(t => Layers.compute(spark, loop, t, w.figures(spark)))
    tracer.foreach(t => Layers.writeSpans(t, s"${a.work}/spans.jsonl"))
    val rss = Harness.peakRssMb()
    stop(spark)

    val out = Map(
      "workload" -> a.workload,
      "seed" -> a.seed,
      "setup_s" -> setupS,
      "ops" -> loop.samples.map { case (p, o, t0, t1, ok, traced) =>
        Map("pass" -> p, "module" -> o.module, "name" -> o.name,
          "s" -> Harness.secs(t1 - t0), "ok" -> ok, "traced" -> traced)
      },
      "warmup_ops" -> warmOps,
      "passes" -> loop.passes.map(p => Map("traced" -> p.traced,
        "wall_s" -> Harness.secs(p.end - p.start))),
      "peak_rss_mb" -> rss,
      "layer" -> layer.getOrElse(Map.empty),
      "phases" -> phases,
      "failures" -> failures)
    Harness.Json.writeValue(new java.io.File(s"${a.work}/jvm_result.json"), out)
  }
}
