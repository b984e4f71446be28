package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One operation of a workload: one public call into a module of the
  * program plus the action that completes it. `run` gets the span context
  * so an operation can mark a sub-phase (e.g. planning) in traced runs.
  */
final case class Op(module: String, name: String, run: Ctx => Any)

/** A recorded span: a pass (module "harness") or an operation inside it, or
  * a sub-phase inside an operation. Times are System.nanoTime.
  */
final case class Span(id: Long, parent: Long, runId: String, module: String, name: String,
                      start: Long, end: Long, ok: Boolean)

/** Task-metric totals the listener attributes to one span. */
final class Counters {
  // tasks, cpu ns, gc ms, shuffle write B, spill B, input B, output B
  val v = new AtomicLongArray(7)
  def apply(i: Int): Long = v.get(i)
}

object Counters {
  val Tasks = 0; val CpuNs = 1; val GcMs = 2; val ShuffleWrite = 3
  val Spill = 4; val Input = 5; val Output = 6
}

/** Attributes every task to the span whose job group launched its job. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  val bySpan = new ConcurrentHashMap[java.lang.Long, Counters]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(SpanListener.Prefix)).foreach { g =>
        val id = java.lang.Long.valueOf(g.stripPrefix(SpanListener.Prefix).toLong)
        e.stageIds.foreach(s => stageSpan.put(s, id))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val id = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (id != null && m != null) {
      val c = bySpan.computeIfAbsent(id, _ => new Counters)
      import Counters._
      c.v.addAndGet(Tasks, 1)
      c.v.addAndGet(CpuNs, m.executorCpuTime)
      c.v.addAndGet(GcMs, m.jvmGCTime)
      c.v.addAndGet(ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
      c.v.addAndGet(Spill, m.diskBytesSpilled)
      c.v.addAndGet(Input, m.inputMetrics.bytesRead)
      c.v.addAndGet(Output, m.outputMetrics.bytesWritten)
    }
  }
}

object SpanListener { val Prefix = "perfbench-span-" }

/** Span bookkeeping for one operation. Untraced, `sub` just runs its body. */
final class Ctx(tracer: Option[Tracer], parent: Long) {
  def sub[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(parent, "sub", name)(body)
    case None => body
  }
}

/** In-memory span store; spans are written out when the run ends. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val ids = new AtomicLong(0)
  val spans = ArrayBuffer[Span]()
  val listener = new SpanListener
  /** bytes newly held in block storage after each operation (by span id) */
  val materialized = scala.collection.mutable.Map[Long, Long]()
  spark.sparkContext.addSparkListener(listener)

  def newId(): Long = ids.incrementAndGet()

  def span[A](parent: Long, module: String, name: String)(body: => A): A = {
    val id = newId()
    val t0 = System.nanoTime()
    var ok = false
    try { val r = body; ok = true; r }
    finally spans.synchronized { spans += Span(id, parent, runId, module, name, t0, System.nanoTime(), ok) }
  }

  /** Runs one operation under its own job group and records the bytes it
    * left in block storage (cached or checkpointed blocks).
    */
  def op(parent: Long, o: Op): (Long, Long, Boolean) = {
    val sc = spark.sparkContext
    val id = newId()
    val before = sc.getPersistentRDDs.keySet
    sc.setJobGroup(SpanListener.Prefix + id, o.name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val ok = try { o.run(new Ctx(Some(this), id)); true } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[perfbench] ${o.module}/${o.name} failed: $e"); false }
    val t1 = System.nanoTime()
    sc.clearJobGroup()
    spans.synchronized { spans += Span(id, parent, runId, o.module, o.name, t0, t1, ok) }
    val fresh = sc.getPersistentRDDs.keySet -- before
    if (fresh.nonEmpty)
      materialized(id) = sc.getRDDStorageInfo.filter(i => fresh.contains(i.id))
        .map(i => i.memSize + i.diskSize).sum
    (t0, t1, ok)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}

/** One pass over the operation list. */
final case class Pass(index: Int, traced: Boolean, start: Long, end: Long, spanId: Long)

/** Closed loop with one client: the next operation starts when the
  * previous one has returned. Passes repeat the fixed operation list for
  * `seconds`; a pass that has started always completes, so every pass wall
  * time covers the whole list.
  */
final class Loop {
  val samples = ArrayBuffer[(Int, Op, Long, Long, Boolean, Boolean)]() // pass, op, t0, t1, ok, traced
  val passes = ArrayBuffer[Pass]()

  def run(ops: Seq[Op], beforePass: () => Unit, afterOp: () => Unit,
          seconds: Double, tracer: Option[Tracer]): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var lastCycle = 0L
    var first = true
    // a pass starts only if it is expected to end by the deadline (the
    // first always runs), so a run measures at most `seconds` unless a
    // single pass takes longer
    while (first || System.nanoTime() + lastCycle <= deadline) {
      first = false
      val c0 = System.nanoTime()
      beforePass()
      val idx = passes.size
      val passId = tracer.map(_.newId()).getOrElse(-1L)
      val p0 = System.nanoTime()
      ops.foreach { o =>
        val (t0, t1, ok) = tracer match {
          case Some(t) => t.op(passId, o)
          case None =>
            val t0 = System.nanoTime()
            val ok = try { o.run(new Ctx(None, -1L)); true } catch { case scala.util.control.NonFatal(e) =>
              System.err.println(s"[perfbench] ${o.module}/${o.name} failed: $e"); false }
            (t0, System.nanoTime(), ok)
        }
        samples += ((idx, o, t0, t1, ok, tracer.isDefined))
        afterOp()
      }
      val p1 = System.nanoTime()
      tracer.foreach(t => t.spans.synchronized {
        t.spans += Span(passId, 0L, t.runId, "harness", "pass", p0, p1, ok = true) })
      passes += Pass(idx, tracer.isDefined, p0, p1, passId)
      lastCycle = System.nanoTime() - c0
    }
  }
}

object Harness {
  /** JSON for the result and span files (Scala collections included). */
  val Json: com.fasterxml.jackson.databind.json.JsonMapper =
    com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()

  def secs(ns: Long): Double = ns / 1e9

  def time[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = body
    (secs(System.nanoTime() - t0), r)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Drop every cached frame and every block-storage RDD the last operation
    * left behind, except the ids in `keep` (frames a later operation reads).
    */
  def releaseBlocks(spark: SparkSession, keep: Set[Int] = Set.empty): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = true)
    }
  }

  /** Untimed, before the timed loop: collect the warm-up's garbage and let
    * the JIT finish the compilations the warm-up queued (up to 3 s), so the
    * first timed pass does not share the cores with them.
    */
  def quiesce(): Unit = {
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 3000000000L
    var last = -1L
    var now = jit.getTotalCompilationTime
    while (now != last && System.nanoTime() < deadline) {
      Thread.sleep(300)
      last = now
      now = jit.getTotalCompilationTime
    }
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val s = java.nio.file.Files.walk(src)
    try s.iterator().asScala.foreach { f =>
      val t = dst.resolve(src.relativize(f))
      if (java.nio.file.Files.isDirectory(f)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(f, t)
    } finally s.close()
  }
}
