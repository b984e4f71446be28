package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Per-layer figures of a traced run, named `<module>.<figure>`. Every
  * figure is a per-pass total, reported as the median over the traced
  * passes; a figure a workload never exercises reads 0.
  *
  * A module's self time is the time spent inside the calls into it (an
  * operation span has no children other than its own sub-phases); the
  * harness self time is the rest of the pass wall time (cleanup between
  * operations), so module self times plus harness self time equal the
  * pass wall time.
  */
object Layers {
  val Modules: Seq[String] = Seq("sources", "nhl", "ops")

  /** operation-name prefix summed into a named time figure (`build`
    * covers `build.run` and every `build_write.<table>`) */
  val TimeFigures: Seq[(String, String, String)] = Seq(
    ("sources.raw_read_s", "sources", "raw_read"),
    ("sources.bronze_append_s", "sources", "bronze_append"),
    ("nhl.build_s", "nhl", "build"),
    ("nhl.quality_s", "nhl", "quality"),
    ("nhl.extract_s", "nhl", "extract"),
    ("ops.dedup_s", "ops", "dedup"),
    ("ops.text_s", "ops", "text"),
    ("ops.ann_build_s", "ops", "ann_build"),
    ("ops.ann_probe_s", "ops", "ann_probe"))

  /** figures a workload reports itself (per pass) */
  val WorkloadFigures: Seq[String] = Seq(
    "sources.raw_files", "sources.raw_bytes", "sources.stored_bytes_per_input_byte",
    "nhl.latest_snapshot_keep_ratio", "ops.pairs_out")

  def compute(spark: SparkSession, loop: Loop, t: Tracer,
              workload: Map[String, Double]): Map[String, Double] = {
    import Counters._
    val traced = loop.passes.filter(_.traced).toSeq
    val untraced = loop.passes.filterNot(_.traced).toSeq
    val children = t.spans.groupBy(_.parent)
    def dur(s: Span): Double = Harness.secs(s.end - s.start)

    val perPass: Seq[Map[String, Double]] = traced.map { p =>
      val ops = children.getOrElse(p.spanId, Nil).toSeq
      val m = scala.collection.mutable.Map[String, Double]()
      for ((fig, module, prefix) <- TimeFigures)
        m(fig) = ops.filter(s => s.module == module && s.name.takeWhile(_ != '.').startsWith(prefix)).map(dur).sum
      // planning vs execution of the query-library faces the operations call
      val subs = ops.flatMap(o => children.getOrElse(o.id, Nil))
      m("queries.plan_s") = subs.filter(_.name == "plan").map(dur).sum
      m("queries.exec_s") = subs.filter(_.name == "exec").map(dur).sum
      val pe = m("queries.plan_s") + m("queries.exec_s")
      m("queries.plan_share") = if (pe > 0) m("queries.plan_s") / pe else 0.0
      def total(spans: Seq[Span], i: Int): Long =
        spans.flatMap(s => Option(t.listener.bySpan.get(java.lang.Long.valueOf(s.id)))).map(_(i)).sum
      for (mod <- Modules) {
        val mine = ops.filter(_.module == mod)
        m(s"$mod.self_s") = mine.map(dur).sum
        m(s"$mod.tasks") = total(mine, Tasks).toDouble
        m(s"$mod.task_cpu_s") = total(mine, CpuNs) / 1e9
        m(s"$mod.gc_s") = total(mine, GcMs) / 1e3
        m(s"$mod.shuffle_write_bytes") = total(mine, ShuffleWrite).toDouble
        m(s"$mod.spill_bytes") = total(mine, Spill).toDouble
        m(s"$mod.materialized_bytes") = mine.map(s => t.materialized.getOrElse(s.id, 0L)).sum.toDouble
      }
      m("sources.bytes_written") = total(ops, Output).toDouble
      m("sources.scan_bytes") = total(ops, Input).toDouble
      m("harness.self_s") = Harness.secs(p.end - p.start) - ops.map(dur).sum
      m.toMap
    }

    val storage = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum.toDouble
    val med = perPass.head.keys.map(k => k -> Harness.median(perPass.map(_(k)))).toMap
    val tracedWall = Harness.median(traced.map(p => Harness.secs(p.end - p.start)).toSeq)
    val untracedWall = Harness.median(untraced.map(p => Harness.secs(p.end - p.start)).toSeq)
    med ++ WorkloadFigures.map(f => f -> workload.getOrElse(f, 0.0)) ++ Map(
      "ops.working_set_share" ->
        (med("ops.shuffle_write_bytes") + med("ops.materialized_bytes")) / storage,
      "trace.traced_wall_s" -> tracedWall,
      "trace.untraced_wall_s" -> untracedWall,
      "trace.overhead_s" -> (tracedWall - untracedWall))
  }

  def writeSpans(t: Tracer, path: String): Unit = {
    val lines = t.spans.map(s => Harness.Json.writeValueAsString(Map("run" -> s.runId,
      "id" -> s.id, "parent" -> s.parent, "module" -> s.module, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end, "ok" -> s.ok)))
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
