package graft

/** Dumps formatted physical plans for representative queries — the plan-
  * review loop (SURVEY guidance: after each operator works, explain the
  * plan and iterate until it's the plan you'd want at 100 TB).
  * Usage: runMain graft.Plans [sfDir] [queryName ...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("p9_date_window", "j1_broadcast_dim", "tpch_q3", "a1_sum_groupby",
        "w1_latest_snapshot", "ann_topk_brute")
    val spark = Harness.session
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
