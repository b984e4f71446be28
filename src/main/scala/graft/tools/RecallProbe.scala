package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.Similarity
import graft.sources.Tables

/** Measure IVF (or IVF-PQ) recall@5 on the ann_*_recall query sample
  * (vec_id%4) at a given sfDir — the measurement behind IvfRecallFloorPct
  * and PqRecallFloorPct. Not part of the library surface.
  * Usage: runMain graft.tools.RecallProbe [sfDir] [reps] [nlist] [nprobe] [ivf|pq]
  * (nlist/nprobe <= 0 → Similarity.chooseNList / chooseNProbe over the
  * corpus count, i.e. the library's adaptive defaults)
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val reps = if (args.length > 1) args(1).toInt else 3
    val nlistArg = if (args.length > 2) args(2).toInt else 0
    val nprobeArg = if (args.length > 3) args(3).toInt else 0
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val nlist = if (nlistArg > 0) nlistArg else Similarity.chooseNList(n)
    val nprobe = if (nprobeArg > 0) nprobeArg else Similarity.chooseNProbe(nlist)
    println(s"[recall] n=$n nlist=$nlist nprobe=$nprobe")
    for (r <- 1 to reps) {
      val brute = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") % 4 === 0), emb, k = 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("in_b"))
      val mode = if (args.length > 4) args(4) else "ivf"
      val approx =
        if (mode == "pq") Similarity.ivfPqTopK(emb, k = 5, nlist = nlist, nprobe = nprobe)
        else Similarity.ivfTopK(emb, k = 5, nlist = nlist, nprobe = nprobe)
      val ivf = approx
        .filter(col("query_id") % 4 === 0)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("in_v"))
      val row = brute.join(ivf, Seq("query_id", "neighbor_id"), "full_outer")
        .agg(sum(coalesce(col("in_b"), lit(0))).as("n_brute"),
          sum(coalesce(col("in_v"), lit(0))).as("n_ivf"),
          sum(when(col("in_b") === 1 && col("in_v") === 1, 1).otherwise(0)).as("n_hits"))
        .collect()(0)
      val (nb, nv, nh) = (row.getLong(0), row.getLong(1), row.getLong(2))
      println(f"[recall] $dir rep$r: n_brute=$nb n_ivf=$nv n_hits=$nh recall=${nh.toDouble / nb}%.3f")
    }
    spark.stop()
  }
}
