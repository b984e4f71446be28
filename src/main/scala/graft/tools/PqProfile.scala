package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Similarity
import graft.sources.Tables

/** Stage-level wall-clock profile of the IVF-PQ pipeline (diagnostic, not
  * part of the driver surface): times codebook training, encode, coarse
  * quantizer, and the full query separately so perf work aims at the
  * dominant stage instead of guessing.
  */
object PqProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Harness.session

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val taskNanos = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          taskNanos.addAndGet(t.taskMetrics.executorRunTime * 1000000L)
    })
    def t[A](name: String)(f: => A): A = {
      val s = System.nanoTime(); val j0 = jobs.get(); val tn0 = taskNanos.get()
      val r = f
      println(f"[pq] $name%-22s ${(System.nanoTime() - s) / 1e9}%.2f s  " +
        f"jobs=${jobs.get() - j0}  taskTime=${(taskNanos.get() - tn0) / 1e9}%.2f s")
      r
    }
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val nlist = Similarity.chooseNList(n)
    val nprobe = Similarity.chooseNProbe(nlist)
    println(s"[pq] n=$n nlist=$nlist nprobe=$nprobe")
    t("pqCodebooks")(Similarity.pqCodebooks(emb, 16, 16, iters = 1, n = n).count())
    t("ivfCentroids")(Similarity.ivfCentroids(emb.select(col("vec_id"),
      col("embedding")), nlist, 1, n).count())
    t("full ivfPqTopK run1")(Similarity.ivfPqTopK(emb, 5, nlist, nprobe, n = n).count())
    t("full ivfPqTopK run2")(Similarity.ivfPqTopK(emb, 5, nlist, nprobe, n = n).count())
    spark.stop()
  }
}
