package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.ops.Merge
import graft.streaming.Streaming

/** Driver-gate main: stream/batch CDC parity over the REAL sf fixtures —
  * the streaming surface's analogue of `tools/check_oracle.py`, which the
  * DuckDB oracle cannot reach (DuckDB has no micro-batch execution to
  * compare against).
  *
  * What it checks: [[graft.streaming.Streaming.cdcAgainstBase]] must
  * classify the s12 snapshot pair (re-derived from the real `orders`
  * table, same derivation as the `s12_snapshot_diff` query face)
  * IDENTICALLY to the batch [[graft.ops.Merge.snapshotDiff]] restricted
  * to added/changed, with the arrivals re-delivered across several
  * micro-batches — so the parity holds under batch boundaries, not just
  * single-batch. Non-vacuity is asserted (both verdicts must occur).
  * Exits nonzero on any mismatch; `tools/gate.sh` runs it alongside the
  * oracle gate and the full StreamingSpec suite.
  */
object StreamGate {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Harness.session
    import spark.implicits._

    // the s12 snapshot pair, re-derived from the real orders table
    val base = graft.sources.Tables.orders(spark, sfDir).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100, 0).cast("long").as("price_c"),
      col("o_orderpriority"))
    val mutated = base.filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 101 === 0, lit("X")).otherwise(col("o_orderstatus")))
    val inserts = base.filter(col("o_orderkey") % 89 === 0 && col("o_orderkey") =!= 0)
      .withColumn("o_orderkey", -col("o_orderkey"))
    val newSnap = mutated.unionByName(inserts)

    val keys = Seq("o_orderkey")
    val tracks = Seq("o_custkey", "o_orderstatus", "price_c", "o_orderpriority")
    val batch = Merge.snapshotDiff(base, newSnap, keys, tracks)
      .filter(col("status") =!= "removed")
      .as[(Long, String)].collect().toSet

    // arrivals: the full new snapshot re-delivered across micro-batches
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = newSnap.as[(Long, Long, String, Long, String)].collect()
    val ms = MemoryStream[(Long, Long, String, Long, String)]
    val q = Streaming.cdcAgainstBase(
        ms.toDF.toDF("o_orderkey", "o_custkey", "o_orderstatus",
          "price_c", "o_orderpriority"),
        base, keys, tracks)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gate_cdc").start()
    rows.grouped(math.max(1, rows.length / 5 + 1)).foreach { chunk =>
      ms.addData(chunk.toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("gate_cdc").as[(Long, String)].collect().toSet

    val verdicts = batch.map(_._2)
    val nonVacuous = verdicts.contains("added") && verdicts.contains("changed")
    val ok = streamed == batch && nonVacuous
    println(s"[streamgate] cdcAgainstBase @$sfDir: batch=${batch.size} " +
      s"streamed=${streamed.size} " + (
        if (ok) "PARITY"
        else if (!nonVacuous) s"VACUOUS (verdicts=$verdicts)"
        else "MISMATCH stream-only=" + (streamed diff batch).take(3) +
          " batch-only=" + (batch diff streamed).take(3)))
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
