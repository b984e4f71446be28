package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Records each query's collected result: an order-independent hash per
  * execution (the warm-up and every timed pass must agree) and the last result, which the check
  * dumps as parquet for the DuckDB oracle comparison.
  */
final class Results {
  private var pending: Option[(String, Array[Row], StructType)] = None
  val hashes = mutable.Map[String, mutable.Set[(Int, Long)]]()
  val last = mutable.Map[String, (Array[Row], StructType)]()

  def record(name: String, rows: Array[Row], schema: StructType): Unit =
    pending = Some((name, rows, schema))

  /** Untimed: hash what the last operation returned. */
  def settle(): Unit = pending.foreach { case (name, rows, schema) =>
    hashes.getOrElseUpdate(name, mutable.Set()) += ((rows.length, rows.map(_.hashCode.toLong).sum))
    last(name) = (rows, schema)
    pending = None
  }

  def inconsistent: Seq[String] =
    hashes.collect { case (n, hs) if hs.size > 1 => s"$n: results differ between passes ($hs)" }.toSeq

  /** Dump every last result, plus the oracle SQL of the ones that have it. */
  def dump(spark: SparkSession, dir: String): Unit = {
    last.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).repartition(1)
        .write.mode("overwrite").parquet(s"$dir/$name")
    }
    val oracle = graft.SparkEntry.oracleSql
    Harness.Json.writeValue(new java.io.File(s"$dir/oracle_sql.json"),
      last.keys.toSeq.sorted.flatMap(n => oracle.get(n).map(n -> _)).toMap)
  }
}
