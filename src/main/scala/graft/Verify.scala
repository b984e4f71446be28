package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [queryName ...] — with
  * names given, only those queries are dumped and oracle_sql.json is
  * filtered to match (targeted re-checks at big SFs without re-running
  * the whole surface). */
object Verify {
  import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

  /** The driver's correctness harness reads each dump with pandas and
    * sorts rows over ALL columns; a container-typed cell (array/map/
    * struct) arrives as an ndarray/dict and `sort_values` dies on
    * "unhashable type" — which in round 7 zeroed ta_bpe_encode's row
    * without even a rows-only record. Query dump faces must therefore be
    * scalar-only (array_join / element_at / to_json at the face; the
    * typed columns stay in the library API). Enforced here at dump time
    * and swept across every query in PlanGuardSpec.
    */
  def isAtomic(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => false
    case _ => true
  }

  def assertAtomicFace(name: String, schema: StructType): Unit = {
    val bad = schema.fields.filterNot(f => isAtomic(f.dataType))
    require(bad.isEmpty,
      s"query '$name' dumps non-atomic columns the driver harness cannot " +
        s"sort: ${bad.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")}")
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val selected = Harness.select(args.drop(2).toSeq)
    val spark = Harness.session
    new java.io.File(outDir).mkdirs()
    // the per-query release below drops each query's own checkpoint blocks
    // (232 queries' worth otherwise accumulate on storage memory — same
    // failure mode the bench documents) but keeps the prebuilt frames
    val prebuilt = Harness.prebuild(spark, sfDir)
    selected.foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce collapses every stage
      // upstream of the last exchange into one task — for broadcast-join
      // plans (no exchange at all, e.g. the O(n²) cosine baseline) that
      // serializes the whole computation. The extra round-robin shuffle
      // moves only the final result rows; compute keeps full parallelism.
      try {
        val df = fn(spark, sfDir)
        assertAtomicFace(name, df.schema)
        df.repartition(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Harness.release(spark, prebuilt.ids)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.view.filterKeys(selected.keySet)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
