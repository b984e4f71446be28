package graft

/** The per-query release and the command-line query selection every main
  * shares.
  */
class HarnessSpec extends SparkTestBase {

  test("release unpersists every localCheckpointed RDD outside keep, kept ones stay readable") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // earlier suites' blocks are in keep too: this session is shared
    val before = persisted
    val kept = spark.range(100).toDF("id").localCheckpoint()
    val keep = persisted
    val keptIds = keep -- before
    val dropped = Seq(spark.range(50).toDF("id").localCheckpoint(),
      spark.range(7).toDF("id").localCheckpoint())
    val born = persisted -- keep
    assert(keptIds.size === 1 && born.size === dropped.size)

    Harness.release(spark, keep)

    val left = persisted
    assert((left intersect born).isEmpty)
    assert(keptIds.subsetOf(left))
    assert(kept.count() === 100)
    assert(kept.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0) === 4950L)
    val e = intercept[org.apache.spark.SparkException](dropped.head.count())
    assert(e.getMessage.contains("Checkpoint block"), e.getMessage)
  }

  test("select: no names is the whole surface, named ones only, unknown names rejected") {
    assert(Harness.select(Nil).keySet === SparkEntry.queries.keySet)
    assert(Harness.select(Seq("tpch_q1", "a1_sum_groupby")).keySet ===
      Set("tpch_q1", "a1_sum_groupby"))
    val e = intercept[IllegalArgumentException](
      Harness.select(Seq("tpch_q1", "no_such_query")))
    assert(e.getMessage === "requirement failed: unknown queries: no_such_query")
  }
}
