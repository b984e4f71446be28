package graft

/** The per-query release and the command-line query selection every main
  * shares.
  */
class HarnessSpec extends SparkTestBase {

  /** The messages of every log4j2 event at WARN or above logged while
    * `body` runs.
    */
  private def logged(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("harness-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try body
    finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    seen.toArray(Array.empty[String]).toSeq
  }

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

    val warnings = logged(Harness.release(spark, keep))
    assert(!warnings.exists(_.contains("was locally checkpointed")), warnings.mkString("\n"))

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
