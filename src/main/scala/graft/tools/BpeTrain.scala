package graft.tools

/** Artifact generator: trains the shipped BPE merge lists on a testdata
  * corpus and prints them as Scala source (the list pasted into
  * LlmQueries.BpeMerges*). Run: runMain graft.tools.BpeTrain [rounds] [sfDir]
  */
object BpeTrain {
  def main(args: Array[String]): Unit = {
    val rounds = if (args.nonEmpty) args(0).toInt else 40
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = graft.Harness.session
    val docs = graft.sources.Tables.documents(spark, dir)
    val merges = graft.ops.CorpusOps.bpeTrainMerges(docs, "text", rounds)
      .orderBy("round")
      .collect()
      .map(r => (r.getString(1), r.getString(2)))
    println("[bpe-train] " + merges.map { case (a, b) => s""""$a" -> "$b"""" }
      .mkString("Seq(\n    ", ",\n    ", ")"))
    spark.stop()
  }
}
