package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.ops.Similarity
import graft.sources.Tables

/** `corpus_dedup_ann`: the LLM-corpus chain over id-offset, jittered copies
  * of a seeded documents/embeddings base. Each pass runs the dedup chain,
  * the text operators, both ANN index builds and then the seeded probe
  * batches against the indexes the pass built.
  */
final class CorpusDedupAnn(a: Main.Args) extends Workload {
  import CorpusDedupAnn._
  private val in = s"${a.work}/in"
  private val results = new Results
  private var ivf: (DataFrame, DataFrame) = _
  private var pq: (DataFrame, DataFrame) = _
  private var indexIds = Set.empty[Int]
  /** last timed answer of each probe batch: query id -> neighbour ids */
  private val answers = mutable.Map[(String, Int), Map[Long, Set[Long]]]()
  private var pairsPerPass = 0L

  private def probes(spark: SparkSession, dir: String): Seq[(Int, DataFrame)] = {
    val p = spark.read.parquet(s"$dir/probes.parquet")
    val rows = p.collect()
    val schema = p.select("vec_id", "embedding").schema
    rows.groupBy(_.getAs[Int]("batch")).toSeq.sortBy(_._1).map { case (b, rs) =>
      val local = rs.map(r => Row(r.getAs[Long]("vec_id"), r.getAs[Any]("embedding"))).toSeq
      b -> spark.createDataFrame(local.asJava, schema)
    }
  }

  /** The warm-up runs the same list over the same corpus: at this size a
    * pass costs about the same at any input (Spark job overhead dominates),
    * and warming on the timed input leaves the timed pass at steady state.
    * Its query results are recorded too, so every run compares the
    * warm-up's results with the timed passes'. */
  def ops(spark: SparkSession, warm: Boolean): Seq[Op] = {
    val dir = s"$in/corpus"
    def query(kind: String, n: String) = {
      val q = graft.SparkEntry.queries(n)
      Op("ops", s"$kind.$n", ctx => {
        val df = ctx.sub("plan") { val d = q(spark, dir); d.queryExecution.executedPlan; d }
        val rows = ctx.sub("exec")(df.collect())
        results.record(n, rows, df.schema)
        if (kind == "dedup") pairsPerPass += rows.length
      })
    }
    val emb = () => Tables.embeddings(spark, dir)
    val builds = Seq(
      Op("ops", "ann_build.ivf", _ => {
        val (c, corpus) = Similarity.ivfBuildIndex(emb(), NList, 1)
        ivf = (c.localCheckpoint(), corpus.localCheckpoint())
        keepIndex(spark)
      }),
      Op("ops", "ann_build.ivfpq", _ => {
        val (c, enc) = Similarity.ivfPqBuildIndex(emb(), NList)
        pq = (c.localCheckpoint(), enc.localCheckpoint())
        keepIndex(spark)
      }))
    val probeOps = probes(spark, dir).map { case (b, batch) =>
      val kind = if (b % 2 == 0) "ivf" else "ivfpq"
      Op("ops", s"ann_probe.$kind.$b", _ => {
        val res = kind match {
          case "ivf" => Similarity.ivfQueryIndex(ivf._1, ivf._2, batch, K, NProbe)
          case _ => Similarity.ivfPqQueryIndex(pq._1, pq._2, emb(), batch, K, NProbe)
        }
        val got = res.select("query_id", "neighbor_id").collect()
        if (!warm) answers((kind, b)) = got.groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      })
    }
    Dedup.map(query("dedup", _)) ++ Text.map(query("text", _)) ++ builds ++ probeOps
  }

  override def beforePass(spark: SparkSession, warm: Boolean): Unit = {
    indexIds = Set.empty
    pairsPerPass = 0L
    Harness.releaseBlocks(spark)
  }

  /** The blocks an index build leaves stay until the pass ends: the
    * probes read them. Everything else is released after each operation.
    */
  private def keepIndex(spark: SparkSession): Unit =
    indexIds = spark.sparkContext.getPersistentRDDs.keySet.toSet

  override def afterOp(spark: SparkSession): Unit = {
    results.settle()
    Harness.releaseBlocks(spark, indexIds)
  }

  /** Exact cosine top-K of each probe over the corpus, computed locally. */
  private def bruteForce(spark: SparkSession): Map[Long, Set[Long]] = {
    def vec(r: Row, i: Int): Array[Double] = r.getSeq[Float](i).map(_.toDouble).toArray
    def unit(v: Array[Double]): Array[Double] = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val corpus = Tables.embeddings(spark, s"$in/corpus").select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> unit(vec(r, 1)))
    spark.read.parquet(s"$in/corpus/probes.parquet").select("vec_id", "embedding").collect().map { r =>
      val q = unit(vec(r, 1))
      val top = corpus.map { case (id, v) => (id, v.indices.map(i => q(i) * v(i)).sum) }
        .sortBy { case (id, c) => (-c, id) }.take(K).map(_._1).toSet
      r.getLong(0) -> top
    }.toMap
  }

  def check(spark: SparkSession): Seq[String] = {
    val fails = mutable.ArrayBuffer[String]()
    fails ++= results.inconsistent
    results.dump(spark, s"${a.work}/results")
    val truth = bruteForce(spark)
    def recall(kind: String): Double = {
      val got = answers.collect { case ((k, _), m) if k == kind => m }.flatten.toMap
      val hit = truth.collect { case (q, want) if got.contains(q) => (want intersect got(q)).size }.sum
      val total = truth.collect { case (q, want) if got.contains(q) => want.size }.sum
      if (total == 0) { fails += s"$kind: no probe answered"; 0.0 } else hit.toDouble / total
    }
    val ivfRecall = recall("ivf")
    val pqRecall = recall("ivfpq")
    System.err.println(f"[perfbench] recall@$K ivf=$ivfRecall%.3f ivfpq=$pqRecall%.3f")
    if (ivfRecall < IvfRecallFloor) fails += f"ivf recall@$K $ivfRecall%.3f below $IvfRecallFloor"
    if (pqRecall < ivfRecall - PqRecallSlack)
      fails += f"ivfpq recall@$K $pqRecall%.3f more than $PqRecallSlack below ivf $ivfRecall%.3f"
    fails.toSeq
  }

  override def figures(spark: SparkSession): Map[String, Double] =
    Map("ops.pairs_out" -> pairsPerPass.toDouble)
}

object CorpusDedupAnn {
  /** the dedup chain, in order: exact, MinHash-LSH, SimHash, n-gram prefix
    * Jaccard, connected components, decontamination */
  val Dedup: Seq[String] = Seq("dd_exact_hash", "dd_minhash_lsh", "dd_simhash",
    "dd_ngram_prefix", "dd_cluster_cc", "dd_decontaminate")
  val Text: Seq[String] = Seq("ta_quality", "ta_pii_mask")
  val NList = 16
  val NProbe = 6
  val K = 5
  /** recall floors the program's own tests hold the IVF paths to
    * (SimilarityScaleSpec: IVF recall@5 >= 0.6; SimilaritySpec: IVF-PQ
    * within 0.15 of IVF) */
  val IvfRecallFloor = 0.6
  val PqRecallSlack = 0.15
}
