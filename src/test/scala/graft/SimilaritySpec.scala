package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")

  test("cosine is 1.0 for identical vectors, bit-deterministic") {
    val self = emb.limit(10)
      .select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .as[Double].collect()
    self.foreach(c => assert(math.abs(c - 1.0) < 1e-12))
  }

  test("bruteForceTopK returns k neighbors per query, ranked by cosine desc") {
    val topk = Similarity.bruteForceTopK(emb.filter($"vec_id" < 5), emb, k = 5).collect()
    assert(topk.length === 25)
    topk.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("lshTopK candidates agree with brute force within the shared bucket") {
    val planes = Similarity.hyperplanes(4, 64, 42L)
    val lsh = Similarity.lshTopK(emb, planes, k = 5)
    // every LSH neighbor must actually share the query's bucket and the
    // cosine must equal the brute-force cosine for that pair
    val brute = Similarity.bruteForceTopK(emb, emb, k = 2000)
      .select($"query_id", $"neighbor_id", $"cos".as("bcos"))
    val joined = lsh.join(brute, Seq("query_id", "neighbor_id"))
    val mismatches = joined.filter(abs($"cos" - $"bcos") > 1e-12).count()
    assert(mismatches === 0)
  }

  test("lshTopK achieves nontrivial recall@5 vs brute force") {
    val planes = Similarity.hyperplanes(4, 64, 42L)
    val bruteSet = Similarity.bruteForceTopK(emb, emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lshSet = Similarity.lshTopK(emb, planes, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (bruteSet intersect lshSet).size.toDouble / bruteSet.size
    info(f"LSH recall@5 = $recall%.3f (4 planes, single probe)")
    assert(recall > 0.1, s"recall $recall suspiciously low — bucketing broken?")
  }

  test("ivfTopK: candidates score exactly, recall beats single-probe LSH") {
    val ivf = Similarity.ivfTopK(emb, k = 5, nlist = 8, nprobe = 3)
    val brute = Similarity.bruteForceTopK(emb, emb, k = 5)
    val bruteSet = brute.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfSet = ivf.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (bruteSet intersect ivfSet).size.toDouble / bruteSet.size
    info(f"IVF recall@5 = $recall%.3f (nlist=8, nprobe=3)")
    assert(recall > 0.3, s"IVF recall $recall too low")
    // cosines must be the exact brute-force cosines for shared pairs
    val bcos = brute.select($"query_id", $"neighbor_id", $"cos".as("bcos"))
    assert(ivf.join(bcos, Seq("query_id", "neighbor_id"))
      .filter(abs($"cos" - $"bcos") > 1e-12).count() === 0)
  }

  test("ivfCentroids is deterministic and produces nlist centroids") {
    val a = Similarity.ivfCentroids(emb, nlist = 8).orderBy("cid")
      .select("c").collect().map(_.getSeq[Float](0))
    val b = Similarity.ivfCentroids(emb, nlist = 8).orderBy("cid")
      .select("c").collect().map(_.getSeq[Float](0))
    assert(a.length === 8)
    assert(a.map(_.toList).toSeq === b.map(_.toList).toSeq)
  }

  test("bucketed cosineDupPairs is a sound subset of the exact variant") {
    val exact = Similarity.cosineDupPairs(emb, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val bucketed = Similarity.cosineDupPairs(emb, threshold = 0.4,
      planes = Similarity.hyperplanes(4, 64, 42L))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(bucketed.subsetOf(exact)) // bucket-local candidates, same scoring
  }

  test("bucketed cosineDupPairs == exact pairs restricted to shared buckets") {
    val planes = Similarity.hyperplanes(4, 64, 42L)
    val bucketOf = Similarity.lshBuckets(emb, planes)
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    val exactAll: Set[(Long, Long)] = Similarity.cosineDupPairs(emb, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exactShared = exactAll.filter { case (a, b) => bucketOf(a) == bucketOf(b) }
    val bucketed = Similarity.cosineDupPairs(emb, threshold = 0.4, planes = planes)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exactShared.nonEmpty)
    assert(bucketed === exactShared) // complete, not merely sound
  }

  test("int8TopK: exact cosines on survivors; huge oversample degenerates to lshTopK") {
    val planes = Similarity.hyperplanes(4, 64, 42L)
    val int8 = Similarity.int8TopK(emb, planes, k = 5)
    // re-ranked cosines are the TRUE cosines (quantization only prefilters)
    val brute = Similarity.bruteForceTopK(emb, emb, k = 2000)
      .select($"query_id", $"neighbor_id", $"cos".as("bcos"))
    assert(int8.join(brute, Seq("query_id", "neighbor_id"))
      .filter(abs($"cos" - $"bcos") > 1e-12).count() === 0)
    // with oversample >= any bucket size, the prefilter keeps everything
    // and the pipeline IS single-probe LSH — exact equality, not recall
    val full = Similarity.int8TopK(emb, planes, k = 5, oversample = 100000)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val lsh = Similarity.lshTopK(emb, planes, k = 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(full === lsh)
    // default oversample keeps high agreement with the unquantized ranking
    val int8Set = int8.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lshSet = lsh.map { case (q, n, _) => (q, n) }
    val agree = (int8Set intersect lshSet).size.toDouble / lshSet.size
    info(f"int8 prefilter agreement with float ranking = $agree%.3f")
    assert(agree > 0.8, s"int8 prefilter lost too much: $agree")
  }

  test("semanticDedup: planted exact duplicate collapses to the lower id; " +
    "survivors have no in-bucket dup pair") {
    val planes = Similarity.hyperplanes(4, 64, 42L)
    // plant an exact duplicate of vec 0 under a fresh high id: cos = 1.0,
    // same bucket by construction — it MUST be dropped, vec 0 must survive
    val dupId = 1000000L
    val planted = emb.filter($"vec_id" === 0L)
      .withColumn("vec_id", lit(dupId))
    val corpus = emb.unionByName(planted)
    val survivors = Similarity.semanticDedup(corpus, threshold = 0.35, planes)
    val ids = survivors.select("vec_id").as[Long].collect().toSet
    assert(ids.contains(0L), "keep rule must retain the lowest id of a dup chain")
    assert(!ids.contains(dupId), "planted exact duplicate must be dropped")
    // soundness: no surviving pair within a bucket clears the threshold
    // (the keep rule leaves only pairs whose smaller side was itself
    // dropped — chain minima — so recheck against the full pair list)
    val pairs = Similarity.cosineDupPairs(corpus, 0.35, planes)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val survivingPairs = pairs.filter { case (a, b) => ids.contains(a) && ids.contains(b) }
    assert(survivingPairs.isEmpty,
      s"surviving dup pairs remain: ${survivingPairs.take(5).mkString(", ")}")
    // partition: every corpus id is either a survivor or a dropped id_b
    val droppedIds = pairs.map(_._2).toSet
    val all = corpus.select("vec_id").as[Long].collect().toSet
    assert((ids union droppedIds) === all)
  }

  test("lshTopKFiltered: neighbors come only from the filtered corpus, cosines exact") {
    val corpus = emb.filter($"label" === 3)
    val corpusIds = corpus.select("vec_id").as[Long].collect().toSet
    val planes = Similarity.hyperplanes(4, 64, 42L)
    val res = Similarity.lshTopKFiltered(emb.filter($"vec_id" < 20), corpus, planes, k = 5)
    val rows = res.collect()
    assert(rows.nonEmpty, "filtered ANN found no candidates — bucketing broken?")
    assert(rows.forall(r => corpusIds.contains(r.getAs[Long]("neighbor_id"))),
      "a neighbor escaped the metadata filter")
    // cosines must equal brute force over the same filtered corpus
    val brute = Similarity.bruteForceTopK(emb.filter($"vec_id" < 20), corpus, k = 2000)
      .select($"query_id", $"neighbor_id", $"cos".as("bcos"))
    assert(res.join(brute, Seq("query_id", "neighbor_id"))
      .filter(abs($"cos" - $"bcos") > 1e-12).count() === 0)
  }

  test("hyperplanes are deterministic under a fixed seed") {
    val a = Similarity.hyperplanes(4, 8, 7L)
    val b = Similarity.hyperplanes(4, 8, 7L)
    assert(a.flatten.toSeq === b.flatten.toSeq)
  }

  test("hyperplanes are prefix-stable (adaptive prefix == fixed set)") {
    val master = Similarity.hyperplanes(16, 8, 7L)
    val small = Similarity.hyperplanes(4, 8, 7L)
    assert(master.take(4).flatten.toSeq === small.flatten.toSeq)
  }

  test("choosePlaneCount pins bucket occupancy across corpus scales") {
    import Similarity.choosePlaneCount
    // the three bench SFs: 4 planes at 1k, 8 at 10k, 11 at 100k
    assert(choosePlaneCount(1000L) === 4)
    assert(choosePlaneCount(10000L) === 8)
    assert(choosePlaneCount(100000L) === 11)
    // smallest p with 2^p * 64 >= n, so expected occupancy stays in
    // (target/2, target] — the linear-candidate-volume invariant
    for (n <- Seq(100000L, 1000000L, 100000000L)) {
      val p = choosePlaneCount(n, maxPlanes = 62)
      assert((1L << p) * 64 >= n && (1L << (p - 1)) * 64 < n)
    }
    // clamps: floor at minPlanes, ceiling at maxPlanes
    assert(choosePlaneCount(1L) === 4)
    assert(choosePlaneCount(Long.MaxValue / 128, maxPlanes = 16) === 16)
  }

  test("chooseNList/chooseNProbe: sqrt scaling, legacy defaults at the driver SF") {
    import Similarity.{chooseNList, chooseNProbe}
    // the three data SFs: sf0.01 lands exactly on the legacy (16, 6)
    assert(chooseNList(500L) === 16 && chooseNProbe(16) === 6)
    assert(chooseNList(2000L) === 23 && chooseNProbe(23) === 8)
    assert(chooseNList(20000L) === 71 && chooseNProbe(71) === 13)
    // smallest m with 4m^2 >= n — the integer-exact sqrt(n/4) balance point
    // (maxList raised past the default clamp so the exact form is testable)
    for (n <- Seq(100000L, 1000000L, 100000000L)) {
      val m = chooseNList(n, maxList = 100000)
      assert(4L * m * m >= n && 4L * (m - 1) * (m - 1) < n)
      // nprobe ~ 1.5*sqrt(nlist): smallest p with p^2 >= 9*nlist/4
      val p = chooseNProbe(m)
      assert(p.toLong * p >= 9L * m / 4 && (p - 1).toLong * (p - 1) < 9L * m / 4)
    }
    // clamps: nlist floors/ceils; nprobe floors at 6 but never exceeds nlist
    assert(chooseNList(1L) === 16)
    assert(chooseNList(Long.MaxValue, maxList = 4096) === 4096)
    assert(chooseNProbe(1) === 1)
    assert(chooseNProbe(4) === 4)
    assert(chooseNProbe(9) === 6)
  }

  // ±1 pattern blocks: every vector has norm 8, so normalization scales
  // all subvectors identically and pattern identity survives it.
  private def pqPatternCorpus: org.apache.spark.sql.DataFrame = {
    val patterns = Array(
      Array.fill(8)(1.0f),
      Array.tabulate(8)(i => if (i < 4) 1.0f else -1.0f),
      Array.tabulate(8)(i => if (i < 4) -1.0f else 1.0f),
      Array.fill(8)(-1.0f))
    val rows = (1L to 4L).map(i => (i, Array.fill(8)(patterns(i.toInt - 1)).flatten)) ++
      (5L to 20L).map(i => (i, (0 until 8).flatMap(j =>
        patterns(((i + j) % 4).toInt)).toArray))
    rows.toDF("vec_id", "embedding")
  }

  test("ivfPqTopK: exact when seeds cover all subvectors; equals ivfTopK at full probe") {
    val corpus = pqPatternCorpus
    // seeds = ids 1..4 = the 4 distinct patterns in every subspace →
    // Lloyd fixpoint, exact reconstruction; nprobe=nlist + big oversample
    // → same candidate set and the same (cos desc, id) ranking as ivfTopK
    val pq = Similarity.ivfPqTopK(corpus, k = 3, nlist = 4, nprobe = 4,
        m = 8, ksub = 4, oversample = 100)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val ivf = Similarity.ivfTopK(corpus, k = 3, nlist = 4, nprobe = 4)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(pq === ivf)
    assert(pq.nonEmpty)
  }

  test("IVF-PQ rejects a non-64-dim corpus with the named PQ error") {
    val narrow = emb.limit(40)
      .select(col("vec_id"), slice(col("embedding"), 1, 32).as("embedding"))
    Seq[() => Any](
      () => Similarity.pqCodebooks(narrow, m = 16, ksub = 16).collect(),
      () => Similarity.ivfPqBuildIndex(narrow, nlist = 4)._2.collect(),
      () => Similarity.ivfPqTopK(narrow, k = 3, nlist = 4, nprobe = 2).collect()
    ).foreach { run =>
      val e = intercept[Exception](run())
      assert(e.getMessage.contains("PQ subvectors: expected dim=64, got dim=32"), e.getMessage)
    }
  }

  test("ivfPqTopK: deterministic across runs; nontrivial recall@5 with re-rank") {
    // defaults (m=16, ksub=16, oversample=8): measured sweep at sf0.001 —
    // (8,16,ov4) 0.43, (8,32,ov4) 0.51, (16,16,ov4) 0.59, (16,16,ov8)
    // 0.69 vs same-geometry IVF 0.745; 16 4-bit codes = 32x compression
    def run() = Similarity.ivfPqTopK(emb, k = 5, nlist = 8, nprobe = 4)
    val a = run().collect().map(_.toSeq).toSet
    assert(a === run().collect().map(_.toSeq).toSet)
    val bruteSet = Similarity.bruteForceTopK(emb, emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pqSet = a.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
    val recall = (bruteSet intersect pqSet).size.toDouble / bruteSet.size
    // the coarse stage bounds recall (same lists); PQ + oversampled
    // re-rank may only cost a bounded slice of what IVF achieves at the
    // SAME geometry — this pins the quantizer, not the probe geometry
    val ivfSet = Similarity.ivfTopK(emb, k = 5, nlist = 8, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfRecall = (bruteSet intersect ivfSet).size.toDouble / bruteSet.size
    assert(recall >= ivfRecall - 0.15, s"pq=$recall ivf=$ivfRecall")
    assert(recall >= 0.35, s"recall=$recall")
  }

  test("knnClassify: majority label wins, ties break to the smallest label") {
    // two tight clusters with known labels; query 0 sits inside cluster A
    val labeled = Seq(
      (1L, Array(1.0f, 0.0f), 7), (2L, Array(0.9f, 0.1f), 7),
      (3L, Array(0.95f, 0.05f), 7),
      (4L, Array(0.0f, 1.0f), 9), (5L, Array(0.1f, 0.9f), 9),
      (6L, Array(0.05f, 0.95f), 9)
    ).toDF("vec_id", "embedding", "label")
    val queries = Seq((0L, Array(1.0f, 0.02f))).toDF("vec_id", "embedding")
    val nn = Similarity.bruteForceTopK(queries, labeled.drop("label"), k = 3)
    val pred = Similarity.knnClassify(nn, labeled, k = 3).collect()
    assert(pred.length === 1)
    assert(pred.head.getAs[Int]("pred_label") === 7)
    assert(pred.head.getAs[Long]("votes") === 3L)
    // tie case: k=2 neighbors drawn one from each cluster for an
    // equidistant query → votes 1-1, the smaller label must win
    val eq = Seq((0L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val two = Seq((1L, Array(1.0f, 0.0f), 9), (2L, Array(0.0f, 1.0f), 7))
      .toDF("vec_id", "embedding", "label")
    val tie = Similarity.knnClassify(
      Similarity.bruteForceTopK(eq, two.drop("label"), k = 2), two, k = 2).collect()
    assert(tie.head.getAs[Int]("pred_label") === 7)
    assert(tie.head.getAs[Long]("votes") === 1L)
  }

  test("knnClassify only counts the top-k rows of the neighbor table") {
    val labeled = Seq(
      (1L, Array(1.0f, 0.0f), 5), (2L, Array(0.9f, 0.1f), 5),
      (3L, Array(-1.0f, 0.0f), 8), (4L, Array(-0.9f, -0.1f), 8)
    ).toDF("vec_id", "embedding", "label")
    val q = Seq((0L, Array(1.0f, 0.05f))).toDF("vec_id", "embedding")
    // hand the classifier MORE neighbors than k; ranks 3-4 (the far
    // cluster) must not vote
    val nn4 = Similarity.bruteForceTopK(q, labeled.drop("label"), k = 4)
    val pred = Similarity.knnClassify(nn4, labeled, k = 2).collect().head
    assert(pred.getAs[Int]("pred_label") === 5)
    assert(pred.getAs[Long]("votes") === 2L)
  }

  test("marginPairs: margins match a driver-side recomputation; hub demoted") {
    val a = emb.filter($"vec_id" % 2 === 0 && $"vec_id" < 40)
    val b = emb.filter($"vec_id" % 2 === 1)
    val k = 3
    val got = Similarity.marginPairs(a, b, k, threshold = 1.0).collect()
    assert(got.nonEmpty)
    // independent recomputation from brute-force cosines
    val fwd = Similarity.bruteForceTopK(a, b, k)
      .select("query_id", "neighbor_id", "rank", "cos")
      .as[(Long, Long, Int, Double)].collect()
    val avgF = fwd.groupBy(_._1).map { case (q, rows) =>
      q -> rows.sortBy(_._3).map(_._4).foldLeft(0.0)(_ + _) / rows.length
    }
    val candIds = fwd.map(_._2).toSet
    val bwd = Similarity.bruteForceTopK(
        b.filter($"vec_id".isInCollection(candIds)), a, k)
      .select("query_id", "neighbor_id", "rank", "cos")
      .as[(Long, Long, Int, Double)].collect()
    val avgB = bwd.groupBy(_._1).map { case (c, rows) =>
      c -> rows.sortBy(_._3).map(_._4).foldLeft(0.0)(_ + _) / rows.length
    }
    got.foreach { r =>
      val (q, n) = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      val expect = r.getAs[Double]("cos") / ((avgF(q) + avgB(n)) / 2.0)
      assert(r.getAs[Double]("margin") === expect,
        s"pair ($q,$n): got ${r.getAs[Double]("margin")} expect $expect")
      assert(r.getAs[Boolean]("accepted") === (r.getAs[Double]("margin") >= 1.0))
    }
  }

  test("marginPairs suppresses a hub that raw cosine would accept") {
    // side B holds a hub equally close to every query; pair-specific
    // matches score the same raw cosine but a LOW neighborhood average,
    // so margin ranks them above the hub pairs
    val qs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val hub = (1L, Array(0.577f, 0.577f, 0.577f)) // ~equidistant to all
    val mates = Seq(
      (3L, Array(0.95f, 0.05f, 0.0f)),  // mate of 0
      (5L, Array(0.05f, 0.95f, 0.0f)),  // mate of 2
      (7L, Array(0.0f, 0.05f, 0.95f))) // mate of 4
    val b = (hub +: mates).toDF("vec_id", "embedding")
    val pairs = Similarity.marginPairs(qs, b, k = 3, threshold = 1.0)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
        -> r.getAs[Double]("margin")).toMap
    // each query's true mate out-margins its hub pairing
    assert(pairs((0L, 3L)) > pairs((0L, 1L)))
    assert(pairs((2L, 5L)) > pairs((2L, 1L)))
    assert(pairs((4L, 7L)) > pairs((4L, 1L)))
  }
}
