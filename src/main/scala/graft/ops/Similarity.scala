package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.{DotF, DotFD, DotL, L2F, NearestCentroid}
import graft.expressions.NearestCentroid.{AscNegScore, Cosine, L2, MaxScore, MinDist}

/** Embedding similarity search: brute-force cosine top-k as the exactness
  * baseline, random-hyperplane LSH bucketing as the scale path.
  *
  * Numeric contract: dot products accumulate in DOUBLE in strict index
  * order via the codegen'd [[graft.expressions.DotF]] kernel, so the same
  * formula in any engine that evaluates IEEE doubles sequentially produces
  * bit-equal cosines — thresholds and rankings are reproducible, not
  * tolerance-dependent.
  *
  * Scale notes: norms are computed once per vector (a projection), never
  * per pair; pair generation broadcasts the smaller side so candidate
  * scoring parallelizes across the big side's partitions instead of
  * hash-colliding on one key. At a 100 TB corpus the same code runs per
  * LSH bucket (bucket id = hash partition key), which bounds each task's
  * candidate set.
  */
object Similarity {

  /** A native two-input kernel ([[graft.expressions.VectorFold]],
    * [[graft.expressions.NearestCentroid]]) as a Column. */
  private def kernel(k: (Expression, Expression) => Expression, a: Column, b: Column): Column =
    GraftSqlBridge.column(k(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Index-ordered double dot product of two float vectors (codegen'd). */
  def dot(a: Column, b: Column): Column = kernel(DotF, a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Index-ordered squared-L2 distance of two float vectors (codegen'd
    * [[graft.expressions.L2F]]); bit-identical to the interpreted
    * `aggregate(zip_with(a,b,(x,y)=>(x-y)*(x-y)), 0.0, _+_)` fold it
    * replaced in the PQ/Lloyd kernels — see L2F's numeric contract.
    */
  def l2sq(a: Column, b: Column): Column = kernel(L2F, a, b)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** The [[graft.expressions.NearestCentroid]] kernel as a Column: every
    * nearest-centroid decision of the IVF / IVF-PQ paths, scored against a
    * codebook column of the one-row frame [[centroidRow]] or [[pqRow]]
    * builds.
    */
  private def nearest(v: Column, codebook: Column, metric: NearestCentroid.Metric,
                      order: NearestCentroid.Order, n: Int = 0, off: Int = 0,
                      len: Int = -1): Column =
    kernel(NearestCentroid(_, _, metric, order, n, off, len), v, codebook)

  /** One codebook entry of a (cid, c) table: struct(cid, c, cn). */
  private def codebookEntry: Column = struct(col("cid"), col("c"), l2Norm(col("c")).as("cn"))

  /** A (cid, c) centroid table as ONE broadcast row, `cents` =
    * array<struct<cid, c, cn>> with each centroid's norm computed once.
    * Cross joining it leaves the vector side's partitioning as it was: the
    * kernel then scores each vector in a narrow projection. The table is
    * codebook-sized, so it is collected in one task (`coalesce(1)`)
    * instead of through a shuffle.
    */
  private[graft] def centroidRow(centroids: DataFrame): DataFrame =
    broadcast(centroids.coalesce(1).agg(collect_list(codebookEntry).as("cents")))

  /** The `nprobe` nearest centroid ids of `v` against [[centroidRow]]'s
    * `cents`, ascending (−cosine, cid): the probe-list order of every IVF
    * query path (a NULL score ranks first, NaN last).
    */
  private[graft] def probeList(v: Column, nprobe: Int): Column =
    nearest(v, col("cents"), Cosine, AscNegScore, nprobe)

  /** Vectors with their norm precomputed once. */
  private def withNorm(df: DataFrame, id: String, vec: String, norm: String): DataFrame =
    df.select(col("vec_id").as(id), col("embedding").as(vec),
      l2Norm(col("embedding")).as(norm))

  /** Redistribute the expanding side of a fan-out BEFORE its multiplicative
    * stage. A plan that multiplies a small input by a large factor (probe
    * explode × broadcast-scored candidates) inherits the parallelism of the
    * input SCAN — and an embedding table compact enough to broadcast is
    * also compact enough to arrive as one parquet row group, i.e. ONE scan
    * partition, so the entire candidate generation, scoring, and partial
    * top-k sort run in a single task no matter how many cores exist
    * (measured at sf1/local[32]: ann_lsh_multiprobe spent 343 s in one
    * task's WindowGroupLimit sort; 32-way it is seconds). The round-robin
    * exchange moves only the small PRE-expansion rows, so it is cheap at
    * any scale, and on a real cluster it is still correct: the product
    * dwarfs the shuffle whenever this matters at all. Keyed variants pass
    * `by` so a downstream shuffle join on the same key reuses the exchange
    * instead of adding a second one.
    */
  private def fanOut(df: DataFrame, by: Column*): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (by.isEmpty) df.repartition(n) else df.repartition(n, by: _*)
  }

  /** The `k` best rows per `query_id` by `score` descending, ties to the
    * lower `neighbor_id`, numbered 1..k in column `rank`: the one ranked
    * top-k of every search here.
    */
  private def topK(df: DataFrame, score: String, rank: String, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col(score).desc, col("neighbor_id").asc)
    df.withColumn(rank, row_number().over(w)).filter(col(rank) <= k)
  }

  /** The exact-cosine tail of a candidate-pair frame carrying (query_id,
    * qv, qn) and (neighbor_id, cv, cn): self-matches dropped, cosine of the
    * precomputed norms, top-k → (query_id, neighbor_id, rank, cos).
    */
  private def exactTopK(pairs: DataFrame, k: Int): DataFrame = {
    val scored = pairs.filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    topK(scored, "cos", "rank", k).select("query_id", "neighbor_id", "rank", "cos")
  }

  /** The IVF-PQ tail: probe rows (query_id, qv, cid) meet the encoded
    * lists (neighbor_id, cid, rv), the asymmetric ⟨qv, rv⟩ keeps the top
    * `k * oversample` survivors per query (self-matches dropped), and only
    * those are re-ranked by the exact ⟨qv, v⟩ against `full` (vec_id, v),
    * both sides unit-normalized → (query_id, neighbor_id, rank, cos).
    */
  private def adcTopK(probes: DataFrame, encoded: DataFrame, full: DataFrame, k: Int,
                      oversample: Int): DataFrame = {
    val approx = probes.join(encoded, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("approx", dot(col("qv"), col("rv")))
    val reranked = topK(approx, "approx", "arank", k * oversample)
      .select("query_id", "qv", "neighbor_id")
      .join(full.select(col("vec_id").as("neighbor_id"), col("v").as("nv")), Seq("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("nv")))
    topK(reranked, "cos", "rank", k).select("query_id", "neighbor_id", "rank", "cos")
  }

  /** Probe rows of a prebuilt IVF index: queries (vec_id, v), redistributed
    * ([[fanOut]]: the probe explode multiplies them), each ranks the
    * broadcast [[centroidRow]] and yields one (query_id, qv, `extra`…, cid)
    * row per probed list.
    */
  private def probeRows(q: DataFrame, centroids: DataFrame, nprobe: Int,
                        extra: Column*): DataFrame =
    fanOut(q).crossJoin(centroidRow(centroids))
      .select(Seq(col("vec_id").as("query_id"), col("v").as("qv")) ++ extra :+
        explode(probeList(col("v"), nprobe)).as("cid"): _*)

  /** Exact top-k neighbors of each query vector by brute force.
    *
    * The corpus side is broadcast (queries stream past it in parallel — no
    * shuffle, no single-key hotspot); at 100 TB-corpus scale this becomes
    * the per-bucket scorer behind [[lshTopK]] — the API stays the same.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = fanOut(withNorm(queries, "query_id", "qv", "qn"))
    val c = broadcast(withNorm(corpus, "neighbor_id", "cv", "cn"))
    exactTopK(q.crossJoin(c), k)
  }

  /** Deterministic random hyperplanes (seeded driver-side, shipped as
    * literals): `planes(i)(j)` ~ U(-0.5, 0.5).
    *
    * Prefix-stable: planes are drawn row-by-row from one seeded stream, so
    * `hyperplanes(p, d, s)` == `hyperplanes(P, d, s).take(p)` for p <= P.
    * [[choosePlaneCount]] relies on this — an adaptive caller holds one
    * master set and takes a corpus-sized prefix, keeping small-corpus
    * results identical to the fixed-plane configuration.
    */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rng.nextDouble() - 0.5)
  }

  /** Plane count for a corpus of `n` vectors: the smallest p with
    * 2^p * targetOccupancy >= n, clamped to [minPlanes, maxPlanes].
    *
    * THE scale knob for sign-bit LSH: a fixed plane set means bucket
    * occupancy grows linearly with the corpus and bucket-local candidate
    * pairs grow ~n^2/2^p (measured: 16-18x wall growth on 10x data at
    * fixed p=4). Sizing p = ceil(log2(n/target)) pins expected occupancy
    * in [target/2, target], making candidate volume — and the whole
    * bucketed top-k — linear in n. Integer-exact on purpose: an oracle in
    * any engine replicates `(1 << p) * target >= n` bit-for-bit, with no
    * float-log2 boundary parity to defend.
    */
  def choosePlaneCount(n: Long, targetOccupancy: Int = 64,
                       minPlanes: Int = 4, maxPlanes: Int = 16): Int = {
    require(targetOccupancy >= 1 && minPlanes >= 0 && maxPlanes >= minPlanes)
    val p = (0 to maxPlanes)
      .find(p => (1L << p) * targetOccupancy >= n).getOrElse(maxPlanes)
    math.max(minPlanes, p)
  }

  /** Inverted-list count for an IVF index over `n` vectors: the smallest m
    * with m^2 * listsPerProbeSq >= n, clamped to [minList, maxList] — i.e.
    * nlist ~ sqrt(n/4), the classic IVF balance point. Fixed nlist makes
    * list size n/nlist grow linearly, so nprobe-list search work grows
    * ~n^2/nlist (measured 12.3x wall on 10x data at nlist=16); nlist ~
    * sqrt(n) balances the two cost terms — train/assign (n*nlist) and
    * search (n*nprobe*n/nlist) — at ~n^1.5 total. Integer-exact search
    * like [[choosePlaneCount]], and the m^2*4 >= n form lands exactly on
    * the legacy default at the driver's SF (n=1000 -> 16), so small-corpus
    * results are unchanged.
    */
  def chooseNList(n: Long, minList: Int = 16, maxList: Int = 4096): Int = {
    require(minList >= 1 && maxList >= minList)
    val m = (minList to maxList).find(m => m.toLong * m * 4 >= n).getOrElse(maxList)
    m
  }

  /** Probe count for `nlist` lists: nprobe ~ 1.5*sqrt(nlist), floored at
    * the measured sf0.1 default (6 at nlist=16). Fixed nprobe over growing
    * nlist probes a vanishing fraction of the corpus and recall decays;
    * constant-fraction probing (nprobe ~ nlist) is quadratic again.
    * sqrt growth holds scanned volume at ~1.5*n/sqrt(nlist) ~ n^0.75 —
    * recall measured at the resulting operating points in RecallProbe
    * (see LlmQueries.IvfRecallFloorPct).
    */
  def chooseNProbe(nlist: Int): Int = {
    require(nlist >= 1)
    val p = (1 to nlist).find(p => p.toLong * p >= 9L * nlist / 4).getOrElse(nlist)
    math.min(nlist, math.max(6, p))
  }

  /** Sign-bit LSH bucket id for each vector: bit i = sign(v · plane_i).
    * Bucket key is what a 100 TB corpus is hash-partitioned on, turning ANN
    * into co-partitioned bucket-local scans.
    */
  def lshBuckets(df: DataFrame, planes: Array[Array[Double]]): DataFrame = {
    // plane projections through the codegen'd DotFD kernel: the previous
    // aggregate(zip_with(...)) formulation is a HigherOrderFunction —
    // interpreted, one closure dispatch per element, ×nPlanes per row —
    // while DotFD keeps all nPlanes×dim multiply-adds in whole-stage
    // codegen with BIT-IDENTICAL results (float→double widening then the
    // same index-ordered IEEE sum), so bucket ids and every oracle that
    // replicates them term-by-term are unchanged.
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      val d = kernel(DotFD, col("embedding"), array(p.map(lit): _*).cast("array<double>"))
      shiftleft(when(d >= 0, lit(1L)).otherwise(lit(0L)), i)
    }.reduce(_ bitwiseOR _)
    df.withColumn("bucket", bucket)
  }

  /** Bucket-local exact-cosine top-k: the shared scorer behind [[lshTopK]]
    * and [[lshTopKMultiProbe]] — queries (already carrying their probe
    * bucket(s)) join corpus vectors on the bucket key, score exactly, and
    * rank within query.
    */
  private def topKInBuckets(q: DataFrame, c: DataFrame, k: Int): DataFrame =
    // keyed fan-out: if the corpus side broadcasts, the exchange is what
    // parallelizes candidate scoring; if it doesn't, HashPartitioning on
    // the join key satisfies the shuffle join's requirement — no 2nd shuffle
    exactTopK(fanOut(q, col("bucket")).join(c, Seq("bucket")), k)

  /** Corpus-side projection of a bucketed frame that already carries its
    * norm as `nrm` (computed once, next to the bucket hash).
    */
  private def corpusSide(bucketed: DataFrame): DataFrame =
    bucketed.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      col("nrm").as("cn"), col("bucket"))

  /** Buckets + norm in one pass, checkpointed: the query and corpus sides
    * of every bucket-local self-join read this frame — without the cut
    * each side re-ran the scan, the nPlanes×dim bucket projection, and the
    * norm (r14 before-plan: embeddings.parquet scanned 4× per query).
    */
  private def bucketedWithNorm(df: DataFrame, planes: Array[Array[Double]]): DataFrame =
    lshBuckets(df, planes)
      .withColumn("nrm", l2Norm(col("embedding")))
      .localCheckpoint(false)

  /** Bucketed ANN top-k: candidates share an LSH bucket; exact cosine ranks
    * within bucket. Recall < 1 by construction (measured in ScalaTest
    * against [[bruteForceTopK]]); comparison cost drops by ~2^planes.
    */
  def lshTopK(df: DataFrame, planes: Array[Array[Double]], k: Int): DataFrame = {
    val bucketed = bucketedWithNorm(df, planes)
    val q = bucketed.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      col("nrm").as("qn"), col("bucket"))
    topKInBuckets(q, corpusSide(bucketed), k)
  }

  /** Filtered (two-sided) bucketed ANN: top-k neighbors for `queries` drawn
    * from a `corpus` that has already been restricted by a metadata
    * predicate (label/language/licence — the filtered-vector-search case).
    * The filter applies BEFORE bucketing, so the index is built on exactly
    * the searchable set: at high selectivity a post-filter strategy k-cuts
    * then discards most candidates, while pre-filter keeps every scored
    * candidate eligible. Same bucket-local join shape as [[lshTopK]]; size
    * `planes` from the FILTERED corpus count so occupancy stays on target.
    */
  def lshTopKFiltered(queries: DataFrame, corpus: DataFrame,
                      planes: Array[Array[Double]], k: Int): DataFrame = {
    val q = lshBuckets(queries, planes)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        l2Norm(col("embedding")).as("qn"), col("bucket"))
    // two distinct inputs — each side evaluates once, no checkpoint needed;
    // the corpus side still computes its norm next to the bucket hash
    topKInBuckets(q,
      corpusSide(lshBuckets(corpus, planes)
        .withColumn("nrm", l2Norm(col("embedding")))), k)
  }

  /** Multi-probe LSH ANN top-k: each query searches its own bucket AND the
    * `nPlanes` buckets one sign-flip away (Hamming-1 neighbors of its
    * bucket id) — the standard trick to recover recall lost to boundary
    * vectors without adding hash tables. Corpus vectors stay in their own
    * bucket (the partition key at scale); only the query side fans out
    * (×(nPlanes+1)), so the big side never duplicates.
    */
  def lshTopKMultiProbe(df: DataFrame, planes: Array[Array[Double]], k: Int): DataFrame = {
    val bucketed = bucketedWithNorm(df, planes)
    val probeBuckets = array((lit(0L) +:
      planes.indices.map(i => lit(1L << i))): _*)
    val q = bucketed.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      col("nrm").as("qn"),
      explode(transform(probeBuckets, m => col("bucket").bitwiseXOR(m))).as("bucket"))
    topKInBuckets(q, corpusSide(bucketed), k)
  }

  /** Per-list Lloyd training budget: classic IVF trains centroids on a
    * bounded sample (~tens-to-hundreds of points per centroid), not the
    * full corpus — centroid quality saturates long before that, and
    * full-corpus training makes index BUILD cost n·nlist·iters, which at
    * nlist~sqrt(n) is superlinear for the one phase that never needed the
    * whole dataset. Assignment (the inverted lists themselves) always
    * stays full-corpus.
    */
  val TrainPerList = 256L

  /** IVF centroids by Lloyd iterations over DataFrame ops, deterministically
    * seeded with the `nlist` lowest vec_ids. Training runs over a
    * deterministic ~`TrainPerList*nlist`-row sample when the corpus exceeds
    * it: keep vec_ids whose md5 32-bit prefix falls below cap/n of the hash
    * space — a threshold filter, not an orderBy(md5).limit(cap), so no
    * top-k of a million hashes funnels anywhere; the sampled set is exact,
    * engine-independent, and its size concentrates at cap (binomial).
    * Per-iteration centroid means are ONE hash aggregation: collect the
    * (sample-bounded) member vectors per list and reduce element-wise —
    * one shuffle per iteration, vs posexplode's two.
    *
    * Pass `n` when the caller already counted the corpus (chooseNList
    * does); n < 0 counts here.
    */
  def ivfCentroids(df: DataFrame, nlist: Int, iters: Int = 2, n: Long = -1L): DataFrame = {
    val vecs = df.select(col("vec_id"), col("embedding").cast("array<float>").as("v"))
    val total = if (n >= 0L) n else vecs.count()
    val train = trainSample(vecs, total, TrainPerList * nlist)
    // cid = the seed's own vec_id: deterministic (nlist lowest ids) and
    // distinct, which is all downstream needs — cid is only a join/group
    // key and a tie-break, so no dense 0..nlist-1 renumbering (the old
    // unpartitioned-window renumber logged a single-partition WindowExec
    // warning every run despite its ≤nlist-row input). localCheckpoint
    // per round keeps each Lloyd iteration's plan flat (without it,
    // iteration k's plan nests all k-1 prior assignments and Catalyst
    // re-optimizes the whole stack — the same iterative-lineage cost
    // measured on nearDupComponents). The seeds are a top-nlist of one
    // scan: the first round's codebook row computes them, with no job of
    // their own
    var centroids = vecs.orderBy("vec_id").limit(nlist)
      .select(col("vec_id").cast("int").as("cid"), col("v").as("c"))
    for (_ <- 0 until iters) {
      // array_sort pins the member order (collect_list arrival order is
      // shuffle-nondeterministic) so float summation order — and thus the
      // trained centroids — are identical across runs
      centroids = assignToCentroid(train, centroids)
        .groupBy("cid").agg(array_sort(collect_list(col("v"))).as("vs"))
        .select(col("cid"), memberMean(col("vs")).as("c"))
        .localCheckpoint(true)
    }
    centroids
  }

  /** The deterministic Lloyd training sample of [[ivfCentroids]] and
    * [[pqCodebooks]]: all of `vecs` when `total <= cap`, else the vec_ids
    * whose md5 32-bit prefix falls below cap/total of the hash space.
    */
  private def trainSample(vecs: DataFrame, total: Long, cap: Long): DataFrame =
    if (total <= cap) vecs
    else {
      val thresh = ((BigInt(cap) << 32) / BigInt(total)).toLong
      vecs.filter(conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("long") < thresh)
    }

  /** The Lloyd mean step: element-wise float mean of the member vectors
    * `vs`, summed in array order in DOUBLE. */
  private def memberMean(vs: Column): Column = {
    val zero = transform(element_at(vs, 1), _ => lit(0.0))
    transform(aggregate(vs, zero, (acc, v) => zip_with(acc, v, (s, x) => s + x)),
      s => (s / size(vs)).cast("float"))
  }

  /** Nearest centroid per vector, (vec_id, v) → (vec_id, v, cid): one
    * narrow projection of the nearest-centroid kernel over the broadcast
    * [[centroidRow]] — no fan-out, no exchange, no sort on the vector
    * side. Order: max (cosine, −cid), the order of the `max_by(struct(v,
    * cid), struct(score, −cid))` aggregate the kernel replaced (NaN ranks
    * best, NULL last).
    */
  private def assignToCentroid(vecs: DataFrame, centroids: DataFrame): DataFrame =
    vecs.crossJoin(centroidRow(centroids))
      .select(col("vec_id"), col("v"),
        nearest(col("v"), col("cents"), Cosine, MaxScore).as("cid"))

  /** IVF ANN top-k: corpus vectors live in their centroid's inverted list
    * (the hash-partition key at scale); each query probes its `nprobe`
    * nearest centroids and brute-forces only those lists. Recall < 1 by
    * construction; cost drops ~nlist/nprobe. Defaults chosen from a
    * measured sweep at sf0.1 (10k×64d): recall@5 = 0.69 at nprobe=6 vs
    * 0.55 at nprobe=4, while extra Lloyd iterations move recall <0.02 —
    * probe count, not centroid quality, is the operative knob. That same
    * sweep sets iters=1: each extra round costs a full assign+mean pass
    * over the training sample and buys <0.02 recall (the floor gate
    * `ann_ivf_recall` re-measures at every SF).
    *
    * One scored pass: each vector ranks the broadcast [[centroidRow]] once
    * through the nearest-centroid kernel, ascending (−cosine, cid). The
    * first of its `nprobe` cids is its inverted list, all of them are its
    * probe list. The ranked frame is checkpointed because the corpus side
    * and the probe side both read it. The vectors are redistributed first
    * ([[fanOut]]): the probe-list join multiplies them.
    */
  def ivfTopK(df: DataFrame, k: Int, nlist: Int = 16, nprobe: Int = 6,
              iters: Int = 1, n: Long = -1L): DataFrame = {
    val vecs = df.select(col("vec_id"), col("embedding").cast("array<float>").as("v"))
    // materialized when iters >= 1: ivfCentroids localCheckpoints each round
    val centroids = ivfCentroids(df, nlist, iters, n)
    val ranked = fanOut(vecs).crossJoin(centroidRow(centroids))
      .select(col("vec_id"), col("v"), l2Norm(col("v")).as("vn"),
        probeList(col("v"), nprobe).as("probe"))
      .localCheckpoint(true)
    val corpus = ranked.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
      col("vn").as("cn"), col("probe")(0).as("cid"))
    val probes = ranked.select(col("vec_id").as("query_id"), col("v").as("qv"),
      col("vn").as("qn"), explode(col("probe")).as("cid"))
    exactTopK(probes.join(corpus, Seq("cid")), k)
  }

  /** Build a persistable IVF index ONCE: returns (centroids, corpus), two
    * plain DataFrames — `centroids` = (cid, c), `corpus` = (vec_id, v, vn,
    * cid), each row in its coarse inverted list — that round-trip through
    * parquet losslessly (float arrays are exact in parquet). This is the
    * amortization half of the production ANN story [[ivfTopK]] folds into
    * one self-join pass: at 100 TB the index build is a scheduled batch
    * job writing `corpus` bucketed by `cid` (the hash-partition key), and
    * every query batch afterwards pays only [[ivfQueryIndex]] — centroid
    * ranking against a broadcast table + nprobe list probes — never the
    * Lloyd training or the corpus assignment scan again.
    *
    * Assignment tie-breaks equal [[ivfTopK]]'s probe[0] ((-score, cid)
    * ascending ⇒ max score, then min cid), so querying the index with the
    * corpus itself reproduces ivfTopK exactly (SimilarityScaleSpec).
    */
  def ivfBuildIndex(df: DataFrame, nlist: Int = 16, iters: Int = 1,
                    n: Long = -1L): (DataFrame, DataFrame) = {
    val vecs = df.select(col("vec_id"), col("embedding").cast("array<float>").as("v"))
    val centroids = ivfCentroids(df, nlist, iters, n)
    val corpus = assignToCentroid(vecs, centroids)
      .withColumn("vn", l2Norm(col("v")))
      .select("vec_id", "v", "vn", "cid")
    (centroids, corpus)
  }

  /** Probe a prebuilt [[ivfBuildIndex]] index with an arbitrary query set:
    * each query ranks the broadcast centroid table, probes its `nprobe`
    * nearest inverted lists, brute-forces only those lists, and keeps
    * cosine top-k (query_id, neighbor_id, rank, cos). Rows where the query
    * id equals the neighbor id are excluded (the self-match convention of
    * [[ivfTopK]]; disjoint id spaces are unaffected).
    *
    * Scale shape: queries shuffle by probed `cid` (nprobe rows per query)
    * and meet the corpus lists co-partitioned on the same key — with
    * `corpus` persisted bucketed by cid, a query batch is one broadcast
    * (centroids), one shuffle of the QUERY side only, and per-list local
    * scans; cost ~ nprobe/nlist of the exhaustive join.
    */
  def ivfQueryIndex(centroids: DataFrame, corpus: DataFrame, queries: DataFrame,
                    k: Int, nprobe: Int = 6): DataFrame = {
    val q = queries.select(col("vec_id"), col("embedding").cast("array<float>").as("v"))
    // top-nprobe centroids per query, (−score asc, cid asc): the order of
    // ivfTopK's probe lists
    val probes = probeRows(q, centroids, nprobe, l2Norm(col("v")).as("qn"))
    val corp = corpus.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
      col("vn").as("cn"), col("cid"))
    exactTopK(probes.join(corp, Seq("cid")), k)
  }

  /** Product-quantization codebooks (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011): the embedding splits into
    * `m` contiguous subspaces of dim/m dims; each subspace gets its own
    * `ksub`-centroid Lloyd codebook so a vector compresses to m small
    * codes (m bytes at ksub ≤ 256 — 32× smaller than 64 float32s).
    *
    * All m subspace trainings run as ONE iterated job — the codebook key
    * is (j, cid), so per-iteration cost is a single assign+mean pass
    * regardless of m (m sequential Lloyds would schedule m× the stages for
    * the same work). The assignment is one narrow projection: each
    * training vector takes its m codes from the nearest-centroid kernel,
    * scoring the j-th slice of the vector against the broadcast
    * [[pqRow]] in min (d2, cid) order — the order of the `min_by`
    * aggregate the kernel replaced. Training sample, seeding and
    * tie-breaks follow [[ivfCentroids]]: deterministic md5 sample capped
    * at `TrainPerList*ksub`, seeds = the ksub lowest vec_ids' subvectors,
    * L2 ties to the lower cid, member arrays sorted before the float mean
    * — bit-stable across runs and partitionings. Returns (j, cid, c).
    */
  def pqCodebooks(df: DataFrame, m: Int, ksub: Int, iters: Int = 2,
                  n: Long = -1L): DataFrame = {
    val vecs = normalized(df)
    val total = if (n >= 0L) n else vecs.count()
    val train = pqChecked(trainSample(vecs, total, TrainPerList * ksub))
    // seeds as in ivfCentroids: computed by the first round's codebook row
    var cb = bySubspace(pqChecked(vecs.orderBy("vec_id").limit(ksub)), m,
        _ => col("vec_id").cast("int"))
      .select(col("j"), col("cid"), col("sv").as("c"))
    for (_ <- 0 until iters) {
      cb = bySubspace(train.crossJoin(pqRow(cb, m)), m, j => pqCode(j, m))
        .groupBy("j", "cid")
        .agg(array_sort(collect_list(col("sv"))).as("vs"))
        .select(col("j"), col("cid"), memberMean(col("vs")).as("c"))
        .localCheckpoint(true)
    }
    cb
  }

  /** Embeddings are 64-dim (TESTDATA.md); PQ slices at static offsets. */
  private val PqDim = 64

  /** Subvector width for `m` subspaces (a clean split is required). */
  private def pqSub(m: Int): Int = {
    require(PqDim % m == 0, s"m=$m must divide dim=$PqDim")
    PqDim / m
  }

  /** (vec_id, v) with `v` checked to be 64-dim: fail LOUDLY on a mismatch,
    * since the static slices would otherwise silently cover only the
    * first 64 dims of a wider vector (wrong PQ codes, no error).
    * raise_error costs one size() compare per row and nothing else.
    */
  private def pqChecked(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"), when(size(col("v")) === PqDim, col("v")).otherwise(raise_error(
      concat(lit(s"PQ subvectors: expected dim=$PqDim, got dim="),
        size(col("v")).cast("string")))).as("v"))

  /** (vec_id, j, cid, sv): the m contiguous subvectors `sv` of each
    * vector `v`, with `cid(j)` alongside.
    */
  private def bySubspace(vecs: DataFrame, m: Int, cid: Int => Column): DataFrame = {
    val sub = pqSub(m)
    vecs.select(col("vec_id"), explode(array((0 until m).map { j =>
      struct(lit(j).as("j"), cid(j).as("cid"), slice(col("v"), j * sub + 1, sub).as("sv"))
    }: _*)).as("s"))
      .select(col("vec_id"), col("s.j").as("j"), col("s.cid").as("cid"), col("s.sv").as("sv"))
  }

  /** PQ codebooks (j, cid, c) as ONE broadcast row: per subspace j,
    * `pq<j>` holds its entries (array<struct<cid, c, cn>>, the kernel's
    * codebook) and `pm<j>` maps cid → c for the reconstruction.
    */
  private def pqRow(cb: DataFrame, m: Int): DataFrame = {
    val lists = (0 until m).map(j => collect_list(when(col("j") === j, codebookEntry)).as(s"pq$j"))
    broadcast(cb.coalesce(1).agg(lists.head, lists.tail: _*).select((0 until m).flatMap(j => Seq(
      col(s"pq$j"), map_from_arrays(col(s"pq$j.cid"), col(s"pq$j.c")).as(s"pm$j"))): _*))
  }

  /** The PQ code of `v`'s j-th subvector: its nearest sub-centroid in
    * [[pqRow]]'s `pq<j>`, min (d2, cid).
    */
  private def pqCode(j: Int, m: Int): Column = {
    val sub = pqSub(m)
    nearest(col("v"), col(s"pq$j"), L2, MinDist, off = j * sub, len = sub)
  }

  /** The PQ reconstruction of `v` (the decoded approximation ADC scores
    * against): the code's sub-centroid of each subspace, concatenated by
    * j. ⟨q, recon⟩ = Σ_j ⟨q_j, c_{j,code_j}⟩, the per-subspace lookup-table
    * sum as one columnar dot.
    */
  private def pqRecon(m: Int): Column =
    flatten(array((0 until m).map(j => col(s"pm$j")(pqCode(j, m))): _*))

  /** Unit-normalized vectors (PQ trains/encodes on the normalized corpus so
    * the asymmetric inner product approximates cosine directly).
    */
  private def normalized(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding").cast("array<float>").as("v0"))
      .withColumn("nrm", l2Norm(col("v0")))
      .select(col("vec_id"),
        transform(col("v0"), x => (x / col("nrm")).cast("float")).as("v"))

  /** IVF-PQ ANN top-k — the canonical billion-scale layout (FAISS
    * IndexIVFPQ): a coarse `nlist`-centroid quantizer routes each vector
    * to an inverted list, vectors inside lists are stored as m-byte PQ
    * codes, a query probes `nprobe` lists scoring candidates by the
    * ASYMMETRIC distance (exact query side against the neighbor's
    * reconstruction — ⟨q̂, recon(x)⟩ ≡ the classic per-subspace ADC lookup
    * sum, expressed as one codegen'd dot so Spark evaluates it columnar),
    * and only the top `k*oversample` approximate survivors per query are
    * re-ranked with the exact float cosine.
    *
    * Scale shape: the coarse stage is [[ivfTopK]]'s one-scored-pass build
    * (list id = hash partition key); the same projection encodes each
    * vector — probe list, list id and PQ reconstruction all come out of
    * the nearest-centroid kernel over the two broadcast codebook rows
    * ([[centroidRow]], [[pqRow]]), with no aggregate and no join back.
    * PQ bounds per-candidate memory traffic to m bytes + one 64-float
    * reconstruction; `oversample` bounds exact-vector reads to
    * k*oversample per query — at 100 TB the full-precision vectors live in
    * cold storage and only re-rank survivors are fetched (here: a join
    * back to the corpus by neighbor id).
    *
    * Degenerate-exactness contract (pinned in SimilaritySpec): when the
    * `ksub` seed vectors (lowest vec_ids) already cover every distinct
    * subvector value, Lloyd is at a fixpoint (every assignment distance is
    * 0), reconstruction is exact, and with `nprobe = nlist` + large
    * `oversample` the (query, neighbor, rank) set equals [[ivfTopK]] at
    * the same geometry.
    */
  def ivfPqTopK(df: DataFrame, k: Int, nlist: Int, nprobe: Int,
                m: Int = 16, ksub: Int = 16, oversample: Int = 8,
                iters: Int = 1, n: Long = -1L): DataFrame = {
    val vecs = normalized(df)
    val (cb, centroids) = pqTrain(df, vecs, nlist, m, ksub, iters, n)
    // coarse quantizer over the normalized corpus (same pass as ivfTopK:
    // assignment = probe[0], probes = top-nprobe centroid lists) and the
    // PQ encode, in one projection
    val ranked = pqChecked(fanOut(vecs))
      .crossJoin(centroidRow(centroids)).crossJoin(pqRow(cb, m))
      .select(col("vec_id"), col("v"), probeList(col("v"), nprobe).as("probe"),
        pqRecon(m).as("rv"))
      .localCheckpoint(true)
    val corpus = ranked.select(col("vec_id").as("neighbor_id"),
      col("probe")(0).as("cid"), col("rv"))
    val probes = ranked.select(col("vec_id").as("query_id"), col("v").as("qv"),
      explode(col("probe")).as("cid"))
    // exact re-rank: fetch full-precision vectors for survivors only
    adcTopK(probes, corpus, vecs, k, oversample)
  }

  /** The two trained quantizers of an IVF-PQ index over `vecs` (=
    * normalized(df)): the PQ codebooks, then the coarse centroids. The
    * corpus is counted at most once, when `n < 0`.
    */
  private def pqTrain(df: DataFrame, vecs: DataFrame, nlist: Int, m: Int, ksub: Int,
                      iters: Int, n: Long): (DataFrame, DataFrame) = {
    val total = if (n >= 0L) n else vecs.count()
    val cb = pqCodebooks(df, m, ksub, iters = iters, n = total)
    val centroids = ivfCentroids(vecs.select(col("vec_id"), col("v").as("embedding")),
      nlist, iters, total)
    (cb, centroids)
  }

  /** Build the persistable IVF-PQ index ONCE (the [[ivfBuildIndex]]
    * amortization pattern applied to the FAISS IndexIVFPQ layout):
    * returns (centroids, encoded) where `centroids` = (cid, c) is the
    * coarse quantizer over the NORMALIZED corpus and `encoded` =
    * (vec_id, cid, rv) holds each corpus vector's inverted-list id and
    * its PQ reconstruction (the decoded approximation ADC scores
    * against). Both are plain parquet-persistable DataFrames; at 100 TB
    * the encoded table (m bytes of code semantics per vector, stored here
    * as the reconstruction for columnar ADC) is the ONLY thing a query
    * batch scans besides the k·oversample exact-re-rank fetches. `cid`
    * and `rv` come out of one projection of the nearest-centroid kernel.
    *
    * Same training/assignment arithmetic as [[ivfPqTopK]] — querying the
    * index with the corpus itself reproduces the fused result exactly
    * (SimilarityScaleSpec).
    */
  def ivfPqBuildIndex(df: DataFrame, nlist: Int, m: Int = 16, ksub: Int = 16,
                      iters: Int = 1, n: Long = -1L): (DataFrame, DataFrame) = {
    val vecs = normalized(df)
    val (cb, centroids) = pqTrain(df, vecs, nlist, m, ksub, iters, n)
    val encoded = assignToCentroid(pqChecked(vecs), centroids).crossJoin(pqRow(cb, m))
      .select(col("vec_id"), col("cid"), pqRecon(m).as("rv"))
    (centroids, encoded)
  }

  /** Probe a prebuilt [[ivfPqBuildIndex]] index: queries rank the
    * broadcast centroids, probe `nprobe` lists, score candidates by the
    * asymmetric ⟨q̂, recon⟩ distance, keep k·oversample approximate
    * survivors, and re-rank them with the exact cosine against
    * `fullVecs` (the full-precision corpus — at scale, the cold-storage
    * fetch; here the original embedding table). Tie-breaks equal
    * [[ivfPqTopK]] throughout.
    */
  def ivfPqQueryIndex(centroids: DataFrame, encoded: DataFrame,
                      fullVecs: DataFrame, queries: DataFrame, k: Int,
                      nprobe: Int, oversample: Int = 8): DataFrame = {
    // the probe lists of [[ivfQueryIndex]], same kernel and order
    adcTopK(probeRows(normalized(queries), centroids, nprobe),
      encoded.select(col("vec_id").as("neighbor_id"), col("cid"), col("rv")),
      normalized(fullVecs), k, oversample)
  }

  /** Int8-quantized ANN top-k with exact re-rank — the memory-bandwidth
    * pattern of production embedding search: score bucket-local candidates
    * with a symmetric per-vector int8 quantization (q_i = floor(127 *
    * x_i / maxabs + 0.5), 4× smaller than float32 and integer-dot cheap),
    * keep the top `k * oversample` per query by approximate score, then
    * re-rank ONLY those survivors with the exact float cosine. Every step
    * is engine-replicable: floor() and the double products are identical
    * IEEE ops in any engine (no round-half-even ambiguity), the integer
    * dot is exact, and ties break on neighbor id — so the whole pipeline,
    * not just the re-ranked face, is oracle-checkable.
    *
    * Scale shape: identical to [[lshTopK]] (bucket = partition key, only
    * the query side fans out) with the approximate pass reading 8-bit
    * codes; `oversample` bounds the exact-scoring work per query at
    * k*oversample vectors regardless of bucket size. With `oversample`
    * >= bucket size the prefilter keeps everything and the result equals
    * [[lshTopK]] exactly (pinned in SimilaritySpec).
    */
  def int8TopK(df: DataFrame, planes: Array[Array[Double]], k: Int,
               oversample: Int = 3): DataFrame = {
    require(k >= 1 && oversample >= 1)
    // checkpointed: both self-join sides read the quantized table —
    // without the cut each side re-ran the scan + bucket projection +
    // quantization (r14 before-plan: embeddings.parquet scanned 4×)
    val prep = lshBuckets(df, planes).select(
        col("vec_id"), col("embedding"), col("bucket"),
        greatest(array_max(transform(col("embedding"), x => abs(x.cast("double")))),
          lit(1e-300)).as("mx"),
        l2Norm(col("embedding")).as("nrm"))
      .withColumn("q8", transform(col("embedding"),
        x => floor(lit(127.0) * x.cast("double") / col("mx") + lit(0.5)).cast("long")))
      .withColumn("f", col("mx") / (lit(127.0) * col("nrm")))
      .localCheckpoint(false)
    val a = fanOut(prep.select(col("vec_id").as("query_id"), col("embedding").as("qe"),
      col("q8").as("qa"), col("f").as("fa"), col("nrm").as("na_"), col("bucket")), col("bucket"))
    val b = prep.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"),
      col("q8").as("qb"), col("f").as("fb"), col("nrm").as("nb_"), col("bucket"))
    val approx = a.join(b, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // exact BIGINT dot through the codegen'd DotL kernel — this runs
      // per bucket-local CANDIDATE PAIR (the hottest integer loop in the
      // ANN surface); the aggregate(zip_with(...)) fold it replaces is
      // interpreted, and DotL is value-identical (64-bit multiply-add,
      // unreachable overflow at |q8| ≤ 127)
      .withColumn("dq", kernel(DotL, col("qa"), col("qb")))
      .withColumn("approx", col("dq").cast("double") * col("fa") * col("fb"))
    val reranked = topK(approx, "approx", "arank", k * oversample)
      .withColumn("cos", dot(col("qe"), col("ne")) / (col("na_") * col("nb_")))
    topK(reranked, "cos", "rank", k).select("query_id", "neighbor_id", "rank", "cos")
  }

  /** SemDeDup-style semantic dedup survivor set: the LSH buckets act as the
    * semantic clusters (hyperplane partitions of embedding space), cosine
    * pairs ≥ `threshold` within a bucket mark near-duplicates, and the keep
    * rule drops every vector that has a SMALLER-id above-threshold neighbor
    * in its bucket — transitive chains collapse to their minimum id. This is
    * the deterministic variant of the published keep-an-arbitrary-exemplar
    * rule (SemDeDup, arXiv:2303.09540 — clusters + intra-cluster cosine);
    * a fixed rule keeps results engine-independent and oracle-checkable.
    *
    * Scale shape: one bucket-local pair join (never corpus-quadratic — the
    * candidate mass is Σ bucket_size², pinned ~linear by the adaptive plane
    * count) + one anti join on the dropped-id set. Returns the surviving
    * (vec_id, bucket) rows.
    */
  def semanticDedup(df: DataFrame, threshold: Double,
                    planes: Array[Array[Double]]): DataFrame = {
    require(planes.nonEmpty, "semanticDedup clusters via LSH planes; pass at least one")
    val dropped = cosineDupPairs(df, threshold, planes)
      .select(col("id_b").as("vec_id")).distinct()
    lshBuckets(df, planes)
      .join(dropped, Seq("vec_id"), "left_anti")
      .select("vec_id", "bucket")
  }

  /** kNN majority-vote classification: each query takes the modal label of
    * its k nearest neighbors (ties to the smallest label) — the
    * semi-supervised label-spreading step a curation pipeline uses to
    * extend a small hand-labeled set over a large corpus (distill a
    * quality/domain judgment onto unlabeled documents).
    *
    * `neighbors` is ANY (query_id, neighbor_id, rank, cos) table, so the
    * candidate source is pluggable: [[bruteForceTopK]] for the exactness
    * baseline, [[lshTopK]]/[[ivfQueryIndex]] at corpus scale — the vote is
    * the same plan either way. Votes are integer counts; the argmax is a
    * row_number over (votes DESC, label ASC), so the output is exact and
    * partition-order-independent with no float in sight.
    *
    * Scale: one shuffle on neighbor_id for the label attach (broadcast
    * when the labeled set is small — here it is corpus-sized so it
    * shuffles), one (query_id, label) hash agg with map-side combine, one
    * query-partitioned window over ≤ distinct-labels rows per query.
    *
    * Neighbors absent from `labels` are abstentions — they simply don't
    * vote (inner join); a query whose ENTIRE top-k is unlabeled yields no
    * prediction row. Callers needing "vote among the k nearest LABELED
    * points" should pre-filter the corpus to labeled rows before the
    * k-NN search instead.
    */
  def knnClassify(neighbors: DataFrame, labels: DataFrame, k: Int): DataFrame = {
    val lab = labels.select(col("vec_id").as("neighbor_id"), col("label"))
    val votes = neighbors.filter(col("rank") <= k)
      .join(lab, Seq("neighbor_id"))
      .groupBy("query_id", "label")
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("label").asc)
    votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("label").as("pred_label"), col("votes"))
  }

  /** Margin-based pair mining (the ratio-margin criterion of
    * Artetxe & Schwenk, ACL'19 — the CCMatrix/LASER bitext-mining scorer):
    * a candidate pair (x, y) scores cos(x,y) relative to the average
    * similarity of each side's own k-NN neighborhood,
    * `margin = cos(x,y) / ((avgK(x) + avgK(y)) / 2)`, which suppresses
    * hub vectors that score high against EVERYTHING and would flood a raw
    * cosine threshold.
    *
    * Cross-engine exactness: each avgK folds its k cosines in RANK order
    * (sort_array over (rank, cos) structs, then a sequential double fold
    * seeded at 0.0 — IEEE-identical to any engine's ordered list sum), so
    * the assembled margin double is bit-equal in DuckDB and thresholds on
    * it are reproducible, not tolerance-dependent.
    *
    * Scale: two [[bruteForceTopK]] passes (queries→corpus forward,
    * distinct forward candidates→query side backward — the backward pass
    * scores only candidates, not the whole corpus), two query-keyed hash
    * aggs for the neighborhood averages, then joins back on the pair. At
    * 100 TB both passes swap to the bucketed/IVF scorer unchanged.
    */
  def marginPairs(queries: DataFrame, corpus: DataFrame, k: Int,
                  threshold: Double): DataFrame = {
    def rankOrderedAvg(nn: DataFrame, idOut: String, avgOut: String): DataFrame =
      nn.groupBy(col("query_id").as(idOut))
        .agg((aggregate(
            transform(sort_array(collect_list(struct(col("rank"), col("cos")))),
              x => x("cos")),
            lit(0.0), (acc, x) => acc + x) / count(lit(1))).as(avgOut))

    // checkpoint: fwd is read four times (forward average, candidate ids,
    // the backward pass via candIds, and the final pair join) — without
    // the cut each reference re-ran the full forward brute-force scoring
    // pass (r14 before-plan: the query×corpus cross-join scorer appeared
    // four times). The frame is ≤ |queries|·k rows — the materialization
    // is free next to one scoring pass.
    val fwd = bruteForceTopK(queries, corpus, k).localCheckpoint(false)
    val avgF = rankOrderedAvg(fwd, "query_id", "avg_f")
    val candIds = fwd.select(col("neighbor_id").as("vec_id")).distinct()
    val bwd = bruteForceTopK(corpus.join(candIds, Seq("vec_id")), queries, k)
    val avgB = rankOrderedAvg(bwd, "neighbor_id", "avg_b")
    fwd.join(avgF, Seq("query_id"))
      .join(avgB, Seq("neighbor_id"))
      .withColumn("margin",
        col("cos") / ((col("avg_f") + col("avg_b")) / lit(2.0)))
      .withColumn("accepted", col("margin") >= threshold)
      .select("query_id", "neighbor_id", "rank", "cos", "margin", "accepted")
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold. Exact over all
    * pairs when `planes` is empty (broadcast nested-loop, parallel over the
    * left side); bucket-local when LSH planes are given.
    */
  def cosineDupPairs(df: DataFrame, threshold: Double,
                     planes: Array[Array[Double]] = Array.empty): DataFrame = {
    val pairs = if (planes.isEmpty) {
      // checkpointed: both cross-join sides read the normed table — each
      // previously re-ran the scan + norm
      val src = withNorm(df, "vec_id", "v", "n_").localCheckpoint(false)
      val a = fanOut(src.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("n_").as("na_")))
      a.crossJoin(broadcast(src.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("n_").as("nb_"))))
    } else {
      // checkpointed: both bucket-join sides read the bucketed+normed table
      val src = bucketedWithNorm(df, planes)
      def side(s: String) = src.select(col("vec_id").as(s"id_$s"), col("embedding").as(s"v$s"),
        col("nrm").as(s"n${s}_"), col("bucket"))
      fanOut(side("a"), col("bucket")).join(side("b"), Seq("bucket"))
    }
    pairs.filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na_") * col("nb_")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }
}
