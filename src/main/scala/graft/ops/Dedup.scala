package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, and SimHash near-dup detection.
  *
  * Scale design: every variant generates candidate pairs through an
  * inverted-index / banding JOIN (shuffle on shingle, band, or chunk key) —
  * never an all-pairs cross join. At 100 TB the candidate join is the only
  * quadratic risk, and banding bounds it: a pair is compared only if it
  * collides in some band, so cost tracks true-duplicate density, not n².
  *
  * Candidate generation is deliberately a SELF-JOIN, not a
  * collect_list-per-key + in-row pair expansion. Measured at sf0.1, the
  * posting-list formulation was 2–6× SLOWER (simhash 1.6 s → 9.9 s): the
  * higher-order transform/slice/flatten lambdas fall out of whole-stage
  * codegen, and a hot key materializes its whole m²/2 pair array in one
  * row — while the join streams pairs through codegen'd operators.
  *
  * Skew honesty (measured, ScaleBench r3): AQE's skew-join split keys off
  * shuffle INPUT partition bytes, and a hot join key is small on input
  * (one index row per document) — its cost appears only as join-OUTPUT
  * amplification, which AQE's heuristic cannot see (observed: skew split
  * never fires on the planted-hot-shingle corpus even with thresholds
  * scaled to the data). The operative 100 TB safeguard against quadratic
  * buckets is therefore the explicit frequency caps — `maxDocFreq` here,
  * `maxChunkFreq` on [[simhashPairs]] — not AQE.
  */
object Dedup {

  /** Exact dedup: canonical row per normalized-content hash
    * (hash-groupBy; one shuffle on the 128-bit key).
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(lower(col(textCol))).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** (id, sh array, set_size) with tokens materialized before the shingle
    * lambda (see TextOps.shinglesFromTokens for why).
    */
  private[graft] def shingleSets(df: DataFrame, textCol: String, idCol: String, n: Int,
                                 carry: Seq[String] = Nil): DataFrame =
    df.select(col(idCol).as("id") +: TextOps.tokens(col(textCol)).as("toks") +:
        carry.map(col): _*)
      .select(col("id") +: TextOps.shinglesFromTokens(col("toks"), n).as("sh") +:
        carry.map(col): _*)
      .withColumn("set_size", size(col("sh")))

  /** Distinct-shingle inverted index: (id, shingle, setSize). */
  private def shingleIndex(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    shingleSets(df, textCol, idCol, n)
      .select(col("id"), col("set_size"), explode(col("sh")).as("shingle"))

  /** The candidate table of a banded / chunked self-join
    * ([[minhashLshPairs]], [[chunkNearDupPairs]], [[simhashPairs]]),
    * materialized once: both join sides read it, and without the cut each
    * side re-ran the signature aggregate + banding at execution (r14
    * before-plan: the sigs exchange appeared twice, one copy per join
    * side).
    *
    * Uncapped (`cap == Long.MaxValue`, the exact face): repartitioned +
    * sorted on `keys` BEFORE the checkpoint, so that the self-join can
    * run with no exchange and no sort on either side (r15). Under AQE the
    * checkpoint's scan reports UnknownPartitioning: with broadcasts
    * disabled at sf0.001 the final plans count the same shuffle stages
    * with or without the repartition, so the saving is unconfirmed.
    *
    * Capped: buckets holding more than `cap` rows are dropped LOUDLY
    * (counted, one stderr line naming `label`, the bucket kind `keys.head`
    * and its `max<Kind>Freq` parameter); pairs colliding only in dropped
    * buckets are missed — explicitly reduced recall, not silent
    * truncation.
    *
    * Cap-path evaluation semantics: a cap makes the CALL eager — the
    * candidate table localCheckpoints and the hot-bucket count runs as
    * Spark jobs at DataFrame-CONSTRUCTION time (the stderr warning fires
    * then too), because the drop decision must be data-driven before the
    * lazy output plan is built. The two checkpointed frames stay pinned
    * in block-manager storage for the session (the same accepted lifetime
    * as [[shingleSets]]'s checkpoint — the output plan references them,
    * so they cannot be unpersisted here); long-lived sessions looping
    * over many capped calls should `spark.catalog.clearCache()`/unpersist
    * between iterations.
    */
  private def bucketed(frame: DataFrame, keys: Seq[String], cap: Long,
                       label: String): DataFrame =
    if (cap == Long.MaxValue) {
      frame.repartition(keys.map(col): _*)
        .sortWithinPartitions(keys.map(col): _*)
        .localCheckpoint(false)
    } else {
      val ck = frame.localCheckpoint(false)
      val hot = ck.groupBy(keys.map(col): _*).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > cap)
        .localCheckpoint(false)
      val nHot = hot.count()
      val kind = keys.head
      if (nHot > 0)
        System.err.println(s"[graft] $label: dropped $nHot hot $kind bucket(s) exceeding " +
          s"max${kind.capitalize}Freq=$cap — pairs colliding only in dropped buckets are missed")
      ck.join(hot.select(keys.map(col): _*), keys, "left_anti")
    }

  /** MinHash bands of each unit's shingle set `sh` (unit = `keyCols`): k
    * seeded hashes per exploded shingle as flat columns (codegen'd, no
    * per-element lambdas), min per unit → the signature slots, then one
    * (band, bh) row per r-slot signature slice.
    */
  private def minhashBands(sets: DataFrame, keyCols: Seq[String], k: Int,
                           bands: Int): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    val keys = keyCols.map(col)
    val sigs = sets.select(keys :+ explode(col("sh")).as("shingle"): _*)
      .select(keys ++
        (0 until k).map(i => xxhash64(concat(col("shingle"), lit(s"#$i"))).as(s"h$i")): _*)
      .groupBy(keys: _*)
      .agg(min(col("h0")).as("m0"), (1 until k).map(i => min(col(s"h$i")).as(s"m$i")): _*)
    sigs.select(keys :+ explode(array((0 until bands).map { j =>
      struct(lit(j).as("band"),
        xxhash64((j * r until (j + 1) * r).map(i => col(s"m$i")): _*).as("bh"))
    }: _*)).as("bb"): _*)
      .select(keys ++ Seq(col("bb.band"), col("bb.bh")): _*)
  }

  /** Self-join of a candidate table on `joinKeys`: each side renames `id`
    * and every `sideCols` source column (source → base name) with an
    * `_a` / `_b` suffix; each unordered pair is kept once, id_a < id_b.
    */
  private def selfPairs(frame: DataFrame, joinKeys: Seq[String],
                        sideCols: (String, String)*): DataFrame = {
    def side(s: String) = frame.select(col("id").as(s"id_$s") +:
      sideCols.map { case (c, base) => col(c).as(s"${base}_$s") } ++: joinKeys.map(col): _*)
    side("a").join(side("b"), joinKeys).filter(col("id_a") < col("id_b"))
  }

  /** Exact set-Jaccard verification of candidate pairs: attach each
    * side's shingle array `sh` (and `carry` columns as `<c>_a`/`<c>_b`)
    * from `sets` on the unit `keys`, keep pairs at or above `threshold`.
    * Output: keys_a, keys_b, jaccard, then the carried columns.
    */
  private def jaccardVerify(candidates: DataFrame, sets: DataFrame, keys: Seq[String],
                            carry: Seq[String], threshold: Double): DataFrame = {
    def sfx(s: String) = keys.map(k => s"${k}_$s")
    def side(s: String) = sets.select(((keys :+ "sh") ++ carry).map(c => col(c).as(s"${c}_$s")): _*)
    candidates
      .join(side("a"), sfx("a"))
      .join(side("b"), sfx("b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select((sfx("a") ++ sfx("b") ++ ("jaccard" +:
        carry.flatMap(c => Seq(s"${c}_a", s"${c}_b")))).map(col): _*)
  }

  /** N-gram Jaccard near-dup pairs via shared-shingle join: candidates are
    * pairs sharing ≥1 shingle; Jaccard computed from co-occurrence counts
    * (|A∩B| from the join, |A∪B| = |A|+|B|−|A∩B|) — integer arithmetic, no
    * set materialization per pair.
    *
    * `maxDocFreq` drops shingles appearing in more than that many documents
    * before the self-join — the knob that bounds the quadratic at 100 TB
    * when the corpus carries boilerplate (a shingle in d docs contributes
    * d²/2 candidate pairs). Unset = exact semantics.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, threshold: Double = 0.8,
                        maxDocFreq: Long = Long.MaxValue): DataFrame =
    coOccurrencePairs(df, textCol, idCol, n, maxDocFreq)
      .withColumn("jaccard",
        col("co").cast("double") / (col("n_a") + col("n_b") - col("co")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Near-SUBSET duplicate pairs: containment C = |A∩B| / min(|A|,|B|) —
    * the asymmetric overlap measure that catches a document embedded
    * whole inside a larger one (quote-inclusion, article + wrapper
    * boilerplate, truncated re-crawls), which symmetric Jaccard
    * structurally under-scores: a doc fully contained in one 4× its size
    * has J = 1/4 but C = 1. Corpus self-pair twin of the probe-directed
    * [[containmentPairs]] (decontamination); both jaccard and containment
    * are emitted so the `containment ≥ t > jaccard` rows — the pairs ONLY
    * this operator finds — are visible in the output.
    *
    * Scale shape: identical to [[ngramJaccardPairs]] — the shared
    * [[coOccurrencePairs]] inverted-index join bounded by `maxDocFreq`,
    * then per-pair arithmetic; both scores are single IEEE ops on exact
    * integers, so verdicts are engine-exact.
    */
  /** Tail-head overlap pairs — shard-stitching detection: (a, b) where
    * document a's LAST `m` tokens equal document b's FIRST `m` tokens,
    * the signature of one logical document split across two crawl records
    * with an overlapping boundary (paginated scrapes, chunked dumps,
    * retried fetches that re-emit the seam). Span dedup ([[stripDupSpans]])
    * would only strip the shared seam; this operator IDENTIFIES the
    * (predecessor, continuation) edge so a curator can re-join or drop the
    * fragments.
    *
    * Scale shape: two narrow projections (each row contributes exactly one
    * m-token boundary key per side) and ONE equi-join on the boundary
    * string — no inverted index, no fanout beyond genuinely colliding
    * boundaries. A boundary shared by h heads and t tails emits h·t pairs
    * (the true answer); boilerplate boundaries that would make h·t
    * quadratic are the caller's signal to raise `m` — a longer seam is
    * strictly more specific.
    */
  def stitchOverlapPairs(df: DataFrame, textCol: String, idCol: String,
                         m: Int = 8): DataFrame = {
    require(m >= 1, "boundary length m must be positive")
    val base = df.select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= m)
    val tails = base.select(col("id").as("id_a"),
      concat_ws(" ", slice(col("tk"), -m, m)).as("boundary"))
    val heads = base.select(col("id").as("id_b"),
      concat_ws(" ", slice(col("tk"), 1, m)).as("boundary"))
    tails.join(heads, Seq("boundary"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b", "boundary")
  }

  def containmentSelfPairs(df: DataFrame, textCol: String, idCol: String,
                           n: Int = 3, threshold: Double = 0.8,
                           maxDocFreq: Long = Long.MaxValue): DataFrame =
    coOccurrencePairs(df, textCol, idCol, n, maxDocFreq)
      .withColumn("containment",
        col("co").cast("double") / least(col("n_a"), col("n_b")))
      .withColumn("jaccard",
        col("co").cast("double") / (col("n_a") + col("n_b") - col("co")))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "co", "n_a", "n_b", "containment", "jaccard")

  /** The shared candidate stage of [[ngramJaccardPairs]] and
    * [[jaccardYieldCurve]]: every co-occurring doc pair with its shared
    * shingle count and both set sizes — (id_a, id_b, co, n_a, n_b),
    * id_a < id_b.
    *
    * The inverted index materializes once — it feeds the frequency filter
    * and BOTH sides of the self-join (the dbt table-materialization
    * analog). localCheckpoint, not persist: checkpoint blocks are
    * reclaimed by the ContextCleaner once the DataFrame is unreferenced,
    * so repeated calls in a long-lived session don't accumulate cached
    * blocks the way an un-unpersisted cache entry would.
    * Fault-tolerance trade-off (NOT equivalent to MEMORY_AND_DISK):
    * localCheckpoint truncates lineage and stores UNREPLICATED
    * executor-local blocks — on a multi-executor cluster an executor loss
    * makes the job fail unrecoverably instead of recomputing, and lazy
    * (eager=false) checkpoints have sharp edges under AQE recomputation.
    * Acceptable here because the index is cheap to recompute by re-running
    * the job; a deployment where partial progress is expensive should swap
    * this for persist(MEMORY_AND_DISK) + explicit unpersist, or reliable
    * checkpoint() to a checkpoint dir.
    *
    * Frequency pruning: a shingle appearing in exactly one document cannot
    * produce a pair — drop it before the self-join. On a real corpus most
    * shingles are unique, so this shrinks the join input by ~an order of
    * magnitude; the maxDocFreq cap handles the other tail (ultra-hot
    * boilerplate shingles).
    */
  private def coOccurrencePairs(df: DataFrame, textCol: String, idCol: String,
                                n: Int, maxDocFreq: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r15: the frequency filter is a shingle-partitioned window COUNT over
    // the index itself (one row per (id, shingle), so the partition row
    // count IS the document frequency) instead of a separate aggregate
    // joined back — ONE pipeline and ONE checkpoint barrier where the r14
    // shape had the ix0 checkpoint plus a freq join re-executed per
    // self-join side. The checkpoint lands AFTER the window: its blocks
    // are shingle-partitioned AND shingle-sorted, localCheckpoint
    // preserves both, so the self-join below needs NO exchange and NO
    // sort on either side (r14: exchange+sort twice). Two slower
    // variants measured at sf0.1 and rejected: keeping the aggregate+
    // broadcast-join and checkpointing the repartitioned filtered index
    // (a SECOND barrier — 2.5 s vs 1.5 s on dd_ngram_jaccard), and the
    // r14 shape itself (3.1 s).
    val ix = shingleIndex(df, textCol, idCol, n)
      .withColumn("dfreq", count(lit(1)).over(Window.partitionBy("shingle")))
      .filter(col("dfreq") > 1 && col("dfreq") <= maxDocFreq)
      .select("id", "set_size", "shingle")
      .localCheckpoint(false)
    // set sizes ride THROUGH the self-join and collapse in the same
    // partial aggregation as the co-occurrence count (they are constant
    // per id, so min() is exact): +8 bytes per partially-aggregated row
    // buys back what used to be a per-document `sizes` table attached by
    // broadcast — a doc-count-sized broadcast, which is exactly the thing
    // that cannot exist at 100 TB corpus scale (and locally cost two more
    // joins, two aggregates, and two checkpoint scans per execution).
    selfPairs(ix, Seq("shingle"), "set_size" -> "sz")
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("co"),
        min(col("sz_a")).as("n_a"), min(col("sz_b")).as("n_b"))
  }

  /** Dedup yield curve: how many near-dup pairs each Jaccard threshold
    * would collapse — the one-pass threshold-sweep a curator runs BEFORE
    * committing to a cutoff (the 0.8 in `ngramJaccardPairs` is a choice;
    * this face shows what 0.5/0.6/…/1.0 would each buy). Same inverted
    * shingle index and co-occurrence join as [[ngramJaccardPairs]], but
    * instead of filtering at one threshold, every pair lands in its
    * integer Jaccard decile `(10·|A∩B|) div |A∪B|` — all-integer, so the
    * histogram is engine-exact (a float bucket would flicker at decile
    * boundaries). Deciles below `minDecile` are dropped (sub-0.5 pairs
    * are background noise and the count would be candidate-mass-shaped,
    * not signal-shaped). Decile 10 = exact set dups.
    *
    * Scale shape: identical to the pair stage it instruments — one
    * index self-join bounded by `maxDocFreq`, then a decile hash agg of
    * at most 11 rows. `minDecile` only trims OUTPUT rows (the join cost
    * is identical), so the default keeps the whole curve including the
    * decile-0 background mass — itself a useful number (co-occurring
    * pair volume = the verify stage's workload).
    */
  def jaccardYieldCurve(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, minDecile: Long = 0L,
                        maxDocFreq: Long = Long.MaxValue): DataFrame =
    coOccurrencePairs(df, textCol, idCol, n, maxDocFreq)
      .withColumn("jaccard_decile", expr("(10 * co) div (n_a + n_b - co)"))
      .filter(col("jaccard_decile") >= minDecile)
      .groupBy("jaccard_decile")
      .agg(count(lit(1)).as("n_pairs"))

  /** Prefix-filtered exact Jaccard pairs (AllPairs/PPJoin-style, Bayardo
    * et al. WWW'07; Xiao et al. WWW'08): identical output contract to
    * [[ngramJaccardPairs]] — every pair with true Jaccard ≥ `threshold` —
    * but the candidate self-join runs over each document's PREFIX only.
    *
    * Under a global canonical shingle order (document frequency ascending,
    * rarest first), a pair with overlap ≥ α must share a shingle within the
    * first |x|−α+1 shingles of BOTH sides; for Jaccard ≥ t the minimum
    * overlap against any length-eligible partner is ⌈t·|x|⌉, so indexing
    * the first |x|−⌈t·|x|⌉+1 shingles per document is LOSSLESS. At t=0.8
    * the index keeps ~20% of each document's shingles, cutting hot-shingle
    * pair mass ~(1−t)² ≈ 25× before the exact verification — the same
    * shape as [[minhashLshPairs]] (candidates → array verify) but with a
    * deterministic no-miss guarantee instead of a 1−1e-9 probabilistic one.
    *
    * `maxDocFreq`: unset (the default) = exact, and the output is then
    * IDENTICAL to [[ngramJaccardPairs]]. Under a cap the two variants
    * diverge by design: the baseline excludes capped shingles from the
    * Jaccard NUMERATOR (undercounting co-occurrence), while this variant
    * only prunes capped shingles from CANDIDATE GENERATION and verifies
    * true Jaccard on the full sets — so a pair sharing some-but-not-all
    * hot shingles can pass here and drop there. Prefix POSITIONS are
    * computed over the full ordered set (unique shingles occupy prefix
    * slots but generate no candidates), so frequency pruning does not
    * disturb the lemma.
    */
  /** `carry`: per-document columns of `df` that ride the (already
    * checkpointed) sets frame through the verify joins and emerge as
    * `<c>_a` / `<c>_b` on each pair — a caller that needs per-side
    * attributes (dd_overlap_matrix's source rollup) then pays ZERO extra
    * joins against the (possibly 100 TB) document table. Default Nil
    * keeps the plan and output schema identical to the pre-r15 shape.
    */
  def ngramPrefixPairs(df: DataFrame, textCol: String, idCol: String,
                       n: Int = 3, threshold: Double = 0.8,
                       maxDocFreq: Long = Long.MaxValue,
                       carry: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sets = shingleSets(df, textCol, idCol, n, carry).localCheckpoint(false)
    val ix0 = sets.select(col("id"), col("set_size"), explode(col("sh")).as("shingle"))
    // full document frequency (before any cap) — it defines the canonical
    // order, which must be the same for every document
    val docFreq = ix0.groupBy("shingle").agg(count(lit(1)).as("dfreq"))
    // rarest-first rank within each document; the 1e-9 slack makes the
    // ⌈t·size⌉ ceiling robust to binary-fraction thresholds (0.8·5 in IEEE
    // is 4.0000000000000002 → ceil 5 would under-size the prefix; the
    // slack can only ENLARGE the prefix — the lossless direction)
    val pos = row_number().over(
      Window.partitionBy("id").orderBy(col("dfreq"), col("shingle")))
    val prefixLen = col("set_size") - ceil(lit(threshold) * col("set_size") - lit(1e-9)) + 1
    // NOTE (r15): two "obvious" improvements were measured SLOWER here at
    // sf0.1 and rejected — (a) dfreq as a shingle-partitioned window COUNT
    // (sorts the FULL index on shingle before the prefix cut: 2.5 s vs
    // 2.0 s on dd_ngram_prefix) and (b) checkpointing the repartitioned+
    // sorted prefix so the self-join goes exchange-free (the extra
    // materialization barrier outweighs re-running the cheap chain per
    // side: 3.0 s). The dfreq aggregate broadcasts at vocabulary size and
    // the double-executed chain reads the sets checkpoint, so the r14
    // shape stands.
    val prefix = ix0.join(docFreq, Seq("shingle"))
      .withColumn("pos", pos)
      .filter(col("pos") <= prefixLen)
      // dfreq==1 rows can never match in the self-join; dropping them here
      // only shrinks the shuffle. dfreq>maxDocFreq is the semantic cap.
      .filter(col("dfreq") > 1 && col("dfreq") <= maxDocFreq)
      .select("id", "set_size", "shingle")
    val candidates = selfPairs(prefix, Seq("shingle"), "set_size" -> "n")
      // length filter: J ≥ t needs t·max(|a|,|b|) ≤ min(|a|,|b|); the same
      // 1e-9 slack keeps exact-boundary sizes (t=0.8, 4-vs-5) in play
      .filter(lit(threshold) * greatest(col("n_a"), col("n_b")) - lit(1e-9) <=
        least(col("n_a"), col("n_b")))
      .select("id_a", "id_b").distinct()
    jaccardVerify(candidates, sets, Seq("id"), carry, threshold)
  }

  /** MinHash signature as a single Column (k seeded slots over a shingle
    * array). Column-level variant for ad-hoc use; [[minhashLshPairs]] uses
    * the equivalent exploded/codegen'd formulation internally (same values:
    * min over identical per-shingle hashes).
    */
  def minhashSignature(sh: Column, k: Int = 32): Column =
    array((0 until k).map { i =>
      array_min(transform(sh, s => xxhash64(concat(s, lit(s"#$i")))))
    }: _*)

  /** MinHash + LSH near-dup pairs: signature → b bands of r slots → banded
    * self-join → verify candidates with true Jaccard. With k=32, b=8, r=4 a
    * 0.98-Jaccard pair is missed with p≈1e-9; candidates below `threshold`
    * are filtered by the exact verification, so output ≡ ngramJaccardPairs
    * up to that miss probability — at ~1000× less comparison work on a
    * corpus where duplicates are rare. (b=8 vs b=16 measured at sf1,
    * BENCH_NOTES r13: identical complete output, 1.72× less candidate
    * mass — the shipped geometry.)
    *
    * `maxBandFreq` is the 100 TB hot-bucket safeguard (the same semantic
    * cap [[chunkNearDupPairs]] carries): an identical-doc group of size g
    * collides in EVERY band, putting b·C(g,2) rows through the self-join —
    * a single million-doc boilerplate group is 8×5e11 candidate rows.
    * Buckets over the cap are dropped LOUDLY (counted, stderr): pairs
    * colliding only in dropped buckets are missed — explicitly reduced
    * recall, not silent truncation. Default keeps every bucket (the exact
    * oracle face).
    *
    * PRODUCTION SIZING ([[RecommendedMaxBandFreq]] = 4500, derived like
    * maxDocFreq's rule — from target candidate mass per bucket, not
    * guessed): a bucket of occupancy f emits C(f,2) ≈ f²/2 pairs into the
    * self-join, so bounding one bucket's candidate mass to P pairs means
    * f ≤ √(2P); P = 10⁷ (a few hundred MB of transient 24-byte join-output
    * rows — comfortably one task's streaming work) gives f ≤ ~4500. The
    * cap must also clear the largest LEGITIMATE near-dup cluster g_max you
    * still want fully paired (an identical group of size g occupies its
    * buckets at exactly g), so: maxBandFreq = max(4·g_max, √(2P)). Run
    * [[exactGroups]] first — as every real pipeline does — and residual
    * near-dup clusters are typically ≤ 10³, so both terms land at ~4500;
    * a corpus whose legitimate clusters are BIGGER raises g_max
    * deliberately and accepts the larger per-bucket mass.
    *
    * Setting `maxBandFreq` makes this call eager; see [[bucketed]] for the
    * cap path's evaluation semantics.
    */
  /** The production `maxBandFreq`/`maxChunkFreq` default: max(4·g_max,
    * √(2P)) with residual legitimate cluster size g_max = 10³ (post-
    * [[exactGroups]]) and per-bucket candidate-mass target P = 10⁷ pairs —
    * see the [[minhashLshPairs]] sizing paragraph for the derivation.
    */
  val RecommendedMaxBandFreq: Long = 4500L

  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
                      n: Int = 3, k: Int = 32, bands: Int = 8,
                      threshold: Double = 0.8,
                      maxBandFreq: Long = Long.MaxValue): DataFrame = {
    // materialized once (feeds signature hashing AND both verification
    // joins); localCheckpoint for the same no-leak reason as
    // [[ngramJaccardPairs]]'s index
    val sets = shingleSets(df, textCol, idCol, n).localCheckpoint(false)
    val banded = bucketed(minhashBands(sets, Seq("id"), k, bands), Seq("band", "bh"),
      maxBandFreq, "minhashLshPairs")
    val candidates = selfPairs(banded, Seq("band", "bh")).select("id_a", "id_b").distinct()
    // exact verification on the candidate pairs only
    jaccardVerify(candidates, sets, Seq("id"), Nil, threshold)
  }

  /** Incremental near-dup check: Jaccard pairs BETWEEN a new batch and the
    * existing corpus (never within either side) — the "dedupe tonight's
    * crawl against the 100 TB corpus" operation. The new batch's inverted
    * index broadcasts (it is small by construction), so the corpus index
    * streams through one broadcast join + the pair aggregation; the corpus
    * itself is never shuffled.
    */
  def incrementalNearDupPairs(newDocs: DataFrame, corpus: DataFrame,
                              textCol: String, idCol: String,
                              n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // set sizes ride along both index sides and come out of the pair
    // aggregation via first() (constant within a group), so the corpus is
    // scanned exactly once — no second sizes join over the big side
    val nx = shingleIndex(newDocs, textCol, idCol, n)
      .select(col("id").as("new_id"), col("set_size").as("n_n"), col("shingle"))
    val cx = shingleIndex(corpus, textCol, idCol, n)
      .select(col("id").as("corpus_id"), col("set_size").as("n_c"), col("shingle"))
    cx.join(broadcast(nx), Seq("shingle"))
      .groupBy("new_id", "corpus_id")
      .agg(count(lit(1)).as("co"),
        first(col("n_n")).as("n_n"), first(col("n_c")).as("n_c"))
      .withColumn("jaccard",
        col("co").cast("double") / (col("n_n") + col("n_c") - col("co")))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "corpus_id", "jaccard")
  }

  /** Benchmark decontamination: flag corpus documents whose shingle overlap
    * CONTAINS a large fraction of some probe (benchmark) document —
    * `containment = |sh(corpus) ∩ sh(probe)| / |sh(probe)|` ≥ threshold.
    * The standard n-gram test-set-leakage check run before training.
    *
    * Same inverted-index join shape as [[ngramJaccardPairs]], but
    * asymmetric: the probe set is tiny relative to the corpus, so its index
    * broadcasts and the corpus side streams — no shuffle of the 100 TB side
    * beyond the per-pair aggregation.
    */
  def containmentPairs(corpus: DataFrame, probes: DataFrame,
                       textCol: String, idCol: String,
                       n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val cx = shingleIndex(corpus, textCol, idCol, n)
      .select(col("id").as("corpus_id"), col("shingle"))
    // checkpoint: the probe index feeds the size table AND the broadcast
    // join side — without the cut each re-ran the probe scan + explode
    val px = shingleIndex(probes, textCol, idCol, n).localCheckpoint(false)
    val pSizes = px.select(col("id").as("probe_id"), col("set_size").as("n_p")).distinct()
    val co = cx.join(broadcast(px.select(col("id").as("probe_id"), col("shingle"))),
        Seq("shingle"))
      .groupBy("corpus_id", "probe_id")
      .agg(count(lit(1)).as("co"))
    co.join(broadcast(pSizes), Seq("probe_id"))
      .withColumn("containment", col("co").cast("double") / col("n_p"))
      .filter(col("containment") >= threshold)
      .select("corpus_id", "probe_id", "containment")
  }

  /** Per-document n-gram contamination score — the GPT-3/Llama-report-style
    * overlap check: what fraction of a corpus document's DISTINCT n-grams
    * appears anywhere in the probe (benchmark) set. [[containmentPairs]]
    * answers "which probe leaked into which doc"; this answers the
    * per-document triage question "how contaminated is each doc", which is
    * what a pre-training filter thresholds on.
    *
    * `overlap_share = |sh(doc) ∩ sh(probes)| / |sh(doc)|`, one IEEE divide
    * of exact integer counts, so verdicts are engine-exact.
    *
    * Scale shape: the probe shingle SET (distinct union over the benchmark
    * suite — small by nature) broadcasts; the corpus's exploded shingles
    * left-join it with no fanout (probe side is distinct) and fold back in
    * one doc-keyed aggregation — the only corpus shuffle. Docs with fewer
    * than n tokens have no shingles and carry no contamination evidence;
    * they are absent from the output (same totality contract as the
    * shingle-pair family, `EdgeCaseSpec`).
    */
  def contaminationScore(corpus: DataFrame, probes: DataFrame,
                         textCol: String, idCol: String,
                         n: Int = 3, flagThreshold: Double = 0.5): DataFrame = {
    val cx = shingleIndex(corpus, textCol, idCol, n)
    val pSet = shingleIndex(probes, textCol, idCol, n)
      .select(col("shingle")).distinct().withColumn("__hit", lit(1L))
    cx.join(broadcast(pSet), Seq("shingle"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"))
      .select(col("id").as(idCol), col("n_shingles"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_shingles")).as("overlap_share"),
        (col("n_overlap").cast("double") / col("n_shingles") >= flagThreshold)
          .as("contaminated"))
  }

  /** Cross-document chunk-level dedup — the boilerplate-paragraph detector:
    * finds sub-document spans (fixed token windows) repeated across
    * DISTINCT documents, the units whole-document dedup (fingerprint,
    * shingle-set, simhash) cannot see when the surrounding text differs.
    *
    * Each document explodes into its [[TextOps.chunkTokens]] windows; each
    * chunk is fingerprinted (md5 of the chunk text — engine-independent, so
    * the output is oracle-comparable); fingerprints occurring in at least
    * `minDocs` distinct documents are duplicate groups, labeled by the MIN
    * doc id carrying them (the [[nearDupComponents]] labeling convention).
    * Output: one row per duplicated chunk occurrence —
    * `(doc_id, chunk_pos, dup_group, n_docs)`; a boilerplate remover
    * anti-joins its chunk table against this.
    *
    * Repeats WITHIN one document don't qualify (the count is per distinct
    * doc): intra-doc repetition is [[TextOps.dupShingleRatio]]'s job.
    *
    * Scale shape: one explode (output ≈ corpus token count / stride), one
    * hash aggregation on the 128-bit fingerprint, one equi-join back on the
    * same key — no pair join, so cost is linear in corpus size regardless
    * of duplication density. `maxDocFreq` is the [[ngramJaccardPairs]]-style
    * backstop: a fingerprint in more docs than the cap (degenerate chunks —
    * empty-ish documents collapsing to one window) is excluded, bounding the
    * join's output amplification; capped semantics are explicit in the
    * predicate (`minDocs <= n_docs <= maxDocFreq`), not a silent drop. The
    * exploded chunk table feeds both the group count and the label join
    * and is deliberately NOT materialized: the subtree is a narrow
    * scan+explode (recomputing it costs one extra scan, no shuffle),
    * whereas checkpointing it would store the whole exploded corpus —
    * measured at sf0.1 the two are time-identical, and recompute avoids
    * [[ngramJaccardPairs]]'s executor-loss caveat.
    */
  def chunkDupGroups(df: DataFrame, textCol: String, idCol: String,
                     chunkSize: Int, overlap: Int = 0,
                     minDocs: Int = 2,
                     maxDocFreq: Long = Long.MaxValue): DataFrame = {
    require(minDocs >= 2, s"minDocs=$minDocs: below 2 every chunk is its own dup group")
    val chunks = df
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        posexplode(TextOps.chunkTokens(col("toks"), chunkSize, overlap))
          .as(Seq("chunk_pos", "chunk")))
      .select(col("doc_id"), col("chunk_pos"), md5(col("chunk")).as("chunk_fp"))
    val groups = chunks.groupBy("chunk_fp")
      .agg(countDistinct(col("doc_id")).as("n_docs"), min(col("doc_id")).as("dup_group"))
      .filter(col("n_docs") >= minDocs && col("n_docs") <= maxDocFreq)
      .select("chunk_fp", "dup_group", "n_docs")
    chunks.join(groups, Seq("chunk_fp"))
      .select("doc_id", "chunk_pos", "dup_group", "n_docs")
  }

  /** Intra-document repetition removal (the MassiveText/Gopher repetition
    * cleanup): split each document into tumbling `blockSize`-token blocks,
    * keep only the FIRST occurrence of each distinct block within the
    * document, and stitch the survivors back together in position order.
    * The complement of [[stripDupChunks]], which removes CROSS-document
    * boilerplate and deliberately ignores within-doc repeats.
    *
    * Output: `(doc_id, clean_text, n_kept, n_dropped)` — clean_text is the
    * surviving blocks joined by single spaces (whitespace-normalized
    * exactly as [[graft.ops.TextOps.tokens]] sees the text).
    *
    * Scale shape: NO joins — one explode (≈ token count / blockSize rows),
    * one window keyed (doc_id, block-md5) for first-occurrence, one window
    * keyed doc_id for the block count, one doc-keyed reassembly
    * aggregation. Everything partitions on the document key, so cost is
    * linear and skew-free regardless of how repetitive any one document
    * is (a pathological doc costs its own block count, nothing quadratic).
    */
  def stripIntraDocRepeats(df: DataFrame, textCol: String, idCol: String,
                           blockSize: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blocks = df
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        posexplode(TextOps.chunkTokens(col("toks"), blockSize, 0))
          .as(Seq("pos", "block")))
    val firstPos = min(col("pos")).over(
      Window.partitionBy(col("doc_id"), md5(col("block"))))
    val docBlocks = count(lit(1)).over(Window.partitionBy(col("doc_id")))
    blocks
      .withColumn("first_pos", firstPos)
      .withColumn("n_blocks", docBlocks)
      .filter(col("pos") === col("first_pos"))
      .groupBy("doc_id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("block")))),
          s => s("block")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"),
        (first(col("n_blocks")) - count(lit(1))).as("n_dropped"))
  }

  /** Boilerplate removal — the reassembly half of [[chunkDupGroups]]: drop
    * every chunk occurrence that belongs to a cross-document duplicate
    * group, then stitch each document back together from its surviving
    * chunks in position order.
    *
    * Tumbling windows only (overlap is pinned to 0): with overlapping
    * windows a removed chunk shares tokens with its neighbors and
    * "remove the chunk" is ill-defined. Output: `(doc_id, clean_text,
    * n_kept)` with `clean_text` = surviving chunks joined by single spaces
    * (whitespace-normalized exactly as [[TextOps.tokens]] sees the text).
    * A document whose every chunk is boilerplate survives with
    * `clean_text = ''`/`n_kept = 0` — row counts stay stable so a
    * pipeline drops empties with a filter it can see, not a silent loss.
    *
    * Scale shape: [[chunkDupGroups]]'s linear explode + hash-agg + equi-
    * join, one more anti-join on `(doc_id, chunk_pos)`, one hash agg to
    * reassemble — still no pair join anywhere, cost linear in corpus size.
    */
  def stripDupChunks(df: DataFrame, textCol: String, idCol: String,
                     chunkSize: Int, minDocs: Int = 2,
                     maxDocFreq: Long = Long.MaxValue): DataFrame = {
    val dups = chunkDupGroups(df, textCol, idCol, chunkSize, overlap = 0,
      minDocs = minDocs, maxDocFreq = maxDocFreq)
      .select(col("doc_id"), col("chunk_pos"))
    val chunks = df
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        posexplode(TextOps.chunkTokens(col("toks"), chunkSize, 0))
          .as(Seq("chunk_pos", "chunk")))
    val kept = chunks.join(dups, Seq("doc_id", "chunk_pos"), "left_anti")
      .groupBy("doc_id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("chunk_pos"), col("chunk")))),
          e => e.getField("chunk")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("doc_id"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Chunk-level NEAR-dup pairs — the mutation-tolerant half of
    * [[chunkDupGroups]]: exact window fingerprints miss boilerplate that
    * mutates slightly between documents (dates, names, group tags), so
    * this variant MinHash-bands each chunk's within-chunk shingle set and
    * verifies candidates with exact Jaccard — [[minhashLshPairs]] applied
    * at the chunk grain, (doc, chunk_pos) as the unit of identity.
    *
    * Output: one row per qualifying CROSS-document chunk pair
    * `(id_a, pos_a, id_b, pos_b, jaccard)` with `id_a < id_b`; intra-doc
    * repetition stays [[TextOps.dupShingleRatio]]'s job, mirroring
    * [[chunkDupGroups]]'s distinct-docs semantics. Chunks shorter than
    * `n` tokens have no shingles and never pair (their exact-dup case is
    * [[chunkDupGroups]]'s).
    *
    * Band geometry defaults to r=2 slots × 16 bands (k=32): at the 0.8
    * verification threshold a true pair collides in ≥1 band with
    * P ≈ 1 − (1−0.8²)^16 ≈ 1 − 8e-8, so the banded output is the exact
    * threshold contract for practical purposes — the property the oracle
    * checks. (The whole-document [[minhashLshPairs]] keeps r=4: its
    * corpus pairs sit near J≈1 where r=4 already misses ~1e-9, and wider
    * bands quarter its candidate volume.)
    *
    * Scale shape: explode to chunks (linear), k hash columns + min per
    * chunk (one hash agg), banded self-join on (band, bandHash) — the
    * candidate mass tracks true near-dup density like every banding join
    * here; `maxBandFreq` is the [[simhashPairs]]-style hot-bucket cap
    * (buckets over the cap are dropped and counted out loud; pairs
    * colliding only in dropped buckets are missed). The cap path's
    * eager-evaluation semantics are [[bucketed]]'s; production sizing is
    * exactly [[minhashLshPairs]]'s — [[RecommendedMaxBandFreq]] applies
    * here too (g_max = the largest legitimate repeated-CHUNK group, e.g.
    * a license paragraph's residual spread after [[chunkDupGroups]]
    * removal).
    */
  def chunkNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                        chunkSize: Int, n: Int = 3, k: Int = 32,
                        bands: Int = 16, threshold: Double = 0.8,
                        maxBandFreq: Long = Long.MaxValue): DataFrame = {
    // chunk shingle sets feed signature hashing AND both verification
    // joins; localCheckpoint for the same no-leak reason as
    // [[ngramJaccardPairs]]'s index
    val chunks = df
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("toks"))
      .select(col("id"),
        posexplode(TextOps.chunkTokens(col("toks"), chunkSize, 0))
          .as(Seq("pos", "chunk")))
      .select(col("id"), col("pos"),
        TextOps.shinglesFromTokens(TextOps.tokens(col("chunk")), n).as("sh"))
      .localCheckpoint(false)
    val banded = bucketed(minhashBands(chunks, Seq("id", "pos"), k, bands),
      Seq("band", "bh"), maxBandFreq, "chunkNearDupPairs")
    val candidates = selfPairs(banded, Seq("band", "bh"), "pos" -> "pos")
      .select("id_a", "pos_a", "id_b", "pos_b").distinct()
    jaccardVerify(candidates, chunks, Seq("id", "pos"), Nil, threshold)
  }

  /** (id, token, tf) with tf the count of each n-token gram WITH
    * multiplicity (unlike TextOps.shingles, which dedups — multiplicity is
    * the point of the vector-space model); one shuffle on (id, token). n > 1
    * is the degenerate-vocabulary knob: on a corpus whose unigram vocab is
    * tiny every doc shares tokens with every doc and the inverted index
    * goes quadratic; grams re-sparsify it.
    */
  private def termFreqs(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    require(n >= 1, "n-gram width must be >= 1")
    val toks = TextOps.tokens(col(textCol))
    val grams = if (n == 1) toks else TextOps.gramsFromTokens(toks, n)
    df.select(col(idCol).as("id"), explode(grams).as("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
  }

  /** 64-bit SimHash over the distinct token set (weight 1 per token): for
    * each bit, majority vote of token-hash bits. Pure column expressions —
    * 64 codegen'd subexpressions, no UDF.
    */
  /** Sparse token-frequency cosine pairs via an inverted-index self-join —
    * the bag-of-words twin of [[ngramJaccardPairs]] (multiplicity-aware
    * where Jaccard is set-based; catches "same words, shuffled" near-dups
    * and is the vector-space model of IR, Salton & McGill 1983).
    *
    * cos(a, b) = Σ_t tf_a(t)·tf_b(t) / sqrt((Σ tf_a²)·(Σ tf_b²)) — every
    * sum is an exact BIGINT of token counts (order-independent, map-side
    * combinable), and the only float ops are one int→double cast, one IEEE
    * sqrt and one divide, all correctly rounded — so the score is
    * bit-identical in any engine, the same discipline as the cents trick
    * (QueryPack) and the index-ordered dot (Similarity.dot). No
    * transcendental idf weights for exactly that reason: a production
    * pipeline that wants idf can pass the weight via `maxDocFreq`-style
    * pruning here and rescale downstream.
    *
    * Scale shape: candidate mass comes from the token-keyed self-join, so
    * `maxDocFreq` (drop tokens appearing in more than that many docs —
    * stopwords are exactly the tokens that would otherwise contribute d²/2
    * pairs) is the same 100 TB knob as in [[ngramJaccardPairs]]. Pruned
    * tokens leave BOTH the numerator and the norms, so the reported score
    * is the true cosine over the pruned vocabulary — self-consistent, and
    * exact when the cap is unset. Norms re-attach by broadcast (doc-count
    * sized table of two ints).
    */
  def tokenCosinePairs(df: DataFrame, textCol: String, idCol: String,
                       n: Int = 1, threshold: Double = 0.8,
                       maxDocFreq: Long = Long.MaxValue): DataFrame = {
    val tf0 = termFreqs(df, textCol, idCol, n)
    val tf =
      if (maxDocFreq == Long.MaxValue) tf0
      else {
        val keep = tf0.groupBy("token").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDocFreq).select("token")
        tf0.join(keep, Seq("token"))
      }
    val norms = tf.groupBy("id").agg(sum(col("tf") * col("tf")).as("nrm2"))
    // norms attach ONCE, before the self-join, and ride through the pair
    // aggregation (constant per id, so min() is exact): the old shape
    // attached them AFTER the aggregation via two broadcasts of a
    // per-document table — a doc-count-sized broadcast, which cannot
    // exist at 100 TB corpus scale (and locally cost an extra aggregate
    // subtree plus two join stages per execution)
    val tfn = tf.join(norms, Seq("id"))
    val a = tfn.select(col("id").as("id_a"), col("token"), col("tf").as("tf_a"),
      col("nrm2").as("sz_a"))
    val b = tfn.select(col("id").as("id_b"), col("token"), col("tf").as("tf_b"),
      col("nrm2").as("sz_b"))
    a.join(b, Seq("token"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(sum(col("tf_a") * col("tf_b")).as("num"),
        min(col("sz_a")).as("n2_a"), min(col("sz_b")).as("n2_b"))
      // two sqrts, not sqrt(n2_a*n2_b): the BIGINT product would overflow
      // past ~3e9-token docs; per-factor casts stay exact below 2^53 and
      // every op (cast, sqrt, *, /) is IEEE-correctly-rounded, so the
      // value is still engine-exact
      .withColumn("cosine",
        col("num").cast("double") /
          (sqrt(col("n2_a").cast("double")) * sqrt(col("n2_b").cast("double"))))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Prefix-filtered (AllPairs-style, Bayardo et al. WWW'07) exact
    * token-frequency cosine pairs: identical output contract to
    * [[tokenCosinePairs]] — every pair with true cosine ≥ `threshold`,
    * same engine-exact score — but candidate generation runs over each
    * document's INDEXED TAIL only instead of the full inverted index.
    *
    * The bound (Bayardo's matching condition + L2AP's norm bound,
    * re-derived per document): L2-normalize each tf vector (ŵ = tf/‖x‖₂,
    * so cos = Σ ŵ_a·ŵ_b) and let maxw_d = max over the corpus of ŵ_d.
    * Walk a document's dims hottest-first (document frequency descending
    * — the order is a heuristic for WHICH dims escape the index, not a
    * correctness requirement) and keep dims in the unindexed head H while
    * EITHER bound proves dot_H < t against any partner:
    *  - maxweight (AllPairs, Bayardo WWW'07): Σ_{d∈H} ŵ_d·maxw_d < t;
    *  - suffix-L2 (L2AP, Anastasiu & Karypis ICDE'14): Σ_{d∈H} ŵ_d² < t²,
    *    since dot_H ≤ ‖ŵ_H‖·‖partner‖ = ‖ŵ_H‖ by Cauchy–Schwarz.
    * Both running sums are monotone, so the OR region is a prefix and
    * whichever bound still holds at its end covers all of H. Any
    * qualifying pair must therefore share a dim in the indexed tail of
    * BOTH sides; joining ALL of a's dims against b's tail (the
    * asymmetric probe×index join, lossless without any symmetric-prefix
    * lemma) finds every qualifying pair.
    *
    * Verification attaches each candidate's (sorted token array, tf map)
    * pair — built once per document, the [[ngramPrefixPairs]] array-verify
    * shape — and folds the EXACT BIGINT dot over array_intersect, then
    * applies the SAME cast/sqrt/divide sequence as the baseline, so the
    * two variants are cell-identical and share one oracle. (Re-joining
    * the inverted index per candidate would re-explode exactly the pair
    * mass the filter just removed.)
    *
    * Why it scales where the baseline doesn't: hot grams (the d²/2 pair
    * mass) accumulate both head bounds fastest, so precisely the dims
    * that explode the self-join are the ones excluded from the index
    * side — the multiplicity-aware analog of [[ngramPrefixPairs]]'s
    * prefix cut. The 1e-9 slack on both head tests errs toward indexing
    * MORE (the lossless direction), absorbing the ~1e-13 worst-case
    * float error of the running sums; dims in only one document
    * (dfreq = 1) can never be shared and drop from both join sides.
    */
  def tokenCosinePrefixPairs(df: DataFrame, textCol: String, idCol: String,
                             n: Int = 1, threshold: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = termFreqs(df, textCol, idCol, n)
    // per-doc verify payload built FIRST (r15): its aggregation already
    // computes sum(tf²), so it doubles as the norms table — the separate
    // norms aggregate over tf (one more full pass + exchange) is gone, and
    // the payload had to materialize for verification anyway.
    val docVecs = tf.groupBy("id")
      .agg(sort_array(collect_list(struct(col("token"), col("tf")))).as("vec"),
        sum(col("tf") * col("tf")).as("nrm2"))
      .select(col("id"), col("vec.token").as("toks"), col("vec.tf").as("tfs"),
        col("nrm2"))
      .localCheckpoint(false)
    val norms = docVecs.select("id", "nrm2")
    // corpus-wide attach: no broadcast hint — AQE broadcasts while norms
    // fits, falls back to a shuffle join at doc counts where it doesn't
    val wtf = tf
      .join(norms, Seq("id"))
      .withColumn("w", col("tf").cast("double") / sqrt(col("nrm2").cast("double")))
    // per-dim corpus stats: max normalized weight (the bound's ceiling)
    // and document frequency (the walk order) — vocabulary-sized
    val dimStats = wtf.groupBy("token")
      .agg(max(col("w")).as("maxw"), count(lit(1)).as("dfreq"))
    // inclusive running sums, hottest dims first; a dim stays in the
    // unindexed head while EITHER bound still proves the head harmless
    val wOrder = Window.partitionBy("id")
      .orderBy(col("dfreq").desc, col("token"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val entries = wtf.join(dimStats, Seq("token"))
      .filter(col("dfreq") > 1) // unshareable dims join nothing
      .withColumn("run_mw", sum(col("w") * col("maxw")).over(wOrder))
      .withColumn("run_l2", sum(col("w") * col("w")).over(wOrder))
      .select("id", "token", "run_mw", "run_l2")
      .localCheckpoint(false)
    val index = entries.filter(
      col("run_mw") >= lit(threshold) - lit(1e-9) &&
        col("run_l2") >= lit(threshold) * lit(threshold) - lit(1e-9))
    val candidates = entries
      .select(col("id").as("id_a"), col("token"))
      .join(index.select(col("id").as("id_b"), col("token")), Seq("token"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // verify payload notes: candidates run the codegen'd sort-merge BIGINT
    // dot over docVecs' token-sorted parallel arrays
    // ([[graft.expressions.SortedDot]]; the HOF intersect+map-scan form
    // measured ~7 s for 460k candidates where this is O(n+m) in codegen).
    // The verify norm rides the SAME aggregation (sum(tf²) is one more
    // partial-aggregable column), and the frame checkpoints: the r14
    // before-plan showed the collect_list ObjectHashAggregate (a full
    // shuffle of the tf table) running TWICE — once per candidate join
    // side — plus two more separately-aggregated norm broadcasts; one
    // aggregate + two checkpoint scans replaces all four (and since r15
    // the same aggregation also serves as the norms table above).
    import org.apache.spark.sql.GraftSqlBridge
    val dot = GraftSqlBridge.column(graft.expressions.SortedDot(
      GraftSqlBridge.expression(col("toks_a")),
      GraftSqlBridge.expression(col("tfs_a")),
      GraftSqlBridge.expression(col("toks_b")),
      GraftSqlBridge.expression(col("tfs_b"))))
    candidates
      .join(docVecs.select(col("id").as("id_a"), col("toks").as("toks_a"),
        col("tfs").as("tfs_a"), col("nrm2").as("n2_a")), Seq("id_a"))
      .join(docVecs.select(col("id").as("id_b"), col("toks").as("toks_b"),
        col("tfs").as("tfs_b"), col("nrm2").as("n2_b")), Seq("id_b"))
      .withColumn("num", dot)
      // op-for-op the baseline's score: cast, sqrt, *, / — all IEEE
      // correctly rounded, so the value is engine-exact (see
      // tokenCosinePairs for the overflow rationale behind two sqrts)
      .withColumn("cosine",
        col("num").cast("double") /
          (sqrt(col("n2_a").cast("double")) * sqrt(col("n2_b").cast("double"))))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  def simhash(text: Column): Column = {
    val hashes = transform(array_distinct(TextOps.tokens(text)), t => xxhash64(t))
    val nTok = size(hashes)
    (0 until 64).map { b =>
      val ones = size(filter(hashes, h => shiftright(h, b).bitwiseAND(lit(1L)) === 1L))
      shiftleft(when(ones * 2 > nTok, lit(1L)).otherwise(lit(0L)), b)
    }.reduce(_ bitwiseOR _)
  }

  /** Collapse a corpus to near-dup survivors: greedy keep-lowest-id policy —
    * any document named as the HIGHER id of a qualifying pair is dropped.
    * (Greedy-by-id, not transitive clustering: the standard corpus-dedup
    * policy, deterministic and one anti-join.)
    */
  def collapseNearDups(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Transitive near-dup clustering: connected components over the pair
    * graph, labeling every document with the MIN doc id reachable from it
    * (singletons label themselves). The complement of [[collapseNearDups]]'s
    * greedy policy — use this when A~B, B~C must put A and C in one group.
    *
    * Min-label propagation: each round every PAIRED vertex adopts the
    * smallest label among itself and its neighbors — a join + hash-agg per
    * round (distributed; labels shuffle on vertex id, never the whole graph
    * to the driver), converging in O(component diameter) rounds. Only
    * vertices that appear in some pair iterate — on a deduplicated corpus
    * that is a small fraction of the table, so the loop's working set is
    * tiny even when `vertices` is 100 TB; singletons join back self-labeled
    * in one final left join. Near-dup components are short chains
    * (diameter ≪ 10 in practice), so the round count is small and bounded
    * by `maxIters`. Round tables are localCheckpoint'd — lineage stays
    * flat, and the superseded rounds' blocks (small: paired vertices only)
    * are reclaimed by the ContextCleaner once unreferenced (there is no
    * public API to drop a localCheckpoint eagerly). The fixpoint test is
    * one count per round (the same action that runs the round's job).
    *
    * Round economy (r14): the FIRST round is fused into label
    * initialization — comp₁ = min(id, min neighbor) falls straight out of
    * one groupBy over the checkpointed edge list, where the old separate
    * init round materialized comp₀ = id and then paid a whole propagation
    * job to compute the same thing. (A fused TWO-hop round was also tried
    * and measured SLOWER at sf0.1 — the un-checkpointed inner hop is
    * referenced three times by the outer hop's plan, tripling per-round
    * stage work for half the rounds; per-round stages, not job count, are
    * the cost.)
    */
  def nearDupComponents(vertices: DataFrame, idCol: String,
                        pairs: DataFrame, maxIters: Int = 50,
                        failOnNonConvergence: Boolean = true): DataFrame = {
    // The candidate-pair pipeline materializes FIRST, on its own: every
    // later frame (both union directions, the endpoint set, the edge
    // restrictions) reads the checkpoint blocks instead of re-running the
    // pair stage — the old union-of-two-projections shape computed the
    // whole pair pipeline TWICE inside the edges job (no exchange between
    // the union branches, so nothing was reusable). localCheckpoint also
    // keeps every round's plan from dragging the pair pipeline's lineage
    // back through the optimizer (see loop note).
    val p0 = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .localCheckpoint(true)
    val rawEdges = p0
      .union(p0.select(col("dst").as("src"), col("src").as("dst")))
    // Edges restrict to the caller's vertex set on BOTH endpoints up
    // front — a stray pair id (in `pairs`, absent from `vertices`) must
    // be inert, exactly as it was when strays simply never acquired a
    // label row. `endpoints` pays the one semi-join against the (possibly
    // 100 TB) vertex table; the edge-side restrictions then join against
    // that small endpoint set, so the vertex table is still scanned once.
    val endpoints = rawEdges.select(col("src").as("id")).distinct()
      .join(vertices.select(col(idCol).as("id")), Seq("id"), "left_semi")
    val edges = rawEdges
      .join(endpoints.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(endpoints.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .distinct()
      .localCheckpoint(true)
    // round 1 fused into initialization: every paired vertex starts at
    // comp₁ = min(own id, min neighbor id) — one groupBy over the (already
    // vertex-restricted) edge list instead of a comp₀ = id table plus a
    // whole propagation job.
    // The init row count rides the checkpoint job as an observed metric
    // (same mechanism as the loop's convergence test): an EMPTY edge set
    // is trivially converged — without this, maxIters=1 threw even though
    // the single fused round had already finished the (empty) propagation
    // (ADVICE r14).
    val initObs = org.apache.spark.sql.Observation()
    var labels = edges.groupBy(col("src").as("id")).agg(min(col("dst")).as("nmin"))
      .select(col("id"), least(col("id"), col("nmin")).as("comp"))
      .observe(initObs, count(lit(1)).as("n"))
      .localCheckpoint(true)
    // one propagation hop: min over (own label, neighbors' labels, own
    // label's label). The pointer-jump (follow own label's label — comp
    // values are themselves paired-vertex ids, so the self-join always
    // resolves) compresses paths so rounds grow with log(diameter), not
    // diameter.
    def hop(ls: DataFrame): DataFrame = {
      val neighborMin = edges
        .join(ls.select(col("id").as("dst"), col("comp").as("ncomp")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("ncomp")).as("nmin"))
      val jump = ls.select(col("id").as("hop_id"), col("comp").as("hop_comp"))
      ls.join(neighborMin, Seq("id"), "left")
        .join(jump, col("comp") === col("hop_id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nmin"), col("comp")),
            coalesce(col("hop_comp"), col("comp"))).as("comp"),
          col("comp").as("prev"))
    }
    var iter = 1 // the fused init was round 1
    var converged = initObs.get("n").asInstanceOf[Long] == 0L
    while (!converged && iter < maxIters) {
      // ONE hop per checkpointed round. (A fused two-hop round was
      // measured SLOWER at sf0.1 — the un-checkpointed inner hop is
      // referenced three times by the outer hop's plan, so each round
      // tripled its stage count for half the rounds: 3.4 s → 6.1 s on
      // dd_cluster_cc. The job count is not the bottleneck; per-round
      // stage work is.)
      // localCheckpoint (not persist): truncates lineage so Catalyst plans
      // each round against a flat scan — with plain persist the logical
      // plan still accumulates every prior round and re-optimization grows
      // superlinearly with rounds (measured 20 s cold / 3.6 s warm at
      // sf0.1, dominated by planning, before this)
      // the convergence test rides the checkpoint job as an observed
      // metric (verified: eager localCheckpoint runs through withAction,
      // so SQL-execution metrics fire) — one job per round, not a
      // checkpoint job plus a separate count job; count(when(...)) not
      // sum(when(...)) so an empty round observes 0, never null.
      val obs = org.apache.spark.sql.Observation()
      val next = hop(labels)
        .observe(obs,
          count(when(col("comp") =!= col("prev"), lit(1))).as("changed"))
        .localCheckpoint(true)
      val changed = obs.get("changed").asInstanceOf[Long]
      // note: no unpersist — Dataset.unpersist is a no-op on localCheckpoint
      // blocks; the ContextCleaner reclaims superseded rounds on GC
      labels = next.select("id", "comp")
      converged = changed == 0
      iter += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(s"[cc] round $iter changed=$changed")
    }
    // a truncated result is silently WRONG (labels only partially
    // propagated) — a 100 TB caller must not have to scrape driver logs to
    // learn its component ids are garbage, so the default is to FAIL; pass
    // failOnNonConvergence=false to accept partial labels (exploration,
    // best-effort jobs), which downgrades to a stderr warning
    if (!converged) {
      val msg = s"nearDupComponents did NOT converge after $maxIters rounds — " +
        s"component labels are only partially propagated; raise maxIters " +
        s"(diameter of the pair graph exceeds the round budget)"
      if (failOnNonConvergence) throw new IllegalStateException(msg)
      System.err.println(s"[graft] WARNING $msg")
    }
    // singletons (no qualifying pair) label themselves
    vertices.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("comp"), col("id")).as("component_id"))
  }

  /** Collapse each near-dup component to its BEST member by `score`
    * (ties → lowest id) — the curation-aware collapse: min-id keeps an
    * arbitrary copy, this keeps the one worth training on. Returns one row
    * per component: (component_id, keep_id, keep_quality, n_members).
    * Scale shape: [[nearDupComponents]] carries the cost; scoring is a
    * narrow map over `docs` and the argmax is one window per component.
    */
  def collapseBest(docs: DataFrame, idCol: String, pairs: DataFrame,
                   score: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = nearDupComponents(docs, idCol, pairs)
      .join(docs.select(col(idCol), score.as("q")), Seq(idCol))
    val w = Window.partitionBy("component_id")
      .orderBy(col("q").desc, col(idCol).asc)
    scored.withColumn("rn", row_number().over(w))
      .groupBy("component_id")
      .agg(max(when(col("rn") === 1, col(idCol))).as("keep_id"),
        max(when(col("rn") === 1, col("q"))).as("keep_quality"),
        count(lit(1)).as("n_members"))
  }

  /** SimHash per document via explode + 64 codegen'd conditional aggregates
    * — the column-expression variant in [[simhash]] is correct but its
    * higher-order `filter` lambdas are interpreted (measured ~4× slower);
    * this shape keeps the whole computation in whole-stage codegen.
    */
  def simhashTable(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(array_distinct(TextOps.tokens(col(textCol)))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitAggs = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"b$b")
    }
    toks.groupBy("id")
      .agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("id"),
        (0 until 64).map { b =>
          shiftleft(when(col(s"b$b") > 0, lit(1L)).otherwise(lit(0L)), b)
        }.reduce(_ bitwiseOR _).as("sim"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming (≤3 default):
    * candidates via the pigeonhole 16-bit-chunk join (a pair within Hamming
    * 3 of 64 bits must agree on ≥1 of 4 chunks), verified with bit_count(xor).
    *
    * `maxChunkFreq` is the hot-bucket cap (the [[ngramJaccardPairs]]
    * `maxDocFreq` analog): a boilerplate-heavy corpus where thousands of
    * documents share one 16-bit chunk value makes that bucket's join
    * quadratic — AQE can split the skewed KEY across tasks, but the pair
    * count itself is unbounded. With the cap set, (chunk, value) buckets
    * containing more than `maxChunkFreq` documents are dropped from
    * candidate generation and the dropped-bucket count is logged (an extra
    * counting job — no silent caps). Semantics under the cap are
    * approximate: a pair colliding ONLY in dropped buckets is missed, so
    * the guarantee degrades from "all pairs within Hamming ≤ h" to "all
    * pairs agreeing on ≥1 surviving chunk". Default = no cap (exact).
    * The cap path is eager — see [[bucketed]].
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3,
                   maxChunkFreq: Long = Long.MaxValue): DataFrame = {
    // r15: the materialization point moves from the SimHash table to the
    // CHUNKED table ([[bucketed]]: repartitioned + sorted on the chunk
    // key), and the
    // tokenize + 64-bit vote aggregate still runs exactly once per
    // execution (it feeds only this frame, so its separate checkpoint
    // was a redundant barrier).
    val withSim = simhashTable(df, textCol, idCol)
    val chunked0 = withSim.select(col("id"), col("sim"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("sim"), c * 16).bitwiseAND(lit(0xFFFFL)).as("cv"))
      }: _*)).as("cc"))
      .select(col("id"), col("sim"), col("cc.chunk"), col("cc.cv"))
    val chunked = bucketed(chunked0, Seq("chunk", "cv"), maxChunkFreq, "simhashPairs")
    selfPairs(chunked, Seq("chunk", "cv"), "sim" -> "sim")
      .select("id_a", "id_b", "sim_a", "sim_b").distinct()
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Cross-document gram starts participating in a duplicated span: for
    * every token position `p` of every document, the `minSpan`-token
    * gram starting at `p` is fingerprinted (stride 1 — OVERLAPPING, unlike
    * [[chunkDupGroups]]'s tumbling windows), and a start is emitted iff
    * its fingerprint occurs in >= `minDocs` distinct documents. A span of
    * length L >= minSpan duplicated across documents is exactly a run of
    * L - minSpan + 1 consecutive emitted starts, which is what lets
    * [[stripDupSpans]] recover MAXIMAL duplicated spans at arbitrary
    * offsets — the case block-aligned chunk fingerprints structurally
    * miss (a shared paragraph inserted at offset 3 in one doc and offset
    * 7 in another never aligns on a 32-token stride).
    *
    * `maxDocFreq` caps pathologically hot grams the same way
    * [[chunkDupGroups]] caps chunks: a gram in more than `maxDocFreq`
    * docs is treated as background (dropped from the dup index), bounding
    * the join-back fan-out on boilerplate that saturates the corpus.
    *
    * Scale shape: fingerprints are built IN-ROW (`transform` over a
    * position `sequence`, md5 over each 16-token slice) and only then
    * posexploded, so the token array is never duplicated per position;
    * one hash-agg on the fingerprint for the dup index, one equi-join
    * back. No pair join anywhere — cost is linear in corpus tokens
    * (O(n * minSpan) hashed characters; a Rabin-Karp prefix-hash array
    * would drop that to O(n) and slots into the same `transform` if the
    * hashing ever dominates).
    */
  def dupSpanStarts(df: DataFrame, textCol: String, idCol: String,
                    minSpan: Int, minDocs: Int = 2,
                    maxDocFreq: Long = Long.MaxValue): DataFrame = {
    require(minSpan >= 2, s"minSpan=$minSpan: a 1-token span is vocabulary, not a span")
    require(minDocs >= 2, s"minDocs=$minDocs: below 2 every gram is its own dup")
    val toked = df.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
    val grams = toked.select(col("doc_id"),
      posexplode(
        when(size(col("toks")) >= minSpan,
          transform(sequence(lit(0), size(col("toks")) - minSpan),
            i => md5(array_join(slice(col("toks"), i + lit(1), lit(minSpan)), " "))))
          .otherwise(array().cast("array<string>"))
      ).as(Seq("p", "fp")))
    val dups = grams.groupBy("fp")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs && col("nd") <= maxDocFreq)
      .select("fp")
    grams.join(dups, Seq("fp")).select("doc_id", "p")
  }

  /** Exact duplicated-SPAN removal (the ExactSubstr dedup of Lee et al.,
    * ACL'22 "Deduplicating Training Data Makes Language Models Better",
    * re-expressed relationally): strip every maximal token span that
    * appears verbatim in >= `minDocs` distinct documents, wherever it
    * starts. Lee et al. find such spans with a corpus suffix array — a
    * global sorted structure Spark has no business building; the
    * equivalent relational decomposition is [[dupSpanStarts]]'s
    * observation that a duplicated span of length >= minSpan is a run of
    * consecutive duplicated gram starts, so coverage = the union of
    * `[p, p + minSpan)` over emitted starts, and maximal spans fall out
    * of a gaps-and-islands pass over the covered positions.
    *
    * Output: one row per input document — `(doc_id, clean_text, n_kept,
    * n_removed, n_spans)` with `clean_text` the surviving tokens joined
    * by single spaces in position order (whitespace-normalized exactly as
    * [[graft.ops.TextOps.tokens]] sees the text), `n_removed` the covered
    * token count and `n_spans` the number of maximal removed regions.
    * Documents consumed entirely by duplicated spans survive as
    * `clean_text = ''` / `n_kept = 0` — row counts stay stable, the
    * [[stripDupChunks]] contract.
    *
    * Complements, not replaces, the rest of the family: [[exactGroups]]
    * drops whole-document copies, [[stripDupChunks]] drops block-ALIGNED
    * cross-doc boilerplate, [[stripIntraDocRepeats]] handles WITHIN-doc
    * repetition — this is the only member that removes cross-document
    * duplicated text at unaligned offsets and merges it to maximal
    * extent.
    *
    * Scale shape: [[dupSpanStarts]]'s linear index (no pair join), one
    * explode of `minSpan` covered positions per EMITTED start (bounded by
    * minSpan x duplicated mass, not corpus size; `maxDocFreq` caps the
    * hot-gram contribution), a distinct, one doc-keyed window for the
    * island count, one anti-join on `(doc_id, pos)`, one doc-keyed
    * reassembly agg. Everything after the dup index partitions on the
    * document key.
    */
  def stripDupSpans(df: DataFrame, textCol: String, idCol: String,
                    minSpan: Int = 16, minDocs: Int = 2,
                    maxDocFreq: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val starts = dupSpanStarts(df, textCol, idCol, minSpan, minDocs, maxDocFreq)
    val covered = starts
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + lit(minSpan - 1))).as("pos"))
      .distinct()
    val islands = covered
      .withColumn("island",
        col("pos") - row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_removed"),
        countDistinct(col("island")).as("n_spans"))
    val toks = df
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
    val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          e => e.getField("tok")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("doc_id"))
      .join(kept, Seq("doc_id"), "left")
      .join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
  }
}
