package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface. The reference has NO streaming operators
  * (SURVEY §2.10 — its near-real-time behavior is schedule-driven
  * re-ingestion + latest-wins batch dedup), so this module is the
  * parity-plus mapping of those batch idioms onto streams:
  *
  *  - ingest idempotency (COPY FORCE=FALSE / S5) → watermarked
  *    `dropDuplicates` on the natural key;
  *  - windowed activity metrics → tumbling event-time windows;
  *  - per-entity running state (the snapshot-upsert pattern, W1) →
  *    `mapGroupsWithState` keeping the latest snapshot per key.
  *
  * Every transform takes/returns DataFrames so the same code runs in batch
  * (processAllAvailable in tests) and continuous mode on a cluster.
  */
object Streaming {

  /** Exactly-once-per-key ingest dedup: first event wins within the
    * watermark horizon (late duplicates beyond it are dropped by design).
    */
  def dedupIngest(events: DataFrame, idCol: String, tsCol: String,
                  watermark: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark).dropDuplicates(Seq(idCol))

  /** Tumbling event-time aggregation with watermark: counts + exact-cents
    * value sums per (window, event_type).
    */
  def windowedActivity(events: DataFrame, tsCol: String,
                       windowLen: String = "1 hour",
                       watermark: String = "2 hours"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100, 0).cast("long")) / 100.0).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  case class UserSession(user_id: Long, n_events: Long, last_type: String, last_ts: Long)

  /** Stateful per-key running snapshot (`mapGroupsWithState`): the
    * latest-wins upsert the reference emulates with batch W1, kept as live
    * state keyed by user. Runs identically in batch and streaming.
    */
  def runningUserState(spark: SparkSession, events: DataFrame): Dataset[UserSession] = {
    import spark.implicits._
    events.select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserSession, UserSession](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[UserSession]) =>
          val prev = state.getOption.getOrElse(UserSession(uid, 0L, "", Long.MinValue))
          val next = rows.foldLeft(prev) { (acc, r) =>
            val (_, typ, ts) = r
            val latest = if (ts >= acc.last_ts) (typ, ts) else (acc.last_type, acc.last_ts)
            UserSession(uid, acc.n_events + 1, latest._1, latest._2)
          }
          state.update(next)
          next
      }
  }

  /** Watermarked stream-stream inner join: purchases joined to the same
    * user's signups within `window` before the purchase. Both sides carry
    * watermarks and the join condition bounds event-time distance, so state
    * for either side is evicted once the watermark passes — the only shape
    * in which unbounded streams can join with bounded state.
    */
  def purchasesWithRecentSignup(events: DataFrame, window: String = "1 hour",
                                watermark: String = "2 hours"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    val signups = events.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"),
        col("ts").as("signup_ts"))
      .withWatermark("signup_ts", watermark)
    purchases.join(signups,
      purchases("user_id") === signups("user_id") &&
        col("signup_ts") <= col("purchase_ts") &&
        col("signup_ts") >= col("purchase_ts") - expr(s"INTERVAL $window"))
      .select(col("purchase_id"), purchases("user_id"), col("purchase_ts"),
        col("signup_id"), col("signup_ts"))
  }

  case class SessionEvent(user_id: Long, ts_us: Long, event_type: String)
  case class Session(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Gap-based sessionization via `flatMapGroupsWithState`: events more
    * than `gapUs` apart open a new session; each closed session is emitted,
    * the open one stays in state. The reference has no session concept —
    * this is the standard stateful-stream operator a training-data event
    * pipeline needs (batch mode emits every session, open ones included,
    * at end of input).
    */
  def sessionize(spark: SparkSession, events: DataFrame,
                 gapUs: Long): Dataset[Session] = {
    import spark.implicits._
    events.select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Session, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[Session]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_type))
          val closed = Seq.newBuilder[Session]
          var cur = state.getOption
          sorted.foreach { e =>
            cur match {
              case Some(s) if e.ts_us - s.end_us <= gapUs =>
                cur = Some(s.copy(end_us = e.ts_us, n_events = s.n_events + 1))
              case Some(s) =>
                closed += s
                cur = Some(Session(uid, e.ts_us, e.ts_us, 1))
              case None =>
                cur = Some(Session(uid, e.ts_us, e.ts_us, 1))
            }
          }
          cur.foreach(state.update)
          // batch mode: one pass, emit open session too so output is total
          (closed.result() ++ cur).iterator
      }
  }

  /** Streaming corpus ingest — the LLM-pipeline ingestion path as one
    * streaming composition: quality-gate (below-threshold docs never enter
    * state), PII-mask, and structural-fingerprint dedup (first doc with a
    * fingerprint wins within the watermark horizon). The same column
    * expressions as the batch operators ([[graft.ops.TextOps]]), so batch
    * and stream ingestion agree document-for-document.
    *
    * `dropDuplicatesWithinWatermark`, NOT `dropDuplicates(fingerprint)`:
    * with a non-event-time key alone, streaming dedup state is never
    * evicted (one entry per distinct fingerprint forever — state-store
    * blowup on an unbounded crawl); the within-watermark variant keys
    * state eviction off the watermark while deduplicating on the
    * fingerprint only.
    */
  def corpusIngest(docs: DataFrame, tsCol: String, minQuality: Double = 0.2,
                   watermark: String = "1 hour"): DataFrame =
    docs.filter(graft.ops.TextOps.qualityScore(col("text")) >= minQuality)
      .withColumn("fingerprint", graft.ops.TextOps.fingerprint(col("text")))
      .withColumn("masked_text", graft.ops.TextOps.maskPii(col("text")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Stream-static anti-join: keep only incoming docs whose structural
    * fingerprint does NOT already exist in a static corpus index — the
    * streaming face of incremental dedup / decontamination
    * ([[graft.ops.Dedup.incrementalNearDupPairs]]'s exact-dup tier). The
    * index is a batch table (e.g. parquet refreshed nightly): stream-static
    * joins keep NO streaming state for the static side, so this is safe on
    * an unbounded crawl regardless of corpus size — at 100 TB the static
    * side is a broadcast (small digest index) or shuffled-hash lookup the
    * planner picks per its stats, never a state store. Same fingerprint
    * expression as the batch operators, so batch replays agree row-for-row.
    */
  def novelAgainstCorpus(docs: DataFrame, corpusIndex: DataFrame): DataFrame =
    docs.withColumn("fingerprint", graft.ops.TextOps.fingerprint(col("text")))
      .join(corpusIndex.select("fingerprint"), Seq("fingerprint"), "left_anti")

  /** Static-side index for [[nearDupNovelAgainstCorpus]]: per corpus doc its
    * shingle set, set size, and MinHash band hashes (one array, not exploded
    * — see that method for why). Built in batch (e.g. refreshed nightly).
    */
  def corpusBandIndex(corpus: DataFrame, textCol: String, idCol: String,
                      n: Int = 3, k: Int = 32, bands: Int = 8): DataFrame =
    corpus.select(col(idCol).as("corpus_id"),
        graft.ops.TextOps.shingles(col(textCol), n).as("c_sh"))
      .withColumn("c_bands",
        bandHashes(graft.ops.Dedup.minhashSignature(col("c_sh"), k), k, bands))
      .select(col("corpus_id"), col("c_sh"), size(col("c_sh")).as("c_size"), col("c_bands"))

  /** One xxhash64 per MinHash band (over the band's slots + the band index),
    * as an array column. Deterministic: same seeds as the batch operators.
    */
  private def bandHashes(sig: org.apache.spark.sql.Column, k: Int, bands: Int) = {
    val r = k / bands
    array((0 until bands).map { b =>
      xxhash64((lit(b) +: (0 until r).map(i => element_at(sig, b * r + i + 1))): _*)
    }: _*)
  }

  /** Streaming NEAR-dup decontamination: keep only incoming docs with no
    * corpus near-duplicate — MinHash-band candidate generation + exact
    * Jaccard verification folded into ONE stream-static left-anti join, so
    * the whole operator is STATELESS (no watermark, no state store; every
    * candidate check lives and dies inside its micro-batch).
    *
    * Why band hashes ride in one array per row instead of the batch
    * operators' exploded band join: any post-join `distinct`/`groupBy` on a
    * stream is unbounded state, and an anti-join on EXPLODED bands is wrong
    * (a doc whose near-dup collides in band 3 but not band 5 would survive
    * through its band-5 row). With `arrays_overlap` as the join condition
    * each stream doc is exactly one row, matched at most once, zero state.
    * The static side must broadcast (the condition is non-equi → nested
    * loop): right-sized for benchmark/probe-set decontamination, the same
    * asymmetry as batch [[graft.ops.Dedup.containmentPairs]]; corpus-scale
    * indexes belong on the batch incremental path instead.
    *
    * Jaccard >= t on (|A∩B|, |A|, |B|) is evaluated as
    * i*(1+t) >= t*(|A|+|B|) — one array_intersect per candidate, no division.
    */
  def nearDupNovelAgainstCorpus(docs: DataFrame, corpusIndex: DataFrame,
                                n: Int = 3, k: Int = 32, bands: Int = 8,
                                threshold: Double = 0.8): DataFrame = {
    val withSig = docs
      .withColumn("sh", graft.ops.TextOps.shingles(col("text"), n))
      .withColumn("s_bands",
        bandHashes(graft.ops.Dedup.minhashSignature(col("sh"), k), k, bands))
    val isect = size(array_intersect(col("sh"), col("c_sh")))
    val cond = arrays_overlap(col("s_bands"), col("c_bands")) &&
      isect * lit(1d + threshold) >= lit(threshold) * (size(col("sh")) + col("c_size"))
    withSig.join(broadcast(corpusIndex), cond, "left_anti")
      .drop("sh", "s_bands")
  }

  /** Static-side index for [[stripKnownChunks]]: the md5 fingerprint of
    * every `chunkSize`-token tumbling chunk that appears in at least
    * `minDocs` DISTINCT corpus documents — i.e. exactly the chunk
    * population batch [[graft.ops.Dedup.stripDupChunks]] removes. Built in
    * batch (e.g. refreshed nightly), one explode + one hash agg.
    */
  def boilerplateChunkIndex(corpus: DataFrame, textCol: String, idCol: String,
                            chunkSize: Int, minDocs: Int = 2): DataFrame =
    corpus
      .select(col(idCol).as("doc_id"),
        graft.ops.TextOps.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        explode(graft.ops.TextOps.chunkTokens(col("toks"), chunkSize, 0)).as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("chunk_fp"))
      .groupBy("chunk_fp")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("chunk_fp")

  /** Streaming chunk-level boilerplate strip — the streaming twin of batch
    * [[graft.ops.Dedup.stripDupChunks]], closing the last batch/streaming
    * asymmetry in the dedup family: drop every chunk of an incoming doc
    * whose fingerprint is in the static boilerplate index, stitch the
    * survivors back in position order.
    *
    * Statelessness is the whole design: the batch shape (posexplode →
    * anti-join → groupBy reassembly) is illegal on a stream (a post-explode
    * groupBy is unbounded state, and append mode refuses it without a
    * watermark), so chunking, membership test, and reassembly all happen
    * INSIDE the row — `chunkTokens` keeps chunks as an array,
    * `filter(...array_contains...)` drops indexed ones, `array_join`
    * reassembles; the index collapses to ONE sorted-array row that
    * broadcast-cross-joins into the stream. No state store, no watermark,
    * every doc lives and dies in its micro-batch, and batch replays of the
    * same frame produce identical rows.
    *
    * The index must fit in a broadcast row (same asymmetry as
    * [[nearDupNovelAgainstCorpus]]'s band index — right-sized for a
    * boilerplate digest, which is dup-mass-sized, not corpus-sized; a
    * corpus-scale strip belongs on the batch path). Membership is a linear
    * array_contains per chunk: fine at digest size; swap in a bloom
    * prefilter ([[graft.ops.RuntimeFilter]]) before the exact check if the
    * digest grows.
    */
  def stripKnownChunks(docs: DataFrame, chunkIndex: DataFrame,
                       chunkSize: Int, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val fps = chunkIndex.agg(sort_array(collect_set(col("chunk_fp"))).as("__fps"))
    docs
      .crossJoin(broadcast(fps))
      .withColumn("__chunks", graft.ops.TextOps.chunkTokens(
        graft.ops.TextOps.tokens(col(textCol)), chunkSize, 0))
      .withColumn("__kept",
        filter(col("__chunks"), c => !array_contains(col("__fps"), md5(c))))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("clean_text"),
        size(col("__kept")).cast("long").as("n_kept"))
  }

  /** Stream-static CDC: classify each ARRIVING row against a static base
    * snapshot as `added` / `changed` by the same md5 row fingerprint the
    * batch diff uses ([[graft.ops.Merge.rowFingerprint]]), dropping
    * unchanged arrivals — the change-data filter an incremental ingest
    * runs before writing, so re-delivered identical rows cost nothing
    * downstream. STATELESS: the fingerprint compare rides one
    * stream-static left join on the key (no state store, no watermark;
    * the base index is a batch-built (key, base_fp) table, refreshed on
    * the batch side's schedule).
    *
    * Removals are structurally INVISIBLE to a stream — a deleted row is
    * one that never arrives, and only the batch [[graft.ops.Merge
    * .snapshotDiff]] (which sees both full snapshots) can emit `removed`.
    * This operator is the streaming face of the other two verdicts, with
    * batch-identical classification (StreamingSpec pins row-for-row
    * parity against snapshotDiff restricted to added/changed).
    */
  def cdcAgainstBase(rows: DataFrame, base: DataFrame, keyCols: Seq[String],
                     trackCols: Seq[String]): DataFrame = {
    import graft.ops.Merge
    val baseIdx = base.select(
      keyCols.map(col) :+ Merge.rowFingerprint(trackCols).as("base_fp"): _*)
    rows.withColumn("__fp", Merge.rowFingerprint(trackCols))
      .join(baseIdx, keyCols, "left_outer")
      .withColumn("status",
        when(col("base_fp").isNull, lit("added"))
          .when(col("base_fp") =!= col("__fp"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(keyCols.map(col) :+ col("status"): _*)
  }

  /** Streaming ANN retrieval against a prebuilt static IVF index (the
    * [[graft.ops.Similarity.ivfBuildIndex]] pair) — the query-side twin of
    * batch `ivfQueryIndex`, for the retrieval-service shape: embeddings
    * arrive on a stream, the index is a static (centroids, inverted-lists)
    * pair built by a scheduled batch job.
    *
    * Stage shapes, chosen for streaming legality:
    *  - probe selection is STATELESS: the centroid table collapses to one
    *    static broadcast row ([[graft.ops.Similarity.centroidRow]]; nlist
    *    is small by design), each query scores it with the codegen'd
    *    nearest-centroid kernel — the batch path's probe list, ascending
    *    (−cosine, cid) — and explodes its `nprobe` best cids; no
    *    per-query aggregation state;
    *  - candidate scoring is a stream-static equi-join on `cid`
    *    (stateless; the static side is the inverted-list table);
    *  - top-k is the ONE stateful stage: an update-mode groupBy(query_id)
    *    folding candidates through [[graft.functions.TopKAgg]], whose
    *    aggregation buffer IS the sorted k-slice (O(1) reject once full).
    *    State is k entries per in-flight query — bounded by the query key
    *    space, the same contract as `runningUserState`, and NOT one entry
    *    per candidate as a collect_list formulation would hold.
    *
    * Output (update mode): (query_id, neighbor_id, rank, cos) rows whose
    * final state per query equals the batch `ivfQueryIndex` result —
    * StreamingSpec pins set equality including ranks and scores (sort key
    * (-cos, neighbor_id) is the batch window's (cos DESC, id ASC)).
    */
  def annProbe(centroids: DataFrame, corpus: DataFrame, queries: DataFrame,
               k: Int, nprobe: Int = 6): DataFrame = {
    import graft.ops.Similarity.{centroidRow, dot, l2Norm, probeList}
    val probed = queries
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<float>").as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
      .crossJoin(centroidRow(centroids))
      .select(col("query_id"), col("qv"), col("qn"),
        explode(probeList(col("qv"), nprobe)).as("cid"))
    val corp = corpus.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
      col("vn").as("cn"), col("cid"))
    probed.join(corp, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .groupBy("query_id")
      .agg(graft.functions.TopK.topK(k)(-col("cos"), col("neighbor_id"))
        .as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col._2").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"), (-col("col._1")).as("cos"))
  }

  /** Streaming Count-Min counters: the depth×width counter table of
    * [[graft.functions.CmsSketch]] maintained incrementally over an
    * unbounded item stream. The aggregation state IS the sketch — bounded
    * at depth×width rows BY CONSTRUCTION, so unlike most streaming
    * aggregates it needs no watermark to stay finite on an unbounded
    * stream; that fixed-state property is exactly why sketches are the
    * streaming-native form of corpus statistics. Same md5 bucket hashes as
    * the batch build, so a batch replay of the same items produces
    * identical counters row-for-row (StreamingSpec pins the parity and
    * the incremental-update behavior across batches).
    */
  def cmsCounters(items: DataFrame, itemCol: String,
                  depth: Int = 4, width: Int = 1024): DataFrame =
    graft.functions.CmsSketch.build(items, itemCol, depth, width)

  /** Native session-window aggregation (`session_window` built-in) — the
    * declarative twin of [[sessionize]]: Catalyst manages merge-able
    * session state instead of a hand-rolled `flatMapGroupsWithState`,
    * which at scale buys watermark-driven eviction, state-store
    * compaction, and AQE-planned shuffles for free (the SURVEY
    * preference: built-in operator > custom state when semantics allow).
    * Sessions close after `gap` of per-user silence; counts and exact
    * cents sums per session. Identical expression runs in batch —
    * StreamingSpec pins batch ≡ stream.
    */
  def sessionWindowActivity(events: DataFrame, tsCol: String,
                            gap: String = "24 hours",
                            watermark: String = "48 hours"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100, 0).cast("long")) / 100.0).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Ingest dedup via `dropDuplicatesWithinWatermark` — the state-bounded
    * sibling of [[dedupIngest]]: plain `dropDuplicates` keys state by
    * `idCol` FOREVER unless the event-time column is part of the key,
    * while the within-watermark form evicts a key's state once the
    * watermark passes its first-seen event time — the only shape whose
    * state is bounded when ids never repeat legitimately but may
    * duplicate in transit (at-least-once sources), which is exactly the
    * ingest-retry case. Duplicates arriving inside the horizon are
    * dropped; one beyond it would re-emit (at-least-once contract,
    * deduplicated downstream by idempotent sinks).
    */
  def dedupIngestWithinWatermark(events: DataFrame, idCol: String,
                                 tsCol: String,
                                 watermark: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq(idCol))

  /** Wire a streaming DataFrame to an in-memory sink and drain it — the
    * local harness for the transforms above (format("memory") +
    * processAllAvailable), mirroring how a cluster job would use a real
    * sink.
    */
  def drainToMemory(df: DataFrame, name: String, mode: OutputMode): Unit = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
  }
}
