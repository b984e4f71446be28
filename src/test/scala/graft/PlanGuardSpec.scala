package graft

/** Physical-plan regression guard for the flagship plan properties
  * documented in PLANS.md: what makes these queries scale is the PLAN
  * (pushdown, pruning, broadcast, top-k without a global sort, partial
  * aggregation), so a regression there is a scale bug even while row
  * results stay correct. Each assertion drives the query's own
  * QueryExecution to the final adaptive plan (the ScaleBench idiom) and
  * checks the formatted explain.
  */
class PlanGuardSpec extends SparkTestBase {

  private def finalQe(name: String): org.apache.spark.sql.execution.QueryExecution = {
    val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
    val qe = df.queryExecution
    qe.toRdd.foreach(_ => ()) // AQE: executedPlan is final only after running
    qe
  }

  private def finalPlan(name: String): String =
    finalQe(name).explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("p9_date_window: date predicates reach the parquet scan, schema pruned to 2 columns") {
    val p = finalPlan("p9_date_window")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), "lower bound not pushed")
    assert(p.contains("LessThan(o_orderdate"), "upper bound not pushed")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_orderdate:timestamp_ntz>"),
      "scan must read only the 2 projected columns")
  }

  test("j1_broadcast_dim: dim enrichment broadcasts, the fact side never shuffles") {
    val p = finalPlan("j1_broadcast_dim")
    assert(p.contains("BroadcastHashJoin"), "dim join must broadcast")
  }

  test("tpch_q3: broadcast joins + TakeOrderedAndProject (no global sort for top-k)") {
    val p = finalPlan("tpch_q3")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not globally sort")
    assert(p.contains("BroadcastHashJoin"), "customer/orders joins must broadcast")
  }

  test("a1_sum_groupby: map-side partial aggregation before the exchange") {
    val p = finalPlan("a1_sum_groupby")
    assert(p.contains("partial_sum"), "partial aggregate missing — full rows would shuffle")
  }

  test("o4_topk: TakeOrderedAndProject directly over the scan") {
    val p = finalPlan("o4_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("dd_embedding_cosine: all-pairs scoring via broadcast nested loop, DotF in projection") {
    val p = finalPlan("dd_embedding_cosine")
    assert(p.contains("BroadcastNestedLoopJoin"), "all-pairs side must broadcast")
    assert(p.contains("dotf"), "cosine must evaluate through the codegen'd DotF kernel")
  }

  // walk the executed plan tree rather than string-matching the formatted
  // explain (whose layout shifts across Spark versions). A plain
  // plan.collect is NOT enough: AdaptiveSparkPlanExec and QueryStageExec
  // are leaf nodes whose real subtrees hang off finalPhysicalPlan/plan,
  // so the walker descends through both; each materialized shuffle is
  // exactly one ShuffleQueryStageExec
  private def countShuffleStages(
      p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
    val self = p match { case _: ShuffleQueryStageExec => 1; case _ => 0 }
    self + (p match {
      case a: AdaptiveSparkPlanExec => countShuffleStages(a.finalPhysicalPlan)
      case q: QueryStageExec => countShuffleStages(q.plan)
      case other => other.children.map(countShuffleStages).sum
    })
  }

  test("w11_sessionize: windows and session rollup share ONE user_id exchange") {
    val plan = finalQe("w11_sessionize").executedPlan
    val exchanges = countShuffleStages(plan)
    assert(exchanges === 1,
      s"expected the lag/running-sum windows and the (user_id, session_seq) " +
        s"groupBy to reuse one hash partitioning, found $exchanges exchanges:\n$plan")
  }

  test("banded self-joins (minhash, chunk, simhash) keep one shuffle stage") {
    // the count at which these plans stand: at sf0.001 AQE broadcasts the
    // band/chunk self-join and the verify joins, and the one shuffle left
    // is the candidate-pair distinct. An added exchange anywhere on the
    // candidate or verify path shows up as a second stage. (The pin does
    // not see whether the candidate table is pre-partitioned: the
    // checkpoint scan reports UnknownPartitioning either way.)
    Seq("dd_minhash_lsh", "dd_chunk_neardup", "dd_simhash").foreach { n =>
      val plan = finalQe(n).executedPlan
      val exchanges = countShuffleStages(plan)
      assert(exchanges === 1, s"$n: expected 1 shuffle stage, found $exchanges:\n$plan")
    }
  }

  test("IVF / IVF-PQ builds and probes rank centroids without a SortAggregate") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import graft.ops.Similarity
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.finalPhysicalPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other.children.flatMap(nodes)
    })
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    // every nearest-centroid decision is a narrow projection of the
    // NearestCentroid kernel over a one-row codebook collected without a
    // shuffle: the builds shuffle nothing, the probes shuffle the query
    // fan-out and the candidate join only
    Seq(
      ("ivfBuildIndex corpus", () => Similarity.ivfBuildIndex(emb, nlist = 8)._2, 0),
      ("ivfPqBuildIndex encoded", () => Similarity.ivfPqBuildIndex(emb, nlist = 8)._2, 0),
      ("ann_ivf", () => SparkEntry.queries("ann_ivf")(spark, sf("sf0.001")), 2),
      ("ann_ivfpq", () => SparkEntry.queries("ann_ivfpq")(spark, sf("sf0.001")), 2)
    ).foreach { case (name, df, shuffles) =>
      val qe = df().queryExecution
      qe.toRdd.foreach(_ => ())
      val plan = qe.executedPlan
      assert(!nodes(plan).exists(_.isInstanceOf[SortAggregateExec]),
        s"$name: struct-buffer SortAggregate is back:\n$plan")
      assert(countShuffleStages(plan) === shuffles,
        s"$name: expected $shuffles shuffle stages:\n$plan")
    }
  }

  test("ta_pack_bins: shard window and (shard,bin) window share ONE exchange") {
    // hashpartitioning(shard) clusters every (shard, bin_id) group, so the
    // refined window must add only a local sort — a second exchange here
    // would double the operator's data movement for nothing
    val qe = finalQe("ta_pack_bins")
    val exchanges = countShuffleStages(qe.executedPlan)
    assert(exchanges === 1,
      s"expected one shard hash exchange shared by both windows, found $exchanges:\n${qe.executedPlan}")
    val p = qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("rangepartitioning"), s"global sort planned in packGreedyBins:\n$p")
  }

  test("ta_shuffle_shard: the epoch shuffle is ONE exchange, no global sort") {
    // the md5 key + mod-shard assignment are narrow maps; the only data
    // movement allowed is the per-shard window's hash partitioning —
    // an ntile-style global ordering would show up as a range exchange
    val qe = finalQe("ta_shuffle_shard")
    val exchanges = countShuffleStages(qe.executedPlan)
    assert(exchanges === 1,
      s"expected exactly the shard hash exchange, found $exchanges:\n${qe.executedPlan}")
    val p = qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("rangepartitioning"), s"global sort planned in shuffleShard:\n$p")
  }

  test("tpch_q17: both lineitem passes join by broadcast — no sort-merge anywhere") {
    // the per-part aggregate is bounded by the brand slice (~1/25 of part)
    // and must broadcast back onto the fact scan; a SortMergeJoin here
    // means the 100 TB fact table shuffles twice
    val p = finalPlan("tpch_q17")
    assert(p.contains("BroadcastHashJoin"), "brand slice / per-part agg must broadcast")
    assert(!p.contains("SortMergeJoin"), s"fact-side shuffle join planned in q17:\n$p")
  }

  test("tpch_q21: decorrelated EXISTS/NOT-EXISTS — ONE lineitem scan, codegen aggregates") {
    // the naive q21 plan correlates lineitem against itself twice per row;
    // round 6's decorrelation still scanned lineitem twice into two grouped
    // passes plus a join (three exchanges on l_orderkey); round 14's form
    // was a single collect_set pass (ObjectHashAggregate — outside
    // whole-stage codegen, set<struct> partials on the shuffle); a struct-
    // min/max variant fell to SortAggregate (struct buffers are not
    // UnsafeRow-mutable). The r15 form repartitions by order once and runs
    // hash aggregates + a per-order window on that single partitioning:
    // lineitem scanned ONCE, no object/sort aggregate anywhere.
    val p = finalPlan("tpch_q21")
    assert(!p.contains("CartesianProduct"), s"correlated self-join shape planned:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"non-equi self-join planned:\n$p")
    val liScans = "lineitem\\.parquet".r.findAllIn(p).size
    assert(liScans === 1, s"lineitem scanned $liScans times — single-pass plan regressed:\n$p")
    assert(!p.contains("ObjectHashAggregate"),
      s"non-codegen aggregate leaked back into q21:\n$p")
    assert(!p.contains("SortAggregate"),
      s"sort-aggregate fallback leaked back into q21:\n$p")
  }

  test("tpch_q9: fact joins orders on the shuffle key once; part/supplier/nation broadcast") {
    val p = finalPlan("tpch_q9")
    assert(p.contains("BroadcastHashJoin"), "dim joins must broadcast")
    assert(p.contains("partial_sum"), "profit aggregate must be two-phase")
  }

  test("dd_strip_boilerplate: linear shape — no pair join of any kind") {
    // chunkDupGroups + reassembly must stay explode + hash-agg + equi-
    // joins: unlike the dd_ pair queries (where a broadcast NLJ is the
    // documented exactness baseline), the strip path has no legitimate
    // all-pairs form at any scale
    val p = finalPlan("dd_strip_boilerplate")
    assert(!p.contains("CartesianProduct"), "cartesian planned in chunk strip")
    assert(!p.contains("BroadcastNestedLoopJoin"), "pair join planned in chunk strip")
    assert(p.contains("HashAggregate"), "reassembly must be a hash aggregation")
  }

  test("dd_span_dedup: linear shape — stride-1 index stays explode + hash-agg + equi-join") {
    // the ExactSubstr decomposition's whole point is avoiding both the
    // suffix-array global sort AND any pair join: the dup index is a
    // fingerprint hash-agg, coverage/reassembly are doc-keyed
    val p = finalPlan("dd_span_dedup")
    assert(!p.contains("CartesianProduct"), "cartesian planned in span dedup")
    assert(!p.contains("BroadcastNestedLoopJoin"), "pair join planned in span dedup")
    assert(p.contains("HashAggregate"), "dup index / reassembly must hash-aggregate")
    assert(p.contains("Generate"), "stride-1 gram index must be an in-row explode")
  }

  test("no dedup/ANN/text query ever plans a non-broadcast CartesianProduct") {
    // the one operator shape that cannot survive 100 TB: every all-pairs
    // comparison in this family must go through an inverted-index /
    // banding join or a broadcast (BroadcastNestedLoopJoin is allowed —
    // those are the documented 1-row-scalar / broadcast-baseline cases)
    val family = SparkEntry.queries.keys.filter(n =>
      n.startsWith("dd_") || n.startsWith("ann_") || n.startsWith("ta_")).toSeq.sorted
    val offenders = family.filter(n => finalPlan(n).contains("CartesianProduct"))
    assert(offenders.isEmpty, s"CartesianProduct planned in: ${offenders.mkString(", ")}")
  }

  test("no NHL model query plans a CartesianProduct; v1's fuzzy join keeps its date equi-key") {
    // the v1 LIKE-containment matcher is the reference's own quadratic flaw,
    // but it must stay quadratic-per-date (equi join on game_date with the
    // name predicate as residual), never a full cross join; the rest of the
    // model graph is equi-joins and windows throughout.
    val family = SparkEntry.queries.keys.filter(_.startsWith("nhl_")).toSeq.sorted
    val offenders = family.filter(n => finalPlan(n).contains("CartesianProduct"))
    assert(offenders.isEmpty, s"CartesianProduct planned in: ${offenders.mkString(", ")}")
    val v1 = finalPlan("nhl_sog_props_v1")
    assert(v1.contains("SortMergeJoin") || v1.contains("ShuffledHashJoin") ||
      v1.contains("BroadcastHashJoin"), "v1 actuals join lost its equi key:\n" + v1)
  }

  test("w12_dist_bucketed: sketch boundaries aggregate partially, bounds broadcast") {
    // the production claim of the w12 twin: quartile boundaries come from
    // a MERGEABLE partial+final percentile_approx hash aggregate (partition
    // count grows with data), and the ~5 boundary rows ride a broadcast —
    // never a second per-type global sort
    val p = finalPlan("w12_dist_bucketed")
    assert(p.contains("partial_percentile_approx"),
      "percentile_approx must be a two-phase (partial) aggregate")
    assert(p.contains("BroadcastHashJoin"), "boundary rows must broadcast")
  }

  test("w17_streaks: change-detection windows and the run rollup share ONE user_id exchange") {
    // the scale claim in the query's comment: lag + running-sum + the
    // (user_id, blk) groupBy all reuse one hash partitioning — the
    // rn_all − rn_type formulation would pay a second (user, type) one
    val plan = finalQe("w17_streaks").executedPlan
    val exchanges = countShuffleStages(plan)
    assert(exchanges === 1,
      s"expected one user_id exchange, found $exchanges:\n$plan")
  }

  test("a14_ols_suffstats: map-side partial sums, one exchange, k rows out") {
    // the sufficient-statistics formulation's whole point: the data pays
    // one combined hash agg; only the per-group sums move
    val qe = finalQe("a14_ols_suffstats")
    val p = qe.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("partial_sum"), "OLS sums must aggregate map-side")
    val exchanges = countShuffleStages(qe.executedPlan)
    assert(exchanges === 1, s"expected one group exchange, found $exchanges")
  }

  test("j15_sorted_neighborhood: block-local ranks, equi-join band — no global sort, no pair join") {
    // SNM's scale contract: the rank window hash-partitions by block
    // (a global range sort would serialize the corpus) and the candidate
    // band is an equi-join on the block key with a rank-distance filter
    val p = finalPlan("j15_sorted_neighborhood")
    assert(!p.contains("rangepartitioning"), s"global sort planned in SNM:\n$p")
    assert(!p.contains("CartesianProduct"), "cartesian planned in SNM")
    assert(!p.contains("BroadcastNestedLoopJoin"), "non-equi pair join planned in SNM")
  }

  test("ta_tfidf_topk: tf aggregates map-side; the 1-row N rides a broadcast") {
    val p = finalPlan("ta_tfidf_topk")
    assert(p.contains("partial_count"), "tf/df aggs must partially aggregate")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the corpus-count row must broadcast, never shuffle the tf table")
  }

  test("sk_cms: counter build aggregates partially over the fixed key space; probes broadcast-join") {
    // the CMS scale contract: map-side combine bounds every task's partial
    // (and the shuffle) at depth×width rows, and the ≤ depth×width counter
    // table rides a broadcast into the probe join — never a shuffle of the
    // probe side against the corpus
    val p = finalPlan("sk_cms")
    assert(p.contains("partial_count"),
      "counter build must partially aggregate map-side (fixed depth×width key space)")
    assert(p.contains("BroadcastHashJoin"), "counter table must broadcast into the probe join")
  }

  test("bloomSemiJoin construction is ACTION-FREE — stats-sized, no eager count job") {
    // The r8 advisory: default sizing ran build.count() at plan-build time,
    // so merely COMPOSING the operator launched a Spark job (and computed
    // the build side three times). Sizing now reads Catalyst plan stats.
    // Pin it with a job listener: construct, flush the listener bus with a
    // marker job, and require the marker be the ONLY job seen.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // wait until the job counter stops moving (listener bus is async)
    def settle(): Int = {
      var last = -1
      var cur = jobs.get()
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (cur != last && System.nanoTime() < deadline) {
        last = cur; Thread.sleep(250); cur = jobs.get()
      }
      cur
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      import spark.implicits._
      val probe = spark.range(0, 1000).toDF("k")
      // parquet-backed build: rowCount is unknown there, exercising the
      // sizeInBytes/row-width fallback, the common scan shape. Reading the
      // schema may itself run a footer job — settle BEFORE measuring.
      val build = graft.sources.Tables.documents(spark, sf("sf0.001"))
        .select($"doc_id".as("bk"))
      build.queryExecution.analyzed // force analysis outside the window
      val before = settle()
      val composed = graft.ops.RuntimeFilter.bloomSemiJoin(probe, "k", build, "bk")
      val after = settle()
      assert(after === before,
        s"plan construction launched ${after - before} Spark job(s)")
      assert(composed.count() >= 0) // the composed plan still executes fine
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("w18_ewma: all 8 dyadic lags ride ONE user_id exchange and one window pass") {
    val plan = finalQe("w18_ewma").executedPlan
    val exchanges = countShuffleStages(plan)
    assert(exchanges === 1,
      s"expected one user_id hash partitioning for the whole lag stack, " +
        s"found $exchanges exchanges:\n$plan")
    val p = finalPlan("w18_ewma")
    assert(!p.contains("CartesianProduct"))
  }

  test("s12_snapshot_diff: the diff shuffles (key, fingerprint), never the row width") {
    // every shuffle exchange in the diff must carry at most 2 columns —
    // the md5-compare contract: adding tracked columns must not widen
    // what moves. Walk to each materialized shuffle and check its output.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
    def shuffleWidths(p: SparkPlan): Seq[Int] = {
      val self = p match {
        case s: ShuffleQueryStageExec => Seq(s.output.length)
        case _ => Seq.empty
      }
      self ++ (p match {
        case a: AdaptiveSparkPlanExec => shuffleWidths(a.finalPhysicalPlan)
        case q: QueryStageExec => shuffleWidths(q.plan)
        case other => other.children.flatMap(shuffleWidths)
      })
    }
    val widths = shuffleWidths(finalQe("s12_snapshot_diff").executedPlan)
    assert(widths.nonEmpty, "full-outer diff join expected at least one shuffle")
    assert(widths.forall(_ <= 2),
      s"a diff shuffle moves more than (key, fp): widths=$widths")
  }

  test("ta_phrase_search: phrase probe broadcasts; corpus never pair-joins") {
    val p = finalPlan("ta_phrase_search")
    assert(p.contains("BroadcastHashJoin"),
      "the 1-row phrase relation must broadcast against the trigram stream")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"),
      "no corpus-sized join side should sort-merge in the probe")
    // the trigram stream is a NARROW projection (slice + arrays_zip +
    // posexplode): the only exchange in the whole query is the top-1
    // count's partial->final agg — the probe re-derives the stream from
    // the scan instead of shuffling or checkpointing the token stream
    val exchanges = countShuffleStages(finalQe("ta_phrase_search").executedPlan)
    assert(exchanges === 1,
      s"expected one exchange (top-trigram agg), found $exchanges")
  }

  test("ta_kn_trigram: no single-key window over the hot middle word w2") {
    // the w2-grain totals must come from a groupBy + join-back, not a
    // partitionBy("w2") window — the window form sorts the hottest middle
    // word's whole continuation-type set in one partition. The two-word
    // (w1,w2) context window is fine (finer grain, no hot key).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def windows(p: SparkPlan): Seq[WindowExec] = {
      val self = p match { case w: WindowExec => Seq(w); case _ => Seq.empty }
      self ++ (p match {
        case a: AdaptiveSparkPlanExec => windows(a.finalPhysicalPlan)
        case q: QueryStageExec => windows(q.plan)
        case other => other.children.flatMap(windows)
      })
    }
    val parts = windows(finalQe("ta_kn_trigram").executedPlan)
      .map(_.partitionSpec.map(_.toString))
    assert(parts.nonEmpty, "the (w1,w2) context window should remain")
    assert(parts.forall(_.size >= 2),
      s"found a single-key (skew-shaped) window: $parts")
  }

  test("every query dump face is atomic — container columns crash the driver harness") {
    // schema-only (no execution): the driver's pandas checker cannot sort
    // array/struct/map cells (the r7 ta_bpe_encode crash), so Verify
    // refuses to dump them; this sweep catches the offender at test time
    // instead of the round's correctness gate
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (n, fn) =>
      val bad = fn(spark, sf("sf0.001")).schema.fields
        .filterNot(f => Verify.isAtomic(f.dataType))
      if (bad.isEmpty) None
      else Some(s"$n: ${bad.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")}")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
