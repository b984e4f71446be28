package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Bloom-filter runtime pruning as a first-class operator — the pattern
  * behind Spark's own row-level runtime filtering
  * (`spark.sql.optimizer.runtime.bloomFilter.*`, `InjectRuntimeFilter`),
  * exposed so a pipeline can apply it where the optimizer cannot see it:
  * across materialization boundaries, before an aggregation keyed by
  * another table's survivors, or against a build side produced by an
  * earlier job.
  *
  * The build side collapses to ONE bloom-sketch binary (a
  * `BloomFilterAggregate` over the xxhash64 of the key — the same internal
  * aggregate Catalyst injects, reached through [[GraftSqlBridge]]); the
  * sketch broadcasts and prunes the probe side as a codegen'd
  * `might_contain` predicate BEFORE the probe rows reach any exchange. At
  * 100 TB that is the difference between shuffling the whole fact table
  * into a semi join and shuffling only the ~matching slice (plus the
  * bloom's false positives — bounded by `numBits`).
  */
object RuntimeFilter {

  /** Aggregate Column: bloom sketch (binary) over the xxhash64 of `key`. */
  def bloomOf(key: Column, expectedItems: Long, numBits: Long): Column =
    GraftSqlBridge.column(
      new BloomFilterAggregate(
        GraftSqlBridge.expression(xxhash64(key)),
        GraftSqlBridge.expression(lit(expectedItems)),
        GraftSqlBridge.expression(lit(numBits))).toAggregateExpression())

  /** Predicate Column: bloom membership probe of the xxhash64 of `key`. */
  def mightContain(bloom: Column, key: Column): Column =
    GraftSqlBridge.column(new BloomFilterMightContain(
      GraftSqlBridge.expression(bloom),
      GraftSqlBridge.expression(xxhash64(key))))

  /** Item estimate for the default sketch sizing, from Catalyst plan
    * statistics. Clamped in BigInt BEFORE narrowing to Long: stats default
    * `sizeInBytes` to `Long.MaxValue` when unknown, and joined plans
    * multiply child sizes past it — a raw `.toLong` wraps negative and the
    * `items * 10L` in [[bloomSemiJoin]] would silently collapse the sketch
    * to the 64 Ki minimum, reintroducing the all-pass-through failure the
    * stats sizing exists to prevent. Anything above bitsCap/10 items
    * saturates the bits clamp anyway, so capping here loses nothing.
    * `ScaleOpsSpec` pins the unknown-stats and joined-plan cases.
    */
  private[graft] def estimatedBuildItems(build: DataFrame): Long = {
    val plan = build.queryExecution.optimizedPlan
    val stats = plan.stats
    val itemsCap = BigInt(64L * 1024 * 1024 / 10)
    val estimated = stats.rowCount.filter(_ > 0).getOrElse {
      val rowWidth =
        math.max(8, plan.schema.map(_.dataType.defaultSize).sum)
      stats.sizeInBytes / rowWidth
    }
    estimated.min(itemsCap).max(BigInt(64)).toLong
  }

  /** Semi join with a bloom prefilter: output ≡ `probe LEFT SEMI JOIN
    * build` exactly — the bloom pass may keep false positives (never drops
    * a true match: no false negatives by construction), and the exact semi
    * join afterwards removes them. The bloom's only effect is how many
    * probe rows reach that join's exchange; EXACTNESS is independent of
    * `numBits`, which SemiJoinSpec pins by forcing a tiny, FP-heavy sketch.
    *
    * Sketch sizing: by default (`expectedItems < 0`) the sketch is sized
    * from the build side's CATALYST PLAN STATISTICS — `rowCount` when the
    * optimizer knows it, else `sizeInBytes / schema width` — the same
    * source Spark's own `InjectRuntimeFilter` sizes its blooms from. Plan
    * construction is therefore ACTION-FREE (no job runs until the result
    * is executed; PlanGuardSpec pins this) and the build side is computed
    * by the executed plan exactly twice — bloom-agg subquery + semi join,
    * the identical shape Catalyst's injected runtime filters have — not
    * three times as the earlier eager-count sizing did. Stats
    * over-estimate rows for wide-then-projected scans; that only rounds
    * the sketch UP, never below ~10 bits/key (≈1% FP), and the clamp to
    * [64 Ki, 64 Mi] bits bounds both ends. (A fixed default was the r7
    * advisory's finding: 64 Ki bits against a 100k-key build side is
    * all-pass-through — still exact, but the shuffle savings vanish.)
    * Pass explicit values when the caller knows the true cardinality.
    */
  def bloomSemiJoin(probe: DataFrame, probeKey: String,
                    build: DataFrame, buildKey: String,
                    expectedItems: Long = -1L,
                    numBits: Long = -1L): DataFrame = {
    val items =
      if (expectedItems > 0L) expectedItems else estimatedBuildItems(build)
    val bits =
      if (numBits > 0L) numBits
      else math.min(math.max(items * 10L, 64L * 1024), 64L * 1024 * 1024)
    // scalar subquery, not a joined column: might_contain requires its
    // sketch side be constant-foldable at execution (same shape Catalyst's
    // InjectRuntimeFilter emits)
    val bloom = GraftSqlBridge.scalarSubquery(
      build.agg(bloomOf(col(buildKey), items, bits).as("__bf")))
    val pre = probe.filter(mightContain(bloom, col(probeKey)))
    pre.join(
      build.select(col(buildKey).as(probeKey)).distinct(),
      Seq(probeKey), "left_semi")
  }
}
