package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Value-histogram statistics over DISCRETE features — the shared
  * machinery behind quantile_normalize (CDF normalization) and
  * group_percentiles (exact per-group discrete quantiles).
  *
  * Domain assumption, now ENFORCED instead of implied: these operators
  * aggregate (value) or (group, value) counts and then treat the
  * histogram as a SMALL table — broadcast back onto rows, or windowed
  * per group. That is only sound for features with bounded distinct
  * cardinality (char counts, token counts, ratings, bucketed scores).
  * A continuous / high-cardinality feature makes the histogram the
  * size of the data: the broadcast kills the driver and the window
  * degenerates to a near-raw-row sort — at 100 TB an opaque OOM hours
  * in. `maxDistinct` turns that into an immediate, actionable error.
  *
  * Cost of the guard: ONE count over the aggregated histogram (one
  * row per distinct value, map-side combined), MEMOIZED per histogram
  * plan — distinct cardinality is a table statistic (the hotKeysOf /
  * quantilesOf argument), so only the first execution in a JVM pays
  * the count job; steady-state executions run the exact pre-guard
  * plan with zero extra work. (An earlier cache-and-count form made
  * the guard itself ~2x the query at bench scale: the persist barrier
  * broke the histogram→window whole-stage pipeline.)
  *
  * Remedy for continuous features: pre-bucket first (the
  * histogram_equidepth boundary machinery / ExactQuantiles.values),
  * then normalize the bucket id — the reference pipeline shape for
  * percentile features at scale.
  */
object DiscreteStats {

  /** Default distinct-cardinality bound: 4M distinct values ≈ a
    * few-hundred-MB broadcast upper bound — far above any genuinely
    * discrete feature, far below a continuous column's cardinality at
    * scale. */
  val DefaultMaxDistinct: Long = 1L << 22

  // distinct-count memo keyed by the histogram's CANONICALIZED plan
  // string (not the 32-bit semanticHash alone — a cross-plan hash
  // collision would silently reuse another histogram's cardinality
  // for the guard): same plan → same source data within a JVM
  // (fixture staleness caveat shared with quantilesOf/hotKeysOf —
  // restart after regenerating testdata in place). Entry count is
  // O(distinct guarded plans) — a handful.
  private val cardMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def guard(hist: DataFrame, what: String, maxDistinct: Long): DataFrame = {
    val key = hist.queryExecution.analyzed.canonicalized.toString
    val nd = cardMemo.computeIfAbsent(key, _ => hist.count()).longValue()
    require(nd <= maxDistinct,
      s"$what has $nd distinct values (bound $maxDistinct): this " +
        "operator assumes a DISCRETE feature whose value histogram is " +
        "small enough to broadcast/window. Pre-bucket the column " +
        "(e.g. at ExactQuantiles.values boundaries) and retry, or " +
        "raise maxDistinct deliberately.")
    hist
  }

  /** Strictly-less-than counts (the exclusive CDF numerator) per
    * distinct value of `value`: one map-side-combined histogram, a
    * bucketed PrefixSum over it (no one-task window), guarded by
    * `maxDistinct`. Output: (v, cnt_lt). */
  def exclusiveCdf(df: DataFrame, value: Column,
      maxDistinct: Long = DefaultMaxDistinct): DataFrame = {
    val hist = guard(
      df.groupBy(value.as("v")).agg(count(lit(1)).as("c")),
      s"CDF feature", maxDistinct)
    PrefixSum.exclusive(hist, "v", col("c"), outCol = "cnt_lt")
      .select(col("v"), col("cnt_lt"))
  }

  /** (group, value) → count histogram for per-group discrete
    * quantiles, guarded on TOTAL distinct (group, value) pairs — the
    * frame the cumulative window runs over. */
  def groupValueCounts(df: DataFrame, groupCols: Seq[String], value: Column,
      maxDistinct: Long = DefaultMaxDistinct): DataFrame =
    guard(
      df.groupBy(groupCols.map(col) :+ value.as("v"): _*)
        .agg(count(lit(1)).as("c")),
      s"(${groupCols.mkString(",")}, value) histogram", maxDistinct)
}
