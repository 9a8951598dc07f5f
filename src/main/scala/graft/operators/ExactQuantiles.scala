package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Scale-out EXACT interpolated quantiles (the distributed form of
  * dask's exact percentile path scida relies on for reductions).
  *
  * `percentile(col, array(...))` is exact but buffers EVERY value in
  * one aggregation buffer — a single-node-sized state that out-of-
  * memories at 100 TB. The scalable exact algorithm is rank
  * selection over a distributed sort:
  *
  *   1. range-partition the values (Spark's sampled RangePartitioner,
  *      same machinery as a global ORDER BY) and sort within
  *      partitions — fully parallel, spill-safe;
  *   2. count each partition (tiny driver-side array, like
  *      PrefixSum's bucket totals) → exclusive partition offsets;
  *   3. a second pass extracts only the rows whose GLOBAL rank
  *      (partition offset + local index) hits floor/ceil((N-1)·q) —
  *      at most 2·|probs| values leave the executors;
  *   4. interpolate driver-side with the standard linear rule, the
  *      same formula percentile()/quantile_cont use.
  *
  * Two passes over the data instead of one, but constant memory
  * everywhere; the only driver state is |partitions| counts and
  * 2·|probs| doubles.
  */
object ExactQuantiles {

  /** One row of exact interpolated quantiles for `probs`, columns
    * named by `names` (rounded to `scale` dp, engine-portable). */
  def quantiles(df: DataFrame, valueCol: String, probs: Seq[Double],
      names: Seq[String], partitions: Int = Partitions.FromPlan, scale: Int = 4): DataFrame = {
    require(probs.size == names.size)
    val spark = df.sparkSession
    val vals = values(df, valueCol, probs, partitions, scale)
    spark.createDataFrame(
      java.util.List.of(Row(vals: _*)),
      StructType(names.map(StructField(_, DoubleType, nullable = false))))
  }

  /** The quantile VALUES, driver-side (<= 2·|probs| doubles leave the
    * executors) — for consumers that feed them back into a plan as
    * literals (equi-depth binning, boundary-based pruning). */
  def values(df: DataFrame, valueCol: String, probs: Seq[Double],
      partitions: Int = Partitions.FromPlan, scale: Int = 4): Seq[Double] = {
    require(probs.nonEmpty, "probs must be non-empty")
    require(probs.forall(p => p >= 0.0 && p <= 1.0), "probs must be in [0,1]")
    val spark = df.sparkSession
    // the sorted frame feeds two passes (counts, rank extraction)
    val vs = df.select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
    val sorted = graft.CacheScope.track(
      Partitions.byRange(vs, partitions, col("v"))
        .sortWithinPartitions("v"))
    // pass 1: per-partition counts -> exclusive offsets (driver-side,
    // |partitions| longs)
    val counts = sorted.rdd
      .mapPartitionsWithIndex((pid, it) => Iterator((pid, it.size.toLong)))
      .collect().sortBy(_._1).map(_._2)
    val n = counts.sum
    require(n > 0, s"no non-null values in $valueCol")
    val offsets = counts.scanLeft(0L)(_ + _)
    // global ranks needed: floor and ceil of (n-1)*q
    val targets = probs.map(q => (n - 1) * q)
    val needed = targets.flatMap(t => Seq(t.floor.toLong, t.ceil.toLong)).toSet
    // pass 2: extract only the needed ranks (<= 2*|probs| rows move)
    val neededB = spark.sparkContext.broadcast(needed)
    val picked = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var rank = offsets(pid)
      it.flatMap { row =>
        val keep = neededB.value.contains(rank)
        rank += 1
        if (keep) Iterator((rank - 1, row.getDouble(0))) else Iterator.empty
      }
    }.collect().toMap
    // driver-side linear interpolation — percentile()/quantile_cont's rule
    targets.map { t =>
      val lo = picked(t.floor.toLong)
      val hi = picked(t.ceil.toLong)
      val v = lo + (hi - lo) * (t - t.floor)
      // Shared floor-quantization rule (VectorOps.roundAt's), NOT
      // BigDecimal HALF_UP: when the interpolated value lands on a
      // decimal tie (common when the data is 2-dp money — midpoints
      // are exact x.xxxx5 decimals), HALF_UP on the exact binary
      // expansion and DuckDB's round() disagree ~22% of the time.
      // floor(v*s+0.5)/s is pure double IEEE arithmetic, so an oracle
      // replaying the SAME rank-selection + interpolation + floor
      // formula (QueryDef.exactQuantileSql) is bit-identical by
      // construction.
      val s = math.pow(10, scale)
      math.floor(v * s + 0.5) / s
    }
  }
}
