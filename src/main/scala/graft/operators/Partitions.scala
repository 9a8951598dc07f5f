package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** Partition counts from the plan, not from literals: the one
  * partition policy behind every range repartition, prefix-sum bucket
  * count and parallelism guard in graft.
  *
  * A literal count is wrong at both ends: 32 range buckets over a
  * 15,000-row catalog schedule 32 tasks (plus a sampling job) for a
  * few hundred KB, and 32 buckets over a 100 TB table leave each task
  * terabytes. The policy sizes a partition the way AQE's coalescing
  * already does — Spark's own `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  * of input per partition — over the optimized plan's
  * `stats.sizeInBytes` (the per-operator estimate Catalyst carries;
  * computing it runs no job). The count is floored at 1 and capped at
  * the session's `spark.sql.shuffle.partitions`, the parallelism the
  * deployment declared. No graft-specific setting exists: both bounds
  * are Spark's.
  *
  * Bytes measure work only where work follows bytes. A layout that
  * feeds per-row CPU — a window over each key's rows, a per-row join,
  * a codec loop — or that is written at rest for later scans takes
  * [[cap]] instead: the input's compressed size says nothing about
  * that work, and at bench scale (lineitem at sf0.1 is 11 MB of
  * parquet) the byte count plans one task for it. The plan's count
  * is for the operators whose per-partition fixed cost dominates on
  * small inputs: PrefixSum's buckets, the catalog offsets built on
  * them, and ExactQuantiles' rank extraction.
  *
  * The count is a layout choice only. Every operator that takes it is
  * partition-invariant in its result (PrefixSum's row-stamped bucket
  * bases, range partitioning feeding key-clustered windows, quantile
  * rank extraction), so outputs do not change with it.
  */
object Partitions {

  /** The `buckets` value meaning "take the count from the plan" —
    * the default of the operators' `buckets`/`partitions` parameters.
    * An explicit positive count is honoured as given. */
  val FromPlan: Int = -1

  /** The session's parallelism ceiling: `spark.sql.shuffle.partitions`
    * as the session resolves it (Spark's default when unset). */
  def cap(spark: SparkSession): Int = spark.sessionState.conf.numShufflePartitions

  /** ceil(estimated plan bytes ÷ advisory partition bytes), in
    * [1, [[cap]]]. */
  def of(df: Dataset[_]): Int = {
    val conf = df.sparkSession.sessionState.conf
    val target = BigInt(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES).max(1L))
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    ((bytes + target - 1) / target).max(1).min(cap(df.sparkSession)).toInt
  }

  /** Range-partition `df` by `cols` into `buckets` partitions, or
    * into the plan's count ([[of]]) when `buckets` is [[FromPlan]]. */
  def byRange(df: DataFrame, buckets: Int, cols: Column*): DataFrame =
    df.repartitionByRange(resolve(df, buckets), cols: _*)

  private def resolve(df: Dataset[_], buckets: Int): Int =
    if (buckets == FromPlan) of(df)
    else { require(buckets > 0, s"partition count must be positive, got $buckets"); buckets }

  /** Full-parallelism guard for compute-heavy map stages: a source
    * with one row group (the test parquet; a skewed or under-split
    * source at 100 TB) runs an expensive per-row stage fed straight
    * from the scan in a single task regardless of cluster size, so
    * shuffle the cheap raw rows across [[cap]] partitions first. Sized
    * by the session, not the plan: the work is per-row CPU, which the
    * input's byte size does not measure. */
  def spread(df: DataFrame): DataFrame = df.repartition(cap(df.sparkSession))
}
