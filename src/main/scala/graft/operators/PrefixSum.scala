package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scale-out exclusive prefix sum (the offset-table primitive behind
  * scida's `get_groupoffsets`, reference: src/scida/customs/arepo/
  * dataset.py:592).
  *
  * A single `Window.orderBy(key)` computes this but serializes the
  * whole table into ONE task ("WindowExec: No Partition Defined").
  * Here the classic two-phase scan:
  *
  *   1. range-partition by key, sort within each partition, and stamp
  *      each row with its frozen bucket id (`spark_partition_id()`
  *      evaluated once, at cache materialization) — the layout this
  *      operator trusts is IN the cached data, not in task ids. The
  *      bucket count is the caller's, or by default the input plan's
  *      ([[Partitions]]: estimated bytes over Spark's advisory
  *      partition size, capped at the shuffle partitions), so a small
  *      input runs ONE bucket with no range-sampling job,
  *   2. per-bucket totals — ONE bounded driver collect (<= `buckets`
  *      values, a partition STATISTIC, never data), exclusive-scanned
  *      driver-side,
  *   3. a narrow `mapPartitions` carries the running sum; each row's
  *      own bucket stamp selects its prefix base, so the pass is
  *      immune to whatever the CONSUMER does to task boundaries
  *      (a `coalesce(1)` before a single-file write concatenates
  *      buckets into one task — task-id-based bases would silently
  *      zero; row-stamp-based bases survive).
  *
  * Why imperative here and not a window: an earlier revision kept
  * phases 2-3 declarative (cumsum window partitioned by the bucket
  * stamp + a broadcast join of bucket prefixes), but Catalyst cannot
  * know that the stamp column IS the partitioning — it inserted a
  * hash exchange for the window, AQE coalesced the tiny shuffle into
  * ONE task, and the whole query ran as 12 jobs (measured with
  * JobPeek: half the wall time was inter-stage scheduling barriers).
  * Per-partition running state is the textbook genuine
  * `mapPartitions` case; this form runs 3 jobs (input cache, ranged
  * cache, totals collect; Spark adds its range-sampling job when the
  * count exceeds one) and shuffles nothing after the range
  * partitioning. At 1e8+ groups nothing serializes:
  * the collect is `buckets` longs, everything else is
  * partition-parallel — and at that size the plan's bucket count is
  * the session's full parallelism.
  */
object PrefixSum {

  /** Adds `outCol` = exclusive prefix sum of `len` in ascending
    * `key` order (any range-partitionable type — numeric group ids,
    * hash-shuffle string keys). Keys must be unique (one row per
    * group, as in an offset catalog). `len` must be integral
    * (lengths/counts); nulls count as 0 (as SQL `sum` would skip
    * them).
    *
    * Output layout contract: range-partitioned by `key` with rows
    * sorted by `key` inside every partition, i.e. GLOBALLY key-ordered
    * across ascending partition ids. A caller that wants ordered
    * output should `sortWithinPartitions(key)` (a near-no-op local
    * pass over already-sorted runs), never `orderBy(key)` — a global
    * sort would resample + reshuffle what is already in order. */
  def exclusive(dfIn: DataFrame, key: String, len: Column,
      buckets: Int = Partitions.FromPlan, outCol: String = "offset"): DataFrame = {
    val lenType = dfIn.select(len).schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(lenType),
      s"prefix-sum length must be integral (a count/length), got $lenType")
    // Materialize the input ONCE: repartitionByRange's boundary
    // sampling executes the child subtree a second time (the
    // RangePartitioner sketches the lineage), so an uncached
    // aggregate feeding this operator would run twice. CacheScope
    // releases both handles after the consuming query's action.
    val in = graft.CacheScope.track(dfIn.withColumn("__len", len.cast(LongType)))
    // The bucket stamp is evaluated when THIS cache materializes and
    // is frozen thereafter — phases 2 and 3 both read the stamp from
    // the cached rows, so they can never disagree about the layout
    // (MEMORY_AND_DISK spills rather than evicts; within one query
    // action the materialization is single).
    val ranged = graft.CacheScope.track(
      Partitions.byRange(in, buckets, col(key))
        .sortWithinPartitions(key)
        .withColumn("__b", spark_partition_id()))
    // phase 2: per-bucket totals, aggregated per task then merged
    // driver-side — no shuffle, bounded by the bucket count
    val totals: Map[Int, Long] = ranged.select(col("__b"), col("__len")).rdd
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[Int, Long]
        it.foreach { r =>
          // a null length counts as 0 but must still REGISTER the
          // bucket: a bucket whose rows are all null-length would
          // otherwise be absent from `totals`, and phase 3 would
          // start it at base 0 instead of the prior buckets' sum
          val add = if (r.isNullAt(1)) 0L else r.getLong(1)
          m.update(r.getInt(0), m.getOrElse(r.getInt(0), 0L) + add)
        }
        m.iterator
      }.collect()
      .groupMapReduce(_._1)(_._2)(_ + _)
    val prefixes: Map[Int, Long] = {
      var run = 0L
      totals.toArray.sortBy(_._1).map { case (b, tot) =>
        val p = b -> run; run += tot; p
      }.toMap
    }
    // phase 3: narrow streaming pass; the running counter restarts at
    // each row's OWN bucket base. Buckets arrive as contiguous sorted
    // runs (a task is one bucket, or `coalesce` concatenates whole
    // buckets in order); the closed-set check turns any violated
    // assumption into a loud failure instead of silent bad offsets.
    val outSchema = StructType(
      ranged.schema.fields.filterNot(f => f.name == "__len" || f.name == "__b") :+
        StructField(outCol, LongType, nullable = false))
    val keep = ranged.schema.fields.zipWithIndex
      .filterNot(f => f._1.name == "__len" || f._1.name == "__b").map(_._2)
    val lenIdx = ranged.schema.fieldIndex("__len")
    val bIdx = ranged.schema.fieldIndex("__b")
    ranged.mapPartitions { it =>
      var cur = -1
      var run = 0L
      val closed = scala.collection.mutable.BitSet.empty
      it.map { r =>
        val b = r.getInt(bIdx)
        if (b != cur) {
          require(!closed.contains(b),
            s"prefix-sum bucket $b seen non-contiguously — layout violated")
          if (cur >= 0) closed += cur
          cur = b
          run = prefixes.getOrElse(b, 0L)
        }
        val l = if (r.isNullAt(lenIdx)) 0L else r.getLong(lenIdx)
        val off = run
        run += l
        Row.fromSeq(keep.map(r.get).toSeq :+ off)
      }
    }(Encoders.row(outSchema))
  }

  /** Per-group exclusive prefix sum at scale: adds `outCol` =
    * exclusive prefix sum of `len` WITHIN each `group`, rows ordered
    * by ascending `key` inside the group. The window equivalent
    * (`PARTITION BY group ORDER BY key`) serializes EACH group into
    * one task — fatal when a group is a whole language/domain of a
    * 100 TB corpus. Same 3-phase shape as [[exclusive]], but
    * range-partitioned by (group, key) so a huge group spans MANY
    * buckets, and the driver statistic is one running total per
    * (bucket, group) RUN — groups are contiguous in the range order,
    * so that is O(buckets + groups), never O(rows). (group, key)
    * pairs must be unique; `group` must be non-null. Output layout:
    * range-partitioned by (group, key), sorted within partitions. */
  def exclusivePerGroup(dfIn: DataFrame, group: String, key: String,
      len: Column, buckets: Int = Partitions.FromPlan,
      outCol: String = "offset"): DataFrame = {
    val lenType = dfIn.select(len).schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(lenType),
      s"prefix-sum length must be integral (a count/length), got $lenType")
    val in = graft.CacheScope.track(dfIn.withColumn("__len", len.cast(LongType)))
    val ranged = graft.CacheScope.track(
      Partitions.byRange(in, buckets, col(group), col(key))
        .sortWithinPartitions(group, key)
        .withColumn("__b", spark_partition_id()))
    // phase 2: per-(bucket, group) totals — bounded by run count
    val totals: Map[(Int, String), Long] = ranged
      .select(col("__b"), col(group).cast(StringType), col("__len")).rdd
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[(Int, String), Long]
        it.foreach { r =>
          require(!r.isNullAt(1), "per-group prefix sum: null group")
          val add = if (r.isNullAt(2)) 0L else r.getLong(2)
          val k = (r.getInt(0), r.getString(1))
          m.update(k, m.getOrElse(k, 0L) + add)
        }
        m.iterator
      }.collect().groupMapReduce(_._1)(_._2)(_ + _)
    // driver scan per group in ascending-bucket order: each group's
    // running total entering every bucket it spans. Only the WITHIN-
    // group bucket order matters, so the string grouping used here
    // need not agree with the range partitioner's inter-group order.
    val bases: Map[(Int, String), Long] = {
      val m = scala.collection.mutable.HashMap.empty[(Int, String), Long]
      var g = ""
      var run = 0L
      totals.keys.toArray.sortBy(k => (k._2, k._1)).foreach { k =>
        if (k._2 != g) { g = k._2; run = 0L }
        m(k) = run
        run += totals(k)
      }
      m.toMap
    }
    // phase 3: narrow streaming pass; the counter restarts at each
    // (bucket, group) run's own base, so consumer-side coalescing of
    // whole buckets cannot corrupt offsets (same contract as
    // [[exclusive]]).
    val outSchema = StructType(
      ranged.schema.fields.filterNot(f => f.name == "__len" || f.name == "__b") :+
        StructField(outCol, LongType, nullable = false))
    val keep = ranged.schema.fields.zipWithIndex
      .filterNot(f => f._1.name == "__len" || f._1.name == "__b").map(_._2)
    val lenIdx = ranged.schema.fieldIndex("__len")
    val bIdx = ranged.schema.fieldIndex("__b")
    val gIdx = ranged.schema.fieldIndex(group)
    ranged.mapPartitions { it =>
      var curB = -1
      var curG: String = null
      var run = 0L
      val closed = scala.collection.mutable.BitSet.empty
      it.map { r =>
        val b = r.getInt(bIdx)
        val g = String.valueOf(r.get(gIdx))
        if (b != curB) {
          require(!closed.contains(b),
            s"prefix-sum bucket $b seen non-contiguously — layout violated")
          if (curB >= 0) closed += curB
          curB = b; curG = null
        }
        if (g != curG) { curG = g; run = bases.getOrElse((b, g), 0L) }
        val l = if (r.isNullAt(lenIdx)) 0L else r.getLong(lenIdx)
        val off = run
        run += l
        Row.fromSeq(keep.map(r.get).toSeq :+ off)
      }
    }(Encoders.row(outSchema))
  }
}
