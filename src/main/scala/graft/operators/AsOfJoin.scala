package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time as-of join: for each left row, attach the latest right row
  * with the same key and time <= left time.
  *
  * Spark lacks a native as-of join, so this composes one Spark-first
  * (SURVEY.md §2 `asof_join`): tag and union both sides, sort within
  * each key by (time, side) with the right side first on ties
  * (inclusive as-of), and carry the right side's payload forward with
  * `last(..., ignoreNulls)` over an unbounded-preceding window.
  *
  * Scale posture: ONE shuffle, on the key (the window partition); no
  * join explosion, no range-condition nested loop. Skewed keys are
  * handled by AQE; the window is rows-unbounded-preceding so Spark
  * streams it without buffering whole partitions.
  */
object AsOfJoin {

  /** Backward as-of with a tolerance bound (pandas merge_asof
    * semantics): like `asof`, but matches further than `tolerance`
    * time units in the past are nulled out. Implemented by carrying
    * the right row's time through the window and filtering after —
    * same single shuffle. */
  def asofTolerance(left: DataFrame, right: DataFrame, key: String,
      time: String, payload: Seq[String], tolerance: Long,
      rangeBuckets: Int = 0): DataFrame = {
    val rtCol = "__rt"
    val r = right.withColumn(rtCol, col(time))
    val joined = asof(left, r, key, time, payload :+ rtCol, rangeBuckets)
    val within = col(rtCol).isNotNull && (col(time) - col(rtCol) <= tolerance)
    payload.foldLeft(joined) { (df, p) =>
      df.withColumn(p, when(within, col(p)))
    }.drop(rtCol)
  }

  /** Forward as-of: earliest right row with time >= left.time. Same
    * composition on negated time (order flips, bounds flip). */
  def asofForward(left: DataFrame, right: DataFrame, key: String,
      time: String, payload: Seq[String],
      rangeBuckets: Int = 0): DataFrame = {
    val neg = "__negt"
    val l = left.withColumn(neg, -col(time))
    val r = right.withColumn(neg, -col(time))
    asof(l, r, key, neg, payload, rangeBuckets).drop(neg)
  }

  /** Nearest as-of: the right row closest in time in EITHER direction
    * (pandas merge_asof direction='nearest'); ties go backward.
    *
    * ONE exchange: a single tagged union of both sides is partitioned
    * by key once; the backward carry is `last(ignoreNulls)` over
    * (time asc, side, payload) and the forward carry is the SAME
    * `last(ignoreNulls)` over the REVERSED time order — both windows
    * share the one ClusteredDistribution(key), so Catalyst plans one
    * exchange feeding two local sorts (no second shuffle, no join).
    * At equal times the right row sorts before the left row in BOTH
    * directions (side 0 < 1 under a secondary ASC sort), so both
    * carries are inclusive, and the equal-time tie among multiple
    * right rows resolves to the largest payload string in both
    * directions — bit-identical to the two-pass composition this
    * replaces. */
  def asofNearest(left: DataFrame, right: DataFrame, key: String,
      time: String, payload: Seq[String],
      rangeBuckets: Int = 0): DataFrame = {
    val leftCols = left.columns
    val l = left.withColumn("__side", lit(1))
    // __rt rides inside the payload struct: the picker needs the
    // matched row's own time for the |dt| comparison on both sides
    val r = right.select(col(key), col(time),
        struct((payload.map(col) :+ col(time).as("__rt")): _*).as("__p"))
      .withColumn("__side", lit(0))
    val unioned0 = l.withColumn("__p", lit(null).cast(r.schema("__p").dataType))
      .select((leftCols.map(col) :+ col("__side") :+ col("__p")): _*)
      .unionByName(r, allowMissingColumns = true)
    val unioned = if (rangeBuckets == 0) unioned0
      else Partitions.byRange(unioned0, rangeBuckets, col(key))
    val wB = Window.partitionBy(key)
      .orderBy(col(time), col("__side"), col("__p").cast("string"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(key)
      .orderBy(col(time).desc, col("__side"), col("__p").cast("string"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned
      .withColumn("__b", last(col("__p"), ignoreNulls = true).over(wB))
      .withColumn("__f", last(col("__p"), ignoreNulls = true).over(wF))
    val bt = col("__b.__rt"); val ft = col("__f.__rt")
    val pickBack = ft.isNull ||
      (bt.isNotNull && (col(time) - bt) <= (ft - col(time)))
    carried.filter(col("__side") === 1)
      .select(leftCols.map(col) ++ payload.map(p =>
        when(pickBack, col(s"__b.$p")).otherwise(col(s"__f.$p")).as(p)): _*)
  }

  /** @param left  rows to enrich; must contain `key` and `time`
    * @param right rows providing `payload` columns; must contain
    *              `key`, `time`, and `payload`
    * @param rangeBuckets when non-zero, the union is RANGE-partitioned
    *              by `key` into this many buckets ([[Partitions.FromPlan]]:
    *              the plan's count) instead of letting the window plan
    *              a hash exchange — same single shuffle,
    *              but the output leaves key-range-clustered, so a
    *              caller can pin a (key, ...) display order with a
    *              LOCAL sort instead of a second global sort
    * @return left rows + `payload` columns as-of left.time (inclusive),
    *         null when no prior right row exists */
  def asof(left: DataFrame, right: DataFrame,
      key: String, time: String, payload: Seq[String],
      rangeBuckets: Int = 0): DataFrame = {
    val leftCols = left.columns
    // side=0 sorts right rows before left rows at equal times → a
    // right row at exactly left.time is visible (inclusive as-of).
    val l = left.withColumn("__side", lit(1))
    val r = right.select(col(key), col(time), struct(payload.map(col): _*).as("__p"))
      .withColumn("__side", lit(0))
    val unioned0 = l.withColumn("__p", lit(null).cast(r.schema("__p").dataType))
      .select((leftCols.map(col) :+ col("__side") :+ col("__p")): _*)
      .unionByName(r, allowMissingColumns = true)
    // RangePartitioning(key) satisfies the window's
    // ClusteredDistribution(key) — same key, same partition — so the
    // window adds no further exchange on top of it
    val unioned = if (rangeBuckets == 0) unioned0
      else Partitions.byRange(unioned0, rangeBuckets, col(key))
    // final tie-break on the payload's string form: multiple right
    // rows at the same (key, time) would otherwise resolve by shuffle
    // order — run-to-run nondeterminism the oracle hash would catch
    val w = Window.partitionBy(key)
      .orderBy(col(time), col("__side"), col("__p").cast("string"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned.withColumn("__asof", last(col("__p"), ignoreNulls = true).over(w))
    carried.filter(col("__side") === 1)
      .select(leftCols.map(col) ++ payload.map(p => col(s"__asof.$p").as(p)): _*)
  }
}
