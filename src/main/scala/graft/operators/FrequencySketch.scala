package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-Min frequency sketch (Cormode & Muthukrishnan 2005) — the
  * third member of the sketch family next to HLL distinct and
  * mergeable quantiles: answer "how often does key X occur?" for any
  * later-chosen key from ONE streaming pass over the data, in
  * O(1/eps · ln 1/δ) space, without a per-key groupBy.
  *
  * Scale posture: Spark's `stat.countMinSketch` builds per-partition
  * sketches map-side and tree-merges them to the driver — the merge
  * cost is the (tiny, fixed-size) sketch, never the data. The sketch
  * then rides back broadcast for point estimates over any key frame
  * (a watchlist join without the watchlist join). Estimates are
  * one-sided: never below the true count, above it by at most
  * eps·N with probability 1−δ.
  */
object FrequencySketch {

  /** Estimated occurrence counts of `keys` (single LONG column) in
    * `df`'s `keyCol`, from one pass + a broadcast sketch. Fixed seed:
    * estimates are reproducible across runs and partitionings. */
  def estimateCounts(df: DataFrame, keyCol: String, keys: DataFrame,
      eps: Double = 0.0001, confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    val cms = df.stat.countMinSketch(col(keyCol), eps, confidence, seed)
    val spark = df.sparkSession
    val b = spark.sparkContext.broadcast(cms)
    val kc = keys.columns.head
    // native codegen'd probe over the broadcast sketch (no ScalaUDF)
    keys.select(col(kc).cast("long").as(kc))
      .withColumn("est_cnt",
        graft.functions.expressions.SketchProbes.cmEstimate(col(kc), b))
  }

  /** Approximate heavy hitters of a LONG key column via bounded
    * Space-Saving-style summaries (Metwally et al., ICDT 2005),
    * tree-merged: ONE pass over the column-pruned key column with
    * FIXED per-task state — no shuffle, no sampling job, no unbounded
    * collect. This is the skew-detection primitive for salted joins:
    * the hot set must be BROADCASTABLE anyway, so bounding its size at
    * the detector is the honest 100 TB design (the old alternative —
    * sample + groupBy + collect — was an extra full-scan-shaped
    * shuffle job whose output size was unbounded).
    *
    * Guarantees (Misra-Gries invariant, preserved under merges —
    * Agarwal et al., "Mergeable Summaries", PODS 2012): summary
    * counts are one-sided UNDERestimates of true counts, each short
    * by at most N/(capacity+1); hence every key with true count
    * > N/(capacity+1) is present in the final summary. The trim is
    * the batch Misra-Gries step — drop beyond-capacity smallest
    * entries AND debit the survivors by the largest dropped count —
    * NOT a plain top-k truncation, which would discard eviction mass
    * and void the bound under adversarial interleavings. `minCount`
    * thresholds apply to summary counts (i.e. conservatively).
    * Missing a merely-warm key is SAFE for salting (it just isn't
    * salted, AQE still covers it); a false positive is also safe (a
    * cold key gets harmless salts) — any hot-key superset/subset
    * yields identical join output. */
  /** φ-heavy-hitters: keys whose frequency is at least `minFraction`
    * of the table's rows — the standard definition, with N counted
    * inside the SAME bounded pass (no separate count job). Survival
    * guarantee holds whenever minFraction >= 1/capacity. A fixed
    * absolute `minCount` is the wrong contract for skew detection:
    * what overflows a reducer is a FRACTION of the table, and an
    * absolute cutoff tuned at one SF silently marks half the keys
    * hot at another (measured: minCount=6 at sf0.1 made ~40k keys
    * "hot" — a 1.2 MB In-literal and an 8x fan-out of half the build
    * side). */
  def heavyHitters(df: DataFrame, keyCol: String, capacity: Int,
      minFraction: Double): Array[Long] = {
    require(minFraction >= 1.0 / capacity,
      s"minFraction $minFraction below the 1/capacity survival guarantee")
    val withTotal = heavyHittersWithCounts(df, keyCol, capacity)
    // summary counts under-estimate by <= N/(capacity+1), so the
    // fraction threshold is debited by the same bound: every true
    // phi-hitter clears it (near-threshold false positives are the
    // safe direction for every caller of this detector)
    val thresh = (withTotal._2 *
      (minFraction - 1.0 / (capacity + 1))).toLong.max(2L)
    withTotal._1.iterator.filter(_._2 >= thresh).map(_._1).toArray.sorted
  }

  def heavyHitters(df: DataFrame, keyCol: String, capacity: Int,
      minCount: Long): Array[Long] = {
    val (m, _) = heavyHittersWithCounts(df, keyCol, capacity)
    m.iterator.filter(_._2 >= minCount).map(_._1).toArray.sorted
  }

  /** The shared summary pass: (bounded key->count summary, total N). */
  private def heavyHittersWithCounts(df: DataFrame, keyCol: String,
      capacity: Int): (scala.collection.mutable.LongMap[Long], Long) = {
    import scala.collection.mutable
    // batch Misra-Gries: keep the top `capacity` entries debited by
    // d = the largest dropped count (dropped entries all have count
    // <= d, so this is "decrement every counter by d" with the
    // non-positive ones removed). Each trim removes >= (capacity+1)*d
    // of counted mass, so the total debit any key ever takes is
    // <= N/(capacity+1) — the survival bound documented above.
    def trim(m: mutable.LongMap[Long]): mutable.LongMap[Long] =
      if (m.size <= capacity) m
      else {
        val sorted = m.toSeq.sortBy(-_._2)
        val d = sorted(capacity)._2
        val kept = mutable.LongMap.empty[Long]
        sorted.iterator.take(capacity).foreach { case (k, c) =>
          if (c > d) kept(k) = c - d
        }
        kept
      }
    val cap = capacity
    val keys = df.select(col(keyCol).cast("long").as("__k"))
      .filter(col("__k").isNotNull)
    // Under-split guard: the summary pass parallelizes per SPLIT, and
    // a single-row-group test file (or a skewed source) would run it
    // serially. Repartitioning costs one shuffle of bare 8-byte keys —
    // trivial at test scale; at 100 TB the scan has thousands of
    // natural splits and this branch never fires (shuffling the key
    // column of a 100 TB table IS the anti-pattern).
    val target = Partitions.cap(df.sparkSession)
    // hash-partition BY KEY: each key's full count lands in one
    // summary, so bounded trims can never split-and-drop a hot key
    val spreadKeys =
      if (keys.queryExecution.toRdd.getNumPartitions < target)
        keys.repartition(target, col("__k"))
      else keys
    val (merged, total) = spreadKeys
      .queryExecution.toRdd.map(_.getLong(0))
      .treeAggregate((mutable.LongMap.empty[Long], 0L))(
        { case ((m, n), k) =>
          m(k) = m.getOrElse(k, 0L) + 1L
          (if (m.size > cap * 2) trim(m) else m, n + 1L)
        },
        { case ((a, na), (b, nb)) =>
          b.foreach { case (k, c) => a(k) = a.getOrElse(k, 0L) + c }
          (trim(a), na + nb)
        })
    (merged, total)
  }
}
