package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling for data mixing: every training-data
  * pipeline ends by drawing per-stratum fractions (per language, per
  * source, per quality band) to hit a target mixture. Random sampling
  * is non-reproducible across retries and partitionings; here
  * membership is a pure function of the row's id — hash the id, keep
  * the row iff the hash's first byte falls below the stratum's
  * threshold. Map-side only, no shuffle, stable under re-partitioning
  * and incremental re-runs (a doc's fate never changes as the corpus
  * grows — the property CCNet-style pipelines rely on).
  */
object Sampling {

  /** Two-lowercase-hex-digit threshold for a rate in [0,1]: rows keep
    * iff substr(md5(id),1,2) < threshold, giving floor(rate*256)/256
    * of the hash space. */
  private def hexThreshold(rate: Double): Option[String] = {
    val n = math.floor(rate * 256).toInt
    if (n >= 256) None else Some(f"$n%02x")
  }

  /** Keep-predicate for a stratified hash sample: `rates` maps stratum
    * value → keep fraction; absent strata keep everything. */
  def stratifiedKeep(idCol: Column, stratum: Column,
      rates: Map[String, Double]): Column = {
    val key = substring(md5(idCol.cast("string")), 1, 2)
    rates.foldLeft(lit(true)) { case (acc, (value, rate)) =>
      hexThreshold(rate) match {
        case Some(t) => when(stratum === value, key < lit(t)).otherwise(acc)
        case None    => when(stratum === value, lit(true)).otherwise(acc)
      }
    }
  }

  /** The sampled frame itself. */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
      rates: Map[String, Double]): DataFrame =
    df.filter(stratifiedKeep(col(idCol), col(stratumCol), rates))

  /** Temperature-reweighted mixture rates — the multilingual/domain
    * mixing standard (XLM-R/mT5-style `p_s ∝ f_s^α`): per-stratum
    * expected COPIES per doc `r_s = p_s / f_s` with
    * `p_s = f_s^α / Σ_t f_t^α`. α < 1 flattens the mixture (rare
    * strata upsample, head strata downsample); α = 1 is the identity
    * (every r_s = 1). Derived DRIVER-SIDE from one tiny per-stratum
    * count aggregate (O(strata) rows — rates are corpus statistics,
    * maintained at ingest in production, like hotKeysOf). */
  def temperatureRates(df: DataFrame, stratumCol: String,
      alpha: Double): Map[String, Double] = {
    val counts = df.groupBy(stratumCol).agg(count(lit(1)).as("n"))
      .collect().map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
    val total = counts.values.sum.toDouble
    val ps = counts.map { case (k, n) => k -> math.pow(n / total, alpha) }
    val z = ps.values.sum
    counts.map { case (k, n) => k -> (ps(k) / z) / (n / total) }
  }

  /** Deterministic repeat-resampling to target per-stratum rates:
    * each row emits `floor(r)` whole copies plus one more iff its
    * id-hash falls under frac(r) (6 hex digits of md5 against a
    * 1/16^6-resolution threshold) — expectation exactly r copies per
    * doc, membership a pure function of the id: reproducible across
    * partitionings, retries and corpus growth, like
    * [[stratifiedKeep]]. Map-side + explode, no shuffle; rows whose
    * copy count is 0 drop (that IS the downsampling). Strata absent
    * from `rates` keep exactly one copy. Output: input columns +
    * 1-based `copy`. */
  def repeatSample(df: DataFrame, idCol: String, stratumCol: String,
      rates: Map[String, Double]): DataFrame = {
    val whole = rates.foldLeft(lit(1L)) { case (acc, (v, r)) =>
      when(col(stratumCol) === v, lit(math.floor(r).toLong)).otherwise(acc) }
    val fracThr = rates.foldLeft(lit("000000")) { case (acc, (v, r)) =>
      when(col(stratumCol) === v, lit(fracHex6(r))).otherwise(acc) }
    val key = substring(md5(col(idCol).cast("string")), 1, 6)
    val copies = whole + when(key < fracThr, lit(1L)).otherwise(lit(0L))
    df.withColumn("__copies", copies)
      .filter(col("__copies") >= 1)
      .withColumn("copy", explode(sequence(lit(1L), col("__copies"))))
      .drop("__copies")
  }

  /** Six-lowercase-hex-digit threshold for frac(r) — shared with the
    * oracle replay so both engines compare the same strings. */
  def fracHex6(r: Double): String = {
    val f = r - math.floor(r)
    val n = math.floor(f * 0x1000000L).toLong
    f"${math.min(n, 0xffffffL)}%06x"
  }

  /** Deterministic hash-priority for budget filling: 8 hex digits of
    * the id's md5 (the "random" shuffle order, reproducible across
    * retries/partitionings) followed by the zero-padded id itself —
    * globally unique, so the fill order is total. Exposed for the
    * oracle replay (`substr(md5(CAST(id AS VARCHAR)),1,8) ||
    * lpad(CAST(id AS VARCHAR),20,'0')`). */
  def hashPriority(idCol: Column): Column =
    concat(substring(md5(idCol.cast("string")), 1, 8),
      lpad(idCol.cast("string"), 20, "0"))

  /** Token-budget curation — the terminal step of a training-data
    * pipeline: fill each stratum's token budget with a deterministic
    * hash-ordered prefix of its documents. A doc is kept iff the
    * stratum's running weight BEFORE it is under the budget, so each
    * budgeted stratum fills to at least its budget (overshooting by
    * at most one doc) and a doc's fate is a pure function of the
    * corpus + budgets, never of partitioning. Strata absent from
    * `budgets` are dropped (they have budget 0). Output: input
    * columns + `cum_before` (the running weight before the doc, for
    * audit).
    *
    * Scale shape: per-stratum exclusive prefix sums via
    * [[PrefixSum.exclusivePerGroup]] — range-partitioned (stratum,
    * priority) buckets, a bounded per-(bucket, stratum) driver
    * statistic, and a narrow streaming pass. Never a
    * PARTITION-BY-stratum window: that serializes a whole language
    * into one task. */
  def budgetSelect(df: DataFrame, idCol: String, stratumCol: String,
      weight: Column, budgets: Map[String, Long],
      buckets: Int = Partitions.FromPlan): DataFrame = {
    val inBudget = budgets.keys.toSeq
    val pri = PrefixSum.exclusivePerGroup(
      df.filter(col(stratumCol).isin(inBudget: _*))
        .withColumn("__pri", hashPriority(col(idCol))),
      stratumCol, "__pri", weight, buckets, outCol = "cum_before")
    val budget = budgets.foldLeft(lit(0L)) { case (acc, (v, b)) =>
      when(col(stratumCol) === v, lit(b)).otherwise(acc) }
    pri.filter(col("cum_before") < budget).drop("__pri")
  }
}
