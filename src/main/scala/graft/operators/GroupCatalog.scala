package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Nested (group ⊃ subhalo) catalog offsets and membership selectors —
  * the scida halo-catalog machinery beyond flat group offsets
  * (reference: src/scida/customs/arepo/dataset.py:603
  * `get_subhalolengths`, :625 `get_subhalooffsets`,
  * src/scida/customs/arepo/selector.py:100 `select_group`).
  *
  * scida's layout contract: particles are stored grouped by halo, and
  * within each halo its subhalos' particles come first (in subhalo
  * order), followed by unbound "fuzz" — so a group's length may
  * exceed the sum of its subhalos' lengths. The subhalo offset
  * decomposes exactly as the reference computes it:
  *
  *   offset(s) = groupOffset(grnr(s)) + localOffset(s)
  *
  * where localOffset is the cumulative length of earlier subhalos in
  * the SAME group. Distributed translation: group offsets via the
  * two-phase parallel PrefixSum (no global window), local offsets via
  * a window partitioned BY GROUP — each group's subhalo list is tiny,
  * so the window parallelizes across groups and nothing serializes
  * into one task at 1e8 halos.
  */
object GroupCatalog {

  /** Subhalo offset table. `groups`: one row per group (groupKey,
    * groupLen — may exceed the subhalo sum, fuzz included);
    * `subhalos`: one row per subhalo (groupKey = parent, subKey,
    * subLen). Adds `local_offset` (first-particle index within the
    * parent group) and `offset` (global first-particle index).
    * `buckets` is the range-bucket count of both the group prefix sum
    * and the subhalo side; by default each side takes its own count
    * from its plan ([[Partitions]]), so a 15,000-row catalog runs one
    * bucket and a 1e8-halo catalog as many as the session allows. */
  def subhaloOffsets(groups: DataFrame, groupKey: String, groupLen: Column,
      subhalos: DataFrame, subKey: String, subLen: Column,
      buckets: Int = Partitions.FromPlan): DataFrame = {
    val goff = PrefixSum.exclusive(groups, groupKey, groupLen, buckets, "__goff")
      .select(col(groupKey), col("__goff"))
    val inGroup = Window.partitionBy(groupKey).orderBy(subKey)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // RANGE-partition the subhalo side by parent: RangePartitioning
    // (groupKey) satisfies the window's ClusteredDistribution
    // (groupKey) — same key, same partition, by binary search on the
    // key — and so does the SinglePartition a one-bucket count plans
    // (no sampling job then), so the window adds NO further exchange,
    // and the output
    // leaves here range-partitioned by group and sorted
    // (groupKey, subKey) inside each partition (the window's own
    // sort order), i.e. globally ordered across ascending partition
    // ids. Callers wanting ordered output `sortWithinPartitions`
    // instead of paying a global re-sort.
    Partitions.byRange(subhalos, buckets, col(groupKey))
      .withColumn("local_offset", sum(subLen).over(inGroup) - subLen)
      .join(goff, Seq(groupKey))
      .withColumn("offset", col("__goff") + col("local_offset"))
      .drop("__goff")
  }

  /** Per-particle-type subhalo offsets — scida's
    * `get_subhalolengths(parttype)` / `get_subhalooffsets(parttype)`
    * (reference: src/scida/customs/arepo/dataset.py:603,625): arepo
    * catalogs store per-subhalo length VECTORS (`SubhaloLenType`, one
    * component per particle type, particles of each type laid out
    * independently), so a type's offset table is exactly the scalar
    * machinery applied to that component — the reference likewise
    * slices column `pnum` and reruns its cumsum. Lengths come in as
    * array columns; `pType` selects the component (0-based). */
  def subhaloOffsetsByType(groups: DataFrame, groupKey: String,
      groupLenType: Column, subhalos: DataFrame, subKey: String,
      subLenType: Column, pType: Int,
      buckets: Int = Partitions.FromPlan): DataFrame = {
    require(pType >= 0, s"particle type must be >= 0, got $pType")
    // out-of-range element_at returns null in non-ANSI mode and nulls
    // would silently propagate through every prefix sum — fail loudly
    def at(arr: Column) = {
      val e = element_at(arr, pType + 1)
      when(e.isNull, raise_error(concat(
        lit(s"particle type $pType out of range for length vector "),
        arr.cast("string")))).otherwise(e)
    }
    subhaloOffsets(groups, groupKey, at(groupLenType),
      subhalos, subKey, at(subLenType), buckets)
  }

  /** Per-particle LOCAL subhalo index — scida's
    * `compute_localsubhaloindex` / `get_localshidx` (reference:
    * src/scida/customs/arepo/dataset.py:1120,1236): each particle
    * gets the rank of its subhalo WITHIN its parent group (0-based,
    * subhalo-key order), or -1 for fuzz particles whose subhalo is
    * not in the bound catalog. The reference derives it positionally
    * by searchsorted against the subhalo offset table; membership-
    * keyed data gives the same answer (positional ≡ membership is
    * proven in GroupCatalogSpec) as a window rank over the (small)
    * subhalo catalog joined onto the particles — the catalog side is
    * broadcast-sized relative to particles, and the window
    * parallelizes across groups. */
  def localSubhaloIndex(particles: DataFrame, pSubKey: String,
      subhalos: DataFrame, groupKey: String, subKey: String,
      outCol: String = "local_subhalo_idx"): DataFrame = {
    val w = Window.partitionBy(groupKey).orderBy(subKey)
    val idx = subhalos.select(col(subKey).as("__sk"),
      (row_number().over(w) - 1).as(outCol))
    particles.join(broadcast(idx), particles(pSubKey) === idx("__sk"), "left")
      .withColumn(outCol, coalesce(col(outCol), lit(-1)))
      .drop("__sk")
  }

  /** Membership selection by a driver-known object-id list — scida
    * `select_group` re-expressed distributed. The reference slices
    * positionally by (offset, length); on a cluster the same rows are
    * the membership equi-class of the id, so selection is a pushed-
    * down `In` filter (for literal id lists — reaches the parquet
    * scan as PushedFilters, pruning at the source) — the positional
    * and membership forms are proven equivalent in GroupCatalogSpec. */
  def selectByIds(particles: DataFrame, key: String, ids: Seq[Any]): DataFrame =
    particles.filter(col(key).isin(ids: _*))

  /** Membership selection against a DataFrame of ids (when the list
    * is itself the result of a query, e.g. "all subhalos above mass
    * M"): broadcast left-semi join — no shuffle of the particle side. */
  def selectByIdFrame(particles: DataFrame, key: String, ids: DataFrame): DataFrame =
    particles.join(broadcast(ids), particles(key) === ids(ids.columns.head), "left_semi")
}
