package graft.model

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.functions._
import graft.operators.{GroupCatalog, GroupedChain, Partitions, PrefixSum, RangeAssign}

/** The halo-catalog-aware dataset — scida's ArepoSnapshot surface
  * (reference: src/scida/customs/arepo/dataset.py: `add_catalogIDs`
  * :312, `add_groupquantity_to_particles` :519, `get_grouplengths`
  * :555, `get_groupoffsets` :592, `get_subhalolengths` :603,
  * `get_subhalooffsets` :625, `grouped` :664, selector.py:100
  * `select_group`) as one facade over the graft operators.
  *
  * Representation note: scida's particles carry an implicit POSITION
  * and membership is derived from (offset, length) slices; the
  * distributed-native representation makes membership EXPLICIT — the
  * particle frame carries its group key — and offsets become derived
  * artifacts (GroupCatalogSpec proves positional slicing ≡ membership
  * selection). Every method here returns a lazy plan built from the
  * individually plan-audited operators.
  */
final class CatalogDataset(
    val particles: DataFrame,
    val groupKey: String,
    val subKey: Option[String] = None) {

  /** Per-group particle counts — get_grouplengths. */
  def groupLengths: DataFrame =
    particles.groupBy(groupKey).agg(count(lit(1)).as("len"))

  /** Exclusive per-group offsets in ascending group order —
    * get_groupoffsets, via the two-phase parallel prefix sum. */
  def groupOffsets(buckets: Int = Partitions.FromPlan): DataFrame =
    PrefixSum.exclusive(groupLengths, groupKey, col("len"), buckets)

  /** Per-subhalo lengths — get_subhalolengths (requires subKey). */
  def subhaloLengths: DataFrame =
    particles.groupBy(groupKey, requireSub).agg(count(lit(1)).as("slen"))

  /** Fuzz-aware nested subhalo offsets — get_subhalooffsets:
    * groupOffset(parent) + local cumulative of earlier subhalos. */
  def subhaloOffsets(buckets: Int = Partitions.FromPlan): DataFrame =
    GroupCatalog.subhaloOffsets(
      groupLengths, groupKey, col("len"),
      subhaloLengths, requireSub, col("slen"), buckets)

  /** Broadcast a per-group quantity onto member particles —
    * add_groupquantity_to_particles. */
  def addGroupQuantity(groupTable: DataFrame, quantity: String): DataFrame =
    particles.join(broadcast(groupTable.select(col(groupKey), col(quantity))),
      Seq(groupKey))

  /** Interval containment labeling — add_catalogIDs' value-interval
    * form: assign each particle a band label by a sorted driver-known
    * band table (join-free codegen'd binary search). */
  def addCatalogIds(value: Column,
      bands: Seq[(Double, Double, String)]): DataFrame =
    RangeAssign.assignSorted(particles, value, bands)

  /** Composable per-group operation chain — grouped(fields).…
    * (GroupAwareOperation): order fixes the within-group sequence. */
  def grouped[K: Encoder, V: Encoder](key: Column, order: Column, value: Column)(
      implicit enc: Encoder[(K, Long, V)]): GroupedChain[K, V] =
    GroupedChain.of[K, V](particles, key, order, value)

  /** Particles of the given groups — select_group as a pushed-down
    * membership filter. */
  def selectGroups(ids: Seq[Any]): DataFrame =
    GroupCatalog.selectByIds(particles, groupKey, ids)

  /** Particles of the given subhalos. */
  def selectSubhalos(ids: Seq[Any]): DataFrame =
    GroupCatalog.selectByIds(particles, requireSub, ids)

  /** Particles of the `localIdx`-th subhalo (in subhalo-key order) of
    * one group — scida return_data(haloID=…, localSubhaloID=…). The
    * driver-side lookup touches ONE group's subhalo roster (tiny);
    * the particle selection stays a pushed-down filter. */
  def selectLocalSubhalo(groupId: Any, localIdx: Int): DataFrame = {
    val roster = subhaloLengths.filter(col(groupKey) === groupId)
      .orderBy(requireSub).select(requireSub).collect()
    require(localIdx >= 0 && localIdx < roster.length,
      s"group $groupId has ${roster.length} subhalos; asked for #$localIdx")
    selectSubhalos(Seq(roster(localIdx).get(0)))
  }

  private def requireSub: String = subKey.getOrElse(
    throw new IllegalStateException(
      "this catalog has no subhalo key; construct with subKey = Some(...)"))
}
