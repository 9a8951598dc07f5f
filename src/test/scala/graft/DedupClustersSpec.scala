package graft

import org.apache.spark.sql.DataFrame
import graft.dedup.Dedup

/** Connected components over near-dup pairs — transitive closure
  * clustering for non-transitive similarity (a~b, b~c, a!~c).
  */
class DedupClustersSpec extends SparkSpec {
  import spark.implicits._

  test("chains collapse to one cluster, isolates keep their own id") {
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    // chain 1-2-3-4 (diameter 3, needs multiple rounds), pair 5-6, isolate 7
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    val out = Dedup.connectedComponents(ids, pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("propagation reaches min through the far end of a chain") {
    // min id at the END of the chain: label must travel the diameter
    val ids = (1L to 6L).toDF("doc_id")
    val pairs = Seq((6L, 5L), (5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)).toDF("a", "b")
    val out = Dedup.connectedComponents(ids, pairs)
      .as[(Long, Long)].collect().toMap
    assert(out.values.toSet == Set(1L))
  }

  test("clustersIncremental merges batch pairs into persisted labels") {
    // base components: {1,2,3} (label 1), {5,6} (label 5), isolate 8
    val baseLabels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (5L, 5L), (6L, 5L), (8L, 8L)).toDF("doc_id", "cluster")
    val batch = Seq(9L, 10L, 11L).toDF("doc_id")
    // batch doc 9 BRIDGES components 1 and 5 (touching non-label
    // members 3 and 6 — projection must go through the labels);
    // batch pair 10-11 forms a fresh cluster; nothing touches 8
    val pairs = Seq((9L, 3L), (9L, 6L), (10L, 11L)).toDF("a", "b")
    val out = Dedup.clustersIncremental(baseLabels, batch, pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, // base labels keep the merged min
      5L -> 1L, 6L -> 1L, // RELABELED: merge lowered the minimum
      8L -> 8L, // untouched base isolate
      9L -> 1L, // the bridge joins the merged component
      10L -> 10L, 11L -> 10L)) // fresh batch-only cluster
    // must equal full recompute over (base-label links + new pairs)
    val allIds = (Seq(1L, 2L, 3L, 5L, 6L, 8L) ++ Seq(9L, 10L, 11L)).toDF("doc_id")
    val fullEdges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
      .union(pairs)
    val full = Dedup.connectedComponents(allIds, fullEdges)
      .as[(Long, Long)].collect().toMap
    assert(out == full)
  }

  test("clustersIncremental: empty pair batch is identity + self-labels") {
    val baseLabels = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster")
    val batch = Seq(7L).toDF("doc_id")
    val pairs = Seq.empty[(Long, Long)].toDF("a", "b")
    val out = Dedup.clustersIncremental(baseLabels, batch, pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 7L -> 7L))
  }

  test("incremental pairs from a persisted base index match the inline derivation") {
    // the bench path's steady-state artifacts (band table + shingle
    // table written at ingest) must produce the exact pair set the
    // inline base derivation does
    import java.nio.file.Files
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "entirely different content with no overlap here"),
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "unrelated new batch document about other things")
    ).toDF("doc_id", "text")
    val base = docs.filter($"doc_id" < 10L)
    val batch = docs.filter($"doc_id" >= 10L)
    val dir = Files.createTempDirectory("graft_bidx").toString
    Dedup.minhashBandIndex(base, "doc_id", "text", k = 3, sigLen = 64,
      bands = 16).write.parquet(s"$dir/bands")
    Dedup.withShingles(base, "doc_id", "text", 3).write.parquet(s"$dir/sh")
    val fromIdx = Dedup.minhashIncrementalPairsFromIndex(
        spark.read.parquet(s"$dir/bands"), spark.read.parquet(s"$dir/sh"),
        batch, "doc_id", "text", k = 3, sigLen = 64, bands = 16, minJ = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val inline = Dedup.minhashIncrementalPairs(base, batch, "doc_id", "text",
        k = 3, sigLen = 64, bands = 16, minJ = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(fromIdx == inline)
    assert(fromIdx.map(p => (p._1, p._2)) == Set((10L, 1L)))
  }

  test("clustersIncremental never shuffles the base label table") {
    val baseLabels = Seq((1L, 1L), (2L, 1L), (5L, 5L)).toDF("doc_id", "cluster")
    val batch = Seq(9L).toDF("doc_id")
    val pairs = Seq((9L, 2L)).toDF("a", "b")
    val out = Dedup.clustersIncremental(baseLabels, batch, pairs)
    // the O(batch) contract: base labels ride the STREAMED side of
    // broadcast joins — no SortMergeJoin / ShuffledHashJoin anywhere
    // in the merge plan (the projected-graph CC ran on the driver)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan.take(800))
    assert(!plan.contains("ShuffledHashJoin"), plan.take(800))
  }

  test("large-star/small-star matches union-find on chain, star, and random graphs") {
    // driverEdgeLimit = 0 forces the distributed star rounds; the
    // default limit takes the driver union-find fast path
    def dist(ids: DataFrame, pairs: DataFrame) =
      Dedup.connectedComponents(ids, pairs, driverEdgeLimit = 0L)
        .as[(Long, Long)].collect().toMap
    def fast(ids: DataFrame, pairs: DataFrame) =
      Dedup.connectedComponents(ids, pairs).as[(Long, Long)].collect().toMap
    // chain of 200 (diameter 199): min-label propagation would need
    // ~200 rounds, star rewriting must land the SAME labels within its
    // default 25
    val chainIds = (1L to 200L).toDF("doc_id")
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("a", "b")
    val got = dist(chainIds, chain)
    assert(got == fast(chainIds, chain) && got.values.toSet == Set(1L))
    // star graph rooted at a high id (asymmetry check)
    val starIds = (1L to 12L).toDF("doc_id")
    val star = (1L to 11L).map(i => (12L, i)).toDF("a", "b")
    assert(dist(starIds, star).values.toSet == Set(1L))
    // deterministic pseudo-random pairs over 300 ids: several
    // components of irregular shape; exact match vs union-find
    val rIds = (0L until 300L).toDF("doc_id")
    val rnd = (0 until 240).map { i =>
      val h = i * 2654435761L
      ((h % 300 + 300) % 300, (h / 300 % 300 + 300) % 300)
    }.filter(p => p._1 != p._2).toDF("a", "b")
    assert(dist(rIds, rnd) == fast(rIds, rnd))
    // empty pair set: all singletons
    assert(dist((1L to 3L).toDF("doc_id"), Seq.empty[(Long, Long)].toDF("a", "b"))
      == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("distributed star path matches the union-find fast path") {
    val ids = (1L to 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L), (8L, 9L), (7L, 9L))
      .toDF("a", "b")
    val fast = Dedup.connectedComponents(ids, pairs)
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(ids, pairs, driverEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(fast == dist)
    assert(fast == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L,
      6L -> 6L, 7L -> 6L, 8L -> 6L, 9L -> 6L))
  }

  test("corpusLabels: label contract (cluster = component-minimum) and idempotence") {
    // duplicated texts must share a label equal to the minimum id of
    // the group; unique texts label themselves — the contract
    // split_by_cluster/dedup_clusters_incremental's persisted
    // artifacts rely on (cluster IS the component minimum, so merges
    // can project onto labels without a separate min lookup)
    val docs = Seq(
      (3L, "the exact same text body repeated verbatim here ok"),
      (1L, "the exact same text body repeated verbatim here ok"),
      (7L, "a completely different document with its own words"),
      (9L, "the exact same text body repeated verbatim here ok"))
      .toDF("doc_id", "text")
    val labels = Dedup.corpusLabels(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 3L -> 1L, 9L -> 1L, 7L -> 7L))
    // idempotence: labeling an already-labeled corpus changes nothing
    val again = Dedup.corpusLabels(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(again == labels)
  }
}
