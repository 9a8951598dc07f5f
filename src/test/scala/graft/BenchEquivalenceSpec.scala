package graft

/** The one-build contract behind `QueryDef`: Bench times each query's
  * `build`, and Verify checks that same frame — directly, or through
  * the verdict `gate` of the sketch bound checks and ANN recall
  * checks. Artifact-backed oracles name the artifact their build
  * wrote, as a pure function of the dataset dir. */
class BenchEquivalenceSpec extends SparkSpec {

  private val gated = Set("sketch_distinct", "sketch_union", "sketch_freq",
    "sketch_percentiles", "ann_ivf", "ann_pq", "ann_ivfpq", "ann_batch_ivf")

  /** The parquet paths an oracle replays from. */
  private def artifacts(sql: String): Seq[String] =
    """read_parquet\('([^']*)/\*\.parquet'\)""".r.findAllMatchIn(sql)
      .map(_.group(1)).toSeq

  test("every non-gated query: Bench times the build Verify checks") {
    val q = SparkEntry.queries
    val b = SparkEntry.benchQueries
    assert(q.keySet == b.keySet)
    assert(q.size == 186)
    for (n <- q.keySet -- gated)
      assert(b(n) eq q(n), s"$n: Bench and Verify run different builds")
  }

  test("the gated set is exactly the 4 sketch rows and the 4 recall verdicts") {
    val q = SparkEntry.queries
    val b = SparkEntry.benchQueries
    assert(q.keySet.filter(n => !(b(n) eq q(n))) == gated)
  }

  // steady-state builds over per-dataset artifacts: one build, with rows
  for (q <- Seq("lsh_bucket_stats", "text_compress_ratio",
      "dedup_clusters_incremental", "bpe_tokens", "dedup_lines",
      "logreg_predict", "perplexity_bucket", "ann_delta_search",
      "sample_diverse")) {
    test(s"$q: steady-state bench output == gated build output") {
      assert(SparkEntry.benchQueries(q) eq SparkEntry.queries(q))
      assert(CacheScope.withScope(
        SparkEntry.queries(q)(spark, sfDir).limit(1).collect()).nonEmpty)
    }
  }

  test("oracleSql evaluates with no dataset declared, naming no built artifact") {
    val free = SparkEntry.oracleSql
    assert(free.keySet == SparkEntry.oracleSqlAt(sfDir).keySet)
    // perfbench replays ann_ivf's constant recall verdict this way
    assert(free("ann_ivf") == "SELECT 10 AS k, TRUE AS recall_ok")
    val named = free.values.flatMap(artifacts).toSeq
    assert(named.nonEmpty)
    named.foreach(p => assert(!new java.io.File(p).exists,
      s"an undeclared dataset's oracle names an existing artifact: $p"))
  }

  test("an artifact-backed oracle names the artifacts its build wrote") {
    val backed = SparkEntry.oracleSqlAt(sfDir).toSeq.sortBy(_._1)
      .map { case (n, o) => n -> artifacts(o) }.filter(_._2.nonEmpty)
    assert(backed.map(_._1).toSet == Set("bpe_tokens", "cluster_assign",
      "dedup_clusters_incremental", "dedup_embcos", "dedup_semantic",
      "dedup_simhash", "kmeans_step", "lsh_bucket_stats",
      "pack_sequences_bpe", "sample_diverse", "split_by_cluster",
      "text_compress_ratio"))
    for ((n, paths) <- backed) {
      CacheScope.withScope(SparkEntry.queries(n)(spark, sfDir).collect())
      paths.foreach { p =>
        val parts = Option(new java.io.File(p).listFiles()).toSeq.flatten
        assert(parts.exists(_.getName.endsWith(".parquet")),
          s"$n's oracle reads $p, which its build did not write")
      }
      // the oracle of another dataset never names these paths
      assert(artifacts(SparkEntry.oracleSqlAt(sfDir + "_other")(n))
        .intersect(paths).isEmpty, n)
    }
  }
}
