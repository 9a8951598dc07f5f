package graft

import org.apache.spark.sql.functions._
import graft.ann.{Ann, Pq}

/** Product quantization: codebook training, byte encoding, ADC
  * candidate scan + exact re-rank (Jégou et al., TPAMI 2011).
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  test("lossless regime: <=k distinct subvectors per subspace → exact top-k") {
    // vectors assembled from 4 distinct patterns per 2-dim subspace;
    // k=4 centroids can represent them exactly, so ADC ranking must
    // reproduce true L2 ranking and the refined top-k is exact
    val pats = Array(Array(0.0, 0.0), Array(1.0, 0.0), Array(0.0, 1.0), Array(5.0, 5.0))
    val rows = (0 until 64).map { i =>
      val v = Array(pats(i % 4), pats((i / 4) % 4), pats((i / 16) % 4)).flatten
      (i.toLong, v.toSeq)
    }
    val embs = rows.toDF("vec_id", "embedding")
    val cb = Pq.train(embs, "vec_id", "embedding", m = 3, k = 4, sampleN = 64)
    val codes = Pq.encode(embs, "vec_id", "embedding", cb)
    assert(codes.head().code.length == 3) // 6 doubles → 3 bytes
    val query = Seq(1.0, 0.0, 0.0, 1.0, 5.0, 5.0)
    val got = Pq.topK(codes, embs, cb, "vec_id", "embedding", query,
      k = 5, refine = 64).select("vec_id").as[Long].collect().toSeq
    val want = Ann.bruteForceTopK(embs, "vec_id", "embedding",
      array(query.map(lit): _*), 5).select("vec_id").as[Long].collect().toSeq
    assert(got == want)
  }

  test("recall@10 on real embeddings with 32x compression") {
    val embs = graft.sources.Tables.embeddings(spark, sfDir)
    val cb = Pq.train(embs, "vec_id", "embedding", m = 8, k = 16)
    val codes = Pq.encode(embs, "vec_id", "embedding", cb).cache()
    val query = embs.orderBy("vec_id").select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)
    val exact = Ann.bruteForceTopK(embs, "vec_id", "embedding",
      array(query.map(lit): _*), 10).select("vec_id").as[Long].collect().toSet
    val approx = Pq.topK(codes, embs, cb, "vec_id", "embedding", query,
      k = 10, refine = 100).select("vec_id").as[Long].collect().toSet
    val recall = (exact intersect approx).size / 10.0
    codes.unpersist()
    assert(recall >= 0.5, s"recall@10 = $recall")
  }

  test("IVF-PQ: exhaustive probe + full refine == brute force") {
    val embs = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") =!= 0)
    val n = embs.count().toInt
    val (codes, index) = graft.ann.IvfPq.build(
      graft.ann.Ivf.build(embs, "vec_id", "embedding", nCells = 8),
      "vec_id", "embedding", m = 8, k = 16)
    val query = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val got = graft.ann.IvfPq.topK(codes, index, embs, "vec_id", "embedding",
      query, kTop = 10, nProbe = 8, refine = n)
      .select("vec_id").as[Long].collect().toSeq
    val want = Ann.bruteForceTopK(embs, "vec_id", "embedding",
      array(query.map(lit): _*), 10).select("vec_id").as[Long].collect().toSeq
    assert(got == want)
  }

  test("IVF-PQ: bounded probe + bounded refine keeps recall and prunes the scan") {
    val embs = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") =!= 0)
    val (codes, index) = graft.ann.IvfPq.build(
      graft.ann.Ivf.build(embs, "vec_id", "embedding", nCells = 8),
      "vec_id", "embedding", m = 8, k = 16)
    val cached = codes.cache()
    val query = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val exact = Ann.bruteForceTopK(embs, "vec_id", "embedding",
      array(query.map(lit): _*), 10).select("vec_id").as[Long].collect().toSet
    val approx = graft.ann.IvfPq.topK(cached, index, embs, "vec_id", "embedding",
      query, kTop = 10, nProbe = 4, refine = 100)
      .select("vec_id").as[Long].collect().toSet
    val recall = (exact intersect approx).size / 10.0
    // the scan half: probing 4 of 8 cells must touch well under the corpus
    def l2(c: Array[Double]): Double =
      math.sqrt(c.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum)
    val probes = index.centers.zipWithIndex
      .sortBy { case (c, i) => (l2(c), i) }.take(4).map(_._2).toSet
    val scanned = cached.filter(c => probes.contains(c.cell)).count()
    cached.unpersist()
    assert(recall >= 0.5, s"IVF-PQ recall@10 = $recall")
    assert(scanned < embs.count(), s"probe must prune the code scan ($scanned)")
  }
}
