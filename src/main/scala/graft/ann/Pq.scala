package graft.ann

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for ANN at memory scale — the standard
  * compressed-domain candidate generator (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011): split each
  * D-dim vector into M subvectors, k-means each subspace into K
  * centroids, store each vector as M small code indices (M bytes at
  * K<=256) — a 64-dim float vector compresses 32× to 8 bytes, which
  * is what lets a 1000-executor cluster hold a trillion-vector index
  * in RAM.
  *
  * Query path: build the M×K table of (query-subvector ↔ centroid)
  * distances ONCE (asymmetric distance computation), broadcast it,
  * scan the CODES with table lookups only (no float vectors touched),
  * take the top `refine` candidates via TakeOrdered, and exact-rank
  * just those against their real vectors. Training runs driver-side
  * on a bounded sample (the universal PQ practice — codebooks are
  * tiny and training is O(sample), not O(corpus)); everything
  * corpus-sized stays distributed.
  */
object Pq {

  /** [subspace][centroid][component] codebooks + geometry. */
  final case class Codebooks(m: Int, k: Int, subDim: Int,
      centroids: Array[Array[Array[Double]]]) {
    require(centroids.length == m && centroids.forall(_.length == k))
  }

  /** Train codebooks on a deterministic sample (ordered by `id`,
    * first `sampleN` rows): per-subspace Lloyd iterations, stride
    * seeding, ties to the lowest index, empty clusters keep their
    * centroid — fully deterministic, no RNG. */
  def train(embs: DataFrame, id: String, vec: String, m: Int, k: Int,
      sampleN: Int = 2048, iters: Int = 15): Codebooks = {
    val sample = embs.orderBy(id).limit(sampleN)
      .select(col(vec).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    trainFromSample(sample, m, k, iters)
  }

  /** Train from a caller-supplied sample (one driver job can feed
    * several indexes; see AnnQueries' embedding head). */
  def trainFromSample(sample: Array[Array[Double]], m: Int, k: Int,
      iters: Int = 15): Codebooks = {
    require(sample.nonEmpty, "empty training sample")
    val d = sample.head.length
    require(d % m == 0, s"subspaces m=$m must divide dims $d")
    val subDim = d / m
    val books = Array.tabulate(m) { mi =>
      val pts = sample.map(v => v.slice(mi * subDim, (mi + 1) * subDim))
      var cents = Array.tabulate(k)(ci => pts((ci.toLong * pts.length / k).toInt).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Double](subDim))
        val counts = new Array[Long](k)
        pts.foreach { p =>
          val a = nearest(cents, p)
          counts(a) += 1
          var j = 0
          while (j < subDim) { sums(a)(j) += p(j); j += 1 }
        }
        cents = Array.tabulate(k)(ci =>
          if (counts(ci) == 0) cents(ci)
          else sums(ci).map(_ / counts(ci)))
        it += 1
      }
      cents
    }
    Codebooks(m, k, subDim, books)
  }

  private def nearest(cents: Array[Array[Double]], p: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var ci = 0
    while (ci < cents.length) {
      var dd = 0.0; var j = 0
      val c = cents(ci)
      while (j < p.length) { val t = p(j) - c(j); dd += t * t; j += 1 }
      if (dd < bestD) { bestD = dd; best = ci } // strict < → ties to lowest
      ci += 1
    }
    best
  }

  final case class Code(id: Long, code: Array[Byte])

  /** Map-side encoding: each vector → M byte code (its per-subspace
    * nearest centroid). The code table is the at-rest index. */
  def encode(embs: DataFrame, id: String, vec: String, cb: Codebooks): Dataset[Code] = {
    val spark = embs.sparkSession
    import spark.implicits._
    require(cb.k <= 256, "byte codes hold at most 256 centroids")
    val bc = spark.sparkContext.broadcast(cb)
    embs.select(col(id).cast("long").as("id"),
      col(vec).cast("array<double>").as("v"))
      .as[(Long, Seq[Double])]
      .mapPartitions { rows =>
        val b = bc.value
        rows.map { case (rid, v) =>
          val arr = v.toArray
          val code = Array.tabulate(b.m) { mi =>
            nearest(b.centroids(mi),
              arr.slice(mi * b.subDim, (mi + 1) * b.subDim)).toByte
          }
          Code(rid, code)
        }
      }
  }

  /** ADC top-k: scan codes with a broadcast M×K distance table, take
    * `refine` candidates (TakeOrdered — no full sort), exact cosine
    * re-rank on their real vectors only. */
  def topK(codes: Dataset[Code], embs: DataFrame, cb: Codebooks,
      id: String, vec: String, query: Seq[Double], k: Int, refine: Int,
      digits: Int = 6): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    // asymmetric distance table: query subvector ↔ every centroid
    val q = query.toArray
    val table: Array[Array[Double]] = Array.tabulate(cb.m) { mi =>
      val qs = q.slice(mi * cb.subDim, (mi + 1) * cb.subDim)
      cb.centroids(mi).map { c =>
        var dd = 0.0; var j = 0
        while (j < qs.length) { val t = qs(j) - c(j); dd += t * t; j += 1 }
        dd
      }
    }
    val tb = spark.sparkContext.broadcast(table)
    val cand = codes.mapPartitions { rows =>
      val t = tb.value
      rows.map { c =>
        var s = 0.0; var mi = 0
        while (mi < t.length) { s += t(mi)(c.code(mi) & 0xff); mi += 1 }
        (c.id, s)
      }
    }.toDF("__cid", "__adc")
      .orderBy(col("__adc"), col("__cid")).limit(refine) // TakeOrdered
    val qCol = array(query.map(lit): _*)
    Ann.bruteForceTopK(
      embs.join(cand, embs(id) === cand("__cid"), "left_semi"),
      id, vec, qCol, k, digits)
  }
}
