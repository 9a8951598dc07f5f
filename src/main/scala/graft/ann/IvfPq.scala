package graft.ann

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** IVF-PQ: the composite index billion-vector ANN systems actually
  * deploy (Jégou et al. 2011's IVFADC; the FAISS default at scale) —
  * an IVF coarse quantizer prunes the search to nProbe cells, and
  * inside each cell vectors are stored as product-quantized codes of
  * their RESIDUAL (vector − cell centroid). Residuals concentrate
  * near zero, so the same code budget quantizes them far better than
  * raw vectors — that is the whole reason the composite beats either
  * part alone.
  *
  * Scale posture mirrors Ivf and Pq: both trainings run driver-side
  * on bounded samples; the corpus-sized work — residual computation,
  * encoding, the ADC scan — is map-side over broadcast codebooks;
  * the scan touches only probed cells (partition-prunable when the
  * code table is stored clustered by cell) and only the `refine`
  * survivors' real vectors are read for the exact re-rank.
  */
object IvfPq {

  final case class CellCode(id: Long, cell: Int, code: Array[Byte])

  final case class Index(centers: Array[Array[Double]], cb: Pq.Codebooks)

  /** Residual frame: (id, cell, res = vec − centroid(cell)), map-side
    * against the broadcast (tiny) centroid table. */
  private def residuals(indexed: DataFrame, centers: Array[Array[Double]],
      id: String, vec: String): DataFrame = {
    val spark = indexed.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centers)
    indexed.select(col(id).cast("long").as("id"), col("cell"),
      col(vec).cast("array<double>").as("v"))
      .as[(Long, Int, Seq[Double])]
      .mapPartitions { rows =>
        val cs = bc.value
        rows.map { case (rid, cell, v) =>
          val c = cs(cell)
          val r = new Array[Double](c.length)
          var j = 0
          while (j < c.length) { r(j) = v(j) - c(j); j += 1 }
          (rid, cell, r.toSeq)
        }
      }.toDF("id", "cell", "res")
  }

  /** Build the composite index over a trained coarse quantizer
    * (`coarse` = the cell-labeled frame + its centroids, as
    * `Ivf.build` returns them): PQ codebooks trained on residuals,
    * then per-vector (cell, code) rows — the at-rest representation
    * (store clustered by cell to make probes partition-pruned scans). */
  def build(coarse: (DataFrame, Array[Array[Double]]), id: String,
      vec: String, m: Int, k: Int): (Dataset[CellCode], Index) = {
    val (indexed, centers) = coarse
    val spark = indexed.sparkSession
    import spark.implicits._
    // three consumers read `res` (Pq.train's sample, Pq.encode, the
    // cell join-back) — without a barrier each would replay the whole
    // residual lineage including the upstream cell assignment
    val res = graft.CacheScope.track(residuals(indexed, centers, id, vec))
    val cb = Pq.train(res, "id", "res", m, k)
    val codes = Pq.encode(res, "id", "res", cb)
      .joinWith(res.select(col("id").cast("long").as("rid"), col("cell")),
        col("id") === col("rid"))
      .map { case (c, r) => CellCode(c.id, r.getInt(1), c.code) }
    (codes, Index(centers, cb))
  }

  /** Probe the nProbe nearest cells; ADC-scan their codes with a
    * PER-CELL distance table (the residual query differs per cell:
    * q − centroid(cell)); TakeOrdered `refine` candidates; exact
    * cosine re-rank on their real vectors only. */
  /** The nProbe cells nearest the query (L2 to centroids, index
    * tie-break) — public so a parquet-backed code table can pre-prune
    * its scan with a Column `isin` on these BEFORE the typed filter
    * in `topK` (typed lambdas are black boxes to partition pruning). */
  def probeCells(index: Index, query: Seq[Double], nProbe: Int): Array[Int] = {
    val q = query.toArray
    def l2(c: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < c.length) { val d = c(j) - q(j); s += d * d; j += 1 }
      math.sqrt(s)
    }
    index.centers.zipWithIndex
      .sortBy { case (c, i) => (l2(c), i) }.take(nProbe).map(_._2)
  }

  def topK(codes: Dataset[CellCode], index: Index, embs: DataFrame,
      id: String, vec: String, query: Seq[Double], kTop: Int,
      nProbe: Int, refine: Int, digits: Int = 6): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val q = query.toArray
    val probes = probeCells(index, query, nProbe)
    // per-cell ADC tables for the probed cells only: residual query ↔
    // every subspace centroid (nProbe × M × K doubles — tiny)
    val tables: Map[Int, Array[Array[Double]]] = probes.map { cell =>
      val cc = index.centers(cell)
      val rq = Array.tabulate(q.length)(j => q(j) - cc(j))
      cell -> Array.tabulate(index.cb.m) { mi =>
        val qs = rq.slice(mi * index.cb.subDim, (mi + 1) * index.cb.subDim)
        index.cb.centroids(mi).map { c =>
          var dd = 0.0; var j = 0
          while (j < qs.length) { val t = qs(j) - c(j); dd += t * t; j += 1 }
          dd
        }
      }
    }.toMap
    val tb = spark.sparkContext.broadcast(tables)
    val probeSet = probes.toSet
    val cand = codes
      .filter(c => probeSet.contains(c.cell))
      .mapPartitions { rows =>
        val ts = tb.value
        rows.map { c =>
          val t = ts(c.cell)
          var s = 0.0; var mi = 0
          while (mi < t.length) { s += t(mi)(c.code(mi) & 0xff); mi += 1 }
          (c.id, s)
        }
      }.toDF("__cid", "__adc")
      .orderBy(col("__adc"), col("__cid")).limit(refine) // TakeOrdered
    val qCol = array(query.map(lit): _*)
    Ann.bruteForceTopK(
      embs.join(cand, embs(id) === cand("__cid"), "left_semi"),
      id, vec, qCol, kTop, digits)
  }
}
