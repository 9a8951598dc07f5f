package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: a k-means coarse
  * quantizer assigns every vector to its nearest centroid; a query
  * probes only the `nProbe` closest cells and exact-ranks inside them.
  *
  * Scale posture: training runs DRIVER-SIDE on a bounded sample (the
  * quantizer is k × dims doubles — a 256-cell × 1k-dim quantizer fits
  * in kilobytes, and a bounded sample trains it as well as the full
  * corpus); the centroid table rides the plan as one literal
  * (broadcast with the task binary), and assignment is a single
  * codegen'd map-side pass (`graft_nearest_centroid`) over the whole
  * corpus — no iterative distributed jobs in the query path, which is
  * what an ML-pipeline trainer would cost (10 scheduler round-trips
  * per build). At rest the corpus is partitioned (or clustered) by
  * cell so a probe is a partition-pruned scan of nProbe/k of the
  * data. The seed is fixed — the index is reproducible run to run.
  */
object Ivf {

  /** Train the quantizer and assign every vector its cell.
    *
    * The driver collects at most `MaxTrain` training vectors, chosen
    * DETERMINISTICALLY (the first in `id` order, one TakeOrdered) — a
    * coarse quantizer needs no more, the full corpus is never
    * collected, and the index is identical across partitionings and
    * cluster sizes.
    * @return (indexed frame = input + `cell` column, centroids) */
  def build(embs: DataFrame, id: String, vec: String,
      nCells: Int): (DataFrame, Array[Array[Double]]) = {
    val sample = embs.orderBy(id).limit(MaxTrain)
      .select(col(vec).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    val centers = train(sample, nCells)
    (assign(embs, vec, centers), centers)
  }

  /** The training-sample bound of [[build]]. */
  val MaxTrain = 65536

  /** `embs` plus its `cell` column: the codegen'd nearest-centroid
    * pass, the centroids a plan literal. */
  def assign(embs: DataFrame, vec: String,
      centers: Array[Array[Double]]): DataFrame =
    embs.withColumn("cell", call_function("graft_nearest_centroid", col(vec),
      typedLit(centers.map(_.toSeq).toSeq)))

  /** BATCH top-k through the IVF blocking — the similarity-JOIN shape
    * at corpus scale: instead of crossing every query with the whole
    * corpus (ann_batch's exact plan, O(Q·N) cosines), each query
    * scores only its `nProbe` nearest cells.
    *
    * Shape: the per-query probe list is derived IN-PLAN from the
    * centroid literal (Q×C distance rows → GroupTopK nProbe — tiny
    * beside the corpus, no driver collect of queries), then the
    * corpus joins the BROADCAST (query, cell) list on `cell` — with a
    * cell-partitioned at-rest corpus the join is a pruned scan of the
    * union of probed cells, and each corpus row meets only the
    * queries probing its cell (expected Q·nProbe/C per row, not Q).
    * Cosines are codegen'd map-side; per-query top-k via GroupTopK's
    * two-phase reduction. Output: (qId, id, cos, rk). */
  def batchTopK(indexed: DataFrame, centers: Array[Array[Double]],
      id: String, vec: String, queries: DataFrame, qId: String,
      qVec: String, k: Int, nProbe: Int, digits: Int = 6): DataFrame = {
    import graft.functions.VectorOps
    val centLit = typedLit(centers.map(_.toSeq).toSeq)
    val qcand = queries.select(col(qId), col(qVec),
        posexplode(centLit).as(Seq("cell", "__cent")))
      .withColumn("__d2",
        VectorOps.l2(col(qVec).cast("array<double>"), col("__cent")))
    val qCells = graft.operators.GroupTopK.topK(qcand, Seq(qId),
        Seq(col("__d2"), col("cell")), nProbe)
      .select(col(qId), col(qVec), col("cell"))
    val scored = indexed.join(broadcast(qCells), Seq("cell"))
      .withColumn("cos", VectorOps.roundAt(
        VectorOps.cosineFast(col(vec), col(qVec)), digits))
      .select(col(qId), col(id), col("cos"))
    graft.operators.GroupTopK.topK(scored, Seq(qId),
      Seq(col("cos").desc, col(id)), k)
  }

  /** Probe the `nProbe` nearest cells (by L2 to centroid, the k-means
    * geometry) and exact-rank the survivors by cosine. */
  def topK(indexed: DataFrame, centers: Array[Array[Double]], id: String,
      vec: String, query: Seq[Double], k: Int, nProbe: Int,
      digits: Int = 6): DataFrame = {
    def l2(c: Array[Double]): Double =
      math.sqrt(c.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum)
    val probes = centers.zipWithIndex.sortBy { case (c, i) => (l2(c), i) }
      .take(nProbe).map(_._2)
    val qCol = array(query.map(lit): _*)
    Ann.bruteForceTopK(
      indexed.filter(col("cell").isin(probes.map(Integer.valueOf): _*)),
      id, vec, qCol, k, digits)
  }

  /** Per-cell ANGULAR radii — the index-time statistic behind exact
    * pruned radius search: θmax(c) = the largest angle between cell
    * c's centroid and any of its members whose cosine is defined
    * (zero-norm members have NaN cosine; they can never pass a radius
    * filter, so they need no covering — Spark's `min` orders NaN above
    * every number and thus skips them). One O(cells) aggregate +
    * collect — a statistic, maintained beside the index at ingest. */
  def cellRadii(indexed: DataFrame, centers: Array[Array[Double]],
      vec: String): Map[Int, Double] = {
    import graft.functions.VectorOps
    val centLit = typedLit(centers.map(_.toSeq).toSeq)
    indexed.groupBy("cell")
      .agg(min(VectorOps.cosineFast(col(vec),
        element_at(centLit, col("cell") + 1))).as("min_cos"))
      .collect().map { r =>
        val mc = r.getDouble(1)
        r.getInt(0) -> math.acos(math.max(-1.0, math.min(1.0, mc)))
      }.toMap
  }

  /** Cells the angular triangle inequality cannot rule out for a
    * radius-`minCos` query: member angles obey
    * θ(q,x) >= θ(q,c) − θmax(c), so cell c is skipped only when even
    * its nearest possible member falls outside the radius —
    * θ(q,c) − θmax(c) > acos(minCos) (+ a 1e-3 rad guard covering the
    * 6-dp cosine rounding both engines apply). LOSSLESS: the pruned
    * scan returns exactly the full scan's rows. A cell whose radius
    * statistic is NaN (all members zero-norm) is safely skipped. */
  def radiusProbeCells(centers: Array[Array[Double]],
      radii: Map[Int, Double], q: Seq[Double], minCos: Double): Seq[Int] = {
    val qa = q.toArray
    val qn = math.sqrt(qa.map(x => x * x).sum)
    val thetaR = math.acos(math.max(-1.0, math.min(1.0, minCos)))
    centers.indices.filter { c =>
      val ct = centers(c)
      val cn = math.sqrt(ct.map(x => x * x).sum)
      val cosQC = ct.zip(qa).map { case (a, b) => a * b }.sum / (qn * cn)
      val thetaQC = math.acos(math.max(-1.0, math.min(1.0, cosQC)))
      thetaQC - radii.getOrElse(c, Double.NaN) <= thetaR + 1e-3
    }
  }

  /** EXACT radius search through lossless IVF pruning: precisely
    * `Ann.radiusSearch`'s rows, scanning only [[radiusProbeCells]] —
    * with a cell-partitioned at-rest corpus the probe is a
    * partition-pruned scan. The win grows with corpus clusteredness
    * (real embedding corpora cluster; uniform-random vectors prune
    * little — the bound is honest about that). */
  def radiusSearch(indexed: DataFrame, centers: Array[Array[Double]],
      radii: Map[Int, Double], id: String, vec: String, q: Seq[Double],
      minCos: Double, digits: Int = 6): DataFrame = {
    val probes = radiusProbeCells(centers, radii, q, minCos)
    Ann.radiusSearch(
      indexed.filter(col("cell").isin(probes.map(Integer.valueOf): _*)),
      id, vec, typedLit(q), minCos, digits)
  }

  /** Compact a delta segment into the cell-partitioned at-rest index
    * (the LSM merge behind ann_delta_search: fresh vectors serve from
    * a brute-scanned delta until compaction folds them into the
    * pruned layout). Assignment uses the EXISTING quantizer — the
    * one-pass codegen'd argmin, no retraining — and the append writes
    * only the delta's cells (dynamic partition overwrite is not
    * needed: parquet append adds files under the touched cell
    * directories, untouched cells' files are not rewritten). Returns
    * the delta cell assignment frame for statistic maintenance. */
  def compact(delta: DataFrame, centers: Array[Array[Double]],
      vec: String, path: String): DataFrame = {
    val assigned = assign(delta, vec, centers)
    // Column contract: the delta must carry EXACTLY the at-rest
    // layout's columns (same names, same types) — a narrower or wider
    // delta would silently fork the parquet schema under one
    // directory, making metadata columns read as null or vanish
    // depending on which file Spark infers the schema from. Fail fast
    // instead, and write in the layout's column order.
    val spark = delta.sparkSession
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aligned = if (fs.exists(hPath)) {
      val layout = spark.read.parquet(path).schema
      val layoutSig = layout.map(f => (f.name, f.dataType.sql)).sortBy(_._1)
      val deltaSig = assigned.schema
        .map(f => (f.name, f.dataType.sql)).sortBy(_._1)
      require(layoutSig == deltaSig,
        s"delta schema ${deltaSig.mkString(", ")} does not match the " +
          s"at-rest layout ${layoutSig.mkString(", ")} under $path — " +
          "align the delta's columns (names AND element types) before " +
          "compaction")
      assigned.select(layout.map(f => col(f.name)): _*)
    } else assigned
    aligned.write.mode("append").partitionBy("cell").parquet(path)
    assigned
  }

  /** Maintain the per-cell angular radius statistic across a
    * compaction: θmax'(c) = max(θmax(c), max angle of c's NEW
    * members) — computed from the DELTA alone (one O(delta) pass +
    * O(cells) merge), never by rescanning the base. Keeps
    * [[radiusSearch]]'s pruning lossless over the compacted layout. */
  def cellRadiiMerge(deltaAssigned: DataFrame,
      centers: Array[Array[Double]], vec: String,
      oldRadii: Map[Int, Double]): Map[Int, Double] = {
    val deltaRadii = cellRadii(deltaAssigned, centers, vec)
    (oldRadii.keySet ++ deltaRadii.keySet).map { c =>
      val o = oldRadii.getOrElse(c, Double.NaN)
      val n = deltaRadii.getOrElse(c, Double.NaN)
      // NaN radius = "all members zero-norm, cell never probed"; a
      // real radius from either side must win over NaN
      val merged = if (o.isNaN) n else if (n.isNaN) o else math.max(o, n)
      c -> merged
    }.toMap
  }

  private def sq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var j = 0
    while (j < a.length) { val d = a(j) - b(j); s += d * d; j += 1 }
    s
  }

  /** The `k`-cell quantizer of a training sample: deterministic
    * Lloyd's k-means (fixed seed, at most 10 iterations) with
    * k-means++ seeding and farthest-point reseeding of emptied
    * clusters, run on the driver. The centers are a function of
    * (`xs`, `k`) alone. */
  def train(xs: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    val maxIter = 10
    val n = xs.length
    require(n >= k, s"need at least $k training vectors, got $n")
    val dims = xs(0).length
    val rnd = new scala.util.Random(42L)
    // k-means++ init: each next center sampled ∝ distance² to the set
    val centers = new Array[Array[Double]](k)
    centers(0) = xs(rnd.nextInt(n)).clone()
    val d2 = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < k) {
      var i = 0
      var sum = 0.0
      while (i < n) {
        val dd = sq(xs(i), centers(c - 1))
        if (dd < d2(i)) d2(i) = dd
        sum += d2(i)
        i += 1
      }
      var r = rnd.nextDouble() * sum
      var idx = 0
      while (idx < n - 1 && r > d2(idx)) { r -= d2(idx); idx += 1 }
      centers(c) = xs(idx).clone()
      c += 1
    }
    // Lloyd iterations
    val assign = new Array[Int](n)
    val counts = new Array[Int](k)
    val sums = Array.ofDim[Double](k, dims)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      moved = false
      java.util.Arrays.fill(counts, 0)
      sums.foreach(java.util.Arrays.fill(_, 0.0))
      var i = 0
      while (i < n) {
        var best = 0
        var bestD = Double.MaxValue
        var j = 0
        while (j < k) {
          val dd = sq(xs(i), centers(j))
          if (dd < bestD) { bestD = dd; best = j }
          j += 1
        }
        if (assign(i) != best) { assign(i) = best; moved = true }
        counts(best) += 1
        var t = 0
        while (t < dims) { sums(best)(t) += xs(i)(t); t += 1 }
        i += 1
      }
      var j = 0
      val reseeded = new java.util.HashSet[Int]()
      while (j < k) {
        if (counts(j) == 0) {
          // reseed an empty cluster to the farthest point not already
          // used as a reseed this iteration — two clusters emptying
          // together must not land on the SAME point (duplicate
          // centroids would then persist to convergence)
          var far = -1
          var farD = -1.0
          var i2 = 0
          while (i2 < n) {
            if (!reseeded.contains(i2)) {
              val dd = sq(xs(i2), centers(assign(i2)))
              if (dd > farD) { farD = dd; far = i2 }
            }
            i2 += 1
          }
          if (far >= 0) {
            reseeded.add(far)
            centers(j) = xs(far).clone()
          }
          moved = true
        } else {
          var t = 0
          while (t < dims) { centers(j)(t) = sums(j)(t) / counts(j); t += 1 }
        }
        j += 1
      }
      iter += 1
    }
    centers
  }
}
