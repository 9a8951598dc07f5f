package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Storage-layout levers for the 100 TB posture, proven on real plans:
  * bucketing removes the join shuffle entirely, and snapshot
  * partitioning prunes series reads at the source. */
class ScaleLayoutSpec extends SparkSpec {

  test("bucketed tables co-locate the join: no shuffle exchange") {
    // managed tables land in the session's default warehouse dir and
    // are dropped (with data) at the end
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_totalprice")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_b")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("o_b")
    val joined = spark.table("li_b")
      .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey").agg(sum("l_quantity").as("q"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    // both sides read pre-bucketed: the join itself needs no Exchange
    // (the only exchange allowed is the post-join aggregation's — and
    // even that is avoided since bucketing preserves the grouping key)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n${plan.take(1500)}")
    spark.sql("DROP TABLE li_b"); spark.sql("DROP TABLE o_b")
  }

  test("snapshot-partitioned series prunes non-matching snapshots at scan") {
    val dir = Files.createTempDirectory("graft_series").toString
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_acctbal"))
    c.withColumn("snapshot", lit("s1"))
      .unionByName(c.withColumn("snapshot", lit("s2")))
      .write.mode("overwrite").partitionBy("snapshot").parquet(dir)
    val one = spark.read.parquet(dir).filter(col("snapshot") === "s1")
    one.collect()
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("snapshot"), plan.take(1000))
    // pruned scan reads exactly one snapshot's rows
    assert(one.count() == c.count())
  }

  test("IVF-PQ code table stored clustered by cell: a probe is a partition-pruned scan") {
    import spark.implicits._
    val embs = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") =!= 0)
    val (codes, index) = graft.ann.IvfPq.build(
      graft.ann.Ivf.build(embs, "vec_id", "embedding", nCells = 8),
      "vec_id", "embedding", m = 8, k = 16)
    val base = java.nio.file.Files.createTempDirectory("ivfpq").toString
    // the at-rest layout: one directory per coarse cell
    codes.toDF().write.partitionBy("cell").mode("overwrite").parquet(base)
    val q = embs.filter(col("vec_id") === 1)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    def l2(c: Array[Double]): Double =
      math.sqrt(c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum)
    val probes = index.centers.zipWithIndex
      .sortBy { case (c, i) => (l2(c), i) }.take(2).map(_._2)
    val scan = spark.read.parquet(base)
      .filter(col("cell").isin(probes.map(Integer.valueOf): _*))
    scan.collect()
    val plan = scan.queryExecution.executedPlan.toString
    // the cell predicate must be a PARTITION filter (directory
    // pruning at the source), not a post-scan row filter
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      plan.take(1000))
    val expected = codes.filter(c => probes.toSet.contains(c.cell)).count()
    assert(scan.count() == expected && expected > 0 && expected < embs.count())
  }

  test("Z-order clustering makes the pushed-down box cut prune row groups") {
    import spark.implicits._
    import graft.operators.Spatial
    // deterministic pseudo-random 3D points in [0,100)^3
    def coord(seed: Int) = (abs(xxhash64(col("id") + lit(seed))) % 100000L)
      .cast("double") / 1000.0
    val pts = spark.range(0, 200000L).toDF("id")
      .select(col("id"), coord(1).as("x"), coord(2).as("y"), coord(3).as("z"))
    val base = java.nio.file.Files.createTempDirectory("zorder").toString
    // tiny row groups so one file holds many: row-group stats, not
    // file boundaries, must do the pruning
    val small = Map("parquet.block.size" -> (64 * 1024).toString)
    Spatial.writeZOrdered(pts, s"$base/zo",
      Seq(("x", 0.0, 100.0), ("y", 0.0, 100.0), ("z", 0.0, 100.0)),
      numFiles = 4, bits = 10, options = small)
    pts.repartition(4).write.mode("overwrite").options(small)
      .parquet(s"$base/shuf")
    def scannedRows(path: String): (Long, Long) = {
      val cut = Spatial.boxCut(spark.read.parquet(path),
        Seq(("x", 10.0, 20.0), ("y", 10.0, 20.0), ("z", 10.0, 20.0)))
      val qe = cut.queryExecution
      val n = qe.executedPlan.execute().count()
      val scan = qe.executedPlan.collectLeaves().head
      (scan.metrics("numOutputRows").value, n)
    }
    val (zoScan, zoRows) = scannedRows(s"$base/zo")
    val (shScan, shRows) = scannedRows(s"$base/shuf")
    assert(zoRows == shRows && zoRows > 0, s"same selection: $zoRows vs $shRows")
    // shuffled layout: every row group overlaps the box -> scan emits
    // ~everything; z-ordered: only spatially-overlapping row groups
    // survive the parquet min/max skip
    assert(zoScan < shScan / 5,
      s"z-order should prune the scan: zo=$zoScan shuffled=$shScan")
  }
}
