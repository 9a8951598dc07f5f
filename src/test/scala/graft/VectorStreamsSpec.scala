package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ann.{Ann, Ivf}
import graft.sources.Tables
import graft.streaming.VectorStreams

/** Streaming vector ingest into the cell-partitioned IVF layout:
  * micro-batch appends must land exactly where batch compaction
  * would (stream/batch equivalence), and the resulting layout must
  * stay losslessly searchable — the streaming completion of the
  * ann_delta_search / Ivf.compact LSM story. */
class VectorStreamsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val embs = Tables.embeddings(spark, sfDir)

  test("stream-ingested layout == batch compaction; search stays lossless") {
    implicit val sqlCtx = spark.sqlContext
    val base = embs.filter(col("vec_id") =!= 0 &&
      pmod(col("vec_id"), lit(5)) =!= 4)
    val delta = embs.filter(col("vec_id") =!= 0 &&
      pmod(col("vec_id"), lit(5)) === 4)
    val (indexed, centers) =
      Ivf.build(base, "vec_id", "embedding", nCells = 8)
    val idx = indexed.cache()
    val radii = Ivf.cellRadii(idx, centers, "embedding")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_vstream").toString
    val path = tmp + "/idx"
    idx.write.mode("overwrite").partitionBy("cell").parquet(path)
    idx.unpersist()

    // stream the delta in TWO micro-batches (order-of-arrival must
    // not matter: assignment is stateless). The batch carries the
    // layout's FULL schema — FLOAT element type AND the label
    // metadata column — because Ivf.compact fails fast on any
    // schema fork (a narrower batch would make label read as null
    // from the streamed files).
    val rows = delta.select(col("vec_id"), col("embedding"), col("label"))
      .as[(Long, Seq[Float], Int)].collect().toSeq
    val (b1, b2) = rows.splitAt(rows.size / 2)
    val in = MemoryStream[(Long, Seq[Float], Int)]
    val sdf = in.toDF().toDF("vec_id", "embedding", "label")
    val q = VectorStreams.ingest(sdf, centers, path,
      checkpoint = tmp + "/ckpt")
    try {
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
    } finally q.stop()

    // a re-delivered micro-batch (foreachBatch is at-least-once:
    // append committed, checkpoint commit lost) must be a no-op —
    // the commit marker skips already-ingested batchIds
    val replay = delta.filter(pmod(col("vec_id"), lit(2)) === 0)
      .select(col("vec_id"), col("embedding"), col("label"))
    VectorStreams.ingestBatch(replay, centers, "embedding", path,
      batchId = 0L)
    VectorStreams.ingestBatch(replay, centers, "embedding", path,
      batchId = 1L)

    val compacted = spark.read.parquet(path)
    assert(compacted.count() == embs.filter(col("vec_id") =!= 0).count(),
      "replayed batches must not duplicate rows in the index")
    // the layout's metadata column survives streamed files (no
    // schema fork: compact would have failed fast on a narrower batch)
    assert(compacted.filter(col("label").isNull).count() == 0)
    // per-cell membership identical to the stateless batch assignment
    val streamCells = compacted.select(col("vec_id"), col("cell"))
      .as[(Long, Int)].collect().toMap
    val batchCells = Ivf.assign(embs.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding")), "embedding", centers)
      .select(col("vec_id"), col("cell")).as[(Long, Int)].collect().toMap
    assert(streamCells == batchCells,
      "stream and batch assignment must agree vector-for-vector")

    // statistic maintenance over the streamed delta keeps pruning
    // lossless (cells here are already typed int by the layout read)
    val deltaAssigned = Ivf.assign(
      delta.select(col("vec_id"), col("embedding")), "embedding", centers)
    val merged = Ivf.cellRadiiMerge(deltaAssigned, centers, "embedding", radii)
    val qv = embs.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)
    val pruned = Ivf.radiusSearch(compacted, centers, merged,
      "vec_id", "embedding", qv, minCos = 0.2)
      .collect().map(_.toString).sorted.toSeq
    val brute = Ann.radiusSearch(embs.filter(col("vec_id") =!= 0),
        "vec_id", "embedding", typedLit(qv), minCos = 0.2)
      .collect().map(_.toString).sorted.toSeq
    assert(brute.nonEmpty && pruned == brute)
  }
}
