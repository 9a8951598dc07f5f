package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming vector ingest — the arrival-time half of the LSM index
  * story (`ann_delta_search` serves fresh vectors brute-force;
  * `Ivf.compact` folds them into the pruned layout; this runs that
  * fold INCREMENTALLY as vectors arrive).
  *
  * State posture: STATELESS. A vector's cell is a pure function of
  * its embedding and the (plan-literal) quantizer — no state store,
  * no watermark, and replay-invariance for free: a vector lands in
  * the same cell whether it arrives in one batch, many micro-batches,
  * or a backfill. The only cross-batch artifact is the appended cell
  * layout itself, which is exactly the batch `Ivf.compact` contract
  * (append touches only the arriving vectors' cell directories).
  */
object VectorStreams {

  /** One micro-batch's append, made IDEMPOTENT under replay: Spark's
    * foreachBatch contract is at-least-once (a batch whose append
    * succeeded but whose checkpoint commit did not is re-delivered on
    * restart), so a blind append would duplicate the batch's vectors
    * in the index and break the exact base∪delta search equality.
    * A per-batch commit marker under `_ingest_commits/` (a `_`-prefixed
    * directory, invisible to parquet reads) records completed batches;
    * a re-delivered batchId is skipped. The marker is written AFTER
    * the append — the residual window (append committed, marker write
    * itself failed) requires two distinct failures inside one batch
    * and is recoverable by deleting the batch's files; the common
    * replay path (checkpoint-commit failure) is fully covered. */
  def ingestBatch(batch: DataFrame, centers: Array[Array[Double]],
      vec: String, path: String, batchId: Long): Unit = {
    val marker = new org.apache.hadoop.fs.Path(
      path, s"_ingest_commits/batch-$batchId")
    val fs = marker.getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      graft.ann.Ivf.compact(batch, centers, vec, path)
      fs.create(marker, true).close()
    }
  }

  /** Ingest a vector stream into the cell-partitioned at-rest index:
    * each micro-batch is one `Ivf.compact` append (only the batch's
    * cell directories are touched), made replay-safe by
    * [[ingestBatch]]'s commit markers. The batch must carry the
    * layout's exact columns — `Ivf.compact` fails fast on a schema
    * fork. Radius-statistic maintenance is
    * the caller's compaction-time concern (`Ivf.cellRadiiMerge` per
    * batch, or once per compaction window) — a searcher that unions
    * the un-folded tail brute-force (`ann_delta_search`'s shape)
    * needs no statistic for it at all. */
  def ingest(vecs: DataFrame, centers: Array[Array[Double]],
      path: String, vec: String = "embedding",
      checkpoint: String): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, centers, vec, path, batchId)
      }
      .start()
}
