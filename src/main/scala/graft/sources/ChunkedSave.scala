package graft.sources

import java.util.zip.Deflater
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared chunk-partitioned write-back for the graft array formats
  * (zarr, chunked HDF5) — the write-side twin of `ColumnarFill`, and
  * scida's `save()` (reference: src/scida/interface.py:273, dask's
  * chunk-parallel store writers). One layout policy for every format:
  *
  *  - a contiguous 0-based row index (`idCol`) places every row;
  *    chunk K holds rows [K·chunkRows, (K+1)·chunkRows);
  *  - the frame is REPARTITIONED BY CHUNK ID and sorted by row within
  *    partitions, so each chunk's rows reach ONE task in order, which
  *    hands them to the format's writer as exactly-sized primitive
  *    arrays — executors write their chunks in parallel, nothing flows
  *    through the driver;
  *  - gaps, duplicates and nulls fail loudly rather than writing a
  *    silently misaligned (or zero-filled) store.
  *
  * The target must be on storage all executors share (local FS in
  * local mode, a shared mount on a cluster; for object stores the same
  * chunk layout maps to keys).
  */
object ChunkedSave {

  /** Chunk `index`'s `rows` rows: `cols(ci)` holds data column ci as an
    * Array[Double], Array[Float], Array[Long] or Array[Int] (its Spark
    * type), of length `rows`. */
  final case class Chunk(index: Long, rows: Int, cols: Array[AnyRef])

  /** A validated frame: numeric data columns, `rows` >= 1 and an index
    * spanning 0..rows-1. */
  final class Plan private[ChunkedSave] (df: DataFrame, idCol: String,
      label: String, val cols: Array[StructField], val rows: Long,
      chunkRows: Int) {

    def nChunks: Int = ((rows + chunkRows - 1) / chunkRows).toInt

    /** The one write job: `write` runs on the executors, once per chunk. */
    def run(write: Chunk => Unit): Unit = {
      val names = cols.toSeq.map(_.name)
      val kinds = cols.map(f => kindOf(f.dataType))
      val cr = chunkRows
      val totalRows = rows
      val what = label
      df.select((col(idCol).cast("long").as("__id")) +: names.map(col): _*)
        .withColumn("__chunk", expr(s"__id div $cr"))
        .repartition(col("__chunk"))
        .sortWithinPartitions("__id")
        .queryExecution.toRdd // InternalRow iterator, no row copies
        .foreachPartition { it =>
          // consecutive runs of one chunk id (sorted within partition)
          var curChunk = -1L
          var size = 0
          var filled = 0
          var d64: Array[Array[Double]] = null
          var f32: Array[Array[Float]] = null
          var i64: Array[Array[Long]] = null
          var i32: Array[Array[Int]] = null
          def flush(): Unit = if (curChunk >= 0) {
            require(filled == size, s"chunk $curChunk has $filled rows, " +
              s"expected $size — row index has gaps/dups")
            write(Chunk(curChunk, size, Array.tabulate[AnyRef](kinds.length)(ci =>
              kinds(ci) match {
                case 0 => d64(ci); case 1 => f32(ci)
                case 2 => i64(ci); case 3 => i32(ci)
              })))
            curChunk = -1; filled = 0
          }
          while (it.hasNext) {
            val row = it.next()
            val id = row.getLong(0)
            val chunk = id / cr
            if (chunk != curChunk) {
              flush()
              curChunk = chunk
              size = math.min(cr.toLong, totalRows - chunk * cr).toInt
              d64 = kinds.map(k => if (k == 0) new Array[Double](size) else null)
              f32 = kinds.map(k => if (k == 1) new Array[Float](size) else null)
              i64 = kinds.map(k => if (k == 2) new Array[Long](size) else null)
              i32 = kinds.map(k => if (k == 3) new Array[Int](size) else null)
            }
            val j = (id - chunk * cr).toInt
            require(j == filled, s"row $id out of order within chunk $chunk")
            var ci = 0
            while (ci < kinds.length) {
              // array formats have no null representation, and a null
              // read through an InternalRow getter is silent garbage
              require(!row.isNullAt(ci + 1),
                s"null in column ${names(ci)} at row $id — $what requires " +
                  "non-null numeric columns (fill or filter first)")
              kinds(ci) match {
                case 0 => d64(ci)(j) = row.getDouble(ci + 1)
                case 1 => f32(ci)(j) = row.getFloat(ci + 1)
                case 2 => i64(ci)(j) = row.getLong(ci + 1)
                case 3 => i32(ci)(j) = row.getInt(ci + 1)
              }
              ci += 1
            }
            filled += 1
          }
          flush()
        }
    }
  }

  private val kindOf: Map[DataType, Int] =
    Map(DoubleType -> 0, FloatType -> 1, LongType -> 2, IntegerType -> 3)

  /** Driver-side checks, one count+min+max action: numeric data columns
    * only, at least one row, an index spanning 0..rows-1 (the per-chunk
    * row checks in `run` catch the gaps/dups this extent check cannot;
    * a 0 minimum keeps every chunk id non-negative). */
  def plan(df: DataFrame, idCol: String, chunkRows: Int,
      label: String): Plan = {
    require(chunkRows > 0)
    val cols = df.schema.fields.filter(_.name != idCol)
    require(cols.nonEmpty, "no data columns to save")
    cols.foreach(f => require(kindOf.contains(f.dataType),
      s"$label: unsupported column type ${f.dataType} of ${f.name} " +
        "(numeric columns only)"))
    val r = df.agg(count(lit(1)), min(col(idCol)), max(col(idCol))).head()
    val rows = r.getLong(0)
    require(rows > 0, "empty frame")
    require(r.get(1).toString.toLong == 0L &&
      r.get(2).toString.toLong == rows - 1,
      s"row index must be contiguous 0..${rows - 1} " +
        s"(min=${r.get(1)}, max=${r.get(2)})")
    new Plan(df, idCol, label, cols, rows, chunkRows)
  }

  /** zlib stream of `bytes` at `level` — the chunk compressor of every
    * graft writer (zarr zlib, HDF5 deflate filter). */
  def deflate(bytes: Array[Byte], level: Int): Array[Byte] = {
    val d = new Deflater(level)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      val bos = new java.io.ByteArrayOutputStream()
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      bos.toByteArray
    } finally d.end()
  }
}
