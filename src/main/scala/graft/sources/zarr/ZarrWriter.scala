package graft.sources.zarr

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import graft.sources.{Attr, ChunkedSave}

/** Zarr v2 directory-store writer (public spec, little-endian C-order
  * arrays, optional zlib chunks) — the `save()` target scida writes
  * derived datasets to (reference: src/scida/interface.py:273 save →
  * zarr), and the ONE module that writes the v2 layout (`ZarrStore`
  * reads it). Two entry points share its metadata writer and chunk
  * encoder:
  *
  *  - `write`: driver-side arrays — fixtures, catalogs, derived
  *    metadata-scale outputs;
  *  - `save`: a DataFrame, distributed through `ChunkedSave` — each
  *    task encodes its chunks' files straight into the store; the
  *    driver writes only the tiny .zgroup/.zarray/.zattrs metadata,
  *    like every zarr writer's metadata path.
  *
  * Bulk 100 TB at-rest data stays parquet (`save_roundtrip`), where
  * Spark's distributed writers and row-group statistics already win.
  * Edge chunks are written FULL-SIZE with fill_value padding, per the
  * v2 spec; every numeric dtype the reader supports round-trips.
  */
object ZarrWriter {

  sealed trait Arr { def rows: Int; def cols: Int; def dtype: String }
  final case class F64(data: Array[Double], cols: Int = 1) extends Arr {
    def rows: Int = data.length / cols; def dtype = "<f8"
  }
  final case class F32(data: Array[Float], cols: Int = 1) extends Arr {
    def rows: Int = data.length / cols; def dtype = "<f4"
  }
  final case class I64(data: Array[Long], cols: Int = 1) extends Arr {
    def rows: Int = data.length / cols; def dtype = "<i8"
  }
  final case class I32(data: Array[Int], cols: Int = 1) extends Arr {
    def rows: Int = data.length / cols; def dtype = "<i4"
  }

  /** One array's `.zarray` fields: `rows` × `cols` (`cols == 1` is a
    * 1-D array), chunked along axis 0 by `chunkRows`. */
  private final case class Meta(name: String, dtype: String, rows: Long,
      cols: Int, chunkRows: Int)

  /** Write a group store: one array per (name → Arr), `attrs` keyed
    * like `ZarrStore.open` returns them ("/" root, "/name" per
    * array), each map written as that object's `.zattrs`. */
  def write(path: String, arrays: Seq[(String, Arr)],
      attrs: Map[String, Map[String, Attr]] = Map.empty,
      chunkRows: Int = 1 << 16, compress: Boolean = true): Unit = {
    val metas = arrays.map { case (name, arr) => Meta(name, arr.dtype,
      arr.rows, arr.cols, math.min(chunkRows, math.max(arr.rows, 1))) }
    writeMeta(path, metas, attrs, compress)
    arrays.zip(metas).foreach { case ((name, arr), m) =>
      val cr = m.chunkRows
      (0 until math.max((arr.rows + cr - 1) / cr, 1)).foreach(k =>
        writeChunk(new File(path, name), k, arr, k * cr, cr, compress))
    }
    ZarrStore.consolidate(path) // .zmetadata: one-read open
  }

  /** DISTRIBUTED save of `df` (scida `save()`): each numeric column
    * becomes one 1-D array chunked by `chunkRows` along the contiguous
    * 0-based row index `idCol`; `ChunkedSave` runs the one
    * chunk-per-task job and every task writes its chunks' files. The
    * store directory must be on storage all executors share (the zarr
    * DirectoryStore contract). Gaps, duplicates or nulls fail loudly. */
  def save(df: DataFrame, idCol: String, path: String,
      chunkRows: Int = 1 << 16, compress: Boolean = true,
      attrs: Map[String, Map[String, Attr]] = Map.empty): Unit = {
    val p = ChunkedSave.plan(df, idCol, chunkRows, "zarr save")
    writeMeta(path, p.cols.toSeq.map(f =>
      Meta(f.name, dtypeOf(f.dataType), p.rows, 1, chunkRows)), attrs, compress)
    val names = p.cols.map(_.name)
    p.run { c =>
      names.indices.foreach(ci => writeChunk(new File(path, names(ci)),
        c.index, arrOf(c.cols(ci)), 0, chunkRows, compress))
    }
    ZarrStore.consolidate(path) // .zmetadata: one-read open
  }

  private def dtypeOf(dt: DataType): String = dt match {
    case DoubleType => "<f8"; case FloatType => "<f4"
    case LongType => "<i8"; case IntegerType => "<i4"
  }

  private def arrOf(data: AnyRef): Arr = data match {
    case d: Array[Double] => F64(d); case f: Array[Float] => F32(f)
    case l: Array[Long] => I64(l); case i: Array[Int] => I32(i)
  }

  /** .zgroup, the root .zattrs, and each array's dir with its .zarray
    * and .zattrs. */
  private def writeMeta(path: String, arrays: Seq[Meta],
      attrs: Map[String, Map[String, Attr]], compress: Boolean): Unit = {
    val root = new File(path)
    ZarrStore.assertSaveTarget(root) // scida save() overwrite safety
    root.mkdirs()
    Files.writeString(new File(root, ".zgroup").toPath, """{"zarr_format": 2}""")
    attrs.get("/").foreach(a =>
      Files.writeString(new File(root, ".zattrs").toPath, Attr.jsonObject(a)))
    val comp = if (compress) """{"id": "zlib", "level": 1}""" else "null"
    arrays.foreach { m =>
      val dir = new File(root, m.name)
      dir.mkdirs()
      val shape = if (m.cols == 1) s"[${m.rows}]" else s"[${m.rows}, ${m.cols}]"
      val chunks = if (m.cols == 1) s"[${m.chunkRows}]" else s"[${m.chunkRows}, ${m.cols}]"
      Files.writeString(new File(dir, ".zarray").toPath,
        s"""{"zarr_format": 2, "shape": $shape, "chunks": $chunks,
           | "dtype": "${m.dtype}", "compressor": $comp,
           | "fill_value": 0, "order": "C", "filters": null}""".stripMargin)
      attrs.get(s"/${m.name}").foreach(a =>
        Files.writeString(new File(dir, ".zattrs").toPath, Attr.jsonObject(a)))
    }
  }

  /** Chunk `k` of `arr` — rows [start, start + chunkRows) — as its
    * chunk file in `dir`: a full-size buffer, zero (= fill_value)
    * padded at the edge, zlib level 1 when compressed. */
  private def writeChunk(dir: File, k: Long, arr: Arr, start: Int,
      chunkRows: Int, compress: Boolean): Unit = {
    val w = arr.cols
    val n = math.min(chunkRows, arr.rows - start)
    val buf = ByteBuffer.allocate(chunkRows * w * arr.dtype.drop(2).toInt)
      .order(ByteOrder.LITTLE_ENDIAN)
    arr match {
      case F64(d, _) => buf.asDoubleBuffer().put(d, start * w, n * w)
      case F32(d, _) => buf.asFloatBuffer().put(d, start * w, n * w)
      case I64(d, _) => buf.asLongBuffer().put(d, start * w, n * w)
      case I32(d, _) => buf.asIntBuffer().put(d, start * w, n * w)
    }
    val bytes = buf.array()
    val name = if (w == 1) s"$k" else s"$k.0"
    Files.write(new File(dir, name).toPath,
      if (compress) ChunkedSave.deflate(bytes, 1) else bytes)
  }
}
