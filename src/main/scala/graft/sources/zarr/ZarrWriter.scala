package graft.sources.zarr

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files
import java.util.zip.Deflater

/** Zarr v2 directory-store writer (public spec, little-endian C-order
  * arrays, optional zlib chunks) — the `save()` target scida writes
  * derived datasets to (reference: src/scida/interface.py:273 save →
  * zarr). Driver-side like `Hdf5Writer`: fixtures, catalogs, and
  * derived metadata-scale outputs; bulk 100 TB at-rest data stays
  * parquet (`save_roundtrip`), where Spark's distributed writers and
  * row-group statistics already win.
  *
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

  /** Write a group store: one array per (name → Arr), `attrs` keyed
    * like `ZarrStore.open` returns them ("/" root, "/name" per
    * array). */
  def write(path: String, arrays: Seq[(String, Arr)],
      attrs: Map[String, Map[String, Any]] = Map.empty,
      chunkRows: Int = 1 << 16, compress: Boolean = true): Unit = {
    val root = new File(path)
    ZarrStore.assertSaveTarget(root) // scida save() overwrite safety
    root.mkdirs()
    Files.writeString(new File(root, ".zgroup").toPath, """{"zarr_format": 2}""")
    attrs.get("/").foreach(a =>
      Files.writeString(new File(root, ".zattrs").toPath, jsonObj(a)))
    arrays.foreach { case (name, arr) =>
      val dir = new File(root, name)
      dir.mkdirs()
      val cr = math.min(chunkRows, math.max(arr.rows, 1))
      val shape =
        if (arr.cols == 1) s"[${arr.rows}]" else s"[${arr.rows}, ${arr.cols}]"
      val chunks = if (arr.cols == 1) s"[$cr]" else s"[$cr, ${arr.cols}]"
      val comp =
        if (compress) """{"id": "zlib", "level": 1}""" else "null"
      Files.writeString(new File(dir, ".zarray").toPath,
        s"""{"zarr_format": 2, "shape": $shape, "chunks": $chunks,
           | "dtype": "${arr.dtype}", "compressor": $comp,
           | "fill_value": 0, "order": "C", "filters": null}""".stripMargin)
      attrs.get(s"/$name").foreach(a =>
        Files.writeString(new File(dir, ".zattrs").toPath, jsonObj(a)))
      writeChunks(dir, arr, cr, compress)
    }
    ZarrStore.consolidate(path) // .zmetadata: one-read open
  }

  private def writeChunks(dir: File, arr: Arr, chunkRows: Int,
      compress: Boolean): Unit = {
    val es = arr.dtype.drop(2).toInt
    val w = arr.cols
    val nChunks = math.max((arr.rows + chunkRows - 1) / chunkRows, 1)
    (0 until nChunks).foreach { k =>
      val start = k * chunkRows
      val n = math.min(chunkRows, arr.rows - start)
      // full-size chunk buffer, zero (= fill_value) padded at the edge
      val buf = ByteBuffer.allocate(chunkRows * w * es).order(ByteOrder.LITTLE_ENDIAN)
      arr match {
        case F64(d, _) => buf.asDoubleBuffer().put(d, start * w, n * w)
        case F32(d, _) => buf.asFloatBuffer().put(d, start * w, n * w)
        case I64(d, _) => buf.asLongBuffer().put(d, start * w, n * w)
        case I32(d, _) => buf.asIntBuffer().put(d, start * w, n * w)
      }
      val bytes = buf.array()
      val out = if (compress) deflate(bytes) else bytes
      val name = if (arr.cols == 1) s"$k" else s"$k.0"
      Files.write(new File(dir, name).toPath, out)
    }
  }

  private def deflate(bytes: Array[Byte]): Array[Byte] = {
    val d = new Deflater(1)
    d.setInput(bytes)
    d.finish()
    val buf = new Array[Byte](bytes.length + 64)
    val bos = new java.io.ByteArrayOutputStream()
    while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
    d.end()
    bos.toByteArray
  }

  private def jsonVal(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => d.toString
    case f: Float => f.toString
    case l: Long => l.toString
    case i: Int => i.toString
    case b: Boolean => b.toString
    case xs: Seq[Any] @unchecked => xs.map(jsonVal).mkString("[", ", ", "]")
    // primitive arrays too: HDF5 attributes (e.g. Hdf5Save's
    // NumPart_ThisFile, a long[]) read back as JVM arrays
    case a: Array[_] => jsonVal(a.toSeq)
    case null => "null"
    case other => sys.error(s"unsupported attr value $other")
  }

  /** Attrs-object JSON emission, shared with the distributed saver. */
  private[zarr] def attrsJson(m: Map[String, Any]): String = jsonObj(m)

  private def jsonObj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1)
      .map { case (k, v) => jsonVal(k) + ": " + jsonVal(v) }
      .mkString("{", ", ", "}")
}
