package graft.sources.hdf5

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import graft.sources.Attr

/** Minimal HDF5 writer: the "earliest" on-disk layout libhdf5 emits
  * for simple files — superblock v0, version-1 object headers, v1
  * symbol-table groups (B-tree + local heap + SNOD), contiguous
  * little-endian datasets, version-1 attributes.
  *
  * Written from the public HDF5 File Format Specification v3.0. Used
  * to generate snapshot-shaped test fixtures (this sandbox has no
  * libhdf5/h5py) and as the write side of `save()`-style HDF5 export;
  * the layout mirrors what h5py produces for the same content, so
  * Hdf5Reader parsing these files is parsing the real v0 format.
  *
  * Limits (asserted): ≤8 members per group (one SNOD), fixed set of
  * scalar/1D/2D numeric types, `Attr`s on groups only, unique names.
  */
object Hdf5Writer {

  sealed trait Node
  final case class Group(children: Seq[(String, Node)] = Nil,
      attrs: Seq[(String, Attr)] = Nil) extends Node

  /** A numeric dataset; `cols == 0` means a true 1-D dataspace, else
    * an (n/cols, cols) 2-D dataspace. */
  sealed trait Data extends Node {
    def n: Int
    def cols: Int
    def elemSize: Int
    def putAll(b: ByteBuffer): Unit
    def dtypeBytes: Array[Byte]
    def rows: Long = if (cols == 0) n.toLong else n.toLong / cols
    def shape: Array[Long] = if (cols == 0) Array(n.toLong) else Array(n.toLong / cols, cols.toLong)
  }
  final case class F64(v: Array[Double], cols: Int = 0) extends Data {
    def n = v.length; def elemSize = 8
    def putAll(b: ByteBuffer): Unit = v.foreach(b.putDouble)
    def dtypeBytes: Array[Byte] = dtFloat(8)
  }
  final case class F32(v: Array[Float], cols: Int = 0) extends Data {
    def n = v.length; def elemSize = 4
    def putAll(b: ByteBuffer): Unit = v.foreach(b.putFloat)
    def dtypeBytes: Array[Byte] = dtFloat(4)
  }
  final case class I64(v: Array[Long], cols: Int = 0) extends Data {
    def n = v.length; def elemSize = 8
    def putAll(b: ByteBuffer): Unit = v.foreach(b.putLong)
    def dtypeBytes: Array[Byte] = dtFixed(8, signed = true)
  }
  final case class U64(v: Array[Long], cols: Int = 0) extends Data {
    def n = v.length; def elemSize = 8
    def putAll(b: ByteBuffer): Unit = v.foreach(b.putLong)
    def dtypeBytes: Array[Byte] = dtFixed(8, signed = false)
  }
  final case class I32(v: Array[Int], cols: Int = 0) extends Data {
    def n = v.length; def elemSize = 4
    def putAll(b: ByteBuffer): Unit = v.foreach(b.putInt)
    def dtypeBytes: Array[Byte] = dtFixed(4, signed = true)
  }

  /** Chunked storage wrapper (B-tree v1 index) with the standard
    * shuffle+deflate filter pipeline — how libhdf5 stores compressed
    * datasets; lets the reader's chunked/filtered path be tested on
    * spec-conformant bytes. */
  final case class Chunked(inner: Data, chunkRows: Int,
      gzip: Boolean = true, shuffle: Boolean = true) extends Node

  // ---- datatype message encodings (version 1) ----
  private[sources] def dtFixed(size: Int, signed: Boolean): Array[Byte] = {
    val b = ByteBuffer.allocate(12).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0x10.toByte) // version 1, class 0
    b.put((if (signed) 0x08 else 0x00).toByte); b.put(0.toByte); b.put(0.toByte)
    b.putInt(size)
    b.putShort(0) // bit offset
    b.putShort((size * 8).toShort) // precision
    b.array()
  }

  private[sources] def dtFloat(size: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(20).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0x11.toByte) // version 1, class 1
    b.put(0x20.toByte) // little-endian, implied-msb mantissa norm
    b.put((size * 8 - 1).toByte) // sign bit position
    b.put(0.toByte)
    b.putInt(size)
    b.putShort(0); b.putShort((size * 8).toShort) // bit offset, precision
    if (size == 8) { b.put(52.toByte); b.put(11.toByte); b.put(0.toByte); b.put(52.toByte); b.putInt(1023) }
    else { b.put(23.toByte); b.put(8.toByte); b.put(0.toByte); b.put(23.toByte); b.putInt(127) }
    b.array()
  }

  private[sources] def dtString(len: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0x13.toByte) // version 1, class 3 (string)
    b.put(0.toByte); b.put(0.toByte); b.put(0.toByte) // null-terminated ASCII
    b.putInt(len)
    b.array()
  }

  private[sources] def dataspace(shape: Array[Long]): Array[Byte] = {
    val b = ByteBuffer.allocate(8 + shape.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte); b.put(shape.length.toByte); b.put(0.toByte)
    b.put(0.toByte); b.putInt(0) // reserved(5)
    shape.foreach(b.putLong)
    b.array()
  }

  // ---- growing output buffer with a bump allocator ----
  private final class Buf {
    var arr: Array[Byte] = new Array[Byte](1 << 16)
    var end: Int = 0
    def alloc(n: Int): Int = {
      while (end + n > arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2)
      val a = end; end += n; a
    }
    def at(pos: Int, n: Int): ByteBuffer = {
      val b = ByteBuffer.wrap(arr, pos, n).order(ByteOrder.LITTLE_ENDIAN); b
    }
    def result: Array[Byte] = java.util.Arrays.copyOf(arr, end)
  }

  private[sources] def pad8(n: Int): Int = (n + 7) / 8 * 8

  // one encoded v1 header message: (type, unpadded body)
  private final case class M(tpe: Int, body: Array[Byte])

  /** Write a version-1 object header with the given messages. */
  private def writeHeader(buf: Buf, msgs: Seq[M]): Int = {
    val bodySize = msgs.map(m => 8 + pad8(m.body.length)).sum
    val addr = buf.alloc(16 + bodySize)
    val b = buf.at(addr, 16 + bodySize)
    b.put(1.toByte); b.put(0.toByte)
    b.putShort(msgs.length.toShort)
    b.putInt(1) // ref count
    b.putInt(bodySize)
    b.putInt(0) // pad to 16
    msgs.foreach { m =>
      b.putShort(m.tpe.toShort)
      b.putShort(pad8(m.body.length).toShort)
      b.put(0.toByte); b.put(0.toByte); b.put(0.toByte); b.put(0.toByte)
      b.put(java.util.Arrays.copyOf(m.body, pad8(m.body.length)))
    }
    addr
  }

  private def writeDataset(buf: Buf, d: Data): Int = {
    val dataAddr = buf.alloc(d.n * d.elemSize)
    d.putAll(buf.at(dataAddr, d.n * d.elemSize))
    val layout = ByteBuffer.allocate(18).order(ByteOrder.LITTLE_ENDIAN)
    layout.put(3.toByte); layout.put(1.toByte) // v3, contiguous
    layout.putLong(dataAddr.toLong)
    layout.putLong(d.n.toLong * d.elemSize)
    val msgs = Seq(
      M(0x01, dataspace(d.shape)),
      M(0x03, d.dtypeBytes),
      M(0x08, layout.array()))
    writeHeader(buf, msgs)
  }

  private def writeChunkedDataset(buf: Buf, c: Chunked): Int = {
    val d = c.inner
    val rank = d.shape.length
    val rowWidth = if (d.cols == 0) 1 else d.cols
    val rowBytes = rowWidth * d.elemSize
    val totalRows = d.rows.toInt
    val flat = ByteBuffer.allocate(d.n * d.elemSize).order(ByteOrder.LITTLE_ENDIAN)
    d.putAll(flat)
    val chunkBytes = c.chunkRows * rowBytes
    val nChunks = (totalRows + c.chunkRows - 1) / c.chunkRows
    // store each (zero-padded edge) chunk through the filter pipeline
    val stored = (0 until nChunks).map { k =>
      val full = new Array[Byte](chunkBytes)
      val off = k * chunkBytes
      System.arraycopy(flat.array(), off, full, 0,
        math.min(chunkBytes, d.n * d.elemSize - off))
      var bytes = full
      if (c.shuffle) bytes = shuffleBytes(bytes, d.elemSize)
      if (c.gzip) bytes = graft.sources.ChunkedSave.deflate(bytes, 4)
      val addr = buf.alloc(bytes.length)
      buf.at(addr, bytes.length).put(bytes)
      (k.toLong * c.chunkRows, addr, bytes.length)
    }
    // chunk B-tree v1 (type 1), single leaf
    val keySize = 8 + (rank + 1) * 8
    val btAddr = buf.alloc(24 + (nChunks + 1) * keySize + nChunks * 8)
    val tb = buf.at(btAddr, 24 + (nChunks + 1) * keySize + nChunks * 8)
    tb.put("TREE".getBytes)
    tb.put(1.toByte); tb.put(0.toByte) // chunk node, leaf
    tb.putShort(nChunks.toShort)
    tb.putLong(-1L); tb.putLong(-1L)
    def putKey(rowOff: Long, size: Int): Unit = {
      tb.putInt(size); tb.putInt(0) // stored size, filter mask
      tb.putLong(rowOff)
      (1 until rank).foreach(_ => tb.putLong(0L))
      tb.putLong(0L) // element dimension
    }
    stored.foreach { case (rowOff, addr, size) =>
      putKey(rowOff, size)
      tb.putLong(addr.toLong)
    }
    putKey(nChunks.toLong * c.chunkRows, 0) // terminator key
    // layout v3 class 2 (chunked): dimensionality incl. element dim
    // 3 header bytes (version, layout class, dimensionality)
    val layout = ByteBuffer.allocate(3 + 8 + (rank + 1) * 4).order(ByteOrder.LITTLE_ENDIAN)
    layout.put(3.toByte); layout.put(2.toByte)
    layout.put((rank + 1).toByte)
    layout.putLong(btAddr.toLong)
    layout.putInt(c.chunkRows)
    if (rank > 1) layout.putInt(d.cols)
    layout.putInt(d.elemSize)
    val msgs = Seq(
      M(0x01, dataspace(d.shape)),
      M(0x03, d.dtypeBytes)) ++
      filterPipeline(c, d.elemSize).map(M(0x0B, _)).toSeq ++
      Seq(M(0x08, layout.array()))
    writeHeader(buf, msgs)
  }

  /** v1 filter-pipeline message, filters in application order. */
  private def filterPipeline(c: Chunked, elemSize: Int): Option[Array[Byte]] = {
    val fs = Seq(
      if (c.shuffle) Some((2, elemSize)) else None, // shuffle(elem size)
      if (c.gzip) Some((1, 4)) else None // deflate(level)
    ).flatten
    if (fs.isEmpty) return None
    // per filter: id(2)+namelen(2)+flags(2)+nvals(2)+cval(4)+pad(4)
    val b = ByteBuffer.allocate(8 + fs.size * 16).order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte); b.put(fs.size.toByte)
    b.putShort(0); b.putInt(0) // reserved
    fs.foreach { case (id, cval) =>
      b.putShort(id.toShort)
      b.putShort(0) // no name
      b.putShort(1.toShort) // flags: optional
      b.putShort(1.toShort) // one client value
      b.putInt(cval)
      b.putInt(0) // pad to 8 (odd value count)
    }
    Some(b.array())
  }

  private def shuffleBytes(data: Array[Byte], elemSize: Int): Array[Byte] = {
    if (elemSize <= 1) return data
    val n = data.length / elemSize
    val out = new Array[Byte](data.length)
    var i = 0
    while (i < n) {
      var b = 0
      while (b < elemSize) { out(b * n + i) = data(i * elemSize + b); b += 1 }
      i += 1
    }
    out
  }

  private def writeGroup(buf: Buf, g: Group): Int = {
    require(g.children.size <= 8, "fixture writer: ≤8 members per group (one SNOD)")
    val kids = g.children.sortBy(_._1).map { case (name, node) =>
      val a = node match {
        case child: Group => writeGroup(buf, child)
        case d: Data => writeDataset(buf, d)
        case c: Chunked => writeChunkedDataset(buf, c)
      }
      (name, a)
    }
    // local heap: header(32) + data segment (offset 0 = empty string)
    val nameOffs = scala.collection.mutable.Map[String, Int]()
    var heapLen = 8
    kids.foreach { case (name, _) =>
      nameOffs(name) = heapLen
      heapLen += pad8(name.getBytes("UTF-8").length + 1)
    }
    val heapAddr = buf.alloc(32)
    val heapData = buf.alloc(heapLen)
    val hb = buf.at(heapAddr, 32)
    hb.put("HEAP".getBytes)
    hb.put(0.toByte); hb.put(0.toByte); hb.put(0.toByte); hb.put(0.toByte)
    hb.putLong(heapLen.toLong)
    hb.putLong(-1L) // no free list
    hb.putLong(heapData.toLong)
    kids.foreach { case (name, _) =>
      val nb = name.getBytes("UTF-8")
      buf.at(heapData + nameOffs(name), nb.length).put(nb)
    }
    // SNOD with all entries (sorted)
    val snodAddr = buf.alloc(8 + kids.size * 40)
    val sb = buf.at(snodAddr, 8 + kids.size * 40)
    sb.put("SNOD".getBytes)
    sb.put(1.toByte); sb.put(0.toByte)
    sb.putShort(kids.size.toShort)
    kids.foreach { case (name, addr) =>
      sb.putLong(nameOffs(name).toLong)
      sb.putLong(addr.toLong)
      sb.putInt(0); sb.putInt(0) // cache type 0 + reserved
      sb.putLong(0L); sb.putLong(0L) // scratch
    }
    // B-tree: one leaf with one child (the SNOD)
    val btAddr = buf.alloc(24 + 8 + 16)
    val tb = buf.at(btAddr, 48)
    tb.put("TREE".getBytes)
    tb.put(0.toByte) // group node
    tb.put(0.toByte) // level 0
    tb.putShort(1.toShort)
    tb.putLong(-1L); tb.putLong(-1L) // siblings
    tb.putLong(0L) // key 0: empty string
    tb.putLong(snodAddr.toLong)
    tb.putLong(kids.lastOption.map(k => nameOffs(k._1).toLong).getOrElse(0L))
    val stMsg = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    stMsg.putLong(btAddr.toLong); stMsg.putLong(heapAddr.toLong)
    val names = g.attrs.map(_._1)
    require(names.distinct == names, s"attribute set twice on one group " +
      s"(HDF5 names are unique per object): ${names.diff(names.distinct).mkString(", ")}")
    val msgs = Seq(M(0x11, stMsg.array())) ++
      g.attrs.map { case (k, v) => M(0x0C, v.hdf5Message(k)) }
    writeHeader(buf, msgs)
  }

  def write(path: String, root: Group): Unit = {
    val buf = new Buf
    buf.alloc(96) // superblock, patched last
    val rootAddr = writeGroup(buf, root)
    val b = buf.at(0, 96)
    b.put(Array(0x89, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n').map(_.toByte))
    b.put(0.toByte) // superblock v0
    b.put(0.toByte); b.put(0.toByte); b.put(0.toByte); b.put(0.toByte)
    b.put(8.toByte); b.put(8.toByte) // offset + length size
    b.put(0.toByte)
    b.putShort(4.toShort); b.putShort(16.toShort) // leaf k, internal k
    b.putInt(0) // consistency flags
    b.putLong(0L) // base address
    b.putLong(-1L) // free-space address (undefined)
    b.putLong(buf.end.toLong) // end of file
    b.putLong(-1L) // driver info
    // root symbol table entry
    b.putLong(0L) // link name offset
    b.putLong(rootAddr.toLong)
    b.putInt(0); b.putInt(0) // cache type + reserved
    b.putLong(0L); b.putLong(0L) // scratch
    Files.write(Paths.get(path), buf.result)
  }
}
