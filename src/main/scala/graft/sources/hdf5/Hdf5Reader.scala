package graft.sources.hdf5

import java.io.RandomAccessFile
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.Inflater
import scala.collection.mutable
import graft.sources.Attr

/** Minimal pure-JVM HDF5 reader — the subset real simulation
  * snapshots use (reference: scida reads Gadget/Arepo HDF5 via h5py,
  * src/scida/helpers_hdf5.py:114 `walk_hdf5file`). Implemented from
  * the public "HDF5 File Format Specification Version 3.0" (HDF
  * Group); no libhdf5 dependency, so executors can open snapshot
  * chunks with zero native setup.
  *
  * Supported: superblock v0/v2/v3; object headers v1/v2 (with
  * continuations); groups via v1 symbol tables (B-tree v1 + local
  * heap + SNOD) and via compact Link messages; datasets with
  * contiguous, compact, or chunked (B-tree v1) layout; gzip (deflate)
  * and shuffle filters; fixed-point, IEEE-float, and fixed-string
  * types; attributes (v1-v3 messages, scalar + 1D).
  *
  * Not supported (erroring clearly): dense/fractal-heap groups,
  * variable-length types, big-endian data, v2 B-trees.
  */
object Hdf5Reader {

  final case class Dtype(clazz: Int, size: Int, signed: Boolean) {
    def isFloat: Boolean = clazz == 1
    def isInt: Boolean = clazz == 0
  }

  sealed trait Layout
  final case class Contiguous(addr: Long, size: Long) extends Layout
  final case class Compact(bytes: Array[Byte]) extends Layout
  /** Chunked: B-tree address + per-chunk dims (without the trailing
    * element-size dim) + filters (ids in pipeline order). */
  final case class Chunked(btreeAddr: Long, chunkDims: Array[Long],
      filters: Seq[Int]) extends Layout

  final case class Dataset(path: String, shape: Array[Long], dtype: Dtype,
      layout: Layout) {
    def rows: Long = if (shape.isEmpty) 1L else shape(0)
    /** Values per row (product of trailing dims). */
    def rowWidth: Int = if (shape.length <= 1) 1 else shape.drop(1).product.toInt
  }

  final case class H5File(
      datasets: Seq[Dataset],
      groups: Seq[String],
      /** object path -> attr name -> value (scida's tree\["attrs"\]). */
      attrs: Map[String, Map[String, Attr]])

  private val Signature = Array(0x89, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n').map(_.toByte)
  private val Undef = -1L // 0xFFFF... read as signed long

  // ---- byte-level helpers over a RandomAccessFile ----
  final class In(val raf: RandomAccessFile) {
    def readAt(pos: Long, n: Int): ByteBuffer = {
      val a = new Array[Byte](n)
      raf.seek(pos); raf.readFully(a)
      ByteBuffer.wrap(a).order(ByteOrder.LITTLE_ENDIAN)
    }
  }

  /** Count of full metadata walks (file opens) — lets specs assert the
    * planner's metadata pass opens each chunk exactly once. */
  val openCount = new java.util.concurrent.atomic.AtomicLong(0)

  def open(path: String): H5File = {
    openCount.incrementAndGet()
    val raf = new RandomAccessFile(path, "r")
    try {
      val in = new In(raf)
      val rootAddr = readSuperblock(in)
      val ds = mutable.ArrayBuffer[Dataset]()
      val gs = mutable.ArrayBuffer[String]()
      val at = mutable.Map[String, Map[String, Attr]]()
      walkObject(in, rootAddr, "/", ds, gs, at)
      H5File(ds.toSeq, gs.toSeq, at.toMap)
    } finally raf.close()
  }

  /** Returns the root group's object header address. */
  private def readSuperblock(in: In): Long = {
    val head = in.readAt(0, 8).array()
    require(head.sameElements(Signature), "not an HDF5 file (bad signature)")
    val ver = in.readAt(8, 1).get() & 0xff
    ver match {
      case 0 | 1 =>
        val offSize = in.readAt(13, 1).get() & 0xff
        val lenSize = in.readAt(14, 1).get() & 0xff
        require(offSize == 8 && lenSize == 8, s"only 8-byte offsets supported, got $offSize/$lenSize")
        // root group symbol table entry starts at 56 (v0) / 60 (v1);
        // its object header address is the second 8-byte field
        val steOff = if (ver == 0) 56 else 60
        in.readAt(steOff + 8, 8).getLong()
      case 2 | 3 =>
        val offSize = in.readAt(9, 1).get() & 0xff
        require(offSize == 8, "only 8-byte offsets supported")
        // sig(8) ver(1) offSize(1) lenSize(1) flags(1) base(8) ext(8) eof(8) → root @ 36
        in.readAt(36, 8).getLong()
      case v => sys.error(s"unsupported superblock version $v")
    }
  }

  // ---- object header parsing (v1 + v2, with continuations) ----
  private final case class Msg(tpe: Int, body: ByteBuffer)

  private def readMessages(in: In, addr: Long): Seq[Msg] = {
    val sig = in.readAt(addr, 4).array()
    if (sig.sameElements("OHDR".getBytes)) readMessagesV2(in, addr)
    else readMessagesV1(in, addr)
  }

  private def readMessagesV1(in: In, addr: Long): Seq[Msg] = {
    val h = in.readAt(addr, 16)
    val ver = h.get() & 0xff
    require(ver == 1, s"object header version $ver at $addr not supported")
    h.get()
    val nMsgs = h.getShort() & 0xffff
    h.getInt() // ref count
    val size = h.getInt() // header block size
    val out = mutable.ArrayBuffer[Msg]()
    // blocks: (start, length); v1 message block starts after 16-byte header
    var blocks = List((addr + 16, size.toLong))
    while (blocks.nonEmpty && out.length < nMsgs) {
      val (bstart, blen) = blocks.head
      blocks = blocks.tail
      val buf = in.readAt(bstart, blen.toInt)
      while (buf.remaining() >= 8 && out.length < nMsgs) {
        val tpe = buf.getShort() & 0xffff
        val msz = buf.getShort() & 0xffff
        buf.get(); buf.get(); buf.get(); buf.get() // flags + reserved
        if (buf.remaining() < msz) sys.error(s"truncated message in header at $addr")
        val body = buf.slice().order(ByteOrder.LITTLE_ENDIAN); body.limit(msz)
        buf.position(buf.position() + msz)
        if (tpe == 0x10) { // continuation
          val c = body.duplicate().order(ByteOrder.LITTLE_ENDIAN)
          blocks = (c.getLong(), c.getLong()) :: blocks
        } else out += Msg(tpe, body)
      }
    }
    out.toSeq
  }

  private def readMessagesV2(in: In, addr: Long): Seq[Msg] = {
    val h = in.readAt(addr, 16)
    h.getInt() // "OHDR"
    val ver = h.get() & 0xff
    require(ver == 2, s"OHDR version $ver")
    val flags = h.get() & 0xff
    var pos = addr + 6
    if ((flags & 0x20) != 0) pos += 16 // times
    if ((flags & 0x10) != 0) pos += 4 // max compact/dense attrs
    val szBytes = 1 << (flags & 0x3)
    val szBuf = in.readAt(pos, szBytes)
    val chunkSize = szBytes match {
      case 1 => szBuf.get() & 0xffL
      case 2 => szBuf.getShort() & 0xffffL
      case 4 => szBuf.getInt() & 0xffffffffL
      case _ => szBuf.getLong()
    }
    pos += szBytes
    val trackOrder = (flags & 0x04) != 0
    val out = mutable.ArrayBuffer[Msg]()
    // continuation blocks in v2 start with "OCHK" and end with checksum
    var blocks = List((pos, chunkSize, false))
    while (blocks.nonEmpty) {
      val (bstart, blen, isCont) = blocks.head
      blocks = blocks.tail
      val dataStart = if (isCont) bstart + 4 else bstart
      val dataLen = (if (isCont) blen - 8 else blen - 4).toInt // minus checksum (+sig)
      val buf = in.readAt(dataStart, dataLen)
      // messages until gap (< 4 bytes header) — v2 header: type(1) size(2) flags(1)
      var done = false
      while (!done && buf.remaining() >= 4) {
        val tpe = buf.get() & 0xff
        val msz = buf.getShort() & 0xffff
        val mflags = buf.get() & 0xff
        if (trackOrder) { if (buf.remaining() < 2) { done = true } else buf.getShort() }
        if (!done) {
          if (buf.remaining() < msz) done = true
          else {
            val body = buf.slice().order(ByteOrder.LITTLE_ENDIAN); body.limit(msz)
            buf.position(buf.position() + msz)
            if (tpe == 0x10) {
              val c = body.duplicate().order(ByteOrder.LITTLE_ENDIAN)
              blocks = (c.getLong(), c.getLong(), true) :: blocks
            } else if (tpe != 0) out += Msg(tpe, body)
          }
        }
      }
    }
    out.toSeq
  }

  // ---- message decoders ----
  private def parseDataspace(b0: ByteBuffer): Array[Long] = {
    val b = b0.duplicate().order(ByteOrder.LITTLE_ENDIAN)
    val ver = b.get() & 0xff
    val rank = b.get() & 0xff
    ver match {
      case 1 => b.get(); b.get(); b.getInt() // flags + reserved(5)
      case 2 => b.get(); b.get() // flags + type
      case v => sys.error(s"dataspace version $v")
    }
    Array.fill(rank)(b.getLong())
  }

  private def parseDatatype(b0: ByteBuffer): Dtype = {
    val b = b0.duplicate().order(ByteOrder.LITTLE_ENDIAN)
    val cv = b.get() & 0xff
    val clazz = cv & 0x0f
    val bits0 = b.get() & 0xff; b.get(); b.get()
    val size = b.getInt()
    clazz match {
      case 0 => // fixed-point
        require((bits0 & 0x01) == 0, "big-endian data not supported")
        Dtype(0, size, signed = (bits0 & 0x08) != 0)
      case 1 =>
        require((bits0 & 0x01) == 0, "big-endian data not supported")
        Dtype(1, size, signed = true)
      case 3 => Dtype(3, size, signed = false) // fixed-length string
      case c => sys.error(s"datatype class $c not supported")
    }
  }

  private def parseLayout(b0: ByteBuffer): Layout = {
    val b = b0.duplicate().order(ByteOrder.LITTLE_ENDIAN)
    val ver = b.get() & 0xff
    require(ver == 3, s"data layout version $ver not supported (need v3)")
    (b.get() & 0xff) match {
      case 0 =>
        val n = b.getShort() & 0xffff
        val a = new Array[Byte](n); b.get(a); Compact(a)
      case 1 => Contiguous(b.getLong(), b.getLong())
      case 2 =>
        val dimensionality = b.get() & 0xff // rank + 1 (element dim)
        val addr = b.getLong()
        val dims = Array.fill(dimensionality)(b.getInt().toLong)
        Chunked(addr, dims.dropRight(1), Nil) // filters attached later
      case c => sys.error(s"layout class $c")
    }
  }

  private def parseFilters(b0: ByteBuffer): Seq[Int] = {
    val b = b0.duplicate().order(ByteOrder.LITTLE_ENDIAN)
    val ver = b.get() & 0xff
    val n = b.get() & 0xff
    if (ver == 1) { b.getShort(); b.getInt() } // reserved
    (0 until n).map { _ =>
      val id = b.getShort() & 0xffff
      // v2 messages omit the name-length field entirely for ids < 256
      val nameLen = if (ver == 1 || id >= 256) b.getShort() & 0xffff else 0
      b.getShort() // flags
      val nvals = b.getShort() & 0xffff
      if (nameLen > 0) {
        val skip = if (ver == 1) (nameLen + 7) / 8 * 8 else nameLen
        b.position(b.position() + skip)
      }
      b.position(b.position() + 4 * nvals)
      if (ver == 1 && nvals % 2 == 1) b.getInt() // pad to 8
      id
    }
  }

  /** Attribute message → (name, value). */
  private def parseAttribute(b0: ByteBuffer): (String, Attr) = {
    val b = b0.duplicate().order(ByteOrder.LITTLE_ENDIAN)
    val ver = b.get() & 0xff
    require(ver >= 1 && ver <= 3, s"attribute version $ver")
    val pad8 = ver == 1
    if (ver == 1) b.get() // reserved
    else b.get() // v2/3: flags (shared msgs unsupported but rare)
    val nameSize = b.getShort() & 0xffff
    val dtSize = b.getShort() & 0xffff
    val dsSize = b.getShort() & 0xffff
    if (ver == 3) b.get() // name charset
    def aligned(n: Int) = if (pad8) (n + 7) / 8 * 8 else n
    val nameBytes = new Array[Byte](aligned(nameSize)); b.get(nameBytes)
    val name = new String(nameBytes.takeWhile(_ != 0), "UTF-8")
    val dtBytes = new Array[Byte](aligned(dtSize)); b.get(dtBytes)
    val dt = parseDatatype(ByteBuffer.wrap(dtBytes).order(ByteOrder.LITTLE_ENDIAN))
    val dsBytes = new Array[Byte](aligned(dsSize)); b.get(dsBytes)
    val shape = parseDataspace(ByteBuffer.wrap(dsBytes).order(ByteOrder.LITTLE_ENDIAN))
    val n = if (shape.isEmpty) 1 else shape.product.toInt
    def long(): Long = dt.size match {
      case 1 => if (dt.signed) b.get().toLong else b.get() & 0xffL
      case 2 => if (dt.signed) b.getShort().toLong else b.getShort() & 0xffffL
      case 4 => if (dt.signed) b.getInt().toLong else b.getInt() & 0xffffffffL
      case 8 => b.getLong()
    }
    def double(): Double = if (dt.size == 4) b.getFloat().toDouble else b.getDouble()
    def string(): String = {
      val s = new Array[Byte](dt.size); b.get(s)
      new String(s.takeWhile(_ != 0), "UTF-8")
    }
    val scalar = shape.isEmpty
    (name, dt.clazz match {
      case 0 => if (scalar) Attr.I64(long()) else Attr.I64s(Vector.fill(n)(long()))
      case 1 => if (scalar) Attr.F64(double()) else Attr.F64s(Vector.fill(n)(double()))
      case 3 => if (scalar) Attr.Str(string()) else Attr.Strs(Vector.fill(n)(string()))
    })
  }

  // ---- group traversal ----
  private def walkObject(in: In, addr: Long, path: String,
      ds: mutable.ArrayBuffer[Dataset], gs: mutable.ArrayBuffer[String],
      at: mutable.Map[String, Map[String, Attr]]): Unit = {
    val msgs = readMessages(in, addr)
    val attrs = msgs.filter(_.tpe == 0x0C).map(m => parseAttribute(m.body)).toMap
    if (attrs.nonEmpty) at(path) = attrs
    val space = msgs.find(_.tpe == 0x01).map(m => parseDataspace(m.body))
    val dtype = msgs.find(_.tpe == 0x03).map(m => parseDatatype(m.body))
    val layout = msgs.find(_.tpe == 0x08).map(m => parseLayout(m.body))
    if (space.isDefined && dtype.isDefined && layout.isDefined) {
      // dataset
      val filters = msgs.find(_.tpe == 0x0B).map(m => parseFilters(m.body)).getOrElse(Nil)
      val lay = layout.get match {
        case c: Chunked => c.copy(filters = filters)
        case other => other
      }
      ds += Dataset(path, space.get, dtype.get, lay)
    } else {
      if (path != "/") gs += path
      val children = mutable.ArrayBuffer[(String, Long)]()
      // v1 symbol-table group
      msgs.find(_.tpe == 0x11).foreach { m =>
        val b = m.body.duplicate().order(ByteOrder.LITTLE_ENDIAN)
        val btree = b.getLong(); val heap = b.getLong()
        children ++= readSymbolTable(in, btree, heap)
      }
      // v2 compact group: Link messages
      msgs.filter(_.tpe == 0x06).foreach { m =>
        parseLink(m.body).foreach(children += _)
      }
      msgs.find(_.tpe == 0x02).foreach { m =>
        val b = m.body.duplicate().order(ByteOrder.LITTLE_ENDIAN)
        b.get(); val f = b.get() & 0xff
        if ((f & 0x01) != 0) b.getLong()
        val fheap = b.getLong()
        require(fheap == Undef || children.nonEmpty,
          s"dense (fractal-heap) groups not supported at $path")
      }
      children.sortBy(_._1).foreach { case (name, caddr) =>
        val cpath = if (path == "/") s"/$name" else s"$path/$name"
        walkObject(in, caddr, cpath, ds, gs, at)
      }
    }
  }

  private def parseLink(b0: ByteBuffer): Option[(String, Long)] = {
    val b = b0.duplicate().order(ByteOrder.LITTLE_ENDIAN)
    val ver = b.get() & 0xff
    require(ver == 1, s"link message version $ver")
    val flags = b.get() & 0xff
    val linkType = if ((flags & 0x08) != 0) b.get() & 0xff else 0
    if ((flags & 0x04) != 0) b.getLong() // creation order
    if ((flags & 0x10) != 0) b.get() // charset
    val lenSz = 1 << (flags & 0x3)
    val nameLen = lenSz match {
      case 1 => b.get() & 0xff
      case 2 => b.getShort() & 0xffff
      case 4 => b.getInt()
      case _ => b.getLong().toInt
    }
    val nb = new Array[Byte](nameLen); b.get(nb)
    if (linkType == 0) Some((new String(nb, "UTF-8"), b.getLong())) else None
  }

  private def readSymbolTable(in: In, btreeAddr: Long, heapAddr: Long): Seq[(String, Long)] = {
    // local heap data segment
    val hb = in.readAt(heapAddr, 32)
    require(hb.getInt() == ByteBuffer.wrap("HEAP".getBytes)
      .order(ByteOrder.LITTLE_ENDIAN).getInt(), "bad local heap signature")
    hb.getInt() // version + reserved
    val dataSize = hb.getLong(); hb.getLong()
    val dataAddr = hb.getLong()
    val heap = in.readAt(dataAddr, dataSize.toInt).array()
    def nameAt(off: Long): String = {
      var e = off.toInt
      while (e < heap.length && heap(e) != 0) e += 1
      new String(heap, off.toInt, e - off.toInt, "UTF-8")
    }
    val out = mutable.ArrayBuffer[(String, Long)]()
    def walkBtree(addr: Long): Unit = {
      val head = in.readAt(addr, 24)
      require(head.getInt() == ByteBuffer.wrap("TREE".getBytes)
        .order(ByteOrder.LITTLE_ENDIAN).getInt(), s"bad TREE signature at $addr")
      val nodeType = head.get() & 0xff
      val level = head.get() & 0xff
      val entries = head.getShort() & 0xffff
      require(nodeType == 0, "expected group B-tree")
      // keys (len 8) and children (8) alternate: k0 c0 k1 c1 ... kN
      val body = in.readAt(addr + 24, 8 + entries * 16)
      body.getLong() // key 0
      (0 until entries).foreach { _ =>
        val child = body.getLong()
        body.getLong() // next key
        if (level > 0) walkBtree(child) else readSnod(child)
      }
    }
    def readSnod(addr: Long): Unit = {
      val h = in.readAt(addr, 8)
      require(h.getInt() == ByteBuffer.wrap("SNOD".getBytes)
        .order(ByteOrder.LITTLE_ENDIAN).getInt(), s"bad SNOD signature at $addr")
      h.get(); h.get()
      val n = h.getShort() & 0xffff
      val b = in.readAt(addr + 8, n * 40)
      (0 until n).foreach { _ =>
        val nameOff = b.getLong()
        val objAddr = b.getLong()
        b.getInt(); b.getInt() // cache type + reserved
        b.position(b.position() + 16) // scratch
        out += ((nameAt(nameOff), objAddr))
      }
    }
    walkBtree(btreeAddr)
    out.toSeq
  }

  // ---- data reading ----

  /** Read rows [rowStart, rowStart+nRows) of a dataset as a flat
    * little-endian buffer of nRows × rowWidth × dtype.size bytes. */
  def readRows(path: String, d: Dataset, rowStart: Long, nRows: Int): ByteBuffer = {
    val raf = new RandomAccessFile(path, "r")
    try readRows(new In(raf), d, rowStart, nRows)
    finally raf.close()
  }

  private[hdf5] def readRows(in: In, d: Dataset, rowStart: Long, nRows: Int): ByteBuffer = {
    val rowBytes = d.rowWidth * d.dtype.size
    d.layout match {
      case Compact(bytes) =>
        val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
        b.position((rowStart * rowBytes).toInt)
        val s = b.slice().order(ByteOrder.LITTLE_ENDIAN); s.limit(nRows * rowBytes); s
      case Contiguous(addr, _) =>
        require(addr != Undef, s"dataset ${d.path} has no allocated storage")
        in.readAt(addr + rowStart * rowBytes, nRows * rowBytes)
      case ch: Chunked =>
        readChunkedRows(in, d, ch, rowStart, nRows)
    }
  }

  private def readChunkedRows(in: In, d: Dataset, ch: Chunked,
      rowStart: Long, nRows: Int): ByteBuffer = {
    require(ch.chunkDims.length == d.shape.length,
      s"chunk rank mismatch for ${d.path}")
    // snapshots chunk along axis 0 only; require full-width chunks
    require(d.shape.length <= 1 || ch.chunkDims.drop(1).sameElements(d.shape.drop(1)),
      s"partial-width chunks not supported for ${d.path}")
    val rowBytes = d.rowWidth * d.dtype.size
    val chunkRows = ch.chunkDims(0)
    val out = ByteBuffer.allocate(nRows * rowBytes).order(ByteOrder.LITTLE_ENDIAN)
    // collect (startRow -> (addr, nbytes, mask)) from the v1 B-tree (type 1)
    val chunks = mutable.ArrayBuffer[(Long, Long, Long, Int)]() // startRow, addr, size, mask
    val rank = d.shape.length
    def walk(addr: Long): Unit = {
      val head = in.readAt(addr, 24)
      require(head.getInt() == ByteBuffer.wrap("TREE".getBytes)
        .order(ByteOrder.LITTLE_ENDIAN).getInt(), s"bad chunk TREE at $addr")
      require((head.get() & 0xff) == 1, "expected chunk B-tree")
      val level = head.get() & 0xff
      val entries = head.getShort() & 0xffff
      val keySize = 8 + (rank + 1) * 8
      val body = in.readAt(addr + 24, (entries + 1) * keySize + entries * 8)
      (0 until entries).foreach { _ =>
        val csize = body.getInt(); val mask = body.getInt()
        val offs = Array.fill(rank + 1)(body.getLong())
        val child = body.getLong()
        if (level > 0) walk(child)
        else chunks += ((offs(0), child, csize.toLong, mask))
      }
    }
    walk(ch.btreeAddr)
    val rowEnd = rowStart + nRows
    chunks.foreach { case (startRow, addr, csize, mask) =>
      val chunkEnd = startRow + chunkRows
      if (chunkEnd > rowStart && startRow < rowEnd) {
        var raw = { val a = new Array[Byte](csize.toInt); in.raf.seek(addr); in.raf.readFully(a); a }
        // apply filters in reverse pipeline order; libhdf5 sets bit
        // <pipeline index> of the mask when an optional filter was
        // skipped for this chunk (e.g. deflate on incompressible data)
        ch.filters.zipWithIndex.reverse.foreach { case (f, idx) =>
          val skipped = ((mask >> idx) & 1) != 0
          f match {
            case _ if skipped => ()
            case 1 => raw = inflate(raw, (chunkRows * rowBytes).toInt)
            case 2 => raw = unshuffle(raw, d.dtype.size)
            case other => sys.error(s"filter $other not supported for ${d.path}")
          }
        }
        val from = math.max(rowStart, startRow)
        val until = math.min(rowEnd, chunkEnd)
        val srcOff = ((from - startRow) * rowBytes).toInt
        val dstOff = ((from - rowStart) * rowBytes).toInt
        val len = ((until - from) * rowBytes).toInt
        System.arraycopy(raw, srcOff, out.array(), dstOff, len)
      }
    }
    out
  }

  private def inflate(data: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    val out = new Array[Byte](expected)
    var off = 0
    while (!inf.finished() && off < expected) {
      val n = inf.inflate(out, off, expected - off)
      if (n == 0 && inf.needsInput()) sys.error("truncated deflate stream")
      off += n
    }
    inf.end()
    out
  }

  /** HDF5 shuffle filter: bytes of each element are split across
    * element-size planes; invert by gathering one byte per plane. */
  private def unshuffle(data: Array[Byte], elemSize: Int): Array[Byte] = {
    if (elemSize <= 1) return data
    val n = data.length / elemSize
    val out = new Array[Byte](data.length)
    var i = 0
    while (i < n) {
      var b = 0
      while (b < elemSize) {
        out(i * elemSize + b) = data(b * n + i)
        b += 1
      }
      i += 1
    }
    out
  }
}
