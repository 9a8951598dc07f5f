package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.util.zip.Deflater
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.hdf5.Hdf5Reader
import graft.sources.Attr

/** Foreign-bytes validation of the HDF5 reader: a file hand-assembled
  * here, byte by byte from the public HDF5 File Format Specification
  * III (https://docs.hdfgroup.org/hdf5/develop/_f_m_t3.html), in the
  * "latest" on-disk layout that Hdf5Writer NEVER produces — superblock
  * v3, version-2 object headers, compact Link messages, a version-2
  * filter-pipeline message (no name-length field for ids < 256), and a
  * per-chunk filter mask marking one chunk's optional deflate as
  * skipped (stored raw).
  *
  * Purpose: every other HDF5 fixture in the suite is written by
  * Hdf5Writer (superblock v0 / v1 headers / symbol tables), so reader
  * and writer could share one author's misreading of the spec and the
  * round-trip would still pass. This spec's builder shares no code or
  * structure with the writer; it exercises exactly the "latest
  * format" code paths (and the round-4 filter fixes) that a real
  * h5py/libhdf5 file written with libver='latest' would hit.
  *
  * (h5py itself is unavailable in this environment, so a checked-in
  * third-party binary is not an option; a clean-room builder against
  * the public spec is the strongest available independence.)
  */
class Hdf5ForeignSpec extends AnyFunSuite {

  private val Undef = -1L // 0xFFFFFFFFFFFFFFFF

  /** Growable little-endian byte builder with named patch slots. */
  private final class B {
    private var buf = ByteBuffer.allocate(1 << 16).order(ByteOrder.LITTLE_ENDIAN)
    private val patches = scala.collection.mutable.Map[String, Int]()
    def pos: Int = buf.position()
    def u8(v: Int): B = { buf.put(v.toByte); this }
    def u16(v: Int): B = { buf.putShort(v.toShort); this }
    def u32(v: Long): B = { buf.putInt(v.toInt); this }
    def u64(v: Long): B = { buf.putLong(v); this }
    def f64(v: Double): B = { buf.putDouble(v); this }
    def bytes(v: Array[Byte]): B = { buf.put(v); this }
    def ascii(s: String): B = bytes(s.getBytes("ASCII"))
    def slot64(name: String): B = { patches(name) = pos; u64(0L) }
    def patch64(name: String, v: Long): Unit = buf.putLong(patches(name), v)
    def patch16At(at: Int, v: Int): Unit = buf.putShort(at, v.toShort)
    def result(): Array[Byte] = java.util.Arrays.copyOf(buf.array(), pos)
  }

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater(6)
    d.setInput(raw); d.finish()
    val out = new Array[Byte](raw.length * 2 + 64)
    val n = d.deflate(out)
    d.end()
    java.util.Arrays.copyOf(out, n)
  }

  /** IEEE F64LE datatype message body as libhdf5 emits it: v1 class-1
    * header + 12 property bytes (offset/precision/exponent/mantissa/
    * bias). The reader consumes the 8-byte header; the properties are
    * part of the spec-correct 20-byte encoding. */
  private def dtF64(b: B): Unit = {
    b.u8(0x11) // version 1, class 1 (float)
    b.u8(0x20).u8(0x3F).u8(0x00) // LE, implied-set mantissa norm, sign bit 63
    b.u32(8) // size
    b.u16(0).u16(64) // bit offset, precision
    b.u8(52).u8(11).u8(0).u8(52) // exp loc/size, mantissa loc/size
    b.u32(1023) // exponent bias
  }

  /** One v2 object-header message: type(1) size(2) flags(1) body. */
  private def msg(b: B, tpe: Int, body: B => Unit): Unit = {
    val sizeAt = b.pos + 1
    b.u8(tpe).u16(0).u8(0)
    val start = b.pos
    body(b)
    b.patch16At(sizeAt, b.pos - start)
  }

  /** v2 object header: "OHDR", version 2, 2-byte chunk-0 size. */
  private def ohdr(b: B, messages: Seq[B => Unit]): Long = {
    val addr = b.pos.toLong
    b.ascii("OHDR").u8(2).u8(0x01) // flags: 2-byte size-of-chunk-0
    val sizeAt = b.pos
    b.u16(0)
    val start = b.pos
    messages.foreach(m => m(b))
    b.u32(0L) // object-header checksum (Jenkins lookup3; unverified by readers)
    b.patch16At(sizeAt, b.pos - start)
    addr
  }

  /** Hard-link message, version 1, 1-byte name length, no options. */
  private def link(name: String, slot: String)(b: B): Unit =
    msg(b, 0x06, { bb =>
      bb.u8(1).u8(0).u8(name.length).ascii(name).slot64(slot)
    })

  /** Scalar f64 attribute, message version 3 (the v2-header form). */
  private def attrF64(name: String, value: Double)(b: B): Unit =
    msg(b, 0x0C, { bb =>
      val nm = name.getBytes("ASCII") :+ 0.toByte
      bb.u8(3).u8(0) // version 3, flags
      bb.u16(nm.length).u16(20).u16(4) // name / datatype / dataspace sizes
      bb.u8(0) // name charset: ASCII
      bb.bytes(nm)
      dtF64(bb)
      bb.u8(2).u8(0).u8(0).u8(2) // dataspace v2: rank 0, flags 0, type scalar
      bb.f64(value)
    })

  /** The full file: /grid group (Redshift attr) containing /grid/rho,
    * a 12-row f8 dataset in 5-row chunks behind an OPTIONAL deflate
    * whose middle chunk is stored raw with filter-mask bit 0 set. */
  private lazy val (foreignPath, expected) = {
    val rows = 12
    val chunkRows = 5
    val values = Array.tabulate(rows)(i => i * 1.5 - 3.25)
    val b = new B
    // --- superblock v3 ---
    b.bytes(Array(0x89.toByte, 'H'.toByte, 'D'.toByte, 'F'.toByte,
      0x0D, 0x0A, 0x1A, 0x0A))
    b.u8(3) // superblock version
    b.u8(8).u8(8) // offset / length sizes
    b.u8(0) // file consistency flags
    b.u64(0L) // base address
    b.u64(Undef) // superblock extension: none
    b.slot64("eof")
    b.slot64("root")
    b.u32(0L) // superblock checksum (unverified)
    // --- object headers (root → grid → rho), link addresses patched ---
    val rootAddr = ohdr(b, Seq(link("grid", "grid_addr")))
    val gridAddr = ohdr(b, Seq(
      attrF64("Redshift", 1.5),
      attrF64("BoxSize", 35000.0),
      link("rho", "rho_addr")))
    val rhoAddr = ohdr(b, Seq(
      // dataspace v2: rank 1, simple, dims [12]
      bb => msg(bb, 0x01, _.u8(2).u8(1).u8(0).u8(1).u64(rows)),
      bb => msg(bb, 0x03, dtF64),
      // filter pipeline v2: one filter, id 1 (deflate) < 256 → NO
      // name-length field; flags=1 (optional); 1 client value (level)
      bb => msg(bb, 0x0B, _.u8(2).u8(1).u16(1).u16(1).u16(1).u32(6L)),
      // layout v3, chunked (class 2): rank+1 dims, B-tree address
      bb => msg(bb, 0x08,
        _.u8(3).u8(2).u8(2).slot64("btree").u32(chunkRows).u32(8))))
    // --- chunk data: chunk 1 deflated, chunk 2 RAW (mask bit 0 set),
    //     chunk 3 (partial, 2 rows) deflated ---
    val raw = values.grouped(chunkRows).map { vs =>
      val cb = ByteBuffer.allocate(vs.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach(cb.putDouble)
      cb.array()
    }.toSeq
    val stored = Seq(deflate(raw(0)), raw(1), deflate(raw(2)))
    val masks = Seq(0, 1, 0)
    val chunkAddrs = stored.map { data =>
      val a = b.pos.toLong; b.bytes(data); a
    }
    // --- chunk B-tree v1: one leaf, 3 entries ---
    // node: TREE, type 1, level 0, entries, left/right sibling, then
    // alternating key/child with one final key. key = size(4) mask(4)
    // offsets((rank+1)×8)
    val btreeAddr = b.pos.toLong
    b.ascii("TREE").u8(1).u8(0).u16(3).u64(Undef).u64(Undef)
    (0 until 3).foreach { i =>
      b.u32(stored(i).length.toLong).u32(masks(i).toLong)
      b.u64(i.toLong * chunkRows).u64(0L) // chunk offset (row, element)
      b.u64(chunkAddrs(i))
    }
    b.u32(0L).u32(0L).u64(rows.toLong).u64(0L) // final key
    b.patch64("btree", btreeAddr)
    b.patch64("root", rootAddr)
    b.patch64("grid_addr", gridAddr)
    b.patch64("rho_addr", rhoAddr)
    b.patch64("eof", b.pos.toLong)
    val path = Files.createTempDirectory("graft_h5_foreign")
      .resolve("latest_format.h5").toString
    Files.write(Paths.get(path), b.result())
    (path, values)
  }

  test("latest-format file: superblock v3 + v2 headers + links walk") {
    val f = Hdf5Reader.open(foreignPath)
    assert(f.groups == Seq("/grid"))
    assert(f.datasets.map(_.path) == Seq("/grid/rho"))
    val d = f.datasets.head
    assert(d.shape.toSeq == Seq(12L))
    assert(d.dtype.isFloat && d.dtype.size == 8)
  }

  test("v3 attribute messages inside a v2 header parse") {
    val f = Hdf5Reader.open(foreignPath)
    val a = f.attrs("/grid")
    assert(a("Redshift") == Attr.F64(1.5))
    assert(a("BoxSize") == Attr.F64(35000.0))
  }

  test("v2 filter pipeline + per-chunk mask: optional deflate skipped on the raw chunk") {
    val f = Hdf5Reader.open(foreignPath)
    val d = f.datasets.head
    val buf = Hdf5Reader.readRows(foreignPath, d, 0, 12)
    val got = Array.fill(12)(buf.getDouble())
    assert(got.toSeq == expected.toSeq)
  }

  test("chunk-straddling partial read") {
    val f = Hdf5Reader.open(foreignPath)
    val d = f.datasets.head
    val buf = Hdf5Reader.readRows(foreignPath, d, 3, 6)
    val got = Array.fill(6)(buf.getDouble())
    assert(got.toSeq == expected.slice(3, 9).toSeq)
  }

  test("corrupt signature is rejected") {
    val bad = Files.readAllBytes(Paths.get(foreignPath)).clone()
    bad(0) = 0x00
    val p = Files.createTempFile("graft_h5_bad", ".h5")
    Files.write(p, bad)
    val e = intercept[Exception](Hdf5Reader.open(p.toString))
    assert(e.getMessage.contains("not an HDF5 file"))
  }
}
