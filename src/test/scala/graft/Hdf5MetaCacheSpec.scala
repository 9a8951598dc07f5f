package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.hdf5.{ChunkedHdf5, Hdf5Reader, Hdf5Writer}
import graft.sources.Attr

/** On-disk metadata cache semantics (scida io/_base.py:366
  * `load_metadata` with `use_cachefile`): the second JVM/driver to
  * plan over a chunk file must read the sidecar, not re-walk the HDF5
  * header — and a modified file must invalidate. */
class Hdf5MetaCacheSpec extends AnyFunSuite {

  private def withCacheDir[T](f: => T): T = {
    val dir = Files.createTempDirectory("graft_meta_cache").toString
    sys.props("graft.cache.dir") = dir
    try f finally sys.props.remove("graft.cache.dir")
  }

  private def writeFixture(): String = {
    val dir = Files.createTempDirectory("graft_h5_mc").toString
    val root = Hdf5Writer.Group(children = Seq(
      "Header" -> Hdf5Writer.Group(attrs = Seq("Redshift" -> 2.0)),
      "PartType0" -> Hdf5Writer.Group(children = Seq(
        "Masses" -> Hdf5Writer.F64(Array.tabulate(6)(_ * 1.5), cols = 1)))))
    val path = s"$dir/snap.0.hdf5"
    Hdf5Writer.write(path, root)
    path
  }

  test("a cold re-open (fresh memo) is served from the sidecar, not the file") {
    withCacheDir {
      val path = writeFixture()
      ChunkedHdf5.clearMemo()
      val first = ChunkedHdf5.metadata(path) // parses + writes sidecar
      ChunkedHdf5.clearMemo() // simulate a fresh driver
      val before = Hdf5Reader.openCount.get()
      val second = ChunkedHdf5.metadata(path)
      assert(Hdf5Reader.openCount.get() == before,
        "sidecar hit must not open the HDF5 file")
      assert(second.groups == first.groups)
      assert(second.datasets.map(_.path) == first.datasets.map(_.path))
      assert(second.datasets.head.shape.toSeq == Seq(6L, 1L))
      assert(second.attrs("/Header")("Redshift") == Attr.F64(2.0))
      // and the cached metadata still drives real data reads
      val buf = Hdf5Reader.readRows(path, second.datasets.head, 2, 3)
      assert(Array.fill(3)(buf.getDouble()).toSeq == Seq(3.0, 4.5, 6.0))
    }
  }

  test("rewriting the file invalidates the sidecar") {
    withCacheDir {
      val path = writeFixture()
      ChunkedHdf5.clearMemo()
      ChunkedHdf5.metadata(path)
      // rewrite with different content + mtime
      val root = Hdf5Writer.Group(children = Seq(
        "PartType0" -> Hdf5Writer.Group(children = Seq(
          "Masses" -> Hdf5Writer.F64(Array.tabulate(9)(_ * 2.0), cols = 1)))))
      Hdf5Writer.write(path, root)
      new java.io.File(path).setLastModified(System.currentTimeMillis() + 5000)
      ChunkedHdf5.clearMemo()
      val before = Hdf5Reader.openCount.get()
      val meta = ChunkedHdf5.metadata(path)
      assert(Hdf5Reader.openCount.get() == before + 1,
        "stale sidecar must fall back to a real parse")
      assert(meta.datasets.head.shape.toSeq == Seq(9L, 1L))
    }
  }

  test("a sidecar stamped with another format version is re-parsed, never served") {
    withCacheDir {
      val path = writeFixture()
      val file = new java.io.File(path)
      ChunkedHdf5.clearMemo()
      val parsed = ChunkedHdf5.metadata(path)
      val entry = new java.io.File(sys.props("graft.cache.dir")).listFiles()
        .filter(_.getName.endsWith(".h5meta")).head
      // an otherwise valid entry for this very file, holding a marker
      // value, under each version but the current one
      val marked = parsed.copy(attrs = Map("/Header" -> Map("Redshift" -> Attr.F64(99.0))))
      Seq(1, 3).foreach { ver =>
        val out = new java.io.ObjectOutputStream(new java.io.FileOutputStream(entry))
        try {
          out.writeInt(ver); out.writeUTF(file.getCanonicalPath)
          out.writeLong(file.lastModified()); out.writeLong(file.length())
          out.writeObject(marked)
        } finally out.close()
        ChunkedHdf5.clearMemo()
        val before = Hdf5Reader.openCount.get()
        val meta = ChunkedHdf5.metadata(path)
        assert(Hdf5Reader.openCount.get() == before + 1, s"version $ver served")
        assert(meta.attrs("/Header")("Redshift") == Attr.F64(2.0))
      }
    }
  }

  test("corrupt sidecar falls back to parsing") {
    withCacheDir {
      val path = writeFixture()
      ChunkedHdf5.clearMemo()
      ChunkedHdf5.metadata(path)
      // trash every sidecar byte
      val cacheDir = new java.io.File(sys.props("graft.cache.dir"))
      cacheDir.listFiles().filter(_.getName.endsWith(".h5meta")).foreach { f =>
        Files.write(f.toPath, Array.fill[Byte](16)(0x5A))
      }
      ChunkedHdf5.clearMemo()
      val meta = ChunkedHdf5.metadata(path)
      assert(meta.datasets.head.shape.toSeq == Seq(6L, 1L))
    }
  }
}
