package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{Attr, Load}
import graft.sources.fits.FitsWriter
import graft.sources.hdf5.{ChunkedHdf5, Hdf5Save, Hdf5Writer}
import graft.sources.zarr.{ZarrStore, ZarrWriter}

/** Header attributes survive every format conversion (scida `save()`,
  * interface.py:273: a saved dataset reopens with its metadata):
  * HDF5 ↔ zarr in both directions and chained, FITS → zarr/HDF5 for
  * the numeric primary cards. Every copy reopens with the source's
  * row count and sums and with attributes equal under `Attr`'s value
  * equality, and no HDF5 object holds one attribute name twice. */
class AttrRoundTripSpec extends SparkSpec {

  private val N = 25
  private val ChunkRows = 10

  /** What Hdf5Save stamps on chunk 0 of a 25-row, 10-row-chunk save. */
  private val own: Map[String, Attr] = Map(
    "NumPart_ThisFile" -> Array(10L, 0L, 0L, 0L, 0L, 0L),
    "NumFilesPerSnapshot" -> 3L)

  /** A scalar long, a scalar double, a string and an array of each. */
  private val header: Map[String, Attr] = Map(
    "Ngroups" -> 7L, "Redshift" -> 1.5, "Git_commit" -> "0badc0de",
    "Counts" -> Array(3L, 0L, 5L), "MassTable" -> Array(0.0, 0.25, 1e10),
    "Fields" -> Array("Coordinates", "Masses", "ParticleIDs"))

  private def frame = spark.range(N).select(col("id"),
    (col("id") * 3).as("l"), (col("id") * 0.5).as("d"))

  private def tmp(name: String): String =
    Files.createTempDirectory("graft_attr_rt").toString + "/" + name

  private def hdf5Source(): String = {
    val p = tmp("snap")
    Hdf5Save.save(frame, "id", p, chunkRows = ChunkRows, headerAttrs = header.toSeq)
    p
  }

  private def zarrSource(): String = {
    val p = tmp("store")
    ZarrWriter.save(frame, "id", p, chunkRows = ChunkRows, attrs = Map("/" -> header))
    p
  }

  private def fitsSource(): String = {
    val p = tmp("cat.fits")
    FitsWriter.write(p, Seq(FitsWriter.K("l", Array.tabulate(N)(_ * 3L)),
      FitsWriter.D("d", Array.tabulate(N)(_ * 0.5))),
      primaryCards = Seq("NGROUPS" -> "7", "REDSHIFT" -> "1.5"))
    p
  }

  private def toZarr(src: String): String = {
    val p = tmp("store")
    Load.copyToZarr(spark, src, p, chunkRows = ChunkRows)
    p
  }

  private def toHdf5(src: String): String = {
    val p = tmp("snap")
    Load.copyToHdf5(spark, src, p, chunkRows = ChunkRows)
    assertUniqueNames(p)
    p
  }

  /** The header attributes a format's reader returns. */
  private def headerOf(p: String): Map[String, Attr] =
    if (Load.detect(p) == Load.Hdf5) ChunkedHdf5.attrs(p)("/Header")
    else ZarrStore.open(p).attrs("/")

  private def reduced(p: String) =
    Load.dataFrame(spark, p).agg(count(lit(1)), sum("l"), sum("d")).head()

  /** Each /Header attribute name occurs once in every chunk file: the
    * writer emits a name's bytes only in its attribute message, so a
    * second copy of the message shows as a second occurrence. */
  private def assertUniqueNames(dir: String): Unit =
    new File(dir).listFiles().filter(_.getName.endsWith(".hdf5")).foreach { f =>
      val bytes = Files.readAllBytes(f.toPath)
      ChunkedHdf5.attrs(f.getPath)("/Header").keys.foreach { k =>
        val pat = k.getBytes("UTF-8") :+ 0.toByte
        val n = bytes.indices.count(i => bytes.startsWith(pat, i))
        assert(n == 1, s"${f.getName}: attribute $k written $n times")
      }
    }

  private def assertCopy(src: String, copy: String, want: Map[String, Attr]): Unit = {
    assert(reduced(copy) == reduced(src))
    assert(reduced(copy).getLong(0) == N)
    assert(headerOf(copy) == want)
  }

  test("HDF5 → zarr, zarr → HDF5") {
    val h5 = hdf5Source()
    assert(headerOf(h5) == header ++ own)
    assertCopy(h5, toZarr(h5), header ++ own)
    val z = zarrSource()
    assert(headerOf(z) == header)
    assertCopy(z, toHdf5(z), header ++ own)
  }

  test("chains: HDF5 → zarr → HDF5 and zarr → HDF5 → zarr") {
    val h5 = hdf5Source()
    assertCopy(h5, toHdf5(toZarr(h5)), header ++ own)
    val z = zarrSource()
    assertCopy(z, toZarr(toHdf5(z)), header ++ own)
  }

  test("HDF5 → HDF5: an Hdf5Save snapshot copies with one of each header name") {
    val h5 = hdf5Source()
    assertCopy(h5, toHdf5(h5), header ++ own)
  }

  test("FITS → zarr and FITS → HDF5 keep the numeric primary cards") {
    val fits = fitsSource()
    val cards = Map[String, Attr]("BITPIX" -> 8L, "NAXIS" -> 0L,
      "NGROUPS" -> 7L, "REDSHIFT" -> 1.5)
    assertCopy(fits, toZarr(fits), cards)
    assertCopy(fits, toHdf5(fits), cards ++ own)
  }

  test("foreign zarr values (null, boolean, object, mixed array) keep their keys") {
    val z = zarrSource()
    Files.writeString(new File(z, ".zattrs").toPath,
      """{"Redshift": 1.5, "Flag": true, "Missing": null,
        |"Nested": {"a": [1, "x"]}, "Mixed": [1, "x"]}""".stripMargin)
    new File(z, ".zmetadata").delete() // re-read the hand-edited .zattrs
    val attrs = headerOf(z)
    assert(attrs.keySet == Set("Redshift", "Flag", "Missing", "Nested", "Mixed"))
    assert(attrs("Flag") == Attr.Json("true") && attrs("Missing").scalar.isEmpty)
    // zarr writes them back verbatim; HDF5 keeps each key as a string
    assert(headerOf(toZarr(z)) == attrs)
    val h5 = headerOf(toHdf5(z))
    assert(h5.keySet == attrs.keySet ++ own.keySet)
    assert(h5("Nested") == Attr.Str("""{"a": [1.0, "x"]}"""))
  }

  test("value equality: numbers by value, strings exactly, arrays element-wise") {
    assert(Attr.I64(3) == Attr.F64(3.0) && Attr.I64(3).## == Attr.F64(3.0).##)
    assert(Attr.I64s(Vector(1L, 2L)) == Attr.F64s(Vector(1.0, 2.0)))
    assert(Attr.I64s(Vector(1L, 2L)).## == Attr.F64s(Vector(1.0, 2.0)).##)
    assert(Attr.I64(1) != Attr.I64s(Vector(1L)), "a scalar is not an array")
    assert(Attr.F64s(Vector(1.0)) != Attr.F64s(Vector(1.0, 2.0)))
    assert(Attr.Str("1") != Attr.F64(1.0) && Attr.Str("a") != Attr.Strs(Vector("a")))
    assert(Attr.Json("\"a\"") != Attr.Str("a"))
    assert(Attr.F64s(Vector(0.1, 2.0)).scalar.contains(0.1))
    assert(Attr.Str("x").scalar.isEmpty && Attr.Strs(Vector()).scalar.isEmpty)
  }

  test("Hdf5Writer rejects one attribute name twice on one object") {
    val p = tmp("dup.hdf5")
    val e = intercept[IllegalArgumentException](Hdf5Writer.write(p,
      Hdf5Writer.Group(children = Seq("Header" -> Hdf5Writer.Group(attrs =
        Seq("Time" -> 0.5, "Redshift" -> 1.0, "Time" -> 0.25))))))
    assert(e.getMessage.contains("Time"))
  }

  test("Hdf5Save's own header attrs replace the caller's of the same name") {
    val p = tmp("snap")
    Hdf5Save.save(frame, "id", p, chunkRows = ChunkRows, headerAttrs = Seq(
      "NumPart_ThisFile" -> Array(99L), "NumFilesPerSnapshot" -> 99L, "Time" -> 0.5))
    assertUniqueNames(p)
    val h = ChunkedHdf5.attrs(p)("/Header")
    assert(h("NumPart_ThisFile") == Attr.I64s(Vector(10L, 0L, 0L, 0L, 0L, 0L)))
    assert(h("NumFilesPerSnapshot") == Attr.I64(3L) && h("Time") == Attr.F64(0.5))
  }
}
