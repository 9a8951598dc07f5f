package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.hdf5.{ChunkedHdf5, Hdf5Save}
import graft.sources.Attr

/** Distributed chunked-HDF5 save (scida interface.py:273 save →
  * chunked snapshot layout): executor-parallel chunk files, driver
  * writes nothing, exact read-back through the graft-hdf5 source.
  */
class Hdf5SaveSpec extends SparkSpec {
  import spark.implicits._

  test("save → load round-trip is exact; one self-contained file per chunk") {
    val n = 1000
    val df = spark.range(n).select(
      col("id"),
      (col("id") * 2).as("ikey"),
      (col("id").cast("double") / 7.0).as("x"),
      col("id").cast("int").as("small"),
      col("id").cast("float").as("f"))
    val dir = Files.createTempDirectory("graft_h5save").toString
    Hdf5Save.save(df, "id", dir, group = "PartType0", chunkRows = 128,
      headerAttrs = Seq("Redshift" -> 1.5, "Time" -> 0.4,
        "HubbleParam" -> 0.7))
    // 1000 rows / 128 → 8 chunk files, numerically ordered
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".hdf5"))
    assert(files.length == 8)
    // every chunk is self-contained: its own header with its own count
    val attrs = ChunkedHdf5.attrs(dir)
    assert(attrs("/Header")("Redshift") == Attr.F64(1.5))
    // read-back: exact values in row order through the DSv2 source
    val back = ChunkedHdf5.load(spark, dir, "PartType0")
    assert(back.count() == n)
    val got = back.select("row_id", "ikey", "x", "small", "f")
      .orderBy("row_id")
      .as[(Long, Long, Double, Int, Float)].collect()
    got.zipWithIndex.foreach { case ((rid, ik, x, sm, f), i) =>
      assert(rid == i && ik == 2L * i && x == i / 7.0 &&
        sm == i && f == i.toFloat)
    }
    // the last chunk is short (1000 = 7*128 + 104) and reads back too
    assert(ChunkedHdf5.rowCount(files.map(_.getPath).max, "PartType0") > 0)
  }

  test("gaps in the row index fail loudly, never a misaligned snapshot") {
    val df = spark.range(100).filter(col("id") =!= 50)
      .select(col("id"), col("id").cast("double").as("v"))
    val dir = Files.createTempDirectory("graft_h5save_gap").toString
    val e = intercept[Exception](Hdf5Save.save(df, "id", dir, chunkRows = 32))
    assert(e.getMessage.contains("contiguous") || e.getMessage.contains("gaps"))
  }

  test("null values fail loudly (hdf5 numerics have no null representation)") {
    val df = spark.range(10).select(col("id"),
      when(col("id") === 5, null).otherwise(col("id").cast("double")).as("v"))
    val e = intercept[Exception](
      Hdf5Save.save(df, "id", Files.createTempDirectory("xn").toString))
    assert(e.getMessage.contains("null in column"))
  }

  test("save respects the 8-dataset writer bound with a clear error") {
    val cols = (0 until 9).map(i => col("id").cast("double").as(s"c$i"))
    val df = spark.range(10).select(col("id") +: cols: _*)
    val e = intercept[IllegalArgumentException](
      Hdf5Save.save(df, "id", Files.createTempDirectory("x").toString))
    assert(e.getMessage.contains("8 datasets"))
  }
}
