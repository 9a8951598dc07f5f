package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.zarr.{ZarrSave, ZarrStore}

/** Distributed zarr save — scida save() (interface.py:273) with
  * executor-parallel chunk writes: chunk-aligned repartition, each
  * task writes its chunks' files directly.
  */
class ZarrSaveSpec extends SparkSpec {
  import spark.implicits._

  test("save→load round-trips all numeric types through the store") {
    val dir = Files.createTempDirectory("graft_zsave").toString + "/store"
    val n = 25
    val df = spark.range(n).select(
      col("id"),
      (col("id") * 2).as("l"),
      col("id").cast("int").as("i"),
      (col("id") * 1.5).cast("double").as("d"),
      (col("id") * 0.5).cast("float").as("f"))
    ZarrSave.save(df, "id", dir, chunkRows = 7,
      attrs = Map("/" -> Map("Redshift" -> 1.0), "/d" -> Map("unit" -> "Msun")))
    // store shape: 4 chunks (7,7,7,4), zlib-compressed, attrs present
    val st = ZarrStore.open(dir)
    assert(st.arrays.map(_.name).sorted == Seq("d", "f", "i", "l"))
    assert(st.arrays.forall(a => a.rows == n && a.chunkRows == 7 &&
      a.compressor.contains("zlib")))
    assert(st.attrs("/")("Redshift") == 1.0 && st.attrs("/d")("unit") == "Msun")
    assert(new File(s"$dir/l/3").exists() && !new File(s"$dir/l/4").exists())
    // read back through the DataSource and compare exactly
    val back = spark.read.format("graft-zarr").load(dir).orderBy("row_id")
    val got = back.select("row_id", "l", "i", "d", "f")
      .as[(Long, Long, Int, Double, Float)].collect().toSeq
    val want = (0 until n).map(k =>
      (k.toLong, k * 2L, k, k * 1.5, k * 0.5f))
    assert(got == want)
  }

  test("GraftDataset.save / saveZarr round-trip (interface.py:273)") {
    val base = Files.createTempDirectory("graft_ds_save").toString
    val df = spark.range(10).select(col("id"), (col("id") * 1.5).as("v"))
    val ds = graft.model.GraftDataset(df)
    ds.save(s"$base/pq")
    assert(spark.read.parquet(s"$base/pq").count() == 10)
    ds.saveZarr(s"$base/zarr", "id", chunkRows = 4)
    val back = spark.read.format("graft-zarr").load(s"$base/zarr")
    assert(back.agg(sum("v")).head().getDouble(0) == (0 until 10).map(_ * 1.5).sum)
  }

  test("copyToZarr converts an HDF5 snapshot to an equivalent zarr store (utilities.py copy_to_zarr)") {
    import graft.sources.Load
    import graft.sources.hdf5.Hdf5Writer
    val dir = Files.createTempDirectory("graft_c2z").toString
    // a small arepo-flavored snapshot: markers + cosmology + data
    Hdf5Writer.write(s"$dir/snap.0.hdf5", Hdf5Writer.Group(children = Seq(
      "Header" -> Hdf5Writer.Group(attrs = Seq(
        "Git_commit" -> "0badc0de", "Time" -> 0.5,
        "Redshift" -> 1.0, "HubbleParam" -> 0.6774)),
      "PartType0" -> Hdf5Writer.Group(children = Seq(
        "Masses" -> Hdf5Writer.F64(Array(1.0, 2.0, 3.0)),
        "ParticleIDs" -> Hdf5Writer.I64(Array(10L, 20L, 30L)))))))
    val out = dir + "/store"
    Load.copyToZarr(spark, dir, out, chunkRows = 2)
    // the copy re-detects the family (root attrs carried over) ...
    assert(Load.flavor(out) == "arepo")
    // ... loads with the same cosmology and unit defaults ...
    val ds = Load.dataset(spark, out)
    assert(ds.cosmology.exists(_.h == 0.6774))
    assert(ds.unitOf("Masses_phys").contains("Msun"))
    // ... and carries identical values
    val got = ds.select("row_id", "Masses", "ParticleIDs")
      .as[(Long, Double, Long)].collect().toSeq.sorted
    assert(got == Seq((0L, 1.0, 10L), (1L, 2.0, 20L), (2L, 3.0, 30L)))
    // parquet input (no row index) is rejected loudly
    val pq = dir + "/t.parquet"
    spark.range(3).write.parquet(pq)
    val e = intercept[IllegalArgumentException](
      Load.copyToZarr(spark, pq, dir + "/store2"))
    assert(e.getMessage.contains("row-indexed"))
  }

  test("copyToHdf5 converts a zarr store back to a chunked-HDF5 snapshot") {
    import graft.sources.Load
    import graft.sources.hdf5.Hdf5Writer
    val dir = Files.createTempDirectory("graft_z2h").toString
    Hdf5Writer.write(s"$dir/snap.0.hdf5", Hdf5Writer.Group(children = Seq(
      "Header" -> Hdf5Writer.Group(attrs = Seq(
        "Git_commit" -> "0badc0de", "Time" -> 0.25,
        "Redshift" -> 3.0, "HubbleParam" -> 0.6774)),
      "PartType0" -> Hdf5Writer.Group(children = Seq(
        "Masses" -> Hdf5Writer.F64(Array(1.0, 2.0, 3.0, 4.0, 5.0)),
        "ParticleIDs" -> Hdf5Writer.I64(Array(10L, 20L, 30L, 40L, 50L)))))))
    val store = dir + "/store"
    Load.copyToZarr(spark, dir, store, chunkRows = 2)
    // zarr -> chunked hdf5 (2 rows/chunk -> 3 snap.K.hdf5 files)
    val back = dir + "/back"
    Load.copyToHdf5(spark, store, back, chunkRows = 2)
    assert(new java.io.File(back).listFiles().count(
      _.getName.matches("snap\\.\\d+\\.hdf5")) == 3)
    // the round-trip re-detects the family and carries the values
    assert(Load.flavor(back) == "arepo")
    val ds = Load.dataset(spark, back)
    assert(ds.cosmology.exists(_.h == 0.6774))
    val got = ds.select("row_id", "Masses", "ParticleIDs")
      .as[(Long, Double, Long)].collect().toSeq.sorted
    assert(got == Seq((0L, 1.0, 10L), (1L, 2.0, 20L), (2L, 3.0, 30L),
      (3L, 4.0, 40L), (4L, 5.0, 50L)))
  }

  test("copyToZarr of an Hdf5Save snapshot (long[] header attrs) keeps count and sums") {
    import graft.sources.Load
    import graft.sources.hdf5.Hdf5Save
    val dir = Files.createTempDirectory("graft_h2z").toString
    val snap = s"$dir/snap"
    Hdf5Save.save(spark.range(25).select(col("id"), (col("id") * 3).as("l"),
      (col("id") * 0.5).as("d")), "id", snap, chunkRows = 10)
    val store = s"$dir/store"
    Load.copyToZarr(spark, snap, store, chunkRows = 7)
    // Hdf5Save's NumPart_ThisFile header attr is a long[]
    assert(ZarrStore.open(store).attrs("/").contains("NumPart_ThisFile"))
    def reduced(p: String) = Load.dataFrame(spark, p)
      .agg(count(lit(1)), sum("l"), sum("d")).head()
    assert(reduced(store) == reduced(snap))
    assert(reduced(store).getLong(0) == 25)
  }

  test("non-contiguous or duplicated row index fails loudly") {
    val dir = Files.createTempDirectory("graft_zsave_bad").toString + "/s"
    val gap = Seq((0L, 1.0), (2L, 2.0)).toDF("id", "v") // id 1 missing
    intercept[Exception](ZarrSave.save(gap, "id", dir, chunkRows = 2))
    val dup = Seq((0L, 1.0), (1L, 2.0), (1L, 3.0)).toDF("id", "v")
    val dir2 = Files.createTempDirectory("graft_zsave_bad2").toString + "/s"
    intercept[Exception](ZarrSave.save(dup, "id", dir2, chunkRows = 2))
  }

  test("round-trips a real table partition-parallel") {
    val dir = Files.createTempDirectory("graft_zsave_li").toString + "/store"
    val li = graft.sources.Tables.lineitem(spark, sfDir)
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      .withColumn("rid", monotonically_increasing_id())
    // monotonically_increasing_id is not contiguous across partitions;
    // derive a contiguous index via coalesce(1) ordering for the test
    val indexed = li.drop("rid").coalesce(1)
      .withColumn("rid", monotonically_increasing_id())
    ZarrSave.save(indexed, "rid", dir, chunkRows = 1000)
    val back = spark.read.format("graft-zarr").load(dir)
    assert(back.rdd.getNumPartitions > 1) // chunk-aligned read parallelism
    val sums = back.agg(
      sum("l_orderkey").as("a"), sum("l_quantity").as("b")).head()
    val want = indexed.agg(
      sum("l_orderkey").as("a"), sum("l_quantity").as("b")).head()
    assert(sums == want)
  }

  test("save() overwrite safety (interface.py:311-320, test_save_safety.py)") {
    val base = Files.createTempDirectory("graft_zsafe").toString
    val df = spark.range(5).select(col("id"), (col("id") * 1.5).as("v"))

    // refuses a non-empty directory that is not a zarr group
    val notZarr = new File(base, "mydir"); notZarr.mkdirs()
    Files.writeString(new File(notZarr, "important.txt").toPath, "data")
    val e = intercept[IllegalArgumentException] {
      ZarrSave.save(df, "id", notZarr.getPath)
    }
    assert(e.getMessage.contains("is not a zarr group"))
    assert(Files.readString(new File(notZarr, "important.txt").toPath) == "data")

    // allows an empty directory
    val empty = new File(base, "emptydir"); empty.mkdirs()
    ZarrSave.save(df, "id", empty.getPath)
    assert(new File(empty, ".zgroup").exists())

    // allows overwriting an existing zarr group
    ZarrSave.save(df, "id", empty.getPath)
    assert(spark.read.format("graft-zarr").load(empty.getPath).count() == 5)

    // a regular-file target is a clear error, not an NPE
    val f = new File(base, "plainfile")
    Files.writeString(f.toPath, "x")
    val e2 = intercept[IllegalArgumentException] {
      ZarrSave.save(df, "id", f.getPath)
    }
    assert(e2.getMessage.contains("not a directory"))

    // driver-side writer shares the guard
    val e3 = intercept[IllegalArgumentException] {
      graft.sources.zarr.ZarrWriter.write(notZarr.getPath,
        Seq("x" -> graft.sources.zarr.ZarrWriter.F64(Array(1.0))))
    }
    assert(e3.getMessage.contains("is not a zarr group"))
  }
}
