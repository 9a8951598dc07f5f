package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sources.hdf5.{ChunkedHdf5, Hdf5Reader, Hdf5Writer}
import graft.sources.Attr

/** HDF5 ingestion: the pure-JVM reader/writer pair, chunked-snapshot
  * discovery, and the graft-hdf5 DataSource V2 (scida
  * ChunkedHDF5Loader semantics, reference: src/scida/io/_base.py:348).
  *
  * Fixtures are written by Hdf5Writer in libhdf5's "earliest" on-disk
  * layout (superblock v0, v1 headers, symbol-table groups) — the
  * layout h5py emits for the same content.
  */
class Hdf5Spec extends SparkSpec {

  /** A 3-chunk Gadget-shaped snapshot: PartType0 with 2D coordinates,
    * 1D masses (f4), u8 particle ids; /Header carries cosmology attrs. */
  private lazy val snapDir: String = {
    val dir = Files.createTempDirectory("graft_h5_snap").toString
    val chunkRows = Seq(5, 3, 4)
    var idBase = 0L
    chunkRows.zipWithIndex.foreach { case (n, k) =>
      val coords = Array.tabulate(n * 3)(j => (idBase + j / 3) * 10.0 + j % 3)
      val masses = Array.tabulate(n)(j => 0.5f + (idBase + j).toFloat)
      val ids = Array.tabulate(n)(j => idBase + j)
      val root = Hdf5Writer.Group(children = Seq(
        "Header" -> Hdf5Writer.Group(attrs = Seq(
          "Time" -> 0.5, // scale factor a
          "Redshift" -> 1.0,
          "HubbleParam" -> 0.6774,
          "Omega0" -> 0.3089,
          "OmegaLambda" -> 0.6911,
          "BoxSize" -> 35000.0,
          "NumPart_ThisFile" -> Array(n.toLong, 0L, 0L, 0L, 0L, 0L),
          "NumFilesPerSnapshot" -> chunkRows.size.toLong)),
        "PartType0" -> Hdf5Writer.Group(children = Seq(
          "Coordinates" -> Hdf5Writer.F64(coords, cols = 3),
          "Masses" -> Hdf5Writer.F32(masses),
          "ParticleIDs" -> Hdf5Writer.U64(ids)))))
      Hdf5Writer.write(s"$dir/snap_042.$k.hdf5", root)
      idBase += n
    }
    dir
  }

  test("reader walks groups, datasets, and attributes") {
    val f = Hdf5Reader.open(s"$snapDir/snap_042.0.hdf5")
    assert(f.groups.toSet == Set("/Header", "/PartType0"))
    assert(f.datasets.map(_.path).toSet ==
      Set("/PartType0/Coordinates", "/PartType0/Masses", "/PartType0/ParticleIDs"))
    val coords = f.datasets.find(_.path == "/PartType0/Coordinates").get
    assert(coords.shape.toSeq == Seq(5L, 3L))
    assert(coords.dtype.isFloat && coords.dtype.size == 8)
    val ids = f.datasets.find(_.path == "/PartType0/ParticleIDs").get
    assert(ids.dtype.isInt && !ids.dtype.signed)
    val h = f.attrs("/Header")
    assert(h("Redshift") == Attr.F64(1.0) && h("HubbleParam") == Attr.F64(0.6774))
    assert(h("NumPart_ThisFile").asInstanceOf[Attr.I64s].v.head == 5L)
  }

  test("reader returns raw rows matching what the writer stored") {
    val f = Hdf5Reader.open(s"$snapDir/snap_042.1.hdf5")
    val m = f.datasets.find(_.path == "/PartType0/Masses").get
    val buf = Hdf5Reader.readRows(s"$snapDir/snap_042.1.hdf5", m, 1, 2)
    assert(buf.getFloat(0) == 6.5f && buf.getFloat(4) == 7.5f)
  }

  test("chunk discovery orders by numeric id and rejects mixed prefixes") {
    val chunks = ChunkedHdf5.discoverChunks(snapDir)
    assert(chunks.map(_.split('.').dropRight(1).last.toInt) == Seq(0, 1, 2))
    assert(ChunkedHdf5.groups(snapDir).toSet == Set("/Header", "/PartType0"))
  }

  test("DataSource V2 reads the virtual concat in chunk order") {
    val df = ChunkedHdf5.load(spark, snapDir, "PartType0")
    assert(df.columns.toSeq == Seq("row_id", "Coordinates_0", "Coordinates_1",
      "Coordinates_2", "Masses", "ParticleIDs"))
    assert(df.count() == 12)
    val rows = df.orderBy("row_id").collect()
    // row_id is the global particle index across chunks, in chunk order
    assert(rows.map(_.getLong(0)).toSeq == (0L until 12L))
    assert(rows.map(_.getLong(5)).toSeq == (0L until 12L)) // ParticleIDs
    // values cross chunk boundaries correctly: row 8 lives in chunk 3
    assert(rows(8).getDouble(1) == 80.0 && rows(8).getDouble(3) == 82.0)
    assert(rows(8).getFloat(4) == 8.5f)
  }

  test("column pruning reaches the HDF5 source (unprojected datasets unread)") {
    val df = ChunkedHdf5.load(spark, snapDir, "PartType0").select("Masses")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") || plan.contains("graft-hdf5"), plan.take(500))
    assert(!plan.contains("Coordinates"), "pruned column must not reach the scan:\n" + plan.take(800))
    assert(df.agg(sum("Masses")).head.getDouble(0) == (0 until 12).map(_ + 0.5).sum)
  }

  test("scan serves the vectorized path (ColumnarToRow in plan)") {
    val df = ChunkedHdf5.load(spark, snapDir, "PartType0")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan.take(600))
    // values flow correctly through the columnar batches, incl. the
    // u8 ids and multi-batch row_id continuity
    assert(df.agg(sum("ParticleIDs")).head.getLong(0) == (0 until 12).sum)
  }

  test("row slicing partitions a chunk without changing results") {
    val df = spark.read.format("graft-hdf5")
      .option("group", "PartType0").option("rowsPerPartition", "2")
      .load(snapDir)
    assert(df.rdd.getNumPartitions == 7) // ceil(5/2)+ceil(3/2)+ceil(4/2) = 3+2+2
    assert(df.orderBy("row_id").select("ParticleIDs").collect().map(_.getLong(0)).toSeq
      == (0L until 12L))
  }

  test("snapshot attrs feed driver-side metadata (header cosmology)") {
    val a = ChunkedHdf5.attrs(snapDir)
    val h = a("/Header")
    assert(h("Omega0") == Attr.F64(0.3089))
    assert(h("NumFilesPerSnapshot") == Attr.I64(3L))
  }

  test("scan planning opens each chunk file at most once (metadata memoized)") {
    val df = ChunkedHdf5.load(spark, snapDir, "PartType0") // snapDir already cached above
    val before = Hdf5Reader.openCount.get()
    df.queryExecution.executedPlan // forces planInputPartitions via inferSchema+plan
    df.count()
    val opens = Hdf5Reader.openCount.get() - before
    assert(opens == 0, s"metadata pass re-opened cached chunks $opens times")
  }

  test("hdf5 → parquet conversion round-trips") {
    val dest = Files.createTempDirectory("graft_h5_pq").toString + "/pt0"
    ChunkedHdf5.toParquet(spark, snapDir, "PartType0", dest)
    val pq = spark.read.parquet(dest)
    assert(pq.count() == 12)
    assert(pq.agg(sum("ParticleIDs")).head.getLong(0) == (0 until 12).sum)
  }

  test("chunked + shuffle + gzip datasets read back (incl. edge chunk)") {
    val dir = Files.createTempDirectory("graft_h5_chunked").toString
    val vals = Array.tabulate(10 * 3)(j => j * 1.5)
    val ids = Array.tabulate(10)(j => j.toLong * 7)
    Hdf5Writer.write(s"$dir/c.0.hdf5", Hdf5Writer.Group(children = Seq(
      "PartType1" -> Hdf5Writer.Group(children = Seq(
        // 10 rows in chunks of 4 → edge chunk of 2 rows
        "Coordinates" -> Hdf5Writer.Chunked(Hdf5Writer.F64(vals, cols = 3), chunkRows = 4),
        "ParticleIDs" -> Hdf5Writer.Chunked(Hdf5Writer.I64(ids), chunkRows = 4,
          gzip = true, shuffle = false))))))
    val f = Hdf5Reader.open(s"$dir/c.0.hdf5")
    val c = f.datasets.find(_.path == "/PartType1/Coordinates").get
    assert(c.layout.isInstanceOf[Hdf5Reader.Chunked])
    // slice crossing a chunk boundary (rows 3..6 span chunks 0 and 1)
    val buf = Hdf5Reader.readRows(s"$dir/c.0.hdf5", c, 3, 4)
    (0 until 12).foreach(j => assert(buf.getDouble(j * 8) == (9 + j) * 1.5))
    // end-to-end through Spark, including the short edge chunk
    val df = ChunkedHdf5.load(spark, dir, "PartType1")
    assert(df.count() == 10)
    assert(df.agg(sum("ParticleIDs")).head.getLong(0) == (0 until 10).map(_ * 7L).sum)
    assert(df.orderBy("row_id").collect().last.getDouble(3) == 29 * 1.5)
  }
}
