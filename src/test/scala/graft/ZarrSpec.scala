package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.zarr.{MiniJson, ZarrStore, ZarrWriter}
import graft.sources.Attr

/** Zarr v2 store reader/writer and the graft-zarr DataSource V2 —
  * scida ZarrLoader semantics (reference: src/scida/io/_base.py:267)
  * over the public zarr v2 storage spec.
  */
class ZarrSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_zarr").toString

  test("write→open→readRows round-trips all dtypes, compressed and raw") {
    for (compress <- Seq(true, false)) {
      val dir = tmp()
      ZarrWriter.write(dir, Seq(
        "d" -> ZarrWriter.F64(Array(1.5, -2.5, 3.25, 4.0, 5.125)),
        "f" -> ZarrWriter.F32(Array(0.5f, 1.5f, 2.5f, 3.5f, 4.5f)),
        "l" -> ZarrWriter.I64(Array(1L, -2L, 3L, Long.MaxValue, 5L)),
        "i" -> ZarrWriter.I32(Array(7, 8, 9, -10, 11))),
        chunkRows = 2, compress = compress)
      val st = ZarrStore.open(dir)
      assert(st.arrays.map(_.name).sorted == Seq("d", "f", "i", "l"))
      val d = st.arrays.find(_.name == "d").get
      assert(d.rows == 5 && d.chunkRows == 2 &&
        d.compressor.isDefined == compress)
      // spans chunks 0,1,2 incl. the padded edge chunk
      val buf = ZarrStore.readRows(d, 1, 4)
      assert((0 until 4).map(i => buf.getDouble(i * 8)) == Seq(-2.5, 3.25, 4.0, 5.125))
      val l = st.arrays.find(_.name == "l").get
      val lb = ZarrStore.readRows(l, 2, 3)
      assert((0 until 3).map(i => lb.getLong(i * 8)) == Seq(3L, Long.MaxValue, 5L))
    }
  }

  test("attrs round-trip through .zattrs, root and per-array") {
    val dir = tmp()
    ZarrWriter.write(dir, Seq("x" -> ZarrWriter.F64(Array(1.0))),
      attrs = Map(
        "/" -> Map("Redshift" -> 1.0, "name" -> "snap \"zero\"", "ids" -> Array(1L, 2L)),
        "/x" -> Map("unit" -> "Msun")))
    val st = ZarrStore.open(dir)
    assert(st.attrs("/")("Redshift") == Attr.F64(1.0))
    assert(st.attrs("/")("name") == Attr.Str("snap \"zero\""))
    assert(st.attrs("/")("ids") == Attr.F64s(Vector(1.0, 2.0)))
    assert(st.attrs("/x")("unit") == Attr.Str("Msun"))
  }

  test("consolidated metadata: one-file open identical to the walk, stale-safe fallback") {
    val dir = tmp()
    ZarrWriter.write(dir, Seq(
      "a" -> ZarrWriter.F64(Array(1.0, 2.0, 3.0)),
      "b" -> ZarrWriter.I64(Array(4L, 5L, 6L))),
      attrs = Map("/" -> Map("Redshift" -> 1.5), "/a" -> Map("units" -> "Msun")),
      chunkRows = 2)
    assert(new java.io.File(dir, ".zmetadata").isFile,
      "writer must consolidate")
    val walked = {
      // force the walk path by hiding .zmetadata
      val zm = new java.io.File(dir, ".zmetadata")
      val hidden = new java.io.File(dir, "zm.bak")
      zm.renameTo(hidden)
      try ZarrStore.open(dir) finally hidden.renameTo(zm)
    }
    val consolidated = ZarrStore.open(dir)
    // identical arrays (incl. ORDER — the DataSource schema), attrs
    assert(consolidated.arrays.map(_.name) == walked.arrays.map(_.name))
    assert(consolidated.arrays.map(a => (a.shape, a.chunks, a.dtypeStr,
      a.compressor, a.fillValue)) == walked.arrays.map(a => (a.shape,
      a.chunks, a.dtypeStr, a.compressor, a.fillValue)))
    assert(consolidated.attrs == walked.attrs)
    // data reads work off consolidated metadata
    val a = consolidated.arrays.find(_.name == "a").get
    val buf = ZarrStore.readRows(a, 0, 3)
    assert((0 until 3).map(i => buf.getDouble(i * 8)) == Seq(1.0, 2.0, 3.0))
    // corrupt .zmetadata → open falls back to the walk
    java.nio.file.Files.writeString(
      new java.io.File(dir, ".zmetadata").toPath, "{not json")
    assert(ZarrStore.open(dir).arrays.map(_.name) == walked.arrays.map(_.name))
  }

  test("consolidated order matches the walk for names sorting around '/'") {
    // "flux-err" vs "flux": '-' < '/' so a flat string sort of
    // metadata keys would flip them relative to the walk's
    // per-directory sort; segment-wise ordering must not
    val dir = tmp()
    ZarrWriter.write(dir, Seq(
      "flux" -> ZarrWriter.F64(Array(1.0)),
      "flux-err" -> ZarrWriter.F64(Array(0.1))))
    val consolidated = ZarrStore.open(dir)
    val zm = new java.io.File(dir, ".zmetadata")
    val hidden = new java.io.File(dir, "zm.bak")
    zm.renameTo(hidden)
    val walked = try ZarrStore.open(dir) finally hidden.renameTo(zm)
    assert(consolidated.arrays.map(_.name) == walked.arrays.map(_.name))
  }

  test("a root-level array store consolidates and opens") {
    // zarr v2 allows the store root itself to be the array — the
    // consolidated key is the bare ".zarray"
    val dir = tmp()
    val root = new java.io.File(dir)
    root.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(root, ".zarray").toPath,
      """{"zarr_format": 2, "shape": [3], "chunks": [3], "dtype": "<f8",
        | "compressor": null, "fill_value": 0, "order": "C",
        | "filters": null}""".stripMargin)
    val buf = java.nio.ByteBuffer.allocate(24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(1.5, 2.5, 3.5).foreach(buf.putDouble)
    java.nio.file.Files.write(new java.io.File(root, "0").toPath, buf.array())
    ZarrStore.consolidate(dir)
    val st = ZarrStore.open(dir)
    assert(st.arrays.size == 1 && st.arrays.head.rows == 3)
    val b = ZarrStore.readRows(st.arrays.head, 0, 3)
    assert((0 until 3).map(i => b.getDouble(i * 8)) == Seq(1.5, 2.5, 3.5))
  }

  test("missing chunk files materialize as fill_value") {
    val dir = tmp()
    ZarrWriter.write(dir, Seq("v" -> ZarrWriter.F64(Array(1.0, 2.0, 3.0, 4.0))),
      chunkRows = 2, compress = false)
    assert(new File(s"$dir/v/1").delete())
    val st = ZarrStore.open(dir)
    val buf = ZarrStore.readRows(st.arrays.head, 0, 4)
    assert((0 until 4).map(i => buf.getDouble(i * 8)) == Seq(1.0, 2.0, 0.0, 0.0))
  }

  test("zarr v3 metadata is rejected with a clear message") {
    val dir = tmp()
    new File(s"$dir/a").mkdirs()
    Files.writeString(new File(dir, ".zgroup").toPath, """{"zarr_format": 2}""")
    Files.writeString(new File(s"$dir/a/.zarray").toPath,
      """{"zarr_format": 3, "shape": [4], "chunks": [4], "dtype": "<f8",
        | "compressor": null, "fill_value": 0, "order": "C", "filters": null}""".stripMargin)
    val e = intercept[IllegalArgumentException](ZarrStore.open(dir))
    assert(e.getMessage.contains("v2"))
  }

  test("unsupported blosc compressor fails fast with a clear message") {
    val dir = tmp()
    new File(s"$dir/a").mkdirs()
    Files.writeString(new File(dir, ".zgroup").toPath, """{"zarr_format": 2}""")
    Files.writeString(new File(s"$dir/a/.zarray").toPath,
      """{"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<f8",
        | "compressor": {"id": "blosc", "cname": "lz4"},
        | "fill_value": 0, "order": "C", "filters": null}""".stripMargin)
    val e = intercept[IllegalArgumentException](ZarrStore.open(dir))
    assert(e.getMessage.contains("blosc"))
  }

  test("graft-zarr DataSource: chunk-aligned partitions, row_id, 2-D flatten") {
    val dir = tmp()
    ZarrWriter.write(dir, Seq(
      "Coordinates" -> ZarrWriter.F64(Array.tabulate(15)(_.toDouble), cols = 3),
      "Masses" -> ZarrWriter.F32(Array.tabulate(5)(i => i + 0.5f)),
      "ParticleIDs" -> ZarrWriter.I64(Array.tabulate(5)(i => 100L + i))),
      chunkRows = 2)
    val df = spark.read.format("graft-zarr").load(dir)
    assert(df.columns.toSeq == Seq("row_id", "Coordinates_0", "Coordinates_1",
      "Coordinates_2", "Masses", "ParticleIDs"))
    // one partition per stored chunk (3 chunks of <=2 rows)
    assert(df.rdd.getNumPartitions == 3)
    val rows = df.orderBy("row_id").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getLong(0)).toSeq == (0L until 5L))
    assert(rows.last.getDouble(1) == 12.0 && rows.last.getDouble(3) == 14.0)
    assert(rows.head.getFloat(4) == 0.5f && rows.head.getLong(5) == 100L)
  }

  test("graft-zarr pushes column pruning into the source") {
    val dir = tmp()
    ZarrWriter.write(dir, Seq(
      "a" -> ZarrWriter.F64(Array(1.0, 2.0)),
      "b" -> ZarrWriter.I64(Array(3L, 4L))))
    val df = spark.read.format("graft-zarr").load(dir).select("b")
    val p = df.queryExecution.executedPlan.toString
    // V2 BatchScan prints its (pruned) output attributes
    assert(p.contains("BatchScan graft-zarr") && p.contains("[b#") &&
      !p.contains("a#"), p.take(600))
    assert(df.as[Long].collect().sorted.toSeq == Seq(3L, 4L))
  }

  test("graft-zarr serves the vectorized path (ColumnarToRow in plan)") {
    val dir = tmp()
    ZarrWriter.write(dir, Seq("v" -> ZarrWriter.F64(Array.tabulate(10)(_ + 0.5))))
    val df = spark.read.format("graft-zarr").load(dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ColumnarToRow"), p.take(600))
    assert(df.agg(sum("v")).as[Double].head() == (0 until 10).map(_ + 0.5).sum)
  }

  test("MiniJson parses the metadata grammar") {
    val v = MiniJson.parse(
      """{"a": [1, 2.5, -3e2], "b": {"c": null, "d": true}, "s": "x\"y\n"}""")
      .asInstanceOf[Map[String, Any]]
    assert(v("a") == Seq(1.0, 2.5, -300.0))
    assert(v("b").asInstanceOf[Map[String, Any]]("c") == null)
    assert(v("b").asInstanceOf[Map[String, Any]]("d") == true)
    assert(v("s") == "x\"y\n")
  }
}
