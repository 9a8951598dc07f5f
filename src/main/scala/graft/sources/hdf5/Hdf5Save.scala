package graft.sources.hdf5

import java.io.File
import org.apache.spark.sql.DataFrame
import graft.sources.{Attr, ChunkedSave}

/** DISTRIBUTED chunked-HDF5 snapshot save — the write-back scida
  * performs through dask (reference: src/scida/interface.py:273
  * `save`), targeting the chunked-snapshot layout graft READS
  * (`prefix.K.hdf5` files virtually concatenated along axis 0,
  * io/_base.py:348): chunk K holds rows [K·chunkRows, (K+1)·chunkRows)
  * as one SELF-CONTAINED file — its own `/Header` (caller attrs,
  * then NumPart_ThisFile and NumFilesPerSnapshot, which replace any
  * caller attrs of those names) and one dataset per column under the
  * particle group.
  *
  * Scale shape is `ChunkedSave`'s (shared with `ZarrWriter.save`):
  * rows are repartitioned by chunk id (every chunk's rows land in one
  * task), executors write their chunk files IN PARALLEL into the
  * shared directory, and — unlike zarr — the driver writes NOTHING:
  * the chunked-HDF5 layout has no store-level metadata, every chunk
  * carries its own header, so the write has no serial driver tail at
  * all. Gaps or duplicates in the row index, and nulls, fail loudly
  * rather than writing a silently misaligned snapshot.
  *
  * Limits inherited from the fixture-grade writer (`Hdf5Writer`,
  * one SNOD per group): at most 8 datasets per group — enough for
  * snapshot write-back (scida's save writes per-field arrays), not a
  * general parquet replacement (parquet IS the at-rest format;
  * HDF5 save exists for interop with HDF5-consuming tools).
  */
object Hdf5Save {

  /** `extraGroups`: attr-only groups stamped on every chunk beside
    * /Header (e.g. the /Config group whose compile flags identify
    * MTNG runs — customs/arepo/MTNG/dataset.py:117). */
  def save(df: DataFrame, idCol: String, dir: String,
      group: String = "PartType0", chunkRows: Int = 1 << 16,
      filePrefix: String = "snap",
      headerAttrs: Seq[(String, Attr)] = Nil,
      extraGroups: Seq[(String, Seq[(String, Attr)])] = Nil): Unit = {
    val nCols = df.columns.count(_ != idCol)
    require(nCols <= 8,
      s"Hdf5Save writes at most 8 datasets per group (one SNOD); got $nCols")
    val p = ChunkedSave.plan(df, idCol, chunkRows, "hdf5 save")

    // Atomic-ish publish: executors write chunk files into a fresh
    // temp sibling directory; only after the whole job SUCCEEDS are
    // the previous snapshot's .hdf5 files deleted and the new chunks
    // moved in (same filesystem → rename). A mid-job failure leaves
    // the previous snapshot untouched — deleting first made every
    // failed save destroy the prior data.
    val out = new File(dir).getAbsoluteFile
    out.mkdirs()
    require(out.isDirectory,
      s"hdf5 save target $dir exists and is not a directory")
    val tmp = new File(out.getParentFile,
      out.getName + ".__hdf5tmp-" + java.util.UUID.randomUUID().toString.take(8))
    require(tmp.mkdirs(), s"cannot create temp write dir $tmp")

    val names = p.cols.map(_.name)
    val nChunks = p.nChunks
    val outPath = tmp.getPath

    try p.run { c =>
      val children: Seq[(String, Hdf5Writer.Node)] =
        names.indices.map { ci =>
          val node: Hdf5Writer.Node = c.cols(ci) match {
            case d: Array[Double] => Hdf5Writer.F64(d)
            case f: Array[Float] => Hdf5Writer.F32(f)
            case l: Array[Long] => Hdf5Writer.I64(l)
            case i: Array[Int] => Hdf5Writer.I32(i)
          }
          names(ci) -> node
        }.toSeq
      val own = Seq[(String, Attr)](
        "NumPart_ThisFile" -> Array(c.rows.toLong, 0L, 0L, 0L, 0L, 0L),
        "NumFilesPerSnapshot" -> nChunks.toLong)
      val root = Hdf5Writer.Group(children = Seq(
        "Header" -> Hdf5Writer.Group(attrs =
          headerAttrs.filterNot(a => own.exists(_._1 == a._1)) ++ own)) ++
        extraGroups.map { case (n, as) =>
          n -> (Hdf5Writer.Group(attrs = as): Hdf5Writer.Node) } ++ Seq(
        group -> Hdf5Writer.Group(children = children)))
      Hdf5Writer.write(s"$outPath/$filePrefix.${c.index}.hdf5", root)
    }
    catch { case e: Throwable =>
      // failed job: remove the temp dir, leave the previous snapshot
      tmp.listFiles().foreach(_.delete())
      tmp.delete()
      throw e
    }

    // job succeeded — publish: drop old snapshot files, move new in.
    // On a mid-publish move failure the temp dir is PRESERVED: it
    // holds the only copy of the not-yet-moved chunks (the old
    // snapshot is already gone), so deleting it would turn a
    // recoverable fault into data loss.
    try {
      out.listFiles().foreach(f =>
        if (f.getName.endsWith(".hdf5")) f.delete())
      tmp.listFiles().foreach { f =>
        java.nio.file.Files.move(f.toPath,
          new File(out, f.getName).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } catch { case e: Throwable =>
      throw new java.io.IOException(
        s"hdf5 save publish failed mid-move; unmoved chunks remain in " +
          s"$tmp — recover by moving them into $out manually", e)
    }
    tmp.delete() // success: every chunk was moved out
  }
}
