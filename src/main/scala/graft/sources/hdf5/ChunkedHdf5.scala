package graft.sources.hdf5

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Chunked-HDF5 snapshot discovery and loading — scida's
  * ChunkedHDF5Loader semantics (reference: src/scida/io/_base.py:348,
  * `_get_chunkedfiles` :974) re-expressed for Spark:
  *
  *  - a snapshot directory holds `prefix.K.hdf5` chunk files; members
  *    are ordered by the NUMERIC chunk id K (not lexicographically),
  *    hidden/backup files ignored, one prefix per load;
  *  - each particle-type group (`PartType0`, …) becomes one DataFrame
  *    whose rows are the ordered concatenation of the chunks
  *    (scida's h5py virtual concat along axis 0);
  *  - `/Header` etc. attributes become driver-side metadata (feeding
  *    the cosmology/unit mixins).
  */
object ChunkedHdf5 {

  /** Mirror of scida `_get_chunkedfiles`: list `path`, drop
    * hidden/backup entries, filter to `fileprefix`, require a single
    * prefix, order by numeric chunk id. A single non-chunked file (or
    * a direct file path) is a one-chunk snapshot. */
  def discoverChunks(path: String, fileprefix: String = ""): Seq[String] = {
    val f = new File(path)
    if (f.isFile) return Seq(path)
    require(f.isDirectory, s"no such file or directory: $path")
    val fs = f.listFiles().toSeq
      .filter(_.isFile)
      .filterNot(x => x.getName.startsWith(".") || x.getName.startsWith("bak"))
      .filterNot(x => x.getName.endsWith("~") || x.getName.endsWith(".bak") ||
        x.getName.endsWith(".swp"))
      .filter(_.getName.startsWith(fileprefix))
    require(fs.nonEmpty, s"no files found in '$path' for prefix '$fileprefix'")
    val prefixes = fs.map(_.getName.split('.').head).distinct
    require(prefixes.size == 1,
      s"more than one file prefix in '$path' (${prefixes.mkString(", ")}); pass fileprefix")
    val numbered = fs.flatMap { x =>
      val parts = x.getName.split('.')
      // prefix.CHUNKID.ext → sort by numeric CHUNKID
      if (parts.length >= 3) parts(parts.length - 2).toIntOption.map(n => (n, x.getPath))
      else None
    }
    if (numbered.isEmpty) {
      require(fs.size == 1, s"cannot order chunk files in '$path' (no numeric chunk ids)")
      fs.map(_.getPath)
    } else numbered.sortBy(_._1).map(_._2)
  }

  /** Per-JVM memoized chunk metadata — scida memoizes exactly this in
    * its loader cache file (io/_base.py ChunkedHDF5Loader): planning a
    * scan of an N-chunk snapshot must open each file ONCE, not once
    * per (schema, rowCount, attrs) consumer. Keyed by
    * (canonical path, mtime, size) so rewritten fixtures re-parse.
    * Misses consult the on-disk MetadataCache sidecar before parsing
    * the file (scida io/_base.py:366 `load_metadata` cache-file
    * semantics) — a FRESH driver planning a cold N-chunk snapshot
    * reads N small sidecars instead of walking N HDF5 headers. */
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Hdf5Reader.H5File]()

  def metadata(file: String): Hdf5Reader.H5File = {
    val f = new File(file)
    val key = (f.getCanonicalPath, f.lastModified(), f.length())
    metaCache.computeIfAbsent(key, _ =>
      MetadataCache.load(f).getOrElse {
        val parsed = Hdf5Reader.open(file)
        // stamp with the PRE-parse (mtime, size) from the memo key: a
        // rewrite landing mid-parse must invalidate, not get blessed
        MetadataCache.store(f, key._2, key._3, parsed)
        parsed
      })
  }

  /** Test hook: drop the in-JVM memo so the on-disk cache path is
    * observable. */
  private[graft] def clearMemo(): Unit = metaCache.clear()

  /** Row count of `group` in one chunk, from dataspace metadata only. */
  def rowCount(file: String, group: String): Long = {
    val f = metadata(file)
    val byDs = Hdf5Table.columnsFromFile(f, group, file).map(_.dsPath).distinct
    val rows = f.datasets.filter(d => byDs.contains(d.path)).map(_.rows).distinct
    require(rows.size == 1,
      s"datasets under '$group' in $file disagree on row count: $rows")
    rows.head
  }

  /** All non-root group paths of the first chunk (namespace listing —
    * scida walk_hdf5file `tree["groups"]`). */
  def groups(path: String, fileprefix: String = ""): Seq[String] =
    metadata(discoverChunks(path, fileprefix).head).groups

  /** Attributes of the first chunk: object path -> name -> value
    * (scida reads snapshot metadata from chunk 0 the same way,
    * io/_base.py:366 load_metadata). */
  def attrs(path: String, fileprefix: String = ""): Map[String, Map[String, graft.sources.Attr]] =
    metadata(discoverChunks(path, fileprefix).head).attrs

  /** Load one particle-type group of a (possibly multi-file) snapshot
    * as a DataFrame via the graft-hdf5 DataSource V2. */
  def load(spark: SparkSession, path: String, group: String,
      fileprefix: String = ""): DataFrame =
    spark.read.format("graft-hdf5")
      .option("group", group)
      .option("fileprefix", fileprefix)
      .load(path)

  /** One-shot converter: snapshot group → parquet (the at-rest format
    * everything downstream queries). Column pruning/pushdown then
    * come from the parquet scan; the HDF5 read happens exactly once. */
  def toParquet(spark: SparkSession, src: String, group: String,
      dest: String, fileprefix: String = ""): Unit =
    load(spark, src, group, fileprefix).write.mode("overwrite").parquet(dest)
}
