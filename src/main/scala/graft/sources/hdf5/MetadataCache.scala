package graft.sources.hdf5

import java.io.{File, FileInputStream, FileOutputStream, ObjectInputStream, ObjectOutputStream}
import java.security.MessageDigest

/** On-disk chunk-metadata cache — scida's metadata cache file
  * re-expressed (reference: src/scida/io/_base.py:366 `load_metadata`
  * with `use_cachefile`, src/scida/misc.py `return_hdf5cachepath`):
  * walking a chunked snapshot's groups/datasets/attributes is pure
  * metadata, and scida persists it so the SECOND open of a
  * 1000-chunk snapshot costs one cache read, not 1000 file walks.
  *
  * graft's analogue: the parsed `H5File` (shapes, dtypes, layouts,
  * attributes — no data) is serialized to one sidecar per chunk file
  * under a cache directory, keyed by the SHA-1 of the canonical path
  * and validated against (mtime, size) + a format version. Planning a
  * DataSource V2 scan on a fresh driver then reads N small sidecars
  * instead of parsing N HDF5 headers — at cluster scale the driver's
  * serial planning pass is exactly where a cold multi-thousand-chunk
  * snapshot hurts.
  *
  * Invalid, corrupt, or version-mismatched entries fall back to
  * re-parsing and are rewritten (best-effort: cache I/O failures
  * never fail a read). Writes are atomic (temp file + rename) so
  * concurrent drivers cannot observe a torn entry.
  */
object MetadataCache {

  private val FormatVersion = 2 // 2: attribute values are `Attr`s

  /** Resolution order: `graft.cache.dir` system property (tests),
    * `GRAFT_CACHE_DIR` env, else a per-user directory under the JVM
    * temp dir. */
  private def cacheDir: File =
    sys.props.get("graft.cache.dir").map(new File(_))
      .orElse(sys.env.get("GRAFT_CACHE_DIR").map(new File(_)))
      .getOrElse(new File(sys.props("java.io.tmpdir"),
        s"graft-meta-cache-${sys.props.getOrElse("user.name", "anon")}"))

  /** Opt-out switch (GRAFT_METADATA_CACHE=false). */
  private def enabled: Boolean =
    sys.props.get("graft.metadata.cache")
      .orElse(sys.env.get("GRAFT_METADATA_CACHE"))
      .forall(_.toLowerCase != "false")

  private def entryFile(canonical: String): File = {
    val sha = MessageDigest.getInstance("SHA-1")
      .digest(canonical.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    new File(cacheDir, s"$sha.h5meta")
  }

  /** Cached parse of `file` if present and still valid. */
  def load(file: File): Option[Hdf5Reader.H5File] = {
    if (!enabled) return None
    val canonical = file.getCanonicalPath
    val entry = entryFile(canonical)
    if (!entry.isFile) return None
    try {
      val in = new ObjectInputStream(new FileInputStream(entry))
      try {
        val ver = in.readInt()
        val path = in.readUTF()
        val mtime = in.readLong()
        val size = in.readLong()
        if (ver == FormatVersion && path == canonical &&
            mtime == file.lastModified() && size == file.length())
          Some(in.readObject().asInstanceOf[Hdf5Reader.H5File])
        else None
      } finally in.close()
    } catch { case _: Exception => None }
  }

  /** Best-effort store; never throws. `mtime`/`size` MUST be the
    * values observed BEFORE the parse began: stamping a post-parse
    * re-read would let a file rewritten mid-parse bind its NEW
    * (mtime, size) to the OLD metadata — a permanently-valid stale
    * entry serving wrong shapes/chunk addresses. */
  def store(file: File, mtime: Long, size: Long,
      meta: Hdf5Reader.H5File): Unit = {
    if (!enabled) return
    try {
      val canonical = file.getCanonicalPath
      val entry = entryFile(canonical)
      entry.getParentFile.mkdirs()
      sweep(entry.getParentFile)
      val tmp = File.createTempFile(entry.getName, ".tmp", entry.getParentFile)
      val out = new ObjectOutputStream(new FileOutputStream(tmp))
      try {
        out.writeInt(FormatVersion)
        out.writeUTF(canonical)
        out.writeLong(mtime)
        out.writeLong(size)
        out.writeObject(meta)
      } finally out.close()
      if (!tmp.renameTo(entry)) tmp.delete()
    } catch { case _: Exception => () }
  }

  /** Bound the cache: entries for deleted temp fixtures are never hit
    * again, so above `MaxEntries` the oldest half is reaped. */
  private val MaxEntries = 1024
  private def sweep(dir: File): Unit = {
    val entries = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".h5meta"))
    if (entries.length >= MaxEntries)
      entries.sortBy(_.lastModified()).take(entries.length - MaxEntries / 2)
        .foreach(_.delete())
  }
}
