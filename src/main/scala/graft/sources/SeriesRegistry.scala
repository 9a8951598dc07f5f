package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Series metadata registry — scida `DatasetSeries` member selection
  * (reference: src/scida/series.py:343 `get_dataset`, :449 `metadata`):
  * an ordered collection of snapshots with per-member scalar metadata
  * (redshift, time, …), selectable by index, name, or
  * nearest-metadata-value within a relative tolerance.
  *
  * The registry is tiny driver-side state (scida persists exactly
  * this as a per-series json cache file): N members × a few scalars.
  * Selection therefore never touches the cluster; the DATA path is
  * `member()`/`load()`, which turns the chosen member into a
  * partition filter on a snapshot-partitioned table — the scan prunes
  * to that member's files at the source (asserted on the plan in
  * SeriesSpec), so a 1000-snapshot series costs one snapshot's IO.
  */
final class SeriesRegistry(val members: Seq[SeriesRegistry.Member]) {
  import SeriesRegistry.Member

  require(members.map(_.name).distinct.size == members.size,
    "duplicate member names in series")

  def byIndex(i: Int): Member = members(i)

  def byName(name: String): Member =
    members.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"Name $name not found in this series.")) // series.py:384

  /** Nearest-metadata selection — series.py:397-446: among members
    * carrying ALL requested keys, pick the argmin of |meta - target|
    * per key; keys must agree on the winner (else "Ambiguous
    * selection request"), and the winner must be within `reltol`
    * relative tolerance of every requested value (else the tolerance
    * error, mirroring np.isclose(rtol)). */
  def nearest(targets: Map[String, Double], reltol: Double = 1e-2): Member = {
    require(targets.nonEmpty, "Specify some parameter to select for.")
    val candidates = members.filter(m => targets.keySet.subsetOf(m.meta.keySet))
    if (candidates.isEmpty)
      throw new IllegalArgumentException("No candidate found for given metadata.")
    val winners = targets.map { case (k, v) =>
      k -> candidates.minBy(m => math.abs(m.meta(k) - v))
    }
    if (winners.values.map(_.name).toSet.size > 1)
      throw new IllegalArgumentException("Ambiguous selection request")
    val m = winners.values.head
    targets.foreach { case (k, v) =>
      val have = m.meta(k)
      if (math.abs(v - have) > reltol * math.abs(have))
        throw new IllegalArgumentException(
          s"Candidate does not match tolerance for $k ($have vs $v requested)")
    }
    m
  }

  def nearest(key: String, value: Double): Member = nearest(Map(key -> value))

  /** Member roster + metadata — scida DatasetSeries info(). */
  def info: String =
    (s"SeriesRegistry (${members.size} members)" +:
      members.map(m => s"  ${m.name}: " +
        m.meta.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(", ")))
      .mkString("\n")

  /** The chosen member's rows from a snapshot-partitioned table: the
    * equality filter on the partition column prunes at the source. */
  def load(spark: SparkSession, root: String, member: Member,
      partitionCol: String = "snapshot"): DataFrame =
    spark.read.parquet(root).filter(col(partitionCol) === member.name)
}

object SeriesRegistry {
  /** One series member: snapshot name (the partition value), its
    * scalar metadata (redshift, time, …), and — for directory-
    * discovered series — the snapshot path plus the PAIRED catalog
    * path (ArepoSimulation resolves snapshot+catalog pairs,
    * customs/arepo/series.py:23). */
  final case class Member(name: String, meta: Map[String, Double],
      path: Option[String] = None, catalogPath: Option[String] = None)

  def apply(members: (String, Map[String, Double])*): SeriesRegistry =
    new SeriesRegistry(members.map { case (n, m) => Member(n, m) })

  /** Build a registry from chunked-HDF5 snapshot directories by
    * reading each member's header cosmology — the scida flow where
    * series metadata comes from per-member `load_metadata`
    * (series.py:449 + io/_base.py:366). */
  def fromSnapshots(dirs: Seq[(String, String)]): SeriesRegistry =
    new SeriesRegistry(dirs.map { case (name, path) =>
      val attrs = graft.sources.hdf5.ChunkedHdf5.attrs(path)
      val z = graft.model.Cosmology.redshiftFromAttrs(attrs)
      val t = attrs.get("/Header").flatMap(_.get("Time")).flatMap(_.scalar)
      Member(name, (z.map("redshift" -> _) ++ t.map("time" -> _)).toMap)
    })

  // ---- Simulation-directory discovery — scida GadgetStyleSimulation
  // (customs/gadgetstyle/series.py:19, the prefix walk at :56-101),
  // _get_snapshotfolder_prefix (:158) and DatasetSeries.from_directory
  // (series.py:311): point at a simulation ROOT and get the member
  // roster automatically, instead of spelling out (name, path) pairs.

  /** Discover the snapshot members of a simulation directory.
    *
    * Reference semantics: members live under `<root>/<subpath>/`
    * (default "output") when that exists, else under the root itself
    * (subbox layouts); the snapshot FOLDER prefix is inferred as the
    * most common "_"-prefix among subdirectories (snapdir_000 … →
    * "snapdir"; `prefix` overrides); entries `<prefix>_<digits>` sort
    * by trailing snapshot number. When no matching folders exist,
    * single-file snapshots `snap_*.hdf5` become the members when at
    * least two are present (series.py:85-96 tests exactly the "snap"
    * prefix for this fallback). Pure driver-side directory walking —
    * one listdir, no file contents touched. */
  private def trailingNum(n: String): Option[Long] = {
    val t = n.stripSuffix(".hdf5").split('_').last
    // bound the digits so a pathological name can't overflow toLong
    if (t.nonEmpty && t.length <= 12 && t.forall(_.isDigit)) Some(t.toLong)
    else None
  }

  def discoverMembers(simRoot: String, subpath: String = "output",
      prefix: Option[String] = None): Seq[(String, String)] = {
    val p = new java.io.File(simRoot)
    require(p.exists, s"Specified path '$simRoot' does not exist.")
    val spCand = new java.io.File(p, subpath)
    val sp = if (spCand.isDirectory) spCand else p
    val entries = Option(sp.listFiles()).getOrElse(Array.empty[java.io.File])
    val dirs = entries.filter(_.isDirectory)
    val pfx = prefix.getOrElse {
      val ps = dirs.map(_.getName.split('_').head)
      if (ps.isEmpty) ""
      // most common prefix; ties break lexicographically for
      // determinism (the reference leaves tie order to dict internals)
      else ps.groupBy(identity).maxBy { case (k, v) => (v.length, k) }._1
    }
    val folders = dirs
      .filter(d => pfx.nonEmpty && d.getName.startsWith(pfx + "_"))
      .flatMap(d => trailingNum(d.getName).map(n => (n, d.getName, d.getPath)))
    if (folders.nonEmpty)
      folders.sortBy { case (n, name, _) => (n, name) }
        .map { case (_, name, path) => (name, path) }.toSeq
    else {
      val h5 = entries
        .filter(f => f.isFile && f.getName.endsWith(".hdf5") &&
          f.getName.startsWith("snap_"))
        .flatMap(f => trailingNum(f.getName)
          .map(n => (n, f.getName.stripSuffix(".hdf5"), f.getPath)))
      require(h5.length > 1,
        s"Could not find any files with prefix '$pfx' in '$sp'.")
      h5.sortBy { case (n, name, _) => (n, name) }
        .map { case (_, name, path) => (name, path) }.toSeq
    }
  }

  /** Snapshot+catalog PAIR discovery — scida ArepoSimulation
    * (customs/arepo/series.py:23: `prefix_dict = dict(paths="snapdir",
    * gpaths="group")`, resolved by the gadget-style prefix walk,
    * customs/gadgetstyle/series.py:56-101): each member resolves its
    * snapshot dir AND, when present, the catalog dir sharing its
    * trailing snapshot number. Stem semantics per the reference: a
    * stem ("group") matches any entry that STARTS WITH it, and the
    * actual prefix is the matching entries' first "_"-segment — so
    * both `group_*` and TNG's `groups_*` resolve. The mismatch rule
    * (gadgetstyle/series.py:120-141): catalog dirs with no matching
    * snapshot id are DROPPED; snapshots with no catalog load
    * catalog-less ("Only loading groups that have a snapshot
    * associated"). An `output`-named root resolves to its parent
    * (arepo/series.py:41-43). Driver-side listdir only. */
  def discoverPairs(simRoot: String, subpath: String = "output")
      : Seq[(String, String, Option[String])] = {
    val p0 = new java.io.File(simRoot)
    val p = if (p0.getName == "output" && p0.getParentFile != null)
      p0.getParentFile else p0
    require(p.exists, s"Specified path '$simRoot' does not exist.")
    val spCand = new java.io.File(p, subpath)
    val sp = if (spCand.isDirectory) spCand else p
    val entries = Option(sp.listFiles()).getOrElse(Array.empty[java.io.File])
    def byStem(stem: String): Seq[(Long, String, String)] = {
      val dirs = entries.filter(_.isDirectory)
        .filter(_.getName.startsWith(stem))
      val actuals = dirs.map(_.getName.split('_').head).distinct.sorted
      // the reference pops ONE prefix from the set; lexicographic min
      // for determinism
      actuals.headOption.toSeq.flatMap { a =>
        dirs.filter(_.getName.startsWith(a + "_"))
          .flatMap(d => trailingNum(d.getName)
            .map(n => (n, d.getName, d.getPath)))
          .sortBy { case (n, name, _) => (n, name) }
      }
    }
    val snaps = byStem("snapdir")
    val cats = byStem("group")
      .map { case (n, _, path) => n -> path }.toMap
    snaps.map { case (n, name, path) => (name, path, cats.get(n)) }
  }

  /** Open an Arepo simulation root as a series whose members carry
    * snapshot+catalog PAIRS — the ArepoSimulation flow: discovery via
    * [[discoverPairs]], per-member metadata through the sidecar cache,
    * paths recorded on each member for [[openMember]]. */
  def discoverArepo(simRoot: String): SeriesRegistry = {
    val pairs = discoverPairs(simRoot)
    require(pairs.nonEmpty, s"Could not find any snapshot paths in '$simRoot'.")
    val base = fromSnapshotsCached(pairs.map(t => (t._1, t._2)),
      new java.io.File(simRoot, ".graft_series.json").getPath)
    new SeriesRegistry(base.members.zip(pairs).map {
      case (m, (_, path, cat)) =>
        m.copy(path = Some(path), catalogPath = cat)
    })
  }

  /** Open one discovered member as a full dataset with mixins, its
    * PAIRED catalog attached (the series' pairing is authoritative —
    * a member with no catalog in the roster loads catalog-less, never
    * a neighbor's via path-pattern luck). */
  def openMember(spark: SparkSession, m: Member): graft.model.GraftDataset =
    Load.dataset(spark,
      m.path.getOrElse(throw new IllegalArgumentException(
        s"member ${m.name} carries no on-disk path (not directory-discovered)")),
      catalog = m.catalogPath.getOrElse("none"))

  /** Discover + build in one call, through the sidecar cache at
    * `<root>/.graft_series.json`: the scida flow of opening a whole
    * simulation (`GadgetStyleSimulation(path)`) — a warm re-open costs
    * one listdir + one JSON read + one stat per chunk file. */
  def discover(simRoot: String, subpath: String = "output",
      prefix: Option[String] = None): SeriesRegistry =
    fromSnapshotsCached(discoverMembers(simRoot, subpath, prefix),
      new java.io.File(simRoot, ".graft_series.json").getPath)

  /** SWIFT simulation-series detection — customs/swift/series.py:42-68
    * `SwiftSimulation.validate_path`: a sim root carrying a
    * `Code/swiftsim` marker is a SWIFT run, whose snapshots live under
    * `snapshots/` (series.py:39 `subpath_dict = dict(paths=
    * "snapshots")`) rather than gadget-style `output/`. */
  def isSwiftSim(simRoot: String): Boolean =
    new java.io.File(new java.io.File(simRoot, "Code"), "swiftsim").exists

  /** Flavor-routed discovery: SWIFT roots (Code/swiftsim marker) read
    * `snapshots/`, gadget-style roots read `output/` (falling back to
    * the root itself — subbox layouts — inside discoverMembers). */
  def discoverAuto(simRoot: String): SeriesRegistry =
    discover(simRoot, subpath = if (isSwiftSim(simRoot)) "snapshots" else "output")

  // ---- JSON sidecar cache — scida's per-series metadata file
  // (series.py:449-470 `metadata` property: a json cache so
  // re-opening a 100-snapshot series is ONE file read, not 100
  // per-member header walks). graft's sidecar additionally validates
  // per member-chunk (mtime, size) — a stat, never an HDF5 parse —
  // with the MetadataCache stamping rule (stamps observed BEFORE the
  // build, so a mid-build rewrite can't bind new stamps to old
  // metadata). Corrupt/stale/mismatched sidecars rebuild; cache I/O
  // failures never fail an open. ----

  private val SidecarVersion = 1

  /** Load-or-build through the sidecar at `sidecarPath` (conventionally
    * `<seriesRoot>/.graft_series.json`). A warm open is one JSON read
    * plus one stat per chunk file. */
  def fromSnapshotsCached(dirs: Seq[(String, String)],
      sidecarPath: String): SeriesRegistry = {
    val f = new java.io.File(sidecarPath)
    loadSidecar(f, dirs).getOrElse {
      val stamps = dirs.map { case (_, p) => chunkStamps(p) }
      val reg = fromSnapshots(dirs)
      storeSidecar(f, dirs, stamps, reg)
      reg
    }
  }

  private def chunkStamps(path: String): Seq[(String, Long, Long)] =
    graft.sources.hdf5.ChunkedHdf5.discoverChunks(path).map { c =>
      val f = new java.io.File(c)
      (f.getCanonicalPath, f.lastModified(), f.length())
    }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""

  private def storeSidecar(f: java.io.File, dirs: Seq[(String, String)],
      stamps: Seq[Seq[(String, Long, Long)]], reg: SeriesRegistry): Unit =
    try {
      val members = dirs.zip(stamps).map { case ((name, path), st) =>
        val meta = reg.byName(name).meta.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${jstr(k)}: $v" }.mkString(", ")
        val files = st.map { case (p, m, sz) =>
          s"""{"p": ${jstr(p)}, "m": $m, "s": $sz}""" }.mkString(", ")
        s"""{"name": ${jstr(name)}, "path": ${jstr(path)}, "meta": {$meta}, "files": [$files]}"""
      }.mkString(",\n  ")
      val json = s"""{"version": $SidecarVersion, "members": [\n  $members\n]}\n"""
      val tmp = java.io.File.createTempFile(f.getName, ".tmp",
        Option(f.getParentFile).getOrElse(new java.io.File(".")))
      java.nio.file.Files.writeString(tmp.toPath, json)
      if (!tmp.renameTo(f)) tmp.delete() // atomic vs concurrent readers
    } catch { case _: Exception => () }

  /** The sidecar's registry, iff it covers exactly `dirs` and every
    * recorded chunk file still matches its (mtime, size). */
  private def loadSidecar(f: java.io.File,
      dirs: Seq[(String, String)]): Option[SeriesRegistry] =
    try {
      if (!f.isFile) return None
      val root = graft.sources.zarr.MiniJson
        .parse(java.nio.file.Files.readString(f.toPath))
        .asInstanceOf[Map[String, Any]]
      if (root.get("version").collect { case d: Double => d.toInt }
          .getOrElse(-1) != SidecarVersion) return None
      val ms = root("members").asInstanceOf[Seq[Any]]
        .map(_.asInstanceOf[Map[String, Any]])
      // must cover exactly the requested members, in any order
      val byName = ms.map(m => m("name").asInstanceOf[String] -> m).toMap
      if (byName.keySet != dirs.map(_._1).toSet || ms.size != dirs.size)
        return None
      val members = dirs.map { case (name, path) =>
        val m = byName(name)
        if (m("path").asInstanceOf[String] != path) return None
        val ok = m("files").asInstanceOf[Seq[Any]]
          .map(_.asInstanceOf[Map[String, Any]]).forall { e =>
            val cf = new java.io.File(e("p").asInstanceOf[String])
            cf.isFile &&
              cf.lastModified() == e("m").asInstanceOf[Double].toLong &&
              cf.length() == e("s").asInstanceOf[Double].toLong
          }
        if (!ok) return None
        Member(name, m("meta").asInstanceOf[Map[String, Any]]
          .map { case (k, v) => k -> v.asInstanceOf[Double] })
      }
      Some(new SeriesRegistry(members))
    } catch { case _: Exception => None }
}
