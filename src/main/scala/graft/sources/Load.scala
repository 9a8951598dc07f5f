package graft.sources

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.{Cosmology, GraftDataset}
import graft.sources.hdf5.ChunkedHdf5

/** Format auto-detection — scida's `load()` convenience entry
  * (reference: src/scida/convenience.py:287 `load`,
  * src/scida/discovertypes.py: candidate classes sniff the path and
  * vote): open a path without knowing its format, detect
  * parquet / chunked-HDF5 / zarr, and return a lazily-scanned dataset
  * with metadata mixins attached.
  *
  * Detection is driver-side metadata sniffing only (file names, magic
  * bytes, store marker files) — no data is read until an action, as
  * in scida.
  */
object Load {

  sealed trait Format
  case object Parquet extends Format
  case object Hdf5 extends Format
  case object Zarr extends Format
  case object Fits extends Format

  private val Hdf5Magic = Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n')
  private val FitsMagic = "SIMPLE  =".getBytes("US-ASCII")

  private def magic(f: File, expect: Array[Byte]): Boolean =
    f.isFile && f.length() >= expect.length && {
      val head = new Array[Byte](expect.length)
      val in = Files.newInputStream(f.toPath)
      try { in.readNBytes(head, 0, expect.length); head.sameElements(expect) }
      finally in.close()
    }

  private def isHdf5File(f: File): Boolean = magic(f, Hdf5Magic)
  private def isFitsFile(f: File): Boolean = magic(f, FitsMagic)

  /** Sniff a path's format: zarr marker files win for directories
    * (`.zgroup`/`.zarray`), then HDF5 magic bytes (any chunk file),
    * then parquet (extension or directory of part files). Mirrors
    * scida's validate_path voting with its specificity order. */
  def detect(path: String): Format = {
    val f = new File(path)
    require(f.exists(), s"no such path: $path")
    if (f.isDirectory) {
      if (new File(f, ".zgroup").exists() || new File(f, ".zarray").exists()) Zarr
      else {
        val files = f.listFiles().filter(_.isFile)
        if (files.exists(isHdf5File)) Hdf5
        else if (files.exists(isFitsFile)) Fits
        else if (files.exists(x => x.getName.endsWith(".parquet") ||
          x.getName.startsWith("part-") || x.getName == "_SUCCESS")) Parquet
        else sys.error(s"cannot detect dataset format of directory $path " +
          s"(no zarr markers, HDF5 chunks, FITS files, or parquet files)")
      }
    } else {
      if (isHdf5File(f)) Hdf5
      else if (isFitsFile(f)) Fits
      else if (f.getName.endsWith(".parquet")) Parquet
      else sys.error(s"cannot detect dataset format of file $path")
    }
  }

  /** Particle-type namespace aliases — the names scida registers on
    * every Gadget-family dataset (customs/arepo/dataset.py:91
    * `aliases`): `ds.dataFrame(path, "gas")` loads PartType0. */
  private val GroupAliases = Map(
    "gas" -> "PartType0", "baryons" -> "PartType0",
    "dm" -> "PartType1", "dark matter" -> "PartType1",
    "lowres" -> "PartType2", "lowres dm" -> "PartType2",
    "tracer" -> "PartType3", "tracers" -> "PartType3",
    "stars" -> "PartType4",
    "bh" -> "PartType5", "black holes" -> "PartType5")

  /** Resolve a group name or its family alias ("gas" → "PartType0"). */
  def resolveGroup(group: String): String =
    GroupAliases.getOrElse(group, group)

  /** Load a path as a DataFrame, auto-detected. For HDF5, `group`
    * selects the particle-type group (family aliases like "gas"
    * resolve — arepo/dataset.py:91); when omitted and exactly one
    * group holds datasets, that group is used (scida's single-
    * container shortcut). */
  def dataFrame(spark: SparkSession, path: String, group: String = "",
      fileprefix: String = ""): DataFrame =
    detect(path) match {
      case Parquet => spark.read.parquet(path)
      case Zarr =>
        val r = spark.read.format("graft-zarr")
        // container selection for multi-container stores (catalog
        // Group/Subhalo tables) — mirrors the hdf5 group option
        (if (group.nonEmpty) r.option("group", resolveGroup(group)) else r)
          .load(path)
      case Fits => spark.read.format("graft-fits").load(firstFits(path))
      case Hdf5 =>
        val pfx = if (fileprefix.nonEmpty) fileprefix else autoPrefix(path)
        val g = if (group.nonEmpty) resolveGroup(group)
          else soleHdf5Group(path, pfx)
        ChunkedHdf5.load(spark, path, g, pfx)
    }

  private def firstFits(path: String): String = {
    val f = new File(path)
    if (f.isFile) path
    else f.listFiles().filter(isFitsFile).map(_.getPath).sorted.headOption
      .getOrElse(sys.error(s"no FITS file in $path"))
  }

  /** Data-bearing groups of a chunked-HDF5 snapshot (from chunk-0
    * metadata only — no data read). */
  def hdf5Groups(path: String, fileprefix: String = ""): Seq[String] = {
    val chunk = ChunkedHdf5.discoverChunks(path, fileprefix).head
    val f = ChunkedHdf5.metadata(chunk)
    f.groups.filter(g =>
      f.datasets.exists(d => d.path.startsWith(g + "/"))).map(_.stripPrefix("/"))
  }

  private def soleHdf5Group(path: String, fileprefix: String = ""): String =
    hdf5Groups(path, fileprefix) match {
      case Seq(one) => one
      case many => sys.error(
        s"HDF5 snapshot $path has ${many.size} groups (${many.mkString(", ")}); " +
          "pass group=...")
    }

  /** Pick a chunk-file prefix when the snapshot dir mixes several —
    * scida `_get_fileprefix` (io/_base.py) resolved the MTNG way
    * (customs/arepo/MTNG/dataset.py:48-51): MTNG dirs hold a REGULAR
    * set (`snapshot_*`) beside a mostbound companion
    * (`snapshot-prevmostboundonly_*`); the regular set is the
    * dataset, the companion loads as a sub-object. A single-prefix
    * dir needs no choice (empty prefix = discoverChunks' own path);
    * several non-companion prefixes stay ambiguous (empty → the
    * loader's "pass fileprefix" error, unchanged). */
  private def autoPrefix(path: String): String = {
    val f = new File(path)
    if (!f.isDirectory) return ""
    val prefixes = f.listFiles().toSeq.filter(_.isFile)
      .filter(isHdf5File).map(_.getName.split('.').head).distinct
    if (prefixes.size <= 1) ""
    else prefixes.filterNot(_.contains("prevmostboundonly")) match {
      case Seq(regular) => regular
      case _ => ""
    }
  }

  /** The mostbound companion prefix present in the dir, if any. */
  private def mostboundPrefix(path: String): Option[String] = {
    val f = new File(path)
    if (!f.isDirectory) return None
    f.listFiles().toSeq.filter(_.isFile).filter(isHdf5File)
      .map(_.getName.split('.').head).distinct
      .find(_.contains("prevmostboundonly"))
  }

  /** Discover the sibling group catalog of a snapshot path — scida
    * ArepoSnapshot.discover_catalog (customs/arepo/dataset.py:254):
    * derive candidate paths by the reference's substitution rules, IN
    * ITS ORDER (dataset.py:264-271 — for Illustris, "groups" must
    * precede "fof_subhalo_tab"), and take the first that exists and
    * is not the snapshot itself. Covers the standard layouts:
    * `snapdir_099` → `groups_099` (TNG), `snapshot_270` →
    * `group_270`/`groups_270` (MTNG/others), `snap_099.hdf5` →
    * `fof_subhalo_tab_099.hdf5`. */
  def discoverCatalog(path: String): Option[String] = {
    def subs(p: String): Seq[String] = Seq(
      p.replace("snapshot", "group"),
      p.replace("snapshot", "groups"),
      p.replace("snap", "groups"),
      p.replace("snap", "group"),
      p.replace("snapdir", "groups").replace("snap", "groups"),
      p.replace("snapdir", "groups").replace("snap", "fof_subhalo_tab"))
    val f = new File(path)
    val p = f.getPath
    // reference candidates first — str.replace over the WHOLE path,
    // bug-compatibly (the reference mangles parent dirs that contain
    // "snap", e.g. .../snapshots/snapdir_099 → .../groupsshots/...);
    // then a basename-only pass so those standard layouts still
    // resolve where scida's own substitution corrupts the parent
    val basenameOnly = Option(f.getParentFile).map { par =>
      subs(f.getName).map(n => new File(par, n).getPath)
    }.getOrElse(Nil)
    (subs(p) ++ basenameOnly).find(c => c != p && new File(c).exists())
  }

  /** Named-dataset resolution — scida `find_path`
    * (convenience.py:183) minus its download half (network-bound,
    * out of scope in a zero-egress build): resolve a user-supplied
    * dataset NAME or short path to a concrete on-disk path through a
    * JSON config registry (scida reads the same structure from
    * `~/.config/scida/config.yaml`):
    *
    * {{{
    * { "datafolders": ["/data/sims", "~/datasets"],
    *   "resources": { "tng": { "tng50-4": { "path": "/data/tng50-4" } } } }
    * }}}
    *
    *  - an existing filesystem path resolves to itself;
    *  - `backend://name` looks up `resources[backend][name].path`
    *    (convenience.py:262-272; http/https backends raise — the
    *    download path is deliberately unsupported here);
    *  - otherwise each `datafolders` entry is probed for
    *    `<folder>/<path>` (convenience.py:274-283), first hit wins;
    *  - anything else fails with the reference's error message.
    */
  def findPath(path: String,
      configPath: String = defaultConfigPath): String = {
    def expand(p: String): String =
      if (p == "~") sys.props("user.home")
      else if (p.startsWith("~/")) sys.props("user.home") + p.drop(1)
      else p
    val p = expand(path)
    if (new File(p).exists()) return p
    val cfg = loadConfig(expand(configPath))
    if (p.contains("://")) {
      val Array(backend, name) = p.split("://", 2)
      if (backend == "http" || backend == "https")
        sys.error("remote datasets are not supported in this build " +
          "(zero-egress); mount the data and pass its path")
      val resources = cfg.get("resources")
        .collect { case m: Map[String @unchecked, Any @unchecked] => m }
        .getOrElse(Map.empty[String, Any])
      val r = resources.get(backend)
        .collect { case m: Map[String @unchecked, Any @unchecked] => m }
        .getOrElse(sys.error(s"Unknown resource '$backend'"))
      val entry = r.get(name)
        .collect { case m: Map[String @unchecked, Any @unchecked] => m }
        .getOrElse(sys.error(s"Unknown dataset '$name' in resource '$backend'"))
      entry.get("path").collect { case s: String => expand(s) }
        .getOrElse(sys.error(s"resource '$backend/$name' has no path"))
    } else {
      val folders = cfg.get("datafolders")
        .collect { case xs: Seq[Any @unchecked] => xs.collect { case s: String => s } }
        .getOrElse(Seq.empty)
      folders.iterator.map(f => new File(expand(f), p))
        .find(_.exists()).map(_.getPath)
        .getOrElse(sys.error(s"Specified path '$path' unknown."))
    }
  }

  /** Open a dataset BY NAME — scida `get_dataset_by_name`
    * (convenience.py:399): resolve through the config registry, then
    * the full auto-detected `dataset` load with mixins attached. */
  def datasetByName(spark: SparkSession, name: String, group: String = "",
      configPath: String = defaultConfigPath): GraftDataset =
    dataset(spark, findPath(name, configPath), group)

  /** Canonical dataset name from a name or alias — scida
    * `get_dataset_by_name` (convenience.py:399): a key of the
    * registry's `datasets` section resolves to itself; otherwise the
    * first entry whose `aliases` list contains `name` wins; None when
    * the registry has no match (the reference returns None rather
    * than raising). Registry shape (config JSON, same structure as
    * scida's config.yaml `datasets:` section):
    * {{{
    * { "datasets": { "tng50-4": {
    *     "aliases": ["tng50_4"],
    *     "properties": { "type": "simulation", "redshift": 0.0 } } } }
    * }}} */
  def datasetByAlias(name: String,
      configPath: String = defaultConfigPath): Option[String] = {
    val ds = datasetsSection(configPath)
    if (ds.contains(name)) Some(name)
    else ds.collectFirst {
      case (k, v) if v.get("aliases").exists {
        case xs: Seq[Any @unchecked] => xs.contains(name)
        case _ => false
      } => k
    }
  }

  /** Dataset names whose `properties` match EVERY given (key, value)
    * — scida `get_datasets_by_props` (convenience.py:430). Equality
    * is on the parsed JSON values (strings, booleans, numbers-as-
    * Double — mirror the registry's own types in `props`). */
  def datasetsByProps(props: Map[String, Any],
      configPath: String = defaultConfigPath): Seq[String] =
    datasetsSection(configPath).collect {
      case (k, v) =>
        val p = v.get("properties").collect {
          case m: Map[String @unchecked, Any @unchecked] => m
        }.getOrElse(Map.empty[String, Any])
        (k, props.forall { case (pk, pv) => p.get(pk).contains(pv) })
    }.collect { case (k, true) => k }.toSeq.sorted

  /** Candidate names by name OR properties — scida
    * `get_dataset_candidates` (convenience.py:464). Exactly one of
    * the two selectors must be given. */
  def datasetCandidates(name: Option[String] = None,
      props: Option[Map[String, Any]] = None,
      configPath: String = defaultConfigPath): Seq[String] = (name, props) match {
    case (Some(n), _) => datasetByAlias(n, configPath).toSeq
    case (_, Some(p)) => datasetsByProps(p, configPath)
    case _ => throw new IllegalArgumentException(
      "Need to specify name or properties.")
  }

  /** THE dataset matching a name or property set — scida
    * `get_dataset` (convenience.py:490): errors when the match is
    * ambiguous or empty, with the reference's error strings.
    * DELIBERATE divergence on the name path: the reference's
    * `get_dataset_candidates(name=...)` wraps an unresolved name as
    * `[None]` — a length-1 list that slips past its empty check, so
    * `get_dataset(name="unknown")` returns None instead of raising.
    * That is an accident of the wrapping (the props path raises as
    * documented); here an unknown name raises the same
    * "No dataset candidate found." the reference documents. */
  def datasetName(name: Option[String] = None,
      props: Option[Map[String, Any]] = None,
      configPath: String = defaultConfigPath): String = {
    val c = datasetCandidates(name, props, configPath)
    if (c.size > 1) throw new IllegalArgumentException(
      "Too many dataset candidates.")
    c.headOption.getOrElse(throw new IllegalArgumentException(
      "No dataset candidate found."))
  }

  private def datasetsSection(configPath: String): Map[String, Map[String, Any]] =
    loadConfig(configPath).get("datasets").collect {
      case m: Map[String @unchecked, Any @unchecked] => m.collect {
        case (k, v: Map[String @unchecked, Any @unchecked]) => k -> v
      }
    }.getOrElse(Map.empty)

  // ONE registry file for every config consumer (findPath/
  // datasetByName, unit tables, simulation identifiers) — delegating
  // here keeps the `graft.config.path` property / GRAFT_CONFIG_PATH /
  // home-default resolution from silently splitting across APIs
  private def defaultConfigPath: String =
    graft.model.UnitDefaults.configPath

  private def loadConfig(path: String): Map[String, Any] = {
    val f = new File(path)
    if (!f.isFile) return Map.empty
    try graft.sources.zarr.MiniJson.parse(Files.readString(f.toPath))
      .asInstanceOf[Map[String, Any]]
    catch { case _: Exception => Map.empty }
  }

  /** Simulation-family detection from metadata markers — scida's
    * per-class `validate_path` votes re-expressed as one inspection
    * (reference: src/scida/customs/swift/dataset.py:55 `/Code
    * Code` contains "SWIFT"; gizmo/dataset.py:84 `/Header
    * GIZMO_version`; arepo/dataset.py:230-239 `/Header Git_commit`
    * without `Compactify_Version`; rockstar/dataset.py:59 a
    * `/cosmology:omega_dm` dataset). Family only (scida
    * `Specificity.FAMILY`): graft needs no per-simulation subclass
    * because the cosmology/unit mixins are data-driven — the flavor
    * is informational (logging, unit-default selection by callers). */
  def flavor(path: String, fileprefix: String = ""): String = {
    def classify(header: Map[String, Attr], config: Map[String, Attr],
        code: Option[Attr], hasRockstarDs: Boolean): String =
      if (code.flatMap(_.string).exists(_.contains("SWIFT"))) "swift"
      else if (hasRockstarDs) "rockstar"
      else if (header.contains("GIZMO_version")) "gizmo"
      else if (header.contains("Git_commit") &&
        !header.contains("Compactify_Version"))
        // MTNG is an arepo run whose /Config group carries the MTNG
        // compile flag (customs/arepo/MTNG/dataset.py:117-121
        // validate_path: "/Config" present and "MTNG" in it)
        (if (config.contains("MTNG")) "mtng" else "arepo")
      else "generic"
    detect(path) match {
      case Hdf5 =>
        val pfx = if (fileprefix.nonEmpty) fileprefix else autoPrefix(path)
        val f = ChunkedHdf5.metadata(
          ChunkedHdf5.discoverChunks(path, pfx).head)
        classify(f.attrs.getOrElse("/Header", Map.empty),
          f.attrs.getOrElse("/Config", Map.empty), f.attrs.get("/Code").flatMap(_.get("Code")),
          f.datasets.exists(_.path == "/cosmology:omega_dm"))
      case Zarr =>
        // zarr stores carry header metadata on the ROOT group (the
        // same convention attrsOf/dataset() use) — ZarrStore keys
        // attrs by "/" and per-array paths only, never "/Header"
        val st = graft.sources.zarr.ZarrStore.open(path)
        val root = st.attrs.getOrElse("/", Map.empty)
        classify(root, Map.empty, root.get("Code"),
          st.arrays.exists(_.name == "cosmology:omega_dm"))
      case _ => "generic"
    }
  }

  /** Shipped simulation-identification entries — the graft analogue
    * of the reference's configfiles/simulations.yaml ships (the
    * families whose unit system cannot be read off the file itself):
    * Auriga/gaia-dr3/eROSITA identify by path name alone
    * (simulations.yaml:115 "can only rely on path"), LGalaxies by its
    * Header `Simulation` banner (simulations.yaml:159), FLAMINGO by
    * the SWIFT parameter `Snapshots:basename` (simulations.yaml:166).
    * Each resolves a `unit_flavor` into UnitDefaults' shipped tables.
    * User config entries overlay per name (later-wins, as the user
    * simulations.yaml overlays the shipped one, config.py:148). */
  private val shippedSimulations: Map[String, Map[String, Any]] = Map(
    "Auriga" -> Map(
      "identifiers" -> Map("name_contains" -> "auriga"),
      "unit_flavor" -> "auriga"),
    "LGalaxies" -> Map(
      "identifiers" -> Map("Header" -> Map(
        "Simulation" -> "L-Galaxies run on the Millennium Simulation")),
      "unit_flavor" -> "lgalaxies"),
    "FLAMINGO" -> Map(
      "identifiers" -> Map("Parameters" -> Map(
        "Snapshots:basename" -> "flamingo")),
      "unit_flavor" -> "flamingo"),
    "gaia-dr3" -> Map(
      "identifiers" -> Map("name_contains" -> "gaia"),
      "unit_flavor" -> "gaia"),
    "eROSITA-events" -> Map(
      "identifiers" -> Map("name_contains" -> "erosita"),
      "unit_flavor" -> "erosita"))

  /** Identify the simulation from metadata — scida
    * `check_config_for_dataset` (misc.py:234) over the shipped
    * simulation entries above plus the user config's (shipped
    * `simulations.yaml` + user overlay, config.py:148; a user entry
    * REPLACES a shipped entry of the same name): an entry matches
    * when EVERY identifier holds —
    * `name_contains` (case-insensitive substring of the last three
    * path elements, misc.py:271-276) and per-group attr equality
    * (`Header`/`Parameters` keys; scalars compare np.isclose-style,
    * misc.py:299-301; `{"match": "substring", "content": …}` values
    * compare by containment, misc.py:313-316). Entries without
    * identifiers never match (misc.py:316-317). Config shape:
    *
    * {{{
    * { "simulations": { "TNG50-4": {
    *     "identifiers": { "name_contains": "tng50",
    *                      "Header": {"BoxSize": 35000.0} },
    *     "unit_flavor": "mysim" } } }
    * }}}
    *
    * Returns (name, entry) for every matching candidate; the dataset
    * wiring requires uniqueness like the reference's `unique=True`. */
  def identifySimulation(metadata: Map[String, Map[String, Attr]],
      path: String,
      configPath: String = graft.model.UnitDefaults.configPath)
      : Seq[(String, Map[String, Any])] = {
    def valueMatches(attr: Attr, want: Any): Boolean = (want: @unchecked) match {
      case m: Map[String @unchecked, Any @unchecked]
          if m.get("match").contains("substring") =>
        m.get("content").exists(c =>
          attr.string.exists(_.contains(String.valueOf(c))))
      case m: Map[String @unchecked, Any @unchecked] =>
        m.get("content").exists(valueMatches(attr, _))
      // numbers and numeric arrays (MassTable-style, element-wise)
      // compare np.isclose-style (misc.py:299)
      case _ => attr.matches(Attr.fromJson(want),
        (a, b) => math.abs(a - b) <= 1e-8 + 1e-5 * math.abs(b))
    }
    val userSims = loadConfig(configPath).get("simulations")
      .collect { case m: Map[String @unchecked, Any @unchecked] => m }
      .getOrElse(Map.empty[String, Any])
    val sims = (shippedSimulations: Map[String, Any]) ++ userSims
    val f = new File(path)
    val lastThree = Seq(Option(f), Option(f.getParentFile),
      Option(f.getParentFile).flatMap(p => Option(p.getParentFile)))
      .flatten.map(_.getName.toLowerCase)
    sims.toSeq.sortBy(_._1).flatMap {
      case (name, entry: Map[String @unchecked, Any @unchecked]) =>
        entry.get("identifiers") match {
          case Some(ids: Map[String @unchecked, Any @unchecked])
              if ids.nonEmpty =>
            val nameOk = ids.get("name_contains").forall(s =>
              lastThree.exists(_.contains(String.valueOf(s).toLowerCase)))
            val groupsOk = ids.forall {
              case ("name_contains", _) => true
              case (grp, want: Map[String @unchecked, Any @unchecked]) =>
                metadata.get("/" + grp).exists(attrs =>
                  want.forall { case (k, v) =>
                    attrs.get(k).exists(valueMatches(_, v)) })
              case _ => false
            }
            if (nameOk && groupsOk) Seq(name -> entry) else Nil
          case _ => Nil // no identifiers → never a candidate
        }
      case _ => Nil
    }
  }

  /** Load as a GraftDataset with metadata mixins attached — the full
    * scida `load()` contract: cosmology derives from /Header attrs
    * (HDF5 chunk 0, or a zarr root/.zattrs carrying header keys) when
    * the snapshot validates as a cosmological run, and per-field
    * units resolve from dataset-level attributes (explicit unit
    * strings or TNG-style cgs scalings, units.py:122
    * extract_units_from_attrs): each resolvable field gets its unit
    * recorded and a derived `<field>_cgs` quantity (raw × factor,
    * one literal multiply) registered. */
  def dataset(spark: SparkSession, path: String, group: String = "",
      catalog: String = "auto", fileprefix: String = ""): GraftDataset = {
    val fmt = detect(path)
    // multi-prefix dirs (MTNG's regular + mostbound sets) resolve to
    // the regular set unless the caller pins one
    val pfx = if (fileprefix.nonEmpty || fmt != Hdf5) fileprefix
      else autoPrefix(path)
    val df = dataFrame(spark, path, group, pfx)
    var ds = GraftDataset(df)
    val attrs = attrsOf(fmt, path, pfx)
    // the cosmological gate applies to the dataset's OWN metadata; the
    // sibling-file fallback below only recovers missing PARAMETERS for
    // a dataset that already validated (reference: the mixin is
    // attached by validate() first, cosmology.py:83, and only its
    // __init__ consults alternatives, cosmology.py:46 — a
    // non-cosmological run must not have comoving units re-attached
    // from a sibling's header)
    val cosmoValidated = attrs.exists(Cosmology.isCosmological)
    attrs.filter(_ => cosmoValidated)
      .flatMap(Cosmology.fromAttrs)
      // header carries no usable cosmology (Illustris groups_* files):
      // recover it from sibling fof_subhalo_tab_*/snap_* headers —
      // cosmology.py:223 _try_cosmology_from_alternative_files
      .orElse(if (cosmoValidated && fmt == Hdf5)
        Cosmology.fromAlternativeFiles(path) else None)
      .foreach(c => ds = ds.withCosmology(c))
    // the file's own code-unit system (UnitLength_in_cm family) —
    // scida units="code"/"cgs" load modes (units.py _get_default_units)
    attrs.flatMap(graft.model.CodeUnits.fromAttrs)
      .foreach(cu => ds = ds.withCodeUnits(cu))
    // per-field unit discovery from dataset-level attrs
    val fieldAttrs: String => Option[Map[String, Attr]] = fmt match {
      case Hdf5 =>
        val g = if (group.nonEmpty) resolveGroup(group)
          else soleHdf5Group(path, pfx)
        val all = ChunkedHdf5.attrs(path, pfx)
        name => all.get(s"/$g/$name")
      case Zarr =>
        val st = graft.sources.zarr.ZarrStore.open(path)
        val g = if (group.nonEmpty) resolveGroup(group) + "/" else ""
        name => st.attrs.get(s"/$g$name")
      case Fits =>
        // TUNITn column units — the FITS standard's per-column unit
        // keyword, the same role HDF5 dataset attrs play
        val t = graft.sources.fits.FitsReader.binTable(firstFits(path))
        val m: Map[String, Map[String, Attr]] = t.cols.flatMap(c =>
          c.unit.map(u => c.name -> Map("units" -> Attr.Str(u)))).toMap
        name => m.get(name)
      case _ => _ => None
    }
    // flavor-keyed unit defaults fill in where attrs resolve nothing —
    // scida's shipped unit configs (configfiles/units/*.yaml via
    // units.py:411 add_units); TNG/EAGLE snapshots carry no unit attrs
    // at all, so without this table they load unitless
    lazy val flav = flavor(path, pfx)
    // config identification (check_config_for_dataset, misc.py:234 +
    // units.py:360-369): a matching "simulations" entry's unit_flavor
    // overrides the detected family for UNIT-DEFAULT resolution only
    // — the reference's identified unitfile is merged last and wins;
    // detection still drives catalogs/physics. Multiple candidates
    // error, as with the reference's unique=True.
    val identified = attrs.toSeq.flatMap(identifySimulation(_, path))
    require(identified.size <= 1,
      s"Multiple dataset candidates: ${identified.map(_._1).mkString(", ")}")
    val unitFlavorOverride = identified.headOption
      .flatMap(_._2.get("unit_flavor"))
      .collect { case s: String => s }
    lazy val unitFlav = unitFlavorOverride.getOrElse(flav)
    val groupName = fmt match {
      case Hdf5 => if (group.nonEmpty) resolveGroup(group)
        else soleHdf5Group(path, pfx)
      // a zarr container view resolves defaults under its own group
      // name (Group/Subhalo catalog tables); root arrays → `_all`
      case Zarr => if (group.nonEmpty) resolveGroup(group) else ""
      case _ => "" // fits arrays sit at the root → `_all` only
    }
    df.columns.filter(_ != "row_id").foreach { colName =>
      // flattened 2-D columns (Coordinates_0) carry the array's attrs
      val base = colName.replaceAll("_\\d+$", "")
      val a = fieldAttrs(colName).orElse(fieldAttrs(base))
      val fromAttrs = a.flatMap(graft.model.UnitAttrs.fromAttrs(_, ds.cosmology))
      val fromDefaults = () =>
        graft.model.UnitDefaults.resolve(unitFlav, groupName, colName, ds.cosmology)
          .orElse(graft.model.UnitDefaults.resolve(unitFlav, groupName, base, ds.cosmology))
      // attr-present path wins; defaults only fill gaps
      val (resolved, suffix) = fromAttrs match {
        case Some(r) => (Some(r), "_cgs")
        case None => (fromDefaults(), "_phys")
      }
      resolved.foreach {
        case (factor, measure) =>
          if (factor == 1.0)
            // explicit unit string: the raw values ARE in this unit
            ds = ds.withUnit(colName, measure.toString)
          else
            // conversion factor: raw values are code units; the derived
            // field carries the physical measure (withDerivedQ records
            // its unit from the quantity algebra)
            ds = ds.withDerivedQ(s"$colName$suffix")(g =>
              graft.model.Quantity(
                g.field(colName) * org.apache.spark.sql.functions.lit(factor), measure))
      }
    }
    // physics derived fields for the Gadget family — scida registers
    // these per-family (customs/arepo/extra_fields.py); attach is a
    // no-op when the dependencies are absent
    if (flav == "arepo" || flav == "gizmo" || flav == "mtng")
      ds = graft.model.PhysicsFields.attach(ds)
    // group-catalog auto-discovery/auto-attach — scida
    // ArepoSnapshot.__init__'s catalog="auto" default: discover the
    // sibling catalog (discover_catalog, dataset.py:254), load it
    // (load_catalog, :125) and hang each of its data-bearing
    // containers (Group, Subhalo) off the snapshot, so halo data is
    // just THERE after load. `catalog` mirrors the reference kwarg:
    // "auto" (discover; arepo family only, as in the reference where
    // discovery lives on ArepoSnapshot), "none" (disable), or an
    // explicit catalog path. The catalog loads through the same
    // `dataset` entry (its own unit defaults, its own cosmology —
    // incl. the sibling-file fallback Illustris group files need),
    // with catalog="none" to terminate the recursion.
    if ((fmt == Hdf5 || fmt == Zarr) && catalog != "none" &&
        (catalog != "auto" || flav == "arepo" || flav == "mtng")) {
      val catPath = if (catalog == "auto") discoverCatalog(path)
        else Some(catalog)
      // a catalog's containers, per ITS OWN format: a zarr snapshot
      // can sit beside a zarr catalog (nested Group/… arrays) exactly
      // as an hdf5 one does
      def containersOf(cp: String): Seq[String] = detect(cp) match {
        case Hdf5 => hdf5Groups(cp)
        case Zarr => graft.sources.zarr.ZarrStore.groupsOf(
          graft.sources.zarr.ZarrStore.open(cp))
        case _ => Nil
      }
      catPath.foreach { cp =>
        containersOf(cp).foreach { g =>
          ds = ds.withCatalog(g, dataset(spark, cp, g, catalog = "none"))
        }
      }
    }
    // MTNG's mostbound companion (customs/arepo/MTNG/dataset.py:58-76):
    // the dir's second chunk set (`snapshot-prevmostboundonly_*`, DM
    // only) loads as a sub-object of the regular snapshot — attached
    // under "mostbound" (the reference merges its fields with a
    // `_mostbound` suffix; containers there share no row identity, so
    // the distributed-honest form is the sub-dataset, joinable by id).
    // A mostbound-pinned load (pfx IS the companion) attaches nothing.
    if (flav == "mtng" && !pfx.contains("prevmostboundonly"))
      mostboundPrefix(path).foreach { mb =>
        ds = ds.withCatalog("mostbound",
          dataset(spark, path, catalog = "none", fileprefix = mb))
      }
    ds
  }

  /** Format conversion — scida `utilities.py:10 copy_to_zarr`
    * (Dataset(fp_in).save(fp_out) with a zarr target): read any
    * supported dataset and rewrite it as a zarr store via the
    * executor-parallel `ZarrWriter.save` (chunk files written straight
    * from the partitions carrying those rows — nothing flows through
    * the driver). Header attrs ride to the store root's `.zattrs` so
    * the copy re-detects its family/cosmology on load exactly like the
    * original (`flavor`/`dataset` read zarr root attrs). Requires a
    * row-indexed source (hdf5/zarr/fits — every graft ingestion
    * source emits `row_id`). */
  def copyToZarr(spark: SparkSession, inPath: String, outPath: String,
      group: String = "", chunkRows: Int = 1 << 16,
      compress: Boolean = true): Unit = {
    val (df, header) = rowIndexedSource(spark, inPath, group, "copyToZarr")
    graft.sources.zarr.ZarrWriter.save(df, "row_id", outPath, chunkRows,
      compress,
      attrs = if (header.isEmpty) Map.empty else Map("/" -> header))
  }

  /** The reverse conversion — zarr (or any row-indexed source) →
    * chunked-HDF5 snapshot layout, through the executor-parallel
    * Hdf5Save (each chunk-id partition writes ONE self-contained
    * `snap.K.hdf5`; the driver writes nothing). Header attrs (any
    * `Attr`, string arrays included) carry into every file's /Header;
    * the writer's own NumPart_ThisFile and NumFilesPerSnapshot
    * replace the source's, so the copy re-detects family/cosmology on
    * load like the original. Column cap: Hdf5Save's 8-dataset SNOD
    * limit — select the fields to convert via `cols` when the source
    * is wider. */
  def copyToHdf5(spark: SparkSession, inPath: String, outPath: String,
      group: String = "", chunkRows: Int = 1 << 16,
      cols: Seq[String] = Nil, hdf5Group: String = "PartType0"): Unit = {
    val (df0, header) = rowIndexedSource(spark, inPath, group, "copyToHdf5")
    val df = if (cols.isEmpty) df0
      else df0.select("row_id", cols: _*)
    graft.sources.hdf5.Hdf5Save.save(df, "row_id", outPath,
      group = hdf5Group, chunkRows = chunkRows,
      headerAttrs = header.toSeq)
  }

  /** A conversion's source: its row-indexed frame and its header
    * attrs (`/Header`, else the root group's, else none). */
  private def rowIndexedSource(spark: SparkSession, inPath: String,
      group: String, op: String): (DataFrame, Map[String, Attr]) = {
    val df = dataFrame(spark, inPath, group)
    val fmt = detect(inPath)
    require(df.columns.contains("row_id"),
      s"$op needs a row-indexed source (hdf5/zarr/fits), got $fmt")
    val attrs = attrsOf(fmt, inPath)
    (df, attrs.flatMap(_.get("/Header")).orElse(attrs.flatMap(_.get("/")))
      .getOrElse(Map.empty))
  }

  private def attrsOf(fmt: Format, path: String,
      fileprefix: String = ""): Option[Map[String, Map[String, Attr]]] =
    fmt match {
      case Hdf5 => Some(ChunkedHdf5.attrs(path, fileprefix))
      case Zarr =>
        val st = graft.sources.zarr.ZarrStore.open(path)
        // zarr stores carry header metadata on the root group
        st.attrs.get("/").map(root => Map("/Header" -> root))
      case Fits =>
        // scida load_metadata: the primary header IS the metadata
        // (io/_base.py:134); numeric cards become header scalars
        val cards = graft.sources.fits.FitsReader.primaryHeader(firstFits(path))
        Some(Map("/Header" -> cards.flatMap { case (k, v) =>
          v.toDoubleOption.map(d => k -> Attr.F64(d)) }))
      case Parquet => None
    }
}
