package graft

import java.nio.file.Files
import graft.sources.Load
import graft.sources.hdf5.Hdf5Writer
import graft.sources.zarr.ZarrWriter
import graft.sources.Attr

/** Format auto-detection — scida load()/discovertypes semantics
  * (reference: src/scida/convenience.py:287, src/scida/
  * discovertypes.py): sniff a path, pick the loader, attach mixins.
  */
class LoadSpec extends SparkSpec {
  import spark.implicits._

  private lazy val hdf5Dir: String = {
    val dir = Files.createTempDirectory("graft_load_h5").toString
    Hdf5Writer.write(s"$dir/snap.0.hdf5", Hdf5Writer.Group(children = Seq(
      "Header" -> Hdf5Writer.Group(attrs = Seq(
        "Time" -> 0.5, "Redshift" -> 1.0, "HubbleParam" -> 0.6774)),
      "PartType0" -> Hdf5Writer.Group(children = Seq(
        "Masses" -> Hdf5Writer.F64(Array(1.0, 2.0)))))))
    dir
  }

  private lazy val zarrDir: String = {
    val dir = Files.createTempDirectory("graft_load_zarr").toString
    ZarrWriter.write(dir, Seq("Masses" -> ZarrWriter.F64(Array(3.0, 4.0))),
      attrs = Map("/" -> Map("Redshift" -> 2.0, "HubbleParam" -> 0.7)))
    dir
  }

  private lazy val parquetDir: String = {
    val dir = Files.createTempDirectory("graft_load_pq").toString + "/t"
    Seq((1L, 5.0), (2L, 6.0)).toDF("id", "v").write.parquet(dir)
    dir
  }

  test("detect: zarr markers, hdf5 magic bytes, parquet part files") {
    assert(Load.detect(zarrDir) == Load.Zarr)
    assert(Load.detect(hdf5Dir) == Load.Hdf5)
    assert(Load.detect(s"$hdf5Dir/snap.0.hdf5") == Load.Hdf5)
    assert(Load.detect(parquetDir) == Load.Parquet)
    assert(Load.detect("/root/testdata/sf0.001/orders.parquet") == Load.Parquet)
    intercept[RuntimeException](Load.detect(Files.createTempDirectory("empty").toString))
  }

  test("dataFrame dispatches to the right source, end-to-end") {
    assert(Load.dataFrame(spark, parquetDir).count() == 2)
    // hdf5: sole data-bearing group is picked automatically
    val h5 = Load.dataFrame(spark, hdf5Dir)
    assert(h5.columns.contains("Masses") && h5.count() == 2)
    val z = Load.dataFrame(spark, zarrDir)
    assert(z.select("Masses").as[Double].collect().sorted.toSeq == Seq(3.0, 4.0))
  }

  test("flavor: family markers vote as in scida's per-class validate_path") {
    def snap(header: Seq[(String, Attr)],
        extra: Seq[(String, Hdf5Writer.Node)] = Nil): String = {
      val dir = Files.createTempDirectory("graft_flavor").toString
      Hdf5Writer.write(s"$dir/s.0.hdf5", Hdf5Writer.Group(children =
        Seq("Header" -> Hdf5Writer.Group(attrs = header)) ++ extra ++
          Seq("PartType0" -> Hdf5Writer.Group(children = Seq(
            "Masses" -> Hdf5Writer.F64(Array(1.0)))))))
      dir
    }
    // swift: /Code Code contains SWIFT (swift/dataset.py:55)
    assert(Load.flavor(snap(Seq("Redshift" -> 0.0),
      extra = Seq("Code" -> Hdf5Writer.Group(attrs = Seq(
        "Code" -> "SWIFT v0.9"))))) == "swift")
    // gizmo: GIZMO_version in /Header (gizmo/dataset.py:84)
    assert(Load.flavor(snap(Seq("GIZMO_version" -> 2022L))) == "gizmo")
    // arepo: Git_commit without Compactify_Version (arepo/dataset.py:230)
    assert(Load.flavor(snap(Seq("Git_commit" -> "abc123"))) == "arepo")
    assert(Load.flavor(snap(Seq("Git_commit" -> "abc123",
      "Compactify_Version" -> 1L))) == "generic")
    // rockstar: a root-level /cosmology:omega_dm dataset
    // (rockstar/dataset.py:59)
    assert(Load.flavor(snap(Seq("Redshift" -> 0.0),
      extra = Seq("cosmology:omega_dm" ->
        Hdf5Writer.F64(Array(0.26))))) == "rockstar")
    // zarr stores carry the markers on the ROOT group attrs
    val zg = Files.createTempDirectory("graft_flavor_z").toString
    ZarrWriter.write(zg, Seq("Masses" -> ZarrWriter.F64(Array(1.0))),
      attrs = Map("/" -> Map("GIZMO_version" -> 2022L, "Redshift" -> 0.0)))
    assert(Load.flavor(zg) == "gizmo")
    // plain header: generic
    assert(Load.flavor(hdf5Dir) == "generic")
    assert(Load.flavor(parquetDir) == "generic")
  }

  test("particle-type aliases resolve (arepo/dataset.py:91): gas → PartType0") {
    assert(Load.resolveGroup("gas") == "PartType0")
    assert(Load.resolveGroup("black holes") == "PartType5")
    assert(Load.resolveGroup("PartType2") == "PartType2") // pass-through
    val viaAlias = Load.dataFrame(spark, hdf5Dir, "gas")
    assert(viaAlias.columns.contains("Masses") && viaAlias.count() == 2)
    // the dataset path resolves aliases for unit/default lookups too
    assert(Load.dataset(spark, hdf5Dir, "gas").fieldNames.contains("Masses"))
  }

  test("dataset attaches the cosmology mixin from snapshot metadata") {
    val dsH5 = Load.dataset(spark, hdf5Dir)
    assert(dsH5.cosmology.map(_.redshift).contains(1.0))
    assert(dsH5.cosmology.map(_.h).contains(0.6774))
    // zarr root attrs carry header keys; no Time key → z-only validates
    val dsZ = Load.dataset(spark, zarrDir)
    assert(dsZ.cosmology.map(_.redshift).contains(2.0))
    // plain parquet: no cosmology, still loads
    assert(Load.dataset(spark, parquetDir).cosmology.isEmpty)
  }

  test("findPath resolves names through the config registry (convenience.py:183)") {
    val root = java.nio.file.Files.createTempDirectory("graft_findpath")
    val dataFolder = root.resolve("sims"); java.nio.file.Files.createDirectories(dataFolder)
    val simDir = dataFolder.resolve("tng50-4"); java.nio.file.Files.createDirectories(simDir)
    val cfg = root.resolve("config.json")
    java.nio.file.Files.writeString(cfg,
      s"""{"datafolders": ["$dataFolder"],
         | "resources": {"tng": {"mini": {"path": "$simDir"}}}}""".stripMargin)
    // an existing path resolves to itself, no config needed
    assert(Load.findPath(simDir.toString, cfg.toString) == simDir.toString)
    // a bare name resolves through datafolders (first hit wins)
    assert(Load.findPath("tng50-4", cfg.toString) == simDir.toString)
    // backend://name resolves through resources
    assert(Load.findPath("tng://mini", cfg.toString) == simDir.toString)
    // the reference's error messages for the unknown cases
    val e1 = intercept[RuntimeException](Load.findPath("nope://x", cfg.toString))
    assert(e1.getMessage.contains("Unknown resource"))
    val e2 = intercept[RuntimeException](Load.findPath("tng://nope", cfg.toString))
    assert(e2.getMessage.contains("Unknown dataset"))
    val e3 = intercept[RuntimeException](Load.findPath("missing-name", cfg.toString))
    assert(e3.getMessage.contains("unknown"))
    // the download half is deliberately unsupported (zero egress)
    val e4 = intercept[RuntimeException](
      Load.findPath("https://example.org/data.tar.gz", cfg.toString))
    assert(e4.getMessage.contains("zero-egress"))
  }

  test("datasetByName opens a registered dataset end-to-end (convenience.py:399)") {
    val root = java.nio.file.Files.createTempDirectory("graft_dsname")
    val cfg = root.resolve("config.json")
    java.nio.file.Files.writeString(cfg,
      s"""{"resources": {"sims": {"demo": {"path": "$hdf5Dir"}}}}""")
    val ds = Load.datasetByName(spark, "sims://demo", configPath = cfg.toString)
    assert(ds.cosmology.map(_.redshift).contains(1.0))
    assert(ds.fieldNames.contains("Masses"))
  }

  test("property-based dataset resolution (convenience.py:430-516)") {
    val root = java.nio.file.Files.createTempDirectory("graft_dsprops")
    val cfg = root.resolve("config.json")
    java.nio.file.Files.writeString(cfg,
      """{"datasets": {
        |  "tng50-4": {"aliases": ["tng50_4", "TNG50-4"],
        |    "properties": {"type": "simulation", "redshift": 0.0, "public": true}},
        |  "tng100-3": {"properties": {"type": "simulation", "redshift": 0.0}},
        |  "eagle-cat": {"properties": {"type": "catalog"}},
        |  "noprops": {}}}""".stripMargin)
    val c = cfg.toString
    // get_dataset_by_name: key resolves to itself, alias to its key,
    // unknown to None (the reference returns None rather than raising)
    assert(Load.datasetByAlias("tng50-4", c).contains("tng50-4"))
    assert(Load.datasetByAlias("TNG50-4", c).contains("tng50-4"))
    assert(Load.datasetByAlias("nope", c).isEmpty)
    // get_datasets_by_props: every given (key, value) must match;
    // numbers compare as the parsed Double, booleans as booleans
    assert(Load.datasetsByProps(Map("type" -> "simulation"), c) ==
      Seq("tng100-3", "tng50-4"))
    assert(Load.datasetsByProps(
      Map("type" -> "simulation", "public" -> true), c) == Seq("tng50-4"))
    assert(Load.datasetsByProps(Map("redshift" -> 0.0), c) ==
      Seq("tng100-3", "tng50-4"))
    assert(Load.datasetsByProps(Map("type" -> "halo"), c).isEmpty)
    // a dataset with no properties section matches only the empty query
    assert(Load.datasetsByProps(Map.empty, c).size == 4)
    // get_dataset_candidates / get_dataset: reference error messages
    assert(Load.datasetName(name = Some("tng50_4"), configPath = c) == "tng50-4")
    assert(Load.datasetName(props = Some(Map("type" -> "catalog")),
      configPath = c) == "eagle-cat")
    val tooMany = intercept[IllegalArgumentException](
      Load.datasetName(props = Some(Map("type" -> "simulation")), configPath = c))
    assert(tooMany.getMessage.contains("Too many dataset candidates."))
    val none = intercept[IllegalArgumentException](
      Load.datasetName(name = Some("nope"), configPath = c))
    assert(none.getMessage.contains("No dataset candidate found."))
    val neither = intercept[IllegalArgumentException](Load.datasetName(configPath = c))
    assert(neither.getMessage.contains("Need to specify name or properties."))
  }

  /** A TNG-layout snapshot+catalog fixture pair: arepo-flavored
    * snapdir_042 beside groups_042 holding Group+Subhalo containers
    * in one fof_subhalo_tab file. */
  private lazy val catalogPair: (String, String) = {
    val base = Files.createTempDirectory("graft_cat").toString
    val snapDir = s"$base/snapdir_042"; val catDir = s"$base/groups_042"
    new java.io.File(snapDir).mkdirs(); new java.io.File(catDir).mkdirs()
    Hdf5Writer.write(s"$snapDir/snap_042.0.hdf5", Hdf5Writer.Group(children = Seq(
      "Header" -> Hdf5Writer.Group(attrs = Seq(
        "Time" -> 0.5, "Redshift" -> 1.0, "HubbleParam" -> 0.6774,
        "Git_commit" -> "abc123")), // arepo family → discovery on
      "PartType0" -> Hdf5Writer.Group(children = Seq(
        "Masses" -> Hdf5Writer.F64(Array(1.0, 2.0, 3.0)),
        "GroupNr" -> Hdf5Writer.I64(Array(0L, 0L, 1L)))))))
    Hdf5Writer.write(s"$catDir/fof_subhalo_tab_042.0.hdf5",
      Hdf5Writer.Group(children = Seq(
        "Header" -> Hdf5Writer.Group(attrs = Seq(
          "Time" -> 0.5, "Redshift" -> 1.0, "HubbleParam" -> 0.6774,
          "Git_commit" -> "abc123")),
        "Group" -> Hdf5Writer.Group(children = Seq(
          "GroupMass" -> Hdf5Writer.F64(Array(30.0, 12.0)))),
        "Subhalo" -> Hdf5Writer.Group(children = Seq(
          "SubhaloGrNr" -> Hdf5Writer.I64(Array(0L, 0L, 1L)),
          "SubhaloMass" -> Hdf5Writer.F64(Array(20.0, 10.0, 12.0)))))))
    (snapDir, catDir)
  }

  test("discover_catalog: the reference's candidate substitutions, in its order") {
    val (snapDir, catDir) = catalogPair
    // snapdir_* → groups_* (TNG layout; candidate 5, dataset.py:269)
    assert(Load.discoverCatalog(snapDir).contains(catDir))
    // candidate ORDER: with several siblings present, the first
    // existing candidate wins — snapshot→"group" precedes "groups"
    // (dataset.py:264-265; for Illustris "groups" precedes
    // "fof_subhalo_tab", covered by candidate list position)
    val base2 = Files.createTempDirectory("graft_cat_ord").toString
    new java.io.File(s"$base2/snapshot_007").mkdirs()
    new java.io.File(s"$base2/group_007").mkdirs()
    new java.io.File(s"$base2/groups_007").mkdirs()
    assert(Load.discoverCatalog(s"$base2/snapshot_007")
      .contains(s"$base2/group_007"))
    // no sibling → none (and never the snapshot itself)
    val lone = Files.createTempDirectory("graft_cat_none").toString
    new java.io.File(s"$lone/snapdir_000").mkdirs()
    assert(Load.discoverCatalog(s"$lone/snapdir_000").isEmpty)
  }

  test("dataset auto-attaches the discovered catalog (load_catalog), none disables") {
    val (snapDir, _) = catalogPair
    val ds = Load.dataset(spark, snapDir)
    assert(ds.catalogs.keySet == Set("Group", "Subhalo"))
    val grp = ds.catalog("Group")
    assert(grp.df.count() == 2)
    assert(grp.select("GroupMass").as[Double].collect().sorted.toSeq
      == Seq(12.0, 30.0))
    val sub = ds.catalog("Subhalo")
    assert(sub.df.count() == 3)
    // the catalog dataset gets its own mixins through the same load
    assert(grp.cosmology.map(_.redshift).contains(1.0))
    // info surfaces the attachment
    assert(ds.info.contains("catalog Group attached"))
    // catalog="none" disables discovery — the reference kwarg
    assert(Load.dataset(spark, snapDir, catalog = "none").catalogs.isEmpty)
    // an unknown container name reports what IS attached
    val e = intercept[IllegalArgumentException](ds.catalog("Halo"))
    assert(e.getMessage.contains("Group"))
  }

  test("MTNG: Config-flag detection, dual prefixes, mostbound sub-object") {
    val dir = Files.createTempDirectory("graft_mtng").toString
    def header = Hdf5Writer.Group(attrs = Seq(
      "Time" -> 0.5, "Redshift" -> 1.0, "HubbleParam" -> 0.6774,
      "Git_commit" -> "abc123"))
    def config = Hdf5Writer.Group(attrs = Seq("MTNG" -> 1L))
    // regular set: two chunks, DM particles, no unit attrs
    Hdf5Writer.write(s"$dir/snapshot_264.0.hdf5", Hdf5Writer.Group(children = Seq(
      "Header" -> header, "Config" -> config,
      "PartType1" -> Hdf5Writer.Group(children = Seq(
        "Coordinates" -> Hdf5Writer.F64(Array(1.0, 2.0)))))))
    Hdf5Writer.write(s"$dir/snapshot_264.1.hdf5", Hdf5Writer.Group(children = Seq(
      "Header" -> header, "Config" -> config,
      "PartType1" -> Hdf5Writer.Group(children = Seq(
        "Coordinates" -> Hdf5Writer.F64(Array(3.0)))))))
    // mostbound companion set: one chunk
    Hdf5Writer.write(s"$dir/snapshot-prevmostboundonly_264.0.hdf5",
      Hdf5Writer.Group(children = Seq(
        "Header" -> header, "Config" -> config,
        "PartType1" -> Hdf5Writer.Group(children = Seq(
          "MostBoundID" -> Hdf5Writer.I64(Array(7L, 8L)))))))
    // flavor: MTNG = arepo markers + MTNG in /Config (MTNG/dataset.py:117)
    assert(Load.flavor(dir) == "mtng")
    // a plain arepo run (no Config flag) stays arepo
    val plain = Files.createTempDirectory("graft_mtng_plain").toString
    Hdf5Writer.write(s"$plain/s.0.hdf5", Hdf5Writer.Group(children = Seq(
      "Header" -> header,
      "PartType1" -> Hdf5Writer.Group(children = Seq(
        "Coordinates" -> Hdf5Writer.F64(Array(1.0)))))))
    assert(Load.flavor(plain) == "arepo")
    // the REGULAR prefix is chosen over the companion; both chunks concat
    val ds = Load.dataset(spark, dir)
    assert(ds.df.count() == 3)
    // the companion attaches as the "mostbound" sub-object
    assert(ds.catalogs.contains("mostbound"))
    val mb = ds.catalog("mostbound")
    assert(mb.select("MostBoundID").as[Long].collect().sorted.toSeq
      == Seq(7L, 8L))
    // the companion itself attaches no further sub-objects
    assert(mb.catalogs.isEmpty)
    // mtng unit overrides: coordinates resolve cMpc/h → Mpc measure
    assert(ds.unitOf("Coordinates_phys").contains("Mpc"))
  }

  test("zarr snapshot auto-attaches a zarr catalog (multi-container store)") {
    val base = Files.createTempDirectory("graft_zcat").toString
    val snapDir = s"$base/snapdir_031"; val catDir = s"$base/groups_031"
    // zarr snapshot with arepo markers + cosmological header
    ZarrWriter.write(snapDir, Seq("Masses" -> ZarrWriter.F64(Array(1.0, 2.0))),
      attrs = Map("/" -> Map("Git_commit" -> "0badc0de", "Time" -> 0.5,
        "Redshift" -> 1.0, "HubbleParam" -> 0.6774)))
    // zarr catalog: Group and Subhalo containers (different lengths)
    // in ONE store via nested array names
    ZarrWriter.write(catDir, Seq(
      "Group/GroupMass" -> ZarrWriter.F64(Array(10.0, 20.0)),
      "Subhalo/SubhaloGrNr" -> ZarrWriter.F64(Array(0.0, 0.0, 1.0))),
      attrs = Map("/" -> Map("Redshift" -> 1.0, "HubbleParam" -> 0.6774)))
    assert(Load.flavor(snapDir) == "arepo")
    assert(Load.discoverCatalog(snapDir).contains(catDir))
    val ds = Load.dataset(spark, snapDir)
    assert(ds.catalogs.keySet == Set("Group", "Subhalo"))
    assert(ds.catalog("Group").select("GroupMass")
      .as[Double].collect().sorted.toSeq == Seq(10.0, 20.0))
    assert(ds.catalog("Subhalo").df.count() == 3)
    // direct container load through the group option
    val grp = Load.dataFrame(spark, catDir, "Group")
    assert(grp.columns.contains("GroupMass") && grp.count() == 2)
  }

  test("explicit catalog path attaches without discovery (any flavor)") {
    val (_, catDir) = catalogPair
    // a GENERIC snapshot (no arepo marker) never auto-discovers…
    val ds0 = Load.dataset(spark, hdf5Dir)
    assert(ds0.catalogs.isEmpty)
    // …but an explicit path attaches regardless, as in the reference
    // where the catalog kwarg overrides discovery
    val ds = Load.dataset(spark, hdf5Dir, catalog = catDir)
    assert(ds.catalogs.keySet == Set("Group", "Subhalo"))
  }
}
