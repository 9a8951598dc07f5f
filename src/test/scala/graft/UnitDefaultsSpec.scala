package graft

import java.nio.file.Files
import graft.model.{Cosmology, UnitDefaults, Units}
import graft.sources.Load
import graft.sources.zarr.ZarrWriter
import graft.sources.Attr

/** Flavor-keyed unit defaults — scida's configfiles/units yaml files
  * resolved via units.py:411 add_units: per-family default units for
  * snapshots that ship no unit attrs (TNG/Illustris, EAGLE), with
  * file attrs taking precedence where present.
  */
class UnitDefaultsSpec extends SparkSpec {
  import spark.implicits._

  private val cosmo = Cosmology(h = 0.6774, omega0 = None,
    omegaBaryon = None, redshift = 1.0) // a = 0.5

  test("code-unit expressions resolve numerically through the cosmology") {
    // code_length = a·kpc/h (gadget_cosmological.yaml:5)
    val Some((fl, ml)) = UnitDefaults.eval("code_length", Some(cosmo))
    assert(ml == Units.parse("kpc") && fl == 0.5 / 0.6774)
    // code_mass = 1e10·Msun/h (yaml:7)
    val Some((fm, mm)) = UnitDefaults.eval("code_mass", Some(cosmo))
    assert(mm == Units.parse("Msun") && fm == 1e10 / 0.6774)
    // fractional exponent on the scale factor (Velocities, yaml _all)
    val Some((fv, mv)) = UnitDefaults.eval("km*a^0.5/s", Some(cosmo))
    assert(mv == Units.parse("km/s") && fv == math.pow(0.5, 0.5))
    // composite: density in code units
    val Some((fd, md)) = UnitDefaults.eval("code_mass/code_length^3", Some(cosmo))
    assert(md == Units.parse("Msun/kpc^3"))
    assert(math.abs(fd - (1e10 / 0.6774) / math.pow(0.5 / 0.6774, 3)) / fd < 1e-12)
    // a/h terms without a cosmology are unresolvable, not wrong
    assert(UnitDefaults.eval("code_length", None).isEmpty)
    // cosmology-free expressions resolve without one
    val Some((fk, mk)) = UnitDefaults.eval("Msun/yr", None)
    assert(fk == 1.0 && mk == Units.parse("Msun/yr"))
    // fractional exponents on dimensionful symbols are rejected
    intercept[IllegalArgumentException](UnitDefaults.eval("kpc^0.5", Some(cosmo)))
  }

  test("lookup: group entry beats _all; unknown flavor/field resolve to None") {
    // PartType0-specific entry
    assert(UnitDefaults.unitString("arepo", "PartType0", "Density")
      .contains("code_mass/code_length^3"))
    // _all fallback (units.py:466-470)
    assert(UnitDefaults.unitString("arepo", "Group", "GroupPos")
      .contains("code_length"))
    assert(UnitDefaults.unitString("arepo", "PartType1", "Coordinates")
      .contains("code_length")) // via _all
    assert(UnitDefaults.unitString("generic", "PartType0", "Coordinates").isEmpty)
    assert(UnitDefaults.unitString("arepo", "PartType0", "NoSuchField").isEmpty)
    // EAGLE ships cgs strings (eagle.yaml): factor 1, raw IS cgs
    val Some((fe, me)) = UnitDefaults.resolve("eagle", "PartType0", "Density", None)
    assert(fe == 1.0 && me == Units.parse("g/cm^3"))
  }

  test("rockstar defaults resolve the catalog's unit banner (rockstar.yaml)") {
    // masses in Msun/h
    val Some((fm, mm)) = UnitDefaults.resolve("rockstar", "halos", "mass", Some(cosmo))
    assert(mm == Units.parse("Msun") && fm == 1.0 / 0.6774)
    // positions in cMpc/h (comoving)
    val Some((fp, mp)) = UnitDefaults.resolve("rockstar", "halos", "position", Some(cosmo))
    assert(mp == Units.parse("Mpc") && math.abs(fp - 0.5 / 0.6774) < 1e-15)
    // radii in ckpc/h
    val Some((fr, mr)) = UnitDefaults.resolve("rockstar", "halos", "radius", Some(cosmo))
    assert(mr == Units.parse("kpc") && math.abs(fr - 0.5 / 0.6774) < 1e-15)
    // velocities physical km/s — no cosmology needed
    val Some((fv, mv)) = UnitDefaults.resolve("rockstar", "halos", "vel.circ.max", None)
    assert(mv == Units.parse("km/s") && fv == 1.0)
    // spins are dimensionless → no entry → None (unitless is correct)
    assert(UnitDefaults.unitString("rockstar", "halos", "spin.bullock").isEmpty)
    // comoving lengths without a cosmology are unresolvable, not wrong
    assert(UnitDefaults.resolve("rockstar", "halos", "position", None).isEmpty)
  }

  test("Load.dataset: defaults fill attr-less fields, file attrs win") {
    val dir = Files.createTempDirectory("graft_unitdefaults").toString
    ZarrWriter.write(dir, Seq(
      "Coordinates" -> ZarrWriter.F64(Array(1.0, 2.0)),
      "Masses" -> ZarrWriter.F64(Array(3.0, 4.0))),
      attrs = Map(
        // arepo family marker + cosmological header on the root
        "/" -> Map("Git_commit" -> "0badc0de", "Redshift" -> 1.0,
          "HubbleParam" -> 0.6774),
        // Coordinates carries an EXPLICIT unit attr → it must win
        "/Coordinates" -> Map("units" -> "m")))
    assert(Load.flavor(dir) == "arepo")
    val ds = Load.dataset(spark, dir)
    // attr-present path wins: no default-derived field appears
    assert(ds.unitOf("Coordinates").contains("m"))
    assert(!ds.fieldNames.contains("Coordinates_phys"))
    // attr-less Masses resolves from the flavor table: raw is code
    // mass, the derived _phys field is physical Msun
    assert(ds.unitOf("Masses").isEmpty)
    assert(ds.unitOf("Masses_phys").contains("Msun"))
    val f = 1e10 / 0.6774
    val out = ds.select("Masses_phys").orderBy("Masses_phys")
      .as[Double].collect().toSeq
    assert(out == Seq(3.0 * f, 4.0 * f))
  }

  test("mtng layers its coordinate overrides on the Gadget base (mtng.yaml)") {
    import graft.model.{Cosmology, UnitDefaults}
    val cosmo = Some(Cosmology(h = 0.6774, omega0 = None,
      omegaBaryon = None, redshift = 1.0))
    // override: coordinates ship cMpc/h (a/h factor, Mpc measure) —
    // per-PartType entries exactly as the yaml spells them
    for (pt <- Seq("PartType0", "PartType1", "PartType4")) {
      val (f, m) = UnitDefaults.resolve("mtng", pt, "Coordinates", cosmo).get
      assert(m.toString == "Mpc", s"$pt coordinates measure")
      assert(math.abs(f - 0.5 / 0.6774) < 1e-12, s"$pt coordinates factor a/h")
    }
    assert(UnitDefaults.unitString("mtng", "PartType0", "CenterOfMass")
      .contains("cMpc/h"))
    // base layer intact: everything else keeps the Gadget defaults
    assert(UnitDefaults.unitString("mtng", "PartType0", "Density")
      .contains("code_mass/code_length^3"))
    assert(UnitDefaults.unitString("mtng", "_all", "Masses") // via lookup
      .contains("code_mass") ||
      UnitDefaults.unitString("mtng", "PartType1", "Masses")
        .contains("code_mass"))
    // and arepo itself is NOT affected by the mtng layer
    assert(UnitDefaults.unitString("arepo", "PartType1", "Coordinates")
      .contains("code_length"))
  }

  test("user config extends the flavor registry (config.py:148)") {
    import graft.model.{Cosmology, UnitDefaults}
    val dir = Files.createTempDirectory("graft_userunits")
    val cfg = dir.resolve("config.json")
    Files.writeString(cfg,
      """{"units": {
        |  "mysim": {"_all": {"Masses": "code_mass"},
        |            "PartType0": {"Coordinates": "cMpc/h"}},
        |  "arepo": {"PartType0": {"StarFormationRate": "g/s"}}
        |}}""".stripMargin)
    val old = sys.props.get("graft.config.path")
    sys.props("graft.config.path") = cfg.toString
    try {
      val cosmo = Some(Cosmology(h = 0.7, omega0 = None,
        omegaBaryon = None, redshift = 1.0))
      // an entirely user-defined family resolves end-to-end
      assert(UnitDefaults.unitString("mysim", "PartType0", "Coordinates")
        .contains("cMpc/h"))
      assert(UnitDefaults.unitString("mysim", "PartType1", "Masses")
        .contains("code_mass"), "_all fallback works for user families")
      val (f, m) = UnitDefaults.resolve("mysim", "PartType0",
        "Coordinates", cosmo).get
      assert(m.toString == "Mpc")
      assert(math.abs(f - 0.5 / 0.7) < 1e-12)
      // a field-level override of a SHIPPED family: the user's
      // PartType0 group entry beats the shipped _all entry, and every
      // untouched field keeps its shipped default
      assert(UnitDefaults.unitString("arepo", "PartType0",
        "StarFormationRate").contains("g/s"))
      assert(UnitDefaults.unitString("arepo", "PartType0", "Density")
        .contains("code_mass/code_length^3"))
      assert(UnitDefaults.unitString("arepo", "PartType0", "Coordinates")
        .contains("code_length"))
    } finally old match {
      case Some(v) => sys.props("graft.config.path") = v
      case None => sys.props.remove("graft.config.path")
    }
    // config detached → user families are gone, shipped tables intact
    assert(UnitDefaults.unitString("mysim", "PartType0", "Coordinates").isEmpty
      || new java.io.File(UnitDefaults.configPath).isFile)
    assert(UnitDefaults.unitString("arepo", "PartType0", "Density")
      .contains("code_mass/code_length^3"))
  }

  test("config identifiers select a per-simulation unit flavor (misc.py:234)") {
    val dir = Files.createTempDirectory("graft_simid").toString
    ZarrWriter.write(dir, Seq("Masses" -> ZarrWriter.F64(Array(2.0))),
      attrs = Map("/" -> Map("Git_commit" -> "0badc0de", "Redshift" -> 1.0,
        "HubbleParam" -> 0.5, "BoxSize" -> 35000.0)))
    val cfg = Files.createTempDirectory("graft_simid_cfg").resolve("config.json")
    Files.writeString(cfg,
      """{
        |  "units": {"mysim": {"_all": {"Masses": "Msun/h"}}},
        |  "simulations": {
        |    "MySim": {"identifiers": {"name_contains": "graft_simid",
        |                              "Header": {"BoxSize": 35000.0}},
        |              "unit_flavor": "mysim"},
        |    "Other": {"identifiers": {"Header": {"BoxSize": 12345.0}},
        |              "unit_flavor": "arepo"},
        |    "NoIds": {"unit_flavor": "arepo"}
        |  }
        |}""".stripMargin)
    val old = sys.props.get("graft.config.path")
    sys.props("graft.config.path") = cfg.toString
    try {
      // identification: exactly MySim — BoxSize np.isclose-style,
      // name_contains against the path tail; the no-identifiers entry
      // never matches (misc.py:316-317)
      val ids = Load.identifySimulation(
        Map("/Header" -> Map("BoxSize" -> 35000.0000001)), dir)
      assert(ids.map(_._1) == Seq("MySim"))
      // substring matcher form
      val ids2 = Load.identifySimulation(
        Map("/Parameters" -> Map("InitCondFile" -> "/ics/L35n270TNG/output")),
        "/data/other",
        cfgAt("""{"simulations": {"S": {"identifiers": {"Parameters":
          |{"InitCondFile": {"match": "substring", "content": "L35n270TNG"}}},
          |"unit_flavor": "arepo"}}}""".stripMargin))
      assert(ids2.map(_._1) == Seq("S"))
      // end-to-end: detection says arepo, but the IDENTIFIED sim's
      // unit_flavor resolves Masses through the user "mysim" table —
      // Msun/h (factor 1/h = 2), not arepo's code_mass (1e10/h)
      val ds = Load.dataset(spark, dir)
      assert(ds.unitOf("Masses_phys").contains("Msun"))
      assert(ds.select("Masses_phys").as[Double].collect().toSeq == Seq(4.0))
    } finally old match {
      case Some(v) => sys.props("graft.config.path") = v
      case None => sys.props.remove("graft.config.path")
    }
  }

  private def cfgAt(json: String): String = {
    val p = Files.createTempDirectory("graft_cfg_at").resolve("c.json")
    Files.writeString(p, json)
    p.toString
  }

  test("auriga layers physical labels over the Gadget base (auriga.yaml)") {
    // overrides: Auriga ships values already physical — no a/h folds
    val (fc, mc) = UnitDefaults.resolve("auriga", "PartType1", "Coordinates", None).get
    assert(mc == Units.parse("Mpc") && fc == 1.0)
    val (fm, mm) = UnitDefaults.resolve("auriga", "PartType0", "Masses", None).get
    assert(mm == Units.parse("Msun") && fm == 1e10)
    val (fv, mv) = UnitDefaults.resolve("auriga", "PartType0", "Velocities", None).get
    assert(mv == Units.parse("km/s") && fv == 1.0, "no a^0.5 factor")
    // composite per-type override
    assert(UnitDefaults.unitString("auriga", "PartType4", "GravPotential")
      .contains("km^2/s^2"))
    // base layer intact for fields auriga.yaml doesn't name
    assert(UnitDefaults.unitString("auriga", "PartType0", "Density")
      .contains("code_mass/code_length^3"))
    // and the base arepo table is untouched by the layer
    val (fa, _) = UnitDefaults.resolve("arepo", "PartType1", "Coordinates",
      Some(cosmo)).get
    assert(fa == 0.5 / 0.6774)
  }

  test("lgalaxies macros pin h in the unit file (lgalaxies.yaml units:)") {
    // h = 0.673 comes from the flavor macro, NOT the cosmology (the
    // Millennium value is fixed in the yaml because LGalaxies outputs
    // carry no usable Hubble header) — pass a DIFFERENT cosmology h
    // and the factor must not move
    val c7 = Some(Cosmology(h = 0.7, omega0 = None,
      omegaBaryon = None, redshift = 1.0)) // a = 0.5
    val (fp, mp) = UnitDefaults.resolve("lgalaxies", "Galaxy", "Pos", c7).get
    assert(mp == Units.parse("kpc"))
    assert(math.abs(fp - 0.5 / 0.673) < 1e-15, "code_length = a*kpc/0.673")
    val (fm, mm) = UnitDefaults.resolve("lgalaxies", "Galaxy", "StellarMass", c7).get
    assert(mm == Units.parse("Msun"))
    assert(math.abs(fm - 1e10 / 0.673) < 1e-5)
    // recursive macros: code_time_Gyr = code_time_yr * 1e9 = 1e9 yr
    val (fa, ma) = UnitDefaults.resolve("lgalaxies", "Galaxy", "MassWeightAge", None).get
    assert(ma == Units.parse("yr") && fa == 1e9)
    // deep composite: code_pressure = code_mass/code_length/code_time^2
    val (fpr, mpr) = UnitDefaults.resolve("lgalaxies", "Galaxy",
      "rho_LBE_Gas", c7).get
    assert(mpr == Units.parse("Msun/kpc^3"))
    assert(math.abs(fpr - (1e10 / 0.673) / math.pow(0.5 / 0.673, 3)) / fpr < 1e-12)
    // `a` still folds from the snapshot: no cosmology → unresolvable
    assert(UnitDefaults.resolve("lgalaxies", "Galaxy", "Pos", None).isEmpty)
    // angle label
    val (fi, mi) = UnitDefaults.resolve("lgalaxies", "Galaxy",
      "CosInclination", None).get
    assert(mi == Units.parse("deg") && fi == 1.0)
  }

  test("gaia defaults label the astrometric table (gaia.yaml)") {
    def r(field: String) = UnitDefaults.resolve("gaia", "_all", field, None).get
    assert(r("ra")._2 == Units.parse("deg") && r("ra")._1 == 1.0)
    assert(r("parallax")._2 == Units.parse("mas"))
    assert(r("pmra")._2 == Units.parse("mas/yr"))
    assert(r("distance_gspphot")._2 == Units.parse("pc"))
    assert(r("radial_velocity")._2 == Units.parse("km/s"))
    assert(r("phot_g_mean_mag")._2 == Units.parse("mag"))
    assert(r("mh_gspphot")._2 == Units.parse("dex"))
    assert(r("phot_g_mean_flux_error")._2 == Units.parse("1/s"))
    // angles share a dimension: mas → deg converts exactly
    assert(math.abs(Units.factor("mas", "deg") * 3600.0 * 1000.0 - 1.0) < 1e-12)
    // photometric/log labels do NOT convert to pure numbers or angles
    intercept[IllegalArgumentException](Units.factor("mag", "1"))
    intercept[IllegalArgumentException](Units.factor("dex", "deg"))
  }

  test("erosita defaults label the event list (erosita_events.yaml)") {
    def r(field: String) = UnitDefaults.resolve("erosita", "EVENTS", field, None).get
    assert(r("RA")._2 == Units.parse("deg"))
    assert(r("X")._2 == Units.parse("arcsec"))
    assert(r("TIME")._2 == Units.parse("s"))
    assert(r("PI")._2 == Units.parse("eV"))
    // PHA stays in adu — its own dimension, deliberately inconvertible
    // to eV (the yaml leaves the conversion undefined too)
    assert(r("PHA")._2 == Units.parse("adu"))
    intercept[IllegalArgumentException](Units.factor("adu", "eV"))
    // detector coordinates convert within the angle dimension
    assert(math.abs(Units.factor("arcsec", "deg") - 1.0 / 3600.0) < 1e-20)
  }

  test("shipped simulation entries identify the no-metadata families") {
    // Auriga/gaia/erosita: path-name-only identification
    // (simulations.yaml:115 "can only rely on path")
    assert(Load.identifySimulation(Map.empty, "/data/Auriga/halo_6/snap_127")
      .map(_._1) == Seq("Auriga"))
    assert(Load.identifySimulation(Map.empty, "/data/gaia_dr3/part-0")
      .map(_._1) == Seq("gaia-dr3"))
    assert(Load.identifySimulation(Map.empty, "/data/erosita/events.fits")
      .map(_._1) == Seq("eROSITA-events"))
    // LGalaxies: the Header Simulation banner (simulations.yaml:159)
    assert(Load.identifySimulation(
      Map("/Header" -> Map(
        "Simulation" -> "L-Galaxies run on the Millennium Simulation")),
      "/data/millennium/out_0").map(_._1) == Seq("LGalaxies"))
    // FLAMINGO: the SWIFT parameter (simulations.yaml:166)
    assert(Load.identifySimulation(
      Map("/Parameters" -> Map("Snapshots:basename" -> "flamingo")),
      "/data/L1000N1800/snap_0").map(_._1) == Seq("FLAMINGO"))
    // unrelated path + metadata match nothing shipped
    assert(Load.identifySimulation(
      Map("/Header" -> Map("BoxSize" -> 1.0)), "/data/other/snap_0").isEmpty)
    // a user entry REPLACES the shipped entry of the same name
    val ids = Load.identifySimulation(Map.empty, "/data/Auriga/snap_0",
      cfgAt("""{"simulations": {"Auriga": {"identifiers":
        |{"name_contains": "nope"}, "unit_flavor": "custom"}}}""".stripMargin))
    assert(ids.isEmpty, "user overlay wins per name (config.py:148)")
  }

  test("array-valued identifier attrs compare element-wise (misc.py:299)") {
    // an HDF5 MassTable-style attr arrives as a double array; the
    // config side as a parsed JSON list — equality is element-wise
    // with numeric closeness, never String.valueOf identity
    val meta: Map[String, Map[String, Attr]] = Map("/Header" -> Map(
      "MassTable" -> Array(0.0, 0.1, 0.0)))
    val cfg = cfgAt("""{"simulations": {"ArrSim": {"identifiers":
      |{"Header": {"MassTable": [0.0, 0.1000000001, 0.0]}},
      |"unit_flavor": "arepo"}}}""".stripMargin)
    assert(Load.identifySimulation(meta, "/data/x", cfg).map(_._1) == Seq("ArrSim"))
    // wrong length or wrong element → no match
    val cfg2 = cfgAt("""{"simulations": {"ArrSim": {"identifiers":
      |{"Header": {"MassTable": [0.0, 0.5, 0.0]}},
      |"unit_flavor": "arepo"}}}""".stripMargin)
    assert(Load.identifySimulation(meta, "/data/x", cfg2).isEmpty)
  }

  test("Load.dataset: a/h defaults stay unresolved without a cosmology") {
    val dir = Files.createTempDirectory("graft_unitdefaults_nocosmo").toString
    // arepo markers but NO HubbleParam → no cosmology object
    ZarrWriter.write(dir, Seq("Masses" -> ZarrWriter.F64(Array(1.0))),
      attrs = Map("/" -> Map("Git_commit" -> "0badc0de", "Redshift" -> 1.0)))
    val ds = Load.dataset(spark, dir)
    assert(ds.cosmology.isEmpty)
    assert(ds.unitOf("Masses").isEmpty && !ds.fieldNames.contains("Masses_phys"))
  }
}
