package graft

import java.nio.file.Files
import graft.model.{Cosmology, UnitAttrs, Units}
import graft.sources.Load
import graft.sources.zarr.ZarrWriter
import graft.sources.Attr

/** Unit extraction from dataset attributes — scida
  * extract_units_from_attrs semantics (reference:
  * src/scida/interfaces/mixins/units.py:122, :71, :35).
  */
class UnitAttrsSpec extends SparkSpec {
  import spark.implicits._

  private val cosmo = Cosmology(h = 0.6774, omega0 = Some(0.3089),
    omegaBaryon = None, redshift = 1.0) // a = 0.5

  test("explicit unit strings: units / cgsunits / SWIFT expression keys") {
    assert(UnitAttrs.fromAttrs(Map("units" -> "g/cm^3")) ==
      Some((1.0, Units.parse("g/cm^3"))))
    assert(UnitAttrs.fromAttrs(Map("cgsunits" -> "cm/s")) ==
      Some((1.0, Units.parse("cm/s"))))
    // SWIFT: unit inside [...]; '-' means dimensionless-no-unit
    assert(UnitAttrs.fromAttrs(
      Map("Expression for physical CGS units" -> "a^1 U_L [ cm ]")) ==
      Some((1.0, Units.parse("cm"))))
    assert(UnitAttrs.fromAttrs(
      Map("Expression for physical CGS units" -> "[ - ]")).isEmpty)
    // unparseable and 'none' strings are skipped, as scida does
    assert(UnitAttrs.fromAttrs(Map("units" -> "None")).isEmpty)
    assert(UnitAttrs.fromAttrs(Map("units" -> "statV/cm")).isEmpty)
    assert(UnitAttrs.fromAttrs(Map.empty).isEmpty)
  }

  test("TNG-style cgs scalings: to_cgs x dims, a/h through cosmology") {
    // ckpc/h coordinates: length^1, a^1, h^-1, to_cgs = kpc in cm
    val attrs = Map[String, Attr](
      "to_cgs" -> 3.085677581e21, "length_scaling" -> 1.0,
      "a_scaling" -> 1.0, "h_scaling" -> -1.0)
    val Some((f, m)) = UnitAttrs.fromAttrs(attrs, Some(cosmo))
    assert(m == Units.parse("cm"))
    assert(math.abs(f - 3.085677581e21 * 0.5 / 0.6774) / f < 1e-12)
    // velocity: (cm/s)^1, no a/h
    val Some((fv, mv)) = UnitAttrs.fromAttrs(
      Map("to_cgs" -> 1e5, "velocity_scaling" -> 1.0), Some(cosmo))
    assert(mv == Units.parse("cm/s") && fv == 1e5)
    // a/h scaling present but no cosmology → unresolvable, None
    assert(UnitAttrs.fromAttrs(attrs, None).isEmpty)
    // to_cgs == 0 means "factor unknown" → treated as 1 (scida :168)
    val Some((f0, _)) = UnitAttrs.fromAttrs(
      Map("to_cgs" -> 0.0, "mass_scaling" -> 1.0), Some(cosmo))
    assert(f0 == 1.0)
  }

  test("Load.dataset wires unit discovery end-to-end (zarr attrs)") {
    val dir = Files.createTempDirectory("graft_unitattrs").toString
    ZarrWriter.write(dir, Seq(
      "Velocities" -> ZarrWriter.F64(Array(1.0, 2.0)),
      "Coordinates" -> ZarrWriter.F64(Array(10.0, 20.0))),
      attrs = Map(
        "/" -> Map("Redshift" -> 1.0, "HubbleParam" -> 0.6774),
        "/Velocities" -> Map("units" -> "km/s"),
        "/Coordinates" -> Map("to_cgs" -> 3.085677581e21,
          "length_scaling" -> 1.0, "a_scaling" -> 1.0, "h_scaling" -> -1.0)))
    val ds = Load.dataset(spark, dir)
    // explicit string: raw column carries the unit
    assert(ds.unitOf("Velocities").contains("km/s"))
    // cgs factor: derived _cgs field carries cm, raw stays unitless
    assert(ds.unitOf("Coordinates").isEmpty)
    assert(ds.unitOf("Coordinates_cgs").contains("cm"))
    assert(ds.missingUnits.contains("Coordinates") &&
      !ds.missingUnits.contains("Velocities"))
    val f = 3.085677581e21 * 0.5 / 0.6774
    val out = ds.select("Coordinates_cgs").orderBy("Coordinates_cgs")
      .as[Double].collect().toSeq
    assert(out == Seq(10.0 * f, 20.0 * f))
  }
}
