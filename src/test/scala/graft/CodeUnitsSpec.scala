package graft

import graft.model.{CodeUnits, GraftDataset, Units}
import graft.sources.Attr

/** Code-unit system parsing + conversion — scida units="code"/"cgs"
  * load modes (units.py _get_default_units("code"), and the code-time
  * derivation note at configfiles/units/gadget_cosmological.yaml:9).
  */
class CodeUnitsSpec extends SparkSpec {
  import spark.implicits._

  private val tng = CodeUnits(3.085678e21, 1.989e43, 1e5)

  test("fromAttrs: Header first, Parameters fallback, all-or-nothing") {
    val full = Map("/Header" -> Map[String, Attr](
      "UnitLength_in_cm" -> 3.085678e21, "UnitMass_in_g" -> 1.989e43,
      "UnitVelocity_in_cm_per_s" -> 1e5))
    assert(CodeUnits.fromAttrs(full).contains(tng))
    // AREPO duplicates the params into /Parameters
    val params = Map("/Parameters" -> full("/Header"))
    assert(CodeUnits.fromAttrs(params).contains(tng))
    // a partial system must not parse — silent partial conversion
    val partial = Map("/Header" -> Map[String, Attr](
      "UnitLength_in_cm" -> 3.085678e21))
    assert(CodeUnits.fromAttrs(partial).isEmpty)
  }

  test("cgs factors and measures compose over dimension exponents") {
    assert(tng.cgsFactor(mass = 1) == 1.989e43)
    assert(tng.cgsMeasure(mass = 1) == Units.parse("g"))
    // velocity^2 → specific energy: cm^2/s^2, (1e5)^2
    assert(tng.cgsFactor(velocity = 2) == 1e10)
    assert(tng.cgsMeasure(velocity = 2) == Units.parse("cm^2/s^2"))
    // density: mass/length^3
    val fd = tng.cgsFactor(mass = 1, length = -3)
    assert(math.abs(fd - 1.989e43 / math.pow(3.085678e21, 3)) / fd < 1e-12)
    assert(tng.cgsMeasure(mass = 1, length = -3) == Units.parse("g/cm^3"))
    // code time = length/velocity ≈ 0.978 Gyr/h in seconds
    assert(math.abs(tng.timeS - 3.085678e16) < 1e6)
    assert(tng.cgsMeasure(time = 1) == Units.parse("s"))
  }

  test("quantity enters the unit algebra; .to() converts onward") {
    val df = Seq((1L, 2.0)).toDF("id", "Masses")
    val ds = GraftDataset(df).withCodeUnits(tng)
    val msun = ds.codeQ("Masses", mass = 1).to("Msun")
    assert(msun.unit == Units.parse("Msun"))
    val got = df.select(msun.col).as[Double].head()
    val want = 2.0 * 1.989e43 * Units.factor("g", "Msun")
    assert(math.abs(got - want) / want < 1e-12)
    // 2 code masses = 2·1.989e43 g ≈ 2e10 Msun (the "/h" in the
    // conventional label is bookkeeping, not part of the factor)
    assert(got > 1.99e10 && got < 2.01e10)
    // no code-unit system → explicit error, not silent bare numbers
    intercept[IllegalArgumentException](GraftDataset(df).codeQ("Masses", mass = 1))
  }
}
