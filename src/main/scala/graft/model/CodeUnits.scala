package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import graft.sources.Attr

/** The snapshot's code-unit system, read from its own header — the
  * Gadget/AREPO convention of `UnitLength_in_cm`, `UnitMass_in_g`,
  * `UnitVelocity_in_cm_per_s` parameter attributes defining what one
  * code unit IS in cgs, with the code time unit derived as
  * length/velocity (reference: src/scida/interfaces/mixins/units.py
  * `units="code"|"cgs"` load modes with `_get_default_units("code")`
  * resolving `code_*` registry units; the derivation note at
  * configfiles/units/gadget_cosmological.yaml:9-14). Unlike the
  * flavor-keyed `UnitDefaults` table — convention constants for files
  * that say nothing — these factors come from THE FILE, so a
  * simulation run with a nonstandard unit system converts correctly.
  *
  * A code-unit value with dimensions length^l · mass^m · velocity^v ·
  * time^t converts to cgs by one literal multiply; `quantity` enters
  * it into the Measure algebra in cgs, after which the full pint-style
  * surface applies (`.to("kpc")`, `.toBaseUnits`, composition).
  */
final case class CodeUnits(lengthCm: Double, massG: Double,
    velocityCmS: Double) {

  /** Code time unit in seconds — derived, not stored: AREPO defines it
    * as UnitLength/UnitVelocity (gadget_cosmological.yaml:9). */
  def timeS: Double = lengthCm / velocityCmS

  /** Multiplicative factor from a code-unit value of the given
    * dimension exponents to cgs. */
  def cgsFactor(length: Int = 0, mass: Int = 0, velocity: Int = 0,
      time: Int = 0): Double =
    math.pow(lengthCm, length) * math.pow(massG, mass) *
      math.pow(velocityCmS, velocity) * math.pow(timeS, time)

  /** The cgs measure of those exponents: cm^(l+v) · g^m · s^(t−v). */
  def cgsMeasure(length: Int = 0, mass: Int = 0, velocity: Int = 0,
      time: Int = 0): Units.Measure =
    Units.Measure(Map(
      "cm" -> (length + velocity), "g" -> mass, "s" -> (time - velocity))
      .filter(_._2 != 0))

  /** A code-unit column as a cgs Quantity — one literal multiply in
    * the plan, then the ordinary unit algebra (`.to(...)`) applies. */
  def quantity(col: Column, length: Int = 0, mass: Int = 0,
      velocity: Int = 0, time: Int = 0): Quantity = {
    val f = cgsFactor(length, mass, velocity, time)
    Quantity(if (f == 1.0) col else col * lit(f),
      cgsMeasure(length, mass, velocity, time))
  }
}

object CodeUnits {

  /** Parse the code-unit system from snapshot attributes: each of the
    * three Unit* params searched under /Header then /Parameters (the
    * same group order the cosmology mixin uses — Gadget writes them in
    * Header, AREPO duplicates them into Parameters). None unless all
    * three are present — a partial system would convert some
    * dimensions and silently not others. */
  def fromAttrs(attrs: Map[String, Map[String, Attr]]): Option[CodeUnits] = {
    def find(name: String): Option[Double] =
      Seq("/Header", "/Parameters").iterator
        .flatMap(g => attrs.get(g).flatMap(_.get(name)).flatMap(_.scalar))
        .nextOption()
    for {
      l <- find("UnitLength_in_cm")
      m <- find("UnitMass_in_g")
      v <- find("UnitVelocity_in_cm_per_s")
    } yield CodeUnits(l, m, v)
  }
}
