package graft.model

import graft.sources.Attr

/** Field-unit extraction from dataset-level attributes — scida
  * `extract_units_from_attrs` (reference:
  * src/scida/interfaces/mixins/units.py:122, `get_unitstr_from_attrs`
  * :71, `str_to_unit` :35): snapshot formats annotate each dataset
  * with either an explicit unit string (EAGLE `cgsunits`, generic
  * `units`, SWIFT "Expression for physical CGS units: [...]"), or
  * TNG-style cgs conversion data (`to_cgs` factor + per-dimension
  * `*_scaling` exponents, with `a`/`h` exponents resolved through the
  * cosmology mixin).
  *
  * The result is (factor, Measure): multiplying the raw column by
  * `factor` yields a value in `measure`. Driver-side only — the
  * factor becomes one literal multiply in the plan.
  */
object UnitAttrs {

  /** cgs base units per scaling dimension — scida `_get_default_units`
    * (units.py:237) in cgs mode: length→cm, mass→g, velocity→cm/s,
    * time→s. */
  private val CgsSyms: Map[String, Map[String, Int]] = Map(
    "length" -> Map("cm" -> 1),
    "mass" -> Map("g" -> 1),
    "velocity" -> Map("cm" -> 1, "s" -> -1),
    "time" -> Map("s" -> 1))

  /** Resolve a field's unit from its dataset attributes. Returns None
    * when nothing resolvable is present (scida returns dimensionless
    * / skips, and flags the field via `missing_units`). */
  def fromAttrs(attrs: Map[String, Attr],
      cosmo: Option[Cosmology] = None): Option[(Double, Units.Measure)] =
    fromUnitString(attrs).orElse(fromCgsScalings(attrs, cosmo))

  /** Explicit unit-string attributes, scida's key priority
    * (units.py:71): SWIFT expression keys (unit inside [...]), then
    * `cgsunits` (EAGLE), then `units`. Unparseable strings are
    * skipped, as scida does on UndefinedUnitError. */
  private def fromUnitString(attrs: Map[String, Attr]): Option[(Double, Units.Measure)] = {
    val swift = Seq("Conversion factor", "Expression for physical CGS units")
      .flatMap(attrs.get).flatMap(_.string).headOption.map { s =>
        val inner = s.split('[').last.split(']').head
        if (inner.trim == "-") "" else inner
      }
    val str = swift
      .orElse(attrs.get("cgsunits").flatMap(_.string))
      .orElse(attrs.get("units").flatMap(_.string))
    str.filter(s => s.nonEmpty && s.toLowerCase != "none").flatMap { s =>
      try Some((1.0, Units.parse(s)))
      catch { case _: IllegalArgumentException => None }
    }
  }

  /** TNG-style cgs conversion (units.py:171-186): to_cgs factor ×
    * cgs-dimension symbols^scaling, with a/h exponents multiplied in
    * numerically from the cosmology (scida registers `a` and `h` as
    * registry units from the mixin, cosmology.py:57-63). Returns None
    * if an a/h scaling is present but no cosmology is — the unit is
    * unresolvable, better unreported than wrong. */
  private def fromCgsScalings(attrs: Map[String, Attr],
      cosmo: Option[Cosmology]): Option[(Double, Units.Measure)] = {
    val keys = CgsSyms.keys.toSeq ++ Seq("h", "a")
    if (!keys.exists(k => attrs.contains(k + "_scaling"))) return None
    def exp(k: String): Double =
      attrs.get(k + "_scaling").flatMap(_.scalar).getOrElse(0.0)
    val aExp = exp("a"); val hExp = exp("h")
    if ((aExp != 0.0 || hExp != 0.0) && cosmo.isEmpty) return None
    var syms = Map.empty[String, Int]
    CgsSyms.foreach { case (dim, dimSyms) =>
      val e = exp(dim)
      require(e == e.floor, s"non-integer $dim scaling $e unsupported")
      if (e != 0.0) dimSyms.foreach { case (sym, se) =>
        val cur = syms.getOrElse(sym, 0) + se * e.toInt
        syms = if (cur == 0) syms - sym else syms + (sym -> cur)
      }
    }
    val toCgs = attrs.get("to_cgs").flatMap(_.scalar).filterNot(v => v == 0.0).getOrElse(1.0)
    val cosmoFactor = cosmo.map(c =>
      math.pow(c.scaleFactor, aExp) * math.pow(c.h, hExp)).getOrElse(1.0)
    Some((toCgs * cosmoFactor, Units.Measure(syms)))
  }
}
