package graft.model

/** Unit algebra — the pint analogue behind scida's units mixin
  * (reference: src/scida/interfaces/mixins/units.py: per-field pint
  * quantities compose through arithmetic and are validated on
  * conversion). Re-expressed for Spark:
  *
  *  - a `Measure` is a symbolic product of registered unit symbols
  *    with integer exponents ("Msun/kpc^3" ≡ {Msun→1, kpc→-3});
  *    multiplication/division/power operate on the exponent vector,
  *    so units COMPOSE through arithmetic exactly as pint quantities
  *    do (`rho = mass/vol` carries Msun/kpc³ automatically);
  *  - dimensional consistency is checked structurally: each symbol
  *    maps to a base-dimension exponent vector (mass¹, length³, …),
  *    and conversion between measures requires equal dimension
  *    vectors (pint's DimensionalityError otherwise);
  *  - everything is driver-side and tiny: a conversion factor becomes
  *    ONE literal multiply in the Catalyst plan (codegen'd, free at
  *    shuffle time); no unit logic ever executes per-row.
  */
object Units {

  /** Base-dimension exponent vector, e.g. mass·length⁻³. */
  final case class Dimension(exps: Map[String, Int]) {
    def *(o: Dimension): Dimension = Dimension(merge(exps, o.exps, 1))
    def /(o: Dimension): Dimension = Dimension(merge(exps, o.exps, -1))
    def pow(n: Int): Dimension = Dimension(exps.map { case (k, e) => k -> e * n }
      .filter(_._2 != 0))
    def isDimensionless: Boolean = exps.isEmpty
    override def toString: String =
      if (exps.isEmpty) "dimensionless"
      else exps.toSeq.sortBy(_._1)
        .map { case (d, 1) => d; case (d, e) => s"$d^$e" }.mkString(" ")
  }

  private def merge(a: Map[String, Int], b: Map[String, Int], sign: Int): Map[String, Int] =
    (a.keySet ++ b.keySet).iterator
      .map(k => k -> (a.getOrElse(k, 0) + sign * b.getOrElse(k, 0)))
      .filter(_._2 != 0).toMap

  /** symbol → (factor to SI base, base-dimension vector). Linear units
    * only, as in scida's field use (affine °C-style units are out of
    * scope there too). */
  private val registry: Map[String, (Double, Dimension)] = {
    def d(pairs: (String, Int)*) = Dimension(pairs.filter(_._2 != 0).toMap)
    Map(
      // length (base m)
      "m" -> (1.0, d("length" -> 1)), "km" -> (1e3, d("length" -> 1)),
      "cm" -> (1e-2, d("length" -> 1)),
      "pc" -> (3.0856775814913673e16, d("length" -> 1)),
      "kpc" -> (3.0856775814913673e19, d("length" -> 1)),
      "Mpc" -> (3.0856775814913673e22, d("length" -> 1)),
      // mass (base kg)
      "kg" -> (1.0, d("mass" -> 1)), "g" -> (1e-3, d("mass" -> 1)),
      "Msun" -> (1.98892e30, d("mass" -> 1)),
      // time (base s)
      "s" -> (1.0, d("time" -> 1)), "ms" -> (1e-3, d("time" -> 1)),
      "us" -> (1e-6, d("time" -> 1)), "ns" -> (1e-9, d("time" -> 1)),
      "hr" -> (3600.0, d("time" -> 1)), "Gyr" -> (3.15576e16, d("time" -> 1)),
      // Julian year (365.25 d) — the astronomical convention behind
      // Gyr above; SFR fields are conventionally Msun/yr
      "yr" -> (3.15576e7, d("time" -> 1)),
      // temperature (base K)
      "K" -> (1.0, d("temperature" -> 1)),
      // energy (derived: mass·length²·time⁻²)
      "J" -> (1.0, d("mass" -> 1, "length" -> 2, "time" -> -2)),
      "erg" -> (1e-7, d("mass" -> 1, "length" -> 2, "time" -> -2)),
      "eV" -> (1.602176634e-19, d("mass" -> 1, "length" -> 2, "time" -> -2)),
      // physical constants as units (pint exposes the same — docs use
      // ureg("c") for E = m·c²): dimensionful scale factors
      "c" -> (299792458.0, d("length" -> 1, "time" -> -1)),
      "G" -> (6.6743e-11, d("length" -> 3, "mass" -> -1, "time" -> -2)),
      // angles (base rad) — astrometric catalogs label positions deg
      // and parallaxes/proper motions mas (configfiles/units/gaia.yaml,
      // erosita_events.yaml). Angle gets its own dimension so mas↔deg
      // convert but an angle never silently mixes with a pure number.
      "rad" -> (1.0, d("angle" -> 1)),
      "deg" -> (math.Pi / 180.0, d("angle" -> 1)),
      "arcmin" -> (math.Pi / 180.0 / 60.0, d("angle" -> 1)),
      "arcsec" -> (math.Pi / 180.0 / 3600.0, d("angle" -> 1)),
      "mas" -> (math.Pi / 180.0 / 3600.0 / 1000.0, d("angle" -> 1)),
      // logarithmic photometric labels (gaia.yaml phot_*_mean_mag,
      // mh_gspphot) — non-linear scales pint also only LABELS (no
      // linear conversion exists); own dimensions forbid conversion
      "mag" -> (1.0, d("magnitude" -> 1)), "dex" -> (1.0, d("dex" -> 1)),
      // eROSITA analogue-digital unit (erosita_events.yaml `adu:
      // "[energy]"` — conversion to eV deliberately undefined there
      // too, so adu is its own dimension rather than a wrong factor)
      "adu" -> (1.0, d("adu" -> 1)),
      // dimensionless counting units
      "1" -> (1.0, d()), "dozen" -> (12.0, d()))
  }

  // ---- user-defined units — pint `ureg.define` (docs/units.md:99
  // "Custom units"): linear definitions layered beside the shipped
  // registry. Shipped symbols cannot be redefined (silent unit drift
  // would corrupt every consumer); a user symbol may be re-defined
  // only to the SAME definition (idempotent), else errors.
  private val userRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, (Double, Dimension)]()

  private def lookup(sym: String): Option[(Double, Dimension)] =
    registry.get(sym).orElse(Option(userRegistry.get(sym)))

  /** Register a custom linear unit: `define("halfmeter = 0.5 * m")`.
    * The right side is an optional numeric factor times any parseable
    * composite measure (`"kms = km/s"`, `"beard_second = 5e-9 * m"`);
    * a bare number defines a dimensionless counting unit. */
  def define(spec: String): Unit = {
    val parts = spec.split("=", 2)
    require(parts.length == 2,
      s"define expects 'name = [factor *] unit', got '$spec'")
    val name = parts(0).trim
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"invalid unit name '$name'")
    require(!registry.contains(name), s"cannot redefine shipped unit '$name'")
    val rhs = parts(1).trim
    val numPat = "^([0-9][0-9.eE+-]*)\\s*\\*?\\s*(.*)$".r
    val (f, measureStr) = rhs match {
      case numPat(num, rest) if num.toDoubleOption.isDefined =>
        (num.toDouble, rest.trim)
      case _ => (1.0, rhs)
    }
    val entry =
      if (measureStr.isEmpty || measureStr == "1") (f, Dimension(Map.empty))
      else {
        val meas = parse(measureStr)
        (f * meas.siFactor, meas.dimension)
      }
    val prev = userRegistry.putIfAbsent(name, entry)
    require(prev == null || prev == entry,
      s"unit '$name' already defined differently")
  }

  /** SI base symbol per dimension (for to_base_units). */
  private val baseSym = Map(
    "length" -> "m", "mass" -> "kg", "time" -> "s", "temperature" -> "K")

  /** The SI-base measure with this dimension — pint to_base_units'
    * target: m^a·kg^b·s^c·K^d. */
  def baseMeasure(dim: Dimension): Measure =
    Measure(dim.exps.map { case (k, e) =>
      baseSym.getOrElse(k,
        throw new IllegalArgumentException(s"no base unit for dimension $k")) -> e
    })

  /** A symbolic composite unit: registered symbols with integer
    * exponents. The SI factor and dimension are derived, so algebra
    * stays exact and symbolic ("Msun/kpc^3" survives as itself, not a
    * bare 6.77e-29). */
  final case class Measure(syms: Map[String, Int]) {
    def *(o: Measure): Measure = Measure(merge(syms, o.syms, 1))
    def /(o: Measure): Measure = Measure(merge(syms, o.syms, -1))
    def pow(n: Int): Measure = Measure(syms.map { case (k, e) => k -> e * n }
      .filter(_._2 != 0))

    /** n-th root — every exponent must divide evenly (pint raises on
      * fractional dimensions the same way). */
    def root(n: Int): Measure = {
      require(n > 0, "root index must be positive")
      syms.collectFirst { case (k, e) if e % n != 0 => k -> e }.foreach {
        case (k, e) => sys.error(
          s"cannot take ${n}th root of $this: exponent $e of '$k' not divisible")
      }
      Measure(syms.map { case (k, e) => k -> e / n }.filter(_._2 != 0))
    }

    def dimension: Dimension = syms.foldLeft(Dimension(Map.empty)) {
      case (acc, (sym, e)) => acc * lookup(sym).get._2.pow(e)
    }

    /** Multiplicative factor taking a value in this measure to SI. */
    def siFactor: Double = syms.foldLeft(1.0) {
      case (acc, (sym, e)) => acc * math.pow(lookup(sym).get._1, e)
    }

    def isDimensionless: Boolean = dimension.isDimensionless

    /** Canonical form: positive-exponent symbols joined by `*`, each
      * negative-exponent symbol appended as `/sym^e` — parses back to
      * an equal Measure. */
    override def toString: String = {
      val (pos, neg) = syms.toSeq.sortBy(_._1).partition(_._2 > 0)
      val num =
        if (pos.isEmpty) "1"
        else pos.map { case (s, 1) => s; case (s, e) => s"$s^$e" }.mkString("*")
      num + neg.map { case (s, e) => s"/$s" + (if (e == -1) "" else s"^${-e}") }.mkString
    }
  }

  val dimensionless: Measure = Measure(Map.empty)

  /** Parse a composite unit expression: `sym[^exp]` terms chained with
    * `*` and `/` (left-associative, as in "Msun/kpc^3" or "km/s"),
    * with "1" as the empty numerator ("1/s"). Unknown symbols throw —
    * same contract as pint's UndefinedUnitError. */
  def parse(s: String): Measure = {
    val trimmed = s.trim
    require(trimmed.nonEmpty, "empty unit string")
    var syms = Map.empty[String, Int]
    // split retaining the operators
    val tokens = trimmed.split("(?=[*/])").toSeq
    tokens.foreach { tok0 =>
      val (op, tok) =
        if (tok0.startsWith("*")) (1, tok0.tail)
        else if (tok0.startsWith("/")) (-1, tok0.tail)
        else (1, tok0)
      val (sym, exp) = tok.split('^') match {
        case Array(y) => (y.trim, 1)
        case Array(y, e) => (y.trim, e.trim.toInt)
        case _ => throw new IllegalArgumentException(s"cannot parse unit term '$tok' in '$s'")
      }
      if (sym != "1") {
        require(lookup(sym).isDefined, s"unknown unit '$sym' in '$s'")
        syms = merge(syms, Map(sym -> exp), op)
      }
    }
    Measure(syms)
  }

  /** Multiplicative factor converting a quantity in `from` to `to`.
    * Throws for unknown units or dimension mismatch (pint's
    * DimensionalityError). Both sides may be composite expressions. */
  def factor(from: String, to: String): Double = factor(parse(from), parse(to))

  def factor(from: Measure, to: Measure): Double = {
    require(from.dimension == to.dimension,
      s"cannot convert $from (${from.dimension}) to $to (${to.dimension})")
    from.siFactor / to.siFactor
  }
}
