package graft.model

import graft.sources.Attr

/** Cosmology metadata derived from snapshot header attributes — the
  * scida CosmologyMixin re-expressed driver-side (reference:
  * src/scida/interfaces/mixins/cosmology.py:16 `CosmologyMixin`,
  * :135 `get_redshift_from_rawmetadata`, :160
  * `get_cosmology_from_rawmetadata`).
  *
  * All of this is tiny per-snapshot scalar metadata: it is computed
  * once on the driver from the already-memoized chunk-0 attributes
  * (`ChunkedHdf5.attrs`) and enters query plans only as literals
  * (e.g. the comoving→physical scale factor becomes one codegen'd
  * multiply per row) — nothing here touches the distributed data path.
  *
  * @param h           dimensionless Hubble parameter (HubbleParam)
  * @param omega0      matter density Ω₀, when present
  * @param omegaBaryon baryon density Ω_b, when present
  * @param redshift    z from /Header
  */
final case class Cosmology(
    h: Double,
    omega0: Option[Double],
    omegaBaryon: Option[Double],
    redshift: Double) {

  /** Scale factor a = 1/(1+z) — cosmology.py:112-114 (for
    * cosmological runs the Header Time field IS this value, which
    * `Cosmology.isCosmological` uses as its consistency check). */
  def scaleFactor: Double = 1.0 / (1.0 + redshift)

  /** Comoving → physical length factor: x_phys = x_com · a / h
    * (the standard Gadget convention scida's unit registry encodes by
    * defining `a` and `h` as units, cosmology.py:57-63). */
  def comovingToPhysical: Double = scaleFactor / h

  /** scida CosmologyMixin._info_custom analogue. */
  def infoLines: Seq[String] = Seq(
    "=== Cosmological Simulation ===",
    f"z = $redshift%.2f",
    s"h = $h" + omega0.map(o => s", Omega0 = $o").getOrElse("") +
      omegaBaryon.map(o => s", OmegaBaryon = $o").getOrElse(""),
    "===============================")

  // ---- Derived quantities — the astropy FLRW surface scida attaches
  // (cosmology.py:154 get_cosmology_from_rawmetadata returns a
  // FlatLambdaCDM; users then call .age/.lookback_time/
  // .comoving_distance). Flat ΛCDM, radiation neglected (astropy's
  // FlatLambdaCDM default Tcmb0=0 does the same); requires Ω₀.
  // Numeric midpoint quadrature with a FIXED step count so any engine
  // can replay the same arithmetic term-for-term (the cosmo_derived
  // oracle protocol); CosmologySpec cross-checks against the flat-ΛCDM
  // closed form. Driver-side scalars here; the distributed per-row
  // column forms live in Cosmology.ageGyrCol/comovingDistanceMpcCol.

  private def om: Double = omega0.getOrElse(
    throw new IllegalStateException("derived quantities need Omega0"))

  /** Age of the universe at redshift `z` in Gyr (Julian). */
  def ageGyr(z: Double, steps: Int = Cosmology.QuadSteps): Double =
    Cosmology.ageGyrScalar(z, h, om, steps)

  /** Lookback time to redshift `z` in Gyr: age(0) − age(z). */
  def lookbackGyr(z: Double, steps: Int = Cosmology.QuadSteps): Double =
    ageGyr(0.0, steps) - ageGyr(z, steps)

  /** Line-of-sight comoving distance to `z` in Mpc. */
  def comovingDistanceMpc(z: Double, steps: Int = Cosmology.QuadSteps): Double =
    Cosmology.comovingDistanceMpcScalar(z, h, om, steps)
}

object Cosmology {

  /** Default quadrature resolution: 512 midpoint steps put the
    * discretization error at ~1e-7 relative (vs closed form, pinned
    * in CosmologySpec) — far inside the 6-dp oracle rounding. */
  val QuadSteps = 512

  /** Hubble time × h in Gyr: 1/(100 km/s/Mpc) with the IAU Mpc and
    * the Julian Gyr — 3.0856775814913673e19 km / 100 (km/s) /
    * 3.15576e16 s/Gyr. The same literal appears in the cosmo_derived
    * oracle SQL (as a quoted-string cast — DuckDB parses long bare
    * mantissas as DECIMAL and rounds). */
  val HubbleTimeGyrTimesH = 9.777922216807891
  /** Hubble distance × h in Mpc: c / (100 km/s/Mpc). */
  val HubbleDistMpcTimesH = 2997.92458

  /** Age of the universe at z, flat ΛCDM: with x the scale factor,
    * t(a) = t_H ∫₀^a √x / √(Ωm + ΩΛ x³) dx, midpoint rule. The
    * integrand ordering below is mirrored TERM FOR TERM by the
    * DuckDB oracle so both engines sum the same doubles. */
  def ageGyrScalar(z: Double, h: Double, om: Double, steps: Int): Double = {
    val ol = 1.0 - om
    val a = 1.0 / (1.0 + z)
    var s = 0.0
    var i = 0
    while (i < steps) {
      val x = a * (i + 0.5) / steps
      // cubes via multiplication, not pow: * is IEEE-correctly-rounded
      // everywhere, while pow may differ by an ulp across engines —
      // and the oracle protocol needs bit-identical terms
      s += math.sqrt(x) / math.sqrt(om + ol * (x * x * x))
      i += 1
    }
    (HubbleTimeGyrTimesH / h) * (a / steps) * s
  }

  /** Comoving distance to z, flat ΛCDM: D_C = d_H ∫₀^z dz'/E(z'),
    * E(z) = √(Ωm(1+z)³ + ΩΛ), midpoint rule. */
  def comovingDistanceMpcScalar(z: Double, h: Double, om: Double,
      steps: Int): Double = {
    val ol = 1.0 - om
    var s = 0.0
    var i = 0
    while (i < steps) {
      val zi = z * (i + 0.5) / steps
      val e = 1.0 + zi
      s += 1.0 / math.sqrt(om * (e * e * e) + ol)
      i += 1
    }
    (HubbleDistMpcTimesH / h) * (z / steps) * s
  }

  /** Flat-ΛCDM age CLOSED FORM (the spec's independent truth):
    * t(a) = (2 t_H / 3√ΩΛ) · asinh(√(ΩΛ/Ωm) · a^{3/2}). */
  def ageGyrClosed(z: Double, h: Double, om: Double): Double = {
    val ol = 1.0 - om
    val a = 1.0 / (1.0 + z)
    val x = math.sqrt(ol / om) * math.pow(a, 1.5)
    (2.0 * HubbleTimeGyrTimesH / h) / (3.0 * math.sqrt(ol)) *
      math.log(x + math.sqrt(x * x + 1.0))
  }

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** Distributed per-row age(z) in Gyr — the scalar quadrature as one
    * codegen'd higher-order-function chain over a `sequence` (no UDF,
    * no driver loop): `steps` midpoint terms accumulated in index
    * order, so DuckDB's list_sum over the same list_transform replays
    * the identical sum. */
  def ageGyrCol(z: Column, h: Double, om: Double,
      steps: Int = QuadSteps): Column = {
    val ol = 1.0 - om
    val a = lit(1.0) / (lit(1.0) + z)
    val terms = aggregate(
      sequence(lit(0), lit(steps - 1)), lit(0.0),
      (acc, i) => {
        val x = a * (i.cast("double") + lit(0.5)) / lit(steps.toDouble)
        acc + sqrt(x) / sqrt(lit(om) + lit(ol) * (x * x * x))
      })
    lit(HubbleTimeGyrTimesH / h) * (a / lit(steps.toDouble)) * terms
  }

  /** Distributed per-row comoving distance (Mpc), same protocol. */
  def comovingDistanceMpcCol(z: Column, h: Double, om: Double,
      steps: Int = QuadSteps): Column = {
    val ol = 1.0 - om
    val terms = aggregate(
      sequence(lit(0), lit(steps - 1)), lit(0.0),
      (acc, i) => {
        val zi = z * (i.cast("double") + lit(0.5)) / lit(steps.toDouble)
        val e = lit(1.0) + zi
        acc + lit(1.0) / sqrt(lit(om) * (e * e * e) + lit(ol))
      })
    lit(HubbleDistMpcTimesH / h) * (z / lit(steps.toDouble)) * terms
  }

  private def attr(attrs: Map[String, Map[String, Attr]],
      group: String, name: String): Option[Double] =
    attrs.get(group).flatMap(_.get(name)).flatMap(_.scalar)

  /** z from /Header Redshift — cosmology.py:135. */
  def redshiftFromAttrs(attrs: Map[String, Map[String, Attr]]): Option[Double] =
    attr(attrs, "/Header", "Redshift")

  /** Gadget-style parameter lookup with scida's alias order
    * (cosmology.py:160 `get_cosmology_from_rawmetadata`): each of
    * h/Ω₀/Ω_b is searched under /Parameters then /Header, first
    * matching alias wins; rockstar catalogs fall back to root-level
    * `cosmology:*` attributes (cosmology.py:186-192), and
    * FLAMINGO-style SWIFT headers that record Ω_m = -1 recompute it
    * as Ω_cdm + Ω_b from /Parameters (cosmology.py:194-205). Returns
    * None when no Hubble parameter is found anywhere (scida likewise
    * returns no cosmology object). */
  def fromAttrs(attrs: Map[String, Map[String, Attr]]): Option[Cosmology] = {
    def find(aliases: Seq[String]): Option[Double] =
      (for {
        grp <- Seq("/Parameters", "/Header").iterator
        name <- aliases.iterator
        v <- attr(attrs, grp, name).iterator
      } yield v).nextOption()
    // rockstar: scalar attrs live on the ROOT object under colon names
    def rockstar(name: String): Option[Double] =
      attr(attrs, "/", s"cosmology:$name")
    val ob0 = find(Seq("OmegaBaryon", "Cosmology:Omega_b"))
      .orElse(rockstar("omega_baryon"))
    val om0raw = find(Seq("Omega0", "Cosmology:Omega_m"))
      .orElse(rockstar("omega_matter"))
    // flamingo-swift: Omega_m is sometimes written as -1.0; then the
    // matter density is Omega_cdm + Omega_b
    val om0 = om0raw match {
      case Some(m) if m <= 0.0 =>
        (attr(attrs, "/Parameters", "Cosmology:Omega_cdm"), ob0) match {
          case (Some(cdm), Some(b)) => Some(cdm + b)
          case _ => om0raw
        }
      case other => other
    }
    for {
      h <- find(Seq("HubbleParam", "Cosmology:h")).orElse(rockstar("hubble"))
      z <- redshiftFromAttrs(attrs)
    } yield Cosmology(h = h, omega0 = om0, omegaBaryon = ob0, redshift = z)
  }

  /** Cosmology recovery from SIBLING files — scida
    * `_try_cosmology_from_alternative_files` (cosmology.py:223):
    * some formats (Illustris `groups_*` catalogs) carry no
    * cosmological parameters in their own header while other files in
    * the same snapshot directory (`fof_subhalo_tab_*`, `snap_*`) do.
    * Try the reference's alternative prefixes in its preference
    * order; each try is one (memoized) chunk-0 header read. Returns
    * None when nothing resolves — the caller keeps going without a
    * cosmology, as scida does. */
  def fromAlternativeFiles(path: String): Option[Cosmology] = {
    val dir = new java.io.File(path)
    if (!dir.isDirectory) return None
    val names = Option(dir.list()).getOrElse(Array.empty[String]).toSeq
    // prefix of a file named like "<word>_<digits>..." (cosmology.py
    // :247 `^(\w*)_(\d*)`)
    val available = names.flatMap { n =>
      val m = "^([A-Za-z0-9_]*?)_\\d".r.findFirstMatchIn(n)
      m.map(_.group(1))
    }.toSet
    Seq("fof_subhalo_tab", "fof_subhalo", "snap").iterator
      .filter(available.contains)
      .flatMap { pfx =>
        try fromAttrs(graft.sources.hdf5.ChunkedHdf5.attrs(path, pfx))
        catch { case _: Exception => None }
      }
      .nextOption()
  }

  /** Is this snapshot a cosmological (comoving) run? — the
    * CosmologyMixin.validate logic (cosmology.py:85-130): an explicit
    * /Config ComovingIntegrationOn=1 wins; otherwise "legacy"
    * detection accepts a /Header whose Time is consistent with
    * a = 1/(1+Redshift); a Redshift with no Time at all also counts. */
  def isCosmological(attrs: Map[String, Map[String, Attr]]): Boolean = {
    val explicit = attr(attrs, "/Config", "ComovingIntegrationOn").contains(1.0)
    lazy val header = attrs.getOrElse("/Header", Map.empty)
    lazy val legacy = (attr(attrs, "/Header", "Time"), redshiftFromAttrs(attrs)) match {
      case (Some(t), Some(z)) => math.abs(t - 1.0 / (1.0 + z)) <= 1e-8 * math.abs(t)
      case (None, Some(_)) => !header.contains("Time")
      case _ => false
    }
    explicit || legacy
  }
}
