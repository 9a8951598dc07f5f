package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.model.{Cosmology, GraftDataset}
import graft.sources.hdf5.{ChunkedHdf5, Hdf5Writer}
import graft.sources.Attr

/** Cosmology mixin — scida CosmologyMixin semantics (reference:
  * src/scida/interfaces/mixins/cosmology.py:50-52 attach z/cosmology,
  * :85-130 validate, :112-114 a = 1/(1+z), :135
  * get_redshift_from_rawmetadata, :160 get_cosmology_from_rawmetadata
  * alias order).
  */
class CosmologySpec extends SparkSpec {

  private def snapshotWith(attrs: Seq[(String, Attr)], extra: Seq[(String, Hdf5Writer.Group)] = Nil): String = {
    val dir = Files.createTempDirectory("graft_cosmo").toString
    val root = Hdf5Writer.Group(children =
      Seq("Header" -> Hdf5Writer.Group(attrs = attrs)) ++ extra ++
        Seq("PartType0" -> Hdf5Writer.Group(children = Seq(
          "Masses" -> Hdf5Writer.F64(Array(1.0, 2.0, 3.0))))))
    Hdf5Writer.write(s"$dir/snap.0.hdf5", root)
    dir
  }

  private val gadgetHeader = Seq[(String, Attr)](
    "Time" -> 0.25, "Redshift" -> 3.0, "HubbleParam" -> 0.6774,
    "Omega0" -> 0.3089, "OmegaBaryon" -> 0.0486)

  test("redshift, scale factor, and params derive from /Header attrs") {
    val attrs = ChunkedHdf5.attrs(snapshotWith(gadgetHeader))
    assert(Cosmology.redshiftFromAttrs(attrs).contains(3.0))
    val c = Cosmology.fromAttrs(attrs).get
    assert(c.redshift == 3.0)
    assert(c.scaleFactor == 0.25) // a = 1/(1+z), cosmology.py:112-114
    assert(c.h == 0.6774)
    assert(c.omega0.contains(0.3089) && c.omegaBaryon.contains(0.0486))
    assert(c.comovingToPhysical == 0.25 / 0.6774)
  }

  test("validate accepts consistent Time==1/(1+z) and rejects inconsistent") {
    // legacy detection: Time consistent with a = 1/(1+Redshift)
    assert(Cosmology.isCosmological(ChunkedHdf5.attrs(snapshotWith(gadgetHeader))))
    // non-cosmological: Time is just "time", inconsistent with z
    val bad = snapshotWith(Seq("Time" -> 13.7, "Redshift" -> 3.0, "HubbleParam" -> 0.7))
    assert(!Cosmology.isCosmological(ChunkedHdf5.attrs(bad)))
    // Redshift with no Time at all counts (LGalaxies-style)
    val noTime = snapshotWith(Seq("Redshift" -> 2.0, "HubbleParam" -> 0.7))
    assert(Cosmology.isCosmological(ChunkedHdf5.attrs(noTime)))
  }

  test("/Parameters aliases win over /Header, per scida alias order") {
    val dir = snapshotWith(
      Seq("Time" -> 0.5, "Redshift" -> 1.0, "HubbleParam" -> 0.9),
      extra = Seq("Parameters" -> Hdf5Writer.Group(attrs = Seq(
        "HubbleParam" -> 0.6774))))
    val c = Cosmology.fromAttrs(ChunkedHdf5.attrs(dir)).get
    assert(c.h == 0.6774) // /Parameters consulted before /Header
  }

  test("missing Hubble parameter yields no cosmology, like scida's None") {
    val attrs = ChunkedHdf5.attrs(snapshotWith(Seq("Redshift" -> 1.0)))
    assert(Cosmology.fromAttrs(attrs).isEmpty)
    assert(Cosmology.redshiftFromAttrs(attrs).contains(1.0))
  }

  test("rockstar-style root-level cosmology:* attrs are the last fallback") {
    // reference: cosmology.py:186-192 — rockstar catalogs carry
    // cosmology as root-object attributes under colon names
    val dir = Files.createTempDirectory("graft_cosmo_rs").toString
    val root = Hdf5Writer.Group(
      attrs = Seq("cosmology:hubble" -> 0.7, "cosmology:omega_matter" -> 0.3,
        "cosmology:omega_baryon" -> 0.05),
      children = Seq(
        "Header" -> Hdf5Writer.Group(attrs = Seq("Redshift" -> 0.5)),
        "PartType0" -> Hdf5Writer.Group(children = Seq(
          "Masses" -> Hdf5Writer.F64(Array(1.0))))))
    Hdf5Writer.write(s"$dir/cat.0.hdf5", root)
    val c = Cosmology.fromAttrs(ChunkedHdf5.attrs(dir)).get
    assert(c.h == 0.7 && c.omega0.contains(0.3) && c.omegaBaryon.contains(0.05))
  }

  test("FLAMINGO/SWIFT Omega_m = -1 recomputes as Omega_cdm + Omega_b") {
    // reference: cosmology.py:194-205
    val dir = snapshotWith(Seq("Redshift" -> 1.0),
      extra = Seq("Parameters" -> Hdf5Writer.Group(attrs = Seq(
        "Cosmology:h" -> 0.681,
        "Cosmology:Omega_m" -> -1.0,
        "Cosmology:Omega_cdm" -> 0.256,
        "Cosmology:Omega_b" -> 0.0486))))
    val c = Cosmology.fromAttrs(ChunkedHdf5.attrs(dir)).get
    assert(c.h == 0.681)
    assert(c.omega0.exists(v => math.abs(v - (0.256 + 0.0486)) < 1e-12))
  }

  test("cosmology recovers from sibling fof_subhalo_tab files (cosmology.py:223)") {
    // a groups_* catalog whose own header carries NO cosmology, next
    // to a fof_subhalo_tab_* file that does — the Illustris layout
    val dir = Files.createTempDirectory("graft_altcosmo").toString
    Hdf5Writer.write(s"$dir/groups_135.0.hdf5", Hdf5Writer.Group(children = Seq(
      "Header" -> Hdf5Writer.Group(attrs = Seq("Ngroups_Total" -> 5L)),
      "Group" -> Hdf5Writer.Group(children = Seq(
        "GroupMass" -> Hdf5Writer.F64(Array(1.0, 2.0)))))))
    Hdf5Writer.write(s"$dir/fof_subhalo_tab_135.0.hdf5", Hdf5Writer.Group(children = Seq(
      "Header" -> Hdf5Writer.Group(attrs = Seq(
        "Time" -> 0.25, "Redshift" -> 3.0, "HubbleParam" -> 0.6774,
        "Omega0" -> 0.3089)),
      "Subhalo" -> Hdf5Writer.Group(children = Seq(
        "SubhaloMass" -> Hdf5Writer.F64(Array(1.0)))))))
    val c = Cosmology.fromAlternativeFiles(dir)
    assert(c.isDefined && c.get.h == 0.6774 && c.get.redshift == 3.0)
    assert(c.get.omega0.contains(0.3089))
    // a dir with no alternative-prefix files yields None, not an error
    val bare = Files.createTempDirectory("graft_altnone").toString
    Hdf5Writer.write(s"$bare/groups_1.0.hdf5", Hdf5Writer.Group(children = Seq(
      "Header" -> Hdf5Writer.Group(attrs = Seq("Ngroups_Total" -> 1L)),
      "Group" -> Hdf5Writer.Group(children = Seq(
        "GroupMass" -> Hdf5Writer.F64(Array(1.0)))))))
    assert(Cosmology.fromAlternativeFiles(bare).isEmpty)
  }

  test("derived quantities: quadrature matches the flat-LCDM closed form (cosmology.py:154)") {
    val c = Cosmology(h = 0.6774, omega0 = Some(0.3089),
      omegaBaryon = Some(0.0486), redshift = 1.0)
    // age of the universe today ≈ 13.80 Gyr for Planck-ish params
    assert(math.abs(c.ageGyr(0.0) - 13.8) < 0.05)
    // quadrature vs independent closed form: 512 midpoint steps land
    // well inside 1e-4 relative everywhere on the z grid
    for (z <- Seq(0.0, 0.5, 1.0, 2.0, 5.0, 10.0)) {
      val q = c.ageGyr(z)
      val cf = Cosmology.ageGyrClosed(z, 0.6774, 0.3089)
      assert(math.abs(q - cf) / cf < 1e-4, s"z=$z: $q vs closed $cf")
    }
    // lookback identities: 0 at z=0, monotone, bounded by age(0)
    assert(c.lookbackGyr(0.0) == 0.0)
    assert(c.lookbackGyr(1.0) > 0 && c.lookbackGyr(2.0) > c.lookbackGyr(1.0))
    assert(c.lookbackGyr(10.0) < c.ageGyr(0.0))
    // comoving distance: 0 at z=0, monotone; z=1 ≈ 3395 Mpc for
    // these params (astropy FlatLambdaCDM cross-check value)
    assert(c.comovingDistanceMpc(0.0) == 0.0)
    assert(math.abs(c.comovingDistanceMpc(1.0) - 3395.0) < 5.0)
    // column forms replay the scalar quadrature exactly (same terms)
    import spark.implicits._
    val got = Seq(0.5, 2.0).toDF("z")
      .select(Cosmology.ageGyrCol(col("z"), 0.6774, 0.3089).as("age"),
        Cosmology.comovingDistanceMpcCol(col("z"), 0.6774, 0.3089).as("d"))
      .as[(Double, Double)].collect()
    assert(got(0)._1 == c.ageGyr(0.5) && got(1)._1 == c.ageGyr(2.0))
    assert(got(0)._2 == c.comovingDistanceMpc(0.5) &&
      got(1)._2 == c.comovingDistanceMpc(2.0))
  }

  test("GraftDataset carries cosmology through transforms and into info") {
    val dir = snapshotWith(gadgetHeader)
    val c = Cosmology.fromAttrs(ChunkedHdf5.attrs(dir)).get
    val ds = GraftDataset(ChunkedHdf5.load(spark, dir, "PartType0"))
      .withCosmology(c)
      .withUnit("Masses", "Msun")
      .withDerived("PhysMass")(g =>
        g.field("Masses") * lit(g.cosmology.get.comovingToPhysical))
    assert(ds.cosmology.contains(c))
    assert(ds.info.contains("z = 3.00")) // _info_custom analogue
    val out = ds.select("PhysMass").orderBy("PhysMass")
      .collect().map(_.getDouble(0))
    assert(out.toSeq == Seq(1.0, 2.0, 3.0).map(_ * 0.25 / 0.6774))
  }
}
