package graft.queries

import java.io.File
import org.apache.spark.sql.functions._
import graft.sources.{Attr, Tables}
import graft.sources.hdf5.{ChunkedHdf5, Hdf5Writer}

/** HDF5 ingestion under the oracle gate — scida's ChunkedHDF5Loader
  * semantics (reference: src/scida/io/_base.py:348): a snapshot is a
  * directory of `prefix.K.hdf5` chunk files virtually concatenated
  * along axis 0, with `/Header` metadata on every chunk.
  *
  * `hdf5_load` materializes the orders table as such a snapshot
  * (driver-side fixture generation — in production the snapshot
  * already exists on disk; the measured operator is the DataSource V2
  * read), loads it back through `graft-hdf5`, and aggregates. The
  * DuckDB oracle recomputes the same aggregate from the ORIGINAL
  * orders parquet, so any loss or reorder in write→read→concat
  * hash-fails. All aggregates are exact integers (keys and
  * floor-rounded cents), immune to FP association order.
  */
object Hdf5Queries {

  /** Fixture header constants (a Gadget cosmological header: Time is
    * the scale factor, consistent with a = 1/(1+z)). The oracle SQL
    * inlines factors derived from these same constants. */
  private val FixtureRedshift = 1.0
  private val FixtureHubble = 0.6774
  private val FixtureUnitLength = 3.085678e21 // kpc/h [cm]
  private val FixtureUnitMass = 1.989e43 // 1e10 Msun/h [g]
  private val FixtureUnitVelocity = 1e5 // km/s [cm/s]
  /** The cosmological /Header every fixture carries; arepo-family
    * fixtures append the `Git_commit` marker. */
  private val FixtureHeader: Seq[(String, Attr)] = Seq(
    "Time" -> (1.0 / (1.0 + FixtureRedshift)),
    "Redshift" -> FixtureRedshift, "HubbleParam" -> FixtureHubble)
  private val ArepoHeader = FixtureHeader :+ ("Git_commit" -> Attr.Str("0badc0de"))

  /** One snapshot per (JVM, dataset dir): fixture generation runs the
    * DISTRIBUTED chunked writer (Hdf5Save — executors write their
    * chunks in parallel, the driver collects nothing), with row ids
    * assigned by the scalable PrefixSum (no one-task window). Both
    * bench passes and all queries sharing the fixture reuse the first
    * write — in production the snapshot pre-exists on disk; the
    * measured operator is the DataSource V2 READ. */
  private def ordersSnapshot(s: org.apache.spark.sql.SparkSession, d: String): String =
    Fixtures.writeOnce("graft_h5_orders", d)(p =>
      writeOrdersSnapshot(s, d, new File(p)))

  private def particleSnapshot(s: org.apache.spark.sql.SparkSession, d: String): String =
    Fixtures.writeOnce("graft_h5_part", d)(p =>
      writeParticleSnapshot(s, d, new File(p)))

  /** Contiguous 0..N-1 row index in o_orderkey order via the scalable
    * PrefixSum (bucketed range partitioning + per-bucket cumsum — no
    * one-task window), the precondition of Hdf5Save's chunk layout. */
  private def indexedOrders(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.operators.PrefixSum.exclusive(
      Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
      "o_orderkey", lit(1L), outCol = "__row")

  /** A TNG-shaped particle snapshot: arepo family markers
    * (`Git_commit` in /Header, customs/arepo/dataset.py:230), a
    * cosmological header, and — crucially — NO unit attributes on any
    * dataset, exactly how TNG/Illustris snapshots ship. Field values
    * derive from orders columns so the DuckDB oracle can replay them.
    * Written by the DISTRIBUTED chunked writer (Hdf5Save). */
  private def writeParticleSnapshot(s: org.apache.spark.sql.SparkSession, d: String,
      dir: File): Unit = {
    val df = indexedOrders(s, d).select(col("__row"),
      col("o_orderkey").as("OrderKey"),
      col("o_totalprice").as("Coordinates"),
      col("o_custkey").cast("double").as("Masses"),
      (col("o_orderkey") % 997).cast("double").as("Velocities"),
      col("o_totalprice").as("StarFormationRate"),
      // gas thermodynamics for the Temperature derived field:
      // x_e in [0, 1.188], u in the Gadget (km/s)^2 convention
      ((col("o_custkey") % 100).cast("double") * lit(0.012))
        .as("ElectronAbundance"),
      col("o_totalprice").as("InternalEnergy"))
    graft.sources.hdf5.Hdf5Save.save(df, "__row", dir.getPath,
      group = "PartType0", chunkRows = 1 << 13, filePrefix = "snap",
      headerAttrs = ArepoHeader ++ Seq[(String, Attr)](
        // the snapshot's code-unit system (standard TNG values):
        // kpc/h in cm, 1e10 Msun/h in g, km/s in cm/s
        "UnitLength_in_cm" -> FixtureUnitLength,
        "UnitMass_in_g" -> FixtureUnitMass,
        "UnitVelocity_in_cm_per_s" -> FixtureUnitVelocity))
  }

  private def mtngSnapshot(s: org.apache.spark.sql.SparkSession, d: String): String =
    Fixtures.writeOnce("graft_h5_mtng", d)(p =>
      writeMtngSnapshot(s, d, new File(p)))

  /** An MTNG-shaped snapshot dir (customs/arepo/MTNG/dataset.py):
    * the REGULAR chunk set (`snapshot_042.K.hdf5`, DM particles, no
    * unit attrs, /Config carrying the MTNG compile flag) beside the
    * mostbound companion set (`snapshot-prevmostboundonly_042.0.hdf5`,
    * PartType1 only — the reference deletes every other container from
    * it). The regular set goes through the distributed writer; the
    * companion is a tiny driver-written chunk (written AFTER — the
    * distributed writer's publish step clears the dir's .hdf5 files). */
  private def writeMtngSnapshot(s: org.apache.spark.sql.SparkSession, d: String,
      dir: File): Unit = {
    val df = indexedOrders(s, d).select(col("__row"),
      col("o_orderkey").as("OrderKey"),
      col("o_totalprice").as("Coordinates"),
      col("o_custkey").cast("double").as("Masses"))
    graft.sources.hdf5.Hdf5Save.save(df, "__row", dir.getPath,
      group = "PartType1", chunkRows = 1 << 13, filePrefix = "snapshot_042",
      headerAttrs = ArepoHeader,
      extraGroups = Seq("Config" -> Seq("MTNG" -> 1L)))
    Hdf5Writer.write(
      new File(dir, "snapshot-prevmostboundonly_042.0.hdf5").getPath,
      Hdf5Writer.Group(children = Seq(
        "Header" -> Hdf5Writer.Group(attrs = ArepoHeader),
        "Config" -> Hdf5Writer.Group(attrs = Seq("MTNG" -> 1L)),
        "PartType1" -> Hdf5Writer.Group(children = Seq(
          "MostBoundID" -> Hdf5Writer.I64(Array(1L, 2L, 3L, 4L)),
          "Coordinates" -> Hdf5Writer.F64(Array(0.25, 0.5, 0.75, 1.0)))))))
  }

  private def aurigaSnapshot(s: org.apache.spark.sql.SparkSession, d: String): String =
    Fixtures.writeOnce("graft_h5_auriga", d)(p =>
      writeAurigaSnapshot(s, d, new File(p)))

  /** An Auriga-shaped snapshot: gadget/arepo markers and a
    * cosmological header, identified as Auriga by PATH NAME ALONE
    * (simulations.yaml:115 "can only rely on path" — the dir name
    * carries "auriga"), no unit attrs anywhere. */
  private def writeAurigaSnapshot(s: org.apache.spark.sql.SparkSession, d: String,
      dir: File): Unit = {
    val df = indexedOrders(s, d).select(col("__row"),
      col("o_orderkey").as("OrderKey"),
      col("o_totalprice").as("Coordinates"),
      col("o_custkey").cast("double").as("Masses"),
      col("o_totalprice").as("Density"))
    graft.sources.hdf5.Hdf5Save.save(df, "__row", dir.getPath,
      group = "PartType0", chunkRows = 1 << 13, filePrefix = "snap",
      headerAttrs = ArepoHeader)
  }

  private def lgalaxiesCatalog(s: org.apache.spark.sql.SparkSession, d: String): String =
    Fixtures.writeOnce("graft_h5_lgal", d)(p =>
      writeLgalaxiesCatalog(s, d, new File(p)))

  /** The fixed-h LGalaxies hubble factor (lgalaxies.yaml `units: h:
    * 0.673` — the Millennium value, pinned in the UNIT FILE because
    * LGalaxies outputs carry no usable Hubble header). The fixture
    * header deliberately carries a DIFFERENT HubbleParam so a resolver
    * that wrongly reads h from the cosmology instead of the flavor
    * macro produces different factors and hash-fails. */
  private val LgalH = 0.673

  /** An L-Galaxies catalog: one `Galaxy` table, identified by the
    * Header `Simulation` banner (simulations.yaml:159), units from
    * the lgalaxies flavor's fixed-h macro system. */
  private def writeLgalaxiesCatalog(s: org.apache.spark.sql.SparkSession, d: String,
      dir: File): Unit = {
    val df = indexedOrders(s, d).select(col("__row"),
      col("o_orderkey").as("OrderKey"),
      col("o_totalprice").as("Pos"),
      col("o_custkey").cast("double").as("StellarMass"),
      col("o_totalprice").as("StarFormationRate"),
      (col("o_orderkey") % 997).cast("double").as("MassWeightAge"))
    graft.sources.hdf5.Hdf5Save.save(df, "__row", dir.getPath,
      group = "Galaxy", chunkRows = 1 << 13, filePrefix = "lgal",
      headerAttrs = Seq[(String, Attr)](
        "Simulation" -> "L-Galaxies run on the Millennium Simulation") ++ FixtureHeader)
  }

  private def catalogSnapshot(s: org.apache.spark.sql.SparkSession, d: String): String =
    Fixtures.writeOnce("graft_h5cat", d)(p =>
      writeCatalogSnapshot(s, d, new File(p))) + "/snapdir_042"

  /** A TNG-layout snapshot+catalog PAIR: `snapdir_042/snap_042.K.hdf5`
    * (orders as particles, distributed writer) beside
    * `groups_042/fof_subhalo_tab_042.0.hdf5` (per-custkey "halo" and
    * per-(custkey, priority) "subhalo" tables, Group and Subhalo
    * containers in ONE file as real fof_subhalo_tab files ship) — the
    * exact directory shape scida's discover_catalog resolves
    * (customs/arepo/dataset.py:264-271: `snapdir`→`groups`). The
    * catalog is DIMENSION-scale (one row per customer), so the
    * driver-side fixture writer is the right tool; the snapshot side
    * stays on the executor-parallel Hdf5Save. */
  private def writeCatalogSnapshot(s: org.apache.spark.sql.SparkSession, d: String,
      base: File): Unit = {
    val snapDir = new File(base, "snapdir_042")
    val df = indexedOrders(s, d).select(col("__row"),
      col("o_orderkey").as("OrderKey"),
      col("o_custkey").as("CustKey"),
      col("o_totalprice").as("TotalPrice"))
    graft.sources.hdf5.Hdf5Save.save(df, "__row", snapDir.getPath,
      group = "PartType0", chunkRows = 1 << 12, filePrefix = "snap_042",
      headerAttrs = ArepoHeader) // arepo family marker → discovery on
    val gRows = Tables.orders(s, d).groupBy("o_custkey")
      .agg(count(lit(1)).as("len"),
        sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long")).as("cents"))
      .orderBy("o_custkey").collect()
    val subRows = Tables.orders(s, d)
      .groupBy(col("o_custkey"),
        substring(col("o_orderpriority"), 1, 1).cast("long").as("prio"))
      .agg(count(lit(1)).as("slen"))
      .orderBy("o_custkey", "prio").collect()
    val catDir = new File(base, "groups_042")
    catDir.mkdirs()
    Hdf5Writer.write(new File(catDir, "fof_subhalo_tab_042.0.hdf5").getPath,
      Hdf5Writer.Group(children = Seq(
        "Header" -> Hdf5Writer.Group(attrs = ArepoHeader),
        "Group" -> Hdf5Writer.Group(children = Seq(
          "GroupCust" -> Hdf5Writer.I64(gRows.map(_.getLong(0))),
          "GroupLen" -> Hdf5Writer.I64(gRows.map(_.getLong(1))),
          "GroupMassCents" -> Hdf5Writer.I64(gRows.map(_.getLong(2))))),
        "Subhalo" -> Hdf5Writer.Group(children = Seq(
          "SubhaloGrNr" -> Hdf5Writer.I64(subRows.map(_.getLong(0))),
          "SubhaloPrio" -> Hdf5Writer.I64(subRows.map(_.getLong(1))),
          "SubhaloLen" -> Hdf5Writer.I64(subRows.map(_.getLong(2))))))))
  }

  /** Write orders as a chunked Gadget-shaped HDF5 snapshot via the
    * distributed writer into `dir`.
    * Deterministic: rows indexed in o_orderkey order, fixed chunking,
    * fixed header attrs. */
  private def writeOrdersSnapshot(s: org.apache.spark.sql.SparkSession, d: String,
      dir: File): Unit = {
    val df = indexedOrders(s, d).select(col("__row"),
      col("o_orderkey").as("OrderKey"),
      col("o_custkey").as("CustKey"),
      col("o_totalprice").as("TotalPrice"))
    graft.sources.hdf5.Hdf5Save.save(df, "__row", dir.getPath,
      group = "PartType0", chunkRows = 1 << 12, filePrefix = "snap",
      headerAttrs = FixtureHeader)
  }

  def defs: Map[String, QueryDef] = Map(
    "hdf5_load" -> QueryDef.sql(
      (s, d) => {
        val snap = ordersSnapshot(s, d)
        ChunkedHdf5.load(s, snap, "PartType0")
          .groupBy((col("CustKey") % 8).as("bucket"))
          .agg(count(lit(1)).as("n"),
            sum("OrderKey").as("sum_key"),
            sum(floor(col("TotalPrice") * 100.0 + 0.5).cast("long")).as("cents"))
          // bounded result (8 buckets) — see QueryDef.sortSmall
          .transform(QueryDef.sortSmall(_, col("bucket")))
      },
      """SELECT o_custkey % 8 AS bucket, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin),

    // --- group-catalog auto-discovery/auto-attach end-to-end
    // (customs/arepo/dataset.py:254 discover_catalog + :125
    // load_catalog): Load.dataset on the snapshot dir alone — no
    // catalog path given — must find the sibling groups_* directory
    // by the reference's candidate rules, load its Group and Subhalo
    // containers, and hang them off the dataset. The query then does
    // the add_groupquantity_to_particles shape against the
    // AUTO-DISCOVERED catalog (broadcast dim → particle rows) plus a
    // Subhalo-table aggregate, so a wrong discovery, a dropped
    // container, or any corruption in the catalog write→read
    // hash-fails against the oracle's replay from the original
    // orders parquet. All aggregates exact integers. ---
    "catalog_attach" -> QueryDef.sql(
      (s, d) => {
        val snap = catalogSnapshot(s, d)
        val ds = graft.sources.Load.dataset(s, snap)
        require(ds.catalogs.keySet == Set("Group", "Subhalo"),
          s"auto-discovery must attach Group+Subhalo; got ${ds.catalogs.keySet}")
        val grp = ds.catalog("Group").df
          .select("GroupCust", "GroupLen", "GroupMassCents")
        val partAgg = ds.df
          .join(broadcast(grp), col("CustKey") === col("GroupCust"))
          .groupBy((col("CustKey") % 8).as("bucket"))
          .agg(count(lit(1)).as("n"), sum("OrderKey").as("sum_key"),
            sum("GroupMassCents").as("mass_cents"),
            sum("GroupLen").as("sum_len"))
        val subAgg = ds.catalog("Subhalo").df
          .groupBy((col("SubhaloGrNr") % 8).as("bucket"))
          .agg(count(lit(1)).as("n_sub"), sum("SubhaloLen").as("sub_len"))
        partAgg.join(subAgg, Seq("bucket"))
          .transform(QueryDef.sortSmall(_, col("bucket")))
      },
      """WITH g AS (
        |  SELECT o_custkey, count(*) AS glen,
        |    CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS gmass
        |  FROM orders GROUP BY o_custkey
        |), sub AS (
        |  SELECT o_custkey, CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS prio,
        |    count(*) AS slen
        |  FROM orders GROUP BY o_custkey, prio
        |), pa AS (
        |  SELECT o.o_custkey % 8 AS bucket, count(*) AS n,
        |    CAST(sum(o.o_orderkey) AS BIGINT) AS sum_key,
        |    CAST(sum(g.gmass) AS BIGINT) AS mass_cents,
        |    CAST(sum(g.glen) AS BIGINT) AS sum_len
        |  FROM orders o JOIN g ON o.o_custkey = g.o_custkey GROUP BY bucket
        |), sa AS (
        |  SELECT o_custkey % 8 AS bucket, count(*) AS n_sub,
        |    CAST(sum(slen) AS BIGINT) AS sub_len
        |  FROM sub GROUP BY bucket)
        |SELECT pa.bucket, pa.n, pa.sum_key, pa.mass_cents, pa.sum_len,
        |  sa.n_sub, sa.sub_len
        |FROM pa JOIN sa ON pa.bucket = sa.bucket
        |ORDER BY pa.bucket""".stripMargin),

    // --- cosmology mixin end-to-end (mixins/cosmology.py:16,112-135):
    // the snapshot's /Header attrs are read back through the memoized
    // chunk-0 metadata, Cosmology derives z, a = 1/(1+z) and h, and a
    // derived field converts a comoving quantity to physical
    // (x_phys = x_com · a/h) — the factor read FROM THE FILE enters
    // the plan as one codegen'd literal multiply. The oracle inlines
    // the same factor computed from the fixture constants, so any
    // corruption of the header attrs in write→read (or of the mixin's
    // a = 1/(1+z) arithmetic) hash-fails. ---
    "cosmo_physical" -> QueryDef.sql(
      (s, d) => {
        val snap = ordersSnapshot(s, d)
        val cosmo = graft.model.Cosmology.fromAttrs(ChunkedHdf5.attrs(snap))
          .getOrElse(sys.error(s"snapshot $snap has no cosmology header"))
        require(graft.model.Cosmology.isCosmological(ChunkedHdf5.attrs(snap)),
          "fixture header must validate as a cosmological run")
        val ds = graft.model.GraftDataset(ChunkedHdf5.load(s, snap, "PartType0"))
          .withCosmology(cosmo)
          .withDerived("PhysCents") { g =>
            floor(g.field("TotalPrice") * lit(g.cosmology.get.comovingToPhysical)
              * 100.0 + 0.5).cast("long")
          }
        ds.select("OrderKey", "PhysCents").orderBy("OrderKey")
      }, {
        val f = (1.0 / (1.0 + FixtureRedshift)) / FixtureHubble
        s"""SELECT o_orderkey AS OrderKey,
           |  CAST(floor(o_totalprice * $f * 100.0 + 0.5) AS BIGINT) AS PhysCents
           |FROM orders ORDER BY OrderKey""".stripMargin
      }),

    // --- per-simulation unit DEFAULTS (units.py:122
    // extract_units_from_attrs falling back to configfiles/units/*.yaml,
    // resolved per family): the snapshot carries NO unit attrs — as
    // TNG/Illustris snapshots actually ship — so units resolve from the
    // flavor-keyed defaults table (UnitDefaults, keyed by Load.flavor's
    // arepo detection), with a/h folded in numerically from the file's
    // own cosmology header. The oracle inlines the same factors from
    // the SAME resolver at the SAME fixture constants, so a wrong
    // flavor detection, a wrong table entry, or a wrong a/h fold
    // hash-fails. ---
    "unit_defaults" -> QueryDef.sql(
      (s, d) => {
        val snap = particleSnapshot(s, d)
        require(graft.sources.Load.flavor(snap) == "arepo",
          "fixture must detect as the arepo family")
        val ds = graft.sources.Load.dataset(s, snap, "PartType0")
        // code_length/code_mass resolve to physical kpc/Msun via a,h;
        // the a^(1/2)-scaled velocity resolves to km/s; the factor-1
        // SFR default attaches to the raw field (and exercises the
        // `_all` group fallback)
        assert(ds.unitOf("Coordinates_phys").contains("kpc"), "code_length default")
        assert(ds.unitOf("Masses_phys").contains("Msun"), "code_mass default")
        assert(ds.unitOf("Velocities_phys").contains("km/s"), "velocity default")
        assert(ds.unitOf("StarFormationRate").contains("Msun/yr"), "_all fallback")
        ds.select("OrderKey", "Coordinates_phys", "Masses_phys",
            "Velocities_phys", "StarFormationRate")
          .select(col("OrderKey"),
            col("Coordinates_phys").as("pos_kpc"),
            col("Masses_phys").as("mass_msun"),
            col("Velocities_phys").as("v_kms"),
            col("StarFormationRate").as("sfr"))
          .orderBy("OrderKey")
      }, {
        import graft.model.{Cosmology, UnitDefaults}
        val cosmo = Cosmology(h = FixtureHubble, omega0 = None,
          omegaBaryon = None, redshift = FixtureRedshift)
        def f(field: String): Double =
          UnitDefaults.resolve("arepo", "PartType0", field, Some(cosmo)).get._1
        // factors ride as CAST('<repr>' AS DOUBLE): DuckDB parses a
        // bare numeric literal as DECIMAL — which both rounds >15-digit
        // mantissas BEFORE any cast and makes BIGINT×literal decimal
        // math — while a string→double cast preserves the full repr
        s"""SELECT o_orderkey AS OrderKey,
           |  o_totalprice * CAST('${f("Coordinates")}' AS DOUBLE) AS pos_kpc,
           |  o_custkey * CAST('${f("Masses")}' AS DOUBLE) AS mass_msun,
           |  (o_orderkey % 997) * CAST('${f("Velocities")}' AS DOUBLE) AS v_kms,
           |  o_totalprice AS sfr
           |FROM orders ORDER BY OrderKey""".stripMargin
      }),

    // --- MTNG flavor end-to-end (customs/arepo/MTNG/dataset.py):
    // detection (/Config's MTNG flag over arepo markers), dual chunk
    // prefixes (regular chosen, mostbound companion auto-attached as
    // a sub-object), and the mtng.yaml unit overrides — Coordinates
    // resolve cMpc/h (factor a/h, measure Mpc), NOT the Gadget
    // code_length=ckpc/h; Masses keep the code_mass default through
    // the layered table. The oracle replays both factors from the
    // SAME resolver at the fixture cosmology, so a wrong flavor vote,
    // a wrong prefix choice, or a wrong table layer hash-fails. ---
    "mtng_units" -> QueryDef.sql(
      (s, d) => {
        val snap = mtngSnapshot(s, d)
        require(graft.sources.Load.flavor(snap) == "mtng",
          "fixture must detect as MTNG (Config flag over arepo markers)")
        val ds = graft.sources.Load.dataset(s, snap)
        require(ds.catalogs.contains("mostbound"),
          "MTNG load must attach the mostbound companion sub-object")
        require(ds.catalog("mostbound").df.count() == 4,
          "companion must read the prevmostboundonly chunk set")
        assert(ds.unitOf("Coordinates_phys").contains("Mpc"),
          "mtng override: coordinates are cMpc/h, not code_length")
        assert(ds.unitOf("Masses_phys").contains("Msun"),
          "gadget base layer: code_mass still applies")
        ds.select("OrderKey", "Coordinates_phys", "Masses_phys")
          .select(col("OrderKey"),
            col("Coordinates_phys").as("pos_mpc"),
            col("Masses_phys").as("mass_msun"))
          .orderBy("OrderKey")
      }, {
        import graft.model.{Cosmology, UnitDefaults}
        val cosmo = Cosmology(h = FixtureHubble, omega0 = None,
          omegaBaryon = None, redshift = FixtureRedshift)
        def f(field: String): Double =
          UnitDefaults.resolve("mtng", "PartType1", field, Some(cosmo)).get._1
        // string→double casts: see unit_defaults' literal note
        s"""SELECT o_orderkey AS OrderKey,
           |  o_totalprice * CAST('${f("Coordinates")}' AS DOUBLE) AS pos_mpc,
           |  o_custkey * CAST('${f("Masses")}' AS DOUBLE) AS mass_msun
           |FROM orders ORDER BY OrderKey""".stripMargin
      }),

    // --- Auriga flavor end-to-end (simulations.yaml:109 Auriga:
    // identified by PATH NAME alone, unitfile gadget_cosmological +
    // auriga layered): the snapshot detects as plain arepo from its
    // markers, the shipped identification entry overrides the unit
    // flavor to auriga, whose yaml relabels Coordinates as plain Mpc
    // (factor 1 — raw values ARE physical), rescales Masses by a bare
    // 1e10 (no h), and leaves unnamed fields (Density) on the Gadget
    // code-unit layer (a/h-folded). The oracle replays all three
    // factors from the SAME resolver, so a wrong identification, a
    // wrong layer order, or a wrong macro eval hash-fails. ---
    "auriga_units" -> QueryDef.sql(
      (s, d) => {
        val snap = aurigaSnapshot(s, d)
        require(graft.sources.Load.flavor(snap) == "arepo",
          "fixture must detect as the arepo family from markers")
        require(graft.sources.Load.identifySimulation(
            Map.empty, snap).map(_._1) == Seq("Auriga"),
          "shipped registry must identify Auriga from the path name")
        val ds = graft.sources.Load.dataset(s, snap, "PartType0")
        // factor-1 override: the raw coordinates ARE Mpc, no derived
        // field appears (auriga.yaml `_all: Coordinates: Mpc`)
        assert(ds.unitOf("Coordinates").contains("Mpc"),
          "auriga override: coordinates are physical Mpc")
        assert(!ds.fieldNames.contains("Coordinates_phys"),
          "factor-1 label must not mint a derived field")
        // bare 1e10 scaling, NO h (auriga.yaml `Masses: 10^10 Msun`)
        assert(ds.unitOf("Masses_phys").contains("Msun"), "mass measure")
        // unnamed field keeps the Gadget base layer (code units)
        assert(ds.unitOf("Density_phys").contains("Msun/kpc^3"),
          "gadget layer fallback for fields auriga.yaml doesn't name")
        ds.select("OrderKey", "Coordinates", "Masses_phys", "Density_phys")
          .select(col("OrderKey"),
            col("Coordinates").as("pos_mpc"),
            col("Masses_phys").as("mass_msun"),
            col("Density_phys").as("rho"))
          .orderBy("OrderKey")
      }, {
        import graft.model.{Cosmology, UnitDefaults}
        val cosmo = Cosmology(h = FixtureHubble, omega0 = None,
          omegaBaryon = None, redshift = FixtureRedshift)
        def f(field: String): Double =
          UnitDefaults.resolve("auriga", "PartType0", field, Some(cosmo)).get._1
        require(f("Coordinates") == 1.0 && f("Masses") == 1e10,
          "auriga factors must be cosmology-free")
        // string→double casts: see unit_defaults' literal note
        s"""SELECT o_orderkey AS OrderKey,
           |  o_totalprice AS pos_mpc,
           |  o_custkey * CAST('${f("Masses")}' AS DOUBLE) AS mass_msun,
           |  o_totalprice * CAST('${f("Density")}' AS DOUBLE) AS rho
           |FROM orders ORDER BY OrderKey""".stripMargin
      }),

    // --- LGalaxies flavor end-to-end (simulations.yaml:156,
    // lgalaxies.yaml): identified by the Header `Simulation` banner,
    // one Galaxy table, and a code-unit system whose h is FIXED IN
    // THE UNIT FILE (0.673 — Millennium) while `a` folds from the
    // snapshot. The fixture header carries a DIFFERENT HubbleParam,
    // so resolving h from the cosmology instead of the flavor macro
    // changes the factors and hash-fails. ---
    "lgalaxies_units" -> QueryDef.sql(
      (s, d) => {
        val cat = lgalaxiesCatalog(s, d)
        require(graft.sources.Load.flavor(cat) == "generic",
          "LGalaxies files carry no gadget markers")
        val ds = graft.sources.Load.dataset(s, cat)
        // the macro system: code_length = a·kpc/0.673 despite the
        // header's different HubbleParam
        val a = 1.0 / (1.0 + FixtureRedshift)
        val posF = graft.model.UnitDefaults.resolve(
          "lgalaxies", "Galaxy", "Pos", ds.cosmology).get._1
        assert(math.abs(posF - a / LgalH) < 1e-15,
          "h must come from the lgalaxies macro, not the cosmology")
        assert(ds.unitOf("Pos_phys").contains("kpc"), "code_length")
        assert(ds.unitOf("StellarMass_phys").contains("Msun"), "code_mass")
        assert(ds.unitOf("StarFormationRate").contains("Msun/yr"),
          "code_Mdot is a factor-1 physical label")
        assert(ds.unitOf("MassWeightAge_phys").contains("yr"),
          "code_time_Gyr = 1e9 yr")
        ds.select("OrderKey", "Pos_phys", "StellarMass_phys",
            "StarFormationRate", "MassWeightAge_phys")
          .select(col("OrderKey"),
            col("Pos_phys").as("pos_kpc"),
            col("StellarMass_phys").as("mass_msun"),
            col("StarFormationRate").as("sfr"),
            col("MassWeightAge_phys").as("age_yr"))
          .orderBy("OrderKey")
      }, {
        import graft.model.{Cosmology, UnitDefaults}
        val cosmo = Cosmology(h = FixtureHubble, omega0 = None,
          omegaBaryon = None, redshift = FixtureRedshift)
        def f(field: String): Double =
          UnitDefaults.resolve("lgalaxies", "Galaxy", field, Some(cosmo)).get._1
        // string→double casts: see unit_defaults' literal note
        s"""SELECT o_orderkey AS OrderKey,
           |  o_totalprice * CAST('${f("Pos")}' AS DOUBLE) AS pos_kpc,
           |  o_custkey * CAST('${f("StellarMass")}' AS DOUBLE) AS mass_msun,
           |  o_totalprice AS sfr,
           |  (o_orderkey % 997) * CAST('${f("MassWeightAge")}' AS DOUBLE) AS age_yr
           |FROM orders ORDER BY OrderKey""".stripMargin
      }),

    // --- physics derived field: gas Temperature from
    // (ElectronAbundance, InternalEnergy) — extra_fields.py:36-60,
    // registered through the GraftDataset derived-field registry by
    // Load.dataset for the arepo family. The energy→cgs factor comes
    // from the UNIT ALGEBRA (InternalEnergy's flavor-default km^2/s^2
    // → cm^2/s^2 = 1e10, the constant the reference hardcodes); the
    // oracle replays T = C·u/(A + B·x_e) with the same
    // PhysicsFields-computed constants, so a wrong registration, a
    // wrong unit resolution, or a wrong fold hash-fails. ---
    "temperature_field" -> QueryDef.sql(
      (s, d) => {
        val snap = particleSnapshot(s, d)
        val ds = graft.sources.Load.dataset(s, snap, "PartType0")
        assert(ds.fieldNames.contains("Temperature"),
          "arepo flavor must auto-register the Temperature field")
        assert(ds.unitOf("Temperature").contains("K"), "T is in Kelvin")
        assert(graft.model.PhysicsFields.energyCgsFactor(ds) == 1e10,
          "unit algebra must reproduce the Gadget 1e10 energy factor")
        ds.select("OrderKey", "Temperature")
          .select(col("OrderKey"), col("Temperature").as("temp_k"))
          .orderBy("OrderKey")
      }, {
        import graft.model.{PhysicsFields, Units}
        val c = PhysicsFields.temperatureCoeff(
          Units.factor("km^2/s^2", "cm^2/s^2"))
        // string→double casts: see unit_defaults' literal note
        s"""SELECT o_orderkey AS OrderKey,
           |  CAST('$c' AS DOUBLE) * o_totalprice /
           |    (CAST('${PhysicsFields.MuA}' AS DOUBLE) +
           |     CAST('${PhysicsFields.MuB}' AS DOUBLE) *
           |       ((o_custkey % 100) * CAST('0.012' AS DOUBLE))) AS temp_k
           |FROM orders ORDER BY OrderKey""".stripMargin
      }),

    // --- code-units mode (units.py units="code"/"cgs" load modes):
    // the snapshot's own UnitLength_in_cm-family header attrs define
    // the code-unit system, so raw code-unit fields convert to cgs by
    // factors read FROM THE FILE — not convention constants — and then
    // ride the ordinary unit algebra (.to("Msun"), .to("kpc")). The
    // build asserts the parsed system equals the fixture's attrs (the
    // read-from-file loop); the oracle replays the same two-multiply
    // chains with CodeUnits-computed factors. ---
    "code_units" -> QueryDef.sql(
      (s, d) => {
        val snap = particleSnapshot(s, d)
        val ds = graft.sources.Load.dataset(s, snap, "PartType0")
        val cu = ds.codeUnits.getOrElse(sys.error("no code-unit attrs parsed"))
        assert(cu == graft.model.CodeUnits(FixtureUnitLength, FixtureUnitMass,
          FixtureUnitVelocity), "code units must come from the file header")
        val df = ds.df
          .withColumn("mass_g", cu.quantity(col("Masses"), mass = 1).col)
          .withColumn("mass_msun",
            cu.quantity(col("Masses"), mass = 1).to("Msun").col)
          .withColumn("pos_kpc_cu",
            cu.quantity(col("Coordinates"), length = 1).to("kpc").col)
          .withColumn("u_cgs",
            cu.quantity(col("InternalEnergy"), velocity = 2).col)
        df.select(col("OrderKey"), col("mass_g"), col("mass_msun"),
            col("pos_kpc_cu"), col("u_cgs"))
          .orderBy("OrderKey")
      }, {
        import graft.model.{CodeUnits, Units}
        val cu = CodeUnits(FixtureUnitLength, FixtureUnitMass, FixtureUnitVelocity)
        val fm = cu.cgsFactor(mass = 1)
        val fMsun = Units.factor("g", "Msun")
        val fl = cu.cgsFactor(length = 1)
        val fKpc = Units.factor("cm", "kpc")
        val fu = cu.cgsFactor(velocity = 2)
        s"""SELECT o_orderkey AS OrderKey,
           |  o_custkey * CAST('$fm' AS DOUBLE) AS mass_g,
           |  (o_custkey * CAST('$fm' AS DOUBLE)) * CAST('$fMsun' AS DOUBLE) AS mass_msun,
           |  (o_totalprice * CAST('$fl' AS DOUBLE)) * CAST('$fKpc' AS DOUBLE) AS pos_kpc_cu,
           |  o_totalprice * CAST('$fu' AS DOUBLE) AS u_cgs
           |FROM orders ORDER BY OrderKey""".stripMargin
      })
  )
}
