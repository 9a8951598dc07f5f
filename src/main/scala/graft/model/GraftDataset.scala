package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, Metadata, MetadataBuilder, StructField}

/** The scida Dataset + FieldContainer analogue (reference:
  * src/scida/interface.py:39 `BaseDataset`, src/scida/fields.py:83
  * `FieldContainer`, :381 `register_field`): a DataFrame plus
  *
  *  - hierarchical field namespaces — scida's `PartType0/Coordinates`
  *    paths become `/`-separated names resolved over namespaced
  *    columns (`ns__field`),
  *  - a derived-field registry — virtual columns defined as Column
  *    expressions over other fields, resolved lazily (and
  *    recursively) at select time, exactly like scida's
  *    `@register_field` dask closures, but materializing into one
  *    Catalyst plan Catalyst can optimize through,
  *  - per-field unit metadata (scida's pint mixin,
  *    src/scida/interfaces/mixins/units.py) carried in column
  *    Metadata so it survives projections and writes,
  *  - `info` introspection (interface.py:131) and dataframe
  *    flattening (fields.py:478 `get_dataframe`) that explodes
  *    array fields into `_0.._k` columns.
  *
  * Everything is lazy: a GraftDataset holds only plan + registry;
  * nothing executes until an action, mirroring scida's dask laziness
  * via Catalyst.
  */
final class GraftDataset private (
    val df: DataFrame,
    derived: Map[String, GraftDataset => Column],
    units: Map[String, String],
    resolvePrefix: String = "",
    val cosmology: Option[Cosmology] = None,
    val codeUnits: Option[CodeUnits] = None,
    val catalogs: Map[String, GraftDataset] = Map.empty) {

  private def sep = GraftDataset.NsSep

  /** Column name in the flat frame for a `/`-separated field path. */
  private def phys(path: String): String = path.replace("/", sep)

  /** Resolve a field: physical column, or derived expression
    * (recursively over other fields). In a container view,
    * `resolvePrefix` translates parent-absolute paths used inside
    * derived-field closures (e.g. "gas/rho" inside a "gas" container
    * resolves as "rho"). */
  def field(path0: String): Column = {
    val path =
      if (resolvePrefix.nonEmpty && path0.startsWith(resolvePrefix))
        path0.stripPrefix(resolvePrefix)
      else path0
    val p = phys(path)
    if (df.columns.contains(p)) col(p)
    else derived.get(path) match {
      case Some(f) => f(this).as(p)
      case None => throw new IllegalArgumentException(
        s"unknown field $path; have ${fieldNames.mkString(", ")}")
    }
  }

  /** All addressable fields: physical + derived, as `/` paths. */
  def fieldNames: Seq[String] =
    df.columns.map(_.replace(sep, "/")).toSeq ++ derived.keys

  /** Register a derived (virtual) field — scida fields.py:381. */
  def withDerived(path: String)(f: GraftDataset => Column): GraftDataset =
    new GraftDataset(df, derived + (path -> f), units, resolvePrefix, cosmology, codeUnits, catalogs)

  /** Rename-free alias — scida fields.py:531 (`add_alias`): the alias
    * resolves to the target field (physical or derived) with zero
    * copy; it's just another registry entry. */
  def withAlias(alias: String, target: String): GraftDataset =
    new GraftDataset(df, derived + (alias -> ((g: GraftDataset) => g.field(target))),
      units ++ units.get(target).map(alias -> _), resolvePrefix, cosmology,
      codeUnits, catalogs)

  /** Merge another dataset's fields (scida fields.py:224 merge).
    * scida merges containers that share an implicit row index; Spark
    * has no positional identity, so the row alignment must be an
    * explicit key — the honest distributed equivalent (an equi-join
    * on `on`, one shuffle, or none if both sides are co-partitioned).
    * Derived fields and units union, `other` winning name clashes. */
  def merge(other: GraftDataset, on: Seq[String]): GraftDataset =
    new GraftDataset(df.join(other.df, on),
      derived ++ other.fieldDerived, units ++ other.fieldUnits, resolvePrefix,
      cosmology.orElse(other.cosmology), codeUnits.orElse(other.codeUnits),
      catalogs ++ other.catalogs)

  private[model] def fieldDerived: Map[String, GraftDataset => Column] = derived
  private[model] def fieldUnits: Map[String, String] = units

  /** Attach a unit to a field — scida units mixin. */
  def withUnit(path: String, unit: String): GraftDataset =
    new GraftDataset(df, derived, units + (path -> unit), resolvePrefix, cosmology, codeUnits, catalogs)

  /** Attach cosmology metadata — scida CosmologyMixin (reference:
    * src/scida/interfaces/mixins/cosmology.py:16): per-snapshot
    * scalars (z, a, h, Ω) derived from header attrs, carried on the
    * dataset and surfaced in `info`. */
  def withCosmology(c: Cosmology): GraftDataset =
    new GraftDataset(df, derived, units, resolvePrefix, Some(c), codeUnits, catalogs)

  /** Attach the snapshot's own code-unit system (UnitLength_in_cm
    * family — scida units="code"/"cgs" modes); `codeQ` then enters a
    * raw code-unit field into the cgs unit algebra. */
  def withCodeUnits(cu: CodeUnits): GraftDataset =
    new GraftDataset(df, derived, units, resolvePrefix, cosmology, Some(cu), catalogs)

  /** Attach a catalog container — scida's auto-attached group catalog
    * (customs/arepo/dataset.py:125 load_catalog): a SEPARATE dataset
    * (its own row count — halos, not particles) hung off the snapshot
    * under its container name ("Group", "Subhalo"), so halo data is
    * just THERE after load, as in every reference tutorial's
    * `ds.data["Group"][...]`. Catalogs are dimension-scale (orders of
    * magnitude smaller than the snapshot) — the natural broadcast side
    * of any particle join. */
  def withCatalog(name: String, cat: GraftDataset): GraftDataset =
    new GraftDataset(df, derived, units, resolvePrefix, cosmology, codeUnits,
      catalogs + (name -> cat))

  /** The named catalog container ("Group", "Subhalo"), attached by
    * `Load.dataset`'s auto-discovery or `withCatalog`. */
  def catalog(name: String): GraftDataset =
    catalogs.getOrElse(name, throw new IllegalArgumentException(
      s"no catalog container '$name'" + (if (catalogs.isEmpty)
        " (no catalog attached — was the snapshot loaded with catalog=\"none\"," +
          " or is there no sibling catalog directory?)"
      else s"; have ${catalogs.keys.toSeq.sorted.mkString(", ")}")))

  /** A raw code-unit field as a cgs Quantity, converted by the FILE's
    * own unit system (one literal multiply; `.to(...)` from there). */
  def codeQ(path: String, length: Int = 0, mass: Int = 0,
      velocity: Int = 0, time: Int = 0): Quantity = {
    val cu = codeUnits.getOrElse(throw new IllegalArgumentException(
      "dataset has no code-unit system (no UnitLength_in_cm family attrs)"))
    cu.quantity(field(path), length, mass, velocity, time)
  }

  def unitOf(path: String): Option[String] = units.get(path)

  /** Fields with no recorded unit — scida missing_units
    * (units.py:604): the audit surface for "did unit discovery cover
    * everything". */
  def missingUnits: Seq[String] =
    fieldNames.filterNot(units.contains).sorted

  /** The field as a unit-carrying Quantity — fields with no recorded
    * unit enter the algebra as dimensionless, like pint's bare
    * magnitudes. */
  def q(path: String): Quantity =
    Quantity(field(path),
      units.get(path).map(Units.parse).getOrElse(Units.dimensionless))

  /** Register a derived field whose unit is COMPUTED by the quantity
    * algebra — scida derived fields return pint quantities, so
    * `rho = mass/vol` records Msun/kpc³ without the author spelling
    * it (units.py UnitMixin over fields.py:381). The unit is derived
    * once at registration (it depends only on operand units, not on
    * data); the column expression stays lazy per consumer. */
  def withDerivedQ(path: String)(f: GraftDataset => Quantity): GraftDataset = {
    val u = f(this).unit
    new GraftDataset(df, derived + (path -> ((g: GraftDataset) => f(g).col)),
      units + (path -> u.toString), resolvePrefix, cosmology, codeUnits, catalogs)
  }

  /** Unit-aware scaling: returns the field converted by `factor` with
    * the new unit recorded (pint's `.to()` for linear units). */
  def convert(path: String, toUnit: String, factor: Double): (Column, String) =
    (field(path) * lit(factor), toUnit)

  /** Registry-backed conversion (pint `.to()`): looks up the field's
    * recorded unit and the target in model.Units, validates the
    * dimensions match, and emits a single literal multiply. */
  def convertTo(path: String, toUnit: String): Column = {
    val from = units.getOrElse(path, throw new IllegalArgumentException(
      s"field $path has no recorded unit"))
    field(path) * lit(Units.factor(from, toUnit))
  }

  /** Sub-container view — scida's `ds['PartType0']`. Derived-field
    * closures registered on the parent keep working: they reference
    * parent-absolute paths ("gas/rho"), which the sub-dataset's
    * `resolvePrefix` maps into the container's local names. */
  def container(ns: String): GraftDataset = {
    val prefix = phys(ns) + sep
    val cols = df.columns.filter(_.startsWith(prefix))
    val sub = df.select(cols.map(c => col(c).as(c.stripPrefix(prefix))): _*)
    val subDerived = derived.collect {
      case (k, f) if k.startsWith(ns + "/") => k.stripPrefix(ns + "/") -> f
    }
    new GraftDataset(sub, subDerived, units.collect {
      case (k, u) if k.startsWith(ns + "/") => k.stripPrefix(ns + "/") -> u
    }, resolvePrefix = ns + "/", cosmology, codeUnits)
  }

  /** Materialize selected fields (physical and derived) as a plain
    * DataFrame, with unit metadata stamped into each column. */
  def select(paths: String*): DataFrame = {
    val cols = paths.map { p =>
      val c = field(p).as(phys(p), unitMeta(p))
      c
    }
    df.select(cols: _*)
  }

  private def unitMeta(path: String): Metadata =
    units.get(path)
      .map(u => new MetadataBuilder().putString("unit", u).build())
      .getOrElse(Metadata.empty)

  /** scida get_dataframe (fields.py:478): flatten array fields into
    * scalar `_0.._k` columns so the result is purely tabular. Every
    * array field must have an explicit width — silently guessing
    * would truncate wide arrays or null-pad narrow ones. */
  def flatten(arrayWidths: Map[String, Int] = Map.empty): DataFrame = {
    val cols = df.schema.fields.flatMap {
      case StructField(name, _: ArrayType, _, _) =>
        val path = name.replace(sep, "/")
        val width = arrayWidths.getOrElse(path, throw new IllegalArgumentException(
          s"flatten: array field '$path' needs an explicit width in arrayWidths"))
        (0 until width).map(i => element_at(col(name), i + 1).as(s"${name}_$i"))
      case StructField(name, _, _, _) => Seq(col(name))
    }
    df.select(cols.toSeq: _*)
  }

  /** Persist the dataset — scida save() (interface.py:273). Parquet
    * is the 100 TB at-rest format (Spark-native distributed write);
    * zarr mirrors scida's own save target via the executor-parallel
    * `ZarrWriter.save` (requires a contiguous 0-based row index
    * column, e.g. the `row_id` every graft ingestion source emits). */
  def save(path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def saveZarr(path: String, idCol: String, chunkRows: Int = 1 << 16): Unit =
    graft.sources.zarr.ZarrWriter.save(df, idCol, path, chunkRows)

  /** Recursive namespace-tree visitor — scida `walk_container`
    * (reference: src/scida/fields.py:777, exercised by
    * tests/unit/test_walk_container.py): depth-first over the
    * `/`-separated field hierarchy. `onField(path, parent)` fires for
    * each leaf field of a container (physical always; derived too
    * when `withDerived=true`, mirroring `withrecipes` — and like the
    * reference, visiting a derived entry never forces it: only the
    * registry key is touched, the Column closure stays lazy).
    * `onGroup(path, group)` fires for each sub-container (column
    * namespaces AND attached catalogs, which are scida's
    * `data["Group"]` containers) before descending into it. Paths are
    * `/`-prefixed and hierarchy-absolute, the reference's
    * `path + "/" + key` convention. Handlers default to no-ops
    * (test_walk_container.py::test_walk_no_handlers). */
  def walk(onField: (String, GraftDataset) => Unit = (_, _) => (),
      onGroup: (String, GraftDataset) => Unit = (_, _) => (),
      withDerived: Boolean = false, path: String = ""): Unit = {
    val physPaths = df.columns.map(_.replace(sep, "/")).toSeq
    val derPaths = if (withDerived) derived.keys.toSeq else Seq.empty
    val all = (physPaths ++ derPaths).distinct
    all.filterNot(_.contains("/"))
      .foreach(k => onField(path + "/" + k, this))
    val groups = all.filter(_.contains("/")).map(_.takeWhile(_ != '/')).distinct
    (groups ++ catalogs.keys.filterNot(groups.contains)).foreach { g =>
      val sub = catalogs.getOrElse(g, container(g))
      onGroup(path + "/" + g, sub)
      sub.walk(onField, onGroup, withDerived, path + "/" + g)
    }
  }

  /** Schema + units + derived-field report — scida info(). */
  def info: String = {
    val phys = df.schema.fields.map { f =>
      val u = units.get(f.name.replace(sep, "/")).map(u => s" [$u]").getOrElse("")
      s"  ${f.name.replace(sep, "/")}: ${f.dataType.simpleString}$u"
    }
    val der = derived.keys.toSeq.sorted.map(k => s"  $k: <derived>")
    val cats = catalogs.keys.toSeq.sorted.map(k => s"  catalog $k attached")
    (Seq(s"GraftDataset (${phys.length} physical, ${der.length} derived)") ++
      cosmology.toSeq.flatMap(_.infoLines) ++ cats ++ phys ++ der).mkString("\n")
  }
}

object GraftDataset {
  /** Separator embedding the field hierarchy into flat column names. */
  val NsSep = "__"

  def apply(df: DataFrame): GraftDataset =
    new GraftDataset(df, Map.empty, Map.empty, "")

  /** Rebuild a dataset from a frame whose columns carry stamped
    * "unit" metadata — the persistence round-trip: `select` stamps
    * units into column metadata, parquet preserves it, and this
    * re-attaches it on read (scida round-trips units through store
    * attrs the same way, interface.py:273 save + units mixin
    * re-attach). Columns without the stamp stay unitless. */
  def fromStamped(df: DataFrame): GraftDataset =
    df.schema.fields.foldLeft(apply(df)) { (g, f) =>
      if (f.metadata.contains("unit"))
        g.withUnit(f.name.replace(NsSep, "/"), f.metadata.getString("unit"))
      else g
    }
}
