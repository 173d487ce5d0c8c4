package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{AlwaysTrue, Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** The SQL face of [[ManifestTable]]: a Spark `TableCatalog`, registered
  * as `spark.sql.catalog.graft = graft.sources.GraftCatalog` (the way
  * Delta Lake surfaces its tables to SQL through a catalog plugin —
  * `format("delta")`'s SQL twin, load_data_task.py:142-147's tables as
  * `SELECT`-able names). Two identifier spellings:
  *
  *   - PATH tables: `` graft.`/abs/path` `` — any identifier containing
  *     `/` is a table root, Delta's `` delta.`/path` `` convention;
  *     `@vN` pins a version (`` graft.`/abs/path@v3` ``);
  *   - WAREHOUSE tables: `graft.events` / `graft.ns.events` resolve to
  *     `<warehouse>/ns/events`, where `<warehouse>` comes from
  *     `spark.sql.catalog.graft.warehouse` (default:
  *     `<spark.sql.warehouse.dir>/graft`).
  *
  * `SELECT … VERSION AS OF v` / `TIMESTAMP AS OF t` route through the
  * two time-travel `loadTable` overloads (the timestamp must be a
  * LITERAL: a non-foldable expression defers resolution one analyzer
  * iteration, and Spark's `ResolveSQLOnFile` then intercepts the still
  * unresolved `graft.*` name — the catalog and the data source share
  * the `graft` prefix by design, like `` delta.`…` ``). Reads are served by the same
  * V1 relation as `format("graft")` — [[graft.plans.GraftTableResolution]]
  * swaps the analyzer's `DataSourceV2Relation` for it, so SQL reads get
  * manifest partition pruning + stats skipping identically to the
  * DataFrame face. Writes (`INSERT INTO` / `INSERT OVERWRITE` / CTAS) go
  * through the V1 write fallback onto [[ManifestTable.append]] /
  * [[ManifestTable.overwrite]] — every SQL mutation is an ACID manifest
  * commit with the same constraint/CDC behavior as the programmatic
  * verbs.
  *
  * DROP deletes managed (warehouse) tables' data; a PATH table is
  * external by construction, so `dropTable` refuses it (Delta's
  * external-table contract: dropping never deletes data it didn't
  * manage).
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = "graft"
  private var warehouseOpt: Option[String] = None

  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouseOpt = Option(options.get("warehouse"))
  }

  override def name(): String = catalogName

  private def warehouse: String =
    // conf read at use time (not captured at initialize) so a session can
    // point the warehouse elsewhere after the catalog is first touched
    spark.conf.getOption(s"spark.sql.catalog.$catalogName.warehouse")
      .orElse(warehouseOpt)
      .getOrElse(spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") + "/" + catalogName)

  private def isPath(ident: Identifier): Boolean =
    ident.namespace.isEmpty && ident.name.contains("/")

  /** (table root, @v-pinned version). */
  private def rootFor(ident: Identifier): (String, Option[Long]) = {
    val raw =
      if (isPath(ident)) ident.name
      else (warehouse.stripSuffix("/") +: (ident.namespace :+ ident.name).toSeq).mkString("/")
    raw match {
      case GraftDataSource.AtVersion(r, v) => (r, Some(v.toLong))
      case r => (r, None)
    }
  }

  /** A path holding a Delta transaction log (and no graft manifest)
    * resolves read-only through [[GraftDeltaTableV2]] — the reference's
    * existing silver lake answers `` SELECT … FROM graft.`/path` `` in
    * place, no conversion. */
  private def isDeltaTable(root: String): Boolean = {
    val p = new Path(s"${root.stripSuffix("/")}/_delta_log")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  override def tableExists(ident: Identifier): Boolean = {
    val root = rootFor(ident)._1
    ManifestTable.currentVersion(spark, root).isDefined || isDeltaTable(root) ||
      IcebergTable.isIcebergTable(spark, root)
  }

  override def loadTable(ident: Identifier): Table = {
    val (root, atV) = rootFor(ident)
    if (ManifestTable.currentVersion(spark, root).isDefined) GraftTableV2(catalogName, root, atV)
    else if (isDeltaTable(root)) GraftDeltaTableV2(catalogName, root, atV)
    else if (IcebergTable.isIcebergTable(spark, root))
      GraftIcebergTableV2(catalogName, root, atV)
    else throw new NoSuchTableException(ident)
  }

  /** `VERSION AS OF v` (engine-quoted; also accepts a `vN` spelling).
    * For an Iceberg path the version IS the snapshot id. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val (root, atV) = rootFor(ident)
    require(atV.isEmpty, s"$ident already pins a version via @v; drop VERSION AS OF")
    val v = Some(version.stripPrefix("v").toLong)
    if (ManifestTable.currentVersion(spark, root).isDefined) GraftTableV2(catalogName, root, v)
    else if (isDeltaTable(root)) GraftDeltaTableV2(catalogName, root, v)
    else if (IcebergTable.isIcebergTable(spark, root))
      GraftIcebergTableV2(catalogName, root, v)
    else throw new NoSuchTableException(ident)
  }

  /** `TIMESTAMP AS OF t` — Spark hands epoch MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val (root, atV) = rootFor(ident)
    require(atV.isEmpty, s"$ident already pins a version via @v; drop TIMESTAMP AS OF")
    if (ManifestTable.currentVersion(spark, root).isDefined)
      GraftTableV2(catalogName, root,
        Some(ManifestTable.versionAsOf(spark, root, timestamp / 1000L)))
    else if (isDeltaTable(root))
      GraftDeltaTableV2(catalogName, root,
        Some(DeltaLake.versionAsOfTimestamp(spark, root, timestamp / 1000L)))
    else if (IcebergTable.isIcebergTable(spark, root))
      GraftIcebergTableV2(catalogName, root, None, asOfTsMs = Some(timestamp / 1000L))
    else throw new NoSuchTableException(ident)
  }

  /** Generated/identity-column DDL opt-in: with these capabilities
    * Spark's CREATE TABLE accepts `GENERATED ALWAYS AS (expr)` and
    * `GENERATED ALWAYS AS IDENTITY [(START WITH s INCREMENT BY i)]`
    * columns and ships their definitions on the v2 column objects this
    * catalog reads back below. */
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private val GenerationExpressionKey =
    org.apache.spark.sql.catalyst.util.GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY

  /** The modern DDL entry point: v2 `Column`s carry each
    * `GENERATED ALWAYS AS` expression first-class — re-encode them as
    * field metadata and funnel into the StructType overload below (the
    * default bridge drops them). */
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    val schema = StructType(columns.map { c =>
      val base = org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable)
      Option(c.generationExpression()) match {
        case Some(e) => base.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .putString(GenerationExpressionKey, e).build())
        case None => base
      }
    })
    val t = createTable(ident, schema, partitions, properties)
    // identity specs and column defaults become graft.* properties the
    // write verbs honor
    val (root, _) = rootFor(ident)
    columns.foreach { c =>
      Option(c.identityColumnSpec()).foreach { s =>
        ManifestTable.setProperty(spark, root,
          s"${ManifestTable.IdentityPrefix}${c.name}",
          s"${s.getStart},${s.getStep},${s.isAllowExplicitInsert}")
      }
      Option(c.defaultValue()).foreach { d =>
        ManifestTable.setProperty(spark, root,
          s"${ManifestTable.DefaultPrefix}${c.name}", d.getSql)
      }
    }
    t
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    val (root, atV) = rootFor(ident)
    require(atV.isEmpty, s"cannot CREATE at a version-pinned identifier $ident")
    if (ManifestTable.currentVersion(spark, root).isDefined)
      throw new TableAlreadyExistsException(ident)
    val partitionBy = partitions.toSeq.map {
      case id if id.name == "identity" && id.references.length == 1 =>
        id.references.head.fieldNames.mkString(".")
      case other => throw new UnsupportedOperationException(
        s"graft tables support identity (hive-style) partitioning only, got $other")
    }
    // GENERATED ALWAYS AS (expr) columns arrive as field metadata →
    // stored as graft.generated.<col> properties (the write verbs
    // compute/validate them; readWhere derives partition pruning); the
    // metadata itself is transport, not table schema
    val generated = schema.fields.collect {
      case f if f.metadata.contains(GenerationExpressionKey) =>
        f.name -> f.metadata.getString(GenerationExpressionKey)
    }.toMap
    val storedSchema = StructType(schema.fields.map(f =>
      if (f.metadata.contains(GenerationExpressionKey))
        f.copy(metadata = org.apache.spark.sql.types.Metadata.empty)
      else f))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], storedSchema)
    ManifestTable.append(spark, root, empty, partitionBy)
    generated.foreach { case (c, e) =>
      ManifestTable.setProperty(spark, root, s"${ManifestTable.GeneratedPrefix}$c", e)
    }
    // user table properties become graft table properties (one commit
    // each — DDL-rare); reserved catalog keys stay catalog-side
    val reserved = Set(TableCatalog.PROP_LOCATION, TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_COMMENT,
      TableCatalog.PROP_TABLE_TYPE, TableCatalog.PROP_IS_MANAGED_LOCATION)
    properties.asScala.filterNot { case (k, _) => reserved(k) || k.startsWith("option.") }
      .foreach { case (k, v) => ManifestTable.setProperty(spark, root, k, v) }
    GraftTableV2(catalogName, root, None)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val (root, _) = rootFor(ident)
    def topLevel(what: String, fieldNames: Array[String]): String = {
      require(fieldNames.length == 1,
        s"$what on graft tables works on top-level columns only, " +
          s"got ${fieldNames.mkString(".")}")
      fieldNames.head
    }
    changes.foreach {
      case p: TableChange.SetProperty =>
        ManifestTable.setProperty(spark, root, p.property, p.value)
      case p: TableChange.RemoveProperty =>
        ManifestTable.unsetProperty(spark, root, p.property)
      case c: TableChange.RenameColumn =>
        ManifestTable.renameColumn(spark, root,
          topLevel("RENAME COLUMN", c.fieldNames), c.newName)
      case c: TableChange.DeleteColumn =>
        ManifestTable.dropColumn(spark, root, topLevel("DROP COLUMN", c.fieldNames))
      case c: TableChange.AddColumn =>
        require(c.position() == null,
          "ADD COLUMN … FIRST/AFTER is not supported on graft tables (columns append)")
        ManifestTable.addColumn(spark, root,
          topLevel("ADD COLUMN", c.fieldNames), c.dataType)
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change $other is not supported on graft tables; use the " +
          "ManifestTable verbs (mergeSchema on append/merge evolves the schema)")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    require(!isPath(ident),
      s"$ident is a PATH (external) table — DROP would delete data the catalog does not " +
        "manage; delete the directory itself if that is what you mean")
    val (root, _) = rootFor(ident)
    if (ManifestTable.currentVersion(spark, root).isEmpty) return false
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    require(!isPath(oldIdent) && !isPath(newIdent),
      "RENAME works on warehouse (managed) tables only")
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val (from, _) = rootFor(oldIdent)
    val (to, _) = rootFor(newIdent)
    val fs = new Path(from).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(to).getParent)
    if (!fs.rename(new Path(from), new Path(to)))
      throw new IllegalStateException(s"rename $from -> $to failed")
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((warehouse.stripSuffix("/") +: namespace.toSeq).mkString("/"))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) {
      if (namespace.isEmpty) return Array.empty
      throw new NoSuchNamespaceException(namespace)
    }
    fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .map(_.getPath)
      .filter(p => ManifestTable.currentVersion(spark, p.toString).isDefined)
      .map(p => Identifier.of(namespace, p.getName))
      .toArray
  }

  // -- namespaces: directories under the warehouse, existing implicitly --

  private def nsPath(namespace: Array[String]): Path =
    new Path((warehouse.stripSuffix("/") +: namespace.toSeq).mkString("/"))

  override def listNamespaces(): Array[Array[String]] = {
    val dir = nsPath(Array.empty)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Array.empty
    fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .map(_.getPath)
      .filterNot(p => ManifestTable.currentVersion(spark, p.toString).isDefined)
      .map(p => Array(p.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val p = nsPath(namespace)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    val p = nsPath(namespace)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!cascade && listTables(namespace).nonEmpty)
      throw new IllegalStateException(s"namespace ${namespace.mkString(".")} is not empty")
    val p = nsPath(namespace)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, cascade)
  }
}

/** The catalog's `Table` handle: schema/partitioning/properties come from
  * the manifest snapshot (optionally `@v`/AS-OF-pinned). Reads are NOT
  * served here — [[graft.plans.GraftTableResolution]] replaces the
  * relation with the V1 scan path (Delta's DeltaTableV2 conversion
  * pattern); writes use the V1 fallback (`V1_BATCH_WRITE`) onto the
  * manifest verbs, so `INSERT` commits exactly like the programmatic
  * API. */
final case class GraftTableV2(catalog: String, root: String, pinnedVersion: Option[Long])
    extends Table with SupportsWrite {

  private def spark: SparkSession = SparkSession.active

  // resolved once per analysis; a fresh query re-loads the table handle
  private[graft] lazy val state: ManifestTable.Snapshot =
    ManifestTable.snapshot(spark, root, pinnedVersion)

  override def name(): String =
    s"$catalog.`$root`" + pinnedVersion.map(v => s"@v$v").getOrElse("")

  /** Defaults surface as `CURRENT_DEFAULT`/`EXISTS_DEFAULT` field
    * metadata so `INSERT INTO t (subset…)` fills the rest analyzer-side
    * (Spark's ResolveDefaultColumns contract). */
  override def schema(): StructType = {
    // physical names are a storage detail — the catalog face shows the
    // logical schema only
    val logical = ManifestTable.stripMappingMeta(state.schema)
    val defs = ManifestTable.defaultExprs(state.properties)
    if (defs.isEmpty) logical
    else StructType(logical.fields.map { f =>
      defs.get(f.name) match {
        case Some(sql) => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
            .putString("CURRENT_DEFAULT", sql).putString("EXISTS_DEFAULT", sql).build())
        case None => f
      }
    })
  }

  override def partitioning(): Array[Transform] =
    state.layout.map(Expressions.identity).toArray

  override def properties(): java.util.Map[String, String] =
    (state.properties ++ Map(
      TableCatalog.PROP_PROVIDER -> "graft",
      TableCatalog.PROP_LOCATION -> root)).asJava

  override def version(): String = state.committed.toString

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"$name is version-pinned (time travel) — writes go to the live table")
    new GraftWriteBuilder(root, state.layout)
  }
}

/** A foreign DELTA table answered by the `graft` catalog, READ-ONLY:
  * schema/partitioning come from the Delta snapshot (optionally
  * version-pinned), and [[graft.plans.GraftTableResolution]] swaps reads
  * for the [[DeltaFileIndex]] scan (or [[DeltaLake.read]]'s plan when
  * the snapshot carries deletion vectors / column mapping). No
  * `SupportsWrite`: INSERT/DML against a foreign lake fail loud — graft
  * mutates its own format only. */
final case class GraftDeltaTableV2(catalog: String, root: String, pinnedVersion: Option[Long])
    extends Table {

  private def spark: SparkSession = SparkSession.active

  /** Lazy when the snapshot rests on a checkpoint (adds stay columnar
    * for the distributed prune); eager otherwise. Resolved once per
    * table handle. */
  private[graft] lazy val resolved: Either[DeltaLake.DeltaSnapshot, DeltaLake.LazySnapshot] =
    DeltaLake.lazySnapshot(spark, root, pinnedVersion)

  private[graft] lazy val snap: DeltaLake.DeltaSnapshot = resolved match {
    case Left(s) => s
    case Right(_) => DeltaLake.snapshot(spark, root, pinnedVersion)
  }

  override def name(): String =
    s"$catalog.`$root`" + pinnedVersion.map(v => s"@v$v").getOrElse("")

  override def schema(): StructType = resolved match {
    case Left(s) => DeltaLake.outputSchema(s)
    case Right(ls) => DeltaLake.outputSchemaOf(ls.schema)
  }

  override def partitioning(): Array[Transform] = {
    val cols = resolved match {
      case Left(s) => s.partitionColumns
      case Right(ls) => ls.partitionColumns
    }
    cols.map(Expressions.identity).toArray
  }

  override def properties(): java.util.Map[String, String] =
    Map(TableCatalog.PROP_PROVIDER -> "graft-delta",
      TableCatalog.PROP_LOCATION -> root).asJava

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
}

/** A foreign Apache ICEBERG table answered by the `graft` catalog —
  * `` SELECT … FROM graft.`/iceberg/path` `` resolves read-only;
  * `VERSION AS OF` pins a SNAPSHOT ID, `TIMESTAMP AS OF` travels the
  * snapshot-log. [[graft.plans.GraftTableResolution]] swaps reads for
  * [[IcebergTable.readSnapshot]]'s plan (the pruned
  * [[IcebergFileIndex]] scan, with v2 deletes composed when present).
  * No `SupportsWrite`: INSERT/DML against a foreign table fail loud —
  * graft mutates its own format only. */
final case class GraftIcebergTableV2(catalog: String, root: String,
    snapshotId: Option[Long], asOfTsMs: Option[Long] = None) extends Table {

  private def spark: SparkSession = SparkSession.active

  /** Manifests stay unread until the scan: metadata + manifest list +
    * the bounded delete manifests resolve here; data manifests parse ON
    * EXECUTORS when a scan lists files ([[IcebergTable.lazySnapshot]]).
    * Delete-carrying snapshots stay lazy too (r12): the composed read
    * applies equality deletes through the `__seq` scan column, so no
    * driver-side file grouping is needed. */
  private[graft] lazy val lazySnap: IcebergTable.LazyIcebergSnapshot =
    IcebergTable.lazySnapshot(spark, root, snapshotId, asOfTsMs)

  override def name(): String =
    s"$catalog.`$root`" + snapshotId.map(v => s"@v$v").getOrElse("")

  override def schema(): StructType =
    StructType(lazySnap.schema.fields.map(f =>
      org.apache.spark.sql.types.StructField(f.name, f.dataType, f.nullable)))

  override def partitioning(): Array[Transform] =
    lazySnap.partitionFields.filter(_.transform == "identity")
      .map(f => Expressions.identity(f.name)).toArray

  override def properties(): java.util.Map[String, String] =
    Map(TableCatalog.PROP_PROVIDER -> "graft-iceberg",
      TableCatalog.PROP_LOCATION -> root).asJava

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
}

/** `INSERT INTO` → append; `INSERT OVERWRITE` / truncate → single-commit
  * overwrite keeping the table's layout. Partition-scoped overwrite by
  * filter is intentionally not offered through SQL — `replaceWhere` is
  * the idempotent verb for that ([[ManifestTable.replaceWhere]]). */
private[sources] final class GraftWriteBuilder(root: String, layout: Seq[String])
    extends WriteBuilder with SupportsOverwrite {

  private var overwriteAll = false

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    require(filters.isEmpty || filters.forall(_.isInstanceOf[AlwaysTrue]),
      "graft SQL overwrite replaces the whole table; for a partition-scoped " +
        "idempotent overwrite use ManifestTable.replaceWhere")
    overwriteAll = true
    this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, overwrite: Boolean): Unit = {
        val spark = data.sparkSession
        if (overwriteAll || overwrite)
          ManifestTable.overwrite(spark, root, data, partitionBy = layout)
        else ManifestTable.append(spark, root, data)
      }
    }
  }
}
