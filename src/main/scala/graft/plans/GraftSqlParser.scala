package graft.plans

import graft.sources.ManifestTable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType, StructType, TimestampType}

/** SQL faces for table lifecycle management — the statements a
  * SQL-only Delta user runs that are not Spark grammar:
  *
  *   - `OPTIMIZE <table> [ZORDER BY (a, b)]` → [[ManifestTable.compact]]
  *   - `VACUUM <table> [RETAIN <n> HOURS] [DRY RUN]` →
  *     [[ManifestTable.vacuum]]
  *   - `DESCRIBE HISTORY <table>` → [[ManifestTable.history]]
  *   - `DESCRIBE DETAIL <table>` → [[ManifestTable.detail]]
  *   - `FSCK REPAIR TABLE <table> [DRY RUN]` → [[ManifestTable.repair]]
  *   - `RESTORE [TABLE] <table> TO VERSION AS OF n | TO TIMESTAMP AS OF
  *     '<ts>'` → [[ManifestTable.restore]]
  *   - `CREATE TABLE <tgt> SHALLOW CLONE <src> [VERSION AS OF n]` →
  *     [[ManifestTable.shallowClone]]
  *   - ``CONVERT TO DELTA parquet.`/path` [NO STATISTICS] [PARTITIONED
  *     BY (…)]`` → [[graft.sources.DeltaLake.convertToDelta]] (r19)
  *   - `CALL graft.system.add_files(table => …, source_dir => …)` →
  *     [[graft.sources.IcebergWriter.addFiles]] (r19)
  *
  * Implemented as a delegating [[ParserInterface]] injected via
  * `SparkSessionExtensions.injectParser` — the Delta pattern (its
  * DeltaSqlParser fronts the session parser the same way): the three
  * statement shapes are recognized here and everything else passes to
  * the stock parser untouched, so the extension can never change the
  * meaning of standard SQL.
  *
  * `<table>` spellings: `` graft.`/abs/path` `` (path table),
  * `graft.name` / `graft.ns.name` (warehouse table), or a quoted
  * `'/abs/path'` (Delta's `VACUUM '/path'` convention).
  *
  * `RETAIN n HOURS` maps to the vacuum retention AND the concurrency
  * age-guard (Delta semantics: retention IS the age threshold), so
  * `RETAIN 0 HOURS` reclaims immediately — single-writer/test use, the
  * same caveat Delta documents.
  */
final class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case OptimizeRe(tbl, zorder) =>
      val cols = Option(zorder).toSeq.flatMap(_.split(",").toSeq)
        .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)
      GraftOptimizeCommand(rootOf(tbl), cols)
    case VacuumRe(tbl, hours, dry) =>
      GraftVacuumCommand(rootOf(tbl),
        Option(hours).map(_.toLong * 3600000L), dryRun = dry != null)
    case HistoryRe(tbl) =>
      GraftDescribeHistoryCommand(rootOf(tbl))
    case DetailRe(tbl) =>
      GraftDescribeDetailCommand(rootOf(tbl))
    case FsckRe(tbl, dry) =>
      GraftFsckCommand(rootOf(tbl), dryRun = dry != null)
    case RestoreRe(tbl, version, ts) =>
      GraftRestoreCommand(rootOf(tbl), Option(version).map(_.toLong), Option(ts))
    case CloneRe(tgt, src, version) =>
      GraftCloneCommand(rootOf(src), rootOf(tgt), Option(version).map(_.toLong))
    case ConvertRe(dir, noStats, partCols) =>
      // Delta's own statement collects stats unless NO STATISTICS —
      // the SQL face mirrors the public semantics (the Scala API's
      // default stays opt-in)
      val cols = Option(partCols).toSeq.flatMap(_.split(",").toSeq)
        .map(_.trim.split("\\s+").head.stripPrefix("`").stripSuffix("`"))
        .filter(_.nonEmpty)
      GraftConvertToDeltaCommand(dir, cols, collectStats = noStats == null)
    case AddFilesRe(table, srcDir, collectStats) =>
      GraftAddFilesCommand(table, srcDir,
        collectStats = Option(collectStats).exists(_.equalsIgnoreCase("true")))
    case _ => delegate.parsePlan(sqlText)
  }

  // everything below is pure delegation
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
}

object GraftSqlParser {

  /** `graft.`-qualified identifier or a quoted path, captured whole. */
  private val Table = """(graft\.`[^`]+`|graft\.(?:\w+\.)*\w+|'[^']+')"""

  private val OptimizeRe =
    s"""(?is)\\s*OPTIMIZE\\s+$Table\\s*(?:ZORDER\\s+BY\\s*\\(([^)]+)\\))?\\s*;?\\s*""".r
  private val VacuumRe =
    s"""(?is)\\s*VACUUM\\s+$Table\\s*(?:RETAIN\\s+(\\d+)\\s+HOURS)?\\s*(DRY\\s+RUN)?\\s*;?\\s*""".r
  private val HistoryRe =
    s"""(?is)\\s*(?:DESC|DESCRIBE)\\s+HISTORY\\s+$Table\\s*;?\\s*""".r
  private val DetailRe =
    s"""(?is)\\s*(?:DESC|DESCRIBE)\\s+DETAIL\\s+$Table\\s*;?\\s*""".r
  private val FsckRe =
    s"""(?is)\\s*FSCK\\s+REPAIR\\s+TABLE\\s+$Table\\s*(DRY\\s+RUN)?\\s*;?\\s*""".r
  private val RestoreRe =
    (s"""(?is)\\s*RESTORE\\s+(?:TABLE\\s+)?$Table\\s+TO\\s+""" +
      s"""(?:VERSION\\s+AS\\s+OF\\s+(\\d+)|TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)')\\s*;?\\s*""").r
  private val CloneRe =
    s"""(?is)\\s*CREATE\\s+TABLE\\s+$Table\\s+SHALLOW\\s+CLONE\\s+$Table\\s*(?:VERSION\\s+AS\\s+OF\\s+(\\d+))?\\s*;?\\s*""".r
  private val ConvertRe =
    ("""(?is)\s*CONVERT\s+TO\s+DELTA\s+parquet\s*\.\s*`([^`]+)`""" +
      """\s*(NO\s+STATISTICS)?\s*(?:PARTITIONED\s+BY\s*\(([^)]+)\))?\s*;?\s*""").r
  private val AddFilesRe =
    ("""(?is)\s*CALL\s+graft\.system\.add_files\s*\(\s*table\s*=>\s*'([^']+)'\s*,""" +
      """\s*source_dir\s*=>\s*'([^']+)'\s*(?:,\s*collect_stats\s*=>\s*(\w+))?\s*\)\s*;?\s*""").r

  /** Resolve a captured table spelling to a manifest root, mirroring
    * [[graft.sources.GraftCatalog]]'s identifier rules. Shared with the
    * `table_changes` table-valued function. */
  private[plans] def rootOf(tbl: String): String = {
    val spark = SparkSession.active
    if (tbl.startsWith("'")) tbl.stripPrefix("'").stripSuffix("'")
    else {
      val rest = tbl.stripPrefix("graft.")
      if (rest.startsWith("`")) rest.stripPrefix("`").stripSuffix("`")
      else {
        val wh = spark.conf.getOption("spark.sql.catalog.graft.warehouse")
          .getOrElse(spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") + "/graft")
        (wh.stripSuffix("/") +: rest.split('.').toSeq).mkString("/")
      }
    }
  }
}

/** `OPTIMIZE` → [[ManifestTable.compact]] (clustered when ZORDER BY is
  * given); returns the committed version, Delta-style one-row result. */
final case class GraftOptimizeCommand(root: String, zorderBy: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = ManifestTable.compact(spark, root, zorderBy = zorderBy)
    Seq(Row(root, v))
  }
}

/** `VACUUM [RETAIN n HOURS] [DRY RUN]` → [[ManifestTable.vacuum]]. */
final case class GraftVacuumCommand(root: String, retentionMs: Option[Long], dryRun: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("files_deleted", IntegerType, nullable = false)(),
    AttributeReference("dry_run", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val n = ManifestTable.vacuum(spark, root,
      minAgeMs = retentionMs.getOrElse(600000L), dryRun = dryRun,
      retentionMs = retentionMs)
    Seq(Row(root, n, dryRun))
  }
}

/** `DESCRIBE HISTORY` → [[ManifestTable.history]]'s commit log rows —
  * or, for a path that is a foreign DELTA table (a `_delta_log`, no
  * manifest), the Delta log's own history ([[graft.sources.DeltaLake
  * .history]]), or for a foreign ICEBERG table the snapshot-log
  * ([[graft.sources.IcebergTable.history]], version = snapshot id) —
  * so lake inspection works across all three formats. */
final case class GraftDescribeHistoryCommand(root: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("timestamp", TimestampType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("data_change", BooleanType, nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val df =
      if (ManifestTable.currentVersion(spark, root).isDefined)
        ManifestTable.history(spark, root)
      else if (graft.sources.IcebergTable.isIcebergTable(spark, root))
        graft.sources.IcebergTable.history(spark, root)
      else graft.sources.DeltaLake.history(spark, root)
    df.collect().toSeq
  }
}

/** `RESTORE TABLE t TO VERSION AS OF n` / `TO TIMESTAMP AS OF '<ts>'`
  * → [[ManifestTable.restore]] (a NEW commit, linear history — Delta
  * semantics; a timestamp resolves to the version a reader then would
  * have seen, [[ManifestTable.versionAsOf]]). */
final case class GraftRestoreCommand(root: String, toVersion: Option[Long],
    toTimestamp: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("restored_version", LongType, nullable = false)(),
    AttributeReference("new_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val target = toVersion.getOrElse {
      val ts = toTimestamp.get
      val millis = scala.util.Try(ts.toLong)
        .getOrElse(java.sql.Timestamp.valueOf(ts).getTime)
      ManifestTable.versionAsOf(spark, root, millis)
    }
    val v = ManifestTable.restore(spark, root, target)
    Seq(Row(root, target, v))
  }
}

/** `DESCRIBE DETAIL t` — Delta's one-row table metadata command:
  * format, location, current version, file/byte counts, partition
  * layout, deletion-vector count, and table properties (JSON). */
final case class GraftDescribeDetailCommand(root: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("partition_columns", StringType, nullable = false)(),
    AttributeReference("num_deletion_vectors", LongType, nullable = false)(),
    AttributeReference("properties", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (v, nFiles, bytes, partitionBy, nDvs, props) = ManifestTable.detail(spark, root)
    val propsJson = props.toSeq.sortBy(_._1).map { case (k, value) =>
      def j(s: String) = org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(org.json4s.JString(s)))
      s"${j(k)}:${j(value)}"
    }.mkString("{", ",", "}")
    Seq(Row("graft", root, v, nFiles, bytes, partitionBy.mkString(","), nDvs, propsJson))
  }
}

/** `FSCK REPAIR TABLE t [DRY RUN]` → [[ManifestTable.repair]]: drop
  * manifest entries whose data files were deleted out-of-band. */
final case class GraftFsckCommand(root: String, dryRun: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("entries_removed", IntegerType, nullable = false)(),
    AttributeReference("dry_run", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(root, ManifestTable.repair(spark, root, dryRun), dryRun))
}

/** `CREATE TABLE tgt SHALLOW CLONE src [VERSION AS OF n]` →
  * [[ManifestTable.shallowClone]] (zero-copy, Delta's clone DDL). */
final case class GraftCloneCommand(srcRoot: String, dstRoot: String, version: Option[Long])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("source", StringType, nullable = false)(),
    AttributeReference("target", StringType, nullable = false)(),
    AttributeReference("cloned_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = ManifestTable.shallowClone(spark, srcRoot, dstRoot, version)
    Seq(Row(srcRoot, dstRoot, v))
  }
}

/** ``CONVERT TO DELTA parquet.`/path` [NO STATISTICS] [PARTITIONED BY
  * (col [type], …)]`` — Delta's public migration statement →
  * [[graft.sources.DeltaLake.convertToDelta]] (r19). Stats collect by
  * default, as Delta's own convert does; declared partition-column
  * TYPES are accepted and ignored (the published schema is the
  * directory inference — values parse from the `c=v` dirs either
  * way). Refusals (`_delta_log` already present, no parquet files,
  * unknown partition column) surface from the verb itself. */
final case class GraftConvertToDeltaCommand(dir: String, partitionCols: Seq[String],
    collectStats: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("files_converted", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val n = graft.sources.DeltaLake.convertToDelta(spark, dir, partitionCols, collectStats)
    Seq(Row(dir, n))
  }
}

/** `CALL graft.system.add_files(table => '<root>', source_dir =>
  * '<dir>'[, collect_stats => true])` — the procedure face of Iceberg's
  * `add_files` → [[graft.sources.IcebergWriter.addFiles]] (r19,
  * following Iceberg's CALL-procedure convention). The schema is the
  * engine's own inference over the source directory; hive partitioning
  * is DERIVED, not declared — partition columns are exactly the
  * inferred columns a sampled data file does not carry (one footer-
  * schema read), matching how Iceberg's procedure takes partitioning
  * from the layout. A directory mixing parquet AND ORC refuses loud
  * (one inference cannot govern two formats — register each format
  * with its own call). */
final case class GraftAddFilesCommand(table: String, sourceDir: String,
    collectStats: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("files_registered", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new HPath(sourceDir)
    val fs = root.getFileSystem(conf)
    val files = graft.sources.FooterStats
      .listDataFiles(fs, fs.makeQualified(root), Seq(".parquet", ".orc"))
      .map(_.getPath.toString).sorted
    require(files.nonEmpty, s"add_files: no parquet/orc files under $sourceDir")
    val exts = files.map(f => f.substring(f.lastIndexOf('.'))).distinct
    require(exts.size == 1,
      s"add_files: $sourceDir mixes data-file formats (${exts.sorted.mkString(",")}) — " +
        "schema inference cannot govern both; register each format with its own call")
    val fmt = if (exts.head == ".orc") "orc" else "parquet"
    val inferred = spark.read.format(fmt).load(sourceDir).schema
    val fileCols = spark.read.format(fmt).load(files.head).schema.fieldNames.toSet
    val partitionCols = inferred.fieldNames.toSeq.filterNot(fileCols.contains)
    graft.sources.IcebergWriter.addFiles(spark, table, inferred, files,
      partitionCols = partitionCols, collectStats = collectStats)
    Seq(Row(table, files.size.toLong))
  }
}
