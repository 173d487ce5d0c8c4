package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** `format("graft")` — the [[ManifestTable]] surfaced as a Spark data
  * source the way Delta Lake surfaces its log (the reference's storage
  * format, pipeline/airflow/dags/load_data_task.py:142,147):
  *
  *   - batch read: a [[GraftFileIndex]] under the stock parquet
  *     `FileFormat`, so `spark.read.format("graft").load(root)` gets
  *     manifest partition pruning + per-file-stats skipping for ANY
  *     pushed filter — `readWhere` semantics without asking for them —
  *     plus options `versionAsOf` / `timestampAsOf` (epoch millis or a
  *     `java.sql.Timestamp` literal) for time travel, and
  *     `readChangeFeed` + `startingVersion`/`endingVersion` for the
  *     row-level change feed (Delta's `table_changes` reader options);
  *   - batch write: save modes map onto manifest commits —
  *     `Append` → [[ManifestTable.append]] (layout from
  *     `.partitionBy(...)` when creating), `Overwrite` →
  *     [[ManifestTable.overwrite]] (redefines the layout wholesale, like
  *     the file sources), `ErrorIfExists`/`Ignore` gate on existence;
  *   - streaming read: [[GraftStreamSource]] — offsets ARE manifest
  *     versions, each micro-batch scans exactly the files newly
  *     committed since the last offset; with `readChangeFeed` the
  *     batches carry row-level change rows instead (initial snapshot as
  *     inserts, then each commit's captured/synthesized feed);
  *   - streaming write: [[GraftStreamSink]] — exactly-once appends keyed
  *     by (`appId` option, micro-batch id) through the table's txn
  *     ledger; `Complete` mode refreshes the whole table per trigger.
  */
final class GraftDataSource extends RelationProvider with CreatableRelationProvider
    with StreamSourceProvider with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.get("path").getOrElse(throw new IllegalArgumentException(
      """format("graft") needs a table root: .load(root) / .option("path", root) / .start(root)"""))

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    // `root@vN` pins a version in surfaces that take only a path — the
    // SQL-on-file read (SELECT … FROM graft.`/root@v3`), Delta's `@v`
    // path-suffix convention
    val (root, atVersion) = rootOf(parameters) match {
      case GraftDataSource.AtVersion(r, v) => (r, Some(v.toLong))
      case r => (r, None)
    }
    if (parameters.get("readChangeFeed").exists(_.toBoolean)) {
      require(atVersion.isEmpty,
        "readChangeFeed does not compose with an @v-pinned path — bound the feed " +
          "with startingVersion/endingVersion instead")
      return changeFeedRelation(spark, root, parameters)
    }
    val version = atVersion.orElse(parameters.get("versionAsOf").map(_.toLong)).orElse(
      parameters.get("timestampAsOf").map { ts =>
        val millis = scala.util.Try(ts.toLong)
          .getOrElse(java.sql.Timestamp.valueOf(ts).getTime)
        ManifestTable.versionAsOf(spark, root, millis)
      })
    GraftDataSource.relationFor(spark, ManifestTable.snapshot(spark, root, version), None)
  }

  /** `.option("readChangeFeed", "true")` — the batch face of
    * [[ManifestTable.readChangeFeed]], Delta's reader-option surface for
    * `table_changes`. `startingVersion` is required and INCLUSIVE (the
    * option contract Delta uses), `endingVersion` is inclusive and
    * defaults to the latest commit; graft numbers its first commit 1, so
    * `startingVersion = 0` and `1` both start at table creation. Time
    * travel options don't compose with the feed (`endingVersion` plays
    * that role). */
  private def changeFeedRelation(spark: SparkSession, root: String,
      parameters: Map[String, String]): BaseRelation = {
    require(!parameters.contains("versionAsOf") && !parameters.contains("timestampAsOf"),
      "readChangeFeed does not compose with versionAsOf/timestampAsOf — bound the feed " +
        "with startingVersion/endingVersion instead")
    val starting = parameters.get("startingVersion").map(_.toLong).getOrElse(
      throw new IllegalArgumentException(
        """readChangeFeed needs .option("startingVersion", v) (inclusive)"""))
    val ending = parameters.get("endingVersion").map(_.toLong)
      .orElse(ManifestTable.currentVersion(spark, root)).getOrElse(
        throw new IllegalStateException(s"no committed version at $root"))
    new FeedRelation(
      ManifestTable.readChangeFeed(spark, root, math.max(0L, starting - 1), ending))
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    // DataFrameWriter ships .partitionBy(...) to V1 providers JSON-encoded
    // under this key; accept a plain comma-separated option too
    val partitionBy = parameters.get(DataSourceUtils.PARTITIONING_COLUMNS_KEY)
      .map(DataSourceUtils.decodePartitioningColumns)
      .orElse(parameters.get("partitionBy")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
      .getOrElse(Nil)
    val exists = ManifestTable.currentVersion(spark, root).isDefined
    mode match {
      case SaveMode.Append => ManifestTable.append(spark, root, data, partitionBy)
      case SaveMode.Overwrite => ManifestTable.overwrite(spark, root, data, partitionBy)
      case SaveMode.ErrorIfExists if exists => throw new IllegalStateException(
        s"graft table at $root already exists (SaveMode.ErrorIfExists)")
      case SaveMode.ErrorIfExists => ManifestTable.append(spark, root, data, partitionBy)
      case SaveMode.Ignore => if (!exists) ManifestTable.append(spark, root, data, partitionBy)
    }
    createRelation(sqlContext, parameters)
  }

  private def wantsChangeFeed(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      """format("graft") derives the stream schema from the table's manifest; drop .schema(...)""")
    val root = rootOf(parameters)
    val base = ManifestTable.snapshot(sqlContext.sparkSession, root).schema
    val out =
      if (wantsChangeFeed(parameters)) StructType(base.fields ++ Seq(
        org.apache.spark.sql.types.StructField(ManifestTable.ChangeTypeCol,
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField(ManifestTable.CommitVersionCol,
          org.apache.spark.sql.types.LongType, nullable = false)))
      else base
    (s"graft[$root]", out)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val skip = parameters.get("skipChangeCommits").exists(_.toBoolean)
    require(!(skip && wantsChangeFeed(parameters)),
      "skipChangeCommits contradicts readChangeFeed — the feed EXISTS to carry " +
        "the changes that option skips")
    new GraftStreamSource(sqlContext.sparkSession, rootOf(parameters),
      parameters.get("maxVersionsPerTrigger").map(_.toLong), Some(metadataPath),
      changeFeed = wantsChangeFeed(parameters), skipChangeCommits = skip)
  }

  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append() || outputMode == OutputMode.Complete(),
      "the graft sink supports Append (exactly-once appends) and Complete (per-trigger table " +
        "refresh); for Update/upsert semantics use ManifestTable.exactlyOnceMergeWriter via " +
        "foreachBatch")
    new GraftStreamSink(sqlContext.sparkSession, rootOf(parameters),
      parameters.getOrElse("appId", "graft-stream-sink"), partitionColumns, outputMode)
  }
}

/** V1 relation serving an engine-built frame (the change feed: a bounded
  * union of per-commit scans plus literal feed columns — not a single
  * file index, so the HadoopFsRelation face doesn't fit). `needConversion
  * = false` hands the frame's InternalRow RDD straight to the planner,
  * the stock trick non-file V1 sources use to skip a Row round-trip. */
private[sources] final class FeedRelation(df: DataFrame) extends BaseRelation
    with org.apache.spark.sql.sources.TableScan {
  override val sqlContext: SQLContext = df.sparkSession.sqlContext
  override val schema: StructType = df.schema
  override def needConversion: Boolean = false
  override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
    df.queryExecution.toRdd.asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
}

private[graft] object GraftDataSource {
  /** `<root>@vN` — the version-pinned path spelling. */
  private[sources] val AtVersion = "(.*)@v(\\d+)$".r

  /** The batch relation both faces share, over ONE loaded snapshot (the
    * DV and mapping checks and the scanned files come from the same
    * version): a [[GraftFileIndex]] (optionally restricted to a file
    * subset) under the stock parquet format — or,
    * when the snapshot carries deletion vectors, a [[DvRelation]]: the
    * plain file-index scan would resurrect DV'd rows (it cannot express
    * the per-file `_metadata.row_index` anti-join), so the DV-aware
    * [[ManifestTable.readWhere]] path serves instead, with pushed filters
    * re-entering through `PrunedFilteredScan` so manifest partition
    * pruning and stats skipping still happen. A file SUBSET request (the
    * streaming source's per-batch reads) never includes DV'd files —
    * [[ManifestTable.addedRelsBetween]] fails loud on vector changes and
    * the snapshot batch routes through [[ManifestTable.read]] — enforced
    * here rather than assumed. */
  def relationFor(spark: SparkSession, state: ManifestTable.Snapshot,
      onlyRels: Option[Seq[String]],
      serveDvdSubsetPlain: Boolean = false): BaseRelation = {
    val root = state.root
    val dvs = state.dvs
    // a column-mapped snapshot's files spell columns physically — the
    // stock file-index scan cannot translate, so the mapped table serves
    // through the same ManifestTable-backed relation DVs use (full scans
    // keep pushdown via PrunedFilteredScan; streaming's file subsets read
    // the mapping-aware path directly)
    val mapped = state.schema.fields.exists(_.metadata.contains(ManifestTable.PhysNameKey))
    onlyRels match {
      case None if dvs.nonEmpty || mapped =>
        return new DvRelation(spark, state)
      case Some(rels) if mapped =>
        return new FeedRelation(ManifestTable.readListedSubset(spark, state, rels))
      case Some(rels) if !serveDvdSubsetPlain =>
        val dvd = rels.filter(dvs.contains)
        require(dvd.isEmpty,
          s"file-subset scan of $root includes ${dvd.size} deletion-vector'd file(s) — " +
            "this path cannot apply vectors; read through ManifestTable.read")
      case _ =>
    }
    val index = new GraftFileIndex(spark, state, onlyRels)
    HadoopFsRelation(index, index.partitionSchema, index.dataSchema, None,
      new ParquetFileFormat, Map.empty)(spark)
  }

  /** Translate a V1 pushed [[org.apache.spark.sql.sources.Filter]] back
    * to a `Column` where the shape allows (top-level attributes only —
    * a dotted name is a nested-field filter, skipped). Unhandled filters
    * cost nothing: Spark re-applies EVERY filter above a
    * `PrunedFilteredScan` whose `unhandledFilters` is the default. */
  private[sources] def filterColumn(
      f: org.apache.spark.sql.sources.Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.sources._
    def c(a: String): Option[org.apache.spark.sql.Column] =
      if (a.contains(".")) None else Some(col(s"`$a`"))
    f match {
      case EqualTo(a, v) => c(a).map(_ === lit(v))
      case EqualNullSafe(a, v) => c(a).map(_ <=> lit(v))
      case GreaterThan(a, v) => c(a).map(_ > lit(v))
      case GreaterThanOrEqual(a, v) => c(a).map(_ >= lit(v))
      case LessThan(a, v) => c(a).map(_ < lit(v))
      case LessThanOrEqual(a, v) => c(a).map(_ <= lit(v))
      case In(a, vs) => c(a).map(_.isin(vs.toIndexedSeq: _*))
      case IsNull(a) => c(a).map(_.isNull)
      case IsNotNull(a) => c(a).map(_.isNotNull)
      case And(l, r) => for (lc <- filterColumn(l); rc <- filterColumn(r)) yield lc && rc
      case Or(l, r) => for (lc <- filterColumn(l); rc <- filterColumn(r)) yield lc || rc
      case Not(x) => filterColumn(x).map(!_)
      case StringStartsWith(a, v) => c(a).map(_.startsWith(v))
      case StringEndsWith(a, v) => c(a).map(_.endsWith(v))
      case StringContains(a, v) => c(a).map(_.contains(v))
      case _ => None
    }
  }
}

/** Batch relation for a deletion-vector'd snapshot: each `buildScan`
  * re-plans through [[ManifestTable.readWhere]] with the pushed filters
  * recombined into one predicate, so the DV-aware read keeps manifest
  * partition pruning and per-file stats skipping; column pruning is a
  * narrow projection over the result. Spark re-applies all filters above
  * this scan (default `unhandledFilters`), so a filter this translation
  * skips costs I/O, never correctness. */
private[sources] final class DvRelation(spark: SparkSession, state: ManifestTable.Snapshot)
    extends BaseRelation with org.apache.spark.sql.sources.PrunedFilteredScan {
  private val root = state.root
  private val version = state.version
  override val sqlContext: SQLContext = spark.sqlContext
  override val schema: StructType = state.schema
  override def needConversion: Boolean = false
  override def buildScan(requiredColumns: Array[String],
      filters: Array[org.apache.spark.sql.sources.Filter])
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val pred = filters.flatMap(GraftDataSource.filterColumn)
      .reduceOption(_ && _)
    val base = pred match {
      case Some(p) => ManifestTable.readWhere(spark, root, p, version)
      case None => ManifestTable.read(spark, root, version)
    }
    val pruned = base.select(requiredColumns.toIndexedSeq.map(n => col(s"`$n`")): _*)
    pruned.queryExecution.toRdd
      .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
  }
}

/** Streaming face of a [[ManifestTable]]: offsets are manifest versions.
  * Batch `(a, b]` scans exactly the files commits `a+1..b` net-added
  * ([[ManifestTable.addedRelsBetween]] — the same file diff
  * [[ManifestTable.changesBetween]] folds), through the shared
  * [[GraftFileIndex]] scan path; the first batch is the full snapshot at
  * the stream's first observed version (Delta source semantics). A commit
  * that REMOVED files inside a batch range fails loud — an append-only
  * stream cannot represent it.
  *
  * `changeFeed = true` (`.option("readChangeFeed", "true")`) switches the
  * batches to row-level change rows: the first batch is the initial
  * snapshot as `insert`s at the snapshot version, each later batch is
  * [[ManifestTable.readChangeFeed]] over its version range — so unlike
  * the append-only face, a CDF stream represents deletes and updates
  * (captured minimally where the table records CDC, synthesized from the
  * file diff where it doesn't) instead of failing loud on them.
  *
  * `maxVersionsPerTrigger` paces a backlogged stream (Delta's
  * `maxFilesPerTrigger` analog at commit granularity): after the first
  * batch, each trigger admits at most that many manifest versions, so a
  * long-idle consumer catches up in bounded batches instead of one
  * giant one. The admission base survives restarts: each planned end is
  * persisted under the source's checkpoint `metadataPath` (the engine
  * only replays UNCOMMITTED batches through `getBatch`, so a restart
  * whose last batch committed would otherwise start with no base and
  * admit the entire backlog in one giant batch). */
final class GraftStreamSource(spark: SparkSession, root: String,
    maxVersionsPerTrigger: Option[Long] = None,
    metadataPath: Option[String] = None,
    changeFeed: Boolean = false,
    skipChangeCommits: Boolean = false) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private val tableSchema: StructType = ManifestTable.snapshot(spark, root).schema

  override val schema: StructType =
    if (changeFeed) StructType(tableSchema.fields ++ Seq(
      org.apache.spark.sql.types.StructField(ManifestTable.ChangeTypeCol,
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(ManifestTable.CommitVersionCol,
        org.apache.spark.sql.types.LongType, nullable = false)))
    else tableSchema

  /** `Trigger.AvailableNow` end bound, fixed UNCAPPED at prepare time:
    * the engine then polls [[latestOffset]] in rate-limited batches
    * until the stream reaches it and self-terminates — FileStreamSource's
    * contract. Implementing the mixin matters for a rate-limited source:
    * the engine's generic fallback (`AvailableNowSourceWrapper`) snapshots
    * ONE `getOffset` result as the run's end, which under
    * `maxVersionsPerTrigger` is a single capped step — the run would stop
    * after one batch with backlog still unread. */
  private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowTarget = ManifestTable.currentVersion(spark, root)
  }

  override def getDefaultReadLimit: org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  /** The admission-control face of [[getOffset]] (the engine uses this
    * one whenever the mixin is present, in every trigger mode); the
    * start offset and engine limit are unused — pacing state lives in
    * `lastPlanned` and the source's own option. */
  override def latestOffset(start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    nextOffset().map(LongOffset(_)).orNull

  private def baseFile: Option[Path] =
    metadataPath.map(m => new Path(s"${m.stripSuffix("/")}/graft-admission-base"))

  // the newest version already handed out as a batch end — the admission
  // base for rate limiting. Seeded from the persisted base on restart;
  // also rebuilt from any offsets the engine replays through getBatch.
  private var lastPlanned: Option[Long] = baseFile.flatMap { f =>
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    scala.util.Try {
      val in = fs.open(f)
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    }.toOption // absent or torn = no base (first start)
  }

  /** Record `v` as the newest planned batch end, durably when a
    * checkpoint dir exists (tmp + atomic rename; one tiny driver-side
    * write per trigger, the engine's own offset-log cost class). Only
    * needed for rate limiting — uncapped streams skip the write. */
  private def notePlanned(v: Long): Unit = {
    if (lastPlanned.exists(_ >= v)) return
    lastPlanned = Some(v)
    if (maxVersionsPerTrigger.isDefined) baseFile.foreach { f =>
      val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tmp = new Path(f.getParent, f.getName + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      fs.delete(f, false)
      fs.rename(tmp, f)
    }
  }

  private def nextOffset(): Option[Long] = {
    val cur0 = ManifestTable.currentVersion(spark, root)
    // an AvailableNow run never looks past its prepare-time snapshot —
    // commits racing the run land in the NEXT one
    val cur = availableNowTarget match {
      case Some(t) => cur0.map(math.min(_, t))
      case None => cur0
    }
    val capped = (cur, maxVersionsPerTrigger, lastPlanned) match {
      case (Some(c), Some(cap), Some(base)) => Some(math.min(c, base + cap))
      case (c, _, _) => c // first batch is the snapshot either way
    }
    capped.foreach(notePlanned)
    capped
  }

  override def getOffset: Option[Offset] = nextOffset().map(LongOffset(_))

  // after a restart the engine replays offsets from its log as serialized
  // json — LongOffset renders as the bare number either way
  private def versionOf(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endV = versionOf(end)
    notePlanned(endV)
    val startV = start.map(versionOf)
    val frame = (startV, changeFeed) match {
      case (Some(s), true) =>
        // per-commit change rows, captured or synthesized — the streaming
        // face of Delta's table_changes; a union of per-commit scans, so
        // it needs the explicit streaming re-tag
        GraftSqlBridge.streamingFrame(
          ManifestTable.readChangeFeed(spark, root, s, endV))
      case _ =>
        val state = ManifestTable.snapshot(spark, root, Some(endV))
        val df = startV match {
          case None if state.dvs.nonEmpty =>
            // initial snapshot of a deletion-vector'd table: the shared
            // file-index path cannot apply vectors — serve the DV-aware
            // read, streaming-tagged. Later batches never see DV'd files:
            // addedRelsBetween fails loud on any vector change in-range.
            GraftSqlBridge.streamingFrame(ManifestTable.read(spark, root, Some(endV)))
          case _ =>
            val rels = startV match {
              case None => state.files
              case Some(s) =>
                ManifestTable.addedRelsBetween(spark, root, s, endV, skipChangeCommits)
            }
            // under skipChangeCommits a served file may carry a LATER
            // vector from a commit the consumer opted out of — serve the
            // file as it was appended (Delta's option semantics), which
            // is exactly the unguarded plain scan
            val relation = GraftDataSource.relationFor(spark, state, Some(rels),
              serveDvdSubsetPlain = skipChangeCommits)
            GraftSqlBridge.ofRows(spark, LogicalRelation(relation, isStreaming = true))
        }
        if (changeFeed)
          // the stream's first batch is the initial snapshot: every current
          // row as an `insert` at the snapshot version (Delta CDF-stream
          // start semantics — history before the stream is not replayed)
          df.withColumn(ManifestTable.ChangeTypeCol, lit("insert"))
            .withColumn(ManifestTable.CommitVersionCol, lit(endV))
        else df
    }
    // the engine requires getBatch's frame to be streaming-tagged; the
    // file-source convention puts partition columns last, so project back
    // to the declared order to match sourceSchema
    frame.select(schema.fieldNames.toIndexedSeq.map(col): _*)
  }

  override def stop(): Unit = ()
}

/** Exactly-once streaming sink: each micro-batch lands through
  * [[ManifestTable.exactlyOnceAppend]] under (`appId`, batchId), so a
  * batch replayed after checkpoint recovery commits nothing twice — the
  * sink-side half of the reference's "handle duplicated events" item
  * (README:303), as a `writeStream.format("graft")` one-liner. `Complete`
  * mode maps to [[ManifestTable.exactlyOnceOverwrite]]: each trigger
  * replaces the table, the aggregate-refresh shape. */
final class GraftStreamSink(spark: SparkSession, root: String, appId: String,
    partitionBy: Seq[String], outputMode: OutputMode) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the incoming frame is bound to the engine's already-planned batch
    // execution and still streaming-tagged; re-wrap it as a batch frame
    // (the ForeachBatchSink pattern)
    val fresh = GraftSqlBridge.materializeBatch(data)
    if (outputMode == OutputMode.Complete())
      ManifestTable.exactlyOnceOverwrite(spark, root, fresh, appId, batchId, partitionBy)
    else
      ManifestTable.exactlyOnceAppend(spark, root, fresh, appId, batchId,
        partitionBy = partitionBy)
  }

  override def toString: String = s"GraftStreamSink[$root]"
}
