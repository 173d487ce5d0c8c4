package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.json4s.{JArray, JBool, JDecimal, JDouble, JInt, JNothing, JNull, JObject, JString, JValue}

/** Read-only reader for Delta Lake tables — the storage format the
  * reference's silver layer actually uses
  * (pipeline/airflow/dags/load_data_task.py:142 writes `format("delta")`
  * to MinIO and :147 reads it back). A user migrating from the
  * reference can point graft at their existing lake in place: no
  * rewrite, no export.
  *
  * Implements the PUBLIC Delta transaction-log protocol
  * (delta.io PROTOCOL.md), JSON commits only:
  *
  *   - `_delta_log/<20-digit version>.json`, one JSON action per line:
  *     `protocol`, `metaData`, `add`, `remove`, `txn`, `commitInfo`;
  *   - snapshot at V = replay 0..V — last `metaData` wins, `add` and
  *     `remove` reconcile by file path (paths are URI-encoded in the
  *     log and decoded here);
  *   - `schemaString` is a Spark DataType JSON — parsed directly;
  *   - partition values come from each add's `partitionValues` map (the
  *     protocol forbids trusting directory names), so the scan attaches
  *     them as typed literals per partition group.
  *
  * Classic parquet checkpoints are read too (PROTOCOL.md §Checkpoints):
  * replay starts from the newest complete checkpoint at or before the
  * requested version — single-file `<v>.checkpoint.parquet` or
  * multi-part `<v>.checkpoint.<i>.<n>.parquet` with every part present —
  * and folds the JSON commits after it, so a log whose early JSON
  * history was cleaned up (Delta's metadata retention does this
  * routinely) still reads. Column mapping (mode `name`/`id`, protocol
  * §Column Mapping) is supported: parquet files store PHYSICAL names
  * (carried per field in `delta.columnMapping.physicalName` metadata,
  * nested fields included) and add `partitionValues` key by them; the
  * read translates back to the logical schema. Deletion vectors
  * (PROTOCOL.md §Deletion Vectors) are honored: each DV'd file's
  * deleted row indexes — Z85/UUID-referenced file, absolute-path, or
  * inline blobs, portable 64-bit roaring bitmaps, checksums verified —
  * are anti-joined out by parquet `_metadata.row_index`
  * ([[DeletionVectors]]). V2 checkpoints (PROTOCOL.md §V2: UUID-named,
  * `checkpointMetadata`-marked, adds inline and/or in sidecar parquet
  * files under `_delta_log/_sidecars/`) load like classic ones.
  * Remaining unsupported reader features fail loud rather than
  * mis-read.
  *
  * The write direction is [[mirror]]: publish a [[ManifestTable]]'s
  * current snapshot INTO a `_delta_log` beside its data (incremental —
  * each mirror appends one Delta commit with the add/remove diff), plus
  * [[writeCheckpoint]] for the checkpoint file external readers use to
  * skip history. Any Delta-protocol reader (the reference's Spark jobs,
  * DuckDB's delta extension, Trino) can then read graft tables in place.
  *
  * Scale: replay is manifest-scale (driver reads the small JSON log,
  * never data; the checkpoint parquet is read through Spark). The
  * partitioned scan unions one parquet read per DISTINCT partition tuple
  * in the snapshot — fine up to hundreds of partitions; for bigger lakes
  * pass `trustHiveLayout = true` (one basePath scan using the hive-style
  * directory names Delta's own writers always produce) or migrate once
  * into a [[ManifestTable]].
  */
object DeltaLake {

  /** A live data file: `path` decoded, relative to the table root
    * (absolute-URI adds are kept absolute), plus its log-declared
    * partition values (None = null) and, when the writer attached one,
    * its deletion vector (rows at those physical indexes are dead).
    * `size`/`modificationTime` (required by the protocol on every add)
    * let a scan synthesize [[org.apache.hadoop.fs.FileStatus]] straight
    * from the log — zero per-file RPCs on the pruned path. */
  final case class AddEntry(path: String, partitionValues: Map[String, Option[String]],
      dv: Option[DeletionVectors.Descriptor] = None,
      stats: Option[String] = None,
      size: Option[Long] = None,
      modificationTime: Option[Long] = None)

  /** Reconstructed table state at `version`. `columnMapping` = the table
    * has `delta.columnMapping.mode` name/id: the LOGICAL schema is
    * `schema` (field metadata carries each column's
    * `delta.columnMapping.physicalName`), while parquet files and add
    * `partitionValues` use physical names — [[read]] translates. */
  final case class DeltaSnapshot(version: Long, schema: StructType,
      partitionColumns: Seq[String], files: Seq[AddEntry],
      columnMapping: Boolean = false,
      readerFeatures: Set[String] = Set.empty,
      minReader: Long = 1L, minWriter: Long = 2L,
      writerFeatures: Set[String] = Set.empty,
      configuration: Map[String, String] = Map.empty)

  private val CommitName = """(\d{20})\.json""".r
  private val SingleCheckpointName = """(\d{20})\.checkpoint\.parquet""".r
  private val MultiCheckpointName = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
  /** V2 checkpoints are UUID-named single parquet files (PROTOCOL.md
    * §V2 Spec; the JSON flavor is not produced by Spark and fails loud
    * at load). */
  private val V2CheckpointName = """(\d{20})\.checkpoint\.([0-9a-fA-F-]{36})\.parquet""".r

  /** Protocol add/remove paths are percent-encoded relative paths OR
    * absolute URIs (external files, shallow clones). Only decode the
    * relative form; a scheme-qualified URI keeps its scheme and
    * authority so the read resolves it against ITS filesystem, not the
    * table root's. */
  private def decodePath(p: String): String =
    try {
      val u = new java.net.URI(p)
      if (u.getScheme != null) new Path(u).toString
      else Option(u.getPath).getOrElse(p)
    } catch { case _: java.net.URISyntaxException => p }

  /** One JSON `add` action (partition values + deletion vector). */
  private def addFromJson(a: JObject): AddEntry = {
    val dv = (a \ "deletionVector") match {
      case d: JObject =>
        val JString(st) = (d \ "storageType"): @unchecked
        val JString(ref) = (d \ "pathOrInlineDv"): @unchecked
        val off = (d \ "offset") match { case JInt(n) => Some(n.toLong); case _ => None }
        val JInt(sz) = (d \ "sizeInBytes"): @unchecked
        val JInt(card) = (d \ "cardinality"): @unchecked
        Some(DeletionVectors.Descriptor(st, ref, off, sz.toLong, card.toLong))
      case _ => None
    }
    val JString(rawPath) = (a \ "path"): @unchecked
    val pv = (a \ "partitionValues") match {
      case JObject(fields) => fields.map {
        case (k, JString(s)) => k -> Some(s)
        case (k, _) => k -> None
      }.toMap
      case _ => Map.empty[String, Option[String]]
    }
    val stats = (a \ "stats") match { case JString(s) => Some(s); case _ => None }
    val size = (a \ "size") match { case JInt(n) => Some(n.toLong); case _ => None }
    val mt = (a \ "modificationTime") match { case JInt(n) => Some(n.toLong); case _ => None }
    AddEntry(decodePath(rawPath), pv, dv, stats, size, mt)
  }

  /** Newest version present in the log — the streaming source's offset
    * probe. Listing-only: no replay, no data access. */
  private[sources] def latestVersion(spark: SparkSession, root: String): Option[Long] = {
    val logDir = new Path(s"${root.stripSuffix("/")}/_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(logDir)) return None
    val vs = fs.listStatus(logDir).toSeq.map(_.getPath.getName).flatMap {
      case CommitName(v) => Some(v.toLong)
      case SingleCheckpointName(v) => Some(v.toLong)
      case V2CheckpointName(v, _) => Some(v.toLong)
      case MultiCheckpointName(v, _, _) => Some(v.toLong)
      case _ => None
    }
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Per-commit (version, effective timestamp ms, parsed actions),
    * monotonized by running max. The effective timestamp is
    * `commitInfo.inCommitTimestamp` when the writer recorded one
    * (the `inCommitTimestamps` table feature — clock-skew-proof by
    * protocol) and the commit file's mtime otherwise, Delta's own
    * pre-ICT rule. Metadata-scale (JSON commits only). */
  private def commitTimeline(spark: SparkSession, root: String)
      : Seq[(Long, Long, Seq[JValue])] = {
    val logDir = new Path(s"${root.stripSuffix("/")}/_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(logDir), s"$root is not a Delta table: no _delta_log directory")
    val commits = fs.listStatus(logDir).toSeq
      .flatMap(s => s.getPath.getName match {
        case CommitName(v) => Some((v.toLong, s.getModificationTime))
        case _ => None
      }).sortBy(_._1)
    var runningMax = Long.MinValue
    commits.map { case (v, mtime) =>
      val actions = commitLines(fs, logDir, v).map(org.json4s.jackson.JsonMethods.parse(_))
      val ict = actions.collectFirst {
        case a if (a \ "commitInfo" \ "inCommitTimestamp") != JNothing =>
          (a \ "commitInfo" \ "inCommitTimestamp") match {
            case JInt(n) => Some(n.toLong)
            case org.json4s.JLong(n) => Some(n)
            case _ => None
          }
      }.flatten
      runningMax = math.max(runningMax, ict.getOrElse(mtime))
      (v, runningMax, actions)
    }
  }

  /** Resolve `TIMESTAMP AS OF` against a foreign Delta log: the newest
    * version whose effective commit timestamp (in-commit timestamps
    * honored, else monotonized mtimes) is at or before `tsMillis`;
    * loud before history. */
  def versionAsOfTimestamp(spark: SparkSession, root: String, tsMillis: Long): Long = {
    val timeline = commitTimeline(spark, root)
    val eligible = timeline.filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"no Delta commit of $root at or before timestamp $tsMillis " +
        s"(earliest is ${timeline.headOption.map(_._2).getOrElse(-1L)})")
    eligible.last._1
  }

  /** The Delta log's commit history, shaped like
    * [[ManifestTable.history]] (version, timestamp, operation,
    * data_change, n_files — newest first): operation from each commit's
    * `commitInfo`, timestamps from [[commitTimeline]] (in-commit
    * timestamps honored), n_files = add actions. Metadata-scale (JSON
    * log only). Checkpoint-cleaned versions are absent, as in Delta's
    * own DESCRIBE HISTORY. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val rows: Seq[Row] = commitTimeline(spark, root).map { case (v, t, actions) =>
      val op = actions.collectFirst {
        case a if (a \ "commitInfo" \ "operation").isInstanceOf[JString] =>
          (a \ "commitInfo" \ "operation").asInstanceOf[JString].s
      }.getOrElse("WRITE")
      def changed(kind: String): Boolean = actions.exists { a =>
        (a \ kind).isInstanceOf[JObject] &&
          ((a \ kind \ "dataChange") match { case JBool(b) => b; case _ => true })
      }
      val nAdds = actions.count(a => (a \ "add").isInstanceOf[JObject])
      Row(v, new java.sql.Timestamp(t), op,
        changed("add") || changed("remove"), nAdds.toLong)
    }.reverse
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, StructType(Seq(
      org.apache.spark.sql.types.StructField("version", org.apache.spark.sql.types.LongType, false),
      org.apache.spark.sql.types.StructField("timestamp", org.apache.spark.sql.types.TimestampType, false),
      org.apache.spark.sql.types.StructField("operation", org.apache.spark.sql.types.StringType, false),
      org.apache.spark.sql.types.StructField("data_change", org.apache.spark.sql.types.BooleanType, false),
      org.apache.spark.sql.types.StructField("n_files", org.apache.spark.sql.types.LongType, false))))
  }

  /** Change-data-feed read over a FOREIGN Delta lake — the read side of
    * Delta's `delta.enableChangeDataFeed`: each commit's `cdc` actions
    * name its change-data parquet files (`_change_data/…` — data
    * columns plus `_change_type`, update pre/postimages included), and
    * when a commit carries cdc actions they are the COMPLETE change
    * description for that commit (its add/remove actions describe the
    * same rows and must not double-count). Commits WITHOUT cdc actions
    * contribute synthesized `insert` rows from their `dataChange` adds
    * — the protocol lets pure appends skip change files — while a
    * commit that removed rows (remove actions, or a deletion-vector
    * attach) with no cdc trail fails loud: the feed cannot be
    * reconstructed, exactly Delta's own error posture.
    *
    * Output = full rows (partition values attached as typed literals
    * from each action's `partitionValues`) plus `_change_type`,
    * `_commit_version`, `_commit_timestamp` (in-commit timestamps
    * honored via [[commitTimeline]]). `startingVersion` inclusive;
    * `endingVersion` inclusive, defaulting to the latest commit. Plan
    * width is one scan per (commit × partition tuple × kind), bounded
    * by `spark.graft.changeFeed.maxUnionParts` like the graft feed —
    * page long histories instead. Column-mapped tables fail loud. */
  def readChangeFeed(spark: SparkSession, root: String, startingVersion: Long,
      endingVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val timeline = commitTimeline(spark, root)
    require(timeline.nonEmpty, s"$root has no Delta commits")
    val endV = endingVersion.getOrElse(timeline.last._1)
    val inRange = timeline.filter { case (v, _, _) => v >= startingVersion && v <= endV }
    require(inRange.nonEmpty,
      s"no Delta commits of $root in [$startingVersion, $endV]")
    require(inRange.head._1 == startingVersion,
      s"version $startingVersion of $root no longer exists (log cleaned?) — " +
        "the change feed cannot be reconstructed from a gap")
    val snap = snapshot(spark, root, Some(endV))
    require(!snap.columnMapping,
      s"change feed over the column-mapped Delta table at $root is not supported")
    val base = root.stripSuffix("/")
    def abs(p: String): String =
      if (p.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*") || p.startsWith("/")) p else s"$base/$p"
    val dataFields = snap.schema.fields.filterNot(f => snap.partitionColumns.contains(f.name))
    val cdcSchema = StructType(dataFields.toSeq :+
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType))
    val declared = snap.schema.fieldNames.toSeq :+ "_change_type"
    val partFields = snap.partitionColumns.map(c => snap.schema(c))
    def attachParts(df: DataFrame, tuple: Seq[Option[String]]): DataFrame =
      partFields.zip(tuple).foldLeft(df) { case (d, (pf, v)) =>
        d.withColumn(pf.name,
          v.map(s => lit(s).cast(pf.dataType)).getOrElse(lit(null).cast(pf.dataType)))
      }.select(declared.map(col): _*)
    val frames: Seq[DataFrame] = inRange.flatMap { case (v, ts, actions) =>
      def dataChanging(kind: String): Seq[JObject] = actions.flatMap { a =>
        (a \ kind) match {
          case o: JObject if ((o \ "dataChange") match {
            case JBool(b) => b; case _ => true
          }) => Some(o)
          case _ => None
        }
      }
      def tag(df: DataFrame): DataFrame = df
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp", lit(new java.sql.Timestamp(ts)))
      val cdcs = actions.flatMap { a =>
        (a \ "cdc") match {
          case c: JObject => Some(addFromJson(c))
          case _ => None
        }
      }
      if (cdcs.nonEmpty) {
        cdcs.groupBy(e => partFields.map(pf => e.partitionValues.getOrElse(pf.name, None)))
          .toSeq.map { case (tuple, files) =>
            tag(attachParts(
              spark.read.schema(cdcSchema).parquet(files.map(f => abs(f.path)): _*), tuple))
          }
      } else {
        val adds = dataChanging("add").map(addFromJson)
        require(dataChanging("remove").isEmpty && adds.forall(_.dv.isEmpty),
          s"commit $v of $root removed rows without change-data files — " +
            "delta.enableChangeDataFeed was off for that commit, so the feed " +
            "cannot be reconstructed; read versioned snapshots instead")
        if (adds.isEmpty) Nil
        else Seq(tag(readEntries(spark, root, snap, adds)
          .withColumn("_change_type", lit("insert"))
          .select(declared.map(col): _*)))
      }
    }
    val cap = spark.conf.getOption("spark.graft.changeFeed.maxUnionParts")
      .map(_.toInt).getOrElse(512)
    require(frames.size <= cap,
      s"change feed [$startingVersion, $endV] of $root needs ${frames.size} scans " +
        s"(> $cap) — page the range (spark.graft.changeFeed.maxUnionParts)")
    if (frames.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType((snap.schema.fields.toSeq :+
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType)) ++ Seq(
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.LongType, false),
          org.apache.spark.sql.types.StructField("_commit_timestamp",
            org.apache.spark.sql.types.TimestampType, false))))
    else frames.reduce(_ unionByName _)
  }

  /** Files the JSON commits `(from, to]` ADDED — the streaming batch
    * unit. Fails loud when a data-changing commit in the range removed
    * files or re-added a live path (a DV attach / rewrite): an
    * append-only stream cannot represent row removal — Delta's own
    * streaming source rejects those commits the same way. */
  private[sources] def addedBetween(spark: SparkSession, root: String,
      from: Long, to: Long): Seq[AddEntry] = {
    val logDir = new Path(s"${root.stripSuffix("/")}/_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Seq.newBuilder[AddEntry]
    ((from + 1) to to).foreach { v =>
      val actions = commitLines(fs, logDir, v).map(org.json4s.jackson.JsonMethods.parse(_))
      actions.foreach { action =>
        (action \ "remove") match {
          case r: JObject =>
            val dataChange = (r \ "dataChange") match { case JBool(b) => b; case _ => true }
            if (dataChange) throw new UnsupportedOperationException(
              s"Delta commit $v of $root removed data files — an append-only stream cannot " +
                "represent row removal; process that table change out-of-band and restart " +
                "the stream from a fresh checkpoint")
          case _ =>
        }
        (action \ "add") match {
          case a: JObject =>
            // dataChange=false adds are compaction rewrites of rows the
            // stream already served — skip them (Delta source semantics)
            val dataChange = (a \ "dataChange") match { case JBool(b) => b; case _ => true }
            if (dataChange) {
              val e = addFromJson(a)
              if (e.dv.isDefined) throw new UnsupportedOperationException(
                s"Delta commit $v of $root added a file carrying a deletion vector — an " +
                  "append-only stream cannot represent row removal")
              out += e
            }
          case _ =>
        }
      }
    }
    out.result()
  }

  /** Where one snapshot's state lives in the log: the target version,
    * the newest complete checkpoint whose JSON tail reaches it (name
    * list, ready for [[loadCheckpoint]]), and the commits to replay on
    * top. Fails loud on: missing log, a history neither checkpoint nor
    * contiguous JSON can reconstruct, unknown requested version. */
  private final case class LogLayout(logDir: Path, target: Long,
      checkpoint: Option[Seq[String]], replay: Seq[Long])

  private def logLayout(spark: SparkSession, root: String,
      versionAsOf: Option[Long]): LogLayout = {
    val logDir = new Path(s"${root.stripSuffix("/")}/_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(logDir), s"$root is not a Delta table: no _delta_log directory")
    val listed = fs.listStatus(logDir).toSeq.map(_.getPath.getName)
    val versions = listed.flatMap {
      case CommitName(v) => Some(v.toLong)
      case _ => None
    }.sorted
    // complete checkpoints only: a multi-part checkpoint missing a part
    // (interrupted writer) is invisible, exactly as the protocol demands
    val checkpoints: Map[Long, Seq[String]] = {
      val single = listed.collect { case n @ SingleCheckpointName(v) => v.toLong -> n }
        .groupBy(_._1).map { case (v, ns) => v -> ns.map(_._2).sorted }
      val multi = listed.collect { case n @ MultiCheckpointName(v, _, parts) =>
        (v.toLong, parts.toInt, n)
      }.groupBy(x => (x._1, x._2)).collect {
        case ((v, parts), ns) if ns.map(_._3).distinct.size == parts => v -> ns.map(_._3).sorted
      }
      val v2 = listed.collect { case n @ V2CheckpointName(v, _) => v.toLong -> n }
        .groupBy(_._1).map { case (v, ns) => v -> Seq(ns.map(_._2).max) } // any one is complete
      // same-version duplicates are equivalent state; prefer classic
      // single-file, then v2, then multi-part
      multi ++ v2 ++ single
    }
    require(versions.nonEmpty || checkpoints.nonEmpty,
      s"Delta log at $root contains no JSON commits or checkpoints")
    val latest = (versions ++ checkpoints.keys).max
    val target = versionAsOf.getOrElse(latest)
    require(versions.contains(target) || checkpoints.contains(target),
      s"version $target does not exist in the Delta log at $root (latest is $latest)")
    // newest checkpoint from which the JSON commits reach the target
    val cpChoice = checkpoints.keys.filter(_ <= target).toSeq.sortBy(-_).find { cpV =>
      ((cpV + 1) to target).forall(versions.contains)
    }
    val replay: Seq[Long] = cpChoice match {
      case Some(cpV) => ((cpV + 1) to target)
      case None =>
        require(versions.headOption.contains(0L) && (0L to target).forall(versions.contains),
          s"Delta log at $root cannot reconstruct version $target: the JSON history is " +
            "truncated or has gaps, and no complete checkpoint at or before it bridges them")
        0L to target
    }
    LogLayout(logDir, target, cpChoice.map(checkpoints), replay)
  }

  /** Mutable replay state, shared by [[snapshot]] (checkpoint adds
    * materialized) and [[lazySnapshot]] (checkpoint adds left columnar:
    * `touched` records which paths the JSON tail superseded). */
  private final class ReplayState {
    var schema: Option[StructType] = None
    var partitionColumns: Seq[String] = Nil
    var configuration: Map[String, String] = Map.empty
    var minReader = 1L
    var readerFeatures: Set[String] = Set.empty
    var minWriter = 2L
    var writerFeatures: Set[String] = Set.empty
    val live = scala.collection.mutable.LinkedHashMap.empty[String, AddEntry]
    val touched = scala.collection.mutable.Set.empty[String]
  }

  private def applyCommits(fs: org.apache.hadoop.fs.FileSystem, logDir: Path,
      vs: Seq[Long], st: ReplayState): Unit = vs.foreach { v =>
    // Per-commit two-phase apply: removes BEFORE adds. A commit that
    // attaches a DV to an existing file carries `remove(path, oldDv)` +
    // `add(path, newDv)` for the SAME path — the protocol reconciles on
    // (path, dvId), so within one commit the add must win regardless of
    // line order; path-keyed replay gets that right only removes-first.
    val actions = commitLines(fs, logDir, v)
      .map(org.json4s.jackson.JsonMethods.parse(_))
    val (removeActions, otherActions) =
      actions.partition(a => (a \ "remove").isInstanceOf[JObject])
    removeActions.foreach { action =>
      (action \ "remove") match {
        case r: JObject =>
          val JString(rawPath) = (r \ "path"): @unchecked
          val p = decodePath(rawPath)
          st.live.remove(p)
          st.touched += p
        case _ =>
      }
    }
    otherActions.foreach { action =>
      (action \ "add") match {
        case a: JObject =>
          val e = addFromJson(a)
          st.live(e.path) = e
          st.touched += e.path
        case _ =>
      }
      (action \ "metaData") match {
        case m: JObject =>
          val JString(schemaString) = (m \ "schemaString"): @unchecked
          st.schema = Some(DataType.fromJson(schemaString).asInstanceOf[StructType])
          st.partitionColumns = (m \ "partitionColumns") match {
            case JArray(xs) => xs.collect { case JString(c) => c }
            case _ => Nil
          }
          st.configuration = (m \ "configuration") match {
            case JObject(fields) => fields.collect { case (k, JString(s)) => k -> s }.toMap
            case _ => Map.empty
          }
        case _ =>
      }
      (action \ "protocol") match {
        case p: JObject =>
          st.minReader = (p \ "minReaderVersion") match { case JInt(n) => n.toLong; case _ => 1L }
          st.readerFeatures = (p \ "readerFeatures") match {
            case JArray(xs) => xs.collect { case JString(f) => f }.toSet
            case _ => Set.empty
          }
          st.minWriter = (p \ "minWriterVersion") match { case JInt(n) => n.toLong; case _ => 2L }
          st.writerFeatures = (p \ "writerFeatures") match {
            case JArray(xs) => xs.collect { case JString(f) => f }.toSet
            case _ => Set.empty
          }
        case _ =>
      }
    }
  }

  /** Protocol gate AFTER replay: the latest protocol action governs. */
  private def protocolGate(root: String, st: ReplayState): Unit = {
    val supportedFeatures = Set("timestampNtz", "v2Checkpoint", "vacuumProtocolCheck",
      "columnMapping", "deletionVectors")
    if (st.minReader >= 3) {
      val unsupported = st.readerFeatures -- supportedFeatures
      require(unsupported.isEmpty,
        s"Delta table at $root requires reader features ${unsupported.mkString(", ")} — unsupported")
    } else require(st.minReader <= 2,
      s"Delta table at $root requires minReaderVersion ${st.minReader} — unsupported")
  }

  private def isColumnMapped(configuration: Map[String, String]): Boolean =
    configuration.get("delta.columnMapping.mode").exists(m => m == "name" || m == "id")

  /** Replay the log into a snapshot at `versionAsOf` (default: latest):
    * the newest usable checkpoint at or before the target (if any), then
    * the JSON commits after it. Fails loud on: missing log, a history
    * neither checkpoint nor contiguous JSON can reconstruct, unknown
    * requested version, unsupported protocol. */
  def snapshot(spark: SparkSession, root: String,
      versionAsOf: Option[Long] = None): DeltaSnapshot = {
    val lay = logLayout(spark, root, versionAsOf)
    val fs = lay.logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = new ReplayState
    lay.checkpoint.foreach { names =>
      val cp = loadCheckpoint(spark, lay.logDir, names, root)
      st.schema = cp.schema
      st.partitionColumns = cp.partitionColumns
      st.configuration = cp.configuration
      st.minReader = cp.minReader
      st.readerFeatures = cp.readerFeatures
      st.minWriter = cp.minWriter
      st.writerFeatures = cp.writerFeatures
      cp.files.foreach(a => st.live(a.path) = a)
    }
    applyCommits(fs, lay.logDir, lay.replay, st)
    protocolGate(root, st)
    DeltaSnapshot(lay.target,
      st.schema.getOrElse(throw new IllegalStateException(
        s"Delta log at $root has no metaData action — corrupt log")),
      st.partitionColumns, st.live.values.toSeq,
      isColumnMapped(st.configuration), st.readerFeatures,
      st.minReader, st.minWriter, st.writerFeatures, st.configuration)
  }

  // ---------------------------------- lazy snapshots: checkpoint-resident adds

  /** A snapshot whose checkpoint add set stays IN the checkpoint
    * parquet (`addFrames`: groups of same-schema files — checkpoint
    * parts, then v2 sidecars) instead of being collected to the driver.
    * Only the JSON tail after the checkpoint is driver-materialized:
    * `tailLive` holds its net adds and `tailMasked` every path it
    * added or removed — both supersede whatever the checkpoint says
    * about the same path. Guaranteed free of deletion vectors and
    * column mapping (those snapshots fall back to the eager read). At a
    * million files this is the difference between an O(table) driver
    * heap and O(tail + survivors) — the same shape
    * [[ManifestTable.checkpointPrune]] proved on the native format. */
  final case class LazySnapshot(version: Long, schema: StructType,
      partitionColumns: Seq[String], configuration: Map[String, String],
      readerFeatures: Set[String], addFrames: Seq[Seq[String]],
      tailLive: Seq[AddEntry], tailMasked: Set[String],
      minReader: Long = 1L, minWriter: Long = 2L,
      writerFeatures: Set[String] = Set.empty)

  /** [[snapshot]]'s scale-path twin: `Right(lazy)` when the target
    * version rests on a parquet checkpoint and carries no deletion
    * vectors / column mapping — the checkpoint's adds stay columnar for
    * [[pruneCheckpointAdds]] to filter ON EXECUTORS; `Left(eager)`
    * otherwise (pure-JSON logs are already driver-bounded by the log
    * itself; DV'd or mapped snapshots need [[read]]'s composed plan). */
  def lazySnapshot(spark: SparkSession, root: String,
      versionAsOf: Option[Long] = None): Either[DeltaSnapshot, LazySnapshot] = {
    val lay = logLayout(spark, root, versionAsOf)
    lay.checkpoint match {
      case None => Left(snapshot(spark, root, versionAsOf))
      case Some(names) =>
        val ls = resolveCheckpointed(spark, root, lay, names)
        if (isColumnMapped(ls.configuration) || ls.tailLive.exists(_.dv.isDefined) ||
            checkpointHasDv(spark, ls))
          Left(snapshot(spark, root, versionAsOf))
        else Right(ls)
    }
  }

  /** The ONE checkpoint-rooted resolution (checkpoint metadata rows +
    * JSON-tail replay + protocol gate → [[LazySnapshot]]) shared by
    * [[lazySnapshot]], [[checkpointPayload]] and [[protocolPeek]] —
    * three near-copies of this block once drifted a protocol field. */
  private def resolveCheckpointed(spark: SparkSession, root: String,
      lay: LogLayout, names: Seq[String]): LazySnapshot = {
    val info = checkpointInfo(spark, lay.logDir, names, root)
    val fs = lay.logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = new ReplayState
    st.schema = info.meta.schema
    st.partitionColumns = info.meta.partitionColumns
    st.configuration = info.meta.configuration
    st.minReader = info.meta.minReader
    st.readerFeatures = info.meta.readerFeatures
    st.minWriter = info.meta.minWriter
    st.writerFeatures = info.meta.writerFeatures
    applyCommits(fs, lay.logDir, lay.replay, st)
    protocolGate(root, st)
    LazySnapshot(lay.target,
      st.schema.getOrElse(throw new IllegalStateException(
        s"Delta log at $root has no metaData action — corrupt log")),
      st.partitionColumns, st.configuration, st.readerFeatures,
      info.addFrames, st.live.values.toSeq, st.touched.toSet,
      st.minReader, st.minWriter, st.writerFeatures)
  }

  /** One normalized frame over a lazy snapshot's add rows — uniform
    * columns regardless of which optional add fields each frame group
    * carries: `rel` (raw log path), `pv`, `dv_*`, `stats_raw`, `sz`,
    * `mt`. Nothing is collected here; this is the scan
    * [[pruneCheckpointAdds]] filters. */
  private def addRowsFrame(spark: SparkSession, ls: LazySnapshot): DataFrame = {
    val groups = ls.addFrames.flatMap { group =>
      val df = spark.read.parquet(group: _*)
      if (!df.schema.fieldNames.contains("add")) None
      else {
        val addT = df.schema("add").dataType.asInstanceOf[StructType]
        def f(name: String, dt: DataType): Column =
          if (addT.fieldNames.contains(name)) col(s"add.$name").cast(dt)
          else lit(null).cast(dt)
        def dvf(name: String): Column =
          if (addT.fieldNames.contains("deletionVector") &&
              addT("deletionVector").dataType.asInstanceOf[StructType]
                .fieldNames.contains(name))
            col(s"add.deletionVector.$name")
          else lit(null)
        Some(df.filter(col("add").isNotNull).select(
          col("add.path").cast(StringType).as("rel"),
          f("partitionValues", MapType(StringType, StringType)).as("pv"),
          dvf("storageType").cast(StringType).as("dv_storage"),
          dvf("pathOrInlineDv").cast(StringType).as("dv_payload"),
          dvf("offset").cast(LongType).as("dv_offset"),
          dvf("sizeInBytes").cast(LongType).as("dv_size"),
          dvf("cardinality").cast(LongType).as("dv_card"),
          f("stats", StringType).as("stats_raw"),
          f("size", LongType).as("sz"),
          f("modificationTime", LongType).as("mt")))
      }
    }
    groups.reduceOption(_ unionByName _).getOrElse {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
        StructField("rel", StringType), StructField("pv", MapType(StringType, StringType)),
        StructField("dv_storage", StringType), StructField("dv_payload", StringType),
        StructField("dv_offset", LongType), StructField("dv_size", LongType),
        StructField("dv_card", LongType), StructField("stats_raw", StringType),
        StructField("sz", LongType), StructField("mt", LongType))))
    }
  }

  /** A session whose parquet split size matches the checkpoint: default
    * splitting would hand a whole sub-128MB checkpoint to ONE task, and
    * a million-add prune is exactly the scan that should use every
    * core. Cloned (shared SparkContext, fresh conf from the builder's
    * settings) so the override never leaks into user queries; the prune
    * only COLLECTS from frames of this session, never mixes them. */
  private def scanSession(spark: SparkSession, ls: LazySnapshot): SparkSession = {
    val conf = spark.sparkContext.hadoopConfiguration
    val totalBytes = ls.addFrames.flatten.map { p =>
      val hp = new Path(p)
      try hp.getFileSystem(conf).getFileStatus(hp).getLen catch { case _: Exception => 0L }
    }.sum
    val cores = math.max(1, spark.sparkContext.defaultParallelism)
    val target = math.max(1L << 20, math.min(128L << 20, totalBytes / cores))
    // newSession resets SQL confs to the SparkConf defaults, dropping
    // runtime-set confs; copy every runtime conf across before
    // overriding the split sizes, so the prune scan reads the checkpoint
    // as the user session would (static confs reject the set; they are
    // shared via the context).
    val s2 = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      try s2.conf.set(k, v) catch { case _: Exception => () }
    }
    s2.conf.set("spark.sql.files.maxPartitionBytes", target.toString)
    s2.conf.set("spark.sql.files.openCostInBytes", (1L << 20).toString)
    s2
  }

  /** Whether any checkpoint add carries a deletion vector — a
    * `LIMIT 1` probe with a pushed `IsNotNull`, not a full scan. */
  private def checkpointHasDv(spark: SparkSession, ls: LazySnapshot): Boolean =
    !addRowsFrame(spark, ls).filter(col("dv_storage").isNotNull).limit(1).isEmpty

  /** Delta's [[SkippingKernel]] adapter: one add as [[ColBounds]].
    *
    *   - data columns come from the `stats` JSON (PROTOCOL.md §Per-file
    *     Statistics), each scalar cast from its text to the declared
    *     type under the session zone; numbers parse as exact decimals, so
    *     no bound loses digits on the way. Writers render timestamps at
    *     millisecond precision, so a timestamp max is widened by 1 ms;
    *   - partition columns are exact: min = max = the add's partition
    *     value, and a null value makes every row null.
    *
    * Unparseable stats or values are unknown: the file may match. */
  private[graft] final class AddFacts(schema: StructType, partitionColumns: Seq[String],
      tz: String) extends Serializable {
    @transient private lazy val casts: Map[String, Expression] = schema.fields.map { f =>
      f.name -> Cast(BoundReference(0, StringType, true), f.dataType, Some(tz))
    }.toMap

    private def decode(c: String, s: String): Option[Any] =
      try casts.get(c).flatMap(cast => Option(cast.eval(InternalRow(UTF8String.fromString(s)))))
      catch { case scala.util.control.NonFatal(_) => None }

    private def widenMax(c: String, v: Any): Option[Any] = schema(c).dataType match {
      case org.apache.spark.sql.types.TimestampType | org.apache.spark.sql.types.TimestampNTZType =>
        val micros = v.asInstanceOf[Long]
        if (micros > Long.MaxValue - 1000L) None else Some(micros + 1000L)
      case _ => Some(v)
    }

    def apply(e: AddEntry): FileFacts = new FileFacts {
      private lazy val (rows, mins, maxs, nulls) = parseStats(e.stats)
      def bounds(c: String): ColBounds =
        if (partitionColumns.contains(c)) e.partitionValues.getOrElse(c, None) match {
          case None => ColBounds(None, None, rows, rows)
          case Some(v) =>
            val x = decode(c, v)
            ColBounds(x, x, Some(0L), rows)
        }
        else ColBounds(mins.get(c).flatMap(decode(c, _)),
          maxs.get(c).flatMap(decode(c, _)).flatMap(widenMax(c, _)), nulls.get(c), rows)
    }

    private def parseStats(raw: Option[String]): (Option[Long], Map[String, String],
        Map[String, String], Map[String, Long]) = {
      val none = (None, Map.empty[String, String], Map.empty[String, String],
        Map.empty[String, Long])
      raw.flatMap { r =>
        scala.util.Try {
          val j = org.json4s.jackson.JsonMethods.parse(r, useBigDecimalForDouble = true)
          def scalars(field: String): Map[String, String] = (j \ field) match {
            case JObject(fs) => fs.collect {
              case (k, JString(v)) => k -> v
              case (k, JInt(n)) => k -> n.toString
              case (k, JDecimal(d)) => k -> d.bigDecimal.toPlainString
              case (k, JDouble(d)) => k -> d.toString
              case (k, JBool(b)) => k -> b.toString
            }.toMap
            case _ => Map.empty
          }
          val nulls = (j \ "nullCount") match {
            case JObject(fs) => fs.collect { case (k, JInt(n)) => k -> n.toLong }.toMap
            case _ => Map.empty[String, Long]
          }
          val rows = (j \ "numRecords") match { case JInt(n) => Some(n.toLong); case _ => None }
          (rows, scalars("minValues"), scalars("maxValues"), nulls)
        }.toOption
      }.getOrElse(none)
    }
  }

  /** The add row [[addRowsFrame]] carries, as an [[AddEntry]]. */
  private def addEntryOf(r: Row): AddEntry = {
    val pv =
      if (r.isNullAt(1)) Map.empty[String, Option[String]]
      else r.getMap[String, String](1).toMap.map { case (k, v) => k -> Option(v) }
    val dv =
      if (r.isNullAt(2)) None
      else Some(DeletionVectors.Descriptor(r.getString(2), r.getString(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getLong(5), r.getLong(6)))
    AddEntry(decodePath(r.getString(0)), pv, dv,
      if (r.isNullAt(7)) None else Some(r.getString(7)),
      if (r.isNullAt(8)) None else Some(r.getLong(8)),
      if (r.isNullAt(9)) None else Some(r.getLong(9)))
  }

  /** DISTRIBUTED prune of a lazy snapshot's checkpoint adds — the
    * foreign-lake port of [[ManifestTable.checkpointPrune]]: executors
    * run the [[SkippingKernel]] for the resolved `filters` over
    * [[AddFacts]] of the checkpoint's own add rows; the driver collects
    * ONLY survivors. With no readable filter the full set comes back,
    * but WITHOUT the stats payload — the dominant per-add weight of an
    * eager load. Callers overlay `tailMasked`/`tailLive` on the
    * result. */
  private[graft] def pruneCheckpointAdds(spark: SparkSession, ls: LazySnapshot,
      filters: Seq[Expression]): Seq[AddEntry] = {
    val frame = addRowsFrame(scanSession(spark, ls), ls)
    val kernel = SkippingKernel(filters)
    val selected =
      if (!kernel.canPrune) frame.withColumn("stats_raw", lit(null).cast(StringType))
      else {
        val facts = new AddFacts(ls.schema, ls.partitionColumns,
          spark.sessionState.conf.sessionLocalTimeZone)
        frame.filter((r: Row) => kernel.mayMatch(facts(addEntryOf(r))))
      }
    selected.collect().toSeq.map(addEntryOf)
  }

  /** Total add bytes of a lazy snapshot — one distributed SUM over the
    * checkpoint rows plus the tail, never a file-list materialization.
    * Masked checkpoint paths are included (an upper bound: relation
    * size estimates only gate broadcast choices, where overcounting is
    * the safe direction). */
  private[graft] def lazySizeInBytes(spark: SparkSession, ls: LazySnapshot): Long = {
    val cpBytes = addRowsFrame(spark, ls)
      .agg(org.apache.spark.sql.functions.sum(col("sz"))).collect()(0) match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
    cpBytes + ls.tailLive.flatMap(_.size).sum
  }

  /** Snapshot read (optionally version-pinned — Delta's `versionAsOf`).
    *
    * `trustHiveLayout = true` reads partitioned tables in ONE basePath
    * scan, deriving partition values from the hive-style directory
    * names instead of the log's `partitionValues` — what Delta's own
    * writers always produce, and the right call beyond a few hundred
    * distinct partitions; the default follows the protocol exactly. */
  /** The field-metadata key column mapping stores physical names under. */
  private val PhysicalNameKey = "delta.columnMapping.physicalName"

  /** A field's name in the parquet files: logical unless the table runs
    * column mapping, where the protocol REQUIRES the physical name in
    * field metadata (fail loud on a mapped table missing it). */
  private def physName(mapped: Boolean, f: org.apache.spark.sql.types.StructField): String =
    if (!mapped) f.name
    else {
      require(f.metadata.contains(PhysicalNameKey),
        s"column mapping is enabled but field '${f.name}' carries no $PhysicalNameKey — corrupt metaData")
      f.metadata.getString(PhysicalNameKey)
    }

  /** The physical view of a type: every (nested) struct field renamed to
    * its physical name — what the parquet files actually store. */
  private def physType(mapped: Boolean, dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      org.apache.spark.sql.types.StructField(
        physName(mapped, f), physType(mapped, f.dataType), f.nullable, f.metadata)))
    case org.apache.spark.sql.types.ArrayType(et, n) =>
      org.apache.spark.sql.types.ArrayType(physType(mapped, et), n)
    case org.apache.spark.sql.types.MapType(k, v, n) =>
      org.apache.spark.sql.types.MapType(physType(mapped, k), physType(mapped, v), n)
    case o => o
  }

  /** The logical OUTPUT type: mapping metadata stripped (it is transport
    * detail, not user schema). */
  private def cleanType(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      org.apache.spark.sql.types.StructField(f.name, cleanType(f.dataType), f.nullable)))
    case org.apache.spark.sql.types.ArrayType(et, n) =>
      org.apache.spark.sql.types.ArrayType(cleanType(et), n)
    case org.apache.spark.sql.types.MapType(k, v, n) =>
      org.apache.spark.sql.types.MapType(cleanType(k), cleanType(v), n)
    case o => o
  }

  /** Scan a file group under one physical schema, honoring per-file
    * deletion vectors: DV-less files go through ONE multi-path scan
    * (pushdown/pruning untouched), and DV'd files go through ONE MORE,
    * filtered by [[graft.plans.DvDeadRow]] — a codegen'd
    * bitmap-membership predicate over `_metadata.file_name`/`row_index`
    * that compiles into the scan's own WholeStageCodegen stage. No join,
    * no shuffle, plan width O(1) regardless of how many files carry
    * DVs; the compact bitmaps broadcast and each task decodes only the
    * files it reads. Name collisions among DV'd files (not producible by
    * uuid-suffixed writers, but cheap to guard) fall back to per-file
    * scans rather than risk cross-applying a vector. */
  private def scanFiles(spark: SparkSession, physSchema: StructType,
      files: Seq[AddEntry], abs: String => String, root: String): DataFrame = {
    val (dvFiles, plain) = files.partition(_.dv.isDefined)
    val plainScan =
      if (plain.isEmpty) Nil
      else Seq(spark.read.schema(physSchema).parquet(plain.map(f => abs(f.path)): _*))
    def baseName(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    val names = dvFiles.map(f => baseName(abs(f.path)))
    val dvScans =
      if (dvFiles.isEmpty) Nil
      else if (names.distinct.size == names.size) {
        val blobs: Map[String, Array[Byte]] = dvFiles.map { f =>
          baseName(abs(f.path)) -> DeletionVectors.loadBlob(spark, root, f.dv.get)
        }.toMap
        Seq(spark.read.schema(physSchema).parquet(dvFiles.map(f => abs(f.path)): _*)
          .filter(graft.plans.DvDeadRow.liveFilter(spark, blobs)))
      } else dvFiles.map { f =>
        val deleted = DeletionVectors.positionsDataset(spark,
          DeletionVectors.loadBlob(spark, root, f.dv.get))
        spark.read.schema(physSchema).parquet(abs(f.path))
          .withColumn("__graft_pos", col("_metadata.row_index"))
          .join(deleted, col("__graft_pos") === col("__graft_del_pos"), "left_anti")
          .drop("__graft_pos")
      }
    (plainScan ++ dvScans).reduce(_ unionByName _)
  }

  def read(spark: SparkSession, root: String, versionAsOf: Option[Long] = None,
      trustHiveLayout: Boolean = false): DataFrame = {
    val snap = snapshot(spark, root, versionAsOf)
    readEntries(spark, root, snap, snap.files, trustHiveLayout)
  }

  /** The table's declared logical output schema (mapping metadata
    * stripped) — what [[read]] frames carry. */
  private[graft] def outputSchema(snap: DeltaSnapshot): StructType =
    outputSchemaOf(snap.schema)

  private[graft] def outputSchemaOf(schema: StructType): StructType =
    StructType(schema.fields.map(f =>
      org.apache.spark.sql.types.StructField(f.name, cleanType(f.dataType), f.nullable)))

  /** Scan an arbitrary subset of a snapshot's files under its schema /
    * layout / mapping — [[read]] passes the full live set; the streaming
    * source passes each batch's net-added files. */
  private[graft] def readEntries(spark: SparkSession, root: String, snap: DeltaSnapshot,
      entries: Seq[AddEntry], trustHiveLayout: Boolean = false): DataFrame = {
    val base = root.stripSuffix("/")
    val mapped = snap.columnMapping
    def abs(p: String): String = // Path normalizes file:///x to file:/x
      if (p.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*") || p.startsWith("/")) p else s"$base/$p"
    val logicalOut = StructType(snap.schema.fields.map(f =>
      org.apache.spark.sql.types.StructField(f.name, cleanType(f.dataType), f.nullable)))
    if (entries.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], logicalOut)
    // physical → logical projection for fields read from parquet: alias
    // back to the logical name, and for nested types CAST to the cleaned
    // logical type (struct casts are positional, so the cast renames the
    // inner fields the files stored physically)
    def unmap(f: org.apache.spark.sql.types.StructField): org.apache.spark.sql.Column =
      col(physName(mapped, f)).cast(cleanType(f.dataType)).as(f.name)
    if (snap.partitionColumns.isEmpty)
      return scanFiles(spark, physType(mapped, snap.schema).asInstanceOf[StructType],
          entries, abs, base)
        .select(snap.schema.fields.map(unmap).toIndexedSeq: _*)
    require(!(trustHiveLayout && mapped),
      s"trustHiveLayout reads partition values from directory names, which a column-mapped " +
        "table renders with physical names — use the protocol-correct default path")
    val declared = snap.schema.fieldNames.toIndexedSeq
    if (trustHiveLayout) {
      require(entries.forall(_.dv.isEmpty),
        s"trustHiveLayout's single basePath scan cannot honor per-file deletion vectors — " +
          "use the protocol-correct default path")
      return spark.read.schema(snap.schema).option("basePath", base)
        .parquet(entries.map(f => abs(f.path)): _*)
        .select(declared.map(col): _*)
    }
    // protocol-correct: one scan per distinct partition tuple, values
    // attached as typed literals from the log (never from dir names).
    // Mapped tables key an add's partitionValues by PHYSICAL name.
    val dataFields = snap.schema.fields.filterNot(f => snap.partitionColumns.contains(f.name))
    val dataSchema = StructType(dataFields.map(f =>
      org.apache.spark.sql.types.StructField(
        physName(mapped, f), physType(mapped, f.dataType), f.nullable)))
    val partFields = snap.partitionColumns.map(c => snap.schema(c))
    val groups = entries.groupBy(f =>
      partFields.map(pf => f.partitionValues.getOrElse(physName(mapped, pf), None)))
    groups.toSeq.map { case (tuple, files) =>
      val part = scanFiles(spark, dataSchema, files, abs, base)
        .select(dataFields.map(unmap).toIndexedSeq: _*)
      val withParts = partFields.zip(tuple).foldLeft(part) {
        case (d, (pf, v)) =>
          val t = cleanType(pf.dataType)
          d.withColumn(pf.name, v.map(s => lit(s).cast(t)).getOrElse(lit(null).cast(t)))
      }
      withParts.select(declared.map(col): _*)
    }.reduce(_ unionByName _)
  }

  /** What a classic parquet checkpoint contributes to replay. */
  private final case class CheckpointState(schema: Option[StructType],
      partitionColumns: Seq[String], configuration: Map[String, String],
      minReader: Long, readerFeatures: Set[String], files: Seq[AddEntry],
      minWriter: Long = 2L, writerFeatures: Set[String] = Set.empty)

  /** The `add` entries of one checkpoint-shaped action frame (a classic
    * checkpoint, a v2 checkpoint's own rows, or a sidecar file) —
    * partition values and deletion vectors included. */
  private def addsOf(df: DataFrame): Seq[AddEntry] = {
    val hasAdd = df.schema.fieldNames.contains("add")
    if (!hasAdd) return Nil
    val addFields = df.schema("add").dataType.asInstanceOf[StructType].fieldNames.toSet
    val hasDv = addFields.contains("deletionVector")
    val hasStats = addFields.contains("stats")
    val hasSize = addFields.contains("size")
    val hasMt = addFields.contains("modificationTime")
    val cols = Seq(col("add.path"), col("add.partitionValues")) ++
      (if (hasDv) Seq(col("add.deletionVector")) else Nil) ++
      (if (hasStats) Seq(col("add.stats")) else Nil) ++
      (if (hasSize) Seq(col("add.size")) else Nil) ++
      (if (hasMt) Seq(col("add.modificationTime")) else Nil)
    df.filter(col("add").isNotNull).select(cols: _*).collect().toSeq.map { r =>
      val pv =
        if (r.isNullAt(1)) Map.empty[String, Option[String]]
        else r.getMap[String, String](1).toMap.map { case (k, v) => k -> Option(v) }
      val dv =
        if (!hasDv || r.isNullAt(2)) None
        else {
          val d = r.getStruct(2)
          def get[T](n: String): Option[T] = {
            val i = d.schema.fieldNames.indexOf(n)
            if (i < 0 || d.isNullAt(i)) None else Some(d.get(i).asInstanceOf[T])
          }
          Some(DeletionVectors.Descriptor(
            get[String]("storageType").get, get[String]("pathOrInlineDv").get,
            get[Number]("offset").map(_.longValue),
            get[Number]("sizeInBytes").map(_.longValue).get,
            get[Number]("cardinality").map(_.longValue).get))
        }
      val statsIdx = 2 + (if (hasDv) 1 else 0)
      val stats =
        if (!hasStats || r.isNullAt(statsIdx)) None else Some(r.getString(statsIdx))
      val sizeIdx = statsIdx + (if (hasStats) 1 else 0)
      val size =
        if (!hasSize || r.isNullAt(sizeIdx)) None
        else Some(r.get(sizeIdx).asInstanceOf[Number].longValue)
      val mtIdx = sizeIdx + (if (hasSize) 1 else 0)
      val mt =
        if (!hasMt || r.isNullAt(mtIdx)) None
        else Some(r.get(mtIdx).asInstanceOf[Number].longValue)
      AddEntry(decodePath(r.getString(0)), pv, dv, stats, size, mt)
    }
  }

  /** One checkpoint's metadata plus WHERE its add rows live — groups of
    * same-schema parquet files (the checkpoint's own parts; a v2
    * checkpoint's sidecars as a second group). [[loadCheckpoint]]
    * materializes the groups; [[lazySnapshot]] leaves them columnar for
    * the distributed prune. */
  private final case class CheckpointInfo(meta: CheckpointState,
      addFrames: Seq[Seq[String]])

  /** Checkpoint metadata + add-frame locations WITHOUT collecting the
    * add set: classic (single- or multi-part parquet) or V2
    * (PROTOCOL.md §V2 Checkpoints — a `checkpointMetadata`-marked file
    * whose adds may live inline AND in `sidecar`-referenced parquet
    * files under `_delta_log/_sidecars/`). `remove` rows are vacuum
    * tombstones, not state — ignored. The driver reads only the
    * bounded metaData/protocol/sidecar rows. */
  private def checkpointInfo(spark: SparkSession, logDir: Path, names: Seq[String],
      root: String): CheckpointInfo = {
    val partPaths = names.map(n => new Path(logDir, n).toString)
    val cp = spark.read.parquet(partPaths: _*)
    val top = cp.schema.fieldNames.toSet
    def structHas(parent: String, child: String): Boolean =
      top.contains(parent) && cp.schema(parent).dataType.asInstanceOf[StructType]
        .fieldNames.contains(child)
    val isV2 = top.contains("checkpointMetadata") &&
      cp.filter(col("checkpointMetadata").isNotNull).limit(1).count() > 0
    val sidecarPaths: Seq[String] =
      if (!isV2 || !top.contains("sidecar")) Nil
      else {
        val paths = cp.filter(col("sidecar").isNotNull)
          .select(col("sidecar.path")).collect().toSeq.map(_.getString(0))
        paths.map { raw =>
          val p = decodePath(raw)
          val resolved =
            if (p.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*") || p.startsWith("/")) new Path(p)
            else new Path(new Path(logDir, "_sidecars"), p)
          resolved.toString
        }
      }

    var minReader = 1L
    var readerFeatures = Set.empty[String]
    var minWriter = 2L
    var writerFeatures = Set.empty[String]
    if (top.contains("protocol")) {
      val cols = Seq(col("protocol.minReaderVersion")) ++
        (if (structHas("protocol", "readerFeatures")) Seq(col("protocol.readerFeatures")) else Nil) ++
        (if (structHas("protocol", "minWriterVersion")) Seq(col("protocol.minWriterVersion")) else Nil) ++
        (if (structHas("protocol", "writerFeatures")) Seq(col("protocol.writerFeatures")) else Nil)
      cp.filter(col("protocol").isNotNull).select(cols: _*).collect().lastOption.foreach { r =>
        val byName = r.schema.fieldNames.zipWithIndex.toMap
        if (!r.isNullAt(0)) minReader = r.get(0).asInstanceOf[Number].longValue
        byName.get("readerFeatures").filterNot(r.isNullAt)
          .foreach(i => readerFeatures = r.getSeq[String](i).toSet)
        byName.get("minWriterVersion").filterNot(r.isNullAt)
          .foreach(i => minWriter = r.get(i).asInstanceOf[Number].longValue)
        byName.get("writerFeatures").filterNot(r.isNullAt)
          .foreach(i => writerFeatures = r.getSeq[String](i).toSet)
      }
    }

    var schema: Option[StructType] = None
    var partitionColumns: Seq[String] = Nil
    var configuration = Map.empty[String, String]
    if (top.contains("metaData")) {
      val cols = Seq(col("metaData.schemaString"), col("metaData.partitionColumns")) ++
        (if (structHas("metaData", "configuration")) Seq(col("metaData.configuration")) else Nil)
      cp.filter(col("metaData").isNotNull).select(cols: _*).collect().lastOption.foreach { r =>
        if (!r.isNullAt(0))
          schema = Some(DataType.fromJson(r.getString(0)).asInstanceOf[StructType])
        if (!r.isNullAt(1)) partitionColumns = r.getSeq[String](1)
        if (r.length > 2 && !r.isNullAt(2))
          configuration = r.getMap[String, String](2).toMap
            .collect { case (k, v) if v != null => k -> v }
      }
    }

    CheckpointInfo(
      CheckpointState(schema, partitionColumns, configuration, minReader, readerFeatures, Nil,
        minWriter, writerFeatures),
      Seq(partPaths) ++ (if (sidecarPaths.nonEmpty) Seq(sidecarPaths) else Nil))
  }

  /** [[checkpointInfo]] with the add set materialized on the driver —
    * the eager [[snapshot]] path. */
  private def loadCheckpoint(spark: SparkSession, logDir: Path, names: Seq[String],
      root: String): CheckpointState = {
    val info = checkpointInfo(spark, logDir, names, root)
    info.meta.copy(files =
      info.addFrames.flatMap(g => addsOf(spark.read.parquet(g: _*))))
  }

  // ------------------------------------------------- the write direction

  private def encodePath(rel: String): String =
    new java.net.URI(null, null, rel, null).toASCIIString

  private def jstr(s: String): String =
    org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(JString(s)))

  /** Render one mirrored file's manifest stats as a Delta `stats` JSON
    * string (minValues/maxValues/nullCount/numRecords), so ANY Delta
    * reader — including [[DeltaFileIndex]] — skips files on the
    * mirrored table exactly as graft's own scans do. Manifest bounds
    * are string-encoded per [[ManifestTable]]'s stat codec: integral /
    * decimal / boolean render as JSON scalars, strings and dates as
    * JSON strings (present string bounds are exact — over-long ones
    * were dropped at collection, never truncated), timestamps are
    * SKIPPED (the manifest stores epoch micros; Delta expects ISO
    * renderings, and a mis-formatted bound could make a foreign reader
    * mis-skip). Absent anything = omitted, which every Delta reader
    * treats as "may match". */
  /** Graft column-mapping metadata re-spelled as the Delta protocol's
    * (`delta.columnMapping.physicalName` / `.id` field metadata); None
    * when the graft table is unmapped. Physical names are SHARED — the
    * mirrored log points at the same parquet files. */
  private def deltaMappedSchema(s: StructType): Option[StructType] =
    if (!s.fields.exists(_.metadata.contains(ManifestTable.PhysNameKey))) None
    else Some(StructType(s.fields.zipWithIndex.map { case (f, i) =>
      val phys = ManifestTable.physicalNameOf(f)
      val id =
        if (f.metadata.contains(ManifestTable.ColIdKey)) f.metadata.getLong(ManifestTable.ColIdKey)
        else i.toLong
      f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(ManifestTable.stripMappingMeta(f.metadata))
        .putString(PhysicalNameKey, phys)
        .putLong("delta.columnMapping.id", id).build())
    }))

  private def deltaStatsJson(schema: StructType,
      colStats: Map[String, ManifestTable.ColStat]): Option[String] = {
    if (colStats.isEmpty) return None
    import org.apache.spark.sql.types._
    def render(dt: DataType, v: String): Option[String] = dt match {
      case ByteType | ShortType | IntegerType | LongType => Some(v)
      case _: DecimalType => Some(v)
      case BooleanType => Some(v)
      case StringType | DateType => Some(jstr(v))
      case FloatType | DoubleType =>
        // FP bounds ride as JSON numbers (both the manifest's
        // cast-to-string and AdoptStats' toString round-trip exactly);
        // NaN/Infinity are not JSON and would corrupt the stats line —
        // refuse them, the file just never prunes
        Some(v).filter(s =>
          scala.util.Try(s.toDouble).toOption.exists(d => !d.isNaN && !d.isInfinity))
      case _ => None // timestamps & exotic types: omit, always sound
    }
    val mins = Seq.newBuilder[String]
    val maxs = Seq.newBuilder[String]
    val nulls = Seq.newBuilder[String]
    colStats.toSeq.sortBy(_._1).foreach { case (name, cs) =>
      schema.fields.find(_.name == name).foreach { f =>
        cs.min.flatMap(render(f.dataType, _)).foreach(r => mins += s"${jstr(name)}:$r")
        cs.max.flatMap(render(f.dataType, _)).foreach(r => maxs += s"${jstr(name)}:$r")
        cs.nulls.foreach(n => nulls += s"${jstr(name)}:$n")
      }
    }
    val numRecords = colStats.values.flatMap(_.rows).headOption
    val parts = Seq.newBuilder[String]
    numRecords.foreach(n => parts += s""""numRecords":$n""")
    val mv = mins.result(); val xv = maxs.result(); val nv = nulls.result()
    if (mv.nonEmpty) parts += s""""minValues":{${mv.mkString(",")}}"""
    if (xv.nonEmpty) parts += s""""maxValues":{${xv.mkString(",")}}"""
    if (nv.nonEmpty) parts += s""""nullCount":{${nv.mkString(",")}}"""
    val body = parts.result()
    if (body.isEmpty) None else Some(s"{${body.mkString(",")}}")
  }

  /** Publish the CURRENT snapshot of the [[ManifestTable]] at `root`
    * into a Delta `_delta_log` beside its data — the reverse interop
    * direction: after a mirror, any Delta-protocol reader (the
    * reference's `format("delta")` jobs, load_data_task.py:147; DuckDB's
    * delta extension; Trino) reads the graft table in place, no copy.
    *
    * Incremental: the first call writes protocol + metaData + adds as
    * Delta version 0; each later call appends ONE commit holding the
    * add/remove file diff against the last mirrored state (plus fresh
    * metaData when the schema or layout changed), so external readers
    * keep version history across mirrors. Returns the Delta version
    * written, or None when the snapshot is already mirrored.
    *
    * Paths are URI-encoded per the protocol; partition values are
    * republished from the manifest's path parsing, so Hive escapes
    * round-trip. Single-mirrorer discipline: concurrent mirrors race on
    * the version file (the rename loses, failing loud) — run it from one
    * place, e.g. right after each batch commit. */
  def mirror(spark: SparkSession, root: String): Option[Long] = {
    val base = root.stripSuffix("/")
    val state = ManifestTable.scanState(spark, root)
    val logDir = new Path(s"$base/_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = if (fs.exists(logDir)) Some(snapshot(spark, root)) else None
    val prevLive = prev.map(_.files.map(_.path).toSet).getOrElse(Set.empty[String])
    val cur = state.files.toSet
    // graft column mapping translates verbatim to Delta name mapping:
    // same physical names (the files ARE shared), ids carried, stats and
    // the published schema re-spelled per the protocol — so any Delta
    // reader resolves renamed/dropped columns exactly as graft does
    val mappedSchema = deltaMappedSchema(state.schema)
    val deltaSchema = mappedSchema.getOrElse(state.schema)
    val configJson = mappedSchema.map { ms =>
      val maxId = ms.fields.map(_.metadata.getLong("delta.columnMapping.id")).max
      s""""delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"$maxId""""
    }.getOrElse("")
    val sameMeta = prev.exists(p =>
      p.schema == deltaSchema && p.partitionColumns == state.partitionBy &&
        p.columnMapping == mappedSchema.isDefined)
    // graft deletion vectors translate verbatim: our `_dv` files ARE the
    // protocol's DV-file layout, so `f`-storage entries publish as
    // `p`-storage absolute references (no bytes copied) and inline
    // entries publish as `i` (same Z85 codec)
    val curDesc: Map[String, DeletionVectors.Descriptor] = state.dvs.map { case (rel, e) =>
      rel -> (e.storage match {
        case "i" => DeletionVectors.Descriptor("i", e.payload, None, e.size, e.cardinality)
        case "f" => DeletionVectors.Descriptor("p",
          ManifestTable.resolveEntry(root, e.payload), Some(e.offset), e.size, e.cardinality)
        case other => throw new UnsupportedOperationException(
          s"cannot mirror graft DV storage type '$other'")
      })
    }
    val prevDesc: Map[String, DeletionVectors.Descriptor] =
      prev.map(_.files.flatMap(f => f.dv.map(f.path -> _)).toMap).getOrElse(Map.empty)
    // a carried file whose vector changed (merge-on-read delete/update,
    // or a compaction purge) republishes as remove + add-with-new-vector
    // — Delta's own DV-commit shape
    val dvChanged = state.files.filter(prevLive)
      .filter(rel => curDesc.get(rel) != prevDesc.get(rel)).toSet
    if (prev.isDefined && sameMeta && prevLive == cur && dvChanged.isEmpty) return None
    val v = prev.map(_.version + 1).getOrElse(0L)
    val now = System.currentTimeMillis()
    val needed: Set[String] =
      (if (curDesc.nonEmpty) Set("deletionVectors") else Set.empty[String]) ++
        (if (mappedSchema.isDefined) Set("columnMapping") else Set.empty[String])
    def featureProtocol(rf0: Set[String], wf0: Set[String]): String = {
      val rl = rf0.toSeq.sorted.map(jstr).mkString(",")
      val wl = (wf0 ++ rf0).toSeq.sorted.map(jstr).mkString(",")
      s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        s""""readerFeatures":[$rl],"writerFeatures":[$wl]}}"""
    }
    val header: Seq[String] =
      (if (prev.isEmpty)
        Seq(if (needed.nonEmpty) featureProtocol(needed, Set.empty)
        else """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
      // an established mirror that now needs more features upgrades its
      // protocol in the same commit (a later protocol action governs
      // replay); EVERY feature already granted is kept — reader AND
      // writer-side (the v2Checkpoint upgrade commit enumerates
      // writer-only features like appendOnly/invariants; the spec
      // forbids a later protocol action silently dropping them), plus
      // whatever a legacy minWriter implied
      else if ((needed -- prev.map(_.readerFeatures).getOrElse(Set.empty)).nonEmpty)
        Seq(featureProtocol(
          needed ++ prev.map(_.readerFeatures).getOrElse(Set.empty) ++
            prev.map(p => legacyReaderFeatures(p.minReader)).getOrElse(Set.empty),
          prev.map(_.writerFeatures).getOrElse(Set.empty) ++
            prev.map(p => legacyWriterFeatures(p.minWriter)).getOrElse(Set.empty)))
      else Nil) ++
      (if (prev.isEmpty || !sameMeta)
        Seq(s"""{"metaData":{"id":"${java.util.UUID.randomUUID()}",""" +
          """"format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${jstr(deltaSchema.json)},""" +
          s""""partitionColumns":[${state.partitionBy.map(jstr).mkString(",")}],""" +
          s""""configuration":{$configJson},"createdTime":$now}}""")
      else Nil)
    // under mapping Delta keys per-file stats by PHYSICAL column name
    val physFor: Map[String, String] =
      if (mappedSchema.isEmpty) Map.empty
      else state.schema.fields.map(f => f.name -> ManifestTable.physicalNameOf(f)).toMap
    val statsSchema =
      if (mappedSchema.isEmpty) state.schema
      else org.apache.spark.sql.types.StructType(
        state.schema.fields.map(f => f.copy(name = ManifestTable.physicalNameOf(f))))
    val adds = state.files.filter(rel => !prevLive(rel) || dvChanged(rel)).map { rel =>
      // absolute (shallow-clone) entries stat on their own filesystem and
      // publish as absolute-URI adds — PROTOCOL.md permits them, and
      // decodePath on the read side keeps them absolute
      val p = new Path(ManifestTable.resolveEntry(root, rel))
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
      val pv = state.partitionBy
        .zip(ManifestTable.partitionValuesOf(rel, state.partitionBy))
        .map { case (c, value) => s"${jstr(c)}:${value.map(jstr).getOrElse("null")}" }
        .mkString(",")
      val colStats0 = state.stats.getOrElse(rel, Map.empty)
      val colStats =
        if (physFor.isEmpty) colStats0
        else colStats0.map { case (c, s) => physFor.getOrElse(c, c) -> s }
      val statsField = deltaStatsJson(statsSchema, colStats)
        .map(j => s""","stats":${jstr(j)}""").getOrElse("")
      val dvField = curDesc.get(rel).map { d =>
        val off = d.offset.map(o => s""","offset":$o""").getOrElse("")
        s""","deletionVector":{"storageType":${jstr(d.storageType)},""" +
          s""""pathOrInlineDv":${jstr(d.pathOrInlineDv)}$off,""" +
          s""""sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""
      }.getOrElse("")
      s"""{"add":{"path":${jstr(encodePath(rel))},"partitionValues":{$pv},""" +
        s""""size":${st.getLen},"modificationTime":${st.getModificationTime},""" +
        s""""dataChange":true$statsField$dvField}}"""
    }
    val removes = ((prevLive -- cur) ++ dvChanged).toSeq.sorted.map { p =>
      s"""{"remove":{"path":${jstr(encodePath(p))},"deletionTimestamp":$now,"dataChange":true}}"""
    }
    // removes precede adds so a sequential replayer sees the dv-changed
    // file's remove before its re-add (keyed replayers don't care)
    writeCommit(fs, logDir, v, header ++ removes ++ adds)
    Some(v)
  }

  /** Delta's `CONVERT TO DELTA` (the add_files sibling on the
    * Delta side): adopt a plain parquet DIRECTORY in place — publish
    * `_delta_log/…0.json` with one `add` per existing parquet file,
    * metadata-only, not a byte rewritten. `partitionCols` names the
    * hive layout's partition columns (values parse from the `c=v` path
    * segments exactly as the files lay, url-unescaped); the published
    * schema is Spark's own inference over the directory (partition
    * columns typed as the reader serves them). Refuses loud if a
    * `_delta_log` already exists (convert is adoption, not append —
    * `mirror` owns established logs). The directory walk is driver
    * fs-listing, O(files) metadata like every log replay here.
    *
    * File paths relativize against the QUALIFIED root through
    * `URI.relativize`: a prefix-strip would silently publish ABSOLUTE
    * paths as relative when `dir` is spelled relative or
    * differently-qualified than the listing — corrupting every `c=v`
    * segment of the absolute path into a phantom partition
    * value; a file that does not relativize now refuses loud.
    *
    * `collectStats` (Delta's own convert default behavior,
    * surfaced as a flag): a DISTRIBUTED footer pass (one task per
    * file — the same shape `add_files` uses, [[AdoptStats]]) collects
    * numRecords + per-column min/max/null-counts into each `add`'s
    * `stats` JSON, so the adopted table data-skips immediately instead
    * of waiting for an OPTIMIZE rewrite; absent/invalid footer stats
    * degrade to a stats-less add, never a wrong one. Off: adds carry
    * no stats (readers scan — sound). Returns the file count. */
  def convertToDelta(spark: SparkSession, dir: String,
      partitionCols: Seq[String] = Nil, collectStats: Boolean = false): Long = {
    val base = dir.stripSuffix("/")
    val conf = spark.sparkContext.hadoopConfiguration
    val rootPath = new Path(base)
    val fs = rootPath.getFileSystem(conf)
    val qRoot = fs.makeQualified(rootPath)
    val logDir = new Path(qRoot, "_delta_log")
    require(!fs.exists(logDir),
      s"convertToDelta: $base already has a _delta_log — convert adopts plain directories only")
    val schema = spark.read.parquet(base).schema
    require(partitionCols.forall(c => schema.fieldNames.contains(c)),
      s"convertToDelta: partition columns ${partitionCols.mkString(",")} must appear " +
        s"in the inferred schema ${schema.fieldNames.mkString(",")}")
    // every parquet file under the root (the shared adoption walk —
    // hidden dirs AND files skip: a stray `.part-…-retry`
    // from an aborted committer is invisible to spark.read.parquet)
    val files = AdoptStats.listDataFiles(fs, qRoot, Seq(".parquet"))
    require(files.nonEmpty, s"convertToDelta: no parquet files under $base")
    // distributed footer pass, keyed by the file's qualified path —
    // only the data columns carry footer stats (partition columns live
    // in the dirs, their values prune through partitionValues already)
    val statsOf: Map[String, (Long, AdoptStats.ColStats)] =
      if (!collectStats) Map.empty
      else {
        val want = AdoptStats.statTypes(
          StructType(schema.fields.filterNot(f => partitionCols.contains(f.name))))
        val serConf = new org.apache.spark.util.SerializableConfiguration(conf)
        val paths = files.map(_.getPath.toString)
        val slices = math.max(1, math.min(paths.size, spark.sparkContext.defaultParallelism))
        spark.sparkContext.parallelize(paths, slices)
          .map(p => p -> AdoptStats.parquet(serConf.value, new Path(p), want))
          .collect().toMap
      }
    val now = System.currentTimeMillis()
    val header = Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"${java.util.UUID.randomUUID()}",""" +
        """"format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jstr(schema.json)},""" +
        s""""partitionColumns":[${partitionCols.map(jstr).mkString(",")}],""" +
        s""""configuration":{},"createdTime":$now}}""")
    val rootUri = qRoot.toUri
    val adds = files.map { st =>
      val relUri = rootUri.relativize(st.getPath.toUri)
      require(!relUri.isAbsolute && !relUri.getPath.startsWith("/"),
        s"convertToDelta: listed file ${st.getPath} does not relativize against $qRoot — " +
          "refusing to publish an absolute path as relative")
      val rel = relUri.getPath
      // hive segments: every `c=v` dir on the file's relative path
      val segs = rel.split('/').dropRight(1).flatMap { s =>
        val i = s.indexOf('=')
        if (i > 0) Some(s.substring(0, i) -> IcebergWriter.unescapeHive(s.substring(i + 1))) else None
      }.toMap
      val missing = partitionCols.filterNot(segs.contains)
      require(missing.isEmpty,
        s"convertToDelta: $rel lacks hive values for ${missing.mkString(",")}")
      val pv = partitionCols
        .map(c => s"${jstr(c)}:${if (segs(c) == HiveNullPartition) "null" else jstr(segs(c))}")
        .mkString(",")
      val statsField = statsOf.get(st.getPath.toString).flatMap { case (n, cs) =>
        val colStats = cs.map { case (c, (mn, mx, nulls)) =>
          c -> ManifestTable.ColStat(mn, mx, nulls, Some(n))
        }
        // a file whose footer yields no column stats still publishes
        // its row count — numRecords alone lets planners skip scans
        // for LIMIT/count shapes
        deltaStatsJson(schema, colStats).orElse(Some(s"""{"numRecords":$n}"""))
      }.map(j => s""","stats":${jstr(j)}""").getOrElse("")
      s"""{"add":{"path":${jstr(encodePath(rel))},"partitionValues":{$pv},""" +
        s""""size":${st.getLen},"modificationTime":${st.getModificationTime},""" +
        s""""dataChange":true$statsField}}"""
    }
    writeCommit(fs, logDir, 0L, header ++ adds)
    files.size.toLong
  }

  private val HiveNullPartition = "__HIVE_DEFAULT_PARTITION__"

  private def writeCommit(fs: org.apache.hadoop.fs.FileSystem, logDir: Path, v: Long,
      lines: Seq[String]): Unit = {
    fs.mkdirs(logDir)
    val tmp = new Path(logDir, s".tmp-${java.util.UUID.randomUUID()}.json")
    val out = fs.create(tmp, false)
    try out.write((lines.mkString("\n") + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = new Path(logDir, f"$v%020d.json")
    if (!fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"could not publish Delta commit $dst — a concurrent mirror won the version")
    }
  }

  /** The actions a checkpoint of the CURRENT snapshot carries — shared
    * by the classic and V2 writers so the two layouts can never
    * disagree on content. `adds` is an ITERATOR FACTORY, not a
    * materialized list: each add streams straight from the snapshot's
    * entry into the parquet writer's current row group (a `Seq[Row]`
    * of every add embedded in a Spark LocalRelation would hold O(files)
    * driver heap twice over on a 10M-file table). */
  private final case class CheckpointAdd(path: String,
      partitionValues: Map[String, Option[String]], size: Long,
      modificationTime: Long, stats: Option[String],
      dv: Option[DeletionVectors.Descriptor])
  /** `addCount` is a SIZING hint, not an exact count: the lazy payload
    * answers it from parquet footers (may overcount by the non-add
    * action rows). Consumers needing exactness must count the `adds`
    * stream itself, as `writeCheckpointV2`'s `streamed` does. */
  private final case class CheckpointPayload(version: Long,
      minReader: Int, minWriter: Int,
      readerFeatures: Seq[String], writerFeatures: Seq[String],
      metaId: String, schemaJson: String, partitionColumns: Seq[String],
      configuration: Map[String, String], createdTime: Long,
      addCount: () => Long, adds: () => Iterator[CheckpointAdd])

  /** Checkpoint content for the current snapshot. The SCALE path: when
    * the log rests on a parquet checkpoint, the adds stream straight
    * out of the previous checkpoint's own parquet — one row group at a
    * time, driver-direct — merged with the driver-resident JSON tail,
    * so writing a 10M-file checkpoint never holds 10M AddEntry objects
    * (otherwise an O(N)-driver path).
    * Unlike [[lazySnapshot]] (whose consumers compose READ plans), the
    * payload tolerates deletion vectors and column mapping — add rows
    * copy through verbatim, DV descriptors included — as long as the
    * log DECLARES the features it uses (explicitly or legacy-implied):
    * a nonconformant log needs the eager path's feature promotion, and
    * a pure-JSON log is already driver-bounded by the log itself. */
  private def checkpointPayload(spark: SparkSession, root: String): CheckpointPayload = {
    val lay = logLayout(spark, root, None)
    lay.checkpoint match {
      case None => eagerCheckpointPayload(spark, root, snapshot(spark, root))
      case Some(names) =>
        val ls = resolveCheckpointed(spark, root, lay, names)
        val declaredR = ls.readerFeatures ++ legacyReaderFeatures(ls.minReader)
        val mappedOk = !isColumnMapped(ls.configuration) ||
          declaredR.contains("columnMapping")
        val dvOk = declaredR.contains("deletionVectors") ||
          (!ls.tailLive.exists(_.dv.isDefined) && !checkpointHasDv(spark, ls))
        if (mappedOk && dvOk) lazyCheckpointPayload(spark, root, ls)
        else eagerCheckpointPayload(spark, root, snapshot(spark, root))
    }
  }

  private def eagerCheckpointPayload(spark: SparkSession, root: String,
      snap: DeltaSnapshot): CheckpointPayload = {
    val base = root.stripSuffix("/")
    val logDir = new Path(s"$base/_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def abs(p: String): String = // Path normalizes file:///x to file:/x
      if (p.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*") || p.startsWith("/")) p else s"$base/$p"
    // a DV-carrying snapshot checkpoints the feature-gated protocol —
    // dropping it here would let a pre-DV reader replay from this
    // checkpoint and resurrect dead rows; same for columnMapping.
    // the checkpoint's protocol is the LOG's protocol, verbatim — a
    // checkpoint must neither downgrade (a legacy (1,4) table written
    // as (1,2) would let feature-unaware writers violate CDF
    // invariants after JSON cleanup) nor upgrade (a (1,7) writer-
    // features table written as (3,7) locks out reader-v1 clients that
    // could legally read it, and a legacy (2,5) mapped table promoted
    // to (3,7) would have to enumerate every legacy-IMPLIED feature or
    // silently revoke them). Only when the snapshot carries a feature
    // the log never declared — explicitly OR implied by its legacy
    // versions (minReader 2 implies columnMapping; defensive,
    // conformant logs always declare) — does the checkpoint promote to
    // the feature form, since dropping the feature would be the worse
    // corruption; the promotion then enumerates the legacy-implied
    // reader AND writer features exactly as PROTOCOL.md's upgrade rule
    // demands (emitting writerFeatures=[columnMapping] alone would drop
    // appendOnly/invariants/checkConstraints/changeDataFeed/
    // generatedColumns that minWriter 5 had granted).
    val hasDvs = snap.files.exists(_.dv.isDefined) ||
      snap.readerFeatures.contains("deletionVectors")
    val present = (if (hasDvs) Set("deletionVectors") else Set.empty[String]) ++
      (if (snap.columnMapping) Set("columnMapping") else Set.empty[String])
    val legacyR = legacyReaderFeatures(snap.minReader)
    val injected = present -- snap.readerFeatures -- legacyR
    val promote = injected.nonEmpty
    val minReaderOut =
      if (promote) math.max(3, snap.minReader.toInt) else snap.minReader.toInt
    val minWriterOut =
      if (promote) math.max(7, snap.minWriter.toInt) else snap.minWriter.toInt
    val rFeatures =
      if (promote) (snap.readerFeatures ++ injected ++ legacyR).toSeq.sorted
      else (present ++ snap.readerFeatures).toSeq.sorted
    val wFeatures =
      if (promote)
        (rFeatures.toSet ++ snap.writerFeatures ++
          legacyWriterFeatures(snap.minWriter)).toSeq.sorted
      else (rFeatures ++ snap.writerFeatures).distinct.sorted
    // the metaData action carries the table's configuration verbatim
    // (dropping delta.enableChangeDataFeed and friends from the
    // checkpoint would silently un-configure the table once the JSON
    // history is cleaned); the mapping keys are synthesized only for
    // degenerate logs that run mapping without recording them
    val mappingSynth: Map[String, String] =
      if (!snap.columnMapping) Map.empty
      else {
        val maxId = snap.schema.fields.map(f =>
          if (f.metadata.contains("delta.columnMapping.id"))
            f.metadata.getLong("delta.columnMapping.id") else 0L)
          .foldLeft(0L)(math.max)
        Map("delta.columnMapping.mode" -> "name",
          "delta.columnMapping.maxColumnId" -> maxId.toString)
      }
    val configuration = mappingSynth ++ snap.configuration
    // size/modificationTime come from the log's own add actions (both
    // REQUIRED fields of a spec-conformant add, and [[addFromJson]] /
    // [[addsOf]] retain them) — a per-add getFileStatus here would be
    // O(files) driver RPCs against the store, hours on a 10M-file S3
    // table; the stat survives only as a fallback for degenerate logs
    val adds = () => snap.files.iterator.map { a =>
      val (len, mt) = (a.size, a.modificationTime) match {
        case (Some(s), Some(m)) => (s, m)
        case _ =>
          val st = fs.getFileStatus(new Path(abs(a.path)))
          (st.getLen, st.getModificationTime)
      }
      CheckpointAdd(encodePath(a.path), a.partitionValues, len, mt, a.stats, a.dv)
    }
    CheckpointPayload(snap.version, minReaderOut, minWriterOut,
      rFeatures, wFeatures,
      java.util.UUID.randomUUID().toString, snap.schema.json, snap.partitionColumns,
      configuration, System.currentTimeMillis(), () => snap.files.size.toLong, adds)
  }

  /** One checkpoint add row as stored — raw (still-encoded) path plus
    * the optional fields exactly as the file carries them. */
  private final case class RawAdd(rawPath: String,
      partitionValues: Map[String, Option[String]],
      size: Option[Long], modificationTime: Option[Long], stats: Option[String],
      dv: Option[DeletionVectors.Descriptor])

  /** DRIVER-DIRECT streaming read of a checkpoint parquet file's add
    * rows through parquet-hadoop — genuinely O(row-group) memory, zero
    * Spark jobs (a Spark-side `toLocalIterator` would materialize one
    * whole decoded partition of Rows at a time, hundreds of MB).
    * A per-file PROJECTION (built from the file's own footer schema, so
    * subset-compatibility always holds) reads only the add columns the
    * payload needs — `projectStats = false` touches just the path
    * column chunks, the count-only pass. Files without an `add` field
    * (a v2 top file carrying only sidecar refs) contribute nothing. */
  private def driverAddRows(conf: org.apache.hadoop.conf.Configuration,
      file: String, projectStats: Boolean): Iterator[RawAdd] = {
    import org.apache.parquet.example.data.Group
    val p = new Path(file)
    val fileSchema = {
      val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try fr.getFooter.getFileMetaData.getSchema finally fr.close()
    }
    if (!fileSchema.containsField("add")) return Iterator.empty
    val addType = fileSchema.getType(fileSchema.getFieldIndex("add")).asGroupType()
    val want =
      if (projectStats)
        Seq("path", "partitionValues", "size", "modificationTime", "stats", "deletionVector")
      else Seq("path")
    val keep = want.filter(addType.containsField)
      .map(n => addType.getType(addType.getFieldIndex(n)))
    val projection = new org.apache.parquet.schema.MessageType("delta_checkpoint",
      new org.apache.parquet.schema.GroupType(
        org.apache.parquet.schema.Type.Repetition.OPTIONAL, "add",
        java.util.Arrays.asList(keep: _*)))
    val c2 = new org.apache.hadoop.conf.Configuration(conf)
    c2.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      projection.toString)
    @annotation.nowarn("cat=deprecation") // the InputFile builder drops GroupReadSupport
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), p)
      .withConf(c2).build()
    def has(g: Group, f: String): Boolean =
      g.getType.asGroupType.containsField(f) && g.getFieldRepetitionCount(f) > 0
    def toRaw(g: Group): RawAdd = {
      val pv: Map[String, Option[String]] =
        if (!has(g, "partitionValues")) Map.empty
        else {
          val pg = g.getGroup("partitionValues", 0)
          val n = if (pg.getType.getFieldCount == 0) 0 else pg.getFieldRepetitionCount(0)
          (0 until n).map { i =>
            val kv = pg.getGroup(0, i)
            val key = kv.getString(0, 0)
            val value = // `value` is optional — a null partition value
              if (kv.getType.getFieldCount > 1 && kv.getFieldRepetitionCount(1) > 0)
                Some(kv.getString(1, 0))
              else None
            key -> value
          }.toMap
        }
      // int-or-long tolerant read (the spec types sizeInBytes int32;
      // defensive against writers that widened it)
      def numOf(dg: Group, field: String): Long = {
        val t = dg.getType.asGroupType
        t.getType(t.getFieldIndex(field)).asPrimitiveType.getPrimitiveTypeName match {
          case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64 =>
            dg.getLong(field, 0)
          case _ => dg.getInteger(field, 0).toLong
        }
      }
      val dv =
        if (!has(g, "deletionVector")) None
        else {
          val dg = g.getGroup("deletionVector", 0)
          // a null storageType means "no DV" in some writers' encodings
          if (!has(dg, "storageType")) None
          else Some(DeletionVectors.Descriptor(
            dg.getString("storageType", 0), dg.getString("pathOrInlineDv", 0),
            if (has(dg, "offset")) Some(numOf(dg, "offset")) else None,
            if (has(dg, "sizeInBytes")) numOf(dg, "sizeInBytes") else 0L,
            if (has(dg, "cardinality")) numOf(dg, "cardinality") else 0L))
        }
      RawAdd(g.getString("path", 0), pv,
        if (has(g, "size")) Some(g.getLong("size", 0)) else None,
        if (has(g, "modificationTime")) Some(g.getLong("modificationTime", 0)) else None,
        if (has(g, "stats")) Some(g.getString("stats", 0)) else None,
        dv)
    }
    new Iterator[RawAdd] with AutoCloseable {
      private var closed = false
      def close(): Unit = if (!closed) { closed = true; reader.close() }
      private var nextAdd: RawAdd = advance()
      private def advance(): RawAdd = {
        if (closed) return null
        var g = reader.read()
        while (g != null && g.getFieldRepetitionCount("add") == 0) g = reader.read()
        if (g == null) { close(); null }
        else toRaw(g.getGroup("add", 0))
      }
      def hasNext: Boolean = nextAdd != null
      def next(): RawAdd = {
        val r = nextAdd; nextAdd = advance(); r
      }
    }
  }

  /** Sequential [[driverAddRows]] over many checkpoint files with an
    * optional mask predicate, CLOSEABLE for abandon-on-failure paths —
    * a plain `iterator.flatMap(...).filter(...)` would strand the
    * current file's open reader when a consumer throws mid-stream. */
  private final class ChainedRawAdds(conf: org.apache.hadoop.conf.Configuration,
      files: Seq[String], projectStats: Boolean, keep: RawAdd => Boolean)
      extends Iterator[RawAdd] with AutoCloseable {
    private val fileIt = files.iterator
    private var cur: Iterator[RawAdd] = Iterator.empty
    private var pending: RawAdd = _
    private def advance(): Boolean = {
      if (pending != null) return true
      while (pending == null) {
        if (cur.hasNext) { val a = cur.next(); if (keep(a)) pending = a }
        else if (fileIt.hasNext) cur = driverAddRows(conf, fileIt.next(), projectStats)
        else return false
      }
      true
    }
    def hasNext: Boolean = advance()
    def next(): RawAdd = {
      if (!advance()) throw new NoSuchElementException
      val r = pending; pending = null; r
    }
    def close(): Unit = cur match {
      case c: AutoCloseable => try c.close() catch { case _: Throwable => () }
      case _ => ()
    }
  }

  private def closeQuietly(x: Any): Unit = x match {
    case c: AutoCloseable => try c.close() catch { case _: Throwable => () }
    case _ => ()
  }

  /** Streamed payload over a [[LazySnapshot]]: checkpoint add rows
    * iterate DRIVER-DIRECT off the previous checkpoint's parquet
    * ([[driverAddRows]] — one row group in memory at a time, no Spark
    * jobs), tail-superseded paths filtered with the exact driver-side
    * [[decodePath]], then the JSON tail's own net adds appended.
    * Deletion vectors and column-mapped layouts copy through VERBATIM
    * (a DV-attach tail commit is remove+re-add of the same path, so
    * path-keyed masking reconciles it); the caller guarantees every
    * feature the snapshot uses is log-declared, so no injection can be
    * needed: the protocol is the log's, verbatim. */
  private def lazyCheckpointPayload(spark: SparkSession, root: String,
      ls: LazySnapshot): CheckpointPayload = {
    val base = root.stripSuffix("/")
    val logDir = new Path(s"$base/_delta_log")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = logDir.getFileSystem(conf)
    def abs(p: String): String =
      if (p.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*") || p.startsWith("/")) p else s"$base/$p"
    val rFeatures = ls.readerFeatures.toSeq.sorted
    val wFeatures = (rFeatures ++ ls.writerFeatures).distinct.sorted
    val cpFiles = ls.addFrames.flatten
    // the per-row URI decode only matters when a tail action could
    // supersede a checkpoint path — the common pure-protocol/append
    // tail skips it entirely (10M needless decodes otherwise)
    val keep: RawAdd => Boolean =
      if (ls.tailMasked.isEmpty) _ => true
      else a => !ls.tailMasked(decodePath(a.rawPath))
    def cpLive(projectStats: Boolean): ChainedRawAdds =
      new ChainedRawAdds(conf, cpFiles, projectStats, keep)
    def tailAdds(): Iterator[CheckpointAdd] = ls.tailLive.iterator.map { a =>
      val (len, mt) = (a.size, a.modificationTime) match {
        case (Some(s), Some(m)) => (s, m)
        case _ =>
          val st = fs.getFileStatus(new Path(abs(a.path)))
          (st.getLen, st.getModificationTime)
      }
      CheckpointAdd(encodePath(a.path), a.partitionValues, len, mt, a.stats, a.dv)
    }
    def convert(a: RawAdd): CheckpointAdd = {
      // size/modificationTime come from the checkpoint's own add rows;
      // the per-file stat survives only for degenerate entries
      val (len, mt) = (a.size, a.modificationTime) match {
        case (Some(s), Some(m)) => (s, m)
        case _ =>
          val st = fs.getFileStatus(new Path(abs(decodePath(a.rawPath))))
          (st.getLen, st.getModificationTime)
      }
      // the raw log path passes through verbatim — already the log's
      // own percent-encoding, byte-faithful to what a foreign writer
      // published (re-encoding a decode is not guaranteed identical)
      CheckpointAdd(a.rawPath, a.partitionValues, len, mt, a.stats, a.dv)
    }
    // closeable end to end: a writer that dies mid-stream closes the
    // current checkpoint-file reader instead of stranding it
    val adds = () => new Iterator[CheckpointAdd] with AutoCloseable {
      private val cp = cpLive(projectStats = true)
      private val tail = tailAdds()
      def hasNext: Boolean = cp.hasNext || tail.hasNext
      def next(): CheckpointAdd = if (cp.hasNext) convert(cp.next()) else tail.next()
      def close(): Unit = cp.close()
    }
    // sizing-only count (the one consumer is v2 sidecar chunking,
    // which tolerates an upper bound — its write loop is
    // hasNext-guarded): with no tail mask, sum the ROW COUNTS off each
    // checkpoint file's parquet footer instead of streaming all 10M
    // path values a second time (a path-column pass would double
    // checkpoint-read I/O per writeCheckpointV2). Footer
    // counts include the few non-add action rows (protocol/metaData/
    // remove/txn), so this bounds the add count from ABOVE — fewer,
    // larger chunks, never an empty sidecar. A masked tail still pays
    // the exact filtered pass: masking is per-row by definition.
    val addCount = () => {
      if (ls.tailMasked.isEmpty) {
        cpFiles.map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new Path(f), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }.sum + ls.tailLive.size
      } else {
        val it = cpLive(projectStats = false)
        try it.size.toLong + ls.tailLive.size finally it.close()
      }
    }
    CheckpointPayload(ls.version, ls.minReader.toInt, ls.minWriter.toInt,
      rFeatures, wFeatures,
      java.util.UUID.randomUUID().toString, ls.schema.json, ls.partitionColumns,
      ls.configuration, System.currentTimeMillis(), addCount, adds)
  }

  // ----- checkpoint parquet layout, written DRIVER-STREAMED through
  // parquet-hadoop (the [[ManifestTable]] checkpoint writer's own
  // pattern): no Spark job, no LocalRelation of every add, O(row-group)
  // memory. Standard LIST/MAP annotations so Spark (this reader) and
  // any foreign Delta reader decode the columns plainly.
  private val protocolFragment =
    """optional group protocol {
      |  optional int32 minReaderVersion;
      |  optional int32 minWriterVersion;
      |  optional group readerFeatures (LIST) { repeated group list {
      |    required binary element (STRING); } }
      |  optional group writerFeatures (LIST) { repeated group list {
      |    required binary element (STRING); } }
      |}""".stripMargin
  private val metaDataFragment =
    """optional group metaData {
      |  optional binary id (STRING);
      |  optional group format { optional binary provider (STRING); }
      |  optional binary schemaString (STRING);
      |  optional group partitionColumns (LIST) { repeated group list {
      |    required binary element (STRING); } }
      |  optional group configuration (MAP) { repeated group key_value {
      |    required binary key (STRING); optional binary value (STRING); } }
      |  optional int64 createdTime;
      |}""".stripMargin
  private val addFragment =
    """optional group add {
      |  optional binary path (STRING);
      |  optional group partitionValues (MAP) { repeated group key_value {
      |    required binary key (STRING); optional binary value (STRING); } }
      |  optional int64 size;
      |  optional int64 modificationTime;
      |  optional boolean dataChange;
      |  optional binary stats (STRING);
      |  optional group deletionVector {
      |    optional binary storageType (STRING);
      |    optional binary pathOrInlineDv (STRING);
      |    optional int32 offset;
      |    optional int32 sizeInBytes;
      |    optional int64 cardinality;
      |  }
      |}""".stripMargin
  private val classicCheckpointType =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      s"message delta_checkpoint {\n$protocolFragment\n$metaDataFragment\n$addFragment\n}")
  private val sidecarType =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      s"""message delta_sidecar {
         |$addFragment
         |optional group remove {
         |  optional binary path (STRING);
         |  optional int64 deletionTimestamp;
         |  optional boolean dataChange;
         |}
         |}""".stripMargin)
  private val v2TopType =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      s"""message delta_checkpoint_v2 {
         |$protocolFragment
         |$metaDataFragment
         |optional group checkpointMetadata {
         |  optional int64 version;
         |  optional group tags (MAP) { repeated group key_value {
         |    required binary key (STRING); optional binary value (STRING); } }
         |}
         |optional group sidecar {
         |  optional binary path (STRING);
         |  optional int64 sizeInBytes;
         |  optional int64 modificationTime;
         |  optional group tags (MAP) { repeated group key_value {
         |    required binary key (STRING); optional binary value (STRING); } }
         |}
         |}""".stripMargin)

  private def protocolInto(g: org.apache.parquet.example.data.Group,
      p: CheckpointPayload): Unit = {
    val pg = g.addGroup("protocol")
    pg.add("minReaderVersion", p.minReader)
    pg.add("minWriterVersion", p.minWriter)
    // feature LISTS exist exactly on the table-features versions — a
    // legacy protocol carries implied features, never lists
    if (p.minReader >= 3) {
      val rf = pg.addGroup("readerFeatures")
      p.readerFeatures.foreach(f => rf.addGroup("list").append("element", f))
    }
    if (p.minWriter >= 7) {
      val wf = pg.addGroup("writerFeatures")
      p.writerFeatures.foreach(f => wf.addGroup("list").append("element", f))
    }
  }

  private def metaDataInto(g: org.apache.parquet.example.data.Group,
      p: CheckpointPayload): Unit = {
    val mg = g.addGroup("metaData")
    mg.append("id", p.metaId)
    mg.addGroup("format").append("provider", "parquet")
    mg.append("schemaString", p.schemaJson)
    val pc = mg.addGroup("partitionColumns")
    p.partitionColumns.foreach(c => pc.addGroup("list").append("element", c))
    val cfg = mg.addGroup("configuration")
    p.configuration.foreach { case (k, v) =>
      val kv = cfg.addGroup("key_value"); kv.append("key", k); kv.append("value", v)
    }
    mg.add("createdTime", p.createdTime)
  }

  private def addInto(g: org.apache.parquet.example.data.Group, a: CheckpointAdd): Unit = {
    val ag = g.addGroup("add")
    ag.append("path", a.path)
    val pv = ag.addGroup("partitionValues")
    a.partitionValues.foreach { case (k, v) =>
      val kv = pv.addGroup("key_value"); kv.append("key", k)
      v.foreach(kv.append("value", _))
    }
    ag.add("size", a.size)
    ag.add("modificationTime", a.modificationTime)
    ag.add("dataChange", true)
    a.stats.foreach(ag.append("stats", _))
    a.dv.foreach { d =>
      val dg = ag.addGroup("deletionVector")
      dg.append("storageType", d.storageType)
      dg.append("pathOrInlineDv", d.pathOrInlineDv)
      d.offset.foreach(o => dg.add("offset", o.toInt))
      dg.add("sizeInBytes", d.sizeInBytes.toInt)
      dg.add("cardinality", d.cardinality)
    }
  }

  /** Stream groups into ONE parquet file at `dst` (staged, renamed) via
    * parquet-hadoop — O(row-group) driver memory at any add count. */
  private def streamCheckpointFile(fs: org.apache.hadoop.fs.FileSystem,
      conf: org.apache.hadoop.conf.Configuration, logDir: Path, dst: Path,
      msgType: org.apache.parquet.schema.MessageType)(
      body: (org.apache.parquet.example.data.simple.SimpleGroup => Unit) => Unit): Unit = {
    val tmp = new Path(logDir, s".cptmp-${java.util.UUID.randomUUID()}.parquet")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, conf))
      .withType(msgType)
      .withConf(conf)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try {
      body(writer.write)
      // the parquet FOOTER is written inside close() — a close failure
      // MUST fail the publication (swallowing it would rename a
      // footerless file into place as the table's checkpoint and, once
      // the JSON history is cleaned, permanently break replay)
      writer.close()
    } catch {
      case e: Throwable =>
        try writer.close() catch { case _: Throwable => () } // idempotent
        fs.delete(tmp, false)
        throw e
    }
    fs.mkdirs(dst.getParent)
    fs.delete(dst, false) // idempotent re-checkpoint of the same version
    require(fs.rename(tmp, dst), s"cannot publish checkpoint file $dst")
  }

  private def writeLastCheckpoint(fs: org.apache.hadoop.fs.FileSystem, logDir: Path,
      version: Long, size: Long): Unit = {
    val lc = fs.create(new Path(logDir, "_last_checkpoint"), true)
    try lc.write(s"""{"version":$version,"size":$size}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally lc.close()
  }

  /** Write a classic single-file parquet checkpoint of the log at its
    * latest version, plus the `_last_checkpoint` pointer — what lets
    * external readers (and [[snapshot]]) skip the JSON history, and what
    * makes cleaning old JSON commits safe. Idempotent per version.
    * Returns the checkpointed version. */
  def writeCheckpoint(spark: SparkSession, root: String): Long = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    val p = checkpointPayload(spark, root)
    val logDir = new Path(s"${root.stripSuffix("/")}/_delta_log")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = logDir.getFileSystem(conf)
    var streamed = 0L // counted DURING the stream — no second pass
    val it = p.adds()
    try streamCheckpointFile(fs, conf, logDir,
      new Path(logDir, f"${p.version}%020d.checkpoint.parquet"), classicCheckpointType) { write =>
      val pg = new SimpleGroup(classicCheckpointType); protocolInto(pg, p); write(pg)
      val mg = new SimpleGroup(classicCheckpointType); metaDataInto(mg, p); write(mg)
      it.foreach { a =>
        val g = new SimpleGroup(classicCheckpointType); addInto(g, a); write(g)
        streamed += 1
      }
    } finally closeQuietly(it)
    writeLastCheckpoint(fs, logDir, p.version, streamed + 2L)
    p.version
  }

  /** (version, minReader, minWriter, readerFeatures, writerFeatures)
    * of the latest snapshot WITHOUT materializing the checkpoint's add
    * set: checkpoint metadata rows + the JSON tail only (the tail's
    * own adds are inherently bounded; a pure-JSON log is bounded by
    * the log itself). The protocol GATE runs here — the peek's caller
    * writes an upgrade commit on its result, and gating only later
    * (in the payload) would let a failed operation MUTATE a foreign
    * log it then refuses to checkpoint. */
  private def protocolPeek(spark: SparkSession, root: String)
      : (Long, Long, Long, Set[String], Set[String]) = {
    val lay = logLayout(spark, root, None)
    lay.checkpoint match {
      case Some(names) =>
        val ls = resolveCheckpointed(spark, root, lay, names) // gate inside
        (ls.version, ls.minReader, ls.minWriter, ls.readerFeatures, ls.writerFeatures)
      case None =>
        val fs = lay.logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val st = new ReplayState
        applyCommits(fs, lay.logDir, lay.replay, st)
        protocolGate(root, st)
        (lay.target, st.minReader, st.minWriter, st.readerFeatures, st.writerFeatures)
    }
  }

  /** Reader features a legacy `minReaderVersion` implicitly granted —
    * enumerated when upgrading to the table-features protocol (3, 7),
    * as PROTOCOL.md requires. Version 3 IS the features protocol: it
    * implies nothing, its features are already explicit. */
  private def legacyReaderFeatures(minReader: Long): Set[String] =
    if (minReader == 2) Set("columnMapping") else Set.empty

  /** Writer features a legacy `minWriterVersion` implicitly granted
    * (cumulative per the protocol's version table). */
  private def legacyWriterFeatures(minWriter: Long): Set[String] = {
    val byVersion = Seq(
      2L -> Set("appendOnly", "invariants"),
      3L -> Set("checkConstraints"),
      4L -> Set("changeDataFeed", "generatedColumns"),
      5L -> Set("columnMapping"),
      6L -> Set("identityColumns"))
    byVersion.collect { case (v, fs) if minWriter >= v && minWriter < 7 => fs }
      .foldLeft(Set.empty[String])(_ ++ _)
  }

  /** Write a V2 checkpoint (PROTOCOL.md §V2 Checkpoints): a UUID-named
    * top file carrying `protocol` + `metaData` + `checkpointMetadata` +
    * `sidecar` references, with the add set split across `sidecarParts`
    * parquet files under `_delta_log/_sidecars/` — the layout that
    * lets a reader fan a multi-hundred-MB checkpoint load out one task
    * per sidecar (this reader already does, both for the materialized
    * load and the distributed prune). `sidecarParts = 0` sizes
    * automatically (~100k adds per sidecar). [[writeCheckpoint]]
    * remains for pre-v2 readers; both carry identical content.
    *
    * The protocol REQUIRES the `v2Checkpoint` table feature on any
    * table carrying a V2-form checkpoint — a spec-compliant foreign
    * reader may otherwise refuse or mishandle the UUID-named file. If
    * the log doesn't already grant it, a protocol-upgrade commit is
    * published first (minReader 3 / minWriter 7, legacy-implied
    * features enumerated as the spec demands), so the checkpoint lands
    * at the upgraded version and replays self-consistently. */
  def writeCheckpointV2(spark: SparkSession, root: String, sidecarParts: Int = 0): Long = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    val logDir = new Path(s"${root.stripSuffix("/")}/_delta_log")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = logDir.getFileSystem(conf)
    // protocol peek only — never materializes the checkpoint's add set
    // just to read four protocol fields off a 10M-file table (a DV'd
    // or mapped lake would otherwise pay the eager replay twice)
    val snap0 = protocolPeek(spark, root)
    if (!snap0._4.contains("v2Checkpoint")) {
      val rf = snap0._4 ++ legacyReaderFeatures(snap0._2) + "v2Checkpoint"
      val wf = snap0._5 ++ legacyWriterFeatures(snap0._3) ++ rf
      writeCommit(fs, logDir, snap0._1 + 1, Seq(
        s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          s""""readerFeatures":[${rf.toSeq.sorted.map(jstr).mkString(",")}],""" +
          s""""writerFeatures":[${wf.toSeq.sorted.map(jstr).mkString(",")}]}}"""))
    }
    val p = checkpointPayload(spark, root) // re-resolve: sees the upgrade
    val addCount = p.addCount()
    val parts = math.max(1L,
      if (sidecarParts > 0) sidecarParts.toLong else addCount / 100000)
    val chunk = math.max(1L, (addCount + parts - 1) / parts) // Long: an Int
    // truncation at billions of adds would wrap negative and spin the
    // sidecar loop on empty files forever
    val sidecarDir = new Path(logDir, "_sidecars")
    // ONE shared add iterator, each sidecar streaming its slice row by
    // row and closing before the next begins — never a chunk's worth of
    // adds in memory at once (grouped() would materialize each slice:
    // sidecarParts=4 over a 10M-add table is 2.5M adds per Seq)
    val it = p.adds()
    var streamed = 0L
    val sidecars = scala.collection.mutable.ListBuffer.empty[String]
    try {
      while (sidecars.isEmpty || it.hasNext) {
        val name = s"${java.util.UUID.randomUUID()}.parquet"
        streamCheckpointFile(fs, conf, logDir, new Path(sidecarDir, name), sidecarType) { write =>
          var i = 0L
          while (i < chunk && it.hasNext) {
            val sg = new SimpleGroup(sidecarType); addInto(sg, it.next()); write(sg)
            i += 1; streamed += 1
          }
        }
        sidecars += name
      }
    } finally closeQuietly(it) // abandoned mid-stream on failure = open reader
    streamCheckpointFile(fs, conf, logDir, new Path(logDir,
      f"${p.version}%020d.checkpoint.${java.util.UUID.randomUUID()}.parquet"), v2TopType) { write =>
      val pg = new SimpleGroup(v2TopType); protocolInto(pg, p); write(pg)
      val mg = new SimpleGroup(v2TopType); metaDataInto(mg, p); write(mg)
      val cg = new SimpleGroup(v2TopType)
      cg.addGroup("checkpointMetadata").add("version", p.version)
      write(cg)
      sidecars.foreach { name =>
        val st = fs.getFileStatus(new Path(sidecarDir, name))
        val sg = new SimpleGroup(v2TopType)
        val ref = sg.addGroup("sidecar")
        ref.append("path", name)
        ref.add("sizeInBytes", st.getLen)
        ref.add("modificationTime", st.getModificationTime)
        write(sg)
      }
    }
    writeLastCheckpoint(fs, logDir, p.version, 3L + sidecars.size + streamed)
    p.version
  }

  private def commitLines(fs: org.apache.hadoop.fs.FileSystem, logDir: Path, v: Long): Seq[String] = {
    val p = new Path(logDir, f"$v%020d.json")
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
    finally in.close()
  }
}
