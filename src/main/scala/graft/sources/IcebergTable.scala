package graft.sources

import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.file.DataFileReader
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{coalesce, col, lit, substring_index}
import org.apache.spark.sql.types._
import org.json4s.{JArray, JInt, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods

/** Read-only reader for Apache Iceberg tables — the OTHER open table
  * format a reference-shaped lake is likely to carry (the reference's
  * silver layer is Delta, cf. `load_data_task.py:142`; Iceberg is what
  * the same stacks produce when written by Flink/Trino). A user
  * migrating to graft can query an existing Iceberg warehouse in place:
  * no rewrite, no export, no extra library — the table spec is public
  * (iceberg.apache.org/spec) and the manifests are plain Avro container
  * files readable with the Avro core jars Spark already ships.
  *
  * Implements the spec's read side for format versions 1 and 2:
  *
  *   - `metadata/version-hint.text` → `vN.metadata.json` (Hadoop
  *     tables), or the newest `*.metadata.json` by version prefix;
  *   - snapshot resolution: current, by `snapshot-id`, or by timestamp
  *     over the `snapshot-log`;
  *   - the snapshot's `manifest-list` Avro → data + delete manifests →
  *     live `data_file` entries (status ≠ DELETED), with v1/v2 field
  *     naming and map-as-array-of-kv encodings both handled;
  *   - schema: the Iceberg JSON schema (by the snapshot's `schema-id`)
  *     converted to Spark types with each field's Iceberg field id
  *     attached as `parquet.field.id` metadata — the scan then resolves
  *     columns BY ID (`spark.sql.parquet.fieldId.read.enabled`), so
  *     renamed columns read correctly from files written under the old
  *     name, exactly as the spec requires;
  *   - v2 position deletes: applied as a codegen'd bitmap filter
  *     ([[graft.plans.DvDeadRow]]) when the delete set is bounded, and
  *     as an AQE-planned anti-join on `(file, pos)` otherwise (no
  *     forced broadcast — the fallback fires exactly when the set is
  *     large);
  *   - v2 equality deletes: applied per data-sequence-number group —
  *     a delete applies to strictly-older data files — via null-safe
  *     anti-joins (the Flink-CDC shape);
  *   - identity-transform partition values and per-file column bounds
  *     (`lower_bounds`/`upper_bounds`, spec Appendix D single-value
  *     serialization) drive file skipping in [[IcebergFileIndex]].
  *
  * AVRO data files read through the Avro-core RDD leg
  * ([[IcebergAvroData]]) and ORC data files through the orc-core RDD
  * leg ([[IcebergOrcData]]) — both field-id-resolving,
  * delete-free snapshots only. Unsupported shapes fail loud rather
  * than mis-read: v2 deletes over Avro/ORC entries, unknown formats
  * and types, and more than [[maxEqualitySeqGroups]] distinct
  * equality-delete application groups.
  *
  * Scale: metadata resolution is manifest-scale (driver reads the JSON
  * + Avro metadata, never data); the scan is ONE stock parquet relation
  * over the live files with index-level pruning, so pushdown, column
  * pruning, vectorized reading, and whole-stage codegen all stay stock.
  */
object IcebergTable {

  /** One live data file with the manifest-declared facts that drive
    * pruning: `partition` holds the file's FULL partition-record values
    * keyed by partition-spec field name (identity values, bucket
    * ordinals, truncated prefixes — whatever the spec declares); bounds
    * and counts are keyed by Iceberg field id; `seq` is the data
    * sequence number (0 in v1) that gates delete application. */
  final case class DataFileEntry(path: String, format: String, recordCount: Long,
      sizeBytes: Long, seq: Long,
      partition: Map[String, Any],
      lower: Map[Int, Array[Byte]], upper: Map[Int, Array[Byte]],
      nullCounts: Map[Int, Long], valueCounts: Map[Int, Long],
      nanCounts: Map[Int, Long] = Map.empty)

  /** A live delete file: `content` 1 = position deletes, 2 = equality
    * deletes (over `equalityIds`). */
  final case class DeleteFileEntry(path: String, content: Int, recordCount: Long,
      seq: Long, equalityIds: Seq[Int])

  /** One partition-spec field; only `identity` transforms contribute
    * exact per-file values for pruning (others are sound no-ops). */
  final case class PartitionField(name: String, sourceId: Int, transform: String)

  final case class IcebergSnapshot(snapshotId: Long, timestampMs: Long,
      formatVersion: Int, schema: StructType, partitionFields: Seq[PartitionField],
      dataFiles: Seq[DataFileEntry], deleteFiles: Seq[DeleteFileEntry],
      nameMapping: Map[Int, Seq[String]] = Map.empty)

  /** Field-id metadata key — the one Spark's parquet reader matches on
    * when `spark.sql.parquet.fieldId.read.enabled` is set. */
  val FieldIdKey = "parquet.field.id"

  /** Cap on distinct (data-seq → applicable equality deletes) groups:
    * each group is one more scan in the union, so an unbounded history
    * of equality-delete commits must page through snapshots instead. */
  val maxEqualitySeqGroups = 32

  /** Position-delete sets up to this many rows ride the compact-bitmap
    * broadcast filter; bigger sets fall back to an AQE-planned
    * anti-join. */
  val maxBitmapDeleteRows = 10L * 1000 * 1000

  /** Unknown-size position-delete sets still ride the bitmap when
    * their parquet FILES total at most this many bytes (file length is
    * always knowable, a driver-side status call per delete file) —
    * without this gate, an A/B probe measured a byte-small
    * unknown-count set paying a full sort-merge shuffle of the TABLE
    * (12.7× at 1M deletes over 4M rows). Override per session with
    * `spark.graft.iceberg.maxBitmapDeleteBytes` (bare `graft.` prefix
    * kept for back-compat). */
  val maxBitmapDeleteBytes = 64L << 20

  /** Equality-delete row sets whose parquet files total at most this
    * many bytes join with a FORCED `broadcast()` hint (the common case:
    * eq-deletes are short-lived CDC keys, kilobytes to megabytes);
    * bigger sets — a Flink CDC writer can legally park multi-GB
    * equality-delete files between compactions — drop the hint and let
    * AQE pick the join strategy at runtime, as for position deletes
    * (a forced broadcast fires precisely on the
    * sets big enough to OOM it). Unknown lengths (a status call fails)
    * count as over-cap: the fallback join is always safe, the forced
    * broadcast is not. Override per session with
    * `spark.graft.iceberg.maxEqDeleteBroadcastBytes` (bare `graft.`
    * prefix kept for back-compat). */
  val maxEqDeleteBroadcastBytes = 64L << 20

  /** Marks schema fields whose Iceberg source type is `uuid`: their
    * Appendix-D bounds are 16-byte big-endian UUIDs, not UTF-8 text, so
    * the file index must never prune on them. */
  val UuidKey = "graft.iceberg.uuid"

  /** Read a delete-cap override under BOTH historical spellings —
    * `spark.graft.<suffix>` (preferred: matches every other graft knob,
    * `spark.graft.bpe.localVocabCap`, `spark.graft.etl.packBuckets`, …)
    * and the older bare `graft.<suffix>` (kept for back-compat) —
    * preferring the spark-prefixed one, so a user setting the natural
    * `spark.graft.iceberg.*` spelling is never silently ignored. */
  private def capConf(spark: SparkSession, suffix: String, dflt: Long): Long =
    spark.conf.getOption(s"spark.graft.$suffix")
      .orElse(spark.conf.getOption(s"graft.$suffix"))
      .map(_.toLong).getOrElse(dflt)

  // ---------------------------------------------------------------- metadata

  /** True when `root` looks like an Iceberg table (has a `metadata` dir
    * with at least one `*.metadata.json`). */
  def isIcebergTable(spark: SparkSession, root: String): Boolean = {
    val dir = new Path(s"${root.stripSuffix("/")}/metadata")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(dir) && fs.listStatus(dir).exists(_.getPath.getName.endsWith(".metadata.json"))
  }

  /** Load the CURRENT table metadata JSON: `version-hint.text` names the
    * version for Hadoop-catalog tables; otherwise the newest
    * `*.metadata.json` by numeric version prefix (both `vN.` and
    * `NNNNN-uuid.` namings) wins — the spec's metadata-log makes every
    * older file a strict ancestor, so newest-wins is exact. */
  private def loadMetadataJson(spark: SparkSession, root: String): JValue = {
    val base = root.stripSuffix("/")
    val dir = new Path(s"$base/metadata")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(dir), s"no Iceberg metadata directory under $root")
    val hint = new Path(dir, "version-hint.text")
    val chosen: Path =
      if (fs.exists(hint)) {
        val n = readUtf8(fs, hint).trim
        val p = new Path(dir, s"v$n.metadata.json")
        require(fs.exists(p), s"version-hint.text names v$n but $p is missing")
        p
      } else {
        val metas = fs.listStatus(dir).map(_.getPath)
          .filter(_.getName.endsWith(".metadata.json"))
        require(metas.nonEmpty, s"no *.metadata.json under $dir")
        metas.maxBy { p =>
          val name = p.getName.stripPrefix("v")
          val digits = name.takeWhile(_.isDigit)
          (if (digits.nonEmpty) digits.toLong else -1L, p.getName)
        }
      }
    JsonMethods.parse(readUtf8(fs, chosen))
  }

  private def readUtf8(fs: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  private def jLong(j: JValue): Option[Long] = j match {
    case JInt(n) => Some(n.toLong)
    case org.json4s.JLong(n) => Some(n)
    case _ => None
  }

  /** Iceberg JSON type → Spark type. `timestamptz` is the
    * UTC-adjusted flavor (Spark `TIMESTAMP`); bare `timestamp` is the
    * wall-clock flavor (`TIMESTAMP_NTZ`). Unknown types fail loud —
    * a silently-wrong column is worse than no read. */
  private[sources] def toSparkType(j: JValue): DataType = j match {
    case JString(s) => s match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "date" => DateType
      case "string" => StringType
      case "binary" => BinaryType
      case "timestamp" => TimestampNTZType
      case "timestamptz" => TimestampType
      case "uuid" => StringType
      case dec if dec.startsWith("decimal(") =>
        val Array(p, sc) = dec.stripPrefix("decimal(").stripSuffix(")").split(",").map(_.trim.toInt)
        DecimalType(p, sc)
      case fx if fx.startsWith("fixed[") => BinaryType
      case other => throw new UnsupportedOperationException(
        s"Iceberg type '$other' has no graft mapping yet")
    }
    case o: JObject => (o \ "type") match {
      case JString("struct") =>
        val JArray(fields) = (o \ "fields"): @unchecked
        StructType(fields.map { f =>
          val JString(name) = (f \ "name"): @unchecked
          val id = jLong(f \ "id").getOrElse(
            throw new IllegalArgumentException(s"struct field $name lacks an id"))
          val required = (f \ "required") match {
            case org.json4s.JBool(b) => b; case _ => false
          }
          val mb = new MetadataBuilder().putLong(FieldIdKey, id)
          if ((f \ "type") == JString("uuid")) mb.putBoolean(UuidKey, true)
          StructField(name, toSparkType(f \ "type"), nullable = !required, mb.build())
        })
      case JString("list") =>
        val required = (o \ "element-required") match {
          case org.json4s.JBool(b) => b; case _ => false
        }
        ArrayType(toSparkType(o \ "element"), containsNull = !required)
      case JString("map") =>
        val required = (o \ "value-required") match {
          case org.json4s.JBool(b) => b; case _ => false
        }
        MapType(toSparkType(o \ "key"), toSparkType(o \ "value"), valueContainsNull = !required)
      case other => throw new UnsupportedOperationException(
        s"Iceberg nested type '$other' has no graft mapping yet")
    }
    case other => throw new UnsupportedOperationException(
      s"unparseable Iceberg type: $other")
  }

  /** Resolve the snapshot to serve: explicit id, newest at-or-before a
    * timestamp (over `snapshot-log`), else `current-snapshot-id`. */
  /** A snapshot's metadata-JSON facts, resolved WITHOUT touching any
    * manifest: identity, schema, partition spec, and where the manifest
    * list lives — the shared head of [[snapshot]] (eager) and
    * [[lazySnapshot]] (manifests stay columnar). */
  private final case class SnapshotMeta(snapshotId: Long, timestampMs: Long,
      formatVersion: Int, schema: StructType,
      partitionFields: Seq[PartitionField], manifestList: String,
      nameMapping: Map[Int, Seq[String]])

  /** `schema.name-mapping.default` (spec Appendix C): field id → the
    * historical file-column names, for resolving files written WITHOUT
    * embedded field ids. Top-level fields only (this engine's table
    * schemas are flat). */
  private def parseNameMapping(meta: JValue): Map[Int, Seq[String]] =
    (meta \ "properties" \ "schema.name-mapping.default") match {
      case JString(s) =>
        scala.util.Try(JsonMethods.parse(s)).toOption.map {
          case JArray(entries) => entries.flatMap { e =>
            jLong(e \ "field-id").map { id =>
              id.toInt -> ((e \ "names") match {
                case JArray(ns) => ns.collect { case JString(n) => n }
                case _ => Seq.empty[String]
              })
            }
          }.toMap
          case _ => Map.empty[Int, Seq[String]]
        }.getOrElse(Map.empty)
      case _ => Map.empty
    }

  private def snapshotMeta(spark: SparkSession, root: String,
      snapshotId: Option[Long] = None,
      asOfTimestampMs: Option[Long] = None): SnapshotMeta = {
    require(snapshotId.isEmpty || asOfTimestampMs.isEmpty,
      "pass snapshotId OR asOfTimestampMs, not both")
    val meta = loadMetadataJson(spark, root)
    val formatVersion = jLong(meta \ "format-version").getOrElse(1L).toInt
    require(formatVersion == 1 || formatVersion == 2,
      s"Iceberg format-version $formatVersion is not supported (spec v1/v2 only)")
    val snapshots = (meta \ "snapshots") match {
      case JArray(ss) => ss
      case _ => Nil
    }
    require(snapshots.nonEmpty, s"Iceberg table at $root has no snapshots")
    val chosenId: Long = snapshotId.getOrElse {
      asOfTimestampMs match {
        case Some(ts) =>
          val log = (meta \ "snapshot-log") match { case JArray(es) => es; case _ => Nil }
          val eligible = log.flatMap { e =>
            for { t <- jLong(e \ "timestamp-ms"); id <- jLong(e \ "snapshot-id") }
              yield (t, id)
          }.filter(_._1 <= ts)
          require(eligible.nonEmpty,
            s"no Iceberg snapshot at or before timestamp $ts in $root's snapshot-log")
          eligible.maxBy(_._1)._2
        case None => jLong(meta \ "current-snapshot-id").getOrElse(
          throw new IllegalStateException(s"no current-snapshot-id in $root metadata"))
      }
    }
    val snapJ = snapshots.find(s => jLong(s \ "snapshot-id").contains(chosenId)).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot $chosenId not found in $root (expired? see metadata snapshot list)"))
    val manifestList = (snapJ \ "manifest-list") match {
      case JString(p) => p
      case _ => throw new UnsupportedOperationException(
        s"snapshot $chosenId has no manifest-list (v1 'manifests' inline form unsupported)")
    }
    // schema: v2 carries a schemas list + per-snapshot schema-id; v1 a
    // single 'schema'. A time-travel read serves the snapshot's schema.
    val schemaJ: JValue = {
      val bySnapshotId = jLong(snapJ \ "schema-id")
      val current = jLong(meta \ "current-schema-id")
      val wanted = bySnapshotId.orElse(current)
      (meta \ "schemas") match {
        case JArray(ss) if ss.nonEmpty =>
          wanted.flatMap(id => ss.find(s => jLong(s \ "schema-id").contains(id)))
            .getOrElse(ss.last)
        case _ => meta \ "schema"
      }
    }
    val schema = toSparkType(schemaJ) match {
      case st: StructType => st
      case o => throw new IllegalStateException(s"Iceberg schema is not a struct: $o")
    }
    // default partition spec (pruning aid only; non-default-spec files
    // simply carry whatever their manifest declares)
    val specJ: JValue = (meta \ "partition-specs") match {
      case JArray(ss) if ss.nonEmpty =>
        val want = jLong(meta \ "default-spec-id")
        want.flatMap(id => ss.find(s => jLong(s \ "spec-id").contains(id))).getOrElse(ss.last)
      case _ => meta \ "partition-spec" match {
        case arr: JArray => JObject(List("fields" -> arr))
        case o => o
      }
    }
    val partitionFields = (specJ \ "fields") match {
      case JArray(fs) => fs.flatMap { f =>
        for {
          JString(name) <- Option(f \ "name")
          sid <- jLong(f \ "source-id")
          JString(tr) <- Option(f \ "transform")
        } yield PartitionField(name, sid.toInt, tr)
      }
      case _ => Nil
    }
    val tz = jLong(snapJ \ "timestamp-ms").getOrElse(0L)
    SnapshotMeta(chosenId, tz, formatVersion, schema, partitionFields, manifestList,
      parseNameMapping(meta))
  }

  def snapshot(spark: SparkSession, root: String,
      snapshotId: Option[Long] = None,
      asOfTimestampMs: Option[Long] = None): IcebergSnapshot = {
    val m = snapshotMeta(spark, root, snapshotId, asOfTimestampMs)
    val (dataFiles, deleteFiles) =
      readManifests(spark, root, m.manifestList, m.partitionFields, m.schema)
    IcebergSnapshot(m.snapshotId, m.timestampMs, m.formatVersion, m.schema,
      m.partitionFields, dataFiles, deleteFiles, m.nameMapping)
  }

  /** A snapshot whose DATA manifests stay UNREAD — only the metadata
    * JSON, the manifest list, and the (bounded, compaction-tended)
    * delete manifests are driver-parsed. [[pruneDataManifests]] then
    * evaluates pushed predicates ON EXECUTORS, one task per manifest
    * group, and collects survivors only — the foreign-Iceberg port of
    * the same bound the native format and the Delta face already have.
    * `dataManifests`: (abs path, content, sequence). */
  final case class LazyIcebergSnapshot(snapshotId: Long, timestampMs: Long,
      formatVersion: Int, schema: StructType, partitionFields: Seq[PartitionField],
      root: String, dataManifests: Seq[(String, Int, Long)],
      deleteFiles: Seq[DeleteFileEntry],
      nameMapping: Map[Int, Seq[String]] = Map.empty)

  def lazySnapshot(spark: SparkSession, root: String,
      snapshotId: Option[Long] = None,
      asOfTimestampMs: Option[Long] = None): LazyIcebergSnapshot = {
    val m = snapshotMeta(spark, root, snapshotId, asOfTimestampMs)
    val refs = manifestRefs(spark, root, m.manifestList)
    val base = root.stripSuffix("/")
    val conf = spark.sparkContext.hadoopConfiguration
    val deletes = refs.filter(_._2 == 1).flatMap { case (p, c, q) =>
      parseManifest(conf, base, p, c, q)._2
    }
    LazyIcebergSnapshot(m.snapshotId, m.timestampMs, m.formatVersion, m.schema,
      m.partitionFields, root, refs.filter(_._2 == 0), deletes, m.nameMapping)
  }

  /** DISTRIBUTED manifest prune: executors parse the lazy snapshot's
    * data manifests (Avro core — no driver materialization) and
    * run the SAME [[SkippingKernel]] over [[IcebergEntryFacts]] the
    * driver-side index uses; only survivors come back. With no
    * readable predicate the full listing returns, but with
    * the bounds/count maps elided when `withStats = false` — the
    * dominant per-entry weight. A delete entry inside a DATA manifest
    * (no conforming writer produces one) fails loud rather than
    * silently resurrecting rows. */
  private[graft] def pruneDataManifests(spark: SparkSession, ls: LazyIcebergSnapshot,
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      withStats: Boolean): Seq[DataFileEntry] = {
    if (ls.dataManifests.isEmpty) return Nil
    val base = ls.root.stripSuffix("/")
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val kernel = SkippingKernel(filters)
    val facts = new IcebergEntryFacts(ls.schema, ls.partitionFields)
    val parseStats = withStats || kernel.canPrune
    val slices = math.max(1, math.min(ls.dataManifests.size,
      spark.sparkContext.defaultParallelism * 2))
    spark.sparkContext.parallelize(ls.dataManifests, slices)
      .flatMap { case (mPath, mContent, mSeq) =>
        val (data, dels) =
          parseManifest(serConf.value, base, mPath, mContent, mSeq, parseStats)
        if (dels.nonEmpty) throw new IllegalStateException(
          s"data manifest $mPath carries delete entries — the lazy scan cannot honor " +
            "them; read through IcebergTable.read")
        data.find(!_.format.equalsIgnoreCase("PARQUET")).foreach(e =>
          throw new IllegalStateException(
            s"Iceberg data file ${e.path} has format ${e.format} — the lazy parquet " +
              "scan cannot serve a mixed-format snapshot; IcebergTable.read routes " +
              "mixed snapshots to the eager union automatically — read through " +
              "it, or rewrite to parquet (IcebergWriter.rewriteCompact)"))
        data.filter(e => kernel.mayMatch(facts(e)))
      }.collect().toSeq
  }

  /** Total declared bytes of a lazy snapshot's data files — one
    * distributed SUM over the manifests; the driver receives one long
    * per manifest slice, never a listing. */
  private[graft] def lazySizeInBytes(spark: SparkSession,
      ls: LazyIcebergSnapshot): Long = {
    if (ls.dataManifests.isEmpty) return 0L
    val base = ls.root.stripSuffix("/")
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val slices = math.max(1, math.min(ls.dataManifests.size,
      spark.sparkContext.defaultParallelism * 2))
    spark.sparkContext.parallelize(ls.dataManifests, slices)
      .map { case (mPath, mContent, mSeq) =>
        parseManifest(serConf.value, base, mPath, mContent, mSeq, withStats = false)
          ._1.map(e => math.max(0L, e.sizeBytes)).sum
      }.sum().toLong
  }

  /** Newest committed sequence number — the streaming source's offset
    * probe (metadata-scale; None until the first snapshot). */
  private[graft] def latestSeq(spark: SparkSession, root: String): Option[Long] =
    scala.util.Try(loadMetadataJson(spark, root)).toOption.flatMap { meta =>
      (meta \ "snapshots") match {
        case JArray(ss) => ss.flatMap(s => jLong(s \ "sequence-number")).maxOption
        case _ => None
      }
    }

  /** The snapshot id carrying sequence number `seq` — metadata-only,
    * loud when expired (streaming needs every offset it committed to
    * remain resolvable until the batch is served). */
  private[graft] def snapshotIdAtSeq(spark: SparkSession, root: String,
      seq: Long): Long = {
    val meta = loadMetadataJson(spark, root)
    val id = (meta \ "snapshots") match {
      case JArray(ss) => ss.find(s => jLong(s \ "sequence-number").contains(seq))
        .flatMap(s => jLong(s \ "snapshot-id"))
      case _ => None
    }
    id.getOrElse(throw new IllegalArgumentException(
      s"no snapshot with sequence number $seq in $root (expired? streaming offsets " +
        "must outlive snapshot retention)"))
  }

  /** The snapshot carrying sequence number `seq`, fully materialized. */
  private[graft] def snapshotAtSeq(spark: SparkSession, root: String,
      seq: Long): IcebergSnapshot =
    snapshot(spark, root, Some(snapshotIdAtSeq(spark, root, seq)))

  /** Every snapshot's (sequence number, summary operation), ascending —
    * the metadata-scale facts incremental consumers classify commits
    * by. v1 snapshots carry no sequence numbers and are absent. */
  private[graft] def snapshotSeqOps(spark: SparkSession, root: String): Seq[(Long, String)] = {
    val meta = loadMetadataJson(spark, root)
    val snaps = (meta \ "snapshots") match { case JArray(ss) => ss; case _ => Nil }
    snaps.flatMap { s =>
      jLong(s \ "sequence-number").map { seq =>
        val op = (s \ "summary" \ "operation") match {
          case JString(o) => o; case _ => "append"
        }
        (seq, op)
      }
    }.sortBy(_._1)
  }

  /** CHANGELOG scan (the spec's incremental changelog concept, Delta's
    * `table_changes` analog for Iceberg): net row changes committed by
    * every snapshot with sequence number in `(fromSeq, toSeq]`, as the
    * table's rows plus `_change_type` (`insert` | `delete`) and
    * `_commit_seq`. Per snapshot, ascending:
    *
    *   - `replace` (compaction) snapshots contribute NOTHING — the spec
    *     defines them as file rewrites with no table-data change;
    *   - data files added by the snapshot emit their rows as `insert`
    *     (the snapshot's own delete files applied, so an overwrite's
    *     inserts are its net new rows);
    *   - data files REMOVED by the snapshot emit the rows that were
    *     live in the parent snapshot as `delete`;
    *   - delete files added by the snapshot emit, as `delete`, the
    *     rows of surviving older data files that were live before and
    *     dead after — computed as live-before EXCEPT ALL live-after
    *     over exactly the files the deletes can touch (position
    *     deletes name their files; equality deletes bound by data
    *     sequence number).
    *
    * Cost model: metadata work per snapshot plus data reads over only
    * the CHANGED files — except the equality-delete case, which must
    * scan the older files it may kill rows in (no row lineage exists
    * to do better; Iceberg's own changelog scan pays the same).
    * Format v2 only (v1 has no sequence numbers). */
  def changelog(spark: SparkSession, root: String,
      fromSeq: Option[Long] = None, toSeq: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val seqOps = snapshotSeqOps(spark, root)
    require(seqOps.nonEmpty,
      s"changelog needs Iceberg v2 sequence numbers — $root has none (format v1?)")
    val hi = toSeq.getOrElse(seqOps.map(_._1).max)
    val lo = fromSeq.getOrElse(0L)
    val inRange = seqOps.filter { case (s, _) => s > lo && s <= hi }
    // schema from METADATA alone, pinned to the last snapshot at or
    // below the range's end — no manifest is parsed for it (the
    // streaming face calls this per trigger), and a concurrent schema
    // change cannot shift the output mid-replay; `hi` between snapshot
    // seqs (a caller-chosen bound) pins to the newest covered one
    val schemaSeq = seqOps.map(_._1).filter(_ <= hi).maxOption
      .getOrElse(seqOps.map(_._1).min)
    val outSchema = stripIds(
      snapshotMeta(spark, root, Some(snapshotIdAtSeq(spark, root, schemaSeq))).schema)
      .add("_change_type", StringType).add("_commit_seq", LongType)
    def empty: DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    def tag(df: DataFrame, kind: String, seq: Long): DataFrame =
      df.withColumn("_change_type", lit(kind)).withColumn("_commit_seq", lit(seq))
    // every snapshot in range loads ONCE: each iteration's snapshot is
    // the next iteration's parent (replace snapshots emit nothing but
    // still serve as parents), and only the first parent needs its own
    // load
    var prev: Option[IcebergSnapshot] = inRange.headOption.flatMap { case (first, _) =>
      seqOps.map(_._1).filter(_ < first).maxOption.map(snapshotAtSeq(spark, root, _))
    }
    val parts: Seq[DataFrame] = inRange.flatMap { case (seq, op) =>
      val snapS = snapshotAtSeq(spark, root, seq)
      val prior: Option[IcebergSnapshot] = prev
      prev = Some(snapS)
      if (op == "replace") Nil // file rewrite, no data change
      else {
        val inserts: Seq[DataFrame] = {
          val added = snapS.dataFiles.filter(_.seq == seq)
          if (added.isEmpty) Nil
          else Seq(tag(readSnapshot(spark, root,
            snapS.copy(dataFiles = added)), "insert", seq))
        }
        val removes: Seq[DataFrame] = prior.toSeq.flatMap { p =>
          val after = snapS.dataFiles.map(_.path).toSet
          val removedEntries = p.dataFiles.filterNot(e => after.contains(e.path))
          if (removedEntries.isEmpty) Nil
          else Seq(tag(readSnapshot(spark, root,
            p.copy(dataFiles = removedEntries)), "delete", seq))
        }
        val deleteHits: Seq[DataFrame] = prior.toSeq.flatMap { p =>
          val newDeletes = snapS.deleteFiles.filter(_.seq == seq)
          if (newDeletes.isEmpty) Nil
          else {
            val after = snapS.dataFiles.map(_.path).toSet
            val survivors = p.dataFiles.filter(e => after.contains(e.path))
            // position deletes name their victim files; equality deletes
            // can touch any strictly-older file
            val eqPresent = newDeletes.exists(_.content == 2)
            val targets =
              if (eqPresent) survivors.filter(_.seq < seq)
              else {
                val named = spark.read.parquet(newDeletes.map(_.path): _*)
                  .select("file_path").distinct()
                  .collect().map(r => fileTag(r.getString(0))).toSet
                survivors.filter(e => named.contains(fileTag(e.path)))
              }
            if (targets.isEmpty) Nil
            else {
              val before = readSnapshot(spark, root, p.copy(dataFiles = targets))
              val afterDf = readSnapshot(spark, root,
                snapS.copy(dataFiles = targets))
              Seq(tag(before.exceptAll(afterDf), "delete", seq))
            }
          }
        }
        inserts ++ removes ++ deleteHits
      }
    }
    // metadata-clean output: the per-snapshot frames carry
    // `parquet.field.id` on id-resolved reads, and a sink writing some
    // batches WITH embedded ids and some WITHOUT produces parquet a
    // field-id-aware reader refuses to mix — changelog rows are DERIVED
    // data, transport metadata has no business on them
    parts.reduceOption(_ unionByName _).getOrElse(empty)
      .select(outSchema.fields.map(f =>
        col(s"`${f.name}`").as(f.name,
          org.apache.spark.sql.types.Metadata.empty)).toIndexedSeq: _*)
  }

  /** Every snapshot's metadata-JSON facts, oldest first:
    * (snapshotId, parentId, timestampMs, operation, manifestList,
    * summary). */
  private def snapshotMetaRows(spark: SparkSession, root: String)
      : Seq[(Long, Option[Long], Long, String, String, Map[String, String])] = {
    val meta = loadMetadataJson(spark, root)
    val snaps = (meta \ "snapshots") match { case JArray(ss) => ss; case _ => Nil }
    snaps.flatMap { s =>
      for {
        id <- jLong(s \ "snapshot-id")
        ts <- jLong(s \ "timestamp-ms")
      } yield {
        val op = (s \ "summary" \ "operation") match {
          case JString(o) => o; case _ => "append"
        }
        val list = (s \ "manifest-list") match { case JString(p) => p; case _ => "" }
        val summary = (s \ "summary") match {
          case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
          case _ => Map.empty[String, String]
        }
        (id, jLong(s \ "parent-snapshot-id"), ts, op, list, summary)
      }
    }.sortBy(_._3)
  }

  /** The table's commit history shaped like `ManifestTable.history`
    * (version, timestamp, operation, data_change, n_files — newest
    * first; an Iceberg table's "version" IS its snapshot id), so
    * `DESCRIBE HISTORY` answers over all three lake formats.
    * Metadata-scale: file counts come from the snapshot summary's
    * `added-data-files` when the writer published it, else from ONE
    * manifest-list read per snapshot (`added_files_count` of the
    * manifests that snapshot added) — never data. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val base = root.stripSuffix("/")
    def abs(p: String): String = {
      val i = p.indexOf("/metadata/")
      if (i >= 0 && !p.startsWith(base)) s"$base${p.substring(i)}"
      else if (p.contains(":/") || p.startsWith("/")) p
      else s"$base/$p"
    }
    val rows: Seq[Row] = snapshotMetaRows(spark, root).reverse.map {
      case (id, _, ts, op, list, summary) =>
        val nFiles: Long = summary.get("added-data-files").flatMap(s =>
          scala.util.Try(s.toLong).toOption).getOrElse {
          if (list.isEmpty) 0L
          else {
            val rdr = openAvro(spark, abs(list))
            try {
              var n = 0L
              while (rdr.hasNext) {
                val r = rdr.next()
                val added = fieldOf(r, "added_snapshot_id").map(asLong)
                if (added.contains(id))
                  n += fieldOf(r, "added_files_count", "added_data_files_count")
                    .map(asLong).getOrElse(0L)
              }
              n
            } finally rdr.close()
          }
        }
        Row(id, new java.sql.Timestamp(ts), op, op != "replace", nFiles)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("timestamp", TimestampType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("data_change", BooleanType, nullable = false),
      StructField("n_files", LongType, nullable = false))))
  }

  /** Iceberg's `snapshots` metadata-table idiom (one row per snapshot:
    * committed_at, snapshot_id, parent_id, operation, manifest_list,
    * summary), served from the metadata JSON alone. Reachable as
    * `spark.read.format("graft-iceberg").option("metadata",
    * "snapshots")`. */
  def snapshotsTable(spark: SparkSession, root: String): DataFrame = {
    val rows: Seq[Row] = snapshotMetaRows(spark, root).map {
      case (id, parent, ts, op, list, summary) =>
        Row(new java.sql.Timestamp(ts), id, parent.map(java.lang.Long.valueOf).orNull,
          op, list, summary)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("committed_at", TimestampType, nullable = false),
      StructField("snapshot_id", LongType, nullable = false),
      StructField("parent_id", LongType, nullable = true),
      StructField("operation", StringType, nullable = false),
      StructField("manifest_list", StringType, nullable = false),
      StructField("summary", MapType(StringType, StringType), nullable = false))))
  }

  /** Iceberg's `files` metadata-table idiom: one row per LIVE data file
    * of the current snapshot (content, file_path, file_format,
    * record_count, file_size_in_bytes, partition as a string-rendered
    * map, data sequence number). Manifest-scale. Reachable as
    * `format("graft-iceberg").option("metadata", "files")`. */
  def filesTable(spark: SparkSession, root: String): DataFrame = {
    val snap = snapshot(spark, root)
    val rows: Seq[Row] = snap.dataFiles.map { f =>
      Row(0, f.path, f.format, f.recordCount, f.sizeBytes,
        f.partition.map { case (k, v) => k -> String.valueOf(v) },
        f.seq)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("content", IntegerType, nullable = false),
      StructField("file_path", StringType, nullable = false),
      StructField("file_format", StringType, nullable = false),
      StructField("record_count", LongType, nullable = false),
      StructField("file_size_in_bytes", LongType, nullable = false),
      StructField("partition", MapType(StringType, StringType), nullable = false),
      StructField("sequence_number", LongType, nullable = false))))
  }

  // ---------------------------------------------------------------- manifests

  private def openAvro(spark: SparkSession, path: String): DataFileReader[GenericRecord] =
    openAvroConf(spark.sparkContext.hadoopConfiguration, path)

  private def openAvroConf(conf: org.apache.hadoop.conf.Configuration,
      path: String): DataFileReader[GenericRecord] = {
    val in = new FsInput(new Path(path), conf)
    new DataFileReader[GenericRecord](in, new GenericDatumReader[GenericRecord]())
  }

  /** Generic-record field access tolerant of cross-version naming. */
  private def fieldOf(r: GenericRecord, names: String*): Option[AnyRef] =
    names.collectFirst {
      case n if r.getSchema.getField(n) != null && r.get(n) != null => r.get(n)
    }

  private def asLong(v: AnyRef): Long = v match {
    case n: java.lang.Number => n.longValue()
    case o => o.toString.toLong
  }

  private def asString(v: AnyRef): String = v.toString // Utf8 → String

  private def asBytes(v: AnyRef): Array[Byte] = v match {
    case b: java.nio.ByteBuffer =>
      val d = b.duplicate(); val out = new Array[Byte](d.remaining()); d.get(out); out
    case a: Array[Byte] => a
    case o => throw new IllegalArgumentException(s"not bytes: ${o.getClass}")
  }

  /** Iceberg writes int-keyed maps as arrays of {key, value} records
    * (`logicalType: map`); plain Avro maps appear from other writers.
    * Accept both. */
  private def kvPairs(v: AnyRef): Seq[(Int, AnyRef)] = v match {
    case null => Nil
    case m: java.util.Map[_, _] =>
      import scala.jdk.CollectionConverters._
      m.asScala.toSeq.map { case (k, vv) =>
        k.toString.toInt -> vv.asInstanceOf[AnyRef] }
    case l: java.util.List[_] =>
      import scala.jdk.CollectionConverters._
      l.asScala.toSeq.collect { case r: GenericRecord =>
        asLong(r.get("key").asInstanceOf[AnyRef]).toInt -> r.get("value").asInstanceOf[AnyRef]
      }
    case o => throw new IllegalArgumentException(s"unexpected map encoding: ${o.getClass}")
  }

  /** Spec path resolution: manifest paths are absolute; tables
    * relocated after write (fixtures, copied warehouses) re-anchor by
    * the `/metadata/` marker. Pure — callable on executors. */
  private[sources] def absPath(base: String, p: String): String = {
    val i = p.indexOf("/metadata/")
    if (i >= 0 && !p.startsWith(base)) s"$base${p.substring(i)}"
    else if (p.contains(":/") || p.startsWith("/")) p
    else s"$base/$p"
  }

  /** The manifest LIST's rows — (abs manifest path, content, seq);
    * driver-side, O(#manifests). */
  private[graft] def manifestRefs(spark: SparkSession, root: String,
      manifestList: String): Seq[(String, Int, Long)] = {
    val base = root.stripSuffix("/")
    val rdr = openAvro(spark, absPath(base, manifestList))
    try {
      val out = Seq.newBuilder[(String, Int, Long)]
      while (rdr.hasNext) {
        val r = rdr.next()
        val path = asString(fieldOf(r, "manifest_path").getOrElse(
          throw new IllegalStateException("manifest-list row lacks manifest_path")))
        val content = fieldOf(r, "content").map(asLong(_).toInt).getOrElse(0)
        val seq = fieldOf(r, "sequence_number").map(asLong).getOrElse(0L)
        out += ((absPath(base, path), content, seq))
      }
      out.result()
    } finally rdr.close()
  }

  /** Parse ONE manifest's live entries — a pure function over a Hadoop
    * configuration, callable ON EXECUTORS (the distributed prune's unit
    * of parallelism). `withStats = false` elides the bounds/count maps,
    * the dominant per-entry weight, for listings that will not prune. */
  private[graft] def parseManifest(conf: org.apache.hadoop.conf.Configuration,
      base: String, mPath: String, mContent: Int, mSeq: Long,
      withStats: Boolean = true): (Seq[DataFileEntry], Seq[DeleteFileEntry]) = {
    val dataOut = Seq.newBuilder[DataFileEntry]
    val delOut = Seq.newBuilder[DeleteFileEntry]
    val rdr = openAvroConf(conf, mPath)
    try {
      while (rdr.hasNext) {
        val e = rdr.next()
        val status = fieldOf(e, "status").map(asLong(_).toInt).getOrElse(1)
        if (status != 2) { // 2 = DELETED
          val seq = fieldOf(e, "sequence_number").map(asLong).getOrElse(mSeq)
          val df = fieldOf(e, "data_file").getOrElse(
            throw new IllegalStateException(s"manifest entry without data_file in $mPath"))
            .asInstanceOf[GenericRecord]
          val path = absPath(base, asString(fieldOf(df, "file_path").get))
          val fmt = fieldOf(df, "file_format").map(asString).getOrElse("PARQUET")
          val nRec = fieldOf(df, "record_count").map(asLong).getOrElse(-1L)
          val size = fieldOf(df, "file_size_in_bytes").map(asLong).getOrElse(-1L)
          val content = fieldOf(df, "content").map(asLong(_).toInt).getOrElse(mContent)
          if (content == 0) {
            val partition: Map[String, Any] = fieldOf(df, "partition") match {
              case Some(pr: GenericRecord) =>
                import scala.jdk.CollectionConverters._
                pr.getSchema.getFields.asScala.flatMap { f =>
                  Option(pr.get(f.name())).map(v => f.name -> avroValue(v))
                }.toMap
              case _ => Map.empty
            }
            def bytesOf(field: String): Map[Int, Array[Byte]] =
              if (!withStats) Map.empty
              else fieldOf(df, field).map(kvPairs).getOrElse(Nil)
                .map { case (k, v) => k -> asBytes(v) }.toMap
            def longsOf(field: String): Map[Int, Long] =
              if (!withStats) Map.empty
              else fieldOf(df, field).map(kvPairs).getOrElse(Nil)
                .map { case (k, v) => k -> asLong(v) }.toMap
            dataOut += DataFileEntry(path, fmt, nRec, size, seq, partition,
              bytesOf("lower_bounds"), bytesOf("upper_bounds"), longsOf("null_value_counts"),
              longsOf("value_counts"), longsOf("nan_value_counts"))
          } else {
            import scala.jdk.CollectionConverters._
            val eqIds = fieldOf(df, "equality_ids") match {
              case Some(l: java.util.List[_]) => l.asScala.toSeq.map(x =>
                asLong(x.asInstanceOf[AnyRef]).toInt)
              case _ => Nil
            }
            delOut += DeleteFileEntry(path, content, nRec, seq, eqIds)
          }
        }
      }
    } finally rdr.close()
    (dataOut.result(), delOut.result())
  }

  private def readManifests(spark: SparkSession, root: String, manifestList: String,
      partitionFields: Seq[PartitionField], schema: StructType)
      : (Seq[DataFileEntry], Seq[DeleteFileEntry]) = {
    val base = root.stripSuffix("/")
    val conf = spark.sparkContext.hadoopConfiguration
    val parsed = manifestRefs(spark, root, manifestList).map { case (mPath, mContent, mSeq) =>
      parseManifest(conf, base, mPath, mContent, mSeq)
    }
    (parsed.flatMap(_._1), parsed.flatMap(_._2))
  }

  /** Avro value → comparable JVM value (identity partition values). */
  private def avroValue(v: Any): Any = v match {
    case u: org.apache.avro.util.Utf8 => u.toString
    case b: java.nio.ByteBuffer => asBytes(b)
    case o => o
  }

  // ---------------------------------------------------------------- read

  /** Decode the spec's Appendix-D single-value serialization for the
    * orderable primitives (little-endian numerics, UTF-8 strings);
    * types we can't decode return None and simply never prune. */
  def decodeBound(bytes: Array[Byte], dt: DataType): Option[Any] = {
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType | DateType if bytes.length >= 4 => Some(buf.getInt)
      case LongType | TimestampType | TimestampNTZType if bytes.length >= 8 => Some(buf.getLong)
      // a long column's bound may be written as 4 bytes by old writers? no — spec fixes widths
      case FloatType if bytes.length >= 4 => Some(buf.getFloat)
      case DoubleType if bytes.length >= 8 => Some(buf.getDouble)
      case StringType => Some(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      case BooleanType if bytes.length >= 1 => Some(bytes(0) != 0)
      case _ => None
    }
  }

  /** Read the table's current (or time-traveled) snapshot as ONE stock
    * parquet scan behind an [[IcebergFileIndex]], with v2 deletes
    * applied. Column resolution is BY FIELD ID (the spec's rule), so
    * files written before a rename serve the renamed schema. */
  def read(spark: SparkSession, root: String, snapshotId: Option[Long] = None,
      asOfTimestampMs: Option[Long] = None): DataFrame = {
    // LAZY resolution even with deletes present: data manifests
    // parse on executors, never the driver. None = no live data entry
    // OR an AVRO/ORC-sampled snapshot — the eager read serves both
    // (the trivially empty frame, or the IcebergAvroData leg).
    val ls = lazySnapshot(spark, root, snapshotId, asOfTimestampMs)
    lazyScanSchemas(spark, ls) match {
      case None => readSnapshot(spark, root, materialize(spark, ls))
      case Some(schemas) =>
        // the one-entry sample saying "parquet" does not prove the
        // SNAPSHOT is parquet — a mixed parquet+ORC/AVRO table sampled at
        // a parquet entry would resolve lazily and then throw at scan
        // time, making a table read depend on manifest entry order. A
        // distributed probe (executors parse,
        // the driver collects only non-parquet entries — zero rows for
        // the universal all-parquet table) decides the route: any
        // foreign entry sends the snapshot to the eager union, which
        // serves all three legs. The bill is one extra manifest pass per
        // read() on parquet-sampled tables — the honest price of
        // order-independence; direct lazy consumers (streaming source,
        // SQL resolution) keep the loud scan-time refusal pointing here.
        if (foreignDataEntries(spark, ls).isEmpty) readLazyFrom(spark, root, ls, schemas)
        else readSnapshot(spark, root, materialize(spark, ls))
    }
  }

  /** Non-parquet (AVRO/ORC) data entries of a lazy snapshot, parsed on
    * EXECUTORS — O(foreign) driver heap, empty for all-parquet tables.
    * [[read]]'s mixed-format routing probe. */
  private[graft] def foreignDataEntries(spark: SparkSession,
      ls: LazyIcebergSnapshot): Seq[DataFileEntry] = {
    if (ls.dataManifests.isEmpty) return Nil
    val base = ls.root.stripSuffix("/")
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val slices = math.max(1, math.min(ls.dataManifests.size,
      spark.sparkContext.defaultParallelism * 2))
    spark.sparkContext.parallelize(ls.dataManifests, slices)
      .flatMap { case (mPath, mContent, mSeq) =>
        parseManifest(serConf.value, base, mPath, mContent, mSeq, withStats = false)
          ._1.filterNot(_.format.equalsIgnoreCase("PARQUET"))
      }.collect().toSeq
  }

  /** Synthetic per-row DATA SEQUENCE NUMBER column: served as a
    * partition column straight from each file's manifest entry (zero
    * data read, zero join), consumed by the equality-delete
    * application and dropped before the result leaves. Its existence
    * is what frees delete-carrying reads from materializing the data
    * file list on the driver: the old grouping needed every file's
    * (tag, seq) pair driver-side, the column formulation needs only
    * the DELETE files' sequence numbers (bounded). */
  private[graft] val SeqColName = "__seq"

  private[graft] def readSnapshot(spark: SparkSession, root: String,
      snap: IcebergSnapshot): DataFrame = {
    // AVRO data files read through the Avro-core RDD leg
    // ([[IcebergAvroData]] — spec Appendix A; some Flink pipelines
    // write them) and ORC data files through the orc-core RDD leg
    // ([[IcebergOrcData]] — the Hive-heritage shape), both unioned
    // with the stock parquet scan; anything else stays a loud refusal.
    // v2 deletes over a snapshot holding Avro/ORC entries are refused
    // too: position deletes address file/row positions the RDD legs
    // cannot serve — compacting to parquet is both the workaround and
    // the production fix.
    val avroEntries = snap.dataFiles.filter(_.format.equalsIgnoreCase("AVRO"))
    val orcEntries = snap.dataFiles.filter(_.format.equalsIgnoreCase("ORC"))
    val parquetEntries = snap.dataFiles.filter(_.format.equalsIgnoreCase("PARQUET"))
    val bad = snap.dataFiles
      .filterNot(e => Seq("AVRO", "ORC", "PARQUET").exists(e.format.equalsIgnoreCase))
    require(bad.isEmpty,
      s"Iceberg table at $root has non-parquet/avro/orc data files (${bad.take(3).map(_.format).distinct.mkString(",")}) — unsupported")
    require((avroEntries.isEmpty && orcEntries.isEmpty) || snap.deleteFiles.isEmpty,
      s"Iceberg table at $root carries v2 deletes over AVRO/ORC data files — unsupported; " +
        "rewrite to parquet first (IcebergWriter.rewriteCompact runs on foreign tables)")
    if (snap.dataFiles.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], stripIds(snap.schema))
    val parquetFrame: Option[DataFrame] = if (parquetEntries.isEmpty) None else {
      val psnap = snap.copy(dataFiles = parquetEntries)
      val (dataSchema, partSchema0, scanOptions, project) = scanSchemas(spark, psnap)
      val partSchema =
        if (psnap.deleteFiles.exists(_.content == 2)) partSchema0.add(SeqColName, LongType)
        else partSchema0
      val index = new IcebergFileIndex(spark, root, psnap, partSchema)
      val relation = HadoopFsRelation(index, partSchema, dataSchema, None,
        new ParquetFileFormat, scanOptions)(spark)
      val base = org.apache.spark.sql.GraftSqlBridge.ofRows(spark, LogicalRelation(relation))
      Some(applyDeletes(spark, psnap.schema, psnap.deleteFiles,
        Some(psnap.dataFiles.map(f => fileTag(f.path)).toSet), base, project))
    }
    val avroFrame: Option[DataFrame] = if (avroEntries.isEmpty) None
      else Some(IcebergAvroData.frame(spark, snap.schema, avroEntries, snap.partitionFields))
    val orcFrame: Option[DataFrame] = if (orcEntries.isEmpty) None
      else Some(IcebergOrcData.frame(spark, snap.schema, orcEntries, snap.partitionFields))
    (parquetFrame.toSeq ++ avroFrame ++ orcFrame).reduceOption(_.unionByName(_))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], stripIds(snap.schema)))
  }

  /** The LAZY read — delete-carrying snapshots included: the
    * data manifests stay unread on the driver; the scan's
    * [[IcebergFileIndex]] prunes them on executors, position deletes
    * collect only the (bounded) delete rows, and equality deletes
    * apply through the [[SeqColName]] partition column instead of a
    * driver-side file→sequence grouping. None ⇔ no live data entry
    * anywhere, OR an AVRO/ORC-sampled snapshot — callers fall back
    * to the eager read, which serves both. */
  private[graft] def readLazy(spark: SparkSession, root: String,
      ls: LazyIcebergSnapshot): Option[DataFrame] =
    lazyScanSchemas(spark, ls).map(readLazyFrom(spark, root, ls, _))

  /** [[readLazy]] over a precomputed `lazyScanSchemas` resolution —
    * callers that already paid the one-manifest sample parse + footer
    * probe (source registration, SQL resolution) pass it through
    * instead of re-resolving. */
  private[graft] def readLazyFrom(spark: SparkSession, root: String,
      ls: LazyIcebergSnapshot,
      schemas: (StructType, StructType, Map[String, String], MappedProjection)): DataFrame = {
    val (dataSchema, partSchema0, scanOptions, project) = schemas
    val partSchema =
      if (ls.deleteFiles.exists(_.content == 2)) partSchema0.add(SeqColName, LongType)
      else partSchema0
    val index = new IcebergFileIndex(spark, root, ls, partSchema)
    val relation = HadoopFsRelation(index, partSchema, dataSchema, None,
      new ParquetFileFormat, scanOptions)(spark)
    val base = org.apache.spark.sql.GraftSqlBridge.ofRows(spark, LogicalRelation(relation))
    // no liveNames: the data-file list never exists driver-side; a
    // delete blob naming a dead file just never matches (bounded by
    // the delete rows already collected)
    applyDeletes(spark, ls.schema, ls.deleteFiles, None, base, project)
  }

  /** The (data, partition) schemas the scan uses plus the per-relation
    * scan options, probed from one parquet footer driver-side:
    *
    *   - files written by real Iceberg writers embed field ids →
    *     request WITH id metadata and turn on Spark's id-based
    *     resolution AS A RELATION OPTION (relation options layer over
    *     the session conf in the scan's hadoopConf, so the flag binds
    *     to exactly this scan — never leaked session-wide, never
    *     overriding a user's explicit setting on unrelated reads), so
    *     renamed columns read old files correctly; files published by
    *     [[IcebergWriter.mirror]] carry no ids (the metadata's
    *     `schema.name-mapping.default` is the spec's fallback) →
    *     request WITHOUT ids and resolve by name, exact because
    *     mirrors never rename;
    *   - identity-partitioned columns ABSENT from the files (hive-style
    *     layouts: graft mirrors, migrated Hive tables) become partition
    *     columns served from the manifest's typed partition values;
    *     Iceberg-written files carry every column, so the partition
    *     schema is empty and all columns read from the files. */
  /** Per-field logical → physical-candidate names when name mapping
    * engages (files without embedded ids + a mapping declaring
    * historical names ≠ the current one): the scan reads EVERY
    * candidate column and the read projects
    * `coalesce(current, old…)` — exact because a conforming file
    * carries at most ONE of a field's names, so the others read as
    * all-null in that file. None ⇔ no projection needed (ids present,
    * no mapping, or mapping only restates current names — the mirror
    * fast path). */
  private[graft] type MappedProjection = Option[Seq[(String, Seq[String])]]

  private[graft] def scanSchemas(spark: SparkSession, snap: IcebergSnapshot)
      : (StructType, StructType, Map[String, String], MappedProjection) =
    scanSchemasFor(spark, snap.schema, snap.partitionFields, snap.dataFiles.head.path,
      snap.nameMapping)

  /** [[scanSchemas]] for a LAZY snapshot: the one-footer probe samples
    * the first LIVE entry across the data manifests in order (each
    * parsed driver-side, stats elided, until one yields — a head
    * manifest can legally hold only status=DELETED rows). None = no
    * live entry anywhere: the table is effectively empty and callers
    * route the eager path, whose empty read is trivially cheap. */
  /** None ⇔ the lazy parquet relation cannot serve this snapshot: no
    * live data entry anywhere, OR the sampled entry is an AVRO
    * or ORC data file — every caller's None branch materializes the
    * snapshot and reads EAGERLY, which serves all three (the empty
    * frame, the [[IcebergAvroData]] leg, or the [[IcebergOrcData]]
    * leg, wired through [[readSnapshot]]). A MIXED snapshot sampled at
    * a parquet entry still resolves lazily and fails loud at scan time
    * (see [[pruneDataManifests]]). */
  private[graft] def lazyScanSchemas(spark: SparkSession, ls: LazyIcebergSnapshot)
      : Option[(StructType, StructType, Map[String, String], MappedProjection)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = ls.root.stripSuffix("/")
    ls.dataManifests.iterator
      .map { case (p, c, q) => parseManifest(conf, base, p, c, q, withStats = false)._1.headOption }
      .collectFirst { case Some(e) => e }
      // any non-parquet sample (AVRO, ORC) routes to the eager read,
      // which serves both through their RDD legs — probing a parquet
      // footer on either would just crash cryptically
      .filter(_.format.equalsIgnoreCase("PARQUET"))
      .map(sample => scanSchemasFor(spark, ls.schema, ls.partitionFields, sample.path,
        ls.nameMapping))
  }

  /** Materialize a lazy snapshot into the eager form WITHOUT
    * re-resolving metadata: the manifest refs and delete files it
    * already holds seed the driver-side parse — delete-carrying reads
    * pay ONE metadata resolution, not two. Delete entries found in
    * data manifests fold in exactly as [[readManifests]] collects
    * them. */
  private[graft] def materialize(spark: SparkSession,
      ls: LazyIcebergSnapshot): IcebergSnapshot = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = ls.root.stripSuffix("/")
    val parsed = ls.dataManifests.map { case (p, c, q) => parseManifest(conf, base, p, c, q) }
    IcebergSnapshot(ls.snapshotId, ls.timestampMs, ls.formatVersion, ls.schema,
      ls.partitionFields, parsed.flatMap(_._1), ls.deleteFiles ++ parsed.flatMap(_._2),
      ls.nameMapping)
  }

  private def scanSchemasFor(spark: SparkSession, snapSchema: StructType,
      partitionFields: Seq[PartitionField], samplePath: String,
      nameMapping: Map[Int, Seq[String]] = Map.empty)
      : (StructType, StructType, Map[String, String], MappedProjection) = {
    val (footerNames, carriesIds) =
      footerFieldNames(spark.sparkContext.hadoopConfiguration, samplePath)
    // resolution mode is decided by the TABLE (does the metadata carry
    // `schema.name-mapping.default`?), not by which file the one-footer
    // sample happened to be: a mirror later appended to by the writer
    // legally MIXES id-free and id-carrying files, and a sample-driven
    // choice would make the whole-table resolution depend on manifest
    // order (id-based over the id-free legacy files then rides Spark's
    // missing-field-id error). With a mapping present, name-based
    // resolution is exact for BOTH kinds: id-free files resolve through
    // the mapping's names, and id-carrying files expose a mapped name
    // too — PROVIDED the mapping covers every historical name (the
    // spec's own maintenance expectation when name mapping is in use).
    // The known boundary: an id-carrying file written under an old name
    // the mapping never recorded reads that field as null here, where
    // pure id resolution would have served it — the spec's per-file
    // precedence (ids when present, mapping otherwise) is not
    // expressible in one lazy Spark scan, and a deterministic
    // whole-table rule beats a manifest-order coin flip.
    val useIds = carriesIds && nameMapping.isEmpty
    val (base, opts) =
      if (useIds)
        (snapSchema, Map("spark.sql.parquet.fieldId.read.enabled" -> "true"))
      else (stripIds(snapSchema), Map.empty[String, String])
    val idName: Map[Int, String] = snapSchema.fields.flatMap { f =>
      if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey).toInt -> f.name)
      else None
    }.toMap
    // historical file-column names per field (current name first) — only
    // meaningful when files resolve BY NAME and the mapping declares a
    // name other than the current one (a renamed, migrated table;
    // mirrors restate current names and stay simple)
    val aliases: Map[String, Seq[String]] =
      if (useIds || nameMapping.isEmpty) Map.empty
      else snapSchema.fields.flatMap { f =>
        val id = if (f.metadata.contains(FieldIdKey))
          Some(f.metadata.getLong(FieldIdKey).toInt) else None
        val old = id.map(i => nameMapping.getOrElse(i, Nil)).getOrElse(Nil)
          .filterNot(_ == f.name)
        if (old.isEmpty) None else Some(f.name -> (f.name +: old.distinct))
      }.toMap
    val candidatesOf = (n: String) => aliases.getOrElse(n, Seq(n))
    if (aliases.nonEmpty) {
      val all = base.fields.flatMap(f => candidatesOf(f.name))
      require(all.distinct.length == all.length,
        s"schema.name-mapping.default aliases collide across fields (${all.toSeq}) — " +
          "coalesce resolution would be ambiguous; read this table with an id-aware writer")
    }
    val missing = partitionFields.filter(_.transform == "identity")
      .flatMap(pf => idName.get(pf.sourceId))
      .filterNot(n => candidatesOf(n).exists(footerNames.contains))
    val dataFields = base.filterNot(f => missing.contains(f.name))
    if (aliases.isEmpty)
      (StructType(dataFields), StructType(missing.map(n => base(n))), opts, None)
    else {
      // physical read schema: one nullable column per candidate name —
      // files missing a candidate serve null there, and the projection
      // coalesces per field in current-then-historical order
      val phys = StructType(dataFields.flatMap(f =>
        candidatesOf(f.name).map(n => StructField(n, f.dataType, nullable = true))))
      val project = base.fields.toSeq.map { f =>
        f.name -> (if (missing.contains(f.name)) Seq(f.name) else candidatesOf(f.name))
      }
      (phys, StructType(missing.map(n => base(n))), opts, Some(project))
    }
  }

  /** One parquet FOOTER's (column names, any-field-carries-id), probed
    * driver-side — shared by the scan-schema sample and the
    * equality-delete per-file column resolution. */
  private def footerFieldNames(conf: org.apache.hadoop.conf.Configuration,
      path: String): (Set[String], Boolean) = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(path), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val fs = r.getFileMetaData.getSchema.getFields.asScala
      (fs.map(_.getName).toSet, fs.exists(_.getId != null))
    } finally r.close()
  }

  /** Output schema with transport metadata (field ids) stripped. */
  private[sources] def stripIds(st: StructType): StructType =
    StructType(st.fields.map(f => StructField(f.name, f.dataType, f.nullable)))

  /** Canonical per-file tag used to match delete rows to data rows:
    * the path suffix after the LAST `/data/` segment, URI scheme
    * stripped — i.e. the partition-dir-qualified file name. This
    * disambiguates identically-named data files sitting in different
    * partition directories (the spec does not guarantee unique base
    * names across a table) while staying stable across table
    * relocation (everything before `/data/` changes; the layout under
    * it does not). Paths without a `/data/` segment fall back to the
    * full scheme-less path — consistent on both sides because the
    * delete rows and `_metadata.file_path` carry the same absolute
    * path. */
  private def fileTagCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlBridge.column(graft.plans.FileTagExpr(
      org.apache.spark.sql.GraftSqlBridge.expression(c), urlDecode = false))

  /** [[fileTagCol]] for `_metadata.file_path`, which Spark serves as a
    * URL-ENCODED URI (a partition dir like `cat=a b` reads back as
    * `cat=a%20b`) while manifests and delete rows carry raw path
    * strings — without decoding, partition-dir-qualified tags from the
    * two sides could never match (deletes silently unapplied, and the
    * equality-delete semi-join would drop every row). Literal `+` is
    * legal UNENCODED in URI paths but URLDecoder would turn it into a
    * space, so it is pre-encoded before the decode. Both faces are the
    * memoized [[graft.plans.FileTagExpr]] — scans stream
    * file-at-a-time, so the per-row cost is one UTF8String equality,
    * not regex + URL-decode (a measured 7 s over a 4M-row read). */
  private[graft] def metaFileTagCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlBridge.column(graft.plans.FileTagExpr(
      org.apache.spark.sql.GraftSqlBridge.expression(c), urlDecode = true))

  private[graft] def fileTag(p: String): String = {
    val noScheme = p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/")
    val i = noScheme.lastIndexOf("/data/")
    if (i >= 0) noScheme.substring(i + "/data/".length) else noScheme
  }

  /** Apply v2 delete files ON TOP of the single indexed scan: the
    * `(file tag, row index)` pair is tagged ONCE from `_metadata`
    * (scan-level columns don't survive joins/unions), both delete kinds
    * filter the same stream — so pushdown, index pruning, and the
    * position-delete bitmap all compose — and the tags drop at the
    * end. */
  private def applyDeletes(spark: SparkSession, schema: StructType,
      deleteFiles: Seq[DeleteFileEntry], liveNames: Option[Set[String]],
      base: DataFrame, project: MappedProjection = None): DataFrame = {
    val clean = (df: DataFrame) => df.select(schema.fieldNames.map(n => col(s"`$n`")): _*)
    // name-mapped tables: collapse each field's candidate columns to
    // its LOGICAL name first — deletes then compare logical columns,
    // and downstream consumers never see the physical union schema
    def logical(df: DataFrame, extra: Seq[String]): DataFrame = project match {
      case None => df
      case Some(spec) => df.select(spec.map { case (name, cands) =>
        coalesce(cands.map(n => col(s"`$n`")): _*).as(name)
      } ++ extra.filter(df.columns.contains).map(col): _*)
    }
    if (deleteFiles.isEmpty) return clean(logical(base, Nil))
    val (posFiles, eqFiles) = deleteFiles.partition(_.content == 1)
    var out = logical(
      base
        .withColumn("__name", metaFileTagCol(col("_metadata.file_path")))
        .withColumn("__pos", col("_metadata.row_index")),
      Seq("__name", "__pos", SeqColName))
    if (posFiles.nonEmpty) out = applyPositionDeletes(spark, liveNames, posFiles, out)
    if (eqFiles.nonEmpty) out = applyEqualityDeletes(spark, schema, eqFiles, out, project)
    clean(out)
  }

  /** Position deletes: rows of `(file_path, pos)` naming dead physical
    * row indexes. Matching is on the canonical [[fileTag]] (partition
    * dir + file name), exact even when base names repeat across
    * partition directories. Bounded sets with KNOWN manifest row counts
    * become compact per-file bitmaps behind [[graft.plans.DvDeadRow]] —
    * the probe stays inside the scan's codegen stage. Oversized sets —
    * and any set whose size the manifests don't declare (unknown
    * `record_count`), which could be arbitrarily large — fall back to a
    * plain anti-join on `(file tag, pos)` with NO join-strategy hint:
    * AQE broadcasts only when the set measures small at runtime (a
    * forced broadcast here would fire precisely on the multi-GB
    * sets). */
  private def applyPositionDeletes(spark: SparkSession, liveNames: Option[Set[String]],
      posFiles: Seq[DeleteFileEntry], tagged: DataFrame): DataFrame = {
    val sizeKnown = posFiles.forall(_.recordCount >= 0)
    val declared = posFiles.map(_.recordCount).filter(_ >= 0).sum
    // unknown row counts are still byte-bounded: the delete FILES'
    // lengths gate the bitmap path when the manifests decline to say;
    // a KNOWN over-cap count is respected even when the files are small
    // (RLE-friendly positions compress far below their driver weight)
    val bytesCap = capConf(spark, "iceberg.maxBitmapDeleteBytes", maxBitmapDeleteBytes)
    val fileLens = posFiles.map { f =>
      val hp = new Path(f.path)
      scala.util.Try(
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(hp).getLen).toOption
    }
    val bytesBounded = fileLens.forall(_.isDefined) && fileLens.flatten.sum <= bytesCap
    val deletes = spark.read
      .schema(StructType(Seq(
        StructField("file_path", StringType), StructField("pos", LongType))))
      .parquet(posFiles.map(_.path): _*)
      .select(fileTagCol(col("file_path")).as("__del_name"),
        col("pos").as("__del_pos"))
    if ((sizeKnown && declared <= maxBitmapDeleteRows) || (!sizeKnown && bytesBounded)) {
      // dedupe + sort ON EXECUTORS (codegen'd hash aggregate, primitive
      // sort_array), serialize the per-file bitmap driver-side from the
      // already-sorted array — a groupByKey(#files).distinct.sorted
      // would serialize a single hot file's million positions through
      // one boxed task
      val grouped = deletes.groupBy(col("__del_name"))
        .agg(org.apache.spark.sql.functions.sort_array(
          org.apache.spark.sql.functions.collect_set(col("__del_pos"))).as("ps"))
        .collect()
      // the live-file filter is an optimization (dead-file blobs never
      // match); the LAZY path has no driver-side file list and skips it
      val blobs: Map[String, Array[Byte]] = grouped.iterator
        .filter(r => liveNames.forall(_.contains(r.getString(0))))
        .map(r => r.getString(0) -> DeletionVectors.serialize(r.getSeq[Long](1)))
        .toMap
      if (blobs.isEmpty) tagged
      else {
        import org.apache.spark.sql.GraftSqlBridge
        tagged.filter(!GraftSqlBridge.column(graft.plans.DvDeadRow(
          GraftSqlBridge.expression(col("__name")),
          GraftSqlBridge.expression(col("__pos")),
          spark.sparkContext.broadcast(blobs))))
      }
    } else {
      tagged.join(deletes,
        col("__name") === col("__del_name") && col("__pos") === col("__del_pos"),
        "left_anti")
    }
  }

  /** Equality deletes: each delete row kills every data row whose
    * `equality_ids` columns are (null-safely) equal, in data files
    * STRICTLY OLDER than the delete (spec: applies when the delete's
    * data sequence number > the data file's).
    *
    * The row's data sequence number arrives as the [[SeqColName]]
    * partition column — served per file from the manifest entry by the
    * scan's index, so NO driver-side file list and NO extra join. The
    * stream splits by the INTERVALS the distinct delete sequence
    * numbers s₁<…<s_k cut: a row with seq q ∈ [s_j, s_{j+1}) is
    * outranked by exactly the deletes with seq ≥ s_{j+1} (delete seqs
    * only exist at the s_i), so each of the k+1 intervals anti-joins
    * one delete union — k is bounded by the DELETE files' distinct
    * sequence numbers ([[maxEqualitySeqGroups]]), never by the
    * table's. Rows at q ≥ s_k pass through untouched. Byte-bounded
    * delete sets get a forced `broadcast()` hint; over
    * [[maxEqDeleteBroadcastBytes]] the hint drops and AQE plans the
    * join. Renamed name-mapped tables resolve each delete file's
    * columns through the mapping's historical names (footer-probed per
    * delete file, ambiguity fails loud). */
  private def applyEqualityDeletes(spark: SparkSession, schema: StructType,
      eqFiles: Seq[DeleteFileEntry], tagged: DataFrame,
      project: MappedProjection = None): DataFrame = {
    require(tagged.columns.contains(SeqColName),
      s"equality-delete application needs the $SeqColName scan column")
    val idToName: Map[Int, String] = schema.fields.flatMap { f =>
      if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey).toInt -> f.name)
      else None
    }.toMap
    val delSeqs = eqFiles.map(_.seq).distinct.sorted
    require(delSeqs.size + 1 <= maxEqualitySeqGroups,
      s"${delSeqs.size} distinct equality-delete sequence numbers need " +
        s"${delSeqs.size + 1} application groups, over the $maxEqualitySeqGroups cap — " +
        "compact the table or read older snapshots incrementally")
    // byte budget for the FORCED broadcast hint, computed once per
    // delete FILE (a driver-side status call, the maxBitmapDeleteBytes
    // pattern) — the same file can appear in several seq-interval
    // groups, so lengths memoize across groups. None = stat failed =
    // treated as over-cap (the AQE join is always safe).
    val bcastCap = capConf(spark, "iceberg.maxEqDeleteBroadcastBytes", maxEqDeleteBroadcastBytes)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fileLen: Map[String, Option[Long]] = eqFiles.map { f =>
      val hp = new Path(f.path)
      f.path -> scala.util.Try(hp.getFileSystem(hadoopConf).getFileStatus(hp).getLen).toOption
    }.toMap
    // candidate file-column names per CURRENT name when name mapping
    // engages (the data path's coalesce resolution, IcebergTable.scala
    // scanSchemasFor) — delete files written before a rename carry the
    // OLD column name, and the equality spec matches by field id, so
    // the delete read must resolve through the same historical names
    val candidatesOf: String => Seq[String] = name =>
      project.flatMap(_.collectFirst { case (n, cands) if n == name => cands })
        .getOrElse(Seq(name))
    // per-delete-file footer column names, probed lazily and only when
    // some needed field actually has historical candidates (the probe
    // is one driver-side footer read per delete file, same order of
    // work as the status call above)
    val footerNames = scala.collection.mutable.Map.empty[String, Set[String]]
    def footerOf(path: String): Set[String] =
      footerNames.getOrElseUpdate(path, footerFieldNames(hadoopConf, path)._1)
    def antiJoinDeletes(part: DataFrame, dels: Seq[DeleteFileEntry]): DataFrame = {
      var out = part
      // one anti-join per distinct equality-column set among the deletes
      dels.groupBy(_.equalityIds).foreach { case (ids, dfs) =>
        require(ids.nonEmpty, "equality delete file without equality_ids")
        val names = ids.map(id => idToName.getOrElse(id,
          throw new IllegalArgumentException(s"equality id $id names no current column")))
        val delRows0 =
          if (names.forall(n => candidatesOf(n).lengthCompare(1) == 0))
            // no rename in play: every delete file carries the current
            // names — one multi-file read, zero footer probes
            spark.read.parquet(dfs.map(_.path): _*)
              .select(names.map(n => col(s"`$n`").as(s"__eq_$n")): _*)
          else {
            // renamed, name-mapped table: resolve each delete FILE's
            // physical column per field (exactly one candidate must be
            // present — zero or several fails LOUD, never reads nulls),
            // then union the per-resolution reads under current names
            val byPhys: Map[Seq[String], Seq[String]] = dfs.map(_.path).groupBy { p =>
              val have = footerOf(p)
              names.map { n =>
                val hits = candidatesOf(n).filter(have)
                require(hits.lengthCompare(1) == 0,
                  s"equality-delete file $p resolves field '$n' to ${hits.size} of its " +
                    s"mapped names ${candidatesOf(n)} — refusing an ambiguous or silent-null read")
                hits.head
              }
            }
            byPhys.map { case (phys, paths) =>
              spark.read.parquet(paths: _*)
                .select(phys.zip(names).map { case (p, n) => col(s"`$p`").as(s"__eq_$n") }: _*)
            }.reduce(_ unionByName _)
          }
        val delRows = delRows0.distinct()
        val cond = names.map(n => col(s"`$n`") <=> col(s"__eq_$n")).reduce(_ && _)
        val lens = dfs.map(f => fileLen(f.path))
        val small = lens.forall(_.isDefined) && lens.flatten.sum <= bcastCap
        val rhs = if (small) org.apache.spark.sql.functions.broadcast(delRows) else delRows
        out = out.join(rhs, cond, "left_anti")
      }
      out
    }
    val seqCol = col(SeqColName)
    val parts = (0 to delSeqs.size).map { j =>
      val loCond = if (j == 0) lit(true) else seqCol >= delSeqs(j - 1)
      val part =
        if (j == delSeqs.size) tagged.filter(loCond) // ≥ s_k: nothing outranks
        else {
          val hi = delSeqs(j)
          antiJoinDeletes(tagged.filter(loCond && seqCol < hi),
            eqFiles.filter(_.seq >= hi))
        }
      part
    }
    parts.reduce(_ unionByName _)
  }

}
