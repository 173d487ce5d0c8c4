package graft.sources

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Apache Iceberg v2 WRITER — the publication direction of the
  * Iceberg interop (the read direction is [[IcebergTable]]): author a
  * spec-conformant Iceberg table (metadata JSON, Avro manifest lists,
  * Avro manifests, parquet data files with embedded field ids) that any
  * Iceberg reader — Spark+iceberg-runtime, Trino, DuckDB's iceberg
  * extension — consumes natively. Shapes covered: multi-snapshot
  * appends, identity AND `bucket[N]`/`truncate[W]` transform
  * partitioning (rows split so each data file holds exactly one
  * partition tuple, typed transform values in the manifests — foreign
  * readers prune on them), per-file bounds/null-count stats, true
  * manifest-list file/row counts, position and equality delete files,
  * and rename-by-field-id schema evolution.
  *
  * Deliberately shares NO parsing code with [[IcebergTable]], so the
  * reader specs that consume these tables pin the public FORMAT, not a
  * private round-trip.
  *
  * Publication is CATALOG-ARBITRATED: every metadata commit
  * claims its version atomically through an [[IcebergCatalog]] —
  * create-without-overwrite of `v<N>.metadata.json` by default (the
  * spec's Hadoop-catalog rule), or any installed implementation
  * ([[useCatalog]]: REST-shaped CAS, object-store conditional PUT). A
  * lost race fails loud, drops the stale in-JVM lineage, and the next
  * verb resumes from the winner's metadata via [[loadPriorState]] —
  * the loser's unreferenced avro/parquet are ordinary Iceberg orphan
  * files. */
object IcebergWriter {

  /** Attach Iceberg field ids 1..n as `parquet.field.id` metadata so
    * Spark embeds them in the written parquet (every real Iceberg
    * writer does) and id-based column resolution has ids to match. */
  def withIds(schema: StructType): StructType =
    StructType(schema.fields.zipWithIndex.map { case (f, i) =>
      f.copy(metadata = new MetadataBuilder().putLong("parquet.field.id", i + 1L).build())
    })

  /** One partition-spec field: `name` is the spec field's name,
    * `sourceCol` the source column, `transform` one of `identity`,
    * `bucket[N]`, `truncate[W]`. */
  final case class SpecField(name: String, sourceCol: String, transform: String)

  private final case class ManifestRef(path: String, content: Int, seq: Long,
      nFiles: Int, nRows: Long, addedSnapshotId: Long)
  private final case class State(schema: StructType, spec: Seq[SpecField],
      var seq: Long, var snapshotId: Long, var version: Int,
      var manifests: List[ManifestRef],
      var snapshots: List[(Long, Long, String, Long, String)], // (id, seq, manifestList, tsMs, op)
      var renames: Map[String, String],
      properties: Map[String, String] = Map.empty)

  private val states = scala.collection.mutable.Map.empty[String, State]

  /** Canonical state key / metadata `location` for `root`: a
    * scheme'd path (`hdfs://…`, `s3a://…`, a test scheme) normalizes
    * through Hadoop [[HPath]]; a bare local path keeps the absolute
    * `java.io` form already embedded in every previously-published
    * metadata JSON. Every file operation below goes through Hadoop
    * [[FileSystem]], so publish / mirror / expire run against whatever
    * store the root names — never a `new java.io.File("s3a://…")`
    * silently making a nonsense local path. */
  private[graft] def absRoot(root: String): String =
    if (root.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:.*")) new HPath(root).toString
    else new java.io.File(root).getAbsolutePath

  private def fsOf(path: String, conf: Configuration): FileSystem =
    new HPath(path).getFileSystem(conf)

  private def hadoopConf(spark: SparkSession): Configuration =
    if (spark != null) spark.sparkContext.hadoopConfiguration else new Configuration()

  /** Per-root catalog override ([[IcebergCatalog]] — the atomic
    * version-claim seam). Default: the spec's Hadoop-catalog rule. */
  private val catalogs = new java.util.concurrent.ConcurrentHashMap[String, IcebergCatalog]()

  /** Route `root`'s metadata commits through `catalog` (a REST-shaped
    * CAS catalog, a test double, …) instead of the Hadoop-catalog
    * default. */
  def useCatalog(root: String, catalog: IcebergCatalog): Unit =
    catalogs.put(absRoot(root), catalog)

  private def icebergTypeName(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case IntegerType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case DateType => "date"
    case StringType => "string"
    case BinaryType => "binary"
    case TimestampType => "timestamptz"
    case TimestampNTZType => "timestamp"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case o => sys.error(s"fixture has no Iceberg mapping for $o")
  }

  private def avroTypeName(dt: DataType): String = dt match {
    case IntegerType | DateType => "int"
    case LongType | TimestampType | TimestampNTZType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case BooleanType => "boolean"
    case o => sys.error(s"fixture partition type unsupported: $o")
  }

  /** `schema.name-mapping.default` (spec Appendix C) — the sanctioned
    * fallback that lets id-free data files resolve BY NAME in any
    * conformant reader. Published by [[mirror]] and [[addFiles]]; its
    * presence also marks the table's data files as NOT writer-owned
    * (adopted/mirrored), which is what keeps [[expireSnapshots]] off
    * them. */
  private[sources] val NameMappingProp = "schema.name-mapping.default"

  private def nameMappingJson(schema: StructType): String =
    schema.fields.zipWithIndex.map { case (f, i) =>
      s"""{"field-id":${i + 1},"names":[${jsonStr(f.name)}]}"""
    }.mkString("[", ",", "]")

  /** Spec Appendix D single-value serialization (bounds). */
  def boundBytes(v: Any, dt: DataType): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType => le(4).putInt(v.asInstanceOf[Number].intValue).array
      case DateType => le(4).putInt(
        v.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay.toInt).array
      case LongType => le(8).putLong(v.asInstanceOf[Number].longValue).array
      case FloatType => le(4).putFloat(v.asInstanceOf[Number].floatValue).array
      case DoubleType => le(8).putDouble(v.asInstanceOf[Number].doubleValue).array
      case StringType => v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      case o => sys.error(s"fixture bound type unsupported: $o")
    }
  }

  // ------------------------------------------------------------- avro schemas

  /** Avro type a spec field's partition value carries: bucket ordinals
    * are ints; identity and truncate keep the source column's type. */
  private def specAvroType(st: State, sf: SpecField): String =
    if (IcebergTransforms.bucketWidth(sf.transform).isDefined ||
        IcebergTransforms.temporalUnit(sf.transform).isDefined) "int" // ordinals
    else avroTypeName(st.schema(sf.sourceCol).dataType)

  private def partitionAvroSchema(st: State): String =
    if (st.spec.isEmpty) """{"type":"record","name":"r102","fields":[]}"""
    else {
      val fields = st.spec.zipWithIndex.map { case (sf, i) =>
        s"""{"name":"${sf.name}","type":["null","${specAvroType(st, sf)}"],"default":null,"field-id":${1000 + i}}"""
      }.mkString(",")
      s"""{"type":"record","name":"r102","fields":[$fields]}"""
    }

  private def manifestEntrySchema(st: State): Schema = {
    val json =
      s"""{"type":"record","name":"manifest_entry","fields":[
         |  {"name":"status","type":"int","field-id":0},
         |  {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
         |  {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
         |  {"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
         |  {"name":"data_file","type":{"type":"record","name":"r2","fields":[
         |    {"name":"content","type":"int","field-id":134},
         |    {"name":"file_path","type":"string","field-id":100},
         |    {"name":"file_format","type":"string","field-id":101},
         |    {"name":"partition","type":${partitionAvroSchema(st)},"field-id":102},
         |    {"name":"record_count","type":"long","field-id":103},
         |    {"name":"file_size_in_bytes","type":"long","field-id":104},
         |    {"name":"value_counts","type":["null",{"type":"array","items":{"type":"record","name":"k119_v120","fields":[
         |      {"name":"key","type":"int","field-id":119},{"name":"value","type":"long","field-id":120}]},"logicalType":"map"}],"default":null,"field-id":109},
         |    {"name":"null_value_counts","type":["null",{"type":"array","items":{"type":"record","name":"k121_v122","fields":[
         |      {"name":"key","type":"int","field-id":121},{"name":"value","type":"long","field-id":122}]},"logicalType":"map"}],"default":null,"field-id":110},
         |    {"name":"nan_value_counts","type":["null",{"type":"array","items":{"type":"record","name":"k138_v139","fields":[
         |      {"name":"key","type":"int","field-id":138},{"name":"value","type":"long","field-id":139}]},"logicalType":"map"}],"default":null,"field-id":137},
         |    {"name":"lower_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k126_v127","fields":[
         |      {"name":"key","type":"int","field-id":126},{"name":"value","type":"bytes","field-id":127}]},"logicalType":"map"}],"default":null,"field-id":125},
         |    {"name":"upper_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k129_v130","fields":[
         |      {"name":"key","type":"int","field-id":129},{"name":"value","type":"bytes","field-id":130}]},"logicalType":"map"}],"default":null,"field-id":128},
         |    {"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135}
         |  ]},"field-id":2}
         |]}""".stripMargin
    new Schema.Parser().parse(json)
  }

  private val manifestListSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |  {"name":"manifest_path","type":"string","field-id":500},
      |  {"name":"manifest_length","type":"long","field-id":501},
      |  {"name":"partition_spec_id","type":"int","field-id":502},
      |  {"name":"content","type":"int","field-id":517},
      |  {"name":"sequence_number","type":"long","field-id":515},
      |  {"name":"min_sequence_number","type":"long","field-id":516},
      |  {"name":"added_snapshot_id","type":"long","field-id":503},
      |  {"name":"added_files_count","type":"int","field-id":504},
      |  {"name":"existing_files_count","type":"int","field-id":505},
      |  {"name":"deleted_files_count","type":"int","field-id":506},
      |  {"name":"added_rows_count","type":"long","field-id":512},
      |  {"name":"existing_rows_count","type":"long","field-id":513},
      |  {"name":"deleted_rows_count","type":"long","field-id":514}
      |]}""".stripMargin)

  // ------------------------------------------------------------- file helpers

  private def writeAvro(conf: Configuration, path: String, schema: Schema,
      rows: Seq[GenericRecord], meta: Map[String, String] = Map.empty): Long = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    val hp = new HPath(path)
    val fs = hp.getFileSystem(conf)
    w.create(schema, fs.create(hp, true)) // fs.create makes parent dirs
    rows.foreach(w.append)
    w.close()
    fs.getFileStatus(hp).getLen
  }

  /** Re-attach field-id metadata by aliasing every column with the
    * id-bearing schema's metadata — plan-preserving. The old shape,
    * `createDataFrame(df.rdd, schema)`, forced the whole upstream plan
    * through an InternalRow→Row→InternalRow round trip OUTSIDE
    * whole-stage codegen (guide §1.2/§4-class cost on every staged
    * byte); an aliasing projection keeps the write pipelined inside
    * the optimized plan. */
  private def withIdMetadata(df: DataFrame, schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.col
    // a createDataFrame(df.rdd, schema) shape fails LOUD
    // (ClassCastException) on a type drift between caller and table
    // schema; an aliasing select would silently stage parquet
    // whose physical types diverge (and the footer stats would then
    // quietly lose their bounds, masking the drift). Keep the loud contract.
    schema.fields.foreach { f =>
      val actual = df.schema(f.name).dataType
      require(actual == f.dataType,
        s"staged part type drift on '${f.name}': $actual vs table ${f.dataType}")
    }
    df.select(schema.fields.toSeq.map(f => col(f.name).as(f.name, f.metadata)): _*)
  }

  /** Write `df` as ONE parquet file under `root/data/`, with field ids
    * embedded, returning the absolute path. Row count and stats come
    * from the staged footer — the write itself is the only data pass. */
  private def writeDataFile(spark: SparkSession, root: String, df: DataFrame,
      schema: StructType): String = {
    val staged = withIdMetadata(df, schema)
    val base = absRoot(root)
    val tmp = s"$base/.staging-${java.util.UUID.randomUUID()}"
    staged.coalesce(1).write.parquet(tmp)
    val fs = fsOf(base, hadoopConf(spark))
    val tmpPath = new HPath(tmp)
    val part = fs.listStatus(tmpPath).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    val dest = new HPath(s"$base/data/${java.util.UUID.randomUUID()}.parquet")
    fs.mkdirs(dest.getParent)
    require(fs.rename(part, dest), s"rename $part -> $dest failed")
    fs.delete(tmpPath, true)
    dest.toString
  }

  // ------------------------------------------------------------- public verbs

  /** Create the table with one snapshot holding `parts` (one data file
    * per element per partition tuple, each with real per-file bounds
    * stats). `partitionCol` declares an identity partition;
    * `transforms` declares hidden-partitioning spec fields as
    * `(sourceCol, transform)` pairs with `bucket[N]` or `truncate[W]` —
    * rows are split so every data file holds exactly one partition
    * tuple and the manifest declares it, which is what lets any Iceberg
    * reader prune bucket/truncate-partitioned scans to one file. */
  def create(spark: SparkSession, root: String, parts: Seq[DataFrame],
      partitionCol: Option[String] = None,
      transforms: Seq[(String, String)] = Nil): Unit = {
    val schema = withIds(parts.head.schema)
    val spec = partitionCol.map(c => SpecField(c, c, "identity")).toSeq ++
      transforms.map { case (c, t) =>
        val suffix =
          if (IcebergTransforms.bucketWidth(t).isDefined) "_bucket"
          else if (IcebergTransforms.truncateWidth(t).isDefined) "_trunc"
          else if (IcebergTransforms.temporalUnit(t).isDefined) s"_$t"
          else sys.error(s"unsupported writer transform $t")
        SpecField(s"$c$suffix", c, t)
      }
    val st = State(schema, spec, seq = 0L, snapshotId = 0L, version = 0,
      manifests = Nil, snapshots = Nil, renames = Map.empty)
    states(absRoot(root)) = st
    append(spark, root, parts)
  }

  /** A spec field's transform value as a CODEGEN column
    * ([[graft.plans.IcebergBucketExpr]]/[[graft.plans.IcebergTruncateExpr]]
    * — the spec-vector-pinned hash compiled into the write pipeline's
    * own WholeStageCodegen stage, no per-row UDF boundary). Ints
    * promote to long before bucketing, the spec's own rule
    * (Appendix B). String values stage as the hex of their UTF-8 bytes
    * behind a one-character prefix: Spark writes an empty-string
    * partition value into the NULL directory
    * (`__HIVE_DEFAULT_PARTITION__`), which would tag a file of `""` rows
    * as NULL, and its hive escaping leaves non-ASCII characters raw in
    * the directory name, which a JVM whose path encoding is not UTF-8
    * cannot create. Staging directories are temporary (files move to
    * `data/<uuid>.parquet`), so no name on disk keeps this form. */
  private def transformValueCol(sf: SpecField, dt: DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, concat, expr, hex, lit}
    val c = col(sf.sourceCol)
    val v = (IcebergTransforms.bucketWidth(sf.transform), IcebergTransforms.truncateWidth(sf.transform)) match {
      case (Some(n), _) => dt match {
        case IntegerType | LongType | StringType =>
          graft.plans.IcebergTransformExprs.bucket(c, n)
        case o => sys.error(s"writer bucket transform over $o unsupported")
      }
      case (_, Some(w)) => dt match {
        case IntegerType | LongType | StringType =>
          graft.plans.IcebergTransformExprs.truncate(c, w)
        case o => sys.error(s"writer truncate transform over $o unsupported")
      }
      // temporal (year/month/day/hour): the spec ordinal as a codegen
      // int column over the internal days/micros — the default Iceberg
      // event-table layout (Spark/Flink write days(ts)); the ordinal is
      // computed by the SAME IcebergTransforms.temporal the pruner runs
      case _ if IcebergTransforms.temporalUnit(sf.transform).isDefined => dt match {
        case DateType | TimestampType | TimestampNTZType =>
          graft.plans.IcebergTransformExprs.temporal(
            c, IcebergTransforms.temporalUnit(sf.transform).get)
        case o => sys.error(s"writer ${sf.transform} transform over $o unsupported")
      }
      // identity over TIMESTAMP stages as epoch MICROS, not the rendered
      // local string: a zone-less string is ambiguous in a DST fall-back
      // hour (two instants render identically), which would collapse
      // two tuples into one staging dir; micros are the spec's own
      // partition encoding anyway
      case _ if dt == TimestampType =>
        expr(s"unix_micros(`${sf.sourceCol}`)")
      case _ => c // identity (TIMESTAMP_NTZ is zone-less by definition —
                  // its local rendering is unambiguous and parses back exactly)
    }
    if (dt == StringType && IcebergTransforms.bucketWidth(sf.transform).isEmpty)
      concat(lit("s"), hex(v.cast("binary")))
    else v
  }

  /** Append one snapshot holding `parts`. */
  def append(spark: SparkSession, root: String, parts: Seq[DataFrame],
      op: String = "append", replaceManifests: Boolean = false): Unit = {
    val st = states(absRoot(root))
    st.seq += 1; st.snapshotId += 1; st.version += 1
    val conf = hadoopConf(spark)
    val fs = fsOf(root, conf)
    val entrySchema = manifestEntrySchema(st)
    val dfSchema = entrySchema.getField("data_file").schema()
    val partSchema = dfSchema.getField("partition").schema()
    val statTypes = FooterStats.statTypes(st.schema)
    // (abs path, partition tuple): ONE data pass per part — count and
    // bounds come from the footer the write just produced
    val staged: Seq[(String, Seq[(SpecField, Any)])] =
      if (st.spec.isEmpty) parts.map(p => (writeDataFile(spark, root, p, st.schema), Nil))
      else parts.flatMap(p => writePartTransformed(spark, root, p, st))
    val rows = staged.map { case (path, tuple) =>
      val (n, stats) = FooterStats.parquet(conf, new HPath(path), statTypes)
      val dataFile = new GenericData.Record(dfSchema)
      dataFile.put("content", 0)
      dataFile.put("file_path", path)
      dataFile.put("file_format", "PARQUET")
      val pRec = new GenericData.Record(partSchema)
      tuple.foreach { case (sf, v) =>
        pRec.put(sf.name, v match {
          case d: java.sql.Date => java.lang.Integer.valueOf(d.toLocalDate.toEpochDay.toInt)
          case t: java.sql.Timestamp => // spec: timestamptz = epoch micros
            java.lang.Long.valueOf(t.getTime * 1000L + (t.getNanos / 1000) % 1000)
          case l: java.time.LocalDateTime => // spec: timestamp = local micros
            java.lang.Long.valueOf(
              l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000)
          case o => o
        })
      }
      dataFile.put("partition", pRec)
      dataFile.put("record_count", n)
      dataFile.put("file_size_in_bytes", fs.getFileStatus(new HPath(path)).getLen)
      putStats(dataFile, st.schema, stats, ownFile = true)
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1) // ADDED
      e.put("snapshot_id", st.snapshotId)
      e.put("sequence_number", null) // exercises spec inheritance from the list
      e.put("data_file", dataFile)
      e
    }
    commitManifest(conf, root, st, entrySchema, rows, content = 0,
      replace = replaceManifests, op = op)
  }

  /** Iceberg's `add_files`/`migrate` procedure:
    * REGISTER existing parquet/ORC data files into an Iceberg table
    * without rewriting a byte — metadata-only, the standard migration
    * path for a Hive-heritage directory (reference pipelines accrete
    * exactly such directories; cf. iceberg spec + the `add_files` Spark
    * procedure's public contract). First call on a root CREATES the
    * table (`schema` with assigned field ids); later calls append a
    * snapshot of more files. Row counts come from each file's OWN
    * footer, read DISTRIBUTED (one task per file, never a data scan);
    * the collect is bounded at one small tuple per REGISTERED file
    * (metadata scale).
    *
    * `partitionCols` declares a HIVE layout — the canonical
    * adoption target (the reference's silver layout is partition-per-day
    * folders, load_data_task.py:117-145): each file's identity partition
    * tuple parses from the `c=v` segments of its OWN path (url-unescaped
    * through the shared hive decoder, `__HIVE_DEFAULT_PARTITION__` →
    * null) and lands TYPED in the manifest, so any Iceberg planner
    * prunes an equality filter to one partition's files. The partition
    * columns live in the table schema; files need not carry them — the
    * read legs reconstruct identity values from the manifest.
    *
    * `collectStats` upgrades the footer pass that is ALREADY
    * opening every file: per-column min/max/null-count translate into
    * Appendix-D bounds ([[FooterStats]] — sound degradation when a
    * footer lacks stats), so an adopted 100 TB table data-skips without
    * waiting for a `rewriteCompact`. Off by default: bounds from
    * arbitrary-writer footers are a trust decision the caller makes.
    *
    * The created/resumed table carries `schema.name-mapping.default`
    * (spec Appendix C) naming every field — registered files embed no
    * iceberg field ids, and WITHOUT the mapping a conformant foreign
    * reader (Trino, Spark+iceberg-runtime) must null-read every column;
    * the mapping is what sanctions name binding. An adopted table
    * published without the mapping upgrades to it on its next
    * registration. The same property marks the data files as NOT
    * writer-owned, so `expireSnapshots` never deletes adopted files —
    * registration adopts metadata, not data lifecycle.
    *
    * The duplicate-registration guard (a crash-retried add_files must
    * refuse, never serve a file's rows twice) is BATCH-bounded on the
    * driver: the live set is probed DISTRIBUTED via the lazy
    * snapshot's manifest refs — one task per manifest, each returning
    * only its entry count and any collisions with the (bounded) batch —
    * so driver cost tracks the batch, not the accreting table. Both
    * sides of the membership test qualify through their FileSystem, so
    * `file:/x` and `/x` forms of the same file cannot bypass it.
    * Unsupported extensions refuse loud. */
  def addFiles(spark: SparkSession, root: String, schema: StructType,
      files: Seq[String], partitionCols: Seq[String] = Nil,
      collectStats: Boolean = false): Unit = {
    require(files.nonEmpty, "add_files: empty file list")
    require(partitionCols.distinct == partitionCols,
      s"add_files: duplicate partition columns in ${partitionCols.mkString(",")}")
    require(partitionCols.forall(schema.fieldNames.contains),
      s"add_files: partition columns ${partitionCols.mkString(",")} must appear in the " +
        s"declared schema ${schema.fieldNames.mkString(",")}")
    val declaredSpec = partitionCols.map(c => SpecField(c, c, "identity"))
    val conf = hadoopConf(spark)
    val abs = absRoot(root)
    // resume an already-PUBLISHED table from its own metadata (the
    // maintenance-verb discipline): add_files runs repeatedly as a
    // directory accretes, usually from a fresh session
    val st0 = states.getOrElseUpdate(abs,
      loadStateForMaintenance(conf, abs).getOrElse {
        val ided = withIds(schema)
        State(ided, declaredSpec, seq = 0L, snapshotId = 0L, version = 0,
          manifests = Nil, snapshots = Nil, renames = Map.empty,
          properties = Map(NameMappingProp -> nameMappingJson(ided)))
      })
    // a table adopted before the mapping shipped upgrades in place: the
    // next commit's metadata publishes it (resume keeps it thereafter)
    val st =
      if (st0.properties.contains(NameMappingProp)) st0
      else {
        val up = st0.copy(properties =
          st0.properties + (NameMappingProp -> nameMappingJson(st0.schema)))
        states(abs) = up
        up
      }
    require(st.spec == declaredSpec,
      s"add_files: table at $abs is partitioned by [${st.spec.map(_.name).mkString(",")}] " +
        s"but the call declares [${partitionCols.mkString(",")}] — a file's partition " +
        "tuple comes from its path, so the layouts must agree")
    // an EXISTING table's schema governs — the caller's `schema` must
    // agree by name+type, or name-fallback binding would silently read
    // nulls for every table column the files lack
    val declared = withIds(schema).fields.map(f => (f.name, f.dataType)).toSeq
    val tables = st.schema.fields.map(f => (f.name, f.dataType)).toSeq
    require(declared == tables,
      s"add_files: declared schema ${declared.mkString(",")} does not match the " +
        s"table's ${tables.mkString(",")} — registered files must carry the table's columns")
    // duplicate registration guard (the reference procedure's
    // check_duplicate_files): a crash-retried or naively re-run
    // add_files over the same directory must refuse, never serve a
    // file's rows twice
    val duplicateArgs = files.diff(files.distinct).distinct
    require(duplicateArgs.isEmpty,
      s"add_files: duplicate paths in the file list: ${duplicateArgs.take(3).mkString(",")}")
    // each file's typed partition tuple, parsed from its OWN path — the
    // shared hive decoder `convertToDelta` uses; driver work bounded by
    // the batch (string parsing only)
    val partTuples: Map[String, Seq[(SpecField, AnyRef)]] =
      if (partitionCols.isEmpty) Map.empty
      else files.map { f =>
        val segs = f.split('/').dropRight(1).flatMap { s =>
          val i = s.indexOf('=')
          if (i > 0) Some(unescapeHive(s.substring(0, i)) -> unescapeHive(s.substring(i + 1)))
          else None
        }.toMap
        val missing = partitionCols.filterNot(segs.contains)
        require(missing.isEmpty,
          s"add_files: $f carries no hive `c=v` segment for ${missing.mkString(",")}")
        // keyed by the HPath-normalized form the footer pass publishes
        new HPath(f).toString -> declaredSpec.map { sf =>
          val raw = segs(sf.sourceCol)
          val v: AnyRef =
            if (raw == "__HIVE_DEFAULT_PARTITION__") null
            else typedPartitionValue(raw, st.schema(sf.sourceCol).dataType)
          sf -> v
        }
      }.toMap
    val serConf = new org.apache.spark.util.SerializableConfiguration(conf)
    if (st.snapshots.nonEmpty) {
      // batch paths qualified ONCE driver-side (bounded by the batch)
      val batchSet = files.map { f =>
        val p = new HPath(f); p.getFileSystem(conf).makeQualified(p).toString
      }.toSet
      val ls = IcebergTable.lazySnapshot(spark, root)
      val base = ls.root.stripSuffix("/")
      val (totalLive, dups) =
        if (ls.dataManifests.isEmpty) (0L, Seq.empty[String])
        else {
          val mSlices = math.max(1,
            math.min(ls.dataManifests.size, spark.sparkContext.defaultParallelism))
          val probed = spark.sparkContext
            .parallelize(ls.dataManifests, mSlices)
            .map { case (p, c, q) =>
              val entries =
                IcebergTable.parseManifest(serConf.value, base, p, c, q, withStats = false)._1
              val hits = entries.map { e =>
                val hp = new HPath(e.path)
                hp.getFileSystem(serConf.value).makeQualified(hp).toString
              }.filter(batchSet.contains)
              (entries.size.toLong, hits)
            }.collect()
          (probed.map(_._1).sum, probed.flatMap(_._2).toSeq)
        }
      // the resume read swallows unreadable lists into an empty
      // lineage (foreign-format tolerance); publishing on top of one
      // would silently DROP every live file from the new snapshot
      require(totalLive == 0L || st.manifests.nonEmpty,
        s"add_files: $abs has live data files but its manifest lineage could not be " +
          "read back — refusing to publish a snapshot that would drop them")
      require(dups.isEmpty,
        s"add_files: ${dups.size} file(s) already registered (e.g. ${dups.take(3).mkString(",")}) " +
          "— pass only NEW files; re-registering would serve their rows twice")
    }
    val statTypes: Map[String, DataType] =
      if (collectStats) FooterStats.statTypes(st.schema) else Map.empty
    val slices = math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism))
    val metas: Array[(String, String, Long, Long, Map[String, ManifestTable.ColStat])] =
      spark.sparkContext.parallelize(files, slices).map { f =>
        val p = new HPath(f)
        val fmt = f.toLowerCase(java.util.Locale.ROOT) match {
          case x if x.endsWith(".parquet") => "PARQUET"
          case x if x.endsWith(".orc") => "ORC"
          case _ => throw new IllegalArgumentException(
            s"add_files: unsupported data file format for $f (parquet/orc only)")
        }
        val (n, stats) = fmt match {
          case "PARQUET" => FooterStats.parquet(serConf.value, p, statTypes)
          case _ => FooterStats.orc(serConf.value, p, statTypes)
        }
        (p.toString, fmt, n, p.getFileSystem(serConf.value).getFileStatus(p).getLen, stats)
      }.collect()
    st.seq += 1; st.snapshotId += 1; st.version += 1
    val entrySchema = manifestEntrySchema(st)
    val dfSchema = entrySchema.getField("data_file").schema()
    val rows = metas.toSeq.map { case (path, fmt, n, len, stats) =>
      val dataFile = new GenericData.Record(dfSchema)
      dataFile.put("content", 0)
      dataFile.put("file_path", path)
      dataFile.put("file_format", fmt)
      val pRec = new GenericData.Record(dfSchema.getField("partition").schema())
      partTuples.getOrElse(path, Nil).foreach { case (sf, v) => pRec.put(sf.name, v) }
      dataFile.put("partition", pRec)
      dataFile.put("record_count", n)
      dataFile.put("file_size_in_bytes", len)
      // footers of writers outside Spark (Arrow, parquet-rs, DuckDB)
      // keep NaN out of min/max: an adopted upper bound certifies nothing
      putStats(dataFile, st.schema, stats, ownFile = false)
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1) // ADDED
      e.put("snapshot_id", st.snapshotId)
      e.put("sequence_number", null) // inherited from the manifest list
      e.put("data_file", dataFile)
      e
    }
    commitManifest(conf, root, st, entrySchema, rows, content = 0, op = "append")
  }

  /** SINGLE-PASS transform-partitioned write: one
    * repartition-on-the-transform-values shuffle routes every row to
    * its partition tuple's writer and `partitionBy` splits one file per
    * tuple, so `bucket[64]` costs one scan of the part, not 64. Staged
    * tuple values parse back from the hive directory names — our own
    * writer's rendering of our own derived columns. Returns each file's
    * absolute path and partition tuple. */
  private def writePartTransformed(spark: SparkSession, root: String, p: DataFrame,
      st: State): Seq[(String, Seq[(SpecField, Any)])] = {
    import org.apache.spark.sql.functions.{col => cl}
    val pvNames = st.spec.map(sf => s"__pv_${sf.name}")
    var withPv = p
    st.spec.zip(pvNames).foreach { case (sf, nm) =>
      withPv = withPv.withColumn(nm, transformValueCol(sf, st.schema(sf.sourceCol).dataType))
    }
    // re-attach field-id metadata for the parquet write (partitionBy
    // keeps the __pv_* columns OUT of the file contents); aliasing
    // projection, not createDataFrame(.rdd, …) — plan-preserving (same
    // reasoning as [[withIdMetadata]])
    val ordered = withPv.select(
      st.schema.fields.toSeq.map(f => cl(f.name).as(f.name, f.metadata)) ++
        pvNames.map(cl): _*)
    val base = absRoot(root)
    val tmp = s"$base/.staging-${java.util.UUID.randomUUID()}"
    ordered
      .repartition(pvNames.map(cl): _*)
      .write.partitionBy(pvNames: _*).parquet(tmp)
    val fs = fsOf(base, hadoopConf(spark))
    def leaves(dir: HPath, kvs: List[String]): Seq[(List[String], HPath)] = {
      val entries = fs.listStatus(dir)
      val subs = entries.filter(s => s.isDirectory && s.getPath.getName.contains("="))
      if (subs.isEmpty) {
        val files = entries.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        if (files.isEmpty) Nil
        else {
          require(files.length == 1,
            s"expected one staged file per partition tuple, found ${files.length} in $dir")
          Seq((kvs.reverse, files.head.getPath))
        }
      } else subs.toSeq.flatMap(sub => leaves(sub.getPath, sub.getPath.getName :: kvs))
    }
    val out = leaves(new HPath(tmp), Nil).map { case (kvs, partFile) =>
      require(kvs.size == st.spec.size, s"staged dir depth ${kvs.size} != spec ${st.spec.size}")
      val tuple: Seq[(SpecField, Any)] = st.spec.zip(kvs).map { case (sf, kv) =>
        sf -> parseDirValue(st, sf, kv.substring(kv.indexOf('=') + 1))
      }
      val dest = new HPath(s"$base/data/${java.util.UUID.randomUUID()}.parquet")
      fs.mkdirs(dest.getParent)
      require(fs.rename(partFile, dest), s"rename $partFile -> $dest failed")
      (dest.toString, tuple)
    }
    fs.delete(new HPath(tmp), true)
    out
  }

  /** Spark's hive-path %XX escaping, undone (only %-sequences; '+' is
    * literal in path names, unlike URL form-encoding). */
  private[sources] def unescapeHive(s: String): String =
    if (!s.contains('%')) s
    else {
      val sb = new java.lang.StringBuilder(s.length)
      val bytes = scala.collection.mutable.ArrayBuffer.empty[Byte]
      def flush(): Unit = if (bytes.nonEmpty) {
        sb.append(new String(bytes.toArray, java.nio.charset.StandardCharsets.UTF_8))
        bytes.clear()
      }
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length) {
          try {
            bytes += Integer.parseInt(s.substring(i + 1, i + 3), 16).toByte
            i += 3
          } catch {
            case _: NumberFormatException => flush(); sb.append(c); i += 1
          }
        } else { flush(); sb.append(c); i += 1 }
      }
      flush()
      sb.toString
    }

  /** `partitionBy` renders TIMESTAMP_NTZ dir values as the local
    * datetime string with a variable-width fraction and the zeros
    * trimmed — parse the same shape back (zoned TIMESTAMP stages as
    * epoch micros instead; a local string is DST-ambiguous). */
  private val stagedTsFormat: java.time.format.DateTimeFormatter =
    new java.time.format.DateTimeFormatterBuilder()
      .appendPattern("yyyy-MM-dd HH:mm:ss")
      .optionalStart()
      .appendFraction(java.time.temporal.ChronoField.NANO_OF_SECOND, 0, 9, true)
      .optionalEnd()
      .toFormatter

  /** One staged hive directory value, typed: bucket ordinals are ints,
    * truncate/identity values carry the source column's type — except
    * zoned TIMESTAMP, which stages (and therefore parses back) as
    * epoch micros, with no timezone or DST ambiguity. */
  private def parseDirValue(st: State, sf: SpecField, raw: String): Any = {
    if (raw == "__HIVE_DEFAULT_PARTITION__") return null
    val v = unescapeHive(raw)
    val dt: DataType =
      if (IcebergTransforms.bucketWidth(sf.transform).isDefined ||
          IcebergTransforms.temporalUnit(sf.transform).isDefined) IntegerType
      else st.schema(sf.sourceCol).dataType
    dt match {
      case IntegerType => java.lang.Integer.valueOf(v.toInt)
      case LongType => java.lang.Long.valueOf(v.toLong)
      case FloatType => java.lang.Float.valueOf(v.toFloat)
      case DoubleType => java.lang.Double.valueOf(v.toDouble)
      case BooleanType => java.lang.Boolean.valueOf(v.toBoolean)
      case StringType => // staged as prefixed UTF-8 hex, see transformValueCol
        new String(java.util.HexFormat.of().parseHex(v.substring(1)),
          java.nio.charset.StandardCharsets.UTF_8)
      case DateType => java.sql.Date.valueOf(v)
      case TimestampType => // staged as epoch micros (DST-proof), see transformValueCol
        java.lang.Long.valueOf(v.toLong)
      case TimestampNTZType => java.time.LocalDateTime.parse(v, stagedTsFormat)
      case o => sys.error(s"transform-partitioned writer cannot parse staged value type $o")
    }
  }

  /** Compaction: rewrite the table's current LIVE rows (v2 deletes
    * applied) into fresh data files and publish one `replace` snapshot
    * whose manifest is the complete live set — delete files are merged
    * away exactly as Iceberg's rewrite actions do. The summary's
    * `operation=replace` is the contract incremental consumers rely on:
    * the snapshot changes files, never table data, so the changelog
    * scan and the streaming source skip it instead of failing. */
  /** Snapshot EXPIRATION + orphan-file cleanup — the maintenance the
    * publication seam was missing: without it, writer-published and
    * mirrored tables accumulate snapshots, manifest lists, manifests,
    * and dead data/delete files forever. Keeps the newest `keepLast`
    * snapshots plus any newer than `olderThanMs`; the rest leave the
    * metadata (expired `snapshotId`/`asOfTimestampMs` travel and
    * expired streaming offsets fail LOUD afterwards — the reader
    * already does), then files referenced ONLY by expired snapshots
    * are reclaimed:
    *
    *   - their manifest lists, always;
    *   - their manifests, unless a surviving snapshot's list still
    *     names them (manifest reuse across snapshots is the norm);
    *   - their DELETE parquet files (position/equality), unless a
    *     surviving manifest still names them — always: delete files
    *     are Iceberg-side artifacts this writer created;
    *   - their DATA parquet files under the same condition, but ONLY
    *     for writer-owned tables. A MIRROR publishes Iceberg metadata
    *     over the GRAFT table's own parquet
    *     (`schema.name-mapping.default` marks that lineage), so expire
    *     on a mirror never touches data files — their lifecycle
    *     belongs to [[ManifestTable.vacuum]].
    *
    * Returns (expired snapshots, deleted manifests, deleted files).
    * Maintenance-path cost: survivors' manifests parse driver-side
    * (stats elided) to collect referenced paths — the same order of
    * work any engine's expire action pays; the READ paths stay lazy. */
  def expireSnapshots(spark: SparkSession, root: String, keepLast: Int = 1,
      olderThanMs: Option[Long] = None): (Int, Int, Int) = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val absRoot = this.absRoot(root)
    val conf = hadoopConf(spark)
    // a fresh session resumes from the published metadata: the
    // normal maintenance shape is a cron job that ONLY expires — it
    // must not need a dummy write first. Schema/spec/properties parse
    // back from the current metadata JSON the same way mirror resumes.
    val st = states.getOrElseUpdate(absRoot,
      loadStateForMaintenance(conf, absRoot).getOrElse(sys.error(
        s"no Iceberg table metadata at $root — nothing to expire")))
    val protectedIds = st.snapshots.takeRight(keepLast).map(_._1).toSet
    val expired = st.snapshots.filter { case (id, _, _, ts, _) =>
      !protectedIds.contains(id) && olderThanMs.forall(ts < _)
    }
    if (expired.isEmpty) return (0, 0, 0)
    st.snapshots = st.snapshots.filterNot(s => expired.exists(_._1 == s._1))
    st.version += 1
    writeMetadataJson(conf, root, st)
    // referenced-by-survivors sets, parsed AFTER the metadata swap (a
    // crash between the swap and the deletes leaves only extra files —
    // re-running expire reclaims them)
    def refsOf(lists: Seq[String]): (Set[String], Set[String], Set[String]) = {
      val manifests = lists.flatMap(l =>
        IcebergTable.manifestRefs(spark, absRoot, l)).distinct
      val parsed = manifests.map { case (p, c, q) =>
        IcebergTable.parseManifest(
          spark.sparkContext.hadoopConfiguration, absRoot, p, c, q, withStats = false)
      }
      (manifests.map(_._1).toSet,
        parsed.flatMap(_._1.map(_.path)).toSet,
        parsed.flatMap(_._2.map(_.path)).toSet)
    }
    val (liveManifests, liveData, liveDels) = refsOf(st.snapshots.map(_._3))
    val (deadListManifests, deadData, deadDels) = refsOf(expired.map(_._3))
    val dropManifests = deadListManifests -- liveManifests
    // DELETE files (position/equality parquet) are always Iceberg-side
    // artifacts this writer created — reclaim them on mirrors too; DATA
    // files on a mirror belong to the graft table (ManifestTable.vacuum
    // owns their lifecycle) and are never touched
    val ownsData = !st.properties.contains(NameMappingProp)
    val dropFiles = (deadDels -- liveDels) ++
      (if (ownsData) deadData -- liveData else Set.empty)
    val fs = fsOf(absRoot, conf)
    def reclaim(p: String): Boolean = {
      val hp = new HPath(p)
      try fs.delete(hp, false)
      catch { case _: java.io.FileNotFoundException => false }
    }
    var nFiles = 0
    dropFiles.foreach { p => if (reclaim(p)) nFiles += 1 }
    var nManifests = 0
    dropManifests.foreach { p => if (reclaim(p)) nManifests += 1 }
    expired.foreach { case (_, _, list, _, _) => reclaim(list) }
    (expired.size, nManifests, nFiles)
  }

  /** [[State]] resumed from the CURRENT metadata JSON alone, for
    * maintenance verbs ([[expireSnapshots]]) running in a session that
    * never wrote: schema fields, partition spec, and properties parse
    * back from the metadata this writer published (field ids are
    * positional 1..n by construction — a foreign id layout fails loud
    * rather than renumbering someone else's table), then the snapshot /
    * manifest lineage resumes exactly as [[loadPriorState]] does for
    * mirror. None = no version hint: nothing this writer published. */
  private def loadStateForMaintenance(conf: Configuration, absRoot: String): Option[State] = {
    val fs = fsOf(absRoot, conf)
    val hint = new HPath(s"$absRoot/metadata/version-hint.text")
    if (!fs.exists(hint)) return None
    import org.json4s.jackson.JsonMethods
    import org.json4s.{JArray, JBool, JInt, JObject, JString}
    val v = readUtf8(fs, hint).trim.toInt
    val meta = JsonMethods.parse(readUtf8(fs, new HPath(s"$absRoot/metadata/v$v.metadata.json")))
    val currentSchemaId = meta \ "current-schema-id" match {
      case JInt(n) => n.toInt; case _ => 0
    }
    val fields: Seq[StructField] = meta \ "schemas" match {
      case JArray(ss) =>
        val cur = ss.collectFirst {
          case s if (s \ "schema-id") == JInt(currentSchemaId) => s
        }.getOrElse(sys.error(s"metadata v$v of $absRoot has no schema $currentSchemaId"))
        (cur \ "fields") match {
          case JArray(fs0) => fs0.zipWithIndex.map { case (f, i) =>
            val JString(name) = (f \ "name": @unchecked)
            val JString(tpe) = (f \ "type": @unchecked)
            val required = (f \ "required") match { case JBool(b) => b; case _ => false }
            val id = (f \ "id") match { case JInt(n) => n.toInt; case _ => -1 }
            require(id == i + 1,
              s"field '$name' of $absRoot carries id $id at position ${i + 1} — this " +
                "writer publishes positional ids; refusing to maintain a foreign id layout")
            StructField(name, sparkTypeOf(tpe), nullable = !required,
              metadata = new MetadataBuilder().putLong("parquet.field.id", id.toLong).build())
          }
          case _ => sys.error(s"metadata v$v of $absRoot has no schema fields")
        }
      case _ => sys.error(s"metadata v$v of $absRoot has no schemas array")
    }
    val schema = StructType(fields)
    val spec: Seq[SpecField] = meta \ "partition-specs" match {
      case JArray(specs) => specs.headOption.map(_ \ "fields").collect {
        case JArray(sfs) => sfs.map { sf =>
          val JString(name) = (sf \ "name": @unchecked)
          val JString(transform) = (sf \ "transform": @unchecked)
          val JInt(src) = (sf \ "source-id": @unchecked)
          SpecField(name, fields(src.toInt - 1).name, transform)
        }
      }.getOrElse(Nil)
      case _ => Nil
    }
    val props: Map[String, String] = meta \ "properties" match {
      case JObject(kvs) => kvs.collect { case (k, JString(s)) => k -> s }.toMap
      case _ => Map.empty
    }
    Some(loadPriorState(conf, absRoot, schema, spec, props))
  }

  /** Reverse of [[icebergTypeName]] over the types this writer emits. */
  private def sparkTypeOf(t: String): DataType = t match {
    case "boolean" => BooleanType
    case "int" => IntegerType
    case "long" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "date" => DateType
    case "string" => StringType
    case "binary" => BinaryType
    case "timestamptz" => TimestampType
    case "timestamp" => TimestampNTZType
    case d if d.startsWith("decimal(") =>
      val Array(p, s) = d.stripPrefix("decimal(").stripSuffix(")").split(",").map(_.trim.toInt)
      DecimalType(p, s)
    case o => sys.error(s"metadata type $o is not one this writer publishes")
  }

  private def readUtf8(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  def rewriteCompact(spark: SparkSession, root: String): Unit = {
    // a fresh session resumes from the published metadata exactly like
    // expireSnapshots: compaction is a maintenance verb, and its
    // most important target is a table this writer DIDN'T create — a
    // foreign Avro/ORC-data-file table whose read legs name "rewrite
    // (compact) to parquet" as the fix for v2-delete support. The
    // resume's positional-id check keeps the refusal posture for id
    // layouts this writer can't maintain.
    val ar = absRoot(root)
    states.getOrElseUpdate(ar,
      loadStateForMaintenance(hadoopConf(spark), ar).getOrElse(
        sys.error(s"no Iceberg table metadata at $root — nothing to compact")))
    val live = IcebergTable.read(spark, root)
    // materialize before the commit swaps manifests: the lazy plan holds
    // the OLD snapshot's file list, but collecting after the new
    // metadata lands would still read those files (they stay on disk) —
    // localCheckpoint makes the ordering unambiguous instead of subtle
    val pinned = live.localCheckpoint(true)
    append(spark, root, Seq(pinned), op = "replace", replaceManifests = true)
  }

  /** Commit a snapshot carrying POSITION deletes: `deletes` maps each
    * data file (absolute path) to its dead row indexes.
    * `declareCount = false` publishes `record_count = -1` (writers are
    * not obliged to know it) — the fixture for the reader's
    * unknown-size join fallback. */
  def addPositionDeletes(spark: SparkSession, root: String,
      deletes: Seq[(String, Seq[Long])], declareCount: Boolean = true): Unit = {
    val st = states(absRoot(root))
    st.seq += 1; st.snapshotId += 1; st.version += 1
    import spark.implicits._
    val delDf = deletes.flatMap { case (p, ps) => ps.map(p -> _) }
      .toDF("file_path", "pos").orderBy("file_path", "pos")
    val conf = hadoopConf(spark)
    val dest = stageOneParquet(spark, conf, root, delDf, "-deletes")
    val entrySchema = manifestEntrySchema(st)
    val dfSchema = entrySchema.getField("data_file").schema()
    val dataFile = new GenericData.Record(dfSchema)
    dataFile.put("content", 1)
    dataFile.put("file_path", dest.toString)
    dataFile.put("file_format", "PARQUET")
    dataFile.put("partition", new GenericData.Record(dfSchema.getField("partition").schema()))
    dataFile.put("record_count",
      if (declareCount) deletes.map(_._2.size.toLong).sum else -1L)
    dataFile.put("file_size_in_bytes", fsOf(root, conf).getFileStatus(dest).getLen)
    val e = new GenericData.Record(entrySchema)
    e.put("status", 1); e.put("snapshot_id", st.snapshotId)
    e.put("sequence_number", null); e.put("data_file", dataFile)
    commitManifest(conf, root, st, entrySchema, Seq(e), content = 1, op = "delete")
  }

  /** Write `df` as one parquet file `root/data/<uuid><suffix>.parquet`
    * via a staging dir, Hadoop-FS throughout. */
  private def stageOneParquet(spark: SparkSession, conf: Configuration, root: String,
      df: DataFrame, suffix: String): HPath = {
    val base = absRoot(root)
    val tmp = s"$base/.staging-${java.util.UUID.randomUUID()}"
    df.coalesce(1).write.parquet(tmp)
    val fs = fsOf(base, conf)
    val tmpPath = new HPath(tmp)
    val part = fs.listStatus(tmpPath).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    val dest = new HPath(s"$base/data/${java.util.UUID.randomUUID()}$suffix.parquet")
    fs.mkdirs(dest.getParent)
    require(fs.rename(part, dest), s"rename $part -> $dest failed")
    fs.delete(tmpPath, true)
    dest
  }

  /** Commit a snapshot carrying EQUALITY deletes over `keyCols`. */
  def addEqualityDeletes(spark: SparkSession, root: String, keyRows: DataFrame,
      keyCols: Seq[String]): Unit = {
    val st = states(absRoot(root))
    st.seq += 1; st.snapshotId += 1; st.version += 1
    val ids = keyCols.map(c => st.schema.fieldIndex(c) + 1)
    val conf = hadoopConf(spark)
    val dest = stageOneParquet(spark, conf, root,
      keyRows.select(keyCols.map(org.apache.spark.sql.functions.col): _*), "-eqdeletes")
    val entrySchema = manifestEntrySchema(st)
    val dfSchema = entrySchema.getField("data_file").schema()
    val dataFile = new GenericData.Record(dfSchema)
    dataFile.put("content", 2)
    dataFile.put("file_path", dest.toString)
    dataFile.put("file_format", "PARQUET")
    dataFile.put("partition", new GenericData.Record(dfSchema.getField("partition").schema()))
    // record count from the staged footer, not a second pass over keyRows
    dataFile.put("record_count", FooterStats.parquet(conf, dest, Map.empty)._1)
    dataFile.put("file_size_in_bytes", fsOf(root, conf).getFileStatus(dest).getLen)
    val eqIds = new java.util.ArrayList[Integer]()
    ids.foreach(i => eqIds.add(i))
    dataFile.put("equality_ids", eqIds)
    val e = new GenericData.Record(entrySchema)
    e.put("status", 1); e.put("snapshot_id", st.snapshotId)
    e.put("sequence_number", null); e.put("data_file", dataFile)
    commitManifest(conf, root, st, entrySchema, Seq(e), content = 1, op = "delete")
  }

  /** PUBLISH a [[ManifestTable]] snapshot as an Apache Iceberg v2 table
    * over the SAME parquet files — the Iceberg face of what
    * [[DeltaLake.mirror]] does for Delta: after `mirror(root)`, any
    * Iceberg reader (Spark+iceberg-runtime, Trino, DuckDB iceberg) reads
    * the graft table in place, with per-file bounds/null-count stats
    * translated from the manifest so foreign planners data-skip, typed
    * identity partition values, and time travel across successive
    * mirrors (each mirror appends one snapshot; older snapshots keep
    * their manifest lists).
    *
    * graft parquet files carry no embedded field ids, so the metadata
    * publishes the spec's fallback (`schema.name-mapping.default`,
    * Appendix C) and readers resolve columns by name — exact here
    * because mirrored tables are refused under column mapping (renames
    * never happen without it). Deletion-vector'd tables are refused too
    * (compact first, or mirror to Delta, which shares the DV format).
    *
    * Each mirror is a FULL publication: one manifest listing every live
    * file (manifest-scale work — file references and stats, never data
    * bytes). Timestamp/date bounds translate exactly: graft renders
    * timestamp stats as epoch micros and dates as ISO strings, both
    * loss-free into Appendix-D bounds. */
  def mirror(spark: SparkSession, root: String): Long = {
    val state = ManifestTable.snapshot(spark, root)
    require(state.schema.fields.forall(f => !f.metadata.contains(ManifestTable.PhysNameKey)),
      s"column-mapped table at $root cannot mirror to Iceberg (name mapping would need " +
        "per-file physical schemas); mirror to Delta instead")
    require(state.dvs.isEmpty,
      s"table at $root carries deletion vectors; compact(purge) first or mirror to Delta")
    val absRoot = this.absRoot(root)
    val schema = withIds(StructType(state.schema.fields.map(f =>
      StructField(f.name, f.dataType, f.nullable))))
    val props = Map(NameMappingProp -> nameMappingJson(schema))
    val mirrorSpec = state.layout.map(c => SpecField(c, c, "identity"))
    val st = states.get(absRoot) match {
      case Some(prev) if prev.schema == schema && prev.spec == mirrorSpec =>
        prev
      case _ =>
        val fresh = loadPriorState(spark.sparkContext.hadoopConfiguration,
          absRoot, schema, mirrorSpec, props)
        states(absRoot) = fresh
        fresh
    }
    // prior published live set, read BEFORE this commit bumps state
    val priorSnap: Option[IcebergTable.IcebergSnapshot] =
      if (st.snapshots.isEmpty) None
      else scala.util.Try(IcebergTable.snapshot(spark, root)).toOption
    st.seq += 1; st.snapshotId += 1; st.version += 1
    val entrySchema = manifestEntrySchema(st)
    val dfSchema = entrySchema.getField("data_file").schema()
    val partSchema = dfSchema.getField("partition").schema()
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val rows = state.files.map { rel =>
      val abs = ManifestTable.resolveEntry(root, rel)
      val hp = new org.apache.hadoop.fs.Path(abs)
      val len = hp.getFileSystem(hadoopConf).getFileStatus(hp).getLen
      val colStats = state.stats.getOrElse(rel, Map.empty)
      // a table with no stats-eligible column records no stats lines, so
      // such a file takes its row count from its own footer
      val nRec = colStats.values.flatMap(_.rows).headOption.getOrElse(
        FooterStats.parquet(hadoopConf, hp, Map.empty)._1)
      val dataFile = new GenericData.Record(dfSchema)
      dataFile.put("content", 0)
      dataFile.put("file_path", abs)
      dataFile.put("file_format", "PARQUET")
      val pRec = new GenericData.Record(partSchema)
      state.layout.zip(ManifestTable.partitionValuesOf(rel, state.layout))
        .foreach { case (c, v) =>
          pRec.put(c, v.map(typedPartitionValue(_, schema(c).dataType)).orNull)
        }
      dataFile.put("partition", pRec)
      dataFile.put("record_count", nRec)
      dataFile.put("file_size_in_bytes", len)
      putStats(dataFile, schema, colStats, ownFile = true)
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1); e.put("snapshot_id", st.snapshotId)
      e.put("sequence_number", null); e.put("data_file", dataFile)
      e
    }
    // honest operation summary: a re-mirror that drops previously
    // published files is an overwrite (incremental consumers — the
    // changelog scan, skipChangeCommits — classify commits by it)
    val newPaths = state.files
      .map(rel => ManifestTable.resolveEntry(root, rel)).toSet
    val removedAny = priorSnap.exists(_.dataFiles.exists(f => !newPaths.contains(f.path)))
    commitManifest(hadoopConf, root, st, entrySchema, rows, content = 0, replace = true,
      op = if (removedAny) "overwrite" else "append")
    st.snapshotId
  }

  /** The Appendix-D stats of one data file from its per-column graft
    * stat strings: `lower_bounds`, `upper_bounds`, `null_value_counts`,
    * `value_counts` and, for a file graft wrote (`ownFile`),
    * `nan_value_counts` of 0 for each float/double column with an upper
    * bound. parquet-mr sorts NaN last with `Double.compare` and its
    * read-side builder then drops both bounds, so on such a file a present
    * upper bound certifies no NaN — the fact a reader needs before
    * trusting it, since `x > c` matches NaN rows. */
  private def putStats(dataFile: GenericData.Record, schema: StructType,
      stats: Map[String, ManifestTable.ColStat], ownFile: Boolean): Unit = {
    def put(field: String, pairs: Seq[(Int, AnyRef)]): Unit = if (pairs.nonEmpty) {
      val item = dataFile.getSchema.getField(field).schema().getTypes.get(1).getElementType
      val arr = new java.util.ArrayList[GenericRecord]()
      pairs.foreach { case (k, v) =>
        val r = new GenericData.Record(item); r.put("key", k); r.put("value", v); arr.add(r)
      }
      dataFile.put(field, arr)
    }
    val cols = schema.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
      stats.get(f.name).map(s => (i + 1, f.dataType, s))
    }
    def bounds(pick: ManifestTable.ColStat => Option[String]): Seq[(Int, AnyRef)] =
      cols.flatMap { case (id, dt, s) =>
        pick(s).flatMap(statBound(_, dt)).map(b => id -> (java.nio.ByteBuffer.wrap(b): AnyRef))
      }
    def counts(pick: ManifestTable.ColStat => Option[Long]): Seq[(Int, AnyRef)] =
      cols.flatMap { case (id, _, s) => pick(s).map(n => id -> (java.lang.Long.valueOf(n): AnyRef)) }
    val uppers = bounds(_.max)
    put("lower_bounds", bounds(_.min))
    put("upper_bounds", uppers)
    put("null_value_counts", counts(_.nulls))
    put("value_counts", counts(_.rows))
    if (ownFile) put("nan_value_counts", uppers.collect {
      case (id, _) if schema.fields(id - 1).dataType == FloatType ||
        schema.fields(id - 1).dataType == DoubleType => id -> (java.lang.Long.valueOf(0L): AnyRef)
    })
  }

  /** graft's committed stat rendering → an Appendix-D bound: timestamps
    * are epoch-micros strings (TZ-independent by design), dates ISO,
    * numerics/strings Spark string casts; anything unparseable simply
    * publishes no bound (sound — foreign readers scan the file). */
  private def statBound(s: String, dt: DataType): Option[Array[Byte]] =
    scala.util.Try(dt match {
      case IntegerType => boundBytes(s.trim.toInt, IntegerType)
      case LongType => boundBytes(s.trim.toLong, LongType)
      case FloatType if !s.trim.toFloat.isNaN => boundBytes(s.trim.toFloat, FloatType)
      case DoubleType if !s.trim.toDouble.isNaN => boundBytes(s.trim.toDouble, DoubleType)
      case StringType => boundBytes(s, StringType)
      case DateType => boundBytes(java.sql.Date.valueOf(s.trim), DateType)
      case TimestampType => boundBytes(s.trim.toLong, LongType) // epoch micros
      case _ => null
    }).toOption.filter(_ != null)

  /** A graft partition-path value string → the typed Avro value the
    * partition record carries. */
  private def typedPartitionValue(s: String, dt: DataType): AnyRef = dt match {
    case IntegerType => java.lang.Integer.valueOf(s.trim.toInt)
    case LongType => java.lang.Long.valueOf(s.trim.toLong)
    case StringType => s
    case DateType =>
      java.lang.Integer.valueOf(java.time.LocalDate.parse(s.trim).toEpochDay.toInt)
    case o => sys.error(s"identity partition type $o has no Iceberg mirror mapping")
  }

  /** Resume mirror numbering from an existing publication: parse the
    * current metadata JSON for version / sequence / snapshot history so
    * a re-mirror from a NEW session appends a snapshot instead of
    * resetting history. */
  private def loadPriorState(conf: Configuration, absRoot: String, schema: StructType,
      spec: Seq[SpecField], props: Map[String, String]): State = {
    val fs = fsOf(absRoot, conf)
    val fresh = State(schema, spec, seq = 0L, snapshotId = 0L, version = 0,
      manifests = Nil, snapshots = Nil, renames = Map.empty, properties = props)
    val hint = new HPath(s"$absRoot/metadata/version-hint.text")
    if (!fs.exists(hint)) return fresh
    import org.json4s.jackson.JsonMethods
    import org.json4s.{JArray, JInt, JString}
    val v = readUtf8(fs, hint).trim.toInt
    val meta = JsonMethods.parse(readUtf8(fs, new HPath(s"$absRoot/metadata/v$v.metadata.json")))
    def jl(j: org.json4s.JValue): Option[Long] = j match {
      case JInt(n) => Some(n.toLong); case org.json4s.JLong(n) => Some(n); case _ => None
    }
    val snaps = (meta \ "snapshots") match {
      case JArray(ss) => ss.flatMap { s =>
        for {
          id <- jl(s \ "snapshot-id"); seq <- jl(s \ "sequence-number")
          ts <- jl(s \ "timestamp-ms")
          JString(list) <- Option(s \ "manifest-list")
        } yield {
          val op = (s \ "summary" \ "operation") match {
            case JString(o) => o; case _ => "append"
          }
          (id, seq, list, ts, op)
        }
      }
      case _ => Nil
    }
    // resume the manifest lineage too: read back OUR OWN list format
    // for the newest snapshot (non-replace verbs extend it; replace
    // verbs discard it — both need the true current refs)
    val manifests: List[ManifestRef] = snaps.sortBy(_._2).lastOption.toList.flatMap {
      case (_, _, list, _, _) => readOwnManifestList(conf, list)
    }
    fresh.copy(
      seq = snaps.map(_._2).maxOption.getOrElse(0L),
      snapshotId = snaps.map(_._1).maxOption.getOrElse(0L),
      version = v,
      manifests = manifests,
      snapshots = snaps.toList)
  }

  /** Read back a manifest list THIS WRITER wrote (its own avro schema —
    * no reader-code sharing). Missing/foreign lists resume empty: the
    * next commit then publishes a complete replace set. */
  private def readOwnManifestList(conf: Configuration, listPath: String): List[ManifestRef] =
    try {
      val reader = new org.apache.avro.file.DataFileReader[GenericRecord](
        new org.apache.avro.mapred.FsInput(new HPath(listPath), conf),
        new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
      try {
        val out = scala.collection.mutable.ListBuffer.empty[ManifestRef]
        while (reader.hasNext) {
          val r = reader.next()
          // COUNT fields are optional in minimal/foreign lists
          // (add_files resumes tables other writers published); SEMANTIC
          // fields (content, sequence numbers, snapshot id) stay
          // strict — a null content silently misclassifying a delete
          // manifest as data would resurrect rows far from the parse
          // site
          def optNum(name: String): Option[Long] =
            if (r.getSchema.getField(name) == null) None
            else r.get(name) match { case n: Number => Some(n.longValue); case _ => None }
          def strictNum(name: String): Long = r.get(name) match {
            case n: Number => n.longValue
            case other => throw new IllegalStateException(
              s"manifest list $listPath: field $name is ${Option(other).getOrElse("null")}, not a number")
          }
          val mPath = r.get("manifest_path").toString
          // absent counts RECOMPUTE from the manifest's own entries (one
          // bounded avro read, resume-time only) rather than degrading
          // to 0 — commitManifest re-publishes these as the refs' true
          // counts, and a durable n_files=0 on a manifest that has
          // files mis-informs every foreign planner thereafter. ADDED
          // entries only (status 1 — the field the
          // counts mean); an unreadable manifest degrades to 0 for ITS
          // counts alone, never collapsing the whole resumed lineage
          lazy val recounted: (Long, Long) = scala.util.Try {
            val rdr = new org.apache.avro.file.DataFileReader[GenericRecord](
              new org.apache.avro.mapred.FsInput(new HPath(mPath), conf),
              new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
            try {
              var files = 0L; var nRows = 0L
              while (rdr.hasNext) {
                val e = rdr.next()
                val added = e.get("status") match {
                  case s: Number => s.intValue == 1
                  case _ => true // status-less entries: count, never drop
                }
                if (added) {
                  files += 1
                  e.get("data_file") match {
                    case df: GenericRecord => df.get("record_count") match {
                      case c: Number if c.longValue >= 0 => nRows += c.longValue
                      case _ => ()
                    }
                    case _ => ()
                  }
                }
              }
              (files, nRows)
            } finally rdr.close()
          }.getOrElse {
            System.err.println(s"[iceberg] could not recount $mPath; its counts resume as 0")
            (0L, 0L)
          }
          out += ManifestRef(
            mPath,
            strictNum("content").toInt,
            strictNum("sequence_number"),
            optNum("added_files_count").getOrElse(recounted._1).toInt,
            optNum("added_rows_count").getOrElse(recounted._2),
            strictNum("added_snapshot_id"))
        }
        out.toList
      } finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => Nil }

  /** Spec hook: drop the in-JVM commit state for `root` so the next
    * mirror exercises [[loadPriorState]] (the new-session resume path). */
  private[graft] def forgetState(root: String): Unit =
    states.remove(absRoot(root))

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Metadata-only rename: new metadata version, same field id. */
  def renameColumn(spark: SparkSession, root: String, from: String, to: String): Unit = {
    val st = states(absRoot(root))
    st.renames += (from -> to)
    st.version += 1
    writeMetadataJson(hadoopConf(spark), root, st)
  }

  // --------------------------------------------------------------- internals

  private def commitManifest(conf: Configuration, root: String, st: State,
      entrySchema: Schema, rows: Seq[GenericRecord], content: Int,
      replace: Boolean = false, op: String = "append"): Unit = {
    val absRoot = this.absRoot(root)
    val mPath = s"$absRoot/metadata/m${st.manifests.size}-${java.util.UUID.randomUUID()}.avro"
    val len = writeAvro(conf, mPath, entrySchema, rows, Map(
      "format-version" -> "2", "content" -> (if (content == 0) "data" else "deletes"),
      "partition-spec-id" -> "0"))
    // real per-manifest stats: foreign planners read these counts
    val nRows = rows.map(r => math.max(0L, r.get("data_file").asInstanceOf[GenericRecord]
      .get("record_count").asInstanceOf[java.lang.Long].longValue)).sum
    val ref = ManifestRef(mPath, content, st.seq, rows.size, nRows, st.snapshotId)
    // replace = this snapshot's manifest is the COMPLETE live set (mirror
    // publication); append = it extends the previous manifests (fixtures)
    st.manifests =
      if (replace) List(ref)
      else st.manifests :+ ref
    // manifest list names EVERY live manifest, each with the seq and
    // snapshot of the commit that added it and its true file/row counts
    val listPath = s"$absRoot/metadata/snap-${st.snapshotId}-${java.util.UUID.randomUUID()}.avro"
    val fs = fsOf(absRoot, conf)
    val listRows = st.manifests.map { m =>
      val r = new GenericData.Record(manifestListSchema)
      r.put("manifest_path", m.path)
      r.put("manifest_length", fs.getFileStatus(new HPath(m.path)).getLen)
      r.put("partition_spec_id", 0)
      r.put("content", m.content)
      r.put("sequence_number", m.seq)
      r.put("min_sequence_number", m.seq)
      r.put("added_snapshot_id", m.addedSnapshotId)
      r.put("added_files_count", m.nFiles)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", m.nRows)
      r.put("existing_rows_count", 0L)
      r.put("deleted_rows_count", 0L)
      r
    }
    writeAvro(conf, listPath, manifestListSchema, listRows)
    val ts = 1700000000000L + st.seq * 1000
    st.snapshots = st.snapshots :+ ((st.snapshotId, st.seq, listPath, ts, op))
    writeMetadataJson(conf, root, st)
  }

  private def writeMetadataJson(conf: Configuration, root: String, st: State): Unit = {
    val absRoot = this.absRoot(root)
    def fieldJson(f: StructField, id: Int): String = {
      val name = st.renames.getOrElse(f.name, f.name)
      s"""{"id":$id,"name":"$name","required":${!f.nullable},"type":"${icebergTypeName(f.dataType)}"}"""
    }
    val fields = st.schema.fields.zipWithIndex
      .map { case (f, i) => fieldJson(f, i + 1) }.mkString(",")
    val specFields = st.spec.zipWithIndex.map { case (sf, i) =>
      val sid = st.schema.fieldIndex(sf.sourceCol) + 1
      s"""{"name":"${sf.name}","transform":"${sf.transform}","source-id":$sid,"field-id":${1000 + i}}"""
    }.mkString(",")
    val snapsJson = st.snapshots.map { case (id, seq, list, ts, op) =>
      s"""{"snapshot-id":$id,"sequence-number":$seq,"timestamp-ms":$ts,
         |"summary":{"operation":"$op"},"manifest-list":"$list","schema-id":0}""".stripMargin
    }.mkString(",")
    val logJson = st.snapshots.map { case (id, _, _, ts, _) =>
      s"""{"timestamp-ms":$ts,"snapshot-id":$id}"""
    }.mkString(",")
    val json =
      s"""{
         |  "format-version": 2,
         |  "table-uuid": "11111111-2222-3333-4444-555555555555",
         |  "location": "$absRoot",
         |  "last-sequence-number": ${st.seq},
         |  "last-updated-ms": ${1700000000000L + st.seq * 1000},
         |  "last-column-id": ${st.schema.size},
         |  "current-schema-id": 0,
         |  "schemas": [{"type":"struct","schema-id":0,"fields":[$fields]}],
         |  "default-spec-id": 0,
         |  "partition-specs": [{"spec-id":0,"fields":[$specFields]}],
         |  "last-partition-id": ${1000 + math.max(0, st.spec.size - 1)},
         |  "default-sort-order-id": 0,
         |  "sort-orders": [{"order-id":0,"fields":[]}],
         |  "properties": {${st.properties.map { case (k, v) =>
              s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString(",")}},
         |  "current-snapshot-id": ${st.snapshotId},
         |  "snapshots": [$snapsJson],
         |  "snapshot-log": [$logJson],
         |  "metadata-log": []
         |}""".stripMargin
    val catalog = catalogs.getOrDefault(absRoot, HadoopIcebergCatalog)
    if (!catalog.commit(absRoot, st.version, json, conf)) {
      // a concurrent writer claimed this version: our in-memory lineage
      // is stale. Resync from the WINNER's metadata (schema/spec kept —
      // a requirement-checked commit can only have raced on the same
      // table shape); our already-written avro/parquet are unreferenced
      // orphans, the same debris any losing Iceberg commit leaves for
      // maintenance to sweep.
      states(absRoot) = loadPriorState(conf, absRoot, st.schema, st.spec, st.properties)
      throw new java.util.ConcurrentModificationException(
        s"lost the metadata commit race for $absRoot v${st.version} — another writer " +
          "published first; state reloaded from the winner, rebuild the change against " +
          "the current snapshot and retry")
    }
  }
}
