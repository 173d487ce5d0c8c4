package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import java.nio.charset.StandardCharsets
import java.util.UUID

/** Minimal ACID table format: versioned manifest commits over parquet —
  * the in-sandbox answer to the reference's Delta-on-MinIO layer
  * (reference: pipeline/data_ingestion/spark_structured_datastream.py:75-79,
  * pipeline/airflow/dags/load_data_task.py:117-145).
  *
  * Layout:
  * {{{
  *   <root>/data/<uuid>-part-*.parquet     data files (never mutated);
  *   <root>/data/<col>=<val>/...           hive-style subdirs when the
  *                                         table is partitioned
  *   <root>/_manifests/v<0-padded>.manifest one relative path per line,
  *                                         plus `# txn:` / `# schema:` /
  *                                         `# partitionBy:` / `# dataChange:`
  *                                         marker lines
  *   <root>/_staging/<uuid>/               writer scratch, pre-commit
  * }}}
  *
  * Protocol: writers stage data files first (readers never list `data/`,
  * so uncommitted files are invisible), then commit by renaming a fully
  * written temp manifest to `v<N+1>.manifest`. The rename is the single
  * commit point: it either lands or it doesn't, so a writer killed at ANY
  * step leaves the last committed snapshot intact — compaction included.
  * Concurrent committers race on the rename (Hadoop rename fails if the
  * destination exists); the loser re-reads the new snapshot and retries,
  * so no committed files are ever dropped from the lineage.
  *
  * Readers resolve max version under `_manifests/` and load exactly the
  * listed files — a consistent snapshot regardless of in-flight writes;
  * `version = Some(n)` gives time travel until `vacuum` reclaims n.
  *
  * Scale: the manifest write is O(#files) driver-side metadata, not a data
  * move — compaction commits 100 TB by renaming one small file. On HDFS
  * and POSIX the no-overwrite rename is atomic; on S3-class object stores
  * swap it for a conditional PUT (If-None-Match) — the sole primitive the
  * protocol needs.
  */
object ManifestTable {

  private val ManifestDir = "_manifests"
  private val DataDir = "data"
  private val StagingDir = "_staging"
  /** Row-level change-data files (Delta's `_change_data/`): OUTSIDE
    * `data/`, so snapshot reads never see them. */
  private val CdcDir = "cdc"

  /** Change-type column in CDC files and [[readChangeFeed]] output
    * (Delta's `_change_type`, same value set). */
  val ChangeTypeCol = "_change_type"
  /** Commit-version column in [[readChangeFeed]] output. */
  val CommitVersionCol = "_commit_version"
  private val MaxCommitRetries = 16

  /** Set to `true` to commit anyway on a store whose rename is not atomic
    * (you have brought your own mutual exclusion, e.g. a single writer or
    * an external lock service). */
  val AllowNonAtomicKey = "spark.graft.manifest.allowNonAtomicCommit"

  // rename is copy+delete (or exists() is eventually consistent) on these:
  // two racing committers could both "win" and one commit's files would
  // silently drop from the lineage
  private val NonAtomicRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss", "oss", "swift", "cos")

  // ------------------------------------------------------ commit arbiters

  /** Installed [[CommitArbiter]]s by root prefix; longest prefix wins,
    * [[RenameArbiter]] otherwise. Installing a [[ConditionalPutArbiter]]
    * for an object-store prefix is what makes s3/gs/abfs-class roots
    * committable (it lifts the non-atomic-rename refusal below). */
  private val arbiters =
    new java.util.concurrent.ConcurrentHashMap[String, CommitArbiter]()

  /** Route commits under `rootPrefix` through `arbiter`. */
  def installArbiter(rootPrefix: String, arbiter: CommitArbiter): Unit =
    arbiters.put(rootPrefix.stripSuffix("/"), arbiter)

  def uninstallArbiter(rootPrefix: String): Unit =
    arbiters.remove(rootPrefix.stripSuffix("/"))

  private def installedArbiter(root: String): Option[CommitArbiter] = {
    val r = root.stripSuffix("/")
    import scala.jdk.CollectionConverters._
    arbiters.asScala
      .filter { case (p, _) => r == p || r.startsWith(p + "/") }
      .toSeq.sortBy(-_._1.length).headOption.map(_._2)
  }

  private def arbiterFor(root: String): CommitArbiter =
    installedArbiter(root).getOrElse(RenameArbiter)

  /** The commit protocol's single assumption is an atomic
    * publish-if-absent; detect at runtime the stores whose RENAME breaks
    * it instead of silently corrupting lineage under concurrency — unless
    * a conditional-put arbiter is installed for this root, which restores
    * the primitive on those stores. */
  private[graft] def checkCommitScheme(spark: SparkSession, root: String): Unit = {
    val scheme = Option(new java.net.URI(root).getScheme).getOrElse("file").toLowerCase
    if (NonAtomicRenameSchemes.contains(scheme) &&
        installedArbiter(root).isEmpty &&
        !spark.conf.get(AllowNonAtomicKey, "false").toBoolean)
      throw new IllegalStateException(
        s"$scheme:// rename is not atomic — concurrent ManifestTable commits can drop files " +
          s"from the lineage. installArbiter($scheme://…, new ConditionalPutArbiter(store)) " +
          s"to commit via the store's conditional PUT, or set " +
          s"$AllowNonAtomicKey=true if an external mechanism guarantees a single writer.")
  }

  private def fsFor(spark: SparkSession, root: String): FileSystem =
    FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

  private def manifestPath(root: String, v: Long) =
    new Path(s"${root.stripSuffix("/")}/$ManifestDir/v${"%020d".format(v)}.manifest")

  private def parseVersion(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".manifest"))
      name.stripPrefix("v").stripSuffix(".manifest").toLongOption
    else None

  /** Latest committed version, or None for an empty/uninitialized table. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val fs = fsFor(spark, root)
    val dir = new Path(s"${root.stripSuffix("/")}/$ManifestDir")
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).toSeq
      .flatMap(s => parseVersion(s.getPath.getName))
      .maxOption
  }

  /** Writer-transaction marker lines: `# txn:<appId>:<maxBatchId>` — the
    * Delta `txn` action's shape: one monotonically-advancing high-water
    * mark per streaming writer, carried forward by every commit, bounded
    * by the number of writers (not the number of batches). */
  private val TxnPrefix = "# txn:"

  /** Table-schema marker line: `# schema:<StructType json>` — the Delta
    * `metaData` action's shape, carried forward by every commit so a
    * version whose file list is empty (overwrite with an empty frame, an
    * empty first micro-batch) still reads as a typed empty table. */
  private val SchemaPrefix = "# schema:"

  /** Partition-layout marker: `# partitionBy:c1,c2` — hive-style data
    * subdirs carry these columns' values; file-granularity operations
    * ([[replaceWhere]]) prune on them without reading data. */
  private val PartitionPrefix = "# partitionBy:"

  /** `# dataChange:false` marks a commit that rearranges bytes without
    * changing rows (compaction) — Delta's `AddFile.dataChange=false`.
    * [[changesBetween]] skips such versions, making compaction invisible
    * to incremental readers. */
  private val DataChangeFalse = "# dataChange:false"

  /** Operation marker: `# op:<name>` — which verb produced the commit
    * (append, overwrite, replaceWhere, merge, delete, update, compact,
    * restore, exactlyOnceAppend, exactlyOnceOverwrite), surfaced by
    * [[history]] (≅ Delta `DESCRIBE HISTORY`'s operation column).
    * Absent on pre-marker manifests → reported as "write". */
  private val OpPrefix = "# op:"

  /** Per-file column statistics:
    * `# stats:\t<rel>\t<col>\t<min>\t<max>\t<nulls>\t<rows>`,
    * one line per (file, column), values %-escaped (so tabs/newlines in
    * string data cannot tear the line format) — the shape of Delta's
    * per-AddFile `stats` (minValues/maxValues/nullCount/numRecords) used
    * for data skipping. `%N` in the min/max fields marks an ABSENT bound
    * (all-null column, or a string bound too long to store) — the escape
    * function renders a literal "%N" value as "%25N", so the sentinel is
    * unambiguous. Older manifests carry 4-field lines: their null/row
    * counts parse as unknown. Collected at stage time for atomic columns
    * ([[statsEligible]]), carried forward with their files by every
    * commit, and consulted by [[merge]]/[[delete]]/[[readWhere]]
    * pruning; null counts let `IS NULL` / `IS NOT NULL` predicates skip
    * files, and a known all-null column prunes every value comparison.
    * Files without stats (older commits, ineligible columns) are simply
    * never pruned — absence is always safe. */
  private val StatsPrefix = "# stats:\t"

  /** One column's per-file statistics. None = unknown/absent, never
    * wrong: an absent bound or count always degrades to "may match". */
  private[graft] final case class ColStat(min: Option[String], max: Option[String],
      nulls: Option[Long], rows: Option[Long])

  /** rel → column → stats. */
  private[graft] type FileStats = Map[String, Map[String, ColStat]]

  /** The absent-bound sentinel (see [[StatsPrefix]] doc). */
  private val AbsentBound = "%N"

  /** Table properties: `# property:\t<key>\t<value>`, both %-escaped —
    * Delta's `TBLPROPERTIES`, carried forward by every commit.
    * [[CdcProperty]] (= Delta's `delta.enableChangeDataFeed`) switches
    * row-level change capture on for the mutation verbs. */
  private val PropertyPrefix = "# property:\t"

  /** The table property enabling row-level CDC capture. */
  val CdcProperty = "graft.enableChangeDataFeed"

  /** Verbs whose [[CommitMeta.properties]] are authoritative; every other
    * commit carries the snapshot's properties (see [[commitWith]]). */
  private val ExplicitPropertyOps =
    Set("setProperty", "unsetProperty", "restore", "clone", "renameColumn", "dropColumn")

  /** Verbs whose [[CommitMeta.dvs]] are authoritative (they restore or
    * re-point another version's metadata wholesale); every other commit
    * carries the snapshot's deletion vectors, its own entries winning
    * (see [[commitWith]]). */
  private val ExplicitDvOps = Set("restore", "clone")

  /** Set to `true` (Delta's `delta.enableDeletionVectors`) to switch
    * [[delete]]/[[update]] to MERGE-ON-READ: instead of rewriting every
    * touched file copy-on-write, the commit attaches a deletion vector —
    * a compact roaring bitmap of the file's dead row indexes — and
    * readers anti-join those positions out by parquet
    * `_metadata.row_index`. Deleting 0.1% of a 100 TB table then costs
    * KBs of bitmap, not TBs of rewrite; [[compact]] purges the vectors
    * (Delta's `REORG … APPLY (PURGE)` is our OPTIMIZE). */
  val DvProperty = "graft.enableDeletionVectors"

  /** Inline-vs-file threshold for a committed deletion vector: blobs at
    * or under this many bytes ride IN the manifest line (Z85 text, no
    * extra I/O to read them); larger ones go to a per-commit file under
    * [[DvDir]]. Delta draws the same line for its log. */
  val DvMaxInlineKey = "spark.graft.dv.maxInlineBytes"

  /** `true` (Delta's `delta.autoOptimize.optimizeWrite`) sizes every
    * append/overwrite to ~128 MB output files before staging — a
    * 32-task micro-batch of 2 MB otherwise lands 32 sliver files whose
    * debt compounds per trigger. Sizing uses the plan's own size
    * estimate; partitioned tables hash on the layout so each hive dir
    * gets whole tasks. */
  val OptimizeWriteProperty = "graft.autoOptimize.optimizeWrite"

  /** `true` (Delta's `delta.autoOptimize.autoCompact`) runs a
    * bin-packing [[compact]] after any append-family commit that leaves
    * the table with at least `spark.graft.autoCompact.minNumFiles`
    * (default 50) files under `spark.graft.autoCompact.smallFileMb`
    * (default 16) — best-effort: a concurrent-writer abort is swallowed
    * (the NEXT append retries), the append itself never fails on it. */
  val AutoCompactProperty = "graft.autoOptimize.autoCompact"
  val AutoCompactMinFilesKey = "spark.graft.autoCompact.minNumFiles"
  val AutoCompactSmallMbKey = "spark.graft.autoCompact.smallFileMb"

  /** Generated columns (Delta's `GENERATED ALWAYS AS (expr)`): one table
    * property per generated column, `graft.generated.<col> = <sql expr>`
    * — written by the catalog's CREATE TABLE and honored by every write
    * verb: a frame MISSING the column gets it computed; a frame carrying
    * it gets each row VALIDATED in-write (null-safe equality against the
    * recomputation, through the same codegen'd check as CHECK
    * constraints). The headline use is a generated PARTITION column
    * (`day DATE GENERATED ALWAYS AS (CAST(ts AS DATE))`,
    * `PARTITIONED BY (day)`): [[readWhere]] then derives partition
    * conjuncts from predicates on the SOURCE column when the generation
    * expression is monotonic — a `ts` range query prunes `day`
    * partitions without mentioning them (Delta's generated-column
    * partition pruning). */
  val GeneratedPrefix = "graft.generated."

  /** Identity columns (Delta's `GENERATED ALWAYS AS IDENTITY`):
    * `graft.identity.<col> = "<start>,<step>,<allowExplicitInsert>"`
    * plus a high-water mark `graft.identity.<col>.mark` (the next
    * unallocated value) that ADVANCES ATOMICALLY with each data commit.
    * Append-family writes allocate ids as
    * `mark + monotonically_increasing_id() * step` — unique and
    * direction-monotone but gappy across partitions, exactly Delta's
    * contract (identity guarantees uniqueness, never density) — and the
    * new mark derives from the staged per-file stats (zero extra jobs).
    * A concurrent allocation from the same mark fails loud at commit
    * (ids were computed from a stale base; retry re-allocates).
    * `allowExplicitInsert=false` (ALWAYS) refuses frames that carry the
    * column; `true` (BY DEFAULT) accepts them and still advances the
    * mark past what they used. */
  val IdentityPrefix = "graft.identity."

  private[graft] final case class IdentitySpec(col: String, start: Long, step: Long,
      allowExplicit: Boolean, next: Long)

  private[graft] def identitySpecs(properties: Map[String, String]): Seq[IdentitySpec] =
    properties.toSeq.collect {
      case (k, v) if k.startsWith(IdentityPrefix) && !k.endsWith(".mark") =>
        val c = k.stripPrefix(IdentityPrefix)
        val parts = v.split(",", -1)
        require(parts.length == 3, s"malformed identity spec for $c: '$v'")
        val start = parts(0).toLong
        IdentitySpec(c, start, parts(1).toLong, parts(2).toBoolean,
          properties.get(s"$IdentityPrefix$c.mark").map(_.toLong).getOrElse(start))
    }.sortBy(_.col)

  /** Column DEFAULT values (Delta/ANSI `DEFAULT <expr>`):
    * `graft.default.<col> = <sql expr>` — a write missing the column
    * gets the default computed (cast to the declared type); explicit
    * values always win (DEFAULT, unlike GENERATED, constrains nothing).
    * The SQL face additionally surfaces each default as
    * `CURRENT_DEFAULT`/`EXISTS_DEFAULT` field metadata on the v2 table
    * schema, so `INSERT INTO t (a) VALUES …` fills the rest
    * analyzer-side (Spark's ResolveDefaultColumns). Write-time only:
    * files written before a default read the column as null, same as
    * Delta's ADD COLUMN. */
  val DefaultPrefix = "graft.default."

  private[graft] def defaultExprs(properties: Map[String, String]): Map[String, String] =
    properties.collect {
      case (k, v) if k.startsWith(DefaultPrefix) => k.stripPrefix(DefaultPrefix) -> v
    }

  private def applyDefaults(df: DataFrame, properties: Map[String, String],
      schemaJson: Option[String]): DataFrame = {
    val defs = defaultExprs(properties)
    if (defs.isEmpty) return df
    val declared: Map[String, DataType] = schemaJson.map { j =>
      DataType.fromJson(j).asInstanceOf[StructType].fields
        .map(f => f.name -> f.dataType).toMap
    }.getOrElse(Map.empty)
    val have = df.columns.toSet
    val out = defs.foldLeft(df) { case (d, (c, e)) =>
      if (have(c)) d
      else {
        val computed = org.apache.spark.sql.functions.expr(e)
        d.withColumn(c, declared.get(c).map(computed.cast).getOrElse(computed))
      }
    }
    conformOrder(out, schemaJson)
  }

  /** The write-side column-feature chain shared by the append family:
    * DEFAULTs fill → identity allocates → generated compute (generated
    * expressions may reference defaulted or identity columns). Returns
    * the completed frame plus the identity specs this write ALLOCATED
    * (their marks gate the commit). */
  private def applyWriteColumns(df: DataFrame,
      pre: Snapshot): (DataFrame, Seq[IdentitySpec]) = {
    val idSpecs = identitySpecs(pre.properties)
    val allocated = idSpecs.filterNot(sp => df.columns.contains(sp.col))
    val out = applyGenerated(
      applyIdentity(applyDefaults(df, pre.properties, pre.schemaJson),
        idSpecs, pre.schemaJson),
      pre.properties, pre.schemaJson)
    (out, allocated)
  }

  /** Computed columns land LAST via withColumn — project back to the
    * declared order so the schema-drift check sees the table's own shape
    * (only when the column SETS already agree; evolution cases pass
    * through untouched). */
  private def conformOrder(df: DataFrame, schemaJson: Option[String]): DataFrame =
    schemaJson match {
      case Some(j) =>
        val declared = DataType.fromJson(j).asInstanceOf[StructType].fieldNames
        if (declared.toSet == df.columns.toSet && !declared.sameElements(df.columns))
          df.select(declared.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
        else df
      case None => df
    }

  /** Allocate identity values for frames missing their column; refuse
    * explicit values under ALWAYS semantics. */
  private def applyIdentity(df: DataFrame, specs: Seq[IdentitySpec],
      schemaJson: Option[String]): DataFrame = {
    if (specs.isEmpty) return df
    val declared: Map[String, DataType] = schemaJson.map { j =>
      DataType.fromJson(j).asInstanceOf[StructType].fields
        .map(f => f.name -> f.dataType).toMap
    }.getOrElse(Map.empty)
    val have = df.columns.toSet
    val out = specs.foldLeft(df) { (d, sp) =>
      if (have(sp.col)) {
        require(sp.allowExplicit,
          s"column ${sp.col} is GENERATED ALWAYS AS IDENTITY — explicit values are " +
            "refused (create it BY DEFAULT to allow them)")
        d
      } else {
        val alloc = org.apache.spark.sql.functions.lit(sp.next) +
          org.apache.spark.sql.functions.monotonically_increasing_id() *
            org.apache.spark.sql.functions.lit(sp.step)
        d.withColumn(sp.col,
          declared.get(sp.col).map(alloc.cast)
            .getOrElse(alloc.cast(org.apache.spark.sql.types.LongType)))
      }
    }
    conformOrder(out, schemaJson)
  }

  /** New high-water marks after a write, read off the STAGED per-file
    * stats (collected anyway): furthest allocated-or-provided value plus
    * one step, never receding. Empty for empty writes. */
  private def advancedIdentityMarks(specs: Seq[IdentitySpec],
      stats: FileStats): Map[String, String] =
    specs.flatMap { sp =>
      val bounds = stats.values.flatMap(_.get(sp.col)).flatMap { cs =>
        (if (sp.step > 0) cs.max else cs.min).flatMap(_.toLongOption)
      }
      val extreme =
        if (sp.step > 0) bounds.maxOption.map(e => math.max(sp.next, e + sp.step))
        else bounds.minOption.map(e => math.min(sp.next, e + sp.step))
      extreme.map(n => s"$IdentityPrefix${sp.col}.mark" -> n.toString)
    }.toMap

  /** Commit-time guard for allocated identity ranges: the mark this
    * write allocated FROM must still be the committed mark — a racing
    * writer that advanced it first allocated the same ids. */
  private def requireIdentityMarks(op: String, root: String, snap: Snapshot,
      specs: Seq[IdentitySpec]): Unit =
    specs.foreach { sp =>
      val cur = snap.properties.get(s"$IdentityPrefix${sp.col}.mark")
        .map(_.toLong).getOrElse(sp.start)
      if (cur != sp.next)
        throw new java.util.ConcurrentModificationException(
          s"$op at $root: identity column ${sp.col} was allocated from mark ${sp.next} " +
            s"but the committed mark is now $cur (concurrent writer) — retry the write")
    }

  private[graft] def generatedExprs(properties: Map[String, String]): Map[String, String] =
    properties.collect {
      case (k, v) if k.startsWith(GeneratedPrefix) => k.stripPrefix(GeneratedPrefix) -> v
    }

  /** Compute missing generated columns on `df`, cast to their declared
    * type when the table has one (validation of present columns rides
    * the stage-time check, [[generatedChecks]]). */
  private def applyGenerated(df: DataFrame, properties: Map[String, String],
      schemaJson: Option[String]): DataFrame = {
    val gens = generatedExprs(properties)
    if (gens.isEmpty) df
    else {
      val declared: Map[String, DataType] = schemaJson.map { j =>
        DataType.fromJson(j).asInstanceOf[StructType].fields
          .map(f => f.name -> f.dataType).toMap
      }.getOrElse(Map.empty)
      val have = df.columns.toSet
      val out = gens.foldLeft(df) { case (d, (c, e)) =>
        if (have(c)) d
        else {
          val computed = org.apache.spark.sql.functions.expr(e)
          d.withColumn(c, declared.get(c).map(computed.cast).getOrElse(computed))
        }
      }
      conformOrder(out, schemaJson)
    }
  }

  /** Write-time validation pseudo-constraints for generated columns the
    * frame carries explicitly: `<col> <=> (<expr>)` per row. Columns
    * [[applyGenerated]] just computed satisfy these trivially. */
  private def generatedChecks(df: DataFrame,
      properties: Map[String, String]): Map[String, String] = {
    val have = df.columns.toSet
    generatedExprs(properties).collect {
      case (c, e) if have(c) => s"__generated_$c" -> s"`$c` <=> ($e)"
    }
  }

  /** Deletion-vector files (`f`-storage entries): OUTSIDE `data/`, so
    * snapshot reads never see them; reclaimed by [[vacuum]] once no
    * retained manifest references them. */
  private val DvDir = "_dv"

  /** Per-file deletion vector:
    * `# dv:\t<rel>\t<storage>\t<payload>\t<offset>\t<size>\t<cardinality>`
    * (rel and payload %-escaped) — the manifest rendering of Delta's
    * `deletionVector` descriptor on an `add` action. `storage` is `i`
    * (payload = Z85 inline blob, offset -) or `f` (payload = a DV-file
    * path, root-relative under [[DvDir]] or absolute for clones, offset =
    * the blob's position in it — [[DeletionVectors.writeDvFile]]'s
    * layout). Carried forward with its file by every commit; a commit
    * that drops or rewrites the file drops the entry with it
    * ([[tryCommit]] writes entries for committed files only). */
  private val DvPrefix = "# dv:\t"

  /** One file's committed deletion vector (see [[DvPrefix]]). */
  private[graft] final case class DvEntry(storage: String, payload: String,
      offset: Long, size: Long, cardinality: Long)

  /** rel → [[DvEntry]]. */
  private[graft] type FileDvs = Map[String, DvEntry]

  private def parseDvs(lines: Seq[String]): FileDvs =
    lines.flatMap {
      case l if l.startsWith(DvPrefix) =>
        l.stripPrefix(DvPrefix).split("\t", -1) match {
          case Array(rel, st, payload, off, size, card) =>
            scala.util.Try((size.toLong, card.toLong)).toOption.map { case (s, c) =>
              unescapePathName(rel) -> DvEntry(st, unescapePathName(payload),
                if (off == "-") -1L else off.toLong, s, c)
            }
          case _ => None
        }
      case _ => None
    }.toMap

  private[graft] def dvEnabled(properties: Map[String, String]): Boolean =
    properties.get(DvProperty).exists(_.trim.equalsIgnoreCase("true"))

  /** Resolve + load + verify a [[DvEntry]]'s serialized bitmap blob.
    * Driver-side; bounded by `size` (bitmaps are KB-to-MB compact). */
  private[graft] def loadDvBlob(spark: SparkSession, root: String, e: DvEntry): Array[Byte] =
    e.storage match {
      case "i" =>
        val blob = DeletionVectors.z85decode(e.payload)
        require(blob.length >= e.size,
          s"inline DV decodes to ${blob.length} bytes, entry says ${e.size}")
        java.util.Arrays.copyOfRange(blob, 0, e.size.toInt)
      case "f" =>
        val abs =
          if (isAbsEntry(e.payload)) e.payload
          else s"${root.stripSuffix("/")}/${e.payload}"
        val p = new Path(abs)
        DeletionVectors.readDvFileBlob(
          p.getFileSystem(spark.sparkContext.hadoopConfiguration), p, e.offset, e.size)
      case other => throw new UnsupportedOperationException(
        s"unknown graft DV storage type '$other'")
    }

  /** THIS commit's row-level change-data files: `# cdc:\t<rel>` (rel
    * under [[CdcDir]], %-escaped) — Delta's `cdc` action. Deliberately
    * NOT carried forward: change files belong to exactly one commit, and
    * [[readChangeFeed]] collects them per version. Invisible to every
    * snapshot read (they live outside `data/`). */
  private val CdcPrefix = "# cdc:\t"

  /** Table CHECK constraints: `# constraint:<name>\t<sql expr>`, both
    * fields %-escaped — Delta's `delta.constraints.<name>` table
    * properties. Enforced row-level on every verb that introduces new
    * or rewritten rows (append/overwrite/replaceWhere/merge/update and
    * their exactly-once variants) by a codegen'd in-write check that
    * fails the job with the violating expression and row — no extra
    * data pass. SQL CHECK semantics: a NULL result passes, so NOT NULL
    * is expressed as `col IS NOT NULL`. */
  private val ConstraintPrefix = "# constraint:"

  private def parseConstraints(lines: Seq[String]): Map[String, String] =
    lines.flatMap {
      case l if l.startsWith(ConstraintPrefix) =>
        l.stripPrefix(ConstraintPrefix).split("\t", -1) match {
          case Array(n, e) => Some(unescapePathName(n) -> unescapePathName(e))
          case _ => None
        }
      case _ => None
    }.toMap

  private def parseProperties(lines: Seq[String]): Map[String, String] =
    lines.flatMap {
      case l if l.startsWith(PropertyPrefix) =>
        l.stripPrefix(PropertyPrefix).split("\t", -1) match {
          case Array(k, v) => Some(unescapePathName(k) -> unescapePathName(v))
          case _ => None
        }
      case _ => None
    }.toMap

  private def parseCdcFiles(lines: Seq[String]): Seq[String] =
    lines.collect {
      case l if l.startsWith(CdcPrefix) => unescapePathName(l.stripPrefix(CdcPrefix))
    }

  private def listedLines(fs: FileSystem, root: String, v: Long): Seq[String] = {
    val in = fs.open(manifestPath(root, v))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  private def parseTxns(lines: Seq[String]): Map[String, Long] =
    lines.collect {
      case l if l.startsWith(TxnPrefix) =>
        val body = l.stripPrefix(TxnPrefix)
        val cut = body.lastIndexOf(':')
        body.substring(0, cut) -> body.substring(cut + 1).toLong
    }.toMap

  private def parseSchema(lines: Seq[String]): Option[String] =
    lines.collectFirst {
      case l if l.startsWith(SchemaPrefix) => l.stripPrefix(SchemaPrefix)
    }

  private def parsePartitionBy(lines: Seq[String]): Option[Seq[String]] =
    lines.collectFirst {
      case l if l.startsWith(PartitionPrefix) =>
        l.stripPrefix(PartitionPrefix).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    }.filter(_.nonEmpty)

  private def parseDataChange(lines: Seq[String]): Boolean =
    !lines.exists(_.trim == DataChangeFalse)

  /** rel → col → [[ColStat]], rendered back from their escaped stat
    * lines. split with limit -1: an empty-string min/max is a legal value
    * and must not make the trailing field disappear; any line that still
    * doesn't parse is DROPPED (stats are an optimization — a malformed
    * line must never wedge the table). 4-field lines (older manifests)
    * parse with unknown null/row counts. */
  private def parseStats(lines: Seq[String]): FileStats = {
    def bound(s: String): Option[String] =
      if (s == AbsentBound) None else Some(unescapePathName(s))
    // single-pass mutable accumulation: a manifest carries files×columns
    // stat lines (millions at the 100 TB shape — SCALE.md, "Manifest
    // parse scale"), and
    // the previous groupBy-of-tuples formulation allocated the whole
    // relation twice before building the maps; this is the cold-snapshot
    // hot loop, measured 2.5× end-to-end on 1M-file manifests
    val acc = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.HashMap[String, ColStat]]
    lines.foreach { l =>
      if (l.startsWith(StatsPrefix)) {
        val parsed = l.stripPrefix(StatsPrefix).split("\t", -1) match {
          case Array(rel, c, mn, mx) =>
            Some((rel, c, ColStat(bound(mn), bound(mx), None, None)))
          case Array(rel, c, mn, mx, nu, rw) =>
            scala.util.Try((nu.toLong, rw.toLong)).toOption.map { case (n, r) =>
              (rel, c, ColStat(bound(mn), bound(mx), Some(n), Some(r)))
            }
          case _ => None
        }
        parsed.foreach { case (rel, c, st) =>
          acc.getOrElseUpdate(unescapePathName(rel),
            scala.collection.mutable.HashMap.empty)
            .update(unescapePathName(c), st)
        }
      }
    }
    acc.view.mapValues(_.toMap).toMap
  }

  private def escapeStat(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach { c =>
      if (c == '%' || c == '\t' || c == '\n' || c == '\r') sb.append(f"%%${c.toInt}%02X")
      else sb.append(c)
    }
    sb.toString
  }

  /** Types whose min/max stats are collected: total-ordered, compactly
    * rendered, and exactly round-trippable through a string cast. Floats
    * are excluded (NaN/-0.0 ordering traps); string bounds past
    * [[MaxStringStatLen]] chars are not stored. */
  private[graft] def statsEligible(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.BooleanType => true
    case _: org.apache.spark.sql.types.DecimalType => true
    case _ => false
  }

  private val MaxStatsCols = 12
  private val MaxStringStatLen = 64

  /** graft's [[SkippingKernel]] adapter: one file's committed stat
    * strings (manifest lines or checkpoint maps) as [[ColBounds]],
    * decoded from the form [[FooterStats]] renders — timestamps from
    * epoch micros (zone-independent), everything else through Spark's
    * string cast. Bounds of columns outside [[statsEligible]] are never
    * trusted; counts are. */
  private[graft] final class GraftStatsFacts(schema: StructType) extends Serializable {
    private val eligible: Map[String, DataType] = schema.fields
      .collect { case f if statsEligible(f.dataType) => f.name -> f.dataType }.toMap
    @transient private lazy val casts: Map[String, Expression] = eligible.map { case (c, dt) =>
      c -> Cast(BoundReference(0, org.apache.spark.sql.types.StringType, true), dt, Some("UTC"))
    }

    private def decode(c: String, s: String): Option[Any] =
      try eligible(c) match {
        case org.apache.spark.sql.types.TimestampType => Some(s.toLong)
        case _ => Option(casts(c).eval(InternalRow(UTF8String.fromString(s))))
      } catch { case scala.util.control.NonFatal(_) => None }

    def apply(statOf: String => Option[ColStat]): FileFacts = new FileFacts {
      def bounds(c: String): ColBounds = statOf(c) match {
        case None => ColBounds.Unknown
        case Some(s) if eligible.contains(c) =>
          ColBounds(s.min.flatMap(decode(c, _)), s.max.flatMap(decode(c, _)), s.nulls, s.rows)
        case Some(s) => ColBounds(None, None, s.nulls, s.rows)
      }
    }
  }

  /** One committed version of a table, as [[snapshot]] loads it: the
    * live files, their deletion vectors and the header lines (txn marks,
    * schema, layout, constraints, properties, op, dataChange, the
    * commit's own change-data files). Per-file stats parse on first use,
    * so routes that walk many versions ([[readChangeFeed]],
    * [[netFileChanges]], [[vacuum]]) never pay for them. `version = None`
    * is a root with no commit yet. */
  private[graft] final class Snapshot private[ManifestTable] (val root: String,
      val version: Option[Long], val files: Seq[String],
      private[ManifestTable] val header: Seq[String], val dvs: FileDvs,
      loadStats: () => FileStats) {
    lazy val stats: FileStats = loadStats()
    val txns: Map[String, Long] = parseTxns(header)
    val schemaJson: Option[String] = parseSchema(header)
    val partitionBy: Option[Seq[String]] = parsePartitionBy(header)
    val constraints: Map[String, String] = parseConstraints(header)
    val properties: Map[String, String] = parseProperties(header)
    def dataChange: Boolean = parseDataChange(header)
    def cdcFiles: Seq[String] = parseCdcFiles(header)
    /** The partition columns; empty when unpartitioned. */
    def layout: Seq[String] = partitionBy.getOrElse(Nil)
    /** The loaded version; fails on a root with no commit. */
    def committed: Long = version.getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    /** The declared schema; fails on a version without a schema line. */
    lazy val schema: StructType = DataType.fromJson(schemaJson.getOrElse(
      throw new IllegalStateException(s"version $committed of $root carries no schema line")))
      .asInstanceOf[StructType]
  }

  /** The one loader: version `version` of `root` (the latest commit when
    * None; an empty [[Snapshot]] when the root has none). Every read,
    * every verb and every commit attempt ([[commitWith]]) starts here, so
    * schema/layout decisions are made against one consistent view. */
  private[graft] def snapshot(spark: SparkSession, root: String,
      version: Option[Long] = None): Snapshot =
    version.orElse(currentVersion(spark, root)) match {
      case None => emptySnapshot(root)
      case Some(v) => loadVersion(spark, root, v, hasCheckpoint(spark, root, v))
    }

  private def emptySnapshot(root: String): Snapshot =
    new Snapshot(root, None, Nil, Nil, Map.empty, () => Map.empty)

  /** Version `v` from its parquet checkpoint when `checkpointed`, else —
    * or when the checkpoint is unreadable — from its text manifest; the
    * only place that chooses between the two encodings. A missing
    * manifest is a version [[vacuum]] reclaimed. */
  private def loadVersion(spark: SparkSession, root: String, v: Long,
      checkpointed: Boolean): Snapshot =
    (if (checkpointed) loadCheckpoint(spark, root, v) else None).getOrElse {
      val lines =
        try listedLines(fsFor(spark, root), root, v)
        catch {
          case e: java.io.FileNotFoundException => throw new IllegalStateException(
            s"version $v of $root no longer exists (vacuumed?)", e)
        }
      // one pass: a manifest carries files×columns stat lines, and only
      // the header is parsed eagerly
      val files = List.newBuilder[String]
      val header = List.newBuilder[String]
      val statLines = List.newBuilder[String]
      val dvLines = List.newBuilder[String]
      lines.foreach { l =>
        if (!l.startsWith("#")) files += l
        else if (l.startsWith(StatsPrefix)) statLines += l
        else if (l.startsWith(DvPrefix)) dvLines += l
        else header += l
      }
      val stats = statLines.result()
      new Snapshot(root, Some(v), files.result(), header.result(),
        parseDvs(dvLines.result()), () => parseStats(stats))
    }

  private def hasCheckpoint(spark: SparkSession, root: String, v: Long): Boolean = {
    val p = checkpointPath(root, v)
    try p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    catch { case scala.util.control.NonFatal(_) => false }
  }

  private def versionOrLatest(spark: SparkSession, root: String, version: Option[Long]): Long =
    version.orElse(currentVersion(spark, root)).getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))

  /** What a commit publishes besides its file list. `stats` holds every
    * known per-file column range; [[tryCommit]] writes only the entries
    * whose file is in the committed list. `op` is the verb for
    * [[history]]. `cdcFiles` are THIS commit's change-data files
    * (never carried forward). */
  private case class CommitMeta(schemaJson: Option[String],
      partitionBy: Option[Seq[String]], dataChange: Boolean = true,
      stats: FileStats = Map.empty,
      op: String = "write",
      constraints: Map[String, String] = Map.empty,
      properties: Map[String, String] = Map.empty,
      cdcFiles: Seq[String] = Nil,
      dvs: FileDvs = Map.empty)

  /** Snapshot read at the latest (or an explicit) version. */
  def read(spark: SparkSession, root: String, version: Option[Long] = None): DataFrame =
    readSnapshot(spark, snapshot(spark, root, version))

  /** Read one loaded version, all of it or, with `pred`, the files
    * [[candidates]] keeps for it with `pred` re-applied row-level — what
    * a caller already holding the [[Snapshot]] reads without loading the
    * manifest again. */
  private[graft] def readSnapshot(spark: SparkSession, snap: Snapshot,
      pred: Option[Column] = None): DataFrame = {
    val rels = pred.fold(snap.files)(candidates(spark, snap, _))
    val df = readFiles(spark, snap.root, rels, snap.schemaJson, snap.partitionBy.isDefined,
      s"version ${snap.committed}", dvs = snap.dvs)
    pred.fold(df)(df.filter)
  }

  /** Filtered snapshot read with READ-TIME data skipping — Delta's
    * stats-based file pruning on the scan path (the reference inherits
    * it from `format("delta")`, load_data_task.py:147). Semantically
    * identical to `read(root).filter(pred)`; the difference is which
    * files the scan OPENS:
    *
    *   1. partition pruning at the MANIFEST layer: top-level conjuncts
    *      of `pred` that reference partition columns only are evaluated
    *      against the partition values parsed from committed paths, so
    *      pruned partitions' files never even enter the reader's file
    *      index (at 100 TB the index itself is driver memory);
    *   2. stats skipping: the [[SkippingKernel]] every file index and
    *      the DELETE/MERGE/UPDATE localization scans use drops every
    *      file whose committed per-column (min, max, nulls) prove `pred`
    *      cannot match.
    *
    * Both passes are sound-not-complete: unsupported predicate shapes
    * and missing stats degrade to "open the file", and `pred` is
    * re-applied row-level to the survivors — a loose translation costs
    * I/O, never correctness. On a clustered layout
    * ([[graft.operators.Etl.zorderWrite]] / [[compact]]`(zorderBy)`)
    * a narrow range predicate opens a handful of files out of
    * thousands. */
  def readWhere(spark: SparkSession, root: String, pred: Column,
      version: Option[Long] = None): DataFrame = {
    val v = versionOrLatest(spark, root, version)
    val (rels, dvs, schemaJson, partitioned) = selectFiles(spark, root, v, pred)
    readFiles(spark, root, rels, schemaJson, partitioned, s"version $v", dvs = dvs).filter(pred)
  }

  /** The files a [[readWhere]] scan would open for `pred` — exposed for
    * specs and capacity planning. */
  private[graft] def readCandidates(spark: SparkSession, root: String, pred: Column,
      version: Option[Long] = None): Seq[String] =
    selectFiles(spark, root, versionOrLatest(spark, root, version), pred)._1

  /** The files of version `v` a scan for `pred` opens, with their
    * deletion vectors, the schema and whether the table is partitioned:
    * [[checkpointPrune]] when `v` has a checkpoint, else the loaded
    * snapshot through [[candidates]]. */
  private def selectFiles(spark: SparkSession, root: String, v: Long,
      pred: Column): (Seq[String], FileDvs, Option[String], Boolean) = {
    val checkpointed = hasCheckpoint(spark, root, v)
    (if (checkpointed) checkpointPrune(spark, root, v, pred) else None).getOrElse {
      // a checkpoint checkpointPrune could not use is not read twice
      val snap = loadVersion(spark, root, v, checkpointed = false)
      (candidates(spark, snap, pred), snap.dvs, snap.schemaJson, snap.partitionBy.isDefined)
    }
  }

  /** DISTRIBUTED pruning off the parquet checkpoint — the step past the
    * driver-parse boundary SCALE.md names: when version `v` carries a
    * checkpoint, a filtered read never materializes the full file list
    * or stats on the driver. The [[SkippingKernel]] runs BY EXECUTORS
    * over the checkpoint's columnar stats maps; only the surviving
    * `(rel, dv)` rows come back — driver memory is O(survivors), not
    * O(table). Partition-tuple and Bloom pruning then run on the
    * bounded survivor list on the driver (same final set as the text
    * path: these prunes are independent sound filters, so their order
    * is immaterial). Any surprise degrades to `None` → the text path. */
  private def checkpointPrune(spark: SparkSession, root: String, v: Long,
      pred: Column): Option[(Seq[String], FileDvs, Option[String], Boolean)] = {
    import org.apache.spark.sql.functions.{col => cl}
    val p = checkpointPath(root, v)
    try {
      // header from the streaming Group reader (the meta row is row 0) —
      // a Spark job just to fetch one row would double the prune latency
      // on small checkpointed tables
      val hdr = loadCheckpointHeader(spark, p).getOrElse(return None)
      val schemaJson = parseSchema(hdr).getOrElse(return None)
      val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
      val layout = parsePartitionBy(hdr)
      val props = parseProperties(hdr)
      val resolved = withDerivedPartitions(spark, SkippingKernel.resolve(spark, pred, schema),
        schema, props, layout.getOrElse(Nil))
      val kernel = SkippingKernel(Seq(resolved))
      val facts = new GraftStatsFacts(schema)
      val dvCols = Seq("dv_storage", "dv_payload", "dv_offset", "dv_size", "dv_cardinality")
      val frame = spark.read.parquet(p.toString).filter(cl("kind") === "file")
      // the stat-map entries of the kernel's columns only, four per
      // column after `rel` and the five dv fields
      val cols = kernel.columns.toSeq
      val statAt = cols.zipWithIndex.map { case (c, i) => c -> (6 + 4 * i) }.toMap
      val filtered =
        if (!kernel.canPrune) frame
        else frame.select((cl("rel") +: dvCols.map(cl)) ++ cols.flatMap(c =>
            Seq("mins", "maxs", "nullcnt", "rowcnt").map(m => cl(m).getItem(c))): _*)
          .filter { (r: Row) =>
            def long(j: Int) = if (r.isNullAt(j)) None else Some(r.getLong(j))
            kernel.mayMatch(facts(c => statAt.get(c).map(j =>
              ColStat(Option(r.getString(j)), Option(r.getString(j + 1)), long(j + 2), long(j + 3)))))
          }
      val survivors = filtered.select(("rel" +: dvCols).map(cl): _*).collect()
      val dvs: FileDvs = survivors.collect {
        case r if !r.isNullAt(1) =>
          r.getString(0) -> DvEntry(r.getString(1), r.getString(2), r.getLong(3),
            r.getLong(4), r.getLong(5))
      }.toMap
      val rels = pruneFiles(spark, root, survivors.map(_.getString(0)).toSeq, schema,
        layout.getOrElse(Nil), Map.empty, props, Seq(resolved))
      val keep = rels.toSet
      Some((rels, dvs.view.filterKeys(keep).toMap, Some(schemaJson), layout.isDefined))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** A listed-file subset of one loaded version, read through the full
    * mapping/DV-aware path — what the streaming source's per-batch reads
    * use when the table is column-mapped (the stock file-index scan
    * cannot translate physical names). */
  private[graft] def readListedSubset(spark: SparkSession, snap: Snapshot,
      rels: Seq[String]): DataFrame = {
    val relSet = rels.toSet
    readFiles(spark, snap.root, rels, snap.schemaJson, snap.partitionBy.isDefined,
      s"subset of version ${snap.committed}", dvs = snap.dvs.filter { case (r, _) => relSet(r) })
  }

  /** The files of one snapshot that may hold a row for which the
    * resolved `pred` is true — what every read, DML localization and
    * [[GraftFileIndex]] opens. Three sound passes: partition-only
    * conjuncts over each distinct partition tuple
    * ([[SkippingKernel.partitionMatches]]), then the [[SkippingKernel]]
    * over committed stats, with Bloom sidecars as its equality facts
    * (only files whose min/max admit a looked-up value load theirs). */
  private[graft] def pruneFiles(spark: SparkSession, root: String, files: Seq[String],
      schema: StructType, layout: Seq[String], stats: FileStats,
      properties: Map[String, String], filters: Seq[Expression]): Seq[String] = {
    val afterPart = SkippingKernel.partitionConjuncts(filters, layout) match {
      case Some(p) if files.nonEmpty => SkippingKernel.partitionMatches[String](files,
        parsePartitionValues(_, layout), partitionSchema(schema, layout), p, sessionTz(spark))
      case _ => files
    }
    val kernel = SkippingKernel(filters)
    if (!kernel.canPrune || afterPart.isEmpty) return afterPart
    val facts = new GraftStatsFacts(schema)
    val bloom = bloomFacts(spark, root, schema, properties)
    afterPart.filter { rel =>
      val base = facts(c => stats.get(rel).flatMap(_.get(c)))
      kernel.mayMatch(bloom.fold(base)(b => new FileFacts {
        def bounds(c: String): ColBounds = base.bounds(c)
        override def mayEqual(c: String, v: Any): Boolean = b(rel, c, v)
      }))
    }
  }

  private def sessionTz(spark: SparkSession): String =
    spark.sessionState.conf.sessionLocalTimeZone

  private def partitionSchema(schema: StructType, layout: Seq[String]): StructType =
    StructType(layout.map(c => schema.fields.find(_.name == c).getOrElse(
      throw new IllegalStateException(s"partition column $c is missing from the table schema"))))

  /** [[parsePartitionValues]] for the scan integration. */
  private[graft] def partitionValuesOf(rel: String, partCols: Seq[String]): Seq[Option[String]] =
    parsePartitionValues(rel, partCols)

  /** The files of `snap` that may hold a row matching `pred` — what
    * [[readWhere]]'s text path, DELETE and UPDATE open: [[pruneFiles]]
    * over `pred` resolved against the snapshot's schema. Predicates on
    * the SOURCE column of a generated partition column first gain
    * derived partition conjuncts ([[withDerivedPartitions]]) so a `ts`
    * range prunes `day` partitions the predicate never mentions. The
    * full file list when the table carries no schema (nothing to type
    * the stats against). */
  private def candidates(spark: SparkSession, snap: Snapshot, pred: Column): Seq[String] =
    if (snap.schemaJson.isEmpty) snap.files
    else {
      val resolved = withDerivedPartitions(spark,
        SkippingKernel.resolve(spark, pred, snap.schema), snap.schema, snap.properties, snap.layout)
      pruneFiles(spark, snap.root, snap.files, snap.schema, snap.layout, snap.stats,
        snap.properties, Seq(resolved))
    }

  /** Delta's generated-column partition pruning, the sound monotone
    * core: when partition column `p` is generated as `f(c)` with `f`
    * MONOTONIC non-decreasing (`CAST(c AS DATE)`, `date_trunc(unit, c)`,
    * `year(c)`), a top-level conjunct bounding `c` implies a bound on
    * `p` — `c ∈ [L, U]` ⇒ `p ∈ [f(L), f(U)]` — so the derived conjunct
    * can only DROP files no matching row lives in. Returns the resolved
    * `pred` with the derived conjuncts ANDed on — for pruning only,
    * never as a row filter; any shape or evaluation doubt skips the
    * derivation (costs pruning, never correctness). */
  private def withDerivedPartitions(spark: SparkSession, pred: Expression, schema: StructType,
      properties: Map[String, String], layout: Seq[String]): Expression = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    val gens = generatedExprs(properties).filter { case (c, _) => layout.contains(c) }
    if (gens.isEmpty) return pred
    val tz = Some(sessionTz(spark))
    // (source column, literal → f(literal))
    def monoOf(sql: String): Option[(String, Literal => Option[Literal])] =
      try spark.sessionState.sqlParser.parseExpression(sql) match {
        case c: Cast if c.child.isInstanceOf[UnresolvedAttribute] &&
            c.dataType == org.apache.spark.sql.types.DateType =>
          Some((c.child.asInstanceOf[UnresolvedAttribute].name,
            l => evalFold(Cast(l, c.dataType, tz))))
        case t: TruncTimestamp if t.timestamp.isInstanceOf[UnresolvedAttribute] &&
            t.format.isInstanceOf[Literal] =>
          Some((t.timestamp.asInstanceOf[UnresolvedAttribute].name,
            l => evalFold(TruncTimestamp(t.format, l, tz))))
        case y: Year if y.child.isInstanceOf[UnresolvedAttribute] =>
          Some((y.child.asInstanceOf[UnresolvedAttribute].name,
            l => evalFold(Year(Cast(l, org.apache.spark.sql.types.DateType, tz)))))
        case _ => None
      } catch { case _: Exception => None }
    val monos: Seq[(String, String, Literal => Option[Literal])] =
      gens.toSeq.flatMap { case (p, sql) => monoOf(sql).map { case (src, f) => (p, src, f) } }
    if (monos.isEmpty) return pred
    val derived = SkippingKernel.conjuncts(pred).flatMap { conj =>
      // (source attr name, literal, op) in both orientations
      val shape: Option[(String, Literal, String)] = conj match {
        case GreaterThanOrEqual(a: AttributeReference, l: Literal) => Some((a.name, l, ">="))
        case GreaterThan(a: AttributeReference, l: Literal) => Some((a.name, l, ">="))
        case LessThanOrEqual(a: AttributeReference, l: Literal) => Some((a.name, l, "<="))
        case LessThan(a: AttributeReference, l: Literal) => Some((a.name, l, "<="))
        case EqualTo(a: AttributeReference, l: Literal) => Some((a.name, l, "="))
        case GreaterThanOrEqual(l: Literal, a: AttributeReference) => Some((a.name, l, "<="))
        case GreaterThan(l: Literal, a: AttributeReference) => Some((a.name, l, "<="))
        case LessThanOrEqual(l: Literal, a: AttributeReference) => Some((a.name, l, ">="))
        case LessThan(l: Literal, a: AttributeReference) => Some((a.name, l, ">="))
        case EqualTo(l: Literal, a: AttributeReference) => Some((a.name, l, "="))
        case _ => None
      }
      shape.toSeq.filter(_._2.value != null).flatMap { case (attr, l, op) =>
        monos.filter(_._2.equalsIgnoreCase(attr)).flatMap { case (p, _, f) =>
          val pt = schema(p).dataType
          f(l).flatMap(fl => if (fl.dataType == pt) Some(fl) else evalFold(Cast(fl, pt, tz)))
            .map { fl =>
              val pa = AttributeReference(p, pt)()
              op match {
                case ">=" => GreaterThanOrEqual(pa, fl)
                case "<=" => LessThanOrEqual(pa, fl)
                case _ => EqualTo(pa, fl)
              }
            }
        }
      }
    }
    (pred +: derived).reduce[Expression](And(_, _))
  }

  /** Fold a literal-only expression to a typed literal; None on any
    * evaluation failure (mismatched literal type, bad format). */
  private def evalFold(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.catalyst.expressions.Literal] =
    try {
      val v = e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      if (v == null) None
      else Some(org.apache.spark.sql.catalyst.expressions.Literal(v, e.dataType))
    } catch { case _: Exception => None }

  /** The version a reader at wall-clock `tsMillis` would have seen —
    * Delta's `timestampAsOf` resolution. Commit time is the manifest
    * file's store-assigned mtime (set by the atomic rename that published
    * it); mtimes can regress under clock skew, so they are monotonized
    * with a running max over version order (the same adjustment Delta
    * applies to commit timestamps) before picking the last version at or
    * before `tsMillis`. [[vacuum]]ed versions are gone from the listing —
    * a timestamp older than the oldest retained commit fails loud. */
  def versionAsOf(spark: SparkSession, root: String, tsMillis: Long): Long = {
    val fs = fsFor(spark, root)
    val dir = new Path(s"${root.stripSuffix("/")}/$ManifestDir")
    val commits =
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq
        .flatMap(s => parseVersion(s.getPath.getName).map(v => (v, s.getModificationTime)))
        .sortBy(_._1)
    require(commits.nonEmpty, s"no committed version at $root")
    var runningMax = Long.MinValue
    val adjusted = commits.map { case (v, t) =>
      runningMax = math.max(runningMax, t); (v, runningMax)
    }
    adjusted.takeWhile(_._2 <= tsMillis).lastOption match {
      case Some((v, _)) => v
      case None => throw new IllegalArgumentException(
        s"timestamp $tsMillis predates the oldest retained commit " +
          s"(v${adjusted.head._1} at ${adjusted.head._2}) of $root — earlier versions " +
          "were never committed or have been vacuumed")
    }
  }

  /** Snapshot read as of a wall-clock timestamp (time travel). */
  def readAsOf(spark: SparkSession, root: String, tsMillis: Long): DataFrame =
    read(spark, root, Some(versionAsOf(spark, root, tsMillis)))

  /** The table's commit log — Delta `DESCRIBE HISTORY`: one row per
    * retained version with (version, timestamp, operation, dataChange,
    * n_files), newest first. Timestamps are the same monotonized commit
    * mtimes [[versionAsOf]] resolves against; vacuumed versions are gone
    * from the listing. Metadata-scale: reads manifests, never data. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val fs = fsFor(spark, root)
    val dir = new Path(s"${root.stripSuffix("/")}/$ManifestDir")
    val commits =
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq
        .flatMap(s => parseVersion(s.getPath.getName).map(v => (v, s.getModificationTime)))
        .sortBy(_._1)
    var runningMax = Long.MinValue
    val rows: java.util.List[Row] = commits.map { case (v, t) =>
      runningMax = math.max(runningMax, t)
      val lines = listedLines(fs, root, v)
      val op = lines.collectFirst {
        case l if l.startsWith(OpPrefix) => l.stripPrefix(OpPrefix)
      }.getOrElse("write")
      Row(v, new java.sql.Timestamp(runningMax), op, parseDataChange(lines),
        lines.count(!_.startsWith("#")).toLong)
    }.reverse.asJava
    spark.createDataFrame(rows, StructType(Seq(
      StructField("version", org.apache.spark.sql.types.LongType, false),
      StructField("timestamp", org.apache.spark.sql.types.TimestampType, false),
      StructField("operation", org.apache.spark.sql.types.StringType, false),
      StructField("data_change", org.apache.spark.sql.types.BooleanType, false),
      StructField("n_files", org.apache.spark.sql.types.LongType, false))))
  }

  /** Roll the table back to `version`'s contents — as a NEW commit (Delta
    * `RESTORE`): nothing is deleted, history stays linear, readers pinned
    * to intermediate versions are untouched, and the restore itself can be
    * undone by another restore. No data is rewritten — the new manifest
    * re-lists `version`'s still-present files (restore before [[vacuum]];
    * a vacuumed target fails in the loader). Schema and layout
    * revert with the contents; txn marks are NOT reverted — they are
    * writer-progress state, and replaying an already-seen batch after a
    * restore would otherwise double-append. */
  def restore(spark: SparkSession, root: String, version: Long): Long = {
    checkCommitScheme(spark, root)
    val target = snapshot(spark, root, Some(version))
    target.files.find { rel =>
      val p = new Path(resolveEntry(root, rel))
      !p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }.foreach { gone =>
      throw new IllegalStateException(
        s"cannot restore $root to v$version: data file $gone was vacuumed")
    }
    target.dvs.collectFirst { case (_, e) if e.storage == "f" => e }.foreach { e =>
      val abs = if (isAbsEntry(e.payload)) e.payload
        else s"${root.stripSuffix("/")}/${e.payload}"
      val p = new Path(abs)
      if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
        throw new IllegalStateException(
          s"cannot restore $root to v$version: deletion-vector file ${e.payload} was vacuumed")
    }
    commitWith(spark, root) { snap =>
      Some((target.files, snap.txns,
        CommitMeta(target.schemaJson, target.partitionBy, stats = target.stats,
          op = "restore", constraints = target.constraints,
          properties = target.properties, dvs = target.dvs)))
    }.get
  }

  /** SHALLOW CLONE — Delta's `CREATE TABLE … SHALLOW CLONE src [VERSION
    * AS OF v]` (reference's lake is Delta, load_data_task.py:142; clones
    * are how a 100 TB table gets a zero-copy dev/branch copy): the new
    * table's first commit POINTS at the source version's data files as
    * absolute entries — no data moves, only one manifest is written —
    * carrying the source's schema, partition layout, per-file stats and
    * CHECK constraints. The clone is immediately first-class:
    *
    *   - reads prune with the cloned stats and partition values;
    *   - mutation verbs (merge/delete/update/replaceWhere) copy-on-write
    *     REPLACEMENT files into the clone's OWN data dir — the source is
    *     never written, and untouched files stay shared;
    *   - [[compact]] rewrites everything local = Delta's OPTIMIZE-led
    *     materialization of a clone;
    *   - [[vacuum]] deletes only under its own root, so neither side can
    *     ever reclaim the other's files. The corollary (same as Delta):
    *     vacuuming the SOURCE below the clone point can orphan the
    *     clone's shared files — clone lifetime bounds source retention.
    *
    * Returns the clone's first version (1). */
  def shallowClone(spark: SparkSession, srcRoot: String, dstRoot: String,
      version: Option[Long] = None): Long = {
    checkCommitScheme(spark, dstRoot)
    // scheme-stripped so entries match what [[relUnderRoot]] renders back
    // from `_metadata.file_path` during later copy-on-write bookkeeping
    val srcBase0 = srcRoot.stripSuffix("/")
    val srcBase =
      if (srcBase0.contains("://") || srcBase0.startsWith("file:"))
        canonicalAbs(new Path(srcBase0))
      else srcBase0
    require(srcBase.startsWith("/"),
      s"shallow clone needs an absolute source root, got $srcRoot")
    val src = snapshot(spark, srcRoot, Some(versionOrLatest(spark, srcRoot, version)))
    // cloning a clone re-points at the same external files
    def ext(rel: String): String = if (isAbsEntry(rel)) rel else s"$srcBase/$rel"
    val files = src.files.map(ext)
    val stats = src.stats.map { case (rel, m) => ext(rel) -> m }
    // deletion vectors ride along: entry keys re-point with their files,
    // and `f`-storage payloads become absolute into the SOURCE's _dv dir
    // (inline payloads carry their bytes with them) — the clone reads the
    // source's vectors without copying them, and its own later mutations
    // write vectors under its OWN root
    val dvs = src.dvs.map { case (rel, e) =>
      ext(rel) -> (if (e.storage == "f") e.copy(payload = ext(e.payload)) else e)
    }
    commitWith(spark, dstRoot) { snap =>
      require(snap.version.isEmpty,
        s"shallow clone target $dstRoot already has a committed version")
      Some((files, Map.empty, CommitMeta(src.schemaJson, src.partitionBy,
        stats = stats, op = "clone", constraints = src.constraints,
        properties = src.properties, dvs = dvs)))
    }.get
  }

  /** Load exactly `rels`. The committed schema (when present) is passed
    * explicitly: snapshots keep their declared types, files written before
    * a column was added read it back as null, and partition values parse
    * to the declared type instead of re-inference. Partitioned tables set
    * `basePath` so hive subdir values surface as columns. */
  private def readFiles(spark: SparkSession, root: String, rels: Seq[String],
      schemaJson: Option[String], partitioned: Boolean, what: String,
      dvs: FileDvs = Map.empty): DataFrame = {
    if (rels.nonEmpty) {
      val df = readEntryGroups(spark, root, rels, schemaJson, partitioned, dvs = dvs)
      // the file source surfaces partition columns LAST no matter what the
      // user schema says; project back to the declared order (free — a
      // narrow projection, no shuffle)
      schemaJson match {
        case Some(json) if partitioned =>
          val declared = DataType.fromJson(json).asInstanceOf[StructType].fieldNames
          df.select(declared.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
        case _ => df
      }
    } else schemaJson match {
      // a legitimate empty snapshot: typed empty frame, not a parquet
      // schema-inference crash over zero paths
      case Some(json) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        stripMappingMeta(DataType.fromJson(json).asInstanceOf[StructType]))
      case None => throw new IllegalStateException(
        s"$what at $root lists no data files and carries no schema line")
    }
  }

  /** One parquet scan per (entry base): local entries read against the
    * root's data dir, each external group (shallow-clone pointers) against
    * its SOURCE data dir — `basePath` must name the hive layout's parent,
    * and external files have a different one. Single-group tables (every
    * table that is not a partially-rewritten clone) keep their one-scan
    * plan; mixed tables union by name, which stays a pure scan union (no
    * shuffle).
    *
    * Files carrying a deletion vector (`dvs`) stay in ONE multi-path
    * scan per group, filtered by [[graft.plans.DvDeadRow]] — a codegen'd
    * bitmap-membership predicate over `_metadata.file_name`/`row_index`.
    * No join, no shuffle: the DV check compiles into the scan's own
    * WholeStageCodegen stage, plan width stays O(1) no matter how many
    * files carry vectors, the combined scan keeps pushdown/pruning, and
    * the COMPACT bitmaps ride a broadcast (each task decodes only the
    * files it reads — a huge vector never expands on the driver).
    * DV-less files keep their own untouched scan; [[compact]] purges
    * vectors entirely. `tagPos` additionally projects each row's file
    * position as `__pos` (the MoR mutation verbs' localization needs
    * (file, position) identity). */
  private def readEntryGroups(spark: SparkSession, root: String, rels: Seq[String],
      schemaJson: Option[String], partitioned: Boolean,
      tagFile: Boolean = false, dvs: FileDvs = Map.empty,
      tagPos: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val base = root.stripSuffix("/")
    // column mapping: scan under the PHYSICAL schema, rename back to
    // logical at the end (one narrow projection — pruning and pushed
    // filters travel through the aliases untouched)
    val logicalSchema = schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType])
    val mapped = logicalSchema.exists(isMapped)
    // `_metadata` is a file-scan column — it does not survive a union, so
    // the __file/__pos tags are projected per group, before any union
    def tag(df: DataFrame): DataFrame = {
      val f = if (tagFile) df.withColumn("__file", col("_metadata.file_path")) else df
      if (tagPos) f.withColumn("__pos", col("_metadata.row_index")) else f
    }
    // (abs path, rel entry) pairs: the DV map is keyed by the ENTRY
    def readGroup(files: Seq[(String, String)], basePath: Option[String]): DataFrame = {
      def reader = {
        var r = spark.read
        logicalSchema.foreach { s =>
          r = r.schema(if (mapped) toPhysical(s) else s)
        }
        basePath.foreach(b => r = r.option("basePath", b))
        r
      }
      val (dvd, plain) = files.partition { case (_, rel) => dvs.contains(rel) }
      val scans = Seq.newBuilder[DataFrame]
      if (plain.nonEmpty) scans += tag(reader.parquet(plain.map(_._1): _*))
      if (dvd.nonEmpty) {
        def baseName(p: String): String = p.substring(p.lastIndexOf('/') + 1)
        // membership identity is the file NAME (uuid-suffixed part files
        // are unique; `_metadata.file_name` is encoding-stable where
        // file_path is percent-encoded). A name collision would
        // cross-apply vectors — fall back to per-file scans, never risk it.
        val names = dvd.map { case (abs, _) => baseName(abs) }
        if (names.distinct.size == names.size) {
          val blobs: Map[String, Array[Byte]] = dvd.map { case (abs, rel) =>
            baseName(abs) -> loadDvBlob(spark, root, dvs(rel))
          }.toMap
          scans += tag(reader.parquet(dvd.map(_._1): _*))
            .filter(graft.plans.DvDeadRow.liveFilter(spark, blobs))
        } else dvd.foreach { case (abs, rel) =>
          val deleted = DeletionVectors.positionsDataset(spark,
            loadDvBlob(spark, root, dvs(rel)))
          scans += tag(reader.parquet(abs))
            .withColumn("__graft_pos", col("_metadata.row_index"))
            .join(deleted, col("__graft_pos") === col("__graft_del_pos"), "left_anti")
            .drop("__graft_pos")
        }
      }
      scans.result().reduce(_ unionByName _)
    }
    val scanned =
      if (!partitioned) readGroup(rels.map(r => (resolveEntry(root, r), r)), None)
      else {
        val (external, local) = rels.partition(isAbsEntry)
        val groups = Seq.newBuilder[DataFrame]
        if (local.nonEmpty)
          groups += readGroup(local.map(r => (s"$base/$r", r)), Some(s"$base/$DataDir"))
        external.groupBy(externalDataBase).toSeq.sortBy(_._1).foreach { case (b, fs2) =>
          groups += readGroup(fs2.map(r => (r, r)), Some(b))
        }
        groups.result().reduce(_ unionByName _)
      }
    if (!mapped) scanned
    else {
      val s = logicalSchema.get
      val physNames = toPhysical(s).fieldNames.toSet
      val extras = scanned.columns.filterNot(physNames) // __file / __pos tags
      scanned.select(s.fields.toIndexedSeq.map(f =>
        qcol(physicalNameOf(f)).as(f.name, stripMappingMeta(f.metadata))) ++
        extras.map(qcol): _*)
    }
  }

  /** `col(...)` with names containing dots backtick-quoted (physical
    * names never carry backticks — [[addColumn]]/[[renameColumn]] refuse
    * them). */
  private def qcol(n: String): Column =
    org.apache.spark.sql.functions.col(if (n.contains(".")) s"`$n`" else n)

  /** The source table's data dir inside an absolute entry — the deepest
    * `/data/` segment. Sound because hive partition segments always carry
    * `=` (a plain `data` dir cannot occur below the real one) and slashes
    * in partition VALUES are hive-escaped (`%2F`). */
  private def externalDataBase(abs: String): String = {
    val i = abs.lastIndexOf(s"/$DataDir/")
    require(i >= 0,
      s"external entry $abs of a partitioned table does not contain a /$DataDir/ segment")
    abs.substring(0, i + 1 + DataDir.length)
  }

  /** What [[stage]] produced: committed-relative paths plus the per-file
    * column stats read from the staged footers. */
  private case class Staged(rels: Seq[String],
      stats: FileStats)

  /** Stage `df` as parquet under `data/` with a commit-unique prefix;
    * returns the relative paths and per-file column stats. Invisible to
    * readers until committed. With `partitionBy`, files land in hive-style
    * subdirs whose relative paths carry the partition values.
    *
    * Stats come from the staged files' parquet footers ([[footerStats]]),
    * never from a scan of the data. An unreadable footer leaves the
    * commit without stats, never fails the write. */
  private def stage(spark: SparkSession, root: String, df0: DataFrame,
      partitionBy: Seq[String] = Nil,
      constraints: Map[String, String] = Map.empty,
      tableSchemaJson: Option[String] = None,
      tableProperties: Map[String, String] = Map.empty): Staged = {
    checkCommitScheme(spark, root) // fail before moving data, not at commit
    val checked = withConstraintChecks(df0, constraints)
    // column mapping: constraints/generated checks ran over LOGICAL names
    // above; the bytes land under the schema's stable PHYSICAL names.
    // Stats keys translate back to logical below, so pruning stays
    // name-mapping-agnostic end to end.
    val mapping = tableSchemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .filter(isMapped)
    val (df, physPartitionBy, toLogicalName) = mapping match {
      case Some(s) =>
        val m = physByLogical(s)
        val unknown = checked.columns.filterNot(m.contains)
        require(unknown.isEmpty,
          s"write to the column-mapped table at $root: columns [${unknown.mkString(",")}] are " +
            "not in the table schema — ManifestTable.addColumn (or SQL ALTER TABLE … ADD " +
            "COLUMN) first; column mapping disables implicit schema merges")
        (checked.select(checked.columns.toIndexedSeq.map(c => qcol(c).as(m(c))): _*),
          partitionBy.map(c => m.getOrElse(c, c)),
          m.map(_.swap))
      case None => (checked, partitionBy, Map.empty[String, String])
    }
    val fs = fsFor(spark, root)
    val tag = UUID.randomUUID().toString.take(8)
    val scratch = new Path(s"${root.stripSuffix("/")}/$StagingDir/$tag")
    // staged files carry timestamps as INT64 micros (scoped to THIS
    // write — session default untouched): legacy INT96 publishes no
    // usable footer statistics, so the footer-based commit stats below
    // could never state timestamp bounds. Value-identical on read;
    // readers handle both encodings.
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    try {
      if (physPartitionBy.isEmpty) df.write.parquet(scratch.toString)
      else df.write.partitionBy(physPartitionBy: _*).parquet(scratch.toString)
    } finally prevTs match {
      case Some(v) => spark.conf.set(tsKey, v)
      case None => spark.conf.unset(tsKey)
    }
    val dataDir = new Path(s"${root.stripSuffix("/")}/$DataDir")
    fs.mkdirs(dataDir)
    val moved = listFilesRecursive(fs, scratch)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val rel = relativeTo(scratch, st.getPath)
        val cut = rel.lastIndexOf('/')
        val (sub, name) = if (cut < 0) ("", rel) else (rel.substring(0, cut + 1), rel.substring(cut + 1))
        val dst = new Path(dataDir, s"$sub$tag-$name")
        fs.mkdirs(dst.getParent)
        require(fs.rename(st.getPath, dst), s"cannot move staged file ${st.getPath} to $dst")
        s"$DataDir/$sub$tag-$name"
      }
    fs.delete(scratch, true)
    def logicalKeys(stats: FileStats): FileStats =
      if (toLogicalName.isEmpty) stats
      else stats.map { case (rel, cols) =>
        rel -> cols.map { case (c, s) => toLogicalName.getOrElse(c, c) -> s }
      }
    val footers =
      try footerStats(spark, root, moved, df.schema, physPartitionBy)
      catch { case scala.util.control.NonFatal(_) => Map.empty[String, (Long, Map[String, ColStat])] }
    // files with ZERO rows (a delete that emptied its partition, an
    // empty micro-batch slice) are dropped: they would otherwise sit in
    // the manifest forever as stats-less, never-prunable entries
    val (empty, live) = moved.partition(rel => footers.get(rel).exists(_._1 == 0L))
    empty.foreach(rel => fs.delete(new Path(s"${root.stripSuffix("/")}/$rel"), false))
    val staged = Staged(live, logicalKeys(
      footers.collect { case (rel, (n, cs)) if n > 0 && cs.nonEmpty => rel -> cs }))
    // bloom sidecars ride the stage: configured columns get per-file
    // point-lookup filters next to the bytes (partition columns carry no
    // in-file bytes to index)
    val bloomConf = bloomColumns(tableProperties)
    if (bloomConf.nonEmpty) {
      val physOfLogical = toLogicalName.map(_.swap)
      val physBloom = bloomConf
        .map { case (c, f) => physOfLogical.getOrElse(c, c) -> f }
        .filter { case (c, _) => !physPartitionBy.contains(c) }
      writeBloomSidecars(spark, root, staged, df.schema, physBloom)
    }
    staged
  }

  /** Stage row-level change rows (table columns + [[ChangeTypeCol]]) as
    * parquet under `cdc/` with a commit-unique prefix; returns relative
    * paths for the commit's `# cdc:` lines. Same publish-by-rename
    * mechanics as [[stage]] minus stats collection; always written
    * UNPARTITIONED with partition values as ordinary columns (change
    * rows are read per-commit, never pruned). Callers only invoke this
    * for verbs that actually matched rows, so the frame is non-empty by
    * construction. */
  private def stageCdc(spark: SparkSession, root: String, df0: DataFrame,
      tableSchemaJson: Option[String] = None): Seq[String] = {
    val fs = fsFor(spark, root)
    // column mapping: change files spell table columns physically, like
    // data files ([[ChangeTypeCol]] has no mapping and passes through);
    // the feed read maps them back per contributing version's schema
    val df = tableSchemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .filter(isMapped) match {
      case Some(s) =>
        val m = physByLogical(s)
        df0.select(df0.columns.toIndexedSeq.map(c => qcol(c).as(m.getOrElse(c, c))): _*)
      case None => df0
    }
    val tag = UUID.randomUUID().toString.take(8)
    val scratch = new Path(s"${root.stripSuffix("/")}/$StagingDir/cdc-$tag")
    df.write.parquet(scratch.toString)
    val cdcDir = new Path(s"${root.stripSuffix("/")}/$CdcDir")
    fs.mkdirs(cdcDir)
    val moved = listFilesRecursive(fs, scratch)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val name = st.getPath.getName
        val dst = new Path(cdcDir, s"$tag-$name")
        require(fs.rename(st.getPath, dst), s"cannot move staged cdc file ${st.getPath} to $dst")
        s"$CdcDir/$tag-$name"
      }
    fs.delete(scratch, true)
    moved
  }

  /** In-write CHECK enforcement: each constraint becomes a row filter
    * that PASSES (keeps the row) when the expression is TRUE or NULL —
    * SQL CHECK semantics — and otherwise raises with the constraint
    * name, expression, and the violating row rendered as JSON. The
    * check rides the write's own scan (codegen'd `raise_error` inside a
    * filter Catalyst cannot eliminate), so enforcement costs no extra
    * pass over the data — the same shape as Delta's CheckDeltaInvariant. */
  private def withConstraintChecks(df: DataFrame, constraints: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, concat, expr, lit, raise_error, struct, to_json, when}
    constraints.toSeq.sortBy(_._1).foldLeft(df) { case (d, (n, sql)) =>
      val pass = coalesce(expr(sql).cast("boolean"), lit(true))
      d.filter(when(pass, lit(true)).otherwise(raise_error(concat(
        lit(s"CHECK constraint $n ($sql) violated by row "),
        to_json(struct(d.columns.map(col).toIndexedSeq: _*)))).cast("boolean")))
    }
  }

  /** Per-file stats of the staged files `rels`, read from the footers
    * the write just produced ([[FooterStats.parquet]], one metadata read
    * per file): [[statsEligible]] non-partition columns, the first
    * [[MaxStatsCols]], and no bounds for a string past
    * [[MaxStringStatLen]] chars. Up to 64 footers are read concurrently
    * on the driver (each is ~10 ms of FS latency), more by a distributed
    * pass. Throws on an unreadable footer. */
  private def footerStats(spark: SparkSession, root: String, rels: Seq[String],
      schema: StructType, partitionBy: Seq[String]): Map[String, (Long, Map[String, ColStat])] = {
    if (rels.isEmpty) return Map.empty
    val want = schema.fields
      .filter(f => !partitionBy.contains(f.name) && statsEligible(f.dataType))
      .take(MaxStatsCols).map(f => f.name -> f.dataType).toMap
    val base = root.stripSuffix("/")
    val conf = spark.sessionState.newHadoopConf()
    val read: Seq[(String, (Long, Map[String, ColStat]))] =
      if (rels.size <= 64) {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(16, rels.size))
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try Await.result(Future.sequence(rels.map(rel => Future(
          rel -> FooterStats.parquet(conf, new Path(s"$base/$rel"), want)))), Duration.Inf)
        finally pool.shutdown()
      } else {
        val serConf = new org.apache.spark.util.SerializableConfiguration(conf)
        val slices = math.min(rels.size, math.max(2, spark.sparkContext.defaultParallelism * 2))
        spark.sparkContext.parallelize(rels, slices).map(rel =>
          rel -> FooterStats.parquet(serConf.value, new Path(s"$base/$rel"), want)).collect().toSeq
      }
    // a string bound past the cap is not stored (the manifest line stays small)
    read.map { case (rel, (n, cs)) => rel -> ((n, cs.map { case (c, s) =>
      c -> (if (want(c) == org.apache.spark.sql.types.StringType &&
        (s.min ++ s.max).exists(_.length > MaxStringStatLen)) s.copy(min = None, max = None)
      else s)
    })) }.toMap
  }

  private def listFilesRecursive(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.flatMap { st =>
      if (st.isDirectory) listFilesRecursive(fs, st.getPath) else Seq(st)
    }

  /** Scheme-insensitive relative path of `p` under `dir`; a path NOT
    * under `dir` (a shallow clone's external file) comes back in
    * [[canonicalAbs]] form, so it string-matches the manifest's absolute
    * entry. The segment-boundary check matters: `/a/ab` must not be
    * treated as under `/a/abc`. */
  private def relativeTo(dir: Path, p: Path): String = {
    val (dp, pp) = (dir.toUri.getPath, p.toUri.getPath)
    if (pp.startsWith(dp + "/")) pp.stripPrefix(dp).stripPrefix("/")
    else canonicalAbs(p)
  }

  // ------------------------------------------------- external entries
  // A manifest entry is normally root-relative (`data/...`). A shallow
  // clone ([[shallowClone]]) commits ABSOLUTE entries pointing into the
  // SOURCE table's data dir — the shape of Delta PROTOCOL.md's absolute-
  // path add actions (external files, shallow clones). Every reader
  // resolves entries through [[resolveEntry]], so clones flow through
  // read/readWhere/merge/delete/update/CDF/streaming unchanged;
  // mutations stage REPLACEMENT files locally (copy-on-write re-homes
  // whatever the verb touches) and [[compact]] materializes the whole
  // table. [[vacuum]] only ever deletes under its own root, so a
  // clone's vacuum can never reclaim source data.

  /** Is this manifest entry absolute (external), rather than root-
    * relative? */
  private[graft] def isAbsEntry(rel: String): Boolean =
    rel.contains("://") || rel.startsWith("/")

  /** The filesystem path a manifest entry denotes. */
  private[graft] def resolveEntry(root: String, rel: String): String =
    if (isAbsEntry(rel)) rel else s"${root.stripSuffix("/")}/$rel"

  /** Canonical string form for an absolute entry: plain decoded path for
    * local/no-scheme URIs (what `_metadata.file_path` relativization
    * yields, see [[relUnderRoot]]), full `Path.toString` for foreign
    * schemes so the authority survives. */
  private def canonicalAbs(p: Path): String = {
    val u = p.toUri
    if (u.getScheme == null || u.getScheme == "file") u.getPath else p.toString
  }

  private def deleteStaged(fs: FileSystem, root: String, staged: Seq[String]): Unit =
    staged.foreach { rel =>
      fs.delete(new Path(s"${root.stripSuffix("/")}/$rel"), false)
      // a staged file's bloom sidecar dies with it
      fs.delete(new Path(s"${root.stripSuffix("/")}/$rel.bloom"), false)
    }

  /** Atomically publish `files` as version `v` through the root's
    * [[CommitArbiter]] ([[RenameArbiter]] unless one is installed): the
    * arbiter guarantees publish-if-absent atomicity and no torn reads;
    * this method only renders the manifest bytes. */
  /** The non-nonce, non-op header lines a commit publishes — shared by
    * the text manifest and the parquet checkpoint encoding so both
    * parse identically. */
  private def renderHeader(meta: CommitMeta): Seq[String] =
    meta.schemaJson.map(SchemaPrefix + _).toSeq ++
      meta.partitionBy.filter(_.nonEmpty).map(p => PartitionPrefix + p.mkString(",")).toSeq ++
      (if (meta.dataChange) Nil else Seq(DataChangeFalse)) ++
      meta.constraints.toSeq.sortBy(_._1).map { case (n, e) =>
        s"$ConstraintPrefix${escapeStat(n)}\t${escapeStat(e)}"
      } ++
      meta.properties.toSeq.sortBy(_._1).map { case (k, v2) =>
        s"$PropertyPrefix${escapeStat(k)}\t${escapeStat(v2)}"
      } ++
      meta.cdcFiles.map(r => s"$CdcPrefix${escapeStat(r)}")

  private def renderTxns(txns: Map[String, Long]): Seq[String] =
    txns.toSeq.sortBy(_._1).map { case (a, b) => s"$TxnPrefix$a:$b" }

  private def tryCommit(fs: FileSystem, root: String, v: Long, files: Seq[String],
      txns: Map[String, Long], meta: CommitMeta): Boolean = {
    val target = manifestPath(root, v)
    val txnLines = renderTxns(txns)
    // stats only for files actually committed — entries for files dropped
    // by this commit fall away with them
    val statLines = files.flatMap { f =>
      meta.stats.get(f).toSeq.flatMap(_.toSeq.sortBy(_._1).map { case (c, s) =>
        def bound(b: Option[String]) = b.map(escapeStat).getOrElse(AbsentBound)
        // unknown counts (carried from a 4-field line) re-render 4-field
        (s.nulls, s.rows) match {
          case (Some(nu), Some(rw)) =>
            s"$StatsPrefix${escapeStat(f)}\t${escapeStat(c)}\t${bound(s.min)}\t${bound(s.max)}\t$nu\t$rw"
          case _ =>
            s"$StatsPrefix${escapeStat(f)}\t${escapeStat(c)}\t${bound(s.min)}\t${bound(s.max)}"
        }
      })
    }
    // per-writer nonce: manifests that stage nothing (metadata-only
    // partition deletes, restores, constraint commits, empty-batch txn
    // marks) would otherwise render byte-identical across racing
    // writers, making ConditionalPutArbiter's read-back ownership
    // resolution ambiguous (both racers would claim the version); the
    // nonce makes every writer's bytes unique, so byte equality is an
    // exact ownership proof. Readers ignore unknown '#' header lines.
    val headerLines = Seq(OpPrefix + meta.op, s"# nonce:${UUID.randomUUID()}") ++
      renderHeader(meta)
    // dv entries for committed files only — a commit that drops or
    // rewrites a file drops its deletion vector with it
    val dvLines = files.flatMap { f =>
      meta.dvs.get(f).map { e =>
        val off = if (e.offset < 0) "-" else e.offset.toString
        s"$DvPrefix${escapeStat(f)}\t${e.storage}\t${escapeStat(e.payload)}\t$off" +
          s"\t${e.size}\t${e.cardinality}"
      }
    }
    val content = ((headerLines ++ files ++ txnLines ++ statLines ++ dvLines)
      .mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8)
    arbiterFor(root).publish(fs, target, content)
  }

  // ------------------------------------------------- manifest checkpoints

  /** Table property: commits whose live-file count reaches this publish a
    * PARQUET checkpoint alongside the text manifest. The text manifest
    * stays the authoritative, arbitrated commit format; the checkpoint is
    * a derivative columnar encoding of the SAME version that readers
    * prefer when present and fall back from on any miss or corruption
    * (vacuum reclaims it with its version). SCALE.md "Manifest parse
    * scale" carries the measured text-vs-checkpoint load curve. */
  val CheckpointMinFilesProperty = "graft.checkpoint.minFiles"
  private val DefaultCheckpointMinFiles = 100000L

  private def checkpointPath(root: String, v: Long) =
    new Path(s"${root.stripSuffix("/")}/$ManifestDir/v${"%020d".format(v)}.checkpoint.parquet")

  /** Parquet message type of the checkpoint — standard MAP/LIST
    * annotations, so Spark's reader decodes it plainly and so does any
    * parquet tool. */
  private val checkpointMessageType =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message graft_checkpoint {
        |  required int64 idx;
        |  required binary kind (STRING);
        |  optional binary rel (STRING);
        |  optional group mins (MAP) { repeated group key_value {
        |    required binary key (STRING); required binary value (STRING); } }
        |  optional group maxs (MAP) { repeated group key_value {
        |    required binary key (STRING); required binary value (STRING); } }
        |  optional group nullcnt (MAP) { repeated group key_value {
        |    required binary key (STRING); required int64 value; } }
        |  optional group rowcnt (MAP) { repeated group key_value {
        |    required binary key (STRING); required int64 value; } }
        |  optional binary dv_storage (STRING);
        |  optional binary dv_payload (STRING);
        |  optional int64 dv_offset;
        |  optional int64 dv_size;
        |  optional int64 dv_cardinality;
        |  optional group header (LIST) { repeated group list {
        |    required binary element (STRING); } }
        |}""".stripMargin)

  /** Write the parquet encoding of version `v` from the committed
    * in-memory state (never a re-parse): one `meta` row carrying the
    * header lines verbatim (parsed by the same parse* functions text
    * readers use) + one `file` row per live file with columnar stats and
    * the optional DV entry. STREAMED on the driver through
    * parquet-hadoop's writer — no Spark job, O(row-group) memory, so a
    * million-entry checkpoint costs seconds and can never wedge the
    * scheduler with a giant embedded relation. Staged then renamed. */
  private def writeCheckpointFile(spark: SparkSession, root: String, v: Long,
      headerLines: Seq[String], files: Seq[String], stats: FileStats,
      dvs: FileDvs): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    val target = checkpointPath(root, v)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = target.getFileSystem(conf)
    val tmp = new Path(s"${root.stripSuffix("/")}/$ManifestDir/" +
      s".ckpt-staging-${java.util.UUID.randomUUID()}.parquet")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, conf))
      .withType(checkpointMessageType)
      .withConf(conf)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try {
      val meta = new SimpleGroup(checkpointMessageType)
      meta.add("idx", 0L); meta.add("kind", "meta")
      if (headerLines.nonEmpty) {
        val h = meta.addGroup("header")
        headerLines.foreach(l => h.addGroup("list").append("element", l))
      }
      writer.write(meta)
      var i = 0L
      files.foreach { f =>
        i += 1
        val g = new SimpleGroup(checkpointMessageType)
        g.add("idx", i); g.add("kind", "file"); g.add("rel", f)
        val st = stats.getOrElse(f, Map.empty)
        def strMap(field: String, pick: ColStat => Option[String]): Unit = {
          val entries = st.collect { case (c, s) if pick(s).isDefined => c -> pick(s).get }
          if (entries.nonEmpty) {
            val m = g.addGroup(field)
            entries.foreach { case (k, vv) =>
              val kv = m.addGroup("key_value"); kv.append("key", k); kv.append("value", vv)
            }
          }
        }
        def longMap(field: String, pick: ColStat => Option[Long]): Unit = {
          val entries = st.collect { case (c, s) if pick(s).isDefined => c -> pick(s).get }
          if (entries.nonEmpty) {
            val m = g.addGroup(field)
            entries.foreach { case (k, vv) =>
              val kv = m.addGroup("key_value"); kv.append("key", k); kv.add("value", vv)
            }
          }
        }
        strMap("mins", _.min); strMap("maxs", _.max)
        longMap("nullcnt", _.nulls); longMap("rowcnt", _.rows)
        dvs.get(f).foreach { e =>
          g.add("dv_storage", e.storage); g.add("dv_payload", e.payload)
          g.add("dv_offset", e.offset); g.add("dv_size", e.size)
          g.add("dv_cardinality", e.cardinality)
        }
        writer.write(g)
      }
    } catch {
      case e: Throwable =>
        // a failed write must not orphan its staging file in _manifests
        // (maybeCheckpoint swallows the exception; nothing else would
        // ever reclaim it)
        try writer.close() catch { case _: Throwable => () }
        fs.delete(tmp, false)
        throw e
    } finally {
      try writer.close() catch { case _: Throwable => () }
    }
    if (!fs.rename(tmp, target)) {
      fs.delete(target, false)
      if (!fs.rename(tmp, target)) { fs.delete(tmp, false); () }
    }
  }

  /** Publication gate evaluated by the COMMIT WINNER only (the text
    * manifest published first — a crash after it leaves a readable
    * table, just without the fast path). Failures are swallowed: the
    * checkpoint is an optimization, never a commit dependency. */
  private def maybeCheckpoint(spark: SparkSession, root: String, v: Long,
      files: Seq[String], txns: Map[String, Long], meta: CommitMeta): Unit = {
    val threshold = meta.properties.get(CheckpointMinFilesProperty)
      .flatMap(_.trim.toLongOption).getOrElse(DefaultCheckpointMinFiles)
    if (files.size < threshold) return
    val header = (OpPrefix + meta.op) +: (renderHeader(meta) ++ renderTxns(txns))
    try writeCheckpointFile(spark, root, v, header, files, meta.stats, meta.dvs)
    catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Publish the parquet checkpoint of a version explicitly (rebuilt
    * from its loaded [[Snapshot]]), regardless of the threshold. Returns
    * the checkpointed version. */
  def writeManifestCheckpoint(spark: SparkSession, root: String,
      version: Option[Long] = None): Long = {
    val snap = snapshot(spark, root, version)
    val v = snap.committed
    writeCheckpointFile(spark, root, v, snap.header, snap.files, snap.stats, snap.dvs)
    v
  }

  /** The checkpoint's header lines alone, read driver-side from the
    * FIRST record (the meta row is written first) — no Spark job. */
  private def loadCheckpointHeader(spark: SparkSession,
      p: Path): Option[Seq[String]] = {
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), p)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    try {
      val g = reader.read()
      if (g == null || g.getString("kind", 0) != "meta") None
      else if (g.getFieldRepetitionCount("header") == 0) Some(Nil)
      else {
        val h = g.getGroup("header", 0)
        Some((0 until h.getFieldRepetitionCount("list"))
          .map(i => h.getGroup("list", i).getString("element", 0)))
      }
    } finally reader.close()
  }

  /** Load version `v` from its parquet checkpoint — or None (unreadable
    * → [[loadVersion]]'s text path). Streamed through parquet-hadoop's Group reader on the
    * driver — no Spark job, maps built directly, which is what makes
    * the columnar decode actually beat the line parse (a
    * `spark.read.parquet().collect()` formulation was measured SLOWER
    * than the text path: the catalyst→external Row/Map conversion
    * dominates). */
  private def loadCheckpoint(spark: SparkSession, root: String,
      v: Long): Option[Snapshot] = {
    import org.apache.parquet.example.data.Group
    val p = checkpointPath(root, v)
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), p)
        .withConf(conf).build()
      try {
        var header: Seq[String] = Nil
        val files = Seq.newBuilder[String]
        val stats = scala.collection.mutable.HashMap.empty[String, Map[String, ColStat]]
        val dvs = scala.collection.mutable.HashMap.empty[String, DvEntry]
        def has(g: Group, f: String): Boolean = g.getFieldRepetitionCount(f) > 0
        var g = reader.read()
        while (g != null) {
          g.getString("kind", 0) match {
            case "meta" =>
              if (has(g, "header")) {
                val h = g.getGroup("header", 0)
                val n = h.getFieldRepetitionCount("list")
                header = (0 until n).map(i => h.getGroup("list", i).getString("element", 0))
              }
            case "file" =>
              val rel = g.getString("rel", 0)
              files += rel
              def strMap(f: String): Map[String, String] =
                if (!has(g, f)) Map.empty
                else {
                  val m = g.getGroup(f, 0); val n = m.getFieldRepetitionCount("key_value")
                  (0 until n).map { i =>
                    val kv = m.getGroup("key_value", i)
                    kv.getString("key", 0) -> kv.getString("value", 0)
                  }.toMap
                }
              def longMap(f: String): Map[String, Long] =
                if (!has(g, f)) Map.empty
                else {
                  val m = g.getGroup(f, 0); val n = m.getFieldRepetitionCount("key_value")
                  (0 until n).map { i =>
                    val kv = m.getGroup("key_value", i)
                    kv.getString("key", 0) -> kv.getLong("value", 0)
                  }.toMap
                }
              val mins = strMap("mins"); val maxs = strMap("maxs")
              val nulls = longMap("nullcnt"); val rws = longMap("rowcnt")
              val cols = mins.keySet ++ maxs.keySet ++ nulls.keySet ++ rws.keySet
              if (cols.nonEmpty)
                stats(rel) = cols.iterator.map(c => c -> ColStat(mins.get(c),
                  maxs.get(c), nulls.get(c), rws.get(c))).toMap
              if (has(g, "dv_storage"))
                dvs(rel) = DvEntry(g.getString("dv_storage", 0),
                  g.getString("dv_payload", 0), g.getLong("dv_offset", 0),
                  g.getLong("dv_size", 0), g.getLong("dv_cardinality", 0))
            case _ => ()
          }
          g = reader.read()
        }
        val fileStats = stats.toMap
        Some(new Snapshot(root, Some(v), files.result(), header, dvs.toMap, () => fileStats))
      } finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Commit with retry against the FRESHEST snapshot on every attempt:
    * `decide` sees the latest committed state and returns the new file
    * list, txn marks, and commit metadata — or None to abort as
    * already-applied (idempotent replay). A losing racer recomputes, so
    * its schema/layout/dedup decisions are race-safe and it never drops
    * the winner's files. Returns the committed version. */
  private def commitWith(spark: SparkSession, root: String)(
      decide: Snapshot => Option[(Seq[String], Map[String, Long], CommitMeta)]): Option[Long] = {
    checkCommitScheme(spark, root)
    val fs = fsFor(spark, root)
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val snap = snapshot(spark, root)
      val v = snap.version.getOrElse(0L) + 1
      decide(snap) match {
        case None => return None
        case Some((files, txns, meta0)) =>
          // table properties carry forward like constraints, but are
          // threaded HERE so no verb can drop them by omission; only the
          // verbs whose business is properties (and the two that restore
          // another version's metadata wholesale) set them explicitly.
          // Deletion vectors ride the same guard: dropping an entry for a
          // still-listed file would RESURRECT its dead rows, so every
          // commit carries the snapshot's vectors (the verb's own new or
          // merged entries winning), and [[tryCommit]] drops entries whose
          // file left the list.
          // non-explicit ops MERGE their own property updates (identity
          // high-water marks) over the carried snapshot properties
          val meta1 =
            if (ExplicitPropertyOps.contains(meta0.op)) meta0
            else meta0.copy(properties = snap.properties ++ meta0.properties)
          val meta =
            if (ExplicitDvOps.contains(meta0.op)) meta1
            else meta1.copy(dvs = snap.dvs ++ meta0.dvs)
          if (tryCommit(fs, root, v, files, txns, meta)) {
            maybeCheckpoint(spark, root, v, files, txns, meta)
            return Some(v)
          }
      }
      attempt += 1
    }
    throw new IllegalStateException(s"commit lost $MaxCommitRetries races at $root")
  }

  /** On any failure after staging, remove the staged files so an aborted
    * writer leaves nothing for vacuum to chase — EXCEPT when the commit
    * outcome is unknown ([[CommitOutcomeUnknown]]): the manifest may have
    * landed and reference the staged files, so deleting them could gut a
    * committed version. They stay; vacuum's reference check reclaims them
    * after the retention window iff the commit truly never happened. */
  private def cleanupOnFailure[A](fs: FileSystem, root: String, staged: Seq[String])(run: => A): A =
    try run catch {
      case e: CommitOutcomeUnknown => throw e
      case e: Throwable => deleteStaged(fs, root, staged); throw e
    }

  // ---------------------------------------------------------------- schema

  /** Structural normalization for schema comparison: nullability and field
    * metadata are writer noise (Spark freely widens nullability), so only
    * names and types decide drift. */
  private[graft] def normalize(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => StructField(f.name, normalize(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      org.apache.spark.sql.types.ArrayType(normalize(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      org.apache.spark.sql.types.MapType(normalize(m.keyType), normalize(m.valueType), valueContainsNull = true)
    case other => other
  }

  // ------------------------------------------------------- column mapping

  /** Table property switching NAME-BASED COLUMN MAPPING on (Delta's
    * `delta.columnMapping.mode = name`): every top-level column carries a
    * STABLE physical name (and a monotone numeric id) in its schema-field
    * metadata, parquet files are written under the physical names, and
    * readers translate back after the scan — so [[renameColumn]] and
    * [[dropColumn]] are metadata-only commits (no data rewrite at any
    * scale), and a later [[addColumn]] under a previously-used logical
    * name can never resurrect a dropped column's bytes (fresh physical
    * names are uuid-suffixed, never reused). Top-level columns only;
    * nested struct fields keep their names. Enable via
    * [[enableColumnMapping]] or `setProperty(root, "graft.columnMapping",
    * "name")`; there is no downgrade (files already carry physical
    * names — same one-way door as Delta). */
  val MappingProperty = "graft.columnMapping"

  /** Schema-field metadata key: the column's physical (on-disk) name. */
  val PhysNameKey = "graft.columnMapping.physicalName"

  /** Schema-field metadata key: the column's stable numeric id (monotone
    * per table — what a Delta mirror publishes as
    * `delta.columnMapping.id`). */
  val ColIdKey = "graft.columnMapping.id"

  private[graft] def physicalNameOf(f: StructField): String =
    if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey) else f.name

  private def isMapped(s: StructType): Boolean =
    s.fields.exists(_.metadata.contains(PhysNameKey))

  private[graft] def mappingEnabled(schemaJson: Option[String]): Boolean =
    schemaJson.exists(j => isMapped(DataType.fromJson(j).asInstanceOf[StructType]))

  /** The schema as the parquet files spell it. */
  private def toPhysical(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(name = physicalNameOf(f))))

  /** logical name → physical name for the schema's top-level fields. */
  private def physByLogical(s: StructType): Map[String, String] =
    s.fields.map(f => f.name -> physicalNameOf(f)).toMap

  /** Field metadata minus the mapping keys — what readers and the v2
    * catalog surface (physical names are a storage detail; OTHER metadata,
    * e.g. column DEFAULT annotations, stays). */
  private[graft] def stripMappingMeta(m: org.apache.spark.sql.types.Metadata)
      : org.apache.spark.sql.types.Metadata = {
    if (!m.contains(PhysNameKey) && !m.contains(ColIdKey)) m
    else new org.apache.spark.sql.types.MetadataBuilder().withMetadata(m)
      .remove(PhysNameKey).remove(ColIdKey).build()
  }

  private[graft] def stripMappingMeta(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(metadata = stripMappingMeta(f.metadata))))

  /** Schema enforcement + evolution (the Delta behavior the reference
    * leans on, spark_structured_datastream.py:75-79): an incoming frame
    * whose schema differs from the table's fails fast unless
    * `mergeSchema=true`, in which case NEW columns are appended (nullable —
    * old files read them back as null); type changes and other reshapes
    * are never silent. On a COLUMN-MAPPED table implicit adds are refused
    * (a merged-in name could collide with a dropped or renamed column's
    * physical bytes) — [[addColumn]] assigns a collision-free physical
    * name first. Returns the schema json to commit. */
  private def checkOrMergeSchema(op: String, baseJson: Option[String],
      incoming: StructType, mergeSchema: Boolean): String = baseJson match {
    case None => incoming.json
    case Some(json) =>
      val base = DataType.fromJson(json).asInstanceOf[StructType]
      if (normalize(base) == normalize(incoming)) json // stable schema identity
      else if (!mergeSchema) throw new IllegalArgumentException(
        s"$op schema drift: table has ${base.simpleString} but the incoming frame has " +
          s"${incoming.simpleString}. Pass mergeSchema=true to evolve (add-column only), " +
          "or align the writer.")
      else {
        val incByName = incoming.fields.map(f => f.name -> f).toMap
        base.fields.foreach { bf =>
          incByName.get(bf.name).foreach { inf =>
            if (normalize(bf.dataType) != normalize(inf.dataType))
              throw new IllegalArgumentException(
                s"$op cannot evolve column ${bf.name}: ${bf.dataType.simpleString} -> " +
                  s"${inf.dataType.simpleString} (only adding columns is schema evolution)")
          }
        }
        val baseNames = base.fieldNames.toSet
        val added = incoming.fields.filterNot(f => baseNames.contains(f.name))
          .map(_.copy(nullable = true))
        if (added.nonEmpty && isMapped(base)) throw new IllegalArgumentException(
          s"$op cannot add columns [${added.map(_.name).mkString(",")}] implicitly on a " +
            "column-mapped table — a merged-in name could collide with a dropped or renamed " +
            "column's physical bytes. Call ManifestTable.addColumn (or SQL ALTER TABLE … ADD " +
            "COLUMN) first; it assigns a collision-free physical name.")
        StructType(base.fields ++ added).json
      }
  }

  /** The constraint set enforced while staging must still be the
    * committed set at commit time: a concurrently added constraint was
    * not checked against these rows, so publishing them could violate
    * it silently. Verbs with a retry loop translate this into a
    * re-stage; one-shot verbs fail loud. */
  private def requireConstraints(op: String, root: String, snap: Snapshot,
      enforced: Map[String, String]): Unit =
    if (snap.constraints != enforced)
      throw new java.util.ConcurrentModificationException(
        s"$op at $root: table constraints changed concurrently " +
          s"(enforced ${enforced.keySet.mkString(",")}, now ${snap.constraints.keySet.mkString(",")})" +
          " — retry the write")

  /** Staged layout must still match the table's at commit time: changing
    * partitioning requires an exclusive [[overwrite]], and racing one
    * against an append must fail loud, not publish a mixed layout. */
  private def requireLayout(op: String, snap: Snapshot, layout: Seq[String]): Unit = {
    val snapLayout = snap.layout
    if (snap.version.isDefined && snapLayout != layout)
      throw new IllegalStateException(
        s"$op staged files partitioned by [${layout.mkString(",")}] but the table is now " +
          s"partitioned by [${snapLayout.mkString(",")}] (concurrent layout change?)")
  }

  // ------------------------------------------------------------- mutations

  /** Exactly-once streaming append (the Delta `txn` pattern): commits `df`
    * together with writer `appId`'s new batch high-water mark in ONE
    * manifest rename — data and dedup mark cannot diverge, unlike a
    * side-ledger. A replayed or out-of-order micro-batch (batchId ≤ the
    * committed mark) stages, sees the mark at commit time, aborts, and
    * removes its staged files — every crash interleaving converges to the
    * batch appearing exactly once. Returns None for such skips. */
  def exactlyOnceAppend(spark: SparkSession, root: String, df: DataFrame,
      appId: String, batchId: Long, mergeSchema: Boolean = false,
      partitionBy: Seq[String] = Nil,
      extraProperties: Map[String, String] = Map.empty): Option[Long] = {
    checkCommitScheme(spark, root) // fail on non-atomic stores before touching the fs
    val fs = fsFor(spark, root)
    val pre = snapshot(spark, root)
    if (pre.txns.get(appId).exists(batchId <= _)) return None // skip without staging
    // partitionBy only takes effect when this append CREATES the table
    // (same contract as append): an existing table's layout is
    // authoritative, and asking for a different one is an error
    val layout =
      if (pre.version.isDefined) {
        val p = pre.layout
        require(partitionBy.isEmpty || partitionBy == p,
          s"table at $root is partitioned by [${p.mkString(",")}]; exactlyOnceAppend cannot " +
            s"change the layout to [${partitionBy.mkString(",")}]")
        p
      } else partitionBy
    val (withGen, allocated) = applyWriteColumns(df, pre)
    val staged = stage(spark, root, sizedForWrite(spark, withGen, layout, pre.properties),
      layout, pre.constraints ++ generatedChecks(df, pre.properties),
      tableSchemaJson = pre.schemaJson, tableProperties = pre.properties)
    val committed = cleanupOnFailure(fs, root, staged.rels) {
      commitWith(spark, root) { snap =>
        if (snap.txns.get(appId).exists(batchId <= _)) None
        else {
          requireLayout("exactlyOnceAppend", snap, layout)
          requireConstraints("exactlyOnceAppend", root, snap, pre.constraints)
          requireIdentityMarks("exactlyOnceAppend", root, snap, allocated)
          val schema = checkOrMergeSchema("exactlyOnceAppend", snap.schemaJson,
            withGen.schema, mergeSchema)
          Some((snap.files ++ staged.rels, snap.txns + (appId -> batchId),
            CommitMeta(Some(schema), if (layout.nonEmpty) Some(layout) else None,
            stats = snap.stats ++ staged.stats,
            op = "exactlyOnceAppend", constraints = snap.constraints,
            properties = advancedIdentityMarks(identitySpecs(snap.properties),
              staged.stats) ++ extraProperties)))
        }
      }
    }
    if (committed.isEmpty) deleteStaged(fs, root, staged.rels)
    else maybeAutoCompact(spark, root, pre.properties)
    committed
  }

  /** `foreachBatch` adapter over [[exactlyOnceAppend]]. */
  def exactlyOnceWriter(root: String, appId: String): (DataFrame, Long) => Unit =
    (df, batchId) => { exactlyOnceAppend(df.sparkSession, root, df, appId, batchId); () }

  /** The committed high-water mark for `appId`, if any — the reader side
    * of the txn mechanism (Delta's `txnVersion`). Lets a refresher ask
    * "which upstream version does this table already reflect?". */
  def txnHighWaterMark(spark: SparkSession, root: String, appId: String): Option[Long] =
    snapshot(spark, root).txns.get(appId)

  /** [[overwrite]] gated by a per-writer high-water mark, committed
    * atomically with the data — the exactly-once shape for DERIVED tables
    * (each refresh replaces the whole result): a replay of an
    * already-reflected `batchId` stages nothing and returns None.
    *
    * `partitionBy` defaults to the table's existing layout (an overwrite
    * that says nothing about layout should not silently flatten a
    * hive-partitioned table); pass columns explicitly to (re)define it.
    *
    * `priorMark = Some(m)` is the optimistic-concurrency guard for
    * read-fold-overwrite callers ([[IncrementalRefresh]]): the commit
    * additionally requires appId's committed mark to still be exactly `m`
    * (`None` inside = no mark yet) — i.e. the state the fold was computed
    * FROM. A concurrent refresher that advanced the mark in between makes
    * this commit throw [[java.util.ConcurrentModificationException]]
    * instead of publishing a fold that double-counts the overlap. */
  def exactlyOnceOverwrite(spark: SparkSession, root: String, df: DataFrame,
      appId: String, batchId: Long, partitionBy: Seq[String] = Nil,
      priorMark: Option[Option[Long]] = None): Option[Long] = {
    checkCommitScheme(spark, root)
    val fs = fsFor(spark, root)
    val pre = snapshot(spark, root)
    if (pre.txns.get(appId).exists(batchId <= _)) return None
    val layout = if (partitionBy.nonEmpty) partitionBy else pre.layout
    val withGen0 = applyGenerated(df, pre.properties, pre.schemaJson)
    val staged = stage(spark, root, sizedForWrite(spark, withGen0, layout, pre.properties),
      layout, pre.constraints ++ generatedChecks(df, pre.properties),
      tableSchemaJson = pre.schemaJson, tableProperties = pre.properties)
    val committed = cleanupOnFailure(fs, root, staged.rels) {
      commitWith(spark, root) { snap =>
        if (snap.txns.get(appId).exists(batchId <= _)) None
        else if (priorMark.exists(_ != snap.txns.get(appId)))
          throw new java.util.ConcurrentModificationException(
            s"exactlyOnceOverwrite($appId -> $batchId) at $root: the committed mark moved " +
              s"from ${priorMark.get} to ${snap.txns.get(appId)} since the input was computed " +
              "— recompute against the fresh state and retry")
        else {
          requireConstraints("exactlyOnceOverwrite", root, snap, pre.constraints)
          val schema = checkOrMergeSchema("exactlyOnceOverwrite", snap.schemaJson,
            withGen0.schema, mergeSchema = false)
          Some((staged.rels, snap.txns + (appId -> batchId),
            CommitMeta(Some(schema), if (layout.nonEmpty) Some(layout) else None,
              stats = staged.stats, op = "exactlyOnceOverwrite",
              constraints = snap.constraints)))
        }
      }
    }
    if (committed.isEmpty) deleteStaged(fs, root, staged.rels)
    committed
  }

  /** Append `df` as a new version; returns the committed version.
    *
    * `partitionBy` only takes effect when the table is being created; an
    * existing table's layout is authoritative (pass the same columns or
    * none). Schema drift fails fast unless `mergeSchema=true` (add-column
    * evolution — see [[checkOrMergeSchema]]). */
  /** [[OptimizeWriteProperty]]: size `df` to ~128 MB outputs by the
    * plan's size estimate (the same heuristic [[compact]] uses; an
    * in-memory estimate over-counts parquet, which only errs toward
    * slightly smaller files). Off-property, the frame passes untouched. */
  private def sizedForWrite(spark: SparkSession, df: DataFrame,
      layout: Seq[String], properties: Map[String, String]): DataFrame = {
    if (!properties.get(OptimizeWriteProperty).exists(_.trim.equalsIgnoreCase("true"))) return df
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = math.max(1L, (bytes / (128L * 1024 * 1024)).toLong + 1).toInt
    if (layout.isEmpty) df.repartition(n)
    else df.repartition(n, layout.map(org.apache.spark.sql.functions.col): _*)
  }

  /** [[AutoCompactProperty]]: best-effort post-commit bin-packing when
    * the small-file debt crosses the threshold. Never fails the write
    * that triggered it. */
  private def maybeAutoCompact(spark: SparkSession, root: String,
      properties: Map[String, String]): Unit = {
    if (!properties.get(AutoCompactProperty).exists(_.trim.equalsIgnoreCase("true"))) return
    val minFiles = spark.conf.get(AutoCompactMinFilesKey, "50").toInt
    val smallMb = spark.conf.get(AutoCompactSmallMbKey, "16").toInt
    val hc = spark.sparkContext.hadoopConfiguration
    val snap = snapshot(spark, root)
    val nSmall = snap.files.count { rel =>
      val p = new Path(resolveEntry(root, rel))
      (try p.getFileSystem(hc).getFileStatus(p).getLen
        catch { case _: java.io.IOException => Long.MaxValue }) < smallMb.toLong * 1024 * 1024
    }
    if (nSmall >= minFiles)
      try { compact(spark, root, onlySmallerThanMb = Some(smallMb)); () }
      catch { case _: IllegalStateException => () } // concurrent writer won; next write retries
  }

  def append(spark: SparkSession, root: String, df: DataFrame,
      partitionBy: Seq[String] = Nil, mergeSchema: Boolean = false,
      extraProperties: Map[String, String] = Map.empty): Long = {
    checkCommitScheme(spark, root)
    val pre = snapshot(spark, root)
    val layout =
      if (pre.version.isDefined) {
        val p = pre.layout
        require(partitionBy.isEmpty || partitionBy == p,
          s"table at $root is partitioned by [${p.mkString(",")}]; append cannot change the " +
            s"layout to [${partitionBy.mkString(",")}] (overwrite can)")
        p
      } else partitionBy
    val fs = fsFor(spark, root)
    val (withGen, allocated) = applyWriteColumns(df, pre)
    val staged = stage(spark, root, sizedForWrite(spark, withGen, layout, pre.properties),
      layout, pre.constraints ++ generatedChecks(df, pre.properties),
      tableSchemaJson = pre.schemaJson, tableProperties = pre.properties)
    val v = cleanupOnFailure(fs, root, staged.rels) {
      commitWith(spark, root) { snap =>
        requireLayout("append", snap, layout)
        requireConstraints("append", root, snap, pre.constraints)
        requireIdentityMarks("append", root, snap, allocated)
        val schema = checkOrMergeSchema("append", snap.schemaJson, withGen.schema, mergeSchema)
        Some((snap.files ++ staged.rels, snap.txns,
          CommitMeta(Some(schema), if (layout.nonEmpty) Some(layout) else None,
            stats = snap.stats ++ staged.stats, op = "append",
            constraints = snap.constraints,
            properties = advancedIdentityMarks(identitySpecs(snap.properties),
              staged.stats) ++ extraProperties)))
      }.get
    }
    maybeAutoCompact(spark, root, pre.properties)
    v
  }

  /** Replace the table contents with `df` (single-version overwrite).
    * Schema drift fails fast unless `overwriteSchema=true` (an overwrite
    * may then redefine the schema AND the partition layout wholesale —
    * prior versions keep reading their own snapshots). */
  def overwrite(spark: SparkSession, root: String, df: DataFrame,
      partitionBy: Seq[String] = Nil, overwriteSchema: Boolean = false): Long = {
    val fs = fsFor(spark, root)
    // overwriteSchema redefines the table wholesale, so it DROPS the
    // constraint set (which may reference redefined columns) — like the
    // layout, constraints are part of what the overwrite replaces
    val pre = snapshot(spark, root)
    val enforced = if (overwriteSchema) Map.empty[String, String] else pre.constraints
    val (withGen, allocated) =
      if (overwriteSchema) (df, Nil) else applyWriteColumns(df, pre)
    val staged = stage(spark, root, sizedForWrite(spark, withGen, partitionBy, pre.properties),
      partitionBy,
      if (overwriteSchema) enforced else enforced ++ generatedChecks(df, pre.properties),
      tableSchemaJson = if (overwriteSchema) None else pre.schemaJson,
      tableProperties = if (overwriteSchema) Map.empty else pre.properties)
    cleanupOnFailure(fs, root, staged.rels) {
      commitWith(spark, root) { snap =>
        if (!overwriteSchema) requireConstraints("overwrite", root, snap, enforced)
        requireIdentityMarks("overwrite", root, snap, allocated)
        val schema =
          if (overwriteSchema) df.schema.json
          else checkOrMergeSchema("overwrite", snap.schemaJson, withGen.schema,
            mergeSchema = false)
        // identity sequences survive an overwrite (Delta semantics: the
        // mark never resets with the data)
        Some((staged.rels, snap.txns,
          CommitMeta(Some(schema), if (partitionBy.nonEmpty) Some(partitionBy) else None,
            stats = staged.stats, op = "overwrite", constraints = enforced,
            properties =
              if (overwriteSchema) Map.empty
              else advancedIdentityMarks(identitySpecs(snap.properties), staged.stats))))
      }.get
    }
  }

  /** Idempotent partition-scoped overwrite — the Delta `replaceWhere`
    * analog and the reference's "re-run a day's load without duplicating
    * it" primitive (load_data_task.py:117-145). In ONE manifest commit:
    * every committed file whose partition values satisfy `pred` is
    * dropped and `df` (staged under the same layout) takes its place.
    * Readers see the old snapshot or the new one, never a mix, and
    * re-running the same day converges to exactly one copy.
    *
    * The predicate is evaluated over PARTITION VALUES parsed from file
    * paths (file-granularity pruning, no data read — the same
    * metadata-scale work as the manifest itself), so it may reference
    * partition columns only; and, like Delta, every incoming row must
    * itself satisfy `pred` — otherwise rows would leak outside the
    * replaced region and a re-run would duplicate them. */
  def replaceWhere(spark: SparkSession, root: String, df: DataFrame, pred: Column,
      mergeSchema: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    checkCommitScheme(spark, root)
    val pre = snapshot(spark, root)
    require(pre.version.nonEmpty, s"replaceWhere needs an existing table at $root")
    val partCols = pre.partitionBy.getOrElse(throw new IllegalArgumentException(
      s"replaceWhere prunes at file granularity, so the table at $root must be partitioned " +
        "(create it with append(..., partitionBy = ...))"))
    require(df.filter(not(coalesce(pred, lit(false)))).isEmpty,
      s"replaceWhere: every incoming row must satisfy the predicate ($pred) — rows outside " +
        "the replaced region would duplicate on re-run")
    val fs = fsFor(spark, root)
    val staged = stage(spark, root, df, partCols, pre.constraints,
      tableSchemaJson = pre.schemaJson, tableProperties = pre.properties)
    cleanupOnFailure(fs, root, staged.rels) {
      commitWith(spark, root) { snap =>
        requireLayout("replaceWhere", snap, partCols)
        requireConstraints("replaceWhere", root, snap, pre.constraints)
        val schema = checkOrMergeSchema("replaceWhere", snap.schemaJson, df.schema, mergeSchema)
        val schemaStruct = DataType.fromJson(schema).asInstanceOf[StructType]
        val dropped = filesMatching(spark, snap.files, partCols, schemaStruct, pred)
        Some((snap.files.filterNot(dropped) ++ staged.rels, snap.txns,
          CommitMeta(Some(schema), Some(partCols), stats = snap.stats ++ staged.stats,
            op = "replaceWhere", constraints = snap.constraints)))
      }.get
    }
  }

  // ------------------------------------------------- row-level mutations

  /** Row-level DML isolation. MERGE, DELETE and UPDATE, in both their
    * copy-on-write and deletion-vector forms, run one optimistic
    * protocol ([[rowLevel]], Delta's): read a snapshot, localize the
    * files the verb touches, stage their rewrite (or new deletion
    * vectors plus the rows they replace), then commit through
    * [[commitWith]] unless a commit that landed since the snapshot
    * conflicts under the verb's rule — in which case the verb
    * recomputes against the fresh snapshot, up to [[MaxCowRetries]]
    * times. Over the rule's scope, a conflict is a changed file set
    * (all-files scope only), a removed file, or a changed deletion
    * vector; plus a changed constraint set where `constraints` is set.
    * `replay` verbs carry a streaming writer's `(appId, batchId)` mark
    * and skip as already applied when the fresh snapshot holds it.
    *
    * {{{
    * op             scope          constraints  replay
    * merge          all files      yes          yes
    * delete         touched files  no           no
    * update         touched files  yes          no
    * addConstraint  any commit     -            no
    * }}}
    *
    * Touched-file scope is Delta's WriteSerializable: a commit that
    * leaves the touched files and their vectors alone (an append, a
    * rewrite elsewhere) serializes after the DELETE or UPDATE. MERGE
    * watches every file because a concurrently added file may hold a
    * matched key; UPDATE and MERGE write rows, so a new constraint must
    * see them. [[addConstraint]] validated the whole table, so any commit
    * invalidates it. */
  private final case class ConflictRule(scope: ConflictScope, constraints: Boolean,
      replay: Boolean)
  private sealed trait ConflictScope
  private case object AllFiles extends ConflictScope
  private case object TouchedFiles extends ConflictScope
  private case object AnyCommit extends ConflictScope

  private val ConflictRules: Map[String, ConflictRule] = Map(
    "merge" -> ConflictRule(AllFiles, constraints = true, replay = true),
    "delete" -> ConflictRule(TouchedFiles, constraints = false, replay = false),
    "update" -> ConflictRule(TouchedFiles, constraints = true, replay = false),
    "addConstraint" -> ConflictRule(AnyCommit, constraints = false, replay = false))

  /** A lost optimistic race; `fresh` is the snapshot that showed it,
    * which the next attempt starts from. */
  private final class CowConflict(msg: String, val fresh: Snapshot) extends RuntimeException(msg)
  private val MaxCowRetries = 5

  /** The one conflict check: throws [[CowConflict]] when `snap`, the
    * freshest commit, conflicts with what `op` staged against `pre`
    * under `op`'s [[ConflictRules]] row (`touched` = the files it
    * rewrote or attached vectors to). */
  private def requireNoConflict(op: String, pre: Snapshot, snap: Snapshot,
      touched: Set[String]): Unit = {
    val rule = ConflictRules(op)
    val watched = if (rule.scope == AllFiles) pre.files.toSet else touched
    val live = snap.files.toSet
    val why =
      if (rule.scope == AnyCommit) Option.when(snap.version != pre.version)("the table changed")
      else if (rule.scope == AllFiles && live != watched) Some("files changed")
      else if (!watched.subsetOf(live)) Some("a touched file was removed")
      else if (watched.exists(r => snap.dvs.get(r) != pre.dvs.get(r)))
        Some("a touched file's deletion vector changed")
      else if (rule.constraints && snap.constraints != pre.constraints)
        Some("constraints changed")
      else None
    why.foreach(w => throw new CowConflict(
      s"$op at ${pre.root}: $w since v${pre.version.getOrElse(0L)}", snap))
  }

  /** Run `attempt` from `first`; on a [[CowConflict]] run it again from
    * the snapshot that showed the conflict, failing after
    * [[MaxCowRetries]] lost races. */
  private def optimistic[A](op: String, root: String, first: Snapshot)(
      attempt: Snapshot => A): A = {
    @scala.annotation.tailrec
    def loop(pre: Snapshot, lost: Int): A =
      (try Right(attempt(pre)) catch { case c: CowConflict => Left(c) }) match {
        case Right(a) => a
        case Left(c) if lost + 1 >= MaxCowRetries =>
          throw new java.util.ConcurrentModificationException(
            s"$op lost $MaxCowRetries optimistic races at $root: ${c.getMessage}")
        case Left(c) => loop(c.fresh, lost + 1)
      }
    loop(first, 0)
  }

  /** What one attempt of a row-level verb staged against its snapshot:
    * `removed` files leave the table (copy-on-write), `dvs` are the
    * touched files' merged deletion vectors (the DV form; a file whose
    * vector kills every row leaves too), `staged` the new data files,
    * `dvRels`/`cdcRels` the vector and change-data files beside them.
    * `schemaJson` replaces the table schema (a MERGE's evolution). */
  private case class RowRewrite(removed: Set[String], staged: Staged,
      dvs: FileDvs = Map.empty, dvRels: Seq[String] = Nil, cdcRels: Seq[String] = Nil,
      schemaJson: Option[String] = None)

  /** The row-level core: per attempt, `plan` localizes and stages
    * against the attempt's snapshot (None = nothing to do), then the
    * rewrite commits under `op`'s [[ConflictRules]] row, with `txn`'s
    * mark when given. `first` is attempt 0's snapshot, so a verb that
    * loaded one to choose its route does not load it again. */
  private def rowLevel(spark: SparkSession, root: String, op: String, first: Snapshot,
      txn: Option[(String, Long)] = None)(plan: Snapshot => Option[RowRewrite]): Option[Long] = {
    val fs = fsFor(spark, root)
    optimistic(op, root, first) { pre =>
      plan(pre).flatMap { rw =>
        val rels = rw.staged.rels ++ rw.dvRels ++ rw.cdcRels
        val committed = cleanupOnFailure(fs, root, rels) {
          commitWith(spark, root) { snap =>
            if (ConflictRules(op).replay &&
                txn.exists { case (a, b) => snap.txns.get(a).exists(b <= _) }) None
            else {
              requireNoConflict(op, pre, snap, rw.removed ++ rw.dvs.keySet)
              requireLayout(op, snap, pre.layout)
              val dropped = rw.removed ++ fullyDead(snap.stats, rw.dvs)
              Some((snap.files.filterNot(dropped) ++ rw.staged.rels, snap.txns ++ txn,
                CommitMeta(rw.schemaJson.orElse(snap.schemaJson).orElse(pre.schemaJson),
                  snap.partitionBy, stats = (snap.stats -- dropped) ++ rw.staged.stats,
                  op = op, constraints = snap.constraints, cdcFiles = rw.cdcRels,
                  dvs = rw.dvs)))
            }
          }
        }
        if (committed.isEmpty) deleteStaged(fs, root, rels)
        committed
      }
    }
  }

  // ------------------------------------------------------- constraints

  /** Register a named CHECK constraint — Delta's
    * `ALTER TABLE … ADD CONSTRAINT name CHECK (expr)` /
    * `delta.constraints.*` table properties. Like Delta, the EXISTING
    * data is validated first (one scan; fails loud with a violating row
    * before anything commits), then every subsequent write verb that
    * introduces or rewrites rows enforces the expression in-write and
    * fails with the constraint name, expression, and violating row.
    * SQL CHECK semantics: NULL passes — express NOT NULL as
    * `col IS NOT NULL`. The commit is `dataChange:false` (incremental
    * readers skip it); a concurrent data write during validation is
    * re-validated, both directions of the race fail safe. */
  def addConstraint(spark: SparkSession, root: String, name: String, exprSql: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"constraint name must be non-empty without control characters, got '$name'")
    checkCommitScheme(spark, root)
    optimistic("addConstraint", root, snapshot(spark, root)) { pre =>
      require(pre.version.nonEmpty, s"addConstraint needs an existing table at $root")
      require(!pre.constraints.contains(name),
        s"constraint $name already exists at $root (dropConstraint first)")
      val bad = readSnapshot(spark, pre)
        .filter(not(coalesce(expr(exprSql).cast("boolean"), lit(true))))
        .limit(1).collect() // 1-row bound: only an example violation
      require(bad.isEmpty,
        s"cannot add CHECK constraint $name ($exprSql) at $root: existing data violates it, " +
          s"e.g. ${bad.headOption.getOrElse("")}")
      commitWith(spark, root) { snap =>
        requireNoConflict("addConstraint", pre, snap, Set.empty)
        Some((snap.files, snap.txns,
          CommitMeta(snap.schemaJson, snap.partitionBy, dataChange = false,
            stats = snap.stats, op = "addConstraint",
            constraints = snap.constraints + (name -> exprSql))))
      }.get
    }
  }

  /** Remove a named constraint; None when it does not exist (no-op). */
  def dropConstraint(spark: SparkSession, root: String, name: String): Option[Long] =
    commitWith(spark, root) { snap =>
      if (!snap.constraints.contains(name)) None
      else Some((snap.files, snap.txns,
        CommitMeta(snap.schemaJson, snap.partitionBy, dataChange = false,
          stats = snap.stats, op = "dropConstraint",
          constraints = snap.constraints - name)))
    }

  /** The committed constraint set: name → CHECK expression. */
  def constraints(spark: SparkSession, root: String): Map[String, String] =
    snapshot(spark, root).constraints

  /** Set a table property (≅ `ALTER TABLE … SET TBLPROPERTIES`): carried
    * forward by every subsequent commit. Setting [[CdcProperty]] to
    * `"true"` turns on row-level change capture in merge/delete/update
    * for all LATER commits (Delta's `delta.enableChangeDataFeed`
    * semantics — the feed starts at the enabling version). */
  def setProperty(spark: SparkSession, root: String, key: String, value: String): Long = {
    require(key.nonEmpty && !key.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"property key must be non-empty without control characters, got '$key'")
    if (key == MappingProperty) {
      require(value.equalsIgnoreCase("name"),
        s"$MappingProperty supports only 'name' mode (Delta's name-based mapping), got '$value'")
      return enableColumnMapping(spark, root)
    }
    commitWith(spark, root) { snap =>
      require(snap.version.nonEmpty, s"setProperty needs an existing table at $root")
      if (snap.properties.get(key).contains(value)) None
      else Some((snap.files, snap.txns,
        CommitMeta(snap.schemaJson, snap.partitionBy, dataChange = false,
          stats = snap.stats, op = "setProperty",
          constraints = snap.constraints,
          properties = snap.properties + (key -> value))))
    }.getOrElse(snapshot(spark, root).version.get) // already at that value
  }

  /** Remove a table property; None when absent (no-op). */
  def unsetProperty(spark: SparkSession, root: String, key: String): Option[Long] = {
    require(key != MappingProperty,
      s"$MappingProperty cannot be unset — committed files already spell columns by their " +
        "physical names, so mapping is a one-way door (same as Delta)")
    commitWith(spark, root) { snap =>
      if (!snap.properties.contains(key)) None
      else Some((snap.files, snap.txns,
        CommitMeta(snap.schemaJson, snap.partitionBy, dataChange = false,
          stats = snap.stats, op = "unsetProperty",
          constraints = snap.constraints,
          properties = snap.properties - key)))
    }
  }

  /** The committed table properties. */
  def properties(spark: SparkSession, root: String): Map[String, String] =
    snapshot(spark, root).properties

  // -------------------------------------------------- bloom file indexes

  /** Per-file Bloom-filter point-lookup indexes (Delta's bloom filter
    * index): `graft.bloom.<col> = <fpp>` (or `true` for 1%) makes every
    * write stage a Bloom filter of the column's xxhash64 values PER DATA
    * FILE, stored in a `<dataFile>.bloom` sidecar next to the bytes it
    * indexes (so clones resolve it in place and compaction rebuilds it
    * with the rewrite). Read-time equality / IN pruning then drops files
    * whose filter proves the value absent — the skipping min/max ranges
    * cannot provide that on a high-cardinality UNSORTED column, where
    * every file's range spans the whole key space. False positives cost
    * one file open; false negatives cannot happen, so results stay
    * exact. Missing or torn sidecars degrade to "open the file". */
  val BloomPropertyPrefix = "graft.bloom."

  private val BloomMagic = 0x47424C4D // "GBLM"

  private[graft] def bloomColumns(properties: Map[String, String]): Map[String, Double] =
    properties.collect {
      case (k, v) if k.startsWith(BloomPropertyPrefix) =>
        k.stripPrefix(BloomPropertyPrefix) ->
          (if (v.equalsIgnoreCase("true")) 0.01
          else { val f = v.toDouble; require(f > 0 && f < 1, s"bloom fpp out of (0,1): $v"); f })
    }

  /** Point-lookup-shaped atomic types only: the hash of the stored value
    * and of a query literal CAST to the column type must agree. */
  private def bloomSupported(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.StringType => true
    case _ => false
  }

  /** Build and publish `<file>.bloom` sidecars for the just-staged
    * files. ONE column-pruned scan of the staged bytes builds
    * per-partition partial filters (identical parameters per file, sized
    * from the stats scan's row counts), merged driver-side — no shuffle,
    * sketch-sized executor-to-driver traffic. Degraded stats (no row
    * counts) or any failure skip the sidecars: absence only costs
    * pruning. */
  private def writeBloomSidecars(spark: SparkSession, root: String,
      staged: Staged, physSchema: StructType,
      physBloom: Map[String, Double]): Unit = try {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val cols = physSchema.fields
      .filter(f => physBloom.contains(f.name) && bloomSupported(f.dataType))
      .map(_.name).toIndexedSeq
    if (cols.isEmpty) return
    def rowsOf(rel: String): Option[Long] =
      staged.stats.get(rel).flatMap(_.values.flatMap(_.rows).headOption)
    val files = staged.rels.flatMap(r => rowsOf(r).map(r -> _)).filter(_._2 > 0)
    if (files.isEmpty) return
    def baseName(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    val relByName = files.map { case (r, _) => baseName(r) -> r }.toMap
    if (relByName.size != files.size) return // name collision: skip, never mis-index
    val rowsByName = files.map { case (r, n) => baseName(r) -> n }.toMap
    val maxBytes = spark.conf.get("spark.graft.bloom.maxBytesPerColumn",
      (4L * 1024 * 1024).toString).toLong
    val scan = spark.read
      .schema(StructType(physSchema.fields.filter(f => cols.contains(f.name))))
      .parquet(files.map { case (r, _) => resolveEntry(root, r) }: _*)
      .select(col("_metadata.file_name").as("__name") +:
        cols.map(c => xxhash64(qcol(c)).as(c)): _*)
    val nCols = cols.length
    val bRows = spark.sparkContext.broadcast(rowsByName)
    val fpps = cols.map(physBloom).toArray
    val partials = scan.queryExecution.toRdd.mapPartitions { it =>
      val m = scala.collection.mutable.HashMap
        .empty[(String, Int), org.apache.spark.util.sketch.BloomFilter]
      it.foreach { row =>
        val name = row.getUTF8String(0).toString
        if (bRows.value.contains(name)) {
          val n = bRows.value(name)
          var i = 0
          while (i < nCols) {
            m.getOrElseUpdate((name, i),
              org.apache.spark.util.sketch.BloomFilter.create(n, fpps(i)))
              .putLong(row.getLong(i + 1))
            i += 1
          }
        }
      }
      m.iterator.map { case ((name, i), bf) =>
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        (name, i, bos.toByteArray)
      }
    }.collect()
    val merged = scala.collection.mutable.HashMap
      .empty[(String, Int), org.apache.spark.util.sketch.BloomFilter]
    partials.foreach { case (name, i, bytes) =>
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes))
      merged.get((name, i)) match {
        case Some(acc) => acc.mergeInPlace(bf)
        case None => merged((name, i)) = bf
      }
    }
    val fs = fsFor(spark, root)
    merged.groupBy(_._1._1).foreach { case (name, entries) =>
      val items = entries.toSeq.sortBy(_._1._2).flatMap { case ((_, i), bf) =>
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        val bytes = bos.toByteArray
        if (bytes.length <= maxBytes) Some(cols(i) -> bytes) else None
      }
      if (items.nonEmpty) {
        val out = fs.create(new Path(resolveEntry(root, relByName(name)) + ".bloom"), true)
        try {
          val dos = new java.io.DataOutputStream(out)
          dos.writeInt(BloomMagic)
          dos.writeInt(1)
          dos.writeInt(items.size)
          items.foreach { case (c, bytes) =>
            dos.writeUTF(c)
            dos.writeInt(bytes.length)
            dos.write(bytes)
          }
          dos.flush()
        } finally out.close()
      }
    }
  } catch { case scala.util.control.NonFatal(_) => () }

  /** The sidecar's filters by PHYSICAL column name; None on a missing or
    * unreadable sidecar (absence is always safe). */
  private def loadBloomSidecar(fs: FileSystem, root: String, rel: String)
      : Option[Map[String, org.apache.spark.util.sketch.BloomFilter]] = try {
    val p = new Path(resolveEntry(root, rel) + ".bloom")
    val in = new java.io.DataInputStream(fs.open(p))
    try {
      if (in.readInt() != BloomMagic || in.readInt() != 1) None
      else {
        val n = in.readInt()
        Some((0 until n).map { _ =>
          val c = in.readUTF()
          val len = in.readInt()
          val bytes = new Array[Byte](len)
          in.readFully(bytes)
          c -> org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(bytes))
        }.toMap)
      }
    } finally in.close()
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Bloom sidecars as the [[SkippingKernel]]'s equality facts:
    * `(rel, col, v)` is false only when `rel`'s sidecar proves `v`
    * absent from `col`. The writer hashed the stored type, and the
    * kernel hands `v` in the column's own type (the resolved predicate
    * already cast the literal, and the kernel maps a widened value back),
    * so `col("id") === 42` over a bigint column and `intCol === 42L`
    * agree. Each sidecar loads, and each looked-up value hashes, at most
    * once, on demand. None when the table declares no Bloom columns. */
  private def bloomFacts(spark: SparkSession, root: String, schema: StructType,
      properties: Map[String, String]): Option[(String, String, Any) => Boolean] = {
    val conf = bloomColumns(properties)
    val bloomed = schema.fields
      .filter(f => conf.contains(f.name) && bloomSupported(f.dataType))
      .map(f => f.name -> f).toMap
    if (bloomed.isEmpty) return None
    val fs = fsFor(spark, root)
    val loaded = scala.collection.mutable.HashMap
      .empty[String, Option[Map[String, org.apache.spark.util.sketch.BloomFilter]]]
    val hashes = scala.collection.mutable.HashMap.empty[(String, Any), Long]
    Some { (rel, c, v) =>
      bloomed.get(c).forall { f =>
        loaded.getOrElseUpdate(rel, loadBloomSidecar(fs, root, rel))
          .flatMap(_.get(physicalNameOf(f))).forall { bf =>
            bf.mightContainLong(hashes.getOrElseUpdate((c, v),
              new org.apache.spark.sql.catalyst.expressions.XxHash64(
                Seq(org.apache.spark.sql.catalyst.expressions.Literal(v, f.dataType)))
                .eval(null).asInstanceOf[Long]))
          }
      }
    }
  }

  // ---------------------------------------------- column-mapping verbs

  /** Attribute names a stored SQL expression references (constraints,
    * GENERATED/DEFAULT expressions) — the rename/drop guards. */
  private def referencedColumns(spark: SparkSession, sql: String): Set[String] =
    try spark.sessionState.sqlParser.parseExpression(sql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head.toLowerCase(java.util.Locale.ROOT)
    }.toSet
    catch { case scala.util.control.NonFatal(_) => Set.empty }

  /** Fail loud when `colName` is load-bearing for anything other than the
    * data itself — partition layout, CHECK constraints, GENERATED /
    * IDENTITY / DEFAULT columns. Delta blocks the same renames/drops:
    * silently breaking a stored expression is worse than refusing. */
  private def requireUnreferenced(op: String, spark: SparkSession, root: String,
      snap: Snapshot, colName: String): Unit = {
    val lower = colName.toLowerCase(java.util.Locale.ROOT)
    if (snap.layout.exists(_.equalsIgnoreCase(colName)))
      throw new IllegalArgumentException(
        s"$op $colName at $root: it is a partition column — hive-style paths spell its name; " +
          "rewrite the table (overwrite with a new layout) instead")
    snap.constraints.foreach { case (n, e) =>
      if (referencedColumns(spark, e).contains(lower)) throw new IllegalArgumentException(
        s"$op $colName at $root: CHECK constraint '$n' ($e) references it — drop the " +
          "constraint first")
    }
    generatedExprs(snap.properties).foreach { case (c, e) =>
      if (c.equalsIgnoreCase(colName) || referencedColumns(spark, e).contains(lower))
        throw new IllegalArgumentException(
          s"$op $colName at $root: generated column $c ($e) involves it")
    }
    defaultExprs(snap.properties).foreach { case (c, e) =>
      if (c.equalsIgnoreCase(colName) || referencedColumns(spark, e).contains(lower))
        throw new IllegalArgumentException(
          s"$op $colName at $root: column DEFAULT for $c ($e) involves it")
    }
    identitySpecs(snap.properties).foreach { sp =>
      if (sp.col.equalsIgnoreCase(colName)) throw new IllegalArgumentException(
        s"$op $colName at $root: it is an identity column")
    }
  }

  private def requirePlainName(what: String, n: String): Unit =
    require(n.nonEmpty && !n.exists(c => c == '`' || c == '\t' || c == '\n' || c == '\r'),
      s"$what must be non-empty without backticks or control characters, got '$n'")

  /** Switch the table to name-based column mapping ([[MappingProperty]]):
    * every existing top-level column gets its CURRENT name as its stable
    * physical name (so every committed file keeps reading verbatim) plus a
    * stable numeric id, and [[renameColumn]]/[[dropColumn]] become
    * metadata-only from here on. Idempotent; one `dataChange:false`
    * commit. Nested struct fields are not mapped (their names stay). */
  def enableColumnMapping(spark: SparkSession, root: String): Long = {
    commitWith(spark, root) { snap =>
      require(snap.version.nonEmpty, s"enableColumnMapping needs an existing table at $root")
      val base = snap.schema
      if (isMapped(base) && snap.properties.get(MappingProperty).exists(_ == "name")) None
      else {
        base.fieldNames.foreach(n => requirePlainName("column name", n))
        val mapped = StructType(base.fields.zipWithIndex.map { case (f, i) =>
          val m = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
          if (!f.metadata.contains(PhysNameKey)) m.putString(PhysNameKey, f.name)
          if (!f.metadata.contains(ColIdKey)) m.putLong(ColIdKey, i.toLong)
          f.copy(metadata = m.build())
        })
        Some((snap.files, snap.txns,
          CommitMeta(Some(mapped.json), snap.partitionBy, dataChange = false,
            stats = snap.stats, op = "columnMapping",
            constraints = snap.constraints,
            properties = Map(MappingProperty -> "name"))))
      }
    }.getOrElse(snapshot(spark, root).version.get)
  }

  /** Metadata-only column rename (Delta's `ALTER TABLE … RENAME COLUMN`
    * under name mapping): the logical name changes in ONE manifest
    * commit, the stable physical name keeps every committed byte and
    * deletion vector valid, and the carried per-file stats re-key — so
    * data skipping on the new name works immediately, at any table size.
    * Requires [[enableColumnMapping]]; refuses partition columns and
    * columns referenced by constraints / generated / identity / DEFAULT
    * expressions (the stored SQL would silently break). */
  def renameColumn(spark: SparkSession, root: String, oldName: String,
      newName: String): Long = {
    requirePlainName("renameColumn target", newName)
    commitWith(spark, root) { snap =>
      require(snap.version.nonEmpty, s"renameColumn needs an existing table at $root")
      val base = snap.schema
      require(isMapped(base),
        s"renameColumn at $root needs column mapping — enableColumnMapping(root) (or SQL " +
          s"ALTER TABLE … SET TBLPROPERTIES ('$MappingProperty'='name')) first; without it " +
          "a rename would have to rewrite every data file")
      val idx = base.fieldNames.indexWhere(_.equalsIgnoreCase(oldName))
      require(idx >= 0, s"renameColumn at $root: no column $oldName " +
        s"(have ${base.fieldNames.mkString(", ")})")
      if (base.fields(idx).name == newName) None
      else {
        require(!base.fieldNames.exists(_.equalsIgnoreCase(newName)),
          s"renameColumn at $root: column $newName already exists")
        requireUnreferenced("renameColumn", spark, root, snap, base.fields(idx).name)
        val from = base.fields(idx).name
        val renamed = StructType(base.fields.updated(idx, base.fields(idx).copy(name = newName)))
        val rekeyed: FileStats = snap.stats.map { case (rel, cols) =>
          rel -> cols.map { case (c, st) => (if (c == from) newName else c) -> st }
        }
        // a bloom index is keyed by the stable physical name on disk, so
        // its CONFIG follows the logical rename
        val props = snap.properties.get(s"$BloomPropertyPrefix$from") match {
          case Some(f) => snap.properties - s"$BloomPropertyPrefix$from" +
            (s"$BloomPropertyPrefix$newName" -> f)
          case None => snap.properties
        }
        Some((snap.files, snap.txns,
          CommitMeta(Some(renamed.json), snap.partitionBy, dataChange = false,
            stats = rekeyed, op = "renameColumn",
            constraints = snap.constraints, properties = props)))
      }
    }.getOrElse(snapshot(spark, root).version.get)
  }

  /** Metadata-only column drop (Delta's `ALTER TABLE … DROP COLUMN` under
    * name mapping): the field leaves the schema in ONE commit; committed
    * files keep carrying the physical bytes, which no reader can name
    * again — [[addColumn]] under the same logical name gets a FRESH
    * physical name, so the dropped data can never resurrect. [[compact]]
    * physically sheds the column (it rewrites through the current
    * schema). Same reference guards as [[renameColumn]]. */
  def dropColumn(spark: SparkSession, root: String, name: String): Long = {
    commitWith(spark, root) { snap =>
      require(snap.version.nonEmpty, s"dropColumn needs an existing table at $root")
      val base = snap.schema
      require(isMapped(base),
        s"dropColumn at $root needs column mapping — enableColumnMapping(root) first; " +
          "without it a drop would have to rewrite every data file")
      val idx = base.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      require(idx >= 0, s"dropColumn at $root: no column $name " +
        s"(have ${base.fieldNames.mkString(", ")})")
      require(base.fields.length > 1, s"dropColumn at $root: cannot drop the only column")
      val actual = base.fields(idx).name
      requireUnreferenced("dropColumn", spark, root, snap, actual)
      val remaining = StructType(base.fields.patch(idx, Nil, 1))
      val shed: FileStats = snap.stats.map { case (rel, cols) => rel -> (cols - actual) }
      Some((snap.files, snap.txns,
        CommitMeta(Some(remaining.json), snap.partitionBy, dataChange = false,
          stats = shed, op = "dropColumn",
          constraints = snap.constraints,
          properties = snap.properties - s"$BloomPropertyPrefix$actual")))
    }.getOrElse(snapshot(spark, root).version.get)
  }

  /** Metadata-only column add (nullable): committed files simply read the
    * new column as null — the same semantics `mergeSchema=true` gives an
    * appender, as its own commit. On a column-mapped table the field gets
    * a FRESH uuid-suffixed physical name and the next id, so it can never
    * alias a dropped or renamed column's bytes (the reason mapped tables
    * refuse implicit merge adds). */
  def addColumn(spark: SparkSession, root: String, name: String,
      dataType: DataType): Long = {
    requirePlainName("addColumn name", name)
    commitWith(spark, root) { snap =>
      require(snap.version.nonEmpty, s"addColumn needs an existing table at $root")
      val base = snap.schema
      require(!base.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"addColumn at $root: column $name already exists")
      val field =
        if (!isMapped(base)) StructField(name, dataType, nullable = true)
        else {
          val nextId = base.fields.map(f =>
            if (f.metadata.contains(ColIdKey)) f.metadata.getLong(ColIdKey) else -1L).max + 1
          val phys = s"${name}_${UUID.randomUUID().toString.replace("-", "").take(8)}"
          StructField(name, dataType, nullable = true,
            metadata = new org.apache.spark.sql.types.MetadataBuilder()
              .putString(PhysNameKey, phys).putLong(ColIdKey, nextId).build())
        }
      Some((snap.files, snap.txns,
        CommitMeta(Some(StructType(base.fields :+ field).json), snap.partitionBy,
          dataChange = false, stats = snap.stats, op = "addColumn",
          constraints = snap.constraints)))
    }.getOrElse(snapshot(spark, root).version.get)
  }

  private def cdcEnabled(snap: Snapshot): Boolean =
    snap.properties.get(CdcProperty).exists(_.equalsIgnoreCase("true"))

  /** Align `df` to the committed schema: columns it lacks read as null,
    * column order is the declared order. Types were already verified by
    * [[checkOrMergeSchema]]; the cast only normalizes nullability noise. */
  private def conformTo(df: DataFrame, schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val have = df.columns.toSet
    df.select(schema.fields.toIndexedSeq.map { f =>
      (if (have.contains(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Read `rels` with each row's source file exposed as `__file` — the
    * localization scan for copy-on-write mutations. Column-pruned to what
    * the caller selects, so finding touched files reads only the key (or
    * predicate) columns, never full rows. */
  private def readTagged(spark: SparkSession, root: String, rels: Seq[String],
      schemaJson: Option[String], partitioned: Boolean,
      dvs: FileDvs = Map.empty, tagPos: Boolean = false): DataFrame = {
    readEntryGroups(spark, root, rels, schemaJson, partitioned, tagFile = true,
      dvs = dvs, tagPos = tagPos)
  }

  /** Committed relative path of an absolute file URI under `root`.
    *
    * `abs` comes from `_metadata.file_path`, which Spark renders
    * percent-encoded (`path.toUri.toString`), while manifest rels and
    * listing-derived rels are DECODED filesystem paths
    * ([[relativeTo]] uses `toUri.getPath`). A partition value with a
    * space, a non-ASCII char, or a Hive-escaped char (dir names carry
    * literal `%XX` for e.g. ':') would make the two representations
    * disjoint — so decode the URI form before relativizing. Falls back
    * to the raw string when it is not a parseable URI (plain paths with
    * chars that are illegal unencoded). */
  private def relUnderRoot(root: String, abs: String): String = {
    val p =
      try new Path(new java.net.URI(abs))
      catch {
        case _: java.net.URISyntaxException | _: IllegalArgumentException => new Path(abs)
      }
    relativeTo(new Path(root.stripSuffix("/")), p)
  }

  /** Candidate files for a keyed mutation: when every partition column is
    * part of the merge key, a file whose partition tuple does not occur in
    * `updates` cannot contain a matched key — pruned from the localization
    * scan without being opened (the file-skipping analog of Delta's
    * partition-pruned MERGE). Falls back to all files when the layout is
    * not key-covered or the update set touches too many partitions for a
    * literal predicate. */
  private def pruneCandidates(spark: SparkSession, files: Seq[String], layout: Seq[String],
      keyCols: Seq[String], schema: StructType, updates: DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions.{col, lit}
    if (layout.isEmpty || !layout.forall(keyCols.contains)) return files
    // bounded collect: one row per distinct partition tuple the merge
    // touches (a daily upsert touches a handful); beyond the cap a
    // 1000-term OR predicate costs more than the scan it would save
    val tuples = updates.select(layout.map(col): _*).distinct().limit(1001).collect()
    if (tuples.length > 1000) return files
    val pred = tuples.toSeq.map { r =>
      layout.zipWithIndex.map { case (c, i) =>
        val v = r.get(i)
        if (v == null) col(c).isNull else col(c) === lit(v)
      }.reduce(_ && _)
    }.reduceOption(_ || _).getOrElse(lit(false))
    filesMatching(spark, files, layout, schema, pred).toSeq
  }

  /** Data skipping for keyed mutations (Delta's stats-based file
    * skipping): the updates' observed key range `k >= lo AND k <= hi`,
    * resolved against the table schema, through [[pruneFiles]] — files
    * whose committed key range cannot intersect it are never opened. A
    * key column with no non-null update value matches nothing (an
    * equality join on a null key never matches). On a key-sorted layout
    * ([[graft.operators.Etl.zorderWrite]] / [[compact]]`(zorderBy)`), a
    * narrow merge localizes to the few files whose range it overlaps. */
  private def statsPrune(spark: SparkSession, root: String, candidates: Seq[String],
      keyCols: Seq[String], schema: StructType, stats: FileStats,
      properties: Map[String, String], updates: DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions.{col, lit, max, min}
    val statCols = keyCols.filter(k => statsEligible(schema(k).dataType))
    if (statCols.isEmpty || candidates.isEmpty) return candidates
    if (!candidates.exists(f => stats.get(f).exists(m => statCols.exists(m.contains))))
      return candidates // no stats anywhere — skip the bounds job too
    val aggs = statCols.flatMap(k => Seq(min(col(k)).as(s"lo_$k"), max(col(k)).as(s"hi_$k")))
    val bounds = updates.agg(aggs.head, aggs.tail.toIndexedSeq: _*).collect()(0)
    val range = statCols.zipWithIndex.map { case (k, i) =>
      val lo = bounds.get(2 * i); val hi = bounds.get(2 * i + 1)
      if (lo == null || hi == null) lit(false) else col(k) >= lit(lo) && col(k) <= lit(hi)
    }.reduce(_ && _)
    pruneFiles(spark, root, candidates, schema, Nil, stats, properties,
      Seq(SkippingKernel.resolve(spark, range, schema)))
  }

  /** The files [[delete]]'s localization scan would open for `pred` after
    * stats skipping — exposed for specs and capacity planning. */
  private[graft] def deleteCandidates(spark: SparkSession, root: String,
      pred: Column): Seq[String] = candidates(spark, snapshot(spark, root), pred)

  /** The candidate files [[merge]]'s localization scan would open for
    * these updates, after partition and stats pruning — exposed for specs
    * and capacity planning. */
  private[graft] def localizationCandidates(spark: SparkSession, root: String,
      updates: DataFrame, keyCols: Seq[String]): Seq[String] = {
    val snap = snapshot(spark, root)
    mergeCandidates(spark, snap, snap.schema, keyCols, updates)
  }

  /** [[pruneCandidates]] then [[statsPrune]] over one snapshot. */
  private def mergeCandidates(spark: SparkSession, pre: Snapshot, schema: StructType,
      keyCols: Seq[String], updates: DataFrame): Seq[String] =
    statsPrune(spark, pre.root,
      pruneCandidates(spark, pre.files, pre.layout, keyCols, schema, updates),
      keyCols, schema, pre.stats, pre.properties, updates)

  /** The files among `cands` holding a row `matching` keeps, found by a
    * column-pruned scan of (row, file) pairs: the localization step of
    * every copy-on-write verb. The collect is bounded by the file count
    * — manifest-scale metadata, the same order as the commit itself. */
  private def localize(spark: SparkSession, pre: Snapshot, cands: Seq[String],
      schemaJson: Option[String])(matching: DataFrame => DataFrame): Set[String] =
    if (cands.isEmpty) Set.empty
    else matching(readTagged(spark, pre.root, cands, schemaJson, pre.layout.nonEmpty,
        dvs = pre.dvs))
      .select("__file").distinct().collect()
      .map(r => relUnderRoot(pre.root, r.getString(0))).toSet

  /** Row-level MERGE — the keyed copy-on-write upsert, Delta's
    * `MERGE INTO target USING updates ON keys WHEN MATCHED THEN UPDATE SET *
    * WHEN NOT MATCHED THEN INSERT *`; the mutation verb the reference's
    * stack gets from Delta (load_data_task.py:142 writes `format("delta")`,
    * README:303 roadmap: "handle duplicated events").
    *
    * Only files that actually CONTAIN a matched key are rewritten: a
    * column-pruned localization scan (keys + file identity) finds them,
    * their unmatched rows survive, every update row lands exactly once,
    * and all other files are carried into the new version untouched — at
    * 100 TB a merge touching one day rewrites that day's files, not the
    * table. The scan itself is pruned TWICE before it opens anything:
    * partition values (when the layout is key-covered) and the per-file
    * column stats ([[statsPrune]]) — on a key-sorted layout a narrow
    * merge opens only the files whose committed key range it overlaps.
    *
    * Concurrency: [[ConflictRules]]. `txn = Some(appId -> batchId)` gives
    * streaming-writer replay idempotence, exactly as [[exactlyOnceAppend]]
    * (replays return None without staging).
    *
    * Schema: matched rows are REPLACED whole — an update row missing one
    * of the table's columns writes null there (UPDATE SET * semantics,
    * verified by [[checkOrMergeSchema]]); `mergeSchema=true` additionally
    * allows add-column evolution, as does Delta's `schema.autoMerge`
    * parity knob (table property `graft.schema.autoMerge` or session
    * conf `spark.graft.schema.autoMerge`) — the form an evolving-source
    * streaming upsert needs. Source rows must be key-unique — an
    * ambiguous (multi-row) match fails loud, as Delta's runtime check
    * does.
    *
    * CDC deletes: `deleteCol = Some("_tombstone")` names a boolean marker
    * column in the source — rows where it is true DELETE their matched
    * target row instead of upserting (Delta's `WHEN MATCHED [AND cond]
    * THEN DELETE`); unmatched tombstones are no-ops, and the marker
    * column itself never reaches the table.
    *
    * Layout note: rewritten files hold survivors ∪ inserts UNSORTED, so a
    * clustered table's per-file key ranges widen with every merge and
    * stats pruning degrades over time — the same drift Delta has; a
    * periodic [[compact]]`(zorderBy = …)` restores tight ranges. */
  def merge(spark: SparkSession, root: String, updates0: DataFrame, keyCols: Seq[String],
      mergeSchema: Boolean = false, txn: Option[(String, Long)] = None,
      deleteCol: Option[String] = None): Option[Long] =
    mergeWith(spark, root, keyCols, Left(updates0), mergeSchema, txn, deleteCol)

  /** [[merge]] from a fixed source (`Left`), or from a source each
    * attempt builds from the target as of its own snapshot (`Right`):
    * SQL MERGE's clause narrowing, whose matched flag must come from the
    * same snapshot the attempt localizes against — a key another writer
    * inserts mid-merge is then matched on the retry, never overwritten. */
  private[graft] def mergeWith(spark: SparkSession, root: String, keyCols: Seq[String],
      source: Either[DataFrame, DataFrame => DataFrame], mergeSchema: Boolean = false,
      txn: Option[(String, Long)] = None, deleteCol: Option[String] = None): Option[Long] = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    source.swap.foreach(requireMergeSource(_, keyCols, deleteCol))
    checkCommitScheme(spark, root)
    val first = snapshot(spark, root)
    // replay fast-path BEFORE any Spark job: a replayed streaming batch
    // (same appId, batchId ≤ committed mark) costs one manifest read, not
    // a persist + uniqueness aggregation (mirrors exactlyOnceAppend's
    // skip-without-staging); the race-safe check re-runs at commit
    txn.foreach { case (appId, batchId) =>
      if (first.txns.get(appId).exists(batchId <= _)) return None
    }
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // generated columns the source omits are computed up front (before
    // the persist, so the computation runs once); carried ones validate
    // in-write at stage time. The source participates in ~5 jobs
    // (uniqueness check, stat bounds, semi-join localization, anti-join
    // rewrite, union) — materialize it once instead of re-running its
    // plan each time (Delta materializes the MERGE source for the same
    // reason, which also pins sources with nondeterministic expressions
    // to ONE evaluation). Skipped when the caller already persisted it.
    def prepare(src: DataFrame, snap: Snapshot): DataFrame = {
      val generated = applyGenerated(src, snap.properties, snap.schemaJson)
      if ((generated eq src) &&
          src.storageLevel != org.apache.spark.storage.StorageLevel.NONE) src
      else {
        val p = generated.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        persisted += p
        p
      }
    }
    val fixed = source.swap.toOption.map(prepare(_, first))
    try rowLevel(spark, root, "merge", first, txn) { pre =>
      require(pre.version.nonEmpty, s"merge needs an existing table at $root")
      val updates = fixed.getOrElse {
        val narrowed = source.toOption.get(readSnapshot(spark, pre))
        requireMergeSource(narrowed, keyCols, deleteCol)
        prepare(narrowed, pre)
      }
      mergePlan(spark, pre, updates, keyCols, mergeSchema, txn, deleteCol)
    } finally persisted.foreach(_.unpersist())
  }

  private def requireMergeSource(updates: DataFrame, keyCols: Seq[String],
      deleteCol: Option[String]): Unit = {
    keyCols.foreach(k => require(updates.columns.contains(k),
      s"merge source has no key column $k (source columns: ${updates.columns.mkString(",")})"))
    deleteCol.foreach { d =>
      require(updates.columns.contains(d), s"merge deleteCol $d is not a source column")
      require(!keyCols.contains(d), s"merge deleteCol $d cannot be a key column")
    }
  }

  /** An upsert source must be key-unique — a multi-row match makes the
    * result order-dependent (Delta's runtime check fails the same way). */
  private def requireUniqueKeys(what: String, df: DataFrame, keyCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    require(!df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).head(1).nonEmpty,
      s"$what source has duplicate rows per key [${keyCols.mkString(",")}] — " +
        "a multi-row match makes the upsert ambiguous (Delta fails the same way)")
  }

  /** Delta `schema.autoMerge` parity: when the TABLE property
    * `graft.schema.autoMerge` or the SESSION conf
    * `spark.graft.schema.autoMerge` is `true`, merge paths evolve
    * (add-column only, same rules as `mergeSchema=true`) without the
    * per-call flag — the knob an evolving-source streaming upsert
    * needs, since the writer closure is built before the drift
    * appears. */
  private def autoMergeEnabled(spark: SparkSession, props: Map[String, String]): Boolean =
    props.get("graft.schema.autoMerge").contains("true") ||
      spark.conf.getOption("spark.graft.schema.autoMerge").contains("true")

  /** One MERGE attempt against `pre`: localize, then stage the rewrite. */
  private def mergePlan(spark: SparkSession, pre: Snapshot, updates: DataFrame,
      keyCols: Seq[String], mergeSchema: Boolean, txn: Option[(String, Long)],
      deleteCol: Option[String]): Option[RowRewrite] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    val root = pre.root
    if (txn.exists { case (appId, batchId) => pre.txns.get(appId).exists(batchId <= _) })
      return None
    requireUniqueKeys("merge", updates, keyCols)
    // the tombstone marker is merge-protocol metadata, not table data: it
    // is excluded from the schema contract and from inserted rows. Rows
    // where it is true DELETE their matched target row (Delta's WHEN
    // MATCHED THEN DELETE); unmatched tombstones are no-ops.
    val dataUpdates = deleteCol.map(updates.drop(_)).getOrElse(updates)
    val upserts = deleteCol match {
      case None => updates
      case Some(d) => updates.filter(not(coalesce(col(d), lit(false)))).drop(d)
    }
    // a merge source omitting an identity column would conform it to
    // NULL — allocation inside a keyed upsert is ambiguous (which rows
    // are inserts is only known mid-plan), so require it explicit
    // (checked before the generic drift message, which would fire too)
    identitySpecs(pre.properties).foreach { sp =>
      require(updates.columns.contains(sp.col),
        s"merge source must carry identity column ${sp.col} explicitly — " +
          "allocate ids with append, or provide them in the source")
    }
    val schemaJson = checkOrMergeSchema("merge", pre.schemaJson, dataUpdates.schema,
      mergeSchema || autoMergeEnabled(spark, pre.properties))
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    keyCols.foreach(k => require(schema.fieldNames.contains(k),
      s"table at $root has no key column $k"))
    val layout = pre.layout
    val keys = updates.select(keyCols.map(col): _*)
    // localization: which committed files contain a matched key
    val touched = localize(spark, pre, mergeCandidates(spark, pre, schema, keyCols, updates),
      Some(schemaJson))(_.select((keyCols :+ "__file").map(col): _*).join(keys, keyCols, "left_semi"))
    def touchedRows(what: String): DataFrame =
      readFiles(spark, root, touched.toSeq, Some(schemaJson), layout.nonEmpty, what,
        dvs = pre.dvs)
    val mergedRows = {
      // survivors anti-join ALL update keys (tombstones included — their
      // matched rows must vanish); only non-tombstone rows insert
      val ups = conformTo(upserts, schema)
      if (touched.isEmpty) ups
      else conformTo(touchedRows("merge").join(keys, keyCols, "left_anti"), schema)
        .unionByName(ups)
    }
    // row-level CDC: matched rows pair update_preimage/update_postimage,
    // tombstone-matched rows emit delete, unmatched upserts emit insert —
    // Delta's MERGE change-feed row set, captured only when asked for
    val cdcRels =
      if (!cdcEnabled(pre)) Nil
      else {
        val ups = conformTo(upserts, schema)
        val oldMatched =
          if (touched.isEmpty) None
          else Some(touchedRows("merge cdc").join(keys, keyCols, "left_semi"))
        val tombKeys = deleteCol.map(d =>
          updates.filter(coalesce(col(d), lit(false))).select(keyCols.map(col): _*))
        val deletes = for (om <- oldMatched; tk <- tombKeys)
          yield om.join(tk, keyCols, "left_semi").withColumn(ChangeTypeCol, lit("delete"))
        val preims = oldMatched.map { om =>
          tombKeys.map(tk => om.join(tk, keyCols, "left_anti")).getOrElse(om)
            .withColumn(ChangeTypeCol, lit("update_preimage"))
        }
        val matchedKeys = oldMatched.map(_.select(keyCols.map(col): _*).distinct())
        val postims = matchedKeys.map(mk =>
          ups.join(mk, keyCols, "left_semi").withColumn(ChangeTypeCol, lit("update_postimage")))
        val inserts = matchedKeys.map(mk => ups.join(mk, keyCols, "left_anti")).getOrElse(ups)
          .withColumn(ChangeTypeCol, lit("insert"))
        stageCdc(spark, root,
          (deletes.toSeq ++ preims.toSeq ++ postims.toSeq :+ inserts).reduce(_ unionByName _),
          tableSchemaJson = Some(schemaJson))
      }
    // Size the rewrite before staging (Delta's optimized write): the
    // anti-join leaves the rewrite spread over every shuffle partition
    // — and AQE's default parallelism-first coalescing keeps them all —
    // so a 2-file merge would otherwise stage ~32 sliver files, layout
    // churn that compounds with every merge. One output file per
    // ~128 MB of REPLACED parquet instead (inserts ride along — merge
    // sources are small next to the files they touch); the explicit
    // repartition is deterministic where a REBALANCE hint is at the
    // mercy of parallelismFirst. Pure inserts keep the source's own
    // partitioning, as before. Partitioned tables hash on the layout so
    // each hive dir gets whole tasks (the compact() pattern).
    val sized =
      if (touched.isEmpty) mergedRows
      else {
        val bytes = touched.toSeq.map { rel =>
          val p = new Path(resolveEntry(root, rel))
          try p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
          catch { case _: java.io.IOException => 0L }
        }.sum
        val n = math.max(1L, bytes / (128L * 1024 * 1024) + 1).toInt
        if (layout.isEmpty) mergedRows.repartition(n)
        else mergedRows.repartition(n, layout.map(col): _*)
      }
    val staged = stage(spark, root, sized, layout,
      pre.constraints ++ generatedChecks(sized, pre.properties),
      tableSchemaJson = Some(schemaJson), tableProperties = pre.properties)
    Some(RowRewrite(touched, staged, cdcRels = cdcRels, schemaJson = Some(schemaJson)))
  }

  /** `foreachBatch` adapter for exactly-once streaming UPSERT — the
    * reference's own roadmap item ("handle duplicated events",
    * README:303) composed from [[merge]] + the txn mark: each micro-batch
    * merges on `keyCols` (late duplicates UPDATE instead of duplicating),
    * a replayed batch is a no-op, and the first batch bootstraps the
    * table. With `latestBy = Some(orderCol)` each batch is first
    * collapsed to its last row per key by that column (ties broken by the
    * largest remaining row — make orderCol total per key for full
    * determinism), which is what a CDC/event stream needs to satisfy
    * merge's unique-key contract. The ordering column is table data (it
    * lands in the table like any other column — the schema check fails
    * loud if the table doesn't carry it). `deleteCol` marks tombstone
    * rows ([[merge]]'s CDC-delete clause) and is protocol metadata that
    * never lands; a delete-then-reinsert sequence within one batch
    * resolves to the latest marker first. */
  def exactlyOnceMergeWriter(root: String, keyCols: Seq[String], appId: String,
      latestBy: Option[String] = None,
      deleteCol: Option[String] = None,
      mergeSchema: Boolean = false): (DataFrame, Long) => Unit = (df, batchId) => {
    import org.apache.spark.sql.functions.{coalesce, col, lit, max_by, not, struct}
    val spark = df.sparkSession
    val batch = latestBy match {
      case None => df
      case Some(ord) =>
        val others = df.columns.filterNot(keyCols.contains)
        df.groupBy(keyCols.map(col): _*)
          .agg(max_by(struct(others.map(col).toIndexedSeq: _*),
            struct(col(ord) +: others.filterNot(_ == ord).map(col).toIndexedSeq: _*)).as("__r"))
          .select(keyCols.map(col) ++ others.map(c => col(s"__r.$c").as(c)): _*)
    }
    if (currentVersion(spark, root).isEmpty) {
      // bootstrap batch must honor the same key-uniqueness invariant every
      // later merge maintains — a duplicate-keyed first batch would wedge
      // the table's contract silently instead of failing loud like batch 1+
      requireUniqueKeys("exactlyOnceMergeWriter bootstrap", batch, keyCols)
      // tombstones for rows that never existed are no-ops on bootstrap too
      val data = deleteCol match {
        case None => batch
        case Some(d) => batch.filter(not(coalesce(col(d), lit(false)))).drop(d)
      }
      exactlyOnceAppend(spark, root, data, appId, batchId,
        mergeSchema = mergeSchema); ()
    } else {
      merge(spark, root, batch, keyCols, mergeSchema = mergeSchema,
        txn = Some(appId -> batchId), deleteCol = deleteCol); ()
    }
  }

  /** Row-level DELETE with an arbitrary predicate — copy-on-write, like
    * [[merge]]: files with no matching row are carried untouched, files
    * with matches are rewritten to their surviving rows, all in one commit.
    * Rows where `pred` is NULL are kept (SQL DELETE semantics). Returns
    * None when nothing matched (no new version — Delta's no-op DELETE).
    * Under [[DvProperty]] the touched files keep their bytes and gain
    * deletion vectors instead ([[rewriteWhere]]). Concurrency:
    * [[ConflictRules]].
    *
    * When the table is hive-partitioned and `pred` references partition
    * columns ONLY, no data is read or rewritten at all: matching files are
    * dropped from the manifest (the metadata-only delete Delta performs
    * for partition-aligned predicates), which also makes the operation
    * trivially race-safe (no localization to invalidate).
    *
    * Incremental readers: a delete is a removal commit — plain
    * [[changesBetween]] fails loud over a range containing it; pass
    * `includeRemoves = true` to fold deletes downstream. */
  def delete(spark: SparkSession, root: String, pred: Column): Option[Long] = {
    checkCommitScheme(spark, root)
    val first = snapshot(spark, root)
    require(first.version.nonEmpty, s"delete needs an existing table at $root")
    val layout = first.layout
    val partitionAligned = layout.nonEmpty && first.schemaJson.isDefined && {
      val r = SkippingKernel.resolve(spark, pred, first.schema)
      r.deterministic && r.references.nonEmpty && r.references.forall(a => layout.contains(a.name))
    }
    if (partitionAligned)
      // metadata-only path: partition-aligned predicate, no data read;
      // evaluated on the freshest snapshot inside the commit loop
      commitWith(spark, root) { snap =>
        val dropped = filesMatching(spark, snap.files, layout, snap.schema, pred)
        if (dropped.isEmpty) None
        else Some((snap.files.filterNot(dropped), snap.txns,
          CommitMeta(snap.schemaJson, snap.partitionBy, stats = snap.stats -- dropped,
          op = "delete", constraints = snap.constraints)))
      }
    else rewriteWhere(spark, "delete", first, pred, Map.empty)
  }

  /** Row-level UPDATE — Delta's `UPDATE t SET c = expr WHERE pred`:
    * copy-on-write like [[delete]], sharing its stats skipping and
    * localization scan. Matching rows have each `set` column replaced by
    * its expression (evaluated over the OLD row, so swaps like
    * `a -> col("b"), b -> col("a")` behave); rows where `pred` is false
    * or NULL are carried unchanged. Set expressions are cast to the
    * column's declared type; partition columns cannot be updated
    * (that is row movement — express it as delete + append). Returns
    * None when nothing matched (no new version). Under [[DvProperty]]
    * the matched rows die by deletion vector and their updated versions
    * append ([[rewriteWhere]]). Concurrency: [[ConflictRules]]. */
  def update(spark: SparkSession, root: String, pred: Column,
      set: Map[String, Column]): Option[Long] = {
    require(set.nonEmpty, "update needs at least one SET column")
    checkCommitScheme(spark, root)
    val first = snapshot(spark, root)
    require(first.version.nonEmpty, s"update needs an existing table at $root")
    set.keys.foreach { c =>
      require(!first.layout.contains(c),
        s"update cannot change partition column $c — rows would have to MOVE files; " +
          "express this as delete + append")
      require(!generatedExprs(first.properties).contains(c),
        s"update cannot SET generated column $c — it recomputes from its generation " +
          "expression when a source column changes")
    }
    rewriteWhere(spark, "update", first, pred, set)
  }

  /** DELETE (`set` empty) or UPDATE of the rows where `pred` is true,
    * through [[rowLevel]]. Each attempt finds the candidate files by
    * stats skipping, then:
    *
    *   - copy-on-write: localizes the files holding a matching row and
    *     rewrites them whole — survivors only, or every row with `set`
    *     applied;
    *   - under [[DvProperty]] (merge-on-read): collects the matching
    *     LIVE rows' positions into one deletion vector per touched file
    *     and appends the matched rows with `set` applied (nothing for a
    *     DELETE). At 100 TB this is the difference between KBs of bitmap
    *     and TBs of rewrite for a point-ish mutation: the write scales
    *     with matched rows, not with the files they sit in; the read-side
    *     cost amortizes until [[compact]] purges the vectors.
    *
    * With [[CdcProperty]], the matched rows are captured as `delete`, or
    * as `update_preimage` + `update_postimage` pairs. */
  private def rewriteWhere(spark: SparkSession, op: String, first: Snapshot, pred: Column,
      set: Map[String, Column]): Option[Long] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not, when}
    val hit = coalesce(pred, lit(false))
    rowLevel(spark, first.root, op, first) { pre =>
      val root = pre.root
      val schemaJson = pre.schemaJson
      val partitioned = pre.layout.nonEmpty
      set.keys.foreach(c => require(pre.schema.fieldNames.contains(c),
        s"update SET references unknown column $c"))
      // generated columns recompute AFTER the SET (Delta's behavior when a
      // source column changes); identity for rows the update didn't touch
      def applySet(df: DataFrame): DataFrame = {
        val schema = pre.schema
        val assigned = df.select(schema.fields.toIndexedSeq.map { f =>
          set.get(f.name) match {
            case Some(e) => when(hit, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        }: _*)
        generatedExprs(pre.properties).foldLeft(assigned) { case (d, (c, e)) =>
          d.withColumn(c, org.apache.spark.sql.functions.expr(e).cast(schema(c).dataType))
        }
      }
      def stageRows(df: DataFrame): Staged =
        stage(spark, root, df, pre.layout, if (set.isEmpty) Map.empty else pre.constraints,
          tableSchemaJson = schemaJson, tableProperties = pre.properties)
      def cdc(matched: DataFrame): Seq[String] =
        if (!cdcEnabled(pre)) Nil
        else stageCdc(spark, root,
          if (set.isEmpty) matched.withColumn(ChangeTypeCol, lit("delete"))
          else matched.withColumn(ChangeTypeCol, lit("update_preimage"))
            .unionByName(applySet(matched).withColumn(ChangeTypeCol, lit("update_postimage"))),
          tableSchemaJson = schemaJson)
      // stats skipping first: files whose committed ranges prove the
      // predicate can't match are never opened by the localization scan
      val cands = candidates(spark, pre, pred)
      if (dvEnabled(pre.properties)) {
        val fresh =
          if (cands.isEmpty) Nil
          else collectNewDvBlobs(spark, root, readTagged(spark, root, cands, schemaJson,
            partitioned, dvs = pre.dvs, tagPos = true).filter(hit))
        Option.when(fresh.nonEmpty) {
          val (entries, dvRels) = buildDvEntries(spark, root, pre, fresh)
          val matched = readFiles(spark, root, entries.keys.toSeq, schemaJson, partitioned, op,
            dvs = pre.dvs).filter(hit)
          val cdcRels = cdc(matched)
          val staged = if (set.isEmpty) Staged(Nil, Map.empty) else stageRows(applySet(matched))
          RowRewrite(Set.empty, staged, entries, dvRels, cdcRels)
        }
      } else {
        val touched = localize(spark, pre, cands, schemaJson)(_.filter(pred))
        Option.when(touched.nonEmpty) {
          val rows = readFiles(spark, root, touched.toSeq, schemaJson, partitioned, op,
            dvs = pre.dvs)
          val cdcRels = cdc(rows.filter(hit))
          val staged = stageRows(if (set.isEmpty) rows.filter(not(hit)) else applySet(rows))
          RowRewrite(touched, staged, cdcRels = cdcRels)
        }
      }
    }
  }

  // ------------------------------------------- merge-on-read internals

  /** Serialize each touched file's NEW dead positions into one compact
    * roaring blob per file, ON EXECUTORS ([[DeletionVectors.serialize]]
    * runs inside the per-file group task) — the driver only ever receives
    * (rel, blob bytes, cardinality), KB-to-MB compact, never a position
    * list. Per-task transient memory is bounded by one file's matched
    * row count (a parquet file holds at most a few tens of millions of
    * rows — tens of MB of longs, far under task memory). */
  private def collectNewDvBlobs(spark: SparkSession, root: String,
      matched: DataFrame): Seq[(String, Array[Byte], Long)] = {
    import spark.implicits._
    matched.select(org.apache.spark.sql.functions.col("__file"),
        org.apache.spark.sql.functions.col("__pos"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (f, it) =>
        val pos = scala.collection.mutable.ArrayBuffer.empty[Long]
        it.foreach(pos += _._2)
        (f, DeletionVectors.serialize(pos.toSeq), pos.length.toLong)
      }
      .collect().toSeq
      .map { case (uri, blob, card) => (relUnderRoot(root, uri), blob, card) }
  }

  /** Union `fresh` per-file blobs with the files' existing vectors
    * (disjoint by construction — the localization read had the old
    * vector applied, so a dead row can never match again) and render
    * committed [[DvEntry]]s: blobs at or under [[DvMaxInlineKey]] bytes
    * inline (Z85 in the manifest line, zero extra read I/O), larger ones
    * into ONE per-commit file under [[DvDir]]. Returns (entries, the
    * staged dv-file rels to clean up on failure). */
  private def buildDvEntries(spark: SparkSession, root: String, pre: Snapshot,
      fresh: Seq[(String, Array[Byte], Long)]): (FileDvs, Seq[String]) = {
    val merged: Seq[(String, Array[Byte], Long)] = fresh.map { case (rel, blob, card) =>
      pre.dvs.get(rel) match {
        case None => (rel, blob, card)
        case Some(old) =>
          val all = DeletionVectors.positions(loadDvBlob(spark, root, old)) ++
            DeletionVectors.positions(blob)
          (rel, DeletionVectors.serialize(scala.collection.immutable.ArraySeq
            .unsafeWrapArray(all)), old.cardinality + card)
      }
    }
    val maxInline = spark.conf.get(DvMaxInlineKey, "4096").toInt
    val (big, small) = merged.partition(_._2.length > maxInline)
    val inline = small.map { case (rel, blob, card) =>
      val padded = java.util.Arrays.copyOf(blob, (blob.length + 3) / 4 * 4)
      rel -> DvEntry("i", DeletionVectors.z85encode(padded), -1L, blob.length.toLong, card)
    }
    if (big.isEmpty) (inline.toMap, Nil)
    else {
      val rel = s"$DvDir/dv-${UUID.randomUUID()}.bin"
      val p = new Path(s"${root.stripSuffix("/")}/$rel")
      val offsets = DeletionVectors.writeDvFile(fsFor(spark, root), p, big.map(_._2))
      val fileEntries = big.zip(offsets).map { case ((r, blob, card), off) =>
        r -> DvEntry("f", rel, off, blob.length.toLong, card)
      }
      ((inline ++ fileEntries).toMap, Seq(rel))
    }
  }

  /** `a \ b` over ascending position arrays — the vector delta
    * [[readChangeFeed]] synthesizes change rows from. */
  private def diffPositions(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = Array.newBuilder[Long]
    var i = 0; var j = 0
    while (i < a.length) {
      while (j < b.length && b(j) < a(i)) j += 1
      if (j >= b.length || b(j) != a(i)) out += a(i)
      i += 1
    }
    out.result()
  }

  /** Files whose merged vector kills EVERY row — dropped from the list
    * outright instead of carrying a tombstone-only scan. Known only when
    * the file committed a row count with its stats; without one the file
    * stays listed and reads as zero rows (correct, just unpruned). */
  private def fullyDead(stats: FileStats, entries: FileDvs): Set[String] =
    entries.collect {
      case (rel, e) if stats.get(rel).exists(_.values.exists(_.rows.contains(e.cardinality))) =>
        rel
    }.toSet

  /** Compact the current snapshot into ~targetFileMb files and commit the
    * rewrite as one manifest rename, marked `dataChange:false` so
    * incremental readers skip it. Readers of older versions keep their
    * snapshot until [[vacuum]]; a writer killed before the commit leaves
    * only unreferenced staging/data files, never a partial table.
    *
    * Concurrency (Delta's OCC resolution): files appended AFTER the
    * compaction read its snapshot are carried into the new version
    * untouched; if any file this compaction rewrote was REMOVED
    * concurrently (overwrite/replaceWhere), the compaction aborts rather
    * than resurrect replaced data.
    *
    * `zorderBy = Seq(keyA, keyB)` makes the rewrite a clustered OPTIMIZE
    * (Delta `OPTIMIZE … ZORDER BY`): files become contiguous Z-curve
    * segments over the two keys (range-partitioned and sorted on the
    * interleaved value, [[graft.operators.Etl.zorderWrite]]'s layout), so
    * post-compaction scans get parquet min/max skipping on BOTH. Same
    * commit protocol, same `dataChange:false`. With a hive partition
    * layout the clustering happens within partition values (layout columns
    * lead the range keys), matching Delta's per-partition OPTIMIZE. */
  def compact(spark: SparkSession, root: String, targetFileMb: Int = 128,
      zorderBy: Seq[String] = Nil,
      onlySmallerThanMb: Option[Int] = None): Long = {
    checkCommitScheme(spark, root)
    val pre = snapshot(spark, root)
    require(pre.version.nonEmpty, s"no committed version at $root")
    require(onlySmallerThanMb.isEmpty || zorderBy.isEmpty,
      "bin-packing (onlySmallerThanMb) and ZORDER clustering are different rewrites — " +
        "cluster the whole table, or pack its small files, not both at once")
    onlySmallerThanMb.foreach { mb =>
      return compactSmall(spark, root, pre, targetFileMb, mb)
    }
    val df = read(spark, root, pre.version)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val nFiles = math.max(1L, (bytes / (targetFileMb.toLong * 1024 * 1024)).toLong)
    val layout = pre.layout
    require(zorderBy.isEmpty || zorderBy.length == 2,
      s"z-order clustering interleaves exactly two key columns, got $zorderBy")
    require(zorderBy.intersect(layout).isEmpty,
      s"z-order keys $zorderBy overlap the partition layout $layout — partition values " +
        "are constant within a file, clustering on them buys nothing")
    val compacted =
      if (zorderBy.nonEmpty) {
        // range-partition with the hive layout columns as the LEADING keys:
        // each partition value occupies a contiguous run of tasks, so the
        // partitionBy writer emits ~one file per (task ∩ value) instead of
        // nFiles × |values| (z-values are uncorrelated with the layout —
        // ranging on __zval alone would scatter every value over every task)
        val rangeKeys = (layout :+ "__zval").map(org.apache.spark.sql.functions.col)
        // equi-depth (rank-bucketed) z-values: robust to key skew, which a
        // table worth OPTIMIZEing usually has — see Etl.withRankedZ
        graft.operators.Etl.withRankedZ(df, zorderBy.head, zorderBy(1), "__zval")
          .repartitionByRange(nFiles.toInt, rangeKeys: _*)
          .sortWithinPartitions(rangeKeys: _*)
          .drop("__zval")
      }
      else if (layout.isEmpty) df.repartition(nFiles.toInt)
      // co-locate each partition's rows so partitionBy writes one file per
      // partition value per task, not one per (task × partition)
      else df.repartition(nFiles.toInt, layout.map(org.apache.spark.sql.functions.col): _*)
    val fs = fsFor(spark, root)
    val staged = stage(spark, root, compacted, layout,
      tableSchemaJson = pre.schemaJson, tableProperties = pre.properties)
    val rewritten = pre.files.toSet
    cleanupOnFailure(fs, root, staged.rels) {
      commitWith(spark, root) { snap =>
        requireLayout("compact", snap, layout)
        if (!rewritten.subsetOf(snap.files.toSet))
          throw new IllegalStateException(
            s"files compacted at v${pre.version.get} were removed concurrently " +
              "(overwrite/replaceWhere); compaction aborted — re-run against the new snapshot")
        // the rewrite materialized pre's deletion vectors (dead rows
        // dropped, entries fall away with their files = Delta's
        // REORG…APPLY(PURGE)); a vector attached concurrently would be
        // silently lost by that rewrite — abort instead
        if (rewritten.exists(r => snap.dvs.get(r) != pre.dvs.get(r)))
          throw new IllegalStateException(
            s"a deletion vector changed concurrently under compaction at v${pre.version.get}; " +
              "compaction aborted — re-run against the new snapshot")
        Some((snap.files.filterNot(rewritten) ++ staged.rels, snap.txns,
          CommitMeta(snap.schemaJson.orElse(Some(df.schema.json)), snap.partitionBy,
            dataChange = false, stats = (snap.stats -- rewritten) ++ staged.stats,
            op = "compact", constraints = snap.constraints)))
      }.get
    }
  }

  /** Bin-packing OPTIMIZE — [[compact]]`(onlySmallerThanMb = Some(mb))`:
    * rewrite ONLY the files under `mb` megabytes into ~targetFileMb
    * outputs and carry every adequately-sized file untouched. This is
    * the shape OPTIMIZE must have at 100 TB: the cost scales with the
    * small-file debt (the last N streaming micro-batches), never with
    * the table — a full-table rewrite is [[compact]] without the
    * threshold, clustering is `zorderBy`. Rewritten files' deletion
    * vectors materialize away with them; larger DV'd files keep theirs
    * (purge those with the full compact). Fewer than 2 qualifying files
    * = nothing to pack, no commit. Same `dataChange:false` commit as
    * the full compact, so incremental readers skip it. */
  private def compactSmall(spark: SparkSession, root: String, pre: Snapshot,
      targetFileMb: Int, smallMb: Int): Long = {
    val hc = spark.sparkContext.hadoopConfiguration
    val sized = pre.files.map { rel =>
      val p = new Path(resolveEntry(root, rel))
      rel -> (try p.getFileSystem(hc).getFileStatus(p).getLen
        catch { case _: java.io.IOException => 0L })
    }
    val small = sized.filter(_._2 < smallMb.toLong * 1024 * 1024)
    if (small.size < 2) return pre.version.get
    val rewritten = small.map(_._1).toSet
    val layout = pre.layout
    val bytes = small.map(_._2).sum
    val nFiles = math.max(1L, bytes / (targetFileMb.toLong * 1024 * 1024) + 1).toInt
    val packed = {
      val df = readFiles(spark, root, rewritten.toSeq, pre.schemaJson, layout.nonEmpty,
        "compact", dvs = pre.dvs)
      if (layout.isEmpty) df.repartition(nFiles)
      else df.repartition(nFiles, layout.map(org.apache.spark.sql.functions.col): _*)
    }
    val fs = fsFor(spark, root)
    val staged = stage(spark, root, packed, layout,
      tableSchemaJson = pre.schemaJson, tableProperties = pre.properties)
    cleanupOnFailure(fs, root, staged.rels) {
      commitWith(spark, root) { snap =>
        requireLayout("compact", snap, layout)
        if (!rewritten.subsetOf(snap.files.toSet))
          throw new IllegalStateException(
            s"files packed at v${pre.version.get} were removed concurrently; " +
              "compaction aborted — re-run against the new snapshot")
        if (rewritten.exists(r => snap.dvs.get(r) != pre.dvs.get(r)))
          throw new IllegalStateException(
            s"a deletion vector changed concurrently under packing at v${pre.version.get}; " +
              "compaction aborted — re-run against the new snapshot")
        Some((snap.files.filterNot(rewritten) ++ staged.rels, snap.txns,
          CommitMeta(snap.schemaJson.orElse(pre.schemaJson), snap.partitionBy,
            dataChange = false, stats = (snap.stats -- rewritten) ++ staged.stats,
            op = "compact", constraints = snap.constraints)))
      }.get
    }
  }

  // ------------------------------------------------- incremental reads

  /** Incremental (CDF-style) read: the rows ADDED by data-changing commits
    * in `(fromVersion, toVersion]` — the primitive an incremental gold
    * refresh needs (the reference gets it from Delta;
    * spark_structured_datastream.py:75-79). File-level manifest diff:
    * each version contributes the files it added, versions marked
    * `dataChange:false` (compaction) contribute nothing, so compacting
    * between two reads is invisible. This is the append-path primitive
    * (Delta CDF's insert rows): a data-changing commit that REMOVED files
    * (overwrite/replaceWhere) fails loud rather than letting an add-only
    * diff silently double-count what it replaced.
    *
    * `fromVersion = 0` means "since table creation". Every manifest in
    * the range must still exist — [[vacuum]] reclaims old ones, and a
    * reclaimed range fails loud here rather than silently under-reporting. */
  def changesBetween(spark: SparkSession, root: String,
      fromVersion: Long, toVersion: Long, includeRemoves: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val (added, removed, to, layouts, fromDvs) =
      netFileChanges(spark, root, fromVersion, toVersion, allowRemoves = includeRemoves)
    val toSchema = to.schemaJson
    val toDvs = to.dvs
    val partitioned = to.partitionBy.isDefined
    val what = s"changes ($fromVersion, $toVersion]"
    if (!includeRemoves)
      readFiles(spark, root, added, toSchema, partitioned, what, dvs = toDvs)
    else {
      // CDF shape: the table's rows plus `_change_type` ('insert' for rows
      // of net-added files, 'delete' for rows of net-removed files). A
      // merge rewrite emits its surviving rows as delete+insert pairs that
      // cancel under subtraction — exactly what a downstream fold needs.
      // Removed files are still on disk until vacuum; a reclaimed file
      // fails loud at scan time rather than under-reporting deletes.
      //
      // removed files are read with toVersion's partition LAYOUT; if the
      // layout changed inside the range (overwrite(partitionBy=…)), files
      // committed under the old layout would read their partition columns
      // as null and a downstream fold would subtract from a bogus null
      // group — fail loud, like the vacuumed-manifest case
      if (removed.nonEmpty && layouts.exists(_ != to.layout))
        throw new IllegalStateException(
          s"the partition layout of $root changed inside ($fromVersion, $toVersion] — " +
            "removed files cannot be read consistently under the final layout; " +
            "re-derive downstream state from a full read of the new snapshot")
      readFiles(spark, root, added, toSchema, partitioned, what, dvs = toDvs)
        .withColumn("_change_type", lit("insert"))
        .unionByName(
          readFiles(spark, root, removed, toSchema, partitioned, what, dvs = fromDvs)
            .withColumn("_change_type", lit("delete")))
    }
  }

  /** Row-level Change Data Feed over `(fromVersion, toVersion]` —
    * Delta's `table_changes` / `readChangeFeed`. Output = the table's
    * columns (conformed to `toVersion`'s schema) + [[ChangeTypeCol]]
    * (`insert` / `delete` / `update_preimage` / `update_postimage`) +
    * [[CommitVersionCol]].
    *
    * Per version in the range:
    *   - a commit that staged change-data files (the mutation verbs with
    *     [[CdcProperty]] enabled) contributes EXACTLY its captured rows —
    *     minimal: one pre/post pair per updated row, one delete per
    *     deleted row, one insert per inserted row;
    *   - a commit without them synthesizes from its file diff: added
    *     files' rows as `insert`, removed files' rows as `delete` (how
    *     Delta reconstructs CDF for non-CDC commits). Coarse for
    *     copy-on-write rewrites — an untouched row of a rewritten file
    *     appears as a cancelling delete+insert pair — but always
    *     CORRECT under a signed fold, so the feed is total: enabling
    *     CDC mid-history tightens the feed from that version on without
    *     invalidating anything before it;
    *   - `dataChange:false` commits (compaction, metadata) contribute
    *     nothing.
    *
    * Removed and cdc files are reclaimed by [[vacuum]] with their
    * manifests; a reclaimed range fails loud at scan time rather than
    * under-reporting. Scale: one manifest read per version driver-side
    * (metadata-scale), one parquet scan per contributing version —
    * consumers at 100 TB read feeds incrementally (small ranges), never
    * replay years in one call; ranges past
    * `spark.graft.changeFeed.maxUnionParts` (default 512) contributing
    * scans fail loud with paging guidance rather than building an
    * unplannable union. */
  def readChangeFeed(spark: SparkSession, root: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(fromVersion >= 0 && toVersion > fromVersion,
      s"readChangeFeed needs 0 <= fromVersion < toVersion, got ($fromVersion, $toVersion]")
    val schema = snapshot(spark, root, Some(toVersion)).schema
    // align a contributing frame to the target schema + feed columns:
    // columns a later version added read as null for earlier commits.
    // Matching is by PHYSICAL name where the schemas carry column
    // mapping — a column renamed inside the range keeps contributing
    // under the feed's (target-version) logical name.
    def aligned(df: DataFrame, v: Long, vJson: Option[String]): DataFrame = {
      val logicalForPhys: Map[String, String] = vJson.map { j =>
        DataType.fromJson(j).asInstanceOf[StructType].fields
          .map(f => physicalNameOf(f) -> f.name).toMap
      }.getOrElse(Map.empty)
      val have = df.columns.toSet
      df.select(schema.fields.toIndexedSeq.map { f =>
        val src = logicalForPhys.getOrElse(physicalNameOf(f), f.name)
        if (have(src)) qcol(src).as(f.name, stripMappingMeta(f.metadata))
        else lit(null).cast(f.dataType).as(f.name)
      } :+ col(ChangeTypeCol) :+ lit(v).as(CommitVersionCol): _*)
    }
    var prevSnap =
      if (fromVersion == 0) emptySnapshot(root) else snapshot(spark, root, Some(fromVersion))
    val parts = Seq.newBuilder[DataFrame]
    (fromVersion + 1 to toVersion).foreach { v =>
      val snap = snapshot(spark, root, Some(v))
      val (prevFiles, prevDvs) = (prevSnap.files, prevSnap.dvs)
      val files = snap.files
      val curDvs = snap.dvs
      if (snap.dataChange) {
        val vSchema = snap.schemaJson
        val vPartitioned = snap.partitionBy.isDefined
        val cdcRels = snap.cdcFiles
        if (cdcRels.nonEmpty) {
          // cdc files: full row + _change_type, written unpartitioned
          val cdcSchema = vSchema.map { j =>
            StructType(DataType.fromJson(j).asInstanceOf[StructType].fields :+
              org.apache.spark.sql.types.StructField(ChangeTypeCol,
                org.apache.spark.sql.types.StringType))
          }
          parts += aligned(
            readFiles(spark, root, cdcRels, cdcSchema.map(_.json), partitioned = false,
              s"change feed v$v"), v, vSchema)
        } else {
          val prev = prevFiles.toSet
          val cur = files.toSet
          val added = files.filterNot(prev)
          val removed = prevFiles.filterNot(cur)
          if (added.nonEmpty)
            parts += aligned(
              readFiles(spark, root, added, vSchema, vPartitioned, s"change feed v$v",
                dvs = curDvs)
                .withColumn(ChangeTypeCol, lit("insert")), v, vSchema)
          if (removed.nonEmpty)
            parts += aligned(
              readFiles(spark, root, removed, vSchema, vPartitioned, s"change feed v$v",
                dvs = prevDvs)
                .withColumn(ChangeTypeCol, lit("delete")), v, vSchema)
          // merge-on-read commits change a carried file's deletion vector
          // without touching the file list: synthesize EXACTLY the rows
          // whose position died (delete) or revived (insert — restore to a
          // smaller vector). Both endpoint blobs load driver-side (KB-MB
          // compact), the position delta re-serializes compact, and the
          // row lookup is a distributed semi-join on `_metadata.row_index`.
          files.filter(prev).filter(f => curDvs.get(f) != prevDvs.get(f)).foreach { f =>
            def posOf(e: Option[DvEntry]): Array[Long] =
              e.map(en => DeletionVectors.positions(loadDvBlob(spark, root, en)))
                .getOrElse(Array.empty[Long])
            val before = posOf(prevDvs.get(f))
            val after = posOf(curDvs.get(f))
            def rowsAt(posns: Array[Long], tag: String): DataFrame = {
              val ps = DeletionVectors.positionsDataset(spark, DeletionVectors.serialize(
                scala.collection.immutable.ArraySeq.unsafeWrapArray(posns)))
              readEntryGroups(spark, root, Seq(f), vSchema, vPartitioned, tagPos = true)
                .join(ps.withColumnRenamed("__graft_del_pos", "__pos"), Seq("__pos"),
                  "left_semi")
                .drop("__pos")
                .withColumn(ChangeTypeCol, lit(tag))
            }
            val died = diffPositions(after, before)
            val revived = diffPositions(before, after)
            if (died.nonEmpty) parts += aligned(rowsAt(died, "delete"), v, vSchema)
            if (revived.nonEmpty) parts += aligned(rowsAt(revived, "insert"), v, vSchema)
          }
        }
      }
      prevSnap = snap
    }
    val built = parts.result()
    // The feed plans ONE scan per contributing version — the right shape
    // for incremental consumption, but a years-long range would build an
    // unplannable N-way union (analyzer cost grows superlinearly in plan
    // width). Fail loud past the cap instead of silently degrading;
    // consumers with a genuinely huge range page it:
    //   (from, from+k], (from+k, from+2k], … — same rows, bounded plans.
    val maxParts = spark.conf.get("spark.graft.changeFeed.maxUnionParts", "512").toInt
    if (built.size > maxParts)
      throw new IllegalArgumentException(
        s"change feed ($fromVersion, $toVersion] spans ${built.size} contributing scans, " +
          s"over the $maxParts cap (spark.graft.changeFeed.maxUnionParts) — consume the " +
          "feed incrementally in smaller version ranges")
    if (built.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField(ChangeTypeCol,
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField(CommitVersionCol,
          org.apache.spark.sql.types.LongType, nullable = false))))
    else built.reduce(_ unionByName _)
  }

  /** The files commits `(fromVersion, toVersion]` NET-added — the
    * streaming source's per-batch file list ([[GraftStreamSource]]); the
    * same diff [[changesBetween]] reads row-level. Fails loud when a
    * data-changing commit in the range removed files (an append-only
    * stream cannot represent it — Delta's streaming source rejects
    * non-append changes the same way). */
  /** `skipChangeCommits` (Delta's streaming option of the same name):
    * instead of failing loud, a data-changing commit that REMOVED files
    * or CHANGED deletion vectors contributes nothing at all — its adds
    * are rewrites/updated rows, not appends. The consumer has explicitly
    * opted out of seeing row changes; pure-append commits still serve. */
  private[graft] def addedRelsBetween(spark: SparkSession, root: String,
      fromVersion: Long, toVersion: Long,
      skipChangeCommits: Boolean = false): Seq[String] =
    netFileChanges(spark, root, fromVersion, toVersion, allowRemoves = false,
      skipChangeCommits = skipChangeCommits)._1

  /** File-level net change computation shared by [[changesBetween]] and
    * [[addedRelsBetween]]: signed add/remove counts per file over the
    * range (in-range churn cancels), `dataChange:false` commits
    * contribute nothing. Returns (netAdded, netRemoved, toVersion's
    * snapshot, the partition layouts seen over the range,
    * fromVersion's deletion vectors — net-removed files read under
    * them). Any deletion-vector CHANGE inside the range fails loud in
    * both modes: it removes (or revives) rows without touching the file
    * list, which a file-level diff cannot represent —
    * [[readChangeFeed]] is the row-exact consumer for such ranges. */
  private def netFileChanges(spark: SparkSession, root: String,
      fromVersion: Long, toVersion: Long, allowRemoves: Boolean,
      skipChangeCommits: Boolean = false)
      : (Seq[String], Seq[String], Snapshot, Set[Seq[String]], FileDvs) = {
    require(0 <= fromVersion && fromVersion <= toVersion,
      s"need 0 <= fromVersion <= toVersion, got ($fromVersion, $toVersion]")
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    require(toVersion <= cur, s"toVersion $toVersion is beyond the latest commit v$cur")
    val from =
      if (fromVersion == 0) emptySnapshot(root) else snapshot(spark, root, Some(fromVersion))
    var prev: Set[String] = from.files.toSet
    var prevDvs: FileDvs = from.dvs
    // NET add/remove count per file over the range. A file added then
    // removed inside the range (merge rewrite churn, restore ping-pong)
    // nets to 0 and is skipped — its rows both appeared and disappeared,
    // so a fold must not see either side. Restores can re-add a path, so
    // this is a signed count, not two sets.
    val net = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val layouts = scala.collection.mutable.Set.empty[Seq[String]]
    if (fromVersion > 0) layouts += from.layout
    var to = from
    ((fromVersion + 1) to toVersion).foreach { v =>
      val snap = snapshot(spark, root, Some(v))
      to = snap
      layouts += snap.layout
      val files = snap.files
      val curDvs = snap.dvs
      if (snap.dataChange) {
        // a deletion-vector change on a carried file removed (or, under
        // restore, revived) ROWS without touching the file list — a
        // file-level diff cannot represent it in either mode; the
        // row-exact consumer is readChangeFeed, which synthesizes from
        // the vector delta
        val dvChanged = files.filter(prev).filter(f => curDvs.get(f) != prevDvs.get(f))
        val removed0 = prev -- files.toSet
        if (skipChangeCommits && (dvChanged.nonEmpty || removed0.nonEmpty)) {
          // opted out: this commit's adds are rewrites/updated rows —
          // contribute nothing, keep walking
          prev = files.toSet
          prevDvs = curDvs
        } else {
        if (dvChanged.nonEmpty) throw new IllegalStateException(
          s"version $v of $root changed the deletion vector of ${dvChanged.size} " +
            "carried file(s) (merge-on-read delete/update) — a file-level diff cannot " +
            "represent row-level invalidation; use readChangeFeed for this range, or " +
            "re-derive downstream state from a full read of the new snapshot")
        val removed = prev -- files.toSet
        if (removed.nonEmpty && !allowRemoves) throw new IllegalStateException(
          // a data-changing commit that REMOVED files (overwrite /
          // replaceWhere / delete / merge) dropped rows an add-only diff
          // cannot represent; folding just its additions would silently
          // double-count — fail loud like the vacuumed-manifest case
          // (Delta's streaming source rejects non-append changes the same
          // way). Compaction removals never reach this branch
          // (dataChange:false). Pass includeRemoves=true for a diff that
          // carries both sides tagged with _change_type.
          s"version $v of $root removed ${removed.size} file(s) (overwrite/replaceWhere/" +
            "delete/merge) — an incremental (add-only) read over this range would " +
            "misrepresent the table; pass includeRemoves=true to fold removals, or " +
            "re-derive downstream state from a full read of the new snapshot")
        files.filterNot(prev).foreach(f => net.updateWith(f) { c => Some(c.getOrElse(0) + 1) })
        removed.foreach(f => net.updateWith(f) { c => Some(c.getOrElse(0) - 1) })
        }
      }
      prev = files.toSet
      prevDvs = curDvs
    }
    // remove + re-add across versions dodges the per-version carried-file
    // check above (the re-add sees the file absent from `prev`), and a
    // restore can re-add a path under a DIFFERENT vector: a net-zero file
    // whose endpoint vectors differ changed rows invisibly to the file
    // diff — same failure, caught at the endpoints
    val netZeroChanged = net.collect {
      case (f, 0) if !skipChangeCommits && from.dvs.get(f) != to.dvs.get(f) => f
    }
    if (netZeroChanged.nonEmpty) throw new IllegalStateException(
      s"($fromVersion, $toVersion] of $root re-added ${netZeroChanged.size} file(s) under " +
        "a different deletion vector (restore?) — a file-level diff cannot represent " +
        "row-level invalidation; use readChangeFeed for this range, or re-derive " +
        "downstream state from a full read of the new snapshot")
    // toVersion's snapshot rides along so callers read with ITS
    // schema/layout: columns added by evolution in the range surface
    // (null for files written before the add)
    (net.collect { case (f, n) if n > 0 => f }.toSeq,
      net.collect { case (f, n) if n < 0 => f }.toSeq,
      to, layouts.toSet, from.dvs)
  }

  // ------------------------------------------------ partition-value logic

  private val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Undo Spark's `%XX` path escaping of partition dir names. */
  private def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try { sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Partition values of a committed file, parsed from its relative path
    * (`data/c1=v1/c2=v2/<file>`), in `partCols` order; None = hive null. */
  private def parsePartitionValues(rel: String, partCols: Seq[String]): Seq[Option[String]] = {
    val segs = rel.split('/')
    // local entries are `data/<k=v dirs>/file`; absolute (shallow-clone)
    // entries carry an arbitrary source prefix — the partition dirs are
    // always the LAST partCols.length directory segments, and the k==c
    // name check below still validates every one of them
    val dirs =
      if (isAbsEntry(rel)) segs.dropRight(1).takeRight(partCols.length)
      else segs.drop(1).dropRight(1)
    require(dirs.length == partCols.length,
      s"committed file $rel does not match partition layout [${partCols.mkString(",")}]")
    partCols.zip(dirs.toSeq).map { case (c, seg) =>
      val eq = seg.indexOf('=')
      require(eq > 0, s"committed file $rel has a non-hive path segment '$seg'")
      val k = unescapePathName(seg.substring(0, eq))
      require(k == c, s"expected partition column $c at '$seg' in $rel")
      val v = unescapePathName(seg.substring(eq + 1))
      if (v == HiveDefaultPartition) None else Some(v)
    }
  }

  /** Files whose partition values satisfy `pred`, which must reference
    * partition columns only: the exact "whole partition matches" test
    * of [[replaceWhere]], metadata-only [[delete]] and keyed MERGE
    * localization, run by [[SkippingKernel.partitionMatches]] once per
    * distinct tuple — the data files themselves are never opened. */
  private def filesMatching(spark: SparkSession, files: Seq[String], partCols: Seq[String],
      schema: StructType, pred: Column): Set[String] = {
    val resolved = SkippingKernel.resolve(spark, pred, schema)
    require(resolved.references.forall(a => partCols.contains(a.name)),
      s"predicate $pred must reference partition columns [${partCols.mkString(",")}] only")
    SkippingKernel.partitionMatches[String](files, parsePartitionValues(_, partCols),
      partitionSchema(schema, partCols), resolved, sessionTz(spark)).toSet
  }

  // --------------------------------------------------------------- vacuum

  /** Reclaim storage: drop old manifests and delete any unreferenced
    * data/staging file OLDER than `minAgeMs`.
    *
    * Which versions are reclaimable: beyond the newest `keepVersions`,
    * AND — when `retentionMs` is set — only versions whose commit time
    * is older than `retentionMs` (Delta's `VACUUM … RETAIN n HOURS`
    * contract: a reader pinned to any version committed inside the
    * retention window stays safe). Commit times are the manifest
    * mtimes monotonized over version order (the same clock
    * [[versionAsOf]] resolves against), so a clock-skewed mtime can
    * never make a version look older than its predecessor and get
    * reclaimed while the predecessor survives. The newest version is
    * always kept regardless of age.
    *
    * The `minAgeMs` threshold is the concurrency guard (Delta's
    * retention check on FILES): a writer that has staged or moved files
    * into `data/` but not yet committed its manifest holds files that
    * are unreferenced-but-live — deleting them would let its imminent
    * commit publish a version that points at nothing. Files younger
    * than `minAgeMs` are therefore kept regardless of references; set
    * it comfortably above the longest stage→commit window (default
    * 10 min). `minAgeMs = 0` is for single-writer/test use only.
    * Returns the number of deleted data files. */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 1,
      minAgeMs: Long = 600000L, dryRun: Boolean = false,
      retentionMs: Option[Long] = None): Int = {
    require(keepVersions >= 1, "must keep at least the current version")
    require(retentionMs.forall(_ >= 0), "retentionMs must be >= 0")
    val fs = fsFor(spark, root)
    val base = root.stripSuffix("/")
    val cutoff = System.currentTimeMillis() - minAgeMs
    val withMtimes = {
      val dir = new Path(s"$base/$ManifestDir")
      if (!fs.exists(dir)) return 0
      fs.listStatus(dir).toSeq
        .flatMap(s => parseVersion(s.getPath.getName).map(v => (v, s.getModificationTime)))
        .sortBy(_._1)
    }
    val versions = withMtimes.map(_._1)
    val dropByCount = versions.dropRight(keepVersions).toSet
    val reclaimable = retentionMs match {
      case None => dropByCount
      case Some(ret) =>
        var runningMax = Long.MinValue
        val monotonized = withMtimes.map { case (v, t) =>
          runningMax = math.max(runningMax, t); (v, runningMax)
        }
        val cutT = System.currentTimeMillis() - ret
        dropByCount.intersect(monotonized.filter(_._2 < cutT).map(_._1).toSet)
    }
    val (drop, keep) = versions.partition(reclaimable)
    // one load per retained version: its data files, its change-data
    // files (referenced by exactly one manifest each) and its
    // root-relative `f`-storage deletion-vector files (absolute payloads
    // belong to a clone SOURCE and are never this root's to reclaim)
    val live, liveCdc, liveDv = scala.collection.mutable.HashSet.empty[String]
    keep.foreach { v =>
      val snap = snapshot(spark, base, Some(v))
      live ++= snap.files
      liveCdc ++= snap.cdcFiles
      liveDv ++= snap.dvs.values.collect {
        case e if e.storage == "f" && !isAbsEntry(e.payload) => e.payload
      }
    }
    // dryRun (Delta `VACUUM … DRY RUN`): count what WOULD be reclaimed,
    // touch nothing — manifests included
    if (!dryRun) drop.foreach { v =>
      fs.delete(manifestPath(base, v), false)
      fs.delete(checkpointPath(base, v), false) // derivative encoding goes with it
    }
    val dataDir = new Path(s"$base/$DataDir")
    val removed =
      if (!fs.exists(dataDir)) 0
      else {
        // recursive: partitioned tables keep files in hive subdirs
        val n = listFilesRecursive(fs, dataDir).count { st =>
          val rel = s"$DataDir/${relativeTo(dataDir, st.getPath)}"
          // a `.bloom` sidecar lives exactly as long as the data file it
          // indexes: live data keeps it, a vacuumed file releases it
          val anchor = if (rel.endsWith(".bloom")) rel.stripSuffix(".bloom") else rel
          !live.contains(anchor) && st.getModificationTime < cutoff &&
            (dryRun || fs.delete(st.getPath, false))
        }
        if (!dryRun) pruneEmptyDirs(fs, dataDir) // drop partition dirs emptied above
        n
      }
    // change-data files: reclaimable once their manifest is gone (the
    // feed over a vacuumed range fails loud anyway)
    val cdcDir = new Path(s"$base/$CdcDir")
    val removedCdc =
      if (!fs.exists(cdcDir)) 0
      else {
        listFilesRecursive(fs, cdcDir).count { st =>
          val rel = s"$CdcDir/${relativeTo(cdcDir, st.getPath)}"
          !liveCdc.contains(rel) && st.getModificationTime < cutoff &&
            (dryRun || fs.delete(st.getPath, false))
        }
      }
    // deletion-vector files: reclaimable once no retained manifest
    // references them (purged by compaction, or their manifests vacuumed
    // above)
    val dvDir = new Path(s"$base/$DvDir")
    val removedDv =
      if (!fs.exists(dvDir)) 0
      else {
        listFilesRecursive(fs, dvDir).count { st =>
          val rel = s"$DvDir/${relativeTo(dvDir, st.getPath)}"
          !liveDv.contains(rel) && st.getModificationTime < cutoff &&
            (dryRun || fs.delete(st.getPath, false))
        }
      }
    // staging scratch: only abandoned writer dirs. Age = the NEWEST mtime
    // in the scratch tree, not the dir's own — a directory's mtime stays
    // at creation while Spark writes into its _temporary subtree, so a
    // long in-flight stage would otherwise look abandoned mid-write.
    val stagingDir = new Path(s"$base/$StagingDir")
    if (!dryRun && fs.exists(stagingDir))
      fs.listStatus(stagingDir).toSeq
        .filter(st => newestMtime(fs, st.getPath) < cutoff)
        .foreach(st => fs.delete(st.getPath, true))
    removed + removedCdc + removedDv
  }

  /** FSCK REPAIR TABLE — drop manifest entries whose data files no
    * longer exist on storage (Delta's `FSCK REPAIR TABLE`): the recovery
    * verb for a table damaged by out-of-band deletion (a mis-scoped
    * lifecycle rule, a manual rm). Commits one new version without the
    * missing entries (their stats and deletion vectors fall away with
    * them); `dryRun` only counts. Existence checks are driver-side
    * metadata calls, one per listed file — the same order as the commit
    * itself. Returns the number of entries dropped (0 = nothing missing,
    * no commit). */
  def repair(spark: SparkSession, root: String, dryRun: Boolean = false): Int = {
    checkCommitScheme(spark, root)
    val hc = spark.sparkContext.hadoopConfiguration
    require(currentVersion(spark, root).isDefined, s"no committed version at $root")
    def missing(files: Seq[String]): Seq[String] = files.filter { rel =>
      val p = new Path(resolveEntry(root, rel))
      !p.getFileSystem(hc).exists(p)
    }
    if (dryRun) return missing(snapshot(spark, root).files).size
    var dropped = 0
    commitWith(spark, root) { snap =>
      val gone = missing(snap.files)
      dropped = gone.size
      if (gone.isEmpty) None
      else Some((snap.files.filterNot(gone.toSet), snap.txns,
        CommitMeta(snap.schemaJson, snap.partitionBy, stats = snap.stats -- gone,
          op = "fsck", constraints = snap.constraints)))
    }
    dropped
  }

  /** One-row table metadata — the back end of SQL `DESCRIBE DETAIL`
    * (Delta's command of the same name): location, current version,
    * file/byte counts (a driver-side stat per listed file — manifest
    * scale), partition layout, deletion-vector count, and properties. */
  def detail(spark: SparkSession, root: String): (Long, Long, Long, Seq[String], Long,
      Map[String, String]) = {
    val snap = snapshot(spark, root)
    require(snap.version.isDefined, s"no committed version at $root")
    val hc = spark.sparkContext.hadoopConfiguration
    val bytes = snap.files.map { rel =>
      val p = new Path(resolveEntry(root, rel))
      try p.getFileSystem(hc).getFileStatus(p).getLen catch { case _: java.io.IOException => 0L }
    }.sum
    (snap.version.get, snap.files.size.toLong, bytes,
      snap.layout, snap.dvs.size.toLong, snap.properties)
  }

  /** Remove now-empty subdirectories of `dir` (never `dir` itself);
    * returns whether `dir` ended up empty. */
  private def pruneEmptyDirs(fs: FileSystem, dir: Path): Boolean = {
    var empty = true
    fs.listStatus(dir).foreach { st =>
      if (st.isDirectory) {
        if (pruneEmptyDirs(fs, st.getPath)) fs.delete(st.getPath, false)
        else empty = false
      } else empty = false
    }
    empty
  }

  private def newestMtime(fs: FileSystem, p: Path): Long = {
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) st.getModificationTime
    else (st.getModificationTime +: fs.listStatus(p).toSeq.map(c => newestMtime(fs, c.getPath))).max
  }
}
