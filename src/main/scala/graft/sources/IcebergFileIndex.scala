package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** [[FileIndex]] over one Iceberg snapshot — ONE stock parquet scan
  * whose files are pruned at the index from the MANIFEST's per-file
  * facts, before any file opens (the [[SkippingKernel]] over
  * [[IcebergEntryFacts]]: identity partition values, Appendix-D
  * bounds, null counts, bucket/truncate/temporal transform values).
  *
  * The partition schema is EMPTY on purpose: Iceberg data files carry
  * every column (identity-partitioned ones included), so all columns
  * read from the files and every filter reaches [[listFiles]] as a data
  * filter. Pruning is sound-only: any bound we cannot decode or compare
  * keeps the file.
  *
  * Two modes:
  *
  *   - EAGER (a materialized [[IcebergTable.IcebergSnapshot]]): one
  *     in-memory entry per live file, driver-side pruning — the shape
  *     for delete-carrying snapshots and bounded tables;
  *   - LAZY (a [[IcebergTable.LazyIcebergSnapshot]]): the
  *     manifests stay UNREAD until [[listFiles]], which ships the
  *     pushed filters + the same kernel to EXECUTORS — each task
  *     parses its manifests and evaluates may-contain per entry, the
  *     driver collects only survivors, and their [[FileStatus]]es
  *     synthesize from the manifest-declared `file_size_in_bytes`
  *     (zero per-file RPCs). At a million files this is the difference
  *     between O(table) and O(survivors) driver heap — the
  *     [[DeltaFileIndex]] lazy shape, for the Avro-manifest format. */
final class IcebergFileIndex private (spark: SparkSession, root: String,
    tableSchema: StructType, partitionFields: Seq[IcebergTable.PartitionField],
    source: Either[Seq[IcebergTable.DataFileEntry], IcebergTable.LazyIcebergSnapshot],
    partSchema: StructType) extends FileIndex {

  def this(spark: SparkSession, root: String, snap: IcebergTable.IcebergSnapshot,
      partSchema: StructType = new StructType()) =
    this(spark, root, snap.schema, snap.partitionFields, Left(snap.dataFiles), partSchema)

  def this(spark: SparkSession, root: String, ls: IcebergTable.LazyIcebergSnapshot,
      lazyPartSchema: StructType) =
    this(spark, root, ls.schema, ls.partitionFields, Right(ls), lazyPartSchema)

  import IcebergTable.DataFileEntry

  /** Non-empty only for hive-style layouts whose files LACK the
    * identity-partitioned columns (graft mirrors, migrated tables) —
    * their values are served typed from the manifest. Iceberg-written
    * files carry every column, so this is empty and all filters arrive
    * as data filters. */
  override val partitionSchema: StructType = partSchema
  val dataSchema: StructType =
    StructType(tableSchema.filterNot(f => partSchema.fieldNames.contains(f.name)))

  /** Declared column order, for [[graft.plans.DeclaredOrderRule]]. */
  def declaredFieldOrder: Seq[String] = tableSchema.fieldNames.toIndexedSeq

  private val facts = new IcebergEntryFacts(tableSchema, partitionFields)

  override def rootPaths: Seq[Path] = Seq(new Path(root.stripSuffix("/")))
  override def refresh(): Unit = ()

  /** LAZY note: materializes the listing (stats maps elided) — the one
    * API whose contract IS the full list; scans don't call it. */
  override def inputFiles: Array[String] = (source match {
    case Left(files) => files
    case Right(ls) => IcebergTable.pruneDataManifests(spark, ls, Nil, withStats = false)
  }).map(_.path).toArray

  override lazy val sizeInBytes: Long = source match {
    case Left(_) => eagerStatusOf.values.map(_.getLen).sum
    case Right(ls) => IcebergTable.lazySizeInBytes(spark, ls)
  }

  // one listStatus per distinct parent dir (same cost any hive listing pays)
  private lazy val eagerStatusOf: Map[String, FileStatus] =
    listedStatusOf(source.swap.getOrElse(Nil))

  private def listedStatusOf(files: Seq[DataFileEntry]): Map[String, FileStatus] = {
    files.map(_.path).groupBy(p => p.substring(0, p.lastIndexOf('/')))
      .flatMap { case (dir, inDir) =>
        val d = new Path(dir)
        val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val listed = fs.listStatus(d).map(st => st.getPath.getName -> st).toMap
        inDir.map { p =>
          val name = p.substring(p.lastIndexOf('/') + 1)
          p -> listed.getOrElse(name, throw new IllegalStateException(
            s"file $p is live in the snapshot but missing on disk (expired?)"))
        }
      }
  }

  /** Statuses for ONE listing's survivors: eager keeps the validated
    * full-table map; lazy synthesizes from the manifest-declared
    * `file_size_in_bytes` (spec-required) — zero per-file RPCs; entries
    * without it (nonconforming writers) fall back to a listStatus. */
  private def statusFor(files: Seq[DataFileEntry]): Map[String, FileStatus] =
    source match {
      case Left(_) => eagerStatusOf
      case Right(_) =>
        val (sized, unsized) = files.partition(_.sizeBytes >= 0)
        sized.map(e => e.path ->
          new FileStatus(e.sizeBytes, false, 1, 0, 0L, new Path(e.path))).toMap ++
          listedStatusOf(unsized)
    }

  /** The manifest's typed partition value for `f` on `e`, in Catalyst
    * internal form (Avro already hands dates as epoch days and
    * timestamps as micros; only strings need wrapping). */
  private def internalPartValue(e: DataFileEntry, name: String): Any =
    facts.identityFieldOf.get(name).flatMap(e.partition.get).map {
      case s: String => UTF8String.fromString(s)
      case o => o
    }.orNull

  private def partTuple(e: DataFileEntry): Seq[Any] =
    partSchema.fields.map { f =>
      // the synthetic data-sequence-number column rides the partition
      // channel too — straight from the manifest entry, no data read
      if (f.name == IcebergTable.SeqColName) java.lang.Long.valueOf(e.seq)
      else internalPartValue(e, f.name)
    }.toSeq

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // partition values ride the same kernel: an identity value IS an
    // exact (min = max) bound, so both filter lists prune files before
    // any opens
    val filters = partitionFilters ++ dataFilters
    val survivors = source match {
      case Left(files) =>
        val kernel = SkippingKernel(filters)
        files.filter(e => kernel.mayMatch(facts(e)))
      case Right(ls) =>
        // executors parse + prune with the same kernel and adapter
        IcebergTable.pruneDataManifests(spark, ls, filters, withStats = true)
    }
    val statuses = statusFor(survivors)
    if (partSchema.isEmpty)
      Seq(PartitionDirectory(InternalRow.empty, survivors.map(e => statuses(e.path)).toArray))
    else survivors.groupBy(partTuple).toSeq.map { case (vals, group) =>
      PartitionDirectory(InternalRow.fromSeq(vals),
        group.map(e => statuses(e.path)).toArray)
    }
  }
}
