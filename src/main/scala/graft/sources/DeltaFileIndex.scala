package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** [[FileIndex]] over one Delta snapshot — the batch face of
  * `format("graft-delta")`, mirroring [[GraftFileIndex]]'s shape: ONE
  * stock parquet scan whose partition values come from the LOG's
  * `partitionValues` (the protocol's source of truth, never directory
  * names), with partition filters evaluated completely through
  * Catalyst's interpreted predicate before any file opens. Compared to
  * [[DeltaLake.read]]'s per-partition-tuple union of literal-tagged
  * scans, this is the shape that holds at thousands of partitions: the
  * planner sees one relation, prunes at the index, and the vectorized
  * reader / column pruning / codegen stay stock.
  *
  * Two modes:
  *
  *   - EAGER (a materialized [[DeltaLake.DeltaSnapshot]]): the full add
  *     list is driver-resident; the [[SkippingKernel]] prunes it
  *     driver-side.
  *   - LAZY (a [[DeltaLake.LazySnapshot]]): the checkpoint's adds stay
  *     in the checkpoint parquet; EXECUTORS run the same
  *     [[SkippingKernel]] over the checkpoint rows — the driver ever
  *     holds only survivors (plus the small JSON tail), and their
  *     [[FileStatus]]es synthesize from the log's
  *     `size`/`modificationTime`, zero per-file RPCs. This is
  *     [[ManifestTable.checkpointPrune]]'s shape ported to the foreign
  *     lake the reference's silver actually is.
  *
  * Column-mapped and deletion-vectored snapshots are NOT representable
  * here (physical-name translation and row-level anti-joins don't fit a
  * file index) — callers route those through [[DeltaLake.read]];
  * [[DeltaLake.lazySnapshot]] already falls back to eager for them. */
final class DeltaFileIndex private (spark: SparkSession, root: String,
    version: Long, tableSchema: StructType, partitionColumns: Seq[String],
    source: Either[Seq[DeltaLake.AddEntry], DeltaLake.LazySnapshot]) extends FileIndex {

  def this(spark: SparkSession, root: String, snap: DeltaLake.DeltaSnapshot) = {
    this(spark, root, snap.version, snap.schema, snap.partitionColumns, Left(snap.files))
    require(!snap.columnMapping,
      s"column-mapped Delta table at $root cannot ride the file-index scan — use DeltaLake.read")
    require(snap.files.forall(_.dv.isEmpty),
      s"Delta table at $root carries deletion vectors — use DeltaLake.read, which honors them")
  }

  def this(spark: SparkSession, root: String, ls: DeltaLake.LazySnapshot) =
    this(spark, root, ls.version, ls.schema, ls.partitionColumns, Right(ls))

  private val base = root.stripSuffix("/")

  override val partitionSchema: StructType =
    StructType(partitionColumns.map(c => tableSchema(c)))

  /** Non-partition columns in declared order — read from the files. */
  val dataSchema: StructType =
    StructType(tableSchema.filterNot(f => partitionColumns.contains(f.name)))

  /** Declared column order, for [[graft.plans.DeclaredOrderRule]]. */
  def declaredFieldOrder: Seq[String] = tableSchema.fieldNames.toIndexedSeq

  private def abs(p: String): String =
    if (p.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*") || p.startsWith("/")) p else s"$base/$p"

  override def rootPaths: Seq[Path] = Seq(new Path(base))
  override def refresh(): Unit = ()

  /** LAZY note: materializes the path list (strings only, never stats) —
    * the one API whose contract IS the full list; scans don't call it. */
  override def inputFiles: Array[String] =
    allEntries.map(f => abs(f.path)).toArray

  /** Every live entry — eager's list, or lazy's unpruned listing (stats
    * payload elided) with the JSON tail overlaid. */
  private def allEntries: Seq[DeltaLake.AddEntry] = source match {
    case Left(files) => files
    case Right(ls) =>
      DeltaLake.pruneCheckpointAdds(spark, ls, Nil)
        .filterNot(e => ls.tailMasked(e.path)) ++ ls.tailLive
  }

  override lazy val sizeInBytes: Long = source match {
    case Left(_) => eagerStatusOf.values.map(_.getLen).sum
    case Right(ls) => DeltaLake.lazySizeInBytes(spark, ls)
  }

  // one listStatus per distinct parent dir, as any hive listing pays
  private lazy val eagerStatusOf: Map[String, FileStatus] =
    listedStatusOf(source.swap.getOrElse(Nil))

  private def listedStatusOf(files: Seq[DeltaLake.AddEntry]): Map[String, FileStatus] = {
    files.map(_.path).groupBy(p => abs(p).substring(0, abs(p).lastIndexOf('/')))
      .flatMap { case (dir, inDir) =>
        val d = new Path(dir)
        val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val listed = fs.listStatus(d).map(st => st.getPath.getName -> st).toMap
        inDir.map { rel =>
          val name = rel.substring(rel.lastIndexOf('/') + 1)
          rel -> listed.getOrElse(name, throw new IllegalStateException(
            s"file $rel is live at v$version of $root but missing on disk (vacuumed?)"))
        }
      }
  }

  /** Statuses for ONE listing's survivors: eager keeps the validated
    * full-table listStatus map; lazy synthesizes from the log's
    * `size`/`modificationTime` (protocol-required on every add) so a
    * pruned scan issues ZERO per-file filesystem RPCs — entries missing
    * them (nonconforming writers) fall back to a listStatus. */
  private def statusFor(files: Seq[DeltaLake.AddEntry]): Map[String, FileStatus] =
    source match {
      case Left(_) => eagerStatusOf
      case Right(_) =>
        val (sized, unsized) = files.partition(_.size.isDefined)
        sized.map(e => e.path -> new FileStatus(e.size.get, false, 1, 0,
          e.modificationTime.getOrElse(0L), new Path(abs(e.path)))).toMap ++
          listedStatusOf(unsized)
    }

  private val tz = spark.conf.get("spark.sql.session.timeZone")

  private def tupleOf(e: DeltaLake.AddEntry): Seq[Option[String]] =
    partitionColumns.map(c => e.partitionValues.getOrElse(c, None))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // the skipping kernel over add stats and partition values: eager
    // entries on the driver, lazy checkpoint adds on executors (the JSON
    // tail on the driver); the complete partition-tuple evaluation then
    // catches partition shapes the kernel cannot read
    val filters = partitionFilters ++ dataFilters
    val kernel = SkippingKernel(filters)
    val facts = new DeltaLake.AddFacts(tableSchema, partitionColumns, tz)
    def keep(e: DeltaLake.AddEntry): Boolean = kernel.mayMatch(facts(e))
    val candidates: Seq[DeltaLake.AddEntry] = source match {
      case Left(files) => files.filter(keep)
      case Right(ls) =>
        DeltaLake.pruneCheckpointAdds(spark, ls, filters)
          .filterNot(e => ls.tailMasked(e.path)) ++ ls.tailLive.filter(keep)
    }
    val survivors = SkippingKernel.partitionConjuncts(partitionFilters, partitionColumns) match {
      case Some(p) => SkippingKernel.partitionMatches(candidates, tupleOf, partitionSchema, p, tz)
      case None => candidates
    }
    val statuses = statusFor(survivors)
    if (partitionColumns.isEmpty)
      Seq(PartitionDirectory(InternalRow.empty, survivors.map(e => statuses(e.path)).toArray))
    else survivors.groupBy(tupleOf).toSeq.map { case (vals, group) =>
      PartitionDirectory(SkippingKernel.partitionRow(vals, partitionSchema, tz),
        group.map(e => statuses(e.path)).toArray)
    }
  }
}
