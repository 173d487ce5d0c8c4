package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** [[org.apache.spark.sql.execution.datasources.FileIndex]] over one
  * committed [[ManifestTable]] version — the same integration shape Delta
  * Lake uses for its Spark reads (a log-backed file index under the stock
  * parquet `FileFormat`). Spark's `FileSourceStrategy` hands `listFiles`
  * the pushed-down partition and data filters, and the index answers from
  * the MANIFEST: partition values parsed from committed paths, per-file
  * column (min, max) stats. Pruning therefore happens before the scan
  * opens anything, while the vectorized parquet reader, column pruning,
  * and whole-stage codegen stay exactly what `spark.read.parquet` gets.
  * The reference reaches the equivalent path through `format("delta")`
  * (pipeline/airflow/dags/load_data_task.py:147).
  *
  * Scale shape: the index serves one loaded [[ManifestTable.Snapshot]]
  * (the caller's — it reads no manifest itself); `listFiles` does one
  * `listStatus` per distinct data directory (what any hive-layout listing
  * pays) and zero data-file opens; partition filters are evaluated once
  * per DISTINCT partition tuple, not per file.
  *
  * `onlyRels` restricts the index to a file subset — the streaming
  * source's per-batch increments ride the same scan path.
  */
final class GraftFileIndex(spark: SparkSession, state: ManifestTable.Snapshot,
    onlyRels: Option[Seq[String]] = None)
  extends FileIndex {

  private val root = state.root
  private val rels: Seq[String] = onlyRels.getOrElse(state.files)
  private val base = root.stripSuffix("/")

  override val partitionSchema: StructType =
    StructType(state.layout.map(c => state.schema(c)))

  /** The non-partition columns, in declared order — what the relation
    * reads from the files themselves. */
  val dataSchema: StructType =
    StructType(state.schema.filterNot(f => state.layout.contains(f.name)))

  /** The manifest's full declared column order — [[graft.plans.DeclaredOrderRule]]
    * projects relations back to it (the V1 file-source convention puts
    * partition columns last, which diverges from the declared order
    * whenever a partition column is not declared last). */
  def declaredFieldOrder: Seq[String] = state.schema.fieldNames.toIndexedSeq

  override def rootPaths: Seq[Path] = Seq(new Path(base))
  override def refresh(): Unit = ()
  override def inputFiles: Array[String] =
    rels.map(ManifestTable.resolveEntry(root, _)).toArray
  override lazy val sizeInBytes: Long = statusOf.values.map(_.getLen).sum

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val survivors = ManifestTable.pruneFiles(spark, root, rels, state.schema,
      state.layout, state.stats, state.properties, partitionFilters ++ dataFilters)
    if (state.layout.isEmpty)
      Seq(PartitionDirectory(InternalRow.empty, survivors.map(statusOf).toArray))
    else survivors.groupBy(r => ManifestTable.partitionValuesOf(r, state.layout))
      .toSeq.map { case (vals, group) =>
        PartitionDirectory(SkippingKernel.partitionRow(vals, partitionSchema, tz),
          group.map(statusOf).toArray)
      }
  }

  // one listStatus per distinct data dir; the statuses carry the lengths
  // split planning and sizeInBytes need
  private lazy val statusOf: Map[String, FileStatus] = {
    rels.groupBy(parentOf).flatMap { case (dirRel, inDir) =>
      // absolute (shallow-clone) entries list their own parent dir on its
      // own filesystem; local entries resolve under the table root
      val dir = new Path(
        if (dirRel.isEmpty) base
        else if (ManifestTable.isAbsEntry(dirRel)) dirRel
        else s"$base/$dirRel")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val listed = fs.listStatus(dir).map(st => st.getPath.getName -> st).toMap
      inDir.map { rel =>
        val name = rel.substring(rel.lastIndexOf('/') + 1)
        rel -> listed.getOrElse(name, throw new IllegalStateException(
          s"file $rel is committed at v${state.committed} of $root but missing on disk " +
            "(vacuumed with the version still live?)"))
      }
    }
  }

  private def parentOf(rel: String): String = rel.lastIndexOf('/') match {
    case -1 => ""
    case i => rel.substring(0, i)
  }

  private val tz = spark.conf.get("spark.sql.session.timeZone")
}
