package graft.table

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitioningAwareFileIndex, PartitionSpec}
import org.apache.spark.sql.graftbridge.ColumnExpr
import org.apache.spark.sql.types.StructType

/** The files of a snapshot of one graft table, named by its catalog:
  * a Spark file index over (table root, the snapshot's segment
  * entries) whose leaf files come from each entry's recorded
  * [[SegmentMeta.files]], with no file-system call. This is the
  * reference's driver-side split planning from its own catalog
  * (`CarbonInputFormat.getSplits`) in the place Spark gives it: every
  * graft-built segment read, V1 and V2, scans through one of these,
  * and pruning narrows it to the surviving segments instead of
  * resolving a new relation.
  *
  * Contract, against a listing of the same segment dirs:
  *  - `rootPaths` are the segment dirs, qualified;
  *  - `sizeInBytes`, `inputFiles` and each file's path, length and
  *    modification time are what that listing gives. Leaf statuses
  *    carry no block locations, so on HDFS the scan's tasks get no
  *    locality hints;
  *  - two indexes are equal iff their qualified root and segment ids
  *    are, so a self-join of one snapshot keeps exchange and subquery
  *    reuse;
  *  - `refresh()` does nothing: a snapshot is immutable.
  *
  * An entry written before the catalog recorded files (`files = None`)
  * is listed, once per index, the first time the index's files are
  * asked for.
  */
final class GraftSnapshotFileIndex private[table] (
    val table: SegmentedTable, val metas: Seq[SegmentMeta])
  extends PartitioningAwareFileIndex(table.spark, Map.empty, None) {

  val root: Path = table.qualifiedRoot

  def ids: Seq[Int] = metas.map(_.id)

  /** The qualified directory of segment `id`. */
  def segmentDir(id: Int): Path = new Path(root, s"segment_$id")

  override val rootPaths: Seq[Path] = metas.map(m => segmentDir(m.id))

  private lazy val files: Seq[FileStatus] = metas.flatMap { m =>
    val dir = segmentDir(m.id)
    m.files.getOrElse(SegmentedTable.listSegment(dir)._2).map(f =>
      new FileStatus(f.length, false, 0, 0, f.mtime, leafPath(dir, f.path)))
  }

  /** `dir/rel` spelled as a listing spells it: a FileSystem qualifies
    * each listed path with an explicit, possibly empty, authority
    * (`file:///t/...`), which `input_file_name()` and `inputFiles` show.
    */
  private def leafPath(dir: Path, rel: String): Path = {
    val u = new Path(dir, rel).toUri
    new Path(new java.net.URI(u.getScheme, Option(u.getAuthority).getOrElse(""),
      u.getPath, null, null))
  }

  override def allFiles(): Seq[FileStatus] = files

  override protected lazy val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(files.map(f => f.getPath -> f): _*)

  override protected lazy val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    files.groupBy(_.getPath.getParent).map { case (d, fs) => d -> fs.toArray }

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec

  override def refresh(): Unit = ()

  /** The same snapshot restricted to `segs` (entries of this index). */
  def narrow(segs: Seq[SegmentMeta]): GraftSnapshotFileIndex =
    new GraftSnapshotFileIndex(table, segs)

  /** A Parquet relation over this index with `dataSchema`, resolved as
    * `spark.read.schema(dataSchema).parquet(<segment dirs>)` would be.
    */
  def relation(dataSchema: StructType): HadoopFsRelation =
    ColumnExpr.indexRelation(table.spark, this, dataSchema)

  override def equals(o: Any): Boolean = o match {
    case ix: GraftSnapshotFileIndex => root == ix.root && ids.toSet == ix.ids.toSet
    case _ => false
  }

  override def hashCode(): Int = (root, ids.toSet).hashCode()
}
