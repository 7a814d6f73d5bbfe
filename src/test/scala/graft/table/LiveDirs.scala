package graft.table

import org.apache.hadoop.fs.Path

/** A table's live segment directories, spelled as the table spells
  * them: what a plain-Spark read of the same data names.
  */
object LiveDirs {
  def of(t: SegmentedTable): Seq[String] =
    t.liveSegments.map(s => new Path(t.root, s"segment_${s.id}").toString)
}
