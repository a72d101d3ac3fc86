package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Path-level file pruning (SURVEY.md §2.6 O5/O6, §2.1 S9/A8): the
  * reference repeatedly lists an object-store prefix, sorts by key or
  * mtime, and keeps the newest N files (helius.py:31-32,
  * clean_data.py:301-303, streamlit 1.3.txt:26-39).
  *
  * In Spark this is metadata work, not a dataflow operator: the listing
  * happens once on the driver (exactly like Spark's own file index) and
  * only the surviving paths are handed to the scan — pruning before any
  * executor touches data, which is the property that matters at 100 TB.
  */
object FileCatalog {

  final case class FileMeta(path: String, mtime_ms: Long, bytes: Long)

  /** List a directory (non-recursive) with an optional suffix filter
    * (P8: extension predicate on listings).
    */
  def list(spark: SparkSession, dir: String, suffix: String = ""): Seq[FileMeta] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(suffix))
      .map(s => FileMeta(s.getPath.toString, s.getModificationTime, s.getLen))
  }

  /** O5: newest N paths by modification time (desc), name-desc tiebreak. */
  def newestN(spark: SparkSession, dir: String, n: Int, suffix: String = ""): Seq[String] =
    list(spark, dir, suffix)
      .sortBy(f => (-f.mtime_ms, f.path))(Ordering.Tuple2(Ordering.Long, Ordering.String.reverse))
      .take(n).map(_.path)

  /** S9/A8: the single newest file, if any. */
  def newestFile(spark: SparkSession, dir: String, suffix: String = ""): Option[String] =
    newestN(spark, dir, 1, suffix).headOption
}
