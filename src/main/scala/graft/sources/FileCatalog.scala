package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Path-level file listing (SURVEY.md §2.6 O6): the reference
  * repeatedly lists an object-store prefix and filters it by extension
  * (helius.py:31-32, clean_data.py:301-303, streamlit 1.3.txt:26-39).
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
}
