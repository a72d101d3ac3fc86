package graft.tools

import graft.sources.FileCatalog
import org.apache.spark.sql.SparkSession

/** Small-file compaction for staged parquet directories — the ops
  * complement of the engine's write-a-stage/read-it-back design
  * (Curate stages, streaming sinks). Streaming appends and
  * fine-grained micro-batches accrete many small files; at cluster
  * scale every downstream scan then pays a task per file and the
  * NameNode/listing layer pays per entry. Compaction rewrites a
  * directory to ceil(totalBytes / targetBytes) files.
  *
  * Semantics and safety:
  *   - content-preserving: the rewrite is a plain read→repartition→
  *     write of the same rows, checked before the swap by row count
  *     AND an order-independent row-multiset hash (sum of xxhash64
  *     over the full row struct), so a rewrite that drops one row and
  *     duplicates another cannot pass;
  *   - the rewrite goes to `<dir>.compact.tmp` first; the swap is
  *     rename-aside, never delete-then-rename: `dir` → `dir.compact.old`,
  *     `tmp` → `dir`, then delete `.old`. Data is never at risk — every
  *     crash point leaves at least one verified full copy on disk —
  *     but there IS one narrow missing-dir window: a crash between the
  *     two renames leaves `dir` absent with the original parked at
  *     `.compact.old` (and the verified rewrite still at `.tmp`).
  *     `run` self-recovers from that state on its next invocation
  *     (dir absent + `.old` present → rename `.old` back before
  *     proceeding), so no manual surgery is ever needed;
  *   - `repartition(n)` (round-robin), not `coalesce(n)`: coalesce
  *     chains upstream partitioning into as-few-tasks-as-files and
  *     produces skewed files when input files are skewed — compaction
  *     is precisely the moment to pay one shuffle for even output.
  *
  * Returns (filesBefore, filesAfter, rows).
  */
object Compact {

  /** Both integrity facts in one pass: row count + an order-independent
    * multiset hash (sum of xxhash64 over the full row struct, widened
    * to decimal(38,0) so the sum cannot overflow under ANSI mode at
    * any realistic row count). Order-independent by construction (sum
    * commutes), content-sensitive per row (xxhash64 of every column) —
    * a rewrite that drops one row and duplicates another keeps the
    * count but changes the sum. Property-tested in ExtensionsSpec.
    */
  def digest(d: org.apache.spark.sql.DataFrame): (Long, java.math.BigDecimal) = {
    import org.apache.spark.sql.functions.{coalesce, count, lit, struct, sum, xxhash64}
    val r = d.agg(count(lit(1)).as("n"),
      coalesce(sum(xxhash64(struct(d.columns.map(d.col): _*))
        .cast("decimal(38,0)")), lit(java.math.BigDecimal.ZERO)).as("h"))
      .head()
    (r.getLong(0), r.getDecimal(1))
  }

  def run(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int, Long) = {
    // startup recovery: a crash between the swap's two renames leaves
    // `dir` absent with the original parked at `.compact.old`; without
    // this, spark.read.parquet(dir) below would fail before the
    // stale-.old handling ever ran and recovery would be manual.
    locally {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
      val dirPath = new org.apache.hadoop.fs.Path(dir)
      val oldPath = new org.apache.hadoop.fs.Path(
        dir.stripSuffix("/") + ".compact.old")
      if (!fs.exists(dirPath) && fs.exists(oldPath)) {
        require(fs.rename(oldPath, dirPath),
          s"crash recovery rename $oldPath -> $dir failed")
      }
    }
    val files = FileCatalog.list(spark, dir, suffix = ".parquet")
    require(files.nonEmpty, s"no parquet files under $dir")
    val totalBytes = files.map(_.bytes).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(dir)
    val (rows, hash) = digest(df)
    val tmp = dir.stripSuffix("/") + ".compact.tmp"
    df.repartition(n).write.mode("overwrite").parquet(tmp)
    val (rewritten, rewrittenHash) = digest(spark.read.parquet(tmp))
    require(rewritten == rows && rewrittenHash.compareTo(hash) == 0,
      s"compaction content mismatch: ($rows, $hash) read, " +
        s"($rewritten, $rewrittenHash) rewritten — " +
        s"original left untouched at $dir, rewrite at $tmp")
    // rename-aside swap: park the original, promote the verified
    // rewrite, then drop the parked copy. `dir` is never absent.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tmp), spark.sparkContext.hadoopConfiguration)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val oldPath = new org.apache.hadoop.fs.Path(
      dir.stripSuffix("/") + ".compact.old")
    if (fs.exists(oldPath)) fs.delete(oldPath, true) // stale prior run
    require(fs.rename(dirPath, oldPath),
      s"rename $dir -> $oldPath failed — original untouched")
    if (!fs.rename(tmpPath, dirPath)) {
      // restore the original so readers never see a missing dir
      fs.rename(oldPath, dirPath)
      sys.error(s"rename $tmp -> $dir failed — original restored")
    }
    fs.delete(oldPath, true)
    val after = FileCatalog.list(spark, dir, suffix = ".parquet").size
    (files.size, after, rows)
  }

  /** Usage: Compact <dir> [targetMiB=128] */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Compact <dir> [targetMiB]")
    val spark = graft.GraftSession.local("graft-compact")
    val target = if (args.length > 1) args(1).toLong * 1024 * 1024
      else 128L * 1024 * 1024
    val (before, after, rows) = run(spark, args(0), target)
    println(s"""{"dir":"${args(0)}","files_before":$before,"files_after":$after,"rows":$rows}""")
    spark.stop()
  }
}
