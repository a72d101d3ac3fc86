package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once, read-back artifacts: the registry's session stages,
  * Multimodal's oracle-read aHash stage and every `Curate` stage.
  *
  * A dir is REUSED when it holds `_SUCCESS` and a `_GRAFT_STAMP` equal
  * to the caller's stamp. Otherwise the build runs under a per-path
  * lock (concurrent first callers in this JVM build once) into a
  * `<dir>.tmp-<uuid>` sibling, which gets the stamp and then replaces
  * the old dir by delete + rename. A build that throws deletes its
  * sibling, so the target never holds a half-written artifact. The
  * stamp on disk is the whole cache state: a stamp that changes (an
  * input rewritten in place) re-stages, and no path map is kept. File
  * operations go through the path's Hadoop FileSystem, so
  * `spark.graft.stageDir` may name shared storage (HDFS/S3/...), which
  * a cluster needs: executors cannot read a driver-local /tmp.
  */
object Stage {
  private val locks = new ConcurrentHashMap[String, Object]()

  /** `dir`, holding `build`'s output under `stamp`; `build` gets the
    * tmp dir to write into. With `reuse = false` it always rebuilds.
    */
  def apply(s: SparkSession, dir: String, stamp: String,
      reuse: Boolean = true)(build: String => Unit): String = {
    val target = new Path(dir)
    val fs = rawFs(target, s.sparkContext.hadoopConfiguration)
    val stampFile = new Path(target, "_GRAFT_STAMP")
    locks.computeIfAbsent(fs.makeQualified(target).toString, _ => new Object)
      .synchronized {
        val current = reuse && fs.exists(new Path(target, "_SUCCESS")) &&
          fs.exists(stampFile) && read(fs, stampFile) == stamp
        if (!current) {
          val tmp = new Path(target.getParent,
            s"${target.getName}.tmp-${UUID.randomUUID()}")
          try {
            build(tmp.toString)
            val out = fs.create(new Path(tmp, "_GRAFT_STAMP"))
            try out.write(stamp.getBytes(UTF_8)) finally out.close()
            val success = new Path(tmp, "_SUCCESS")
            if (!fs.exists(success)) fs.create(success).close()
            fs.delete(target, true)
            if (!fs.rename(tmp, target))
              throw new java.io.IOException(s"cannot rename $tmp to $target")
          } finally fs.delete(tmp, true)
        }
      }
    dir
  }

  /** A session stage derived from the corpus dir `d`: its dir is
    * `<root>/<prefix>-<hash>`, the hash over (session id, prefix,
    * canonical path @ [[Tables.fingerprint]]), with the root
    * `spark.graft.stageDir` or the session's temp dir. The prefix names
    * the artifact and any parameters. The dir is deleted when the
    * session ends.
    */
  def sessionDir(s: SparkSession, prefix: String, d: String)(
      build: String => Unit): String = {
    val stamp = corpusStamp(d)
    apply(s, sessionOf(s).dir(s, prefix, stamp), stamp)(build)
  }

  /** [[sessionDir]] for a parquet artifact, read back. */
  def session(s: SparkSession, prefix: String, d: String)(
      df: => DataFrame): DataFrame =
    s.read.parquet(sessionDir(s, prefix, d)(df.write.parquet(_)))

  /** Canonical path @ listing fingerprint of a local corpus dir. */
  private[graft] def corpusStamp(d: String): String =
    new java.io.File(d).getCanonicalPath + "@" + Tables.fingerprint(d)

  /** The dirs one SparkContext's session stages live in; removes them
    * all when the application ends (`stop()` or Spark's shutdown hook).
    */
  private[graft] final class Session(conf: Configuration) extends SparkListener {
    private val id = UUID.randomUUID().toString
    private[graft] val tempRoot =
      java.nio.file.Files.createTempDirectory("graft-stage").toString
    private val created = ConcurrentHashMap.newKeySet[String]()

    def dir(s: SparkSession, prefix: String, stamp: String): String = {
      val root = s.conf.getOption("spark.graft.stageDir").getOrElse(tempRoot)
      val hash = UUID.nameUUIDFromBytes(s"$id|$prefix|$stamp".getBytes(UTF_8))
        .toString.replace("-", "").take(16)
      val d = s"$root/$prefix-$hash"
      created.add(d)
      d
    }

    override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
      sessions.values.remove(this)
      (created.toArray(Array.empty[String]) :+ tempRoot).foreach { d =>
        val p = new Path(d)
        p.getFileSystem(conf).delete(p, true)
      }
      created.clear()
    }
  }

  private val sessions =
    new ConcurrentHashMap[org.apache.spark.SparkContext, Session]()

  private def sessionOf(s: SparkSession): Session =
    sessions.computeIfAbsent(s.sparkContext, sc => {
      val sess = new Session(sc.hadoopConfiguration)
      sc.addSparkListener(sess)
      sess
    })

  // the raw local FS writes no `.crc` siblings, so a stamp edited by
  // other tools still reads back
  private def rawFs(p: Path, conf: Configuration): FileSystem =
    p.getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }

  private def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
}
