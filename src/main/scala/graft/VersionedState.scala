package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max_by, struct}
import org.apache.spark.sql.types.StructType

/** The versioned on-disk store of one persistent state dir: the cluster
  * state of [[graft.operators.Dedup]], the token state of
  * [[graft.operators.TextAnalysis]], the semantic state of
  * [[graft.operators.Similarity]] and the media state of
  * [[graft.operators.Multimodal]]. Each family keeps only its own delta
  * logic; the format, the commit and the compaction live here.
  *
  * Every table keeps one parquet dir per version, `<table>_v<n>`. The
  * pointer ([[StateFiles]]) holds `"<latest> <base>"`: `base` is a full
  * version, every version above it a delta, and reads resolve only
  * base..latest. [[commit]] writes all of a version's dirs before the
  * pointer flips, so a crash before the flip leaves orphan dirs that no
  * reader resolves, and the replayed batch (derived from the committed
  * state) overwrites them with the same version. Compaction is pure
  * addition: a new full version and a flip, then versions below the
  * PREVIOUS base are garbage-collected, so a reader that resolved the
  * pointer since the previous compaction still finds its versions.
  *
  * A dir with no pointer is the EMPTY store: every table reads as an
  * empty `LocalRelation` of its declared schema, so a family's first
  * sync runs the same update as every later one (Catalyst's
  * empty-relation pruning drops the anti-joins against it), and its
  * first commit becomes the base.
  *
  * `massTable` drives the mass rule of the compaction (no mass rule
  * without it); `marker` is a `(file, content)` stamp written before
  * the first flip and required on every pointer resolution, so a dir of
  * another layout fails loudly instead of deep inside a parquet read.
  */
private[graft] final class VersionedState(dir: String,
    tables: Seq[VersionedState.Table], massTable: Option[String] = None,
    marker: Option[(String, String)] = None) {
  import VersionedState._

  def initialized: Boolean = StateFiles.hasPointer(dir)

  /** `(latest, base)`; `(0, 0)` before the first commit. */
  def versions: (Int, Int) = {
    marker.foreach { case (file, content) =>
      StateFiles.requireMeta(dir, file, content)
    }
    StateFiles.readPointer(dir)
  }

  def path(table: String, v: Int): String = s"$dir/${table}_v$v"

  private def spec(name: String): Table =
    tables.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no table $name in $dir"))

  /** Versions `vs` of `t`, read with the declared schema: no footer
    * job to infer it.
    */
  private def scan(s: SparkSession, t: Table, vs: Int*): DataFrame =
    s.read.schema(t.schema).parquet(vs.map(path(t.name, _)): _*)

  /** Version `v` of `table` alone, e.g. a slice the current commit
    * just wrote.
    */
  def version(s: SparkSession, table: String, v: Int): DataFrame =
    scan(s, spec(table), v)

  /** The current rows of `table`: the union of the live versions, or
    * for a keyed table the latest version per key, tombstones dropped;
    * before the first commit, no rows of the table's schema.
    */
  def read(s: SparkSession, table: String): DataFrame = {
    val t = spec(table)
    val (latest, base) = versions
    if (latest == 0) s.createDataFrame(java.util.List.of[Row](), t.schema)
    else t match {
      case u: Union =>
        val all = scan(s, u, base to latest: _*)
        if (u.distinct) all.distinct() else all
      case k: Keyed =>
        val f = fold(s, k, latest, base)
        k.tombstone.fold(f)(c => f.filter(col(c).isNotNull))
    }
  }

  /** A keyed table's latest version per key, tombstones kept. A store
    * whose latest version is its base reads as one scan, no shuffle.
    */
  private def fold(s: SparkSession, t: Keyed, latest: Int,
      base: Int): DataFrame = {
    if (latest == base) return scan(s, t, base)
    val grouped = (base to latest)
      .map(v => scan(s, t, v).select(t.columns.map(col) :+ lit(v).as("_v"): _*))
      .reduce(_ unionByName _)
      .groupBy(col(t.key))
    t.columns.filter(_ != t.key) match {
      case Seq(value) => grouped.agg(max_by(col(value), col("_v")).as(value))
      case values =>
        grouped.agg(max_by(struct(values.map(col): _*), col("_v")).as("r"))
          .select(t.columns.map(c =>
            if (c == t.key) col(c) else col(s"r.$c").as(c)): _*)
    }
  }

  /** Commit version `latest + 1`: `write(v)` writes its table dirs, then
    * the marker (first commit only) and the pointer flip land. The first
    * commit and a `full` one make `v` the base and gc below the previous
    * base; `full` requires `write` to write every table. Any other
    * commit is a delta, and the store then compacts once the deltas
    * hold more than [[CompactFraction]] of the mass table's base rows
    * or `maxDeltas` of them stack up. Returns `v`.
    */
  def commit(s: SparkSession, full: Boolean = false,
      maxDeltas: Int = MaxDeltaVersions)(write: Int => Unit): Int = {
    val first = !initialized
    val (latest, base) = versions
    val v = latest + 1
    write(v)
    if (first) marker.foreach { case (file, content) =>
      StateFiles.writeMeta(dir, file, content)
    }
    if (first || full) {
      StateFiles.writePointer(dir, v, v)
      gc(Some(base))
    } else {
      StateFiles.writePointer(dir, v, base)
      if (outgrown(s, base, v, maxDeltas))
        commit(s, full = true)(nv => tables.foreach(t =>
          read(s, t.name).write.mode("overwrite").parquet(path(t.name, nv))))
    }
    v
  }

  private def outgrown(s: SparkSession, base: Int, latest: Int,
      maxDeltas: Int): Boolean =
    latest - base >= maxDeltas || massTable.map(spec).exists { t =>
      (base + 1 to latest).map(scan(s, t, _).count()).sum >
        CompactFraction * scan(s, t, base).count()
    }

  /** Remove every table's versions below `below` (default: the current
    * base). Returns the number of version dirs removed.
    */
  def gc(below: Option[Int] = None): Int = {
    val until = below.getOrElse(versions._2)
    (1 until until).flatMap(v => tables.map(t => Paths.get(path(t.name, v))))
      .count { p =>
        Files.exists(p) && {
          Files.walk(p).iterator().asScala.toSeq.reverse
            .foreach(Files.deleteIfExists(_))
          true
        }
      }
  }
}

private[graft] object VersionedState {
  /** A table of the store; `ddl` states its columns and their types
    * once (e.g. `"doc_id BIGINT, cluster_id BIGINT"`).
    */
  sealed trait Table {
    def name: String
    def ddl: String
    def schema: StructType = StructType.fromDDL(ddl)
  }

  /** Rows never change: a read is the union of the live versions,
    * deduplicated when `distinct`.
    */
  final case class Union(name: String, ddl: String, distinct: Boolean = false)
    extends Table

  /** Rows keyed by `key`: the latest version wins per key, and a row
    * whose `tombstone` column is null deletes its key.
    */
  final case class Keyed(name: String, key: String, ddl: String,
      tombstone: Option[String] = None) extends Table {
    def columns: Seq[String] = schema.fieldNames.toSeq
  }

  /** Deltas compact into a new full version once they exceed this
    * share of the mass table's base rows: the read/write balance knob.
    */
  val CompactFraction = 0.3

  /** ...or once this many delta versions stack up, whatever their mass:
    * a stream of small micro-batches adds rows slowly but versions fast,
    * and a read costs one scan per version dir.
    */
  val MaxDeltaVersions = 64
}
