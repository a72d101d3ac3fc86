package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** What one measured phase of a workload returns.
  *
  * @param latMs      per-operation latency samples (ms)
  * @param throughput items completed per second at the stated input size
  * @param named      this workload's end-to-end metrics under their own
  *                   names: name -> (value, unit)
  * @param layer      this workload's own per-layer metrics (traced runs)
  * @param checks     outputs handed to the oracle checks in check.py
  */
final case class Result(
    latMs: Seq[Double],
    throughput: Double,
    attempted: Long,
    failed: Long,
    named: Map[String, (Double, String)],
    layer: Map[String, Double],
    checks: Map[String, Any])

/** Wraps a public call in a trace span when the run is traced. */
final class Calls(val tracer: Option[Tracer]) {
  def apply[T](spark: SparkSession, layer: String)(body: => T): T =
    tracer match {
      case Some(t) => t.call(spark, layer)(body)
      case None => body
    }
}

/** A benchmark workload: `setup` loads the generated inputs and makes one
  * warm pass; `measure` runs the timed load for `seconds`.
  */
trait Workload {
  def setup(spark: SparkSession): Unit
  def measure(spark: SparkSession, seconds: Double, calls: Calls): Result
  /** Untimed load between set-up and measurement, so the timed window
    * starts after JIT compilation and caches have settled. None by
    * default: after solana_etl's warm pass its operations over a 40 s
    * window show no downward trend, only ±20 % noise, and corpus_curate
    * has no warm state to reach.
    */
  def settle(spark: SparkSession, seconds: Double): Unit = ()
  /** Releases what setup started (servers, streams); called before the
    * session stops.
    */
  def close(): Unit = ()
}

object Workload {
  def apply(cfg: JsonNode): Workload = cfg.get("workload").asText() match {
    case "solana_etl" => new EtlWorkload(cfg)
    case "dashboard" => new DashboardWorkload(cfg)
    case "feed_ingest" => new FeedWorkload(cfg)
    case "corpus_curate" => new CurateWorkload(cfg)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of the samples (NaN when empty). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def deleteTree(dir: String): Unit = {
    val root = new java.io.File(dir)
    def go(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array()).foreach(go)
      f.delete()
    }
    if (root.exists) go(root)
  }

  /** Copies a directory tree; the copy is a new corpus to any cache keyed
    * by path and modification time.
    */
  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val it = java.nio.file.Files.walk(src)
    try it.forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally it.close()
  }
}
