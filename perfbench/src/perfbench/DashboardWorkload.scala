package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.{Registry, Tables}
import graft.operators.RiskScoring
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The dashboard's four read-only query kinds over `events` + `customer`
  * parquet in the fixture schema. Small results are collected; the
  * sessionize result is large and goes to the `noop` sink, so column
  * pruning cannot skip the work a user pays for.
  */
object Dashboard {
  val kinds = Seq("flagship", "drilldown", "tumbling", "sessionize")

  private def drilldown(spark: SparkSession, dir: String, mint: Long): DataFrame =
    RiskScoring.riskTable(Tables.events(spark, dir).filter(col("user_id") === mint))

  private def query(spark: SparkSession, dir: String, kind: String, mint: Long): DataFrame =
    kind match {
      case "flagship" => RiskScoring.flagship(spark, dir)
      case "drilldown" => drilldown(spark, dir, mint)
      case "tumbling" => Registry.byName("q20_window_time").run(spark, dir)
      case "sessionize" => Registry.byName("q21_sessionize").run(spark, dir)
    }

  def run(spark: SparkSession, dir: String, kind: String, mint: Long): Unit = {
    val df = query(spark, dir, kind, mint)
    if (kind == "sessionize") df.write.format("noop").mode("overwrite").save()
    else { df.collect(); () }
  }

  /** Untimed: writes the result of each of `checked` kinds (of a
    * drilldown, one per mint of `mints`) under `checkDir` for the DuckDB
    * oracle in check.py; returns its inputs.
    */
  def writeChecks(spark: SparkSession, dir: String, checkDir: String,
      checked: Seq[String], mints: Seq[Long] = Nil): Map[String, Any] = {
    checked.filter(_ != "drilldown").foreach { k =>
      query(spark, dir, k, 0L).write.mode("overwrite").parquet(s"$checkDir/$k")
    }
    mints.foreach { m =>
      drilldown(spark, dir, m).write.mode("overwrite").parquet(s"$checkDir/drilldown_$m")
    }
    Map("check_dir" -> checkDir, "table_dir" -> dir, "kinds" -> checked.filter(_ != "drilldown"),
      "drilldown_mints" -> mints,
      "oracle" -> Map(
        "risk" -> RiskScoring.riskSql,
        "tumbling" -> Registry.byName("q20_window_time").oracle.get,
        "sessionize" -> Registry.byName("q21_sessionize").oracle.get))
  }
}

/** dashboard — reference stage 5 (streamlit 1.3.txt): a closed loop of
  * client threads, each issuing its next query only when the previous one
  * returned, over a seeded mix of the four [[Dashboard]] query kinds on
  * generated tables.
  */
final class DashboardWorkload(cfg: JsonNode) extends Workload {
  private val dir = cfg.get("input").asText()
  private val work = cfg.get("work").asText()
  private val seed = cfg.get("seed").asLong()
  private val clients = cfg.get("clients").asInt()
  private val mints = cfg.get("facts").get("mints").asInt()
  private val zipfS = cfg.get("facts").get("zipf_s").asDouble()
  // the query mix: kind -> weight
  private val mix = Seq("flagship" -> 2, "drilldown" -> 6, "tumbling" -> 1, "sessionize" -> 1)
  private val zipf = new Zipf(mints, zipfS)

  override def setup(spark: SparkSession): Unit =
    Dashboard.kinds.foreach(k => Dashboard.run(spark, dir, k, 1L))

  /** The closed loop: (kind, latency ms) samples, failures, drilled mints, wall s. */
  private def loop(spark: SparkSession, seconds: Double, calls: Calls)
      : (Seq[(String, Double)], Long, Seq[Long], Double) = {
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    val failures = new java.util.concurrent.atomic.AtomicLong()
    val drillMints = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val t0 = System.nanoTime()
    // each client deals its queries from a deck holding the mix in exact
    // proportion, reshuffled per deck: the seed orders the queries and
    // picks the drilldown mints, the mix itself stays fixed
    val deck = mix.flatMap { case (k, w) => Seq.fill(w)(k) }
    val threads = (0 until clients).map { c =>
      val rng = new java.util.Random(seed * 1000003L + c)
      new Thread(() => {
        var hand = List.empty[String]
        while (System.nanoTime() < deadline) {
          if (hand.isEmpty) hand = new scala.util.Random(rng).shuffle(deck).toList
          val kind = hand.head
          hand = hand.tail
          val mint = zipf.draw(rng) + 1L
          val q0 = System.nanoTime()
          try {
            calls(spark, s"dash.$kind")(Dashboard.run(spark, dir, kind, mint))
            samples.add(kind -> (System.nanoTime() - q0) / 1e6)
            if (kind == "drilldown") drillMints.add(mint)
          } catch {
            case e: Exception =>
              failures.incrementAndGet()
              System.err.println(s"dashboard: $kind failed: $e")
          }
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    (samples.asScala.toSeq, failures.get(), drillMints.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  override def settle(spark: SparkSession, seconds: Double): Unit = {
    loop(spark, seconds, new Calls(None)); ()
  }

  override def measure(spark: SparkSession, seconds: Double, calls: Calls): Result = {
    val (all, failures, drillMints, wallS) = loop(spark, seconds, calls)
    val lat = all.map(_._2)
    val qps = lat.length / wallS

    val checks = Dashboard.writeChecks(spark, dir, s"$work/check", Dashboard.kinds,
      (Seq(1L, 2L, mints.toLong / 2) ++ drillMints.take(2)).distinct)

    val byKind = all.groupBy(_._1)
    val layer = byKind.flatMap { case (k, xs) =>
      Seq(s"dash.$k.queries" -> xs.length.toDouble,
        s"dash.$k.p50_ms" -> Workload.median(xs.map(_._2)))
    }
    Result(lat, qps, lat.length + failures, failures,
      named = Map(
        "dash_p50_ms" -> (Workload.median(lat), "ms"),
        "dash_p90_ms" -> (Workload.quantile(lat, 0.9), "ms"),
        "dash_qps" -> (qps, "1/s")),
      layer = layer,
      checks = checks)
  }
}

/** Ranks 0..n-1 with P(k) proportional to 1/(k+1)^s (same law as gen.py). */
final class Zipf(n: Int, s: Double) {
  private val cum = {
    val a = new Array[Double](n)
    var acc = 0.0
    var k = 0
    while (k < n) { acc += 1.0 / math.pow(k + 1, s); a(k) = acc; k += 1 }
    a
  }
  def draw(rng: java.util.Random): Int = {
    val x = rng.nextDouble() * cum(n - 1)
    val i = java.util.Arrays.binarySearch(cum, x)
    if (i >= 0) i else -i - 1
  }
}
