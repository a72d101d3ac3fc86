package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.operators.Normalize
import graft.tools.Pipeline
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

/** solana_etl — reference stages 3-5 (clean_data.py, then the dashboard):
  * many small Helius shape-1/shape-2 JSON files plus websocket events are
  * normalized into the canonical table, loaded as parquet, read back and
  * ranked by `Pipeline.domainRisk`; then the dashboard refreshes its
  * flagship risk panel (`RiskScoring.flagship`) and its tumbling-window
  * panel (`Windowed` q20) over the generated `events` + `customer`
  * tables. One operation is that whole raw-JSON → refreshed
  * dashboard path; each writes a fresh parquet load. Throughput counts
  * canonical rows per second of the normalize + load part alone.
  */
final class EtlWorkload(cfg: JsonNode) extends Workload {
  private val in = cfg.get("input").asText()
  private val work = cfg.get("work").asText()
  private val expectedRows = cfg.get("facts").get("canonical_rows").asLong()
  private val files = cfg.get("facts").get("files").asLong()
  private val tables = s"$in/tables"
  private var seq = 0

  private def topRow(r: Row): Map[String, Any] = Map(
    "mint" -> r.getAs[String]("mint"),
    "total_transfers" -> r.getAs[Long]("total_transfers"),
    "unique_holders" -> r.getAs[Long]("unique_holders"),
    "swap_sellers" -> r.getAs[Long]("swap_sellers"),
    "token_name" -> r.getAs[String]("token_name"),
    "safety_score" -> r.getAs[Double]("safety_score"))

  /** One raw-JSON → refreshed-dashboard pass; returns (load dir, top-10,
    * normalize + load ms).
    */
  private def once(spark: SparkSession, calls: Calls): (String, Seq[Map[String, Any]], Double) = {
    seq += 1
    val out = s"$work/load_$seq"
    val t0 = System.nanoTime()
    calls(spark, "etl.normalize") {
      Normalize.unionCleaned(
        Normalize.fromShape2(Normalize.readShape2(spark, s"$in/helius2")),
        Normalize.fromShape1(Normalize.readShape1(spark, s"$in/helius1")),
        Normalize.fromRawEvents(Normalize.readRawEvents(spark, s"$in/events")))
        .write.mode("overwrite").parquet(out)
    }
    val loadMs = (System.nanoTime() - t0) / 1e6
    val top = calls(spark, "etl.risk") {
      Pipeline.domainRisk(spark.read.parquet(out))
        .orderBy(col("safety_score").desc, col("mint").asc)
        .limit(10).collect().toSeq.map(topRow)
    }
    EtlWorkload.panels.foreach(k => calls(spark, s"dash.$k")(Dashboard.run(spark, tables, k, 0L)))
    (out, top, loadMs)
  }

  override def setup(spark: SparkSession): Unit =
    Workload.deleteTree(once(spark, new Calls(None))._1)

  override def measure(spark: SparkSession, seconds: Double, calls: Calls): Result = {
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val runs = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Map[String, Any]], Double)]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (lat.isEmpty || System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      runs += once(spark, calls)
      lat += (System.nanoTime() - t0) / 1e6
    }
    // untimed: every load holds the generator's Σ max(1, transfers) rows
    // and ranks the same top-10 as the first
    val firstTop = runs.head._2
    var failed = 0L
    runs.foreach { case (out, top, _) =>
      val rows = spark.read.parquet(out).count()
      if (rows != expectedRows || top != firstTop) {
        failed += 1
        System.err.println(s"solana_etl: load $out has $rows rows (expected $expectedRows)" +
          " or a different top-10")
      }
    }
    val last = runs.last._1
    runs.init.foreach(r => Workload.deleteTree(r._1))
    val rowsPerS = expectedRows * runs.length / (runs.map(_._3).sum / 1e3)
    val p50 = Workload.median(lat.toSeq)
    val loadBytes = new java.io.File(last).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    Result(lat.toSeq, rowsPerS, lat.length, failed,
      named = Map(
        "etl_rows_per_s" -> (rowsPerS, "1/s"),
        "etl_p50_s" -> (p50 / 1e3, "s"),
        "etl_load_p50_s" -> (Workload.median(runs.map(_._3).toSeq) / 1e3, "s")),
      layer = Map(
        "etl.normalize.files_in" -> files.toDouble,
        "etl.normalize.fanout" -> expectedRows.toDouble / cfg.get("facts").get("input_records").asLong(),
        "etl.load.bytes_per_row" -> loadBytes.toDouble / expectedRows),
      checks = Map("load_dir" -> last, "top10" -> firstTop, "canonical_rows" -> expectedRows,
        "dashboard" -> Dashboard.writeChecks(spark, tables, s"$work/check", EtlWorkload.panels)))
  }
}

object EtlWorkload {
  /** The dashboard panels refreshed after each load. */
  val panels = Seq("flagship", "tumbling")
}
