package graft.tools

import graft.operators.{Normalize, RiskExplain, RiskScoring}
import graft.sources.Schemas
import graft.streaming.StreamingIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** End-to-end domain pipeline demo: the full reference flow
  * (SURVEY.md §3) in one Spark application over reference-shaped
  * synthetic inputs, replacing five scripts + S3 + subprocess hops:
  *
  *   1. streaming ingest of websocket-event JSON from a drop dir
  *      (my_websocket.py + cleandata1.py),
  *   2. batch normalization of both Helius shapes (clean_data.py),
  *   3. unionByName into the canonical table + parquet load,
  *   4. analytics: anti-filter → risk aggregation → top-k → explanation
  *      (streamlit 1.3.txt).
  *
  * Usage: Pipeline [workDir]  (default: temp dir; fixtures generated)
  */
object Pipeline {

  def writeFixtures(dir: String): Unit = {
    def put(name: String, content: String): Unit =
      Files.write(Paths.get(dir, name), content.getBytes)
    Files.createDirectories(Paths.get(dir, "events"))
    Files.createDirectories(Paths.get(dir, "helius2"))
    Files.createDirectories(Paths.get(dir, "helius1"))
    (1 to 5).foreach { i =>
      put(s"events/e$i.json",
        s"""{"mint":"MINT$i","txType":"create","solAmount":$i.5,"name":"Token$i","symbol":"T$i","ignored":1}""")
    }
    put("helius2/batch1.json",
      """{"signature":"sig1","slot":1,"blockTime":1742601600,"meta":{"fee":5000},"transaction":{"message":{"accountKeys":["FP1","X"]}},"tokenTransfers":[{"fromUserAccount":"alice","toUserAccount":"bob","tokenAmount":10.0,"mint":"MINT1","tokenStandard":"Fungible"},{"fromUserAccount":"bob","toUserAccount":"carol","tokenAmount":4.0,"mint":"MINT1","tokenStandard":"Fungible"}]}
        |{"signature":"sig2","slot":2,"blockTime":1742601660,"meta":{"fee":5000},"transaction":{"message":{"accountKeys":[]}},"tokenTransfers":[]}""".stripMargin)
    put("helius1/enriched1.json",
      """{"metadata":{"token_name":"Token1","token_symbol":"T1","mint":"MINT1"},"transactions":[{"description":"swap 1 SOL","type":"SWAP","source":"RAYDIUM","fee":5000,"feePayer":"FP1","signature":"sig3","slot":3,"timestamp":1742601720,"tokenTransfers":[{"fromUserAccount":"alice","toUserAccount":"dave","tokenAmount":2.5,"mint":"","tokenStandard":"Fungible"}]}]}""")
  }

  /** Risk analytics over the canonical table, keyed by mint
    * (streamlit 1.3.txt:83-113 semantics on the domain schema).
    */
  def domainRisk(cleaned: DataFrame): DataFrame = {
    val agg = cleaned
      .filter(col("mint") =!= "")
      .groupBy(col("mint"))
      .agg(
        count(lit(1)).as("total_transfers"),
        countDistinct(col("to_account")).as("unique_holders"),
        countDistinct(when(col("tx_type") === "SWAP", col("from_account")))
          .as("swap_sellers"),
        // deterministic "first" name: smallest non-empty, Unknown fallback
        // (the reference fills names from metadata or a REST lookup, J2)
        coalesce(min(when(col("token_name") =!= "", col("token_name"))),
          lit("Unknown")).as("token_name"))
    RiskScoring.withScores(agg, holders = "unique_holders", swaps = "swap_sellers",
        total = "total_transfers")
      .withColumn("explanation", RiskExplain.explain(
        col("ownership_risk"), col("liquidity_risk"),
        col("concentration"), col("rug_risk")))
  }

  def run(spark: SparkSession, workDir: String): DataFrame = {
    // 1. streaming ingest: drop dir → projected parquet (ST1/ST2/ST6)
    val rawOut = s"$workDir/stage_raw"
    StreamingIngest.runIngestOnce(spark, s"$workDir/events", rawOut,
      s"$workDir/ckpt_events").awaitTermination(120000)
    // 2+3. normalize both Helius shapes + websocket rows → canonical table
    val canonical = Normalize.unionCleaned(
      Normalize.fromShape2(Normalize.readShape2(spark, s"$workDir/helius2")),
      Normalize.fromShape1(Normalize.readShape1(spark, s"$workDir/helius1")),
      Normalize.fromRawEvents(
        spark.read.schema(Schemas.rawEvent).parquet(rawOut)))
    canonical.write.mode("overwrite").parquet(s"$workDir/cleaned_parquet")

    // 4. analytics over the loaded canonical table
    val loaded = spark.read.parquet(s"$workDir/cleaned_parquet")
    domainRisk(loaded).orderBy(col("safety_score").desc, col("mint").asc).limit(10)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-pipeline")
    val dir = args.headOption.getOrElse(
      Files.createTempDirectory("pipeline").toString)
    writeFixtures(dir)
    val top = run(spark, dir)
    top.show(10, false)
    println(s"pipeline rows=${top.count()}")
    spark.stop()
  }
}
