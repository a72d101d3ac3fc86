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

  /** Stages 2-4, shared by both ingest paths: normalize + union +
    * parquet load, then the risk analytics top-k.
    */
  private def finishFromRaw(spark: SparkSession, workDir: String,
      rawOut: String): DataFrame = {
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

  def run(spark: SparkSession, workDir: String): DataFrame = {
    // 1. streaming ingest: drop dir → projected parquet (ST1/ST2/ST6)
    val rawOut = s"$workDir/stage_raw"
    StreamingIngest.runIngestOnce(spark, s"$workDir/events", rawOut,
      s"$workDir/ckpt_events").awaitTermination(120000)
    finishFromRaw(spark, workDir, rawOut)
  }

  /** One websocket-event fixture message. */
  def feedFixture(i: Int): String =
    s"""{"mint":"MINT$i","txType":"create","solAmount":$i.5,"name":"Token$i","symbol":"T$i","ignored":1}"""

  /** Posts the websocket-event fixtures to the in-JVM feed instead of
    * writing them as drop-dir files (the S1 transport).
    */
  def postFeedFixtures(feed: String): Unit = {
    graft.sources.FeedRegistry.clear(feed)
    graft.sources.FeedRegistry.post(feed, (1 to 5).map(feedFixture): _*)
  }

  /** The S1 production path: stage 1 ingests through the DSv2 feed
    * source (checkpointed offsets, admission-controlled micro-batches —
    * cap 2 drains the 5-message fixture backlog over ≥3 batches) instead
    * of the drop directory; stages 2-4 are identical.
    *
    * The ingest runs TWO streaming legs off the same feed (each with its
    * own checkpoint): the projected raw rows, offset-keyed, and
    * [[graft.streaming.StreamingDedup.nearDupVerdicts]] over the raw
    * message text — one verdict per message, `dup_of` pointing at the
    * earliest message with the same MinHash signature, state bounded by
    * the watermark. Messages verdicted as duplicates are anti-joined out
    * of the raw rows BEFORE the canonical load, so re-posted events never
    * inflate the analytics (the reference's processed_transactions.json
    * replay guard, my_websocket.py:71-87, without the unbounded file).
    */
  def runFromFeed(spark: SparkSession, workDir: String, feed: String): DataFrame = {
    val rawOut = s"$workDir/stage_raw"
    val verdictsOut = s"$workDir/stage_verdicts"
    val trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)
    val feedStream = StreamingIngest.readFeedStream(
      spark, feed, maxMessagesPerTrigger = Some(2L))
    // leg 1: parse + project, keeping the feed offset as the row key
    val parsed = feedStream
      .select(col("offset"), from_json(col("value"), Schemas.rawEvent).as("e"))
      .select(col("offset"), col("e.mint"), col("e.txType"),
        col("e.solAmount"), col("e.name"), col("e.symbol"))
    val qRaw = StreamingIngest.sink(parsed, "parquet", rawOut,
      s"$workDir/ckpt_feed", trigger).start()
    // leg 2: near-dup verdicts keyed by the raw message text (event time
    // derived from the feed position — monotone, replay-stable). The
    // epoch-day base keeps every ts strictly above the stream's initial
    // watermark of 0: a ts equal to the watermark is dropped as late
    // BEFORE the state function, which would silently skip offset 0
    val qDedup = graft.streaming.StreamingDedup.nearDupVerdicts(
        feedStream.select(col("offset").as("doc_id"), col("value").as("text"),
          timestamp_seconds(col("offset") + lit(86400)).as("ts")),
        "ts", retentionMs = 3600L * 1000)
      .writeStream.format("parquet")
      .option("path", verdictsOut)
      .option("checkpointLocation", s"$workDir/ckpt_verdicts")
      .trigger(trigger)
      .start()
    qRaw.processAllAvailable(); qDedup.processAllAvailable()
    qRaw.stop(); qDedup.stop()
    // drop duplicate messages before the canonical load
    val dupOffsets = spark.read.parquet(verdictsOut)
      .filter(col("dup_of") =!= col("doc_id"))
      .select(col("doc_id").as("offset"))
    spark.read.parquet(rawOut)
      .join(dupOffsets, Seq("offset"), "left_anti")
      .drop("offset")
      .write.mode("overwrite").parquet(s"$workDir/stage_raw_dedup")
    finishFromRaw(spark, workDir, s"$workDir/stage_raw_dedup")
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
