package graft.streaming

import graft.sources.Schemas
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Structured-Streaming re-expression of the reference's ingest pipeline
  * (SURVEY.md §2.9, §3.1-3.2).
  *
  * Reference architecture: a websocket thread dumps one JSON file per
  * message to S3 (my_websocket.py:31-45); a 5-second poll loop lists,
  * projects and deletes ≤999 files per pass (cleandata1.py:11-13,62-77);
  * dedup state is a hand-persisted JSON map (my_websocket.py:71-87).
  *
  * Spark mapping:
  *   - drop-directory file source with `maxFilesPerTrigger` (ST1/ST2);
  *   - `Trigger.ProcessingTime` for the poll cadence (ST1/ST4);
  *   - `cleanSource=delete` replaces destructive consume (S10);
  *   - the watermarked near-dup state of [[StreamingDedup]] replaces
  *     the ever-growing dedup state file (ST5/J1) — state is bounded by
  *     the watermark instead of growing forever like
  *     processed_transactions.json;
  *   - stage chaining (ST6) is one application with dependent queries —
  *     no subprocess boundary.
  *
  * At scale each micro-batch is a normal Spark job: the normalization
  * select is embarrassingly parallel, and the dedup is a streaming
  * state-store aggregation partitioned by key.
  */
object StreamingIngest {

  /** ST1/ST2/S3: stream raw websocket-event JSON files from a drop dir.
    *
    * S10 destructive consume: `cleanSource="delete"` reproduces the
    * reference's delete-after-processing contract (cleandata1.py:48,
    * helius.py:46) — each file is removed once its micro-batch commits;
    * `"archive"` (+ `archiveDir`) is the non-destructive variant. The
    * cleaner runs when the NEXT batch commits, so the final batch's
    * files are consumed on the following run — same as the reference's
    * poll loop, which also only deletes inside a processing pass.
    */
  def readEventStream(spark: SparkSession, dropDir: String,
      maxFilesPerTrigger: Int = 999, cleanSource: String = "off",
      archiveDir: Option[String] = None): DataFrame = {
    val r = spark.readStream
      .schema(Schemas.rawEvent)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toLong)
      .option("cleanSource", cleanSource)
    archiveDir.foreach(r.option("sourceArchiveDir", _))
    r.json(dropDir)
  }

  /** S1: the live message feed as a first-class DSv2 micro-batch source
    * (graft.sources.FeedSourceProvider) — offsets checkpointed, batch
    * ranges partitioned, backlog admission-controlled. Columns:
    * offset BIGINT, value STRING.
    *
    * `maxMessagesPerTrigger` is the ST2 cap for the feed path (the
    * reference's 999-files-per-pass, cleandata1.py:11,68): a restart
    * after downtime drains the backlog as bounded micro-batches.
    *
    * `server = Some(host -> port)` selects the cluster-real
    * [[graft.sources.SocketTransport]] (readers connect to a
    * [[graft.sources.FeedServer]] executor-side); None reads the in-JVM
    * registry (local[*] test double).
    */
  def readFeedStream(spark: SparkSession, feed: String,
      numPartitions: Int = 4,
      maxMessagesPerTrigger: Option[Long] = None,
      server: Option[(String, Int)] = None): DataFrame = {
    val r = spark.readStream
      .format(graft.sources.FeedSourceProvider.format)
      .option("feed", feed)
      .option("numPartitions", numPartitions.toString)
    maxMessagesPerTrigger.foreach(m => r.option("maxMessagesPerTrigger", m.toString))
    server.foreach { case (h, p) => r.option("host", h).option("port", p.toString) }
    r.load()
  }

  /** P1 projection of the raw stream (cleandata1.py:27-33). */
  def projectRaw(raw: DataFrame): DataFrame =
    raw.select("mint", "txType", "solAmount", "name", "symbol")

  /** S2/S8 sink: write a streaming stage with checkpointing (ST7 restart
    * recovery comes from the checkpoint).
    */
  def sink(df: DataFrame, format: String, outDir: String,
      checkpointDir: String, trigger: Trigger): DataStreamWriter[Row] =
    df.writeStream
      .format(format)
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)

  /** ST6 chained pipeline: raw events → projection → parquet, driven by
    * an AvailableNow trigger (batch-like catch-up, used by tests).
    */
  def runIngestOnce(spark: SparkSession, dropDir: String, outDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 999,
      cleanSource: String = "off"): StreamingQuery =
    sink(projectRaw(readEventStream(spark, dropDir, maxFilesPerTrigger, cleanSource)),
      "parquet", outDir, checkpointDir, Trigger.AvailableNow())
      .start()

  /** JS4 hardening: feed messages with the parse VERDICT kept alongside
    * the raw payload, via the corrupt-record-column idiom (PERMISSIVE
    * `from_json` never nulls the struct — it nulls the FIELDS, which is
    * indistinguishable from valid-but-unexpected JSON; the
    * `columnNameOfCorruptRecord` capture is the only per-row parse
    * verdict the parser exposes). Valid JSON that merely lacks the
    * expected fields parses to a struct of nulls and is NOT malformed —
    * that is the schema-projection contract, not a transport error.
    * The reference's ingest (my_websocket.py:31-45) crashes the
    * consumer on the first bad payload; a 100 TB feed treats bad
    * payloads as DATA.
    */
  def feedEventStreamAnnotated(spark: SparkSession, feed: String,
      numPartitions: Int = 4,
      maxMessagesPerTrigger: Option[Long] = None,
      server: Option[(String, Int)] = None): DataFrame = {
    val withCorrupt = Schemas.rawEvent
      .add("_corrupt", org.apache.spark.sql.types.StringType)
    readFeedStream(spark, feed, numPartitions, maxMessagesPerTrigger, server)
      .select(col("value"), from_json(col("value"), withCorrupt,
        Map("columnNameOfCorruptRecord" -> "_corrupt")).as("e"))
      .withColumn("malformed", col("e._corrupt").isNotNull)
  }

  /** One micro-batch of the dead-letter split, written IDEMPOTENTLY:
    * both sinks are `batch_id`-partitioned and written with
    * dynamic-partition overwrite, so a replay of the same batch
    * (foreachBatch is at-least-once — a crash between the delivered
    * write and the checkpoint commit re-runs the batch) rewrites its
    * own `batch_id=N` partition in place instead of appending a second
    * copy. `mode("append")` here would double-deliver on replay.
    * Public so the spec can replay a batch directly and assert
    * exactly-once counts.
    */
  def writeQuarantineBatch(batch: DataFrame, batchId: Long,
      outDir: String, quarantineDir: String): Unit = {
    val cached = batch.persist()
    try {
      cached.filter(!col("malformed")).select(col("e.*")).drop("_corrupt")
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(outDir)
      val bad = cached.filter(col("malformed"))
        .select(col("value").as("payload"), lit(batchId).as("batch_id"))
      if (!bad.isEmpty) bad.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(quarantineDir)
    } finally { cached.unpersist(); () }
  }

  /** Fail fast on a pre-batch_id-partitioned sink layout. The
    * quarantine sinks moved from flat appended parquet to
    * `batch_id=N/` directories (the idempotent-replay fix); re-running
    * an old deployment against its old flat `outDir` would mix
    * unpartitioned files and `batch_id=N` subdirectories in one root,
    * which Spark partition discovery rejects ("conflicting directory
    * structures") only at READ time — long after the corrupt mix was
    * written. Detect the legacy layout before the first write instead
    * and name the migration.
    */
  def requireBatchPartitionedLayout(spark: SparkSession, dir: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (fs.exists(p)) {
      val flat = fs.listStatus(p).filter(s =>
        s.isFile && s.getPath.getName.endsWith(".parquet"))
      require(flat.isEmpty,
        s"$dir holds ${flat.length} flat parquet file(s) from a " +
          "pre-batch_id-partitioned deployment; this sink now writes " +
          "batch_id=N/ partitions and mixing the two layouts breaks " +
          "partition discovery. Migrate first: move the flat files to " +
          s"$dir/batch_id=-1/ (or archive them aside), then restart.")
    }
  }

  /** Dead-letter ingest: parsed rows deliver to `outDir`, malformed raw
    * payloads to `quarantineDir` (payload + batch id — the forensic
    * record), both from the SAME micro-batch via `foreachBatch` so the
    * split is atomic per batch under the one checkpoint: a payload is
    * either delivered or quarantined, never silently dropped (the
    * all-null rows the plain path would emit) — and never delivered
    * twice: each write is `batch_id`-partitioned dynamic overwrite
    * ([[writeQuarantineBatch]]), so at-least-once batch replay is
    * absorbed as an in-place partition rewrite. Legacy flat-layout
    * sinks are rejected up front ([[requireBatchPartitionedLayout]]).
    */
  def runIngestWithQuarantine(spark: SparkSession, feed: String,
      outDir: String, quarantineDir: String, checkpointDir: String,
      server: Option[(String, Int)] = None): StreamingQuery = {
    requireBatchPartitionedLayout(spark, outDir)
    requireBatchPartitionedLayout(spark, quarantineDir)
    feedEventStreamAnnotated(spark, feed, server = server)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeQuarantineBatch(batch, batchId, outDir, quarantineDir)
      }
      .start()
  }
}
