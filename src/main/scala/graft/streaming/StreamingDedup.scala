package graft.streaming

import java.sql.Timestamp

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming near-duplicate detection with CUSTOM state
  * (`flatMapGroupsWithState`) — the streaming twin of the batch MinHash
  * dedup (Dedup.candidatePairs) and the one dedup shape
  * `dropDuplicatesWithinWatermark` cannot express: instead of silently
  * filtering, every document is emitted with a verdict — which earlier
  * document it duplicates (`dup_of`, itself for originals) and how many
  * copies preceded it — so downstream stages can keep canonical docs,
  * count duplication rates, or route dupes to a quarantine sink.
  *
  * State model (the 100 TB concern): one tiny `(first_doc_id, n_seen)`
  * record per DISTINCT MinHash signature, partitioned by signature
  * across the state store, and expired by event-time timeout once the
  * watermark passes a signature's last sighting + retention — state is
  * bounded by the distinct-signature rate within the watermark horizon,
  * never by stream length (the reference's processed_transactions.json
  * grew forever, SURVEY §2.9 ST5).
  */
object StreamingDedup {

  /** One signed document row entering the stateful stage. */
  final case class SigRow(sig: String, doc_id: Long, ts: Timestamp)

  /** The emitted verdict: `dup_of` == `doc_id` marks the original. */
  final case class DupVerdict(doc_id: Long, dup_of: Long, n_prior: Long)

  /** Per-signature state record (public: the state encoder's generated
    * code must be able to construct it).
    */
  final case class SigState(first: Long, n: Long, lastMs: Long)

  /** Per-signature transition: rows are processed in deterministic
    * (ts, doc_id) order within the batch; the first sighting anchors the
    * group. Top-level (not a closure) so the streaming task serializes
    * only the function reference.
    */
  private def verdicts(retentionMs: Long)(
      sig: String, rows: Iterator[SigRow],
      state: GroupState[SigState]): Iterator[DupVerdict] = {
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val ordered = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
      var s = state.getOption.getOrElse(SigState(-1L, 0L, 0L))
      val out = ordered.map { r =>
        if (s.first < 0L) s = s.copy(first = r.doc_id)
        val v = DupVerdict(r.doc_id, s.first, s.n)
        s = s.copy(n = s.n + 1, lastMs = math.max(s.lastMs, r.ts.getTime))
        v
      }
      state.update(s)
      state.setTimeoutTimestamp(s.lastMs + retentionMs)
      out.iterator
    }
  }

  /** `docs` must carry `doc_id`, `text` and an event-time column; the
    * result streams one [[DupVerdict]] per input document (append mode).
    * `retentionMs` bounds both the watermark and the per-signature state
    * lifetime.
    *
    * Event-time caveat: a row whose event time is ≤ the CURRENT
    * watermark is dropped as late before the state function ever sees
    * it — including the initial watermark of 0 (the epoch). Synthetic
    * event times derived from counters must therefore sit strictly
    * above the epoch (see Pipeline.runFromFeed, which offsets by a
    * day), or the first row silently vanishes from the verdicts.
    */
  def nearDupVerdicts(docs: DataFrame, eventTime: String,
      retentionMs: Long): Dataset[DupVerdict] = {
    require(retentionMs > 0, s"retentionMs must be positive: $retentionMs")
    val spark = docs.sparkSession
    import spark.implicits._
    // watermark LAST: casting/renaming a watermarked column mints a new
    // attribute without the watermark tag, and EventTimeTimeout then
    // rejects the plan
    Dedup.withSignature(docs)
      .select(col("sig"), col("doc_id"), col(eventTime).as("ts"))
      .withWatermark("ts", s"$retentionMs milliseconds")
      .as[SigRow]
      .groupByKey(_.sig)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        verdicts(retentionMs))
  }

  /** In-flight incremental dedup against a PERSISTED band index — the
    * streaming twin of `Dedup.incrementalAgainstIndex` (q57's production
    * shape). Each micro-batch of `(doc_id, text)` docs is signed and
    * joined against the static `index` frame inside `foreachBatch`
    * (stream rows shuffle onto the index's band-key bucketing; the
    * index side never moves — BucketingSpec pins the batch plan), and
    * the batch's verdicts append to `outPath`.
    *
    * Complementary to [[nearDupVerdicts]]: that leg remembers WITHIN the
    * stream via keyed state; this leg remembers the HISTORICAL corpus
    * via the on-disk index and needs no state store at all — the
    * pipeline refreshes the index by re-signing on its own cadence
    * (e.g. nightly, appending verdicted originals).
    */
  def indexVerdictStream(docs: DataFrame, index: DataFrame, outPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        Dedup.incrementalAgainstIndex(batch, index)
          .write.mode("append").parquet(outPath)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** The persistent CLUSTER STATE fed by a stream: every
    * micro-batch folds, through `Dedup.syncClusterState`, into the
    * same artifacts the batch Curate head reads — ONE
    * dedup state serving both execution modes, which is how a real
    * pipeline runs (continuous ingest keeps the map current; the
    * nightly batch build consumes it instead of re-clustering). Per
    * batch: the id-roster anti-join drops redelivered docs, new docs'
    * band collisions merge via the contracted CC, the map gains a
    * DELTA version, and the capped band index grows — all of
    * syncClusterState's crash contract applies verbatim (the first
    * batch is the same update against the empty store), and
    * at-least-once redelivery is a documented fixpoint (the replayed
    * batch's delta is empty), so the leg needs no state store and no
    * dedup-specific checkpoint logic beyond the sink's own. Each
    * batch's verdicts — (doc_id, cluster_id) for the batch's docs, new
    * docs only — land batch_id-partitioned at `outPath` (replay
    * overwrites its own partition).
    */
  def clusterStateStream(docs: DataFrame, stateDir: String, outPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val d = batch.toDF().select(col("doc_id"), col("text"))
        val map = Dedup.syncClusterState(spark, stateDir, d)
        // verdicts for THIS batch's docs (semi-join keeps the output
        // batch-sized; docs with no candidate pair have no map row and
        // are their own singleton cluster by the q44/q53 convention)
        map.join(d.select("doc_id"), Seq("doc_id"), "left_semi")
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(outPath)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
