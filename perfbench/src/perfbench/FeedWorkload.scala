package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.sources.{FeedServer, SocketTransport}
import graft.streaming.{StreamingDedup, StreamingIngest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, timestamp_seconds}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** feed_ingest — reference stages 1-2 (my_websocket.py, cleandata1.py):
  * websocket-event messages are posted through `SocketTransport.post` to
  * a `FeedServer` and read by two concurrent streaming legs over the
  * socket transport: (a) the dead-letter split
  * (`feedEventStreamAnnotated` → `writeQuarantineBatch`) and (b) the
  * near-duplicate verdicts (`StreamingDedup.nearDupVerdicts`).
  *
  * Phase 1 is an open loop: message i is due at start + i / rate and is
  * posted when due, however far the legs lag. Its latency runs from that
  * due time to the commit of the later leg's micro-batch covering its
  * offset (batch start + triggerExecution, from the query progress).
  * Phase 2 posts a backlog at once and times its drain.
  */
final class FeedWorkload(cfg: JsonNode) extends Workload {
  private val in = cfg.get("input").asText()
  private val work = cfg.get("work").asText()
  private val rate = cfg.get("feed_rate").asDouble()
  private val cap = cfg.get("feed_batch_cap").asLong()
  private val n1 = cfg.get("facts").get("phase1").asInt()
  private val n2 = cfg.get("facts").get("backlog").asInt()
  private val msgs: IndexedSeq[String] = {
    val m = new ObjectMapper()
    val src = scala.io.Source.fromFile(s"$in/messages.jsonl", "UTF-8")
    try src.getLines().map(l => m.readTree(l).asText()).toIndexedSeq
    finally src.close()
  }
  require(msgs.length == n1 + n2, s"feed_ingest: ${msgs.length} messages, expected ${n1 + n2}")
  private val legs = Seq("ingest.quarantine", "ingest.neardup")
  private var server: FeedServer = _
  private var measured = 0
  private def transport = SocketTransport("localhost", server.boundPort)

  /** Committed micro-batches of one leg, as reported by query progress. */
  private final case class Batch(id: Long, startMs: Double, endMs: Double,
      endOffset: Long, rows: Long, durMs: Map[String, Long],
      stateRows: Long, stateBytes: Long, stateCommitMs: Long)

  private final class Progress extends StreamingQueryListener {
    val byQuery = TrieMap.empty[String, ConcurrentLinkedQueue[Batch]]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val state = p.stateOperators
      byQuery.getOrElseUpdate(p.runId.toString, new ConcurrentLinkedQueue[Batch]())
        .add(Batch(p.batchId, start, start + dur.getOrElse("triggerExecution", 0L),
          p.sources.headOption.flatMap(s => Option(s.endOffset)).fold(0L)(_.trim.toLong),
          p.numInputRows, dur,
          state.map(_.numRowsTotal).sum, state.map(_.memoryUsedBytes).sum,
          state.map(_.commitTimeMs).sum))
    }
    def batches(q: StreamingQuery): Seq[Batch] =
      byQuery.get(q.runId.toString).fold(Seq.empty[Batch])(_.asScala.toSeq)
    def committed(q: StreamingQuery): Long =
      batches(q).map(_.endOffset).foldLeft(0L)(math.max)
  }

  private def startLegs(spark: SparkSession, feed: String, dir: String): Seq[StreamingQuery] = {
    val srv = Some("localhost" -> server.boundPort)
    val trigger = Trigger.ProcessingTime(0L)
    val quarantine = StreamingIngest.feedEventStreamAnnotated(spark, feed,
        maxMessagesPerTrigger = Some(cap), server = srv)
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt_quarantine")
      .trigger(trigger)
      .foreachBatch { (b: DataFrame, id: Long) =>
        StreamingIngest.writeQuarantineBatch(b, id, s"$dir/delivered", s"$dir/quarantined")
      }
      .start()
    val feedStream = StreamingIngest.readFeedStream(spark, feed,
      maxMessagesPerTrigger = Some(cap), server = srv)
    // event time from the feed position, a day above the epoch so the
    // first row is not behind the initial watermark
    val neardup = StreamingDedup.nearDupVerdicts(
        feedStream.select(col("offset").as("doc_id"), col("value").as("text"),
          timestamp_seconds(col("offset") + lit(86400)).as("ts")),
        "ts", retentionMs = 3600L * 1000)
      .writeStream.format("parquet")
      .option("path", s"$dir/verdicts")
      .option("checkpointLocation", s"$dir/ckpt_verdicts")
      .trigger(trigger)
      .start()
    Seq(quarantine, neardup)
  }

  /** Blocks until every leg has committed offset `n`; false on timeout. */
  private def awaitCommitted(p: Progress, qs: Seq[StreamingQuery], n: Long,
      timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (qs.exists(q => p.committed(q) < n)) {
      qs.foreach(q => q.exception.foreach(e => throw e))
      if (System.nanoTime() > deadline) return false
      Thread.sleep(5)
    }
    true
  }

  private def post(feed: String, from: Int, until: Int): Unit =
    (from until until by 500).foreach { i =>
      transport.post(feed, msgs.slice(i, math.min(until, i + 500)): _*)
    }

  /** Drains the first `n` messages through both legs on a feed of its own. */
  private def warm(spark: SparkSession, feed: String, n: Int): Unit = {
    val p = new Progress
    spark.streams.addListener(p)
    val dir = s"$work/$feed"
    val qs = startLegs(spark, feed, dir)
    try {
      post(feed, 0, n)
      require(awaitCommitted(p, qs, n, 120), s"feed_ingest: warm feed $feed did not drain")
    } finally {
      qs.foreach(_.stop())
      spark.streams.removeListener(p)
      Workload.deleteTree(dir)
    }
  }

  override def setup(spark: SparkSession): Unit = {
    server = new FeedServer(0).start()
    warm(spark, "warm", math.min(n1, 200))
  }

  // the measured pass has a fixed length; settling is a larger warm drain
  override def settle(spark: SparkSession, seconds: Double): Unit =
    warm(spark, "settle", math.min(n1 + n2, (seconds * rate * 2).toInt))

  override def close(): Unit = if (server != null) { server.stop(); server = null }

  override def measure(spark: SparkSession, seconds: Double, calls: Calls): Result = {
    val p = new Progress
    spark.streams.addListener(p)
    measured += 1
    val dir = s"$work/measure$measured"
    val feed = s"bench$measured"
    val qs = startLegs(spark, feed, dir)
    calls.tracer.foreach(t => qs.zip(legs).foreach { case (q, l) => t.alias(q.runId.toString, l) })
    var failed = 0L
    val due = new Array[Double](n1)
    var lateMaxMs = 0.0
    var backlogEnd = 0L
    var drainRate = Double.NaN
    var phase1Ms = 0.0
    try {
      // phase 1: open loop at `rate`
      val start = Clock.nowMs() + 50
      (0 until n1).foreach(i => due(i) = start + i * 1000.0 / rate)
      var next = 0
      while (next < n1) {
        val now = Clock.nowMs()
        if (due(next) > now) LockSupport.parkNanos(((due(next) - now) * 1e6).toLong)
        else {
          val now2 = Clock.nowMs()
          var until = next
          while (until < n1 && due(until) <= now2) until += 1
          lateMaxMs = math.max(lateMaxMs, now2 - due(next))
          post(feed, next, until)
          next = until
        }
      }
      val phase1End = start + n1 * 1000.0 / rate
      val wait = phase1End - Clock.nowMs()
      if (wait > 0) LockSupport.parkNanos((wait * 1e6).toLong)
      backlogEnd = n1 - qs.map(q => p.committed(q)).min
      phase1Ms = phase1End - start
      if (!awaitCommitted(p, qs, n1, 120)) failed += n1
      // phase 2: a backlog posted at once, timed until the later leg commits it
      val from = qs.map(q => p.committed(q)).min
      val t2 = Clock.nowMs()
      post(feed, n1, n1 + n2)
      if (awaitCommitted(p, qs, n1 + n2, 120)) {
        val done = qs.map(q => p.batches(q).filter(_.endOffset >= n1 + n2).map(_.endMs).min).max
        drainRate = (n1 + n2 - from) / ((done - t2) / 1e3)
      } else failed += n2
    } finally {
      qs.foreach(_.stop())
      spark.streams.removeListener(p)
    }

    // latency of each phase-1 message: due time -> later leg's covering commit
    val perLeg = qs.map(q => p.batches(q).filter(_.rows > 0).sortBy(_.endOffset).toIndexedSeq)
    val lat = (0 until n1).flatMap { i =>
      val commits = perLeg.map(bs => bs.find(_.endOffset > i).map(_.endMs))
      if (commits.forall(_.isDefined)) Some(commits.flatten.max - due(i)) else None
    }
    failed += n1 - lat.length

    val all = qs.flatMap(q => p.batches(q))
    calls.tracer.foreach(t => qs.zip(legs).foreach { case (q, l) =>
      p.batches(q).foreach(b => t.addSpan(Span(s"$l#b${b.id}", s"$l.batch", "", t.run, b.startMs, b.endMs)))
    })
    def dsum(k: String): Double = all.map(_.durMs.getOrElse(k, 0L)).sum.toDouble
    val dedupBatches = p.batches(qs(1))
    val busy = all.map(b => b.endMs - b.startMs).sum
    val layer = Map(
      "ingest.batches" -> all.length.toDouble,
      "ingest.batch_rows" -> all.map(_.rows).sum.toDouble / math.max(1, all.count(_.rows > 0)),
      "ingest.latest_offset_ms" -> dsum("latestOffset"),
      "ingest.commit_ms" -> (dsum("walCommit") + dsum("commitOffsets")),
      "ingest.add_batch_ms" -> dsum("addBatch"),
      "ingest.query_planning_ms" -> dsum("queryPlanning"),
      "ingest.idle_ms" -> math.max(0.0, 2 * phase1Ms - all.filter(_.endOffset <= n1).map(b => b.endMs - b.startMs).sum),
      "ingest.busy_ms" -> busy,
      "ingest.state_rows" -> dedupBatches.map(_.stateRows).foldLeft(0L)(math.max).toDouble,
      "ingest.state_bytes" -> dedupBatches.map(_.stateBytes).foldLeft(0L)(math.max).toDouble,
      "ingest.state_commit_ms" -> dedupBatches.map(_.stateCommitMs).sum.toDouble,
      "ingest.gen_late_ms" -> lateMaxMs)
    Result(lat, drainRate, n1 + n2, failed,
      named = Map(
        "ingest_p50_ms" -> (Workload.median(lat), "ms"),
        "ingest_p99_ms" -> (Workload.quantile(lat, 0.99), "ms"),
        "ingest_backlog_end" -> (backlogEnd.toDouble, "count"),
        "ingest_drain_msgs_per_s" -> (drainRate, "1/s")),
      layer = layer,
      checks = Map("delivered" -> s"$dir/delivered", "quarantined" -> s"$dir/quarantined",
        "verdicts" -> s"$dir/verdicts", "rate" -> rate, "phase1" -> n1, "backlog" -> n2))
  }
}
