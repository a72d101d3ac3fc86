package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbenchshim.Shim

/** One traced interval. Times are epoch milliseconds; `parent` is the id
  * of the span that caused this one ("" for a root). Spans of one run
  * share `run`.
  */
final case class Span(id: String, name: String, parent: String, run: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
  def toMap: Map[String, Any] = Map("id" -> id, "name" -> name,
    "parent" -> parent, "run" -> run, "start_ms" -> startMs, "end_ms" -> endMs)
}

/** Engine counters summed over the Spark work of one layer. */
final class LayerAcc {
  var cpuNs, runMs, gcMs, schedWaitMs = 0L
  var tasks, failedTasks, stages, jobs = 0L
  var shuffleWrite, shuffleRead, spill, inBytes, outBytes, recIn, recOut = 0L
  var planMs, execMs = 0.0

  def +=(o: LayerAcc): Unit = {
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs; schedWaitMs += o.schedWaitMs
    tasks += o.tasks; failedTasks += o.failedTasks; stages += o.stages; jobs += o.jobs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    inBytes += o.inBytes; outBytes += o.outBytes; recIn += o.recIn; recOut += o.recOut
    planMs += o.planMs; execMs += o.execMs
  }

  def toMap: Map[String, Double] = Map(
    "cpu_s" -> cpuNs / 1e9, "run_s" -> runMs / 1e3, "gc_s" -> gcMs / 1e3,
    "sched_wait_s" -> schedWaitMs / 1e3, "tasks" -> tasks.toDouble,
    "failed_tasks" -> failedTasks.toDouble, "stages" -> stages.toDouble,
    "jobs" -> jobs.toDouble, "shuffle_write_bytes" -> shuffleWrite.toDouble,
    "shuffle_read_bytes" -> shuffleRead.toDouble, "spill_bytes" -> spill.toDouble,
    "input_bytes" -> inBytes.toDouble, "output_bytes" -> outBytes.toDouble,
    "records_in" -> recIn.toDouble, "records_out" -> recOut.toDouble,
    "plan_ms" -> planMs, "exec_ms" -> execMs)
}

/** The traced run's recorder. The benchmark wraps each public call it
  * makes in [[call]], which opens a span and sets a Spark job group named
  * after it; a SparkListener attributes jobs, stages, task metrics and SQL
  * executions (with their QueryPlanningTracker phases) to that group.
  * Everything stays in memory until the
  * run ends. Streaming micro-batches are recorded by the workload through
  * [[addSpan]] and attributed through [[alias]] (a stream's job group is
  * its run id, known only once the stream has started, so aliases apply
  * when the trace is read).
  */
final class Tracer(val run: String) extends SparkListener {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val aliases = TrieMap.empty[String, String]
  private val jobCall = TrieMap.empty[Int, String]
  private val jobStart = TrieMap.empty[Int, Long]
  private val stageJob = TrieMap.empty[Int, Int]
  private val stageSubmit = TrieMap.empty[Int, Long]
  private val execCall = TrieMap.empty[Long, String]
  private val execStart = TrieMap.empty[Long, Long]
  private val accs = TrieMap.empty[String, LayerAcc]
  private val seq = new java.util.concurrent.atomic.AtomicLong()

  private def acc(callId: String): LayerAcc =
    accs.getOrElseUpdate(Tracer.layer(callId), new LayerAcc)

  def alias(jobGroup: String, layer: String): Unit = aliases.put(jobGroup, layer)

  def addSpan(s: Span): Unit = spans.add(s)

  /** Runs `body` as one call span of `layer`, its Spark jobs grouped
    * under the span's id.
    */
  def call[T](spark: SparkSession, layer: String)(body: => T): T = {
    val id = s"$layer#${seq.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.setJobGroup(id, layer)
    val t0 = Clock.nowMs()
    try body
    finally {
      spans.add(Span(id, layer, "", run, t0, Clock.nowMs()))
      sc.clearJobGroup()
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("unattributed")
    val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
    val callId = batch.fold(group)(b => s"$group#b$b")
    jobCall.put(e.jobId, callId)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    val a = acc(callId)
    a.synchronized { a.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobCall.get(e.jobId).foreach { c =>
      spans.add(Span(s"job${e.jobId}", s"${Tracer.layer(c)}.job", c, run,
        jobStart.getOrElse(e.jobId, e.time).toDouble, e.time.toDouble))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val job = stageJob.get(info.stageId)
    val c = job.flatMap(jobCall.get).getOrElse("unattributed")
    val a = acc(c)
    a.synchronized { a.stages += 1 }
    for (s <- info.submissionTime; f <- info.completionTime)
      spans.add(Span(s"stage${info.stageId}.${info.attemptNumber()}",
        s"${Tracer.layer(c)}.stage", job.fold("")(j => s"job$j"), run, s.toDouble, f.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = stageJob.get(e.stageId).flatMap(jobCall.get).getOrElse("unattributed")
    val a = acc(c)
    val info = e.taskInfo
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (e.reason != Success) a.failedTasks += 1
      stageSubmit.get(e.stageId).foreach(s => a.schedWaitMs += math.max(0L, info.launchTime - s))
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead
        a.recIn += m.inputMetrics.recordsRead
        a.outBytes += m.outputMetrics.bytesWritten
        a.recOut += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val group = s.jobGroupId.getOrElse("unattributed")
      execCall.put(s.executionId, group)
      execStart.put(s.executionId, s.time)
    case f: SparkListenerSQLExecutionEnd =>
      for (c <- execCall.get(f.executionId); (planMs, s, t) <- Shim.planning(f)) {
        val a = acc(c)
        a.synchronized {
          a.planMs += planMs
          a.execMs += f.time - execStart.getOrElse(f.executionId, f.time)
        }
        spans.add(Span(s"plan${f.executionId}", s"${Tracer.layer(c)}.plan", c, run, s, t))
      }
    case _ => ()
  }

  /** `key` with a stream run id at its front replaced by its layer. */
  private def resolve(key: String): String =
    aliases.collectFirst { case (g, l) if key.startsWith(g) => l + key.drop(g.length) }
      .getOrElse(key)

  /** Every span recorded so far. */
  def finish(): Seq[Span] = spans.asScala.toSeq.map(s =>
    s.copy(id = resolve(s.id), name = resolve(s.name), parent = resolve(s.parent)))

  def layers: Map[String, LayerAcc] = {
    val out = scala.collection.mutable.Map.empty[String, LayerAcc]
    accs.foreach { case (k, a) => out.getOrElseUpdate(resolve(k), new LayerAcc) += a }
    out.toMap
  }
}

object Tracer {
  def layer(callId: String): String = callId.takeWhile(_ != '#')

  /** Self time per span id: duration minus the part of it covered by
    * the union of its children's intervals (clipped to the span).
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      iv.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      s.id -> math.max(0.0, s.durMs - covered)
    }.toMap
  }
}

/** Epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
