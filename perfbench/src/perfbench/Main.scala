package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: `perfbench.Main <config.json>`.
  *
  * Sets the session up once (a SparkSession sized `local[nproc]`, the
  * workload's load and one warm pass), settles, then measures the
  * workload for `seconds` with tracing off. A traced run gives half the
  * time to that untraced pass and half to a pass with the SparkListener
  * tracer on; the difference between the two is the tracing overhead.
  * The record, and in a traced run the spans, are written as JSON for
  * run.py.
  */
object Main {

  /** Samples used heap every few milliseconds; the maximum is the peak. */
  private final class HeapSampler extends Thread("perfbench-heap") {
    @volatile var running = true
    @volatile var peak = 0L
    setDaemon(true)
    override def run(): Unit = {
      val mem = ManagementFactory.getMemoryMXBean
      while (running) {
        peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
        Thread.sleep(5)
      }
    }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def gcCount(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionCount).sum

  private def summary(r: Result): Map[String, Any] = Map(
    "ops" -> r.latMs.length, "p50_ms" -> Workload.median(r.latMs),
    "p90_ms" -> Workload.quantile(r.latMs, 0.9), "throughput_per_s" -> r.throughput,
    "attempted" -> r.attempted, "failed" -> r.failed,
    "named" -> r.named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "layer" -> r.layer, "checks" -> r.checks)

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val cfg = json.readTree(new java.io.File(args(0)))
    val name = cfg.get("workload").asText()
    val nproc = cfg.get("nproc").asInt()
    val seconds = cfg.get("seconds").asDouble()
    val traced = cfg.get("trace").asBoolean()
    val jvmStartS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val w = Workload(cfg)
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(s"perfbench-$name", nproc.toString)
    w.setup(spark)
    val setupS = (System.nanoTime() - t0) / 1e9
    val record = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> name, "jvm_start_s" -> jvmStartS, "setup_s" -> setupS,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    try {
      w.settle(spark, cfg.get("settle_seconds").asDouble())
      // a traced run splits its time between the untraced and the traced pass
      val phaseS = if (traced) seconds / 2 else seconds
      // the peak spans both passes of a traced run
      val sampler = new HeapSampler
      sampler.start()
      val plain = w.measure(spark, phaseS, new Calls(None))
      record ++= Seq("plain" -> summary(plain))
      if (traced) {
        val tracer = new Tracer(java.util.UUID.randomUUID().toString)
        spark.sparkContext.addSparkListener(tracer)
        val gc0 = gcMs(); val gcn0 = gcCount()
        val traceT0 = Clock.nowMs()
        val res = w.measure(spark, phaseS, new Calls(Some(tracer)))
        val wallMs = Clock.nowMs() - traceT0
        val gcS = (gcMs() - gc0) / 1e3; val gcN = gcCount() - gcn0
        org.apache.spark.sql.perfbenchshim.Shim.drain(spark.sparkContext)
        val spans = tracer.finish()
        val self = Tracer.selfTimes(spans)
        // call and batch spans are the roots; their self time is driver-side
        // work outside any Spark job
        val roots = spans.filter(_.parent.isEmpty)
        val layers = tracer.layers.map { case (l, a) =>
          val mine = roots.filter(s => Tracer.layer(s.id) == l)
          l -> (a.toMap ++ Map(
            "calls" -> mine.length.toDouble,
            "wall_s" -> mine.map(_.durMs).sum / 1e3,
            "self_s" -> mine.map(s => self(s.id)).sum / 1e3))
        }
        val spanFile = cfg.get("spans").asText()
        json.writeValue(new java.io.File(spanFile),
          spans.map(s => s.toMap + ("self_ms" -> self(s.id))))
        record ++= Seq("traced" -> summary(res), "layers" -> layers,
          "trace_wall_s" -> wallMs / 1e3, "jvm_gc_s" -> gcS, "jvm_gc_count" -> gcN,
          "driver_self_s" -> roots.map(s => self(s.id)).sum / 1e3)
        spark.sparkContext.removeSparkListener(tracer)
      }
      sampler.running = false
      sampler.join()
      record ++= Seq("peak_heap_mb" -> sampler.peak / 1048576.0)
    } finally {
      w.close()
      json.writeValue(new java.io.File(cfg.get("out").asText()), record)
      spark.stop()
    }
  }
}
