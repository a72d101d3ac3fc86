package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    System.setProperty("derby.system.home", wh)
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$wh/warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"

  /** One executed (AQE-final) plan per registry query at sf0.001,
    * memoized across suites: ScanBudgetSpec and PlanShapeSpec both
    * sweep the whole registry's FINAL plans, and each sweep costs a
    * full query execution per entry — sharing the cache keeps the
    * registry-wide plan invariants at one execution total.
    */
  private val planCache =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.execution.SparkPlan]

  def executedPlan(name: String): org.apache.spark.sql.execution.SparkPlan =
    planCache.getOrElseUpdate(name, {
      val df = Registry.byName(name).run(spark, sf0001)
      df.collect() // drive AQE to the final plan
      df.queryExecution.executedPlan
    })

  /** `f`'s result and the number of Spark jobs started while it ran. */
  def countJobs[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet()
        ()
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try { val a = f; ListenerBusDrain(sc); (a, n.get) }
    finally sc.removeSparkListener(l)
  }

  /** `f`'s result and the executed plan of every query it ran. */
  def executedPlans[A](f: => A): (A, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(name: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(l)
    try {
      val a = f
      ListenerBusDrain(spark.sparkContext)
      (a, plans.toArray(Array.empty[SparkPlan]).toSeq)
    } finally spark.listenerManager.unregister(l)
  }
}
