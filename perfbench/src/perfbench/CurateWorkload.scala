package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.tools.Curate
import org.apache.spark.sql.SparkSession

/** corpus_curate — the LLM-data extension: `Curate.run` over a generated
  * `documents` + `embeddings` corpus with planted near-duplicate families
  * and paraphrase pairs. The `Curate` command line runs it once per JVM,
  * so there is no warm pass: set-up is the session alone and the first
  * measured run is the JVM's first. Every run curates a fresh copy of the
  * corpus, so the per-JVM fingerprint-keyed stage caches see a new corpus
  * each time, as a new corpus would.
  */
final class CurateWorkload(cfg: JsonNode) extends Workload {
  private val in = cfg.get("input").asText()
  private val work = cfg.get("work").asText()
  private val docs = cfg.get("facts").get("docs").asLong()
  private var seq = 0

  private def fresh(): (String, String) = {
    seq += 1
    val corpus = s"$work/corpus_$seq"
    Workload.copyTree(in, corpus)
    (corpus, s"$work/curated_$seq")
  }

  override def setup(spark: SparkSession): Unit = ()

  override def measure(spark: SparkSession, seconds: Double, calls: Calls): Result = {
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val walls = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    val counts = scala.collection.mutable.ArrayBuffer.empty[Curate.StageCounts]
    var last = ("", "")
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (lat.isEmpty || System.nanoTime() < deadline) {
      val (corpus, out) = fresh()
      val t0 = System.nanoTime()
      counts += calls(spark, "curate.run")(Curate.run(spark, corpus, out, stageWalls = Some(walls)))
      lat += (System.nanoTime() - t0) / 1e6
      if (last._1.nonEmpty) { Workload.deleteTree(last._1); Workload.deleteTree(last._2) }
      last = (corpus, out)
    }
    val c = counts.head
    val monotone = counts.forall(x => x == c) &&
      c.input >= c.afterDedup && c.afterDedup >= c.afterSemDedup &&
      c.afterSemDedup >= c.afterQuality && c.afterQuality >= c.afterMixture &&
      c.train + c.val_ + c.testClean + c.testDropped == c.afterMixture &&
      c.input == docs
    if (!monotone) System.err.println(s"corpus_curate: stage counts not monotone or not stable: $counts")
    val docsPerS = docs * lat.length / (lat.sum / 1e3)
    val stageS = walls.groupBy(_._1).map { case (k, xs) => s"curate.${k}_s" -> xs.map(_._2).sum / lat.length }
    Result(lat.toSeq, docsPerS, lat.length, if (monotone) 0L else lat.length.toLong,
      named = Map("curate_docs_per_s" -> (docsPerS, "1/s")),
      layer = stageS ++ Map("curate.survivors_per_doc" -> c.afterMixture.toDouble / c.input),
      checks = Map("out_dir" -> last._2, "counts" -> Map(
        "input" -> c.input, "after_dedup" -> c.afterDedup,
        "after_sem_dedup" -> c.afterSemDedup, "after_quality" -> c.afterQuality,
        "after_mixture" -> c.afterMixture, "train" -> c.train, "val" -> c.val_,
        "test_clean" -> c.testClean, "test_dropped" -> c.testDropped)))
  }
}
