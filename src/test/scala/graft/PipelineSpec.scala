package graft

import graft.tools.Pipeline
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end domain pipeline (SURVEY.md §3). */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("full pipeline: ingest → normalize → union → load → risk top-k") {
    val dir = Files.createTempDirectory("pipe").toString
    Pipeline.writeFixtures(dir)
    val top = Pipeline.run(spark, dir).collect()
    assert(top.length == 5) // MINT1..MINT5
    val byMint = top.map(r => r.getAs[String]("mint") -> r).toMap
    val m1 = byMint("MINT1")
    // 2 shape-2 transfers + 1 shape-1 transfer + 1 websocket row
    assert(m1.getAs[Long]("total_transfers") == 4)
    assert(m1.getAs[Long]("swap_sellers") == 1) // alice's SWAP
    assert(m1.getAs[String]("token_name") == "Token1")
    top.foreach { r =>
      val s = r.getAs[Double]("safety_score")
      assert(s >= 0.0 && s <= 100.0)
      assert(r.getAs[String]("explanation").contains("overall:"))
    }
    // canonical load exists and has the 15-column schema
    val cleaned = spark.read.parquet(s"$dir/cleaned_parquet")
    assert(cleaned.columns.length == 15)
    assert(cleaned.count() == 9) // 3 shape2 (incl. empty-transfer row) + 1 shape1 + 5 events
  }

  test("full pipeline over the DSv2 feed source (S1 production path)") {
    val dir = Files.createTempDirectory("pipefeed").toString
    Pipeline.writeFixtures(dir) // helius fixtures; events go via the feed
    Pipeline.postFeedFixtures("pipe_feed")
    val top = Pipeline.runFromFeed(spark, dir, "pipe_feed").collect()
    assert(top.length == 5) // same result as the drop-dir path
    val m1 = top.map(r => r.getAs[String]("mint") -> r).toMap.apply("MINT1")
    assert(m1.getAs[Long]("total_transfers") == 4)
    assert(m1.getAs[String]("token_name") == "Token1")
    assert(spark.read.parquet(s"$dir/cleaned_parquet").count() == 9)
  }

  test("feed pipeline drops re-posted duplicate events before the canonical load") {
    val dir = Files.createTempDirectory("pipedup").toString
    Pipeline.writeFixtures(dir)
    graft.sources.FeedRegistry.clear("pipe_dup")
    // 5 originals, then message 1 re-posted twice (offsets 5 and 6 —
    // with cap 2 the copies arrive in later micro-batches)
    graft.sources.FeedRegistry.post("pipe_dup",
      (1 to 5).map(Pipeline.feedFixture) ++
        Seq(Pipeline.feedFixture(1), Pipeline.feedFixture(1)): _*)
    val top = Pipeline.runFromFeed(spark, dir, "pipe_dup").collect()
    // verdicts: originals are self-referential; the copies point at the
    // original's offset with increasing prior counts, across batches
    val v = spark.read.parquet(s"$dir/stage_verdicts").collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("dup_of"), r.getAs[Long]("n_prior")))).toMap
    assert(v.size == 7, s"verdicts: $v")
    assert((0L to 4L).forall(i => v(i)._1 == i), s"verdicts: $v")
    assert(v(5L) == (0L, 1L) && v(6L) == (0L, 2L), s"verdicts: $v")
    val kept = spark.read.parquet(s"$dir/stage_raw_dedup")
    assert(kept.count() == 5, s"deduped raw kept ${kept.count()} rows")
    assert(top.length == 5)
    val m1 = top.map(r => r.getAs[String]("mint") -> r).toMap.apply("MINT1")
    assert(m1.getAs[Long]("total_transfers") == 4) // dup copies dropped, not 6
    assert(spark.read.parquet(s"$dir/cleaned_parquet").count() == 9)
  }
}
