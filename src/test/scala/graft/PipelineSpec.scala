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
}
