package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Ingest batches verdicted against the persisted band index: the
  * cluster state's `band_index` table, built by a `syncClusterState` of
  * the indexed corpus.
  */
class BucketingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def bandIndexOf(corpus: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("band-idx").toString
    Dedup.syncClusterState(spark, dir, corpus)
    Dedup.readBandIndex(spark, dir)
  }

  test("persisted band index joins ingest batches with no index-side exchange") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely unrelated indexed content about spark plans"),
      (3L, "another indexed document with its own distinct words"))
      .toDF("doc_id", "text")
    val index = bandIndexOf(corpus)
    val batch = Seq(
      (9L, "the quick brown fox jumps over the lazy dog tonight"),
      (10L, "fresh never-seen material with zero corpus overlap"))
      .toDF("doc_id", "text")
    val r = Dedup.incrementalAgainstIndex(batch, index).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("dup_of")).toMap
    assert(r.get(9L).contains(1L)) // near-dup of indexed doc 1
    assert(!r.contains(10L))       // novel doc passes
  }

  test("full-sketch verify separates borderline collisions from true near-dups") {
    import spark.implicits._
    // the index rows persist each doc's whole 8-slice sketch, so ingest
    // can rank collisions by slice agreement without re-reading text:
    // doc 9 is doc 1 with one word changed (most slices agree), doc 10
    // shares only a prefix with doc 1 (a band can collide — 2 matching
    // consecutive slices — while most slices differ)
    val base = "the quick brown fox jumps over the lazy dog today and " +
      "every day it runs through the quiet field near the old mill"
    val corpus = Seq(
      (1L, base),
      (2L, "completely unrelated indexed content about spark plans"))
      .toDF("doc_id", "text")
    val index = bandIndexOf(corpus)
    val batch = Seq(
      (9L, base.replace("old mill", "old barn")),
      (10L, "the quick brown fox jumps over the lazy dog cranes behind " +
        "and while rusted harbor gulls turbines docks rattle dusk beside " +
        "skies wheel"))
      .toDF("doc_id", "text")
    val r = Dedup.incrementalVerifiedAgainstIndex(batch, index).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("dup_of"), x.getAs[Double]("sig_agree"))).toMap
    r.get(9L).foreach { case (dupOf, agree) =>
      assert(dupOf == 1L && agree >= 0.75,
        s"near-identical pair must agree on most slices, got $agree")
    }
    assert(r.contains(9L), "one-word edit must still collide")
    // the borderline doc COLLIDES (shares a band with doc 1 — the
    // texts were chosen so one band's slice minima all come from the
    // shared prefix) yet agrees on only 2 of 8 slices: exactly the
    // false-positive shape a sig_agree threshold filters and the
    // band count alone cannot
    val (bDup, bAgree) = r(10L)
    assert(bDup == 1L && bAgree <= 0.25,
      s"prefix-only overlap must not look near-identical, got $bAgree")
    assert(r(9L)._2 > bAgree)
  }
}
