package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The incremental SURVIVOR closure (round 16): the per-cluster
  * canonical-survivor table the cluster state maintains under each
  * merge must equal — row for row, including cluster sizes and
  * bit-exact quality scores — the from-scratch q53 selection over the
  * grown corpus, across single and chained increments, label-absorbing
  * merges (tombstones), and crash-replayed batches. Plus the writer
  * lock, the GC grace window, and the saturating-bucket fixture of the
  * global cap.
  */
class ClusterSurvivorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docsAll: DataFrame =
    Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text", "n_chars")

  private def survMap(df: DataFrame): Map[Long, (Long, Long, Double)] =
    df.select("doc_id", "cluster_id", "cluster_size", "quality").collect()
      .map(r => r.getLong(1) -> ((r.getLong(0), r.getLong(2), r.getDouble(3))))
      .toMap

  /** From-scratch q53 selection restricted to clustered families. */
  private def scratchSurvivors(docs: DataFrame, map: DataFrame)
      : Map[Long, (Long, Long, Double)] =
    survMap(Dedup.canonicalDocs(docs, map).filter(col("cluster_size") >= 2))

  test("one +10% increment reproduces the from-scratch survivor selection") {
    val dir = java.nio.file.Files.createTempDirectory("sstate1").toString
    Dedup.syncClusterState(spark, dir, docsAll.filter(col("doc_id") % 10 =!= 9))
    val map = Dedup.syncClusterState(spark, dir, docsAll)
    val incr = survMap(Dedup.readSurvivorState(spark, dir))
    assert(incr == scratchSurvivors(docsAll, map),
      "incremental survivor table diverged from from-scratch canonicalDocs")
  }

  test("chained increments (80% +10% +10%) keep survivors exact, with " +
      "tombstoned labels absent") {
    val dir = java.nio.file.Files.createTempDirectory("sstate2").toString
    Dedup.syncClusterState(spark, dir, docsAll.filter(col("doc_id") % 10 < 8))
    Dedup.syncClusterState(spark, dir, docsAll.filter(col("doc_id") % 10 < 9))
    val map = Dedup.syncClusterState(spark, dir, docsAll)
    val surv = Dedup.readSurvivorState(spark, dir)
    assert(survMap(surv) == scratchSurvivors(docsAll, map))
    // every surviving label is a live cluster id — no absorbed label
    // leaks through the tombstone fold
    val live = map.select("cluster_id").distinct().collect()
      .map(_.getLong(0)).toSet
    val labels = surv.select("cluster_id").collect().map(_.getLong(0)).toSet
    assert(labels == live,
      s"survivor labels must be exactly the live cluster ids")
  }

  test("a cross-batch merge absorbs a cluster: its old label is " +
      "tombstoned and the survivor re-decides from stored rows only") {
    import spark.implicits._
    // batch 1: {10,11} identical, {20,21} identical — two clusters.
    // batch 2: doc 5 bridges both families (identical text), merging
    // them under min label 5; labels 10 and 20 must vanish.
    val t1 = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val t2 = (1 to 30).map(i => s"beta$i").mkString(" ")
    val tb = t1 // the bridge shares family-1 text
    val b1 = Seq((10L, t1), (11L, t1), (20L, t2), (21L, t2))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("sstate3").toString
    Dedup.syncClusterState(spark, dir, b1)
    val s1 = survMap(Dedup.readSurvivorState(spark, dir))
    assert(s1.keySet == Set(10L, 20L) && s1(10L)._2 == 2L)
    val map = Dedup.syncClusterState(spark, dir,
      b1.unionByName(Seq((5L, tb)).toDF("doc_id", "text")))
    val s2 = survMap(Dedup.readSurvivorState(spark, dir))
    // family 1 re-labeled to 5 with size 3; family 2 untouched
    assert(map.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      .filterKeys(Set(5L, 10L, 11L)).toMap ==
      Map(5L -> 5L, 10L -> 5L, 11L -> 5L))
    assert(s2.contains(5L) && s2(5L)._2 == 3L, s"merged family: $s2")
    assert(!s2.contains(10L), "absorbed label 10 must be tombstoned")
    assert(s2.contains(20L) && s2(20L) == s1(20L),
      "untouched family must keep its stored survivor row verbatim")
  }

  test("a rolled-back (crash-replayed) batch leaves survivors identical") {
    val dir = java.nio.file.Files.createTempDirectory("sstate4").toString
    Dedup.syncClusterState(spark, dir, docsAll.filter(col("doc_id") % 10 =!= 9))
    Dedup.syncClusterState(spark, dir, docsAll)
    val before = survMap(Dedup.readSurvivorState(spark, dir))
    graft.StateFiles.writePointer(dir, 1, 1) // lose the flip
    val map = Dedup.syncClusterState(spark, dir, docsAll)
    assert(survMap(Dedup.readSurvivorState(spark, dir)) == before)
    assert(before == scratchSurvivors(docsAll, map))
  }

  test("a second writer on a locked state dir fails loudly, not torn") {
    val dir = java.nio.file.Files.createTempDirectory("sstate5").toString
    Dedup.syncClusterState(spark, dir,
      docsAll.filter(col("doc_id") % 10 === 0))
    val err = intercept[IllegalStateException] {
      graft.StateFiles.withWriterLock(dir) {
        // the advertised two-writer hazard: a batch sync starting
        // while another writer holds the dir
        Dedup.syncClusterState(spark, dir, docsAll)
      }
    }
    assert(err.getMessage.contains("locked by another writer"))
    // the state is untouched by the refused writer
    val (latest, base) = graft.StateFiles.readPointer(dir)
    assert((latest, base) == (1, 1), "refused writer must not move state")
  }

  test("saturating bucket: global cap, corner trace and reconcile") {
    import spark.implicits._
    // 80 identical base docs fill every band bucket to 80 (<= cap 100);
    // an 80-doc identical batch pushes the true size to 160 (> cap).
    val text = (1 to 25).map(i => s"sat$i").mkString(" ")
    val base = (0L until 80L).map(i => (i * 2, text)).toDF("doc_id", "text")
    val full = base.unionByName(
      (0L until 80L).map(i => (1000L + i, text)).toDF("doc_id", "text"))

    val gDir = java.nio.file.Files.createTempDirectory("satg").toString
    Dedup.syncClusterState(spark, gDir, base)
    val gMap = Dedup.syncClusterState(spark, gDir, full)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val baseMap = Map((0L until 80L).map(i => (i * 2) -> 0L): _*)
    assert(gMap == baseMap,
      "global cap must refuse a saturated bucket's batch edges entirely")

    // the from-scratch rebuild of the grown corpus drops the
    // 160-member buckets entirely: its map is EMPTY, and the
    // incremental residue (the base family, committed before the
    // crossing) must trace 100% to the corner-bucket membership
    val rebuild = Dedup.dupClusters(Dedup.candidatePairsOf(full))
    assert(rebuild.isEmpty, "rebuild must drop the saturated bucket")
    val corner = Dedup.capCornerMembers(full, col("doc_id") < 1000L)
      .collect().map(_.getLong(0)).toSet
    assert(gMap.keySet.subsetOf(corner),
      "every residual diff row must be a corner-bucket member")

    // RECONCILE (round 17): the residue IS the crossing corner — edges
    // committed while the bucket was under the cap. A reconciling
    // compaction re-derives eligibility from the index + saturation
    // markers, so the reconciled map must equal the (empty) rebuild and
    // the survivor table must follow it.
    Dedup.reconcileClusterState(spark, gDir)
    assert(Dedup.readClusterState(spark, gDir).isEmpty,
      "reconcile must retire edges committed before the bucket crossed")
    assert(Dedup.readSurvivorState(spark, gDir).isEmpty,
      "reconciled survivors must re-derive from the reconciled map")
  }

  test("100 micro-batches: version dirs stay bounded and a pre-update " +
      "reader survives the in-update gc") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("soak").toString
    def doc(i: Long): (Long, String) =
      (i, (1 to 20).map(w => s"d${i / 2}w$w").mkString(" "))
    Dedup.syncClusterState(spark, dir, Seq(doc(0L)).toDF("doc_id", "text"))
    var snapshot = Seq(doc(0L))
    (1L to 100L).foreach { i =>
      snapshot = snapshot :+ doc(i)
      Dedup.syncClusterState(spark, dir,
        snapshot.toDF("doc_id", "text"), maxDeltaVersions = 6)
    }
    // bounded: live span <= maxDeltaVersions + compaction, plus ONE
    // grace generation behind it
    val onDisk = new java.io.File(dir).list().count(_.startsWith("clusters_v"))
    assert(onDisk <= 2 * (6 + 2),
      s"version dirs must stay bounded under micro-batches, got $onDisk")
    // the CURRENT pointer's versions must all be readable after gc
    val cur = Dedup.readClusterState(spark, dir).count()
    assert(cur > 0)
    // pairs (2i, 2i+1) share text => 50 clusters of 2 at i=100
    assert(cur == 100L, s"soaked map must hold the 50 planted pairs: $cur")
    // a reader from immediately before the LAST update (within the
    // grace window by construction) still collects
    val justBefore = Dedup.readClusterState(spark, dir)
    Dedup.syncClusterState(spark, dir,
      (snapshot :+ doc(101L)).toDF("doc_id", "text"), maxDeltaVersions = 6)
    assert(justBefore.count() >= 100L,
      "a reader from before the latest update must survive its gc")
  }
}
