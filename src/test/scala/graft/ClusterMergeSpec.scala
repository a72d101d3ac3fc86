package graft

import graft.operators.Dedup
import graft.tools.Curate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The incremental cluster-map closure (round 15): merging a batch's
  * verified edges into the STORED cluster map must reproduce — exactly,
  * on a corpus where the mega-bucket corner stays silent — the map a
  * full from-scratch re-cluster of the grown corpus computes, across
  * one increment, chained increments, crash-replayed increments, and
  * the Curate dedup head running with persistent state.
  */
class ClusterMergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docsAll: DataFrame =
    Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")

  private def asMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private lazy val fullRebuild: Map[Long, Long] =
    asMap(Dedup.dupClusters(Dedup.candidatePairsOf(docsAll)))

  test("one +10% increment reproduces the full from-scratch re-cluster") {
    val dir = java.nio.file.Files.createTempDirectory("cstate1").toString
    val (_, initJobs) = TestSpark.countJobs(Dedup.syncClusterState(spark,
      dir, docsAll.filter(col("doc_id") % 10 =!= 9)))
    val (map, updateJobs) = TestSpark.countJobs(
      Dedup.syncClusterState(spark, dir, docsAll))
    val merged = asMap(map)
    assert(merged == fullRebuild,
      "incremental merge diverged from the full rebuild")
    // the job counts of a first sync and of a plain update, pinned at
    // the counts measured when the first sync became the update of an
    // empty store (local[4], 4 shuffle partitions)
    info(s"jobs: first sync $initJobs, plain update $updateJobs")
    assert(initJobs <= 113, s"first sync ran $initJobs jobs")
    assert(updateJobs <= 66, s"plain update ran $updateJobs jobs")
  }

  test("chained increments (80% +10% +10%) converge to the same map") {
    val dir = java.nio.file.Files.createTempDirectory("cstate2").toString
    Dedup.syncClusterState(spark, dir, docsAll.filter(col("doc_id") % 10 < 8))
    Dedup.syncClusterState(spark, dir,
      docsAll.filter(col("doc_id") % 10 < 9))
    val merged = asMap(Dedup.syncClusterState(spark, dir, docsAll))
    assert(merged == fullRebuild,
      "two chained increments diverged from the full rebuild")
  }

  test("an unchanged snapshot is a no-op (no version bump, same map)") {
    val dir = java.nio.file.Files.createTempDirectory("cstate3").toString
    Dedup.syncClusterState(spark, dir, docsAll)
    val before = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_LATEST"))
    val again = asMap(Dedup.syncClusterState(spark, dir, docsAll))
    val after = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_LATEST"))
    assert(before == after, "no-op snapshot bumped the map version/base")
    assert(again == fullRebuild)
  }

  test("a crash-replayed batch is a fixpoint (map unchanged by the re-run)") {
    val dir = java.nio.file.Files.createTempDirectory("cstate4").toString
    Dedup.syncClusterState(spark, dir, docsAll.filter(col("doc_id") % 10 =!= 9))
    val v1 = asMap(Dedup.syncClusterState(spark, dir, docsAll))
    // simulate the documented crash window: every version-2 artifact
    // landed but the pointer flip was LOST — roll the pointer back to
    // v1 with orphan v2 dirs on disk. The replay derives the batch
    // from the COMMITTED roster (which excludes it), recomputes the
    // same version, and overwrites the orphans with identical content.
    graft.StateFiles.writePointer(dir, 1, 1)
    val v2 = asMap(Dedup.syncClusterState(spark, dir, docsAll))
    assert(v2 == v1, "crash-replayed batch changed the merged map")
    assert(v2 == fullRebuild)
    // post-flip replay: the same snapshot again is a no-op
    val ptr = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_LATEST"))
    Dedup.syncClusterState(spark, dir, docsAll)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_LATEST")) == ptr,
      "replay after a completed flip must not bump the version")
  }

  test("gc removes only versions below the base and readers still resolve") {
    val dir = java.nio.file.Files.createTempDirectory("cstate5").toString
    Dedup.syncClusterState(spark, dir, docsAll.filter(col("doc_id") % 10 < 8))
    Dedup.syncClusterState(spark, dir, docsAll.filter(col("doc_id") % 10 < 9))
    Dedup.syncClusterState(spark, dir, docsAll)
    val (latest, base) = {
      val parts = java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, "_LATEST")).trim.split("\\s+")
      (parts(0).toInt, parts(1).toInt)
    }
    Dedup.gcClusterState(dir)
    val tables = Seq("clusters", "survivors", "band_index", "saturated", "ids")
    (1 until base).foreach(v => tables.foreach(t =>
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, s"${t}_v$v")),
        s"gc must remove ${t}_v$v below base=$base")))
    (base to latest).foreach(v => tables.foreach(t =>
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, s"${t}_v$v")),
        s"gc must not touch live ${t}_v$v")))
    assert(asMap(Dedup.readClusterState(spark, dir)) == fullRebuild,
      "stored map must still resolve after gc")
  }

  test("token-state compaction merges parts without changing a single row") {
    import graft.operators.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("tstate").toString
    def tokSet(df: DataFrame): Map[(Long, String), Long] = df.collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // three growing snapshots with maxParts = 3: the third sync trips
    // the part-count compaction
    TextAnalysis.syncTokenState(spark, dir,
      docsAll.filter(col("doc_id") % 10 < 8), maxParts = 3)
    TextAnalysis.syncTokenState(spark, dir,
      docsAll.filter(col("doc_id") % 10 < 9), maxParts = 3)
    val folded = tokSet(
      TextAnalysis.syncTokenState(spark, dir, docsAll, maxParts = 3))
    val ptr = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_LATEST")).trim.split("\\s+")
    assert(ptr(0) == ptr(1) && ptr(0).toInt >= 4,
      s"third sync must compact (latest == base), got ${ptr.mkString(" ")}")
    val scratch = tokSet(docsAll
      .select(col("doc_id"),
        explode(split(coalesce(col("text"), lit("")), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt")))
    assert(folded == scratch, "compaction changed artifact content")
    // a fourth sync on an unchanged snapshot is a no-op on the pointer
    TextAnalysis.syncTokenState(spark, dir, docsAll, maxParts = 3)
    val ptr2 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_LATEST")).trim
    assert(ptr2 == ptr.mkString(" "), "no-op snapshot moved the pointer")
  }

  test("reconciling compaction reproduces the rebuild and a mid-reconcile " +
      "crash replays to a fixpoint") {
    val dir = java.nio.file.Files.createTempDirectory("cstate-rec").toString
    Dedup.syncClusterState(spark, dir, docsAll.filter(col("doc_id") % 10 < 8))
    Dedup.syncClusterState(spark, dir, docsAll.filter(col("doc_id") % 10 < 9))
    Dedup.syncClusterState(spark, dir, docsAll)
    val prePtr = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_LATEST"))
    val rec = asMap(Dedup.reconcileClusterState(spark, dir))
    assert(rec == fullRebuild,
      "reconciled map diverged from the from-scratch rebuild")
    val postPtr = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_LATEST"))
    val parts = postPtr.trim.split("\\s+").map(_.toInt)
    assert(parts(0) == parts(1), "reconcile must land as a full compaction")
    // survivors re-derived exactly: from-scratch q53 over the new map
    val surv = Dedup.readSurvivorState(spark, dir)
      .select("doc_id", "cluster_id", "cluster_size").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val scratch = Dedup.canonicalDocs(
        Tables.documents(spark, TestSpark.sf0001)
          .select("doc_id", "text", "n_chars"),
        Dedup.readClusterState(spark, dir))
      .filter(col("cluster_size") >= 2)
      .select("doc_id", "cluster_id", "cluster_size").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(surv == scratch,
      "reconciled survivor table diverged from from-scratch canonicalDocs")
    // crash window: every reconcile artifact landed, the pointer flip
    // was lost — roll the pointer back over the orphan dirs; the replay
    // recomputes the same version and overwrites with identical content
    val pre = prePtr.trim.split("\\s+").map(_.toInt)
    graft.StateFiles.writePointer(dir, pre(0), pre(1))
    val rec2 = asMap(Dedup.reconcileClusterState(spark, dir))
    assert(rec2 == fullRebuild, "crash-replayed reconcile changed the map")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_LATEST")) == postPtr,
      "replayed reconcile must land on the same version")
  }

  test("a legacy state dir (pointer, no format marker) fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("cstate-legacy").toString
    graft.StateFiles.writePointer(dir, 1, 1)
    val e = intercept[IllegalStateException] {
      Dedup.readClusterState(spark, dir)
    }
    assert(e.getMessage.contains("legacy"),
      s"expected an explicit legacy-layout error, got: ${e.getMessage}")
  }

  test("init band bookkeeping runs as aggregate/join — no per-row window " +
      "over the band key (hot-bucket skew)") {
    val dir = java.nio.file.Files.createTempDirectory("cstate-init").toString
    val (_, plans) = TestSpark.executedPlans(
      Dedup.syncClusterState(spark, dir, docsAll))
    assert(plans.nonEmpty, "the first sync must run its queries")
    plans.map(_.toString).foreach(plan =>
      assert(!plan.contains("Window"),
        s"a first sync's plan must not contain a WindowExec:\n$plan"))
    // and the stored index slice is the corpus' band rows in buckets
    // of at most 100 (the band cap)
    val stored = spark.read.parquet(s"$dir/band_index_v1")
      .select("bk", "idx_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val bands = Dedup.sigBandRows(docsAll)
    val fresh = bands
      .join(bands.groupBy("bk").count().filter(col("count") <= 100), "bk")
      .select("bk", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(stored == fresh)
  }

  test("merge handles an edge between two docs the map has never seen") {
    import spark.implicits._
    val old = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster_id")
    val edges = Seq((10L, 11L), (11L, 2L)).toDF("doc_a", "doc_b")
    val merged = asMap(Dedup.mergeIntoClusters(old, edges))
    // 10–11–2 link the unseen pair into cluster 1; doc 1 untouched
    assert(merged == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L))
  }

  test("a batch doc with the smallest id becomes the merged representative") {
    import spark.implicits._
    val old = Seq((5L, 5L), (7L, 5L)).toDF("doc_id", "cluster_id")
    val edges = Seq((2L, 7L)).toDF("doc_a", "doc_b")
    val merged = asMap(Dedup.mergeIntoClusters(old, edges))
    assert(merged == Map(2L -> 2L, 5L -> 2L, 7L -> 2L),
      "min-label must flow from the batch doc into the touched cluster")
  }

  // ---- the Curate closure: run-2 on a grown corpus via stored state ----

  /** A corpus dir holding only the tables Curate reads, filtered by a
    * doc_id predicate from the sf0.001 fixture.
    */
  private def corpusDir(keep: org.apache.spark.sql.Column): String = {
    val dir = java.nio.file.Files.createTempDirectory("corpus").toString
    Tables.documents(spark, TestSpark.sf0001).filter(keep)
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    Tables.embeddings(spark, TestSpark.sf0001)
      .join(Tables.documents(spark, TestSpark.sf0001).filter(keep)
        .select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("Curate run-2 on a +10% corpus folds the batch into stored state " +
      "and matches the from-scratch cluster map") {
    val base = corpusDir(col("doc_id") % 10 =!= 9)
    val grown = corpusDir(lit(true))
    val state = java.nio.file.Files.createTempDirectory("curate-cs").toString
    val out1 = java.nio.file.Files.createTempDirectory("curate-i1").toString
    val out2 = java.nio.file.Files.createTempDirectory("curate-i2").toString

    def latest(): Int = java.nio.file.Files.readString(
      java.nio.file.Paths.get(state, "clusters", "_LATEST")).trim.split("\\s+")(0).toInt

    val t1 = System.nanoTime()
    Curate.run(spark, base, out1, stateDir = Some(state))
    val w1 = (System.nanoTime() - t1) / 1e9
    assert(latest() == 1)

    val t2 = System.nanoTime()
    val c2 = Curate.run(spark, grown, out2, stateDir = Some(state))
    val w2 = (System.nanoTime() - t2) / 1e9
    // run-2 folded the batch in incrementally: one delta version, plus
    // at most one compaction version on top — never a re-init to v1
    assert(latest() == 2 || latest() == 3,
      s"run-2 must fold the batch in incrementally, got v${latest()}")

    // the stored map after run-2 equals the from-scratch re-cluster of
    // the grown corpus — the identity that makes incremental Curate
    // safe to substitute for the full dedup head
    val stored = asMap(Dedup.readClusterState(spark, s"$state/clusters"))
    assert(stored == fullRebuild,
      "Curate's incremental state diverged from the full re-cluster")

    // the incremental TOKEN artifact is row-identical to a from-scratch
    // tokenize of the grown corpus (the exactness that makes it safe)
    def tokSet(df: DataFrame): Map[(Long, String), Long] = df.collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val stateTokens = tokSet(
      graft.operators.TextAnalysis.readTokenState(spark, s"$state/tokens"))
    val scratchTokens = tokSet(Tables.documents(spark, grown)
      .select(col("doc_id"),
        explode(split(coalesce(col("text"), lit("")), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt")))
    assert(stateTokens == scratchTokens,
      "incremental token artifact diverged from a from-scratch tokenize")

    // and the pipeline consumed it: run-2's outputs are a valid curation
    // of the grown corpus (non-degenerate stage flow)
    assert(c2.input == docsAll.count())
    assert(c2.afterDedup > 0 && c2.afterDedup <= c2.input)
    info(f"curate wall: base-init $w1%.1f s, +10%% incremental $w2%.1f s")
  }
}
