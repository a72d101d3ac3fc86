package graft.tools

import graft.Tables
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Scale receipt for the incremental cluster-map merge (round 15):
  * times the full from-scratch re-cluster of a corpus against the
  * incremental path (`init_s`: a first syncClusterState of 90% of the
  * corpus, the same update against the empty store; `update_s`: a
  * second sync folding in the +10% batch), asserts the two maps are
  * identical, and prints one JSON line. The `update_s` number is what
  * the Curate dedup head pays PER RUN once state exists — the full
  * re-cluster was 141 s of sf10's 183 s pipeline wall.
  *
  * Usage: IncrCluster <sfDir>
  */
object IncrCluster {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: IncrCluster <sfDir>")
    val sfDir = args(0)
    val spark = graft.GraftSession.local("graft-incr-cluster")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // full from-scratch rebuild (what Curate paid every run before)
    val (_, fullS) = timed {
      Dedup.dupClusters(Dedup.candidatePairsOf(docs)).count()
    }

    // incremental: init state on 90%, then fold the +10% batch in
    val dir = java.nio.file.Files.createTempDirectory("incr-cluster").toString
    val (_, initS) = timed {
      Dedup.syncClusterState(spark, dir, docs.filter(col("doc_id") % 10 =!= 9))
    }
    val (merged, updateS) = timed {
      val m = Dedup.syncClusterState(spark, dir, docs)
      m.count(); m
    }

    // identity check against the rebuild, row for row. Under the
    // round-16 GLOBAL cap the only permitted divergence is the
    // CROSSING corner — edges committed while a bucket was still under
    // BandCap persist after the corpus growth pushes it over (never-
    // retroactively-unlink ingest; see syncClusterState's scaladoc)
    // — and the gate is TRACEABILITY, not a mere corner count: every
    // differing doc_id must be a member of a corner bucket, so
    // arbitrary unrelated divergence fails even when corners exist
    // (the round-15 `corner > 0 || diff == 0` gate checked nothing in
    // that case). One-directionality is asserted too: the incremental
    // map may only ADD merges, never lose or relabel one the rebuild
    // has outside the corner population.
    val full = Dedup.dupClusters(Dedup.candidatePairsOf(docs))
    val diffRows = merged.withColumnRenamed("cluster_id", "m")
      .join(full, Seq("doc_id"), "full_outer")
      .filter(col("m").isNull || col("cluster_id").isNull ||
        col("m") =!= col("cluster_id"))
      .select(col("doc_id"), col("m"), col("cluster_id"))
      .localCheckpoint()
    val diff = diffRows.count()
    val cornerB = Dedup.capCornerBuckets(docs, col("doc_id") % 10 =!= 9)
      .count()
    // Traceability by COMPONENT CLOSURE (round-16 ADVICE): a crossing-
    // corner edge relabels the ENTIRE absorbed component, so a doc
    // connected to the corner family only through a normal under-cap
    // bucket legitimately diverges without itself being a corner-bucket
    // member. A diff row traces iff its component — in EITHER map —
    // contains a corner-bucket member; the direct doc_id membership
    // check stays for rows absent from one of the maps.
    val cornerDocs = Dedup.capCornerMembers(docs, col("doc_id") % 10 =!= 9)
      .localCheckpoint()
    val mCorner = merged.join(cornerDocs, Seq("doc_id"), "left_semi")
      .select(col("cluster_id").as("m")).distinct()
    val fCorner = full.join(cornerDocs, Seq("doc_id"), "left_semi")
      .select(col("cluster_id")).distinct()
    val untraced = diffRows
      .join(cornerDocs, Seq("doc_id"), "left_anti")
      .join(mCorner, Seq("m"), "left_anti")
      .join(fCorner, Seq("cluster_id"), "left_anti")
      .count()
    // rows present in the REBUILD but missing/different in the merged
    // map would mean the incremental head LOST a merge — never allowed
    val lost = diffRows.filter(col("m").isNull).count()
    val rows = merged.count()
    // RECONCILING compaction (round 17): the crossing corner is
    // inherent to never-unlink ingest, but a reconcile re-derives
    // eligibility from the state's own index + saturation markers —
    // after it the map must equal the rebuild EVERYWHERE, not just
    // trace. diff == 0 is a hard gate, not a report.
    val (_, reconS) = timed {
      Dedup.reconcileClusterState(spark, dir).count()
    }
    val postDiff = Dedup.readClusterState(spark, dir)
      .withColumnRenamed("cluster_id", "m")
      .join(full, Seq("doc_id"), "full_outer")
      .filter(col("m").isNull || col("cluster_id").isNull ||
        col("m") =!= col("cluster_id"))
      .count()
    def r(x: Double) = math.rint(x * 1000) / 1000
    println(s"""{"sf":"$sfDir","rows":$rows,"full_s":${r(fullS)},""" +
      s""""init_s":${r(initS)},"update_s":${r(updateS)},""" +
      s""""speedup":${r(fullS / updateS)},"map_diff_rows":$diff,""" +
      s""""cap_corner_buckets":$cornerB,"diff_untraced":$untraced,""" +
      s""""diff_lost_merges":$lost,"reconcile_s":${r(reconS)},""" +
      s""""post_reconcile_diff":$postDiff}""")
    require(untraced == 0,
      s"$untraced diff rows do not trace to any corner bucket")
    require(lost == 0,
      s"incremental map LOST $lost rows the rebuild has")
    require(postDiff == 0,
      s"reconciled map still differs from the rebuild in $postDiff rows")
    spark.stop()
  }
}
