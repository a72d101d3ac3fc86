package graft

import graft.operators.{Dedup, Quantization, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the dedup / similarity operators on controlled inputs. */
class DedupSimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: Seq[(Long, String)]) =
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("s").as("source"), length(col("text")).cast("long").as("n_chars"))

  test("minhash LSH: identical texts are candidate pairs; disjoint texts are not") {
    val d = docs(Seq(
      (1L, "spark shuffles the big table"),
      (2L, "spark shuffles the big table"),
      (3L, "completely different words entirely unrelated")))
    val dir = java.nio.file.Files.createTempDirectory("mh").toString
    d.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = Registry.byName("q23_minhash_lsh").run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("simhash: identical docs get identical fingerprints") {
    val d = docs(Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota kappa")))
    val dir = java.nio.file.Files.createTempDirectory("sh").toString
    d.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fp = Registry.byName("q24_simhash").run(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp.values.forall(v => v >= 0 && v < (1 << 16)))
  }

  test("jaccard: identical word sets → 1.0; disjoint below threshold → absent") {
    val d = docs(Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x")))
    val dir = java.nio.file.Files.createTempDirectory("jc").toString
    d.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Registry.byName("q25_jaccard_pairs").run(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(rows((1L, 2L)) == 1.0)
    assert(!rows.contains((1L, 3L)))
  }

  test("containment: a doc pasted whole into a longer one scores 1.0 where jaccard fails the gate") {
    import spark.implicits._
    val short = (1 to 10).map(i => s"w$i").mkString(" ")
    val long = short + " " + (1 to 12).map(i => s"x$i").mkString(" ")
    val d = docs(Seq((1L, short), (2L, long)))
    // candidates fed directly: the semantics under test are the
    // verification scores, not LSH recall (documented jaccard bias)
    val cands = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val cont = graft.operators.Dedup.containmentVerify(cands, d)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(cont((1L, 2L)) == 1.0) // every shingle of 1 is in 2
    val jac = graft.operators.Dedup.jaccardVerify(cands, d).collect()
    assert(jac.isEmpty, "the same pair must fail the 0.6 jaccard gate")
  }

  test("q66: coverage counts tokens under any cross-doc duplicated gram, clean docs absent") {
    val g = (1 to 8).map(i => s"g$i").mkString(" ")
    val d = docs(Seq(
      (1L, s"$g u1 u2 u3 u4"),      // 12 tokens, shared gram at pos 0
      (2L, s"x1 x2 $g"),            // 10 tokens, shared gram at pos 2
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9"))) // no cross-doc gram
    val dir = java.nio.file.Files.createTempDirectory("cov").toString
    d.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Registry.byName("q66_dup_token_coverage").run(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_cov"),
          r.getAs[Double]("cov_frac"))).toMap
    assert(rows(1L) == ((12L, 8L, 8.0 / 12.0)))
    assert(rows(2L) == ((10L, 8L, 8.0 / 10.0)))
    assert(!rows.contains(3L))
  }

  test("cosine: identical vectors rank first with sim == 1.0") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),     // duplicate of query
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.70710678f, 0.70710678f, 0.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(df, col("vec_id") === 0, 3).collect()
    val byRank = top.sortBy(_.getAs[Int]("rk"))
      .map(r => (r.getAs[Long]("nid"), r.getAs[Double]("sim"))).toSeq
    assert(byRank.head._1 == 1L)
    assert(byRank.head._2 == 1.0)
    assert(byRank(1)._1 == 3L) // 45° vector before orthogonal
    assert(byRank(2)._2 == 0.0)
  }

  test("ANN LSH: a degenerate hot bucket is capped out of the self-join") {
    // ten identical 64-dim vectors → all land in one hyperplane bucket
    val vecs = (0L until 10L).map(i => (i, Array.fill(64)(1.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val capped = Similarity.hyperplaneNearDup(df, numPlanes = 4,
      threshold = 0.5, bucketCap = 5)
    assert(capped.count() == 0) // bucket of 10 > cap 5 → dropped, no n² join
    val uncapped = Similarity.hyperplaneNearDup(df, numPlanes = 4,
      threshold = 0.5, bucketCap = 100)
    assert(uncapped.count() == 45) // C(10,2), all sim 1.0
  }

  test("IVF ANN: probe finds the in-cell duplicate, skips unprobed cells") {
    val dim = 64
    // 16 axis-aligned centroid seeds (ids 0-15); query 100 rides axis 3,
    // its exact duplicate 101 lands in the same cell, 102 in cell 7
    def axis(i: Int, scale: Float) = {
      val a = Array.fill(dim)(0.01f); a(i) = scale; a
    }
    val vecs = (0 until 16).map(i => (i.toLong, axis(i, 1.0f))) ++ Seq(
      (100L, axis(3, 0.9f)), (101L, axis(3, 0.9f)), (102L, axis(7, 0.9f)))
    val df = vecs.toDF("vec_id", "embedding")
    val top = Similarity.ivfTopK(df, col("vec_id") === 100, k = 3)
      .collect().sortBy(_.getAs[Int]("rk"))
    assert(top.nonEmpty)
    assert(top.head.getAs[Long]("nid") == 101L) // identical vector first
    // dot(v,v) vs nrm*nrm round differently: cosine of identical vectors
    // is 1.0 only to ulp precision
    assert(math.abs(top.head.getAs[Double]("sim") - 1.0) < 1e-12)
    // cell 7 is not among query 100's probe cells, so 102 never scores
    assert(!top.map(_.getAs[Long]("nid")).contains(102L))
  }

  test("IVF with sampled k-means centroids recovers brute-force top-k on clustered data") {
    val dim = 16
    val clusters = 8
    val perCluster = 40
    // planted clusters: member j of cluster c = axis-c spike plus a small
    // deterministic jitter on a second axis — strongly separable, so
    // Lloyd from a seeded sample should land one centroid per cluster
    val vecs = for (c <- 0 until clusters; j <- 0 until perCluster) yield {
      val v = Array.fill(dim)(0.02f)
      v(c) = 1.0f
      v((c + 1 + j % (dim - 2)) % dim) += 0.05f * (j % 5)
      ((c * perCluster + j).toLong, v)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val pred = col("vec_id") % perCluster === 0 // one query per cluster
    def pairs(r: org.apache.spark.sql.DataFrame) =
      r.collect().map(x => (x.getAs[Long]("qid"), x.getAs[Long]("nid"))).toSet
    val brute = pairs(Similarity.cosineTopK(df, pred, 5))
    val cents = Similarity.kmeansCentroids(df, k = clusters, iters = 3, seed = 42L)
    assert(cents.count() == clusters) // empty cells keep prior centroids
    val ivf = pairs(Similarity.ivfTopK(df, pred, 5,
      numCells = clusters, nProbe = 2, centroids = Some(cents)))
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"IVF recall $recall < 0.8 (brute=${brute.size}, hit=${brute.intersect(ivf).size})")

    // recall is MONOTONE in nProbe (an exact-top-k member is outranked
    // by fewer than k vectors in the whole corpus, so once probed it
    // can never be displaced by widening the candidate pool) and hits
    // 1.0 at nProbe == numCells (the pool is the corpus — exact by
    // construction). This is the production lever SCALE.md's probe
    // curve documents; the invariant must hold on any data.
    val recalls = Seq(1, 2, clusters).map { p =>
      val r = pairs(Similarity.ivfTopK(df, pred, 5,
        numCells = clusters, nProbe = p, centroids = Some(cents)))
      brute.intersect(r).size.toDouble / brute.size
    }
    assert(recalls == recalls.sorted,
      s"recall must be non-decreasing in nProbe: $recalls")
    assert(recalls.last == 1.0,
      s"nProbe == numCells must be exact, got ${recalls.last}")
  }

  test("incremental dedup: new docs flag against the index, never each other") {
    val idx = docs(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely unrelated indexed content about spark plans")))
    val fresh = docs(Seq(
      // near-identical to indexed doc 1 → flagged with dup_of = 1
      (9L, "the quick brown fox jumps over the lazy dog tonight"),
      // identical NEW pair sharing no index content → neither flags
      (14L, "brand new material with no overlap whatsoever here"),
      (19L, "brand new material with no overlap whatsoever here")))
    val r = Dedup.incrementalDupCandidates(fresh, idx)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("dup_of"), x.getAs[Long]("n_bands")))).toMap
    assert(r.contains(9L) && r(9L)._1 == 1L && r(9L)._2 >= 1L)
    // new×new comparisons are out of scope by design — they run when
    // today's batch has been appended to the index
    assert(!r.contains(14L) && !r.contains(19L))
  }

  test("semantic dedup: same-cell twins collapse to the min-id survivor") {
    val dim = 64
    def axis(i: Int, scale: Float) = {
      val a = Array.fill(dim)(0.01f); a(i) = scale; a
    }
    // demo centroids = ids 0/1 (axis 0 / axis 1); 20-22 ride axis 0 and
    // are near-identical to seed 0, 30 rides axis 1 alone with seed 1
    val df = Seq(
      (0L, axis(0, 1.0f)), (1L, axis(1, 1.0f)),
      (20L, axis(0, 0.9f)), (21L, axis(0, 0.9f)), (22L, axis(0, 0.9f)),
      (30L, axis(1, 0.9f))).toDF("vec_id", "embedding")
    val r = Similarity.semanticDedup(df, threshold = 0.95, numCells = 2)
      .collect().map(x => x.getAs[Long]("vec_id") ->
        (x.getAs[Boolean]("kept"),
          Option(x.getAs[java.lang.Long]("dup_of")).map(_.toLong))).toMap
    assert(r.size == 6)
    // cell seeds survive; every later twin records the SMALLEST twin id
    assert(r(0L) == (true, None) && r(1L) == (true, None))
    assert(r(20L) == (false, Some(0L)))
    assert(r(21L) == (false, Some(0L)))
    assert(r(22L) == (false, Some(0L)))
    assert(r(30L) == (false, Some(1L)))
  }

  test("semantic dedup: a capped-out cell keeps all members instead of dropping data") {
    val dim = 64
    def axis(i: Int, scale: Float) = {
      val a = Array.fill(dim)(0.01f); a(i) = scale; a
    }
    val df = Seq(
      (0L, axis(0, 1.0f)), (1L, axis(1, 1.0f)),
      (20L, axis(0, 0.9f)), (21L, axis(0, 0.9f)), (22L, axis(0, 0.9f)),
      (30L, axis(1, 0.9f))).toDF("vec_id", "embedding")
    // cell 0 has 4 members > cap=2 → capped out of the pair join, all
    // kept (conservative: a degenerate cell is never silently dropped);
    // cell 1 has 2 members ≤ cap → 30 still dedups against seed 1
    val r = Similarity.semanticDedup(df, threshold = 0.95, numCells = 2,
        cellCap = 2)
      .collect().map(x => x.getAs[Long]("vec_id") ->
        x.getAs[Boolean]("kept")).toMap
    assert(Seq(0L, 20L, 21L, 22L).forall(r(_)))
    assert(r(1L) && !r(30L))
  }

  test("semantic decontamination: same-cell train twin flags the test doc; lone cells report the sentinel") {
    val dim = 64
    def axis(i: Int, scale: Float) = {
      val a = Array.fill(dim)(0.01f); a(i) = scale; a
    }
    // cells seeded by vecs 0/1; planted: test doc 20 is a near-twin of
    // train doc 22 (cell 0); test doc 30 sits alone in cell 1 with no
    // train neighbor; test doc 21 is in cell 0 but orthogonal-ish
    val emb = Seq(
      (0L, axis(0, 1.0f)), (1L, axis(1, 1.0f)),
      (20L, axis(0, 0.9f)), (22L, axis(0, 0.88f)),
      (21L, axis(2, 0.9f)), (30L, axis(1, 0.9f)))
      .toDF("vec_id", "embedding")
    val splits = Seq(
      0L -> "train", 1L -> "val", 20L -> "test", 22L -> "train",
      21L -> "test", 30L -> "test").toDF("doc_id", "split")
    val r = Similarity.semanticContamination(emb, splits,
        threshold = 0.95, numCells = 2)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Double]("max_train_sim"), x.getAs[Boolean]("contaminated"))).toMap
    assert(r.keySet == Set(20L, 21L, 30L), "one row per test doc")
    assert(r(20L)._2 && r(20L)._1 > 0.99, s"planted twin must flag: ${r(20L)}")
    // doc 21 shares cell 0 with train docs but is dissimilar
    assert(!r(21L)._2 && r(21L)._1 < 0.95)
    // doc 30's cell has val doc 1 only — no train rows, sentinel applies
    assert(r(30L) == ((-2.0, false)), s"lone cell must report the sentinel: ${r(30L)}")
  }

  test("semantic dedup fails loudly when the demo-centroid seed is empty") {
    // a filtered frame can lose every vec_id < numCells row (e.g. a
    // curation stage running on post-dedup survivors); assigning against
    // an empty centroid set would silently return zero rows — the
    // ADVICE-flagged failure mode that made Curate drop its whole corpus
    val df = Seq((100L, Array.fill(8)(1.0f)), (101L, Array.fill(8)(0.5f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDedup(df, numCells = 16)
    }
    assert(e.getMessage.contains("demo-centroid seed"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(df, col("vec_id") === 100L, k = 1, numCells = 16)
    }
    assert(e2.getMessage.contains("demo-centroid seed"))
  }

  test("semantic dedup invariants on random vectors: survivors pairwise dissimilar, drops cite smaller same-cell partners") {
    val rnd = new scala.util.Random(7)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    for (_ <- 1 to 3) {
      val n = 10 + rnd.nextInt(10)
      val vecs = (0L until n.toLong).map(i =>
        (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      val thr = 0.5
      val rows = Similarity.semanticDedup(
        vecs.toDF("vec_id", "embedding"), threshold = thr, numCells = 2).collect()
      assert(rows.length == n) // one verdict per vector, always
      val cells = rows.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cid")).toMap
      val kept = rows.filter(_.getAs[Boolean]("kept")).map(_.getAs[Long]("vec_id")).toSet
      val vmap = vecs.toMap
      // the min-id rule makes the survivor set PAIRWISE dissimilar: a
      // same-cell pair of survivors at >= thr would have dropped the larger
      for (a <- kept; b <- kept if a < b && cells(a) == cells(b))
        assert(cos(vmap(a), vmap(b)) < thr, s"survivors $a,$b still >= $thr")
      // every drop is justified: smaller id, same cell, actually similar
      rows.filterNot(_.getAs[Boolean]("kept")).foreach { r =>
        val id = r.getAs[Long]("vec_id"); val d = r.getAs[Long]("dup_of")
        assert(d < id && cells(d) == cells(id), s"$id cites invalid twin $d")
        assert(cos(vmap(d), vmap(id)) >= thr, s"$id->$d below threshold")
      }
    }
  }

  test("q55 plans <= 4 embeddings scans and no nested-loop join") {
    val df = Registry.byName("q55_semantic_dedup").run(spark, TestSpark.sf0001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // Cell assignment is a native per-row kernel (CellArgmax) with the
    // bounded centroid frame riding as a plan constant — the former
    // centroid crossJoin (BroadcastNestedLoopJoin) and its regroup are
    // gone from the plan entirely, and the centroid seed is collected
    // in its own pruned driver job, not in this plan. What remains:
    // the pair sides + the survivor frame.
    val scans = p.linesIterator.count(_.matches("""^\(\d+\) Scan parquet\s*$"""))
    assert(scans <= 4, s"expected pair-sides + survivor frame, got $scans scans")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "cell assignment must stay a scalar kernel, never a loop join")
  }

  test("jaccard verification runs only over LSH candidate pairs") {
    // near-identical pair (one word changed) + unrelated doc: the pair is
    // an LSH candidate and survives verification; no candidate involving
    // doc 3 exists, so no jaccard is ever computed against it
    val d = docs(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "entirely different content with no shared shingles at all")))
    val dir = java.nio.file.Files.createTempDirectory("jv").toString
    d.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cands = Dedup.candidatePairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
    assert(cands.forall { case (a, b) => a != 3L && b != 3L })
  }

  test("q23/q25 plans never recompute the shingle subtree per branch") {
    // Regression guard for the plan shape: the candidate pipeline and
    // the verification sets each scan documents exactly once, so q25's
    // whole physical plan holds <= 2 parquet scans (a per-branch
    // re-plan of the banded/shingle frames once cost 12 scans).
    def scanCount(name: String): Int = {
      val df = Registry.byName(name).run(spark, TestSpark.sf0001)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      formatted.linesIterator.count(_.matches("""^\(\d+\) Scan parquet\s*$"""))
    }
    assert(scanCount("q23_minhash_lsh") == 1)
    // 3 = the staged-pair parquet once + the staged member-shingle
    // parquet twice (one per join side) — documents is never scanned
    // in-query at all since round 14 (ScanBudgetSpec pins it at 0);
    // the duplicated scan is the member-sized session artifact
    assert(scanCount("q25_jaccard_pairs") <= 3)
    // q34's window-capped self-join: one embeddings scan per join side
    assert(scanCount("q34_ann_lsh") <= 2)
    // q57's one-shot form: one scan per side (batch + in-query index);
    // the production path replaces the index side with a bucketed read
    assert(scanCount("q57_incremental_dedup") <= 2)
  }

  test("q49 banded simhash recalls EXACTLY the hamming<=1 pairs (pigeonhole guarantee)") {
    // Brute-force the full 32-bit fingerprint neighborhood on the
    // fixture and compare sets: the 2x16-bit band index must find every
    // hamming<=1 pair (one flipped bit cannot touch both halves) and
    // the xor-popcount verify must pass nothing beyond the threshold.
    val fps = Dedup.simhashFingerprints(
      Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text"), 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val brute = (for {
      i <- fps.indices.iterator
      j <- (i + 1) until fps.length
      if java.lang.Long.bitCount(fps(i)._2 ^ fps(j)._2) <= 1
    } yield (fps(i)._1, fps(j)._1)).toSet
    val banded = Registry.byName("q49_simhash_pairs").run(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute,
      s"banded=${banded.size} brute=${brute.size} missing=${(brute -- banded).take(3)}")
  }

  test("q49 plans a single documents scan") {
    val p = Registry.byName("q49_simhash_pairs").run(spark, TestSpark.sf0001)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val scans = p.linesIterator.count(_.matches("""^\(\d+\) Scan parquet\s*$"""))
    assert(scans == 1, s"expected one scan, got $scans")
  }

  test("dup clustering: chains collapse transitively, separate components stay apart") {
    // a 5-chain (diameter 4 — forces multiple label rounds) + an
    // isolated pair; labels converge to each component's min doc_id
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("dup clustering frees superseded snapshot blocks") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    Dedup.dupClusters(pairs).collect()
    // every per-round snapshot except the final labels frame must be
    // unpersisted — leaked blocks tax whatever runs next in the JVM
    // (measured 2-4x inflation on co-resident sf1 bench queries)
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1, s"leaked ${after - before} snapshot RDDs")
  }

  test("dup clustering with a reliable checkpoint dir converges identically") {
    val dir = java.nio.file.Files.createTempDirectory("ckpt").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.dupClusters(pairs, checkpointDir = Some(dir)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
    // the durable path actually wrote checkpoint data (that is the point:
    // it survives executor loss where localCheckpoint cannot)
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    assert(files(new java.io.File(dir)).nonEmpty, "no reliable checkpoint written")
  }

  test("exact dedup groups identical content") {
    val d = docs(Seq((1L, "same text"), (2L, "same text"), (3L, "other text")))
    val dir = java.nio.file.Files.createTempDirectory("ex").toString
    d.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Registry.byName("q22_dedup_exact").run(spark, dir)
      .collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies")))
    assert(rows.toSet == Set((1L, 2L), (3L, 1L)))
  }

  test("canonical docs: higher quality survives, ties break to min doc_id, singletons pass") {
    // doc 1: stopword soup (low quality); doc 7: varied vocabulary
    // (higher quality) — in one cluster, 7 must survive even though the
    // cluster is labeled by min id 1. docs 5/2: identical text →
    // identical quality → tie breaks to the smaller doc_id 2. doc 9 is
    // unclustered and passes through as its own singleton cluster.
    val d = docs(Seq(
      (1L, "the the the of of and and a a to to"),
      (7L, "spark plans broadcast joins across partitioned parquet scans"),
      (5L, "alpha beta gamma"),
      (2L, "alpha beta gamma"),
      (9L, "standalone unclustered document")))
    val pairs = Seq((1L, 7L), (5L, 2L)).toDF("doc_a", "doc_b")
    val got = Dedup.canonicalDocs(d, Dedup.dupClusters(pairs)).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        ((r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_size")))).toMap
    assert(got == Map(1L -> ((7L, 2L)), 2L -> ((2L, 2L)), 9L -> ((9L, 1L))))
  }

  test("canonical docs invariants hold on a random pair graph") {
    // seeded random corpus + pair graph: the roster must partition the
    // corpus (sizes sum to n, survivor ids unique), and each survivor
    // must carry its cluster's maximum quality
    val rnd = new scala.util.Random(42)
    val n = 60
    val d = docs((0L until n).map(i => (i,
      Seq.fill(3 + rnd.nextInt(8))("w" + rnd.nextInt(40)).mkString(" "))))
    val pairs = Seq.fill(25)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(p => p._1 != p._2).toDF("doc_a", "doc_b")
    val clusters = Dedup.dupClusters(pairs)
    val out = Dedup.canonicalDocs(d, clusters).collect()
    assert(out.map(_.getAs[Long]("doc_id")).distinct.length == out.length)
    assert(out.map(_.getAs[Long]("cluster_size")).sum == n)
    val dir = java.nio.file.Files.createTempDirectory("cq").toString
    d.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val quality = Registry.byName("q28_quality").run(spark, dir)
      .select("doc_id", "quality").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality")).toMap
    val label = clusters.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val members = (0L until n).groupBy(i => label.getOrElse(i, i))
    out.foreach { r =>
      val cid = r.getAs[Long]("cluster_id")
      assert(r.getAs[Long]("cluster_size") == members(cid).size.toLong)
      assert(r.getAs[Double]("quality") == members(cid).map(quality).max)
    }
  }

  test("q53 survivor selection aggregates without a per-cluster sort window") {
    val p = Registry.byName("q53_canonical_docs").run(spark, TestSpark.sf0001)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Window"),
      s"survivor pick must be max_by aggregation, not a rank window:\n${p.take(2000)}")
    assert(p.contains("max_by") || p.contains("MaxBy"),
      s"expected a max_by aggregate in:\n${p.take(2000)}")
  }

  test("q72: cross-source clusters count their full size for every source they touch") {
    // one cross-source cluster {1 (srcA), 3 (srcB)}; docs 2/4/5 singletons
    val d = Seq((1L, "srcA"), (2L, "srcA"), (3L, "srcB"), (4L, "srcB"), (5L, "srcB"))
      .toDF("doc_id", "source")
    val clusters = Seq((1L, 1L), (3L, 1L)).toDF("doc_id", "cluster_id")
    val rows = Dedup.dupProfile(d, clusters).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_dup_docs"),
          r.getAs[Long]("max_cluster_sz"), r.getAs[Double]("dup_frac"))).toMap
    assert(rows("srcA") == ((2L, 1L, 2L, 0.5)))
    assert(rows("srcB") == ((3L, 1L, 2L, 1.0 / 3.0)))
  }

  test("q109: overlap matrix counts shared clusters and exact cross pairs, ordered pairs only") {
    // cluster 1: 2×srcA + 1×srcB + 1×srcC; cluster 2: 1×srcA + 2×srcB;
    // cluster 3: srcB only (no overlap row for same-source clusters)
    val d = Seq((1L, "srcA"), (2L, "srcA"), (3L, "srcB"), (4L, "srcC"),
      (5L, "srcA"), (6L, "srcB"), (7L, "srcB"), (8L, "srcB"), (9L, "srcB"))
      .toDF("doc_id", "source")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (5L, 2L), (6L, 2L), (7L, 2L), (8L, 3L), (9L, 3L))
      .toDF("doc_id", "cluster_id")
    val rows = Dedup.sourceOverlap(d, clusters).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        (r.getAs[Long]("n_shared_clusters"), r.getAs[Long]("n_cross_pairs"))).toMap
    // A-B share clusters 1 (2×1 pairs) and 2 (1×2); A-C and B-C share cluster 1
    assert(rows == Map(
      ("srcA", "srcB") -> ((2L, 4L)),
      ("srcA", "srcC") -> ((1L, 2L)),
      ("srcB", "srcC") -> ((1L, 1L))))
  }

  test("q95: hash embeddings are lossless vs sparse, cosine-1.0 on twins, near-orthogonal on disjoint vocab") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // twin of 1
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    // the sparse rows are the whole 64-slot embedding: twins at cosine
    // 1.0, disjoint vocabulary well below the dedup bar
    val sparse = TextAnalysis.hashEmbed(d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(sparse.keys.forall { case (_, j) => j >= 0 && j < 64 })
    def slots(id: Long) =
      (0L until 64L).map(j => sparse.getOrElse((id, j), 0L).toDouble)
    def cosine(a: Long, b: Long): Double = {
      val (x, y) = (slots(a), slots(b))
      x.zip(y).map { case (p, q) => p * q }.sum /
        math.sqrt(x.map(v => v * v).sum * y.map(v => v * v).sum)
    }
    assert(cosine(1L, 2L) > 1.0 - 1e-12, s"twin cosine ${cosine(1L, 2L)}")
    assert(math.abs(cosine(1L, 3L)) < 0.5, s"disjoint cosine ${cosine(1L, 3L)}")

    // idf weighting: a token in every doc carries the minimum weight
    // (IdfScale), a doc-unique token the maximum (IdfScale * n_docs) —
    // and weights are pure-integer so the sparse rows are engine-exact
    val idf = TextAnalysis.idfHashEmbed(Seq(
      (1L, "common rare1"), (2L, "common rare2"), (3L, "common rare3")
    ).toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def bucketOf(w: String) = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(h.substring(0, 2), 16) % 64,
        if (h.charAt(2) >= '8') 1L else -1L)
    }
    val (cb, cs) = bucketOf("common")
    val (rb, rs) = bucketOf("rare1")
    assert(idf((1L, cb)) == cs * 1000L || rb == cb, s"common-token weight")
    if (rb != cb) assert(idf((1L, rb)) == rs * 3000L, s"rare-token weight")
  }

  test("q93: recall/rr are exact on constructed rankings, including the total-miss row") {
    import spark.implicits._
    val exact = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3), // query 1
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3), // query 2
      (3L, 30L, 1), (3L, 31L, 2), (3L, 32L, 3)  // query 3
    ).toDF("qid", "nid", "rk")
    val approx = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3), // perfect
      (2L, 99L, 1), (2L, 20L, 2), (2L, 22L, 3), // 2/3, true NN at rank 2
      (3L, 98L, 1), (3L, 97L, 2), (3L, 96L, 3)  // total miss
    ).toDF("qid", "nid", "rk")
    val out = Similarity.annRecall(exact, approx).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((3L, 3L, 1.0, 1.0)))
    assert(out(2L) == ((3L, 2L, 2.0 / 3.0, 0.5)))
    assert(out(3L) == ((3L, 0L, 0.0, 0.0)))
  }

  test("q117: a single-query sample collapses the CI to [mean, mean], not NaN") {
    import spark.implicits._
    // n = 1 makes the sample variance 0/0; the guard must zero the SE
    // instead of letting the NaN ride greatest/least into the bounds
    val exact = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("qid", "nid", "rk")
    val approx = Seq((1L, 10L, 1), (1L, 99L, 2)).toDF("qid", "nid", "rk")
    val r = Similarity.annRecallSummary(exact, approx).head()
    val mean = r.getDouble(1)
    assert(mean == 0.5)
    assert(r.getDouble(2) == mean && r.getDouble(3) == mean,
      s"n=1 CI must collapse to [mean, mean], got [${r.getDouble(2)}, ${r.getDouble(3)}]")
  }

  test("q111: per-cell quota keeps top ceil(f·n) by (quality DESC, doc_id), ties to the lower id") {
    val assigned = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (5L, 0L), (9L, 7L))
      .toDF("vec_id", "cid")
    // cell 0: qualities 50 > 40 > 30 == 30 > 10 with the tie INSIDE the
    // boundary bucket (cap = ceil(0.5·5) = 3): doc 3 (id below 4) wins
    // the last slot. cell 7: a singleton is always kept (cap >= 1).
    val scored = Seq((1L, 50.0), (2L, 40.0), (3L, 30.0), (4L, 30.0),
      (5L, 10.0), (9L, 0.0)).toDF("doc_id", "quality")
    val out = Similarity.cellQuotaSelect(assigned, scored, 0.5).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out == Map(1L -> true, 2L -> true, 3L -> true, 4L -> false,
      5L -> false, 9L -> true))
    // keepFrac = 1.0 keeps every doc in every cell
    val all = Similarity.cellQuotaSelect(assigned, scored, 1.0).collect()
    assert(all.length == 6 && all.forall(_.getBoolean(3)))
  }

  test("q115: precedence beats quality, quality breaks ties within a tier, singletons pass through") {
    // cluster 10: a low-quality curated doc (tier 1) must beat a
    // high-quality unlisted doc (tier 99). cluster 20: both tier 99 —
    // quality decides. doc 7: unclustered singleton survives as-is.
    val scored = Seq(
      (1L, "src7", 1, 10.0), (2L, "srcX", 99, 90.0),  // cluster 10
      (3L, "srcY", 99, 40.0), (4L, "srcZ", 99, 60.0), // cluster 20
      (7L, "srcQ", 99, 5.0))                          // singleton
      .toDF("doc_id", "source", "tier", "quality")
    val clusters = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L))
      .toDF("doc_id", "cluster_id")
    val out = Dedup.precedenceSurvivors(scored, clusters).collect()
      .map(r => r.getLong(1) -> ((r.getLong(0), r.getString(3), r.getLong(2)))).toMap
    assert(out == Map(10L -> ((1L, "src7", 2L)), 20L -> ((4L, "srcZ", 2L)),
      7L -> ((7L, "srcQ", 1L))))
    // the tier column itself: listed sources rank by position, the
    // rest share the bottom tier
    val tiers = Seq("src7", "src3", "src11", "src0").toDF("source")
      .select(Dedup.precedenceTier(col("source")).as("t"))
      .collect().map(_.getInt(0)).toSeq
    assert(tiers == Seq(1, 2, 3, 99))
  }

  test("staged demo-point rankings equal their inline kernels row-for-row") {
    // the zero-drift claim q93/q94 rest on: each staged retrieval log is
    // written THROUGH the benchmark kernel, so staged == inline exactly
    // (parquet round-trips long/double columns bit-identically)
    val d = TestSpark.sf0001
    val emb = Tables.embeddings(spark, d)
    val pred = col("vec_id") % 100 === 0
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(Similarity.stagedExactCosine(spark, d)) ==
      rows(Similarity.cosineTopK(emb, pred, 5)))
    assert(rows(Similarity.stagedIvfRanking(spark, d)) ==
      rows(Similarity.ivfTopK(emb, pred, 5)))
    assert(rows(Quantization.stagedExactL2(spark, d)) ==
      rows(Quantization.l2TopK(emb, pred, 5)))
    assert(rows(Quantization.stagedAdcRanking(spark, d)) ==
      rows(Quantization.adcTopK(emb, pred, 5)))
  }

  test("q92: a planted label error is the one low-agreement point in its neighborhood") {
    import spark.implicits._
    // two tight clusters in 2-D-ish 64-dim space: ids 0-5 near e1 with
    // label 1 (except vec 3, the planted error: label 9), ids 6-11 near
    // e2 with label 2. Centroids = vecs 0 and 6 (numCells = 2 demo seed
    // needs vec_id < 2 — pass explicit centroids instead).
    def vec(axis: Int, eps: Double, j: Int): Seq[Float] =
      (0 until 64).map(i =>
        (if (i == axis) 1.0 else 0.0) + (if (i == 63) eps * (j + 1) else 0.0))
        .map(_.toFloat)
    val rows = (0 to 5).map(j => (j.toLong, vec(0, 0.01, j), if (j == 3) 9 else 1)) ++
      (6 to 11).map(j => (j.toLong, vec(1, 0.01, j), 2))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val cents = Similarity.asCentroids(
      Seq((0L, vec(0, 0.0, 0)), (1L, vec(1, 0.0, 0))).toDF("vec_id", "embedding"))
    val out = Similarity.labelNoise(emb, k = 5, centroids = Some(cents))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out.size == 12)
    // the planted error: 5 neighbors, zero agree
    assert(out(3L) == ((9, 5L, 0L, 0.0)))
    // its cluster-mates: 5 neighbors, 4 agree (the error is the 5th)
    (0 to 5).filter(_ != 3).foreach { j =>
      assert(out(j.toLong) == ((1, 5L, 4L, 0.8)), s"vec $j")
    }
    // the clean cluster: full agreement
    (6 to 11).foreach { j =>
      assert(out(j.toLong) == ((2, 5L, 5L, 1.0)), s"vec $j")
    }
  }

  test("q92: an over-cap (hot-class) cell keeps a deterministic cellCap sample, not nothing") {
    import spark.implicits._
    // one tight 8-member cluster, cellCap = 4: the pre-fix semantics
    // (drop any cell larger than cellCap) issued ZERO verdicts for the
    // whole hot class; the contract now keeps the first cellCap members
    // ranked by (md5(vec_id), vec_id) and verdicts exactly those.
    def vec(eps: Double, j: Int): Seq[Float] =
      (0 until 64).map(i =>
        (if (i == 0) 1.0 else 0.0) + (if (i == 63) eps * (j + 1) else 0.0))
        .map(_.toFloat)
    val emb = (0 to 7).map(j => (j.toLong, vec(0.01, j), 1))
      .toDF("vec_id", "embedding", "label")
    val cents = Similarity.asCentroids(
      Seq((0L, vec(0.0, 0))).toDF("vec_id", "embedding"))
    val out = Similarity.labelNoise(emb, k = 2, cellCap = 4,
      centroids = Some(cents)).collect().map(_.getLong(0)).toSet
    def h(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = (0L to 7L).sortBy(id => (h(id), id)).take(4).toSet
    assert(out == expected, s"got $out, expected md5-ranked sample $expected")
  }

  test("q88: span length is exact for a planted shared run and a lower bound under repetition") {
    import spark.implicits._
    // doc 1/2 share a verbatim 12-token run at different offsets (plus
    // disjoint tails); doc 3/4 are unrelated. Expected: max_run =
    // 12 - 8 + 1 = 5 diagonal positions => span_tokens = 12.
    val shared = (1 to 12).map(i => s"tok$i").mkString(" ")
    val d = Seq(
      (1L, s"aa bb cc $shared xx yy zz"),
      (2L, s"$shared pp qq rr ss tt uu"),
      (3L, "unrelated words entirely different from everything here now"),
      (4L, "another unrelated block of text with no overlap at all ok")
    ).toDF("doc_id", "text")
    val cands = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val out = Dedup.dupSpans(cands, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val (nShared, maxRun, span) = out((1L, 2L))
    assert(maxRun == 5L && span == 12L, s"planted run: $maxRun/$span")
    assert(nShared == 5L)
    // no shared 8-gram => pair absent (the reporting contract)
    assert(!out.contains((3L, 4L)))

    // identical docs: span == token count (the whole doc is the run)
    val twin = Seq((5L, shared + " tail words here"), (6L, shared + " tail words here"))
      .toDF("doc_id", "text")
    val full = Dedup.dupSpans(Seq((5L, 6L)).toDF("doc_a", "doc_b"), twin).collect().head
    assert(full.getLong(4) == 15L, s"identical docs span ${full.getLong(4)}")

    // intra-doc gram repetition: the first-occurrence estimate may only
    // UNDERSHOOT the true shared span, never overshoot it
    val rep = "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8 end"
    val reps = Seq((7L, rep), (8L, rep)).toDF("doc_id", "text")
    val est = Dedup.dupSpans(Seq((7L, 8L)).toDF("doc_a", "doc_b"), reps)
      .collect().head.getLong(4)
    assert(est <= 17L && est >= 8L, s"repetition estimate $est")

    // plan pin: every join is an equi-join — a silent fall-back to a
    // nested-loop join over the pair x gram block would be corpus-fatal
    val plan = Dedup.dupSpans(cands, d).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q88 joins must stay equi-joins:\n$plan")
  }

  test("q74: the threshold curve counts planted exact, near and band-noise pairs correctly") {
    // 1,2 identical (J=1.0); 3,4 near (J between gate and 0.9);
    // 5,6 disjoint (never candidates)
    val d = docs(Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"),
      (3L, "k l m n o p q r s t"),
      (4L, "k l m n o p q r s z"),
      (5L, "one set of words here"),
      (6L, "totally disjoint other content")))
    val dir = java.nio.file.Files.createTempDirectory("lq").toString
    d.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Registry.byName("q74_lsh_quality").run(spark, dir).collect().head
    assert(r.getAs[Long]("n_ge_90") >= 1L)          // the identical pair
    assert(r.getAs[Long]("n_ge_50") >= r.getAs[Long]("n_ge_70"))
    assert(r.getAs[Long]("n_ge_70") >= r.getAs[Long]("n_ge_90")) // curve is monotone
    assert(r.getAs[Long]("n_candidates") >= r.getAs[Long]("n_ge_50"))
    val p = r.getAs[Double]("precision_at_gate")
    assert(p > 0.0 && p <= 1.0)
  }

  test("q76: the semantic threshold curve is monotone and counts planted twins at the top") {
    // two orthogonal centroids; an identical pair in cell 0 (sim 1.0)
    // and an unrelated same-cell vector
    val cents = Similarity.asCentroids(Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding"))
    val emb = Seq(
      (10L, Seq(0.9f, 0.1f)), (11L, Seq(0.9f, 0.1f)),  // planted twins
      (12L, Seq(0.7f, 0.5f)), (13L, Seq(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.semanticThresholdCurve(emb, numCells = 2,
      centroids = Some(cents)).collect().head
    // cell 0 holds 3 vectors → 3 ordered pairs; cell 1 is a singleton
    assert(r.getAs[Long]("n_pairs") == 3L)
    assert(r.getAs[Long]("n_ge_50") >= 1L) // the twins
    assert(r.getAs[Long]("n_ge_20") >= r.getAs[Long]("n_ge_30"))
    assert(r.getAs[Long]("n_ge_30") >= r.getAs[Long]("n_ge_50"))
    val gf = r.getAs[Double]("gate_frac")
    assert(gf > 0.0 && gf <= 1.0)
  }

  test("q73: cell occupancy, share and load factor are exact for planted assignments") {
    // two orthogonal centroids; 3 vectors hug c0, 1 hugs c1
    val cents = Similarity.asCentroids(Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding"))
    val emb = Seq(
      (10L, Seq(0.9f, 0.1f)), (11L, Seq(0.8f, 0.2f)), (12L, Seq(0.7f, 0.3f)),
      (13L, Seq(0.1f, 0.9f))).toDF("vec_id", "embedding")
    val rows = Similarity.cellBalance(emb, numCells = 2, centroids = Some(cents))
      .collect().map(r => r.getAs[Long]("cid") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Double]("share"),
          r.getAs[Double]("load_factor"))).toMap
    assert(rows(0L) == ((3L, 0.75, 1.5)))
    assert(rows(1L) == ((1L, 0.25, 0.5)))
    assert(math.abs(rows.values.map(_._2).sum - 1.0) < 1e-12)
  }

  test("q108: cell drift is exact, counts emptied cells, and holds the fixed index") {
    val cents = Similarity.asCentroids(Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding"))
    // old: 2 vecs per cell (tot 4, share .5/.5)
    val old = Seq(
      (10L, Seq(0.9f, 0.1f)), (11L, Seq(0.8f, 0.2f)),
      (12L, Seq(0.1f, 0.9f)), (13L, Seq(0.2f, 0.8f))).toDF("vec_id", "embedding")
    // new: cell 0 shrinks to 1 of 5, cell 1 grows to 4 of 5
    val neu = Seq(
      (10L, Seq(0.9f, 0.1f)),
      (12L, Seq(0.1f, 0.9f)), (13L, Seq(0.2f, 0.8f)),
      (20L, Seq(0.0f, 0.8f)), (21L, Seq(0.1f, 0.9f))).toDF("vec_id", "embedding")
    val rows = Similarity.cellDrift(old, neu, numCells = 2,
        centroids = Some(cents))
      .collect().map(r => r.getAs[Long]("cid") ->
        (r.getAs[Long]("n_old"), r.getAs[Long]("n_new"),
          r.getAs[Long]("dp_scaled"))).toMap
    assert(rows(0L) == ((2L, 1L, 200000000L - 500000000L)))
    assert(rows(1L) == ((2L, 4L, 800000000L - 500000000L)))
    // a cell emptied entirely still reports (full-outer coalesce)
    val allGone = Similarity.cellDrift(old,
        Seq((12L, Seq(0.1f, 0.9f))).toDF("vec_id", "embedding"),
        numCells = 2, centroids = Some(cents))
      .collect().map(r => r.getAs[Long]("cid") ->
        (r.getAs[Long]("n_old"), r.getAs[Long]("n_new"))).toMap
    assert(allGone(0L) == ((2L, 0L)) && allGone(1L) == ((2L, 1L)))
  }

  test("zero-norm guard: NaN cosines never win a cell or a verdict") {
    // an embedding source can emit the all-zero vector (a hashed
    // embedding of weight-cancelled text is one); its
    // cosine against anything is 0/0 = NaN, and Spark orders NaN above
    // every double — unguarded, NaN would win the cell argmax and pass
    // `sim >= threshold` with an arbitrary dup_of. (The append-only
    // cell index this guard once also protected is gone — round 17,
    // superseded by the LSM semantic state — but the assignment and
    // q55 verdict kernels keep the same total-cosine contract.)
    def vec(xs: Double*) = xs.map(_.toFloat).toArray
    val cents = Similarity.asCentroids(Seq(
      (0L, vec(1, 0, 0, 0)), (1L, vec(0, 1, 0, 0)))
      .toDF("vec_id", "embedding"))
    val emb = Seq(
      (10L, vec(0.9, 0.1, 0, 0)), // real, lands in cell 0
      (11L, vec(0, 0, 0, 0)),     // zero-norm (empty-text doc)
      (12L, vec(0.1, 0.9, 0, 0))  // real, lands in cell 1
    ).toDF("vec_id", "embedding")
    val assigned = Similarity.cellAssignments(emb, cents).cache()
    val byId = assigned.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(10L) == 0L && byId(12L) == 1L, s"real assignments: $byId")
    // zero-norm: every csim pinned to -1 → deterministic lowest cid,
    // never an arbitrary NaN argmax winner
    assert(byId(11L) == 0L, s"zero-norm assignment: ${byId(11L)}")
    // the q55 verdict kernel over a cell CONTAINING the zero-norm row:
    // a 0.9-threshold dedup must neither crash (ANSI divide) nor
    // verdict anyone against the no-signal row — 20 dups against 10,
    // the zero-norm rows match nothing and are kept as singletons
    val withArrivals = emb.unionByName(Seq(
      (20L, vec(0.8, 0.2, 0, 0)), (21L, vec(0, 0, 0, 0)))
      .toDF("vec_id", "embedding"))
    val verdicts = Similarity.semanticDedup(withArrivals, threshold = 0.9,
        centroids = Some(cents))
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(2), Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    assert(verdicts(20L) == ((false, Some(10L))), s"verdicts: $verdicts")
    assert(verdicts(11L)._1 && verdicts(21L)._1,
      s"zero-norm rows must match nothing: $verdicts")
    assigned.unpersist()
  }

  test("zero-norm guard: cosine surface is total over zero vectors") {
    // an all-zero vector (a hashed embedding of weight-cancelled text
    // is one) must not break the similarity operators — under ANSI
    // mode an unguarded cosine would kill the whole job with
    // DIVIDE_BY_ZERO on that one row
    def vec(xs: Double*) = xs.map(_.toFloat).toArray
    val emb = Seq(
      (0L, vec(1, -1, 2, 0)),
      (1L, vec(1, -1, 2, 0)), // twin of 0
      (2L, vec(0, 0, 0, 0))   // the zero vector
    ).toDF("vec_id", "embedding")
    // exact top-k: runs, twin found, zero-norm doc never above -1
    val topk = Similarity.cosineTopK(emb, col("vec_id") === 0L, 2)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(topk(1L) > 1.0 - 1e-12, s"twin: ${topk(1L)}")
    assert(topk(2L) == -1.0, s"zero-norm neighbor must pin to -1: ${topk(2L)}")
    // SemDeDup: runs; the zero-norm doc is kept (no similarity signal)
    // and cannot be anyone's dup_of
    val sd = Similarity.semanticDedup(emb, threshold = 0.5, numCells = 1)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(sd(2L), "zero-norm doc must survive (no signal)")
    assert(!sd(1L), "twin must still dedup")
  }

  test("session-staged artifacts are content-equal to their recompute") {
    // the staging layer (candidate pairs, cluster map) must be a pure
    // materialization — any content drift between the staged parquet
    // and a direct recompute means a consumer query's oracle hash and
    // its plan no longer describe the same data
    val d = TestSpark.sf0001
    val directPairs = Dedup.candidatePairs(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val stagedPairs = Dedup.stagedCandidatePairs(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stagedPairs == directPairs,
      s"pair stage drifted: ${(stagedPairs diff directPairs).take(5)} extra, " +
        s"${(directPairs diff stagedPairs).take(5)} missing")
    val directClusters = Dedup.dupClusters(Dedup.candidatePairs(spark, d))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val stagedClusters = Dedup.stagedClusters(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stagedClusters == directClusters,
      s"cluster stage drifted: ${(stagedClusters diff directClusters).take(5)}")
  }

  test("q88 kernels: GramPosStruct matches the gramPositionsFrame row pipeline; DiagSpanPacked matches the SQL fold") {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    // hash equivalence: the struct kernel's 64-bit gram longs are
    // EXACTLY GramHashes' 16-hex-char strings read as one unsigned
    // long, and its (gh, first-pos) pairs are exactly the
    // posexplode+min(pos) frame — the bridge that lets o88 (md5-prefix
    // strings in DuckDB) keep oracling the long-keyed kernel.
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "a b c d e f g h a b c d e f g h tail",
      "seven words is below the gram width",
      "exactly eight words makes one single gram here")
    texts.foreach { t =>
      val row = graft.functions.GramPosStruct.compute(
        UTF8String.fromString(t), 8)
      val ghs = row.getArray(0).toLongArray()
      val ps = row.getArray(1).toLongArray()
      assert(ghs.sorted.sameElements(ghs), s"ghs must be sorted: $t")
      val d = Seq((1L, t)).toDF("doc_id", "text")
      // gramPositionsFrame rides GramHashesLong since round 17 — the
      // long IS the 16-hex-char value (pinned in BigramCountFormsSpec)
      val ref = Dedup.gramPositionsFrame(d).collect()
        .map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(ghs.zip(ps).toSeq == ref.toSeq,
        s"kernel index must equal the row pipeline for: $t")
    }
    // merge semantics on a crafted multi-diagonal case: two separate
    // shared runs on different diagonals; n_shared counts both, max_run
    // takes the longer
    val runA = (1 to 10).map(i => s"a$i").mkString(" ") // 10 tokens: 3 grams
    val runB = (1 to 14).map(i => s"b$i").mkString(" ") // 14 tokens: 7 grams
    val da = Seq((1L, s"$runA x1 x2 $runB"), (2L, s"$runB y1 y2 y3 $runA"))
      .toDF("doc_id", "text")
    val out = Dedup.dupSpans(Seq((1L, 2L)).toDF("doc_a", "doc_b"), da)
      .collect().head
    assert(out.getLong(2) == 10L, s"n_shared ${out.getLong(2)}") // 3 + 7
    assert(out.getLong(3) == 7L && out.getLong(4) == 14L,
      s"max_run ${out.getLong(3)} span ${out.getLong(4)}")
    // packing floor: a pair sharing nothing returns 0 and is filtered;
    // a doc below the gram width carries empty arrays, same outcome
    val none = Seq((3L, "one two three four five six seven eight"),
      (4L, "nine ten eleven twelve thirteen fourteen fifteen sixteen"),
      (5L, "short doc here")).toDF("doc_id", "text")
    assert(Dedup.dupSpans(
      Seq((3L, 4L), (3L, 5L)).toDF("doc_a", "doc_b"), none).isEmpty)
  }

  test("q88 kernel differential: native form equals the row-join reference on the sf0.001 fixture") {
    // The hand-crafted cases above pin the corners; this pins the
    // kernel against an independent Spark formulation over REAL fixture
    // text and the REAL LSH candidate distribution — the same
    // differential that gated the sf1 rewrite (0 of 248,844 rows
    // differed; SCALE.md round 12). The reference is the
    // pre-kernel pair x gram row join + SQL diagonal fold, kept here as
    // the semantic twin (like the BPE kernel's differential).
    val d = TestSpark.sf0001
    val docsDf = Tables.documents(spark, d)
    val cands = Dedup.stagedCandidatePairs(spark, d)
    val grams = Dedup.gramPositionsFrame(
      docsDf.join(Dedup.candidateMembers(cands), Seq("doc_id"), "left_semi"))
    val ga = grams.select(col("doc_id").as("doc_a"), col("col").as("gh"),
      col("p").as("pa"))
    val gb = grams.select(col("doc_id").as("doc_b"), col("col").as("gh"),
      col("p").as("pb"))
    val ref = cands.join(ga, "doc_a").join(gb, Seq("doc_b", "gh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"),
        collect_list(struct((col("pa") - col("pb")).as("dg"),
          col("pa").as("pa"))).as("ms"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        expr("""aggregate(
            array_sort(ms),
            named_struct('best', CAST(0 AS BIGINT), 'run', CAST(0 AS BIGINT),
                         'dg', CAST(-9223372036854775808 AS BIGINT),
                         'pp', CAST(-2 AS BIGINT)),
            (acc, m) -> named_struct(
              'best', greatest(acc.best,
                CASE WHEN m.dg = acc.dg AND m.pa = acc.pp + 1L
                     THEN acc.run + 1L ELSE 1L END),
              'run', CASE WHEN m.dg = acc.dg AND m.pa = acc.pp + 1L
                          THEN acc.run + 1L ELSE 1L END,
              'dg', m.dg, 'pp', m.pa),
            acc -> acc.best)""").as("max_run"))
      .withColumn("span_tokens", col("max_run") + lit(7L))
    val neo = Dedup.dupSpans(cands, docsDf)
    val cols = Seq("doc_a", "doc_b", "n_shared", "max_run", "span_tokens")
    val diff = neo.selectExpr(cols: _*).exceptAll(ref.selectExpr(cols: _*))
      .union(ref.selectExpr(cols: _*).exceptAll(neo.selectExpr(cols: _*)))
    assert(neo.count() > 0, "fixture must produce candidate spans")
    assert(diff.isEmpty,
      s"kernel drifted from the row-join reference: ${diff.take(5).toSeq}")
  }

  test("CellArgmax kernel differential: matches the crossJoin+max(struct) argmax on random, zero-norm and tie vectors") {
    import spark.implicits._
    // Random vectors (seeded), a zero-norm vector, an exact duplicate
    // of a centroid (csim 1.0 tie candidates), and a vector equidistant
    // from two centroids (the (csim, -cid) tie-break edge). The
    // reference is the former crossJoin + max(struct(csim, -cid))
    // regroup, rebuilt inline; both must assign every vector to the
    // same cell.
    val rnd = new scala.util.Random(7)
    val dim = 8
    val cents = (0L until 4L).map(c =>
      (c, Seq.fill(dim)(rnd.nextGaussian()), 0.0)).map { case (c, v, _) =>
      (c, v, math.sqrt(v.map(x => x * x).sum)) }
    val vecs =
      (10L until 40L).map(i => i -> Seq.fill(dim)(rnd.nextGaussian())) ++
      Seq(50L -> Seq.fill(dim)(0.0),                    // zero-norm
          51L -> cents(2)._2,                           // exact centroid copy
          52L -> cents(0)._2.zip(cents(1)._2).map { case (a, b) => a + b }) // between 0 and 1
    val base = vecs.toDF("vec_id", "v")
      .select(col("vec_id"), col("v"),
        sqrt(expr("aggregate(v, 0.0D, (a, x) -> a + x * x)")).as("nrm"))
    val kernel = base.withColumn("cid",
        graft.functions.CellArgmax(col("v"), col("nrm"), cents))
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val centDf = cents.toDF("cid", "cv", "cn")
    val ref = base.crossJoin(broadcast(centDf))
      .withColumn("csim", nanvl(coalesce(
        try_divide(expr("aggregate(zip_with(v, cv, (x, y) -> x * y), 0.0D, (a, x) -> a + x)"),
          col("nrm") * col("cn")), lit(-1.0)), lit(-1.0)))
      .groupBy("vec_id")
      .agg(max(struct(col("csim"), (-col("cid")).as("nc"))).as("m"))
      .select(col("vec_id"), (-col("m.nc")).as("cid")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel == ref, s"argmax drift: ${kernel.toSet.diff(ref.toSet)}")
    assert(kernel(50L) == 0L, "zero-norm vector must land in the lowest cid")
    assert(kernel(51L) == 2L, "a centroid copy must land in its own cell")
  }

  test("derived IVF sizing: 10×-ing the corpus keeps per-cell population ~flat (cells ∝ corpus)") {
    // deterministic pseudo-random embeddings from vec_id
    def emb(n: Long) = spark.range(n).select(col("id").as("vec_id"),
      array((0 until 8).map(j =>
        pmod(xxhash64(col("id"), lit(j)), lit(1000)).cast("double") / 500.0 - 1.0): _*)
        .as("embedding"))
    def pops(n: Long): (Int, Seq[Long]) = {
      val e = emb(n)
      val k = Similarity.derivedNumCells(e, targetCellSize = 100L, minCells = 4)
      val cents = Similarity.kmeansCentroids(e, k, iters = 1, seed = 11L)
      (k, Similarity.cellAssignments(e, cents)
        .groupBy("cid").count().collect().map(_.getLong(1)).toSeq)
    }
    val (k1, p1) = pops(1000L)
    val (k10, p10) = pops(10000L)
    assert(k1 == 10 && k10 == 100, s"cells must scale with the corpus: $k1/$k10")
    def mean(xs: Seq[Long]) = xs.sum.toDouble / xs.length
    // the q92 failure mode was per-cell population growing WITH the
    // corpus (fixed k); under derived sizing the mean stays at the
    // target and no cell balloons past a small multiple of it
    assert(math.abs(mean(p10) - mean(p1)) / mean(p1) < 0.25,
      s"per-cell mean moved under 10× growth: ${mean(p1)} -> ${mean(p10)}")
    assert(p10.max <= 8 * 100,
      s"a derived-sized cell blew past the target population: max=${p10.max}")
    // and the FIXED demo constant shows exactly the q92 pathology here:
    // same corpora, k pinned at 4 — population grows ~10×
    def fixedMean(n: Long): Double = {
      val e = emb(n)
      val cents = Similarity.kmeansCentroids(e, 4, iters = 1, seed = 11L)
      mean(Similarity.cellAssignments(e, cents)
        .groupBy("cid").count().collect().map(_.getLong(1)).toSeq)
    }
    assert(fixedMean(10000L) / fixedMean(1000L) > 5.0,
      "the fixed-k control should grow ~linearly with the corpus")
  }
}
