package graft

import graft.operators.TrainingData
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics + plan shape of the corpus-management operators (q40-q42). */
class TrainingDataSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("td").toString
    rows.toDF("doc_id", "text", "source")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        col("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q40: every document lands in exactly one split, deterministically") {
    val dir = docsDir((0L until 64L).map(i => (i, s"doc number $i words", "s")))
    def stats() = Registry.byName("q40_train_split").run(spark, dir)
      .collect().map(r => r.getAs[String]("split") -> r.getAs[Long]("n_docs")).toMap
    val s1 = stats()
    assert(s1.values.sum == 64) // partition of the corpus, nothing dropped
    assert(s1.keySet.subsetOf(Set("train", "val", "test")))
    assert(s1("train") > s1.getOrElse("val", 0L)) // 80/10/10 shape
    assert(stats() == s1) // re-run identical: no RNG state
  }

  test("q101 kernel: members take their cluster representative's split; singletons keep their own") {
    val docs = (0L until 64L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val cmap = Seq((0L, 0L), (1L, 0L), (7L, 5L), (5L, 5L))
      .toDF("doc_id", "cluster_id")
    val out = TrainingData.clusterCoherentSplit(docs, cmap)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("split_key"), r.getAs[String]("split"))).toMap
    assert(out.size == 64) // left join: nothing dropped, nothing duplicated
    assert(out(1L)._1 == 0L && out(1L)._2 == out(0L)._2,
      "cluster members must share the representative's split")
    assert(out(7L)._1 == 5L && out(7L)._2 == out(5L)._2)
    // singletons: split_key is their own id, i.e. exactly the q40 rule
    val q40splits = docs.select(col("doc_id"), TrainingData.splitColumn.as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (0L until 64L).filterNot(Set(0L, 1L, 5L, 7L)).foreach { i =>
      assert(out(i) == ((i, q40splits(i))))
    }
  }

  test("q101: zero near-dup clusters straddle any split boundary on the fixture corpus") {
    val dir = TestSpark.sf0001
    val out = Registry.byName("q101_cluster_split").run(spark, dir)
    val clusters = graft.operators.Dedup.stagedClusters(spark, dir)
    // the coherence contract q40 cannot offer: every cluster maps into ONE split
    val straddling = out.join(clusters, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
    assert(straddling.count() == 0, "a near-dup cluster straddles a split boundary")
    // the fixture must actually exercise the contract (multi-member clusters exist)
    val multi = clusters.groupBy("cluster_id").count().filter(col("count") > 1).count()
    assert(multi > 0, "fixture has no multi-member clusters — the straddle test is vacuous")
    // and the operator must genuinely differ from q40 somewhere: under the
    // raw-doc_id rule at least one cluster WOULD straddle (else the
    // coherence guarantee is untestable on this corpus)
    val wouldStraddle = clusters
      .withColumn("raw_split", TrainingData.splitColumn)
      .groupBy("cluster_id").agg(countDistinct(col("raw_split")).as("n"))
      .filter(col("n") > 1).count()
    assert(wouldStraddle > 0,
      "no cluster straddles under q40's rule either — strengthen the fixture")
  }

  test("q104 kernel: leaked spans are excised token-exactly, clean docs pass whole, overlaps union") {
    import graft.operators.TrainingData
    val leak = (1 to 8).map(i => s"b$i").mkString(" ") // the benchmark 8-gram
    val train = Seq(
      (1L, s"t1 t2 $leak t11 t12"),              // leak mid-doc: 8 tokens out
      (2L, "all clean words nothing shared here truly"), // untouched
      (3L, s"$leak b9"),                          // two OVERLAPPING matched windows
      (4L, "short doc")                           // < 8 tokens: no grams, untouched
    ).toDF("doc_id", "text")
    val bench = Seq((9L, s"x0 $leak y0"), (10L, s"z $leak b9 z2"))
      .toDF("doc_id", "text")
    val out = TrainingData.exciseBenchmarkSpans(train, bench)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("clean_text"))).toMap
    assert(out.size == 4, "every train doc must appear, clean or not")
    assert(out(1L) == ((12L, 8L, "t1 t2 t11 t12")),
      "exactly the leaked window's 8 tokens go; flanks survive")
    assert(out(2L)._2 == 0L && out(2L)._3 == "all clean words nothing shared here truly")
    // doc 3: windows [0,8) and [1,9) both match -> union covers all 9
    assert(out(3L) == ((9L, 9L, "")),
      "overlapping matched windows must union, not double-count or gap")
    assert(out(4L) == ((2L, 0L, "short doc")), "sub-gram docs pass whole")
  }

  test("q41: repeated 3-grams are counted, distinct text scores 0") {
    // "a b c a b c a b" -> 6 3-grams, 3 distinct -> dup_frac 0.5
    val dir = docsDir(Seq(
      (1L, "a b c a b c a b", "s"),
      (2L, "all words here are unique today", "s"),
      (3L, "one two", "s"))) // sub-3-word guard: zero grams
    val rows = Registry.byName("q41_repetition").run(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_distinct"),
          r.getAs[Double]("dup_frac"))).toMap
    assert(rows(1L) == ((6L, 3L, 0.5)))
    assert(rows(2L)._3 == 0.0)
    assert(rows(3L) == ((0L, 0L, 0.0)))
  }

  test("q41 is scan-shaped: zero exchanges") {
    val p = Registry.byName("q41_repetition").run(spark, TestSpark.sf0001)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Exchange"), "per-doc quality signal must not shuffle")
  }

  test("q42: only cross-source shared 8-grams count; within-source repeats don't") {
    val shared = "w1 w2 w3 w4 w5 w6 w7 w8"
    val dir = docsDir(Seq(
      (1L, s"$shared tail one", "srcA"),
      (2L, s"lead $shared", "srcB"),      // shares the 8-gram with srcA
      (3L, s"$shared again $shared", "srcC_unrelated_no4"), // repeats internally only
      (4L, "totally different words that never overlap with anything here", "srcD")))
    val rows = Registry.byName("q42_contamination").run(spark, dir)
      .collect().map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b"),
        r.getAs[Long]("n_shared")))
    // srcC shares the same 8-gram too (it contains `shared` as a window),
    // so the pairs are exactly the 3 combinations over {A, B, C}
    val bySet = rows.map { case (a, b, n) => Set(a, b) -> n }.toMap
    assert(rows.length == 3, s"got $rows")
    assert(bySet(Set("srcA", "srcB")) == 1L)
    assert(rows.forall { case (a, b, _) => a < b }) // ordered pairs
    assert(!rows.exists { case (a, b, _) => a == "srcD" || b == "srcD" })
  }

  test("q43: flags test docs sharing an 8-gram with train, in one scan") {
    // splits by md5(doc_id) prefix: 0 -> val ('cf'), 1 -> train ('c4'),
    // 2 -> train ('c8'), 3 -> test ('ec'). Test doc 3 shares its 8-gram
    // window with TRAIN doc 1 (doc 0 sharing it is val — ignored), so
    // doc 3 is the one contaminated test doc
    val shared = "w1 w2 w3 w4 w5 w6 w7 w8"
    val dir = docsDir(Seq(
      (0L, s"$shared in the validation split does not count", "s"),
      (1L, s"$shared extra", "s"),
      (2L, "another clean training document with fully distinct content words", "s"),
      (3L, s"prefix $shared", "s")))
    val df = Registry.byName("q43_decontaminate").run(spark, dir)
    val rows = df.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared_grams")).toMap
    assert(rows == Map(3L -> 1L), s"got $rows")
    val p = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val scans = p.linesIterator.count(_.matches("""^\(\d+\) Scan parquet\s*$"""))
    assert(scans == 1, s"expected one scan, got $scans")
    assert(!p.contains("Join"), "decontamination must fold per-gram, never join")
  }

  test("q67: flags contaminated TRAIN docs; output is exact at any fpp") {
    // same planted splits as the q43 fixture (md5(doc_id) prefix:
    // 0 -> val, 1/2 -> train, 3 -> test). Train doc 1 shares its 8-gram
    // window with test doc 3 -> doc 1 is the one contaminated train
    // doc; val doc 0 sharing it must not count, clean train doc 2 must
    // be absent.
    val shared = "w1 w2 w3 w4 w5 w6 w7 w8"
    val dir = docsDir(Seq(
      (0L, s"$shared in the validation split does not count", "s"),
      (1L, s"$shared extra", "s"),
      (2L, "another clean training document with fully distinct content words", "s"),
      (3L, s"prefix $shared", "s")))
    val rows = Registry.byName("q67_bloom_decontam").run(spark, dir)
      .collect().map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared_grams")).toMap
    assert(rows == Map(1L -> 1L), s"got $rows")
    // the Bloom is a prune, not an approximation: a near-useless filter
    // (fpp 0.5, ~every gram a candidate) must yield identical rows,
    // because the exact confirm join removes every false positive
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("split", TrainingData.splitColumn)
    val loose = TrainingData.contaminatedTrainDocs(
      docs.filter(col("split") === "train"),
      docs.filter(col("split") === "test"), fpp = 0.5)
      .collect().map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared_grams")).toMap
    assert(loose == rows, s"fpp must not change output: $loose vs $rows")
  }

  test("q69: exactly K per stratum, small strata whole, deterministic") {
    // 40 docs in source "big", 3 in source "small"; k=5 must keep
    // exactly 5 of big and all 3 of small, and re-running draws the
    // identical doc set (hash order, no RNG state)
    val rows = (0L until 40L).map(i => (i, s"text $i", "big")) ++
      (100L until 103L).map(i => (i, s"text $i", "small"))
    val dir = docsDir(rows)
    def draw() = {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      TrainingData.fixedSample(docs, 5)
        .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id")))
    }
    val d1 = draw()
    assert(d1.count(_._1 == "big") == 5)
    assert(d1.count(_._1 == "small") == 3)
    assert(draw().toSet == d1.toSet)
  }

  test("q69 rank filter pushes down as WindowGroupLimit") {
    val p = Registry.byName("q69_fixed_sample").run(spark, TestSpark.sf0001)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("WindowGroupLimit"),
      s"per-partition top-K heap must bound rows before the exchange:\n${p.take(2000)}")
  }

  test("q45: keeps the top half of each language by quality") {
    val dir = java.nio.file.Files.createTempDirectory("qf").toString
    // four docs per language with strictly different uniqueness ratios →
    // strictly ordered qualities; percent_rank <= 0.5 keeps two per lang
    def doc(i: Long, lang: String, distinct: Int) = {
      val words = (0 until 20).map(j => s"w${j % distinct}").mkString(" ")
      (i, words, lang)
    }
    Seq(doc(0, "en", 20), doc(1, "en", 10), doc(2, "en", 5), doc(3, "en", 2),
      doc(4, "de", 20), doc(5, "de", 10), doc(6, "de", 5), doc(7, "de", 2))
      .toDF("doc_id", "text", "lang")
      .select(col("doc_id"), col("text"), col("lang"), lit("s").as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = Registry.byName("q45_quality_filter").run(spark, dir)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(0L, 1L, 4L, 5L)) // most-distinct docs win per lang
  }

  test("qualityFilterApprox agrees >=95% with the exact window filter") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val exact = Registry.byName("q45_quality_filter")
      .run(spark, "/root/testdata/sf0.01")
      .select("doc_id").as[Long].collect().toSet
    val approx = TextAnalysis.qualityFilterPreScored(
        TextAnalysis.withQuality(docs, "lang")
          .select("doc_id", "lang", "quality"), keepFrac = 0.5)
      .select("doc_id").as[Long].collect().toSet
    // disagreement is confined to quality ties within sketch error of the
    // per-language threshold
    val overlap = (exact intersect approx).size.toDouble
    assert(overlap / exact.size >= 0.95,
      s"agreement ${overlap / exact.size} (exact=${exact.size} approx=${approx.size})")
    assert(approx.size.toDouble / exact.size >= 0.9 &&
      approx.size.toDouble / exact.size <= 1.1, "kept-set size comparable")
  }

  test("qualityFilterApprox plans no window and broadcasts the thresholds") {
    import graft.operators.TextAnalysis
    val p = TextAnalysis.qualityFilterPreScored(
        TextAnalysis.withQuality(Tables.documents(spark, TestSpark.sf0001), "lang")
          .select("doc_id", "lang", "quality"), keepFrac = 0.5)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Window"),
      "approx path must not sort a language on one partition")
    assert(p.contains("BroadcastHashJoin"),
      "threshold table must broadcast, not shuffle the corpus")
  }

  test("q46: next-fit packing respects capacity, shards, and oversized docs") {
    import graft.operators.TrainingData
    def words(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    // shard 0 (ids ≡ 0 mod 8): 30+30 fit one 64-pack; the third 30
    // overflows to pack 1; the 70-word doc exceeds capacity alone and
    // takes its own pack. id 1 lands in shard 1, pack 0.
    val docs = Seq(
      (0L, words(30)), (8L, words(30)), (16L, words(30)), (24L, words(70)),
      (1L, words(10)))
      .toDF("doc_id", "text")
    val got = TrainingData.packSequences(docs, shards = 8, capacity = 64L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("shard"), r.getAs[Long]("pack_id"), r.getAs[Long]("n_tokens"))).toMap
    assert(got(0L) == ((0L, 0L, 30L)))
    assert(got(8L) == ((0L, 0L, 30L)))
    assert(got(16L) == ((0L, 1L, 30L)))
    assert(got(24L) == ((0L, 2L, 70L))) // oversized: own pack
    assert(got(1L) == ((1L, 0L, 10L)))
  }

  test("q43 WithSplit honors the stored split where md5-derived splits disagree") {
    import graft.operators.TrainingData
    import spark.implicits._
    // find two ids the md5 rule puts in TRAIN, so the bare kernel sees
    // no test doc at all — then store a split that disagrees
    val md5Splits = (1L to 60L).toDF("doc_id")
      .withColumn("split", TrainingData.splitColumn)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val both = (1L to 60L).filter(id => md5Splits(id) == "train").take(2)
    assert(both.size == 2, s"fixture ids exhausted: $md5Splits")
    val shared = (1 to 8).map(i => s"g$i").mkString(" ")
    val docs = Seq(
      (both(0), s"$shared leading train doc body", "train"),
      (both(1), s"$shared leaked into the held out doc", "test"))
      .toDF("doc_id", "text", "split")
    // bare kernel re-derives md5 splits -> both train -> no contamination
    assert(TrainingData.contaminatedTestDocs(docs.drop("split")).isEmpty)
    // the WithSplit form sees the STORED assignment and flags the leak
    val got = TrainingData.contaminatedTestDocsWithSplit(docs).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(both(1)))
  }

  test("q107: seeded shuffle packs reproduce under the seed and re-deal under another") {
    import graft.operators.TrainingData
    import spark.implicits._
    val counts = (1L to 200L).map(i => (i, 10L + i % 7)).toDF("doc_id", "n_tokens")
    def packs(seed: String) = TrainingData
      .packSequencesShuffledFromCounts(counts, seed, capacity = 64L)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("shard"), r.getAs[Long]("pack_id"),
        r.getAs[Long]("n_tokens"))).toSet
    val a = packs("seed-A")
    // byte-reproducible: the same seed deals the identical packing
    assert(packs("seed-A") == a)
    // a different seed re-deals shards (some doc must move buckets)
    val b = packs("seed-B")
    assert(a.map(t => t._1 -> t._2) != b.map(t => t._1 -> t._2))
    // every doc packed exactly once, token counts preserved
    assert(a.map(_._1) == (1L to 200L).toSet && a.size == 200)
    // capacity respected: per-(shard, pack) sums never exceed 64
    // (no oversized docs in this fixture)
    val sums = a.groupBy(t => (t._2, t._3)).values.map(_.map(_._4).sum)
    assert(sums.forall(_ <= 64L))
    // the deal is decorrelated from doc_id order: at least one shard
    // holds non-contiguous ids (adjacent ids land in one md5 bucket
    // with probability 1/256 per pair)
    val byShard = a.groupBy(_._2).values.map(_.map(_._1).toSeq.sorted)
    assert(byShard.exists(ids => ids.size >= 2 && ids.sliding(2)
      .exists { case Seq(x, y) => y != x + 1 }))
  }

  test("q112: the partitioned budget kernel equals tokenBudgetKeepScored under one partition value") {
    // differential pin for the generalization: a constant part column
    // must reproduce the unpartitioned kernel's verdicts exactly
    val scored = (1L to 300L)
      .map(i => (i, ((i * 37) % 100).toDouble, 5L + i % 11))
      .toDF("doc_id", "quality", "n_tokens")
    val base = TrainingData
      .tokenBudgetKeepScored(scored.select(col("doc_id"), col("n_tokens"), col("quality")), 700L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val part = TrainingData
      .tokenBudgetKeepScoredBy(scored.withColumn("lang", lit("xx")), 700L, "lang")
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(part == base)
  }

  test("q112: each language spends its budget independently") {
    // lang a: qualities 90 > 80 > 70 at 40 tokens each — budget 100
    // keeps exactly the top two. lang b: the top-quality doc alone
    // exceeds the budget, and the CUMULATIVE prefix rule (q78's, the
    // oracle's running sum) means everything ranked at or below it is
    // out too — same-language verdicts never reset.
    val scored = Seq(
      (1L, "a", 40L, 90.0), (2L, "a", 40L, 80.0), (3L, "a", 40L, 70.0),
      (4L, "b", 200L, 99.0), (5L, "b", 50L, 10.0))
      .toDF("doc_id", "lang", "n_tokens", "quality")
    val out = TrainingData.tokenBudgetKeepScoredBy(scored, 100L, "lang")
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out == Map(1L -> true, 2L -> true, 3L -> false,
      4L -> false, 5L -> false))
  }

  test("q113: the manifest cuts packs into ~budget-sized files in shuffled order and conserves totals") {
    import graft.operators.TrainingData
    // hand-built packs: shards "aa" < "ab", budget 100; pack tokens
    // chosen so a file boundary lands mid-shard AND a pack straddles
    // the budget (file 0 ends at 110 > 100 because packs never split)
    val packs = Seq(
      // (doc_id, shard, pack_id, n_tokens) — doc-level rows, two per pack
      (1L, "aa", 0L, 30L), (2L, "aa", 0L, 30L),   // pack aa/0: 60
      (3L, "aa", 1L, 25L), (4L, "aa", 1L, 25L),   // pack aa/1: 50, cum_before 60 -> file 0
      (5L, "ab", 0L, 40L), (6L, "ab", 0L, 40L),   // pack ab/0: 80, cum_before 110 -> file 1
      (7L, "ab", 1L, 10L), (8L, "ab", 1L, 10L))   // pack ab/1: 20, cum_before 190 -> file 1
      .toDF("doc_id", "shard", "pack_id", "n_tokens")
    val out = TrainingData.shardManifest(packs, 100L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out == Map(0L -> ((2L, 4L, 110L)), 1L -> ((2L, 4L, 100L))))
    // conservation: file totals sum to the corpus totals
    assert(out.values.map(_._3).sum == 210L && out.values.map(_._2).sum == 8L)
  }

  test("curation pipeline: stages compose, counts are consistent, output readable") {
    val out = java.nio.file.Files.createTempDirectory("curateout").toString
    val walls = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    val c = graft.tools.Curate.run(spark, TestSpark.sf0001, out,
      stageWalls = Some(walls))
    assert(c.input == 500) // sf0.001 documents
    // every stage reports a positive mark-based wall, in pipeline order
    assert(walls.map(_._1).toSeq == Seq("audit", "deduped", "sem_deduped",
      "quality", "mixed", "splits", "clean",
      "bpe_counts", "mixture_report", "train_packed", "shard_manifest"))
    assert(walls.forall(_._2 > 0))
    assert(c.afterDedup <= c.input && c.afterDedup > 0)
    // semantic dedup only removes docs, and keeps at least the cell seeds
    assert(c.afterSemDedup <= c.afterDedup && c.afterSemDedup > 0)
    // percentile filter keeps ~half (per-language rounding)
    assert(c.afterQuality < c.afterSemDedup)
    assert(c.afterQuality >= c.afterSemDedup / 4)
    // mixture balancing only removes docs, never adds
    assert(c.afterMixture <= c.afterQuality && c.afterMixture > 0)
    assert(c.train + c.val_ + c.testClean + c.testDropped == c.afterMixture)
    assert(c.train > c.val_ + c.testClean) // 80/10/10 shape survives
    assert(c.trainPacks > 0 && c.trainPacks <= c.train)
    // every written stage is a readable parquet with the expected rows
    assert(spark.read.parquet(s"$out/clean").count() ==
      c.train + c.val_ + c.testClean)
    // the decontam invariant under the STORED (cluster-coherent) split:
    // nothing left in clean is contaminated under ITS OWN assignment
    // (round 14: the bare kernel's md5 re-derivation would check a
    // DIFFERENT split than the one the pack stage trains on)
    assert(graft.operators.TrainingData
      .contaminatedTestDocsWithSplit(spark.read.parquet(s"$out/clean"))
      .isEmpty)
    val packed = spark.read.parquet(s"$out/train_packed")
    assert(packed.count() == c.train)
    // pack capacity (BPE symbols, round 14) respected except for
    // oversized single docs
    val over = packed.groupBy("shard", "pack_id")
      .agg(sum("n_tokens").as("tot"), count(lit(1)).as("n"))
      .filter(col("tot") > 2048 && col("n") > 1)
    assert(over.count() == 0)
    // the shard manifest conserves the packed totals exactly (q113's
    // conservation contract, composed): file token/doc sums == packed
    val manifest = spark.read.parquet(s"$out/shard_manifest")
    assert(c.shardFiles == manifest.count() && c.shardFiles > 0)
    val Array(mTok, mDocs) = manifest
      .agg(sum("n_tokens"), sum("n_docs")).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val pTok = packed.agg(sum("n_tokens")).collect()(0).getLong(0)
    assert(mTok == pTok && mDocs == c.train)
    // restart-from-stage: with the packing artifacts gone, a resumed
    // run rebuilds exactly them — same packs, a manifest that conserves
    // their totals — and reads every earlier stage back untouched
    def stampTime(stage: String) =
      new java.io.File(s"$out/$stage/_GRAFT_STAMP").lastModified()
    val stamps = Seq("clean", "bpe_counts").map(st => st -> stampTime(st))
    Seq("train_packed", "shard_manifest").foreach(st =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$out/$st")))
    val c2 = graft.tools.Curate.run(spark, TestSpark.sf0001, out, resume = true)
    assert(c2.trainPacks == c.trainPacks)
    val pTok2 = spark.read.parquet(s"$out/train_packed")
      .agg(sum("n_tokens")).collect()(0).getLong(0)
    assert(spark.read.parquet(s"$out/shard_manifest")
      .agg(sum("n_tokens")).collect()(0).getLong(0) == pTok2)
    assert(stamps.forall { case (st, t) => t > 0L && stampTime(st) == t },
      "a resume must not rebuild clean or bpe_counts")
  }

  test("curation stage 5b drops train docs leaking an external benchmark") {
    // phase 1: a plain run exposes which docs reach the clean train
    // split; phase 2 feeds one of their texts back as the "published
    // benchmark" — that doc must now be dropped from the packed train
    // set while every other stage count is unchanged
    val out1 = java.nio.file.Files.createTempDirectory("curateb1").toString
    val c1 = graft.tools.Curate.run(spark, TestSpark.sf0001, out1)
    assert(c1.trainBenchDropped == 0L) // no benchmark, no 5b drops
    val leaked = spark.read.parquet(s"$out1/clean")
      .filter(col("split") === "train" &&
        size(split(col("text"), " ")) >= 8)
      .select("doc_id", "text").head()
    val bench = Seq((0L, leaked.getString(1))).toDF("doc_id", "text")
    val out2 = java.nio.file.Files.createTempDirectory("curateb2").toString
    val c2 = graft.tools.Curate.run(spark, TestSpark.sf0001, out2, Some(bench))
    assert(c2.trainBenchDropped >= 1, "the planted leak must be caught")
    val cleanTrain = spark.read.parquet(s"$out2/bench_clean")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!cleanTrain.contains(leaked.getLong(0)))
    // 5b touches only the train split: upstream counts identical
    assert((c2.input, c2.afterDedup, c2.afterQuality, c2.train, c2.testClean) ==
      ((c1.input, c1.afterDedup, c1.afterQuality, c1.train, c1.testClean)))

  }

  test("curation preserves docs with no embedding row (partial coverage)") {
    // stage 1b anti-joins on semanticDedup's DROPPED set: a doc absent
    // from the embeddings table has no verdict and must pass through —
    // the old kept-set semi-join silently discarded it (ADVICE r6)
    val dir = java.nio.file.Files.createTempDirectory("curatecov").toString
    val out = java.nio.file.Files.createTempDirectory("curatecovout").toString
    Tables.documents(spark, TestSpark.sf0001)
      .write.parquet(s"$dir/documents.parquet")
    // keep the demo-centroid seeds (vec_id < 16), drop every 7th other row
    Tables.embeddings(spark, TestSpark.sf0001)
      .filter(col("vec_id") < 16 || col("vec_id") % 7 =!= 3)
      .write.parquet(s"$dir/embeddings.parquet")
    graft.tools.Curate.run(spark, dir, out)
    val deduped = spark.read.parquet(s"$out/deduped")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val semDeduped = spark.read.parquet(s"$out/sem_deduped")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val uncovered = deduped.filter(id => id >= 16 && id % 7 == 3)
    assert(uncovered.nonEmpty, "fixture must exercise uncovered docs")
    assert(uncovered.subsetOf(semDeduped),
      s"docs without embeddings must survive stage 1b; lost ${(uncovered -- semDeduped).take(5)}")
  }

  test("Curate stage 0 aborts on corruption-class audit failures, tolerates referential gaps") {
    // the partial-coverage test above already proves a clean-but-
    // incomplete corpus passes the gate (docs without embeddings are
    // observability-only); this one plants a CORRUPTION — a duplicated
    // doc_id — and the run must fail fast with the audit artifact on disk
    val dir = java.nio.file.Files.createTempDirectory("curatebad").toString
    val out = java.nio.file.Files.createTempDirectory("curatebadout").toString
    val docs = Tables.documents(spark, TestSpark.sf0001)
    docs.unionByName(docs.limit(1)) // doc_id 0 twice
      .write.parquet(s"$dir/documents.parquet")
    Tables.embeddings(spark, TestSpark.sf0001)
      .write.parquet(s"$dir/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      graft.tools.Curate.run(spark, dir, out)
    }
    assert(e.getMessage.contains("duplicate_doc_id=1"), e.getMessage)
    // the audit artifact was written BEFORE the abort — the operator
    // report is on disk for the person fixing the corpus
    val audit = spark.read.parquet(s"$out/audit").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit("duplicate_doc_id") == 1L)
    // and no later stage artifact exists (fail-fast, not fail-late)
    assert(!new java.io.File(s"$out/deduped").exists())
  }

  test("q47: sampling is deterministic, per-stratum, and split-independent") {
    import graft.operators.TrainingData
    val dir = java.nio.file.Files.createTempDirectory("strat").toString
    (0L until 300L).map(i =>
        (i, s"words for doc $i", if (i < 128) "en" else if (i < 256) "de" else "fr"))
      .toDF("doc_id", "text", "lang")
      .select(col("doc_id"), col("text"), col("lang"), lit("s").as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def kept() = Registry.byName("q47_stratified_sample").run(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang"))
    val k1 = kept()
    assert(kept().toSet == k1.toSet) // rerun identical: hash, not RNG
    val byLang = k1.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byLang("fr") == 44) // unthresholded stratum kept whole
    // en keeps ~64/256 of 128, de ~128/256 of 128 — exact counts are
    // fixed by md5 but assert the shape, not the constant
    assert(byLang("en") < byLang("de") && byLang("de") < 128)
    // the sampling hash must NOT be the split hash: sampled docs still
    // land in every split (a shared hash would drain train first)
    val splits = Registry.byName("q40_train_split").run(spark, dir)
      .collect().map(_.getAs[String]("split")).toSet
    val sampledSplits = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id").isin(k1.map(_._1): _*))
      .withColumn("split", TrainingData.splitColumn)
      .select("split").distinct().collect().map(_.getString(0)).toSet
    assert(sampledSplits == splits, s"sampling correlates with split: $sampledSplits")
  }

  test("q47 is scan-shaped: zero exchanges") {
    val p = Registry.byName("q47_stratified_sample").run(spark, TestSpark.sf0001)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Exchange"), "hash sampling must not shuffle")
  }

  test("q48: every source converges to the smallest source's token budget") {
    import graft.operators.TrainingData
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = ((0L until 20L).map(i => (i, words(50), "srcA")) ++
      (100L until 110L).map(i => (i, words(50), "srcB")) ++
      (200L until 210L).map(i => (i, words(25), "srcC")))
      .toDF("doc_id", "text", "source")
    val got = TrainingData.equalizeSourceTokens(docs)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_kept"), r.getAs[Long]("tok_kept"))).toMap
    assert(got("srcC") == ((10L, 250L))) // smallest source kept whole
    // the others sample toward 250 tokens; with 10-20 docs the hash
    // variance is real, so assert budget bounds, not exact counts
    assert(got("srcA")._2 <= 1000L && got("srcA")._2 < got("srcB")._2 + 500L)
    assert(got("srcB")._2 <= 500L)
    assert(got("srcA")._1 < 20L && got("srcB")._1 < 10L) // both downsampled
  }

  test("q51: chunks tile each doc with the stride overlap and always reach the end") {
    import graft.operators.TrainingData
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // window 32 / stride 24: 10 words -> one short chunk; 32 -> one
    // exact chunk; 33 -> two (the tail starts at 25, len 9); 99 -> four
    // (last start 73, covers w73..w99)
    val docs = Seq((1L, words(10)), (2L, words(32)), (3L, words(33)), (4L, words(99)))
      .toDF("doc_id", "text")
    val got = TrainingData.chunkDocuments(docs, window = 32, stride = 24)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx")) ->
        r.getAs[Long]("n_tokens")).toMap
    assert(got.keys.count(_._1 == 1L) == 1 && got((1L, 0L)) == 10L)
    assert(got.keys.count(_._1 == 2L) == 1 && got((2L, 0L)) == 32L)
    assert(got.keys.count(_._1 == 3L) == 2 && got((3L, 1L)) == 9L)
    assert(got.keys.count(_._1 == 4L) == 4 && got((4L, 3L)) == 27L)
    // every chunk except a doc's last is full-window
    val lastIdx = got.keys.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(got.forall { case ((d, i), n) => i == lastIdx(d) || n == 32L })
  }

  test("q51 is scan-shaped: zero exchanges") {
    val p = Registry.byName("q51_chunk").run(spark, TestSpark.sf0001)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Exchange"), "chunking must not shuffle")
  }

  test("q48 plans broadcast rate joins over two documents scans") {
    val p = Registry.byName("q48_source_mixture").run(spark, TestSpark.sf0001)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val scans = p.linesIterator.count(_.matches("""^\(\d+\) Scan parquet\s*$"""))
    assert(scans == 2, s"expected totals + filter scans, got $scans")
    assert(p.contains("BroadcastHashJoin"), "rate table must broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus must never shuffle for the rate join")
  }

  test("q63: spans shared across docs are flagged; within-doc-only and short docs are not") {
    def span(p: String) = (1 to 16).map(i => s"$p$i").mkString(" ")
    val (a, b, c, u) = (span("a"), span("b"), span("c"), span("u"))
    val dir = docsDir(Seq(
      (1L, s"$a $b", "s"), // shares span a with doc 2
      (2L, s"$a $c", "s"),
      (3L, u, "s"),        // unique single span
      (4L, "only eight words live in this doc here", "s"))) // < 1 span: absent
    val rows = Registry.byName("q63_dup_span_frac").run(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("n_dup_spans"),
          r.getAs[Double]("dup_span_frac"), r.getAs[Boolean]("flagged"))).toMap
    assert(rows(1L) == ((2L, 1L, 0.5, true)))
    assert(rows(2L) == ((2L, 1L, 0.5, true)))
    assert(rows(3L) == ((1L, 0L, 0.0, false)))
    assert(!rows.contains(4L))
  }

  test("q64: target-language docs score positive, off-target negative, featureless absent") {
    val dir = java.nio.file.Files.createTempDirectory("td").toString
    Seq((1L, "en", "alpha beta alpha beta alpha"), (2L, "en", "alpha beta gamma"),
      (3L, "de", "zeta eta zeta eta zeta"), (4L, "de", "zeta eta theta"),
      (5L, "de", "single")) // one word: no bigram features
      .toDF("doc_id", "lang", "text")
      .select(col("doc_id"), col("text"), col("lang"), lit("s").as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Registry.byName("q64_dsir_weights").run(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("score_scaled"), r.getAs[Double]("w_avg"))).toMap
    // en bigrams carry target mass (p_target > p_raw), de bigrams none
    assert(rows(1L)._1 > 0 && rows(2L)._1 > 0)
    assert(rows(3L)._1 < 0 && rows(4L)._1 < 0)
    assert(!rows.contains(5L))
    rows.values.foreach { case (s, w) => assert(s.sign == math.signum(w).toLong) }
  }

  test("q42 plans two scans (artifact + thin docs) and no gram-level self-join") {
    // round 14: q42 rides the staged gram artifact, so the plan holds
    // exactly TWO parquet scans — the artifact and the thin
    // (doc_id, source) documents projection — and the only join is the
    // doc_id-keyed source attach; pairs still explode from source
    // sets, never through a gram-level self-join (which would show as
    // a gh-keyed join)
    val df = Registry.byName("q42_contamination").run(spark, TestSpark.sf0001)
    val p = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val scans = p.linesIterator.count(_.matches("""^\(\d+\) Scan parquet\s*$"""))
    assert(scans == 2, s"expected artifact + thin docs scans, got $scans")
    // the one join must key on doc_id (source attach), never on the
    // gram hash — a gh-keyed join would be the gram-level self-join
    // this query's shape exists to avoid
    val joinKeys = p.linesIterator.filter(_.trim.startsWith("Left keys")).toSeq
    assert(joinKeys.nonEmpty && joinKeys.forall(l =>
      l.contains("doc_id") && !l.contains("gh")),
      s"pairs must explode from source sets, never a gram-keyed join: $joinKeys")
  }

  test("q75: repeated spans are dropped on reassembly; clean docs pass through byte-identical") {
    import org.apache.spark.sql.DataFrame
    val spanA = (1 to 8).map(i => s"a$i").mkString(" ")   // one full span
    val spanB = (1 to 8).map(i => s"b$i").mkString(" ")
    val docs: DataFrame = Seq(
      (1L, s"$spanA $spanB $spanA"),   // span A stutters → dropped once
      (2L, s"$spanA $spanB"),          // clean: nothing dropped
      (3L, "short tail only"))         // sub-span doc: 1 remainder span
      .toDF("doc_id", "text")
    val rows = TrainingData.intraDedup(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("n_dropped"),
          r.getAs[String]("clean_hash"))).toMap
    assert(rows(1L)._1 == 3L && rows(1L)._2 == 1L)
    assert(rows(2L)._1 == 2L && rows(2L)._2 == 0L)
    assert(rows(3L)._1 == 1L && rows(3L)._2 == 0L)
    // the stuttered doc cleans to exactly the clean doc's content
    assert(rows(1L)._3 == rows(2L)._3)
    // clean doc's hash = md5 of its original text (lossless reassembly)
    val md = java.security.MessageDigest.getInstance("MD5")
    val expect = md.digest(s"$spanA $spanB".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(rows(2L)._3 == expect)
  }

  test("q75 is scan-shaped: zero exchanges") {
    val p = Registry.byName("q75_intra_dedup").run(spark, TestSpark.sf0001)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Exchange"), "intra-doc dedup must not shuffle")
  }

  test("q77: fill fractions account for every token and never exceed 1") {
    // one shard (doc_id % 1 == 0), capacity 10: docs of 6, 6, 4 tokens
    // pack next-fit as [6], [6, 4] → 2 packs, 16 tokens, fill 0.8
    val docs = Seq(
      (0L, (1 to 6).map(i => s"a$i").mkString(" ")),
      (1L, (1 to 6).map(i => s"b$i").mkString(" ")),
      (2L, (1 to 4).map(i => s"c$i").mkString(" ")))
      .toDF("doc_id", "text")
    val packs = TrainingData.packSequences(docs, shards = 1, capacity = 10L)
    val r = TrainingData.packEfficiency(packs, capacity = 10L).collect().head
    assert(r.getAs[Long]("n_docs") == 3L)
    assert(r.getAs[Long]("n_packs") == 2L)
    assert(r.getAs[Long]("tok_total") == 16L)
    assert(r.getAs[Double]("fill_frac") == 0.8)
  }

  test("q70: α=0.5 flattens the mixture — 4× the tokens gets exactly 2× the weight") {
    // srcA: 100 tokens, srcB: 400 → sqrt weights 10:20, shares 1/3:2/3
    // (sqrt(100)=10 and sqrt(400)=20 are EXACT, so the shares are too)
    val word100 = (1 to 100).map(i => s"w$i").mkString(" ")
    val dir = docsDir(Seq((1L, word100, "srcA"),
      (2L, word100, "srcB"), (3L, word100, "srcB"),
      (4L, word100, "srcB"), (5L, word100, "srcB")))
    val rows = TrainingData.temperatureMixture(
      spark.read.parquet(s"$dir/documents.parquet")).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tok"), r.getAs[Long]("w_scaled"),
          r.getAs[Double]("weight"), r.getAs[Double]("epochs"))).toMap
    assert(rows("srcA")._1 == 100L && rows("srcB")._1 == 400L)
    assert(rows("srcA")._2 == 10000000L && rows("srcB")._2 == 20000000L)
    assert(rows("srcA")._3 == 1.0e7 / 3.0e7 && rows("srcB")._3 == 2.0e7 / 3.0e7)
    // raw shares would be 0.2/0.8 — temperature pulled them toward even
    assert(rows("srcA")._3 > 0.2 && rows("srcB")._3 < 0.8)
    // epochs = weight · budget / n_tok: the small source repeats more
    assert(rows("srcA")._4 > rows("srcB")._4)
  }

  test("q118: allocation conserves the budget; repetition decays effective value toward the 2u plateau") {
    import spark.implicits._
    // srcBig can absorb its share fresh; srcTiny must repeat hard
    val supply = Seq(("srcBig", 500000L), ("srcTiny", 100L))
      .toDF("source", "n_tok")
    val rows = TrainingData.epochAllocation(supply, budget = 100000L)
      .collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tok"), r.getAs[Long]("alloc_tok"),
          r.getAs[Long]("full_epochs"), r.getAs[Double]("eff_tok"),
          r.getAs[Double]("utilization"))).toMap
    // integer-floor allocation never exceeds the budget
    assert(rows.values.map(_._2).sum <= 100000L)
    val big = rows("srcBig"); val tiny = rows("srcTiny")
    // fresh-data source: zero full epochs, every allocated token is
    // worth itself — eff == alloc EXACTLY, utilization exactly 1.0
    assert(big._3 == 0L && big._4 == big._2.toDouble && big._5 == 1.0)
    // repeating source: many epochs, effective value capped below the
    // 2u geometric plateau, utilization well under 1
    assert(tiny._3 >= 1L)
    assert(tiny._4 < 2.0 * tiny._1 && tiny._4 >= tiny._1.toDouble)
    assert(tiny._5 < 0.5, s"utilization should collapse: ${tiny._5}")
    // monotone: a bigger budget never lowers any source's eff_tok
    val rows2 = TrainingData.epochAllocation(supply, budget = 200000L)
      .collect().map(r => r.getAs[String]("source") ->
        r.getAs[Double]("eff_tok")).toMap
    assert(rows2("srcBig") >= big._4 && rows2("srcTiny") >= tiny._4)
  }
}
