package graft.tools

import graft.Tables
import graft.operators.{Dedup, Similarity, TextAnalysis, TrainingData}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus-curation pipeline: the training-data operators
  * composed the way a dataset build actually runs them, each stage a
  * reusable public kernel (no query re-implementation here):
  *
  *   0. integrity gate (the q89 audit) — artifact always written;
  *      duplicate doc_ids or null/empty text ABORT the run (they
  *      silently poison dedup and every text signal downstream),
  *      referential gaps are observability-only;
  *   1. near-dup clustering (capped LSH candidates → connected
  *      components) and CANONICALIZATION — keep each cluster's
  *      highest-quality member (canonicalDocs, the q53 kernel);
  *   1b. SEMANTIC dedup over the survivors' embeddings (semanticDedup,
  *      the q55 kernel; vec_id == doc_id in the fixture layout) —
  *      paraphrase-level duplicates that share no n-grams and are
  *      invisible to stage 1;
  *   2. per-language quality percentile filter over the survivors;
  *   3. source-mixture equalization — every source downsampled to the
  *      smallest source's token budget (curriculum mixing);
  *   4. deterministic train/val/test hash split;
  *   5. decontamination — drop test docs sharing a long n-gram with
  *      any train doc;
  *   5b. (optional) benchmark decontamination — drop TRAIN docs
  *      sharing a long n-gram with an external benchmark suite
  *      (contaminatedTrainDocs, the q67 bloom-prefiltered kernel;
  *      stage 5 protects THIS corpus's held-out split, 5b protects
  *      published eval sets the corpus never saw), or with
  *      `exciseBenchmark = true` EXCISE just the leaked spans and keep
  *      the docs (exciseBenchmarkSpans, the q104 kernel — the
  *      token-thrifty policy for long documents);
  *   6. next-fit token packing of the train split.
  *
  * Stage order matters and is deliberate: dedup BEFORE the quality
  * percentile (duplicate families would otherwise vote themselves past
  * the percentile), mixture balancing over the CLEAN corpus (balancing
  * before the quality gate would re-skew when per-source quality
  * differs), decontamination AFTER the split exists, packing
  * only over the final train set. Each stage writes parquet and the
  * NEXT stage reads that parquet back — any stage is restartable/
  * inspectable (the same reason the reference staged through files,
  * minus the per-message hop), and no stage's lineage is ever
  * recomputed (counts come from the written files, where parquet
  * answers from footer metadata).
  *
  * The quality gate uses [[TextAnalysis.qualityFilterApprox]] — the
  * threshold-broadcast form — as the production default: the exact
  * percent_rank window would sort each language on one partition, and
  * a mega-language makes that a straggler at corpus scale (the exact
  * form remains the q45 oracle).
  *
  * Raw web corpora should be passed through
  * `TextAnalysis.normalizeText` (q81) at ingest, before this pipeline:
  * stage 1's md5 dedup and every text signal assume canonical bytes.
  * The fixtures are already clean (normalization is the identity on
  * them), so the stage is not repeated here.
  *
  * Usage: Curate <sfDir> [outDir]
  */
object Curate {

  // one definition for both run() and repack() — a repack with different
  // pack geometry than the run it restarts would silently "succeed".
  // Capacity is in BPE SYMBOLS (the q99 currency — what a context
  // window actually holds), sized by the round-14
  // capacity sweep (SCALE.md "Round-14 additions"; fixture BPE
  // compression ~3.6, mean doc ~196 symbols — 2048 packs ~10 docs and
  // fills ~0.87).
  private val PackCapacity = 2048L
  // output-file budget for the shard manifest (q113, round 14): ~8
  // packs per file — real shard writers cut far larger files, but the
  // RATIO (file ≫ pack) is what exercises the cut rule at any scale
  private val FileTokens = 8L * PackCapacity

  final case class StageCounts(input: Long, afterDedup: Long,
      afterSemDedup: Long, afterQuality: Long, afterMixture: Long,
      train: Long, val_ : Long, testClean: Long, testDropped: Long,
      trainPacks: Long, trainBenchDropped: Long = 0L,
      trainTokensExcised: Long = 0L, shardFiles: Long = 0L,
      mediaKept: Long = 0L, mediaDropped: Long = 0L)

  /** Injected by tests between a stage's completed write and the next
    * stage's work — the crash point of the restartability contract.
    */
  final class InjectedCrash(stage: String)
    extends RuntimeException(s"injected crash after stage '$stage'")

  def run(spark: SparkSession, sfDir: String, outDir: String,
      benchmark: Option[DataFrame] = None,
      stageWalls: Option[scala.collection.mutable.ListBuffer[(String, Double)]] = None,
      resume: Boolean = false,
      failAfter: Option[String] = None,
      exciseBenchmark: Boolean = false,
      stateDir: Option[String] = None,
      decontamMinSharedGrams: Long = 1L,
      mediaDir: Option[String] = None)
      : StageCounts = {
    require(decontamMinSharedGrams >= 1L,
      "decontamMinSharedGrams must be >= 1 (1 = any shared 8-gram drops the test doc)")
    val docs = Tables.documents(spark, sfDir)

    // The dedup head's cluster map and the corpus token artifact.
    // Default: the per-JVM fingerprint-keyed session stages (one q44
    // loop + one full tokenize per corpus fingerprint). With
    // `stateDir`: the INCREMENTAL heads (round 15) — the first run
    // initializes persistent state (cluster map + capped band index +
    // id roster under $stateDir/clusters; versioned token parts under
    // $stateDir/tokens), and every later run on a GROWN corpus pays
    // only its NEW docs: the cluster merge is the batch-bounded
    // contraction (Dedup.syncClusterState — the q44 re-run was 141 s
    // of sf10's 183 s wall), and the token sync appends the batch's
    // rows (exact: the artifact is row-local per doc). Lazy so a
    // resumed run whose downstream artifacts are on disk never pays
    // either sync.
    lazy val clusterMap: org.apache.spark.sql.DataFrame =
      stateDir match {
        case Some(sd) => Dedup.syncClusterState(spark, s"$sd/clusters",
          // n_chars rides along so the roster's quality scoring uses
          // the table's column, not a re-derived length(text)
          docs.select("doc_id", "text", "n_chars"))
        case None => Dedup.stagedClusters(spark, sfDir)
      }
    lazy val corpusTokens: org.apache.spark.sql.DataFrame =
      stateDir match {
        case Some(sd) => TextAnalysis.syncTokenState(spark, s"$sd/tokens",
          docs.select("doc_id", "text"))
        case None => TextAnalysis.stagedTokenCounts(spark, sfDir)
      }
    // Stage 1b (semantic dedup) was DELIBERATELY not incremental
    // through round 15: it operates on stage-1's SURVIVORS, and a
    // grown corpus can REPLACE a family's survivor — a naive persisted
    // cell-survivor index would verdict the replacement as a duplicate
    // OF A DOC NO LONGER IN THE CORPUS. Round 16 closes exactly that
    // gap: the survivor state tracks exits, and
    // Similarity.syncSemanticState re-verdicts ONLY the cells an entry
    // or exit touched (tombstoned members invalidate; victims of an
    // exited dropper resurrect; cells crossing the cap flip wholesale)
    // under centroids FROZEN at state init — the production IVF
    // contract; a refit is a state rebuild. With stateDir the stage is
    // therefore exact-incremental (SemanticStateSpec pins equality to
    // a from-scratch q55 under the stored centroids); without it the
    // per-run fit + full verdict remains.

    // write a stage, then hand back the WRITTEN parquet: downstream
    // stages and counts read the file, never the stage's lineage.
    // Stage walls are MARK-based — each stage's wall runs from the
    // previous stage's completion to this stage's write finishing —
    // because two stages do eager driver-side work BEFORE their write
    // (clustering's label-propagation rounds, the k-means fit); timing
    // only the write would attribute the pipeline's dominant cost to
    // nothing.
    //
    // `resume` is the restart contract exercised as code (crash-tested
    // by CurateRestartSpec): a stage whose artifact already carries a
    // parquet _SUCCESS marker AND a matching generation stamp is READ
    // BACK, not recomputed — `df` is by-name precisely so a skipped
    // stage's eager upstream work (label-propagation rounds, the
    // k-means fit) never runs. A stage that crashed MID-write has no
    // _SUCCESS and recomputes into an overwrite, so torn files cannot
    // be resumed into. `failAfter` injects the crash between a
    // completed write and the next stage.
    //
    // The stamp (round-13 ADVICE): _SUCCESS alone says "some run once
    // finished writing here", not "THIS run's lineage wrote here" — if
    // the source corpus changed, or artifacts from two generations
    // coexist (an early stage dir deleted while a later one survives
    // after the corpus moved on), a marker-only resume silently mixes
    // generations. Each stage therefore writes _GRAFT_STAMP carrying
    // the corpus fingerprint plus the ordered chain of upstream stage
    // names (so a run with a different stage sequence — e.g. with vs
    // without benchmark decontamination — never reuses the other's
    // artifacts), written AFTER the parquet write so a crash between
    // the two recomputes on resume (safe direction). Reuse across an
    // upstream recompute is sound because every stage kernel is
    // deterministic: same corpus + same chain => same content.
    var mark = System.nanoTime()
    var chain = s"corpus:${Tables.fingerprint(sfDir)}"
    // `tag` folds stage PARAMETERS into the stamp chain without moving
    // the artifact path (downstream stages and repack() address stages
    // by name): a run under a different parameter value stamps a
    // different chain and recomputes instead of resuming into the
    // other setting's artifact.
    def stage(df: => DataFrame, name: String, tag: String = ""): DataFrame = {
      chain = s"$chain/$name$tag"
      val path = s"$outDir/$name"
      val stamp = java.nio.file.Paths.get(path, "_GRAFT_STAMP")
      val complete = new java.io.File(s"$path/_SUCCESS").exists &&
        java.nio.file.Files.exists(stamp) &&
        new String(java.nio.file.Files.readAllBytes(stamp),
          java.nio.charset.StandardCharsets.UTF_8) == chain
      if (!(resume && complete)) {
        df.write.mode("overwrite").parquet(path)
        java.nio.file.Files.write(stamp,
          chain.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        stageWalls.foreach(_ += name -> (System.nanoTime() - mark) / 1e9)
      }
      mark = System.nanoTime()
      if (failAfter.contains(name)) throw new InjectedCrash(name)
      spark.read.parquet(path)
    }

    // 0. integrity gate (the q89 audit): written as an artifact like
    // every stage, and FAIL-FAST on the two corruption-class counters —
    // a duplicated doc_id or null/empty text silently poisons the md5
    // dedup and every text signal downstream, so they abort the run
    // here, where the fix is cheap. The referential counters (docs
    // without embeddings and vice versa) stay observability-only:
    // stage 1b is explicitly built for partial embedding coverage.
    val audit = stage(graft.operators.Integrity.integrityAudit(
      docs.select(col("doc_id"), col("text")),
      Tables.embeddings(spark, sfDir)), "audit")
    val bad = audit
      .filter(col("check").isin("duplicate_doc_id", "null_or_empty_text"))
      .filter(col("n_bad") > 0)
      .collect()
    require(bad.isEmpty,
      "corpus fails the integrity gate: " + bad
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", ") +
        s" (full audit at $outDir/audit)")

    // 0b. (optional) media dedup over a raw media directory (round 16):
    // binaryFile ingest → per-modality perceptual hashes map-side →
    // banded-hamming pairs → min-id survivor verdicts — the
    // modality×dedup matrix as a PIPELINE stage, so a corpus that
    // ships with an image/audio/video sidecar dedups its media in the
    // same run that curates its text. The stamp folds a listing
    // fingerprint of the media dir (paths + sizes + mtimes): a changed
    // sidecar re-runs the stage instead of resuming into stale verdicts.
    // With `stateDir` (round 17) the stage rides the incremental
    // media-print roster: a re-run after ONE new/changed file decodes
    // exactly that file (Multimodal.syncMediaState) and the verdicts
    // re-derive from stored prints — no payload byte is read twice.
    //
    // The state-mode stamp tag (round 16): a `--resume` run must never
    // reuse a state-consuming artifact built under the OTHER supply —
    // the incremental cluster map has a documented crossing-corner
    // divergence from the session-staged rebuild, so the two supplies
    // are different stamp chains even on the same corpus.
    val stateTag = if (stateDir.isDefined) "(state)" else ""
    val media = mediaDir.map { md =>
      stage(stateDir match {
        case Some(sd) => graft.operators.Multimodal.mediaVerdictsFromPrints(
          graft.operators.Multimodal.syncMediaState(spark, s"$sd/media", md))
        case None => graft.operators.Multimodal.mediaDedupVerdicts(
          graft.operators.Multimodal.readBinaryDir(spark, md))
      }, "media_dedup", s"(media=${mediaFingerprint(md)})$stateTag")
    }

    // 1. cluster near-dups over the capped LSH candidate pairs, then
    // keep each cluster's HIGHEST-QUALITY member (the q53 kernel) — not
    // an arbitrary/min-id copy: near-dup families often mix a clean
    // original with mangled variants, and the quality-ranked survivor is
    // what the downstream percentile gate should be judging.
    // The corpus is scored ONCE here and `quality` rides the stage
    // artifacts: survivor selection (canonicalDocsPreScored) and the
    // stage-2 percentile gate both reuse the persisted column instead
    // of re-tokenizing the text (quality is row-local + deterministic,
    // so scoring before vs after dedup is value-identical).
    // quality rides the token artifact (qualityFromCountsOf —
    // bit-identical to the tokenize form, TokenCountFormsSpec): the
    // pipeline builds the artifact anyway for the bpe_counts stage, so
    // scoring from it deletes the one full-corpus tokenize pass this
    // projection used to pay (measured at sf10: see SCALE.md round 14).
    // `corpusTokens` is the incremental state when stateDir is set —
    // the artifact path every token consumer below shares. Lazy so a
    // resumed run never pays the sync/staging at construction.
    // With stateDir the quality column comes from the scored ROSTER the
    // cluster state maintains (each doc scored ONCE at its ingest, the
    // q28 kernel — bit-identical to the token-artifact supply below,
    // TokenCountFormsSpec): no per-run aggregation over the corpus-×-
    // words token rows remains in the scoring path, just a thin
    // two-column roster join. `clusterMap` is forced first so the
    // roster is current for this snapshot.
    lazy val scoredDocs = {
      val thin = docs.select(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
      stateDir match {
        case Some(sd) =>
          clusterMap // force the state sync before reading the roster
          thin.join(Dedup.readIdQuality(spark, s"$sd/clusters"),
            Seq("doc_id"))
        case None =>
          thin.join(TextAnalysis.qualityFromCountsOf(
              docs.select(col("doc_id"), col("n_chars")), corpusTokens)
            .select(col("doc_id"), col("quality")), Seq("doc_id"))
      }
    }
    // the survivor selection lives INSIDE the stage thunk: clustering's
    // label-propagation rounds run eagerly at construction, and a
    // resumed run that already has `deduped` on disk must not pay them.
    // The cluster map comes from the SHARED staged artifact
    // (Dedup.stagedClusters) — stage 4's cluster-coherent split reads
    // the same map, and an unstaged recompute here would run the whole
    // label-propagation loop TWICE per pipeline (measured at sf1: the
    // splits stage ballooned 0.2→21.1 s before this reuse; with it the
    // map computes once and the splits join is sub-second).
    val deduped = stage({
      stateDir match {
        case Some(sd) =>
          // incremental survivor selection (round 16): the state keeps
          // the per-cluster survivor table current under each merge, so
          // this stage re-decides NOTHING — the only corpus-wide work
          // left is the one anti-join that materializes the artifact
          // (output is corpus-sized; that pass is inherent). Drop set =
          // clustered non-survivors, an O(map) state-internal anti-join.
          clusterMap // force the sync before reading survivor state
          val dropSet = Dedup.readClusterState(spark, s"$sd/clusters")
            .select("doc_id")
            .join(Dedup.readSurvivorState(spark, s"$sd/clusters")
              .select("doc_id"), Seq("doc_id"), "left_anti")
          scoredDocs.join(dropSet, Seq("doc_id"), "left_anti")
        case None =>
          val survivors = Dedup.canonicalDocsPreScored(scoredDocs, clusterMap)
            .select("doc_id")
          scoredDocs.join(survivors, Seq("doc_id"), "left_semi")
      }
    }, "deduped", stateTag)

    // 1b. semantic dedup over the SURVIVING docs' embeddings (q55
    // kernel): paraphrases and templated rewrites share no long n-grams,
    // so stage 1 cannot see them; within-cell cosine can. Runs after
    // canonicalization so already-collapsed families don't re-vote.
    // Anti-join on the DROPPED set, not semi-join on the kept set: a doc
    // with no embedding row has no semanticDedup verdict at all, and it
    // must survive the stage — on corpora with partial embedding
    // coverage a kept-set semi-join would silently discard it.
    // Production centroid choice: k-means fit on the SURVIVORS' frame,
    // not the demo low-id seed — the seed assumes vec_id < numCells
    // rows exist, and on a filtered frame they may all have lost their
    // dedup vote (first observed composing at sf1: every low-id doc
    // sat in a replica family whose higher-quality survivor had a
    // shifted id, and the demo seed was empty).
    val semDeduped = stage({
      // inside the thunk: the k-means fit (or the state sync) is eager
      // driver-side work a resumed run with `sem_deduped` on disk must
      // not repeat
      val survivorEmb = Tables.embeddings(spark, sfDir)
        .join(deduped.select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi")
      val semDropped = stateDir match {
        case Some(sd) =>
          // incremental path (round 16): entries/exits vs the stored
          // membership re-verdict only their cells; centroids frozen
          // at the state's init fit
          Similarity.syncSemanticState(spark, s"$sd/semantic", survivorEmb)
            .filter(!col("kept"))
            .select(col("vec_id").as("doc_id"))
        case None =>
          // cells ∝ corpus (the q92 sf10 lesson as code):
          // derivedNumCells keeps per-cell population ~TargetCellSize
          // at any corpus size, where the old fixed 16 would saturate
          // the CellCap² bound once the corpus outgrew it
          Similarity.semanticDedup(survivorEmb,
              centroids = Some(Similarity.kmeansCentroids(
                survivorEmb, k = Similarity.derivedNumCells(survivorEmb),
                iters = 2, seed = 7L)))
            .filter(!col("kept"))
            .select(col("vec_id").as("doc_id"))
      }
      deduped.join(semDropped, Seq("doc_id"), "left_anti")
    }, "sem_deduped", stateTag)

    // 2. quality gate: top half per language among the survivors —
    // threshold-broadcast form (no per-language sort partition), fed by
    // the quality column persisted in stage 1 (no re-tokenize pass).
    // `quality` is dropped from the artifact here so stages 3+ keep
    // their r8 schemas.
    val curated = stage({
      val kept = TextAnalysis.qualityFilterPreScored(
          semDeduped.select(col("doc_id"), col("lang"), col("quality")),
          keepFrac = 0.5)
        .select("doc_id")
      semDeduped.join(kept, Seq("doc_id"), "left_semi").drop("quality")
    }, "quality")

    // 3. mixture balancing: every source contributes the same token
    // budget to what follows (deterministic salted-hash sampling)
    val mixed = stage(curated.join(
      TrainingData.sourceBudgetKeep(curated).select("doc_id"),
      Seq("doc_id"), "left_semi"), "mixed")

    // Stage 3b (mixture report) moved AFTER bpe_counts in round 16 so
    // its BPE supply column reads the staged pricing artifact instead
    // of re-deriving the merge table (measured 13.2 s of sf10's run-1
    // wall as a standalone kernel run); see stage 6a' below.

    // 4. split assignment — cluster-coherent (the q101 kernel): the key
    // is the doc's q44 cluster representative, so near-dup families
    // that survived canonicalization as one member still hash exactly
    // where their siblings would have, and any future pipeline that
    // keeps >1 member per cluster (e.g. a softer dedup policy) cannot
    // straddle a family across train/test by construction. Stable
    // across runs: a pure function of (doc_id, cluster map), and the
    // map is itself a pure function of the corpus.
    val splitDocs = stage({
      val cmap = clusterMap
      mixed.join(cmap, Seq("doc_id"), "left")
        .withColumn("split", TrainingData.splitColumnOf(
          coalesce(col("cluster_id"), col("doc_id"))))
        .drop("cluster_id")
    }, "splits", stateTag)

    // The decontamination family's gram supply (round 17): ONE distinct
    // (doc_id, gh) pass over the POST-MIXTURE corpus serves stage 5's
    // train↔test check AND stage 5a's per-benchmark report — before
    // this, each re-ran its own GramHashes explode over its text slice.
    // Scoped to splitDocs, NOT the full corpus: the post-mixture set is
    // the superset of both consumers' doc sets and is typically a small
    // fraction of the corpus (sf10: 350k of 4.4M docs), so gramming the
    // session-staged full-corpus artifact here — the first cut of this
    // round — REGRESSED the stage ~4× on a standalone run (measured at
    // sf10base: clean 55-100 s vs the subset's ~15 s; the full artifact
    // only pays for itself in a JVM that also runs q42/q43).
    // localCheckpoint: two stage consumers, and a resumed run whose
    // stages are stamped never forces the lazy val.
    lazy val corpusGrams = splitDocs
      .select(col("doc_id"),
        explode(graft.functions.GramHashesLong(col("text"), 8)).as("gh"))
      .dropDuplicates("doc_id", "gh")
      .localCheckpoint()

    // 5. decontaminate: test docs sharing an 8-gram with train are out —
    // under the STORED stage-4 split (the WithSplit form; the bare
    // kernel re-derives md5(doc_id) splits, which the cluster-coherent
    // assignment deliberately diverges from — round-14 fix)
    // The drop threshold is CONFIG (round 15): 1 shared 8-gram is the
    // GPT-3-style conservative default, but on corpora with heavy
    // near-dup families (sf10's planted replicas: the gate at 1 drops
    // 99.4% of replica test docs) an operator may deliberately trade
    // eval purity for eval coverage — the threshold-sweep receipt in
    // SCALE.md records what each setting keeps. The stamp tag carries
    // the threshold so a resume can never reuse an artifact built
    // under a different gate (path stays `clean` — repack addresses it
    // by name).
    val clean = stage({
      val contaminated = TrainingData.contaminatedTestDocsWithSplitFromGrams(
          splitDocs, corpusGrams)
        .filter(col("n_shared_grams") >= decontamMinSharedGrams)
        .select("doc_id")
      splitDocs.join(contaminated, Seq("doc_id"), "left_anti")
    }, "clean",
      if (decontamMinSharedGrams == 1L) "" else s"(g=$decontamMinSharedGrams)")

    // 5b. optional external-benchmark decontamination of the TRAIN
    // split: stage 5 protects this corpus's own held-out split;
    // published eval suites the corpus never saw need the reverse
    // direction. Two policies over the same detection:
    //   - DROP (the q67 kernel, default): lose every train doc that
    //     shares a long gram with the benchmark;
    //   - EXCISE (`exciseBenchmark = true`, the q104 kernel): keep the
    //     doc, cut exactly the leaked 8-token windows — a 10k-token
    //     doc with one leaked gram loses 8 tokens, not 10k. The
    //     cleaned text replaces `text` (and n_chars follows) so every
    //     downstream consumer sees the post-excision corpus.
    // The two policies write DIFFERENT stage names (bench_clean vs
    // bench_excised) so a resume can never reuse the other policy's
    // artifact through a matching stamp chain.
    // 5a'. per-benchmark contamination REPORT (the q119 kernel, round
    // 16): the publishable dataset-card artifact the detection stages
    // exist for — per benchmark suite (the `source` column when the
    // benchmark frame carries one), doc counts, dirty counts/fraction,
    // mean leaked-gram fraction — measured against the PRE-action train
    // split, so the report records what the corpus leaked and the next
    // stage records what was done about it. Stage-stamped and written
    // under both policies.
    // Round 17: the report reads the staged gram artifact filtered to
    // the train split (the FromGrams form built in round 16 —
    // spec-pinned row-identical to the text form, receipted 1.6× at
    // sf10) instead of re-gramming the train split's text. Measured
    // against the PRE-action (stage 5b) train text, which is exactly
    // what the artifact grams.
    benchmark.foreach { b =>
      val bsrc = if (b.columns.contains("source")) b
        else b.withColumn("source", lit("benchmark"))
      stage({
        val trainGrams = corpusGrams
          .join(clean.filter(col("split") === "train").select("doc_id"),
            Seq("doc_id"), "left_semi")
          .select("gh").distinct()
        TrainingData.benchmarkContaminationReportFromGrams(trainGrams,
          bsrc.select(col("doc_id"), col("source"), col("text")))
      }, "contamination_report")
    }

    val (trainClean, benchDropped, excised) = benchmark match {
      case Some(b) if exciseBenchmark =>
        val trainDocs = clean.filter(col("split") === "train")
        val tc = stage({
          val cleaned = TrainingData.exciseBenchmarkSpans(trainDocs, b)
          trainDocs.drop("text", "n_chars")
            .join(cleaned.select(col("doc_id"),
              col("clean_text").as("text"), col("n_removed")), Seq("doc_id"))
            .withColumn("n_chars", length(col("text")).cast("long"))
        }, "bench_excised")
        val cut = Option(tc.agg(sum(col("n_removed"))).head().get(0))
          .fold(0L)(_.asInstanceOf[Long])
        (tc.drop("n_removed"), 0L, cut)
      case Some(b) =>
        val trainDocs = clean.filter(col("split") === "train")
        val tc = stage({
          val contaminatedTrain = TrainingData.contaminatedTrainDocs(trainDocs, b)
            .select("doc_id")
          trainDocs.join(contaminatedTrain, Seq("doc_id"), "left_anti")
        }, "bench_clean")
        (tc, trainDocs.count() - tc.count(), 0L)
      case None => (clean.filter(col("split") === "train"), 0L, 0L)
    }

    // 6a. per-doc BPE token counts (the q99 kernel): the tokenizer's
    // merge table derives from the FULL corpus — trained before the
    // split, as a real tokenizer is — and the counts are a staged
    // artifact so repack() respends the exact same currency instead
    // of re-deriving merges from whatever subset it happens to read.
    // Under EXCISE the counts price the POST-excision train text
    // (what the packer actually packs) under the same corpus-trained
    // merge table (bpeApplyWithMerges — tokenizer fixed, text moved).
    val bpeCounts = stage({
      val priced =
        if (excised > 0L)
          TextAnalysis.bpeApplyWithMerges(corpusTokens,
            trainClean.select(col("doc_id"),
              explode(split(coalesce(col("text"), lit("")), " ")).as("w"))
              .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt")))
        else TextAnalysis.bpeApplyFromCounts(corpusTokens)
      priced.select(col("doc_id"), col("n_bpe_tokens").as("n_tokens"))
    }, "bpe_counts")

    // 6a'. mixture report (q70 kernel, stage 3b until round 16): the
    // α=0.5 temperature sampling weights a trainer would use over the
    // FINAL mixture — a |sources|-row diagnostic artifact, not a filter
    // (stage 3 already balanced token budgets; this records what a
    // temperature sampler would do instead, and `epochs` > 1 flags
    // sources the budget would force into repetition). Round 16: the
    // report also carries each source's BPE supply (`n_bpe_tok`) — the
    // currency the packer spends (q118b's allocation input) — read from
    // the staged bpe_counts artifact (which prices the whole corpus
    // under corpus-trained merges when no excision ran), so the mixture
    // plan and the pack budget quote ONE token definition at zero extra
    // kernel cost. Under EXCISE the artifact prices post-excision train
    // text only, so this stage re-prices the pre-excision corpus (the
    // mixture predates the excision) with one extra kernel run.
    stage({
      val bpeAll =
        if (excised > 0L)
          TextAnalysis.bpeApplyFromCounts(corpusTokens)
            .select(col("doc_id"), col("n_bpe_tokens"))
        else bpeCounts.select(col("doc_id"), col("n_tokens").as("n_bpe_tokens"))
      val bpePerSource = mixed.select(col("doc_id"), col("source"))
        .join(bpeAll, Seq("doc_id"))
        .groupBy(col("source")).agg(sum(col("n_bpe_tokens")).as("n_bpe_tok"))
      TrainingData.temperatureMixture(mixed)
        .join(bpePerSource, Seq("source"))
    }, "mixture_report")

    // 6b. pack the train split into fixed BPE-token budgets (q102's
    // currency — q46's whitespace packer remains the registry oracle)
    // in SEEDED-SHUFFLE order (q107, round 14): doc_id-order packing
    // put crawl neighbors — same source, same near-dup family — into
    // the same context windows; the md5(seed || doc_id) deal
    // decorrelates packs while staying byte-reproducible across
    // rebuilds (the resume contract needs exactly this determinism).
    val packed = stage(TrainingData.packSequencesShuffledFromCounts(
      trainClean.select("doc_id").join(bpeCounts, Seq("doc_id")),
      seed = TrainingData.ShuffleSeed, capacity = PackCapacity),
      "train_packed")

    // 6c. shard manifest (q113, round 14): cut the packed train set
    // into ~FileTokens-sized output files in the reproducible shuffled
    // order — the plan a shard writer executes, and the auditor's
    // conservation check against the packed totals (spec-pinned).
    val manifest = stage(
      TrainingData.shardManifest(packed, FileTokens), "shard_manifest")

    // counts read the written parquet (footer metadata, no recompute)
    val bySplit = clean.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    StageCounts(
      input = docs.count(),
      afterDedup = deduped.count(),
      afterSemDedup = semDeduped.count(),
      afterQuality = curated.count(),
      afterMixture = splitDocs.count(),
      train = bySplit.getOrElse("train", 0L),
      val_ = bySplit.getOrElse("val", 0L),
      testClean = bySplit.getOrElse("test", 0L),
      testDropped = splitDocs.filter(col("split") === "test").count() -
        bySplit.getOrElse("test", 0L),
      trainPacks = packed.select("shard", "pack_id").distinct().count(),
      trainBenchDropped = benchDropped,
      trainTokensExcised = excised,
      shardFiles = manifest.count(),
      mediaKept = media.fold(0L)(_.filter(col("keep")).count()),
      mediaDropped = media.fold(0L)(_.filter(!col("keep")).count()))
  }

  /** Listing fingerprint of a media dir (recursive paths + sizes +
    * mtimes, md5'd) — the stamp-chain component that invalidates a
    * resumed `media_dedup` stage when the sidecar's contents change.
    * mtime is IN the fingerprint (round-16 ADVICE): fixed-dimension
    * BMP/WAV payloads have dimension-determined byte lengths, so a
    * same-size content rewrite is realistic and a name+size stamp
    * would resume into stale verdicts. Recurses because `binaryFile`
    * reads nested dirs when globbed.
    */
  private def mediaFingerprint(dir: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array()).toSeq.flatMap(walk)
      else Seq(f)
    val entries = walk(new java.io.File(dir)).sortBy(_.getPath)
      .map(f => s"${f.getPath}:${f.length}:${f.lastModified}")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(entries.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(6).map("%02x".format(_)).mkString
  }

  /** Restart-from-stage: re-run ONLY the packing stage (6) against a
    * prior run's written `clean` artifact — the restartability the
    * staged-parquet design buys, exercised as code. Returns (packs,
    * wall seconds); none of stages 1–5 recompute (the read is footer
    * metadata + one scan of the stage-5 parquet).
    */
  def repack(spark: SparkSession, outDir: String): (Long, Double) = {
    val t0 = System.nanoTime()
    val trainClean = spark.read.parquet(s"$outDir/clean")
      .filter(col("split") === "train")
    // respend the run's staged BPE counts — re-deriving merges from the
    // train subset alone would silently change the currency mid-restart
    // same seeded-shuffle packer as the pipeline stage — a repack that
    // silently reverted to doc_id order would re-deal every pack
    val packed = TrainingData.packSequencesShuffledFromCounts(
      trainClean.select("doc_id")
        .join(spark.read.parquet(s"$outDir/bpe_counts"), Seq("doc_id")),
      seed = TrainingData.ShuffleSeed, capacity = PackCapacity)
    packed.write.mode("overwrite").parquet(s"$outDir/train_packed")
    // recut the manifest from the rewritten packs — repack must leave a
    // CONSISTENT tree (a stale manifest would describe files the packs
    // no longer fill); same seed + currency means a pure repack
    // reproduces it byte-identically, but the contract is re-derivation
    TrainingData.shardManifest(
        spark.read.parquet(s"$outDir/train_packed"), FileTokens)
      .write.mode("overwrite").parquet(s"$outDir/shard_manifest")
    val n = spark.read.parquet(s"$outDir/train_packed")
      .select("shard", "pack_id").distinct().count()
    (n, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val clusterState = args.collectFirst {
      case a if a.startsWith("--state=") => a.stripPrefix("--state=")
      case a if a.startsWith("--cluster-state=") =>
        a.stripPrefix("--cluster-state=") // round-15 alias, kept for scripts
    }
    val minGrams = args.collectFirst {
      case a if a.startsWith("--decontam-min-grams=") =>
        a.stripPrefix("--decontam-min-grams=").toLong
    }.getOrElse(1L)
    val mediaDir = args.collectFirst {
      case a if a.startsWith("--media=") => a.stripPrefix("--media=")
    }
    // pseudo-benchmark from a corpus slice (the test-fixture convention:
    // `--benchmark-split=17:3` ⇒ docs with doc_id % 17 == 3 act as the
    // external eval suite) — makes the 5a'/5b stages runnable from the
    // CLI for receipts and self-contamination reports
    val benchSplit = args.collectFirst {
      case a if a.startsWith("--benchmark-split=") =>
        val p = a.stripPrefix("--benchmark-split=").split(":")
        (p(0).toLong, p(1).toLong)
    }
    val rest = args.filterNot(a => a == "--repack" || a == "--resume" ||
      a.startsWith("--state=") || a.startsWith("--cluster-state=") ||
      a.startsWith("--decontam-min-grams=") || a.startsWith("--media=") ||
      a.startsWith("--benchmark-split="))
    require(rest.nonEmpty,
      "usage: Curate <sfDir> [outDir] [--repack|--resume|" +
        "--state=DIR|--decontam-min-grams=N|--media=DIR|" +
        "--benchmark-split=M:R]")
    val outDir = if (rest.length > 1) rest(1)
      else java.nio.file.Files.createTempDirectory("curate").toString
    val spark = graft.GraftSession.local("graft-curate")
    if (args.contains("--repack")) {
      val (packs, sec) = repack(spark, outDir)
      println(s"""{"repack_packs":$packs,"repack_sec":$sec,"out":"$outDir"}""")
    } else {
      val walls = scala.collection.mutable.ListBuffer.empty[(String, Double)]
      val benchmark = benchSplit.map { case (m, r) =>
        Tables.documents(spark, rest(0))
          .filter(col("doc_id") % m === r)
          .select(col("doc_id"), col("source"), col("text"))
      }
      val t0 = System.nanoTime()
      val c = run(spark, rest(0), outDir, benchmark = benchmark,
        stageWalls = Some(walls),
        resume = args.contains("--resume"), stateDir = clusterState,
        decontamMinSharedGrams = minGrams, mediaDir = mediaDir)
      val total = (System.nanoTime() - t0) / 1e9
      val stages = walls.map { case (n, s) => s""""$n":$s""" }.mkString("{", ",", "}")
      println(s"curate: $c -> $outDir")
      println(s"""{"total_sec":$total,"stages":$stages,"sf":"${rest(0)}"}""")
    }
    spark.stop()
  }
}
