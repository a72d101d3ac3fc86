package graft

import graft.tools.ScanAudit
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide corpus-scan budget — `tools.ScanAudit`'s AQE-final
  * plan walker promoted to CI (the WindowBoundSpec pattern applied to
  * scans). Every registered query declares how many times its FINAL
  * executed plan may scan the two corpus-growth tables (`documents`,
  * `embeddings` — the ones that are ~100 TB in production; the
  * TPC-H-ish dimension tables are not scan-budgeted). A refactor that
  * silently duplicates a corpus scan — the q37/q50 branch trade
  * gone wrong, a lost ReusedExchange, a cache() dropped from a
  * twice-read frame — fails here with per-query attribution instead
  * of surfacing as an unexplained bench regression.
  *
  * Semantics of the number: distinct FileSourceScanExec nodes over the
  * table in the AQE-final plan of the query's LAST job, walked
  * node-by-node (stage/reuse aware — a ReusedExchangeExec subtree is
  * not descended, so a reused scan counts once, which is the point).
  * Materialization barriers hide earlier jobs' scans from this count:
  * q44's label-propagation loop reads `documents` during its
  * checkpointed iteration, so its FINAL plan shows zero corpus scans —
  * the budget pins what the walker can see, and the iteration itself
  * is bounded by its own convergence spec. Budgets are CEILINGS
  * (`<=`): an improvement that drops a scan passes; ratchet the map
  * down when that happens.
  *
  * The map is the measured round-13 state at sf0.001 (ScanAudit sweep,
  * 2026-08-15). Notable entries, all documented trades at their
  * definition sites: the former 3-scan token family (q37/q54/q58/q86/
  * q96/q99) now rides the staged `(doc_id, w, cnt)` token artifact
  * (`TextAnalysis.stagedTokenCounts`) and budgets 0–1 corpus scans —
  * their branch reads hit the small staged parquet instead; the
  * gram-volume boundary was PRICED round 14 (SCALE.md) and
  * moved for the two set-semantics 8-gram consumers (q42/q43 ride
  * `stagedGramHashes`); q50 stays
  * at (3,0) because its unit is word 3-GRAMS (higher-volume text
  * grams the fixed-width hash artifact cannot serve) and q91 at
  * (3,0) because its snapshots are content-hash derivations, not token
  * aggregates — both sub-second at sf1; q93/q94 dropped to (0, 0)
  * when their four demo-point rankings became session-staged
  * artifacts (Similarity.stagedRanking): the recall observables now
  * score staged retrieval logs, and only the self-contained ranking
  * benchmarks (q26/q39/q84) still run the corpus through a ranker.
  */
class ScanBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // name -> (max documents scans, max embeddings scans)
  private val Budget: Map[String, (Int, Int)] = Map(
    "q01_project" -> ((0, 0)),
    "q02_defaults" -> ((0, 0)),
    "q03_anti_filter" -> ((0, 0)),
    "q04_filter_eq" -> ((0, 0)),
    "q05_explode_outer" -> ((1, 0)),
    "q06_array_head" -> ((1, 0)),
    "q07_union_by_name" -> ((0, 0)),
    "q08_left_anti" -> ((0, 0)),
    "q09_broadcast_enrich" -> ((0, 0)),
    "q10_risk_agg" -> ((0, 0)),
    "q11_topk_risk" -> ((0, 0)),
    "q12_sort_limit" -> ((0, 0)),
    "q13_distinct" -> ((0, 0)),
    "q14_group_agg" -> ((0, 0)),
    "q15_tz_format" -> ((0, 0)),
    "q16_json_extract" -> ((0, 0)),
    "q17_string_ops" -> ((1, 0)),
    "q18_try_cast" -> ((0, 0)),
    "q19_window_rank" -> ((0, 0)),
    "q20_window_time" -> ((0, 0)),
    "q21_sessionize" -> ((0, 0)),
    "q22_dedup_exact" -> ((1, 0)),
    "q23_minhash_lsh" -> ((1, 0)),
    "q24_simhash" -> ((1, 0)),
    "q25_jaccard_pairs" -> ((0, 0)), // staged pairs + staged member shingles (r14)
    "q26_cosine_topk" -> ((0, 2)),
    "q27_langid" -> ((1, 0)),
    "q28_quality" -> ((1, 0)),
    "q29_token_count" -> ((1, 0)),
    "q30_fingerprint" -> ((1, 0)),
    "q31_risk_explain" -> ((0, 0)),
    "q32_approx_distinct" -> ((0, 0)),
    "q32b_approx_vs_exact" -> ((0, 0)),
    "q33_media_meta" -> ((1, 0)),
    "q34_ann_lsh" -> ((0, 1)),
    "q35_rollup" -> ((0, 0)),
    "q36_asof_join" -> ((0, 0)),
    "q37_term_salience" -> ((0, 0)), // staged token artifact (r13)
    "q38_bigram_stats" -> ((1, 0)),
    "q39_ivf_ann" -> ((0, 3)),
    "q40_train_split" -> ((1, 0)),
    "q41_repetition" -> ((1, 0)),
    "q42_contamination" -> ((1, 0)), // staged gram artifact + thin (doc_id, source) scan (r14)
    "q43_decontaminate" -> ((0, 0)), // staged gram artifact (r14)
    "q44_dup_clusters" -> ((0, 0)), // scans live in checkpointed iteration jobs
    "q45_quality_filter" -> ((1, 0)),
    "q46_pack_sequences" -> ((1, 0)),
    "q47_stratified_sample" -> ((1, 0)),
    "q48_source_mixture" -> ((2, 0)),
    "q49_simhash_pairs" -> ((1, 0)),
    "q50_boilerplate" -> ((3, 0)),
    "q51_chunk" -> ((1, 0)),
    "q52_pii_redact" -> ((1, 0)),
    "q53_canonical_docs" -> ((1, 0)), // cluster side reads the staged parquet
    "q54_oov_rate" -> ((0, 0)), // staged token artifact (r13)
    "q55_semantic_dedup" -> ((0, 2)),
    "q56_unigram_lm" -> ((1, 0)),
    "q57_incremental_dedup" -> ((2, 0)),
    "q58_lexical_topk" -> ((0, 0)), // staged token artifact (r13)
    "q59_verified_ingest" -> ((2, 0)),
    "q60_image_near_dups" -> ((1, 0)),
    "q60b_image_pairs_sql" -> ((0, 0)),
    "q61_quality_ensemble" -> ((1, 0)),
    "q62_semantic_decontam" -> ((2, 2)),
    "q63_dup_span_frac" -> ((1, 0)),
    "q64_dsir_weights" -> ((1, 0)), // staged bigram artifact + thin (doc_id, lang) scan (r14)
    "q65_containment_pairs" -> ((0, 0)), // staged pairs + staged member shingles (r14)
    "q66_dup_token_coverage" -> ((1, 0)),
    "q67_bloom_decontam" -> ((2, 0)),
    "q68_length_quantiles" -> ((1, 0)),
    "q69_fixed_sample" -> ((1, 0)),
    "q70_temperature_mixture" -> ((1, 0)),
    "q71_bigram_lm" -> ((0, 0)), // staged bigram artifact (r14)
    "q72_dup_profile" -> ((2, 0)), // totals + source-attach branches
    "q73_cell_balance" -> ((0, 2)),
    "q74_lsh_quality" -> ((0, 0)), // staged pairs + staged member shingles (r14)
    "q75_intra_dedup" -> ((1, 0)),
    "q76_semantic_curve" -> ((0, 2)),
    "q77_pack_efficiency" -> ((1, 0)),
    "q78_token_budget" -> ((0, 0)), // scored frame localCheckpoint carries the one scan (r13)
    "q79_gopher_rules" -> ((1, 0)),
    "q80_audio_near_dups" -> ((1, 0)),
    "q80b_audio_pairs_sql" -> ((0, 0)),
    "q81_normalize_text" -> ((1, 0)),
    "q82_c4_line_filter" -> ((1, 0)),
    "q83_bpe_pairs" -> ((0, 0)), // vocab off the staged token artifact (r14)
    "q84_pq_adc_topk" -> ((0, 2)),
    "q85_pq_distortion" -> ((0, 2)),
    "q86_lm_buckets" -> ((1, 0)), // lang projection; LM leg rides the staged tokens (r13)
    "q87_hybrid_rrf" -> ((3, 2)),
    "q88_dup_spans" -> ((1, 0)), // staged pairs
    "q89_integrity_audit" -> ((1, 1)),
    "q90_vocab_coverage" -> ((1, 0)),
    "q91_snapshot_diff" -> ((3, 0)),
    "q92_label_noise" -> ((0, 3)),
    "q93_ann_recall" -> ((0, 0)), // scores the staged cos/ivf retrieval logs (r14)
    "q94_pq_recall" -> ((0, 0)), // scores the staged l2/adc retrieval logs (r14)
    "q95_hash_embed" -> ((1, 0)),
    "q96_idf_hash_embed" -> ((0, 0)), // staged token artifact (r13)
    "q97_vocab_growth" -> ((1, 0)),
    "q98_video_near_dups" -> ((1, 0)),
    "q98b_video_pairs_sql" -> ((0, 0)),
    "q99_bpe_apply" -> ((0, 0)), // staged token artifact (r13)
    "q100_domain_profile" -> ((1, 0)), // cluster side reads the staged parquet
    "q101_cluster_split" -> ((1, 0)), // cluster side reads the staged parquet
    "q102_pack_bpe" -> ((0, 0)), // rides the staged token artifact
    "q103_budget_bpe" -> ((1, 0)), // quality scan; BPE side rides the staged tokens
    "q104_span_excision" -> ((3, 0)), // gram-volume branches recompute (q50/q91 precedent)
    "q105_dist_drift" -> ((2, 0)), // old side reads the token artifact; new-snapshot union scans docs twice
    "q106_line_excision" -> ((2, 0)), // line stream feeds the frequency branch and the regroup branch
    "q107_shuffled_pack" -> ((1, 0)), // one scan, shard repartition, partition-local fold
    "q108_cell_drift" -> ((0, 4)), // old assign + centroid seed + 2-scan snapshot union; counts collapse map-side
    "q109_source_overlap" -> ((1, 0)), // thin (doc_id, source) attach; everything else rides the staged cluster map
    "q110_bpe_fertility" -> ((1, 0)), // q99 kernel off the staged tokens + thin (doc_id, lang) scan
    "q111_cell_quota" -> ((1, 1)), // CellArgmax over one embeddings scan + thin (doc_id, n_chars) quality attach
    "q112_lang_budget" -> ((1, 0)), // staged-token quality/BPE + thin (doc_id, n_chars, lang) scan
    "q113_shard_manifest" -> ((1, 0)), // the q107 pack scan; manifest math is pack-volume
    "q114_url_canon" -> ((1, 0)), // row-local canonicalization regex chain + one hash-groupBy
    "q115_precedence_dedup" -> ((1, 0)), // staged tokens + staged clusters + thin (doc_id, n_chars, source) scan
    "q116_cluster_merge" -> ((1, 0)), // batch-band signing only; the stored base state is session-staged parquet and the merge CC loop lives in checkpointed jobs
    "q117_sampled_recall" -> ((0, 0)), // scores the staged SAMPLED cos/ivf retrieval logs (r15)
    "q118_epoch_mix" -> ((1, 0)), // staged tokens + thin (doc_id, source) scan; tail is a <=|sources|-row frame
    "q118b_epoch_mix_bpe" -> ((1, 0)), // same shape in BPE currency: staged tokens feed q99, one thin source attach
    "q119_benchmark_report" -> ((3, 0))) // benchmark grams + train grams + thin (doc_id, source) attach (gram-volume recompute boundary, the q67 class)

  test("every registered query has a scan budget (and no stale entries linger)") {
    val names = Registry.all.map(_.name).toSet
    assert(names -- Budget.keySet == Set.empty[String],
      s"unbudgeted queries: ${(names -- Budget.keySet).toSeq.sorted}")
    assert(Budget.keySet -- names == Set.empty[String],
      s"stale budget entries: ${(Budget.keySet -- names).toSeq.sorted}")
  }

  // Complex-buffer SortAggregate allow-list (the round-12 fragility
  // class): Max/First/max_by over an array/struct buffer plans as a
  // DOUBLE SortAggregate that sorts its whole input per partition —
  // measured context-fragile when the input is corpus- or pair-volume
  // (q88 ran 14.7 s min-of-3 in one bench JVM on that stage; the
  // q39/q55/... cell family carried it through a corpus×cells
  // crossJoin until CellArgmax). The two survivors are legitimately
  // SMALL-input: q53's max_by regroups the doc-volume staged cluster
  // frame; q59's max(struct) argmax runs over the bounded
  // batch×band-match rows. A new query (or a refactor) that re-grows a
  // complex-buffer sort over anything else must either take the
  // per-side-join/native-kernel wiring or justify itself onto this
  // list.
  private val SortAggAllowed = Set("q53_canonical_docs", "q59_verified_ingest",
    "q115_precedence_dedup") // q53's max_by regroup of the doc-volume staged cluster frame

  private def complexSortAggs(p: org.apache.spark.sql.execution.SparkPlan) =
    ScanAudit.deepNodes(p)
      .collect { case s: org.apache.spark.sql.execution.aggregate.SortAggregateExec => s }
      .filter(_.aggregateExpressions.exists(_.aggregateFunction
        .aggBufferAttributes.exists(_.dataType match {
          case _: org.apache.spark.sql.types.ArrayType |
               _: org.apache.spark.sql.types.MapType |
               _: org.apache.spark.sql.types.StructType => true
          case _ => false
        })))

  Registry.all.foreach { q =>
    test(s"${q.name} stays within its corpus scan budget ${Budget.get(q.name)}") {
      val plan = TestSpark.executedPlan(q.name)
      val scans = ScanAudit.deepNodes(plan)
        .collect { case s: FileSourceScanExec =>
          s.relation.location.rootPaths.mkString.split('/').last }
      val got = (scans.count(_ == "documents.parquet"),
        scans.count(_ == "embeddings.parquet"))
      val (maxDocs, maxEmb) = Budget(q.name)
      assert(got._1 <= maxDocs && got._2 <= maxEmb,
        s"${q.name} scans (documents, embeddings) = $got exceeds budget " +
          s"(${maxDocs}, ${maxEmb}) — a branch started re-reading the corpus; " +
          s"all scans: ${scans.sorted.mkString(",")}")
      // same walk, second invariant: no NEW complex-buffer SortAggregate
      val sortAggs = complexSortAggs(plan)
      assert(sortAggs.isEmpty || SortAggAllowed(q.name),
        s"${q.name} grew a complex-buffer SortAggregate (sorts its whole " +
          s"input per partition — the q88/q92 fragility class): " +
          sortAggs.map(_.aggregateExpressions.map(_.aggregateFunction)
            .mkString(";")).mkString(" | ").take(200))
    }
  }
}
