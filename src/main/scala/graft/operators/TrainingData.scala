package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-management operators a training-data pipeline needs around the
  * cleaning/dedup core: deterministic split assignment, repetition-based
  * quality signals, and cross-source contamination checks. All three are
  * the standard large-corpus recipes (hash-split; duplicated-n-gram
  * fraction as in the Gopher/C4 quality rules; long-n-gram overlap as in
  * GPT-3-style train/test decontamination) expressed Spark-first.
  *
  * Scale shapes: q40/q41 are scan-shaped (q40 adds one tiny aggregate
  * exchange); q42 is one documents scan, one shuffle on the 64-bit gram
  * hash (uniform), pairs exploded map-side from per-gram source sets
  * (≤ |sources| each) — the same capped-explode discipline as the LSH
  * band join, so no quadratic region exists at any corpus size.
  */
object TrainingData {

  // Shared split definition (q40, q43): one edit point on both the Spark
  // and oracle sides — a drifting copy would make the two queries
  // silently disagree about what "train" means.
  // Split by an md5-prefix range over the stable doc_id — reproducible
  // across runs, engines and languages, no RNG state. Two hex chars give
  // 256 buckets: train < 'cd' (205/256 ≈ 80.1%), val < 'e6' (+25/256 ≈
  // 9.8%), test = rest (26/256 ≈ 10.2%). String-range comparison keeps
  // the oracle bit-identical (no hex→int parsing differences).
  /** The split rule over an arbitrary key column — q40 applies it to
    * the raw doc_id; q101 to the near-dup cluster representative (and
    * Curate's split stage to the same, so whole clusters land in one
    * split by construction).
    */
  def splitColumnOf(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h2 = substring(md5(key.cast("string").cast("binary")), 1, 2)
    when(h2 < "cd", "train").when(h2 < "e6", "val").otherwise("test")
  }
  def splitColumn: org.apache.spark.sql.Column = splitColumnOf(col("doc_id"))
  private def splitCol: org.apache.spark.sql.Column = splitColumn

  private[operators] def splitSqlOf(key: String): String =
    s"""CASE WHEN substr(md5(CAST($key AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
       |     WHEN substr(md5(CAST($key AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
       |     ELSE 'test' END""".stripMargin
  private[operators] val splitSql = splitSqlOf("doc_id")

  // Shared long-n-gram hash (q42, q43): md5 of each 8-word window over
  // the staged word array `w`, TRUNCATED to its first 16 hex chars —
  // the gram hash exists only to be grouped on, and these queries
  // shuffle one row per gram occurrence, so key width is shuffle volume:
  // 64 bits halve the exchange payload vs the full digest while keeping
  // collisions negligible (~n²/2⁶⁵ — at 10¹² corpus grams, odds of even
  // ONE colliding pair stay ~3%, and a collision only adds one
  // spurious candidate gram, it cannot drop a real one). Empty below 8
  // words.
  // (engine side is the native graft.functions.GramHashes expression —
  // an n-word window joined by single spaces is a contiguous slice of
  // the text's UTF-8 bytes, so each gram hashes in place; the
  // interpreted slice+concat_ws+md5+substring chain it replaced
  // dominated these queries' scan cost. Bit-identical output.)

  private val gramHashSql =
    """CASE WHEN len(ws) >= 8 THEN
      |  list_transform(range(1, len(ws) - 6), i -> substr(md5(array_to_string(ws[i:i+7], ' ')), 1, 16))
      |ELSE [] END""".stripMargin

  // ---- q40: deterministic train/val/test hash split ----------------------
  private def q40(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("split", splitCol)
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))

  // DuckDB types sum(BIGINT) as HUGEINT (int128) — cast back to BIGINT or
  // the driver's type-aware hash mismatches Spark's LongType (q21 precedent).
  private val o40 =
    s"""WITH s AS (
      |  SELECT lang, n_chars, $splitSql AS split
      |  FROM documents)
      |SELECT split, lang, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM s GROUP BY 1, 2""".stripMargin

  // ---- q101: near-dup-coherent split assignment ---------------------------
  // q40's md5(doc_id) split lets two members of one near-dup cluster
  // straddle train/test, leaking paraphrase-level signal that the
  // verbatim-gram decontamination (q43) only partially catches and the
  // semantic pass (q62) then has to patch. Standard practice (Lee et
  // al. 2022 §4 holds out by CLUSTER, not by document) PREVENTS the
  // straddle instead: the split key is the cluster representative's id
  // — the min-id label the q44 connected components already assign —
  // so every member of a cluster hashes to the same bucket and whole
  // clusters land in one split BY CONSTRUCTION; singletons keep their
  // own id and reproduce q40's assignment exactly.

  /** Cluster-coherent split over any `doc_id` frame and a `(doc_id,
    * cluster_id)` near-dup cluster map (the q44/staged-cluster shape).
    * Scale shape: one corpus scan; the cluster map attaches by one
    * doc_id equi-join (dup-volume ≪ corpus — broadcast when small,
    * shuffle-join at worst, same as q53/q72/q100); the split rule is a
    * row-local hash. No window, no second corpus pass.
    */
  def clusterCoherentSplit(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(clusters.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("split_key"))
      .withColumn("split", splitColumnOf(col("split_key")))

  private def q101(s: SparkSession, d: String): DataFrame =
    clusterCoherentSplit(Tables.documents(s, d), Dedup.stagedClusters(s, d))

  private val o101 =
    s"""WITH RECURSIVE ${Dedup.candidateCtes},
       |${Dedup.clusterCtes},
       |a AS (
       |  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS split_key
       |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
       |SELECT doc_id, split_key, ${splitSqlOf("split_key")} AS split
       |FROM a""".stripMargin

  // ---- q41: repeated-3-gram fraction (quality signal) --------------------
  // The Gopher-style repetition rule: fraction of a document's 3-grams
  // that are duplicates. Entirely map-side array arithmetic — the word
  // array is staged once (a lambda inlining it would re-split per gram),
  // and no shuffle exists anywhere in the plan.

  /** Per-doc repeated-3-gram stats over any `(doc_id, text)` frame (the
    * q41 kernel — also one leg of TextAnalysis.qualityEnsemble).
    */
  def repetitionSignal(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.WordGrams(col("text"), 3).as("grams"))
      .select((col("doc_id") +: repetitionCols): _*)

  /** The q41 scoring columns over an already-staged `grams` array.
    * Shared with TextAnalysis.qualityEnsemble so its fused single-pass
    * leg uses the EXACT q41 expressions — zero drift by construction.
    */
  private[graft] def repetitionCols: Seq[org.apache.spark.sql.Column] = Seq(
    size(col("grams")).cast("long").as("n_grams"),
    size(array_distinct(col("grams"))).cast("long").as("n_distinct"),
    expr("CASE WHEN size(grams) > 0 THEN 1.0 - " +
      "CAST(size(array_distinct(grams)) AS DOUBLE) / " +
      "CAST(size(grams) AS DOUBLE) ELSE 0.0 END").as("dup_frac"))

  private def q41(s: SparkSession, d: String): DataFrame =
    repetitionSignal(Tables.documents(s, d))

  private val o41 =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT doc_id,
      |         CASE WHEN len(ws) >= 3 THEN
      |           list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))
      |         ELSE [] END AS grams
      |  FROM w)
      |SELECT doc_id, len(grams) AS n_grams, len(list_distinct(grams)) AS n_distinct,
      |       CASE WHEN len(grams) > 0 THEN 1.0 -
      |         CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE)
      |       ELSE 0.0 END AS dup_frac
      |FROM g""".stripMargin

  // ---- the staged 8-gram-hash artifact (round 14, late session) ----------
  // The stage-aggregates boundary ("gram-volume branches recompute")
  // held as prose until round 14 priced it (SCALE.md "the gram-volume
  // boundary, priced and moved"): staging the DISTINCT
  // `(doc_id, gh)` 8-gram stream once per corpus fingerprint wins
  // q42 25.2→3.6 s and q43 26.0→4.7 s at sf10 (3.4× each at sf1), with
  // the cold write ≈ 1.4 raw queries — amortized from the second
  // consumer on. The honest cost axis is BYTES: the artifact measures
  // ~20× the compressed corpus (263 MB vs 13 MB at sf10), so at
  // extreme scale it is a deliberate campaign artifact, not a free
  // lunch; the boundary
  // stays for the HIGHER-volume expansions (q50's 3-gram text grams,
  // q63/q104's positional grams), which this artifact's fixed-width
  // hashes cannot serve. DISTINCT (doc_id, gh) is the exact consumer
  // semantics: both q42's source sets and q43's test-doc sets dedupe
  // per doc (collect_set), so the forms are value-identical
  // (GramFormsSpec pins it).
  private[graft] def stagedGramHashes(s: SparkSession, d: String): DataFrame =
    graft.Stage.session(s, "graft-grams", d)(
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.functions.GramHashesLong(col("text"), 8)).as("gh"))
        .dropDuplicates("doc_id", "gh"))

  // ---- q42: cross-source contamination (shared 8-gram count) -------------
  // Long n-grams make overlap evidence, not noise (the 13-gram idea from
  // GPT-3 decontamination, sized to the fixture's docs). The gram
  // stream reads the staged artifact (sources re-attach via the thin
  // (doc_id, source) projection — the q64 lang pattern); ONE shuffle
  // groups by the 64-bit gram hash (one LONG since round 17 — guide §2.3 narrower types); each gram's source set (≤ |sources|)
  // explodes into ordered pairs map-side — never a gram-level
  // self-join, so a gram shared by every source costs |sources|², not
  // |corpus|².

  /** q42's tail over any `(source, gh)` stream (shared by the staged
    * registry form and the raw form).
    */
  private[graft] def sharedSourcePairs(srcGh: DataFrame): DataFrame =
    srcGh
      .groupBy(col("gh"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
      .select(explode(expr(
        "flatten(transform(srcs, (x, i) -> " +
          "transform(slice(srcs, i + 2, size(srcs)), " +
          "y -> named_struct('sa', x, 'sb', y))))")).as("p"))
      .groupBy(col("p.sa").as("source_a"), col("p.sb").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))

  private def q42(s: SparkSession, d: String): DataFrame =
    sharedSourcePairs(stagedGramHashes(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
        "doc_id")
      .select(col("source"), col("gh")))

  private val o42 =
    s"""WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
      |g0 AS (
      |  SELECT source, unnest($gramHashSql) AS gh
      |  FROM w),
      |g AS (SELECT DISTINCT source, gh FROM g0),
      |p AS (
      |  SELECT a.source AS source_a, b.source AS source_b
      |  FROM g a JOIN g b ON a.gh = b.gh AND a.source < b.source)
      |SELECT source_a, source_b, count(*) AS n_shared
      |FROM p GROUP BY 1, 2""".stripMargin

  // ---- q43: train→test decontamination (q40 ∘ q42) -----------------------
  // The canonical composition: which TEST documents share a long n-gram
  // with any TRAIN document (GPT-3-style leakage detection, run before
  // every evaluation). Single-pass shape — one documents scan, one
  // shuffle on the gram hash where each gram folds to a has-train flag
  // plus its (small) test-doc set, then one aggregate per contaminated
  // test doc. No train-vs-test self-join: referencing the gram frame
  // twice would re-plan the whole explode subtree per side (two scans),
  // and a gram-level join could not be capped the same way.
  /** Shared q43 tail over a `(doc_id, split, gh)` gram stream: per
    * gram, a has-train flag plus its (small) test-doc set, then one
    * aggregate per contaminated test doc. collect_set dedupes, so an
    * occurrence stream and a distinct `(doc_id, gh)` stream yield
    * identical results (the staged-artifact equivalence).
    */
  private def contaminationTail(grams: DataFrame): DataFrame =
    grams
      .groupBy(col("gh"))
      .agg(
        max(when(col("split") === "train", 1).otherwise(0)).as("has_train"),
        collect_set(when(col("split") === "test", col("doc_id"))).as("test_docs"))
      .filter(col("has_train") === 1 && size(col("test_docs")) > 0)
      .select(explode(col("test_docs")).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))

  /** The q43 kernel over a frame that ALREADY carries its `split`
    * column — the form a composed pipeline must call: Curate's stage-4
    * split is cluster-coherent (q101), and re-deriving md5(doc_id)
    * splits here would decontaminate under a DIFFERENT assignment than
    * the one the pack stage trains on (found round 14: cluster
    * survivors whose representative id differs from their own id flip
    * splits between the two keys).
    */
  def contaminatedTestDocsWithSplit(docs: DataFrame): DataFrame =
    contaminationTail(docs.select(col("doc_id"), col("split"),
      explode(graft.functions.GramHashesLong(col("text"), 8)).as("gh")))

  /** [[contaminatedTestDocsWithSplit]] over a PRE-BUILT `(doc_id, gh)`
    * gram artifact (round 17): the split rides the caller's frame (the
    * cluster-coherent q101 assignment), the grams ride the staged
    * distinct artifact — so a pipeline that stages grams once (Curate)
    * never re-explodes the text here. Value-identical to the text form
    * (the tail's collect_set dedupes, GramFormsSpec) — docs absent from
    * `grams` (fewer than 8 words) contribute no rows either way.
    */
  def contaminatedTestDocsWithSplitFromGrams(docs: DataFrame,
      grams: DataFrame): DataFrame =
    contaminationTail(docs.select(col("doc_id"), col("split"))
      .join(grams.select(col("doc_id"), col("gh")), Seq("doc_id")))

  /** Test docs sharing a long n-gram with any train doc (the q43 kernel
    * over any frame carrying `doc_id`, `text`; the split derives from
    * md5(doc_id) — the q40 registry semantics) — returns
    * `(doc_id, n_shared_grams)`.
    */
  def contaminatedTestDocs(docs: DataFrame): DataFrame =
    contaminatedTestDocsWithSplit(docs.withColumn("split", splitCol))

  /** [[contaminatedTestDocs]] over a staged `(doc_id, gh)` gram
    * artifact: the md5 split derives row-locally from doc_id, and the
    * distinct stream feeds the same set-semantics tail.
    */
  def contaminatedTestDocsFromGrams(grams: DataFrame): DataFrame =
    contaminationTail(grams.select(col("doc_id"),
      splitColumnOf(col("doc_id")).as("split"), col("gh")))

  private def q43(s: SparkSession, d: String): DataFrame =
    contaminatedTestDocsFromGrams(stagedGramHashes(s, d))

  private val o43 =
    s"""WITH s AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws, $splitSql AS split
      |  FROM documents),
      |g0 AS (
      |  SELECT doc_id, split, unnest($gramHashSql) AS gh
      |  FROM s),
      |d AS (SELECT DISTINCT doc_id, split, gh FROM g0),
      |t AS (SELECT DISTINCT doc_id, gh FROM d WHERE split = 'test'),
      |tr AS (SELECT DISTINCT gh FROM d WHERE split = 'train')
      |SELECT t.doc_id, count(*) AS n_shared_grams
      |FROM t JOIN tr USING (gh) GROUP BY 1""".stripMargin

  // ---- distinct train-gram rows (q43) -------------------------------------

  /** Distinct long-n-gram hashes of `docs` as `(gh)` rows — the train
    * side of the contamination report. One uniform 64-bit-hash shuffle
    * (the distinct); linear at any corpus size.
    */
  def gramRowsOf(docs: DataFrame): DataFrame =
    docs.select(explode(graft.functions.GramHashesLong(col("text"), 8)).as("gh"))
      .distinct()

  // ---- q46: sharded next-fit sequence packing ----------------------------
  // Batch assembly for training: pack documents into fixed-capacity
  // token budgets (context windows). Packing is inherently sequential,
  // so it is SHARDED: docs hash to `PackShards` independent shards and
  // each shard packs its docs in doc_id order with a next-fit rule
  // (running + next > capacity → start a new pack; an oversized doc
  // occupies its own pack). Shard count is the parallelism knob — at
  // 100 TB use thousands of shards; within a shard the scan is a
  // genuine per-partition sequential fold, the one place mapPartitions
  // is the right tool (SURVEY §2 custom-operator ladder, option d).
  // Deterministic: shard and order are functions of doc_id only.
  private[graft] val PackShards = 8
  private[graft] val PackCapacity = 64L // tokens per pack (fixture docs are short)

  final case class PackedDoc(doc_id: Long, shard: Long, pack_id: Long, n_tokens: Long)

  /** Next-fit fold over rows pre-sorted by (shard, doc_id). Top-level
    * (not a closure) so the task serializes only the function ref.
    */
  private def packPartition(rows: Iterator[(Long, Long, Long)],
      capacity: Long): Iterator[PackedDoc] = {
    var shard = -1L
    var running = 0L
    var pack = 0L
    rows.map { case (docId, sh, n) =>
      if (sh != shard) { shard = sh; running = n; pack = 0L }
      else if (running + n > capacity) { running = n; pack += 1L }
      else running += n
      PackedDoc(docId, sh, pack, n)
    }
  }

  /** Next-fit packing over an explicit `(doc_id, n_tokens)` frame —
    * the token CURRENCY is the caller's choice: q46 spends whitespace
    * counts, q102 (and Curate's packing stage) spends the q99 BPE
    * counts, the defensible definition a trainer's context window
    * actually holds.
    */
  def packSequencesFromCounts(tokenCounts: DataFrame, shards: Int,
      capacity: Long): DataFrame = {
    val spark = tokenCounts.sparkSession
    import spark.implicits._
    tokenCounts
      .select(col("doc_id"), (col("doc_id") % shards).as("shard"),
        col("n_tokens").cast("long").as("n_tokens"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .as[(Long, Long, Long)]
      .mapPartitions(packPartition(_, capacity))
      .toDF()
  }

  def packSequences(docs: DataFrame, shards: Int, capacity: Long): DataFrame =
    packSequencesFromCounts(
      docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")),
      shards, capacity)

  private def q46(s: SparkSession, d: String): DataFrame =
    packSequences(Tables.documents(s, d), PackShards, PackCapacity)

  /** The next-fit recursion as oracle SQL over a CTE named `d` with
    * `(doc_id, shard, n_tokens, rn)` — shared by o46/o77/o102 so the
    * packing rule exists once on the oracle side too.
    */
  private def nextFitSql(capacity: Long): String =
    s"""p AS (
       |  SELECT doc_id, shard, rn, n_tokens,
       |         n_tokens AS running, CAST(0 AS BIGINT) AS pack_id
       |  FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.doc_id, d.shard, d.rn, d.n_tokens,
       |         CASE WHEN p.running + d.n_tokens > $capacity
       |              THEN d.n_tokens ELSE p.running + d.n_tokens END,
       |         CASE WHEN p.running + d.n_tokens > $capacity
       |              THEN p.pack_id + 1 ELSE p.pack_id END
       |  FROM p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1)""".stripMargin

  private val wsTokensCte =
    s"""d AS (
       |  SELECT doc_id, doc_id % $PackShards AS shard,
       |         len(string_split(text, ' ')) AS n_tokens,
       |         row_number() OVER (PARTITION BY doc_id % $PackShards
       |           ORDER BY doc_id) AS rn
       |  FROM documents)""".stripMargin

  private val o46 =
    s"""WITH RECURSIVE $wsTokensCte,
       |${nextFitSql(PackCapacity)}
       |SELECT doc_id, shard, pack_id, n_tokens FROM p""".stripMargin

  // ---- q107: seeded-shuffle packing (reproducible training order) --------
  // q46/q102 pack in doc_id order within doc_id-modulo shards, so
  // consecutive crawl neighbors — same source, same near-dup family,
  // same template — land in the SAME context windows. Production
  // pipelines globally shuffle before packing (GPT-3/The Pile data
  // ordering) and the shuffle must be SEEDED so a rebuild reproduces
  // the exact training order. The q40 trick supplies both properties
  // engine-portably: h = md5(seed || doc_id) is a deterministic
  // pseudo-random key; its first two hex chars are the shard (256
  // hash-buckets — the parallelism unit) and (h, doc_id) is the order
  // within the shard. Same next-fit fold, same oracle recursion — only
  // the `d` CTE's shard/order changes, which is the whole point: the
  // shuffle is an ORDERING choice, not a new packer.
  //
  // Scale shape: one scan, one repartition on the shard prefix, a
  // per-shard sort (Spark's partition sort, never a global window),
  // the partition-local fold. Changing the seed re-deals every pack;
  // keeping it reproduces them byte-for-byte.
  private[graft] val ShuffleSeed = "graft-shuffle-42"

  final case class ShuffledPack(doc_id: Long, shard: String, pack_id: Long,
      n_tokens: Long)

  /** Next-fit fold over rows pre-sorted by (shard, h, doc_id) with a
    * STRING shard key (the md5-prefix bucket).
    */
  private def packPartitionShuffled(rows: Iterator[(Long, String, String, Long)],
      capacity: Long): Iterator[ShuffledPack] = {
    var shard: String = null
    var running = 0L
    var pack = 0L
    rows.map { case (docId, sh, _, n) =>
      if (sh != shard) { shard = sh; running = n; pack = 0L }
      else if (running + n > capacity) { running = n; pack += 1L }
      else running += n
      ShuffledPack(docId, sh, pack, n)
    }
  }

  /** Seeded-shuffle next-fit packing over a `(doc_id, n_tokens)` frame:
    * shard = substr(md5(seed || doc_id), 1, 2), order = (h, doc_id).
    */
  def packSequencesShuffledFromCounts(tokenCounts: DataFrame, seed: String,
      capacity: Long): DataFrame = {
    val spark = tokenCounts.sparkSession
    import spark.implicits._
    tokenCounts
      .select(col("doc_id"),
        md5(concat(lit(seed), col("doc_id").cast("string"))).as("h"),
        col("n_tokens").cast("long").as("n_tokens"))
      .select(col("doc_id"), substring(col("h"), 1, 2).as("shard"),
        col("h"), col("n_tokens"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("h"), col("doc_id"))
      .as[(Long, String, String, Long)]
      .mapPartitions(packPartitionShuffled(_, capacity))
      .toDF()
  }

  private def q107(s: SparkSession, d: String): DataFrame =
    packSequencesShuffledFromCounts(
      Tables.documents(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")),
      ShuffleSeed, PackCapacity)

  private val o107 =
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id,
       |         substr(md5('$ShuffleSeed' || CAST(doc_id AS VARCHAR)), 1, 2) AS shard,
       |         len(string_split(text, ' ')) AS n_tokens,
       |         row_number() OVER (
       |           PARTITION BY substr(md5('$ShuffleSeed' || CAST(doc_id AS VARCHAR)), 1, 2)
       |           ORDER BY md5('$ShuffleSeed' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |  FROM documents),
       |${nextFitSql(PackCapacity)}
       |SELECT doc_id, shard, pack_id, n_tokens FROM p""".stripMargin

  // ---- q102: BPE-currency packing (q46 under the q99 token definition) ----
  // q99's scaladoc called its output "the defensible token definition
  // q46/q78 lacked" — this closes that composition: the packer spends
  // per-doc BPE symbol counts (the q99 kernel over the staged token
  // artifact) instead of whitespace counts, so a pack's budget is what
  // a trainer's context window actually holds. Capacity scales with
  // the currency (BPE symbols ≈ 5× whitespace tokens on the fixture —
  // q99's compression column is the measured rate). Scale shape: the
  // merge table and per-doc counts ride the staged `(doc_id, w, cnt)`
  // artifact (zero corpus scans); packing is q46's partition-local
  // fold, sharded by doc_id hash.
  private val BpePackCapacity = 1024L // BPE symbols per pack (capacity-swept: see SCALE.md round 14)

  private def q102(s: SparkSession, d: String): DataFrame =
    packSequencesFromCounts(
      TextAnalysis.stagedBpeDoc(s, d) // the q99 kernel, staged (round 17)
        .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens")),
      PackShards, BpePackCapacity)

  private val o102 =
    s"""WITH RECURSIVE ${TextAnalysis.bpeCtes()},
       |d AS (
       |  SELECT doc_id, doc_id % $PackShards AS shard,
       |         n_bpe_tokens AS n_tokens,
       |         row_number() OVER (PARTITION BY doc_id % $PackShards
       |           ORDER BY doc_id) AS rn
       |  FROM bpedoc),
       |${nextFitSql(BpePackCapacity)}
       |SELECT doc_id, shard, pack_id, n_tokens FROM p""".stripMargin

  // ---- q51: overlapping token-window chunking ----------------------------
  // RAG/embedding-prep chunking: fixed word windows (ChunkWindow) with
  // ChunkStride overlap, stable ids. Chunk count per doc is
  // 1 + ceil(max(0, n - window) / stride) — the last chunk always
  // reaches the document's end and no chunk start lies beyond a
  // previous chunk's coverage (no fully-contained tail chunks).
  // Scan-shaped: the word array is staged once, starts explode
  // map-side, each chunk emits its token count and content hash (the
  // downstream embedding key) — output rows stay in their input
  // partition, zero shuffle at any corpus size.
  private val ChunkWindow = 32
  private val ChunkStride = 24

  /** Overlapping word-window chunks of any `(doc_id, text)` frame:
    * `(doc_id, chunk_idx, n_tokens, chunk_hash)`.
    */
  def chunkDocuments(docs: DataFrame, window: Int, stride: Int): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("n", size(col("w")))
      .select(col("doc_id"), col("w"),
        explode(expr(
          s"sequence(0, CASE WHEN n > $window THEN (n - $window + $stride - 1) div $stride ELSE 0 END)"))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        expr(s"slice(w, chunk_idx * $stride + 1, $window)").as("cw"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("cw")).cast("long").as("n_tokens"),
        md5(array_join(col("cw"), " ").cast("binary")).as("chunk_hash"))

  private def q51(s: SparkSession, d: String): DataFrame =
    chunkDocuments(Tables.documents(s, d), ChunkWindow, ChunkStride)

  private val o51 =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |c AS (
       |  SELECT doc_id, ws,
       |         unnest(range(0, 1 + (CASE WHEN len(ws) > $ChunkWindow
       |           THEN (len(ws) - $ChunkWindow + $ChunkStride - 1) // $ChunkStride
       |           ELSE 0 END))) AS chunk_idx
       |  FROM w)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |       CAST(len(ws[chunk_idx * $ChunkStride + 1 : chunk_idx * $ChunkStride + $ChunkWindow]) AS BIGINT) AS n_tokens,
       |       md5(array_to_string(ws[chunk_idx * $ChunkStride + 1 : chunk_idx * $ChunkStride + $ChunkWindow], ' ')) AS chunk_hash
       |FROM c""".stripMargin

  // ---- q47: deterministic stratified sampling ----------------------------
  // Mixture re-balancing: downsample dominant languages by fixed rates
  // (en keeps 64/256 ≈ 25%, de 128/256 = 50%, the rest everything).
  // The sampling hash is md5 over a SALTED doc_id ('smp' prefix) — the
  // split column hashes the bare doc_id, and sharing the hash would
  // correlate sampling with split assignment (a sampled corpus would
  // drain one split first). Scan-shaped: the keep decision is a pure
  // row-local expression, reproducible across runs and engines.
  private val SampleThresholds: Seq[(String, String)] =
    Seq("en" -> "40", "de" -> "80") // 2-hex-char bucket upper bounds

  /** Deterministic per-stratum hash sample: keep a doc iff its salted
    * md5 bucket falls below the stratum's threshold (strata absent from
    * `thresholds` are kept whole).
    */
  def stratifiedSample(docs: DataFrame,
      thresholds: Seq[(String, String)]): DataFrame = {
    val h2 = substring(
      md5(concat(lit("smp"), col("doc_id").cast("string")).cast("binary")), 1, 2)
    val keep = thresholds.foldRight(lit(true): org.apache.spark.sql.Column) {
      case ((lang, thresh), elseCol) =>
        when(col("lang") === lang, h2 < thresh).otherwise(elseCol)
    }
    docs.filter(keep)
  }

  private def q47(s: SparkSession, d: String): DataFrame =
    stratifiedSample(Tables.documents(s, d), SampleThresholds)
      .select(col("doc_id"), col("lang"), col("source"))

  private val o47 = {
    val cases = SampleThresholds.map { case (l, t) =>
      s"WHEN lang = '$l' THEN substr(md5('smp' || CAST(doc_id AS VARCHAR)), 1, 2) < '$t'"
    }.mkString("\n      |          ")
    s"""SELECT doc_id, lang, source FROM documents
      |WHERE CASE $cases
      |          ELSE TRUE END""".stripMargin
  }

  // ---- q48: source-mixture token-budget equalization ---------------------
  // Curriculum mixing: every source should contribute the SAME token
  // budget, so each source's keep-rate is minTokens/itsTokens and the
  // keep decision is the same salted-hash bucket test with a
  // runtime-computed threshold. Two documents scans (totals + filter —
  // Spark does not share scans across branches, the q37 trade), one
  // tiny aggregate, and the ≤|sources|-row rate table broadcast back;
  // nothing shuffles but the final per-source stats aggregate. The
  // smallest source keeps everything (tot = minTot guards the rate-1.0
  // boundary, where a 3-hex-char '100' threshold would compare wrong
  // against 2-char buckets).
  /** Kept `(doc_id, source, n_tok)` rows under the equalized budget —
    * the reusable kernel the q48 stats aggregate and the Curate mixture
    * stage both delegate to.
    */
  def sourceBudgetKeep(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val totals = toks.groupBy(col("source")).agg(sum(col("n_tok")).as("tot"))
    // global min as a window over the ≤|sources|-row aggregate — a
    // separate min() branch would re-plan the totals subtree and cost a
    // third documents scan (the branch-duplication trap); one partition
    // holding |sources| rows is exactly what a window is safe for
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val rates = totals
      .withColumn("min_tot", min(col("tot")).over(w))
      .withColumn("thresh", format_string("%02x",
        floor(col("min_tot").cast("double") / col("tot").cast("double") * 256)
          .cast("int")))
    val h2 = substring(
      md5(concat(lit("smp"), col("doc_id").cast("string")).cast("binary")), 1, 2)
    toks.join(broadcast(rates), "source")
      .filter(col("tot") === col("min_tot") || h2 < col("thresh"))
      .select(col("doc_id"), col("source"), col("n_tok"))
  }

  def equalizeSourceTokens(docs: DataFrame): DataFrame =
    sourceBudgetKeep(docs)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("tok_kept"))

  private def q48(s: SparkSession, d: String): DataFrame =
    equalizeSourceTokens(Tables.documents(s, d))

  private val o48 =
    """WITH toks AS (
      |  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |totals AS (
      |  SELECT source, CAST(sum(n_tok) AS BIGINT) AS tot FROM toks GROUP BY source),
      |m AS (SELECT CAST(min(tot) AS BIGINT) AS min_tot FROM totals),
      |rates AS (
      |  SELECT source, tot, min_tot,
      |         printf('%02x', CAST(floor(CAST(min_tot AS DOUBLE) / CAST(tot AS DOUBLE) * 256) AS INT)) AS thresh
      |  FROM totals CROSS JOIN m)
      |SELECT t.source, count(*) AS n_kept, CAST(sum(t.n_tok) AS BIGINT) AS tok_kept
      |FROM toks t JOIN rates r USING (source)
      |WHERE r.tot = r.min_tot
      |   OR substr(md5('smp' || CAST(t.doc_id AS VARCHAR)), 1, 2) < r.thresh
      |GROUP BY t.source""".stripMargin

  // ---- q63: duplicate-span fraction (cross-doc span-level dedup signal) --
  // The Dolma/C4 "duplicate paragraph fraction" rule, adapted to the
  // fixture's unstructured text: documents are cut into NON-overlapping
  // SpanWords-word spans (q51's chunking with stride = window), each
  // span is hashed, and a doc's spans that also appear in ANOTHER
  // document mark it as partially duplicated — the span-level complement
  // of q22 (whole-doc) and q25 (whole-doc near-dup): it catches
  // boilerplate-stitched and partially-copied documents neither sees.
  //
  // Distributed shape (the q56 lesson applied from the start): the span
  // stream is FIRST collapsed to its distinct (doc_id, sh) aggregate;
  // the per-span doc-frequency table derives from it and joins back on
  // the UNIFORM 64-bit span hash — the identical pre-aggregate exchange
  // appears on both join inputs, so AQE materializes it once
  // (ReusedExchange) and the whole query is one documents scan, one
  // (doc_id, sh) exchange, one hash-keyed join exchange, one final
  // doc_id aggregate. No collect_set of doc ids anywhere: a boilerplate
  // span shared by millions of docs costs millions of JOIN rows
  // (linear, partitioned) — never one aggregation-state list on a
  // single key, which is what would OOM at 100 TB. Each pre-aggregate
  // row matches exactly one df row, so join fan-out is 1:1 by
  // construction — no quadratic region at any corpus size.
  private val SpanWords = 16
  private val DupSpanFlagFrac = 0.5

  /** Per-doc duplicated-span stats over any `(doc_id, text)` frame:
    * `(doc_id, n_spans, n_dup_spans, dup_span_frac, flagged)` where a
    * span is duplicated iff its hash occurs in ≥ 2 distinct docs.
    * Docs shorter than one full span are absent (no span evidence).
    */
  def dupSpanFraction(docs: DataFrame,
      spanWords: Int = SpanWords,
      flagFrac: Double = DupSpanFlagFrac): DataFrame = {
    val perDoc = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("n", size(col("w")))
      .filter(col("n") >= spanWords)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, n div $spanWords - 1), i -> " +
          s"substring(md5(cast(array_join(slice(w, i * $spanWords + 1, $spanWords), ' ') as binary)), 1, 16))"))
        .as("sh"))
      .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("c"))
    val df = perDoc.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    perDoc.join(df, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_span_frac",
        col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
      .withColumn("flagged", col("dup_span_frac") >= lit(flagFrac))
  }

  private def q63(s: SparkSession, d: String): DataFrame =
    dupSpanFraction(Tables.documents(s, d))

  private val o63 =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |s AS (
       |  SELECT doc_id, unnest(list_transform(range(0, len(ws) // $SpanWords),
       |           i -> substr(md5(array_to_string(ws[i*$SpanWords+1 : i*$SpanWords+$SpanWords], ' ')), 1, 16))) AS sh
       |  FROM w WHERE len(ws) >= $SpanWords),
       |p AS (SELECT doc_id, sh, count(*) AS c FROM s GROUP BY 1, 2),
       |df AS (SELECT sh, count(*) AS df FROM p GROUP BY sh)
       |SELECT doc_id, count(*) AS n_spans,
       |       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       |       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_span_frac,
       |       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) >= $DupSpanFlagFrac AS flagged
       |FROM p JOIN df USING (sh) GROUP BY doc_id""".stripMargin

  // ---- q64: DSIR-shaped hashed-bigram importance weights -----------------
  // Data Selection via Importance Resampling (Xie et al. 2023): score
  // raw documents by how target-like their hashed n-gram features are,
  // then resample proportionally. The published form scores sum-of-
  // log(p_target/p_raw); libm log is not cross-engine bit-stable (the
  // q37/q56 lesson), so the weight is carried as the integer-scaled
  // probability DIFFERENCE p_target − p_raw per feature bucket —
  // monotone-equivalent discrimination for thresholding/resampling, and
  // every intermediate is an exact BIGINT on both engines. Target
  // distribution here: the corpus's own `lang = 'en'` slice (the
  // DSIR recipe's "trusted corpus", stated inline so the oracle states
  // it identically). Features: bigrams hashed into 256 buckets by their
  // md5's first two hex chars — hex-string bucket ids avoid any
  // hex→int parsing divergence between engines.
  //
  // Distributed shape: the registry query reads the staged bigram
  // artifact (round 14 — hashing the distinct per-doc bigrams weighted
  // by their counts, identical integers to per-occurrence hashing) and
  // re-attaches lang on the ≤ docs×256-row bucket pre-aggregate; the
  // self-contained form explodes bigrams map-side off ONE documents
  // scan (native GramHashes kernel) and collapses immediately to the
  // (doc_id, lang, bucket) pre-aggregate; the 256-row bucket weight
  // table derives from that same pre-aggregate (identical exchange →
  // AQE ReusedExchange, the q56 shape) with its corpus totals as a
  // window over the 256-row frame (q48 precedent — one partition
  // holding ≤ 256 rows is exactly what a window is safe for). The
  // weight table is STRUCTURALLY ≤ 256 rows, so its join back is
  // force-broadcast (the q54 OOV-vocab justification). Overflow is
  // ENFORCED like q56: a per-bucket count above Long.MaxValue/DsirScale
  // raises instead of silently wrapping.
  private val DsirScale = 1000000000L
  private val DsirTargetLang = "en"

  /** Per-doc DSIR importance score over any `(doc_id, text, lang)`
    * frame: `(doc_id, n_bigrams, score_scaled, w_avg)` where
    * `score_scaled = Σ_buckets c_doc(b) · (p̂_target(b) − p̂_raw(b))`
    * in DsirScale-integer arithmetic and `w_avg` is its per-bigram
    * mean as a double. Docs with < 2 words are absent (no features).
    */
  def dsirWeights(docs: DataFrame, targetLang: String = DsirTargetLang): DataFrame =
    // native GramHashes at bucket width: each bigram hashes in place as
    // a contiguous byte slice — no per-gram string assembly before the
    // md5 (bit-identical to the interpreted WordGrams+md5+substring
    // chain it replaced, and to the oracle's substr(md5(gm), 1, 2))
    dsirWeightsFrom(docs
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.GramHashes(col("text"), 2, 2)).as("b"))
      .groupBy(col("doc_id"), col("lang"), col("b")).agg(count(lit(1)).as("c")),
      targetLang)

  /** [[dsirWeights]] over the staged `(doc_id, g, c)` bigram artifact
    * plus a thin `(doc_id, lang)` projection (round 14): the hashed
    * feature bucket is a function of the bigram STRING
    * (`substr(md5(g), 1, 2)` — the exact oracle expression, and
    * bit-identical to the native GramHashes slice hash), so hashing
    * the DISTINCT per-doc bigrams weighted by their counts yields the
    * same integers as hashing every occurrence; `lang` re-attaches on
    * the ≤ docs×256-row bucket pre-aggregate, never on the occurrence
    * stream. DsirFormsSpec pins both forms bit-equal.
    */
  def dsirWeightsFromCounts(docsLang: DataFrame, bigrams: DataFrame,
      targetLang: String = DsirTargetLang): DataFrame =
    // lang joins BEFORE the bucket aggregate and stays a grouping key:
    // the weights branch and the per-doc score branch then share the
    // exact same (doc_id, lang, b) exchange subtree (no column-pruning
    // divergence), so AQE plans ONE feature exchange + ReusedExchange —
    // the q56 shape the plan pin asserts. Joining after the aggregate
    // read docs+bigrams TWICE (branch A pruned lang, branch B didn't,
    // killing the reuse) — found by ScanBudgetSpec, kept as a comment
    // so the tempting "smaller join" rewrite isn't re-attempted.
    dsirWeightsFrom(bigrams
      .select(col("doc_id"),
        substring(md5(col("g")), 1, 2).as("b"), col("c"))
      .join(docsLang.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("doc_id"), col("lang"), col("b")).agg(sum(col("c")).as("c")),
      targetLang)

  /** Shared tail of both DSIR forms: weights + per-doc score over the
    * `(doc_id, lang, b, c)` bucket pre-aggregate.
    */
  private def dsirWeightsFrom(perDoc: DataFrame, targetLang: String): DataFrame = {
    val wTot = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val maxSafe = Long.MaxValue / DsirScale
    val weights = perDoc
      .groupBy(col("b"))
      .agg(sum(when(col("lang") === targetLang, col("c")).otherwise(0L)).as("cnt_t"),
        sum(col("c")).as("cnt_all"))
      .withColumn("tot_t", sum(col("cnt_t")).over(wTot))
      .withColumn("tot_all", sum(col("cnt_all")).over(wTot))
      .select(col("b"),
        when(col("cnt_all") > maxSafe, raise_error(concat(
          lit(s"dsirWeights: bucket count > Long-safe ceiling $maxSafe " +
            s"for DsirScale=$DsirScale (lower DsirScale or use DECIMAL): "),
          col("b"))))
          .otherwise(
            expr(s"(cnt_t * ${DsirScale}L) div tot_t - (cnt_all * ${DsirScale}L) div tot_all"))
          .as("wsc"))
    perDoc.join(broadcast(weights), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(col("c") * col("wsc")).as("score_scaled"))
      .withColumn("w_avg", col("score_scaled").cast("double") /
        (col("n_bigrams").cast("double") * lit(DsirScale.toDouble)))
  }

  private def q64(s: SparkSession, d: String): DataFrame =
    dsirWeightsFromCounts(Tables.documents(s, d),
      graft.operators.TextAnalysis.stagedBigramCounts(s, d))

  private val o64 =
    s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
       |g AS (
       |  SELECT doc_id, lang, unnest(CASE WHEN len(ws) >= 2 THEN
       |           list_transform(range(1, len(ws)), i -> array_to_string(ws[i:i+1], ' '))
       |         ELSE [] END) AS gm
       |  FROM w),
       |p AS (SELECT doc_id, lang, substr(md5(gm), 1, 2) AS b, count(*) AS c FROM g GROUP BY 1, 2, 3),
       |bk AS (
       |  SELECT b,
       |         CAST(sum(CASE WHEN lang = '$DsirTargetLang' THEN c ELSE 0 END) AS BIGINT) AS cnt_t,
       |         CAST(sum(c) AS BIGINT) AS cnt_all
       |  FROM p GROUP BY b),
       |tt AS (SELECT CAST(sum(cnt_t) AS BIGINT) AS tot_t, CAST(sum(cnt_all) AS BIGINT) AS tot_all FROM bk),
       |wt AS (
       |  SELECT b, (cnt_t * $DsirScale) // tot_t - (cnt_all * $DsirScale) // tot_all AS wsc
       |  FROM bk CROSS JOIN tt)
       |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
       |       CAST(sum(c * wsc) AS BIGINT) AS score_scaled,
       |       CAST(sum(c * wsc) AS DOUBLE) / (CAST(sum(c) AS DOUBLE) * ${DsirScale}.0) AS w_avg
       |FROM p JOIN wt USING (b) GROUP BY doc_id""".stripMargin

  // ---- q67: bloom-prefiltered train-corpus decontamination ---------------
  // The production direction of q43: there the question is "which TEST
  // docs are tainted" (eval hygiene); here it is "which TRAIN docs must
  // be DROPPED before training" — and in production the benchmark side
  // is a small fixed suite while the train side is the 100-TB corpus.
  // That asymmetry is the whole opportunity. q43's shape shuffles every
  // gram occurrence of both sides on gh — right when both splits are
  // corpus-sized fractions, wasteful against a small benchmark. Here
  // the train side is NEVER exchanged: its grams stream out of the
  // scan, a driver-built Bloom filter over the benchmark's distinct
  // grams (broadcast once; no false negatives) discards ~all of them
  // row-locally leaving ~fpp residue, and the survivors hit an exact
  // broadcast join that removes the Bloom's false positives. Output is
  // EXACT — the Bloom is a prune, not an approximation — which is what
  // lets a DuckDB oracle hash-check it (CI re-runs at fpp=0.5 and
  // asserts identical rows). Only the candidate trickle reaches the
  // count-distinct exchange. Headroom note: the exact confirm join
  // bounds the benchmark's gram set by broadcast size; past that,
  // confirm the (tiny) post-Bloom candidate stream with a shuffle join
  // instead — the Bloom's bits-per-key ≪ an exact hash set is what
  // keeps the row-local prune feasible long after an exact broadcast
  // set would not be.

  /** TRAIN docs sharing a long n-gram with any benchmark doc, as
    * `(doc_id, n_shared_grams)` (distinct shared grams; clean docs
    * absent). Both frames carry `(doc_id, text)`; `benchmark` must be
    * broadcast-small (a held-out eval suite). `fpp` trades Bloom bytes
    * for prune selectivity only — any fpp yields identical output.
    */
  def contaminatedTrainDocs(
      train: DataFrame, benchmark: DataFrame, fpp: Double = 0.01): DataFrame =
    contaminatedTrainDocsFromGramStreams(
      train.select(col("doc_id"),
        explode(graft.functions.GramHashesLong(col("text"), 8)).as("gh")),
      benchmark.select(
        explode(graft.functions.GramHashesLong(col("text"), 8)).as("gh")),
      fpp)

  /** [[contaminatedTrainDocs]] over explicit `(doc_id, gh)` /`(gh)`
    * gram streams (round 17): the tail counts DISTINCT shared grams
    * and distincts the benchmark side, so an occurrence stream and the
    * staged distinct artifact yield identical rows — which lets q67
    * ride [[stagedGramHashes]] instead of re-gramming both splits'
    * text on every invocation (the bloom build alone scanned the
    * benchmark text twice: the count sizing it and the aggregate
    * filling it). The train side still never exchanges: artifact scan
    * → row-local Bloom prune → broadcast confirm join.
    */
  def contaminatedTrainDocsFromGramStreams(
      trainGrams: DataFrame, benchGrams0: DataFrame,
      fpp: Double = 0.01): DataFrame = {
    val spark = trainGrams.sparkSession
    val benchGrams = benchGrams0.select(col("gh")).distinct()
    val bf = benchGrams.stat.bloomFilter("gh",
      math.max(benchGrams.count(), 1L), fpp)
    val bfBc = spark.sparkContext.broadcast(bf)
    val inBloom = udf((gh: Long) => bfBc.value.mightContainLong(gh))
    trainGrams
      .select(col("doc_id"), col("gh"))
      .filter(inBloom(col("gh")))
      .join(broadcast(benchGrams), "gh")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gh")).as("n_shared_grams"))
  }

  private def q67(s: SparkSession, d: String): DataFrame = {
    // fixture stand-in for the external benchmark suite: the corpus's
    // own (hash-defined, ~10%) test split. MEASURED (round 17): a
    // staged-gram-artifact form of this query ran 0.63 → 1.25 s at
    // sf0.1 — the distinct-gram artifact is ~20× the compressed corpus
    // bytes (SCALE.md round 14), so three reads of it lose to three
    // native GramHashes passes over the text; grams are an EXPANSION
    // and the round-11 boundary (stage aggregates, recompute
    // expansions) holds here exactly as written. Kept text-form.
    val docs = Tables.documents(s, d).withColumn("split", splitCol)
    contaminatedTrainDocs(
      docs.filter(col("split") === "train"),
      docs.filter(col("split") === "test"))
  }

  private val o67 =
    s"""WITH s AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws, $splitSql AS split
       |  FROM documents),
       |g0 AS (
       |  SELECT doc_id, split, unnest($gramHashSql) AS gh
       |  FROM s),
       |d AS (SELECT DISTINCT doc_id, split, gh FROM g0),
       |tr AS (SELECT doc_id, gh FROM d WHERE split = 'train'),
       |te AS (SELECT DISTINCT gh FROM d WHERE split = 'test')
       |SELECT tr.doc_id, count(*) AS n_shared_grams
       |FROM tr JOIN te USING (gh) GROUP BY 1""".stripMargin

  // ---- q119: per-benchmark contamination report (round 15) ---------------
  // The PUBLISHABLE artifact of the decontamination family: q42/q43/q67
  // detect and drop, but what a dataset card reports (GPT-3 Appendix C;
  // every Llama-class paper since) is per EVAL SET: how many of its
  // docs are dirty against the training corpus, and how much of each
  // doc leaks. Per benchmark (fixture: the test split grouped by
  // source — 20 pseudo-benchmarks): doc count, dirty count (≥1 shared
  // 8-gram), dirty fraction, and the mean leaked-gram fraction. Docs
  // with no leak — and short docs with no grams at all — count in the
  // denominator, which is exactly what the drop-only queries can't
  // report.
  //
  // Determinism: per-doc leak fractions go through INTEGER parts-per-
  // million ((n_leaked·10⁶) div n_grams) — a decimal cast of the raw
  // double would hit rounding-mode ties at power-of-two gram counts
  // (1/128 = 0.0078125 is a 6-decimal half-tie) — and the ppm sum is
  // exact BIGINT on both engines.
  //
  // Scale shape: benchmark grams shuffle once on the gram hash against
  // the DISTINCT train gram set; everything after is benchmark-doc-
  // keyed, and the report is |benchmarks| rows.

  /** Per-benchmark contamination summary: `(source, n_docs, n_dirty,
    * dirty_frac, mean_leak_frac)` of `benchmark` docs (needs `doc_id`,
    * `source`, `text`) against `train`'s 8-gram set.
    */
  def benchmarkContaminationReport(train: DataFrame,
      benchmark: DataFrame): DataFrame =
    benchmarkContaminationReportFromGrams(gramRowsOf(train), benchmark)

  /** [[benchmarkContaminationReport]] against a PRE-BUILT distinct
    * train-gram set — the production supply (round 16): a pipeline
    * that stages `gramRowsOf` once, as Curate does, reports
    * contamination for any number of benchmark suites without ever
    * re-gramming the train corpus. Spec-pinned row-identical to the text form
    * (TrainingDataSpec).
    */
  def benchmarkContaminationReportFromGrams(trainGrams: DataFrame,
      benchmark: DataFrame): DataFrame = {
    // ONE pass over the benchmark gram stream: totals and leaked counts
    // fold in the same aggregation off a left join against the DISTINCT
    // train gram set (gh unique ⇒ the join is 1:1, no fan-out) — the
    // separate semi-join form re-planned the gram explode per branch
    // (ScanBudgetSpec caught 4 documents scans)
    val bg = benchmark.select(col("doc_id"),
        explode(graft.functions.GramHashesLong(col("text"), 8)).as("gh"))
      .dropDuplicates("doc_id", "gh")
    val perDoc = bg
      .join(trainGrams.select(col("gh")).withColumn("hit", lit(1L)),
        Seq("gh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_leaked"))
    benchmark.select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_grams", "n_leaked"))
      .withColumn("ppm", when(col("n_grams") > 0,
        expr("(n_leaked * 1000000L) div n_grams")).otherwise(lit(0L)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_leaked") > 0, 1L).otherwise(0L)).as("n_dirty"),
        sum(col("ppm")).as("ppm_sum"))
      .select(col("source"), col("n_docs"), col("n_dirty"),
        (col("n_dirty").cast("double") / col("n_docs").cast("double"))
          .as("dirty_frac"),
        (col("ppm_sum").cast("double") / lit(1000000.0) /
          col("n_docs").cast("double")).as("mean_leak_frac"))
  }

  private def q119(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).withColumn("split", splitCol)
    benchmarkContaminationReport(
      docs.filter(col("split") === "train"),
      docs.filter(col("split") === "test"))
  }

  private val o119 =
    s"""WITH s AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS ws, $splitSql AS split
       |  FROM documents),
       |g0 AS (SELECT doc_id, source, split, unnest($gramHashSql) AS gh FROM s),
       |d AS (SELECT DISTINCT doc_id, split, gh FROM g0),
       |tr AS (SELECT DISTINCT gh FROM d WHERE split = 'train'),
       |bd AS (SELECT doc_id, count(*) AS n_grams FROM d WHERE split = 'test' GROUP BY 1),
       |lk AS (
       |  SELECT d.doc_id, count(*) AS n_leaked
       |  FROM d JOIN tr USING (gh) WHERE d.split = 'test' GROUP BY 1),
       |bdocs AS (SELECT doc_id, source FROM s WHERE split = 'test'),
       |per AS (
       |  SELECT b.doc_id, b.source,
       |         coalesce(bd.n_grams, 0) AS n_grams,
       |         coalesce(lk.n_leaked, 0) AS n_leaked
       |  FROM bdocs b LEFT JOIN bd USING (doc_id) LEFT JOIN lk USING (doc_id)),
       |pp AS (
       |  SELECT source, n_leaked,
       |         CASE WHEN n_grams > 0 THEN (n_leaked * 1000000) // n_grams
       |              ELSE 0 END AS ppm
       |  FROM per)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN n_leaked > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dirty,
       |       CAST(sum(CASE WHEN n_leaked > 0 THEN 1 ELSE 0 END) AS DOUBLE) /
       |         CAST(count(*) AS DOUBLE) AS dirty_frac,
       |       CAST(CAST(sum(ppm) AS BIGINT) AS DOUBLE) / 1000000.0 /
       |         CAST(count(*) AS DOUBLE) AS mean_leak_frac
       |FROM pp GROUP BY source""".stripMargin

  // ---- q104: surgical span excision (the ExactSubstr REMOVAL action) -----
  // Every decontamination operator so far DROPS whole documents (q43
  // drops test docs, q67 drops train docs) — but Lee et al.'s
  // ExactSubstr recipe, and the Llama-style pipelines that follow it,
  // EXCISE the contaminated span and keep the rest of the document:
  // dropping a 10k-token doc over one leaked 8-gram throws away ~10k
  // clean training tokens. This is the scalpel: every 8-token window
  // of a train doc whose gram hash appears in the benchmark marks its
  // 8 tokens for removal; covered tokens are excised (interval union
  // of the matched windows — the q66/q88 sorted-fold family at
  // REMOVAL granularity) and the cleaned text is emitted alongside
  // how much was cut. Clean docs pass through whole (n_removed = 0).
  //
  // Scale shape: the q67 asymmetry — benchmark grams are a broadcast
  // set (swap in q67's Bloom prefilter when the suite outgrows
  // broadcast), so the train gram stream is pruned by a broadcast
  // join and never exchanged; matched starts are match-bounded (one
  // doc-keyed aggregate over matches only, not the corpus); the
  // excision itself is a row-local lambda over the staged word array.
  // Three documents scans (test grams, train grams, the final docs
  // frame the starts attach to) — the gram branches are gram-VOLUME,
  // the recompute side of the stage-aggregates boundary (the q50/q91
  // precedent), and the starts frame is too small to justify carrying
  // the corpus through a checkpoint.
  //
  // clean_text on BOTH engines derives from the word array
  // (`array_join(kept, ' ')`), never from the raw text — identical
  // reconstruction even if a source ever carried irregular spacing.

  /** Excise benchmark-leaked 8-gram spans from every `train` doc:
    * `(doc_id, n_tokens, n_removed, clean_text)` for ALL train docs
    * (clean ones unchanged). `benchmark` must be broadcast-small.
    *
    * Honest semantics note (the standard ExactSubstr caveat, stated
    * rather than hidden): excision is ONE-PASS against the ORIGINAL
    * token positions. Removing a span joins its two flanks, and the
    * newly adjacent tokens could in principle spell a benchmark gram
    * that the original text never contained; a strict variant would
    * iterate excision to a fixpoint. One pass is what published
    * pipelines run (each pass is a full corpus job, and a
    * junction-formed 8-gram coincidence is vanishingly rare on
    * natural text); rerun the operator on its own output if a
    * contractual zero-overlap guarantee is required — it composes.
    */
  def exciseBenchmarkSpans(train: DataFrame, benchmark: DataFrame): DataFrame = {
    val benchGrams = benchmark
      .select(explode(graft.functions.GramHashesLong(col("text"), 8)).as("gh"))
      .distinct()
    val starts = train
      .select(col("doc_id"),
        posexplode(graft.functions.GramHashesLong(col("text"), 8))
          .as(Seq("p", "gh")))
      .join(broadcast(benchGrams), "gh")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("p").cast("long"))).as("starts"))
    train
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .join(starts, Seq("doc_id"), "left")
      .withColumn("starts",
        coalesce(col("starts"), array().cast("array<bigint>")))
      .withColumn("kept", expr(
        "filter(w, (x, i) -> NOT exists(starts, p -> p <= i AND i < p + 8))"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        (size(col("w")) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  private def q104(s: SparkSession, d: String): DataFrame = {
    // the q67 fixture stand-in: benchmark = the corpus's own test split
    val docs = Tables.documents(s, d).withColumn("split", splitCol)
    exciseBenchmarkSpans(
      docs.filter(col("split") === "train"),
      docs.filter(col("split") === "test"))
  }

  private val o104 =
    s"""WITH s AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws, $splitSql AS split
       |  FROM documents),
       |te AS (
       |  SELECT DISTINCT unnest($gramHashSql) AS gh
       |  FROM (SELECT ws FROM s WHERE split = 'test')),
       |tg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 6),
       |           i -> {'p': i - 1,
       |                 'gh': substr(md5(array_to_string(ws[i:i+7], ' ')), 1, 16)})) AS e
       |  FROM s WHERE split = 'train' AND len(ws) >= 8),
       |st AS (
       |  SELECT doc_id, list_sort(list(e.p)) AS starts
       |  FROM tg JOIN te ON e.gh = te.gh GROUP BY doc_id),
       |x AS (
       |  SELECT s.doc_id, s.ws,
       |         coalesce(st.starts, CAST([] AS BIGINT[])) AS starts
       |  FROM s LEFT JOIN st USING (doc_id) WHERE s.split = 'train'),
       |k AS (
       |  SELECT doc_id, ws, len(ws) AS n_tokens,
       |         list_filter(range(1, len(ws) + 1),
       |           i -> len(list_filter(starts,
       |                  p -> p <= i - 1 AND i - 1 < p + 8)) = 0) AS keep_idx
       |  FROM x)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |       CAST(n_tokens - len(keep_idx) AS BIGINT) AS n_removed,
       |       -- DuckDB's array_to_string([]) is NULL where Spark's
       |       -- array_join([]) is '' — a fully-excised doc must agree
       |       coalesce(array_to_string(list_transform(keep_idx, i -> ws[i]), ' '), '')
       |         AS clean_text
       |FROM k""".stripMargin

  // ---- q69: fixed-SIZE deterministic per-stratum sample ------------------
  // Eval-subset creation: exactly K docs per source, where q47 samples
  // by RATE (its stratum share scales with stratum size — wrong for
  // "give me 25 inspection docs from every source"). The "random"
  // order is a salted md5 ('fix' — distinct from both the split salt
  // and q47's 'smp' so the sample correlates with neither), making the
  // draw reproducible across runs, engines, and corpus growth: a doc's
  // membership changes only if a new doc's hash lands inside the K-th
  // boundary. Scale shape: the rank-≤-K filter pushes down as
  // WindowGroupLimit (q37's pin) — every map partition keeps a bounded
  // per-source top-K heap, so at most K rows per (source × partition)
  // reach the one window exchange; the corpus itself never shuffles.
  private val FixedSampleK = 25

  /** Exactly-K-per-stratum deterministic sample over any frame with
    * `doc_id`, `lang`, `source` (strata smaller than K kept whole).
    */
  def fixedSample(docs: DataFrame, k: Int): DataFrame = {
    val h = md5(concat(lit("fix"), col("doc_id").cast("string")).cast("binary"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(h.asc, col("doc_id").asc)
    docs.select(col("doc_id"), col("lang"), col("source"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  private def q69(s: SparkSession, d: String): DataFrame =
    fixedSample(Tables.documents(s, d), FixedSampleK)

  private val o69 =
    s"""WITH r AS (
       |  SELECT doc_id, lang, source,
       |         row_number() OVER (PARTITION BY source
       |           ORDER BY md5('fix' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |  FROM documents)
       |SELECT doc_id, lang, source FROM r WHERE rk <= $FixedSampleK""".stripMargin

  // ---- q70: temperature-weighted source mixture --------------------------
  // The sampling-weight recipe behind multi-source LLM corpora (GPT-3's
  // mixture table / Llama data recipes): sample source s with probability
  // ∝ n_s^α where α < 1 flattens the mixture, so small high-quality
  // sources are seen more often than their raw token share. α = 1/2 here,
  // so n^α = sqrt(n) — and sqrt is the one libm-adjacent function that IS
  // cross-engine bit-stable (IEEE-754 mandates correctly-rounded sqrt,
  // unlike log/exp — the q37/q56 trap does not apply). The weight is
  // still carried as an INTEGER: w_scaled = floor(sqrt(n_tok) · 1e6) —
  // one exact sqrt, one double multiply, one floor, all bit-identical —
  // so the normalizing sum is an exact BIGINT and the final weight /
  // expected-epochs columns are single double operations on exactly
  // reproducible operands (w_scaled ≤ 1e6·sqrt(2^63) ≈ 3e15 < 2^53).
  //
  // Distributed shape: one documents scan, one per-source aggregation
  // exchange (partial sums map-side), and the normalizing total is a
  // window over the ≤|sources|-row aggregate (the q48 pattern — a
  // separate agg branch would re-plan and re-scan the corpus; one
  // partition holding |sources| rows is exactly what a window is safe
  // for). Output is |sources| rows regardless of corpus size.
  private val TempScale = 1000000L // 1e6: sqrt carried as integer micro-units
  private val TempTokenBudget = 1000000L // demo epoch budget (tokens)

  /** Per-source temperature (α = 0.5) mixture weights over any
    * `(doc_id, source, text)` frame: `(source, n_docs, n_tok, w_scaled,
    * weight, epochs)` where `weight` ∝ sqrt(n_tok) normalized across
    * sources and `epochs` = how many passes over the source a
    * `TempTokenBudget`-token training run at these weights implies
    * (> 1 ⇒ the source repeats; the mixture-design observable).
    */
  def temperatureMixture(docs: DataFrame): DataFrame = {
    val perSource = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"))
      .withColumn("w_scaled",
        floor(sqrt(col("n_tok").cast("double")) * lit(TempScale.toDouble))
          .cast("long"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    perSource
      .withColumn("tot_scaled", sum(col("w_scaled")).over(w))
      .select(col("source"), col("n_docs"), col("n_tok"), col("w_scaled"),
        (col("w_scaled").cast("double") / col("tot_scaled").cast("double"))
          .as("weight"),
        (col("w_scaled").cast("double") / col("tot_scaled").cast("double") *
          lit(TempTokenBudget.toDouble) / col("n_tok").cast("double"))
          .as("epochs"))
  }

  private def q70(s: SparkSession, d: String): DataFrame =
    temperatureMixture(Tables.documents(s, d))

  private val o70 =
    s"""WITH per AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok
       |  FROM documents GROUP BY source),
       |sc AS (
       |  SELECT source, n_docs, n_tok,
       |         CAST(floor(sqrt(CAST(n_tok AS DOUBLE)) * ${TempScale}.0) AS BIGINT) AS w_scaled
       |  FROM per),
       |tot AS (SELECT CAST(sum(w_scaled) AS BIGINT) AS tot_scaled FROM sc)
       |SELECT source, n_docs, n_tok, w_scaled,
       |       CAST(w_scaled AS DOUBLE) / CAST(tot_scaled AS DOUBLE) AS weight,
       |       CAST(w_scaled AS DOUBLE) / CAST(tot_scaled AS DOUBLE) *
       |         ${TempTokenBudget}.0 / CAST(n_tok AS DOUBLE) AS epochs
       |FROM sc CROSS JOIN tot""".stripMargin

  // ---- q118: data-constrained epoch allocation (round 15) ----------------
  // The planning step BETWEEN q70's temperature weights and the budget
  // cuts (q78/q103/q112): when the token budget exceeds a source's
  // unique supply, the source REPEATS — and repeated tokens are worth
  // less than fresh ones (Muennighoff et al. 2023, "Scaling
  // Data-Constrained Language Models": returns on repetition decay
  // roughly geometrically and plateau after a few epochs). This query
  // turns (per-source unique supply, temperature weights, total
  // budget) into the numbers a training plan is actually written
  // from: allocated tokens, full epochs, EFFECTIVE unique-equivalent
  // tokens under a halving-per-epoch value decay, and the allocation's
  // utilization (effective / allocated — low utilization flags budget
  // wasted on an exhausted source that a mixture rebalance should
  // redirect).
  //
  // Determinism discipline (both engines, bit-identical): weights ride
  // q70's floor(sqrt·scale) INTEGER trick; the allocation is integer
  // `div`; the decay term is 0.5^e computed as 1/(1<<e) — EXACT powers
  // of two in binary floating point, never libm pow — with e capped at
  // MaxDecayEpochs (beyond it the geometric tail is below 2⁻¹⁶ of the
  // supply and the remainder term absorbs it). Effective tokens:
  //   eff = u·(2 − 2·d) + rem·d,   d = 0.5^min(full_epochs, cap)
  // (the closed form of u·Σ_{i<e}0.5^i plus the partial epoch's rem
  // tokens valued at the current decay).
  //
  // Scale shape: per-doc token sums ride the STAGED token artifact;
  // source attaches by a thin (doc_id, source) scan; everything after
  // is a ≤|sources|-row frame through the same allow-listed 1-row
  // window q70 uses.
  private[graft] val EpochBudget = 1000000L
  private val MaxDecayEpochs = 16

  /** Per-source epoch allocation of `budget` whitespace tokens over a
    * `(source, n_tok)` supply frame: `(source, n_tok, alloc_tok,
    * full_epochs, eff_tok, utilization)`.
    */
  def epochAllocation(supply: DataFrame, budget: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    // 0.5^min(full_epochs, cap) as 1/(1<<e): exact binary powers of
    // two — identical bits on both engines, no libm pow anywhere
    val d = expr("1.0 / cast(shiftleft(1L, " +
      s"cast(least(full_epochs, ${MaxDecayEpochs}L) as int)) as double)")
    supply
      .withColumn("w_scaled",
        floor(sqrt(col("n_tok").cast("double")) * lit(TempScale.toDouble))
          .cast("long"))
      .withColumn("tot_scaled", sum(col("w_scaled")).over(w))
      .withColumn("alloc_tok",
        expr(s"(w_scaled * ${budget}L) div tot_scaled"))
      .withColumn("full_epochs", expr("alloc_tok div n_tok"))
      .withColumn("rem_tok", col("alloc_tok") - col("full_epochs") * col("n_tok"))
      .select(col("source"), col("n_tok"), col("alloc_tok"), col("full_epochs"),
        (col("n_tok").cast("double") * (lit(2.0) - lit(2.0) * d) +
          col("rem_tok").cast("double") * d).as("eff_tok"),
        ((col("n_tok").cast("double") * (lit(2.0) - lit(2.0) * d) +
          col("rem_tok").cast("double") * d) /
          col("alloc_tok").cast("double")).as("utilization"))
  }

  private def q118(s: SparkSession, d: String): DataFrame =
    epochAllocation(
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .join(TextAnalysis.stagedTokenCounts(s, d)
          .groupBy(col("doc_id")).agg(sum(col("cnt")).as("n")), "doc_id")
        .groupBy(col("source")).agg(sum(col("n")).as("n_tok")),
      EpochBudget)

  private val o118 =
    s"""WITH per AS (
       |  SELECT source,
       |         CAST(sum(len(string_split(coalesce(text, ''), ' '))) AS BIGINT) AS n_tok
       |  FROM documents GROUP BY source),
       |sc AS (
       |  SELECT source, n_tok,
       |         CAST(floor(sqrt(CAST(n_tok AS DOUBLE)) * ${TempScale}.0) AS BIGINT) AS w_scaled
       |  FROM per),
       |tot AS (SELECT CAST(sum(w_scaled) AS BIGINT) AS tot_scaled FROM sc),
       |al AS (
       |  SELECT source, n_tok,
       |         (w_scaled * $EpochBudget) // tot_scaled AS alloc_tok
       |  FROM sc CROSS JOIN tot),
       |ep AS (
       |  SELECT source, n_tok, alloc_tok,
       |         alloc_tok // n_tok AS full_epochs,
       |         alloc_tok - (alloc_tok // n_tok) * n_tok AS rem_tok
       |  FROM al),
       |dc AS (
       |  SELECT *, 1.0 / CAST((CAST(1 AS BIGINT) <<
       |           least(full_epochs, $MaxDecayEpochs)) AS DOUBLE) AS d
       |  FROM ep)
       |SELECT source, n_tok, alloc_tok, full_epochs,
       |       CAST(n_tok AS DOUBLE) * (2.0 - 2.0 * d) +
       |         CAST(rem_tok AS DOUBLE) * d AS eff_tok,
       |       (CAST(n_tok AS DOUBLE) * (2.0 - 2.0 * d) +
       |         CAST(rem_tok AS DOUBLE) * d) /
       |         CAST(alloc_tok AS DOUBLE) AS utilization
       |FROM dc""".stripMargin

  // ---- q118b: epoch allocation in BPE currency (round 16) ----------------
  // q118 allocated WHITESPACE tokens while the spenders (q102/q103/
  // q112, Curate's packer) already price in BPE symbols — the one
  // mixture operator left in the weaker currency. Same kernel, supply
  // composed from the q99 tokenizer off the staged token artifact
  // (bpeApplyFromCounts — the merge table derives once from the same
  // artifact; zero extra corpus scans), so the training plan's
  // allocation and its packer spend the SAME token definition.
  private def q118b(s: SparkSession, d: String): DataFrame =
    epochAllocation(
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .join(TextAnalysis.stagedBpeDoc(s, d) // staged q99 kernel (r17)
          .select(col("doc_id"), col("n_bpe_tokens")), "doc_id")
        .groupBy(col("source")).agg(sum(col("n_bpe_tokens")).as("n_tok")),
      EpochBudget)

  private val o118b =
    s"""WITH ${TextAnalysis.bpeCtes()},
       |per AS (
       |  SELECT d.source, CAST(sum(b.n_bpe_tokens) AS BIGINT) AS n_tok
       |  FROM bpedoc b JOIN documents d USING (doc_id) GROUP BY d.source),
       |sc AS (
       |  SELECT source, n_tok,
       |         CAST(floor(sqrt(CAST(n_tok AS DOUBLE)) * ${TempScale}.0) AS BIGINT) AS w_scaled
       |  FROM per),
       |tot AS (SELECT CAST(sum(w_scaled) AS BIGINT) AS tot_scaled FROM sc),
       |al AS (
       |  SELECT source, n_tok,
       |         (w_scaled * $EpochBudget) // tot_scaled AS alloc_tok
       |  FROM sc CROSS JOIN tot),
       |ep AS (
       |  SELECT source, n_tok, alloc_tok,
       |         alloc_tok // n_tok AS full_epochs,
       |         alloc_tok - (alloc_tok // n_tok) * n_tok AS rem_tok
       |  FROM al),
       |dc AS (
       |  SELECT *, 1.0 / CAST((CAST(1 AS BIGINT) <<
       |           least(full_epochs, $MaxDecayEpochs)) AS DOUBLE) AS d
       |  FROM ep)
       |SELECT source, n_tok, alloc_tok, full_epochs,
       |       CAST(n_tok AS DOUBLE) * (2.0 - 2.0 * d) +
       |         CAST(rem_tok AS DOUBLE) * d AS eff_tok,
       |       (CAST(n_tok AS DOUBLE) * (2.0 - 2.0 * d) +
       |         CAST(rem_tok AS DOUBLE) * d) /
       |         CAST(alloc_tok AS DOUBLE) AS utilization
       |FROM dc""".stripMargin

  // ---- q75: intra-document span dedup (the repetition-removal ACTION) ----
  // q41 SCORES repeated content; this REMOVES it: cut each document
  // into non-overlapping IntraSpanWords-word spans (the tail keeps its
  // remainder — reconstruction is lossless for clean docs), keep only
  // the FIRST occurrence of each span, and reassemble — the C4/CCNet
  // "drop repeated lines within a page" rule over the fixtures' lineless
  // text. Complements the CROSS-doc span rule (q63): a crawler loop
  // that stutters the same paragraph ten times inside one page is
  // invisible to cross-doc dedup and poisons LM training locally.
  //
  // Pure row-local column expressions end to end (split → span slices →
  // md5 per span → first-occurrence filter by array_position →
  // reassemble): ZERO shuffle, embarrassingly parallel at 100 TB, and
  // the oracle mirrors each list op one-for-one (array_position and
  // DuckDB's list_position agree on 1-based first-match). Output
  // carries the cleaned text's hash, not the text — verification
  // compares content identity without doubling corpus bytes through
  // the gate.
  private val IntraSpanWords = 8

  /** Per-doc intra-document span dedup over any `(doc_id, text)` frame:
    * `(doc_id, n_spans, n_dropped, clean_hash)` where spans are
    * consecutive `spanWords`-word windows (tail remainder included) and
    * `clean_hash` fingerprints the first-occurrence-only reassembly.
    */
  def intraDedup(docs: DataFrame, spanWords: Int = IntraSpanWords): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n_spans",
        expr(s"(size(ws) + ${spanWords - 1}) div $spanWords"))
      .withColumn("spans", expr(
        s"transform(sequence(0, cast(n_spans AS int) - 1), " +
          s"i -> concat_ws(' ', slice(ws, i * $spanWords + 1, $spanWords)))"))
      .withColumn("hs", expr("transform(spans, s -> md5(cast(s AS binary)))"))
      .withColumn("kept", expr(
        "filter(sequence(0, cast(n_spans AS int) - 1), " +
          "i -> array_position(hs, element_at(hs, cast(i AS int) + 1)) = i + 1)"))
      .select(col("doc_id"), col("n_spans").cast("long").as("n_spans"),
        (col("n_spans") - size(col("kept"))).cast("long").as("n_dropped"),
        expr("md5(cast(concat_ws(' ', transform(kept, " +
          "i -> element_at(spans, cast(i AS int) + 1))) AS binary))")
          .as("clean_hash"))

  private def q75(s: SparkSession, d: String): DataFrame =
    intraDedup(Tables.documents(s, d))

  private val o75 =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |sp AS (
       |  SELECT doc_id,
       |         (len(ws) + ${IntraSpanWords - 1}) // $IntraSpanWords AS n_spans,
       |         list_transform(range(0, (len(ws) + ${IntraSpanWords - 1}) // $IntraSpanWords),
       |           i -> array_to_string(ws[i * $IntraSpanWords + 1 : i * $IntraSpanWords + $IntraSpanWords], ' ')) AS spans
       |  FROM w),
       |h AS (
       |  SELECT doc_id, n_spans, spans,
       |         list_transform(spans, s -> md5(s)) AS hs
       |  FROM sp),
       |k AS (
       |  SELECT doc_id, n_spans, spans,
       |         list_filter(range(0, n_spans), i -> list_position(hs, hs[i + 1]) = i + 1) AS kept
       |  FROM h)
       |SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
       |       CAST(n_spans - len(kept) AS BIGINT) AS n_dropped,
       |       md5(array_to_string(list_transform(kept, i -> spans[i + 1]), ' ')) AS clean_hash
       |FROM k""".stripMargin

  // ---- q77: packing-efficiency diagnostic (q46's tuning observable) ------
  // Batch-assembly health: next-fit packing wastes the tail of every
  // pack it closes, and the waste rate is THE signal for choosing
  // `capacity` against the corpus's length distribution (q68's
  // quantiles say what lengths exist; this says what the chosen
  // capacity does to them). Per shard: docs, packs, token volume, and
  // fill_frac = tokens / (packs · capacity) — a falling fill_frac after
  // a corpus shift means capacity no longer fits the length mix and
  // training batches carry padding. Scale shape: q46's partition-local
  // packing plus one ≤|shards|-row aggregate; the single double column
  // is one division of exact integers, mirrored shape-for-shape.

  /** Per-shard packing efficiency of [[packSequences]]' output:
    * `(shard, n_docs, n_packs, tok_total, fill_frac)`.
    */
  def packEfficiency(packs: DataFrame, capacity: Long): DataFrame =
    packs.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        (max(col("pack_id")) + lit(1L)).as("n_packs"),
        sum(col("n_tokens")).as("tok_total"))
      .select(col("shard"), col("n_docs"), col("n_packs"), col("tok_total"),
        (col("tok_total").cast("double") /
          (col("n_packs") * lit(capacity)).cast("double")).as("fill_frac"))

  private def q77(s: SparkSession, d: String): DataFrame =
    packEfficiency(
      packSequences(Tables.documents(s, d), PackShards, PackCapacity),
      PackCapacity)

  private val o77 =
    s"""WITH RECURSIVE $wsTokensCte,
       |${nextFitSql(PackCapacity)}
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(max(pack_id) + 1 AS BIGINT) AS n_packs,
       |       CAST(sum(n_tokens) AS BIGINT) AS tok_total,
       |       CAST(sum(n_tokens) AS DOUBLE) /
       |         CAST((max(pack_id) + 1) * $PackCapacity AS DOUBLE) AS fill_frac
       |FROM p GROUP BY shard""".stripMargin

  // ---- q78: exact token-budget prefix selection --------------------------
  // The LAST selection a dataset build runs: "take the best documents
  // until the token budget runs out" — order by (quality DESC, doc_id)
  // and keep the maximal prefix whose token total stays ≤ budget. The
  // naive form is a GLOBAL ordered running sum — one window, one
  // partition, the whole corpus on one task at any scale. This is the
  // two-phase exact equivalent:
  //   1. bucket scores at 1/1000 granularity (floor(quality·1000) —
  //      ≤100k buckets for quality∈[0,100]); per-bucket token totals
  //      are a map-side-combining aggregate, and the running-total
  //      window over that ≤100k-row bucket frame is the established
  //      tiny-frame single-partition window (q48's pattern, benign);
  //   2. every bucket except the ONE the budget boundary lands in is
  //      decided row-locally from the broadcast bucket frame (fully
  //      inside → kept, fully beyond → dropped); only the boundary
  //      bucket — corpus/|buckets| rows, ~1/100k of the corpus — runs
  //      a doc-level window, partitioned by bucket.
  // Identical to the global window by construction: floor is monotone,
  // so cross-bucket order IS score order, equal scores share a bucket,
  // and the within-bucket tiebreak (quality DESC, doc_id) matches the
  // global ordering. Costs a second pass over the scored projection
  // (bucket-totals branch + probe branch — the q37/qualityFilterPreScored
  // trade). The oracle is the naive global window, fine at oracle
  // scale.
  private val TokenBudget = 10000L
  private val BudgetBucketScale = 1000

  /** Keep flags for the highest-quality prefix of `docs` whose token
    * total stays within `budget`: `(doc_id, n_tokens, kept)`. Exact —
    * equals the global (quality DESC, doc_id) running-sum rule.
    */
  def tokenBudgetKeep(docs: DataFrame, budget: Long): DataFrame =
    tokenBudgetKeepScored(
      TextAnalysis.withQuality(docs)
        .select(col("doc_id"), col("n_words").as("n_tokens"), col("quality")),
      budget)

  /** [[tokenBudgetKeep]] over an explicit `(doc_id, n_tokens, quality)`
    * frame — like [[packSequencesFromCounts]], the token currency is
    * the caller's: q78 spends whitespace counts, q103 the q99 BPE
    * counts.
    */
  def tokenBudgetKeepScored(scored0: DataFrame, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the scored projection is referenced by BOTH the bucket-totals
    // branch and the probe branch; it is a doc-volume frame (four
    // scalars per doc), so it is localCheckpoint'ed eagerly (round 13,
    // the stage-aggregates boundary) — one quality/tokenize pass over
    // the corpus instead of two, and the branch reuse no longer leans
    // on exchange reuse that measurably fails across canonically-equal
    // subtrees (the q88/q25 lesson).
    val scored = scored0
      .select(col("doc_id"), col("n_tokens"), col("quality"),
        floor(col("quality") * BudgetBucketScale).as("bkt"))
      .localCheckpoint()
    // bucket frame: per-bucket token totals + running total of all
    // strictly-better buckets (tiny frame; ≤100k rows by construction)
    val bw = Window.orderBy(col("bkt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val buckets = scored.groupBy(col("bkt"))
      .agg(sum(col("n_tokens").cast("long")).as("btok"))
      .withColumn("cum_before", coalesce(sum(col("btok")).over(bw), lit(0L)))
    val marked = scored.join(broadcast(buckets), "bkt")
    val isEdge = col("cum_before") < budget &&
      col("cum_before") + col("btok") > budget
    // non-boundary buckets: decided row-locally, no window at all
    val settled = marked.filter(!isEdge)
      .select(col("doc_id"), col("n_tokens"),
        (col("cum_before") + col("btok") <= budget).as("kept"))
    // the one boundary bucket: doc-level running sum, partitioned by bkt
    val dw = Window.partitionBy(col("bkt"))
      .orderBy(col("quality").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val edge = marked.filter(isEdge)
      .withColumn("run", sum(col("n_tokens").cast("long")).over(dw))
      .select(col("doc_id"), col("n_tokens"),
        (col("cum_before") + col("run") <= budget).as("kept"))
    settled.unionByName(edge)
  }

  private def q78(s: SparkSession, d: String): DataFrame =
    tokenBudgetKeep(Tables.documents(s, d), TokenBudget)

  private val o78 =
    s"""WITH ${TextAnalysis.qualityCtes("")},
       |c AS (
       |  SELECT doc_id, n_words AS n_tokens,
       |         sum(n_words) OVER (ORDER BY quality DESC, doc_id
       |           ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM q)
       |SELECT doc_id, n_tokens, cum <= $TokenBudget AS kept FROM c""".stripMargin

  // ---- q103: BPE-currency token budget (q78 under the q99 definition) ----
  // The budget a trainer actually has is model tokens, not whitespace
  // words: q78's prefix selection re-run with per-doc BPE counts as
  // the spend. Quality stays the ordering (same rule, same buckets);
  // only the currency and the budget constant change. Scale shape:
  // one corpus scan for quality, BPE counts off the staged token
  // artifact, then the q78 two-phase bucket selection (no global
  // doc-level window).
  private val BpeTokenBudget = 50000L

  private def q103(s: SparkSession, d: String): DataFrame = {
    val bpe = TextAnalysis.stagedBpeDoc(s, d) // staged q99 kernel (r17)
      .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens"))
    // quality off the token artifact too (withQualityFromCounts,
    // round 14): bit-identical score, and the query's only documents
    // touch is the two-column (doc_id, n_chars) projection — the
    // full-text tokenize scan was its one linear term at sf10
    tokenBudgetKeepScored(
      TextAnalysis.withQualityFromCounts(s, d)
        .select(col("doc_id"), col("quality"))
        .join(bpe, "doc_id"),
      BpeTokenBudget)
  }

  private val o103 =
    s"""WITH ${TextAnalysis.qualityCtes("")},
       |${TextAnalysis.bpeCtes()},
       |c AS (
       |  SELECT q.doc_id, b.n_bpe_tokens AS n_tokens,
       |         sum(b.n_bpe_tokens) OVER (ORDER BY q.quality DESC, q.doc_id
       |           ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM q JOIN bpedoc b ON q.doc_id = b.doc_id)
       |SELECT doc_id, n_tokens, cum <= $BpeTokenBudget AS kept FROM c""".stripMargin

  // ---- q112: per-language BPE token budget (fertility-aware mixture) -----
  // The multilingual composition q110 motivates: a trainer allocates
  // MODEL-token budgets per language (the mixture is defined in context
  // window space, not document space), and because fertility differs by
  // language (q110's observable — BPE symbols per word), the same
  // budget admits FEWER documents in a high-fertility language. q103's
  // selection rule re-run independently inside every language: keep the
  // highest-quality prefix whose BPE-token total stays within the
  // per-language budget.
  //
  // Scale shape: q103's two-phase bucket selection with every window
  // additionally partitioned by language — the bucket frame is
  // langs×buckets-bounded (broadcast), non-boundary buckets are decided
  // row-locally, and each language's one boundary bucket ranks docs
  // within (lang, bkt). No unpartitioned doc-level window anywhere —
  // the mega-language (an 80%-English corpus) never funnels through one
  // task. Quality and BPE counts both ride the staged token artifact;
  // the only corpus touch is the thin (doc_id, n_chars, lang)
  // projection.
  private[graft] val LangBpeBudget = 5000L

  /** [[tokenBudgetKeepScored]] partitioned by `part`: the budget is
    * spent independently within every partition value. `scored0` =
    * `(doc_id, <part>, n_tokens, quality)`; returns `(doc_id, <part>,
    * n_tokens, kept)`. With a constant `part` column this IS
    * [[tokenBudgetKeepScored]] (spec-pinned differential).
    */
  def tokenBudgetKeepScoredBy(scored0: DataFrame, budget: Long,
      part: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = scored0
      .select(col("doc_id"), col(part), col("n_tokens"), col("quality"),
        floor(col("quality") * BudgetBucketScale).as("bkt"))
      .localCheckpoint()
    val bw = Window.partitionBy(col(part)).orderBy(col("bkt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val buckets = scored.groupBy(col(part), col("bkt"))
      .agg(sum(col("n_tokens").cast("long")).as("btok"))
      .withColumn("cum_before", coalesce(sum(col("btok")).over(bw), lit(0L)))
    val marked = scored.join(broadcast(buckets), Seq(part, "bkt"))
    val isEdge = col("cum_before") < budget &&
      col("cum_before") + col("btok") > budget
    val settled = marked.filter(!isEdge)
      .select(col("doc_id"), col(part), col("n_tokens"),
        (col("cum_before") + col("btok") <= budget).as("kept"))
    val dw = Window.partitionBy(col(part), col("bkt"))
      .orderBy(col("quality").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val edge = marked.filter(isEdge)
      .withColumn("run", sum(col("n_tokens").cast("long")).over(dw))
      .select(col("doc_id"), col(part), col("n_tokens"),
        (col("cum_before") + col("run") <= budget).as("kept"))
    settled.unionByName(edge)
  }

  private def q112(s: SparkSession, d: String): DataFrame = {
    val bpe = TextAnalysis.stagedBpeDoc(s, d) // staged q99 kernel (r17)
      .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens"))
    val scored = TextAnalysis.qualityFromCountsOf(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars"), col("lang")),
        TextAnalysis.stagedTokenCounts(s, d))
      .select(col("doc_id"), col("lang"), col("quality"))
    tokenBudgetKeepScoredBy(scored.join(bpe, "doc_id"), LangBpeBudget, "lang")
  }

  private val o112 =
    s"""WITH ${TextAnalysis.qualityCtes("")},
       |${TextAnalysis.bpeCtes()},
       |dl AS (SELECT doc_id, lang FROM documents),
       |c AS (
       |  SELECT q.doc_id, dl.lang, b.n_bpe_tokens AS n_tokens,
       |         sum(b.n_bpe_tokens) OVER (PARTITION BY dl.lang
       |           ORDER BY q.quality DESC, q.doc_id
       |           ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM q JOIN bpedoc b ON q.doc_id = b.doc_id
       |         JOIN dl ON q.doc_id = dl.doc_id)
       |SELECT doc_id, lang, n_tokens, cum <= $LangBpeBudget AS kept FROM c""".stripMargin

  // ---- q113: output-shard manifest for packed sequences ------------------
  // The delivery step after packing: training infrastructure consumes
  // fixed-size FILES (WebDataset tars, Megatron .bin shards), so the
  // packs q107 emits must be cut into files of ~FileTokens each, in the
  // reproducible shuffled training order (shard ASC, pack_id ASC — the
  // order q107 defines). A pack is never split: file f holds the packs
  // whose preceding running total lies in [f·B, (f+1)·B), so every
  // file's token count is B ± one pack. The manifest (one row per
  // file: packs, docs, tokens) is what a shard writer executes and
  // what an auditor checks against the corpus totals.
  //
  // Scale shape — the classic two-pass distributed prefix sum: pack
  // totals aggregate map-side per (shard, pack_id); per-shard totals
  // (≤256 rows, the md5-prefix alphabet) take a global running offset
  // through ONE tiny window (WindowBoundSpec allow-listed); the
  // within-shard running sum is a window PARTITIONED by shard; the
  // global position is offset + within — no corpus-sized frame ever
  // crosses a single-task window, and the manifest aggregate is
  // output-file-bounded.
  private[graft] val ShardFileTokens = 512L

  /** Hard bound on the manifest's shard alphabet — the size past which
    * the global offset window's single sort partition stops being an
    * "exact-bounded tiny frame" and becomes a straggler. Real shard
    * layouts are ≤256 (2 hex chars); 4096 leaves headroom for 3-hex
    * schemes while still being one comfortable task.
    */
  private[graft] val MaxManifestShards = 4096L

  /** Per-file manifest of a packed frame (`(doc_id, shard, pack_id,
    * n_tokens)` rows, string or numeric shard): `(file_id, n_packs,
    * n_docs, n_tokens)` under the preceding-total-div-budget cut rule.
    */
  def shardManifest(packs: DataFrame, fileTokens: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val packTotals = packs.groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("pk_tokens"))
    val sw = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // STRUCTURAL cardinality guard (round 15): the global offset window
    // is exact-bounded only because shard alphabets are layout
    // constants (q107's 2-hex prefix = ≤256) — a caller feeding
    // high-cardinality shards would silently single-partition. The
    // guard counts shards INSIDE the same window exchange (same empty
    // partition spec + order, one WindowExec, zero extra scans) and
    // raise_error()s past MaxManifestShards — loud failure instead of
    // a silent straggler. It can't pre-empt the window's sort, but the
    // sorted frame is one row per shard, so the failure arrives in the
    // first stage that would have misbehaved.
    val swAll = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = packTotals.groupBy(col("shard"))
      .agg(sum(col("pk_tokens")).as("sh_tokens"))
      .withColumn("n_sh", count(lit(1)).over(swAll))
      .withColumn("sh_before",
        when(col("n_sh") <= lit(MaxManifestShards),
          coalesce(sum(col("sh_tokens")).over(sw), lit(0L)))
          .otherwise(raise_error(concat(
            lit("shardManifest: "), col("n_sh").cast("string"),
            lit(s" distinct shards exceed the $MaxManifestShards cap — " +
              "the global offset window would single-partition; " +
              "pre-bucket shards to a bounded alphabet")))))
      .select(col("shard"), col("sh_before"))
    val pw = Window.partitionBy(col("shard")).orderBy(col("pack_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    packTotals.join(broadcast(offsets), "shard")
      .withColumn("within_before",
        coalesce(sum(col("pk_tokens")).over(pw), lit(0L)))
      .withColumn("file_id",
        expr(s"(sh_before + within_before) div $fileTokens").cast("long"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_packs"), sum(col("n_docs")).as("n_docs"),
        sum(col("pk_tokens")).as("n_tokens"))
  }

  private def q113(s: SparkSession, d: String): DataFrame =
    shardManifest(q107(s, d), ShardFileTokens)

  private val o113 =
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id,
       |         substr(md5('$ShuffleSeed' || CAST(doc_id AS VARCHAR)), 1, 2) AS shard,
       |         len(string_split(text, ' ')) AS n_tokens,
       |         row_number() OVER (
       |           PARTITION BY substr(md5('$ShuffleSeed' || CAST(doc_id AS VARCHAR)), 1, 2)
       |           ORDER BY md5('$ShuffleSeed' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |  FROM documents),
       |${nextFitSql(PackCapacity)},
       |pk AS (
       |  SELECT shard, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(n_tokens) AS BIGINT) AS pk_tokens
       |  FROM p GROUP BY shard, pack_id),
       |cum AS (
       |  SELECT n_docs, pk_tokens,
       |         CAST(coalesce(sum(pk_tokens) OVER (ORDER BY shard, pack_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM pk)
       |SELECT CAST(cum_before // $ShardFileTokens AS BIGINT) AS file_id,
       |       CAST(count(*) AS BIGINT) AS n_packs,
       |       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       |       CAST(sum(pk_tokens) AS BIGINT) AS n_tokens
       |FROM cum GROUP BY 1""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q40_train_split", "deterministic hash train/val/test split stats", q40, Some(o40)),
    GraftQuery("q41_repetition", "repeated-3-gram fraction quality signal", q41, Some(o41)),
    GraftQuery("q42_contamination", "cross-source shared long-n-gram counts", q42, Some(o42)),
    GraftQuery("q43_decontaminate", "test docs sharing long n-grams with train", q43, Some(o43)),
    GraftQuery("q46_pack_sequences", "sharded next-fit token packing", q46, Some(o46)),
    GraftQuery("q51_chunk", "overlapping token-window chunking", q51, Some(o51)),
    GraftQuery("q47_stratified_sample", "deterministic per-language hash sampling", q47, Some(o47)),
    GraftQuery("q48_source_mixture", "per-source token-budget equalization", q48, Some(o48)),
    GraftQuery("q63_dup_span_frac", "cross-doc duplicated-span fraction (Dolma paragraph-dedup rule)", q63, Some(o63)),
    GraftQuery("q64_dsir_weights", "DSIR hashed-bigram importance weights (integer-exact)", q64, Some(o64)),
    GraftQuery("q67_bloom_decontam", "bloom-prefiltered contaminated-train-doc detection", q67, Some(o67)),
    GraftQuery("q69_fixed_sample", "exactly-K-per-stratum deterministic hash sample", q69, Some(o69)),
    GraftQuery("q70_temperature_mixture", "temperature-weighted (α=0.5) source sampling weights", q70, Some(o70)),
    GraftQuery("q75_intra_dedup", "intra-document first-occurrence span dedup (repetition-removal action)", q75, Some(o75)),
    GraftQuery("q77_pack_efficiency", "per-shard next-fit packing fill-fraction diagnostic", q77, Some(o77)),
    GraftQuery("q78_token_budget", "exact token-budget best-first prefix selection (two-phase, no global window)", q78, Some(o78)),
    GraftQuery("q101_cluster_split", "near-dup-coherent train/val/test split (cluster-representative hash key)", q101, Some(o101)),
    GraftQuery("q102_pack_bpe", "next-fit packing under the q99 BPE token currency", q102, Some(o102)),
    GraftQuery("q103_budget_bpe", "token-budget prefix selection under the q99 BPE token currency", q103, Some(o103)),
    GraftQuery("q104_span_excision", "surgical benchmark-span excision from train docs (ExactSubstr removal action)", q104, Some(o104)),
    GraftQuery("q107_shuffled_pack", "seeded reproducible global shuffle + next-fit packing (training-order decorrelation)", q107, Some(o107)),
    GraftQuery("q112_lang_budget", "per-language BPE token budget (fertility-aware quality-prefix selection)", q112, Some(o112)),
    GraftQuery("q113_shard_manifest", "output-file manifest cutting shuffled packs into ~fixed-token files", q113, Some(o113)),
    GraftQuery("q118_epoch_mix", "data-constrained epoch allocation (effective tokens under repetition decay)", q118, Some(o118)),
    GraftQuery("q118b_epoch_mix_bpe", "epoch allocation in BPE currency (the packer's token definition)", q118b, Some(o118b)),
    GraftQuery("q119_benchmark_report", "per-benchmark contamination report (dirty fraction + mean leaked-gram fraction)", q119, Some(o119)))
}
