package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus integrity audit — the dataset-card checks every training-data
  * release runs before shipping: key uniqueness, null/empty payloads,
  * referential integrity between the text and embedding tables, and
  * embedding-dimension conformance. The reference pipeline's
  * schema-alignment stage (clean_data 1.txt: explicit column selection
  * before load) trusts its inputs; at 100 TB with multi-team writers,
  * the audit IS the trust.
  *
  * One-pass shape (the plan you'd want at any scale): each table
  * collapses to a per-key aggregate in a single scan (duplicate and
  * null counts ride the same groupBy), the two aggregates meet in ONE
  * full-outer join on the key, and every check folds out of that join
  * in a single final aggregate — no per-check scan, no union of five
  * subqueries. `stack` unpivots the five counters into the
  * `(check, n_bad)` report rows.
  *
  * Fixture data is clean by construction, so the query PLANTS
  * deterministic violations on both engines (the q52/q81 planted-dirt
  * pattern): a duplicated doc_id, a null-text doc, an orphan doc, an
  * orphan embedding, and a wrong-dimension embedding — every counter is
  * exercised and the driver hash-checks nonzero values, not five zeros.
  */
object Integrity {

  private val Dim = 64

  /** The audit over arbitrary `(doc_id, text)` docs and
    * `(vec_id, embedding)` embeddings: 5 rows `(check, n_bad)`.
    */
  def integrityAudit(docs: DataFrame, embeddings: DataFrame,
      dim: Int = Dim): DataFrame = {
    val dAgg = docs
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("d_rows"),
        sum(when(col("text").isNull ||
          length(trim(col("text"))) === 0, 1L).otherwise(0L)).as("d_null"))
    val eAgg = embeddings
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("e_rows"),
        sum(when(size(col("embedding")) =!= dim, 1L).otherwise(0L))
          .as("e_wrong"))
    dAgg.join(eAgg, col("doc_id") === col("vec_id"), "full_outer")
      .agg(
        sum(when(col("d_rows") > 1, 1L).otherwise(0L)).as("dup_key"),
        coalesce(sum(col("d_null")), lit(0L)).as("null_text"),
        sum(when(col("d_rows").isNotNull && col("e_rows").isNull, 1L)
          .otherwise(0L)).as("doc_no_emb"),
        sum(when(col("e_rows").isNotNull && col("d_rows").isNull, 1L)
          .otherwise(0L)).as("emb_no_doc"),
        coalesce(sum(col("e_wrong")), lit(0L)).as("wrong_dim"))
      .selectExpr(
        """stack(5,
          |  'duplicate_doc_id', dup_key,
          |  'null_or_empty_text', null_text,
          |  'docs_without_embedding', doc_no_emb,
          |  'embeddings_without_doc', emb_no_doc,
          |  'wrong_dim_embedding', wrong_dim) AS (check, n_bad)"""
          .stripMargin)
  }

  /** Fixture docs plus the planted violations (both engines plant the
    * identical rows): doc_id 0 duplicated, -1 with null text, -2 an
    * orphan with no embedding.
    */
  private def plantedDocs(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    base.unionByName(
      base.sparkSession.range(1).select(
        lit(0L).as("doc_id"), lit("planted duplicate").as("text"))
        .unionByName(base.sparkSession.range(1).select(
          lit(-1L).as("doc_id"), lit(null).cast("string").as("text")))
        .unionByName(base.sparkSession.range(1).select(
          lit(-2L).as("doc_id"), lit("planted orphan doc").as("text"))))
  }

  /** Fixture embeddings plus planted violations: -3 an orphan with a
    * valid 64-dim vector, -4 an orphan with a 3-dim vector (counts in
    * BOTH the orphan and wrong-dim checks — the oracle agrees).
    */
  private def plantedEmbeddings(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    base.unionByName(
      base.sparkSession.range(1).select(
        lit(-3L).as("vec_id"),
        array_repeat(lit(0.5f), Dim).as("embedding"))
        .unionByName(base.sparkSession.range(1).select(
          lit(-4L).as("vec_id"),
          array_repeat(lit(0.5f), 3).as("embedding"))))
  }

  private def q89(s: SparkSession, d: String): DataFrame =
    integrityAudit(plantedDocs(s, d), plantedEmbeddings(s, d))

  private val o89 =
    s"""WITH d AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT 0, 'planted duplicate'
       |  UNION ALL SELECT -1, NULL
       |  UNION ALL SELECT -2, 'planted orphan doc'),
       |e AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL SELECT -3, list_transform(range(0, $Dim), x -> CAST(0.5 AS FLOAT))
       |  UNION ALL SELECT -4, list_transform(range(0, 3), x -> CAST(0.5 AS FLOAT))),
       |da AS (
       |  SELECT doc_id, count(*) AS d_rows,
       |         sum(CASE WHEN text IS NULL OR len(trim(text)) = 0
       |                  THEN 1 ELSE 0 END) AS d_null
       |  FROM d GROUP BY doc_id),
       |ea AS (
       |  SELECT vec_id, count(*) AS e_rows,
       |         sum(CASE WHEN len(embedding) <> $Dim THEN 1 ELSE 0 END) AS e_wrong
       |  FROM e GROUP BY vec_id),
       |j AS (
       |  SELECT d_rows, d_null, e_rows, e_wrong
       |  FROM da FULL OUTER JOIN ea ON da.doc_id = ea.vec_id),
       |agg AS (
       |  SELECT
       |    CAST(sum(CASE WHEN d_rows > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_key,
       |    CAST(coalesce(sum(d_null), 0) AS BIGINT) AS null_text,
       |    CAST(sum(CASE WHEN d_rows IS NOT NULL AND e_rows IS NULL
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS doc_no_emb,
       |    CAST(sum(CASE WHEN e_rows IS NOT NULL AND d_rows IS NULL
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS emb_no_doc,
       |    CAST(coalesce(sum(e_wrong), 0) AS BIGINT) AS wrong_dim
       |  FROM j)
       |SELECT 'duplicate_doc_id' AS "check", dup_key AS n_bad FROM agg
       |UNION ALL SELECT 'null_or_empty_text', null_text FROM agg
       |UNION ALL SELECT 'docs_without_embedding', doc_no_emb FROM agg
       |UNION ALL SELECT 'embeddings_without_doc', emb_no_doc FROM agg
       |UNION ALL SELECT 'wrong_dim_embedding', wrong_dim FROM agg""".stripMargin

  // ---- q91: snapshot diff (crawl-to-crawl CDC) ---------------------------
  // The exact complement of the incremental NEAR-dup family (q57/q59
  // ask "is this new doc a near-copy of the index?"): between two
  // corpus snapshots, which doc_ids were ADDED, REMOVED, or CHANGED
  // (same id, different content)? Every recurring-crawl pipeline runs
  // this to budget re-processing — unchanged docs skip the whole
  // curation DAG. Shape: one full-outer join on the key comparing
  // content hashes (md5 — the q22 exact-dedup fingerprint), verdicts
  // fold row-locally. Both sides must reach the join (unchanged can
  // only be decided after the hashes meet), but the shuffle carries
  // (id, 16-byte hash), never the text — the fixed-width discipline.
  //
  // The fixture has ONE documents table, so the "new" snapshot is
  // derived deterministically on both engines (the planted-dirt
  // pattern): doc_id % 7 == 0 dropped (=> removed), doc_id % 11 == 3
  // re-texted (=> changed), and clones shifted by +10⁹ for half the
  // corpus (=> added).

  /** Per-doc verdicts between two `(doc_id, text)` snapshots:
    * `(doc_id, status)` with status in {added, removed, changed};
    * unchanged docs are absent (the q43 reporting contract).
    */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), md5(col("text")).as("oh"))
    val n = newDocs.select(col("doc_id").as("nid"), md5(col("text")).as("nh"))
    o.join(n, col("doc_id") === col("nid"), "full_outer")
      .select(
        coalesce(col("doc_id"), col("nid")).as("doc_id"),
        when(col("oh").isNull, lit("added"))
          .when(col("nh").isNull, lit("removed"))
          .when(col("oh") =!= col("nh"), lit("changed")).as("status"))
      .filter(col("status").isNotNull)
  }

  /** The fixture's deterministic "next crawl" (the planted-dirt rules
    * q91's header documents), shared by q91 and q105 so the two CDC
    * views — exact per-doc verdicts and distribution-level drift —
    * describe the SAME pair of snapshots.
    */
  private[graft] def derivedNewSnapshot(base: DataFrame): DataFrame =
    base
      .filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 3, concat(lit("edited "), col("text")))
          .otherwise(col("text")).as("text"))
      .unionByName(base.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("text")))

  private def q91(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    snapshotDiff(base, derivedNewSnapshot(base))
  }

  private val o91 =
    """WITH old AS (SELECT doc_id, md5(text) AS oh FROM documents),
      |nw AS (
      |  SELECT doc_id,
      |         md5(CASE WHEN doc_id % 11 = 3 THEN 'edited ' || text
      |                  ELSE text END) AS nh
      |  FROM documents WHERE doc_id % 7 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000000, md5(text)
      |  FROM documents WHERE doc_id % 2 = 0),
      |j AS (
      |  SELECT coalesce(old.doc_id, nw.doc_id) AS doc_id, oh, nh
      |  FROM old FULL OUTER JOIN nw ON old.doc_id = nw.doc_id)
      |SELECT doc_id,
      |       CASE WHEN oh IS NULL THEN 'added'
      |            WHEN nh IS NULL THEN 'removed'
      |            WHEN oh <> nh THEN 'changed' END AS status
      |FROM j
      |WHERE oh IS NULL OR nh IS NULL OR oh <> nh""".stripMargin

  // ---- q105: crawl-to-crawl distribution drift (the statistical CDC) -----
  // q91 answers "WHICH docs changed"; this answers "did the CORPUS
  // change in aggregate" — the drift monitor every recurring-crawl
  // pipeline runs before retraining (Wenzek et al.'s CCNet re-crawls;
  // data-quality regression gates): compare the word distributions of
  // two snapshots and report the top movers by absolute probability
  // change. A template rollout, a spam wave, or a scraper regression
  // shows up here long before any per-doc verdict aggregates it.
  //
  // Arithmetic is the q56/q64 integer discipline: per-word scaled
  // probability p̂ = (cnt · DriftScale) div total per snapshot (both
  // operands nonnegative, so Spark's truncating `div` and DuckDB's
  // floor `//` agree), dp_scaled = p̂_new − p̂_old as an exact BIGINT;
  // ordering is (|dp| desc, w asc) — word uniqueness makes the top-k
  // cut deterministic. Overflow is ENFORCED like q56: a word count
  // above Long.MaxValue/DriftScale raises instead of wrapping.
  //
  // Distributed shape: each snapshot collapses to its (w, cnt)
  // vocabulary table map-side (Heaps-law bounded); the full-outer join
  // and both 1-row totals move only vocab rows, totals re-attach as a
  // broadcast cross join (a window-over-lit(1) on a VOCAB-sized frame
  // would be the single-partition anti-pattern — q64 can afford it
  // only because its frame is ≤256 rows by construction); top-k closes
  // as TakeOrderedAndProject. The old side reads the staged token
  // artifact (its vocabulary aggregate IS the snapshot distribution);
  // the new side derives from [[derivedNewSnapshot]], with text
  // coalesced to '' so a null-text doc contributes the same [""] token
  // row as the artifact's contract.
  private val DriftScale = 1000000000L
  private val DriftTopK = 50

  /** Top-[[DriftTopK]] word-probability movers between two corpus-level
    * `(w, cnt)` word-count tables: `(w, cnt_old, cnt_new, dp_scaled)`.
    */
  def distDrift(oldCounts: DataFrame, newCounts: DataFrame): DataFrame = {
    val o = oldCounts.select(col("w").as("wo"), col("cnt").as("cnt_old"))
    val n = newCounts.select(col("w").as("wn"), col("cnt").as("cnt_new"))
    val j = o.join(n, col("wo") === col("wn"), "full_outer")
      .select(coalesce(col("wo"), col("wn")).as("w"),
        coalesce(col("cnt_old"), lit(0L)).as("cnt_old"),
        coalesce(col("cnt_new"), lit(0L)).as("cnt_new"))
    val tot = oldCounts.agg(sum(col("cnt")).as("tot_old"))
      .crossJoin(newCounts.agg(sum(col("cnt")).as("tot_new")))
    val maxSafe = Long.MaxValue / DriftScale
    j.crossJoin(broadcast(tot))
      .select(col("w"), col("cnt_old"), col("cnt_new"),
        when(greatest(col("cnt_old"), col("cnt_new")) > maxSafe,
          raise_error(concat(
            lit(s"distDrift: word count > Long-safe ceiling $maxSafe " +
              s"for DriftScale=$DriftScale (lower DriftScale or use DECIMAL): "),
            col("w"))))
          .otherwise(expr(
            s"(cnt_new * ${DriftScale}L) div tot_new - (cnt_old * ${DriftScale}L) div tot_old"))
          .as("dp_scaled"))
      .orderBy(abs(col("dp_scaled")).desc, col("w").asc)
      .limit(DriftTopK)
  }

  private def q105(s: SparkSession, d: String): DataFrame = {
    val oldCounts = TextAnalysis.stagedTokenCounts(s, d)
      .groupBy(col("w")).agg(sum(col("cnt")).as("cnt"))
    val newCounts = derivedNewSnapshot(
      Tables.documents(s, d).select(col("doc_id"), col("text")))
      .select(explode(split(coalesce(col("text"), lit("")), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    distDrift(oldCounts, newCounts)
  }

  private val o105 =
    s"""WITH oldc AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(string_split(coalesce(text, ''), ' ')) AS w
       |    FROM documents) GROUP BY w),
       |newsnap AS (
       |  SELECT CASE WHEN doc_id % 11 = 3 THEN 'edited ' || text
       |              ELSE text END AS text
       |  FROM documents WHERE doc_id % 7 <> 0
       |  UNION ALL
       |  SELECT text FROM documents WHERE doc_id % 2 = 0),
       |newc AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(string_split(coalesce(text, ''), ' ')) AS w
       |    FROM newsnap) GROUP BY w),
       |tot AS (
       |  SELECT (SELECT sum(cnt) FROM oldc) AS tot_old,
       |         (SELECT sum(cnt) FROM newc) AS tot_new),
       |j AS (
       |  SELECT coalesce(oldc.w, newc.w) AS w,
       |         coalesce(oldc.cnt, 0) AS cnt_old,
       |         coalesce(newc.cnt, 0) AS cnt_new
       |  FROM oldc FULL OUTER JOIN newc ON oldc.w = newc.w)
       |SELECT w, CAST(cnt_old AS BIGINT) AS cnt_old,
       |       CAST(cnt_new AS BIGINT) AS cnt_new,
       |       CAST((cnt_new * $DriftScale) // tot_new
       |          - (cnt_old * $DriftScale) // tot_old AS BIGINT) AS dp_scaled
       |FROM j CROSS JOIN tot
       |ORDER BY abs((cnt_new * $DriftScale) // tot_new
       |           - (cnt_old * $DriftScale) // tot_old) DESC, w ASC
       |LIMIT $DriftTopK""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q89_integrity_audit",
      "one-pass corpus integrity audit (keys, nulls, referential, dims)",
      q89, Some(o89)),
    GraftQuery("q91_snapshot_diff",
      "crawl-to-crawl snapshot diff: added/removed/changed by content hash",
      q91, Some(o91)),
    GraftQuery("q105_dist_drift",
      "crawl-to-crawl word-distribution drift: top movers by scaled probability change",
      q105, Some(o105)))
}
