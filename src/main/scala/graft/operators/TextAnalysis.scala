package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: language ID
  * (marker-word heuristic), quality scoring, token counting, and document
  * fingerprinting. All pure column expressions — codegen-friendly, no
  * UDFs, embarrassingly parallel at 100 TB (no shuffle at all).
  */
object TextAnalysis {

  /** Per-language marker-word sets for the n-gram/stopword language-ID
    * heuristic. Ordered — ties resolve to the earliest entry.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("batch", "stream", "hash"),
    "en" -> Seq("the", "data", "row"),
    "es" -> Seq("table", "scan", "fast"),
    "fr" -> Seq("join", "merge", "sort"),
    "zh" -> Seq("query", "window", "filter"))

  private def wordSet(text: Column): Column = array_distinct(split(text, " "))

  /** The `(doc_id, w, cnt)` token pre-aggregate, staged to parquet once
    * per session ([[graft.Stage]]) — the round-13 application of the
    * stage-aggregates discipline (`Dedup.stagedClusters`) to the
    * TOKENIZED CORPUS, the artifact every production text pipeline
    * materializes exactly once. Six registry branches each re-ran the
    * same explode + Zipf-skewed (doc_id, w) aggregate from raw text
    * (the 3-scan family, ScanBudgetSpec's old ceiling); consumers now
    * read this frame instead — their doc-frequency tables, n_docs
    * totals and per-doc token sums all DERIVE from it (every doc has
    * ≥1 row here: text is coalesced to '' before the split — round-13
    * ADVICE: `split(NULL)` explodes to NOTHING, which would silently
    * drop a NULL-text doc from every consumer's n_docs while the
    * DuckDB oracle counts the documents table directly — and `split`
    * of an empty string yields [""], so distinct doc_ids in this frame
    * equal the documents table's even on a dirty corpus). q29 stays the
    * honest self-contained tokenize benchmark, exactly as q23/q44 stay
    * the candidate/clustering benchmarks while the stage-reading
    * queries share their artifacts.
    */
  private[graft] def stagedTokenCounts(s: SparkSession, d: String): DataFrame =
    graft.Stage.session(s, "graft-tokens", d)(
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(split(coalesce(col("text"), lit("")), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt")))

  // ---- incremental token-count state --------------------------------------
  // The (doc_id, w, cnt) artifact is a PURE PER-DOC function of text,
  // so a grown corpus only needs its NEW docs tokenized — while the
  // fingerprint-keyed session stage above re-tokenizes the whole corpus
  // whenever the dir changes (the right behavior for ad-hoc registry
  // reads, the wrong cost for a pipeline that re-runs on every
  // snapshot: the full tokenize was the second-largest recompute in
  // Curate's dedup stage after the cluster loop). The store is a
  // graft.VersionedState of two union tables, tokens and ids (each
  // version one batch): a crash at any point replays the batch into an
  // OVERWRITE of the same version (the version is derived from the
  // un-flipped pointer), so no duplicate rows can ever enter the union.
  // Reads union the parts: no fold needed because a doc's rows never
  // change, and no mass rule — only the part count costs a read.

  private def tokenState(dir: String): graft.VersionedState =
    new graft.VersionedState(dir, Seq(
      graft.VersionedState.Union("tokens",
        "doc_id BIGINT, w STRING, cnt BIGINT"),
      graft.VersionedState.Union("ids", "doc_id BIGINT")))

  /** The stored token-count artifact: union of all committed parts. */
  def readTokenState(s: SparkSession, dir: String): DataFrame =
    tokenState(dir).read(s, "tokens")

  private def tokenCountsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(split(coalesce(col("text"), lit("")), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))

  /** Bring the persistent token artifact up to date with a corpus
    * snapshot and return it: first call tokenizes everything; later
    * calls tokenize ONLY the docs absent from the id roster (exact —
    * the artifact is row-local per doc, so incremental append has no
    * divergence corner at all). Same snapshot ⇒ no version bump.
    * `maxParts` counts the base part: that many live parts compact
    * into one.
    */
  def syncTokenState(s: SparkSession, dir: String, docs: DataFrame,
      maxParts: Int = graft.VersionedState.MaxDeltaVersions): DataFrame =
    graft.StateFiles.withWriterLock(dir) {
      syncTokenLocked(s, dir, docs, maxParts)
    }

  // the whole read-pointer → write-part → flip critical section runs
  // under the dir's exclusive writer lock: two unserialized syncs of
  // ONE token state (two `Curate --state` runs, say) would compute the
  // same next version and silently drop one batch's rows (same
  // contract as the cluster state)
  private def syncTokenLocked(s: SparkSession, dir: String, docs: DataFrame,
      maxParts: Int): DataFrame = {
    val state = tokenState(dir)
    val batch = docs.select(col("doc_id"), col("text"))
      .join(state.read(s, "ids"), Seq("doc_id"), "left_anti")
    // a first sync commits even an empty corpus: no probe job
    if (state.initialized && batch.isEmpty) return readTokenState(s, dir)
    state.commit(s, maxDeltas = maxParts - 1) { v =>
      tokenCountsOf(batch).write.mode("overwrite")
        .parquet(state.path("tokens", v))
      batch.select("doc_id").write.mode("overwrite")
        .parquet(state.path("ids", v))
    }
    readTokenState(s, dir)
  }

  /** The `(doc_id, g, c)` ADJACENT-BIGRAM pre-aggregate, staged once per
    * session ([[graft.Stage]]) — the round-14 extension of the staged
    * token artifact to word ORDER. The bigram stream is the second
    * corpus-wide tokenization every text pipeline materializes (n-gram
    * LMs, DSIR features, merge statistics), and before this stage the
    * order-sensitive family each re-ran the same WordGrams explode +
    * (doc_id, g) aggregate from raw text: q71's LM pre-aggregate and
    * q64's hashed-feature counts are both exact derivations of this
    * frame (q64's bucket id is `substr(md5(g), 1, 2)` over the DISTINCT
    * per-doc bigrams, weighted by `c` — same integers as hashing every
    * occurrence). q38 stays the honest self-contained bigram-count
    * benchmark, exactly as q29 stays the tokenize benchmark beside
    * [[stagedTokenCounts]]. Semantics note: docs with fewer than two
    * words have NO rows here (WordGrams of a one-word text is empty) —
    * that absence IS the documented q71/q64 contract, so unlike the
    * token artifact there is no null-coalesce requirement; n_docs-style
    * totals must never be derived from this frame (use the token
    * artifact, whose row set covers every document).
    */
  private[graft] def stagedBigramCounts(s: SparkSession, d: String): DataFrame =
    graft.Stage.session(s, "graft-bigrams", d)(
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.functions.WordGrams(col("text"), 2)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c")))

  // ---- q27: language identification (marker-hit argmax) ------------------
  private def q27(s: SparkSession, d: String): DataFrame = {
    val withScores = LangMarkers.foldLeft(
      Tables.documents(s, d).select(col("doc_id"), col("lang"), wordSet(col("text")).as("ws"))) {
      case (df, (code, markers)) =>
        df.withColumn(s"hits_$code",
          size(array_intersect(col("ws"), array(markers.map(lit): _*))))
    }
    // Ordered argmax: first language whose hit count is >= all later ones.
    val pred = LangMarkers.map(_._1).foldRight(lit("und"): Column) {
      case (code, elseCol) =>
        val ge = LangMarkers.map(_._1).filter(_ != code)
          .map(other => col(s"hits_$code") >= col(s"hits_$other"))
          .reduce(_ && _)
        when(ge, lit(code)).otherwise(elseCol)
    }
    withScores
      .withColumn("pred_lang", pred)
      .select(col("doc_id"), col("lang"), col("pred_lang"),
        (col("lang") === col("pred_lang")).as("agrees"))
  }

  private val o27 = {
    val scoreCols = LangMarkers.map { case (code, markers) =>
      val lst = markers.map(m => s"'$m'").mkString(", ")
      s"len(list_intersect(ws, [$lst])) AS hits_$code"
    }.mkString(",\n         ")
    val codes = LangMarkers.map(_._1)
    val cases = codes.map { code =>
      val conds = codes.filter(_ != code)
        .map(o => s"hits_$code >= hits_$o").mkString(" AND ")
      s"WHEN $conds THEN '$code'"
    }.mkString("\n              ")
    s"""WITH w AS (
       |  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS ws
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id, lang,
       |         $scoreCols
       |  FROM w),
       |p AS (
       |  SELECT doc_id, lang,
       |         CASE $cases
       |              ELSE 'und' END AS pred_lang
       |  FROM sc)
       |SELECT doc_id, lang, pred_lang, lang = pred_lang AS agrees FROM p""".stripMargin
  }

  // ---- q28: quality scoring ----------------------------------------------
  // Length, mean word length, type-token (uniqueness) ratio, stopword
  // ratio → weighted quality in [0, 100]. Same expression shape both
  // engines → bit-identical doubles.
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Adds the q28 quality metrics to a documents frame (keeps `keep`'s
    * columns alongside). Shared by q28 and the q45 percentile filter so
    * the score definition cannot drift between them.
    */
  private[graft] def withQuality(docs: DataFrame, keep: String*): DataFrame =
    scoreQuality(docs
      .select((keep.map(col) :+ col("doc_id") :+ col("n_chars") :+
        split(col("text"), " ").as("w")): _*))

  /** The q28 scoring chain over a frame that already stages the word
    * array as `w` (plus `n_chars`). Split out so `qualityEnsemble` can
    * score its shared tokenized frame with the EXACT q28 kernel —
    * zero drift by construction — without re-splitting the text.
    */
  private[graft] def scoreQuality(staged: DataFrame): DataFrame =
    qualityRatioCols(staged
      .withColumn("n_words", size(col("w")))
      .withColumn("n_uniq", size(array_distinct(col("w"))))
      .withColumn("n_stop", size(filter(col("w"), x => x.isInCollection(Stopwords)))))

  /** The ratio/quality half of the q28 chain over a frame that already
    * carries the INTEGER stats (`n_words`, `n_uniq`, `n_stop`,
    * `n_chars`) — one definition for both supplies (word-array counts
    * in [[scoreQuality]], token-artifact counts in
    * [[withQualityFromCounts]]): the doubles are bit-identical because
    * the integers are equal and the expression shape is shared.
    */
  private def qualityRatioCols(stats: DataFrame): DataFrame =
    stats
      .withColumn("avg_word_len", col("n_chars") / (lit(1.0) + col("n_words")))
      .withColumn("uniq_ratio", col("n_uniq") / (lit(1.0) + col("n_words")))
      .withColumn("stop_ratio", col("n_stop") / (lit(1.0) + col("n_words")))
      .withColumn("quality",
        lit(100.0) * (col("uniq_ratio") * lit(0.5) +
          (lit(1.0) / (lit(1.0) + col("stop_ratio"))) * lit(0.3) +
          least(lit(1.0), col("n_words") / lit(100.0)) * lit(0.2)))

  /** q28 quality off the STAGED token artifact plus a thin `(doc_id,
    * n_chars)` projection (round 14): every quality input except
    * n_chars is a word-multiset statistic the `(doc_id, w, cnt)`
    * artifact already holds — n_words = Σcnt, n_uniq = row count,
    * n_stop = Σcnt over stopword rows — so consumers that need ONLY
    * the score (q103's ordering) replace the full-text tokenize scan
    * with artifact reads + a two-column columnar scan. Value-identical
    * to [[withQuality]] (same integers through [[qualityRatioCols]]'
    * shared expressions; spec-pinned bit-exact in TokenCountFormsSpec).
    */
  private[graft] def withQualityFromCounts(s: SparkSession, d: String): DataFrame =
    qualityFromCountsOf(
      Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
      stagedTokenCounts(s, d))

  /** Frame-level half of [[withQualityFromCounts]] (spec seam):
    * `docsThin` = `(doc_id, n_chars)`, `counts` = `(doc_id, w, cnt)`.
    */
  private[graft] def qualityFromCountsOf(docsThin: DataFrame,
      counts: DataFrame): DataFrame =
    qualityRatioCols(
      docsThin.join(counts
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_words"),
          count(lit(1)).as("n_uniq"),
          sum(when(col("w").isInCollection(Stopwords), col("cnt"))
            .otherwise(lit(0L))).as("n_stop")),
        "doc_id"))

  private def q28(s: SparkSession, d: String): DataFrame =
    withQuality(Tables.documents(s, d))
      .select("doc_id", "n_words", "n_uniq", "n_stop",
        "avg_word_len", "uniq_ratio", "stop_ratio", "quality")

  /** DuckDB twin of [[withQuality]], shared by o28/o45 so the score
    * definition cannot drift. `extra` injects pass-through columns
    * (e.g. "lang,").
    */
  private[operators] def qualityCtes(extra: String, p: String = ""): String = {
    val lst = Stopwords.map(w => s"'$w'").mkString(", ")
    s"""${p}w AS (
       |  SELECT doc_id, $extra n_chars, string_split(text, ' ') AS w FROM documents),
       |${p}m AS (
       |  SELECT doc_id, $extra n_chars,
       |         len(w) AS n_words,
       |         len(list_distinct(w)) AS n_uniq,
       |         len(list_filter(w, x -> x IN ($lst))) AS n_stop
       |  FROM ${p}w),
       |${p}r AS (
       |  SELECT doc_id, $extra n_words, n_uniq, n_stop,
       |         n_chars / (1.0 + n_words) AS avg_word_len,
       |         n_uniq / (1.0 + n_words) AS uniq_ratio,
       |         n_stop / (1.0 + n_words) AS stop_ratio
       |  FROM ${p}m),
       |${p}q AS (
       |  SELECT doc_id, $extra n_words, n_uniq, n_stop, avg_word_len,
       |         uniq_ratio, stop_ratio,
       |         100.0 * (uniq_ratio * 0.5 + (1.0 / (1.0 + stop_ratio)) * 0.3 +
       |                  least(1.0, n_words / 100.0) * 0.2) AS quality
       |  FROM ${p}r)""".stripMargin
  }

  private val o28 =
    s"""WITH ${qualityCtes("")}
       |SELECT doc_id, n_words, n_uniq, n_stop, avg_word_len, uniq_ratio, stop_ratio, quality
       |FROM q""".stripMargin

  // ---- q45: per-language quality percentile filter -----------------------
  // The corpus-curation step after scoring: keep the top half of each
  // language by quality. percent_rank (with a doc_id tiebreak on
  // bit-identical doubles) is exact and engine-portable. The window
  // partitions by language — fine while per-language ranking is the
  // semantic; the mega-language skew path at 100 TB is the documented
  // aggregate alternative (approx-quantile threshold per language,
  // broadcast back), which trades exact ranks for a bounded-size
  // threshold table.
  private val QualityKeepFrac = 0.5

  /** Top `keepFrac` of each language by quality, over any frame carrying
    * `doc_id`, `text`, `lang`, `n_chars` (the q45 kernel, reusable by
    * pipeline composition).
    */
  def qualityFilter(docs: DataFrame, keepFrac: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    withQuality(docs, "lang")
      .select(col("doc_id"), col("lang"), col("quality"))
      .withColumn("pr", percent_rank().over(w))
      .filter(col("pr") <= keepFrac)
  }

  /** Scale-safe variant of [[qualityFilter]] — the mega-language skew
    * path — over an already-scored `(doc_id, lang, quality)` frame.
    * `percent_rank`'s window sorts each language on ONE partition, so a
    * mega-language (English is ~half of any web corpus) becomes a
    * straggler at 100 TB. This form replaces the window with a
    * per-language `approx_percentile` THRESHOLD — a map-side-combining
    * sketch aggregate, so nothing larger than the ≤|langs|-row threshold
    * table ever reaches a single reducer — broadcast-joined back onto
    * the scored docs. The force-broadcast is safe here because the build
    * side is one row per LANGUAGE (hundreds at web scale). Boundary docs
    * within sketch error of the threshold may differ from the exact
    * window (agreement is CI-asserted ≥95% at fixture scale); the exact
    * form remains the q45 oracle. A pipeline that persists the
    * (row-local, deterministic) quality score once — Curate stage 1
    * writes it into its artifacts — gates later stages here without
    * re-reading and re-tokenizing the text.
    */
  def qualityFilterPreScored(scored: DataFrame, keepFrac: Double,
      accuracy: Int = 10000): DataFrame = {
    val thresholds = scored
      .groupBy(col("lang"))
      .agg(expr(s"approx_percentile(quality, ${1.0 - keepFrac}, $accuracy)")
        .as("q_min"))
    scored.join(broadcast(thresholds), "lang")
      .filter(col("quality") >= col("q_min"))
      .select(col("doc_id"), col("lang"), col("quality"))
  }

  private def q45(s: SparkSession, d: String): DataFrame =
    qualityFilter(Tables.documents(s, d), QualityKeepFrac)

  private val o45 =
    s"""WITH ${qualityCtes("lang,")},
       |ranked AS (
       |  SELECT doc_id, lang, quality,
       |         percent_rank() OVER (PARTITION BY lang
       |           ORDER BY quality DESC, doc_id ASC) AS pr
       |  FROM q)
       |SELECT doc_id, lang, quality, pr FROM ranked WHERE pr <= $QualityKeepFrac""".stripMargin

  // ---- q29: token counting (whitespace + regex tokenizer) ----------------
  private val TokenPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  private def q29(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(split(col("text"), " ")).as("ws_tokens"),
      size(expr(s"regexp_extract_all(text, '$TokenPattern', 0)")).as("re_tokens"))

  private val o29 =
    s"""SELECT doc_id,
       |       len(string_split(text, ' ')) AS ws_tokens,
       |       len(regexp_extract_all(text, '$TokenPattern', 0)) AS re_tokens
       |FROM documents""".stripMargin

  // ---- q30: document fingerprinting --------------------------------------
  // Three canonical-form fingerprints: md5 of whitespace-normalized
  // text, md5 of the sorted distinct word set (order-insensitive
  // near-dup key), and a Karp-Rabin rolling polynomial hash
  // (acc*31 + byte mod 1e9+7) — the incremental-hash form used for
  // content-defined chunking.
  private def q30(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(regexp_replace(lower(col("text")), "\\s+", " ").cast("binary")).as("fp_norm"),
      md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " ")
        .cast("binary")).as("fp_wordset"),
      expr("aggregate(transform(sequence(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)), " +
        "CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + c) % 1000000007)").as("fp_rolling"))

  private val o30 =
    """SELECT doc_id,
      |       md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp_norm,
      |       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp_wordset,
      |       list_reduce(list_concat([CAST(0 AS BIGINT)],
      |                   list_transform(range(1, strlen(text) + 1),
      |                                  i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
      |                   (a, b) -> (a * 31 + b) % 1000000007) AS fp_rolling
      |FROM documents""".stripMargin

  // ---- q81: Unicode text normalization (pre-tokenization hygiene) --------
  // The CCNet/Dolma-style cleanup stage every web corpus runs BEFORE
  // tokenization or dedup: NFC canonical composition (so `e`+combining
  // acute and precomposed `é` fingerprint identically), unicode spaces
  // mapped to ASCII space, zero-width characters and soft hyphens
  // stripped, CRLF/CR folded to LF, C0/DEL controls (except tab and
  // newline) dropped, horizontal-whitespace runs collapsed, and the
  // result trimmed. Without it, byte-level dedup (q22/q30) and token
  // counting (q29) silently treat visually-identical documents as
  // distinct. Scale shape: pure row-local column expressions — the NFC
  // leg is the native [[graft.functions.NfcNormalize]] (ASCII fast
  // path returns the input buffer untouched), the rest are codegen'd
  // regexp_replace — zero shuffle, embarrassingly parallel.
  //
  // The regex classes stay in the common subset of Java regex and RE2
  // (`\x{...}` character classes, no lookarounds), and the chain ORDER
  // is part of the contract: the zero-width/control strips and CR fold
  // run BEFORE NFC, because a stripped codepoint can sit between a
  // base and its combining mark (`e`+ZWSP+U+0301) — composing first
  // would leave the re-exposed decomposed pair in the output, breaking
  // idempotence and the "output is NFC" guarantee. NFC itself can
  // never produce characters of the stripped or space classes (no
  // canonical decomposition maps into them), so stripping first loses
  // nothing. After NFC: space-map before collapse (so NBSP runs
  // collapse with ASCII runs), trim last.
  private val UnicodeSpaceClass =
    "[\\x{00A0}\\x{1680}\\x{2000}-\\x{200A}\\x{202F}\\x{205F}\\x{3000}]"
  private val ZeroWidthClass = "[\\x{200B}-\\x{200D}\\x{FEFF}\\x{00AD}]"
  private val ControlClass =
    "[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}\\x{007F}]"

  /** The five-stage regexp form of the chain — retained as the
    * EXECUTABLE SPEC: the DuckDB oracle replays these exact stages, and
    * a ScalaCheck property pins the fused kernel against this column
    * over adversarial unicode. Not the production entry point.
    */
  private[graft] def normalizeTextChain(text: Column): Column = {
    val noZw = regexp_replace(text, ZeroWidthClass, "")
    val noCtl = regexp_replace(noZw, ControlClass, "")
    val lf = regexp_replace(noCtl, "\\r\\n?", "\n")
    val nfc = graft.functions.NfcNormalize(lf)
    val spaced = regexp_replace(nfc, UnicodeSpaceClass, " ")
    trim(regexp_replace(spaced, "[ \\t]+", " "))
  }

  /** The full normalization chain as one composable column. Idempotent:
    * the output contains only NFC text, ASCII spaces, and LF — every
    * later pass is the identity (spec- and property-asserted). Fused
    * into the native [[graft.functions.NormalizeText]] kernel: one
    * detection scan + at most two char passes where the regexp form
    * scans and re-allocates five times per row; clean ASCII rows return
    * the input buffer untouched.
    */
  def normalizeText(text: Column): Column =
    graft.functions.NormalizeText(text)

  // The fixture text is clean single-spaced ASCII (normalization is the
  // identity on it), so the query plants deterministic unicode dirt on
  // both sides first — q52's planted-PII pattern: NBSP padding, a
  // zero-width space, decomposed `cafe`+U+0301 / `nai`+U+0308+`ve`,
  // tab runs, CRLF, a BEL control, a trailing ideographic space, and
  // the hard NFC families the easy cases don't reach — Hangul jamo
  // composing ALGORITHMICALLY to a precomposed LVT syllable, the
  // ANGSTROM/OHM singleton replacements, a double-diacritic pair in
  // both mark orders (canonical REORDERING must yield one form), and
  // the fi ligature (compat-only: NFC must NOT touch it).
  // The normalized TEXT itself is emitted (not a hash), so the driver
  // byte-compares the actual unicode output of both engines.
  private def q81(s: SparkSession, d: String): DataFrame = {
    val dirty = concat(
      lit("\u00A0\u00A0"), col("text"),
      lit("\u200B cafe\u0301\t\tnai\u0308ve\r\n\u0007end \u1100\u1161\u11A8 \u212B\u2126 e\u0323\u0301e\u0301\u0323 \u0418\u0306\uFB01\u3000"))
    Tables.documents(s, d)
      .select(col("doc_id"), dirty.as("t"))
      .select(
        col("doc_id"),
        length(col("t")).as("n_dirty"),
        normalizeText(col("t")).as("norm_text"))
      .withColumn("n_norm", length(col("norm_text")))
  }

  private val NormalizeSqlChain =
    s"""trim(regexp_replace(regexp_replace(nfc_normalize(
       |         regexp_replace(regexp_replace(regexp_replace(t,
       |           '$ZeroWidthClass', '', 'g'),
       |           '$ControlClass', '', 'g'),
       |           '\\r\\n?', e'\\n', 'g')),
       |         '$UnicodeSpaceClass', ' ', 'g'),
       |         '[ \\t]+', ' ', 'g'))""".stripMargin

  private val o81 =
    s"""WITH aug AS (
       |  SELECT doc_id,
       |         chr(160) || chr(160) || text || chr(8203) || ' cafe' ||
       |         chr(769) || chr(9) || chr(9) || 'nai' || chr(776) || 've' ||
       |         chr(13) || chr(10) || chr(7) || 'end ' ||
       |         chr(4352) || chr(4449) || chr(4520) || ' ' ||
       |         chr(8491) || chr(8486) || ' e' ||
       |         chr(803) || chr(769) || 'e' || chr(769) || chr(803) || ' ' ||
       |         chr(1048) || chr(774) || chr(64257) || chr(12288) AS t
       |  FROM documents)
       |SELECT doc_id,
       |       CAST(length(t) AS BIGINT) AS n_dirty,
       |       $NormalizeSqlChain AS norm_text,
       |       CAST(length($NormalizeSqlChain) AS BIGINT) AS n_norm
       |FROM aug""".stripMargin

  // ---- q82: C4 line- and page-level cleaning rules -----------------------
  // The T5/C4 heuristics (Raffel et al. 2020 §2.2) — the rule-list
  // complement of q79's Gopher ratios, applied at LINE granularity
  // where Gopher scores whole documents: keep only lines ending in a
  // terminal punctuation mark, with >= 5 words, not mentioning
  // "javascript"; drop the whole PAGE when it contains "{" or "lorem
  // ipsum", or fewer than `C4MinKeptLines` surviving lines (the
  // paper's "fewer than 3 sentences", with kept lines as the sentence
  // proxy). Scale shape: the line rules run inside a higher-order
  // `filter` over `split(text, '\n')` — row-local, zero shuffle; no
  // explode, so a million-line page never leaves its row. Honest
  // codegen caveat (plan-verified): Spark's higher-order functions
  // are CodegenFallback, so the filtering Project sits OUTSIDE the
  // WholeStageCodegen span — still one scan and no exchange, and the
  // per-line predicate is regex-dominated either way; an exploded
  // codegen'd alternative would trade this for a corpus×lines shuffle.
  val C4MinLineWords = 5
  val C4MinKeptLines = 3
  private val C4LineEnd = "[.!?\"]$" // RE2 and Java agree: end-of-string

  /** The surviving lines of a page under the C4 line rules, in order. */
  def c4KeptLines(text: Column): Column =
    filter(split(text, "\n"), l =>
      l.rlike(C4LineEnd) &&
        size(split(l, " ")) >= C4MinLineWords &&
        !lower(l).contains("javascript"))

  /** The C4 page verdict given the raw text and its kept lines. */
  def c4PageKeep(text: Column, kept: Column): Column =
    !text.contains("{") &&
      !lower(text).contains("lorem ipsum") &&
      size(kept) >= C4MinKeptLines

  // Fixture docs are single-line and unpunctuated (every line rule
  // would fire identically), so the query builds a deterministic
  // multi-line page around each doc — q52/q81's planted-dirt pattern —
  // with doc_id-varying page-level violations: every 5th page plants a
  // brace line, every 7th a lorem-ipsum line (which PASSES the line
  // rules — page rules are the only thing that catches it).
  private def q82(s: SparkSession, d: String): DataFrame = {
    val page = array_join(array(
      concat(lit("Doc "), col("doc_id").cast("string"),
        lit(" begins with a full sentence here.")),
      lit("short line."),
      lit("this line has no terminal punctuation at all"),
      lit("Javascript is required for this page to work properly."),
      col("text"),
      concat(col("text"), lit(" padded into a sentence that ends well.")),
      when(col("doc_id") % 5 === 0, lit("function() { return 1; }"))
        .otherwise(lit("A third proper sentence keeps the page alive.")),
      when(col("doc_id") % 7 === 0,
        lit("Lorem ipsum dolor sit amet consectetur."))
        .otherwise(lit("Closing sentence number four stays here."))), "\n")
    val kept = c4KeptLines(col("t"))
    Tables.documents(s, d)
      .select(col("doc_id"), page.as("t"))
      .select(col("doc_id"),
        size(split(col("t"), "\n")).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept"),
        c4PageKeep(col("t"), kept).as("page_keep"),
        array_join(kept, "\n").as("kept_text"))
  }

  private val o82 =
    s"""WITH aug AS (
       |  SELECT doc_id,
       |         'Doc ' || CAST(doc_id AS VARCHAR) || ' begins with a full sentence here.' || chr(10) ||
       |         'short line.' || chr(10) ||
       |         'this line has no terminal punctuation at all' || chr(10) ||
       |         'Javascript is required for this page to work properly.' || chr(10) ||
       |         text || chr(10) ||
       |         text || ' padded into a sentence that ends well.' || chr(10) ||
       |         CASE WHEN doc_id % 5 = 0 THEN 'function() { return 1; }'
       |              ELSE 'A third proper sentence keeps the page alive.' END || chr(10) ||
       |         CASE WHEN doc_id % 7 = 0 THEN 'Lorem ipsum dolor sit amet consectetur.'
       |              ELSE 'Closing sentence number four stays here.' END AS t
       |  FROM documents),
       |k AS (
       |  SELECT doc_id, t,
       |         list_filter(string_split(t, chr(10)), x ->
       |           regexp_matches(x, '$C4LineEnd')
       |           AND len(string_split(x, ' ')) >= $C4MinLineWords
       |           AND NOT contains(lower(x), 'javascript')) AS kept
       |  FROM aug)
       |SELECT doc_id,
       |       CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
       |       CAST(len(kept) AS BIGINT) AS n_kept,
       |       (NOT contains(t, '{') AND NOT contains(lower(t), 'lorem ipsum')
       |        AND len(kept) >= $C4MinKeptLines) AS page_keep,
       |       array_to_string(kept, chr(10)) AS kept_text
       |FROM k""".stripMargin

  // ---- q106: corpus-frequent line excision (RefinedWeb line-dedup) -------
  // The line-level EXACT dedup of RefinedWeb (Penedo et al. 2023 §3.3)
  // and the later line-frequency pass of C4: a line that recurs across
  // many DOCUMENTS is navigation/footer boilerplate, and production
  // pipelines EXCISE it from every page rather than dropping pages —
  // the removal complement of q82 (whose rules are static per-line
  // predicates) and the LINE-granularity sibling of q104's character
  // spans (which catch verbatim runs that cross line boundaries; this
  // catches template lines q104's min-span-length would skip). A line
  // counts as boilerplate when it appears in >= `LineDupMinDocs`
  // DISTINCT documents.
  //
  // Fixture docs are single-line, so the query builds deterministic
  // multi-line pages (the q82 planted-dirt pattern) carrying both
  // plants and honest structure: two unique lines derived from the doc
  // (id-prefixed intro; body + suffix — note an exact-dup FAMILY of
  // >= threshold docs shares its body line, so real dup families get
  // their body excised too, exactly RefinedWeb's semantics), one 4-way
  // rotating nav line (always hot), and two conditional plants
  // (subscribe on even ids, rights-reserved on %5) that are hot at
  // every fixture scale while their else-branches stay unique.
  //
  // Distributed shape: posexplode streams (doc_id, idx, line)
  // map-side; the line-frequency table collapses with map-side
  // combine (countDistinct over the (line, doc_id) pre-aggregate);
  // the hot table is the boilerplate ALPHABET — tiny by construction —
  // so its join back is an unhinted AQE broadcast; one regroup by
  // doc_id reassembles pages with array_sort(collect_list(struct(idx,
  // line))) keeping original line order (collect_list drops the
  // excised rows' NULL structs). Two corpus scans (line stream is
  // consumed by the frequency branch and the regroup branch); at
  // 100 TB the hot table amortizes across re-crawls exactly like the
  // staged artifacts.
  val LineDupMinDocs = 5

  /** Excises corpus-frequent lines from `(doc_id, t)` pages:
    * `(doc_id, n_lines, n_excised, kept_text)` with original line
    * order preserved and excised-to-empty pages reported as `''`.
    */
  def lineExcision(pages: DataFrame, minDocs: Int = LineDupMinDocs): DataFrame = {
    val lines = pages.select(col("doc_id"),
      posexplode(split(col("t"), "\n")).as(Seq("idx", "line")))
    val hot = lines.groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("line").as("hot_line"))
    lines.join(hot, col("line") === col("hot_line"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("hot_line").isNotNull, 1L).otherwise(0L)).as("n_excised"),
        array_join(transform(array_sort(collect_list(
          when(col("hot_line").isNull, struct(col("idx"), col("line"))))),
          x => x.getField("line")), "\n").as("kept_text"))
  }

  private def q106(s: SparkSession, d: String): DataFrame = {
    val page = array_join(array(
      concat(lit("Intro for doc "), col("doc_id").cast("string"),
        lit(": "), col("text")),
      concat(lit("Navigation menu variant "),
        (col("doc_id") % 4).cast("string")),
      when(col("doc_id") % 2 === 0,
        lit("Subscribe to our newsletter for updates."))
        .otherwise(concat(lit("Unique aside for doc "),
          col("doc_id").cast("string"), lit(" stays."))),
      concat(col("text"), lit(" trailing unique sentence.")),
      when(col("doc_id") % 5 === 0,
        lit("All rights reserved by the site owner."))
        .otherwise(concat(lit("Closing unique line for doc "),
          col("doc_id").cast("string"), lit(".")))), "\n")
    lineExcision(Tables.documents(s, d).select(col("doc_id"), page.as("t")))
  }

  private val o106 =
    s"""WITH pg AS (
       |  SELECT doc_id,
       |         'Intro for doc ' || CAST(doc_id AS VARCHAR) || ': ' || text || chr(10) ||
       |         'Navigation menu variant ' || CAST(doc_id % 4 AS VARCHAR) || chr(10) ||
       |         CASE WHEN doc_id % 2 = 0 THEN 'Subscribe to our newsletter for updates.'
       |              ELSE 'Unique aside for doc ' || CAST(doc_id AS VARCHAR) || ' stays.' END || chr(10) ||
       |         text || ' trailing unique sentence.' || chr(10) ||
       |         CASE WHEN doc_id % 5 = 0 THEN 'All rights reserved by the site owner.'
       |              ELSE 'Closing unique line for doc ' || CAST(doc_id AS VARCHAR) || '.' END AS t
       |  FROM documents),
       |l AS (
       |  SELECT doc_id, i AS idx, string_split(t, chr(10))[i] AS line
       |  FROM pg, UNNEST(range(1, len(string_split(t, chr(10))) + 1)) AS r(i)),
       |hot AS (
       |  SELECT line FROM l GROUP BY line
       |  HAVING count(DISTINCT doc_id) >= $LineDupMinDocs)
       |SELECT l.doc_id,
       |       CAST(count(*) AS BIGINT) AS n_lines,
       |       CAST(sum(CASE WHEN hot.line IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_excised,
       |       coalesce(string_agg(CASE WHEN hot.line IS NULL THEN l.line END,
       |                           chr(10) ORDER BY l.idx), '') AS kept_text
       |FROM l LEFT JOIN hot ON l.line = hot.line
       |GROUP BY l.doc_id""".stripMargin

  // ---- q37: term salience (TF-IDF-shaped, exact-arithmetic) --------------
  // Top-3 salient terms per document, scored tf * N / df. Uses the
  // exact integer ratio instead of log-idf so both engines produce
  // bit-identical doubles (libm log is not cross-engine deterministic);
  // ranking behavior is the same. Doc frequency is an AGGREGATE
  // broadcast-joined back, not a `count() over (partition by term)`
  // window: a stopword-scale term would make the window materialize a
  // near-corpus-size partition on one reducer (spill-safe but a
  // straggler at 100 TB), while the aggregate collapses map-side to
  // one row per distinct term. The join is left unhinted: at typical
  // vocabulary sizes AQE broadcasts the term table, and if a web-scale
  // vocabulary (URLs, numbers, typos) ever outgrows the 8 GB / 512M-row
  // broadcast ceiling, the planner falls back to a shuffle join — which
  // is skew-safe here because docFreq is one row per term. Costs three
  // documents scans total (tf branch, df branch, and the n_docs
  // aggregate; Spark does not share scans across DataFrame branches).
  // The rank filter plans as WindowGroupLimit so only 3 rows per doc
  // survive the final sort.
  private def q37(s: SparkSession, d: String): DataFrame = {
    // round 13: every branch rides the staged (doc_id, w, cnt) token
    // pre-aggregate ([[stagedTokenCounts]]) — tf IS the staged cnt, df
    // is one row-count per term over it, and n_docs its distinct
    // doc_ids (equal to the documents table's: split yields ≥1 token
    // per doc). The three documents scans and the Zipf-skewed raw
    // token exchange drop out of the query entirely.
    val tc = stagedTokenCounts(s, d)
    val terms = tc.select(col("doc_id"), col("w").as("term"),
      col("cnt").as("tf"))
    val n = tc.agg(countDistinct(col("doc_id")).as("n_docs"))
    // one row per distinct term (vocabulary-sized by Heaps' law —
    // broadcastable even at corpus scales where documents are not)
    val docFreq = tc
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
      .withColumnRenamed("w", "term")
    val scored = terms
      .join(docFreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("salience", col("tf") * col("n_docs") / col("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("salience").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("doc_id", "term", "tf", "df", "salience", "rk")
  }

  private val o37 =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
      |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term, tf,
      |         count(*) OVER (PARTITION BY term) AS df,
      |         tf * (SELECT n_docs FROM n) / count(*) OVER (PARTITION BY term) AS salience
      |  FROM tf)
      |SELECT doc_id, term, tf, df, salience, rk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |            ORDER BY salience DESC, term ASC) AS rk
      |  FROM scored)
      |WHERE rk <= 3""".stripMargin

  // ---- q38: corpus bigram statistics -------------------------------------
  // Global top-100 adjacent word pairs — the n-gram machinery behind
  // shingle-based dedup, as a corpus-level statistic. Bigrams are
  // generated map-side (sequence over positions); one aggregation
  // shuffle; top-k is TakeOrdered.
  private def q38(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(graft.functions.WordGrams(col("text"), 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(100)

  private val o38 =
    """SELECT bigram, count(*) AS n FROM (
      |  SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
      |                i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS bigram
      |  FROM documents)
      |GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 100""".stripMargin

  // ---- q83: BPE first-merge pair counts (tokenizer training prep) --------
  // The first step of byte-pair-encoding tokenizer training: the
  // corpus-weighted frequency of every ADJACENT CHARACTER PAIR inside
  // words — the statistic whose argmax becomes BPE merge #1 (and whose
  // top-k previews the early merge table). Scale shape is the whole
  // point: the naive form explodes every character position of every
  // token in the corpus (corpus-tokens × word-length rows through a
  // shuffle); this one aggregates the corpus to its VOCABULARY first
  // (one shuffle with map-side combine — the q29 word-count shape) and
  // explodes pairs only over distinct words weighted by their counts.
  // Vocabulary grows by Heaps' law (sublinear in corpus size), so the
  // pair explode touches millions of rows where the naive form touches
  // trillions at 100 TB. Second aggregation is over the pair alphabet
  // (bounded by |charset|²) — TakeOrdered closes it.
  private def q83(s: SparkSession, d: String): DataFrame = {
    // round 14: the corpus-weighted vocabulary IS an aggregate of the
    // staged (doc_id, w, cnt) token artifact (freq = Σ per-doc cnt —
    // identical integers to counting occurrences), so the last
    // documents scan in this query drops to an artifact read.
    val vocab = stagedTokenCounts(s, d)
      .groupBy(col("w")).agg(sum(col("cnt")).as("freq"))
      .filter(length(col("w")) >= 2)
    vocab
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(50)
  }

  private val o83 =
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |v AS (SELECT w, CAST(count(*) AS BIGINT) AS freq
      |      FROM tok GROUP BY w HAVING length(w) >= 2),
      |p AS (SELECT unnest(list_transform(range(1, length(w)),
      |                    i -> substr(w, i, 2))) AS pair, freq
      |      FROM v)
      |SELECT pair, CAST(sum(freq) AS BIGINT) AS n
      |FROM p GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 50""".stripMargin

  // ---- q99: BPE merge-table application (closing the tokenizer loop) -----
  // q83 computes the statistic whose argmax is BPE merge #1 and whose
  // top-k previews the early merge table (Sennrich et al. 2015,
  // arXiv:1508.07909); q90/q97 size the vocabulary — but nothing APPLIED
  // a merge table until now. This query derives the top-`BpeMerges`
  // merge table in-corpus (q83's exact ranking, ties broken on the pair
  // so both engines agree), applies it to every word, and reports each
  // document's BPE-token count against the whitespace baseline q29/q46/
  // q78 use — the defensible token definition those budget queries were
  // missing.
  //
  // The merge-application trick that keeps this ENGINE-PORTABLE (and
  // oracle-checkable in plain SQL, no staged companion needed): BPE
  // application for a rank-ordered table of CHARACTER pairs is exactly
  // a sequence of left-to-right non-overlapping string replaces, where
  // each merged pair collapses to a single PLACEHOLDER char from the
  // Unicode private-use area (U+E001..) — one char per symbol keeps
  // `length()` = symbol count, and placeholders can never participate
  // in later merges (those match original corpus chars only), which is
  // precisely BPE's semantics for a char-level merge table. Both Spark
  // and DuckDB `replace` scan left-to-right non-overlapping, so "aaa"
  // under merge "aa" yields 2 symbols in both engines. A rank whose
  // merge slot is empty (tiny corpora with < k distinct pairs)
  // substitutes a doubled U+F00x char that exists in no input, making
  // the replace a no-op instead of a NULL.
  //
  // Scale shape: merges come from q83's vocabulary-weighted pipeline
  // (pair explode over DISTINCT words — Heaps-law bounded — never over
  // corpus tokens) and pivot to a ONE-ROW broadcast frame; the 16
  // chained replaces then run per DISTINCT WORD, not per occurrence,
  // so the expensive string work is vocabulary-sized at any corpus
  // size. Per-doc totals ride the same (doc_id, w, cnt) pre-aggregate
  // as q56 — the word-level frame joins back unhinted (the q56/q37
  // discipline: AQE broadcasts a sane vocabulary; above the ceiling
  // the shuffle moves the Heaps-bounded vocab, not the token stream).
  // The merge-rank window runs over the TakeOrdered(16) frame only
  // (WindowBoundSpec allow-listed, the q90 pattern).
  private val BpeMerges = 16

  private def bpePlaceholder(i: Int): String = (0xE000 + i).toChar.toString
  private def bpeNullSub(i: Int): String = {
    val c = (0xF000 + i).toChar; s"$c$c"
  }

  /** Per-doc whitespace-vs-BPE token counts over any `(doc_id, text)`
    * frame, under the corpus-derived top-`k` char-pair merge table:
    * `(doc_id, n_ws_tokens, n_bpe_tokens, compression)`.
    */
  def bpeApply(docs: DataFrame, k: Int = BpeMerges): DataFrame =
    bpeApplyFromCounts(
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt")), k)

  /** [[bpeApply]] over a pre-aggregated `(doc_id, w, cnt)` frame — the
    * staged-token entry point (round 13): the merge table, the
    * per-distinct-word replaces and the per-doc totals all derive from
    * the one artifact, zero corpus scans.
    */
  def bpeApplyFromCounts(agg: DataFrame, k: Int = BpeMerges): DataFrame = {
    val vocab = agg.groupBy(col("w")).agg(sum(col("cnt")).as("freq"))
    val pairs = vocab.filter(length(col("w")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("pair").asc).limit(k)
    val rw = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("pair").asc)
    val pivots = (1 to k).map(i =>
      min(when(col("r") === i, col("pair"))).as(s"p$i"))
    val merges = pairs.withColumn("r", row_number().over(rw))
      .agg(pivots.head, pivots.tail: _*)
    val applied = (1 to k).foldLeft(col("w")) { (acc, i) =>
      replace(acc, coalesce(col(s"p$i"), lit(bpeNullSub(i))),
        lit(bpePlaceholder(i)))
    }
    val wb = vocab.select(col("w")).crossJoin(broadcast(merges))
      .select(col("w"), length(applied).as("bpe_len"))
    agg.join(wb, "w")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_ws_tokens"),
        sum(col("cnt") * col("bpe_len")).as("n_bpe_tokens"))
      .withColumn("compression",
        col("n_bpe_tokens").cast("double") / col("n_ws_tokens").cast("double"))
  }

  /** The q99 per-doc BPE frame `(doc_id, n_ws_tokens, n_bpe_tokens,
    * compression)`, staged once per session — round
    * 17. FIVE registry consumers spend the q99 token definition
    * (q102's packer, q103's budget, q110's fertility, q112's
    * per-language budget, q118b's epoch allocation) and each re-ran
    * the whole BPE kernel per query: the vocabulary aggregate, the
    * pair-statistics ranking, the 16 chained per-distinct-word
    * replaces and the join-back + per-doc totals (~8 exchanges per
    * plan at sf0.1). The frame is a doc-volume AGGREGATE (four
    * scalars per doc) — squarely on the round-11 "stage aggregates,
    * recompute expansions" boundary, like [[stagedTokenCounts]] it
    * derives from. q99 itself stays the honest self-contained
    * tokenizer benchmark (the q23/q29/q44 discipline); consumers
    * read this frame, and every one of them aggregates or joins it,
    * so parquet round-trip order is immaterial and hashes are
    * byte-identical.
    */
  private[graft] def stagedBpeDoc(s: SparkSession, d: String): DataFrame =
    graft.Stage.session(s, "graft-bpedoc", d)(
      bpeApplyFromCounts(stagedTokenCounts(s, d)))

  private def q99(s: SparkSession, d: String): DataFrame =
    bpeApplyFromCounts(stagedTokenCounts(s, d))

  /** The q99 pipeline as reusable oracle CTEs ending in `${p}bpedoc` =
    * `(doc_id, n_ws_tokens, n_bpe_tokens, compression)` — shared with
    * the BPE-currency variants (q102/q103) so the token definition
    * cannot drift between the tokenizer query and the packing/budget
    * queries that spend it. Prefixed so callers can compose it with
    * [[qualityCtes]] (name spaces collide otherwise).
    */
  private[operators] def bpeCtes(p: String = ""): String = {
    val k = BpeMerges
    val ms = (1 to k).map(i =>
      s"coalesce(min(CASE WHEN r = $i THEN pair END), " +
        s"chr(${0xF000 + i}) || chr(${0xF000 + i})) AS p$i").mkString(", ")
    val repl = (1 to k).foldLeft("w") { (acc, i) =>
      s"replace($acc, p$i, chr(${0xE000 + i}))"
    }
    s"""${p}tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |${p}agg AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt
       |        FROM ${p}tok GROUP BY doc_id, w),
       |${p}v AS (SELECT w, CAST(sum(cnt) AS BIGINT) AS freq FROM ${p}agg GROUP BY w),
       |${p}bp AS (SELECT unnest(list_transform(range(1, length(w)),
       |                    i -> substr(w, i, 2))) AS pair, freq
       |      FROM ${p}v WHERE length(w) >= 2),
       |${p}pc AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM ${p}bp GROUP BY pair
       |       ORDER BY n DESC, pair ASC LIMIT $k),
       |${p}rk AS (SELECT pair, row_number() OVER (ORDER BY n DESC, pair ASC) AS r
       |       FROM ${p}pc),
       |${p}bm AS (SELECT $ms FROM ${p}rk),
       |${p}wb AS (SELECT w, length($repl) AS bpe_len FROM ${p}v CROSS JOIN ${p}bm),
       |${p}bpedoc AS (
       |  SELECT a.doc_id,
       |         CAST(sum(a.cnt) AS BIGINT) AS n_ws_tokens,
       |         CAST(sum(a.cnt * wb.bpe_len) AS BIGINT) AS n_bpe_tokens,
       |         CAST(sum(a.cnt * wb.bpe_len) AS DOUBLE) /
       |           CAST(sum(a.cnt) AS DOUBLE) AS compression
       |  FROM ${p}agg a JOIN ${p}wb wb ON a.w = wb.w
       |  GROUP BY a.doc_id)""".stripMargin
  }

  private val o99 =
    s"""WITH ${bpeCtes()}
       |SELECT doc_id, n_ws_tokens, n_bpe_tokens, compression FROM bpedoc""".stripMargin

  // ---- q110: per-language BPE fertility (tokenizer parity) ---------------
  // The multilingual tokenizer-evaluation metric (Ács' fertility; Rust
  // et al. 2021, "How Good is Your Tokenizer?"): BPE symbols per
  // whitespace word, BY LANGUAGE. A language whose fertility is 2×
  // another's pays twice the context window for the same text — the
  // number a tokenizer-parity review reads before fixing the vocab
  // allocation. Pure composition: per-doc counts are q99's kernel off
  // the staged token artifact (ZERO corpus text scans), lang attaches
  // via the thin (doc_id, lang) projection, one ≤|langs|-row
  // aggregate. The fertility double is one division over exact BIGINT
  // sums — same shape both engines.
  private def q110(s: SparkSession, d: String): DataFrame =
    stagedBpeDoc(s, d) // the q99 kernel, staged (round 17)
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")),
        "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_ws_tokens")).as("n_ws_tokens"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
      .withColumn("fertility",
        col("n_bpe_tokens").cast("double") / col("n_ws_tokens").cast("double"))

  private val o110 =
    s"""WITH ${bpeCtes()}
       |SELECT d.lang,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(b.n_ws_tokens) AS BIGINT) AS n_ws_tokens,
       |       CAST(sum(b.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
       |       CAST(sum(b.n_bpe_tokens) AS DOUBLE) /
       |         CAST(sum(b.n_ws_tokens) AS DOUBLE) AS fertility
       |FROM bpedoc b JOIN documents d USING (doc_id)
       |GROUP BY d.lang""".stripMargin

  // ---- q90: vocabulary coverage curve (tokenizer sizing) -----------------
  // THE tokenizer-budget question: what fraction of corpus tokens does
  // a top-N vocabulary cover? (The Zipf tail is what BPE merges exist
  // to absorb — this curve says how much tail there is, and where
  // diminishing returns start.) One corpus aggregation to the
  // vocabulary (map-side combined, the q29/q83 shape), then the
  // ranking is BOUNDED by construction: orderBy+limit plans as a
  // distributed TakeOrdered of the top `VocabCap` words, and the
  // rank/cumulative window runs over that ≤100k-row frame only (the
  // q87 bounded-window discipline — never a global window over the
  // Heaps-law vocabulary, which at 100 TB is ~10⁸ rows). The corpus
  // token total rides in as a broadcast 1-row frame. Ties in frequency
  // break on the word (both engines), so every cutoff is deterministic.
  private val VocabCap = 100000
  // log-spaced sweep from 1 so the curve has rows at ANY vocabulary
  // size (the fixture corpus has a 31-word vocabulary; a web corpus
  // fills the 10⁴–10⁵ decades)
  private val CoverageNs = Seq(1, 3, 10, 30, 100, 1000, 10000, 100000)

  /** Coverage of the top-N vocabulary over any `(doc_id, text)` frame:
    * `(n_vocab, cum_tokens, coverage)` at N in [[CoverageNs]] (rows for
    * N beyond the actual vocabulary size are absent).
    */
  def vocabCoverage(docs: DataFrame): DataFrame = {
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("w").asc)
    vocab
      .orderBy(col("cnt").desc, col("w").asc).limit(VocabCap)
      .withColumn("rk", row_number().over(w))
      .withColumn("cum", sum(col("cnt")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .filter(col("rk").isInCollection(CoverageNs))
      .crossJoin(broadcast(total))
      .select(col("rk").as("n_vocab"), col("cum").as("cum_tokens"),
        (col("cum").cast("double") / col("total").cast("double")).as("coverage"))
  }

  private def q90(s: SparkSession, d: String): DataFrame =
    vocabCoverage(Tables.documents(s, d))

  // ---- q97: vocabulary growth curve (the Heaps-law observable) -----------
  // q90 asks "how much does a top-N vocab cover?"; this asks the dual
  // sizing question: HOW FAST does the vocabulary grow as the corpus
  // grows? (Heaps' law V ∝ n^β — the β estimate is what says whether
  // doubling the crawl doubles the merge table.) Deterministic nested
  // corpus samples come from the q40 hash-split discipline (md5(doc_id)
  // prefix thresholds ≈ 10% / 50% / 100%, stable across runs and
  // engines), and all six statistics fold in ONE aggregate over ONE
  // token scan — conditional countDistincts, no per-sample pass. The
  // conditional distincts expand to a single shared (w, flags)
  // pre-aggregate at any scale.
  /** One row: `(n_10, v_10, n_50, v_50, n_100, v_100)` — token count
    * and distinct-vocabulary size at the ~10%/~50%/100% nested
    * hash-samples of any `(doc_id, text)` frame.
    */
  def vocabGrowth(docs: DataFrame): DataFrame = {
    val h2 = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
    docs
      .select(h2.as("h2"), explode(split(col("text"), " ")).as("w"))
      .agg(
        sum(when(col("h2") < "1a", 1L).otherwise(0L)).as("n_10"),
        countDistinct(when(col("h2") < "1a", col("w"))).as("v_10"),
        sum(when(col("h2") < "80", 1L).otherwise(0L)).as("n_50"),
        countDistinct(when(col("h2") < "80", col("w"))).as("v_50"),
        count(lit(1)).as("n_100"),
        countDistinct(col("w")).as("v_100"))
  }

  private def q97(s: SparkSession, d: String): DataFrame =
    vocabGrowth(Tables.documents(s, d))

  private val o97 =
    """WITH toks AS (
      |  SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h2,
      |         unnest(string_split(text, ' ')) AS w
      |  FROM documents)
      |SELECT CAST(sum(CASE WHEN h2 < '1a' THEN 1 ELSE 0 END) AS BIGINT) AS n_10,
      |       CAST(count(DISTINCT CASE WHEN h2 < '1a' THEN w END) AS BIGINT) AS v_10,
      |       CAST(sum(CASE WHEN h2 < '80' THEN 1 ELSE 0 END) AS BIGINT) AS n_50,
      |       CAST(count(DISTINCT CASE WHEN h2 < '80' THEN w END) AS BIGINT) AS v_50,
      |       CAST(count(*) AS BIGINT) AS n_100,
      |       CAST(count(DISTINCT w) AS BIGINT) AS v_100
      |FROM toks""".stripMargin

  private val o90 =
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |v AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY w),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v),
      |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w ASC) AS rk
      |      FROM v),
      |c AS (SELECT rk, CAST(sum(cnt) OVER (ORDER BY rk
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |      FROM r WHERE rk <= $VocabCap)
      |SELECT rk AS n_vocab, cum AS cum_tokens,
      |       CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
      |FROM c CROSS JOIN tot
      |WHERE rk IN (${CoverageNs.mkString(", ")})""".stripMargin

  // ---- q95: feature-hashed text embeddings (the hashing trick) -----------
  // Weinberger et al. 2009 / the fastText input layer: a deterministic,
  // dependency-free embedding of text into a fixed-dim vector — token t
  // adds sign(t) ∈ {+1, −1} to bucket(t) ∈ [0, HashDim). The engine's
  // whole semantic stack (cosine top-k, SemDeDup, IVF, label noise)
  // runs on model embeddings when the corpus has them; this operator is
  // the bridge for corpora that DON'T — hash embeddings preserve enough
  // lexical similarity for dedup-grade cosine (identical docs ⇒
  // identical vectors; disjoint vocabularies ⇒ near-orthogonal), at
  // zero model cost and perfect reproducibility. Bucket and sign come
  // from md5 hex digits (the SimHash discipline), so the weights are
  // INTEGER-exact across engines; the query emits the sparse
  // `(doc_id, bucket, weight)` form (zero-cancelled buckets absent).
  // One explode + one
  // map-side-combined aggregate; dim is a constant, never a shuffle
  // axis.
  private val HashDim = 64

  /** Sparse feature-hashed embedding of a `(doc_id, text)` frame:
    * `(doc_id, bucket, weight)`, weight = Σ sign over tokens hashing to
    * the bucket, zero weights dropped.
    */
  def hashEmbed(docs: DataFrame, dim: Int = HashDim): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"),
        (conv(substring(md5(col("w")), 1, 2), 16, 10).cast("long") % dim)
          .as("bucket"),
        when(substring(md5(col("w")), 3, 1) >= "8", 1L).otherwise(-1L)
          .as("sgn"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sgn")).as("weight"))
      .filter(col("weight") =!= 0)

  /** IDF-weighted [[hashEmbed]] — the practical upgrade for dedup-grade
    * cosine: the unweighted form lets corpus-universal tokens dominate
    * every bucket, so two docs sharing only stopwords look similar;
    * idf-weighting pushes the signal onto rare terms (the TF-IDF
    * argument, hashed). The weight stays INTEGER-exact (the q56/q64
    * libm-avoidance discipline): idf = (IdfScale·n_docs) div df in
    * pure integer arithmetic, weight contributions are cnt · sign ·
    * idf, bucket sums are order-independent integer sums — bit-stable
    * across engines and shuffles.
    *
    * Distributed shape (round 12, the q56 discipline): the exploded
    * token stream is FIRST collapsed to its (doc_id, w, cnt)
    * aggregate, and both the df table (count of rows per w — equal to
    * countDistinct(doc_id) by construction) and the idf join derive
    * from it. The join by the Zipf-skewed `w` therefore moves the
    * pre-aggregate (smaller by the in-doc repetition factor), never
    * raw token occurrences, and its token-level exchange hashes on the
    * UNIFORM (doc_id, w) pair. The df branch re-derives the
    * pre-aggregate from its own scan — column pruning gives the two
    * branches different read schemas, which defeats physical exchange
    * reuse (the q37/q50 branch trade; ScanAudit: 3 scans, budgeted) —
    * so the win is the JOIN side, not scan sharing. Measured
    * 5.95 → 4.04 s at sf1 (sf0.1 within noise, 0.96 → 0.91 s;
    * TimeQuery min-over-3), hash-identical — cnt·sign·idf sums to
    * exactly what per-occurrence sign·idf summed to, in the same
    * integer arithmetic.
    */
  private val IdfScale = 1000L

  def idfHashEmbed(docs: DataFrame, dim: Int = HashDim): DataFrame =
    idfHashEmbedFromCounts(
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt")),
      docs.agg(count(lit(1)).as("n_docs")), dim)

  /** [[idfHashEmbed]] over a pre-aggregated `(doc_id, w, cnt)` frame
    * plus a 1-row `n_docs` total — the form the staged token artifact
    * feeds (round 13): df derives from the counts frame, so a staged
    * caller pays ZERO corpus scans.
    */
  def idfHashEmbedFromCounts(agg: DataFrame, total: DataFrame,
      dim: Int = HashDim): DataFrame = {
    val df = agg.groupBy(col("w")).agg(count(lit(1)).as("df"))
    agg.join(df, "w").crossJoin(broadcast(total))
      .select(col("doc_id"),
        (conv(substring(md5(col("w")), 1, 2), 16, 10).cast("long") % dim)
          .as("bucket"),
        (col("cnt") *
          when(substring(md5(col("w")), 3, 1) >= "8", 1L).otherwise(-1L) *
          expr(s"($IdfScale * n_docs) div df")).as("wt"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("wt")).as("weight"))
      .filter(col("weight") =!= 0)
  }

  private def q96(s: SparkSession, d: String): DataFrame = {
    // staged-token form: counts, df and n_docs all ride the artifact
    // (distinct doc_ids there equal the table's doc count — doc_ids
    // are unique by the q89 integrity contract and every doc tokenizes
    // to ≥1 row); the oracle keeps counting documents directly.
    val tc = stagedTokenCounts(s, d)
    idfHashEmbedFromCounts(tc,
      tc.agg(countDistinct(col("doc_id")).as("n_docs")))
  }

  private val o96 =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |dfreq AS (
       |  SELECT w, count(DISTINCT doc_id) AS df FROM toks GROUP BY w),
       |tot AS (SELECT count(*) AS n_docs FROM documents),
       |h AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(w), 1, 2)) AS BIGINT) % $HashDim AS bucket,
       |         (CASE WHEN substr(md5(w), 3, 1) >= '8' THEN 1 ELSE -1 END) *
       |           (($IdfScale * n_docs) // df) AS wt
       |  FROM toks JOIN dfreq USING (w) CROSS JOIN tot)
       |SELECT doc_id, bucket, CAST(sum(wt) AS BIGINT) AS weight
       |FROM h GROUP BY doc_id, bucket
       |HAVING sum(wt) <> 0""".stripMargin

  private def q95(s: SparkSession, d: String): DataFrame =
    hashEmbed(Tables.documents(s, d))

  private val o95 =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |h AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(w), 1, 2)) AS BIGINT) % $HashDim AS bucket,
       |         CASE WHEN substr(md5(w), 3, 1) >= '8' THEN 1 ELSE -1 END AS sgn
       |  FROM toks)
       |SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS weight
       |FROM h GROUP BY doc_id, bucket
       |HAVING sum(sgn) <> 0""".stripMargin

  // ---- q50: corpus-frequency boilerplate signal --------------------------
  // The C4/Dolma-style cleaning rule "drop lines that repeat across the
  // corpus", re-expressed over 3-grams (the fixtures have no line
  // structure): a gram is boilerplate when it appears in more than
  // BoilerPctDocs% of documents, and each document reports what fraction
  // of its grams are boilerplate — the filter signal a curation run
  // thresholds on. Distributed shape: per-doc DISTINCT grams collapse
  // map-side (array_distinct before the explode), ONE shuffle computes
  // corpus doc-frequency, the ≥threshold grams — a table bounded by
  // |corpus grams| / (threshold · n_docs), i.e. a few thousand rows at
  // any scale because a gram must recur across 1% of all documents to
  // qualify — join back onto the per-doc gram explode (unhinted: AQE
  // broadcasts a table that small, the q37 discipline), and the final
  // per-doc aggregate groups on doc_id. Two documents scans (df branch +
  // per-doc branch), the same branch trade q37 documents.
  private val BoilerPctDocs = 1 // gram is boilerplate above this % of docs

  // (engine side is the native graft.functions.WordGrams expression —
  // 3-word grams are contiguous byte slices of the text)
  private val gram3Sql =
    """CASE WHEN len(ws) >= 3 THEN
      |  list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))
      |ELSE [] END""".stripMargin

  /** Per-document boilerplate-gram fraction over any `(doc_id, text)`
    * frame — the reusable curation kernel behind q50. One exploded
    * per-doc branch carries BOTH counts (explode_outer keeps gram-less
    * docs; the hot flag rides the unhinted left join and folds in the
    * same per-doc aggregate), so the whole kernel is three documents
    * scans: hot branch + per-doc branch + the n_docs count.
    */
  def boilerplateSignal(docs: DataFrame): DataFrame = {
    val grams = docs
      .select(col("doc_id"),
        graft.functions.WordGrams(col("text"), 3).as("grams"))
    val n = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    val hot = grams
      .select(explode(array_distinct(col("grams"))).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .filter(col("df") * 100 > col("n_docs") * BoilerPctDocs)
      .select(col("gram"), lit(1L).as("is_hot"))
    grams
      .select(col("doc_id"), explode_outer(col("grams")).as("gram"))
      .join(hot, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("gram")).as("n_grams"),
        coalesce(sum(col("is_hot")), lit(0L)).as("n_boiler"))
      .withColumn("boiler_frac",
        when(col("n_grams") > 0,
          col("n_boiler").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
  }

  private def q50(s: SparkSession, d: String): DataFrame =
    boilerplateSignal(Tables.documents(s, d))

  private val o50 =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS (SELECT doc_id, $gram3Sql AS grams FROM w),
       |e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
       |df AS (SELECT gram, count(DISTINCT doc_id) AS df FROM e GROUP BY gram),
       |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |hot AS (SELECT gram FROM df CROSS JOIN n WHERE df * 100 > n_docs * $BoilerPctDocs),
       |per AS (SELECT e.doc_id, count(*) AS n_boiler FROM e JOIN hot USING (gram) GROUP BY e.doc_id)
       |SELECT g.doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
       |       CAST(coalesce(per.n_boiler, 0) AS BIGINT) AS n_boiler,
       |       CASE WHEN len(grams) > 0
       |            THEN CAST(coalesce(per.n_boiler, 0) AS DOUBLE) / CAST(len(grams) AS DOUBLE)
       |            ELSE 0.0 END AS boiler_frac
       |FROM g LEFT JOIN per ON g.doc_id = per.doc_id""".stripMargin

  // ---- q52: PII detection + redaction ------------------------------------
  // The privacy-scrub stage every released corpus runs (emails, phone
  // numbers, IP addresses → typed placeholder tokens). Pure row-local
  // regex — scan-shaped, zero shuffle, codegen'd regexp_replace. The
  // patterns stay in the common subset of Java regex and RE2 (character
  // classes, bounded repetition — no backreferences or lookarounds) so
  // Spark and the DuckDB oracle redact identically. The fixture text is
  // bare lowercase words, so the query plants deterministic doc_id-
  // derived PII on both sides first — the regex logic is exercised for
  // real, and the redacted-text hash proves byte-identical replacement.
  // Ordering note for the two digit-grid additions: phone (3-3-4) and
  // SSN (3-2-4) cannot match inside each other (the middle group's
  // width disagrees at the following separator), and the card pattern
  // needs four 4-digit groups no other pattern leaves behind — so
  // appending them keeps every earlier replacement stable.
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[a-z0-9.]+@[a-z0-9.]+[.][a-z]+" -> "<EMAIL>",
    "[0-9]{3}-[0-9]{3}-[0-9]{4}" -> "<PHONE>",
    "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+" -> "<IP>",
    "[0-9]{3}-[0-9]{2}-[0-9]{4}" -> "<SSN>",
    "[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}" -> "<CARD>")

  /** Replaces every PII match with its placeholder, in [[PiiPatterns]]
    * order (emails first — their local parts may contain digits and
    * dots that the narrower patterns would otherwise bite into).
    */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (pat, tok)) => regexp_replace(c, pat, tok) }

  /** Match counts per pattern kind, for audit stats. */
  def piiCounts(text: Column): Seq[Column] =
    PiiPatterns.map { case (pat, tok) =>
      regexp_count(text, lit(pat))
        .cast("long").as("n_" + tok.stripPrefix("<").stripSuffix(">").toLowerCase)
    }

  private def q52(s: SparkSession, d: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail"), (col("doc_id") % 10).cast("string"), lit(".example.com or "),
      format_string("%03d-%03d-%04d",
        lit(200) + col("doc_id") % 700, col("doc_id") % 1000, col("doc_id") % 10000),
      lit(" node "),
      format_string("10.%d.%d.%d",
        col("doc_id") % 256, expr("(doc_id div 256) % 256"), col("doc_id") % 100),
      lit(" ssn "),
      format_string("%03d-%02d-%04d",
        lit(100) + col("doc_id") % 900, col("doc_id") % 100, col("doc_id") % 10000),
      lit(" card "),
      format_string("%04d %04d %04d %04d",
        col("doc_id") % 10000, (col("doc_id") + 1) % 10000,
        (col("doc_id") + 2) % 10000, (col("doc_id") + 3) % 10000),
      when(col("doc_id") % 3 === 0, lit(" cc admin@example.org")).otherwise(lit("")))
    Tables.documents(s, d)
      .select(col("doc_id"), planted.as("t"))
      .select((col("doc_id") +: piiCounts(col("t")) :+
        md5(redactPii(col("t")).cast("binary")).as("redacted_hash")): _*)
  }

  private val o52 = {
    val counts = PiiPatterns.map { case (pat, tok) =>
      s"CAST(len(regexp_extract_all(t, '$pat')) AS BIGINT) AS n_${tok.stripPrefix("<").stripSuffix(">").toLowerCase}"
    }.mkString(",\n       |       ")
    val redacted = PiiPatterns.foldLeft("t") { case (c, (pat, tok)) =>
      s"regexp_replace($c, '$pat', '$tok', 'g')"
    }
    s"""WITH aug AS (
       |  SELECT doc_id,
       |         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
       |         '@mail' || CAST(doc_id % 10 AS VARCHAR) || '.example.com or ' ||
       |         printf('%03d-%03d-%04d', 200 + doc_id % 700, doc_id % 1000, doc_id % 10000) ||
       |         ' node ' ||
       |         printf('10.%d.%d.%d', doc_id % 256, (doc_id // 256) % 256, doc_id % 100) ||
       |         ' ssn ' ||
       |         printf('%03d-%02d-%04d', 100 + doc_id % 900, doc_id % 100, doc_id % 10000) ||
       |         ' card ' ||
       |         printf('%04d %04d %04d %04d', doc_id % 10000, (doc_id + 1) % 10000,
       |                (doc_id + 2) % 10000, (doc_id + 3) % 10000) ||
       |         CASE WHEN doc_id % 3 = 0 THEN ' cc admin@example.org' ELSE '' END AS t
       |  FROM documents)
       |SELECT doc_id,
       |       $counts,
       |       md5($redacted) AS redacted_hash
       |FROM aug""".stripMargin
  }

  // ---- q54: corpus vocabulary + out-of-vocabulary rate -------------------
  // Tokenizer-prep diagnostic: build the corpus "common vocabulary"
  // (every word appearing in >= 5% of documents) and score each doc by
  // the fraction of its tokens that fall OUTSIDE it — high OOV flags
  // gibberish, codey text, or wrong-language docs that per-doc scores
  // miss. Scale shape: the df threshold bounds the vocabulary
  // structurally — each doc contributes its distinct words once, so
  // |vocab| <= total distinct-word incidences / (0.05·N) ≈ 20× the mean
  // distinct-words-per-doc, INDEPENDENT of corpus size. That makes the
  // vocab genuinely broadcastable at 100 TB (unlike q37's full
  // vocabulary, which grows by Heaps' law and stays unhinted), so the
  // token→vocab membership join never shuffles the token stream — the
  // hint is load-bearing here, not an optimism. Three documents scans
  // (df branch, token branch, n_docs aggregate) and two aggregation
  // shuffles — the df table and the per-doc regroup — both collapsed
  // map-side by partial aggregation before their exchanges.
  private val OovDfFrac = 0.05

  /** Per-doc token/OOV counts against the >= `dfFrac` doc-frequency
    * vocabulary (the q54 kernel).
    */
  def oovRate(docs: DataFrame, dfFrac: Double = OovDfFrac): DataFrame =
    oovRateFromCounts(
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt")),
      dfFrac)

  /** [[oovRate]] over a pre-aggregated `(doc_id, w, cnt)` frame — the
    * staged-token entry point (round 13): df is one row-count per word
    * over it, n_docs its distinct doc_ids, and the per-doc token/OOV
    * totals are cnt sums — zero corpus scans, and the membership join
    * moves the pre-aggregate instead of raw occurrences.
    */
  def oovRateFromCounts(tc: DataFrame, dfFrac: Double = OovDfFrac): DataFrame = {
    val nDocs = tc.agg(countDistinct(col("doc_id")).as("n_docs"))
    val vocab = tc.groupBy("w")
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") >= col("n_docs") * dfFrac)
      .select(col("w"), lit(1).as("in_vocab"))
    tc.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_tokens"),
        coalesce(sum(when(col("in_vocab").isNull, col("cnt"))), lit(0L))
          .as("n_oov"))
      .withColumn("oov_rate", col("n_oov") / (lit(1.0) * col("n_tokens")))
  }

  private def q54(s: SparkSession, d: String): DataFrame =
    oovRateFromCounts(stagedTokenCounts(s, d))

  private val o54 =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |voc AS (
       |  SELECT w FROM toks CROSS JOIN nd
       |  GROUP BY w, n_docs HAVING count(DISTINCT doc_id) >= n_docs * $OovDfFrac),
       |flagged AS (
       |  SELECT t.doc_id, v.w IS NULL AS oov
       |  FROM toks t LEFT JOIN voc v ON t.w = v.w)
       |SELECT doc_id,
       |       count(*) AS n_tokens,
       |       count(CASE WHEN oov THEN 1 END) AS n_oov,
       |       count(CASE WHEN oov THEN 1 END) / (1.0 * count(*)) AS oov_rate
       |FROM flagged GROUP BY doc_id""".stripMargin

  // ---- q56: unigram LM likelihood score (CCNet-style quality proxy) ------
  // The perplexity-filter stage of CCNet/RefinedWeb, reduced to the
  // engine-portable core: score each document by the mean corpus-unigram
  // probability of its tokens — templated/common text scores high, rare-
  // vocabulary gibberish scores low, and downstream curation thresholds
  // on the tails. The textbook form uses mean log-prob, but libm `log`
  // is not bit-identical across engines (the q37 lesson), so the token
  // probability is carried as an INTEGER: p_scaled = cnt * LmScale div
  // total (both engines floor positive integer division identically).
  // Per-doc sums are then exact BIGINTs and the final mean is ONE double
  // division of exactly-representable operands (sum <= n_tokens*LmScale
  // < 2^53 for docs up to ~9k tokens at this scale) — bit-identical by
  // IEEE. The 2^63 side is ENFORCED at runtime: any corpus-wide token
  // count above Long.MaxValue/LmScale raises instead of silently
  // wrapping (non-ANSI Long arithmetic would corrupt scores exactly at
  // scale; drop LmScale to 1e9 for web corpora, or carry the product as
  // DECIMAL(38,0)).
  //
  // Distributed shape (round 7): the exploded token stream is FIRST
  // collapsed to its (doc_id, w, cnt) aggregate, and every downstream
  // branch — freq (sum cnt by w), total (sum cnt), and the per-doc
  // score join — derives from it, so the physical plan materializes ONE
  // token-level exchange and AQE reuses it three times (ReusedExchange,
  // CI-pinned). The join against the vocabulary-sized freq table is
  // UNHINTED (the q37 discipline — AQE broadcasts it at sane vocab
  // sizes); above the broadcast ceiling the shuffle-join input is now
  // the (doc_id, w, cnt) aggregate, not raw token occurrences — smaller
  // by the in-doc repetition factor, and the pre-aggregate exchange
  // hashes on the UNIFORM (doc_id, w) pair, not the Zipf-skewed word
  // alone. n_tokens = sum(cnt) and sum_scaled = sum(cnt * p_scaled) are
  // exact in the same integer arithmetic as the per-occurrence form.
  // The Long-safe headroom at this scale is measured in SCALE.md (q56/q71
  // integer-LM overflow guards, round-9 re-baseline); lowering LmScale
  // (the documented web-corpus mitigation) moves that headroom with it.
  private val LmScale = 1000000000000L

  /** Per-doc mean corpus-unigram token probability over any
    * `(doc_id, text)` frame (the q56 kernel).
    */
  def unigramLm(docs: DataFrame): DataFrame =
    lmFromPerDoc(docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c")))

  /** The q56 kernel over an already-built `(doc_id, w, c)` token
    * pre-aggregate. Split out so `qualityEnsemble` can share ONE word
    * pre-aggregate exchange between the LM leg and its n_docs count;
    * `unigramLm` itself is unchanged in plan and in values.
    */
  private[graft] def lmFromPerDoc(perDoc: DataFrame): DataFrame =
    lmFromPerDoc(perDoc, perDoc.agg(sum(col("c")).as("total")))

  /** As above, with the 1-row corpus-totals frame supplied by the
    * caller (must carry `total` = the corpus token count; any extra
    * columns are pruned by the select below). `qualityEnsemble` passes
    * a shared cached totals frame that also carries its n_docs count,
    * so both corpus scalars cost ONE aggregate branch.
    */
  private[graft] def lmFromPerDoc(perDoc: DataFrame, totals: DataFrame): DataFrame = {
    val freq = perDoc.groupBy(col("w")).agg(sum(col("c")).as("cnt"))
    val maxSafeCnt = Long.MaxValue / LmScale
    val scaled = freq.crossJoin(broadcast(totals))
      .select(col("w"),
        when(col("cnt") > maxSafeCnt, raise_error(concat(
          lit(s"unigramLm: token count > Long-safe ceiling $maxSafeCnt " +
            s"for LmScale=$LmScale (lower LmScale or use DECIMAL): "),
          col("w"))))
          .otherwise(expr(s"(cnt * ${LmScale}L) div total")).as("p_scaled"))
    perDoc.join(scaled, "w")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("p_scaled")).as("sum_scaled"))
      .withColumn("mean_prob", col("sum_scaled").cast("double") /
        (col("n_tokens").cast("double") * lit(LmScale.toDouble)))
  }

  private def q56(s: SparkSession, d: String): DataFrame =
    unigramLm(Tables.documents(s, d))

  private val o56 =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |freq AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
       |tot AS (SELECT count(*) AS total FROM toks),
       |scaled AS (
       |  SELECT w, (cnt * $LmScale) // total AS p_scaled FROM freq CROSS JOIN tot),
       |per AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |         CAST(sum(p_scaled) AS BIGINT) AS sum_scaled
       |  FROM toks JOIN scaled USING (w) GROUP BY doc_id)
       |SELECT doc_id, n_tokens, sum_scaled,
       |       CAST(sum_scaled AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * ${LmScale}.0) AS mean_prob
       |FROM per""".stripMargin

  // ---- q58: BM25-shaped lexical retrieval (top-k docs for a query) -------
  // The RAG-side lexical search primitive: score every document against
  // a fixed query term set with BM25's tf-saturation and doc-length
  // normalization, idf as the exact integer ratio N/df (libm log is not
  // cross-engine bit-stable — the q37 lesson; ranking behavior matches).
  // Per-doc scores sum a handful of per-term doubles, so the fold is
  // made order-deterministic: collect the (term, score) structs, sort,
  // fold left-to-right — both engines add in the identical sequence.
  //
  // Distributed shape: the token stream filters to the query terms
  // BEFORE any shuffle (|Q| terms — the tf aggregate moves only hit
  // rows, a tiny fraction of the corpus); doc length rides the groupBy
  // key (functionally dependent on doc_id — no extra join); df derives
  // from the tf frame and is ≤|Q| rows, force-broadcast safe; corpus
  // stats are a 1-row broadcast. Top-k plans as TakeOrderedAndProject
  // (per-partition heaps — no global sort). Three documents scans (tf
  // subtree ×2 for the df branch + the stats aggregate).
  private val QueryTerms = Seq("spark", "join", "window", "dup")
  private val RetrievalK = 10
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** Top-`k` docs for query `terms` by BM25-shaped score (rational idf).
    * Input: any `(doc_id, text)` frame.
    */
  def lexicalTopK(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("w0"))
      .select(col("doc_id"), size(col("w0")).as("dl"), col("w0"))
    val stats = base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total"))
      .select(col("n_docs"),
        (col("total").cast("double") / col("n_docs").cast("double")).as("avgdl"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("w0")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    scoreBm25(tf, stats, k)
  }

  /** [[lexicalTopK]] over the staged `(doc_id, w, cnt)` token artifact
    * (round 13): doc length is the per-doc cnt sum, tf the query-term
    * rows' cnt, and the corpus stats one aggregate over the same frame
    * (distinct doc_ids = the table's doc count; Σcnt = the token
    * total) — zero corpus scans for the query.
    */
  def lexicalTopKFromCounts(tc: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    // Corpus stats DERIVE from the per-doc length aggregate (round
    // 17): n_docs = |dl rows| (the artifact covers every doc: ≥1 row
    // each, its construction contract), Σdl = Σcnt — identical
    // integers to a countDistinct+sum pass over the raw artifact, but
    // the stats branch's scan now feeds a plain hash aggregate
    // instead of the two-phase distinct. The dl subtree is NOT
    // checkpointed: an eager localCheckpoint here measured 0.65 →
    // 0.97 s at sf0.1 (it serializes the three otherwise-pipelined
    // scans behind a materialization barrier) — the duplicated
    // aggregate subtree is the cheaper shape.
    val dl = tc.groupBy(col("doc_id")).agg(sum(col("cnt")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total"))
      .select(col("n_docs"),
        (col("total").cast("double") / col("n_docs").cast("double")).as("avgdl"))
    val tf = tc.filter(col("w").isin(terms: _*))
      .select(col("doc_id"), col("w").as("term"), col("cnt").as("tf"))
      .join(dl, "doc_id")
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
    scoreBm25(tf, stats, k)
  }

  /** Shared BM25 scoring tail over a `(doc_id, dl, term, tf)` hit frame
    * and a 1-row `(n_docs, avgdl)` stats frame — split out so the raw
    * and staged-token forms cannot drift.
    */
  private def scoreBm25(tf: DataFrame, stats: DataFrame, k: Int): DataFrame = {
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val k1 = lit(Bm25K1); val b = lit(Bm25B)
    val scored = tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("s",
        (col("n_docs").cast("double") / col("df").cast("double")) *
          ((col("tf").cast("double") * (k1 + lit(1.0))) /
            (col("tf").cast("double") + k1 * (lit(1.0) - b +
              b * (col("dl").cast("double") / col("avgdl"))))))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        array_sort(collect_list(struct(col("term").as("t"), col("s").as("s"))))
          .as("ts"))
      .withColumn("score",
        aggregate(col("ts"), lit(0.0), (acc, x) => acc + x.getField("s")))
      .select(col("doc_id"), col("n_hits"), col("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  private def q58(s: SparkSession, d: String): DataFrame =
    lexicalTopKFromCounts(stagedTokenCounts(s, d), QueryTerms, RetrievalK)

  private val o58 = {
    val lst = QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
       |         string_split(text, ' ') AS w0
       |  FROM documents),
       |stats AS (
       |  SELECT count(*) AS n_docs,
       |         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM base),
       |tf AS (
       |  SELECT doc_id, dl, term, count(*) AS tf FROM (
       |    SELECT doc_id, dl, unnest(w0) AS term FROM base)
       |  WHERE term IN ($lst)
       |  GROUP BY doc_id, dl, term),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT tf.doc_id, tf.term,
       |         (CAST(n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) *
       |         ((CAST(tf.tf AS DOUBLE) * ($Bm25K1 + 1.0)) /
       |          (CAST(tf.tf AS DOUBLE) + $Bm25K1 * (1.0 - $Bm25B +
       |           $Bm25B * (CAST(tf.dl AS DOUBLE) / avgdl)))) AS s
       |  FROM tf JOIN df USING (term) CROSS JOIN stats)
       |SELECT doc_id, n_hits, score FROM (
       |  SELECT doc_id, count(*) AS n_hits,
       |         list_reduce(list_transform(
       |           list_sort(list(struct_pack(t := term, s := s))), x -> x.s),
       |           (a, b) -> a + b) AS score
       |  FROM scored GROUP BY doc_id)
       |ORDER BY score DESC, doc_id ASC LIMIT $RetrievalK""".stripMargin
  }

  // ---- q71: bigram-LM fluency proxy (conditional-probability q56) --------
  // q56 scores membership of a token in the corpus distribution; this
  // scores token ORDER: the mean conditional probability p(w2 | w1) of a
  // document's adjacent word pairs under the corpus bigram model —
  // shuffled or templated-but-reordered text keeps its unigram score
  // while its bigram score collapses, so the two proxies gate different
  // failure modes (KenLM-lite, the CCNet filter family). Probabilities
  // are integers end-to-end (the q56 arithmetic): p_scaled =
  // C(w1 w2)·LmScale div C(w1 ·), where C(w1 ·) — the count of bigrams
  // STARTING with w1 — is derived from the bigram table itself (no
  // separate unigram stream, and the conditional sums to exactly 1 per
  // left-context by construction). Per-doc sums are exact BIGINTs; the
  // final mean is one double division (the q56 bound: docs to ~9k
  // bigrams at LmScale 1e12; the ceiling is runtime-ENFORCED like q56).
  //
  // Distributed shape: the exploded bigram stream collapses FIRST to its
  // (doc_id, g, c) pre-aggregate (the q56 round-7 lesson, applied from
  // the start) — which since round 14 IS the staged bigram artifact
  // ([[stagedBigramCounts]]), so the registry query reads the
  // materialized frame instead of re-exploding the corpus; bigram
  // frequencies, left-context totals, and the per-doc
  // score join all derive from it. The left-context aggregate and its
  // join back onto freq2 move only VOCAB²-bounded rows (never the
  // corpus); both probability joins are unhinted — AQE broadcasts them
  // at sane vocab sizes and the shuffle fallback keys are uniform
  // hashed-gram strings. Docs with fewer than two words have no bigram
  // evidence and are absent, like q63's span rule.

  /** Per-doc mean conditional bigram probability over any
    * `(doc_id, text)` frame: `(doc_id, n_bigrams, sum_scaled,
    * mean_prob)` — the q56 kernel's word-order-sensitive twin.
    */
  def bigramLm(docs: DataFrame): DataFrame =
    bigramLmFromCounts(docs.select(col("doc_id"),
      explode(graft.functions.WordGrams(col("text"), 2)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c")))

  /** [[bigramLm]] over a `(doc_id, g, c)` bigram pre-aggregate (the
    * staged artifact form, round 14): everything downstream of the
    * explode — bigram frequencies, left-context totals, both
    * probability joins and the per-doc sums — is an exact derivation
    * of the pre-aggregate, so the two forms are bit-identical by
    * construction (BigramCountFormsSpec pins it).
    */
  def bigramLmFromCounts(perDoc: DataFrame): DataFrame = {
    val freq2 = perDoc.groupBy(col("g")).agg(sum(col("c")).as("cnt2"))
    val freq1 = freq2
      .groupBy(substring_index(col("g"), " ", 1).as("w1"))
      .agg(sum(col("cnt2")).as("cnt1"))
    val maxSafeCnt = Long.MaxValue / LmScale
    val scaled = freq2
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .join(freq1, "w1")
      .select(col("g"),
        when(col("cnt2") > maxSafeCnt, raise_error(concat(
          lit(s"bigramLm: bigram count > Long-safe ceiling $maxSafeCnt " +
            s"for LmScale=$LmScale (lower LmScale or use DECIMAL): "),
          col("g"))))
          .otherwise(expr(s"(cnt2 * ${LmScale}L) div cnt1")).as("p_scaled"))
    perDoc.join(scaled, "g")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(col("c") * col("p_scaled")).as("sum_scaled"))
      .withColumn("mean_prob", col("sum_scaled").cast("double") /
        (col("n_bigrams").cast("double") * lit(LmScale.toDouble)))
  }

  private def q71(s: SparkSession, d: String): DataFrame =
    bigramLmFromCounts(stagedBigramCounts(s, d))

  private val o71 =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, len(string_split(text, ' '))),
       |           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS g
       |  FROM documents),
       |per AS (SELECT doc_id, g, count(*) AS c FROM toks GROUP BY doc_id, g),
       |freq2 AS (SELECT g, CAST(sum(c) AS BIGINT) AS cnt2 FROM per GROUP BY g),
       |freq1 AS (
       |  SELECT string_split(g, ' ')[1] AS w1, CAST(sum(cnt2) AS BIGINT) AS cnt1
       |  FROM freq2 GROUP BY string_split(g, ' ')[1]),
       |scaled AS (
       |  SELECT g, (cnt2 * $LmScale) // cnt1 AS p_scaled
       |  FROM freq2 JOIN freq1 ON string_split(freq2.g, ' ')[1] = freq1.w1)
       |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
       |       CAST(sum(c * p_scaled) AS BIGINT) AS sum_scaled,
       |       CAST(sum(c * p_scaled) AS DOUBLE) /
       |         (CAST(sum(c) AS DOUBLE) * ${LmScale}.0) AS mean_prob
       |FROM per JOIN scaled USING (g) GROUP BY doc_id""".stripMargin

  // ---- q61: ensemble quality gate (multi-signal curation filter) ---------
  // The FineWeb/RefinedWeb-style composite: no single heuristic
  // separates good text from bad, so production gates AND together
  // independent signals — surface quality (q28), Gopher repetition
  // (q41), corpus-frequency boilerplate (q50), and the unigram-LM
  // likelihood proxy (q56). Each leg is the exact kernel its own query
  // verifies (zero drift by construction); thresholds sit at the
  // fixture's measured deciles so the gate genuinely discriminates.
  // All comparisons are on bit-identical doubles, so the boolean is
  // engine-portable.
  //
  // Distributed shape (fused, round 9): the naive form ran each leg's
  // standalone kernel and re-read + re-tokenized `documents` ~7 times
  // (scan + scan + 3-scan boilerplate + 2-scan LM). At 100 TB those
  // are 7 full-corpus passes where 3 suffice, so the ensemble now
  // shares ONE tokenized frame `(doc_id, n_chars, w, grams)` and the
  // plan holds exactly THREE documents scans (spec-pinned):
  //   1. row-local leg — the q28 quality chain and q41 repetition
  //      columns fused into one pass over the staged arrays (the
  //      EXACT shared kernels: scoreQuality / repetitionCols);
  //   2. word pre-aggregate `(doc_id, w, c)` — persisted once, read
  //      by all four of its consumers (LM freq, the per-doc LM join,
  //      and the corpus totals: token count + n_docs in one pass);
  //   3. gram pre-aggregate `(doc_id, gram, c)` — persisted once,
  //      read by the corpus doc-frequency branch (count of pre-agg
  //      rows per gram == count of DISTINCT docs, the same integers
  //      q50 computes) and by the per-doc hot-gram occurrence sum
  //      (sum(c) == q50's count over the raw explode). The hot table
  //      stays a few-thousand-row unhinted AQE broadcast.
  // Every per-leg value is bit-identical to its standalone query
  // (integer counts; the same double divisions), so oracle o61 — and
  // the per-leg oracles — are unchanged. The final joins stay
  // one-row-per-doc at any corpus scale.
  //
  // Bench-reading caveat: Spark's CacheManager dedups persisted frames
  // by logical plan, so REPEATED q61 invocations in one session (the
  // bench's warm + timed passes; a pipeline calling the ensemble
  // twice) reuse the already-materialized pre-aggregates — warm
  // numbers are cache-warm; the cold cost is the first execution.
  // That reuse is the desired production behavior, not an accident.
  private val EnsMinQuality = 62.0
  private val EnsMaxDupFrac = 0.02
  private val EnsMaxBoilerFrac = 0.05
  private val EnsMinMeanProb = 0.033

  /** Multi-signal keep/drop verdict per document over any BATCH
    * `(doc_id, text, lang, source, n_chars)` frame — the composable
    * production gate (`keep` = every signal inside its threshold).
    * Docs with NULL text produce no output row (no signal is
    * computable; the standalone-kernel composition drops them at the
    * same join) but still count into the corpus n_docs that sets the
    * hot-gram threshold.
    * Batch-only by nature: the corpus-frequency legs aggregate the
    * whole input, and the shared pre-aggregates persist.
    *
    * Cache lifecycle: the word/gram pre-aggregates and the 1-row
    * totals persist for the SESSION (CacheManager dedups repeat
    * invocations on the same input — the desired warm-path behavior,
    * but successive DIFFERENT batches each add three cache entries);
    * clear them via `spark.catalog.clearCache()`.
    */
  def qualityEnsemble(docs: DataFrame,
      minQuality: Double = EnsMinQuality,
      maxDupFrac: Double = EnsMaxDupFrac,
      maxBoilerFrac: Double = EnsMaxBoilerFrac,
      minMeanProb: Double = EnsMinMeanProb): DataFrame = {
    val base = docs.select(col("doc_id"), col("n_chars"),
      split(col("text"), " ").as("w"),
      graft.functions.WordGrams(col("text"), 3).as("grams"))
    // leg 1 (one scan): row-local quality + repetition over the staged arrays
    val rowLocal = scoreQuality(base)
      .select((Seq(col("doc_id"), col("quality")) ++
        TrainingData.repetitionCols): _*)
      .select(col("doc_id"), col("quality"), col("dup_frac"), col("n_grams"))
    // leg 2 (one scan): the word pre-aggregate. PERSISTED, not
    // exchange-reuse-shared: its consumers (LM freq, LM per-doc join,
    // corpus totals) each prune different columns and sit under
    // different joins, so Catalyst specializes each branch (count
    // elision, IsNotNull pushdown) and the canonicalized subtrees stop
    // matching — reuse held for only some pairs when this was tried.
    // A persisted pre-aggregate is the same bytes a materialized
    // exchange would write, read back by all consumers, and is robust
    // to optimizer changes. (Doc-level near-linear memory: token-level
    // rows AFTER in-doc dedup; spills to disk beyond executor memory.)
    val perDocW = base.select(col("doc_id"), explode_outer(col("w")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Both corpus scalars in ONE pass over the cached pre-aggregate —
    // n_docs is exact (matches the standalone boilerplateSignal's
    // countDistinct over the WHOLE input) because explode_OUTER keeps
    // a (doc_id, null, 1) row for null-text docs, whose split array is
    // null; non-null text always yields >=1 token. The null rows are
    // excluded from the token total here and filtered out of the LM
    // leg below, so only n_docs sees them. The 1-row persist keeps the
    // second consumer (hot-gram filter) from paying a second pass.
    val totals = perDocW.agg(
      sum(when(col("w").isNotNull, col("c"))).as("total"),
      countDistinct(col("doc_id")).as("n_docs")).persist()
    val lm = lmFromPerDoc(perDocW.filter(col("w").isNotNull), totals)
      .select(col("doc_id"), col("mean_prob"))
    // leg 3 (one scan): the gram pre-aggregate, persisted for the same
    // reason, shared by the corpus doc-frequency branch and the
    // per-doc hot-occurrence sum. df counts pre-aggregate rows ==
    // DISTINCT docs per gram, and sum(c) over hot grams == q50's count
    // over the raw explode — the exact q50 integers.
    val perDocG = base.select(col("doc_id"), explode(col("grams")).as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = perDocG.groupBy(col("gram")).agg(count(col("c")).as("df"))
      .crossJoin(broadcast(totals))
      .filter(col("df") * 100 > col("n_docs") * BoilerPctDocs)
      .select(col("gram"))
    val boilerPerDoc = perDocG.join(hot, "gram")
      .groupBy(col("doc_id")).agg(sum(col("c")).as("n_boiler"))
    rowLocal
      .join(boilerPerDoc, Seq("doc_id"), "left")
      .withColumn("boiler_frac",
        when(col("n_grams") > 0,
          coalesce(col("n_boiler"), lit(0L)).cast("double") /
            col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
      .join(lm, "doc_id")
      .select(col("doc_id"), col("quality"), col("dup_frac"),
        col("boiler_frac"), col("mean_prob"))
      .withColumn("keep",
        col("quality") >= minQuality && col("dup_frac") <= maxDupFrac &&
          col("boiler_frac") <= maxBoilerFrac && col("mean_prob") >= minMeanProb)
  }

  private def q61(s: SparkSession, d: String): DataFrame =
    qualityEnsemble(Tables.documents(s, d))

  private val o61 =
    s"""WITH ${qualityCtes("")},
       |rw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |rg AS (SELECT doc_id, $gram3Sql AS grams FROM rw),
       |rep AS (
       |  SELECT doc_id, CASE WHEN len(grams) > 0 THEN 1.0 -
       |           CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE)
       |         ELSE 0.0 END AS dup_frac
       |  FROM rg),
       |be AS (SELECT doc_id, unnest(grams) AS gram FROM rg),
       |bdf AS (SELECT gram, count(DISTINCT doc_id) AS df FROM be GROUP BY gram),
       |bn AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |bhot AS (SELECT gram FROM bdf CROSS JOIN bn WHERE df * 100 > n_docs * $BoilerPctDocs),
       |bper AS (SELECT be.doc_id, count(*) AS n_boiler FROM be JOIN bhot USING (gram) GROUP BY be.doc_id),
       |boiler AS (
       |  SELECT rg.doc_id, CASE WHEN len(grams) > 0
       |           THEN CAST(coalesce(bper.n_boiler, 0) AS DOUBLE) / CAST(len(grams) AS DOUBLE)
       |           ELSE 0.0 END AS boiler_frac
       |  FROM rg LEFT JOIN bper ON rg.doc_id = bper.doc_id),
       |ltoks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |lfreq AS (SELECT w, count(*) AS cnt FROM ltoks GROUP BY w),
       |ltot AS (SELECT count(*) AS total FROM ltoks),
       |lscaled AS (SELECT w, (cnt * $LmScale) // total AS p_scaled FROM lfreq CROSS JOIN ltot),
       |lper AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |         CAST(sum(p_scaled) AS BIGINT) AS sum_scaled
       |  FROM ltoks JOIN lscaled USING (w) GROUP BY doc_id),
       |lm AS (
       |  SELECT doc_id, CAST(sum_scaled AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * ${LmScale}.0) AS mean_prob
       |  FROM lper)
       |SELECT q.doc_id, q.quality, rep.dup_frac, boiler.boiler_frac, lm.mean_prob,
       |       (q.quality >= $EnsMinQuality AND rep.dup_frac <= $EnsMaxDupFrac AND
       |        boiler.boiler_frac <= $EnsMaxBoilerFrac AND lm.mean_prob >= $EnsMinMeanProb) AS keep
       |FROM q JOIN rep USING (doc_id) JOIN boiler USING (doc_id) JOIN lm USING (doc_id)""".stripMargin

  // ---- q68: exact per-language length quantiles --------------------------
  // Corpus profiling: p25/p50/p75/p95 document length per language —
  // the distribution summary that sizes chunking (q51), packing (q46)
  // and length-based quality cuts. Exactness discipline: DISCRETE
  // quantiles (the value AT rank ceil(p·n), 1-indexed ascending), with
  // the rank computed in pure integer arithmetic — ceil(p·n) =
  // (a·n + b − 1) div b for p = a/b — so there is no interpolation and no
  // libm double anywhere (the q37/q56/q64 lesson; interpolated
  // quantiles differ cross-engine in the last IEEE bit). One exchange:
  // the rank window shuffles on lang, and the per-lang aggregate that
  // follows reuses that partitioning (no second exchange — CI-pinned).
  // Scale caveat (q45's, shared): a per-language window puts each
  // language on one partition; the at-100 TB substitution is a
  // per-language `approx_percentile` sketch aggregate (no window,
  // rank-error-bounded, the [[qualityFilterPreScored]] pattern) — exact
  // selection is the oracle semantic here.

  /** Per-language exact discrete length quantiles over any frame with
    * `doc_id`, `lang`, `n_chars`: `(lang, n_docs, p25, p50, p75, p95)`.
    */
  def lengthQuantiles(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    val ranked = docs
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("rk", row_number().over(w.orderBy(col("n_chars"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(w))
    def at(num: Int, den: Int, name: String) =
      max(when(col("rk") === expr(s"($num * n + ${den - 1}) div $den"), col("n_chars")))
        .as(name)
    ranked.groupBy(col("lang")).agg(
      max(col("n")).as("n_docs"),
      at(1, 4, "p25"), at(1, 2, "p50"), at(3, 4, "p75"), at(19, 20, "p95"))
  }

  private def q68(s: SparkSession, d: String): DataFrame =
    lengthQuantiles(Tables.documents(s, d))

  private val o68 =
    """WITH r AS (
      |  SELECT lang, n_chars,
      |         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rk,
      |         count(*) OVER (PARTITION BY lang) AS n
      |  FROM documents)
      |SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
      |       CAST(max(CASE WHEN rk = (1 * n + 3) // 4 THEN n_chars END) AS BIGINT) AS p25,
      |       CAST(max(CASE WHEN rk = (1 * n + 1) // 2 THEN n_chars END) AS BIGINT) AS p50,
      |       CAST(max(CASE WHEN rk = (3 * n + 3) // 4 THEN n_chars END) AS BIGINT) AS p75,
      |       CAST(max(CASE WHEN rk = (19 * n + 19) // 20 THEN n_chars END) AS BIGINT) AS p95
      |FROM r GROUP BY lang""".stripMargin

  // ---- q79: Gopher-style quality rule gate (integer-exact) ---------------
  // The published rule-based document filter (Gopher, Rae et al. 2021;
  // C4/Dolma run close variants): word count in [50, 100k], mean word
  // length in [3, 10], ≥2 stopword hits, ≥80% alphabetic words. Unlike
  // q28's weighted score, each rule is a NAMED boolean the corpus
  // report can aggregate per-rule (which rule rejects what fraction is
  // the tuning observable). Every comparison is integer arithmetic —
  // the ratio rules are cross-multiplied (3·n ≤ swl ≤ 10·n;
  // 5·n_alpha ≥ 4·n) so no double ever forms and the engines agree
  // bit-for-bit by construction. Scan-shaped, zero shuffle, one pass.
  private val GopherMinWords = 50
  private val GopherMaxWords = 100000

  /** Per-document Gopher rule verdicts over any frame with `doc_id`,
    * `text`: `(doc_id, n_words, sum_word_len, r_*, pass)`.
    */
  def gopherRules(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        expr("aggregate(w, CAST(0 AS BIGINT), (a, x) -> a + length(x))")
          .as("sum_word_len"),
        size(filter(col("w"), x => x.isInCollection(Stopwords)))
          .cast("long").as("n_stop"),
        expr("size(filter(w, x -> x rlike '[a-z]'))").cast("long")
          .as("n_alpha"))
      .select(col("doc_id"), col("n_words"), col("sum_word_len"),
        (col("n_words") >= GopherMinWords &&
          col("n_words") <= GopherMaxWords).as("r_wordcount"),
        (lit(3L) * col("n_words") <= col("sum_word_len") &&
          col("sum_word_len") <= lit(10L) * col("n_words")).as("r_wordlen"),
        (col("n_stop") >= 2L).as("r_stop"),
        (lit(5L) * col("n_alpha") >= lit(4L) * col("n_words")).as("r_alpha"))
      .withColumn("pass",
        col("r_wordcount") && col("r_wordlen") && col("r_stop") && col("r_alpha"))

  private def q79(s: SparkSession, d: String): DataFrame =
    gopherRules(Tables.documents(s, d))

  private val o79 = {
    val lst = Stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |m AS (
       |  SELECT doc_id,
       |         len(w) AS n_words,
       |         list_sum(list_transform(w, x -> len(x))) AS sum_word_len,
       |         len(list_filter(w, x -> x IN ($lst))) AS n_stop,
       |         len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS n_alpha
       |  FROM w),
       |r AS (
       |  SELECT doc_id, n_words, CAST(sum_word_len AS BIGINT) AS sum_word_len,
       |         n_words >= $GopherMinWords AND n_words <= $GopherMaxWords AS r_wordcount,
       |         3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words AS r_wordlen,
       |         n_stop >= 2 AS r_stop,
       |         5 * n_alpha >= 4 * n_words AS r_alpha
       |  FROM m)
       |SELECT doc_id, n_words, sum_word_len, r_wordcount, r_wordlen, r_stop,
       |       r_alpha,
       |       r_wordcount AND r_wordlen AND r_stop AND r_alpha AS pass
       |FROM r""".stripMargin
  }

  // ---- q86: CCNet-style per-language LM tertile bucketing ----------------
  // The CCNet recipe (Wenzek et al. 2020): score each document with a
  // language-model quality proxy, then split each language's corpus
  // into head/middle/tail TERTILES of that score — downstream training
  // mixes sample head-heavy without hard-dropping the tail. The score
  // here is q56's mean corpus-unigram probability (higher = more
  // fluent, the repo's integer-exact KenLM stand-in); buckets come
  // from DISCRETE ranks (the q68 lesson — no interpolated quantile
  // crosses an engine boundary): rank docs per language by
  // (mean_prob DESC, doc_id ASC), head = rank <= ceil(n/3), middle =
  // rank <= ceil(2n/3), tail = rest, with the ceilings in pure integer
  // arithmetic. One exchange for the per-language window (the q68
  // scale caveat shared: per-language sort — the at-100 TB
  // substitution is approx cutpoints broadcast back, the
  // [[qualityFilterPreScored]] pattern; exact selection is the oracle
  // semantic here). The LM side inherits q56's shapes
  // unchanged.
  /** Per-doc CCNet-style LM bucket over any `(doc_id, text, lang)`
    * frame: `(doc_id, lang, mean_prob, bucket)` with bucket in
    * {head, middle, tail} by per-language tertile of mean_prob.
    */
  def lmBuckets(docs: DataFrame): DataFrame =
    lmBucketsScored(docs, unigramLm(docs))

  /** [[lmBuckets]] with the LM leg supplied by the caller — the staged
    * token artifact's entry point (round 13): q86 passes
    * `lmFromPerDoc(stagedTokenCounts)`, so only the (doc_id, lang)
    * projection still reads the documents table.
    */
  def lmBucketsScored(docs: DataFrame, scored: DataFrame): DataFrame = {
    val lm = scored.select(col("doc_id"), col("mean_prob"))
    val base = docs.select(col("doc_id"), col("lang")).join(lm, "doc_id")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    base
      .withColumn("rk", row_number().over(
        w.orderBy(col("mean_prob").desc, col("doc_id").asc)))
      .withColumn("n", count(lit(1)).over(w))
      .select(col("doc_id"), col("lang"), col("mean_prob"),
        when(col("rk") <= expr("(n + 2) div 3"), lit("head"))
          .when(col("rk") <= expr("(2 * n + 2) div 3"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  private def q86(s: SparkSession, d: String): DataFrame =
    lmBucketsScored(Tables.documents(s, d),
      lmFromPerDoc(stagedTokenCounts(s, d).withColumnRenamed("cnt", "c")))

  private val o86 =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |freq AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
       |tot AS (SELECT count(*) AS total FROM toks),
       |scaled AS (
       |  SELECT w, (cnt * $LmScale) // total AS p_scaled FROM freq CROSS JOIN tot),
       |per AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |         CAST(sum(p_scaled) AS BIGINT) AS sum_scaled
       |  FROM toks JOIN scaled USING (w) GROUP BY doc_id),
       |lm AS (
       |  SELECT doc_id,
       |         CAST(sum_scaled AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * ${LmScale}.0) AS mean_prob
       |  FROM per),
       |r AS (
       |  SELECT d.doc_id, d.lang, lm.mean_prob,
       |         row_number() OVER (PARTITION BY d.lang
       |                            ORDER BY lm.mean_prob DESC, d.doc_id ASC) AS rk,
       |         count(*) OVER (PARTITION BY d.lang) AS n
       |  FROM documents d JOIN lm ON d.doc_id = lm.doc_id)
       |SELECT doc_id, lang, mean_prob,
       |       CASE WHEN rk <= (n + 2) // 3 THEN 'head'
       |            WHEN rk <= (2 * n + 2) // 3 THEN 'middle'
       |            ELSE 'tail' END AS bucket
       |FROM r""".stripMargin

  // ---- q87: hybrid retrieval — reciprocal-rank fusion of BM25 + dense ----
  // The production RAG retrieval shape: run the lexical ranker (q58's
  // BM25 kernel) and the dense ranker (q26's brute-force cosine; IVF
  // or PQ substitute at scale) independently, then fuse by reciprocal
  // rank — RRF (Cormack et al. 2009), score = Σ 1/(K + rank) with
  // K = 60, the fusion every hybrid search stack ships because it
  // needs no score calibration between rankers. The query is a term
  // set on the lexical side and the corresponding query vector
  // (doc_id == vec_id in the fixture corpus) on the dense side; a doc
  // absent from one ranker's top-k contributes 0 from that ranker
  // (NULL-safe coalesce, both engines). Both inputs are <= k rows by
  // construction, so the fusion's outer join and final rank window are
  // driver-trivial at ANY corpus scale — the expensive parts are the
  // upstream rankers, which keep their own audited shapes.
  private val RrfK = 60
  private val HybridK = 10

  /** RRF fusion of lexical BM25 top-`k` (for `terms`) and dense cosine
    * top-`k` (for query vector `queryVecId`): `(doc_id, lex_rk,
    * dense_rk, rrf, rk)`, ranked by fused score desc, doc_id asc.
    */
  def hybridRrf(docs: DataFrame, embeddings: DataFrame, terms: Seq[String],
      queryVecId: Long, k: Int): DataFrame = {
    // bounded global windows: both frames are <= k rows
    val lex = lexicalTopK(docs, terms, k)
      .withColumn("lex_rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("lex_rk"))
    val dense = Similarity.cosineTopK(embeddings, col("vec_id") === queryVecId, k)
      .select(col("nid").as("doc_id"), col("rk").as("dense_rk"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rk"), col("dense_rk"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("lex_rk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("dense_rk")), lit(0.0))).as("rrf"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("rrf").desc, col("doc_id").asc)))
  }

  private def q87(s: SparkSession, d: String): DataFrame =
    hybridRrf(Tables.documents(s, d), Tables.embeddings(s, d),
      QueryTerms, queryVecId = 0L, HybridK)

  private val o87 = {
    val lst = QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
       |         string_split(text, ' ') AS w0
       |  FROM documents),
       |stats AS (
       |  SELECT count(*) AS n_docs,
       |         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM base),
       |tf AS (
       |  SELECT doc_id, dl, term, count(*) AS tf FROM (
       |    SELECT doc_id, dl, unnest(w0) AS term FROM base)
       |  WHERE term IN ($lst)
       |  GROUP BY doc_id, dl, term),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT tf.doc_id, tf.term,
       |         (CAST(n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) *
       |         ((CAST(tf.tf AS DOUBLE) * ($Bm25K1 + 1.0)) /
       |          (CAST(tf.tf AS DOUBLE) + $Bm25K1 * (1.0 - $Bm25B +
       |           $Bm25B * (CAST(tf.dl AS DOUBLE) / avgdl)))) AS s
       |  FROM tf JOIN df USING (term) CROSS JOIN stats),
       |lexs AS (
       |  SELECT doc_id,
       |         list_reduce(list_transform(
       |           list_sort(list(struct_pack(t := term, s := s))), x -> x.s),
       |           (a, b) -> a + b) AS score
       |  FROM scored GROUP BY doc_id),
       |lex AS (
       |  SELECT doc_id, lex_rk FROM (
       |    SELECT doc_id,
       |           row_number() OVER (ORDER BY score DESC, doc_id ASC) AS lex_rk
       |    FROM lexs)
       |  WHERE lex_rk <= $HybridK),
       |v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
       |  FROM v),
       |p AS (
       |  SELECT c.vec_id AS nid,
       |         list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]),
       |                     (a, b) -> a + b) / (q.nrm * c.nrm) AS sim
       |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id = 0),
       |dense AS (
       |  SELECT nid AS doc_id, dense_rk FROM (
       |    SELECT nid, row_number() OVER (ORDER BY sim DESC, nid ASC) AS dense_rk
       |    FROM p)
       |  WHERE dense_rk <= $HybridK),
       |f AS (
       |  SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id, lex_rk, dense_rk,
       |         coalesce(1.0 / ($RrfK + lex_rk), 0.0) +
       |         coalesce(1.0 / ($RrfK + dense_rk), 0.0) AS rrf
       |  FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id)
       |SELECT doc_id, lex_rk, dense_rk, rrf,
       |       row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS rk
       |FROM f""".stripMargin
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q27_langid", "marker-word language identification", q27, Some(o27)),
    GraftQuery("q28_quality", "document quality scoring", q28, Some(o28)),
    GraftQuery("q29_token_count", "whitespace + regex token counts", q29, Some(o29)),
    GraftQuery("q30_fingerprint", "canonical-form document fingerprints", q30, Some(o30)),
    GraftQuery("q37_term_salience", "top-3 salient terms per doc (tf·N/df)", q37, Some(o37)),
    GraftQuery("q38_bigram_stats", "corpus top-100 bigram counts", q38, Some(o38)),
    GraftQuery("q45_quality_filter", "per-language quality percentile filter", q45, Some(o45)),
    GraftQuery("q50_boilerplate", "corpus-frequency boilerplate-gram fraction", q50, Some(o50)),
    GraftQuery("q52_pii_redact", "PII detection and placeholder redaction", q52, Some(o52)),
    GraftQuery("q54_oov_rate", "doc-frequency vocabulary + per-doc OOV rate", q54, Some(o54)),
    GraftQuery("q56_unigram_lm", "mean corpus-unigram token probability (LM quality proxy)", q56, Some(o56)),
    GraftQuery("q58_lexical_topk", "BM25-shaped lexical top-k retrieval (rational idf)", q58, Some(o58)),
    GraftQuery("q61_quality_ensemble", "multi-signal ensemble quality gate (q28+q41+q50+q56)", q61, Some(o61)),
    GraftQuery("q68_length_quantiles", "exact per-language discrete length quantiles (integer-rank)", q68, Some(o68)),
    GraftQuery("q71_bigram_lm", "mean conditional bigram probability (word-order LM proxy)", q71, Some(o71)),
    GraftQuery("q79_gopher_rules", "Gopher rule-based quality gate (integer-exact cross-multiplied ratios)", q79, Some(o79)),
    GraftQuery("q81_normalize_text", "Unicode NFC + whitespace/control normalization (planted-dirt, byte-compared)", q81, Some(o81)),
    GraftQuery("q82_c4_line_filter", "C4 line/page cleaning rules (terminal-punct lines, javascript/brace/lorem drops)", q82, Some(o82)),
    GraftQuery("q106_line_excision", "corpus-frequent line excision (RefinedWeb line-dedup: lines in >= 5 docs removed from every page)", q106, Some(o106)),
    GraftQuery("q83_bpe_pairs", "BPE first-merge char-pair counts (vocabulary-weighted, not corpus-exploded)", q83, Some(o83)),
    GraftQuery("q99_bpe_apply", "BPE merge-table application: per-doc BPE vs whitespace token counts (placeholder-replace kernel, vocabulary-sized)", q99, Some(o99)),
    GraftQuery("q110_bpe_fertility", "per-language BPE fertility (tokenizer-parity metric: BPE symbols per whitespace word by lang)", q110, Some(o110)),
    GraftQuery("q90_vocab_coverage", "top-N vocabulary token-coverage curve (tokenizer sizing)", q90, Some(o90)),
    GraftQuery("q95_hash_embed", "feature-hashed text embedding (sparse, integer-exact)", q95, Some(o95)),
    GraftQuery("q96_idf_hash_embed", "idf-weighted feature-hashed embedding (integer-exact idf)", q96, Some(o96)),
    GraftQuery("q97_vocab_growth", "Heaps-law vocabulary growth at nested hash-samples", q97, Some(o97)),
    GraftQuery("q86_lm_buckets", "CCNet-style per-language LM tertile buckets (discrete integer ranks)", q86, Some(o86)),
    GraftQuery("q87_hybrid_rrf", "hybrid retrieval: reciprocal-rank fusion of BM25 + dense cosine top-k", q87, Some(o87)))
}
