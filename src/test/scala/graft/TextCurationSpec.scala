package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the corpus-cleaning kernels behind q50 (boilerplate
  * signal) and q52 (PII redaction) on controlled inputs.
  */
class TextCurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("boilerplate: a gram recurring across >1% of docs is flagged, unique text is not") {
    // 200 docs sharing one 3-gram ("click here now", df=200) + unique
    // padding; threshold df*100 > n_docs (1%) flags only that gram
    val boiler = "click here now"
    val docs = (0L until 200L)
      .map(i => (i, s"$boiler unique$i filler$i extra$i words$i"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.boilerplateSignal(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_boiler"),
          r.getAs[Double]("boiler_frac"))).toMap
    assert(got.size == 200)
    // each doc: 7 words -> 5 grams; exactly 1 is corpus-hot ("click
    // here now" — the grams bridging into unique$i words are unique)
    assert(got.values.forall(_ == ((5L, 1L, 0.2))))
  }

  test("boilerplate: below-threshold corpora report zero and keep every doc") {
    val docs = (0L until 200L)
      .map(i => (i, s"alpha$i beta$i gamma$i delta$i"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.boilerplateSignal(docs).collect()
    assert(got.length == 200)
    assert(got.forall(_.getAs[Long]("n_boiler") == 0L))
  }

  test("pii: emails, phones and ips redact to placeholders, clean text unchanged") {
    val rows = Seq(
      (1L, "reach me at jane.doe42@corp.example.io thanks"),
      (2L, "call 555-867-5309 or 555-123-4567 now"),
      (3L, "host 192.168.0.1 gateway 10.0.0.254"),
      (4L, "mixed bob@a.io then 555-000-1111 on 127.0.0.1"),
      (5L, "no sensitive content in this row at all"))
      .toDF("id", "t")
      .select(col("id"), TextAnalysis.redactPii(col("t")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(1L) == "reach me at <EMAIL> thanks")
    assert(rows(2L) == "call <PHONE> or <PHONE> now")
    assert(rows(3L) == "host <IP> gateway <IP>")
    assert(rows(4L) == "mixed <EMAIL> then <PHONE> on <IP>")
    assert(rows(5L) == "no sensitive content in this row at all")
  }

  test("pii: counts match the redactions, email pattern wins over ip inside addresses") {
    // the email's dotted local/domain parts must not leak ip/phone
    // matches after the email is replaced first
    val df = Seq((1L, "a1.b2@x9.example.com and 1.2.3.4")).toDF("id", "t")
    val counts = df.select(TextAnalysis.piiCounts(col("t")): _*).collect()(0)
    assert(counts.getAs[Long]("n_email") == 1L)
    assert(counts.getAs[Long]("n_phone") == 0L)
    assert(counts.getAs[Long]("n_ip") == 1L)
    val red = df.select(TextAnalysis.redactPii(col("t")).as("r"))
      .collect()(0).getString(0)
    assert(red == "<EMAIL> and <IP>")
  }

  test("pii: ssn and card redact without biting phones, ips, or each other") {
    val rows = Seq(
      (1L, "ssn 123-45-6789 on file"),
      (2L, "card 1234 5678 9012 3456 charged"),
      (3L, "card 1234-5678-9012-3456 dashed"),
      (4L, "phone 555-123-4567 is not an ssn"),
      (5L, "mixed 987-65-4321 then 555-000-1111 then 10.0.0.1"))
      .toDF("id", "t")
      .select(col("id"), TextAnalysis.redactPii(col("t")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(1L) == "ssn <SSN> on file")
    assert(rows(2L) == "card <CARD> charged")
    assert(rows(3L) == "card <CARD> dashed")
    assert(rows(4L) == "phone <PHONE> is not an ssn")
    assert(rows(5L) == "mixed <SSN> then <PHONE> then <IP>")
  }

  test("q50 plans three documents scans with no window") {
    val p = Registry.byName("q50_boilerplate").run(spark, TestSpark.sf0001)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val scans = p.linesIterator.count(_.matches("""^\(\d+\) Scan parquet\s*$"""))
    assert(scans == 3, s"expected hot + per-doc + n_docs scans, got $scans")
    assert(!p.contains("Window"), "corpus df must be an aggregate, not a window")
  }

  test("q61 ensemble executes exactly three documents scans (fused tokenized frame)") {
    // row-local quality+repetition pass, word pre-aggregate, gram
    // pre-aggregate — the naive per-leg form was ~7 scans. The two
    // pre-aggregates are persisted and every other branch reads the
    // cache back (InMemoryTableScan), so only three parquet scans
    // materialize. Execute first (the caches and AQE finalize at
    // runtime), then count DISTINCT scan node ids — the formatted
    // output repeats a cached subplan's scan in its Initial Plan
    // printout, so a raw line count overstates.
    val df = Registry.byName("q61_quality_ensemble").run(spark, TestSpark.sf0001)
    df.collect()
    val fin = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val scanIds = """Scan parquet\s+\((\d+)\)""".r
      .findAllMatchIn(fin).map(_.group(1)).toSet
    assert(scanIds.size <= 3,
      s"expected <=3 materialized documents scans (row-local + word + gram), got ${scanIds.size}")
    assert(fin.contains("InMemoryTableScan"),
      s"expected the word/gram pre-aggregates to be read from cache:\n${fin.take(2000)}")
    assert(!fin.contains("Window"), "no window anywhere in the ensemble")
  }

  test("q61 fused legs equal the standalone kernels, including edge docs") {
    // the fusion shares tokenized frames instead of calling each
    // kernel; this pins value-equality against the UNFUSED composition
    // on adversarial shapes the fixtures don't cover: empty text (one
    // empty-string token, zero grams), one- and two-word docs (no
    // grams -> boiler_frac/dup_frac 0.0), heavy in-doc repetition, and
    // a doc that is pure corpus-hot boilerplate
    // doc 7 has NULL text: both compositions drop it from the output
    // (no token rows -> no LM row -> the inner join filters it), but
    // it must still count into the boilerplate n_docs denominator
    val docs = Seq(
      (1L, ""), (2L, "solo"), (3L, "two words"),
      (4L, "a b c a b c a b c a b c"),
      (5L, "x y z w v u t s r q p o n m"),
      (6L, "a b c a b c"), (7L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val fused = TextAnalysis.qualityEnsemble(docs, 0.0, 1.0, 1.0, 0.0)
      .select("doc_id", "quality", "dup_frac", "boiler_frac", "mean_prob")
    val unfused = TextAnalysis.withQuality(docs).select(col("doc_id"), col("quality"))
      .join(graft.operators.TrainingData.repetitionSignal(docs)
        .select(col("doc_id"), col("dup_frac")), "doc_id")
      .join(TextAnalysis.boilerplateSignal(docs)
        .select(col("doc_id"), col("boiler_frac")), "doc_id")
      .join(TextAnalysis.unigramLm(docs)
        .select(col("doc_id"), col("mean_prob")), "doc_id")
    assert(fused.count() == 6)
    // bit-identical doubles: exact collect comparison, no tolerance
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("quality"), r.getAs[Double]("dup_frac"),
          r.getAs[Double]("boiler_frac"), r.getAs[Double]("mean_prob")))).toMap
    assert(rows(fused) == rows(unfused))
  }

  test("fused ensemble counts null-text docs into n_docs at the hot-gram boundary") {
    // regression for the fused n_docs source: counting distinct doc_id
    // over the WORD pre-aggregate missed null-text docs (no token
    // rows), shifting the hot threshold df*100 > n_docs for EVERY doc.
    // This corpus sits exactly on the boundary: 200 docs (199 textual
    // + 1 null), one gram shared by exactly 2 docs -> df*100 = 200,
    // which is NOT > 200 (not hot) but would be > 199 if the null doc
    // were dropped. boiler_frac must match the standalone kernel: 0.0.
    val docs = ((0L until 197L)
      .map(i => (i, s"pad${i}a pad${i}b pad${i}c pad${i}d"))
      ++ Seq((500L, "same gram here tailx tailya"),
        (501L, "same gram here tailp tailqa"),
        (502L, null.asInstanceOf[String])))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    def boiler(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("boiler_frac")).toMap
    val fused = boiler(TextAnalysis.qualityEnsemble(docs, 0.0, 1.0, 1.0, 0.0)
      .select(col("doc_id"), col("boiler_frac")))
    val standalone = boiler(TextAnalysis.boilerplateSignal(docs)
      .select(col("doc_id"), col("boiler_frac")))
    assert(fused(500L) == 0.0 && fused(501L) == 0.0,
      s"df=2 of n_docs=200 must NOT be hot: ${fused(500L)}, ${fused(501L)}")
    assert(fused == (standalone - 502L),
      "fused boiler_frac must equal the standalone kernel on all textual docs")
  }

  test("unigram lm: mean token probability is the exact integer-scaled value") {
    // freqs over the corpus: a=2, b=1, c=1, total=4 → scaled probs
    // (×1e12, floored): a=5e11, b=2.5e11, c=2.5e11. Doc 1 = "a a b":
    // sum=1.25e12 over 3 tokens → mean 0.41666…; doc 2 = "c" → 0.25.
    val r = TextAnalysis.unigramLm(
        Seq((1L, "a a b"), (2L, "c")).toDF("doc_id", "text"))
      .collect().map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_tokens"), x.getAs[Long]("sum_scaled"),
          x.getAs[Double]("mean_prob")))).toMap
    assert(r(1L) == ((3L, 1250000000000L, 1.25e12 / 3e12)))
    assert(r(2L) == ((1L, 250000000000L, 0.25)))
  }

  test("q56 static plan: three branches of one shared pre-aggregate, no window") {
    // the static plan still shows a scan per branch (freq/total/per-doc
    // all derive from the same (doc_id, w, cnt) pre-aggregate subtree);
    // AQE collapses them to ONE materialized scan at runtime via
    // exchange reuse — pinned in PlanShapeSpec's executed-plan test
    val p = Registry.byName("q56_unigram_lm").run(spark, TestSpark.sf0001)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val scans = p.linesIterator.count(_.matches("""^\(\d+\) Scan parquet\s*$"""))
    assert(scans == 3, s"expected freq + total + per-doc scan branches, got $scans")
    assert(!p.contains("Window"), "corpus frequency must be an aggregate, not a window")
  }

  test("quality ensemble: failing any single leg drops the doc, all-pass keeps it") {
    import graft.operators.TextAnalysis
    // four docs, each built to sit on the wrong side of exactly one
    // signal relative to doc 1; thresholds are derived from the
    // MEASURED signals (midpoints), so the test asserts discrimination,
    // not hand-computed constants
    val common = (1 to 40).map(i => s"w$i")
    def doc(extra: Seq[String]) = (common ++ extra).mkString(" ")
    val texts = Seq(
      1L -> doc((41 to 80).map(i => s"x$i")),                  // baseline
      2L -> doc(Seq.fill(15)(Seq("w1", "w2", "w3")).flatten),  // repeated 3-grams
      3L -> doc((1 to 60).flatMap(_ => Seq("the", "of", "a", "to"))), // stopword-heavy
      4L -> (1 to 80).map(i => s"zzqrare$i").mkString(" "))    // rare-vocab only
    val df = texts.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    def signals(minQ: Double, maxDup: Double, maxBoiler: Double, minLm: Double) =
      TextAnalysis.qualityEnsemble(df, minQ, maxDup, maxBoiler, minLm)
        .collect().map(x => x.getAs[Long]("doc_id") ->
          (x.getAs[Boolean]("keep"), x.getAs[Double]("quality"),
            x.getAs[Double]("dup_frac"), x.getAs[Double]("mean_prob"))).toMap
    val probe = signals(0.0, 1.0, 1.0, 0.0)
    // each planted doc is on the wrong side of its leg vs the baseline
    assert(probe(2L)._3 > probe(1L)._3, "doc 2 must have higher dup_frac")
    assert(probe(3L)._2 < probe(1L)._2, "doc 3 must have lower quality")
    assert(probe(4L)._4 < probe(1L)._4, "doc 4 must have lower mean_prob")
    val r = signals(
      minQ = (probe(1L)._2 + probe(3L)._2) / 2,
      maxDup = (probe(1L)._3 + probe(2L)._3) / 2,
      maxBoiler = 1.0, // 4-doc corpora make every shared gram "hot"; leg exercised at the oracle gate
      minLm = (probe(1L)._4 + probe(4L)._4) / 2)
    assert(r(1L)._1, s"baseline must pass all legs: ${r(1L)}")
    assert(!r(2L)._1, "doc 2 must fail the repetition leg")
    assert(!r(3L)._1, "doc 3 must fail the quality leg")
    assert(!r(4L)._1, "doc 4 must fail the LM leg")
  }

  test("length quantiles: exact rank selection, per language, no interpolation") {
    // en: lengths 1..20 (n=20) -> ranks p25=ceil(5)=5, p50=10, p75=15,
    // p95=ceil(19)=19 -> values 5,10,15,19. fr: lengths {7} (n=1) ->
    // every quantile is the single value (rank math must hit rk=1)
    val docs = ((1L to 20L).map(i => (i, "en", i)) :+ (100L, "fr", 7L))
      .toDF("doc_id", "lang", "n_chars")
    val got = TextAnalysis.lengthQuantiles(docs).collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("p25"), r.getAs[Long]("p50"),
          r.getAs[Long]("p75"), r.getAs[Long]("p95"))).toMap
    assert(got("en") == ((20L, 5L, 10L, 15L, 19L)), s"got ${got("en")}")
    assert(got("fr") == ((1L, 7L, 7L, 7L, 7L)))
  }

  test("q68 plans one exchange: the aggregate reuses the window's lang partitioning") {
    val p = Registry.byName("q68_length_quantiles").run(spark, TestSpark.sf0001)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val exchanges = p.linesIterator.count(_.matches("""^\(\d+\) Exchange\s*$"""))
    assert(exchanges == 1, s"expected one lang exchange, got $exchanges:\n${p.take(2000)}")
  }

  test("lexical retrieval: rare terms dominate, shorter docs outrank at equal tf") {
    // query = {x, common}: 'common' is in docs 1+2 (idf 2), 'x' only in
    // doc 3 (idf 4) → doc 3 ranks first; docs 1 vs 2 tie on tf but doc 2
    // is 3x longer → BM25 length normalization ranks doc 1 above it;
    // doc 4 matches nothing and is absent
    val r = TextAnalysis.lexicalTopK(Seq(
        (1L, "common alpha beta"),
        (2L, "common alpha beta gamma delta epsilon zeta eta theta"),
        (3L, "x alpha beta"),
        (4L, "alpha beta gamma")).toDF("doc_id", "text"),
      Seq("x", "common"), 10)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(r == Seq(3L, 1L, 2L))
  }

  test("q58 top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = Registry.byName("q58_lexical_topk").run(spark, TestSpark.sf0001)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k heap in:\n${p.take(1500)}")
  }

  test("q52 is scan-shaped: zero exchanges") {
    val p = Registry.byName("q52_pii_redact").run(spark, TestSpark.sf0001)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Exchange"), "redaction must not shuffle")
  }

  test("oov: words under the df threshold count as out-of-vocabulary") {
    // "common" appears in all 10 docs (df=10 >= 0.5*10 → in vocab);
    // each "rareN" appears once (df=1 < 5 → OOV). Docs 0-4 carry one
    // rare word; docs 5-9 are all-vocab.
    val docs = (0L until 10L)
      .map(i => (i, if (i < 5) s"common rare$i" else "common common"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("s").as("source"), length(col("text")).cast("long").as("n_chars"))
    val got = TextAnalysis.oovRate(docs, dfFrac = 0.5).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
          r.getAs[Double]("oov_rate")))).toMap
    assert(got.size == 10)
    (0L until 5L).foreach(i => assert(got(i) == ((2L, 1L, 0.5))))
    (5L until 10L).foreach(i => assert(got(i) == ((2L, 0L, 0.0))))
  }

  test("oov invariants: one row per doc, counts bounded, rate consistent") {
    val rnd = new scala.util.Random(7)
    val docs = (0L until 80L)
      .map(i => (i, Seq.fill(2 + rnd.nextInt(10))("t" + rnd.nextInt(30)).mkString(" ")))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("s").as("source"), length(col("text")).cast("long").as("n_chars"))
    val rows = TextAnalysis.oovRate(docs, dfFrac = 0.3).collect()
    assert(rows.length == 80)
    rows.foreach { r =>
      val (nt, no) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"))
      assert(no >= 0 && no <= nt && nt > 0)
      assert(r.getAs[Double]("oov_rate") == no.toDouble / nt)
    }
  }

  test("q54 broadcasts the bounded vocabulary; tokens never join-shuffle") {
    val p = Registry.byName("q54_oov_rate").run(spark, TestSpark.sf0001)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("BroadcastHashJoin"),
      s"vocab membership must be a broadcast join:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the token stream must not shuffle for the vocab join")
  }

  test("q71: word order moves the bigram score where the unigram score can't see it") {
    // corpus: "a b" dominates after 'a' (4 of 5), "b a" after 'b' (3 of 4)
    //   doc1 = alternating (every bigram is the majority continuation)
    //   doc2 = same tokens reordered into rare continuations (aa, bb)
    val docs = Seq(
      (1L, "a b a b a b a b"), // bigrams: 4×"a b", 3×"b a"
      (2L, "a a b b"))         // bigrams: "a a", "a b", "b b"
      .toDF("doc_id", "text")
    val rows = TextAnalysis.bigramLm(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("mean_prob"))).toMap
    assert(rows(1L)._1 == 7L && rows(2L)._1 == 3L)
    // exact conditionals: C(a·)=6, C(b·)=4; doc1 mean=(4·5/6+3·3/4)/7,
    // doc2 mean=(1/6+5/6+1/4)/3 — doc1 is far more "fluent"
    assert(rows(1L)._2 > 0.75 && rows(2L)._2 < 0.45)
    // a one-word doc has no bigram evidence and is absent
    val single = TextAnalysis.bigramLm(Seq((9L, "solo")).toDF("doc_id", "text"))
    assert(single.count() == 0L)
  }

  private def norm1(s: String): String = {
    val df = Seq((1L, s)).toDF("doc_id", "text")
      .select(TextAnalysis.normalizeText(col("text")).as("n"))
    df.head().getString(0)
  }

  test("q81: the full normalization chain on planted dirt") {
    // q81's exact dirty template: NFC composes the combining marks,
    // NBSP/ideographic spaces map to ASCII, ZWSP and BEL vanish, CRLF
    // folds to LF, tab runs collapse, edges trim
    val dirty =
      "\u00A0\u00A0hello world\u200B cafe\u0301\t\tnai\u0308ve\r\n\u0007end " +
      "\u1100\u1161\u11A8 \u212B\u2126 e\u0323\u0301e\u0301\u0323 \u0418\u0306\uFB01\u3000"
    assert(norm1(dirty) == "hello world caf\u00E9 na\u00EFve\nend " +
      "\uAC01 \u00C5\u03A9 \u1EB9\u0301\u1EB9\u0301 \u0419\uFB01")
  }

  test("q81: normalization is idempotent and the identity on clean text") {
    val cases = Seq(
      "already clean ascii text",
      " lead nbsp\u00A0\u00A0run",
      "zero\u200Bwidth\uFEFFeverywhere\u00AD",
      "cr\rlf\r\nmix\r",
      "ctl\u0001\u0002chars",
      "tabs\t\t\tand  spaces")
    for (c <- cases) {
      val once = norm1(c)
      assert(norm1(once) == once, s"not idempotent on ${c.map(_.toInt)}")
    }
    assert(norm1("already clean ascii text") == "already clean ascii text")
  }

  test("q81: NFC kernel — decomposed composes, ASCII takes the zero-copy path") {
    import org.apache.spark.unsafe.types.UTF8String
    // decomposed e + U+0301 composes to the precomposed codepoint
    assert(graft.functions.NfcNormalize.compute(
      UTF8String.fromString("cafe\u0301")).toString == "caf\u00E9")
    // already-NFC non-ASCII input comes back as the same buffer
    val nfc = UTF8String.fromString("caf\u00E9")
    assert(graft.functions.NfcNormalize.compute(nfc) eq nfc)
    // the ASCII fast path returns the INPUT reference — no allocation
    val ascii = UTF8String.fromString("plain ascii text")
    assert(graft.functions.NfcNormalize.compute(ascii) eq ascii)
  }

  test("q81: stripping cannot re-expose a blocked combining sequence") {
    // a zero-width or control char between a base and its combining
    // mark blocks NFC composition; if the strip ran AFTER composing,
    // the strip would leave the decomposed pair behind (non-NFC,
    // non-idempotent output). The chain strips first, so both compose.
    assert(norm1("e\u200B\u0301x") == "\u00E9x")
    assert(norm1("e\u0007\u0301x") == "\u00E9x")
    val out = norm1("e\uFEFF\u0308")
    assert(out == "\u00EB" &&
      java.text.Normalizer.isNormalized(out, java.text.Normalizer.Form.NFC))
  }

  test("q81: CR folding sees through stripped junk, matching the staged chain") {
    // the chain strips zero-width/control chars BEFORE folding CRLF,
    // so CR + strippable junk + LF is ONE newline — the fused kernel's
    // lookahead corner (a naive single pass would emit two)
    assert(norm1("a\r\u200B\nb") == "a\nb")
    assert(norm1("a\r\u0007\u000B\nb") == "a\nb")
    assert(norm1("a\r\rb") == "a\n\nb") // CR CR is two lone folds
    assert(norm1("a\rb") == "a\nb")
    assert(norm1("tail\r") == "tail\n")
  }

  test("q81: normalization repairs byte-level dedup on visually-identical docs") {
    // the operational point of the stage: the same sentence typed with
    // precomposed accents vs decomposed marks + NBSP padding + a ZWSP
    // hashes as two distinct documents raw, and as ONE after
    // normalizeText — i.e. q22's md5-groupBy only deduplicates these
    // once q81 has run
    val clean = "caf\u00E9 menu for na\u00EFve guests"
    val dirty =
      "\u00A0cafe\u0301 menu for\u200B nai\u0308ve guests\u3000"
    val docs = Seq((1L, clean), (2L, dirty)).toDF("doc_id", "text")
    val raw = docs.select(md5(col("text").cast("binary")).as("h"))
      .distinct().count()
    val normed = docs
      .select(md5(TextAnalysis.normalizeText(col("text")).cast("binary")).as("h"))
      .distinct().count()
    assert(raw == 2L, "raw bytes must differ (the failure mode)")
    assert(normed == 1L, "normalized bytes must collapse to one document")
  }

  test("q82: C4 line rules keep exactly the punctuated >=5-word non-js lines") {
    val page = Seq(
      "This first sentence has enough words here.", // kept
      "Too short.",                                 // < 5 words
      "no terminal punctuation on this line at all", // no punct
      "Enable Javascript to view this entire page.", // javascript
      "Does a question mark count as terminal?",     // kept (?)
      "\"A quoted ending also survives the rule.\"") // kept (")
      .mkString("\n")
    val out = Seq((1L, page)).toDF("doc_id", "text")
      .select(TextAnalysis.c4KeptLines(col("text")).as("k"))
      .head().getSeq[String](0)
    assert(out == Seq(
      "This first sentence has enough words here.",
      "Does a question mark count as terminal?",
      "\"A quoted ending also survives the rule.\""))
  }

  test("q82: page rules drop brace, lorem ipsum, and thin pages") {
    def verdict(page: String): Boolean =
      Seq((1L, page)).toDF("doc_id", "text")
        .select(TextAnalysis.c4PageKeep(col("text"),
          TextAnalysis.c4KeptLines(col("text"))).as("p"))
        .head().getBoolean(0)
    val threeGood = Seq(
      "One full sentence with plenty of words here.",
      "Two full sentences with plenty of words here.",
      "Three full sentences with plenty of words here.")
    assert(verdict(threeGood.mkString("\n")))
    // a brace ANYWHERE on the page kills it, even on a dropped line
    assert(!verdict((threeGood :+ "x { y").mkString("\n")))
    // lorem ipsum kills the page even though its line PASSES line rules
    assert(!verdict((threeGood :+
      "Lorem ipsum dolor sit amet consectetur.").mkString("\n")))
    // fewer than 3 surviving lines kills the page
    assert(!verdict(threeGood.take(2).mkString("\n")))
  }

  test("q106: lines in >= minDocs DISTINCT docs excise everywhere, order preserved") {
    val pages = Seq(
      (1L, "u1\nHOT\nu2"),
      (2L, "HOT\nu3"),
      (3L, "zz\naa"), // kept order must be positional, not alphabetical
      (4L, "HOT"), // fully excised page reports ''
      (6L, "dup\ndup"), // in-doc repetition counts ONCE toward distinctness
      (7L, "dup")
    ).toDF("doc_id", "t")
    val out = TextAnalysis.lineExcision(pages, minDocs = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // HOT in docs {1,2,4} and dup in {6,7} are hot; u*/zz/aa are not
    assert(out(1L) == ((3L, 1L, "u1\nu2")))
    assert(out(2L) == ((2L, 1L, "u3")))
    assert(out(3L) == ((2L, 0L, "zz\naa")))
    assert(out(4L) == ((1L, 1L, "")))
    assert(out(6L) == ((2L, 2L, "")))
    assert(out(7L) == ((1L, 1L, "")))
  }

  test("q106: below-threshold corpora excise nothing and pages round-trip") {
    val pages = Seq((1L, "a\nb"), (2L, "c\nd")).toDF("doc_id", "t")
    val out = TextAnalysis.lineExcision(pages, minDocs = 2).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out == Map(1L -> "a\nb", 2L -> "c\nd"))
  }

  test("q83: pair counts are vocabulary-weighted and exactly the BPE statistic") {
    // corpus: "ab ab abc cd" — vocab {ab:2, abc:1, cd:1}; within-word
    // pairs weighted by word freq: ab -> 2 (from "ab") + 1 (from
    // "abc") = 3, bc -> 1, cd -> 1; argmax "ab" is BPE merge #1
    val docs = Seq((1L, "ab ab abc"), (2L, "cd")).toDF("doc_id", "text")
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .filter(length(col("w")) >= 2)
    val pairs = vocab
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pairs == Map("ab" -> 3L, "bc" -> 1L, "cd" -> 1L))
  }

  test("q99: merge application is true char-level BPE (rank order, non-overlap, placeholder isolation)") {
    // corpus: "aaab aaab cd" — vocab {aaab:2, cd:1}; pair stats:
    // aa -> 4 (two overlapping positions per "aaab" × freq 2),
    // ab -> 2, cd -> 1, so the merge table (rank order) is
    // [aa, ab, cd, ...]. Applying to "aaab": merge "aa" left-to-right
    // non-overlapping gives [aa, a, b] (the second 'aa' position
    // overlaps and must NOT merge), then "ab" merges the tail to
    // [aa, ab] — 2 symbols. "cd" -> [cd] — 1 symbol. Per doc 1
    // (two "aaab" tokens): n_ws 2, n_bpe 4; doc 2: 1 and 1.
    val docs = Seq((1L, "aaab aaab"), (2L, "cd")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeApply(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_ws_tokens"), r.getAs[Long]("n_bpe_tokens"),
          r.getAs[Double]("compression"))).toMap
    assert(got(1L) == ((2L, 4L, 2.0)), s"doc 1: ${got(1L)}")
    assert(got(2L) == ((1L, 1L, 1.0)), s"doc 2: ${got(2L)}")
    // rank order is load-bearing: a higher-rank merge consumes chars a
    // lower-rank merge would otherwise use. Corpus where "bc" outranks
    // "ab": "bc bc bc abc" — pairs: bc -> 4 (3 + 1 from "abc"),
    // ab -> 1. "abc" must tokenize as [a, bc] (bc first), NOT [ab, c].
    val docs2 = Seq((1L, "bc bc bc abc")).toDF("doc_id", "text")
    val got2 = TextAnalysis.bpeApply(docs2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_ws_tokens"), r.getAs[Long]("n_bpe_tokens"))).toMap
    // "bc"×3 -> 1 symbol each; "abc" -> [a, bc] = 2 symbols; total 5
    assert(got2(1L) == ((4L, 5L)), s"rank-order application: ${got2(1L)}")
    // a word UNTOUCHED by any merge keeps its char count (placeholder
    // chars never leak into lengths of unmerged words)
    val docs3 = Seq((1L, "xyz xyz"), (2L, "qq")).toDF("doc_id", "text")
    val got3 = TextAnalysis.bpeApply(docs3).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_bpe_tokens")).toMap
    // merge table from this corpus: xy/yz/qq ranks (xy 2, yz 2, qq 1)
    // -> "xyz" = [xy, z] 2 symbols ×2 tokens = 4; "qq" = [qq] = 1
    assert(got3 == Map(1L -> 4L, 2L -> 1L), s"got: $got3")
  }

  test("q81: nfc_normalize is SQL-registered and null-safe") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT nfc_normalize('cafe\u0301') AS c, nfc_normalize(CAST(NULL AS STRING)) AS n")
      .head()
    assert(r.getString(0) == "caf\u00E9" && r.isNullAt(1))
  }
}
