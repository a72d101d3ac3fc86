package graft

import graft.operators.{ImageCodec, Multimodal, TrainingData}
import graft.tools.Curate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 pipeline closures: the contamination report off a pre-built
  * train-gram set equals the text form, Curate emits the per-benchmark contamination
  * report and the BPE mixture column as stage artifacts, and the
  * `--media` stage removes a planted cross-format (BMP/PNG/JPEG) copy
  * end-to-end, stamped and resumable.
  */
class CurateRound16Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("contamination report off the persisted gram index equals the text form") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "source", "text")
    val train = docs.filter(col("doc_id") % 10 < 8)
    val bench = docs.filter(col("doc_id") % 10 >= 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    val fromText = rows(TrainingData.benchmarkContaminationReport(train, bench))
    val fromIndex = rows(TrainingData.benchmarkContaminationReportFromGrams(
      TrainingData.gramRowsOf(train), bench))
    assert(fromText == fromIndex,
      "index-backed report diverged from the text form")
    assert(fromText.nonEmpty && fromText.exists(_._3 > 0),
      "fixture must exercise a dirty benchmark doc")
  }

  test("Curate emits contamination_report + BPE mixture column, and the " +
      "--media stage removes a planted cross-format copy, resumably") {
    // planted media sidecar: one raster in three formats + one distinct
    val w = 16; val h = 12
    val px = Array.tabulate(w * h * 3) { i =>
      if ((i / 3) % w < w / 2) 16.toByte else 240.toByte
    }
    val px2 = Array.tabulate(w * h * 3) { i =>
      if ((i / 3) / w < h / 2) 20.toByte else 220.toByte
    }
    val img = ImageCodec.Image(w, h, px)
    val md = java.nio.file.Files.createTempDirectory("curate-media")
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(md.resolve(name), bytes)
    put("copy_a.bmp", ImageCodec.encode(img))
    put("copy_b.png", ImageCodec.encodePng(img))
    put("copy_c.jpg", ImageCodec.encodeJpeg(img))
    put("other.bmp", ImageCodec.encode(ImageCodec.Image(w, h, px2)))

    val bench = Tables.documents(spark, TestSpark.sf0001)
      .filter(col("doc_id") % 17 === 3).select("doc_id", "source", "text")
    val out = java.nio.file.Files.createTempDirectory("curate-r16").toString
    val counts = Curate.run(spark, TestSpark.sf0001, out,
      benchmark = Some(bench), mediaDir = Some(md.toString))

    // media verdicts: the three copies collapse to one survivor
    assert(counts.mediaKept == 2L && counts.mediaDropped == 2L,
      s"planted copies must collapse: $counts")
    val verdicts = spark.read.parquet(s"$out/media_dedup")
    assert(verdicts.count() == 4L)
    assert(verdicts.filter(!col("keep")).count() == 2L)
    assert(verdicts.select("cluster_id").distinct().count() == 2L,
      "exactly two media families must remain")

    // the dataset-card artifact landed, stamped, with the q119 shape
    val report = spark.read.parquet(s"$out/contamination_report")
    assert(report.columns.toSeq == Seq("source", "n_docs", "n_dirty",
      "dirty_frac", "mean_leak_frac"))
    assert(report.agg(sum("n_docs")).head().getLong(0) == bench.count())
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"$out/contamination_report/_GRAFT_STAMP")))

    // round 17: both decontam stages now read the staged gram artifact
    // instead of re-gramming text — pin each stage's artifact
    // row-identical to its text-form kernel over the same inputs.
    val cleanArt = spark.read.parquet(s"$out/clean")
    val reportScratch = TrainingData.benchmarkContaminationReport(
      cleanArt.filter(col("split") === "train").select("doc_id", "text"),
      bench.select(col("doc_id"), col("source"), col("text")))
    def rrows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(rrows(report) == rrows(reportScratch),
      "staged-gram contamination_report diverged from the text form")
    val splitsArt = spark.read.parquet(s"$out/splits")
    val cleanScratch = splitsArt.join(
      TrainingData.contaminatedTestDocsWithSplit(splitsArt)
        .filter(col("n_shared_grams") >= 1L).select("doc_id"),
      Seq("doc_id"), "left_anti")
    assert(cleanArt.select("doc_id").collect().map(_.getLong(0)).toSet ==
      cleanScratch.select("doc_id").collect().map(_.getLong(0)).toSet,
      "staged-gram clean stage diverged from the text form")

    // the mixture report carries the BPE supply column
    val mix = spark.read.parquet(s"$out/mixture_report")
    assert(mix.columns.contains("n_bpe_tok"))
    assert(mix.filter(col("n_bpe_tok") <= 0).count() == 0L)

    // resume: the media stage's stamp is untouched (no recompute) …
    val stampPath = java.nio.file.Paths.get(s"$out/media_dedup/_GRAFT_STAMP")
    val t0 = java.nio.file.Files.getLastModifiedTime(stampPath)
    Curate.run(spark, TestSpark.sf0001, out, benchmark = Some(bench),
      mediaDir = Some(md.toString), resume = true)
    assert(java.nio.file.Files.getLastModifiedTime(stampPath) == t0,
      "resume must reuse the stamped media stage")
    // … but a CHANGED sidecar (new file) re-runs it
    put("copy_d.png", ImageCodec.encodePng(img))
    val c2 = Curate.run(spark, TestSpark.sf0001, out, benchmark = Some(bench),
      mediaDir = Some(md.toString), resume = true)
    assert(c2.mediaDropped == 3L,
      s"changed sidecar must re-run the media stage: $c2")
  }
}
