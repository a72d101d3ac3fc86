package graft

import graft.operators.{Multimodal, RiskScoring, ScaleVariants}
import graft.sources.FileCatalog
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Approx-distinct accuracy, multimodal plumbing, and
  * file-catalog pruning.
  */
class ExtensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("events read fails loudly at the read site on an unexpected ts type") {
    // Tables.apply branches on the ts dataType (raw-nanos LongType on
    // legacy fixtures, a timestamp type on current ones); a THIRD shape
    // must throw a descriptive error immediately, not surface later as
    // an opaque analysis failure three joins downstream.
    val dir = Files.createTempDirectory("badevents").toString
    Seq((1L, "not-a-timestamp", "click"))
      .toDF("event_id", "ts", "event_type")
      .write.parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("unexpected type"))
    assert(e.getMessage.contains("StringType"))
  }

  test("approx_count_distinct stays within 5% of exact") {
    val events = Tables.events(spark, TestSpark.sf0001)
    val exact = RiskScoring.riskTable(events)
      .select("user_id", "n_types", "n_purchases")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val approx = ScaleVariants.approxRisk(events).collect()
    approx.foreach { r =>
      val (et, ep) = exact(r.getAs[Long]("user_id"))
      val (at, ap) = (r.getAs[Long]("n_types_approx"), r.getAs[Long]("n_purchases_approx"))
      // rsd=0.05 is a relative std-dev, not a hard bound — allow 3σ-ish
      assert(math.abs(at - et) <= math.max(3, 0.15 * et), s"types: $at vs $et")
      assert(math.abs(ap - ep) <= math.max(3, 0.15 * ep), s"purchases: $ap vs $ep")
    }
  }

  test("q32 HLL error bound vs exact at sf0.01: per-user 3-sigma, mean within rsd") {
    // the driver-gate fixture scale: per-user sketch error stays inside
    // ~3σ of rsd=0.05, and the MEAN relative error across users stays
    // inside rsd itself — the aggregate claim the rows-only q32 rests on
    val events = Tables.events(spark, "/root/testdata/sf0.01")
    val exact = RiskScoring.riskTable(events)
      .select("user_id", "n_types", "n_purchases")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val approx = ScaleVariants.approxRisk(events).collect()
    assert(approx.length == exact.size)
    val relErrs = approx.map { r =>
      val (et, ep) = exact(r.getAs[Long]("user_id"))
      val (at, ap) = (r.getAs[Long]("n_types_approx"), r.getAs[Long]("n_purchases_approx"))
      assert(math.abs(at - et) <= math.max(3, 0.15 * et), s"types: $at vs $et")
      assert(math.abs(ap - ep) <= math.max(3, 0.15 * ep), s"purchases: $ap vs $ep")
      if (et > 0) math.abs(at - et).toDouble / et else 0.0
    }
    val meanRel = relErrs.sum / relErrs.length
    assert(meanRel <= 0.05, s"mean relative error $meanRel exceeds rsd 0.05")
  }

  test("q32b dedup-first form matches COUNT DISTINCT null semantics (fused-aggregate parity)") {
    // the round-13 Expand-free rewrite pre-deduplicates each distinct
    // column; the distinct frame RETAINS a (user, NULL) row, which
    // count(*) would count but COUNT DISTINCT excludes — this pins
    // count(col) semantics against the fused aggregate on a corpus
    // with null event types / null purchase ids and an all-null user
    import spark.implicits._
    val events = Seq[(Long, String, java.lang.Long)](
      (1L, "view", 10L), (1L, null, 11L), (1L, "purchase", 12L),
      (1L, "purchase", null.asInstanceOf[java.lang.Long]),
      (2L, null, 20L), // all-null types: must still appear with n_types = 0
      (3L, "purchase", 30L), (3L, "purchase", 30L)
    ).toDF("user_id", "event_type", "event_id")
    val fused = events.groupBy(col("user_id")).agg(
      countDistinct(col("event_type")).as("n_types"),
      countDistinct(when(col("event_type") === "purchase", col("event_id")))
        .as("n_purchases"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = ScaleVariants.approxVsExact(events)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == fused, s"dedup-first exact counts drifted: $got vs $fused")
  }

  test("q60b/q80b staged-hash companions reproduce q60/q80 exactly") {
    // the DuckDB-checked halves split the pipeline at the decode
    // boundary: staging the aHashes through parquet and re-reading
    // them must not move a single pair (hash values are exact longs —
    // any drift would mean the staged frame the ORACLE reads differs
    // from what the in-memory pipeline consumed)
    def pairs(name: String) = Registry.byName(name)
      .run(spark, TestSpark.sf0001).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("hamming"))).toSet
    assert(pairs("q60b_image_pairs_sql") == pairs("q60_image_near_dups"))
    assert(pairs("q80b_audio_pairs_sql") == pairs("q80_audio_near_dups"))
  }

  test("multimodal: real BMP codec decodes, resizes, and drives the image stage") {
    import graft.operators.ImageCodec
    // 6x4 gradient; width 6 forces row padding (18 -> 20-byte stride)
    val w = 6; val h = 4
    val px = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val i = (y * w + x) * 3
      px(i) = (x * 37).toByte; px(i + 1) = (y * 53).toByte
      px(i + 2) = (x + y * 7).toByte
    }
    val img = ImageCodec.Image(w, h, px)
    val bytes = ImageCodec.encode(img)
    assert(ImageCodec.isBmp(bytes))
    assert(bytes.length == 54 + 20 * h) // header + padded bottom-up rows
    // decode is the exact inverse of encode (incl. row-order flip)
    val back = ImageCodec.decode(bytes)
    assert(back.width == w && back.height == h)
    assert(back.pixels.toSeq == px.toSeq)
    // nearest-neighbor half-size: output (x,y) samples source (2x,2y)
    val half = ImageCodec.resize(back, 3, 2)
    assert(half.width == 3 && half.height == 2)
    for (y <- 0 until 2; x <- 0 until 3)
      assert(half.bgr(x, y) == img.bgr(x * 2, y * 2))
    // through the Spark aHash stage: the BMP payload decodes to its
    // print, non-image media emits none
    val recs = Seq(
      Multimodal.MediaRecord(1L, bytes, "image", "s"),
      Multimodal.MediaRecord(2L, Array.fill[Byte](200)(7), "audio", "s"))
    val out = Multimodal.imageAHashes(spark.createDataset(recs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> ImageCodec.aHash(bytes)))
  }

  test("multimodal: aHash flips exactly the edited cell on margin-safe rasters") {
    import graft.operators.ImageCodec
    // 8x8 rasters whose pixels sit FAR from the mean (30 vs 220 gray):
    // editing one pixel moves the mean by (190*3)/64 ≈ 9 gray — well
    // inside every other pixel's ~90+ margin — so exactly one bit flips
    def bmpOf(bits: Long): Array[Byte] = {
      val px = new Array[Byte](192)
      for (i <- 0 until 64) {
        val v: Byte = if ((bits & (1L << i)) != 0) 220.toByte else 30.toByte
        px(i * 3) = v; px(i * 3 + 1) = v; px(i * 3 + 2) = v
      }
      ImageCodec.encode(ImageCodec.Image(8, 8, px))
    }
    val rnd = new scala.util.Random(31)
    val pattern = rnd.nextLong() | 1L // at least one bright pixel
    val base = ImageCodec.aHash(bmpOf(pattern))
    assert(base == pattern, "bright pixels above the mean ARE the hash bits")
    assert(ImageCodec.aHash(bmpOf(pattern)) == base) // deterministic
    val oneFlip = ImageCodec.aHash(bmpOf(pattern ^ (1L << 13)))
    assert(java.lang.Long.bitCount(base ^ oneFlip) == 1)
    // scale-invariance: the same pattern rendered 32x32 hashes identically
    val big = new Array[Byte](32 * 32 * 3)
    for (y <- 0 until 32; x <- 0 until 32) {
      val bit = (y / 4) * 8 + (x / 4)
      val v: Byte = if ((pattern & (1L << bit)) != 0) 220.toByte else 30.toByte
      val i = (y * 32 + x) * 3
      big(i) = v; big(i + 1) = v; big(i + 2) = v
    }
    assert(ImageCodec.aHash(ImageCodec.encode(ImageCodec.Image(32, 32, big))) == base)
  }

  test("multimodal: banded aHash dedup recalls EXACTLY the hamming<=3 image pairs") {
    import graft.operators.{Dedup, ImageCodec}
    def bmpOf(bits: Long): Array[Byte] = {
      val px = new Array[Byte](192)
      for (i <- 0 until 64) {
        val v: Byte = if ((bits & (1L << i)) != 0) 220.toByte else 30.toByte
        px(i * 3) = v; px(i * 3 + 1) = v; px(i * 3 + 2) = v
      }
      ImageCodec.encode(ImageCodec.Image(8, 8, px))
    }
    val rnd = new scala.util.Random(37)
    // 40 random images + planted families: exact copy, 1-, 2-, 3-bit
    // edits (must be recalled — pigeonhole guarantees ≤3 with 4 bands),
    // and a 4-bit edit that may legitimately miss
    val p0 = rnd.nextLong()
    def flips(n: Int): Long = (0 until n).map(i => 1L << (i * 11 + 2)).reduce(_ | _)
    val payloads =
      Seq(100L -> p0, 101L -> p0, 102L -> (p0 ^ flips(1)),
        103L -> (p0 ^ flips(2)), 104L -> (p0 ^ flips(3))) ++
        (0 until 40).map(i => i.toLong -> rnd.nextLong())
    val recs = payloads.map { case (id, bits) =>
      Multimodal.MediaRecord(id, bmpOf(bits), "image", "s")
    } :+ Multimodal.MediaRecord(999L, Array.fill[Byte](40)(9), "image", "s") // undecodable: skipped
    val hashes = Multimodal.imageAHashes(spark.createDataset(recs))
    val pairs = Dedup.bandedHammingPairs(hashes, 64, 4, 3, 200)
    // pin: binary never enters an exchange — the decode/hash
    // MapPartitions stage sits BELOW every Exchange in the plan tree
    // (tree prints root-first), so shuffled rows are always the
    // post-projection (doc_id, sh) shape
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions") && plan.contains("Exchange"))
    assert(plan.indexOf("MapPartitions") > plan.lastIndexOf("Exchange"),
      s"binary payload must be consumed map-side, below all exchanges:\n$plan")
    val got = pairs.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Int]("hamming")))
    // brute force over the same hashes: EXACT set equality
    val hs = hashes.collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val expected = (for {
      i <- hs.indices; j <- (i + 1) until hs.length
      d = java.lang.Long.bitCount(hs(i)._2 ^ hs(j)._2) if d <= 3
    } yield (hs(i)._1, hs(j)._1, d)).toSet
    assert(got.toSet == expected, "banded recall must equal brute force")
    assert(!hs.exists(_._1 == 999L), "undecodable payload skipped, not failed")
    val byPair = got.map(t => (t._1, t._2) -> t._3).toMap
    assert(byPair((100L, 101L)) == 0)
    assert(byPair((100L, 102L)) == 1)
    assert(byPair((100L, 103L)) == 2)
    assert(byPair((100L, 104L)) == 3)
  }

  test("multimodal: audio aHash bits are the loud slices; deterministic") {
    import graft.operators.AudioCodec
    // 512-sample clips = 64 slices of 8: slice i amplitude 1000 when bit
    // i is set, else 10. Any mix of 1..63 loud slices puts the global
    // mean strictly between the two levels, so hash == pattern exactly.
    def clipOf(bits: Long): Array[Byte] = {
      val samples = new Array[Short](512)
      for (i <- 0 until 64; j <- 0 until 8)
        samples(i * 8 + j) = if ((bits & (1L << i)) != 0) 1000 else 10
      AudioCodec.encode(AudioCodec.Audio(8000, 1, samples))
    }
    val rnd = new scala.util.Random(41)
    // bit 0 set, bit 63 clear: guarantees 1..63 loud slices
    val p = (rnd.nextLong() | 1L) & ~(1L << 63)
    val base = AudioCodec.aHash(clipOf(p))
    assert(base == p, "loud slices above the global mean ARE the hash bits")
    assert(AudioCodec.aHash(clipOf(p)) == base) // deterministic
    val oneFlip = AudioCodec.aHash(clipOf(p ^ (1L << 22)))
    assert(java.lang.Long.bitCount(base ^ oneFlip) == 1)
    // length-invariance: the same loudness pattern at double duration
    // (16-sample slices) hashes identically — re-encodes don't move bits
    val long2 = new Array[Short](1024)
    for (i <- 0 until 64; j <- 0 until 16)
      long2(i * 16 + j) = if ((p & (1L << i)) != 0) 1000 else 10
    assert(AudioCodec.aHash(AudioCodec.encode(AudioCodec.Audio(16000, 1, long2))) == base)
  }

  test("multimodal: banded audio aHash dedup recalls EXACTLY the hamming<=3 pairs") {
    import graft.operators.{AudioCodec, Dedup}
    def clipOf(bits: Long): Array[Byte] = {
      val samples = new Array[Short](512)
      for (i <- 0 until 64; j <- 0 until 8)
        samples(i * 8 + j) = if ((bits & (1L << i)) != 0) 1000 else 10
      AudioCodec.encode(AudioCodec.Audio(8000, 1, samples))
    }
    val rnd = new scala.util.Random(43)
    val p0 = rnd.nextLong() | 2L
    def flips(n: Int): Long = (0 until n).map(i => 1L << (i * 13 + 3)).reduce(_ | _)
    val payloads =
      Seq(100L -> p0, 101L -> p0, 102L -> (p0 ^ flips(1)),
        103L -> (p0 ^ flips(2)), 104L -> (p0 ^ flips(3))) ++
        (0 until 40).map(i => i.toLong -> (rnd.nextLong() | 1L))
    val recs = payloads.map { case (id, bits) =>
      Multimodal.MediaRecord(id, clipOf(bits), "audio", "s")
    } :+ Multimodal.MediaRecord(999L, Array.fill[Byte](40)(9), "audio", "s") // not WAV: skipped
    val hashes = Multimodal.audioAHashes(spark.createDataset(recs))
    val pairs = Dedup.bandedHammingPairs(hashes, 64, 4, 3, 200)
    // pin: the WAV decode/hash MapPartitions sits BELOW every Exchange —
    // only (doc_id, sh) rows ever shuffle, never audio payloads
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions") && plan.contains("Exchange"))
    assert(plan.indexOf("MapPartitions") > plan.lastIndexOf("Exchange"),
      s"audio payload must be consumed map-side, below all exchanges:\n$plan")
    val got = pairs.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Int]("hamming")))
    val hs = hashes.collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val expected = (for {
      i <- hs.indices; j <- (i + 1) until hs.length
      d = java.lang.Long.bitCount(hs(i)._2 ^ hs(j)._2) if d <= 3
    } yield (hs(i)._1, hs(j)._1, d)).toSet
    assert(got.toSet == expected, "banded recall must equal brute force")
    assert(!hs.exists(_._1 == 999L), "non-WAV payload skipped, not failed")
    val byPair = got.map(t => (t._1, t._2) -> t._3).toMap
    assert(byPair((100L, 101L)) == 0)
    assert(byPair((100L, 102L)) == 1)
    assert(byPair((100L, 103L)) == 2)
    assert(byPair((100L, 104L)) == 3)
  }

  test("multimodal: real AVI codec decodes, samples frames, drives the video stage") {
    import graft.operators.VideoCodec
    // 5x3 @ 25fps, 10 frames; width 5 forces row padding (15 -> 16-byte
    // stride). Frame f is a constant fill of (f*17+3) so every frame's
    // digest differs and sampled-frame identity is provable.
    val w = 5; val h = 3; val n = 10
    val frameSize = VideoCodec.stride(w) * h
    val frames = Vector.tabulate(n)(f => Array.fill[Byte](frameSize)((f * 17 + 3).toByte))
    val clip = VideoCodec.Video(w, h, microSecPerFrame = 40000, frames)
    val bytes = VideoCodec.encode(clip)
    assert(VideoCodec.isAvi(bytes))
    // decode is the exact inverse of encode
    val back = VideoCodec.decodeAuto(bytes)
    assert(back.width == w && back.height == h && back.nFrames == n)
    assert(back.fps == 25)
    for (f <- 0 until n) assert(back.frames(f).toSeq == frames(f).toSeq)
    // corrupt chunk size near Int.MaxValue must fail cleanly, and the
    // Spark aHash stage must skip the payload instead of failing the task
    val corrupt = bytes.clone()
    corrupt(16) = 0xf5.toByte; corrupt(17) = 0xff.toByte
    corrupt(18) = 0xff.toByte; corrupt(19) = 0x7f.toByte // avih size 0x7ffffff5
    val err = intercept[IllegalArgumentException] { VideoCodec.decodeAuto(corrupt) }
    assert(err.getMessage.contains("truncated"))
    assert(Multimodal.videoAHashes(spark.createDataset(Seq(
        Multimodal.MediaRecord(9L, corrupt, "video", "s")))).count() == 0L)
    // unsupported compressed fourcc (non-BI_RGB, non-MJPG strf) stays
    // out of scope by design
    val compressed = bytes.clone()
    compressed(100 + 8 + 56 + 8 + 16) = 1 // strf biCompression: BI_RLE8
    intercept[IllegalArgumentException] { VideoCodec.decodeAuto(compressed) }
  }

  test("multimodal: real JPEG codec (JDK ImageIO) decodes, thumbnails, and hashes") {
    import graft.operators.ImageCodec
    // 16x12 two-tone raster, left half dark / right half bright —
    // strong structure that survives JPEG quantization loss
    val w = 16; val h = 12
    val px = Array.tabulate(w * h * 3) { i =>
      if ((i / 3) % w < w / 2) 16.toByte else 240.toByte
    }
    val img = ImageCodec.Image(w, h, px)
    val jpeg = ImageCodec.encodeJpeg(img)
    assert(ImageCodec.isJpeg(jpeg) && !ImageCodec.isBmp(jpeg))
    val back = ImageCodec.decodeJpeg(jpeg)
    assert(back.width == w && back.height == h)
    // lossy but close on a flat two-tone: every byte within 32 levels
    (0 until w * h * 3).foreach { i =>
      assert(math.abs((back.pixels(i) & 0xff) - (px(i) & 0xff)) <= 32,
        s"byte $i drifted: ${back.pixels(i) & 0xff} vs ${px(i) & 0xff}")
    }
    // decode is deterministic: same payload, same raster
    assert(ImageCodec.decodeJpeg(jpeg).pixels.toSeq == back.pixels.toSeq)
    // the perceptual hash sees through the compression: BMP and JPEG of
    // the same raster agree within a few boundary bits, so the q60
    // banded-hamming dedup treats a re-encode as the near-dup it is
    val hb = ImageCodec.aHash(ImageCodec.encode(img))
    val hj = ImageCodec.aHash(jpeg)
    assert(java.lang.Long.bitCount(hb ^ hj) <= 8,
      f"aHash drifted ${java.lang.Long.bitCount(hb ^ hj)} bits: $hb%016x vs $hj%016x")
    // and the Spark aHash stage routes JPEG through the real codec
    val out = Multimodal.imageAHashes(spark.createDataset(Seq(
        Multimodal.MediaRecord(1L, jpeg, "image", "s")))).collect()
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toSeq == Seq(1L -> hj))
  }

  test("multimodal: real PNG codec (JDK ImageIO) round-trips losslessly and dedups through the file door") {
    import graft.operators.{Dedup, ImageCodec}
    val w = 16; val h = 12
    val px = Array.tabulate(w * h * 3) { i =>
      if ((i / 3) % w < w / 2) 16.toByte else 240.toByte
    }
    val img = ImageCodec.Image(w, h, px)
    val png = ImageCodec.encodePng(img)
    assert(ImageCodec.isPng(png) && !ImageCodec.isJpeg(png) && !ImageCodec.isBmp(png))
    // PNG is lossless: decode(encode(img)) == img EXACTLY
    val back = ImageCodec.decodePng(png)
    assert(back.width == w && back.height == h)
    assert(back.pixels.toSeq == px.toSeq, "PNG round-trip must be exact")
    // the same raster hashes identically through all three doors
    assert(ImageCodec.aHash(png) == ImageCodec.aHash(ImageCodec.encode(img)))
    // planted-copy dedup through the FILE door: a PNG copy of the same
    // raster pairs with its BMP twin under the banded-hamming index —
    // the q60-family recall contract extended to the PNG modality
    val px2 = px.clone(); px2(0) = 17.toByte // near-identical variant
    val records = spark.createDataset(Seq(
      Multimodal.MediaRecord(1L, ImageCodec.encode(img), "image", "s"),
      Multimodal.MediaRecord(2L, ImageCodec.encodePng(ImageCodec.Image(w, h, px2)), "image", "s"),
      Multimodal.MediaRecord(3L, png, "image", "s")))(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRecord])
    val hashes = Multimodal.imageAHashes(records)
    assert(hashes.count() == 3L, "PNG payloads must reach the aHash door")
    val pairs = Dedup.bandedHammingPairs(hashes, bits = 64, nBands = 4,
        maxHamming = 3, bandCap = 100)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L)) && pairs.contains((1L, 2L)),
      s"planted PNG copies must pair with the BMP original: $pairs")
  }

  test("q98: planted near-dup clips pair on keyframe aHash; blank keyframes emit no print") {
    import spark.implicits._
    import graft.operators.{Dedup, ImageCodec, Multimodal, VideoCodec}
    // keyframe rasters: A and A' differ in one margin-safe cell, B is
    // structurally different, blank is uniform (no perceptual signal)
    def cells(bits: Long): Array[Byte] = Array.tabulate(192) { i =>
      if (((bits >>> (i / 3)) & 1L) == 1L) 220.toByte else 30.toByte
    }
    val pattern = 0x0f0f0f0f0f0f0f0fL
    def clip(key: Array[Byte]): Array[Byte] =
      VideoCodec.encodeMjpeg(
        Seq(ImageCodec.encodeJpeg(ImageCodec.Image(8, 8, cells(0L))),
          ImageCodec.encodeJpeg(ImageCodec.Image(8, 8, key), quality = 0.9f),
          ImageCodec.encodeJpeg(ImageCodec.Image(8, 8, cells(0L)))),
        8, 8, 100000)
    val recs = Seq(
      Multimodal.MediaRecord(1L, clip(cells(pattern)), "video", "s"),
      Multimodal.MediaRecord(2L, clip(cells(pattern ^ (1L << 27))), "video", "s"),
      Multimodal.MediaRecord(3L, clip(cells(~pattern)), "video", "s"),
      Multimodal.MediaRecord(4L, clip(Array.fill[Byte](192)(30)), "video", "s"))
    val hashes = Multimodal.videoAHashes(spark.createDataset(recs))
    val byId = hashes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the blank-keyframe clip emits NO fingerprint (uniform raster)
    assert(byId.keySet == Set(1L, 2L, 3L), s"got ${byId.keySet}")
    // near-dup keyframes land within the banded index's hamming gate
    assert(java.lang.Long.bitCount(byId(1L) ^ byId(2L)) <= 3,
      f"near-dup keyframes drifted: ${byId(1L)}%016x vs ${byId(2L)}%016x")
    val pairsDf = Dedup.bandedHammingPairs(hashes, 64, 4, 3, 200)
    // pin: the demux + JPEG-decode MapPartitions sits BELOW every
    // Exchange — only (doc_id, sh) rows ever shuffle, never clip bytes
    // (the q60/q80 payload discipline, third modality)
    val plan = pairsDf.queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions") && plan.contains("Exchange"))
    assert(plan.indexOf("MapPartitions") > plan.lastIndexOf("Exchange"),
      s"video payload must be consumed map-side, below all exchanges:\n$plan")
    val pairs = pairsDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"pairs=$pairs")
  }

  test("multimodal: MJPEG AVI decodes per-frame JPEG and drives sampling + features") {
    import graft.operators.{ImageCodec, VideoCodec}
    // 6 frames of a brightening left-to-right wipe: frame f has the
    // first (f+1)*2 columns bright — decoded means must strictly grow,
    // provable only by actually decoding the JPEG pixels
    val w = 16; val h = 8; val n = 6
    def raster(f: Int) = ImageCodec.Image(w, h, Array.tabulate(w * h * 3) { i =>
      if ((i / 3) % w < (f + 1) * 2) 230.toByte else 20.toByte
    })
    val jpegs = (0 until n).map(f => ImageCodec.encodeJpeg(raster(f)))
    val avi = VideoCodec.encodeMjpeg(jpegs, w, h, microSecPerFrame = 100000)
    assert(VideoCodec.isAvi(avi))
    val v = VideoCodec.decodeAuto(avi)
    assert(v.width == w && v.height == h && v.nFrames == n && v.fps == 10)
    val frameSize = VideoCodec.stride(w) * h
    assert(v.frames.forall(_.length == frameSize))
    def mean(f: Array[Byte]) = f.map(_ & 0xff).sum.toDouble / f.length
    val means = v.frames.map(mean)
    assert(means.zip(means.tail).forall { case (a, b) => a < b },
      s"decoded frame brightness must track the wipe: $means")
    // the Spark aHash stage prints the decoded middle keyframe
    val out = Multimodal.videoAHashes(spark.createDataset(Seq(
        Multimodal.MediaRecord(5L, avi, "video", "s")))).collect()
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toSeq ==
      Seq(5L -> ImageCodec.aHashImage(VideoCodec.frameImage(v, n / 2))))
  }

  test("multimodal: real WAV codec decodes, resamples, and drives the audio stage") {
    import graft.operators.AudioCodec
    // mono 22050 Hz ramp — a rate the stub would never report (its
    // constant is 16000), so a real header decode is provable
    val rate = 22050; val frames = 800
    val samples = Array.tabulate(frames)(i => (i * 13 - 5000).toShort)
    val clip = AudioCodec.Audio(rate, 1, samples)
    val bytes = AudioCodec.encode(clip)
    assert(AudioCodec.isWav(bytes))
    assert(bytes.length == 44 + frames * 2)
    // decode is the exact inverse of encode
    val back = AudioCodec.decode(bytes)
    assert(back.sampleRate == rate && back.channels == 1)
    assert(back.samples.toSeq == samples.toSeq)
    // chunk walking: an extra chunk between fmt and data is skipped
    val spliced = bytes.take(36) ++
      Array[Byte]('f', 'a', 'c', 't', 4, 0, 0, 0, 1, 2, 3, 4) ++ bytes.drop(36)
    writeRiffSize(spliced)
    assert(AudioCodec.decode(spliced).samples.toSeq == samples.toSeq)
    // corrupt chunk size near Int.MaxValue must fail cleanly (the Int
    // bound check once wrapped negative and allowed a ~2GB allocation)
    val corrupt = bytes.clone()
    corrupt(40) = 0xf5.toByte; corrupt(41) = 0xff.toByte
    corrupt(42) = 0xff.toByte; corrupt(43) = 0x7f.toByte // data size 0x7ffffff5
    val err = intercept[IllegalArgumentException] { AudioCodec.decode(corrupt) }
    assert(err.getMessage.contains("truncated"))
    // a WAV-magic payload in an unsupported flavor (IEEE-float fmt 3)
    // fails to decode; the Spark aHash stage skips it, and non-WAV bytes,
    // instead of failing the task
    val floatWav = bytes.clone()
    floatWav(20) = 3 // fmt tag: IEEE float
    intercept[IllegalArgumentException] { AudioCodec.decode(floatWav) }
    val recs = Seq(
      Multimodal.MediaRecord(1L, bytes, "audio", "s"),
      Multimodal.MediaRecord(2L, Array.fill[Byte](2048)(7), "audio", "s"),
      Multimodal.MediaRecord(9L, floatWav, "audio", "s"))
    val out = Multimodal.audioAHashes(spark.createDataset(recs)).collect()
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toSeq ==
      Seq(1L -> AudioCodec.aHash(bytes)))
  }

  // patch the RIFF size field after splicing test chunks in
  private def writeRiffSize(b: Array[Byte]): Unit = {
    val v = b.length - 8
    b(4) = v.toByte; b(5) = (v >> 8).toByte
    b(6) = (v >> 16).toByte; b(7) = (v >> 24).toByte
  }

  test("file catalog: suffix filter and newest-N pruning") {
    val dir = Files.createTempDirectory("cat").toString
    Files.write(java.nio.file.Paths.get(dir, "a.csv"), "x".getBytes)
    Files.write(java.nio.file.Paths.get(dir, "b.json"), "y".getBytes)
    Files.write(java.nio.file.Paths.get(dir, "old.parquet"), "1".getBytes)
    Files.write(java.nio.file.Paths.get(dir, "new.parquet"), "2".getBytes)
    assert(FileCatalog.list(spark, dir).size == 4)
    assert(FileCatalog.list(spark, dir, ".json").map(_.path).head.endsWith("b.json"))
    assert(FileCatalog.list(spark, "/nonexistent/path").isEmpty)
  }

  test("canonical table CSV sink/source round-trip (S4/S5)") {
    import graft.operators.Normalize
    import graft.sources.Schemas
    val src = Normalize.fromShape2(
      spark.read.schema(Schemas.heliusShape2).json(Seq(
        """{"signature":"s1","slot":9,"blockTime":1742601600,"meta":{"fee":5},"transaction":{"message":{"accountKeys":["FP"]}},"tokenTransfers":[{"fromUserAccount":"A","toUserAccount":"B","tokenAmount":1.25,"mint":"M","tokenStandard":"F"}]}""").toDS))
    val dir = Files.createTempDirectory("csv").toString
    src.write.mode("overwrite").option("header", true).csv(dir)
    val back = spark.read.schema(Schemas.cleaned).option("header", true).csv(dir)
    val (a, b) = (src.collect().head, back.collect().head)
    assert(b.getAs[String]("signature") == a.getAs[String]("signature"))
    assert(b.getAs[Long]("fee") == a.getAs[Long]("fee"))
    assert(b.getAs[Double]("token_amount") == a.getAs[Double]("token_amount"))
    assert(b.getAs[java.sql.Timestamp]("ts") == a.getAs[java.sql.Timestamp]("ts"))
  }

  test("binaryFile media ingest: typed records from raw files, dedup finds the planted copy") {
    // the production door for media bytes: files on storage → binaryFile
    // source → MediaRecord → the same map-side aHash + banded-hamming
    // composition the fixture-backed q60 runs. Payload identity must
    // survive the trip (the copy pair is found at hamming 0) and the
    // extension → media_type mapping must hold; the .txt file is listed
    // but typed "binary" and skipped by the image pipeline.
    import graft.operators.{Dedup, ImageCodec}
    val dir = Files.createTempDirectory("media").toString
    val px = Array.tabulate[Byte](192)(i => ((i * 37) % 251).toByte)
    val bmp = ImageCodec.encode(ImageCodec.Image(8, 8, px))
    val other = ImageCodec.encode(ImageCodec.Image(8, 8,
      Array.tabulate[Byte](192)(i => ((i * 91 + 13) % 251).toByte)))
    Files.write(java.nio.file.Paths.get(dir, "a.bmp"), bmp)
    Files.write(java.nio.file.Paths.get(dir, "copy_of_a.bmp"), bmp)
    Files.write(java.nio.file.Paths.get(dir, "b.bmp"), other)
    Files.write(java.nio.file.Paths.get(dir, "notes.txt"), "hello".getBytes)
    val recs = Multimodal.readBinaryDir(spark, dir).collect()
    assert(recs.length == 4)
    assert(recs.count(_.media_type == "image") == 3)
    assert(recs.count(_.media_type == "binary") == 1)
    assert(recs.map(_.media_id).distinct.length == 4, "path-hash ids must be unique")
    val hashes = Multimodal.imageAHashes(
      Multimodal.readBinaryDir(spark, dir, glob = "*.bmp"))
    assert(hashes.count() == 3, "glob prunes the txt at listing; all BMPs decode")
    val pairs = Dedup.bandedHammingPairs(hashes, 64, 4, 3, 200).collect()
    assert(pairs.count(_.getAs[Int]("hamming") == 0) == 1,
      "exactly the planted copy pair at hamming 0")
  }

  test("canonical table ORC sink/source round-trip (columnar alternative to parquet)") {
    // ORC ships with Spark (no extra dependency) and, unlike CSV, is
    // schema-preserving — the round-trip must be exact on every column
    // including the timestamp, with no re-declared read schema
    import graft.operators.Normalize
    import graft.sources.Schemas
    val src = Normalize.fromShape2(
      spark.read.schema(Schemas.heliusShape2).json(Seq(
        """{"signature":"s2","slot":11,"blockTime":1742601660,"meta":{"fee":7},"transaction":{"message":{"accountKeys":["FP"]}},"tokenTransfers":[{"fromUserAccount":"C","toUserAccount":"D","tokenAmount":2.5,"mint":"N","tokenStandard":"F"}]}""").toDS))
    val dir = Files.createTempDirectory("orc").toString
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    // names and types must survive (file reads relax nullability to
    // true — the same contract parquet reads have)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      src.schema.map(f => (f.name, f.dataType)),
      "ORC must preserve column names and types")
    val (a, b) = (src.collect().head, back.collect().head)
    assert(src.columns.forall(c => b.getAs[Any](c) == a.getAs[Any](c)),
      "every column must round-trip bit-exactly")
  }

  test("q89 integrity audit: exact counts on constructed violations, all-zero on clean input") {
    import spark.implicits._
    import graft.operators.Integrity
    def audit(d: org.apache.spark.sql.DataFrame, e: org.apache.spark.sql.DataFrame) =
      Integrity.integrityAudit(d, e, dim = 2).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = Seq(
      (1L, "ok one"), (1L, "dup of one"), (2L, "ok two"),
      (3L, null.asInstanceOf[String]), (4L, "   "), (5L, "orphan")
    ).toDF("doc_id", "text")
    val embs = Seq(
      (1L, Seq(0.1f, 0.2f)), (2L, Seq(0.3f, 0.4f)),
      (3L, Seq(0.5f, 0.6f)), (4L, Seq(0.7f, 0.8f)),
      (9L, Seq(0.9f, 1.0f)), (10L, Seq(1.1f))
    ).toDF("vec_id", "embedding")
    val bad = audit(docs, embs)
    assert(bad("duplicate_doc_id") == 1L)     // key 1 twice counts once
    assert(bad("null_or_empty_text") == 2L)   // null + whitespace-only
    assert(bad("docs_without_embedding") == 1L) // doc 5
    assert(bad("embeddings_without_doc") == 2L) // vecs 9, 10
    assert(bad("wrong_dim_embedding") == 1L)  // vec 10 has 1 dim
    // clean corpus: every check reports zero, 5 rows always present
    val clean = audit(
      Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text"),
      Seq((1L, Seq(0.1f, 0.2f)), (2L, Seq(0.3f, 0.4f))).toDF("vec_id", "embedding"))
    assert(clean.size == 5 && clean.values.forall(_ == 0L))
    // one-pass shape: the whole audit runs exactly ONE join
    val plan = Integrity.integrityAudit(docs, embs, dim = 2)
      .queryExecution.executedPlan.toString
    assert("(?i)sortmergejoin|shuffledhashjoin|broadcasthashjoin".r
      .findAllIn(plan).size == 1, s"audit must be one join:\n$plan")
  }

  test("Compact: many small files become few, rows survive as an exact multiset") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    // 32 tiny files (one per partition) of distinct rows
    (1 to 256).map(i => (i.toLong, s"row$i")).toDF("id", "s")
      .repartition(32).write.parquet(dir)
    val before = graft.sources.FileCatalog.list(spark, dir, ".parquet")
    assert(before.size == 32)
    val totalBytes = before.map(_.bytes).sum
    // target ~half the data per file => exactly 2 output files
    val (b, a, rows) = graft.tools.Compact.run(spark, dir,
      targetBytes = totalBytes / 2 + 1)
    assert(b == 32 && a == 2 && rows == 256L, s"($b, $a, $rows)")
    val back = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(back.toSeq == (1 to 256).map(i => (i.toLong, s"row$i")))
    // and neither swap scaffold dir is left behind (rename-aside swap:
    // dir -> .compact.old, tmp -> dir, delete .compact.old)
    assert(!new java.io.File(dir + ".compact.tmp").exists())
    assert(!new java.io.File(dir + ".compact.old").exists())
  }

  test("Compact.digest: order-blind, content-sensitive, catches a drop+duplicate swap") {
    import spark.implicits._
    import graft.tools.Compact.digest
    val rows = (1 to 100).map(i => (i.toLong, s"row$i"))
    val base = digest(rows.toDF("id", "s"))
    // any reordering/partitioning: identical digest
    assert(digest(scala.util.Random.shuffle(rows).toDF("id", "s").repartition(7)) == base)
    // same COUNT but one row dropped and another duplicated — the
    // count-only check this replaced would pass; the digest must not
    val swapped = (rows.tail :+ rows.head.copy(_1 = 2L, _2 = "row2"))
    assert(swapped.size == rows.size)
    assert(digest(swapped.toDF("id", "s"))._2 != base._2)
    // single-byte content change: different digest
    assert(digest(rows.updated(50, (51L, "rox51")).toDF("id", "s"))._2 != base._2)
  }

  test("Compact: a stale parked .compact.old from a prior interrupted run does not block the swap") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact2").toString + "/t"
    (1 to 64).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .repartition(8).write.parquet(dir)
    // simulate a prior run that crashed after parking the original
    Seq((999L, "stale")).toDF("id", "s").write.parquet(dir + ".compact.old")
    val (b, a, rows) = graft.tools.Compact.run(spark, dir)
    assert(b == 8 && a == 1 && rows == 64L, s"($b, $a, $rows)")
    assert(spark.read.parquet(dir).count() == 64L)
    assert(!new java.io.File(dir + ".compact.old").exists())
  }

  test("Compact: self-recovers a crash between the swap's two renames (dir absent, .old parked)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact3").toString + "/t"
    (1 to 64).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .repartition(8).write.parquet(dir)
    // simulate the narrow crash window: dir was renamed aside but the
    // verified rewrite was never promoted — dir is MISSING
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + ".compact.old")))
    assert(!new java.io.File(dir).exists())
    val (b, a, rows) = graft.tools.Compact.run(spark, dir)
    assert(b == 8 && a == 1 && rows == 64L, s"($b, $a, $rows)")
    assert(spark.read.parquet(dir).count() == 64L)
    assert(!new java.io.File(dir + ".compact.old").exists())
  }

  test("q91 snapshot diff: exact verdicts, unchanged docs absent, text stays off the shuffle") {
    import spark.implicits._
    import graft.operators.Integrity
    val old = Seq((1L, "same"), (2L, "will change"), (3L, "will vanish"))
      .toDF("doc_id", "text")
    val neu = Seq((1L, "same"), (2L, "changed!"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val out = Integrity.snapshotDiff(old, neu).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
    // the join consumes (id, hash) projections — the text column never
    // reaches an exchange (the fixed-width shuffle discipline)
    val plan = Integrity.snapshotDiff(old, neu)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("text#") ||
      !plan.linesIterator.exists(l => l.contains("Exchange") && l.contains("text#")),
      s"text must be projected away before any exchange:\n$plan")
  }

  test("q105 distribution drift: exact scaled deltas, vanished/appeared words, |dp| ordering") {
    import spark.implicits._
    import graft.operators.Integrity
    // totals 10 vs 10 so the scaled probabilities are exact tenths
    val old = Seq(("a", 5L), ("b", 3L), ("c", 2L)).toDF("w", "cnt")
    val neu = Seq(("a", 2L), ("b", 3L), ("d", 5L)).toDF("w", "cnt")
    val rows = Integrity.distDrift(old, neu).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // |dp| desc, then w asc: d(+.5), a(-.3), c(-.2, vanished), b(0)
    assert(rows.toSeq == Seq(
      ("d", 0L, 5L, 500000000L),
      ("a", 5L, 2L, -300000000L),
      ("c", 2L, 0L, -200000000L),
      ("b", 3L, 3L, 0L)))
  }
}
