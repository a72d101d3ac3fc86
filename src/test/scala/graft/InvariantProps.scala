package graft

import graft.operators.Normalize
import graft.sources.Schemas
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck property suite (SURVEY.md §5.4): structural invariants of
  * the normalization kernel over generated Helius shape-2 inputs.
  * Datasets are generated as JSON strings, pushed through the real
  * reader + kernel.
  */
object InvariantProps extends Properties("graft") {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val word: Gen[String] = Gen.alphaLowerStr.map(_.take(8)).suchThat(_.nonEmpty)

  private val transferGen: Gen[String] = for {
    from <- word; to <- word
    amt <- Gen.choose(0, 100000).map(_ / 100.0)
    mint <- word
  } yield s"""{"fromUserAccount":"$from","toUserAccount":"$to","tokenAmount":$amt,"mint":"$mint","tokenStandard":"Fungible"}"""

  private val txGen: Gen[(String, Int)] = for {
    sig <- word
    slot <- Gen.choose(1, 1000000)
    bt <- Gen.choose(1600000000L, 1800000000L)
    transfers <- Gen.listOfN(3, transferGen).map(l => l.take(slot % 4)) // 0..3 transfers
  } yield (
    s"""{"signature":"$sig","slot":$slot,"blockTime":$bt,"meta":{"fee":5},"transaction":{"message":{"accountKeys":[]}},"tokenTransfers":[${transfers.mkString(",")}]}""",
    transfers.size)

  private val batchGen: Gen[List[(String, Int)]] =
    Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, txGen))

  property("explode preserves rows: out == sum(max(|transfers|, 1))") =
    Prop.forAllNoShrink(batchGen) { batch =>
      val df = spark.read.schema(Schemas.heliusShape2).json(batch.map(_._1).toDS)
      val expected = batch.map { case (_, k) => math.max(k, 1) }.sum
      Normalize.fromShape2(df).count() == expected.toLong
    }

  property("canonical output never has null strings or amounts") =
    Prop.forAllNoShrink(batchGen) { batch =>
      val out = Normalize.fromShape2(
        spark.read.schema(Schemas.heliusShape2).json(batch.map(_._1).toDS))
      out.filter(
        col("mint").isNull || col("from_account").isNull ||
          col("to_account").isNull || col("token_amount").isNull ||
          col("fee").isNull).count() == 0L
    }

  property("union with raw events keeps total row count") =
    Prop.forAllNoShrink(Gen.choose(1, 10)) { n =>
      val raw = spark.read.schema(Schemas.rawEvent).json(
        (1 to n).map(i => s"""{"mint":"m$i","txType":"t","solAmount":1.0,"name":"n","symbol":"s"}""").toDS)
      val a = Normalize.fromRawEvents(raw)
      Normalize.unionCleaned(a, a).count() == 2L * n
    }

  // ---- ImageCodec (pure kernel, no Spark) --------------------------------
  import graft.operators.ImageCodec

  private val imageGen: Gen[ImageCodec.Image] = for {
    w <- Gen.choose(1, 24)
    h <- Gen.choose(1, 24)
    px <- Gen.listOfN(w * h * 3, Gen.choose(0, 255))
  } yield ImageCodec.Image(w, h, px.map(_.toByte).toArray)

  property("BMP encode/decode round-trips any raster exactly") =
    Prop.forAllNoShrink(imageGen) { img =>
      val back = ImageCodec.decode(ImageCodec.encode(img))
      back.width == img.width && back.height == img.height &&
        back.pixels.toSeq == img.pixels.toSeq
    }

  property("BMP resize emits the requested dimensions; identity is exact") =
    Prop.forAllNoShrink(for {
      img <- imageGen
      tw <- Gen.choose(1, 24); th <- Gen.choose(1, 24)
    } yield (img, tw, th)) { case (img, tw, th) =>
      val r = ImageCodec.resize(img, tw, th)
      val id = ImageCodec.resize(img, img.width, img.height)
      r.width == tw && r.height == th &&
        r.pixels.length == tw * th * 3 &&
        id.pixels.toSeq == img.pixels.toSeq
    }

  property("JPEG encode/decode preserves dimensions; decode is deterministic") =
    Prop.forAllNoShrink(imageGen) { img =>
      val j = ImageCodec.encodeJpeg(img)
      val a = ImageCodec.decodeJpeg(j)
      ImageCodec.isJpeg(j) && a.width == img.width && a.height == img.height &&
        a.pixels.toSeq == ImageCodec.decodeJpeg(j).pixels.toSeq
    }

  property("PNG encode/decode is an exact lossless round-trip for any raster") =
    Prop.forAllNoShrink(imageGen) { img =>
      val p = ImageCodec.encodePng(img)
      val a = ImageCodec.decodePng(p)
      ImageCodec.isPng(p) && a.width == img.width && a.height == img.height &&
        a.pixels.toSeq == img.pixels.toSeq
    }

  property("MJPEG AVI mux/demux preserves frame count, dims and rate for any clip") =
    Prop.forAllNoShrink(for {
      img <- imageGen
      n <- Gen.choose(1, 6)
    } yield (img, n)) { case (img, n) =>
      import graft.operators.VideoCodec
      val jpegs = Vector.fill(n)(ImageCodec.encodeJpeg(img))
      val avi = VideoCodec.encodeMjpeg(jpegs, img.width, img.height, 50000)
      val v = VideoCodec.decodeAuto(avi)
      v.nFrames == n && v.width == img.width && v.height == img.height &&
        v.fps == 20 &&
        v.frames.forall(_.length == VideoCodec.stride(img.width) * img.height)
    }

  // ---- AudioCodec (pure kernel, no Spark) --------------------------------
  import graft.operators.AudioCodec

  private val audioGen: Gen[AudioCodec.Audio] = for {
    ch <- Gen.choose(1, 2)
    frames <- Gen.choose(1, 256)
    rate <- Gen.oneOf(8000, 16000, 22050, 44100)
    ss <- Gen.listOfN(frames * ch, Gen.choose(Short.MinValue.toInt, Short.MaxValue.toInt))
  } yield AudioCodec.Audio(rate, ch, ss.map(_.toShort).toArray)

  property("WAV encode/decode round-trips any clip exactly") =
    Prop.forAllNoShrink(audioGen) { a =>
      val back = AudioCodec.decode(AudioCodec.encode(a))
      back.sampleRate == a.sampleRate && back.channels == a.channels &&
        back.samples.toSeq == a.samples.toSeq
    }

  // ---- bandedHammingPairs (pigeonhole exactness on near-collisions) ------
  // Random 64-bit hashes almost never sit within hamming 3 of each
  // other, so a naive random property would pass vacuously; instead
  // generate FAMILIES — base hashes plus variants at 0..6 bit flips —
  // and assert the banded index recalls EXACTLY the brute-force
  // hamming<=3 pair set (4 bands of 16 bits guarantee every <=3 pair
  // shares a band; >3 pairs must be filtered, not leaked).
  private val hashFamilyGen: Gen[List[Long]] = for {
    nBases <- Gen.choose(1, 4)
    bases <- Gen.listOfN(nBases, Gen.long)
    variants <- Gen.listOfN(nBases, Gen.listOfN(3, for {
      nFlips <- Gen.choose(0, 6)
      bits <- Gen.listOfN(nFlips, Gen.choose(0, 63))
    } yield bits))
  } yield bases.zip(variants).flatMap { case (b, vs) =>
    b :: vs.map(bits => bits.foldLeft(b)((h, i) => h ^ (1L << i)))
  }

  property("banded hamming pairs equal brute force on near-collision families") =
    Prop.forAllNoShrink(hashFamilyGen) { hashes =>
      val hs = hashes.zipWithIndex.map { case (h, i) => (i.toLong, h) }
      val got = graft.operators.Dedup
        .bandedHammingPairs(hs.toDF("doc_id", "sh"), 64, 4, 3, 1000)
        .collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Int]("hamming"))).toSet
      val expected = (for {
        i <- hs.indices; j <- (i + 1) until hs.size
        d = java.lang.Long.bitCount(hs(i)._2 ^ hs(j)._2) if d <= 3
      } yield (hs(i)._1, hs(j)._1, d)).toSet
      got == expected
    }

  // ---- dupClusters (distributed labels == driver union-find) -------------
  // The clustering operator is the engine's most central dedup kernel;
  // this pins its semantics generically: for ANY random edge list, the
  // pointer-jumped label propagation must produce exactly the
  // min-node-id labeling of the union-find components.
  private val edgesGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(2, 24)
    m <- Gen.choose(1, 32)
    es <- Gen.listOfN(m, for {
      a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L)
    } yield (a, b))
  } yield es.filter { case (a, b) => a != b }.map {
    case (a, b) => (math.min(a, b), math.max(a, b))
  }

  property("dup clustering labels equal union-find min-id components") =
    Prop.forAllNoShrink(edgesGen.suchThat(_.nonEmpty)) { edges =>
      val got = graft.operators.Dedup
        .dupClusters(edges.toDF("doc_a", "doc_b")).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
      // driver-side union-find with min-id roots
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      got == nodes.map(v => v -> find(v)).toMap
    }

  // ---- unigramLm (integer-exact arithmetic vs BigInt reference) ----------
  // The LM leg's cross-engine parity rests on integer scaling:
  // p_scaled = floor(cnt * 1e12 / total) summed per doc. Recompute in
  // BigInt on the driver for random tiny corpora; every long must be
  // exact, and mean_prob the identical double division.
  private val lmCorpusGen: Gen[List[(Long, String)]] = for {
    nDocs <- Gen.choose(1, 4)
    docs <- Gen.listOfN(nDocs, Gen.choose(1, 8).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" "))))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  property("unigram LM matches exact BigInt integer scaling") =
    Prop.forAllNoShrink(lmCorpusGen) { corpus =>
      val scale = BigInt("1000000000000")
      val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }
      val freq = toks.flatMap(_._2).groupBy(identity).map { case (w, o) => w -> o.size }
      val total = BigInt(freq.values.sum)
      val pScaled = freq.map { case (w, c) => w -> (BigInt(c) * scale / total) }
      val got = graft.operators.TextAnalysis
        .unigramLm(corpus.toDF("doc_id", "text")).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("sum_scaled"),
            r.getAs[Double]("mean_prob")))).toMap
      toks.forall { case (id, ws) =>
        val sum = ws.map(pScaled).sum
        got(id) == ((ws.size.toLong, sum.toLong,
          sum.toLong.toDouble / (ws.size.toLong.toDouble * 1e12)))
      }
    }

  // ---- packSequences (deterministic next-fit laws) -----------------------
  // For ANY corpus and geometry: one output row per doc, shard ==
  // doc_id % shards, and the pack labels are EXACTLY the sequential
  // next-fit assignment in doc_id order within each shard (which
  // implies every pack fits the capacity unless it is a single
  // oversized doc).
  private val packCorpusGen: Gen[(List[(Long, String)], Int, Long)] = for {
    n <- Gen.choose(1, 30)
    lens <- Gen.listOfN(n, Gen.choose(1, 12))
    shards <- Gen.choose(1, 4)
    capacity <- Gen.choose(8, 32)
  } yield (lens.zipWithIndex.map { case (l, i) =>
    (i.toLong, Seq.fill(l)("w").mkString(" "))
  }, shards, capacity.toLong)

  property("packSequences emits the exact per-shard next-fit assignment") =
    Prop.forAllNoShrink(packCorpusGen) { case (docs, shards, capacity) =>
      val got = graft.operators.TrainingData
        .packSequences(docs.toDF("doc_id", "text"), shards, capacity)
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("shard"), r.getAs[Long]("pack_id"),
            r.getAs[Long]("n_tokens")))).toMap
      val expected = docs
        .map { case (id, t) => (id, id % shards, t.split(" ").length.toLong) }
        .groupBy(_._2).flatMap { case (shard, members) =>
          var running = 0L; var pack = 0L; var first = true
          members.sortBy(_._1).map { case (id, _, n) =>
            if (first) { first = false; running = n }
            else if (running + n > capacity) { running = n; pack += 1 }
            else running += n
            id -> ((shard, pack, n))
          }
        }
      got == expected
    }

  // ---- splitColumn (pure function of doc_id) -----------------------------
  // The reproducibility contract Curate's splits stage rests on: a
  // doc's split label depends ONLY on its doc_id — not on row order,
  // corpus membership, or partitioning — and the three labels all
  // appear over a modest id range (the hash spreads).
  private val idSetGen: Gen[(List[Long], Int)] = for {
    ids <- Gen.listOfN(20, Gen.choose(0L, 10000L)).map(_.distinct)
    parts <- Gen.choose(1, 4)
  } yield (ids, parts)

  property("train split is a pure per-doc_id function, stable under subsets") =
    Prop.forAllNoShrink(idSetGen.suchThat(_._1.size >= 2)) { case (ids, parts) =>
      import graft.operators.TrainingData
      def labels(subset: List[Long], nPart: Int) = subset.toDF("doc_id")
        .repartition(nPart)
        .withColumn("split", TrainingData.splitColumn)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
      val full = labels(ids, parts)
      val subset = labels(ids.take(ids.size / 2 + 1), 1)
      subset.forall { case (id, s) => full(id) == s } &&
        full.values.forall(Set("train", "val", "test"))
    }

  // ---- normalizeText (q81, arbitrary adversarial unicode) ----------------
  // The chain's two contracts over ANY input drawn from an alphabet
  // that deliberately interleaves bases, combining marks, every
  // stripped/mapped class, and CR/LF/TAB: (1) idempotence — a second
  // pass is the identity; (2) the output charset — NFC-normalized, no
  // stripped-class or unicode-space characters, no CR or TAB, no
  // double spaces, no space at either edge. The blocked-composition
  // family (base, ZWSP, mark) is the case that forced strip-before-NFC.
  private val normAlphabet: Gen[Char] = Gen.oneOf(
    'a', 'e', 'o', ' ', '\t', '\r', '\n',
    '\u0301', '\u0308', '\u00E9', // combining acute/diaeresis, precomposed e-acute
    '\u00A0', '\u2003', '\u3000', // NBSP, em space, ideographic space
    '\u200B', '\uFEFF', '\u00AD', // ZWSP, BOM/ZWNBSP, soft hyphen
    '\u0007', '\u0001', '\u007F', '\u000B') // BEL, SOH, DEL, VT
  private val normDocGen: Gen[String] =
    Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, normAlphabet).map(_.mkString))

  private val NormForbidden = Set(
    '\r', '\t', '\u00A0', '\u2003', '\u3000',
    '\u200B', '\uFEFF', '\u00AD', '\u0007', '\u0001', '\u007F')

  property("normalizeText: fused kernel == regexp chain, idempotent, NFC, space-disciplined") =
    Prop.forAllNoShrink(Gen.listOfN(24, normDocGen)) { docs =>
      val out = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .select(col("doc_id"),
          graft.operators.TextAnalysis.normalizeText(col("text")).as("n"),
          graft.operators.TextAnalysis.normalizeTextChain(col("text")).as("c"))
        .select(col("n"), col("c"),
          graft.operators.TextAnalysis.normalizeText(col("n")).as("n2"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      out.forall { case (n, chain, n2) =>
        n == chain && n == n2 &&
          java.text.Normalizer.isNormalized(n, java.text.Normalizer.Form.NFC) &&
          !n.exists(NormForbidden) &&
          !n.contains("  ") && !n.startsWith(" ") && !n.endsWith(" ")
      }
    }

  // q88: the diagonal span estimate vs a brute-force token-level
  // longest-common-substring. Docs are built from a small alphabet so
  // shared runs and intra-doc repetition both occur; the estimate must
  // never exceed the true LCS, and must hit it exactly when every
  // 8-gram of the pair is unique within its doc.
  private val spanDocGen: Gen[Vector[String]] = for {
    n <- Gen.choose(8, 40)
    toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e", "f"))
  } yield toks.toVector

  private def lcsTokens(a: Vector[String], b: Vector[String]): Int = {
    // O(|a||b|) dynamic program over token equality
    val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
    var best = 0
    for (i <- 1 to a.length; j <- 1 to b.length) {
      if (a(i - 1) == b(j - 1)) {
        dp(i)(j) = dp(i - 1)(j - 1) + 1
        if (dp(i)(j) > best) best = dp(i)(j)
      }
    }
    best
  }

  // q91: the engine diff vs a driver-side reference diff on random
  // snapshot pairs (adds, drops, edits all generated)
  private val snapGen: Gen[(Map[Long, String], Map[Long, String])] = for {
    n <- Gen.choose(1, 30)
    texts <- Gen.listOfN(n, Gen.identifier.map(_.take(10)))
    old = texts.zipWithIndex.map { case (t, i) => i.toLong -> t }.toMap
    dropped <- Gen.someOf(old.keys.toSeq)
    edited <- Gen.someOf(old.keys.toSeq)
    added <- Gen.choose(0, 5)
  } yield {
    val neu = (old -- dropped).map { case (k, v) =>
      k -> (if (edited.contains(k)) v + "!" else v)
    } ++ (1 to added).map(i => (1000L + i) -> s"new$i")
    (old, neu)
  }

  property("snapshotDiff equals the reference diff on random snapshot pairs") =
    Prop.forAllNoShrink(snapGen) { case (old, neu) =>
      val expected =
        (neu.keySet -- old.keySet).map(_ -> "added").toMap ++
          (old.keySet -- neu.keySet).map(_ -> "removed").toMap ++
          (old.keySet & neu.keySet).filter(k => old(k) != neu(k))
            .map(_ -> "changed").toMap
      val got = graft.operators.Integrity.snapshotDiff(
          old.toSeq.toDF("doc_id", "text"), neu.toSeq.toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      got == expected
    }

  // q89: audit counters vs reference counts on random corpora with
  // injected violations of every class
  private val auditGen: Gen[(Seq[(Long, String)], Seq[(Long, Seq[Float])])] =
    for {
      nd <- Gen.choose(1, 20)
      ne <- Gen.choose(1, 20)
      docs <- Gen.listOfN(nd, Gen.zip(Gen.choose(0L, 14L),
        Gen.oneOf(Gen.identifier.map(_.take(6)), Gen.const(""),
          Gen.const(null: String), Gen.const("  "))))
      embs <- Gen.listOfN(ne, Gen.zip(Gen.choose(0L, 14L),
        Gen.oneOf(Gen.const(Seq(0.1f, 0.2f)), Gen.const(Seq(0.3f)))))
    } yield (docs, embs.distinctBy(_._1)) // emb keys unique; doc keys may dup

  property("integrityAudit counters equal reference counts on random dirty corpora") =
    Prop.forAllNoShrink(auditGen) { case (docs, embs) =>
      val got = graft.operators.Integrity.integrityAudit(
          docs.toDF("doc_id", "text"), embs.toDF("vec_id", "embedding"),
          dim = 2)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val docKeys = docs.map(_._1).toSet
      val embKeys = embs.map(_._1).toSet
      val expected = Map(
        "duplicate_doc_id" -> docs.groupBy(_._1).count(_._2.size > 1).toLong,
        "null_or_empty_text" ->
          docs.count(d => d._2 == null || d._2.trim.isEmpty).toLong,
        "docs_without_embedding" -> (docKeys -- embKeys).size.toLong,
        "embeddings_without_doc" -> (embKeys -- docKeys).size.toLong,
        "wrong_dim_embedding" -> embs.count(_._2.length != 2).toLong)
      got == expected
    }

  property("dupSpans never exceeds the true LCS; exact when pair grams are doc-unique") =
    Prop.forAllNoShrink(spanDocGen, spanDocGen, Gen.choose(0, 6)) { (a0, b0, shift) =>
      // plant a shared run so the estimate has something to find
      val planted = Vector("p1", "p2", "p3", "p4", "p5", "p6", "p7", "p8", "p9", "p10")
      val a = a0.take(shift) ++ planted ++ a0.drop(shift)
      val b = planted ++ b0
      val docs = Seq((1L, a.mkString(" ")), (2L, b.mkString(" ")))
        .toDF("doc_id", "text")
      val cands = Seq((1L, 2L)).toDF("doc_a", "doc_b")
      val rows = graft.operators.Dedup.dupSpans(cands, docs).collect()
      val truth = lcsTokens(a, b)
      def gramsUnique(v: Vector[String]) = {
        val gs = v.sliding(8).toList
        gs.size == gs.distinct.size
      }
      rows.length == 1 && {
        val est = rows.head.getLong(4)
        est >= 10L && est <= truth &&
          (!(gramsUnique(a) && gramsUnique(b)) || est == truth)
      }
    }

  // q99 differential: the placeholder-replace kernel must agree with an
  // independent symbol-list BPE implementation on random corpora — the
  // merge table re-derived here exactly as the query derives it
  // (freq-weighted overlapping pair counts, ties pair-ascending, top 16).
  private def bpeRefTokens(w: String, merges: Seq[String]): Int = {
    var syms = w.map(_.toString).toVector
    merges.zipWithIndex.foreach { case (m, i) =>
      val ph = (0xE001 + i).toChar.toString
      val out = Vector.newBuilder[String]
      var j = 0
      while (j < syms.length) {
        if (j + 1 < syms.length &&
            syms(j) == m.substring(0, 1) && syms(j + 1) == m.substring(1, 2)) {
          out += ph; j += 2
        } else { out += syms(j); j += 1 }
      }
      syms = out.result()
    }
    syms.length
  }

  private val bpeWord: Gen[String] =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')))
      .map(_.mkString)
  private val bpeDocGen: Gen[String] =
    Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, bpeWord)).map(_.mkString(" "))
  private val bpeCorpusGen: Gen[List[String]] =
    Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, bpeDocGen))

  property("bpeApply agrees with an independent symbol-list BPE on random corpora") =
    Prop.forAllNoShrink(bpeCorpusGen) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      // merge table, independently: freq-weighted overlapping pair
      // counts over distinct words of length >= 2, (n desc, pair asc)
      val freq = texts.flatMap(_.split(" ", -1)).groupBy(identity)
        .map { case (w, l) => w -> l.size.toLong }
      val pairCounts = freq.toSeq.filter(_._1.length >= 2)
        .flatMap { case (w, f) =>
          (0 until w.length - 1).map(i => w.substring(i, i + 2) -> f) }
        .groupBy(_._1).map { case (p, l) => p -> l.map(_._2).sum }
      val merges = pairCounts.toSeq.sortBy { case (p, n) => (-n, p) }
        .take(16).map(_._1)
      val expected = texts.zipWithIndex.map { case (t, i) =>
        val words = t.split(" ", -1)
        i.toLong -> ((words.length.toLong,
          words.map(w => bpeRefTokens(w, merges).toLong).sum))
      }.toMap
      val got = graft.operators.TextAnalysis.bpeApply(docs).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      got == expected
    }

  // ---- DomainCuration (q100) ---------------------------------------------
  // Conservation + blocklist invariants of the per-domain profile over
  // generated corpora: non-blocked docs are partitioned exactly across
  // domains (Σ n_docs and Σ total_chars conserve), dup counts never
  // exceed doc counts, and no blocked domain survives the gate.
  private val domainGen: Gen[String] = for {
    n <- Gen.choose(0, 6); t <- Gen.oneOf("com", "org", "net")
  } yield s"d$n.$t"

  private val domainDocGen: Gen[(String, Double, Long)] = for {
    dom <- domainGen
    q <- Gen.choose(0, 10000).map(_ / 100.0)
    ch <- Gen.choose(1L, 5000L)
  } yield (dom, q, ch)

  // ---- TrainingData (q104) -------------------------------------------------
  // Differential check of the span-excision kernel against a brute-force
  // reference: matched window starts by raw gram-string membership,
  // coverage = interval union, kept = uncovered tokens in order. The
  // benchmark generator lifts an 8-token slice out of one train doc so
  // real matches occur (random 8-grams over the vocab almost never
  // collide).
  private val exciseDocGen: Gen[String] = for {
    n <- Gen.choose(0, 20)
    ws <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e"))
  } yield ws.mkString(" ")

  property("q104 exciseBenchmarkSpans matches a brute-force reference on random corpora") =
    Prop.forAllNoShrink(for {
      nd <- Gen.choose(1, 10)
      docs <- Gen.listOfN(nd, exciseDocGen)
      nb <- Gen.choose(0, 2)
      rnd <- Gen.listOfN(nb, exciseDocGen)
      liftFrom <- Gen.choose(0, nd - 1)
    } yield (docs, rnd, liftFrom)) { case (texts, rndBench, liftFrom) =>
      val liftedW = texts(liftFrom).split(" ", -1)
      val bench = rndBench ++
        (if (liftedW.length >= 8) Seq(liftedW.take(8).mkString(" ") + " e")
         else Seq.empty)
      val train = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val benchDf = bench.zipWithIndex.map { case (t, i) => (1000L + i, t) }
        .toDF("doc_id", "text")
      val benchGrams = bench.flatMap { t =>
        val w = t.split(" ", -1)
        if (w.length >= 8) (0 to w.length - 8).map(p => w.slice(p, p + 8).mkString(" "))
        else Seq.empty
      }.toSet
      val expected = texts.zipWithIndex.map { case (t, i) =>
        val w = t.split(" ", -1)
        val starts =
          if (w.length >= 8)
            (0 to w.length - 8).filter(p => benchGrams(w.slice(p, p + 8).mkString(" ")))
          else Seq.empty
        val covered = starts.flatMap(p => p until p + 8).toSet
        val kept = w.zipWithIndex.collect { case (x, j) if !covered(j) => x }
        i.toLong -> ((w.length.toLong, (w.length - kept.length).toLong,
          kept.mkString(" ")))
      }.toMap
      val got = graft.operators.TrainingData
        .exciseBenchmarkSpans(train, benchDf).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      got == expected
    }

  property("q100 domainProfile conserves docs/chars, bounds dups, drops blocked domains") =
    Prop.forAllNoShrink(for {
      docs <- Gen.choose(1, 30).flatMap(n => Gen.listOfN(n, domainDocGen))
      blocked <- Gen.someOf("d0.com", "d1.org", "d2.net")
      dupEvery <- Gen.choose(2, 5)
    } yield (docs, blocked.toList, dupEvery)) { case (rows, blocked, dupEvery) =>
      val docs = rows.zipWithIndex.map { case ((dom, q, ch), i) =>
        (i.toLong, dom, q, ch) }.toDF("doc_id", "domain", "quality", "n_chars")
      val clusters = rows.indices.filter(_ % dupEvery == 0)
        .map(i => (i.toLong, 0L)).toDF("doc_id", "cluster_id")
      val bl = blocked.toDF("domain")
      val out = graft.operators.DomainCuration
        .domainProfile(docs, clusters, bl).collect()
      val kept = rows.zipWithIndex.filterNot { case ((dom, _, _), _) =>
        blocked.contains(dom) }
      val docsOk = out.map(_.getLong(2)).sum == kept.size.toLong
      val charsOk = out.map(_.getLong(5)).sum ==
        kept.map(_._1._3).sum
      val dupsOk = out.forall(r => r.getLong(3) <= r.getLong(2) &&
        r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      val blockedOk = out.forall(r => !blocked.contains(r.getString(0)))
      docsOk && charsOk && dupsOk && blockedOk
    }

  // q105: distDrift equals a BigInt reference on random count tables
  // small enough that the top-50 cut returns the FULL vocabulary —
  // the truncating integer division and the |dp| ordering both
  // re-derived independently here
  private val countTableGen: Gen[Map[String, Long]] = for {
    n <- Gen.choose(1, 20)
    ws <- Gen.listOfN(n, Gen.identifier.map(_.take(5)).suchThat(_.nonEmpty))
    cs <- Gen.listOfN(n, Gen.choose(1L, 1000L))
  } yield ws.zip(cs).toMap

  property("q105 distDrift equals the BigInt reference on random count tables") =
    Prop.forAllNoShrink(Gen.zip(countTableGen, countTableGen)) { case (o, n) =>
      val scale = BigInt(1000000000L)
      val totO = BigInt(o.values.sum); val totN = BigInt(n.values.sum)
      val expected = (o.keySet ++ n.keySet).toSeq.map { w =>
        val co = BigInt(o.getOrElse(w, 0L)); val cn = BigInt(n.getOrElse(w, 0L))
        (w, co.toLong, cn.toLong, ((cn * scale) / totN - (co * scale) / totO).toLong)
      }.sortBy { case (w, _, _, dp) => (-math.abs(dp), w) }
      val got = graft.operators.Integrity.distDrift(
          o.toSeq.toDF("w", "cnt"), n.toSeq.toDF("w", "cnt"))
        .collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      got == expected
    }

  // q106: lineExcision equals the reference excision on random pages
  // drawn from a small line alphabet (so hot lines actually occur)
  private val pagesGen: Gen[(Seq[(Long, String)], Int)] = for {
    nd <- Gen.choose(1, 12)
    minDocs <- Gen.choose(2, 4)
    pages <- Gen.listOfN(nd, Gen.choose(1, 5).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
        .map(_.mkString("\n"))))
  } yield (pages.zipWithIndex.map { case (t, i) => (i.toLong, t) }, minDocs)

  property("q106 lineExcision equals the reference excision on random pages") =
    Prop.forAllNoShrink(pagesGen) { case (pages, minDocs) =>
      val hot = pages.flatMap { case (id, t) => t.split("\n", -1).distinct.map(id -> _) }
        .groupBy(_._2).collect { case (l, xs) if xs.size >= minDocs => l }.toSet
      val expected = pages.map { case (id, t) =>
        val ls = t.split("\n", -1).toSeq
        (id, ls.size.toLong, ls.count(hot).toLong,
          ls.filterNot(hot).mkString("\n"))
      }.toSet
      val got = graft.operators.TextAnalysis.lineExcision(
          pages.toDF("doc_id", "t"), minDocs)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      got == expected
    }

  // q109: the overlap matrix equals a reference computation on random
  // (doc → source, doc → cluster) assignments
  property("q109 sourceOverlap equals the reference matrix on random assignments") =
    Prop.forAllNoShrink(for {
      n <- Gen.choose(2, 40)
      srcs <- Gen.listOfN(n, Gen.oneOf("sA", "sB", "sC", "sD"))
      cls <- Gen.listOfN(n, Gen.choose(0L, 6L))
    } yield srcs.zip(cls).zipWithIndex.map { case ((s, c), i) => (i.toLong, s, c) }) {
      rows =>
        val byCluster = rows.groupBy(_._3).values
        val expected = byCluster.flatMap { members =>
          val bySrc = members.groupBy(_._2).map { case (s, xs) => s -> xs.size.toLong }
          val srcs = bySrc.keys.toSeq.sorted
          for { a <- srcs; b <- srcs if a < b }
            yield ((a, b), (1L, bySrc(a) * bySrc(b)))
        }.groupBy(_._1).map { case (k, xs) =>
          k -> ((xs.map(_._2._1).sum, xs.map(_._2._2).sum))
        }
        val docs = rows.map(r => (r._1, r._2)).toDF("doc_id", "source")
        val clusters = rows.map(r => (r._1, r._3)).toDF("doc_id", "cluster_id")
        val got = graft.operators.Dedup.sourceOverlap(docs, clusters)
          .collect().map(r => (r.getString(0), r.getString(1)) ->
            ((r.getLong(2), r.getLong(3)))).toMap
        got == expected
    }

  // q107: shuffled packing equals the reference next-fit fold over the
  // md5-dealt order — seed, shard prefix, ordering and capacity rule
  // all re-derived independently
  property("q107 shuffled packing equals the reference next-fit on random counts") =
    Prop.forAllNoShrink(for {
      n <- Gen.choose(1, 60)
      counts <- Gen.listOfN(n, Gen.choose(1L, 40L))
      cap <- Gen.choose(20L, 80L)
      seed <- Gen.identifier.map(_.take(6))
    } yield (counts.zipWithIndex.map { case (c, i) => (i.toLong, c) }, cap, seed)) {
      case (counts, cap, seed) =>
        def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val dealt = counts.map { case (id, c) => (id, md5hex(seed + id), c) }
        val expected = dealt.groupBy(_._2.take(2)).flatMap { case (shard, xs) =>
          var running = 0L; var pack = 0L
          xs.sortBy(x => (x._2, x._1)).zipWithIndex.map { case ((id, _, c), i) =>
            if (i == 0) { running = c; pack = 0L }
            else if (running + c > cap) { running = c; pack += 1L }
            else running += c
            (id, shard, pack, c)
          }
        }.toSet
        val got = graft.operators.TrainingData.packSequencesShuffledFromCounts(
            counts.toDF("doc_id", "n_tokens"), seed, cap)
          .collect().map(r => (r.getLong(0), r.getString(1),
            r.getLong(2), r.getLong(3))).toSet
        got == expected
    }

  // q112: the partitioned budget kernel equals the reference
  // per-partition cumulative prefix rule on random scored corpora —
  // ordering, bucket phases and budget arithmetic re-derived
  // independently
  property("q112 per-partition budget equals the reference prefix rule") =
    Prop.forAllNoShrink(for {
      n <- Gen.choose(1, 60)
      rows <- Gen.listOfN(n, for {
        lang <- Gen.oneOf("en", "de", "zh")
        tok <- Gen.choose(1L, 50L)
        q <- Gen.choose(0, 2000).map(_ / 20.0) // coarse grid forces quality TIES
      } yield (lang, tok, q))
      budget <- Gen.choose(30L, 300L)
    } yield (rows.zipWithIndex.map { case ((l, t, q), i) => (i.toLong, l, t, q) },
      budget)) { case (rows, budget) =>
      val expected = rows.groupBy(_._2).values.flatMap { xs =>
        var cum = 0L
        xs.sortBy(x => (-x._4, x._1)).map { case (id, _, tok, _) =>
          cum += tok
          id -> (cum <= budget)
        }
      }.toMap
      val got = graft.operators.TrainingData.tokenBudgetKeepScoredBy(
          rows.toDF("doc_id", "lang", "n_tokens", "quality"), budget, "lang")
        .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
      got == expected
    }

  // q113: the shard manifest equals the reference cut on random pack
  // sets, and every file's token total is bounded by budget + the
  // largest single pack (packs never split)
  property("q113 manifest equals the reference cut and respects the file bound") =
    Prop.forAllNoShrink(for {
      n <- Gen.choose(1, 50)
      packs <- Gen.listOfN(n, for {
        shard <- Gen.choose(0, 5).map(i => f"s$i")
        pk <- Gen.choose(0L, 7L)
        tok <- Gen.choose(1L, 120L) // occasionally exceeds the budget: oversized packs
      } yield (shard, pk, tok))
      budget <- Gen.choose(50L, 200L)
    } yield (packs.zipWithIndex.map { case ((s, p, t), i) => (i.toLong, s, p, t) },
      budget)) { case (docRows, budget) =>
      // reference: doc rows -> pack totals in (shard, pack_id) order ->
      // running cut
      val packTotals = docRows.groupBy(r => (r._2, r._3)).toSeq
        .map { case ((s, p), xs) => (s, p, xs.size.toLong, xs.map(_._4).sum) }
        .sortBy(x => (x._1, x._2))
      var cum = 0L
      val expected = packTotals.map { case (_, _, nd, tok) =>
        val f = cum / budget; cum += tok; (f, nd, tok)
      }.groupBy(_._1).map { case (f, xs) =>
        f -> ((xs.size.toLong, xs.map(_._2).sum, xs.map(_._3).sum))
      }
      val got = graft.operators.TrainingData.shardManifest(
          docRows.toDF("doc_id", "shard", "pack_id", "n_tokens"), budget)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val maxPack = packTotals.map(_._4).max
      got == expected &&
        got.values.forall { case (_, _, tok) => tok <= budget + maxPack - 1 }
    }

  // q114: canonicalization is IDEMPOTENT over the messy-url space — a
  // canonical form re-canonicalizes to itself (the property that lets
  // an incremental pipeline store canonical keys and re-process mixed
  // raw/canonical inputs without drift)
  property("q114 canonicalizeUrl is idempotent over messy urls") =
    Prop.forAllNoShrink(Gen.listOfN(40, Gen.choose(0L, 100000L))) { ids =>
      import graft.operators.DomainCuration
      val out = ids.toDF("doc_id")
        .select(DomainCuration.canonicalizeUrl(
          DomainCuration.messyUrl(col("doc_id"))).as("c1"))
        .select(col("c1"), DomainCuration.canonicalizeUrl(col("c1")).as("c2"))
        .collect()
      out.forall(r => r.getString(0) == r.getString(1))
    }

  // q115: precedence survivors equal a reference selection on random
  // (cluster, tier, quality) assignments — the (tier ASC, quality
  // DESC, doc_id ASC) rule re-derived independently, singleton
  // fallthrough included
  property("q115 precedenceSurvivors equals the reference selection") =
    Prop.forAllNoShrink(for {
      n <- Gen.choose(1, 50)
      rows <- Gen.listOfN(n, for {
        tier <- Gen.oneOf(1, 2, 99)
        q <- Gen.choose(0, 100).map(_.toDouble) // coarse grid forces ties
        clustered <- Gen.oneOf(true, false)
        cid <- Gen.choose(0L, 5L)
      } yield (tier, q, if (clustered) Some(cid + 1000L) else None))
    } yield rows.zipWithIndex.map { case ((t, q, c), i) =>
      (i.toLong, s"s$t", t, q, c)
    }) { rows =>
      val expected = rows
        .groupBy(r => r._5.getOrElse(r._1))
        .map { case (cid, xs) =>
          val keep = xs.minBy(x => (x._3, -x._4, x._1))
          cid -> ((keep._1, keep._2, xs.size.toLong))
        }
      val scored = rows.map(r => (r._1, r._2, r._3, r._4))
        .toDF("doc_id", "source", "tier", "quality")
      val clusters = rows.collect { case (id, _, _, _, Some(c)) => (id, c) }
        .toDF("doc_id", "cluster_id")
      val got = graft.operators.Dedup.precedenceSurvivors(scored, clusters)
        .collect().map(r => r.getLong(1) ->
          ((r.getLong(0), r.getString(3), r.getLong(2)))).toMap
      got == expected
    }
}
