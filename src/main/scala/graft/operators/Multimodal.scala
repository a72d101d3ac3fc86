package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling for a training-data pipeline: media
  * payloads are opaque `binary` columns with a typed metadata struct;
  * decode → perceptual hash (aHash) runs per partition.
  *
  * Codec note: all three modalities have REAL dependency-free codecs
  * for their library-free flavors — BMP / PNG / JPEG ([[ImageCodec]]),
  * PCM16 RIFF/WAVE ([[AudioCodec]]) and uncompressed or MJPEG RIFF/AVI
  * ([[VideoCodec]]) — each engaged whenever the payload sniffs as that
  * format. Payloads no codec decodes (H.264 video etc., for which no av
  * codec libraries ship in this environment) emit no print. Binary
  * payloads never shuffle here; prints are computed map-side and only
  * the 8-byte hash rows flow on.
  *
  * The metadata-level operators (q33) are pure column expressions and
  * are oracle-checked like any other query (payload := utf8 bytes of
  * documents.text in the fixtures).
  */
object Multimodal {

  /** One media payload: id + opaque bytes + typed metadata. */
  final case class MediaRecord(media_id: Long, content: Array[Byte],
      media_type: String, source: String)

  /** Fixture adapter: documents.text as an opaque binary payload. */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("content"),
      when(col("doc_id") % 2 === 0, "image").otherwise("audio").as("media_type"),
      col("source"))

  /** Ingest a DIRECTORY of raw media files as [[MediaRecord]]s via
    * Spark's built-in `binaryFile` source — how image/audio bytes
    * actually enter the engine from object storage (the fixture
    * `mediaTable` above synthesizes payloads from the documents table;
    * this is the production door). Scale shape: `binaryFile` does
    * distributed listing and per-file tasks, `pathGlobFilter` prunes at
    * the LISTING (non-matching files are never opened), and the decode
    * stages downstream stay map-side, so payload bytes still never
    * shuffle. `media_id` is the xxhash64 of the file path — stable
    * across runs, collision odds ~n²/2⁶⁵; keep the path column when
    * ids must be reversible. `media_type` derives from the extension
    * (bmp→image, wav→audio, avi→video, else "binary").
    */
  def readBinaryDir(s: SparkSession, dir: String,
      glob: String = "*"): Dataset[MediaRecord] = {
    import s.implicits._
    s.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(
        xxhash64(col("path")).as("media_id"),
        col("content"),
        mediaTypeOf(col("path")).as("media_type"),
        lit(dir).as("source"))
      .as[MediaRecord]
  }

  // every format the image door sniffs (BMP/JPEG/PNG) classifies as
  // image — round 16: .png/.jpg used to fall to "binary" and never
  // reached the aHash door despite a decoder existing
  private def mediaTypeOf(path: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    when(lower(path).rlike("\\.(bmp|png|jpg|jpeg)$"), "image")
      .when(lower(path).endsWith(".wav"), "audio")
      .when(lower(path).endsWith(".avi"), "video")
      .otherwise("binary")

  /** `(media_id, sh)` aHash perceptual fingerprints of the decodable BMP
    * payloads in a media frame — the image half of the dedup
    * composition: binary is consumed MAP-SIDE (one decode + 8×8
    * resample per payload, [[ImageCodec.aHash]]), only the 8-byte
    * fingerprint flows on, and [[graft.operators.Dedup.bandedHammingPairs]]
    * turns the fingerprints into near-dup pairs with exact
    * hamming-bounded recall. Undecodable payloads are skipped, not
    * failed — one corrupt image in a 100 TB batch cannot kill the job.
    */
  /** Payload-decode observability: bumped once per decode ATTEMPT in
    * the three aHash doors. Meaningful as an exact count only in
    * local/test mode (one JVM); on a cluster it is a per-executor
    * debug counter. The incremental media state's spec asserts through
    * it that a second sync decodes ONLY the new/changed payloads.
    */
  private[graft] val decodeCount = new java.util.concurrent.atomic.AtomicLong

  def imageAHashes(records: Dataset[MediaRecord]): DataFrame = {
    import records.sparkSession.implicits._
    records.mapPartitions(_.flatMap { r =>
      // format-sniffing door (BMP / JPEG / PNG via ImageCodec.aHash's
      // decodeAny); the Try keeps a sniff-positive-but-malformed
      // payload from failing the task
      if (r.media_type == "image" && (ImageCodec.isBmp(r.content) ||
          ImageCodec.isJpeg(r.content) || ImageCodec.isPng(r.content))) {
        decodeCount.incrementAndGet()
        scala.util.Try(ImageCodec.aHash(r.content)).toOption
          .map(h => (r.media_id, h))
      } else None
    }).toDF("doc_id", "sh")
  }

  /** Fixture image corpus: each "image" payload rendered as a REAL 8×8
    * 24bpp BMP from its first 192 content bytes — deterministic, and
    * near-identical payloads (the fixture's near-dup document families)
    * render to near-identical rasters, so the aHash pipeline has true
    * positives to find.
    */
  def bmpMediaTable(s: SparkSession, d: String): Dataset[MediaRecord] = {
    import s.implicits._
    mediaTable(s, d).filter(col("media_type") === "image")
      .as[MediaRecord]
      .mapPartitions(_.map { r =>
        val px = new Array[Byte](192)
        System.arraycopy(r.content, 0, px, 0, math.min(r.content.length, 192))
        r.copy(content = ImageCodec.encode(ImageCodec.Image(8, 8, px)))
      })
  }

  /** `(media_id, sh)` energy-fingerprints of the decodable WAV payloads
    * in a media frame — the audio half of the dedup composition, shaped
    * exactly like [[imageAHashes]]: payload bytes are consumed MAP-SIDE
    * (one WAV decode + 64-slice energy pass, [[AudioCodec.aHash]]),
    * only the 8-byte print crosses the wire, undecodable clips are
    * skipped rather than failed.
    */
  def audioAHashes(records: Dataset[MediaRecord]): DataFrame = {
    import records.sparkSession.implicits._
    records.mapPartitions(_.flatMap { r =>
      if (r.media_type == "audio" && AudioCodec.isWav(r.content)) {
        decodeCount.incrementAndGet()
        scala.util.Try(AudioCodec.aHash(r.content)).toOption
          .map(h => (r.media_id, h))
      } else None
    }).toDF("doc_id", "sh")
  }

  /** Fixture audio corpus: each "audio" payload re-encoded as a REAL
    * PCM16 mono WAV whose samples are the first 384 content bytes
    * (192 samples @ 8 kHz) — deterministic, and near-identical payloads
    * (the fixture's dup document families) produce near-identical
    * clips, so the audio-dedup pipeline has true positives to find.
    */
  def wavMediaTable(s: SparkSession, d: String): Dataset[MediaRecord] = {
    import s.implicits._
    mediaTable(s, d).filter(col("media_type") === "audio")
      .as[MediaRecord]
      .mapPartitions(_.map { r =>
        val pcm = new Array[Byte](384)
        System.arraycopy(r.content, 0, pcm, 0, math.min(r.content.length, 384))
        val samples = new Array[Short](192)
        var i = 0
        while (i < 192) {
          samples(i) = ((pcm(2 * i) & 0xff) | ((pcm(2 * i + 1) & 0xff) << 8)).toShort
          i += 1
        }
        r.copy(content = AudioCodec.encode(AudioCodec.Audio(8000, 1, samples)))
      })
  }

  /** `(media_id, sh)` KEYFRAME perceptual fingerprints of the decodable
    * video payloads in a media frame — the third modality composed
    * with the dedup stack, shaped exactly like [[imageAHashes]]:
    * payload bytes are consumed MAP-SIDE (container demux + per-frame
    * JPEG decode for MJPEG, straight DIB read for BI_RGB — decodeAuto
    * sniffs the fourcc), the MIDDLE frame's raster goes through the
    * same integer aHash as still images, and only the 8-byte print
    * crosses the wire. Undecodable clips are skipped, not failed —
    * and so are clips whose keyframe is UNIFORM (aHash 0: no pixel
    * strictly above the mean — a blank/solid frame carries no
    * perceptual signal, and "blank matches blank" is not a near-dup
    * verdict; measured, the fixture's short docs would otherwise
    * contribute C(128,2) ≈ 8k spurious hamming-0 pairs at sf0.001).
    */
  def videoAHashes(records: Dataset[MediaRecord]): DataFrame = {
    import records.sparkSession.implicits._
    records.mapPartitions(_.flatMap { r =>
      if (r.media_type == "video" && VideoCodec.isAvi(r.content)) {
        decodeCount.incrementAndGet()
        scala.util.Try {
          val v = VideoCodec.decodeAuto(r.content)
          ImageCodec.aHashImage(VideoCodec.frameImage(v, v.nFrames / 2))
        }.toOption.filter(_ != 0L).map(h => (r.media_id, h))
      } else None
    }).toDF("doc_id", "sh")
  }

  /** Fixture video corpus: each payload muxed as a REAL 3-frame 8×8
    * MJPEG AVI — frame f's raster is content bytes [f·192, f·192+192),
    * JPEG-encoded ([[ImageCodec.encodeJpeg]]) and containerized
    * ([[VideoCodec.encodeMjpeg]]). Deterministic (one JDK, one
    * encoder), and the fixture's near-dup document families render to
    * near-identical keyframes, so the video-dedup pipeline has true
    * positives to find — the q60/q80 fixture discipline, third
    * modality.
    */
  def mjpegMediaTable(s: SparkSession, d: String): Dataset[MediaRecord] = {
    import s.implicits._
    mediaTable(s, d).as[MediaRecord]
      .mapPartitions(_.map { r =>
        // 8×8 frames over bytes [f·192, f·192+192) — the q60 BMP
        // geometry, so the hashed MIDDLE frame sits at bytes 192..384
        // (inside every fixture doc, like q80's 384-byte WAV window).
        // Two measured fixture traps anchor the encode settings:
        // default-quality JPEG quantizes the single 8×8 block to ~its
        // DC term, collapsing unrelated docs to hamming ≤ 3 (9k pairs
        // at sf0.001 vs q60's 235) — quality 0.9 keeps the block's
        // structure; and frames past a doc's length decode all-zero,
        // which sent every short doc into ONE capped mega-bucket and
        // zeroed recall. The ×37 byte spread (odd ⇒ bijective) keeps
        // dup families rendering near-identical rasters.
        val frames = (0 until 3).map { f =>
          val px = new Array[Byte](192)
          val off = math.min(f * 192, r.content.length)
          var i = 0
          val n = math.min(r.content.length - off, 192)
          while (i < n) {
            px(i) = (r.content(off + i) * 37).toByte
            i += 1
          }
          ImageCodec.encodeJpeg(ImageCodec.Image(8, 8, px), quality = 0.9f)
        }
        r.copy(media_type = "video",
          content = VideoCodec.encodeMjpeg(frames, 8, 8,
            microSecPerFrame = 100000))
      })
  }

  // ---- q98: video near-dup pairs (keyframe aHash + banded hamming) -------
  // The THIRD modality composed with the dedup stack, through the
  // round-11 MJPEG codec: demux + JPEG-decode the middle keyframe
  // map-side, then the identical banded index as q49/q60/q80. Rows-only
  // like q60/q80 (no JPEG decode in DuckDB); q98b stages the hashes and
  // DuckDB-checks the pairing, so everything downstream of decode is
  // driver-hash-checked.
  private def q98(s: SparkSession, d: String): DataFrame =
    Dedup.bandedHammingPairs(videoAHashes(mjpegMediaTable(s, d)),
      AHashBits, AHashBands, AHashHammingMax, AHashBandCap)

  // ---- q80: audio near-dup pairs (energy aHash + banded hamming) ---------
  // The second modality composed with the dedup stack: q60 proved the
  // pattern on images; this runs the SAME banded index (64 bits, 4×16
  // slices, pigeonhole-exact for hamming ≤ 3) over audio energy
  // prints. Rows-only like q60 — WAV decode is not expressible in
  // DuckDB; recall-exactness is CI-asserted by brute force instead.
  private def q80(s: SparkSession, d: String): DataFrame =
    Dedup.bandedHammingPairs(audioAHashes(wavMediaTable(s, d)),
      AHashBits, AHashBands, AHashHammingMax, AHashBandCap)

  // ---- q60: image near-dup pairs (aHash + banded hamming) ----------------
  // The multimodal and dedup families composed as first-class
  // co-operators: decode → perceptual hash map-side, then the exact
  // same banded index that dedups SimHash text prints (q49) dedups the
  // image fingerprints — 64 bits, 4×16-bit slices, pigeonhole-exact for
  // hamming ≤ 3. No DuckDB oracle exists (BMP decode is not
  // expressible there — the q32 rows-only precedent); recall-exactness
  // is CI-asserted instead by brute force in MultimodalSpec/
  // DedupSimilaritySpec.
  private val AHashBits = 64
  private val AHashBands = 4
  private val AHashHammingMax = 3
  private val AHashBandCap = 200

  private def q60(s: SparkSession, d: String): DataFrame =
    Dedup.bandedHammingPairs(imageAHashes(bmpMediaTable(s, d)),
      AHashBits, AHashBands, AHashHammingMax, AHashBandCap)

  /** Cross-format media dedup VERDICTS over a raw media frame — the
    * batch-pipeline composition of the modality×dedup matrix (round
    * 16, Curate's `--media` stage): each modality's payloads decode to
    * perceptual prints map-side (BMP/JPEG/PNG through one sniffing
    * door, WAV energy, MJPEG keyframe), the banded-hamming index
    * proposes within-modality pairs (hamming ≤ [[AHashHammingMax]],
    * pigeonhole-exact), connected components name the copy families,
    * and the min-id member of each family survives. Output: one row
    * per media record `(media_id, media_type, cluster_id, keep)` —
    * undecodable payloads are their own singletons (kept). Modalities
    * never cross-match: an image print and an audio print share no
    * pair source even on a hamming collision.
    */
  def mediaDedupVerdicts(records: Dataset[MediaRecord]): DataFrame = {
    val hashes = Seq(imageAHashes(records), audioAHashes(records),
        videoAHashes(records))
      .reduce(_ unionByName _)
      .withColumnRenamed("doc_id", "media_id")
    // the id/type projection prunes `content` at the binaryFile scan —
    // no payload bytes move past the map-side hash
    mediaVerdictsFromPrints(
      records.toDF().select(col("media_id"), col("media_type"))
        .join(hashes, Seq("media_id"), "left"))
  }

  /** [[mediaDedupVerdicts]]'s pairing/survivor tail over a pre-decoded
    * `(media_id, media_type, sh)` print frame (`sh` null for
    * undecodable payloads — their own kept singletons). Split out
    * (round 17) so the incremental media state verdicts from STORED
    * prints without touching a payload byte; the two forms are
    * value-identical by construction (spec-pinned).
    */
  def mediaVerdictsFromPrints(prints: DataFrame): DataFrame = {
    val pairs = Seq("image", "audio", "video")
      .map(t => Dedup.bandedHammingPairs(
        prints.filter(col("media_type") === t && col("sh").isNotNull)
          .select(col("media_id").as("doc_id"), col("sh")),
        AHashBits, AHashBands, AHashHammingMax, AHashBandCap)
        .select(col("doc_a"), col("doc_b")))
      .reduce(_ unionByName _)
    val clusters = Dedup.dupClusters(pairs)
      .withColumnRenamed("doc_id", "media_id")
    // min-label survivor: the component's cluster_id IS its min member
    // id, so keep ⇔ unclustered ∨ id == label.
    prints.select(col("media_id"), col("media_type"))
      .join(clusters, Seq("media_id"), "left")
      .select(col("media_id"), col("media_type"),
        coalesce(col("cluster_id"), col("media_id")).as("cluster_id"),
        (col("cluster_id").isNull ||
          col("cluster_id") === col("media_id")).as("keep"))
  }

  // ---- incremental media-hash state ---------------------------------------
  // At 100 TB of media, re-decoding the whole sidecar on every ingest
  // is the difference between a pipeline and a demo: the Curate
  // `--media` stage re-ran every decode whenever ONE file changed
  // (the stage stamp folds a listing fingerprint — correct, but all
  // or nothing). This state keeps a per-path print roster
  // `(media_id, path, mtime, len, media_type, sh)` as the keyed table
  // of a graft.VersionedState (versioned parts, atomic pointer, writer
  // lock, mass/version compaction): a sync lists the dir WITHOUT
  // reading payload bytes (binaryFile prunes `content` when the
  // column is unselected), diffs the listing against the roster on
  // (path, mtime, len), and DECODES ONLY the new/changed files — the
  // scan that does read bytes carries a pushed-down
  // `modificationTime >= min(batch mtimes)` predicate, so unchanged
  // files are never even opened (BinaryFileFormat pushes path/length/
  // modificationTime filters). Removed or changed paths tombstone
  // (changed = tombstone + fresh row, latest version wins per
  // media_id). Verdicts then come from [[mediaVerdictsFromPrints]]
  // over the stored prints — zero payload bytes touched.

  private def mediaState(dir: String): graft.VersionedState =
    new graft.VersionedState(dir, Seq(graft.VersionedState.Keyed("media",
        "media_id", "media_id BIGINT, path STRING, mtime BIGINT, len BIGINT, " +
          "media_type STRING, sh BIGINT",
        tombstone = Some("path"))),
      massTable = Some("media"))

  /** Current roster `(media_id, path, mtime, len, media_type, sh)`. */
  def readMediaState(s: SparkSession, dir: String): DataFrame =
    mediaState(dir).read(s, "media")

  /** Bring the media-print roster up to date with the CURRENT contents
    * of `mediaDir` and return it. First call decodes everything; later
    * calls decode only new/changed files and tombstone removed ones.
    * An unchanged dir is a version-preserving no-op.
    */
  def syncMediaState(s: SparkSession, dir: String, mediaDir: String,
      glob: String = "*"): DataFrame =
    graft.StateFiles.withWriterLock(dir) {
      syncMediaLocked(s, dir, mediaDir, glob)
    }

  private def syncMediaLocked(s: SparkSession, dir: String, mediaDir: String,
      glob: String): DataFrame = {
      import s.implicits._
      val state = mediaState(dir)
      val inited = state.initialized
      // byte-free listing: content is not selected, so binaryFile
      // builds rows from file status alone
      val listing = s.read.format("binaryFile")
        .option("pathGlobFilter", glob).load(mediaDir)
        .select(col("path"), unix_millis(col("modificationTime")).as("mtime"),
          col("length").as("len"))
        .localCheckpoint()
      // an empty store's roster is an empty relation already: no job
      val roster = {
        val r = readMediaState(s, dir)
        if (inited) r.localCheckpoint() else r
      }
      val keyCols = Seq("path", "mtime", "len")
      val fresh = listing.join(roster, keyCols, "left_anti")
        .localCheckpoint()
      val gone = roster.join(listing, keyCols, "left_anti")
        .select("media_id").localCheckpoint()
      if (inited && fresh.isEmpty && gone.isEmpty) return roster
      val decoded =
        if (fresh.isEmpty)
          fresh.select(col("path"), col("mtime"), col("len"))
            .withColumn("media_id", lit(null).cast("long"))
            .withColumn("media_type", lit(null).cast("string"))
            .withColumn("sh", lit(null).cast("long"))
            .select("media_id", "path", "mtime", "len", "media_type", "sh")
        else {
          // the ONLY byte-reading scan: the mtime lower bound pushes
          // into the binaryFile source (plain attribute >= literal), so
          // files older than every batch member are never opened; the
          // path semi-join exacts the set (covers a new file copied in
          // with an old mtime — the bound degrades, never misses)
          val minMt = fresh.agg(min(col("mtime"))).head().getLong(0)
          val batch = s.read.format("binaryFile")
            .option("pathGlobFilter", glob).load(mediaDir)
            .filter(col("modificationTime") >=
              lit(new java.sql.Timestamp(minMt)))
            .join(fresh.select("path"), Seq("path"), "left_semi")
            .select(xxhash64(col("path")).as("media_id"), col("content"),
              mediaTypeOf(col("path")).as("media_type"),
              lit(mediaDir).as("source"), col("path"),
              unix_millis(col("modificationTime")).as("mtime"),
              col("length").as("len"))
            .localCheckpoint()
          val prints = Seq(
              imageAHashes(batch.select("media_id", "content", "media_type",
                "source").as[MediaRecord]),
              audioAHashes(batch.select("media_id", "content", "media_type",
                "source").as[MediaRecord]),
              videoAHashes(batch.select("media_id", "content", "media_type",
                "source").as[MediaRecord]))
            .reduce(_ unionByName _)
            .withColumnRenamed("doc_id", "media_id")
          // localCheckpoint: `decoded` feeds BOTH the version write and
          // the tombstone anti-join below — unchecked, the branch
          // duplication re-runs every decode (the recurring trap; rows
          // are thin print bookkeeping, no payload bytes)
          batch.select("media_id", "path", "mtime", "len", "media_type")
            .join(prints, Seq("media_id"), "left")
            .select("media_id", "path", "mtime", "len", "media_type", "sh")
            .localCheckpoint()
        }
      // an in-place rewrite lands its media_id in BOTH gone (old
      // mtime/len row) and decoded (fresh row) — the fresh row must
      // win, and both would share one version (a fold tie), so the
      // tombstone set excludes re-decoded ids
      val tombstones = gone
        .join(decoded.select("media_id"), Seq("media_id"), "left_anti")
        .select(col("media_id"), lit(null).cast("string").as("path"),
          lit(null).cast("long").as("mtime"), lit(null).cast("long").as("len"),
          lit(null).cast("string").as("media_type"),
          lit(null).cast("long").as("sh"))
      state.commit(s) { v =>
        decoded.unionByName(tombstones)
          .write.mode("overwrite").parquet(state.path("media", v))
      }
      readMediaState(s, dir)
  }

  // ---- q60b/q80b: the SQL-expressible half of q60/q80, DuckDB-checked ----
  // q60/q80 are rows-only because BMP/WAV DECODE has no DuckDB twin —
  // but the banded-hamming PAIRING over the decoded aHashes is pure
  // integer SQL. These companions split the pipeline at that boundary:
  // Spark computes the aHashes (decode stays CI-asserted by the
  // brute-force recall specs), STAGES them to a parquet the oracle can
  // read, and runs the same banded pairing over the staged frame; the
  // oracle replays the pairing in DuckDB (the o49 SQL shape) over the
  // identical staged bytes. Everything downstream of decode is thereby
  // driver-hash-checked, not trusted.
  //
  // The stage path is per-sf (Bench at sf0.1 and Verify at sf0.01
  // write different dirs, no clobbering); the oracle reads the sf0.01
  // dir because that is the scale the driver's correctness gate runs
  // at. Staging is overwrite-idempotent and a few KB per sf.
  private val StageRoot = "/root/repo/target/oracle_stage"
  private val OracleSf = "sf0.01" // the driver gate's fixture scale

  /** Decode-once staging (round 12, the `Dedup.stagedClusters`
    * discipline applied to the media family): the decoded aHash frame
    * is a doc-volume aggregate — one 64-bit print per clip — and each
    * modality's plain query and its staged-hash companion consumed the
    * SAME frame by re-running the whole decode (the entire media cost:
    * q98+q98b were 7.1 s + 7.3 s of the sf1 bench). The decode now
    * runs once per (corpus dir, modality) stamp and lands on the same
    * per-sf stage path the DuckDB oracle already reads, so the b-
    * companion's contract is untouched. The PLAIN queries (q60/q80/
    * q98) stay the honest fused decode+pair benchmark — they do not
    * read the stage, exactly as q44 stays the honest clustering
    * benchmark while q53/q72 share its staged map. A production
    * pipeline stages fingerprints once the same way (the Curate
    * stage-artifact discipline) — decoding a 100 TB media corpus once
    * per CONSUMER was the bug, not the decode itself. Measured at sf1
    * (TimeQuery min-over-3): q98b 7.29 → 1.18 s — the JPEG decode was
    * its dominant cost; q60b 1.96 → 1.69 and q80b 0.91 → 0.89 barely
    * move because BMP/WAV decode is cheap and the banded pairing
    * dominates them. Hashes unchanged (same frame, same pairing).
    */
  // The stage path must stay basename-derived — the DuckDB oracle reads
  // the literal `$StageRoot/sf0.01/...` — so two corpus dirs sharing a
  // basename alias onto ONE stage path (round-12 ADVICE). The stamp is
  // the SOURCE corpus (canonical path @ listing fingerprint), so
  // returning to the other alias, or rewriting a corpus in place,
  // re-stages before reading; [[graft.Stage]] swaps the new hashes in
  // by tmp + rename, so a concurrent reader never sees a torn parquet
  // (round-13 ADVICE). The remaining race is the lazy-evaluation one: a
  // frame returned before an alias re-staged the path re-plans against
  // the new files.
  private def stagedAHashes(s: SparkSession, d: String, sub: String,
      hashesOf: => DataFrame): DataFrame =
    s.read.parquet(graft.Stage(s,
      s"$StageRoot/${new java.io.File(d).getName}/$sub",
      graft.Stage.corpusStamp(d))(hashesOf.write.parquet(_)))

  private def q60b(s: SparkSession, d: String): DataFrame =
    Dedup.bandedHammingPairs(
      stagedAHashes(s, d, "q60_ahash", imageAHashes(bmpMediaTable(s, d))),
      AHashBits, AHashBands, AHashHammingMax, AHashBandCap)

  private def q80b(s: SparkSession, d: String): DataFrame =
    Dedup.bandedHammingPairs(
      stagedAHashes(s, d, "q80_ahash", audioAHashes(wavMediaTable(s, d))),
      AHashBits, AHashBands, AHashHammingMax, AHashBandCap)

  private def q98b(s: SparkSession, d: String): DataFrame =
    Dedup.bandedHammingPairs(
      stagedAHashes(s, d, "q98_ahash", videoAHashes(mjpegMediaTable(s, d))),
      AHashBits, AHashBands, AHashHammingMax, AHashBandCap)

  private def bandedPairsSql(stageSub: String): String = {
    val sliceWidth = AHashBits / AHashBands
    val mask = (1L << sliceWidth) - 1
    s"""WITH h AS (
       |  SELECT doc_id, sh
       |  FROM read_parquet('$StageRoot/$OracleSf/$stageSub/*.parquet')),
       |b AS (
       |  SELECT doc_id, sh,
       |         unnest(list_transform(range(0, $AHashBands), i ->
       |           CAST(i AS VARCHAR) || ':' ||
       |           CAST(((sh >> (i * $sliceWidth)) & $mask) AS VARCHAR))) AS bk
       |  FROM h),
       |small AS (SELECT bk FROM b GROUP BY bk HAVING count(*) <= $AHashBandCap)
       |SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.sh, c.sh)) AS INT) AS hamming
       |FROM b a JOIN small USING (bk) JOIN b c ON a.bk = c.bk AND a.doc_id < c.doc_id
       |WHERE bit_count(xor(a.sh, c.sh)) <= $AHashHammingMax""".stripMargin
  }

  private val o60b = bandedPairsSql("q60_ahash")
  private val o80b = bandedPairsSql("q80_ahash")
  private val o98b = bandedPairsSql("q98_ahash")

  // ---- q33: metadata extraction over opaque payloads (pure columns) ------
  // byte length, full-content digest, head-window digest ("thumbnail"),
  // and a strided frame sample — all computable without decoding.
  private def q33(s: SparkSession, d: String): DataFrame =
    mediaTable(s, d).select(
      col("media_id"),
      col("media_type"),
      length(col("content")).cast("long").as("byte_len"),
      md5(col("content")).as("content_digest"),
      md5(substring(col("content"), 1, 64)).as("head_digest"),
      expr("array_join(transform(sequence(0, 7), " +
        "i -> substring(cast(content AS STRING), i * 97 + 1, 1)), '')")
        .as("frame_sample"))

  private val o33 =
    """SELECT doc_id AS media_id,
      |       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
      |       strlen(text) AS byte_len,
      |       md5(text) AS content_digest,
      |       md5(substr(text, 1, 64)) AS head_digest,
      |       array_to_string(list_transform(range(0, 8),
      |                                      i -> substr(text, i * 97 + 1, 1)), '') AS frame_sample
      |FROM documents""".stripMargin

  // LAST in the object on purpose: Scala object vals initialize in
  // declaration order, so `queries` must follow every oracle val it
  // captures — a GraftQuery built from a val declared below this point
  // silently carries Some(null) and crashes the driver's oracle dump
  // (RegistrySpec pins this invariant registry-wide).
  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q33_media_meta", "opaque-payload metadata extraction", q33, Some(o33)),
    GraftQuery("q60_image_near_dups",
      "aHash perceptual image dedup via the banded-hamming index (rows-only: no BMP decode in DuckDB)",
      q60, None),
    GraftQuery("q60b_image_pairs_sql",
      "q60's banded-hamming pairing over STAGED aHashes — DuckDB-checked; decode stays CI-only",
      q60b, Some(o60b)),
    GraftQuery("q80_audio_near_dups",
      "energy-aHash audio dedup via the same banded-hamming index (rows-only: no WAV decode in DuckDB)",
      q80, None),
    GraftQuery("q80b_audio_pairs_sql",
      "q80's banded-hamming pairing over STAGED aHashes — DuckDB-checked; decode stays CI-only",
      q80b, Some(o80b)),
    GraftQuery("q98_video_near_dups",
      "MJPEG keyframe-aHash video dedup via the banded-hamming index (rows-only: no JPEG decode in DuckDB)",
      q98, None),
    GraftQuery("q98b_video_pairs_sql",
      "q98's banded-hamming pairing over STAGED keyframe aHashes — DuckDB-checked; decode stays CI-only",
      q98b, Some(o98b)))
}
