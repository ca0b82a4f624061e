package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.crawl.{ImageCodec, MediaCodec}

/** Multimodal columns for a training-data pipeline: media payloads as
  * opaque `binary` columns with typed metadata, processed per-partition
  * (the Scala analog of `mapInPandas` batch processing — one decoder
  * instance per partition, streaming iterator, no per-row setup cost).
  *
  * ALL THREE modalities are REAL: image decode/resize via javax.imageio,
  * audio via a pure-JVM PCM16 WAV parser with RMS/ZCR/MFCC features
  * (FFT + mel filterbank + DCT, crawl/MediaCodec.scala), video via a
  * motion-JPEG AVI demuxer whose frames decode through ImageIO. No
  * external codec library is needed for these container formats, which
  * is what retired the round-1/2 stubs.
  */
object MultimodalOps {

  final case class MediaRow(media_id: Long, kind: String, bytes: Array[Byte],
      fmt: String)
  final case class ImageMeta(media_id: Long, w: Int, h: Int, fmt: String,
      phash: Long, n_bytes: Int)

  /** Media spec derived from md5 hex nibbles of the id — arithmetic BOTH
    * engines can express (Spark md5() == DuckDB md5()), which is what lets
    * the driver's DuckDB oracle gate q_media_stats: the oracle computes
    * the EXPECTED dimensions from this formula while the Spark side must
    * recover them by actually decoding the encoded bytes.
    */
  private[operators] def hv(i: Long, k: Int): Int = {
    val hex = graft.core.Signature.md5Hex(
      i.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8), "")
    "0123456789abcdef".indexOf(hex.charAt(k - 1))
  }

  private[operators] def specOf(i: Long): (String, Int, Int, String) = {
    val kind = hv(i, 1) % 4 match {
      case 0 | 1 => "image"
      case 2 => "audio"
      case _ => "video"
    }
    val w = 16 + (hv(i, 2) * 16 + hv(i, 3)) % 33
    val h = 16 + (hv(i, 4) * 16 + hv(i, 5)) % 33
    val fmt = if (hv(i, 6) % 2 == 0) "png" else "jpeg"
    (kind, w, h, fmt)
  }

  /** Audio spec (md5 nibbles 7-10): sample rate 8/16/32 kHz, sample
    * count, tone frequency — the cross-engine formula behind
    * q_audio_stats' oracle.
    */
  private[operators] def audioSpecOf(i: Long): (Int, Int, Double) = {
    val rate = 8000 << (hv(i, 7) % 3)
    val nSamples = 2048 + (hv(i, 8) * 16 + hv(i, 9)) * 31
    val freq = 200.0 + hv(i, 10) * 50.0
    (rate, nSamples, freq)
  }

  /** Video spec (md5 nibble 7 + the image dims nibbles): frame count and
    * frame dimensions — behind q_video_stats' oracle.
    */
  private[operators] def videoSpecOf(i: Long): (Int, Int, Int) = {
    val (_, w, h, _) = specOf(i)
    (2 + hv(i, 7) % 5, w, h)
  }

  /** Deterministic synthetic media table — ALL payloads are real encoded
    * bytes: images (png/jpeg), audio (PCM16 WAV of a seeded sine), video
    * (motion-JPEG AVI of seeded frames).
    */
  def syntheticMedia(spark: SparkSession, n: Int,
      only: Set[String] = Set.empty): Dataset[MediaRow] = {
    import spark.implicits._
    // `only` prunes PAYLOAD SYNTHESIS to the requested kinds — encoding
    // images/AVIs a query never reads dominated q_audio_stats' cost
    spark.range(n)
      .filter(i => only.isEmpty || only.contains(specOf(i)._1))
      .map { i =>
      val seed = graft.core.XxHash64.hashLong(i, 11L)
      specOf(i) match {
        case ("image", w, h, fmt) =>
          MediaRow(i, "image",
            ImageCodec.encode(ImageCodec.pixels(seed, w, h), w, h, fmt), fmt)
        case ("audio", _, _, _) =>
          val (rate, nSamples, freq) = audioSpecOf(i)
          val samples = Array.tabulate(nSamples)(j =>
            (0.5 * math.sin(2 * math.Pi * freq * j / rate) * 32767).toShort)
          MediaRow(i, "audio", MediaCodec.renderWav(samples, rate), "wav")
        case _ =>
          val (nFrames, fw, fh) = videoSpecOf(i)
          val frames = (0 until nFrames).map(f =>
            ImageCodec.encode(ImageCodec.pixels(seed + f, fw, fh), fw, fh,
              "jpeg"))
          MediaRow(i, "video", MediaCodec.renderMjpegAvi(frames, fw, fh),
            "mjpeg-avi")
      }
    }
  }

  /** REAL image decode + metadata/fingerprint extraction, one partition at
    * a time (mapPartitions = the mapInPandas batch shape).
    */
  def imageMeta(media: Dataset[MediaRow]): Dataset[ImageMeta] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "image").mapPartitions { rows =>
      rows.map { r =>
        val (px, w, h) = ImageCodec.decodePixels(r.bytes)
        ImageMeta(r.media_id, w, h, r.fmt, ImageCodec.phash(px, w, h),
          r.bytes.length)
      }
    }
  }

  /** REAL image resize: box-downsample decoded pixels to (tw, th), re-encode
    * lossless. Returns (media_id, bytes) with the new payload.
    */
  def resizeImages(media: Dataset[MediaRow], tw: Int, th: Int)
      : Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "image").mapPartitions { rows =>
      rows.map { r =>
        val (px, w, h) = ImageCodec.decodePixels(r.bytes)
        val out = new Array[Int](tw * th)
        var y = 0
        while (y < th) {
          var x = 0
          while (x < tw) {
            // nearest-pixel box sample (sufficient for thumbnails)
            val sx = math.min(w - 1, x * w / tw)
            val sy = math.min(h - 1, y * h / th)
            out(y * tw + x) = px(sy * w + sx)
            x += 1
          }
          y += 1
        }
        r.copy(bytes = ImageCodec.encode(out, tw, th, "png"), fmt = "png")
      }
    }
  }

  /** REAL audio feature extraction: parse the PCM16 WAV container, emit
    * sample rate / duration / RMS / zero-crossing rate and the mean MFCC
    * vector (FFT + mel filterbank + DCT — MediaCodec.mfccMean). One
    * parser per partition, streaming (the mapInPandas batch shape);
    * undecodable payloads are dropped, not fatal.
    */
  def audioFeatures(media: Dataset[MediaRow], nMfcc: Int = 13)
      : DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "audio").mapPartitions { rows =>
      rows.flatMap { r =>
        try {
          val w = MediaCodec.parseWav(r.bytes)
          Some((r.media_id, w.sampleRate,
            w.samples.length.toDouble / (w.sampleRate * w.channels),
            MediaCodec.rms(w.samples), MediaCodec.zeroCrossRate(w.samples),
            MediaCodec.mfccMean(w, nMfcc)))
        } catch { case _: IllegalArgumentException => None }
      }
    }.toDF("media_id", "sample_rate", "duration_sec", "rms", "zcr",
      "mfcc_mean")
  }

  /** REAL video frame sampling: demux the motion-JPEG AVI, decode k
    * evenly-spaced frames through ImageIO, emit per-frame dimensions and
    * perceptual hash. Undecodable payloads are dropped.
    */
  def videoFrameSample(media: Dataset[MediaRow], k: Int = 4): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").flatMap { r =>
      val frames = MediaCodec.parseAviFrames(r.bytes)
      if (frames.isEmpty) Nil
      else {
        val picks =
          if (frames.length <= k) frames.indices
          else (0 until k).map(j => j * frames.length / k)
        picks.map { f =>
          val (px, w, h) = ImageCodec.decodePixels(frames(f))
          (r.media_id, f, w, h, ImageCodec.phash(px, w, h))
        }
      }
    }.toDF("media_id", "frame_idx", "w", "h", "phash")
  }

  /** Driver-facing query: media inventory stats over a synthetic media
    * table. Image dimensions are recovered by DECODING the real encoded
    * bytes (the full binary-column plumbing), while the DuckDB oracle
    * computes the same dimensions from the md5 spec formula — a decode
    * that dropped or distorted a single image fails the hash gate.
    */
  def mediaStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = syntheticMedia(spark, 400)
    val img = imageMeta(media)
      .select(lit("image").as("kind"), col("w"), col("h"))
    val rest = media.filter(r => r.kind != "image")
      .map(r => (r.kind, 0, 0)).toDF("kind", "w", "h")
    img.union(rest)
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("cnt"),
        round(avg(col("w")), 4).as("avg_w"),
        round(avg(col("h")), 4).as("avg_h"))
  }

  /** Hash-gated audio readout: Spark must recover sample rate and
    * duration by PARSING each WAV container; the oracle recomputes the
    * expected values from the md5 spec formula. A parser that misread a
    * chunk length or sample width on a single row fails the gate.
    */
  def audioStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = syntheticMedia(spark, 400, only = Set("audio"))
    // Round-7: parse-only path. audioFeatures computes RMS/ZCR and the
    // full MFCC stack (FFT + mel + DCT) per clip, but this query projects
    // only rate and duration — and mapPartitions is opaque to Spark, so
    // column pruning cannot remove that work (guide §4: select only what
    // the opaque fn needs). Same parse, same emitted values, no feature
    // math.
    media.filter(_.kind == "audio").mapPartitions { rows =>
      rows.flatMap { r =>
        try {
          val w = MediaCodec.parseWav(r.bytes)
          Some((r.media_id, w.sampleRate,
            w.samples.length.toDouble / (w.sampleRate * w.channels)))
        } catch { case _: IllegalArgumentException => None }
      }
    }.toDF("media_id", "sample_rate", "duration_sec")
      .select(col("media_id"), col("sample_rate"),
        round(col("duration_sec"), 4).as("dur_sec"))
  }

  /** Hash-gated video readout: frame count from the AVI demux, frame
    * dimensions from DECODING frame 0; oracle from the spec formula.
    */
  def videoStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = syntheticMedia(spark, 400, only = Set("video"))
    media.filter(_.kind == "video").map { r =>
      val frames = MediaCodec.parseAviFrames(r.bytes)
      val (_, w, h) = ImageCodec.decodePixels(frames.head)
      (r.media_id, frames.length, w, h)
    }.toDF("media_id", "n_frames", "frame_w", "frame_h")
  }

  // ------------------------------------------------- image near-dup (pHash)

  /** The base id that `i` copies in a near-dup corpus, by md5 nibbles
    * (mark, offset): `i` is dup-marked when nibble `mark` ≡ 3 (mod 4) AND
    * its candidate base id (i - 1 - nibble `offset` % 8) is in range. An
    * id actually COPIES its base only when the base is not itself
    * dup-marked (one level of lookup — no chains), so the pair list is a
    * pure md5 formula BOTH engines can evaluate.
    */
  private[operators] def dupBaseOf(i: Long, nibbles: (Int, Int))
      : Option[Long] = {
    val (mark, offset) = nibbles
    def candidate(j: Long): Option[Long] =
      Some(j - 1 - hv(j, offset) % 8).filter(_ >= 0 && hv(j, mark) % 4 == 3)
    candidate(i).filter(candidate(_).isEmpty)
  }

  /** The image corpus's dup nibbles; the video corpus's are disjoint, so
    * the two corpora plant independent groups.
    */
  private[operators] val imageDupNibbles = (11, 12)
  private[operators] val videoDupNibbles = (13, 14)

  /** Structured pixels for the dedup corpus: per-cell ±60 luma plateaus
    * from a seed-derived 64-bit pattern plus ±4 per-pixel jitter. The
    * 8×8 cell structure gives the average-hash wide margins (cell mean
    * sits 60 luma from the global mean), so a re-encode or a mild
    * brightness shift moves the hash 0-2 bits while independent seeds
    * give uniformly random 64-bit hashes — exactly the regime where a
    * banded Hamming join has recall 1 and no accidental pairs. (The
    * plain noise pixels ImageCodec.pixels generates are the OPPOSITE
    * regime: every cell mean hugs the global mean and the hash is
    * unstable by construction — fine for codec tests, useless as a
    * dedup corpus.)
    */
  private[operators] def cellPatternPixels(seed: Long, w: Int, h: Int,
      brightness: Int): Array[Int] = {
    val bits = graft.core.XxHash64.hashLong(seed, 77L)
    Array.tabulate(w * h) { idx =>
      val x = idx % w
      val y = idx / w
      val cell = math.min(7, y * 8 / h) * 8 + math.min(7, x * 8 / w)
      val jitter = java.lang.Math.floorMod(
        graft.core.XxHash64.hashLong(seed ^ (idx * 0x9E3779B97F4A7C15L), 7L),
        9L).toInt - 4
      val l0 = (if (((bits >>> cell) & 1L) == 1L) 188 else 68) +
        jitter + brightness
      val l = math.max(0, math.min(255, l0))
      (l << 16) | (l << 8) | l
    }
  }

  /** Deterministic image corpus with planted near-duplicates: a
    * dup-marked id re-renders its BASE's pixels (base seed, base dims)
    * with a +4 brightness shift and encodes them in its OWN format — a
    * re-encoded, slightly brightened copy, the common web idiom
    * (thumbnail mirrors, CDN re-compression). Everything else renders
    * its own seed. All payloads are real encoded bytes.
    */
  def syntheticImageDupCorpus(spark: SparkSession, n: Int)
      : Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { i =>
      val src: Long = dupBaseOf(i, imageDupNibbles).getOrElse(i)
      val (_, w, h, _) = specOf(src)
      val fmt = specOf(i)._4
      val px = cellPatternPixels(graft.core.XxHash64.hashLong(src, 11L),
        w, h, brightness = if (src != i) 4 else 0)
      MediaRow(i, "image", ImageCodec.encode(px, w, h, fmt), fmt)
    }
  }

  /** Image near-duplicate pairs by perceptual hash: decode → 64-bit
    * average hash (narrow mapPartitions, no shuffle) → LSH banding (4 ×
    * 16-bit bands as bucket keys, the simHashPairs shape) → exact
    * bit_count(xor) verify within candidates. Any pair within Hamming
    * distance 3 shares a band by pigeonhole; re-encoded/brightened
    * copies land 0-2 bits apart, so banding recall is structural, not
    * probabilistic. NOTE (recall contract): with 4 bands the pigeonhole
    * guarantee covers distance <= 3 only — candidates at distance 4
    * through `maxHamming` surface solely on lucky band collisions, so
    * the output is "all pairs within 3 bits, plus band-colliding pairs
    * up to maxHamming", not the full <=maxHamming pair set.
    *
    * 100 TB shape: the only shuffle keys are (band, 16-bit value) — pair
    * work is bounded by bucket occupancy exactly like the simhash text
    * path; byte payloads never shuffle. Exact duplicates (millions of
    * identical logos) are banded once per distinct hash by
    * [[Dedup.bandedPairs]].
    */
  def imagePhashDup(media: Dataset[MediaRow], maxHamming: Int = 10)
      : DataFrame = {
    import media.sparkSession.implicits._
    val hashes = media.filter(_.kind == "image").mapPartitions { rows =>
      rows.map(r => (r.media_id, ImageCodec.phashOfBytes(r.bytes)))
    }.toDF("media_id", "ph")
    Dedup.bandedPairs(hashes, "media_id", "ph", Dedup.hammingBands, 1)
      .select(col("id_a"), col("id_b"), Dedup.hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Driver-facing query: planted near-dup pairs recovered from real
    * bytes. Spark decodes every image and runs the banded phash join;
    * the oracle derives the SAME pair set from the md5 dup formula alone
    * (base↔dup and dup-sibling pairs within a base group). A decoder,
    * hash, or banding defect that loses or invents a single pair fails
    * the gate.
    */
  def imagePhashDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val media = syntheticImageDupCorpus(spark, 400)
    imagePhashDup(media).select(col("id_a"), col("id_b"))
  }

  // ------------------------------------------------- video near-dup

  /** Video corpus with planted near-duplicates: a dup-marked id
    * re-renders its BASE's frames (base seed, frame count, dims) with a
    * +4 brightness shift — a re-encoded copy of the same clip. Frames
    * use the cell-pattern pixels for the same hash-margin reasons as the
    * image corpus.
    */
  def syntheticVideoDupCorpus(spark: SparkSession, n: Int)
      : Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { i =>
      val src: Long = dupBaseOf(i, videoDupNibbles).getOrElse(i)
      val (nFrames, w, h) = videoSpecOf(src)
      val bright = if (src != i) 4 else 0
      val frames = (0 until nFrames).map { f =>
        val px = cellPatternPixels(
          graft.core.XxHash64.hashLong(src * 31L + f, 13L), w, h, bright)
        ImageCodec.encode(px, w, h, "jpeg")
      }
      MediaRow(i, "video", MediaCodec.renderMjpegAvi(frames, w, h),
        "mjpeg-avi")
    }
  }

  /** Video near-duplicate pairs: demux each AVI, phash every frame
    * (narrow mapPartitions), band each FRAME hash with the frame index
    * folded into the bucket key — candidate videos must match a band at
    * the SAME frame position (re-encoded copies are frame-aligned; a
    * shifted copy is a different recall problem) — then verify that a
    * MAJORITY of frame positions agree within `maxHamming` bits.
    *
    * 100 TB shape: shuffles carry (video_id, frame_idx, hash, band)
    * rows only — never AVI payloads; candidate pair mass is bounded by
    * band-bucket occupancy exactly like the image/simhash paths.
    * [[Dedup.bandedPairs]] returns each frame pair once, however many
    * bands it collides in, so the majority verify is one groupBy over the
    * matched frames.
    */
  def videoPhashDup(media: Dataset[MediaRow], maxHamming: Int = 10)
      : DataFrame = {
    import media.sparkSession.implicits._
    // each frame row carries its clip's frame count in the signature, so
    // the majority verify needs no second pass over the decoded frames:
    // demux + per-frame decode + phash run once, uncached
    val frames = media.filter(_.kind == "video").flatMap { r =>
      val fs = MediaCodec.parseAviFrames(r.bytes)
      val nf = fs.length
      fs.zipWithIndex.map {
        case (fb, idx) => (r.media_id, idx, ImageCodec.phashOfBytes(fb), nf)
      }
    }.toDF("vid", "frame_idx", "ph", "nf")
      .select(col("vid"), col("frame_idx"),
        struct(col("ph"), col("nf")).as("sig"))
    // frame-aligned: frame_idx rides the band keys and the expansion, so an
    // exact-duplicate clip family is one banded row per frame position
    Dedup.bandedPairs(frames, "vid", "sig",
      c => Dedup.hammingBands(c.getField("ph")), 1,
      extraKeys = Seq("frame_idx"))
      .filter(bit_count(col("sig_a.ph").bitwiseXOR(col("sig_b.ph"))) <=
        maxHamming)
      .groupBy(col("id_a"), col("id_b"), col("sig_a.nf").as("nf_a"))
      .agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") * 2 > col("nf_a"))
      .select(col("id_a"), col("id_b"))
  }

  /** Driver-facing query: planted video near-dup pairs recovered from
    * real demuxed bytes; the oracle derives the pair set from the md5
    * formula (same group-pair construction as q_image_phash_dup).
    */
  def videoPhashDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val media = syntheticVideoDupCorpus(spark, 300)
    videoPhashDup(media)
  }

  /** The md5-nibble spec formula, expressed in DuckDB SQL (hv(k) =
    * instr('0123456789abcdef', substr(md5(i), k, 1)) - 1).
    */
  val oracles: Map[String, String] = Map(
    "q_media_stats" ->
      ("WITH m AS (SELECT i, md5(CAST(i AS VARCHAR)) AS x FROM range(400) t(i)), " +
        "spec AS (SELECT i, " +
        "CASE WHEN (instr('0123456789abcdef', substr(x, 1, 1)) - 1) % 4 <= 1 THEN 'image' " +
        "WHEN (instr('0123456789abcdef', substr(x, 1, 1)) - 1) % 4 = 2 THEN 'audio' ELSE 'video' END AS kind, " +
        "16 + ((instr('0123456789abcdef', substr(x, 2, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(x, 3, 1)) - 1)) % 33 AS w, " +
        "16 + ((instr('0123456789abcdef', substr(x, 4, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(x, 5, 1)) - 1)) % 33 AS h " +
        "FROM m) " +
        "SELECT kind, count(*) AS cnt, " +
        "round(avg(CASE WHEN kind = 'image' THEN w ELSE 0 END), 4) AS avg_w, " +
        "round(avg(CASE WHEN kind = 'image' THEN h ELSE 0 END), 4) AS avg_h " +
        "FROM spec GROUP BY kind"),
    "q_audio_stats" ->
      ("WITH m AS (SELECT i, md5(CAST(i AS VARCHAR)) AS x FROM range(400) t(i)), " +
        "hv AS (SELECT i, " +
        "instr('0123456789abcdef', substr(x, 1, 1)) - 1 AS h1, " +
        "instr('0123456789abcdef', substr(x, 7, 1)) - 1 AS h7, " +
        "instr('0123456789abcdef', substr(x, 8, 1)) - 1 AS h8, " +
        "instr('0123456789abcdef', substr(x, 9, 1)) - 1 AS h9 FROM m) " +
        "SELECT i AS media_id, " +
        "CAST(8000 * power(2, h7 % 3) AS INTEGER) AS sample_rate, " +
        "round((2048 + (h8 * 16 + h9) * 31) / " +
        "(8000 * power(2, h7 % 3)), 4) AS dur_sec " +
        "FROM hv WHERE h1 % 4 = 2"),
    "q_video_stats" ->
      ("WITH m AS (SELECT i, md5(CAST(i AS VARCHAR)) AS x FROM range(400) t(i)), " +
        "hv AS (SELECT i, " +
        "instr('0123456789abcdef', substr(x, 1, 1)) - 1 AS h1, " +
        "instr('0123456789abcdef', substr(x, 2, 1)) - 1 AS h2, " +
        "instr('0123456789abcdef', substr(x, 3, 1)) - 1 AS h3, " +
        "instr('0123456789abcdef', substr(x, 4, 1)) - 1 AS h4, " +
        "instr('0123456789abcdef', substr(x, 5, 1)) - 1 AS h5, " +
        "instr('0123456789abcdef', substr(x, 7, 1)) - 1 AS h7 FROM m) " +
        "SELECT i AS media_id, CAST(2 + h7 % 5 AS INTEGER) AS n_frames, " +
        "CAST(16 + (h2 * 16 + h3) % 33 AS INTEGER) AS frame_w, " +
        "CAST(16 + (h4 * 16 + h5) % 33 AS INTEGER) AS frame_h " +
        "FROM hv WHERE h1 % 4 = 3"),
    // planted near-dup pairs from the dup formula: members of a base
    // group = the base plus every dup that resolves to it (dup-marked,
    // base in range and NOT itself dup-marked); pairs = all intra-group
    // pairs (base-dup AND dup-sibling)
    "q_image_phash_dup" ->
      ("WITH m AS (SELECT i, " +
        "instr('0123456789abcdef', substr(md5(CAST(i AS VARCHAR)), 11, 1)) - 1 AS h11, " +
        "instr('0123456789abcdef', substr(md5(CAST(i AS VARCHAR)), 12, 1)) - 1 AS h12 " +
        "FROM range(400) t(i)), " +
        "d AS (SELECT a.i, a.i - 1 - a.h12 % 8 AS rb FROM m a " +
        "JOIN m b ON b.i = a.i - 1 - a.h12 % 8 " +
        "WHERE a.h11 % 4 = 3 AND a.i - 1 - a.h12 % 8 >= 0 " +
        "AND NOT (b.h11 % 4 = 3 AND b.i - 1 - b.h12 % 8 >= 0)), " +
        "members AS (SELECT DISTINCT rb AS grp, rb AS id FROM d " +
        "UNION SELECT rb, i FROM d) " +
        "SELECT a.id AS id_a, b.id AS id_b FROM members a " +
        "JOIN members b ON a.grp = b.grp AND a.id < b.id"),
    // video group pairs from the vdup formula (nibbles 13/14, n=300)
    "q_video_phash_dup" ->
      ("WITH m AS (SELECT i, " +
        "instr('0123456789abcdef', substr(md5(CAST(i AS VARCHAR)), 13, 1)) - 1 AS h13, " +
        "instr('0123456789abcdef', substr(md5(CAST(i AS VARCHAR)), 14, 1)) - 1 AS h14 " +
        "FROM range(300) t(i)), " +
        "d AS (SELECT a.i, a.i - 1 - a.h14 % 8 AS rb FROM m a " +
        "JOIN m b ON b.i = a.i - 1 - a.h14 % 8 " +
        "WHERE a.h13 % 4 = 3 AND a.i - 1 - a.h14 % 8 >= 0 " +
        "AND NOT (b.h13 % 4 = 3 AND b.i - 1 - b.h14 % 8 >= 0)), " +
        "members AS (SELECT DISTINCT rb AS grp, rb AS id FROM d " +
        "UNION SELECT rb, i FROM d) " +
        "SELECT a.id AS id_a, b.id AS id_b FROM members a " +
        "JOIN members b ON a.grp = b.grp AND a.id < b.id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_media_stats" -> (mediaStats _),
    "q_audio_stats" -> (audioStats _),
    "q_video_stats" -> (videoStats _),
    "q_image_phash_dup" -> (imagePhashDupPairs _),
    "q_video_phash_dup" -> (videoPhashDupPairs _))
}
