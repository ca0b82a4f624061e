package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.spark
import graft.crawl.ImageCodec

class MultimodalSpec extends AnyFunSuite {
  import spark.implicits._

  private lazy val media = MultimodalOps.syntheticMedia(spark, 200).cache()

  test("image metadata extraction decodes real payloads") {
    val metas = MultimodalOps.imageMeta(media).collect()
    assert(metas.nonEmpty)
    metas.foreach { m =>
      assert(m.w >= 16 && m.w <= 48 && m.h >= 16 && m.h <= 48)
      assert(m.fmt == "png" || m.fmt == "jpeg")
      assert(m.n_bytes > 0)
    }
    // deterministic: same ids -> same phash on re-run
    val again = MultimodalOps.imageMeta(media).collect()
    assert(metas.sortBy(_.media_id).map(_.phash).toSeq ===
      again.sortBy(_.media_id).map(_.phash).toSeq)
  }

  test("resize produces decodable images at the target size, phash-similar") {
    val resized = MultimodalOps.resizeImages(media, 16, 16).collect()
    assert(resized.nonEmpty)
    resized.foreach { r =>
      val (px, w, h) = ImageCodec.decodePixels(r.bytes)
      assert(w === 16 && h === 16)
      assert(px.length === 256)
    }
  }

  test("WAV codec: render/parse round-trip; RMS/ZCR/MFCC are real signal " +
    "features") {
    import graft.crawl.MediaCodec
    val rate = 16000
    val sine440 = Array.tabulate(8192)(j =>
      (0.5 * math.sin(2 * math.Pi * 440 * j / rate) * 32767).toShort)
    val wav = MediaCodec.renderWav(sine440, rate)
    val parsed = MediaCodec.parseWav(wav)
    assert(parsed.sampleRate === rate && parsed.channels === 1)
    assert(parsed.samples.toSeq === sine440.toSeq)
    // RMS of a 0.5-amplitude sine = 0.5/sqrt(2)
    assert(math.abs(MediaCodec.rms(parsed.samples) - 0.3536) < 0.01)
    // ZCR of a 440Hz tone at 16kHz = 2*440/16000 = 0.055
    assert(math.abs(MediaCodec.zeroCrossRate(parsed.samples) - 0.055) < 0.005)
    // MFCCs are deterministic and SPECTRAL: a 440Hz and a 3520Hz tone
    // must produce clearly different coefficient vectors
    val m1 = MediaCodec.mfccMean(parsed)
    assert(m1.toSeq === MediaCodec.mfccMean(parsed).toSeq)
    assert(m1.forall(d => !d.isNaN && !d.isInfinite))
    val sine3520 = Array.tabulate(8192)(j =>
      (0.5 * math.sin(2 * math.Pi * 3520 * j / rate) * 32767).toShort)
    val m2 = MediaCodec.mfccMean(
      MediaCodec.parseWav(MediaCodec.renderWav(sine3520, rate)))
    val dist = math.sqrt(m1.zip(m2).map { case (a, b) =>
      (a - b) * (a - b) }.sum)
    assert(dist > 1.0, s"MFCC not spectral: dist $dist")
    // non-WAV bytes fail loudly
    intercept[IllegalArgumentException] {
      MediaCodec.parseWav(Array.fill(64)(7.toByte))
    }
  }

  test("AVI codec: mjpeg render/demux round-trip, frames decode") {
    import graft.crawl.MediaCodec
    val frames = (0 until 5).map(f =>
      ImageCodec.encode(ImageCodec.pixels(f + 1L, 24, 16), 24, 16, "jpeg"))
    val avi = MediaCodec.renderMjpegAvi(frames, 24, 16)
    val back = MediaCodec.parseAviFrames(avi)
    assert(back.length === 5)
    back.zip(frames).foreach { case (a, b) => assert(a.sameElements(b)) }
    back.foreach { f =>
      val (px, w, h) = ImageCodec.decodePixels(f)
      assert(w === 24 && h === 16 && px.length === 24 * 16)
    }
    // garbage in -> zero frames, no throw
    assert(MediaCodec.parseAviFrames(Array.fill(100)(3.toByte)).isEmpty)
    assert(MediaCodec.parseAviFrames(avi.dropRight(10)).length < 5)
  }

  test("audio features + video frame sampling are REAL over the media table") {
    val audio = MultimodalOps.audioFeatures(media).collect()
    assert(audio.nonEmpty)
    audio.foreach { row =>
      val rate = row.getAs[Int]("sample_rate")
      assert(Seq(8000, 16000, 32000).contains(rate))
      val dur = row.getAs[Double]("duration_sec")
      assert(dur > 0 && dur < 2.0)
      // a pure sine has low ZCR and substantial RMS
      assert(row.getAs[Double]("rms") > 0.2)
      assert(row.getSeq[Double](5).length === 13)
    }
    val frames = MultimodalOps.videoFrameSample(media, k = 3).collect()
    assert(frames.nonEmpty)
    frames.foreach { row =>
      assert(row.getAs[Int]("w") >= 16 && row.getAs[Int]("w") <= 48)
      assert(row.getAs[Int]("h") >= 16 && row.getAs[Int]("h") <= 48)
    }
    // per-video sampled count = min(k, n_frames)
    val byId = frames.groupBy(_.getAs[Long]("media_id"))
      .view.mapValues(_.length).toMap
    byId.foreach { case (id, n) =>
      val (nFrames, _, _) = MultimodalOps.videoSpecOf(id)
      assert(n === math.min(3, nFrames), s"id $id: $n of $nFrames")
    }
  }

  test("image phash near-dup: banded join recovers exactly the planted " +
    "pairs from real bytes; margins hold") {
    val corpus = MultimodalOps.syntheticImageDupCorpus(spark, 400).cache()
    // expected pair set from the dup formula (base groups -> all pairs)
    val groups = (0L until 400L).flatMap(i => MultimodalOps
      .dupBaseOf(i, MultimodalOps.imageDupNibbles).map(b => (b, i)))
      .groupBy(_._1).map { case (b, ds) => b +: ds.map(_._2) }
    val expected = groups.flatMap(g =>
      g.combinations(2).map(p => (p.min, p.max))).toSet
    assert(expected.size >= 20, s"corpus planted only ${expected.size} pairs")
    // the operator over real decoded bytes
    val got = MultimodalOps.imagePhashDup(corpus)
      .as[(Long, Long, Int)].collect()
    assert(got.map(p => (p._1, p._2)).toSet === expected)
    // margin audit: planted pairs sit far inside the threshold (drift
    // from re-encode + brightness is 0-2 bits; banding recall is then
    // structural), and the CLOSEST non-planted pair is far outside it
    got.foreach { case (a, b, hd) =>
      assert(hd <= 3, s"planted pair ($a,$b) drifted to $hd bits")
    }
    val hashes = corpus.collect()
      .map(r => r.media_id -> ImageCodec.phashOfBytes(r.bytes)).toMap
    val minNonPair = (for {
      a <- 0L until 400L; b <- (a + 1) until 400L
      if !expected.contains((a, b))
    } yield java.lang.Long.bitCount(hashes(a) ^ hashes(b))).min
    assert(minNonPair > 15,
      s"non-dup images too close: min Hamming $minNonPair")
    // scale plan shape: the only exchanges carry (id, hash, band) — the
    // image byte payloads must never reach one. Exchanges are inserted
    // by EnsureRequirements, so read executedPlan; AQE off for the plan
    // build or the adaptive wrapper hides the children from collect
    import org.apache.spark.sql.execution.exchange.Exchange
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val exchanges = MultimodalOps.imagePhashDup(corpus)
        .queryExecution.executedPlan.collect { case e: Exchange => e }
      assert(exchanges.nonEmpty, "expected banded-join exchanges")
      exchanges.foreach { e =>
        assert(!e.output.exists(_.dataType ==
          org.apache.spark.sql.types.BinaryType),
          s"byte payload in a shuffle: ${e.output.map(_.name)}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    corpus.unpersist()
  }

  test("video phash near-dup: majority-of-frames rule recovers exactly " +
    "the planted pairs from real demuxed bytes") {
    val corpus = MultimodalOps.syntheticVideoDupCorpus(spark, 300).cache()
    val groups = (0L until 300L).flatMap(i => MultimodalOps
      .dupBaseOf(i, MultimodalOps.videoDupNibbles).map(b => (b, i)))
      .groupBy(_._1).map { case (b, ds) => b +: ds.map(_._2) }
    val expected = groups.flatMap(g =>
      g.combinations(2).map(p => (p.min, p.max))).toSet
    assert(expected.size >= 15, s"corpus planted only ${expected.size} pairs")
    val got = MultimodalOps.videoPhashDup(corpus)
      .as[(Long, Long)].collect().toSet
    assert(got === expected)
    // dup pairs must agree on EVERY frame position, not just a majority
    // (both sides render the same seed/frame count; only brightness and
    // jpeg quantization differ) — verifies frame alignment end-to-end
    val frameHashes = corpus.collect().map { r =>
      r.media_id -> graft.crawl.MediaCodec.parseAviFrames(r.bytes)
        .map(graft.crawl.ImageCodec.phashOfBytes).toArray
    }.toMap
    expected.foreach { case (a, b) =>
      val (fa, fb) = (frameHashes(a), frameHashes(b))
      assert(fa.length === fb.length, s"frame count mismatch ($a,$b)")
      fa.indices.foreach { i =>
        val hd = java.lang.Long.bitCount(fa(i) ^ fb(i))
        assert(hd <= 3, s"pair ($a,$b) frame $i drifted to $hd bits")
      }
    }
    corpus.unpersist()
  }

  test("exporter widens map fields and merges schemas across batches") {
    val seg = Seq(
      (1L, Map("title" -> "a", "price" -> "9")),
      (2L, Map("title" -> "b", "author" -> "x")))
      .toDF("id", "fields")
    val wide = graft.crawl.Exporter.widen(seg, "id", "fields")
    assert(wide.columns.toSeq === Seq("id", "author", "price", "title"))
    val rows = wide.orderBy("id").collect()
    assert(rows(0).getString(3) === "a" && rows(0).getString(2) === "9")
    assert(rows(1).getAs[String]("author") === "x")
    assert(rows(1).isNullAt(2)) // price absent -> null (auto-ALTER analog)
  }
}
