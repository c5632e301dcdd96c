package graft

import org.apache.spark.sql.functions.max
import graft.llm.Multimodal
import graft.llm.Multimodal.{MediaRow, StubCodec}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def media = Seq(
    MediaRow(1L, "image", Array.tabulate(256)(_.toByte), 16, 16, 0, 1),
    MediaRow(2L, "audio", Array.tabulate(1024)(i => (i * 7).toByte), 0, 0, 16000, 0),
    MediaRow(3L, "video", Array.tabulate(4096)(i => (i * 3).toByte), 64, 64, 0, 16),
    MediaRow(4L, "image", Array.emptyByteArray, 0, 0, 0, 0)
  ).toDS()

  test("feature extraction: fixed dim, deterministic, empty-payload safe") {
    val feats = Multimodal.extractFeatures(media).collect().map(f => f.media_id -> f).toMap
    assert(feats.size == 4)
    assert(feats.values.forall(_.feature.length == StubCodec.FeatureDim))
    assert(feats(1L).n_bytes == 256)
    assert(feats(4L).n_bytes == 0)
    // deterministic across evaluations
    val again = Multimodal.extractFeatures(media).collect().map(f => f.media_id -> f.checksum).toMap
    assert(feats.view.mapValues(_.checksum).toMap == again)
  }

  test("stub codec honors its SQL contract: sha256-prefix values, ASCII corpus") {
    // sha256("abc") = ba7816bf8f01cfea...; checksum = first 15 hex chars
    assert(StubCodec.checksum("abc".getBytes("UTF-8")) ==
      java.lang.Long.parseLong("ba7816bf8f01cfe", 16))
    // feature 0 of a 1-byte payload: stride 1 → window = whole payload;
    // sha256("a") = ca978112ca1bbdca... → 0xca9781 / 2^24
    val f = StubCodec.decodeFeatures("a".getBytes("UTF-8"))
    assert(f.length == StubCodec.FeatureDim)
    assert(f(0) == java.lang.Long.parseLong("ca9781", 16).toFloat / (1 << 24))
    // the oracle equates VARCHAR substr with byte windows — valid iff the
    // documents corpus is pure ASCII
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    assert(docs.filter(octet_length(col("text").cast("binary")) =!= length(col("text"))).count() == 0)
  }

  test("frame sampling: every stride-th fixed-size window") {
    val frames = Multimodal.sampleFrames(media.filter(_.media_id == 3L), frameBytes = 256, stride = 4)
      .collect()
    // 4096 / 256 = 16 frames, stride 4 → frames 0,4,8,12
    assert(frames.map(_.getInt(1)).sorted.toSeq == Seq(0, 4, 8, 12))
    assert(frames.forall(_.getAs[Array[Byte]](2).length == 256))
  }

  test("modality repartitioning spreads rows across partitions") {
    val df = Multimodal.repartitionByModality(media.toDF(), partitions = 4)
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 4)
  }

  test("payload dedup: byte-identical rips collapse to the lowest id") {
    val bytes = Array.tabulate(512)(_.toByte)
    val rows = Seq(
      MediaRow(5L, "image", bytes, 16, 16, 0, 1),
      MediaRow(9L, "image", bytes.clone(), 16, 16, 0, 1), // identical rip
      MediaRow(7L, "image", bytes.map(b => (b ^ 1).toByte), 16, 16, 0, 1)
    ).toDS()
    val got = Multimodal.payloadDedup(rows)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((5L, 2L, 512L), (7L, 1L, 0L)), got.toString)
  }

  test("image codec: PNG round-trip is sample-exact for arbitrary gray images") {
    val codec = new Multimodal.ImageCodec.Codec
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 20) {
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(40)
      val pix = Array.fill(h, w)(rnd.nextInt(256))
      val img = codec.decode(codec.encodeGrayPng(w, h, (x, y) => pix(y)(x)))
        .getOrElse(fail("decode of own encode failed"))
      assert(img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w)
        assert(codec.sample(img, x, y) == pix(y)(x),
          s"sample mismatch at ($x,$y) in ${w}x$h")
    }
  }

  test("image codec: undecodable payloads route as None, never throw") {
    val codec = new Multimodal.ImageCodec.Codec
    assert(codec.decode("definitely not a png".getBytes).isEmpty)
    assert(codec.decode(Array.emptyByteArray).isEmpty)
    // a TRUNCATED png: valid signature, broken body — must not throw
    val whole = codec.encodeGrayPng(8, 8, (x, y) => (x + y) % 256)
    assert(codec.decode(whole.take(whole.length / 2)).isEmpty)
  }

  test("audio codec: WAV round-trip is sample-exact; corrupt payloads route as None") {
    val codec = new Multimodal.AudioCodec.Codec
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 20) {
      val n = 1 + rnd.nextInt(500)
      val rate = 4000 + rnd.nextInt(44100)
      val samples = Array.fill(n)(rnd.nextInt(65536).toShort)
      val (gotRate, got) = codec.decode(codec.encodePcmWav(rate, samples))
        .getOrElse(fail("decode of own encode failed"))
      assert(gotRate == rate)
      assert(got.toSeq == samples.toSeq)
    }
    assert(codec.decode("not audio at all".getBytes).isEmpty)
    assert(codec.decode(Array.emptyByteArray).isEmpty)
    val whole = codec.encodePcmWav(8000, Array.tabulate(64)(_.toShort))
    assert(codec.decode(whole.take(10)).isEmpty)
  }

  test("audio pipeline: decode stats agree with the generation formula") {
    val meta = Multimodal.decodeAudio(Multimodal.syntheticAudio(spark, "/root/testdata/sf0.001"))
      .as[(Long, Option[Int], Option[Long], Option[Long], Option[Int], Option[Int])]
      .collect()
    assert(meta.length > 8)
    meta.foreach { case (id, rate, n, sum, mn, mx) =>
      if (id < 8) assert(rate.isEmpty && n.isEmpty && sum.isEmpty, s"corrupt id $id decoded")
      else {
        val nn = (64 + (id % 5) * 32).toInt
        assert(rate.contains((8000 + (id % 3) * 4000).toInt) && n.contains(nn.toLong))
        val vals = (0 until nn).map(i => ((id * 7 + i.toLong * 13) % 65536) - 32768)
        assert(sum.contains(vals.sum), s"id $id sample_sum")
        assert(mn.contains(vals.min.toInt) && mx.contains(vals.max.toInt))
      }
    }
  }

  test("image pipeline: decode metadata and pooling agree with the generation formula") {
    val imgs = Multimodal.syntheticImages(spark, "/root/testdata/sf0.001")
    val meta = Multimodal.decodeImages(imgs)
      .as[(Long, Option[Int], Option[Int], Option[Long], Option[Int], Option[Int])]
      .collect()
    assert(meta.length > 8)
    meta.foreach { case (id, w, h, sum, mn, mx) =>
      if (id < 8) assert(w.isEmpty && h.isEmpty && sum.isEmpty, s"corrupt id $id decoded")
      else {
        val (ww, hh) = ((8 + (id % 5) * 4).toInt, (8 + (id % 3) * 4).toInt)
        assert(w.contains(ww) && h.contains(hh))
        val expect = (for (y <- 0 until hh; x <- 0 until ww)
          yield (id * 31 + y.toLong * ww + x) % 256).sum
        assert(sum.contains(expect), s"id $id: pixel_sum ${sum.get} != $expect")
        assert(mn.get >= 0 && mx.get <= 255 && mn.get <= mx.get)
      }
    }
    // pooling partitions every decodable image into exactly (w/2)·(h/2)
    // blocks whose sums re-add to the image's pixel sum
    val blocks = Multimodal.poolImages(imgs)
      .groupBy($"media_id")
      .agg(org.apache.spark.sql.functions.count($"block_sum").as("n"),
        org.apache.spark.sql.functions.sum($"block_sum").as("s"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    meta.filter(_._1 >= 8).foreach { case (id, w, h, sum, _, _) =>
      val (n, s) = blocks(id)
      assert(n == (w.get / 2).toLong * (h.get / 2), s"id $id block count")
      assert(s == sum.get, s"id $id: block sums don't re-add to pixel_sum")
    }
  }

  test("video codec: AVI mux/demux round-trip is pixel-exact, incl. padded strides") {
    val codec = new Multimodal.VideoCodec.Codec
    val rnd = new scala.util.Random(11)
    // w=10 exercises the 4-byte row stride padding the container mandates
    for (w <- Seq(8, 10, 16); h <- Seq(6, 9); n <- Seq(1, 5)) {
      val pix = Array.tabulate(n, h, w)((_, _, _) => rnd.nextInt(256))
      val bytes = codec.encodeGrayAvi(w, h, 30, 1, n, (f, x, y) => pix(f)(y)(x))
      val v = codec.decode(bytes).getOrElse(fail(s"decode failed for $w x $h x $n"))
      assert(v.width == w && v.height == h && v.frames.length == n)
      assert(v.rate == 30 && v.scale == 1)
      for (f <- 0 until n; y <- 0 until h; x <- 0 until w)
        assert((v.frames(f)(y * w + x) & 0xFF) == pix(f)(y)(x),
          s"pixel ($f,$x,$y) of $w x $h")
    }
    // corrupt routing: junk, empty, truncation, and a DIFFERENT RIFF
    // type (a real WAV is RIFF too — the demuxer must not claim it)
    assert(codec.decode("definitely not an avi".getBytes).isEmpty)
    assert(codec.decode(Array.emptyByteArray).isEmpty)
    val whole = codec.encodeGrayAvi(8, 8, 24, 1, 3, (f, x, y) => (f + x + y) % 256)
    assert(codec.decode(whole.take(whole.length / 2)).isEmpty, "truncated AVI decoded")
    val wav = new Multimodal.AudioCodec.Codec().encodePcmWav(8000, Array.tabulate(32)(_.toShort))
    assert(codec.decode(wav).isEmpty, "WAV (RIFF but not AVI) must route as corrupt")
    // adversarial chunk sizes: a NEGATIVE size would move the walker
    // backward onto the same header forever (an executor-task hang, not
    // a None), and a near-Int.MaxValue size must not overflow past the
    // bounds check — both must route as corrupt, promptly
    def aviWithChunkSize(size: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(24).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def cc(s: String) = s.getBytes("US-ASCII").zipWithIndex
        .map { case (c, i) => (c & 0xFFL) << (8 * i) }.sum.toInt
      b.putInt(cc("RIFF")).putInt(16).putInt(cc("AVI "))
      b.putInt(cc("JUNK")).putInt(size).putInt(0)
      b.array()
    }
    for (s <- Seq(-8, -7, -1, Int.MinValue, Int.MaxValue - 2))
      assert(codec.decode(aviWithChunkSize(s)).isEmpty, s"chunk size $s must route as corrupt")
  }

  test("video pipeline: demuxed stats and frame sampling agree with the generation formula") {
    val vids = Multimodal.syntheticVideos(spark, "/root/testdata/sf0.001")
    val meta = Multimodal.decodeVideos(vids)
      .as[(Long, Option[Int], Option[Int], Option[Int], Option[Int],
           Option[Long], Option[Int], Option[Int])]
      .collect()
    assert(meta.length > 8)
    meta.foreach { case (id, w, h, nf, fps, sum, mn, mx) =>
      if (id < 8) assert(w.isEmpty && nf.isEmpty && sum.isEmpty, s"corrupt id $id decoded")
      else {
        val (ww, hh) = ((8 + (id % 3) * 4).toInt, (8 + (id % 2) * 4).toInt)
        val n = (4 + (id % 4)).toInt
        assert(w.contains(ww) && h.contains(hh) && nf.contains(n))
        assert(fps.contains((24 + (id % 2) * 6).toInt))
        val vals = for (f <- 0 until n; y <- 0 until hh; x <- 0 until ww)
          yield (id * 31 + f * 97L + y.toLong * ww + x) % 256
        assert(sum.contains(vals.sum), s"id $id pixel_sum")
        assert(mn.contains(vals.min.toInt) && mx.contains(vals.max.toInt))
      }
    }
    // sampling keeps exactly the even frames, each with the formula's sum
    val frames = Multimodal.sampleVideoFrames(vids, stride = 2)
      .as[(Long, Int, Long)].collect().groupBy(_._1)
    meta.filter(_._1 >= 8).foreach { case (id, w, h, nf, _, _, _, _) =>
      val got = frames(id).sortBy(_._2)
      assert(got.map(_._2).toSeq == (0 until nf.get by 2),
        s"id $id sampled frame indices")
      got.foreach { case (_, f, s) =>
        val expect = (for (y <- 0 until h.get; x <- 0 until w.get)
          yield (id * 31 + f * 97L + y.toLong * w.get + x) % 256).sum
        assert(s == expect, s"id $id frame $f sum")
      }
    }
    assert(!frames.contains(3L), "corrupt ids must yield no sampled frames")
  }

  test("scene-cut detection fires exactly at scene boundaries of the demuxed frames") {
    val vids = Multimodal.syntheticSceneVideos(spark, "/root/testdata/sf0.001")
    val cuts = Multimodal.detectSceneCuts(vids, minMeanDelta = 64L)
      .as[(Long, Int, Long)].collect().groupBy(_._1)
    // scenes are 2 frames long: within-scene delta is 0 (below any
    // threshold), boundary delta is 125 or 131 per pixel (mean >= 125) —
    // so the detector must fire at exactly the even frame indices >= 2
    val ids = vids.as[Multimodal.MediaPayload].collect().map(_.media_id).filter(_ >= 8)
    ids.foreach { id =>
      val n = (5 + (id % 4)).toInt
      val expect = (2 until n by 2).toSeq
      val got = cuts.getOrElse(id, Array.empty).map(_._2).sorted.toSeq
      assert(got == expect, s"id $id: cuts $got != scene boundaries $expect")
      val (w, h) = ((8 + (id % 3) * 4).toInt, (8 + (id % 2) * 4).toInt)
      cuts(id).foreach { case (_, f, d) =>
        val exp = (for (y <- 0 until h; x <- 0 until w) yield {
          val base = (v: Long) => (id * 31 + v * 131L + y.toLong * w + x) % 256
          math.abs(base(f / 2) - base((f - 1) / 2))
        }).sum
        assert(d == exp, s"id $id frame $f delta")
      }
    }
    assert(!cuts.contains(2L), "corrupt ids must yield no cuts")
  }

  test("perceptual dHash: planted brightness variants pair up, nothing else does") {
    val dir = "/root/testdata/sf0.001"
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def pixel(src: Long, idx: Long, shift: Int): Int = {
      val d = md.digest(s"$src:$idx:dhash:v1".getBytes("UTF-8"))
      ((d(0) & 0xFF) + shift) % 256
    }
    def expectedHash(src: Long, shift: Int): Long = {
      val (w, h) = ((8 + (src % 5) * 4).toInt, (8 + (src % 3) * 4).toInt)
      Multimodal.dHash(w, h, (x, y) => pixel(src, y.toLong * w + x, shift))
    }
    val hashes = Multimodal.imageDHash(Multimodal.syntheticImagesForDHash(spark, dir))
      .as[(Long, Long)].collect().toMap
    // variants sit above every doc id: source id + max(doc_id) + 1
    val base = Tables.documents(spark, dir).agg(max($"doc_id")).as[Long].head() + 1
    // the decoded-raster hash equals the formula hash for every member —
    // the PNG round-trip adds nothing and loses nothing
    hashes.foreach { case (id, h) =>
      val (src, shift) = if (id >= base) (id - base, 2) else (id, 0)
      assert(h == expectedHash(src, shift), s"id $id hash")
    }
    val got = Multimodal.imageNearDupPairs(
        Multimodal.imageDHash(Multimodal.syntheticImagesForDHash(spark, dir)), 3)
      .as[(Long, Long, Int)].collect()
    // exactly the planted (original, variant) pairs whose true hamming
    // is within the banded guarantee — and no accidental pairs
    val expect = hashes.keys.filter(id => id >= 8 && id < base && id % 5 == 0)
      .flatMap { id =>
        val ham = java.lang.Long.bitCount(expectedHash(id, 0) ^ expectedHash(id, 2))
        if (ham <= 3) Some((id, id + base, ham)) else None
      }.toSet
    assert(expect.nonEmpty, "fixture must plant discoverable pairs")
    assert(got.toSet == expect,
      s"pairs diverge: extra=${got.toSet -- expect} missing=${expect -- got.toSet}")
  }

  test("audio energy windows: silence flags follow the loud/quiet segment alternation") {
    val clips = Multimodal.syntheticSegmentedAudio(spark, "/root/testdata/sf0.001")
    val wins = Multimodal.audioEnergyWindows(clips, windowSamples = 64, minMeanEnergy = 100L)
      .as[(Long, Int, Long, Boolean)].collect().groupBy(_._1)
    assert(wins.nonEmpty && !wins.contains(3L), "corrupt ids must yield no windows")
    wins.foreach { case (id, ws) =>
      val n = (128 + (id % 3) * 64).toInt
      assert(ws.map(_._2).sorted.toSeq == (0 until n / 64), s"id $id window set")
      ws.foreach { case (_, w, e, silent) =>
        val exp = (0 until 64).map { j =>
          val i = w * 64 + j
          val s = if (w % 2 == 0) ((id * 7 + i.toLong * 13) % 65536) - 32768
                  else (id + i) % 7 - 3
          s * s
        }.sum
        assert(e == exp, s"id $id window $w energy")
        assert(silent == (w % 2 == 1), s"id $id window $w silence flag")
      }
    }
  }

  test("dHash variants take media ids above every doc id: unique on a 3x scaled corpus") {
    val x3 = ScaleBench.ensureScaled(spark, "/root/testdata/sf0.001", 3)
    val ids = Multimodal.syntheticImagesForDHash(spark, x3).select($"media_id").as[Long].collect()
    val docs = Tables.documents(spark, x3).count()
    assert(ids.length > docs, "the corpus must plant variants")
    assert(ids.distinct.length == ids.length,
      s"duplicate media ids: ${ids.groupBy(identity).collect { case (i, g) if g.length > 1 => i }.take(5)}")
  }
}
