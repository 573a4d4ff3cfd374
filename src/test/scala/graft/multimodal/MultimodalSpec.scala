package graft.multimodal

import graft.SparkTestBase
import graft.fixtures.ImageGen
import org.apache.spark.sql.functions.{col, xxhash64}
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  lazy val images = ImageGen.generate(spark, 60, partitions = 4).toDF().cache()

  test("decodeMeta recovers true dimensions from the binary column") {
    val meta = Multimodal.decodeMeta(spark, images).collect()
    assert(meta.length === 60)
    assert(meta.forall(_.decode_ok))
    val truth = images.select("image_id", "w", "h").as[(String, Int, Int)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    meta.foreach(m => assert(truth(m.image_id) === ((m.w, m.h)), m.image_id))
  }

  test("feature extraction: gradient rasters have sane channel means") {
    val f = Multimodal.extractFeatures(spark, images).collect()
    assert(f.forall(x => x.mean_r > 60 && x.mean_r < 200)) // mid-gradient
    assert(f.forall(_.std_luma > 0))
    assert(f.forall(x => x.aspect > 0.2 && x.aspect < 5.0))
  }

  test("resize produces decodable images at target size") {
    val resized = Multimodal.resizeAll(spark, images.limit(10), 16, 16)
    val metas = Multimodal.decodeMeta(spark,
      resized.withColumn("fmt", org.apache.spark.sql.functions.lit("png"))).collect()
    assert(metas.length === 10)
    assert(metas.forall(m => m.w === 16 && m.h === 16 && m.decode_ok))
  }

  test("MJPEG-AVI: real container round-trip, frame decode, sampling math") {
    import graft.fixtures.VideoGen
    val media = VideoGen.generate(spark, 20, partitions = 4)
    // every frame (everyMs=0 → step 1): counts, timestamps and dims are all
    // closed-form in the clip id
    val all = Multimodal.frameSampleAvi(spark, media, everyMs = 0, maxFrames = 100)
      .collect()
    val byClip = all.groupBy(_.media_id)
    assert(byClip.size === 20)
    (0L until 20L).foreach { i =>
      val fs = byClip(VideoGen.idOf(i)).sortBy(_.frame_idx)
      assert(fs.length === VideoGen.nFrames(i), s"clip $i frame count")
      val ref = graft.fixtures.ImageGen.raster(i)
      fs.foreach { f =>
        assert(f.w === ref.getWidth && f.h === ref.getHeight, s"clip $i dims")
        assert(f.ts_ms === f.frame_idx * 1000L / VideoGen.fps(i), s"clip $i ts")
      }
      // frames are genuinely distinct decodable JPEGs, not repeats
      assert(fs.map(_.frame_bytes.toSeq).distinct.length === fs.length)
      // decoded frame content matches the generator. 35 dB, not the 40 dB
      // payload gate: video fixtures are deliberately BROADBAND (textured
      // rasters — the hardest JPEG case, sitting at ~39-42 dB by design);
      // the 40 dB north-rule gate applies to the payload image table's
      // smooth rasters and is pinned by ImageValidateSpec. 35 dB still
      // proves this is the RIGHT frame faithfully decoded (a wrong frame
      // of the same clip measures far lower).
      val dec = graft.validate.ImageValidate.decode(fs.head.frame_bytes)
      val psnr = graft.validate.ImageValidate.psnr(VideoGen.frameImage(i, 0), dec)
      assert(psnr >= 35.0, s"clip $i frame0 psnr $psnr")
      if (VideoGen.nFrames(i) > 4) {
        val wrong = graft.validate.ImageValidate.psnr(VideoGen.frameImage(i, 4), dec)
        assert(wrong < psnr, s"clip $i frame0 decode closer to frame4 than frame0")
      }
    }
    // sampling: everyMs = 2 frame periods → every 2nd frame
    (0L until 3L).foreach { i =>
      val everyMs = 2000L / VideoGen.fps(i)
      val sampled = Multimodal.frameSampleAvi(spark,
        media.filter(org.apache.spark.sql.functions.col("media_id") === VideoGen.idOf(i)),
        everyMs, maxFrames = 100).collect().map(_.frame_idx).sorted
      assert(sampled === (0 until VideoGen.nFrames(i) by 2).toArray, s"clip $i sampling")
    }
    // maxFrames truncates
    val capped = Multimodal.frameSampleAvi(spark, media, 0, maxFrames = 2).collect()
    assert(capped.groupBy(_.media_id).forall(_._2.length == 2))
    // non-AVI bytes refuse loudly instead of decoding garbage
    val bad = Seq(("x", Array.fill[Byte](64)(7))).toDF("media_id", "bytes")
    assertThrows[org.apache.spark.SparkException](
      Multimodal.frameSampleAvi(spark, bad, 0, 10).collect())
  }

  test("frameSample stub: deterministic schema-correct batches") {
    val media = Seq(("vidA", 10000L), ("vidB", 1500L), ("vidC", 100L))
      .toDF("media_id", "duration_ms")
    val frames = Multimodal.frameSample(spark, media, everyMs = 1000, maxFrames = 5)
      .collect()
    val byId = frames.groupBy(_.media_id).view.mapValues(_.length).toMap
    assert(byId === Map("vidA" -> 5, "vidB" -> 1)) // vidC too short → 0 frames
    val again = Multimodal.frameSample(spark, media, 1000, 5).collect()
    assert(frames.map(f => (f.media_id, f.frame_idx, f.frame_bytes.toSeq)).toSet ===
      again.map(f => (f.media_id, f.frame_idx, f.frame_bytes.toSeq)).toSet)
  }

  test("pHash bucket cap: near-uniform image flood dropped observably, twin survives") {
    // a solid-color thumbnail flood: 40 rows of the SAME bytes share every
    // band bucket; with maxBucket = 20 those buckets are dropped (exact-dup
    // territory) while a png/jpeg re-encode twin of a textured raster lands
    // in small buckets and must still be found
    val img = ImageGen.texturedRaster(3)
    val twin = Seq(("tp", ImageGen.encode(img, "png")), ("tj", ImageGen.encode(img, "jpeg")))
    val floodBytes = ImageGen.encode(ImageGen.raster(99), "png")
    val flood = (0 until 40).map(i => (f"f$i%03d", floodBytes))
    val df = (twin ++ flood).toDF("image_id", "bytes")
    val pairs = Multimodal.phashNearDups(spark, df, maxHamming = 6, maxBucket = 20)
      .as[(String, String, Int)].collect()
    assert(pairs.exists(p => Set(p._1, p._2) == Set("tp", "tj")), "twin lost to the cap")
    assert(!pairs.exists(p => p._1.startsWith("f") && p._2.startsWith("f")),
      "flood pairs should have been capped away")
    val oversize = Multimodal.phashOversizeBuckets(spark, df, maxBucket = 20)
      .as[(Int, Long, Long)].collect()
    assert(oversize.length === 4)
    assert(oversize.forall(_._3 >= 40L))
  }

  test("audio features: real WAV decode matches the analytic signal exactly") {
    val audio = graft.fixtures.AudioGen.generate(spark, 50, partitions = 4)
    val got = Multimodal.audioFeatures(spark, audio).collect()
      .map(a => a.media_id -> a).toMap
    assert(got.size === 50)
    (0L until 50L).foreach { i =>
      val a = got(graft.fixtures.AudioGen.idOf(i))
      assert(a.sample_rate === graft.fixtures.AudioGen.SampleRate)
      assert(a.n_samples ===
        graft.fixtures.AudioGen.SampleRate * graft.fixtures.AudioGen.durationMs(i) / 1000L)
      // integer periods per clip ⇒ decoded RMS = A/√2 up to quantization
      val want = graft.fixtures.AudioGen.amplitude(i) / math.sqrt(2.0)
      assert(math.abs(a.rms - want) < 1e-4, s"clip $i rms ${a.rms} != $want")
      val peakWant = graft.fixtures.AudioGen.amplitude(i)
      assert(math.abs(a.peak - peakWant) < 1e-3, s"clip $i peak ${a.peak}")
      // pure sine crosses zero twice per period
      val zcrWant = 2.0 * graft.fixtures.AudioGen.freqHz(i)
      assert(math.abs(a.zcr_per_sec - zcrWant) / zcrWant < 0.02,
        s"clip $i zcr ${a.zcr_per_sec} != ~$zcrWant")
    }
  }

  test("audio features: stereo and 8-bit WAVs are converted, not silently misread") {
    // a stereo PCM16 WAV (same sine on both channels) and an 8-bit mono WAV
    // of the same signal: before the r5 conversion guard these decoded
    // without error but produced 2x n_samples / wrong rms; now the JDK PCM
    // converter downmixes/widens to the PCM16-mono target first
    val sr = 8000; val n = sr / 2; val a = 0.3; val f = 440.0
    def sample(k: Int): Double = a * math.sin(2.0 * math.Pi * f * k / sr)
    def wav(channels: Int, bits: Int): Array[Byte] = {
      val bytesPer = bits / 8 * channels
      val data = new Array[Byte](44 + n * bytesPer)
      val bb = java.nio.ByteBuffer.wrap(data).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n * bytesPer)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(channels.toShort)
        .putInt(sr).putInt(sr * bytesPer).putShort(bytesPer.toShort).putShort(bits.toShort)
        .put("data".getBytes("US-ASCII")).putInt(n * bytesPer)
      (0 until n).foreach { k =>
        val v = sample(k)
        (0 until channels).foreach { _ =>
          if (bits == 16) bb.putShort(math.round(v * 32767.0).toShort)
          else bb.put((math.round(v * 127.0) + 128).toByte) // 8-bit WAV is unsigned
        }
      }
      data
    }
    val df = Seq(("stereo16", wav(2, 16)), ("mono8", wav(1, 8)))
      .toDF("media_id", "bytes")
    val got = Multimodal.audioFeatures(spark, df).collect()
      .map(x => x.media_id -> x).toMap
    val want = a / math.sqrt(2.0)
    got.values.foreach { x =>
      assert(x.n_samples === n.toLong, s"${x.media_id} n_samples ${x.n_samples}")
      assert(x.sample_rate === sr)
      val tol = if (x.media_id == "mono8") 5e-3 else 1e-4 // 8-bit quantization
      assert(math.abs(x.rms - want) < tol, s"${x.media_id} rms ${x.rms} != $want")
    }
  }

  test("DCT pHash: stable across lossy re-encoding, discriminative across images") {
    // 20 rasters, each as lossless PNG and lossy JPEG — the crawl-dedup
    // case: the same image fetched twice behind different encoders
    val rows = (0 until 20).flatMap { i =>
      val img = ImageGen.texturedRaster(i)
      Seq((s"p$i", ImageGen.encode(img, "png")), (s"j$i", ImageGen.encode(img, "jpeg")))
    }
    val df = rows.toDF("image_id", "bytes")
    val hashes = Multimodal.phashAll(spark, df).collect().map(p => p.image_id -> p.phash).toMap
    // re-encode robustness: every png/jpeg twin within Hamming 6
    (0 until 20).foreach { i =>
      val d = java.lang.Long.bitCount(hashes(s"p$i") ^ hashes(s"j$i"))
      assert(d <= 6, s"raster $i drifted $d bits across re-encoding")
    }
    // discrimination: cross-image pairs are far (deterministic rasters)
    val cross = for (i <- 0 until 20; j <- i + 1 until 20)
      yield java.lang.Long.bitCount(hashes(s"p$i") ^ hashes(s"p$j"))
    assert(cross.count(_ <= 6) <= cross.size / 20,
      s"pHash does not discriminate: ${cross.count(_ <= 6)}/${cross.size} cross pairs ≤ 6")

    // the banded join: every returned pair verifies against brute-force
    // Hamming, and every twin pair within the banding guarantee (≤ 3 bits
    // CAN'T miss a 16-bit band; pigeonhole) is recalled
    val res = Multimodal.phashNearDups(spark, df, maxHamming = 6)
      .as[(String, String, Int)].collect()
      .map { case (a, b, h) => (Set(a, b), h) }.toMap
    res.foreach { case (pair, h) =>
      val Seq(a, b) = pair.toSeq
      assert(java.lang.Long.bitCount(hashes(a) ^ hashes(b)) === h)
    }
    (0 until 20).foreach { i =>
      val d = java.lang.Long.bitCount(hashes(s"p$i") ^ hashes(s"j$i"))
      if (d <= 3) assert(res.contains(Set(s"p$i", s"j$i")),
        s"twin $i (hamming $d) missed by the banded join")
    }
    val recalled = (0 until 20).count(i => res.contains(Set(s"p$i", s"j$i")))
    assert(recalled >= 16, s"only $recalled/20 re-encode twins recalled")
  }

  test("reverse image search: hammingKnn over pHashes returns the re-encoded twin top-1") {
    // query with the lossy JPEG, search the lossless PNG index — the
    // "have we crawled this image before, under any encoder?" lookup
    val n = 20
    val pngs = (0 until n).map(i =>
      (i.toLong, Multimodal.phash64(ImageGen.texturedRaster(i))))
    val jpegs = (0 until n).map { i =>
      val bytes = ImageGen.encode(ImageGen.texturedRaster(i), "jpeg")
      (i, Multimodal.phash64(graft.validate.ImageValidate.decode(bytes)))
    }
    val got = graft.search.SimilaritySearch.hammingKnn(spark,
        pngs.toDF("id", "hash"), jpegs.toDF("qid", "hash"), 3)
      .filter(col("rank") === 1).as[(Int, Int, Long, Int)].collect()
      .map(r => r._1 -> (r._3, r._4)).toMap
    val top1Hits = (0 until n).count(i => got(i)._1 == i.toLong)
    assert(top1Hits >= 16, s"only $top1Hits/$n twins found at rank 1: $got")
    // whenever the twin is strictly closest, rank 1 MUST be the twin
    (0 until n).foreach { i =>
      val twin = java.lang.Long.bitCount(pngs(i)._2 ^ jpegs(i)._2)
      val minCross = (0 until n).filter(_ != i)
        .map(j => java.lang.Long.bitCount(pngs(j)._2 ^ jpegs(i)._2)).min
      if (twin < minCross) assert(got(i) === ((i.toLong, twin)), s"query $i")
    }
  }

  test("image near-dup clusters: hash string ids, run connectedComponents, map back") {
    // the composition a real pipeline runs: pHash pairs → hash the string
    // image ids to longs (the cluster step iterates 16-byte edges) → one
    // cluster per underlying picture regardless of encoder
    val rows = (0 until 12).flatMap { i =>
      val img = ImageGen.texturedRaster(i)
      Seq((s"png$i", ImageGen.encode(img, "png")),
        (s"jpg$i", ImageGen.encode(img, "jpeg")))
    }.toDF("image_id", "bytes")
    val ids = rows.select(col("image_id"), xxhash64(col("image_id")).as("nid"))
    val pairs = Multimodal.phashNearDups(spark, rows)
      .join(ids.select(col("image_id").as("id1"), col("nid").as("n1")), Seq("id1"))
      .join(ids.select(col("image_id").as("id2"), col("nid").as("n2")), Seq("id2"))
      .select(col("n1").as("id1"), col("n2").as("id2"))
    val comp = graft.dedup.Dedup.connectedComponents(pairs)
      .join(ids, col("id") === col("nid"))
      .select(col("image_id"), col("component"))
      .as[(String, Long)].collect().toMap
    (0 until 12).foreach { i =>
      assert(comp.get(s"png$i") === comp.get(s"jpg$i"), s"twin $i split")
      assert(comp.contains(s"png$i"), s"twin $i missing from clusters")
    }
    assert(comp.values.toSet.size === 12, "distinct pictures merged")
  }

  test("crossModalConflicts: drift + spam detected; caption mega-group capped observably") {
    def row(id: String, ph: Long, cap: String) = (id, ph, cap)
    // a: two visually-identical rows, captions differ -> caption_drift
    // b: same caption on two far hashes -> caption_spam
    // c: same caption AND same hash -> neither (a true duplicate row pair
    //    is exact-dedup's job, not a cross-modal conflict)
    val rows = Seq(
      row("a1", 0x0F0F0F0F0F0F0F0FL, "cap one"),
      row("a2", 0x0F0F0F0F0F0F0F0FL, "cap one ALT"),
      row("b1", 0x0000000000000000L, "same caption"),
      row("b2", -1L, "same caption"),
      row("c1", 0x123456789ABCDEF0L, "dup"), row("c2", 0x123456789ABCDEF0L, "dup"))
      .toDF("image_id", "phash", "caption")
    val got = Multimodal.crossModalConflicts(rows)
      .as[(String, String, String)].collect().toSet
    assert(got === Set(("caption_drift", "a1", "a2"), ("caption_spam", "b1", "b2")))

    // megasite boilerplate caption: 5 mutually-far hashes (pairwise
    // Hamming ≥ 26, and ≥ 8 from every other fixture hash) behind one
    // caption. Uncapped they emit all C(5,2)=10 spam pairs; a group of 5
    // > maxBucket=3 is dropped whole (observable cap), smaller groups
    // still audited.
    val farHashes = Seq(0x00000000FFFFFFFFL, 0xFFFFFFFF00000000L,
      0x5555555555555555L, 0xAAAAAAAAAAAAAAAAL, 0x3333333333333333L)
    val mega = farHashes.zipWithIndex.map { case (h, i) =>
      row(s"m$i", h, "product photo")
    }
    val withMega = rows.unionByName(mega.toDF("image_id", "phash", "caption"))
    val uncapped = Multimodal.crossModalConflicts(withMega)
      .as[(String, String, String)].collect().toSet
    assert(uncapped.count(_._1 == "caption_spam") === 11, s"got $uncapped")
    val capped = Multimodal.crossModalConflicts(withMega, maxBucket = 3)
      .as[(String, String, String)].collect().toSet
    assert(capped === Set(("caption_drift", "a1", "a2"), ("caption_spam", "b1", "b2")))
  }

  test("q_cross_modal fixture: spamHamming = 16 splits planted spam from distinct rasters") {
    // q_cross_modal plants caption spam as (id, id + 100) pHash pairs for
    // ids 20-29 and passes spamHamming = 16. Measured: the planted pairs sit
    // at Hamming 20-30, and the closest DISTINCT rasters of the fixture's
    // 200 (ids 0-199, spam images included) at 8.
    def ph(i: Long) = Multimodal.phash64(ImageGen.texturedRaster(i))
    (20L until 30L).foreach { i =>
      val d = java.lang.Long.bitCount(ph(i) ^ ph(i + 100L))
      assert(d > 16, s"planted spam pair $i has Hamming $d <= spamHamming 16")
    }
    val hs = (0L until 200L).map(ph).distinct.toArray
    val closest = (for (x <- hs.indices; y <- x + 1 until hs.length)
      yield java.lang.Long.bitCount(hs(x) ^ hs(y))).min
    assert(closest < 16, s"closest distinct rasters at Hamming $closest >= 16")
  }

  test("quality gate: reason precedence, pass bit, and rejection census") {
    import spark.implicits._
    // one row per branch, plus precedence collisions: an undecodable tiny
    // image reports 'decode' (first rule), a tiny wide image 'too_small'
    val rows = Seq(
      ("ok1",    100, 100, true,  "a fine caption here"),
      ("dec1",   100, 100, false, "a fine caption here"),
      ("dec2",     8, 100, false, "x"),                   // decode shadows all
      ("small1",   8, 100, true,  "a fine caption here"),
      ("small2",   8, 400, true,  "a fine caption here"), // shadows aspect
      ("asp1",   300, 100, true,  "a fine caption here"),
      ("asp2",   100, 300, true,  "a fine caption here"),
      ("short1", 100, 100, true,  "xy"),
      ("long1",  100, 100, true,  Seq.fill(200)("w").mkString(" ")))
      .toDF("image_id", "w", "h", "decode_ok", "caption")
    val got = Multimodal.gateImages(rows, minW = 16, minH = 16,
        minCaptionTokens = 2, maxCaptionTokens = 128)
      .as[(String, String, Int)].collect()
      .map { case (id, r, p) => id -> ((r, p)) }.toMap
    assert(got === Map(
      "ok1" -> (("ok", 1)), "dec1" -> (("decode", 0)), "dec2" -> (("decode", 0)),
      "small1" -> (("too_small", 0)), "small2" -> (("too_small", 0)),
      "asp1" -> (("aspect", 0)), "asp2" -> (("aspect", 0)),
      "short1" -> (("caption_short", 0)), "long1" -> (("caption_long", 0))))
    // no shuffle: the gate is a pure projection
    val plan = Multimodal.gateImages(rows).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
  }
}
