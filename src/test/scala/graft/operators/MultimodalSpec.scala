package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class MultimodalSpec extends SparkSpec {

  test("manifest exposes binary payload + typed metadata struct") {
    val m = Multimodal.manifest(spark, sf())
    val schema = m.schema
    assert(schema("media").dataType == BinaryType)
    val meta = schema("meta").dataType.asInstanceOf[StructType]
    assert(meta.fieldNames.toSeq == Seq("format", "width", "height", "n_bytes"))
    assert(m.filter(col("meta.format").isin("png", "jpeg", "wav", "mp4")).count() == m.count())
  }

  test("BMP fixture round-trips exactly through the JDK codec for every padding width") {
    // doc_ids 0..3 → widths 13..16 → BMP row padding 1, 2, 3, 0 bytes.
    for (docId <- 0L to 3L) {
      val w = Multimodal.imgW(docId)
      val bytes = Multimodal.encodeBmp(docId, w, Multimodal.ImgH)
      assert(bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte, "not a BMP header")
      val (n, sr, sg, sb) = Multimodal.decodePixelSums(bytes)
      assert(n == w.toLong * Multimodal.ImgH)
      var er = 0L; var eg = 0L; var eb = 0L
      for (i <- 0L until n * 3) {
        val v = Multimodal.pixelByte(docId, i)
        (i % 3) match {
          case 0 => er += v
          case 1 => eg += v
          case _ => eb += v
        }
      }
      assert((sr, sg, sb) == ((er, eg, eb)),
        s"decoded channel sums diverge from closed form at width $w")
    }
  }

  test("WAV fixture round-trips exactly through the JDK audio codec, mono and stereo") {
    for (docId <- 0L to 3L) { // alternating mono/stereo, varied frame counts
      val bytes = Multimodal.encodeWav(docId)
      assert(new String(bytes, 0, 4, "US-ASCII") == "RIFF", "not a RIFF header")
      assert(new String(bytes, 8, 4, "US-ASCII") == "WAVE", "not a WAVE file")
      val (ch, n, sum, sq, peak) = Multimodal.decodeAudioStats(bytes)
      assert(ch == Multimodal.audioChannels(docId))
      assert(n == Multimodal.audioFrames(docId).toLong * ch)
      var es = 0L; var eq = 0L; var ep = 0L
      for (i <- 0L until n) {
        val v = Multimodal.sampleByte(docId, i).toLong
        es += v; eq += v * v; if (v > ep) ep = v
      }
      assert((sum, sq, peak) == ((es, eq, ep)),
        s"decoded amplitude stats diverge from closed form for doc $docId")
    }
  }

  test("stub decode kernel is deterministic and L1-normalized") {
    val payload = "hello multimodal world".getBytes("UTF-8")
    val a = Multimodal.stubDecodeFeatures(payload)
    val b = Multimodal.stubDecodeFeatures(payload)
    assert(a.toSeq == b.toSeq)
    assert(math.abs(a.sum - 1.0f) < 1e-5)
    assert(a.length == Multimodal.FeatureDims)
  }

  test("decodeFeatures preserves rows, emits fixed-width vectors, repeatable") {
    val m = Multimodal.manifest(spark, sf())
    val f1 = Multimodal.decodeFeatures(m)
    assert(f1.count() == m.count())
    assert(f1.schema("features").dataType == ArrayType(FloatType, containsNull = false))
    val sizes = f1.select(size(col("features"))).distinct().collect().map(_.getInt(0)).toSeq
    assert(sizes == Seq(Multimodal.FeatureDims))
    val r1 = f1.orderBy("doc_id").collect().map(_.toSeq)
    val r2 = Multimodal.decodeFeatures(m).orderBy("doc_id").collect().map(_.toSeq)
    assert(r1.sameElements(r2))
  }

  test("decode runs per-partition (batch shape), not per-row on the driver") {
    val m = Multimodal.manifest(spark, sf()).repartition(4)
    val parts = Multimodal.decodeFeatures(m).rdd.getNumPartitions
    assert(parts == 4, "mapPartitions must preserve partitioning")
  }

  test("frame sampling drops trailing partial chunks except for short payloads") {
    import spark.implicits._
    val df = Seq(
      (1L, "a" * 600), // 2 full frames, 88 dropped
      (2L, "b" * 100) // single short frame
    ).toDF("doc_id", "text")
      .select(col("doc_id"), lit("src").as("source"), col("text").cast("binary").as("media"),
        struct(lit("mp4").as("format"), lit(1).as("width"), lit(1).as("height"),
          length(col("text")).cast("long").as("n_bytes")).as("meta"))
    val frames = Multimodal.sampleFrames(df)
      .groupBy("doc_id").agg(count(lit(1)).as("n"), sum(length(col("frame"))).as("bytes"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(frames == Set((1L, 2L, 512L), (2L, 1L, 100L)))
  }

  test("resizeMeta clips dimensions, keeps payload untouched") {
    val m = Multimodal.manifest(spark, sf())
    val r = Multimodal.resizeMeta(m, 100, 100)
    assert(r.filter(col("meta.width") > 100 || col("meta.height") > 100).count() == 0)
    assert(r.agg(sum(length(col("media")))).head().getLong(0) ==
      m.agg(sum(length(col("media")))).head().getLong(0))
  }

  test("dhash matches a closed-form recompute; near-dup query equals quadratic brute force") {
    // The decoded dHash must equal the hash computed straight from the
    // closed-form pixel bytes — proving the codec round-trip AND the block
    // arithmetic jointly.
    def closedDhash(id: Long): (Long, Long) = {
      val w = Multimodal.imgW(id); val h = Multimodal.ImgH
      val s = Array.ofDim[Long](8, 9); val n = Array.ofDim[Long](8, 9)
      for (y <- 0 until h; x <- 0 until w) {
        val base = (y.toLong * w + x) * 3
        val g = (0 until 3).map(c => Multimodal.pixelByte(id, base + c)).sum
        s(y * 8 / h)(x * 9 / w) += g; n(y * 8 / h)(x * 9 / w) += 1
      }
      var hi = 0L; var lo = 0L
      for (r <- 0 until 8; k <- 0 until 8)
        if (s(r)(k) * n(r)(k + 1) > s(r)(k + 1) * n(r)(k)) {
          val j = r * 8 + k
          if (r < 4) hi |= 1L << j else lo |= 1L << (j - 32)
        }
      (hi, lo)
    }
    (0L until 8L).foreach { id =>
      val decoded = Multimodal.dhash(Multimodal.encodeBmp(id, Multimodal.imgW(id), Multimodal.ImgH))
      assert(decoded == closedDhash(id), s"doc $id: decoded dhash diverges from closed form")
    }
    // The banded candidate join must find EXACTLY the quadratic <=3 set.
    val ids = Relational.t(spark, sf(), "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val hs = ids.map(id => id -> closedDhash(id)).toMap
    val brute = (for {
      a <- ids; b <- ids if a < b
      d = java.lang.Long.bitCount(hs(a)._1 ^ hs(b)._1) +
        java.lang.Long.bitCount(hs(a)._2 ^ hs(b)._2)
      if d <= 3
    } yield (a, b, d.toLong)).toSet
    val got = Multimodal.queries("mm_phash_neardup")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute, s"banding lost or invented pairs: extra ${got -- brute}, missing ${brute -- got}")
  }

  test("every near-dup pair's ids carry a row of the decode+dHash frame") {
    val hashFrame = Multimodal.phashFrame(spark, sf())
    val ids = hashFrame.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.nonEmpty, "the decode+dHash stage produced no hashes")
    val pairs = Multimodal.queries("mm_phash_neardup")(spark, sf()).select("doc_a", "doc_b").collect()
    assert(pairs.forall(r => ids(r.getLong(0)) && ids(r.getLong(1))),
      "a near-dup pair references an id absent from the hash stage")
  }

  test("silence-run kernel matches a closed-form recompute, including a run ending at EOF") {
    // Drive the REAL decode path for several fixture geometries (mono and
    // stereo, all four frame-count residues) and compare against a direct
    // scan of the closed-form samples; the kernel's end-of-stream flush is
    // exercised by whichever clips end inside the quiet band.
    for (id <- 0L until 8L) {
      val n = Multimodal.audioFrames(id) * Multimodal.audioChannels(id)
      val vs = (0L until n.toLong).map(i => Multimodal.sampleByte(id, i))
      var run = 0L; var nRuns = 0L; var longest = 0L; var quiet = 0L
      vs.foreach { v =>
        if (v >= Multimodal.SilenceLo && v <= Multimodal.SilenceHi) {
          run += 1; quiet += 1; longest = math.max(longest, run)
        } else { if (run >= Multimodal.MinSilenceRun) nRuns += 1; run = 0 }
      }
      if (run >= Multimodal.MinSilenceRun) nRuns += 1
      val got = Multimodal.silenceRuns(Multimodal.encodeWav(id))
      assert(got == ((nRuns, longest, quiet)), s"doc $id: $got != ${(nRuns, longest, quiet)}")
    }
  }
}
