package graft.ops

import graft.{SparkSpec, TempDirs}
import graft.ops.Multimodal.{MediaRow, MediaFeat}

/** Boundary behavior of the batched media decode (partitions smaller
  * than a decode batch, empty partitions, empty dataset must all
  * decode every present row exactly once) plus the REAL ImageIO
  * round-trip: encoded PNG bytes must decode back to the exact
  * dimensions, band count, and pixel samples they were built from. */
class MultimodalSpec extends SparkSpec {

  private def rows(n: Int): Seq[MediaRow] =
    (0 until n).map(i => MediaRow(i.toLong, "image/png",
      Multimodal.encodePng(i.toLong, s"payload-$i")))

  test("decode covers partitions smaller than DecodeBatchSize and empty partitions") {
    import spark.implicits._
    val n = 5 // << DecodeBatchSize (64)
    // 8 partitions over 5 rows → at least 3 empty partitions and
    // every non-empty one smaller than a batch
    val media = spark.createDataset(rows(n)).repartition(8)
    val out = Multimodal.decodeFeatures(media).collect().sortBy(_.doc_id)
    assert(out.length === n)
    assert(out.map(_.doc_id).toSeq === (0L until n.toLong))
    // features equal the direct single-row decode — batching is shape only
    assert(out.toSeq === rows(n).map(Multimodal.decodeImage))
  }

  test("PNG round-trip: decoded features equal the encode parameters, both raster layouts") {
    // doc_id 7 → odd → 8-bit grayscale (1 band); doc_id 10 → even →
    // RGB (3 bands). Dims and pixels are doc-derived arithmetic.
    val text = "The quick brown fox jumps over the lazy dog"
    Seq(7L, 10L).foreach { id =>
      val feat = Multimodal.decodeImage(
        MediaRow(id, "image/png", Multimodal.encodePng(id, text)))
      assert(feat.width === (id % 64 + 1).toInt)
      assert(feat.height === (id % 48 + 1).toInt)
      assert(feat.channels === (if (id % 2 == 1) 1 else 3))
      val bytes = text.getBytes("US-ASCII")
      val n = math.min(Multimodal.ChecksumPixels, feat.width * feat.height)
      val want = (0 until n).map(i => (bytes(i % bytes.length) & 0xff).toLong).sum
      assert(feat.pix_checksum === want)
    }
  }

  test("undecodable payload quarantines instead of throwing") {
    val bad = Multimodal.decodeImage(
      MediaRow(3L, "image/png", Array[Byte](1, 2, 3, 4, 5)))
    assert(bad === Multimodal.MediaFeat(3L, "image/png", -1, -1, 0, -1L))
  }

  test("empty text encodes an all-zero 1x1-or-larger image that decodes cleanly") {
    val feat = Multimodal.decodeImage(
      MediaRow(49L, "image/png", Multimodal.encodePng(49L, "")))
    assert(feat.width === 50 && feat.height === 2)
    assert(feat.pix_checksum === 0L)
  }

  test("decode of a partition exactly at and one over the batch size") {
    import spark.implicits._
    val n = Multimodal.DecodeBatchSize + 1
    val media = spark.createDataset(rows(n)).coalesce(1)
    val out = Multimodal.decodeFeatures(media).collect()
    assert(out.length === n)
    assert(out.map(_.doc_id).sorted.toSeq === (0L until n.toLong))
  }

  test("decode of an empty dataset yields an empty result") {
    import spark.implicits._
    val media = spark.emptyDataset[MediaRow].repartition(4)
    assert(Multimodal.decodeFeatures(media).count() === 0L)
  }

  test("empty payload emits no chunk or frame rows (sequence(0,-1) guard)") {
    // Spark's sequence(0, -1) DESCENDS to [0, -1]; without the guard
    // an empty doc would emit spurious chunk/frame rows where the
    // DuckDB oracle emits none
    import spark.implicits._
    val dir = TempDirs.create("graft-empty-doc").toString
    Seq(
      (0L, "", "en", "src0", 0L),
      (1L, "some payload bytes here", "en", "src0", 23L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val chunks = Multimodal.queries("mm03_chunk_manifest")(spark, dir)
    assert(chunks.filter(org.apache.spark.sql.functions.col("doc_id") === 0L).count() === 0)
    assert(chunks.filter(org.apache.spark.sql.functions.col("doc_id") === 1L).count() === 1)
    val frames = Multimodal.queries("mm02_frame_sample")(spark, dir)
    assert(frames.filter(org.apache.spark.sql.functions.col("doc_id") === 0L).count() === 0)
    assert(frames.filter(org.apache.spark.sql.functions.col("doc_id") === 1L).count() === 1)
  }

  test("mm02 decodes REAL animated-GIF frames (>1 per long payload), exact pixel round-trip") {
    import org.apache.spark.sql.functions.col
    val text = "the quick brown fox jumps over the lazy dog 0123456789 " * 4 // 224 chars
    val docId = 3L // w=4, h=4 → 2×2 resample
    val gif = Multimodal.encodeGif(docId, text)
    val feats = Multimodal.decodeFrameSamples(MediaRow(docId, "image/gif", gif))
    val nFrames = (text.length + Multimodal.FrameBytes - 1) / Multimodal.FrameBytes
    assert(nFrames >= 5, "fixture too short to need a second sampled frame")
    assert(feats.map(_.frame_idx) == (0 until nFrames by Multimodal.SampleEvery),
      "sampled frame indices drifted")
    assert(feats.length > 1, "payload must yield more than one REAL decoded frame")
    val bytes = text.getBytes("US-ASCII")
    val w = Multimodal.frameW(docId)
    val h = Multimodal.frameH(docId)
    feats.foreach { ft =>
      val off = ft.frame_idx * Multimodal.FrameBytes
      val clen = math.min(Multimodal.FrameBytes, bytes.length - off)
      assert(ft.first_byte == (bytes(off) & 0xff), s"frame ${ft.frame_idx} pixel(0,0)")
      val rw = (w + 1) / 2
      val rh = (h + 1) / 2
      assert(ft.resized_w == rw && ft.resized_h == rh)
      val expect = (for (y <- 0 until rh; x <- 0 until rw)
        yield (bytes(off + (2 * y * w + 2 * x) % clen) & 0xff).toLong).sum
      assert(ft.resized_checksum == expect,
        s"frame ${ft.frame_idx} resample checksum: got ${ft.resized_checksum}, want $expect")
    }
    // catalog entry over the real table: every doc long enough for a
    // second sampled frame (len ≥ FrameBytes·SampleEvery + 1) yields
    // more than one decoded-frame row
    val dirSf = "/root/testdata/sf0.001"
    val perDoc = Multimodal.queries("mm02_frame_sample")(spark, dirSf)
      .groupBy("doc_id").count()
    val long = graft.Tables.documents(spark, dirSf)
      .filter(org.apache.spark.sql.functions.length(col("text"))
        >= Multimodal.FrameBytes * Multimodal.SampleEvery + 1)
      .select("doc_id")
    val nLong = long.count()
    val nMulti = long.join(perDoc, "doc_id").filter(col("count") >= 2).count()
    assert(nLong > 0, "fixture has no multi-sample docs — vacuous")
    assert(nMulti == nLong, s"docs with one sampled frame where two are due: ${nLong - nMulti}")
  }

  test("perceptual hash: real decode, banded pairs share a band, Hamming bound holds (mm05)") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    // identical texts hash identically through the real codec path;
    // a one-byte tweak moves the hash by a small Hamming step only
    val a = Multimodal.perceptualHash(MediaRow(2L, "image/png",
      Multimodal.encodePngDims(2L, "the quick brown fox jumps over the lazy dog",
        Multimodal.ThumbW, Multimodal.ThumbH)))
    val b = Multimodal.perceptualHash(MediaRow(4L, "image/png",
      Multimodal.encodePngDims(4L, "the quick brown fox jumps over the lazy dog",
        Multimodal.ThumbW, Multimodal.ThumbH)))
    assert((a.k0, a.k1, a.k2, a.k3) === ((b.k0, b.k1, b.k2, b.k3)),
      "same payload pixels must produce the same perceptual hash")
    // an undecodable payload signs the quarantine row
    val bad = Multimodal.perceptualHash(MediaRow(9L, "image/png", Array[Byte](1, 2, 3)))
    assert(bad.k0 === -1L && bad.k3 === -1L)
    // the catalog entry: pairs exist at sf0.001, every pair shares at
    // least one band key (the LSH containment) and obeys the bound
    val pairs = Multimodal.queries("mm05_perceptual_dedup")(spark, sf).collect()
    assert(pairs.nonEmpty, "no perceptual near-dup pairs at sf0.001 — vacuous fixture")
    assert(pairs.forall(_.getLong(2) <= Multimodal.HammingMax))
    import spark.implicits._
    val media = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        MediaRow(id, "image/png", Multimodal.encodePngDims(id,
          Option(t).getOrElse(""), Multimodal.ThumbW, Multimodal.ThumbH)) })
    val hs = media.collect().map(Multimodal.perceptualHash)
      .map(p => p.doc_id -> Seq(p.k0, p.k1, p.k2, p.k3)).toMap
    pairs.foreach { r =>
      val (da, db) = (r.getLong(0), r.getLong(1))
      assert(hs(da).zip(hs(db)).exists { case (x, y) => x == y },
        s"pair ($da, $db) shares no band key — candidate generation widened")
    }
  }

  test("decode checksum is bounded: at most ChecksumPixels samples regardless of image size") {
    // doc_id 63 → 64×16 = 1024 pixels, every pixel 'a' (text "a"
    // repeats): the checksum must fold exactly ChecksumPixels of
    // them, not the full raster
    val big = Multimodal.decodeImage(
      MediaRow(63L, "image/png", Multimodal.encodePng(63L, "a")))
    assert(big.width === 64 && big.height === 16)
    assert(big.pix_checksum === Multimodal.ChecksumPixels.toLong * 'a'.toLong)
  }

  test("quarantined payloads never pair — not with real docs, not with each other") {
    // Two corrupt payloads both sign the (-1,-1,-1,-1) sentinel; if
    // the sentinel entered candidate generation they would share
    // every band key and verify at Hamming 0 — an engine-only pair
    // the arithmetic oracle has no path to produce. The pairing
    // dataflow must treat the sentinel as quarantine, not signature.
    import spark.implicits._
    val corrupt = Seq(
      MediaRow(9001L, "image/png", Array[Byte](1, 2, 3)),
      MediaRow(9002L, "image/png", "not a png".getBytes))
    corrupt.foreach { r =>
      val h = Multimodal.perceptualHash(r)
      assert(h.k0 == -1L && h.k3 == -1L, s"corrupt payload signed $h")
    }
    // two real near-identical payloads (the fixture pair guarantee)
    val real = Seq(
      MediaRow(1L, "image/png",
        Multimodal.encodePngDims(1L, "same text", Multimodal.ThumbW, Multimodal.ThumbH)),
      MediaRow(2L, "image/png",
        Multimodal.encodePngDims(2L, "same text", Multimodal.ThumbW, Multimodal.ThumbH)))
    val hashes = (real ++ corrupt).map(Multimodal.perceptualHash).toDF()
    val pairs = Multimodal.perceptualPairs(hashes).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "real near-identical pair lost")
    assert(pairs.forall { case (a, b) => a < 9000L && b < 9000L },
      s"quarantined doc appeared in a pair: $pairs")
  }

  test("mm06 decodes REAL WAV audio: header rate + exact sample round-trip; corrupt quarantines") {
    // happy path: decoded features equal the synthesis arithmetic
    val text = "the quick spark fox"
    val f = Multimodal.decodeAudio(
      Multimodal.MediaRow(6L, "audio/wav", Multimodal.encodeWav(6L, text)))
    val samples = text.getBytes("UTF-8").map(b => (b & 0xff) * 257 - 32768)
    assert(f.sample_rate == Multimodal.audioRate(6L), "header rate not read back")
    assert(f.n_samples == samples.length)
    assert(f.peak == samples.map(s => math.abs(s.toLong)).max)
    assert(f.sum_sq == samples.map(s => s.toLong * s).sum)
    // empty payload: the 0-sample row, not a quarantine
    val e = Multimodal.decodeAudio(Multimodal.MediaRow(7L, "audio/wav",
      Multimodal.encodeWav(7L, "")))
    assert(e.n_samples == 0L && e.peak == null && e.rms == null)
    assert(e.sample_rate == Multimodal.audioRate(7L))
    // corrupt payloads quarantine (-1 metadata), never throw — so a
    // faked parser that ignored the bytes could not pass this suite
    Seq(Array[Byte](1, 2, 3), "RIFFnot a wav".getBytes("UTF-8")).foreach { bad =>
      val c = Multimodal.decodeAudio(Multimodal.MediaRow(9L, "audio/wav", bad))
      assert(c.sample_rate == -1 && c.n_samples == -1L && c.rms == null,
        "corrupt payload decoded")
    }
    // a STRUCTURALLY VALID WAV with an empty data chunk (44-byte
    // header, dataLen 0 — unreachable via encodeWav, reachable via
    // the general decode entry) must yield the 0-sample row, not a
    // NaN-rms NumberFormatException (round-15 ADVICE)
    val hdr = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hdr.put("RIFF".getBytes("US-ASCII")).putInt(36)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(0)
    val z = Multimodal.decodeAudio(
      Multimodal.MediaRow(10L, "audio/wav", hdr.array()))
    assert(z.n_samples == 0L && z.peak == null && z.sum_sq == null && z.rms == null,
      "empty-data-chunk WAV did not produce the 0-sample row")
    assert(z.sample_rate == 8000, "header rate lost on the 0-sample path")
  }

  test("mm07 audio fingerprint: naive recompute agrees; near-dups band-pair; quarantine never pairs") {
    // naive recompute of the spectral contour from the text bytes —
    // the engine must reproduce it through a REAL WAV decode
    def naive(text: String): Seq[Long] = {
      val a = text.getBytes("UTF-8").map(b => math.abs(((b & 0xff) * 257 - 32768).toLong))
      val n = a.length
      val thr = a.sum / n
      val sums = new Array[Long](64); val cnts = new Array[Long](64)
      a.zipWithIndex.foreach { case (v, j) =>
        val w = ((j.toLong * 64L) / n).toInt; sums(w) += v; cnts(w) += 1
      }
      val bands = new Array[Long](Multimodal.PHashBands)
      (0 until 64).foreach { w =>
        if (cnts(w) > 0 && sums(w) / cnts(w) > thr)
          bands(w / Multimodal.BandBits) |= 1L << (w % Multimodal.BandBits)
      }
      bands.toSeq
    }
    val text = "spark streams window the batch of tokens through a filter " * 4
    val f = Multimodal.audioFingerprint(
      Multimodal.MediaRow(1L, "audio/wav", Multimodal.encodeWav(1L, text)))
    assert(Seq(f.k0, f.k1, f.k2, f.k3) == naive(text),
      "decoded fingerprint diverged from the byte arithmetic")
    // a small edit keeps at least one band intact (bucketable) and
    // the signature within the Hamming bound
    val near = text.replaceFirst("filter", "filtre")
    val g = Multimodal.audioFingerprint(
      Multimodal.MediaRow(2L, "audio/wav", Multimodal.encodeWav(2L, near)))
    val ham = Seq(f.k0 ^ g.k0, f.k1 ^ g.k1, f.k2 ^ g.k2, f.k3 ^ g.k3)
      .map(java.lang.Long.bitCount(_).toLong).sum
    assert(ham <= Multimodal.HammingMax, s"near-dup Hamming $ham exceeds bound")
    assert(Seq((f.k0, g.k0), (f.k1, g.k1), (f.k2, g.k2), (f.k3, g.k3))
      .exists { case (x, y) => x == y }, "near-dup shares no band — unbucketable")
    // quarantine: empty and corrupt payloads sign the -1 sentinel
    Seq(Array.emptyByteArray, Array[Byte](1, 2, 3)).foreach { bad =>
      val qr = Multimodal.audioFingerprint(Multimodal.MediaRow(3L, "audio/wav", bad))
      assert(qr.k0 == -1L && qr.k1 == -1L && qr.k2 == -1L && qr.k3 == -1L)
    }
  }
}
