package graft

import graft.ml.{Dedup, Similarity, TextAnalysis, Multimodal}
import org.apache.spark.sql.{functions => F}

class MlSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup drops duplicate texts, keeps first") {
    val docs = Seq((1L, "hello world"), (2L, "unique text"), (3L, "hello world"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(docs, "text", idCol = "doc_id").collect()
    assert(out.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("minhash LSH finds near-duplicate pair, not unrelated") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    val near = base.replace("tonight", "today")
    val far = "completely different content about spark query engines and columnar formats"
    val docs = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val cand = Dedup.minhashCandidates(docs, "text", "doc_id").collect()
    val pairs = cand.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("minhash band self-join is sort-merge, never a broadcast, even when tiny") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "alpha beta gamma delta zeta"))
      .toDF("doc_id", "text")
    val banded = Dedup.bandedSignatures(docs, "text", "doc_id", numHashes = 8, bands = 4)
    val cand = Dedup.minhashCandidatesFromBands(banded, "doc_id")
    cand.collect()
    val plan = cand.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("BroadcastHashJoin"), plan)
  }

  test("within-doc paragraph dedup keeps first occurrences, zero shuffle") {
    val docs = Seq((1L, "a\n\nb\n\na\n\nc\n\nb"), (2L, "x"), (3L, "y\n\ny"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(docs, "text")
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(out.toSeq == Seq("a\n\nb\n\nc", "x", "y"))
    // per-document cleanup must not shuffle: no Exchange in the plan
    val plan = Dedup.dedupParagraphs(docs, "text").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("corpus line dedup keeps only the first occurrence of each line") {
    val docs = Seq((1L, "a\nb"), (2L, "b\nc"), (3L, "a\nd")).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, "text", "doc_id")
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getString(1))
    assert(out.toSeq == Seq(1L -> "a\nb", 2L -> "c", 3L -> "d"))
  }

  test("connected components cluster candidate pairs; cluster-dedup keeps canonical") {
    // components: {1,2,3,4} (chain + extra edge), {10,11}, isolated 99
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 2L), (10L, 11L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(edges, "id_a", "id_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // long chain exercises the pointer-jumping path (diameter >> iterations
    // a naive propagation-only loop at maxIter=8 could cover)
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ccChain = Dedup.connectedComponents(chain, "id_a", "id_b", maxIter = 8).collect()
    assert(ccChain.forall(_.getLong(1) == 0L))
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (10L, "e"), (11L, "f"), (99L, "g"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupByClusters(docs, "doc_id", edges).collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 10L, 99L))
  }

  test("PII redaction and URL host extraction") {
    val d = Seq(
      (1L, "mail bob.smith+x@corp.example.co.uk or call +1 (202) 555-0176 soon"),
      (2L, "server at 192.168.1.17 responded"),
      (3L, "clean text, no pii here"),
      (4L, "see https://sub.Example.org:8080/a?b=1 and http://plain.net/x"))
      .toDF("id", "t")
    val out = d.select(F.col("id"), TextAnalysis.redactPii(F.col("t")).as("r"),
        TextAnalysis.piiCounts(F.col("t")).as("c"),
        TextAnalysis.extractUrls(F.col("t")).as("u"))
      .orderBy("id").collect()
    assert(out(0).getString(1) == "mail [EMAIL] or call [PHONE] soon")
    assert(out(0).getStruct(2).getInt(0) == 1) // one email
    assert(out(1).getString(1) == "server at [IP] responded")
    assert(out(1).getStruct(2).getInt(1) == 1) // one ip
    assert(out(2).getString(1) == "clean text, no pii here")
    assert(out(3).getSeq[String](3) ==
      Seq("https://sub.Example.org:8080/a?b=1", "http://plain.net/x"))
    val hosts = d.select(TextAnalysis.urlHost(
        F.try_element_at(TextAnalysis.extractUrls(F.col("t")), F.lit(1))).as("h"))
      .orderBy("id").collect().map(r => Option(r.getString(0)).orNull)
    assert(hosts.toSeq == Seq(null, null, null, "sub.example.org"))
  }

  /** Real PNG bytes for a w×h gray image with pixel(x,y) = f(x,y). */
  private def grayPng(w: Int, h: Int)(f: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, f(x, y) & 0xff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("resizeImages: real decode + nearest-neighbor, garbage -> null") {
    // 4x2 source halved to 2x1: nearest-neighbor keeps (0,0) and (2,0)
    val src = grayPng(4, 2)((x, y) => 10 * x + 100 * y)
    val d = Seq((1L, src), (2L, Array[Byte](1, 2, 3)), (3L, Array.empty[Byte]))
      .toDF("media_id", "payload")
    val out = Multimodal.resizeImages(d, "payload", width = 2, height = 1)
      .orderBy("media_id").collect()
    assert(out(0).getAs[Array[Byte]]("resized").toSeq == Seq[Byte](0, 20))
    assert(out(0).getAs[Int]("resized_width") == 2 && out(0).getAs[Int]("resized_height") == 1)
    assert(out(1).isNullAt(out(1).fieldIndex("resized"))) // undecodable -> null
    assert(out(2).isNullAt(out(2).fieldIndex("resized"))) // empty -> null
  }

  test("decodeImages round-trips gray PNG samples exactly (no sRGB drift)") {
    // values straddling the gray->sRGB gamma hazard: exactness proves the
    // raster path is used, not getRGB
    val px = Seq(0, 1, 127, 128, 254, 255)
    val d = Seq((1L, grayPng(3, 2)((x, y) => px(y * 3 + x)))).toDF("media_id", "payload")
    val r = Multimodal.decodeImages(d, "payload").select("decoded.*").collect()(0)
    assert(r.getInt(0) == 3 && r.getInt(1) == 2 && r.getInt(2) == 1)
    assert(r.getLong(3) == px.sum)
    assert(r.getDouble(4) == px.sum.toDouble / 6)
    assert(r.getLong(5) == px.zipWithIndex.map { case (v, i) => v.toLong * (i + 1) }.sum)
  }

  test("encodeGrayPng -> decodeImages is the identity on pixel sums") {
    val withPx = Seq((7L, 3, 4)).toDF("media_id", "w", "h")
      .withColumn("px", F.transform(
        F.sequence(F.lit(0), F.col("w") * F.col("h") - 1),
        i => (F.col("media_id") * 31 + (i % F.col("w")) * 7 +
          F.floor(i / F.col("w")) * 13) % 256))
    val enc = Multimodal.encodeGrayPng(withPx, "px", "w", "h")
    val r = Multimodal.decodeImages(enc, "payload").select("decoded.*").collect()(0)
    val want = (0 until 12).map(i => (7 * 31 + (i % 3) * 7 + (i / 3) * 13) % 256)
    assert(r.getInt(0) == 3 && r.getInt(1) == 4)
    assert(r.getLong(3) == want.sum.toLong)
  }

  test("decodeImageFeatures: luma histogram sums to 1, garbage -> null") {
    // half black, half white -> mass splits across first and last bins
    val d = Seq((1L, grayPng(4, 2)((x, _) => if (x < 2) 0 else 255)),
      (2L, Array[Byte](9, 9, 9))).toDF("media_id", "payload")
    val out = Multimodal.decodeImageFeatures(d, "payload", dim = 8)
      .orderBy("media_id").collect()
    val feats = out(0).getSeq[Float](out(0).fieldIndex("features"))
    assert(feats.length == 8)
    assert(math.abs(feats.sum - 1.0f) < 1e-6)
    assert(feats.head == 0.5f && feats.last == 0.5f)
    assert(out(1).isNullAt(out(1).fieldIndex("features")))
  }

  test("jaccard of identical is 1") {
    val d = Seq(("abcdefgh", "abcdefgh")).toDF("a", "b")
    val j = d.select(Dedup.jaccard(d, F.col("a"), F.col("b")).as("j")).collect()(0).getDouble(0)
    assert(j == 1.0)
  }

  test("simhash: near texts have small hamming distance, far texts large") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val near = base.replace("today", "tonight")
    val far = "spark catalyst optimizer rewrites logical plans into physical operators"
    val d = Seq((base, near, far)).toDF("a", "b", "c")
    val row = d.select(
      Dedup.hammingDistance(Dedup.simhash(F.col("a")), Dedup.simhash(F.col("b"))).as("near"),
      Dedup.hammingDistance(Dedup.simhash(F.col("a")), Dedup.simhash(F.col("c"))).as("far"))
      .collect()(0)
    assert(row.getInt(0) < row.getInt(1))
    assert(row.getInt(0) <= 12)
  }

  test("IVF top-k recall against brute force on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(F.col("vec_id") < 3)
      .collect().map(r => r.getSeq[Float](r.fieldIndex("embedding")))
    val assigned = Similarity.ivfAssign(emb, "embedding", nCells = 8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val recalls = queries.map { q =>
      val exact = Similarity.bruteForceTopK(emb, "embedding", "vec_id", q, k = 10)
        .collect().map(_.getLong(0)).toSet
      val approx = Similarity.ivfTopK(assigned, "embedding", "vec_id", q,
        nProbe = 4, k = 10, nCells = 8)
        .collect().map(_.getLong(0)).toSet
      exact.intersect(approx).size.toDouble / exact.size
    }
    assigned.unpersist()
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.5, s"mean recall@10 = $mean (probing half the cells)")
    // probing ALL cells must be exhaustive: recall 1.0
    val q0 = queries.head
    val full = Similarity.ivfTopK(assigned, "embedding", "vec_id", q0,
      nProbe = 8, k = 10, nCells = 8).collect().map(_.getLong(0)).toSet
    val exact0 = Similarity.bruteForceTopK(emb, "embedding", "vec_id", q0, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(full == exact0)
  }

  test("cosine similarity and brute-force top-k") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, "embedding", "vec_id", Seq(1.0f, 0.0f), k = 2)
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(math.abs(out(0).getDouble(1) - 1.0) < 1e-6)
  }

  test("token counts and quality signals") {
    val d = Seq(("the cat sat on the mat", ""), ("!!!???", "x")).toDF("t", "u")
    val row = d.select(
      TextAnalysis.tokenCount(F.col("t")).as("n"),
      TextAnalysis.stopwordRatio(F.col("t")).as("sw"),
      TextAnalysis.punctRatio(F.col("t")).as("p")).collect()
    assert(row(0).getInt(0) == 6)
    assert(math.abs(row(0).getDouble(1) - 2.0 / 6) < 1e-9)
    assert(row(1).getDouble(2) == 1.0)
    val empty = d.select(TextAnalysis.tokenCount(F.col("u")).as("n")).collect()
    assert(empty(0).getInt(0) == 0)
  }

  test("language id picks english for english text") {
    val d = Seq("the cat is in the house and it is you that I like").toDF("t")
    assert(d.select(TextAnalysis.languageId(F.col("t"))).collect()(0).getString(0) == "en")
  }

  test("multimodal: frame sampling explodes payload chunks") {
    val d = Seq((1L, Array.fill[Byte](4096)(7))).toDF("media_id", "payload")
    val frames = Multimodal.sampleFrames(d, "payload", everyNth = 2, frameBytes = 1024).collect()
    assert(frames.length == 2) // frames 0 and 2 of 4
  }

  test("image meta sniffs format and parses PNG IHDR dimensions") {
    // minimal PNG prefix: signature(8) + IHDR len/type(8) + w=256,h=128 (BE u32) + bitdepth + colorType=6 (rgba)
    val png = Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A,
      0, 0, 0, 0x0D, 'I', 'H', 'D', 'R',
      0, 0, 1, 0, // width 256
      0, 0, 0, 0x80.toByte, // height 128
      8, 6) // bit depth, color type rgba
    // minimal JPEG: SOI + APP0 (len 4, empty) + SOF0 (len 11): h=64 w=48, 3 components
    val jpg = Array[Byte](0xFF.toByte, 0xD8.toByte,
      0xFF.toByte, 0xE0.toByte, 0, 4, 0, 0, // APP0, length 4
      0xFF.toByte, 0xC0.toByte, 0, 11, 8,   // SOF0, length 11, precision 8
      0, 0x40, // height 64
      0, 0x30, // width 48
      3)       // components
    val d = Seq((1L, png), (2L, jpg)).toDF("media_id", "payload")
    val out = Multimodal.withImageMeta(d, "payload")
      .select(F.col("media_id"), F.col("meta.format"), F.col("meta.width"),
        F.col("meta.height"), F.col("meta.channels"))
      .orderBy("media_id").collect()
    assert(out(0).getString(1) == "png")
    assert(out(0).getInt(2) == 256 && out(0).getInt(3) == 128 && out(0).getInt(4) == 4)
    assert(out(1).getString(1) == "jpeg")
    assert(out(1).getInt(2) == 48 && out(1).getInt(3) == 64 && out(1).getInt(4) == 3)
  }

  test("audio meta parses WAV header fields") {
    // canonical 44-byte PCM WAV header: 2ch, 44100 Hz, 16-bit, 1s of data
    val bb = java.nio.ByteBuffer.allocate(48).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes); bb.putInt(40); bb.put("WAVE".getBytes)
    bb.put("fmt ".getBytes); bb.putInt(16); bb.putShort(1); bb.putShort(2)
    bb.putInt(44100); bb.putInt(44100 * 4); bb.putShort(4); bb.putShort(16)
    bb.put("data".getBytes); bb.putInt(44100 * 4)
    val wav = bb.array()
    val notWav = "hello".getBytes
    val d = Seq((1L, wav), (2L, notWav)).toDF("media_id", "payload")
    val out = Multimodal.withAudioMeta(d, "payload")
      .select(F.col("media_id"), F.col("audio_meta.format"), F.col("audio_meta.channels"),
        F.col("audio_meta.sample_rate"), F.col("audio_meta.bits_per_sample"),
        F.col("audio_meta.duration_s"))
      .orderBy("media_id").collect()
    assert(out(0).getString(1) == "wav")
    assert(out(0).getInt(2) == 2 && out(0).getInt(3) == 44100 && out(0).getInt(4) == 16)
    assert(math.abs(out(0).getDouble(5) - 1.0) < 1e-9)
    assert(out(1).getString(1) == "unknown" && out(1).isNullAt(2))
  }

  test("audio meta: non-canonical WAV layouts degrade to nulls, not garbage") {
    // extended fmt chunk (size 18) shifts every later offset — fixed-offset
    // parsing must refuse it rather than return wrong values
    val bb = java.nio.ByteBuffer.allocate(50).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes); bb.putInt(42); bb.put("WAVE".getBytes)
    bb.put("fmt ".getBytes); bb.putInt(18); bb.putShort(3); bb.putShort(2)
    bb.putInt(48000); bb.putInt(48000 * 8); bb.putShort(8); bb.putShort(32)
    bb.putShort(0) // cbSize
    bb.put("data".getBytes); bb.putInt(0)
    val extFmt = bb.array()
    // fact chunk between fmt and data (canonical fmt, shifted data chunk)
    val b2 = java.nio.ByteBuffer.allocate(60).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b2.put("RIFF".getBytes); b2.putInt(52); b2.put("WAVE".getBytes)
    b2.put("fmt ".getBytes); b2.putInt(16); b2.putShort(1); b2.putShort(1)
    b2.putInt(8000); b2.putInt(16000); b2.putShort(2); b2.putShort(16)
    b2.put("fact".getBytes); b2.putInt(4); b2.putInt(100)
    b2.put("data".getBytes); b2.putInt(200)
    val factChunk = b2.array()
    val d = Seq((1L, extFmt), (2L, factChunk)).toDF("media_id", "payload")
    val out = Multimodal.withAudioMeta(d, "payload")
      .select(F.col("media_id"), F.col("audio_meta.format"), F.col("audio_meta.channels"),
        F.col("audio_meta.sample_rate"))
      .orderBy("media_id").collect()
    assert(out(0).getString(1) == "unknown" && out(0).isNullAt(2) && out(0).isNullAt(3))
    assert(out(1).getString(1) == "unknown" && out(1).isNullAt(2) && out(1).isNullAt(3))
  }
}
